"""The three workloads: closed loops over loopback HTTP against an in-process
``AdapterServer`` (``remote_write``, ``remote_read``), and whole passes over
the ``tsdb_*`` analytical queries (``tsdb_analytics``).

Each workload is a class with ``setup(seconds)`` (untimed, counted in
``setup_s``; it also encodes every input of a run that lasts ``seconds``),
``phase(tag, seconds, tracer)`` (one closed-loop measurement; it returns the
request records), ``instrument(tracer)`` / ``uninstrument(tracer)`` (the
traced window) and ``check(records)`` (the output checks, run after timing).
``run.py`` drives them.
"""

from __future__ import annotations

import http.client
import itertools
import math
import os
import re
import threading
import time
from dataclasses import dataclass, field

import gen
from readmodel import ReadModel, response_series


@dataclass
class Record:
    """One timed request (or one analytics query)."""

    kind: str  # write | hinted | raw | query
    label: str  # what was sent: body index, panel, raw size, query name
    rid: str
    t0: float
    t1: float
    ok: bool  # 2xx, or the query returned
    bytes_in: int = 0
    bytes_out: int = 0
    payload: object = None  # response body / collected rows, for the checks
    failed_check: bool = False
    extra: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


def closed_loop(steps, seconds: float) -> tuple[list[Record], float]:
    """Run one thread per step function until ``seconds`` have passed; each
    thread sends its next request only after the previous reply.  Returns
    the records and the wall time from start to the last reply."""
    records: list[Record] = []
    lock = threading.Lock()
    start = threading.Barrier(len(steps) + 1)
    errors: list[BaseException] = []
    box = {}

    def loop(step):
        try:
            start.wait()
            deadline = box["t0"] + seconds
            j = 0
            while time.perf_counter() < deadline:
                rec = step(j)
                if rec is None:  # out of inputs
                    break
                with lock:
                    records.append(rec)
                j += 1
        except BaseException as e:  # surfaced in the caller
            errors.append(e)

    threads = [threading.Thread(target=loop, args=(s,), daemon=True) for s in steps]
    for t in threads:
        t.start()
    box["t0"] = time.perf_counter()
    start.wait()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    end = max((r.t1 for r in records), default=box["t0"])
    return records, end - box["t0"]


def run_clients(n: int, fn) -> None:
    """Run ``fn(client)`` on ``n`` threads at once; re-raise the first
    error."""
    errors: list[BaseException] = []

    def body(c):
        try:
            fn(c)
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=body, args=(c,)) for c in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


class Client:
    """One keep-alive connection, posting like a Prometheus shard."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def post(self, path: str, body: bytes, rid: str) -> tuple[int, bytes]:
        self.conn.request(
            "POST",
            path,
            body,
            {
                "Content-Type": "application/x-protobuf",
                "Content-Encoding": "snappy",
                "X-Prometheus-Remote-Write-Version": "0.1.0",
                "X-Request-Id": rid,
            },
        )
        r = self.conn.getresponse()
        return r.status, r.read()

    def close(self) -> None:
        self.conn.close()


def parquet_files(path: str) -> list[str]:
    out = []
    for d, _, files in os.walk(path):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return out


#: Spark names every file of one write job ``part-<task>-<job uuid>...``
_JOB_UUID = re.compile(r"part-\d+-([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})")


def write_jobs(path: str) -> dict[str, tuple[float, int]]:
    """Job uuid -> (first file mtime, file count) of every parquet write job
    under ``path``."""
    jobs: dict[str, tuple[float, int]] = {}
    for f in parquet_files(path):
        m = _JOB_UUID.search(os.path.basename(f))
        if m is None:
            raise RuntimeError(f"parquet file without a job uuid: {f}")
        t, n = jobs.get(m.group(1), (math.inf, 0))
        jobs[m.group(1)] = (min(t, os.path.getmtime(f)), n + 1)
    return jobs


# -- the serving stack ----------------------------------------------------------


class ServingWorkload:
    """``AdapterServer`` wired like ``server/__main__.py:build_server`` on a
    fresh ``SamplesStore`` under the run directory."""

    def __init__(self, spark, run_dir: str, seed: int, sizes: dict):
        self.spark = spark
        self.seed = seed
        self.sizes = sizes
        self.store_path = os.path.join(run_dir, "samples")
        self.server = None
        self.clients: list[Client] = []

    def start_server(self):
        from remote_tsdb_clickhouse_spark.server.__main__ import build_server, parse_args

        args = parse_args(["--http", "127.0.0.1:0", "--store", self.store_path, "--create-if-missing"])
        self.server = build_server(args, spark=self.spark)
        self.server.start()
        self.clients = [Client(self.server.port) for _ in range(self.sizes["clients"])]

    def instrument(self, tracer) -> None:
        """Spans around every layer call of the serving path, and a traced
        handler subclass that joins server spans to the client's request
        id and tags the request's Spark jobs with it."""
        from remote_tsdb_clickhouse_spark import codec
        from remote_tsdb_clickhouse_spark.server import http as http_mod
        from remote_tsdb_clickhouse_spark.server import service
        from remote_tsdb_clickhouse_spark.sources import writer as writer_mod
        from remote_tsdb_clickhouse_spark.sources.samples_store import SamplesStore

        tracer.install_py4j_counter()
        tracer.wrap(codec, "decode_write_request", "codec.decode_write")
        tracer.wrap(codec, "decode_read_request", "codec.decode_read")
        tracer.wrap(codec, "encode_read_response", "codec.encode_read")
        tracer.wrap(writer_mod, "write_request_rows", "writer.flatten")
        tracer.wrap(writer_mod.TimeseriesWriter, "write", "writer.write")
        # the span holds the store's own append lock wait, as the call does
        tracer.wrap(SamplesStore, "append", "samples_store.append")
        tracer.wrap(http_mod, "handle_read_request", "service.handle_read")
        tracer.wrap(service, "read_query_df", "read_plan.build")
        tracer.wrap(service, "row_to_timeseries", "service.assembly")
        # AdapterApp.handle_* time, so HTTP overhead = root - handle
        tracer.wrap(http_mod.AdapterApp, "handle_write", "app.handle_write")
        tracer.wrap(http_mod.AdapterApp, "handle_read", "app.handle_read")

        base = self.server.httpd.RequestHandlerClass
        sc = self.spark.sparkContext

        class TracedHandler(base):
            def _traced_dispatch(self):
                rid = self.headers.get("X-Request-Id")
                with tracer.muted():
                    sc.setJobGroup(rid, rid)
                with tracer.span("server.handler", rid=rid):
                    base._dispatch(self)

            do_POST = _traced_dispatch

        tracer.patch(self.server.httpd, "RequestHandlerClass", TracedHandler)
        self.write_jobs_before = write_jobs(self.store_path)
        self.reconnect()

    def uninstrument(self, tracer) -> None:
        """Undo :meth:`instrument`, and give every append of the traced
        window its file count."""
        tracer.uninstall()
        self.reconnect()
        # appends run one at a time under the store's lock, so the order of
        # their spans' ends is the order in which their jobs wrote files
        new = sorted(v for k, v in write_jobs(self.store_path).items() if k not in self.write_jobs_before)
        appends = sorted(
            (s for s in tracer.spans if s.name == "samples_store.append"), key=lambda s: s.end
        )
        if len(new) != len(appends):
            raise RuntimeError(f"{len(appends)} traced appends wrote {len(new)} parquet jobs")
        for s, (_, files) in zip(appends, new):
            tracer.note(s.rid, files_per_write=files)

    def reconnect(self) -> None:
        """A kept-alive connection keeps its handler instance: reconnect, so
        that every request after a handler swap is served by the new class."""
        for c in self.clients:
            c.close()
        self.clients = [Client(self.server.port) for _ in self.clients]

    def post(self, client: int, path: str, body: bytes, rid: str, tracer) -> tuple[int, bytes, float, float]:
        c = self.clients[client]
        if tracer is None:
            t0 = time.perf_counter()
            status, data = c.post(path, body, rid)
            return status, data, t0, time.perf_counter()
        with tracer.span("client.request", rid=rid):
            t0 = time.perf_counter()
            status, data = c.post(path, body, rid)
            t1 = time.perf_counter()
        tracer.record_spark(self.spark.sparkContext, rid)
        return status, data, t0, t1

    def close(self) -> None:
        for c in self.clients:
            c.close()
        if self.server is not None:
            self.server.stop()


class RemoteWrite(ServingWorkload):
    """2 senders, each POSTing 10k-sample WriteRequests in a closed loop.
    Request ``k`` carries time slot ``k``, so timestamps advance with every
    request and no sample is ever sent twice."""

    def setup(self, seconds: float):
        t = time.perf_counter()
        self.start_server()
        self.bodies: list[gen.WriteBatch] = []
        self.acked: list[int] = []
        self.next_body = itertools.count()
        senders = self.sizes["clients"]
        warmup = self.sizes["warmup"]
        self.generate(1 + warmup)
        self.setup_phases = {"generate_s": time.perf_counter() - t}
        t = time.perf_counter()
        # one cold write alone, then the senders together.  Timed writes
        # keep getting a little faster as the JIT settles (the report's
        # half_p50_ms); longer warmups cost more setup than they steadied
        self.send(0, "warm-0", None)
        t_warm = time.perf_counter()
        run_clients(senders, lambda s: [self.send(s, f"warm-{s}-{j}", None) for j in range(warmup // senders)])
        rate = senders * (warmup // senders) / (time.perf_counter() - t_warm)
        self.setup_phases["warmup_s"] = time.perf_counter() - t
        # the timed writes' bodies, encoded now: enough for every write of
        # the run to go 1.5x as fast as the warm ones did
        t = time.perf_counter()
        self.generate(len(self.bodies) + math.ceil(1.5 * rate * seconds) + senders)
        self.setup_phases["generate_s"] += time.perf_counter() - t

    def generate(self, n: int) -> None:
        per = self.sizes["samples_per_series"]
        while len(self.bodies) < n:
            self.bodies.append(gen.write_batch(self.seed, len(self.bodies), per, keep_rows=False))
            self.acked.append(0)

    def send(self, sender: int, rid: str, tracer) -> Record | None:
        """POST the next unsent body; None once every body has been sent."""
        k = next(self.next_body)
        if k >= len(self.bodies):
            return None
        b = self.bodies[k]
        status, data, t0, t1 = self.post(sender, "/write", b.body, rid, tracer)
        if status == 200:
            self.acked[k] += 1
        elif rid.startswith("warm"):
            raise RuntimeError(f"warmup write failed: {status}")
        return Record("write", str(k), rid, t0, t1, status == 200, len(b.body), len(data), extra={"samples": b.samples})

    def phase(self, tag: str, seconds: float, tracer) -> tuple[list[Record], float]:
        def sender(s):
            return lambda j: self.send(s, f"{tag}-w{s}-{j}", tracer)

        return closed_loop([sender(s) for s in range(self.sizes["clients"])], seconds)

    def check(self, records: list[Record]) -> dict:
        """Every acknowledged sample is readable: per request slot, the
        store holds exactly (samples x acks) rows with the matching sum."""
        from pyspark.sql import functions as F

        slot_s = self.sizes["samples_per_series"] * gen.STEP_MS // 1000
        df = self.spark.read.parquet(self.store_path)
        got = {
            r["k"]: (r["n"], r["s"])
            for r in df.groupBy(
                ((F.col("ts").cast("long") - gen.BASE_MS // 1000) / slot_s).cast("long").alias("k")
            )
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .collect()
        }
        bad = []
        for k, acks in enumerate(self.acked):
            want = (self.bodies[k].samples * acks, self.bodies[k].value_sum * acks)
            have = got.get(k, (0, 0.0))
            if acks and (have[0] != want[0] or have[1] != want[1]):
                bad.append(k)
        bad_set = {str(k) for k in bad}
        for r in records:
            r.failed_check = r.ok and r.label in bad_set
        acked_samples = sum(self.bodies[k].samples * a for k, a in enumerate(self.acked))
        files = parquet_files(self.store_path)
        return {
            "acked_samples": acked_samples,
            "rows_read_back": sum(n for n, _ in got.values()),
            "bad_slots": bad,
            "bodies_unsent": max(len(self.bodies) - next(self.next_body), 0),
            "store_bytes": sum(os.path.getsize(f) for f in files),
            "files_total": len(files),
        }


class RemoteRead(ServingWorkload):
    """Preload through ``/write``, then 2 clients alternating a repeating
    dashboard panel (hinted) and a distinct raw query."""

    def setup(self, seconds: float):
        t = time.perf_counter()
        self.start_server()
        n = self.sizes["preload_samples_per_series"]
        self.span_ms = self.sizes["preload_writes"] * n * gen.STEP_MS
        self.model = ReadModel(gen.ALL_SERIES)
        self.acked_samples = 0
        for k in range(self.sizes["preload_writes"]):
            b = gen.write_batch(self.seed, k, n, keep_rows=True)
            status, _, _, _ = self.post(0, "/write", b.body, f"preload-{k}", None)
            if status != 200:
                raise RuntimeError(f"preload write failed: {status}")
            for si, ts_ms, v in b.rows:
                self.model.add(si, ts_ms, v)
            self.acked_samples += b.samples
        self.setup_phases = {"preload_s": time.perf_counter() - t}
        t = time.perf_counter()
        self.panels = gen.hinted_panels(self.seed, self.span_ms)
        self.panel_bodies = [p.body() for p in self.panels]
        # warm: every panel once (a dashboard that has rendered before), and
        # a few raw queries outside the timed sequence
        warm = list(zip(self.panels, self.panel_bodies))
        for i in range(self.sizes["warmup_raw"]):
            q = gen.raw_query(self.seed, -1 - i, self.span_ms)
            warm.append((q, q.body()))
        clients = self.sizes["clients"]

        def warm_client(c):
            for i in range(c, len(warm), clients):
                status, _, _, _ = self.post(c, "/read", warm[i][1], f"warm-{i}", None)
                if status != 200:
                    raise RuntimeError(f"warmup read failed: {status}")

        run_clients(clients, warm_client)
        self.setup_phases["warmup_s"] = time.perf_counter() - t
        self.files_total = len(parquet_files(self.store_path))
        self.store_bytes = sum(os.path.getsize(f) for f in parquet_files(self.store_path))
        # every raw query of the run, encoded before timing: enough for a
        # run in which every read took 20 ms
        t = time.perf_counter()
        self.raws = [gen.raw_query(self.seed, n, self.span_ms) for n in range(int(seconds / 0.02) + 1)]
        self.raw_bodies = [q.body() for q in self.raws]
        self.next_raw = itertools.count()
        self.setup_phases["generate_s"] = time.perf_counter() - t

    def phase(self, tag: str, seconds: float, tracer) -> tuple[list[Record], float]:
        clients = self.sizes["clients"]
        per = len(self.panels) // clients

        def reader(c):
            def step(j):
                if j % 2 == 0:
                    p = c * per + (j // 2) % per
                    spec, body = self.panels[p], self.panel_bodies[p]
                else:
                    n = next(self.next_raw)
                    if n >= len(self.raws):
                        return None
                    spec, body = self.raws[n], self.raw_bodies[n]
                rid = f"{tag}-r{c}-{j}"
                status, data, t0, t1 = self.post(c, "/read", body, rid, tracer)
                return Record(
                    spec.kind, spec.label, rid, t0, t1, status == 200, len(body), len(data),
                    payload=(spec, data),
                )

            return step

        return closed_loop([reader(c) for c in range(clients)], seconds)

    def check(self, records: list[Record]) -> dict:
        """Decode every response and compare it with the read.go model."""
        from remote_tsdb_clickhouse_spark import codec, prompb

        expected: dict = {}
        series = samples = 0
        for r in records:
            spec, data = r.payload
            r.payload = None
            if not r.ok:
                continue
            key = spec.label if spec.kind == "hinted" else spec.query
            want = expected.get(key)
            if want is None:
                want = expected[key] = self.model.answer(spec.query)
            got = response_series(prompb.decode_read_response(codec.snappy_decompress(data)))
            r.extra["series"] = len(got)
            r.extra["samples"] = sum(len(s) for _, s in got)
            series += r.extra["series"]
            samples += r.extra["samples"]
            r.failed_check = got != want
        return {
            "acked_samples": self.acked_samples,
            "store_bytes": self.store_bytes,
            "files_total": self.files_total,
            "series_out": series,
            "samples_out": samples,
        }


# -- analytics ------------------------------------------------------------------


#: tsdb queries served from a rollup / compacted / retention-swept store
STORE_SERVED = (
    "tsdb_rollup_serve",
    "tsdb_rollup_hierarchy",
    "tsdb_retention_serve",
    "tsdb_compact_serve",
)


class TsdbAnalytics:
    """1 client running the ``tsdb_*`` queries of ``__spark_entry__.queries()``
    in registry order, collecting each, in whole passes."""

    def __init__(self, spark, run_dir: str, seed: int, sizes: dict):
        self.spark = spark
        self.seed = seed
        self.sizes = sizes
        self.sf_dir = os.path.join(run_dir, "sf")

    def setup(self, seconds: float):
        import __spark_entry__ as entry

        t = time.perf_counter()
        os.makedirs(self.sf_dir)
        gen.write_events(self.seed, self.sizes["events"], os.path.join(self.sf_dir, "events.parquet"))
        self.entry = entry
        self.kept: set[str] = set()  # queries whose rows a record holds
        # every query_stride-th tsdb_* query in registry order, leaving out
        # the ones served from a store that a maintenance job builds first
        # (rollups, compaction, retention): that build would dominate setup
        tsdb = [n for n in entry.queries() if n.startswith("tsdb_") and n not in STORE_SERVED]
        self.names = tsdb[:: self.sizes["query_stride"]]
        self.fns = entry.queries()
        self.setup_phases = {"generate_s": time.perf_counter() - t}
        t = time.perf_counter()
        # untimed passes: the shared samples frame, the memos and the JIT
        # (later passes still get faster, as the report's half_p50_ms shows)
        n, clients = len(self.names), self.sizes["clients"]

        def warm(c):
            for j in range(self.sizes["warm_passes"] * n):
                name = self.names[(j + c * n // clients) % n]
                self.fns[name](self.spark, self.sf_dir).collect()

        run_clients(clients, warm)
        self.setup_phases["warm_pass_s"] = time.perf_counter() - t

    def instrument(self, tracer) -> None:
        tracer.install_py4j_counter()

    def uninstrument(self, tracer) -> None:
        tracer.uninstall()

    def phase(self, tag: str, seconds: float, tracer) -> tuple[list[Record], float]:
        """Each client runs the queries in registry order, pass after pass,
        until time is up (stopping between queries, so how much work a run
        holds does not jump by a whole pass); client ``c`` starts its first
        pass ``c / clients`` of the way into the list."""
        sc = self.spark.sparkContext
        n = len(self.names)
        clients = self.sizes["clients"]

        def client(c):
            def step(j):
                p, q = divmod(j, n)
                name = self.names[(q + c * n // clients) % n]
                rec = self._query(name, f"{tag}-c{c}-p{p}-{name}", tracer, sc)
                rec.extra["pass"] = (tag, c, p)
                return rec

            return step

        return closed_loop([client(c) for c in range(clients)], seconds)

    def _query(self, name: str, rid: str, tracer, sc) -> Record:
        fn = self.fns[name]
        if tracer is None:
            t0 = time.perf_counter()
            rows = fn(self.spark, self.sf_dir).collect()
            return Record("query", name, rid, t0, time.perf_counter(), True, payload=self.keep(name, rows))
        with tracer.muted():
            sc.setJobGroup(rid, rid)
        with tracer.span("entry.query", rid=rid):
            t0 = time.perf_counter()
            with tracer.span("entry.build"):
                df = fn(self.spark, self.sf_dir)
            with tracer.span("entry.collect"):
                rows = df.collect()
            t1 = time.perf_counter()
        tracer.record_spark(sc, rid)
        return Record("query", name, rid, t0, t1, True, payload=self.keep(name, rows))

    def keep(self, name: str, rows) -> object:
        """What a result leaves for the check: the rows of the first result
        of each query, and a fingerprint of every later one.  Keeping every
        result would make the driver's memory grow with the number of
        queries a run completes."""
        if name in self.kept:
            return _fingerprint(rows)
        self.kept.add(name)  # two clients may both keep one; both are checked
        return rows

    def check(self, records: list[Record]) -> dict:
        """The first result of each query against its DuckDB
        ``oracle_sql()``, with the row-multiset comparison of
        ``tests/test_oracle_parity.py``; every later result must have the
        same fingerprint as that one."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.sf_dir}/events.parquet'")
        oracle = self.entry.oracle_sql()
        checked: dict[str, tuple[bool, tuple[int, int]]] = {}
        for r in records:
            if isinstance(r.payload, list):
                odf = con.sql(oracle[r.label]).df()
                cols = sorted(odf.columns)
                rows = r.payload
                got_cols = sorted(rows[0].asDict()) if rows else cols
                r.failed_check = got_cols != cols or _rows_multiset(rows, cols) != _df_multiset(odf)
                r.payload = _fingerprint(rows)
                checked[r.label] = (not r.failed_check, r.payload)
        con.close()
        rows_out = 0
        for r in records:
            ok, fp = checked[r.label]
            r.failed_check = r.failed_check or not ok or r.payload != fp
            rows_out += r.payload[0]
            r.payload = None
        return {"rows_out": rows_out, "events": self.sizes["events"]}

    def close(self) -> None:
        pass


def _fingerprint(rows) -> tuple[int, int]:
    """Order-free digest of a collected result: its row count and the sum
    of its rows' hashes."""
    total = 0
    for r in rows:
        cells = tuple(None if v != v else v for v in r)  # NaN hashes by identity
        try:
            total += hash(cells)
        except TypeError:  # a list or dict cell
            total += hash(repr(cells))
    return len(rows), total & 0xFFFFFFFFFFFFFFFF


def _norm_cell(v):
    """``tests/test_oracle_parity.py``'s cell normalisation: raw-bit float
    repr, NaN and NULL alike, -0.0 as 0.0."""
    if v is None:
        return "null"
    if isinstance(v, float):
        if math.isnan(v):
            return "null"
        return repr(v + 0.0 if v == 0.0 else v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm_cell(v.item())
    return str(v)


def _df_multiset(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(tuple(_norm_cell(r[c]) for c in cols) for _, r in df[cols].iterrows())


def _rows_multiset(rows, cols) -> list[tuple]:
    return sorted(tuple(_norm_cell(r[c]) for c in cols) for r in rows)
