"""CLI daemon entrypoint (reference ``main.go:82-95``): flag surface,
``:port`` normalization, fail-fast store check, the access log, and
end-to-end writes and reads over the server it builds.

The server starts no JVM, so most tests here build it in-process with a
SparkSession stand-in that fails on any use.  The subprocess tests run the
real CLI: one checks it serves with no child process, and one SIGKILLs it
inside a ``/write`` commit, restarts it on the same store and checks what
the store kept."""

from __future__ import annotations

import logging
import os
import re
import signal
import subprocess
import sys
import threading
import urllib.error
import urllib.request

import pytest

from remote_tsdb_clickhouse_spark import codec, prompb
from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
from remote_tsdb_clickhouse_spark.plans.read_plan import ReadQuery
from remote_tsdb_clickhouse_spark.server.__main__ import build_server, parse_args
from remote_tsdb_clickhouse_spark.server.http import access_log

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: 2024-01-01 and 2024-01-02, 00:00 UTC, in ms
DAY1_MS = 1704067200000
DAY2_MS = DAY1_MS + 86_400_000


class NoSpark:
    """A SparkSession stand-in that fails the test on any use."""

    def __getattr__(self, name):
        raise AssertionError(f"the server used spark.{name}")


def _post(url: str, body: bytes) -> bytes:
    req = urllib.request.Request(url, data=body, method="POST")
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.status == 200
        return r.read()


def _read_up(url: str, end_ms: int = DAY1_MS + 3_600_000) -> list[prompb.TimeSeries]:
    """``/read`` of every ``up`` series from day 1 to ``end_ms``."""
    rr = prompb.ReadRequest(queries=[ReadQuery(
        start_ms=DAY1_MS,
        end_ms=end_ms,
        matchers=(LabelMatcher(MatcherType.EQ, "__name__", "up"),),
    )])
    body = _post(f"{url}/read", codec.encode_read_request(rr))
    return prompb.decode_read_response(codec.snappy_decompress(body)).results[0].timeseries


def _up(job: str, *day_ms: int, n: int = 1, value: float = 1.0) -> bytes:
    """A WriteRequest body: ``up{job=<job>}`` with ``n`` samples a second
    apart from the start of each given day."""
    wr = prompb.WriteRequest(timeseries=[prompb.TimeSeries(
        labels=[prompb.Label("__name__", "up"), prompb.Label("job", job)],
        samples=[prompb.Sample(value + i, d + 1000 * i) for d in day_ms for i in range(n)],
    )])
    return codec.encode_write_request(wr)


def test_port_normalization():
    assert parse_args(["--store", "/tmp/x", "--http", "9131"]).http == ":9131"
    assert parse_args(["--store", "/tmp/x", "--http", "0.0.0.0:9131"]).http == "0.0.0.0:9131"


def test_exactly_one_storage_leg():
    with pytest.raises(SystemExit):
        parse_args(["--store", "/tmp/x", "--db", "127.0.0.1:8123"])
    with pytest.raises(SystemExit):
        parse_args([])


def test_db_flag_surface_defaults():
    args = parse_args(["--db", "127.0.0.1:8123"])
    assert args.db_database == "default"  # main.go:86 default
    assert args.db_username == "default"  # main.go:87 default
    assert args.db_password == ""
    assert args.table == "metrics.samples"  # main.go:89 default


def test_flag_surface_defaults():
    args = parse_args(["--store", "/tmp/x"])
    assert args.read_ignore_label == "remote=clickhouse"  # main.go:88 default
    assert args.read_ignore_hints is False


def test_fail_fast_on_missing_store(tmp_path):
    args = parse_args(["--store", str(tmp_path / "nope"), "--http", "127.0.0.1:0"])
    with pytest.raises(SystemExit, match="does not exist"):
        build_server(args)


@pytest.mark.parametrize("store", ["s3a://bucket/samples", "hdfs://namenode:8020/samples"])
def test_non_local_store_refused(store):
    """``/write`` publishes by a local atomic rename, so a remote store is
    a startup error that points at the streaming ingest."""
    args = parse_args(["--store", store, "--http", "127.0.0.1:0", "--create-if-missing"])
    with pytest.raises(SystemExit, match="streaming ingest"):
        build_server(args)


def test_file_uri_store_commits_locally(tmp_path):
    root = tmp_path / "samples"
    args = parse_args(["--store", root.as_uri(), "--http", "127.0.0.1:0", "--create-if-missing"])
    srv = build_server(args, spark=NoSpark()).start()
    try:
        _post(f"http://127.0.0.1:{srv.port}/write", _up("cli", DAY1_MS))
    finally:
        srv.stop()
    [f] = root.rglob("*.parquet")
    assert f.parent.name == "ts_date=2024-01-01" and f.name.startswith("part-00000-")


def test_cli_server_write_read_roundtrip(tmp_path):
    args = parse_args(
        [
            "--store",
            str(tmp_path / "samples"),
            "--http",
            "127.0.0.1:0",  # ephemeral port
            "--create-if-missing",
            "--read.ignore-hints",
        ]
    )
    # the store serves /write, /read and /metrics without its SparkSession
    srv = build_server(args, spark=NoSpark()).start()
    try:
        url = f"http://127.0.0.1:{srv.port}"
        _post(f"{url}/write", _up("cli", DAY1_MS))
        series = _read_up(url)
        assert len(series) == 1
        assert ("job", "cli") in [(lb.name, lb.value) for lb in series[0].labels]
        assert series[0].samples[0].value == 1.0
        with urllib.request.urlopen(f"{url}/metrics") as r:
            assert r.status == 200
            assert b"\nsamples_written_total 1\n" in r.read()
    finally:
        srv.stop()


@pytest.mark.parametrize("debug", [False, True])
def test_debug_logs_one_access_line_per_request(tmp_path, caplog, debug):
    """``--debug`` turns on the access log: one DEBUG line per request on
    the ``access_log`` logger, the stdlib handler's line; without it,
    nothing is logged."""
    argv = ["--store", str(tmp_path / "samples"), "--http", "127.0.0.1:0", "--create-if-missing"]
    level = access_log.level
    srv = build_server(parse_args(argv + ["--debug"] * debug)).start()
    try:
        url = f"http://127.0.0.1:{srv.port}"
        _post(f"{url}/write", _up("cli", DAY1_MS))
        _read_up(url)
        urllib.request.urlopen(f"{url}/metrics").close()
    finally:
        srv.stop()
        access_log.setLevel(level)
    lines = [r for r in caplog.records if r.name == access_log.name]
    if not debug:
        assert lines == []
        return
    assert [r.levelno for r in lines] == [logging.DEBUG] * 3
    for r, request in zip(lines, ("POST /write", "POST /read", "GET /metrics")):
        assert re.fullmatch(rf'127\.0\.0\.1 - - \[.+\] "{request} HTTP/1\.1" 200 -', r.getMessage())


# ---------------------------------------------------------------------------
# ClickHouse storage leg (-db flags; reference main.go:85-89, conn.go:22-64)
# ---------------------------------------------------------------------------


class FakeClickHouse:
    """In-memory stand-in for the ClickHouse HTTP interface: answers ping,
    accumulates JSONEachRow inserts, serves the canonical read SELECT."""

    def __init__(self):
        import json

        self.json = json
        self.rows: list[dict] = []
        self.selects: list[str] = []
        self.seen_headers: list[dict] = []

    def __call__(self, url, payload=None, headers=None):
        from urllib.parse import parse_qs, urlparse

        self.seen_headers.append(dict(headers or {}))
        q = parse_qs(urlparse(url).query)["query"][0]
        if q == "SELECT 1":
            return b"1\n"
        if q.startswith("INSERT"):
            for line in payload.decode().splitlines():
                if line.strip():
                    self.rows.append(self.json.loads(line))
            return b""
        if q.startswith("SELECT metric_name, arraySort"):
            # the pushdown serving query (read.go:57): echo the stored rows
            # in its output shape; the test asserts on the SQL itself
            self.selects.append(q)
            out = [
                self.json.dumps(
                    {
                        "metric_name": r["metric_name"],
                        "slb": sorted(r["labels"]),
                        "t": r["updated_at"],
                        "max_0": r["value"],
                    }
                )
                for r in self.rows
            ]
            return ("\n".join(out) + "\n").encode()
        if q.startswith("SELECT toUnixTimestamp"):
            from datetime import datetime, timezone

            out = []
            for r in self.rows:
                es = int(
                    datetime.strptime(r["updated_at"], "%Y-%m-%d %H:%M:%S")
                    .replace(tzinfo=timezone.utc)
                    .timestamp()
                )
                out.append(
                    self.json.dumps(
                        {
                            "es": es,
                            "metric_name": r["metric_name"],
                            "labels": r["labels"],
                            "value": r["value"],
                        }
                    )
                )
            return ("\n".join(out) + "\n").encode()
        raise AssertionError(f"unexpected query: {q}")


def test_db_fail_fast_unreachable():
    def refused(url, payload=None, headers=None):
        raise OSError("connection refused")

    args = parse_args(["--db", "127.0.0.1:1", "--http", "127.0.0.1:0"])
    with pytest.raises(SystemExit, match="unable to connect to clickhouse"):
        build_server(args, http=refused)


def test_db_ping_rejects_bad_response():
    args = parse_args(["--db", "127.0.0.1:8123", "--http", "127.0.0.1:0"])
    with pytest.raises(SystemExit, match="unexpected ping response"):
        build_server(args, http=lambda *a: b"<html>proxy error</html>")


def test_cli_server_clickhouse_write_read_roundtrip():
    fake = FakeClickHouse()
    args = parse_args(
        [
            "--db",
            "ch.example.internal:8123",
            "--db.username",
            "writer",
            "--db.password",
            "hunter2",
            "--http",
            "127.0.0.1:0",
        ]
    )
    # the ClickHouse leg serves /write, /read and /metrics without Spark
    srv = build_server(args, spark=NoSpark(), http=fake).start()
    try:
        url = f"http://127.0.0.1:{srv.port}"
        _post(f"{url}/write", _up("cli-ch", DAY1_MS, value=2.5))
        # the flattened JSONEachRow row landed in "ClickHouse" (write.go:37-49)
        assert fake.rows == [
            {
                "updated_at": "2024-01-01 00:00:00",
                "metric_name": "up",
                "labels": ["job=cli-ch"],
                "value": 2.5,
            }
        ]
        # auth rode the HTTP headers on every request
        assert all(h.get("X-ClickHouse-User") == "writer" for h in fake.seen_headers)
        assert all(h.get("X-ClickHouse-Key") == "hunter2" for h in fake.seen_headers)

        series = _read_up(url)
        assert len(series) == 1
        assert ("job", "cli-ch") in [(lb.name, lb.value) for lb in series[0].labels]
        assert series[0].samples[0].value == 2.5
        # /read was served by PUSHDOWN: the matcher+time clauses shipped to
        # ClickHouse as SQL (read.go:22-57), not planned Spark-side
        [sql] = fake.selects
        assert "metric_name='up'" in sql
        assert "t >= 1704067200" in sql
        assert "t <= 1704070800" in sql
        with urllib.request.urlopen(f"{url}/metrics") as r:
            assert r.status == 200
    finally:
        srv.stop()


# ---------------------------------------------------------------------------
# The real CLI in a subprocess: no JVM, and crash consistency of /write
# ---------------------------------------------------------------------------

#: Runs the CLI's ``main()`` with a kill point planted in the ``/write``
#: commit: the server SIGKILLs itself inside the second request's commit,
#: whose rows span two days (``pq.write_table`` and ``os.replace`` are
#: called once per day).
_KILLING_MAIN = """
import os, signal, sys

import pyarrow as pa
import pyarrow.parquet as pq

from remote_tsdb_clickhouse_spark.server.__main__ import main
from remote_tsdb_clickhouse_spark.sources.samples_store import SamplesStore

point = sys.argv.pop(1)
calls = []


def nth_call(n):
    calls.append(None)
    return len(calls) == n


def die():
    os.kill(os.getpid(), signal.SIGKILL)


write_table, replace, commit = pq.write_table, os.replace, SamplesStore._commit_table


def half_write_table(table, where, **kwargs):
    if nth_call(4):  # the second request's second day: half its body
        sink = pa.BufferOutputStream()
        write_table(table, sink, **kwargs)
        body = sink.getvalue().to_pybytes()
        with open(where, "wb") as f:
            f.write(body[: len(body) // 2])
            f.flush()
            os.fsync(f.fileno())
        die()
    write_table(table, where, **kwargs)


def replace_day_one_only(src, dst):
    if nth_call(4):  # the second request's second day
        die()
    replace(src, dst)


def commit_then_die(self, table):
    commit(self, table)
    if nth_call(2):
        die()


if point == "mid_temp_write":
    pq.write_table = half_write_table
elif point == "between_renames":
    os.replace = replace_day_one_only
else:
    SamplesStore._commit_table = commit_then_die
main(sys.argv[1:])
"""

#: kill point -> the days of the killed request that the store keeps
_KILL_POINTS = {
    "mid_temp_write": (),  # day 1's temp file whole, day 2's half written
    "between_renames": (DAY1_MS,),
    "after_renames": (DAY1_MS, DAY2_MS),  # committed, never acknowledged
}


@pytest.fixture()
def spawn():
    """Start the CLI server on a store (``kill_point`` runs it under
    :data:`_KILLING_MAIN`); return the process and its URL, read from the
    listening line.  Teardown kills what is still running."""
    procs = []

    def start(store, *argv: str, kill_point: str | None = None):
        cmd = ["-m", "remote_tsdb_clickhouse_spark.server"]
        if kill_point is not None:
            cmd = ["-c", _KILLING_MAIN, kill_point]
        proc = subprocess.Popen(
            [sys.executable, *cmd, "--http", "127.0.0.1:0", "--store", str(store),
             "--create-if-missing", *argv],
            cwd=REPO_ROOT, stderr=subprocess.PIPE, text=True,
        )
        procs.append(proc)
        deadline = threading.Timer(60, proc.kill)  # a server that never listens
        deadline.start()
        line = next((ln for ln in proc.stderr if ln.startswith("listening ")), "")
        deadline.cancel()
        m = re.fullmatch(
            rf"listening addr=127\.0\.0\.1:([1-9]\d*) store={re.escape(str(store))}\n", line
        )
        assert m, f"no listening line with the bound port: {line!r}"
        return proc, f"http://127.0.0.1:{m[1]}"

    yield start
    for proc in procs:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        proc.stderr.close()


def _samples(job: str, value: float, *day_ms: int, n: int = 5) -> set[tuple]:
    """The (job, ms, value) samples :func:`_up` writes."""
    return {(job, d + 1000 * i, value + i) for d in day_ms for i in range(n)}


def _served(url: str) -> set[tuple]:
    return {
        (lb.value, x.timestamp, x.value)
        for s in _read_up(url, DAY2_MS + 3_600_000)
        for lb in s.labels
        if lb.name == "job"
        for x in s.samples
    }


def test_cli_serves_without_a_child_process(spawn, tmp_path):
    """The real CLI with ``--debug``: the listening line names the bound
    port, a two-day ``/write`` reads back exactly through ``/read``, the
    server has no child process (no JVM) while it serves, and each request
    logs one access line on stderr."""
    proc, url = spawn(tmp_path / "samples", "--debug")
    _post(f"{url}/write", _up("cli", DAY1_MS, DAY2_MS, n=5))
    assert _served(url) == _samples("cli", 1.0, DAY1_MS, DAY2_MS)
    with open(f"/proc/{proc.pid}/task/{proc.pid}/children") as f:
        assert f.read().split() == []
    proc.terminate()
    proc.wait(timeout=30)
    access = [ln for ln in proc.stderr.read().splitlines() if '"POST /' in ln]
    assert len(access) == 2
    assert '"POST /write HTTP/1.1" 200' in access[0] and '"POST /read HTTP/1.1" 200' in access[1]


@pytest.mark.parametrize("point", sorted(_KILL_POINTS))
def test_crash_inside_a_write_commit(spark, spawn, tmp_path, point):
    """SIGKILL the server inside a two-day ``/write`` commit and restart it
    on the same store: every acknowledged sample reads back through
    ``/read`` and through Spark's ``SamplesStore.read()``, and each day of
    the killed request is all there or all gone."""
    from pyspark.sql import functions as F

    from remote_tsdb_clickhouse_spark.sources.samples_store import SamplesStore

    store = tmp_path / "samples"
    proc, url = spawn(store, kill_point=point)
    _post(f"{url}/write", _up("acked", DAY1_MS, DAY2_MS, n=5))
    with pytest.raises((ConnectionError, urllib.error.URLError)):
        _post(f"{url}/write", _up("killed", DAY1_MS, DAY2_MS, n=5, value=100.0))
    assert proc.wait(timeout=30) == -signal.SIGKILL

    want = _samples("acked", 1.0, DAY1_MS, DAY2_MS) | _samples("killed", 100.0, *_KILL_POINTS[point])
    _, url = spawn(store)
    assert _served(url) == want
    rows = (
        SamplesStore(spark, str(store))
        .read()
        .select(F.col("labels")[0], F.col("ts").cast("long") * 1000, "value")
        .collect()
    )
    assert {(label.partition("=")[2], t, v) for label, t, v in rows} == want
