"""ClickHouse storage leg: the reference's deployment shape, Spark as the
engine and ClickHouse as the store (reference ``main.go:102-112``).

The reference reaches ClickHouse through one client configured once by
``-db``, ``-db.database``, ``-db.username`` and ``-db.password``
(``main.go:82-90``, ``conn.go:52-64``).  Here that client is
:class:`ClickHouseStore`, and every request it makes — ping, the ``/write``
insert, the volume and streaming ``append``, the ``/read`` pushdown and the
range scan — goes through its one injectable ``http(url, payload, headers)``
transport with its credentials headers and its database:

- **DDL parity**: :func:`create_table_ddl` emits the reference's exact
  MergeTree schema — ``DateTime`` time column, ``LowCardinality(String)``
  name, ``Array(LowCardinality(String))`` labels, Gorilla/DoubleDelta
  codecs, the ``set(0)`` labelset skipping index, and
  ``ORDER BY (metric_name, labels, updated_at)``.
- **Inserts are JSONEachRow over HTTP**: generic JDBC has no portable
  ``Array(String)`` binding (SURVEY §7), so rows ship as
  ``INSERT ... FORMAT JSONEachRow`` payloads of at most :data:`BATCH_ROWS`
  rows — ClickHouse's own bulk path, array-safe, and what the reference's
  bulk-import recipe does with TSV (``README.md:144-161``).
- **Partition-parallel**: ``append(df)`` posts each Spark partition's rows
  from its own task (``foreachPartition``), and ``read_parallel`` fetches
  each time range from its own task, so a cluster fans into and out of
  ClickHouse without materializing on the driver.
- **No ClickHouse in this environment**: tests inject the transport and
  check DDL text, JSONEachRow encoding, batching, headers and the emitted
  SQL without a server.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from functools import partial

from pyspark.sql import DataFrame

#: Reference DDL constants (README.md:17-27)
TABLE_REGEX = r"^[A-Za-z0-9_.]+$"
DEFAULT_TABLE = "metrics.samples"
#: Rows per JSONEachRow insert payload: the reference's "10,000 samples per
#: send, larger batches preferred" (README.md:43-51)
BATCH_ROWS = 10_000


def validate_table(table: str) -> str:
    """Reference ``conn.go:14,40-42``: table names are regex-validated, never
    interpolated from user input unchecked."""
    import re

    if not re.match(TABLE_REGEX, table):
        raise ValueError(f"invalid table name: {table!r}")
    return table


def create_table_ddl(table: str = DEFAULT_TABLE) -> str:
    """The reference's MergeTree DDL, byte-for-byte semantics
    (``README.md:17-27``)."""
    validate_table(table)
    return f"""CREATE TABLE IF NOT EXISTS {table} (
    `updated_at`  DateTime                      CODEC(DoubleDelta, LZ4),
    `metric_name` LowCardinality(String),
    `labels`      Array(LowCardinality(String)),
    `value`       Float64                       CODEC(Gorilla, LZ4),
    INDEX labelset (labels, metric_name) TYPE set(0) GRANULARITY 8192
) ENGINE = MergeTree
ORDER BY (metric_name, labels, updated_at)
SETTINGS index_granularity = 8192"""


def rows_to_jsoneachrow(rows: Iterator, batch_rows: int) -> Iterator[bytes]:
    """Encode canonical-schema rows into JSONEachRow insert payloads of at
    most ``batch_rows`` rows each (the store sends :data:`BATCH_ROWS`)."""
    buf: list[str] = []
    for r in rows:
        ts = r["ts"]
        buf.append(
            json.dumps(
                {
                    # ClickHouse DateTime accepts 'YYYY-MM-DD hh:mm:ss';
                    # second truncation is the reference's write semantics
                    # (write.go:49)
                    "updated_at": ts.strftime("%Y-%m-%d %H:%M:%S"),
                    "metric_name": r["metric_name"],
                    "labels": list(r["labels"]),
                    "value": float(r["value"]),
                },
                separators=(",", ":"),
            )
        )
        if len(buf) >= batch_rows:
            yield ("\n".join(buf) + "\n").encode()
            buf = []
    if buf:
        yield ("\n".join(buf) + "\n").encode()


def query_url(base_url: str, sql: str, database: str | None = None) -> str:
    """SQL-over-HTTP URL for the ClickHouse HTTP interface."""
    from urllib.parse import quote

    url = f"{base_url}/?query={quote(sql)}"
    if database:
        url += f"&database={quote(database)}"
    return url


def insert_url(base_url: str, table: str, database: str | None = None) -> str:
    validate_table(table)
    return query_url(
        base_url,
        f"INSERT INTO {table} (updated_at, metric_name, labels, value) FORMAT JSONEachRow",
        database,
    )


def default_http(
    url: str, payload: bytes | None = None, headers: dict[str, str] | None = None
) -> bytes:  # pragma: no cover - network
    from urllib.request import Request, urlopen

    req = Request(url, data=payload, headers=headers or {})
    with urlopen(req, timeout=30) as resp:
        if resp.status >= 300:
            raise RuntimeError(f"clickhouse request failed: HTTP {resp.status}")
        return resp.read()


def _call(http: Callable[..., bytes], url: str, payload: bytes | None, headers) -> bytes:
    """One transport call with socket errors re-raised as RuntimeError.

    The HTTP shell maps ConnectionError to 499 client-closed-request
    (main.go:147-152 context.Canceled parity); a ConnectionResetError
    from the *backend* transport must not ride that branch — storage
    failures are 500s with the error counter bumped, like the
    reference's storage-error path (main.go:147-152 else-branch).
    Module-level so the executor-side closures call it too.
    """
    try:
        return http(url, payload, headers)
    except ConnectionError as e:
        raise RuntimeError(f"clickhouse transport error: {e}") from e


def _insert(http: Callable[..., bytes], url: str, headers, rows: Iterator) -> None:
    """POST canonical-schema rows as JSONEachRow batches of BATCH_ROWS: the
    one insert routine of ``ClickHouseStore.write`` and ``append``."""
    for payload in rows_to_jsoneachrow(rows, BATCH_ROWS):
        _call(http, url, payload, headers)


class ClickHouseStore:
    """The one ClickHouse client (reference ``conn.go:52-64``): a base URL,
    a table, a database, credentials carried as ClickHouse HTTP headers
    (``X-ClickHouse-User``/``-Key``), and an injectable ``http(url,
    payload, headers)`` transport that every request goes through.

    - ``ping()`` — fail-fast connectivity+auth check at startup, the
      ``db.Ping()`` analog (reference ``conn.go:62-64``).
    - ``write(req)`` — the ``/write`` path: flatten a decoded WriteRequest
      and insert it (requests are bounded by the 32 MiB wire cap, so the
      driver-side encode is the protocol's own materialization).  This is
      the ``TimeseriesWriter`` interface, so the store is the
      ``AdapterApp`` writer itself.
    - ``append(df)`` — the volume and streaming path: each partition of a
      samples frame inserts from its own task.  ``StreamingIngest`` calls
      it once per micro-batch, as it calls ``SamplesStore.append``.
    - ``read_request(req)`` — the ``/read`` path: each query ships to
      ClickHouse as the reference's SQL and the ordered rows are assembled
      into series (``read.go:15-101``).
    - ``read_parallel()`` — the samples frame, fetched executor-side in
      time ranges, for Spark-side analytics over the store.

    ``spark`` may be ``None``: ``ping``, ``write`` and ``read_request``, the
    server's calls, never use it.  ``read_parallel`` needs it; ``append``
    runs on its frame's own session.

    Insert retries are at-least-once like the reference's batch insert
    (``write.go:25-60``): a re-sent payload duplicates rows, which collapse
    at read time under ``max(value)`` (SURVEY §2.8).
    """

    def __init__(
        self,
        spark,
        base_url: str = "http://127.0.0.1:8123",
        table: str = DEFAULT_TABLE,
        database: str = "default",
        username: str = "default",
        password: str = "",
        http: Callable[..., bytes] | None = None,
    ):
        self.spark = spark
        self.base_url = base_url.rstrip("/")
        self.table = table
        self.database = database
        self.http = http or default_http
        self._headers = {"X-ClickHouse-User": username}
        if password:
            self._headers["X-ClickHouse-Key"] = password
        self._insert_url = insert_url(self.base_url, table, database)
        self._insert_headers = {**self._headers, "Content-Type": "application/x-ndjson"}

    def _query(self, sql: str) -> bytes:
        return _call(self.http, query_url(self.base_url, sql, self.database), None, self._headers)

    def ping(self) -> None:
        """Fail fast on an unreachable/unauthorized server (conn.go:62-64)."""
        try:
            out = self._query("SELECT 1")
        except Exception as e:
            raise ConnectionError(
                f"unable to connect to clickhouse server at {self.base_url}: {e}"
            ) from e
        if out.strip() != b"1":
            raise ConnectionError(
                f"unexpected ping response from {self.base_url}: {out[:100]!r}"
            )

    def write(self, req) -> int:
        """Decoded WriteRequest -> JSONEachRow INSERT batches; returns the
        written-sample count (A3)."""
        from remote_tsdb_clickhouse_spark.sources.writer import write_request_rows

        rows = write_request_rows(req).to_pylist()
        _insert(self.http, self._insert_url, self._insert_headers, rows)
        return len(rows)

    def append(self, df: DataFrame) -> None:
        """Insert a samples frame partition-parallel: one ``foreachPartition``
        pass in which each task posts its own rows.  The task closure holds
        the URL, the headers and the transport, never the store (which
        holds the SparkSession)."""
        df.select("ts", "metric_name", "labels", "value").foreachPartition(
            partial(_insert, self.http, self._insert_url, self._insert_headers)
        )

    def read_request(
        self, req, *, ignore_label: str | None = None, ignore_hints: bool = False
    ):
        """Serve a full ``prompb.ReadRequest`` by shipping each query to
        ClickHouse and run-length assembling the ordered rows into
        TimeSeries — the reference's serving loop (``read.go:15-101``), for
        the deployment where ClickHouse is both storage and scan engine.
        """
        from datetime import datetime, timezone

        from remote_tsdb_clickhouse_spark import prompb
        from remote_tsdb_clickhouse_spark.server.service import series_labels

        resp = prompb.ReadResponse()
        for q in req.queries:
            result = prompb.QueryResult()
            sql = read_query_sql(
                q, self.table, ignore_label=ignore_label, ignore_hints=ignore_hints
            )
            # session_timezone pins the DateTime JSON rendering to UTC whatever
            # the server's zone is (the strptime below would otherwise shift
            # every timestamp on a non-UTC deploy).  Appended OUTSIDE
            # read_query_sql so the emitted query text keeps byte-parity with
            # read.go:57.  Needs ClickHouse >= 23.6; on older servers drop the
            # setting and run the server in UTC like the reference deploy.
            # output_format_json_quote_denormals=1 writes NaN/±Inf max_0 as
            # "nan"/"inf"/"-inf" instead of null, so a staleness marker (a NaN)
            # decodes through float() like any other value.
            raw = self._query(
                sql
                + " SETTINGS session_timezone='UTC', output_format_json_quote_denormals=1"
                + " FORMAT JSONEachRow"
            )
            last_key = None
            ts_msg = None
            for line in raw.splitlines():
                if not line.strip():
                    continue
                r = json.loads(line)
                key = (r["metric_name"], tuple(r["slb"]))
                if ts_msg is None or key != last_key:
                    last_key = key
                    ts_msg = prompb.TimeSeries(labels=series_labels(r["metric_name"], r["slb"]))
                    result.timeseries.append(ts_msg)
                # ClickHouse DateTime over JSONEachRow: "YYYY-MM-DD hh:mm:ss"
                # in the server zone (UTC here, matching the reference deploy)
                t = datetime.strptime(r["t"], "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc)
                ts_msg.samples.append(
                    prompb.Sample(float(r["max_0"]), int(t.timestamp() * 1000))
                )
            resp.results.append(result)
        return resp

    def read_parallel(self, num_splits: int = 32) -> DataFrame:
        """Partition-parallel samples scan — the honest S6 analog for the
        ClickHouse-storage leg (the reference's scan is ClickHouse-internal,
        ``read.go:57``; this is the raw-frame equivalent for Spark-side
        analytics over an external store).

        One driver-side metadata query fetches the table's ``updated_at``
        bounds; the span is cut into ``num_splits`` disjoint half-open
        ranges, and each range is fetched EXECUTOR-side (``mapInPandas``
        over one range-row per task) through the same injectable transport.
        On a cluster this fans the scan across executors with no driver
        materialization; the per-task response is one range, not the table.

        ``num_splits`` sizes to executor count x a small factor; ranges are
        equal-width in time, so a hot ingest burst can skew a split — the
        standard fix (split again on ``cityHash64(metric_name) % k``) layers
        on the same WHERE mechanism if time alone is too coarse.
        """
        import math

        from remote_tsdb_clickhouse_spark.model import SAMPLES_SCHEMA

        meta_sql = (
            "SELECT toUnixTimestamp(min(updated_at)) AS mn, "
            "toUnixTimestamp(max(updated_at)) AS mx, count() AS n "
            f"FROM {self.table} FORMAT JSONEachRow"
        )
        raw = self._query(meta_sql)
        meta = json.loads(raw.splitlines()[0])
        if not int(meta["n"]):
            return self.spark.createDataFrame([], SAMPLES_SCHEMA)
        mn, mx = int(meta["mn"]), int(meta["mx"]) + 1  # half-open [mn, mx)
        num_splits = max(1, min(int(num_splits), mx - mn))
        step = math.ceil((mx - mn) / num_splits)
        bounds = [
            (lo, min(lo + step, mx))
            for lo in range(mn, mx, step)
        ]
        base_url, table, database = self.base_url, self.table, self.database
        headers, http = dict(self._headers), self.http

        def fetch(batches):
            import io

            import pandas as pd

            for pdf in batches:
                for lo, hi in zip(pdf["lo"], pdf["hi"]):
                    sql = (
                        "SELECT toUnixTimestamp(updated_at) AS es, metric_name, "
                        f"labels, value FROM {table} "
                        f"WHERE updated_at >= toDateTime({int(lo)}) "
                        f"AND updated_at < toDateTime({int(hi)}) FORMAT JSONEachRow"
                    )
                    raw = _call(http, query_url(base_url, sql, database), None, headers)
                    text = raw.decode() if isinstance(raw, (bytes, bytearray)) else raw
                    if not text.strip():
                        yield pd.DataFrame(
                            {
                                "ts": pd.to_datetime([], unit="s"),
                                "metric_name": pd.Series([], dtype=str),
                                "labels": pd.Series([], dtype=object),
                                "value": pd.Series([], dtype="float64"),
                            }
                        )
                        continue
                    # vectorized C-parser for the row stream (the per-task
                    # hot path at scale), with explicit dtype pinning —
                    # JSONEachRow may print integral doubles without a dot
                    r = pd.read_json(io.StringIO(text), lines=True)
                    yield pd.DataFrame(
                        {
                            # naive UTC — session tz is pinned UTC (session.py)
                            "ts": pd.to_datetime(r["es"].astype("int64"), unit="s"),
                            "metric_name": r["metric_name"].astype(str),
                            "labels": r["labels"],
                            "value": r["value"].astype("float64"),
                        }
                    )

        # exactly one range-row per task (parallelize slices the local list
        # evenly — unlike a hash/round-robin repartition, which can co-locate
        # two ranges in one partition and serialize those fetches), so
        # concurrency == min(num_splits, total cores)
        ranges = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(bounds, len(bounds)),
            "lo LONG, hi LONG",
        )
        return ranges.mapInPandas(fetch, schema=SAMPLES_SCHEMA)


def ch_string_literal(s: str) -> str:
    """ClickHouse single-quoted string literal (backslash escaping)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def matcher_where_clauses(matchers, ignore_label: str | None = None) -> list[str]:
    """prompb matchers -> ClickHouse WHERE clauses — ``read.go:103-139``
    verbatim, with literals inlined (the HTTP interface has no bind
    parameters; ``ch_string_literal`` escapes them).

    Mirrored quirks: label matchers compare the CONCATENATED ``name=value``
    string (``read.go:120``), regexes are concat-anchored ``^...$``
    (``read.go:104``), the routing label is skipped on the EQ branch only
    (``read.go:123-125``), and an unknown matcher type is an error (F12,
    ``read.go:116-117,133-134``).
    """
    from remote_tsdb_clickhouse_spark.plans.matchers import MatcherType

    clauses: list[str] = []
    for m in matchers:
        if m.name == "__name__":
            v = ch_string_literal(m.value)
            if m.type == MatcherType.EQ:
                clauses.append(f"metric_name={v}")
            elif m.type == MatcherType.NEQ:
                clauses.append(f"metric_name!={v}")
            elif m.type == MatcherType.RE:
                clauses.append(f"match(metric_name, {ch_string_literal('^' + m.value + '$')})")
            elif m.type == MatcherType.NRE:
                clauses.append(
                    f"NOT match(metric_name, {ch_string_literal('^' + m.value + '$')})"
                )
            else:
                raise ValueError(f"unsupported LabelMatcher_Type {m.type}")
        else:
            label = f"{m.name}={m.value}"
            lv = ch_string_literal(label)
            if m.type == MatcherType.EQ:
                if ignore_label is not None and label == ignore_label:
                    continue
                clauses.append(f"has(labels, {lv})")
            elif m.type == MatcherType.NEQ:
                clauses.append(f"NOT has(labels, {lv})")
            elif m.type == MatcherType.RE:
                clauses.append(
                    f"arrayExists(x -> match(x, {ch_string_literal('^' + label + '$')}), labels)"
                )
            elif m.type == MatcherType.NRE:
                clauses.append(
                    f"NOT arrayExists(x -> match(x, {ch_string_literal('^' + label + '$')}), labels)"
                )
            else:
                raise ValueError(f"unsupported LabelMatcher_Type {m.type}")
    return clauses


def read_query_sql(
    q,
    table: str = DEFAULT_TABLE,
    *,
    ignore_label: str | None = None,
    ignore_hints: bool = False,
) -> str:
    """One ``prompb.Query`` -> the reference's complete emitted SQL
    (``read.go:22-57``): epoch-floored time bounds on the aliased ``t``
    (so a downsample bucket is what the bound applies to), matcher clauses,
    and the halved/floored hint interval via the shared A2 policy."""
    from remote_tsdb_clickhouse_spark.plans.read_plan import (
        downsample_interval_seconds,
        trunc_ms_to_s,
    )

    validate_table(table)
    # trunc-toward-zero like Go's StartTimestampMs/1000 (read.go:24-28);
    # divergent from // only for out-of-domain pre-1970 bounds
    clauses = [f"t >= {trunc_ms_to_s(q.start_ms)}"]
    if q.end_ms > 0:
        clauses.append(f"t <= {trunc_ms_to_s(q.end_ms)}")
    clauses.extend(matcher_where_clauses(q.matchers, ignore_label))
    interval_s = downsample_interval_seconds(q.hints, ignore_hints=ignore_hints)
    t_expr = (
        f"toStartOfInterval(updated_at, INTERVAL {int(interval_s)} second)"
        if interval_s and interval_s > 1
        else "updated_at"
    )
    return (
        f"SELECT metric_name, arraySort(labels) AS slb, {t_expr} AS t, max(value) AS max_0 "
        f"FROM {table} WHERE {' AND '.join(clauses)} "
        "GROUP BY metric_name, slb, t ORDER BY metric_name, slb, t"
    )

