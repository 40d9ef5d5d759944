"""ClickHouse storage leg: DDL parity, JSONEachRow encoding, batching, the
partition-parallel and streaming inserts, pushdown SQL — all server-free
(the store's ``http`` transport is injected)."""

import json
import os
from datetime import datetime

import pytest

from remote_tsdb_clickhouse_spark.model import SAMPLES_SCHEMA
from remote_tsdb_clickhouse_spark.sources.clickhouse import (
    ClickHouseStore,
    create_table_ddl,
    insert_url,
    rows_to_jsoneachrow,
    validate_table,
)


def test_ddl_matches_reference():
    ddl = create_table_ddl()
    for frag in (
        "CODEC(DoubleDelta, LZ4)",
        "LowCardinality(String)",
        "Array(LowCardinality(String))",
        "CODEC(Gorilla, LZ4)",
        "INDEX labelset (labels, metric_name) TYPE set(0) GRANULARITY 8192",
        "ORDER BY (metric_name, labels, updated_at)",
        "index_granularity = 8192",
    ):
        assert frag in ddl


def test_table_validation():
    validate_table("metrics.samples")
    with pytest.raises(ValueError):
        validate_table("metrics.samples; DROP TABLE x")


def test_jsoneachrow_batching():
    rows = [
        {
            "ts": datetime(2024, 1, 1, 0, 0, i),
            "metric_name": "m",
            "labels": ["a=1", "b=2"],
            "value": float(i),
        }
        for i in range(5)
    ]
    payloads = list(rows_to_jsoneachrow(iter(rows), batch_rows=2))
    assert len(payloads) == 3  # 2 + 2 + 1
    line0 = payloads[0].decode().splitlines()[0]
    assert '"updated_at":"2024-01-01 00:00:00"' in line0
    assert '"labels":["a=1","b=2"]' in line0
    total = sum(len(p.decode().splitlines()) for p in payloads)
    assert total == 5


def test_insert_url_encodes_query():
    url = insert_url("http://ch:8123", "metrics.samples")
    assert url.startswith("http://ch:8123/?query=")
    assert "JSONEachRow" in url


def recording_transport(record_dir: str):
    """Fake ClickHouse HTTP endpoint as a self-contained closure (cloudpickle
    ships it by value to the executors): each call writes its URL, headers
    and payload to one JSON file under ``record_dir`` (local-mode executors
    share the driver's filesystem)."""

    def transport(url, payload=None, headers=None):
        import json as _json
        import os as _os
        import uuid as _uuid

        with open(_os.path.join(record_dir, _uuid.uuid4().hex), "w") as f:
            _json.dump(
                {"url": url, "headers": dict(headers or {}), "payload": payload.decode()},
                f,
            )
        return b""

    return transport


def _recorded(record_dir) -> list[dict]:
    return [json.load(open(os.path.join(record_dir, f))) for f in os.listdir(record_dir)]


def _credentialed_store(spark, record_dir) -> ClickHouseStore:
    return ClickHouseStore(
        spark,
        base_url="http://ch.example.internal:8123",
        database="metrics",
        username="writer",
        password="hunter2",
        http=recording_transport(str(record_dir)),
    )


def _assert_inserts_carry_store_credentials(recs):
    for r in recs:
        assert "INSERT" in r["url"] and "&database=metrics" in r["url"], r["url"]
        assert r["headers"]["X-ClickHouse-User"] == "writer"
        assert r["headers"]["X-ClickHouse-Key"] == "hunter2"


def _posted_rows(recs) -> list[tuple]:
    rows = [json.loads(line) for r in recs for line in r["payload"].splitlines()]
    return sorted(
        (r["updated_at"], r["metric_name"], tuple(r["labels"]), r["value"]) for r in rows
    )


def test_append_partition_parallel_with_credentials(spark, tmp_path):
    """``ClickHouseStore.append`` inserts from each partition's task through
    the store's transport, with its credentials and database on every
    request."""
    src = [
        (datetime(2024, 1, 1, 0, 0, i), f"m{i % 2}", [f"k={i}", "job=a"], i / 4.0)
        for i in range(6)
    ]
    df = spark.createDataFrame(src, SAMPLES_SCHEMA).repartition(2)
    assert df.rdd.getNumPartitions() == 2
    _credentialed_store(spark, tmp_path).append(df)

    recs = _recorded(tmp_path)
    assert len(recs) == 2  # one insert per non-empty partition
    _assert_inserts_carry_store_credentials(recs)
    assert _posted_rows(recs) == sorted(
        (ts.strftime("%Y-%m-%d %H:%M:%S"), m, tuple(lb), v) for ts, m, lb, v in src
    )


def test_streaming_ingest_into_clickhouse_store(spark, tmp_path):
    """``StreamingIngest`` feeds any store with ``append(df)``: a staged
    parquet batch lands in ClickHouse with the store's credentials."""
    from remote_tsdb_clickhouse_spark.streaming.ingest import StreamingIngest

    rec = tmp_path / "recs"
    rec.mkdir()
    staging = str(tmp_path / "staging")
    src = [
        (datetime(2024, 1, 1, 0, 0, 0), "up", ["job=a"], 1.0),
        (datetime(2024, 1, 2, 0, 0, 15), "up", ["job=b"], 0.5),
    ]
    spark.createDataFrame(src, SAMPLES_SCHEMA).coalesce(1).write.parquet(staging)
    store = _credentialed_store(spark, rec)
    q = StreamingIngest(spark, staging, store, str(tmp_path / "ckpt")).start(
        available_now=True
    )
    q.awaitTermination(120)

    recs = _recorded(rec)
    assert recs
    _assert_inserts_carry_store_credentials(recs)
    assert _posted_rows(recs) == [
        ("2024-01-01 00:00:00", "up", ("job=a",), 1.0),
        ("2024-01-02 00:00:15", "up", ("job=b",), 0.5),
    ]


def test_matcher_where_clauses_reference_parity():
    """read.go:103-139: every matcher type, both __name__ and label branches,
    concat-anchored regexes, routing-label skip on EQ only."""
    from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
    from remote_tsdb_clickhouse_spark.sources.clickhouse import matcher_where_clauses

    EQ, NEQ, RE, NRE = (
        MatcherType.EQ, MatcherType.NEQ, MatcherType.RE, MatcherType.NRE,
    )
    clauses = matcher_where_clauses(
        [
            LabelMatcher(EQ, "__name__", "go_goroutines"),
            LabelMatcher(NEQ, "__name__", "up"),
            LabelMatcher(RE, "__name__", "go_.*"),
            LabelMatcher(NRE, "__name__", "net_.*"),
            LabelMatcher(EQ, "job", "omada"),
            LabelMatcher(NEQ, "job", "x"),
            LabelMatcher(RE, "tier", "gold|silver"),
            LabelMatcher(NRE, "tier", "bronze"),
            LabelMatcher(EQ, "remote", "clickhouse"),  # routing label: skipped
        ],
        ignore_label="remote=clickhouse",
    )
    assert clauses == [
        "metric_name='go_goroutines'",
        "metric_name!='up'",
        "match(metric_name, '^go_.*$')",
        "NOT match(metric_name, '^net_.*$')",
        "has(labels, 'job=omada')",
        "NOT has(labels, 'job=x')",
        "arrayExists(x -> match(x, '^tier=gold|silver$'), labels)",
        "NOT arrayExists(x -> match(x, '^tier=bronze$'), labels)",
    ]
    # NEQ on the routing label is NOT skipped (read.go:123-125 is EQ-only)
    neq = matcher_where_clauses(
        [LabelMatcher(NEQ, "remote", "clickhouse")], ignore_label="remote=clickhouse"
    )
    assert neq == ["NOT has(labels, 'remote=clickhouse')"]


def test_matcher_literal_escaping():
    from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
    from remote_tsdb_clickhouse_spark.sources.clickhouse import (
        ch_string_literal,
        matcher_where_clauses,
    )

    assert ch_string_literal(r"a'b\c") == r"'a\'b\\c'"
    [c] = matcher_where_clauses([LabelMatcher(MatcherType.EQ, "job", "o'brien")])
    assert c == r"has(labels, 'job=o\'brien')"


def test_matcher_unsupported_type_raises():
    import pytest as _pytest

    from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher
    from remote_tsdb_clickhouse_spark.sources.clickhouse import matcher_where_clauses

    with _pytest.raises(ValueError, match="unsupported LabelMatcher_Type"):
        matcher_where_clauses([LabelMatcher(7, "job", "x")])


def test_read_query_sql_full_shape():
    """read.go:22-57: time bounds on the aliased t, 0 => open upper bound,
    hint interval via the shared halve/floor policy."""
    from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
    from remote_tsdb_clickhouse_spark.plans.read_plan import ReadHints, ReadQuery
    from remote_tsdb_clickhouse_spark.sources.clickhouse import read_query_sql

    q = ReadQuery(
        start_ms=1704067200123,
        end_ms=1704070800999,
        matchers=(LabelMatcher(MatcherType.EQ, "__name__", "view"),),
        hints=ReadHints(step_ms=60000),
    )
    sql = read_query_sql(q, "metrics.samples")
    assert "t >= 1704067200" in sql
    assert "t <= 1704070800" in sql
    assert "metric_name='view'" in sql
    assert "toStartOfInterval(updated_at, INTERVAL 30 second)" in sql
    # open upper bound + hints ignored
    q2 = ReadQuery(start_ms=0, end_ms=0, hints=ReadHints(step_ms=60000))
    sql2 = read_query_sql(q2, "metrics.samples", ignore_hints=True)
    assert "t <= " not in sql2
    assert "toStartOfInterval" not in sql2


def test_read_pushdown_sql_shape():
    """The emitted pushdown statement's shape (read.go:57)."""
    from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
    from remote_tsdb_clickhouse_spark.plans.read_plan import ReadHints, ReadQuery
    from remote_tsdb_clickhouse_spark.sources.clickhouse import read_query_sql

    q = ReadQuery(
        start_ms=100_000,
        matchers=(LabelMatcher(MatcherType.EQ, "job", "x"),),
        hints=ReadHints(step_ms=60000),
    )
    assert read_query_sql(q, "metrics.samples") == (
        "SELECT metric_name, arraySort(labels) AS slb, "
        "toStartOfInterval(updated_at, INTERVAL 30 second) AS t, max(value) AS max_0 "
        "FROM metrics.samples WHERE t >= 100 AND has(labels, 'job=x') "
        "GROUP BY metric_name, slb, t ORDER BY metric_name, slb, t"
    )


def test_pushdown_read_request_assembly(spark):
    """The serving loop end-to-end against a fake HTTP transport: run-length
    series assembly of ordered rows (read.go:62-93)."""
    from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
    from remote_tsdb_clickhouse_spark.plans.read_plan import ReadQuery
    from remote_tsdb_clickhouse_spark import prompb

    rows = [
        {"metric_name": "view", "slb": ["k=1", "user=7"], "t": "2024-01-01 00:00:00", "max_0": 1.5},
        {"metric_name": "view", "slb": ["k=1", "user=7"], "t": "2024-01-01 00:00:30", "max_0": 2.5},
        {"metric_name": "view", "slb": ["k=2", "user=9"], "t": "2024-01-01 00:00:00", "max_0": 3.0},
    ]
    seen_urls = []

    def fake_http(url, payload=None, headers=None):
        seen_urls.append(url)
        return "\n".join(json.dumps(r) for r in rows).encode()

    store = ClickHouseStore(spark, table="metrics.samples", http=fake_http)
    req = prompb.ReadRequest(
        queries=[ReadQuery(start_ms=1704067200000, end_ms=0,
                           matchers=(LabelMatcher(MatcherType.EQ, "__name__", "view"),))]
    )
    resp = store.read_request(req)
    assert len(resp.results) == 1
    ts = resp.results[0].timeseries
    assert len(ts) == 2  # run-length split on (metric, labels)
    assert [(l.name, l.value) for l in ts[0].labels] == [
        ("__name__", "view"), ("k", "1"), ("user", "7"),
    ]
    assert [(s.value, s.timestamp) for s in ts[0].samples] == [
        (1.5, 1704067200000), (2.5, 1704067230000),
    ]
    assert len(ts[1].samples) == 1
    assert "FORMAT+JSONEachRow" in seen_urls[0] or "FORMAT%20JSONEachRow" in seen_urls[0]


def test_pushdown_read_request_decodes_nonfinite_max(spark):
    """Staleness markers are NaNs: the pushdown URL asks ClickHouse to
    quote NaN/±Inf ("nan"/"inf"/"-inf") instead of writing null, and those
    strings decode to the doubles.  The setting rides the SETTINGS suffix
    after ``read_query_sql``, so the query text keeps its read.go:57
    parity."""
    import math
    from urllib.parse import parse_qs, urlparse

    from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
    from remote_tsdb_clickhouse_spark.plans.read_plan import ReadQuery
    from remote_tsdb_clickhouse_spark import prompb
    from remote_tsdb_clickhouse_spark.sources.clickhouse import read_query_sql

    rows = [
        {"metric_name": "up", "slb": ["job=a"], "t": "2024-01-01 00:00:00", "max_0": "nan"},
        {"metric_name": "up", "slb": ["job=a"], "t": "2024-01-01 00:00:15", "max_0": "inf"},
        {"metric_name": "up", "slb": ["job=a"], "t": "2024-01-01 00:00:30", "max_0": "-inf"},
    ]
    seen_urls = []

    def fake_http(url, payload=None, headers=None):
        seen_urls.append(url)
        return "\n".join(json.dumps(r) for r in rows).encode()

    store = ClickHouseStore(spark, table="metrics.samples", http=fake_http)
    q = ReadQuery(start_ms=1704067200000, matchers=(LabelMatcher(MatcherType.EQ, "__name__", "up"),))
    resp = store.read_request(prompb.ReadRequest(queries=[q]))
    [ts] = resp.results[0].timeseries
    values = [s.value for s in ts.samples]
    assert math.isnan(values[0]) and values[1:] == [math.inf, -math.inf]
    assert [s.timestamp for s in ts.samples] == [1704067200000, 1704067215000, 1704067230000]
    [sql] = parse_qs(urlparse(seen_urls[0]).query)["query"]
    assert sql == (
        read_query_sql(q, store.table)
        + " SETTINGS session_timezone='UTC', output_format_json_quote_denormals=1"
        + " FORMAT JSONEachRow"
    )
