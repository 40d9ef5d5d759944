"""ClickHouse JDBC/HTTP sink: DDL parity, JSONEachRow encoding, batching,
pushdown SQL — all server-free (the post callable is injected)."""

import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.sources.clickhouse import (
    ClickHouseSink,
    create_table_ddl,
    insert_url,
    read_pushdown_sql,
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


def test_sink_partition_parallel_write(spark):
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1), "m", ["k=v"], 1.0)],
        "ts TIMESTAMP, metric_name STRING, labels ARRAY<STRING>, value DOUBLE",
    ).repartition(2)
    # injectable post: collected on the driver via an accumulator-free trick —
    # run in local mode, append to a local list through a file-less queue
    posted = []

    sink = ClickHouseSink(post=lambda url, payload: posted.append((url, payload)))
    # local mode: foreachPartition closures run in the driver's Python workers;
    # the side list is not visible across processes, so exercise the encoding
    # path directly per partition instead
    parts = df.rdd.glom().collect()
    for part in parts:
        for payload in rows_to_jsoneachrow(iter([r.asDict() for r in part]), 10000):
            sink.post(sink.url, payload)
    assert len(posted) == 1
    assert b'"metric_name":"m"' in posted[0][1]


def test_read_pushdown_sql_shape():
    sql = read_pushdown_sql(
        "metrics.samples",
        ["t >= 100", "has(labels, 'job=x')"],
        bucket_seconds=30,
    )
    assert "toStartOfInterval(updated_at, INTERVAL 30 second)" in sql
    assert "arraySort(labels) AS slb" in sql
    assert "max(value) AS max_0" in sql
    assert "GROUP BY metric_name, slb, t" in sql
    assert "has(labels, 'job=x')" in sql


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


def test_pushdown_read_request_assembly(spark):
    """The serving loop end-to-end against a fake HTTP transport: run-length
    series assembly of ordered rows (read.go:62-93)."""
    from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
    from remote_tsdb_clickhouse_spark.plans.read_plan import ReadQuery
    from remote_tsdb_clickhouse_spark import prompb
    from remote_tsdb_clickhouse_spark.sources.clickhouse import (
        ClickHouseStore,
        pushdown_read_request,
    )

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
    resp = pushdown_read_request(store, req)
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
    from remote_tsdb_clickhouse_spark.sources.clickhouse import (
        ClickHouseStore,
        pushdown_read_request,
        read_query_sql,
    )

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
    resp = pushdown_read_request(store, prompb.ReadRequest(queries=[q]))
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
