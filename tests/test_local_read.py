"""The local store's ``/read`` without Spark (``SamplesStore.read_request``)
against its oracle, the Spark plan ``service.handle_read_request`` over
``SamplesStore.read()``: on stores holding every kind of file the store
can hold, and while ``compact()`` replaces the files being read."""

from __future__ import annotations

import math
import struct
import threading
from datetime import datetime, timedelta, timezone

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from remote_tsdb_clickhouse_spark import prompb
from remote_tsdb_clickhouse_spark.model import SAMPLES_SCHEMA
from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
from remote_tsdb_clickhouse_spark.plans.read_plan import ReadHints, ReadQuery
from remote_tsdb_clickhouse_spark.server.service import handle_read_request
from remote_tsdb_clickhouse_spark.sources.samples_store import SamplesStore
from remote_tsdb_clickhouse_spark.sources.writer import TimeseriesWriter

EQ, NEQ, RE, NRE = MatcherType.EQ, MatcherType.NEQ, MatcherType.RE, MatcherType.NRE

#: 2024-01-01 23:59:50 UTC: the 21 seconds a store spans cross midnight,
#: so its rows fall in two date partitions
BASE_S = 1704153590
#: Prometheus's staleness marker, a NaN whose bits the store keeps
MARKER = struct.unpack("<d", struct.pack("<Q", 0x7FF0000000000002))[0]

#: (name, labels) with labels in the order Prometheus sends them, sorted
#: by name: "a" before "a1", the reverse of their ``array_sort`` order
#: ("a1=y" < "a=x").  Every character is one on which RE2 and Java regex
#: agree.
SERIES = [
    ("up", [("a", "x"), ("a1", "y")]),
    ("up", [("a", "x"), ("job", "api")]),
    ("up", [("job", "db"), ("tier", "gold")]),
    ("Up", [("a1", "x=y")]),
    ("node_load1", []),
    ("node_load1", [("a", "X"), ("job", "api")]),
]
VALUES = [1.0, -2.5, 0.0, -0.0, math.nan, MARKER, 1e300, 7.25]
#: every matcher type on the name and on labels, a top-level alternation,
#: NEQ/NRE on labels some series lack, and the ignore label
MATCHERS = [
    (),
    (LabelMatcher(EQ, "__name__", "up"),),
    (LabelMatcher(NEQ, "__name__", "up"),),
    (LabelMatcher(RE, "__name__", "(?i)UP"),),
    (LabelMatcher(NRE, "__name__", "node.*|Up"),),
    (LabelMatcher(EQ, "a", "x"), LabelMatcher(EQ, "remote", "clickhouse")),
    (LabelMatcher(NEQ, "job", "api"),),
    (LabelMatcher(RE, "a1", "x=.*|y"),),
    (LabelMatcher(NRE, "tier", "go.*"),),
    (LabelMatcher(RE, "job", "api|db"), LabelMatcher(NEQ, "remote", "clickhouse")),
]

#: (series, second after BASE_S, microseconds, value); a /write keeps
#: whole seconds only, a Spark append keeps the microseconds
_rows = st.lists(
    st.tuples(
        st.integers(0, len(SERIES) - 1),
        st.integers(0, 20),
        st.sampled_from([0, 250_000, 999_999]),
        st.sampled_from(VALUES),
    ),
    min_size=1,
    max_size=10,
)
#: each chunk is one /write commit, one Spark append, or one Spark append
#: stored as INT96 timestamps
_chunks = st.lists(st.tuples(st.sampled_from(["write", "spark", "int96"]), _rows), max_size=4)
_queries = st.lists(
    st.builds(
        lambda matchers, lo, ms, span, step, range_ms: ReadQuery(
            start_ms=(BASE_S + lo) * 1000 + ms,
            end_ms=0 if span is None else (BASE_S + lo + span) * 1000 + ms,
            matchers=matchers,
            hints=ReadHints(step_ms=step, range_ms=range_ms),
        ),
        st.sampled_from(MATCHERS),
        st.integers(-2, 20),
        st.sampled_from([0, 500, 999]),
        st.none() | st.integers(0, 20),
        st.sampled_from([0, 4000, 7000, 60000]),
        st.sampled_from([0, 3000]),
    ),
    min_size=1,
    max_size=3,
)


def _write(spark, store: SamplesStore, kind: str, rows) -> None:
    if kind == "write":
        TimeseriesWriter(store).write(prompb.WriteRequest(timeseries=[
            prompb.TimeSeries(
                labels=[prompb.Label("__name__", SERIES[i][0])]
                + [prompb.Label(k, v) for k, v in SERIES[i][1]],
                samples=[prompb.Sample(v, (BASE_S + s) * 1000 + us // 1000)],
            )
            for i, s, us, v in rows
        ]))
        return
    base = datetime.fromtimestamp(BASE_S, timezone.utc)
    df = spark.createDataFrame(
        [
            (base + timedelta(seconds=s, microseconds=us), SERIES[i][0],
             [f"{k}={lv}" for k, lv in SERIES[i][1]], v)
            for i, s, us, v in rows
        ],
        SAMPLES_SCHEMA,
    )
    conf = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(conf, "INT96" if kind == "int96" else "TIMESTAMP_MICROS")
    try:
        store.append(df)
    finally:
        spark.conf.set(conf, "TIMESTAMP_MICROS")


def _canon(resp: prompb.ReadResponse):
    """A response with NaN payloads and the sign of zero erased: of equal
    values in one group Spark's ``max`` keeps the first it aggregates, and
    across files that order is Spark's to choose."""
    return [
        [
            (
                [(lb.name, lb.value) for lb in ts.labels],
                [(s.timestamp, "nan" if math.isnan(s.value) else s.value + 0.0) for s in ts.samples],
            )
            for ts in result.timeseries
        ]
        for result in resp.results
    ]


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(chunks=_chunks, compact=st.booleans(), queries=_queries)
@example(
    chunks=[
        ("write", [(0, 0, 0, 1.0), (0, 0, 0, MARKER), (1, 3, 0, -0.0), (2, 12, 0, 7.25), (3, 5, 0, 1e300)]),
        ("spark", [(0, 5, 250_000, 1.0), (0, 5, 0, math.nan), (4, 15, 999_999, -2.5), (5, 1, 0, 0.0)]),
        ("int96", [(1, 3, 250_000, 7.25), (3, 19, 0, 1.0), (2, 12, 999_999, -2.5)]),
    ],
    compact=False,
    queries=[
        # the upper bound falls inside a second that holds a sub-second row
        ReadQuery(start_ms=BASE_S * 1000, end_ms=(BASE_S + 5) * 1000 + 500),
        ReadQuery(start_ms=BASE_S * 1000, matchers=MATCHERS[9], hints=ReadHints(step_ms=4000)),
        ReadQuery(start_ms=(BASE_S - 1) * 1000, end_ms=(BASE_S + 12) * 1000, matchers=MATCHERS[8]),
    ],
)
@example(chunks=[], compact=True, queries=[ReadQuery(start_ms=0), ReadQuery(start_ms=BASE_S * 1000, matchers=MATCHERS[6])])
def test_read_request_equals_spark_plan(spark, tmp_path_factory, chunks, compact, queries):
    """``store.read_request(req)`` equals ``handle_read_request(store.read(),
    req)`` on stores mixing /write commits, Spark appends (sub-second
    ``ts``, INT96 files) and their compaction, with duplicated (series,
    second) rows, NaN, the staleness marker and ±0.0 — and on a store with
    no published file, where a hidden temp file must stay unread."""
    root = tmp_path_factory.mktemp("store")
    hidden = root / "ts_date=2024-01-01"
    hidden.mkdir()
    (hidden / ".part-00000-unpublished.c000.snappy.parquet.tmp").write_bytes(b"not parquet")
    store = SamplesStore(spark, str(root))
    for kind, rows in chunks:
        _write(spark, store, kind, rows)
    if compact:
        store.compact()
    req = prompb.ReadRequest(queries=list(queries))
    want = handle_read_request(store.read(), req)
    got = store.read_request(req)
    assert _canon(got) == _canon(want)
    if not chunks:
        assert all(r.timeseries == [] for r in got.results)


def test_reads_racing_compaction_equal_the_model(spark, tmp_path):
    """``compact()`` deletes the files it replaced while reads are listing
    and opening them.  A read that finds a listed file gone lists again;
    every read beside three compactions must still equal the store's
    answer before them (the Spark leg failed 45 of 111 such reads with
    ``FileNotFoundException``)."""
    store = SamplesStore(spark, str(tmp_path / "samples"))
    writer = TimeseriesWriter(store)
    for k in range(24):
        writer.write(prompb.WriteRequest(timeseries=[
            prompb.TimeSeries(
                labels=[prompb.Label("__name__", "up"), prompb.Label("job", f"j{j}")],
                samples=[prompb.Sample(float(k * j), (BASE_S + k) * 1000)],
            )
            for j in range(3)
        ]))
    req = prompb.ReadRequest(queries=[
        ReadQuery(start_ms=BASE_S * 1000, matchers=(LabelMatcher(EQ, "__name__", "up"),)),
        ReadQuery(start_ms=BASE_S * 1000, hints=ReadHints(step_ms=60000)),
    ])
    want = handle_read_request(store.read(), req)
    assert [len(r.timeseries) for r in want.results] == [3, 3]
    done = threading.Event()
    errors: list[BaseException] = []

    def compact():
        try:
            for _ in range(3):
                store.compact()
        except BaseException as e:  # re-raised below, on the test's thread
            errors.append(e)
        finally:
            done.set()

    compactor = threading.Thread(target=compact)
    compactor.start()
    reads = 0
    try:
        while not done.is_set():
            assert store.read_request(req) == want
            reads += 1
    finally:
        compactor.join(timeout=600)
    assert not compactor.is_alive()
    assert not errors, errors
    assert reads > 0
    assert len(list((tmp_path / "samples").glob("ts_date=*/*.parquet"))) == 2
    assert store.read_request(req) == want
