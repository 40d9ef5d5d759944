"""Hierarchical rollups: routing picks the coarsest exact resolution, and
rollup-served downsampled reads are bit-identical to raw-served ones."""

from __future__ import annotations

import pytest

from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
from remote_tsdb_clickhouse_spark.plans.read_plan import ReadHints, ReadQuery, read_query_grouped
from remote_tsdb_clickhouse_spark.sources.events import events_to_samples
from remote_tsdb_clickhouse_spark.sources.rollup import RollupStore
from remote_tsdb_clickhouse_spark.sources.samples_store import SamplesStore

SF = "/root/testdata/sf0.001"
T0 = 1704067200000
T20 = 1705708800000


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("rollup")
    base = SamplesStore(spark, str(tmp / "samples"))
    base.append(events_to_samples(spark, SF))
    rs = RollupStore(spark, base, str(tmp / "rollups"))
    rs.build(60)
    rs.build(3600, source_interval_s=60)  # coarse built FROM fine
    return base, rs


def _rows(df):
    return sorted(
        (r.metric_name, ",".join(r.slb), r.t, r.max_0)
        for r in df.collect()
    )


def test_resolutions_listed(stores):
    _, rs = stores
    assert rs.resolutions() == [60, 3600]


def test_routing(stores):
    _, rs = stores
    # raw query -> base (no rollup)
    _, res = rs.route(ReadQuery(start_ms=T0))
    assert res is None
    # 120 s downsample -> served by the 60 s rollup
    _, res = rs.route(ReadQuery(start_ms=T0, hints=ReadHints(step_ms=240000)))
    assert res == 60
    # 2 h downsample -> the 1 h rollup (coarsest exact)
    _, res = rs.route(ReadQuery(start_ms=T0, hints=ReadHints(step_ms=4 * 3600 * 1000)))
    assert res == 3600
    # 90 s downsample: 60 does not divide 90 -> base
    _, res = rs.route(ReadQuery(start_ms=T0, hints=ReadHints(step_ms=180000)))
    assert res is None


def test_rollup_served_results_exact(stores):
    base, rs = stores
    q = ReadQuery(
        start_ms=T0,
        end_ms=T20,
        matchers=(LabelMatcher(MatcherType.EQ, "__name__", "view"),),
        hints=ReadHints(step_ms=240000),  # -> 120 s buckets, served from 60 s rollup
    )
    served, res = rs.route(q)
    assert res == 60
    assert _rows(read_query_grouped(served, q)) == _rows(read_query_grouped(base.read(), q))


def test_rollup_unaligned_bounds_exact(stores):
    """Arbitrary (Prometheus-shaped) bounds: start 30 s past the minute and
    end mid-bucket.  The served frame must still be bit-identical to raw —
    partial edge buckets come from the base table, not from rollup rows
    whose max covers out-of-range samples."""
    base, rs = stores
    for start_off_ms, end_off_ms in [(30_000, 0), (0, -30_000), (30_000, -90_000)]:
        q = ReadQuery(
            start_ms=T0 + start_off_ms,
            end_ms=T20 + end_off_ms,
            matchers=(LabelMatcher(MatcherType.EQ, "__name__", "view"),),
            hints=ReadHints(step_ms=240000),  # -> 120 s buckets
        )
        served, res = rs.route(q)
        assert res == 60  # still rollup-served, not a raw fallback
        assert _rows(read_query_grouped(served, q)) == _rows(read_query_grouped(base.read(), q))


def test_rollup_unaligned_hot_edge_sample(spark, tmp_path):
    """The advisor's empirical case: a large value inside the partial first
    bucket must be served (from raw) and the straddling rollup row's
    out-of-range max must not leak in."""
    from pyspark.sql import Row

    from remote_tsdb_clickhouse_spark.model import SAMPLES_SCHEMA

    t0 = 1704067200  # 2024-01-01 00:00:00
    rows = [
        Row(ts=__import__("datetime").datetime.utcfromtimestamp(t0 + off), metric_name="m",
            labels=[], value=v)
        for off, v in [(10, 1000.0), (40, 11.0), (70, 7.0), (130, 3.0)]
    ]
    base = SamplesStore(spark, str(tmp_path / "s"))
    base.append(spark.createDataFrame(rows, SAMPLES_SCHEMA))
    rs = RollupStore(spark, base, str(tmp_path / "r"))
    rs.build(60)
    # start 30 s past the minute: the [0,60) bucket is partial; its rollup
    # max (1000.0 at +10s, out of range) must NOT be served
    q = ReadQuery(start_ms=(t0 + 30) * 1000, hints=ReadHints(step_ms=120000))
    got = {(r.t, r.max_0) for r in read_query_grouped(rs.route(q)[0], q).collect()}
    want = {(r.t, r.max_0) for r in read_query_grouped(base.read(), q).collect()}
    assert got == want
    assert all(v != 1000.0 for _, v in got)


def test_rollup_buckets_aligned(stores):
    """Rollup rows sit exactly on bucket boundaries (floor-aligned epoch),
    so any query interval that is a multiple of the resolution nests
    losslessly.  (Row-count compression is data-dependent — this corpus has
    one sample per series-bucket — so alignment is the invariant to hold.)"""
    base, rs = stores
    q = ReadQuery(start_ms=T0, end_ms=T20, hints=ReadHints(step_ms=4 * 3600 * 1000))
    served, res = rs.route(q)
    assert res == 3600
    from pyspark.sql import functions as F

    misaligned = served.where(F.col("ts").cast("long") % 3600 != 0).count()
    assert misaligned == 0


def test_rollup_routing_randomized_sweep(spark, tmp_path):
    """Seeded randomized sweep of ``route()``: a 3-series store spanning a
    day boundary with spike values planted at arbitrary offsets,
    resolutions {60, 300, 3600} built as a chain (each coarse level FROM
    the finer one), and a batch of queries with mid-bucket bounds, open
    ends, and step hints mixing divisible / non-divisible / sub-threshold
    values.  Two invariants per query: (1) the picked resolution equals a
    pure-Python model of the routing policy — coarsest divisor of the
    downsample interval with at least one fully covered bucket; (2) the
    served frame's grouped read is bit-identical to the same read over the
    raw base table (the union's edge/interior decomposition is exact for
    EVERY bound placement, not just the three fixed offsets above)."""
    import datetime as dt
    import random

    from pyspark.sql import Row

    from remote_tsdb_clickhouse_spark.model import SAMPLES_SCHEMA
    from remote_tsdb_clickhouse_spark.plans.read_plan import downsample_interval_seconds

    rng = random.Random(907)
    t0 = 1704067200  # 2024-01-01 00:00:00 UTC
    span_s = 2 * 86_400

    def _ts(off):
        return dt.datetime.fromtimestamp(t0 + off, dt.timezone.utc).replace(tzinfo=None)

    series = [("view", ["job=web"]), ("view", ["job=api"]), ("cpu", ["job=web"])]
    rows = []
    for name, labels in series:
        for _ in range(140):
            off = rng.randrange(span_s)
            # spikes make edge-bucket leaks visible: a straddling rollup
            # row's out-of-range max would dominate any aggregate it leaks
            # into (the advisor's hot-edge class, randomized)
            v = 10_000.0 + rng.random() if rng.random() < 0.1 else rng.uniform(0, 100)
            rows.append(Row(ts=_ts(off), metric_name=name, labels=labels, value=v))
    base = SamplesStore(spark, str(tmp_path / "s"))
    base.append(spark.createDataFrame(rows, SAMPLES_SCHEMA))
    rs = RollupStore(spark, base, str(tmp_path / "r"))
    rs.build(60)
    rs.build(300, source_interval_s=60)
    rs.build(3600, source_interval_s=300)

    def py_route(d, start_s, end_s):
        # the routing policy, modeled independently of the implementation
        if d is None:
            return None
        fits = [r for r in (60, 300, 3600) if d % r == 0 and r <= d]
        if not fits:
            return None
        r = max(fits)
        istart = -(-start_s // r) * r
        if end_s is not None and ((end_s + 1) // r) * r <= istart:
            return None
        return r

    # step hints: off (0), at/below the 2 s activation threshold, and
    # intervals that land on each resolution, between them, and past 1 h
    step_pool = [0, 2000, 2001, 120_000, 180_000, 600_000, 601_000,
                 1_200_000, 7_200_000, 86_400_000]
    trials = 0
    rollup_served = 0
    for _ in range(16):
        start_ms = (t0 + rng.randrange(span_s)) * 1000 + rng.randrange(1000)
        if rng.random() < 0.25:
            end_ms = 0  # open upper bound
        else:
            end_ms = start_ms + rng.randrange(1000, span_s * 1000) + rng.randrange(1000)
        matchers = ()
        if rng.random() < 0.5:
            matchers = (LabelMatcher(MatcherType.EQ, "__name__", "view"),)
        hints = ReadHints(step_ms=rng.choice(step_pool),
                          range_ms=rng.choice([0, 90_000, 500_000]))
        q = ReadQuery(start_ms=start_ms, end_ms=end_ms, matchers=matchers, hints=hints)
        served, res = rs.route(q)
        d = downsample_interval_seconds(q.hints)
        end_s = q.end_ms // 1000 if q.end_ms > 0 else None
        assert res == py_route(d, q.start_ms // 1000, end_s), (q, res)
        assert _rows(read_query_grouped(served, q)) == _rows(
            read_query_grouped(base.read(), q)
        ), q
        trials += 1
        rollup_served += res is not None
    # the sweep must actually exercise the rollup path, not just fallbacks
    # (seed 907 yields 5 rollup-served trials out of 16)
    assert trials == 16 and rollup_served >= 5


def test_rollup_rebuild_equals_fresh_build(spark, tmp_path):
    """Rebuilding a resolution after the base grew gives exactly a fresh
    build: the rebuild deletes the files of the previous one, so no row
    is duplicated and no stale bucket max survives."""
    import datetime as dt

    from pyspark.sql import Row

    from remote_tsdb_clickhouse_spark.model import SAMPLES_SCHEMA

    def rows(offsets_values, name="m"):
        t0 = dt.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [Row(ts=t0 + dt.timedelta(seconds=off), metric_name=name, labels=["job=a"], value=v)
             for off, v in offsets_values],
            SAMPLES_SCHEMA,
        )

    base = SamplesStore(spark, str(tmp_path / "s"))
    base.append(rows([(10, 1.0), (70, 2.0), (86_400 + 5, 3.0)]))
    rs = RollupStore(spark, base, str(tmp_path / "r"))
    rs.build(60)
    # a larger value into an existing bucket, a smaller one into another,
    # a new bucket, a new series and a new day
    base.append(rows([(20, 9.0), (80, 0.5), (130, 4.0), (2 * 86_400, 6.0)]))
    base.append(rows([(10, 8.0)], name="n"))
    rs.build(60)
    fresh = RollupStore(spark, base, str(tmp_path / "fresh"))
    fresh.build(60)

    def content(store):
        return sorted(
            (r.ts, r.metric_name, tuple(r.labels), r.value) for r in store.read(60).collect()
        )

    got = content(rs)
    assert got == content(fresh)
    assert len(got) == len(set(got)) == 6
