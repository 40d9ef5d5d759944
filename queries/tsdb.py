"""TSDB queries (SURVEY §2.1-2.6) over the events-derived samples table,
the protocol layer (prompb codec, snappy framing, flatten writer, response
assembly) and the ClickHouse serving leg, with their DuckDB oracles."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark import codec, prompb
from remote_tsdb_clickhouse_spark.functions.tsfuncs import (
    count_values,
    delta,
    deriv,
    exp_smooth,
    histogram_buckets,
    histogram_quantile,
    increase,
    irate,
    label_join,
    label_project,
    label_replace,
    label_value,
    per_second_rate,
    predict_linear,
    quantile_over_time,
    range_aggregate,
    resets_changes,
    stddev_over_time,
)
from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher
from remote_tsdb_clickhouse_spark.plans.read_plan import (
    ReadHints,
    ReadQuery,
    read_query_df,
    read_query_grouped,
)
from remote_tsdb_clickhouse_spark.server.service import handle_read_request
from remote_tsdb_clickhouse_spark.sources.events import (
    SAMPLES_ORACLE_CTE,
    events_to_samples,
    samples_from_events,
)
from remote_tsdb_clickhouse_spark.sources.writer import write_request_df
from remote_tsdb_clickhouse_spark.util import spread

from ._common import (
    EQ,
    NEQ,
    NRE,
    Query,
    RE,
    T0,
    T20,
    T5,
    TS0,
    TS20,
    TS5,
    _dsum,
    _epoch,
    _events,
    _expr_memo,
    _lbl,
    _mkdtemp,
    _session_memo,
)


#: Cached-samples partition count at LOCAL-BENCH scale — the measured knee
#: of the spread sweep documented in _samples().  Scope guard:
#: the knee is only passed to spread() when defaultParallelism is at or
#: below the local-bench core count (_samples_spread below).  Why the
#: guard is needed: spread()'s file-count short-circuit only fires at
#: roughly n_files >= 2 * target * maxPartitionBytes / openCostInBytes
#: (~256 files at target=4 under the default 128 MiB / 4 MiB confs), so a
#: mid-scale deployment whose events table is a handful of large-but-few
#: files falls through the short-circuit and would be CAPPED at 4
#: partitions despite hundreds of cores; beyond local parallelism the
#: guard defers to spread()'s default target (defaultParallelism).
_SAMPLES_SPREAD = 4
_LOCAL_BENCH_PARALLELISM = 32


def _samples_spread(default_parallelism: int) -> int | None:
    """``min_partitions`` for the cached-samples spread: the measured
    local knee at local-bench parallelism, ``None`` (= spread()'s own
    defaultParallelism target) beyond it.  Pure function of
    defaultParallelism so the scale guard is unit-testable.  At local[32]
    this returns exactly the pre-guard constant — a provable local no-op
    (tests/test_entry_misc.py::test_samples_spread_guard asserts both the
    function and the cached frame's partition count), so no tsdb query's
    local result changes."""
    if default_parallelism <= _LOCAL_BENCH_PARALLELISM:
        return _SAMPLES_SPREAD
    return None


def _samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All 22 tsdb_* queries start from this exact derivation (scan + regexp
    # label extraction + array_sort); persist it so the family computes it
    # once — Spark's cache manager matches by analyzed plan, so every call
    # site hits the same entry.  At cluster scale this is the standard
    # hot-table cache for a query family (MEMORY_AND_DISK default spills
    # rather than OOMs); bench.py clears cache at family boundaries so the
    # entry doesn't tax unrelated queries' plan lookups.  The DataFrame
    # OBJECT is additionally memoized per session/sf (_samples_frame, same
    # catalog-metastore argument as _tbl): rebuilding it per call re-ran
    # the parquet file-listing + footer-schema driver job every query.
    # is_cached is a driver-side flag that clearCache does not reset, so
    # after a clearCache only an explicit persist() re-registers the frame
    # (family_warmup does that at the bench's family boundaries).
    df = _samples_frame(spark, sf_dir)
    if not df.is_cached:
        df.persist()
    return df


@_session_memo("table")
def _samples_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread() BEFORE the label derivation: the
    # testdata events table is a single parquet row group, so the scan is
    # ONE partition and the family's first map stage (regexp label
    # extraction + array build) would run single-core — and the persisted
    # cache would hold ONE partition, serializing every downstream stage
    # that reads it.  Round-robin the RAW events first so the derivation
    # itself parallelizes; at cluster scale the table has thousands of
    # row groups and spread() short-circuits to a no-op (util.py
    # file-count bound), so the partition count below is local-bench-only.
    # The count is the measured knee, NOT defaultParallelism: every tsdb
    # query schedules one task per cached partition on its first stage, so
    # at sf0.1 the per-query scheduling cost of 32 tiny tasks exceeds the
    # parallelism win.  12-query family probe, min of 3 reps:
    # 1 (no spread) 6.21 s, 4 -> 5.92 s, 8 -> 6.10 s, 16 -> 6.67 s,
    # 32 -> 7.49 s.  Same knee-sweep method as streaming_dedup's
    # shuffle-partition knob.
    return samples_from_events(
        spread(
            _events(spark, sf_dir),
            _samples_spread(spark.sparkContext.defaultParallelism),
        )
    )


def _slb_value(name: str) -> F.Column:
    """Memoized ``label_value(F.col("slb"), name)`` — the X2 extraction is
    a fixed HOF chain per label name (~25 ms of py4j per build)."""
    return _expr_memo(("slbv", name), lambda: label_value(F.col("slb"), name))


# ---------------------------------------------------------------------------
# TSDB core (SURVEY §2.1-2.6 over the events-derived samples table)
# ---------------------------------------------------------------------------


def _flat_grouped(df: DataFrame) -> DataFrame:
    """(metric_name, labels_str, t epoch-s, max_0) — the P1 projection made
    hash-comparable."""
    return df.select("metric_name", _lbl(), _epoch(), "max_0")


def q_tsdb_read_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = ReadQuery(start_ms=T5, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "purchase"),))
    return _flat_grouped(read_query_grouped(_samples(spark, sf_dir), q))


def q_tsdb_read_name_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = ReadQuery(
        start_ms=T0,
        end_ms=T20,
        matchers=(
            LabelMatcher(RE, "__name__", "(click|view)"),
            LabelMatcher(NEQ, "tier", "gold"),
        ),
    )
    return _flat_grouped(read_query_grouped(_samples(spark, sf_dir), q))


def q_tsdb_read_nre(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = ReadQuery(
        start_ms=T5,
        end_ms=T20,
        matchers=(
            LabelMatcher(NRE, "__name__", "(click|view|error)"),
            LabelMatcher(NEQ, "__name__", "signup"),
        ),
    )
    return _flat_grouped(read_query_grouped(_samples(spark, sf_dir), q))


def q_tsdb_label_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = ReadQuery(
        start_ms=T0,
        end_ms=T20,
        matchers=(
            LabelMatcher(EQ, "__name__", "error"),
            LabelMatcher(RE, "user", "1.*"),
            LabelMatcher(NRE, "k", "6.*"),
        ),
    )
    return _flat_grouped(read_query_grouped(_samples(spark, sf_dir), q))


def q_tsdb_downsample_30s(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = ReadQuery(
        start_ms=T5,
        end_ms=T20,
        matchers=(LabelMatcher(EQ, "__name__", "view"),),
        hints=ReadHints(step_ms=60000),
    )
    return _flat_grouped(read_query_grouped(_samples(spark, sf_dir), q))


@_session_memo("staging")
def _rollup_store(spark: SparkSession, sf_dir: str):
    """The store build (base parquet write + 60 s and 1 h rollups) is
    ingest-side setup for q_tsdb_rollup_serve."""
    from remote_tsdb_clickhouse_spark.sources.rollup import RollupStore
    from remote_tsdb_clickhouse_spark.sources.samples_store import SamplesStore

    root = _mkdtemp(prefix="rollup_")
    base = SamplesStore(spark, f"{root}/samples")
    base.append(events_to_samples(spark, sf_dir))
    rs = RollupStore(spark, base, f"{root}/rollups")
    rs.build(60)
    # hierarchy: 1 h built FROM the 1 min rollup (60x less input than
    # raw; exact because max composes) — q_tsdb_rollup_hierarchy
    # serves from it via coarsest-exact routing
    rs.build(3600, source_interval_s=60)
    return rs


def q_tsdb_rollup_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-rollup serving (continuous-aggregate pattern,
    sources/rollup.py): a 60 s precomputed rollup serves a 120 s-downsample
    remote-read whose bounds fall MID-bucket, so the served frame is the
    rollup interior unioned with two partial-edge raw scans — and the
    oracle is the plain raw-scan downsample SQL, i.e. the route must be
    bit-identical to not having rollups at all while scanning ~60x less
    interior data."""
    rs = _rollup_store(spark, sf_dir)
    q = ReadQuery(
        start_ms=T5 + 30_000,  # mid-bucket: exercises the leading raw edge
        end_ms=T20 + 30_000,  # mid-bucket: exercises the trailing raw edge
        matchers=(LabelMatcher(EQ, "__name__", "view"),),
        hints=ReadHints(step_ms=240000),  # -> 120 s buckets; 60 | 120
    )
    return _flat_grouped(rs.read_query_grouped(q))


@_session_memo("staging")
def _compacted_store(spark: SparkSession, sf_dir: str):
    """Samples store appended in three micro-batches (the small-file shape
    streaming ingest produces) then compacted to one file per date
    partition — memoized per (session, sf_dir) beside the rollup store;
    the build is ingest-side maintenance, the query serves from it."""
    from remote_tsdb_clickhouse_spark.sources.samples_store import SamplesStore

    root = _mkdtemp(prefix="compact_")
    st = SamplesStore(spark, f"{root}/samples")
    s = events_to_samples(spark, sf_dir).where(F.col("metric_name") == "click")
    cut1, cut2 = "2024-01-07 00:00:00", "2024-01-14 00:00:00"
    st.append(s.where(F.col("ts") < cut1))
    st.append(s.where((F.col("ts") >= cut1) & (F.col("ts") < cut2)))
    st.append(s.where(F.col("ts") >= cut2))
    st.compact()
    return st


@_session_memo("staging")
def _retention_store(spark: SparkSession, sf_dir: str):
    """Store built off the purchase series, then swept by the TTL job
    (append + delete_time_range) — setup for q_tsdb_retention_serve."""
    from remote_tsdb_clickhouse_spark.sources.samples_store import SamplesStore

    root = _mkdtemp(prefix="retention_")
    st = SamplesStore(spark, f"{root}/samples")
    st.append(events_to_samples(spark, sf_dir).where(F.col("metric_name") == "purchase"))
    st.delete_time_range("2024-01-03 12:00:00", "2024-01-06 12:00:00")
    return st


def q_tsdb_retention_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 as a retention sweep: the TTL job deletes days 3-6 (mid-range,
    exercising both whole-partition drops and edge-partition rewrites in
    ``delete_time_range``) from a store built off the purchase series;
    serving the FULL range afterwards must hash-match the raw-scan oracle
    with the deleted window excluded — the delete is proven
    semantics-exact, not just file-count-plausible.  Store build + sweep
    are memoized setup; the timed query is the serve."""
    st = _retention_store(spark, sf_dir)
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "purchase"),))
    return _flat_grouped(read_query_grouped(st.read(), q))


def q_tsdb_compact_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 serving from a COMPACTED store: three micro-batch appends leave
    the date partitions as small-file stacks, ``compact()`` (the OPTIMIZE
    analog) rewrites each partition at one sorted file, and the A1
    grouped-max read over the result must hash-match the plain raw-scan
    oracle — compaction is maintenance, not semantics.  (File-count
    collapse itself is asserted in test_store_writer.py; this row proves
    losslessness on real data.)"""
    st = _compacted_store(spark, sf_dir)
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "click"),))
    return _flat_grouped(read_query_grouped(st.read(), q))


def q_tsdb_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup serving: the store holds BOTH a 1 min and a
    1 h rollup (the hour built FROM the minute — 60x less input, exact
    because max composes), and a 2 h-downsample read must route to the
    COARSEST exact resolution (3600 | 7200), union mid-bucket raw edges,
    and still hash-match the plain raw-scan oracle.  Completes the
    continuous-aggregate story beyond tsdb_rollup_serve's single level:
    at 100 TB the dashboard-range query reads the hour table (~3600x less
    than raw), not the minute table."""
    rs = _rollup_store(spark, sf_dir)
    q = ReadQuery(
        start_ms=T5 + 1_800_000,  # mid-bucket: leading raw edge
        end_ms=T20 + 1_800_000,  # mid-bucket: trailing raw edge
        matchers=(LabelMatcher(EQ, "__name__", "click"),),
        hints=ReadHints(step_ms=14_400_000),  # -> 7200 s buckets; 3600 | 7200
    )
    return _flat_grouped(rs.read_query_grouped(q))


def q_tsdb_downsample_range_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # range_ms < step_ms wins: min(60000, 10000)/2/1000 = 5 s buckets; no matchers
    q = ReadQuery(start_ms=T5, end_ms=T20, hints=ReadHints(step_ms=60000, range_ms=10000))
    return _flat_grouped(read_query_grouped(_samples(spark, sf_dir), q))


def q_tsdb_series_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = ReadQuery(start_ms=T0, matchers=(LabelMatcher(EQ, "__name__", "signup"),))
    assembled = read_query_df(_samples(spark, sf_dir), q)
    first_s = F.element_at("samples", 1)
    last_s = F.element_at("samples", -1)
    return assembled.select(
        "metric_name",
        _lbl(),
        F.size("samples").cast("long").alias("n_samples"),
        first_s["t"].cast("long").alias("first_t"),
        last_s["t"].cast("long").alias("last_t"),
        first_s["v"].alias("first_v"),
        last_s["v"].alias("last_v"),
        F.aggregate(
            "samples",
            F.lit(0).cast("decimal(38,6)"),
            lambda acc, s: acc + s["v"].cast("decimal(30,6)"),
        ).cast("double").alias("sum_v"),
    )


def q_tsdb_ignore_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F8: the EQ matcher on remote=clickhouse is silently dropped
    q = ReadQuery(
        start_ms=T5,
        end_ms=T20,
        matchers=(
            LabelMatcher(EQ, "remote", "clickhouse"),
            LabelMatcher(EQ, "__name__", "error"),
            LabelMatcher(EQ, "k", "42"),
        ),
    )
    return _flat_grouped(read_query_grouped(_samples(spark, sf_dir), q))


def q_tsdb_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = ReadQuery(start_ms=T0, matchers=(LabelMatcher(EQ, "__name__", "purchase"),))
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    rated = per_second_rate(grouped)
    return rated.select("metric_name", _lbl(), _epoch(), "rate")


def q_tsdb_subquery_maxrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL subquery composition ``max_over_time(rate(m[..])[1h:])``:
    the instantaneous per-second rate (X1, reset-aware) re-aggregated in
    1-hour buckets — the alerting idiom "worst rate this hour".  Pure
    composition of two oracled operators (per_second_rate -> bucket max);
    max of doubles adds no float-summation drift, and the reset-NULL
    convention is made explicit (NULL rates excluded on both sides).
    One window + one hash aggregation, both keyed on the series."""
    q = ReadQuery(start_ms=T0, matchers=(LabelMatcher(EQ, "__name__", "view"),))
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    rated = per_second_rate(grouped)
    epoch = F.col("t").cast("long")
    return (
        rated.where(F.col("rate").isNotNull())
        .groupBy("metric_name", "slb", (epoch - epoch % 3600).alias("bucket_t"))
        .agg(F.max("rate").alias("max_rate"), F.count("*").alias("n_rates"))
        .select("metric_name", _lbl(), "bucket_t", "max_rate", "n_rates")
    )


def q_tsdb_label_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    # X2: project the user=* label out of the labelset, value*8 (bits example)
    s = _samples(spark, sf_dir)
    return (
        s.where(
            (F.col("metric_name") == "click")
            & (F.col("ts") >= F.timestamp_seconds(F.lit(T5 // 1000)))
            & (F.col("ts") <= F.timestamp_seconds(F.lit(T20 // 1000)))
        )
        .select(
            "metric_name",
            F.array_join(label_project(F.col("labels"), "user"), ",").alias("labels_user_str"),
            F.col("ts").cast("long").alias("t"),
            (F.col("value") * 8).alias("bits"),
        )
    )


def q_tsdb_irate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL irate: rate of the last two samples per series, one row per
    series."""
    q = ReadQuery(start_ms=T0, matchers=(LabelMatcher(EQ, "__name__", "click"),))
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    return irate(grouped).select("metric_name", _lbl(), _epoch(), "irate")


def q_tsdb_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL delta: last-minus-first per series (pure groupBy max_by/min_by
    aggregation — no window sort, map-side partials)."""
    q = ReadQuery(start_ms=T0, matchers=(LabelMatcher(EQ, "__name__", "view"),))
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    return delta(grouped).select("metric_name", _lbl(), "delta", "range_s", "n_samples")


def q_tsdb_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL increase: reset-aware counter growth per series."""
    q = ReadQuery(start_ms=T0, matchers=(LabelMatcher(EQ, "__name__", "click"),))
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    return increase(grouped).select("metric_name", _lbl(), "increase")


def q_tsdb_resets_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL resets + changes: adjacent-drop and adjacent-change counts per
    series."""
    q = ReadQuery(start_ms=T0, matchers=(LabelMatcher(EQ, "__name__", "purchase"),))
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    return resets_changes(grouped).select("metric_name", _lbl(), "resets", "changes")


def q_tsdb_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL *_over_time family: per-series avg/min/max/count in 1-hour
    tumbling buckets (floor-aligned like the A2 downsampler)."""
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "signup"),))
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    return range_aggregate(grouped, 3600).select(
        "metric_name", _lbl(), "bucket_t", "avg_v", "min_v", "max_v", "n"
    )


def q_tsdb_stddev_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL stddev_over_time + last_over_time: per-series 1-hour buckets
    with population stddev and the latest value
    (functions/tsfuncs.stddev_over_time — decimal-exact square sums,
    IEEE-exact sqrt/div only, so ``stddev_micro`` is bit-identical in
    DuckDB)."""
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "view"),))
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    return stddev_over_time(grouped, 3600).select(
        "metric_name", _lbl(), "bucket_t", "n", "sum_micro", "stddev_micro", "last_v"
    )


def q_tsdb_exp_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing (the level term of PromQL ``holt_winters``
    at alpha = 0.5) over each series' trailing 21 samples
    (functions/tsfuncs.exp_smooth — alpha = 1/2 makes the unrolled
    recurrence pure int64 shift-adds scaled by 2^20, bit-identical
    cross-engine where a float ``pow`` chain would drift)."""
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "purchase"),))
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    return exp_smooth(grouped, window_n=21).select(
        "metric_name", _lbl(), "n_used", "smooth_scaled"
    )


def q_tsdb_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series trailing 5-point moving average over the grouped-max
    samples (window frame over the series key — the smoothing companion to
    X1's rate).  Decimal per-row casts keep the frame sum order-free."""
    from pyspark.sql import Window

    q = ReadQuery(start_ms=T5, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "view"),))
    grouped = read_query_grouped(_samples(spark, sf_dir), q)
    flat = grouped.select("metric_name", _lbl(), _epoch(), "max_0")
    w = (
        Window.partitionBy("metric_name", "labels_str")
        .orderBy("t")
        .rowsBetween(-4, 0)
    )
    avg5 = (
        F.sum(F.col("max_0").cast("decimal(30,6)")).over(w).cast("double")
        / F.count("*").over(w)
    )
    return flat.select("metric_name", "labels_str", "t", avg5.alias("avg5"))


def q_tsdb_topk_per_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``topk`` at each evaluation step: the 3 highest-valued
    series per 6-hour bucket (bucket max per series first, then a
    row_number cut ordered by value desc with the labelset as the
    deterministic tie-break).  Two shuffles total: the bucket aggregation
    and the per-bucket ranking window — both partition on the bucket key,
    so Catalyst reuses the exchange for the window."""
    from pyspark.sql import Window

    q = ReadQuery(start_ms=T5, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "purchase"),))
    grouped = read_query_grouped(_samples(spark, sf_dir), q)
    epoch = F.col("t").cast("long")
    bucket = (epoch - epoch % 21600).alias("bucket_t")
    per_series = (
        grouped.select("metric_name", _lbl(), bucket, "max_0")
        .groupBy("metric_name", "labels_str", "bucket_t")
        .agg(F.max("max_0").alias("v"))
    )
    w = Window.partitionBy("bucket_t").orderBy(
        F.col("v").desc(), F.col("labels_str").asc()
    )
    return (
        per_series.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select("bucket_t", "rk", "metric_name", "labels_str", "v")
    )


def q_tsdb_sliding_range_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series trailing 1-hour sliding max at every sample point — a
    RANGE window frame over event-time seconds (value-based bounds), the
    complement of ``tsdb_moving_avg``'s ROWS frame: irregular scrape gaps
    change how many samples fall in the hour, which a row-count frame
    can't express.  One window shuffle on the series key; max of doubles
    is order-free so no decimal detour is needed."""
    from pyspark.sql import Window

    q = ReadQuery(start_ms=T5, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "signup"),))
    grouped = read_query_grouped(_samples(spark, sf_dir), q)
    flat = grouped.select("metric_name", _lbl(), _epoch(), "max_0")
    w = (
        Window.partitionBy("metric_name", "labels_str")
        .orderBy("t")
        .rangeBetween(-3599, 0)
    )
    return flat.select(
        "metric_name", "labels_str", "t", F.max("max_0").over(w).alias("max_1h")
    )


def q_tsdb_label_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``label_replace`` + re-aggregate: derive a ``shard`` label
    from the leading digit of each series' ``user`` label, then sum the
    grouped values by (metric, shard) — the standard cardinality-reduction
    move (thousands of per-user series to ten shards).  The rewrite is a
    per-row projection; the re-aggregate is one map-side-combined shuffle
    on the ten derived keys."""
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "click"),))
    grouped = read_query_grouped(_samples(spark, sf_dir), q)
    rewritten = label_replace(grouped, dst="shard", src="user", pattern="([0-9])[0-9]*")
    shard = _slb_value("shard").alias("shard")
    return (
        rewritten.select("metric_name", shard, "max_0")
        .groupBy("metric_name", "shard")
        .agg(_dsum(F.col("max_0")).alias("sum_v"), F.count("*").alias("n_samples"))
    )


def q_tsdb_mad_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``mad_over_time``: per-series median absolute deviation with
    discrete medians at both stages (tsfuncs.mad_over_time — sorted-array
    indexing + one exact IEEE subtraction, bit-exact cross-engine)."""
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "click"),))
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    from remote_tsdb_clickhouse_spark.functions.tsfuncs import mad_over_time

    return mad_over_time(grouped).select(
        "metric_name", _lbl(), "n_samples", "median_v", "mad_v"
    )


def q_tsdb_quantile_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``quantile_over_time``: per-series discrete p50/p95 over the
    queried range (type-1 quantile — sorted-array indexing, bit-exact
    cross-engine; see tsfuncs.quantile_over_time)."""
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "purchase"),))
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    return quantile_over_time(grouped, [0.5, 0.95]).select(
        "metric_name", _lbl(), "n_samples", "p50", "p95"
    )


def q_tsdb_label_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``label_join`` + re-aggregate: fuse ``user`` and ``tier``
    into one ``ut`` label (missing tier contributes the empty string, the
    Prometheus rule), then sum by the fused key — the companion move to
    ``label_replace`` for composite grouping keys."""
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "error"),))
    grouped = read_query_grouped(_samples(spark, sf_dir), q)
    rewritten = label_join(grouped, dst="ut", sep="|", srcs=["user", "tier"])
    ut = _slb_value("ut").alias("ut")
    return (
        rewritten.select("metric_name", ut, "max_0")
        .groupBy("metric_name", "ut")
        .agg(_dsum(F.col("max_0")).alias("sum_v"), F.count("*").alias("n_samples"))
    )


def q_tsdb_binary_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL binary operation with vector matching: ``error / click``
    sample-count ratio per user per hour — the ``a / b on(user)`` shape
    (two selectors aggregated to a common label/bucket key, inner-joined:
    entries with no counterpart drop, the Prometheus rule).

    Both sides aggregate to (user, hour) BEFORE the join, so the join is
    post-aggregation-sized; the ratio divides two bigints as doubles
    (single IEEE division — bit-exact cross-engine).  Catalyst reuses the
    aggregation exchanges for the equi-join: one shuffle per side total."""
    samples = _samples(spark, sf_dir)

    def per_user_hour(metric: str, out: str) -> DataFrame:
        q = ReadQuery(
            start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", metric),)
        )
        g = read_query_grouped(samples, q)
        epoch = F.col("t").cast("long")
        return (
            g.select(
                _slb_value("user").alias("user_id"),
                (epoch - epoch % 3600).alias("bucket_t"),
            )
            .groupBy("user_id", "bucket_t")
            .agg(F.count("*").alias(out))
        )

    a = per_user_hour("error", "n_error")
    b = per_user_hour("click", "n_click")
    return a.join(b, ["user_id", "bucket_t"]).select(
        "user_id",
        "bucket_t",
        "n_error",
        "n_click",
        (F.col("n_error").cast("double") / F.col("n_click").cast("double")).alias("ratio"),
    )


def q_tsdb_count_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``count_values``: number of samples and series per distinct
    (floored) gauge value — the cardinality-inversion move (the value
    becomes the grouping key).  Flooring first keeps the key discrete, the
    realistic use (Prometheus users count integer gauges like replica
    counts).  One hash aggregation on (metric, value): output is bounded
    by value cardinality, not sample count."""
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "view"),))
    grouped = read_query_grouped(_samples(spark, sf_dir), q)
    floored = grouped.withColumn("max_0", F.floor(F.col("max_0")).cast("long"))
    return count_values(floored)


def q_tsdb_deriv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``deriv``: per-series least-squares slope (micro-units/hour).
    The five regression statistics are exact int64 sums (order-free,
    map-side combinable — the 100 TB shape: one shuffle of per-series
    partials); the slope is one IEEE division of two exactly-converted
    integers, bit-identical to the DuckDB oracle."""
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "purchase"),))
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    return deriv(grouped, T0 // 1000).select(
        "metric_name", _lbl(), "n_samples", "slope_mu"
    )


def q_tsdb_predict_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``predict_linear``: extrapolate each series one day past the
    queried range (hour 480 after window start) via ``ȳ + slope·(tp − t̄)``
    — a fixed double expression tree over exact integer statistics, so the
    oracle comparison is raw-bit (see tsfuncs.predict_linear for why the
    single-division closed form is avoided)."""
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "purchase"),))
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    return predict_linear(grouped, T0 // 1000, 480).select(
        "metric_name", _lbl(), "n_samples", "predicted_mu"
    )


_HIST_BOUNDS = [4, 16, 64, 256]  # purchase values span ~1..287


def q_tsdb_histogram_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus histogram ingestion shape: cumulative ``le`` bucket
    series built from raw samples — one conditional count per bound in a
    SINGLE hash aggregation (no explode, no window), then a pure unpivot
    to the (le, cum) wire format that ``histogram_quantile`` consumes."""
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "purchase"),))
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    return histogram_buckets(grouped, _HIST_BOUNDS).select(
        "metric_name", _lbl(), "le", "cum"
    )


def q_tsdb_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``histogram_quantile(0.9, ...)`` in exact integer
    micro-units: bucket search is a chained CASE over the wide cumulative
    counts; in-bucket linear interpolation is pure int64 floor division
    (Prometheus edge rules: first bucket interpolates from 0, +Inf bucket
    returns the highest finite bound)."""
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "purchase"),))
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    return histogram_quantile(grouped, 9, 10, _HIST_BOUNDS).select(
        "metric_name", _lbl(), "n_samples", "q_mu"
    )


def q_tsdb_label_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus ``/api/v1/label/<name>/values`` analog: distinct values of
    one label key across series matching a time range — explode the label
    array, prefix-filter, distinct."""
    s = _samples(spark, sf_dir)
    return (
        s.where(
            (F.col("ts") >= F.timestamp_seconds(F.lit(T5 // 1000)))
            & (F.col("ts") <= F.timestamp_seconds(F.lit(T20 // 1000)))
        )
        .select(F.explode("labels").alias("lbl"))
        .where(F.col("lbl").startswith("tier="))
        # substring past the prefix, NOT split-on-'=': label values may
        # themselves contain '=' (only the first '=' is structural)
        .select(F.col("lbl").substr(F.lit(6), F.length("lbl")).alias("value"))
        .distinct()
    )


def q_tsdb_series_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series cardinality per metric: count of distinct labelsets — the
    reference's '16,032 unique combinations' statistic (README.md:31)."""
    s = _samples(spark, sf_dir)
    return s.groupBy("metric_name").agg(
        F.count_distinct(F.array_join(F.array_sort("labels"), ",")).alias("n_series")
    )


def q_tsdb_sum_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sum by (tier) (...)``: collapse the series dimension, keeping
    one label as the grouping key — per (tier, t) exact sum across all
    series of a metric.  Missing label groups under the empty string, like
    PromQL's absent-label behavior.  One hash aggregation; the label
    extraction is a codegen'd higher-order filter, not a UDF."""
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "view"),))
    grouped = read_query_grouped(_samples(spark, sf_dir), q)
    tier = F.coalesce(_slb_value("tier"), F.lit(""))
    return (
        grouped.select(tier.alias("tier"), _epoch(), "max_0")
        .groupBy("tier", "t")
        .agg(_dsum(F.col("max_0")).alias("sum_v"))
    )


def q_tsdb_topk_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``topk(3, avg_over_time(...))``: the 3 series with the highest
    mean value per metric.  The mean goes through the exact decimal route so
    both engines rank identical doubles; ties break on the labelset string."""
    from pyspark.sql import Window

    q = ReadQuery(start_ms=T0, matchers=())
    grouped = read_query_grouped(_samples(spark, sf_dir), q)
    flat = grouped.select("metric_name", _lbl(), "max_0")
    avg_v = (
        F.sum(F.col("max_0").cast("decimal(30,6)")).cast("double") / F.count("*")
    ).alias("avg_v")
    per_series = flat.groupBy("metric_name", "labels_str").agg(avg_v)
    w = Window.partitionBy("metric_name").orderBy(F.col("avg_v").desc(), F.col("labels_str"))
    return (
        per_series.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
    )


def q_tsdb_max_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrape-gap detection: the largest interval between consecutive
    samples per series (staleness/SLO monitoring).  One lag window then a
    groupBy on the same series key (exchange reuse — single shuffle)."""
    from pyspark.sql import Window

    q = ReadQuery(start_ms=T0, matchers=(LabelMatcher(EQ, "__name__", "purchase"),))
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    w = Window.partitionBy("metric_name", "slb").orderBy("t")
    gap = F.col("t").cast("long") - F.lag(F.col("t").cast("long")).over(w)
    return (
        grouped.select("metric_name", "slb", gap.alias("_gap"))
        .groupBy("metric_name", "slb")
        .agg(F.max("_gap").alias("max_gap_s"), F.count("*").alias("n_samples"))
        .where(F.col("max_gap_s").isNotNull())
        .select("metric_name", _lbl(), "max_gap_s", "n_samples")
    )


def q_tsdb_stale_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staleness report: series whose newest sample is older than 24h before
    the range end — a pure groupBy max (map-side partials, no window)."""
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=())
    grouped = read_query_grouped(
        _samples(spark, sf_dir), q, series_partitioned=True
    )
    end_s = T20 // 1000
    return (
        grouped.groupBy("metric_name", "slb")
        .agg(F.max(F.col("t").cast("long")).alias("last_t"))
        .where(F.col("last_t") < F.lit(end_s - 86400))
        .select("metric_name", _lbl(), "last_t", (F.lit(end_s) - F.col("last_t")).alias("stale_s"))
    )


def q_tsdb_offset_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``offset`` modifier: per-series hourly sum now vs the same
    hour one day earlier, as a day-over-day ratio.  Both legs come from ONE
    scan/aggregation (self-join on the shifted bucket key — at scale the
    join is an equi-join on (series, hour), shuffle-partitioned once);
    sums stay in exact micro-units and the ratio quantizes to micro-units
    (IEEE-exact division + floor) for cross-engine stability."""
    q = ReadQuery(start_ms=T0, end_ms=T20, matchers=(LabelMatcher(EQ, "__name__", "view"),))
    grouped = read_query_grouped(_samples(spark, sf_dir), q)
    flat = grouped.select("metric_name", _lbl(), _epoch(), "max_0")
    hourly = (
        flat.select(
            "metric_name",
            "labels_str",
            (F.col("t") - F.col("t") % 3600).alias("bucket_t"),
            F.floor(F.col("max_0") * 1000000.0).cast("long").alias("iv"),
        )
        .groupBy("metric_name", "labels_str", "bucket_t")
        .agg(F.sum("iv").alias("s"))
    )
    prev = hourly.select(
        "metric_name",
        "labels_str",
        (F.col("bucket_t") + 86400).alias("bucket_t"),
        F.col("s").alias("s_prev"),
    )
    ratio = F.floor(
        F.col("s").cast("double") / F.col("s_prev").cast("double") * 1000000.0
    ).cast("long")
    return (
        hourly.join(prev, ["metric_name", "labels_str", "bucket_t"])
        .where(F.col("s_prev") > 0)
        .select(
            "metric_name",
            "labels_str",
            "bucket_t",
            F.col("s").alias("sum_micro"),
            F.col("s_prev").alias("prev_sum_micro"),
            ratio.alias("dod_ratio_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Protocol layer (SURVEY §2.1 S1-S5, P3) as oracle-checked queries: the
# prompb codec, snappy framing, flatten writer, and response assembly get
# hard-signal CORRECTNESS rows, not just pytest coverage.  The driver-side
# collect here is the protocol's own bounded materialization (the reference
# also holds a full request/response in memory, capped at 32 MiB wire bytes);
# the slice below is one metric over two days — bounded at any scale.
# ---------------------------------------------------------------------------


@_session_memo("table")
def _protocol_samples_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events slice -> prompb WriteRequest -> snappy wire bytes -> decode ->
    flatten writer (S2+S5): the write path the reference runs per request
    (``codec.go:28-45``, ``write.go:11-63``), surfaced as a DataFrame.
    Both protocol queries start from this round-trip, so it is built once
    per (session, sf_dir): one small local-relation frame."""
    sl = (
        events_to_samples(spark, sf_dir)
        .where((F.col("metric_name") == "signup") & (F.col("ts") < F.lit("2024-01-03 00:00:00")))
        .select(F.col("ts").cast("long").alias("es"), "metric_name", "labels", "value")
        .collect()
    )
    # the protocol collect is bounded by construction (one metric x two
    # days); assert it so a fixture change can't silently grow it into a
    # driver-side sink
    assert len(sl) <= 50_000, f"protocol slice unexpectedly large: {len(sl)} rows"
    series: dict[tuple, prompb.TimeSeries] = {}
    for r in sl:
        skey = (r.metric_name, tuple(r.labels))
        ts_msg = series.get(skey)
        if ts_msg is None:
            labels = [prompb.Label("__name__", r.metric_name)] + [
                prompb.Label(*s.split("=", 1)) for s in r.labels
            ]
            ts_msg = series[skey] = prompb.TimeSeries(labels=labels)
        ts_msg.samples.append(prompb.Sample(float(r.value), r.es * 1000))
    req = prompb.WriteRequest(timeseries=[series[k] for k in sorted(series)])
    wire = codec.encode_write_request(req)  # snappy + proto encode
    decoded = codec.decode_write_request(wire)  # S2: the server's decode path
    return write_request_df(spark, decoded)  # S5: flatten to canonical rows


def q_protocol_roundtrip_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side wire round-trip, then the full matcher+downsample read
    (incl. the F8 ignore-label drop of ``remote=clickhouse``)."""
    samples = _protocol_samples_df(spark, sf_dir)
    q = ReadQuery(
        start_ms=T0,
        end_ms=T20,
        matchers=(
            LabelMatcher(EQ, "__name__", "signup"),
            LabelMatcher(EQ, "remote", "clickhouse"),  # silently dropped (F8)
        ),
        hints=ReadHints(step_ms=120000),  # -> 60 s buckets after halving
    )
    return _flat_grouped(read_query_grouped(samples, q))


def q_protocol_response_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete /read lifecycle: ReadRequest wire round-trip (S3),
    engine query, prompb ReadResponse assembly (P3/O2), response wire
    round-trip (S4), then re-expansion of the response series into rows."""
    samples = _protocol_samples_df(spark, sf_dir)
    rq = prompb.ReadRequest(
        queries=[
            ReadQuery(
                start_ms=T0,
                end_ms=T20,
                matchers=(LabelMatcher(EQ, "__name__", "signup"),),
                hints=ReadHints(step_ms=240000),  # -> 120 s buckets
            )
        ]
    )
    rq2 = codec.decode_read_request(codec.encode_read_request(rq))  # S3
    resp = handle_read_request(samples, rq2)
    resp2 = prompb.decode_read_response(
        codec.snappy_decompress(codec.encode_read_response(resp))  # S4
    )
    rows = []
    for ts_msg in resp2.results[0].timeseries:
        name = next(lb.value for lb in ts_msg.labels if lb.name == "__name__")
        lbls = ",".join(f"{lb.name}={lb.value}" for lb in ts_msg.labels if lb.name != "__name__")
        for s in ts_msg.samples:
            rows.append((name, lbls, s.timestamp // 1000, float(s.value)))
    return spark.createDataFrame(
        rows, "metric_name STRING, labels_str STRING, t LONG, max_0 DOUBLE"
    )


#: Fake-ClickHouse serving-leg fixture: 5000 samples at 60 s cadence from
#: 2024-01-01 UTC, values i/4.0 (dyadic — exact in JSON and both engines).
_CH_BASE = 1704067200
_CH_N = 5000


def _ch_fake_transport():
    """Deterministic fake ClickHouse HTTP endpoint as a self-contained
    closure (cloudpickle ships it by value to executors): serves the
    metadata query and range-split scans, generating rows on the fly from
    the requested [lo, hi) — no corpus in the closure."""
    base, n = _CH_BASE, _CH_N

    def transport(url, payload=None, headers=None):
        import json as _json
        import re as _re
        from urllib.parse import parse_qs as _pq
        from urllib.parse import unquote as _uq
        from urllib.parse import urlparse as _up

        sql = _uq(_pq(_up(url).query)["query"][0])
        if "min(updated_at)" in sql:
            return (
                _json.dumps({"mn": base, "mx": base + (n - 1) * 60, "n": n}) + "\n"
            ).encode()
        m = _re.search(
            r"toDateTime\((\d+)\)\s+AND updated_at < toDateTime\((\d+)\)", sql
        )
        if not m:
            raise AssertionError(f"unexpected SQL: {sql}")
        lo, hi = int(m.group(1)), int(m.group(2))
        out = []
        i0 = max(0, -((base - lo) // 60))  # ceil((lo - base) / 60)
        for i in range(i0, n):
            es = base + i * 60
            if es >= hi:
                break
            # hand-formatted JSONEachRow line (repr(float) is shortest
            # round-trip, JSON-compatible) — the fixture generator must
            # not dominate the serving-leg timing it exists to measure
            out.append(
                f'{{"es": {es}, "metric_name": "m{i % 3}", '
                f'"labels": ["k={i % 5}", "user={i % 20}"], "value": {i / 4.0!r}}}'
            )
        return "\n".join(out).encode()

    return transport


def q_ch_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse sink under the oracle compare: a deterministic samples
    slice flows through the partition-parallel JSONEachRow encoder
    (``ClickHouseStore.append`` — the reference's bulk insert path,
    ``write.go:25-60``) into a spool-capturing transport, and the spooled
    payloads parse back to EXACTLY the source multiset — proving the wire
    encoding lossless (json float repr round-trips doubles bit-exactly;
    DateTime truncates to whole seconds, which the samples schema already
    guarantees).  The spool is executor-local files (valid single-node;
    the cluster deployment posts to real ClickHouse — same code path, the
    transport is the injection point)."""
    import glob

    from remote_tsdb_clickhouse_spark.sources.clickhouse import ClickHouseStore

    spool = _mkdtemp(prefix="ch_spool_")

    def spool_http(url, payload=None, headers=None):
        import os
        import uuid as _uuid

        with open(os.path.join(spool, f"{_uuid.uuid4().hex}.jsonl"), "wb") as f:
            f.write(payload)
        return b""

    src = events_to_samples(spark, sf_dir).where(
        (F.col("metric_name") == "signup") & (F.col("ts") < F.lit("2024-01-03 00:00:00"))
    )
    ClickHouseStore(spark, http=spool_http).append(src)
    assert glob.glob(f"{spool}/*.jsonl"), "sink produced no payloads"
    parsed = spark.read.schema(
        "updated_at STRING, metric_name STRING, labels ARRAY<STRING>, value DOUBLE"
    ).json(f"{spool}/*.jsonl")
    return parsed.select(
        "metric_name",
        F.array_join(F.array_sort("labels"), ",").alias("labels_str"),
        F.to_timestamp("updated_at").cast("long").alias("t"),
        "value",
    )


def q_ch_pushdown_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ClickHouse serving leg end-to-end under bench/driver watch:
    partition-parallel range-split scan through the injectable transport
    (``ClickHouseStore.read_parallel`` — S6 for the external-storage
    backend, reference scan ``read.go:57``), then the full matcher +
    hint-downsample read plan over the fetched frame.  The fixture is
    generated from the requested ranges (constant size at any sf), so
    this row isolates serving-leg machinery — transport fan-out, Arrow
    assembly, plan execution — from table-scan cost."""
    from remote_tsdb_clickhouse_spark.sources.clickhouse import ClickHouseStore

    store = ClickHouseStore(spark, table="metrics.samples", http=_ch_fake_transport())
    samples = store.read_parallel(num_splits=32)
    q = ReadQuery(
        start_ms=_CH_BASE * 1000,
        end_ms=(_CH_BASE + (_CH_N - 1) * 60) * 1000,
        matchers=(
            LabelMatcher(EQ, "__name__", "m1"),
            LabelMatcher(EQ, "k", "2"),
        ),
        hints=ReadHints(step_ms=600000),  # -> 300 s buckets after halving
    )
    return _flat_grouped(read_query_grouped(samples, q))


def warmup(spark: SparkSession, sf_dir: str) -> None:
    """Untimed bench setup of the family's shared builds (see
    ``__spark_entry__.family_warmup`` for what it may pre-pay)."""
    # all tsdb_* queries derive from this persisted frame; persist it
    # explicitly, because _samples() skips the persist once the frame's
    # driver-side is_cached flag is set, and a clearCache leaves it set
    _samples(spark, sf_dir).persist().count()
    # the rollup query's store build (base write + 60 s rollup) is the
    # continuous-aggregate maintenance job, not the serve path
    _rollup_store(spark, sf_dir)


def queries() -> dict[str, Query]:
    return {
        "tsdb_quantile_over_time": q_tsdb_quantile_over_time,
        "tsdb_sliding_range_max": q_tsdb_sliding_range_max,
        "tsdb_stddev_over_time": q_tsdb_stddev_over_time,
        "tsdb_topk_per_bucket": q_tsdb_topk_per_bucket,
        "ch_pushdown_read": q_ch_pushdown_read,
        "tsdb_rollup_hierarchy": q_tsdb_rollup_hierarchy,
        "tsdb_subquery_maxrate": q_tsdb_subquery_maxrate,
        "tsdb_retention_serve": q_tsdb_retention_serve,
        "tsdb_mad_over_time": q_tsdb_mad_over_time,
        "tsdb_sum_by_label": q_tsdb_sum_by_label,
        "tsdb_topk_series": q_tsdb_topk_series,
        "tsdb_max_gap": q_tsdb_max_gap,
        "tsdb_stale_series": q_tsdb_stale_series,
        "tsdb_read_eq": q_tsdb_read_eq,
        "tsdb_read_name_regex": q_tsdb_read_name_regex,
        "tsdb_read_nre": q_tsdb_read_nre,
        "tsdb_label_regex": q_tsdb_label_regex,
        "tsdb_downsample_30s": q_tsdb_downsample_30s,
        "tsdb_downsample_range_clamp": q_tsdb_downsample_range_clamp,
        "tsdb_series_assembly": q_tsdb_series_assembly,
        "tsdb_ignore_label": q_tsdb_ignore_label,
        "tsdb_rate": q_tsdb_rate,
        "tsdb_label_replace": q_tsdb_label_replace,
        "tsdb_label_join": q_tsdb_label_join,
        "tsdb_binary_ratio": q_tsdb_binary_ratio,
        "tsdb_count_values": q_tsdb_count_values,
        "tsdb_deriv": q_tsdb_deriv,
        "tsdb_predict_linear": q_tsdb_predict_linear,
        "tsdb_histogram_buckets": q_tsdb_histogram_buckets,
        "tsdb_histogram_quantile": q_tsdb_histogram_quantile,
        "tsdb_offset_ratio": q_tsdb_offset_ratio,
        "tsdb_exp_smooth": q_tsdb_exp_smooth,
        "tsdb_compact_serve": q_tsdb_compact_serve,
        "ch_sink_roundtrip": q_ch_sink_roundtrip,
        "protocol_roundtrip_read": q_protocol_roundtrip_read,
        "protocol_response_assembly": q_protocol_response_assembly,
        "tsdb_label_values": q_tsdb_label_values,
        "tsdb_series_count": q_tsdb_series_count,
        "tsdb_label_project": q_tsdb_label_project,
        "tsdb_irate": q_tsdb_irate,
        "tsdb_delta": q_tsdb_delta,
        "tsdb_increase": q_tsdb_increase,
        "tsdb_resets_changes": q_tsdb_resets_changes,
        "tsdb_range_agg": q_tsdb_range_agg,
        "tsdb_moving_avg": q_tsdb_moving_avg,
        "tsdb_rollup_serve": q_tsdb_rollup_serve,
    }


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect; tables pre-registered as views)
# ---------------------------------------------------------------------------


_GROUPED = """
grouped AS (
    SELECT metric_name, array_to_string(labels, ',') AS labels_str, ts AS tt, max(value) AS v
    FROM samples
    {where}
    GROUP BY 1, 2, 3
)
"""


def _tsdb_oracle(where: str, bucket_s: int | None = None) -> str:
    """Grouped-max oracle with optional downsampling bucket."""
    t_expr = "CAST(floor(epoch(ts)) AS BIGINT)"
    if bucket_s is not None and bucket_s > 1:
        t_expr = f"({t_expr} - {t_expr} % {bucket_s})"
    return f"""
WITH {SAMPLES_ORACLE_CTE}
SELECT metric_name, array_to_string(labels, ',') AS labels_str,
       {t_expr} AS t, max(value) AS max_0
FROM samples
{where}
GROUP BY 1, 2, 3
"""


# the protocol rows' events slice (one metric over two days)
_PROTO_SLICE = "metric_name = 'signup' AND ts < TIMESTAMP '2024-01-03 00:00:00'"


def oracle_sql() -> dict[str, str]:
    return {
        # protocol round-trips: the wire codecs are bijective, so the oracle
        # is the same grouped-max over the identical events slice
        "protocol_roundtrip_read": _tsdb_oracle(
            f"WHERE ts >= {TS0} AND ts <= {TS20} AND {_PROTO_SLICE}", bucket_s=60
        ),
        "protocol_response_assembly": _tsdb_oracle(
            f"WHERE ts >= {TS0} AND ts <= {TS20} AND {_PROTO_SLICE}", bucket_s=120
        ),
        # sink round-trip: the spooled JSONEachRow payloads must parse
        # back to exactly the source multiset
        "ch_sink_roundtrip": f"""
WITH {SAMPLES_ORACLE_CTE}
SELECT metric_name, array_to_string(list_sort(labels), ',') AS labels_str,
       CAST(floor(epoch(ts)) AS BIGINT) AS t, value
FROM samples
WHERE metric_name = 'signup' AND ts < TIMESTAMP '2024-01-03 00:00:00'
""",
        # serving-leg row: the oracle regenerates the deterministic fake
        # transport's corpus (values i/4.0 are dyadic -> exact in JSON and
        # both engines) and applies the same matcher + 300 s downsample
        "ch_pushdown_read": f"""
WITH src AS (
    SELECT 'm' || CAST(i % 3 AS VARCHAR) AS metric_name,
           ['k=' || CAST(i % 5 AS VARCHAR), 'user=' || CAST(i % 20 AS VARCHAR)] AS labels,
           {_CH_BASE} + i * 60 AS es,
           i / 4.0 AS value
    FROM (SELECT unnest(generate_series(0, {_CH_N - 1})) AS i)
),
f AS (
    SELECT * FROM src
    WHERE metric_name = 'm1' AND list_contains(labels, 'k=2')
)
SELECT metric_name, array_to_string(list_sort(labels), ',') AS labels_str,
       CAST(es - es % 300 AS BIGINT) AS t, max(value) AS max_0
FROM f GROUP BY 1, 2, 3
""",
        "tsdb_read_eq": _tsdb_oracle(
            f"WHERE ts >= {TS5} AND ts <= {TS20} AND metric_name = 'purchase'"
        ),
        # serving from the compacted store must equal the plain raw scan
        "tsdb_compact_serve": _tsdb_oracle(
            f"WHERE ts >= {TS0} AND ts <= {TS20} AND metric_name = 'click'"
        ),
        # retention sweep: full-range serve equals the raw scan minus the
        # deleted (exclusive-start, inclusive-end) window
        "tsdb_retention_serve": _tsdb_oracle(
            f"WHERE ts >= {TS0} AND ts <= {TS20} AND metric_name = 'purchase' "
            "AND NOT (ts > TIMESTAMP '2024-01-03 12:00:00' "
            "AND ts <= TIMESTAMP '2024-01-06 12:00:00')"
        ),
        "tsdb_read_name_regex": _tsdb_oracle(
            f"WHERE ts >= {TS0} AND ts <= {TS20} "
            "AND regexp_matches(metric_name, '^(click|view)$') "
            "AND NOT list_contains(labels, 'tier=gold')"
        ),
        "tsdb_read_nre": _tsdb_oracle(
            f"WHERE ts >= {TS5} AND ts <= {TS20} "
            "AND NOT regexp_matches(metric_name, '^(click|view|error)$') "
            "AND metric_name != 'signup'"
        ),
        "tsdb_label_regex": _tsdb_oracle(
            f"WHERE ts >= {TS0} AND ts <= {TS20} AND metric_name = 'error' "
            "AND len(list_filter(labels, x -> regexp_matches(x, '^user=1.*$'))) > 0 "
            "AND len(list_filter(labels, x -> regexp_matches(x, '^k=6.*$'))) = 0"
        ),
        "tsdb_downsample_30s": _tsdb_oracle(
            f"WHERE ts >= {TS5} AND ts <= {TS20} AND metric_name = 'view'", bucket_s=30
        ),
        # rollup-served read: the oracle is the PLAIN raw-scan downsample —
        # the routed union (rollup interior + partial-edge raw scans) must
        # be indistinguishable from never having built a rollup
        "tsdb_rollup_serve": _tsdb_oracle(
            "WHERE ts >= TIMESTAMP '2024-01-05 00:00:30' "
            "AND ts <= TIMESTAMP '2024-01-20 00:00:30' AND metric_name = 'view'",
            bucket_s=120,
        ),
        # hierarchy serving must equal the raw scan at 2 h buckets
        "tsdb_rollup_hierarchy": _tsdb_oracle(
            "WHERE ts >= TIMESTAMP '2024-01-05 00:30:00' "
            "AND ts <= TIMESTAMP '2024-01-20 00:30:00' AND metric_name = 'click'",
            bucket_s=7200,
        ),
        "tsdb_downsample_range_clamp": _tsdb_oracle(
            f"WHERE ts >= {TS5} AND ts <= {TS20}", bucket_s=5
        ),
        "tsdb_series_assembly": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= " + TS0 + " AND metric_name = 'signup'")}
SELECT metric_name, labels_str,
       count(*) AS n_samples,
       CAST(floor(epoch(min(tt))) AS BIGINT) AS first_t,
       CAST(floor(epoch(max(tt))) AS BIGINT) AS last_t,
       first(v ORDER BY tt) AS first_v,
       last(v ORDER BY tt) AS last_v,
       CAST(sum(CAST(v AS DECIMAL(30,6))) AS DOUBLE) AS sum_v
FROM grouped GROUP BY 1, 2
""",
        "tsdb_ignore_label": _tsdb_oracle(
            f"WHERE ts >= {TS5} AND ts <= {TS20} AND metric_name = 'error' "
            "AND list_contains(labels, 'k=42')"
        ),
        # subquery composition: the rate CTE re-aggregated per hour;
        # NULL (reset) rates excluded explicitly on both sides
        "tsdb_subquery_maxrate": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= " + TS0 + " AND metric_name = 'view'")},
r AS (
    SELECT metric_name, labels_str, tt, v,
           lag(v) OVER w AS pv, lag(tt) OVER w AS pt
    FROM grouped
    WINDOW w AS (PARTITION BY metric_name, labels_str ORDER BY tt)
),
rates AS (
    SELECT metric_name, labels_str, CAST(floor(epoch(tt)) AS BIGINT) AS t,
           CASE WHEN v - pv < 0 THEN NULL
                ELSE (v - pv) / (CAST(floor(epoch(tt)) AS BIGINT) - CAST(floor(epoch(pt)) AS BIGINT))
                END AS rate
    FROM r WHERE pv IS NOT NULL
)
SELECT metric_name, labels_str, (t - t % 3600) AS bucket_t,
       max(rate) AS max_rate, count(*) AS n_rates
FROM rates WHERE rate IS NOT NULL
GROUP BY 1, 2, 3
""",
        "tsdb_rate": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= " + TS0 + " AND metric_name = 'purchase'")},
r AS (
    SELECT metric_name, labels_str, tt, v,
           lag(v) OVER w AS pv, lag(tt) OVER w AS pt
    FROM grouped
    WINDOW w AS (PARTITION BY metric_name, labels_str ORDER BY tt)
)
SELECT metric_name, labels_str, CAST(floor(epoch(tt)) AS BIGINT) AS t,
       CASE WHEN v - pv < 0 THEN NULL
            ELSE (v - pv) / (CAST(floor(epoch(tt)) AS BIGINT) - CAST(floor(epoch(pt)) AS BIGINT))
            END AS rate
FROM r WHERE pv IS NOT NULL
""",
        "tsdb_label_project": f"""
WITH {SAMPLES_ORACLE_CTE}
SELECT metric_name,
       array_to_string(list_filter(labels, x -> x LIKE 'user=%'), ',') AS labels_user_str,
       CAST(floor(epoch(ts)) AS BIGINT) AS t,
       value * 8 AS bits
FROM samples
WHERE metric_name = 'click' AND ts >= {TS5} AND ts <= {TS20}
""",
        "tsdb_irate": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND metric_name = 'click'")},
r AS (
    SELECT metric_name, labels_str, tt, v,
           lag(v) OVER w AS pv, lag(tt) OVER w AS pt,
           row_number() OVER (PARTITION BY metric_name, labels_str ORDER BY tt DESC) AS rn
    FROM grouped
    WINDOW w AS (PARTITION BY metric_name, labels_str ORDER BY tt)
)
SELECT metric_name, labels_str, CAST(floor(epoch(tt)) AS BIGINT) AS t,
       CASE WHEN v - pv < 0 THEN NULL
            ELSE (v - pv) / (CAST(floor(epoch(tt)) AS BIGINT) - CAST(floor(epoch(pt)) AS BIGINT))
            END AS irate
FROM r WHERE rn = 1 AND pv IS NOT NULL
""",
        "tsdb_delta": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND metric_name = 'view'")}
SELECT metric_name, labels_str,
       arg_max(v, tt) - arg_min(v, tt) AS delta,
       CAST(floor(epoch(max(tt))) AS BIGINT) - CAST(floor(epoch(min(tt))) AS BIGINT) AS range_s,
       count(*) AS n_samples
FROM grouped GROUP BY 1, 2
""",
        "tsdb_increase": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND metric_name = 'click'")},
r AS (
    SELECT metric_name, labels_str, v,
           lag(v) OVER (PARTITION BY metric_name, labels_str ORDER BY tt) AS pv
    FROM grouped
)
SELECT metric_name, labels_str,
       coalesce(CAST(sum(CAST(CASE WHEN pv IS NULL THEN NULL
                                   WHEN v - pv < 0 THEN v
                                   ELSE v - pv END AS DECIMAL(30,6))) AS DOUBLE),
                0.0) AS increase
FROM r GROUP BY 1, 2
""",
        "tsdb_resets_changes": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND metric_name = 'purchase'")},
r AS (
    SELECT metric_name, labels_str, v,
           lag(v) OVER (PARTITION BY metric_name, labels_str ORDER BY tt) AS pv
    FROM grouped
)
SELECT metric_name, labels_str,
       coalesce(CAST(sum(CASE WHEN v < pv THEN 1 ELSE 0 END) AS BIGINT), 0) AS resets,
       coalesce(CAST(sum(CASE WHEN v != pv THEN 1 ELSE 0 END) AS BIGINT), 0) AS changes
FROM r GROUP BY 1, 2
""",
        "tsdb_range_agg": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'signup'")}
SELECT metric_name, labels_str,
       (CAST(floor(epoch(tt)) AS BIGINT) - CAST(floor(epoch(tt)) AS BIGINT) % 3600) AS bucket_t,
       CAST(sum(CAST(v AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avg_v,
       min(v) AS min_v, max(v) AS max_v, count(*) AS n
FROM grouped GROUP BY 1, 2, 3
""",
        # PromQL offset modifier: hourly sums self-joined on the
        # day-shifted bucket key, ratio in exact micro-units
        "tsdb_offset_ratio": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'view'")},
hourly AS (
    SELECT metric_name, labels_str,
           (CAST(floor(epoch(tt)) AS BIGINT) - CAST(floor(epoch(tt)) AS BIGINT) % 3600)
               AS bucket_t,
           CAST(sum(CAST(floor(v * 1000000.0) AS BIGINT)) AS BIGINT) AS s
    FROM grouped GROUP BY 1, 2, 3
)
SELECT c.metric_name, c.labels_str, c.bucket_t,
       c.s AS sum_micro, p.s AS prev_sum_micro,
       CAST(floor(CAST(c.s AS DOUBLE) / CAST(p.s AS DOUBLE) * 1000000.0) AS BIGINT)
           AS dod_ratio_micro
FROM hourly c JOIN hourly p
  ON c.metric_name = p.metric_name AND c.labels_str = p.labels_str
 AND c.bucket_t = p.bucket_t + 86400
WHERE p.s > 0
""",
        # exponential smoothing at alpha=1/2: power-of-two weights scaled
        # by 2^20 = pure int64 shift-adds, exact in both engines
        "tsdb_exp_smooth": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'purchase'")},
r AS (
    SELECT metric_name, labels_str,
           CAST(floor(v * 1000000.0) AS BIGINT) AS iv,
           row_number() OVER (PARTITION BY metric_name, labels_str ORDER BY tt DESC) AS rn
    FROM grouped
),
t AS (SELECT * FROM r WHERE rn <= 21),
kk AS (SELECT metric_name, labels_str, max(rn) AS k FROM t GROUP BY 1, 2)
SELECT t.metric_name, t.labels_str,
       CAST(max(k) AS BIGINT) AS n_used,
       CAST(sum(CASE WHEN rn < k THEN t.iv << (20 - rn)
                     ELSE t.iv << (21 - k) END) AS BIGINT) AS smooth_scaled
FROM t JOIN kk USING (metric_name, labels_str)
GROUP BY 1, 2
""",
        # stddev_over_time + last_over_time: micro-unit int squares summed
        # in DECIMAL(18,0) products (exact), stddev via IEEE-exact
        # sqrt/div only — bit-identical across engines
        "tsdb_stddev_over_time": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'view'")},
iv AS (
    SELECT metric_name, labels_str, tt, v,
           CAST(floor(epoch(tt)) AS BIGINT) AS t,
           (CAST(floor(epoch(tt)) AS BIGINT) - CAST(floor(epoch(tt)) AS BIGINT) % 3600)
               AS bucket_t,
           CAST(floor(v * 1000000.0) AS BIGINT) AS ivv
    FROM grouped
),
agg AS (
    SELECT metric_name, labels_str, bucket_t,
           count(*) AS n,
           CAST(sum(ivv) AS BIGINT) AS s,
           sum(CAST(ivv AS DECIMAL(18,0)) * CAST(ivv AS DECIMAL(18,0))) AS q,
           max_by(v, t) AS last_v
    FROM iv GROUP BY 1, 2, 3
)
SELECT metric_name, labels_str, bucket_t, n, s AS sum_micro,
       CAST(floor(sqrt(greatest(
           (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               / CAST(n AS DOUBLE), 0.0))) AS BIGINT) AS stddev_micro,
       last_v
FROM agg
""",
        "tsdb_moving_avg": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'view'")}
SELECT metric_name, labels_str, CAST(floor(epoch(tt)) AS BIGINT) AS t,
       CAST(sum(CAST(v AS DECIMAL(30,6))) OVER w AS DOUBLE) / count(*) OVER w AS avg5
FROM grouped
WINDOW w AS (PARTITION BY metric_name, labels_str ORDER BY tt
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""",
        "tsdb_label_values": f"""
WITH {SAMPLES_ORACLE_CTE},
ex AS (
    SELECT unnest(labels) AS lbl FROM samples
    WHERE ts >= {TS5} AND ts <= {TS20}
)
SELECT DISTINCT substring(lbl, 6) AS value FROM ex WHERE lbl LIKE 'tier=%'
""",
        "tsdb_series_count": f"""
WITH {SAMPLES_ORACLE_CTE}
SELECT metric_name, count(DISTINCT array_to_string(list_sort(labels), ',')) AS n_series
FROM samples GROUP BY 1
""",
        "tsdb_sum_by_label": f"""
WITH {SAMPLES_ORACLE_CTE},
g AS (
    SELECT metric_name, list_sort(labels) AS lbls, ts AS tt, max(value) AS v
    FROM samples
    WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'view'
    GROUP BY 1, 2, 3
),
x AS (
    SELECT CASE WHEN len(list_filter(lbls, x -> x LIKE 'tier=%')) > 0
                THEN substring(list_filter(lbls, x -> x LIKE 'tier=%')[1], 6)
                ELSE '' END AS tier,
           CAST(floor(epoch(tt)) AS BIGINT) AS t, v
    FROM g
)
SELECT tier, t, CAST(sum(CAST(v AS DECIMAL(30,6))) AS DOUBLE) AS sum_v
FROM x GROUP BY 1, 2
""",
        "tsdb_topk_series": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'")},
per AS (
    SELECT metric_name, labels_str,
           CAST(sum(CAST(v AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avg_v
    FROM grouped GROUP BY 1, 2
),
r AS (
    SELECT metric_name, labels_str, avg_v,
           row_number() OVER (PARTITION BY metric_name
                              ORDER BY avg_v DESC, labels_str) AS rk
    FROM per
)
SELECT metric_name, labels_str, avg_v, rk FROM r WHERE rk <= 3
""",
        "tsdb_max_gap": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND metric_name = 'purchase'")},
g AS (
    SELECT metric_name, labels_str,
           CAST(floor(epoch(tt)) AS BIGINT)
             - lag(CAST(floor(epoch(tt)) AS BIGINT))
               OVER (PARTITION BY metric_name, labels_str ORDER BY tt) AS gap
    FROM grouped
)
SELECT metric_name, labels_str, max(gap) AS max_gap_s, count(*) AS n_samples
FROM g GROUP BY 1, 2
HAVING max(gap) IS NOT NULL
""",
        "tsdb_stale_series": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00'")}
SELECT metric_name, labels_str,
       max(CAST(floor(epoch(tt)) AS BIGINT)) AS last_t,
       1705708800 - max(CAST(floor(epoch(tt)) AS BIGINT)) AS stale_s
FROM grouped GROUP BY 1, 2
HAVING max(CAST(floor(epoch(tt)) AS BIGINT)) < 1705708800 - 86400
""",
        "tsdb_label_replace": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'click'")},
rv AS (
    SELECT metric_name,
           regexp_extract(labels_str, 'user=([0-9]+)', 1) AS uval, v
    FROM grouped
)
SELECT metric_name,
       CASE WHEN regexp_matches(uval, '^(?:([0-9])[0-9]*)$')
            THEN regexp_extract(uval, '^([0-9])[0-9]*$', 1) END AS shard,
       CAST(sum(CAST(v AS DECIMAL(30,6))) AS DOUBLE) AS sum_v,
       count(*) AS n_samples
FROM rv GROUP BY 1, 2
""",
        # discrete-median MAD: both stages index sorted arrays; the only
        # arithmetic is one exact IEEE subtraction per element
        "tsdb_mad_over_time": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'click'")},
a AS (
    SELECT metric_name, labels_str, list_sort(list(v)) AS vs, count(*) AS n
    FROM grouped GROUP BY 1, 2
),
b AS (SELECT *, vs[CAST(floor((n - 1) * 0.5) AS INT) + 1] AS med FROM a)
SELECT metric_name, labels_str, n AS n_samples, med AS median_v,
       (list_sort(list_transform(vs, x -> abs(x - med))))
           [CAST(floor((n - 1) * 0.5) AS INT) + 1] AS mad_v
FROM b
""",
        "tsdb_quantile_over_time": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'purchase'")}
SELECT metric_name, labels_str, count(*) AS n_samples,
       (list_sort(list(v)))[CAST(floor((count(*) - 1) * 0.5) AS INT) + 1] AS p50,
       (list_sort(list(v)))[CAST(floor((count(*) - 1) * 0.95) AS INT) + 1] AS p95
FROM grouped GROUP BY 1, 2
""",
        "tsdb_count_values": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'view'")}
SELECT metric_name, CAST(floor(v) AS BIGINT) AS value,
       count(*) AS n_samples, count(DISTINCT labels_str) AS n_series
FROM grouped GROUP BY 1, 2
""",
        # least-squares slope from exact int64 regression sums; all doubles
        # in the final expression are exact conversions of ints < 2^53, so
        # the single division is bit-identical cross-engine
        "tsdb_deriv": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'purchase'")},
s AS (
    SELECT metric_name, labels_str, count(*) AS n,
           sum(th) AS st, sum(ymu) AS sy, sum(th*ymu) AS sty, sum(th*th) AS stt
    FROM (
        SELECT metric_name, labels_str,
               (CAST(floor(epoch(tt)) AS BIGINT) - 1704067200) // 3600 AS th,
               CAST(floor(v * 1000000) AS BIGINT) AS ymu
        FROM grouped)
    GROUP BY 1, 2
)
SELECT metric_name, labels_str, n AS n_samples,
       CASE WHEN n*stt - st*st > 0
            THEN CAST(n*sty - st*sy AS DOUBLE) / CAST(n*stt - st*st AS DOUBLE)
            ELSE NULL END AS slope_mu
FROM s
""",
        "tsdb_predict_linear": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'purchase'")},
s AS (
    SELECT metric_name, labels_str, count(*) AS n,
           sum(th) AS st, sum(ymu) AS sy, sum(th*ymu) AS sty, sum(th*th) AS stt
    FROM (
        SELECT metric_name, labels_str,
               (CAST(floor(epoch(tt)) AS BIGINT) - 1704067200) // 3600 AS th,
               CAST(floor(v * 1000000) AS BIGINT) AS ymu
        FROM grouped)
    GROUP BY 1, 2
)
SELECT metric_name, labels_str, n AS n_samples,
       CASE WHEN n*stt - st*st > 0
            THEN CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                 + (CAST(n*sty - st*sy AS DOUBLE) / CAST(n*stt - st*st AS DOUBLE))
                   * (480.0 - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
            ELSE NULL END AS predicted_mu
FROM s
""",
        "tsdb_histogram_buckets": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'purchase'")},
wide AS (
    SELECT metric_name, labels_str,
           count(*) FILTER (WHERE v <= 4) AS c0,
           count(*) FILTER (WHERE v <= 16) AS c1,
           count(*) FILTER (WHERE v <= 64) AS c2,
           count(*) FILTER (WHERE v <= 256) AS c3,
           count(*) AS total
    FROM grouped GROUP BY 1, 2
)
SELECT metric_name, labels_str, 4.0 AS le, c0 AS cum FROM wide
UNION ALL SELECT metric_name, labels_str, 16.0, c1 FROM wide
UNION ALL SELECT metric_name, labels_str, 64.0, c2 FROM wide
UNION ALL SELECT metric_name, labels_str, 256.0, c3 FROM wide
UNION ALL SELECT metric_name, labels_str, CAST('infinity' AS DOUBLE), total FROM wide
""",
        # q=9/10; `//` truncation == floor here (every operand positive in
        # the matched bucket); Prometheus edge rules as in the Spark leg
        "tsdb_histogram_quantile": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'purchase'")},
wide AS (
    SELECT metric_name, labels_str,
           count(*) FILTER (WHERE v <= 4) AS c0,
           count(*) FILTER (WHERE v <= 16) AS c1,
           count(*) FILTER (WHERE v <= 64) AS c2,
           count(*) FILTER (WHERE v <= 256) AS c3,
           count(*) AS total
    FROM grouped GROUP BY 1, 2
)
SELECT metric_name, labels_str, total AS n_samples,
       CAST(CASE
         WHEN 9*total <= 10*c0 THEN (4000000 * (9*total)) // (10*c0)
         WHEN 9*total <= 10*c1 THEN 4000000 + (12000000 * (9*total - 10*c0)) // (10*(c1-c0))
         WHEN 9*total <= 10*c2 THEN 16000000 + (48000000 * (9*total - 10*c1)) // (10*(c2-c1))
         WHEN 9*total <= 10*c3 THEN 64000000 + (192000000 * (9*total - 10*c2)) // (10*(c3-c2))
         ELSE 256000000
       END AS BIGINT) AS q_mu
FROM wide
""",
        "tsdb_topk_per_bucket": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'purchase'")},
per_series AS (
    SELECT metric_name, labels_str,
           CAST(floor(epoch(tt)) AS BIGINT)
               - CAST(floor(epoch(tt)) AS BIGINT) % 21600 AS bucket_t,
           max(v) AS v
    FROM grouped GROUP BY 1, 2, 3
),
r AS (
    SELECT *, row_number() OVER (PARTITION BY bucket_t
                                 ORDER BY v DESC, labels_str ASC) AS rk
    FROM per_series
)
SELECT bucket_t, rk, metric_name, labels_str, v FROM r WHERE rk <= 3
""",
        "tsdb_sliding_range_max": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'signup'")}
SELECT metric_name, labels_str, CAST(floor(epoch(tt)) AS BIGINT) AS t,
       max(v) OVER (PARTITION BY metric_name, labels_str
                    ORDER BY CAST(floor(epoch(tt)) AS BIGINT)
                    RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS max_1h
FROM grouped
""",
        "tsdb_binary_ratio": f"""
WITH {SAMPLES_ORACLE_CTE},
g AS (
    SELECT metric_name, array_to_string(labels, ',') AS labels_str, ts AS tt
    FROM samples
    WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <= TIMESTAMP '2024-01-20 00:00:00'
      AND metric_name IN ('error', 'click')
    GROUP BY 1, 2, 3
),
h AS (
    SELECT metric_name,
           regexp_extract(labels_str, 'user=([0-9]+)', 1) AS user_id,
           CAST(floor(epoch(tt)) AS BIGINT)
               - CAST(floor(epoch(tt)) AS BIGINT) % 3600 AS bucket_t
    FROM g
),
a AS (SELECT user_id, bucket_t, count(*) AS n_error FROM h
      WHERE metric_name = 'error' GROUP BY 1, 2),
b AS (SELECT user_id, bucket_t, count(*) AS n_click FROM h
      WHERE metric_name = 'click' GROUP BY 1, 2)
SELECT a.user_id, a.bucket_t, n_error, n_click,
       CAST(n_error AS DOUBLE) / CAST(n_click AS DOUBLE) AS ratio
FROM a JOIN b ON a.user_id = b.user_id AND a.bucket_t = b.bucket_t
""",
        "tsdb_label_join": f"""
WITH {SAMPLES_ORACLE_CTE},
{_GROUPED.format(where="WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' AND metric_name = 'error'")}
SELECT metric_name,
       regexp_extract(labels_str, 'user=([0-9]+)', 1) || '|' ||
       CASE WHEN labels_str LIKE '%tier=gold%' THEN 'gold' ELSE '' END AS ut,
       CAST(sum(CAST(v AS DECIMAL(30,6))) AS DOUBLE) AS sum_v,
       count(*) AS n_samples
FROM grouped GROUP BY 1, 2
""",
    }
