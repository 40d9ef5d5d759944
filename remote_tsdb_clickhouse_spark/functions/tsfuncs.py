"""Extended time-series analytics (SURVEY §2.6 X1-X4).

The reference has no analytic functions of its own; its README shows users
hand-writing ClickHouse SQL for rates and label projections
(``README.md:92-140``).  These are those capabilities as first-class Spark
operators — built on window functions partitioned by the series key, which
is *more* correct than ClickHouse's partition-order-dependent
``runningDifference`` (X4 note in SURVEY §2.6).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.util import SESSION_CACHE

#: Plan-construction memo (r21, guide §5 driver latency): the per-series
#: window specs, lag projections, and (r22) the histogram / regression /
#: bucket-aggregate expression lists below are fixed immutable trees over
#: fixed column names and frozen parameters, rebuilt by every consumer —
#: share one instance; expressions only, never data.
_expr_memo = partial(SESSION_CACHE.get, "tsfuncs")


def series_window(extra_order: list[str] | None = None) -> Window:
    """Per-series time-ordered window: partition by (metric_name, labels)."""
    return _expr_memo(
        ("series_window", tuple(extra_order or ())),
        lambda: Window.partitionBy("metric_name", "slb").orderBy(
            "t", *(extra_order or [])
        ),
    )


def per_second_rate(grouped: DataFrame, *, reset_as_null: bool = True) -> DataFrame:
    """X1/X4: per-second rate of a counter over the grouped read result.

    Input: the ``read_query_grouped`` shape (metric_name, slb, t, max_0).
    Output adds ``rate``: (v - lag(v)) / (epoch(t) - lag(epoch(t))) per
    series; the first sample of each series is dropped (no predecessor).
    Negative deltas (counter resets) become NULL (the ClickHouse pattern
    X4 emits NaN; NULL is the SQL-portable equivalent and skips cleanly in
    downstream aggregation).

    Scale: one window shuffle on the series key — same partitioning as the
    grouped aggregation that produced the input, so AQE/exchange reuse
    avoids a second full shuffle in the combined plan.
    """
    with_lags = grouped.select("*", _lag_pv(), _lag_pt())
    dv = F.col("max_0") - F.col("_pv")
    dt = F.col("t").cast("long") - F.col("_pt")
    rate = F.when(dv < 0, F.lit(None).cast("double")).otherwise(dv / dt)
    return (
        with_lags.where(F.col("_pv").isNotNull())
        .withColumn("rate", rate)
        .drop("_pv", "_pt")
    )


def _lag_pv() -> Column:
    """Memoized ``lag(max_0) OVER series_window AS _pv`` (shared by the
    rate family)."""
    return _expr_memo(
        ("_pv",), lambda: F.lag("max_0").over(series_window()).alias("_pv")
    )


def _lag_pt() -> Column:
    """Memoized ``lag(epoch(t)) OVER series_window AS _pt``."""
    return _expr_memo(
        ("_pt",),
        lambda: F.lag(F.col("t").cast("long")).over(series_window()).alias("_pt"),
    )


def irate(grouped: DataFrame) -> DataFrame:
    """Instant rate: the per-second rate of each series' LAST two samples
    (PromQL ``irate`` semantics over the grouped read result) — one output
    row per series.

    Same single window shuffle as :func:`per_second_rate`; the final-row
    filter uses an *unordered* full-partition max over the identical
    partitioning (rather than a descending row_number, whose opposite sort
    order would force a second sort of every partition).
    """
    with_lags = grouped.select(
        "*",
        _lag_pv(),
        _lag_pt(),
        _expr_memo(
            ("_tmax",),
            lambda: F.max("t")
            .over(Window.partitionBy("metric_name", "slb"))
            .alias("_tmax"),
        ),
    )
    dv = F.col("max_0") - F.col("_pv")
    dt = F.col("t").cast("long") - F.col("_pt")
    rate = F.when(dv < 0, F.lit(None).cast("double")).otherwise(dv / dt)
    return (
        with_lags.where((F.col("t") == F.col("_tmax")) & F.col("_pv").isNotNull())
        .withColumn("irate", rate)
        .drop("_pv", "_pt", "_tmax")
    )


def delta(grouped: DataFrame) -> DataFrame:
    """PromQL ``delta``: last value minus first value per series over the
    queried range — one row per series.

    Pure ``groupBy`` aggregation (``max_by``/``min_by`` on the time key):
    no window, no per-partition sort, and partial aggregation runs map-side
    before the exchange — at 100 TB this is one shuffle of pre-aggregated
    per-series rows rather than a sorted window over every sample.
    """
    aggs = _expr_memo(
        ("delta_aggs",),
        lambda: (
            (F.max_by("max_0", "t") - F.min_by("max_0", "t")).alias("delta"),
            (F.max("t").cast("long") - F.min("t").cast("long")).alias("range_s"),
            F.count("*").alias("n_samples"),
        ),
    )
    return grouped.groupBy("metric_name", "slb").agg(*aggs)


def increase(grouped: DataFrame) -> DataFrame:
    """PromQL ``increase``: counter growth over the range, reset-aware —
    sum of adjacent deltas, where a drop (reset) contributes the new value
    itself (the counter restarted from ~0).  One row per series.

    One window shuffle for adjacency (lag), then a groupBy on the *same*
    series key — Catalyst reuses the exchange, so the reaggregation is
    shuffle-free.  The conditional delta sum goes through DECIMAL(30,6)
    for order-independent exactness against the oracle.
    """
    def _step():
        dv = F.col("max_0") - F.lag("max_0").over(series_window())
        return (
            F.when(dv.isNull(), F.lit(None))
            .when(dv < 0, F.col("max_0"))
            .otherwise(dv)
            .alias("_step")
        )

    return (
        grouped.select("metric_name", "slb", _expr_memo(("increase_step",), _step))
        .groupBy("metric_name", "slb")
        .agg(
            _expr_memo(
                ("increase_agg",),
                lambda: F.coalesce(
                    F.sum(F.col("_step").cast("decimal(30,6)")).cast("double"),
                    F.lit(0.0),
                ).alias("increase"),
            )
        )
    )


def resets_changes(grouped: DataFrame) -> DataFrame:
    """PromQL ``resets`` + ``changes`` per series: count of adjacent value
    drops (counter resets) and count of adjacent value changes.  Same
    single-window-then-reuse-exchange shape as :func:`increase`.
    """
    def _flags():
        pv = F.lag("max_0").over(series_window())
        return (
            (F.col("max_0") < pv).cast("long").alias("_reset"),
            (F.col("max_0") != pv).cast("long").alias("_change"),
        )

    flags = _expr_memo(("resets_flags",), _flags)
    aggs = _expr_memo(
        ("resets_aggs",),
        lambda: (
            F.coalesce(F.sum("_reset"), F.lit(0)).alias("resets"),
            F.coalesce(F.sum("_change"), F.lit(0)).alias("changes"),
        ),
    )
    return (
        grouped.select("metric_name", "slb", *flags)
        .groupBy("metric_name", "slb")
        .agg(*aggs)
    )


def range_aggregate(grouped: DataFrame, bucket_s: int) -> DataFrame:
    """PromQL ``*_over_time`` family over fixed buckets: per-series
    avg/min/max/count of the grouped values in ``bucket_s``-second tumbling
    windows.  Plain hash aggregation — floor-aligned bucket key (same
    alignment rule as the A2 downsampler), map-side partials, one shuffle.
    """
    bucket = _expr_memo(("bucket_t", bucket_s), lambda: _bucket_col(bucket_s))
    aggs = _expr_memo(
        ("range_aggs",),
        lambda: (
            (
                F.sum(F.col("max_0").cast("decimal(30,6)")).cast("double")
                / F.count("*")
            ).alias("avg_v"),
            F.min("max_0").alias("min_v"),
            F.max("max_0").alias("max_v"),
            F.count("*").alias("n"),
        ),
    )
    return grouped.groupBy("metric_name", "slb", bucket).agg(*aggs)


def _bucket_col(bucket_s: int) -> Column:
    """Floor-aligned epoch bucket (the A2 alignment rule) as ``bucket_t``."""
    epoch = F.col("t").cast("long")
    return (epoch - epoch % bucket_s).alias("bucket_t")


def label_replace(
    grouped: DataFrame, dst: str, src: str, pattern: str
) -> DataFrame:
    """PromQL ``label_replace(v, dst, "$1", src, pattern)`` over the grouped
    read result (capture-group-1 replacement form).

    Semantics (Prometheus, exactly): the regex is **fully anchored**
    against the value of label ``src``, where an **absent** ``src`` is the
    empty string (so patterns matching ``""`` DO fire on absent labels);
    on match, label ``dst`` is set to the first capture group (replacing
    any existing ``dst``) — unless the expansion is empty, in which case
    ``dst`` is **removed** from the labelset (never a dangling ``dst=``).
    On no match the series passes through unchanged.  The labelset stays
    sorted (P2 invariant) so series identity/grouping semantics downstream
    are unaffected.

    Pure per-row projection on the already-grouped frame: no extra
    shuffle; a following ``groupBy`` on the rewritten labelset is the
    standard "re-aggregate by derived label" PromQL move.
    """
    def build():
        src_val = F.coalesce(label_value(F.col("slb"), src), F.lit(""))
        anchored = f"^(?:{pattern})$"
        matched = src_val.rlike(anchored)
        cap = F.regexp_extract(src_val, anchored, 1)
        without_dst = F.filter(F.col("slb"), lambda x: ~x.like(f"{dst}=%"))
        with_dst = F.array_sort(
            F.concat(without_dst, F.array(F.concat(F.lit(dst + "="), cap)))
        )
        # filter of a sorted array is sorted, so the empty-expansion branch
        # needs no re-sort
        rewritten = F.when(F.length(cap) == 0, without_dst).otherwise(with_dst)
        return F.when(matched, rewritten).otherwise(F.col("slb"))

    return grouped.withColumn(
        "slb", _expr_memo(("label_replace", dst, src, pattern), build)
    )


def label_join(
    grouped: DataFrame, dst: str, sep: str, srcs: list[str]
) -> DataFrame:
    """PromQL ``label_join(v, dst, sep, src1, src2, ...)`` over the grouped
    read result: label ``dst`` becomes the values of the source labels
    joined with ``sep``.

    Prometheus semantics: label_join **always** applies (unlike
    label_replace there is no match condition); a missing source label
    contributes the empty string.  Any existing ``dst`` is replaced and
    the labelset stays sorted (P2 invariant).  Pure per-row projection —
    no shuffle.
    """
    def build():
        parts = [F.coalesce(label_value(F.col("slb"), s), F.lit("")) for s in srcs]
        joined = F.concat_ws(sep, *parts)
        without_dst = F.filter(F.col("slb"), lambda x: ~x.like(f"{dst}=%"))
        return F.array_sort(
            F.concat(without_dst, F.array(F.concat(F.lit(dst + "="), joined)))
        )

    return grouped.withColumn(
        "slb", _expr_memo(("label_join", dst, sep, tuple(srcs)), build)
    )


def quantile_over_time(grouped: DataFrame, quantiles: list[float]) -> DataFrame:
    """PromQL ``quantile_over_time`` per series — **discrete** (type-1)
    quantiles: the element at index ``floor((n-1) * q)`` of the sorted
    values, one output row per series with one ``p<q>`` column per
    requested quantile.

    Discrete (not interpolated) on purpose: the result is always an
    actual sample value, and indexing a sorted array is bit-exact across
    engines, where linear interpolation's float arithmetic is
    engine-dependent (the determinism rule that keeps the DuckDB oracle
    hash-stable).  One object-hash aggregation (``collect_list`` partials
    combine map-side); per-series sample counts are range-bounded, so the
    array stays small at any corpus scale.
    """
    agg = grouped.groupBy("metric_name", "slb").agg(*_sorted_values_aggs())

    def build():
        n = F.col("n_samples")
        cols = [F.col("metric_name"), F.col("slb"), n]
        for q in quantiles:
            idx0 = F.floor((n - 1).cast("double") * F.lit(q)).cast("int")
            name = f"p{str(q).replace('0.', '').ljust(2, '0')}"
            cols.append(F.get("_vs", idx0).alias(name))
        return tuple(cols)

    return agg.select(*_expr_memo(("qot_cols", tuple(quantiles)), build))


def _sorted_values_aggs() -> tuple:
    """Memoized ``(sort_array(collect_list(max_0)) AS _vs, count(*))`` —
    shared by the quantile/MAD object-hash aggregations."""
    return _expr_memo(
        ("sorted_values_aggs",),
        lambda: (
            F.sort_array(F.collect_list("max_0")).alias("_vs"),
            F.count("*").alias("n_samples"),
        ),
    )


def count_values(grouped: DataFrame) -> DataFrame:
    """PromQL ``count_values("value", v)``: number of samples per distinct
    sample value, per metric — the cardinality-inversion move (value becomes
    the key).  Double equality is exact (no arithmetic on the key), so the
    grouping is engine-independent.  Plain hash aggregation: map-side
    partials, one shuffle on (metric, value) — at 100 TB the output is
    bounded by value cardinality, not sample count.
    """
    aggs = _expr_memo(
        ("count_values_aggs",),
        lambda: (
            F.count("*").alias("n_samples"),
            F.countDistinct("slb").alias("n_series"),
        ),
    )
    return grouped.groupBy(
        "metric_name", _expr_memo(("value_key",), lambda: F.col("max_0").alias("value"))
    ).agg(*aggs)


def deriv_sums(grouped: DataFrame, t0_s: int, t_unit_s: int = 3600) -> DataFrame:
    """Exact per-series regression sums for ``deriv``/``predict_linear``.

    Times are rebased to ``t0_s`` and floored to ``t_unit_s`` units; values
    are quantized to integer micro-units (floor, values non-negative).  The
    five sufficient statistics (n, Σt, Σy, Σty, Σt²) are exact int64 sums —
    order-free, so partial aggregation combines map-side and the result is
    bit-identical across engines and partitionings.  One shuffle on the
    series key; at 100 TB the shuffled rows are pre-combined per-series
    partials, never raw samples.
    """
    proj = _expr_memo(
        ("deriv_proj", t0_s, t_unit_s),
        lambda: (
            ((F.col("t").cast("long") - F.lit(t0_s)) / F.lit(t_unit_s))
            .cast("long")
            .alias("_t"),
            F.floor(F.col("max_0") * 1_000_000).cast("long").alias("_y"),
        ),
    )
    aggs = _expr_memo(
        ("deriv_aggs",),
        lambda: (
            F.count("*").alias("n_samples"),
            F.sum("_t").alias("st"),
            F.sum("_y").alias("sy"),
            F.sum(F.col("_t") * F.col("_y")).alias("sty"),
            F.sum(F.col("_t") * F.col("_t")).alias("stt"),
        ),
    )
    return (
        grouped.select("metric_name", "slb", *proj)
        .groupBy("metric_name", "slb")
        .agg(*aggs)
    )


def deriv(grouped: DataFrame, t0_s: int, t_unit_s: int = 3600) -> DataFrame:
    """PromQL ``deriv``: per-series least-squares slope over the range, in
    micro-units per ``t_unit_s``.

    ``slope = (nΣty − ΣtΣy) / (nΣt² − (Σt)²)`` — numerator and denominator
    are computed in DECIMAL(38,0) (exact; the int64 sufficient statistics
    can overflow a long when multiplied), each converted to double
    (correctly-rounded, engine-independent), and divided once (single IEEE
    division, bit-exact).  No interpolated float accumulates across rows.
    Series with < 2 samples (or zero time variance) yield NULL.
    """
    d = deriv_sums(grouped, t0_s, t_unit_s)

    def build():
        dec = "decimal(38,0)"
        n = F.col("n_samples").cast(dec)
        num = n * F.col("sty").cast(dec) - F.col("st").cast(dec) * F.col("sy").cast(dec)
        den = n * F.col("stt").cast(dec) - F.col("st").cast(dec) * F.col("st").cast(dec)
        slope = F.when(
            den > 0, num.cast("double") / den.cast("double")
        ).otherwise(F.lit(None).cast("double"))
        return slope.alias("slope_mu")

    return d.select(
        "metric_name", "slb", "n_samples", _expr_memo(("deriv_slope",), build)
    )


def predict_linear(
    grouped: DataFrame, t0_s: int, tp_units: int, t_unit_s: int = 3600
) -> DataFrame:
    """PromQL ``predict_linear``: least-squares extrapolation of each series
    to time ``tp_units`` (in ``t_unit_s`` units after ``t0_s``), in
    micro-units.

    ``ŷ(tp) = ȳ + slope·(tp − t̄)`` evaluated as a FIXED double expression
    tree over exact integer statistics: n, Σt, Σy and the slope's
    numerator/denominator all stay below 2⁵³ (so their double conversions
    are exact in any engine), and every subsequent IEEE op is correctly
    rounded — the same tree is emitted in the SQL oracle, so the result is
    bit-identical cross-engine.  (The single-division closed form
    ``(den·Σy + num·(n·tp − Σt)) / (n·den)`` is NOT used: its products
    exceed 2⁵³, where DuckDB's two-step int128→double conversion and the
    JVM's BigDecimal conversion can differ by 1 ulp.)
    """
    d = deriv_sums(grouped, t0_s, t_unit_s)

    def build():
        dec = "decimal(38,0)"
        n = F.col("n_samples").cast(dec)
        st, sy = F.col("st").cast(dec), F.col("sy").cast(dec)
        num = n * F.col("sty").cast(dec) - st * sy
        den = n * F.col("stt").cast(dec) - st * st
        n_d = F.col("n_samples").cast("double")
        slope = num.cast("double") / den.cast("double")
        predicted = F.when(
            den > 0,
            F.col("sy").cast("double") / n_d
            + slope * (F.lit(float(tp_units)) - F.col("st").cast("double") / n_d),
        ).otherwise(F.lit(None).cast("double"))
        return predicted.alias("predicted_mu")

    return d.select(
        "metric_name", "slb", "n_samples", _expr_memo(("predict", tp_units), build)
    )


def to_histogram(grouped: DataFrame, bounds: list[int]) -> DataFrame:
    """Build Prometheus-style cumulative histogram series from raw samples:
    one conditional count per ``le`` bound (finite ints + ``+Inf``), per
    series — the ``<metric>_bucket`` family a Prometheus client would have
    exported.

    WIDE output (one row per series, one ``cum_<i>`` column per bound plus
    ``total``): a single hash aggregation with map-side partials — no
    window, no explode, one shuffle on the series key regardless of bucket
    count.  :func:`histogram_buckets` unpivots to the (le, cum) wire shape;
    :func:`histogram_quantile` consumes the wide shape directly.
    """
    aggs = _expr_memo(
        ("hist_aggs", tuple(bounds)),
        lambda: tuple(
            F.count(F.when(F.col("max_0") <= F.lit(b), 1)).alias(f"cum_{i}")
            for i, b in enumerate(bounds)
        )
        + (F.count("*").alias("total"),),
    )
    return grouped.groupBy("metric_name", "slb").agg(*aggs)


def histogram_buckets(grouped: DataFrame, bounds: list[int]) -> DataFrame:
    """The le-labeled cumulative bucket series (long format): per series,
    one row per ``le`` in ``bounds + [+Inf]`` with the cumulative count —
    exactly the shape ``histogram_quantile`` takes on the PromQL side.
    Pure unpivot (stack) of the wide frame: no extra shuffle.
    """
    wide = to_histogram(grouped, bounds)

    def build():
        pairs: list[Column] = []
        for i, b in enumerate(bounds):
            pairs.append(
                F.struct(F.lit(float(b)).alias("le"), F.col(f"cum_{i}").alias("cum"))
            )
        pairs.append(
            F.struct(F.lit(float("inf")).alias("le"), F.col("total").alias("cum"))
        )
        return F.explode(F.array(*pairs)).alias("_b")

    unpivot = _expr_memo(
        ("hist_bucket_sel",),
        lambda: (F.col("_b.le").alias("le"), F.col("_b.cum").alias("cum")),
    )
    return wide.select(
        "metric_name", "slb", _expr_memo(("hist_explode", tuple(bounds)), build)
    ).select("metric_name", "slb", *unpivot)


def histogram_quantile(
    grouped: DataFrame, q_num: int, q_den: int, bounds: list[int]
) -> DataFrame:
    """PromQL ``histogram_quantile(q, ...)`` with **exact integer
    interpolation**: the quantile is returned in micro-units so the linear
    interpolation inside the target bucket is pure int64 arithmetic
    (``lo·10⁶ + (hi−lo)·10⁶·(q·total − cum_lo) div (q_den·bucket_n)``) —
    floor division of non-negative ints, bit-identical in any engine.

    Prometheus edge rules: a rank landing in the first bucket interpolates
    from lower bound 0; a rank landing in the +Inf bucket returns the
    highest finite bound.  ``q`` is the rational ``q_num/q_den``.

    The bucket search is a chained CASE over the fixed (small) bounds list
    on the wide histogram frame — per-row projection, zero shuffles beyond
    the one inside :func:`to_histogram`.
    """
    wide = to_histogram(grouped, bounds)

    def build():
        rank = (F.lit(q_num) * F.col("total")).cast("long")  # vs q_den * cum

        def interp(i: int) -> Column:
            # In the matched bucket i, rank > q_den*cum_lo (an earlier bucket
            # would have matched otherwise) and bucket_n > 0 (an empty bucket
            # cannot be the first with cum >= rank), so num and den are
            # strictly positive: `div` truncation == floor == DuckDB `//`.
            lo = 0 if i == 0 else bounds[i - 1]
            hi = bounds[i]
            cum_lo = F.lit(0).cast("long") if i == 0 else F.col(f"cum_{i - 1}")
            bucket_n = F.col(f"cum_{i}") - cum_lo
            num = F.lit((hi - lo) * 1_000_000) * (rank - F.lit(q_den) * cum_lo)
            den = F.lit(q_den) * bucket_n
            return F.lit(lo * 1_000_000) + F.call_function("div", num, den)

        result = F.lit(bounds[-1] * 1_000_000).cast("long")  # +Inf bucket rule
        for i in reversed(range(len(bounds))):
            in_bucket = rank <= F.lit(q_den) * F.col(f"cum_{i}")
            result = F.when(in_bucket, interp(i).cast("long")).otherwise(result)
        return (F.col("total").alias("n_samples"), result.alias("q_mu"))

    cols = _expr_memo(("hist_q", q_num, q_den, tuple(bounds)), build)
    return wide.select("metric_name", "slb", *cols)


def label_project(labels: Column, prefix: str) -> Column:
    """X2: ``arrayFilter(x -> x LIKE 'name=%', labels)`` — keep one label."""
    return F.filter(labels, lambda x: x.like(f"{prefix}=%"))


def label_value(labels: Column, name: str) -> Column:
    """Extract a single label's value from the joined-string labelset
    (first-``=`` split semantics, reference ``read.go:86``)."""
    matches = F.filter(labels, lambda x: x.like(f"{name}=%"))
    return F.when(
        F.size(matches) > 0, F.substring(F.element_at(matches, 1), len(name) + 2, 2**30)
    ).otherwise(F.lit(None).cast("string"))


def stddev_over_time(grouped: DataFrame, bucket_s: int) -> DataFrame:
    """PromQL ``stddev_over_time`` + ``last_over_time`` over fixed buckets,
    exact cross-engine: values quantize to integer micro-units, the
    square-sum runs in DECIMAL(18,0) products (exact at any bucket size,
    no int64 overflow below ~9.2e9 micro-units squared), and the final
    ``floor(sqrt((q - s²/n)/n))`` uses only IEEE-exact ops (sqrt/div are
    correctly rounded; only libm transcendentals drift), so the emitted
    ``stddev_micro`` is bit-identical in any engine.  One map-side-
    combinable hash aggregation; ``last_v`` is max_by over the in-bucket
    timestamp (unique per series after the A1 grouping).

    Output: (metric_name, slb, bucket_t, n, sum_micro, stddev_micro,
    last_v).
    """
    proj = _expr_memo(
        ("sot_proj", bucket_s),
        lambda: (
            _bucket_col(bucket_s),
            F.col("t"),
            F.col("max_0"),
            F.floor(F.col("max_0") * 1000000.0).cast("long").alias("iv"),
        ),
    )
    aggs = _expr_memo(
        ("sot_aggs",),
        lambda: (
            F.count("*").alias("n"),
            F.sum("iv").alias("sum_micro"),
            F.sum(
                F.col("iv").cast("decimal(18,0)") * F.col("iv").cast("decimal(18,0)")
            ).alias("q"),
            F.max_by("max_0", "t").alias("last_v"),
        ),
    )
    agg = (
        grouped.select("metric_name", "slb", *proj)
        .groupBy("metric_name", "slb", "bucket_t")
        .agg(*aggs)
    )

    def _stddev():
        s = F.col("sum_micro").cast("double")
        qq = F.col("q").cast("double")
        nn = F.col("n").cast("double")
        var = (qq - s * s / nn) / nn
        return (
            F.floor(F.sqrt(F.greatest(var, F.lit(0.0))))
            .cast("long")
            .alias("stddev_micro")
        )

    return agg.select(
        "metric_name",
        "slb",
        "bucket_t",
        "n",
        "sum_micro",
        _expr_memo(("sot_stddev",), _stddev),
        "last_v",
    )


def exp_smooth(grouped: DataFrame, window_n: int = 21) -> DataFrame:
    """Simple exponential smoothing at alpha = 1/2 (the level term of
    PromQL ``holt_winters``) over each series' trailing ``window_n``
    samples, EXACT in integers: with alpha = 1/2 the unrolled recurrence
    ``s_T = sum_j x_{T-j}/2^(j+1) + x_oldest/2^(K-1)`` has power-of-two
    weights only, so scaling by ``2^(window_n-1)`` turns the whole
    computation into int64 shift-adds — bit-identical cross-engine where
    a float ``pow`` chain would drift.  One ranking window + one
    aggregation, both on the series key (exchange reused); at scale the
    trailing window is bounded by a pushed time filter, not a
    full-history sort.

    Output: (metric_name, slb, n_used, smooth_scaled) with
    ``smooth_scaled`` = level in micro-units x 2^(window_n-1).
    """
    S = window_n - 1
    proj = _expr_memo(
        ("exps_proj",),
        lambda: (
            F.floor(F.col("max_0") * 1000000.0).cast("long").alias("iv"),
            F.row_number()
            .over(Window.partitionBy("metric_name", "slb").orderBy(F.col("t").desc()))
            .alias("rn"),
        ),
    )
    ranked = grouped.select("metric_name", "slb", *proj).where(
        F.col("rn") <= window_n
    )
    k_col = _expr_memo(
        ("exps_k",),
        lambda: F.max("rn").over(Window.partitionBy("metric_name", "slb")),
    )
    aggs = _expr_memo(
        ("exps_aggs", window_n),
        lambda: (
            F.max("k").cast("long").alias("n_used"),
            F.sum(
                F.when(
                    F.col("rn") < F.col("k"), F.expr(f"shiftleft(iv, {S} - rn)")
                ).otherwise(F.expr(f"shiftleft(iv, {window_n} - k)"))
            )
            .cast("long")
            .alias("smooth_scaled"),
        ),
    )
    return (
        ranked.withColumn("k", k_col)
        .groupBy("metric_name", "slb")
        .agg(*aggs)
    )


def mad_over_time(grouped: DataFrame) -> DataFrame:
    """PromQL ``mad_over_time`` (median absolute deviation, Prometheus
    2.42+) per series, with DISCRETE (type-1) medians at both stages:
    every intermediate is either an actual sample value (sorted-array
    indexing) or a single exact IEEE subtraction, so the result is
    bit-identical cross-engine — the same determinism rule as
    :func:`quantile_over_time`, which interpolated medians would break.
    One object-hash aggregation; per-series arrays are range-bounded.

    Output: (metric_name, slb, n_samples, median_v, mad_v).
    """
    agg = grouped.groupBy("metric_name", "slb").agg(*_sorted_values_aggs())

    def build():
        n = F.col("n_samples")
        mid = F.floor((n - 1).cast("double") * F.lit(0.5)).cast("int")
        med = F.get("_vs", mid)
        devs = F.sort_array(F.transform("_vs", lambda x: F.abs(x - med)))
        return (med.alias("median_v"), F.get(devs, mid).alias("mad_v"))

    cols = _expr_memo(("mad_cols",), build)
    return agg.select("metric_name", "slb", "n_samples", *cols)
