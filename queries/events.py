"""Event-table analytics (sessions, funnels, retention, as-of joins,
bucketed and salted aggregation) with their DuckDB oracles."""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.operators.asof import asof_join

from ._common import Query, _dsum, _events, _mkdtemp, _session_memo, _tbl


def q_events_salted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-phase aggregation under key skew (operators/layout.py
    ``salted_agg``), oracled: per-event-type count + decimal-exact value
    sum where the four event types are exactly the hot-key shape that caps
    a plain groupBy at four reducers.  Phase 1 aggregates on (key, salt)
    spreading each key over 16 sub-reducers; phase 2 combines ≤16 partials
    per key — the oracle hash proves the rewrite loses nothing."""
    from remote_tsdb_clickhouse_spark.operators.layout import salted_agg

    ev = _tbl(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("value").cast("decimal(30,6)").alias("v")
    )
    agg = salted_agg(ev, ["event_type"], {"event_id": "count", "v": "sum"})
    return agg.select(
        "event_type",
        F.col("count_event_id").alias("n_events"),
        F.col("sum_v").cast("double").alias("sum_value"),
    )


@_session_memo("staging")
def _bucketed_user_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """(clicks, purchases, daily clicks) bucketed table names.  The
    bucketed fact tables are a WRITE-time layout decision (the Spark
    analog of pre-partitioned MergeTree tables); building them is ingest
    setup the join query consumes, memoized like the streaming staging."""
    from remote_tsdb_clickhouse_spark.operators.layout import write_bucketed

    ev = _events(spark, sf_dir)
    micro = F.floor(F.col("value") * 1000000.0).cast("long")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_clicks"), F.sum(micro).alias("click_micro"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_purchases"), F.sum(micro).alias("purchase_micro"))
    )
    base = _mkdtemp(prefix="bucketed_")
    # table names carry an sf_dir tag: catalog names are session-global,
    # so two scale dirs in one session must not overwrite each other
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    ct, pt = f"graft_clicks_bucketed_{tag}", f"graft_purchases_bucketed_{tag}"
    # repartition on the bucket key at the bucket count before writing:
    # Spark's bucket id uses the same Murmur3 hash as repartition, so this
    # yields exactly ONE file per bucket — the condition under which the
    # scan reports the sortBy ordering and the join's Sorts vanish too
    write_bucketed(
        clicks.repartition(16, "user_id"), ct, ["user_id"], 16,
        sort_cols=["user_id"], path=f"{base}/c",
    )
    write_bucketed(
        purchases.repartition(16, "user_id"), pt, ["user_id"], 16,
        sort_cols=["user_id"], path=f"{base}/p",
    )
    # a third table at (user, day) grain, still bucketed by user_id only:
    # the zero-exchange AGGREGATION demo needs multiple rows per bucket key
    daily = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n_clicks"), F.sum(micro).alias("click_micro"))
    )
    dt = f"graft_clicks_daily_bucketed_{tag}"
    write_bucketed(
        daily.repartition(16, "user_id"), dt, ["user_id"], 16,
        sort_cols=["user_id", "day"], path=f"{base}/d",
    )
    return ct, pt, dt


def q_events_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join with ZERO exchanges: per-user click and purchase
    aggregates are written as 16-bucket tables hash-bucketed and
    in-bucket-sorted on the join key (operators/layout.write_bucketed),
    so the scan reports the bucketing as its output partitioning and the
    sort-merge join plans with no Exchange at all (plan-gated; the
    in-partition Sorts remain — Spark derives no scan ordering from
    sorted buckets without the legacy flag, and sorting pre-sorted
    buckets is the cheap part).  At 100 TB this is the lever that turns
    the dominant cost of a fact-fact join — two full shuffles — into
    none; the oracle hash proves the layout trick changes nothing
    semantically.  Values join in exact micro-units."""
    ct, pt, _dt = _bucketed_user_tables(spark, sf_dir)
    c = spark.table(ct)
    p = spark.table(pt)
    return c.join(p, "user_id").select(
        "user_id", "n_clicks", "n_purchases", "click_micro", "purchase_micro"
    )


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week, counted
    by distinct active week offset — the standard cohort triangle."""
    from remote_tsdb_clickhouse_spark.sources.events import read_events

    e = _events(spark, sf_dir)
    week = (F.col("ts").cast("long") / F.lit(604800)).cast("long")
    activity = e.select("user_id", week.alias("wk")).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("wk").alias("wk0"))
    return (
        activity.join(cohort, "user_id")
        .groupBy("wk0", (F.col("wk") - F.col("wk0")).alias("offset_wk"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def q_events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type: floor-bucket on the value
    axis (integer bucket ids — cross-engine exact), count + exact sum per
    bucket.  The all-integer groupBy key aggregates map-side."""
    e = _tbl(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 10.0).cast("long").alias("bucket")
    return e.groupBy("event_type", bucket).agg(
        F.count("*").alias("n"), _dsum(F.col("value")).alias("sum_v")
    )


def q_events_daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide daily activity matrix: one row per day, one count column per
    event type — ``groupBy().pivot()`` with an explicit value list (so the
    output schema is static and Spark skips the extra distinct-values job;
    mandatory at scale, where the implicit scan is a full shuffle)."""
    from remote_tsdb_clickhouse_spark.sources.events import read_events

    e = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts")).cast("timestamp_ltz").cast("long").alias("day")
    types = ["click", "view", "purchase", "signup"]
    return (
        e.groupBy(day)
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from remote_tsdb_clickhouse_spark.sources.events import read_events

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("double")
    gap = sec - F.lag(sec).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0)
    sess = e.withColumn(
        "sess",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return sess.groupBy("user_id", "sess").agg(
        F.count("*").alias("n_events"),
        F.min(F.col("ts").cast("long")).alias("sess_start"),
        F.max(F.col("ts").cast("long")).alias("sess_end"),
        _dsum(F.col("value")).alias("sum_value"),
    )


def q_events_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase annotated with the user's most recent
    prior-or-simultaneous click.  Union-and-scan shape (operators/asof.py) —
    one shuffle, no range-join explosion; DuckDB's native ASOF JOIN is the
    oracle twin."""
    from remote_tsdb_clickhouse_spark.sources.events import read_events

    e = _events(spark, sf_dir)
    clicks = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_v"))
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    j = asof_join(purchases, clicks, on=["user_id"], right_cols=["click_v"])
    return j.select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("t"),
        "value",
        F.col("ts_right").cast("long").alias("click_t"),
        F.col("click_v_right").alias("click_v"),
    )


def q_events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a TOLERANCE bound (pandas ``merge_asof`` semantics,
    the feature-store freshness rule): the prevailing click is attached
    only if it is at most 1 hour old at purchase time — staler matches
    null out.  Same union-and-scan dataflow (one shuffle); the tolerance
    is a post-carry projection, not a range join.  DuckDB has no ASOF
    tolerance, so the oracle applies the same null-out CASE on top of its
    native ASOF JOIN — the convention is pinned, not assumed."""
    from remote_tsdb_clickhouse_spark.sources.events import read_events

    e = _events(spark, sf_dir)
    clicks = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_v"))
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    j = asof_join(
        purchases, clicks, on=["user_id"], right_cols=["click_v"], tolerance_s=3600
    )
    return j.select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("t"),
        "value",
        F.col("ts_right").cast("long").alias("click_t"),
        F.col("click_v_right").alias("click_v"),
    )


def q_events_asof_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (asof_join(direction="forward")): each purchase
    annotated with the user's next click at-or-after it, plus the
    conversion latency in seconds — the time-to-next-event shape.  Same
    single-shuffle union-and-scan with the carry running from the frame
    end; DuckDB's ASOF JOIN with the inequality flipped is the oracle."""
    from remote_tsdb_clickhouse_spark.sources.events import read_events

    e = _events(spark, sf_dir)
    clicks = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_v"))
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    j = asof_join(
        purchases, clicks, on=["user_id"], right_cols=["click_v"], direction="forward"
    )
    return j.select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("t"),
        F.col("ts_right").cast("long").alias("next_click_t"),
        (F.col("ts_right").cast("long") - F.col("ts").cast("long")).alias("latency_s"),
        F.col("click_v_right").alias("click_v"),
    )


def q_events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window per event type (batch twin of the
    streaming windowed aggregation in streaming/ingest.py)."""
    from remote_tsdb_clickhouse_spark.sources.events import read_events

    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), _dsum(F.col("value")).alias("sum_value"))
        .select(
            "event_type",
            F.col("w.start").cast("long").alias("w_start"),
            "n_events",
            "sum_value",
        )
    )


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel: signup -> first click after signup ->
    first purchase after that click, counted per stage (single output row).
    Three stage aggregations, each joining the previous stage's anchor time."""
    from remote_tsdb_clickhouse_spark.sources.events import read_events

    e = _events(spark, sf_dir)
    s0 = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    day = 86400.0
    c0 = (
        e.where(F.col("event_type") == "click")
        .join(s0, "user_id")
        .where(
            (F.col("ts") >= F.col("t_signup"))
            & (F.col("ts").cast("double") - F.col("t_signup").cast("double") <= day)
        )
        .groupBy("user_id", "t_signup")
        .agg(F.min("ts").alias("t_click"))
    )
    p0 = (
        e.where(F.col("event_type") == "purchase")
        .join(c0, "user_id")
        .where(
            (F.col("ts") >= F.col("t_click"))
            & (F.col("ts").cast("double") - F.col("t_click").cast("double") <= day)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s0.agg(F.count("*").alias("n_signup"))
        .crossJoin(c0.agg(F.count("*").alias("n_click_after")))
        .crossJoin(p0.agg(F.count("*").alias("n_purchase_after")))
    )


def q_events_bucketed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-exchange aggregation off the bucketed layout: a groupBy on the
    bucket key of a 16-bucket table needs NO shuffle (the scan's reported
    bucketing satisfies the aggregation's distribution requirement —
    plan-gated), completing the write-time-layout story beside the
    zero-exchange join.  Decimal-exact value stats per user over the
    bucketed click aggregates."""
    _ct, _pt, dt = _bucketed_user_tables(spark, sf_dir)
    d = spark.table(dt)
    return (
        d.groupBy("user_id")
        .agg(
            F.sum("n_clicks").cast("long").alias("n_clicks"),
            F.sum("click_micro").cast("long").alias("click_micro"),
            F.count("*").cast("long").alias("n_active_days"),
        )
    )


def queries() -> dict[str, Query]:
    return {
        "events_asof_tolerance": q_events_asof_tolerance,
        "events_asof_next": q_events_asof_next,
        "events_bucketed_agg": q_events_bucketed_agg,
        "events_value_histogram": q_events_value_histogram,
        "events_daily_pivot": q_events_daily_pivot,
        "events_retention": q_events_retention,
        "events_salted_stats": q_events_salted_stats,
        "events_bucketed_join": q_events_bucketed_join,
        "events_sessionize": q_events_sessionize,
        "events_asof_click": q_events_asof_click,
        "events_window_agg": q_events_window_agg,
        "events_funnel": q_events_funnel,
    }


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect; tables pre-registered as views)
# ---------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    return {
        # bucketed co-located join: the oracle proves the write-time
        # layout trick changes nothing semantically (plan gate proves the
        # exchanges are gone)
        "events_bucketed_join": """
WITH m AS (
    SELECT user_id, event_type,
           CAST(floor(value * 1000000.0) AS BIGINT) AS iv
    FROM events
),
c AS (
    SELECT user_id, count(*) AS n_clicks, CAST(sum(iv) AS BIGINT) AS click_micro
    FROM m WHERE event_type = 'click' GROUP BY 1
),
p AS (
    SELECT user_id, count(*) AS n_purchases, CAST(sum(iv) AS BIGINT) AS purchase_micro
    FROM m WHERE event_type = 'purchase' GROUP BY 1
)
SELECT user_id, n_clicks, n_purchases, click_micro, purchase_micro
FROM c JOIN p USING (user_id)
""",
        "events_retention": """
WITH activity AS (
    SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk FROM events
),
cohort AS (
    SELECT user_id, min(wk) AS wk0 FROM activity GROUP BY 1
)
SELECT c.wk0, a.wk - c.wk0 AS offset_wk, count(DISTINCT a.user_id) AS n_users
FROM activity a JOIN cohort c USING (user_id)
GROUP BY 1, 2
""",
        "events_asof_click": """
WITH clicks AS (
    SELECT user_id, ts, max(value) AS click_v
    FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
p AS (
    SELECT event_id, user_id, ts, value
    FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.event_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS t, p.value,
       CAST(floor(epoch(clicks.ts)) AS BIGINT) AS click_t, clicks.click_v
FROM p ASOF LEFT JOIN clicks
  ON p.user_id = clicks.user_id AND p.ts >= clicks.ts
""",
        # forward as-of: the same ASOF JOIN with the inequality flipped
        "events_asof_next": """
WITH clicks AS (
    SELECT user_id, ts, max(value) AS click_v
    FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
p AS (
    SELECT event_id, user_id, ts, value
    FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.event_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS t,
       CAST(floor(epoch(clicks.ts)) AS BIGINT) AS next_click_t,
       CAST(floor(epoch(clicks.ts)) AS BIGINT)
           - CAST(floor(epoch(p.ts)) AS BIGINT) AS latency_s,
       clicks.click_v
FROM p ASOF LEFT JOIN clicks
  ON p.user_id = clicks.user_id AND p.ts <= clicks.ts
""",
        # tolerance as-of: same ASOF JOIN, matches staler than 1 h null out
        "events_asof_tolerance": """
WITH clicks AS (
    SELECT user_id, ts, max(value) AS click_v
    FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
p AS (
    SELECT event_id, user_id, ts, value
    FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.event_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS t, p.value,
       CASE WHEN epoch(p.ts) - epoch(clicks.ts) <= 3600
            THEN CAST(floor(epoch(clicks.ts)) AS BIGINT) END AS click_t,
       CASE WHEN epoch(p.ts) - epoch(clicks.ts) <= 3600
            THEN clicks.click_v END AS click_v
FROM p ASOF LEFT JOIN clicks
  ON p.user_id = clicks.user_id AND p.ts >= clicks.ts
""",
        "events_window_agg": """
SELECT event_type,
       CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % 3600 AS w_start,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
        "events_sessionize": """
WITH d AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
    SELECT user_id, ts, value,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
    FROM d
)
SELECT user_id, sess, count(*) AS n_events,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS sess_end,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM s GROUP BY 1, 2
""",
        "events_funnel": """
WITH s0 AS (
    SELECT user_id, min(ts) AS t_signup FROM events
    WHERE event_type = 'signup' GROUP BY 1
),
c0 AS (
    SELECT e.user_id, s0.t_signup, min(e.ts) AS t_click
    FROM events e JOIN s0 ON e.user_id = s0.user_id
    WHERE e.event_type = 'click' AND e.ts >= s0.t_signup
      AND epoch(e.ts) - epoch(s0.t_signup) <= 86400.0
    GROUP BY 1, 2
),
p0 AS (
    SELECT e.user_id, min(e.ts) AS t_purchase
    FROM events e JOIN c0 ON e.user_id = c0.user_id
    WHERE e.event_type = 'purchase' AND e.ts >= c0.t_click
      AND epoch(e.ts) - epoch(c0.t_click) <= 86400.0
    GROUP BY 1
)
SELECT (SELECT count(*) FROM s0) AS n_signup,
       (SELECT count(*) FROM c0) AS n_click_after,
       (SELECT count(*) FROM p0) AS n_purchase_after
""",
        # zero-exchange bucketed aggregation = plain per-user click stats
        "events_bucketed_agg": """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_clicks,
       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS click_micro,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days
FROM events WHERE event_type = 'click' GROUP BY 1
""",
        "events_value_histogram": """
SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bucket,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_v
FROM events GROUP BY 1, 2
""",
        "events_daily_pivot": """
SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup
FROM events GROUP BY 1
""",
        "events_salted_stats": """
SELECT event_type, count(event_id) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
""",
    }
