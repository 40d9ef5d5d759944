"""Analytic join/aggregate/window queries (TPC-H-shaped; extended
capability) with their DuckDB oracles."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.util import spread

from ._common import Query, _dsum, _tbl


def q_customers_lapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference: customers who ordered in 1996 but not in 1997
    (EXCEPT — the reference has zero set ops; this is the extension's
    canonical one).  Both branches prune to one column before the distinct
    shuffle."""
    o = _tbl(spark, sf_dir, "orders")
    def year_keys(y: int) -> DataFrame:
        return o.where(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select("o_custkey")
    # subtract == SQL EXCEPT (set semantics: distinct is built in)
    return year_keys(1996).subtract(year_keys(1997))


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the testdata lineitem is ONE parquet row group, so without
    # it the entire 8-way decimal aggregation runs on one core (parquet
    # cannot split below a row group; measured 1.9 s -> 1.25 s).  At
    # scale, files have many row groups and spread() is a no-op probe.
    l = spread(_tbl(spark, sf_dir, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    # Sums go through DECIMAL(30,6): the per-row cast is engine-agnostic and
    # the decimal sum is exact, so the final double is bit-identical in the
    # oracle regardless of aggregation order (float sums are not).
    dsum = _dsum
    cnt = F.count("*")
    return (
        l.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            (dsum(F.col("l_quantity")) / cnt).alias("avg_qty"),
            (dsum(F.col("l_extendedprice")) / cnt).alias("avg_price"),
            (dsum(F.col("l_discount")) / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _tbl(spark, sf_dir, "customer")
    o = _tbl(spark, sf_dir, "orders")
    l = _tbl(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15").cast("timestamp")
    joined = (
        l.where(F.col("l_shipdate") > cutoff)
        .join(o.where(F.col("o_orderdate") < cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            # no broadcast hint: customer scales with SF (auto-broadcast
            # picks it up at small scale; sort-merge/AQE at 100 TB)
            c.where(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            # parquet dates arrive as TIMESTAMP_NTZ; route via LTZ (session
            # TZ is UTC) to get the same epoch DuckDB computes
            F.col("o_orderdate").cast("timestamp_ltz").cast("long").alias("o_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    rd = lambda t: _tbl(spark, sf_dir, t)
    joined = (
        rd("lineitem")
        .join(
            rd("orders").where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(rd("supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            rd("customer"),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(rd("nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(rd("region").where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    return joined.groupBy("n_name").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


def q4_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS semi-join + priority count), adapted to this
    schema: orders from 1996Q1 with at least one lineitem shipped more than
    60 days after the order date.  The compound-condition left-semi join
    never materializes the lineitem columns; partial counts aggregate
    map-side after the join shuffle."""
    o = _tbl(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    l = _tbl(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between two nations by year, both
    directions.  Nation is a fixed-size dim — broadcast twice under
    different aliases; the fact-side joins shuffle on their keys."""
    rd = lambda t: _tbl(spark, sf_dir, t)
    n1 = rd("nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = rd("nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        rd("lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(rd("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(rd("supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(rd("customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3 suppliers' share of PROMO-part revenue sold
    to ASIA customers, by year.  The share is a ratio of two conditional
    decimal-exact sums computed in ONE aggregation pass (sum(CASE WHEN)) —
    no second join or self-aggregation; the division of identical doubles
    is IEEE-deterministic cross-engine."""
    rd = lambda t: _tbl(spark, sf_dir, t)
    n_cust = rd("nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey")
    )
    joined = (
        rd("lineitem")
        .join(rd("part").where(F.col("p_type") == "PROMO"), F.col("l_partkey") == F.col("p_partkey"))
        .join(rd("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(rd("customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(rd("region").where(F.col("r_name") == "ASIA")),
            F.col("cn_rkey") == F.col("r_regionkey"),
        )
        .join(rd("supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(rd("nation")), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_vol = F.when(F.col("n_name") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            _dsum(nation_vol).alias("nation_revenue"),
            _dsum(vol).alias("total_revenue"),
        )
        .select(
            "o_year",
            "nation_revenue",
            "total_revenue",
            (F.col("nation_revenue") / F.col("total_revenue")).alias("mkt_share"),
        )
    )


def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape adapted (no partsupp table): profit on widget parts by
    supplier nation and year, with p_retailprice*quantity as the cost leg."""
    rd = lambda t: _tbl(spark, sf_dir, t)
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    joined = (
        rd("lineitem")
        .join(rd("part").where(F.col("p_name").contains("widget")), F.col("l_partkey") == F.col("p_partkey"))
        .join(rd("supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(rd("nation")), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy("n_name", F.year("l_shipdate").alias("o_year")).agg(
        _dsum(amount).alias("sum_profit")
    )


def q10_returned_item_reporting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by lost revenue from returned items in a
    quarter."""
    rd = lambda t: _tbl(spark, sf_dir, t)
    joined = (
        rd("lineitem")
        .where(F.col("l_returnflag") == "R")
        .join(
            rd("orders").where(
                (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(rd("customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(rd("nation")), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: histogram of per-customer order counts (left outer join so
    zero-order customers land in bucket 0, then a second aggregation over
    the counts — the classic double-groupBy distribution shape)."""
    c = _tbl(spark, sf_dir, "customer")
    o = _tbl(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    counts = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q16_supplier_part_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (no partsupp: lineitem is the part-supplier bridge):
    distinct supplier count per (brand, type, size) for non-Brand#1 small
    parts.  count(DISTINCT) expands map-side into the distinct-key shuffle;
    the part filter prunes before the join."""
    p = _tbl(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    l = _tbl(spark, sf_dir, "lineitem")
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: average yearly revenue lost if small-quantity orders of
    Brand#21 parts were not taken.  The per-part average quantity is a
    window over the part key (one shuffle, no self-join); the threshold
    compare uses an exact decimal-sum average so boundary rows can't flip
    between engines."""
    from pyspark.sql import Window

    p = _tbl(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#21")
    l = _tbl(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    joined = l.join(p, F.col("l_partkey") == F.col("p_partkey")).withColumn(
        "_avg_qty",
        F.sum(F.col("l_quantity").cast("decimal(30,6)")).over(w).cast("double")
        / F.count("*").over(w),
    )
    return joined.where(F.col("l_quantity") < 0.2 * F.col("_avg_qty")).agg(
        (_dsum(F.col("l_extendedprice")) / 7.0).alias("avg_yearly")
    )


def q19_or_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive brand/size/quantity predicate combos — one
    join, the OR filter evaluated post-join inside codegen."""
    p = _tbl(spark, sf_dir, "part")
    l = _tbl(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & qty.between(20, 30))
    )
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q22_inactive_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance and no
    orders, counted per nation.  The scalar average arrives via a broadcast
    cross join (never collected to the driver); the no-orders test is a
    left-anti join."""
    c = _tbl(spark, sf_dir, "customer")
    o = _tbl(spark, sf_dir, "orders")
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(30,6)")).cast("double") / F.count("*")
        ).alias("_avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            _dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


def q12_ship_lateness_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (no shipmode column): late shipments (>30 days after
    order) per ship year, split into high/low-priority conditional counts —
    the sum(CASE WHEN) pivot pattern, all-integer so cross-engine exact."""
    o = _tbl(spark, sf_dir, "orders")
    l = _tbl(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with maximum quarterly revenue.  The global
    max arrives by broadcast cross join against the 1-row aggregate (no
    driver round-trip, no global window sort); revenue equality is exact
    because both sides sum through DECIMAL(30,6)."""
    l = _tbl(spark, sf_dir, "lineitem")
    s = _tbl(spark, sf_dir, "supplier")
    rev = (
        l.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("_mx"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_top_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _tbl(spark, sf_dir, "customer")
    o = _tbl(spark, sf_dir, "orders")
    from pyspark.sql import Window

    rev = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "c_custkey")
        .agg(_dsum(F.col("o_totalprice")).alias("total"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("total").desc(), F.col("c_custkey"))
    return (
        rev.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 5)
        .select("c_mktsegment", "c_custkey", "total", "rnk")
    )


def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan+filter+aggregate — the predicate-pushdown showcase: every
    filter reaches the parquet scan, no shuffle beyond the final 1-row agg."""
    l = _tbl(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join + conditional aggregate ratio."""
    l = _tbl(spark, sf_dir, "lineitem")
    p = _tbl(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    j = l.where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    ).join(p, F.col("l_partkey") == F.col("p_partkey"))
    return j.agg(
        _dsum(promo).alias("promo_revenue"),
        _dsum(disc_price).alias("total_revenue"),
        (F.lit(100.0) * _dsum(promo) / _dsum(disc_price)).alias("promo_pct"),
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-filter (HAVING) feeding a join back to the fact's
    parents — the group-filter-join shape of TPC-H q18."""
    l = _tbl(spark, sf_dir, "lineitem")
    o = _tbl(spark, sf_dir, "orders")
    c = _tbl(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(_dsum(F.col("l_quantity")).alias("sum_qty"))
        .where(F.col("sum_qty") > 150.0)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_mktsegment",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp_ltz").cast("long").alias("o_date"),
            "o_totalprice",
            "sum_qty",
        )
    )


def q_orders_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): orders having at least one returned item."""
    l = _tbl(spark, sf_dir, "lineitem")
    o = _tbl(spark, sf_dir, "orders")
    returned = l.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.join(returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


def q_orders_no_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): orders with no returned item."""
    l = _tbl(spark, sf_dir, "lineitem")
    o = _tbl(spark, sf_dir, "orders")
    returned = l.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.join(returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


def q_orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence over lineitem: unordered part pairs
    appearing together in >= 2 orders, with support counts.  Scale
    shape: the per-order item list is bounded (<= 7 lineitems in TPC-H),
    so the within-order pair explode is linear in orders, and the support
    aggregation is one hash shuffle on the pair key — the standard
    frequent-itemset counting pass, no corpus-wide self-join."""
    li = _tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # ONE shuffle builds the per-order item set; the unordered-pair
    # expansion is an array HOF over the sorted set (linear in orders ×
    # basket², basket <= 7) — not the lineitem self-join an earlier
    # version used, which shuffled the fact table twice and needed a
    # countDistinct (each order then contributed one row per matching
    # lineitem pair, not per part pair).  With pairs pre-deduped per
    # order, support is a plain count.
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + F.lit(2), F.size(F.col("parts"))),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 2)
    )


def q_order_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (bit-identical to DuckDB's
    quantile_cont — verified empirically)."""
    o = _tbl(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.5).alias("p50"),
        F.percentile("o_totalprice", 0.9).alias("p90"),
        F.percentile("o_totalprice", 0.99).alias("p99"),
        F.count("*").alias("n_orders"),
    )


def q_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets: (segment, priority) -> (segment) -> () totals."""
    o = _tbl(spark, sf_dir, "orders")
    c = _tbl(spark, sf_dir, "customer")
    j = o.join(c, F.col("o_custkey") == F.col("c_custkey"))
    return j.rollup("c_mktsegment", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        _dsum(F.col("o_totalprice")).alias("total_value"),
    )


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest supplier per part by observed unit price (q2's shape on
    the available schema).

    Aggregate before the shuffle: the rk=1 row of a
    row_number window ordered by (unit_price asc, l_suppkey asc) IS the
    lexicographic minimum of struct(unit_price, l_suppkey) — no nulls, no
    NaNs (both inputs positive), so struct-min picks the identical row.
    The window shape shuffled and SORTED every lineitem row; the struct-min
    aggregate combines map-side (partial min per partkey before the
    exchange) and needs no sort.  Interleaved A/B at sf0.1: 1.23 -> 0.82 s
    min-of-6, faster in 6/6 pairs; rows asserted identical."""
    l = _tbl(spark, sf_dir, "lineitem")
    unit = (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    best = (
        l.select("l_partkey", "l_suppkey", unit)
        .groupBy("l_partkey")
        .agg(F.min(F.struct("unit_price", "l_suppkey")).alias("b"))
    )
    return best.select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("b.l_suppkey").alias("best_suppkey"),
        F.col("b.unit_price").alias("unit_price"),
    )


def q2_min_cost_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape on the available schema (no partsupp: the observed
    min unit price per (part, supplier) from lineitem is the supply cost):
    for STANDARD parts of selected sizes, every EUROPE supplier whose cost
    equals the part's regional minimum.  The part filter prunes before the
    fact join; nation/region are broadcast; the per-part minimum arrives by
    window min over the already-aggregated (part, supplier) frame — two
    key-partitioned shuffles, no self-join, no driver round-trip.  Unit
    price is a single IEEE double division (bit-identical cross-engine),
    so the min-equality filter cannot flip rows."""
    from pyspark.sql import Window

    p = _tbl(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & F.col("p_size").isin(5, 9, 14)
    )
    l = _tbl(spark, sf_dir, "lineitem")
    s = _tbl(spark, sf_dir, "supplier")
    n = _tbl(spark, sf_dir, "nation")
    r = _tbl(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu_supp = s.join(
        F.broadcast(n.join(r, F.col("n_regionkey") == F.col("r_regionkey"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    cost = (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(eu_supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey", "s_name", "n_name", "s_acctbal")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supply_cost"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        cost.withColumn("_min_cost", F.min("supply_cost").over(w))
        .where(F.col("supply_cost") == F.col("_min_cost"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            "n_name",
            "s_acctbal",
            "supply_cost",
        )
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose NATION_7-supplied value exceeds a
    fraction of the nation's total supplied value.  The scalar total is a
    1-row aggregate broadcast back over the per-part values (never
    collected); the supplier restriction filters before the fact join, so
    the shuffle carries ~1/25 of lineitem.  Both sides of the threshold
    compare come from the same per-part DECIMAL(30,6) sums."""
    l = _tbl(spark, sf_dir, "lineitem")
    s = _tbl(spark, sf_dir, "supplier")
    n = _tbl(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    # Persist the per-part aggregate (one row per part — metadata-sized
    # next to lineitem): both the scalar total and the threshold filter
    # consume it, and without the persist Catalyst would re-scan the whole
    # fact table for the 1-row total — the classic Q11 double-scan trap.
    val = (
        l.join(
            s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(_dsum(F.col("l_extendedprice")).alias("value"))
        .persist()
    )
    tot = val.agg(
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("_tot")
    )
    return (
        val.crossJoin(F.broadcast(tot))
        .where(F.col("value") > 0.001 * F.col("_tot"))
        .select("partkey", "value")
    )


def q20_promotable_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: EUROPE suppliers who shipped more than 30% of a
    'small%' part's total 1997 volume (the excess-stock semi-join chain,
    availqty re-read as shipped quantity).  Date + name filters prune the
    scan before the join; the per-part total is a window sum over the
    already-aggregated (part, supplier) frame (no nested-subquery re-scan);
    the region gate lands as one hash join against the filtered supplier
    dim before the final distinct."""
    from pyspark.sql import Window

    p = _tbl(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    l = _tbl(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = _tbl(spark, sf_dir, "supplier")
    n = _tbl(spark, sf_dir, "nation")
    r = _tbl(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    shipped = (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(_dsum(F.col("l_quantity")).alias("qty"))
    )
    w = Window.partitionBy("l_partkey")
    heavy = shipped.withColumn(
        "part_qty",
        F.sum(F.col("qty").cast("decimal(30,6)")).over(w).cast("double"),
    ).where(F.col("qty") > 0.3 * F.col("part_qty"))
    eu_supp = s.join(
        F.broadcast(n.join(r, F.col("n_regionkey") == F.col("r_regionkey"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    return (
        heavy.join(eu_supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name")
        .distinct()
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (no receipt/commit dates: late = shipped more than
    60 days after the order date): for finalized multi-supplier orders
    where exactly one supplier shipped late, count such orders per ASIA
    supplier.  The exists/not-exists pair of the original becomes one
    groupBy to (order, supplier) + one window over the order key (counts
    of suppliers and late suppliers) — two shuffles on the same key, so
    Catalyst reuses the exchange; no self-joins of lineitem."""
    from pyspark.sql import Window

    o = _tbl(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    l = _tbl(spark, sf_dir, "lineitem")
    s = _tbl(spark, sf_dir, "supplier")
    n = _tbl(spark, sf_dir, "nation")
    r = _tbl(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    late = (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).cast("long")
    per = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
    )
    w = Window.partitionBy("l_orderkey")
    stats = per.withColumn("n_supp", F.count("*").over(w)).withColumn(
        "n_late", F.sum("late").over(w)
    )
    asia_supp = s.join(
        F.broadcast(n.join(r, F.col("n_regionkey") == F.col("r_regionkey"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    return (
        stats.where(
            (F.col("late") == 1) & (F.col("n_late") == 1) & (F.col("n_supp") > 1)
        )
        .join(asia_supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


def queries() -> dict[str, Query]:
    return {
        "orders_market_basket": q_orders_market_basket,
        "min_cost_supplier": q_min_cost_supplier,
        "orders_with_returns": q_orders_with_returns,
        "orders_no_returns": q_orders_no_returns,
        "order_value_quantiles": q_order_value_quantiles,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q4_late_shipment_priority": q4_late_shipment_priority,
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "q7_nation_trade_volume": q7_nation_trade_volume,
        "q8_market_share": q8_market_share,
        "q9_product_type_profit": q9_product_type_profit,
        "q2_min_cost_region": q2_min_cost_region,
        "q11_important_parts": q11_important_parts,
        "q20_promotable_suppliers": q20_promotable_suppliers,
        "q21_waiting_suppliers": q21_waiting_suppliers,
        "customers_lapsed": q_customers_lapsed,
        "q10_returned_item_reporting": q10_returned_item_reporting,
        "q13_customer_order_distribution": q13_customer_order_distribution,
        "q12_ship_lateness_priority": q12_ship_lateness_priority,
        "top_customers_per_segment": q_top_customers_per_segment,
        "q6_revenue_delta": q6_revenue_delta,
        "q15_top_supplier": q15_top_supplier,
        "q16_supplier_part_cardinality": q16_supplier_part_cardinality,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q19_or_predicate_revenue": q19_or_predicate_revenue,
        "q22_inactive_customer_balance": q22_inactive_customer_balance,
        "q14_promo_revenue": q14_promo_revenue,
        "q18_large_orders": q18_large_orders,
        "sales_rollup": q_sales_rollup,
    }


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect; tables pre-registered as views)
# ---------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avg_price,
       CAST(sum(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
        "q3_shipping_priority": """
SELECT l_orderkey,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_date,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
        "q5_local_supplier_volume": """
SELECT n_name, CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
        "q4_late_shipment_priority": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY 1
""",
        "q7_nation_trade_volume": """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
""",
        "q8_market_share": """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(sum(CAST(CASE WHEN ns.n_name = 'NATION_3'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE) AS nation_revenue,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS total_revenue,
       CAST(sum(CAST(CASE WHEN ns.n_name = 'NATION_3'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN region   ON nc.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE p_type = 'PROMO' AND r_name = 'ASIA'
GROUP BY 1
""",
        "q9_product_type_profit": """
SELECT n_name,
       CAST(year(l_shipdate) AS INTEGER) AS o_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity
                AS DECIMAL(30,6))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
""",
        "q10_returned_item_reporting": """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
        "q13_customer_order_distribution": """
WITH counts AS (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer LEFT OUTER JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority != '1-URGENT'
    GROUP BY 1
)
SELECT c_count, count(*) AS custdist FROM counts GROUP BY 1
""",
        "q16_supplier_part_cardinality": """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand != 'Brand#1' AND p_size IN (1, 4, 9, 16, 25, 36, 49)
GROUP BY 1, 2, 3
""",
        "q17_small_quantity_revenue": """
WITH j AS (
    SELECT l_extendedprice, l_quantity,
           CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) OVER w AS DOUBLE)
             / count(*) OVER w AS avg_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#21'
    WINDOW w AS (PARTITION BY l_partkey)
)
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / 7.0 AS avg_yearly
FROM j WHERE l_quantity < 0.2 * avg_qty
""",
        "q19_or_predicate_revenue": """
SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
""",
        "q22_inactive_customer_balance": """
WITH avg_bal AS (
    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS a
    FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey, count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1
""",
        "q2_min_cost_region": """
WITH cost AS (
    SELECT l_partkey, l_suppkey, s_name, n_name, s_acctbal,
           min(l_extendedprice / l_quantity) AS supply_cost
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_type = 'STANDARD' AND p_size IN (5, 9, 14) AND r_name = 'EUROPE'
    GROUP BY 1, 2, 3, 4, 5
), best AS (
    SELECT *, min(supply_cost) OVER (PARTITION BY l_partkey) AS mc FROM cost
)
SELECT l_partkey AS p_partkey, l_suppkey AS s_suppkey, s_name, n_name,
       s_acctbal, supply_cost
FROM best WHERE supply_cost = mc
""",
        "q11_important_parts": """
WITH val AS (
    SELECT l_partkey AS partkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS value
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
    GROUP BY 1
), tot AS (
    SELECT CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS t FROM val
)
SELECT partkey, value FROM val, tot WHERE value > 0.001 * t
""",
        "q20_promotable_suppliers": """
WITH shipped AS (
    SELECT l_partkey, l_suppkey,
           CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%'
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2
), flagged AS (
    SELECT *,
           CAST(sum(CAST(qty AS DECIMAL(30,6)))
                OVER (PARTITION BY l_partkey) AS DOUBLE) AS part_qty
    FROM shipped
)
SELECT DISTINCT s_suppkey, s_name
FROM flagged
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE qty > 0.3 * part_qty AND r_name = 'EUROPE'
""",
        "q21_waiting_suppliers": """
WITH per AS (
    SELECT l_orderkey, l_suppkey,
           max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END) AS late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY 1, 2
), stats AS (
    SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
              sum(late) OVER (PARTITION BY l_orderkey) AS n_late
    FROM per
)
SELECT s_name, count(*) AS numwait
FROM stats
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE late = 1 AND n_late = 1 AND n_supp > 1 AND r_name = 'ASIA'
GROUP BY 1
""",
        "q6_revenue_delta": """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
        "q14_promo_revenue": """
SELECT CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
                     AS DECIMAL(30,6))) AS DOUBLE) AS promo_revenue,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS total_revenue,
       100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
                             AS DECIMAL(30,6))) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
""",
        "q18_large_orders": """
WITH big AS (
    SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY 1
    HAVING CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) > 150.0
)
SELECT c_custkey, c_mktsegment, o_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_date,
       o_totalprice, sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
""",
        "orders_with_returns": """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY 1
""",
        "orders_no_returns": """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY 1
""",
        "order_value_quantiles": """
SELECT o_orderpriority,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       quantile_cont(o_totalprice, 0.99) AS p99,
       count(*) AS n_orders
FROM orders
GROUP BY 1
""",
        "sales_rollup": """
SELECT c_mktsegment, o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_value
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY ROLLUP (c_mktsegment, o_orderpriority)
""",
        "min_cost_supplier": """
SELECT l_partkey AS p_partkey, l_suppkey AS best_suppkey, unit_price FROM (
    SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price,
           row_number() OVER (PARTITION BY l_partkey
                              ORDER BY l_extendedprice / l_quantity ASC, l_suppkey) AS rk
    FROM lineitem
) WHERE rk = 1
""",
        # within-order pair explode + support count (distinct orders)
        "orders_market_basket": """
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       count(DISTINCT a.l_orderkey) AS support
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(DISTINCT a.l_orderkey) >= 2
""",
        "top_customers_per_segment": """
WITH cust_rev AS (
    SELECT c_mktsegment, c_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY 1, 2
)
SELECT c_mktsegment, c_custkey, total, rnk FROM (
    SELECT *, row_number() OVER (PARTITION BY c_mktsegment ORDER BY total DESC, c_custkey) AS rnk
    FROM cust_rev
) WHERE rnk <= 5
""",
        "customers_lapsed": """
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
EXCEPT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
""",
        "q12_ship_lateness_priority": """
SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY 1
""",
        "q15_top_supplier": """
WITH rev AS (
    SELECT l_suppkey,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
    GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
""",
    }
