"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (plus the
training-data pipeline extensions) as a (spark, sf_dir) -> DataFrame
callable; ``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL for each.
Conventions keeping the hash comparison stable across engines:

- timestamps are emitted as BIGINT epoch seconds (``floor``), never raw
  timestamps (Spark micro vs DuckDB nano precision);
- label arrays are emitted joined with ',' (array serialization parity);
- double sums go through per-row DECIMAL(30,6) casts (exact, order-free)
  and per-row arithmetic is emitted raw — never ``round()``, whose half-way
  behavior differs between Spark (shortest-repr HALF_UP) and DuckDB (exact
  binary);
- Spark ``size``/``count``/``row_number`` outputs are cast to long, DuckDB
  ``len``/``sum(int)`` casts to BIGINT (type parity);
- every query forces the UTC session time zone (epoch math determinism):
  ``queries()`` applies the session confs before each call.

This module is the registry: the queries, their oracles and their bench
warmups live in ``queries/``, one module per family.
"""

from __future__ import annotations

import functools
import os
import sys

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from pyspark.sql import DataFrame, SparkSession

from queries import dedup, events, multimodal, sim, streaming, text, tpch, tsdb
from queries._common import EQ, NEQ, RE, T0, T20, Query
from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher
from remote_tsdb_clickhouse_spark.plans.read_plan import ReadHints, ReadQuery, read_query_df
from remote_tsdb_clickhouse_spark.session import ensure_query_confs
from remote_tsdb_clickhouse_spark.sources.events import events_to_samples

SF_SMOKE = "/root/testdata/sf0.001"

FAMILIES = (tsdb, tpch, events, sim, dedup, text, multimodal, streaming)

#: Registry ORDER is a contract: bench.py runs the families (first name
#: token) in order of first appearance, each family's queries in this
#: order, and perfbench's tsdb_analytics workload takes every 5th tsdb_*
#: name in this order.  tests/test_entry_contract.py pins it.
ORDER = (
    "tsdb_quantile_over_time", "tsdb_sliding_range_max",
    "tsdb_stddev_over_time", "tsdb_topk_per_bucket", "ch_pushdown_read",
    "tsdb_rollup_hierarchy", "tsdb_subquery_maxrate", "tsdb_retention_serve",
    "tsdb_mad_over_time", "tsdb_sum_by_label", "tsdb_topk_series",
    "tsdb_max_gap", "tsdb_stale_series", "tsdb_read_eq",
    "tsdb_read_name_regex", "tsdb_read_nre", "tsdb_label_regex",
    "tsdb_downsample_30s", "tsdb_downsample_range_clamp",
    "tsdb_series_assembly", "tsdb_ignore_label", "tsdb_rate",
    "sim_ivf_pq_topk", "sim_ivf_pq_recall", "streaming_dedup",
    "streaming_sessionize", "events_asof_tolerance", "events_asof_next",
    "orders_market_basket", "sim_topk_filtered", "streaming_dropduplicates",
    "events_bucketed_agg", "sim_topk_lsh", "sim_topk_ivf", "sim_ivf_trained",
    "events_value_histogram", "events_daily_pivot", "events_retention",
    "emb_label_centroids", "min_cost_supplier", "orders_with_returns",
    "orders_no_returns", "order_value_quantiles", "q1_pricing_summary",
    "q3_shipping_priority", "q4_late_shipment_priority",
    "q5_local_supplier_volume", "q7_nation_trade_volume", "q8_market_share",
    "q9_product_type_profit", "text_pii_scrub", "doc_chunk_windows",
    "doc_chunk_texts", "tsdb_label_replace", "tsdb_label_join",
    "streaming_windowed_max", "text_quality_filter", "tsdb_binary_ratio",
    "events_salted_stats", "multimodal_png_features", "sim_pq_codes",
    "sim_pq_adc_topk", "sim_pq_recall", "multimodal_jpeg_features",
    "multimodal_gif_frames", "sim_pq_trained", "sim_pq_trained_recall",
    "sim_topk_lsh_multiprobe", "sim_lsh_recall", "sim_lsh_multiprobe_recall",
    "sim_ivf_recall", "q2_min_cost_region", "q11_important_parts",
    "q20_promotable_suppliers", "q21_waiting_suppliers",
    "sim_ivf_trained_recall", "tsdb_count_values", "tsdb_deriv",
    "tsdb_predict_linear", "tsdb_histogram_buckets", "tsdb_histogram_quantile",
    "dedup_lines", "dedup_bloom", "sim_matryoshka_topk",
    "sim_matryoshka_recall", "tsdb_offset_ratio", "dataset_shuffle_shards",
    "text_vocab", "sim_ivf_balance", "tsdb_exp_smooth", "events_bucketed_join",
    "tsdb_compact_serve", "text_bigram_lm", "multimodal_audio_energy",
    "sim_pq_opq_recall", "dedup_minhash_recall", "dedup_cluster_stats",
    "ch_sink_roundtrip", "dedup_containment", "dataset_interleave",
    "multimodal_features", "protocol_roundtrip_read",
    "protocol_response_assembly", "tsdb_label_values", "tsdb_series_count",
    "doc_stats_by_source", "customers_lapsed", "q10_returned_item_reporting",
    "q13_customer_order_distribution", "q12_ship_lateness_priority",
    "text_decontaminate", "dataset_dedup_apply", "dataset_length_histogram",
    "tsdb_label_project", "tsdb_irate", "tsdb_delta", "tsdb_increase",
    "tsdb_resets_changes", "tsdb_range_agg", "tsdb_moving_avg",
    "top_customers_per_segment", "events_sessionize", "events_asof_click",
    "events_window_agg", "sim_topk_bruteforce", "text_pipeline",
    "events_funnel", "text_langid", "text_quality", "text_tokens",
    "text_fingerprint", "text_tfidf_keywords", "text_repetition",
    "dataset_sample", "doc_packing", "q6_revenue_delta",
    # Intra-family ORDER is a bench contract: the embedding/exact/
    # simhash dedup queries never consume the shared exploded-
    # shingle + signature persists, so they run BEFORE any persist
    # exists; the shingle-sharing chain (ngram -> minhash_lsh ->
    # groups -> incremental) runs last so one materialization
    # serves all four.
    "dedup_embedding_cosine", "dedup_embedding_cosine_lsh", "dedup_exact",
    "dedup_simhash", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_groups", "dedup_incremental",
    "streaming_stateful_rate", "multimodal_resample", "dataset_mixture_sample",
    "emb_quantize_int8", "tsdb_rollup_serve", "q15_top_supplier",
    "q16_supplier_part_cardinality", "q17_small_quantity_revenue",
    "q19_or_predicate_revenue", "q22_inactive_customer_balance",
    "q14_promo_revenue", "q18_large_orders", "sales_rollup", "dataset_split",
    "multimodal_frame_sample", "multimodal_resize",
)

#: bench.py family (first name token) -> that family's untimed warmup
WARMUPS = {
    "tsdb": tsdb.warmup,
    "streaming": streaming.warmup,
    "dedup": dedup.warmup,
    "sim": sim.warmup,
    "multimodal": multimodal.warmup,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full remote-read path (matchers + downsampling + series
    assembly) over the sf0.001 events-derived samples table."""
    ensure_query_confs(spark)
    samples = events_to_samples(spark, SF_SMOKE)
    q = ReadQuery(
        start_ms=T0,
        end_ms=T20,
        matchers=(
            LabelMatcher(RE, "__name__", "(purchase|click|view)"),
            LabelMatcher(NEQ, "tier", "gold"),
            LabelMatcher(EQ, "remote", "clickhouse"),
        ),
        hints=ReadHints(step_ms=60000),
    )
    return read_query_df(samples, q)


def family_warmup(spark: SparkSession, sf_dir: str, family: str) -> None:
    """Untimed per-family setup hook for bench.py.

    bench.py clears the cache at every family boundary (stops cross-family
    cache-manager taxation), which also wipes the family's own shared
    persisted frames — so the family's FIRST query used to absorb the whole
    shared materialization (tsdb_sum_by_label measured 2.56 s in-suite vs
    0.69 s when the persist pre-existed).  bench calls this hook after the boundary
    clear and before the timer so shared-infrastructure cost is paid where
    it belongs: setup, not the first query.  Correctness runs never call
    this — every query stays self-contained.

    **The build/serve boundary (what this hook MAY pre-pay, written down
    so it can be checked mechanically):**

    1. Only **index-side build artifacts** may be persisted here: frames
       and collected rows that a real deployment materializes once and
       serves many queries from — the base samples table, the rollup
       store write, the streaming input staging, the dedup shingle
       inverted index / MinHash signatures / pair graphs, the sim
       family's codebooks + centroid training + inverted lists / LSH
       buckets / normed corpus (the FAISS build/serve split), and
       first-use JIT/codec warmup on synthetic rows.  Everything here is
       keyed on the immutable input dataset, never on a query.
    2. Every query's own **probing, scoring, ranking, filtering and
       aggregation stays timed** — no frame that embeds a specific
       query's predicate, query vectors, or (partial) result may be
       persisted here.  The thinnest frames in the sim list
       (``_bf_corpus_df``/``_mat_corpus_df``, single projections over the
       embeddings table) are the deliberate edge of rule 1: they are the
       serving-side corpus layout, query-independent, and the family's
       index-BUILD cost is by design covered by this untimed hook — no
       timed row pays an index build, exactly as in a build/serve ANN
       deployment.
    3. **No query results, no result-shaped intermediates, and nothing
       keyed on a query** may be materialized here; every timed collect
       must execute its full serving plan from the persisted inputs.
    """
    ensure_query_confs(spark)
    warm = WARMUPS.get(family)
    if warm is not None:
        warm(spark, sf_dir)


def _with_confs(fn: Query) -> Query:
    """``fn`` that first applies the session confs every query assumes
    (UTC time zone above all: epoch math and date bounds depend on it)."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_query_confs(spark)
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Query]:
    fns = {name: fn for family in FAMILIES for name, fn in family.queries().items()}
    return {name: _with_confs(fns[name]) for name in ORDER}


def oracle_sql() -> dict[str, str]:
    sql = {name: q for family in FAMILIES for name, q in family.oracle_sql().items()}
    return {name: sql[name] for name in ORDER}
