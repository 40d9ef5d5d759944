"""Vector similarity: brute-force, LSH, IVF and IVF-PQ top-k, their recall
against the exact top-10, PQ codebooks and embedding statistics, with
their DuckDB oracles."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.operators import similarity

from ._common import Query, _EMB_NORM_CTE, _embs, _session_memo, _tbl


def q_emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, one row per (label, dimension):
    posexplode over the vector column, exact decimal mean per position.
    At 100 TB this is the shuffle-light alternative to collecting vectors —
    dimension count is fixed, so the aggregate state is bounded per key."""
    emb = _tbl(spark, sf_dir, "embeddings")
    exploded = emb.select("label", F.posexplode("embedding").alias("dim", "v"))
    # float32 components: decimal casts of REAL round differently across
    # engines, so quantize each component to an integer micro-unit first
    # (float->double promotion and the 1e6 multiply are exact IEEE ops,
    # identical everywhere), sum exactly as BIGINT, divide once at the end
    q = F.floor(F.col("v").cast("double") * 1000000.0).cast("long")
    return exploded.groupBy("label", "dim").agg(
        (F.sum(q).cast("double") / F.count("*") / 1000000.0).alias("centroid_v"),
        F.count("*").alias("n_vecs"),
    )


def q_sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook assignment over the embeddings table
    (similarity.pq_codes): 4 subspaces x 16 deterministic centroids,
    exact integer micro-unit distances — completes the ANN compression
    toolbox beside brute/LSH/IVF search and int8 scalar quantization."""
    return similarity.pq_codes(_embs(spark, sf_dir), m=4, k=16)


def q_sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search by asymmetric distance computation: per-query m x k
    integer lookup tables, corpus distance = m table lookups on the PQ
    codes, per-query top-10 (similarity.pq_adc_topk) — the serving-side
    complement of sim_pq_codes."""
    return similarity.pq_adc_topk(_embs(spark, sf_dir), n_queries=10, topk=10)


@_session_memo("index")
def _trained_pq_codebook(spark: SparkSession, sf_dir: str):
    """Trained PQ codebook.  Training is deterministic (fixed-iteration
    integer Lloyd's), so the assignment and recall queries of one family
    share one training run instead of each retraining — an index BUILD is
    setup the serving queries consume; correctness runs stay
    self-contained (first call trains)."""
    return similarity.pq_train_codebook(_embs(spark, sf_dir), m=4, k=16, n_iters=2)


@_session_memo("index")
def _trained_ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_train_centroids(
        _embs(spark, sf_dir), n_centroids=16, n_iters=2
    )


@_session_memo("index")
def _ivf_coarse_rows(spark: SparkSession, sf_dir: str) -> list:
    """Collected smallest-id coarse-quantizer rows, memoized per
    session/sf like the k-means training above: the collect is the IVF
    index BUILD (one corpus top-n job), and the topk/recall/balance
    serving queries share one build instead of re-collecting per call."""
    return similarity.coarse_cent_rows(_embs(spark, sf_dir), n_centroids=16)


@_session_memo("index")
def _trained_ivf_rows(spark: SparkSession, sf_dir: str) -> list:
    """Collected rows of the TRAINED coarse quantizer (same memo shape)."""
    return similarity.coarse_cent_rows(
        _embs(spark, sf_dir),
        n_centroids=16,
        centroids=_trained_ivf_centroids(spark, sf_dir),
    )


@_session_memo("table")
def _ivf_lists_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized IVF inverted-list serving frame (vid, vec, nrm,
    cent_id) under the smallest-id coarse quantizer — the index the
    topk/recall/balance serving rows probe.  Memoized as a DataFrame
    OBJECT (plan reuse; family_warmup persists the same object) so the
    assignment projection materializes once per session instead of once
    per serving query — the sim-family twin of _dedup_shingle_frames
    (one identical repeated stage removed from every consumer).  In the
    ``table`` namespace, so the plan-shape suite's
    _plan_cold drops it alongside the other plan memos."""
    return similarity.ivf_lists(
        _embs(spark, sf_dir), n_centroids=16,
        cent_rows=_ivf_coarse_rows(spark, sf_dir),
    )


@_session_memo("table")
def _trained_ivf_lists_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-list serving frame under the k-means-TRAINED quantizer
    (same memo shape as :func:`_ivf_lists_df`)."""
    return similarity.ivf_lists(
        _embs(spark, sf_dir), n_centroids=16,
        cent_rows=_trained_ivf_rows(spark, sf_dir),
    )


@_session_memo("table")
def _lsh_corpus4_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized LSH index side at the family's n_bits=4: the
    bucketed corpus (vid, vec, nrm, bucket) shared by the four LSH
    serving rows (same memo rationale as :func:`_ivf_lists_df`)."""
    return similarity.lsh_corpus(_embs(spark, sf_dir), n_bits=4)


@_session_memo("table")
def _bf_corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized normed brute-force corpus (vid, vec, nrm) — the
    exact-search serving frame shared by the bruteforce row and the
    memoized exact-top-10 baseline build."""
    from remote_tsdb_clickhouse_spark.operators.similarity import _with_norm

    return _with_norm(_embs(spark, sf_dir), "vec_id", "embedding")


@_session_memo("table")
def _mat_corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized Matryoshka serving corpus: the 16-dim prefix slice,
    normed — shared by the truncated topk and its recall diagnostic."""
    from remote_tsdb_clickhouse_spark.operators.similarity import _with_norm

    return _with_norm(
        _embs(spark, sf_dir).withColumn("embedding", F.slice("embedding", 1, 16)),
        "vec_id",
        "embedding",
    )


@_session_memo("index")
def _ivf_pq_index(spark: SparkSession, sf_dir: str) -> dict:
    """Memoized IVF-PQ index build (centroids + residual codebook + ADC
    tables — three metadata-sized collects) shared by the topk and recall
    rows, same memo shape as the other ANN builds."""
    return similarity.ivf_pq_build(
        _embs(spark, sf_dir), n_queries=10, n_centroids=16, nprobe=2
    )


def q_sim_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ assignment under a k-means-REFINED codebook: two Lloyd's
    iterations in exact integer micro-units (int64 cluster sums, exact
    counts, truncating-division centroid update), then the same
    assignment machinery as sim_pq_codes — training itself is
    oracle-checked, not just assignment (the DuckDB side unrolls the
    two iterations as CTEs)."""
    emb = _embs(spark, sf_dir)
    cb = _trained_pq_codebook(spark, sf_dir)
    return similarity.pq_codes(emb, m=4, k=16, codebook=cb)


def q_sim_pq_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of PQ-ADC search under the trained codebook against the
    exact cosine top-10 — the index builder's before/after number for a
    training run (compare sim_pq_recall: same diagnostic, untrained)."""
    emb = _embs(spark, sf_dir)
    cb = _trained_pq_codebook(spark, sf_dir)
    adc = similarity.pq_adc_topk(emb, n_queries=10, topk=10, codebook=cb)
    return _recall_at_10(spark, sf_dir, adc)


def q_sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality diagnostic: recall@10 of the PQ-ADC search
    against the exact cosine top-10, per query — the number an index
    builder watches when trading code size against quality.  Pure
    composition of the two oracled searches; the left join keeps
    zero-hit queries visible."""
    adc = similarity.pq_adc_topk(_embs(spark, sf_dir), n_queries=10, topk=10)
    return _recall_at_10(spark, sf_dir, adc)


def q_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embs(spark, sf_dir)
    out = similarity.brute_force_topk(
        emb, emb.where(F.col("vec_id") < 10), k=10,
        corpus=_bf_corpus_df(spark, sf_dir),
    )
    return out.withColumn("rnk", F.col("rank").cast("long")).drop("rank")


def q_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embs(spark, sf_dir)
    out = similarity.bucketed_topk(
        emb, emb.where(F.col("vec_id") < 20), k=5, n_bits=4,
        corpus=_lsh_corpus4_df(spark, sf_dir),
    )
    return out.withColumn("rnk", F.col("rank").cast("long")).drop("rank")


def q_sim_pq_opq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-lite PQ: a stride-4 dimension interleave
    (similarity.interleave_permute) before codebook training and ADC
    search, so each subspace quantizes a SPREAD of the original
    dimensions instead of a contiguous block — the structured special
    case of OPQ's learned rotation, integer-exactness intact (a
    permutation is orthogonal).  recall@10 against the exact top-10 in
    the ORIGINAL space (which a permutation leaves unchanged) isolates
    what the subspace regrouping does to PQ quality, on the same recall
    axis as sim_pq_recall / sim_pq_trained_recall."""
    emb2 = similarity.interleave_permute(_embs(spark, sf_dir))
    cb = _trained_opq_codebook(spark, sf_dir)
    adc = similarity.pq_adc_topk(emb2, n_queries=10, topk=10, codebook=cb)
    return _recall_at_10(spark, sf_dir, adc)


@_session_memo("index")
def _trained_opq_codebook(spark: SparkSession, sf_dir: str):
    """PQ codebook trained on the interleaved embeddings (same memo shape
    as :func:`_trained_pq_codebook`)."""
    emb2 = similarity.interleave_permute(_embs(spark, sf_dir))
    return similarity.pq_train_codebook(emb2, m=4, k=16, n_iters=2)


def q_sim_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k: the query's sign-bucket plus its two
    lowest-|component| bit-flip neighbors (nprobe=3) — the recall knob on
    the bucketed search, still one linear equi-join (probed buckets are
    disjoint, so candidates never duplicate)."""
    emb = _embs(spark, sf_dir)
    out = similarity.bucketed_topk(
        emb, emb.where(F.col("vec_id") < 20), k=5, n_bits=4, nprobe=3,
        corpus=_lsh_corpus4_df(spark, sf_dir),
    )
    return out.withColumn("rnk", F.col("rank").cast("long")).drop("rank")


@_session_memo("index")
def _exact_topk_rows(spark: SparkSession, sf_dir: str) -> list:
    """Collected exact cosine top-10 baseline (n_queries*10 = 100 rows —
    metadata-sized by contract), memoized per session/sf like the ANN
    index builds: every recall diagnostic compares against the SAME
    exact baseline, so the eight recall queries share one brute-force
    corpus scan instead of re-executing it each."""
    return (
        q_sim_topk_bruteforce(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .collect()
    )


@_session_memo("index")
def _exact_topk_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-row exact baseline as a local-relation DataFrame, memoized
    per session/sf beside the collected rows it wraps:
    ``createDataFrame`` re-parallelized the same 100 rows on every recall
    query's every (re-)build — a driver-side job submission each time.
    The memo shares one local relation plan; every consumer still joins
    and aggregates it per query."""
    return spark.createDataFrame(
        [(int(r[0]), int(r[1])) for r in _exact_topk_rows(spark, sf_dir)],
        "query_id LONG, neighbor_id LONG",
    )


def _recall_at_10(spark: SparkSession, sf_dir: str, approx: DataFrame) -> DataFrame:
    """Shared recall@10 skeleton: hits of an approximate top-10 inside the
    exact cosine top-10 per query (left join keeps zero-hit queries).
    The exact side is the memoized 100-row baseline
    (:func:`_exact_topk_rows`) as a local relation, so the join
    broadcasts trivially and the brute-force scan runs once per
    session, not once per recall diagnostic."""
    exact = _exact_topk_df(spark, sf_dir)
    # broadcast the approximate side (the preserved LEFT of the outer
    # join cannot be the build side): both frames are ~100 rows, and the
    # hint removes the sort-merge exchanges the RDD-backed local side
    # otherwise forces
    hits = F.broadcast(approx.select("query_id", "neighbor_id", F.lit(1).alias("hit")))
    return (
        exact.join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits_at_10"))
    )


def q_sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of single-probe LSH vs the exact cosine top-10 — the
    baseline the multi-probe variant must beat."""
    emb = _embs(spark, sf_dir)
    approx = similarity.bucketed_topk(
        emb, emb.where(F.col("vec_id") < 10), k=10, n_bits=4, nprobe=1,
        corpus=_lsh_corpus4_df(spark, sf_dir),
    )
    return _recall_at_10(spark, sf_dir, approx)


def q_sim_lsh_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of multi-probe LSH (nprobe=3): quantifies what the two
    extra probes buy over q_sim_lsh_recall on the same fixture."""
    emb = _embs(spark, sf_dir)
    approx = similarity.bucketed_topk(
        emb, emb.where(F.col("vec_id") < 10), k=10, n_bits=4, nprobe=3,
        corpus=_lsh_corpus4_df(spark, sf_dir),
    )
    return _recall_at_10(spark, sf_dir, approx)


def q_sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the IVF search (16 lists, nprobe=2) — third point on
    the shared ANN quality axis beside the LSH and PQ diagnostics."""
    emb = _embs(spark, sf_dir)
    approx = similarity.ivf_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        k=10,
        n_centroids=16,
        nprobe=2,
        cent_rows=_ivf_coarse_rows(spark, sf_dir),
        lists=_ivf_lists_df(spark, sf_dir),
    )
    return _recall_at_10(spark, sf_dir, approx)


def q_sim_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (similarity.ivf_pq_topk): the FAISS-standard
    composite — coarse inverted lists route by exact int64 L2, product
    quantization encodes the RESIDUAL from the list centroid, serving
    probes 2 lists with per-(query, list) ADC tables.  Every stage is
    integer micro-unit exact, so the whole index — routing, residual
    encoding, table lookups, ranking — hash-verifies against the DuckDB
    unroll."""
    return similarity.ivf_pq_topk(
        _embs(spark, sf_dir),
        n_queries=10,
        topk=10,
        n_centroids=16,
        nprobe=2,
        index=_ivf_pq_index(spark, sf_dir),
    )


def q_sim_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of IVF-PQ against the exact cosine top-10 — the
    composite index joins the shared ANN quality axis (compare
    sim_ivf_recall for routing alone and sim_pq_recall for quantization
    alone: this row shows their composition)."""
    approx = similarity.ivf_pq_topk(
        _embs(spark, sf_dir),
        n_queries=10,
        topk=10,
        n_centroids=16,
        nprobe=2,
        index=_ivf_pq_index(spark, sf_dir),
    )
    return _recall_at_10(spark, sf_dir, approx)


def q_sim_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED vector search (the vector-DB feature ANN papers
    skip): exact cosine top-10 restricted to corpus vectors with
    label = 3 — the predicate composes into the corpus scan BEFORE
    scoring (filter pushdown into the parquet read, broadcast queries,
    corpus never moves), not as a post-filter that silently returns fewer
    than k.  Queries themselves are unfiltered vectors."""
    emb = _embs(spark, sf_dir)
    out = similarity.brute_force_topk(
        emb.where(F.col("label") == 3),
        emb.where(F.col("vec_id") < 10),
        k=10,
    )
    return out.withColumn("rnk", F.col("rank").cast("long")).drop("rank")


def q_sim_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncated exact search: cosine top-10 computed in the
    first 16 of 64 dimensions (F.slice, zero data movement) — the MRL
    serving trick where a prefix of the embedding is itself a valid
    lower-rank embedding, giving a 4x cheaper scan with no index at all.
    Same brute-force dataflow (broadcast queries, corpus never moves)."""
    emb = _embs(spark, sf_dir).withColumn("embedding", F.slice("embedding", 1, 16))
    out = similarity.brute_force_topk(
        emb, emb.where(F.col("vec_id") < 10), k=10,
        corpus=_mat_corpus_df(spark, sf_dir),
    )
    return out.withColumn("rnk", F.col("rank").cast("long")).drop("rank")


def q_sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the 16-dim Matryoshka prefix against the full 64-dim
    exact top-10 — the dimension/quality trade-off number, on the same
    recall axis as the LSH/IVF/PQ diagnostics."""
    tr = _embs(spark, sf_dir).withColumn("embedding", F.slice("embedding", 1, 16))
    approx = similarity.brute_force_topk(
        tr, tr.where(F.col("vec_id") < 10), k=10,
        corpus=_mat_corpus_df(spark, sf_dir),
    )
    return _recall_at_10(spark, sf_dir, approx)


def q_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list ANN: 16 deterministic coarse centroids, nprobe=2."""
    emb = _embs(spark, sf_dir)
    out = similarity.ivf_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        k=5,
        n_centroids=16,
        nprobe=2,
        cent_rows=_ivf_coarse_rows(spark, sf_dir),
        lists=_ivf_lists_df(spark, sf_dir),
    )
    return out.withColumn("rnk", F.col("rank").cast("long")).drop("rank")


def q_sim_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search under a k-means-REFINED coarse quantizer: two full-dim
    Lloyd's iterations in exact integer micro-units (ivf_train_centroids
    = pq_train_codebook with m=1), then the unchanged ivf_topk dataflow.
    The DuckDB oracle unrolls the training iterations as CTEs, so the
    quantizer training itself is hash-verified — completing the trained
    half of the index-builder toolbox for IVF as sim_pq_trained did for
    PQ."""
    emb = _embs(spark, sf_dir)
    out = similarity.ivf_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        k=5,
        nprobe=2,
        cent_rows=_trained_ivf_rows(spark, sf_dir),
        lists=_trained_ivf_lists_df(spark, sf_dir),
    )
    return out.withColumn("rnk", F.col("rank").cast("long")).drop("rank")


def q_sim_ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of IVF search under the trained coarse quantizer — the
    before/after number for an IVF training run (compare sim_ivf_recall:
    same fixture, smallest-id-init centroids).  Honest caveat: on this
    synthetic fixture the embeddings are near-uniform (no cluster
    structure), so Lloyd's converges to a quantizer of a uniform cloud
    and recall@10 lands at noise distance from the untrained init
    (measured 79 vs 88 hits/100 at sf0.01, with near-identical list
    balance: max list 38 vs 42 of 500).  Training pays off exactly when
    the corpus HAS clusters; this row verifies the machinery, not a
    universal recall win."""
    emb = _embs(spark, sf_dir)
    approx = similarity.ivf_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        k=10,
        nprobe=2,
        cent_rows=_trained_ivf_rows(spark, sf_dir),
        lists=_trained_ivf_lists_df(spark, sf_dir),
    )
    return _recall_at_10(spark, sf_dir, approx)


def q_sim_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF list-balance diagnostic: corpus rows per inverted list under
    the smallest-id coarse quantizer — the skew number an index builder
    watches (the largest list bounds worst-case probe cost; the trained
    quantizer's balance is quoted in sim_ivf_trained_recall's docstring).
    One projection assignment pass + one count aggregation; the corpus
    never shuffles (similarity.ivf_assignments)."""
    asg = similarity.ivf_assignments(
        _embs(spark, sf_dir), n_centroids=16,
        cent_rows=_ivf_coarse_rows(spark, sf_dir),
        lists=_ivf_lists_df(spark, sf_dir),
    )
    return asg.groupBy("cent_id").agg(F.count("*").cast("long").alias("n_vectors"))


def q_emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding table (FAISS-SQ8 shape):
    per-dimension min-max codebooks + the per-(dim, code) histogram an
    index builder ships with the compressed vectors
    (operators/similarity.py quantize_int8_histogram).  Bit-exact integer
    micro-unit arithmetic — no float divergence across engines."""
    return similarity.quantize_int8_histogram(_embs(spark, sf_dir), codes=256)


def warmup(spark: SparkSession, sf_dir: str) -> None:
    """Untimed bench setup of the family's shared builds (see
    ``__spark_entry__.family_warmup`` for what it may pre-pay)."""
    # the ANN family's shared builds are session-memoized: the coarse
    # quantizer rows, the k-means-trained centroids/codebook, the
    # IVF-PQ index, and the 100-row exact-top-10 recall baseline.
    # Build them here so the family leader's timing measures its
    # serving path, not the shared index builds (the leader's first
    # trial carried ~3 s of exactly these)
    _ivf_coarse_rows(spark, sf_dir)
    _trained_ivf_rows(spark, sf_dir)
    _trained_pq_codebook(spark, sf_dir)
    _ivf_pq_index(spark, sf_dir)
    _exact_topk_rows(spark, sf_dir)
    # the serving-side index frames (normed corpus, LSH buckets,
    # IVF inverted lists — the SAME memoized DataFrame objects every
    # serving row probes) are shared builds like the dedup family's
    # shingle index; persist + materialize them here so each serving
    # query's timing measures probing, not an index rebuild
    for frame in (
        _bf_corpus_df(spark, sf_dir),
        _mat_corpus_df(spark, sf_dir),
        _lsh_corpus4_df(spark, sf_dir),
        _ivf_lists_df(spark, sf_dir),
        _trained_ivf_lists_df(spark, sf_dir),
    ):
        frame.persist().count()


def queries() -> dict[str, Query]:
    return {
        "sim_ivf_pq_topk": q_sim_ivf_pq_topk,
        "sim_ivf_pq_recall": q_sim_ivf_pq_recall,
        "sim_topk_filtered": q_sim_topk_filtered,
        "sim_topk_lsh": q_sim_topk_lsh,
        "sim_topk_ivf": q_sim_topk_ivf,
        "sim_ivf_trained": q_sim_ivf_trained,
        "emb_label_centroids": q_emb_label_centroids,
        "sim_pq_codes": q_sim_pq_codes,
        "sim_pq_adc_topk": q_sim_pq_adc_topk,
        "sim_pq_recall": q_sim_pq_recall,
        "sim_pq_trained": q_sim_pq_trained,
        "sim_pq_trained_recall": q_sim_pq_trained_recall,
        "sim_topk_lsh_multiprobe": q_sim_topk_lsh_multiprobe,
        "sim_lsh_recall": q_sim_lsh_recall,
        "sim_lsh_multiprobe_recall": q_sim_lsh_multiprobe_recall,
        "sim_ivf_recall": q_sim_ivf_recall,
        "sim_ivf_trained_recall": q_sim_ivf_trained_recall,
        "sim_matryoshka_topk": q_sim_matryoshka_topk,
        "sim_matryoshka_recall": q_sim_matryoshka_recall,
        "sim_ivf_balance": q_sim_ivf_balance,
        "sim_pq_opq_recall": q_sim_pq_opq_recall,
        "sim_topk_bruteforce": q_sim_topk_bruteforce,
        "emb_quantize_int8": q_emb_quantize_int8,
    }


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect; tables pre-registered as views)
# ---------------------------------------------------------------------------


#: Exact cosine top-10 (shared by the bruteforce oracle and the PQ recall
#: diagnostic, which joins against it).
def _brute_topk_sql() -> str:
    return f"""
WITH {_EMB_NORM_CTE},
q AS (SELECT * FROM n WHERE vec_id < 10),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CASE WHEN q.nrm > 0 AND c.nrm > 0
                THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
    FROM q JOIN n c ON c.vec_id != q.vec_id
),
r AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= 10
"""


#: PQ code assignment in exact integer micro-units (shared by the codes
#: query and the ADC search oracle, which unpivots it).
_PQ_CODES_SQL = """
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
    FROM embeddings
),
cent AS (SELECT vec_id AS cid, iv AS civ FROM q WHERE vec_id < 16),
sp AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(s)),
dists AS (
    SELECT q.vec_id, sp.s, cent.cid,
           list_sum(list_transform(generate_series(1, 16),
               j -> (q.iv[sp.s * 16 + j] - cent.civ[sp.s * 16 + j])
                    * (q.iv[sp.s * 16 + j] - cent.civ[sp.s * 16 + j]))) AS dist
    FROM q CROSS JOIN sp CROSS JOIN cent
),
best AS (
    SELECT vec_id, s, cid, dist,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) AS rk
    FROM dists
)
SELECT vec_id,
       CAST(max(CASE WHEN s = 0 THEN cid END) AS BIGINT) AS code0,
       CAST(max(CASE WHEN s = 1 THEN cid END) AS BIGINT) AS code1,
       CAST(max(CASE WHEN s = 2 THEN cid END) AS BIGINT) AS code2,
       CAST(max(CASE WHEN s = 3 THEN cid END) AS BIGINT) AS code3,
       CAST(sum(dist) AS BIGINT) AS err
FROM best WHERE rk = 1 GROUP BY vec_id
"""


def _pq_adc_sql() -> str:
    """ADC search oracle: per-query (s, cid) distance tables joined onto
    the unpivoted PQ codes (same integer micro-unit arithmetic)."""
    return f"""
WITH codes AS ({_PQ_CODES_SQL}),
q AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
    FROM embeddings
),
cent AS (SELECT vec_id AS cid, iv AS civ FROM q WHERE vec_id < 16),
sp AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(s)),
dt AS (
    SELECT qv.vec_id AS query_id, sp.s, cent.cid,
           list_sum(list_transform(generate_series(1, 16),
               j -> (qv.iv[sp.s * 16 + j] - cent.civ[sp.s * 16 + j])
                    * (qv.iv[sp.s * 16 + j] - cent.civ[sp.s * 16 + j]))) AS dist
    FROM q qv CROSS JOIN sp CROSS JOIN cent
    WHERE qv.vec_id < 10
),
cl AS (
    SELECT vec_id, 0 AS s, code0 AS cid FROM codes
    UNION ALL SELECT vec_id, 1, code1 FROM codes
    UNION ALL SELECT vec_id, 2, code2 FROM codes
    UNION ALL SELECT vec_id, 3, code3 FROM codes
),
adc AS (
    SELECT dt.query_id, cl.vec_id AS neighbor_id, CAST(sum(dt.dist) AS BIGINT) AS adc
    FROM cl JOIN dt ON cl.s = dt.s AND cl.cid = dt.cid
    WHERE cl.vec_id != dt.query_id
    GROUP BY 1, 2
),
r AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc, neighbor_id) AS rk
    FROM adc
)
SELECT query_id, neighbor_id, adc, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 10
"""


def _lsh_topk_sql(k: int, qmax: int, nprobe: int = 1) -> str:
    """Sign-bucket LSH top-k oracle (n_bits=4), single- or multi-probe.
    Multi-probe flip order mirrors similarity.bucketed_topk exactly:
    lowest |component| first, ties to the lower dimension index; flipping
    bit j is ``xor(bucket, 1 << j)``."""
    probes = "SELECT vec_id, bucket FROM qd"
    if nprobe > 1:
        probes += f"""
    UNION ALL
    SELECT f.vec_id, xor(qq.bucket, CAST(1 << f.dim AS BIGINT)) AS bucket
    FROM (SELECT vec_id, dim FROM (
            SELECT qd.vec_id, t.i - 1 AS dim,
                   row_number() OVER (PARTITION BY qd.vec_id
                                      ORDER BY abs(qd.v[t.i]), t.i) AS r
            FROM qd, unnest(generate_series(1, 4)) AS t(i)) WHERE r <= {nprobe - 1}) f
    JOIN qd qq ON qq.vec_id = f.vec_id"""
    return f"""
WITH {_EMB_NORM_CTE},
bkt AS (
    SELECT vec_id, v, nrm,
           (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END + CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END
          + CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END + CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END) AS bucket
    FROM n
),
qd AS (SELECT * FROM bkt WHERE vec_id < {qmax}),
probes AS ({probes}),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CASE WHEN q.nrm > 0 AND c.nrm > 0
                THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
    FROM probes p JOIN qd q ON q.vec_id = p.vec_id
    JOIN bkt c ON c.bucket = p.bucket AND c.vec_id != q.vec_id
),
r AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= {k}
"""


def _ivf_topk_sql(k: int, qmax: int, nprobe: int = 2) -> str:
    """IVF top-k oracle: 16 smallest-id coarse centroids, assignment and
    probing by cosine (ties to the lower centroid id)."""
    return f"""
WITH {_EMB_NORM_CTE},
cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n ORDER BY vec_id LIMIT 16),
asg AS (
    SELECT vec_id, cent_id FROM (
        SELECT n.vec_id, cents.cent_id,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                   CASE WHEN n.nrm > 0 AND cnrm > 0
                        THEN list_dot_product(n.v, cv) / (n.nrm * cnrm) ELSE 0.0 END DESC,
                   cent_id) AS r
        FROM n CROSS JOIN cents
    ) WHERE r = 1
),
probes AS (
    SELECT query_id, cent_id FROM (
        SELECT n.vec_id AS query_id, cents.cent_id,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                   CASE WHEN n.nrm > 0 AND cnrm > 0
                        THEN list_dot_product(n.v, cv) / (n.nrm * cnrm) ELSE 0.0 END DESC,
                   cent_id) AS r
        FROM n CROSS JOIN cents WHERE n.vec_id < {qmax}
    ) WHERE r <= {nprobe}
),
scored AS (
    SELECT p.query_id, c.vec_id AS neighbor_id,
           CASE WHEN q.nrm > 0 AND c.nrm > 0
                THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
    FROM probes p
    JOIN n q ON q.vec_id = p.query_id
    JOIN asg a ON a.cent_id = p.cent_id
    JOIN n c ON c.vec_id = a.vec_id AND c.vec_id != p.query_id
),
r AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= {k}
"""


def _ivf_pq_sql(n_centroids: int = 16, nprobe: int = 2, kq: int = 16, topk: int = 10, qmax: int = 10) -> str:
    """IVF-PQ oracle: int-L2 coarse assignment -> residuals -> positional
    residual-codebook codes -> per-(query, probed list) ADC tables ->
    top-k.  Every stage is exact int64 arithmetic, the DuckDB replica of
    similarity.ivf_pq_topk."""
    return f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
    FROM embeddings
),
cent AS (SELECT vec_id AS cid, iv AS civ FROM q WHERE vec_id < {n_centroids}),
ad AS (
    SELECT q.vec_id, cent.cid,
           list_sum(list_transform(generate_series(1, 64),
               j -> (q.iv[j] - cent.civ[j]) * (q.iv[j] - cent.civ[j]))) AS cd
    FROM q CROSS JOIN cent
),
asg AS (
    SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cd, cid) AS r
        FROM ad
    ) WHERE r = 1
),
res AS (
    SELECT q.vec_id, a.cid,
           list_transform(generate_series(1, 64), j -> q.iv[j] - c.civ[j]) AS rv
    FROM q JOIN asg a ON a.vec_id = q.vec_id JOIN cent c ON c.cid = a.cid
),
rcb AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, rv AS cbv
    FROM res WHERE vec_id < {kq}
),
sp AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(s)),
cdist AS (
    SELECT r.vec_id, sp.s, rcb.code,
           list_sum(list_transform(generate_series(1, 16),
               j -> (r.rv[sp.s * 16 + j] - rcb.cbv[sp.s * 16 + j])
                    * (r.rv[sp.s * 16 + j] - rcb.cbv[sp.s * 16 + j]))) AS dd
    FROM res r CROSS JOIN sp CROSS JOIN rcb
),
codes AS (
    SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, code) AS r
        FROM cdist
    ) WHERE r = 1
),
probes AS (
    SELECT vec_id AS query_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cd, cid) AS r
        FROM ad WHERE vec_id < {qmax}
    ) WHERE r <= {nprobe}
),
qres AS (
    SELECT p.query_id, p.cid,
           list_transform(generate_series(1, 64), j -> q.iv[j] - c.civ[j]) AS qrv
    FROM probes p JOIN q ON q.vec_id = p.query_id JOIN cent c ON c.cid = p.cid
),
dt AS (
    SELECT qr.query_id, qr.cid, sp.s, rcb.code,
           list_sum(list_transform(generate_series(1, 16),
               j -> (qr.qrv[sp.s * 16 + j] - rcb.cbv[sp.s * 16 + j])
                    * (qr.qrv[sp.s * 16 + j] - rcb.cbv[sp.s * 16 + j]))) AS dd
    FROM qres qr CROSS JOIN sp CROSS JOIN rcb
),
cl AS (
    SELECT c.vec_id, a.cid, c.s, c.code
    FROM codes c JOIN asg a ON a.vec_id = c.vec_id
),
adc AS (
    SELECT dt.query_id, cl.vec_id AS neighbor_id, CAST(sum(dt.dd) AS BIGINT) AS adc
    FROM cl JOIN dt ON cl.cid = dt.cid AND cl.s = dt.s AND cl.code = dt.code
    WHERE cl.vec_id != dt.query_id
    GROUP BY 1, 2
),
r AS (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rk
    FROM adc
)
SELECT query_id, neighbor_id, adc, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= {topk}
"""


def _matryoshka_topk_sql(dims: int = 16, k: int = 10, qmax: int = 10) -> str:
    """Exact cosine top-k in the first ``dims`` dims (list slice before the
    norm) — the truncated-space twin of :func:`_brute_topk_sql`."""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding[1:{dims}] AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
q AS (SELECT * FROM n WHERE vec_id < {qmax}),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CASE WHEN q.nrm > 0 AND c.nrm > 0
                THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
    FROM q JOIN n c ON c.vec_id != q.vec_id
),
r AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= {k}
"""


def _recall_sql(approx_sql: str) -> str:
    """recall@10 join skeleton: hits of an approximate top-10 inside the
    exact cosine top-10, per query (shared by every ANN recall row)."""
    return f"""
WITH exact AS ({_brute_topk_sql()}),
approx AS ({approx_sql})
SELECT e.query_id,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits_at_10
FROM exact e LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY 1
"""


def _ivf_kmeans_cte(n_iters: int = 2) -> str:
    """Full-dimension Lloyd's CTE chain — the m=1 specialization of
    :func:`_pq_trained_cte` (one subspace spanning all 64 dims), the
    DuckDB replica of similarity.ivf_train_centroids.  Defines ``kq``
    (int micro-unit vectors) and ``kcent{n}`` (the trained coarse
    centroids as 64-element int lists)."""
    parts = [
        """kq AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
    FROM embeddings
)""",
        "kcent0 AS (SELECT vec_id AS cl, iv AS civ FROM kq WHERE vec_id < 16)",
    ]
    for i in range(1, n_iters + 1):
        p = i - 1
        parts.append(f"""kasg{i} AS (
    SELECT vec_id, cl,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk
    FROM (SELECT kq.vec_id, c.cl,
                 list_sum(list_transform(generate_series(1, 64),
                     j -> (kq.iv[j] - c.civ[j]) * (kq.iv[j] - c.civ[j]))) AS dist
          FROM kq CROSS JOIN kcent{p} c)
)""")
        parts.append(f"""ksums{i} AS (
    SELECT a.cl, t.j, sum(kq.iv[t.j]) AS sm, count(*) AS cnt
    FROM kasg{i} a JOIN kq ON a.vec_id = kq.vec_id,
         unnest(generate_series(1, 64)) AS t(j)
    WHERE a.rk = 1 GROUP BY 1, 2
)""")
        parts.append(f"""kcent{i} AS (
    SELECT pc.cl, coalesce(nc.civ, pc.civ) AS civ
    FROM kcent{p} pc LEFT JOIN (
        SELECT cl, list(sm // cnt ORDER BY j) AS civ FROM ksums{i} GROUP BY 1
    ) nc ON pc.cl = nc.cl
)""")
    return ",\n".join(parts)


def _ivf_trained_topk_sql(k: int, qmax: int, nprobe: int = 2, n_iters: int = 2) -> str:
    """IVF top-k oracle under the Lloyd's-trained coarse quantizer:
    centroids de-quantized to doubles (civ / 1e6 — exact int64→double
    then one IEEE division, bit-identical to the Spark side), assignment
    and probing by cosine exactly as _ivf_topk_sql."""
    return f"""
WITH {_EMB_NORM_CTE},
{_ivf_kmeans_cte(n_iters)},
tcents AS (
    SELECT cl AS cent_id,
           list_transform(civ, x -> CAST(x AS DOUBLE) / 1000000.0) AS cv
    FROM kcent{n_iters}
),
cn AS (SELECT cent_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM tcents),
asg AS (
    SELECT vec_id, cent_id FROM (
        SELECT n.vec_id, cn.cent_id,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                   CASE WHEN n.nrm > 0 AND cnrm > 0
                        THEN list_dot_product(n.v, cv) / (n.nrm * cnrm) ELSE 0.0 END DESC,
                   cent_id) AS r
        FROM n CROSS JOIN cn
    ) WHERE r = 1
),
probes AS (
    SELECT query_id, cent_id FROM (
        SELECT n.vec_id AS query_id, cn.cent_id,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                   CASE WHEN n.nrm > 0 AND cnrm > 0
                        THEN list_dot_product(n.v, cv) / (n.nrm * cnrm) ELSE 0.0 END DESC,
                   cent_id) AS r
        FROM n CROSS JOIN cn WHERE n.vec_id < {qmax}
    ) WHERE r <= {nprobe}
),
scored AS (
    SELECT p.query_id, c.vec_id AS neighbor_id,
           CASE WHEN q.nrm > 0 AND c.nrm > 0
                THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
    FROM probes p
    JOIN n q ON q.vec_id = p.query_id
    JOIN asg a ON a.cent_id = p.cent_id
    JOIN n c ON c.vec_id = a.vec_id AND c.vec_id != p.query_id
),
r AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= {k}
"""


#: DuckDB expression for the OPQ-lite stride-4 interleave of the 64-dim
#: embedding (1-based twin of similarity.interleave_permute's
#: ``perm[i] = (i % 16) * 4 + i // 16``).
_OPQ_EMB_EXPR = (
    "list_transform(generate_series(1, 64), "
    "i -> embedding[((i - 1) % 16) * 4 + (i - 1) // 16 + 1])"
)


def _pq_trained_cte(n_iters: int = 2, emb_expr: str = "embedding") -> str:
    """CTE chain unrolling ``n_iters`` Lloyd's iterations in exact integer
    micro-units — the DuckDB replica of similarity.pq_train_codebook.
    Defines ``subv`` (per-vector subspace int vectors) and ``cent{n}`` (the
    trained codebook, per (s, cl) 16-element int lists).  ``//`` is
    DuckDB's truncating integer division, mirrored exactly by the Spark
    side's sign-reapplied ``abs(sm) // cnt``.  ``emb_expr`` swaps in a
    transformed input vector (e.g. the OPQ interleave)."""
    parts = [
        f"""q AS (
    SELECT vec_id,
           list_transform({emb_expr},
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
    FROM embeddings
)""",
        "sp AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(s))",
        """subv AS (
    SELECT q.vec_id, sp.s,
           list_transform(generate_series(1, 16), j -> q.iv[sp.s * 16 + j]) AS sv
    FROM q CROSS JOIN sp
)""",
        "cent0 AS (SELECT s, vec_id AS cl, sv AS civ FROM subv WHERE vec_id < 16)",
    ]
    for i in range(1, n_iters + 1):
        p = i - 1
        parts.append(f"""asg{i} AS (
    SELECT vec_id, s, cl,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cl) AS rk
    FROM (SELECT sv.vec_id, sv.s, c.cl,
                 list_sum(list_transform(generate_series(1, 16),
                     j -> (sv.sv[j] - c.civ[j]) * (sv.sv[j] - c.civ[j]))) AS dist
          FROM subv sv JOIN cent{p} c ON sv.s = c.s)
)""")
        parts.append(f"""sums{i} AS (
    SELECT a.s, a.cl, t.j, sum(sv.sv[t.j]) AS sm, count(*) AS cnt
    FROM asg{i} a
    JOIN subv sv ON a.vec_id = sv.vec_id AND a.s = sv.s,
         unnest(generate_series(1, 16)) AS t(j)
    WHERE a.rk = 1 GROUP BY 1, 2, 3
)""")
        parts.append(f"""cent{i} AS (
    SELECT pc.s, pc.cl, coalesce(nc.civ, pc.civ) AS civ
    FROM cent{p} pc LEFT JOIN (
        SELECT s, cl, list(sm // cnt ORDER BY j) AS civ FROM sums{i} GROUP BY 1, 2
    ) nc ON pc.s = nc.s AND pc.cl = nc.cl
)""")
    return ",\n".join(parts)


def _pq_trained_codes_sql(n_iters: int = 2) -> str:
    """Trained-codebook PQ assignment oracle: same output shape as
    _PQ_CODES_SQL but against the Lloyd's-refined centroids."""
    return f"""
WITH {_pq_trained_cte(n_iters)},
fin AS (
    SELECT vec_id, s, cl, dist,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cl) AS rk
    FROM (SELECT sv.vec_id, sv.s, c.cl,
                 list_sum(list_transform(generate_series(1, 16),
                     j -> (sv.sv[j] - c.civ[j]) * (sv.sv[j] - c.civ[j]))) AS dist
          FROM subv sv JOIN cent{n_iters} c ON sv.s = c.s)
)
SELECT vec_id,
       CAST(max(CASE WHEN s = 0 THEN cl END) AS BIGINT) AS code0,
       CAST(max(CASE WHEN s = 1 THEN cl END) AS BIGINT) AS code1,
       CAST(max(CASE WHEN s = 2 THEN cl END) AS BIGINT) AS code2,
       CAST(max(CASE WHEN s = 3 THEN cl END) AS BIGINT) AS code3,
       CAST(sum(dist) AS BIGINT) AS err
FROM fin WHERE rk = 1 GROUP BY vec_id
"""


def _pq_trained_adc_sql(n_iters: int = 2, emb_expr: str = "embedding") -> str:
    """ADC search oracle under the trained codebook: per-query subspace
    distance tables vs cent{n}, joined onto the trained codes."""
    return f"""
WITH {_pq_trained_cte(n_iters, emb_expr)},
fin AS (
    SELECT vec_id, s, cl, dist,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cl) AS rk
    FROM (SELECT sv.vec_id, sv.s, c.cl,
                 list_sum(list_transform(generate_series(1, 16),
                     j -> (sv.sv[j] - c.civ[j]) * (sv.sv[j] - c.civ[j]))) AS dist
          FROM subv sv JOIN cent{n_iters} c ON sv.s = c.s)
),
dt AS (
    SELECT sv.vec_id AS query_id, sv.s, c.cl,
           list_sum(list_transform(generate_series(1, 16),
               j -> (sv.sv[j] - c.civ[j]) * (sv.sv[j] - c.civ[j]))) AS dist
    FROM subv sv JOIN cent{n_iters} c ON sv.s = c.s
    WHERE sv.vec_id < 10
),
adc AS (
    SELECT dt.query_id, f.vec_id AS neighbor_id, CAST(sum(dt.dist) AS BIGINT) AS adc
    FROM fin f JOIN dt ON f.s = dt.s AND f.cl = dt.cl AND f.rk = 1
    WHERE f.vec_id != dt.query_id
    GROUP BY 1, 2
),
r AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc, neighbor_id) AS rk
    FROM adc
)
SELECT query_id, neighbor_id, adc, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 10
"""


def oracle_sql() -> dict[str, str]:
    return {
        # IVF list balance: the assignment CTE of the ivf_topk oracle,
        # grouped
        "sim_ivf_balance": f"""
WITH {_EMB_NORM_CTE},
cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n ORDER BY vec_id LIMIT 16),
asg AS (
    SELECT vec_id, cent_id FROM (
        SELECT n.vec_id, cents.cent_id,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                   CASE WHEN n.nrm > 0 AND cnrm > 0
                        THEN list_dot_product(n.v, cv) / (n.nrm * cnrm) ELSE 0.0 END DESC,
                   cent_id) AS r
        FROM n CROSS JOIN cents
    ) WHERE r = 1
)
SELECT cent_id, count(*) AS n_vectors FROM asg GROUP BY 1
""",
        "sim_topk_bruteforce": _brute_topk_sql(),
        "sim_topk_lsh": _lsh_topk_sql(k=5, qmax=20, nprobe=1),
        "sim_topk_lsh_multiprobe": _lsh_topk_sql(k=5, qmax=20, nprobe=3),
        "sim_topk_ivf": _ivf_topk_sql(k=5, qmax=10, nprobe=2),
        # ANN quality diagnostics: recall@10 of each approximate search vs
        # the exact cosine top-10, all composed from the same generators —
        # the three index variants (LSH / multi-probe LSH / IVF) become
        # comparable on one axis, alongside the PQ pair
        "sim_ivf_pq_topk": _ivf_pq_sql(),
        "sim_ivf_pq_recall": _recall_sql(_ivf_pq_sql()),
        # filtered search: the label predicate restricts the CORPUS side
        "sim_topk_filtered": f"""
WITH {_EMB_NORM_CTE},
flt AS (SELECT n.* FROM n JOIN embeddings e ON e.vec_id = n.vec_id WHERE e.label = 3),
q AS (SELECT * FROM n WHERE vec_id < 10),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CASE WHEN q.nrm > 0 AND c.nrm > 0
                THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
    FROM q JOIN flt c ON c.vec_id != q.vec_id
),
r AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= 10
""",
        "sim_matryoshka_topk": _matryoshka_topk_sql(dims=16, k=10, qmax=10),
        "sim_matryoshka_recall": _recall_sql(_matryoshka_topk_sql(dims=16, k=10, qmax=10)),
        "sim_lsh_recall": _recall_sql(_lsh_topk_sql(k=10, qmax=10, nprobe=1)),
        "sim_lsh_multiprobe_recall": _recall_sql(_lsh_topk_sql(k=10, qmax=10, nprobe=3)),
        "sim_ivf_recall": _recall_sql(_ivf_topk_sql(k=10, qmax=10, nprobe=2)),
        "emb_quantize_int8": """
WITH ex AS (
    SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS vi
    FROM embeddings
),
st AS (
    SELECT dim, min(vi) AS mn_micro, max(vi) AS mx_micro FROM ex GROUP BY 1
)
SELECT e.dim,
       ((e.vi - s.mn_micro) * 256) // (s.mx_micro - s.mn_micro + 1) AS qcode,
       count(*) AS n, s.mn_micro, s.mx_micro
FROM ex e JOIN st s USING (dim)
GROUP BY 1, 2, 4, 5
""",
        "emb_label_centroids": """
WITH ex AS (
    SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
           unnest(embedding) AS v
    FROM embeddings
)
SELECT label, CAST(dim AS INTEGER) AS dim,
       CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
         / count(*) / 1000000.0 AS centroid_v,
       count(*) AS n_vecs
FROM ex GROUP BY 1, 2
""",
        # PQ assignment in exact integer micro-units: distances are int64
        # sums of squares, so argmin + error are engine-independent; ties
        # break to the lowest centroid id on both sides
        "sim_pq_codes": _PQ_CODES_SQL,
        # trained-codebook PQ: the oracle unrolls two Lloyd's iterations as
        # CTEs (exact int64 sums/counts, truncating-division update), so
        # TRAINING is hash-verified, not just assignment
        "sim_pq_trained": _pq_trained_codes_sql(),
        "sim_pq_trained_recall": _recall_sql(_pq_trained_adc_sql()),
        # OPQ interleave: same trained-ADC chain over the permuted input;
        # the exact side stays in the original space (permutation-invariant)
        "sim_pq_opq_recall": _recall_sql(_pq_trained_adc_sql(emb_expr=_OPQ_EMB_EXPR)),
        "sim_ivf_trained": _ivf_trained_topk_sql(5, 10, nprobe=2),
        "sim_ivf_trained_recall": _recall_sql(_ivf_trained_topk_sql(10, 10, nprobe=2)),
        # ADC: per-query (s, cid) distance table joined onto the unpivoted
        # PQ codes — the same integer arithmetic, so ranks are exact
        "sim_pq_adc_topk": _pq_adc_sql(),
        # recall@10 of ADC against the exact cosine ranking — the standard
        # ANN index-quality diagnostic, from the two oracles above
        "sim_pq_recall": _recall_sql(_pq_adc_sql()),
    }
