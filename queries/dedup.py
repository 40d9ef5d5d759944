"""Near-duplicate detection: exact, line, Bloom, n-gram Jaccard, MinHash
LSH, SimHash and embedding-cosine dedup with their DuckDB oracles."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.operators import dedup, similarity

from ._common import (
    Query,
    _EMB_NORM_CTE,
    _H32,
    _SH_CTE,
    _TOKS_CTE,
    _docs,
    _embs,
    _norm_docs,
    _session_memo,
)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal (operators/dedup.py line_dedup):
    segments appearing in >2 documents corpus-wide are dropped and each
    document's surviving segments reassemble in order — explode, one
    frequency aggregation, one equi-join, one reassembly groupBy; linear
    at any corpus size."""
    return dedup.line_dedup(_docs(spark, sf_dir), seg_tokens=8, max_doc_freq=2)


def q_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership dedup (dedup.bloom_membership): docs with
    id >= 250 probe the 4096-bit / 4-hash Bloom filter built from the
    id < 250 corpus — the continuous-ingestion shape where the reference
    corpus exists only as a bitmap, never as joinable rows.  False
    positives are deterministic (md5 positions are bit-identical in the
    oracle), so the flag itself hash-verifies."""
    d = _docs(spark, sf_dir)
    return dedup.bloom_membership(
        d.where(F.col("doc_id") >= 250), d.where(F.col("doc_id") < 250), k=4, m=4096
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_pairs(spark, sf_dir)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_pairs(spark, sf_dir)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=3)


@_session_memo("table")
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: docs with id >= 400 arrive as a 'new batch' and
    are matched against the signature index of the id < 400 corpus —
    continuous-ingestion dedup where the corpus exists only as its MinHash
    signature table.

    Signatures are computed in ONE full-corpus tokenize->shingle->minhash
    pass and split by id afterwards (per-doc signatures are independent, so
    pre- vs post-split is identical) — the exploded-shingle and signature
    frames are the session-memoized family build (_dedup_shingle_frames),
    so the whole dedup family shares one materialization AND one analyzed
    plan instead of this query rebuilding two disjoint filtered pipelines
    (measured 7.65 s that way).  The probe plan itself is memoized too:
    rebuilding the signature-index probe pipeline measured 0.6-0.8 s of
    py4j plan construction per call — a serving process plans once,
    serves many."""
    exploded, sigs = _dedup_shingle_frames(spark, sf_dir)
    exploded.persist()
    sigs = sigs.persist()
    return dedup.incremental_minhash_pairs_sigs(
        sigs.where(F.col("doc_id") >= 400),
        sigs.where(F.col("doc_id") < 400),
        min_est_jaccard=0.5,
    )


@_session_memo("table")
def _dedup_shingle_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Session-memoized (exploded-shingle, MinHash-signature) frames — the
    dedup family's shared build, as DataFrame OBJECTS so every consumer
    reuses one analyzed plan instead of reconstructing the pipeline
    (measured ~0.6 s of py4j plan construction per rebuild, pure driver
    overhead).  family_warmup persists these same objects, so the bench's
    family cache and the memo always refer to one plan."""
    exploded = _norm_docs(spark, sf_dir).select(
        "doc_id", F.explode("shingles").alias("sh")
    )
    return (exploded, dedup.minhash_signatures_from(exploded))


@_session_memo("table")
def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized MinHash-LSH pair frame (threshold 0.8) — shared by
    the LSH query, the recall diagnostic, and the connected-components
    build (same driver-latency memo rationale as above)."""
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.8)


@_session_memo("table")
def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized exact n-gram-Jaccard pair frame (threshold 0.8) —
    shared by the Jaccard query and the recall diagnostic's ground truth."""
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.8)


@_session_memo("index")
def _dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH pair graph, memoized per
    session/sf like the ANN index builds: the iterative min-label rounds
    end in a ``localCheckpoint``, so the returned frame is a stable
    materialized artifact — the shared build consumed by both the group
    assignment and the cluster-size report (each used to re-run the
    full propagation)."""
    return dedup.connected_components(_lsh_pairs(spark, sf_dir))


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup group assignment: connected components (iterative min-label
    propagation) over the MinHash-LSH pair graph; oracled against a DuckDB
    recursive-CTE transitive closure."""
    return _dedup_components(spark, sf_dir)


def q_dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-family quality diagnostic on the ANN-recall model: MinHash-LSH
    pairs vs the exact n-gram-Jaccard >= 0.8 ground truth, as one
    (n_exact, n_hit, n_lsh) row.  Both operators are already
    individually oracled; this row pins the RELATIONSHIP — every LSH pair
    must appear in the exact set (n_hit = n_lsh: the post-banding exact-
    Jaccard verification guarantees no false positives), and the miss
    count is the band-collision recall loss an operator owner tunes
    BANDS/ROWS_PER_BAND against.  At 100 TB the exact side is the audit
    run on a sample; the LSH side is the production path."""
    exact = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # persisted: the pair frame (tiny — the LSH output) feeds BOTH the
    # hit join and the n_lsh count; without this the whole banding +
    # verification plan executes once per consumer
    approx = _lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    ).persist()
    joined = exact.join(approx, ["doc_a", "doc_b"], "left")
    return (
        joined.agg(
            F.count("*").alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hit"),
        )
        .crossJoin(
            F.broadcast(approx.agg(F.count("*").cast("long").alias("n_lsh")))
        )
    )


@_session_memo("table")
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment |A∩B|/|A| >= 0.9
    (dedup.containment_pairs): the sub-document dedup signal symmetric
    Jaccard misses — a doc quoted wholesale inside a larger one scores
    ~1 from the small side while its Jaccard stays low.  Same inverted-
    index dataflow as the Jaccard baseline; the directed fan-out is a
    projection, not a second join.  Session-memoized like the family's
    other pair frames: the operator's hot-route probe is
    an eager one-aggregate Spark job at PLAN-BUILD time, so rebuilding
    the frame per call measured 0.8-1.1 s of driver latency — the probe
    decides once per corpus, exactly like a serving process."""
    return dedup.containment_pairs(_docs(spark, sf_dir), threshold=0.9)


def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup report a pipeline owner actually reads: the near-dup
    cluster-size histogram (cluster_size, n_clusters, n_docs) over the
    connected components of the MinHash-LSH pair graph — "how much of the
    corpus is duplicated, and in how big clumps".  Two tiny aggregations
    on the component output (group-size count, then size histogram);
    oracled against the recursive-CTE transitive closure like
    dedup_groups."""
    comp = _dedup_components(spark, sf_dir)
    sizes = comp.groupBy("group_id").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).cast("long").alias("n_docs"),
        )
    )


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_pairs(_embs(spark, sf_dir), threshold=0.45)


def q_dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path embedding near-dup: bucketed per-orthant GEMM (no corpus
    broadcast/collect); the bucket restriction itself is oracled.

    n_bits trades recall for bucket size: P[same orthant] per hyperplane is
    1 - arccos(cos)/pi, so at this low 0.45 threshold 2 bits keeps recall
    ~0.45 while quartering the candidate space; high-threshold dedup
    (>=0.9) supports 8+ bits.  Multi-probe over flipped low-magnitude bits
    is the standard recall knob beyond that.
    """
    return similarity.bucketed_cosine_pairs(_embs(spark, sf_dir), threshold=0.45, n_bits=2)


def warmup(spark: SparkSession, sf_dir: str) -> None:
    """Untimed bench setup of the family's shared builds (see
    ``__spark_entry__.family_warmup`` for what it may pre-pay)."""
    # the token-shingle inverted index and the MinHash signature table
    # are the family's shared persisted frames (the SAME memoized
    # DataFrame objects every consumer uses —
    # _dedup_shingle_frames); materialize once here so the first
    # consumer's timing measures its query, not the family's build
    exploded, sigs = _dedup_shingle_frames(spark, sf_dir)
    exploded.persist()
    sigs.persist().count()
    exploded.count()
    # the LSH pair graph is the third shared frame: groups (connected
    # components), cluster_stats, and minhash_recall all consume the
    # SAME banding + exact-verification output (a few hundred pairs);
    # persist it so the CacheManager substitutes it for their
    # plan-identical subtrees instead of re-running the banding join
    # per consumer.  Same story for the exact n-gram Jaccard pairs
    # (consumed by its own query AND as minhash_recall's ground truth)
    _lsh_pairs(spark, sf_dir).persist().count()
    _jaccard_pairs(spark, sf_dir).persist().count()


def queries() -> dict[str, Query]:
    return {
        "dedup_lines": q_dedup_lines,
        "dedup_bloom": q_dedup_bloom,
        "dedup_minhash_recall": q_dedup_minhash_recall,
        "dedup_cluster_stats": q_dedup_cluster_stats,
        "dedup_containment": q_dedup_containment,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "dedup_embedding_cosine_lsh": q_dedup_embedding_cosine_lsh,
        "dedup_exact": q_dedup_exact,
        "dedup_simhash": q_dedup_simhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_groups": q_dedup_groups,
        "dedup_incremental": q_dedup_incremental,
    }


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect; tables pre-registered as views)
# ---------------------------------------------------------------------------


def _minhash_oracle() -> str:
    p = dedup.MINHASH_PRIME
    sig_cols = ",\n           ".join(
        f"min(({a} * hv + {b}) % {p}) AS mh{i}" for i, (a, b) in enumerate(dedup.MINHASH_COEFFS)
    )
    bands = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, ".format(b=b)
        + " || '_' || ".join(
            f"CAST(mh{b * dedup.ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(dedup.ROWS_PER_BAND)
        )
        + " AS sig FROM sig"
        for b in range(dedup.BANDS)
    )
    return f"""
WITH {_TOKS_CTE}, {_SH_CTE},
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
h AS (SELECT doc_id, {_H32.format(x='s')} % {p} AS hv FROM ex),
sig AS (SELECT doc_id, {sig_cols} FROM h GROUP BY doc_id),
bands AS ({bands}),
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
),
ver AS (
    SELECT doc_a, doc_b,
           len(list_intersect(a.shingles, b.shingles)) AS i,
           len(a.shingles) AS la, len(b.shingles) AS lb
    FROM cand JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b
)
SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (la + lb - i) AS jaccard
FROM ver
WHERE la + lb - i > 0 AND CAST(i AS DOUBLE) / (la + lb - i) >= 0.8
"""


def _incremental_oracle() -> str:
    p = dedup.MINHASH_PRIME
    sig_cols = ",\n           ".join(
        f"min(({a} * hv + {b}) % {p}) AS mh{i}" for i, (a, b) in enumerate(dedup.MINHASH_COEFFS)
    )

    def bands(src: str) -> str:
        return "\nUNION ALL\n".join(
            f"SELECT doc_id, {b} AS band, "
            + " || '_' || ".join(
                f"CAST(mh{b * dedup.ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(dedup.ROWS_PER_BAND)
            )
            + f" AS sig FROM {src}"
            for b in range(dedup.BANDS)
        )

    est = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(dedup.NUM_HASHES)
    )
    return f"""
WITH {_TOKS_CTE}, {_SH_CTE},
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
h AS (SELECT doc_id, {_H32.format(x='s')} % {p} AS hv FROM ex),
sig AS (SELECT doc_id, {sig_cols} FROM h GROUP BY doc_id),
sn AS (SELECT * FROM sig WHERE doc_id >= 400),
si AS (SELECT * FROM sig WHERE doc_id < 400),
bn AS ({bands('sn')}),
bi AS ({bands('si')}),
cand AS (
    SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS index_id
    FROM bn x JOIN bi y ON x.band = y.band AND x.sig = y.sig
)
SELECT c.new_id, c.index_id, CAST({est} AS DOUBLE) / {float(dedup.NUM_HASHES)} AS est_jaccard
FROM cand c JOIN sn a ON a.doc_id = c.new_id JOIN si b ON b.doc_id = c.index_id
WHERE CAST({est} AS DOUBLE) / {float(dedup.NUM_HASHES)} >= 0.5
"""


def _simhash_oracle() -> str:
    votes = ",\n           ".join(
        f"CAST(sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b{j}"
        for j in range(32)
    )
    packed = " + ".join(f"CASE WHEN b{j} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END" for j in range(32))
    return f"""
WITH {_TOKS_CTE},
tok AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
h AS (SELECT doc_id, {_H32.format(x='tok')} AS h FROM tok),
votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
sims AS (SELECT doc_id, {packed} AS simhash FROM votes)
SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
FROM sims x JOIN sims y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
"""


def oracle_sql() -> dict[str, str]:
    return {
        "dedup_exact": f"""
WITH {_TOKS_CTE}
SELECT md5(array_to_string(toks, ' ')) AS content_hash,
       min(doc_id) AS keeper_id, count(*) AS n_copies
FROM toks GROUP BY 1
""",
        # CCNet-style boilerplate removal: non-overlapping 8-token segments,
        # drop any appearing in >2 docs corpus-wide, reassemble in order
        # (list slicing clamps at the tail in both engines)
        "dedup_lines": f"""
WITH {_TOKS_CTE},
segs AS (
    SELECT doc_id, i - 1 AS pos,
           array_to_string(toks[(i-1)*8+1 : (i-1)*8+8], ' ') AS seg
    FROM toks,
         UNNEST(CASE WHEN len(toks) > 0
                     THEN generate_series(1, CAST(ceil(len(toks) / 8.0) AS BIGINT))
                     ELSE [] END) AS t(i)
),
freq AS (SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY 1)
SELECT s.doc_id,
       CAST(sum(CASE WHEN f.df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN f.df > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       coalesce(array_to_string(list(s.seg ORDER BY s.pos) FILTER (WHERE f.df <= 2), ' '), '')
           AS clean_text
FROM segs s JOIN freq f USING (seg)
GROUP BY 1
""",
        # Bloom membership: 4 salted-md5 bit positions per doc; ref corpus
        # (id < 250) reduces to its distinct set bits; maybe_member iff all
        # distinct probe positions are set (false positives included — they
        # are hash-deterministic on both sides)
        "dedup_bloom": f"""
WITH {_TOKS_CTE},
nrm AS (SELECT doc_id, array_to_string(toks, ' ') AS n FROM toks),
pos AS (
    SELECT doc_id,
           [{", ".join(_H32.format(x=f"'bloom{i}:' || n") + " % 4096" for i in range(4))}] AS bits
    FROM nrm
),
ref AS (SELECT DISTINCT unnest(bits) AS bit FROM pos WHERE doc_id < 250),
probe AS (SELECT doc_id, list_distinct(bits) AS bits FROM pos WHERE doc_id >= 250),
ex AS (SELECT doc_id, len(bits) AS n_bits, unnest(bits) AS bit FROM probe)
SELECT e.doc_id,
       CAST(e.n_bits AS BIGINT) AS n_bits,
       CAST(sum(CASE WHEN r.bit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN r.bit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           = CAST(e.n_bits AS BIGINT) AS maybe_member
FROM ex e LEFT JOIN ref r USING (bit)
GROUP BY e.doc_id, e.n_bits
""",
        "dedup_ngram_jaccard": f"""
WITH {_TOKS_CTE}, {_SH_CTE},
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.shingles, b.shingles)) AS i,
           len(a.shingles) AS la, len(b.shingles) AS lb
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (la + lb - i) AS jaccard
FROM pairs
WHERE la + lb - i > 0 AND CAST(i AS DOUBLE) / (la + lb - i) >= 0.8
""",
        "dedup_minhash_lsh": _minhash_oracle(),
        # directed containment: each undirected intersection row fans out
        # to its two directions
        "dedup_containment": f"""
WITH {_TOKS_CTE}, {_SH_CTE},
pairs AS (
    SELECT a.doc_id AS da, b.doc_id AS db,
           len(list_intersect(a.shingles, b.shingles)) AS i,
           len(a.shingles) AS la, len(b.shingles) AS lb
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
),
d AS (
    SELECT da AS doc_inner, db AS doc_outer, CAST(i AS DOUBLE) / la AS containment
    FROM pairs WHERE la > 0
    UNION ALL
    SELECT db, da, CAST(i AS DOUBLE) / lb FROM pairs WHERE lb > 0
)
SELECT * FROM d WHERE containment >= 0.9
""",
        # LSH-vs-exact relationship: every LSH pair is in the exact set
        # (post-banding verification), misses = band-collision recall loss
        "dedup_minhash_recall": f"""
WITH exact AS (
    WITH {_TOKS_CTE}, {_SH_CTE},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.shingles, b.shingles)) AS i,
               len(a.shingles) AS la, len(b.shingles) AS lb
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b FROM pairs
    WHERE la + lb - i > 0 AND CAST(i AS DOUBLE) / (la + lb - i) >= 0.8
),
approx AS ({_minhash_oracle()})
SELECT count(*) AS n_exact,
       CAST(sum(CASE WHEN a.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       (SELECT count(*) FROM approx) AS n_lsh
FROM exact e LEFT JOIN approx a USING (doc_a, doc_b)
""",
        "dedup_simhash": _simhash_oracle(),
        "dedup_incremental": _incremental_oracle(),
        "dedup_groups": f"""
WITH RECURSIVE
lsh AS ({_minhash_oracle()}),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM lsh
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM lsh
),
reach(a, b) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
)
SELECT a AS doc_id, min(b) AS group_id FROM reach GROUP BY a
""",
        # cluster-size histogram over the same transitive closure
        "dedup_cluster_stats": f"""
WITH RECURSIVE
lsh AS ({_minhash_oracle()}),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM lsh
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM lsh
),
reach(a, b) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
comp AS (SELECT a AS doc_id, min(b) AS group_id FROM reach GROUP BY a),
sizes AS (SELECT group_id, count(*) AS cluster_size FROM comp GROUP BY 1)
SELECT cluster_size, count(*) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY 1
""",
        "dedup_embedding_cosine": f"""
WITH {_EMB_NORM_CTE}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE a.nrm > 0 AND b.nrm > 0
  AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45
""",
        "dedup_embedding_cosine_lsh": f"""
WITH {_EMB_NORM_CTE},
bkt AS (
    SELECT vec_id, v, nrm,
           (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END + CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END) AS bucket
    FROM n
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE a.nrm > 0 AND b.nrm > 0
  AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45
""",
    }
