"""Deduplication operators for training-data pipelines.

Five dedup strategies over a document corpus, all shuffle-conscious:

- :func:`exact_dedup` — hash group-by on normalized content (one shuffle).
- :func:`ngram_jaccard_pairs` — exact n-gram Jaccard via an inverted-index
  self-join (shuffle on shingle, then on pair) — the exact-but-quadratic
  baseline, used to verify the approximate methods.
- :func:`minhash_lsh_pairs` — MinHash signatures + LSH banding: candidates
  only from band-bucket collisions (shuffle on band key — linear in corpus
  size), then exact-Jaccard verification of the candidate set only.  This is
  the 100 TB path: no O(n²) stage anywhere.
- :func:`simhash_pairs` — 32-bit SimHash + Hamming-distance pairing.
- embedding near-dup lives in ``operators/similarity.py`` (cosine pairs).

All hashing is md5-based (:func:`~...textfuncs.hash32`) so signatures are
bit-identical in the DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.functions.textfuncs import hash32, tokens, word_shingles
from remote_tsdb_clickhouse_spark.util import SESSION_CACHE, spread

#: MinHash parameters: NUM_HASHES = BANDS * ROWS_PER_BAND.
#: Operating point (r6, from the `dedup_minhash_recall` diagnostic, which
#: runs the LSH path beside the exact inverted-index ground truth at
#: J >= 0.8): recall 25/25 = 1.00 at sf0.01 and 255/256 = 0.996 at sf0.1
#: — above the 0.95 bar the r5 verdict set, so the 4x4 S-curve
#: (P(collide) = 1-(1-s^4)^4, ~0.77 at s=0.8, ~0.98 at s=0.9) stands;
#: the banded 8x2 alternative would trade precision (more candidate
#: verification work) for recall headroom this corpus doesn't need.
MINHASH_PRIME = 1_000_003
NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = 4

#: Deterministic (a, b) coefficients for the universal hash family
#: h_i(x) = (a_i * x + b_i) mod P.  Fixed constants (derived once from a
#: seeded RNG) shared verbatim with the oracle SQL generator.
MINHASH_COEFFS: list[tuple[int, int]] = [
    (563127, 907001), (729613, 132089), (237731, 804533), (394387, 462071),
    (921587, 246809), (616651, 549377), (103681, 387413), (846461, 729139),
    (450971, 941461), (281731, 617093), (739187, 104717), (524287, 350377),
    (667643, 818923), (198491, 260101), (876257, 482651), (314159, 271828),
]
assert len(MINHASH_COEFFS) == NUM_HASHES


def normalized_docs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, tokens, shingles) base for the token-level strategies.

    The repartition between tokenization and shingling is load-bearing: it
    materializes ``toks`` into the shuffle so the shingle HOF references a
    plain column attribute.  Without the barrier, projection collapsing
    inlines the regexp-heavy token expression into the per-element lambdas
    (measured 3.3x slower at sf0.1).  Only (id, toks) rows cross the wire.

    The partition count is EXPLICIT: ``repartition("doc_id")`` without a
    count lets AQE coalesce the small pre-explode shuffle (a few thousand
    (id, toks) rows) down to ONE partition, serializing the expensive
    shingle+explode stage onto a single core (measured 5.6s -> 0.7s at
    sf0.1 for the exploded index).  Pre-shuffle row size is a terrible
    proxy for post-explode work; pin the fan-out.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        spread(docs)
        .select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
        .repartition(par, "doc_id")
        .withColumn("shingles", word_shingles(F.col("toks"), 3))
    )


def line_dedup(
    docs: DataFrame,
    seg_tokens: int = 8,
    max_doc_freq: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style line-level boilerplate removal: drop every text segment
    that appears in more than ``max_doc_freq`` documents corpus-wide, and
    reassemble what remains in order.

    The unit is a consecutive non-overlapping ``seg_tokens``-token segment
    (this corpus has no newlines; a newline corpus passes lines directly).
    Output: (doc_id, n_kept, n_dropped, clean_text).

    Scale shape (the 100 TB path): posexplode -> one hash aggregation on
    the segment key for global document frequency (map-side combine,
    linear) -> one equi-join of frequencies back onto the segments -> one
    groupBy(doc) to reassemble.  Three shuffles, all on keys whose
    cardinality is corpus-proportional; no all-pairs stage, no driver
    materialization.  The conditional aggregation keeps fully-boilerplate
    documents in the output (clean_text = '') so downstream joins see
    every input id.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    base = (
        spread(docs)
        .select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
        # same materialization barrier as normalized_docs: segments are an
        # array HOF over toks; keep the regexp tokenizer out of the lambda
        .repartition(par, "doc_id")
    )
    k = seg_tokens
    nseg = F.ceil(F.size("toks") / F.lit(k)).cast("int")
    seg_arr = F.when(
        F.size("toks") > 0,
        F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda i: F.concat_ws(" ", F.slice("toks", i * k + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    segs = base.select("doc_id", F.posexplode(seg_arr).alias("pos", "seg"))
    freq = segs.groupBy("seg").agg(F.countDistinct("doc_id").alias("df"))
    joined = segs.join(freq, "seg")
    keep = F.col("df") <= max_doc_freq
    ordered = F.array_sort(
        F.collect_list(F.when(keep, F.struct("pos", "seg")))  # nulls skipped
    )
    return joined.groupBy("doc_id").agg(
        F.sum(keep.cast("long")).alias("n_kept"),
        F.sum((~keep).cast("long")).alias("n_dropped"),
        F.array_join(F.transform(ordered, lambda s: s["seg"]), " ").alias("clean_text"),
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup on the md5 of the normalized token stream.

    One hash-aggregate shuffle on the 128-bit content key; the keeper is the
    minimum id (deterministic).  Output: (content_hash, keeper_id, n_copies).
    """
    return (
        spread(docs).select(
            F.col(id_col).alias("doc_id"),
            F.md5(F.concat_ws(" ", tokens(text_col))).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def _sizes(base: DataFrame) -> DataFrame:
    return base.select("doc_id", F.size("shingles").alias("n_sh"))


def _pair_jaccard(inter_counts: DataFrame, base: DataFrame) -> DataFrame:
    """Attach shingle-set sizes to (doc_a, doc_b, inter) counts and compute
    exact Jaccard.  Sizes are one (id, int) row per doc — small at test SF
    but corpus-sized at scale, so no broadcast hint: the auto-broadcast
    threshold promotes it when it fits and AQE shuffles it when it doesn't."""
    sizes = _sizes(base)
    a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("la"))
    b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("lb"))
    union = F.col("la") + F.col("lb") - F.col("inter")
    return (
        inter_counts.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.when(union > 0, F.col("inter").cast("double") / union)
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
        )
    )


def _candidate_inter_counts(cands: DataFrame, exploded: DataFrame) -> DataFrame:
    """|intersection| for an explicit candidate pair set, by joining the
    pairs through the inverted index ((doc_a, sh) x (doc_b, sh)) instead
    of materializing and intersecting shingle arrays per pair — rows
    processed are proportional to the actual intersections, and
    everything stays in codegen'd joins."""
    ea = exploded.select(F.col("doc_id").alias("doc_a"), "sh")
    eb = exploded.select(F.col("doc_id").alias("doc_b"), "sh")
    return (
        cands.join(ea, "doc_a")
        .join(eb, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )


def _verify_candidates(cands: DataFrame, exploded: DataFrame, base: DataFrame) -> DataFrame:
    """Exact Jaccard for an explicit candidate pair set."""
    return _pair_jaccard(_candidate_inter_counts(cands, exploded), base)


def _ceil_threshold_times(n_sh_col, threshold: float):
    """Exact-arithmetic ``ceil(t' * n)`` for a rational UNDER-approximation
    ``t' = floor(t * 1e6) / 1e6 <= t`` of the float threshold.

    ``F.ceil(lit(t) * n)`` evaluates the product in IEEE doubles, which
    can round UP past the true integer (0.55 * 100 → 55.000000000000007,
    ceil → 56), silently SHORTENING the AllPairs prefix by one shingle and
    dropping qualifying pairs — unsound for an 'exact' route (r6 review
    finding; the default 0.8/0.9 thresholds happen to be unaffected).
    Substituting a ≤-rational can only LENGTHEN the prefix — extra
    candidates, all exactly verified downstream — and the integer ceil
    ``(p*n + q−1) div q`` stays exact on doubles: the numerator is far
    below 2^53 for any realistic shingle count, and a non-integer
    quotient sits ≥ 1/q from the nearest integer while double spacing at
    that magnitude is orders smaller, so floor() cannot cross a boundary.
    """
    q = 1_000_000
    p = int(math.floor(threshold * q))
    return F.floor((F.lit(p) * n_sh_col + F.lit(q - 1)) / F.lit(q)).cast("int")


def _hot_route_probe(exploded: DataFrame, df_cap: int, prefix_filter: bool | None):
    """Shared stop-shingle probe for the inverted-index family: one
    max-aggregate over the shingle document-frequency frame decides
    plain-vs-prefix routing.  Returns ``(prefix_filter, freq)`` — on the
    hot route ``freq`` stays persisted (it feeds the prefix join lazily;
    unpersisting here would force a recompute at execution time; reclaim
    is the caller's family-boundary clearCache, and the frame is one
    (shingle, count) row per distinct shingle, far smaller than the
    persisted index it derives from)."""
    freq = None
    if prefix_filter is None:
        freq = exploded.groupBy("sh").agg(F.count("*").alias("df_sh")).persist()
        row = freq.agg(F.max("df_sh").alias("m")).first()
        prefix_filter = (row["m"] or 0) > df_cap
        if not prefix_filter:
            freq.unpersist()
    return prefix_filter, freq


def _df_ordered_prefix(
    exploded: DataFrame, freq: DataFrame | None, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Every doc's AllPairs prefix: its first ``n − ceil(t·n) + 1``
    shingles under the global (ascending document frequency, ties by
    value) order — hot shingles land at the end of the order and fall out
    of nearly every prefix."""
    from pyspark.sql import Window

    if freq is None:  # caller forced the prefix path: no probe ran
        freq = exploded.groupBy("sh").agg(F.count("*").alias("df_sh"))
    w = Window.partitionBy("doc_id").orderBy("df_sh", "sh")
    return (
        exploded.join(freq, "sh")
        .join(sizes, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .where(
            F.col("rk")
            <= F.col("n_sh") - _ceil_threshold_times(F.col("n_sh"), threshold) + 1
        )
        .select("doc_id", "sh")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_filter: bool | None = None,
    hash_keys: bool = True,
    df_cap: int = 256,
) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs via inverted index.

    Pairs are generated only for documents sharing >= 1 shingle (explode +
    self-join on the shingle key), never a full cross join; the shared
    shingle join is the classic inverted-index candidate generator.  Exact
    Jaccard then filters to >= threshold.  The plain self-join is quadratic
    within identical shingle groups, so a **stop-shingle guard** routes
    around it: with ``prefix_filter=None`` (default) a one-aggregate probe
    checks whether any shingle's document frequency exceeds ``df_cap``; if
    so, candidate generation switches to the AllPairs prefix-filter path,
    which is *exact* (any pair with J >= t must collide inside the
    df-ascending prefixes) and immune to hot shingles — a stop shingle
    appearing in every document lands at the very end of the frequency
    order and falls out of nearly every prefix.  Simply *dropping* hot
    shingles would not be exact: a corpus of near-identical documents makes
    every shingle hot, and those documents' pairs must still be emitted.
    Pass ``prefix_filter=True/False`` to force a path (skips the probe).

    ``hash_keys`` (default on) joins on ``xxhash64(shingle)`` instead of the
    3-gram string: fixed 8-byte shuffle keys instead of ~20-30-byte strings,
    measured 4.5x faster end-to-end at sf0.1 (11.1s -> 2.5s, identical
    pairs).  A 64-bit collision between two shingles co-occurring in one
    candidate pair could inflate that pair's intersection count (birthday
    bound: ~n_distinct^2/2^65, negligible below ~10^8 distinct shingles);
    pass ``hash_keys=False`` for bitwise-exact string keys.
    """
    base = normalized_docs(docs, id_col, text_col)
    # persisted: the inverted-index self-join and the size lookup would
    # otherwise re-run tokenize+shingle once per plan branch (Spark does not
    # CSE across self-join sides).  The persisted frame keeps the STRING
    # shingle (identical analyzed plan to the minhash path's frame, so
    # Spark's cache manager shares one materialization across both
    # operators); the hashed key is derived per-branch from the cache — a
    # cheap map, no extra shuffle or materialization.
    exploded = base.select("doc_id", F.explode("shingles").alias("sh")).persist()
    if hash_keys:
        exploded = exploded.select("doc_id", F.xxhash64("sh").alias("sh"))
    # ONE shared document-frequency frame: the route probe is a single extra
    # max-aggregate over it, and the prefix path (when taken) reuses the same
    # persisted frame instead of recomputing shingle dfs from the index —
    # previously the dfs were computed twice (probe + freq join).
    prefix_filter, freq = _hot_route_probe(exploded, df_cap, prefix_filter)
    if prefix_filter:
        # AllPairs/PPJoin prefix filtering (exact): under a global shingle
        # order (ascending document frequency, ties by value), any pair with
        # Jaccard >= t must collide within each doc's first
        # |s| - ceil(t*|s|) + 1 shingles — index only prefixes, verify
        # candidates.  Wins when hot shingles make the full inverted-index
        # join quadratic; pure overhead on corpora with low shingle document
        # frequency (this dataset: max df 25), hence opt-in.
        prefix = _df_ordered_prefix(exploded, freq, _sizes(base), threshold)
        cands = (
            prefix.alias("x")
            .join(prefix.alias("y"), "sh")
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
            .distinct()
        )
        verified = _verify_candidates(cands, exploded, base)
    else:
        # one shuffle on the shingle, |intersection| = count per pair —
        # no distinct, no per-pair array materialization
        inter_counts = (
            exploded.alias("x")
            .join(exploded.alias("y"), "sh")
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .groupBy(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("inter"))
        )
        verified = _pair_jaccard(inter_counts, base)
    # jaccard is an int/int division: bit-identical in any engine, no rounding
    return verified.where(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")


def minhash_signatures_from(exploded: DataFrame) -> DataFrame:
    """Per-doc MinHash signature from an exploded (doc_id, sh) frame.

    All hash family members are derived per shingle, then one min
    aggregation yields all NUM_HASHES signature columns.  The repartition
    before the groupBy materializes the md5-derived hash once into the
    shuffle — otherwise projection collapse inlines the hash chain into
    every agg expression (measured ~2x) — and the aggregation reuses the
    partitioning, so there is still exactly one exchange.
    """
    hashed = exploded.withColumn("h", hash32(F.col("sh")) % MINHASH_PRIME)
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_PRIME).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    par = exploded.sparkSession.sparkContext.defaultParallelism
    return hashed.repartition(par, "doc_id").groupBy("doc_id").agg(*aggs)


def minhash_signatures(base: DataFrame) -> DataFrame:
    """Per-doc MinHash signature: NUM_HASHES min-hash columns."""
    return minhash_signatures_from(base.select("doc_id", F.explode("shingles").alias("sh")))


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash + LSH banding near-dup detection (the scale path).

    Signature -> BANDS band keys (concatenated row hashes); documents
    colliding in any band become candidates (shuffle on band key — linear);
    candidates are verified with exact Jaccard.  With 4 bands x 4 rows the
    S-curve crosses ~0.7, so threshold 0.8 pairs are found with high
    probability; verification makes every *emitted* pair exact.
    """
    base = normalized_docs(docs, id_col, text_col)
    exploded = base.select("doc_id", F.explode("shingles").alias("sh")).persist()
    sigs = minhash_signatures_from(exploded).persist()
    band_cols = []
    for b in range(BANDS):
        cols = [F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        band_cols.append(F.struct(F.lit(b).alias("band"), F.concat_ws("_", *cols).alias("sig")))
    banded = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))
    cands = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "sig"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    verified = _verify_candidates(cands, exploded, base)
    # jaccard is an int/int division: bit-identical in any engine, no rounding
    return verified.where(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")


def incremental_minhash_pairs(
    new_docs: DataFrame,
    index_sigs: DataFrame,
    min_est_jaccard: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental dedup: match an incoming batch against an EXISTING corpus
    signature index without touching corpus text.

    The production shape for continuous ingestion at 100 TB: the corpus is
    represented only by its (tiny, persistable) MinHash signature table
    (:func:`minhash_signatures` output — 16 ints per document); each new
    batch computes its own signatures, candidates come from LSH band-key
    collisions against the index (linear equi-join, the batch side is small
    and broadcastable), and similarity is the **signature estimate**
    (matching-hash fraction — unbiased estimator of Jaccard) because the
    corpus shingle sets are long gone.  Exact verification, when needed,
    re-reads only the matched corpus documents.

    Output: ``(new_id, index_id, est_jaccard)`` with estimate >=
    ``min_est_jaccard``; est_jaccard = k/NUM_HASHES is an exact int/int
    division (oracle-stable).
    """
    sigs_new = minhash_signatures(normalized_docs(new_docs, id_col, text_col))
    return incremental_minhash_pairs_sigs(sigs_new, index_sigs, min_est_jaccard)


def incremental_minhash_pairs_sigs(
    sigs_new: DataFrame,
    index_sigs: DataFrame,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Signature-level core of :func:`incremental_minhash_pairs`: both sides
    arrive as precomputed MinHash signature tables.

    Separated so a caller that already holds signatures for the whole corpus
    (one tokenize->shingle->minhash pass) can split it into index/batch by
    id instead of rebuilding two disjoint text pipelines — per-document
    signatures are identical either way, and the single pass shares the
    cached exploded-shingle frame with the rest of the dedup family.
    """

    def banded(sigs: DataFrame, out_id: str) -> DataFrame:
        band_cols = []
        for b in range(BANDS):
            cols = [F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
            band_cols.append(
                F.struct(F.lit(b).alias("band"), F.concat_ws("_", *cols).alias("sig"))
            )
        return sigs.select(
            F.col("doc_id").alias(out_id),
            F.explode(F.array(*band_cols)).alias("bk"),
        ).select(out_id, F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))

    cands = (
        banded(sigs_new, "new_id")
        .join(banded(index_sigs, "index_id"), ["band", "sig"])
        .select("new_id", "index_id")
        .distinct()
    )
    a = sigs_new.select(
        F.col("doc_id").alias("new_id"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(NUM_HASHES)]
    )
    b = index_sigs.select(
        F.col("doc_id").alias("index_id"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(NUM_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(NUM_HASHES)
    )
    est = matches.cast("double") / F.lit(float(NUM_HASHES))
    return (
        cands.join(a, "new_id")
        .join(b, "index_id")
        .select("new_id", "index_id", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= min_est_jaccard)
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iters: int = 50,
) -> DataFrame:
    """Dedup group assignment: connected components of the near-dup pair
    graph by iterative min-label propagation.

    Each iteration is one join + one min-aggregate (both hash-partitioned on
    the node id), converging in O(component diameter) rounds — near-dup
    clusters are dense and shallow, so 2-4 rounds in practice.  Every round
    materializes and truncates lineage (``localCheckpoint``), the standard
    guard against iterative-plan blowup; on a cluster the same call writes
    to the checkpoint dir instead of executor-local storage.

    Output: ``(doc_id, group_id)`` — one row per node that appears in any
    pair, ``group_id`` = the smallest doc_id in its component (the natural
    "keeper" under the same convention as :func:`exact_dedup`).
    """
    # persist the pair frame first: the bidirectional union references it
    # twice, and without this the (possibly expensive) upstream pipeline
    # producing the pairs would be evaluated once per direction
    pairs = pairs.persist()
    both = pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).union(
        pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    )
    # Size the per-round shuffles to the EDGE count, not the session
    # default: the pair graph is sparse (near-dup pairs << corpus), and
    # the per-round fixed cost (task launch per partition, one job per
    # round) dominates when 32-partition frames hold a few hundred edges.
    # The count is one job over the already-persisted pair frame; the same
    # sizing keeps working at 100 TB where n_edges picks many partitions.
    spark = pairs.sparkSession
    # count the (persisted, usually caller-materialized) pair frame, not
    # the doubled edge union — one cache-served job instead of a fresh scan
    n_edges = 2 * pairs.count()
    default_par = spark.sparkContext.defaultParallelism
    round_par = max(1, min(default_par, n_edges // 50_000 + 1))
    # co-partition the edge frame on the join key at the round width so
    # every round's join probes round_par cached partitions, not the
    # upstream pipeline's layout; materialization is folded into the
    # first round's action (no standalone count job)
    edges = both.repartition(round_par, "src").persist()
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(round_par))
    try:
        # initialization fused with the first propagation round: each node
        # starts at min(self, direct neighbors) — one aggregate instead of a
        # distinct + a full loop iteration
        def _lbl_sum(df: DataFrame) -> object:
            # decimal sum: overflow-safe at any id range / node count
            return df.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).first()[0]

        # initialization fused with the first propagation round: each node
        # starts at min(self, direct neighbors) — one aggregate instead of
        # a distinct + a full loop iteration.  Checkpoints are LAZY: the
        # convergence sum is the materializing action, so each round is
        # exactly ONE Spark job (eager checkpoints + a separate sum were
        # two, and the per-round job overhead dominates on sparse graphs).
        labels = (
            edges.select(F.col("src").alias("node"), F.col("dst").alias("lbl"))
            .union(edges.select(F.col("src").alias("node"), F.col("src").alias("lbl")))
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        prev_sum = _lbl_sum(labels)
        pairs.unpersist()
        for _ in range(max_iters):
            nbr = edges.join(labels, edges["src"] == labels["node"]).select(
                F.col("dst").alias("node"), F.col("lbl")
            )
            labels = (
                nbr.union(labels.select("node", "lbl"))
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"))
                .localCheckpoint(eager=False)
            )
            # min-label propagation strictly decreases the label sum until
            # the fixpoint — a join-free convergence test that doubles as
            # the checkpoint's materializing action
            new_sum = _lbl_sum(labels)
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    edges.unpersist()
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("group_id"))


def simhash_values(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash per document.

    Explode tokens (occurrence-weighted by construction), hash each token
    once, then 32 conditional-sum aggregates (one per bit) in a single
    map-side-combining shuffle; the fingerprint is re-packed from the bit
    votes in a final projection.  No UDF, no per-bit explode.
    """
    toks = spread(docs).select(F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("tok"))
    hashed = toks.withColumn("h", hash32(F.col("tok")))
    bit_votes = _simhash_vote_cols()
    # materialize h pre-shuffle (see minhash_signatures: 32 aggs would each
    # inline the md5 chain otherwise); explicit count so AQE can't coalesce
    # the pre-agg shuffle to one core (see normalized_docs)
    par = docs.sparkSession.sparkContext.defaultParallelism
    votes = hashed.repartition(par, "doc_id").groupBy("doc_id").agg(*bit_votes)
    return votes.select("doc_id", _simhash_pack_col().alias("simhash"))


# Plan-construction memos (r21, guide §5): the 32 vote aggregates and the
# 32-term pack expression are fixed Column trees over fixed column names
# ("h", "b0".."b31") — building them issued ~500 py4j round-trips per
# simhash_values call (~0.6 s of the query's measured 1.1-1.8 s driver
# build time).  Columns are immutable expression wrappers, safe to share
# across plans; expressions only, never data.
def _simhash_vote_cols() -> list:
    return SESSION_CACHE.get(
        "dedup",
        "simhash_votes",
        lambda: [
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(32)
        ],
    )


def _simhash_pack_col():
    def build():
        packed = None
        for j in range(32):
            term = F.when(F.col(f"b{j}") >= 0, F.lit(2**j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            packed = term if packed is None else packed + term
        return packed

    return SESSION_CACHE.get("dedup", "simhash_pack", build)


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming.

    Candidate generation blocks on the 4 SimHash bytes: by pigeonhole, any
    pair with Hamming distance <= 3 over 32 bits leaves at least one of the
    4 byte-blocks untouched, so blocking on exact byte values finds every
    such pair — the standard SimHash block-permutation scheme, a linear
    equi-join shuffle instead of a cross join.  max_hamming must stay <= 3
    for completeness with 4 blocks (more blocks buy a larger radius).
    """
    if max_hamming > 3:
        raise ValueError("4-block candidate generation is complete only for max_hamming <= 3")
    # persisted: the block self-join references the fingerprint frame on
    # both sides, and Spark does NOT reuse the tokenize+hash+32-agg
    # subplan across self-join aliases (no ReusedExchange in the plan —
    # verified), so without this the whole fingerprint pipeline runs
    # twice.  Reclaim is the family-boundary clearCache, same contract as
    # the jaccard/minhash persisted frames.
    sims = simhash_values(docs, id_col, text_col).persist()
    blocks = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("blk"),
                        F.shiftright(F.col("simhash"), 8 * k).bitwiseAND(F.lit(255)).alias("bv"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.blk").alias("blk"), F.col("b.bv").alias("bv"))
    # first-matching-block dedup: a pair colliding on several blocks (exact
    # dups collide on all 4) is emitted only by its lowest matching block —
    # an in-stage filter on bytes we already hold, replacing a full
    # .distinct() shuffle of the inflated candidate set
    def _byte(col: str, j: int) -> F.Column:
        return F.shiftright(F.col(col), 8 * j).bitwiseAND(F.lit(255))

    first_match = F.lit(True)
    for j in range(3):
        first_match = first_match & (
            (F.col("blk") <= j) | (_byte("x.simhash", j) != _byte("y.simhash", j))
        )
    cands = (
        blocks.alias("x")
        .join(blocks.alias("y"), ["blk", "bv"])
        .where((F.col("x.doc_id") < F.col("y.doc_id")) & first_match)
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.simhash").alias("sh_b"),
        )
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def bloom_positions(text_col, k: int = 4, m: int = 4096):
    """The ``k`` Bloom bit positions of a document's normalized content.

    Independent hash functions come from salting the md5 input
    (``bloom{i}:`` prefix) rather than a (a*h+b) family: each position is
    then a single :func:`hash32` the DuckDB oracle reproduces verbatim.
    Duplicate positions (two salts colliding on one bit) are kept — the
    membership test below counts *distinct* positions on both sides.
    """
    norm = F.concat_ws(" ", tokens(text_col))
    return F.array(
        *[hash32(F.concat(F.lit(f"bloom{i}:"), norm)) % m for i in range(k)]
    )


def bloom_membership(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    k: int = 4,
    m: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Membership of ``new_docs`` against the Bloom filter of ``ref_docs``
    — continuous-ingestion dedup/decontamination where the reference corpus
    exists only as an ``m``-bit filter, never as joinable rows.

    Scale shape (the 100 TB path): the filter side reduces to at most ``m``
    distinct set-bit rows (bounded by the FILTER size, not the corpus — at
    production scale m is sized to the corpus, e.g. 2^33 bits ≈ 1 GiB for
    1e9 docs at 1% FPR, still a broadcastable bitmap).  Probing is one
    explode of ``k`` positions per new doc, a broadcast equi-join onto the
    set-bit table, and one doc-keyed count — linear in the probe stream,
    with the classic Bloom guarantee: no false negatives, deterministic
    (hash-identical in the oracle) false positives.

    Output: (doc_id, n_bits, n_hit, maybe_member) for every new doc;
    ``maybe_member`` iff all k (distinct) positions are set.
    """
    set_bits = (
        spread(ref_docs)
        .select(F.explode(bloom_positions(F.col(text_col), k, m)).alias("bit"))
        .distinct()
        .withColumn("present", F.lit(1))
    )
    probes = spread(new_docs).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(bloom_positions(F.col(text_col), k, m)).alias("bits"),
    )
    ex = probes.select(
        "doc_id", F.size("bits").cast("long").alias("n_bits"), F.explode("bits").alias("bit")
    )
    return (
        ex.join(F.broadcast(set_bits), "bit", "left")
        .groupBy("doc_id", "n_bits")
        .agg(F.sum(F.coalesce("present", F.lit(0))).cast("long").alias("n_hit"))
        .select(
            "doc_id",
            "n_bits",
            "n_hit",
            (F.col("n_hit") == F.col("n_bits")).alias("maybe_member"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_filter: bool | None = None,
    hash_keys: bool = True,
    df_cap: int = 256,
) -> DataFrame:
    """Directed shingle-set containment ``|A ∩ B| / |A|`` — the
    sub-document dedup signal symmetric Jaccard misses: a short document
    quoted wholesale inside a much larger one has low Jaccard (union is
    dominated by the big doc) but containment ≈ 1 from the small doc's
    side.  Output: (doc_inner, doc_outer, containment) for every ordered
    pair at or above ``threshold``.

    Same inverted-index shape as :func:`ngram_jaccard_pairs` (shingle
    equi-join -> pair count -> size join), so it shares the family's
    exploded-shingle materialization; each undirected pair fans out to
    its two directed rows in a final projection — no second join.

    **Hot-shingle guard** (r6, closing the one unguarded inverted-index
    self-join the r5 verdict flagged): the same one-aggregate df probe as
    the sibling routes to a prefix-filter path when any shingle's document
    frequency exceeds ``df_cap``.  The bound is the DIRECTED AllPairs
    variant: containment(inner→outer) ≥ t needs ``ceil(t·|inner|)`` shared
    shingles, so under a df-ascending global shingle order the INNER doc's
    first ``|s| − ceil(t·|s|) + 1`` shingles must contain a shared one —
    the prefix side joins against the FULL index (the outer side has no
    prefix bound: a tiny doc can be contained in a huge one whose prefix
    excludes everything they share).  Exact: every qualifying directed
    pair collides, in either prefix→index orientation, and candidates are
    canonicalized to undirected pairs before exact verification.  Immune
    to hot shingles because a boilerplate shingle lands at the end of the
    frequency order and falls out of nearly every prefix, collapsing the
    per-shingle join from df² to |prefix-hits|·df.

    ``hash_keys`` (default on) joins on ``xxhash64(shingle)`` — fixed
    8-byte shuffle keys, same trade documented at
    :func:`ngram_jaccard_pairs`.
    """
    base = normalized_docs(docs, id_col, text_col)
    exploded = base.select("doc_id", F.explode("shingles").alias("sh")).persist()
    if hash_keys:
        exploded = exploded.select("doc_id", F.xxhash64("sh").alias("sh"))
    prefix_filter, freq = _hot_route_probe(exploded, df_cap, prefix_filter)
    sizes = _sizes(base)
    if prefix_filter:
        prefix = _df_ordered_prefix(exploded, freq, sizes, threshold)
        cands = (
            prefix.alias("x")
            .join(exploded.alias("y"), "sh")
            .where(F.col("x.doc_id") != F.col("y.doc_id"))
            .select(
                F.least("x.doc_id", "y.doc_id").alias("doc_a"),
                F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        inter = _candidate_inter_counts(cands, exploded)
    else:
        inter = (
            exploded.alias("x")
            .join(exploded.alias("y"), "sh")
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .groupBy(
                F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
            )
            .agg(F.count("*").alias("inter"))
        )
    a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("la"))
    b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("lb"))
    j = inter.join(a, "doc_a").join(b, "doc_b")
    # directed fan-out as ONE explode over a 2-struct array — a union of
    # two projections would re-execute the whole inter/size join subtree
    # per branch (Spark does not CSE across union arms; measured ~2x the
    # jaccard sibling's runtime before this)
    pair = F.explode(
        F.array(
            F.struct(
                F.col("doc_a").alias("doc_inner"),
                F.col("doc_b").alias("doc_outer"),
                (F.col("inter").cast("double") / F.col("la")).alias("containment"),
                (F.col("la") > 0).alias("ok"),
            ),
            F.struct(
                F.col("doc_b").alias("doc_inner"),
                F.col("doc_a").alias("doc_outer"),
                (F.col("inter").cast("double") / F.col("lb")).alias("containment"),
                (F.col("lb") > 0).alias("ok"),
            ),
        )
    )
    return (
        j.select(pair.alias("p"))
        .where(F.col("p.ok") & (F.col("p.containment") >= threshold))
        .select("p.doc_inner", "p.doc_outer", "p.containment")
    )
