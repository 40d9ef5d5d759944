"""Similarity search over embedding columns (``array<float>``).

Two ANN strategies:

- :func:`brute_force_topk` — exact cosine top-k.  The query side is tiny
  and **broadcast**, so the big side streams through one codegen'd stage
  with zero shuffle of the corpus; top-k is a per-query window on the
  (small) scored output.  At 100 TB the corpus never moves.
- :func:`bucketed_topk` — LSH/IVF-style: corpus and queries are bucketed by
  a deterministic sign-pattern quantizer; scoring happens only within the
  query's bucket.  This is the scale path when the query side is itself
  large: the join is an equi-join on bucket id (hash shuffle, linear), not
  a cross product.

Cosine near-dup pairing (:func:`cosine_pairs`) completes the dedup family
in ``operators/dedup.py``.

Norms are always pre-computed per row before pairing (O(n) not O(n²)).
For wide vectors a numpy Pandas-UDF scorer would add SIMD; at 64-dim the
Catalyst fold (``functions/vecfuncs.py``) is already JVM-vectorized by
codegen and avoids all Arrow transfer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.functions.vecfuncs import (
    as_double,
    cosine_with_norms,
    norm,
    sign_bucket,
)
from remote_tsdb_clickhouse_spark.util import SESSION_CACHE


def _with_norm(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    from remote_tsdb_clickhouse_spark.util import spread

    v = as_double(vec_col)
    # nrm stays the FOLD form deliberately: CollapseProject inlines this
    # expression into whatever consumes the column, including the
    # higher-order probe lambdas in _nearest_cents_col — where every
    # branch of an unrolled chain is evaluated interpreted, per centroid
    # (measured 6x slower on the IVF path when this was unroll=True).
    # The codegen-able unroll is applied only at the final scoring
    # projections, whose expressions stay top-level.
    return spread(emb).select(F.col(id_col).alias("vid"), v.alias("vec")).withColumn(
        "nrm", norm(F.col("vec"))
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Output: (query_id, neighbor_id, cos, rank) with rank 1..k, ties broken
    by neighbor id for determinism; self-matches excluded.

    ``corpus=`` accepts a prebuilt ``(vid, vec, nrm)`` frame (the
    :func:`_with_norm` shape) so a serve-many-queries caller can
    materialize the normed corpus once and share it across calls — the
    same build-once/serve-many contract as ``cent_rows=`` on
    :func:`ivf_topk` (r21, guide §2.4: the norm projection is identical
    per call, so recomputing it per query is a removable repeated stage).
    Values are unchanged — the frame is the same expression over the same
    rows.
    """
    corpus = _with_norm(emb, id_col, vec_col) if corpus is None else corpus
    qs = _with_norm(queries, id_col, vec_col).select(
        F.col("vid").alias("query_id"), F.col("vec").alias("qvec"), F.col("nrm").alias("qnrm")
    )
    scored = (
        corpus.join(F.broadcast(qs), F.col("vid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            cosine_with_norms(
                F.col("qvec"), F.col("vec"), F.col("qnrm"), F.col("nrm"), unroll=True
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos"), "rank")
    )


def lsh_corpus(
    emb: DataFrame,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The bucketed corpus serving frame of :func:`bucketed_topk`:
    ``(vid, vec, nrm, bucket)`` under the deterministic sign-pattern
    quantizer.  Exposed so a serve-many-queries caller can build the LSH
    index side once (optionally persist it) and pass it back via
    ``corpus=`` — the LSH twin of :func:`ivf_lists` (r21, guide §2.4)."""
    return _with_norm(emb, id_col, vec_col).withColumn(
        "bucket", sign_bucket(F.col("vec"), n_bits)
    )


def bucketed_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus: DataFrame | None = None,
) -> DataFrame:
    """LSH-bucketed approximate top-k: search the query's sign-bucket,
    plus — with ``nprobe > 1`` — the **multi-probe** recall knob: the
    ``nprobe - 1`` neighboring buckets reached by flipping the query's
    lowest-confidence sign bits, one at a time.

    Flip order is deterministic and engine-independent: bits sort by the
    component's absolute value ascending (ties to the lower dimension
    index) — a near-zero component is exactly the hyperplane the true
    neighbor most plausibly sits across, the standard multi-probe
    heuristic (Lv et al., VLDB'07).  Probe generation is a pure
    projection + explode on the (small) query side; buckets partition the
    corpus, so the probed candidate sets are disjoint and the join stays
    a linear equi-join — recall rises with ``nprobe`` at proportional
    candidate cost, nothing quadratic appears.

    The quantizer (:func:`~...vecfuncs.sign_bucket`) is deterministic, so
    results are reproducible and oracle-checkable at every ``nprobe``.

    ``corpus=`` accepts a prebuilt :func:`lsh_corpus` frame (same
    ``n_bits``) so the index side is built once across serving calls;
    results are unchanged (same expression, same rows).
    """
    if corpus is None:
        corpus = lsh_corpus(emb, n_bits, id_col, vec_col)
    qs = (
        _with_norm(queries, id_col, vec_col)
        .withColumn("bucket", sign_bucket(F.col("vec"), n_bits))
        .select(
            F.col("vid").alias("query_id"),
            F.col("vec").alias("qvec"),
            F.col("nrm").alias("qnrm"),
            "bucket",
        )
    )
    if nprobe > 1:
        # rank the first n_bits dims by |component| (ties -> lower dim);
        # flipping bit j moves the query across hyperplane j: the bucket
        # differs by exactly 2^j, hence the xor
        entries = F.array_sort(
            F.array(
                *[
                    F.struct(
                        F.abs(F.get(F.col("qvec"), i)).alias("a"),
                        F.lit(i).alias("i"),
                    )
                    for i in range(n_bits)
                ]
            )
        )
        flip_bits = F.transform(
            F.slice(entries, 1, nprobe - 1),
            lambda s: F.pow(F.lit(2.0), s["i"].cast("double")).cast("long"),
        )
        probe_arr = F.concat(
            F.array(F.col("bucket")),
            F.transform(flip_bits, lambda b: F.col("bucket").bitwiseXOR(b)),
        )
        qs = qs.withColumn("bucket", F.explode(probe_arr))
    scored = (
        corpus.join(qs, "bucket")
        .where(F.col("vid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            cosine_with_norms(
                F.col("qvec"), F.col("vec"), F.col("qnrm"), F.col("nrm"), unroll=True
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos"), "rank")
    )


def bucketed_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    n_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs at corpus scale: IVF/LSH-shaped.

    :func:`cosine_pairs` broadcasts the whole corpus — exact, but bounded by
    executor memory.  This variant shuffles once on the deterministic
    sign-pattern bucket and scores **within each bucket** with one numpy
    GEMM per group (``applyInPandas``): no global collect, no broadcast,
    pair candidates restricted to same-orthant vectors.  Recall < 1 by
    design (near-dups almost always share the leading-dimension orthant;
    multi-probe over flipped low-magnitude bits is the standard recall
    knob).  The DuckDB oracle mirrors the same bucket restriction, so the
    approximation itself is verified, not just the arithmetic.
    """
    import numpy as np
    import pandas as pd

    base = _with_norm(emb, id_col, vec_col).withColumn("bucket", sign_bucket(F.col("vec"), n_bits))

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["vid"].to_numpy()
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
        nrm = pdf["nrm"].to_numpy()
        ok = nrm > 0
        unit = np.where(ok[:, None], mat / np.where(ok, nrm, 1.0)[:, None], 0.0)
        sims = unit @ unit.T
        ia, ib = np.where((sims >= threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame(
            {"id_a": ids[ia], "id_b": ids[ib], "cos": sims[ia, ib]}
        )

    scored = base.select("vid", "vec", "nrm", "bucket").groupBy("bucket").applyInPandas(
        score, schema="id_a LONG, id_b LONG, cos DOUBLE"
    )
    return scored.select("id_a", "id_b", F.round("cos", 4).alias("cos"))


def ivf_train_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """K-means refinement of the IVF coarse quantizer: literally
    :func:`pq_train_codebook` with ``m=1`` — one subspace spanning the full
    dimension is exactly full-vector Lloyd's, so IVF training inherits the
    int64 micro-unit arithmetic (exact sums/counts, truncating-division
    update, empty clusters keep their centroid) that makes the training
    itself oracle-checkable, not just the search built on it.

    Returns a metadata-sized DataFrame ``(cent_id, cvec)`` — the trained
    centroids de-quantized to doubles (``civ / 1e6``: int64→double is
    exact below 2^53 and the division is one deterministic IEEE op, so
    both engines see bit-identical centroid components).  Feed it to
    :func:`ivf_topk` via ``centroids=``.
    """
    cent_ids, cent_mat = pq_train_codebook(
        emb, m=1, k=n_centroids, n_iters=n_iters, id_col=id_col, vec_col=vec_col
    )
    rows = [
        (int(cid), [float(x) / 1e6 for x in row]) for cid, row in zip(cent_ids, cent_mat)
    ]
    return emb.sparkSession.createDataFrame(rows, "cent_id long, cvec array<double>")


def _coarse_cents(
    emb: DataFrame,
    n_centroids: int,
    centroids: DataFrame | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The IVF coarse-quantizer centroid frame: externally trained rows
    (``(cent_id, cvec)``) when given, else the ``n_centroids`` smallest-id
    corpus vectors (deterministic init; selection is a distributed top-n,
    planned as TakeOrderedAndProject — no global sort)."""
    if centroids is not None:
        return centroids.select(
            "cent_id", F.col("cvec"), norm(F.col("cvec"), unroll=True).alias("cnrm")
        )
    return (
        _with_norm(emb, id_col, vec_col)
        .orderBy("vid")
        .limit(n_centroids)
        .select(
            F.col("vid").alias("cent_id"),
            F.col("vec").alias("cvec"),
            F.col("nrm").alias("cnrm"),
        )
    )


def _collected_cents(cents: DataFrame) -> list[tuple[int, list[float], float]]:
    """Materialize the coarse-quantizer frame driver-side — metadata-sized
    by contract (``n_centroids`` rows, the same contract as the PQ codebook
    collects at :func:`_pq_centroids`).  Returns (cent_id, cvec, cnrm)."""
    return [
        (int(r["cent_id"]), [float(x) for x in r["cvec"]], float(r["cnrm"]))
        for r in cents.collect()
    ]


def coarse_cent_rows(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> list[tuple[int, list[float], float]]:
    """The collected coarse-quantizer rows :func:`ivf_topk` /
    :func:`ivf_assignments` route on, exposed so callers can build the
    index ONCE and serve many queries: the collect is one corpus scan
    (top-n by id, or the trained ``centroids=`` frame), i.e. index-BUILD
    work — pass the result via ``cent_rows=`` to amortize it across
    serving calls (the entry memoizes this per session/sf the same way it
    memoizes k-means training)."""
    return _collected_cents(_coarse_cents(emb, n_centroids, centroids, id_col, vec_col))


def _cents_sql(rows: list[tuple[int, list[float], float]]) -> tuple[str, str, str]:
    """The (ids, matrix, norms) SQL literals of collected centroid rows.

    They are also the session-cache key of every Column built from the
    rows: the 16×64 literal is a ~20 KB SQL string, and parsing it per
    :func:`_nearest_cents_col` call (twice per ivf_topk: assignment +
    probes, once more per serving call) is measurable driver overhead.
    The key is exact — a built Column is a pure function of these
    strings — where a key on the float tuples would equate 0.0 with -0.0.
    """

    def d(x: float) -> str:  # exact double literal (repr = shortest round-trip)
        return repr(float(x)) + "d"

    ids_sql = "array(" + ",".join(f"{cid}L" for cid, _, _ in rows) + ")"
    mat_sql = (
        "array("
        + ",".join("array(" + ",".join(d(x) for x in cvec) + ")" for _, cvec, _ in rows)
        + ")"
    )
    nrm_sql = "array(" + ",".join(d(cnrm) for _, _, cnrm in rows) + ")"
    return ids_sql, mat_sql, nrm_sql


def _nearest_cents_col(
    rows: list[tuple[int, list[float], float]], vec, nrm, n: int
):
    """Expression computing a vector column's ``n`` nearest coarse lists:
    an array of (−cos, cent_id) structs over the collected centroids,
    ``array_sort`` (struct order ⇒ cos desc, ties to the lower cent_id),
    ``slice`` to ``n``.  A pure projection — the vector side is never
    shuffled for assignment/probing, which makes the "corpus never
    shuffles for assignment" claim literally true in the physical plan.
    (Through r5 this stage was a broadcast crossJoin + row_number window;
    the window planned an ``Exchange hashpartitioning(vid)`` over the
    whole corpus — the one corpus-wide shuffle the docstring denied.
    r6 audit of the BENCH_r05 ``sim_topk_ivf`` regression found it.)

    Float identity with the old path: the same :func:`cosine_with_norms`
    expression over the same doubles (centroid components round-trip
    exactly through ``collect`` into literals), so emitted cosines are
    bit-identical and the DuckDB oracles are unaffected.

    The centroid matrix ships as ONE nested-array literal built from a
    single SQL string — NOT one ``F.lit`` per component: the per-component
    form issues ~n_centroids × dim py4j round-trips (measured ~1.7 s of
    driver-side plan construction per query at 16×64), and a ~2,000-node
    expression tree on top.  ``repr`` of a Python float is the shortest
    round-trip decimal and Spark's ``...d`` double literal parses it with
    ``Double.parseDouble`` (correctly rounded), so the literal values are
    still bit-exact."""

    sql = _cents_sql(rows)

    def build():
        ids_sql, mat_sql, nrm_sql = sql
        cents = SESSION_CACHE.get(
            "similarity",
            ("cents", sql),
            lambda: F.arrays_zip(
                F.expr(ids_sql).alias("cent_id"),
                F.expr(mat_sql).alias("cvec"),
                F.expr(nrm_sql).alias("cnrm"),
            ),
        )
        scored = F.transform(
            cents,
            lambda c: F.struct(
                (-cosine_with_norms(vec, c["cvec"], nrm, c["cnrm"])).alias("negcos"),
                c["cent_id"].alias("cent_id"),
            ),
        )
        return F.slice(F.array_sort(scored), 1, n)

    # the transform+struct lambda chain measured ~66 ms of py4j-bound
    # driver time per build, paid 2-3x per IVF query (r21 guide §5)
    return SESSION_CACHE.get("similarity", ("probe", sql, str(vec), str(nrm), n), build)


def ivf_lists(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    cent_rows: list[tuple[int, list[float], float]] | None = None,
) -> DataFrame:
    """The corpus serving frame of :func:`ivf_topk`: ``(vid, vec, nrm,
    cent_id)`` — every corpus vector with its inverted-list id under the
    coarse quantizer.  Exposed (r21, guide §2.4) so a serve-many-queries
    caller can build the inverted lists ONCE (optionally persist them —
    this frame IS the inverted index) and pass them back via ``lists=`` on
    :func:`ivf_topk` / :func:`ivf_assignments`: the assignment projection
    is identical across serving calls, so recomputing it per query is a
    removable repeated stage.  Values are unchanged — same expression over
    the same rows."""
    if cent_rows is not None and len(cent_rows) != n_centroids:
        raise ValueError(
            f"cent_rows has {len(cent_rows)} centroids, n_centroids={n_centroids}"
        )
    rows = (
        cent_rows
        if cent_rows is not None
        else coarse_cent_rows(emb, n_centroids, id_col, vec_col, centroids)
    )
    corpus = _with_norm(emb, id_col, vec_col)
    return corpus.withColumn(
        "cent_id", _nearest_cents_col(rows, F.col("vec"), F.col("nrm"), 1)[0]["cent_id"]
    )


def ivf_assignments(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    cent_rows: list[tuple[int, list[float], float]] | None = None,
    lists: DataFrame | None = None,
) -> DataFrame:
    """Corpus → inverted-list assignment: the index-BUILD half of
    :func:`ivf_topk`, exposed for list-balance diagnostics and external
    index materialization.  Output: (vid, cent_id), one row per corpus
    vector; same collected-centroid projection (zero shuffles — one
    narrow map stage over the corpus scan).  ``lists=`` projects from a
    prebuilt :func:`ivf_lists` frame instead of recomputing the
    assignment (build-once/serve-many, r21)."""
    if lists is not None:
        return lists.select("vid", "cent_id")
    return ivf_lists(emb, n_centroids, id_col, vec_col, centroids, cent_rows).select(
        "vid", "cent_id"
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    cent_rows: list[tuple[int, list[float], float]] | None = None,
    broadcast_queries: bool = True,
    lists: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: a coarse quantizer partitions the corpus
    into inverted lists; each query scores only its ``nprobe`` nearest
    lists.

    The coarse centroids are the ``n_centroids`` smallest-id corpus vectors
    — deterministic (oracle-checkable) and id-layout-independent (no dense
    0..n assumption; selection is a distributed top-n inside the
    metadata-sized centroid collect — no global sort).  Production IVF
    refines them with k-means iterations, which changes recall but not this
    operator's dataflow.  Scale shape: the centroid set is collected
    driver-side (metadata-sized by contract) and shipped as literals, so
    corpus assignment and query probing are both **pure projections** — the
    corpus genuinely never shuffles for assignment (see
    :func:`_nearest_cents_col` for the r6 plan fix); candidate generation
    is an equi-join on the list id with the tiny probed-query side
    broadcast (the old non-hinted join shuffled BOTH sides on
    ``n_centroids`` hot keys — the worst skew shape), so the corpus never
    shuffles for candidate generation either.  The only corpus-wide
    exchange left is the final per-query top-k ranking window.  Memory per
    inverted list is bounded by the assignment balance, the knob being
    ``n_centroids`` (≈ sqrt(N) at scale).

    ``centroids=`` swaps in an externally trained coarse quantizer
    (``(cent_id, cvec)`` rows, e.g. :func:`ivf_train_centroids`) — the
    dataflow is unchanged, only the collected list changes.  ``cent_rows=``
    (pre-collected :func:`coarse_cent_rows`) skips the build collect
    entirely — the serve-many-queries path; its length must agree with
    ``n_centroids`` (a mismatched index would silently serve different
    parameters than requested).  ``broadcast_queries=False`` drops the
    broadcast hint on candidate generation for corpus-scale query sets
    (corpus-vs-corpus ANN), letting the auto-threshold + AQE pick the
    join strategy instead of forcing a potentially enormous broadcast.
    ``lists=`` accepts a prebuilt :func:`ivf_lists` frame (built with the
    SAME ``cent_rows``, which query probing still needs) so the inverted
    index is materialized once across serving calls (r21).
    """
    if cent_rows is not None and len(cent_rows) != n_centroids:
        raise ValueError(
            f"cent_rows has {len(cent_rows)} centroids, n_centroids={n_centroids}"
        )
    if lists is not None and cent_rows is None:
        # probing routes on the same collected centroids the lists were
        # built from; accepting lists without them would silently derive a
        # DIFFERENT quantizer for the query side
        raise ValueError("lists= requires cent_rows= (the quantizer it was built from)")
    rows = (
        cent_rows
        if cent_rows is not None
        else coarse_cent_rows(emb, n_centroids, id_col, vec_col, centroids)
    )

    if lists is None:
        # len(rows), not n_centroids: a trained ``centroids=`` frame defines
        # its own list count (coarse_cent_rows returns ALL its rows), and
        # the historical behavior never re-validated that branch
        lists = ivf_lists(emb, len(rows), id_col, vec_col, cent_rows=rows)

    qn = _with_norm(queries, id_col, vec_col)
    qside = qn.select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
        F.explode(
            _nearest_cents_col(rows, F.col("vec"), F.col("nrm"), nprobe)
        ).alias("_p"),
    ).select("query_id", "qvec", "qnrm", F.col("_p.cent_id").alias("cent_id"))

    scored = (
        lists.join(F.broadcast(qside) if broadcast_queries else qside, "cent_id")
        .where(F.col("vid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            cosine_with_norms(
                F.col("qvec"), F.col("vec"), F.col("qnrm"), F.col("nrm"), unroll=True
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos"), "rank")
    )


def cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 1_000_000,
) -> DataFrame:
    """Embedding near-dup pairs: all (a < b) with cosine >= threshold.

    Block matrix multiply: the (normalized) corpus matrix is broadcast as a
    numpy array; each partition scores its row block against the full
    matrix with one BLAS GEMM inside ``mapInPandas`` — the standard
    brute-force-at-scale shape (compute is O(n²d) either way; GEMM makes the
    constant tiny and the corpus never shuffles).  This is the one hot path
    where a Pandas UDF beats Catalyst folds: per-element interpreted HOF
    evaluation loses to SIMD by ~10x at 64 dims.

    **Size-guarded**: this exact variant collects the corpus matrix to the
    driver (bounded: 1M x 64 f64 = 512 MB), which is a deliberate
    exception to the no-collect rule — so it refuses corpora beyond
    ``max_rows`` instead of silently OOM-ing the driver at scale.  The
    raise names :func:`bucketed_cosine_pairs` (per-orthant GEMM, no
    collect/broadcast) as the 100 TB path; falling back automatically is
    NOT done because the bucketed variant's recall < 1 — silently changing
    the answer set is worse than failing loudly.
    """
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    base = _with_norm(emb, id_col, vec_col).select("vid", "vec")
    n_rows = base.count()
    if n_rows > max_rows:
        raise ValueError(
            f"cosine_pairs materializes the corpus driver-side; {n_rows} rows "
            f"exceeds max_rows={max_rows}. Use bucketed_cosine_pairs (no "
            "collect, linear shuffle) for large corpora, or raise max_rows "
            "explicitly if the driver can hold the matrix."
        )
    pdf = base.toPandas()
    ids = pdf["vid"].to_numpy()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    unit = mat / norms[:, None]
    b_ids = spark.sparkContext.broadcast(ids)
    b_unit = spark.sparkContext.broadcast(unit)

    def score(it):
        all_ids = b_ids.value
        all_unit = b_unit.value
        index_of = {int(v): k for k, v in enumerate(all_ids)}
        for block in it:
            rows_idx = np.array([index_of[int(v)] for v in block["vid"]])
            sims = all_unit[rows_idx] @ all_unit.T  # (block, n)
            out_a, out_b, out_c = [], [], []
            for r, i in enumerate(rows_idx):
                mask = (sims[r] >= threshold) & (all_ids > all_ids[i])
                js = np.nonzero(mask)[0]
                out_a.extend([int(all_ids[i])] * len(js))
                out_b.extend(int(all_ids[j]) for j in js)
                out_c.extend(float(sims[r, j]) for j in js)
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "cos": out_c})

    # few large blocks: the GEMM is O(n²d) regardless; fewer partitions mean
    # fewer Python workers to spin up (worker startup dominates small runs)
    n_blocks = max(2, min(len(ids) // 1024, spark.sparkContext.defaultParallelism))
    scored = (
        base.select("vid")
        .repartition(n_blocks)
        .mapInPandas(score, schema="id_a LONG, id_b LONG, cos DOUBLE")
    )
    return scored.select("id_a", "id_b", F.round("cos", 4).alias("cos"))


def quantize_int8_histogram(
    emb: DataFrame,
    codes: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension int8 scalar quantization of an embedding column —
    the standard vector-index compression step (FAISS ``SQ8``, IVF-SQ):
    each dimension is independently min-max scaled onto ``codes`` levels.

    Output: ``(dim, qcode, n)`` — the code histogram per dimension, i.e.
    exactly the codebook statistics an index builder ships with the
    quantized vectors (and the dim's min/max micro-unit bounds ride along
    as ``mn_micro``/``mx_micro``).

    Exactness: float32 components are first quantized to integer
    micro-units (``floor(v * 1e6)`` — float->double promotion and the 1e6
    multiply are exact IEEE ops), and the code assignment
    ``(v_i - mn) * codes div (mx - mn + 1)`` is pure int64 arithmetic,
    so the result is bit-identical on any engine — no libm, no rounding
    divergence.

    Scale shape: per-dim min/max is one map-side-combinable aggregate over
    the exploded frame (fixed-size state: n_dims rows); the stats frame is
    broadcast back, so the corpus is scanned twice but never shuffled; the
    final histogram aggregates map-side onto at most ``n_dims * codes``
    groups.
    """
    from remote_tsdb_clickhouse_spark.util import spread

    ex = spread(emb).select(
        F.col(id_col).alias("vid"), F.posexplode(vec_col).alias("dim", "v")
    )
    vi = F.floor(F.col("v").cast("double") * 1000000.0).cast("long")
    ex = ex.select("vid", "dim", vi.alias("vi"))
    stats = ex.groupBy("dim").agg(
        F.min("vi").alias("mn_micro"), F.max("vi").alias("mx_micro")
    )
    j = ex.join(F.broadcast(stats), "dim")
    qcode = F.expr(
        f"((vi - mn_micro) * {int(codes)}) div (mx_micro - mn_micro + 1)"
    ).cast("long")
    return (
        j.groupBy("dim", qcode.alias("qcode"), "mn_micro", "mx_micro")
        .agg(F.count("*").alias("n"))
        .select("dim", "qcode", "n", "mn_micro", "mx_micro")
    )


#: Micro-unit scale shared by the exact-integer quantization paths.
PQ_SCALE = 1_000_000


def _pq_centroids(emb: DataFrame, k: int, id_col: str, vec_col: str):
    """Deterministic codebook init shared by the PQ paths: the first ``k``
    vectors by id, quantized to integer micro-units.  Returns
    ``(cent_ids, cent_mat)`` — the **sorted** id vector and the matching
    ``(k, d)`` int64 matrix.  Keeping ids explicit (instead of assuming a
    dense 0..k-1 space) makes codes meaningful on sparse id spaces.
    """
    import numpy as np

    cent_rows = (
        emb.where(F.col(id_col) < k).select(id_col, vec_col).collect()
    )  # k rows: metadata-sized by contract
    cents = {
        int(r[0]): np.floor(np.asarray(r[1], dtype=np.float64) * PQ_SCALE).astype(np.int64)
        for r in cent_rows
    }
    cent_ids = np.array(sorted(cents), dtype=np.int64)
    cent_mat = np.stack([cents[int(i)] for i in cent_ids])
    return cent_ids, cent_mat


def pq_train_codebook(
    emb: DataFrame,
    m: int = 4,
    k: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Fixed-iteration Lloyd's refinement of the PQ codebook, **exact in
    integer micro-units** so training (not just assignment) is
    oracle-checkable: distances are int64 sums of squares, per-cluster
    sums/counts are exact int64 aggregates, and the centroid update is
    truncating integer division (``abs(sm) // cnt`` with the sign
    reapplied — DuckDB's ``//`` truncates toward zero where Python's
    floors, so truncation is spelled out on both sides).  Empty clusters
    keep their previous centroid; cluster ids are the init centroids' ids
    (stable across iterations).

    Scale shape per iteration: the codebook (k x d ints, metadata-sized)
    is broadcast; assignment + per-cluster partial sums run in one linear
    ``mapInPandas`` pass that pre-aggregates per Arrow batch (each batch
    emits at most ``m * k * sub`` partial rows, independent of batch row
    count); the only shuffle is a map-side-combined groupBy over those
    ``m * k * sub`` keys, then a metadata-sized collect rebuilds the
    codebook driver-side.  The corpus itself never shuffles — the same
    reduce-before-transfer philosophy as the reference's hint downsampling
    (``read.go:34-55``), applied to vectors.

    Returns ``(cent_ids, cent_mat)`` — the codebook in :func:`pq_codes`'
    ``codebook=`` format.
    """
    import numpy as np

    from remote_tsdb_clickhouse_spark.util import spread

    cent_ids, cent_mat = _pq_centroids(emb, k, id_col, vec_col)
    d = cent_mat.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible into {m} subspaces")
    sub = d // m
    cent_sub = cent_mat.reshape(len(cent_ids), m, sub)
    spark = emb.sparkSession
    kk = len(cent_ids)

    # spread + persist the training scan ONCE: a single-file corpus would
    # otherwise run every Lloyd's iteration single-partition (the Arrow
    # pass is the iteration cost), and each iteration would re-read the
    # source.  Persisting the projected vector column across fixed
    # iterations is the standard iterative-training shape at any scale.
    data = spread(emb.select(vec_col)).persist()

    for _ in range(n_iters):
        bc = spark.sparkContext.broadcast(cent_sub)

        def partials(it):
            import pandas as pd

            cs = bc.value  # (k, m, sub)
            for pdf in it:
                n = len(pdf)
                x = np.stack(
                    [
                        np.floor(np.asarray(v, dtype=np.float64) * PQ_SCALE).astype(
                            np.int64
                        )
                        for v in pdf[vec_col]
                    ]
                ).reshape(n, m, sub)
                # per-batch pre-aggregation: emit m*k*sub partial rows max
                ss, cls, js, sms, cnts = [], [], [], [], []
                for s in range(m):
                    diff = x[:, None, s, :] - cs[None, :, s, :]  # (n, k, sub)
                    pos = (diff * diff).sum(axis=2).argmin(axis=1)  # tie->lowest
                    sums = np.zeros((kk, sub), dtype=np.int64)
                    np.add.at(sums, pos, x[:, s, :])
                    cnt = np.bincount(pos, minlength=kk)
                    for c in np.nonzero(cnt)[0]:
                        for j in range(sub):
                            ss.append(s)
                            cls.append(c)
                            js.append(j)
                            sms.append(sums[c, j])
                            cnts.append(cnt[c] if j == 0 else 0)
                yield pd.DataFrame(
                    {"s": ss, "cl": cls, "j": js, "sm": sms, "cnt": cnts}
                )

        agg = (
            data
            .mapInPandas(partials, schema="s LONG, cl LONG, j LONG, sm LONG, cnt LONG")
            .groupBy("s", "cl", "j")
            .agg(F.sum("sm").alias("sm"), F.sum("cnt").alias("cnt"))
            .collect()
        )  # <= m*k*sub rows: metadata-sized
        new = cent_sub.copy()
        counts = np.zeros((kk, m), dtype=np.int64)
        for r in agg:
            if r["j"] == 0:
                counts[r["cl"], r["s"]] = r["cnt"]
        for r in agg:
            c, s, j, sm = r["cl"], r["s"], r["j"], int(r["sm"])
            cnt = int(counts[c, s])
            if cnt > 0:
                # truncating division (matches DuckDB //), exact for int64
                q = abs(sm) // cnt
                new[c, s, j] = q if sm >= 0 else -q
        cent_sub = new

    data.unpersist()
    return cent_ids, cent_sub.reshape(kk, d)


def pq_codes(
    emb: DataFrame,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook=None,
) -> DataFrame:
    """Product-quantization code assignment (FAISS ``PQm`` shape): the
    vector splits into ``m`` subvectors, each assigned to its nearest of
    ``k`` per-subspace centroids; output is ``(vec_id, code0..code{m-1},
    err)`` with ``err`` the total squared quantization error.

    **Exact by construction**: components quantize to integer micro-units
    (``floor(x * 1e6)``) before any distance math, so distances are exact
    int64 sums of squares — argmin and the total error are bit-identical
    in any engine (float distance sums are summation-order-dependent;
    integers are not).  Ties break to the lowest centroid id (numpy's
    first-minimum == the oracle's ``ORDER BY dist, cid``).

    Centroids are the sub-vectors of the first ``k`` vectors by id — the
    same data-independent deterministic pick as the IVF coarse centroids
    (a production codebook comes from k-means; pass ``codebook=`` a
    trained one from :func:`pq_train_codebook` to swap it in — the
    assignment machinery is identical).  The centroid fetch is a k-row
    metadata-sized collect broadcast into the Arrow workers; assignment
    itself is one mapInPandas pass, no shuffle, linear in the corpus —
    the 100 TB shape (vectorized int64 numpy per Arrow batch).

    Codes are **centroid ids**, not positional indices into the sorted
    centroid matrix: on a sparse/non-contiguous id space the two differ,
    and consumers (the oracle, ADC tables) key by id.
    """
    import numpy as np

    if k > 256:
        raise ValueError(f"k={k} exceeds one byte per code")
    cent_ids, cent_mat = (
        codebook if codebook is not None else _pq_centroids(emb, k, id_col, vec_col)
    )
    d = cent_mat.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible into {m} subspaces")
    sub = d // m
    cent_sub = cent_mat.reshape(len(cent_ids), m, sub)

    def batches(it):
        import pandas as pd

        for pdf in it:
            ids = pdf[id_col].to_numpy()
            x = np.stack(
                [
                    np.floor(np.asarray(v, dtype=np.float64) * PQ_SCALE).astype(np.int64)
                    for v in pdf[vec_col]
                ]
            ).reshape(len(ids), m, sub)
            out = {"vec_id": ids}
            err = np.zeros(len(ids), dtype=np.int64)
            for s in range(m):
                diff = x[:, None, s, :] - cent_sub[None, :, s, :]  # (n, k, sub)
                dist = (diff * diff).sum(axis=2)  # exact int64
                pos = dist.argmin(axis=1)  # first min -> lowest cid on ties
                err += dist[np.arange(len(ids)), pos]
                # positional argmin -> actual centroid id (cent_ids is
                # sorted, so first-minimum still means lowest cid)
                out[f"code{s}"] = cent_ids[pos]
            out["err"] = err
            yield pd.DataFrame(out)

    schema = (
        f"{id_col} LONG, "
        + ", ".join(f"code{s} LONG" for s in range(m))
        + ", err LONG"
    )
    return emb.select(id_col, vec_col).mapInPandas(batches, schema=schema)


def pq_adc_topk(
    emb: DataFrame,
    n_queries: int = 10,
    topk: int = 10,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook=None,
) -> DataFrame:
    """PQ search via asymmetric distance computation (ADC): each query
    precomputes an ``m x k`` lookup table of exact integer sub-distances
    to every centroid; a corpus vector's approximate distance is then just
    ``sum_s table[s][code_s]`` — ``m`` table lookups instead of a
    ``d``-dimensional computation, the datacenter-scale ANN serving shape.

    Queries are the first ``n_queries`` vectors (same convention as the
    brute-force baseline); self-matches are excluded.  Output:
    ``(query_id, neighbor_id, adc, rk)`` for the ``topk`` nearest by ADC
    distance, ties broken by neighbor id.

    Exactness: tables and codes share :func:`pq_codes`' integer micro-unit
    arithmetic, so every ADC distance is an exact int64 — rank order is
    engine-independent.  Scale: codes come from the linear no-shuffle
    ``pq_codes`` pass; the query tables are a metadata-sized collect
    (n_queries * m * k ints) shipped in the closure; ADC itself is one
    numpy gather per Arrow batch (no interpreted per-row work), and each
    batch pre-reduces to its local top-k **per query** before emitting —
    the final ranking shuffle carries ≤ topk * n_queries rows per batch,
    not n_corpus * n_queries.
    """
    import numpy as np

    from pyspark.sql import Window

    codes = pq_codes(emb, m=m, k=k, id_col=id_col, vec_col=vec_col, codebook=codebook)
    q_rows = (
        emb.where(F.col(id_col) < n_queries).select(id_col, vec_col).collect()
    )
    cent_ids, cent_mat = (
        codebook if codebook is not None else _pq_centroids(emb, k, id_col, vec_col)
    )
    d = cent_mat.shape[1]
    sub = d // m
    cent_sub = cent_mat.reshape(len(cent_ids), m, sub)
    qids_sorted = np.array(sorted(int(r[0]) for r in q_rows), dtype=np.int64)
    qvec_by_id = {int(r[0]): r[1] for r in q_rows}
    table_rows = []
    for qid in qids_sorted:
        qv = np.floor(
            np.asarray(qvec_by_id[int(qid)], dtype=np.float64) * PQ_SCALE
        ).astype(np.int64)
        qs = qv.reshape(m, sub)
        diff = qs[:, None, :] - np.transpose(cent_sub, (1, 0, 2))  # (m, k, sub)
        table_rows.append((diff * diff).sum(axis=2))
    tables = np.stack(table_rows)  # (Q, m, k) int64, row order = qids_sorted

    code_cols = [f"code{s}" for s in range(m)]

    def batches(it):
        import pandas as pd

        for pdf in it:
            nids = pdf[id_col].to_numpy()
            # codes are centroid IDS; gather indexes by position -> map back
            # through the sorted id vector (exact: every code is a cent_id)
            code_pos = np.searchsorted(
                cent_ids, np.stack([pdf[c].to_numpy() for c in code_cols], axis=1)
            )  # (n, m)
            # ADC gather: adc[q, n] = sum_s tables[q, s, code_pos[n, s]]
            adc = np.zeros((len(qids_sorted), len(nids)), dtype=np.int64)
            for s in range(m):
                adc += tables[:, s, code_pos[:, s]]
            out_q, out_n, out_a = [], [], []
            for qi, qid in enumerate(qids_sorted):
                row = adc[qi]
                valid = np.nonzero(nids != qid)[0]  # drop self-match
                if len(valid) > topk:
                    # Per-batch partial top-k INVARIANT: keep exactly the
                    # batch-local topk under the global (adc, neighbor_id)
                    # order — a superset of this batch's contribution to the
                    # global topk, so the final window sees every winner.
                    # O(n) partition for the adc threshold, then a tie-safe
                    # lexsort of just the boundary candidates.
                    vadc = row[valid]
                    kth = np.partition(vadc, topk - 1)[topk - 1]
                    cand = valid[vadc <= kth]
                    order = np.lexsort((nids[cand], row[cand]))[:topk]
                    sel = cand[order]
                else:
                    sel = valid
                out_q.append(np.full(len(sel), qid, dtype=np.int64))
                out_n.append(nids[sel])
                out_a.append(row[sel])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q) if out_q else [],
                    "neighbor_id": np.concatenate(out_n) if out_n else [],
                    "adc": np.concatenate(out_a) if out_a else [],
                }
            )

    pairs = codes.mapInPandas(
        batches, schema="query_id LONG, neighbor_id LONG, adc LONG"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= topk)
        .select("query_id", "neighbor_id", "adc", "rk")
    )


def interleave_permute(emb: DataFrame, vec_col: str = "embedding", m: int = 4) -> DataFrame:
    """OPQ-lite dimension permutation before PQ: a stride-``m`` interleave
    (``perm[i] = (i % (d/m)) * m + i // (d/m)``) so each subspace sees a
    spread of the original dimensions instead of a contiguous block —
    the structured special case of OPQ's learned rotation that keeps the
    integer-exact arithmetic intact (a permutation IS an orthogonal
    transform, so distances and recall semantics are preserved while the
    subspace variance balance changes).  Pure projection, zero shuffle.
    """
    d = 64
    sub = d // m

    def build():
        perm = [(i % sub) * m + i // sub for i in range(d)]
        return F.array(*[F.col(vec_col)[p] for p in perm])

    # r22 (guide §5): the 64-element gather is ~130 py4j round-trips per
    # build; one immutable Column per (vec_col, m) — expressions only
    return emb.withColumn(
        vec_col, SESSION_CACHE.get("similarity", ("interleave", vec_col, m, d), build)
    )


def ivf_pq_build(
    emb: DataFrame,
    n_queries: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Driver-side IVF-PQ index BUILD: coarse centroids, the residual
    codebook, and the per-(query, probed list) ADC tables — three
    metadata-sized collects (n_centroids + k + n_queries rows by
    contract).  Pass the result to :func:`ivf_pq_topk` via ``index=`` to
    serve many queries from one build (the entry memoizes it per
    session/sf like the other ANN index builds)."""
    import numpy as np

    c_ids, c_mat = _pq_centroids(emb, n_centroids, id_col, vec_col)
    d = c_mat.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible into {m} subspaces")
    sub = d // m

    # residual codebook: the first k vectors' residuals from their own
    # coarse lists, in vec_id order (driver-side int math on k rows)
    init_rows = emb.where(F.col(id_col) < k).select(id_col, vec_col).collect()
    ivs = {
        int(r[0]): np.floor(np.asarray(r[1], dtype=np.float64) * PQ_SCALE).astype(
            np.int64
        )
        for r in init_rows
    }
    if len(ivs) != k:
        raise ValueError(f"residual codebook init needs ids 0..{k-1} present")

    def _coarse_pos(iv: "np.ndarray") -> int:
        # argmin int L2; first occurrence = lowest position = lowest
        # cent id (c_ids is sorted)
        return int(((c_mat - iv) ** 2).sum(axis=1).argmin())

    cb = np.stack([ivs[i] - c_mat[_coarse_pos(ivs[i])] for i in sorted(ivs)])
    cb_sub = cb.reshape(k, m, sub)

    # per-query probes + per-(query, probed list) ADC tables (driver-side,
    # metadata-sized: n_queries rows in, nprobe*m*k ints per query out)
    q_rows = emb.where(F.col(id_col) < n_queries).select(id_col, vec_col).collect()
    probe_lists: dict[int, list[int]] = {}
    tables: dict[tuple[int, int], "np.ndarray"] = {}
    for r in q_rows:
        qid = int(r[0])
        qiv = np.floor(np.asarray(r[1], dtype=np.float64) * PQ_SCALE).astype(np.int64)
        dists = ((c_mat - qiv) ** 2).sum(axis=1)
        order = np.lexsort((np.arange(len(c_ids)), dists))
        sel = order[:nprobe]
        probe_lists[qid] = [int(c_ids[p]) for p in sel]
        for p in sel:
            qr = (qiv - c_mat[p]).reshape(m, sub)
            diff = qr[:, None, :] - np.transpose(cb_sub, (1, 0, 2))
            tables[(qid, int(c_ids[p]))] = (diff * diff).sum(axis=2)  # (m, k)

    return {
        "c_ids": c_ids,
        "c_mat": c_mat,
        "cb_sub": cb_sub,
        "m": m,
        "probe_lists": probe_lists,
        "tables": tables,
        # build parameters, validated at serve time: a mismatched index
        # must error, not silently serve different parameters.  id_col /
        # vec_col are part of the contract too — codes were computed over
        # THESE columns, so serving different ones is a different index
        "params": {
            "n_queries": n_queries,
            "n_centroids": n_centroids,
            "nprobe": nprobe,
            "m": m,
            "k": k,
            "id_col": id_col,
            "vec_col": vec_col,
        },
    }


def ivf_pq_topk(
    emb: DataFrame,
    n_queries: int = 10,
    topk: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: dict | None = None,
) -> DataFrame:
    """IVF-PQ: the FAISS-standard composite index — a coarse quantizer
    routes vectors into inverted lists, and product quantization encodes
    each vector's RESIDUAL from its list centroid (residuals are smaller
    than raw vectors, so the same code budget quantizes finer).  Serving
    probes the query's ``nprobe`` nearest lists, builds one ADC table per
    (query, probed list) from the query's per-list residual, and scores
    candidates with ``m`` table lookups.

    Exactness: everything runs in integer micro-units — coarse assignment
    is argmin int64 L2 (ties to the lowest centroid id; L2 is the FAISS
    convention, unlike ivf_topk's cosine routing), residuals are int
    subtractions, PQ codes are positional argmins against a residual
    codebook built from the first ``k`` vectors' residuals, and every ADC
    distance is an exact int64 sum — rank order is engine-independent,
    and the DuckDB oracle unrolls the identical arithmetic.

    Scale shape: centroids and the residual codebook are metadata-sized
    (driver-built from k+n_centroids rows, shipped in closures); encoding
    is one linear no-shuffle numpy pass; per-(query, list) tables are
    nprobe * m * k ints per query; scoring gathers per Arrow batch with
    per-batch partial top-k, so the ranking shuffle carries
    ≤ topk * n_queries rows per batch — the corpus never shuffles.

    ``index=`` (a prebuilt :func:`ivf_pq_build`) skips the build collects
    — the serve-many-queries path; its build parameters must agree with
    the ones requested here (mismatches raise instead of silently serving
    the index's parameters).
    """
    import numpy as np
    import pandas as pd

    from remote_tsdb_clickhouse_spark.util import spread

    if index is not None:
        want = {
            "n_queries": n_queries,
            "n_centroids": n_centroids,
            "nprobe": nprobe,
            "m": m,
            "k": k,
            "id_col": id_col,
            "vec_col": vec_col,
        }
        got = index.get("params")
        # params are REQUIRED, not optional: an index dict without them
        # has unknown provenance and could silently serve different
        # parameters than requested (r7 advisor finding)
        if got is None:
            raise ValueError(
                "prebuilt index lacks 'params'; build it with ivf_pq_build"
            )
        # compare key-wise rather than dict-equality so indexes persisted
        # BEFORE a params key existed (e.g. pre-id_col/vec_col) stay
        # servable when otherwise compatible (r8 advisor follow-up); the
        # numeric core keys are mandatory, newer keys checked if recorded
        core = ("n_queries", "n_centroids", "nprobe", "m", "k")
        missing = [kk for kk in core if kk not in got]
        if missing:
            raise ValueError(f"prebuilt index params lack {missing}; rebuild it")
        mismatched = {
            kk: (got[kk], want[kk]) for kk in want if kk in got and got[kk] != want[kk]
        }
        if mismatched:
            raise ValueError(f"index built with {got}, serve requested {want}")
        if "id_col" not in got or "vec_col" not in got:
            # legacy index persisted before column provenance was recorded
            # in params: the key-wise relaxation above would let one built
            # from a DIFFERENT vector column serve silently (wrong
            # centroids/codebook -> plausible wrong neighbors).  Cheap
            # structural guard (r9 advisor): the caller's vector
            # dimensionality must match the index centroids' width and m
            # must divide it.  One-row metadata probe, legacy path only —
            # indexes built by ivf_pq_build since record both columns and
            # never reach here.
            width = int(index["c_mat"].shape[1])
            if width % m != 0:
                raise ValueError(
                    f"legacy index centroid width {width} not divisible by m={m};"
                    " rebuild it with ivf_pq_build"
                )
            probe = emb.select(F.size(F.col(vec_col)).alias("d")).first()
            if probe is not None and probe["d"] != width:
                raise ValueError(
                    f"legacy index built over {width}-dim vectors but column"
                    f" {vec_col!r} has {probe['d']}-dim vectors; rebuild it"
                    " with ivf_pq_build"
                )
    idx = index or ivf_pq_build(
        emb, n_queries, n_centroids, nprobe, m, k, id_col, vec_col
    )
    c_ids, c_mat, cb_sub, m = idx["c_ids"], idx["c_mat"], idx["cb_sub"], idx["m"]
    probe_lists, tables = idx["probe_lists"], idx["tables"]
    sub = c_mat.shape[1] // m

    def encode(it):
        for pdf in it:
            X = np.stack(
                [
                    np.floor(np.asarray(v, dtype=np.float64) * PQ_SCALE).astype(np.int64)
                    for v in pdf[vec_col]
                ]
            )
            dists = ((X[:, None, :] - c_mat[None, :, :]) ** 2).sum(axis=2)
            pos = dists.argmin(axis=1)
            R = (X - c_mat[pos]).reshape(len(X), m, sub)
            out = {"vid": pdf[id_col].to_numpy(), "lst": c_ids[pos]}
            for s in range(m):
                dd = ((R[:, None, s, :] - cb_sub[None, :, s, :]) ** 2).sum(axis=2)
                out[f"code{s}"] = dd.argmin(axis=1)
            yield pd.DataFrame(out)

    code_schema = "vid LONG, lst LONG, " + ", ".join(f"code{s} LONG" for s in range(m))
    codes_df = spread(emb.select(id_col, vec_col)).mapInPandas(encode, schema=code_schema)

    qids_sorted = sorted(probe_lists)
    code_cols = [f"code{s}" for s in range(m)]

    def score(it):
        for pdf in it:
            nids = pdf["vid"].to_numpy()
            lsts = pdf["lst"].to_numpy()
            codes = np.stack([pdf[c].to_numpy() for c in code_cols], axis=1)
            out_q, out_n, out_a = [], [], []
            for qid in qids_sorted:
                for lst in probe_lists[qid]:
                    sel = np.nonzero((lsts == lst) & (nids != qid))[0]
                    if not len(sel):
                        continue
                    table = tables[(qid, lst)]
                    adc = np.zeros(len(sel), dtype=np.int64)
                    for s in range(m):
                        adc += table[s, codes[sel, s]]
                    cand_n, cand_a = nids[sel], adc
                    if len(cand_a) > topk:
                        kth = np.partition(cand_a, topk - 1)[topk - 1]
                        keep = np.nonzero(cand_a <= kth)[0]
                        ordk = np.lexsort((cand_n[keep], cand_a[keep]))[:topk]
                        keep = keep[ordk]
                        cand_n, cand_a = cand_n[keep], cand_a[keep]
                    out_q.extend([qid] * len(cand_n))
                    out_n.extend(int(x) for x in cand_n)
                    out_a.extend(int(x) for x in cand_a)
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "adc": out_a})

    scored = codes_df.mapInPandas(score, schema="query_id LONG, neighbor_id LONG, adc LONG")
    w = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= topk)
        .select("query_id", "neighbor_id", "adc", F.col("rk").cast("long").alias("rk"))
    )
