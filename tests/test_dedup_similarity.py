"""Dedup / similarity operator guards: hot-shingle auto-routing in
ngram_jaccard_pairs, the cosine_pairs driver-collect size guard, and IVF
centroid selection without the dense-id assumption (VERDICT r1 items 2/3/7)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.operators import dedup, similarity


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )


@pytest.fixture(scope="module")
def hot_corpus(spark):
    # every document opens with the same 6-word phrase -> its word-3-grams
    # are stop shingles with df == n_docs (the adversarial hot-key case for
    # the inverted-index self-join); two exact duplicates are planted
    stop = "lorem ipsum dolor sit amet consectetur"
    texts = [f"{stop} unique content number {i} about topic {i * 7} end" for i in range(20)]
    texts.append(texts[0])
    texts.append(texts[5])
    return _docs(spark, texts)


def test_ngram_hot_shingle_auto_route_exact(spark, hot_corpus):
    """With a stop shingle in every doc, the default (auto) path must trip
    the df probe, route to the prefix filter, and still emit exactly the
    pairs the plain inverted-index path emits."""

    def pairs(**kw):
        df = dedup.ngram_jaccard_pairs(hot_corpus, threshold=0.8, **kw)
        return sorted(tuple(r) for r in df.collect())

    auto = pairs(df_cap=4)  # probe trips -> prefix path
    inverted = pairs(prefix_filter=False)
    forced_prefix = pairs(prefix_filter=True)
    assert auto == forced_prefix == inverted
    found = {(a, b) for a, b, _ in auto}
    assert {(0, 20), (5, 21)} <= found  # the planted duplicates


def test_prefix_bound_float_ceil_hazard(spark):
    """r6 review finding: F.ceil(lit(t) * n) in doubles rounds UP past the
    true integer for thresholds like 0.55 (0.55*100 = 55.000000000000007,
    ceil 56), shortening the AllPairs prefix by one and silently dropping
    qualifying pairs.  The exact-integer bound must keep the prefix route
    emitting EXACTLY the plain route's pairs at such thresholds."""
    # docs with 100-ish distinct shingles sharing just over 55% of them
    base = [f"w{i}" for i in range(120)]
    texts = []
    for d in range(6):
        toks = base[: 60] + [f"u{d}x{i}" for i in range(45)]  # 60 shared + 45 unique
        texts.append(" ".join(toks))
    docs = _docs(spark, texts)

    def pairs(**kw):
        df = dedup.ngram_jaccard_pairs(docs, threshold=0.55, **kw)
        return sorted((r["doc_a"], r["doc_b"]) for r in df.collect())

    assert pairs(prefix_filter=True) == pairs(prefix_filter=False)

    def cpairs(**kw):
        df = dedup.containment_pairs(docs, threshold=0.55, **kw)
        return sorted((r["doc_inner"], r["doc_outer"]) for r in df.collect())

    assert cpairs(prefix_filter=True) == cpairs(prefix_filter=False)


def test_ceil_threshold_times_exact_property(spark):
    """The prefix bound's Spark expression must equal the exact integer
    ceil(p*n/q) for the rational under-approximation p/q of the
    threshold, across a sweep of hazardous thresholds and sizes — and
    never exceed the float-naive value by more than the documented
    lengthening direction (bound <= float-ceil is NOT required; bound
    must simply be the exact rational ceil)."""
    import math

    from pyspark.sql import functions as F

    thresholds = [0.5, 0.55, 0.56, 0.68, 0.7, 0.8, 0.81, 0.9, 0.99, 1.0]
    ns = list(range(1, 200)) + [10_000, 1_000_000, 999_999_937]
    df = spark.createDataFrame([(n,) for n in ns], "n LONG")
    for t in thresholds:
        got = {
            r["n"]: r["b"]
            for r in df.select(
                "n", dedup._ceil_threshold_times(F.col("n"), t).alias("b")
            ).collect()
        }
        q = 1_000_000
        p = int(math.floor(t * q))
        for n in ns:
            want = -((-p * n) // q)  # exact integer ceil(p*n/q)
            assert got[n] == want, (t, n, got[n], want)


def test_containment_hot_shingle_auto_route_exact(spark, hot_corpus):
    """r6 guard (the one inverted-index self-join the r5 verdict flagged
    as unguarded): on the stop-shingle corpus the df probe must trip, the
    DIRECTED AllPairs prefix route (inner-side-only bound) must engage,
    and the emitted directed pairs must be exactly the plain path's."""

    def pairs(**kw):
        df = dedup.containment_pairs(hot_corpus, threshold=0.9, **kw)
        return sorted(tuple(r) for r in df.collect())

    auto = pairs(df_cap=4)  # probe trips -> prefix path
    inverted = pairs(prefix_filter=False)
    forced_prefix = pairs(prefix_filter=True)
    assert auto == forced_prefix == inverted
    found = {(i, o) for i, o, _ in auto}
    # planted exact duplicates are contained in BOTH directions
    assert {(0, 20), (20, 0), (5, 21), (21, 5)} <= found


def test_containment_subdocument_directed(spark):
    """The asymmetric signal itself: a short doc quoted wholesale inside a
    much larger one is contained (small→large ≈ 1) while the reverse
    direction and the symmetric Jaccard stay below threshold — and the
    prefix route (whose bound is only valid on the inner side) must keep
    exactly these directed pairs."""
    small = "alpha beta gamma delta epsilon zeta"
    big = small + " " + " ".join(f"filler{i} word{i} extra{i}" for i in range(20))
    docs = _docs(spark, [small, big, "unrelated totally different text entirely here now"])
    for forced in (False, True):
        out = {
            (r["doc_inner"], r["doc_outer"]): r["containment"]
            for r in dedup.containment_pairs(
                docs, threshold=0.9, prefix_filter=forced
            ).collect()
        }
        assert (0, 1) in out and out[(0, 1)] >= 0.9, out
        assert (1, 0) not in out, out


def test_cosine_pairs_size_guard(spark):
    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 0.5]) for i in range(50)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    with pytest.raises(ValueError, match="bucketed_cosine_pairs"):
        similarity.cosine_pairs(emb, max_rows=10)
    out = similarity.cosine_pairs(emb, threshold=0.999, max_rows=100)
    assert out.count() > 0  # identical (i % 7) vectors pair up


def test_ivf_topk_sparse_ids(spark):
    """Centroid selection must not assume ids 0..n: with ids starting at
    1000 the old ``vid < n_centroids`` filter selected an empty centroid
    set (every query/corpus row then had no inverted list)."""
    ids = [1000 + 10 * i for i in range(40)]
    emb = spark.createDataFrame(
        [
            (vid, [math.cos(i / 7.0), math.sin(i / 7.0), 1.0, 0.5])
            for i, vid in enumerate(ids)
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    queries = emb.where(F.col("vec_id") <= 1020)
    out = similarity.ivf_topk(emb, queries, k=3, n_centroids=4, nprobe=2).collect()
    assert {r.query_id for r in out} == {1000, 1010, 1020}
    assert all(1 <= r.rank <= 3 for r in out)
    assert all(r.neighbor_id != r.query_id for r in out)


def test_incremental_minhash_pairs(spark, hot_corpus):
    """New-batch docs must match their corpus originals through the
    signature index alone (no corpus text), with estimate 1.0 for exact
    copies."""
    from pyspark.sql import functions as F2

    corpus = hot_corpus.where(F2.col("doc_id") < 20)
    new = hot_corpus.where(F2.col("doc_id") >= 20)  # copies of docs 0 and 5
    index = dedup.minhash_signatures(dedup.normalized_docs(corpus))
    out = dedup.incremental_minhash_pairs(new, index, min_est_jaccard=0.9)
    got = {(r.new_id, r.index_id, r.est_jaccard) for r in out.collect()}
    assert (20, 0, 1.0) in got
    assert (21, 5, 1.0) in got


def test_pq_codes_exact_and_deterministic(spark):
    """Centroid vectors must self-assign with zero error; ties go to the
    lowest centroid id; dims must divide into subspaces."""
    import pytest

    from remote_tsdb_clickhouse_spark.operators.similarity import pq_codes

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 1.0]),   # subspace0 == centroid0, subspace1 != both
        (3, [1.0, 0.0, 0.0, 0.0]),   # duplicate of centroid 0 -> ties break low
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in pq_codes(df, m=2, k=2).collect()}
    assert (out[0]["code0"], out[0]["code1"], out[0]["err"]) == (0, 0, 0)
    # vec1's subspace1 ([0,0]) ties between both centroids -> lowest cid
    assert (out[1]["code0"], out[1]["code1"], out[1]["err"]) == (1, 0, 0)
    assert out[3]["code0"] == 0 and out[3]["err"] == 0  # exact dup of centroid 0
    assert out[2]["code0"] == 0 and out[2]["err"] > 0
    with pytest.raises(ValueError):
        pq_codes(df, m=3, k=2).collect()  # 4 dims not divisible by 3


def test_pq_train_codebook_reduces_error(spark):
    """Lloyd's refinement must not increase total quantization error, must
    keep the codebook exactly reproducible (int64 arithmetic), and empty
    clusters must keep their previous centroid."""
    import numpy as np

    from remote_tsdb_clickhouse_spark.operators.similarity import (
        pq_codes,
        pq_train_codebook,
    )

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(4)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    untrained_err = sum(r["err"] for r in pq_codes(df, m=2, k=4).collect())
    cb = pq_train_codebook(df, m=2, k=4, n_iters=2)
    trained_err = sum(r["err"] for r in pq_codes(df, m=2, k=4, codebook=cb).collect())
    assert trained_err <= untrained_err
    # deterministic: retraining yields the bit-identical codebook
    cb2 = pq_train_codebook(df, m=2, k=4, n_iters=2)
    assert (cb[0] == cb2[0]).all() and (cb[1] == cb2[1]).all()


def test_pq_codes_sparse_id_space_emits_centroid_ids(spark):
    """Codes are centroid IDS, not positions: with a sparse id space the
    available init centroids are the ids < k actually present."""
    from remote_tsdb_clickhouse_spark.operators.similarity import pq_codes

    rows = [
        (0, [1.0, 0.0]),
        (3, [0.0, 1.0]),   # id 1, 2 absent; centroids (k=4) are ids {0, 3}
        (9, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in pq_codes(df, m=1, k=4).collect()}
    assert out[9]["code0"] == 3  # the centroid's actual id, not position 1
    assert out[9]["err"] == 0


def test_multiprobe_finds_cross_hyperplane_neighbor(spark):
    """A query sitting just above a hyperplane must find its near-identical
    neighbor just below it once the lowest-|component| bit is probed."""
    from remote_tsdb_clickhouse_spark.operators.similarity import bucketed_topk

    rows = [
        (0, [0.001, 1.0, 1.0, 1.0]),    # query: dim0 barely positive
        (50, [-0.001, 1.0, 1.0, 1.0]),  # near-dup across the dim0 hyperplane
        (51, [0.9, 1.0, 1.0, 1.0]),     # same bucket as query, less similar
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where("vec_id = 0")

    single = {r["neighbor_id"] for r in bucketed_topk(df, q, k=2, n_bits=4, nprobe=1).collect()}
    multi = {r["neighbor_id"] for r in bucketed_topk(df, q, k=2, n_bits=4, nprobe=2).collect()}
    assert single == {51}          # cross-hyperplane neighbor invisible
    assert multi == {50, 51}       # one extra probe (lowest |dim0|) finds it

def test_ivf_train_centroids_moves_and_searches(spark):
    """Lloyd's refinement (pq_train_codebook with m=1) must actually move
    at least one centroid off its init on a clusterable corpus, keep all
    k rows (empty clusters retain their init), and the trained search
    must keep the ivf_topk output contract."""
    import math as m

    # two tight clusters far apart, plus the 4 init vectors inside them
    rows = []
    for i in range(40):
        base = [10.0, 0.0, 0.0, 0.0] if i % 2 else [0.0, 10.0, 0.0, 0.0]
        rows.append((i, [base[j] + 0.01 * ((i * 7 + j) % 5) for j in range(4)]))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents = similarity.ivf_train_centroids(emb, n_centroids=4, n_iters=2)
    got = {r.cent_id: r.cvec for r in cents.collect()}
    assert set(got) == {0, 1, 2, 3}  # ids preserved, none dropped
    init = {r.vec_id: r.embedding for r in emb.where(F.col("vec_id") < 4).collect()}
    moved = [c for c in got if any(abs(a - b) > 1e-9 for a, b in zip(got[c], init[c]))]
    assert moved, "training never moved a centroid"
    out = similarity.ivf_topk(
        emb, emb.where(F.col("vec_id") < 2), k=3, nprobe=1, centroids=cents
    ).collect()
    assert {r.query_id for r in out} == {0, 1}
    # with per-parity clusters, probe-1 neighbors share the query's parity
    assert all(r.neighbor_id % 2 == r.query_id % 2 for r in out)


def test_ivf_serve_paths_match_self_built(spark):
    """The r6 build/serve split must be invisible to results: ivf_topk fed
    pre-collected cent_rows (and ivf_pq_topk fed a prebuilt index) must
    emit exactly what the self-building call emits — the serve path skips
    the build collects, nothing else."""
    rows = [
        (i, [((i * 13 + j * 7) % 19) / 19.0 + 0.05 for j in range(8)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    queries = emb.where(F.col("vec_id") < 5)

    built = similarity.coarse_cent_rows(emb, n_centroids=8)
    a = sorted(map(tuple, similarity.ivf_topk(emb, queries, k=3, n_centroids=8).collect()))
    b = sorted(
        map(tuple, similarity.ivf_topk(emb, queries, k=3, n_centroids=8, cent_rows=built).collect())
    )
    assert a == b

    idx = similarity.ivf_pq_build(emb, n_queries=5, n_centroids=8, m=4, k=8)
    p = sorted(
        map(
            tuple,
            similarity.ivf_pq_topk(emb, n_queries=5, topk=3, n_centroids=8, m=4, k=8).collect(),
        )
    )
    q = sorted(
        map(
            tuple,
            similarity.ivf_pq_topk(
                emb, n_queries=5, topk=3, n_centroids=8, m=4, k=8, index=idx
            ).collect(),
        )
    )
    assert p == q

    # the corpus-vs-corpus escape hatch: dropping the broadcast hint must
    # change only the join strategy, never the results
    c = sorted(
        map(
            tuple,
            similarity.ivf_topk(
                emb, queries, k=3, n_centroids=8, cent_rows=built, broadcast_queries=False
            ).collect(),
        )
    )
    assert a == c

    # mismatched shapes must error, never silently serve other parameters
    with pytest.raises(ValueError, match="cent_rows has"):
        similarity.ivf_topk(emb, queries, k=3, n_centroids=4, cent_rows=built)
    with pytest.raises(ValueError, match="cent_rows has"):
        similarity.ivf_assignments(emb, n_centroids=4, cent_rows=built)
    with pytest.raises(ValueError, match="index built with"):
        similarity.ivf_pq_topk(
            emb, n_queries=5, topk=3, n_centroids=8, m=4, k=8, nprobe=4, index=idx
        )
    # column names are part of the index contract (codes were computed
    # over them), and a params-less index has unknown provenance
    with pytest.raises(ValueError, match="index built with"):
        similarity.ivf_pq_topk(
            emb.withColumnRenamed("vec_id", "other_id"),
            n_queries=5, topk=3, n_centroids=8, m=4, k=8,
            id_col="other_id", index=idx,
        )
    with pytest.raises(ValueError, match="index built with"):
        similarity.ivf_pq_topk(
            emb, n_queries=5, topk=3, n_centroids=8, m=4, k=8,
            index={k2: v for k2, v in idx.items() if k2 != "params"},
        )
    # params missing the column names (or a numeric key) are not the
    # requested build either: every recorded param must match
    for dropped in ("vec_col", "m"):
        partial = dict(idx)
        partial["params"] = {k2: v for k2, v in idx["params"].items() if k2 != dropped}
        with pytest.raises(ValueError, match="index built with"):
            similarity.ivf_pq_topk(
                emb, n_queries=5, topk=3, n_centroids=8, m=4, k=8, index=partial
            )

    # the assignment serve path must also be result-identical and treat
    # an EMPTY cent_rows list as present (it used `or`, which silently
    # rebuilt — r7 advisor finding)
    asg_a = sorted(map(tuple, similarity.ivf_assignments(emb, n_centroids=8).collect()))
    asg_b = sorted(
        map(tuple, similarity.ivf_assignments(emb, n_centroids=8, cent_rows=built).collect())
    )
    assert asg_a == asg_b
    with pytest.raises(ValueError, match="cent_rows has 0"):
        similarity.ivf_assignments(emb, n_centroids=8, cent_rows=[])
    with pytest.raises(ValueError, match="cent_rows has 0"):
        similarity.ivf_topk(emb, queries, k=3, n_centroids=8, cent_rows=[])


def test_line_dedup_drops_global_boilerplate(spark):
    # segment unit = 2 tokens; "footer text" appears in 3 docs (> max 2)
    # and must vanish from all of them; "unique words" stays
    rows = [
        (1, "alpha beta footer text"),
        (2, "gamma delta footer text"),
        (3, "epsilon zeta footer text"),
        (4, "unique words only here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.line_dedup(docs, seg_tokens=2, max_doc_freq=2).collect()
    }
    assert out[1]["clean_text"] == "alpha beta"
    assert (out[1]["n_kept"], out[1]["n_dropped"]) == (1, 1)
    assert out[3]["clean_text"] == "epsilon zeta"
    assert out[4]["clean_text"] == "unique words only here"
    assert out[4]["n_dropped"] == 0


def test_line_dedup_order_and_tail_segment(spark):
    # 5 tokens at seg_tokens=2 -> segments (2,2,1); order must be preserved
    # and a fully-boilerplate doc still appears with empty clean_text
    rows = [
        (1, "one two three four five"),
        (2, "shared pair"),
        (3, "shared pair"),
        (4, "shared pair"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.line_dedup(docs, seg_tokens=2, max_doc_freq=2).collect()
    }
    assert out[1]["clean_text"] == "one two three four five"
    assert out[1]["n_kept"] == 3
    assert out[2]["clean_text"] == ""
    assert out[2]["n_dropped"] == 1


def test_bloom_membership_no_false_negatives(spark):
    """Every new doc whose exact content exists in the reference corpus
    must test maybe_member (Bloom guarantee); a doc sharing no content is
    not a member at this filter density."""
    from remote_tsdb_clickhouse_spark.operators.dedup import bloom_membership

    ref = spark.createDataFrame(
        [(i, f"shared text number {i % 3}") for i in range(6)], "doc_id LONG, text STRING"
    )
    new = spark.createDataFrame(
        [
            (100, "shared text number 1"),  # exact content match -> member
            (101, "completely unrelated content xyzzy"),  # no match
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in bloom_membership(new, ref, k=4, m=65536).collect()}
    assert out[100].maybe_member  # no false negatives, ever
    assert out[100].n_hit == out[100].n_bits
    assert not out[101].maybe_member  # 6 docs * 4 bits in 65536: FP ~ 1e-13


def test_bloom_no_false_negatives_property(spark):
    """Universal Bloom guarantee across filter densities: probing the
    reference corpus against its own filter is all-members for every
    (k, m) — including m small enough that false positives abound."""
    from remote_tsdb_clickhouse_spark.operators.dedup import bloom_membership

    import random

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choices(words, k=12))) for i in range(40)],
        "doc_id LONG, text STRING",
    ).cache()
    for k, m in [(2, 256), (4, 1024), (6, 65536)]:
        out = bloom_membership(docs, docs, k=k, m=m).collect()
        assert len(out) == 40
        assert all(r.maybe_member for r in out), (k, m)


def test_minhash_planted_duplicates_randomized(spark):
    """Seeded planted-duplicate sweep for the LSH scale path: exact
    duplicates share the full signature, so they MUST pair (probability 1,
    no S-curve involved), and the post-banding exact-Jaccard verification
    means no emitted pair may fall below the threshold — checked against
    an independently computed word-3-gram Jaccard."""
    import random

    from remote_tsdb_clickhouse_spark.operators.dedup import minhash_lsh_pairs

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(60)]
    rows, texts = [], {}
    planted = []
    did = 0
    for _ in range(25):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(8, 30)))
        rows.append((did, text)); texts[did] = text
        if rng.random() < 0.5:  # plant an exact duplicate
            rows.append((did + 1, text)); texts[did + 1] = text
            planted.append((did, did + 1))
            did += 2
        else:
            did += 1
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    pairs = {(r.doc_a, r.doc_b) for r in
             minhash_lsh_pairs(docs, threshold=0.8).select("doc_a", "doc_b").collect()}

    def jaccard(a, b):
        def sh(t):
            w = t.split()
            return {" ".join(w[i:i + 3]) for i in range(max(len(w) - 2, 1))}
        sa, sb = sh(a), sh(b)
        return len(sa & sb) / len(sa | sb) if sa | sb else 0.0

    for a, b in planted:
        assert (a, b) in pairs or (b, a) in pairs, (a, b, texts[a])
    for a, b in pairs:
        assert a < b, (a, b)  # canonical order, no self-pairs (screen M58)
        assert jaccard(texts[a], texts[b]) >= 0.8, (a, b, jaccard(texts[a], texts[b]))


def test_connected_components_randomized_graphs(spark):
    """Seeded random-graph sweep of the iterative min-label propagation vs
    a Python union-find reference: 3 graph shapes (sparse random, long
    chains that stress the iteration count, disjoint cliques) in one
    call, labels checked node-for-node."""
    import random

    from remote_tsdb_clickhouse_spark.operators.dedup import connected_components

    rng = random.Random(53)
    edges = []
    # sparse random graph on nodes 0..199
    for _ in range(120):
        a, b = rng.randrange(200), rng.randrange(200)
        if a != b:
            edges.append((min(a, b), max(a, b)))
    # two long chains (diameter ~40 — forces multiple propagation rounds)
    for base in (1000, 2000):
        edges += [(base + i, base + i + 1) for i in range(40)]
    # disjoint cliques
    for base in (3000, 3100):
        nodes = [base + i for i in range(6)]
        edges += [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(edges, "doc_a LONG, doc_b LONG")
    got = {r.doc_id: r.group_id for r in connected_components(pairs).collect()}
    assert got == want


def test_jaccard_and_containment_bruteforce_randomized(spark):
    """Seeded corpus of near-copies vs an all-pairs brute force: the exact
    n-gram Jaccard pairs and the directed containment pairs must match
    the reference EXACTLY on BOTH routes (plain inverted index and the
    AllPairs prefix-filter path) — completeness of the prefix bound is
    the property a fixture-based oracle can miss."""
    import random

    from remote_tsdb_clickhouse_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    rng = random.Random(59)
    vocab = [f"w{i}" for i in range(80)]
    texts = {}
    did = 0
    for _ in range(14):
        base = [rng.choice(vocab) for _ in range(rng.randint(6, 24))]
        texts[did] = " ".join(base); did += 1
        for _ in range(rng.randint(0, 2)):  # near-copies: 0-2 token edits
            mut = list(base)
            for _ in range(rng.randint(0, 2)):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            texts[did] = " ".join(mut); did += 1
        if rng.random() < 0.5:  # embed the base verbatim in a longer doc
            pad = [rng.choice(vocab) for _ in range(rng.randint(3, 10))]
            texts[did] = " ".join(pad + base); did += 1

    def sh(t):
        toks = t.split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    shs = {d: sh(t) for d, t in texts.items()}
    want_j, want_c = set(), set()
    for a in texts:
        for b in texts:
            sa, sb = shs[a], shs[b]
            if a < b and sa and sb and len(sa & sb) / len(sa | sb) >= 0.8:
                want_j.add((a, b))
            if a != b and sa and len(sa & sb) / len(sa) >= 0.9:
                want_c.add((a, b))

    docs = spark.createDataFrame(list(texts.items()), "doc_id LONG, text STRING")
    for pf in (False, True):
        got_j = {(r.doc_a, r.doc_b) for r in
                 ngram_jaccard_pairs(docs, threshold=0.8, prefix_filter=pf)
                 .select("doc_a", "doc_b").collect()}
        assert got_j == want_j, (pf, got_j ^ want_j)
        got_c = {(r.doc_inner, r.doc_outer) for r in
                 containment_pairs(docs, threshold=0.9, prefix_filter=pf)
                 .select("doc_inner", "doc_outer").collect()}
        assert got_c == want_c, (pf, got_c ^ want_c)


def test_bloom_membership_no_false_negatives_randomized(spark):
    """Seeded sweep of the Bloom guarantee: every new doc whose text is
    literally present in the reference corpus MUST report
    maybe_member=true (zero false negatives, the property that makes the
    filter usable for dedup), across three filter sizes including an
    undersized m that forces false positives."""
    import random

    from remote_tsdb_clickhouse_spark.operators.dedup import bloom_membership

    rng = random.Random(61)
    vocab = [f"w{i}" for i in range(50)]
    ref_texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(4, 15)))
                 for _ in range(40)]
    members = rng.sample(range(40), 15)
    new_rows = []
    for d in range(30):
        if d < 15:
            new_rows.append((d, ref_texts[members[d]]))  # exact member
        else:
            new_rows.append((d, " ".join(rng.choice(vocab)
                                         for _ in range(rng.randint(4, 15)))))
    ref = spark.createDataFrame([(i, t) for i, t in enumerate(ref_texts)],
                                "doc_id LONG, text STRING")
    new = spark.createDataFrame(new_rows, "doc_id LONG, text STRING")
    for m in (64, 1024, 4096):
        got = {r.doc_id: r.maybe_member
               for r in bloom_membership(new, ref, k=4, m=m).collect()}
        assert len(got) == 30  # every new doc reported
        for d in range(15):
            assert got[d], (m, d)  # the Bloom contract: no false negatives


def test_line_dedup_randomized_block_corpus(spark):
    """Seeded sweep of CCNet line dedup on a block-aligned corpus: docs
    are concatenations of 8-token blocks drawn from a pool where some
    blocks are corpus-wide boilerplate (df > max_doc_freq) and some are
    rare; kept/dropped counts and the reassembled text are checked
    against a Python reference of the documented segment/df semantics."""
    import random

    from remote_tsdb_clickhouse_spark.operators.dedup import line_dedup

    rng = random.Random(67)
    K = 8
    pool = [" ".join(f"b{i}t{j}" for j in range(K)) for i in range(30)]
    boiler = pool[:4]  # planted in many docs
    docs = {}
    for d in range(40):
        blocks = []
        if rng.random() < 0.7:
            blocks.append(rng.choice(boiler))
        blocks += rng.sample(pool[4:], rng.randint(1, 5))
        if rng.random() < 0.3:
            blocks.append(rng.choice(boiler))
        docs[d] = blocks
    rows = [(d, " ".join(bs)) for d, bs in docs.items()]

    df_count = {}
    for bs in docs.values():
        for s in set(bs):
            df_count[s] = df_count.get(s, 0) + 1

    out = line_dedup(
        spark.createDataFrame(rows, "doc_id LONG, text STRING"),
        seg_tokens=K, max_doc_freq=2,
    ).collect()
    assert len(out) == len(docs)
    for r in out:
        bs = docs[r.doc_id]
        kept = [s for s in bs if df_count[s] <= 2]
        assert (r.n_kept, r.n_dropped) == (len(kept), len(bs) - len(kept)), (
            r.doc_id, bs)
        assert r.clean_text == " ".join(kept), r.doc_id


def test_exact_dedup_normalization_identity_randomized(spark):
    """Seeded sweep of exact dedup: documents equal up to normalization
    (case, punctuation, whitespace runs) must share a content hash with
    keeper = min id; distinct token streams must not collide."""
    import random

    from remote_tsdb_clickhouse_spark.operators.dedup import exact_dedup

    rng = random.Random(71)
    vocab = [f"w{i}" for i in range(40)]
    rows, expect = [], {}
    did = 0
    for g in range(25):
        toks = [rng.choice(vocab) for _ in range(rng.randint(1, 12))]
        canon = " ".join(toks)
        n = rng.randint(1, 4)
        expect[canon] = (did, n)
        for _ in range(n):
            variant = "  ".join(
                t.upper() if rng.random() < 0.5 else t for t in toks
            )
            if rng.random() < 0.5:
                variant = variant.replace(" ", " , ", 1) + "!"
            rows.append((did, variant)); did += 1
    out = exact_dedup(spark.createDataFrame(rows, "doc_id LONG, text STRING")).collect()
    got = {}
    for r in out:
        got[r.content_hash] = (r.keeper_id, r.n_copies)
    assert len(got) == len(expect)  # no collisions across distinct streams
    assert sorted(got.values()) == sorted(expect.values())


def test_simhash_bruteforce_randomized(spark):
    """Seeded sweep of the SimHash path vs a Python re-implementation of
    the identical md5-based fingerprint: ``simhash_values`` must match
    bit-for-bit (same tokenizer, same per-bit vote-with-tie-sets-one),
    and ``simhash_pairs``'s 4-byte-block candidate generation must emit
    EXACTLY the all-pairs Hamming<=3 set — complete by pigeonhole, with
    the first-matching-block filter leaving one row per pair."""
    import hashlib
    import random
    import re

    from remote_tsdb_clickhouse_spark.operators.dedup import (
        simhash_pairs,
        simhash_values,
    )

    def py_simhash(text):
        cleaned = re.sub(r"[^a-zA-Z0-9 ]", " ", text).lower()
        toks = [t for t in re.split(r"\s+", cleaned) if t]
        if not toks:
            return None
        votes = [0] * 32
        for tok in toks:
            h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
            for j in range(32):
                votes[j] += 1 if (h >> j) & 1 else -1
        return sum(1 << j for j in range(32) if votes[j] >= 0)

    rng = random.Random(71)
    vocab = [f"w{i}" for i in range(12)]  # tiny vocab -> near-dups happen
    rows = []
    for i in range(36):
        base = " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 10)))
        rows.append((2 * i, base))
        # a 0/1-token mutation plus case/punctuation noise the normalizing
        # tokenizer must strip identically in both engines
        w = base.split()
        if rng.random() < 0.6:
            w[rng.randrange(len(w))] = rng.choice(vocab)
        noisy = " ".join(x.upper() if rng.random() < 0.3 else x for x in w)
        rows.append((2 * i + 1, noisy + ("!" if rng.random() < 0.5 else "")))
    rows.append((999, "!!! ..."))  # zero tokens -> no fingerprint row
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    want_vals = {i: py_simhash(t) for i, t in rows}
    want_vals = {i: v for i, v in want_vals.items() if v is not None}
    got_vals = {r.doc_id: r.simhash for r in simhash_values(docs).collect()}
    assert got_vals == want_vals

    out = simhash_pairs(docs, max_hamming=3).collect()
    assert len(out) == len({(r.doc_a, r.doc_b) for r in out})  # one row/pair
    got = {(r.doc_a, r.doc_b): r.hamming for r in out}
    ids = sorted(want_vals)
    want = {}
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            d = bin(want_vals[a] ^ want_vals[b]).count("1")
            if d <= 3:
                want[(a, b)] = d
    assert got == want


def test_brute_force_topk_randomized_vs_reference(spark):
    """Seeded sweep of the exact cosine top-k vs a Python reference that
    replays the identical IEEE op order (sequential-fold dot on
    float32-rounded components), so cosines are bit-identical and the
    (cos desc, neighbor_id asc) rank order must match row-for-row.  A
    zero vector exercises the zero-norm -> cos 0 branch."""
    import math
    import random

    import numpy as np

    from remote_tsdb_clickhouse_spark.operators.similarity import brute_force_topk

    rng = random.Random(97)
    n, d, kk = 40, 8, 7
    rows = [(i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(n)]
    rows.append((n, [0.0] * d))  # zero-norm corpus vector
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    queries = emb.where(F.col("vec_id") < 5)

    out = brute_force_topk(emb, queries, k=kk).collect()

    f32 = {i: [float(np.float32(x)) for x in v] for i, v in rows}

    def pdot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    nrm = {i: math.sqrt(pdot(v, v)) for i, v in f32.items()}
    want = {}
    for q in range(5):
        scored = []
        for i, v in f32.items():
            if i == q:
                continue
            c = pdot(f32[q], v) / (nrm[q] * nrm[i]) if nrm[q] > 0 and nrm[i] > 0 else 0.0
            scored.append((-c, i))
        scored.sort()
        want[q] = [(i, -negc, r + 1) for r, (negc, i) in enumerate(scored[:kk])]
    got = {}
    for r in out:
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.cos, r.rank))
    for q in got:
        got[q].sort(key=lambda t: t[2])
    assert set(got) == set(want)
    for q in want:
        assert [(i, r) for i, _, r in got[q]] == [(i, r) for i, _, r in want[q]], q
        for (_, gc, _), (_, wc, _) in zip(got[q], want[q]):
            # Spark rounds HALF_UP to 4 decimals; compare against the
            # unrounded reference with the rounding slack
            assert abs(gc - wc) <= 5.1e-5, (q, gc, wc)


def test_pq_adc_topk_randomized_vs_reference(spark):
    """Seeded ADC sweep: pq_adc_topk's per-Arrow-batch partial top-k +
    final window vs a global (unbatched) Python all-pairs reference built
    from the SAME deterministic codebook and the separately-exactness-
    tested pq_codes output.  Codes map to table positions through an
    id->position dict (independent of the operator's searchsorted), the
    id space is sparse, and planted duplicate vectors force equal-ADC
    ties through the (adc, neighbor_id) tie-break."""
    import random

    import numpy as np

    from remote_tsdb_clickhouse_spark.operators.similarity import (
        PQ_SCALE,
        _pq_centroids,
        pq_adc_topk,
        pq_codes,
    )

    rng = random.Random(131)
    d, m, k, n_q, topk = 8, 4, 16, 6, 5
    rows = [(i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(n_q)]
    vid = n_q
    for _ in range(40):
        v = [rng.uniform(-1, 1) for _ in range(d)]
        rows.append((vid, v))
        if rng.random() < 0.3:  # exact duplicate -> equal ADC distances
            vid += 1 + rng.randrange(3)
            rows.append((vid, list(v)))
        vid += 1 + rng.randrange(2)  # sparse, non-contiguous ids
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")

    out = pq_adc_topk(emb, n_queries=n_q, topk=topk, m=m, k=k).collect()

    cent_ids, cent_mat = _pq_centroids(emb, k, "vec_id", "embedding")
    sub = d // m
    cent_sub = cent_mat.reshape(len(cent_ids), m, sub)
    pos = {int(c): i for i, c in enumerate(cent_ids)}
    codes_rows = pq_codes(emb, m=m, k=k).collect()
    f32 = {
        i: np.asarray([float(np.float32(x)) for x in v], dtype=np.float64)
        for i, v in rows
    }
    want = {}
    for qid in range(n_q):
        qv = np.floor(f32[qid] * PQ_SCALE).astype(np.int64).reshape(m, sub)
        table = [
            [int(((qv[s] - cent_sub[c, s]) ** 2).sum()) for c in range(len(cent_ids))]
            for s in range(m)
        ]
        scored = []
        for r in codes_rows:
            if r.vec_id == qid:
                continue
            a = sum(table[s][pos[r[f"code{s}"]]] for s in range(m))
            scored.append((a, r.vec_id))
        scored.sort()
        want[qid] = [(nid, a, rk + 1) for rk, (a, nid) in enumerate(scored[:topk])]
    got = {}
    for r in out:
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.adc, r.rk))
    for q in got:
        got[q].sort(key=lambda t: t[2])
    assert got == want


def test_ivf_probe_all_equals_bruteforce_randomized(spark):
    """Seeded IVF completeness sweep: with ``nprobe == n_centroids`` every
    query scores every inverted list, so the result must equal the exact
    brute-force top-k row-for-row — for ANY coarse quantizer.  Checked
    with both the deterministic smallest-id centroids and a k-means
    trained quantizer, over a sparse id space."""
    import random

    from remote_tsdb_clickhouse_spark.operators.similarity import (
        brute_force_topk,
        ivf_train_centroids,
        ivf_topk,
    )

    rng = random.Random(173)
    d, nc, kk = 8, 6, 5
    rows, vid = [], 0
    for _ in range(45):
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(d)]))
        vid += 1 + rng.randrange(3)  # sparse, non-contiguous ids
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    queries = emb.limit(4)

    def as_map(res):
        out = {}
        for r in res:
            out.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cos))
        for q in out:
            out[q].sort()
        return out

    want = as_map(brute_force_topk(emb, queries, k=kk).collect())
    got = as_map(
        ivf_topk(emb, queries, k=kk, n_centroids=nc, nprobe=nc).collect()
    )
    assert got == want
    trained = ivf_train_centroids(emb, n_centroids=nc, n_iters=2)
    got_tr = as_map(
        ivf_topk(
            emb, queries, k=kk, n_centroids=nc, nprobe=nc, centroids=trained
        ).collect()
    )
    assert got_tr == want


def test_cosine_pairs_randomized_vs_reference(spark):
    """Seeded sweep of the block-GEMM cosine_pairs vs an all-pairs numpy
    reference built with the identical normalize-then-GEMM arithmetic:
    the (a < b, cos >= threshold) pair set must match exactly, with
    planted exact duplicates (cos 1.0), a zero vector (scores 0 with
    everything -> excluded at a positive threshold), and sparse ids."""
    import random

    import numpy as np

    from remote_tsdb_clickhouse_spark.operators.similarity import cosine_pairs

    rng = random.Random(211)
    d, thr = 16, 0.45
    rows, vid = [], 0
    for i in range(70):
        v = [rng.uniform(-1, 1) for _ in range(d)]
        rows.append((vid, v))
        if rng.random() < 0.15:  # exact duplicate -> cos 1.0 pair
            vid += 1 + rng.randrange(3)
            rows.append((vid, list(v)))
        vid += 1 + rng.randrange(2)
    rows.append((vid + 1, [0.0] * d))  # zero-norm vector
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")

    out = cosine_pairs(emb, threshold=thr).collect()
    got = {(r.id_a, r.id_b): r.cos for r in out}
    assert len(got) == len(out)  # no duplicate pairs emitted

    ids = np.array([i for i, _ in rows], dtype=np.int64)
    mat = np.array(
        [[float(np.float32(x)) for x in v] for _, v in rows], dtype=np.float64
    )
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    unit = mat / norms[:, None]
    sims = unit @ unit.T
    want = {}
    for a in range(len(ids)):
        for b in range(len(ids)):
            if ids[b] > ids[a] and sims[a, b] >= thr:
                want[(int(ids[a]), int(ids[b]))] = sims[a, b]
    assert set(got) == set(want)
    for key, wc in want.items():
        assert abs(got[key] - wc) <= 5.1e-5, (key, got[key], wc)
    dup_pairs = [key for key, wc in want.items() if wc >= 0.999999]
    assert dup_pairs  # the planted duplicates actually exercised cos=1.0
    for key in dup_pairs:
        assert got[key] == 1.0


def test_quantize_int8_histogram_randomized_vs_reference(spark):
    """Seeded sweep of the SQ8 code histogram vs a pure-Python dict
    reference of the same exact int64 micro-unit arithmetic: per-dim
    min/max, code assignment, and counts must match exactly.  One
    dimension is constant (mx == mn -> every code 0) and one spans a
    huge range to exercise the scaling."""
    import random

    import numpy as np

    from remote_tsdb_clickhouse_spark.operators.similarity import (
        quantize_int8_histogram,
    )

    rng = random.Random(229)
    d, n, codes = 6, 80, 16
    rows = []
    for i in range(n):
        v = [rng.uniform(-1, 1) for _ in range(d)]
        v[2] = 0.25  # constant dimension -> mn == mx
        v[3] = rng.uniform(-1000.0, 1000.0)  # wide-range dimension
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")

    out = quantize_int8_histogram(emb, codes=codes).collect()

    import math

    comp = {}  # dim -> list of micro ints
    for _, v in rows:
        for dim, x in enumerate(v):
            comp.setdefault(dim, []).append(
                math.floor(float(np.float32(x)) * 1000000.0)
            )
    want = {}
    for dim, vals in comp.items():
        mn, mx = min(vals), max(vals)
        hist = {}
        for vi in vals:
            q = ((vi - mn) * codes) // (mx - mn + 1)
            hist[q] = hist.get(q, 0) + 1
        for q, cnt in hist.items():
            want[(dim, q)] = (cnt, mn, mx)
    got = {(r.dim, r.qcode): (r.n, r.mn_micro, r.mx_micro) for r in out}
    assert got == want
    assert all(q == 0 for (dim, q) in got if dim == 2)  # constant dim


def test_pq_adc_topk_cross_batch_tie_break(spark):
    """Deterministic (adc, neighbor_id) tie-break ACROSS Arrow batches.

    Each mapInPandas batch already emits its partial top-k in
    (adc, neighbor_id) lexsort order, so in a single-batch layout a
    stable final sort on adc alone accidentally reproduces the tie-break
    and the randomized sweep cannot see it dropped (the r13 mutation
    screen's M30 survived exactly this way).  Here two IDENTICAL vectors
    — equal PQ codes, hence exactly equal integer ADC distances — are
    planted in SEPARATE input partitions with the higher id in the
    earlier partition, so only the final window's explicit neighbor_id
    ordering can put them in id order; the real code must rank
    (10 before 20) at both topk=1 (membership) and topk=2 (rank order),
    regardless of batch arrival."""
    from remote_tsdb_clickhouse_spark.operators.similarity import pq_adc_topk

    d = 8
    q = [0.5] * d
    dup = [-0.25] * d
    filler = [0.9] * d
    # partition 0: query + the HIGHER-id duplicate; partition 1: the
    # lower-id duplicate + filler.  parallelize with explicit slices pins
    # the layout (a union of two coalesced LocalRelations gets fused back
    # into one by the optimizer), so the duplicates reach pq_adc_topk in
    # different Arrow batches.
    rdd = spark.sparkContext.parallelize(
        [(0, q), (20, dup), (10, dup), (30, filler)], 2
    )
    emb = spark.createDataFrame(rdd, "vec_id LONG, embedding ARRAY<FLOAT>")
    assert emb.rdd.getNumPartitions() == 2

    got1 = pq_adc_topk(emb, n_queries=1, topk=1, m=4, k=4).collect()
    assert [(r.query_id, r.neighbor_id, r.rk) for r in got1] == [(0, 10, 1)]

    got2 = pq_adc_topk(emb, n_queries=1, topk=2, m=4, k=4).collect()
    ranked = sorted(((r.rk, r.neighbor_id, r.adc) for r in got2))
    assert [(rk, nid) for rk, nid, _ in ranked] == [(1, 10), (2, 20)]
    assert ranked[0][2] == ranked[1][2]  # genuinely tied ADC distances


def test_simhash_pigeonhole_adversarial_bit_placement(spark):
    """Completeness of the 4-block pigeonhole at its worst case: pairs
    whose 3 differing bits land in three DISTINCT blocks, leaving exactly
    one specific block clean — one planted pair per clean-block position.
    The randomized sweep never produced the clean-block-3 placement, so
    dropping a block from candidate generation survived it (r13 mutation
    screen M41).  Single-token documents make the fingerprint equal the
    token's 32-bit md5 hash, so the placements are pinned by searched
    token pairs; the expected set is recomputed from the same reference
    fingerprints rather than assumed."""
    import hashlib

    from remote_tsdb_clickhouse_spark.operators.dedup import simhash_pairs

    # searched offline over md5("t{i}"): xor has popcount 3, one bit in
    # each block except the named clean one
    planted = {
        3: ("t5208", "t8409"),
        2: ("t1544", "t6338"),
        1: ("t637", "t1998"),
        0: ("t118", "t4651"),
    }

    def h32(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)

    toks = [t for pair in planted.values() for t in pair]
    for clean, (a, b) in planted.items():
        x = h32(a) ^ h32(b)
        assert bin(x).count("1") == 3
        per_block = [(x >> (8 * k)) & 0xFF for k in range(4)]
        assert per_block[clean] == 0
        assert all(bin(pb).count("1") == 1 for k, pb in enumerate(per_block) if k != clean)

    rows = list(enumerate(toks))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(docs, max_hamming=3).collect()}
    want = {}
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            d = bin(h32(toks[i]) ^ h32(toks[j])).count("1")
            if d <= 3:
                want[(i, j)] = d
    assert got == want
    idx = {t: i for i, t in enumerate(toks)}
    for a, b in planted.values():
        pair = tuple(sorted((idx[a], idx[b])))
        assert want[pair] == 3  # every planted placement is in the oracle set


def test_bloom_near_miss_and_true_false_positive(spark):
    """The membership rule is ALL k distinct bits set — a near-miss doc
    with exactly k-1 of its bits in the filter must be rejected.  Every
    existing bloom test asserts no-false-negatives only, so a mutant
    accepting k-1 hits survived the suite (r13 mutation screen M52).
    Both planted docs were searched offline against this exact corpus
    through the md5 position function the oracle replicates: one hits
    3 of its 4 distinct positions (reject), one hits all 4 without being
    a member (accept — the documented false-positive semantics)."""
    from remote_tsdb_clickhouse_spark.operators.dedup import bloom_membership

    ref = spark.createDataFrame(
        [(i, f"reference document number {i} content") for i in range(30)],
        "doc_id LONG, text STRING",
    )
    new = spark.createDataFrame(
        [(100, "candidate probe text 8577"), (101, "fp probe 302966")],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in bloom_membership(new, ref, k=4, m=4096).collect()}
    near, fp = out[100], out[101]
    assert (near.n_bits, near.n_hit, near.maybe_member) == (4, 3, False)
    assert (fp.n_bits, fp.n_hit, fp.maybe_member) == (4, 4, True)


def test_minhash_lsh_pairs_canonical_and_no_self_pairs(spark):
    """Mutation screen M58 (survived batch 10 unmutated: the randomized
    sweep's exact-Jaccard check accepts a self-pair, whose Jaccard is
    trivially 1.0).  Pin the output contract directly: every emitted row
    is a canonical doc_a < doc_b pair, and a corpus of pairwise-disjoint
    documents emits NO rows at all — a candidate filter weakened to <=
    would emit one jaccard-1.0 self-row per document here."""
    from remote_tsdb_clickhouse_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = minhash_lsh_pairs(docs, threshold=0.8).collect()
    assert got == [], sorted((r.doc_a, r.doc_b) for r in got)


def test_opq_interleave_is_the_documented_stride_permutation(spark):
    """Mutation screen M70 (survived batch 12 unmutated: interleave_permute
    had no unit test — only the recall diagnostic consumed it, and any
    permutation yields SOME recall).  Pin the exact stride formula
    perm[i] = (i % (d/m)) * m + i // (d/m) on an identity-valued vector
    (component i holds value i, so the output READS the permutation), and
    assert it is a genuine non-identity permutation of the 64 dims."""
    from remote_tsdb_clickhouse_spark.operators.similarity import interleave_permute

    d, m = 64, 4
    sub = d // m
    df = spark.createDataFrame(
        [(0, [float(i) for i in range(d)])], "vec_id long, embedding array<float>"
    )
    got = interleave_permute(df, m=m).collect()[0].embedding
    want = [float((i % sub) * m + i // sub) for i in range(d)]
    assert got == want
    assert sorted(got) == [float(i) for i in range(d)]  # a permutation
    assert got != [float(i) for i in range(d)]          # not the identity


def test_prebuilt_serving_frames_match_default_paths(spark):
    """r21 serving-frame sharing (guide §2.4): passing a prebuilt
    ``ivf_lists`` / ``lsh_corpus`` / normed-corpus frame must return rows
    IDENTICAL to the self-building path — the parameter only relocates
    where the index side materializes, never what it contains.  Also pins
    the ``lists= without cent_rows=`` misuse to a loud error (a silently
    re-derived quantizer would serve different lists than probed)."""
    import pytest

    from remote_tsdb_clickhouse_spark.operators import similarity
    from remote_tsdb_clickhouse_spark.operators.similarity import _with_norm

    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    qs = emb.where("vec_id < 3")

    def key(df):
        return sorted(map(tuple, df.collect()))

    cent_rows = similarity.coarse_cent_rows(emb, n_centroids=4)
    lists = similarity.ivf_lists(emb, n_centroids=4, cent_rows=cent_rows)
    base = similarity.ivf_topk(emb, qs, k=3, n_centroids=4, nprobe=2, cent_rows=cent_rows)
    via = similarity.ivf_topk(
        emb, qs, k=3, n_centroids=4, nprobe=2, cent_rows=cent_rows, lists=lists
    )
    assert key(base) == key(via)
    assert key(similarity.ivf_assignments(emb, n_centroids=4, cent_rows=cent_rows)) == key(
        similarity.ivf_assignments(emb, n_centroids=4, cent_rows=cent_rows, lists=lists)
    )

    corpus4 = similarity.lsh_corpus(emb, n_bits=3)
    assert key(similarity.bucketed_topk(emb, qs, k=3, n_bits=3, nprobe=2)) == key(
        similarity.bucketed_topk(emb, qs, k=3, n_bits=3, nprobe=2, corpus=corpus4)
    )

    normed = _with_norm(emb, "vec_id", "embedding")
    assert key(similarity.brute_force_topk(emb, qs, k=3)) == key(
        similarity.brute_force_topk(emb, qs, k=3, corpus=normed)
    )

    with pytest.raises(ValueError, match="lists= requires cent_rows="):
        similarity.ivf_topk(emb, qs, k=3, n_centroids=4, lists=lists)
