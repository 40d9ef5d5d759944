"""Vector column expressions over ``array<float>`` embeddings.

Pure Catalyst higher-order functions (``zip_with`` + ``aggregate``): the dot
product and norms run JVM-side inside codegen, no Python round-trip.  For
very wide vectors (>4k dims) a Pandas-UDF/numpy path wins on SIMD; see
``operators/similarity.py`` for that variant.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.util import SESSION_CACHE


def as_double(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return c.cast("array<double>")


#: Array lengths for which :func:`dot` emits a statically-unrolled chain.
#: The corpus embeddings are 64-dim and the Matryoshka prefix is 16-dim;
#: any other length takes the general fold.  Guarded by a runtime
#: ``size(a)`` check, so the specialization is transparent to callers.
_UNROLL_DIMS = (16, 64)


def _unrolled_dot(a: Column, b: Column, dim: int) -> Column:
    # same left-associative addition order from the same 0.0 seed as the
    # fold below, so every partial sum rounds identically (IEEE addition
    # is order-sensitive but this IS the fold's order) — bit-identity
    # verified against the fold on the corpus.  F.get (0-based) returns
    # NULL past the end even under ANSI, matching zip_with's padding.
    acc = F.lit(0.0)
    for i in range(dim):
        acc = acc + F.get(a, i) * F.get(b, i)
    return acc


def dot(a: Column, b: Column, *, unroll: bool = False) -> Column:
    """Sequential-fold dot product (matches the oracle's list_dot_product).

    ``unroll=True`` (r21): for the fixed dims in ``_UNROLL_DIMS`` emit a
    statically-unrolled left-associative sum instead — value-identical
    (same addition order from the same 0.0 seed; pinned bit-exact by
    tests) but whole-stage-codegen-able, where the ``zip_with +
    aggregate`` higher-order form is interpreted per element (HOFs are
    codegen-fallback expressions); measured 1.9x on the 64-dim scoring
    projection (guide §4.1: prefer codegen expressions).  Opt-in per
    call site because it only helps where codegen actually applies: for
    a ``dot`` nested INSIDE another higher-order lambda (the collected-
    centroid probe in similarity.py) every branch of the unrolled chain
    is evaluated interpreted, which measured ~8x SLOWER than the fold —
    top-level projections opt in, lambda bodies never do.
    """
    if not unroll:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    # Plan-construction memo (r21, guide §5 "the driver should do almost no
    # data work"): building the unrolled chain issues ~4 py4j round-trips
    # per term x 80 terms — measured 618 ms of pure DRIVER time per call
    # site per query build, the single largest cost of the sim family's
    # bench entries (build 1.1-3.6 s vs exec 1-2.7 s).  Column objects wrap
    # immutable unresolved expression trees, so an identical (a, b) pair
    # always yields the identical expression — key on the rendered
    # expression strings (two py4j calls) and reuse the built Column.
    # Expressions only, never data: resolution still happens per DataFrame.
    # NOTE unroll callers must keep passing top-level named/cast columns
    # (the documented contract above); lambda variables render positionally
    # and must not reach this cache.
    def build() -> Column:
        expr = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for d in _UNROLL_DIMS:
            expr = F.when(F.size(a) == d, _unrolled_dot(a, b, d)).otherwise(expr)
        return expr

    return SESSION_CACHE.get("vecfuncs", (str(a), str(b)), build)


def norm(a: Column, *, unroll: bool = False) -> Column:
    return F.sqrt(dot(a, a, unroll=unroll))


def cosine(a: Column, b: Column, *, unroll: bool = False) -> Column:
    """Cosine similarity; 0 when either vector has zero norm."""
    na, nb = norm(a, unroll=unroll), norm(b, unroll=unroll)
    return F.when(
        (na > 0) & (nb > 0), dot(a, b, unroll=unroll) / (na * nb)
    ).otherwise(F.lit(0.0))


def cosine_with_norms(
    a: Column, b: Column, na: Column, nb: Column, *, unroll: bool = False
) -> Column:
    """Cosine with pre-computed norms — avoids recomputing norms per pair
    in self-joins (O(n²) pairs but O(n) norm computations)."""
    return F.when(
        (na > 0) & (nb > 0), dot(a, b, unroll=unroll) / (na * nb)
    ).otherwise(F.lit(0.0))


def sign_bucket(vec: Column, n_bits: int) -> Column:
    """Hyperplane-free LSH bucket id: sign pattern of the first ``n_bits``
    dimensions packed into an integer.

    Deterministic (axis-aligned hyperplanes), identical in any engine —
    unlike random-hyperplane LSH it needs no shared RNG state.  Vectors in
    the same bucket agree on the orthant of their leading dimensions, a
    standard quantization-bucket ANN scheme.
    """
    bits = F.transform(
        F.slice(vec, 1, n_bits),
        lambda x, i: F.when(x >= 0, F.pow(F.lit(2.0), i.cast("double")).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)
