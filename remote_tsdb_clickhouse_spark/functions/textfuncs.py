"""Text-analysis column expressions for training-data pipelines.

All functions are pure Catalyst expressions (JVM-side, whole-stage
codegen'd) — no Python UDFs in the hot path — so they scale to 100 TB
document corpora with zero serialization overhead.  Each has an exact ANSI
SQL twin used by the DuckDB oracles in ``queries/``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic.  Deliberately small: language ID at corpus scale is a
#: frequency heuristic, not a model.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "que", "pour", "dans"],
    "es": ["el", "los", "las", "y", "es", "una", "que", "por", "con", "para"],
}

#: BPE-ish pre-tokenizer: letter runs, single digits, or single punctuation
#: (GPT-2-style pre-tokenization shape, without the merges table).
BPE_ISH_PATTERN = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"


def tokens(text: Column | str) -> Column:
    """Normalized word tokens: lowercase, strip non-alphanumerics, split."""
    c = F.col(text) if isinstance(text, str) else text
    cleaned = F.lower(F.regexp_replace(c, "[^a-zA-Z0-9 ]", " "))
    return F.filter(F.split(cleaned, r"\s+"), lambda x: x != "")


def token_count_bpe_ish(text: Column | str) -> Column:
    """Count of BPE-ish pre-tokens (letters runs / digits / punct)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_ISH_PATTERN))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are punctuation/symbols."""
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(c, r"[a-zA-Z0-9\s]", "")
    return F.length(stripped) / F.greatest(F.length(c), F.lit(1))


def stopword_count(toks: Column, lang: str) -> Column:
    """Number of tokens present in the language's stopword list."""
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda x: x.isin(*words)))


def nonascii_ratio(text: Column | str) -> Column:
    """Fraction of non-ASCII characters (CJK detector)."""
    c = F.col(text) if isinstance(text, str) else text
    return (F.length(c) - F.length(F.regexp_replace(c, r"[^\x00-\x7F]", ""))) / F.greatest(
        F.length(c), F.lit(1)
    )


def langid_expr(text: Column | str) -> Column:
    """Deterministic language-ID heuristic.

    Non-ASCII-heavy text -> ``zh``; otherwise the language with the highest
    stopword hit count, ties broken in fixed order en > de > fr > es.  The
    DuckDB oracle mirrors the identical CASE cascade.
    """
    toks = tokens(text)
    en = stopword_count(toks, "en")
    de = stopword_count(toks, "de")
    fr = stopword_count(toks, "fr")
    es = stopword_count(toks, "es")
    return (
        F.when(nonascii_ratio(text) > 0.3, F.lit("zh"))
        .when((en >= de) & (en >= fr) & (en >= es), F.lit("en"))
        .when((de >= fr) & (de >= es), F.lit("de"))
        .when(fr >= es, F.lit("fr"))
        .otherwise(F.lit("es"))
    )


def langid_frame(df, text_col: str = "text", keep: tuple[str, ...] = ("doc_id",)):
    """DataFrame-level language ID: tokenize ONCE per row.

    ``langid_expr`` is correct but quadratic in practice: Catalyst's
    projection collapsing inlines the regexp-heavy ``tokens`` expression
    into every reference in the when-cascade (~10 evaluations/row measured).
    This version computes all four stopword counts in a single
    ``F.aggregate`` pass over one materialized token array (tokens appears
    exactly once in the plan), then puts an exchange between the counting
    and the cascade so the collapse cannot re-inline it.  Only the tiny
    (id, ratio, 4-int struct) rows cross the shuffle — not text or tokens —
    so the barrier stays cheap at corpus scale.
    """
    from remote_tsdb_clickhouse_spark.util import spread

    df = spread(df)  # small single-file inputs otherwise run one-core
    langs = list(STOPWORDS)
    cnt = F.aggregate(
        tokens(F.col(text_col)),
        F.struct(*[F.lit(0).alias(l) for l in langs]),
        lambda acc, x: F.struct(
            *[
                (acc[l] + F.when(x.isin(*STOPWORDS[l]), 1).otherwise(0)).alias(l)
                for l in langs
            ]
        ),
    )
    stage1 = df.select(
        *keep,
        nonascii_ratio(F.col(text_col)).alias("__na"),
        cnt.alias("__cnt"),
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    en, de, fr, es = (F.col(f"__cnt.{l}") for l in langs)
    cascade = (
        F.when(F.col("__na") > 0.3, F.lit("zh"))
        .when((en >= de) & (en >= fr) & (en >= es), F.lit("en"))
        .when((de >= fr) & (de >= es), F.lit("de"))
        .when(fr >= es, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return stage1.select(*keep, cascade.alias("pred_lang"))


def quality_score(n_tokens: Column, stopword_ratio: Column, punct: Column) -> Column:
    """Composite quality heuristic in [0, 1].

    0.5 * stopword_ratio (fluency proxy) + 0.3 * min(n_tokens/100, 1)
    (length prior) + 0.2 * (1 - punct_ratio) (noise penalty).
    """
    length_prior = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    return (
        F.lit(0.5) * stopword_ratio + F.lit(0.3) * length_prior + F.lit(0.2) * (1.0 - punct)
    )


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token array.

    Built as a ``zip_with`` chain over ``n`` shifted slices rather than
    ``transform(sequence(...), i -> slice(toks, i, n))``: with the latter,
    Catalyst's projection collapsing inlines the (regexp-heavy) token
    expression into every per-element ``slice`` call — O(tokens²) work per
    row (measured 20x slower).  The zip_with form references ``toks`` a
    constant number of times.  Empty array when the doc has < n tokens.
    """
    m = F.size(toks) - (n - 1)
    combined = F.slice(toks, 1, m)
    for i in range(1, n):
        combined = F.zip_with(
            combined, F.slice(toks, i + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.array_distinct(
        F.when(m >= 1, combined).otherwise(F.array().cast("array<string>"))
    )


def hash32(c: Column) -> Column:
    """Portable 32-bit unsigned hash: first 8 hex chars of md5, as BIGINT.

    Chosen over ``F.hash``/``xxhash64`` because md5 is bit-identical across
    Spark, DuckDB, and Python — the property the oracle comparisons and
    cross-engine reproducibility of MinHash/SimHash signatures depend on.
    """
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def md5_fingerprint(toks: Column) -> Column:
    """Content fingerprint: md5 over the normalized token stream."""
    return F.md5(F.concat_ws(" ", toks))


def min_shingle_fingerprint(toks: Column, n: int = 3) -> Column:
    """1-permutation MinHash fingerprint: min 32-bit hash over n-gram shingles.

    A winnowing-lite rolling fingerprint: documents sharing any low-hash
    shingle collide; -1 for docs too short to shingle.
    """
    shingles = word_shingles(toks, n)
    return F.coalesce(
        F.array_min(F.transform(shingles, hash32)),
        F.lit(-1).cast("long"),
    )
