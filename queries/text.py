"""Text, document and dataset pipeline operators (tokens, language ID,
quality, PII scrub, chunking, packing, splits and mixtures) with their
DuckDB oracles."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.functions import textfuncs as tx
from remote_tsdb_clickhouse_spark.operators import decontaminate, mixing, scrub

from ._common import Query, _H32, _SH_CTE, _TOKS_CTE, _docs, _dsum, _norm_docs, _tbl


def q_doc_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per (source, lang): doc count, exact mean length,
    min/max length — the pre-training-mix summary table."""
    d = _tbl(spark, sf_dir, "documents")
    return d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.col("n_chars")).cast("double") / F.count("*")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def q_text_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pipeline: quality-score -> keep only exact-dedup
    keepers -> per-language corpus stats.  One chained DataFrame plan: the
    dedup shuffle and the stats aggregation are the only exchanges."""
    d = _docs(spark, sf_dir)
    # tokenize once in a lower projection — the scoring expression
    # referenced tx.tokens(text) three times (stopword filter + two size()
    # uses), each embedding the full regexp tokenize chain, and HOF chains
    # are exempt from codegen subexpression elimination (lambda variables).
    # CollapseProject keeps the stages apart (non-cheap expr, many refs);
    # same arithmetic over the same array — bit-identical quality scores.
    toked = d.select("doc_id", "lang", "text", tx.tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    n_tokens = F.size(toks).cast("long")
    sw_ratio = tx.stopword_count(toks, "en") / F.greatest(n_tokens, F.lit(1))
    punct = tx.punct_ratio(F.col("text"))
    # the keeper filter is a min window over the SAME
    # tokenized projection, not a second exact_dedup pass joined back on
    # doc_id — that shape tokenized the corpus twice and shuffled both
    # sides of a corpus-wide join; the window reuses this projection's
    # content hash and needs one exchange (the dedup shuffle the docstring
    # promises).  Keeper semantics identical: doc_id == min(doc_id) per
    # content_hash IS exact_dedup's keeper_id (same md5-of-token-stream
    # key); interleaved A/B won every pair, rows identical.
    scored = toked.select(
        "doc_id", "lang",
        tx.quality_score(n_tokens, sw_ratio, punct).alias("quality"),
        F.md5(F.concat_ws(" ", toks)).alias("content_hash"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("content_hash")
    return (
        scored.withColumn("is_keeper", F.col("doc_id") == F.min("doc_id").over(w))
        .where(F.col("is_keeper") & (F.col("quality") >= 0.5))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            (_dsum(F.col("quality")) / F.count("*")).alias("avg_quality"),
        )
    )


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (80/10/10) — the
    reproducible, engine-independent alternative to ``df.sample``: membership
    is a pure function of the id, so re-runs, backfills, and other engines
    agree row-for-row."""
    d = _docs(spark, sf_dir)
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 100
    split = (
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


def q_dataset_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding for training: shard = content-
    independent md5 hash of the id, position = rank of a second salted hash
    within the shard.  The 100 TB shape of "shuffle the corpus": hash-
    partition once, sort only WITHIN each shard (per-partition sort, no
    global ordering stage) — re-runs and other engines agree row-for-row,
    unlike ``df.orderBy(rand())``.  The shard count is the parallelism
    knob: each shard ranks on one reducer, so production sizes it to
    corpus_bytes / target_shard_bytes (thousands at 100 TB); 8 here keeps
    the oracle output small."""
    from pyspark.sql import Window

    # no spread(): the per-row work is two md5s of the id — the window's
    # own hash exchange on `shard` is the one shuffle this query needs,
    # and a pre-repartition would just add a second
    d = _tbl(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    h2 = F.conv(
        F.substring(F.md5(F.concat(F.lit("pos:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("shard").orderBy("h2", "doc_id")
    return (
        d.select("doc_id", (h % 8).alias("shard"), h2.alias("h2"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-style vocabulary induction: corpus-wide top-100 terms by
    frequency (count desc, term asc).  The global cut uses orderBy+limit —
    Catalyst's TakeOrderedAndProject, a per-partition heap merged on one
    node, NOT a global sort — then ranks the bounded result."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    counts = (
        d.select(F.explode(tx.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(100)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("term"))
    return counts.withColumn("rnk", F.row_number().over(w).cast("long"))


def q_dataset_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source interleave for training order: documents rank
    within their source by a salted id-hash, and the global training
    position is ``rank * n_sources + source_index`` — round-robin across
    the 20 sources, so a training run never sees a long single-source
    streak (the data-ordering twin of dataset_mixture_sample's selection).
    One rank window partitioned by source (linear, shard-parallel); the
    global position is arithmetic, NOT a global sort.  Source index comes
    from a dense_rank over the (bounded) source list."""
    from pyspark.sql import Window

    d = _tbl(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("ord:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    srcs = d.select("source").distinct()
    n_src = srcs.count()  # bounded by the source catalog, metadata-sized
    w_src = Window.orderBy("source")
    idx = srcs.select("source", (F.dense_rank().over(w_src) - 1).alias("src_idx"))
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    ranked = d.select("doc_id", "source", h.alias("h")).withColumn(
        "rnk", F.row_number().over(w) - 1
    )
    return (
        ranked.join(F.broadcast(idx), "source")
        .select(
            "doc_id",
            "source",
            (F.col("rnk") * n_src + F.col("src_idx")).cast("long").alias("position"),
        )
    )


def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality proxy: a corpus bigram language model scored
    back over each document — the perplexity-filter shape (docs whose
    bigrams are corpus-typical score high; gibberish scores low) without
    an external KenLM.  The per-bigram corpus count is a count-window over
    the exploded bigrams (same key the tf-idf rewrite windows on — one
    shuffle, no LM join-back); per-bigram log-probs quantize to micro-units
    BEFORE the per-doc aggregation so the sum is exact int64 (a float avg
    would be summation-order-dependent across engines), and the mean is
    integer floor division.  Docs with <2 tokens carry no bigrams and are
    excluded on both sides."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    toks = tx.tokens(F.col("text"))
    sz = F.size("toks")
    bgs = F.zip_with(
        F.slice("toks", 1, sz - 1),
        F.slice("toks", 2, sz - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    staged = d.select("doc_id", toks.alias("toks")).where(sz >= 2)
    # the tf-idf pattern: the LM table + scoring join
    # re-shuffled the exploded bigrams onto `bg` TWICE (once to build the
    # vocab aggregate, once to join it back) and needed a persisted cache
    # plus an eager scalar job over the explode.  The per-bigram count is
    # a count-window over the SAME `bg` key (one shuffle, no join, no
    # cache), and the scalar total needs no explode at all: each doc
    # contributes exactly size(toks)-1 bigrams, so t = sum(sz-1) over the
    # staged tokenized projection.  That scalar was
    # an EAGER first() at plan-build time — one extra blocking full scan
    # before the real job at 100 TB; attach the 1-row aggregate with a
    # broadcast cross-join instead, so the whole query is one lazy plan.
    # int64 -> double cast matches float(t) bit-for-bit (same IEEE
    # round-to-nearest), so lp and every downstream sum are unchanged.
    total = staged.agg(F.sum(sz - 1).alias("_t"))
    ex = staged.select("doc_id", F.explode(bgs).alias("bg")).crossJoin(
        F.broadcast(total)
    )
    c = F.count("*").over(Window.partitionBy("bg"))
    lp = F.floor(
        F.log(c.cast("double") / F.col("_t").cast("double")) * 1000000.0
    ).cast("long")
    return (
        ex.select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("lp").alias("sum_lp_micro"))
        .select(
            "doc_id",
            "n_bigrams",
            "sum_lp_micro",
            F.floor(F.col("sum_lp_micro").cast("double") / F.col("n_bigrams"))
            .cast("long")
            .alias("lm_score_micro"),
        )
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.langid_frame(_docs(spark, sf_dir))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenize once in a lower projection — building all four outputs
    # straight off tx.tokens(text) embedded the regexp tokenize chain ~7
    # times in one Project (size/stopword refs across ratio + score), and
    # HOF chains are exempt from codegen subexpression elimination.
    # CollapseProject keeps the stages apart (non-cheap expr, many refs);
    # same expressions over the same array — bit-identical output.
    d = _docs(spark, sf_dir)
    # punct_ratio staged too: it is referenced twice (output + score) and
    # its strip-regex would otherwise run twice per row
    toked = d.select(
        "doc_id",
        tx.tokens(F.col("text")).alias("toks"),
        tx.punct_ratio(F.col("text")).alias("punct"),
    )
    toks = F.col("toks")
    n_tokens = F.size(toks).cast("long")
    sw_ratio = tx.stopword_count(toks, "en") / F.greatest(n_tokens, F.lit(1))
    punct = F.col("punct")
    return toked.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        sw_ratio.alias("stopword_ratio"),
        punct.alias("punct_ratio"),
        tx.quality_score(n_tokens, sw_ratio, punct).alias("quality"),
    )


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(tx.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        tx.token_count_bpe_ish(F.col("text")).cast("long").alias("n_bpe"),
        F.length("text").cast("long").alias("n_chars_raw"),
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints over one shared token array.

    Building both fingerprints straight
    off ``tx.tokens(text)`` embedded the regexp+split+filter tokenize
    chain NINE times in one Project (md5 once, the shingle zip_with's
    size/slice references the rest) — and HOF chains carry lambda
    variables, which Spark's codegen subexpression elimination skips, so
    all nine evaluated per row.  Tokenize in a lower projection instead:
    ``toks`` is a non-cheap expression referenced many times, so
    CollapseProject keeps the two Projects separate (SPARK-36718) and the
    chain runs once per row.  Same expressions over the same array —
    bit-identical output; still projection-only (no exchange, no Python).
    """
    d = _docs(spark, sf_dir)
    toked = d.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    return toked.select(
        "doc_id",
        tx.md5_fingerprint(F.col("toks")).alias("fp_md5"),
        tx.min_shingle_fingerprint(F.col("toks"), 3).alias("fp_shingle"),
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-ratio quality signal: fraction of duplicate word-3-grams
    per document (1 - distinct/total) — the standard boilerplate/spam
    detector in LLM data cleaning (high ratio = templated or degenerate
    text).  Pure Catalyst: token + shingle HOFs, no shuffle at all (the
    ratio is per-row); int/int division is bit-exact cross-engine."""
    # normalized_docs materializes toks behind an exchange before the
    # shingle HOF (the projection-collapse trap measured in textfuncs) and
    # is the dedup family's memoized base frame, so its materialization
    # AND analyzed plan are shared when both run in one session
    base = _norm_docs(spark, sf_dir)
    n_total = F.greatest(F.size("toks") - F.lit(2), F.lit(0)).cast("long")
    n_distinct = F.size("shingles").cast("long")
    rep = F.when(
        n_total > 0, F.lit(1.0) - n_distinct.cast("double") / n_total.cast("double")
    ).otherwise(F.lit(0.0))
    return base.select(
        "doc_id",
        n_total.alias("n_shingles"),
        n_distinct.alias("n_distinct"),
        rep.alias("rep_ratio"),
    )


def q_dataset_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: a reproducible 10% per-language
    sample via the same md5 membership hash as ``dataset_split`` —
    ``df.sample`` is partitioning-dependent, this is a pure function of the
    id.  One conditional aggregate per stratum (no second scan)."""
    d = _docs(spark, sf_dir)
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 100
    return (
        d.select("lang", h.alias("hv"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("hv") < 10, 1).otherwise(0)).cast("long").alias("n_sampled"),
        )
    )


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 §B / PaLM §7 hygiene pass): docs
    sharing any verbatim word 13-gram with the held-out benchmark split
    (every 50th doc) are flagged with their overlap counts.  Linear
    shingle-hash equi-join; the benchmark side auto-broadcasts when small
    (operators/decontaminate.py)."""
    d = _docs(spark, sf_dir)
    bench = d.where(F.col("doc_id") % 50 == 0)
    train = d.where(F.col("doc_id") % 50 != 0)
    return decontaminate.ngram_contamination(train, bench, n=13)


def q_dataset_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialization step after dedup: keep one doc per exact-content
    group (min doc_id keeper), report per-language kept/dropped counts and
    the surviving char volume — the pipeline stage that actually shrinks
    the corpus.  Keeper selection is a min window over the content md5
    (a groupBy-keeper + equi-join + second per-lang branch evaluated the
    tokenize+md5 subtree THREE times and joined twice; the window needs the same content-hash shuffle the
    keeper agg needed, and one conditional aggregation emits every output
    column in a single pass — same-boot A/B ×4: 0.823 → 0.522 s min,
    rows identical).  At scale the window's hash partitions equal the old
    groupBy's; no broadcast assumption anywhere."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    keyed = d.select(
        "doc_id", "lang", F.length("text").alias("n_chars"),
        F.md5(F.concat_ws(" ", tx.tokens(F.col("text")))).alias("content_hash"),
    )
    w = Window.partitionBy("content_hash")
    base = keyed.withColumn("is_keeper", F.col("doc_id") == F.min("doc_id").over(w))
    return (
        base.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("is_keeper").cast("long")).alias("n_kept"),
            (F.count("*") - F.sum(F.col("is_keeper").cast("long"))).alias("n_dropped"),
            F.sum(F.when(F.col("is_keeper"), F.col("n_chars"))).alias("kept_chars"),
        )
        .select("lang", "n_docs", "n_kept", "n_dropped", "kept_chars")
    )


def q_dataset_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution: power-of-2 token-count buckets per
    language — the standard pre-training diagnostic for picking context
    length and packing strategy.  The bucket edge is an integer CASE
    ladder (no log2: floating transcendentals differ across engines);
    all-integer group keys aggregate map-side."""
    d = _docs(spark, sf_dir)
    n_tok = F.size(tx.tokens(F.col("text"))).cast("long")
    bucket = F.when(n_tok < 16, F.lit(16))
    for edge in (32, 64, 128, 256, 512):
        bucket = bucket.when(n_tok < edge, F.lit(edge))
    bucket = bucket.otherwise(F.lit(1024)).cast("long")
    return (
        d.select("lang", n_tok.alias("n_tokens"), bucket.alias("len_bucket"))
        .groupBy("lang", "len_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (operators/scrub.py): per-document match
    counts and the redacted-length delta, for documents containing any PII.

    The corpus is synthetic word-salad with no natural PII, so the query
    first injects deterministic spans derived from ``doc_id`` (email for
    id%7, IPv4 for id%11, phone for id%13 — same arithmetic on the oracle
    side): the regex machinery is exercised on real matches rather than
    vacuously counting zeros.  Scan + scrub is a pure projection (no
    shuffle, no UDF)."""
    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    email = F.when(
        did % 7 == 0,
        F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
    ).otherwise(F.lit(""))
    ip = F.when(
        did % 11 == 0,
        F.concat(F.lit(" from 10."), (did % 256).cast("string"), F.lit(".0.1")),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 13 == 0,
        F.concat(F.lit(" call 555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
    ).otherwise(F.lit(""))
    seeded = d.select(
        "doc_id", "lang", F.concat(F.col("text"), email, ip, phone).alias("text")
    )
    s = scrub.pii_scan(seeded)
    return s.where((F.col("n_emails") + F.col("n_ipv4") + F.col("n_phones")) > 0).select(
        "doc_id",
        "lang",
        "n_emails",
        "n_ipv4",
        "n_phones",
        (F.length("text") - F.length("redacted")).cast("long").alias("len_delta"),
    )


def q_doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators/scrub.py): every document split
    into 32-token windows with 8-token overlap — one row per chunk with
    offsets.  Generator-only plan: no shuffle, chunk count closed-form."""
    return scrub.chunk_token_windows(
        _docs(spark, sf_dir), window=32, overlap=8
    )


def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style quality gate: every document classified against four
    integer/exact-arithmetic rules — too short (<20 tokens), too long
    (>512), repetitive (3-gram repetition ratio > 0.2), degenerate word
    shape (mean token length outside [3, 10]) — reported as a per-language
    fail-bitmask histogram (mask 0 = kept).  The pipeline stage that
    decides what survives into training.

    Same tokenize barrier as the dedup family (toks materialized behind a
    pinned repartition before the shingle HOF, see
    ``dedup.normalized_docs``); all rule arithmetic is integer or
    single-division double (bit-identical cross-engine), so the mask is
    hash-exact.  One map-side-combined aggregation on ten-ish keys."""
    d = _docs(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    base = (
        d.select("doc_id", "lang", tx.tokens(F.col("text")).alias("toks"))
        .repartition(par, "doc_id")
        .withColumn("shingles", tx.word_shingles(F.col("toks"), 3))
    )
    n_tok = F.size("toks").cast("long")
    n_total = F.greatest(n_tok - F.lit(2), F.lit(0)).cast("long")
    n_distinct = F.size("shingles").cast("long")
    rep = F.when(
        n_total > 0, F.lit(1.0) - n_distinct.cast("double") / n_total.cast("double")
    ).otherwise(F.lit(0.0))
    sum_len = F.aggregate(
        "toks", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    mean_len = sum_len.cast("double") / n_tok.cast("double")
    mask = (
        F.when(n_tok < 20, F.lit(1)).otherwise(F.lit(0))
        + F.when(n_tok > 512, F.lit(2)).otherwise(F.lit(0))
        + F.when(rep > 0.2, F.lit(4)).otherwise(F.lit(0))
        + F.when(
            (n_tok > 0) & ((mean_len < 3.0) | (mean_len > 10.0)), F.lit(8)
        ).otherwise(F.lit(0))
    ).cast("long")
    return (
        base.select("lang", n_tok.alias("n_tok"), mask.alias("fail_mask"))
        .groupBy("lang", "fail_mask")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("sum_tokens"))
    )


def q_doc_chunk_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking with content materialization: the ``with_text`` variant of
    ``chunk_token_windows`` emits each window's token slice as
    ``chunk_text`` — the frame a tokenizer or embedding indexer consumes.
    Only multi-chunk documents are returned (the interesting overlap
    cases; singleton chunks are the whole doc)."""
    out = scrub.chunk_token_windows(
        _docs(spark, sf_dir), window=32, overlap=8, with_text=True
    )
    return out.where(F.col("n_tokens") > 32).select(
        "doc_id", "chunk_idx", "start_tok", "n_tok_chunk", "chunk_text"
    )


def q_dataset_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted dataset mixing (GPT-3 Table 2.2 / The Pile recipe
    shape): water-filling take per source at target weights 1/2/3 (derived
    from the source id), md5-rank selection within each source, then the
    realized (source, lang) composition of the mixed corpus
    (operators/mixing.py).  All-integer weight arithmetic; the selection
    is a pure function of the doc ids."""
    d = _docs(spark, sf_dir)
    w = F.lit(1) + F.regexp_extract("source", r"([0-9]+)", 1).cast("long") % 3
    sel = mixing.mixture_sample(d, w)
    return (
        sel.groupBy("source", "lang")
        .agg(F.count("*").alias("n_selected"))
    )


def q_doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: assign documents (in stable doc_id order,
    per language) to 4096-token training bins by cumulative token count —
    the sequence-packing pass of an LLM pre-training pipeline.  The running
    sum is windowed **per language**, so strata pack in parallel; at 100 TB
    the partition key becomes (lang, shard) — packing is order-defined
    within a shard by construction, never a global sort."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    n_tok = F.size(tx.tokens(F.col("text"))).cast("long")
    w = Window.partitionBy("lang").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    binned = (
        d.select("lang", "doc_id", n_tok.alias("n_tokens"))
        .withColumn("bin", F.floor((cum - F.col("n_tokens")) / F.lit(4096.0)).cast("long"))
    )
    return binned.groupBy("lang", "bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )


def q_text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 keywords with TF-IDF scores: term frequency via
    explode+groupBy, document frequency via a count window over the tf
    frame partitioned by term (a second aggregation joined back would
    cost one more exchange plus a sort-merge join for the same values),
    corpus size by broadcast cross join.  Ranking uses only
    integers and strings (tf desc, df asc, term asc) so the top-k cut is
    engine-exact; the tf-idf score is emitted quantized to integer
    micro-units because ``ln`` differs by 1 ulp between JVM Math.log and
    DuckDB libm (measured: 51/1500 rows at sf0.01 with a raw double).  At
    corpus scale the tf aggregation is a map-side-partial hash agg over
    one explode and the df window shuffles on the same term key the join
    shuffled on.
    """
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    terms = d.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    # df as a COUNT WINDOW over tf partitioned by term,
    # not a second aggregation joined back — the join re-shuffled tf onto
    # term AND sort-merged it against the df aggregate (4 exchanges + a
    # sort); the window needs the same term shuffle and nothing else
    # (3 exchanges, no join).  Identical df values (exact row counts over
    # the same frame); same-boot interleaved A/B ×4: 1.81 → 1.22 s min.
    # At scale the window's term partitions equal the join's — no new
    # skew or broadcast assumption.
    wterm = Window.partitionBy("term")
    tfdf = tf.withColumn("df", F.count("*").over(wterm))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tfdf
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            "rk",
            F.floor(F.col("tf") * F.log(F.col("n_docs") / F.col("df")) * 1000000.0)
            .cast("long")
            .alias("tfidf_micro"),
        )
    )


def queries() -> dict[str, Query]:
    return {
        "text_pii_scrub": q_text_pii_scrub,
        "doc_chunk_windows": q_doc_chunk_windows,
        "doc_chunk_texts": q_doc_chunk_texts,
        "text_quality_filter": q_text_quality_filter,
        "dataset_shuffle_shards": q_dataset_shuffle_shards,
        "text_vocab": q_text_vocab,
        "text_bigram_lm": q_text_bigram_lm,
        "dataset_interleave": q_dataset_interleave,
        "doc_stats_by_source": q_doc_stats_by_source,
        "text_decontaminate": q_text_decontaminate,
        "dataset_dedup_apply": q_dataset_dedup_apply,
        "dataset_length_histogram": q_dataset_length_histogram,
        "text_pipeline": q_text_pipeline,
        "text_langid": q_text_langid,
        "text_quality": q_text_quality,
        "text_tokens": q_text_tokens,
        "text_fingerprint": q_text_fingerprint,
        "text_tfidf_keywords": q_text_tfidf_keywords,
        "text_repetition": q_text_repetition,
        "dataset_sample": q_dataset_sample,
        "doc_packing": q_doc_packing,
        "dataset_mixture_sample": q_dataset_mixture_sample,
        "dataset_split": q_dataset_split,
    }


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect; tables pre-registered as views)
# ---------------------------------------------------------------------------


_LANG_FILTERS = {
    lang: "len(list_filter(toks, x -> x IN ({}))) ".format(
        ", ".join(f"'{w}'" for w in words)
    )
    for lang, words in tx.STOPWORDS.items()
}


def oracle_sql() -> dict[str, str]:
    return {
        # deterministic round-robin source interleave: per-source rank by
        # salted hash, position = rank * n_sources + source_index
        "dataset_interleave": f"""
WITH s AS (
    SELECT source, dense_rank() OVER (ORDER BY source) - 1 AS src_idx
    FROM (SELECT DISTINCT source FROM documents)
),
n AS (SELECT count(*) AS n_src FROM s),
r AS (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY {_H32.format(x="'ord:' || CAST(doc_id AS VARCHAR)")}, doc_id
           ) - 1 AS rnk
    FROM documents
)
SELECT r.doc_id, r.source,
       CAST(r.rnk * n.n_src + s.src_idx AS BIGINT) AS position
FROM r JOIN s USING (source) CROSS JOIN n
""",
        # deterministic global shuffle: shard by id-hash, rank by a second
        # salted hash within the shard
        "dataset_shuffle_shards": f"""
WITH h AS (
    SELECT doc_id,
           {_H32.format(x="CAST(doc_id AS VARCHAR)")} AS h1,
           {_H32.format(x="'pos:' || CAST(doc_id AS VARCHAR)")} AS h2
    FROM documents
)
SELECT doc_id, h1 % 8 AS shard,
       CAST(row_number() OVER (PARTITION BY h1 % 8 ORDER BY h2, doc_id) AS BIGINT) AS pos
FROM h
""",
        # vocabulary induction: corpus-wide top-100 terms by frequency
        "text_vocab": f"""
WITH {_TOKS_CTE},
c AS (SELECT unnest(toks) AS term FROM toks),
f AS (SELECT term, count(*) AS cnt FROM c GROUP BY 1)
SELECT term, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rnk
FROM f ORDER BY cnt DESC, term LIMIT 100
""",
        # corpus bigram LM scored back over each doc; per-bigram log-probs
        # quantize to micro-ints BEFORE the per-doc sum (exact int64 agg;
        # a float avg would be summation-order-dependent)
        "text_bigram_lm": f"""
WITH {_TOKS_CTE},
bg AS (
    SELECT doc_id,
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1]) AS bgs
    FROM toks WHERE len(toks) >= 2
),
ex AS (SELECT doc_id, unnest(bgs) AS bg FROM bg),
lm AS (SELECT bg, count(*) AS c FROM ex GROUP BY 1),
tot AS (SELECT count(*) AS t FROM ex),
sc AS (
    SELECT e.doc_id,
           CAST(floor(ln(CAST(lm.c AS DOUBLE) / t) * 1000000.0) AS BIGINT) AS lp
    FROM ex e JOIN lm USING (bg) CROSS JOIN tot
)
SELECT doc_id, count(*) AS n_bigrams, CAST(sum(lp) AS BIGINT) AS sum_lp_micro,
       CAST(floor(CAST(sum(lp) AS DOUBLE) / count(*)) AS BIGINT) AS lm_score_micro
FROM sc GROUP BY 1
""",
        "dataset_split": """
WITH h AS (
    SELECT lang,
           CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS hv
    FROM documents
)
SELECT CASE WHEN hv < 80 THEN 'train' WHEN hv < 90 THEN 'val' ELSE 'test' END AS split,
       lang, count(*) AS n_docs
FROM h GROUP BY 1, 2
""",
        "text_pipeline": f"""
WITH {_TOKS_CTE},
scored AS (
    SELECT d.doc_id, d.lang,
           0.5 * ({_LANG_FILTERS['en']} * 1.0 / greatest(len(toks), 1))
         + 0.3 * least(CAST(len(toks) AS BIGINT) / 100.0, 1.0)
         + 0.2 * (1.0 - length(regexp_replace(d.text, '[a-zA-Z0-9\\s]', '', 'g'))
                        * 1.0 / greatest(length(d.text), 1)) AS quality
    FROM documents d JOIN toks USING (doc_id)
),
keepers AS (
    SELECT min(doc_id) AS doc_id
    FROM toks GROUP BY md5(array_to_string(toks, ' '))
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CAST(quality AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avg_quality
FROM scored JOIN keepers USING (doc_id)
WHERE quality >= 0.5
GROUP BY lang
""",
        "text_langid": f"""
WITH {_TOKS_CTE},
scores AS (
    SELECT d.doc_id,
           (length(d.text) - length(regexp_replace(d.text, '[^\\x00-\\x7F]', '', 'g')))
               * 1.0 / greatest(length(d.text), 1) AS nonascii,
           {_LANG_FILTERS['en']} AS en_n, {_LANG_FILTERS['de']} AS de_n,
           {_LANG_FILTERS['fr']} AS fr_n, {_LANG_FILTERS['es']} AS es_n
    FROM documents d JOIN toks USING (doc_id)
)
SELECT doc_id,
       CASE WHEN nonascii > 0.3 THEN 'zh'
            WHEN en_n >= de_n AND en_n >= fr_n AND en_n >= es_n THEN 'en'
            WHEN de_n >= fr_n AND de_n >= es_n THEN 'de'
            WHEN fr_n >= es_n THEN 'fr'
            ELSE 'es' END AS pred_lang
FROM scores
""",
        "text_quality": f"""
WITH {_TOKS_CTE},
m AS (
    SELECT d.doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           {_LANG_FILTERS['en']} * 1.0 / greatest(len(toks), 1) AS sw_ratio,
           length(regexp_replace(d.text, '[a-zA-Z0-9\\s]', '', 'g'))
               * 1.0 / greatest(length(d.text), 1) AS punct
    FROM documents d JOIN toks USING (doc_id)
)
SELECT doc_id, n_tokens,
       sw_ratio AS stopword_ratio,
       punct AS punct_ratio,
       0.5 * sw_ratio + 0.3 * least(n_tokens / 100.0, 1.0) + 0.2 * (1.0 - punct) AS quality
FROM m
""",
        "text_tokens": f"""
WITH {_TOKS_CTE}
SELECT d.doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(d.text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_bpe,
       CAST(length(d.text) AS BIGINT) AS n_chars_raw
FROM documents d JOIN toks USING (doc_id)
""",
        "text_fingerprint": f"""
WITH {_TOKS_CTE}, {_SH_CTE},
mins AS (
    SELECT doc_id,
           CASE WHEN len(shingles) = 0 THEN CAST(-1 AS BIGINT)
                ELSE (SELECT min({_H32.format(x='s')}) FROM unnest(shingles) AS u(s))
           END AS fp_shingle
    FROM sh
)
SELECT t.doc_id, md5(array_to_string(t.toks, ' ')) AS fp_md5, m.fp_shingle
FROM toks t JOIN mins m USING (doc_id)
""",
        "text_repetition": f"""
WITH {_TOKS_CTE}, {_SH_CTE}
SELECT t.doc_id,
       CAST(greatest(len(t.toks) - 2, 0) AS BIGINT) AS n_shingles,
       CAST(len(s.shingles) AS BIGINT) AS n_distinct,
       CASE WHEN len(t.toks) > 2
            THEN 1.0 - CAST(len(s.shingles) AS DOUBLE) / CAST(len(t.toks) - 2 AS DOUBLE)
            ELSE 0.0 END AS rep_ratio
FROM toks t JOIN sh s USING (doc_id)
""",
        "text_decontaminate": f"""
WITH {_TOKS_CTE},
ng AS (
    SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 13
        THEN list_transform(generate_series(1, len(toks) - 12),
                            i -> array_to_string(toks[i:i+12], ' '))
        ELSE [] END) AS ngs
    FROM toks
),
ex AS (SELECT doc_id, unnest(ngs) AS ngram FROM ng)
SELECT t.doc_id,
       CAST(count(DISTINCT t.ngram) AS BIGINT) AS n_shared_ngrams,
       CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_benchmark_docs
FROM ex t JOIN ex b ON t.ngram = b.ngram AND b.doc_id % 50 = 0
WHERE t.doc_id % 50 != 0
GROUP BY 1
""",
        "dataset_dedup_apply": f"""
WITH {_TOKS_CTE},
keyed AS (
    SELECT d.doc_id, d.lang, length(d.text) AS n_chars,
           md5(array_to_string(t.toks, ' ')) AS content_hash
    FROM documents d JOIN toks t USING (doc_id)
),
keep AS (SELECT content_hash, min(doc_id) AS doc_id FROM keyed GROUP BY 1),
kept AS (SELECT k.* FROM keyed k JOIN keep USING (content_hash, doc_id)),
tot AS (SELECT lang, count(*) AS n_docs FROM keyed GROUP BY 1),
kk AS (SELECT lang, count(*) AS n_kept,
              CAST(sum(n_chars) AS BIGINT) AS kept_chars
       FROM kept GROUP BY 1)
SELECT tot.lang, tot.n_docs, kk.n_kept,
       tot.n_docs - kk.n_kept AS n_dropped, kk.kept_chars
FROM tot JOIN kk USING (lang)
""",
        "dataset_length_histogram": f"""
WITH {_TOKS_CTE}
SELECT d.lang,
       CAST(CASE WHEN len(t.toks) < 16 THEN 16
                 WHEN len(t.toks) < 32 THEN 32
                 WHEN len(t.toks) < 64 THEN 64
                 WHEN len(t.toks) < 128 THEN 128
                 WHEN len(t.toks) < 256 THEN 256
                 WHEN len(t.toks) < 512 THEN 512
                 ELSE 1024 END AS BIGINT) AS len_bucket,
       count(*) AS n_docs,
       CAST(sum(len(t.toks)) AS BIGINT) AS sum_tokens,
       CAST(max(len(t.toks)) AS BIGINT) AS max_tokens
FROM documents d JOIN toks t USING (doc_id)
GROUP BY 1, 2
""",
        "dataset_sample": """
WITH h AS (
    SELECT lang,
           CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS hv
    FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN hv < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM h GROUP BY 1
""",
        "dataset_mixture_sample": """
WITH cnt AS (
    SELECT source, count(*) AS n_docs,
           1 + CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 3 AS w
    FROM documents GROUP BY 1
),
w1 AS (
    SELECT source, n_docs, w, sum(w) OVER () AS bigw FROM cnt
),
w2 AS (
    SELECT source, n_docs, w, bigw,
           min((n_docs * bigw) // w) OVER () AS n_star
    FROM w1
),
take AS (
    SELECT source, (w * n_star) // bigw AS n_take FROM w2
),
rk AS (
    SELECT source, lang, doc_id,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS rk
    FROM documents
)
SELECT r.source, r.lang, count(*) AS n_selected
FROM rk r JOIN take t USING (source)
WHERE r.rk <= t.n_take
GROUP BY 1, 2
""",
        "doc_packing": f"""
WITH {_TOKS_CTE},
n AS (
    SELECT d.doc_id, d.lang, CAST(len(t.toks) AS BIGINT) AS n_tokens
    FROM documents d JOIN toks t USING (doc_id)
),
c AS (
    SELECT lang, doc_id, n_tokens,
           sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
    FROM n
),
b AS (
    SELECT lang, CAST(floor((cum - n_tokens) / 4096.0) AS BIGINT) AS bin, n_tokens
    FROM c
)
SELECT lang, bin, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM b GROUP BY 1, 2
""",
        "doc_stats_by_source": """
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM documents GROUP BY 1, 2
""",
        "text_tfidf_keywords": f"""
WITH {_TOKS_CTE},
terms AS (SELECT doc_id, unnest(toks) AS term FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
ranked AS (
    SELECT doc_id, term, tf, df,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY tf DESC, df ASC, term ASC) AS rk,
           CAST(floor(tf * ln(CAST(n_docs AS DOUBLE) / df) * 1000000.0) AS BIGINT) AS tfidf_micro
    FROM tf JOIN dfreq USING (term), n
)
SELECT doc_id, term, tf, df, rk, tfidf_micro FROM ranked WHERE rk <= 3
""",
        "text_pii_scrub": f"""
WITH seeded AS (
    SELECT doc_id, lang,
           text
           || CASE WHEN doc_id % 7 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                   THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
                   ELSE '' END
           || CASE WHEN doc_id % 13 = 0
                   THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END AS text
    FROM documents
),
s1 AS (
    SELECT doc_id, lang, text,
           len(regexp_extract_all(text, '{scrub.EMAIL_PATTERN}')) AS n_emails,
           regexp_replace(text, '{scrub.EMAIL_PATTERN}', '<EMAIL>', 'g') AS t1
    FROM seeded
),
s2 AS (
    SELECT *, len(regexp_extract_all(t1, '{scrub.IPV4_PATTERN}')) AS n_ipv4,
           regexp_replace(t1, '{scrub.IPV4_PATTERN}', '<IP>', 'g') AS t2
    FROM s1
),
s3 AS (
    SELECT *, len(regexp_extract_all(t2, '{scrub.PHONE_PATTERN}')) AS n_phones,
           regexp_replace(t2, '{scrub.PHONE_PATTERN}', '<PHONE>', 'g') AS redacted
    FROM s2
)
SELECT doc_id, lang, CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_ipv4 AS BIGINT) AS n_ipv4, CAST(n_phones AS BIGINT) AS n_phones,
       CAST(len(text) - len(redacted) AS BIGINT) AS len_delta
FROM s3 WHERE n_emails + n_ipv4 + n_phones > 0
""",
        "doc_chunk_windows": f"""
WITH {_TOKS_CTE},
n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM toks),
c AS (
    SELECT doc_id, n_tokens,
           1 + CAST(floor((greatest(n_tokens - 32, 0) + 23) / 24.0) AS BIGINT) AS n_chunks
    FROM n
)
SELECT c.doc_id, c.n_tokens,
       i - 1 AS chunk_idx,
       (i - 1) * 24 AS start_tok,
       least(32, c.n_tokens - (i - 1) * 24) AS n_tok_chunk
FROM c, unnest(generate_series(1, c.n_chunks)) AS t(i)
""",
        "doc_chunk_texts": f"""
WITH {_TOKS_CTE},
n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM toks),
c AS (
    SELECT doc_id, toks, n_tokens,
           1 + CAST(floor((greatest(n_tokens - 32, 0) + 23) / 24.0) AS BIGINT) AS n_chunks
    FROM n
)
SELECT c.doc_id,
       i - 1 AS chunk_idx,
       (i - 1) * 24 AS start_tok,
       least(32, c.n_tokens - (i - 1) * 24) AS n_tok_chunk,
       array_to_string(c.toks[((i - 1) * 24 + 1):((i - 1) * 24 + 32)], ' ') AS chunk_text
FROM c, unnest(generate_series(1, c.n_chunks)) AS t(i)
WHERE c.n_tokens > 32
""",
        "text_quality_filter": f"""
WITH {_TOKS_CTE}, {_SH_CTE},
m AS (
    SELECT t.doc_id, d.lang,
           CAST(len(t.toks) AS BIGINT) AS n_tok,
           CAST(greatest(len(t.toks) - 2, 0) AS BIGINT) AS n_total,
           CAST(len(s.shingles) AS BIGINT) AS n_distinct,
           CAST(coalesce(list_sum(list_transform(t.toks, x -> len(x))), 0) AS BIGINT) AS sum_len
    FROM toks t JOIN sh s ON t.doc_id = s.doc_id JOIN documents d ON d.doc_id = t.doc_id
),
f AS (
    SELECT lang, n_tok,
           CAST(
             CASE WHEN n_tok < 20 THEN 1 ELSE 0 END
           + CASE WHEN n_tok > 512 THEN 2 ELSE 0 END
           + CASE WHEN (CASE WHEN n_total > 0
                             THEN 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_total AS DOUBLE)
                             ELSE 0.0 END) > 0.2 THEN 4 ELSE 0 END
           + CASE WHEN n_tok > 0 AND (CAST(sum_len AS DOUBLE) / CAST(n_tok AS DOUBLE) < 3.0
                                      OR CAST(sum_len AS DOUBLE) / CAST(n_tok AS DOUBLE) > 10.0)
                  THEN 8 ELSE 0 END AS BIGINT) AS fail_mask
    FROM m
)
SELECT lang, fail_mask, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens
FROM f GROUP BY 1, 2
""",
    }
