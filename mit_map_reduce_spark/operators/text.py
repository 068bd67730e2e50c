"""Text-analysis operators over ``documents`` (beyond-reference).

Per-document metrics for a training-data pipeline: token statistics
(whitespace + BPE-ish), quality scoring, stopword-lexicon language ID,
winnowing + Rabin-Karp content fingerprinting, tf-idf top terms,
deterministic hash-bucket sampling, and the composed
clean->dedup->sample pipeline. Everything is a Catalyst expression or
a shuffle on small derived keys — a 100 TB corpus streams through
map-side until the final per-document (or per-word) aggregate.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mit_map_reduce_spark.catalog import iterate, load_table, shared_persist, spread, table_footer_count
from mit_map_reduce_spark.functions.columns import (
    hex_int,
    round_half_up,
    sql_hex_int,
    sql_round,
    tokenize_letters,
    whitespace_tokens,
    word_kgrams,
)
from mit_map_reduce_spark.functions.rank import distributed_prefix

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

#: Tiny per-language function-word lexicons for the n-gram/stopword
#: language-ID heuristic. Ties (including all-zero) break to the
#: alphabetically first language.
LANG_LEXICON: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en": ("the", "and", "of", "to", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "es", "un"),
    "fr": ("le", "la", "de", "et", "est", "que", "un"),
    "zh": ("de", "shi", "le", "wo", "zai", "bu", "ni"),
}

FP_SHINGLE_K = 5
FP_KEEP = 4  # fingerprint = 4 smallest shingle hashes


def _doc_hex() -> Column:
    """The sampling bucket source: first 4 md5 hex digits of the
    stringified doc_id (oracle twin: _HEX_BUCKET)."""
    return hex_int(F.md5(F.col("doc_id").cast("string")), 4)


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (pure map-side, zero shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    ws = whitespace_tokens(F.col("text"))
    total_len = F.aggregate(ws, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x))
    return docs.select(
        "doc_id",
        "lang",
        F.size(ws).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.size(F.array_distinct(ws)).alias("n_distinct_tokens"),
        round_half_up(total_len.cast("double") / F.size(ws), 4).alias("avg_token_len"),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score in [0, 1] + bucket.

    score = 0.4 * min(1, n_tokens/100)
          + 0.3 * stopword_ratio
          + 0.3 * (1 - |avg_token_len - 5| / 10)

    Session-shared: the training mix, corpus pipeline, survivorship
    audit, perplexity buckets, and funnel report all consume these
    scores — one cached copy per (session, corpus), the shingle-cache
    discipline.
    """
    return shared_persist(
        spark, "text_quality_scores", sf_dir,
        lambda: _text_quality_build(spark, sf_dir),
    )


def _text_quality_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = whitespace_tokens(F.lower(F.col("text")))
    n = F.size(ws)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(ws, lambda x: F.array_contains(stop_arr, x)))
    total_len = F.aggregate(ws, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x))
    avg_len = total_len.cast("double") / n
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n.cast("double") / 100.0)
        + F.lit(0.3) * (n_stop.cast("double") / n)
        + F.lit(0.3) * (1 - F.abs(avg_len - 5) / 10)
    )
    return docs.select(
        "doc_id",
        round_half_up(score, 4).alias("quality"),
        F.when(score >= 0.7, "high").when(score >= 0.4, "medium").otherwise("low").alias("bucket"),
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-lexicon language ID: argmax of lexicon hits per doc.

    Session-shared (catalog registry): the agreement matrix and repeat
    invocations probe ONE cached (doc_id, pred) frame per corpus
    instead of re-tokenizing the text."""
    return shared_persist(spark, "text_langid", sf_dir, lambda: _build_langid(spark, sf_dir))


def _build_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lex_rows = [(lang, w) for lang, words in LANG_LEXICON.items() for w in words]
    lex = spark.createDataFrame(lex_rows, "cand_lang string, word string")
    words = docs.select(
        "doc_id", F.explode(tokenize_letters(F.lower(F.col("text")))).alias("word")
    )
    hits = (
        words.join(F.broadcast(lex), "word")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count("*").alias("hits"))
    )
    langs = spark.createDataFrame([(l,) for l in LANG_LEXICON], "cand_lang string")
    grid = docs.select("doc_id").crossJoin(F.broadcast(langs))
    full = grid.join(hits, ["doc_id", "cand_lang"], "left").fillna(0, subset=["hits"])
    w = W.partitionBy("doc_id").orderBy(F.col("hits").desc(), F.col("cand_lang"))
    return (
        full.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cand_lang").alias("pred_lang"), F.col("hits").alias("lex_hits"))
    )


NGRAM_PROFILE_K = 40  # trigrams kept per language profile


def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID — the Cavnar-Trenkle n-gram
    profile heuristic, complementing the stopword-lexicon
    :func:`text_langid` (profiles catch languages with no curated
    lexicon and survive unsegmented scripts).

    Profiles are the top-``NGRAM_PROFILE_K`` trigrams per language,
    trained from the corpus's own labels (in production: a frozen
    labeled seed corpus — identical plan). Prediction is argmax of
    distinct-trigram overlap with each profile, ties to the
    alphabetically first language.

    Scale shape: profile training is one (lang, trigram) aggregation
    whose output is fixed-size (|langs| * K rows, broadcast); scoring
    is a map-side explode joined against that broadcast — the corpus
    never shuffles by content, only the tiny (doc, lang) hit counts do.

    Session-shared (catalog registry), like :func:`text_langid`.
    """
    return shared_persist(
        spark, "text_langid_ngram", sf_dir, lambda: _build_langid_ngram(spark, sf_dir)
    )


def _build_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = F.lower(F.col("text"))
    tri = F.when(F.length(t) < 3, F.array()).otherwise(
        F.transform(F.sequence(F.lit(1), F.length(t) - 2), lambda i: F.substr(t, i, F.lit(3)))
    )
    doc_tri = docs.select(
        "doc_id", "lang", F.explode(F.array_distinct(tri)).alias("tg")
    )
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), "tg")
    profile = (
        doc_tri.groupBy("lang", "tg")
        .agg(F.count("*").alias("n"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= NGRAM_PROFILE_K)
        .select(F.col("lang").alias("cand_lang"), "tg")
    )
    hits = (
        doc_tri.select("doc_id", "tg")
        .join(F.broadcast(profile), "tg")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count("*").alias("hits"))
    )
    langs = docs.select(F.col("lang").alias("cand_lang")).distinct()
    grid = docs.select("doc_id").crossJoin(F.broadcast(langs))
    full = grid.join(hits, ["doc_id", "cand_lang"], "left").fillna(0, subset=["hits"])
    w2 = W.partitionBy("doc_id").orderBy(F.col("hits").desc(), F.col("cand_lang"))
    return (
        full.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cand_lang").alias("pred_lang"), F.col("hits").alias("n_hits"))
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: the FP_KEEP smallest md5 values of
    the document's word-5-gram shingles, '|'-joined ascending.

    Docs shorter than the shingle width have no fingerprint (excluded),
    mirroring the dedup shingle semantics.

    Fully map-side: sort + slice over the per-document shingle-hash
    array — no explode, no window, zero shuffles (plan: scan ->
    project; the earlier explode + row_number formulation shuffled the
    whole shingle stream twice).

    The emptiness filter tests the TOKEN count (shingles nonempty iff
    n_words >= k), not the hash array: filtering on an aliased heavy
    expression makes CollapseProject inline it into both the filter
    and the projection — measured 10x slower from double evaluation.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = tokenize_letters(F.col("text"))
    shingles = F.array_distinct(word_kgrams(words, FP_SHINGLE_K))
    hashes = F.array_sort(F.transform(shingles, lambda s: F.md5(s)))
    return (
        docs.filter(F.size(words) >= FP_SHINGLE_K)
        .select(
            "doc_id",
            F.array_join(F.slice(hashes, 1, FP_KEEP), "|").alias("fingerprint"),
        )
    )


#: BPE-ish pre-tokenizer: letter runs | single digits | punctuation
#: runs — the GPT-2-style split shape, restricted to a regex subset
#: with identical semantics in Java regex (Spark) and RE2 (DuckDB).
BPE_PATTERN = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]+"


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    pre-tokenization, plus bytes-per-token (the metric LLM pipelines
    budget by). Pure map-side."""
    docs = load_table(spark, sf_dir, "documents")
    n_ws = F.size(whitespace_tokens(F.col("text")))
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0)))
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        round_half_up(F.octet_length("text").cast("double") / n_bpe, 4).alias("bytes_per_token"),
    )


PIPE_MIN_QUALITY = 0.4
PIPE_SAMPLE_PCT = 50


def text_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning in ONE composed plan: quality filter
    -> exact-dedup to the canonical copy -> deterministic 50% sample.

    The composition is what a training-data pipeline actually ships;
    each stage reuses the standalone operator's logic, and Catalyst
    fuses the three into a single job (quality + sampling are map-side
    predicates; only the canonical-copy check shuffles, once, on the
    content hash).
    """
    scored = text_quality(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    keep = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("keep_doc_id")
    )
    bucket = _doc_hex().cast("int") % 100
    return (
        docs.join(keep, F.md5(docs.text) == keep.h)
        .filter(F.col("doc_id") == F.col("keep_doc_id"))
        .join(scored, "doc_id")
        .filter(F.col("quality") >= PIPE_MIN_QUALITY)
        .filter(bucket < PIPE_SAMPLE_PCT)
        .select("doc_id", "lang", "quality")
    )


SAMPLE_PCT = 10  # deterministic 10% sample


def text_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible sampling: doc is in the sample iff
    ``hash_bucket(doc_id) < SAMPLE_PCT`` of 100 buckets.

    Training pipelines need splits that are stable across runs,
    engines, and partitionings — ``df.sample()`` is none of those
    (seeded per-partition RNG). A hash-derived bucket is: the same
    row lands in the same split everywhere, and the filter is
    map-side-prunable. Bucket = first 4 hex digits of md5(doc_id)
    mod 100.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = _doc_hex().cast("int") % 100
    return docs.filter(bucket < SAMPLE_PCT).select(
        "doc_id", "lang", F.length("text").alias("n_chars")
    )


#: Rabin-Karp parameters: base 257, modulus 1e9+7 — products stay
#: under 2^63 so 64-bit signed arithmetic is exact in both engines.
RK_BASE = 257
RK_MOD = 1_000_000_007


def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash document fingerprint (content-defined,
    incremental — the hash an ingestion pipeline can maintain per chunk
    and combine, unlike md5).

    h = fold(chars, h * 257 + codepoint mod 1e9+7), computed entirely
    in Catalyst (split to chars + aggregate); pure map-side, zero
    shuffle. Also emits the hash of the first 64 chars — the prefix
    fingerprint cheap near-dup triage uses.
    """
    docs = load_table(spark, sf_dir, "documents")

    def rk(col):
        return F.aggregate(
            F.filter(F.split(col, ""), lambda c: c != ""),
            F.lit(0).cast("bigint"),
            lambda acc, c: (acc * RK_BASE + F.ascii(c)) % RK_MOD,
        )

    return docs.select(
        "doc_id",
        rk(F.col("text")).alias("rk_hash"),
        rk(F.substring("text", 1, 64)).alias("rk_prefix64"),
    )


TFIDF_TOP = 3


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TFIDF_TOP`` tf-idf terms per document.

    tfidf = tf * ln(N / df). All three inputs are aggregates computed
    in-engine (no driver-side collect): df broadcast per term, the
    1-row corpus count cross-joined. Ranking uses the ROUNDED score
    (tie-break by term) so the order is reproducible cross-engine —
    raw doubles can differ by 1 ulp between Spark's and DuckDB's ln().
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id", F.explode(tokenize_letters(F.col("text"))).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    total = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            round_half_up(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP)
        .select("doc_id", "term", "tf", "tfidf", "rank")
    )


def text_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rollup: token counts per labelled language (for corpus
    composition reports — the aggregate a data pipeline dashboards)."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(whitespace_tokens(F.col("text")))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(n).alias("total_tokens"),
        round_half_up(F.avg(n), 4).alias("avg_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


COOC_VOCAB_K = 30
COOC_MIN_COUNT = 5


def text_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word co-occurrence counts — the classic MapReduce "pairs"
    pattern (the canonical example after wordcount in the MapReduce
    literature), Spark-first.

    Unbounded pair generation is quadratic in document length, so the
    pair space is bounded FIRST: a corpus-wide top-``COOC_VOCAB_K``
    vocabulary (deterministic tie-break by word) is computed with one
    aggregation and broadcast; each document then contributes ordered
    pairs only over its distinct in-vocab words (<= K^2/2 per doc).
    Same broadcast-the-small-side discipline as every dim join here.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id", F.explode(F.array_distinct(tokenize_letters(F.lower(F.col("text"))))).alias("word")
    )
    all_words = docs.select(F.explode(tokenize_letters(F.lower(F.col("text")))).alias("word"))
    vocab = (
        all_words.groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "word")
        .limit(COOC_VOCAB_K)
        .select("word")
    )
    in_vocab = words.join(F.broadcast(vocab), "word")
    # Pair generation without the self-join (r15, guide §2.4 — the
    # graph_supplier_projection shape): the per-doc in-vocab word set
    # is bounded by COOC_VOCAB_K, so collect it (one doc_id shuffle)
    # and explode the a < b pairs map-side. The old doc_id self-join
    # shuffled the SAME in-vocab stream twice — re-executing the
    # corpus explode + vocab broadcast per side — then joined.
    sets = in_vocab.groupBy("doc_id").agg(F.collect_set("word").alias("ws"))
    pairs = (
        sets.select(F.explode("ws").alias("w1"), "ws")
        .select("w1", F.explode("ws").alias("w2"))
        .filter(F.col("w1") < F.col("w2"))
    )
    return (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= COOC_MIN_COUNT)
    )


HASH_FEATURE_DIM = 16


def text_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorizer (the "hashing trick"): each document
    becomes a fixed ``HASH_FEATURE_DIM``-dim term-count vector, bucket
    = first md5 hex digit of the token — no vocabulary table, no
    shuffle, which is the whole point at 100 TB (a real vocabulary
    needs a corpus-wide distinct + broadcast; the hash vectorizer is
    pure map-side and its output width is fixed).

    One fold accumulates all 16 bucket counts per document (same
    single-pass discipline as SimHash — per-bucket aggregates would
    re-hash the token array 16x). Rendered '|'-joined (driver-hashable,
    like the other array outputs).
    """
    docs = load_table(spark, sf_dir, "documents")
    tokens = tokenize_letters(F.lower(F.col("text")))
    buckets = F.sequence(F.lit(0), F.lit(HASH_FEATURE_DIM - 1))

    def one_hot(tok):
        digit = hex_int(F.md5(tok), 1).cast("int")
        return F.transform(buckets, lambda b: F.when(digit == b, 1).otherwise(0).cast("bigint"))

    zero = F.array_repeat(F.lit(0).cast("bigint"), HASH_FEATURE_DIM)
    counts = F.aggregate(
        tokens, zero, lambda acc, t: F.zip_with(acc, one_hot(t), lambda x, y: x + y)
    )
    return docs.select(
        "doc_id",
        F.size(tokens).alias("n_tokens"),
        F.array_join(F.transform(counts, lambda c: c.cast("string")), "|").alias("features"),
    )


#: Repetition flags (Gopher-style corpus filters): a doc is repetitive
#: when its most frequent bigram dominates or its vocabulary collapses.
REP_TOP_BIGRAM_MAX = 0.2
REP_DISTINCT_MIN = 0.3


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals — the Gopher/MassiveText-family
    quality filters (duplicate-n-gram dominance), which catch boiler-
    plate and degenerate generations that length/stopword scores miss.

    Emits distinct-token ratio, the top token's share, and the top
    bigram's share, plus the keep/drop flag a pipeline filters on.

    Shape: explode -> count per (doc, gram) -> max/sum per doc. The
    shuffle keys are doc-local (doc_id, gram) pairs, so partial
    aggregation absorbs the explosion map-side and key cardinality
    scales with corpus size, not corpus length — no global hot key is
    possible (a gram is counted within its document only).
    """
    return shared_persist(
        spark, "text_repetition_flags", sf_dir,
        lambda: _text_repetition_build(spark, sf_dir),
    )


def _text_repetition_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = tokenize_letters(F.lower(F.col("text")))
    base = docs.select("doc_id", words.alias("ws")).filter(F.size("ws") >= 2)
    tok_counts = (
        base.select("doc_id", F.explode("ws").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
    )
    tok_stats = tok_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_tok"),
    )
    bg_counts = (
        base.select("doc_id", F.explode(word_kgrams(F.col("ws"), 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
    )
    bg_stats = bg_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bg")
    )
    distinct_ratio = round_half_up(F.col("n_distinct") / F.col("n_tokens"), 4)
    top_token_share = round_half_up(F.col("top_tok") / F.col("n_tokens"), 4)
    top_bigram_share = round_half_up(F.col("top_bg") / F.col("n_bigrams"), 4)
    return tok_stats.join(bg_stats, "doc_id").select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        distinct_ratio.alias("distinct_ratio"),
        top_token_share.alias("top_token_share"),
        top_bigram_share.alias("top_bigram_share"),
        (
            (top_bigram_share >= REP_TOP_BIGRAM_MAX)
            | (distinct_ratio <= REP_DISTINCT_MIN)
        ).alias("repetitive"),
    )


CONTAM_NGRAM_K = 8
CONTAM_BENCH_MOD = 17  # doc_id % 17 == 0 -> held-out "benchmark" slice


def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: flag training documents sharing
    any word-``CONTAM_NGRAM_K``-gram with a held-out eval set — the
    decontamination step every LLM data pipeline runs before training.

    The eval set here is the deterministic ``doc_id % 17 == 0`` slice
    standing in for a real benchmark suite. Its distinct n-grams are
    BROADCAST (eval suites are tiny next to a 100 TB corpus — this side
    never scales with the crawl); the corpus side explodes its distinct
    grams map-side and probes the broadcast hash table, so the whole
    audit is one scan of the corpus with no corpus-sized shuffle. Per
    surviving doc: how many distinct grams are contaminated and how
    many benchmark docs it overlaps.
    """
    return shared_persist(
        spark, "text_contamination_flags", sf_dir,
        lambda: _text_contamination_build(spark, sf_dir),
    )


def _text_contamination_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = tokenize_letters(F.lower(F.col("text")))
    grams = F.array_distinct(word_kgrams(words, CONTAM_NGRAM_K))
    is_bench = F.col("doc_id") % CONTAM_BENCH_MOD == 0
    bench = docs.filter(is_bench).select(
        F.col("doc_id").alias("bench_doc"), F.explode(grams).alias("gram")
    )
    corpus = docs.filter(~is_bench)
    corpus_grams = corpus.select("doc_id", F.explode(grams).alias("gram"))
    hits = (
        corpus_grams.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_contaminated_ngrams"),
            F.countDistinct("bench_doc").alias("n_bench_docs"),
        )
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .fillna(0, subset=["n_contaminated_ngrams", "n_bench_docs"])
        .select(
            "doc_id",
            "n_contaminated_ngrams",
            "n_bench_docs",
            (F.col("n_contaminated_ngrams") > 0).alias("contaminated"),
        )
    )


STRATA_TARGET = 30  # ~docs kept per language


def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced deterministic sample: ~``STRATA_TARGET`` docs
    per language regardless of stratum size — the mixing step that
    stops a web-scale corpus from drowning low-resource languages.

    Keep rule: ``bucket(doc_id) * n_lang < 10000 * STRATA_TARGET``
    with a 10000-bucket md5 hash — pure INTEGER arithmetic, so the
    decision is bit-exact across engines (no float rate to disagree
    on) and reproducible across runs and partitionings, like
    ``text_deterministic_sample``. Per-stratum counts are one tiny
    aggregate broadcast back onto the corpus scan; strata smaller than
    the target pass through whole.
    """
    docs = load_table(spark, sf_dir, "documents")
    sizes = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    bucket = _doc_hex().cast("long") % 10000
    return (
        docs.join(F.broadcast(sizes), "lang")
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") * F.col("n_lang") < 10000 * STRATA_TARGET)
        .select("doc_id", "lang", "bucket")
    )


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM pseudo-perplexity — the CCNet-style language-model
    quality signal (docs whose tokens are improbable under the corpus
    distribution read as noise; docs that are too probable read as
    boilerplate). The LM here is the corpus's own unigram distribution;
    in production you'd swap in a frozen reference LM table — the plan
    shape (token stream joined to a frequency table, per-doc mean) is
    identical.

    Float discipline: each token's -ln p rounds to integer micronats
    FIRST, so the per-document sum is exact integer arithmetic —
    immune to float-accumulation order (Spark's partial aggregation
    sums in partition order, which is nondeterministic; summing raw
    doubles could flip the 4th decimal between runs and engines). One
    ulp of ln() divergence would need to land within 5e-7 of a
    half-micronat to flip a token — the same exposure the tf-idf
    ranking already carries.

    Plan shape (r15, guide §2.3/§2.4): everything derives from ONE
    per-(doc, word) count aggregation. The old form re-tokenized the
    corpus in three branches (freq, total, scored) and shuffled the
    full token-occurrence stream into the freq join; here the corpus
    explodes once (the (doc_id, word) exchange is plan-identical in
    both consumers, so ReuseExchange dedups it), ``freq`` re-aggregates
    those partials, ``total`` is a one-row sum over ``freq``, and the
    per-doc sums weight each distinct (doc, word) by its count —
    bit-identical integers, one corpus scan instead of three. The
    frequency table broadcasts like the bigram scorer's; at 100 TB it
    is top-K-pruned or CMS-approximated first (same note there).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id", F.explode(tokenize_letters(F.lower(F.col("text")))).alias("word")
    )
    dw = words.groupBy("doc_id", "word").agg(F.count("*").alias("n"))
    freq = dw.groupBy("word").agg(F.sum("n").alias("c"))
    total = freq.agg(F.sum("c").alias("total"))
    nl_micro = F.floor(
        -F.log(F.col("c") / F.col("total")) * 1_000_000.0 + F.lit(0.5)
    ).cast("bigint")
    scored = (
        dw.join(F.broadcast(freq), "word")
        .crossJoin(F.broadcast(total))
        .select("doc_id", "n", nl_micro.alias("nlm"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        round_half_up(
            F.sum(F.col("nlm") * F.col("n")) / 1_000_000.0 / F.sum("n"), 4
        ).alias("avg_neg_logp"),
    )


def text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling: each document's keep
    probability IS its quality score — the soft alternative to the
    hard quality cutoff (high-quality docs are kept almost surely,
    low-quality docs survive at reduced rate instead of vanishing,
    preserving distributional coverage).

    Keep rule: ``bucket(doc_id) < quality * 10000`` over the 10000-
    bucket md5 hash. The quality score is already rounded to 4 dp (an
    exact multiple of 1/10000 in both engines), so the comparison is
    exact — no float threshold ambiguity — and the decision is
    reproducible across runs, engines, and partitionings like every
    sampler here. Map-side: one scan, no shuffle beyond the quality
    derivation.
    """
    docs = load_table(spark, sf_dir, "documents")
    qual = text_quality(spark, sf_dir).select("doc_id", "quality")
    bucket = _doc_hex().cast("long") % 10000
    return (
        docs.join(qual, "doc_id")
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") < F.col("quality") * 10000)
        .select("doc_id", "lang", "quality", "bucket")
    )


PRIORITY_SAMPLE_K = 50  # fixed sample size


def text_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size weighted sampling by PRIORITY SAMPLING (Duffield,
    Lund & Thorup): each document draws priority = weight / u with u
    uniform in (0, 1], and the K largest priorities form the sample —
    inclusion probability rises with weight while the sample size is
    EXACTLY K, the guarantee the probability-proportional keep rule
    (``text_weighted_sample``) cannot give (its size is only expected).
    Weight here is the token count: a token-budget-proportional
    document sample.

    u derives from the first 4 md5 hex digits of the doc id
    ((h + 1) / 65536, never zero) — deterministic across engines,
    runs, and partitionings like every sampler in this module. The
    top-K is a TakeOrdered reduction on (priority, doc_id) — no
    global sort; priorities are reported at 4 dp (u is an exact
    multiple of 2^-16 and the weight an integer, so the division is
    the same IEEE op in both engines; the tie-break is the doc id).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    w = F.size(whitespace_tokens(F.lower(F.col("text")))).cast("double")
    h = _doc_hex().cast("long")
    u = (h + 1).cast("double") / 65536.0
    scored = docs.select(
        "doc_id",
        "lang",
        w.cast("long").alias("weight"),
        round_half_up(w / u, 4).alias("priority"),
    )
    return scored.orderBy(F.col("priority").desc(), F.col("doc_id")).limit(
        PRIORITY_SAMPLE_K
    )


DRIFT_DECILES = 10


def text_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality drift across corpus arrival order: per doc-id decile
    (the ingestion-time proxy, as in ``text_vocab_growth``), document
    count, mean quality, low-quality share, and mean token count —
    the monitoring view that answers "is newer data worse", which
    decides whether a crawl keeps paying for itself.

    Exactness: each doc's score quantizes to integer grains
    (floor(score*10000 + 0.5) — the money_grains rule on the raw
    score, the same IEEE ops in both engines), grains sum exactly,
    and the decile mean is one division; the low-quality cut compares
    integer grains; token counts are integers. One scan derives the
    score, one 10-key aggregation.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    ws = whitespace_tokens(F.lower(F.col("text")))
    n = F.size(ws)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(ws, lambda x: F.array_contains(stop_arr, x)))
    total_len = F.aggregate(
        ws, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    avg_len = total_len.cast("double") / n
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n.cast("double") / 100.0)
        + F.lit(0.3) * (n_stop.cast("double") / n)
        + F.lit(0.3) * (1 - F.abs(avg_len - 5) / 10)
    )
    bounds = docs.agg((F.max("doc_id") + 1).alias("n_docs"))
    scored = docs.select(
        "doc_id",
        F.floor(score * 10000.0 + F.lit(0.5)).cast("long").alias("q_grains"),
        n.cast("long").alias("n_tokens"),
    ).crossJoin(F.broadcast(bounds))
    decile = F.least(
        F.lit(DRIFT_DECILES - 1),
        F.floor(F.col("doc_id") * DRIFT_DECILES / F.col("n_docs")),
    ).cast("int")
    return (
        scored.groupBy(decile.alias("decile"))
        .agg(
            F.count("*").alias("n_docs"),
            round_half_up(
                F.sum("q_grains").cast("double") / 10000.0 / F.count("*"), 4
            ).alias("avg_quality"),
            round_half_up(
                F.count(F.when(F.col("q_grains") < 4000, 1)).cast("double")
                / F.count("*"),
                4,
            ).alias("low_share"),
            round_half_up(
                F.sum("n_tokens").cast("double") / F.count("*"), 2
            ).alias("avg_tokens"),
        )
    )


def text_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data build, composed from this round's filter
    set in ONE declarative plan — what a pipeline actually ships, and
    the successor to ``text_corpus_pipeline``:

      quality >= PIPE_MIN_QUALITY        (length/stopword/shape score)
      AND NOT repetitive                 (duplicate-n-gram dominance)
      AND NOT contaminated               (no benchmark 8-gram overlap;
                                          the benchmark slice itself
                                          never enters training)
      AND canonical copy only            (exact-dedup keep rule)
      -> language-balanced sample        (integer-exact bucket rule
                                          over the SURVIVOR strata)

    Each stage is the standalone operator's logic on doc_id-keyed
    aggregates, so Catalyst plans one job: the map-side metric
    derivations fuse over a single documents scan, and the only
    shuffles are the per-doc gram aggregations and the final tiny
    per-lang count. Degenerate docs (< 2 tokens) drop with the
    repetitive set.
    """
    docs = load_table(spark, sf_dir, "documents")
    qual = text_quality(spark, sf_dir).select("doc_id", "quality")
    rep = text_repetition(spark, sf_dir).select("doc_id", "repetitive")
    contam = text_contamination(spark, sf_dir).select("doc_id", "contaminated")
    keep = docs.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("keep_doc_id"))
    survivors = (
        docs.join(qual, "doc_id")
        .join(rep, "doc_id")
        .join(contam, "doc_id")
        .join(keep, F.md5(F.col("text")) == F.col("h"))
        .filter(
            (F.col("quality") >= PIPE_MIN_QUALITY)
            & ~F.col("repetitive")
            & ~F.col("contaminated")
            & (F.col("doc_id") == F.col("keep_doc_id"))
        )
        .select("doc_id", "lang", "quality")
    )
    sizes = survivors.groupBy("lang").agg(F.count("*").alias("n_lang"))
    bucket = _doc_hex().cast("long") % 10000
    return (
        survivors.join(F.broadcast(sizes), "lang")
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") * F.col("n_lang") < 10000 * STRATA_TARGET)
        .select("doc_id", "lang", "quality")
    )


# --- bigram LM scoring (round 4) ----------------------------------------


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM pseudo-perplexity — the second-order sibling of
    ``text_unigram_logprob``: each document scored by the mean
    -ln P(w2|w1) of its word bigrams under the corpus's own bigram
    distribution (P = c(w1 w2) / c(w1 ·), contexts counted over the
    same bigram stream). Captures word-ORDER quality a unigram LM is
    blind to: scrambled text keeps its unigram score but collapses
    here.

    Same integer-micronat discipline as the unigram scorer: each
    bigram's -ln p rounds to integer micronats first, so per-doc sums
    are exact in any order.

    Plan shape (r15, guide §2.3/§2.4): one gram explode feeding ONE
    per-(doc, bigram) count aggregation; the bigram frequency table
    re-aggregates those partials (ReuseExchange dedups the shared
    (doc_id, bg) exchange, so the corpus truly scans once — the old
    three-branch form re-tokenized it per consumer), and the CONTEXT
    counts derive from the bigram table itself (c_ctx(w1) = sum of
    c_bg over bigrams starting with w1 — the same integer by
    construction, with no extra corpus pass). Both tables broadcast
    back against the distinct (doc, bigram) stream, weighted by the
    occurrence count — bit-identical integers. At 100 TB the frequency
    tables are top-K-pruned or count-min approximated (sketch.py),
    same plan shape.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    ws = tokenize_letters(F.lower(F.col("text")))
    grams = docs.select(
        "doc_id", F.explode(word_kgrams(ws, 2)).alias("bg")
    )
    dg = grams.groupBy("doc_id", "bg").agg(F.count("*").alias("n"))
    bg_freq = dg.groupBy("bg").agg(F.sum("n").alias("c_bg"))
    ctx_freq = (
        bg_freq.groupBy(F.split(F.col("bg"), " ").getItem(0).alias("w1"))
        .agg(F.sum("c_bg").alias("c_ctx"))
    )
    nl_micro = F.floor(
        -F.log(F.col("c_bg") / F.col("c_ctx")) * 1_000_000.0 + F.lit(0.5)
    ).cast("bigint")
    scored = (
        dg.withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
        .join(F.broadcast(bg_freq), "bg")
        .join(F.broadcast(ctx_freq), "w1")
        .select("doc_id", "n", nl_micro.alias("nlm"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("n").alias("n_bigrams"),
        round_half_up(
            F.sum(F.col("nlm") * F.col("n")) / 1_000_000.0 / F.sum("n"), 4
        ).alias("avg_neg_logp"),
    )


# --- vocabulary growth curve (round 4) -----------------------------------

VOCAB_DECILES = 10
VOCAB_GRAM_K = 3  # phrase width; unigram vocab saturates instantly


def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-vocabulary growth (Heaps-law) curve — the corpus
    diagnostic that says whether more data still buys new content:
    for each doc_id decile of the corpus, how many NEVER-SEEN-BEFORE
    word trigrams first appear there, and the cumulative phrase
    vocabulary. A flattening curve means diminishing returns; a
    linear one means the crawl is still finding new material.
    (Trigrams, not unigrams: a bounded word vocabulary saturates in
    the first slice while phrase space keeps growing — the same
    reason dedup and contamination audits work at n-gram level.)

    Spark-first: "first time a phrase appears" is one min(doc_id)
    aggregation over the exploded gram stream (map-side partial), the
    decile bucketing is integer arithmetic against the max doc id,
    and the cumulative sum runs over VOCAB_DECILES rows — the only
    post-aggregate work is on a ten-row frame.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    ws = tokenize_letters(F.lower(F.col("text")))
    words = docs.select(
        "doc_id", F.explode(word_kgrams(ws, VOCAB_GRAM_K)).alias("word")
    )
    first_seen = words.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    bounds = docs.agg((F.max("doc_id") + 1).alias("n_docs"))
    decile = F.least(
        F.lit(VOCAB_DECILES - 1),
        F.floor(F.col("first_doc") * VOCAB_DECILES / F.col("n_docs")).cast("int"),
    )
    per_decile = (
        first_seen.crossJoin(F.broadcast(bounds))
        .groupBy(decile.alias("decile"))
        .agg(F.count("*").alias("n_new_words"))
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return per_decile.select(
        "decile",
        "n_new_words",
        F.sum("n_new_words").over(w).alias("cum_vocab"),
    )


# --- Stupid-Backoff trigram LM (round 4) ---------------------------------

SB_ALPHA = 0.4  # the Stupid Backoff discount (Brants et al., 2007)
SB_EVAL_MOD = 5  # doc_id % 5 == 0 -> held-out eval slice


def text_trigram_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out trigram scoring with Stupid Backoff — the third-order
    member of the LM-quality family (unigram/bigram score the corpus
    against itself; this one scores an EVAL slice against a TRAIN
    slice, so unseen trigrams actually occur and the backoff chain
    fires):

        S(w3|w1 w2) = c123/c12            if the train slice saw the trigram
                      a * S(w3|w2)        else, S(w3|w2) = c23/c2 if seen
                      a^2 * S(w3)         else, S(w3) = c3/N, floor 1/N

    Per eval doc: mean -ln S in integer micronats (order-invariant
    sum) plus how many tokens resolved at each backoff level — the
    observable that tells a corpus builder whether a slice is
    in-distribution. Plan: one gram explode per order over the train
    slice (all map-side partial aggs), three frequency joins back onto
    the eval gram stream. At this SF the frequency tables broadcast;
    at 100 TB they are shuffle joins pruned to top-K vocab or CMS
    estimates (sketch.py) — same plan shape.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    ws = tokenize_letters(F.lower(F.col("text")))
    is_eval = F.col("doc_id") % SB_EVAL_MOD == 0
    tri = (
        docs.select("doc_id", F.explode(word_kgrams(ws, 3)).alias("tg"))
        .withColumn("w1", F.split("tg", " ").getItem(0))
        .withColumn("w2", F.split("tg", " ").getItem(1))
        .withColumn("w3", F.split("tg", " ").getItem(2))
    )
    train_tri = tri.filter(~is_eval)
    c123 = train_tri.groupBy("tg").agg(F.count("*").alias("c123"))
    bg23 = F.concat_ws(" ", "w2", "w3")
    c23 = train_tri.groupBy(bg23.alias("bg")).agg(F.count("*").alias("c23"))
    c12 = train_tri.groupBy(F.concat_ws(" ", "w1", "w2").alias("ctx12")).agg(
        F.count("*").alias("c12")
    )
    c2 = train_tri.groupBy(F.col("w2").alias("u2")).agg(F.count("*").alias("c2"))
    c3 = train_tri.groupBy(F.col("w3").alias("u3")).agg(F.count("*").alias("c3"))
    n_total = train_tri.agg(F.count("*").alias("n"))
    ev = (
        tri.filter(is_eval)
        .withColumn("bg", bg23)
        .withColumn("ctx12", F.concat_ws(" ", "w1", "w2"))
        .join(F.broadcast(c123), "tg", "left")
        .join(F.broadcast(c12), "ctx12", "left")
        .join(F.broadcast(c23), "bg", "left")
        .join(F.broadcast(c2), F.col("w2") == F.col("u2"), "left")
        .join(F.broadcast(c3), F.col("w3") == F.col("u3"), "left")
        .crossJoin(F.broadcast(n_total))
    )
    uni = F.coalesce(F.col("c3").cast("double") / F.col("n"), F.lit(1.0) / F.col("n"))
    score = (
        F.when(
            F.col("c123").isNotNull(),
            F.col("c123").cast("double") / F.col("c12"),
        )
        .when(
            F.col("c23").isNotNull(),
            F.lit(SB_ALPHA) * F.col("c23").cast("double") / F.col("c2"),
        )
        .otherwise(F.lit(SB_ALPHA) * F.lit(SB_ALPHA) * uni)
    )
    level = (
        F.when(F.col("c123").isNotNull(), F.lit("tri"))
        .when(F.col("c23").isNotNull(), F.lit("bi"))
        .otherwise(F.lit("uni"))
    )
    nl_micro = F.floor(-F.log(score) * 1_000_000.0 + F.lit(0.5)).cast("bigint")
    scored = ev.select("doc_id", nl_micro.alias("nlm"), level.alias("level"))
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_trigrams"),
        round_half_up(F.sum("nlm") / 1_000_000.0 / F.count("*"), 4).alias("avg_neg_logp"),
        F.count(F.when(F.col("level") == "tri", 1)).alias("n_tri_hits"),
        F.count(F.when(F.col("level") == "bi", 1)).alias("n_bi_backoffs"),
        F.count(F.when(F.col("level") == "uni", 1)).alias("n_uni_backoffs"),
    )


# --- PII redaction (round 4) ---------------------------------------------

#: Java regex (Spark) and RE2 (DuckDB) agree on these patterns: no
#: backreferences, no lookaround — plain classes and counted repeats.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_DIGITS = r"[0-9]{5,}"


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the scrub pass every training-data pipeline runs
    before text leaves the enclave: emails and long digit runs (phone/
    account numbers) are counted and replaced with typed placeholders.

    The documents corpus is synthetic (letters only), so the scrub
    runs over a deterministic contact-card projection of the customer
    dimension — built identically in both engines from testdata
    columns — which guarantees the redaction paths actually fire
    instead of matching nothing. Pure map-side: regexp_extract_all +
    regexp_replace per row, no shuffle at any scale; the patterns stay
    in the Java-regex/RE2 common subset so the oracle is bit-identical.
    """
    cust = load_table(spark, sf_dir, "customer")
    handle = F.lower(F.regexp_replace(F.col("c_name"), r"[^A-Za-z0-9]+", "."))
    card = F.concat(
        F.col("c_name"),
        F.lit(" can be reached at "),
        handle,
        F.lit("@example.com or on +1"),
        (F.col("c_custkey") * 7919 + 12345).cast("string"),
        F.lit(" during office hours"),
    )
    doc = cust.select("c_custkey", card.alias("card"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("card"), PII_EMAIL, "<EMAIL>"), PII_DIGITS, "<NUM>"
    )
    return doc.select(
        "c_custkey",
        F.size(F.regexp_extract_all(F.col("card"), F.lit(PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("card"), F.lit(PII_DIGITS), 0)).alias("n_digit_runs"),
        scrubbed.alias("scrubbed"),
    )


# --- context-window packing (round 4) ------------------------------------

PACK_BUDGET = 256  # tokens per packed training sequence


def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: greedily pack documents (in doc_id
    order) into fixed-token-budget training sequences — the step that
    turns a filtered corpus into model-ready samples. A document joins
    the sequence its cumulative starting offset falls in, so sequences
    can overflow the budget by at most one document (the standard
    first-fit-in-order packing; no document is split).

    The running offset is an INTEGER prefix sum — exact in any
    engine/order — computed with the two-pass DISTRIBUTED prefix sum
    (``functions.rank.distributed_prefix``, factored from this query's
    original inline construction): range-partition by doc_id,
    per-partition running sums in parallel, then each partition's
    subtotal rolls into a tiny offset table that broadcasts back. The
    assignment depends only on the doc_id order, never on where the
    (sampled, nondeterministic) range boundaries fall, so the
    serial-window DuckDB oracle matches exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(tokenize_letters(F.col("text"))).alias("n_tokens")
    )
    placed = distributed_prefix(
        toks, ["doc_id"], sums={"cum_tok": "n_tokens"}
    ).withColumn(
        "seq_id",
        # floor, not a double->int cast: Spark casts truncate but
        # DuckDB casts round-to-nearest; floor agrees everywhere.
        F.floor(
            (F.col("cum_tok") - F.col("n_tokens")) / PACK_BUDGET
        ).cast("bigint"),
    )
    return placed.groupBy("seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# --- BPE pair counting (round 4) -----------------------------------------

BPE_TOP = 20  # merge candidates surfaced per iteration


def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-merge iteration: the most frequent adjacent character
    pairs across the corpus, weighted by word frequency — the
    MapReduce-shaped core of tokenizer training (each merge round of
    BPE is exactly this query over the current symbol vocabulary).

    Scale shape is the one real BPE trainers use: the corpus-sized
    work is a single word-frequency aggregation (map-side partial
    combine, the wordcount shuffle); pair extraction then runs over
    the DISTINCT vocabulary only — thousands of rows regardless of
    corpus size — so every subsequent merge iteration is vocab-sized,
    not corpus-sized. No reference analog (reference wc stops at word
    counts, src/mrapps/wc.go:19-40); this is the step after.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(F.explode(tokenize_letters(F.lower(F.col("text")))).alias("word"))
    freq = words.groupBy("word").agg(F.count("*").alias("c"))
    pairs = (
        freq.filter(F.length("word") >= 2)
        # sequence(1, len-1) needs len>=2: Spark infers step -1 when
        # start > stop, which would fabricate pairs for 1-char words.
        .select(
            "c",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
            F.col("word"),
        )
        .select(F.expr("substring(word, i, 2)").alias("pair"), "c")
    )
    agg = pairs.groupBy("pair").agg(F.sum("c").alias("pair_count"))
    # Top-K via TakeOrdered (per-partition top-K + K-row driver merge),
    # then rank the K survivors — never a global sort of the pair vocab.
    top = agg.orderBy(F.col("pair_count").desc(), "pair").limit(BPE_TOP)
    w = W.orderBy(F.col("pair_count").desc(), "pair")
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"), "pair", "pair_count"
    )


# --- overlapping context chunking (round 4) ------------------------------

#: Sized so the multi-chunk path fires on the testdata corpus (docs
#: run 10-99 letter tokens); production values are e.g. 2048/1536 —
#: the plan is size-independent.
CHUNK_SIZE = 48  # tokens per chunk
CHUNK_STRIDE = 32  # new tokens per chunk; CHUNK_SIZE - CHUNK_STRIDE overlap


def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking — the corpus-prep step for
    retrieval indexing and long-document training: each document's
    token stream splits into CHUNK_SIZE-token windows advancing by
    CHUNK_STRIDE (so consecutive chunks share CHUNK_SIZE-CHUNK_STRIDE
    tokens of context). A tail chunk survives only if it extends past
    the previous chunk's end (n - start > overlap) — otherwise it is
    fully contained and adds nothing.

    The packing sibling (``text_pack_sequences``) concatenates SHORT
    documents into fixed budgets; this splits LONG ones. Pure map-side
    row expansion — tokenize, explode the start offsets, index the
    token array — zero shuffle at any scale.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        tokenize_letters(F.col("text")).alias("w"),
    ).select("doc_id", "w", F.size("w").alias("n"))
    overlap = CHUNK_SIZE - CHUNK_STRIDE
    starts = toks.filter(F.col("n") > 0).select(
        "doc_id",
        "w",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))).alias("s"),
    )
    kept = starts.filter((F.col("s") == 0) | (F.col("n") - F.col("s") > overlap))
    chunk_len = F.least(F.lit(CHUNK_SIZE), F.col("n") - F.col("s"))
    return kept.select(
        "doc_id",
        (F.col("s") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.col("s").cast("bigint").alias("start_tok"),
        chunk_len.cast("int").alias("n_chunk_tokens"),
        F.element_at("w", F.col("s") + 1).alias("first_tok"),
        F.element_at("w", (F.col("s") + chunk_len).cast("int")).alias("last_tok"),
    )


# --- deterministic training-order shuffle (round 4) ----------------------

SHUFFLE_SHARDS = 8  # output shards for distributed training readers


def text_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle — the training-order step: a
    reproducible pseudo-random total order (sort by md5 of doc_id) plus
    the round-robin shard each reader consumes. Reproducibility is the
    point: re-running the build on any cluster/partitioning gives byte-
    identical data order, so a training run is replayable.

    A naive global ``row_number`` is one single-task sort; this is the
    two-pass distributed rank (``functions.rank.distributed_prefix``,
    factored from this query's original inline construction):
    range-partition by the shuffle key, rank locally in parallel, then
    roll the per-partition counts into a broadcast offset table.
    Positions depend only on the md5 total order, never on where the
    sampled range boundaries fall.
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("skey")
    )
    return (
        distributed_prefix(keyed, ["skey"], row_number="rn")
        .select("doc_id", (F.col("rn") - 1).alias("shuffle_pos"))
        .withColumn("shard", (F.col("shuffle_pos") % SHUFFLE_SHARDS).cast("int"))
    )


ZIPF_TOP = 100  # terms fitted; rank ties break alphabetically
ZIPF_GRAIN = 1_000_000.0  # ln() values rounded to 1e-6 before summing


def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the top-``ZIPF_TOP`` corpus terms:
    OLS slope/intercept of ln(freq) ~ ln(rank) — the one-number
    diagnostic of whether a corpus has a natural long-tail vocabulary
    (slope near -1) or is template/machine-generated (flatter).

    Scale + determinism shape: term counting is the usual map-side
    partial agg; the top-K is a TakeOrdered reduction (never a global
    sort); the regression runs on K rows. Both engines' ln() can
    differ in the last ulp, so each ln is rounded to integer
    ``ZIPF_GRAIN`` units FIRST and the OLS sums accumulate those
    integers exactly in 64-bit; the slope is then a single
    division of two exact integers — the grain scale cancels between
    numerator and denominator.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        F.explode(tokenize_letters(F.lower(F.col("text")))).alias("term")
    )
    freqs = (
        words.groupBy("term")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("term").asc())
        .limit(ZIPF_TOP)
    )
    w = W.orderBy(F.col("freq").desc(), F.col("term").asc())
    ranked = freqs.withColumn("rank", F.row_number().over(w))
    # Grains ride BIGINT end-to-end: |gx|,|gy| <= ~2e7, so every OLS
    # sum/product below stays under 2^63 (and DuckDB's BIGINT sums
    # widen to HUGEINT on their own) — decimal(38,0) would overflow
    # DuckDB's decimal-product precision instead.
    gx = F.floor(F.log(F.col("rank").cast("double")) * ZIPF_GRAIN + 0.5).cast("long")
    gy = F.floor(F.log(F.col("freq").cast("double")) * ZIPF_GRAIN + 0.5).cast("long")
    grains = ranked.select(gx.alias("gx"), gy.alias("gy"))
    sums = grains.agg(
        F.count("*").alias("k"),
        F.sum("gx").alias("sx"),
        F.sum("gy").alias("sy"),
        F.sum(F.col("gx") * F.col("gy")).alias("sxy"),
        F.sum(F.col("gx") * F.col("gx")).alias("sxx"),
    )
    slope = (
        (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    return sums.select(
        F.col("k").alias("n_terms"),
        round_half_up(slope, 4).alias("zipf_slope"),
    )


#: Burstiness surfaces only terms present in >= 5% of documents
#: (df * BURST_DF_DENOM >= n_docs) — an integer comparison, so the
#: cut is corpus-relative yet engine-exact at any scale factor.
BURST_DF_DENOM = 20


def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term burstiness: variance-to-mean ratio (index of
    dispersion) of a term's count across the documents CONTAINING it.
    Function words sit near Poisson (VMR ~ 1); topical terms cluster
    (VMR >> 1) — the signal behind content-word extraction and
    quality filters that punish keyword-stuffed documents.

    Everything is exact integer arithmetic until one final divide:
    per-(doc, term) counts aggregate to df, cf = sum(c) and
    ssq = sum(c^2); the biased variance-to-mean over containing docs
    is then VMR = (df * ssq - cf^2) / (df * cf) — a ratio of two
    exactly-summed integers (no float mean subtraction, no Welford
    pass), so partial-aggregation order cannot move it. One shuffle
    on (doc, term), one on term; the df cut compares integers.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id", F.explode(tokenize_letters(F.lower(F.col("text")))).alias("term")
    )
    per_doc = words.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    per_term = per_doc.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("c").alias("cf"),
        F.sum(F.col("c") * F.col("c")).alias("ssq"),
    )
    total = docs.agg(F.count("*").alias("n_docs"))
    kept = per_term.crossJoin(F.broadcast(total)).filter(
        F.col("df") * BURST_DF_DENOM >= F.col("n_docs")
    )
    vmr = (
        (F.col("df") * F.col("ssq") - F.col("cf") * F.col("cf")).cast("double")
        / (F.col("df") * F.col("cf")).cast("double")
    )
    return kept.select(
        "term",
        "df",
        "cf",
        round_half_up(F.col("cf").cast("double") / F.col("df"), 4).alias("mean_count"),
        round_half_up(vmr, 4).alias("vmr"),
    )


def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate of a held-out corpus half against the
    training half's vocabulary, per language — the tokenizer/vocab
    health metric an LLM pipeline tracks across corpus versions (a
    rising OOV rate means the vocab no longer fits the data mix).

    Deterministic split by doc parity (train = even doc_id — the same
    engine-invariant hash-split rule as the LM train/eval queries).
    Occurrence counting is exact integers; the OOV probe is one
    anti-ish left join of eval tokens against the distinct train
    vocabulary on the term key (broadcast here; at 100 TB the vocab
    is type-bounded — shuffle-join on the term hash or swap in a
    Bloom prefilter, sketch_bloom_prefilter's shape).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id",
        "lang",
        F.explode(tokenize_letters(F.lower(F.col("text")))).alias("term"),
    )
    vocab = (
        words.filter(F.col("doc_id") % 2 == 0).select("term").distinct()
        .withColumn("known", F.lit(True))
    )
    ev = words.filter(F.col("doc_id") % 2 == 1).join(
        F.broadcast(vocab), "term", "left"
    )
    return ev.groupBy("lang").agg(
        F.count("*").alias("n_tokens"),
        F.count(F.when(F.col("known").isNull(), 1)).alias("n_oov"),
        F.countDistinct(F.when(F.col("known").isNull(), F.col("term"))).alias(
            "n_oov_types"
        ),
        round_half_up(
            F.count(F.when(F.col("known").isNull(), 1)).cast("double")
            / F.count("*"),
            6,
        ).alias("oov_rate"),
    )


def text_weighted_median_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted median of the document quality score — "the
    quality of the median TOKEN", which is what actually enters a
    training mix (a few huge low-quality docs move it; the plain doc
    median hides them).

    Weighted lower median, exact: docs sort by (4-dp quality, doc_id)
    — a total order — cumulative token weight runs over that order,
    and the median is the MIN quality among rows where
    2*cum_weight >= total_weight (an integer comparison; the 2x trick
    avoids halving). The plain doc median (value at rank ceil(n/2))
    rides the same pass for contrast. The rank and running weight come
    from the two-pass distributed prefix (``functions.rank``) — no
    unpartitioned window anywhere, so the doc frame never collapses to
    a single task at any scale.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    ws = whitespace_tokens(F.lower(F.col("text")))
    n = F.size(ws)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(ws, lambda x: F.array_contains(stop_arr, x)))
    total_len = F.aggregate(
        ws, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    avg_len = total_len.cast("double") / n
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n.cast("double") / 100.0)
        + F.lit(0.3) * (n_stop.cast("double") / n)
        + F.lit(0.3) * (1 - F.abs(avg_len - 5) / 10)
    )
    scored = docs.select(
        "doc_id", round_half_up(score, 4).alias("q"), n.cast("long").alias("w")
    )
    ranked = distributed_prefix(
        scored,
        ["q", "doc_id"],
        sums={"cum_w": "w"},
        row_number="rn",
        total_count="n_docs",
    )
    totals = ranked.agg(F.sum("w").alias("total_tokens"))
    j = ranked.crossJoin(F.broadcast(totals))
    return j.agg(
        F.max("n_docs").alias("n_docs"),
        F.max("total_tokens").alias("total_tokens"),
        F.min(F.when(2 * F.col("cum_w") >= F.col("total_tokens"), F.col("q"))).alias(
            "weighted_median_q"
        ),
        F.min(
            F.when(F.col("rn") == F.ceil(F.col("n_docs") * 0.5), F.col("q"))
        ).alias("doc_median_q"),
    )


LOGODDS_PRIOR = 100.0  # total Dirichlet prior mass (Monroe's alpha_0)
LOGODDS_TOP = 5  # distinctive terms surfaced per source


def text_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per corpus source by log-odds ratio with
    an informative Dirichlet prior (Monroe et al. 2008, "Fightin'
    Words") — the standard answer to "what characterizes THIS slice
    of the corpus", where raw tf-idf over-rewards rare typos and raw
    frequency rewards stopwords; the prior (scaled corpus-wide term
    rates) damps both.

    All counts are exact integers from two aggregations ((source,
    term) then the term/source marginals); the z-score is one fixed
    IEEE expression over those integers plus the literal prior mass,
    ROUNDED 4 dp BEFORE ranking with a term tie-break (the tf-idf
    discipline: engine ln/sqrt ulps cannot reorder). Marginals are
    vocabulary- and source-sized and broadcast; the only fact-sized
    exchange is the (source, term) count.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "source", F.explode(tokenize_letters(F.lower(F.col("text")))).alias("term")
    )
    y_st = words.groupBy("source", "term").agg(F.count("*").alias("n"))
    y_t = y_st.groupBy("term").agg(F.sum("n").alias("yt"))
    n_s = y_st.groupBy("source").agg(F.sum("n").alias("ns"))
    total = y_t.agg(F.sum("yt").alias("big_n"))
    j = (
        y_st.join(F.broadcast(y_t), "term")
        .join(F.broadcast(n_s), "source")
        .crossJoin(F.broadcast(total))
    )
    a = F.lit(LOGODDS_PRIOR) * F.col("yt") / F.col("big_n")
    n, yt, ns, big_n = (
        F.col("n").cast("double"),
        F.col("yt").cast("double"),
        F.col("ns").cast("double"),
        F.col("big_n").cast("double"),
    )
    delta = F.log((n + a) / (ns + LOGODDS_PRIOR - n - a)) - F.log(
        (yt - n + a) / (big_n - ns + LOGODDS_PRIOR - (yt - n) - a)
    )
    var = 1.0 / (n + a) + 1.0 / (yt - n + a)
    scored = j.select(
        "source",
        "term",
        F.col("n").alias("n_occurrences"),
        round_half_up(delta / F.sqrt(var), 4).alias("z_score"),
    )
    w = W.partitionBy("source").orderBy(F.col("z_score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= LOGODDS_TOP)
        .select("source", "term", "n_occurrences", "z_score", "rank")
    )


def text_langid_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-agreement matrix between the two language-ID paths —
    the QA readout run before trusting either: cells off the diagonal
    are documents where the stopword lexicon and the trigram profiles
    disagree, and per-cell accuracy against the corpus's own labels
    says which classifier to believe where.

    Pure composition: both existing langid outputs join on doc_id with
    the truth label, then one aggregation over the (lex, trigram)
    prediction pair — the per-doc frames are (doc_id, lang) pairs, so
    the joins shuffle only ids and 2-char codes, never text. Share is
    an exact-integer ratio over the corpus total (window sum).
    """
    truth = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    lex = text_langid(spark, sf_dir).select(
        "doc_id", F.col("pred_lang").alias("lex_lang")
    )
    tri = text_langid_ngram(spark, sf_dir).select(
        "doc_id", F.col("pred_lang").alias("trigram_lang")
    )
    cells = (
        truth.join(lex, "doc_id")
        .join(tri, "doc_id")
        .groupBy("lex_lang", "trigram_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("lex_lang") == F.col("lang"), 1)).alias("n_lex_correct"),
            F.count(F.when(F.col("trigram_lang") == F.col("lang"), 1)).alias(
                "n_trigram_correct"
            ),
        )
    )
    total = F.sum("n_docs").over(W.partitionBy())
    return cells.select(
        "lex_lang",
        "trigram_lang",
        "n_docs",
        "n_lex_correct",
        "n_trigram_correct",
        round_half_up(F.col("n_docs").cast("double") / total, 4).alias("share"),
    )


#: Chars scored per document (prefix cap bounds the explode fan-out:
#: entropy stabilizes within a few hundred chars, so scoring more is
#: waste at corpus scale).
ENTROPY_PREFIX_CHARS = 256
#: ln grain: natural logs rounded to 1e-6 before any summation (the
#: zipf-slope discipline) so engine log ulps cannot move a sum.
ENTROPY_LN_GRAIN = 1_000_000
#: Flag threshold (bits/char): natural text sits near 4; runs of a
#: single repeated token fall under 3.
LOW_ENTROPY_BITS = 3.0


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    gibberish/boilerplate screen (binary junk scores high, repeated-
    template text scores low; both tails get flagged in crawl
    pipelines; this pins the low tail).

    Exactness: entropy = -sum_c (c/n) log2 (c/n) is rewritten so every
    accumulator is an exact integer — each distinct char contributes
    ``count * grain(ln(count/n))`` with the ln pre-rounded to 1e-6
    grains; the single float division back to bits happens on
    identical integers in both engines. Scale shape: the explode is
    capped at ``ENTROPY_PREFIX_CHARS`` rows per doc, the (doc, char)
    partial aggregation combines map-side, and the per-doc rollup
    shuffles at most 256 rows/doc of (id, char, int) triples — text
    itself never shuffles.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    p = F.substring(F.lower(F.col("text")), 1, ENTROPY_PREFIX_CHARS)
    chars = F.transform(
        F.sequence(F.lit(1), F.length(p)), lambda i: F.substr(p, i, F.lit(1))
    )
    counts = (
        docs.filter(F.length("text") > 0)
        .select("doc_id", F.explode(chars).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("c"))
    )
    g = ENTROPY_LN_GRAIN
    # One aggregation per doc, then a map-side fold over the collected
    # count array for the entropy terms (the n-dependent ln can only
    # run once n is known; a window formulation costs an extra
    # sort-exchange over the whole char stream — measured 1.6x slower
    # at sf0.1). The collected array is bounded by the alphabet, and
    # integer term sums are order-invariant, so collect_list's
    # nondeterministic order cannot surface.
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars_scored"),
        F.count("*").alias("n_distinct_chars"),
        F.collect_list("c").alias("cs"),
    )
    n = F.col("n_chars_scored")
    per_doc = per_doc.withColumn(
        "s",
        F.aggregate(
            "cs",
            F.lit(0).cast("long"),
            lambda acc, c: acc
            + c
            * F.floor(F.log(c.cast("double") / n) * g + F.lit(0.5)).cast("long"),
        ),
    ).drop("cs")
    bits = -F.col("s").cast("double") / (
        F.col("n_chars_scored").cast("double") * g * math.log(2.0)
    )
    return per_doc.select(
        "doc_id",
        "n_chars_scored",
        F.col("n_distinct_chars").cast("bigint").alias("n_distinct_chars"),
        round_half_up(bits, 4).alias("entropy_bits"),
        (bits < LOW_ENTROPY_BITS).alias("low_entropy"),
    )


def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility report per language: BPE-ish tokens per
    whitespace word and chars per token — the budgeting numbers an LLM
    pipeline checks per language before fixing a token budget (high-
    fertility languages cost more context per word).

    All three base measures are per-doc integers computed map-side
    (regexp counts + length); the per-language rollup sums exact
    integers and derives the two ratios once from the exact sums.
    One partial-aggregated shuffle on the language key.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(whitespace_tokens(F.col("text"))).alias("ws"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0))).alias("bpe"),
        F.length("text").alias("chars"),
    )
    sums = per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws").alias("ws_tokens"),
        F.sum("bpe").alias("bpe_tokens"),
        F.sum("chars").alias("n_chars"),
    )
    return sums.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        round_half_up(F.col("bpe_tokens").cast("double") / F.col("ws_tokens"), 4).alias(
            "fertility"
        ),
        round_half_up(F.col("n_chars").cast("double") / F.col("bpe_tokens"), 4).alias(
            "chars_per_token"
        ),
    )


#: PMI rounded to this many decimals (single ln over exact integers).
PMI_DIGITS = 6


def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over the co-occurrence pairs —
    the collocation score that separates "occurs together because
    both are frequent" from "occurs together because they belong
    together" (Church & Hanks 1990); the vocabulary-mining step after
    raw counts.

    Document-level PMI: ``ln(n12 * N / (n1 * n2))`` over the SAME
    vocab-bounded pair space as :func:`text_cooccurrence_pairs` (the
    broadcast top-K vocabulary bounds the quadratic). Every count is
    an exact integer; the ratio forms once in double (exact for these
    magnitudes) and takes ONE ln, rounded to 6 dp — the single-float-
    op discipline that keeps engine libm ulps invisible.
    """
    pairs = text_cooccurrence_pairs(spark, sf_dir)
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokenize_letters(F.lower(F.col("text"))))).alias(
            "word"
        ),
    )
    df_counts = words.groupBy("word").agg(F.count("*").alias("df"))
    # one scalar, from parquet FOOTER metadata (no Spark job per
    # invocation — the count is exact at any scale; guide §5: keep the
    # driver out of data work)
    n_docs = table_footer_count(sf_dir, "documents")
    j = (
        pairs.join(
            F.broadcast(df_counts.select(F.col("word").alias("w1"), F.col("df").alias("df1"))),
            "w1",
        )
        .join(
            F.broadcast(df_counts.select(F.col("word").alias("w2"), F.col("df").alias("df2"))),
            "w2",
        )
    )
    pmi = F.log(
        F.col("n_docs").cast("double")
        * F.lit(float(n_docs))
        / (F.col("df1").cast("double") * F.col("df2"))
    )
    return j.select(
        "w1",
        "w2",
        F.col("n_docs").alias("n_docs_pair"),
        "df1",
        "df2",
        round_half_up(pmi, PMI_DIGITS).alias("pmi"),
    )


PPL_BUCKETS = 3  # CCNet head / middle / tail


def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: per language, split documents
    into head / middle / tail thirds by unigram-LM score and report
    each bucket's profile — the triage step CCNet popularized (train
    on head+middle, inspect or drop the tail) and the standard first
    cut on a new crawl.

    Composition on :func:`text_unigram_logprob`; the ntile runs per
    language ordered by (score, doc_id) so tile assignment is total
    and engine-invariant. Bucket averages re-enter exact arithmetic by
    re-graining the per-doc 4dp scores to integers before summation
    (summing rounded DOUBLES would reintroduce order sensitivity).
    The per-doc frame is (id, lang, score) — nothing heavier shuffles.
    """
    scored = text_unigram_logprob(spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = scored.join(langs, "doc_id")
    w = W.partitionBy("lang").orderBy("avg_neg_logp", "doc_id")
    tiled = j.withColumn("bucket", F.ntile(PPL_BUCKETS).over(w))
    g = F.floor(F.col("avg_neg_logp") * 10000.0 + F.lit(0.5)).cast("long")
    return tiled.groupBy("lang", "bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        round_half_up(F.min("avg_neg_logp"), 4).alias("min_neg_logp"),
        round_half_up(
            F.sum(g).cast("double") / 10000.0 / F.count("*"), 4
        ).alias("avg_neg_logp"),
        round_half_up(F.max("avg_neg_logp"), 4).alias("max_neg_logp"),
    )


#: JS terms round to 1e-8 grains before the cross-word sum.
JS_GRAIN = 100_000_000
JS_VOCAB_K = 30  # shared comparison vocabulary (top-K corpus words)


def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every pair of corpus sources'
    unigram distributions — the bounded, symmetric drift measure
    (0 = identical, ln 2 = disjoint) a corpus pipeline tracks to
    answer "did this source's language shift?" and "how different are
    my mixture components really?".

    Distributions live on a shared broadcast top-``JS_VOCAB_K``
    vocabulary (the cooccurrence discipline: fixed-size comparison
    space no matter the corpus). Probabilities are exact-integer
    ratios; each word's two KL terms compute as one float expression
    spelled identically in both engines and pre-round to 1e-8 grains,
    so the cross-word sum is exact-integer and the output is
    partition-order-proof. The full (vocab x source) grid zero-fills
    absent words — their terms contribute q*ln2 from the present
    side, 0 from the absent one.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "source", F.explode(tokenize_letters(F.lower(F.col("text")))).alias("word")
    )
    vocab = (
        words.groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "word")
        .limit(JS_VOCAB_K)
        .select("word")
    )
    counts = (
        words.join(F.broadcast(vocab), "word")
        .groupBy("source", "word")
        .agg(F.count("*").alias("c"))
    )
    sources = docs.select("source").distinct()
    grid = sources.crossJoin(F.broadcast(vocab))
    full = grid.join(counts, ["source", "word"], "left").fillna(0, subset=["c"])
    tot = full.groupBy("source").agg(F.sum("c").alias("t"))
    full = full.join(F.broadcast(tot), "source")
    a = full.select(
        F.col("source").alias("source_a"), "word",
        (F.col("c").cast("double") / F.col("t")).alias("p"),
    )
    b = full.select(
        F.col("source").alias("source_b"), "word",
        (F.col("c").cast("double") / F.col("t")).alias("q"),
    )
    pairs = a.join(b, "word").filter(F.col("source_a") < F.col("source_b"))
    p, q = F.col("p"), F.col("q")
    term = (
        F.when(p > 0, p * F.log(2.0 * p / (p + q))).otherwise(F.lit(0.0))
        + F.when(q > 0, q * F.log(2.0 * q / (p + q))).otherwise(F.lit(0.0))
    ) * 0.5
    g = F.floor(term * JS_GRAIN + F.lit(0.5)).cast("long")
    return (
        pairs.select("source_a", "source_b", g.alias("g"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_words"),
            round_half_up(F.sum("g").cast("double") / JS_GRAIN, 6).alias(
                "js_divergence"
            ),
        )
    )


#: Funnel stage labels, in drop order (index = stage number).
FUNNEL_STAGES_PIPE = (
    "raw",
    "corpus(non-benchmark)",
    "quality",
    "not-repetitive",
    "decontaminated",
    "canonical-copy",
    "in-training-mix",
)


def text_pipeline_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-page corpus-pipeline funnel: how many documents survive
    each stage of the training-data build (benchmark split -> quality
    -> repetition -> decontamination -> exact-dedup canonical ->
    language-balanced mix) — the health readout a data team reads
    before anything trains, because "the mix shrank 40% this week"
    means nothing until you know WHICH stage ate it.

    Each stage's predicate comes from the standalone operator
    (identical constants, identical joins — absent rows count as
    dropped exactly as the mix's inner joins drop them), all seven
    stage counters come out of ONE aggregation over the assembled
    flag frame, and the 7-row unpivot adds shares and per-stage drop
    counts. Cost: the component derivations once each, then a
    single-row pass.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    q = text_quality(spark, sf_dir).select("doc_id", "quality")
    rep = text_repetition(spark, sf_dir).select(
        "doc_id", F.col("repetitive").alias("rep")
    )
    con = text_contamination(spark, sf_dir).select(
        "doc_id", F.col("contaminated").alias("con")
    )
    all_docs = load_table(spark, sf_dir, "documents")
    keep = all_docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("keep_doc_id")
    )
    canon = (
        all_docs.join(keep, F.md5(all_docs.text) == keep.h)
        .filter(F.col("doc_id") == F.col("keep_doc_id"))
        .select("doc_id", F.lit(True).alias("canon"))
    )
    mix = text_training_mix(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("in_mix")
    )
    j = (
        docs.join(q, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .join(con, "doc_id", "left")
        .join(canon, "doc_id", "left")
        .join(mix, "doc_id", "left")
    )
    s1 = F.col("doc_id") % CONTAM_BENCH_MOD != 0
    s2 = s1 & (F.col("quality") >= PIPE_MIN_QUALITY)
    s3 = s2 & F.col("rep").isNotNull() & ~F.col("rep")
    s4 = s3 & F.col("con").isNotNull() & ~F.col("con")
    s5 = s4 & F.col("canon").isNotNull()
    s6 = F.col("in_mix").isNotNull()
    stages = [F.lit(True), s1, s2, s3, s4, s5, s6]
    counts = j.agg(
        *[
            F.count(F.when(cond, 1)).alias(f"s{i}")
            for i, cond in enumerate(stages)
        ]
    )
    stack_expr = ", ".join(
        f"{i}, '{name}', s{i}" for i, name in enumerate(FUNNEL_STAGES_PIPE)
    )
    tall = counts.selectExpr(
        f"stack({len(FUNNEL_STAGES_PIPE)}, {stack_expr})"
        " AS (stage, stage_name, n_docs)"
    )
    w = W.orderBy("stage")
    raw = F.first("n_docs").over(
        W.orderBy("stage").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return tall.select(
        "stage",
        "stage_name",
        "n_docs",
        round_half_up(F.col("n_docs").cast("double") / raw, 4).alias("share_of_raw"),
        F.coalesce(F.lag("n_docs").over(w) - F.col("n_docs"), F.lit(0)).alias(
            "n_dropped"
        ),
    )


BPE_TRAIN_MERGES = 3


def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE trainer's full loop, ``BPE_TRAIN_MERGES`` rounds deep:
    each round finds the corpus's most frequent adjacent symbol pair
    (weighted by word frequency, ties to the lexicographically
    smallest pair) and MERGES it into one symbol everywhere before
    the next round counts — the actual Sennrich et al. 2016 training
    procedure, of which ``text_bpe_pair_counts`` is a single round.

    Scale shape (the one real trainers use): the corpus is touched
    ONCE for the word-frequency table; every merge round then runs on
    the distinct-vocabulary frame (thousands of rows at any corpus
    size). The winning pair is a one-row driver decision per round —
    the same bounded collect as the terasort boundary pick — and the
    merge applies as two plain string-replace passes over padded
    symbol strings (pass one catches odd occurrences, pass two the
    ones adjacent to them; left-to-right non-overlapping replace is
    identical in both engines, reproducing greedy BPE merge order).
    """
    merges, _ = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_rank int, sym_a string, sym_b string, merged string, pair_count bigint",
    )


#: Memoized merge lists per (session, corpus) — plain tuples, no JVM
#: resources; the final-vocab FRAME rides the catalog's shared-persist
#: registry so clear_shared_caches() releases it like every other
#: cached intermediate.
_BPE_MERGES: dict = {}


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Run the merge-learning loop once per (session, corpus); returns
    the merge list and the final per-WORD symbolization frame
    (word, c, s) — the trained tokenizer state both queries consume.
    The frame lives in the shared registry; the merge list (filled as
    a side effect of the same build) in the plain memo — the memo
    strictly outlives the registry entry, so a registry clear simply
    retrains both."""
    key = (id(spark), sf_dir)

    def build():
        docs = spread(load_table(spark, sf_dir, "documents"))
        words = docs.select(
            F.explode(tokenize_letters(F.lower(F.col("text")))).alias("word")
        )
        freq = words.groupBy("word").agg(F.count("*").alias("c"))
        chars = F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.substr(F.col("word"), i, F.lit(1)),
            ),
            " ",
        )
        syms = freq.select(
            "word", "c", F.concat(F.lit(" "), chars, F.lit(" ")).alias("s")
        ).persist()
        merges = []

        def step(syms):
            arr = F.split(F.trim("s"), " ")
            pair_arr = F.when(F.size(arr) < 2, F.array()).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.size(arr) - 1),
                    lambda i: F.concat(
                        F.element_at(arr, i), F.lit(" "), F.element_at(arr, i + 1)
                    ),
                )
            )
            best = (
                syms.select("c", F.explode(pair_arr).alias("pair"))
                .groupBy("pair")
                .agg(F.sum("c").alias("n"))
                .orderBy(F.col("n").desc(), "pair")
                .limit(1)
                .collect()[0]
            )
            a, b = best.pair.split(" ")
            merges.append((len(merges), a, b, a + b, best.n))
            return syms.withColumn(
                "s",
                F.replace(
                    F.replace(
                        F.col("s"), F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
                    ),
                    F.lit(f" {a} {b} "),
                    F.lit(f" {a}{b} "),
                ),
            )

        syms = iterate(syms, step, BPE_TRAIN_MERGES)
        _BPE_MERGES[key] = merges
        return syms

    syms = shared_persist(spark, "bpe_vocab_syms", sf_dir, build)
    return _BPE_MERGES[key], syms


def text_bpe_apply_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merges back to the corpus — the encode
    half of the tokenizer: every document reports its token count
    under the learned vocabulary and the compression the merges
    bought over plain characters (the number a tokenizer team watches
    as merges accumulate).

    The trained per-word symbolization is vocab-sized and broadcast;
    encoding is ONE broadcast join of the corpus word stream against
    it plus a per-doc rollup — the corpus text never reshuffles, and
    at 100 TB this is exactly how a trained tokenizer is applied
    (broadcast the merge table, map the stream).
    """
    _, syms = _bpe_train(spark, sf_dir)
    vocab = syms.select(
        "word",
        F.size(F.split(F.trim("s"), " ")).alias("n_syms"),
        F.length("word").alias("n_chars"),
    )
    docs = spread(load_table(spark, sf_dir, "documents"))
    doc_words = docs.select(
        "doc_id", F.explode(tokenize_letters(F.lower(F.col("text")))).alias("word")
    )
    j = doc_words.join(F.broadcast(vocab), "word")
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("n_syms").alias("n_bpe_tokens"),
        round_half_up(
            F.sum("n_chars").cast("double") / F.sum("n_syms"), 4
        ).alias("chars_per_token"),
    )


def _bpe_cte_prefix() -> str:
    """Unrolled trainer CTE chain (shared by the trainer and apply
    oracles): per round, a 1-row best-pair CTE and a re-written
    vocabulary CTE (same two-pass replace); the word rides along so
    the apply oracle can map the corpus back through the result."""
    sql = """
        WITH freq AS (
            SELECT word, count(*) AS c FROM (
                SELECT unnest(list_filter(
                    regexp_split_to_array(lower(text), '[^\\p{L}]+'), x -> x <> '')) AS word
                FROM documents
            ) GROUP BY word
        ),
        w0 AS (
            SELECT word, c,
                   ' ' || array_to_string(list_transform(range(1, length(word) + 1),
                           i -> substring(word, i, 1)), ' ') || ' ' AS s
            FROM freq
        )"""
    prev = "w0"
    for r in range(BPE_TRAIN_MERGES):
        sql += f""",
        p{r} AS (
            SELECT pair, sum(c) AS n FROM (
                SELECT c, unnest(list_transform(range(1, len(arr)),
                           i -> arr[i] || ' ' || arr[i + 1])) AS pair
                FROM (SELECT c, string_split(trim(s), ' ') AS arr FROM {prev})
            ) GROUP BY pair
        ),
        b{r} AS (
            SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b, n
            FROM p{r} ORDER BY n DESC, pair LIMIT 1
        ),
        w{r + 1} AS (
            SELECT word, c,
                   replace(replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
                           ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s
            FROM {prev} CROSS JOIN b{r}
        )"""
        prev = f"w{r + 1}"
    return sql


def _bpe_train_oracle_sql() -> str:
    selects = [
        f"SELECT {r} AS merge_rank, a AS sym_a, b AS sym_b,"
        f" a || b AS merged, CAST(n AS BIGINT) AS pair_count FROM b{r}"
        for r in range(BPE_TRAIN_MERGES)
    ]
    return _bpe_cte_prefix() + "\n" + " UNION ALL ".join(selects)


def _bpe_apply_oracle_sql() -> str:
    last = f"w{BPE_TRAIN_MERGES}"
    return f"""{_bpe_cte_prefix()},
        vocab AS (
            SELECT word, len(string_split(trim(s), ' ')) AS n_syms,
                   length(word) AS n_chars
            FROM {last}
        ),
        doc_words AS (
            SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(lower(text), '[^\\p{{L}}]+'), x -> x <> '')) AS word
            FROM documents
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
               floor((CAST(sum(n_chars) AS DOUBLE) / sum(n_syms)) * 10000.0 + 0.5)
                   / 10000.0 AS chars_per_token
        FROM doc_words JOIN vocab USING (word)
        GROUP BY doc_id
    """


#: Stopword rule: document frequency share at or above this.
STOPWORD_DF_SHARE = 0.5
STOPWORD_TOP = 25


def text_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven stopword discovery: the words present in the
    largest share of documents — how the stopword lexicons the
    quality/language-ID operators consume get built in the first
    place (a new language or domain has no curated list; its
    ubiquitous words ARE the list).

    One distinct-(doc, word) aggregation gives document frequencies;
    the share divides exact integers against the corpus size; the
    top-``STOPWORD_TOP`` cut is a TakeOrdered reduction (ties broken
    by word), ranked only after the K-row frame exists — the vocab
    never sorts globally. Output is lexicon-sized whatever the corpus.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    dfreq = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(tokenize_letters(F.lower(F.col("text"))))
            ).alias("word"),
        )
        .groupBy("word")
        .agg(F.count("*").alias("df"))
    )
    # footer-metadata count: no per-invocation Spark job (guide §5)
    n_docs = table_footer_count(sf_dir, "documents")
    share = F.col("df").cast("double") / F.lit(float(n_docs))
    top = dfreq.orderBy(F.col("df").desc(), "word").limit(STOPWORD_TOP)
    w = W.orderBy(F.col("df").desc(), "word")
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "word",
        "df",
        round_half_up(share, 4).alias("df_share"),
        (share >= STOPWORD_DF_SHARE).alias("is_stopword"),
    )


#: Vocabulary truncation points for the coverage curve.
COVERAGE_KS = (10, 50, 100, 500, 1000)


def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what share of all corpus TOKENS a
    top-K frequency vocabulary covers, for several K — the
    truncation-tradeoff readout behind every vocab-size decision
    (the complement of the OOV rate at each K).

    One corpus token-frequency aggregation; only the top
    ``max(COVERAGE_KS)`` terms can contribute to any truncation, so
    the ranked frame is a fixed-K TakeOrdered reduction (never a
    global vocab sort) and the total token count is a plain scalar
    aggregate; shares divide exact integers.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    freq = (
        docs.select(
            F.explode(tokenize_letters(F.lower(F.col("text")))).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    total = freq.agg(F.sum("c").alias("total"))
    top = freq.orderBy(F.col("c").desc(), "word").limit(max(COVERAGE_KS))
    ranked = top.withColumn(
        "rank", F.row_number().over(W.orderBy(F.col("c").desc(), "word"))
    )
    frames = []
    agg = ranked.crossJoin(F.broadcast(total)).select("rank", "c", "total")
    for k in COVERAGE_KS:
        frames.append(
            agg.agg(
                F.lit(k).alias("vocab_k"),
                F.coalesce(
                    F.sum(F.when(F.col("rank") <= k, F.col("c"))), F.lit(0)
                ).alias("tokens_covered"),
                F.min("total").alias("tokens_total"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select(
        "vocab_k",
        "tokens_covered",
        "tokens_total",
        round_half_up(
            F.col("tokens_covered").cast("double") / F.col("tokens_total"), 4
        ).alias("coverage"),
    )


# --- encoding-artifact screen (ftfy-class quality gate) ----------------

#: (class, regex) — patterns valid and identically-matching in both
#: Java regex (Spark) and RE2 (DuckDB): literal alternations and plain
#: counted classes only, leftmost non-overlapping matches.
MOJIBAKE_PATTERNS = (
    ("mojibake_utf8", "Ã|Â|â€"),
    ("replacement_char", "�"),
    ("repeated_punct", "[!?.,;]{3,}"),
    ("digit_run", "[0-9]{6,}"),
    ("multi_space", "   *"),
)


def text_mojibake_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-artifact screen — the ftfy-class gate a crawl pipeline
    runs before tokenization: double-decoded UTF-8 markers (Ã/Â/â€ —
    the signature of UTF-8 bytes re-read as Latin-1), U+FFFD
    replacement chars (lossy transcoding), plus the mechanical noise
    classes (punctuation runs, long digit runs, space runs) that
    Gopher/C4-style quality rules strip. Per source: documents
    affected and total occurrences per class — the dashboard that
    says which feed needs re-ingestion.

    One scan; each class is one vectorized ``regexp_extract_all``
    count folded map-side (JVM regex, no UDF); the rollup is a
    source-keyed partial aggregation. Patterns are restricted to the
    Java-regex/RE2 common subset so the oracle matches match-for-match.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    cols = [F.col("source"), F.col("doc_id")]
    for name, pat in MOJIBAKE_PATTERNS:
        cols.append(
            F.size(F.regexp_extract_all("text", F.lit(pat), 0)).alias(name)
        )
    per_doc = docs.select(*cols)
    aggs = [F.count("*").alias("n_docs")]
    for name, _ in MOJIBAKE_PATTERNS:
        aggs.append(
            F.count(F.when(F.col(name) > 0, 1)).alias(f"docs_{name}")
        )
        aggs.append(F.sum(name).alias(f"hits_{name}"))
    clean = F.count(
        F.when(
            sum(F.col(n) for n, _ in MOJIBAKE_PATTERNS) == 0, 1
        )
    )
    aggs.append(
        round_half_up(clean.cast("double") / F.count("*"), 4).alias("clean_share")
    )
    return per_doc.groupBy("source").agg(*aggs)


# --- per-document novelty (memorization / redundancy signal) -----------

NOVELTY_GRAM_K = 3
NOVELTY_DECILES = 10
NOVELTY_LOW = 200_000  # novelty grain < 0.2 -> redundant-doc flag


def text_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty against everything ingested BEFORE it:
    the share of a doc's distinct word trigrams whose corpus-wide
    first appearance is the doc itself. ``text_vocab_growth`` answers
    the corpus-level question (is the crawl still finding new
    phrases); this is the per-DOC filter signal — a document whose
    phrases were all seen earlier is redundant even if no single
    earlier document near-duplicates it (the many-sources-stitched
    case pairwise dedup misses). Rolled up per ingestion-order decile:
    mean novelty and the redundant-doc share.

    One min(doc_id) aggregation over the exploded gram stream, one
    join of per-doc gram counts back to it (both partial-aggregated
    shuffles on the gram key), then a 10-row rollup. Per-doc ratios
    quantize to 1e-6 grains (one int/int division, identical in both
    engines) before the decile mean.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    ws = tokenize_letters(F.lower(F.col("text")))
    grams = docs.select(
        "doc_id", F.explode(word_kgrams(ws, NOVELTY_GRAM_K)).alias("gram")
    )
    per = grams.distinct()
    first = per.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    j = per.join(first, "gram")
    per_doc = j.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1)).alias(
            "n_first"
        ),
    )
    nov_g = F.floor(
        F.col("n_first").cast("double") / F.col("n_grams") * 1e6 + F.lit(0.5)
    ).cast("long")
    bounds = docs.agg((F.max("doc_id") + 1).alias("n_docs"))
    decile = F.least(
        F.lit(NOVELTY_DECILES - 1),
        F.floor(F.col("doc_id") * NOVELTY_DECILES / F.col("n_docs")).cast("int"),
    )
    return (
        per_doc.crossJoin(F.broadcast(bounds))
        .select(decile.alias("decile"), nov_g.alias("nov_g"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            round_half_up(F.sum("nov_g").cast("double") / 1e6 / F.count("*"), 4)
            .alias("mean_novelty"),
            round_half_up(
                F.count(F.when(F.col("nov_g") < NOVELTY_LOW, 1)).cast("double")
                / F.count("*"),
                4,
            ).alias("redundant_share"),
        )
    )


# --- lexicon topic / domain classification ------------------------------

#: Keyword lexicons per topic — the fastText-lexicon-classifier shape
#: LLM pipelines use to route documents to domain-specific handling
#: (code vs prose vs boilerplate). Disjoint by construction so a
#: token scores exactly one topic.
TOPIC_LEXICON = {
    "engine": ("scan", "filter", "hash", "merge", "sort", "agg", "join"),
    "relational": (
        "table",
        "row",
        "column",
        "query",
        "key",
        "value",
        "order",
        "group",
    ),
    "pipeline": ("batch", "stream", "window", "spark", "data", "line", "vector"),
}


def text_keyword_topic_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based topic/domain classification with a per-source mix
    report — the cheap router stage of a corpus pipeline: count each
    doc's token OCCURRENCES per topic lexicon, label it with the
    argmax topic (ties and zero-hit docs break deterministically:
    lowest topic name; no hits at all -> ``unlabeled``), then report
    per (source, topic) document counts, total lexicon hits, and the
    topic's share of the source.

    Scale shape: the lexicon broadcasts (dozens of rows); the only
    fact-sized shuffles are the token explode's (doc, topic) count and
    the per-doc argmax window (partitioned by doc_id — never global);
    the share join is against a per-source total frame bounded by the
    source domain.
    """
    docs = load_table(spark, sf_dir, "documents")
    lex_rows = [(t, w) for t, words in TOPIC_LEXICON.items() for w in words]
    lex = spark.createDataFrame(lex_rows, "topic string, word string")
    words = docs.select(
        "doc_id", F.explode(tokenize_letters(F.lower(F.col("text")))).alias("word")
    )
    hits = (
        words.join(F.broadcast(lex), "word")
        .groupBy("doc_id", "topic")
        .agg(F.count("*").alias("hits"))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("hits").desc(), "topic")
    best = hits.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    labeled = (
        docs.select("doc_id", "source")
        .join(best.select("doc_id", "topic", "hits"), "doc_id", "left")
        .select(
            "source",
            F.coalesce("topic", F.lit("unlabeled")).alias("topic"),
            F.coalesce("hits", F.lit(0)).alias("hits"),
        )
    )
    per = labeled.groupBy("source", "topic").agg(
        F.count("*").alias("n_docs"),
        F.sum("hits").alias("total_hits"),
    )
    tot = per.groupBy("source").agg(F.sum("n_docs").alias("n_src"))
    return per.join(tot, "source").select(
        "source",
        "topic",
        "n_docs",
        F.col("total_hits").cast("bigint").alias("total_hits"),
        round_half_up(
            F.col("n_docs").cast("double") / F.col("n_src").cast("double"), 4
        ).alias("share"),
    )


QUERIES = {
    "text_keyword_topic_classify": text_keyword_topic_classify,
    "text_mojibake_detect": text_mojibake_detect,
    "text_doc_novelty": text_doc_novelty,
    "text_stopword_discovery": text_stopword_discovery,
    "text_vocab_coverage_curve": text_vocab_coverage_curve,
    "text_bpe_train_merges": text_bpe_train_merges,
    "text_bpe_apply_encode": text_bpe_apply_encode,
    "text_pipeline_funnel_report": text_pipeline_funnel_report,
    "text_js_divergence_sources": text_js_divergence_sources,
    "text_perplexity_buckets": text_perplexity_buckets,
    "text_pmi_collocations": text_pmi_collocations,
    "text_langid_agreement": text_langid_agreement,
    "text_char_entropy": text_char_entropy,
    "text_tokenizer_fertility": text_tokenizer_fertility,
    "text_distinctive_terms": text_distinctive_terms,
    "text_priority_sample": text_priority_sample,
    "text_quality_drift": text_quality_drift,
    "text_oov_rate": text_oov_rate,
    "text_weighted_median_quality": text_weighted_median_quality,
    "text_zipf_slope": text_zipf_slope,
    "text_term_burstiness": text_term_burstiness,
    "text_vocab_growth": text_vocab_growth,
    "text_trigram_backoff_logprob": text_trigram_backoff_logprob,
    "text_shuffle_order": text_shuffle_order,
    "text_bpe_pair_counts": text_bpe_pair_counts,
    "text_chunk_overlap": text_chunk_overlap,
    "text_bigram_logprob": text_bigram_logprob,
    "text_pii_scrub": text_pii_scrub,
    "text_pack_sequences": text_pack_sequences,
    "text_repetition": text_repetition,
    "text_langid_ngram": text_langid_ngram,
    "text_unigram_logprob": text_unigram_logprob,
    "text_training_mix": text_training_mix,
    "text_contamination": text_contamination,
    "text_stratified_sample": text_stratified_sample,
    "text_weighted_sample": text_weighted_sample,
    "text_hash_features": text_hash_features,
    "text_cooccurrence_pairs": text_cooccurrence_pairs,
    "text_stats": text_stats,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_token_count": text_token_count,
    "text_tfidf_top_terms": text_tfidf_top_terms,
    "text_rolling_hash": text_rolling_hash,
    "text_deterministic_sample": text_deterministic_sample,
    "text_corpus_pipeline": text_corpus_pipeline,
    "text_token_stats_by_lang": text_token_stats_by_lang,
}

_WS = r"list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"
_WS_LOWER = r"list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"
_LETTERS_LOWER = r"list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> x <> '')"
_LETTERS_RAW_TOKENS = r"list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')"
_STOP_LIST = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
_LEX_VALUES = ", ".join(
    f"('{lang}', '{w}')" for lang, words in LANG_LEXICON.items() for w in words
)
_LANG_VALUES = ", ".join(f"('{lang}')" for lang in LANG_LEXICON)

#: Oracle twin of _doc_hex(): the first 4 md5 hex digits of the
#: stringified doc_id as an integer.
_HEX_BUCKET = sql_hex_int("md5(CAST(doc_id AS VARCHAR))", 4)

def _mojibake_oracle_sql() -> str:
    per_doc_cols = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS {name}"
        for name, pat in MOJIBAKE_PATTERNS
    )
    aggs = ["CAST(count(*) AS BIGINT) AS n_docs"]
    for name, _ in MOJIBAKE_PATTERNS:
        aggs.append(
            f"CAST(count(CASE WHEN {name} > 0 THEN 1 END) AS BIGINT)"
            f" AS docs_{name}"
        )
        aggs.append(f"CAST(sum({name}) AS BIGINT) AS hits_{name}")
    zero = " + ".join(name for name, _ in MOJIBAKE_PATTERNS)
    aggs.append(
        sql_round(
            f"CAST(count(CASE WHEN {zero} = 0 THEN 1 END) AS DOUBLE)"
            " / CAST(count(*) AS DOUBLE)",
            4,
        )
        + " AS clean_share"
    )
    return f"""
        WITH per_doc AS (
            SELECT source, doc_id, {per_doc_cols} FROM documents
        )
        SELECT source, {", ".join(aggs)} FROM per_doc GROUP BY source
    """


ORACLES = {
    "text_mojibake_detect": _mojibake_oracle_sql(),
    "text_doc_novelty": f"""
        WITH t AS (SELECT doc_id, {_LETTERS_LOWER} AS ws FROM documents),
        grams AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(ws) - 1),
                       i -> ws[CAST(i AS INTEGER)] || ' '
                            || ws[CAST(i + 1 AS INTEGER)] || ' '
                            || ws[CAST(i + 2 AS INTEGER)])) AS gram
            FROM t WHERE len(ws) >= {NOVELTY_GRAM_K}
        ),
        first_seen AS (
            SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram
        ),
        per_doc AS (
            SELECT g.doc_id, count(*) AS n_grams,
                   count(CASE WHEN f.first_doc = g.doc_id THEN 1 END)
                       AS n_first
            FROM grams g JOIN first_seen f ON g.gram = f.gram
            GROUP BY g.doc_id
        ),
        bounds AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),
        graded AS (
            SELECT CAST(least({NOVELTY_DECILES - 1},
                        floor(doc_id * {NOVELTY_DECILES} / n_docs))
                       AS INTEGER) AS decile,
                   CAST(floor(CAST(n_first AS DOUBLE) / n_grams * 1e6 + 0.5)
                       AS BIGINT) AS nov_g
            FROM per_doc CROSS JOIN bounds
        )
        SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
               {sql_round(
                   "CAST(sum(nov_g) AS DOUBLE) / 1e6 / CAST(count(*) AS DOUBLE)",
                   4,
               )} AS mean_novelty,
               {sql_round(
                   "CAST(count(CASE WHEN nov_g < " + str(NOVELTY_LOW)
                   + " THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)",
                   4,
               )} AS redundant_share
        FROM graded GROUP BY decile
    """,
    "text_quality_drift": f"""
        WITH t AS (SELECT doc_id, {_WS_LOWER} AS ws FROM documents),
        m AS (
            SELECT doc_id,
                   len(ws) AS n,
                   len(list_filter(ws, x -> list_contains({_STOP_LIST}, x)))
                       AS n_stop,
                   CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                       / len(ws) AS avg_len
            FROM t
        ),
        scored AS (
            SELECT doc_id,
                   CAST(floor((CAST(0.4 AS DOUBLE)
                          * least(CAST(1.0 AS DOUBLE),
                                  CAST(n AS DOUBLE) / CAST(100.0 AS DOUBLE))
                        + CAST(0.3 AS DOUBLE) * (CAST(n_stop AS DOUBLE) / n)
                        + CAST(0.3 AS DOUBLE) * (1 - abs(avg_len - 5) / 10))
                        * 10000.0 + 0.5) AS BIGINT) AS q_grains,
                   CAST(n AS BIGINT) AS n_tokens
            FROM m
        ),
        bounds AS (SELECT max(doc_id) + 1 AS n_docs FROM documents)
        SELECT CAST(least({DRIFT_DECILES - 1},
                    floor(doc_id * {DRIFT_DECILES} / n_docs)) AS INTEGER)
                   AS decile,
               CAST(count(*) AS BIGINT) AS n_docs,
               floor(CAST(sum(q_grains) AS DOUBLE) / 10000.0 / count(*)
                     * 10000.0 + 0.5) / 10000.0 AS avg_quality,
               floor(CAST(count(CASE WHEN q_grains < 4000 THEN 1 END) AS DOUBLE)
                     / count(*) * 10000.0 + 0.5) / 10000.0 AS low_share,
               floor(CAST(sum(n_tokens) AS DOUBLE) / count(*) * 100.0 + 0.5)
                   / 100.0 AS avg_tokens
        FROM scored CROSS JOIN bounds
        GROUP BY 1
    """,
    "text_priority_sample": f"""
        WITH t AS (
            SELECT doc_id, lang,
                   CAST(len({_WS_LOWER}) AS BIGINT) AS weight,
                   ({_HEX_BUCKET} + 1) / 65536.0 AS u
            FROM documents
        )
        SELECT doc_id, lang, weight,
               floor(CAST(weight AS DOUBLE) / u * 10000.0 + 0.5) / 10000.0
                   AS priority
        FROM t
        ORDER BY priority DESC, doc_id
        LIMIT {PRIORITY_SAMPLE_K}
    """,
    "text_distinctive_terms": f"""
        WITH words AS (
            SELECT source, unnest({_LETTERS_LOWER}) AS term FROM documents
        ),
        y_st AS (
            SELECT source, term, count(*) AS n FROM words GROUP BY 1, 2
        ),
        y_t AS (SELECT term, sum(n) AS yt FROM y_st GROUP BY term),
        n_s AS (SELECT source, sum(n) AS ns FROM y_st GROUP BY source),
        total AS (SELECT sum(yt) AS big_n FROM y_t),
        scored AS (
            SELECT s.source, s.term, s.n AS n_occurrences,
                   floor((
                       ln((CAST(s.n AS DOUBLE)
                           + {LOGODDS_PRIOR} * y_t.yt / t.big_n)
                          / (CAST(n_s.ns AS DOUBLE) + {LOGODDS_PRIOR}
                             - CAST(s.n AS DOUBLE)
                             - {LOGODDS_PRIOR} * y_t.yt / t.big_n))
                     - ln((CAST(y_t.yt AS DOUBLE) - CAST(s.n AS DOUBLE)
                           + {LOGODDS_PRIOR} * y_t.yt / t.big_n)
                          / (CAST(t.big_n AS DOUBLE) - CAST(n_s.ns AS DOUBLE)
                             + {LOGODDS_PRIOR}
                             - (CAST(y_t.yt AS DOUBLE) - CAST(s.n AS DOUBLE))
                             - {LOGODDS_PRIOR} * y_t.yt / t.big_n))
                   ) / sqrt(
                       1.0 / (CAST(s.n AS DOUBLE)
                              + {LOGODDS_PRIOR} * y_t.yt / t.big_n)
                     + 1.0 / (CAST(y_t.yt AS DOUBLE) - CAST(s.n AS DOUBLE)
                              + {LOGODDS_PRIOR} * y_t.yt / t.big_n)
                   ) * 10000.0 + 0.5) / 10000.0 AS z_score
            FROM y_st s
            JOIN y_t USING (term)
            JOIN n_s USING (source)
            CROSS JOIN total t
        )
        SELECT source, term, CAST(n_occurrences AS BIGINT) AS n_occurrences,
               z_score, CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY source ORDER BY z_score DESC, term) AS rank
            FROM scored
        ) WHERE rank <= {LOGODDS_TOP}
    """,
    "text_oov_rate": f"""
        WITH words AS (
            SELECT doc_id, lang, unnest({_LETTERS_LOWER}) AS term
            FROM documents
        ),
        vocab AS (SELECT DISTINCT term FROM words WHERE doc_id % 2 = 0),
        ev AS (
            SELECT w.lang, w.term, (v.term IS NOT NULL) AS known
            FROM words w LEFT JOIN vocab v ON w.term = v.term
            WHERE w.doc_id % 2 = 1
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(CASE WHEN NOT known THEN 1 END) AS BIGINT) AS n_oov,
               CAST(count(DISTINCT CASE WHEN NOT known THEN term END)
                    AS BIGINT) AS n_oov_types,
               floor(CAST(count(CASE WHEN NOT known THEN 1 END) AS DOUBLE)
                     / count(*) * 1000000.0 + 0.5) / 1000000.0 AS oov_rate
        FROM ev GROUP BY lang
    """,
    "text_weighted_median_quality": f"""
        WITH t AS (SELECT doc_id, {_WS_LOWER} AS ws FROM documents),
        m AS (
            SELECT doc_id,
                   len(ws) AS n,
                   len(list_filter(ws, x -> list_contains({_STOP_LIST}, x)))
                       AS n_stop,
                   CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                       / len(ws) AS avg_len
            FROM t
        ),
        scored AS (
            SELECT doc_id,
                   floor((CAST(0.4 AS DOUBLE)
                          * least(CAST(1.0 AS DOUBLE),
                                  CAST(n AS DOUBLE) / CAST(100.0 AS DOUBLE))
                        + CAST(0.3 AS DOUBLE) * (CAST(n_stop AS DOUBLE) / n)
                        + CAST(0.3 AS DOUBLE) * (1 - abs(avg_len - 5) / 10))
                        * 10000.0 + 0.5) / 10000.0 AS q,
                   CAST(n AS BIGINT) AS w
            FROM m
        ),
        ranked AS (
            SELECT q, w,
                   sum(w) OVER (ORDER BY q, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum_w,
                   row_number() OVER (ORDER BY q, doc_id) AS rn
            FROM scored
        ),
        totals AS (
            SELECT count(*) AS n_docs, sum(w) AS total_tokens FROM scored
        )
        SELECT CAST(n_docs AS BIGINT) AS n_docs,
               CAST(total_tokens AS BIGINT) AS total_tokens,
               min(CASE WHEN 2 * cum_w >= total_tokens THEN q END)
                   AS weighted_median_q,
               min(CASE WHEN rn = ceil(n_docs * 0.5) THEN q END)
                   AS doc_median_q
        FROM ranked CROSS JOIN totals
        GROUP BY n_docs, total_tokens
    """,
    "text_zipf_slope": f"""
        WITH words AS (
            SELECT unnest({_LETTERS_LOWER}) AS term FROM documents
        ),
        freqs AS (
            SELECT term, count(*) AS freq FROM words GROUP BY term
            ORDER BY freq DESC, term ASC LIMIT {ZIPF_TOP}
        ),
        ranked AS (
            SELECT freq,
                   row_number() OVER (ORDER BY freq DESC, term ASC) AS rank
            FROM freqs
        ),
        grains AS (
            SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * {ZIPF_GRAIN} + 0.5)
                        AS BIGINT) AS gx,
                   CAST(floor(ln(CAST(freq AS DOUBLE)) * {ZIPF_GRAIN} + 0.5)
                        AS BIGINT) AS gy
            FROM ranked
        ),
        sums AS (
            SELECT count(*) AS k, sum(gx) AS sx, sum(gy) AS sy,
                   sum(gx * gy) AS sxy, sum(gx * gx) AS sxx
            FROM grains
        )
        SELECT CAST(k AS BIGINT) AS n_terms,
               floor(CAST(k * sxy - sx * sy AS DOUBLE)
                     / CAST(k * sxx - sx * sx AS DOUBLE) * 10000.0 + 0.5)
                   / 10000.0 AS zipf_slope
        FROM sums
    """,
    "text_term_burstiness": f"""
        WITH words AS (
            SELECT doc_id, unnest({_LETTERS_LOWER}) AS term FROM documents
        ),
        per_doc AS (
            SELECT doc_id, term, count(*) AS c FROM words GROUP BY 1, 2
        ),
        per_term AS (
            SELECT term, count(*) AS df, sum(c) AS cf, sum(c * c) AS ssq
            FROM per_doc GROUP BY term
        ),
        total AS (SELECT count(*) AS n_docs FROM documents)
        SELECT term, CAST(df AS BIGINT) AS df, CAST(cf AS BIGINT) AS cf,
               floor(CAST(cf AS DOUBLE) / df * 10000.0 + 0.5) / 10000.0
                   AS mean_count,
               floor(CAST(df * ssq - cf * cf AS DOUBLE)
                     / CAST(df * cf AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS vmr
        FROM per_term CROSS JOIN total
        WHERE df * {BURST_DF_DENOM} >= n_docs
    """,
    "text_vocab_growth": f"""
        WITH t AS (SELECT doc_id, {_LETTERS_LOWER} AS ws FROM documents),
        words AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(ws) - 1),
                       i -> ws[CAST(i AS INTEGER)] || ' ' || ws[CAST(i + 1 AS INTEGER)]
                            || ' ' || ws[CAST(i + 2 AS INTEGER)])) AS word
            FROM t WHERE len(ws) >= {VOCAB_GRAM_K}
        ),
        first_seen AS (
            SELECT word, min(doc_id) AS first_doc FROM words GROUP BY word
        ),
        bounds AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),
        per_decile AS (
            SELECT CAST(least({VOCAB_DECILES - 1},
                        floor(first_doc * {VOCAB_DECILES} / n_docs)) AS INTEGER) AS decile,
                   CAST(count(*) AS BIGINT) AS n_new_words
            FROM first_seen CROSS JOIN bounds
            GROUP BY 1
        )
        SELECT decile, n_new_words,
               CAST(sum(n_new_words) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_vocab
        FROM per_decile
    """,
    "text_trigram_backoff_logprob": f"""
        WITH t AS (SELECT doc_id, {_LETTERS_LOWER} AS w FROM documents),
        tri AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w) - 1),
                       i -> w[CAST(i AS INTEGER)] || ' ' || w[CAST(i + 1 AS INTEGER)]
                            || ' ' || w[CAST(i + 2 AS INTEGER)])) AS tg
            FROM t WHERE len(w) >= 3
        ),
        g AS (
            SELECT doc_id, tg,
                   split_part(tg, ' ', 1) AS w1,
                   split_part(tg, ' ', 2) AS w2,
                   split_part(tg, ' ', 3) AS w3
            FROM tri
        ),
        train AS (SELECT * FROM g WHERE doc_id % {SB_EVAL_MOD} <> 0),
        ev AS (SELECT * FROM g WHERE doc_id % {SB_EVAL_MOD} = 0),
        f123 AS (SELECT tg, count(*) AS c123 FROM train GROUP BY tg),
        f12 AS (SELECT w1 || ' ' || w2 AS ctx12, count(*) AS c12 FROM train GROUP BY 1),
        f23 AS (SELECT w2 || ' ' || w3 AS bg, count(*) AS c23 FROM train GROUP BY 1),
        f2 AS (SELECT w2, count(*) AS c2 FROM train GROUP BY w2),
        f3 AS (SELECT w3, count(*) AS c3 FROM train GROUP BY w3),
        n_total AS (SELECT count(*) AS n FROM train),
        sc AS (
            SELECT e.doc_id,
                   CASE WHEN f123.c123 IS NOT NULL
                             THEN CAST(f123.c123 AS DOUBLE) / f12.c12
                        WHEN f23.c23 IS NOT NULL
                             THEN {SB_ALPHA} * CAST(f23.c23 AS DOUBLE) / f2.c2
                        ELSE {SB_ALPHA} * {SB_ALPHA}
                             * coalesce(CAST(f3.c3 AS DOUBLE) / n_total.n, 1.0 / n_total.n)
                   END AS s,
                   CASE WHEN f123.c123 IS NOT NULL THEN 'tri'
                        WHEN f23.c23 IS NOT NULL THEN 'bi'
                        ELSE 'uni' END AS level
            FROM ev e
            LEFT JOIN f123 USING (tg)
            LEFT JOIN f12 ON f12.ctx12 = e.w1 || ' ' || e.w2
            LEFT JOIN f23 ON f23.bg = e.w2 || ' ' || e.w3
            LEFT JOIN f2 ON f2.w2 = e.w2
            LEFT JOIN f3 ON f3.w3 = e.w3
            CROSS JOIN n_total
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_trigrams,
               floor((sum(CAST(floor(-ln(s) * 1000000.0 + 0.5) AS BIGINT))
                      / 1000000.0 / count(*)) * 10000.0 + 0.5) / 10000.0 AS avg_neg_logp,
               CAST(count(*) FILTER (level = 'tri') AS BIGINT) AS n_tri_hits,
               CAST(count(*) FILTER (level = 'bi') AS BIGINT) AS n_bi_backoffs,
               CAST(count(*) FILTER (level = 'uni') AS BIGINT) AS n_uni_backoffs
        FROM sc GROUP BY doc_id
    """,
    "text_shuffle_order": f"""
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1
                    AS BIGINT) AS shuffle_pos,
               CAST((row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1)
                    % {SHUFFLE_SHARDS} AS INTEGER) AS shard
        FROM documents
    """,
    "text_bpe_pair_counts": f"""
        WITH words AS (
            SELECT unnest({_LETTERS_LOWER}) AS word FROM documents
        ),
        freq AS (SELECT word, count(*) AS c FROM words GROUP BY word),
        pairs AS (
            SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, c
            FROM freq, LATERAL (SELECT unnest(range(1, len(word))) AS i)
            WHERE len(word) >= 2
        ),
        agg AS (SELECT pair, sum(c) AS pair_count FROM pairs GROUP BY pair)
        SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, pair) AS INTEGER) AS rank,
               pair, CAST(pair_count AS BIGINT) AS pair_count
        FROM agg
        ORDER BY pair_count DESC, pair
        LIMIT {BPE_TOP}
    """,
    "text_chunk_overlap": f"""
        WITH toks AS (
            SELECT doc_id, {_LETTERS_RAW_TOKENS} AS w FROM documents
        ),
        sized AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0),
        starts AS (
            SELECT doc_id, w, n, CAST(s AS BIGINT) AS s
            FROM sized, LATERAL (SELECT unnest(range(0, n, {CHUNK_STRIDE})) AS s)
        ),
        kept AS (
            SELECT * FROM starts
            WHERE s = 0 OR n - s > {CHUNK_SIZE - CHUNK_STRIDE}
        )
        SELECT doc_id,
               CAST(s / {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
               s AS start_tok,
               CAST(least({CHUNK_SIZE}, n - s) AS INTEGER) AS n_chunk_tokens,
               w[CAST(s + 1 AS INTEGER)] AS first_tok,
               w[CAST(s + least({CHUNK_SIZE}, n - s) AS INTEGER)] AS last_tok
        FROM kept
    """,
    "text_bigram_logprob": f"""
        WITH ws AS (
            SELECT doc_id, {_LETTERS_LOWER} AS w FROM documents
        ),
        grams AS (
            SELECT doc_id, unnest(list_transform(range(1, len(w)),
                   i -> w[CAST(i AS INTEGER)] || ' ' || w[CAST(i + 1 AS INTEGER)])) AS bg
            FROM ws
        ),
        g AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM grams),
        bgf AS (SELECT bg, count(*) AS c_bg FROM g GROUP BY bg),
        ctx AS (SELECT w1, count(*) AS c_ctx FROM g GROUP BY w1),
        nl AS (
            SELECT doc_id,
                   CAST(floor((-ln(c_bg / CAST(c_ctx AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) AS nlm
            FROM g JOIN bgf USING (bg) JOIN ctx USING (w1)
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               floor((sum(nlm) / 1000000.0 / count(*)) * 10000.0 + 0.5) / 10000.0 AS avg_neg_logp
        FROM nl GROUP BY doc_id
    """,
    "text_pii_scrub": f"""
        WITH card AS (
            SELECT c_custkey,
                   c_name || ' can be reached at '
                   || lower(regexp_replace(c_name, '[^A-Za-z0-9]+', '.', 'g'))
                   || '@example.com or on +1'
                   || CAST(c_custkey * 7919 + 12345 AS VARCHAR)
                   || ' during office hours' AS card
            FROM customer
        )
        SELECT c_custkey,
               CAST(len(regexp_extract_all(card, '{PII_EMAIL}')) AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(card, '{PII_DIGITS}')) AS INTEGER) AS n_digit_runs,
               regexp_replace(regexp_replace(card, '{PII_EMAIL}', '<EMAIL>', 'g'),
                              '{PII_DIGITS}', '<NUM>', 'g') AS scrubbed
        FROM card
    """,
    "text_pack_sequences": f"""
        WITH toks AS (
            SELECT doc_id, CAST(len({_LETTERS_RAW_TOKENS}) AS BIGINT) AS n_tokens
            FROM documents
        ),
        placed AS (
            SELECT doc_id, n_tokens,
                   CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                               - n_tokens) / {PACK_BUDGET}) AS BIGINT) AS seq_id
            FROM toks
        )
        SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM placed GROUP BY seq_id
    """,
    "text_unigram_logprob": f"""
        WITH words AS (
            SELECT doc_id, unnest({_LETTERS_LOWER}) AS word FROM documents
        ),
        freq AS (SELECT word, count(*) AS c FROM words GROUP BY word),
        tot AS (SELECT count(*) AS total FROM words),
        nl AS (
            SELECT doc_id,
                   CAST(floor((-ln(c / CAST(total AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) AS nlm
            FROM words JOIN freq USING (word) CROSS JOIN tot
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               floor((sum(nlm) / 1000000.0 / count(*)) * 10000.0 + 0.5) / 10000.0 AS avg_neg_logp
        FROM nl GROUP BY doc_id
    """,
    "text_langid_ngram": f"""
        WITH tg AS (
            SELECT DISTINCT doc_id, lang, tg FROM (
                SELECT doc_id, lang,
                       unnest(list_transform(range(1, length(lower(text)) - 1),
                              i -> substr(lower(text), CAST(i AS INTEGER), 3))) AS tg
                FROM documents WHERE length(text) >= 3
            )
        ),
        prof AS (
            SELECT lang AS cand_lang, tg FROM (
                SELECT lang, tg, count(*) AS n,
                       row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tg) AS rk
                FROM tg GROUP BY lang, tg
            ) WHERE rk <= {NGRAM_PROFILE_K}
        ),
        hits AS (
            SELECT tg.doc_id, prof.cand_lang, count(*) AS h
            FROM tg JOIN prof ON tg.tg = prof.tg
            GROUP BY tg.doc_id, prof.cand_lang
        ),
        langs AS (SELECT DISTINCT lang AS cand_lang FROM documents),
        grid AS (
            SELECT d.doc_id, l.cand_lang, coalesce(h.h, 0) AS hits
            FROM (SELECT doc_id FROM documents) d
            CROSS JOIN langs l
            LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.cand_lang = l.cand_lang
        ),
        ranked AS (
            SELECT doc_id, cand_lang, hits,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rn
            FROM grid
        )
        SELECT doc_id, cand_lang AS pred_lang, CAST(hits AS BIGINT) AS n_hits
        FROM ranked WHERE rn = 1
    """,
    "text_repetition": f"""
        WITH t AS (SELECT doc_id, {_LETTERS_LOWER} AS ws FROM documents),
        base AS (SELECT doc_id, ws FROM t WHERE len(ws) >= 2),
        tc AS (
            SELECT doc_id, g, count(*) AS c
            FROM (SELECT doc_id, unnest(ws) AS g FROM base)
            GROUP BY doc_id, g
        ),
        ts AS (
            SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_distinct,
                   max(c) AS top_tok
            FROM tc GROUP BY doc_id
        ),
        bc AS (
            SELECT doc_id, g, count(*) AS c
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(ws)),
                                i -> ws[i] || ' ' || ws[i + 1])) AS g
                  FROM base)
            GROUP BY doc_id, g
        ),
        bs AS (
            SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bg
            FROM bc GROUP BY doc_id
        ),
        j AS (
            SELECT ts.doc_id, ts.n_tokens,
                   floor((CAST(n_distinct AS DOUBLE) / n_tokens) * 10000.0 + 0.5) / 10000.0 AS distinct_ratio,
                   floor((CAST(top_tok AS DOUBLE) / n_tokens) * 10000.0 + 0.5) / 10000.0 AS top_token_share,
                   floor((CAST(top_bg AS DOUBLE) / n_bigrams) * 10000.0 + 0.5) / 10000.0 AS top_bigram_share
            FROM ts JOIN bs ON ts.doc_id = bs.doc_id
        )
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               distinct_ratio, top_token_share, top_bigram_share,
               (top_bigram_share >= {REP_TOP_BIGRAM_MAX}
                OR distinct_ratio <= {REP_DISTINCT_MIN}) AS repetitive
        FROM j
    """,
    "text_contamination": f"""
        WITH t AS (SELECT doc_id, {_LETTERS_LOWER} AS ws FROM documents),
        g AS (
            SELECT doc_id, unnest(list_distinct(
                       list_transform(range(1, len(ws) - {CONTAM_NGRAM_K - 2}),
                              i -> array_to_string(ws[i:i + {CONTAM_NGRAM_K - 1}], ' ')))) AS gram
            FROM t
        ),
        bench AS (SELECT doc_id AS bench_doc, gram FROM g WHERE doc_id % {CONTAM_BENCH_MOD} = 0),
        corp AS (SELECT doc_id, gram FROM g WHERE doc_id % {CONTAM_BENCH_MOD} <> 0),
        hits AS (
            SELECT c.doc_id,
                   count(DISTINCT c.gram) AS n_grams,
                   count(DISTINCT b.bench_doc) AS n_docs
            FROM corp c JOIN bench b ON b.gram = c.gram
            GROUP BY c.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(h.n_grams, 0) AS BIGINT) AS n_contaminated_ngrams,
               CAST(coalesce(h.n_docs, 0) AS BIGINT) AS n_bench_docs,
               coalesce(h.n_grams, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        WHERE d.doc_id % {CONTAM_BENCH_MOD} <> 0
    """,
    "text_weighted_sample": f"""
        WITH tq AS (SELECT doc_id, {_WS_LOWER} AS ws FROM documents),
        m AS (
            SELECT doc_id, len(ws) AS n,
                   len(list_filter(ws, x -> list_contains({_STOP_LIST}, x))) AS n_stop,
                   CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                       / len(ws) AS avg_len
            FROM tq
        ),
        q AS (
            SELECT doc_id,
                   floor((CAST(0.4 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), CAST(n AS DOUBLE) / CAST(100.0 AS DOUBLE))
                        + CAST(0.3 AS DOUBLE) * (CAST(n_stop AS DOUBLE) / n)
                        + CAST(0.3 AS DOUBLE) * (1 - abs(avg_len - 5) / 10)) * 10000.0 + 0.5) / 10000.0 AS quality
            FROM m
        ),
        b AS (
            SELECT d.doc_id, d.lang, q.quality, {sql_hex_int("md5(CAST(d.doc_id AS VARCHAR))", 4)} % 10000 AS bucket
            FROM documents d JOIN q ON q.doc_id = d.doc_id
        )
        SELECT doc_id, lang, quality, CAST(bucket AS BIGINT) AS bucket
        FROM b WHERE bucket < quality * 10000
    """,
    "text_stratified_sample": f"""
        WITH sizes AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
        b AS (
            SELECT doc_id, lang, {_HEX_BUCKET} % 10000 AS bucket
            FROM documents
        )
        SELECT b.doc_id, b.lang, CAST(b.bucket AS BIGINT) AS bucket
        FROM b JOIN sizes ON sizes.lang = b.lang
        WHERE b.bucket * sizes.n_lang < 10000 * {STRATA_TARGET}
    """,
    "text_hash_features": f"""
        WITH words AS (
            SELECT doc_id, unnest({_LETTERS_LOWER}) AS word FROM documents
        ),
        bucketed AS (
            SELECT doc_id,
                   {sql_hex_int("md5(word)", 1)} AS b,
                   count(*) AS c
            FROM words GROUP BY doc_id, b
        ),
        grid AS (
            SELECT d.doc_id, t.b, coalesce(bucketed.c, 0) AS c
            FROM documents d CROSS JOIN range({HASH_FEATURE_DIM}) t(b)
            LEFT JOIN bucketed ON bucketed.doc_id = d.doc_id AND bucketed.b = t.b
        ),
        feats AS (
            SELECT doc_id,
                   CAST(sum(c) AS INTEGER) AS n_tokens,
                   string_agg(CAST(c AS VARCHAR), '|' ORDER BY b) AS features
            FROM grid GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, features FROM feats
    """,
    "text_cooccurrence_pairs": f"""
        WITH words AS (
            SELECT doc_id, unnest({_LETTERS_LOWER}) AS word FROM documents
        ),
        vocab AS (
            SELECT word FROM (
                SELECT word, count(*) AS freq FROM words GROUP BY word
                ORDER BY freq DESC, word LIMIT {COOC_VOCAB_K}
            )
        ),
        dw AS (
            SELECT DISTINCT doc_id, word FROM words
            WHERE word IN (SELECT word FROM vocab)
        )
        SELECT a.word AS w1, b.word AS w2, CAST(count(*) AS BIGINT) AS n_docs
        FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.word < b.word
        GROUP BY a.word, b.word
        HAVING count(*) >= {COOC_MIN_COUNT}
    """,
    "text_stats": f"""
        WITH t AS (SELECT doc_id, lang, text, {_WS} AS ws FROM documents)
        SELECT doc_id, lang,
               CAST(len(ws) AS INTEGER) AS n_tokens,
               CAST(length(text) AS INTEGER) AS n_chars,
               CAST(len(list_distinct(ws)) AS INTEGER) AS n_distinct_tokens,
               floor((CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                     / len(ws)) * 10000.0 + 0.5) / 10000.0 AS avg_token_len
        FROM t
    """,
    "text_quality": f"""
        WITH t AS (SELECT doc_id, {_WS_LOWER} AS ws FROM documents),
        m AS (
            SELECT doc_id,
                   len(ws) AS n,
                   len(list_filter(ws, x -> list_contains({_STOP_LIST}, x))) AS n_stop,
                   CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                       / len(ws) AS avg_len
            FROM t
        ),
        s AS (
            SELECT doc_id,
                   -- literals cast to DOUBLE: DuckDB parses 0.4 as
                   -- DECIMAL, which rounds differently from Spark's
                   -- double arithmetic at the 4th decimal
                   CAST(0.4 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), CAST(n AS DOUBLE) / CAST(100.0 AS DOUBLE))
                 + CAST(0.3 AS DOUBLE) * (CAST(n_stop AS DOUBLE) / n)
                 + CAST(0.3 AS DOUBLE) * (1 - abs(avg_len - 5) / 10) AS score
            FROM m
        )
        SELECT doc_id, floor((score) * 10000.0 + 0.5) / 10000.0 AS quality,
               CASE WHEN score >= 0.7 THEN 'high'
                    WHEN score >= 0.4 THEN 'medium'
                    ELSE 'low' END AS bucket
        FROM s
    """,
    "text_langid": f"""
        WITH lex(cand_lang, word) AS (VALUES {_LEX_VALUES}),
        langs(cand_lang) AS (VALUES {_LANG_VALUES}),
        words AS (
            SELECT doc_id, unnest({_LETTERS_LOWER}) AS word FROM documents
        ),
        hits AS (
            SELECT doc_id, cand_lang, count(*) AS h
            FROM words JOIN lex USING (word)
            GROUP BY doc_id, cand_lang
        ),
        grid AS (
            SELECT d.doc_id, l.cand_lang, coalesce(h.h, 0) AS hits
            FROM (SELECT doc_id FROM documents) d
            CROSS JOIN langs l
            LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.cand_lang = l.cand_lang
        ),
        ranked AS (
            SELECT doc_id, cand_lang, hits,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rn
            FROM grid
        )
        SELECT doc_id, cand_lang AS pred_lang, CAST(hits AS BIGINT) AS lex_hits
        FROM ranked WHERE rn = 1
    """,
    "text_fingerprint": rf"""
        WITH words AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '[^\p{{L}}]+'), x -> x <> '') AS ws
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id, shingle FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(ws) - {FP_SHINGLE_K - 2}),
                              i -> array_to_string(ws[i:i + {FP_SHINGLE_K - 1}], ' '))) AS shingle
                FROM words
            )
        ),
        ranked AS (
            SELECT doc_id, md5(shingle) AS hv,
                   row_number() OVER (PARTITION BY doc_id ORDER BY md5(shingle)) AS rn
            FROM sh
        )
        SELECT doc_id, string_agg(hv, '|' ORDER BY hv) AS fingerprint
        FROM ranked WHERE rn <= {FP_KEEP}
        GROUP BY doc_id
    """,
    "text_corpus_pipeline": f"""
        WITH t AS (SELECT doc_id, {_WS_LOWER} AS ws FROM documents),
        m AS (
            SELECT doc_id, len(ws) AS n,
                   len(list_filter(ws, x -> list_contains({_STOP_LIST}, x))) AS n_stop,
                   CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                       / len(ws) AS avg_len
            FROM t
        ),
        q AS (
            SELECT doc_id,
                   floor((CAST(0.4 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), CAST(n AS DOUBLE) / CAST(100.0 AS DOUBLE))
                        + CAST(0.3 AS DOUBLE) * (CAST(n_stop AS DOUBLE) / n)
                        + CAST(0.3 AS DOUBLE) * (1 - abs(avg_len - 5) / 10)) * 10000.0 + 0.5) / 10000.0 AS quality
            FROM m
        ),
        keep AS (SELECT min(doc_id) AS keep_doc_id FROM documents GROUP BY md5(text))
        SELECT d.doc_id, d.lang, q.quality
        FROM documents d
        JOIN keep ON d.doc_id = keep.keep_doc_id
        JOIN q ON q.doc_id = d.doc_id
        WHERE q.quality >= {PIPE_MIN_QUALITY}
          AND {sql_hex_int("md5(CAST(d.doc_id AS VARCHAR))", 4)} % 100 < {PIPE_SAMPLE_PCT}
    """,
    "text_deterministic_sample": f"""
        WITH b AS (
            SELECT doc_id, lang, length(text) AS n_chars,
                   {_HEX_BUCKET} % 100 AS bucket
            FROM documents
        )
        SELECT doc_id, lang, CAST(n_chars AS INTEGER) AS n_chars
        FROM b WHERE bucket < {SAMPLE_PCT}
    """,
    "text_rolling_hash": f"""
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
                   (a, b) -> (a * {RK_BASE} + b) % {RK_MOD}) AS rk_hash,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(substr(text, 1, 64), ''), c -> CAST(ascii(c) AS BIGINT))),
                   (a, b) -> (a * {RK_BASE} + b) % {RK_MOD}) AS rk_prefix64
        FROM documents
    """,
    "text_tfidf_top_terms": rf"""
        WITH words AS (
            SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(text, '[^\p{{L}}]+'), x -> x <> '')) AS term
            FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        total AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT doc_id, tf.term, tf,
                   floor((tf * ln(CAST(n_docs AS DOUBLE) / df)) * 10000.0 + 0.5)
                       / 10000.0 AS tfidf
            FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN total
        )
        SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf,
               CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
            FROM scored
        ) WHERE rank <= {TFIDF_TOP}
    """,
    "text_token_count": f"""
        WITH t AS (
            SELECT doc_id, text, {_WS} AS ws,
                   regexp_extract_all(text, '{BPE_PATTERN}') AS bpe
            FROM documents
        )
        SELECT doc_id,
               CAST(len(ws) AS INTEGER) AS n_ws_tokens,
               CAST(len(bpe) AS INTEGER) AS n_bpe_tokens,
               floor((CAST(octet_length(encode(text)) AS DOUBLE) / len(bpe)) * 10000.0 + 0.5)
                   / 10000.0 AS bytes_per_token
        FROM t
    """,
    "text_token_stats_by_lang": f"""
        WITH t AS (SELECT lang, n_chars, len({_WS}) AS n FROM documents)
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n) AS BIGINT) AS total_tokens,
               floor((avg(n)) * 10000.0 + 0.5) / 10000.0 AS avg_tokens,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM t GROUP BY lang
    """,
}

# Composed oracle for the full training-data build: the quality,
# repetition, contamination, exact-dedup, and stratified-sample CTE
# chains of the standalone oracles above, joined on doc_id in the same
# order the Spark plan applies them.
ORACLES["text_training_mix"] = f"""
    WITH tq AS (SELECT doc_id, {_WS_LOWER} AS ws FROM documents),
    qm AS (
        SELECT doc_id, len(ws) AS n,
               len(list_filter(ws, x -> list_contains({_STOP_LIST}, x))) AS n_stop,
               CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                   / len(ws) AS avg_len
        FROM tq
    ),
    q AS (
        SELECT doc_id,
               floor((CAST(0.4 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), CAST(n AS DOUBLE) / CAST(100.0 AS DOUBLE))
                    + CAST(0.3 AS DOUBLE) * (CAST(n_stop AS DOUBLE) / n)
                    + CAST(0.3 AS DOUBLE) * (1 - abs(avg_len - 5) / 10)) * 10000.0 + 0.5) / 10000.0 AS quality
        FROM qm
    ),
    tl AS (SELECT doc_id, {_LETTERS_LOWER} AS ws FROM documents),
    rbase AS (SELECT doc_id, ws FROM tl WHERE len(ws) >= 2),
    rtc AS (
        SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(ws) AS g FROM rbase)
        GROUP BY doc_id, g
    ),
    rts AS (
        SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_distinct, max(c) AS top_tok
        FROM rtc GROUP BY doc_id
    ),
    rbc AS (
        SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(ws)),
                            i -> ws[i] || ' ' || ws[i + 1])) AS g
              FROM rbase)
        GROUP BY doc_id, g
    ),
    rbs AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bg FROM rbc GROUP BY doc_id),
    rep AS (
        SELECT rts.doc_id,
               (floor((CAST(top_bg AS DOUBLE) / n_bigrams) * 10000.0 + 0.5) / 10000.0 >= {REP_TOP_BIGRAM_MAX}
                OR floor((CAST(n_distinct AS DOUBLE) / n_tokens) * 10000.0 + 0.5) / 10000.0 <= {REP_DISTINCT_MIN}) AS repetitive
        FROM rts JOIN rbs ON rts.doc_id = rbs.doc_id
    ),
    g AS (
        SELECT doc_id, unnest(list_distinct(
                   list_transform(range(1, len(ws) - {CONTAM_NGRAM_K - 2}),
                          i -> array_to_string(ws[i:i + {CONTAM_NGRAM_K - 1}], ' ')))) AS gram
        FROM tl
    ),
    bench AS (SELECT doc_id AS bench_doc, gram FROM g WHERE doc_id % {CONTAM_BENCH_MOD} = 0),
    corp AS (SELECT doc_id, gram FROM g WHERE doc_id % {CONTAM_BENCH_MOD} <> 0),
    hits AS (
        SELECT c.doc_id, count(DISTINCT c.gram) AS n_grams
        FROM corp c JOIN bench b ON b.gram = c.gram
        GROUP BY c.doc_id
    ),
    contam AS (
        SELECT d.doc_id, coalesce(h.n_grams, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        WHERE d.doc_id % {CONTAM_BENCH_MOD} <> 0
    ),
    keep AS (SELECT min(doc_id) AS keep_doc_id FROM documents GROUP BY md5(text)),
    surv AS (
        SELECT d.doc_id, d.lang, q.quality
        FROM documents d
        JOIN q ON q.doc_id = d.doc_id
        JOIN rep ON rep.doc_id = d.doc_id
        JOIN contam c ON c.doc_id = d.doc_id
        JOIN keep k ON d.doc_id = k.keep_doc_id
        WHERE q.quality >= {PIPE_MIN_QUALITY}
          AND NOT rep.repetitive
          AND NOT c.contaminated
    ),
    sizes AS (SELECT lang, count(*) AS n_lang FROM surv GROUP BY lang)
    SELECT surv.doc_id, surv.lang, surv.quality
    FROM surv JOIN sizes ON sizes.lang = surv.lang
    WHERE ({sql_hex_int("md5(CAST(surv.doc_id AS VARCHAR))", 4)} % 10000) * sizes.n_lang
          < 10000 * {STRATA_TARGET}
"""

#: Agreement-matrix oracle: wraps both langid oracles verbatim as
#: derived tables (DuckDB allows a nested WITH inside a CTE), so any
#: future change to either classifier's oracle flows through.
ORACLES["text_langid_agreement"] = f"""
    WITH lexp AS ({ORACLES["text_langid"]}),
    trip AS ({ORACLES["text_langid_ngram"]}),
    cells AS (
        SELECT lexp.pred_lang AS lex_lang, trip.pred_lang AS trigram_lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (lexp.pred_lang = d.lang) AS BIGINT) AS n_lex_correct,
               CAST(count(*) FILTER (trip.pred_lang = d.lang) AS BIGINT) AS n_trigram_correct
        FROM documents d
        JOIN lexp ON lexp.doc_id = d.doc_id
        JOIN trip ON trip.doc_id = d.doc_id
        GROUP BY 1, 2
    )
    SELECT lex_lang, trigram_lang, n_docs, n_lex_correct, n_trigram_correct,
           floor((CAST(n_docs AS DOUBLE) / sum(n_docs) OVER ()) * 10000.0 + 0.5)
               / 10000.0 AS share
    FROM cells
"""

ORACLES["text_char_entropy"] = f"""
    WITH pfx AS (
        SELECT doc_id, substring(lower(text), 1, {ENTROPY_PREFIX_CHARS}) AS p
        FROM documents WHERE length(text) > 0
    ),
    chars AS (
        SELECT doc_id, unnest(list_transform(range(1, length(p) + 1),
                                             i -> substring(p, i, 1))) AS ch
        FROM pfx
    ),
    counts AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch),
    terms AS (
        SELECT doc_id, c,
               sum(c) OVER (PARTITION BY doc_id) AS n,
               c * CAST(floor(ln(CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY doc_id))
                              * {ENTROPY_LN_GRAIN} + 0.5) AS BIGINT) AS t
        FROM counts
    ),
    per_doc AS (
        SELECT doc_id, CAST(min(n) AS BIGINT) AS n_chars_scored,
               CAST(count(*) AS BIGINT) AS n_distinct_chars,
               sum(t) AS s
        FROM terms GROUP BY doc_id
    )
    SELECT doc_id, n_chars_scored, n_distinct_chars,
           floor((-CAST(s AS DOUBLE) / (CAST(n_chars_scored AS DOUBLE)
                  * {ENTROPY_LN_GRAIN} * {math.log(2.0)!r})) * 10000.0 + 0.5)
               / 10000.0 AS entropy_bits,
           -CAST(s AS DOUBLE) / (CAST(n_chars_scored AS DOUBLE)
                  * {ENTROPY_LN_GRAIN} * {math.log(2.0)!r}) < {LOW_ENTROPY_BITS} AS low_entropy
    FROM per_doc
"""

ORACLES["text_tokenizer_fertility"] = f"""
    WITH per_doc AS (
        SELECT lang,
               len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS ws,
               len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]+')) AS bpe,
               length(text) AS chars
        FROM documents
    ),
    sums AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ws) AS BIGINT) AS ws_tokens,
               CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
               CAST(sum(chars) AS BIGINT) AS n_chars
        FROM per_doc GROUP BY lang
    )
    SELECT lang, n_docs, ws_tokens, bpe_tokens,
           floor((CAST(bpe_tokens AS DOUBLE) / ws_tokens) * 10000.0 + 0.5) / 10000.0 AS fertility,
           floor((CAST(n_chars AS DOUBLE) / bpe_tokens) * 10000.0 + 0.5) / 10000.0 AS chars_per_token
    FROM sums
"""

ORACLES["text_pmi_collocations"] = f"""
    WITH pairs AS ({ORACLES["text_cooccurrence_pairs"]}),
    words AS (
        SELECT doc_id, unnest(list_filter(
            regexp_split_to_array(lower(text), '[^\\p{{L}}]+'), x -> x <> '')) AS word
        FROM documents
    ),
    dfc AS (
        SELECT word, CAST(count(*) AS BIGINT) AS df
        FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY word
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
    SELECT p.w1, p.w2, p.n_docs AS n_docs_pair, a.df AS df1, b.df AS df2,
           floor(ln(CAST(p.n_docs AS DOUBLE) * n.n_docs
                    / (CAST(a.df AS DOUBLE) * b.df)) * 1000000.0 + 0.5)
               / 1000000.0 AS pmi
    FROM pairs p
    JOIN dfc a ON a.word = p.w1
    JOIN dfc b ON b.word = p.w2
    CROSS JOIN n
"""

ORACLES["text_perplexity_buckets"] = f"""
    WITH scored AS ({ORACLES["text_unigram_logprob"]}),
    tiled AS (
        SELECT d.lang, s.n_tokens, s.avg_neg_logp,
               CAST(ntile({PPL_BUCKETS}) OVER (
                   PARTITION BY d.lang ORDER BY s.avg_neg_logp, s.doc_id
               ) AS INTEGER) AS bucket,
               CAST(floor(s.avg_neg_logp * 10000.0 + 0.5) AS BIGINT) AS g
        FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    )
    SELECT lang, bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           floor((min(avg_neg_logp)) * 10000.0 + 0.5) / 10000.0 AS min_neg_logp,
           floor((CAST(sum(g) AS DOUBLE) / 10000.0 / count(*)) * 10000.0 + 0.5)
               / 10000.0 AS avg_neg_logp,
           floor((max(avg_neg_logp)) * 10000.0 + 0.5) / 10000.0 AS max_neg_logp
    FROM tiled GROUP BY lang, bucket
"""

ORACLES["text_js_divergence_sources"] = f"""
    WITH words AS (
        SELECT source, unnest(list_filter(
            regexp_split_to_array(lower(text), '[^\\p{{L}}]+'), x -> x <> '')) AS word
        FROM documents
    ),
    vocab AS (
        SELECT word FROM (
            SELECT word, count(*) AS freq FROM words GROUP BY word
            ORDER BY freq DESC, word LIMIT {JS_VOCAB_K}
        )
    ),
    counts AS (
        SELECT source, word, count(*) AS c FROM words
        WHERE word IN (SELECT word FROM vocab)
        GROUP BY source, word
    ),
    grid AS (
        SELECT s.source, v.word
        FROM (SELECT DISTINCT source FROM documents) s CROSS JOIN vocab v
    ),
    filled AS (
        SELECT g.source, g.word, coalesce(c.c, 0) AS c
        FROM grid g LEFT JOIN counts c ON c.source = g.source AND c.word = g.word
    ),
    probs AS (
        SELECT source, word,
               CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY source) AS p
        FROM filled
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b, a.word,
               a.p AS p, b.p AS q
        FROM probs a JOIN probs b
          ON a.word = b.word AND a.source < b.source
    ),
    terms AS (
        SELECT source_a, source_b,
               CAST(floor(((CASE WHEN p > 0 THEN p * ln(2.0 * p / (p + q)) ELSE 0.0 END)
                           + (CASE WHEN q > 0 THEN q * ln(2.0 * q / (p + q)) ELSE 0.0 END))
                          * 0.5 * {JS_GRAIN} + 0.5) AS BIGINT) AS g
        FROM pairs
    )
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_words,
           floor((CAST(sum(g) AS DOUBLE) / {JS_GRAIN}) * 1000000.0 + 0.5)
               / 1000000.0 AS js_divergence
    FROM terms GROUP BY source_a, source_b
"""

#: Funnel oracle: the component oracles wrapped verbatim as derived
#: tables, stage flags identical to the Spark side, shares via one
#: window over the 7-row frame.
_FUNNEL_COUNT_EXPRS = ", ".join(
    [
        "CAST(count(*) AS BIGINT) AS s0",
        f"CAST(count(*) FILTER (doc_id % {CONTAM_BENCH_MOD} <> 0) AS BIGINT) AS s1",
        f"CAST(count(*) FILTER (doc_id % {CONTAM_BENCH_MOD} <> 0"
        f" AND quality >= {PIPE_MIN_QUALITY}) AS BIGINT) AS s2",
        f"CAST(count(*) FILTER (doc_id % {CONTAM_BENCH_MOD} <> 0"
        f" AND quality >= {PIPE_MIN_QUALITY}"
        " AND repetitive = false) AS BIGINT) AS s3",
        f"CAST(count(*) FILTER (doc_id % {CONTAM_BENCH_MOD} <> 0"
        f" AND quality >= {PIPE_MIN_QUALITY}"
        " AND repetitive = false AND contaminated = false) AS BIGINT) AS s4",
        f"CAST(count(*) FILTER (doc_id % {CONTAM_BENCH_MOD} <> 0"
        f" AND quality >= {PIPE_MIN_QUALITY}"
        " AND repetitive = false AND contaminated = false"
        " AND canon) AS BIGINT) AS s5",
        "CAST(count(*) FILTER (in_mix) AS BIGINT) AS s6",
    ]
)

ORACLES["text_pipeline_funnel_report"] = f"""
    WITH q AS ({ORACLES["text_quality"]}),
    rep AS ({ORACLES["text_repetition"]}),
    con AS ({ORACLES["text_contamination"]}),
    keepl AS (SELECT min(doc_id) AS keep_doc_id FROM documents GROUP BY md5(text)),
    mix AS ({ORACLES["text_training_mix"]}),
    j AS (
        SELECT d.doc_id, q.quality, rep.repetitive, con.contaminated,
               k.keep_doc_id IS NOT NULL AS canon,
               m.doc_id IS NOT NULL AS in_mix
        FROM documents d
        LEFT JOIN q ON q.doc_id = d.doc_id
        LEFT JOIN rep ON rep.doc_id = d.doc_id
        LEFT JOIN con ON con.doc_id = d.doc_id
        LEFT JOIN keepl k ON k.keep_doc_id = d.doc_id
        LEFT JOIN mix m ON m.doc_id = d.doc_id
    ),
    counts AS (SELECT {_FUNNEL_COUNT_EXPRS} FROM j),
    tall AS (
        {" UNION ALL ".join(
            f"SELECT {i} AS stage, '{name}' AS stage_name, s{i} AS n_docs FROM counts"
            for i, name in enumerate(FUNNEL_STAGES_PIPE)
        )}
    )
    SELECT CAST(stage AS INTEGER) AS stage, stage_name, n_docs,
           floor((CAST(n_docs AS DOUBLE)
                  / first_value(n_docs) OVER (ORDER BY stage
                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
                 * 10000.0 + 0.5) / 10000.0 AS share_of_raw,
           CAST(coalesce(lag(n_docs) OVER (ORDER BY stage) - n_docs, 0) AS BIGINT)
               AS n_dropped
    FROM tall
"""

ORACLES["text_bpe_train_merges"] = _bpe_train_oracle_sql()

ORACLES["text_bpe_apply_encode"] = _bpe_apply_oracle_sql()

ORACLES["text_stopword_discovery"] = f"""
    WITH dfreq AS (
        SELECT word, count(*) AS df FROM (
            SELECT DISTINCT doc_id, word FROM (
                SELECT doc_id, unnest(list_filter(
                    regexp_split_to_array(lower(text), '[^\\p{{L}}]+'), x -> x <> '')) AS word
                FROM documents
            )
        ) GROUP BY word
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    ranked AS (
        SELECT word, CAST(df AS BIGINT) AS df,
               CAST(row_number() OVER (ORDER BY df DESC, word) AS INTEGER) AS rank
        FROM dfreq
    )
    SELECT rank, word, df,
           floor((df / n.n_docs) * 10000.0 + 0.5) / 10000.0 AS df_share,
           df / n.n_docs >= {STOPWORD_DF_SHARE} AS is_stopword
    FROM ranked CROSS JOIN n
    WHERE rank <= {STOPWORD_TOP}
"""

ORACLES["text_vocab_coverage_curve"] = f"""
    WITH freq AS (
        SELECT word, count(*) AS c FROM (
            SELECT unnest(list_filter(
                regexp_split_to_array(lower(text), '[^\\p{{L}}]+'), x -> x <> '')) AS word
            FROM documents
        ) GROUP BY word
    ),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rank FROM freq
    ),
    ks(vocab_k) AS (VALUES {", ".join(f"({k})" for k in COVERAGE_KS)})
    SELECT CAST(vocab_k AS INTEGER) AS vocab_k,
           CAST(coalesce(sum(c) FILTER (rank <= vocab_k), 0) AS BIGINT) AS tokens_covered,
           CAST(sum(c) AS BIGINT) AS tokens_total,
           floor((CAST(coalesce(sum(c) FILTER (rank <= vocab_k), 0) AS DOUBLE)
                  / sum(c)) * 10000.0 + 0.5) / 10000.0 AS coverage
    FROM ranked CROSS JOIN ks
    GROUP BY vocab_k
"""

#: VALUES list derived from TOPIC_LEXICON so query and oracle cannot
#: drift apart.
_TOPIC_LEX_VALUES = ", ".join(
    f"('{t}', '{w}')" for t, ws in TOPIC_LEXICON.items() for w in ws
)

ORACLES["text_keyword_topic_classify"] = f"""
    WITH lex(topic, word) AS (VALUES {_TOPIC_LEX_VALUES}),
    words AS (
        SELECT doc_id, unnest(list_filter(
            regexp_split_to_array(lower(text), '[^\\p{{L}}]+'),
            x -> x <> '')) AS word
        FROM documents
    ),
    hits AS (
        SELECT doc_id, topic, count(*) AS hits
        FROM words JOIN lex USING (word) GROUP BY 1, 2
    ),
    best AS (
        SELECT doc_id, topic, hits,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY hits DESC, topic) AS rn
        FROM hits
    ),
    labeled AS (
        SELECT d.source,
               coalesce(b.topic, 'unlabeled') AS topic,
               coalesce(b.hits, 0) AS hits
        FROM documents d
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id
    ),
    per AS (
        SELECT source, topic, count(*) AS n_docs, sum(hits) AS total_hits
        FROM labeled GROUP BY 1, 2
    ),
    tot AS (SELECT source, sum(n_docs) AS n_src FROM per GROUP BY 1)
    SELECT per.source, topic,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_hits AS BIGINT) AS total_hits,
           {sql_round("CAST(n_docs AS DOUBLE) / CAST(n_src AS DOUBLE)", 4)}
               AS share
    FROM per JOIN tot ON per.source = tot.source
"""
