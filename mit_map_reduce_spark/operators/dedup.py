"""Deduplication operators over ``documents`` / ``embeddings``.

Beyond-reference capability (the reference engine has no dedup — its
closest primitive is group-by-key; SURVEY §2c): the operator set a
large-scale training-data pipeline needs, each expressed as shuffles
over derived keys so they scale horizontally:

- exact dedup          — hash-groupBy on md5(text); one shuffle.
- MinHash signatures   — map-side array_min folds over per-doc shingle
  arrays (zero shuffles); LSH band buckets give candidate pairs
  WITHOUT the O(n^2) cross join; verified by exact Jaccard on
  candidates only.
- connected components — iterative min-label propagation over the LSH
  pair graph: pairwise matches → keep/drop clusters.
- SimHash              — 32-bit sign-of-weighted-sum fingerprint, one
  map-side fold per document (zero shuffles).
- n-gram Jaccard       — sparse similarity join via the shingle
  inverted index (pairs must share >= 1 shingle).
- embedding cosine     — exact all-pairs baseline at test SF; the
  LSH/IVF scale paths live in operators/similarity.py.
- streaming first-seen dedup lives in streaming/queries.py.

Cross-engine determinism: all pseudo-randomness derives from md5 hex
strings (identical in Spark and DuckDB) and "min over hex string"
order, so every operator here has an exact SQL oracle — no RNG, no
seed mismatch. Spark's built-in MinHashLSH (pyspark.ml) uses seeded
random affine hashes that no external oracle can reproduce; this
formulation trades a constant factor for differential testability
while keeping the same shuffle shape.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mit_map_reduce_spark.catalog import (
    bounded_shuffle_width,
    load_table,
    scoped_conf,
    shared_persist,
    spread,
    table_footer_count,
    volume_width,
)
from mit_map_reduce_spark.functions.columns import (
    hex_int,
    round_half_up,
    dot_product,
    sql_hex_int,
    sql_round,
    tokenize_letters,
    vec_norm,
    word_kgrams,
)

N_HASHES = 8  # minhash functions
BAND_ROWS = 2  # rows per LSH band -> 4 bands
SHINGLE_K = 5  # word-shingle width
JACCARD_THRESHOLD = 0.5
COSINE_DUP_THRESHOLD = 0.35


def _doc_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles array<string>, sz) — distinct word-5-gram
    shingles per document, kept as one array row per doc so signature
    derivation can stay map-side. Docs shorter than the shingle width
    (empty array) are excluded."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = tokenize_letters(F.col("text"))
    arr = F.array_distinct(word_kgrams(words, SHINGLE_K))
    # filter on the token count, not the aliased array: a filter on the
    # alias would inline (re-evaluate) the shingle expression
    return docs.filter(F.size(words) >= SHINGLE_K).select(
        "doc_id", arr.alias("shingles"), F.size(arr).alias("sz")
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) — exploded form, for inverted-index joins."""
    return _doc_shingle_arrays(spark, sf_dir).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )


#: Documents past which the shingle-array cache materializes at build
#: time so consumer plans compile against TRUE cached statistics: the
#: lazy persist leaves the first (cold) plan broadcasting this frame's
#: projections on a pre-materialization underestimate — a single
#: executor hash map measured at 737 MB (x10 corpus) and 3.76 GB (x60),
#: growing linearly, while the warm re-plan correctly picks a shuffle
#: join off the real cached size. Committed SFs (<= 5000 docs) stay
#: below the gate, keeping their lazy persist and pinned broadcast
#: plans byte-identical.
MINHASH_EAGER_STATS_DOCS = 10_000


def _shingle_arrays_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc shingle arrays, persisted once per session.

    Signature derivation, both probe sides of the candidate-verification
    joins, AND the connected-components rerun all consume this same
    lineage; the shared registry keeps exactly one cached copy (round 2
    persisted a fresh copy inside each query — correct but accumulating,
    and the source of the CacheManager re-cache warnings)."""

    def build() -> DataFrame:
        df = _doc_shingle_arrays(spark, sf_dir)
        if table_footer_count(sf_dir, "documents") > MINHASH_EAGER_STATS_DOCS:
            # materialize so the FIRST consumer plan sees real stats
            # (see MINHASH_EAGER_STATS_DOCS); shared_persist adopts the
            # already-persisted frame without re-persisting
            df = df.persist()
            df.count()
        return df

    return shared_persist(spark, "doc_shingle_arrays", sf_dir, build)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id.

    At 100 TB this is a single hash shuffle on a 32-byte key; the text
    column itself never shuffles (md5 computed map-side).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_md5"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_doc_id"))
    )


def _minhash_wide(
    spark: SparkSession, sf_dir: str, arrays: DataFrame | None = None
) -> DataFrame:
    """(doc_id, m0..m{N-1}, sz): all N MinHashes + the shingle count,
    computed ENTIRELY map-side.

    The h-th MinHash is ``array_min(transform(shingles, s ->
    md5(h:s)))`` over the per-document shingle array — a pure
    projection. No explode, no shuffle: at 100 TB the signature stage
    is a single streaming scan, and only the (tiny) signatures ever
    reach an exchange (the LSH band join).
    """
    arrs = arrays if arrays is not None else _doc_shingle_arrays(spark, sf_dir)
    mins = [
        F.array_min(
            F.transform(F.col("shingles"), lambda s: F.md5(F.concat(F.lit(f"{i}:"), s)))
        ).alias(f"m{i}")
        for i in range(N_HASHES)
    ]
    return arrs.select("doc_id", *mins, "sz")


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h, minhash): h-th MinHash = min over shingles of
    md5(h || ':' || shingle), compared as a hex string.

    The array form is persisted (session-shared cache): the N
    min-projections each reference the shingle array, and without
    materialization projection collapse would re-derive it N times."""
    wide = _minhash_wide(spark, sf_dir, arrays=_shingle_arrays_cached(spark, sf_dir))
    stack_args = ", ".join(f"{i}, m{i}" for i in range(N_HASHES))
    return wide.selectExpr(
        "doc_id", f"stack({N_HASHES}, {stack_args}) AS (h, minhash)"
    )


def _band_keys(wide: DataFrame) -> DataFrame:
    """(doc_id, sz, band, band_key) — concat of the band's minhashes;
    the shingle-set size rides along to spare a join later."""
    n_bands = N_HASHES // BAND_ROWS
    band_exprs = ", ".join(
        f"{b}, concat_ws('|', {', '.join(f'm{b * BAND_ROWS + r}' for r in range(BAND_ROWS))})"
        for b in range(n_bands)
    )
    return wide.selectExpr(
        "doc_id", "sz", f"stack({n_bands}, {band_exprs}) AS (band, band_key)"
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via MinHash LSH, verified with exact Jaccard.

    Candidate generation is a self-equi-join on (band, band_key) — the
    classic band-bucket trick that avoids the O(n^2) cross join; exact
    Jaccard is then computed ONLY for candidates, via the shingle
    inverted index.

    Multi-pass plan hygiene: the per-document shingle arrays feed three
    consumers (signature projection, probe side a, probe side b), so
    the compact array form — one row per doc, not one per shingle — is
    persisted via the session-shared cache rather than re-derived; at
    100 TB the equivalent is materializing it once to parquet before
    the pair phase. Set sizes ride the same row and are carried through
    the band join, so Jaccard needs no extra size joins.
    """
    arrs = _shingle_arrays_cached(spark, sf_dir)
    sh = arrs.select("doc_id", F.explode("shingles").alias("shingle"))
    bands = _band_keys(_minhash_wide(spark, sf_dir, arrays=arrs))
    # Candidate-volume width for the band join + distinct (see
    # _minhash_pair_width; x100 measured the session-width partial
    # distinct spilling 2.24 GB steady-state). Pre-partitioning the
    # band frame on the join keys runs the join AND its partial
    # distinct at the derived width; the pair stream then re-keys on
    # (doc_a, doc_b) so the final distinct is one width-scaled
    # aggregation — the emb_lsh_pair_width shape exactly. Committed
    # SFs floor at the session width: no repartition nodes, the
    # pinned plans unchanged.
    pair_width = _minhash_pair_width(spark, sf_dir)
    if pair_width > bounded_shuffle_width(spark):
        bands = bands.repartition(pair_width, "band", "band_key")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.band_key") == F.col("b.band_key")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
    )
    if pair_width > bounded_shuffle_width(spark):
        cand = cand.repartition(pair_width, "doc_a", "doc_b")
    cand = cand.distinct()
    # Verification probes the persisted shingle stream with the
    # candidate set. At committed SFs the candidates broadcast and the
    # shingle table never shuffles; a pre-filtering semi-join was
    # measured slower here because its broadcast branch re-executes
    # the band pipeline. Past the broadcast regime both probes become
    # SortMergeJoins that sort the WHOLE shingle stream — at the
    # session width that was 2.24 GB of deterministic steady-state
    # spill at x100 (one 32-task stage, cold AND warm). Each probe
    # side gets its own width-scaled repartition on its join's FULL
    # key set: co-partitioning requires all cluster keys
    # (spark.sql.requireAllClusterKeysForCoPartition), so a shared
    # doc_id-only repartition is rewritten back to the session width
    # on the (doc_id, shingle) join — measured, not hypothetical.
    # Committed SFs: width == floor, no repartition nodes, the pinned
    # broadcast plans byte-identical.
    sh_width = _shingle_stream_width(spark, sf_dir)
    if sh_width > bounded_shuffle_width(spark):
        sa = sh.repartition(sh_width, "doc_id").alias("sa")
        sb = sh.repartition(sh_width, "doc_id", "shingle").alias("sb")
    else:
        sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, (F.col("sb.doc_id") == F.col("doc_b")) & (F.col("sa.shingle") == F.col("sb.shingle")))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            round_half_up(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def lsh_tuning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH candidate generator against
    exact-Jaccard ground truth — the tuning readout for the
    bands-x-rows trade (more bands = recall up, precision down; the
    S-curve this report measures empirically is what the banding
    formula predicts). The dedup twin of ``sim_ann_recall_report``.

    Candidates: the band-bucket self-join, BEFORE Jaccard
    verification (the raw generator output whose quality is being
    measured — shared helper pipeline with ``dedup_minhash_lsh_pairs``).
    Truth: every pair at exact Jaccard >= threshold via the UNCAPPED
    inverted index — an audit-scale computation by design, like the
    cosine all-pairs baselines: you run the tuning report on a sample,
    then ship the tuned generator. One row: candidate/truth/hit counts
    and the two ratios of exact integers.
    """
    arrs = _shingle_arrays_cached(spark, sf_dir)
    bands = _band_keys(_minhash_wide(spark, sf_dir, arrays=arrs))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    truth = (
        _jaccard_pairs_from_shingles(arrs, max_df=1 << 30)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    # One pass per subtree (r15, guide §1.2/§2.4): the old three-agg +
    # semi-join form executed the band-join pipeline twice (count +
    # semi probe) and the exact-Jaccard truth twice; a full-outer join
    # on the pair key with side markers yields all three counts from
    # ONE execution of each. Counts are sums of 1-markers == the old
    # count(*)s (coalesced so an empty side still reads 0, not NULL).
    marked = cand.withColumn("is_cand", F.lit(1)).join(
        truth.withColumn("is_truth", F.lit(1)),
        ["doc_a", "doc_b"],
        "full_outer",
    )
    report = marked.agg(
        F.coalesce(F.sum("is_cand"), F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum("is_truth"), F.lit(0)).cast("long").alias("n_truth"),
        F.count(F.when(F.col("is_cand").isNotNull() & F.col("is_truth").isNotNull(), 1)).alias("n_hits"),
    )
    return report.select(
        "n_candidates",
        "n_truth",
        "n_hits",
        round_half_up(
            F.col("n_hits").cast("double") / F.col("n_candidates"), 4
        ).alias("precision"),
        round_half_up(F.col("n_hits").cast("double") / F.col("n_truth"), 4).alias(
            "recall"
        ),
    )


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document as a '0'/'1' bit string.

    Bit b of md5(word) is extracted arithmetically from the hex digits
    so the oracle can reproduce it; contribution = word frequency *
    (2*bit - 1); fingerprint bit = sign of the sum.

    Fully map-side: frequency * contribution == sum over individual
    occurrences, so the per-bit sums fold directly over the token
    array (md5 hashed once per token) — zero shuffles, where the
    grouped formulation cost three. ONE fold accumulates an array of
    all 32 bit-sums: 32 separate per-bit aggregates would each inline
    (and re-evaluate) the token-hashing expression after projection
    collapse — 32x the md5 work.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    tokens = tokenize_letters(F.col("text"))
    hashed = F.transform(tokens, lambda w: F.md5(w))
    bits = F.sequence(F.lit(0), F.lit(31))

    def contribs(h):
        # array of 32 contributions (+-1) for one token's md5 hex
        def one(b):
            digit = hex_int(h, 1, (F.floor(b / 4) + 1).cast("int")).cast("int")
            bit = (
                F.floor(digit / F.pow(F.lit(2.0), (3 - b % 4).cast("double"))).cast("long") % 2
            )
            return 2 * bit - 1

        return F.transform(bits, one)

    zero = F.array_repeat(F.lit(0).cast("bigint"), 32)
    sums = F.aggregate(hashed, zero, lambda acc, h: F.zip_with(acc, contribs(h), lambda x, y: x + y))
    simhash = F.array_join(
        F.transform(sums, lambda s: F.when(s > 0, F.lit("1")).otherwise(F.lit("0"))), ""
    )
    return (
        docs.filter(F.size(tokens) > 0)  # tokenless docs: no simhash (oracle parity)
        .select("doc_id", simhash.alias("simhash"))
    )


#: SimHash banding: 32 bits split into 4 bands of 8. By pigeonhole a
#: pair within Hamming distance <= SIMHASH_MAX_HAMMING (3) differs in
#: at most 3 bands, so it agrees EXACTLY on at least one band — the
#: band equi-join finds every such pair with zero false negatives.
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 8
SIMHASH_MAX_HAMMING = 3


def simhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via band-blocked candidate generation —
    the scale path that turns the 32-bit fingerprints into pairs
    without an all-pairs comparison.

    Plan shape (the same banding discipline as MinHash-LSH): each
    fingerprint emits ``SIMHASH_BANDS`` (band, 8-bit-substring) keys;
    candidates come from a per-band equi-join (doc_a < doc_b); exact
    Hamming distance is computed only on the candidates and filtered
    to <= ``SIMHASH_MAX_HAMMING``. At 100 TB the join keys are
    (band, 8 bits) buckets — 1024 logical buckets whose occupancy
    scales linearly with corpus size; a skewed bucket (many docs with
    identical band bytes) is the algorithm saying those docs are
    near-identical, and AQE's skew-join split handles the residue.

    The fingerprint lineage is computed once and shared through the
    session persist registry (both join sides probe the same cache).
    """
    fp = shared_persist(
        spark,
        "simhash_fp",
        sf_dir,
        lambda: simhash_fingerprints(spark, sf_dir),
    )
    bands = F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))
    # Integer form of the bit-string fingerprint, computed ONCE per
    # (doc, band) row map-side: the exact Hamming distance on the
    # candidates is then one xor + bit_count per pair instead of
    # splitting two 32-char strings into arrays and zipping them —
    # measured 20 CPU-s/run at sf0.1 (83 k candidates), almost all in
    # the per-pair split/zip (guide §1.2 step 2: per-task work).
    sim_int = F.conv("simhash", 2, 10).cast("long")
    keyed = fp.select(
        "doc_id",
        sim_int.alias("sim"),
        F.explode(
            F.transform(
                bands,
                lambda b: F.struct(
                    b.cast("int").alias("band"),
                    F.col("simhash")
                    .substr(b * SIMHASH_BAND_BITS + 1, F.lit(SIMHASH_BAND_BITS))
                    .alias("band_key"),
                ),
            )
        ).alias("bk"),
    ).select("doc_id", "sim", "bk.band", "bk.band_key")
    a = keyed.select(
        F.col("doc_id").alias("doc_a"), F.col("sim").alias("sim_a"), "band", "band_key"
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"), F.col("sim").alias("sim_b"), "band", "band_key"
    )
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


#: Hot-shingle cap: shingles appearing in more than this many documents
#: (stop phrases, boilerplate) are dropped BEFORE the inverted-index
#: self-join. A shingle with document frequency d contributes d^2 join
#: rows, so one viral phrase in 1M docs is a 10^12-row key; the cap
#: bounds every key's fan-out at HOT_SHINGLE_MAX_DF^2. Observed max df
#: in the synthetic corpus is 4 (sf0.1), so the cap never bites at test
#: SF — output is unchanged there, by construction and by test.
HOT_SHINGLE_MAX_DF = 64


def _jaccard_pairs_from_shingles(arrs: DataFrame, max_df: int = HOT_SHINGLE_MAX_DF) -> DataFrame:
    """Pair computation over (doc_id, shingles, sz) arrays — split out
    so tests can feed a synthetic corpus with a planted stop-phrase.

    When the cap drops a shared shingle, ``n_shared`` counts only the
    surviving ones while the sizes stay full — the reported Jaccard is
    then a lower bound (capped shingles are, by definition, near-
    useless evidence of duplication).

    Shape (r16, guide §2.4 — formerly an inverted-index SELF-JOIN on
    shingle plus TWO size joins): after the df cap every surviving
    shingle appears in <= max_df docs, so the per-shingle posting list
    is a BOUNDED set — collect it once and explode the doc_a < doc_b
    pairs map-side (the supplier_projection shape). ``sz`` rides the
    collected struct, so the per-pair sizes fall out of the pair
    aggregate itself and the size joins disappear. Two data exchanges
    total (postings on shingle, pair counts on (doc_a, doc_b)) versus
    the join form's two join-side shuffles + pair agg + two size-join
    shuffles. Shingles are array_distinct per doc upstream, so each
    doc appears at most once per posting list — pair multiplicity is
    identical to the join form's.
    """
    sh = arrs.select("doc_id", "sz", F.explode("shingles").alias("shingle"))
    # df per shingle: partial (map-side) aggregation collapses hot keys
    # before the exchange, so this pass is skew-proof; the hot list is
    # tiny (only above-cap shingles) and broadcast into an anti-join.
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    # Broadcast anti-join preserves the exploded stream's layout; the
    # posting-list collect is the only shingle-keyed exchange.
    capped = sh.join(F.broadcast(hot), "shingle", "left_anti")
    postings = capped.groupBy("shingle").agg(
        F.collect_list(F.struct("doc_id", "sz")).alias("ds")
    )
    pairs = (
        postings.select(F.explode("ds").alias("a"), "ds")
        .select("a", F.explode("ds").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    return (
        pairs.groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count("*").alias("inter"),
            # every struct for one doc carries the same sz — first()
            # is value-deterministic
            F.first(F.col("a.sz")).alias("za"),
            F.first(F.col("b.sz")).alias("zb"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").alias("n_shared"),
            round_half_up(F.col("inter") / (F.col("za") + F.col("zb") - F.col("inter")), 4).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard for every pair sharing >= 1 surviving
    shingle.

    The inverted-index join makes this sparse: cost is sum over
    shingles of (docs-per-shingle)^2, not n^2. Hot shingles (stop
    phrases) are the skew risk at scale — the df cap
    (``HOT_SHINGLE_MAX_DF``) bounds every join key's fan-out; AQE
    skew-join smooths whatever remains below the cap.
    """
    # compact array form from the session-shared cache; sizes come from
    # its sz column (no aggregation), the probe sides explode from it.
    arrs = _shingle_arrays_cached(spark, sf_dir)
    return _jaccard_pairs_from_shingles(arrs)


SPAN_K = 8  # duplicated-span width (words)


def span_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicated-span REMOVAL — the transformation the pair
    detectors above only flag: every word-``SPAN_K``-gram that appears
    in more than one document is removed from every document except
    the gram's canonical owner (smallest doc_id containing it), and
    the cleaned text is reconstructed in word order.

    Plan shape, all linear in corpus size: positional gram explode ->
    one aggregation per gram (distinct-doc count + owner, partial agg
    absorbs hot grams map-side) -> join back per occurrence (one
    2-column row per gram key, so a viral boilerplate gram fans out
    only to its own occurrences, never quadratically) -> covered
    positions explode (<= K rows per duplicated occurrence) ->
    anti-join against the word stream -> per-doc ordered
    reconstruction via array_sort over collected (pos, word) structs.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    ws = tokenize_letters(F.col("text"))
    base = docs.select("doc_id", ws.alias("ws"))
    words_pos = base.select(
        "doc_id", F.posexplode("ws").alias("pos", "word")
    )
    grams = base.select(
        "doc_id", F.posexplode(word_kgrams(F.col("ws"), SPAN_K)).alias("gpos", "gram")
    )
    owners = grams.groupBy("gram").agg(
        F.countDistinct("doc_id").alias("nd"), F.min("doc_id").alias("owner")
    )
    dup_spans = (
        grams.join(owners, "gram")
        .filter((F.col("nd") > 1) & (F.col("doc_id") != F.col("owner")))
        .select("doc_id", "gpos")
    )
    covered = dup_spans.select(
        "doc_id",
        F.explode(F.sequence(F.col("gpos"), F.col("gpos") + (SPAN_K - 1))).alias("pos"),
    ).distinct()
    kept = words_pos.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("text_clean"),
    )
    orig = docs.select("doc_id", F.size(ws).alias("n_words"))
    return orig.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_words",
        (F.col("n_words") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
    )


#: Containment floor: report pairs where either doc's shingle set is
#: at least this contained in the other.
CONTAINMENT_THRESHOLD = 0.5


def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment — the inclusion detector Jaccard
    misses: a short document pasted inside a long one scores
    inter/|short| ~ 1 here but a near-zero Jaccard (the union is
    dominated by the long side). Training pipelines use this to catch
    quote-wrapping and boilerplate-template inclusion, not just
    near-identical twins.

    Same sparse inverted-index shape as ``ngram_jaccard_pairs`` —
    df-capped posting lists collected per shingle, pairs exploded
    map-side, sizes riding the collected struct (r16; see
    _jaccard_pairs_from_shingles for the shape rationale) — different
    final math: containment in both directions plus the symmetric max
    the filter applies.
    """
    arrs = _shingle_arrays_cached(spark, sf_dir)
    sh = arrs.select("doc_id", "sz", F.explode("shingles").alias("shingle"))
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > HOT_SHINGLE_MAX_DF)
        .select("shingle")
    )
    capped = sh.join(F.broadcast(hot), "shingle", "left_anti")
    postings = capped.groupBy("shingle").agg(
        F.collect_list(F.struct("doc_id", "sz")).alias("ds")
    )
    pairs = (
        postings.select(F.explode("ds").alias("a"), "ds")
        .select("a", F.explode("ds").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    inter = (
        pairs.groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count("*").alias("inter"),
            F.first(F.col("a.sz")).alias("za"),
            F.first(F.col("b.sz")).alias("zb"),
        )
    )
    c_a = round_half_up(F.col("inter") / F.col("za"), 4)
    c_b = round_half_up(F.col("inter") / F.col("zb"), 4)
    return (
        inter.select(
            "doc_a",
            "doc_b",
            c_a.alias("containment_a"),
            c_b.alias("containment_b"),
        )
        .filter(F.greatest("containment_a", "containment_b") >= CONTAINMENT_THRESHOLD)
    )


def embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs (baseline; quadratic by design).

    Norms are precomputed once per vector so the pair loop is a single
    dot product. This is the correctness baseline for the LSH-bucketed
    scale path in operators/similarity.py — run it only at audit SF.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", vec_norm(F.col("embedding")).alias("nrm")
    )
    # fan the probe side out so the O(n^2) loop parallelizes (factor 4:
    # the dot-product work per row is large); broadcast the build side
    a, b = spread(emb, factor=4).alias("a"), F.broadcast(emb).alias("b")
    cos = dot_product(F.col("a.embedding"), F.col("b.embedding")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            round_half_up(cos, 4).alias("cos"),
        )
        .filter(F.col("cos") >= COSINE_DUP_THRESHOLD)
    )


def embedding_dup_pairs_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs, Arrow/NumPy scoring path —
    bit-identical output to :func:`embedding_dup_pairs` (pinned by
    test), several times faster: the O(n^2) comparisons run as one BLAS
    matmul per Arrow batch instead of n interpreted Catalyst folds per
    row, and only candidates above the threshold floor cross back into
    the JVM (see ``functions.vectorized.all_pairs_scorer`` for the
    select-then-rescore parity contract).

    Same audit-scale label as the HOF form: the corpus matrix rides an
    ``sc.broadcast`` (the identical driver-collect + per-executor ship
    that ``F.broadcast(emb)`` performs in the HOF join); the plan that
    survives 100 TB is the banded LSH path below.
    """
    from mit_map_reduce_spark.functions.vectorized import PAIR_SCHEMA, all_pairs_scorer

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", vec_norm(F.col("embedding")).alias("nrm")
    )
    rows = emb.collect()
    bc = spark.sparkContext.broadcast(
        (
            [r.vec_id for r in rows],
            [r.embedding for r in rows],
            [r.nrm for r in rows],
        )
    )
    # Volume-derived Python-stage width (r15, guide §2/§4): per-task
    # work is rows x corpus x dim flops (one BLAS matmul per batch),
    # so width follows the PAIR volume (~3M dots/task ≈ 200 Mflop) —
    # not a fixed cores-wide spread, which at audit SFs buys mostly the
    # fixed per-task Python cost (catalog.volume_width).
    n_vec = len(rows)
    scorer = all_pairs_scorer(lambda: bc.value, COSINE_DUP_THRESHOLD - 1e-4)
    pairs = emb.repartition(volume_width(n_vec * n_vec, 3_000_000)).mapInPandas(
        scorer, PAIR_SCHEMA
    )
    return pairs.select(
        "vec_a", "vec_b", round_half_up("c", 4).alias("cos")
    ).filter(F.col("cos") >= COSINE_DUP_THRESHOLD)


#: Banded random-hyperplane LSH for embedding dedup: a pair is a
#: candidate if it matches in ANY band of ``rows`` plane-signs — the
#: OR-construction that trades candidate count for recall
#: (P[candidate] = 1 - (1 - s^rows)^bands for sign-agreement rate s).
#: Scale law: bucket count is 2^rows per band, so bucket OCCUPANCY —
#: and the within-bucket join fan-out — grows linearly with the corpus;
#: raise rows (and bands, to hold recall) so buckets stay bounded,
#: exactly like raising K_CELLS in the IVF quantizer. MEASURED
#: (tools/scaling_curve.py + tools/spill_audit.py, r12): at a 10x
#: corpus with the fixed x1 constants (4, 4) the candidate
#: join/distinct spills 7.7 GB and runs 13.4x slower; rows=7/bands=13
#: (occupancy held, recall bands-compensated) spills ZERO at half the
#: shuffle, 2.6x the speed. Since r13 the registered operator DERIVES
#: (rows, bands) from the corpus footer count via
#: :func:`emb_lsh_params`, so the measured tuning is the default at
#: every scale rather than a tool flag.
EMB_LSH_MIN_BANDS = 4
EMB_LSH_MIN_ROWS = 4
#: Target per-band bucket occupancy (corpus / 2^rows). 160 keeps the
#: within-bucket self-join fan-out bounded (~occupancy^2/2 comparisons
#: per bucket) and reproduces both the x1 driver tuning (rows=4 for
#: n<=2560) and the r12-measured zero-spill x10 tuning (rows=7 at
#: n=20000, spill_audit.py table).
EMB_LSH_TARGET_OCCUPANCY = 160
#: Reference sign-agreement rate s* at which bands compensate rows to
#: hold recall: bands(rows) = ceil(ln(miss0)/ln(1 - s*^rows)) with
#: miss0 = (1 - s*^4)^4, the baseline miss probability. s*=0.7 is the
#: design point just above the 0.35-cosine dup threshold
#: (s = 1 - theta/pi = 0.614 at cos=0.35); it reproduces the measured
#: recall-compensated tuning bands=13 at rows=7.
EMB_LSH_S_REF = 0.7
#: Tool override: ``(rows, bands)`` forces the tuning regardless of
#: corpus size (scaling_curve / spill_audit A/B variants). None =
#: derive from the corpus.
EMB_LSH_FORCE: "tuple[int, int] | None" = None
#: Target pre-distinct candidate pairs per task — bounds the
#: hash-distinct working set. An UnsafeRow agg entry for a (long,
#: long) key costs ~100 B with map overhead, and a 32-slot executor
#: at the default 8 g heap gives each task ~145 MB of execution
#: memory, so 250 k entries (~25 MB) leaves a 5x margin; 1 M entries
#: was measured sort-spilling at exactly that budget (x30 per-stage
#: audit: 15.9 GB, all in the distinct stage). The width derived from
#: this is inert below one task wave, so committed SFs keep their
#: r12-pinned plans; the x30 corpus (116 M measured pre-distinct
#: pairs) spilled 18.6 GB at conf width before the scale-out.
EMB_LSH_PAIRS_PER_TASK = 250_000


def emb_lsh_params(n_vectors: int) -> "tuple[int, int]":
    """Corpus-size-derived ``(rows, bands)`` for the banded
    hyperplane LSH — the occupancy law from the r12 measurements,
    wired into the registered operator.

    rows  = max(4, ceil(log2(n / TARGET_OCCUPANCY))): per-band bucket
            occupancy stays <= ~160, so the bucket self-join fan-out
            is bounded no matter the corpus size.
    bands = ceil(ln(miss0) / ln(1 - s*^rows)): the OR-construction
            miss probability at agreement rate s* stays <= the
            (rows=4, bands=4) baseline's — recall never degrades as
            rows grow.

    Derivation checkpoints (pinned by tests/test_emb_lsh_tuning.py):
    n<=2560 -> (4, 4) — all committed SFs, so every driver row and the
    static DuckDB oracle are unchanged; n=20000 (the x10 corpus) ->
    (7, 13) — the tuning spill_audit measured at ZERO spill and half
    the shuffle of the fixed constants.

    Asymptote, stated honestly: holding recall costs
    bands ~ (1/s*)^rows ~ (n/occ)^(log2(1/s*)) ≈ n^0.51, so total
    signature rows grow ~ n^1.5 (n=200k -> 55 bands; n=2e9 -> ~5.7k).
    That is the true price of exact-recall hyperplane LSH at a fixed
    threshold — there is no free n·log n variant. A 100 TB deployment
    that can't pay it caps bands and accepts the measured recall
    decay (dedup_lsh_tuning_report quantifies recall on a sample);
    the derivation deliberately does NOT silently cap, so the
    trade-off is a visible operator-level decision, not a hidden one.
    """
    if EMB_LSH_FORCE is not None:
        return EMB_LSH_FORCE
    n = max(int(n_vectors), 1)
    rows = max(EMB_LSH_MIN_ROWS, math.ceil(math.log2(max(n / EMB_LSH_TARGET_OCCUPANCY, 1.0))))
    miss0 = (1.0 - EMB_LSH_S_REF**EMB_LSH_MIN_ROWS) ** EMB_LSH_MIN_BANDS
    # -1e-9: the rows=4 ratio is exactly 4 in math; keep float noise
    # from ceil'ing it to 5.
    bands = max(
        EMB_LSH_MIN_BANDS,
        math.ceil(math.log(miss0) / math.log(1.0 - EMB_LSH_S_REF**rows) - 1e-9),
    )
    return rows, bands


def emb_lsh_pair_width(n_vectors: int, rows: int, bands: int, floor: int) -> int:
    """Shuffle width for the candidate join + distinct, derived from
    the estimated pre-distinct pair volume bands * n * occ/2 (occ =
    n / 2^rows): each task handles ~EMB_LSH_PAIRS_PER_TASK pairs, so
    the distinct's hash set stays in execution memory at any corpus
    size. Returns ``floor`` (one task wave — no plan change) whenever
    the estimate fits it; capped at 4096 like any sane width."""
    est_pairs = bands * n_vectors * (n_vectors / 2 ** (rows + 1))
    return volume_width(est_pairs, EMB_LSH_PAIRS_PER_TASK, floor=floor)


#: Distinct word-5-gram shingles per document, measured 50.1 at sf0.1
#: (5000 docs / 250704 shingles); the width multiplier keeps headroom
#: above the measurement, the KNN_PAIR_FANOUT discipline.
SHINGLE_FANOUT = 64
#: Shingle rows per verification-join task (~60 B rows -> low tens of
#: MB per task sort footprint).
SHINGLE_ROWS_PER_TASK = 250_000


def _shingle_stream_width(spark: SparkSession, sf_dir: str) -> int:
    """Width for the exploded shingle inverted index feeding the
    Jaccard verification joins. Past the corpus size where the
    candidate frame outgrows the broadcast threshold, those joins
    re-plan to SortMergeJoins that sort the WHOLE shingle stream at
    the session width — measured at x100 (500 k docs, ~25 M shingle
    rows): 2.24 GB of sort spill in one 32-task stage, cold AND warm
    (a steady-state plan, not a build artifact). Deriving the width
    from the documents footer count (docs x SHINGLE_FANOUT /
    SHINGLE_ROWS_PER_TASK) bounds each sort task's rows at any scale;
    committed SFs floor at the session width, keeping the pinned
    broadcast plans unchanged."""
    return volume_width(
        table_footer_count(sf_dir, "documents") * SHINGLE_FANOUT,
        SHINGLE_ROWS_PER_TASK,
        floor=bounded_shuffle_width(spark),
    )


#: Pre-distinct band-join candidate pairs per document, measured ~200
#: at the x100 synthesized corpus (~100 M pairs / 500 k docs — the
#: dup-pair volume scales with the corpus's duplicate rate, linear in
#: disjoint-copy synthesis); headroom above the measurement, the
#: KNN_PAIR_FANOUT discipline.
MINHASH_CAND_FANOUT = 256


def _minhash_pair_width(spark: SparkSession, sf_dir: str) -> int:
    """Width for the MinHash band self-join and its pair distinct —
    the same candidate-volume law as emb_lsh_pair_width, derived from
    the documents footer count. At the session width the join's
    partial-distinct hash maps hold ALL pre-distinct candidates in
    one task wave: measured at x100, 2.24 GB of deterministic spill
    in the 32-task band-join stage, cold AND warm (zero at <= x60 —
    the per-task hash map just fit; the classic memory cliff).
    Committed SFs floor at the session width, plans unchanged."""
    return volume_width(
        table_footer_count(sf_dir, "documents") * MINHASH_CAND_FANOUT,
        EMB_LSH_PAIRS_PER_TASK,
        floor=bounded_shuffle_width(spark),
    )


def _emb_band_keys(emb: DataFrame, rows: int, bands: int) -> DataFrame:
    """(vec_id, band, bucket): per-band sign-bucket of each embedding.

    Plane h = band*rows + r is the same md5-derived literal hyperplane
    the similarity module uses — map-side folds, zero shuffle; stack
    pivots the wide band columns into rows for the equi-join.
    """
    from mit_map_reduce_spark.operators.similarity import _plane_dot

    def sign(h: int):
        return F.when(_plane_dot(h) >= 0, F.lit("1")).otherwise(F.lit("0"))

    band_cols = [
        F.concat(*[sign(b * rows + r) for r in range(rows)]).alias(f"b{b}")
        for b in range(bands)
    ]
    wide = emb.select("vec_id", *band_cols)
    stack = ", ".join(f"{b}, b{b}" for b in range(bands))
    return wide.selectExpr("vec_id", f"stack({bands}, {stack}) AS (band, bucket)")


def embedding_lsh_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, banded-LSH — the 100 TB path for
    :func:`embedding_dup_pairs` (which stays as the exact quadratic
    audit baseline).

    Candidates come from equi-joins on (band, bucket) — never a cross
    join; exact cosine then scores candidates only. Same output shape
    as the exact baseline; recall < 1 by design. (rows, bands) are
    DERIVED from the corpus footer count by :func:`emb_lsh_params`
    (occupancy-held, recall bands-compensated) — (4, 4) at every
    committed SF, (7, 13) at the x10 corpus where the fixed constants
    were measured spilling 7.7 GB. The oracle computes the same
    band-restricted semantics at the committed-SF derivation point.
    """
    from mit_map_reduce_spark.operators.similarity import _emb_with_norm

    n_vectors = table_footer_count(sf_dir, "embeddings")
    rows, bands = emb_lsh_params(n_vectors)
    # session-shared normed corpus (same cache every ANN query probes)
    emb = _emb_with_norm(spark, sf_dir)
    # Session-shared band signatures: the self-join would otherwise
    # evaluate the hyperplane folds TWICE (once per side); one
    # materialized (vec_id, band, bucket) frame is the standard
    # LSH-signature shape (the MinHash path caches its signatures the
    # same way) and measured ~1.5x on this query at sf0.1. The tuning
    # is part of the cache key so a forced-variant A/B in the same
    # session never reuses signatures built at different params.
    keys = shared_persist(
        spark,
        f"emb_band_keys_r{rows}b{bands}",
        sf_dir,
        lambda: _emb_band_keys(emb, rows, bands),
    )
    # Candidate-volume-derived width (r13, measured at x30): the
    # bucket self-join emits ~bands * n * occ/2 pre-distinct pairs
    # (116 M measured at n=60000) and the default plan runs BOTH
    # distinct aggregations at conf width — per-stage audit measured
    # 3.6 GB of partial-agg spill in the join stage plus 9.7 GB in the
    # 32-reducer final distinct, even though bucket occupancy (the
    # per-bucket fan-out) was held. Above one task wave of estimated
    # pairs, (a) the signature frame pre-partitions on the join keys
    # so the join fans out wide (hot buckets are harmless: max bucket
    # 484 -> ~117 k pairs, measured), and (b) the pair stream
    # re-partitions on (vec_a, vec_b) so the distinct is a single
    # width-scaled aggregation — the partial agg (which spilled
    # without deduping much) is skipped for ~2x the pair-shuffle
    # bytes, and each final task's hash set stays ~EMB_LSH_PAIRS_PER
    # _TASK entries. Inert at committed SFs (test_emb_lsh_tuning pins
    # the floor there, so the r12-pinned plans are unchanged); at x10
    # (n=20000, rows=7, bands=13) the derived width is 82 > 32 and the
    # scale-out repartitions DO engage on a 32-slot session.
    floor_width = bounded_shuffle_width(spark)
    pair_width = emb_lsh_pair_width(n_vectors, rows, bands, floor_width)
    scale_out = pair_width > floor_width
    if scale_out:
        keys = keys.repartition(pair_width, "band", "bucket")
    # Candidates via per-bucket posting lists (r16, guide §2.4 — was a
    # (band, bucket) SELF-JOIN): each vec_id appears once per (band,
    # bucket), and bucket occupancy is HELD by the derived (rows,
    # bands) tuning (~EMB_LSH_TARGET_OCCUPANCY, measured max 484), so
    # the collected list is bounded by the same law that bounded the
    # join fan-out — the a < b pairs then explode map-side with no
    # second probe of the signature frame. One bucket-keyed exchange
    # instead of the self-join's two sorted sides.
    buckets = keys.groupBy("band", "bucket").agg(
        F.collect_list("vec_id").alias("vs")
    )
    cand = (
        buckets.select(F.explode("vs").alias("vec_a"), "vs")
        .select("vec_a", F.explode("vs").alias("vec_b"))
        .filter(F.col("vec_a") < F.col("vec_b"))
    )
    if scale_out:
        cand = cand.repartition(pair_width, "vec_a", "vec_b")
    cand = cand.distinct()
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), F.col("nrm").alias("nrm_a"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), F.col("nrm").alias("nrm_b"))
    cos = dot_product(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", round_half_up(cos, 4).alias("cos"))
        .filter(F.col("cos") >= COSINE_DUP_THRESHOLD)
    )


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the MinHash-LSH
    near-dup pair graph — the step that turns pairwise matches into
    keep/drop decisions (cluster id = smallest doc_id in the cluster).

    Iterative min-label propagation, the Spark-idiomatic fixpoint loop:
    each round every node adopts the smallest label among itself and
    its neighbors; rounds = graph diameter (near-dup clusters are tiny,
    so 2-4 rounds). Each round is one join + one aggregate; the loop
    runs in the driver but all data stays distributed — at 100 TB this
    is exactly GraphX/GraphFrames' CC algorithm shape. Persist per
    round bounds lineage growth; the whole fixpoint runs at most once
    per (session, corpus) via the shared registry (bench/driver call
    each query several times — without the registry every call re-ran
    the loop and re-persisted identical lineage, the CacheManager
    duplicate-cache warning the graph loops already fixed), and the
    edge list is released once the final labels materialize.
    """

    def build():
        # The whole fixpoint materializes INSIDE this scope (per-round
        # counts), so the scoped width applies — same pattern as the
        # graph loops. The loop data is near-dup-pair-sized; under a
        # bare 200-partition driver session each of the ~3 rounds' two
        # joins + aggregate otherwise burns conf-width task overhead
        # (measured 21.9 s total keep-list build at sf0.01, ~all
        # scheduling). The upstream LSH-pair artifact builds lazily,
        # so its first materialization lands in this scope too.
        width = bounded_shuffle_width(spark)
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": width}):
            return _cc_fixpoint()

    def _cc_fixpoint():
        pairs = minhash_lsh_pairs(spark, sf_dir)
        edges = (
            pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
            .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
            .persist()
        )
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .persist()
        )
        while True:
            neighbor_min = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("label").alias("nb_label"))
            )
            new_labels = (
                labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
                .select(
                    "node",
                    F.least(F.col("label"), F.coalesce("nb_label", "label")).alias("label"),
                )
                .persist()
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                break
        edges.unpersist()
        return labels

    labels = shared_persist(spark, "dedup_cc_labels", sf_dir, build)
    return labels.select("node", F.col("label").alias("cluster_id"))


def near_dup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end product of the near-dup pipeline: a per-document
    keep/drop decision over the WHOLE corpus — what a training-data
    build actually consumes (filter the corpus to ``keep``).

    Every document gets its duplicate-cluster id (its own doc_id when
    it has no near-dups); ``keep`` marks the cluster representative
    (smallest doc_id). One equi-join of the corpus against the CC label
    table — the label side is bounded by the number of near-dup
    documents, so this stays a plain shuffled hash join (NOT broadcast:
    at 100 TB a heavily-duplicated crawl can make it corpus-sized).
    """
    labels = dedup_connected_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cluster = F.coalesce("cluster_id", "doc_id")
    return docs.join(labels, docs.doc_id == labels.node, "left").select(
        "doc_id",
        cluster.alias("cluster_id"),
        (cluster == F.col("doc_id")).alias("keep"),
    )


#: One document in INGEST_MOD plays the "incoming batch"; the rest are
#: the already-indexed corpus.
INGEST_MOD = 4


def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup — the shape a production corpus build
    actually runs day to day: a NEW batch of documents checked against
    the EXISTING indexed corpus (never corpus-vs-corpus again). Each
    incoming doc gets a verdict: ``exact_dup`` (md5 matches an
    existing doc), ``near_dup`` (MinHash-LSH pair with an existing doc
    at jaccard >= threshold), else ``new`` — plus the canonical
    matching existing doc (smallest id) and the best jaccard for near
    matches. In-batch duplicates are deliberately out of scope here
    (that is ``dedup_near_dup_keep_list``); a doc duplicating only
    other INCOMING docs is ``new``.

    Scale story: the existing side is consulted only through two
    bounded artifacts — its md5 fingerprint set (exact) and its
    band-key index (near) — which at 100 TB are materialized stores
    the ingest job probes with batch-sized joins; the existing TEXT is
    never re-read. Here both sides derive from the session-shared
    signature cache, so the split costs nothing extra.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_incoming = F.col("doc_id") % INGEST_MOD == 0
    incoming = docs.filter(is_incoming)
    exact_store = (
        docs.filter(~is_incoming)
        .groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("exact_match"))
    )
    base = incoming.select("doc_id", F.md5("text").alias("h")).join(
        exact_store, "h", "left"
    )
    pairs = minhash_lsh_pairs(spark, sf_dir)
    in_a = F.col("doc_a") % INGEST_MOD == 0
    in_b = F.col("doc_b") % INGEST_MOD == 0
    cross = pairs.filter(in_a != in_b).select(
        F.when(in_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias("in_doc"),
        F.when(in_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias("ex_doc"),
        "jaccard",
    )
    near = cross.groupBy("in_doc").agg(
        F.max("jaccard").alias("best_jaccard"), F.min("ex_doc").alias("near_match")
    )
    out = base.join(near, base.doc_id == near.in_doc, "left")
    return out.select(
        "doc_id",
        F.when(F.col("exact_match").isNotNull(), "exact_dup")
        .when(F.col("near_match").isNotNull(), "near_dup")
        .otherwise("new")
        .alias("verdict"),
        F.coalesce("exact_match", "near_match").alias("match_doc"),
        F.when(
            F.col("exact_match").isNull() & F.col("near_match").isNotNull(),
            F.col("best_jaccard"),
        ).alias("jaccard"),
    )


#: Hash-split test share (percent of 100 deterministic buckets).
LEAK_TEST_PCT = 20


def dedup_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: after a deterministic hash
    split, how many near-duplicate pairs CROSS the split — the check
    that catches evaluation leakage before anyone trusts a benchmark
    number (a test doc with a near-dup in train is a memorization
    freebie; Lee et al. 2022 found whole eval suites compromised
    this way).

    Composition over the existing primitives: the split is the same
    engine-stable md5-bucket rule as ``text_deterministic_sample``
    (reproducible across engines and partitionings, unlike
    ``df.sample``), the pairs are ``dedup_minhash_lsh_pairs``'s
    band-bucket output. The pair table is bounded by the near-dup
    count, so the two split-assignment joins and the one-row rollup
    are noise next to the LSH stage at any scale; the three single-row
    aggregates combine via 1-row broadcast cross joins.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    bucket = hex_int(F.md5(F.col("doc_id").cast("string")), 4).cast("int") % 100
    split = docs.select("doc_id", (bucket < LEAK_TEST_PCT).alias("is_test"))
    counts = split.agg(
        F.count(F.when(~F.col("is_test"), 1)).alias("n_train"),
        F.count(F.when(F.col("is_test"), 1)).alias("n_test"),
    )
    pairs = minhash_lsh_pairs(spark, sf_dir)
    tagged = (
        pairs.join(
            split.select(F.col("doc_id").alias("doc_a"), F.col("is_test").alias("ta")),
            "doc_a",
        )
        .join(
            split.select(F.col("doc_id").alias("doc_b"), F.col("is_test").alias("tb")),
            "doc_b",
        )
    )
    # ONE aggregate over the tagged pair stream (r15, guide §1.2):
    # the separate leaked-docs branch re-executed the whole LSH
    # band-join + Jaccard-verification pipeline a second time;
    # count_distinct over the when-guarded test-doc id is the same
    # integer (nulls — non-cross pairs — don't count).
    leak_doc = F.when(
        F.col("ta") != F.col("tb"),
        F.when(F.col("ta"), F.col("doc_a")).otherwise(F.col("doc_b")),
    )
    pair_stats = tagged.agg(
        F.count("*").alias("n_pairs"),
        F.count(F.when(F.col("ta") != F.col("tb"), 1)).alias("n_cross_pairs"),
        F.count_distinct(leak_doc).alias("n_leaked_test_docs"),
    )
    return (
        counts.crossJoin(F.broadcast(pair_stats))
        .withColumn(
            "leak_rate",
            round_half_up(
                F.col("n_leaked_test_docs").cast("double") / F.col("n_test"), 4
            ),
        )
    )


def dedup_cluster_size_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the one-page readout of how
    duplicated the corpus actually is (cluster_size=1 is the unique
    mass; the tail is what dedup will delete: a cluster of size s
    drops s-1 docs).

    Two tiny aggregations stacked on the session-shared CC label
    artifact (every doc -> its cluster id via the keep-list view):
    cluster sizes, then the size histogram — each a partial-aggregated
    shuffle whose output is bounded by distinct sizes. The corpus
    total joins in as a BROADCAST 1-row aggregate rather than a
    global window over the histogram: the distinct-size domain is
    usually tiny but an adversarial near-dup distribution can make it
    large, and the broadcast form is size-distribution-proof (no
    single-partition window exists in this plan at all).
    """
    kl = near_dup_keep_list(spark, sf_dir)
    sizes = kl.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    hist = sizes.groupBy("cluster_size").agg(F.count("*").alias("n_clusters"))
    total = sizes.agg(F.sum("cluster_size").alias("__total_docs"))
    return hist.crossJoin(F.broadcast(total)).select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias("n_docs_dropped"),
        round_half_up(
            (F.col("cluster_size") * F.col("n_clusters")).cast("double")
            / F.col("__total_docs"),
            4,
        ).alias("corpus_share"),
    )


def dedup_survivorship_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship audit: compare what the near-dup keep-list
    KEEPS against what it DROPS on quality and length — the check
    that catches a dedup rule silently biasing the corpus (if the
    dropped population skews high-quality, the smallest-id
    representative rule is destroying value and should become
    quality-argmax instead).

    Pure composition: keep-list x quality scores x lengths, one
    two-row rollup. Quality means re-grain the 4dp scores to
    integers before summation (exact in any order); everything else
    is exact counts. The keep-list side is the shared CC artifact —
    this report costs one small join more than the keep-list itself.
    """
    from mit_map_reduce_spark.operators.text import text_quality

    kl = near_dup_keep_list(spark, sf_dir)
    q = text_quality(spark, sf_dir).select("doc_id", "quality")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = kl.join(q, "doc_id").join(docs, "doc_id")
    qg = F.floor(F.col("quality") * 10000.0 + F.lit(0.5)).cast("long")
    total = F.sum("n_docs").over(W.partitionBy())
    return (
        j.groupBy("keep")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(qg).alias("q_g"),
            F.sum("n_chars").alias("chars"),
        )
        .select(
            "keep",
            "n_docs",
            round_half_up(
                F.col("q_g").cast("double") / 10000.0 / F.col("n_docs"), 4
            ).alias("avg_quality"),
            round_half_up(
                F.col("chars").cast("double") / F.col("n_docs"), 2
            ).alias("avg_chars"),
            round_half_up(F.col("n_docs").cast("double") / total, 4).alias("share"),
        )
    )


#: b-bit minwise hashing: bits kept per hash and the collision floor
#: C = 2^-b for the unbiased estimator (Li & Koenig 2010).
BBIT_BITS = 2
BBIT_C = 1.0 / (1 << BBIT_BITS)


def bbit_minhash_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing error report: store only the lowest
    ``BBIT_BITS`` bits of each minhash (a 16x compression of the
    signature at b=2 vs the hex digest) and measure, on the verified
    near-dup pairs, how well the debiased match-fraction estimator
    J ≈ (m - C)/(1 - C) recovers the exact Jaccard — the readout that
    says whether the compressed sketches are good enough to replace
    the full signatures at 100 TB (Li & Koenig 2010; C = 2^-b is the
    large-universe collision floor, so the estimate is approximate by
    construction — the measured error IS the product).

    The b-bit values derive from the existing signature table's last
    hex digit (zero new hashing); per-pair match counts are exact
    integers over the 8 hash slots; the estimator is one float
    expression over those integers.
    """
    pairs = minhash_lsh_pairs(spark, sf_dir)
    sig = minhash_signatures(spark, sf_dir).select(
        "doc_id",
        "h",
        (hex_int("minhash", 1, 32).cast("int") % (1 << BBIT_BITS)).alias("bb"),
    )
    a = sig.select(F.col("doc_id").alias("doc_a"), "h", F.col("bb").alias("ba"))
    b = sig.select(F.col("doc_id").alias("doc_b"), "h", F.col("bb").alias("bbv"))
    matched = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b", "jaccard")
        .agg(
            F.count("*").alias("n_hashes"),
            F.count(F.when(F.col("ba") == F.col("bbv"), 1)).alias("n_matches"),
        )
    )
    mf = F.col("n_matches").cast("double") / F.col("n_hashes")
    est = F.greatest(F.lit(0.0), (mf - BBIT_C) / (1.0 - BBIT_C))
    return matched.select(
        "doc_a",
        "doc_b",
        F.col("jaccard").alias("exact_jaccard"),
        "n_matches",
        round_half_up(est, 4).alias("bbit_estimate"),
        round_half_up(F.abs(est - F.col("jaccard")), 4).alias("abs_error"),
    )


# --- exact char-substring duplication (Lee et al. 2021) ----------------

ESS_K = 20  # anchor length in characters
ESS_STRIDE = 5  # anchor sampling stride
ESS_DROP_SHARE = 0.5  # dup-anchor share that flags a doc for removal


def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact CHAR-level substring duplication — the detector behind
    'Deduplicating Training Data Makes Language Models Better' (Lee
    et al. 2021): their suffix-array ExactSubstr pass finds verbatim
    spans repeated across documents, which token-level near-dup
    (MinHash/SimHash) under-weights when the repeated span is a
    fraction of each doc. Distributed reformulation: sample char
    ``ESS_K``-gram anchors every ``ESS_STRIDE`` chars, group BY THE
    ANCHOR STRING (exactness by construction — no hash verification
    step), and call an anchor duplicated when it occurs in two
    DISTINCT documents (min(doc)!=max(doc) — no count-distinct
    state). Per source: anchor totals, the mean per-doc duplicated
    share, and docs over the ``ESS_DROP_SHARE`` removal bar.

    Scale: anchors shuffle once on the anchor string (partial-
    aggregated; the 2x-stride char overhead replaces the suffix
    array's O(n log n) global sort), the position->verdict join is a
    second shuffle on the same key, and text itself never shuffles.
    A df-capped variant (the HOT_SHINGLE_MAX_DF discipline) applies
    when boilerplate anchors (headers, license text) get hot — at
    this corpus the anchor fan-out is bounded by construction.
    """
    docs = spread(load_table(spark, sf_dir, "documents")).filter(
        F.length("text") >= ESS_K
    )
    anchors = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0), F.length("text") - ESS_K, F.lit(ESS_STRIDE)
                ),
                lambda p: F.col("text").substr(p + 1, F.lit(ESS_K)),
            )
        ).alias("anc"),
    )
    verdict = anchors.groupBy("anc").agg(
        (F.min("doc_id") != F.max("doc_id")).alias("is_dup")
    )
    per_doc = (
        anchors.join(verdict, "anc")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_anchors"),
            F.count(F.when(F.col("is_dup"), 1)).alias("n_dup"),
        )
    )
    share_g = F.floor(
        F.col("n_dup").cast("double") / F.col("n_anchors") * 1e6 + F.lit(0.5)
    ).cast("long")
    return (
        per_doc.select("source", "n_anchors", "n_dup", share_g.alias("share_g"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_anchors").alias("n_anchors"),
            F.sum("n_dup").alias("n_dup_anchors"),
            round_half_up(
                F.sum("share_g").cast("double") / 1e6 / F.count("*"), 4
            ).alias("mean_dup_share"),
            F.count(
                F.when(F.col("share_g") >= int(ESS_DROP_SHARE * 1e6), 1)
            ).alias("n_docs_flagged"),
        )
    )


QUERIES = {
    "dedup_exact_substring_spans": dedup_exact_substring_spans,
    "dedup_bbit_minhash_report": bbit_minhash_report,
    "dedup_survivorship_report": dedup_survivorship_report,
    "dedup_split_leakage_audit": dedup_split_leakage_audit,
    "dedup_cluster_size_report": dedup_cluster_size_report,
    "dedup_incremental_ingest": dedup_incremental_ingest,
    "dedup_exact": dedup_exact,
    "dedup_near_dup_keep_list": near_dup_keep_list,
    "dedup_connected_components": dedup_connected_components,
    "dedup_minhash_signatures": minhash_signatures,
    "dedup_minhash_lsh_pairs": minhash_lsh_pairs,
    "dedup_lsh_tuning_report": lsh_tuning_report,
    "dedup_simhash_fingerprints": simhash_fingerprints,
    "dedup_simhash_band_pairs": simhash_band_pairs,
    "dedup_ngram_jaccard_pairs": ngram_jaccard_pairs,
    "dedup_ngram_containment_pairs": ngram_containment_pairs,
    "dedup_span_clean": span_dedup_clean,
    "dedup_embedding_cosine_pairs": embedding_dup_pairs,
    "dedup_embedding_cosine_pairs_np": embedding_dup_pairs_np,
    "dedup_embedding_lsh_pairs": embedding_lsh_dup_pairs,
}

# Shared SQL fragments (DuckDB). range(1, n) is end-exclusive and
# yields an empty list when n <= 1, which drops docs shorter than the
# shingle width — same as the Spark side.
_WORDS = r"list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')"
_SHINGLES_CTE = f"""
    words AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(ws) - {SHINGLE_K - 2}),
                          i -> array_to_string(ws[i:i + {SHINGLE_K - 1}], ' '))) AS shingle
            FROM words
        )
    )
"""
_SIG_CTE = f"""
    sig AS (
        SELECT doc_id, CAST(t.h AS INTEGER) AS h,
               min(md5(CAST(t.h AS VARCHAR) || ':' || shingle)) AS minhash
        FROM sh CROSS JOIN range({N_HASHES}) t(h)
        GROUP BY doc_id, t.h
    )
"""

#: Shared CTE chain ending in the LSH near-dup `pairs` relation —
#: used by both the pairs oracle and the connected-components oracle.
_PAIRS_CTES = f"""{_SHINGLES_CTE}, {_SIG_CTE},
    bands AS (
        SELECT doc_id, h // {BAND_ROWS} AS band,
               string_agg(minhash, '|' ORDER BY h) AS band_key
        FROM sig GROUP BY doc_id, h // {BAND_ROWS}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT doc_a, doc_b, count(*) AS inter
        FROM cand
        JOIN sh sa ON sa.doc_id = doc_a
        JOIN sh sb ON sb.doc_id = doc_b AND sa.shingle = sb.shingle
        GROUP BY doc_a, doc_b
    ),
    pairs AS (
        SELECT doc_a, doc_b,
               floor((inter / (za.sz + zb.sz - inter)) * 10000.0 + 0.5) / 10000.0 AS jaccard
        FROM inter
        JOIN sizes za ON za.doc_id = doc_a
        JOIN sizes zb ON zb.doc_id = doc_b
        WHERE floor((inter / (za.sz + zb.sz - inter)) * 10000.0 + 0.5) / 10000.0 >= {JACCARD_THRESHOLD}
    )"""

ORACLES = {
    "dedup_exact_substring_spans": f"""
        WITH d AS (
            SELECT doc_id, source, text FROM documents
            WHERE length(text) >= {ESS_K}
        ),
        anchors AS MATERIALIZED (
            SELECT doc_id, source,
                   substr(text, CAST(p AS INTEGER) + 1, {ESS_K}) AS anc
            FROM d, LATERAL (
                SELECT unnest(range(0, length(text) - {ESS_K} + 1,
                              {ESS_STRIDE})) AS p
            ) t
        ),
        verdict AS (
            SELECT anc, min(doc_id) <> max(doc_id) AS is_dup
            FROM anchors GROUP BY anc
        ),
        per_doc AS (
            SELECT a.doc_id, a.source, count(*) AS n_anchors,
                   count(CASE WHEN v.is_dup THEN 1 END) AS n_dup
            FROM anchors a JOIN verdict v ON a.anc = v.anc
            GROUP BY a.doc_id, a.source
        ),
        graded AS (
            SELECT source, n_anchors, n_dup,
                   CAST(floor(CAST(n_dup AS DOUBLE) / n_anchors * 1e6 + 0.5)
                       AS BIGINT) AS share_g
            FROM per_doc
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_anchors) AS BIGINT) AS n_anchors,
               CAST(sum(n_dup) AS BIGINT) AS n_dup_anchors,
               {sql_round(
                   "CAST(sum(share_g) AS DOUBLE) / 1e6"
                   " / CAST(count(*) AS DOUBLE)",
                   4,
               )} AS mean_dup_share,
               CAST(count(CASE WHEN share_g >= {int(ESS_DROP_SHARE * 1e6)}
                          THEN 1 END) AS BIGINT) AS n_docs_flagged
        FROM graded GROUP BY source
    """,
    "dedup_exact": """
        SELECT md5(text) AS text_md5,
               CAST(count(*) AS BIGINT) AS n_copies,
               min(doc_id) AS keep_doc_id
        FROM documents
        GROUP BY md5(text)
    """,
    "dedup_minhash_signatures": f"""
        WITH {_SHINGLES_CTE}, {_SIG_CTE}
        SELECT doc_id, h, minhash FROM sig
    """,
    "dedup_minhash_lsh_pairs": f"""
        WITH {_PAIRS_CTES}
        SELECT doc_a, doc_b, jaccard FROM pairs
    """,
    "dedup_lsh_tuning_report": f"""
        WITH {_PAIRS_CTES},
        tin AS (
            SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS inter
            FROM sh sa JOIN sh sb
              ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
            GROUP BY 1, 2
        ),
        trup AS (
            SELECT t.doc_a, t.doc_b
            FROM tin t
            JOIN sizes za ON za.doc_id = t.doc_a
            JOIN sizes zb ON zb.doc_id = t.doc_b
            WHERE floor((t.inter / (za.sz + zb.sz - t.inter)) * 10000.0 + 0.5)
                      / 10000.0 >= {JACCARD_THRESHOLD}
        ),
        hits AS (
            SELECT c.doc_a, c.doc_b FROM cand c
            JOIN trup t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
               (SELECT CAST(count(*) AS BIGINT) FROM trup) AS n_truth,
               (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits,
               floor(CAST((SELECT count(*) FROM hits) AS DOUBLE)
                     / (SELECT count(*) FROM cand) * 10000.0 + 0.5) / 10000.0
                   AS precision,
               floor(CAST((SELECT count(*) FROM hits) AS DOUBLE)
                     / (SELECT count(*) FROM trup) * 10000.0 + 0.5) / 10000.0
                   AS recall
    """,
    "dedup_incremental_ingest": f"""
        WITH {_PAIRS_CTES},
        inc AS (
            SELECT doc_id, md5(text) AS h FROM documents
            WHERE doc_id % {INGEST_MOD} = 0
        ),
        exm AS (
            SELECT md5(text) AS h, min(doc_id) AS exact_match
            FROM documents WHERE doc_id % {INGEST_MOD} <> 0
            GROUP BY md5(text)
        ),
        np AS (
            SELECT CASE WHEN doc_a % {INGEST_MOD} = 0 THEN doc_a ELSE doc_b END AS in_doc,
                   CASE WHEN doc_a % {INGEST_MOD} = 0 THEN doc_b ELSE doc_a END AS ex_doc,
                   jaccard
            FROM pairs
            WHERE (doc_a % {INGEST_MOD} = 0) <> (doc_b % {INGEST_MOD} = 0)
        ),
        near AS (
            SELECT in_doc, max(jaccard) AS best_jaccard, min(ex_doc) AS near_match
            FROM np GROUP BY in_doc
        )
        SELECT inc.doc_id,
               CASE WHEN exm.exact_match IS NOT NULL THEN 'exact_dup'
                    WHEN near.near_match IS NOT NULL THEN 'near_dup'
                    ELSE 'new' END AS verdict,
               coalesce(exm.exact_match, near.near_match) AS match_doc,
               CASE WHEN exm.exact_match IS NULL THEN near.best_jaccard END AS jaccard
        FROM inc
        LEFT JOIN exm ON exm.h = inc.h
        LEFT JOIN near ON near.in_doc = inc.doc_id
    """,
    "dedup_connected_components": f"""
        WITH RECURSIVE {_PAIRS_CTES},
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        walk(node, label) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst
        )
        SELECT node, min(label) AS cluster_id FROM walk GROUP BY node
    """,

    "dedup_near_dup_keep_list": f"""
        WITH RECURSIVE {_PAIRS_CTES},
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        walk(node, label) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst
        ),
        cc AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node)
        SELECT d.doc_id,
               coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
               coalesce(cc.cluster_id, d.doc_id) = d.doc_id AS keep
        FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
    """,
    "dedup_simhash_fingerprints": "__SET_BELOW__",
    "dedup_simhash_band_pairs": "__SET_BELOW__",
    "dedup_span_clean": f"""
        WITH t AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
        wp AS (
            SELECT doc_id, generate_subscripts(ws, 1) - 1 AS pos, unnest(ws) AS word
            FROM t
        ),
        g AS (
            SELECT doc_id, CAST(i AS INTEGER) - 1 AS gpos,
                   array_to_string(ws[i:i + {SPAN_K - 1}], ' ') AS gram
            FROM t, LATERAL (SELECT unnest(range(1, len(ws) - {SPAN_K - 2})) AS i)
        ),
        owners AS (
            SELECT gram, count(DISTINCT doc_id) AS nd, min(doc_id) AS owner
            FROM g GROUP BY gram
        ),
        rm AS (
            SELECT g.doc_id, g.gpos
            FROM g JOIN owners ON g.gram = owners.gram
            WHERE owners.nd > 1 AND g.doc_id <> owners.owner
        ),
        cov AS (
            SELECT DISTINCT doc_id, gpos + CAST(o AS INTEGER) AS pos
            FROM rm, LATERAL (SELECT unnest(range({SPAN_K})) AS o)
        ),
        kept AS (
            SELECT wp.doc_id, wp.pos, wp.word
            FROM wp LEFT JOIN cov ON wp.doc_id = cov.doc_id AND wp.pos = cov.pos
            WHERE cov.doc_id IS NULL
        ),
        rebuilt AS (
            SELECT doc_id, count(*) AS n_kept,
                   string_agg(word, ' ' ORDER BY pos) AS text_clean
            FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.ws) AS INTEGER) AS n_words,
               CAST(len(t.ws) - coalesce(rebuilt.n_kept, 0) AS BIGINT) AS n_removed,
               coalesce(rebuilt.text_clean, '') AS text_clean
        FROM t LEFT JOIN rebuilt ON rebuilt.doc_id = t.doc_id
    """,
    "dedup_ngram_containment_pairs": f"""
        WITH {_SHINGLES_CTE},
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        capped AS (
            SELECT doc_id, shingle FROM sh
            QUALIFY count(*) OVER (PARTITION BY shingle) <= {HOT_SHINGLE_MAX_DF}
        ),
        inter AS (
            SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS inter
            FROM capped sa JOIN capped sb
              ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
            GROUP BY sa.doc_id, sb.doc_id
        ),
        scored AS (
            SELECT doc_a, doc_b,
                   floor((inter / za.sz) * 10000.0 + 0.5) / 10000.0 AS containment_a,
                   floor((inter / zb.sz) * 10000.0 + 0.5) / 10000.0 AS containment_b
            FROM inter
            JOIN sizes za ON za.doc_id = doc_a
            JOIN sizes zb ON zb.doc_id = doc_b
        )
        SELECT doc_a, doc_b, containment_a, containment_b
        FROM scored
        WHERE greatest(containment_a, containment_b) >= {CONTAINMENT_THRESHOLD}
    """,
    "dedup_ngram_jaccard_pairs": f"""
        WITH {_SHINGLES_CTE},
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        capped AS (
            SELECT doc_id, shingle FROM sh
            QUALIFY count(*) OVER (PARTITION BY shingle) <= {HOT_SHINGLE_MAX_DF}
        ),
        inter AS (
            SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS inter
            FROM capped sa JOIN capped sb
              ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
            GROUP BY sa.doc_id, sb.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(inter AS BIGINT) AS n_shared,
               floor((inter / (za.sz + zb.sz - inter)) * 10000.0 + 0.5) / 10000.0 AS jaccard
        FROM inter
        JOIN sizes za ON za.doc_id = doc_a
        JOIN sizes zb ON zb.doc_id = doc_b
    """,
    # Bucket-restricted near-dup semantics: the oracle reproduces the
    # hyperplane signatures (same md5-derived planes as the Spark side;
    # see operators/similarity.py) and only scores bucket-mates.
    "dedup_embedding_lsh_pairs": "__SET_BELOW__",
    "dedup_embedding_cosine_pairs": f"""
        WITH nrm AS (
            SELECT vec_id, embedding,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   list_sum(list_transform(range(1, 65),
                        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                       / (a.nrm * b.nrm) AS c
            FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, floor((c) * 10000.0 + 0.5) / 10000.0 AS cos
        FROM pairs WHERE floor((c) * 10000.0 + 0.5) / 10000.0 >= {COSINE_DUP_THRESHOLD}
    """,
}


def _embedding_lsh_oracle_sql() -> str:
    """DuckDB twin of embedding_lsh_dup_pairs, sharing the hyperplane
    derivation with the similarity LSH oracle (md5-hex-digit planes);
    per-band buckets, candidates = match in ANY band (distinct).

    The static SQL encodes :func:`emb_lsh_params` evaluated at the
    committed-SF scale: every driver/testdata corpus (n <= 2560)
    derives exactly (EMB_LSH_MIN_ROWS, EMB_LSH_MIN_BANDS) — pinned by
    tests/test_emb_lsh_tuning.py — so the twin stays exact wherever
    the gate runs it. Checking a larger corpus means regenerating the
    SQL at that corpus's derived tuning (the scaling-curve tools do).
    """
    from mit_map_reduce_spark.operators.similarity import DIM

    oracle_rows, oracle_bands = EMB_LSH_MIN_ROWS, EMB_LSH_MIN_BANDS
    n_planes = oracle_bands * oracle_rows
    return f"""
        WITH nrm AS (
            SELECT vec_id, embedding,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ),
        planes AS (
            SELECT t.h, u.j,
                   CAST({sql_hex_int(
                       "md5(CAST(t.h AS VARCHAR) || '_' || CAST(u.j AS VARCHAR))", 1
                   )} AS DOUBLE) - 7.5 AS p
            FROM range({n_planes}) t(h) CROSS JOIN range({DIM}) u(j)
        ),
        comps AS (
            SELECT vec_id, j - 1 AS j, CAST(x AS DOUBLE) AS x
            FROM (SELECT vec_id, unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS j
                  FROM embeddings)
        ),
        dots AS (
            SELECT vec_id, h, sum(x * p) AS dot
            FROM comps JOIN planes ON comps.j = planes.j
            GROUP BY vec_id, h
        ),
        sig AS (
            SELECT vec_id, h // {oracle_rows} AS band,
                   string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY h) AS bucket
            FROM dots GROUP BY vec_id, h // {oracle_rows}
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM sig a JOIN sig b
              ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        ),
        pairs AS (
            SELECT vec_a, vec_b,
                   list_sum(list_transform(range(1, {DIM + 1}),
                        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                       / (a.nrm * b.nrm) AS c
            FROM cand
            JOIN nrm a ON a.vec_id = vec_a
            JOIN nrm b ON b.vec_id = vec_b
        )
        SELECT vec_a, vec_b, floor((c) * 10000.0 + 0.5) / 10000.0 AS cos
        FROM pairs WHERE floor((c) * 10000.0 + 0.5) / 10000.0 >= {COSINE_DUP_THRESHOLD}
    """


ORACLES["dedup_embedding_lsh_pairs"] = _embedding_lsh_oracle_sql()

#: SimHash fingerprint CTE chain ending in `fp(doc_id, simhash)` —
#: shared by the fingerprint oracle and the band-pairs oracle.
_SIMHASH_FP_CTES = f"""
    words AS (
        SELECT doc_id, unnest({_WORDS}) AS word FROM documents
    ),
    wc AS (SELECT doc_id, word, count(*) AS cnt FROM words GROUP BY doc_id, word),
    per_bit AS (
        SELECT doc_id, b,
               sum(cnt * (2 * (({sql_hex_int("md5(word)", 1, "CAST(b // 4 AS INTEGER) + 1")}
                    >> (3 - CAST(b % 4 AS INTEGER))) & 1) - 1)) AS s
        FROM wc CROSS JOIN range(32) t(b)
        GROUP BY doc_id, b
    ),
    fp AS (
        SELECT doc_id,
               string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
        FROM per_bit GROUP BY doc_id
    )"""

ORACLES["dedup_simhash_fingerprints"] = f"""
    WITH {_SIMHASH_FP_CTES}
    SELECT doc_id, simhash FROM fp
"""

ORACLES["dedup_simhash_band_pairs"] = f"""
    WITH {_SIMHASH_FP_CTES},
    bands AS (
        SELECT doc_id, simhash, t.b AS band,
               substr(simhash, CAST(t.b AS INTEGER) * {SIMHASH_BAND_BITS} + 1,
                      {SIMHASH_BAND_BITS}) AS band_key
        FROM fp CROSS JOIN range({SIMHASH_BANDS}) t(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sim_a, b.simhash AS sim_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_filter(range(1, 33),
                i -> substr(sim_a, CAST(i AS INTEGER), 1)
                     <> substr(sim_b, CAST(i AS INTEGER), 1))) AS INTEGER) AS hamming
    FROM cand
    WHERE len(list_filter(range(1, 33),
          i -> substr(sim_a, CAST(i AS INTEGER), 1)
               <> substr(sim_b, CAST(i AS INTEGER), 1))) <= {SIMHASH_MAX_HAMMING}
"""

# The NumPy path is bit-identical to the HOF form (sequential float64
# accumulation — functions/vectorized.py), so it shares its oracle.
ORACLES["dedup_embedding_cosine_pairs_np"] = ORACLES["dedup_embedding_cosine_pairs"]

ORACLES["dedup_split_leakage_audit"] = f"""
    WITH {_PAIRS_CTES},
    splits AS (
        SELECT doc_id,
               ({sql_hex_int("md5(CAST(doc_id AS VARCHAR))", 4)} % 100) < {LEAK_TEST_PCT} AS is_test
        FROM documents
    ),
    tagged AS (
        SELECT p.doc_a, p.doc_b, sa.is_test AS ta, sb.is_test AS tb
        FROM pairs p
        JOIN splits sa ON sa.doc_id = p.doc_a
        JOIN splits sb ON sb.doc_id = p.doc_b
    ),
    leaked AS (
        SELECT DISTINCT CASE WHEN ta THEN doc_a ELSE doc_b END AS doc
        FROM tagged WHERE ta <> tb
    )
    SELECT (SELECT CAST(count(*) FILTER (NOT is_test) AS BIGINT) FROM splits) AS n_train,
           (SELECT CAST(count(*) FILTER (is_test) AS BIGINT) FROM splits) AS n_test,
           (SELECT CAST(count(*) AS BIGINT) FROM tagged) AS n_pairs,
           (SELECT CAST(count(*) FILTER (ta <> tb) AS BIGINT) FROM tagged) AS n_cross_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM leaked) AS n_leaked_test_docs,
           floor(((SELECT CAST(count(*) AS DOUBLE) FROM leaked)
                  / (SELECT count(*) FILTER (is_test) FROM splits)) * 10000.0 + 0.5)
               / 10000.0 AS leak_rate
"""

ORACLES["dedup_cluster_size_report"] = f"""
    WITH kl AS ({ORACLES["dedup_near_dup_keep_list"]}),
    sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM kl GROUP BY cluster_id),
    hist AS (
        SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        FROM sizes GROUP BY cluster_size
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size, n_clusters,
           CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
           CAST((cluster_size - 1) * n_clusters AS BIGINT) AS n_docs_dropped,
           floor((CAST(cluster_size * n_clusters AS DOUBLE)
                  / sum(cluster_size * n_clusters) OVER ()) * 10000.0 + 0.5)
               / 10000.0 AS corpus_share
    FROM hist
"""

# Survivorship oracle composes the keep-list and text-quality oracles
# verbatim (no circular import: text.py never imports dedup).
from mit_map_reduce_spark.operators.text import ORACLES as _TEXT_ORACLES  # noqa: E402

ORACLES["dedup_survivorship_report"] = f"""
    WITH kl AS ({ORACLES["dedup_near_dup_keep_list"]}),
    q AS ({_TEXT_ORACLES["text_quality"]}),
    j AS (
        SELECT kl.keep,
               CAST(floor(q.quality * 10000.0 + 0.5) AS BIGINT) AS qg,
               d.n_chars
        FROM kl
        JOIN q ON q.doc_id = kl.doc_id
        JOIN documents d ON d.doc_id = kl.doc_id
    )
    SELECT keep,
           CAST(count(*) AS BIGINT) AS n_docs,
           floor((CAST(sum(qg) AS DOUBLE) / 10000.0 / count(*)) * 10000.0 + 0.5)
               / 10000.0 AS avg_quality,
           floor((CAST(sum(n_chars) AS DOUBLE) / count(*)) * 100.0 + 0.5)
               / 100.0 AS avg_chars,
           floor((CAST(count(*) AS DOUBLE) / sum(count(*)) OVER ()) * 10000.0 + 0.5)
               / 10000.0 AS share
    FROM j GROUP BY keep
"""

ORACLES["dedup_bbit_minhash_report"] = f"""
    WITH {_PAIRS_CTES},
    bb AS (
        SELECT doc_id, h,
               {sql_hex_int("minhash", 1, 32)} % {1 << BBIT_BITS} AS bb
        FROM sig
    ),
    matched AS (
        SELECT p.doc_a, p.doc_b, p.jaccard,
               CAST(count(*) AS BIGINT) AS n_hashes,
               CAST(count(*) FILTER (a.bb = b.bb) AS BIGINT) AS n_matches
        FROM pairs p
        JOIN bb a ON a.doc_id = p.doc_a
        JOIN bb b ON b.doc_id = p.doc_b AND b.h = a.h
        GROUP BY p.doc_a, p.doc_b, p.jaccard
    )
    SELECT doc_a, doc_b, jaccard AS exact_jaccard, n_matches,
           floor((greatest(0.0, (CAST(n_matches AS DOUBLE) / n_hashes - {BBIT_C})
                            / (1.0 - {BBIT_C}))) * 10000.0 + 0.5) / 10000.0
               AS bbit_estimate,
           floor((abs(greatest(0.0, (CAST(n_matches AS DOUBLE) / n_hashes - {BBIT_C})
                            / (1.0 - {BBIT_C})) - jaccard)) * 10000.0 + 0.5) / 10000.0
               AS abs_error
    FROM matched
"""
