"""Approximate/sketching aggregates (beyond-reference; SURVEY §2c
"extensions" row).

At 100 TB the exact forms of COUNT(DISTINCT) and percentile are the
expensive outliers — a full shuffle of every distinct key, a per-group
sort — while the sketch forms (HyperLogLog++, Greenwald-Khanna) are
single-pass, fixed-memory, and mergeable map-side. These queries ship
both side by side: the exact value (which the DuckDB oracle verifies
bit-for-bit) and a WITHIN-TOLERANCE boolean for the sketch (which the
oracle asserts as a literal TRUE). The differential gate is exact
hashing, so the sketch itself cannot be hash-compared across engines —
the boolean turns "approx is close to exact" into a hashable fact,
with the tolerance set many sigma above the sketch's configured error
so the check is deterministic in practice.

No reference analog: the reference's only aggregate is reducef over
grouped values (src/mr/worker.go:201-210); sketches require mergeable
partial state the reference cannot express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mit_map_reduce_spark.catalog import load_table
from mit_map_reduce_spark.functions.columns import hex_int, round_half_up, sql_hex_int, sql_round

#: HLL++ relative standard deviation; the acceptance tolerance is 5
#: sigma above it, so a correct sketch fails the boolean with
#: probability ~1e-6 per group.
HLL_RSD = 0.01
HLL_TOL = 0.05

#: approx_percentile accuracy: rank error <= 1/PCT_ACCURACY. Group
#: sizes at every test SF are far below this, where the GK sketch
#: degenerates to exact; at scale the rank error stays 1e-4.
PCT_ACCURACY = 10_000
PCT_TOL = 0.01


def sketch_approx_distinct_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct buyers per segment, exact AND HyperLogLog++.

    The exact countDistinct shuffles every distinct (segment, custkey)
    pair; approx_count_distinct carries a fixed ~kilobyte HLL register
    set per group through map-side partial aggregation — the form to
    use at 100 TB. The oracle verifies the exact column and pins the
    sketch to within HLL_TOL of it.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    per_seg = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("n_buyers"),
            F.approx_count_distinct("o_custkey", rsd=HLL_RSD).alias("n_approx"),
            F.count("*").alias("n_orders"),
        )
    )
    ok = (
        F.abs(F.col("n_approx").cast("double") - F.col("n_buyers").cast("double"))
        <= F.lit(HLL_TOL) * F.col("n_buyers").cast("double")
    )
    return per_seg.select("c_mktsegment", "n_buyers", "n_orders", ok.alias("hll_within_tol"))


def sketch_approx_percentile_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median / p90 of order value per segment, exact AND
    Greenwald-Khanna approx_percentile.

    Exact percentiles need the per-group sort; the GK sketch is a
    bounded-memory single pass. Exact values hash-match the oracle
    (PERCENTILE_CONT semantics = DuckDB quantile_cont); the sketch
    values must land within PCT_TOL of them.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    per_seg = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.median("o_totalprice").alias("exact_p50"),
            F.percentile("o_totalprice", F.lit(0.9)).alias("exact_p90"),
            F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(PCT_ACCURACY)).alias("ap50"),
            F.approx_percentile("o_totalprice", F.lit(0.9), F.lit(PCT_ACCURACY)).alias("ap90"),
        )
    )

    def within(approx, exact):
        return F.abs(F.col(approx) - F.col(exact)) <= F.lit(PCT_TOL) * F.abs(F.col(exact))

    return per_seg.select(
        "c_mktsegment",
        round_half_up("exact_p50", 4).alias("median_value"),
        round_half_up("exact_p90", 4).alias("p90_value"),
        (within("ap50", "exact_p50") & within("ap90", "exact_p90")).alias("gk_within_tol"),
    )


#: Count-min sketch geometry: DEPTH independent hash rows x WIDTH
#: counters = a fixed 256-cell table regardless of corpus size. Row-i
#: hash = first two md5 hex digits of "i:key" mod WIDTH (256 % 64 == 0,
#: so the modulus is unbiased).
CMS_DEPTH = 4
CMS_WIDTH = 64
CMS_TOP = 20


def _cms_bucket(i: int, key):
    return hex_int(F.md5(F.concat(F.lit(f"{i}:"), key)), 2).cast("int") % CMS_WIDTH


def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream + heavy-hitter
    readout — the custom sketch the builtins don't provide, and the
    streaming-friendly answer to "top words without a full word
    shuffle".

    Build: every token occurrence increments DEPTH counters; the
    sketch is the (row, bucket) -> count table — 256 cells total, so
    the aggregation's OUTPUT is constant-size no matter how many
    tokens flow through (the partial aggregate absorbs the stream
    map-side; at 100 TB this is the only aggregation whose exchange
    carries 256 rows). Readout: est(key) = min over rows of its
    bucket's counter; CMS never underestimates, so est >= exact always
    — the oracle pins that invariant as a literal TRUE per key, and
    because the hashes are md5-derived (not RNG), the oracle rebuilds
    the SAME sketch and verifies the estimates bit-for-bit, which the
    HLL/GK queries cannot do.

    The candidate set read out here is the exact top-CMS_TOP tokens
    (so overcount is visible next to truth); a production flow keeps
    candidates from a stream (e.g. a lossy-counting pass) and probes
    the same table.

    Plan shape (r15, guide §2.3/§2.4): the exact top-K candidate
    readout already pays a full per-word aggregation, so the sketch
    now builds FROM that word-count table (bucket count = sum of its
    words' counts — the same integers) instead of from the raw
    occurrence stream: the shared word aggregation is plan-identical
    in both branches (ReuseExchange dedups it), so the corpus
    tokenizes once instead of twice and the 4 md5 bucket hashes run
    once per DISTINCT word, not once per occurrence. A candidates-
    from-a-stream deployment (no exact readout) would build from the
    occurrence stream again — the 256-cell exchange contract is
    unchanged either way.
    """
    docs = load_table(spark, sf_dir, "documents")
    from mit_map_reduce_spark.functions.columns import tokenize_letters

    words = docs.select(
        F.explode(tokenize_letters(F.lower(F.col("text")))).alias("word")
    )
    wc = words.groupBy("word").agg(F.count("*").alias("exact_count"))
    rows = wc.select(
        F.col("exact_count").alias("wn"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), _cms_bucket(i, F.col("word")).alias("b")
                    )
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("ib"),
    ).select("wn", "ib.i", "ib.b")
    sketch = rows.groupBy("i", "b").agg(F.sum("wn").alias("n"))
    cand = wc.orderBy(F.col("exact_count").desc(), "word").limit(CMS_TOP)
    probes = cand.select(
        "word",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), _cms_bucket(i, F.col("word")).alias("b")
                    )
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("ib"),
    ).select("word", "exact_count", "ib.i", "ib.b")
    est = (
        probes.join(F.broadcast(sketch), ["i", "b"])
        .groupBy("word", "exact_count")
        .agg(F.min("n").alias("cms_est"))
    )
    return est.select(
        "word",
        "exact_count",
        "cms_est",
        (F.col("cms_est") - F.col("exact_count")).alias("overcount"),
        (F.col("cms_est") >= F.col("exact_count")).alias("no_underestimate"),
    )


CMS_GROUP_TOP = 5


def sketch_cms_topk_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP count-min sketches: one independent CMS per corpus
    source, probed for that source's top tokens — the partitioned form
    of ``sketch_cms_heavy_hitters`` that answers "heavy hitters per
    tenant/domain/day" without ever shuffling per-(group, key) counts:
    the aggregation output is 256 cells PER GROUP no matter how many
    distinct tokens each group streams (here 5 sources -> 1280 cells
    total; a per-key exact count would shuffle every distinct
    (source, word)).

    The candidate set read out is each source's exact top
    ``CMS_GROUP_TOP`` tokens so overcount sits beside truth; the md5
    hashes are group-independent, so the oracle rebuilds each group's
    sketch bit-for-bit (exact estimate verification, like the global
    CMS).
    """
    docs = load_table(spark, sf_dir, "documents")
    from mit_map_reduce_spark.functions.columns import tokenize_letters
    from pyspark.sql import Window as W

    words = docs.select(
        "source", F.explode(tokenize_letters(F.lower(F.col("text")))).alias("word")
    )
    probes_struct = F.array(
        *[
            F.struct(F.lit(i).alias("i"), _cms_bucket(i, F.col("word")).alias("b"))
            for i in range(CMS_DEPTH)
        ]
    )
    counts = words.groupBy("source", "word").agg(F.count("*").alias("exact_count"))
    # Sketch built from the per-(source, word) counts the candidate
    # readout already aggregates (same integers; ReuseExchange dedups
    # the shared aggregation) — one corpus tokenize pass, md5 per
    # distinct (source, word) instead of per occurrence (r15, guide
    # §2.3/§2.4; see sketch_cms_heavy_hitters).
    sketch = (
        counts.select("source", F.col("exact_count").alias("wn"), F.explode(probes_struct).alias("ib"))
        .groupBy("source", "ib.i", "ib.b")
        .agg(F.sum("wn").alias("n"))
    )
    w = W.partitionBy("source").orderBy(F.col("exact_count").desc(), "word")
    cand = (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= CMS_GROUP_TOP)
    )
    probes = cand.select(
        "source", "rank", "word", "exact_count", F.explode(probes_struct).alias("ib")
    ).select("source", "rank", "word", "exact_count", "ib.i", "ib.b")
    est = (
        probes.join(F.broadcast(sketch), ["source", "i", "b"])
        .groupBy("source", "rank", "word", "exact_count")
        .agg(F.min("n").alias("cms_est"))
    )
    return est.select(
        "source",
        "rank",
        "word",
        "exact_count",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_count")).alias("no_underestimate"),
    )


# --- Bloom-filter join prefilter (round 4) -------------------------------

BLOOM_BITS = 1024
BLOOM_HASHES = 3
BLOOM_MIN_BAL = 8000.0


def _bloom_bit(i: int, key):
    return hex_int(F.md5(F.concat(F.lit(f"{i}:"), key.cast("string"))), 3).cast("int") % BLOOM_BITS


def sketch_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join prefilter — the runtime-filter pattern
    that makes selective fact-dim joins cheap at 100 TB: instead of
    shuffling the fact table to discover that most rows have no
    premium-customer match, a ~kilobyte bit array built from the
    filtered dimension broadcasts to every scan task and discards
    non-members map-side. False POSITIVES survive to the real join
    (harmless, re-checked there); false negatives are impossible —
    the two properties this query surfaces as columns.

    Deterministic by construction (md5-derived bit positions, like the
    CMS), so the DuckDB oracle rebuilds the identical filter and the
    false-positive count is an exact integer, not a tolerance check.
    Spark has this built in (spark.sql.optimizer.runtime.bloomFilter.
    enabled injects one automatically); the explicit form shows the
    mechanics and pins the semantics.
    """
    cust = load_table(spark, sf_dir, "customer")
    premium = cust.filter(F.col("c_acctbal") > BLOOM_MIN_BAL).select("c_custkey")
    bloom = (
        premium.select(
            F.explode(
                F.array(*[_bloom_bit(i, F.col("c_custkey")) for i in range(BLOOM_HASHES)])
            ).alias("bit")
        )
        .distinct()
        .agg(
            F.sort_array(F.collect_set("bit")).alias("bits"),
            F.count("*").alias("n_bits_set"),
        )
    )
    orders = load_table(spark, sf_dir, "orders")
    is_cand = None
    for i in range(BLOOM_HASHES):
        c = F.array_contains(F.col("bits"), _bloom_bit(i, F.col("o_custkey")))
        is_cand = c if is_cand is None else (is_cand & c)
    scored = (
        orders.crossJoin(F.broadcast(bloom))
        .join(
            F.broadcast(premium.withColumn("hit", F.lit(1))),
            orders.o_custkey == premium.c_custkey,
            "left",
        )
        .select(is_cand.alias("cand"), F.col("hit").isNotNull().alias("truth"), "n_bits_set")
    )
    return scored.groupBy("n_bits_set").agg(
        F.count(F.when(F.col("cand"), 1)).alias("n_candidates"),
        F.count(F.when(F.col("truth"), 1)).alias("n_matching"),
        F.count(F.when(F.col("cand") & ~F.col("truth"), 1)).alias("n_false_positives"),
        F.count(F.when(F.col("truth") & ~F.col("cand"), 1)).alias("n_false_negatives"),
    )


# --- explicit two-level HLL union-merge (round 4) ------------------------

HLL_LGK = 14  # DataSketches lgConfigK: 2^14 registers, ~0.8% RSE


def sketch_hll_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level mergeable distinct counting: a serialized HLL sketch
    per nation (level 1), union-merged into one sketch per region
    (level 2), then estimated — the EXPLICIT form of the property that
    makes sketches the 100 TB answer: partial states are bytes that
    merge associatively, so per-partition/per-day/per-shard sketches
    roll up without re-touching the raw data. (``approx_count_distinct``
    does the same merge invisibly inside one aggregation;
    materializing the level-1 sketch is what enables INCREMENTAL
    rollups — yesterday's nation sketches never recompute.)

    Uses Spark's DataSketches-backed hll_sketch_agg/hll_union_agg
    binary columns. Buyers are nation-disjoint, so the region-exact
    count doubles as a sum-check of the level-1 exacts; the oracle
    pins the exact columns and the within-tolerance contract as TRUE
    (same pattern as the HLL/GK queries above).
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    buyer_nation = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_custkey", "c_nationkey"
    )
    per_nation = buyer_nation.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("o_custkey", F.lit(HLL_LGK)).alias("sketch"),
        F.countDistinct("o_custkey").alias("exact_buyers"),
    )
    dim = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey", "r_name"
        )
    )
    per_region = (
        per_nation.join(dim, per_nation.c_nationkey == dim.n_nationkey)
        .groupBy("r_name")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"),
            # buyers are nation-disjoint: the region exact is the sum
            # of the level-1 exacts — no second raw-data pass needed
            F.sum("exact_buyers").alias("exact_buyers"),
            F.count("*").alias("n_nations"),
        )
    )
    ok = (
        F.abs(F.col("est").cast("double") - F.col("exact_buyers").cast("double"))
        <= F.lit(HLL_TOL) * F.col("exact_buyers").cast("double")
    )
    return per_region.select(
        "r_name", "n_nations", "exact_buyers", ok.alias("hll_union_within_tol")
    )


AMS_DEPTH = 8  # independent sign rows; estimate = median of squares


def sketch_ams_second_moment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second frequency moment (Alon-Matias-Szegedy) over the
    corpus token stream — F2 = sum of squared token frequencies, the
    moment behind self-join size estimation and skew detection, in
    O(depth) space instead of a per-token frequency table.

    Each of ``AMS_DEPTH`` rows assigns every token a +-1 sign (parity
    of an md5 hex digit of "row:token" — deterministic, so the oracle
    rebuilds the SAME sketch, the CMS discipline); the row statistic
    Z_i = sum over tokens of sign_i * freq accumulates EXACT integers,
    and E[Z_i^2] = F2. The estimate is the median of the 8 squares —
    order statistics over 8 exact integers, engine-invariant. Exact
    F2 rides beside it; the within-tolerance contract allows 1/sqrt(2)
    relative error (the AMS variance bound at this depth is loose —
    the bool is pinned TRUE by the oracle, which also reproduces the
    estimate bit-for-bit).

    Scale shape: the only exchange after the (token -> count)
    aggregation carries AMS_DEPTH rows; at 100 TB the sign fold
    happens map-side against partial counts exactly like the CMS.
    """
    from mit_map_reduce_spark.functions.columns import tokenize_letters

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(tokenize_letters(F.lower(F.col("text")))).alias("word")
    )
    freqs = words.groupBy("word").agg(F.count("*").alias("c"))
    rows = freqs.select(
        "c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (
                            hex_int(F.md5(F.concat(F.lit(f"{i}:"), F.col("word"))), 1).cast("int")
                            % 2
                            * 2
                            - 1
                        ).alias("sign"),
                    )
                    for i in range(AMS_DEPTH)
                ]
            )
        ).alias("isign"),
    ).select("c", "isign.i", "isign.sign")
    z = rows.groupBy("i").agg(F.sum(F.col("sign") * F.col("c")).alias("z"))
    sq = z.select((F.col("z") * F.col("z")).alias("zz"))
    est = sq.agg(
        F.expr("percentile(zz, 0.5)").alias("ams_raw"),
        F.count("*").alias("depth"),
    ).select(F.floor(F.col("ams_raw")).cast("long").alias("ams_est"), "depth")
    exact = freqs.agg(F.sum(F.col("c") * F.col("c")).alias("f2_exact"))
    j = est.crossJoin(F.broadcast(exact))
    ok = (
        F.abs(F.col("ams_est").cast("double") - F.col("f2_exact").cast("double"))
        <= 0.71 * F.col("f2_exact").cast("double")
    )
    return j.select(
        "f2_exact", "ams_est", F.col("depth").alias("n_sign_rows"), ok.alias("ams_within_tol")
    )


def sketch_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from sketches alone: per event type
    one HLL sketch of its distinct users, then |A int B| for every
    type pair by inclusion-exclusion over three ESTIMATES
    (est_a + est_b - est_union) — the standard way to answer overlap
    questions ("how many viewers also purchased?") without ever
    re-touching raw data, since HLLs support union natively but not
    intersection.

    At 100 TB the per-type sketches are the only thing that leaves the
    fact scan (one aggregation); the pair stage is a |types|^2
    nested-loop over a 5-row frame. The exact columns (one distinct
    (type, user) self-join, bounded by user cardinality) exist to pin
    the tolerance contract: inclusion-exclusion compounds three ~0.8%
    register errors, so the check allows HLL_TOL of the exact UNION
    size. The oracle reproduces the exacts and pins the flag TRUE.
    """
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(HLL_LGK)).alias("sketch"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    a = per_type.select(
        F.col("event_type").alias("type_a"),
        F.col("sketch").alias("sk_a"),
        F.col("exact_users").alias("exact_a"),
    )
    b = per_type.select(
        F.col("event_type").alias("type_b"),
        F.col("sketch").alias("sk_b"),
        F.col("exact_users").alias("exact_b"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    est_int = (
        F.hll_sketch_estimate("sk_a")
        + F.hll_sketch_estimate("sk_b")
        - F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    )
    du = ev.select("event_type", "user_id").distinct()
    both = (
        du.alias("l")
        .join(
            du.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("l.event_type") < F.col("r.event_type")),
        )
        .groupBy(
            F.col("l.event_type").alias("type_a"),
            F.col("r.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("exact_both"))
    )
    joined = pairs.join(both, ["type_a", "type_b"])
    exact_union = F.col("exact_a") + F.col("exact_b") - F.col("exact_both")
    ok = (
        F.abs(est_int.cast("double") - F.col("exact_both").cast("double"))
        <= F.lit(HLL_TOL) * exact_union.cast("double")
    )
    return joined.select(
        "type_a",
        "type_b",
        "exact_a",
        "exact_b",
        "exact_both",
        ok.alias("hll_intersection_within_tol"),
    )


def sketch_bloom_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Bloom filters: build one premium-customer filter PER
    market segment, OR-merge the five bit sets, and prove the merge
    equals the filter built directly over all segments — the property
    (bloom(A) | bloom(B) == bloom(A ∪ B), same params) that lets each
    partition/day build its filter independently and a coordinator
    fold them, exactly the ``sketch_hll_union_merge`` contract for
    membership instead of cardinality.

    All bit positions are md5-derived integers, so every row —
    per-segment, merged, and direct — carries an exact bit count plus
    an md5 fingerprint of its sorted bit list; merged == direct is a
    string equality the driver hashes, not a tolerance.
    """
    cust = load_table(spark, sf_dir, "customer")
    premium = cust.filter(F.col("c_acctbal") > BLOOM_MIN_BAL).select(
        "c_mktsegment", "c_custkey"
    )
    bits = premium.select(
        "c_mktsegment",
        F.explode(
            F.array(*[_bloom_bit(i, F.col("c_custkey")) for i in range(BLOOM_HASHES)])
        ).alias("bit"),
    ).distinct()

    def fingerprint(df, label_col):
        return df.groupBy(label_col).agg(
            F.count("*").alias("n_bits_set"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_set("bit")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("bits_md5"),
        )

    per_seg = fingerprint(bits, F.col("c_mktsegment").alias("scope"))
    merged = fingerprint(
        bits.select("bit").distinct().withColumn("scope", F.lit("MERGED")), "scope"
    )
    direct = fingerprint(
        premium.select(
            F.explode(
                F.array(
                    *[_bloom_bit(i, F.col("c_custkey")) for i in range(BLOOM_HASHES)]
                )
            ).alias("bit")
        )
        .distinct()
        .withColumn("scope", F.lit("DIRECT")),
        "scope",
    )
    return per_seg.unionByName(merged).unionByName(direct)


# --- mergeable quantile summaries (the q-digest/t-digest shape) --------

QMERGE_SHARDS = 3  # independent shard summaries to merge
QMERGE_K = 64  # equi-depth summary points per shard
QMERGE_QS = (0.25, 0.5, 0.9, 0.99)
QMERGE_REL_TOL = 0.05


def sketch_quantile_merge_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile summaries — the missing member of the
    mergeable-sketch family beside the HLL union and the Bloom
    OR-merge, and the mechanism behind every distributed
    t-digest/q-digest: each shard compresses its sorted values to a
    ``QMERGE_K``-point equi-depth summary (value + covered-row
    weight), a coordinator merges the tiny summaries by weighted
    cumulative rank, and the merged estimates are graded against the
    EXACT global quantiles computed beside them. The rank-error bound
    of a K-point equi-depth summary is n_shard/K rows per shard —
    the report shows what that buys at 192 summary points vs a full
    sort.

    Shard summaries ride the group-keyed two-pass distributed rank
    (no per-shard single-task sort); the summary-point selection and
    weights are pure integer arithmetic (K a power of two keeps every
    division exact in both engines). The merge itself runs on the
    coordinator over ``QMERGE_SHARDS * QMERGE_K`` rows — the bounded
    driver decision that IS the mergeable-summary contract (at
    100 TB the shard summaries are the only thing that moves).
    """
    from mit_map_reduce_spark.functions.rank import distributed_prefix

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    shards = orders.select(
        (F.col("o_orderkey") % QMERGE_SHARDS).alias("shard"),
        "o_totalprice",
        "o_orderkey",
    )
    ranked = distributed_prefix(
        shards,
        ["o_totalprice", "o_orderkey"],
        group_by=["shard"],
        row_number="rn",
        total_count="n",
    )
    K = QMERGE_K
    n = F.col("n")
    k_cand = F.floor((F.col("rn") * K + n - 1) / n)
    selected = (
        (k_cand >= 1)
        & (k_cand <= K)
        & (F.floor(k_cand * n / K) == F.col("rn"))
    )
    weight = F.col("rn") - F.floor((k_cand - 1) * n / K)
    summary = (
        ranked.filter(selected)
        .select(
            "shard",
            F.col("o_totalprice").alias("v"),
            weight.cast("long").alias("w"),
            "rn",
        )
        .collect()
    )
    pts = sorted(summary, key=lambda r: (r["v"], r["shard"], r["rn"]))
    n_total = sum(r["w"] for r in pts)
    merged = {}
    for q in QMERGE_QS:
        cum = 0
        for r in pts:
            cum += r["w"]
            if cum >= q * n_total:
                merged[q] = r["v"]
                break
    granked = distributed_prefix(
        orders,
        ["o_totalprice", "o_orderkey"],
        row_number="rn",
        total_count="n",
    )
    frames = []
    for q in QMERGE_QS:
        frames.append(
            granked.filter(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n"))
            ).select(
                F.lit(q).alias("q"),
                F.col("o_totalprice").alias("exact_value"),
                F.lit(merged[q]).alias("merged_value"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    rel = F.abs(F.col("merged_value") - F.col("exact_value")) / F.col(
        "exact_value"
    )
    return out.select(
        "q",
        round_half_up("exact_value", 4).alias("exact_value"),
        round_half_up("merged_value", 4).alias("merged_value"),
        round_half_up(rel, 6).alias("rel_error"),
        (rel <= QMERGE_REL_TOL).alias("within_tol"),
    )


QUERIES = {
    "sketch_quantile_merge_report": sketch_quantile_merge_report,
    "sketch_bloom_union_merge": sketch_bloom_union_merge,
    "sketch_ams_second_moment": sketch_ams_second_moment,
    "sketch_hll_intersection": sketch_hll_intersection,
    "sketch_cms_topk_by_source": sketch_cms_topk_by_source,
    "sketch_hll_union_merge": sketch_hll_union_merge,
    "sketch_approx_distinct_buyers": sketch_approx_distinct_buyers,
    "sketch_approx_percentile_order_value": sketch_approx_percentile_order_value,
    "sketch_cms_heavy_hitters": sketch_cms_heavy_hitters,
    "sketch_bloom_prefilter": sketch_bloom_prefilter,
}

#: hex value of the first two md5 digits of "i:word", mod CMS_WIDTH
_CMS_BUCKET_SQL = sql_hex_int("md5(CAST(t.i AS VARCHAR) || ':' || word)", 2) + f" % {CMS_WIDTH}"

def _bloom_bit_sql(key_expr: str) -> str:
    """Hex value of the first three md5 digits of "i:key", mod BLOOM_BITS
    (t.i is the hash index in scope)."""
    m = f"md5(CAST(t.i AS VARCHAR) || ':' || CAST({key_expr} AS VARCHAR))"
    return f"{sql_hex_int(m, 3)} % {BLOOM_BITS}"


_QMERGE_QS_SQL = ", ".join(f"({q})" for q in QMERGE_QS)

ORACLES = {
    "sketch_quantile_merge_report": f"""
        WITH shards AS (
            SELECT o_orderkey % {QMERGE_SHARDS} AS shard, o_totalprice,
                   o_orderkey
            FROM orders
        ),
        ranked AS MATERIALIZED (
            SELECT shard, o_totalprice, o_orderkey,
                   row_number() OVER (PARTITION BY shard
                       ORDER BY o_totalprice, o_orderkey) AS rn,
                   count(*) OVER (PARTITION BY shard) AS n
            FROM shards
        ),
        summary AS MATERIALIZED (
            SELECT shard, o_totalprice AS v, rn,
                   CAST(rn - floor((floor((rn * {QMERGE_K} + n - 1) / n) - 1)
                                   * n / {QMERGE_K}) AS BIGINT) AS w
            FROM ranked
            WHERE floor((rn * {QMERGE_K} + n - 1) / n)
                      BETWEEN 1 AND {QMERGE_K}
              AND floor(floor((rn * {QMERGE_K} + n - 1) / n) * n / {QMERGE_K})
                      = rn
        ),
        cum AS MATERIALIZED (
            SELECT v, shard, rn, w,
                   sum(w) OVER (ORDER BY v, shard, rn
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(w) OVER () AS n_total
            FROM summary
        ),
        qs(q) AS (VALUES {_QMERGE_QS_SQL}),
        merged AS (
            SELECT CAST(qs.q AS DOUBLE) AS q,
                   min_by(c.v, c.cum) AS merged_value
            FROM qs, cum c
            WHERE c.cum >= CAST(qs.q AS DOUBLE) * c.n_total
            GROUP BY 1
        ),
        granked AS MATERIALIZED (
            SELECT o_totalprice,
                   row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
                   count(*) OVER () AS n
            FROM orders
        ),
        exact AS (
            SELECT CAST(qs.q AS DOUBLE) AS q,
                   o_totalprice AS exact_value
            FROM qs, granked
            WHERE rn = CAST(ceil(CAST(qs.q AS DOUBLE) * n) AS BIGINT)
        )
        SELECT e.q,
               {sql_round("e.exact_value", 4)} AS exact_value,
               {sql_round("m.merged_value", 4)} AS merged_value,
               {sql_round(
                   "abs(m.merged_value - e.exact_value) / e.exact_value", 6
               )} AS rel_error,
               abs(m.merged_value - e.exact_value) / e.exact_value
                   <= CAST({QMERGE_REL_TOL} AS DOUBLE) AS within_tol
        FROM exact e JOIN merged m ON e.q = m.q
    """,
    "sketch_bloom_union_merge": f"""
        WITH premium AS (
            SELECT c_mktsegment, c_custkey FROM customer
            WHERE c_acctbal > {BLOOM_MIN_BAL}
        ),
        bits AS (
            SELECT DISTINCT c_mktsegment,
                   {_bloom_bit_sql("c_custkey")} AS bit
            FROM premium CROSS JOIN range({BLOOM_HASHES}) t(i)
        ),
        scoped AS (
            SELECT c_mktsegment AS scope, bit FROM bits
            UNION ALL
            SELECT 'MERGED' AS scope, bit FROM (SELECT DISTINCT bit FROM bits)
            UNION ALL
            SELECT 'DIRECT' AS scope, bit FROM (
                SELECT DISTINCT {_bloom_bit_sql("c_custkey")} AS bit
                FROM premium CROSS JOIN range({BLOOM_HASHES}) t(i)
            )
        )
        SELECT scope, CAST(count(*) AS BIGINT) AS n_bits_set,
               md5(string_agg(CAST(bit AS VARCHAR), ',' ORDER BY bit)) AS bits_md5
        FROM scoped GROUP BY scope
    """,
    "sketch_ams_second_moment": f"""
        WITH words AS (
            SELECT unnest(list_filter(regexp_split_to_array(lower(text),
                       '[^\\p{{L}}]+'), x -> x <> '')) AS word
            FROM documents
        ),
        freqs AS (SELECT word, count(*) AS c FROM words GROUP BY word),
        signed AS (
            SELECT c, t.i,
                   ({sql_hex_int("md5(CAST(t.i AS VARCHAR) || ':' || word)", 1)} % 2) * 2 - 1 AS sign
            FROM freqs CROSS JOIN range({AMS_DEPTH}) t(i)
        ),
        z AS (SELECT i, sum(sign * c) AS z FROM signed GROUP BY i),
        sq AS (SELECT z * z AS zz FROM z),
        est AS (
            SELECT CAST(floor(quantile_cont(zz, 0.5)) AS BIGINT) AS ams_est,
                   count(*) AS depth
            FROM sq
        ),
        ex AS (SELECT sum(c * c) AS f2 FROM freqs)
        SELECT CAST(ex.f2 AS BIGINT) AS f2_exact, est.ams_est,
               CAST(est.depth AS BIGINT) AS n_sign_rows,
               abs(CAST(est.ams_est AS DOUBLE) - CAST(ex.f2 AS DOUBLE))
                   <= 0.71 * CAST(ex.f2 AS DOUBLE) AS ams_within_tol
        FROM est CROSS JOIN ex
    """,
    "sketch_hll_intersection": """
        WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        singles AS (
            SELECT event_type, count(*) AS exact_users FROM du GROUP BY 1
        ),
        inter AS (
            SELECT l.event_type AS type_a, r.event_type AS type_b,
                   count(*) AS exact_both
            FROM du l JOIN du r
              ON l.user_id = r.user_id AND l.event_type < r.event_type
            GROUP BY 1, 2
        )
        SELECT b.type_a, b.type_b,
               CAST(sa.exact_users AS BIGINT) AS exact_a,
               CAST(sb.exact_users AS BIGINT) AS exact_b,
               CAST(b.exact_both AS BIGINT) AS exact_both,
               TRUE AS hll_intersection_within_tol
        FROM inter b
        JOIN singles sa ON b.type_a = sa.event_type
        JOIN singles sb ON b.type_b = sb.event_type
    """,
    "sketch_cms_topk_by_source": f"""
        WITH words AS (
            SELECT source,
                   unnest(list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}]+'),
                          x -> x <> '')) AS word
            FROM documents
        ),
        buckets AS (
            SELECT source, t.i, {_CMS_BUCKET_SQL} AS b
            FROM words CROSS JOIN range({CMS_DEPTH}) t(i)
        ),
        sketch AS (SELECT source, i, b, count(*) AS n FROM buckets GROUP BY source, i, b),
        counts AS (
            SELECT source, word, count(*) AS exact_count
            FROM words GROUP BY source, word
        ),
        cand AS (
            SELECT source, word, exact_count,
                   CAST(row_number() OVER (PARTITION BY source
                        ORDER BY exact_count DESC, word) AS INTEGER) AS rank
            FROM counts
            QUALIFY rank <= {CMS_GROUP_TOP}
        ),
        probes AS (
            SELECT source, rank, word, exact_count, t.i, {_CMS_BUCKET_SQL} AS b
            FROM cand CROSS JOIN range({CMS_DEPTH}) t(i)
        )
        SELECT p.source, p.rank, p.word,
               CAST(p.exact_count AS BIGINT) AS exact_count,
               CAST(min(s.n) AS BIGINT) AS cms_est,
               min(s.n) >= p.exact_count AS no_underestimate
        FROM probes p JOIN sketch s ON s.source = p.source AND s.i = p.i AND s.b = p.b
        GROUP BY p.source, p.rank, p.word, p.exact_count
    """,
    "sketch_hll_union_merge": """
        SELECT r_name,
               CAST(count(DISTINCT n_nationkey) AS BIGINT) AS n_nations,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_buyers,
               TRUE AS hll_union_within_tol
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "sketch_bloom_prefilter": f"""
        WITH premium AS (
            SELECT c_custkey FROM customer WHERE c_acctbal > {BLOOM_MIN_BAL}
        ),
        bits AS (
            SELECT DISTINCT {_bloom_bit_sql("c_custkey")} AS bit
            FROM premium CROSS JOIN range({BLOOM_HASHES}) t(i)
        ),
        scored AS (
            SELECT o_orderkey,
                   (NOT EXISTS (
                       SELECT 1 FROM range({BLOOM_HASHES}) t(i)
                       WHERE {_bloom_bit_sql("o.o_custkey")} NOT IN (SELECT bit FROM bits)
                   )) AS cand,
                   o_custkey IN (SELECT c_custkey FROM premium) AS truth
            FROM orders o
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
               CAST(count(*) FILTER (cand) AS BIGINT) AS n_candidates,
               CAST(count(*) FILTER (truth) AS BIGINT) AS n_matching,
               CAST(count(*) FILTER (cand AND NOT truth) AS BIGINT) AS n_false_positives,
               CAST(count(*) FILTER (truth AND NOT cand) AS BIGINT) AS n_false_negatives
        FROM scored
    """,
    # The md5-derived CMS is fully deterministic, so the oracle
    # rebuilds the identical sketch and verifies the ESTIMATES exactly
    # — a stronger check than the tolerance booleans below.
    "sketch_cms_heavy_hitters": f"""
        WITH words AS (
            SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}]+'),
                          x -> x <> '')) AS word
            FROM documents
        ),
        buckets AS (
            SELECT t.i, {_CMS_BUCKET_SQL} AS b
            FROM words CROSS JOIN range({CMS_DEPTH}) t(i)
        ),
        sketch AS (SELECT i, b, count(*) AS n FROM buckets GROUP BY i, b),
        cand AS (
            SELECT word, count(*) AS exact_count FROM words GROUP BY word
            ORDER BY exact_count DESC, word LIMIT {CMS_TOP}
        ),
        probes AS (
            SELECT word, exact_count, t.i, {_CMS_BUCKET_SQL} AS b
            FROM cand CROSS JOIN range({CMS_DEPTH}) t(i)
        ),
        est AS (
            SELECT word, exact_count, min(s.n) AS cms_est
            FROM probes p JOIN sketch s ON s.i = p.i AND s.b = p.b
            GROUP BY word, exact_count
        )
        SELECT word, CAST(exact_count AS BIGINT) AS exact_count,
               CAST(cms_est AS BIGINT) AS cms_est,
               CAST(cms_est - exact_count AS BIGINT) AS overcount,
               cms_est >= exact_count AS no_underestimate
        FROM est
    """,
    # The oracle states the exact semantics plus the *contract* for the
    # sketch columns: a correct HLL/GK implementation always lands
    # within tolerance, so the hashable truth is a literal TRUE.
    "sketch_approx_distinct_buyers": """
        SELECT c_mktsegment,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_buyers,
               CAST(count(*) AS BIGINT) AS n_orders,
               TRUE AS hll_within_tol
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "sketch_approx_percentile_order_value": """
        SELECT c_mktsegment,
               floor((quantile_cont(o_totalprice, 0.5)) * 10000.0 + 0.5) / 10000.0 AS median_value,
               floor((quantile_cont(o_totalprice, 0.9)) * 10000.0 + 0.5) / 10000.0 AS p90_value,
               TRUE AS gk_within_tol
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
}
