"""Advanced relational operators: as-of / range joins, correlated
subqueries, grouping sets, pivot (beyond-reference; SURVEY §2c lists
all of these as absent from the reference engine).

Spark has no native as-of or range join; each is implemented as the
composition of built-in operators that keeps the scalable plan shape
(window carry-forward for as-of; bucket-key equi-join for ranges)
rather than the O(n*m) theta-join a naive translation would produce.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mit_map_reduce_spark.catalog import load_table
from mit_map_reduce_spark.functions.columns import (
    hex_int,
    money_grains,
    money_sum,
    round_half_up,
    sql_hex_int,
    sql_round,
)
from mit_map_reduce_spark.functions.rank import distributed_prefix, ntile_from_rank

BAND_WIDTH = 50_000.0
N_BANDS = 10


def adv_asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase event, the most recent click at or
    before it by the same user (DuckDB spells this ASOF JOIN).

    Implementation is the merge-pattern that scales: union both event
    streams, one window sort per user, carry the last click timestamp
    forward with last_value(ignore nulls). One shuffle on user_id —
    never a per-row range probe. Ties on ts break by event_id in both
    engines, making the result exactly reproducible.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = ev.withColumn(
        "last_click_ts",
        F.last(F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True).over(w),
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "last_click_ts",
    )


CONVERT_WINDOW_S = 24 * 3600  # count a conversion within one day


def adv_asof_join_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — the mirror of ``adv_asof_join_last_click``:
    for each click, the same user's NEXT purchase at or after it, and
    the seconds-to-conversion if it lands inside ``CONVERT_WINDOW_S``.

    Same merge-pattern scale shape, opposite frame direction: one
    union, one window sort per user, ``first_value(ignore nulls)``
    over the FOLLOWING frame. Still exactly one shuffle on user_id —
    never a per-row range probe. Ties on ts break by event_id.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    carried = ev.withColumn(
        "next_purchase_ts",
        F.first(
            F.when(F.col("event_type") == "purchase", F.col("ts")), ignorenulls=True
        ).over(w),
    )
    secs = F.unix_micros("next_purchase_ts") / 1_000_000.0 - F.unix_micros("ts") / 1_000_000.0
    return carried.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
        "next_purchase_ts",
        F.when(secs <= CONVERT_WINDOW_S, round_half_up(secs, 6)).alias("secs_to_convert"),
    )


def adv_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: orders against a price-band dimension
    [b*W, (b+1)*W).

    A literal BETWEEN theta-join degenerates to a broadcast
    nested-loop; because the bands are uniform, the scalable
    formulation derives the bucket key floor(price/W) and equi-joins —
    identical semantics, hash-join plan. (Non-uniform ranges: bucketize
    to the gcd grid or interval-overlap buckets, same trick.)
    """
    bands = spark.range(N_BANDS).select(
        F.col("id").alias("band"),
        (F.col("id") * BAND_WIDTH).alias("lo"),
        ((F.col("id") + 1) * BAND_WIDTH).alias("hi"),
    )
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "band", F.floor(F.col("o_totalprice") / BAND_WIDTH)
    )
    return (
        orders.join(F.broadcast(bands), "band")
        .groupBy("band", "lo", "hi")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum("o_totalprice", 2).alias("total_price"),
        )
    )


def adv_correlated_subquery_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lineitems with quantity below half their part's
    average quantity.

    The correlated scalar subquery decorrelates to a per-part window
    average — zero extra joins, one shuffle on l_partkey.
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_partkey")
    flagged = li.withColumn("avg_qty", F.avg("l_quantity").over(w))
    return (
        flagged.filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.count("*").alias("n_items"),
            money_sum("l_extendedprice", 2).alias("total_price"),
        )
    )


def adv_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((r_name), (o_orderpriority), ()) over the
    customer->nation->region x orders join (SQL API; grouping sets have
    no DataFrame verb)."""
    for name in ("customer", "nation", "region", "orders"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"gs_{name}")
    return spark.sql(
        """
        SELECT r_name, o_orderpriority,
               count(*) AS n_orders,
               -- grain accumulation (money_grains twin, spelled in
               -- Spark SQL; literals cast to DOUBLE because Spark SQL
               -- parses bare 10000.0 as DECIMAL)
               floor(CAST(sum(CAST(floor(o_totalprice * CAST(10000.0 AS DOUBLE)
                                         + CAST(0.5 AS DOUBLE)) AS DECIMAL(38,0))) AS DOUBLE)
                         / CAST(10000.0 AS DOUBLE) * CAST(100.0 AS DOUBLE)
                     + CAST(0.5 AS DOUBLE))
                   / CAST(100.0 AS DOUBLE) AS total_price
        FROM gs_orders
        JOIN gs_customer ON o_custkey = c_custkey
        JOIN gs_nation ON c_nationkey = n_nationkey
        JOIN gs_region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (o_orderpriority), ())
        """
    )


_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_SAFE = ("n_urgent", "n_high", "n_medium", "n_not_specified", "n_low")


def adv_pivot_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per market segment (rows) x priority (cols).

    Pivot values are pinned explicitly — at scale, letting Spark
    discover pivot values is an extra distinct-scan job.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    piv = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderpriority", list(_PRIORITIES))
        .count()
        .na.fill(0)
    )
    renames = dict(zip(_PRIORITIES, _SAFE))
    for old, new in renames.items():
        piv = piv.withColumnRenamed(old, new)
    return piv


def adv_lag_lead_event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead navigation: each event with its neighbors' types and
    the seconds elapsed since the previous event, per user. One window
    sort per user serves all three functions."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        (F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)).alias(
            "secs_since_prev"
        ),
    )


def adv_window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining analytic-window functions in one pass:
    percent_rank, cume_dist, and nth_value over the per-nation
    account-balance ordering. One window sort serves all three
    (plus the dense_rank the ordering implies).

    Determinism: the order includes the unique custkey, so rank
    positions — and therefore the small-rational percent_rank /
    cume_dist values — are identical in both engines; 6-dp rounding
    absorbs any double-division ulp.
    """
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_nationkey",
        round_half_up("c_acctbal", 2).alias("acctbal"),
        round_half_up(F.percent_rank().over(w), 6).alias("pct_rank"),
        round_half_up(F.cume_dist().over(w), 6).alias("cume_dist"),
        round_half_up(
            F.nth_value("c_acctbal", 2).over(w), 2
        ).alias("second_lowest_bal"),
    )


def adv_gaps_and_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: compress each user's consecutive ACTIVE DAYS
    into contiguous ranges — the classic streak/validity-interval
    pattern (SCD2 interval building and uptime reporting are the same
    shape).

    The anchor trick: within a user, ``active_day - row_number`` days
    is constant exactly while days are consecutive, so grouping on the
    anchor yields one row per streak. One shuffle on user_id serves
    the distinct, the window, and the final group (they share the hash
    partitioning); day arithmetic is integer (date_diff from a fixed
    epoch), identical cross-engine.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    anchored = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    return (
        anchored.groupBy("user_id", "anchor")
        .agg(
            F.min("day").alias("streak_start"),
            F.max("day").alias("streak_end"),
            F.count("*").alias("n_days"),
        )
        .select("user_id", "streak_start", "streak_end", "n_days")
    )


SESSION_GAP_MS = 30 * 60 * 1000  # 30-minute inactivity gap


def adv_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: the classic gap-based session assignment
    (new session when > 30 min since the user's previous event) as two
    chained windows — lag for the gap, a running sum of session-start
    flags for the session number — then one rollup per session. The
    batch twin of ``stream_session_windows`` (which uses the engine's
    native session windows); this shape is what you run over historical
    logs where the full per-user ordering is already on disk.

    Per-user windows partition-prune cleanly at scale: both windows and
    the final aggregate share the user_id hash partitioning, so the
    whole query is ONE exchange. Time math rides integer epoch-millis
    (identical truncation in both engines) — no float timestamps.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    gap = ms - F.lag(ms).over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_MS), 1).otherwise(0)
    sess = ev.select(
        "user_id",
        "ts",
        "event_id",
        ms.alias("ms"),
        F.sum(is_new)
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("int")
        .alias("session_seq"),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.count("*").alias("n_events"),
        (F.max("ms") - F.min("ms")).alias("duration_ms"),
    )


def adv_ntile_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile window coverage: customers bucketed into acctbal quartiles
    per nation, rolled up to (nation, quartile) stats.

    The window order includes the unique custkey so tile assignment is
    deterministic in both engines (ntile splits by row position, not
    value — ties would otherwise land nondeterministically).
    """
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    tiled = cust.withColumn("quartile", F.ntile(4).over(w))
    return tiled.groupBy("c_nationkey", "quartile").agg(
        F.count("*").alias("n_customers"),
        round_half_up(F.min("c_acctbal"), 2).alias("min_bal"),
        round_half_up(F.max("c_acctbal"), 2).alias("max_bal"),
    )


FUNNEL_STAGES = ("signup", "click", "purchase")


def adv_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: per user, the earliest signup, the
    earliest click AFTER that signup, and the earliest purchase AFTER
    that click; rolled up to per-stage user counts.

    Each stage is a conditional min over the user's events, conditioned
    on the previous stage's timestamp — three per-user aggregates
    chained by broadcastable (user, ts) joins; the events table is
    scanned once per stage with the stage filter pushed to the scan.
    The ordered-sequence semantics (stage N strictly after stage N-1)
    is what plain per-type counts get wrong.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[1])
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[2])
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = [
        s1.agg(F.count("*").alias("n")).select(F.lit(1).alias("stage"), F.lit(FUNNEL_STAGES[0]).alias("event_type"), "n"),
        s2.agg(F.count("*").alias("n")).select(F.lit(2).alias("stage"), F.lit(FUNNEL_STAGES[1]).alias("event_type"), "n"),
        s3.agg(F.count("*").alias("n")).select(F.lit(3).alias("stage"), F.lit(FUNNEL_STAGES[2]).alias("event_type"), "n"),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionAll(c)
    return out


TRAILING_SECONDS = 3 * 86400


def adv_window_range_frame_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: each event with its user's trailing 3-day
    value sum — a value-based frame (rows whose *timestamp* falls in
    the window), unlike the row-count frames elsewhere.

    Both engines order by epoch MICROS (a long): Spark's rangeBetween
    needs a numeric sort key, and using whole microseconds makes the
    frame boundary bit-identical to DuckDB's numeric RANGE (an interval
    bound against sub-second timestamps would disagree at second
    granularity). Peers (equal timestamps) are in-frame in both.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-TRAILING_SECONDS * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.col("ts").alias("event_ts"),
        F.count("*").over(w).alias("n_trailing"),
        round_half_up(
            F.sum(money_grains("value")).over(w).cast("double") / 1e4, 2
        ).alias("trailing_value"),
    )


def adv_time_resample_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample / gap-fill: a dense (day x event_type) grid
    over the events table's full date range, zero-filled where no
    events landed — the hypertable-rollup shape feeding dashboards and
    training-data stats.

    The spine is sequence(min_day, max_day) exploded from a 1-row
    bounds aggregate (broadcast — never a driver collect), cross-joined
    with the distinct type dimension; the left join against the per-day
    aggregate is the only fact-sized shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    bounds = ev.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = ev.select(F.col("event_type").alias("etype")).distinct()
    spine = days.crossJoin(F.broadcast(types))
    per_day = ev.groupBy(
        day.alias("day"), F.col("event_type").alias("etype")
    ).agg(F.count("*").alias("n"), F.sum(money_grains("value")).alias("tv_g"))
    return (
        spine.join(per_day, ["day", "etype"], "left")
        .select(
            "day",
            F.col("etype").alias("event_type"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            round_half_up(
                F.coalesce(F.col("tv_g").cast("double") / 1e4, F.lit(0.0)), 2
            ).alias("total_value"),
        )
    )


def adv_time_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with LINEAR INTERPOLATION: the dense
    (day x event_type) grid again, but gap days carry the linear
    interpolation between the nearest observed daily averages instead
    of zero — the standard fill for continuous metrics (sensor values,
    rates) where zero-fill (``adv_time_resample_daily``) is only right
    for additive counts.

    Carried values come from two IGNORE-NULLS window passes per series
    (last observed before / first observed after — one shuffle on the
    series key, linear in grid size); edge gaps clamp to the nearest
    observation. The interpolation arithmetic is spelled identically in
    the oracle so IEEE results match bit-for-bit.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    bounds = ev.agg(F.min(day).alias("lo"), F.max(day).alias("hi"))
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = ev.select(F.col("event_type").alias("etype")).distinct()
    spine = days.crossJoin(F.broadcast(types))
    per_day = ev.groupBy(day.alias("day"), F.col("event_type").alias("etype")).agg(
        F.avg("value").alias("v")
    )
    grid = spine.join(per_day, ["day", "etype"], "left")
    w_prev = W.partitionBy("etype").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    w_next = W.partitionBy("etype").orderBy("day").rowsBetween(0, W.unboundedFollowing)
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    g = grid.select(
        "day",
        "etype",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("pd"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("nd"),
    )
    frac = F.datediff("day", "pd").cast("double") / F.datediff("nd", "pd").cast("double")
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
    )
    return g.select(
        "day",
        F.col("etype").alias("event_type"),
        round_half_up(interp, 4).alias("avg_value"),
        F.col("v").isNotNull().alias("observed"),
    )


def adv_percentiles_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median and p90 of order value per market segment
    (interpolated, matching SQL PERCENTILE_CONT / DuckDB
    quantile_cont). Exact percentiles need a per-group sort — use
    approx_percentile at 100 TB when exactness isn't required."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            round_half_up(F.median("o_totalprice"), 4).alias("median_value"),
            round_half_up(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_value"),
        )
    )


FUZZY_MAX_DIST = 4
#: Length-band width for the composite blocking key. Any pair within
#: FUZZY_MAX_DIST edits has |len(a)-len(b)| <= FUZZY_MAX_DIST, so with
#: band = floor(len/FUZZY_MAX_DIST) a true pair's bands differ by at
#: most 1 — probing the 3 adjacent bands loses NO pair.
FUZZY_BAND_W = FUZZY_MAX_DIST


def adv_fuzzy_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution shape: fuzzy part-name matching with blocking.

    AGGREGATE-THEN-COMPARE plan: collapse the corpus to DISTINCT
    (block, name, multiplicity) with one map-side-combined shuffle,
    run Levenshtein over distinct-name pairs only, then weight pair
    counts back by multiplicity — exact results, with the quadratic
    bounded by distinct-name vocabulary instead of row count. On this
    corpus that is ~300 scored pairs instead of ~25M row pairs at
    sf0.1 (names are adj+noun over an 8x8 vocabulary; row pairs per
    block grow O((n/8)^2) with catalog size, distinct pairs do not
    grow at all). At 100 TB the distinct frame stays vocabulary-sized
    -> broadcast pair join; corpora with near-unique names fall back
    to the composite (block, length-band) key below, which is
    recall-lossless for dist <= FUZZY_MAX_DIST because edit distance
    >= length difference, so a true pair's width-FUZZY_BAND_W bands
    differ by at most 1 and the probe side explodes into its 3
    adjacent bands (the equi-join key stays (blk, band); each
    surviving pair matches at exactly one band: the build side's own).

    Exactness of the weighting: an unordered row pair with distinct
    names (x, y) has exactly one (partkey_a < partkey_b) orientation,
    so it is counted once by cnt_x*cnt_y on the lexicographic x < y
    join; same-name pairs contribute C(cnt, 2) at distance 0. The
    weighted average divides two exactly-representable integer sums,
    so the float matches the row-level oracle bit-for-bit.
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_name",
        F.element_at(F.split("p_name", " "), -1).alias("blk"),
    )
    names = (
        part.groupBy("blk", "p_name")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "band", F.floor(F.length("p_name") / F.lit(FUZZY_BAND_W))
        )
    )
    a = names.withColumn(
        "jband",
        F.explode(
            F.array(F.col("band") - F.lit(1), F.col("band"), F.col("band") + F.lit(1))
        ),
    ).alias("a")
    b = names.withColumn("jband", F.col("band")).alias("b")
    len_ok = (
        F.abs(F.length(F.col("a.p_name")) - F.length(F.col("b.p_name")))
        <= FUZZY_MAX_DIST
    )
    cross = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.jband") == F.col("b.jband"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(len_ok)
        .select(
            F.col("a.blk").alias("blk"),
            # threshold form short-circuits above FUZZY_MAX_DIST
            # (returns -1), bounding per-pair cost at any name length
            F.levenshtein(
                F.col("a.p_name"), F.col("b.p_name"), FUZZY_MAX_DIST
            ).alias("dist"),
            (F.col("a.cnt") * F.col("b.cnt")).alias("weight"),
        )
        .filter(F.col("dist") >= 0)
    )
    same = names.filter(F.col("cnt") >= 2).select(
        "blk",
        F.lit(0).alias("dist"),
        (F.col("cnt") * (F.col("cnt") - 1) / F.lit(2)).cast("long").alias("weight"),
    )
    pairs = cross.unionByName(same)
    return pairs.groupBy("blk").agg(
        F.sum("weight").alias("n_pairs"),
        F.min("dist").alias("min_dist"),
        round_half_up(
            F.sum(F.col("dist") * F.col("weight")) / F.sum("weight"), 4
        ).alias("avg_dist"),
    )


GAP_OUT = "user_id bigint, n_events bigint, median_gap_s double"
GAP_BUCKETS = 256  # users per grouped-map call: ~n_users/256 each


def adv_grouped_map_median_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user median inter-event gap via ``applyInPandas`` — the
    grouped-map UDF surface (whole group as one pandas DataFrame), for
    order-sensitive statistics plain aggregates can't express.

    This is the DataFrame-era descendant of the reference's reduce
    contract — reducef(key, all values) (reference
    ``src/mr/worker.go:211``) — with Arrow batching instead of a
    per-key Python call over JSON-decoded lists. The grouped-map runs
    on a BUCKET of users (user_id % GAP_BUCKETS), with the per-user
    split a pandas groupby inside the worker: per-group Arrow
    round-trip overhead dominates when groups are tiny (one pandas
    call per user ran ~100k calls and 4.3 s at sf0.1; bucketed, 0.6 s
    for identical results) — the same map-side-batching argument as
    the reference's combiner. One shuffle on the bucket key; bucket
    size (not group size) bounds executor memory and is tunable.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")

    def median_gaps(pdf):
        import pandas as pd

        out = []
        # dropna=False: Spark's groupBy emits a null-keyed group; the
        # pandas default silently drops NaN keys — keep parity.
        for uid, g in pdf.groupby("user_id", dropna=False):
            ts = g["ts"].sort_values()
            gaps = ts.diff().dropna().dt.total_seconds()
            med = float(gaps.median()) if len(gaps) else None
            med = None if med is None else math.floor(med * 10000.0 + 0.5) / 10000.0
            out.append((uid, len(g), med))
        return pd.DataFrame(out, columns=["user_id", "n_events", "median_gap_s"])

    bucketed = ev.withColumn("bucket", F.pmod(F.col("user_id"), F.lit(GAP_BUCKETS)))
    return bucketed.groupBy("bucket").applyInPandas(median_gaps, schema=GAP_OUT)


def adv_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-state-per-key dedup — the SCD "current view" every CDC /
    event-log pipeline materializes: one row per user, carrying their
    most recent event (ties on timestamp break by event_id, so the
    survivor is deterministic in both engines).

    row_number over (user, ts desc) then rank=1 — Catalyst rewrites
    the filter into a window-group-limit (top-1 per key) that discards
    losers BEFORE the sort materializes the full partition. At 100 TB
    this beats the groupBy(max(ts))+self-join formulation: one
    shuffle, no join back.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("ts").alias("last_ts"),
            round_half_up("value", 2).alias("last_value"),
        )
    )


def adv_ab_experiment_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with deterministic hash assignment — the
    third product-analytics classic beside funnels and retention:
    every user lands in treatment or control by the first hex digit of
    md5(user_id) (a stable 50/50 split any engine reproduces — the
    way real experiment frameworks bucket), then per-arm conversion
    and revenue roll up. One row per arm; the consumer differences
    them for lift.

    Exactness: conversion is a count ratio of two integers; revenue
    accumulates integer money grains — nothing in the readout depends
    on float summation order. Plan: one distinct-user pass tagged with
    the arm, one purchase aggregation per user, a user-keyed join,
    and a 2-row final aggregate (partial map-side everywhere).
    """
    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        hex_int(F.md5(F.col("user_id").cast("string")), 1).cast("int") < 8, "treatment"
    ).otherwise("control")
    users = ev.select("user_id").distinct().select("user_id", arm.alias("arm"))
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(money_grains("value")).alias("rev_grains"),
        )
    )
    joined = users.join(per_user, "user_id", "left")
    return joined.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.count(F.when(F.col("n_purchases").isNotNull(), 1)).alias("n_converted"),
        round_half_up(
            F.count(F.when(F.col("n_purchases").isNotNull(), 1)).cast("double")
            / F.count("*"),
            4,
        ).alias("conv_rate"),
        round_half_up(
            F.coalesce(F.sum("rev_grains"), F.lit(0)).cast("double") / 1e4, 2
        ).alias("total_revenue"),
        round_half_up(
            F.coalesce(F.sum("rev_grains"), F.lit(0)).cast("double")
            / 1e4
            / F.count("*"),
            4,
        ).alias("revenue_per_user"),
    )


def adv_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort analysis — the product-analytics classic a
    behavioral pipeline runs daily: users grouped by first-activity
    day (their cohort), then for each later day the fraction of the
    cohort still active. One row per (cohort_day, day_offset).

    Plan: per-user first day (one agg), distinct (user, day) activity
    (one agg), a user-keyed equi-join to tag each activity with its
    cohort, a (cohort, offset) count, and a broadcast join of the
    (tiny) cohort-size table. Both fact-sized shuffles key on user_id
    — at 100 TB they ride one hash partitioning; everything after is
    day-granular (bounded by days^2 rows). The percentage divides two
    exact integers, rounded 4dp — no float-sum order anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    activity = ev.select("user_id", day.alias("day")).distinct()
    first = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    tagged = activity.join(first, "user_id").select(
        "cohort_day",
        F.datediff("day", "cohort_day").alias("day_offset"),
        "user_id",
    )
    counts = tagged.groupBy("cohort_day", "day_offset").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    sizes = first.groupBy("cohort_day").agg(F.count("*").alias("cohort_size"))
    return counts.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day",
        "day_offset",
        "n_active",
        "cohort_size",
        round_half_up(
            F.col("n_active").cast("double") / F.col("cohort_size"), 4
        ).alias("retention"),
    )


def adv_markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral model behind next-action prediction and
    anomaly scoring ("error after purchase is 3x base rate").

    One window per user ordered by (ts, event_id) — a TOTAL order, so
    `lead` is engine-invariant — pairs each event with its successor;
    transition counts aggregate by (prev, next); row probabilities
    divide two exact integers (one IEEE divide, 4 dp half-up). The
    only fact-sized exchange is the user_id hash partitioning the
    window already needs; the count and the per-prev divisor both ride
    state-type-sized frames (|types|^2 <= 25 rows here — the divisor
    is a window sum over the counts, so the fact lineage exists ONCE
    in the plan).
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    counts = (
        trans.groupBy(
            F.col("event_type").alias("prev_type"), F.col("next_type")
        ).agg(F.count("*").alias("n_transitions"))
    )
    # Row totals via a window over the |types|^2-sized counts frame —
    # NOT a groupBy+join back, which would duplicate the whole
    # fact-scan/window lineage into a second subtree (Catalyst does
    # not reuse uncached sibling subtrees; at 100 TB that is two
    # corpus passes for one divisor).
    n_total = F.sum("n_transitions").over(W.partitionBy("prev_type"))
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        round_half_up(F.col("n_transitions").cast("double") / n_total, 4).alias(
            "prob"
        ),
    )


def adv_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the dashboard
    metric (WAU by day) that a naive RANGE-frame COUNT(DISTINCT)
    cannot express in either engine.

    Scale-shape: one distinct over (user, day) collapses the fact
    table to day granularity per user; each activity day then fans out
    to AT MOST 7 window days via a generated sequence (explode of a
    7-element array — bounded, never a range self-join of the fact
    table); the distinct count per window day is the only remaining
    aggregate. A day-spine semi-join keeps only window days that
    actually occur in the data (no trailing phantom days past the
    corpus horizon). Everything after the first distinct is
    day-granular.
    """
    ev = load_table(spark, sf_dir, "events")
    activity = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    spine = activity.select("day").distinct()
    exploded = activity.select(
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("win_day"),
        "user_id",
    )
    kept = exploded.join(
        F.broadcast(spine.withColumnRenamed("day", "win_day")), "win_day", "semi"
    )
    return kept.groupBy(F.col("win_day").alias("day")).agg(
        F.countDistinct("user_id").alias("n_active_7d")
    )


def adv_iqr_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection per order priority: exact type-1
    quartiles (the data value at rank ceil(q*n) — NO interpolation, so
    both engines pick the identical stored double), fences at
    1.5 * IQR, and a count of orders outside each fence — the robust
    screen that runs before any learned anomaly model.

    Ranks come from the group-keyed two-pass distributed rank
    (``functions.rank``): range partitioning splits on (priority,
    price, orderkey), so each of the 5 hot priority groups spreads
    over many partitions instead of sorting as one task; the quartile
    picks are conditional MIN aggregates over that rank; the 5-row
    fence table broadcasts back onto the fact scan for the outlier
    counts. Fence arithmetic is a single multiply/subtract chain on
    two exact stored values — deterministic IEEE, no accumulation
    anywhere.
    """
    orders = load_table(spark, sf_dir, "orders")
    ranked = distributed_prefix(
        orders.select("o_orderpriority", "o_totalprice", "o_orderkey"),
        ["o_totalprice", "o_orderkey"],
        group_by=["o_orderpriority"],
        row_number="rn",
        total_count="n",
    )
    quartiles = ranked.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_orders"),
        F.min(
            F.when(F.col("rn") == F.ceil(F.col("n") * 0.25), F.col("o_totalprice"))
        ).alias("q1"),
        F.min(
            F.when(F.col("rn") == F.ceil(F.col("n") * 0.75), F.col("o_totalprice"))
        ).alias("q3"),
    )
    fences = quartiles.select(
        "o_orderpriority",
        "n_orders",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    joined = orders.join(F.broadcast(fences), "o_orderpriority")
    return joined.groupBy("o_orderpriority").agg(
        F.max("n_orders").alias("n_orders"),
        F.max("q1").alias("q1"),
        F.max("q3").alias("q3"),
        F.count(F.when(F.col("o_totalprice") < F.col("lo"), 1)).alias("n_low"),
        F.count(F.when(F.col("o_totalprice") > F.col("hi"), 1)).alias("n_high"),
    )


#: Association rules only over event-type pairs co-occurring in at
#: least this many sessions (the classic minimum-support cut).
RULES_MIN_SUPPORT = 5


def adv_association_rules_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over behavioral sessions:
    each 30-minute-gap session is a basket of distinct event types;
    for every unordered type pair emit support, both conditional
    confidences, and lift — the un-ordered complement of the Markov
    transition matrix (co-occurrence, not sequence).

    Session assignment reuses the sessionize windows (one user_id
    exchange); baskets collapse to distinct (session, type) — at most
    |types| rows per session; the pair join is a self equi-join ON THE
    SESSION KEY with fan-out bounded by |types|^2 per session, and all
    three probability ratios divide exact integer counts (single IEEE
    divides, 4 dp half-up). Item and pair tables are type-cardinality
    sized, so the final joins broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    gap = ms - F.lag(ms).over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_MS), 1).otherwise(0)
    sess = ev.select(
        "user_id",
        "event_type",
        F.sum(is_new)
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("int")
        .alias("session_seq"),
    )
    baskets = sess.select(
        F.concat_ws("#", F.col("user_id"), F.col("session_seq")).alias("sid"),
        "event_type",
    ).distinct()
    total = baskets.agg(F.countDistinct("sid").alias("n_sessions"))
    singles = baskets.groupBy("event_type").agg(F.count("*").alias("n_item"))
    a = baskets.select("sid", F.col("event_type").alias("event_a"))
    b = baskets.select(F.col("sid").alias("sid_b"), F.col("event_type").alias("event_b"))
    pairs = (
        a.join(b, (F.col("sid") == F.col("sid_b")) & (F.col("event_a") < F.col("event_b")))
        .groupBy("event_a", "event_b")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= RULES_MIN_SUPPORT)
    )
    na = singles.select(F.col("event_type").alias("event_a"), F.col("n_item").alias("n_a"))
    nb = singles.select(F.col("event_type").alias("event_b"), F.col("n_item").alias("n_b"))
    scored = (
        pairs.join(F.broadcast(na), "event_a")
        .join(F.broadcast(nb), "event_b")
        .crossJoin(F.broadcast(total))
    )
    return scored.select(
        "event_a",
        "event_b",
        "n_both",
        round_half_up(F.col("n_both").cast("double") / F.col("n_a"), 4).alias(
            "conf_a_to_b"
        ),
        round_half_up(F.col("n_both").cast("double") / F.col("n_b"), 4).alias(
            "conf_b_to_a"
        ),
        round_half_up(
            F.col("n_both").cast("double")
            * F.col("n_sessions")
            / (F.col("n_a") * F.col("n_b")),
            4,
        ).alias("lift"),
    )


def adv_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency / frequency / monetary
    quintile scores per buyer, rolled up to segment cells with named
    tiers for the extremes (the CRM classic that feeds churn and
    campaign targeting).

    Determinism: recency is INTEGER days against the corpus max order
    date (a broadcast 1-row aggregate, not a wall clock); monetary
    accumulates integer money grains; each quintile cut runs over a
    TOTAL order (metric, then custkey), so both engines assign
    identical quintiles. One shuffle builds the per-customer table;
    each metric then takes one two-pass distributed rank
    (``functions.rank``) plus the exact SQL ntile rule — three range
    exchanges of the customer-sized frame, never a single-task
    ordered window.
    """
    orders = load_table(spark, sf_dir, "orders")
    horizon = orders.agg(F.max("o_orderdate").alias("horizon"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(money_grains("o_totalprice")).alias("mon_grains"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            "o_custkey",
            F.datediff("horizon", "last_order").alias("recency_days"),
            "frequency",
            "mon_grains",
        )
    )
    def quintile(df: DataFrame, order, out: str) -> DataFrame:
        ranked = distributed_prefix(df, order, row_number="__rn", total_count="__n")
        return ranked.withColumn(
            out, ntile_from_rank(F.col("__rn"), F.col("__n"), 5)
        ).drop("__rn", "__n")

    scored = quintile(
        per_cust, [F.col("recency_days").desc(), F.col("o_custkey")], "r_score"
    )
    scored = quintile(
        scored, [F.col("frequency").asc(), F.col("o_custkey")], "f_score"
    )
    scored = quintile(
        scored, [F.col("mon_grains").asc(), F.col("o_custkey")], "m_score"
    ).select("o_custkey", "mon_grains", "r_score", "f_score", "m_score")
    segment = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion")
        .when(F.col("r_score") <= 2, "at_risk")
        .otherwise("regular")
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        round_half_up(F.sum("mon_grains").cast("double") / 1e4, 2).alias(
            "total_monetary"
        ),
        F.max(segment).alias("segment"),
    )


def adv_auc_purchase_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed ROC-AUC of ``value`` as a classifier score
    for "event is a purchase" — the Mann-Whitney rank-sum form
    (AUC = (sum of positive ranks - n_pos(n_pos+1)/2) / (n_pos*n_neg))
    — the evaluation primitive every model-quality pipeline needs, and
    one that naive per-threshold ROC sweeping gets both slow and
    tie-wrong.

    Tie handling is the standard average-rank rule, kept EXACT by the
    doubling trick: a score group starting at rank r0 with c members
    has 2*avg_rank = 2*r0 + c - 1 (integer), so every accumulator is
    an exactly-summed integer and the final AUC is one division.
    Plan: one aggregation collapses events to distinct-score groups
    (with per-group positive counts); the rank r0 of each score group
    is the exclusive running count over the score order, computed with
    the two-pass distributed rank (``functions.rank``) — the
    distinct-score frame never collapses to a single window task even
    when the score is continuous and the frame is corpus-sized.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "value", (F.col("event_type") == "purchase").cast("long").alias("pos")
    )
    grp = ev.groupBy("value").agg(
        F.count("*").alias("c"), F.sum("pos").alias("p")
    )
    ranked = distributed_prefix(grp, ["value"], sums={"cum_c": "c"}).withColumn(
        "r0", F.col("cum_c") - F.col("c") + 1
    )
    contrib = F.col("p") * (2 * F.col("r0") + F.col("c") - 1)
    sums = ranked.agg(
        F.sum("c").alias("n"),
        F.sum("p").alias("n_pos"),
        F.sum(contrib).alias("pos_rank2"),
    )
    n_neg = F.col("n") - F.col("n_pos")
    auc2 = F.col("pos_rank2") - F.col("n_pos") * (F.col("n_pos") + 1)
    return sums.select(
        F.col("n_pos"),
        n_neg.alias("n_neg"),
        round_half_up(
            auc2.cast("double") / (2.0 * F.col("n_pos") * n_neg).cast("double"), 6
        ).alias("auc"),
    )


def adv_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour activity heatmap with per-cell share — the
    dashboard staple for staffing/capacity and bot-traffic spotting.
    One partial-aggregated shuffle on at most 168 keys; the share
    divides each cell's exact count by the exact total (window sum
    over the 168-row frame — no second scan). dayofweek/hour are
    integer extractions both engines define identically (Sunday=1).
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hour")
    ).agg(F.count("*").alias("n_events"))
    total = F.sum("n_events").over(W.partitionBy())
    return cells.select(
        "dow",
        "hour",
        "n_events",
        round_half_up(F.col("n_events").cast("double") / total, 6).alias("share"),
    )


K_ANON = 5  # minimum group size for a releasable quasi-identifier cell


def adv_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the
    quasi-identifier (market segment, nation, balance sign) — the
    privacy screen run before releasing or training on user-derived
    data (the structured-data sibling of ``text_pii_scrub``): any
    quasi-identifier cell with fewer than ``K_ANON`` members
    re-identifies its rows by linkage.

    One exact group-size aggregation over the quasi-identifier tuple,
    then a cell-granular rollup: total cells, violating cells, rows at
    risk, the minimum cell size (the table's actual k), and the
    at-risk row share — all exact integers plus one 4 dp ratio. At
    100 TB this is a single partial-aggregated shuffle on the QI
    tuple; the generalization ladder (coarsen balance sign -> drop
    nation) that FIXES violations is policy, not engine, work.
    """
    cust = load_table(spark, sf_dir, "customer")
    qi = cust.groupBy(
        "c_mktsegment",
        F.col("c_nationkey").alias("nation"),
        F.signum("c_acctbal").cast("int").alias("bal_sign"),
    ).agg(F.count("*").alias("cell_size"))
    return qi.agg(
        F.count("*").alias("n_cells"),
        F.sum("cell_size").alias("n_rows"),
        F.min("cell_size").alias("actual_k"),
        F.count(F.when(F.col("cell_size") < K_ANON, 1)).alias("n_violating_cells"),
        F.coalesce(
            F.sum(F.when(F.col("cell_size") < K_ANON, F.col("cell_size"))),
            F.lit(0),
        ).alias("n_rows_at_risk"),
    ).select(
        "n_cells",
        "n_rows",
        "actual_k",
        "n_violating_cells",
        "n_rows_at_risk",
        round_half_up(
            F.col("n_rows_at_risk").cast("double") / F.col("n_rows"), 4
        ).alias("at_risk_share"),
    )


#: SCD2 tier derivation: props.k in [0,100) buckets into 4 plan tiers.
TIER_WIDTH = 25


def adv_scd2_user_tier_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: each user's plan tier
    (``props.k // 25``) compacted into validity intervals
    ``[valid_from, valid_to)`` with an ``is_current`` flag — the
    warehouse-dimension construction run whenever an event log has to
    become a point-in-time-joinable dimension (the reference's data
    model has no time dimension at all — strings only, reference
    src/mr/worker.go:18-21 — so this is pure extension surface).

    Everything happens inside ONE user_id hash partitioning: lag
    detects tier changes, a running sum numbers the resulting
    intervals, one aggregate compacts interval membership (count +
    min ts), and lead stitches each interval's ``valid_to`` from the
    next one's start. No self-joins, no re-shuffles — the same single
    exchange at any scale, and the output is bounded by the number of
    CHANGES, not events.
    """
    ev = load_table(spark, sf_dir, "events")
    tier = F.floor(
        F.get_json_object("props", "$.k").cast("int") / TIER_WIDTH
    ).cast("int")
    base = ev.select("user_id", "ts", "event_id", tier.alias("tier"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("tier").over(w)
    chg = F.when(prev.isNull() | (prev != F.col("tier")), 1).otherwise(0)
    numbered = base.withColumn(
        "interval_seq",
        F.sum(chg).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("int"),
    )
    iv = numbered.groupBy("user_id", "interval_seq").agg(
        F.min("tier").alias("tier"),  # constant within the interval
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    w2 = W.partitionBy("user_id").orderBy("interval_seq")
    return iv.select(
        "user_id",
        "interval_seq",
        "tier",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


def adv_cusum_changepoint_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over daily revenue — the classic
    level-shift detector (Page 1954) a metrics pipeline runs to find
    WHEN a series changed: the day where the cumulative deviation from
    the global mean peaks.

    Exactness discipline: daily revenue is an integer grain sum; the
    CUSUM is kept scaled by n_days — ``S_d = n*prefix_d - d_idx*total``
    — so every accumulator stays an exact integer (decimal(38,0)); the
    one division back to currency units happens on identical integers
    in both engines. The facts roll up to days map-side first
    (partial agg), so the windowed prefix scan runs over the tiny
    day-level frame — ~2.5k rows here and still only tens of
    thousands at decades of history, regardless of fact-table size.
    The changepoint flag is a rank over (|S| desc, day) — exact
    integer ordering, deterministic tie-break to the earliest day.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(F.sum(money_grains("o_totalprice")).alias("rev_g"))
    w = W.orderBy("day")
    full = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    scanned = daily.select(
        "day",
        "rev_g",
        F.row_number().over(w).cast("decimal(38,0)").alias("d_idx"),
        F.sum("rev_g").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("prefix_g"),
        F.sum("rev_g").over(full).alias("total_g"),
        F.count("*").over(full).cast("decimal(38,0)").alias("n_days"),
    )
    s_scaled = (F.col("n_days") * F.col("prefix_g") - F.col("d_idx") * F.col("total_g"))
    flagged = scanned.withColumn("s_g", s_scaled).withColumn(
        "peak_rank",
        F.row_number().over(W.orderBy(F.abs(F.col("s_g")).desc(), F.col("day"))),
    )
    cusum = F.col("s_g").cast("double") / F.col("n_days").cast("double") / 1e4
    return flagged.select(
        "day",
        round_half_up(F.col("rev_g").cast("double") / 1e4, 2).alias("revenue"),
        round_half_up(cusum, 2).alias("cusum"),
        (F.col("peak_rank") == 1).alias("is_changepoint"),
    )


#: Campaign windows for the overlap join: CAMPAIGN_N windows, one
#: every CAMPAIGN_EVERY_H hours from the events horizon start, each
#: CAMPAIGN_LEN_H hours long.
CAMPAIGN_START = "2024-01-01 00:00:00"
CAMPAIGN_N = 20
CAMPAIGN_EVERY_H = 36
CAMPAIGN_LEN_H = 12
#: Grid cell for the bucketed interval join (seconds). Must divide the
#: campaign spacing; any interval maps to ceil(len/cell)+1 cells.
OVERLAP_CELL_S = 6 * 3600


def adv_campaign_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: user sessions against campaign windows —
    'which sessions were live while campaign c ran' — the attribution
    building block for time-boxed promotions.

    A naive ``ON s.start < c.end AND c.start < s.end`` theta-join is a
    broadcast nested loop that dies at scale. The scalable shape maps
    every interval to the fixed time-grid cells it touches, equi-joins
    on the cell key (hash join), dedups the (session, campaign) hits,
    and re-checks the exact overlap predicate once per candidate —
    identical semantics, and the fan-out is bounded by interval_len /
    cell + 1 cells per row. Overlap seconds are integer epoch math.
    Sessions reuse the gap-based construction of
    ``adv_sessionize_events`` (same 30-min gap constant).
    """
    sess = adv_sessionize_events(spark, sf_dir).select(
        "user_id",
        "session_seq",
        F.unix_millis("session_start").alias("s_lo_ms"),
        (F.unix_millis("session_start") + F.col("duration_ms")).alias("s_hi_ms"),
    )
    camp = spark.range(CAMPAIGN_N).select(
        F.col("id").alias("campaign_id"),
        (
            F.unix_millis(F.lit(CAMPAIGN_START).cast("timestamp"))
            + F.col("id") * (CAMPAIGN_EVERY_H * 3600 * 1000)
        ).alias("c_lo_ms"),
        (
            F.unix_millis(F.lit(CAMPAIGN_START).cast("timestamp"))
            + F.col("id") * (CAMPAIGN_EVERY_H * 3600 * 1000)
            + F.lit(CAMPAIGN_LEN_H * 3600 * 1000)
        ).alias("c_hi_ms"),
    )
    cell_ms = OVERLAP_CELL_S * 1000

    def with_cells(df: DataFrame, lo: str, hi: str) -> DataFrame:
        return df.withColumn(
            "cell",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / cell_ms), F.floor(F.col(hi) / cell_ms)
                )
            ),
        )

    cand = (
        with_cells(sess, "s_lo_ms", "s_hi_ms")
        .join(F.broadcast(with_cells(camp, "c_lo_ms", "c_hi_ms")), "cell")
        .drop("cell")
        .distinct()
        .filter(
            (F.col("s_lo_ms") < F.col("c_hi_ms"))
            & (F.col("c_lo_ms") < F.col("s_hi_ms"))
        )
    )
    overlap_ms = F.least("s_hi_ms", "c_hi_ms") - F.greatest("s_lo_ms", "c_lo_ms")
    return cand.groupBy("campaign_id").agg(
        F.count("*").alias("n_sessions"),
        F.count_distinct("user_id").alias("n_users"),
        # floor() — Spark's double->bigint cast truncates but DuckDB's
        # rounds; an explicit floor is identical in both engines.
        F.floor(F.sum(overlap_ms) / F.lit(1000.0)).cast("bigint").alias("overlap_seconds"),
    )


def adv_pit_join_purchase_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: each purchase looks up the
    user's profile tier AS OF the purchase moment, where the profile
    only changes at signup events — the feature-store lookup rule
    that prevents training leakage (never read a profile value set AFTER the
    event you are featurizing). Purchases before any signup surface a
    NULL tier — the honest cold-start answer.

    Same merge-pattern scale shape as the as-of joins: union the
    profile-change stream with the lookup stream, ONE window per
    user carries the last tier forward — never a per-row interval
    probe against the SCD2 table, which at 100 TB degenerates to a
    range join. Ties (a signup and purchase at the same microsecond)
    resolve by event_id — the signup with the smaller id wins, in
    both engines.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    tier = F.floor(
        F.get_json_object("props", "$.k").cast("int") / TIER_WIDTH
    ).cast("int")
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "signup", tier).alias("tier_change"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = base.withColumn(
        "tier_at_event", F.last("tier_change", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "tier_at_event",
    )


LIFT_DECILES = 10


def adv_decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / gains table — the model-evaluation artifact that
    ships beside the AUC (``adv_auc_purchase_score``, same score and
    label): sort by score descending, cut into deciles, report each
    decile's response rate, lift over the base rate, and cumulative
    capture of all positives — what a campaign-targeting readout
    actually prints.

    The tile cut orders by (score DESC, event_id) so assignment is
    total and engine-invariant; every reported ratio divides exact
    integers (decile counts, positive counts, running sums over the
    10-row decile frame). The decile comes from the two-pass
    distributed rank (``functions.rank``) plus the exact SQL ntile
    rule on (rank, total) — no single-task global sort; the event
    frame stays range-partitioned at any scale.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    ranked = distributed_prefix(
        ev,
        [F.col("score").desc(), F.col("event_id")],
        row_number="rn",
        total_count="n_total",
    )
    tiled = ranked.withColumn(
        "decile",
        ntile_from_rank(F.col("rn"), F.col("n_total"), LIFT_DECILES),
    )
    per = tiled.groupBy("decile").agg(
        F.count("*").alias("n"),
        F.sum("pos").alias("n_pos"),
    )
    full = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    run = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    base = F.sum("n_pos").over(full).cast("double") / F.sum("n").over(full)
    resp = F.col("n_pos").cast("double") / F.col("n")
    return per.select(
        "decile",
        "n",
        "n_pos",
        round_half_up(resp, 4).alias("response_rate"),
        round_half_up(resp / base, 4).alias("lift"),
        round_half_up(
            F.sum("n_pos").over(run).cast("double") / F.sum("n_pos").over(full), 4
        ).alias("cumulative_capture"),
    )


def adv_new_vs_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split — the product-metrics
    companion to the retention matrix: per calendar day, how many
    active users saw the product for the FIRST time that day vs came
    back. First-seen day is one min-aggregation per user; the daily
    rollup compares each active (user, day) against it. Both
    aggregations ride the user_id hash partitioning; the day-level
    output is calendar-bounded.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    active = ev.distinct()
    first = active.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = active.join(first, "user_id")
    return j.groupBy("day").agg(
        F.count(F.when(F.col("day") == F.col("first_day"), 1)).alias("n_new"),
        F.count(F.when(F.col("day") != F.col("first_day"), 1)).alias("n_returning"),
        F.count("*").alias("n_active"),
    )


#: Rolling z-score window (days, trailing, excluding current) and the
#: anomaly threshold.
ZSCORE_WINDOW_DAYS = 28
ZSCORE_THRESHOLD = 3.0


def adv_rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on daily revenue — the
    point-anomaly companion to the CUSUM level-shift scan: each day
    scores against the trailing 28-day mean/std (current day
    excluded, so an anomaly cannot mask itself), and |z| >= 3 flags.

    Exactness: daily revenue is integer grains; the rolling mean and
    variance derive from exact rolling sums of grains and squared
    grains (decimal(38,0) — squares of 1e13-grain days need the
    headroom), combined into z with one float expression identical in
    both engines. The window runs over the tiny day-level frame.
    Days with fewer than 7 trailing observations emit NULL z (warmup).
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(money_grains("o_totalprice")).alias("g")
    )
    w = W.orderBy("day").rowsBetween(-ZSCORE_WINDOW_DAYS, -1)
    k = F.count("g").over(w)
    s1 = F.sum("g").over(w)
    s2 = F.sum(F.col("g") * F.col("g")).over(w)
    kd = k.cast("double")
    mean = s1.cast("double") / kd
    var = (s2.cast("double") - s1.cast("double") * s1.cast("double") / kd) / (kd - 1.0)
    z = (F.col("g").cast("double") - mean) / F.sqrt(var)
    scored = daily.select(
        "day",
        round_half_up(F.col("g").cast("double") / 1e4, 2).alias("revenue"),
        F.when(k >= 7, round_half_up(z, 4)).alias("zscore"),
        F.when(k >= 7, F.abs(z) >= ZSCORE_THRESHOLD).alias("is_anomaly"),
    )
    return scored


#: Sessions still open within this window before the stream horizon
#: are right-censored (they might have continued past the data).
KM_CENSOR_GUARD_MS = 60 * 60 * 1000
#: ln(1 - d/n) terms round to 1e-9 grains before the cumulative sum.
KM_LN_GRAIN = 1_000_000_000


def adv_kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of session duration — the
    right-censoring-aware answer to "how long do sessions last?" that
    a naive average gets wrong: sessions still open near the data
    horizon haven't ended — treating them as ended biases duration
    DOWN; the product-limit estimator exists exactly for this.

    Durations come from the gap-based sessionization (minutes,
    floored); a session whose last event falls within
    ``KM_CENSOR_GUARD_MS`` of the stream horizon is censored. S(t)
    multiplies (1 - d_i/n_i) over event times <= t — computed as exp
    of a cumulative sum of ln terms pre-rounded to 1e-9 grains, so
    the running product is exact-integer underneath and
    engine-invariant. Everything after the per-session rollup runs on
    the duration-level frame (bounded by minutes, not sessions).
    """
    sess = adv_sessionize_events(spark, sf_dir).select(
        (F.unix_millis("session_start") + F.col("duration_ms")).alias("end_ms"),
        F.floor(F.col("duration_ms") / 60000).cast("int").alias("duration_min"),
    )
    horizon = load_table(spark, sf_dir, "events").agg(
        F.max(F.unix_millis("ts")).alias("h_ms")
    )
    per_sess = sess.crossJoin(F.broadcast(horizon)).select(
        "duration_min",
        ((F.col("h_ms") - F.col("end_ms")) < KM_CENSOR_GUARD_MS).alias("censored"),
    )
    by_t = per_sess.groupBy("duration_min").agg(
        F.count(F.when(~F.col("censored"), 1)).alias("n_events"),
        F.count(F.when(F.col("censored"), 1)).alias("n_censored"),
    )
    w = W.orderBy("duration_min")
    prior = F.coalesce(
        F.sum(F.col("n_events") + F.col("n_censored")).over(
            w.rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    total = F.sum(F.col("n_events") + F.col("n_censored")).over(
        W.orderBy("duration_min").rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )
    )
    at_risk = total - prior
    # Extinction guard: a time where every at-risk user churns sends
    # S to exactly 0 (ln(0) is unrepresentable — flag instead of log).
    ln_term = F.when(
        (F.col("n_events") > 0) & (F.col("n_events") < at_risk),
        F.floor(
            F.log(1.0 - F.col("n_events").cast("double") / at_risk) * KM_LN_GRAIN
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0))
    staged = by_t.select(
        "duration_min", "n_events", "n_censored", at_risk.alias("n_at_risk"),
        ln_term.alias("g"),
        (F.col("n_events") >= at_risk).cast("int").alias("ext"),
    )
    run = W.orderBy("duration_min").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = F.sum("g").over(run)
    extinct = F.max("ext").over(run) == 1
    return staged.select(
        "duration_min",
        "n_at_risk",
        "n_events",
        "n_censored",
        F.when(extinct, F.lit(0.0))
        .otherwise(round_half_up(F.exp(cum.cast("double") / KM_LN_GRAIN), 6))
        .alias("survival"),
    )


def adv_sequence_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining over sessions: for every ORDERED
    event-type pair (a -> b), in how many sessions does a's first
    occurrence precede b's — the order-aware sibling of the basket
    association rules (`adv_association_rules_sessions` asks "do they
    co-occur"; this asks "does a lead to b"), the primitive behind
    next-action models and UX-flow analysis.

    Per-session event positions come from one rank over the session
    ordering (integer positions — no timestamp tie ambiguity); first
    occurrences aggregate per (session, type); ordered pairs explode
    MAP-SIDE from one per-session collected (type, first_pos) list
    (r16, guide §2.4 — formerly a session-keyed self-join; the list
    is bounded by |types| per session, so the fan-out stays
    |types|^2, never event-quadratic, and every aggregate below rides
    the window's user_id partitioning with no further exchange). The
    session total rides a broadcast 1-row aggregate instead of an
    eager driver-side count() that re-executed the whole session
    pipeline a second time per invocation (guide §5: the driver does
    no data work). Support and confidence divide exact session
    counts.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    gap = ms - F.lag(ms).over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_MS), 1).otherwise(0)
    sess_ev = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(is_new)
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("int")
        .alias("session_seq"),
    )
    pos = F.row_number().over(
        W.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    )
    firsts = (
        sess_ev.withColumn("pos", pos)
        .groupBy("user_id", "session_seq", "event_type")
        .agg(F.min("pos").alias("first_pos"))
    )
    sess_types = firsts.groupBy("user_id", "session_seq").agg(
        F.collect_list(F.struct("event_type", "first_pos")).alias("tps")
    )
    pairs = (
        sess_types.select(F.explode("tps").alias("a"), "tps")
        .select("a", F.explode("tps").alias("b"))
        .filter(
            (F.col("a.event_type") != F.col("b.event_type"))
            & (F.col("a.first_pos") < F.col("b.first_pos"))
        )
    )
    ordered = pairs.groupBy(
        F.col("a.event_type").alias("antecedent"),
        F.col("b.event_type").alias("consequent"),
    ).agg(F.count("*").alias("n_sessions_ordered"))
    n_sessions = sess_types.agg(F.count("*").alias("n_sessions"))
    with_a = (
        sess_types.select(F.explode("tps").alias("t"))
        .groupBy(F.col("t.event_type").alias("antecedent"))
        .agg(F.count("*").alias("n_with_a"))
    )
    return (
        ordered.join(F.broadcast(with_a), "antecedent")
        .crossJoin(F.broadcast(n_sessions))
        .select(
            "antecedent",
            "consequent",
            "n_sessions_ordered",
            round_half_up(
                F.col("n_sessions_ordered").cast("double")
                / F.col("n_sessions").cast("double"),
                4,
            ).alias("support"),
            round_half_up(
                F.col("n_sessions_ordered").cast("double") / F.col("n_with_a"), 4
            ).alias("confidence"),
        )
    )


def adv_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per user by signup cohort over day offsets —
    the LTV curve that turns the retention matrix
    (``adv_retention_cohorts`` counts WHO came back) into money (how
    much each cohort has EARNED per member by day N): the payback
    readout acquisition spend is judged against.

    Cohort = the user's first-seen day; purchase revenue accumulates
    as integer grains per (cohort, offset); the running total is a
    window cumsum of exact integers per cohort and the per-user
    normalization divides by the cohort's exact size. Both fact
    shuffles ride the user_id partitioning; the curve frame is
    calendar-bounded.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        F.when(
            F.col("event_type") == "purchase", money_grains("value")
        ).otherwise(F.lit(0).cast("decimal(38,0)")).alias("rev_g"),
    )
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sizes = cohort.groupBy("cohort_day").agg(F.count("*").alias("cohort_size"))
    j = days.join(cohort, "user_id").select(
        "cohort_day",
        F.datediff("day", "cohort_day").alias("day_offset"),
        "rev_g",
    )
    per = j.groupBy("cohort_day", "day_offset").agg(F.sum("rev_g").alias("rev_g"))
    w = W.partitionBy("cohort_day").orderBy("day_offset").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = F.sum("rev_g").over(w)
    return (
        per.withColumn("cum_g", cum)
        .join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "cohort_size",
            round_half_up(F.col("rev_g").cast("double") / 1e4, 2).alias("revenue"),
            round_half_up(
                F.col("cum_g").cast("double") / 1e4 / F.col("cohort_size"), 4
            ).alias("cum_revenue_per_user"),
        )
    )


#: Beta-prior pseudo-count for smoothed rate ranking.
SMOOTH_ALPHA = 20.0


def adv_smoothed_conversion_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian-smoothed conversion ranking per user cohort tier —
    "sort by average done right": raw purchase rates rank tiny groups
    with 3 lucky events above solid ones; shrinking every group's
    rate toward the global prior by ``SMOOTH_ALPHA`` pseudo-events
    (Beta-Binomial posterior mean) is the standard fix, and the
    rank FLIPS it causes against the raw ordering are the point of
    the report.

    Groups are the props.k deciles (10 groups). All inputs are exact
    integer counts; the global rate and each posterior mean are
    single float expressions over those integers; both rankings are
    integer-ordered window ranks with deterministic tie-breaks.
    """
    ev = load_table(spark, sf_dir, "events")
    grp = ev.groupBy(
        F.floor(F.get_json_object("props", "$.k").cast("int") / 10)
        .cast("int")
        .alias("k_decile")
    ).agg(
        F.count("*").alias("n_events"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
    )
    tot = W.partitionBy()
    prior = F.sum("n_purchases").over(tot).cast("double") / F.sum("n_events").over(tot)
    raw = F.col("n_purchases").cast("double") / F.col("n_events")
    smoothed = (F.col("n_purchases") + SMOOTH_ALPHA * prior) / (
        F.col("n_events") + SMOOTH_ALPHA
    )
    staged = grp.select(
        "k_decile", "n_events", "n_purchases",
        raw.alias("raw_rate_f"), smoothed.alias("smoothed_f"),
    )
    return staged.select(
        "k_decile",
        "n_events",
        "n_purchases",
        round_half_up("raw_rate_f", 4).alias("raw_rate"),
        round_half_up("smoothed_f", 4).alias("smoothed_rate"),
        F.row_number()
        .over(W.orderBy(F.col("raw_rate_f").desc(), "k_decile"))
        .cast("int")
        .alias("raw_rank"),
        F.row_number()
        .over(W.orderBy(F.col("smoothed_f").desc(), "k_decile"))
        .cast("int")
        .alias("smoothed_rank"),
    )


#: Credit grain for the attribution shares (1/n rationals).
ATTR_GRAIN = 1_000_000


def adv_linear_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase splits one unit
    of credit EQUALLY across the distinct channel types that touched
    the user earlier in the same session — the first honest step past
    last-click (``adv_asof_join_last_click`` is the last-click
    baseline; this spreads the credit).

    Session assignment is the shared gap construction; each purchase
    row reads its DISTINCT prior channel types straight off a running
    ``collect_set`` window over the session (strictly-earlier frame =
    the old join's ``pos < ppos`` predicate, same (ts, event_id) total
    order) and each contributes ``1/n_channels`` — pre-rounded to 1e-6
    grains so the per-channel totals are exact-integer sums. Purchases
    with no prior touch surface under the ``(none)`` channel, so total
    credit equals the purchase count exactly.

    Plan shape (r15, guide §2.4): one events scan and one window
    chain. The old form self-joined purchases against touches on the
    session key (two re-executions of the windowed stream, a
    distinct, an anti-join, and a per-purchase count window); the
    growing-frame collect_set computes the same per-purchase channel
    set incrementally in the session window that already exists.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    gap = ms - F.lag(ms).over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_MS), 1).otherwise(0)
    se = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.sum(is_new)
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("int")
        .alias("sess"),
    )
    # distinct channels strictly before this row within its session
    # (collect_set drops the nulls the purchase rows contribute)
    prior_set = F.collect_set(
        F.when(F.col("event_type") != "purchase", F.col("event_type"))
    ).over(
        W.partitionBy("user_id", "sess")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    purchases = (
        se.withColumn("prior", prior_set)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("pid"), "prior")
    )
    n_ch = F.greatest(F.size("prior"), F.lit(1))
    credit_g = F.floor(F.lit(1.0) / n_ch * ATTR_GRAIN + F.lit(0.5)).cast("long")
    touched = purchases.select(
        "pid",
        credit_g.alias("g"),
        F.explode(
            F.when(F.size("prior") > 0, F.col("prior")).otherwise(
                F.array(F.lit("(none)"))
            )
        ).alias("channel"),
    )
    return (
        touched.groupBy("channel")
        .agg(
            F.count_distinct("pid").alias("n_purchases_touched"),
            round_half_up(F.sum("g").cast("double") / ATTR_GRAIN, 2).alias(
                "attributed_purchases"
            ),
        )
    )


# --- distributed logistic regression (gradient descent, exact) ---------

#: Training hyperparameters. Weights update from EXACT integer gradient
#: sums (probabilities and features pre-rounded to 1e-6 grains before
#: the multiply, so partial-aggregation order cannot move the sum) and
#: re-round to 1e-9 after each step — both engines replay the identical
#: float sequence.
LOGREG_EPOCHS = 3
LOGREG_LR = 5.0
LOGREG_G = 1_000_000  # feature/probability grain (1e-6)
LOGREG_WG = 1_000_000_000  # weight grain (1e-9)


def _logreg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(y, x1, x2, x1_g, x2_g): urgent-order label with two bounded
    features — scaled price and a customer-bucket rate — each stored
    BOTH as a 1e-6 integer grain (for exact gradient sums) and as the
    double the grain encodes (for the model's float dot product)."""
    from mit_map_reduce_spark.catalog import shared_persist

    def build() -> DataFrame:
        orders = load_table(spark, sf_dir, "orders")
        x1_g = F.floor(
            F.col("o_totalprice") / 500000.0 * LOGREG_G + F.lit(0.5)
        ).cast("long")
        x2_g = F.floor(
            (F.col("o_custkey") % 97).cast("double") / 97.0 * LOGREG_G + F.lit(0.5)
        ).cast("long")
        y = (
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
        )
        return orders.select(
            y.alias("y"),
            x1_g.alias("x1_g"),
            x2_g.alias("x2_g"),
            (x1_g.cast("double") / LOGREG_G).alias("x1"),
            (x2_g.cast("double") / LOGREG_G).alias("x2"),
        )

    return shared_persist(spark, "logreg_features", sf_dir, build)


def _logreg_p6(w: tuple[float, float, float]):
    """Predicted probability as a 1e-6 grain for weight literals ``w``
    — the one float expression both engines evaluate identically
    (products and sums of identical doubles, then one exp).

    Residual assumption (round-6 advice): unlike the money grains,
    this is not exact BY CONSTRUCTION — it assumes JVM ``Math.exp``
    and DuckDB's libm ``exp`` return the same double for the same
    input. Neither is guaranteed correctly rounded; a 1-ulp divergence
    landing within an ulp of a grain boundary would flip p6 and the
    whole weight trajectory. The exposure is platform-dependent and
    tiny (the gate passes at every SF on this container), and the same
    caveat applies to the ``ln`` terms in adv_l_diversity_audit and
    the log-loss. If a platform ever flips it, the fix is a
    table-driven exp over grained z rather than chasing ulps."""
    z = (
        F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return F.floor(p * LOGREG_G + F.lit(0.5)).cast("long")


def adv_logistic_regression_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a logistic-regression classifier INSIDE the engine by
    full-batch gradient descent — the in-pipeline quality-classifier
    shape (fastText-style filters in LLM data pipelines are exactly
    'train a linear model on the corpus, score the corpus'): label =
    order is urgent-priority, features = scaled price + customer
    bucket. Each epoch is ONE partial-aggregated scan producing three
    exact integer gradient sums; the 3-float weight update is a
    bounded driver decision (the same discipline as the BPE trainer's
    per-merge argmax — reference-scale driver work, never row work).

    Exactness across engines: probabilities round to 1e-6 grains
    BEFORE the gradient multiply (grain x grain = exact int64 sums in
    any aggregation order), weights re-round to 1e-9 after each
    update, and the oracle replays the identical unrolled epochs as
    MATERIALIZED CTEs. At 100 TB each epoch stays one map-side-
    combined aggregation; the model itself is 3 numbers.
    """
    feats = _logreg_features(spark, sf_dir)
    w = (0.0, 0.0, 0.0)
    n = None
    for _ in range(LOGREG_EPOCHS):
        p6 = _logreg_p6(w)
        err = (p6 - F.col("y").cast("long") * LOGREG_G).cast("decimal(38,0)")
        row = feats.agg(
            F.count("*").alias("n"),
            F.sum(err * F.lit(LOGREG_G).cast("decimal(38,0)")).alias("g0"),
            F.sum(err * F.col("x1_g").cast("decimal(38,0)")).alias("g1"),
            F.sum(err * F.col("x2_g").cast("decimal(38,0)")).alias("g2"),
        ).collect()[0]
        n = row["n"]
        denom = float(n) * float(LOGREG_G) * float(LOGREG_G)
        w = tuple(
            math.floor(
                (w[j] - LOGREG_LR * (float(row[f"g{j}"]) / denom)) * LOGREG_WG + 0.5
            )
            / LOGREG_WG
            for j in range(3)
        )
    p6 = _logreg_p6(w)
    correct = (p6 >= LOGREG_G // 2).cast("int") == F.col("y")
    p_true = F.when(
        F.col("y") == 1, F.greatest(p6, F.lit(1))
    ).otherwise(F.lit(LOGREG_G) - F.least(p6, F.lit(LOGREG_G - 1)))
    ll_g = F.floor(
        -F.log(p_true.cast("double") / LOGREG_G) * LOGREG_G + F.lit(0.5)
    ).cast("long")
    return feats.select(ll_g.alias("ll_g_x"), correct.alias("ok")).agg(
        F.count("*").alias("n_rows"),
        F.lit(w[0]).alias("w_bias"),
        F.lit(w[1]).alias("w_price"),
        F.lit(w[2]).alias("w_bucket"),
        round_half_up(
            F.sum(F.col("ok").cast("long")).cast("double") / F.count("*"), 4
        ).alias("accuracy"),
        round_half_up(
            F.sum("ll_g_x").cast("double") / LOGREG_G / F.count("*"), 6
        ).alias("log_loss"),
    )


# --- l-diversity (the sensitive-attribute side of k-anonymity) ---------

L_DIV = 3  # distinct-l threshold
LDIV_LN_GRAIN = 1_000_000  # entropy ln terms pre-round to 1e-6


def adv_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007): k-anonymity's
    blind spot is a well-sized quasi-identifier cell whose SENSITIVE
    value is constant — group size protects nothing if everyone in the
    group shares the secret. Per QI cell (market segment x nation over
    the orders join), the distinct-l and entropy-l of the sensitive
    attribute (order priority); rolled up per segment: worst-case l,
    cells and rows below the l-diversity bar.

    Two partial-aggregated shuffles on bounded key spaces (QI x
    sensitive, then QI), then a 5-row rollup. Entropy terms p*ln(p)
    pre-round to 1e-6 grains before summing (the ln-grain discipline),
    so entropy-l is engine-exact at its 4 dp rendering.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment", "c_nationkey")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    per_val = joined.groupBy(
        "c_mktsegment", F.col("c_nationkey").alias("nation"), "o_orderpriority"
    ).agg(F.count("*").alias("cnt"))
    w_cell = W.partitionBy("c_mktsegment", "nation")
    tot = F.sum("cnt").over(w_cell)
    p = F.col("cnt").cast("double") / tot.cast("double")
    term_g = F.floor(-p * F.log(p) * LDIV_LN_GRAIN + F.lit(0.5)).cast("long")
    cells = (
        per_val.select(
            "c_mktsegment", "nation", "cnt", term_g.alias("term_g")
        )
        .groupBy("c_mktsegment", "nation")
        .agg(
            F.sum("cnt").alias("cell_rows"),
            F.count("*").alias("l_distinct"),
            F.sum("term_g").alias("h_g"),
        )
    )
    entropy_l = F.exp(F.col("h_g").cast("double") / LDIV_LN_GRAIN)
    return cells.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_cells"),
        F.sum("cell_rows").alias("n_rows"),
        F.min("l_distinct").alias("min_l"),
        F.count(F.when(F.col("l_distinct") < L_DIV, 1)).alias("n_cells_low_l"),
        F.coalesce(
            F.sum(F.when(F.col("l_distinct") < L_DIV, F.col("cell_rows"))),
            F.lit(0),
        ).alias("n_rows_at_risk"),
        round_half_up(F.min(entropy_l), 4).alias("min_entropy_l"),
    )


# --- differentially-private release (seeded Laplace mechanism) ---------

DP_EPSILON = 0.5  # per-count privacy budget; sensitivity 1 => scale 2.0


def adv_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release: per-priority order counts
    with Laplace(1/epsilon) noise — the mechanism a data clean room
    applies before letting aggregates leave (Dwork et al. 2006). The
    uniform draw derives from md5 of the group key (the repo's
    deterministic-sampling discipline), so the release is reproducible
    across engines and runs while keeping the Laplace shape; a
    production deployment swaps the hash for a sealed RNG seed.

    One 5-row aggregation; the noise is one ln of an md5-derived
    uniform (inverse-CDF), pre-rounded to 1e-6 grains. true_count
    stays in the output as the audit column (the utility-loss readout
    epsilon buys).
    """
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderpriority").agg(F.count("*").alias("true_n"))
    h = hex_int(F.md5(F.concat(F.col("o_orderpriority"), F.lit("|dp"))), 8).cast("long")
    u = (h.cast("double") + 0.5) / 4294967296.0
    centered = u - 0.5
    scale = 1.0 / DP_EPSILON
    raw = -scale * F.signum(centered) * F.log(1.0 - 2.0 * F.abs(centered))
    noise_g = F.floor(raw * 1e6 + F.lit(0.5)).cast("long")
    noise = noise_g.cast("double") / 1e6
    return counts.select(
        "o_orderpriority",
        "true_n",
        round_half_up(noise, 6).alias("noise"),
        (F.col("true_n") + F.floor(noise + F.lit(0.5))).cast("long").alias(
            "noisy_n"
        ),
        F.lit(DP_EPSILON).alias("epsilon"),
    )


# --- MAD outliers (robust twin of the z-score scan) --------------------

MAD_K = 3.0  # flag |x - median| > MAD_K * 1.4826 * MAD
MAD_CONSISTENCY = 1.4826  # normal-consistency constant


def adv_mad_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier detection over order values —
    the robust sibling of ``adv_rolling_zscore_anomalies``: mean/std
    fences move when the outliers themselves inflate the std; the MAD
    fence (Hampel) does not. Flags |x - median| > 3 * 1.4826 * MAD,
    rolled up per priority with the fence columns exposed.

    Both medians (values, then absolute deviations) are exact lower
    medians over a deterministic total order, each computed by the
    two-pass distributed rank — two range exchanges, two 1-row
    broadcasts, zero single-task windows; deviations are exact float
    subtractions of identical doubles.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    r1 = distributed_prefix(
        orders,
        ["o_totalprice", "o_orderkey"],
        row_number="rn",
        total_count="n",
    )
    med = r1.filter(
        F.col("rn") == F.floor((F.col("n") + 1) / 2)
    ).select(F.col("o_totalprice").alias("median_price"))
    dev = orders.crossJoin(F.broadcast(med)).select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        "median_price",
        F.abs(F.col("o_totalprice") - F.col("median_price")).alias("dev"),
    )
    r2 = distributed_prefix(
        dev.select("o_orderkey", "dev"),
        ["dev", "o_orderkey"],
        row_number="rn",
        total_count="n",
    )
    mad = r2.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2)).select(
        F.col("dev").alias("mad")
    )
    fenced = dev.crossJoin(F.broadcast(mad))
    is_out = F.col("dev") > MAD_K * MAD_CONSISTENCY * F.col("mad")
    return fenced.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.count(F.when(is_out, 1)).alias("n_outliers"),
        round_half_up(
            F.count(F.when(is_out, 1)).cast("double") / F.count("*"), 4
        ).alias("outlier_share"),
        round_half_up(F.max("median_price"), 2).alias("median_price"),
        round_half_up(F.max("mad"), 2).alias("mad"),
    )


# --- two-sample Kolmogorov-Smirnov test (exact, integer-domain) ---------

#: Priorities forming sample A; everything else is sample B.
KS_A_PRIORITIES = ("1-URGENT", "2-HIGH")


def adv_ks_test_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the order
    values of urgent-class orders and the rest — the continuous-
    distribution sibling of ``rel_segment_priority_chi2`` (chi-squared
    tests categorical mixes; KS tests whether two VALUE distributions
    differ, the drift test a data pipeline runs between corpus
    snapshots or A/B cohorts).

    Exact-by-construction: with c1(v), c2(v) the cumulative counts up
    to each distinct value and n1, n2 the sample sizes,
    D = max |c1/n1 - c2/n2| = max |c1*n2 - c2*n1| / (n1*n2) — the
    maximum is taken over INTEGERS (one cross-multiplied long per
    distinct value), so partial-aggregation order cannot move it; the
    single division happens once, on identical doubles, in both
    engines.

    Scale shape: one groupBy on value (distinct-value frame), one
    two-pass prefix sum (``distributed_prefix`` — range exchange, no
    single-task window), one max-aggregate. n1/n2 are a 1-row bounded
    driver decision (the BPE/logreg doctrine).
    """
    from mit_map_reduce_spark.catalog import shared_persist

    def build_per() -> DataFrame:
        orders = load_table(spark, sf_dir, "orders")
        lab = orders.select(
            F.col("o_totalprice").alias("v"),
            F.col("o_orderpriority")
            .isin(*KS_A_PRIORITIES)
            .cast("long")
            .alias("is_a"),
        )
        return lab.groupBy("v").agg(
            F.sum("is_a").alias("a_cnt"),
            F.sum(1 - F.col("is_a")).alias("b_cnt"),
        )

    # Session-shared: the totals collect and the prefix machinery both
    # probe one cached distinct-value frame — without it each pass
    # re-scans and re-aggregates the full fact table.
    per = shared_persist(spark, "ks_per_value", sf_dir, build_per)
    tot = per.agg(F.sum("a_cnt"), F.sum("b_cnt")).collect()[0]
    n1, n2 = int(tot[0] or 0), int(tot[1] or 0)
    pre = distributed_prefix(per, ["v"], sums={"c1": "a_cnt", "c2": "b_cnt"})
    d_gap = F.abs(F.col("c1") * F.lit(n2) - F.col("c2") * F.lit(n1))
    # Zero guard (the z-order NULLIF discipline): with an empty sample
    # the statistic is undefined — emit NULL in both engines rather
    # than relying on how each renders a 0-division.
    ks = (
        F.lit(None).cast("double")
        if n1 * n2 == 0
        else round_half_up(
            F.col("d_scaled").cast("double") / F.lit(n1 * n2).cast("double"), 6
        )
    )
    return pre.agg(F.max(d_gap).alias("d_scaled")).select(
        F.lit(n1).cast("bigint").alias("n_a"),
        F.lit(n2).cast("bigint").alias("n_b"),
        F.col("d_scaled").cast("bigint").alias("d_scaled"),
        ks.alias("ks_stat"),
    )


def adv_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count by day — the growth-curve readout
    every product dashboard carries, and the classic window NO engine
    evaluates directly (COUNT(DISTINCT) OVER a running frame is
    unsupported in both Spark and DuckDB). The scalable identity:
    cumulative distinct users at day d = #{users whose FIRST event is
    <= d} — one min-aggregate per user, one count per day, one prefix
    sum over the (bounded) day domain.

    Scale shape: the only fact-sized shuffles are the per-user min and
    the per-day distinct count; the prefix sum runs over the day frame
    via ``distributed_prefix`` (no single-task window even if the
    calendar grows unboundedly).
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    new_by_day = first_seen.groupBy("first_day").agg(
        F.count("*").alias("n_new")
    )
    daily = ev.groupBy("day").agg(
        F.count_distinct("user_id").alias("n_active")
    )
    # Every first event IS an event, so new_by_day's days are a subset
    # of daily's: left join + 0-fill is lossless.
    joined = daily.join(
        new_by_day, daily.day == new_by_day.first_day, "left"
    ).select(
        "day",
        "n_active",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    return distributed_prefix(joined, ["day"], sums={"cum_users": "n_new"})


QUERIES = {
    "adv_ks_test_segments": adv_ks_test_segments,
    "adv_cumulative_distinct_users": adv_cumulative_distinct_users,
    "adv_logistic_regression_gd": adv_logistic_regression_gd,
    "adv_l_diversity_audit": adv_l_diversity_audit,
    "adv_dp_noisy_counts": adv_dp_noisy_counts,
    "adv_mad_outlier_orders": adv_mad_outlier_orders,
    "adv_smoothed_conversion_ranking": adv_smoothed_conversion_ranking,
    "adv_linear_touch_attribution": adv_linear_touch_attribution,
    "adv_cohort_ltv_curve": adv_cohort_ltv_curve,
    "adv_sequence_pattern_support": adv_sequence_pattern_support,
    "adv_kaplan_meier_retention": adv_kaplan_meier_retention,
    "adv_new_vs_returning_users": adv_new_vs_returning_users,
    "adv_rolling_zscore_anomalies": adv_rolling_zscore_anomalies,
    "adv_decile_lift_table": adv_decile_lift_table,
    "adv_pit_join_purchase_tier": adv_pit_join_purchase_tier,
    "adv_scd2_user_tier_history": adv_scd2_user_tier_history,
    "adv_cusum_changepoint_revenue": adv_cusum_changepoint_revenue,
    "adv_campaign_session_overlap": adv_campaign_session_overlap,
    "adv_ab_experiment_readout": adv_ab_experiment_readout,
    "adv_k_anonymity_audit": adv_k_anonymity_audit,
    "adv_activity_heatmap": adv_activity_heatmap,
    "adv_auc_purchase_score": adv_auc_purchase_score,
    "adv_rfm_segmentation": adv_rfm_segmentation,
    "adv_markov_event_transitions": adv_markov_event_transitions,
    "adv_rolling_active_users": adv_rolling_active_users,
    "adv_iqr_outlier_orders": adv_iqr_outlier_orders,
    "adv_association_rules_sessions": adv_association_rules_sessions,
    "adv_retention_cohorts": adv_retention_cohorts,
    "adv_latest_event_per_user": adv_latest_event_per_user,
    "adv_asof_join_last_click": adv_asof_join_last_click,
    "adv_asof_join_next_purchase": adv_asof_join_next_purchase,
    "adv_sessionize_events": adv_sessionize_events,
    "adv_gaps_and_islands": adv_gaps_and_islands,
    "adv_window_rank_functions": adv_window_rank_functions,
    "adv_grouped_map_median_gap": adv_grouped_map_median_gap,
    "adv_fuzzy_blocked_match": adv_fuzzy_blocked_match,
    "adv_lag_lead_event_deltas": adv_lag_lead_event_deltas,
    "adv_percentiles_order_value": adv_percentiles_order_value,
    "adv_ntile_balance_quartiles": adv_ntile_balance_quartiles,
    "adv_window_range_frame_spend": adv_window_range_frame_spend,
    "adv_funnel_conversion": adv_funnel_conversion,
    "adv_time_resample_daily": adv_time_resample_daily,
    "adv_time_resample_interp": adv_time_resample_interp,
    "adv_range_join_price_bands": adv_range_join_price_bands,
    "adv_correlated_subquery_small_qty": adv_correlated_subquery_small_qty,
    "adv_grouping_sets_revenue": adv_grouping_sets_revenue,
    "adv_pivot_segment_priority": adv_pivot_segment_priority,
}

#: Sessions-as-intervals CTE chain (gap sessionization -> epoch-ms
#: interval per session) shared by the overlap-join oracle.
_SESSION_INTERVALS_CTES = f"""
    e AS (
        SELECT user_id, event_id, ts, epoch_ms(ts) AS ms FROM events
    ),
    g AS (
        SELECT *, ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM e
    ),
    s AS (
        SELECT *, CAST(sum(CASE WHEN gap IS NULL OR gap > {SESSION_GAP_MS} THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_seq
        FROM g
    ),
    sess AS (
        SELECT user_id, session_seq, min(ms) AS s_lo_ms, max(ms) AS s_hi_ms
        FROM s GROUP BY user_id, session_seq
    )"""

def _logreg_oracle_sql() -> str:
    """The unrolled gradient-descent epochs as MATERIALIZED CTEs —
    each weight update replays the driver's exact float sequence."""
    G, WG, LR = LOGREG_G, LOGREG_WG, LOGREG_LR

    def p6(w0: str, w1: str, w2: str) -> str:
        return (
            f"CAST(floor(1.0 / (1.0 + exp(-(({w0} + ({w1} * x1)) + ({w2} * x2))))"
            f" * {G} + 0.5) AS BIGINT)"
        )

    def epoch(tag: str, w0: str, w1: str, w2: str) -> str:
        return f"""
        {tag} AS MATERIALIZED (
            SELECT count(*) AS n,
                   sum(CAST(({p6(w0, w1, w2)} - y * {G}) AS HUGEINT) * {G}) AS g0,
                   sum(CAST(({p6(w0, w1, w2)} - y * {G}) AS HUGEINT) * x1_g) AS g1,
                   sum(CAST(({p6(w0, w1, w2)} - y * {G}) AS HUGEINT) * x2_g) AS g2
            FROM feat{"" if tag == "e1" else ", w" + tag[1]}
        )"""

    def wcte(tag: str, prev_w: tuple[str, str, str], e: str) -> str:
        upd = ", ".join(
            f"floor(({prev_w[j]} - {LR} * (CAST(g{j} AS DOUBLE)"
            f" / (CAST(n AS DOUBLE) * {float(G)} * {float(G)}))) * {WG} + 0.5)"
            f" / {WG} AS w{j}"
            for j in range(3)
        )
        return f"{tag} AS MATERIALIZED (SELECT {upd} FROM {e})"

    final_p6 = p6("w0", "w1", "w2")
    return f"""
        WITH feat AS MATERIALIZED (
            SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END AS y,
                   CAST(floor(o_totalprice / 500000.0 * {G} + 0.5) AS BIGINT)
                       AS x1_g,
                   CAST(floor(CAST(o_custkey % 97 AS DOUBLE) / 97.0 * {G} + 0.5)
                       AS BIGINT) AS x2_g,
                   CAST(CAST(floor(o_totalprice / 500000.0 * {G} + 0.5)
                       AS BIGINT) AS DOUBLE) / {G} AS x1,
                   CAST(CAST(floor(CAST(o_custkey % 97 AS DOUBLE) / 97.0 * {G}
                       + 0.5) AS BIGINT) AS DOUBLE) / {G} AS x2
            FROM orders
        ),
        {epoch("e1", "0.0", "0.0", "0.0")},
        {wcte("w2", ("0.0", "0.0", "0.0"), "e1")},
        {epoch("e2", "w0", "w1", "w2")},
        {wcte("w3", ("w0", "w1", "w2"), "e2, w2")},
        {epoch("e3", "w0", "w1", "w2")},
        {wcte("w4", ("w0", "w1", "w2"), "e3, w3")},
        scored AS (
            SELECT y,
                   {final_p6} AS p6
            FROM feat, w4
        ),
        metrics AS (
            SELECT count(*) AS n_rows,
                   sum(CASE WHEN (CASE WHEN p6 >= {G // 2} THEN 1 ELSE 0 END) = y
                            THEN 1 ELSE 0 END) AS n_ok,
                   sum(CAST(floor(-ln(CAST(CASE WHEN y = 1
                                 THEN greatest(p6, 1)
                                 ELSE {G} - least(p6, {G - 1}) END AS DOUBLE)
                             / {G}) * {G} + 0.5) AS HUGEINT)) AS ll
            FROM scored
        )
        SELECT CAST(n_rows AS BIGINT) AS n_rows,
               w0 AS w_bias, w1 AS w_price, w2 AS w_bucket,
               {sql_round("CAST(n_ok AS DOUBLE) / CAST(n_rows AS DOUBLE)", 4)}
                   AS accuracy,
               {sql_round(
                   "CAST(ll AS DOUBLE) / " + str(float(G))
                   + " / CAST(n_rows AS DOUBLE)",
                   6,
               )} AS log_loss
        FROM metrics, w4
    """


ORACLES = {
    "adv_ks_test_segments": f"""
        WITH lab AS (
            SELECT o_totalprice AS v,
                   CASE WHEN o_orderpriority IN {KS_A_PRIORITIES}
                        THEN 1 ELSE 0 END AS is_a
            FROM orders
        ),
        per AS (
            SELECT v, sum(is_a) AS a_cnt, sum(1 - is_a) AS b_cnt
            FROM lab GROUP BY v
        ),
        tot AS (SELECT sum(a_cnt) AS n1, sum(b_cnt) AS n2 FROM per),
        cum AS (
            SELECT sum(a_cnt) OVER (ORDER BY v) AS c1,
                   sum(b_cnt) OVER (ORDER BY v) AS c2
            FROM per
        )
        SELECT CAST(t.n1 AS BIGINT) AS n_a,
               CAST(t.n2 AS BIGINT) AS n_b,
               CAST(max(abs(c1 * t.n2 - c2 * t.n1)) AS BIGINT) AS d_scaled,
               {sql_round(
                   "CAST(max(abs(c1 * t.n2 - c2 * t.n1)) AS DOUBLE)"
                   " / CAST(NULLIF(t.n1 * t.n2, 0) AS DOUBLE)",
                   6,
               )} AS ks_stat
        FROM cum, tot t GROUP BY t.n1, t.n2
    """,
    "adv_cumulative_distinct_users": """
        WITH ev AS (
            SELECT CAST(ts AS DATE) AS day, user_id FROM events
        ),
        fs AS (SELECT user_id, min(day) AS first_day FROM ev GROUP BY user_id),
        nb AS (SELECT first_day AS day, count(*) AS n_new FROM fs GROUP BY 1),
        da AS (
            SELECT day, count(DISTINCT user_id) AS n_active FROM ev GROUP BY day
        )
        SELECT da.day,
               CAST(n_active AS BIGINT) AS n_active,
               CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
               CAST(sum(coalesce(n_new, 0)) OVER (ORDER BY da.day) AS BIGINT)
                   AS cum_users
        FROM da LEFT JOIN nb ON da.day = nb.day
    """,
    "adv_logistic_regression_gd": _logreg_oracle_sql(),
    "adv_l_diversity_audit": f"""
        WITH per_val AS (
            SELECT c_mktsegment, c_nationkey AS nation, o_orderpriority,
                   count(*) AS cnt
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2, 3
        ),
        terms AS (
            SELECT c_mktsegment, nation, cnt,
                   CAST(floor(
                       (-(CAST(cnt AS DOUBLE)
                          / CAST(sum(cnt) OVER (PARTITION BY c_mktsegment,
                                                nation) AS DOUBLE)))
                       * ln(CAST(cnt AS DOUBLE)
                            / CAST(sum(cnt) OVER (PARTITION BY c_mktsegment,
                                                  nation) AS DOUBLE))
                       * {LDIV_LN_GRAIN} + 0.5) AS BIGINT) AS term_g
            FROM per_val
        ),
        cells AS (
            SELECT c_mktsegment, nation, sum(cnt) AS cell_rows,
                   count(*) AS l_distinct, sum(term_g) AS h_g
            FROM terms GROUP BY 1, 2
        )
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(cell_rows) AS BIGINT) AS n_rows,
               CAST(min(l_distinct) AS BIGINT) AS min_l,
               CAST(count(CASE WHEN l_distinct < {L_DIV} THEN 1 END) AS BIGINT)
                   AS n_cells_low_l,
               CAST(coalesce(sum(CASE WHEN l_distinct < {L_DIV}
                                      THEN cell_rows END), 0) AS BIGINT)
                   AS n_rows_at_risk,
               {sql_round(
                   "min(exp(CAST(h_g AS DOUBLE) / " + str(LDIV_LN_GRAIN) + "))",
                   4,
               )} AS min_entropy_l
        FROM cells GROUP BY c_mktsegment
    """,
    "adv_dp_noisy_counts": f"""
        WITH counts AS (
            SELECT o_orderpriority, count(*) AS true_n FROM orders GROUP BY 1
        ),
        noised AS (
            SELECT o_orderpriority, true_n,
                   CAST(floor(
                       -{1.0 / DP_EPSILON} * sign(
                           (CAST({sql_hex_int(
                               "md5(o_orderpriority || '|dp')", 8
                           )} AS DOUBLE) + 0.5) / 4294967296.0 - 0.5)
                       * ln(1.0 - 2.0 * abs(
                           (CAST({sql_hex_int(
                               "md5(o_orderpriority || '|dp')", 8
                           )} AS DOUBLE) + 0.5) / 4294967296.0 - 0.5))
                       * 1e6 + 0.5) AS BIGINT) AS noise_g
            FROM counts
        )
        SELECT o_orderpriority, CAST(true_n AS BIGINT) AS true_n,
               {sql_round("CAST(noise_g AS DOUBLE) / 1e6", 6)} AS noise,
               CAST(true_n + CAST(floor(CAST(noise_g AS DOUBLE) / 1e6 + 0.5)
                   AS BIGINT) AS BIGINT) AS noisy_n,
               CAST({DP_EPSILON} AS DOUBLE) AS epsilon
        FROM noised
    """,
    "adv_mad_outlier_orders": f"""
        WITH ranked AS MATERIALIZED (
            SELECT o_orderkey, o_orderpriority, o_totalprice,
                   row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
                   count(*) OVER () AS n
            FROM orders
        ),
        med AS (
            SELECT o_totalprice AS median_price FROM ranked
            WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
        ),
        dev AS MATERIALIZED (
            SELECT o_orderkey, o_orderpriority, o_totalprice, median_price,
                   abs(o_totalprice - median_price) AS dev
            FROM ranked, med
        ),
        devranked AS (
            SELECT dev, row_number() OVER (ORDER BY dev, o_orderkey) AS rn,
                   count(*) OVER () AS n
            FROM dev
        ),
        mad AS (
            SELECT dev AS mad FROM devranked
            WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(CASE WHEN dev > {MAD_K} * {MAD_CONSISTENCY} * mad
                          THEN 1 END) AS BIGINT) AS n_outliers,
               {sql_round(
                   "CAST(count(CASE WHEN dev > " + str(MAD_K) + " * "
                   + str(MAD_CONSISTENCY)
                   + " * mad THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)",
                   4,
               )} AS outlier_share,
               {sql_round("max(median_price)", 2)} AS median_price,
               {sql_round("max(mad)", 2)} AS mad
        FROM dev, mad GROUP BY o_orderpriority
    """,
    "adv_smoothed_conversion_ranking": f"""
        WITH grp AS (
            SELECT CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) // 10
                        AS INTEGER) AS k_decile,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
                       AS n_purchases
            FROM events GROUP BY 1
        ),
        staged AS (
            SELECT k_decile, n_events, n_purchases,
                   CAST(n_purchases AS DOUBLE) / n_events AS raw_rate_f,
                   (n_purchases + {SMOOTH_ALPHA} * (CAST(sum(n_purchases) OVER () AS DOUBLE)
                        / sum(n_events) OVER ()))
                       / (n_events + {SMOOTH_ALPHA}) AS smoothed_f
            FROM grp
        )
        SELECT k_decile, n_events, n_purchases,
               {sql_round("raw_rate_f", 4)} AS raw_rate,
               {sql_round("smoothed_f", 4)} AS smoothed_rate,
               CAST(row_number() OVER (ORDER BY raw_rate_f DESC, k_decile)
                    AS INTEGER) AS raw_rank,
               CAST(row_number() OVER (ORDER BY smoothed_f DESC, k_decile)
                    AS INTEGER) AS smoothed_rank
        FROM staged
    """,
    "adv_linear_touch_attribution": f"""
        WITH e AS (
            SELECT user_id, event_id, ts, event_type, epoch_ms(ts) AS ms FROM events
        ),
        g AS (
            SELECT *, ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
            FROM e
        ),
        se AS (
            SELECT *, CAST(sum(CASE WHEN gap IS NULL OR gap > {SESSION_GAP_MS} THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS INTEGER) AS sess
            FROM g
        ),
        posed AS (
            SELECT *, row_number() OVER (PARTITION BY user_id, sess
                                         ORDER BY ts, event_id) AS pos
            FROM se
        ),
        purchases AS (
            SELECT user_id, sess, event_id AS pid, pos AS ppos
            FROM posed WHERE event_type = 'purchase'
        ),
        prior AS (
            SELECT DISTINCT p.pid, t.event_type AS channel
            FROM purchases p JOIN posed t
              ON t.user_id = p.user_id AND t.sess = p.sess
             AND t.event_type <> 'purchase' AND t.pos < p.ppos
        ),
        touched AS (
            SELECT pid, channel FROM prior
            UNION ALL
            SELECT pid, '(none)' AS channel FROM purchases
            WHERE pid NOT IN (SELECT pid FROM prior)
        ),
        credits AS (
            SELECT pid, channel,
                   CAST(floor(1.0 / count(*) OVER (PARTITION BY pid)
                              * {ATTR_GRAIN} + 0.5) AS BIGINT) AS g
            FROM touched
        )
        SELECT channel,
               CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases_touched,
               {sql_round(f"CAST(sum(g) AS DOUBLE) / {ATTR_GRAIN}", 2)}
                   AS attributed_purchases
        FROM credits GROUP BY channel
    """,
    "adv_cohort_ltv_curve": f"""
        WITH days AS (
            SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   CASE WHEN event_type = 'purchase'
                        THEN CAST(floor(value * 10000.0 + 0.5) AS HUGEINT)
                        ELSE CAST(0 AS HUGEINT) END AS rev_g
            FROM events
        ),
        cohort AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id),
        sizes AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
                  FROM cohort GROUP BY cohort_day),
        per AS (
            SELECT c.cohort_day,
                   date_diff('day', c.cohort_day, d.day) AS day_offset,
                   sum(d.rev_g) AS rev_g
            FROM days d JOIN cohort c USING (user_id)
            GROUP BY 1, 2
        ),
        cum AS (
            SELECT cohort_day, CAST(day_offset AS INTEGER) AS day_offset, rev_g,
                   sum(rev_g) OVER (PARTITION BY cohort_day ORDER BY day_offset
                                    ROWS UNBOUNDED PRECEDING) AS cum_g
            FROM per
        )
        SELECT cohort_day, day_offset, sizes.cohort_size,
               {sql_round("CAST(rev_g AS DOUBLE) / 10000.0", 2)} AS revenue,
               {sql_round(
                   "CAST(cum_g AS DOUBLE) / 10000.0 / sizes.cohort_size", 4
               )} AS cum_revenue_per_user
        FROM cum JOIN sizes USING (cohort_day)
    """,
    "adv_sequence_pattern_support": f"""
        WITH e AS (
            SELECT user_id, event_id, ts, event_type, epoch_ms(ts) AS ms FROM events
        ),
        g AS (
            SELECT *, ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
            FROM e
        ),
        se AS (
            SELECT *, CAST(sum(CASE WHEN gap IS NULL OR gap > {SESSION_GAP_MS} THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_seq
            FROM g
        ),
        posed AS (
            SELECT user_id, session_seq, event_type,
                   row_number() OVER (PARTITION BY user_id, session_seq
                                      ORDER BY ts, event_id) AS pos
            FROM se
        ),
        firsts AS (
            SELECT user_id, session_seq, event_type, min(pos) AS first_pos
            FROM posed GROUP BY user_id, session_seq, event_type
        ),
        ordered AS (
            SELECT a.event_type AS antecedent, b.event_type AS consequent,
                   CAST(count(*) AS BIGINT) AS n_sessions_ordered
            FROM firsts a JOIN firsts b
              ON a.user_id = b.user_id AND a.session_seq = b.session_seq
             AND a.event_type <> b.event_type AND a.first_pos < b.first_pos
            GROUP BY 1, 2
        ),
        tot AS (SELECT count(*) AS n FROM (SELECT DISTINCT user_id, session_seq FROM firsts)),
        wa AS (SELECT event_type AS antecedent, count(*) AS n_with_a FROM firsts GROUP BY 1)
        SELECT o.antecedent, o.consequent, o.n_sessions_ordered,
               {sql_round("CAST(o.n_sessions_ordered AS DOUBLE) / tot.n", 4)} AS support,
               {sql_round("CAST(o.n_sessions_ordered AS DOUBLE) / wa.n_with_a", 4)} AS confidence
        FROM ordered o JOIN wa USING (antecedent) CROSS JOIN tot
    """,
    "adv_kaplan_meier_retention": f"""
        WITH {_SESSION_INTERVALS_CTES},
        horizon AS (SELECT max(epoch_ms(ts)) AS h_ms FROM events),
        per_sess AS (
            SELECT CAST((s_hi_ms - s_lo_ms) // 60000 AS INTEGER) AS duration_min,
                   ((SELECT h_ms FROM horizon) - s_hi_ms)
                       < {KM_CENSOR_GUARD_MS} AS censored
            FROM sess
        ),
        by_t AS (
            SELECT duration_min,
                   CAST(count(*) FILTER (NOT censored) AS BIGINT) AS n_events,
                   CAST(count(*) FILTER (censored) AS BIGINT) AS n_censored
            FROM per_sess GROUP BY duration_min
        ),
        staged AS (
            SELECT duration_min, n_events, n_censored,
                   sum(n_events + n_censored) OVER ()
                       - coalesce(sum(n_events + n_censored) OVER (
                             ORDER BY duration_min
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS n_at_risk
            FROM by_t
        ),
        terms AS (
            SELECT duration_min, n_events, n_censored, n_at_risk,
                   CASE WHEN n_events > 0 AND n_events < n_at_risk
                        THEN CAST(floor(ln(1.0 - CAST(n_events AS DOUBLE) / n_at_risk)
                                        * {KM_LN_GRAIN} + 0.5) AS BIGINT)
                        ELSE 0 END AS g,
                   CASE WHEN n_events >= n_at_risk THEN 1 ELSE 0 END AS ext
            FROM staged
        )
        SELECT duration_min, CAST(n_at_risk AS BIGINT) AS n_at_risk,
               n_events, n_censored,
               CASE WHEN max(ext) OVER (ORDER BY duration_min
                        ROWS UNBOUNDED PRECEDING) = 1 THEN 0.0
                    ELSE {sql_round(
                        "exp(CAST(sum(g) OVER (ORDER BY duration_min"
                        " ROWS UNBOUNDED PRECEDING) AS DOUBLE)"
                        f" / {KM_LN_GRAIN})",
                        6,
                    )}
               END AS survival
        FROM terms
    """,
    "adv_new_vs_returning_users": """
        WITH active AS (
            SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
            FROM events
        ),
        first AS (SELECT user_id, min(day) AS first_day FROM active GROUP BY user_id)
        SELECT day,
               CAST(count(*) FILTER (day = first_day) AS BIGINT) AS n_new,
               CAST(count(*) FILTER (day <> first_day) AS BIGINT) AS n_returning,
               CAST(count(*) AS BIGINT) AS n_active
        FROM active JOIN first USING (user_id)
        GROUP BY day
    """,
    "adv_rolling_zscore_anomalies": f"""
        WITH daily AS (
            SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
                   sum(CAST(floor(o_totalprice * 10000.0 + 0.5) AS HUGEINT)) AS g
            FROM orders GROUP BY 1
        ),
        rolled AS (
            SELECT day, g,
                   count(g) OVER w AS k,
                   sum(g) OVER w AS s1,
                   sum(g * g) OVER w AS s2
            FROM daily
            WINDOW w AS (ORDER BY day ROWS BETWEEN {ZSCORE_WINDOW_DAYS} PRECEDING
                         AND 1 PRECEDING)
        )
        SELECT day,
               {sql_round("CAST(g AS DOUBLE) / 10000.0", 2)} AS revenue,
               CASE WHEN k >= 7 THEN {sql_round(
                   "(CAST(g AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))"
                   " / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
                   " / CAST(k AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))",
                   4,
               )} END AS zscore,
               CASE WHEN k >= 7 THEN
                   abs((CAST(g AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))
                       / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                               / CAST(k AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0)))
                       >= {ZSCORE_THRESHOLD}
               END AS is_anomaly
        FROM rolled
    """,
    "adv_decile_lift_table": f"""
        WITH tiled AS (
            SELECT CAST(ntile({LIFT_DECILES}) OVER (ORDER BY value DESC, event_id)
                        AS INTEGER) AS decile,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
            FROM events
        ),
        per AS (
            SELECT decile, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(pos) AS BIGINT) AS n_pos
            FROM tiled GROUP BY decile
        )
        SELECT decile, n, n_pos,
               {sql_round("CAST(n_pos AS DOUBLE) / n", 4)} AS response_rate,
               {sql_round(
                   "(CAST(n_pos AS DOUBLE) / n)"
                   " / (CAST(sum(n_pos) OVER () AS DOUBLE) / sum(n) OVER ())",
                   4,
               )} AS lift,
               {sql_round(
                   "CAST(sum(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)"
                   " AS DOUBLE) / sum(n_pos) OVER ()",
                   4,
               )} AS cumulative_capture
        FROM per
    """,
    "adv_pit_join_purchase_tier": f"""
        WITH base AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN event_type = 'signup'
                        THEN CAST(CAST(json_extract_string(props, '$.k') AS INTEGER)
                                  // {TIER_WIDTH} AS INTEGER) END AS tier_change
            FROM events WHERE event_type IN ('signup', 'purchase')
        ),
        carried AS (
            SELECT user_id, ts, event_id, event_type,
                   last_value(tier_change IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS tier_at_event
            FROM base
        )
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, tier_at_event
        FROM carried WHERE event_type = 'purchase'
    """,
    "adv_scd2_user_tier_history": f"""
        WITH base AS (
            SELECT user_id, ts, event_id,
                   CAST(CAST(json_extract_string(props, '$.k') AS INTEGER)
                        // {TIER_WIDTH} AS INTEGER) AS tier
            FROM events
        ),
        flagged AS (
            SELECT user_id, ts, event_id, tier,
                   CASE WHEN lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          OR lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id) <> tier
                        THEN 1 ELSE 0 END AS chg
            FROM base
        ),
        numbered AS (
            SELECT user_id, ts, tier,
                   CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS INTEGER) AS interval_seq
            FROM flagged
        ),
        iv AS (
            SELECT user_id, interval_seq, min(tier) AS tier, min(ts) AS valid_from,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM numbered GROUP BY user_id, interval_seq
        )
        SELECT user_id, interval_seq, tier, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id ORDER BY interval_seq) AS valid_to,
               n_events,
               lead(valid_from) OVER (PARTITION BY user_id ORDER BY interval_seq) IS NULL AS is_current
        FROM iv
    """,
    "adv_cusum_changepoint_revenue": f"""
        WITH daily AS (
            SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
                   sum(CAST(floor(o_totalprice * 10000.0 + 0.5) AS HUGEINT)) AS rev_g
            FROM orders GROUP BY 1
        ),
        scanned AS (
            SELECT day, rev_g,
                   CAST(row_number() OVER (ORDER BY day) AS HUGEINT) AS d_idx,
                   sum(rev_g) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS prefix_g,
                   sum(rev_g) OVER () AS total_g,
                   CAST(count(*) OVER () AS HUGEINT) AS n_days
            FROM daily
        ),
        flagged AS (
            SELECT day, rev_g, n_days,
                   n_days * prefix_g - d_idx * total_g AS s_g
            FROM scanned
        ),
        ranked AS (
            SELECT *, row_number() OVER (ORDER BY abs(s_g) DESC, day) AS peak_rank
            FROM flagged
        )
        SELECT day,
               {sql_round("CAST(rev_g AS DOUBLE) / 10000.0", 2)} AS revenue,
               {sql_round("CAST(s_g AS DOUBLE) / CAST(n_days AS DOUBLE) / 10000.0", 2)} AS cusum,
               peak_rank = 1 AS is_changepoint
        FROM ranked
    """,
    "adv_campaign_session_overlap": f"""
        WITH {_SESSION_INTERVALS_CTES},
        camp AS (
            SELECT c AS campaign_id,
                   epoch_ms(TIMESTAMP '{CAMPAIGN_START}')
                       + c * {CAMPAIGN_EVERY_H * 3600 * 1000} AS c_lo_ms,
                   epoch_ms(TIMESTAMP '{CAMPAIGN_START}')
                       + c * {CAMPAIGN_EVERY_H * 3600 * 1000}
                       + {CAMPAIGN_LEN_H * 3600 * 1000} AS c_hi_ms
            FROM range({CAMPAIGN_N}) t(c)
        ),
        cand AS (
            -- the oracle states the overlap predicate directly; the
            -- Spark side must reach the same set through the grid-cell
            -- equi-join + exact re-check
            SELECT * FROM sess JOIN camp
            ON s_lo_ms < c_hi_ms AND c_lo_ms < s_hi_ms
        )
        SELECT campaign_id,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(floor(sum(least(s_hi_ms, c_hi_ms) - greatest(s_lo_ms, c_lo_ms)) / 1000.0)
                    AS BIGINT) AS overlap_seconds
        FROM cand GROUP BY campaign_id
    """,
    "adv_k_anonymity_audit": f"""
        WITH qi AS (
            SELECT c_mktsegment, c_nationkey AS nation,
                   CAST(sign(c_acctbal) AS INTEGER) AS bal_sign,
                   count(*) AS cell_size
            FROM customer GROUP BY 1, 2, 3
        )
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(cell_size) AS BIGINT) AS n_rows,
               CAST(min(cell_size) AS BIGINT) AS actual_k,
               CAST(count(CASE WHEN cell_size < {K_ANON} THEN 1 END) AS BIGINT)
                   AS n_violating_cells,
               CAST(coalesce(sum(CASE WHEN cell_size < {K_ANON}
                                      THEN cell_size END), 0) AS BIGINT)
                   AS n_rows_at_risk,
               floor(CAST(coalesce(sum(CASE WHEN cell_size < {K_ANON}
                                            THEN cell_size END), 0) AS DOUBLE)
                     / sum(cell_size) * 10000.0 + 0.5) / 10000.0
                   AS at_risk_share
        FROM qi
    """,
    "adv_activity_heatmap": """
        WITH cells AS (
            SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
                   CAST(hour(ts) AS INTEGER) AS hour,
                   count(*) AS n_events
            FROM events GROUP BY 1, 2
        )
        SELECT dow, hour, CAST(n_events AS BIGINT) AS n_events,
               floor(CAST(n_events AS DOUBLE) / sum(n_events) OVER ()
                     * 1000000.0 + 0.5) / 1000000.0 AS share
        FROM cells
    """,
    "adv_auc_purchase_score": """
        WITH grp AS (
            SELECT value, count(*) AS c,
                   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
            FROM events GROUP BY value
        ),
        ranked AS (
            SELECT c, p,
                   coalesce(sum(c) OVER (ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + 1 AS r0
            FROM grp
        ),
        sums AS (
            SELECT sum(c) AS n, sum(p) AS n_pos,
                   sum(p * (2 * r0 + c - 1)) AS pos_rank2
            FROM ranked
        )
        SELECT CAST(n_pos AS BIGINT) AS n_pos,
               CAST(n - n_pos AS BIGINT) AS n_neg,
               floor(CAST(pos_rank2 - n_pos * (n_pos + 1) AS DOUBLE)
                     / CAST(2.0 * n_pos * (n - n_pos) AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS auc
        FROM sums
    """,
    "adv_rfm_segmentation": """
        WITH horizon AS (SELECT max(o_orderdate) AS h FROM orders),
        per_cust AS (
            SELECT o_custkey,
                   date_diff('day', CAST(max(o_orderdate) AS DATE),
                             CAST((SELECT h FROM horizon) AS DATE))
                       AS recency_days,
                   count(*) AS frequency,
                   sum(CAST(floor(o_totalprice * 10000.0 + 0.5)
                            AS DECIMAL(38,0))) AS mon_grains
            FROM orders GROUP BY o_custkey
        ),
        scored AS (
            SELECT o_custkey, mon_grains,
                   CAST(ntile(5) OVER (
                       ORDER BY recency_days DESC, o_custkey) AS INTEGER)
                       AS r_score,
                   CAST(ntile(5) OVER (
                       ORDER BY frequency ASC, o_custkey) AS INTEGER) AS f_score,
                   CAST(ntile(5) OVER (
                       ORDER BY mon_grains ASC, o_custkey) AS INTEGER) AS m_score
            FROM per_cust
        )
        SELECT r_score, f_score, m_score,
               CAST(count(*) AS BIGINT) AS n_customers,
               floor(CAST(sum(mon_grains) AS DOUBLE) / 10000.0 * 100.0 + 0.5)
                   / 100.0 AS total_monetary,
               max(CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                        WHEN r_score <= 2 THEN 'at_risk'
                        ELSE 'regular' END) AS segment
        FROM scored GROUP BY 1, 2, 3
    """,
    "adv_markov_event_transitions": """
        WITH trans AS (
            SELECT event_type AS prev_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS next_type
            FROM events
        ),
        counts AS (
            SELECT prev_type, next_type, count(*) AS n_transitions
            FROM trans WHERE next_type IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT prev_type, next_type,
               CAST(n_transitions AS BIGINT) AS n_transitions,
               floor(CAST(n_transitions AS DOUBLE)
                     / sum(n_transitions) OVER (PARTITION BY prev_type)
                     * 10000.0 + 0.5) / 10000.0 AS prob
        FROM counts
    """,
    "adv_rolling_active_users": """
        WITH activity AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        ),
        spine AS (SELECT DISTINCT day FROM activity),
        exploded AS (
            SELECT a.day + CAST(t.o AS INTEGER) AS win_day, a.user_id
            FROM activity a, range(0, 7) t(o)
        )
        SELECT e.win_day AS day,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active_7d
        FROM exploded e JOIN spine s ON e.win_day = s.day
        GROUP BY e.win_day
    """,
    "adv_iqr_outlier_orders": """
        WITH ranked AS (
            SELECT o_orderpriority, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice, o_orderkey) AS rn,
                   count(*) OVER (PARTITION BY o_orderpriority) AS n
            FROM orders
        ),
        quartiles AS (
            SELECT o_orderpriority,
                   max(n) AS n_orders,
                   min(CASE WHEN rn = ceil(n * 0.25) THEN o_totalprice END) AS q1,
                   min(CASE WHEN rn = ceil(n * 0.75) THEN o_totalprice END) AS q3
            FROM ranked GROUP BY o_orderpriority
        ),
        fences AS (
            SELECT *, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
            FROM quartiles
        )
        SELECT o.o_orderpriority,
               CAST(max(f.n_orders) AS BIGINT) AS n_orders,
               max(f.q1) AS q1, max(f.q3) AS q3,
               CAST(count(CASE WHEN o.o_totalprice < f.lo THEN 1 END) AS BIGINT)
                   AS n_low,
               CAST(count(CASE WHEN o.o_totalprice > f.hi THEN 1 END) AS BIGINT)
                   AS n_high
        FROM orders o JOIN fences f USING (o_orderpriority)
        GROUP BY o.o_orderpriority
    """,
    "adv_association_rules_sessions": f"""
        WITH e AS (
            SELECT user_id, event_id, ts, event_type, epoch_ms(ts) AS ms
            FROM events
        ),
        flagged AS (
            SELECT user_id, event_type, ms,
                   CASE WHEN ms - lag(ms) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                            <= {SESSION_GAP_MS}
                        THEN 0 ELSE 1 END AS is_new,
                   ts, event_id
            FROM e
        ),
        sess AS (
            SELECT user_id, event_type,
                   CAST(sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_seq
            FROM flagged
        ),
        baskets AS (
            SELECT DISTINCT
                   CAST(user_id AS VARCHAR) || '#' ||
                       CAST(session_seq AS VARCHAR) AS sid,
                   event_type
            FROM sess
        ),
        total AS (SELECT count(DISTINCT sid) AS n_sessions FROM baskets),
        singles AS (
            SELECT event_type, count(*) AS n_item FROM baskets GROUP BY 1
        ),
        pairs AS (
            SELECT a.event_type AS event_a, b.event_type AS event_b,
                   count(*) AS n_both
            FROM baskets a JOIN baskets b
              ON a.sid = b.sid AND a.event_type < b.event_type
            GROUP BY 1, 2
            HAVING count(*) >= {RULES_MIN_SUPPORT}
        )
        SELECT p.event_a, p.event_b, CAST(p.n_both AS BIGINT) AS n_both,
               floor(CAST(p.n_both AS DOUBLE) / na.n_item * 10000.0 + 0.5)
                   / 10000.0 AS conf_a_to_b,
               floor(CAST(p.n_both AS DOUBLE) / nb.n_item * 10000.0 + 0.5)
                   / 10000.0 AS conf_b_to_a,
               floor(CAST(p.n_both AS DOUBLE) * t.n_sessions
                     / (na.n_item * nb.n_item) * 10000.0 + 0.5)
                   / 10000.0 AS lift
        FROM pairs p
        JOIN singles na ON p.event_a = na.event_type
        JOIN singles nb ON p.event_b = nb.event_type
        CROSS JOIN total t
    """,
    "adv_ab_experiment_readout": f"""
        WITH users AS (
            SELECT DISTINCT user_id,
                   CASE WHEN {sql_hex_int("md5(CAST(user_id AS VARCHAR))", 1)} < 8
                        THEN 'treatment' ELSE 'control' END AS arm
            FROM events
        ),
        per_user AS (
            SELECT user_id, count(*) AS n_purchases,
                   sum(CAST(floor(value * 10000.0 + 0.5) AS DECIMAL(38,0))) AS rev_grains
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        )
        SELECT arm,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(count(p.user_id) AS BIGINT) AS n_converted,
               floor((CAST(count(p.user_id) AS DOUBLE) / count(*)) * 10000.0 + 0.5)
                   / 10000.0 AS conv_rate,
               floor((CAST(coalesce(sum(rev_grains), 0) AS DOUBLE) / 10000.0) * 100.0 + 0.5)
                   / 100.0 AS total_revenue,
               floor((CAST(coalesce(sum(rev_grains), 0) AS DOUBLE) / 10000.0 / count(*))
                   * 10000.0 + 0.5) / 10000.0 AS revenue_per_user
        FROM users u LEFT JOIN per_user p USING (user_id)
        GROUP BY arm
    """,
    "adv_retention_cohorts": """
        WITH activity AS (
            SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
            FROM events
        ),
        first AS (
            SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id
        ),
        tagged AS (
            SELECT f.cohort_day,
                   CAST(date_diff('day', f.cohort_day, a.day) AS INTEGER) AS day_offset,
                   a.user_id
            FROM activity a JOIN first f USING (user_id)
        ),
        counts AS (
            SELECT cohort_day, day_offset,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
            FROM tagged GROUP BY cohort_day, day_offset
        ),
        sizes AS (
            SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
            FROM first GROUP BY cohort_day
        )
        SELECT c.cohort_day, c.day_offset, c.n_active, s.cohort_size,
               floor((CAST(c.n_active AS DOUBLE) / s.cohort_size) * 10000.0 + 0.5)
                   / 10000.0 AS retention
        FROM counts c JOIN sizes s USING (cohort_day)
    """,
    "adv_latest_event_per_user": """
        SELECT user_id,
               event_id AS last_event_id,
               event_type AS last_event_type,
               ts AS last_ts,
               floor((value) * 100.0 + 0.5) / 100.0 AS last_value
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    "adv_gaps_and_islands": """
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        anchored AS (
            SELECT user_id, day,
                   day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
            FROM days
        )
        SELECT user_id,
               min(day) AS streak_start,
               max(day) AS streak_end,
               CAST(count(*) AS BIGINT) AS n_days
        FROM anchored GROUP BY user_id, anchor
    """,
    "adv_window_rank_functions": """
        SELECT c_custkey, c_nationkey,
               floor((c_acctbal) * 100.0 + 0.5) / 100.0 AS acctbal,
               floor((percent_rank() OVER w) * 1000000.0 + 0.5) / 1000000.0 AS pct_rank,
               floor((cume_dist() OVER w) * 1000000.0 + 0.5) / 1000000.0 AS cume_dist,
               floor((nth_value(c_acctbal, 2) OVER w) * 100.0 + 0.5) / 100.0 AS second_lowest_bal
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
    "adv_sessionize_events": f"""
        WITH e AS (
            SELECT user_id, event_id, ts, epoch_ms(ts) AS ms FROM events
        ),
        g AS (
            SELECT *, ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
            FROM e
        ),
        s AS (
            SELECT *, CAST(sum(CASE WHEN gap IS NULL OR gap > {SESSION_GAP_MS} THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_seq
            FROM g
        )
        SELECT user_id, session_seq,
               min(ts) AS session_start,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(ms) - min(ms) AS BIGINT) AS duration_ms
        FROM s GROUP BY user_id, session_seq
    """,
    "adv_fuzzy_blocked_match": f"""
        WITH p AS (
            SELECT p_partkey, p_name,
                   list_extract(string_split(p_name, ' '), -1) AS blk
            FROM part
        ),
        pairs AS (
            SELECT a.blk, levenshtein(a.p_name, b.p_name) AS dist
            FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
            WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
        )
        SELECT blk,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(min(dist) AS INTEGER) AS min_dist,
               floor((avg(dist)) * 10000.0 + 0.5) / 10000.0 AS avg_dist
        FROM pairs GROUP BY blk
    """,
    "adv_lag_lead_event_deltas": """
        SELECT event_id, user_id, event_type,
               lag(event_type) OVER w AS prev_type,
               lead(event_type) OVER w AS next_type,
               epoch(ts) - lag(epoch(ts)) OVER w AS secs_since_prev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "adv_funnel_conversion": """
        WITH s1 AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
        )
        SELECT 1 AS stage, 'signup' AS event_type, CAST(count(*) AS BIGINT) AS n FROM s1
        UNION ALL
        SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
        UNION ALL
        SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
    """,
    "adv_window_range_frame_spend": f"""
        SELECT event_id, user_id, ts AS event_ts,
               CAST(count(*) OVER w AS BIGINT) AS n_trailing,
               floor((CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS DECIMAL(38,0))) OVER w AS DOUBLE)
                      / 10000.0) * 100.0 + 0.5) / 100.0 AS trailing_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN {TRAILING_SECONDS * 1_000_000} PRECEDING
                           AND CURRENT ROW)
    """,
    "adv_time_resample_daily": """
        WITH bounds AS (
            SELECT CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS lo,
                   CAST(max(date_trunc('day', ts)) AS TIMESTAMP) AS hi
            FROM events
        ),
        days AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
        ),
        types AS (SELECT DISTINCT event_type FROM events),
        per_day AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
                   count(*) AS n,
                   sum(CAST(floor(value * 10000.0 + 0.5) AS DECIMAL(38,0))) AS tv_g
            FROM events GROUP BY 1, 2
        )
        SELECT days.day, types.event_type,
               CAST(coalesce(n, 0) AS BIGINT) AS n_events,
               floor((coalesce(CAST(tv_g AS DOUBLE) / 10000.0, 0.0)) * 100.0 + 0.5) / 100.0 AS total_value
        FROM days CROSS JOIN types
        LEFT JOIN per_day ON per_day.day = days.day AND per_day.event_type = types.event_type
    """,
    "adv_time_resample_interp": """
        WITH bounds AS (
            SELECT CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS lo,
                   CAST(max(date_trunc('day', ts)) AS TIMESTAMP) AS hi
            FROM events
        ),
        days AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
        ),
        types AS (SELECT DISTINCT event_type FROM events),
        per_day AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
                   avg(value) AS v
            FROM events GROUP BY 1, 2
        ),
        grid AS (
            SELECT days.day, types.event_type AS etype, per_day.v
            FROM days CROSS JOIN types
            LEFT JOIN per_day ON per_day.day = days.day
                             AND per_day.event_type = types.event_type
        ),
        g AS (
            SELECT day, etype, v,
                   last_value(v IGNORE NULLS) OVER wp AS pv,
                   last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS pd,
                   first_value(v IGNORE NULLS) OVER wn AS nv,
                   first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wn AS nd
            FROM grid
            WINDOW wp AS (PARTITION BY etype ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wn AS (PARTITION BY etype ORDER BY day
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT day, etype AS event_type,
               floor((CASE
                   WHEN v IS NOT NULL THEN v
                   WHEN pv IS NULL THEN nv
                   WHEN nv IS NULL THEN pv
                   ELSE pv + (nv - pv) * (CAST(date_diff('day', pd, day) AS DOUBLE)
                                          / CAST(date_diff('day', pd, nd) AS DOUBLE))
               END) * 10000.0 + 0.5) / 10000.0 AS avg_value,
               v IS NOT NULL AS observed
        FROM g
    """,
    "adv_ntile_balance_quartiles": """
        SELECT c_nationkey, CAST(quartile AS INTEGER) AS quartile,
               CAST(count(*) AS BIGINT) AS n_customers,
               floor((min(c_acctbal)) * 100.0 + 0.5) / 100.0 AS min_bal,
               floor((max(c_acctbal)) * 100.0 + 0.5) / 100.0 AS max_bal
        FROM (
            SELECT c_nationkey, c_acctbal,
                   ntile(4) OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal, c_custkey) AS quartile
            FROM customer
        )
        GROUP BY c_nationkey, quartile
    """,
    "adv_percentiles_order_value": """
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_orders,
               floor((quantile_cont(o_totalprice, 0.5)) * 10000.0 + 0.5) / 10000.0 AS median_value,
               floor((quantile_cont(o_totalprice, 0.9)) * 10000.0 + 0.5) / 10000.0 AS p90_value
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "adv_grouped_map_median_gap": """
        WITH gaps AS (
            SELECT user_id,
                   epoch(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS gap_s
            FROM events
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               floor((median(gap_s)) * 10000.0 + 0.5) / 10000.0 AS median_gap_s
        FROM gaps GROUP BY user_id
    """,
    # Window formulation (not DuckDB's native ASOF JOIN) so that
    # equal-timestamp ties break identically (by event_id) in both
    # engines; semantics otherwise match ASOF JOIN ... ON ts >= ts.
    "adv_asof_join_next_purchase": f"""
        WITH ev AS (
            SELECT event_id, user_id, ts, event_type FROM events
            WHERE event_type IN ('click', 'purchase')
        ),
        carried AS (
            SELECT event_id, user_id, ts, event_type,
                   first_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS next_purchase_ts
            FROM ev
        )
        SELECT event_id AS click_id, user_id, ts AS click_ts, next_purchase_ts,
               CASE WHEN (epoch_us(next_purchase_ts) - epoch_us(ts)) / 1000000.0 <= {CONVERT_WINDOW_S}
                    THEN floor(((epoch_us(next_purchase_ts) - epoch_us(ts)) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0
               END AS secs_to_convert
        FROM carried WHERE event_type = 'click'
    """,
    "adv_asof_join_last_click": """
        WITH ev AS (
            SELECT event_id, user_id, ts, event_type FROM events
            WHERE event_type IN ('click', 'purchase')
        ),
        carried AS (
            SELECT event_id, user_id, ts, event_type,
                   last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS last_click_ts
            FROM ev
        )
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, last_click_ts
        FROM carried WHERE event_type = 'purchase'
    """,
    "adv_range_join_price_bands": f"""
        WITH bands AS (
            SELECT b AS band,
                   CAST(b * {BAND_WIDTH} AS DOUBLE) AS lo,
                   CAST((b + 1) * {BAND_WIDTH} AS DOUBLE) AS hi
            FROM range({N_BANDS}) t(b)
        )
        SELECT band, lo, hi,
               CAST(count(*) AS BIGINT) AS n_orders,
               floor((CAST(sum(CAST(floor(o_totalprice * 10000.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
                      / 10000.0) * 100.0 + 0.5) / 100.0 AS total_price
        FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band, lo, hi
    """,
    "adv_correlated_subquery_small_qty": """
        SELECT CAST(count(*) AS BIGINT) AS n_items,
               floor((CAST(sum(CAST(floor(l_extendedprice * 10000.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
                      / 10000.0) * 100.0 + 0.5) / 100.0 AS total_price
        FROM lineitem l1
        WHERE l_quantity < (
            SELECT 0.5 * avg(l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l1.l_partkey
        )
    """,
    "adv_grouping_sets_revenue": """
        SELECT r_name, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               floor((CAST(sum(CAST(floor(o_totalprice * 10000.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
                      / 10000.0) * 100.0 + 0.5) / 100.0 AS total_price
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (o_orderpriority), ())
    """,
    "adv_pivot_segment_priority": """
        SELECT c_mktsegment,
               CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
               CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS n_high,
               CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS n_medium,
               CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS n_not_specified,
               CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS n_low
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
}
