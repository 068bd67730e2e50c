"""Relational operator library over the star schema (SURVEY.md §2c gap-fill).

The reference has NO joins, windows, sorts, set ops, or scalar-function
operators — its only inter-record operation is group-by-key (reference
``src/mr/worker.go:201-210``; SURVEY §2c). Each query here fills one
capability category, expressed declaratively so Catalyst applies
predicate pushdown, column pruning, and join-strategy selection.

Scale notes baked into every query:
- dimension joins (region/nation/supplier/part) are explicitly
  ``F.broadcast`` — no shuffle of the fact table for dim lookups;
- aggregates are plain ``groupBy().agg`` — Spark does map-side partial
  aggregation automatically (the reference has no combiner at all);
- money aggregates are rounded at the END (display concern), never
  before aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mit_map_reduce_spark.functions.columns import (
    hex_int,
    money_avg,
    money_grains,
    money_sum,
    round_half_up,
    sql_hex_int,
    sql_money_avg,
    sql_money_grains,
    sql_money_sum,
    sql_round,
)
from mit_map_reduce_spark.catalog import load_table
from mit_map_reduce_spark.functions.rank import distributed_prefix


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# --- aggregation: TPC-H Q1 shape (full-scan agg, 8 aggregates) ---------


def rel_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum("l_quantity", 2).alias("sum_qty"),
            money_sum("l_extendedprice", 2).alias("sum_base_price"),
            money_sum(disc_price, 2).alias("sum_disc_price"),
            money_sum(disc_price * (1 + F.col("l_tax")), 2).alias("sum_charge"),
            money_avg("l_quantity", 4).alias("avg_qty"),
            money_avg("l_extendedprice", 4).alias("avg_price"),
            money_avg("l_discount", 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --- join + agg + top-k: TPC-H Q3 shape --------------------------------


def rel_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp"))
    # customer is the small side after the segment filter -> broadcast;
    # orders-lineitem is the big join and shuffles on the order key.
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


# --- 6-way join: TPC-H Q5 shape ----------------------------------------


def rel_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue")
    )


# --- window: top-k per group -------------------------------------------


def rel_topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (
        part.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", round_half_up("p_retailprice", 2).alias("p_retailprice"), "rnk")
    )


# --- window: running aggregate -----------------------------------------


def rel_window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        round_half_up(
            F.sum(money_grains("o_totalprice")).over(w).cast("double") / 1e4, 2
        ).alias("running_spend"),
    )


# --- set operations ----------------------------------------------------


def rel_setops_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    rich = cust.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("k"))
    big = orders.filter(F.col("o_totalprice") > 100000).select(F.col("o_custkey").alias("k"))
    parts = [
        ("union", rich.union(big).distinct()),
        ("intersect", rich.intersect(big)),
        ("except", rich.subtract(big)),  # EXCEPT (set semantics), like SQL
    ]
    out = None
    for op, df in parts:
        one = df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")
        out = one if out is None else out.unionAll(one)
    return out


def rel_setops_all_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (ALL) set operations — unionAll / intersectAll /
    exceptAll keep duplicates, unlike the set-semantics variants above.
    Counted over customer-keys-with-orders, where duplicates exist."""
    orders = _t(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 100000).select(F.col("o_custkey").alias("k"))
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(F.col("o_custkey").alias("k"))
    parts = [
        ("union_all", big.unionAll(urgent)),
        ("intersect_all", big.intersectAll(urgent)),
        ("except_all", big.exceptAll(urgent)),
    ]
    out = None
    for op, df in parts:
        one = df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")
        out = one if out is None else out.unionAll(one)
    return out


# --- semi / anti joins --------------------------------------------------


def rel_anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no URGENT order — the complement of the semi
    join below. (Predicate on the filtered order set: in this synthetic
    data every customer has *some* order, which would make the
    unfiltered anti join vacuously empty.)"""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_nationkey"
    )


def rel_semi_join_urgent_buyers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


# --- scalar functions: JSON + date + math over events ------------------


def rel_scalar_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy(F.col("event_type"), F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            money_sum("value", 2).alias("total_value"),
            round_half_up(F.avg(k), 4).alias("avg_k"),
            F.max(k).alias("max_k"),
        )
    )


def rel_scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function coverage in one projection: case, pad, reverse,
    replace, substring, length, concat — all codegen'd, map-side."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.initcap("p_name").alias("name_title"),
        F.reverse("p_name").alias("name_rev"),
        F.lpad(F.col("p_brand"), 12, "*").alias("brand_padded"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.substring("p_type", 1, 3).alias("type_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
    )


def rel_scalar_date_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part + math scalar coverage over orders: year/quarter/
    month/day/weekday extraction and sqrt/pow/abs/log10 arithmetic.
    weekday() is 0=Monday in Spark, matching DuckDB's isodow - 1."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.quarter("o_orderdate").alias("q"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.weekday("o_orderdate").alias("wd"),
        round_half_up(F.sqrt("o_totalprice"), 4).alias("sqrt_price"),
        round_half_up(F.log10("o_totalprice"), 4).alias("log10_price"),
        round_half_up(F.pow(F.col("o_totalprice") / 100000.0, 2.0), 4).alias("price_sq"),
    )


def rel_array_funcs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function coverage over the ``array<float>`` embedding
    column: size, slice, element max/min, sort, and a filtered count —
    all map-side Catalyst higher-order functions.

    Array-valued outputs are rendered to a '|'-joined fixed-format
    string (the same canonicalization rel_map_funcs_priority_profile
    uses for maps): the differential harness sorts/hashes result cells
    with pandas, which cannot hash raw list cells.
    """
    emb = _t(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    head3 = F.array_join(
        F.transform(
            F.slice(as_double, 1, 3),
            lambda x: F.format_string("%.4f", round_half_up(x, 4)),
        ),
        "|",
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        head3.alias("head3"),
        round_half_up(F.array_max(as_double), 4).alias("max_v"),
        round_half_up(F.array_min(as_double), 4).alias("min_v"),
        F.size(F.filter(as_double, lambda x: x > 0)).alias("n_positive"),
        round_half_up(F.element_at(F.array_sort(as_double), -1), 4).alias("sorted_last"),
    )


def rel_unpivot_nation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-nation aggregates to long
    (nationkey, metric, value) — the inverse of pivot, for feeding
    metric stores that want one row per measurement."""
    cust = _t(spark, sf_dir, "customer")
    wide = cust.groupBy("c_nationkey").agg(
        F.count("*").cast("double").alias("n_customers"),
        money_sum("c_acctbal", 2).alias("total_bal"),
        money_avg("c_acctbal", 4).alias("avg_bal"),
    )
    return wide.unpivot(
        ids=["c_nationkey"],
        values=["n_customers", "total_bal", "avg_bal"],
        variableColumnName="metric",
        valueColumnName="value",
    )


def rel_map_funcs_priority_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType coverage: per segment, a priority->count map built with
    map_from_entries, transformed with transform_values (share of
    total), and canonicalized back to an entries string (maps are
    unordered — order is pinned before the map is built so the oracle
    can reproduce the rendering)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    counts = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    per_seg = counts.groupBy("c_mktsegment").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("o_orderpriority", "n")))
        ).alias("m"),
        F.sum("n").alias("total"),
    )
    share_map = F.transform_values(
        F.col("m"), lambda _k, v: round_half_up(v.cast("double") / F.col("total"), 4)
    )
    # %.4f: fixed-width C-style formatting, identical in both engines
    # (bare double-to-string shortest-repr rendering is not guaranteed
    # identical between Java 17 and DuckDB)
    rendered = F.array_join(
        F.transform(
            F.map_entries(share_map),
            lambda e: F.concat_ws("=", e["key"], F.format_string("%.4f", e["value"])),
        ),
        ",",
    )
    return per_seg.select(
        "c_mktsegment", F.col("total").alias("n_orders"), rendered.alias("priority_shares")
    )


# --- rollup ------------------------------------------------------------


def rel_rollup_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        money_sum("c_acctbal", 2).alias("total_acctbal"),
    )


# --- distinct aggregates ------------------------------------------------


def rel_distinct_aggs_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("n_buyers"),
            F.count("*").alias("n_orders"),
            money_avg("o_totalprice", 2).alias("avg_order_value"),
        )
    )


# --- outer joins --------------------------------------------------------


def rel_q13_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of order counts per customer,
    LEFT OUTER so zero-order customers land in the c_count=0 bucket.

    The outer join shuffles on the customer key; the double aggregation
    is two cheap reshuffles of already-tiny intermediates.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))  # count skips nulls
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def rel_full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: per-nation counts of high-balance customers vs
    high-balance suppliers — nations present on only one side survive
    with nulls (the reconciliation-report join shape)."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_rich_customers"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_rich_suppliers"))
    )
    return (
        cust.join(supp, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"), "n_rich_customers", "n_rich_suppliers"
        )
    )


# --- group-filter (HAVING) + join-back: TPC-H Q18 shape -----------------

BIG_ORDER_QTY = 150.0


def rel_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a
    threshold, with customer attribution.

    The HAVING filter runs on the aggregated (small) side BEFORE the
    join back to orders/customer — semi-join on a filtered aggregate,
    never the raw fact table twice.
    """
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(round_half_up(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > BIG_ORDER_QTY)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            round_half_up("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


# --- scalar subquery + anti join: TPC-H Q22 shape -----------------------


def rel_q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance
    and NO orders, rolled up per nation.

    The scalar average is one tiny aggregate broadcast into the filter
    (crossJoin of a 1-row DataFrame — no shuffle); the no-urgent-orders
    predicate is a left-anti join (unfiltered "no orders" is vacuous in
    this synthetic data — every customer has orders).
    """
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    # Exact-grain average: the avg feeds a row-membership comparison, so
    # a float-summation-order ulp would flip which customers qualify.
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(money_grains("c_acctbal")).cast("double") / 1e4 / F.count("c_acctbal")
        ).alias("avg_bal")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    idle = rich.join(urgent, rich.c_custkey == urgent.o_custkey, "left_anti")
    return idle.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        money_sum("c_acctbal", 2).alias("total_acctbal"),
    )


# --- nation-pair trade: TPC-H Q7 shape ----------------------------------

TRADE_NATIONS = ("NATION_3", "NATION_7")


def rel_q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations per year,
    both directions.

    The nation dimension joins TWICE under different aliases (supplier
    side / customer side) — both broadcast; the symmetric pair filter
    applies post-join on broadcast columns, so the fact table shuffles
    only for the orders join.
    """
    n1, n2 = TRADE_NATIONS
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nat_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat_s), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(nat_c), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.count("*").alias("n_items"),
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("volume"),
    )


# --- correlated EXISTS with cross-table predicate: TPC-H Q4 shape --------

LATE_DAYS = 90


def rel_q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one late lineitem, counted
    per priority.

    The correlated EXISTS becomes a left-semi join whose condition
    spans BOTH tables (l_shipdate > o_orderdate + interval) — the
    predicate rides the join, so each order is emitted at most once
    regardless of how many lineitems are late. One fact-fact shuffle on
    the order key; the count is a tiny 5-row aggregate.
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_late_orders"))


# --- NOT IN exclusion + distinct count: TPC-H Q16 shape ------------------

Q16_MIN_BAL = 500.0


def rel_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers ship each
    (brand, type), excluding a NOT-IN supplier set (low-balance
    suppliers standing in for Q16's complaints subquery).

    NOT IN over a non-nullable key = broadcast left-anti join (the
    exclusion list is dimension-sized); the distinct count shuffles
    (brand, type, suppkey) triples once.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    excluded = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < Q16_MIN_BAL
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(excluded), li.l_suppkey == excluded.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --- correlated min over a dim subquery: TPC-H Q2 shape ------------------

Q2_REGION = "EUROPE"
Q2_PTYPE = "PROMO"
Q2_MAX_SIZE = 10


def rel_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the supplier in a
    region offering it at the minimum cost (correlated-min subquery).

    There is no partsupp table in this schema, so the part-supplier
    cost relation derives from lineitem: cost(part, supp) = min unit
    price ever shipped. The correlated ``cost = (SELECT min ...)``
    becomes a per-part min aggregate joined back on equality — min over
    doubles is order-independent, so the float equi-join is exact on
    both engines. Dims (part-filter, supplier, nation, region)
    broadcast; the only fact shuffle is the (partkey, suppkey) agg.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == Q2_PTYPE) & (F.col("p_size") <= Q2_MAX_SIZE)
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == Q2_REGION)
    eligible_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(eligible_supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    )
    min_cost = cost.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("cost").alias("min_cost")
    )
    return (
        cost.join(
            min_cost,
            (cost.p_partkey == min_cost.mk) & (cost.cost == min_cost.min_cost),
        )
        .select(
            round_half_up("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            round_half_up("cost", 4).alias("supply_cost"),
        )
    )


# --- two-level agg + conditional sum: TPC-H Q8 shape ---------------------

Q8_REGION = "AMERICA"
Q8_NATION = "NATION_3"
Q8_PTYPE = "ECONOMY"


def rel_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: the market share of one supplier nation within a
    customer region, per year — a conditional sum over a grouped sum.

    Inner level: revenue per (year, supplier nation) for qualifying
    orders (customer in region, part type filter). Outer level: share =
    sum(volume WHERE nation = X) / sum(volume) per year. The true dims
    (part/nation/region/supplier) are hint-broadcast; orders and
    customer are fact-sized at scale (15 M rows per TPC-H SF), so the
    plan carries two fact-side shuffle joins plus the tiny year agg —
    at test SF, AQE converts them to broadcasts on its own.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == Q8_PTYPE)
    nat_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    nat_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat_c), cust.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat_s), supp.s_nationkey == F.col("s_nk"))
    )
    # Both the share's numerator and denominator accumulate exact
    # grains, so the ratio is summation-order-invariant cross-engine.
    vol_g = money_grains(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    zero_g = F.lit(0).cast("decimal(38,0)")
    per_year = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == Q8_NATION, vol_g).otherwise(zero_g)).alias("nation_g"),
        F.sum(vol_g).alias("total_g"),
    )
    return per_year.select(
        "o_year",
        round_half_up(
            F.col("nation_g").cast("double") / F.col("total_g").cast("double"), 4
        ).alias("mkt_share"),
        round_half_up(F.col("total_g").cast("double") / 1e4, 2).alias("total_volume"),
    )


# --- pure filter-aggregate: TPC-H Q6 shape -------------------------------


def rel_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue delta from a what-if discount change —
    a single filtered scan with every predicate pushable, no join at
    all. The optimizer-floor query: the plan must be scan -> filter ->
    partial agg -> 1-row final agg, nothing else.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.02, 0.04))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count("*").alias("n_items"),
            money_sum(F.col("l_extendedprice") * F.col("l_discount"), 2).alias("revenue"),
        )
    )


# --- conditional-sum percentage: TPC-H Q14 shape -------------------------


def rel_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: the PROMO part types' share of one month's
    revenue — conditional sum over total sum in a single aggregate
    (no second pass, no self-join), part dim broadcast.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev_g = money_grains(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    zero_g = F.lit(0).cast("decimal(38,0)")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        round_half_up(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev_g).otherwise(zero_g)).cast("double")
            / F.sum(rev_g).cast("double"),
            4,
        ).alias("promo_share_pct"),
        round_half_up(F.sum(rev_g).cast("double") / 1e4, 2).alias("total_revenue"),
    )


# --- disjunctive join predicates: TPC-H Q19 shape ------------------------


def rel_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of conjunctive
    (brand, size, quantity) clauses.

    The join itself stays a plain equi-join on the part key — the
    disjunction is a post-join filter, NOT part of the join condition,
    so Catalyst keeps the hash join (a disjunctive join condition
    degenerates to nested-loop). The common conjunct (the part-key
    match) is what Q19 tests an optimizer on.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 20))
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & (F.col("p_size").between(10, 30))
            & (F.col("l_quantity").between(10, 40))
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size").between(20, 50))
            & (F.col("l_quantity").between(20, 50))
        )
    )
    return joined.filter(clause).agg(
        F.count("*").alias("n_items"),
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"),
    )


# --- nested EXISTS / NOT EXISTS: TPC-H Q21 shape --------------------------

Q21_NATION_KEY = 5


def rel_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers in one nation whose lineitem was LATE
    on a multi-supplier order where every OTHER supplier shipped on
    time — EXISTS(other supplier) AND NOT EXISTS(other late supplier).

    Late = shipped more than LATE_DAYS after the order date (this
    schema has no commit/receipt dates). Both correlated subqueries
    become self-joins of the lineitem-order relation on the order key:
    EXISTS -> left-semi, NOT EXISTS -> left-anti, each with the
    "different supplier" predicate riding the join.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") == Q21_NATION_KEY
    )
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAYS")).alias("late"),
    )
    mine = lo.filter(F.col("late")).select("l_orderkey", "l_suppkey")
    others = lo.select(
        F.col("l_orderkey").alias("o_key"),
        F.col("l_suppkey").alias("o_supp"),
        "late",
    )
    with_others = mine.join(
        others,
        (F.col("l_orderkey") == F.col("o_key")) & (F.col("l_suppkey") != F.col("o_supp")),
        "left_semi",
    )
    no_other_late = with_others.join(
        others.filter(F.col("late")),
        (F.col("l_orderkey") == F.col("o_key")) & (F.col("l_suppkey") != F.col("o_supp")),
        "left_anti",
    )
    return (
        no_other_late.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


# --- MERGE / upsert ------------------------------------------------------

PREMIUM_BAL = 8000.0


def rel_merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics as DataFrame ops: apply an updates batch to the
    customer dimension — matched rows update (high-balance customers
    re-segmented), unmatched update rows insert (suppliers onboarded as
    customers under an offset key space).

    WHEN MATCHED = left join + coalesce; WHEN NOT MATCHED = unionByName.
    The update batch is a constant fraction of the *fact-sized* table,
    so it is NOT broadcast — the merge shuffles both sides on the merge
    key once (or rides bucketing); no table format needed for the
    semantics. The updates batch here derives deterministically from
    the same tables so the oracle can reproduce the merged state.
    """
    cust = _t(spark, sf_dir, "customer")
    updates = cust.filter(F.col("c_acctbal") > PREMIUM_BAL).select(
        F.col("c_custkey").alias("k"), F.lit("PREMIUM").alias("new_segment")
    )
    updated = cust.join(updates, cust.c_custkey == updates.k, "left").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        round_half_up("c_acctbal", 2).alias("c_acctbal"),
        F.coalesce("new_segment", "c_mktsegment").alias("c_mktsegment"),
    )
    inserted = _t(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") + 1_000_000).alias("c_custkey"),
        F.col("s_name").alias("c_name"),
        F.col("s_nationkey").alias("c_nationkey"),
        round_half_up("s_acctbal", 2).alias("c_acctbal"),
        F.lit("SUPPLIER").alias("c_mktsegment"),
    )
    return updated.unionByName(inserted)


# --- cube ---------------------------------------------------------------


def rel_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderpriority, orderstatus): all 4 grouping
    combinations in one pass — Spark expands the groupings map-side,
    so the input is still scanned once."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        money_sum("o_totalprice", 2).alias("total_price"),
    )


# --- skew-safe two-stage (salted) aggregation ---------------------------

N_SALTS = 16


BUCKET_JOIN_MIN_QTY = 150


def bucketed_scratch_base(sf_dir: str) -> str:
    """Shared scratch warehouse path for the bucketed lineitem/orders
    copies — keyed by corpus CONTENT, not just path, so regenerated
    testdata invalidates the layout (catalog.corpus_fingerprint), and
    by the publish protocol's revision (catalog.PUBLISH_REV).
    Exposed as a helper so tests assert against the code's actual key
    recipe instead of re-deriving it."""
    import hashlib
    import os

    from mit_map_reduce_spark.catalog import PUBLISH_REV, corpus_fingerprint, scratch_base

    fp = corpus_fingerprint(sf_dir, "lineitem", "orders")
    key = f"{os.path.abspath(sf_dir)}|{fp}|{PUBLISH_REV}"
    tag = hashlib.md5(key.encode()).hexdigest()[:8]
    return os.path.join(scratch_base(), "mmrs_bucketed", tag)


def rel_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join on BUCKETED layout — the zero-exchange join at
    100 TB, exposed as a query (the plan property itself is pinned in
    tests/test_bucketing.py).

    Neither lineitem nor orders can broadcast at scale; bucketing both
    on the join key at write time pre-shuffles them ONCE (the ingest-
    time cost a warehouse pays), after which this join AND the
    same-key aggregation plan with no exchange at all. The bucketed
    copies are written once per corpus into a shared scratch warehouse
    path through ``catalog.publish_once``; every session (this one on
    later calls, or a later one) registers an external ``CLUSTERED BY``
    table over the published files instead of rewriting them. Values
    are identical to the plain-layout join, which is exactly what the
    oracle checks — bucketing must change the plan, never the answer.
    """
    import os

    from mit_map_reduce_spark.catalog import publish_once
    from mit_map_reduce_spark.sources.io import write_parquet

    base = bucketed_scratch_base(sf_dir)
    tag = os.path.basename(base)
    t_li, t_ord = f"b_lineitem_{tag}", f"b_orders_{tag}"

    def _ensure(name: str, sub: str, df: DataFrame, key: str) -> None:
        # Each table is published and registered INDEPENDENTLY: a
        # writer that died between the pair must not force a rewrite of
        # the complete half a concurrent session may be registered over.
        if spark.catalog.tableExists(name):
            return

        def write(d: str) -> None:
            # bucketBy needs saveAsTable; the temp table is external, so
            # dropping it leaves the files for publish_once to rename.
            tmp_table = f"{name}_{os.path.basename(d).replace('.', '_')}"
            write_parquet(df, d, bucket_by=(8, [key]), table_name=tmp_table)
            spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")

        path = publish_once(write, os.path.join(base, sub))
        # The files carry bucket ids in their names, so the CLUSTERED BY
        # metadata reattaches losslessly over the published dir.
        ddl = df._jdf.schema().toDDL()
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({ddl}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO 8 BUCKETS "
            f"LOCATION '{path}'"
        )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    _ensure(t_li, "li", li, "l_orderkey")
    _ensure(t_ord, "ord", orders, "o_orderkey")
    a, b = spark.table(t_li), spark.table(t_ord)
    joined = a.join(b, a.l_orderkey == b.o_orderkey)
    return (
        joined.groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").alias("total_qty"),
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"),
            F.max("o_totalprice").alias("header_price"),
        )
        .filter(F.col("total_qty") >= BUCKET_JOIN_MIN_QTY)
        .select(
            "l_orderkey",
            "total_qty",
            "revenue",
            round_half_up("header_price", 2).alias("header_price"),
        )
    )


def rel_salted_agg_events_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-skew aggregation via salting: events per event_type where
    the key space is tiny (5 types), so a naive groupBy sends ~1/5 of a
    100 TB table through 5 reducers.

    Two-stage plan: stage 1 aggregates on (event_type, salt) — 16-way
    fan-out restores parallelism; stage 2 combines the 16 partials per
    key. Sums/counts recombine exactly; avg is derived from them at the
    end, never averaged across salts. (AQE's skew handling covers join
    skew; low-cardinality *aggregation* keys need this restructuring.)
    The salt column must be deterministic here for the differential
    test (md5 of event_id), but any uniform value works in production.
    """
    ev = _t(spark, sf_dir, "events")
    salt = hex_int(F.md5(F.col("event_id").cast("string")), 2).cast("int") % N_SALTS
    # Grain accumulation makes the two-stage sum recombine EXACTLY —
    # integer partials are associative, so salting cannot change the
    # answer by even an ulp (floats only promise that approximately).
    partial = (
        ev.withColumn("salt", salt)
        .groupBy("event_type", "salt")
        .agg(F.count("*").alias("n"), F.sum(money_grains("value")).alias("sv_g"))
    )
    return partial.groupBy("event_type").agg(
        F.sum("n").alias("n_events"),
        round_half_up(F.sum("sv_g").cast("double") / 1e4, 2).alias("total_value"),
        round_half_up(
            F.sum("sv_g").cast("double") / 1e4 / F.sum("n"), 4
        ).alias("avg_value"),
    )


# --- profit decomposition: TPC-H Q9 shape --------------------------------


def rel_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per (supplier nation, order year) for
    parts matching a name substring — revenue minus a cost term,
    decomposed along two dims of a multi-way join.

    The testdata has no partsupp table, so cost uses the part's list
    price (p_retailprice * quantity * 0.6) instead of ps_supplycost —
    same join graph and agg shape as Q9 (reference has no relational
    surface at all; TPC-H spec Q9 is the model). part/supplier/nation
    broadcast; lineitem shuffles once for the orders join, then the
    tiny (nation x year) agg.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("a"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * 0.6
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    # money_grains: the subtraction makes this sum cancellation-prone —
    # the round-3 driver red row was exactly this query flipping a cent
    # in 2 of 175 groups on float summation order.
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(money_sum(profit, 2).alias("sum_profit"))
    )


# --- join + top-k customers: TPC-H Q10 shape ------------------------------


def rel_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the 20 customers who returned the most revenue
    in a quarter — fact-fact join, dim enrich, top-k by aggregate.

    Orders prune to one quarter BEFORE the join (predicate pushdown to
    the scan); returnflag prunes lineitem the same way; nation
    broadcasts. Ties on revenue break by c_custkey so the limit is
    deterministic in both engines.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name", "c_mktsegment")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"),
            round_half_up(F.first("c_acctbal"), 2).alias("c_acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --- value-share HAVING vs scalar total: TPC-H Q11 shape ------------------


def rel_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value exceeds a fixed
    fraction of the global total — a per-group agg HAVING-compared
    against a scalar-subquery total.

    (No partsupp table in the testdata: value = sum of extendedprice
    per part over lineitem; the threshold is 1.5x the MEAN part value —
    TPC-H's literal 0.0001/SF fraction is scale-dependent and returns
    nothing at small SF, so the scale-free form keeps the same
    two-level agg + scalar broadcast shape while being non-vacuous at
    every SF.) The global total is a 1-row aggregate cross-joined
    (broadcast) into the HAVING filter — never a driver-side collect;
    both levels reuse ONE scan lineage.
    """
    li = _t(spark, sf_dir, "lineitem")
    # Grain accumulation end-to-end: the HAVING threshold compares two
    # sums, so row MEMBERSHIP (not just display) must be order-invariant.
    per_part = li.groupBy("l_partkey").agg(
        F.sum(money_grains("l_extendedprice")).alias("pv_g")
    )
    total = per_part.agg(
        F.sum("pv_g").alias("total_g"), F.count("*").alias("n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("pv_g").cast("double")
            > 1.5 * F.col("total_g").cast("double") / F.col("n_parts")
        )
        .select(
            "l_partkey",
            round_half_up(F.col("pv_g").cast("double") / 1e4, 2).alias("part_value"),
            round_half_up(
                F.col("pv_g").cast("double") / F.col("total_g").cast("double"), 6
            ).alias("share"),
        )
    )


# --- conditional counts by class: TPC-H Q12 shape -------------------------


def rel_q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: for late shipments (> 90 days after the order
    date), count critical- vs normal-priority orders per line status —
    the CASE-sum pivot over a fact-fact join.

    (The testdata lineitem has no shipmode column; l_linestatus plays
    the grouping role, the priority CASE-sums are verbatim Q12.) The
    late filter runs on the joined row (it references both tables);
    everything else pushes to the scans.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_linestatus").agg(
        F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~crit, 1).otherwise(0)).alias("low_line_count"),
    )


# --- agg vs its own max (top-1 group): TPC-H Q15 shape --------------------


def rel_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with the maximum revenue over a
    quarter — an aggregate compared against the max of the same
    aggregate (the view + scalar subquery formulation).

    The per-supplier revenue is computed once; its 1-row max is
    broadcast back (no second scan of lineitem, no driver collect).
    Equality compares the engine's own sums against the engine's own
    max, so cross-engine float ulps cancel.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = li.groupBy("l_suppkey").agg(
        F.sum(money_grains(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev_g")
    )
    top = revenue.agg(F.max("rev_g").alias("max_g"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("rev_g") == F.col("max_g"))  # exact integer equality
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            round_half_up(F.col("rev_g").cast("double") / 1e4, 2).alias("total_revenue"),
        )
    )


# --- correlated avg over a windowed single scan: TPC-H Q17 shape ----------

Q17_BRAND = "Brand#3"
Q17_MAX_SIZE = 15
Q17_QTY_FRACTION = 0.2


def rel_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    orders for one brand's small parts were no longer taken — the
    correlated scalar subquery ``l_quantity < 0.2 * avg(l_quantity per
    part)``.

    (This schema has no p_container; p_size < {Q17_MAX_SIZE} plays the
    container filter's role.) Instead of the textbook two-scan plan
    (one lineitem pass for the per-part averages, a second for the
    outer filter), the correlated average is a window over l_partkey on
    the part-filtered stream: ONE lineitem scan, one shuffle on the
    part key, and the tiny part filter rides a broadcast join. The
    comparison is float-stable across engines because l_quantity values
    are integral doubles — the per-part sums are exact, so both engines
    compute bit-identical averages.

    Reference analog: the two-phase grouped aggregation is the same
    map-shuffle-reduce shape as the wc pipeline (reference
    src/mrapps/wc.go:19-40); the correlated comparison is the extension.
    """
    part_f = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_brand") == Q17_BRAND) & (F.col("p_size") < Q17_MAX_SIZE))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(part_f), F.col("l_partkey") == F.col("p_partkey")
    )
    w = W.partitionBy("l_partkey")
    small = li.withColumn("part_avg_qty", F.avg("l_quantity").over(w)).filter(
        F.col("l_quantity") < Q17_QTY_FRACTION * F.col("part_avg_qty")
    )
    return small.agg(
        round_half_up(
            F.sum(money_grains("l_extendedprice")).cast("double") / 1e4 / 7.0, 2
        ).alias("avg_yearly")
    )


# --- nested agg + relative HAVING + semi-join: TPC-H Q20 shape ------------

Q20_NAME_PREFIX = "small%"
Q20_EXCESS_FACTOR = 2.0
Q20_MIN_EXCESS_PARTS = 2


def rel_q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding excess stock of promo-named
    parts — the nested IN-subquery chain (part filter -> grouped
    lineitem agg -> HAVING -> supplier semi-join).

    (No partsupp/ps_availqty in this schema, and TPC-H's absolute
    ``0.5 * sum(qty)`` threshold is scale-dependent; the scale-free
    adaptation keeps the nested shape: a supplier qualifies when its
    shipped quantity of a part exceeds {Q20_EXCESS_FACTOR}x the
    average supplier's flow for that part, on at least
    {Q20_MIN_EXCESS_PARTS} distinct parts.) Plan: the date filter
    pushes to the lineitem scan, the part-name filter rides a
    broadcast join, one shuffle on (suppkey, partkey) with map-side
    partial aggregation, a per-part average over the (already tiny)
    pair relation, and the qualifying-supplier set broadcasts into the
    final supplier semi-join. The relative comparison is float-stable:
    quantity sums are integral doubles, exact in both engines.
    """
    part_f = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like(Q20_NAME_PREFIX))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    pairs = (
        li.join(F.broadcast(part_f), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    part_avg = pairs.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("qty").alias("part_avg")
    )
    excess = (
        pairs.join(part_avg, pairs.l_partkey == F.col("pk"))
        .filter(F.col("qty") > Q20_EXCESS_FACTOR * F.col("part_avg"))
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_excess_parts"))
        .filter(F.col("n_excess_parts") >= Q20_MIN_EXCESS_PARTS)
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        supp.join(F.broadcast(excess), supp.s_suppkey == excess.l_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation"),
            "n_excess_parts",
        )
    )


# --- native DecimalType money path (round 4) -----------------------------


def rel_decimal_sum_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native DecimalType end-to-end: order totals cast to
    DECIMAL(18,2) at the scan and summed as decimals — the exact-money
    type TPC-H specifies, shipped alongside the grain-sum discipline
    (functions.columns.money_grains) the float-column queries use.
    The testdata stores money as 2-dp doubles; casting such a double
    to DECIMAL(18,2) recovers the exact cents in both engines (the
    double is within 1e-12 of the decimal value, far inside the cast's
    rounding). Decimal sums are order-invariant by definition; the
    result returns as double (exact, the sum is far below 2^53 cents)
    so the driver's hash comparison sees identical primitives.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(dec).cast("double").alias("total_price"),
            F.min(dec).cast("double").alias("min_price"),
            F.max(dec).cast("double").alias("max_price"),
        )
    )


# --- cumulative-share window (Pareto) (round 4) ---------------------------


def rel_window_cumulative_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / cumulative-share analysis: suppliers ranked by revenue
    within their nation, with each supplier's running share of the
    nation's total — "the top N suppliers carry X% of revenue".

    Revenue accumulates as integer grains, so the running numerator
    and the per-nation denominator are BOTH exact — the running-share
    double is then identical across engines and partitionings (a
    float running sum would drift by summation order). One shuffle for
    the per-supplier agg, one window sort per nation partition.
    """
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(money_grains(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev_g"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("l_suppkey", "n_name", "rev_g")
    )
    w_run = (
        W.partitionBy("n_name")
        .orderBy(F.col("rev_g").desc(), "l_suppkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("n_name")
    return rev.select(
        F.col("l_suppkey").alias("s_suppkey"),
        F.col("n_name").alias("nation"),
        F.row_number().over(
            W.partitionBy("n_name").orderBy(F.col("rev_g").desc(), "l_suppkey")
        ).alias("rnk"),
        round_half_up(F.col("rev_g").cast("double") / 1e4, 2).alias("revenue"),
        round_half_up(
            F.sum("rev_g").over(w_run).cast("double")
            / F.sum("rev_g").over(w_all).cast("double"),
            6,
        ).alias("cum_share"),
    )


# --- salted skew join (round 4) ------------------------------------------

JOIN_SALTS = 8


def adv_salted_skew_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof dimension join via salting — the JOIN-side twin of
    ``rel_salted_agg_events_per_type``: the build side (customer dim)
    is replicated once per salt, the probe side (events) picks a
    deterministic salt per row, and the join key becomes
    (user_id, salt) — a single hot user's rows now spread across
    JOIN_SALTS partitions instead of melting one reducer.

    Values are identical to the plain join BY CONSTRUCTION (every
    probe row still meets exactly one copy of its build row), which is
    what the oracle asserts — the plain-join aggregate. AQE's skew
    split covers sort-merge joins after the fact; explicit salting is
    the portable form (and the only one for streaming state or
    pre-AQE engines). Replication cost: JOIN_SALTS x the dim size,
    fine for dimensions, never for fact-fact (use AQE there).
    """
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
    )
    salted_dim = cust.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(JOIN_SALTS)]))
    )
    probe_salt = hex_int(F.md5(F.col("event_id").cast("string")), 2).cast("int") % JOIN_SALTS
    joined = ev.withColumn("salt", probe_salt).join(
        salted_dim, ["user_id", "salt"]
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        money_sum("value", 2).alias("total_value"),
    )


TRIM_PCT = 10  # drop the top and bottom 10% of each group


def rel_trimmed_mean_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (trimmed) statistics per segment: the mean of customer
    account balances after dropping each segment's top and bottom
    TRIM_PCT% — the outlier-resistant aggregate a metrics pipeline
    uses when heavy tails make the plain mean lie. Order statistics
    need a defined total order: rows rank by (acctbal, custkey) so
    ties cut deterministically in both engines; the kept rows'
    balances then accumulate as integer money grains (order-invariant
    sum). Ranks ride the group-keyed two-pass distributed rank
    (``functions.rank``): range partitioning on (segment, acctbal,
    custkey) spreads each of the 5 hot segment groups across many
    partitions — no per-group single-task sort at any scale.
    """
    cust = load_table(spark, sf_dir, "customer")
    ranked = distributed_prefix(
        cust.select("c_mktsegment", "c_acctbal", "c_custkey"),
        ["c_acctbal", "c_custkey"],
        group_by=["c_mktsegment"],
        row_number="rn",
        total_count="n",
    )
    k = F.floor(F.col("n") * TRIM_PCT / 100).cast("int")
    kept = ranked.filter((F.col("rn") > k) & (F.col("rn") <= F.col("n") - k))
    return kept.groupBy("c_mktsegment").agg(
        F.max("n").alias("n_total"),
        F.count("*").alias("n_kept"),
        money_avg("c_acctbal", 4).alias("trimmed_mean"),
        money_sum("c_acctbal", 2).alias("kept_sum"),
    )


#: Profiled columns of ``orders`` with a printf format for the
#: min/max rendering (%s = render as-is / cast to string; %.2f = fixed
#: 2-dp numeric — printf semantics are C-identical in both engines,
#: unlike double->string casts, which Spark renders scientific).
_PROFILE_COLS = (
    ("o_orderkey", "%s"),
    ("o_custkey", "%s"),
    ("o_orderstatus", "%s"),
    ("o_totalprice", "%.2f"),
    ("o_orderdate", "ts"),  # explicit second-truncated format both sides
    ("o_orderpriority", "%s"),
)


def _profile_render(c: str, fmt: str, agg) -> "F.Column":
    if fmt == "ts":
        return F.date_format(agg(c), "yyyy-MM-dd HH:mm:ss")
    return F.format_string(fmt, agg(c))


def rel_table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data profiling of ``orders``: per column, non-null
    count, exact distinct count, and printf-rendered min/max — the
    first thing run against any new table (quality dashboards, schema
    drift alarms, join-key candidate discovery).

    Plan shape: one aggregation PER COLUMN, 1-row results combined by
    broadcast crossJoin, then unpivoted with ``stack`` into the long
    form. The single-wide-agg alternative makes Catalyst plan an
    EXPAND for the multiple exact COUNT(DISTINCT)s — every fact row
    duplicated once per distinct aggregate into one (columns+1)x-wide
    shuffle; measured 4x slower at sf0.1 (3.1 s vs 0.8 s), and worse
    at 100 TB, where each per-column pass instead prunes the parquet
    scan to ITS column and shuffles only that column's values (total
    bytes read match the one full-width scan — columnar storage makes
    N pruned passes free). A 100 TB profiler that can tolerate
    approximation swaps countDistinct for approx_count_distinct and
    collapses back to one pass (HLL registers, no EXPAND). min/max
    render through printf so both engines emit identical strings
    (double->string casts would not).
    """
    orders = load_table(spark, sf_dir, "orders")
    wide = None
    for c, fmt in _PROFILE_COLS:
        col_agg = orders.agg(
            F.count(c).alias(f"{c}__n"),
            F.countDistinct(c).alias(f"{c}__d"),
            _profile_render(c, fmt, F.min).alias(f"{c}__min"),
            _profile_render(c, fmt, F.max).alias(f"{c}__max"),
        )
        wide = col_agg if wide is None else wide.crossJoin(F.broadcast(col_agg))
    stack_args = []
    for c, _ in _PROFILE_COLS:
        stack_args += [
            F.lit(c),
            F.col(f"{c}__n"),
            F.col(f"{c}__d"),
            F.col(f"{c}__min"),
            F.col(f"{c}__max"),
        ]
    return wide.select(
        F.stack(
            F.lit(len(_PROFILE_COLS)),
            *stack_args,
        ).alias("column_name", "n_nonnull", "n_distinct", "min_value", "max_value")
    )


def rel_monthly_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the BI staple: revenue per
    calendar month plus percentage change against the previous month
    (NULL for the first).

    Revenue accumulates integer money grains (order-invariant); the
    MoM percentage divides two exact grain totals (one IEEE divide,
    4 dp half-up). The month rollup is one partial-aggregated shuffle
    on ~month-cardinality keys; the lag window runs over that tiny
    month-level frame, not the fact table.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_month = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(money_grains("o_totalprice")).alias("rev_grains"),
    )
    w = W.orderBy("month")
    prev = F.lag("rev_grains").over(w)
    return per_month.select(
        "month",
        "n_orders",
        round_half_up(F.col("rev_grains").cast("double") / 1e4, 2).alias("revenue"),
        round_half_up(
            (F.col("rev_grains") - prev).cast("double") / prev.cast("double"), 4
        ).alias("mom_pct"),
    )


def rel_price_balance_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between a customer's account balance and
    their total order spend, per market segment — the built-in
    ``corr()`` computed the EXACT way: both variables quantize to
    integer money grains per row, and all five correlation sums
    (Sx, Sy, Sxy, Sxx, Syy) accumulate those integers exactly, so the
    coefficient is a single deterministic expression of exact values.
    Engine-native corr() is a float Welford pass whose partial-merge
    order differs between Spark and DuckDB — the same class of bug as
    the round-3 q9 cent flip, at correlation scale.

    One customer-keyed aggregation builds (balance, spend) pairs; the
    five sums ride one segment-keyed rollup; grain products sum as
    decimal(38,0) Spark-side / HUGEINT oracle-side (~1e18 per product
    — 64-bit would overflow the sum; DuckDB's decimal multiply cannot
    widen past 38 digits, its 128-bit integer can). The FINISH then
    casts each exact sum to double once and evaluates the identical
    IEEE expression in both engines — deterministic because every
    input is exact and the expression tree matches; rounded 4 dp.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(money_grains("o_totalprice")).alias("gy")
    )
    pairs = (
        cust.join(spend, cust.c_custkey == spend.o_custkey)
        .select(
            "c_mktsegment",
            money_grains("c_acctbal").alias("gx"),
            F.col("gy"),
        )
    )
    sums = pairs.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum("gx").alias("sx"),
        F.sum("gy").alias("sy"),
        F.sum(F.col("gx").cast("decimal(38,0)") * F.col("gy")).alias("sxy"),
        F.sum(F.col("gx").cast("decimal(38,0)") * F.col("gx")).alias("sxx"),
        F.sum(F.col("gy").cast("decimal(38,0)") * F.col("gy")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    r = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return sums.select(
        "c_mktsegment",
        F.col("n").alias("n_customers"),
        round_half_up(r, 4).alias("pearson_r"),
    )


def rel_join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic for the fact-side supplier key — the
    report you run BEFORE deciding whether a join needs salting or an
    AQE skew split (the adv_salted_skew_join operator is the cure;
    this is the diagnosis): key cardinality, total rows, hottest-key
    and top-10 concentration shares, and the Gini coefficient of the
    per-key distribution.

    Exactness: per-key counts are integers; Gini uses the rank form
    G = (2*sum(i*c_i) - (n+1)*sum(c_i)) / (n*sum(c_i)) over counts
    sorted ascending with a total tie-break — every accumulator an
    exactly-summed integer, one IEEE finish. One fact-sized shuffle
    produces the key counts; the rank over the key-cardinality frame
    is the two-pass distributed rank (``functions.rank``) — stays
    partitioned even when the key space itself is huge. Shares divide
    exact integers, 4 dp half-up.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    counts = li.groupBy("l_suppkey").agg(F.count("*").alias("c"))
    ranked = distributed_prefix(
        counts,
        [F.col("c").asc(), F.col("l_suppkey").asc()],
        row_number="i",
        total_count="n",
    ).select("c", "i", "n")
    sums = ranked.agg(
        F.max("n").alias("n_keys"),
        F.sum("c").alias("total_rows"),
        F.max("c").alias("max_count"),
        F.sum(F.col("i") * F.col("c")).alias("sic"),
        F.sum(F.when(F.col("i") >= F.col("n") - 9, F.col("c"))).alias("top10"),
    )
    tot = F.col("total_rows").cast("double")
    gini = (
        2.0 * F.col("sic").cast("double")
        - (F.col("n_keys") + 1).cast("double") * tot
    ) / (F.col("n_keys").cast("double") * tot)
    return sums.select(
        "n_keys",
        "total_rows",
        "max_count",
        round_half_up(F.col("max_count").cast("double") / tot, 4).alias(
            "top1_share"
        ),
        round_half_up(F.col("top10").cast("double") / tot, 4).alias("top10_share"),
        round_half_up(gini, 4).alias("gini"),
    )


#: Benford expected share per leading digit, log10(1 + 1/d) — plane
#: constants computed driver-side (not engine math), embedded as
#: literals in both engines.
_BENFORD = {d: __import__("math").log10(1 + 1 / d) for d in range(1, 10)}


def rel_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals — the fraud/data-quality
    screen auditors run on financial columns (fabricated or
    template-generated values rarely follow the logarithmic
    leading-digit law; TPC-H's uniform generator visibly does not,
    which is exactly what the audit should say about synthetic data).

    The leading digit comes from the printf-rendered value's first
    character — a pure string operation both engines execute
    identically, immune to the log10-boundary ulp that
    floor(v/10^floor(log10 v)) risks. Expected shares are driver-side
    literals; observed share and the deviation (basis points) divide
    exact integer counts. One partial-aggregated shuffle on 9 keys.
    """
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(F.format_string("%.2f", F.col("o_totalprice")), 1, 1)
    counts = orders.groupBy(digit.cast("int").alias("digit")).agg(
        F.count("*").alias("n_orders")
    )
    total = F.sum("n_orders").over(W.partitionBy())
    share = F.col("n_orders").cast("double") / total
    expected = F.element_at(
        F.create_map(
            *[x for d, p in _BENFORD.items() for x in (F.lit(d), F.lit(p))]
        ),
        F.col("digit"),
    )
    return counts.select(
        "digit",
        "n_orders",
        round_half_up(share, 4).alias("share"),
        round_half_up(expected, 4).alias("benford_share"),
        round_half_up((share - expected) * 10000.0, 1).alias("deviation_bp"),
    )


def rel_revenue_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear revenue trend + naive next-month forecast — the BI
    baseline every dashboard draws before anyone reaches for a real
    model: OLS of monthly revenue over the month index, slope and
    intercept reported with the one-step-ahead projection.

    Exactness, the zipf-slope discipline end-to-end: x is the integer
    month index (dense rank over month-truncated dates — a total
    order), y is integer money grains; all five OLS accumulators are
    exactly-summed integers (decimal(38,0) — y grains reach 1e13 at
    sf0.1 and x*y products far exceed 2^63 summed), and slope /
    intercept / forecast are single IEEE expressions over the exact
    sums, identical in both engines. The regression runs on the
    month-level frame (per-month rollup first), never the fact table.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_month = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(F.sum(money_grains("o_totalprice")).alias("rev"))
    w = W.orderBy("month")
    xy = per_month.select(
        F.row_number().over(w).cast("decimal(38,0)").alias("x"),
        F.col("rev").alias("y"),
    )
    sums = xy.agg(
        F.count("*").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    k = F.col("k").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    intercept = (sy - slope * sx) / k
    forecast = intercept + slope * (k + 1.0)
    return sums.select(
        F.col("k").alias("n_months"),
        round_half_up(slope / 1e4, 2).alias("slope_per_month"),
        round_half_up(intercept / 1e4, 2).alias("intercept"),
        round_half_up(forecast / 1e4, 2).alias("next_month_forecast"),
    )


#: FK edges of the star schema: (edge label, child table, child key,
#: parent table, parent key, broadcast the parent?). orders is the one
#: parent too large to broadcast at scale.
_FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey", True),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey", True),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey", True),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey", True),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey", True),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey", True),
)


def rel_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: for every FK edge of the star
    schema, how many child rows point at a missing parent — the
    data-quality gate a warehouse load runs before publishing a batch
    (the reference has no constraints at all, so this is the absent
    integrity layer made explicit; reference src/mr/worker.go:18-21
    has only the untyped KeyValue pair).

    Each edge is ONE pass over the child: left join against the
    parent's distinct keys, conditional count. Dimension parents
    (nation/region/part/supplier/customer) broadcast — zero shuffle on
    the fact side; the lineitem->orders edge is the only shuffled hash
    join and AQE handles its skew. The seven per-edge single-row
    aggregates union into the audit report, so the whole audit is
    bounded by one scan per child table regardless of corpus size.
    """
    frames = []
    for label, child_t, ck, parent_t, pk, bcast in _FK_EDGES:
        child = load_table(spark, sf_dir, child_t).select(F.col(ck).alias("k"))
        parent = (
            load_table(spark, sf_dir, parent_t)
            .select(F.col(pk).alias("k"))
            .distinct()
            .withColumn("present", F.lit(1))
        )
        if bcast:
            parent = F.broadcast(parent)
        frames.append(
            child.join(parent, "k", "left").agg(
                F.lit(label).alias("fk_edge"),
                F.count("*").alias("child_rows"),
                F.count(F.when(F.col("present").isNull(), 1)).alias("orphan_rows"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.withColumn(
        "ok", F.col("orphan_rows") == F.lit(0)
    )


#: Incremental-maintenance cutoff: lineitem rows shipping before this
#: date play the "already materialized" history; the rest are the
#: freshly-arrived batch being merged in.
INCR_CUTOFF = "1998-01-01"


def rel_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: merge the partial
    aggregate state of the historical partition with a fresh batch's
    partial state instead of recomputing from scratch — the daily
    pattern behind every incrementally-maintained rollup table.

    The monthly revenue summary is kept as MERGEABLE state per month:
    (row count, integer money-grain sum, min, max). Both halves roll up
    independently (map-side partial aggregation within each), then one
    final aggregate over the unioned states — counts and grain sums add
    associatively, min/max compose, and avg derives from the merged
    sums, so the merge is exact in any order and at any number of
    increments. The oracle recomputes from the full fact table,
    proving merged-state == full-recompute. At 100 TB the history
    state is a few thousand rows — the fresh batch is the only data
    scanned per refresh.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit(INCR_CUTOFF).cast("timestamp")

    def partial_state(part: DataFrame) -> DataFrame:
        return part.groupBy(
            F.date_trunc("month", "l_shipdate").alias("month")
        ).agg(
            F.count("*").alias("n_items"),
            F.sum(money_grains("l_extendedprice")).alias("price_g"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )

    history = partial_state(li.filter(F.col("l_shipdate") < cutoff))
    fresh = partial_state(li.filter(F.col("l_shipdate") >= cutoff))
    merged = history.unionByName(fresh).groupBy("month").agg(
        F.sum("n_items").alias("n_items"),
        F.sum("price_g").alias("price_g"),
        F.min("min_price").alias("min_price"),
        F.max("max_price").alias("max_price"),
    )
    return merged.select(
        "month",
        "n_items",
        round_half_up(F.col("price_g").cast("double") / 1e4, 2).alias("total_price"),
        round_half_up(
            F.col("price_g").cast("double") / 1e4 / F.col("n_items").cast("double"), 2
        ).alias("avg_price"),
        round_half_up("min_price", 2).alias("min_price"),
        round_half_up("max_price", 2).alias("max_price"),
    )


def rel_seasonality_index_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality index — the BI-staple companion to
    the trend fit (``rel_revenue_trend_forecast``): for each calendar
    month 1..12, average revenue per occurrence of that month divided
    by the grand monthly average; an index of 1.10 reads "Decembers
    run 10% hot". (TPC-H's uniform generator should sit flat near
    1.00 — which is itself the audit result.)

    Exact-integer construction end-to-end: the fact table rolls up to
    (year, month) grains map-side first; the month-of-year layer sums
    those grains and counts occurrences; the two divisions to the
    index happen once, on exact sums, identically in both engines.
    The windowed grand totals run over a 12-row frame.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_ym = orders.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(F.sum(money_grains("o_totalprice")).alias("rev_g"))
    per_m = per_ym.groupBy("m").agg(
        F.count("*").alias("n_occurrences"),
        F.sum("rev_g").alias("rev_g"),
    )
    w = W.partitionBy()
    month_avg = F.col("rev_g").cast("double") / F.col("n_occurrences")
    grand_avg = F.sum("rev_g").over(w).cast("double") / F.sum("n_occurrences").over(w)
    return per_m.select(
        F.col("m").alias("month"),
        "n_occurrences",
        round_half_up(month_avg / 1e4, 2).alias("avg_monthly_revenue"),
        round_half_up(month_avg / grand_avg, 4).alias("seasonal_index"),
    )


#: Snapshot-diff synthesis rules (deterministic, engine-identical):
#: the "old" snapshot misses every 97th order (arrived later), the
#: "new" snapshot re-prices every 89th (status-change update).
DIFF_MISSING_MOD = 97
DIFF_CHANGED_MOD = 89


def rel_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-diff between two table snapshots — the reconciliation job
    every migration/replication pipeline runs (did the new loader
    produce the same table?): keys only in old (deleted), only in new
    (added), in both with different payloads (changed), identical.

    The two snapshots derive deterministically from orders (a late-
    arriving slice missing from old, a re-priced slice changed in
    new), then ONE full outer join on the key compares md5 row
    fingerprints — the payload never shuffles twice, only (key, hash)
    pairs, so at 100 TB the diff costs one co-partitioned join over
    32-byte digests. Counts roll up per order priority so the report
    localizes WHERE the drift sits.
    """
    orders = load_table(spark, sf_dir, "orders")

    def payload(price):
        # Doubles render as exact grain integers (floor(x*100+0.5)) —
        # printf('%.2f') rounding is not engine-identical at binary
        # half-boundaries, integer grains are.
        return F.md5(
            F.concat_ws(
                "|",
                F.col("o_custkey").cast("string"),
                F.col("o_orderstatus"),
                F.floor(price * 100 + F.lit(0.5)).cast("long").cast("string"),
            )
        )

    old = orders.filter(F.col("o_orderkey") % DIFF_MISSING_MOD != 0).select(
        "o_orderkey", "o_orderpriority", payload(F.col("o_totalprice")).alias("h_old")
    )
    new_price = F.when(
        F.col("o_orderkey") % DIFF_CHANGED_MOD == 0, F.col("o_totalprice") + 1.0
    ).otherwise(F.col("o_totalprice"))
    new = orders.select(
        "o_orderkey",
        "o_orderpriority",
        payload(new_price).alias("h_new"),
    )
    j = old.join(new, ["o_orderkey", "o_orderpriority"], "full_outer")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("h_new").isNull(), 1)).alias("n_deleted"),
        F.count(F.when(F.col("h_old").isNull(), 1)).alias("n_added"),
        F.count(
            F.when(
                F.col("h_old").isNotNull()
                & F.col("h_new").isNotNull()
                & (F.col("h_old") != F.col("h_new")),
                1,
            )
        ).alias("n_changed"),
        F.count(F.when(F.col("h_old") == F.col("h_new"), 1)).alias("n_identical"),
    )


#: Columns fingerprinted per table, with the render kind that is
#: engine-exact for the type: doubles as 1e-4 grain integers (printf
#: float rendering is NOT engine-identical at binary half-boundaries;
#: integer grains are), timestamps as epoch micros, the rest as plain
#: strings. One static map drives BOTH the Spark projection and the
#: generated oracle SQL, so the two sides cannot drift.
CHECKSUM_SCHEMAS = {
    "region": (("r_regionkey", "s"), ("r_name", "s")),
    "nation": (("n_nationkey", "s"), ("n_name", "s"), ("n_regionkey", "s")),
    "customer": (
        ("c_custkey", "s"), ("c_name", "s"), ("c_nationkey", "s"),
        ("c_acctbal", "d"), ("c_mktsegment", "s"),
    ),
    "supplier": (
        ("s_suppkey", "s"), ("s_name", "s"), ("s_nationkey", "s"),
        ("s_acctbal", "d"),
    ),
    "part": (
        ("p_partkey", "s"), ("p_name", "s"), ("p_brand", "s"),
        ("p_type", "s"), ("p_size", "s"), ("p_retailprice", "d"),
    ),
    "orders": (
        ("o_orderkey", "s"), ("o_custkey", "s"), ("o_orderstatus", "s"),
        ("o_totalprice", "d"), ("o_orderdate", "t"), ("o_orderpriority", "s"),
    ),
    "lineitem": (
        ("l_orderkey", "s"), ("l_partkey", "s"), ("l_suppkey", "s"),
        ("l_linenumber", "s"), ("l_quantity", "d"), ("l_extendedprice", "d"),
        ("l_discount", "d"), ("l_tax", "d"), ("l_returnflag", "s"),
        ("l_linestatus", "s"), ("l_shipdate", "t"),
    ),
    "events": (
        ("event_id", "s"), ("ts", "t"), ("user_id", "s"),
        ("event_type", "s"), ("value", "d"), ("props", "s"),
    ),
}


def rel_table_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant table fingerprints — the cross-system
    reconciliation primitive ("does the replica hold the same rows?")
    that needs no sort and no single reducer: each row hashes to an
    md5, the first 12 hex digits become an integer, and the SUM of
    those integers (plus the row count) is the table's checksum —
    commutative, so any partitioning, engine, or scan order yields the
    identical pair. One map-side hash + one single-row aggregate per
    table: at 100 TB each table costs exactly one scan and the only
    exchange carries 48-bit partial sums.
    """
    frames = []
    for t, schema in CHECKSUM_SCHEMAS.items():
        df = load_table(spark, sf_dir, t)
        cols = []
        for name, kind in schema:
            c = F.col(name)
            if kind == "d":
                cols.append(F.floor(c * 10000 + F.lit(0.5)).cast("long").cast("string"))
            elif kind == "t":
                # o_orderdate/l_shipdate arrive TIMESTAMP_NTZ; the UTC
                # session makes the cast a wall-time no-op, and DuckDB's
                # epoch_us reads the same naive value.
                cols.append(F.unix_micros(c.cast("timestamp")).cast("string"))
            else:
                cols.append(c.cast("string"))
        h = hex_int(F.md5(F.concat_ws("|", *cols)), 12).cast("decimal(38,0)")
        frames.append(
            df.agg(
                F.lit(t).alias("table_name"),
                F.count("*").alias("n_rows"),
                F.sum(h).cast("string").alias("checksum"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


#: chi-square cell terms round to this grain before summation.
CHI2_GRAIN = 1_000_000


def rel_segment_priority_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between customer market
    segment and order priority — the "are these two dimensions
    actually related?" screen an analyst runs before slicing a
    dashboard by both (TPC-H's uniform generator should say
    independent — tiny chi2 against 16 dof — which is the audit
    result).

    One contingency aggregation (seg x priority exact counts), margins
    via windows over the tiny cell frame, expected counts E=row*col/N
    from exact integers, and each cell's (O-E)^2/E term pre-rounded to
    1e-6 grains so the cross-cell sum is exact-integer (the float-sum
    discipline — 25 cells or 25 million, same guarantee). Output: one
    row with the statistic and degrees of freedom.
    """
    j = load_table(spark, sf_dir, "orders").join(
        F.broadcast(load_table(spark, sf_dir, "customer")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    cells = j.groupBy("c_mktsegment", "o_orderpriority").agg(
        F.count("*").alias("o")
    )
    row_t = F.sum("o").over(W.partitionBy("c_mktsegment"))
    col_t = F.sum("o").over(W.partitionBy("o_orderpriority"))
    n = F.sum("o").over(W.partitionBy())
    e = row_t.cast("double") * col_t / n
    term_g = F.floor(
        (F.col("o") - e) * (F.col("o") - e) / e * CHI2_GRAIN + F.lit(0.5)
    ).cast("long")
    terms = cells.select(
        "c_mktsegment", "o_orderpriority", "o", term_g.alias("g")
    )
    agg = terms.agg(
        F.count("*").alias("n_cells"),
        F.count_distinct("c_mktsegment").alias("n_rows_dim"),
        F.count_distinct("o_orderpriority").alias("n_cols_dim"),
        F.sum("g").alias("chi2_g"),
    )
    return agg.select(
        "n_cells",
        ((F.col("n_rows_dim") - 1) * (F.col("n_cols_dim") - 1)).alias("dof"),
        round_half_up(F.col("chi2_g").cast("double") / CHI2_GRAIN, 4).alias("chi2"),
    )


def rel_calendar_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-completeness audit: which days inside the order
    history's [min, max] span have NO orders — the silent-ingestion-
    failure detector every daily pipeline runs (a missing day usually
    means a dead upstream job, not a quiet market).

    A calendar spine generates from the observed min/max (sequence +
    explode — never a driver-side date loop), anti-joins the observed
    day set, and reports each missing day with its yearly context.
    The spine is bounded by the calendar (decades = ~10^4 rows), so
    this costs one day-level aggregation of the facts plus joins over
    calendar-sized frames, whatever the fact volume.
    """
    orders = load_table(spark, sf_dir, "orders")
    days = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(F.count("*").alias("n"))
    bounds = days.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 day"))
        ).alias("day")
    )
    missing = spine.join(days, "day", "left_anti")
    per_year = F.count("*").over(W.partitionBy(F.year("day")))
    return missing.select(
        "day",
        F.year("day").alias("year"),
        per_year.alias("n_missing_in_year"),
    )


#: Primary keys audited for uniqueness (table -> key column).
_PK_COLUMNS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "embeddings": "vec_id",
    "documents": "doc_id",
}


def rel_pk_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit — the other half of the
    constraint layer beside :func:`rel_fk_integrity_audit`: per
    table, row count, distinct key count, and how many rows sit in
    duplicated-key groups (the rows an upsert would silently
    collapse). One partial-aggregated count-distinct per table; the
    duplicate-row count comes from the same grouped pass (sum of
    group sizes where size > 1), so each table costs one scan.
    """
    frames = []
    for t, pk in _PK_COLUMNS.items():
        groups = (
            load_table(spark, sf_dir, t)
            .groupBy(F.col(pk).alias("k"))
            .agg(F.count("*").alias("c"))
        )
        frames.append(
            groups.agg(
                F.lit(t).alias("table_name"),
                F.sum("c").alias("n_rows"),
                F.count("*").alias("n_distinct_keys"),
                F.coalesce(
                    F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)
                ).alias("n_rows_in_dup_groups"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.withColumn(
        "pk_ok", F.col("n_rows") == F.col("n_distinct_keys")
    )


def rel_revenue_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily revenue — the time-series
    diagnostic that closes the family (trend fit, seasonality index,
    CUSUM level shifts, rolling z-scores): is today's revenue
    predictive of tomorrow's, or is the series white noise (TPC-H's
    generator should say noise — |r| near 0 — which is the audit)?

    The exact-sum discipline of ``rel_price_balance_correlation``
    applied to the lagged pair frame: (x, y) = (day t, day t+1)
    revenue GRAINS, five accumulators summed as decimal(38,0)
    (x*y products overflow int64 at scale), Pearson r as one float
    expression over the exact sums. The lag runs over the tiny
    day-level frame.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(money_grains("o_totalprice")).alias("g")
    )
    w = W.orderBy("day")
    pairs = daily.select(
        F.col("g").alias("x"), F.lead("g").over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    sums = pairs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    r = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return sums.select(
        F.col("n").alias("n_pairs"),
        round_half_up(r, 6).alias("lag1_autocorr"),
        (F.abs(r) < 0.1).alias("looks_like_noise"),
    )


# --- equi-depth histogram: the optimizer-statistics operator -----------

EQUIDEPTH_BINS = 16


def rel_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) histogram of order values — the
    statistics structure a cost-based optimizer keeps per column
    (selectivity estimation needs value boundaries that equalize ROW
    counts, not value ranges, under skew). The reference has no
    statistics layer at all; this is the §2c sorts/order-statistics
    category applied to metadata production.

    Bins come from the exact SQL ntile rule over a deterministic total
    order (o_totalprice, o_orderkey) — computed via the two-pass
    distributed rank (``functions.rank``), so no single-task global
    window exists at any corpus size; the per-bin rollup is one
    16-key aggregation. Bin boundaries (lo/hi) are raw data values
    (identical doubles in both engines); per-bin revenue accumulates
    integer money grains.
    """
    from mit_map_reduce_spark.functions.rank import ntile_from_rank

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = distributed_prefix(
        orders,
        ["o_totalprice", "o_orderkey"],
        row_number="rn",
        total_count="n",
    )
    b = ntile_from_rank(F.col("rn"), F.col("n"), EQUIDEPTH_BINS)
    return (
        ranked.select(b.alias("bin"), "o_totalprice")
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_orders"),
            round_half_up(F.min("o_totalprice"), 2).alias("bin_lo"),
            round_half_up(F.max("o_totalprice"), 2).alias("bin_hi"),
            money_sum("o_totalprice", 2).alias("bin_revenue"),
        )
    )


# --- declarative constraint expectations (data-quality gate) -----------

#: (expectation name, violation condition builder) — the row-level
#: checks; uniqueness and the FK probe are structural and handled
#: separately. Bounds are deliberately tighter than the data so the
#: report exercises both passing and failing expectations.
_EXPECTATION_ROWS = (
    ("o_orderkey_not_null", lambda: F.col("o_orderkey").isNull()),
    (
        "o_totalprice_in_0_400k",
        lambda: ~F.col("o_totalprice").between(0.0, 400000.0),
    ),
    (
        "o_orderstatus_in_domain",
        lambda: ~F.col("o_orderstatus").isin("O", "F", "P"),
    ),
    (
        "o_orderdate_before_2000",
        lambda: F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"),
    ),
)


def rel_constraint_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite over ``orders`` — the
    Great-Expectations/dbt-test shape: each expectation reports rows
    checked, violations, and pass/fail in ONE result frame, so a
    pipeline gate is a single query instead of N ad-hoc scans.

    One scan computes every row-level check as a conditional count
    plus the key-uniqueness delta (count - count distinct); the FK
    probe rides the same scan through a broadcast join against the
    customer keys (null c_custkey after a left join = orphan). The
    per-expectation rows come from a stack (unpivot) of the single
    aggregate row — bounded output, no second scan, all exact
    integers.
    """
    orders = _t(spark, sf_dir, "orders")
    cust_keys = _t(spark, sf_dir, "customer").select("c_custkey").distinct()
    j = orders.join(
        F.broadcast(cust_keys),
        F.col("o_custkey") == F.col("c_custkey"),
        "left",
    )
    aggs = [F.count("*").alias("n")]
    for name, cond in _EXPECTATION_ROWS:
        aggs.append(F.count(F.when(cond(), 1)).alias(name))
    aggs.append(
        (F.count("*") - F.count_distinct("o_orderkey")).alias("o_orderkey_unique")
    )
    aggs.append(
        F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("o_custkey_fk_customer")
    )
    one = j.agg(*aggs)
    names = [n for n, _ in _EXPECTATION_ROWS] + [
        "o_orderkey_unique",
        "o_custkey_fk_customer",
    ]
    stack = ", ".join(f"'{n}', {n}" for n in names)
    return one.select(
        F.expr(f"stack({len(names)}, {stack}) as (expectation, n_violations)"),
        F.col("n").alias("n_checked"),
    ).select(
        "expectation",
        "n_checked",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


# --- CDC changelog apply (ordered upsert/delete log -> table state) ----

#: Deterministic synthetic changelog derived from orders: seq 1 is the
#: initial snapshot insert; seq 2 updates every 7th key's price; seq 3
#: deletes every 13th key; seq 4 re-inserts every 26th key at a
#: flagged priority. Overlaps are the point — %91 keys see
#: insert+update+delete, %26 keys see delete-then-reinsert — so only
#: a correct LAST-WRITER-WINS apply reproduces the oracle.
CDC_UPDATE_MOD, CDC_DELETE_MOD, CDC_REINSERT_MOD = 7, 13, 26
CDC_PRICE_BUMP = 5.0


def rel_cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply an ordered CDC changelog (insert/update/delete events
    with a sequence number) to materialize final table state — the
    Debezium-consumer / Delta-CDF shape: the log arrives unordered
    across partitions, and the apply must pick each key's LATEST
    change (max seq) and drop keys whose latest op is DELETE.

    The apply is ONE hash shuffle on the key: ``max_by(payload, seq)``
    — Spark's partial-aggregating last-writer-wins (each map task
    keeps one candidate per key before the exchange; a per-key
    ordered window would sort instead of fold). The verification
    output aggregates final state per priority with grain-exact
    money sums.
    """
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    k = F.col("o_orderkey")
    snapshot = orders.select(
        k.alias("key"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderpriority").alias("priority"),
    )
    updates = orders.filter(k % CDC_UPDATE_MOD == 0).select(
        k.alias("key"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") + CDC_PRICE_BUMP).alias("price"),
        F.col("o_orderpriority").alias("priority"),
    )
    deletes = orders.filter(k % CDC_DELETE_MOD == 0).select(
        k.alias("key"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("price"),
        F.lit(None).cast("string").alias("priority"),
    )
    reinserts = orders.filter(k % CDC_REINSERT_MOD == 0).select(
        k.alias("key"),
        F.lit(4).alias("seq"),
        F.lit("I").alias("op"),
        F.col("o_totalprice").alias("price"),
        F.lit("9-REINSTATED").alias("priority"),
    )
    log = snapshot.unionByName(updates).unionByName(deletes).unionByName(reinserts)
    latest = log.groupBy("key").agg(
        F.max_by(F.struct("op", "price", "priority"), F.col("seq")).alias("s")
    )
    final = latest.filter(F.col("s.op") != "D").select(
        F.col("s.priority").alias("priority"), F.col("s.price").alias("price")
    )
    return final.groupBy("priority").agg(
        F.count("*").alias("n_rows"),
        money_sum("price", 2).alias("total_price"),
    )


# --- Z-order clustering receipt (multi-dimensional data layout) --------

#: Files per layout and the 2-D probe predicate: one eighth of the
#: quantized domain on EACH dimension (cells 64..95 of 0..255).
ZORDER_FILES = 64
ZORDER_SEL_LO, ZORDER_SEL_HI = 64, 95


def _interleave_bits(a, b):
    """16-bit Morton code: bit k of ``a`` lands at position 2k+1, bit
    k of ``b`` at 2k (Morton 1966 — the interleaving Delta's OPTIMIZE
    ZORDER and Hudi's space-filling-curve layout use). Pure integer
    arithmetic so both engines compute it bit-identically."""
    z = F.lit(0).cast("long")
    for kk in range(8):
        z = (
            z
            + F.shiftright(a, kk).bitwiseAND(F.lit(1)) * (2 ** (2 * kk + 1))
            + F.shiftright(b, kk).bitwiseAND(F.lit(1)) * (2 ** (2 * kk))
        )
    return z


def rel_zorder_clustering_receipt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout receipt comparing LINEAR (sort by one key) against
    Z-ORDER (Morton-interleaved two-key) file clustering for a
    two-dimensional selective predicate — the decision artifact behind
    'should this 100 TB table be Z-ordered': per layout, how many of
    the 64 files' (min,max) ranges intersect the probe predicate, and
    the scan amplification (rows in touched files / rows actually
    matching). Linear clustering gives perfect pruning on its sort key
    and NONE on the second dimension; the Morton curve buys pruning on
    both. File-level min/max pruning is exactly what parquet row-group
    stats / Delta file stats implement.

    Both dimensions quantize to 8 bits against broadcast 1-row domain
    maxima (every row computes the same exact float divide+floor in
    both engines); file assignment, min/max collection, and the
    touched-file test are pure integer arithmetic — one scan, one
    (layout, file)-key aggregation (128 groups), one bounded rollup.
    """
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    dom = orders.agg(
        F.max("o_custkey").alias("ck_max"), F.max("o_totalprice").alias("tp_max")
    )
    o = orders.crossJoin(F.broadcast(dom))
    c8 = F.least(
        F.lit(255).cast("long"),
        F.floor(F.col("o_custkey") * 256 / (F.col("ck_max") + 1)),
    ).cast("long")
    p8 = F.least(
        F.lit(255).cast("long"),
        F.floor(F.col("o_totalprice") * 256.0 / F.col("tp_max")),
    ).cast("long")
    cells = o.select(c8.alias("c8"), p8.alias("p8"))
    zfile = F.floor(_interleave_bits(F.col("c8"), F.col("p8")) * ZORDER_FILES / 65536)
    lfile = F.floor(F.col("c8") * ZORDER_FILES / 256)
    tagged = cells.select(
        "c8",
        "p8",
        F.explode(
            F.array(
                F.struct(F.lit("linear").alias("layout"), lfile.alias("file_id")),
                F.struct(F.lit("zorder").alias("layout"), zfile.alias("file_id")),
            )
        ).alias("t"),
    ).select("c8", "p8", F.col("t.layout").alias("layout"), F.col("t.file_id").alias("file_id"))
    lo, hi = ZORDER_SEL_LO, ZORDER_SEL_HI
    in_pred = F.col("c8").between(lo, hi) & F.col("p8").between(lo, hi)
    files = tagged.groupBy("layout", "file_id").agg(
        F.count("*").alias("n_rows"),
        F.min("c8").alias("c_min"),
        F.max("c8").alias("c_max"),
        F.min("p8").alias("p_min"),
        F.max("p8").alias("p_max"),
        F.count(F.when(in_pred, 1)).alias("n_match"),
    )
    touched = (
        (F.col("c_min") <= hi)
        & (F.col("c_max") >= lo)
        & (F.col("p_min") <= hi)
        & (F.col("p_max") >= lo)
    )
    return (
        files.groupBy("layout")
        .agg(
            F.count("*").alias("n_files"),
            F.count(F.when(touched, 1)).alias("files_touched"),
            F.sum(F.when(touched, F.col("n_rows")).otherwise(0)).alias(
                "rows_scanned"
            ),
            F.sum("n_match").alias("rows_matching"),
        )
        .select(
            "layout",
            "n_files",
            "files_touched",
            "rows_scanned",
            "rows_matching",
            # Zero guard: a corpus/predicate combination where nothing
            # falls in the selection square must yield NULL, not
            # NaN/Infinity (whose rendering differs between engines);
            # the oracle mirrors with NULLIF.
            F.when(
                F.col("rows_matching") > 0,
                round_half_up(
                    F.col("rows_scanned").cast("double")
                    / F.col("rows_matching").cast("double"),
                    4,
                ),
            ).alias("scan_amplification"),
        )
    )


QUERIES = {
    "rel_equidepth_histogram": rel_equidepth_histogram,
    "rel_constraint_expectations": rel_constraint_expectations,
    "rel_cdc_apply_changelog": rel_cdc_apply_changelog,
    "rel_zorder_clustering_receipt": rel_zorder_clustering_receipt,
    "rel_revenue_trend_forecast": rel_revenue_trend_forecast,
    "rel_revenue_autocorrelation": rel_revenue_autocorrelation,
    "rel_fk_integrity_audit": rel_fk_integrity_audit,
    "rel_incremental_agg_merge": rel_incremental_agg_merge,
    "rel_seasonality_index_monthly": rel_seasonality_index_monthly,
    "rel_snapshot_diff_orders": rel_snapshot_diff_orders,
    "rel_table_checksums": rel_table_checksums,
    "rel_segment_priority_chi2": rel_segment_priority_chi2,
    "rel_calendar_gap_audit": rel_calendar_gap_audit,
    "rel_pk_uniqueness_audit": rel_pk_uniqueness_audit,
    "rel_benford_price_audit": rel_benford_price_audit,
    "rel_join_key_skew_report": rel_join_key_skew_report,
    "rel_price_balance_correlation": rel_price_balance_correlation,
    "rel_monthly_revenue_mom": rel_monthly_revenue_mom,
    "rel_table_profile_orders": rel_table_profile_orders,
    "rel_trimmed_mean_acctbal": rel_trimmed_mean_acctbal,
    "rel_decimal_sum_by_segment": rel_decimal_sum_by_segment,
    "rel_window_cumulative_share": rel_window_cumulative_share,
    "adv_salted_skew_join_events": adv_salted_skew_join_events,
    "rel_q1_pricing_summary": rel_q1_pricing_summary,
    "rel_q3_shipping_priority": rel_q3_shipping_priority,
    "rel_q5_local_supplier_volume": rel_q5_local_supplier_volume,
    "rel_topk_parts_per_brand": rel_topk_parts_per_brand,
    "rel_window_running_spend": rel_window_running_spend,
    "rel_setops_summary": rel_setops_summary,
    "rel_setops_all_summary": rel_setops_all_summary,
    "rel_scalar_string_funcs": rel_scalar_string_funcs,
    "rel_scalar_date_math_funcs": rel_scalar_date_math_funcs,
    "rel_array_funcs_embeddings": rel_array_funcs_embeddings,
    "rel_unpivot_nation_metrics": rel_unpivot_nation_metrics,
    "rel_map_funcs_priority_profile": rel_map_funcs_priority_profile,
    "rel_anti_join_customers_without_orders": rel_anti_join_customers_without_orders,
    "rel_semi_join_urgent_buyers_per_nation": rel_semi_join_urgent_buyers_per_nation,
    "rel_scalar_json_events": rel_scalar_json_events,
    "rel_rollup_acctbal": rel_rollup_acctbal,
    "rel_distinct_aggs_per_segment": rel_distinct_aggs_per_segment,
    "rel_q7_nation_trade": rel_q7_nation_trade,
    "rel_merge_upsert_customers": rel_merge_upsert_customers,
    "rel_cube_orders": rel_cube_orders,
    "rel_salted_agg_events_per_type": rel_salted_agg_events_per_type,
    "rel_bucketed_join_revenue": rel_bucketed_join_revenue,
    "rel_q13_order_histogram": rel_q13_order_histogram,
    "rel_full_outer_nation_presence": rel_full_outer_nation_presence,
    "rel_q18_large_orders": rel_q18_large_orders,
    "rel_q22_idle_rich_customers": rel_q22_idle_rich_customers,
    "rel_q2_min_cost_supplier": rel_q2_min_cost_supplier,
    "rel_q8_market_share": rel_q8_market_share,
    "rel_q4_late_orders": rel_q4_late_orders,
    "rel_q16_supplier_variety": rel_q16_supplier_variety,
    "rel_q19_disjunctive_revenue": rel_q19_disjunctive_revenue,
    "rel_q21_waiting_suppliers": rel_q21_waiting_suppliers,
    "rel_q6_forecast_revenue": rel_q6_forecast_revenue,
    "rel_q14_promo_share": rel_q14_promo_share,
    "rel_q9_product_profit": rel_q9_product_profit,
    "rel_q10_returned_items": rel_q10_returned_items,
    "rel_q11_important_parts": rel_q11_important_parts,
    "rel_q12_late_shipment_priority": rel_q12_late_shipment_priority,
    "rel_q15_top_supplier": rel_q15_top_supplier,
    "rel_q17_small_quantity_revenue": rel_q17_small_quantity_revenue,
    "rel_q20_excess_stock_suppliers": rel_q20_excess_stock_suppliers,
}

def _profile_oracle_sql() -> str:
    parts = []
    for c, fmt in _PROFILE_COLS:
        if fmt == "ts":
            mn = f"strftime(min({c}), '%Y-%m-%d %H:%M:%S')"
            mx = f"strftime(max({c}), '%Y-%m-%d %H:%M:%S')"
        elif fmt == "%s":
            mn, mx = f"CAST(min({c}) AS VARCHAR)", f"CAST(max({c}) AS VARCHAR)"
        else:
            mn = f"printf('{fmt}', min({c}))"
            mx = f"printf('{fmt}', max({c}))"
        parts.append(
            f"""
        SELECT '{c}' AS column_name,
               CAST(count({c}) AS BIGINT) AS n_nonnull,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               {mn} AS min_value, {mx} AS max_value
        FROM orders"""
        )
    return " UNION ALL ".join(parts)


def _benford_oracle_sql() -> str:
    vals = ", ".join(f"({d}, {p!r})" for d, p in _BENFORD.items())
    return f"""
        WITH bf(digit, p) AS (VALUES {vals}),
        counts AS (
            SELECT CAST(substr(printf('%.2f', o_totalprice), 1, 1) AS INTEGER)
                       AS digit,
                   count(*) AS n_orders
            FROM orders GROUP BY 1
        )
        SELECT c.digit, CAST(c.n_orders AS BIGINT) AS n_orders,
               floor(CAST(c.n_orders AS DOUBLE) / sum(c.n_orders) OVER ()
                     * 10000.0 + 0.5) / 10000.0 AS share,
               floor(p * 10000.0 + 0.5) / 10000.0 AS benford_share,
               floor((CAST(c.n_orders AS DOUBLE) / sum(c.n_orders) OVER () - p)
                     * 10000.0 * 10.0 + 0.5) / 10.0 AS deviation_bp
        FROM counts c JOIN bf ON c.digit = bf.digit
    """


def _checksum_oracle_sql() -> str:
    selects = []
    for t, schema in CHECKSUM_SCHEMAS.items():
        rendered = []
        for name, kind in schema:
            if kind == "d":
                rendered.append(
                    f"CAST(CAST(floor({name} * 10000 + 0.5) AS BIGINT) AS VARCHAR)"
                )
            elif kind == "t":
                rendered.append(f"CAST(epoch_us({name}) AS VARCHAR)")
            else:
                rendered.append(f"CAST({name} AS VARCHAR)")
        row = f"md5(concat_ws('|', {', '.join(rendered)}))"
        selects.append(
            f"""SELECT '{t}' AS table_name,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST({sql_hex_int(row, 12)} AS HUGEINT)) AS VARCHAR)
                       AS checksum
            FROM {t}"""
        )
    return "\nUNION ALL\n".join(selects)


def _zorder_oracle_sql() -> str:
    z_terms = " + ".join(
        f"(((c8 >> {kk}) & 1) * {2 ** (2 * kk + 1)})"
        f" + (((p8 >> {kk}) & 1) * {2 ** (2 * kk)})"
        for kk in range(8)
    )
    lo, hi = ZORDER_SEL_LO, ZORDER_SEL_HI
    return f"""
        WITH dom AS (
            SELECT max(o_custkey) AS ck_max, max(o_totalprice) AS tp_max
            FROM orders
        ),
        cells AS (
            SELECT least(255, CAST(floor(o_custkey * 256 / (ck_max + 1))
                       AS BIGINT)) AS c8,
                   least(255, CAST(floor(o_totalprice * 256.0 / tp_max)
                       AS BIGINT)) AS p8
            FROM orders, dom
        ),
        tagged AS (
            SELECT c8, p8, 'linear' AS layout,
                   CAST(floor(c8 * {ZORDER_FILES} / 256) AS BIGINT) AS file_id
            FROM cells
            UNION ALL
            SELECT c8, p8, 'zorder' AS layout,
                   CAST(floor(({z_terms}) * {ZORDER_FILES} / 65536) AS BIGINT)
                       AS file_id
            FROM cells
        ),
        files AS (
            SELECT layout, file_id, count(*) AS n_rows,
                   min(c8) AS c_min, max(c8) AS c_max,
                   min(p8) AS p_min, max(p8) AS p_max,
                   count(CASE WHEN c8 BETWEEN {lo} AND {hi}
                              AND p8 BETWEEN {lo} AND {hi} THEN 1 END) AS n_match
            FROM tagged GROUP BY layout, file_id
        )
        SELECT layout,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(count(CASE WHEN c_min <= {hi} AND c_max >= {lo}
                               AND p_min <= {hi} AND p_max >= {lo}
                          THEN 1 END) AS BIGINT) AS files_touched,
               CAST(sum(CASE WHEN c_min <= {hi} AND c_max >= {lo}
                             AND p_min <= {hi} AND p_max >= {lo}
                        THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
               CAST(sum(n_match) AS BIGINT) AS rows_matching,
               {sql_round(
                   "CAST(sum(CASE WHEN c_min <= " + str(hi)
                   + " AND c_max >= " + str(lo)
                   + " AND p_min <= " + str(hi)
                   + " AND p_max >= " + str(lo)
                   + " THEN n_rows ELSE 0 END) AS DOUBLE)"
                   " / CAST(NULLIF(sum(n_match), 0) AS DOUBLE)",
                   4,
               )} AS scan_amplification
        FROM files GROUP BY layout
    """


ORACLES = {
    "rel_equidepth_histogram": f"""
        WITH ranked AS (
            SELECT o_totalprice,
                   ntile({EQUIDEPTH_BINS}) OVER (
                       ORDER BY o_totalprice, o_orderkey) AS bin
            FROM orders
        )
        SELECT bin, CAST(count(*) AS BIGINT) AS n_orders,
               {sql_round("min(o_totalprice)", 2)} AS bin_lo,
               {sql_round("max(o_totalprice)", 2)} AS bin_hi,
               {sql_money_sum("o_totalprice")} AS bin_revenue
        FROM ranked GROUP BY bin
    """,
    "rel_constraint_expectations": """
        WITH agg AS (
            SELECT count(*) AS n,
                   count(CASE WHEN o_orderkey IS NULL THEN 1 END)
                       AS v_notnull,
                   count(CASE WHEN o_totalprice NOT BETWEEN 0.0 AND 400000.0
                              THEN 1 END) AS v_range,
                   count(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                              THEN 1 END) AS v_domain,
                   count(CASE WHEN o_orderdate >= TIMESTAMP '2000-01-01'
                              THEN 1 END) AS v_date,
                   count(*) - count(DISTINCT o_orderkey) AS v_unique,
                   count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS v_fk
            FROM orders o
            LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
                ON o.o_custkey = c.c_custkey
        )
        SELECT u.expectation, CAST(n AS BIGINT) AS n_checked,
               CAST(u.n_violations AS BIGINT) AS n_violations,
               u.n_violations = 0 AS passed
        FROM agg, LATERAL (
            SELECT * FROM (VALUES
                ('o_orderkey_not_null', v_notnull),
                ('o_totalprice_in_0_400k', v_range),
                ('o_orderstatus_in_domain', v_domain),
                ('o_orderdate_before_2000', v_date),
                ('o_orderkey_unique', v_unique),
                ('o_custkey_fk_customer', v_fk)
            ) AS t(expectation, n_violations)
        ) u
    """,
    "rel_cdc_apply_changelog": f"""
        WITH log AS (
            SELECT o_orderkey AS key, 1 AS seq, 'I' AS op,
                   o_totalprice AS price, o_orderpriority AS priority
            FROM orders
            UNION ALL
            SELECT o_orderkey, 2, 'U', o_totalprice + {CDC_PRICE_BUMP},
                   o_orderpriority
            FROM orders WHERE o_orderkey % {CDC_UPDATE_MOD} = 0
            UNION ALL
            SELECT o_orderkey, 3, 'D', NULL, NULL
            FROM orders WHERE o_orderkey % {CDC_DELETE_MOD} = 0
            UNION ALL
            SELECT o_orderkey, 4, 'I', o_totalprice, '9-REINSTATED'
            FROM orders WHERE o_orderkey % {CDC_REINSERT_MOD} = 0
        ),
        latest AS (
            SELECT key, op, price, priority,
                   row_number() OVER (PARTITION BY key ORDER BY seq DESC)
                       AS rn
            FROM log
        )
        SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
               {sql_money_sum("price")} AS total_price
        FROM latest WHERE rn = 1 AND op <> 'D'
        GROUP BY priority
    """,
    "rel_zorder_clustering_receipt": _zorder_oracle_sql(),
    "rel_snapshot_diff_orders": f"""
        WITH old AS (
            SELECT o_orderkey, o_orderpriority,
                   md5(concat_ws('|', CAST(o_custkey AS VARCHAR), o_orderstatus,
                       CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)))
                       AS h_old
            FROM orders WHERE o_orderkey % {DIFF_MISSING_MOD} <> 0
        ),
        new AS (
            SELECT o_orderkey, o_orderpriority,
                   md5(concat_ws('|', CAST(o_custkey AS VARCHAR), o_orderstatus,
                       CAST(CAST(floor((CASE WHEN o_orderkey % {DIFF_CHANGED_MOD} = 0
                                             THEN o_totalprice + 1.0
                                             ELSE o_totalprice END) * 100 + 0.5)
                                 AS BIGINT) AS VARCHAR))) AS h_new
            FROM orders
        )
        SELECT o_orderpriority,
               CAST(count(*) FILTER (h_new IS NULL) AS BIGINT) AS n_deleted,
               CAST(count(*) FILTER (h_old IS NULL) AS BIGINT) AS n_added,
               CAST(count(*) FILTER (h_old IS NOT NULL AND h_new IS NOT NULL
                                     AND h_old <> h_new) AS BIGINT) AS n_changed,
               CAST(count(*) FILTER (h_old = h_new) AS BIGINT) AS n_identical
        FROM old FULL OUTER JOIN new USING (o_orderkey, o_orderpriority)
        GROUP BY o_orderpriority
    """,
    "rel_table_checksums": _checksum_oracle_sql(),
    "rel_revenue_autocorrelation": f"""
        WITH daily AS (
            SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
                   sum(CAST(floor(o_totalprice * 10000.0 + 0.5) AS HUGEINT)) AS g
            FROM orders GROUP BY 1
        ),
        pairs AS (
            SELECT g AS x, lead(g) OVER (ORDER BY day) AS y FROM daily
        ),
        sums AS (
            SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
            FROM pairs WHERE y IS NOT NULL
        )
        SELECT CAST(n AS BIGINT) AS n_pairs,
               {sql_round(
                   "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
                   " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
                   " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
                   " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
                   " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
                   " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))",
                   6,
               )} AS lag1_autocorr,
               abs((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) < 0.1
                   AS looks_like_noise
        FROM sums
    """,
    "rel_pk_uniqueness_audit": "\nUNION ALL\n".join(
        f"""
        SELECT '{t}' AS table_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT {pk}) AS BIGINT) AS n_distinct_keys,
               CAST(count(*) - count(DISTINCT {pk})
                    + (SELECT CAST(coalesce(count(*), 0) AS BIGINT) FROM (
                           SELECT {pk} FROM {t} GROUP BY {pk} HAVING count(*) > 1
                       )) AS BIGINT) AS n_rows_in_dup_groups,
               count(*) = count(DISTINCT {pk}) AS pk_ok
        FROM {t}
        """
        for t, pk in _PK_COLUMNS.items()
    ),
    "rel_calendar_gap_audit": """
        WITH days AS (
            SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day
            FROM orders GROUP BY 1
        ),
        spine AS (
            SELECT unnest(generate_series((SELECT min(day) FROM days),
                                          (SELECT max(day) FROM days),
                                          INTERVAL 1 DAY)) AS day
        ),
        missing AS (
            SELECT day FROM spine WHERE day NOT IN (SELECT day FROM days)
        )
        SELECT day, CAST(year(day) AS INTEGER) AS year,
               CAST(count(*) OVER (PARTITION BY year(day)) AS BIGINT)
                   AS n_missing_in_year
        FROM missing
    """,
    "rel_segment_priority_chi2": f"""
        WITH cells AS (
            SELECT c_mktsegment, o_orderpriority, count(*) AS o
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2
        ),
        terms AS (
            SELECT c_mktsegment, o_orderpriority, o,
                   CAST(floor((o - e) * (o - e) / e * {CHI2_GRAIN} + 0.5) AS BIGINT) AS g
            FROM (
                SELECT *,
                       CAST(sum(o) OVER (PARTITION BY c_mktsegment) AS DOUBLE)
                           * sum(o) OVER (PARTITION BY o_orderpriority)
                           / sum(o) OVER () AS e
                FROM cells
            )
        )
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST((count(DISTINCT c_mktsegment) - 1)
                    * (count(DISTINCT o_orderpriority) - 1) AS BIGINT) AS dof,
               {sql_round(f"CAST(sum(g) AS DOUBLE) / {CHI2_GRAIN}", 4)} AS chi2
        FROM terms
    """,
    "rel_fk_integrity_audit": "\nUNION ALL\n".join(
        f"""
        SELECT '{label}' AS fk_edge,
               CAST(count(*) AS BIGINT) AS child_rows,
               CAST(count(*) FILTER (p.k IS NULL) AS BIGINT) AS orphan_rows,
               count(*) FILTER (p.k IS NULL) = 0 AS ok
        FROM (SELECT {ck} AS k FROM {child_t}) c
        LEFT JOIN (SELECT DISTINCT {pk} AS k FROM {parent_t}) p USING (k)
        """
        for label, child_t, ck, parent_t, pk, _ in _FK_EDGES
    ),
    "rel_incremental_agg_merge": f"""
        -- Full recompute, deliberately NOT mirroring the two-phase
        -- merge: passing proves merged partial state == recompute.
        WITH merged AS (
            SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
                   CAST(count(*) AS BIGINT) AS n_items,
                   sum(CAST(floor(l_extendedprice * 10000.0 + 0.5) AS HUGEINT)) AS price_g,
                   min(l_extendedprice) AS min_price,
                   max(l_extendedprice) AS max_price
            FROM lineitem
            GROUP BY 1
        )
        SELECT month, n_items,
               {sql_round("CAST(price_g AS DOUBLE) / 10000.0", 2)} AS total_price,
               {sql_round("CAST(price_g AS DOUBLE) / 10000.0 / CAST(n_items AS DOUBLE)", 2)} AS avg_price,
               {sql_round("min_price", 2)} AS min_price,
               {sql_round("max_price", 2)} AS max_price
        FROM merged
    """,
    "rel_seasonality_index_monthly": f"""
        WITH per_ym AS (
            SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
                   sum(CAST(floor(o_totalprice * 10000.0 + 0.5) AS HUGEINT)) AS rev_g
            FROM orders GROUP BY 1, 2
        ),
        per_m AS (
            SELECT m, CAST(count(*) AS BIGINT) AS n_occurrences,
                   sum(rev_g) AS rev_g
            FROM per_ym GROUP BY m
        )
        SELECT CAST(m AS INTEGER) AS month, n_occurrences,
               {sql_round("CAST(rev_g AS DOUBLE) / n_occurrences / 10000.0", 2)}
                   AS avg_monthly_revenue,
               {sql_round(
                   "(CAST(rev_g AS DOUBLE) / n_occurrences)"
                   " / (CAST(sum(rev_g) OVER () AS DOUBLE) / sum(n_occurrences) OVER ())",
                   4,
               )} AS seasonal_index
        FROM per_m
    """,
    "rel_revenue_trend_forecast": """
        WITH per_month AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
                   sum(CAST(floor(o_totalprice * 10000.0 + 0.5)
                            AS HUGEINT)) AS rev
            FROM orders GROUP BY 1
        ),
        xy AS (
            SELECT CAST(row_number() OVER (ORDER BY month) AS HUGEINT) AS x,
                   rev AS y
            FROM per_month
        ),
        sums AS (
            SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx
            FROM xy
        )
        SELECT CAST(k AS BIGINT) AS n_months,
               floor((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     / 10000.0 * 100.0 + 0.5) / 100.0 AS slope_per_month,
               floor((CAST(sy AS DOUBLE)
                      - (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * CAST(sx AS DOUBLE))
                     / CAST(k AS DOUBLE) / 10000.0 * 100.0 + 0.5) / 100.0
                   AS intercept,
               floor(((CAST(sy AS DOUBLE)
                       - (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * CAST(sx AS DOUBLE))
                      / CAST(k AS DOUBLE)
                      + (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(k AS DOUBLE) + 1.0))
                     / 10000.0 * 100.0 + 0.5) / 100.0 AS next_month_forecast
        FROM sums
    """,
    "rel_benford_price_audit": _benford_oracle_sql(),
    "rel_join_key_skew_report": """
        WITH counts AS (
            SELECT l_suppkey, count(*) AS c FROM lineitem GROUP BY l_suppkey
        ),
        ranked AS (
            SELECT c,
                   row_number() OVER (ORDER BY c ASC, l_suppkey ASC) AS i,
                   count(*) OVER () AS n
            FROM counts
        ),
        sums AS (
            SELECT max(n) AS n_keys, sum(c) AS total_rows, max(c) AS max_count,
                   sum(i * c) AS sic,
                   sum(CASE WHEN i >= n - 9 THEN c END) AS top10
            FROM ranked
        )
        SELECT CAST(n_keys AS BIGINT) AS n_keys,
               CAST(total_rows AS BIGINT) AS total_rows,
               CAST(max_count AS BIGINT) AS max_count,
               floor(CAST(max_count AS DOUBLE) / CAST(total_rows AS DOUBLE)
                     * 10000.0 + 0.5) / 10000.0 AS top1_share,
               floor(CAST(top10 AS DOUBLE) / CAST(total_rows AS DOUBLE)
                     * 10000.0 + 0.5) / 10000.0 AS top10_share,
               floor((2.0 * CAST(sic AS DOUBLE)
                      - CAST(n_keys + 1 AS DOUBLE) * CAST(total_rows AS DOUBLE))
                     / (CAST(n_keys AS DOUBLE) * CAST(total_rows AS DOUBLE))
                     * 10000.0 + 0.5) / 10000.0 AS gini
        FROM sums
    """,
    "rel_price_balance_correlation": """
        WITH spend AS (
            SELECT o_custkey,
                   sum(CAST(floor(o_totalprice * 10000.0 + 0.5) AS HUGEINT))
                       AS gy
            FROM orders GROUP BY o_custkey
        ),
        pairs AS (
            SELECT c_mktsegment,
                   CAST(floor(c_acctbal * 10000.0 + 0.5) AS HUGEINT) AS gx,
                   gy
            FROM customer JOIN spend ON c_custkey = o_custkey
        ),
        sums AS (
            SELECT c_mktsegment, count(*) AS n,
                   sum(gx) AS sx, sum(gy) AS sy,
                   sum(gx * gy) AS sxy, sum(gx * gx) AS sxx,
                   sum(gy * gy) AS syy
            FROM pairs GROUP BY c_mktsegment
        )
        SELECT c_mktsegment, CAST(n AS BIGINT) AS n_customers,
               floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                     * 10000.0 + 0.5) / 10000.0 AS pearson_r
        FROM sums
    """,
    "rel_monthly_revenue_mom": """
        WITH per_month AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
                   count(*) AS n_orders,
                   sum(CAST(floor(o_totalprice * 10000.0 + 0.5)
                            AS DECIMAL(38,0))) AS rev_grains
            FROM orders GROUP BY 1
        )
        SELECT month, CAST(n_orders AS BIGINT) AS n_orders,
               floor(CAST(rev_grains AS DOUBLE) / 10000.0 * 100.0 + 0.5) / 100.0
                   AS revenue,
               floor(CAST(rev_grains - lag(rev_grains) OVER (ORDER BY month)
                          AS DOUBLE)
                     / CAST(lag(rev_grains) OVER (ORDER BY month) AS DOUBLE)
                     * 10000.0 + 0.5) / 10000.0 AS mom_pct
        FROM per_month
    """,
    "rel_table_profile_orders": _profile_oracle_sql(),
    "rel_trimmed_mean_acctbal": f"""
        WITH ranked AS (
            SELECT c_mktsegment, c_acctbal,
                   row_number() OVER (PARTITION BY c_mktsegment
                        ORDER BY c_acctbal, c_custkey) AS rn,
                   count(*) OVER (PARTITION BY c_mktsegment) AS n
            FROM customer
        ),
        kept AS (
            SELECT * FROM ranked
            WHERE rn > CAST(floor(n * {TRIM_PCT} / 100) AS INTEGER)
              AND rn <= n - CAST(floor(n * {TRIM_PCT} / 100) AS INTEGER)
        )
        SELECT c_mktsegment,
               CAST(max(n) AS BIGINT) AS n_total,
               CAST(count(*) AS BIGINT) AS n_kept,
               {sql_money_avg("c_acctbal", 4)} AS trimmed_mean,
               {sql_money_sum("c_acctbal", 2)} AS kept_sum
        FROM kept
        GROUP BY c_mktsegment
    """,
    "rel_decimal_sum_by_segment": """
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
               CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
               CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "rel_window_cumulative_share": f"""
        WITH rev AS (
            SELECT l_suppkey,
                   sum({sql_money_grains("l_extendedprice * (1 - l_discount)")}) AS rev_g
            FROM lineitem GROUP BY l_suppkey
        ),
        placed AS (
            SELECT l_suppkey AS s_suppkey, n_name AS nation, rev_g,
                   CAST(row_number() OVER w AS INTEGER) AS rnk,
                   sum(rev_g) OVER (PARTITION BY n_name ORDER BY rev_g DESC, l_suppkey
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_g,
                   sum(rev_g) OVER (PARTITION BY n_name) AS tot_g
            FROM rev
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WINDOW w AS (PARTITION BY n_name ORDER BY rev_g DESC, l_suppkey)
        )
        SELECT s_suppkey, nation, rnk,
               {sql_round("CAST(rev_g AS DOUBLE) / 10000.0", 2)} AS revenue,
               {sql_round("CAST(run_g AS DOUBLE) / CAST(tot_g AS DOUBLE)", 6)} AS cum_share
        FROM placed
    """,
    # The salt is an implementation detail; the oracle states the
    # semantics — the plain dimension join's aggregate.
    "adv_salted_skew_join_events": f"""
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               {sql_money_sum("value", 2)} AS total_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    """,
    "rel_q9_product_profit": f"""
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               {sql_money_sum("l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.6", 2)}
                   AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_name LIKE '%a%'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY n_name, year(o_orderdate)
    """,
    "rel_q10_returned_items": f"""
        SELECT c_custkey, c_name, n_name, c_mktsegment,
               {sql_money_sum("l_extendedprice * (1 - l_discount)", 2)}
                   AS revenue,
               floor((any_value(c_acctbal)) * 100.0 + 0.5) / 100.0 AS c_acctbal
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
                   AND o_orderdate >= TIMESTAMP '1997-01-01'
                   AND o_orderdate < TIMESTAMP '1997-04-01'
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name, c_mktsegment
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "rel_q11_important_parts": f"""
        WITH per_part AS (
            SELECT l_partkey, sum({sql_money_grains("l_extendedprice")}) AS pv_g
            FROM lineitem GROUP BY l_partkey
        ),
        total AS (SELECT sum(pv_g) AS total_g,
                         count(*) AS n_parts FROM per_part)
        SELECT l_partkey,
               {sql_round("CAST(pv_g AS DOUBLE) / 10000.0", 2)} AS part_value,
               {sql_round("CAST(pv_g AS DOUBLE) / CAST(total_g AS DOUBLE)", 6)} AS share
        FROM per_part CROSS JOIN total
        WHERE CAST(pv_g AS DOUBLE) > 1.5 * CAST(total_g AS DOUBLE) / n_parts
    """,
    "rel_q12_late_shipment_priority": """
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        GROUP BY l_linestatus
    """,
    "rel_q17_small_quantity_revenue": f"""
        SELECT {sql_round(f"CAST(sum({sql_money_grains('l.l_extendedprice')}) AS DOUBLE) / 10000.0 / 7.0", 2)}
                   AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = '{Q17_BRAND}' AND p.p_size < {Q17_MAX_SIZE}
          AND l.l_quantity < (
              SELECT {Q17_QTY_FRACTION} * avg(l2.l_quantity)
              FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """,
    "rel_q20_excess_stock_suppliers": f"""
        WITH pairs AS (
            SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE '{Q20_NAME_PREFIX}'
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_suppkey, l_partkey
        ),
        part_avg AS (
            SELECT l_partkey, avg(qty) AS part_avg FROM pairs GROUP BY l_partkey
        ),
        excess AS (
            SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_excess_parts
            FROM pairs JOIN part_avg USING (l_partkey)
            WHERE qty > {Q20_EXCESS_FACTOR} * part_avg
            GROUP BY l_suppkey
            HAVING count(*) >= {Q20_MIN_EXCESS_PARTS}
        )
        SELECT s_suppkey, s_name, n_name AS nation, n_excess_parts
        FROM supplier
        JOIN excess ON s_suppkey = l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
    """,
    "rel_q15_top_supplier": f"""
        WITH revenue AS (
            SELECT l_suppkey,
                   sum({sql_money_grains("l_extendedprice * (1 - l_discount)")}) AS rev_g
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT l_suppkey AS s_suppkey, s_name,
               {sql_round("CAST(rev_g AS DOUBLE) / 10000.0", 2)} AS total_revenue
        FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        WHERE rev_g = (SELECT max(rev_g) FROM revenue)
    """,
    "rel_q1_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               {sql_money_sum("l_quantity", 2)} AS sum_qty,
               {sql_money_sum("l_extendedprice", 2)} AS sum_base_price,
               {sql_money_sum("l_extendedprice * (1 - l_discount)", 2)} AS sum_disc_price,
               {sql_money_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 2)} AS sum_charge,
               {sql_money_avg("l_quantity", 4)} AS avg_qty,
               {sql_money_avg("l_extendedprice", 4)} AS avg_price,
               {sql_money_avg("l_discount", 4)} AS avg_disc,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "rel_q3_shipping_priority": f"""
        SELECT l_orderkey,
               {sql_money_sum("l_extendedprice * (1 - l_discount)", 2)} AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-07-01'
          AND l_shipdate > TIMESTAMP '1998-07-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "rel_q5_local_supplier_volume": f"""
        SELECT n_name,
               {sql_money_sum("l_extendedprice * (1 - l_discount)", 2)} AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """,
    "rel_topk_parts_per_brand": """
        SELECT p_brand, p_partkey, floor((p_retailprice) * 100.0 + 0.5) / 100.0 AS p_retailprice, rnk
        FROM (
            SELECT p_brand, p_partkey, p_retailprice,
                   CAST(row_number() OVER (
                       PARTITION BY p_brand
                       ORDER BY p_retailprice DESC, p_partkey) AS INTEGER) AS rnk
            FROM part
        )
        WHERE rnk <= 3
    """,
    "rel_window_running_spend": f"""
        SELECT o_custkey, o_orderkey, o_orderdate,
               {sql_round(f'''CAST(sum({sql_money_grains("o_totalprice")}) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 10000.0''', 2)} AS running_spend
        FROM orders
    """,
    "rel_setops_summary": """
        WITH rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
             big AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000)
        SELECT 'union' AS op, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT k FROM rich UNION SELECT k FROM big)
        UNION ALL
        SELECT 'intersect', CAST(count(*) AS BIGINT)
            FROM (SELECT k FROM rich INTERSECT SELECT k FROM big)
        UNION ALL
        SELECT 'except', CAST(count(*) AS BIGINT)
            FROM (SELECT k FROM rich EXCEPT SELECT k FROM big)
    """,
    "rel_setops_all_summary": """
        WITH big AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000),
             urgent AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
        SELECT 'union_all' AS op, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT k FROM big UNION ALL SELECT k FROM urgent)
        UNION ALL
        SELECT 'intersect_all', CAST(count(*) AS BIGINT)
            FROM (SELECT k FROM big INTERSECT ALL SELECT k FROM urgent)
        UNION ALL
        SELECT 'except_all', CAST(count(*) AS BIGINT)
            FROM (SELECT k FROM big EXCEPT ALL SELECT k FROM urgent)
    """,
    "rel_scalar_string_funcs": """
        SELECT p_partkey,
               upper(p_name) AS name_upper,
               -- DuckDB has no initcap; title-case word by word
               array_to_string(list_transform(string_split(p_name, ' '),
                   w -> upper(substr(w, 1, 1)) || lower(substr(w, 2))), ' ') AS name_title,
               reverse(p_name) AS name_rev,
               lpad(p_brand, 12, '*') AS brand_padded,
               replace(p_name, ' ', '_') AS name_snake,
               substr(p_type, 1, 3) AS type_prefix,
               CAST(length(p_name) AS INTEGER) AS name_len,
               p_brand || '/' || p_type AS brand_type
        FROM part
    """,
    "rel_scalar_date_math_funcs": """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS y,
               CAST(quarter(o_orderdate) AS INTEGER) AS q,
               CAST(month(o_orderdate) AS INTEGER) AS m,
               CAST(day(o_orderdate) AS INTEGER) AS d,
               CAST(isodow(o_orderdate) - 1 AS INTEGER) AS wd,
               floor((sqrt(o_totalprice)) * 10000.0 + 0.5) / 10000.0 AS sqrt_price,
               floor((log10(o_totalprice)) * 10000.0 + 0.5) / 10000.0 AS log10_price,
               floor((pow(o_totalprice / 100000.0, 2.0)) * 10000.0 + 0.5) / 10000.0 AS price_sq
        FROM orders
    """,
    "rel_map_funcs_priority_profile": """
        WITH counts AS (
            SELECT c_mktsegment, o_orderpriority, count(*) AS n
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment, o_orderpriority
        ),
        tot AS (SELECT c_mktsegment, sum(n) AS total FROM counts GROUP BY c_mktsegment)
        SELECT counts.c_mktsegment,
               CAST(any_value(total) AS BIGINT) AS n_orders,
               string_agg(o_orderpriority || '=' ||
                   printf('%.4f', floor((CAST(n AS DOUBLE) / total) * 10000.0 + 0.5) / 10000.0),
                   ',' ORDER BY o_orderpriority) AS priority_shares
        FROM counts JOIN tot ON counts.c_mktsegment = tot.c_mktsegment
        GROUP BY counts.c_mktsegment
    """,
    "rel_unpivot_nation_metrics": f"""
        WITH wide AS (
            SELECT c_nationkey,
                   CAST(count(*) AS DOUBLE) AS n_customers,
                   {sql_money_sum("c_acctbal", 2)} AS total_bal,
                   {sql_money_avg("c_acctbal", 4)} AS avg_bal
            FROM customer GROUP BY c_nationkey
        )
        SELECT c_nationkey, metric, value
        FROM wide UNPIVOT (value FOR metric IN (n_customers, total_bal, avg_bal))
    """,
    "rel_array_funcs_embeddings": """
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        )
        SELECT vec_id,
               CAST(len(v) AS INTEGER) AS dim,
               array_to_string(list_transform(v[1:3],
                   x -> printf('%.4f', floor(x * 10000.0 + 0.5) / 10000.0)), '|') AS head3,
               floor((list_max(v)) * 10000.0 + 0.5) / 10000.0 AS max_v,
               floor((list_min(v)) * 10000.0 + 0.5) / 10000.0 AS min_v,
               CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_positive,
               floor((list_sort(v)[-1]) * 10000.0 + 0.5) / 10000.0 AS sorted_last
        FROM e
    """,
    "rel_anti_join_customers_without_orders": """
        SELECT c_custkey, c_name, c_nationkey
        FROM customer
        WHERE NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    "rel_semi_join_urgent_buyers_per_nation": """
        SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers
        FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey
    """,
    "rel_scalar_json_events": f"""
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(count(*) AS BIGINT) AS n_events,
               {sql_money_sum("value", 2)} AS total_value,
               floor((avg(CAST(json_extract_string(props, '$.k') AS INTEGER))) * 10000.0 + 0.5) / 10000.0 AS avg_k,
               max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        FROM events
        GROUP BY event_type, CAST(date_trunc('day', ts) AS TIMESTAMP)
    """,
    "rel_rollup_acctbal": f"""
        SELECT r_name, n_name,
               CAST(count(*) AS BIGINT) AS n_customers,
               {sql_money_sum("c_acctbal", 2)} AS total_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
    """,
    "rel_q13_order_histogram": """
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (
            SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        GROUP BY c_count
    """,
    "rel_full_outer_nation_presence": """
        WITH c AS (
            SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_rich_customers
            FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey
        ),
        s AS (
            SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_rich_suppliers
            FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey
        )
        SELECT coalesce(c.nk, s.nk) AS nationkey, n_rich_customers, n_rich_suppliers
        FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
    "rel_q18_large_orders": f"""
        WITH big AS (
            SELECT l_orderkey,
                   floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 > {BIG_ORDER_QTY}
        )
        SELECT c_custkey, c_name, o_orderkey, o_orderdate,
               floor((o_totalprice) * 100.0 + 0.5) / 100.0 AS o_totalprice,
               total_qty
        FROM orders
        JOIN big ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "rel_q22_idle_rich_customers": f"""
        SELECT c_nationkey,
               CAST(count(*) AS BIGINT) AS n_customers,
               {sql_money_sum("c_acctbal", 2)} AS total_acctbal
        FROM customer
        WHERE c_acctbal > (SELECT CAST(sum({sql_money_grains("c_acctbal")}) AS DOUBLE) / 10000.0 / count(c_acctbal)
                           FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey
    """,
    "rel_merge_upsert_customers": f"""
        SELECT c_custkey, c_name, c_nationkey,
               floor((c_acctbal) * 100.0 + 0.5) / 100.0 AS c_acctbal,
               CASE WHEN c_acctbal > {PREMIUM_BAL} THEN 'PREMIUM'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer
        UNION ALL
        SELECT s_suppkey + 1000000, s_name, s_nationkey,
               floor((s_acctbal) * 100.0 + 0.5) / 100.0, 'SUPPLIER'
        FROM supplier
    """,
    "rel_q7_nation_trade": f"""
        SELECT supp_nation, cust_nation, l_year,
               CAST(count(*) AS BIGINT) AS n_items,
               {sql_money_sum("l_extendedprice * (1 - l_discount)", 2)} AS volume
        FROM (
            SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INTEGER) AS l_year,
                   l_extendedprice, l_discount
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ns ON s_nationkey = ns.n_nationkey
            JOIN nation nc ON c_nationkey = nc.n_nationkey
            WHERE (ns.n_name = '{TRADE_NATIONS[0]}' AND nc.n_name = '{TRADE_NATIONS[1]}')
               OR (ns.n_name = '{TRADE_NATIONS[1]}' AND nc.n_name = '{TRADE_NATIONS[0]}')
        )
        GROUP BY supp_nation, cust_nation, l_year
    """,
    "rel_cube_orders": f"""
        SELECT o_orderpriority, o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               {sql_money_sum("o_totalprice", 2)} AS total_price
        FROM orders
        GROUP BY CUBE(o_orderpriority, o_orderstatus)
    """,
    # The salt is an implementation detail; the oracle states the
    # *semantics* — a plain per-type aggregate.
    "rel_bucketed_join_revenue": f"""
        SELECT l_orderkey,
               sum(l_quantity) AS total_qty,
               {sql_money_sum("l_extendedprice * (1 - l_discount)", 2)} AS revenue,
               floor((max(o_totalprice)) * 100.0 + 0.5) / 100.0 AS header_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_orderkey
        HAVING sum(l_quantity) >= {BUCKET_JOIN_MIN_QTY}
    """,
    "rel_salted_agg_events_per_type": f"""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               {sql_money_sum("value", 2)} AS total_value,
               {sql_round(f"CAST(sum({sql_money_grains('value')}) AS DOUBLE) / 10000.0 / count(*)", 4)} AS avg_value
        FROM events
        GROUP BY event_type
    """,
    "rel_q6_forecast_revenue": f"""
        SELECT CAST(count(*) AS BIGINT) AS n_items,
               {sql_money_sum("l_extendedprice * l_discount", 2)} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount BETWEEN 0.02 AND 0.04
          AND l_quantity < 24
    """,
    "rel_q14_promo_share": f"""
        SELECT {sql_round(f'''100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                       THEN {sql_money_grains("l_extendedprice * (1 - l_discount)")}
                                       ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE)
                      / CAST(sum({sql_money_grains("l_extendedprice * (1 - l_discount)")}) AS DOUBLE)''', 4)}
                   AS promo_share_pct,
               {sql_round(f"CAST(sum({sql_money_grains('l_extendedprice * (1 - l_discount)')}) AS DOUBLE) / 10000.0", 2)}
                   AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-06-01'
          AND l_shipdate < TIMESTAMP '1997-07-01'
    """,
    "rel_q19_disjunctive_revenue": f"""
        SELECT CAST(count(*) AS BIGINT) AS n_items,
               {sql_money_sum("l_extendedprice * (1 - l_discount)", 2)} AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#15' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 40)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 50)
    """,
    "rel_q21_waiting_suppliers": f"""
        WITH lo AS (
            SELECT l_orderkey, l_suppkey,
                   l_shipdate > o_orderdate + INTERVAL {LATE_DAYS} DAY AS late
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        )
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM lo l1
        JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE l1.late
          AND s_nationkey = {Q21_NATION_KEY}
          AND EXISTS (
              SELECT 1 FROM lo l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
              SELECT 1 FROM lo l3
              WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                AND l3.late)
        GROUP BY s_name
    """,
    "rel_q4_late_orders": f"""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL {LATE_DAYS} DAY)
        GROUP BY o_orderpriority
    """,
    "rel_q16_supplier_variety": f"""
        SELECT p_brand, p_type,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < {Q16_MIN_BAL})
        GROUP BY p_brand, p_type
    """,
    "rel_q2_min_cost_supplier": f"""
        WITH eligible AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = '{Q2_REGION}'
        ),
        cost AS (
            SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal, n_name,
                   min(l_extendedprice / l_quantity) AS cost
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN eligible ON l_suppkey = s_suppkey
            WHERE p_type = '{Q2_PTYPE}' AND p_size <= {Q2_MAX_SIZE}
            GROUP BY p_partkey, p_brand, s_suppkey, s_name, s_acctbal, n_name
        )
        SELECT floor((s_acctbal) * 100.0 + 0.5) / 100.0 AS s_acctbal,
               s_name, n_name, p_partkey, p_brand,
               floor((cost) * 10000.0 + 0.5) / 10000.0 AS supply_cost
        FROM cost c
        WHERE cost = (SELECT min(cost) FROM cost c2 WHERE c2.p_partkey = c.p_partkey)
    """,
    "rel_q8_market_share": f"""
        WITH vols AS (
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   l_extendedprice * (1 - l_discount) AS vol,
                   ns.n_name AS supp_nation
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation nc ON c_nationkey = nc.n_nationkey
            JOIN region ON nc.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ns ON s_nationkey = ns.n_nationkey
            WHERE r_name = '{Q8_REGION}' AND p_type = '{Q8_PTYPE}'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
        )
        SELECT o_year,
               floor((CAST(sum(CASE WHEN supp_nation = '{Q8_NATION}' THEN {sql_money_grains("vol")}
                                    ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE)
                      / CAST(sum({sql_money_grains("vol")}) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS mkt_share,
               floor((CAST(sum({sql_money_grains("vol")}) AS DOUBLE) / 10000.0) * 100.0 + 0.5) / 100.0 AS total_volume
        FROM vols
        GROUP BY o_year
    """,
    "rel_distinct_aggs_per_segment": f"""
        SELECT c_mktsegment,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_buyers,
               CAST(count(*) AS BIGINT) AS n_orders,
               {sql_money_avg("o_totalprice", 2)} AS avg_order_value
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
}
