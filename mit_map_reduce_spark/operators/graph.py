"""Iterative graph analytics over the trade graph (beyond-reference).

The reference cannot express iteration at all — one map phase, one
reduce phase, done (SURVEY §2a; the closest it gets to a graph is the
indexer's posting lists). Connected components (dedup.py) covered the
fixpoint-loop shape; this module adds the fixed-iteration shape:
PageRank over the bipartite customer<->supplier graph (an edge per
distinct trading pair), the canonical "joins + aggregations in a loop"
workload that GraphX/Pregel exist for.

Spark-first plan per iteration: one equi-join of the edge list with
the current rank vector (both keyed by node) + one aggregation by
destination — the exact message-passing shape that scales to
billions of edges. Ranks round to RANK_DIGITS each iteration so the
DuckDB oracle (the same iterations unrolled as chained CTEs, like the
IVF k-means oracle) matches bit-for-bit despite engine-specific
float-sum order.

Graph construction notes: customer nodes are offset by NODE_OFFSET to
disjoin the key spaces; edges are DIRECTED BOTH WAYS, which makes the
graph symmetric — every node has out-degree >= 1, so there is no
dangling-node mass to redistribute (the standard simplification for
link graphs that are naturally bidirectional, like trade relations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mit_map_reduce_spark.catalog import (
    bounded_shuffle_width,
    iterate,
    load_table,
    scoped_conf,
    shared_persist,
    table_footer_count,
    truncate_lineage,
    volume_width,
)
from mit_map_reduce_spark.functions.columns import round_half_up

DAMPING = 0.85
PR_ITERS = 3
RANK_DIGITS = 8
NODE_OFFSET = 1_000_000  # customer node id = c_custkey + NODE_OFFSET
GRAPH_SHUFFLE_PARTITIONS = 32  # size to node count, not session default
#: Edges per task for the scoped fixpoint width (see _fixpoint_width):
#: 250 k edge rows keep each iteration's join/sort task in the
#: tens-of-MB range. x1 sf0.1 has 1.17 M trade edges (stays at the
#: 32-task floor — committed-SF plans unchanged); the x30 corpus has
#: 35.2 M, which at the fixed width was measured sort-spilling 4.0 GB
#: across the pagerank build's iterations (spill_audit r13).
GRAPH_EDGES_PER_TASK = 250_000


def _fixpoint_width(edge_count: int) -> int:
    """Scoped shuffle width for the iterative fixpoint builds, derived
    from the persisted edge count: the GRAPH_SHUFFLE_PARTITIONS floor
    until per-task volume would exceed GRAPH_EDGES_PER_TASK, then one
    task per ~GRAPH_EDGES_PER_TASK edges, capped at 4096 — the
    volume-derived-width law (catalog.volume_width), closing the
    docstring's 'raise GRAPH_SHUFFLE_PARTITIONS with the data' knob
    into the default path."""
    return volume_width(edge_count, GRAPH_EDGES_PER_TASK, floor=GRAPH_SHUFFLE_PARTITIONS)


#: Scope-entry conf of every fixpoint build: the graph-suite width
#: until the build knows its edge count (then ``_fixpoint_conf``).
_FLOOR_CONF = {"spark.sql.shuffle.partitions": GRAPH_SHUFFLE_PARTITIONS}


def _fixpoint_conf(edge_count: int) -> dict:
    """Scoped conf for an iterative build: the volume-derived width as
    the shuffle width. Past the committed-SF floor it ALSO disables AQE
    partition coalescing within the scope: the advisory sizes reducers
    by COMPRESSED map-output bytes, and at the x30 corpus it re-fused
    LPA's 141-task derived width for the per-iteration (dst, label)
    count into 36 tasks whose decompressed hash-agg footprint
    sort-spilled 1.9 GB (one stage held ALL of it; PPR measured 1.0 GB
    of the same class; x10 and committed SFs spill zero). The width
    law (GRAPH_EDGES_PER_TASK) bounds the per-task working set by
    construction — at scale, trust it over the compressed-bytes
    heuristic. Committed SFs take width == floor and the coalescing
    conf is untouched, so the pinned plans and task counts are
    unchanged. Applied through ``catalog.scoped_conf``'s setter, which
    restores the caller's values when the build's scope exits."""
    width = _fixpoint_width(edge_count)
    conf = {"spark.sql.shuffle.partitions": width}
    if width > GRAPH_SHUFFLE_PARTITIONS:
        conf["spark.sql.adaptive.coalescePartitions.enabled"] = "false"
    return conf


def _edge_build_width(spark: SparkSession, sf_dir: str) -> int:
    """Width for the edge-list dedup shuffle, sized to the FACT table
    (the join output is ~one row per lineitem) via a footer-only
    metadata read — the artifact builds lazily outside any scoped-conf
    block, so its width must be derivable before any count() job."""
    return volume_width(
        table_footer_count(sf_dir, "lineitem"), GRAPH_EDGES_PER_TASK, floor=_bounded_width(spark)
    )


#: Measured co-purchase pair fan-out: the exploded (a, b) pair stream
#: carries ~10x the incidence rows (r14 audit, x10-x30; the hub cap
#: bounds the worst case). The width multiplier stays a bit above the
#: measurement so drift toward the cap still lands near the
#: GRAPH_EDGES_PER_TASK per-task target.
KNN_PAIR_FANOUT = 12


def _pair_stream_width(spark: SparkSession, sf_dir: str) -> int:
    """Width for the co-purchase PAIR stream (explode² of per-customer
    supplier sets): fan-out means pair volume is ~KNN_PAIR_FANOUT x the
    lineitem count, so sizing that exchange to the fact table alone
    under-provisions it by the same factor — measured at x100: 16.5 GB
    of hash-agg + window-sort spill in ONE 240-task stage (~2.5 M pair
    rows per task; zero at <= x30 where the smaller corpus still fit).
    Same footer-only derivation discipline as _edge_build_width; floors
    at the session width, so committed SFs keep their pinned plans."""
    return volume_width(
        table_footer_count(sf_dir, "lineitem") * KNN_PAIR_FANOUT,
        GRAPH_EDGES_PER_TASK,
        floor=_bounded_width(spark),
    )


def _fact_join_input(spark: SparkSession, sf_dir: str, df: DataFrame, key: str) -> DataFrame:
    """Pre-partition a fact-scale equi-join input on its join key once
    the lineitem-derived width exceeds the session floor.

    The edge/co-purchase cache builds are LAZY: their fact-sized
    lineitem-orders join materializes under whatever scoped conf the
    FIRST consumer holds (the fixpoint builders pin the 32-task floor
    before edges.count()), so the join's ENSURE_REQUIREMENTS exchanges
    reduce at that floor no matter how big the corpus is. The explicit
    repartition() downstream protects only the dedup stage. Measured
    at x100 (60 M lineitem rows): the SMJ sort stage ran 32 tasks of
    ~1.9 M rows and spilled 4.05 GB — zero at <= x60, where each
    task's sort still fit (the r15 decade-up audit's find). A pinned
    REPARTITION_BY_NUM on the fact side makes EnsureRequirements
    co-partition the other side to match, so the join's per-task
    volume follows the GRAPH_EDGES_PER_TASK law at any scale; AQE
    cannot re-fuse it (numPartitions-specified repartitions are
    exempt from coalescing, and the join's co-partitioning pins the
    other side to them). Committed SFs: derived width == floor, no
    repartition node, plans byte-identical."""
    width = _edge_build_width(spark, sf_dir)
    if width > _bounded_width(spark):
        return df.repartition(width, key)
    return df


def _bounded_width(spark: SparkSession) -> int:
    """Cluster-scaled pinned shuffle width (catalog.bounded_shuffle_width).

    The scoped shuffle-partition override the iterative builds use
    only works because they MATERIALIZE inside the scope; a returned
    lazy frame executes later under whatever conf the caller has —
    under a bare driver session that meant 200-partition shuffles for
    kilobyte-scale graph stages (the round-9 20.6 s
    graph_supplier_projection vanilla row was ~pure task overhead).
    An explicit ``repartition(P, keys)`` pins the width INTO the plan;
    the co-partitioned aggregation downstream then reuses it instead
    of adding a conf-width exchange, so the total shuffle count is
    unchanged — only the width is bounded.
    """
    return bounded_shuffle_width(spark, floor=GRAPH_SHUFFLE_PARTITIONS)


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (src, dst) edges, both directions, between customer
    nodes (offset) and supplier nodes — one edge per trading pair.
    The distinct is the only fact-sized shuffle; everything after runs
    on the (much smaller) edge list.

    Shared-persisted via the catalog registry (catalog.py), so
    PageRank, k-core, degree distribution, and triangle count all
    probe ONE cached edge list per (session, corpus) — the round-3
    graph loops each built and persisted their own copy per call.
    """

    def build():
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        # fact side pre-partitioned on the join key past the floor —
        # see _fact_join_input (x100: 4 GB of 32-task SMJ sort spill)
        li = _fact_join_input(spark, sf_dir, li, "l_orderkey")
        pairs = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                (F.col("o_custkey") + NODE_OFFSET).alias("cust_node"),
                F.col("l_suppkey").alias("supp_node"),
            )
            # The dedup aggregate reuses this pinned-width partitioning
            # (same attribute ids) instead of adding a conf-width
            # exchange — the cache build materializes lazily, OUTSIDE
            # any scoped-conf block, so under a bare session the
            # distinct would otherwise run 200 tasks over kilobytes.
            # Width scales with the FACT size (lineitem footer count —
            # no Spark job): pinned 32 at committed SFs, one task per
            # ~GRAPH_EDGES_PER_TASK joined rows past that (the r13 x30
            # audit's residual ~197 MB dedup spill at fixed width).
            .repartition(_edge_build_width(spark, sf_dir), "cust_node", "supp_node")
            .dropDuplicates()
        )
        fwd = pairs.select(F.col("cust_node").alias("src"), F.col("supp_node").alias("dst"))
        rev = pairs.select(F.col("supp_node").alias("src"), F.col("cust_node").alias("dst"))
        return fwd.unionAll(rev)

    return shared_persist(spark, "trade_edges", sf_dir, build)


def _fixpoint(spark: SparkSession, sf_dir: str, name: str, rounds: int, plan) -> DataFrame:
    """The shared-persisted ``rounds``-deep fixed-round build over the
    trade graph, registered as ``name`` once per (session, corpus).

    Inside one ``scoped_conf``: the graph-suite floor width, the
    shared edge list, then the volume-derived width from its persisted
    count (``_fixpoint_conf``: the 32 floor at committed SFs, so plans
    are unchanged). ``plan(edges)`` returns ``(seed, step)``; the
    rounds run through ``catalog.iterate`` INSIDE the scope, because a
    scoped width only holds for what materializes there. The last
    round comes back persisted and ``shared_persist`` adopts it."""

    def build():
        with scoped_conf(spark, _FLOOR_CONF) as set_conf:
            edges = _trade_edges(spark, sf_dir)
            set_conf(_fixpoint_conf(edges.count()))
            seed, step = plan(edges)
            return iterate(seed, step, rounds)

    return shared_persist(spark, name, sf_dir, build)


def _pr_mass(edges: DataFrame, deg: DataFrame, pr: DataFrame) -> DataFrame:
    """(dst, mass): the rank each node receives in one PageRank round,
    sum over in-edges u->v of rank(u) / outdeg(u) — one edge/rank
    equi-join plus a destination aggregate (global and personalized
    PageRank alike)."""
    return (
        edges.join(pr, edges.src == pr.node)
        .join(deg, "src")
        .groupBy("dst")
        .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("mass"))
    )


def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, PR_ITERS fixed iterations) over the
    trade graph; returns every node's rank plus its side of the graph.

    rank_{i+1}(v) = (1-d)/N + d * sum_{u->v} rank_i(u) / outdeg(u),
    ranks rounded to RANK_DIGITS per iteration (determinism contract —
    see module docstring). The edge list is persisted once and reused
    by all iterations; N and the degree table derive from it.

    Each iteration is one ``catalog.iterate`` round under the scoped
    fixpoint width (``_fixpoint``): sized to the edge count, not the
    session default, so an iterative job on a small graph does not run
    hundreds of near-empty reduce tasks per round on a stock session,
    and eager materialization keeps the lineage from nesting
    PR_ITERS iterations deep.
    """

    def plan(edges):
        deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
        nodes = edges.select(F.col("src").alias("node")).distinct()
        n_total = nodes.agg(F.count("*").alias("n"))
        # rank_0 = 1/N for every node (N rides along via a broadcast
        # 1-row crossJoin — no driver-side collect)
        seed = nodes.crossJoin(F.broadcast(n_total)).select(
            "node", round_half_up(F.lit(1.0) / F.col("n"), RANK_DIGITS).alias("rank")
        )

        def step(pr):
            contrib = _pr_mass(edges, deg, pr)
            return (
                nodes.crossJoin(F.broadcast(n_total))
                .join(contrib, nodes.node == contrib.dst, "left")
                .select(
                    "node",
                    round_half_up(
                        (1.0 - DAMPING) / F.col("n")
                        + DAMPING * F.coalesce("mass", F.lit(0.0)),
                        RANK_DIGITS,
                    ).alias("rank"),
                )
            )

        return seed, step

    ranks = _fixpoint(spark, sf_dir, "graph_pagerank_ranks", PR_ITERS, plan)
    return ranks.select(
        "node",
        F.when(F.col("node") >= NODE_OFFSET, "customer").otherwise("supplier").alias("side"),
        "rank",
    )


def _pagerank_oracle_sql() -> str:
    """DuckDB twin: the same iterations unrolled as chained CTEs."""
    rf = float(10**RANK_DIGITS)
    sql = _TRADE_EDGES_CTE + f""",
        deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        n_total AS (SELECT count(*) AS n FROM nodes),
        pr0 AS (
            SELECT node, floor((1.0 / n) * {rf} + 0.5) / {rf} AS rank
            FROM nodes, n_total
        )"""
    prev = "pr0"
    for i in range(1, PR_ITERS + 1):
        sql += f""",
        m{i} AS (
            SELECT e.dst, sum(p.rank / d.outdeg) AS mass
            FROM edges e
            JOIN {prev} p ON e.src = p.node
            JOIN deg d ON e.src = d.src
            GROUP BY e.dst
        ),
        pr{i} AS (
            SELECT nodes.node,
                   floor(((1.0 - {DAMPING}) / n_total.n
                          + {DAMPING} * coalesce(m{i}.mass, 0.0)) * {rf} + 0.5) / {rf} AS rank
            FROM nodes CROSS JOIN n_total
            LEFT JOIN m{i} ON nodes.node = m{i}.dst
        )"""
        prev = f"pr{i}"
    sql += f"""
        SELECT node,
               CASE WHEN node >= {NODE_OFFSET} THEN 'customer' ELSE 'supplier' END AS side,
               rank
        FROM {prev}
    """
    return sql


PPR_SEED_NATIONS = 12  # seed set: suppliers of nations 0..11


def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: the teleport lands ONLY on a seed set
    (suppliers of nations < PPR_SEED_NATIONS) instead of uniformly —
    the relevance-propagation primitive behind "related to THESE
    items" recommendations and seed-expansion audience building
    (rank_{i+1}(v) = (1-d)*1[v in S]/|S| + d*mass(v)).

    Same iteration engine as the global PageRank — one edge/rank
    equi-join plus a destination aggregate (``_pr_mass``) per
    ``_fixpoint`` round, ranks rounded each round so the
    unrolled DuckDB oracle matches bit-for-bit — and the same scoped
    shuffle sizing. The seed table is node-sized and broadcasts; at
    100 TB only the edge joins shuffle, exactly as in the global
    variant. Nodes unreachable from the seeds in PR_ITERS hops hold
    rank 0, which is the semantics (no uniform floor here).
    """

    def plan(edges):
        deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
        nodes = edges.select(F.col("src").alias("node")).distinct()
        supp = load_table(spark, sf_dir, "supplier").filter(
            F.col("s_nationkey") < PPR_SEED_NATIONS
        )
        seeds = nodes.join(F.broadcast(supp.select(F.col("s_suppkey").alias("node"))), "node")
        n_seeds = seeds.agg(F.count("*").alias("ns"))
        seed_share = seeds.crossJoin(F.broadcast(n_seeds)).select(
            "node",
            round_half_up(F.lit(1.0) / F.col("ns"), RANK_DIGITS).alias("teleport"),
        )
        pr = nodes.join(F.broadcast(seed_share), "node", "left").select(
            "node", F.coalesce("teleport", F.lit(0.0)).alias("rank")
        )
        base = nodes.join(F.broadcast(seed_share), "node", "left").select(
            "node",
            ((1.0 - DAMPING) * F.coalesce("teleport", F.lit(0.0))).alias("b"),
        )

        def step(pr):
            contrib = _pr_mass(edges, deg, pr)
            return base.join(contrib, base.node == contrib.dst, "left").select(
                "node",
                round_half_up(
                    F.col("b") + DAMPING * F.coalesce("mass", F.lit(0.0)),
                    RANK_DIGITS,
                ).alias("rank"),
            )

        return pr, step

    ranks = _fixpoint(spark, sf_dir, "graph_ppr_ranks", PR_ITERS, plan)
    return ranks.filter(F.col("rank") > 0).select(
        "node",
        F.when(F.col("node") >= NODE_OFFSET, "customer")
        .otherwise("supplier")
        .alias("side"),
        "rank",
    )


def _ppr_oracle_sql() -> str:
    """DuckDB twin of the personalized iterations, unrolled."""
    rf = float(10**RANK_DIGITS)
    sql = _TRADE_EDGES_CTE + f""",
        deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        seeds AS (
            SELECT node FROM nodes
            JOIN supplier ON node = s_suppkey
            WHERE s_nationkey < {PPR_SEED_NATIONS}
        ),
        n_seeds AS (SELECT count(*) AS ns FROM seeds),
        share AS (
            SELECT node, floor((1.0 / ns) * {rf} + 0.5) / {rf} AS teleport
            FROM seeds, n_seeds
        ),
        base AS (
            SELECT nodes.node,
                   (1.0 - {DAMPING}) * coalesce(share.teleport, 0.0) AS b
            FROM nodes LEFT JOIN share ON nodes.node = share.node
        ),
        pr0 AS (
            SELECT nodes.node, coalesce(share.teleport, 0.0) AS rank
            FROM nodes LEFT JOIN share ON nodes.node = share.node
        )"""
    prev = "pr0"
    for i in range(1, PR_ITERS + 1):
        sql += f""",
        m{i} AS (
            SELECT e.dst, sum(p.rank / d.outdeg) AS mass
            FROM edges e
            JOIN {prev} p ON e.src = p.node
            JOIN deg d ON e.src = d.src
            GROUP BY e.dst
        ),
        pr{i} AS (
            SELECT base.node,
                   floor((base.b + {DAMPING} * coalesce(m{i}.mass, 0.0))
                         * {rf} + 0.5) / {rf} AS rank
            FROM base LEFT JOIN m{i} ON base.node = m{i}.dst
        )"""
        prev = f"pr{i}"
    sql += f"""
        SELECT node,
               CASE WHEN node >= {NODE_OFFSET} THEN 'customer' ELSE 'supplier' END AS side,
               rank
        FROM {prev} WHERE rank > 0
    """
    return sql


KCORE_K = 8
KCORE_ROUNDS = 3


def graph_kcore_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative k-core pruning — the third iterative-graph shape next
    to PageRank (fixed-iteration propagation) and connected components
    (fixpoint labels): repeatedly drop nodes whose degree among the
    REMAINING nodes falls below ``KCORE_K``. Removing a node lowers
    its neighbors' degrees, so each round exposes new victims; after
    ``KCORE_ROUNDS`` rounds the survivors approximate the k-core (a
    production run loops to fixpoint — the deterministic fixed unroll
    is the same contract the PageRank oracle uses).

    Each round: one semi-join of the edge list against the surviving
    nodes on BOTH endpoints, one degree aggregation — linear per
    round, shuffles scoped to the graph's partition count.
    """

    def plan(edges):
        def step(alive):
            a_src = alive.select(F.col("node").alias("src"))
            a_dst = alive.select(F.col("node").alias("dst"))
            live_edges = edges.join(a_src, "src", "left_semi").join(a_dst, "dst", "left_semi")
            deg = live_edges.groupBy("src").agg(F.count("*").alias("degree"))
            return deg.filter(F.col("degree") >= KCORE_K).select(F.col("src").alias("node"))

        return edges.select(F.col("src").alias("node")).distinct(), step

    alive = _fixpoint(spark, sf_dir, "graph_kcore_alive", KCORE_ROUNDS, plan)
    edges = _trade_edges(spark, sf_dir)
    a_src = alive.select(F.col("node").alias("src"))
    a_dst = alive.select(F.col("node").alias("dst"))
    final_deg = (
        edges.join(a_src, "src", "left_semi")
        .join(a_dst, "dst", "left_semi")
        .groupBy("src")
        .agg(F.count("*").alias("core_degree"))
    )
    return alive.join(final_deg, alive.node == final_deg.src).select(
        "node",
        F.when(F.col("node") >= NODE_OFFSET, "customer")
        .otherwise("supplier")
        .alias("side"),
        "core_degree",
    )


def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the trade graph — the first diagnostic
    run on any production graph (degree skew predicts which joins need
    salting and whether a Pregel superstep will straggle).

    Two aggregations: per-node out-degree over the edge list, then the
    histogram (degree -> node count) per side. Both shuffles carry
    node-sized then degree-sized keys — nothing fact-sized after the
    edge build, which is shared with PageRank.
    """
    edges = _trade_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("degree"))
    side = F.when(F.col("src") >= NODE_OFFSET, "customer").otherwise("supplier")
    return (
        deg.withColumn("side", side)
        .groupBy("side", "degree")
        .agg(F.count("*").alias("n_nodes"))
    )


#: Bipartite-projection knobs: customers touching more than CAP
#: suppliers are excluded as hubs (their pair fan-out is quadratic in
#: degree — the same df-cap discipline as the dedup inverted index),
#: and only supplier pairs sharing at least MIN_COMMON customers
#: surface.
PROJ_HUB_CAP = 40
PROJ_MIN_COMMON = 3


def graph_supplier_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the trade graph onto suppliers: an edge
    (supp_a, supp_b, weight) per supplier pair sharing >= MIN_COMMON
    customers — the co-purchase graph that feeds recommendation and
    community detection. (A bipartite graph has no triangles; the
    projection is where its clustering structure lives.)

    Scale shape (round 10 — formerly a self-equi-join): hub customers
    (degree > PROJ_HUB_CAP) are dropped FIRST, exactly the hot-shingle
    df-cap rule from dedup's inverted index — compute degrees with a
    map-side-combined groupBy, keep only the OVER-cap hub list (tiny
    by definition — it is the set being capped), and broadcast-anti-
    join it so hub rows are filtered map-side without ever shuffling.
    After the cap every surviving customer has <= PROJ_HUB_CAP
    suppliers, so the pair generation needs NO join at all: collect
    the (bounded, <= CAP elements) supplier set per customer and
    explode the a < b pairs map-side — degree^2 fan-out capped at
    CAP^2 per row. Three pinned-width shuffles total: incidence on the
    customer key for the set-collect, the degree branch's own cust
    shuffle (column pruning makes it a narrower one-column exchange
    than reuse would give), and the (a, b) pair aggregation. The
    self-join's second fact-sized sort-merge shuffle is gone, and no
    stage's width rides session conf (see _bounded_width); the plan is
    pinned by test (no SortMergeJoin, all REPARTITION_BY_NUM).
    """
    width = _bounded_width(spark)
    edges = _trade_edges(spark, sf_dir)
    inc = (
        edges.filter(F.col("src") >= NODE_OFFSET)
        .select(F.col("src").alias("cust"), F.col("dst").alias("supp"))
        .repartition(width, "cust")
    )
    hubs = (
        inc.groupBy("cust")
        .agg(F.count("*").alias("d"))
        .filter(F.col("d") > PROJ_HUB_CAP)
        .select("cust")
    )
    # Broadcast anti-join preserves the cust partitioning, so the
    # collect_set aggregate below reuses it — no extra exchange. Sets
    # are bounded by the cap BEFORE collection; no whale-group risk.
    small = inc.join(F.broadcast(hubs), "cust", "left_anti")
    grouped = small.groupBy("cust").agg(F.collect_set("supp").alias("ss"))
    pairs = (
        grouped.select(F.explode("ss").alias("supp_a"), "ss")
        .select("supp_a", F.explode("ss").alias("supp_b"))
        .filter(F.col("supp_a") < F.col("supp_b"))
    )
    return (
        pairs.repartition(width, "supp_a", "supp_b")
        .groupBy("supp_a", "supp_b")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= PROJ_MIN_COMMON)
    )


LPA_ROUNDS = 3
#: Tie-break encoding for "most frequent neighbor label, ties to the
#: SMALLEST label": score = count * LPA_ENC + (LPA_ENC - 1 - label),
#: picked with one integer max — order-invariant in any engine. Valid
#: while node ids < LPA_ENC (testdata tops out ~1.02M; scale the
#: constant with the id domain).
LPA_ENC = 10_000_000


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection — the fourth iterative
    shape beside PageRank (fixed propagation), connected components
    (fixpoint), and k-core (monotone pruning): each round every node
    adopts the most frequent label among its neighbors, ties broken to
    the smallest label, for LPA_ROUNDS synchronous rounds (the
    deterministic fixed unroll, same contract as the PageRank oracle;
    production loops until labels stop changing).

    Per round: one equi-join of the edge list with the label vector,
    one (dst, label) count, one integer arg-max per dst — the
    tie-break rides the count in a single encoded max, so no window
    function and no second shuffle. Returns the final communities
    (label, size, per-side membership, canonical member).

    r14 confirm-by-retry A/B (VERDICT r13 watch item: the r13 driver
    bench moved warm 0.16 -> 0.45 s and build 4.8 -> 6.4 s right after
    commit 14263f0 touched this build's width path): two quiet fresh-
    subprocess runs at sf0.1, final r14 HEAD —

        run   cold(full first call)   warm median-of-3
        A     10.2 s                  0.214 s
        B     11.6 s                  0.261 s

    Warm is back UNDER half the driver-stamped 0.448 s on the same
    code (plan diff vs the r13 snapshot: none), so the driver-run
    delta was environment noise, not the width change. Retired.
    """
    labels = _lpa_labels(spark, sf_dir)
    is_cust = F.col("node") >= NODE_OFFSET
    return labels.groupBy("label").agg(
        F.count("*").alias("n_members"),
        F.count(F.when(is_cust, 1)).alias("n_customers"),
        F.count(F.when(~is_cust, 1)).alias("n_suppliers"),
        F.min("node").alias("min_node"),
    )


def _lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (node, label) assignment after LPA_ROUNDS, shared-persisted
    so the community rollup AND the modularity report probe one cached
    copy per (session, corpus)."""

    def plan(edges):
        # The encoded argmax silently corrupts once ids reach LPA_ENC
        # (negative tie-break term) — fail loudly instead.
        max_node = edges.agg(F.max("src")).first()[0]
        if max_node is not None and max_node >= LPA_ENC:
            raise ValueError(
                f"node id {max_node} >= LPA_ENC ({LPA_ENC}); raise LPA_ENC "
                "with the id domain or the label argmax encoding corrupts"
            )

        def step(labels):
            cnt = (
                edges.join(labels, edges.src == labels.node)
                .groupBy("dst", "label")
                .agg(F.count("*").alias("c"))
            )
            best = (
                cnt.select(
                    "dst",
                    (F.col("c") * LPA_ENC + (F.lit(LPA_ENC - 1) - F.col("label"))).alias("s"),
                )
                .groupBy("dst")
                .agg(F.max("s").alias("s"))
            )
            return best.select(
                F.col("dst").alias("node"),
                (F.lit(LPA_ENC - 1) - F.col("s") % LPA_ENC).alias("label"),
            )

        seed = edges.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        )
        return seed, step

    return _fixpoint(spark, sf_dir, "graph_lpa_labels", LPA_ROUNDS, plan)


def graph_modularity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities — the one-number
    answer to "did community detection find real structure or noise"
    (Q near 0: no better than random; Q >= ~0.3: strong community
    structure). The community-quality report beside the ANN recall and
    LSH tuning reports.

    Exactness: with m2 = directed edge count, Q = sum_c
    (e_c * m2 - D_c^2) / m2^2 — the numerator accumulates EXACT
    integers per community (within-community directed edge count e_c,
    community degree sum D_c, both from equi-joins of the shared edge
    list with the cached label vector), summed as decimal(38,0);
    the division happens once. No float sum anywhere, so community
    count and partial-agg order cannot move the value. Two label
    joins + label-sized aggregates are the whole plan.
    """
    labels = _lpa_labels(spark, sf_dir)
    edges = _trade_edges(spark, sf_dir)
    ls = labels.select(F.col("node").alias("src"), F.col("label").alias("l_src"))
    ld = labels.select(F.col("node").alias("dst"), F.col("label").alias("l_dst"))
    tagged = edges.join(ls, "src").join(ld, "dst")
    per_label = tagged.groupBy(F.col("l_src").alias("label")).agg(
        F.count("*").alias("d_sum"),
        F.count(F.when(F.col("l_src") == F.col("l_dst"), 1)).alias("e_dir"),
    )
    m2 = tagged.agg(F.count("*").alias("m2"))
    contrib = per_label.crossJoin(F.broadcast(m2)).select(
        "label",
        "d_sum",
        "e_dir",
        "m2",
        (
            F.col("e_dir").cast("decimal(38,0)") * F.col("m2")
            - F.col("d_sum").cast("decimal(38,0)") * F.col("d_sum")
        ).alias("num"),
    )
    return contrib.agg(
        F.count("*").alias("n_communities"),
        (F.max("m2") / 2).cast("long").alias("n_edges"),
        round_half_up(
            F.sum("num").cast("double")
            / (F.max("m2").cast("double") * F.max("m2").cast("double")),
            6,
        ).alias("modularity"),
    )


def _lpa_labels_cte_sql() -> str:
    """Shared CTE chain rebuilding the LPA label vector (rounds
    unrolled), ending in ``lp{LPA_ROUNDS}`` — used by the community
    rollup oracle AND the modularity oracle."""
    sql = _TRADE_EDGES_CTE + """,
        lp0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    prev = "lp0"
    for i in range(1, LPA_ROUNDS + 1):
        sql += f""",
        c{i} AS (
            SELECT e.dst, l.label, count(*) AS c
            FROM edges e JOIN {prev} l ON e.src = l.node
            GROUP BY e.dst, l.label
        ),
        b{i} AS (
            SELECT dst, max(c * {LPA_ENC} + ({LPA_ENC - 1} - label)) AS s
            FROM c{i} GROUP BY dst
        ),
        lp{i} AS (
            SELECT dst AS node, {LPA_ENC - 1} - (s % {LPA_ENC}) AS label FROM b{i}
        )"""
        prev = f"lp{i}"
    return sql


def _lpa_oracle_sql() -> str:
    """DuckDB twin of the fixed-round label propagation, rounds
    unrolled as chained CTEs (same contract as PageRank/k-core)."""
    return (
        _lpa_labels_cte_sql()
        + f"""
        SELECT label,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(count(*) FILTER (node >= {NODE_OFFSET}) AS BIGINT) AS n_customers,
               CAST(count(*) FILTER (node < {NODE_OFFSET}) AS BIGINT) AS n_suppliers,
               min(node) AS min_node
        FROM lp{LPA_ROUNDS}
        GROUP BY label
    """
    )


def _modularity_oracle_sql() -> str:
    """Exact-integer modularity over the unrolled LPA labels."""
    return (
        _lpa_labels_cte_sql()
        + f""",
        tagged AS (
            SELECT ls.label AS l_src, ld.label AS l_dst
            FROM edges e
            JOIN lp{LPA_ROUNDS} ls ON e.src = ls.node
            JOIN lp{LPA_ROUNDS} ld ON e.dst = ld.node
        ),
        per_label AS (
            SELECT l_src AS label, count(*) AS d_sum,
                   count(CASE WHEN l_src = l_dst THEN 1 END) AS e_dir
            FROM tagged GROUP BY l_src
        ),
        m AS (SELECT count(*) AS m2 FROM tagged)
        SELECT CAST(count(*) AS BIGINT) AS n_communities,
               CAST(max(m.m2) / 2 AS BIGINT) AS n_edges,
               floor(CAST(sum(CAST(e_dir AS HUGEINT) * m.m2
                               - CAST(d_sum AS HUGEINT) * d_sum) AS DOUBLE)
                     / (CAST(max(m.m2) AS DOUBLE) * CAST(max(m.m2) AS DOUBLE))
                     * 1000000.0 + 0.5) / 1000000.0 AS modularity
        FROM per_label CROSS JOIN m
    """
    )


def _kcore_oracle_sql() -> str:
    """DuckDB twin of the fixed-round k-core pruning, rounds unrolled
    as chained CTEs (same contract as the PageRank oracle)."""
    sql = _TRADE_EDGES_CTE + """,
        alive0 AS (SELECT DISTINCT src AS node FROM edges)"""
    prev = "alive0"
    for i in range(1, KCORE_ROUNDS + 1):
        sql += f""",
        deg{i} AS (
            SELECT e.src, count(*) AS d FROM edges e
            JOIN {prev} a ON e.src = a.node
            JOIN {prev} b ON e.dst = b.node
            GROUP BY e.src
        ),
        alive{i} AS (SELECT src AS node FROM deg{i} WHERE d >= {KCORE_K})"""
        prev = f"alive{i}"
    sql += f""",
        fdeg AS (
            SELECT e.src, count(*) AS core_degree FROM edges e
            JOIN {prev} a ON e.src = a.node
            JOIN {prev} b ON e.dst = b.node
            GROUP BY e.src
        )
        SELECT a.node,
               CASE WHEN a.node >= {NODE_OFFSET} THEN 'customer' ELSE 'supplier' END AS side,
               CAST(fdeg.core_degree AS BIGINT) AS core_degree
        FROM {prev} a JOIN fdeg ON fdeg.src = a.node
    """
    return sql


#: Neighbors kept per node when sparsifying the (dense) co-purchase
#: weight matrix into a kNN graph. TPC-H's uniform customer->supplier
#: assignment makes EVERY supplier pair share ~100 customers, so an
#: absolute weight threshold yields either a complete graph or an
#: empty one at any scale factor; per-node top-k is the standard
#: scale-stable sparsifier (it is exactly how kNN graphs for
#: clustering / graph-ANN are built from a similarity matrix).
KNN_K = 5
#: Link-prediction candidates need >= this many common neighbors.
LP_MIN_COMMON = 2


def _knn_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual top-``KNN_K`` co-purchase graph over suppliers: weight =
    #distinct shared customers, each node keeps its K strongest
    neighbors (ties broken by neighbor id, so the ranking is total and
    engine-invariant), and an undirected edge (a < b) survives only if
    BOTH endpoints kept it (mutual-kNN — the sparsifier that resists
    hub pollution).

    Scale shape (round 10 — formerly a self-equi-join + reversed-key
    join, ~8 conf-width shuffle stages that cost 12 s of task overhead
    over 81 edges under a bare 200-partition session): hub customers
    are dropped FIRST via the broadcast anti-join (the OVER-cap list
    is tiny by definition; the full degree frame is CUSTOMER-sized and
    must never broadcast), after which every surviving customer has
    <= PROJ_HUB_CAP suppliers — so directed pairs come from a bounded
    collect_set + map-side explode, no join. Three pinned-width
    exchanges total (see _bounded_width), each reused by everything
    downstream of it: (1) incidence on cust — dedup, hub degrees, and
    the set-collect all run on it; (2) pairs on a — the weight
    aggregation (clustering (a, b) accepts the subset partitioning)
    AND the per-a top-k window run on it with no further shuffle;
    (3) canonical (x, y) — mutuality is count(directions) == 2 per
    undirected key, replacing the reversed-key self-join (top-k rows
    are unique per (a, b), so both-directions-kept <=> count 2).
    Shared-persisted: triangle count and link prediction probe one
    cached copy per (session, corpus).

    Width (r14): the three exchanges carry fact-proportional volume
    (incidence ~ one row per lineitem; pairs ~ incidence x avg
    per-customer fan-out, measured ~10x the incidence bytes), so the
    pinned width derives from the lineitem footer count like the
    trade-edge build — the x30 audit measured the pairs exchange at
    1.4 GB crammed into the fixed session width (45.8 MB worst task,
    growing linearly with the corpus: 15.5 MB at x10). Committed SFs
    floor at the session constant, plans unchanged.
    """

    def build():
        width = _edge_build_width(spark, sf_dir)
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        # same floor-width join seam as the trade-edge build — see
        # _fact_join_input
        li = _fact_join_input(spark, sf_dir, li, "l_orderkey")
        # PAIR width here, not fact width: this partitioning is reused
        # unbroken through the dedup, the hub anti-join, collect_set,
        # and — critically — the explode² MAP stage that fans each
        # per-customer set out to ~KNN_PAIR_FANOUT x the incidence
        # rows. At the fact width the x100 audit measured that map
        # stage shuffle-write-sort-spilling 3.8-10.8 GB (240 tasks x
        # ~2.5 M emitted pairs); at pair width each task emits ~250 k/
        # KNN_PAIR_FANOUT sets' worth and the write buffer fits.
        inc = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
            .repartition(_pair_stream_width(spark, sf_dir), "cust")
            .dropDuplicates()
        )
        hubs = (
            inc.groupBy("cust")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") > PROJ_HUB_CAP)
            .select("cust")
        )
        small = inc.join(F.broadcast(hubs), "cust", "left_anti")
        grouped = small.groupBy("cust").agg(F.collect_set("supp").alias("ss"))
        pairs = (
            grouped.select(F.explode("ss").alias("a"), "ss")
            .select("a", F.explode("ss").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        # pair-volume width, not fact width: the explode² fans out
        # ~KNN_PAIR_FANOUT x the incidence rows (see _pair_stream_width;
        # x100 measured 16.5 GB of spill at the fact-derived width).
        # The (a,b) aggregation and the per-a top-k window both reuse
        # this partitioning — one exchange carries the whole stream.
        w = (
            pairs.repartition(_pair_stream_width(spark, sf_dir), "a")
            .groupBy("a", "b")
            .agg(F.count("*").alias("n_common"))
        )
        win = W.partitionBy("a").orderBy(F.col("n_common").desc(), F.col("b").asc())
        topk = (
            w.withColumn("rk", F.row_number().over(win))
            .filter(F.col("rk") <= KNN_K)
            .select("a", "b")
        )
        return (
            topk.select(
                F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
            )
            .repartition(width, "x", "y")
            .groupBy("x", "y")
            .agg(F.count("*").alias("n_dir"))
            .filter(F.col("n_dir") == 2)
            .select(F.col("x").alias("a"), F.col("y").alias("b"))
        )

    return shared_persist(spark, "graph_knn_edges", sf_dir, build)


#: Shared SQL prefix rebuilding the trade graph's distinct (customer,
#: supplier) pairs in DuckDB — the oracle twin of ``_trade_edges``'
#: dedup. ``_TRADE_EDGES_CTE`` adds the edges in both directions.
_TRADE_PAIRS_CTE = f"""
    WITH pairs AS (
        SELECT DISTINCT o_custkey + {NODE_OFFSET} AS cust_node, l_suppkey AS supp_node
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )"""
_TRADE_EDGES_CTE = _TRADE_PAIRS_CTE + """,
    edges AS (
        SELECT cust_node AS src, supp_node AS dst FROM pairs
        UNION ALL
        SELECT supp_node, cust_node FROM pairs
    )"""

#: Shared SQL prefix rebuilding the mutual-kNN edge list in DuckDB —
#: the oracle twin of ``_knn_copurchase_edges``.
_KNN_EDGES_CTE = f"""
    WITH pairs AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    cdeg AS (SELECT cust, count(*) AS d FROM pairs GROUP BY cust),
    small AS (
        SELECT pairs.cust, supp FROM pairs
        JOIN cdeg ON pairs.cust = cdeg.cust AND cdeg.d <= {PROJ_HUB_CAP}
    ),
    w AS (
        SELECT a.supp AS a, b.supp AS b, count(*) AS n_common
        FROM small a JOIN small b ON a.cust = b.cust AND a.supp <> b.supp
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT a, b, row_number() OVER (
            PARTITION BY a ORDER BY n_common DESC, b ASC) AS rk
        FROM w
    ),
    topk AS (SELECT a, b FROM ranked WHERE rk <= {KNN_K}),
    mutual AS (
        SELECT t1.a AS a, t1.b AS b
        FROM topk t1 JOIN topk t2 ON t1.a = t2.b AND t1.b = t2.a
        WHERE t1.a < t1.b
    )"""


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the mutual-kNN co-purchase
    graph — the local-clustering diagnostic (triangle-rich nodes sit in
    tight communities; triangle counts also feed truss decomposition).

    Distributed node-iterator algorithm on ID-oriented edges (a < b):
    wedges from two oriented edges sharing the middle node, closed by
    an equi-join against the oriented edge list — each triangle
    (x < y < z) is generated exactly once, never a cross join. Every
    join keys on node ids; fan-out per node is bounded by the kNN
    degree cap (<= KNN_K), so wedge volume is at most K^2 per node at
    any corpus scale. One row per node in >= 1 triangle.
    """
    e = _knn_copurchase_edges(spark, sf_dir)
    # Deliberately UNPINNED (round 10): these equi-joins shuffle the
    # cached node-x-K edge list via ENSURE_REQUIREMENTS exchanges,
    # which AQE coalesces to a handful of tasks at any conf width —
    # measured 0.6 s factory / acceptable vanilla, while pinned
    # REPARTITION_BY_NUM (exempt from coalescing) cost 1.6 s factory.
    # The conf-width hazard this module pins elsewhere applies to
    # repartitions AQE cannot shrink, not to these.
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("wy"), F.col("b").alias("z"))
    wedges = e1.join(e2, F.col("y") == F.col("wy")).select("x", "y", "z")
    closing = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = wedges.join(closing, ["x", "z"]).select("x", "y", "z")
    nodes = (
        tri.select(F.col("x").alias("supp"))
        .unionAll(tri.select(F.col("y").alias("supp")))
        .unionAll(tri.select(F.col("z").alias("supp")))
    )
    return nodes.groupBy("supp").agg(F.count("*").alias("n_triangles"))


def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node: triangles through the
    node divided by its wedge capacity d*(d-1)/2 — the classic
    small-world/community-tightness measure (Watts & Strogatz 1998),
    composing the shared triangle machinery with the degree table.

    Pure composition over the cached kNN edge artifact: undirected
    degrees in one aggregation, triangle participation from the same
    node-iterator join as ``graph_triangle_count``, a left join so
    triangle-free nodes report 0. The coefficient divides exact
    integers; nodes with degree < 2 have no wedges and are excluded
    (coefficient undefined).
    """
    e = _knn_copurchase_edges(spark, sf_dir)
    und = e.select(F.col("a").alias("node")).unionAll(
        e.select(F.col("b").alias("node"))
    )
    # Unpinned like the triangle joins: ENSURE_REQUIREMENTS exchanges
    # over the cached edge list coalesce under AQE at any conf width.
    deg = und.groupBy("node").agg(F.count("*").alias("degree"))
    tri = graph_triangle_count(spark, sf_dir).select(
        F.col("supp").alias("node"), "n_triangles"
    )
    j = deg.filter(F.col("degree") >= 2).join(tri, "node", "left").fillna(
        0, subset=["n_triangles"]
    )
    wedges = (F.col("degree") * (F.col("degree") - 1) / 2).cast("double")
    return j.select(
        "node",
        "degree",
        F.col("n_triangles").cast("bigint").alias("n_triangles"),
        round_half_up(F.col("n_triangles").cast("double") / wedges, 4).alias(
            "clustering_coef"
        ),
    )


def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the mutual-kNN graph:
    score every NON-adjacent supplier pair with >= LP_MIN_COMMON shared
    neighbors by neighborhood Jaccard |N(a) inter N(b)| / |N(a) union
    N(b)| — the classic baseline (Liben-Nowell & Kleinberg) that a
    recommender runs before anything learned.

    Plan (r16 — formerly a wedge SELF-JOIN on the shared neighbor,
    guide §2.4): per-node neighbor SETS from one collect_set over the
    symmetric adjacency — mutual-kNN degree is <= KNN_K by
    construction, so every set is K-bounded — then the a < b pairs
    explode MAP-SIDE from each set (the supplier_projection /
    cooccurrence shape), count per candidate pair, anti-join the
    existing edge set, broadcast the node-degree table. One exchange
    (group on x) replaces the self-join's two shuffle sides, and the
    degree table falls out of the SAME aggregate as size(ns) (adj is
    duplicate-free, so size == count). The Jaccard divides two exact
    integers (one IEEE divide, no sum order anywhere), rounded
    half-up at 4 dp.
    """
    e = _knn_copurchase_edges(spark, sf_dir)
    adj = e.select(F.col("a").alias("x"), F.col("b").alias("y")).unionAll(
        e.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    nbrs = adj.groupBy("x").agg(F.collect_set("y").alias("ns"))
    wedge = (
        nbrs.select(F.explode("ns").alias("supp_a"), "ns")
        .select("supp_a", F.explode("ns").alias("supp_b"))
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= LP_MIN_COMMON)
    )
    non_edge = wedge.join(
        e,
        (wedge.supp_a == e.a) & (wedge.supp_b == e.b),
        "left_anti",
    )
    # KNN-graph degrees are supplier-sized (a dim in this schema, and
    # further K-capped) — broadcast is the deliberate, plan-pinned
    # shape (tests/test_plans.py). At a scale where the node set
    # outgrows broadcast, drop the hints and AQE re-plans these as
    # shuffle joins.
    degrees = nbrs.select(F.col("x").alias("node"), F.size("ns").alias("deg"))
    da = degrees.select(F.col("node").alias("supp_a"), F.col("deg").alias("deg_a"))
    db = degrees.select(F.col("node").alias("supp_b"), F.col("deg").alias("deg_b"))
    scored = non_edge.join(F.broadcast(da), "supp_a").join(F.broadcast(db), "supp_b")
    jaccard = F.col("n_common") / (F.col("deg_a") + F.col("deg_b") - F.col("n_common"))
    return scored.select(
        "supp_a",
        "supp_b",
        "n_common",
        round_half_up(jaccard, 4).alias("jaccard"),
    )


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the trade graph — Pearson correlation of
    endpoint degrees over all directed edges (Newman 2002). Negative
    values (hubs attach to leaves) predict hub-failure fragility and
    tell the engine which joins need skew handling; social graphs run
    positive, bipartite trade/web graphs negative.

    Exactness discipline shared with rel_price_balance_correlation:
    degrees are exact integers, the five correlation sums accumulate
    as decimal(38,0) (HUGEINT in the oracle), and the finish is one
    identical IEEE expression over exact values in both engines. Two
    broadcast degree joins onto the edge list, one scalar aggregate —
    nothing beyond the shared edge build touches a fact table.
    """
    edges = _trade_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    ds = deg.select(F.col("src").alias("s"), F.col("d").alias("dx"))
    dd = deg.select(F.col("src").alias("t"), F.col("d").alias("dy"))
    pairs = (
        edges.join(F.broadcast(ds), edges.src == ds.s)
        .join(F.broadcast(dd), edges.dst == dd.t)
        .select(
            F.col("dx").cast("decimal(38,0)").alias("x"),
            F.col("dy").cast("decimal(38,0)").alias("y"),
        )
    )
    sums = pairs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    r = (n * F.col("sxy").cast("double") - sx * sy) / (
        F.sqrt(n * F.col("sxx").cast("double") - sx * sx)
        * F.sqrt(n * F.col("syy").cast("double") - sy * sy)
    )
    return sums.select(
        F.col("n").alias("n_edges"), round_half_up(r, 4).alias("assortativity")
    )


#: BFS: seed nodes are graph nodes whose id divides this; rounds cap
#: the frontier expansion (diameter of the mutual-kNN graph is small).
BFS_SEED_MOD = 20
BFS_ROUNDS = 3


def graph_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the mutual-kNN co-purchase graph:
    min-hop distance from a seed supplier set, frontier-expanded for
    ``BFS_ROUNDS`` rounds — the reachability primitive behind blast-
    radius analysis ("which suppliers are within 3 hops of these").

    The Pregel-shaped loop: each round joins ONLY the current frontier
    (not the whole visited set) against the edge list, anti-joins away
    already-visited nodes, and tags survivors with the round number.
    Each round's visited set goes through ``catalog.truncate_lineage``,
    which is why this loop stays outside ``catalog.iterate`` (see below);
    the whole fixpoint runs once per (session, corpus) via the shared
    registry, and the edge list is the same cached artifact the
    triangle/assortativity/link-prediction queries probe.
    """

    def build():
        with scoped_conf(spark, _FLOOR_CONF) as set_conf:
            edges = _knn_copurchase_edges(spark, sf_dir)
            set_conf(_fixpoint_conf(edges.count()))
            und = (
                edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
                .union(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
                .persist()
            )
            nodes = und.select(F.col("src").alias("node")).distinct()
            # Eager lineage truncation per round (the MMR-loop
            # discipline, similarity._mmr_build): it keeps re-planning
            # flat AND keeps the final frame's rows valid —
            # persist+unpersist chains here left the registry holding a
            # frame whose every count re-ran the whole loop (~5 s).
            # Superseded local-checkpoint RDDs are released by the
            # ContextCleaner when the Python reference drops.
            visited = truncate_lineage(
                nodes.filter(F.col("node") % BFS_SEED_MOD == 0).withColumn("dist", F.lit(0))
            )
            for r in range(1, BFS_ROUNDS + 1):
                frontier = visited.filter(F.col("dist") == r - 1)
                reached = (
                    frontier.join(und, frontier.node == und.src)
                    .select(F.col("dst").alias("node"))
                    .distinct()
                )
                visited = truncate_lineage(
                    visited.unionByName(
                        reached.join(visited, "node", "left_anti").withColumn(
                            "dist", F.lit(r)
                        )
                    )
                )
            und.unpersist()
            return visited

    out = shared_persist(spark, "graph_bfs_dist", sf_dir, build)
    return out.select("node", F.col("dist").cast("int").alias("dist"))


def _bfs_oracle_sql() -> str:
    """Round-unrolled BFS twin: d_r = neighbors(d_{r-1}) minus all
    earlier levels, same seed rule.

    The level CTEs (and the edge list they all probe) are
    ``MATERIALIZED``: each level references every earlier level, so
    letting DuckDB inline them expands the chain exponentially —
    re-deriving the whole kNN pipeline per reference, which spilled
    past local temp-disk at sf0.1 (sf0.01 hid it). Materialization
    pins each level to one evaluation; 2.6 s at sf0.1.
    """
    levels = [
        "d0 AS MATERIALIZED (SELECT node, 0 AS dist FROM nodes WHERE node % {m} = 0)".format(m=BFS_SEED_MOD)
    ]
    for r in range(1, BFS_ROUNDS + 1):
        prev_union = " UNION ALL ".join(f"SELECT node FROM d{i}" for i in range(r))
        levels.append(
            f"""d{r} AS MATERIALIZED (
                SELECT node, {r} AS dist FROM (
                    SELECT DISTINCT u.dst AS node
                    FROM d{r - 1} f JOIN und u ON u.src = f.node
                )
                WHERE node NOT IN ({prev_union})
            )"""
        )
    final = " UNION ALL ".join(
        f"SELECT node, dist FROM d{i}" for i in range(BFS_ROUNDS + 1)
    )
    return f"""{_KNN_EDGES_CTE},
        und AS MATERIALIZED (
            SELECT a AS src, b AS dst FROM mutual
            UNION ALL
            SELECT b AS src, a AS dst FROM mutual
        ),
        nodes AS (SELECT DISTINCT src AS node FROM und),
        {", ".join(levels)}
        SELECT node, CAST(dist AS INTEGER) AS dist FROM ({final})
    """


HITS_ITERS = 2


def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the directed
    customer->supplier trade graph: customers score as HUBS (they buy
    from many good suppliers), suppliers as AUTHORITIES (they are
    bought from by many good hubs) — the second classic link-analysis
    algorithm beside PageRank, and a genuinely different shape: two
    mutually-recursive score vectors instead of one.

    Exactness: scores round to ``RANK_DIGITS`` per step, so the next
    step's neighbor sums add exact 1e-8 grains (integer-exact in any
    order); L1 normalization divides two exact integer totals — one
    IEEE division per node per step, identical in both engines (the
    PageRank determinism contract, applied to a normalized iteration).
    Each step is one join + one aggregation per vector on the shared
    edge artifact; iterations materialize eagerly under the scoped
    graph partitioning and release their predecessors.
    """
    grain = float(10**RANK_DIGITS)

    def build():
        with scoped_conf(spark, _FLOOR_CONF) as set_conf:
            # customer -> supplier direction only (the bipartite HITS).
            # The working copy coalesces to the graph-suite partition
            # sizing (the shared artifact keeps the session default):
            # each iteration launches two scan jobs over this frame,
            # and at test SF half the map tasks are pure launch
            # overhead. At cluster scale the width derives from the
            # edge count (_fixpoint_width), same as every other loop
            # in this module.
            base = _trade_edges(spark, sf_dir).filter(F.col("src") >= NODE_OFFSET)
            conf = _fixpoint_conf(base.count())
            set_conf(conf)
            width = conf["spark.sql.shuffle.partitions"]
            # coalesce can only NARROW; when the derived width exceeds
            # the edge frame's current partitioning (possible once the
            # edge count outgrows the x1 floor faster than the
            # lineitem-derived build width) a coalesce silently no-ops
            # and per-task volume blows past GRAPH_EDGES_PER_TASK
            # (ADVICE r13). Widen with a real exchange keyed on src so
            # the per-iteration hub join stays co-located; committed
            # SFs take the coalesce branch (width == build width == 32)
            # so the pinned plans are unchanged.
            if width > base.rdd.getNumPartitions():
                edges = base.repartition(width, "src").persist()
            else:
                edges = base.coalesce(width).persist()
            hubs = (
                edges.select(F.col("src").alias("node")).distinct()
                .withColumn("score", F.lit(1.0))
                .persist()
            )
            auths = None
            # Seed the release list with the initial hubs frame so the
            # end-of-iteration cleanup unpersists it once iteration 0's
            # sums are materialized (it previously leaked for the
            # session's lifetime).
            superseded: list = [hubs]
            for _ in range(HITS_ITERS):
                g = F.floor(F.col("score") * grain + F.lit(0.5)).cast("decimal(38,0)")
                h_g = hubs.select("node", g.alias("g"))
                a_sum = (
                    edges.join(h_g, edges.src == h_g.node)
                    .groupBy("dst")
                    .agg(F.sum("g").alias("node_g"))
                    .persist()
                )
                # The L1 total is a 1-row BOUNDED DRIVER DECISION (the
                # BPE-merge / logreg-epoch doctrine): collect the exact
                # integer-grain scalar and fold it back in as a
                # literal. Never a global window (single-partition sort
                # of a node-sized frame dies at graph scale), and
                # cheaper than a per-iteration broadcast-exchange job:
                # the persisted sum frame is materialized by the
                # collect and reused by the projection below.
                # decimal->double via float(Decimal) is the same
                # nearest-double conversion Spark's cast performs, so
                # the divisions stay engine-identical.
                a_tot = a_sum.agg(F.sum("node_g").alias("__tot")).collect()[0][0]
                if a_tot is None:
                    # Empty filtered edge frame: the 1-row agg returns
                    # NULL and float(None) would raise — degrade to an
                    # empty scored frame (same schema), matching the
                    # oracle's no-rows result (round-7 advice). h_tot
                    # needs no twin guard: a non-empty a_sum forces a
                    # non-empty h_sum (every dst feeding a_sum has a
                    # matching src row in edges).
                    for s in superseded:
                        s.unpersist()
                    a_sum.unpersist()
                    edges.unpersist()
                    return hubs.select(
                        "node", F.lit("hub").alias("role"), "score"
                    ).limit(0)
                auths = a_sum.select(
                    F.col("dst").alias("node"),
                    round_half_up(
                        F.col("node_g").cast("double") / F.lit(float(a_tot)),
                        RANK_DIGITS,
                    ).alias("score"),
                )
                a_g = auths.select(
                    "node",
                    F.floor(F.col("score") * grain + F.lit(0.5))
                    .cast("decimal(38,0)")
                    .alias("g"),
                )
                h_sum = (
                    edges.join(a_g, edges.dst == a_g.node)
                    .groupBy("src")
                    .agg(F.sum("g").alias("node_g"))
                    .persist()
                )
                h_tot = h_sum.agg(F.sum("node_g").alias("__tot")).collect()[0][0]
                new_hubs = h_sum.select(
                    F.col("src").alias("node"),
                    round_half_up(
                        F.col("node_g").cast("double") / F.lit(float(h_tot)),
                        RANK_DIGITS,
                    ).alias("score"),
                )
                for s in superseded:
                    s.unpersist()
                # hubs/auths are cheap projections over these cached
                # sum frames; keep the frames pinned one extra round.
                superseded = [a_sum, h_sum]
                hubs = new_hubs
            out = (
                hubs.select("node", F.lit("hub").alias("role"), "score")
                .unionByName(
                    auths.select("node", F.lit("authority").alias("role"), "score")
                )
                .persist()
            )
            out.count()
            for s in superseded:
                s.unpersist()
            edges.unpersist()
            return out

    return shared_persist(spark, "graph_hits_scores", sf_dir, build)


def _hits_oracle_sql() -> str:
    """Round-unrolled HITS twin: grained neighbor sums + one division
    per step, same customer->supplier direction."""
    grain = 10**RANK_DIGITS
    sql = _TRADE_PAIRS_CTE + """,
        edges AS (
            SELECT cust_node AS src, supp_node AS dst FROM pairs
        ),
        h0 AS (SELECT DISTINCT src AS node, 1.0 AS score FROM edges)"""
    prev_h = "h0"
    for i in range(1, HITS_ITERS + 1):
        sql += f""",
        ag{i} AS (
            SELECT e.dst AS node,
                   sum(CAST(floor(h.score * {grain} + 0.5) AS HUGEINT)) AS node_g
            FROM edges e JOIN {prev_h} h ON e.src = h.node
            GROUP BY e.dst
        ),
        a{i} AS (
            SELECT node,
                   floor((CAST(node_g AS DOUBLE) / CAST(sum(node_g) OVER () AS DOUBLE))
                         * {grain} + 0.5) / {grain} AS score
            FROM ag{i}
        ),
        hg{i} AS (
            SELECT e.src AS node,
                   sum(CAST(floor(a.score * {grain} + 0.5) AS HUGEINT)) AS node_g
            FROM edges e JOIN a{i} a ON e.dst = a.node
            GROUP BY e.src
        ),
        h{i} AS (
            SELECT node,
                   floor((CAST(node_g AS DOUBLE) / CAST(sum(node_g) OVER () AS DOUBLE))
                         * {grain} + 0.5) / {grain} AS score
            FROM hg{i}
        )"""
        prev_h = f"h{i}"
    sql += f"""
        SELECT node, 'hub' AS role, score FROM h{HITS_ITERS}
        UNION ALL
        SELECT node, 'authority' AS role, score FROM a{HITS_ITERS}
    """
    return sql


QUERIES = {
    "graph_clustering_coefficient": graph_clustering_coefficient,
    "graph_hits_scores": graph_hits_scores,
    "graph_bfs_reach": graph_bfs_reach,
    "graph_degree_assortativity": graph_degree_assortativity,
    "graph_modularity_report": graph_modularity_report,
    "graph_label_propagation": graph_label_propagation,
    "graph_triangle_count": graph_triangle_count,
    "graph_jaccard_link_prediction": graph_jaccard_link_prediction,
    "graph_pagerank_trade": graph_pagerank_trade,
    "graph_personalized_pagerank": graph_personalized_pagerank,
    "graph_kcore_prune": graph_kcore_prune,
    "graph_degree_distribution": graph_degree_distribution,
    "graph_supplier_projection": graph_supplier_projection,
}

ORACLES = {
    "graph_hits_scores": _hits_oracle_sql(),
    "graph_bfs_reach": _bfs_oracle_sql(),
    "graph_degree_assortativity": _TRADE_EDGES_CTE
    + """,
        deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
        ep AS (
            SELECT CAST(ds.d AS HUGEINT) AS x, CAST(dd.d AS HUGEINT) AS y
            FROM edges e
            JOIN deg ds ON e.src = ds.src
            JOIN deg dd ON e.dst = dd.src
        ),
        sums AS (
            SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
            FROM ep
        )
        SELECT CAST(n AS BIGINT) AS n_edges,
               floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                     * 10000.0 + 0.5) / 10000.0 AS assortativity
        FROM sums
    """,
    "graph_triangle_count": _KNN_EDGES_CTE
    + """,
        tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM mutual e1
            JOIN mutual e2 ON e1.b = e2.a
            JOIN mutual e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        nodes AS (
            SELECT x AS supp FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        )
        SELECT supp, CAST(count(*) AS BIGINT) AS n_triangles
        FROM nodes GROUP BY supp
    """,
    "graph_jaccard_link_prediction": _KNN_EDGES_CTE
    + f""",
        adj AS (
            SELECT a AS x, b AS y FROM mutual
            UNION ALL SELECT b, a FROM mutual
        ),
        wedge AS (
            SELECT l.y AS supp_a, r.y AS supp_b, count(*) AS n_common
            FROM adj l JOIN adj r ON l.x = r.x AND l.y < r.y
            GROUP BY 1, 2
            HAVING count(*) >= {LP_MIN_COMMON}
        ),
        nonedge AS (
            SELECT w.* FROM wedge w
            ANTI JOIN mutual m ON w.supp_a = m.a AND w.supp_b = m.b
        ),
        degs AS (SELECT x AS node, count(*) AS deg FROM adj GROUP BY x)
        SELECT n.supp_a, n.supp_b, CAST(n.n_common AS BIGINT) AS n_common,
               floor(CAST(n.n_common AS DOUBLE)
                     / (da.deg + db.deg - n.n_common) * 10000.0 + 0.5)
                   / 10000.0 AS jaccard
        FROM nonedge n
        JOIN degs da ON n.supp_a = da.node
        JOIN degs db ON n.supp_b = db.node
    """,
    "graph_supplier_projection": f"""
        WITH pairs AS (
            SELECT DISTINCT o_custkey + {NODE_OFFSET} AS cust, l_suppkey AS supp
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        deg AS (SELECT cust, count(*) AS d FROM pairs GROUP BY cust),
        small AS (
            SELECT pairs.cust, supp FROM pairs
            JOIN deg ON pairs.cust = deg.cust AND deg.d <= {PROJ_HUB_CAP}
        )
        SELECT a.supp AS supp_a, b.supp AS supp_b,
               CAST(count(*) AS BIGINT) AS n_common
        FROM small a JOIN small b
          ON a.cust = b.cust AND a.supp < b.supp
        GROUP BY a.supp, b.supp
        HAVING count(*) >= {PROJ_MIN_COMMON}
    """,
    "graph_label_propagation": _lpa_oracle_sql(),
    "graph_modularity_report": _modularity_oracle_sql(),
    "graph_pagerank_trade": _pagerank_oracle_sql(),
    "graph_personalized_pagerank": _ppr_oracle_sql(),
    "graph_kcore_prune": _kcore_oracle_sql(),
    "graph_degree_distribution": _TRADE_PAIRS_CTE
    + f""",
        edges AS (
            SELECT cust_node AS src FROM pairs
            UNION ALL
            SELECT supp_node FROM pairs
        ),
        deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY src)
        SELECT CASE WHEN src >= {NODE_OFFSET} THEN 'customer' ELSE 'supplier' END AS side,
               CAST(degree AS BIGINT) AS degree,
               CAST(count(*) AS BIGINT) AS n_nodes
        FROM deg
        GROUP BY 1, degree
    """,
}

ORACLES["graph_clustering_coefficient"] = _KNN_EDGES_CTE + """,
    und AS (SELECT a AS node FROM mutual UNION ALL SELECT b FROM mutual),
    deg AS (SELECT node, count(*) AS degree FROM und GROUP BY node),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM mutual e1
        JOIN mutual e2 ON e1.b = e2.a
        JOIN mutual e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tnodes AS (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ),
    tcount AS (SELECT node, count(*) AS n_triangles FROM tnodes GROUP BY node)
    SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
           CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           floor((CAST(coalesce(t.n_triangles, 0) AS DOUBLE)
                  / (CAST(d.degree AS DOUBLE) * (d.degree - 1) / 2))
                 * 10000.0 + 0.5) / 10000.0 AS clustering_coef
    FROM deg d LEFT JOIN tcount t ON t.node = d.node
    WHERE d.degree >= 2
"""
