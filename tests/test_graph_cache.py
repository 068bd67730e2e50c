"""Cache hygiene for the iterative graph loops (round-3 verdict #4).

Contract: the trade-graph edge list is built and persisted ONCE per
(session, corpus) via the catalog's shared_persist registry, shared by
PageRank / k-core / degree distribution; iterative loops release every
superseded per-round frame; and a second invocation of an iterative
query is a pure registry hit (zero new cached RDDs).
"""

from pyspark.sql import functions as F

from mit_map_reduce_spark.catalog import _CHECKPOINT_RDDS, _SHARED_CACHE
from mit_map_reduce_spark.operators.graph import (
    PR_ITERS,
    graph_degree_distribution,
    graph_kcore_prune,
    graph_pagerank_trade,
)
from tests.util import spark_jobs


def _cached_rdd_ids(spark):
    # The SET of persisted RDD ids, not their count: a test diffs the
    # ids before and after a call, so an earlier test's RDD released
    # mid-call (GC, async unpersist) cannot shift the result.
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _registry_keys(spark, sf_dir):
    return {k[1] for k in _SHARED_CACHE if k[0] == id(spark) and k[2] == sf_dir}


def test_graph_queries_share_one_edge_list(spark, sf_dir):
    graph_degree_distribution(spark, sf_dir).collect()
    # Order-robust: if another test in this session already ran
    # PageRank, its ranks are a registry hit and add ZERO frames.
    already = "graph_pagerank_ranks" in _registry_keys(spark, sf_dir)
    before = _cached_rdd_ids(spark)
    graph_pagerank_trade(spark, sf_dir).collect()
    new = _cached_rdd_ids(spark) - before
    keys = _registry_keys(spark, sf_dir)
    assert "trade_edges" in keys and "graph_pagerank_ranks" in keys
    # PageRank adds exactly ONE resident frame, its final ranks (the
    # registry's checkpointed copy): the edge list was a registry hit
    # and all superseded per-iteration frames were released (round 3
    # kept all PR_ITERS of them).
    ranks = _CHECKPOINT_RDDS[(id(spark), "graph_pagerank_ranks", sf_dir)]
    assert new == (set() if already else {ranks.id()}), (new, PR_ITERS)


def test_second_invocation_is_registry_hit(spark, sf_dir):
    first = graph_kcore_prune(spark, sf_dir).collect()
    before = _cached_rdd_ids(spark)
    second = graph_kcore_prune(spark, sf_dir).collect()
    assert _cached_rdd_ids(spark) - before == set()  # zero new cached frames
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_cc_fixpoint_is_registry_backed(spark, sf_dir):
    # Same contract for the dedup connected-components fixpoint: the
    # loop runs once per (session, corpus); a second invocation adds
    # zero cached frames and returns identical labels (bench calls
    # every query 3x — without the registry each call re-ran the loop
    # and re-persisted identical lineage).
    from mit_map_reduce_spark.operators.dedup import dedup_connected_components

    first = dedup_connected_components(spark, sf_dir).collect()
    assert "dedup_cc_labels" in _registry_keys(spark, sf_dir)
    before = _cached_rdd_ids(spark)
    second = dedup_connected_components(spark, sf_dir).collect()
    assert _cached_rdd_ids(spark) - before == set()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_hits_degrades_to_empty_frame_on_empty_edges(spark, sf_dir, tmp_path):
    """An empty trade graph (no lineitem/orders rows) must yield an
    empty scored frame with the (node, role, score) schema — the 1-row
    L1-total agg returns NULL there and an unguarded float(None) raised
    TypeError (round-7 advice)."""
    from mit_map_reduce_spark.catalog import TABLES, table_path
    from mit_map_reduce_spark.operators.graph import graph_hits_scores

    src = sf_dir
    empty_sf = str(tmp_path / "sf_empty")
    for name in TABLES:
        df = spark.read.parquet(table_path(src, name))
        if name in ("lineitem", "orders"):
            df = df.limit(0)
        df.write.parquet(table_path(empty_sf, name))
    out = graph_hits_scores(spark, empty_sf)
    assert [f.name for f in out.schema.fields] == ["node", "role", "score"]
    assert out.count() == 0


def test_fixpoint_conf_restore_preserves_caller_coalescing(spark):
    """A fixpoint scope must put back the CAPTURED pre-scope coalescing
    value, not a hard-coded "true": a session that deliberately
    disabled AQE coalescing stays disabled after a fixpoint scope
    (r14 ADVICE). The width set later in the block is restored too."""
    from mit_map_reduce_spark.catalog import scoped_conf
    from mit_map_reduce_spark.operators.graph import (
        _FLOOR_CONF,
        GRAPH_SHUFFLE_PARTITIONS,
        _fixpoint_conf,
    )

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    width_key = "spark.sql.shuffle.partitions"
    # committed SFs stay at the floor and leave coalescing alone
    assert _fixpoint_conf(1_173_742) == {width_key: GRAPH_SHUFFLE_PARTITIONS}
    before = spark.conf.get(key, None)
    width_before = spark.conf.get(width_key)
    try:
        spark.conf.set(key, "false")
        with scoped_conf(spark, _FLOOR_CONF) as set_conf:
            assert spark.conf.get(width_key) == str(GRAPH_SHUFFLE_PARTITIONS)
            # Width past the floor flips coalescing off inside the scope...
            conf = _fixpoint_conf(250_000 * 64)
            assert conf[width_key] > GRAPH_SHUFFLE_PARTITIONS
            set_conf(conf)
            assert spark.conf.get(width_key) == str(conf[width_key])
            assert spark.conf.get(key) == "false"
        # ...and restore yields the caller's "false", not "true".
        assert spark.conf.get(key) == "false"
        assert spark.conf.get(width_key) == width_before
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_scoped_conf_nests_and_unsets_keys_the_caller_never_set(spark):
    from mit_map_reduce_spark.catalog import scoped_conf

    key = "spark.sql.sources.partitionOverwriteMode"
    width_key = "spark.sql.shuffle.partitions"
    assert spark.conf.get(key, None) is None
    width_before = spark.conf.get(width_key)
    with scoped_conf(spark, {width_key: 7}):
        with scoped_conf(spark, {width_key: 5, key: "dynamic"}) as set_conf:
            set_conf({width_key: 3})
            assert spark.conf.get(width_key) == "3"
        assert spark.conf.get(width_key) == "7"
        assert spark.conf.get(key, None) is None
    assert spark.conf.get(width_key) == width_before


def test_iterate_materializes_each_round_and_releases_its_predecessor(spark, monkeypatch):
    """catalog.iterate, the one fixed-round loop: each round's frame is
    persisted and counted BEFORE its predecessor is released; a lazy
    seed is never unpersisted, a persisted seed is released after
    round 1, and only the last round stays cached. The Spark jobs are
    exactly ``rounds`` materializing counts: under AQE one count of a
    newly persisted frame is itself several jobs, so the unit is
    measured, not assumed."""
    from mit_map_reduce_spark.catalog import iterate

    rounds = 3
    probe = spark.range(8).select((F.col("id") + 1).alias("id")).persist()
    per_round = spark_jobs(spark, probe.count)
    probe.unpersist()
    cls = type(spark.range(1))
    log = []
    for op in ("persist", "unpersist", "count"):
        orig = getattr(cls, op)

        def spy(self, *a, _op=op, _orig=orig, **kw):
            log.append((_op, id(self)))
            return _orig(self, *a, **kw)

        monkeypatch.setattr(cls, op, spy)

    def run(seed):
        frames = [seed]

        def step(cur):
            assert cur is frames[-1]
            # the input round is still cached while its successor builds
            assert cur is seed or cur.storageLevel.useMemory
            frames.append(cur.select((F.col("id") + 1).alias("id")))
            return frames[-1]

        log.clear()
        box = []
        jobs = spark_jobs(spark, lambda: box.append(iterate(seed, step, rounds)))
        assert box[0] is frames[-1] and jobs == rounds * per_round
        assert sorted(r.id for r in box[0].collect()) == list(range(rounds, rounds + 8))
        ids = [id(f) for f in frames]
        return frames, [(op, ids.index(i)) for op, i in log]

    def expected(release_seed):
        out = []
        for r in range(1, rounds + 1):
            out += [("persist", r), ("count", r)]
            if r > 1 or release_seed:
                out.append(("unpersist", r - 1))
        return out

    frames, events = run(spark.range(8))  # lazy seed: never touched
    assert events == expected(release_seed=False)
    assert [f.storageLevel.useMemory for f in frames] == [False] * rounds + [True]
    frames[-1].unpersist()

    seed = spark.range(8).persist()  # persisted seed: released after round 1
    seed.count()
    frames, events = run(seed)
    assert events == expected(release_seed=True)
    assert [f.storageLevel.useMemory for f in frames] == [False] * rounds + [True]
    frames[-1].unpersist()
