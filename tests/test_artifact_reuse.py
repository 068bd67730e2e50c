"""Second-invocation determinism for artifact-backed queries.

Several queries materialize a reusable side artifact on first use (IVF
centroids, bucketed warehouse tables, source-format round-trip copies)
or probe session-shared caches (normed embeddings, shingle arrays,
SimHash fingerprints). The driver and bench call each query more than
once across a round, so the SECOND invocation — the one that hits the
artifact/cache instead of building it — must produce byte-identical
results. A stale or half-keyed artifact shows up here as a diff.
"""

import pytest

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()

ARTIFACT_BACKED = [
    "sim_ann_ivf_topk",  # parquet centroid artifact
    "rel_bucketed_join_revenue",  # bucketed saveAsTable pair
    "src_csv_roundtrip_orders",  # csv scratch copy
    "src_partitioned_pruning_events",  # partitioned scratch copy
    "dedup_simhash_band_pairs",  # shared_persist fingerprint cache
    "sketch_cms_heavy_hitters",  # pure recompute (control)
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", ARTIFACT_BACKED)
def test_second_invocation_identical(spark, sf_dir, name):
    first = _rows(QUERIES[name](spark, sf_dir))
    second = _rows(QUERIES[name](spark, sf_dir))
    assert first == second
    assert len(first) > 0


def test_artifact_keys_track_corpus_content(tmp_path):
    """Regenerating a source table in place must yield a DIFFERENT
    artifact key (round-4 advice: path-only keys aggregate stale bytes
    after the driver rewrites testdata)."""
    import os
    import shutil

    from mit_map_reduce_spark.catalog import corpus_fingerprint, table_path
    from mit_map_reduce_spark.operators.sources_queries import _artifact_dir

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy("/root/testdata/sf0.001/orders.parquet", table_path(str(sf), "orders"))
    k1 = _artifact_dir(str(sf), "csv", "orders")
    fp1 = corpus_fingerprint(str(sf), "orders")
    # simulate in-place regeneration: same path, new bytes/mtime
    p = table_path(str(sf), "orders")
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    k2 = _artifact_dir(str(sf), "csv", "orders")
    fp2 = corpus_fingerprint(str(sf), "orders")
    assert fp1 != fp2
    assert k1 != k2
    # unchanged content -> stable key (artifacts still reused)
    assert _artifact_dir(str(sf), "csv", "orders") == k2


def test_publish_protocol_write_once_and_marker(tmp_path):
    """The winner writes once, publishes atomically (marker inside the
    renamed dir), and every later call reuses without re-invoking the
    writer."""
    from mit_map_reduce_spark.catalog import (
        _PUBLISH_MARKER,
        _is_published,
        publish_once,
    )

    out = str(tmp_path / "art")
    calls = []

    def write(d):
        import os

        os.makedirs(d, exist_ok=True)
        calls.append(d)
        with open(os.path.join(d, "data.txt"), "w") as fh:
            fh.write("x")

    got1 = publish_once(write, out)
    got2 = publish_once(write, out)
    assert got1 == got2 == out
    assert len(calls) == 1
    assert _is_published(out)
    import os

    assert os.path.exists(os.path.join(out, _PUBLISH_MARKER))
    assert not os.path.exists(out + ".lock")  # lock released


def test_publish_cold_call_records_one_build_event(tmp_path, monkeypatch):
    """A publish this process writes is a cold build: exactly one build
    event, labelled by the artifact kind (no content key, so the label
    is the same in every session). Reusing the artifact records none."""
    import os

    from mit_map_reduce_spark import catalog

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    out = str(tmp_path / "mmrs_kind" / "0123abcd4567" / "part")
    catalog.drain_build_events()
    catalog.publish_once(os.makedirs, out)
    cold = catalog.drain_build_events()
    catalog.publish_once(os.makedirs, out)
    assert [label for label, _ in cold] == ["mmrs_kind/part"]
    assert catalog.drain_build_events() == []


def test_publish_sweeps_aged_crash_leftovers(tmp_path):
    """A writer that crashed between its rename steps leaves orphan
    .tmp*/.trash* siblings nothing else reclaims (round-8 advice): the
    next lock-winning writer sweeps AGED ones (beyond 4x the lock TTL;
    a live writer touches its temp dir) and keeps FRESH ones (a
    concurrent live writer's in-flight dir must survive)."""
    import os
    import time

    from mit_map_reduce_spark.catalog import (
        _LOCK_TTL_S,
        _is_published,
        publish_once,
    )

    out = str(tmp_path / "art")
    aged_tmp, aged_trash = out + ".tmpdead1234", out + ".trashdead567"
    fresh_tmp = out + ".tmplive9999"
    for d in (aged_tmp, aged_trash, fresh_tmp):
        os.makedirs(d)
        with open(os.path.join(d, "junk.txt"), "w") as fh:
            fh.write("x")
    old = time.time() - (4 * _LOCK_TTL_S + 60)
    for d in (aged_tmp, aged_trash):
        os.utime(d, (old, old))

    def write(d):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "data.txt"), "w") as fh:
            fh.write("x")

    got = publish_once(write, out)
    assert got == out and _is_published(out)
    assert not os.path.exists(aged_tmp)
    assert not os.path.exists(aged_trash)
    assert os.path.exists(fresh_tmp)


def test_publish_protocol_expires_stale_lock(tmp_path):
    """A lock left by a crashed writer (old mtime, nothing published)
    is expired so the SHARED path heals — no lock wait, no pid-private
    copy (round-6 ADVICE)."""
    import os
    import time

    from mit_map_reduce_spark.catalog import (
        _LOCK_TTL_S,
        _is_published,
        publish_once,
    )

    out = str(tmp_path / "art")
    lock = out + ".lock"
    os.makedirs(lock)
    old = time.time() - (_LOCK_TTL_S + 60)
    os.utime(lock, (old, old))

    def write(d):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "data.txt"), "w") as fh:
            fh.write("x")

    t0 = time.monotonic()
    got = publish_once(write, out)
    assert time.monotonic() - t0 < 5.0  # healed, did not wait out the loop
    assert got == out
    assert _is_published(out)
    assert not os.path.exists(lock)


def test_publish_protocol_fresh_lock_falls_back_private(tmp_path, monkeypatch):
    """A FRESH lock (writer plausibly alive) is respected: after the
    bounded wait the caller writes a session-private copy and returns
    its path — correctness before reuse."""
    import os

    from mit_map_reduce_spark import catalog
    from mit_map_reduce_spark.catalog import _is_published, publish_once

    monkeypatch.setattr(catalog, "_LOCK_POLL_S", 0.001)
    monkeypatch.setattr(catalog, "_LOCK_WAIT_S", 0.05)
    out = str(tmp_path / "art")
    os.makedirs(out + ".lock")  # fresh mtime: looks in-flight

    def write(d):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "data.txt"), "w") as fh:
            fh.write("x")

    got = publish_once(write, out)
    assert got != out and got.startswith(out + ".pid")
    assert _is_published(got)
    assert not _is_published(out)


def test_publish_loser_waits_only_while_the_lock_is_fresh(tmp_path, monkeypatch):
    """A loser keeps waiting while the writer's lock stays fresh and
    reuses its publish (no private rewrite); a lock gone stale (older
    than half the TTL, not yet expirable) ends the wait at once."""
    import os
    import threading
    import time

    from mit_map_reduce_spark import catalog

    monkeypatch.setattr(catalog, "_LOCK_POLL_S", 0.01)
    calls = []

    def write(d):
        calls.append(d)
        os.makedirs(d, exist_ok=True)

    out = str(tmp_path / "live")
    os.makedirs(out + ".lock")

    def writer_publishes():
        time.sleep(0.3)
        os.makedirs(out)
        with open(os.path.join(out, catalog._PUBLISH_MARKER), "w") as fh:
            fh.write("ok\n")
        os.rmdir(out + ".lock")

    t = threading.Thread(target=writer_publishes)
    t.start()
    try:
        assert catalog.publish_once(write, out) == out
    finally:
        t.join(timeout=10)
    assert not t.is_alive()
    assert calls == []

    out = str(tmp_path / "dead")
    os.makedirs(out + ".lock")
    old = time.time() - (catalog._LOCK_TTL_S / 2 + 10)
    os.utime(out + ".lock", (old, old))
    t0 = time.monotonic()
    got = catalog.publish_once(write, out)
    assert time.monotonic() - t0 < 5.0  # not the 900 s wait bound
    assert got == out + f".pid{os.getpid()}" and catalog._is_published(got)


def test_publish_writer_keeps_lock_and_temp_dir_fresh(tmp_path, monkeypatch):
    """While write_fn runs, the toucher refreshes BOTH the lock (so
    losers keep waiting and nobody expires it) and the temp dir (so
    the leftover sweep never takes a live writer's dir)."""
    import os
    import time

    from mit_map_reduce_spark import catalog

    monkeypatch.setattr(catalog, "_TOUCH_S", 0.01)
    out = str(tmp_path / "art")
    lock = out + ".lock"
    ages = {}

    def write(d):
        os.makedirs(d)
        old = time.time() - 1000
        for p in (d, lock):
            os.utime(p, (old, old))
        time.sleep(0.3)
        ages.update({p: time.time() - os.stat(p).st_mtime for p in (d, lock)})

    assert catalog.publish_once(write, out) == out
    assert len(ages) == 2 and all(a < 100 for a in ages.values()), ages


def test_publish_protocol_restores_racer_artifact(tmp_path, monkeypatch):
    """TOCTOU closure (round-7 advice): a racer that publishes between
    _write_and_publish's marker check and its move-aside must have its
    COMPLETE artifact restored (it may already have readers), with the
    late writer's copy discarded — and nothing may rmtree the live
    path in between."""
    import os

    from mit_map_reduce_spark import catalog

    out = str(tmp_path / "art")
    # The racer's complete published artifact is already in place ...
    os.makedirs(out)
    with open(os.path.join(out, catalog._PUBLISH_MARKER), "w") as fh:
        fh.write("ok\n")
    with open(os.path.join(out, "racer.txt"), "w") as fh:
        fh.write("theirs")
    # ... but the first marker check misses it (the TOCTOU window).
    real = catalog._is_published
    seen = {"n": 0}

    def late_publish_view(d):
        seen["n"] += 1
        if seen["n"] == 1 and d == out:
            return False
        return real(d)

    monkeypatch.setattr(catalog, "_is_published", late_publish_view)

    def write(d):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "mine.txt"), "w") as fh:
            fh.write("mine")

    catalog._write_and_publish(write, out)
    # racer's artifact survived intact; ours was discarded; no scratch left
    assert real(out)
    assert os.path.exists(os.path.join(out, "racer.txt"))
    assert not os.path.exists(os.path.join(out, "mine.txt"))
    leftovers = [p for p in os.listdir(tmp_path) if p != "art"]
    assert leftovers == [], leftovers


def test_ivf_centroids_publish_once_and_reuse(spark, sf_dir, tmp_path, monkeypatch):
    """The IVF centroid artifact is published through
    catalog.publish_once: its dir carries the marker, nothing is left
    beside it, and a second call reads it back without re-training."""
    import os

    from mit_map_reduce_spark.catalog import _PUBLISH_MARKER
    from mit_map_reduce_spark.operators import similarity

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    trained = []
    real = similarity._trained_centroids

    def counting(emb):
        trained.append(1)
        return real(emb)

    monkeypatch.setattr(similarity, "_trained_centroids", counting)
    first = sorted(map(tuple, similarity._centroids_artifact(spark, sf_dir).collect()))
    second = sorted(map(tuple, similarity._centroids_artifact(spark, sf_dir).collect()))
    assert trained == [1]
    assert first == second and len(first) == similarity.K_CELLS
    root = tmp_path / "mmrs_ivf_centroids"
    (tag,) = os.listdir(root)  # one published dir, no .lock/.tmp*/.trash*
    assert os.path.exists(root / tag / _PUBLISH_MARKER)


@pytest.mark.parametrize("master", ["local", "cluster"])
def test_truncated_artifact_probe_passthrough_and_cleanup(spark, monkeypatch, master):
    """shared_persist truncates an artifact's lineage through
    catalog.truncate_lineage on every master: a local checkpoint on
    ``local[...]``, a reliable checkpoint under the run scratch dir
    elsewhere. Either way the leaf must not blind the plan probes:
    shared_persist stashes the PRE-truncation build frame keyed by the
    checkpoint RDD id, and unpartitioned_corpus_windows descends through
    the RDDScanExec leaf into it. clear_shared_caches must also free
    the checkpoint blocks themselves (they live outside the
    CacheManager, so plain DataFrame.unpersist() is a no-op on them)."""
    from pyspark.sql import Window, functions as F

    from mit_map_reduce_spark import catalog
    from mit_map_reduce_spark.plans import unpartitioned_corpus_windows

    if master == "cluster":
        # SparkContext.master is a plain Python attribute: the local JVM
        # runs the reliable checkpoint a cluster master would get
        monkeypatch.setattr(spark.sparkContext, "master", "spark://probe:7077")

    # a build frame with an unpartitioned scan-rooted window inside —
    # the exact shape the probe exists to flag
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/probe_src.parquet"
        spark.range(100).selectExpr("id", "id % 7 AS k").write.parquet(path)

        def factory():
            df = (
                spark.read.parquet(path)
                .withColumn("rn", F.row_number().over(Window.orderBy("id")))
            )
            df.persist().count()  # eager, like the fixpoint builders
            return df

        art = catalog.shared_persist(
            spark, "test_probe_passthrough", d, factory
        )
        # truncated: the artifact frame itself is a checkpoint leaf ...
        leaf = art._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in leaf and "row_number" not in leaf
        key = (id(spark), "test_probe_passthrough", d)
        jrdd = catalog._CHECKPOINT_RDDS.get(key)
        assert jrdd is not None and jrdd.isCheckpointed()
        # ... held by the block manager locally, in files under the run
        # scratch dir on a cluster master
        ck_file = jrdd.getCheckpointFile()
        if master == "local":
            assert not ck_file.isDefined()
        else:
            assert ck_file.get().startswith(f"file:{catalog.RUN_SCRATCH}/checkpoints/")
        # ... but the probe still sees the window inside the build frame
        consumer = art.groupBy("k").agg(F.max("rn").alias("m"))
        assert len(unpartitioned_corpus_windows(consumer)) == 1
        # checkpoint blocks are tracked and freed on clear
        assert jrdd.id() in catalog._SHARED_BUILD_FRAMES
        catalog.clear_shared_caches()
        assert catalog._CHECKPOINT_RDDS == {}
        assert catalog._SHARED_BUILD_FRAMES == {}
        # the unpersist call went through without raising; block drop is
        # async (blocking=False) so we only pin the registry hygiene here
