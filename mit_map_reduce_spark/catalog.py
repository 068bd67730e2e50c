"""Table catalog for the driver-generated parquet testdata.

The reference engine has no catalog — its "dataset" is an argv list of
text files, one map task per file (reference ``src/main/mrcoordinator.go:21-26``,
``src/mr/coordinator.go:242-253``). Here every table is self-describing
parquet; Spark's DataSource v2 gives column pruning + predicate pushdown
into the scan, which the reference cannot do (it always materializes the
whole file — ``src/mr/worker.go:137``).
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any realistic scale
#: factor (region=5 rows, nation=25 rows always; supplier/part grow
#: slowly). Used by operators to hint broadcast joins.
BROADCAST_TABLES = ("region", "nation", "supplier", "part")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def corpus_fingerprint(sf_dir: str, *tables: str) -> str:
    """Content fingerprint (mtime_ns + size per source file) for keying
    derived artifacts (source round-trip scratch copies, IVF centroids,
    bucketed-table layouts).

    Artifacts keyed only by (path, params) silently aggregate STALE
    bytes after the corpus is regenerated in place — the driver does
    regenerate testdata between rounds (events.ts even changed
    encoding once). Folding the source file's identity into the key
    makes regeneration invalidate every derived artifact for free.
    """
    parts = []
    for t in tables:
        p = table_path(sf_dir, t)
        try:
            st = os.stat(p)
            parts.append(f"{t}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            parts.append(f"{t}:missing")
    return "|".join(parts)


def scratch_base() -> str:
    """Root directory for cross-run scratch artifacts (bucketed table
    copies, staged source-format round-trips, trained IVF centroids,
    streaming feeds/sinks/checkpoints).

    Defaults to the machine-local tempdir — correct for any
    single-machine ``local[...]`` deployment, where driver and
    executors share one filesystem. On a MULTI-NODE cluster set
    ``SPARK_GRAFT_SCRATCH_DIR`` to a path on shared storage that every
    executor and the driver resolve to the same files, and that
    supports POSIX rename within the base — the artifact publish
    protocol is atomic temp-dir-then-rename, and the bucketed/source
    scratch registers external tables over these paths (NFS/Lustre or
    a fuse-mounted object store qualify; raw S3 paths would need the
    Hadoop FS API instead of os.rename and are out of scope here).
    """
    import tempfile

    return os.environ.get("SPARK_GRAFT_SCRATCH_DIR", tempfile.gettempdir())


#: Free space /dev/shm must have before run scratch goes there.
#: Scratch is swept only at interpreter exit, so it grows with every
#: drain a process runs: the 12 headline stream queries at sf0.1, three
#: runs each in one process (one bench pass), peaked at 81 MB of
#: allocated tmpfs blocks (61 MB of file bytes; 4 cores, Spark 4.1.2).
#: 1 GiB is ~13x that peak; Docker's default 64 MB /dev/shm would not
#: even hold one bench pass.
_SHM_MIN_FREE_BYTES = 1 << 30


def run_scratch_root() -> str:
    """Base dir for the per-process run scratch (``RUN_SCRATCH``).
    Everything under it is process-unique and swept at interpreter
    exit, so DURABILITY has no value here — LATENCY does: the
    state-store commit protocol writes + renames one delta file per
    store per micro-batch (a stream-stream join runs 4 stores x
    ``state_width`` partitions), and the r16 re-measure (at 4 x 8) of
    the r8 "checkpoint I/O is not the cost" claim found the environment
    had shifted under it — on that host the tempdir write path costs
    stream_stream_join_attribution ~7.5 s of its 10 s drain
    (commitTimeMs 9+16 s summed across stores; the SAME drain on
    /dev/shm: 2.6 s warm, the r11-r14 band). Honors
    SPARK_GRAFT_SCRATCH_DIR first — a multi-node cluster MUST route
    scratch through shared storage (scratch_base contract) and a
    deployment that wants disk-backed checkpoints sets it explicitly;
    the fast default only applies single-machine, and only while
    /dev/shm has ``_SHM_MIN_FREE_BYTES`` free."""
    explicit = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if explicit:
        return explicit
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= _SHM_MIN_FREE_BYTES:
            return "/dev/shm"
    return scratch_base()


#: The one per-process scratch dir: stream-source symlink dirs,
#: file-sink output, stream checkpoints, upsert snapshots and, on
#: cluster masters, the Spark checkpoint dir of ``truncate_lineage``.
#: Swept at interpreter exit — repeated bench/correctness runs do not
#: accumulate parquet + state files — and not per query, which keeps
#: returned DataFrames readable: they are lazy over these files until
#: the caller finishes collecting. Process-unique and exit-swept ON
#: PURPOSE: a cross-run store keyed on the testdata would be result
#: caching across runs (the bench/oracle must compute from the parquet
#: inputs every invocation). pid alone is NOT unique once the base can
#: point at SHARED storage (pids are per-host; two drivers on different
#: nodes can share one) — and the exit sweep would then rmtree another
#: live run's checkpoints. The uuid component makes the dir
#: process-unique on any filesystem.
RUN_SCRATCH = os.path.join(
    run_scratch_root(), f"mmrs_stream_scratch_{os.getpid()}_{uuid.uuid4().hex[:8]}"
)
atexit.register(shutil.rmtree, RUN_SCRATCH, ignore_errors=True)


def run_scratch_dir(*parts: str) -> str:
    d = os.path.join(RUN_SCRATCH, *parts)
    os.makedirs(d, exist_ok=True)
    return d


#: Revision of the publish protocol, folded into the keys of artifacts
#: that were once published under another signal (the bucketed tables
#: used Spark's ``_SUCCESS``, the IVF centroids a bare rename), so a
#: marker-less dir written by older code is never moved aside under a
#: session that still reads it.
PUBLISH_REV = "m1"

#: Dropped INSIDE the temp dir before the atomic rename: its presence
#: under the final path proves a complete, atomically-published
#: artifact (Spark's own _SUCCESS is absent for multi-subdir writers).
_PUBLISH_MARKER = "_MMRS_PUBLISHED"

#: A lock this old with nothing published belongs to a crashed writer;
#: expire it so the shared path heals instead of every later session
#: timing out and paying a private rewrite. A live writer touches its
#: lock and temp dir every ``_TOUCH_S``, well inside the TTL.
_LOCK_TTL_S = 300.0
_TOUCH_S = 60.0

#: Lock-wait poll interval; patched down in tests.
_LOCK_POLL_S = 0.5

#: Longest a loser waits for a live (lock kept fresh) writer before it
#: writes a session-private copy; patched down in tests.
_LOCK_WAIT_S = 900.0


def _is_published(out_dir: str) -> bool:
    return os.path.exists(os.path.join(out_dir, _PUBLISH_MARKER))


def _write_and_publish(write_fn, out_dir: str) -> None:
    """Run ``write_fn`` into a unique ``.tmp*`` sibling, drop the marker
    inside it and rename it into place — the reference's temp file +
    atomic rename commit (``src/mr/worker.go:219-224``) for a dir."""
    import threading

    tmp = out_dir + ".tmp" + uuid.uuid4().hex[:8]
    # Keep the temp dir AND the lock visibly fresh while the write runs:
    # lock expiry and the leftover sweep both key off mtime, a write can
    # legitimately outlast the TTL at large SF, and a dir's own mtime
    # does not advance while a part file streams INTO it. So a stale
    # mtime proves the writer stopped touching: crashed, not slow.
    stop = threading.Event()

    def _keep_fresh() -> None:
        while not stop.wait(_TOUCH_S):
            for p in (tmp, out_dir + ".lock"):  # no lock on private copies
                with contextlib.suppress(OSError):
                    os.utime(p)

    threading.Thread(target=_keep_fresh, daemon=True).start()
    try:
        write_fn(tmp)
    finally:
        stop.set()
    with open(os.path.join(tmp, _PUBLISH_MARKER), "w") as fh:
        fh.write("ok\n")
    # Last-moment re-check: if a concurrent writer published while we
    # were writing (possible only if lock expiry mis-fired on a live
    # writer), KEEP the published artifact — never delete data a
    # reader may already be scanning — and discard our copy.
    if _is_published(out_dir):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    # Move unpublished leftovers aside ATOMICALLY rather than rmtree on
    # the live path: rmtree is not atomic, so a racer publishing between
    # the check above and the delete could be left half-deleted with the
    # marker still present. A rename either moves the whole dir or
    # nothing.
    trash = out_dir + ".trash" + uuid.uuid4().hex[:8]
    with contextlib.suppress(OSError):  # ENOENT when out_dir absent — fine
        os.rename(out_dir, trash)
    if _is_published(trash):
        # The racer won between the check and the rename: restore their
        # complete artifact and discard ours.
        with contextlib.suppress(OSError):
            os.rename(trash, out_dir)
    else:
        with contextlib.suppress(OSError):  # concurrent writer won the rename
            os.rename(tmp, out_dir)
    shutil.rmtree(tmp, ignore_errors=True)  # no-op when renamed in
    shutil.rmtree(trash, ignore_errors=True)  # no-op when restored


def _take_lock(lock: str, out_dir: str) -> bool:
    """Atomic ``os.mkdir`` lock: exactly one session wins. A stale lock
    (older than ``_LOCK_TTL_S`` with nothing published — the writer
    died between mkdir and its finally) is expired ATOMICALLY and
    retaken: renamed to a unique tombstone first, so only one expirer
    can win (a plain rmdir could instead delete a FRESH lock re-created
    by a faster expirer — the two-winners race)."""
    try:
        os.mkdir(lock)
        return True
    except FileExistsError:
        pass
    try:
        stale = (time.time() - os.stat(lock).st_mtime) > _LOCK_TTL_S
    except OSError:  # lock vanished between mkdir attempt and stat
        stale = False
    if not stale or _is_published(out_dir):
        return False
    tomb = f"{lock}.expired-{uuid.uuid4().hex[:8]}"
    with contextlib.suppress(OSError):
        os.rename(lock, tomb)
        os.rmdir(tomb)
    try:
        os.mkdir(lock)
        return True
    except FileExistsError:
        return False


def _await_publish(out_dir: str, lock: str) -> None:
    """Loser side: wait for the marker as long as the writer keeps its
    lock FRESH (a legitimately slow large-SF write keeps us waiting
    instead of forcing a duplicate private rewrite), at most
    ``_LOCK_WAIT_S``. A lock gone stale or removed without a publish
    means the writer crashed — stop waiting."""
    deadline = time.time() + _LOCK_WAIT_S
    while time.time() < deadline:
        time.sleep(_LOCK_POLL_S)
        if _is_published(out_dir):
            return
        try:
            if time.time() - os.stat(lock).st_mtime >= _LOCK_TTL_S / 2:
                return
        except OSError:  # lock gone and still no marker
            return


def publish_once(write_fn, out_dir: str) -> str:
    """Write-once publish of a cross-session scratch artifact. Returns
    the directory to READ — normally ``out_dir``, a session-private
    ``out_dir.pid<N>`` copy only if a concurrent writer is wedged.

    ``write_fn(d)`` writes the artifact into the (not yet existing) dir
    ``d``. Writers serialize on an atomic ``os.mkdir`` lock; the winner
    writes to a ``.tmp*`` temp dir, drops ``_PUBLISH_MARKER`` inside it,
    and ``os.rename``s the whole dir into place, so the marker's
    presence under the final path proves a complete artifact and a
    reader can never observe partial state. Losers wait for the marker
    (``_await_publish``); a stale lock is expired and retaken
    (``_take_lock``); a writer that stays wedged makes the loser fall
    back to a private copy — correctness intact, cross-session reuse
    lost.

    A write made by THIS process is a cold build: it appends one
    ``_BUILD_EVENTS`` entry labelled with the artifact kind (see
    ``_publish_label``), so bench excludes the run that paid it; a
    reused artifact records none.
    """
    import glob

    if _is_published(out_dir):
        return out_dir

    def build(d: str) -> None:
        t0 = time.monotonic()
        _write_and_publish(write_fn, d)
        _BUILD_EVENTS.append((_publish_label(out_dir), round(time.monotonic() - t0, 3)))

    os.makedirs(os.path.dirname(out_dir), exist_ok=True)
    lock = out_dir + ".lock"
    if _take_lock(lock, out_dir):
        try:
            if not _is_published(out_dir):  # not published while racing
                # Under the lock: sweep .tmp*/.trash* siblings left by
                # writers that crashed between their rename steps —
                # nothing else reclaims them. Live writers touch their
                # temp dir every _TOUCH_S, so a leftover older than the
                # 4x-TTL gate provably stopped touching.
                now = time.time()
                for left in glob.glob(out_dir + ".tmp*") + glob.glob(out_dir + ".trash*"):
                    with contextlib.suppress(OSError):
                        if now - os.stat(left).st_mtime > 4 * _LOCK_TTL_S:
                            shutil.rmtree(left, ignore_errors=True)
                build(out_dir)
        finally:
            with contextlib.suppress(OSError):
                os.rmdir(lock)
    else:
        _await_publish(out_dir, lock)
    # One final check: a writer that published and removed its lock
    # between the loser's last probe and its stat must still be reused.
    if _is_published(out_dir):
        return out_dir
    priv = f"{out_dir}.pid{os.getpid()}"  # wedged writer: go private
    if not _is_published(priv):
        build(priv)
    return priv


def _publish_label(out_dir: str) -> str:
    """Build-event label of a published artifact: its path under the
    scratch root (last two components elsewhere) minus the content-key
    components, e.g. ``mmrs_bucketed/li`` or
    ``mmrs_ivf_centroids`` — one label per artifact kind, the same in
    every session and for every corpus."""
    import re

    rel = os.path.relpath(out_dir, scratch_base())
    parts = [p for p in rel.split(os.sep) if p != ".." and not re.fullmatch(r"[0-9a-f]{8,}", p)]
    return "/".join(parts[-2:] if rel.startswith("..") else parts)


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Fan a small input out across the cluster before compute-heavy
    derivation (shingling, hashing, pair joins).

    A single small parquet file arrives as ONE partition, so any
    operator that multiplies work per row (explode x k, self-join)
    would otherwise run on one core. The repartition shuffles only the
    small source rows — cheap — and buys full parallelism downstream.
    At 100 TB inputs are already thousands of partitions and this is a
    no-op cost-wise (still one extra round-robin shuffle; callers only
    use it ahead of work that dwarfs it).
    """
    n = df.sparkSession.sparkContext.defaultParallelism * factor
    return df.repartition(n)


def volume_width(volume: float, per_task: int, cap: int = 4096, floor: int = 1) -> int:
    """The one volume-width law: a partition count derived from a
    stage's input VOLUME instead of the parent frame's partitioning
    (guide §2: scale-adaptive partitioning) — one task per
    ``per_task`` units of volume, between ``floor`` and ``cap``. The
    Python (Arrow) stage widths and the graph and dedup shuffle widths
    (fixpoint, edge build, pair streams, shingle stream, LSH pairs)
    all call it with their own measured per-task volume.

    Every Python task pays a payload-independent fixed cost, even on
    reused workers. r15 measured ~0.25-0.35 CPU-s per task, and tuned
    these widths against it. Nearly all of it was
    ``importlib.invalidate_caches()``, which pyspark calls every task
    and which made each of ~50 zipimporters re-read pyspark.zip's
    directory. ``get_spark`` sessions run workers under
    ``pyworker_daemon``, which re-reads only a changed archive; a no-op
    task then costs ~0.04 CPU-s (RDD) and ~0.08 CPU-s (mapInPandas):
    process-tree CPU from ``/proc`` over 200 warm no-op tasks on
    ``local[4]``, 4 cores. Tiny inputs should still not ride a
    cores-wide cache layout into a Python stage; the width grows
    linearly with input volume up to the cap. Callers ``coalesce()``
    cached inputs to this width (narrow, never exceeds the cache's own
    one-task-wave width) or ``repartition()`` scan-rooted ones.

    ``floor`` is a small LATENCY floor (not a cores constant): a
    width-1 stage serializes its upstream narrow chain into one task;
    callers whose input rides a wider cached layout pass a few tasks'
    worth of overlap (measured r15: the IVF assign at width 1 ran
    1.6 s wall vs 0.9 s at width 4, at a quarter of width-32's CPU).
    Shuffle-width callers pass the session's one-wave width as the
    floor, so committed SFs keep their pinned plans."""
    import math

    return max(floor, min(cap, math.ceil(volume / max(1, per_task))))


def bounded_shuffle_width(spark: SparkSession, floor: int = 16) -> int:
    """Shuffle width for plan-embedded ``repartition`` calls and
    scoped-conf iterative builds: scales with the CLUSTER (one task
    wave — total cores, floored), never with
    ``spark.sql.shuffle.partitions``.

    A returned lazy frame executes under the CALLER's conf — under a
    bare driver session that means 200-partition shuffles even for
    kilobyte-scale stages, which is pure task overhead (the round-9
    20.6 s graph_supplier_projection vanilla row). Pinning an explicit
    width into the plan (or into an in-scope materialized build) keeps
    stage width proportional to actual parallelism at every scale.
    Exactly one wave, not 2x: an A/B at sf0.1 measured the projection
    at 0.98 s with width=cores vs 2.47 s at 2x cores — REPARTITION_BY_NUM
    is exempt from AQE coalescing, so every extra pinned partition is
    pure scheduling overhead on the many kilobyte-scale stages this
    serves. Use it where a stage would otherwise ride conf width; do
    NOT pin stages AQE already handles well (tiny ENSURE_REQUIREMENTS
    shuffles coalesce to fewer tasks than any honest pin).
    """
    return max(spark.sparkContext.defaultParallelism, floor)


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, settings: dict | None = None):
    """Set session conf keys for the duration of a ``with`` block and
    put back the CALLER's values on exit — not hard-coded session
    defaults, which would e.g. silently re-enable AQE coalescing for a
    session that deliberately disabled it. Each key's value is captured
    before its first set in this scope and restored in ``finally`` (a
    key the caller never set is unset again), so nested scopes compose.
    Yields a setter taking a settings dict, for keys whose value is
    known only inside the block (the graph fixpoint width needs
    ``edges.count()`` first); it obeys the same capture/restore rule.

    SINGLE-THREADED ASSUMPTION: this mutates session-global conf for
    the block's duration — any query planning concurrently in the same
    session would see the scoped values, and interleaved scopes could
    restore a stale value. Fine for the one-query-at-a-time
    driver/bench/pytest harnesses this repo targets; revisit with a
    lock or ``SparkSession.newSession()`` if a concurrent caller ever
    appears.
    """
    saved: dict[str, str | None] = {}

    def set_(more: dict) -> None:
        for key, value in more.items():
            if key not in saved:
                saved[key] = spark.conf.get(key, None)
            spark.conf.set(key, str(value))

    try:
        set_(settings or {})
        yield set_
    finally:
        for key, old in reversed(saved.items()):
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def normalize_nanos_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp column to ``TimestampType``.

    The driver's parquet encoding has varied across rounds, so accept
    both forms and converge on one engine-facing type:

    - TIMESTAMP(NANOS): Spark has no nanosecond timestamp; with
      ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as
      epoch-nanos long. Integer ``div`` keeps full precision (the
      values exceed double's 2^53 mantissa).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
      ``TimestampNTZType``; the wall clock IS the UTC instant (the
      generator and the DuckDB oracle are both tz-naive), so a cast
      under the session's pinned UTC timezone is lossless.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if col not in df.columns:
        return df
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn(col, F.col(col).cast(T.TimestampType()))
    return df


#: Session-scoped registry of shared persisted intermediates, keyed by
#: (session id, logical name, sf_dir). Multi-consumer derivations (the
#: per-doc shingle arrays, the normed embedding corpus) used to call
#: ``.persist()`` inside every query that needed them; across an
#: 87-query session that accumulated duplicate cached copies of the
#: same lineage and spammed ``CacheManager: asked to cache already
#: cached data`` warnings. One registry entry per logical dataset keeps
#: exactly one persisted copy per session, shared by every consumer
#: (the pair queries and connected components now probe the SAME cache)
#: — the single-JVM analog of materializing the intermediate to parquet
#: once at 100 TB.
_SHARED_CACHE: dict[tuple, DataFrame] = {}

#: checkpoint-RDD id -> the PRE-truncation build frame. shared_persist
#: re-stores a materialized artifact behind ``truncate_lineage``'s
#: LogicalRDD leaf (local or reliable checkpoint, by master), which
#: would blind every plan-introspection probe
#: (plans.inspect.unpartitioned_corpus_windows, the repo-wide window
#: audit) to the artifact's internals. The probes resolve an
#: RDDScanExec leaf back to its build frame through this map and keep
#: descending, so structural pins cover artifact internals on every
#: master. Query paths never touch it; only probes pay the build
#: frame's (re-)analysis cost.
_SHARED_BUILD_FRAMES: dict[int, DataFrame] = {}

#: registry key -> the checkpointed JVM RDD. Checkpoint data is NOT
#: managed by the CacheManager, so DataFrame.unpersist() on the
#: truncated frame is a no-op and repeated build/clear cycles (tests,
#: long sessions) would accumulate orphaned local-checkpoint blocks;
#: clear_shared_caches unpersists these explicitly. Reliable-checkpoint
#: files live under RUN_SCRATCH until the exit sweep.
_CHECKPOINT_RDDS: dict[tuple, object] = {}


#: (artifact name, factory seconds) per first-use build — bench drains
#: this to tell a query's steady-state runs from the one run per
#: session that pays a shared-artifact build (eager builders like the
#: dedup CC fixpoint spend the whole cost inside factory(); lazy
#: persists materialize during the same run's action, so the event
#: still marks the right run even though its duration reads ~0).
_BUILD_EVENTS: list[tuple[str, float]] = []


def drain_build_events() -> list[tuple[str, float]]:
    """Return and clear the shared-artifact build events recorded
    since the last drain (see ``_BUILD_EVENTS``)."""
    out = list(_BUILD_EVENTS)
    _BUILD_EVENTS.clear()
    return out


def truncate_lineage(df: DataFrame) -> DataFrame:
    """The one lineage-truncation primitive: materialize ``df`` now and
    return it behind a leaf LogicalRDD, so later plans analyze O(1)
    instead of re-analyzing the whole build (true stats and column
    nullability carry over, so broadcasts still fire).

    On ``local[...]`` masters a local checkpoint keeps the rows in the
    block manager — not recomputable after executor loss, which is free
    under one JVM (block loss == session loss). Any other master takes
    Spark's reliable checkpoint: the rows are written to files that
    outlive the executor that wrote them, as the reference's ``mr-X-Y``
    files outlive their worker (``src/mr/coordinator.go:160-181``).
    Its checkpoint dir is set on first use under ``RUN_SCRATCH`` (shared
    storage on a multi-node cluster, the scratch_base contract) unless
    the caller already set one."""
    sc = df.sparkSession.sparkContext
    if sc.master.startswith("local"):
        return df.localCheckpoint(eager=True)
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(run_scratch_dir("checkpoints"))
    return df.checkpoint(eager=True)


def shared_persist(
    spark: SparkSession, name: str, sf_dir: str, factory, label: str | None = None
) -> DataFrame:
    """Return the session's persisted copy of ``name`` for ``sf_dir``,
    building it via ``factory()`` on first use.

    ``label`` names the build EVENT (bench's cold-build bookkeeping)
    when ``name`` is not cross-session-stable: rank registry keys are
    whole canonicalized plan strings, and Catalyst's canonicalization
    is NOT stable across sessions (r12: a commutative add rendered as
    ``0.5 + x`` in one bench run and ``x + 0.5`` in the next, so the
    derived hash label changed and the artifact's cold-build drift
    coverage silently lapsed — the exact lapse the r11 advice
    predicted). Callers with plan-text keys must pass a label built
    from stable call-site facts instead.
    """
    key = (id(spark), name, sf_dir)
    df = _SHARED_CACHE.get(key)
    if df is None:
        t0 = time.monotonic()
        df = factory()
        # The event log is for humans — keep names one-line and short,
        # but IDENTITY-STABLE: a bare prefix truncation would merge
        # distinct long keys and break the bench's cross-round
        # cold-build comparison whenever the plan text shifts, so long
        # labels carry a hash of the FULL string.
        label = " ".join((label or name).split())
        if len(label) > 60:
            import hashlib

            digest = hashlib.md5(label.encode()).hexdigest()[:8]
            label = f"{label[:48]}...#{digest}"
        _BUILD_EVENTS.append((label, round(time.monotonic() - t0, 3)))
        # Iterative builders (graph loops) hand back a frame they
        # already persisted+materialized; re-persisting would emit the
        # very CacheManager duplicate-cache warning this registry kills.
        if df.storageLevel.useMemory or df.storageLevel.useDisk:
            # Truncate the unrolled-loop lineage (guide §3.3/§5): a
            # fixpoint artifact's cached frame still CARRIES its whole
            # iterative build plan, and every consumer invocation
            # re-analyzes that tree — measured 0.3-0.7 s of driver time
            # PER CALL on the CC-label / graph-rank consumers
            # (dedup_cluster_size_report's plan rendered 3136 Exchange
            # nodes). The checkpoint re-stores the already-materialized
            # rows behind a leaf; the build frame is registered for the
            # probe pass-through and the explicit cleanup (both
            # documented on the registries above).
            ck = truncate_lineage(df)
            try:
                jrdd = ck._jdf.queryExecution().analyzed().rdd()
                _SHARED_BUILD_FRAMES[jrdd.id()] = df
                _CHECKPOINT_RDDS[key] = jrdd
            except Exception:
                pass
            df.unpersist()
            df = ck
        else:
            df = df.persist()
        _SHARED_CACHE[key] = df
    return df


def iterate(seed: DataFrame, step, rounds: int) -> DataFrame:
    """The one fixed-round loop: ``rounds`` applications of
    ``step(cur) -> DataFrame``, starting from ``seed`` — one MapReduce
    round per application, separated by a barrier as in the reference
    coordinator (``src/mr/coordinator.go:155-158``).

    Each round's frame is persisted and materialized with ``count()``
    (one Spark job) BEFORE its predecessor is released, so a round
    reads its input from the cache, lineage never nests ``rounds``
    plans deep, and at most two rounds are resident at once. A
    predecessor is released only if ``is_cached`` is set: a lazy seed
    is never touched, a persisted seed is released after round 1. The
    last round comes back persisted and materialized (``shared_persist``
    adopts it as is). ``step`` may run its own driver decisions (BPE's
    per-round winning pair) before building the next frame.

    Loops that truncate lineage per round (``truncate_lineage``: BFS,
    MMR), carry two frames (HITS) or materialize through their own
    convergence count (dedup CC) stay hand-written."""
    cur = seed
    for _ in range(rounds):
        nxt = step(cur).persist()
        nxt.count()
        if cur.is_cached:
            cur.unpersist()
        cur = nxt
    return cur


def clear_shared_caches() -> None:
    """Unpersist and forget every registry entry (tests / shutdown)."""
    for df in _SHARED_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass
    # Checkpoint blocks live outside the CacheManager — free them
    # explicitly (blocking=False: drop asynchronously, callers never
    # need the space synchronously).
    for jrdd in _CHECKPOINT_RDDS.values():
        try:
            jrdd.unpersist(False)
        except Exception:
            pass
    _SHARED_CACHE.clear()
    _CHECKPOINT_RDDS.clear()
    _SHARED_BUILD_FRAMES.clear()


def ensure_nanos_flag(spark: SparkSession) -> None:
    """The ONE place that sets ``spark.sql.legacy.parquet.nanosAsLong``.

    events.parquet stores TIMESTAMP(NANOS), which Spark cannot read at
    all without this flag (even schema inference throws). Sessions from
    our factory set it at construction (session.py); this defensive set
    covers vanilla sessions (the grading driver's). It is session-wide
    and deliberately never restored — the package's read path
    (``load_table`` / ``normalize_nanos_ts``) is flag-proof either way,
    and a half-restored flag mid-stream would break lazy stream plans.
    Anyone raw-reading events.parquet must use ``load_table``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def table_footer_count(sf_dir: str, name: str) -> int:
    """Row count from parquet FOOTER metadata only — no Spark job, no
    data pages read. The bounded driver decision that sizes the
    volume-derived widths (``volume_width``): at any scale this is a
    metadata read over file footers (pyarrow dataset handles both a
    single file and a directory of part files)."""
    import pyarrow.dataset as pads

    dataset = pads.dataset(table_path(sf_dir, name), format="parquet")
    return sum(frag.metadata.num_rows for frag in dataset.get_fragments())


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        ensure_nanos_flag(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = normalize_nanos_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
