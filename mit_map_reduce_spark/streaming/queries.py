"""Structured Streaming over the ``events`` table (beyond-reference).

The reference is strictly two-phase batch with a hard barrier
(reference ``src/mr/coordinator.go:155-158``; SURVEY §2c "Streaming:
None"). These queries demonstrate the streaming surface a pipeline
needs — tumbling / sliding windows with watermarks, and session
windows — while remaining differential-testable: each streaming run
is driven to completion over the finite parquet input (the
``availableNow`` pattern), so its result equals the batch aggregation
the DuckDB oracle computes.

Every query runs against a PRODUCTION sink (round-4 verdict #8; the
test-only memory sink is gone entirely), driven by the one runner
:func:`_drain` (start, drain, capture the plan, stop, read back):

- append-legal queries (watermarked windows, session windows, the
  stream-stream join) emit through a parquet FILE sink with its
  exactly-once ``_spark_metadata`` commit log — only watermark-closed
  windows surface, and the oracles bound themselves by the same
  cutoff;
- update-mode queries (global/live rollups, the stateful
  applyInPandasWithState pair) pass ``keys`` and emit through the
  foreachBatch UPSERT sink — a key-unique snapshot table swapped
  atomically per batch — so every window including the still-open
  tail is a live row, matching the plain batch oracle.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mit_map_reduce_spark.functions.columns import (
    money_grains,
    money_sum,
    round_half_up,
    sql_hex_int,
    sql_money_sum,
)
# Stream feeds, sinks, checkpoints and snapshots live in the catalog's
# one per-process run scratch dir; the underscore aliases stay for the
# harnesses that read or sweep it.
from mit_map_reduce_spark.catalog import (  # noqa: F401
    RUN_SCRATCH as _SCRATCH_BASE,
    ensure_nanos_flag,
    load_table,
    run_scratch_dir as _scratch_dir,
    run_scratch_root as _stream_scratch_root,
    scoped_conf,
    table_path,
)

#: Executed-plan report of the most recently driven stream's last
#: micro-batch (plans.streaming_plan_report). :func:`_drain` refreshes
#: it on every run so the plan audit (tests/test_streaming_plans.py,
#: tools/scan_global_windows.py) can grade streaming physical plans —
#: a StreamingQuery's plan only exists while the query runs, so it
#: must be captured at drive time, not probed afterwards.
LAST_STREAM_PLAN: dict = {}


def _capture_stream_plan(q) -> None:
    from mit_map_reduce_spark.plans import streaming_plan_report

    global LAST_STREAM_PLAN
    try:
        LAST_STREAM_PLAN = streaming_plan_report(q)
    except Exception:  # plan capture must never fail the query itself
        LAST_STREAM_PLAN = {}


#: State partitions a stateful stream runs at. Every micro-batch
#: commits one state store per partition per stateful store, a fixed
#: cost that does not shrink with the rows. Measured on 4 cores, width
#: 8 -> 2, perfbench ``batch_driver_bound`` traced (seed 7, three sf0.1
#: attribution-join drains): summed state ``commitTimeMs`` 15.3 s ->
#: 2.3 s, ``addBatch`` 9.9 s -> 5.7 s, the same 6 batches and 237 state
#: rows. It is not scaled with input volume: no stream above sf0.1
#: (100k events) has been timed, and each added partition adds store
#: commits to every batch.
STREAM_MIN_WIDTH = 2


def state_width(out: DataFrame) -> int:
    """State-store partition count for the stateful stream ``out``:
    ``STREAM_MIN_WIDTH``, or one task wave (the session's
    ``defaultParallelism``) when its plan runs Python per key through
    ``applyInPandasWithState``. Those streams pay for the Python work,
    not the store commits, so fewer tasks than cores leaves cores idle
    (sf0.1, 4 cores: the user profile took 6.6 s at width 2 against
    2.5 s at 8 in OPTIMIZATION_r15; at one wave, 4, it took a median
    2.54 s against 2.84 s at 8 over 4 interleaved process pairs)."""
    plan = out._jdf.queryExecution().logical().toString()
    if "FlatMapGroupsInPandasWithState" in plan:
        return max(STREAM_MIN_WIDTH, out.sparkSession.sparkContext.defaultParallelism)
    return STREAM_MIN_WIDTH


#: Raw parquet schema per (path, mtime_ns, size, nanosAsLong flag): a
#: schema read costs a Spark job (101-153 ms warm), and a join build
#: opens its source twice. Only schemas are kept, never data; a
#: rewritten file changes its key.
_RAW_SCHEMAS: dict[tuple, StructType] = {}


def _raw_schema(spark: SparkSession, src: str) -> StructType:
    st = os.stat(src)
    flag = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    key = (src, st.st_mtime_ns, st.st_size, flag)
    if key not in _RAW_SCHEMAS:
        _RAW_SCHEMAS[key] = spark.read.parquet(src).schema
    return _RAW_SCHEMAS[key]


def _table_stream(
    spark: SparkSession, sf_dir: str, name: str, tags: tuple[str, ...] = ("",)
) -> DataFrame:
    """readStream over one testdata parquet table.

    The table is a single file; Spark's file-stream source only
    monitors directories, so expose the file through a temp dir of
    symlinks (in production the source is a landing directory anyway),
    one per entry of ``tags`` — two tags deliver the same content twice,
    the at-least-once redelivery ``stream_dedup_within_watermark``
    collapses.
    """
    from mit_map_reduce_spark.catalog import normalize_nanos_ts

    src = table_path(sf_dir, name)
    stream_dir = _scratch_dir(
        "src" + "".join(tags), hashlib.md5(src.encode()).hexdigest()[:12]
    )
    for tag in tags:
        link = os.path.join(stream_dir, f"{name}{tag}.parquet")
        if not os.path.exists(link):
            os.symlink(src, link)
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS): without the legacy
        # flag even reading the SCHEMA throws PARQUET_TYPE_ILLEGAL on a
        # vanilla session (the grading driver's). Centralized setter —
        # see catalog.ensure_nanos_flag for why it is never restored.
        ensure_nanos_flag(spark)
    # Schema must be the RAW parquet schema (events.ts is epoch-nanos
    # long — see catalog.normalize_nanos_ts); conversion applies after.
    stream = spark.readStream.schema(_raw_schema(spark, src)).parquet(stream_dir)
    return normalize_nanos_ts(stream)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _table_stream(spark, sf_dir, "events")


def _drain(
    out: DataFrame,
    keys: list[str] | None = None,
    run_dir: str | None = None,
    pre_commit_hook=None,
    post_commit_hook=None,
) -> DataFrame:
    """Start ``out`` as a streaming query, drain everything available,
    capture its plan, stop it and read the sink back — the one runner
    every stream query (and the crash-recovery tests) goes through.

    With ``keys=None`` the query runs in APPEND mode into a real parquet
    FILE sink at ``run_dir/out`` — the production emission path for
    watermark-closed windows and join matches (exactly-once via the
    sink's _spark_metadata commit log, the streaming analog of the
    reference's atomic-rename output commit, src/mr/worker.go:219-224).
    Nothing uses the test-only memory sink anymore (round-4 verdict #8).

    With ``keys`` an update-mode stateful stream runs into a PRODUCTION
    parquet sink via ``foreachBatch`` upsert — the pattern that replaces
    the test-only memory sink for ``applyInPandasWithState`` queries.
    Each micro-batch emits one refreshed row per touched key; the
    upsert merges them into a key-unique snapshot table:

    - read the current snapshot (if any), anti-join away keys the batch
      replaces, union the batch rows, write a NEW versioned snapshot
      dir, then atomically swap a CURRENT pointer file — readers never
      see a half-written table, the same atomic-rename commit discipline
      as the reference's output files (src/mr/worker.go:219-224).
    - re-running a batch after a crash writes a FRESH attempt-unique
      version dir and re-swaps the pointer, so the sink is idempotent
      per batch id (exactly-once output, like the file sink's
      _spark_metadata log). Attempt-unique, NOT v{batch_id}: a crash
      between the pointer swap and the stream's checkpoint commit
      leaves CURRENT pointing at the crashed attempt's output, and the
      replay would then read and overwrite the SAME path —
      AnalysisException, recovery never converges. Replaying against
      an already-swapped snapshot is still idempotent: the anti-join
      replaces the batch's keys with identical rows.
    - with a table format (Delta/Iceberg/Hudi) this whole upsert is
      one MERGE INTO; plain parquet needs the snapshot+pointer dance.
      Snapshot rewrite cost is bounded by key cardinality (state-store
      sized), not stream length.

    All work inside ``upsert`` runs as distributed Spark jobs; the
    driver only swaps the pointer.

    ``run_dir`` pins the sink + checkpoint (``run_dir/ckpt``) location
    so a caller can RESUME a prior run from its checkpoint (restart and
    the crash-recovery tests); default is a fresh scratch dir per call.
    ``pre_commit_hook(batch_id)`` fires after the snapshot files are
    written but BEFORE the pointer swap; ``post_commit_hook(batch_id)``
    fires after the swap but before foreachBatch returns (i.e. before
    the stream commits the batch to its checkpoint). Both are
    crash-injection seams: a raise in the first leaves sink data with
    the batch uncommitted, in the second a swapped pointer with the
    batch uncommitted — the two torn-commit states a mid-commit crash
    produces (tests assert the re-run converges from each).

    The drain is ``processAllAvailable`` + ``stop``, not availableNow:
    availableNow can terminate before the post-watermark no-data flush
    batch, which would skew an interrupted/clean comparison.

    Stateful operators commit one state store PER shuffle partition PER
    micro-batch, so the drain runs at :func:`state_width` of ``out``:
    ``STREAM_MIN_WIDTH``, or one task wave when ``out`` runs Python
    state per key. The width is set in a scoped set/restore: the value
    is captured when the stream starts, and the checkpoint then fixes
    it, so a restart on ``run_dir`` keeps its first start's width.
    A drain that commits nothing (a watermark that closed no window, a
    feed that yielded no batch) returns an empty frame with
    ``out.schema``, not a read error. Every read of sink files (the
    read-back and the upsert's snapshot) passes ``out.schema``, so none
    pays a schema-inference job.
    """
    spark = out.sparkSession
    if run_dir is None:
        run_dir = _scratch_dir("drain", uuid.uuid4().hex[:12])
    sink, current = os.path.join(run_dir, "out"), os.path.join(run_dir, "CURRENT")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        snap = None
        if os.path.exists(current):
            with open(current) as fh:
                snap = fh.read().strip()
        merged = batch_df
        if snap:
            prev = spark.read.schema(out.schema).parquet(snap)
            keep = prev.join(batch_df.select(*keys), keys, "left_anti")
            merged = keep.unionByName(batch_df)
        # attempt-unique: see the docstring's post-swap-crash replay note
        vdir = os.path.join(run_dir, f"v{batch_id}-{uuid.uuid4().hex[:8]}")
        merged.write.mode("overwrite").parquet(vdir)
        if pre_commit_hook is not None:
            pre_commit_hook(batch_id)
        tmp = current + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(vdir)
        os.replace(tmp, current)
        if post_commit_hook is not None:
            post_commit_hook(batch_id)

    if keys is None:
        writer = out.writeStream.outputMode("append").format("parquet").option("path", sink)
    else:
        writer = out.writeStream.outputMode("update").foreachBatch(upsert)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": state_width(out)}):
        q = writer.option("checkpointLocation", os.path.join(run_dir, "ckpt")).start()
    try:
        q.processAllAvailable()
        _capture_stream_plan(q)
    finally:
        q.stop()
    if keys is None:
        if os.path.isdir(sink) and any(
            f.endswith(".parquet") for f in os.listdir(sink) if not f.startswith("_")
        ):
            return spark.read.schema(out.schema).parquet(sink)
    elif os.path.exists(current):
        with open(current) as fh:
            return spark.read.schema(out.schema).parquet(fh.read().strip())
    return spark.createDataFrame([], out.schema)


def stream_append_tumbling_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production streaming semantics end-to-end: APPEND mode + a real
    watermark + a parquet FILE sink (not the test-only memory sink).

    Append mode only emits a window once the watermark passes its end —
    the still-open final day never reaches the sink, and its state is
    evicted rather than kept forever (complete mode keeps every window
    in state, which is unbounded on an unbounded stream). The oracle
    reproduces exactly that: day windows whose end <= max(ts) - the
    1-hour watermark delay. Rows come back by reading the sink files,
    so this also exercises exactly-once file commit (the sink's
    _spark_metadata log), the streaming analog of the reference's
    atomic-rename output commit (src/mr/worker.go:219-224,
    test-mr.sh:266-282 output-stability check).
    """
    ev = _events_stream(spark, sf_dir)
    agg = _day_type_counts(ev.withWatermark("ts", "1 hour"), money=True)
    return _drain(agg)


def stream_outer_join_unattributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the semantics the inner join
    (``stream_stream_join_attribution``) cannot express: purchases
    with NO attributable click still surface, with NULL click columns,
    once the watermark proves no future click can match (state
    eviction is the emission trigger; Spark runs the no-data
    micro-batch that flushes evicted state after the last data batch).
    This is the "un-attributed conversions" feed a marketing pipeline
    alarms on.

    Emission rule the oracle mirrors: matched pairs emit like the
    inner join; an unmatched purchase emits iff its timestamp is
    STRICTLY below the final global watermark
    (least(max click_ts, max purchase_ts) - the 1 hour delay) — later
    purchases still sit in state when the finite input ends, exactly
    as on an unbounded stream.
    """
    joined = _purchase_click_join(lambda: _events_stream(spark, sf_dir), "left_outer")
    return _drain(
        joined.select(
            "purchase_id",
            F.col("p_user").alias("user_id"),
            "purchase_ts",
            "click_id",
            F.col("click_id").isNotNull().alias("attributed"),
        )
    )


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's BUILT-IN streaming dedup under at-least-once
    delivery: the same events file is delivered twice (two paths, one
    content — exactly what a redelivering ingestion layer produces),
    ``dropDuplicatesWithinWatermark`` collapses redeliveries by
    event_id, and a chained tumbling aggregation counts the survivors
    — so the sink equals the single-copy batch counts, which is the
    whole point of the operator.

    Complements ``stream_dedup_first_seen`` (the CUSTOM
    applyInPandasWithState dedup, which keeps richer per-key state):
    this is the built-in, whose state evicts by WATERMARK rather than
    living forever — the right tool when duplicates only arrive
    within a bounded redelivery horizon. Two chained stateful
    operators (dedup -> windowed agg) share the flowing event-time
    watermark; append mode emits each closed window once to the
    exactly-once file sink.
    """
    stream = _table_stream(spark, sf_dir, "events", tags=("_a", "_b"))
    return _drain(_dedup_within_watermark_agg(stream))


def _dedup_within_watermark_agg(stream: DataFrame) -> DataFrame:
    """dropDuplicatesWithinWatermark -> tumbling count, over any
    normalized events stream — shared by the registered query and the
    crash-recovery test."""
    dedup = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return _day_type_counts(dedup)


def _day_type_counts(ev: DataFrame, money: bool = False) -> DataFrame:
    """Per 1-day tumbling window x event_type: the event count ``n``
    and, with ``money``, the exact ``total_value`` money sum — over an
    events stream that already carries its ts watermark."""
    aggs = {"n": F.count("*")}
    if money:
        aggs["total_value"] = money_sum("value", 2)
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(*[c.alias(name) for name, c in aggs.items()])
        .select(F.col("w.start").alias("ws"), "event_type", *aggs)
    )


def _stage_single_parquet(df: DataFrame, dest: str) -> None:
    """Write ``df`` as exactly one parquet file at ``dest`` — the feed
    builder for replay queries that need one FILE per micro-batch
    (the file-stream source batches by file)."""
    stage = dest + "._stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.replace(os.path.join(stage, part), dest)
    shutil.rmtree(stage)


#: One event in LATE_COHORT_MOD is held back and re-delivered a batch
#: late — the deterministic stand-in for out-of-order arrival.
LATE_COHORT_MOD = 7


def stream_late_data_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data semantics pinned end-to-end: a replay where a
    held-back cohort (event_id % 7 == 0, all days before the last)
    arrives micro-batches AFTER the on-time stream advanced the
    watermark to (last on-time event - 1h). Spark then drops exactly
    the late rows whose 1-day window that watermark already closed and
    admits the ones whose window is still open (the final full day) —
    the emitted per-window counts carry an ``n_late_admitted`` column
    making the admit/drop split visible in data.

    Determinism comes from controlling what every other streaming
    query leaves to chance: the feed is scratch parquet files with
    pinned modification times, ``maxFilesPerTrigger=1`` makes each a
    micro-batch in mtime order, and every watermark is a pure function
    of the earlier batches' contents. The oracle replays the same
    schedule in SQL: on-time rows always count; held-back rows count
    iff their window end exceeds the on-time watermark; windows
    surface iff the final watermark closed them. The driver-side
    ``first()`` fetches one aggregate scalar (the last-day boundary)
    to build the feed — feed construction, not data movement.
    """
    ev = load_table(spark, sf_dir, "events")
    last_day = ev.agg(F.date_trunc("day", F.max("ts")).alias("d")).first()["d"]
    in_late_cohort = (F.col("event_id") % LATE_COHORT_MOD == 0) & (
        F.col("ts") < F.lit(last_day)
    )
    feed = _scratch_dir("latefeed", uuid.uuid4().hex[:12])
    # THREE micro-batches, not two: since SPARK-24634 the late-event
    # filter uses the watermark lagged one batch behind the eviction
    # watermark (so chained stateful operators stay correct), so rows
    # arriving in batch 1 are never dropped no matter how old. Batch 0
    # sets the watermark, batch 1 (the final on-time day) advances the
    # query, batch 2 delivers the held-back cohort against batch 1's
    # late-event watermark = max(batch-0 ts) - delay.
    batches = (
        ev.filter((F.col("ts") < F.lit(last_day)) & (F.col("event_id") % LATE_COHORT_MOD != 0)),
        ev.filter(F.col("ts") >= F.lit(last_day)),
        ev.filter((F.col("ts") < F.lit(last_day)) & (F.col("event_id") % LATE_COHORT_MOD == 0)),
    )
    for i, b in enumerate(batches):
        dst = os.path.join(feed, f"batch{i}.parquet")
        _stage_single_parquet(b, dst)
        os.utime(dst, (1_000_000_000 + i * 100, 1_000_000_000 + i * 100))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(in_late_cohort, 1)).alias("n_late_admitted"),
        )
        .select(
            F.col("w.start").alias("ws"),
            (F.col("n") - F.col("n_late_admitted")).alias("n_ontime"),
            "n_late_admitted",
            "n",
        )
    )
    return _drain(agg)


def stream_incremental_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once INCREMENTAL batch processing across query
    RESTARTS — the Trigger/checkpoint pattern a production pipeline
    runs nightly: process what landed, stop, and a later run resumes
    from the same checkpoint, reading only the new files and never
    re-emitting old windows. Two separate streaming queries run here
    against ONE checkpoint: run 1 sees the first half of the event
    timeline, run 2 resumes and sees the rest. The sink accumulates
    each closed window exactly once (the _spark_metadata commit log
    carries across restarts), so the final table equals the one-shot
    batch aggregation the oracle computes — bounded by the final
    watermark exactly like the single-run append query.

    The split is by event time (first 15 days vs rest), so run 2's
    data only ADVANCES the watermark — no late data in this query
    (that is stream_late_data_metrics' job); what is under test is
    offset/watermark/sink recovery from the checkpoint.
    """
    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("d")
    ).first()["d"]
    import datetime

    mid = cut + datetime.timedelta(days=15)
    run_dir = _scratch_dir("restart", uuid.uuid4().hex[:12])
    feed = os.path.join(run_dir, "feed")
    os.makedirs(feed, exist_ok=True)
    halves = (
        ev.filter(F.col("ts") < F.lit(mid)),
        ev.filter(F.col("ts") >= F.lit(mid)),
    )
    for i, half in enumerate(halves):
        _stage_single_parquet(half, os.path.join(feed, f"b{i}.parquet"))
        # The staged files hold ``ev`` rows, so ``ev.schema`` is theirs;
        # reading it off a file would cost a schema-inference job.
        stream = spark.readStream.schema(ev.schema).parquet(feed)
        agg = _day_type_counts(stream.withWatermark("ts", "1 hour"))
        out = _drain(agg, run_dir=run_dir)
    return out


def stream_static_enrich_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the
    static customer dimension, rolled up per market segment — the
    third join class next to stream-stream (attribution) and batch.

    The static side needs no watermark and no state: each micro-batch
    plans a fresh broadcast-hash join against the dimension (which may
    be re-read per batch — how slowly-changing dims get picked up).

    A GLOBAL (un-windowed) aggregate can never close, so append mode
    is illegal — but that does not force the test-only memory sink:
    update mode + the foreachBatch upsert keyed by segment keeps the
    sink a live 5-row snapshot, the production pattern for streaming
    rollup tables.
    """
    ev = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            money_sum("value", 2).alias("total_value"),
        )
    )
    return _drain(agg, keys=["c_mktsegment"])


ATTRIBUTION_WINDOW = "1 hour"


def stream_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases joined to the same user's
    clicks within the trailing attribution window — the two-unbounded-
    sides join class (distinct from stream-static and as-of joins).

    Both sides carry watermarks and the join condition bounds click_ts
    to [purchase_ts - window, purchase_ts], so Spark can evict buffered
    state once the watermark passes the bound — without the time bound
    a stream-stream join must buffer both streams forever. Driven to
    completion over the finite input, the emitted matches equal the
    batch theta-join the oracle computes.
    """
    return _drain(
        _attribution_join(lambda: _events_stream(spark, sf_dir))
    )


def _attribution_join(mk_stream) -> DataFrame:
    """The purchase<-click attribution stream-stream join over two
    fresh source instances from ``mk_stream()`` — shared by the
    registered query and the crash-recovery test."""
    return _purchase_click_join(mk_stream, "inner").select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "click_id",
        "click_ts",
    )


def _purchase_click_join(mk_stream, how: str) -> DataFrame:
    """Watermarked purchases joined (``how``) to the same user's clicks
    in the trailing ``ATTRIBUTION_WINDOW`` — the inner attribution join
    and the left-outer unattributed feed differ only in ``how`` and
    their final select."""
    clicks = (
        mk_stream()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        mk_stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""p_user = c_user
                AND click_ts >= purchase_ts - INTERVAL {ATTRIBUTION_WINDOW}
                AND click_ts <= purchase_ts"""
        ),
        how,
    )


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day tumbling window counts per event_type, via readStream.

    Update mode + the foreachBatch upsert sink keyed by (window, type):
    every window — including the still-open final day — is a live row
    in the sink, refreshed whenever a batch touches it (the dashboard-
    table shape; the emit-once-on-close shape is
    ``stream_append_tumbling_file_sink``). The watermark still evicts
    closed windows' STATE, so memory stays bounded; the sink keeps
    their final rows.
    """
    ev = _events_stream(spark, sf_dir)
    agg = _day_type_counts(ev.withWatermark("ts", "1 hour"), money=True)
    return _drain(agg, keys=["ws", "event_type"])


def stream_windowed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct users per event type on the stream — COUNT
    (DISTINCT) is not a streaming-legal aggregate, so it is rewritten
    as chained stateful aggregations (Spark 3.4+ multiple-stateful-
    operator support): a first windowed group on (window, type, user)
    deduplicates, a second counts the survivors. Both stages share the
    event-time window column, so the watermark flows through and both
    state stores evict closed windows; append mode emits each window
    exactly once when it closes (the still-open final day never
    surfaces, matching the oracle's HAVING bound).

    At 100 TB the first stage's state is bounded by distinct
    (window, type, user) keys per open window — the exact-distinct
    memory floor; the fixed-memory alternative is
    approx_count_distinct, shipped batch-side in operators/sketch.py.
    """
    ev = _events_stream(spark, sf_dir)
    per_user = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type", "user_id")
        .agg(F.count("*").alias("n_ev"))
    )
    agg = (
        per_user.groupBy("w", "event_type")
        .agg(F.count("*").alias("n_users"))
        .select(F.col("w.start").alias("ws"), "event_type", "n_users")
    )
    return _drain(agg)


#: Alert rule: a window alerts when its error share crosses this.
ALERT_ERROR_SHARE = 0.22
ALERT_WINDOW = "6 hours"


def stream_error_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert-rule evaluation on the stream: per 6-hour tumbling
    window, the error share of all events, with the alert flag the
    on-call pager would fire on — the monitoring shape every event
    pipeline runs beside its business aggregations.

    One watermarked windowed aggregation carrying two exact counters
    (events, errors); the share and the threshold comparison derive
    from those integers once per emitted window. Append + file sink:
    an alert row is immutable once its window closes — exactly the
    semantics an incident timeline needs (no flapping rewrites).
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", ALERT_WINDOW).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
        )
        .select(
            F.col("w.start").alias("ws"),
            "n_events",
            "n_errors",
            round_half_up(
                F.col("n_errors").cast("double") / F.col("n_events"), 4
            ).alias("error_share"),
            (
                F.col("n_errors").cast("double") / F.col("n_events")
                > ALERT_ERROR_SHARE
            ).alias("alert"),
        )
    )
    return _drain(agg)


#: Trending readout: top users per closed day window.
TREND_TOPK = 5


def stream_topk_trending_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily top-K most-active users: the trending-dashboard shape.
    Ranking is not a streaming-legal operation, so the production
    split is exactly what runs here — the STREAM maintains per-
    (window, user) counts and emits each window's rows once on close
    (append + file sink, watermark-bounded state), and the top-K rank
    is a BATCH window query over the emitted sink table (the serving
    query a dashboard runs per refresh).

    At 100 TB the stream side's state is bounded by active (window,
    user) keys; the sink table holds one row per user-day — the rank
    runs over that rollup, never the raw stream. Ties break by
    user_id, making the leaderboard engine-reproducible.
    """
    from pyspark.sql import Window as W

    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("ws"), "user_id", "n_events")
    )
    sink = _drain(agg)
    rk = F.row_number().over(
        W.partitionBy("ws").orderBy(F.col("n_events").desc(), "user_id")
    )
    return (
        sink.withColumn("rank", rk)
        .filter(F.col("rank") <= TREND_TOPK)
        .select("ws", "rank", "user_id", "n_events")
    )


def stream_cms_user_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch maintained INSIDE the stream: a per-day CMS of
    user activity. Every event increments ``CMS_DEPTH`` md5-hashed
    counters, so the windowed aggregation's state AND output are fixed
    at 256 cells per open window no matter the event volume — the
    sketch is the aggregate. A consumer estimates any user's daily
    event count as min-over-rows of its buckets without a per-user
    shuffle ever happening (the batch-side readout pattern is
    ``sketch_cms_heavy_hitters``).

    Append mode + watermark: each day's sketch is emitted once, when
    the watermark closes it, and its state is evicted — the streaming
    twin of the batch sketch, with the same md5-deterministic cells the
    oracle rebuilds exactly.
    """
    from mit_map_reduce_spark.operators.sketch import CMS_DEPTH, _cms_bucket

    ev = _events_stream(spark, sf_dir)
    structs = F.array(
        *[
            F.struct(F.lit(i).alias("i"), _cms_bucket(i, F.col("user_id").cast("string")).alias("b"))
            for i in range(CMS_DEPTH)
        ]
    )
    agg = (
        ev.withWatermark("ts", "1 hour")
        .select("ts", F.explode(structs).alias("ib"))
        .groupBy(F.window("ts", "1 day").alias("w"), "ib.i", "ib.b")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "i", "b", "n")
    )
    return _drain(agg)


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-day windows sliding by 1 day — each event lands in 2 windows.

    Update mode + upsert sink keyed by window start (the live-rollup
    shape, like stream_tumbling_counts); every sliding window is a
    refreshed sink row, including the two still-open tail windows.
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(
            F.count("*").alias("n"),
            round_half_up(
                F.sum(money_grains("value")).cast("double") / 1e4 / F.count("value"), 4
            ).alias("avg_value"),
        )
        .select(F.col("w.start").alias("ws"), "n", "avg_value")
    )
    return _drain(agg, keys=["ws"])


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap — a
    REAL stream now (readStream + watermark + append file sink; round 3
    ran the same session_window aggregate in batch mode).

    ``session_window`` is Spark's native stateful sessionization: state
    merges adjacent windows as events arrive, and append mode emits a
    session once the watermark passes its end (last event + gap) — the
    still-open tail sessions stay in state and never reach the sink.
    The oracle reproduces it with the classic gaps-and-islands SQL
    bounded by the same watermark cutoff.
    """
    return _drain(_session_windows_agg(_events_stream(spark, sf_dir)))


def _session_windows_agg(ev: DataFrame) -> DataFrame:
    """The session-window transformation over a normalized events
    stream — shared by the registered query and the crash-recovery
    test (which drives the SAME logic over an incremental feed)."""
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


#: applyInPandasWithState schemas — state is a single struct row.
_PROFILE_OUT = (
    "user_id bigint, n_events bigint, n_types int, first_ts timestamp, last_ts timestamp"
)
_PROFILE_STATE = "n bigint, types array<string>, first_us bigint, last_us bigint"


def stream_stateful_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: per-user running profile via
    ``applyInPandasWithState`` (arbitrary state, beyond what windowed
    aggregation expresses — the Spark surface for the reference's
    "reduce over all values of a key", but incremental and unbounded).

    State per user: running event count, the distinct event-type set,
    first/last event time (kept as epoch-micros longs — state structs
    round-trip through Arrow, primitives are cheapest). Each trigger
    emits the updated profile row (update semantics) into the
    production ``foreachBatch``-upsert parquet sink
    (:func:`_drain` with ``keys``): the sink holds one current row per
    user, so the result read back from files equals the batch
    aggregate, which is what the SQL oracle checks.
    """
    ev = _events_stream(spark, sf_dir)
    return _drain(_profile_update_out(ev), keys=["user_id"])


def _profile_update_out(ev: DataFrame) -> DataFrame:
    """The applyInPandasWithState per-user profile over a normalized
    events stream — shared by the registered query and the
    crash-recovery test."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = ev.select("user_id", "event_type", "ts")

    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            n, types, first_us, last_us = state.get
            types = set(types)
        else:
            n, types, first_us, last_us = 0, set(), None, None
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            types.update(pdf["event_type"])
            ts_us = pdf["ts"].astype("int64") // 1000  # datetime64[ns] -> us
            lo, hi = int(ts_us.min()), int(ts_us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((n, sorted(types), first_us, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_types": [len(types)],
                "first_ts": [pd.Timestamp(first_us, unit="us")],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update, _PROFILE_OUT, _PROFILE_STATE, "update", GroupStateTimeout.NoTimeout
    )


_DEDUP_OUT = "text_md5 string, first_doc_id bigint, n_seen bigint"
_DEDUP_STATE = "first_doc_id bigint, n bigint"


def stream_dedup_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: as documents arrive, keep only the first
    copy of each distinct text (by content hash) — the incremental
    counterpart of the batch ``dedup_exact`` operator, the shape an
    always-on ingestion pipeline needs.

    State per content hash: the kept doc_id + copies seen. "First"
    within a batch ties to the smallest doc_id (arrival order inside a
    batch is nondeterministic under parallelism — same reason the
    reference sorts inside reduce, SURVEY §1 invariant 2). Emissions
    land in the ``foreachBatch``-upsert parquet sink — one current row
    per content hash, read back from files (production shape, no
    memory-sink collect).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    docs = _table_stream(spark, sf_dir, "documents").select(
        F.md5("text").alias("text_md5"), "doc_id"
    )

    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            first_doc, n = state.get
        else:
            first_doc, n = None, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            lo = int(pdf["doc_id"].min())
            first_doc = lo if first_doc is None else min(first_doc, lo)
        state.update((first_doc, n))
        yield pd.DataFrame(
            {"text_md5": [key[0]], "first_doc_id": [first_doc], "n_seen": [n]}
        )

    out = docs.groupBy("text_md5").applyInPandasWithState(
        update, _DEDUP_OUT, _DEDUP_STATE, "update", GroupStateTimeout.NoTimeout
    )
    return _drain(out, keys=["text_md5"])


def stream_multi_grain_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gold table + multi-grain rollup — the lakehouse
    medallion pattern: the stream maintains ONE finest-grain upserted
    snapshot (1-day window x event_type, update mode, the
    ``stream_tumbling_counts`` sink discipline), and every coarser
    grain the dashboards need — per day, per type, grand total — is a
    GROUPING SETS rollup over that snapshot, not extra streaming
    state. Grouping sets are not streaming-legal aggregates in Spark,
    and they do not need to be: the snapshot is key-bounded, so the
    cube over it costs one bounded batch aggregation per refresh while
    the stream keeps a single state store.

    Money discipline: the snapshot's total_value is an exact multiple
    of 0.01, so the second-level ``money_sum`` re-grains identical
    doubles in both engines — the rollup stays order-invariant-exact
    through both aggregation levels.
    """
    ev = _events_stream(spark, sf_dir)
    agg = _day_type_counts(ev.withWatermark("ts", "1 hour"), money=True)
    snap = _drain(agg, keys=["ws", "event_type"])
    base = snap.select(
        F.to_date("ws").alias("day"), "event_type", "n", "total_value"
    )
    return cube_with_grain(base)


def cube_with_grain(base: DataFrame) -> DataFrame:
    """CUBE(day, event_type) over a (day, event_type, n, total_value)
    snapshot, with each output row labeled by its grain.

    Grain labels derive from GROUPING() bits computed inside the
    cube's aggregate list (the only place they are legal), matching
    the oracle's GROUPING() semantics: an isNull() label would
    misclassify a data row whose event_type (or unparsable-ts day) is
    genuinely NULL as a rollup row (round-7 advice; NULL-data
    semantics pinned by tests/test_streaming.py).
    """
    rolled = base.cube("day", "event_type").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        money_sum("total_value", 2).alias("total_value"),
        F.grouping("day").alias("_g_day"),
        F.grouping("event_type").alias("_g_type"),
    )
    grain = (
        F.when(
            (F.col("_g_day") == 1) & (F.col("_g_type") == 1), F.lit("total")
        )
        .when(F.col("_g_day") == 1, F.lit("by_type"))
        .when(F.col("_g_type") == 1, F.lit("by_day"))
        .otherwise(F.lit("by_day_type"))
    )
    return rolled.select(
        grain.alias("grain"), "day", "event_type", "n_events", "total_value"
    )


QUERIES = {
    "stream_multi_grain_counts": stream_multi_grain_counts,
    "stream_error_rate_alerts": stream_error_rate_alerts,
    "stream_topk_trending_users": stream_topk_trending_users,
    "stream_incremental_restart": stream_incremental_restart,
    "stream_late_data_metrics": stream_late_data_metrics,
    "stream_append_tumbling_file_sink": stream_append_tumbling_file_sink,
    "stream_stream_join_attribution": stream_stream_join_attribution,
    "stream_static_enrich_by_segment": stream_static_enrich_by_segment,
    "stream_dedup_first_seen": stream_dedup_first_seen,
    "stream_tumbling_counts": stream_tumbling_counts,
    "stream_windowed_distinct_users": stream_windowed_distinct_users,
    "stream_cms_user_sketch": stream_cms_user_sketch,
    "stream_dedup_within_watermark": stream_dedup_within_watermark,
    "stream_outer_join_unattributed": stream_outer_join_unattributed,
    "stream_sliding_counts": stream_sliding_counts,
    "stream_session_windows": stream_session_windows,
    "stream_stateful_user_profile": stream_stateful_user_profile,
}

ORACLES = {
    # The upserted snapshot covers every window (update mode keeps the
    # open day live), so the rollup equals grouping sets over the whole
    # table; money re-grains through both levels exactly like the
    # engine side.
    "stream_multi_grain_counts": f"""
        WITH per AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
                   count(*) AS n,
                   {sql_money_sum("value", 2)} AS total_value
            FROM events GROUP BY 1, 2
        )
        SELECT CASE
                   WHEN GROUPING(day) = 1 AND GROUPING(event_type) = 1
                       THEN 'total'
                   WHEN GROUPING(day) = 1 THEN 'by_type'
                   WHEN GROUPING(event_type) = 1 THEN 'by_day'
                   ELSE 'by_day_type'
               END AS grain,
               day, event_type,
               CAST(sum(n) AS BIGINT) AS n_events,
               {sql_money_sum("total_value", 2)} AS total_value
        FROM per
        GROUP BY GROUPING SETS ((day, event_type), (day), (event_type), ())
    """,
    "stream_error_rate_alerts": f"""
        WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
        win AS (
            SELECT time_bucket(INTERVAL 6 HOUR, ts) AS ws,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_errors
            FROM events, wm
            GROUP BY 1, wm.w
            HAVING time_bucket(INTERVAL 6 HOUR, ts) + INTERVAL 6 HOUR <= wm.w
        )
        SELECT CAST(ws AS TIMESTAMP) AS ws, n_events, n_errors,
               floor((CAST(n_errors AS DOUBLE) / n_events) * 10000.0 + 0.5)
                   / 10000.0 AS error_share,
               CAST(n_errors AS DOUBLE) / n_events > {ALERT_ERROR_SHARE} AS alert
        FROM win
    """,
    "stream_topk_trending_users": f"""
        WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
        per_user AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws, user_id,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events, wm
            GROUP BY 1, user_id, wm.w
            HAVING CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY <= wm.w
        ),
        ranked AS (
            SELECT ws, user_id, n_events,
                   CAST(row_number() OVER (
                       PARTITION BY ws ORDER BY n_events DESC, user_id
                   ) AS INTEGER) AS rank
            FROM per_user
        )
        SELECT ws, rank, user_id, n_events FROM ranked WHERE rank <= {TREND_TOPK}
    """,
    # At-least-once redelivery (same file fed twice) collapsed by the
    # built-in dedup == single-copy batch counts over CLOSED windows.
    "stream_dedup_within_watermark": """
        WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events, wm
        GROUP BY 1, event_type, wm.w
        HAVING CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY <= wm.w
    """,
    # Across-restart incremental processing equals the one-shot batch
    # aggregation bounded by the final watermark (no late data by
    # construction; run 2 only advances the watermark).
    "stream_incremental_restart": """
        WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events, wm
        GROUP BY 1, event_type, wm.w
        HAVING CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY <= wm.w
    """,
    # The two-batch replay in SQL: batch 1 = on-time cohort (all days
    # before the last, event_id % 7 != 0), whose max ts sets the
    # mid-stream watermark; batch-2 rows count iff their day window
    # was still open then; windows surface iff the FINAL watermark
    # closed them.
    "stream_late_data_metrics": f"""
        WITH lastd AS (SELECT CAST(date_trunc('day', max(ts)) AS TIMESTAMP) AS d0 FROM events),
        wm1 AS (
            SELECT max(ts) - INTERVAL 1 HOUR AS w
            FROM events, lastd
            WHERE ts < lastd.d0 AND event_id % {LATE_COHORT_MOD} <> 0
        ),
        wmf AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
        ev AS (
            SELECT event_id, ts,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws,
                   (event_id % {LATE_COHORT_MOD} = 0 AND ts < lastd.d0) AS is_late,
                   (ts >= lastd.d0 OR event_id % {LATE_COHORT_MOD} = 0) AS in_batch2
            FROM events, lastd
        ),
        kept AS (
            SELECT ev.* FROM ev, wm1
            WHERE (NOT in_batch2) OR ws + INTERVAL 1 DAY > wm1.w
        )
        SELECT ws,
               CAST(count(*) FILTER (NOT is_late) AS BIGINT) AS n_ontime,
               CAST(count(*) FILTER (is_late) AS BIGINT) AS n_late_admitted,
               CAST(count(*) AS BIGINT) AS n
        FROM kept, wmf
        GROUP BY ws, wmf.w
        HAVING ws + INTERVAL 1 DAY <= wmf.w
    """,
    # Late-data / open-window dropping: only windows CLOSED by the
    # watermark (end <= max event time - 1h delay) reach an append-mode
    # sink; the final still-open day must be absent.
    "stream_append_tumbling_file_sink": """
        WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws, event_type,
               CAST(count(*) AS BIGINT) AS n,
               floor((CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) * 100.0 + 0.5) / 100.0 AS total_value
        FROM events, wm
        GROUP BY 1, event_type, wm.w
        HAVING CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY <= wm.w
    """,
    "stream_static_enrich_by_segment": """
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_events,
               floor((CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) * 100.0 + 0.5) / 100.0 AS total_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    """,
    "stream_outer_join_unattributed": f"""
        WITH wm AS (
            SELECT least(
                (SELECT max(ts) FROM events WHERE event_type = 'click'),
                (SELECT max(ts) FROM events WHERE event_type = 'purchase')
            ) - INTERVAL 1 HOUR AS w
        ),
        matched AS (
            SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
                   c.event_id AS click_id, TRUE AS attributed
            FROM events p
            JOIN events c
              ON p.event_type = 'purchase' AND c.event_type = 'click'
             AND p.user_id = c.user_id
             AND c.ts >= p.ts - INTERVAL {ATTRIBUTION_WINDOW}
             AND c.ts <= p.ts
        ),
        unmatched AS (
            SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
                   CAST(NULL AS BIGINT) AS click_id, FALSE AS attributed
            FROM events p CROSS JOIN wm
            WHERE p.event_type = 'purchase'
              AND p.ts < wm.w
              AND NOT EXISTS (
                  SELECT 1 FROM events c
                  WHERE c.event_type = 'click' AND c.user_id = p.user_id
                    AND c.ts >= p.ts - INTERVAL {ATTRIBUTION_WINDOW}
                    AND c.ts <= p.ts
              )
        )
        SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
    "stream_stream_join_attribution": f"""
        SELECT p.event_id AS purchase_id,
               p.user_id,
               p.ts AS purchase_ts,
               c.event_id AS click_id,
               c.ts AS click_ts
        FROM events p
        JOIN events c
          ON p.event_type = 'purchase' AND c.event_type = 'click'
         AND p.user_id = c.user_id
         AND c.ts >= p.ts - INTERVAL {ATTRIBUTION_WINDOW}
         AND c.ts <= p.ts
    """,
    "stream_dedup_first_seen": """
        SELECT md5(text) AS text_md5,
               min(doc_id) AS first_doc_id,
               CAST(count(*) AS BIGINT) AS n_seen
        FROM documents GROUP BY md5(text)
    """,
    "stream_cms_user_sketch": f"""
        WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
        cells AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws,
                   CAST(t.i AS INTEGER) AS i,
                   CAST({sql_hex_int("md5(CAST(t.i AS VARCHAR) || ':' || CAST(user_id AS VARCHAR))", 2)}
                       % 64 AS INTEGER) AS b
            FROM events CROSS JOIN range(4) t(i)
        )
        SELECT ws, i, b, CAST(count(*) AS BIGINT) AS n
        FROM cells, wm
        GROUP BY ws, i, b, wm.w
        HAVING ws + INTERVAL 1 DAY <= wm.w
    """,
    "stream_windowed_distinct_users": """
        WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws, event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events, wm
        GROUP BY 1, event_type, wm.w
        HAVING CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY <= wm.w
    """,
    "stream_tumbling_counts": """
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws, event_type,
               CAST(count(*) AS BIGINT) AS n,
               floor((CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) * 100.0 + 0.5) / 100.0 AS total_value
        FROM events
        GROUP BY 1, event_type
    """,
    "stream_sliding_counts": """
        SELECT ws, CAST(count(*) AS BIGINT) AS n,
               floor((CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
                      / 10000.0 / count(value)) * 10000.0 + 0.5) / 10000.0 AS avg_value
        FROM (
            SELECT unnest([CAST(date_trunc('day', ts) AS TIMESTAMP) - INTERVAL 1 DAY,
                           CAST(date_trunc('day', ts) AS TIMESTAMP)]) AS ws,
                   value
            FROM events
        )
        GROUP BY ws
    """,
    "stream_stateful_user_profile": """
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT event_type) AS INTEGER) AS n_types,
               min(ts) AS first_ts,
               max(ts) AS last_ts
        FROM events GROUP BY user_id
    """,
    "stream_session_windows": """
        WITH o AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS brk
            FROM events
        ),
        s AS (
            SELECT user_id, ts,
                   sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM o
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               CAST(count(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id, sid
        -- append mode: only sessions the watermark closed reach the
        -- sink (same cutoff convention as the tumbling append oracle)
        HAVING max(ts) + INTERVAL 30 MINUTE
               <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    """,
}
