"""Streaming semantics tests: watermark late-data handling.

The oracle-checked streaming queries run in complete mode over finite
input (see streaming/queries.py); this test drives the *production*
configuration — append mode + watermark — through multiple
micro-batches and asserts the two behaviors that matter at scale:

1. a window is emitted exactly once, when the watermark passes its end
   (bounded state: Spark can drop the window's state afterwards);
2. an event arriving later than the watermark is DISCARDED, not
   re-aggregated (no re-emission of a finalized window).

Spark's watermark for batch N is computed from data seen in batches
< N, which drives the write/process choreography below.
"""

import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def _write_batch(spark, path, rows):
    # coalesce(1): each logical batch must land as ONE file, or the
    # file source may split it across micro-batches and advance the
    # watermark mid-"batch".
    spark.createDataFrame(rows, "ts timestamp, user_id int").coalesce(1).write.mode(
        "append"
    ).parquet(path)


@pytest.fixture()
def landing(tmp_path):
    return str(tmp_path / "landing")


def test_streaming_parquet_sink_exactly_once(spark, landing, tmp_path):
    # The production sink: writeStream -> parquet with checkpointing.
    # availableNow drains the source and stops; the file sink's commit
    # log gives exactly-once output. Restarting the query against the
    # same checkpoint must NOT duplicate rows.
    _write_batch(spark, landing, [Row(ts=None, user_id=i) for i in range(10)])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.schema("ts timestamp, user_id int")
            .parquet(landing)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(out).count() == 10
    run_once()  # no new input: restart re-reads nothing, emits nothing
    assert spark.read.parquet(out).count() == 10
    _write_batch(spark, landing, [Row(ts=None, user_id=99)])
    run_once()  # only the new file is processed
    assert spark.read.parquet(out).count() == 11


def test_foreach_batch_custom_sink(spark, landing, tmp_path):
    # foreachBatch: the hook for sinks Spark doesn't ship (JDBC upsert,
    # MERGE into a table format...). Each micro-batch arrives as a
    # batch DataFrame; here the "target" is a dict the upsert merges
    # into, proving batch boundaries and per-batch aggregation.
    target: dict[int, int] = {}

    def upsert(batch_df, _batch_id):
        for r in batch_df.groupBy("user_id").agg(F.count("*").alias("n")).collect():
            target[r.user_id] = target.get(r.user_id, 0) + r.n

    def run_once():
        q = (
            spark.readStream.schema("ts timestamp, user_id int")
            .parquet(landing)
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", str(tmp_path / "fb_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write_batch(spark, landing, [Row(ts=None, user_id=1), Row(ts=None, user_id=1), Row(ts=None, user_id=2)])
    run_once()
    assert target == {1: 2, 2: 1}
    _write_batch(spark, landing, [Row(ts=None, user_id=2)])
    run_once()  # checkpoint: only the new file is merged
    assert target == {1: 2, 2: 2}


def test_append_mode_watermark_finalizes_and_drops_late(spark, landing, tmp_path):
    from datetime import datetime

    t = lambda h, m: datetime(2024, 1, 1, h, m)

    # Batch 1: two on-time events in different 15-min windows.
    _write_batch(spark, landing, [Row(ts=t(9, 0), user_id=1), Row(ts=t(10, 0), user_id=2)])

    stream = spark.readStream.schema("ts timestamp, user_id int").parquet(landing)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    name = "wm_sink_" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # processAllAvailable drains the data batch AND the follow-up
        # no-data batch Spark triggers after a watermark advance. After
        # batch 1 the watermark is 10:00-30m = 09:30, so the 09:00
        # window (ends 09:15) is finalized and emitted exactly once;
        # the 10:00 window (ends 10:15 > 09:30) stays open.
        q.processAllAvailable()
        emitted = {(r.ws.hour, r.ws.minute): r.n for r in spark.table(name).collect()}
        assert emitted == {(9, 0): 1}

        # Batch 2: event at 11:00 advances the watermark to 10:30 ->
        # the 10:00 window finalizes. 11:00's own window stays open.
        _write_batch(spark, landing, [Row(ts=t(11, 0), user_id=3)])
        q.processAllAvailable()
        emitted = {(r.ws.hour, r.ws.minute): r.n for r in spark.table(name).collect()}
        assert emitted == {(9, 0): 1, (10, 0): 1}

        # Batch 3: a LATE event at 09:05 — behind the 10:30 watermark
        # and inside an already-finalized window. It must be DROPPED:
        # no new rows, no re-emission of the 09:00 window.
        _write_batch(spark, landing, [Row(ts=t(9, 5), user_id=4)])
        q.processAllAvailable()
        emitted = {(r.ws.hour, r.ws.minute): r.n for r in spark.table(name).collect()}
        assert emitted == {(9, 0): 1, (10, 0): 1}
    finally:
        q.stop()

def test_stateful_window_state_survives_restart(spark, landing, tmp_path):
    # The streaming analog of the reference's worker-crash recovery
    # (src/mr/coordinator.go reissues tasks; here the state store
    # recovers from the checkpoint): a window accumulated across a
    # stop/restart must emit ONCE with the combined count — pre-restart
    # events must not be lost, and the emission must not duplicate.
    from datetime import datetime

    t = lambda h, m: datetime(2024, 1, 1, h, m)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema("ts timestamp, user_id int").parquet(landing)
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "15 minutes").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # Run 1: two events in the 09:00 window; watermark ends at 08:40 —
    # the window stays OPEN, its n=2 lives only in checkpointed state.
    _write_batch(spark, landing, [Row(ts=t(9, 0), user_id=1), Row(ts=t(9, 10), user_id=2)])
    run_once()

    # Run 2 (fresh query instance, same checkpoint): one more event in
    # the same window — merged into the RECOVERED state — plus one at
    # 10:30 that advances the watermark past the window's end.
    _write_batch(spark, landing, [Row(ts=t(9, 5), user_id=3), Row(ts=t(10, 30), user_id=4)])
    run_once()

    # Run 3: a further event forces one more batch in case run 2's
    # trigger stopped before the post-watermark emission batch.
    _write_batch(spark, landing, [Row(ts=t(11, 0), user_id=5)])
    run_once()

    emitted = {(r.ws.hour, r.ws.minute): r.n for r in spark.read.parquet(out).collect()}
    assert emitted[(9, 0)] == 3  # 2 pre-restart + 1 post-restart, once
    # exactly-once: no duplicate rows for any window
    rows = spark.read.parquet(out).groupBy("ws").count().filter("count > 1").count()
    assert rows == 0


import pytest as _pytest


@_pytest.mark.parametrize(
    "qname",
    [
        # file-sink append path (fresh scratch + checkpoint per call)
        "stream_session_windows",
        # foreachBatch upsert path (live-rollup snapshot)
        "stream_tumbling_counts",
        "stream_static_enrich_by_segment",
        # checkpoint-restart incremental path (two runs, one sink)
        "stream_incremental_restart",
    ],
)
def test_production_sink_invocations_deterministic(spark, sf_dir, qname):
    """Every streaming query now emits through a production sink
    (round-4: the memory sink is gone). Each invocation builds a fresh
    checkpoint + sink, so two runs must produce identical rows — a
    nondeterministic watermark cutoff or a leaky upsert shows up here."""
    from mit_map_reduce_spark.streaming import queries as SQ

    fn = SQ.QUERIES[qname]
    first = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    second = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert first == second
    assert len(first) > 0


def test_late_data_metrics_drop_admit_split(spark, sf_dir):
    """The late-replay query's contract: every emitted window except
    the last full day carries ZERO admitted late rows (their windows
    were closed when the held-back cohort arrived) yet the raw table
    HAS late-cohort rows there — the drop is visible as a deficit; the
    final emitted window admits its whole late cohort; the still-open
    last day never surfaces."""
    from pyspark.sql import functions as F

    from mit_map_reduce_spark.catalog import load_table
    from mit_map_reduce_spark.streaming.queries import (
        LATE_COHORT_MOD,
        stream_late_data_metrics,
    )

    out = {r.ws: r for r in stream_late_data_metrics(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    raw = {
        r.ws: r
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("ws"))
        .agg(
            F.count("*").alias("n_all"),
            F.count(F.when(F.col("event_id") % LATE_COHORT_MOD == 0, 1)).alias("n_cohort"),
        )
        .collect()
    }
    days = sorted(raw)
    last_open, last_emitted = days[-1], days[-2]
    assert last_open not in out  # still-open window never emitted
    assert set(out) == set(days[:-1])
    for d in days[:-2]:
        r = out[d]
        assert r.n_late_admitted == 0
        assert r.n == raw[d].n_all - raw[d].n_cohort  # dropped = deficit
    r = out[last_emitted]
    assert r.n_late_admitted == raw[last_emitted].n_cohort > 0
    assert r.n == raw[last_emitted].n_all


def test_multi_grain_cube_labels_null_data_rows_as_data(spark):
    """A genuinely NULL event_type (or NULL day from an unparsable ts)
    is DATA, not a rollup: the grain label must come from GROUPING()
    bits, never isNull() (round-7 advice). The NULL-typed data row must
    surface under by_day_type and also aggregate into its rollups."""
    import datetime

    from pyspark.sql import functions as F

    from mit_map_reduce_spark.streaming.queries import cube_with_grain

    d = datetime.date(2024, 1, 1)
    base = spark.createDataFrame(
        [(d, None, 5, 1.0), (d, "click", 3, 2.0)],
        "day date, event_type string, n long, total_value double",
    )
    out = cube_with_grain(base).collect()
    by_grain = {}
    for r in out:
        by_grain.setdefault(r["grain"], []).append(r)
    # the NULL event_type row appears as DATA at the finest grain
    finest = {(r["day"], r["event_type"]): r["n_events"] for r in by_grain["by_day_type"]}
    assert finest == {(d, None): 5, (d, "click"): 3}
    # ... and as a distinct by_type rollup keyed by NULL
    per_type = {r["event_type"]: r["n_events"] for r in by_grain["by_type"]}
    assert per_type == {None: 5, "click": 3}
    # day and grand-total rollups absorb both rows
    assert {r["n_events"] for r in by_grain["by_day"]} == {8}
    assert {r["n_events"] for r in by_grain["total"]} == {8}


@pytest.mark.parametrize("free_mb, expect_shm", [(64, False), (16 * 1024, True)])
def test_stream_scratch_needs_free_dev_shm(monkeypatch, free_mb, expect_shm):
    """Run scratch (stream state, cluster checkpoints) goes to /dev/shm
    only when it has room: with Docker's default 64 MB free it falls
    back to scratch_base(), where a small tmpfs would otherwise fail
    writes mid-query."""
    import os

    from mit_map_reduce_spark.catalog import run_scratch_root, scratch_base

    if not (os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)):
        pytest.skip("no writable /dev/shm")
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_DIR", raising=False)
    # (bsize, frsize, blocks, bfree, bavail, files, ffree, favail, flag, namemax)
    fake = os.statvfs_result((4096, 4096, 0, 0, free_mb * 256, 0, 0, 0, 0, 255))
    monkeypatch.setattr(os, "statvfs", lambda path: fake)
    assert run_scratch_root() == ("/dev/shm" if expect_shm else scratch_base())


def _windowed_counts(spark, landing):
    # 15-minute window counts under a 30-minute watermark over a feed
    # written by _write_batch
    stream = spark.readStream.schema("ts timestamp, user_id int").parquet(landing)
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )


def test_append_drain_closing_no_window_is_empty(spark, landing):
    # one event: the watermark (event - 30 min) never passes its
    # window's end, so the file sink commits no data file and the
    # runner returns an empty frame with the query's schema
    from datetime import datetime

    from mit_map_reduce_spark.streaming.queries import _drain

    _write_batch(spark, landing, [Row(ts=datetime(2024, 1, 1, 9, 0), user_id=1)])
    agg = _windowed_counts(spark, landing)
    out = _drain(agg)
    assert out.collect() == []
    assert out.schema == agg.schema


def test_keyed_drain_without_batches_is_empty(spark, landing):
    # an empty landing dir yields no micro-batch, so the upsert never
    # swaps a CURRENT pointer in
    import os

    from mit_map_reduce_spark.streaming.queries import _drain

    os.makedirs(landing)
    counts = (
        spark.readStream.schema("ts timestamp, user_id int")
        .parquet(landing)
        .groupBy("user_id")
        .count()
    )
    out = _drain(counts, keys=["user_id"])
    assert out.collect() == []
    assert out.schema == counts.schema


def _offsets_conf(run_dir, key="spark.sql.shuffle.partitions"):
    # each offset log entry records the session conf the stream runs
    # under on its second line; returns {batch_id: value of key}
    import json
    import os

    offsets = os.path.join(run_dir, "ckpt", "offsets")
    out = {}
    for name in os.listdir(offsets):
        if name.isdigit():
            with open(os.path.join(offsets, name)) as fh:
                out[int(name)] = json.loads(fh.read().splitlines()[1])["conf"][key]
    return out


def test_drain_scopes_shuffle_partitions_to_start(spark, landing, tmp_path):
    # the stream runs at STREAM_MIN_WIDTH (recorded in the first offset
    # log entry's conf), and the session gets its own value back
    from mit_map_reduce_spark.streaming.queries import STREAM_MIN_WIDTH, _drain

    _write_batch(spark, landing, [Row(ts=None, user_id=1)])
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        _drain(_windowed_counts(spark, landing), run_dir=str(tmp_path / "run"))
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, before)
    assert _offsets_conf(str(tmp_path / "run"))[0] == str(STREAM_MIN_WIDTH) == "2"


def test_state_width_keeps_a_wave_for_python_state(spark, landing):
    # a plain stateful stream runs at STREAM_MIN_WIDTH; one whose plan
    # runs Python state per key (applyInPandasWithState) keeps at least
    # one task wave, read off the plan, with no flag from the caller
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mit_map_reduce_spark.streaming.queries import STREAM_MIN_WIDTH, state_width

    def count(key, pdfs, state):
        yield pd.DataFrame({"user_id": [key[0]], "n": [sum(len(p) for p in pdfs)]})

    _write_batch(spark, landing, [Row(ts=None, user_id=1)])
    stream = spark.readStream.schema("ts timestamp, user_id int").parquet(landing)
    python_state = stream.groupBy("user_id").applyInPandasWithState(
        count, "user_id int, n long", "n long", "update", GroupStateTimeout.NoTimeout
    )
    wave = spark.sparkContext.defaultParallelism
    assert state_width(_windowed_counts(spark, landing)) == STREAM_MIN_WIDTH
    assert state_width(python_state) == max(STREAM_MIN_WIDTH, wave)


def test_restart_second_drain_keeps_first_width(spark, sf_dir, monkeypatch):
    # stream_incremental_restart drains twice on one checkpoint; the
    # second drain asks for another width, and must still run at the
    # width its first start recorded
    from mit_map_reduce_spark.streaming import queries as sq

    asked, run_dirs = iter([3, 5]), []
    real_drain = sq._drain

    def drain(out, **kw):
        run_dirs.append(kw["run_dir"])
        return real_drain(out, **kw)

    monkeypatch.setattr(sq, "state_width", lambda out: next(asked))
    monkeypatch.setattr(sq, "_drain", drain)
    sq.LAST_STREAM_PLAN = {}
    assert sq.stream_incremental_restart(spark, sf_dir).count() > 0
    assert len(run_dirs) == 2 and run_dirs[0] == run_dirs[1]
    assert next(asked, None) is None  # both drains asked
    assert sq.LAST_STREAM_PLAN["state_partitions"] == 3
    recorded = _offsets_conf(run_dirs[0])
    assert len(recorded) >= 2 and set(recorded.values()) == {"3"}


def test_raw_schema_read_once_per_file_version(spark, tmp_path):
    # the stream source's schema is memoized per file version: a second
    # call reuses it, a rewritten file is read again
    import os

    from mit_map_reduce_spark.streaming import queries as sq

    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,)], "a int").coalesce(1).write.parquet(path)
    first = sq._raw_schema(spark, path)
    n = len(sq._RAW_SCHEMAS)
    assert sq._raw_schema(spark, path) is first and len(sq._RAW_SCHEMAS) == n
    spark.createDataFrame([(1, "x")], "a int, b string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    os.utime(path, ns=(0, 0))  # a distinct mtime even on a coarse clock
    assert sq._raw_schema(spark, path).fieldNames() == ["a", "b"]
