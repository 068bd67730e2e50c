"""Traced runs: spans around calls into each layer, read from outside.

Nothing inside the package changes. Spans come from three sources:

- wrappers the benchmark installs around public functions
  (``catalog.load_table`` and ``catalog.shared_persist`` before the
  operators import them by name, ``plans.streaming_plan_report``) and
  around its own calls (``op``, ``operators.build``,
  ``operators.consume``, ``mapreduce.run_job``,
  ``mapreduce.save_text_output``);
- ``spark.job`` spans from the status store's submission and completion
  times, read after the timed section;
- ``streaming.batch`` spans from a ``StreamingQueryListener``.

Spans are kept in memory and written when the run ends. Every span of
one op carries the op's id. Jobs are attributed to the op whose window
holds their submission time: there is one client thread and ops run
back to back, and stream micro-batch jobs escape the caller's job group.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._op_id: int | None = None
        self.stream_events: list[tuple[str, dict]] = []
        self._lock = threading.Lock()

    # --- spans ---------------------------------------------------------

    @property
    def _stack(self) -> list[dict]:
        # Per thread: a wrapped function may run on a py4j callback thread.
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        s = {
            "id": len(self.spans),
            "op": self._op_id,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def op(self, op_id: int, name: str):
        self._op_id = op_id
        try:
            with self.span("op", op_name=name) as s:
                yield s
        finally:
            self._op_id = None

    def wrap(self, module, attr: str, span_name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def install(self) -> None:
        """Wrap the package's public layer functions. Must run before
        the operators are imported: they bind ``load_table`` and
        ``shared_persist`` by name."""
        from mit_map_reduce_spark import catalog, plans

        self.wrap(catalog, "load_table", "catalog.load_table")
        self.wrap(catalog, "shared_persist", "catalog.shared_persist")
        self.wrap(plans, "streaming_plan_report", "plans.streaming_plan_report")

    # --- streaming listener ---------------------------------------------

    def listen(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer._stream_event("started", {"run_id": str(event.runId)})

            def onQueryProgress(self, event):
                p = event.progress
                tracer._stream_event(
                    "progress",
                    {
                        "run_id": str(p.runId),
                        "batch_id": p.batchId,
                        "timestamp": p.timestamp,
                        "input_rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                        "state": [
                            {
                                "commit_ms": s.commitTimeMs,
                                "rows_total": s.numRowsTotal,
                                "mem_bytes": s.memoryUsedBytes,
                                "dropped": s.numRowsDroppedByWatermark,
                            }
                            for s in p.stateOperators
                        ],
                    },
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                tracer._stream_event("terminated", {"run_id": str(event.runId)})

        spark.streams.addListener(_Listener())

    def _stream_event(self, kind: str, data: dict) -> None:
        with self._lock:
            self.stream_events.append((kind, data))

    def wait_for_stream_events(self, timeout_s: float = 10.0) -> bool:
        """Listener events arrive asynchronously; wait until every
        started query has reported its termination."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                kinds = [k for k, _ in self.stream_events]
            if kinds.count("terminated") >= kinds.count("started"):
                time.sleep(0.2)  # progress of the last batch may trail
                return True
            time.sleep(0.1)
        return False


# --- status store ---------------------------------------------------------


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt):
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def status_store_jobs(spark, since: float) -> list[dict]:
    """Every job submitted at or after ``since`` (epoch s), with the
    metrics of the stages it ran (skipped stages carry none)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    for j in _iter(store.jobsList(None)):
        start = _opt_ms(j.submissionTime())
        if start is None or start < since - 0.001:
            continue
        stages = []
        for sid in _iter(j.stageIds()):
            try:
                s = store.lastStageAttempt(sid)
            except Py4JError:  # evicted from the store; counted as absent
                continue
            if s.status().toString() == "SKIPPED":
                continue
            stages.append(
                {
                    "id": sid,
                    "tasks": s.numTasks(),
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "input_bytes": s.inputBytes(),
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "peak_exec_mem_bytes": s.peakExecutionMemory(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_records_written": s.shuffleWriteRecords(),
                    "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                }
            )
        end = _opt_ms(j.completionTime())
        jobs.append({"id": j.jobId(), "start": start, "end": end or start, "stages": stages})
    return sorted(jobs, key=lambda j: j["id"])


def plan_phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) of the consumed frame."""
    out = {}
    for kv in _iter(df._jdf.queryExecution().tracker().phases()):
        out[kv._1()] = kv._2().durationMs() / 1e3
    return out


# --- aggregation ------------------------------------------------------------


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def attribute_jobs(ops: list[dict], jobs: list[dict]) -> None:
    """Give each op record the jobs submitted inside its window."""
    for op in ops:
        op["jobs"] = [j for j in jobs if op["start"] <= j["start"] <= op["end"]]


def job_and_batch_spans(tracer: Tracer, ops: list[dict]) -> None:
    """Append ``streaming.batch`` and ``spark.job`` spans. A batch's
    parent is the innermost wrapper span of its op that holds its start;
    a job's parent is the innermost wrapper or batch span that does."""
    from datetime import datetime

    def add(op_id, name, start, end, candidates, **attrs):
        holders = [
            s for s in candidates if s["op"] == op_id and s["start"] <= start <= s["end"]
        ]
        parent = max(holders, key=lambda s: s["start"], default=None)
        tracer.spans.append(
            {
                "id": len(tracer.spans),
                "op": op_id,
                "name": name,
                "parent": parent["id"] if parent else None,
                "start": start,
                "end": end,
                **attrs,
            }
        )

    wrappers = list(tracer.spans)
    for kind, p in tracer.stream_events:
        if kind != "progress":
            continue
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        end = start + p["duration_ms"].get("triggerExecution", 0) / 1e3
        owner = next((o for o in ops if o["start"] <= start <= o["end"]), None)
        if owner is not None:
            add(owner["id"], "streaming.batch", start, end, wrappers, batch_id=p["batch_id"])
    holders = list(tracer.spans)
    for op in ops:
        for j in op["jobs"]:
            add(op["id"], "spark.job", j["start"], j["end"], holders, job_id=j["id"])


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, total seconds, and self seconds (duration
    minus the part of it that its children cover)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, dict] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        inner = [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s["id"], [])]
        inner = [(a, b) for a, b in inner if b > a]
        row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += dur
        row["self_s"] += dur - _union_length(inner)
    return out


def op_layers(op: dict) -> dict:
    """Per-op layer figures used for ranking (spark.sched / spark.exec)."""
    stages = [s for j in op["jobs"] for s in j["stages"]]
    wall = op["end"] - op["start"]
    busy = _union_length(
        [(max(j["start"], op["start"]), min(j["end"], op["end"])) for j in op["jobs"]]
    )
    task_run = sum(s["run_s"] for s in stages)
    return {
        "spark.sched.jobs": len(op["jobs"]),
        "spark.sched.stages": len(stages),
        "spark.sched.tasks": sum(s["tasks"] for s in stages),
        "spark.sched.no_job_s": max(0.0, wall - busy),
        "spark.exec.task_run_s": task_run,
        "spark.exec.task_cpu_s": sum(s["cpu_s"] for s in stages),
        "spark.exec.gc_s": sum(s["gc_s"] for s in stages),
        "spark.exec.input_bytes": sum(s["input_bytes"] for s in stages),
        "spark.exec.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "spark.exec.peak_exec_mem_bytes": max((s["peak_exec_mem_bytes"] for s in stages), default=0),
        "spark.shuffle.write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spark.shuffle.read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "spark.shuffle.records_written": sum(s["shuffle_records_written"] for s in stages),
        "spark.shuffle.fetch_wait_s": sum(s["fetch_wait_s"] for s in stages),
    }


def stream_metrics(events: list, drain_s: float) -> dict[str, float]:
    """``streaming.*`` figures from the listener's events; ``drain_s`` is
    the time spent in the ops that drained streams."""
    progress = [p for k, p in events if k == "progress"]

    def dur(key: str) -> float:
        return sum(p["duration_ms"].get(key, 0) for p in progress)

    last_state: dict[str, list] = {}
    for p in progress:
        last_state[p["run_id"]] = p["state"]
    trigger_ms = dur("triggerExecution")
    return {
        "streaming.queries_started": sum(1 for k, _ in events if k == "started"),
        "streaming.batches": len(progress),
        "streaming.input_rows": sum(p["input_rows"] for p in progress),
        "streaming.trigger_ms": trigger_ms,
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.state_commit_ms": sum(s["commit_ms"] for p in progress for s in p["state"]),
        "streaming.state_rows_total": sum(s["rows_total"] for st in last_state.values() for s in st),
        "streaming.state_mem_bytes": max(
            (s["mem_bytes"] for p in progress for s in p["state"]), default=0
        ),
        "streaming.rows_dropped_by_watermark": sum(
            s["dropped"] for p in progress for s in p["state"]
        ),
        "streaming.outside_batch_s": max(0.0, drain_s - trigger_ms / 1e3) if progress else 0.0,
    }
