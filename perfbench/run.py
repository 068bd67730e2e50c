"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. A run:

1. makes the seeded inputs (the ``mr_facade`` corpus) and the expected
   results (DuckDB oracles, ``run_sequential``) before anything is timed;
2. starts one fresh driver process with its own ``TMPDIR``,
   ``SPARK_LOCAL_DIRS`` and JVM temp dir, and times process start ->
   session ready (``setup_s``);
3. in that process runs rounds of the workload's ops, each round in a
   seed-permuted order, closed loop with one client thread: first
   the workload's ``warmup_rounds``, then measured rounds until
   ``--seconds`` have passed since the first measured one and at least
   ``MIN_MEASURED`` have run (a started round always finishes);
4. reads the process tree's CPU from ``/proc`` at every round mark and
   its memory every 0.2 s, from this process, outside the measured one;
5. checks every op's output against the expected result.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones (``wall_s`` and
``cpu_s`` are the medians over the measured rounds of one round's wall
time and process-tree CPU); with ``--trace 1`` they are the per-layer
ones, totals over the warm-up rounds (which pay the cold JVM and the
session's shared-artifact builds) and exactly one measured round, so
exact counters repeat from run to run; the spans are written to
``.perfbench/out/``. Exits non-zero, printing no result, when the
package or the testdata cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import checks, procfs  # noqa: E402
from perfbench.workloads import NOT_IN_BENCHMARK, SF, WORKLOADS, write_corpus  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
SESSION_TIMEOUT_S = 170
#: Measured rounds an untraced run makes at least, so that their median
#: is one of several. A traced run makes one, whatever ``--seconds`` says.
MIN_MEASURED = 3

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "CPU-s"}


class SetupError(Exception):
    """The checkout cannot run the benchmark (no package, no testdata)."""


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def testdata_root() -> str:
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or not os.path.isdir(
        os.path.join(ROOT, "mit_map_reduce_spark")
    ):
        raise SetupError(f"no mit_map_reduce_spark package under {ROOT}")
    from mit_map_reduce_spark.catalog import DEFAULT_SF_DIR

    return os.path.dirname(DEFAULT_SF_DIR)


# --- inputs and expected results -------------------------------------------


def expected(workload, sf_dir: str, inputs: list[str]) -> dict:
    cache = os.path.join(STATE, "expected")
    if workload.kind == "mapreduce":
        return {app: checks.mr_expected(app, inputs, cache) for app in workload.ops}
    return checks.oracle_results(sf_dir, list(workload.ops), cache)


# --- sessions ----------------------------------------------------------------


class Session:
    """One driver process, its mark protocol and its /proc readings."""

    def __init__(self, run_dir: str, spec: dict):
        self.dir = os.path.join(run_dir, "session")
        for sub in ("tmp", "spark-local", "results", "mr"):
            os.makedirs(os.path.join(self.dir, sub), exist_ok=True)
        mark_r, mark_w = os.pipe()
        ack_r, ack_w = os.pipe()
        spec = dict(spec, run_dir=self.dir, mark_fd=mark_w, ack_fd=ack_r)
        spec_path = os.path.join(self.dir, "spec.json")
        with open(spec_path, "w", encoding="utf-8") as f:
            json.dump(spec, f)
        tmp = os.path.join(self.dir, "tmp")
        env = dict(os.environ)
        env.pop("SPARK_GRAFT_SCRATCH_DIR", None)
        env.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(self.dir, "spark-local"),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",  # no /tmp/hsperfdata_*
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            PYTHONPATH=ROOT,
        )
        self.log_path = os.path.join(self.dir, "session.log")
        self.marks: list[tuple[str, float, dict[str, float]]] = []
        self.host_ticks: list[tuple[int, int]] = []  # (steal, total) at each mark
        self._log = open(self.log_path, "wb")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.session", spec_path],
            cwd=ROOT,
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=self._log,
            stderr=subprocess.STDOUT,
            pass_fds=(mark_w, ack_r),
            start_new_session=True,
        )
        os.close(mark_w)
        os.close(ack_r)
        self._mark_r = os.fdopen(mark_r, "rb", buffering=0)
        self._ack_w = ack_w
        self.sampler = procfs.Sampler(self.proc.pid).start()

    def next_mark(self, timeout_s: float) -> str | None:
        """Wait for the next mark; read the tree's CPU, then reply."""
        result: list[bytes] = []
        reader = threading.Thread(target=lambda: result.append(self._mark_r.readline()))
        reader.daemon = True
        reader.start()
        reader.join(timeout_s)
        if not result or not result[0]:
            return None
        name = result[0].decode().strip()
        now = time.perf_counter()
        cpu = procfs.cpu_by_category(self.proc.pid)
        self.sampler.sample()
        self.marks.append((name, now, cpu))
        self.host_ticks.append(procfs.host_ticks())
        os.write(self._ack_w, b"k")
        return name

    def stop(self, graceful_s: float) -> None:
        """Wait for the process to exit, then end every process that was
        in its tree, and wait until each has gone."""
        try:
            self.proc.wait(timeout=graceful_s)
        except subprocess.TimeoutExpired:
            pass
        self.sampler.stop()
        self.sampler.sample()
        self.proc.kill()  # no-op once it has exited; reaped below
        pids = [p for p in self.sampler.seen if p != self.proc.pid]
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in pids:
                if self._alive(pid):
                    try:
                        os.kill(pid, sig)
                    except (ProcessLookupError, PermissionError):
                        pass
            deadline = time.monotonic() + 5
            while time.monotonic() < deadline and any(self._alive(p) for p in pids):
                time.sleep(0.05)
        self.proc.wait(timeout=10)
        self._mark_r.close()
        os.close(self._ack_w)
        self._log.close()

    def _alive(self, pid: int) -> bool:
        """Still running, and still the process this session started."""
        return procfs.start_time(pid) == self.sampler.seen[pid] and not procfs.is_zombie(pid)

    def log_tail(self, n: int = 30) -> str:
        with open(self.log_path, "rb") as f:
            return b"\n".join(f.read().splitlines()[-n:]).decode(errors="replace")


def _sweep_stream_scratch(pid: int) -> None:
    """The package sweeps its per-process stream scratch at exit; remove
    it here too in case the session was killed before that."""
    from mit_map_reduce_spark.streaming.queries import _stream_scratch_root

    root = _stream_scratch_root()
    for name in os.listdir(root):
        if name.startswith(f"mmrs_stream_scratch_{pid}_"):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def run_session(args, workload, run_dir: str, sf_dir: str, inputs: list[str]):
    base = {
        "workload": workload.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "warmup_rounds": workload.warmup_rounds,
        "min_measured": MIN_MEASURED,
        "max_rounds": workload.warmup_rounds + 1 if args.trace else None,
        "trace": bool(args.trace),
        "sf_dir": sf_dir,
        "inputs": inputs,
    }
    s = Session(run_dir, base)
    try:
        if s.next_mark(SESSION_TIMEOUT_S) != "ready":
            raise RuntimeError(f"session never became ready:\n{s.log_tail()}")
        setup_s = s.marks[-1][1] - s.t_spawn
        while s.marks[-1][0] != "end":
            if s.next_mark(SESSION_TIMEOUT_S) is None:
                raise RuntimeError(f"session stopped mid-run:\n{s.log_tail()}")
    finally:
        s.stop(graceful_s=30)
        _sweep_stream_scratch(s.proc.pid)
    with open(os.path.join(s.dir, "session.json"), encoding="utf-8") as f:
        return setup_s, s, json.load(f)


# --- checks and metrics --------------------------------------------------


def check_ops(workload, session_out: dict, sess: Session, want: dict) -> None:
    """Set ``op["mismatch"]`` on every op whose output is wrong."""
    import pyarrow as pa

    for op in session_out["ops"]:
        if op["error"]:
            continue
        if workload.kind == "mapreduce":
            lines = checks.mr_output_lines(op["out_dir"])
            op["output_lines"] = len(lines)
            op["output_files"] = sum(
                1 for n in os.listdir(op["out_dir"]) if n.startswith("mr-out-")
            )
            op["mismatch"] = checks.compare_lines(lines, want[op["name"]])
        else:
            path = os.path.join(sess.dir, "results", f"r{op['round']}-{op['name']}.arrow")
            with pa.memory_map(path) as src:
                table = pa.ipc.open_file(src).read_all()
            cols, rows = checks.arrow_rows(table)
            exp_cols, exp_rows = want[op["name"]]
            op["mismatch"] = checks.compare_rows(cols, rows, exp_cols, exp_rows)


def round_cpu(sess: Session) -> list[dict[str, float]]:
    """CPU per category for each round, from consecutive marks."""
    snaps = [cpu for name, _, cpu in sess.marks if name in ("start", "round")]
    return [
        {c: b[c] - a[c] for c in procfs.CATEGORIES} for a, b in zip(snaps, snaps[1:])
    ]


def failed_ops(session_out: dict) -> list[dict]:
    """Ops that raised or whose output did not match the expected one."""
    return [op for op in session_out["ops"] if op["error"] or op.get("mismatch")]


def op_cpu(sess: Session) -> list[dict[str, float]]:
    """CPU per category for each op of a traced run (marked after each op)."""
    out = []
    for (_, _, a), (name, _, b) in zip(sess.marks, sess.marks[1:]):
        if name == "op":
            out.append({c: b[c] - a[c] for c in procfs.CATEGORIES})
    return out


def steal_share(sess: Session) -> float | None:
    """Share of the machine's CPU time stolen by the hypervisor between
    the start and end marks (other tenants' load; 0 on bare metal)."""
    names = [name for name, _, _ in sess.marks]
    (s0, t0), (s1, t1) = sess.host_ticks[names.index("start")], sess.host_ticks[-1]
    return (s1 - s0) / (t1 - t0) if t1 > t0 else None


def end_to_end(workload, setup_s: float, sess: Session, out: dict) -> dict[str, float]:
    """Medians over the measured rounds (all rounds after the warm-up)."""
    measured = slice(workload.warmup_rounds, None)
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(r["wall_s"] for r in out["rounds"][measured]),
        "cpu_s": statistics.median(sum(r.values()) for r in round_cpu(sess)[measured]),
    }


def per_layer(workload, sess: Session, out: dict) -> dict[str, float]:
    from perfbench import layers

    tr, ops = out["trace"], out["ops"]
    cores = tr["cores"]
    spans = tr["spans"]
    m: dict[str, float] = {}
    for k in ("get_spark_s", "first_job_s", "pyworker_warm_s", "registry_import_s"):
        m[f"session.{k}"] = out["setup"][k]

    def span_total(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    m["operators.build_s"] = sum(op.get("build_s", 0.0) for op in ops)
    m["operators.consume_s"] = sum(op.get("consume_s", 0.0) for op in ops)
    m["operators.result_rows"] = sum(op.get("rows", 0) for op in ops)

    events = [e for op in ops for e in op.get("build_events", [])]
    m["catalog.load_table_calls"] = sum(1 for s in spans if s["name"] == "catalog.load_table")
    m["catalog.load_table_s"] = span_total("catalog.load_table")
    m["catalog.artifact_builds"] = len(events)
    m["catalog.artifact_build_s"] = sum(s for _, s in events)
    m["catalog.artifact_build_op_s"] = sum(
        op["end"] - op["start"] for op in ops if op.get("build_events")
    )

    for phase in ("analysis", "optimization", "planning"):
        m[f"spark.plan.{phase}_s"] = sum(op.get("plan_phases", {}).get(phase, 0.0) for op in ops)

    rows = tr["per_op"]
    for row, cpu in zip(rows, op_cpu(sess)):
        row["proc.driver_cpu_s"] = cpu["driver"]
        row["proc.jvm_cpu_s"] = cpu["jvm"] + cpu["other"]
        row["proc.pyworker_cpu_s"] = cpu["pyworker"]
    summed = {k: sum(r[k] for r in rows) for k in rows[0] if k.startswith("spark.")}
    summed["spark.exec.peak_exec_mem_bytes"] = max(
        r["spark.exec.peak_exec_mem_bytes"] for r in rows
    )
    m.update(summed)
    op_wall = sum(r["wall_s"] for r in rows)
    m["spark.sched.core_util"] = summed["spark.exec.task_run_s"] / (op_wall * cores)

    mr = ops if workload.kind == "mapreduce" else []
    mr_stages = [s for op in mr for j in op.get("jobs", []) for s in j["stages"]]
    m["mapreduce.run_job_s"] = sum(op.get("run_job_s", 0.0) for op in mr)
    m["mapreduce.save_s"] = sum(op.get("save_s", 0.0) for op in mr)
    m["mapreduce.map_task_s"] = sum(s["run_s"] for s in mr_stages if not s["shuffle_read_bytes"])
    m["mapreduce.reduce_task_s"] = sum(s["run_s"] for s in mr_stages if s["shuffle_read_bytes"])
    m["mapreduce.intermediate_pairs"] = sum(op.get("intermediate_pairs", 0) for op in mr)
    m["mapreduce.shuffle_bytes"] = sum(s["shuffle_write_bytes"] for s in mr_stages)
    m["mapreduce.output_lines"] = sum(op.get("output_lines", 0) for op in mr)
    m["mapreduce.output_files"] = sum(op.get("output_files", 0) for op in mr)
    m["mapreduce.spark_jobs"] = sum(len(op.get("jobs", [])) for op in mr)

    drains = {s["op"] for s in spans if s["name"] == "streaming.batch"}
    drain_s = sum(op.get("build_s", 0.0) for op in ops if op["id"] in drains)
    m.update(layers.stream_metrics(tr["stream_events"], drain_s))
    m["plans.stream_plan_capture_s"] = span_total("plans.streaming_plan_report")

    cpu = {c: sum(r[c] for r in round_cpu(sess)) for c in procfs.CATEGORIES}
    m["proc.driver_cpu_s"] = cpu["driver"]
    m["proc.jvm_cpu_s"] = cpu["jvm"] + cpu["other"]
    m["proc.pyworker_cpu_s"] = cpu["pyworker"]
    for cat in ("driver", "jvm", "pyworker"):
        m[f"proc.{cat}_peak_rss_mb"] = sess.sampler.peak_rss[cat] / 2**20
    return m


# --- main --------------------------------------------------------------------


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf-dir", help="testdata directory for query ops (default: the workload's)")
    p.add_argument("--corpus-mb", type=float, help="mr_facade: MB per corpus file")
    args = p.parse_args(argv)
    workload = WORKLOADS[args.workload]
    if args.corpus_mb is not None:
        from dataclasses import replace

        workload = replace(workload, corpus_mb=args.corpus_mb)

    try:
        root = testdata_root()
        sf_dir = args.sf_dir or os.path.join(root, SF)
        if workload.kind == "query" and not os.path.isdir(sf_dir):
            raise SetupError(f"no testdata at {sf_dir}")
    except SetupError as e:
        _log(f"cannot run: {e}")
        return 2

    run_dir = os.path.join(
        STATE, "runs", f"{workload.name}-s{args.seed}-{os.getpid()}-{time.time_ns()}"
    )
    os.makedirs(run_dir)
    try:
        t0 = time.perf_counter()
        inputs = []
        if workload.kind == "mapreduce":
            inputs = write_corpus(
                os.path.join(run_dir, "inputs"), args.seed, workload.corpus_files, workload.corpus_mb
            )
        want = expected(workload, sf_dir, inputs)
        _log(f"inputs and expected results ready in {time.perf_counter() - t0:.1f}s")
        setup_s, sess, out = run_session(args, workload, run_dir, sf_dir, inputs)
        check_ops(workload, out, sess, want)
        failed = failed_ops(out)
        for op in failed:
            _log(f"FAILED {op['name']} (round {op['round']}): {op['error'] or op['mismatch']}")
        e2e = end_to_end(workload, setup_s, sess, out)
        layer = per_layer(workload, sess, out) if args.trace else None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    record = {
        "workload": workload.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "env": dict(out["env"], host_steal_share=steal_share(sess)),
        "warmup_rounds": workload.warmup_rounds,
        "round_wall_s": [r["wall_s"] for r in out["rounds"]],
        "round_cpu_s": [sum(r.values()) for r in round_cpu(sess)],
        "not_in_benchmark": NOT_IN_BENCHMARK,
        "end_to_end": e2e,
        "ops": [
            {k: op.get(k) for k in ("name", "round", "start", "end", "build_s", "consume_s",
                                     "run_job_s", "save_s", "rows", "error", "mismatch")}
            for op in out["ops"]
        ],
    }
    if args.trace:
        from perfbench import layers

        record["per_layer"] = layer
        record["per_op"] = out["trace"]["per_op"]
        record["spans"] = out["trace"]["spans"]
        record["jobs_outside_ops"] = out["trace"]["jobs_outside_ops"]
        record["self_time"] = layers.self_times(out["trace"]["spans"])
        record["notes"] = dict(out["trace"]["notes"], **zero_metric_notes(layer))
    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    kind = "trace" if args.trace else "run"
    with open(os.path.join(out_dir, f"{workload.name}-s{args.seed}-{kind}.json"), "w") as f:
        json.dump(record, f)

    unit = layer_unit if args.trace else END_TO_END.__getitem__
    result = {
        "correct": not failed,
        "attempted": len(out["ops"]),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in (layer or e2e).items()},
    }
    print(json.dumps(result))
    return 0


def zero_metric_notes(metrics: dict[str, float]) -> dict[str, str]:
    """Say why each metric that reads 0 does. Every per-layer metric is
    printed on every traced run, so a layer the workload bypasses
    prints zeros; the record's notes name them."""
    layers: dict[str, list[float]] = {}
    for name, value in metrics.items():
        layers.setdefault(name.rsplit(".", 1)[0], []).append(value)
    return {
        name: (
            "layer bypassed by this workload"
            if not any(layers[name.rsplit(".", 1)[0]])
            else "the layer ran; this quantity was 0 in this run"
        )
        for name, value in metrics.items()
        if not value
    }


def layer_unit(name: str) -> str:
    if name.endswith("cpu_s"):
        return "CPU-s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith("core_util"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
