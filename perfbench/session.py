"""One benchmark session: a fresh driver process that sets up Spark and
runs its workload in rounds: warm-up rounds, then measured ones.

Started by ``perfbench/run.py`` as ``python3 -m perfbench.session SPEC``.
At each mark (``ready``, ``start``, the end of every round) it writes
the mark's name to the mark pipe and waits for the parent's reply, so
the parent can read the process tree's CPU from ``/proc`` at that
instant. Results and timings go to files in the run directory; the
parent checks the results after this process has ended.
"""

from __future__ import annotations

import json
import os
import platform
import sys
import time
import traceback

import pyarrow as pa

from perfbench import layers
from perfbench.workloads import WORKLOADS, op_order


class Marks:
    def __init__(self, write_fd: int, ack_fd: int):
        self.write_fd, self.ack_fd = write_fd, ack_fd

    def __call__(self, name: str) -> None:
        os.write(self.write_fd, f"{name}\n".encode())
        if os.read(self.ack_fd, 1) != b"k":
            raise RuntimeError("mark pipe closed")


def _identity(x):
    return x


def _counting(map_fn, acc):
    def counted(name, contents):
        pairs = map_fn(name, contents)
        acc.add(len(pairs))
        return pairs

    return counted


def _environment(spark, spec: dict) -> dict:
    from mit_map_reduce_spark.streaming import queries as streaming_queries

    shm = os.statvfs("/dev/shm") if os.path.isdir("/dev/shm") else None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "spark_version": spark.version,
        "java_version": spark._jvm.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "sf_dir": spec["sf_dir"],
        "seed": spec["seed"],
        "stream_scratch_root": os.path.dirname(streaming_queries._SCRATCH_BASE),
        "dev_shm_free_bytes": shm.f_bavail * shm.f_frsize if shm else None,
    }


def main(spec_path: str) -> None:
    with open(spec_path, encoding="utf-8") as f:
        spec = json.load(f)
    marks = Marks(spec["mark_fd"], spec["ack_fd"])
    workload = WORKLOADS[spec["workload"]]
    tracer = layers.Tracer() if spec["trace"] else None
    setup: dict[str, float] = {}

    t = time.perf_counter()
    if tracer:
        tracer.install()  # before the operators bind load_table by name
    import __spark_entry__

    registry = __spark_entry__.queries()
    setup["registry_import_s"] = time.perf_counter() - t

    from mit_map_reduce_spark import catalog
    from mit_map_reduce_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    setup["get_spark_s"] = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    setup["first_job_s"] = time.perf_counter() - t
    sc = spark.sparkContext
    t = time.perf_counter()
    sc.parallelize(range(sc.defaultParallelism), sc.defaultParallelism).map(_identity).collect()
    setup["pyworker_warm_s"] = time.perf_counter() - t
    marks("ready")

    if tracer:
        tracer.listen(spark)
    catalog.drain_build_events()
    run_dir = spec["run_dir"]
    acc = sc.accumulator(0) if tracer and workload.kind == "mapreduce" else None
    ops: list[dict] = []
    rounds: list[dict] = []
    results = {}
    measure_start = time.time()
    marks("start")
    while True:
        round_no = len(rounds)
        r_start = time.perf_counter()
        if round_no == spec["warmup_rounds"]:
            window = r_start
        for name in op_order(workload, spec["seed"], round_no):
            op = {"id": len(ops), "round": round_no, "name": name, "error": None}
            ops.append(op)
            _run_op(spark, workload, registry, spec, op, tracer, acc, results)
            if tracer:
                marks("op")  # per-op process-tree CPU, for the ranking report
        rounds.append({"wall_s": time.perf_counter() - r_start})
        marks("round")
        if len(rounds) == spec["max_rounds"]:
            break
        measured = len(rounds) - spec["warmup_rounds"]
        if measured >= spec["min_measured"] and time.perf_counter() - window >= spec["seconds"]:
            break
    marks("end")

    out = {"setup": setup, "rounds": rounds, "ops": ops, "env": _environment(spark, spec)}
    for (round_no, name), table in results.items():
        with pa.OSFile(os.path.join(run_dir, "results", f"r{round_no}-{name}.arrow"), "wb") as f:
            with pa.ipc.new_file(f, table.schema) as w:
                w.write_table(table)
    if tracer:
        out["trace"] = _collect_trace(spark, tracer, ops, measure_start)
    for op in ops:
        op.pop("df", None)
    with open(os.path.join(run_dir, "session.json"), "w", encoding="utf-8") as f:
        json.dump(out, f)
    # The parent ends the JVM and the workers and sweeps the scratch.
    os._exit(0)


def _run_op(spark, workload, registry, spec, op, tracer, acc, results) -> None:
    from contextlib import nullcontext

    span = tracer.span if tracer else (lambda name: nullcontext())
    op["start"] = time.time()
    try:
        with tracer.op(op["id"], op["name"]) if tracer else nullcontext():
            if workload.kind == "mapreduce":
                _run_mr(spark, op, spec, span, acc)
            else:
                t = time.perf_counter()
                with span("operators.build"):
                    df = registry[op["name"]](spark, spec["sf_dir"])
                op["build_s"] = time.perf_counter() - t
                t = time.perf_counter()
                with span("operators.consume"):
                    table = df.toArrow()
                op["consume_s"] = time.perf_counter() - t
                op["rows"] = table.num_rows
                results[(op["round"], op["name"])] = table
                op["df"] = df
    except Exception:
        op["error"] = traceback.format_exc(limit=3)
    op["end"] = time.time()
    if tracer:
        from mit_map_reduce_spark import catalog

        op["build_events"] = catalog.drain_build_events()
        if "df" in op:
            try:
                op["plan_phases"] = layers.plan_phases(op["df"])
            except Exception as e:  # recorded, never fatal
                op["plan_phases_error"] = repr(e)


def _run_mr(spark, op, spec, span, acc) -> None:
    from mit_map_reduce_spark.mapreduce import apps, run_job, save_text_output

    map_fn = getattr(apps, f"{op['name']}_map")
    reduce_fn = getattr(apps, f"{op['name']}_reduce")
    if acc is not None:
        map_fn = _counting(map_fn, acc)
        before = acc.value
    out_dir = os.path.join(spec["run_dir"], "mr", f"r{op['round']}-{op['name']}")
    t = time.perf_counter()
    with span("mapreduce.run_job"):
        df = run_job(spark, map_fn, reduce_fn, spec["inputs"], n_reduce=10)
    op["run_job_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with span("mapreduce.save_text_output"):
        save_text_output(df, out_dir, n_reduce=10)
    op["save_s"] = time.perf_counter() - t
    op["out_dir"] = out_dir
    if acc is not None:
        op["intermediate_pairs"] = acc.value - before


def _collect_trace(spark, tracer, ops, measure_start) -> dict:
    """Per-layer figures of the measured window, read after it closed."""
    streams_settled = tracer.wait_for_stream_events()
    jobs = layers.status_store_jobs(spark, measure_start)
    layers.attribute_jobs(ops, jobs)
    layers.job_and_batch_spans(tracer, ops)
    cores = spark.sparkContext.defaultParallelism
    per_op = []
    for op in ops:
        row = layers.op_layers(op)
        row.update(
            {
                "op": op["name"],
                "round": op["round"],
                "wall_s": op["end"] - op["start"],
                "operators.build_s": op.get("build_s", 0.0),
                "operators.consume_s": op.get("consume_s", 0.0),
            }
        )
        per_op.append(row)
    notes = {}
    if not streams_settled:
        notes["streaming"] = "listener events still arriving after 10 s; figures may be short"
    return {
        "cores": cores,
        "spans": tracer.spans,
        "stream_events": tracer.stream_events,
        "per_op": per_op,
        "jobs_outside_ops": sum(
            1 for j in jobs if not any(j in op["jobs"] for op in ops)
        ),
        "notes": notes,
    }


if __name__ == "__main__":
    main(sys.argv[1])
