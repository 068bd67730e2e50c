"""Summarize the run records that ``perfbench/run.py`` wrote.

    python3 perfbench/report.py [--top N] [DIR]

Reads ``DIR`` (default ``.perfbench/out``) and prints, from those files
alone:

- every end-to-end metric of every workload by name and unit: the
  median, quartiles and count of the untraced runs;
- for each traced run, the tracing overhead (its ``wall_s`` minus the
  median ``wall_s`` of the untraced runs of the same workload), the
  self time of each span name, and its ops ranked by each ranking
  metric below.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

RANK_BY = (
    "operators.build_s",
    "spark.sched.jobs",
    "spark.sched.no_job_s",
    "spark.exec.task_cpu_s",
    "proc.pyworker_cpu_s",
)
UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "CPU-s"}


def load(out_dir: str) -> tuple[dict, dict]:
    runs: dict[str, list[dict]] = {}
    traces: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "*.json"))):
        with open(path, encoding="utf-8") as f:
            rec = json.load(f)
        (traces if rec["trace"] else runs).setdefault(rec["workload"], []).append(rec)
    return runs, traces


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv=None) -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("out_dir", nargs="?", default=os.path.join(root, ".perfbench", "out"))
    p.add_argument("--top", type=int, default=5)
    args = p.parse_args(argv)
    runs, traces = load(args.out_dir)
    if not runs and not traces:
        print(f"no run records in {args.out_dir}", file=sys.stderr)
        return 1

    print("end-to-end (untraced runs): median [q1, q3] over n runs")
    for workload, recs in sorted(runs.items()):
        for metric, unit in UNITS.items():
            vals = [r["end_to_end"][metric] for r in recs]
            q1, med, q3 = quartiles(vals)
            print(
                f"  {workload:22s} {metric:8s} {med:9.3f} {unit:6s} [{q1:.3f}, {q3:.3f}]"
                f"  n={len(vals)}  iqr/median={(q3 - q1) / med:.3f}"
            )
        failed = sum(1 for r in recs for op in r["ops"] if op["error"] or op["mismatch"])
        attempted = sum(len(r["ops"]) for r in recs)
        print(f"  {workload:22s} ops      {attempted} attempted, {failed} failed")

    for workload, recs in sorted(traces.items()):
        for rec in recs:
            print(f"\ntraced run: {workload} seed {rec['seed']}")
            traced_wall = rec["end_to_end"]["wall_s"]
            base = [r["end_to_end"]["wall_s"] for r in runs.get(workload, [])]
            if base:
                overhead = traced_wall - statistics.median(base)
                print(f"  tracing overhead: {overhead:+.3f} s (traced wall_s {traced_wall:.3f} s)")
            else:
                print(f"  tracing overhead: no untraced run of {workload} to compare with")
            print("  self time by span:")
            for name, row in sorted(rec["self_time"].items(), key=lambda kv: -kv[1]["self_s"]):
                print(
                    f"    {name:30s} n={row['count']:<5d} total {row['total_s']:8.3f} s"
                    f"  self {row['self_s']:8.3f} s"
                )
            for key in RANK_BY:
                ranked = sorted(rec["per_op"], key=lambda r: -r.get(key, 0))[: args.top]
                cells = ", ".join(f"{r['op']}={r.get(key, 0):.3g}" for r in ranked)
                print(f"  top by {key}: {cells}")
            for name, why in rec.get("notes", {}).items():
                print(f"  note {name}: {why}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
