"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload traced (its warm-up rounds and one
measured round) at the smallest testdata scale (and a small corpus for
``mr_facade``); they take a few minutes. The rest are fast.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, run  # noqa: E402
from perfbench.workloads import NOT_IN_BENCHMARK, WORKLOADS, op_order, write_corpus  # noqa: E402


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _sf_small() -> str:
    path = os.path.join(run.testdata_root(), "sf0.001")
    if not os.path.isdir(path):
        pytest.skip(f"no testdata at {path}")
    return path


def _run(*args: str, timeout: int = 400) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), *args],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


# --- output checks ---------------------------------------------------------


def test_compare_rows_accepts_reordered_rows_and_columns():
    rows = [(1, "a", 0.5), (2, "b", 1.5)]
    assert checks.compare_rows(["k", "s", "x"], rows, ["x", "k", "s"],
                               [(1.5, 2, "b"), (0.5, 1, "a")]) is None


def test_compare_rows_rejects_a_one_ulp_float_change():
    want = [(1, 0.1 + 0.2)]
    got = [(1, 0.3)]
    assert checks.compare_rows(["k", "x"], got, ["k", "x"], want) is not None


def test_corrupted_result_row_counts_as_failed_op(tmp_path):
    """A result whose one row differs from the oracle is a failed op."""

    class FakeSession:
        dir = str(tmp_path)

    (tmp_path / "results").mkdir()
    good = pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    bad = pa.table({"k": [1, 2, 3], "v": ["a", "B", "c"]})
    for name, table in (("q_good", good), ("q_bad", bad)):
        with pa.OSFile(str(tmp_path / "results" / f"r0-{name}.arrow"), "wb") as f:
            with pa.ipc.new_file(f, table.schema) as w:
                w.write_table(table)
    want = {n: (["k", "v"], [(1, "a"), (2, "b"), (3, "c")]) for n in ("q_good", "q_bad")}
    out = {
        "ops": [
            {"name": "q_good", "round": 0, "error": None},
            {"name": "q_bad", "round": 0, "error": None},
        ]
    }
    run.check_ops(WORKLOADS["batch_driver_bound"], out, FakeSession(), want)
    assert [op["mismatch"] is None for op in out["ops"]] == [True, False]
    assert run.failed_ops(out) == [out["ops"][1]]


def test_corrupted_mr_output_line_counts_as_failed_op(tmp_path):
    out_dir = tmp_path / "mr"
    out_dir.mkdir()
    (out_dir / "mr-out-0").write_text("a 1\nb 2\n")
    (out_dir / "mr-out-1").write_text("c 4\n")
    out = {"ops": [{"name": "wc", "round": 0, "error": None, "out_dir": str(out_dir)}]}
    run.check_ops(WORKLOADS["mr_facade"], out, None, {"wc": ["a 1", "b 2", "c 3"]})
    assert out["ops"][0]["mismatch"] is not None
    assert len(run.failed_ops(out)) == 1


# --- inputs -----------------------------------------------------------------


def test_seed_fixes_inputs_and_order(tmp_path):
    a = write_corpus(str(tmp_path / "a"), 7, 2, 0.01)
    b = write_corpus(str(tmp_path / "b"), 7, 2, 0.01)
    c = write_corpus(str(tmp_path / "c"), 8, 2, 0.01)
    read = lambda paths: [open(p, encoding="utf-8").read() for p in paths]  # noqa: E731
    assert read(a) == read(b) != read(c)
    w = WORKLOADS["batch_driver_bound"]
    assert op_order(w, 7, 0) == op_order(w, 7, 0)
    assert sorted(op_order(w, 7, 1)) == sorted(w.ops)


def test_benchmark_json_matches_the_runner():
    spec = _bench_spec()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        n: w.why for n, w in WORKLOADS.items() if n not in NOT_IN_BENCHMARK
    }
    assert {m["name"] for m in spec["end_to_end"]} == set(run.END_TO_END)


# --- the runner as BENCHMARK.json's command -------------------------------------


def test_exits_nonzero_without_result_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mr_facade", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_traced_run_of_each_workload(workload):
    args = ["--workload", workload, "--seed", "101", "--seconds", "0", "--trace", "1"]
    if WORKLOADS[workload].kind == "query":
        args += ["--sf-dir", _sf_small()]
    else:
        args += ["--corpus-mb", "0.05"]
    proc = _run(*args)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    # the warm-up rounds and one measured round
    assert result["attempted"] == (WORKLOADS[workload].warmup_rounds + 1) * len(
        WORKLOADS[workload].ops
    )
    names = {m["name"] for m in _bench_spec()["per_layer"]}
    assert set(result["metrics"]) == names
    with open(os.path.join(run.STATE, "out", f"{workload}-s101-trace.json")) as f:
        record = json.load(f)
    unexplained = {k for k, v in result["metrics"].items() if not v["value"]} - set(record["notes"])
    assert not unexplained, f"zero metrics without a note: {sorted(unexplained)}"
    assert {s["name"] for s in record["spans"]} >= {"op"}
    assert all(s["end"] >= s["start"] for s in record["spans"])


def test_smoke_untraced_run_reports_end_to_end_metrics():
    proc = _run("--workload", "mr_facade", "--seed", "102", "--seconds", "0",
                "--trace", "0", "--corpus-mb", "0.05")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"]
    units = {m["name"]: m["unit"] for m in _bench_spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    assert all(v["value"] > 0 for v in result["metrics"].values())
