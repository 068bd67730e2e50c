"""Opt-in multi-process cluster test (VERDICT r12 order #3).

Boots a real Spark standalone cluster — one master + two worker JVMs,
each spawning its own executor process and python workers — and runs
one query per family through it, exercising what ``local[*]`` cannot:
closure/import shipping to foreign processes, the shared-scratch
artifact publish protocol across process boundaries, and the real
netty shuffle data plane.

Opt-in because it boots three JVMs and takes minutes:

    SPARK_GRAFT_STANDALONE=1 python -m pytest tests/test_standalone_cluster.py

The full 267-query sweep at this shape is ``python
tools/standalone_gate.py`` (committed result: 267/267 at sf0.01, r13).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_STANDALONE"),
    reason="multi-process standalone cluster test is opt-in: set SPARK_GRAFT_STANDALONE=1",
)

# One representative per family, biased toward the paths where
# process separation bites: pickled facade closures (mr_*), shared
# bucketed/centroid artifacts (rel_bucketed/sim_ann_ivf), streaming
# checkpoints on shared scratch (stream_*), python-worker Arrow
# batches (dedup/mm), plain shuffle SQL (rel_q1/graph), and the
# per-round reliable checkpoints a cluster master gives the BFS and
# MMR loops (graph_bfs_reach/sim_ann_mmr_topk).
FAMILY_SAMPLE = [
    "mr_udtf_wordcount",
    "rel_q1_pricing_summary",
    "rel_bucketed_join_revenue",
    "adv_pit_join_purchase_tier",
    "dedup_minhash_lsh_pairs",
    "dedup_embedding_lsh_pairs",
    "sim_ann_ivf_topk",
    "text_quality",
    "mm_decode_assets",
    "sketch_hll_union_merge",
    "graph_pagerank_trade",
    "graph_bfs_reach",
    "sim_ann_mmr_topk",
    "stream_error_rate_alerts",
    "src_csv_roundtrip_orders",
]


def test_family_sample_green_on_multiprocess_cluster(tmp_path):
    from tools.standalone_gate import StandaloneCluster, run_gate

    import __spark_entry__ as entry

    registered = set(entry.queries())
    missing = [q for q in FAMILY_SAMPLE if q not in registered]
    assert not missing, f"sample names drifted from the registry: {missing}"

    with StandaloneCluster(workers=2, cores=4, memory="8g") as cluster:
        rc = run_gate("/root/testdata/sf0.001", FAMILY_SAMPLE, cluster)
    assert rc == 0


def test_worker_crash_and_respawn_recovers(tmp_path):
    """The reference harness's crash test, at real-process fidelity
    (VERDICT r13 order #1; ``src/main/test-mr.sh:294-319``,
    ``src/mrapps/crash.go:20-32``): SIGKILL one worker JVM's process
    group while a query has tasks in flight, require the gate to
    finish green on the surviving executor (Spark task retry + stage
    resubmission), then register a fresh worker with the live master
    and require the next queries to go green using BOTH workers.
    All invariants are asserted inside run_crash_gate; the evidence
    dict it returns is the committed RESULTS-block shape."""
    from tools.standalone_gate import (
        CRASH_PHASE_A,
        CRASH_PHASE_B,
        StandaloneCluster,
        run_crash_gate,
    )

    import __spark_entry__ as entry

    registered = set(entry.queries())
    drift = [q for q in CRASH_PHASE_A + CRASH_PHASE_B if q not in registered]
    assert not drift, f"crash-subset names drifted from the registry: {drift}"

    with StandaloneCluster(workers=2, cores=4, memory="8g") as cluster:
        evidence = run_crash_gate("/root/testdata/sf0.001", cluster)
    assert evidence["phase_a"]["rc"] == 0
    assert evidence["phase_b"]["rc"] == 0
    # the kill must have left work to recover, not fired post-run
    assert evidence["phase_a"]["passes_before_kill"] < len(CRASH_PHASE_A)
