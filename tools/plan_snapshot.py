#!/usr/bin/env python3
"""Plan-shape snapshot + drift report for every batch query.

The bench drift gate catches plan regressions only when they cost
wall-clock at the test SF; a lost broadcast or an extra exchange can
hide inside measurement noise at sf0.1 yet cost hours at 100 TB. This
tool makes plan SHAPE itself diffable across rounds, the same way
BENCH_DETAIL_r{N}.json makes timings diffable:

    python tools/plan_snapshot.py          # write PLAN_SNAPSHOT_r{N}.json
    python tools/plan_snapshot.py --diff   # build in memory, diff against
                                           # the newest committed snapshot

Per query it records the scale-relevant plan facts from the
:mod:`mit_map_reduce_spark.plans` probes: Exchange count,
BroadcastHashJoin count, and the multiset of columns the parquet scans
actually read. The diff flags any query whose shuffle count rose,
whose broadcast count fell, or whose scans started reading MORE
columns — the three silent plan regressions that matter at scale.

Counts are taken ABOVE ``InMemoryRelation`` boundaries
(``exclude_cached=True``): a cached subtree re-renders as an AQE final
plan once any earlier action in the sweep session materializes it, so
raw counts depended on sweep order (the r09->r10 graph "drift" was
exactly this noise — same code, same data). The cost: a broadcast or
shuffle living INSIDE a shared cached build is no longer visible here;
those build shapes are pinned by the targeted assertions in
tests/test_plans.py instead. The r10 stamp re-based 26 entries'
broadcast counts downward for this reason — all explained, none a real
plan change.

``stream_*`` queries are covered too (r10 verdict #5): each runs its
availableNow drain once and the entry records the LAST micro-batch's
executed-plan facts captured by the stream runner ``_drain``
(``streaming.queries.LAST_STREAM_PLAN`` — shuffles, broadcast joins,
sort-merge joins, state stores, unpartitioned windows) instead of the
batch probes; the returned frame is just a sink read whose plan says
nothing about the streaming topology. The diff additionally flags any
CHANGE in state-store count (a disappearance means a stateful op
silently became a batch re-aggregation; a gain is a new stateful
shuffle) and any unpartitioned window appearing.

Advisory by design, not a pytest gate: broadcast planning keys off
file-size estimates, so a driver testdata regeneration can
legitimately flip a borderline join. A diff entry is a prompt to
re-read the plan, not an automatic failure.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _round_no() -> int:
    # Key the round off existing PLAN_SNAPSHOT_r*.json stamps (max+1), not
    # BENCH_r*.json: the driver stamps BENCH for the *current* round before
    # this tool may re-run, so inferring from bench files would mislabel a
    # late re-run as the NEXT round and poison a future --diff baseline.
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "PLAN_SNAPSHOT_r*.json"))
        if (m := re.search(r"PLAN_SNAPSHOT_r(\d+)\.json$", p))
    ]
    return (max(rounds) + 1) if rounds else 1


def _newest_snapshot() -> tuple[int, dict] | None:
    stamped = sorted(
        (int(m.group(1)), p)
        for p in glob.glob(os.path.join(REPO, "PLAN_SNAPSHOT_r*.json"))
        if (m := re.search(r"PLAN_SNAPSHOT_r(\d+)\.json$", p))
    )
    if not stamped:
        return None
    rnd, path = stamped[-1]
    with open(path) as fh:
        return rnd, json.load(fh)


def _build() -> dict[str, dict]:
    import __spark_entry__ as entrymod

    from mit_map_reduce_spark.plans import (
        broadcast_join_count,
        count_shuffles,
        scan_read_schema,
    )
    from mit_map_reduce_spark.session import get_spark

    from mit_map_reduce_spark.streaming import queries as sq

    spark = get_spark("plan_snapshot")
    snap: dict[str, dict] = {}
    # SORTED, not registry order: queries() follows _PRIORITY, which
    # rotates every round — and a consumer plan can legitimately depend
    # on whether an EARLIER query's eager artifact build materialized a
    # shared cache (known cached sizeInBytes flips the planner to
    # static broadcast joins; exclude_cached strips subtrees, not the
    # consumer's join strategy). r12 caught graph_clustering_coefficient
    # flip 2/6 -> 14/0 purely from rotation reordering the sweep. A
    # fixed alphabetical order probes every query in the same session
    # state every round.
    for name, fn in sorted(entrymod.queries().items()):
        if name.startswith("stream_"):
            try:
                # reset so a runner that forgets to capture FAILS here
                # instead of inheriting the previous query's plan (same
                # guard as tests/test_streaming_plans.py)
                sq.LAST_STREAM_PLAN = {}
                fn(spark, SF_DIR)  # availableNow drain; runner captures plan
                rep = sq.LAST_STREAM_PLAN
                if not rep:
                    raise RuntimeError("no stream plan captured")
                snap[name] = {
                    "streaming": True,
                    "shuffles": rep["shuffles"],
                    "broadcast_joins": rep["broadcast_joins"],
                    "sort_merge_joins": rep["sort_merge_joins"],
                    "state_stores": rep["state_stores"],
                    "unpartitioned_windows": len(rep["unpartitioned_windows"]),
                }
            except Exception as e:
                snap[name] = {"error": f"{type(e).__name__}: {e}"}
                print(f"# ERROR building {name}: {e}", file=sys.stderr)
            continue
        try:
            df = fn(spark, SF_DIR)
            snap[name] = {
                # exclude_cached: a cached subtree re-renders once some
                # earlier query's action materializes it (AQE final
                # plan), so raw counts depend on sweep order — counting
                # above the cache boundary is the stable, per-query cost.
                "shuffles": count_shuffles(df, exclude_cached=True),
                "broadcast_joins": broadcast_join_count(df, exclude_cached=True),
                # multiset, sorted: two scans of the same table count
                # its columns twice; order of scans is plan-noise.
                "read_columns": sorted(scan_read_schema(df)),
            }
        except Exception as e:  # record, never abort the sweep
            snap[name] = {"error": f"{type(e).__name__}: {e}"}
            print(f"# ERROR building {name}: {e}", file=sys.stderr)
    return snap


def _diff(base: dict, cur: dict) -> list[str]:
    notes: list[str] = []
    for name in sorted(set(base) | set(cur)):
        b, c = base.get(name), cur.get(name)
        if b is None:
            notes.append(f"{name}: NEW (no baseline entry)")
            continue
        if c is None:
            notes.append(f"{name}: REMOVED from registry")
            continue
        if "error" in b or "error" in c:
            if b.get("error") != c.get("error"):
                notes.append(
                    f"{name}: error state changed "
                    f"{b.get('error')!r} -> {c.get('error')!r}"
                )
            continue
        if b.get("streaming") != c.get("streaming"):
            notes.append(f"{name}: streaming/batch capture mode changed")
            continue
        if c["shuffles"] > b["shuffles"]:
            notes.append(
                f"{name}: shuffles {b['shuffles']} -> {c['shuffles']}"
            )
        if c["broadcast_joins"] < b["broadcast_joins"]:
            notes.append(
                f"{name}: broadcast joins {b['broadcast_joins']} -> "
                f"{c['broadcast_joins']}"
            )
        if c.get("streaming"):
            if c["state_stores"] != b["state_stores"]:
                notes.append(
                    f"{name}: state stores {b['state_stores']} -> "
                    f"{c['state_stores']}"
                )
            if c["sort_merge_joins"] > b["sort_merge_joins"]:
                notes.append(
                    f"{name}: sort-merge joins {b['sort_merge_joins']} -> "
                    f"{c['sort_merge_joins']}"
                )
            if c["unpartitioned_windows"] > b["unpartitioned_windows"]:
                notes.append(
                    f"{name}: unpartitioned windows "
                    f"{b['unpartitioned_windows']} -> "
                    f"{c['unpartitioned_windows']}"
                )
            continue
        grew = Counter(c["read_columns"]) - Counter(b["read_columns"])
        if grew:
            notes.append(
                f"{name}: scans read more columns: "
                f"{sorted(grew.elements())}"
            )
    return notes


def main() -> int:
    diff_only = "--diff" in sys.argv[1:]
    cur = _build()
    newest = _newest_snapshot()
    if newest is not None:
        rnd, base = newest
        notes = _diff(base, cur)
        header = f"plan drift vs PLAN_SNAPSHOT_r{rnd:02d}.json"
        if notes:
            print(f"# {header}: {len(notes)} entries")
            for n in notes:
                print(f"  {n}")
        else:
            print(f"# {header}: none")
    else:
        print("# no prior snapshot; baseline run")
        notes = []
    if not diff_only:
        out = os.path.join(REPO, f"PLAN_SNAPSHOT_r{_round_no():02d}.json")
        with open(out, "w") as fh:
            json.dump(cur, fh, indent=1, sort_keys=True)
        print(f"# wrote {os.path.basename(out)} ({len(cur)} queries)")
    return 1 if (diff_only and notes) else 0


if __name__ == "__main__":
    sys.exit(main())
