"""Executed-plan probes: is this the plan you'd ship to 1000 executors?

Each probe answers one scale question:

- :func:`scan_read_schema`    — did column pruning reach the scan?
- :func:`pushed_filters`      — did predicate pushdown reach the scan?
- :func:`count_shuffles`      — how many Exchanges (each is a full
  network rewrite of its input)?
- :func:`broadcast_join_count`— did small dims broadcast instead of
  shuffling the fact side?
- :func:`wholestage_codegen_ids` — which spans stayed in generated
  JVM code (off the slow interpreted path)?
- :func:`plan_report`         — all of the above as one dict.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The executed (post-AQE-planning) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """``explain("formatted")`` output — has per-node details like
    ReadSchema and PushedFilters that the tree string omits."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def strip_cached_subtrees(plan: str) -> str:
    """Drop the stored build plan under every ``InMemoryRelation``.

    A cached frame's subtree re-renders once the cache is MATERIALIZED
    (``AdaptiveSparkPlan isFinalPlan=true`` with query-stage nodes), so
    any count over the raw text depends on whether some earlier action
    in the same session happened to materialize a shared cache — pure
    rendering noise across runs (round-10 triage: the r09->r10
    graph_degree_distribution / graph_supplier_projection "drift" was
    exactly this). Counting above the cache boundary is stable: the
    consumer pays those cached shuffles once per build, not per query,
    and the build plan's own shape is pinned where the build lives.

    Input contract: ``plan`` is a SINGLE executed-plan tree string
    (``df._jdf.queryExecution().executedPlan().toString()`` or one
    ``simple``-mode explain). Multi-section text (``formatted`` mode,
    ``===== Subqueries =====``) is NOT supported — the marker-less
    root-relation branch strips to end-of-string, which would discard
    later sections; as a guard, a ``==``-prefixed section header ends
    any active strip.
    """
    out: list[str] = []
    skip_depth: int | None = None
    skip_rest = False
    for line in plan.splitlines():
        if line.lstrip().startswith("=="):
            # Section header (formatted explain / Subqueries): never
            # part of a cached build plan — end any active strip so a
            # multi-section string degrades gracefully (see contract).
            skip_rest = False
            skip_depth = None
        if skip_rest:
            continue
        m = re.search(r"[+:]-", line)
        depth = m.start() if m else None
        if skip_depth is not None:
            if depth is not None and depth <= skip_depth:
                skip_depth = None  # left the cached subtree
            else:
                continue
        out.append(line)
        if "InMemoryRelation" in line:
            if depth is None:
                # Marker-less boundary = the relation IS the plan root,
                # so everything after it is its stored build plan. The
                # old depth=0 fallback dropped marker-less lines but
                # kept any marker at column 0 — over/under-stripping
                # both ways (r10 advice).
                skip_rest = True
            else:
                skip_depth = depth
    return "\n".join(out)


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names each parquet scan actually reads (ReadSchema).

    A scan reading columns the query never uses means pruning failed —
    at 100 TB that is wasted I/O proportional to the unpruned bytes.
    """
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted_plan(df)):
        cols.extend(p.split(":")[0] for p in m.group(1).split(",") if p)
    return cols

def pushed_filters(df: DataFrame) -> list[str]:
    """Predicates the parquet reader evaluates against row-group
    statistics (PushedFilters) — rows skipped here are never read."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def count_shuffles(df: DataFrame, exclude_cached: bool = False) -> int:
    """Number of Exchange nodes. Every one is a full rewrite of its
    input over the network; the difference between 2 and 3 shuffles on
    a 100 TB input is measured in hours.

    ``exclude_cached=True`` counts only above ``InMemoryRelation``
    boundaries — stable across cache-materialization state (see
    :func:`strip_cached_subtrees`)."""
    plan = physical_plan(df)
    if exclude_cached:
        plan = strip_cached_subtrees(plan)
    return len(re.findall(r"\bExchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)", plan))


def broadcast_join_count(df: DataFrame, exclude_cached: bool = False) -> int:
    """BroadcastHashJoin count — joins whose small side ships to every
    executor instead of shuffling the big side."""
    plan = physical_plan(df)
    if exclude_cached:
        plan = strip_cached_subtrees(plan)
    return plan.count("BroadcastHashJoin")


def wholestage_codegen_ids(df: DataFrame) -> list[int]:
    """Distinct whole-stage-codegen span ids (``*(n)`` prefixes).
    Operators outside any span run interpreted, row at a time."""
    return sorted({int(m) for m in re.findall(r"\*\((\d+)\)", physical_plan(df))})


def plan_report(df: DataFrame) -> dict:
    """One-call pre-flight summary of the scale-relevant plan facts."""
    return {
        "shuffles": count_shuffles(df),
        "broadcast_joins": broadcast_join_count(df),
        "codegen_spans": len(wholestage_codegen_ids(df)),
        "read_columns": scan_read_schema(df),
        "pushed_filters": pushed_filters(df),
    }


# --- unpartitioned-window probe (round 5) ---------------------------------

#: Physical nodes that cap a subtree's row count regardless of input
#: size — a window above one of these is bounded even if a file scan
#: sits further down.
_BOUNDED_NODES = frozenset(
    {
        "TakeOrderedAndProjectExec",
        "CollectLimitExec",
        "GlobalLimitExec",
        "LocalLimitExec",
    }
)


def _plan_root(df: DataFrame):
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    return plan


def _inner_plans(node):
    """Plans nested inside ``node`` that a plain children() walk would
    miss: a cached frame's plan behind InMemoryTableScanExec (a LEAF
    to children()) and a nested AdaptiveSparkPlanExec's inner plan.
    Missing either made the probe treat a cached corpus scan as
    bounded — a false-negative surface for the repo-wide audit."""
    name = node.getClass().getSimpleName()
    if name == "InMemoryTableScanExec":
        try:
            yield node.relation().cachedPlan()
        except Exception:
            pass
    elif name == "AdaptiveSparkPlanExec":
        try:
            yield node.initialPlan()
        except Exception:
            pass
    elif name == "RDDScanExec":
        # A shared_persist artifact truncated behind a checkpoint leaf
        # (catalog.truncate_lineage: local or reliable, by master):
        # resolve the RDD id back to the stashed PRE-truncation build
        # frame and keep descending, so structural pins still cover
        # artifact internals on every master (the bare leaf would blind
        # this probe repo-wide). Probe-only cost: the build frame
        # re-plans here, never on query paths.
        try:
            from mit_map_reduce_spark.catalog import _SHARED_BUILD_FRAMES

            src = _SHARED_BUILD_FRAMES.get(node.rdd().id())
            if src is not None:
                yield _plan_root(src)
        except Exception:
            pass


def _subquery_plans(node):
    """Physical plans of the node's subquery expressions (scalar / IN
    subqueries) — WindowExec nodes hide in there too."""
    try:
        sq = node.subqueries()
    except Exception:
        return
    for i in range(sq.size()):
        yield sq.apply(i)


def _walk_nodes(node):
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk_nodes(ch.apply(i))
    for inner in _inner_plans(node):
        yield from _walk_nodes(inner)
    for sub in _subquery_plans(node):
        yield from _walk_nodes(sub)


_AGG_NODES = frozenset(
    {"HashAggregateExec", "SortAggregateExec", "ObjectHashAggregateExec"}
)


def _is_pid_offset_aggregate(node) -> bool:
    """functions.rank.distributed_prefix's offset table: an aggregate
    grouped on the range-partition id ``__pid`` (plus the low-card
    group keys). Its output is n_groups * n_parts rows — the helper's
    contract requires it to broadcast — so a window above it is
    bounded even though a corpus scan sits below the aggregate."""
    if node.getClass().getSimpleName() not in _AGG_NODES:
        return False
    try:
        ge = node.groupingExpressions()
        return any("__pid" in ge.apply(i).name() for i in range(ge.size()))
    except Exception:
        return False


def _subtree_has_unbounded_filescan(node) -> bool:
    # Subqueries are deliberately NOT searched here: their rows reach
    # the parent via a broadcast/scalar value, not the window's input
    # stream, so a scan inside one doesn't make the frame corpus-sized.
    name = node.getClass().getSimpleName()
    if name in _BOUNDED_NODES:
        return False
    if name in ("FileSourceScanExec", "BatchScanExec"):
        return True
    if _is_pid_offset_aggregate(node):
        return False
    ch = node.children()
    if any(_subtree_has_unbounded_filescan(ch.apply(i)) for i in range(ch.size())):
        return True
    return any(_subtree_has_unbounded_filescan(p) for p in _inner_plans(node))


def unpartitioned_corpus_windows(df: DataFrame) -> list[str]:
    """WindowExec nodes with an EMPTY partition spec whose subtree
    reaches a file scan without passing a limit/TakeOrdered — the
    "moving all data to a single partition" shape that dies at 100 TB.

    Windows over bounded-domain aggregates (calendar days, deciles,
    category cells) are still reported when scan-rooted — the caller
    allowlists those with a justification (tools/scan_global_windows.py
    keeps the repo-wide list; tests/test_rank.py pins the
    order-statistics family at zero). The scale-safe alternative for a
    genuinely corpus-sized frame is functions.rank.distributed_prefix.
    """
    return [
        node.nodeName()
        for node in _walk_nodes(_plan_root(df))
        if node.getClass().getSimpleName() == "WindowExec"
        and node.partitionSpec().isEmpty()
        and _subtree_has_unbounded_filescan(node)
    ]


# --- streaming micro-batch probes (round 6) -------------------------------


def streaming_plan_report(query) -> dict:
    """Scale-relevant facts of a StreamingQuery's LAST micro-batch
    executed plan (IncrementalExecution) — the streaming analog of
    :func:`plan_report`, so stream queries get the same anti-pattern
    audit (unpartitioned windows, non-broadcast small joins) batch
    queries do. Call after at least one batch (e.g. right after
    ``processAllAvailable``) and before ``stop()``.
    """
    # _jsq is the public StreamingQueryWrapper; the StreamExecution
    # behind it owns the per-batch IncrementalExecution.
    le = query._jsq.streamingQuery().lastExecution()
    if le is None:
        return {}
    plan = le.executedPlan()
    s = plan.toString()
    return {
        "plan": s,
        "unpartitioned_windows": [
            node.nodeName()
            for node in _walk_nodes(plan)
            if node.getClass().getSimpleName() == "WindowExec"
            and node.partitionSpec().isEmpty()
        ],
        "broadcast_joins": s.count("BroadcastHashJoin"),
        "sort_merge_joins": s.count("SortMergeJoin"),
        "shuffles": len(
            re.findall(
                r"\bExchange (?:hashpartitioning|rangepartitioning|"
                r"RoundRobinPartitioning|SinglePartition)",
                s,
            )
        ),
        "state_stores": s.count("StateStoreSave"),
        # the width the stateful operators run at: every operator's
        # state info records it, fixed by the checkpoint's first start
        "state_partitions": max(
            (int(n) for n in re.findall(r"state info \[[^\]]*numPartitions = (\d+)", s)),
            default=0,
        ),
    }
