"""Streaming micro-batch plan audit (round-6 verdict #4).

The 17 streaming queries are correctness-verified against batch
oracles, but a StreamingQuery's physical plan only exists while the
query runs — so the one stream runner (``streaming.queries._drain``)
captures the last micro-batch's executed plan
(``streaming.queries.LAST_STREAM_PLAN``, via
``plans.streaming_plan_report``) and these tests grade it with the
same anti-pattern bar the 47 batch plan pins apply: no unpartitioned
windows, the static dimension joins as a broadcast, stateful
operators actually run through state stores (not a silent batch
re-aggregation), and stream-stream joins use the symmetric hash join
with state eviction.

Each query is driven ONCE per session here (the streams are
availableNow-complete in a second or two at sf0.001); asserting on
the captured report adds nothing to that runtime.
"""

from __future__ import annotations

import pytest

from mit_map_reduce_spark.streaming import queries as sq

#: query -> extra expectations on the captured micro-batch plan.
#: Every query additionally asserts: plan captured, and ZERO
#: unpartitioned WindowExec nodes (analytic windows never belong in a
#: micro-batch plan — streaming aggregation is state-store based).
_EXPECT = {
    "stream_tumbling_counts": {"state_stores": True},
    "stream_sliding_counts": {"state_stores": True},
    "stream_session_windows": {"state_stores": True},
    "stream_windowed_distinct_users": {"state_stores": True},
    "stream_append_tumbling_file_sink": {"state_stores": True},
    "stream_dedup_within_watermark": {"contains": "StreamingDeduplicate"},
    "stream_late_data_metrics": {"state_stores": True},
    "stream_incremental_restart": {"state_stores": True},
    "stream_error_rate_alerts": {"state_stores": True},
    "stream_topk_trending_users": {"state_stores": True},
    "stream_cms_user_sketch": {"state_stores": True},
    # gold-table upsert stream (the rollup over the snapshot is batch).
    "stream_multi_grain_counts": {"state_stores": True},
    # static dimension (customer) must BROADCAST into the stream side,
    # never shuffle the stream to meet a tiny dim.
    "stream_static_enrich_by_segment": {"broadcast": True, "state_stores": True},
    # stream-stream joins: the symmetric hash join keeps both sides'
    # state and evicts by the join-condition time bounds.
    "stream_stream_join_attribution": {"contains": "StreamingSymmetricHashJoin"},
    "stream_outer_join_unattributed": {"contains": "StreamingSymmetricHashJoin"},
    # arbitrary-state operators run through the Pandas state mapper.
    "stream_stateful_user_profile": {"contains": "FlatMapGroupsInPandasWithState"},
    "stream_dedup_first_seen": {"contains": "FlatMapGroupsInPandasWithState"},
}


def test_expectation_table_covers_registry():
    assert set(_EXPECT) == set(sq.QUERIES)


@pytest.mark.parametrize("qname", sorted(sq.QUERIES))
def test_streaming_micro_batch_plan(spark, sf_dir, qname):
    # Reset the capture slot first: a query that skipped the runner's
    # _capture_stream_plan must fail here, not inherit the previous
    # parametrization's captured plan.
    sq.LAST_STREAM_PLAN = {}
    sq.QUERIES[qname](spark, sf_dir)
    report = sq.LAST_STREAM_PLAN
    assert report, f"{qname}: no micro-batch plan captured"
    assert report["unpartitioned_windows"] == []
    exp = _EXPECT[qname]
    width = sq.STREAM_MIN_WIDTH
    if exp.get("contains") == "FlatMapGroupsInPandasWithState":
        width = max(width, spark.sparkContext.defaultParallelism)
    assert report["state_partitions"] == width, report["plan"][:1500]
    if exp.get("state_stores"):
        assert report["state_stores"] >= 1, report["plan"][:1500]
    if exp.get("broadcast"):
        assert report["broadcast_joins"] >= 1, report["plan"][:1500]
    if "contains" in exp:
        assert exp["contains"] in report["plan"], report["plan"][:1500]

