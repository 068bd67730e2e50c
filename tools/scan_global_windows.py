"""Repo-wide audit: unpartitioned WindowExec over scan-rooted subtrees.

Walks every registered batch query's executed plan and flags Window
nodes with an EMPTY partition spec whose subtree reaches a file scan
without passing a limit/TakeOrdered — the "moving all data to a single
partition" shape that dies at 100 TB. The per-query ALLOWLIST below
records every justified instance: all of them are windows over
BOUNDED-DOMAIN aggregates (calendar days/months, deciles, category
cells) whose row count is fixed regardless of corpus size — the
aggregate's grouping key domain, not the corpus, bounds the frame.

Run: python tools/scan_global_windows.py [sf_dir]
Exit 0 iff every query matches its allowlist entry (default 0).
The order-statistics family's zero-window guarantee is additionally
pinned per-query in tests/test_rank.py; this tool is the repo-wide
sweep run each round before handoff (round-5 sweep: 17 allowlisted,
0 unexplained).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: query -> (allowed count, why that window frame is bounded)
ALLOWED = {
    "adv_activity_heatmap": (1, "share over the 168 dow x hour cells"),
    "adv_cusum_changepoint_revenue": (2, "CUSUM over the calendar-day frame"),
    "adv_decile_lift_table": (
        1,
        "running lift over the 10 decile cells (visible since the probe "
        "descends into the pinned exchange's cached plan)",
    ),
    "adv_kaplan_meier_retention": (
        2,
        "product-limit over distinct duration minutes (observation-window bounded)",
    ),
    "adv_rolling_zscore_anomalies": (1, "trailing stats over the calendar-day frame"),
    "adv_smoothed_conversion_ranking": (
        3,
        "raw/smoothed ranks over the k-decile frame (tens of rows)",
    ),
    "dedup_survivorship_report": (1, "shares over the verdict-category cells"),
    "mr_terasort_manifest": (1, "contiguity lag over the TERA_PARTS-row manifest"),
    "rel_benford_price_audit": (1, "shares over the 9 leading-digit cells"),
    "rel_monthly_revenue_mom": (1, "lag over the calendar-month frame"),
    "rel_revenue_autocorrelation": (1, "lag-1 over the calendar-day frame"),
    "rel_revenue_trend_forecast": (1, "OLS accumulators over the month frame"),
    "rel_seasonality_index_monthly": (1, "index over the 12 month-of-year cells"),
    "rel_segment_priority_chi2": (1, "expected counts over the 5x5 segment cells"),
    "text_langid_agreement": (1, "shares over the lang x lang confusion cells"),
    "text_pipeline_funnel_report": (1, "survival over the 7 funnel stages"),
    "text_vocab_growth": (1, "growth curve over the 10 corpus deciles"),
}

def unpartitioned_corpus_windows(df) -> int:
    from mit_map_reduce_spark.plans import (
        unpartitioned_corpus_windows as probe,
    )

    return len(probe(df))


def scan_repo(spark, sf_dir: str) -> list[str]:
    """Audit every registered query; returns human-readable flags
    (empty = clean). Batch queries: count unpartitioned scan-rooted
    WindowExec nodes vs the allowlist. Streaming queries: drive the
    stream and grade the captured micro-batch plan (plans only exist
    while the query runs) — ANY unpartitioned window there is a flag,
    no allowlist (micro-batch aggregation is state-store based)."""
    from mit_map_reduce_spark.streaming import queries as sq

    import __spark_entry__ as entrymod

    bad = []
    for name, fn in entrymod.queries().items():
        try:
            if name.startswith("stream_"):
                # Reset the capture slot so a query that skipped the
                # runner's _capture_stream_plan cannot pass on the PREVIOUS
                # query's plan.
                sq.LAST_STREAM_PLAN = {}
            df = fn(spark, sf_dir)
            if name.startswith("stream_"):
                report = sq.LAST_STREAM_PLAN
                if not report:
                    bad.append(f"{name}: no micro-batch plan captured")
                elif report["unpartitioned_windows"]:
                    bad.append(
                        f"{name}: {len(report['unpartitioned_windows'])} "
                        "unpartitioned windows in the micro-batch plan"
                    )
                continue
            got = unpartitioned_corpus_windows(df)
        except Exception as ex:  # pragma: no cover - surfaced for triage
            bad.append(f"{name}: plan build failed: {ex}")
            continue
        allowed = ALLOWED.get(name, (0, ""))[0]
        if got != allowed:
            bad.append(f"{name}: {got} unpartitioned scan-rooted windows (allowed {allowed})")
    return bad


def main() -> int:
    from mit_map_reduce_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    bad = scan_repo(get_spark("window_audit"), sf_dir)
    for line in bad:
        print("FLAG", line)
    print(f"{len(bad)} unexplained (allowlist {len(ALLOWED)} entries)")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
