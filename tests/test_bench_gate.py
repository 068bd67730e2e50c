"""Bench-regression gate.

bench.py reads each headline query's exact work counters (jobs,
non-skipped stages, shuffle-write bytes, task CPU) from the status
store, diffs jobs, stages and shuffle bytes against the previous
round's BENCH_DETAIL_r{N}.json and records regressed queries with no
BENCH_ALLOWLIST justification under ``unexplained_regressions`` in
BENCH_DETAIL.json. Round 6 shipped a 13.8x regression
(graph_hits_scores) that only the judge caught; this test makes that
class of silent regression fail the suite instead.

test_no_unexplained_bench_regressions reads the LAST bench run's
sidecar — it does not run the bench itself (the full sf0.1 pass takes
minutes and belongs to the bench CLI, not the unit suite). It skips
when no sidecar exists yet or when the sidecar predates the newest
stamped baseline (there is nothing fresh to grade). The other tests run
bench.main() at sf0.001 on one query in a tmp repo dir, or feed the
gate synthetic sidecars.
"""

import glob
import json
import os
import re
import shutil

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTERS = {"jobs", "stages", "shuffle_write_bytes", "cpu_s"}
#: One grouped aggregation: a shuffle whose counters an injected
#: repartition visibly moves.
QUERY = "rel_q1_pricing_summary"


def _newest_stamped() -> str | None:
    stamped = sorted(
        (
            (int(m.group(1)), p)
            for p in glob.glob(os.path.join(REPO, "BENCH_DETAIL_r*.json"))
            if (m := re.search(r"BENCH_DETAIL_r(\d+)\.json$", p))
        )
    )
    return stamped[-1][1] if stamped else None


def test_no_unexplained_bench_regressions():
    detail = os.path.join(REPO, "BENCH_DETAIL.json")
    if not os.path.exists(detail):
        pytest.skip("no bench run recorded yet")
    base = _newest_stamped()
    # 60 s slack: bench writes the sidecar a moment before stamping the
    # round copy in the same run — that is fresh, not stale.
    if base and os.path.getmtime(detail) + 60 < os.path.getmtime(base):
        pytest.skip("last bench run predates the newest stamped baseline")
    with open(detail) as f:
        d = json.load(f)
    if "unexplained_regressions" not in d:
        pytest.skip("sidecar written by a pre-gate bench.py; rerun bench")
    assert d["unexplained_regressions"] == [], (
        "headline queries' work counters rose vs the stamped baseline with "
        "no BENCH_ALLOWLIST entry (see bench.py): "
        f"{d['unexplained_regressions']}"
    )


def test_allowlist_entries_are_registered_queries():
    import bench

    import __spark_entry__ as entrymod

    unknown = set(bench.BENCH_ALLOWLIST) - set(entrymod.queries())
    assert not unknown, f"BENCH_ALLOWLIST names unknown queries: {unknown}"


def _quick_bench(mp, repo, headline=(QUERY,), repeats=1):
    """Point bench.main() at a tmp repo dir, sf0.001 and a short
    headline, so its sidecar and stamps land in ``repo``."""
    import bench

    mp.setattr(bench, "REPO", str(repo))
    mp.setattr(bench, "SF_DIR", "/root/testdata/sf0.001")
    mp.setattr(bench, "REPEATS", repeats)
    mp.setattr(bench, "HEADLINE", list(headline))


def _detail(repo) -> dict:
    return json.loads((repo / "BENCH_DETAIL.json").read_text())


def _end_round(repo, rnd: int) -> None:
    """Write the official BENCH_r{rnd}.json record that closes a round,
    so the next run belongs to round rnd+1 and gates against r{rnd}."""
    (repo / f"BENCH_r{rnd:02d}.json").write_text("{}")


@pytest.fixture(scope="module")
def bench_baseline(tmp_path_factory):
    """One bench.main() pass over QUERY in a tmp repo dir, stamped as
    that dir's round-1 baseline. Returns (repo dir, sidecar)."""
    import bench

    repo = tmp_path_factory.mktemp("bench_repo")
    with pytest.MonkeyPatch.context() as mp:
        _quick_bench(mp, repo)
        bench.main()
    shutil.copy(repo / "BENCH_DETAIL.json", repo / "BENCH_DETAIL_r01.json")
    _end_round(repo, 1)
    return repo, _detail(repo)


def test_bench_records_counters_and_environment(bench_baseline):
    _, side = bench_baseline
    assert set(side["counters"]) == {QUERY, "mr_facade_wordcount_3mb"}
    for c in side["counters"].values():
        assert set(c) == COUNTERS
        assert c["jobs"] >= 1 and c["stages"] >= 1
    assert side["counters"][QUERY]["shuffle_write_bytes"] > 0
    env = side["environment"]
    assert set(env) - {"driver_cds_build_s"} == {
        "cores", "master", "spark_version", "java_version", "driver_cds", "sf",
        "stream_scratch_root",
    }
    assert env["java_version"] and env["driver_cds"]
    assert env["sf"] == 0.001 and env["cores"] >= 1
    # the baseline had no counters-bearing stamp to diff against
    assert side["unexplained_regressions"] == []


def test_unchanged_rerun_lists_nothing(bench_baseline, monkeypatch):
    import bench

    repo, base = bench_baseline
    _quick_bench(monkeypatch, repo)
    bench.main()
    side = _detail(repo)
    assert side["unexplained_regressions"] == []
    for q in (QUERY, "mr_facade_wordcount_3mb"):
        for k in ("jobs", "stages"):
            assert side["counters"][q][k] == base["counters"][q][k], (q, k)


def test_injected_shuffle_is_gated(bench_baseline, monkeypatch):
    import bench

    import __spark_entry__ as entrymod

    repo, _ = bench_baseline
    real_queries = entrymod.queries

    def with_extra_shuffle():
        qs = real_queries()
        inner = qs[QUERY]
        qs[QUERY] = lambda spark, sf_dir: inner(spark, sf_dir).repartition(7)
        return qs

    _quick_bench(monkeypatch, repo)
    monkeypatch.setattr(entrymod, "queries", with_extra_shuffle)
    bench.main()
    assert _detail(repo)["unexplained_regressions"] == [QUERY]


ENV = {"cores": 4, "sf": 0.1}
BASE = {"jobs": 5, "stages": 9, "shuffle_write_bytes": 100_000, "cpu_s": 1.0}


def _stamp(repo, rnd: int, counters: dict | None) -> None:
    stamp = {"environment": ENV, "counters": {"q": counters} if counters else None}
    (repo / f"BENCH_DETAIL_r{rnd:02d}.json").write_text(json.dumps(stamp))


def _gate(tmp_path, cur: dict, base: dict | None = BASE, env: dict = ENV) -> list:
    """Gate one query's counters ``cur``, in round 2, against a
    synthetic round-1 stamp."""
    import bench

    _stamp(tmp_path, 1, base)
    _end_round(tmp_path, 1)
    return bench._report_regressions(str(tmp_path), {"q": dict(BASE, **cur)}, env)


def test_gate_counter_bounds(tmp_path, monkeypatch):
    """Any rise in jobs or stages gates; falls never do. Shuffle-write
    bytes may rise by 5% and no more. Task CPU is recorded but never
    gated: same-code runs spread it up to 2.6x. An allowlisted query is
    reported but not gated."""
    import bench

    assert _gate(tmp_path, {}) == []
    assert _gate(tmp_path, {"jobs": 6}) == ["q"]
    assert _gate(tmp_path, {"stages": 10}) == ["q"]
    assert _gate(tmp_path, {"jobs": 4, "stages": 8, "shuffle_write_bytes": 0}) == []
    assert _gate(tmp_path, {"shuffle_write_bytes": 105_000}) == []
    assert _gate(tmp_path, {"shuffle_write_bytes": 105_001}) == ["q"]
    assert _gate(tmp_path, {"cpu_s": 10.0}) == []
    monkeypatch.setattr(bench, "BENCH_ALLOWLIST", {"q": "test: extra shuffle justified"})
    assert _gate(tmp_path, {"stages": 10}) == []


def test_gate_baseline_is_previous_rounds_stamp(tmp_path):
    """Every sf0.1 run rewrites the current round's stamp. Gating against
    it would make a regressed run its own baseline, so a plain rerun
    would clear the gate; the baseline is the previous round's stamp."""
    import bench

    _stamp(tmp_path, 1, BASE)
    _end_round(tmp_path, 1)
    worse = dict(BASE, jobs=6)
    _stamp(tmp_path, 2, worse)  # this round's earlier, regressed run
    assert bench._report_regressions(str(tmp_path), {"q": worse}, ENV) == ["q"]


def test_gate_skips_incomparable_baseline(tmp_path, capsys):
    """Counters compare only at equal cores and SF (shuffle widths scale
    with defaultParallelism); a stamp without counters — every stamp up
    to r17 — cannot be compared at all. Each skip leaves a stderr note."""
    worse = {"jobs": 50, "stages": 90}
    assert _gate(tmp_path, worse) == ["q"]
    assert _gate(tmp_path, worse, env={"cores": 32, "sf": 0.1}) == []
    assert "baseline r1 ran at cores=4" in capsys.readouterr().err
    assert _gate(tmp_path, worse, env={"cores": 4, "sf": 0.01}) == []
    assert "ran at sf=0.1" in capsys.readouterr().err
    assert _gate(tmp_path, worse, base=None) == []
    assert "has no work counters" in capsys.readouterr().err


def test_cold_artifact_build_runs_excluded_from_median(tmp_path, monkeypatch, capsys):
    """A timed run that materializes a session-shared artifact is the
    once-per-session build, not the query: bench must exclude it from
    the median, take an extra run in its place, and record the event
    with its work counters (r10 verdict: the dedup CC fixpoint landing
    in run 1 of dedup_cluster_size_report turned its median into
    max(two post-build runs) — four rounds of ±50% oscillation)."""
    import bench
    from mit_map_reduce_spark import catalog

    real_queries = None

    def wrapped_queries():
        qs = real_queries()
        inner = qs["mr_wordcount"]
        state = {"calls": 0}

        def cold_then_warm(spark, sf_dir):
            state["calls"] += 1
            if state["calls"] == 1:
                catalog._BUILD_EVENTS.append(("fake_artifact", 9.99))
            return inner(spark, sf_dir)

        qs["mr_wordcount"] = cold_then_warm
        return qs

    import __spark_entry__ as entrymod

    real_queries = entrymod.queries
    _quick_bench(monkeypatch, tmp_path, headline=["mr_wordcount"], repeats=2)
    monkeypatch.setattr(bench, "_report_regressions", lambda *a, **k: [])
    monkeypatch.setattr(entrymod, "queries", wrapped_queries)
    bench.main()
    err = capsys.readouterr().err
    assert "excluded" in err and "fake_artifact" in err
    side = _detail(tmp_path)
    builds = side["cold_artifact_builds"]["mr_wordcount"]
    assert builds[0]["artifacts"] == ["fake_artifact"]
    # the excluded run carries the same counters as the timed ones
    assert COUNTERS <= set(builds[0]) and builds[0]["jobs"] >= 1
    assert builds[0]["jobs"] == side["counters"]["mr_wordcount"]["jobs"]


def test_every_run_builds_falls_back_to_including_runs(tmp_path, monkeypatch, capsys):
    """Attempt-cap fallback: a query that reports an artifact build on
    EVERY run (no registry hit — pathological, but the loop must
    terminate) still produces a median after REPEATS + 2 attempts,
    with the overflow runs included rather than spinning forever."""
    import bench
    from mit_map_reduce_spark import catalog

    real_queries = None

    def wrapped_queries():
        qs = real_queries()
        inner = qs["mr_wordcount"]
        calls = {"n": 0}

        def always_cold(spark, sf_dir):
            calls["n"] += 1
            catalog._BUILD_EVENTS.append((f"evergreen_{calls['n']}", 0.01))
            return inner(spark, sf_dir)

        qs["mr_wordcount"] = always_cold
        qs["__calls__"] = calls  # smuggled out for the assertion
        return qs

    import __spark_entry__ as entrymod

    real_queries = entrymod.queries
    seen = {}

    def capture_queries():
        qs = wrapped_queries()
        seen.update(calls=qs.pop("__calls__"))
        return qs

    _quick_bench(monkeypatch, tmp_path, headline=["mr_wordcount"], repeats=2)
    monkeypatch.setattr(bench, "_report_regressions", lambda *a, **k: [])
    monkeypatch.setattr(entrymod, "queries", capture_queries)
    bench.main()
    side = _detail(tmp_path)
    assert side["queries"]["mr_wordcount"] > 0  # a median was produced
    # at most REPEATS+1 runs can be excluded (attempts < REPEATS+2),
    # then REPEATS more are included regardless: 3 excluded + 2
    # included = 5 calls total, bounded — never an infinite loop
    assert seen["calls"]["n"] == 5
    evs = side["cold_artifact_builds"]["mr_wordcount"]
    # ALL 5 build runs are recorded; the 2 past the cap are marked
    # included_in_median so the sidecar never silently hides a
    # build inside a median
    assert len(evs) == 5
    assert [e.get("included_in_median", False) for e in evs] == [
        False,
        False,
        False,
        True,
        True,
    ]
