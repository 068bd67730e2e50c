"""Pin the corpus-size-derived embedding-LSH tuning (r13).

The r12 measurements (tools/scaling_curve.py, tools/spill_audit.py)
proved the fixed (rows=4, bands=4) constants spill 7.7 GB at a 10x
corpus while the occupancy-held tuning (7, 13) spills zero at half the
shuffle. r13 wired that law into the registered operator as
:func:`emb_lsh_params`; these tests pin the derivation so

* every committed SF still derives exactly (4, 4) — the static DuckDB
  oracle and all driver correctness rows are unchanged, and
* the x10 corpus derives exactly the measured zero-spill tuning.
"""

from __future__ import annotations

import math

import pytest

import mit_map_reduce_spark.operators.dedup as dd
from mit_map_reduce_spark.catalog import table_footer_count
from mit_map_reduce_spark.operators.dedup import (
    EMB_LSH_MIN_BANDS,
    EMB_LSH_MIN_ROWS,
    EMB_LSH_S_REF,
    EMB_LSH_TARGET_OCCUPANCY,
    emb_lsh_params,
)
SF_DIRS = [f"/root/testdata/sf{sf}" for sf in ("0.001", "0.01", "0.1")]


# (corpus size, expected rows, expected bands). 2560 = 160 * 2^4 is the
# exact boundary where rows leaves the floor; 20000 is the r12 x10
# corpus whose (7, 13) tuning spill_audit measured at zero spill.
CHECKPOINTS = [
    (1, 4, 4),
    (500, 4, 4),  # sf0.001 / sf0.01
    (2000, 4, 4),  # sf0.1
    (2560, 4, 4),
    (2561, 5, 6),
    (20000, 7, 13),  # the measured x10 tuning
    (200000, 11, 55),  # 100x sf0.1
]


@pytest.mark.parametrize("n,rows,bands", CHECKPOINTS)
def test_derivation_checkpoints(n, rows, bands):
    assert emb_lsh_params(n) == (rows, bands)


def test_committed_sfs_all_derive_the_oracle_constants():
    """The static DuckDB oracle encodes (MIN_ROWS, MIN_BANDS); it is
    only an exact twin if every corpus the gate runs on derives
    exactly those values. Footer counts: 500/500/2000."""
    for sf_dir in SF_DIRS:
        n = table_footer_count(sf_dir, "embeddings")
        assert emb_lsh_params(n) == (EMB_LSH_MIN_ROWS, EMB_LSH_MIN_BANDS), (
            f"{sf_dir} (n={n}) no longer derives the oracle tuning; "
            "_embedding_lsh_oracle_sql must be regenerated to match"
        )


def test_occupancy_bound_holds_everywhere():
    """rows is chosen so per-band bucket occupancy n / 2^rows stays at
    or below the target once the floor is left behind."""
    for exp in range(0, 31):
        n = 2**exp
        rows, _ = emb_lsh_params(n)
        if rows > EMB_LSH_MIN_ROWS:
            assert n / 2**rows <= EMB_LSH_TARGET_OCCUPANCY
            # and never more than one row beyond what the target needs
            assert n / 2 ** (rows - 1) > EMB_LSH_TARGET_OCCUPANCY


def test_recall_never_degrades_below_baseline():
    """The bands compensation holds the OR-construction catch
    probability at the reference agreement rate s*:
    1-(1-s^rows)^bands >= 1-(1-s^4)^4 for every derived tuning."""
    s = EMB_LSH_S_REF
    baseline_miss = (1.0 - s**EMB_LSH_MIN_ROWS) ** EMB_LSH_MIN_BANDS
    for exp in range(0, 31):
        rows, bands = emb_lsh_params(2**exp)
        miss = (1.0 - s**rows) ** bands
        assert miss <= baseline_miss + 1e-12, (rows, bands)


def test_rows_and_bands_monotonic_in_corpus_size():
    prev = (0, 0)
    for exp in range(0, 31):
        cur = emb_lsh_params(2**exp)
        assert cur[0] >= prev[0] and cur[1] >= prev[1]
        prev = cur


def test_force_override_wins(monkeypatch):
    """The tools' A/B seam: EMB_LSH_FORCE bypasses the derivation."""
    monkeypatch.setattr(dd, "EMB_LSH_FORCE", (9, 21))
    assert emb_lsh_params(500) == (9, 21)
    monkeypatch.setattr(dd, "EMB_LSH_FORCE", None)
    assert emb_lsh_params(500) == (EMB_LSH_MIN_ROWS, EMB_LSH_MIN_BANDS)


def test_bands_formula_matches_docstring_closed_form():
    """bands = ceil(ln(miss0) / ln(1 - s*^rows)), floored at the
    baseline — re-derive independently for the checkpoint rows."""
    s = EMB_LSH_S_REF
    miss0 = (1.0 - s**EMB_LSH_MIN_ROWS) ** EMB_LSH_MIN_BANDS
    for n, rows, bands in CHECKPOINTS:
        expected = max(
            EMB_LSH_MIN_BANDS,
            math.ceil(math.log(miss0) / math.log(1.0 - s**rows) - 1e-9),
        )
        assert bands == expected


def test_pair_width_inert_at_committed_sfs_and_scales_at_volume():
    """The candidate-join/distinct width must stay at the session
    floor for every committed corpus (zero plan drift vs the r12
    pins) and scale with estimated pre-distinct pair volume beyond
    it — the x30 corpus measured 18.6 GB of distinct spill at conf
    width and zero at the derived width."""
    from mit_map_reduce_spark.operators.dedup import emb_lsh_pair_width

    for sf_dir in SF_DIRS:
        n = table_footer_count(sf_dir, "embeddings")
        rows, bands = emb_lsh_params(n)
        # floor 4 = the narrowest session (vanilla local[4]); even
        # there the committed corpora must not trigger the scale-out
        assert emb_lsh_pair_width(n, rows, bands, 4) == 4
    # the measured x30 point: 116 M pre-distinct pairs -> wide
    w30 = emb_lsh_pair_width(60000, 9, 27, 32)
    assert w30 > 32
    # and the per-task volume the width implies stays near target
    est = 27 * 60000 * (60000 / 2**10)
    assert est / w30 <= dd.EMB_LSH_PAIRS_PER_TASK * 1.05
    # monotone in corpus size at fixed tuning floor
    widths = [
        emb_lsh_pair_width(n, *emb_lsh_params(n), 32)
        for n in (2000, 20000, 60000, 200000)
    ]
    assert widths == sorted(widths)
    # capped
    assert emb_lsh_pair_width(10**9, 24, 5733, 32) == 4096


def test_graph_fixpoint_width_inert_at_committed_sfs():
    """Same law, graph side: the scoped fixpoint width and the
    edge-build width stay at their committed-SF values (32 /
    session floor) for every committed corpus, and scale with
    measured volume past one task wave — the x30 pagerank build
    spilled 4 GB at the fixed width."""
    from mit_map_reduce_spark.operators.graph import (
        GRAPH_EDGES_PER_TASK,
        GRAPH_SHUFFLE_PARTITIONS,
        _fixpoint_width,
    )

    # committed corpora: sf0.1 has 1.17M trade edges and 600k
    # lineitem rows — both under one 32-task wave at 250k/task
    assert _fixpoint_width(1_173_742) == GRAPH_SHUFFLE_PARTITIONS
    for sf_dir in SF_DIRS:
        li = table_footer_count(sf_dir, "lineitem")
        assert math.ceil(li / GRAPH_EDGES_PER_TASK) <= GRAPH_SHUFFLE_PARTITIONS
    # the measured x30 point scales out and bounds per-task volume
    w = _fixpoint_width(35_212_260)
    assert w > GRAPH_SHUFFLE_PARTITIONS
    assert 35_212_260 / w <= GRAPH_EDGES_PER_TASK * 1.05
    # capped
    assert _fixpoint_width(10**12) == 4096
