"""Volume-derived Python-boundary stage widths (r15 optimization).

Every Python (Arrow) task pays a fixed, payload-independent cost
(~0.08 CPU-s for a no-op mapInPandas task under ``pyworker_daemon``;
``catalog.volume_width`` gives its cause and measurement), so the
width of a mapInPandas/mapInArrow stage must follow the stage's INPUT
VOLUME, never the parent frame's cores-wide cache layout — and must
keep growing with volume so the law is scale-correct, not local-tuned.
"""

from pyspark.sql import functions as F

from mit_map_reduce_spark.catalog import table_footer_count, volume_width


def test_width_follows_volume():
    # tiny input -> the floor, not the session's core count
    assert volume_width(2_000, 200_000) == 1
    assert volume_width(2_000, 200_000, floor=4) == 4
    # linear growth with volume
    assert volume_width(1_000_000, 200_000) == 5
    assert volume_width(10_000_000, 200_000) == 50
    # capped (like every other volume-law width in the repo)
    assert volume_width(10**12, 200_000) == 4096
    # degenerate inputs never yield zero/negative widths
    assert volume_width(0, 200_000) == 1
    assert volume_width(5, 0) == 5  # rows_per_task floor of 1


def test_assign_cells_stage_width_is_volume_derived(spark, sf_dir):
    """The IVF assignment's Python stage runs at the derived width
    (floor=4 at committed SFs), not at the 32-partition cache width."""
    from mit_map_reduce_spark.operators.similarity import (
        ASSIGN_ROWS_PER_TASK,
        _assign_cells,
        _centroids_artifact,
        _emb_with_norm,
    )

    emb = _emb_with_norm(spark, sf_dir)
    cents = _centroids_artifact(spark, sf_dir)
    n = table_footer_count(sf_dir, "embeddings")
    out = _assign_cells(emb, cents, n_rows=n)
    expected = volume_width(n, ASSIGN_ROWS_PER_TASK, floor=4)
    assert out.rdd.getNumPartitions() == expected
    # and the narrow width changes nothing about the assignment itself
    wide = _assign_cells(emb, cents)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, wide.collect()))


def test_mm_assets_width_is_volume_derived(spark, sf_dir):
    from mit_map_reduce_spark.operators.multimodal import (
        MM_ASSETS_PER_TASK,
        _assets,
    )

    n = table_footer_count(sf_dir, "documents")
    assets = _assets(spark, sf_dir)
    assert assets.rdd.getNumPartitions() == volume_width(n, MM_ASSETS_PER_TASK)
