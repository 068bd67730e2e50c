"""Bucketed-table join: the shuffle-free co-located join at scale.

At 100 TB a fact-fact join (lineitem x orders) cannot broadcast either
side; bucketing both tables on the join key at write time pre-shuffles
them ONCE, and every later join/agg on that key runs with zero
exchanges. This test proves our ``write_parquet(bucket_by=...)`` path
actually delivers that plan.
"""

import pytest
from pyspark.sql import functions as F

from mit_map_reduce_spark.catalog import load_table
from mit_map_reduce_spark.plans import count_shuffles
from mit_map_reduce_spark.sources import write_parquet


@pytest.fixture()
def no_broadcast(spark):
    # Force a shuffle-capable join strategy so the test proves the
    # bucketed layout (not broadcast) eliminated the exchanges.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path, no_broadcast):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    write_parquet(li, str(tmp_path / "b_li"), bucket_by=(8, ["l_orderkey"]), table_name="b_lineitem")
    write_parquet(orders, str(tmp_path / "b_ord"), bucket_by=(8, ["o_orderkey"]), table_name="b_orders")

    a, b = spark.table("b_lineitem"), spark.table("b_orders")
    joined = a.join(b, a.l_orderkey == b.o_orderkey).groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("q"), F.max("o_totalprice").alias("p")
    )
    # join AND aggregation both ride the bucket partitioning: no
    # exchange anywhere in the plan.
    assert count_shuffles(joined) == 0
    # sanity: result is real (one group per order that has lineitems)
    n = joined.count()
    assert 0 < n <= orders.count()

    # control: the same join on plain (unbucketed) parquet shuffles.
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
    assert count_shuffles(plain) >= 2


def test_bucketed_join_query_zero_exchange(spark, sf_dir, no_broadcast):
    # The registered query (not just the raw mechanism above) must plan
    # its join + same-key aggregation with no exchange once the
    # bucketed tables exist.
    from mit_map_reduce_spark.operators.relational import rel_bucketed_join_revenue

    df = rel_bucketed_join_revenue(spark, sf_dir)  # first call writes tables
    df2 = rel_bucketed_join_revenue(spark, sf_dir)  # plan over existing tables
    assert count_shuffles(df2) == 0


def test_bucketed_scratch_publishes_atomically(spark, sf_dir):
    """The shared bucketed artifact is published through
    catalog.publish_once (temp dir + marker + os.rename): after a write
    the scratch base holds only the final table dirs — no .tmp/.trash/
    .lock leftovers — and each published dir carries the publish
    marker (and Spark's _SUCCESS from the bucketed write inside it)."""
    import os

    from mit_map_reduce_spark.catalog import _PUBLISH_MARKER
    from mit_map_reduce_spark.operators.relational import (
        bucketed_scratch_base,
        rel_bucketed_join_revenue,
    )

    rel_bucketed_join_revenue(spark, sf_dir).count()
    base = bucketed_scratch_base(sf_dir)
    entries = sorted(os.listdir(base))
    strays = [e for e in entries if any(m in e for m in (".tmp", ".wip", ".trash", ".lock"))]
    assert strays == [], strays
    for sub in ("li", "ord"):
        assert os.path.exists(os.path.join(base, sub, _PUBLISH_MARKER))
        assert os.path.exists(os.path.join(base, sub, "_SUCCESS"))


def test_scratch_base_env_override(monkeypatch, tmp_path):
    """Every cross-run scratch artifact keys off catalog.scratch_base()
    so a multi-node deployment can point it at shared storage with
    SPARK_GRAFT_SCRATCH_DIR; unset, it stays the local tempdir."""
    import tempfile

    from mit_map_reduce_spark.catalog import scratch_base
    from mit_map_reduce_spark.operators.relational import bucketed_scratch_base

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_DIR", raising=False)
    assert scratch_base() == tempfile.gettempdir()
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    assert scratch_base() == str(tmp_path)
    assert bucketed_scratch_base("/root/testdata/sf0.001").startswith(str(tmp_path))
