"""Order-invariant money accumulation (the rel_q9 class of bug).

Round 3's only red driver row was rel_q9_product_profit: a float sum
whose partial-aggregation order differed from DuckDB's scan order by
1 ulp, flipping round_half_up at a half-cent boundary in 2 of 175
groups. The structural fix is money_grains — per-row integer grains
summed as decimal(38,0) — and these tests pin the contract:

1. the grain sum is IDENTICAL under any partitioning / summation order;
2. Spark's money_sum and the DuckDB sql_money_sum twin agree exactly;
3. the local gate (tools/check_correctness.py) compares floats at full
   precision, so a post-rounding 1-ulp flip fails LOCALLY (round 3's
   gate normalized to 6 significant digits and waved q9 through).
"""

import math
import os
import random
import sys

import duckdb
from pyspark.sql import functions as F

from mit_map_reduce_spark.functions.columns import (
    money_avg,
    money_sum,
    sql_money_avg,
    sql_money_sum,
)

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_correctness import norm_cell  # noqa: E402


def _money_values(n=5000, seed=7):
    rng = random.Random(seed)
    # 2-dp money amounts plus a cancellation-prone negative leg, the
    # q9 profit shape: large terms of both signs, small net sum.
    vals = [round(rng.uniform(0, 100000), 2) for _ in range(n)]
    vals += [-round(v * 0.999, 2) for v in vals]
    rng.shuffle(vals)
    return vals


def test_money_sum_partitioning_invariant(spark):
    vals = _money_values()
    rows = [(i, v) for i, v in enumerate(vals)]
    outs = []
    for nparts in (1, 7, 32):
        df = spark.createDataFrame(rows, "id long, v double").repartition(nparts)
        outs.append(df.agg(money_sum("v", 2).alias("s")).collect()[0].s)
    assert outs[0] == outs[1] == outs[2]


def test_money_sum_matches_duckdb_exactly(spark):
    vals = _money_values()
    df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(13)
    got_sum = df.agg(money_sum("v", 2).alias("s")).collect()[0].s
    got_avg = df.agg(money_avg("v", 4).alias("a")).collect()[0].a
    con = duckdb.connect()
    con.execute("CREATE TABLE t(v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    exp_sum = con.execute(f"SELECT {sql_money_sum('v', 2)} FROM t").fetchone()[0]
    exp_avg = con.execute(f"SELECT {sql_money_avg('v', 4)} FROM t").fetchone()[0]
    # Bit-exact, not approx: the driver hashes exact values.
    assert got_sum.hex() == exp_sum.hex()
    assert got_avg.hex() == exp_avg.hex()


def test_float_sum_order_divergence_is_real():
    """The hazard money_grains closes actually exists: the same values
    summed in a different order give a different double (so any test
    asserting the old float path was 'probably fine' would be wrong)."""
    vals = _money_values(n=20000, seed=11)
    fwd = sum(vals)
    rev = sum(reversed(vals))
    chunked = math.fsum(
        [sum(vals[i : i + 64]) for i in range(0, len(vals), 64)]
    )
    assert not (fwd == rev == chunked)


def test_gate_distinguishes_one_ulp_after_rounding():
    """Regression for the round-3 gate miss: two floats that agree to 6
    significant digits but differ by one final-digit cent must compare
    UNEQUAL in the gate's normalization."""
    a, b = 11414149.39, 11414149.38
    assert f"{a:.6g}" == f"{b:.6g}"  # the round-3 gate saw them as equal
    assert norm_cell(a) != norm_cell(b)
    ulp = math.nextafter(a, math.inf)
    assert norm_cell(a) != norm_cell(ulp)
    assert norm_cell(a) == norm_cell(11414149.39)
    assert norm_cell(float("nan")) == norm_cell(float("nan"))


from hypothesis import given, settings
from hypothesis import strategies as st

MONEY = st.floats(allow_nan=False, allow_infinity=False, min_value=-1e9, max_value=1e9)


@given(st.lists(MONEY, min_size=1, max_size=300))
@settings(max_examples=5, deadline=None)
def test_money_sum_spark_duckdb_parity_hypothesis(spark, xs):
    """Arbitrary float batches (both signs, subnormal-ish to 1e9):
    Spark money_sum over a multi-partition frame must equal the DuckDB
    twin bit-for-bit."""
    df = spark.createDataFrame([(x,) for x in xs], "v double").repartition(7)
    got = df.agg(money_sum("v", 2).alias("s")).collect()[0].s
    con = duckdb.connect()
    con.execute("CREATE TABLE t(v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in xs])
    exp = con.execute(f"SELECT {sql_money_sum('v', 2)} FROM t").fetchone()[0]
    assert got.hex() == exp.hex()
