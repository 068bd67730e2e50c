"""Property tests for the determinism-core column primitives.

These primitives underpin every oracle comparison (rounding, shingles,
tokenization); each is checked against an independent pure-Python
reference over hypothesis-generated batches, evaluated through a real
Spark plan (one DataFrame per batch, not one per example — Spark jobs
are too slow for per-example runs).
"""

import math

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mit_map_reduce_spark.catalog import load_table  # noqa: F401  (fixtures import chain)
from mit_map_reduce_spark.functions.columns import (
    hex_int,
    round_half_up,
    sql_hex_int,
    tokenize_letters,
    word_kgrams,
)

FINITE = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e9, max_value=1e9
)


def py_round_half_up(x: float, d: int) -> float:
    f = float(10**d)
    return math.floor(x * f + 0.5) / f


@given(st.lists(FINITE, min_size=1, max_size=200))
@settings(max_examples=5, deadline=None)
def test_round_half_up_matches_python(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [r.y for r in df.select(round_half_up(F.col("x"), 4).alias("y")).collect()]
    exp = [py_round_half_up(x, 4) for x in xs]
    assert got == exp


def test_hex_int_twins_match_python(spark):
    """Every md5-derived value goes through hex_int (Spark) and
    sql_hex_int (DuckDB oracles): both must read a hex slice as
    Python's int(h[...], 16) does, for every width the operators use,
    at both ends of a digest and from a per-row start."""
    import hashlib
    import random

    import duckdb

    rng = random.Random(7)
    rows = []
    for _ in range(64):
        k = str(rng.getrandbits(64))
        h = hashlib.md5(k.encode()).hexdigest() + hashlib.md5((k + "!").encode()).hexdigest()
        rows.append((h, rng.randint(1, 50)))
    cases = [(d, s) for d in range(1, 13) for s in (1, 32)]
    df = spark.createDataFrame(rows, "h string, p int")
    cols = [hex_int("h", d, s).cast("long").alias(f"c{d}_{s}") for d, s in cases]
    cols += [hex_int("h", d, F.col("p")).cast("long").alias(f"p{d}") for d in (1, 4)]
    got = [tuple(r) for r in df.select("h", "p", *cols).orderBy("h").collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(h VARCHAR, p INTEGER)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = [f"CAST({sql_hex_int('h', d, s)} AS BIGINT)" for d, s in cases]
    sql += [f"CAST({sql_hex_int('h', d, 'p')} AS BIGINT)" for d in (1, 4)]
    oracle = con.execute(f"SELECT h, p, {', '.join(sql)} FROM t ORDER BY h").fetchall()
    exp = [
        (h, p)
        + tuple(int(h[s - 1 : s - 1 + d], 16) for d, s in cases)
        + tuple(int(h[p - 1 : p - 1 + d], 16) for d in (1, 4))
        for h, p in sorted(rows)
    ]
    assert got == exp
    assert oracle == exp


@given(
    st.lists(
        # Unicode letters (Latin-1, Cyrillic, CJK) + digits + punctuation
        # + Nl/No codepoints (Ⅻ roman numeral, ① circled digit, ½
        # fraction): the tokenizer must match the reference's
        # unicode.IsLetter split (src/mrapps/wc.go:21-24) — exactly the
        # L* categories, which Python's [^\W\d_] class does NOT give
        # (it admits Nl/No); the facade's apps.tokenize is the pinned
        # reference implementation.
        st.text(alphabet=st.sampled_from(list("ab cd éß щ中 1_-Ⅻ①½")), max_size=30),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=5, deadline=None)
def test_tokenize_letters_matches_facade_tokenize(spark, texts):
    from mit_map_reduce_spark.mapreduce.apps import tokenize

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r.w for r in df.select(tokenize_letters(F.col("t")).alias("w")).collect()]
    exp = [tokenize(t) for t in texts]
    assert got == exp


def test_facade_tokenize_rejects_nl_no_like_go_isletter():
    """Go's unicode.IsLetter admits only L*; Nl (Ⅻ) and No (①, ½)
    codepoints must act as separators, not letters — the corner the
    shared-tokenizer parity tests could not see (VERDICT r12)."""
    from mit_map_reduce_spark.mapreduce.apps import tokenize

    assert tokenize("abⅫcd") == ["ab", "cd"]
    assert tokenize("①x ½y Ⅻ") == ["x", "y"]
    assert tokenize("a1b a_b a-b") == ["a", "b", "a", "b", "a", "b"]
    assert tokenize("éß щ中") == ["éß", "щ中"]
    assert tokenize("Ⅻ①½") == []


def test_tokenize_letters_matches_duckdb_re2(spark):
    # Three-engine agreement on Unicode tokenization: Spark's Java-regex
    # \p{L} split (tokenize_letters) must equal DuckDB's RE2 \p{L} split
    # (the fragment every text/dedup oracle uses) on non-ASCII corpora.
    import duckdb

    texts = [
        "Füchse über den Zaun — Привет мир!",
        "中文词 and ASCII mixed, naïve café touché",
        "digits 123 and under_scores split; ß and Ω are letters",
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r.w for r in df.select(tokenize_letters(F.col("t")).alias("w")).collect()]
    con = duckdb.connect()
    exp = [
        con.execute(
            r"SELECT list_filter(regexp_split_to_array(?, '[^\p{L}]+'), x -> x <> '')",
            [t],
        ).fetchone()[0]
        for t in texts
    ]
    assert got == exp


@given(
    st.lists(st.lists(st.sampled_from(["a", "b", "c"]), max_size=12), min_size=1, max_size=30),
    st.integers(min_value=1, max_value=5),
)
@settings(max_examples=5, deadline=None)
def test_word_kgrams_matches_python(spark, token_lists, k):
    df = spark.createDataFrame([(ts,) for ts in token_lists], "ts array<string>")
    got = [r.g for r in df.select(word_kgrams(F.col("ts"), k).alias("g")).collect()]
    exp = [
        [" ".join(ts[i : i + k]) for i in range(len(ts) - k + 1)] if len(ts) >= k else []
        for ts in token_lists
    ]
    assert got == exp


# ---------------------------------------------------------------------------
# Float-determinism contracts (round-4 verdict #6): every post-rounding
# float aggregate must be invariant to HOW Spark partitions the work.
# Money sums earn this via integer grains (test_money_exact.py); the
# queries here earn it structurally — tf-idf's inputs are integer
# counts (exact in any order) with the float log applied per row;
# exact percentiles interpolate over a SORT (order-invariant by
# definition); the unigram LM accumulates integer micro-units. The
# pin: identical results under different shuffle-partition settings.
# ---------------------------------------------------------------------------

import pytest as _pytest


@_pytest.mark.parametrize(
    "qname",
    [
        "text_tfidf_top_terms",
        "adv_percentiles_order_value",
        "text_unigram_logprob",
        # two-pass distributed prefix sum: the packing must not depend
        # on where the sampled range-partition boundaries fall
        "text_pack_sequences",
        # same two-pass pattern: global shuffle positions must not
        # depend on the range boundaries either
        "text_shuffle_order",
    ],
)
def test_float_queries_partitioning_invariant(spark, sf_dir, qname):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[qname]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert wide == narrow
    assert len(wide) > 0
