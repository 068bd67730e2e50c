"""Reusable Column expressions (all JVM-side, codegen-friendly).

Everything here compiles to Catalyst expressions — no Python UDFs —
so whole-stage codegen keeps the hot path in the JVM at any scale.
Cross-engine determinism note: several operators are differential-
tested against DuckDB, so these helpers only use constructs with
bit-identical semantics in both engines (md5 hex strings, integer
arithmetic, IEEE double ops). Where DuckDB lacks the Spark function,
the helper has a textual-SQL twin the oracles call: ``round_half_up``
/ ``sql_round``, ``money_*`` / ``sql_money_*`` and ``hex_int`` /
``sql_hex_int`` (every md5-derived pseudo-random value).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tokenization pattern matching the reference's non-letter split
#: (reference src/mrapps/wc.go:21-24, unicode.IsLetter): any run of
#: non-Unicode-letters is a separator. \p{L} is the Unicode Letter
#: category in BOTH Java regex (Spark) and RE2 (the DuckDB oracles),
#: and matches the facade's Python [^\W\d_]+ (mapreduce/apps.py).
LETTER_SPLIT = r"[^\p{L}]+"


def tokenize_letters(text: Column) -> Column:
    """Array of letter-run tokens, empties removed."""
    return F.filter(F.split(text, LETTER_SPLIT), lambda w: w != "")


def whitespace_tokens(text: Column) -> Column:
    return F.filter(F.split(text, r"\s+"), lambda w: w != "")


def word_kgrams(words: Column, k: int, sep: str = " ") -> Column:
    """Array of word k-gram shingles (contiguous, order-preserving).

    Pure Catalyst: k-1 ``zip_with`` passes against shifted slices of
    the array, so shingling 100 TB of documents never leaves the JVM.
    The r15 A/B replaced the per-gram ``array_join(slice(words, i, k))``
    fold (one slice allocation + join per output gram) with the
    shifted-zip form: per element it is ONE concat, and the bigram
    explode dropped from 8.4 to 2.6 CPU-s at sf0.1 with bit-identical
    output. The zip pads the tail with nulls (``concat_ws`` would
    silently shorten those grams), so the final slice cuts the array
    back to the n-k+1 true grams first. Assumes no null ELEMENTS in
    ``words`` (the tokenizers never produce them); n < k yields an
    empty array, a null array stays null — same as the old form.
    """
    n = F.size(words)
    acc = words
    for s in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(words, s + 1, F.greatest(n - s, F.lit(0))),
            lambda a, b: F.concat_ws(sep, a, b),
        )
    return F.slice(acc, 1, F.greatest(n - (k - 1), F.lit(0)))


def vec_norm(vec: Column) -> Column:
    """L2 norm, accumulated in double in index order."""
    return F.sqrt(
        F.aggregate(
            vec,
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def dot_product(a: Column, b: Column) -> Column:
    """Dot product in double, sequential accumulation (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def cosine_similarity(a: Column, b: Column, norm_a: Column | None = None, norm_b: Column | None = None) -> Column:
    """Cosine similarity; pass precomputed norms to avoid recompute in joins."""
    na = norm_a if norm_a is not None else vec_norm(a)
    nb = norm_b if norm_b is not None else vec_norm(b)
    return dot_product(a, b) / (na * nb)


def round_half_up(col: Column, digits: int) -> Column:
    """Deterministic cross-engine rounding: floor(x*10^d + 0.5)/10^d.

    Engine-native round() disagrees between Spark and DuckDB when a
    double sits exactly on a decimal half-boundary (e.g. Spark
    round(0.43174999999999997, 4) = 0.4317, DuckDB = 0.4318). This
    formulation uses only IEEE multiply/add/floor/divide, which both
    engines execute identically — the oracles spell out the same
    expression (see sql_round in each operator module).
    """
    if isinstance(col, str):
        col = F.col(col)
    f = float(10**digits)
    return F.floor(col * f + F.lit(0.5)) / f


def sql_round(expr: str, digits: int) -> str:
    """DuckDB-side twin of round_half_up (textual SQL)."""
    f = float(10**digits)
    return f"floor(({expr}) * {f} + 0.5) / {f}"


#: Grain size for order-invariant money accumulation: every money sum
#: accumulates integer multiples of 10^-4 (a hundredth of a cent).
MONEY_GRAIN_DIGITS = 4


def money_grains(col: Column | str, digits: int = MONEY_GRAIN_DIGITS) -> Column:
    """Per-row exact integer grains (units of 10^-digits) as decimal(38,0).

    Float sums are order-sensitive: Spark's partial aggregation and
    DuckDB's single-threaded sum visit rows in different orders, and a
    1-ulp divergence flips round_half_up exactly on a half boundary
    (the rel_q9_product_profit round-3 driver failure: 2 of 175 groups
    off by one cent). The fix is to round each ROW to an integer grain
    first — ``floor(x*10^d + 0.5)`` runs on the same IEEE double in
    both engines, so every row contributes an identical integer — and
    sum the grains as decimal(38,0), which both Spark (java BigDecimal)
    and DuckDB (hugeint accumulator) sum exactly in any order. At 10^-4
    grain a decimal(38,0) total has ~10^34 headroom: no overflow at any
    conceivable corpus scale.
    """
    if isinstance(col, str):
        col = F.col(col)
    f = float(10**digits)
    return F.floor(col * f + F.lit(0.5)).cast("decimal(38,0)")


def money_sum(col: Column | str, out_digits: int = 2, digits: int = MONEY_GRAIN_DIGITS) -> Column:
    """Order-invariant money sum, rounded half-up to ``out_digits``."""
    f = float(10**digits)
    return round_half_up(F.sum(money_grains(col, digits)).cast("double") / f, out_digits)


def money_avg(col: Column | str, out_digits: int = 4, digits: int = MONEY_GRAIN_DIGITS) -> Column:
    """Order-invariant money average: exact grain sum / non-null count."""
    if isinstance(col, str):
        col = F.col(col)
    f = float(10**digits)
    return round_half_up(
        F.sum(money_grains(col, digits)).cast("double") / f / F.count(col), out_digits
    )


def sql_money_grains(expr: str, digits: int = MONEY_GRAIN_DIGITS) -> str:
    """DuckDB-side twin of money_grains (textual SQL)."""
    f = float(10**digits)
    return f"CAST(floor(({expr}) * {f} + 0.5) AS DECIMAL(38,0))"


def sql_money_sum(expr: str, out_digits: int = 2, digits: int = MONEY_GRAIN_DIGITS) -> str:
    """DuckDB-side twin of money_sum (textual SQL)."""
    f = float(10**digits)
    return sql_round(f"CAST(sum({sql_money_grains(expr, digits)}) AS DOUBLE) / {f}", out_digits)


def sql_money_avg(expr: str, out_digits: int = 4, digits: int = MONEY_GRAIN_DIGITS) -> str:
    """DuckDB-side twin of money_avg (textual SQL)."""
    f = float(10**digits)
    return sql_round(
        f"CAST(sum({sql_money_grains(expr, digits)}) AS DOUBLE) / {f} / count({expr})",
        out_digits,
    )


def hex_int(s: Column | str, digits: int, start: int | Column = 1) -> Column:
    """Value of ``digits`` hex characters of ``s`` from 1-based ``start``.

    Every pseudo-random value in the operators (sampling buckets, join
    salts, sketch hashes, SimHash bits, LSH planes) is an md5-hex
    prefix read this way, so the DuckDB oracle can reproduce it with
    ``sql_hex_int``. Returns conv's string; callers cast it. ``start``
    may be a Column: ``F.substring`` takes one where ``Column.substr``
    rejects a Column start with an int length.
    """
    return F.conv(F.substring(s, start, digits), 16, 10)


def sql_hex_int(expr: str, digits: int, start: int | str = 1) -> str:
    """DuckDB-side twin of hex_int (textual SQL).

    DuckDB has no conv(), so the value is expanded positionally: each
    digit's index in '0123456789abcdef', times its power of 16. A text
    ``start`` is a per-row SQL position.
    """
    terms = []
    for k in range(digits):
        pos = start + k if isinstance(start, int) else f"{start} + {k}" if k else start
        weight = f" * {16 ** (digits - 1 - k)}" if k < digits - 1 else ""
        terms.append(f"(strpos('0123456789abcdef', substr({expr}, {pos}, 1)) - 1){weight}")
    return "(" + " + ".join(terms) + ")"
