"""Local stand-in for the driver's DuckDB differential gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares row count, column
names, and an order-insensitive multiset of normalized values —
the same spirit as the reference's sort-then-cmp golden testing
(reference src/main/test-mr.sh:103).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import Counter
from datetime import date, datetime

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mit_map_reduce_spark.catalog import TABLES, table_path
from mit_map_reduce_spark.session import get_spark


def norm_cell(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Full precision — the grading driver hashes exact values, so a
        # post-rounding 1-ulp flip must fail HERE, not only officially.
        # (Round-3 lesson: rel_q9_product_profit passed this gate at
        # 6-significant-digit normalization and failed the driver.)
        return v.hex()
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, dict)):
        # The grading driver canonicalizes with pandas sort/hash, which
        # dies on list/dict cells — mirror that as a hard failure here
        # instead of masking it with a tuple conversion (round-1 lesson:
        # rel_array_funcs_embeddings passed locally, failed the driver).
        raise TypeError(
            f"driver-unhashable cell of type {type(v).__name__}: render arrays/maps "
            "as strings (see rel_map_funcs_priority_profile)"
        )
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main():
    args = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if vanilla:
        # Simulate the grading driver: a bare session with none of our
        # factory's configs (UTC, AQE, partition sizing, nanos flag...).
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[4]").appName("vanilla").getOrCreate()
    else:
        spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        status = []
        if len(srows) != len(drows):
            status.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            status.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not status:
            try:
                sn, dn = norm_rows(scols, srows), norm_rows(dcols, drows)
                if sn != dn:
                    diff_s = list((sn - dn).items())[:3]
                    diff_d = list((dn - sn).items())[:3]
                    status.append(f"values spark-only={diff_s} duckdb-only={diff_d}")
            except TypeError as e:
                status.append(str(e))
        dt = time.time() - t0
        if status:
            failures.append(name)
            print(f"FAIL {name} ({dt:.1f}s): " + "; ".join(status))
        else:
            # 0-row matches are vacuous — both engines agreeing on an
            # empty result proves nothing about the operator.
            warn = "  [WARN: 0 rows — vacuous match]" if not srows else ""
            print(f"PASS {name} ({dt:.1f}s, {len(srows)} rows){warn}")

    print(f"\n{len(failures)} failures" + (": " + ", ".join(failures) if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
