"""Shared comparison helpers for differential tests."""

from __future__ import annotations

import math
import uuid
from collections import Counter
from datetime import date, datetime


def norm_cell(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v


def rows_multiset(cols, rows):
    """Order-insensitive multiset of rows, columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm_cell(r[i]) for i in order) for r in rows)


def assert_df_matches_oracle(sdf, duck_con, sql):
    srows = sdf.collect()
    res = duck_con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows), f"rowcount spark={len(srows)} duckdb={len(drows)}"
    assert sorted(sdf.columns) == sorted(dcols), f"columns {sdf.columns} vs {dcols}"
    sn, dn = rows_multiset(sdf.columns, srows), rows_multiset(dcols, drows)
    assert sn == dn, (
        f"value mismatch; spark-only={list((sn - dn).items())[:3]} "
        f"duckdb-only={list((dn - sn).items())[:3]}"
    )


def spark_jobs(spark, action) -> int:
    """Spark jobs ``action()`` submits, counted by a job-group delta."""
    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store on the listener-bus thread
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
