"""Expected results, computed outside every timed section, and the
comparisons that decide whether an op's output is correct.

- Query ops are compared with the op's ``oracle_sql()`` run in DuckDB
  over the same parquet tables: same row count, same column names and
  the same order-insensitive multiset of normalized values. The
  normalization is ``tools/check_correctness.py``'s own ``norm_rows``
  (floats compared at full precision by ``float.hex``).
- MapReduce ops are compared the way the reference's ``test-mr.sh``
  does it: all ``mr-out-*`` lines sorted together, blank lines dropped,
  against the sorted output of ``run_sequential``.

Oracle results depend only on the fixed testdata and the SQL text, so
they are cached on disk under a key of both.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import os
import pickle
import sys
from collections import Counter


def _norm_rows():
    """``tools/check_correctness.py``'s ``norm_rows``. That module puts
    its own checkout first on ``sys.path`` when imported; this one's is
    kept first."""
    path = list(sys.path)
    try:
        from tools.check_correctness import norm_rows
    finally:
        sys.path[:] = path
    return norm_rows


def compare_rows(cols, rows, exp_cols, exp_rows) -> str | None:
    """None if the result matches the expected one, else why not."""
    if len(rows) != len(exp_rows):
        return f"row count {len(rows)} != expected {len(exp_rows)}"
    if sorted(cols) != sorted(exp_cols):
        return f"columns {sorted(cols)} != expected {sorted(exp_cols)}"
    norm_rows = _norm_rows()
    try:
        got, want = norm_rows(cols, rows), norm_rows(exp_cols, exp_rows)
    except TypeError as e:
        return str(e)
    if got != want:
        extra = list((got - want).items())[:2]
        missing = list((want - got).items())[:2]
        return f"values differ: unexpected {extra}, missing {missing}"
    return None


def arrow_rows(table) -> tuple[list[str], list[tuple]]:
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return cols, list(zip(*data)) if cols else []


def _fingerprint(path: str) -> str:
    st = os.stat(path)
    return f"{path}:{st.st_mtime_ns}:{st.st_size}"


def oracle_results(sf_dir: str, names: list[str], cache_dir: str) -> dict[str, tuple]:
    """name -> (columns, rows) of each op's DuckDB oracle over ``sf_dir``."""
    import __spark_entry__
    from mit_map_reduce_spark.catalog import TABLES, table_path

    sqls = __spark_entry__.oracle_sql()
    tables = {t: table_path(sf_dir, t) for t in TABLES}
    data_key = "|".join(_fingerprint(p) for p in tables.values() if os.path.exists(p))
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name in names:
        if name not in sqls:
            raise KeyError(f"no oracle_sql() entry for {name}")
        key = hashlib.sha256(f"{data_key}\n{sqls[name]}".encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                out[name] = pickle.load(f)
            continue
        if con is None:
            import duckdb

            con = duckdb.connect()
            for t, p in tables.items():
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        res = con.execute(sqls[name])
        out[name] = ([d[0] for d in res.description], res.fetchall())
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(out[name], f)
        os.replace(tmp, path)
    if con is not None:
        con.close()
    return out


def mr_expected(app: str, inputs: list[str], cache_dir: str) -> list[str]:
    """Sorted ``"key value"`` lines of ``run_sequential`` over ``inputs``."""
    from mit_map_reduce_spark.mapreduce import apps, run_sequential, sequential

    h = hashlib.sha256(f"{app}\n{inspect.getsource(apps)}{inspect.getsource(sequential)}".encode())
    for p in inputs:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:24]
    path = os.path.join(cache_dir, f"mr-{app}-{key}.json")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            return json.load(f)
    map_fn, reduce_fn = getattr(apps, f"{app}_map"), getattr(apps, f"{app}_reduce")
    lines = sorted(f"{k} {v}" for k, v in run_sequential(map_fn, reduce_fn, inputs))
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(lines, f)
    os.replace(tmp, path)
    return lines


def mr_output_lines(out_dir: str) -> list[str]:
    lines = []
    for p in glob.glob(os.path.join(out_dir, "mr-out-*")):
        with open(p, encoding="utf-8") as f:
            lines.extend(line for line in f.read().split("\n") if line)
    return sorted(lines)


def compare_lines(lines: list[str], expected: list[str]) -> str | None:
    if lines == expected:
        return None
    got, want = Counter(lines), Counter(expected)
    extra = list((got - want).elements())[:2]
    missing = list((want - got).elements())[:2]
    return f"{len(lines)} lines vs {len(expected)} expected: unexpected {extra}, missing {missing}"
