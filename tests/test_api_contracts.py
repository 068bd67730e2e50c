"""API-contract tests: the errors the engine promises to raise."""

import pytest
from pyspark.sql import Row

from mit_map_reduce_spark.catalog import BROADCAST_TABLES, TABLES, load_table
from mit_map_reduce_spark.sources import write_parquet


def test_unknown_table_raises(spark, sf_dir):
    with pytest.raises(KeyError, match="unknown table"):
        load_table(spark, sf_dir, "no_such_table")


def test_catalog_lists_all_driver_tables():
    assert set(TABLES) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert set(BROADCAST_TABLES) <= set(TABLES)


def test_bucketby_requires_table_name(spark, tmp_path):
    df = spark.createDataFrame([Row(k=1)])
    with pytest.raises(ValueError, match="table_name"):
        write_parquet(df, str(tmp_path / "x"), bucket_by=(4, ["k"]))


def test_events_ts_is_timestamp(spark, sf_dir):
    # the TIMESTAMP(NANOS) normalization must hold on any session
    from pyspark.sql import types as T

    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)


def test_priority_is_a_permutation_of_the_registry():
    # _PRIORITY drives the driver's bounded verification window: a
    # duplicate would waste a slot, a missing name would push a query
    # permanently behind the window. It must be exactly a permutation
    # of the registered query names.
    import __spark_entry__ as e

    pr = e._PRIORITY
    assert len(pr) == len(set(pr)), "duplicate _PRIORITY entries"
    assert set(pr) == set(e.queries()), "registry/_PRIORITY mismatch"


def test_bench_headline_names_are_registered():
    # A typo in bench.py's HEADLINE tuple would crash the driver's
    # per-round benchmark run; pin every name to the registry.
    import bench
    import __spark_entry__ as e

    missing = [n for n in bench.HEADLINE if n not in e.queries()]
    assert missing == [], missing


def test_rotate_priority_orders_red_then_stalest(tmp_path, monkeypatch, capsys):
    # tools/rotate_priority.py encodes the standing per-round rule:
    # red-latest-driver-row queries first, then stalest vintage first,
    # ties keeping their current relative order; --check reports
    # without rewriting.
    import importlib
    import json
    import os
    import subprocess
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    try:
        rotate_priority = importlib.import_module("rotate_priority")
    finally:
        sys.path.pop(0)

    ok = {"rows_match": True, "schema_match": True, "hash_match": True}
    red = {"rows_match": True, "schema_match": True, "hash_match": False}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_old_a": ok, "q_old_b": ok, "q_red": ok})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_new": ok, "q_red": red})
    )
    entry = tmp_path / "__spark_entry__.py"
    entry.write_text(
        "_PRIORITY = [\n"
        '    "q_new",\n'
        '    "q_old_a",\n'
        '    "q_red",\n'
        '    "q_old_b",\n'
        '    "q_never",\n'
        "]\n"
    )
    monkeypatch.setattr(rotate_priority, "REPO", str(tmp_path))
    monkeypatch.setattr(rotate_priority, "ENTRY", str(entry))
    monkeypatch.setattr(sys, "argv", ["rotate_priority.py", "--check"])
    assert rotate_priority.main() == 1  # rotation due, file untouched
    assert 'q_new",\n    "q_old_a' in entry.read_text()

    monkeypatch.setattr(sys, "argv", ["rotate_priority.py"])
    assert rotate_priority.main() == 0
    import re

    names = re.findall(r'"([^"]+)"', entry.read_text())
    # red first; never-verified next (maximally stale); then r1 rows in
    # their original relative order; the fresh r2 row last.
    assert names == ["q_red", "q_never", "q_old_a", "q_old_b", "q_new"]
    monkeypatch.setattr(sys, "argv", ["rotate_priority.py", "--check"])
    assert rotate_priority.main() == 0  # idempotent

    # --pin-file (r15 verdict #7): pinned touched queries sort ahead of
    # unpinned (after reds), stalest-first among themselves; unknown
    # names are an error so a typo can't silently drop a pin.
    pin = tmp_path / "touched.txt"
    pin.write_text("# this round's rewrites\nq_new\n")
    monkeypatch.setattr(
        sys, "argv", ["rotate_priority.py", "--pin-file", str(pin)]
    )
    assert rotate_priority.main() == 0
    names = re.findall(r'"([^"]+)"', entry.read_text())
    assert names == ["q_red", "q_new", "q_never", "q_old_a", "q_old_b"]
    pin.write_text("q_typo\n")
    assert rotate_priority.main() == 2
    # a missing value or an unreadable pin file is a usage error with a
    # nonzero exit, not a traceback
    capsys.readouterr()
    for args in (["--pin-file"], ["--pin-file", str(tmp_path / "absent.txt")]):
        monkeypatch.setattr(sys, "argv", ["rotate_priority.py", *args])
        assert rotate_priority.main() == 2
        assert "usage:" in capsys.readouterr().err


def test_plan_snapshot_diff_flags_only_scale_regressions():
    # tools/plan_snapshot.py diffs plan shapes across rounds: more
    # shuffles, fewer broadcasts, or wider scans flag; improvements and
    # unchanged entries stay silent.
    import importlib
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    try:
        ps = importlib.import_module("plan_snapshot")
    finally:
        sys.path.pop(0)

    base = {
        "q_same": {"shuffles": 2, "broadcast_joins": 1, "read_columns": ["a", "b"]},
        "q_worse": {"shuffles": 1, "broadcast_joins": 2, "read_columns": ["a"]},
        "q_better": {"shuffles": 3, "broadcast_joins": 0, "read_columns": ["a", "b", "c"]},
        "q_gone": {"shuffles": 1, "broadcast_joins": 0, "read_columns": []},
    }
    cur = {
        "q_same": {"shuffles": 2, "broadcast_joins": 1, "read_columns": ["b", "a"]},
        "q_worse": {"shuffles": 2, "broadcast_joins": 1, "read_columns": ["a", "a", "z"]},
        "q_better": {"shuffles": 1, "broadcast_joins": 2, "read_columns": ["a"]},
        "q_new": {"shuffles": 0, "broadcast_joins": 0, "read_columns": []},
    }
    notes = ps._diff(base, cur)
    text = "\n".join(notes)
    assert "q_worse: shuffles 1 -> 2" in text
    assert "q_worse: broadcast joins 2 -> 1" in text
    assert "read more columns" in text and "'z'" in text
    assert "q_gone: REMOVED" in text
    assert "q_new: NEW" in text
    assert "q_better" not in text and "q_same: " not in text


def test_no_tool_or_test_puts_an_absolute_path_on_sys_path():
    # A literal absolute path on sys.path makes a script import the
    # package of whatever tree sits there, so a gate run from another
    # checkout grades the wrong code. Derive the root from __file__.
    import ast
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bad = []
    for sub in ("tools", "tests"):
        for path in glob.glob(os.path.join(root, sub, "**", "*.py"), recursive=True):
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("insert", "append")
                    and ast.unparse(node.func.value) == "sys.path"
                    and any(
                        isinstance(a, ast.Constant)
                        and isinstance(a.value, str)
                        and os.path.isabs(a.value)
                        for a in node.args
                    )
                ):
                    bad.append(f"{os.path.relpath(path, root)}:{node.lineno}")
    assert bad == [], bad


def _package_nodes(*parts):
    """(relative path, ast node) for every node of every .py file under
    the package directory ``parts``."""
    import ast
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for path in sorted(glob.glob(os.path.join(root, *parts, "**", "*.py"), recursive=True)):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            yield os.path.relpath(path, root), node


def test_operators_publish_only_through_catalog():
    # The lock/rename commit of shared scratch artifacts lives in ONE
    # place, catalog.publish_once; an operator that takes a mkdir lock,
    # renames dirs or starts a toucher thread is growing a second copy.
    import ast

    bad = []
    for rel, node in _package_nodes("mit_map_reduce_spark", "operators"):
        if isinstance(node, ast.Attribute) and ast.unparse(node) in ("os.mkdir", "os.rename"):
            bad.append(f"{rel}:{node.lineno} {ast.unparse(node)}")
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            mods = [a.name for a in node.names] if isinstance(node, ast.Import) else [node.module]
            if "threading" in mods:
                bad.append(f"{rel}:{node.lineno} imports threading")
        elif isinstance(node, ast.Name) and node.id == "threading":
            bad.append(f"{rel}:{node.lineno} threading")
    assert bad == [], bad


def test_session_conf_is_set_only_in_catalog():
    # Session-global conf changes go through catalog.scoped_conf (which
    # restores the caller's values) or the one nanos-flag setter there.
    import ast

    bad = [
        f"{rel}:{node.lineno}"
        for rel, node in _package_nodes("mit_map_reduce_spark")
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "set"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
        and rel != "mit_map_reduce_spark/catalog.py"
    ]
    assert bad == [], bad


def test_lineage_is_truncated_only_in_catalog():
    # Where truncated lineage lives (block manager on local masters,
    # reliable checkpoint files elsewhere) is decided in one place,
    # catalog.truncate_lineage; a direct checkpoint call elsewhere
    # would bypass that choice on one kind of master.
    import ast

    bad = [
        f"{rel}:{node.lineno}"
        for rel, node in _package_nodes("mit_map_reduce_spark")
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("localCheckpoint", "checkpoint")
        and rel != "mit_map_reduce_spark/catalog.py"
    ]
    assert bad == [], bad


def test_md5_hex_is_read_only_through_the_columns_twin():
    # An md5-hex prefix read as an integer must match bit-for-bit in
    # Spark and in the DuckDB oracles, so the rule lives in one twin
    # pair, columns.hex_int / columns.sql_hex_int. A base-16 conv( or
    # a positional '0123456789abcdef' expansion elsewhere is a copy.
    import ast
    import re

    bad = []
    for rel, node in _package_nodes("mit_map_reduce_spark"):
        if rel == "mit_map_reduce_spark/functions/columns.py":
            continue
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if "0123456789abcdef" in node.value:
                bad.append(f"{rel}:{node.lineno} hex-digit literal")
            if re.search(r"\bconv\(.*?,\s*16\s*,", node.value, re.I | re.S):
                bad.append(f"{rel}:{node.lineno} SQL conv(..., 16, ...)")
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, (ast.Attribute, ast.Name))
            and getattr(node.func, "attr", getattr(node.func, "id", None)) == "conv"
            and any(isinstance(a, ast.Constant) and a.value == 16 for a in node.args[1:2])
        ):
            bad.append(f"{rel}:{node.lineno} conv(..., 16, ...)")
    assert bad == [], bad
