"""The engine's Python-worker daemon (``mit_map_reduce_spark.pyworker_daemon``).

pyspark calls ``importlib.invalidate_caches()`` at the start of every task,
which makes each ``zipimporter`` re-read its archive's directory. Workers of
``get_spark`` sessions fork from a daemon that re-reads an archive only when
its ``(st_mtime_ns, st_size)`` changed. These tests pin that tasks run under
that guard, that it skips unchanged archives and re-reads rewritten ones, and
that ``addPyFile`` (the reason pyspark invalidates the caches) still works.
"""

from __future__ import annotations

import importlib
import os
import zipfile
import zipimport

import pandas as pd

from mit_map_reduce_spark import pyworker_daemon

GUARD = (
    os.path.realpath(pyworker_daemon.__file__),
    pyworker_daemon.invalidate_if_changed.__name__,
)


def test_rdd_and_arrow_tasks_run_under_the_guard(spark):
    def installed_invalidate():
        # The daemon runs as __main__ under `python -m`, so identify the
        # guard by its code, not by a module name in sys.modules.
        import os
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        return os.path.realpath(f.__code__.co_filename), f.__name__

    def rdd_probe(_):
        yield installed_invalidate()

    rdd_seen = spark.sparkContext.parallelize([0], 1).mapPartitions(rdd_probe).collect()
    assert rdd_seen == [GUARD]

    def pandas_probe(batches):
        for _ in batches:
            path, name = installed_invalidate()
            yield pd.DataFrame({"path": [path], "name": [name]})

    rows = spark.range(1, numPartitions=1).mapInPandas(pandas_probe, "path string, name string")
    assert [tuple(r) for r in rows.collect()] == [GUARD]


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_guard_rereads_an_archive_only_after_it_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"mmrs_zg_pkg/__init__.py": "", "mmrs_zg_pkg/a.py": "A = 1\n"})
    monkeypatch.setattr(pyworker_daemon, "_stamps", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker_daemon.invalidate_if_changed
    )
    monkeypatch.syspath_prepend(archive)
    # Two importers over one archive, as pyspark.zip has one per subpackage.
    assert importlib.import_module("mmrs_zg_pkg.a").A == 1
    importlib.invalidate_caches()  # first guarded call: reads, records the stat

    real_read = zipimport._read_directory
    reads: list[str] = []

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(
        archive,
        {"mmrs_zg_pkg/__init__.py": "", "mmrs_zg_pkg/a.py": "A = 1\n", "mmrs_zg_pkg/b.py": "B = 2\n"},
    )
    importlib.invalidate_caches()
    assert reads == [archive]  # once, shared by both importers of the archive
    assert importlib.import_module("mmrs_zg_pkg.b").B == 2


def test_add_py_file_module_imports_inside_a_task(spark, tmp_path):
    archive = tmp_path / "mmrs_shipped.zip"
    _write_zip(archive, {"mmrs_shipped_mod.py": "VALUE = 42\n"})
    sc = spark.sparkContext
    sc.addPyFile(str(archive))

    def use(_):
        import mmrs_shipped_mod

        yield mmrs_shipped_mod.VALUE

    assert sc.parallelize([0], 1).mapPartitions(use).collect() == [42]
