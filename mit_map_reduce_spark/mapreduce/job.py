"""Distributed MapReduce job runner on Spark.

Faithful to the reference semantics (see package docstring) while
letting Spark own the physical plan:

- whole-file scan  → ``spark.read.option("wholetext", ...)`` /
  ``sc.wholeTextFiles`` (reference ``src/mr/worker.go:243-254``);
- map UDTF         → ``rdd.flatMap`` (reference ``src/mr/worker.go:138``);
- hash shuffle     → ``groupByKey(numPartitions=n_reduce)``, the job's
  only shuffle: ``save_text_output`` writes a ``run_job`` frame's
  reduce partitions as they are, one ``mr-out-R`` per partition, as
  the reference's reduce task writes its own file
  (``src/mr/worker.go:195-219``). Buckets come from PySpark's
  ``portable_hash`` (the RDD default partitioner), not the
  reference's FNV-1a (``src/mr/worker.go:32-38``); bucket *assignment*
  differs but the grouping invariant — all values for a key meet
  exactly one reduce call — is identical, and the reference's own
  tests are bucket-layout-insensitive (``src/main/test-mr.sh:103``);
- reduce UDAF      → per-key call with the materialized value list;
- fault tolerance  → Spark task retry + lineage replaces the
  coordinator's 10 s-timeout re-queue (``src/mr/coordinator.go:15``).

This is the one module where the RDD API is the right tool: the user
functions are opaque Python closures over (string, string) records, the
exact shape the reference defines, so there is no relational structure
for Catalyst to exploit. All *native* operators live in
``mit_map_reduce_spark.operators`` and use DataFrames.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from mit_map_reduce_spark.sources.io import write_text_kv

MapFn = Callable[[str, str], Iterable[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), nullable=False),
        T.StructField("value", T.StringType(), nullable=True),
    ]
)


def run_job(
    spark: SparkSession,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    inputs: list[str],
    n_reduce: int = 10,
    *,
    use_basename: bool = True,
) -> DataFrame:
    """Run a MapReduce job; returns a DataFrame(key string, value string).

    ``inputs`` is a list of text file paths or globs — the analog of the
    coordinator's argv file list (reference
    ``src/main/mrcoordinator.go:21-26``). ``use_basename`` passes the
    bare filename to ``map_fn`` (what reference apps see when launched
    from the data directory, e.g. ``src/mrapps/indexer.go:27``).
    """
    sc = spark.sparkContext
    # One record per file: (path, whole contents). Spark splits the scan
    # across executors; at 100 TB each file is still one map record,
    # matching the reference's one-map-task-per-file plan
    # (src/mr/coordinator.go:242-253).
    # minPartitions: wholeTextFiles defaults to 2, which would cap map
    # parallelism at 2 tasks regardless of file count; ask for one task
    # per core (Spark still never splits a single file).
    files = sc.wholeTextFiles(",".join(inputs), minPartitions=sc.defaultParallelism)
    if use_basename:
        files = files.map(lambda fc: (os.path.basename(fc[0]), fc[1]))

    pairs = files.flatMap(lambda fc: map_fn(fc[0], fc[1]))
    # groupByKey = the reference's shuffle write + barrier + shuffle
    # read + sort-group (src/mr/worker.go:148-210) in one built-in op.
    # The materialized per-key list is the reference's reduce contract;
    # a combiner would change UDAF semantics for non-associative
    # reduce_fns, so none is injected (the reference also has none —
    # SURVEY §2c "Aggregations").
    reduced = files.context.emptyRDD() if n_reduce <= 0 else (
        pairs.groupByKey(numPartitions=n_reduce).map(
            lambda kv: (kv[0], reduce_fn(kv[0], list(kv[1])))
        )
    )
    df = spark.createDataFrame(reduced, schema=_OUT_SCHEMA)
    # createDataFrame keeps the RDD's partitions one to one, so
    # partition i of df is reduce bucket i; save_text_output reads this
    # record to skip a second shuffle. Any derived frame (filter,
    # select, ...) is a new object without it.
    df._mr_n_reduce = n_reduce
    return df


def save_text_output(df: DataFrame, out_dir: str, n_reduce: int = 10) -> None:
    """Write ``"key value"`` lines, one file per reduce partition,
    named ``mr-out-<R>`` like the reference's reduce tasks.

    Format parity with the reference sink (``src/mr/worker.go:214``:
    ``fmt.Fprintf(ofile, "%v %v\\n", ...)``) AND naming parity with its
    output files (``src/mr/worker.go:195-219``: ``oname := "mr-out-" +
    strconv.Itoa(reduceID)``, one file per reduce task, created even
    when the task received no keys). Spark's output committer provides
    the temp-file + atomic-rename publish the reference hand-rolls;
    the post-commit rename below goes through the Hadoop FileSystem
    API so it works on any cluster filesystem, not just local paths.

    A job is one shuffle: the frame ``run_job`` returned, saved with
    the ``n_reduce`` it ran with, is written as it is — its partition
    R already holds reduce bucket R, so the reduce tasks write their
    own ``mr-out-R``. Every other frame (one derived from it by
    ``filter``/``select``/..., or saved with another ``n_reduce``) is
    first hash-repartitioned on ``key`` into ``n_reduce`` partitions.
    With ``n_reduce <= 0`` the job has no reduce task: ``out_dir`` is
    left empty, with no ``mr-out-*`` file.

    Partition ASSIGNMENT parity (which key lands in which R) is
    intentionally out of scope: the reference hashes with FNV
    (``src/mr/worker.go:32-38``), a ``run_job`` frame's buckets come
    from PySpark's ``portable_hash`` and a repartitioned frame's from
    Spark SQL's Murmur3, and the reference's own harness sorts ALL
    output files together before comparing
    (``src/main/test-mr.sh:103``), so file membership is not part of
    the observable contract — see SURVEY §2a#3.
    """
    spark = df.sparkSession
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    root = hadoop_path(out_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if n_reduce <= 0:
        fs.delete(root, True)
        fs.mkdirs(root)
        return
    if getattr(df, "_mr_n_reduce", None) != n_reduce:
        df = df.repartition(n_reduce, "key")
    write_text_kv(df, out_dir)
    renamed = set()
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        m = re.match(r"part-(\d+)", name)
        if m:
            r = int(m.group(1))
            # Hadoop FileSystem.rename signals failure by returning false
            # (it only raises on IO-level errors); on cluster filesystems
            # rename=false is a real outcome, and silently skipping would
            # leave this partition's rows in a part-* file the mr-out-*
            # glob never sees.
            if not fs.rename(status.getPath(), hadoop_path(root, f"mr-out-{r}")):
                raise IOError(f"rename {name} -> mr-out-{r} failed in {out_dir}")
            renamed.add(r)
    # Spark emits no file for an empty partition; the reference's
    # reduce task creates mr-out-<R> regardless, so top up the gaps.
    for r in range(n_reduce):
        if r not in renamed:
            fs.create(hadoop_path(root, f"mr-out-{r}")).close()
