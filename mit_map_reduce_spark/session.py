"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
config block is what we would ship to a 1000-executor cluster — the
local-only knobs are isolated and documented.

Scale notes (100 TB mindset):
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned shuffle counts.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces. Locally we pin it near core count so tiny SF data does not
  fragment into 200 near-empty tasks; on a cluster you would set it to
  ~2-3x total cores and let AQE trim.
- Arrow enabled so any Pandas-UDF slow path pays batch (not per-row)
  serialization.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB correctness oracle and are cluster-invariant.

Driver start: a new driver JVM maps a class-data-sharing archive of
Spark's classes (``cds.py``): ``get_spark`` ~6.4 -> ~2.9 s and the
first job ~3.5 -> ~1.7 s on 4 cores. The archive lives in
``$XDG_CACHE_HOME/mit_map_reduce_spark/cds/`` (``~/.cache`` when unset),
keyed on stat data of the JDK and of ``$SPARK_HOME/jars``; the first
session on a machine builds it (~43 s, ~180 MB, once). Delete that dir
to drop it. A session whose conf dir holds a real file, a call that
reuses the JVM this process already runs, and the grading driver's
vanilla session start without it; on a cluster only the driver JVM
gains.
"""

from __future__ import annotations

import os
import sys

from pyspark import SparkContext
from pyspark.sql import SparkSession

from mit_map_reduce_spark import cds


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "mit_map_reduce_spark",
    *,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``extra_conf`` entries are applied last (they win over the
    defaults) — session-creation-time knobs like event logging that a
    measurement harness needs; no effect on an already-created session
    (getOrCreate reuses), so callers that need them must be the first
    session in their process (the fresh-subprocess tools are).
    """
    # Python workers must be able to import this package (RDD closures
    # in the MapReduce facade pickle functions by reference), and so
    # must the Python daemon they fork from (pyworker_daemon, below):
    # --py-files archives join sys.path only inside each worker. The env
    # var covers every local[...] deployment, where workers fork on
    # this machine; a cluster-manager master gets the same path as
    # spark.executorEnv.PYTHONPATH below, so a multi-node cluster needs
    # the package installed on the executor images or on a shared path.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(":"):
        os.environ["PYTHONPATH"] = f"{repo_root}:{pp}" if pp else repo_root

    n = default_parallelism()
    # SPARK_GRAFT_MASTER points the whole engine (and its tools) at an
    # external cluster manager — e.g. spark://host:7077 from
    # tools/standalone_gate.py, which runs the correctness gate across
    # REAL separate worker processes. Explicit `master` args still win.
    env_master = os.environ.get("SPARK_GRAFT_MASTER")
    resolved_master = master or env_master or f"local[{n},4]"
    builder = (
        SparkSession.builder.appName(app_name)
        # local[n, 4]: 4 task attempts, mirroring a cluster's default
        # spark.task.maxFailures — the analog of the reference
        # coordinator's re-queue-on-timeout (src/mr/coordinator.go:160-181).
        .master(resolved_master)
        # --- cluster-portable configs ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so read as long and convert in the
        # catalog (lossless: the data is microsecond-precision).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # pyspark's own worker daemon, with each zip import archive's
        # directory re-read only when the archive changes instead of on
        # every task (~0.2 CPU-s per Python task; see pyworker_daemon).
        .config("spark.python.daemon.module", "mit_map_reduce_spark.pyworker_daemon")
        # --- local-mode-only knobs ---
        # Small-SF testdata files are single-digit MB, far below the
        # 128 MB production default for maxPartitionBytes — which would
        # read each table on ONE core. 2 MB restores scan parallelism
        # locally; at 100 TB files exceed 128 MB and the production
        # default (the invariant: scan partitions >= cores) is correct,
        # so a cluster deployment should drop this override
        # (``extra_conf`` wins over it).
        .config("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not resolved_master.startswith("local"):
        # Cluster-manager deployments: executor processes do NOT
        # inherit this driver's env, so ship the package path and the
        # interpreter explicitly; executor memory defaults to Spark's
        # 1g otherwise, far below what the wide aggregations size for.
        builder = (
            builder.config(
                "spark.executor.memory",
                os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "8g"),
            )
            .config("spark.executorEnv.PYTHONPATH", repo_root)
            .config("spark.pyspark.python", sys.executable)
        )
    extra = dict(extra_conf or {})
    conf_dir = None
    # Only a process with no driver JVM yet launches one; a later
    # session (even after stop()) reuses that JVM and its start flags.
    if SparkContext._gateway is None:
        opts, conf_dir = cds.driver_options(extra.get(cds.JAVA_OPTS))
        if opts:
            extra[cds.JAVA_OPTS] = opts
    elif not cds.STATUS:
        cds.STATUS["driver_cds"] = "reused_session"
    for k, v in extra.items():
        builder = builder.config(k, v)
    with cds.conf_dir_env(conf_dir):
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
