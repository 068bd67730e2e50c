"""Class-data-sharing (CDS) archive for the driver JVM.

A fresh driver JVM spends most of its ~6 s start, and half of its first
job, loading and verifying the same ~11k Spark classes. A JDK dynamic
CDS archive holds those classes pre-parsed (JVM class metadata only,
never data or results); a driver started with
``-XX:SharedArchiveFile=<jsa>`` maps it instead.

- **Where:** ``$XDG_CACHE_HOME`` (or ``~/.cache``) under
  ``mit_map_reduce_spark/cds/``: ``<key>-<bytes>.jsa``, plus the empty
  ``conf/`` dir both the build and every archive user run with as
  ``SPARK_CONF_DIR``. ``rm -r`` the dir to drop the archive; the next
  session rebuilds it.
- **Key:** stat data only, so the hot path starts no extra JVM: the
  resolved ``java`` binary's home and the size and mtime of its
  ``lib/modules``, the ``$SPARK_HOME/jars`` listing with sizes and
  mtimes, and ``RECIPE_REV``. Publishing a new key removes the files
  of older keys.
- **Build:** once per key, by the first session that finds no archive:
  a synchronous child (``python -m mit_map_reduce_spark.cds``) runs a
  short representative session under ``-XX:ArchiveClassesAtExit`` and
  the archive is renamed into place only after the dumping JVM has
  exited cleanly. ~43 s of wall time and ~180 MB (4 cores), paid once. A session
  that loses the ``mkdir`` lock starts at once without the archive; a
  build that fails or times out leaves ``<key>.failed`` so later
  sessions do not pay for it again.
- **Fallbacks:** the JVM checks the archive's header and classpath and
  runs without it (``-Xshare:auto``) when they do not match, so a stale
  or corrupt archive costs the gain, never the session. It does not
  check the length (a truncated archive kills the JVM with SIGBUS), so
  the file name carries the dumped size and a file of another size is
  removed before any JVM sees it.

Spark's launcher puts the conf dir on the driver classpath, and the JDK
neither dumps nor maps an archive with a non-empty directory there. So
CDS runs only when the effective conf dir holds nothing but
``*.template`` files (then the cache's empty ``conf/`` stands in for
it, for ``getOrCreate`` only); a real ``spark-defaults.conf`` or
``log4j2.properties`` stays in force and the session starts without
the archive.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

from mit_map_reduce_spark.catalog import _take_lock

#: Bump when the build's workload changes what the archive should hold.
RECIPE_REV = 1
#: Longest the build child may run, dump included (~40 s measured on
#: 4 cores); also well inside a benchmark session's start timeout.
_BUILD_TIMEOUT_S = 120.0
#: Longest the build child waits for its JVM to write the archive and exit.
_DUMP_WAIT_S = 60.0

JAVA_OPTS = "spark.driver.extraJavaOptions"
_DUMP_FLAG = "-XX:ArchiveClassesAtExit="

#: How the live driver JVM of this process started: ``driver_cds`` is the
#: archive key in use or why there is none (``conf_dir_has_files``,
#: ``build_in_progress``, ``build_failed``, ``unwritable_cache``,
#: ``reused_session``); ``build_s`` is set when this process built it.
STATUS: dict = {}


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "mit_map_reduce_spark", "cds")


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def _java_home() -> str:
    """The JDK that Spark's launcher runs: ``$JAVA_HOME`` or ``java`` on PATH."""
    jh = os.environ.get("JAVA_HOME")
    java = os.path.join(jh, "bin", "java") if jh else shutil.which("java")
    if not java:
        raise OSError("no java binary")
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def archive_key() -> str:
    h = hashlib.sha256(f"recipe {RECIPE_REV}\n".encode())
    home = _java_home()
    st = os.stat(os.path.join(home, "lib", "modules"))
    h.update(f"{home} {st.st_size} {st.st_mtime_ns}\n".encode())
    with os.scandir(os.path.join(_spark_home(), "jars")) as it:
        for e in sorted(it, key=lambda e: e.name):
            st = e.stat()
            h.update(f"{e.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _conf_dir_has_files() -> bool:
    """A conf dir on the driver classpath holds a real file. Spark's
    launcher also puts ``HADOOP_CONF_DIR`` / ``YARN_CONF_DIR`` there."""
    dirs = [os.environ.get("SPARK_CONF_DIR") or os.path.join(_spark_home(), "conf")]
    dirs += [os.environ[v] for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR") if os.environ.get(v)]
    for d in dirs:
        with contextlib.suppress(OSError):
            if any(not n.endswith(".template") for n in os.listdir(d)):
                return True
    return False


def driver_options(user_opts: str | None) -> tuple[str | None, str | None]:
    """``(extraJavaOptions, SPARK_CONF_DIR)`` for a new driver JVM.

    Builds the archive if this key has none yet. The archive flags come
    first in the merged options, so the caller's own flags win where
    they overlap. A caller that dumps an archive itself (the build
    child) gets its options back untouched and no conf-dir swap."""
    if user_opts and _DUMP_FLAG in user_opts:
        return user_opts, None
    STATUS.clear()
    if _conf_dir_has_files():
        STATUS["driver_cds"] = "conf_dir_has_files"
        return user_opts, None
    root = cache_dir()
    conf_dir = os.path.join(root, "conf")
    try:
        key = archive_key()
        os.makedirs(conf_dir, exist_ok=True)
        jsa = _published(root, key)
        reason = None if jsa else _build(root, key, conf_dir)
        jsa = jsa or _published(root, key)
    except OSError:
        reason = "unwritable_cache"
    if reason:
        STATUS["driver_cds"] = reason
        return user_opts, None
    STATUS["driver_cds"] = key
    flags = f"-XX:SharedArchiveFile={jsa} -Xlog:cds=off"
    return (f"{flags} {user_opts}" if user_opts else flags), conf_dir


@contextlib.contextmanager
def conf_dir_env(conf_dir: str | None):
    """Point ``SPARK_CONF_DIR`` at ``conf_dir`` for the block (the JVM
    launch), then restore the caller's value."""
    if conf_dir is None:
        yield
        return
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if old is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = old


def _published(root: str, key: str) -> str | None:
    """The archive of ``key`` if it is whole. It is published as
    ``<key>-<bytes>.jsa``: a file of another size was cut short or
    replaced after the dump, and a JVM that maps a truncated archive
    dies of SIGBUS, so it is removed and the key marked failed."""
    prefix = f"{key}-"
    for name in os.listdir(root):
        if name.startswith(prefix) and name.endswith(".jsa"):
            path = os.path.join(root, name)
            size = os.path.getsize(path)
            if str(size) == name[len(prefix) : -len(".jsa")]:
                return path
            with open(os.path.join(root, f"{key}.failed"), "w") as f:
                f.write(f"{name} is {size} bytes\n")
            os.remove(path)
    return None


def _build_command(out_path: str) -> list[str]:
    return [sys.executable, "-m", "mit_map_reduce_spark.cds", out_path]


def _build(root: str, key: str, conf_dir: str) -> str | None:
    """Build and publish the archive of ``key``; None on success, else
    why the session starts without it."""
    failed = os.path.join(root, f"{key}.failed")
    if os.path.exists(failed):
        return "build_failed"
    lock = os.path.join(root, f"{key}.lock")
    # The lock's own path as the "published" probe: nothing is ever
    # published there, so a lock older than catalog's TTL always expires.
    if not _take_lock(lock, lock):
        return "build_in_progress"
    tmp = os.path.join(root, f"{key}.jsa.tmp-{os.getpid()}")
    t0 = time.perf_counter()
    try:
        # Its own process group, so a timeout also ends the child's JVM.
        proc = subprocess.Popen(
            _build_command(tmp),
            env=dict(os.environ, SPARK_CONF_DIR=conf_dir),
            stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            log = proc.communicate(timeout=_BUILD_TIMEOUT_S)[0]
        except subprocess.TimeoutExpired:
            log = _end_group(proc) + b"\nbuild timed out"
        except BaseException:  # interrupted: the JVM must not dump later
            _end_group(proc)
            raise
        if proc.returncode == 0 and os.path.isfile(tmp):
            os.rename(tmp, os.path.join(root, f"{key}-{os.path.getsize(tmp)}.jsa"))
            STATUS["build_s"] = round(time.perf_counter() - t0, 2)
            _remove_stale(root, key)
            return None
        with open(failed, "wb") as f:
            f.write(log[-8192:])
        return "build_failed"
    finally:
        with contextlib.suppress(OSError):
            os.remove(tmp)
        with contextlib.suppress(OSError):
            os.rmdir(lock)


def _end_group(proc: subprocess.Popen) -> bytes:
    """SIGKILL the build child's process group (the child and its JVM),
    reap the child and wait (bounded) until no process of the group is
    left, so none still writes the temp archive when it is removed.
    Returns the child's output."""
    os.killpg(proc.pid, signal.SIGKILL)
    out = proc.communicate()[0]
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            break
        time.sleep(0.05)
    return out


def _remove_stale(root: str, key: str) -> None:
    """Remove older keys' files, and temp dumps older than a build can
    run (left by a build whose session was SIGKILLed)."""
    for name in os.listdir(root):
        path = os.path.join(root, name)
        with contextlib.suppress(OSError):
            if ".jsa.tmp-" in name:
                if time.time() - os.path.getmtime(path) > _BUILD_TIMEOUT_S:
                    os.remove(path)
            elif name.endswith((".jsa", ".failed")) and not name.startswith(key):
                os.remove(path)


def _exercise(spark, scratch: str) -> None:
    """A short session that loads the classes the engine's queries and
    the MapReduce facade load: a SQL shuffle, parquet and text I/O, a
    Python RDD stage, an Arrow collect and a stateful stream."""
    from operator import add

    from pyspark.sql import functions as F

    src = os.path.join(scratch, "src")
    df = spark.range(2000).select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    df.write.parquet(src)
    back = spark.read.parquet(src)
    back.groupBy("k").agg(F.sum("v"), F.countDistinct("v")).join(back, "k").count()
    pairs = spark.sparkContext.parallelize(range(2000), 2).map(lambda x: (str(x % 5), 1))
    out = spark.createDataFrame(pairs.reduceByKey(add, 2), "key string, value long")
    out.selectExpr("concat(key, ' ', value)").write.text(os.path.join(scratch, "txt"))
    back.toPandas()
    q = (
        spark.readStream.schema(back.schema)
        .parquet(src)
        .groupBy("k")
        .count()
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("cds_build")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _main(out_path: str) -> int:
    """Build child: run ``_exercise`` in a session whose JVM dumps its
    loaded classes to ``out_path`` on exit, and wait for that JVM."""
    from mit_map_reduce_spark.session import get_spark

    opts = f"{_DUMP_FLAG}{out_path} -Xlog:cds=off"
    spark = get_spark("mmrs_cds_build", master="local[2]", extra_conf={JAVA_OPTS: opts})
    proc = spark.sparkContext._gateway.proc
    with tempfile.TemporaryDirectory(prefix="mmrs_cds_") as scratch:
        _exercise(spark, scratch)
        spark.stop()
    # The gateway JVM exits on EOF of its stdin and dumps the archive then.
    proc.stdin.close()
    try:
        rc = proc.wait(timeout=_DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return 1
    return 0 if rc == 0 and os.path.isfile(out_path) else 1


if __name__ == "__main__":
    sys.exit(_main(sys.argv[1]))
