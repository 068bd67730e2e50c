"""The driver JVM's class-data-sharing archive (``mit_map_reduce_spark.cds``).

Every session here is a fresh subprocess whose ``XDG_CACHE_HOME`` is a
throwaway dir, so the archive it builds, finds or fails on is its own.
One archive is built per module (~40 s) by two sessions started at the
same time; the other tests read it, damage copies of it or run where
no archive can be used, and each checks that the session still runs a
job.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import pytest

from mit_map_reduce_spark import cds

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: argv: extra_conf as JSON, then Python run before the session starts
#: (the tests that need a failing build patch ``cds`` there).
SESSION = """
import json, sys, time
from mit_map_reduce_spark import cds
from mit_map_reduce_spark.session import get_spark
exec(sys.argv[2])
t = time.perf_counter()
spark = get_spark("cds_probe", extra_conf=json.loads(sys.argv[1]))
get_spark_s = time.perf_counter() - t
conf = spark.sparkContext.getConf()
print("RESULT " + json.dumps(dict(
    cds.STATUS,
    get_spark_s=get_spark_s,
    groups=spark.range(300).selectExpr("id % 3 AS k").groupBy("k").count().count(),
    java_opts=conf.get(cds.JAVA_OPTS, ""),
    probe=conf.get("spark.mmrs.cds_probe", None),
)))
"""


def _start(cache, cwd, extra=None, patch="", env=None):
    return subprocess.Popen(
        [sys.executable, "-c", SESSION, json.dumps(extra or {}), patch],
        cwd=cwd,  # where a crashing JVM would write its hs_err file
        env=dict(os.environ, PYTHONPATH=REPO, XDG_CACHE_HOME=str(cache), **(env or {})),
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
        start_new_session=True,
    )


def _result(proc, timeout=300):
    try:
        out = proc.communicate(timeout=timeout)[0]
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)  # the session, its JVM and any build child
        proc.communicate()
        raise
    lines = [ln for ln in out.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, out[-4000:]
    res = json.loads(lines[-1][len("RESULT ") :])
    assert res["groups"] == 3  # the session ran a job
    return res


def _session(cache, cwd, **kw):
    return _result(_start(cache, cwd, **kw))


def _archives(cache):
    root = os.path.join(cache, "mit_map_reduce_spark", "cds")
    return sorted(n for n in os.listdir(root) if n.endswith(".jsa"))


def _class_source(log_path, cls="org.apache.spark.SparkContext"):
    with open(log_path) as f:
        (line,) = [ln for ln in f if f" {cls} source: " in ln]
    return line.split(" source: ", 1)[1].strip()


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """Two sessions started at once on a cache that holds only files of
    older keys and a killed build's temp dump: (cache dir, the two
    results, those old files)."""
    cache = tmp_path_factory.mktemp("xdg")
    root = os.path.join(cache, "mit_map_reduce_spark", "cds")
    os.makedirs(root)
    old = ["0123456789abcdef-3.jsa", "fedcba9876543210.failed", "0123456789abcdef.jsa.tmp-1"]
    for name in old:
        with open(os.path.join(root, name), "w") as f:
            f.write("old")
    hour_ago = time.time() - 3600
    os.utime(os.path.join(root, old[-1]), (hour_ago, hour_ago))
    procs = [_start(cache, str(cache)) for _ in range(2)]
    return cache, [_result(p) for p in procs], old


def test_concurrent_first_sessions_build_one_archive_and_neither_waits(built):
    cache, results, old = built
    key = cds.archive_key()
    builder = [r for r in results if "build_s" in r]
    loser = [r for r in results if "build_s" not in r]
    assert len(builder) == 1 and builder[0]["driver_cds"] == key
    assert loser[0]["driver_cds"] == "build_in_progress"
    # the loser started at once, without the archive, instead of waiting
    assert "SharedArchiveFile" not in loser[0]["java_opts"]
    assert loser[0]["get_spark_s"] < builder[0]["build_s"]
    assert builder[0]["build_s"] < 120
    (jsa,) = _archives(cache)
    assert jsa.startswith(f"{key}-")
    root = os.path.join(cache, "mit_map_reduce_spark", "cds")
    # older keys' files and the stale dump are gone; no lock or temp
    # dump of this build is left behind
    assert sorted(os.listdir(root)) == ["conf", jsa]
    assert os.listdir(os.path.join(root, "conf")) == []
    assert not set(old) & set(os.listdir(root))


def test_next_session_loads_spark_classes_from_the_archive(built, tmp_path):
    cache, _, _ = built
    log = tmp_path / "class-load.log"
    # the caller's own extraJavaOptions are merged with the archive flags
    res = _session(
        cache, str(tmp_path), extra={cds.JAVA_OPTS: f"-Xlog:class+load=info:file={log}"}
    )
    assert res["driver_cds"] == cds.archive_key() and "build_s" not in res
    assert "-XX:SharedArchiveFile=" in res["java_opts"]
    assert _class_source(log) == "shared objects file (top)"


def test_conf_dir_with_a_real_file_keeps_it_in_force_without_the_archive(built, tmp_path):
    cache, _, _ = built
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.mmrs.cds_probe  from-defaults\n")
    res = _session(cache, str(tmp_path), env={"SPARK_CONF_DIR": str(conf)})
    assert res["driver_cds"] == "conf_dir_has_files"
    assert "SharedArchiveFile" not in res["java_opts"]
    assert res["probe"] == "from-defaults"


def _fresh_cache(tmp_path):
    root = tmp_path / "xdg" / "mit_map_reduce_spark" / "cds"
    root.mkdir(parents=True)
    return tmp_path / "xdg", root


def test_corrupt_archive_of_the_published_size_falls_back(tmp_path):
    cache, root = _fresh_cache(tmp_path)
    key = cds.archive_key()
    (root / f"{key}-65536.jsa").write_bytes(os.urandom(65536))
    log = tmp_path / "class-load.log"
    res = _session(cache, str(tmp_path), extra={cds.JAVA_OPTS: f"-Xlog:class+load=info:file={log}"})
    # the flag was passed; the JVM rejected the header and ran without it
    assert res["driver_cds"] == key
    assert _class_source(log).startswith("file:")


def test_truncated_archive_is_removed_before_a_jvm_maps_it(built, tmp_path):
    src_cache, _, _ = built
    cache, root = _fresh_cache(tmp_path)
    (jsa,) = _archives(src_cache)
    with open(os.path.join(src_cache, "mit_map_reduce_spark", "cds", jsa), "rb") as f:
        (root / jsa).write_bytes(f.read(8 << 20))
    res = _session(cache, str(tmp_path))
    assert res["driver_cds"] == "build_failed"
    assert _archives(cache) == []
    assert (root / f"{cds.archive_key()}.failed").exists()
    assert not list(tmp_path.glob("hs_err_pid*"))


def test_archive_of_another_classpath_falls_back(built, tmp_path):
    cache, _, _ = built
    # a copy of one of Spark's jars, put in front of the dumped classpath
    jars = os.path.join(cds._spark_home(), "jars")
    jar = tmp_path / "first-on-classpath.jar"
    with open(os.path.join(jars, min(os.listdir(jars))), "rb") as f:
        jar.write_bytes(f.read())
    log = tmp_path / "class-load.log"
    res = _session(
        cache,
        str(tmp_path),
        extra={
            "spark.driver.extraClassPath": str(jar),
            cds.JAVA_OPTS: f"-Xlog:class+load=info:file={log}",
        },
    )
    assert res["driver_cds"] == cds.archive_key()
    assert _class_source(log).startswith("file:")


FAILING_BUILD = (
    "cds._build_command = lambda out: [sys.executable, '-c', 'import sys; sys.exit(3)']"
)

#: A build child that starts a long-lived process of its own (as the real
#: child starts its JVM), records that process's pid and hangs.
HANGING_BUILD = '''
cds._BUILD_TIMEOUT_S = 3
child = """
import subprocess, sys, time
p = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(600)"])
open(sys.argv[1], "w").write(str(p.pid))
time.sleep(600)
"""
cds._build_command = lambda out: [sys.executable, "-c", child, {pid_file!r}]
'''


def _gone(pid):
    """Ended: no such process, or a zombie only waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except FileNotFoundError:
        return True


@pytest.mark.parametrize("case", ["fails", "times_out"])
def test_failed_build_leaves_a_marker_and_a_working_session(case, tmp_path, monkeypatch):
    cache, root = _fresh_cache(tmp_path)
    pid_file = tmp_path / "grandchild.pid"
    patch = FAILING_BUILD if case == "fails" else HANGING_BUILD.format(pid_file=str(pid_file))
    t0 = time.monotonic()
    res = _session(cache, str(tmp_path), patch=patch)
    assert res["driver_cds"] == "build_failed"
    assert "SharedArchiveFile" not in res["java_opts"]
    key = cds.archive_key()
    assert sorted(os.listdir(root)) == ["conf", f"{key}.failed"]
    if case == "times_out":
        assert time.monotonic() - t0 < 60
        assert (root / f"{key}.failed").read_bytes().endswith(b"build timed out")
        # the timeout ended the child's whole process group, not just the child
        assert _gone(int(pid_file.read_text()))
    # a later session does not pay for the build again
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    monkeypatch.setattr(cds, "STATUS", {})
    monkeypatch.setattr(cds, "_build_command", lambda out: pytest.fail("rebuilt"))
    assert cds.driver_options("-Dx=1") == ("-Dx=1", None)
    assert cds.STATUS == {"driver_cds": "build_failed"}


def test_unwritable_cache_starts_without_the_archive(tmp_path):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    res = _session(blocker, str(tmp_path))
    assert res["driver_cds"] == "unwritable_cache"
    assert "SharedArchiveFile" not in res["java_opts"]


def test_reused_session_does_no_cds_work(spark, monkeypatch):
    from mit_map_reduce_spark.session import get_spark

    monkeypatch.setattr(cds, "driver_options", lambda *a: pytest.fail("CDS work"))
    status = dict(cds.STATUS)
    assert get_spark("again") is spark
    assert cds.STATUS == status
