"""MapReduce facade parity tests.

Mirrors the reference's golden-output methodology: the distributed run
(run_job on Spark) must produce exactly the sequential executor's
output, sorted — the analog of ``sort mr-out* | cmp`` against
mrsequential's golden file (reference src/main/test-mr.sh:81-83,103).
"""

import os

import pytest
from pyspark.rdd import portable_hash
from pyspark.sql import functions as F

from mit_map_reduce_spark.mapreduce import run_job, run_sequential, save_text_output
from mit_map_reduce_spark.mapreduce.apps import (
    crashsafe_map,
    crashsafe_reduce,
    early_exit_map,
    early_exit_reduce,
    indexer_map,
    indexer_reduce,
    wc_map,
    wc_reduce,
)
from tests.util import spark_jobs

CORPUS = {
    "pg-alpha.txt": "The quick brown fox\njumps over the lazy dog.\nThe dog sleeps.",
    "pg-beta.txt": "Lorem ipsum dolor sit amet, consectetur adipiscing elit. Dolor!",
    "pg-gamma.txt": "fox and dog and fox and dog\nnumbers 123 and under_scores ignored",
    "pg-delta.txt": "",
    # Non-ASCII letters: the reference splits on unicode.IsLetter
    # (wc.go:21-24), so accented/Cyrillic/CJK runs are single tokens.
    "pg-epsilon.txt": "Füchse über den Zaun — Привет мир! 中文词 naïve café",
}


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    for name, text in CORPUS.items():
        (d / name).write_text(text)
    return str(d)


APPS = {
    "wc": (wc_map, wc_reduce),
    "indexer": (indexer_map, indexer_reduce),
    "crashsafe": (crashsafe_map, crashsafe_reduce),
    "early_exit": (early_exit_map, early_exit_reduce),
}


@pytest.mark.parametrize("app", sorted(APPS))
def test_distributed_matches_sequential(spark, corpus_dir, app):
    map_fn, reduce_fn = APPS[app]
    inputs = [os.path.join(corpus_dir, "pg-*.txt")]
    golden = sorted(run_sequential(map_fn, reduce_fn, inputs))
    got = sorted(
        (r["key"], r["value"])
        for r in run_job(spark, map_fn, reduce_fn, inputs, n_reduce=4).collect()
    )
    assert got == golden
    assert len(golden) > 0 or app == "never"


def test_wordcount_values(spark, corpus_dir):
    inputs = [os.path.join(corpus_dir, "pg-*.txt")]
    result = dict(
        (r["key"], r["value"])
        for r in run_job(spark, wc_map, wc_reduce, inputs, n_reduce=3).collect()
    )
    # case-sensitive, letters only (reference wc.go:21: unicode.IsLetter)
    assert result["The"] == "2"
    assert result["the"] == "1"
    assert result["fox"] == "3"
    assert result["and"] == "4"
    assert "123" not in result
    assert result["under"] == "1" and result["scores"] == "1"  # '_' splits
    # unicode.IsLetter semantics: non-ASCII letter runs are whole tokens
    assert result["Füchse"] == "1"
    assert result["Привет"] == "1"
    assert result["中文词"] == "1"
    assert result["naïve"] == "1" and result["café"] == "1"


def test_map_runs_exactly_once_per_input(spark, corpus_dir):
    # The reference's jobcount test: in the failure-free case each
    # input file's map function executes exactly once — no duplicate
    # scheduling (reference src/mrapps/jobcount.go, test-mr.sh:203-225).
    # Counted with an accumulator, the Spark analog of jobcount's
    # side-effect marker files.
    acc = spark.sparkContext.accumulator(0)

    def counting_map(filename: str, contents: str):
        acc.add(1)
        return wc_map(filename, contents)

    inputs = [os.path.join(corpus_dir, "pg-*.txt")]
    run_job(spark, counting_map, wc_reduce, inputs, n_reduce=3).collect()
    assert acc.value == len(CORPUS)


def test_job_chaining_via_text_sink(spark, corpus_dir, tmp_path):
    # Classic multi-job MapReduce pipeline: job 2 consumes job 1's
    # mr-out-* text files — the exact composition pattern reference
    # users run by pointing a second mrcoordinator at mr-out* files.
    out1 = str(tmp_path / "job1_out")
    wc = run_job(spark, wc_map, wc_reduce, [os.path.join(corpus_dir, "pg-*.txt")], n_reduce=3)
    save_text_output(wc, out1, n_reduce=3)

    def hist_map(filename: str, contents: str):
        # input lines are "word count"; emit (count, "1")
        return [(line.split()[1], "1") for line in contents.splitlines() if line.strip()]

    def hist_reduce(key: str, values: list[str]) -> str:
        return str(len(values))

    hist = dict(
        (r["key"], r["value"])
        for r in run_job(
            spark, hist_map, hist_reduce, [os.path.join(out1, "mr-out*")], n_reduce=2
        ).collect()
    )
    # independent truth: count words-per-frequency straight from job 1
    expected: dict[str, int] = {}
    for r in wc.collect():
        expected[r["value"]] = expected.get(r["value"], 0) + 1
    assert hist == {k: str(v) for k, v in expected.items()}


def test_indexer_doc_lists_sorted(spark, corpus_dir):
    inputs = [os.path.join(corpus_dir, "pg-*.txt")]
    result = dict(
        (r["key"], r["value"])
        for r in run_job(spark, indexer_map, indexer_reduce, inputs, n_reduce=3).collect()
    )
    assert result["fox"] == "2 pg-alpha.txt,pg-gamma.txt"
    assert result["dog"] == "2 pg-alpha.txt,pg-gamma.txt"


def test_text_sink_format(spark, corpus_dir, tmp_path):
    """Output format parity: 'key value' lines (worker.go:214)."""
    inputs = [os.path.join(corpus_dir, "pg-*.txt")]
    df = run_job(spark, wc_map, wc_reduce, inputs, n_reduce=2)
    out = tmp_path / "mr-out"
    save_text_output(df, str(out), n_reduce=2)
    lines = []
    for p in out.glob("mr-out-*"):
        lines.extend(p.read_text().splitlines())
    golden = run_sequential(wc_map, wc_reduce, inputs)
    assert sorted(lines) == sorted(f"{k} {v}" for k, v in golden)


def test_text_sink_file_naming_parity(spark, corpus_dir, tmp_path):
    """Naming parity: exactly one mr-out-<R> per reduce partition,
    R = 0..nReduce-1, present even when a partition got no keys
    (worker.go:195-219 creates the file unconditionally)."""
    inputs = [os.path.join(corpus_dir, "pg-*.txt")]
    # n_reduce far above the distinct-key count guarantees some empty
    # reduce partitions, so the top-up path is exercised.
    n_reduce = 64
    df = run_job(spark, wc_map, wc_reduce, inputs, n_reduce=n_reduce)
    out = tmp_path / "job_out"
    save_text_output(df, str(out), n_reduce=n_reduce)
    data_files = [p.name for p in out.iterdir() if not p.name.startswith(("_", "."))]
    assert sorted(data_files) == sorted(f"mr-out-{r}" for r in range(n_reduce))
    # Content is still the full job output after the renames.
    lines = []
    for p in out.glob("mr-out-*"):
        lines.extend(p.read_text().splitlines())
    golden = run_sequential(wc_map, wc_reduce, inputs)
    assert sorted(lines) == sorted(f"{k} {v}" for k, v in golden)


def test_saving_a_run_job_frame_is_one_spark_job(spark, corpus_dir, tmp_path):
    """A job is one shuffle, as in the reference: the reduce tasks write
    their own mr-out-R (worker.go:195-219), so saving the run_job frame
    runs the groupByKey shuffle and the write in ONE Spark job, with no
    second repartition of the reduced output."""
    inputs = [os.path.join(corpus_dir, "pg-*.txt")]
    df = run_job(spark, wc_map, wc_reduce, inputs, n_reduce=3)
    assert spark_jobs(spark, lambda: save_text_output(df, str(tmp_path / "out"), n_reduce=3)) == 1


@pytest.mark.parametrize("frame", ["filtered", "other_n_reduce"])
def test_frames_not_bucketed_by_run_job_are_repartitioned(spark, corpus_dir, tmp_path, frame):
    """Only the frame run_job returned, saved with its own n_reduce,
    skips the repartition; a derived frame or a different n_reduce
    still yields exactly mr-out-0..n-1 with the full job output."""
    inputs = [os.path.join(corpus_dir, "pg-*.txt")]
    n_reduce = 5
    if frame == "filtered":
        df = run_job(spark, wc_map, wc_reduce, inputs, n_reduce=n_reduce)
        df = df.filter(F.col("key") != "fox")
    else:
        df = run_job(spark, wc_map, wc_reduce, inputs, n_reduce=2)
    out = tmp_path / "job_out"
    save_text_output(df, str(out), n_reduce=n_reduce)
    data_files = [p.name for p in out.iterdir() if not p.name.startswith(("_", "."))]
    assert sorted(data_files) == sorted(f"mr-out-{r}" for r in range(n_reduce))
    lines = [line for p in out.glob("mr-out-*") for line in p.read_text().splitlines()]
    golden = run_sequential(wc_map, wc_reduce, inputs)
    if frame == "filtered":
        golden = [(k, v) for k, v in golden if k != "fox"]
    assert sorted(lines) == sorted(f"{k} {v}" for k, v in golden)


def test_run_job_output_files_hold_their_reduce_buckets(spark, corpus_dir, tmp_path):
    """Every key in a run_job frame's mr-out-R hashes to bucket R under
    groupByKey's partitioner, PySpark's portable_hash: the reduce
    partitions are written as they are, not re-hashed. The hash runs in
    a Spark task because executors may use another PYTHONHASHSEED than
    the driver."""
    inputs = [os.path.join(corpus_dir, "pg-*.txt")]
    n_reduce = 4
    out = tmp_path / "job_out"
    save_text_output(run_job(spark, wc_map, wc_reduce, inputs, n_reduce=n_reduce), str(out), n_reduce)
    placed = [
        (line.split(" ", 1)[0], r)
        for r in range(n_reduce)
        for line in (out / f"mr-out-{r}").read_text().splitlines()
    ]
    misplaced = (
        spark.sparkContext.parallelize(placed, 2)
        .filter(lambda kr: portable_hash(kr[0]) % n_reduce != kr[1])
        .collect()
    )
    assert len(placed) == len(run_sequential(wc_map, wc_reduce, inputs))
    assert misplaced == []


def test_zero_reduce_tasks_write_no_output_file(spark, corpus_dir, tmp_path):
    """n_reduce <= 0: run_job returns an empty frame, and saving it
    leaves the output dir empty of mr-out-* files (a stale one from an
    earlier run is overwritten away), as a job with no reduce task."""
    inputs = [os.path.join(corpus_dir, "pg-*.txt")]
    out = tmp_path / "job_out"
    out.mkdir()
    (out / "mr-out-0").write_text("stale 1\n")
    df = run_job(spark, wc_map, wc_reduce, inputs, n_reduce=0)
    save_text_output(df, str(out), n_reduce=0)
    assert out.is_dir()
    assert list(out.glob("mr-out-*")) == []


def test_early_exit_output_stable_under_stragglers(spark, corpus_dir, tmp_path):
    """The reference's early-exit contract (src/main/test-mr.sh:232-282):
    the moment the job is observed complete, ``sort mr-out*`` must equal
    the quiescent re-read — no worker may still be finalizing output
    after completion is signaled. Its plugin makes some reduce tasks
    sleep to bait exactly that race (src/mrapps/early_exit.go:29-33).

    Spark analog: reduce sleeps on a subset of keys (the stragglers);
    the instant ``save_text_output`` returns we snapshot every
    ``mr-out-*`` byte-for-byte, wait out any hypothetical in-flight
    writer, and assert the quiescent re-read is identical AND matches
    the sequential oracle.
    """
    import time

    def straggler_reduce(key: str, values: list[str]) -> str:
        # Same shape as early_exit.go:29-33: sleep on a named subset of
        # keys so some reduce tasks finish long after the others start.
        if "alpha" in key or "gamma" in key:
            time.sleep(2.0)
        return early_exit_reduce(key, values)

    inputs = [os.path.join(corpus_dir, "pg-*.txt")]
    out = str(tmp_path / "early_exit_out")
    df = run_job(spark, early_exit_map, straggler_reduce, inputs, n_reduce=4)
    save_text_output(df, out, n_reduce=4)

    def read_all() -> dict[str, str]:
        return {
            p.name: p.read_text()
            for p in (tmp_path / "early_exit_out").glob("mr-out-*")
        }

    initial = read_all()  # the moment the action returned
    time.sleep(3.0)  # longer than any straggler's sleep
    assert read_all() == initial, "output changed after completion was signaled"
    lines = sorted(
        line for body in initial.values() for line in body.splitlines()
    )
    golden = run_sequential(early_exit_map, straggler_reduce, inputs)
    assert lines == sorted(f"{k} {v}" for k, v in golden)


def test_udtf_wordcount_matches_native(spark, sf_dir):
    # The Python-UDTF surface and the Catalyst-native formulation must
    # produce identical counts (same tokenizer semantics).
    from mit_map_reduce_spark.operators.mr_queries import (
        mr_udtf_wordcount,
        mr_wordcount,
    )

    native = {(r.word, r.cnt) for r in mr_wordcount(spark, sf_dir).collect()}
    udtf = {(r.word, r.cnt) for r in mr_udtf_wordcount(spark, sf_dir).collect()}
    assert udtf == native
