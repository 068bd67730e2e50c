"""Migrating from the reference MapReduce engine: word count.

The reference runs this as ``mrcoordinator pg-*.txt`` + N workers
loading ``wc.so`` (reference src/main/mrcoordinator.go, src/mrapps/wc.go).
Here the same two user functions — identical signatures — run through
``run_job``; Spark replaces the coordinator, workers, shuffle files,
heartbeats, and crash recovery.

    python examples/wordcount_mapreduce.py /path/to/texts/'*.txt'
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mit_map_reduce_spark.mapreduce import run_job, save_text_output
from mit_map_reduce_spark.mapreduce.apps import wc_map, wc_reduce
from mit_map_reduce_spark.session import get_spark


def _default_corpus(spark) -> str:
    """No-args demo corpus: 4 pg-*.txt files synthesized from the
    documents table (same trick bench.py uses for the facade workload)."""
    import shutil
    import tempfile
    import uuid

    d = os.path.join(tempfile.gettempdir(), "mmrs_example_corpus")
    expected = [os.path.join(d, f"pg-{i}.txt") for i in range(4)]
    # Regenerate unless all 4 files are present (a crash mid-write must
    # not leave a partial corpus that later runs silently reuse); write
    # to a unique temp dir and atomically rename into place so two
    # concurrent runs can't interleave.
    if not all(os.path.exists(p) for p in expected):
        tmp = tempfile.mkdtemp(prefix=f"mmrs_example_corpus_{uuid.uuid4().hex[:8]}_")
        texts = [
            r[0]
            for r in spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("text")
            .collect()
        ]
        for i in range(4):
            with open(os.path.join(tmp, f"pg-{i}.txt"), "w") as f:
                f.write("\n".join(texts[i::4]))
        shutil.rmtree(d, ignore_errors=True)
        try:
            os.rename(tmp, d)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost a benign race
    return os.path.join(d, "pg-*.txt")


def main() -> None:
    spark = get_spark("wordcount_example")
    inputs = sys.argv[1:] or [_default_corpus(spark)]

    # map/reduce contract identical to the reference:
    #   wc_map(filename, contents) -> [(word, "1"), ...]
    #   wc_reduce(word, values)    -> str(len(values))
    result = run_job(spark, wc_map, wc_reduce, inputs, n_reduce=10)

    # "key value" lines, one file per reduce partition — the mr-out-*
    # layout (reference src/mr/worker.go:214,219)
    out_dir = "/tmp/mr-out-wordcount"
    save_text_output(result, out_dir, n_reduce=10)
    # Read the top 10 back from the written files: another action on
    # ``result`` would run the whole MapReduce job again.
    lines = []
    for r in range(10):
        with open(os.path.join(out_dir, f"mr-out-{r}")) as f:
            lines.extend(f.read().splitlines())
    for line in sorted(lines, key=lambda line: line.split(" ", 1)[0])[:10]:
        print(line)


if __name__ == "__main__":
    main()
