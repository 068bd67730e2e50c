"""The benchmark's workloads: which ops run, on which inputs, and why.

A workload is a fixed list of ops. A query op calls
``__spark_entry__.queries()[name](spark, sf_dir)`` and consumes the
frame with ``toArrow()``; a MapReduce op runs one reference app through
``mapreduce.run_job`` and ``save_text_output``. The seed permutes the
op order of every round and, for ``mr_facade``, generates the corpus.
The testdata tables are fixed inputs and never regenerated.
"""

from __future__ import annotations

import itertools
import os
import random
from dataclasses import dataclass


#: Testdata scale every query op reads.
SF = "sf0.1"


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "query" or "mapreduce"
    ops: tuple[str, ...]
    why: str
    # Unmeasured rounds before the measured ones: the cold JVM's JIT and
    # the session's shared-artifact builds fall in them.
    warmup_rounds: int = 1
    corpus_files: int = 0  # mapreduce: number of pg-*.txt files
    corpus_mb: float = 0.0  # mapreduce: size of each file


# Each run pays ~15 s of set-up and ~10-30 s of warm-up rounds on 4
# cores before at least three measured rounds, and a full benchmark
# pass, 4 + 22 x (workloads) runs, must end within 3420 s; so
# BENCHMARK.json lists two workloads, whose warm rounds take ~5-8 s.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch_driver_bound",
            "query",
            (
                "sim_embedding_random_projection",
                "sim_ann_bruteforce_topk",
                "stream_stream_join_attribution",
            ),
            "two sf0.1 queries (load_table calls, a literal-heavy plan, a shared-artifact build) "
            "and an sf0.1 stream-stream join drain: about half of a warm round runs no Spark job",
            warmup_rounds=2,  # its second round still runs ~20% slower than the later ones
        ),
        Workload(
            "batch_executor_bound",
            "query",
            (
                "dedup_simhash_band_pairs",
                "dedup_embedding_cosine_pairs_np",
                "text_bigram_logprob",
            ),
            "sf0.1 pair scans, shuffles, a shared-artifact build and numpy scoring in Python "
            "workers: executor tasks dominate",
        ),
        Workload(
            "stream_drain",
            "query",
            ("stream_stream_join_attribution",),
            "an sf0.1 stream-stream join drained in micro-batches: the batches are ~3/4 of the "
            "drain and state-store commits ~half of their task time",
        ),
        Workload(
            "mr_facade",
            "mapreduce",
            ("wc", "indexer"),
            "the paper's wc and indexer apps via run_job over a seeded 8 MB corpus: "
            "RDD shuffle and Python map/reduce dominate",
            corpus_files=8,
            corpus_mb=1.0,
        ),
    )
}

#: Workloads that BENCHMARK.json leaves out, and why. They run by name.
NOT_IN_BENCHMARK = {
    "batch_executor_bound": "its cold round alone takes ~26 s at sf0.1 on 4 cores; with "
    "it a benchmark pass's runs, each with a warm-up round, would not fit 3420 s",
    "stream_drain": "its drain runs in every batch_driver_bound round; as a third workload "
    "its runs (~15 s set-up, ~14 s warm-up) would not fit a benchmark pass's 3420 s",
}


def op_order(workload: Workload, seed: int, round_no: int) -> list[str]:
    """The seed's op order for one round (each round is permuted anew)."""
    ops = list(workload.ops)
    random.Random(f"{workload.name}:{seed}:{round_no}").shuffle(ops)
    return ops


# --- mr_facade corpus ---------------------------------------------------

_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_PUNCT = ("", "", "", "", ",", ".", ";", "!", "?", "'s", "--")


def write_corpus(out_dir: str, seed: int, files: int, mb_per_file: float) -> list[str]:
    """Write ``files`` seeded ``pg-<i>.txt`` files of about
    ``mb_per_file`` MB each: Zipf-distributed words from a seeded
    20k-letter-word vocabulary, with capitals, punctuation and digits
    that the apps' tokenizer must split away. Returns the paths."""
    rng = random.Random(f"corpus:{seed}")
    vocab: set[str] = set()
    while len(vocab) < 20000:
        vocab.add("".join(rng.choice(_LETTERS) for _ in range(rng.randint(1, 11))))
    words = sorted(vocab)
    rng.shuffle(words)
    cum = list(itertools.accumulate(1.0 / (r + 1) ** 1.07 for r in range(len(words))))
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(files):
        target = int(mb_per_file * 1_000_000)
        lines, size = [], 0
        while size < target:
            toks = rng.choices(words, cum_weights=cum, k=rng.randint(4, 16))
            if rng.random() < 0.3:
                toks[0] = toks[0].capitalize()
            if rng.random() < 0.05:
                toks.append(str(rng.randint(1, 1999)))
            line = " ".join(t + rng.choice(_PUNCT) for t in toks)
            lines.append(line)
            size += len(line) + 1
        path = os.path.join(out_dir, f"pg-{i}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths
