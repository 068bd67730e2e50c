"""Empirical scaling curve for the 100 TB-path operators (round-12
verdict order #3): banded-LSH dedup, IVF ANN, and the CC-fixpoint
build, measured at 1x / 3x / 10x the sf0.1 corpus.

The scale story for these paths was previously argued from plan shape
only (equi-joins on (band, bucket), no self-joins, bounded collects);
this tool converts it into data. A k-x corpus is synthesized from
sf0.1 by duplicate+perturb:

- documents: copy c of each doc gets doc_id strided by c*(max(doc_id)+1) and every token
  salted with a per-copy LETTER suffix (the letter tokenizer drops
  digits), so the ORIGINAL near-dup structure is preserved exactly
  within each copy while copies share no shingles — pair counts and
  candidate volumes grow ~k, not ~k^2 (a naive duplicate would make
  every doc a 10-way exact dup and quadratically inflate the OUTPUT,
  measuring the workload, not the algorithm).
- embeddings: copy c applies a per-copy random ROTATION (QR of a
  seeded gaussian) — orthogonal, so intra-copy cosine structure is
  exact while cross-copy cosines drop to ~N(0, 1/64); vec_id strided
  by c*(max(vec_id)+1). (A per-copy dimension PERMUTATION was tried first and
  FAILED to decorrelate: the corpus has dim-exchangeable structure a
  permutation preserves, and cross-copy pairs exploded the x10 output
  103x — measured, which is exactly the class of synthesis error this
  tool must not bake into the curve.)
- the eight other tables are symlinked unchanged; copy 0 is identity,
  so the 1x dir is the original corpus byte-for-byte.

Each scale runs in a FRESH subprocess session (cold JVM + cold shared
artifacts); per query we record the first run (includes the
once-per-session artifact build, split out via catalog build events),
a warm median, and output rows. Quadratic audit-scale baselines
(dedup_embedding_cosine_pairs etc.) are deliberately NOT measured
here — they are labeled baselines, not the 100 TB path.

Committed numbers (this machine, local[32], quiet, 2026-08-15 r12;
fresh subprocess session per scale, warm = median of 3 post-build runs,
build = catalog build-event seconds):

| query (registered tuning)  | metric     |    1x |    3x |   10x | 10x/1x |
|----------------------------|------------|-------|-------|-------|--------|
| dedup_minhash_lsh_pairs    | warm sec   | 1.09  | 1.39  | 3.73  |  3.4x  |
|                            | shingles s | 0.60  | 0.64  | 0.63  |  1.1x  |
|                            | rows       |  256  |  767  |  2559 | 10.0x  |
| dedup_embedding_lsh_pairs  | warm sec   | 1.67  | 4.47  | 22.34 | 13.4x  |
|  (r12: FIXED rows=4/bands=4)| band-keys s| 1.01 | 0.93  | 1.04  |  1.0x  |
|                            | rows       | 1991  | 18324 |205252 |103.1x  |
| dedup_embedding_lsh_pairs  | warm sec   | 1.93  |   —   | 10.95 |  5.7x  |
|  (r13: DERIVED tuning —    | band-keys s| 1.11  |   —   | 6.36  |        |
|   r4b4 at x1, r7b13 at x10,| rows       | 1991  |   —   |166401 | 83.6x  |
|   no flags; zero spill)    |            |       |       |       |        |
| sim_ann_ivf_topk           | warm sec   | 1.45  | 1.58  | 1.93  |  1.3x  |
|                            | rows       |  100  |   300 |  1000 | 10.0x  |
| dedup_cluster_size_report  | warm sec   | 1.27  | 1.23  | 1.59  |  1.3x  |
|                            | CC build s | 4.35  | 6.25  | 10.45 |  2.4x  |

VERDICT per path:
- MinHash-LSH, IVF ANN, CC fixpoint: near-linear-or-better. Output
  rows scale exactly 10.0x; wall-clock grows 1.3-3.4x at 10x data
  (fixed per-session overhead dominates at this absolute scale); the
  CC fixpoint BUILD — the expensive artifact — grows 2.4x at 10x.
- Embedding-LSH at the registered thr=0.35: the 13.4x warm growth is
  OUTPUT-DRIVEN, not algorithm waste. Ground truth (--ground-truth,
  exact NumPy gram): intra-copy true pairs are exactly linear
  (4137/12411/41370) while cross-copy pairs explode
  (0/25361/383549 = 103x total) because thr 0.35 sits INSIDE the
  random-cosine tail of 64-dim unit vectors (P[cos>=0.35] ~ 0.21%,
  and 0.21% x C(n,2) reproduces the totals at every scale; even the
  x1 output is ~all random-tail pairs). A correct algorithm's output
  is Theta(n^2) at this threshold — the workload is quadratic, the
  runtime grew SLOWER than the output (13.4x vs 103x). At a
  workload-relevant threshold the output is sparse and the knob that
  matters is bucket occupancy, demonstrated below.
- r13 closure: the derived tuning (dedup.emb_lsh_params) makes the
  occupancy law the DEFAULT — the x1/x10 re-run above used no flags,
  auto-selected r4b4/r7b13 (visible in the build labels), warmed 2x
  faster than the fixed constants at x10 with zero spill
  (spill_audit r13 row). x10 output is 166401 vs the fixed tuning's
  205252 rows (81%): bands compensation holds recall at the s*=0.7
  design point, while thr 0.35 sits at effective s=0.614 in the
  random tail — the documented recall<1 trade of any banded LSH; the
  exact quadratic baseline remains registered for audits.
  x30 (n=60000, auto r9b27): warm 53.3/3.07 = 17.4x the same-session
  x1 for 30x data on a Theta(n^1.5)-candidate workload (116 M
  pre-distinct pairs), rows 1252950 — identical across the
  conf-width, join-widened, and width-scaled-distinct plans; the
  distinct's 18.6 GB spill at conf width is ZERO under
  dedup.emb_lsh_pair_width (see spill_audit FINDINGS for the
  per-stage numbers and the per-task memory law).
- Bucket-tuning knob (the dedup.py docstring's raise-rows-at-scale
  plan), measured via --emb-scaled: x10 with rows=7 (occupancy
  20000/2^7 = 156 ~ x1's 2000/2^4 = 125) runs 3.55 s warm vs 22.34 s
  at fixed rows=4 (6.3x) and 2.16 s for x1 measured back-to-back —
  1.65x wall-clock for 10x corpus once occupancy is held. Recall for
  low-agreement random pairs drops (s^7 vs s^4, output 60309), the
  documented bands-compensation trade, then MEASURED: rows=7/bands=13
  at x10 (the formula's compensation for this threshold) emits 166401
  pairs — recall 39% of the 424919 ground-truth pairs vs 48% at fixed
  rows=4/bands=4 and 14% uncompensated — in 8.58 s warm, still 2.6x
  faster than fixed tuning, with the signature build at 5.0 s vs
  1.0 s (91 vs 16 hyperplane folds): occupancy-bounded rows plus
  bands compensation restores recall at a log-factor signature cost —
  the honest banded-LSH scaling law, now as data.

x30 VALIDATION (2026-08-16, measurably slower box than the tables
above — same-subprocess-session RATIOS only, absolute seconds not
comparable): extending to 150k docs / 60k vectors, MinHash-LSH output
stays exactly linear (7678 pairs = 30.0x of the x1 256) at warm
6.84x for 30x data, and IVF rows exactly 30x at warm 2.37x — the
near-linear claims hold for another half-decade of scale. This run
also caught a real synthesis bug: the original per-copy salt walked
past 'z' at copy 26+ into tokenizer-dropped punctuation, collapsing
copies 26-29 onto one salt and inflating the x30 pair count 5x
(40750) — fixed to base-26 (_salt), cached corpora invalidated via
the synth-version fingerprint tag; k <= 26 salts (all committed tables) are
byte-identical under both implementations.

GRAPH paths (--graph; k disjoint copies of the sf0.1 trade graph via
per-copy key-offset strides — nodes/edges/components scale exactly
k-fold, density unchanged; same machine/protocol, 2026-08-16 r12):

| query (graph mode)        | metric      |    1x |    3x |   10x | 10x/1x |
|---------------------------|-------------|-------|-------|-------|--------|
| graph_supplier_projection | warm sec    | 1.27  | 1.71  | 2.41  |  1.9x  |
|                           | rows        |490748 |1472244|4907480| 10.0x  |
| graph_triangle_count      | warm sec    | 0.68  | 0.70  | 0.62  |  0.9x  |
|                           | rows        |   21  |    63 |   210 | 10.0x  |
| graph_pagerank_trade      | warm sec    | 0.20  | 0.20  | 0.24  |  1.2x  |
|                           | ranks build | 6.93  | 8.18  | 14.07 |  2.0x  |
|                           | rows        | 15999 | 47997 |159990 | 10.0x  |

Graph verdict: the hub-cap + bounded-collect_set projection (no
self-join) grows 1.9x wall at 10x data with output exactly 10.0x; the
PageRank ITERATIVE FIXPOINT build — the expensive artifact, which also
materializes trade_edges inside it — grows 2.0x at 10x edges; triangle
count rides the cached kNN edges flat. No super-linear graph path.
x30 validation (ratios-only, slower box, same session): projection
rows 14.72M = exactly 30.0x at warm 4.0x; PageRank rows 30.0x with
the fixpoint build 3.43x at 30x edges; triangle 30x rows flat — the
linearity holds for another half-decade of scale.
r14 re-measure at 1x/10x/30x after the width/AQE-scope changes (same
machine, 2026-08-16): warm ratios hold or improve (pagerank
0.75/0.77x — rides the cached ranks; triangle 0.86/1.14x on the
lineitem-derived kNN width; projection 1.35/2.75x for 10/30x rows);
the pagerank fixpoint build measures 10.1/21.9/61.5 s (2.2x at 10x,
6.1x at 30x edges) with ZERO spill at every scale (was 4.0 GB at x30
before the derived width + scoped coalescing-off). Coalescing-off
A/B at x30, fresh subprocess per arm: build-dominated cold 80.1 s
(off, registered) vs 80.9 s (on, pre-r14) — the scope change is
wall-NEUTRAL locally and removes the ~3.4 GB fixpoint-family spill
(spill_audit r14 rows), i.e. bounded per-task memory for free.

TEXT paths (MMRS_TARGETS override over the same document corpora,
x1 vs x10, same protocol): BPE trainer build 5.69 -> 5.91 s (1.04x —
pair-vocabulary-bound, not corpus-bound); text_bigram_logprob warm
1.57 -> 8.44 s (5.4x for 10x rows, output exactly 10x);
text_training_mix warm 0.68 -> 1.03 s (1.5x). Linear or better.

Usage:
    python tools/scaling_curve.py                       # scales 1,3,10
    python tools/scaling_curve.py --graph               # graph paths
    python tools/scaling_curve.py --scales 1,10
    python tools/scaling_curve.py --ground-truth        # NumPy oracle
    python tools/scaling_curve.py --emb-scaled 10 7 4 0.35
    python tools/scaling_curve.py --worker <dir>        # internal
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_SF = "/root/testdata/sf0.1"
CORPUS_BASE = "/tmp/mmrs_scale_corpus"


def _base_sizes() -> tuple[int, int, int]:
    """(n_docs, n_vecs, dim) read from the base corpus — testdata has
    been regenerated between rounds before; never hardcode its shape."""
    import pyarrow.parquet as pq

    n_docs = pq.ParquetFile(os.path.join(BASE_SF, "documents.parquet")).metadata.num_rows
    pf = pq.ParquetFile(os.path.join(BASE_SF, "embeddings.parquet"))
    n_vecs = pf.metadata.num_rows
    dim = len(next(pf.iter_batches(batch_size=1))["embedding"][0])
    return n_docs, n_vecs, dim


N_DOCS, N_VECS, DIM = _base_sizes()  # 5000, 2000, 64 at r12
TARGETS = [
    "dedup_minhash_lsh_pairs",
    "dedup_embedding_lsh_pairs",
    "sim_ann_ivf_topk",
    "dedup_cluster_size_report",
]
#: --graph mode: the trade/co-purchase graph paths whose 100 TB story
#: (hub-cap + bounded collect_set, no self-join; iterative fixpoint)
#: was previously argued from plan shape only. The k-x corpus is k
#: DISJOINT copies of the sf0.1 graph: every key domain (orderkey,
#: custkey, suppkey) gets a per-copy offset stride, so nodes, edges,
#: and components all scale exactly k-fold with density unchanged.
GRAPH_TARGETS = [
    "graph_supplier_projection",
    "graph_triangle_count",
    "graph_pagerank_trade",
]
WARM_RUNS = 3


def _salt(c: int) -> str:
    """Letter-ONLY per-copy token suffix — base-26, so it stays letters
    for ANY copy index. The original ``chr(ord('a') + c)`` walked past
    'z' at c >= 26 into punctuation that the letter tokenizer DROPS,
    silently collapsing copies 26+ onto the same salt and making them
    mutual near-duplicates (measured: an x30 curve emitted 40750
    MinHash pairs where ~30x of the x1 256 was expected — synthesis
    artifact, not algorithm growth). For c < 26 the output is
    identical to the original, so the committed 1x/3x/10x tables are
    unaffected."""
    s = ""
    n = c
    while True:
        s = chr(ord("a") + n % 26) + s
        n //= 26
        if n == 0:
            break
    return "q" + s


def _base_fingerprint() -> str:
    """Identity of the base corpus the cache was built from — testdata
    regenerates between rounds, and a stale cached corpus would mix old
    documents/embeddings with NEW symlinked tables (and stale id
    offsets vs the freshly derived N_DOCS/N_VECS)."""
    # synthv3: v2 was the base-26 _salt fix; v3 derives per-copy id
    # offsets from max(id)+1 instead of row counts (collision-proof
    # under sparse/offset ids, like the graph path's stride()). Bumps
    # invalidate cached corpora so no run mixes recipes.
    parts = [f"synthv3|{N_DOCS}:{N_VECS}:{DIM}"]
    for t in ("documents", "embeddings"):
        st = os.stat(os.path.join(BASE_SF, f"{t}.parquet"))
        parts.append(f"{t}:{st.st_size}:{int(st.st_mtime)}")
    return "|".join(parts)


def publish_corpus(root: str, name: str, fp: str, build) -> str:
    """Publish a synthesized corpus dir through ``catalog.publish_once``
    (lock, temp dir + marker, atomic rename) and return its path.
    ``build(d)`` fills the existing dir ``d``. The fingerprint ``fp``
    is part of the dir key, so a new recipe or base corpus publishes a
    new dir and a published one is never rewritten under its readers."""
    from mit_map_reduce_spark.catalog import publish_once

    def write(d: str) -> None:
        os.makedirs(d)
        build(d)

    tag = hashlib.md5(fp.encode()).hexdigest()[:12]
    return publish_once(write, os.path.join(root, name, tag))


def build_corpus(k: int) -> str:
    """Synthesize the k-x corpus dir (cached against the base corpus
    fingerprint); returns its path."""
    return publish_corpus(
        CORPUS_BASE, f"x{k}", _base_fingerprint(), lambda d: _build_corpus_into(d, k)
    )


def _build_corpus_into(out: str, k: int) -> None:
    for t in (
        "region nation customer supplier part orders lineitem events".split()
    ):
        os.symlink(os.path.join(BASE_SF, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))

    import duckdb

    con = duckdb.connect()
    # per-copy id stride = max(id)+1 read from the DATA, like the graph
    # path's stride(): a row-count offset silently collides if testdata
    # ever regenerates with sparse/offset ids (the module premise is
    # that it does regenerate)
    doc_stride = con.execute(
        f"SELECT max(doc_id) + 1 FROM '{BASE_SF}/documents.parquet'"
    ).fetchone()[0]
    # documents: per-copy doc_id offset + letter-salted tokens (copy 0
    # identity). n_chars recomputed so the column stays truthful.
    parts = []
    for c in range(k):
        if c == 0:
            parts.append(
                f"SELECT doc_id, text, lang, source, n_chars "
                f"FROM '{BASE_SF}/documents.parquet'"
            )
        else:
            parts.append(
                f"SELECT doc_id + {c * doc_stride} AS doc_id, "
                f"regexp_replace(text, '([a-zA-Z]+)', '\\1{_salt(c)}', 'g') AS text, "
                f"lang, source, "
                f"length(regexp_replace(text, '([a-zA-Z]+)', '\\1{_salt(c)}', 'g')) AS n_chars "
                f"FROM '{BASE_SF}/documents.parquet'"
            )
    con.execute(
        f"COPY ({' UNION ALL '.join(parts)}) TO '{out}/documents.parquet' (FORMAT parquet)"
    )
    con.close()

    # embeddings: per-copy random ROTATION (orthogonal — exact
    # intra-copy cosines, cross-copy ~N(0, 1/dim); a dimension
    # permutation was measured NOT to decorrelate, see module
    # docstring), via pyarrow to keep the list<float32> physical type.
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(BASE_SF, "embeddings.parquet"))
    vec_id = tbl["vec_id"].to_numpy()
    vec_stride = int(vec_id.max()) + 1  # same collision-proofing as doc_stride
    label = tbl["label"].to_numpy()
    mat = np.asarray(tbl["embedding"].to_pylist(), dtype=np.float32)
    ids, labels, mats = [], [], []
    for c in range(k):
        if c == 0:
            rot = mat
        else:
            q, _ = np.linalg.qr(np.random.RandomState(c).standard_normal((DIM, DIM)))
            rot = (mat @ q.T.astype(np.float32)).astype(np.float32)
        ids.append(vec_id + c * vec_stride)
        labels.append(label)
        mats.append(rot)
    allmat = np.concatenate(mats)
    out_tbl = pa.table(
        {
            "vec_id": pa.array(np.concatenate(ids), type=pa.int64()),
            "embedding": pa.array(list(allmat), type=pa.list_(pa.float32())),
            "label": pa.array(np.concatenate(labels), type=pa.int32()),
        }
    )
    pq.write_table(out_tbl, os.path.join(out, "embeddings.parquet"))


def build_graph_corpus(k: int) -> str:
    """Synthesize the k-x GRAPH corpus dir (cached against the base
    fingerprint): customer/supplier/orders/lineitem duplicated k times
    with per-copy key-offset strides (copy 0 identity), every other
    table symlinked. Disjoint copies: cross-copy joins are impossible
    by construction, so graph outputs scale exactly k-fold."""
    scaled = ("customer", "supplier", "orders", "lineitem")
    # gsynthv1: version component so a future synthesis-SQL edit can
    # never silently reuse a corpus built under the old recipe (the
    # stale-cache class the doc corpus' synthv2 tag closed)
    parts_fp = [f"gsynthv1|k={k}"]
    for t in scaled:
        st = os.stat(os.path.join(BASE_SF, f"{t}.parquet"))
        parts_fp.append(f"{t}:{st.st_size}:{int(st.st_mtime)}")
    return publish_corpus(
        CORPUS_BASE, f"g{k}", "|".join(parts_fp), lambda d: _build_graph_corpus_into(d, k, scaled)
    )


def _build_graph_corpus_into(out: str, k: int, scaled: tuple) -> None:
    import duckdb

    for t in (
        "region nation part events documents embeddings".split()
    ):
        os.symlink(os.path.join(BASE_SF, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))

    con = duckdb.connect()
    # strides = max(key)+1, read from the data (testdata regenerates)
    def stride(table: str, key: str) -> int:
        return (
            con.execute(
                f"SELECT max({key}) + 1 FROM '{BASE_SF}/{table}.parquet'"
            ).fetchone()[0]
        )

    ok, ck, sk = stride("orders", "o_orderkey"), stride("customer", "c_custkey"), stride("supplier", "s_suppkey")
    # Node-id bounds that must actually hold (r15 — the old blanket
    # k*ck < NODE_OFFSET guard capped the synthesizer at x60 for no
    # structural reason: customer node ids live ABOVE the offset by
    # construction, node = c_custkey + NODE_OFFSET, so custkeys may
    # grow past it freely). What the graph operators require:
    #   (a) every supplier id stays BELOW NODE_OFFSET, or the
    #       node >= NODE_OFFSET side classification misreads a
    #       supplier as a customer (binding at k ~ 999 here);
    #   (b) the LARGEST customer node stays below LPA_ENC, whose
    #       count*ENC + (ENC-1-label) tie-break encoding needs
    #       label < ENC (binding at k ~ 600; LPA also re-checks at
    #       runtime and raises).
    # x100-x300 audits are reachable under both.
    from mit_map_reduce_spark.operators.graph import LPA_ENC, NODE_OFFSET

    assert k * sk < NODE_OFFSET, "supplier stride would cross NODE_OFFSET"
    assert k * ck + NODE_OFFSET < LPA_ENC, "customer node would cross LPA_ENC"
    replaces = {
        "customer": "c_custkey + {c} * %d AS c_custkey" % ck,
        "supplier": "s_suppkey + {c} * %d AS s_suppkey" % sk,
        "orders": "o_orderkey + {c} * %d AS o_orderkey, o_custkey + {c} * %d AS o_custkey" % (ok, ck),
        "lineitem": "l_orderkey + {c} * %d AS l_orderkey, l_suppkey + {c} * %d AS l_suppkey" % (ok, sk),
    }
    for t in scaled:
        sel = " UNION ALL ".join(
            f"SELECT * REPLACE ({replaces[t].format(c=c)}) FROM '{BASE_SF}/{t}.parquet'"
            for c in range(k)
        )
        con.execute(f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT parquet)")
    con.close()


def worker(sf_dir: str) -> None:
    """Fresh-session measurement of every target at one scale; emits
    one JSON line on stdout.

    MMRS_EMB_VARIANT="rows:bands:thr" switches to a single-query
    SCALED-TUNING run of dedup_embedding_lsh_pairs with the module
    constants patched — the measurement harness for the docstring's
    raise-rows-at-scale knob (a labeled measurement variant; the
    registered query and its oracle are untouched)."""
    from mit_map_reduce_spark.catalog import drain_build_events, load_table
    from mit_map_reduce_spark.session import get_spark
    import __spark_entry__ as e

    variant = os.environ.get("MMRS_EMB_VARIANT")
    targets = TARGETS
    tenv = os.environ.get("MMRS_TARGETS")
    if tenv:
        targets = tenv.split(",")
    if variant:
        import mit_map_reduce_spark.operators.dedup as dd

        rows_, bands_, thr_ = variant.split(":")
        dd.EMB_LSH_FORCE = (int(rows_), int(bands_))
        dd.COSINE_DUP_THRESHOLD = float(thr_)
        targets = ["dedup_embedding_lsh_pairs"]

    spark = get_spark("scaling_curve")
    # JVM/scheduler warmup so target #1's first run is not also paying
    # session startup; must not touch the targets' shared artifacts
    load_table(spark, sf_dir, "documents").count()
    drain_build_events()

    qs = e.queries()
    res: dict[str, dict] = {}
    for name in targets:
        fn = qs[name]
        t0 = time.time()
        rows = fn(spark, sf_dir).count()
        first = time.time() - t0
        builds = [(a, s) for a, s in drain_build_events()]
        warms = []
        for _ in range(WARM_RUNS):
            t0 = time.time()
            fn(spark, sf_dir).count()
            warms.append(time.time() - t0)
            leftover = drain_build_events()
            if leftover:  # an artifact rebuilt mid-warm: not warm
                warms.pop()
        warm = sorted(warms)[len(warms) // 2] if warms else None
        res[name] = {
            "first_sec": round(first, 3),
            "warm_sec": round(warm, 3) if warm is not None else None,
            "rows": rows,
            "builds": [[a, s] for a, s in builds],
        }
    print(json.dumps(res))


def ground_truth() -> None:
    """Exact intra/cross-copy pair counts per scale and threshold via
    one NumPy gram pass — the oracle for the output-size decomposition
    in the docstring (what fraction of the measured output is the
    corpus' own quadratic random-tail workload vs algorithm waste)."""
    import numpy as np
    import pyarrow.parquet as pq

    for k in (1, 3, 10):
        d = build_corpus(k)
        t = pq.read_table(os.path.join(d, "embeddings.parquet"))
        m = np.asarray(t["embedding"].to_pylist(), dtype=np.float32)
        n = m / np.linalg.norm(m, axis=1, keepdims=True)
        for thr in (0.35, 0.5, 0.6):
            intra = cross = 0
            for i in range(0, len(n), N_VECS):
                g = n[i : i + N_VECS] @ n.T
                for j in range(i, len(n), N_VECS):
                    blk = g[:, j : j + N_VECS]
                    if j == i:
                        iu = np.triu_indices(N_VECS, 1)
                        intra += int((blk[iu] >= thr).sum())
                    else:
                        cross += int((blk >= thr).sum())
            print(
                json.dumps(
                    {"scale": k, "thr": thr, "intra": intra, "cross": cross}
                )
            )


def main() -> None:
    if "--worker" in sys.argv:
        worker(sys.argv[sys.argv.index("--worker") + 1])
        return
    if "--ground-truth" in sys.argv:
        ground_truth()
        return
    if "--emb-scaled" in sys.argv:
        # scaled-tuning variant: --emb-scaled <scale> <rows> <bands> <thr>
        i = sys.argv.index("--emb-scaled")
        k, rows_, bands_, thr_ = sys.argv[i + 1 : i + 5]
        d = build_corpus(int(k))
        env = dict(os.environ, MMRS_EMB_VARIANT=f"{rows_}:{bands_}:{thr_}")
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", d],
            capture_output=True,
            text=True,
            timeout=3600,
            env=env,
        )
        if proc.returncode != 0:
            print(proc.stderr[-4000:], file=sys.stderr)
            raise SystemExit(f"variant worker failed at scale x{k}")
        print(proc.stdout.strip().splitlines()[-1])
        return
    scales = [1, 3, 10]
    if "--scales" in sys.argv:
        scales = [int(s) for s in sys.argv[sys.argv.index("--scales") + 1].split(",")]
    graph_mode = "--graph" in sys.argv
    env = dict(os.environ)
    if graph_mode:
        env["MMRS_TARGETS"] = ",".join(GRAPH_TARGETS)
    # honor an external MMRS_TARGETS override (ad-hoc curves over the
    # same corpora) in the ratios step too, not just in the worker
    targets = env["MMRS_TARGETS"].split(",") if env.get("MMRS_TARGETS") else TARGETS
    if env.get("MMRS_EMB_VARIANT"):
        # the worker narrows itself to the one variant query; the
        # ratios step must narrow WITH it or it KeyErrors on the three
        # unmeasured targets after the whole measurement completed
        targets = ["dedup_embedding_lsh_pairs"]
    results: dict[int, dict] = {}
    for k in scales:
        d = build_graph_corpus(k) if graph_mode else build_corpus(k)
        print(f"# scale x{k}: corpus at {d}", file=sys.stderr)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", d],
            capture_output=True,
            text=True,
            timeout=3600,
            env=env,
        )
        if proc.returncode != 0:
            print(proc.stderr[-4000:], file=sys.stderr)
            raise SystemExit(f"worker failed at scale x{k}")
        results[k] = json.loads(proc.stdout.strip().splitlines()[-1])
        for name, r in results[k].items():
            print(f"# x{k} {name}: first {r['first_sec']}s warm {r['warm_sec']}s "
                  f"rows {r['rows']} builds {r['builds']}", file=sys.stderr)
    base = scales[0]
    print(json.dumps({
        "scales": scales,
        "results": {str(k): v for k, v in results.items()},
        "ratios": {
            name: {
                str(k): round(results[k][name]["warm_sec"] / results[base][name]["warm_sec"], 2)
                for k in scales
                if results[k][name]["warm_sec"] and results[base][name]["warm_sec"]
            }
            for name in targets
        },
    }))


if __name__ == "__main__":
    main()
