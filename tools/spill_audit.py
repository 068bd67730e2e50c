"""Shuffle spill / partition-sizing / key-skew audit for the heavy
shuffle paths, from Spark's own task metrics (event log).

The 100 TB brief's "spill-aware" requirement — size
``spark.sql.shuffle.partitions`` / ``maxPartitionBytes`` so partitions
fit in executor memory, and catch hot keys that width cannot fix — was
previously argued from plan shape and the AQE-on config; this tool
converts it into per-task data. For each audited query it runs the
warm path under a job group, then reads the uncompressed event log and
aggregates SparkListenerTaskEnd metrics over exactly that group's
stages:

- ``spill_mb``       total memory+disk bytes spilled (must be 0 —
                     any spill at this scale means the partition
                     sizing law is already broken locally)
- ``max_task_sr_mb`` the LARGEST reducer partition (max per-task
                     shuffle read) — the number that must stay under
                     executor memory at any scale; bytes/task ~
                     data/width, so at 100 TB you hold it by raising
                     width proportionally...
- ``sr_skew``        ...UNLESS one key is hot: max/median per-task
                     shuffle read over reducer tasks (worst stage).
                     Width cannot shrink a single key's partition —
                     skew here means the query needs salting/AQE
                     skew-join, not more partitions.
- ``peak_mem_mb``    max per-task peak execution memory (hash maps,
                     sort buffers) — the actual memory the sizing law
                     protects.

Scales reuse tools/scaling_curve.py's synthesized corpora (doc/emb
corpus for the text/dedup/ANN targets; the --rel graph corpus, which
k-folds orders/lineitem/customer/supplier, for the relational ones),
so the x10 column shows how the worst partition GROWS with data at
fixed width — near-k growth of max_task_sr at flat sr_skew is the
clean outcome (raise width at scale); super-k growth or rising skew
is a hot key.

Committed numbers (this machine, local[32], quiet, 2026-08-16 r12;
fresh subprocess per scale; cold = first run incl. artifact builds +
cache population, warm = the steady-state re-run; MB throughout):

doc/emb corpus targets (c = cold, w = warm; one line where equal):

| query                   | scale | tasks(c/w) | spill | shufW(c/w)  | max_task_sr | sr_skew | peak_mem |
|-------------------------|-------|------------|-------|-------------|-------------|---------|----------|
| mr_wordcount            |   x1  |    36      |   0   |    0.84     |    0.05     |  1.09   |   0.2    |
|                         |  x10  |    38      |   0   |    8.63     |    0.27     |  1.02   |   0.2    |
|                         |  x30  |    44      |   0   |   26.2      |    0.82     |  1.01   |   8.2    |
| dedup_minhash_lsh_pairs |   x1  |  260/130   |   0   |  0.83/0.02  |    0.03     |  1.06   |   65     |
|                         |  x10  |  262/219   |   0   |  8.8/148.3  |  0.28/2.13  |  1.33   | 737/56   |
|                         |  x30  |  268/237   |   0   | 26.8/448.2  |  0.85/6.45  |  1.32   | 2346/80  |
| dedup_embedding_lsh     |   x1  |  230/132   |   0   |  3.8/3.2    |    1.24     |  1.20   |   17     |
|  (fixed rows=4/bands=4) |  x10  |  261/161   | 7681  |   ~300      |    9.30     |  1.00   |   96     |
|  (tuned rows=7/bands=13)|  x10  |  261/161   | **0** |   ~153      |    4.8      |  1.00   |   96     |
|  (r14 DEFAULT, derived) |  x10  |  475/375   | **0** | 210.2/205.1 |    2.43     |  1.66   |   48     |
|  (r13 DEFAULT, derived) |  x30  |  994/889   | **0** | 1215/1200   |    3.05     |  1.69   |  113     |
| sim_ann_ivf_topk        |   x1  |    133     |   0   |    0.08     |    0.08     |   —     |   11     |
|                         |  x10  |  298/133   |   0   |  2.0/0.56   |    0.62     |   —     |   12     |
|                         |  x30  |  298/133   |   0   |  3.1/1.58   |    1.58     |   —     |   16.5   |

--rel graph-corpus targets (cold == warm on all three):

| query                       | scale | tasks | spill | shufW | max_task_sr | sr_skew | peak_mem |
|-----------------------------|-------|-------|-------|-------|-------------|---------|----------|
| rel_q18_large_orders        |   x1  |   19  |   0   |  3.3  |    1.22     |  1.18   |   20     |
|                             |  x10  |  141  |   0   | 31.2  |    0.99     |  1.01   |   91     |
|                             |  x30  |  347  |   0   | 93.6  |    2.95     |  1.01   |  326     |
| rel_q9_product_profit       |   x1  |   21  |   0   |  0.02 |    0.02     |   —     |   13     |
|                             |  x10  |  113  |   0   |  0.2  |    0.20     |   —     |   79     |
|                             |  x30  |  317  |   0   |  0.6  |    0.60     |   —     |  294     |
| adv_salted_skew_join_events | x1-x30 | 6-9  |   0   |  0    |    0        |   —     |   12-20  |

FINDINGS:
- **The audit caught a real spill**: dedup_embedding_lsh_pairs at x10
  with the FIXED x1 tuning spills 7.7 GB (the quadratic random-tail
  candidate set at thr 0.35 — 1250-per-bucket occupancy — blowing
  through the join/distinct hash memory), and the dedup.py docstring's
  raise-rows-at-scale knob ELIMINATES it: rows=7/bands=13 at the same
  x10 corpus spills ZERO at half the shuffle volume. The occupancy law
  the scaling curve measured in seconds, re-measured in bytes.
  CLOSED in r13: the registered operator now derives (rows, bands)
  from the corpus footer count (dedup.emb_lsh_params), and a plain
  `MMRS_TARGETS=dedup_embedding_lsh_pairs --scales 10` run with NO
  variant flag reproduces zero spill (the "r14 DEFAULT" line) — the
  tuned plan is what a user gets by default at scale. Note the
  derived pair width is NOT inert at x10: emb_lsh_pair_width(20000,
  7, 13, 32) = 82 > 32, so the scale-out repartitions engage there
  (475/375 tasks vs the pre-pair-width 261/161 in the older rows;
  ADVICE r13 reconciliation, re-measured 2026-08-16 r14) and the
  worst task halves (max_task_sr 4.8 -> 2.4 MB, peak 96 -> 48 MB).
  Inertness holds only at committed SFs, where the width floors at
  32 (pinned by tests/test_emb_lsh_tuning.py).
- **x30 found the NEXT spill and r13 closed it too**: at n=60000
  (auto tuning r9b27) the candidate stream is 116 M pre-distinct
  pairs and the DISTINCT — both its join-stage partial agg and its
  conf-width (32) final agg — sort-spilled 18.6 GB total even though
  bucket occupancy was held (per-stage audit: 3.6 GB partial + 9.7 GB
  final; the hash set per final task was ~1.2 M entries against the
  ~145 MB/task execution budget of a 32-slot 8 g heap). Fix
  (dedup.emb_lsh_pair_width): above one task wave of estimated
  pairs, the signature frame pre-partitions on (band, bucket) and
  the pair stream re-partitions on (vec_a, vec_b) so the distinct is
  ONE width-scaled aggregation at ~250 k pairs/task. Re-audit at
  x30: **0 MB spill** (was 18.6 GB), peak mem 113 MB (was 344),
  max_task_sr 3.1 MB, sr_skew 1.69, shuffle 1.2 GB (~2x the deduped
  pair bytes — the price of skipping the partial agg, which was
  deduping almost nothing). Inert at every committed SF (plan diff:
  none) and output rows identical (1252950) across all three plans.
  Local wall was flat (~53 s — NVMe spill is cheap; scoring the
  Theta(n^1.5) candidates dominates): the win is bounded per-task
  memory, which is what decides survival when the same ratios are
  TBs on a cluster.
- r13 x30 GRAPH sweep (--rel graph corpus, 35.2 M trade edges):
  supplier projection, triangle count, and jaccard link prediction
  spill ZERO cold and warm; the pagerank fixpoint BUILD (cold,
  once per session) spilled 4.0 GB with 35 M edges crammed into the
  fixed 32-task scoped width. Closed the r13 way: the six scoped-conf
  fixpoint builds (pagerank/PPR/k-core/LPA/label-consumers/HITS) now
  derive their width from the persisted edge count
  (graph._fixpoint_width, floor 32 = committed-SF sizing, plan diff
  none) and the edge-list dedup sizes itself from the lineitem
  footer count (_edge_build_width). Re-audit: build spill 4021 ->
  ~454 MB (89% gone); the residual is two ~300 MB sort-spills inside
  AQE-coalesced iteration joins — bounded per task by AQE's 64 MB
  advisory partition size (measured ~9 MB/task), i.e. it does NOT
  grow with the corpus, so it is graceful at any scale. Warm (the
  registered query) stays zero-spill at every scale.
- r14 x30 HITS re-audit after the widening fix (ADVICE r13: the HITS
  build used base.coalesce(width), which can only NARROW — when the
  derived fixpoint width exceeded the edge frame's partitioning the
  intended scale-out silently no-opped). With repartition(width, src)
  on the widen branch: cold build at 35.2 M edges runs 2273 tasks,
  **0 MB spill**, max_task_sr 8.8 MB, sr_skew 2.0, peak 290 MB —
  per-task volume bounded at the GRAPH_EDGES_PER_TASK law like the
  other five fixpoints. Committed SFs take the coalesce branch
  unchanged (plan diff: none).
- **r14 x30 graph sweep completed the fixpoint family and found the
  AQE advisory defeating the derived width**: LPA's cold build
  spilled 1.9 GB (ALL of it in ONE 36-task stage — the per-iteration
  (dst, label) count, per-stage diagnosis) and PPR 1.0 GB of the same
  class, both zero at x10 — AQE's coalescing advisory sizes reducers
  by COMPRESSED map-output bytes and re-fused the 141-task derived
  width into tasks whose decompressed hash-agg footprint sort-spills.
  Fix (graph._fixpoint_conf): past the committed-SF floor the
  scoped build also disables AQE partition coalescing, trusting the
  GRAPH_EDGES_PER_TASK width law over the compressed-bytes heuristic.
  Re-audit x30: LPA 1934 -> **0 MB** (max_task_sr 11.2 -> 2.9 MB),
  PPR 1022 -> **0 MB** (peak 290 -> 70 MB), and the pagerank build's
  r13 "graceful residual" ~454 MB -> **0 MB** as well (the residual
  WAS this same advisory re-fusion); HITS worst task halves
  (8.8 -> 4.4 MB). Committed SFs take width == floor so the conf is
  untouched there (plan diff vs PLAN_SNAPSHOT_r14: none; graph family
  gate + test_plans green).
- r14 x30 knn-copurchase width: the co-purchase build's three pinned
  exchanges rode the fixed session width while carrying
  fact-proportional volume — pairs exchange 1.4 GB / 45.8 MB worst
  task at x30, 15.5 MB at x10 (linear growth, the 100 TB red flag
  even at zero spill). Width now derives from the lineitem footer
  count (_edge_build_width): worst task 21.4 MB at x30 and scaling
  with the corpus, plans inert at committed SFs.
- r14 x60 validation (70.4 M trade edges — the largest corpus the
  graph synthesizer can build before its copy stride would collide
  with NODE_OFFSET, asserted in scaling_curve): pagerank and LPA cold
  builds both **0 MB spill** with worst tasks FLAT vs x30 (pagerank
  max_task_sr 3.9 -> 4.5 MB at 2x the edges, LPA 2.9 -> 3.4 MB, skew
  ~1.1) — the volume-derived width law holds per-task volume constant
  for another doubling. [r15: the synthesizer's blanket
  k*ck < NODE_OFFSET guard was capping at x60 for no structural
  reason (customer nodes live ABOVE the offset by construction);
  scaling_curve now asserts the two bounds the operators actually
  need — suppliers below NODE_OFFSET, max customer node below
  LPA_ENC — making x100-x300 reachable. x100 results below.]
- r14 x60 dedup validation: embedding-LSH holds the law at n=120000
  (zero spill, worst reducer 3.5 MB, peak 178 MB — derived tuning +
  pair width scaling together). MinHash exposed the KNOWN
  cache-sizeInBytes broadcast wrinkle growing linearly: the cold
  plan's misestimated broadcast hash map hit **3.76 GB** at x60 (737
  MB at x10) before the warm re-plan. CLOSED in the registered path:
  the shingle-array cache materializes at build time past
  MINHASH_EAGER_STATS_DOCS (10k docs; committed SFs <= 5000 keep the
  lazy persist and their pinned broadcast plans) so the FIRST
  consumer plan compiles against true cached stats — re-audit x60
  cold peak 3764 -> **65 MB**, cold plan == warm plan, rows
  identical, plan diff at committed SFs none.
- **r15 x100 decade-up audit (117 M trade edges / 60 M lineitem rows)
  found TWO fact-width seams and closed both** (each reproduced
  deterministically, per-stage diagnosed, re-audited to zero):
  (1) the LAZY trade-edge cache build's lineitem-orders SMJ reduced at
  the 32-task floor — the build materializes under the first
  consumer's scoped conf, so its ENSURE_REQUIREMENTS exchanges ride
  that floor no matter the corpus; 4.05 GB of sort spill in ONE
  32-task stage (~1.9 M rows/task; zero at <= x60, where the sorts
  still fit). Fix `graph._fact_join_input`: past the floor the fact
  side carries a pinned REPARTITION_BY_NUM on the join key and
  EnsureRequirements co-partitions the other side to match. Re-audit:
  pagerank cold 4050 -> **0 MB**, worst task 20.6 -> 5.2 MB, peak
  248 -> 103 MB. LPA/modularity at x100: zero spill, worst task
  3.9 MB (the r14 coalescing-off fix holding one decade up).
  (2) the co-purchase build's explode-squared pair stream ran at the
  fact width TWICE: its (a,b) agg/window exchange read 600 M pairs
  into 240 tasks (16.5 GB spill) and, after widening that, the MAP
  stage (dedup + collect_set + explode per-customer sets) still wrote
  ~2.5 M pairs/task through the shuffle-write sorter (10.8 GB). Fix
  `graph._pair_stream_width` (KNN_PAIR_FANOUT x lineitem footer
  count, the emb_lsh_pair_width discipline) applied to BOTH the inc
  repartition (sizing the exploding map stage) and the pair exchange.
  Re-audit: triangle cold 22.7 GB -> **0 MB**, worst task sw
  18.3 -> 2.4 MB, peak 168 -> 38 MB. Committed SFs floor everywhere
  (plan diff vs PLAN_SNAPSHOT_r14: none; graph family gate green at
  sf0.01).
- **r15 x100 dedup decade-up (500 k docs / 500 k vectors):
  embedding-LSH CLEAN (zero spill cold AND warm, worst reducer
  3.9 MB, peak 195 MB — derived tuning + pair width holding a second
  decade); minhash found its steady-state cliff and it is CLOSED.**
  At x100 the candidate set outgrows the broadcast-verification
  regime and both Jaccard probes re-plan to SortMergeJoins that sort
  the whole shingle stream at the session width: 2.24 GB of
  deterministic spill in one 32-task stage, cold AND WARM — a
  registered-plan defect, not a build artifact (byte-identical across
  three runs; zero at <= x60, the per-task sort just fit). Three
  widths now derive from the documents footer count, all flooring to
  the session width at committed SFs (plan diff none):
  `_minhash_pair_width` (band join + pair distinct, the
  emb_lsh_pair_width law), and `_shingle_stream_width` applied
  per-probe-side with each join's FULL key set — co-partitioning
  requires all cluster keys, so a shared doc_id-only repartition was
  measured being rewritten back to the session width on the
  (doc_id, shingle) probe. Re-audit x100: spill 2237 -> **0 MB**
  both phases, worst reducer 22.8 -> 6.1 MB, peak 81 -> 40 MB, total
  shuffle 2293 -> 1678 MB. Gate green at sf0.01 + sf0.1 (the
  real-dup SF).
- **r15 lazy-persist broadcast-misestimate sweep (--lazy-cache): CLEAN
  at x10 AND x30 — zero plan flips, zero suspects.** The r14 minhash
  finding (a consumer plan compiled before a lazy shared_persist cache
  materializes can broadcast off garbage stats — 3.76 GB at x60) is a
  generic defect class; this sweep enumerates all 26 shared_persist
  sites (classification at LAZY_CACHE_PAIRS), and for each of the 8
  lazy caches a registered consumer joins, runs that consumer as the
  FIRST query of a fresh session (true cold plan) then warm, comparing
  above-cache join histograms + peak task memory (2026-08-16, this
  machine, per-pair fresh subprocess):

  | consumer (lazy cache)          | x10 cold==warm | x30 cold==warm | worst peak c/w MB |
  |--------------------------------|----------------|----------------|-------------------|
  | dedup_minhash_lsh_pairs (doc_shingle_arrays)  | SMJ×3 == SMJ×3 | SMJ×3 == SMJ×3 | 80/80 |
  | dedup_simhash_band_pairs (simhash_fp)         | BHJ×1 == | BHJ×1 == | 116/116 |
  | dedup_embedding_lsh_pairs (emb_band_keys)     | BHJ×3 == | BHJ×3 == | 113/113 |
  | sim_ann_ivf_topk (emb_norm)                   | BHJ×3 == | BHJ×3 == | 46/16 |
  | text_training_mix (quality+repetition+contam) | BHJ×9 == | BHJ×9 == | 104/55 |
  | text_langid_agreement (langid+langid_ngram)   | BHJ×2 == | BHJ×2 == | 108/18 |
  | graph_supplier_projection (trade_edges)       | BHJ×1 == | BHJ×1 == | 290/88 |
  | graph_triangle_count (graph_knn_edges)        | BHJ×6 == | BHJ×6 == | 290/12 |

  Zero spill in every cell. The minhash row is the closed r14 finding
  holding: past MINHASH_EAGER_STATS_DOCS the cold plan compiles
  against true cached stats and takes the same SortMergeJoins as warm
  (at x1 / committed SFs both phases take the pinned broadcast plans —
  plan diff none). The surviving BHJ rows broadcast bounded frames
  (band/bucket keys, per-doc flag projections whose planner estimate
  matches their true size) identically in both phases; cold>warm peak
  deltas are artifact-build cost (the builds run inside the cold
  phase), not re-plans. No second instance of the defect class exists
  in the registry as of r15.
- r14 x30 text sweep (bpe_train_merges, pmi_collocations,
  distinctive_terms — the family's heaviest aggregators): zero spill,
  reducers bounded (max_task_sr <= 1.8 MB, peak <= 32 MB); the
  ~21 MB map-side writes are the documented single-row-group local
  scan, benign (see the mr_wordcount note below).
- r13 x30 family sweep: the four remaining dedup-family pair paths
  (simhash bands, ngram jaccard, ngram containment, CC cluster
  report) all measure ZERO spill at the 30x corpus with bounded
  tasks (max_task_sr <= 12.8 MB, sr_skew <= 1.32) — simhash's fixed
  65536-bucket bands sit at occupancy ~2 even at this scale, and the
  MinHash bucket keyspace grows with the corpus, so neither shares
  embedding-LSH's 2^rows occupancy law; the one spiller is closed.
- Everything else spills nothing at either scale, and the q18/q9 rows
  show AQE holding bytes/task flat as data grows 10x (q18 total
  shuffle 3.3 -> 31.2 MB while max_task_sr stays ~1 MB and skew drops
  to 1.01: width scaled with data, the exact law to apply at 100 TB).
- dedup_minhash x10 exhibits the cache-sizeInBytes plan flip
  PLAN_SNAPSHOT r12 documented: the COLD run broadcasts the freshly
  persisted signature frame on an underestimate (737 MB peak hash
  map, 8.8 MB shuffle), the WARM run sees the true cached size and
  re-plans to a shuffle join (148 MB shuffle, 56 MB peak). At real
  scale the estimate comes from file sizes and exceeds the 64 MB
  threshold long before the hash map could hurt; the hazard lives
  only in the just-persisted-small-estimate window. [r14: that window
  CLOSED — the x60 sweep measured it at 3.76 GB and the build now
  materializes the cache past MINHASH_EAGER_STATS_DOCS; see the r14
  x60 dedup row below.]
- mr_wordcount's map side shows one task writing ~98% of shuffle at
  both scales: the corpus parquet is a single row group locally, so
  the pre-spread scan is one task regardless of maxPartitionBytes —
  spread() exists to restore parallelism after exactly this, and at
  100 TB the input is many files/row groups. Benign here.
- adv_salted_skew_join_events and rel_join_key_skew_report read 0
  shuffled bytes at sf0.1 — their joins broadcast entirely at this
  scale, so this audit has nothing to measure on them (the salting
  path's correctness is pytest-pinned; its skew benefit only
  manifests when the fact side is too big to broadcast).
- peak task memory stays far under any executor budget everywhere
  (worst honest value 96 MB; the 737 MB is the misestimated-broadcast
  wrinkle above, self-corrected by the warm re-plan).

HOT-KEY EXHIBIT (--skew): the uniform corpora above cannot exercise
skew handling, so --skew synthesizes a x30 events corpus with 40% of
all rows on ONE user (1.2 M rows) and A/Bs the shuffle join against
the customer dim with auto-broadcast disabled (the 100 TB premise: a
dim too big to broadcast). Same machine/date; all three variants
assert-identical answers; AQE split thresholds scaled to the corpus
(2m/1m — at the 256 MB defaults the split never fires here, and the
first run of this exhibit measured exactly that as identical task
metrics):

| variant     | tasks | max_task_sr | sr_skew | peak_mem | wall   |
|-------------|-------|-------------|---------|----------|--------|
| naive, AQE skew split off | 46 | 9.77 MB | 8.83 | 120 MB | 2.03 s |
| naive, AQE skew split on  | 57 | 1.66 MB | 1.66 |  32 MB | 0.94 s |
| salted (JOIN_SALTS=8)     | 48 | 3.23 MB | 1.64 |  48 MB | 3.55 s |

and the hot GROUP (a per-user rank — no AQE knob can split a window
partition; the engine's registered cure is functions.rank's
range-partitioned two-pass construction, checksum-asserted equal):

| variant                   | tasks | max_task_sr | sr_skew | wall   |
|---------------------------|-------|-------------|---------|--------|
| row_number over partitionBy(user) | 46 | 14.47 MB | 8.64 | 1.90 s |
| distributed_prefix (two-pass)     | 142 |  4.27 MB | 2.29 | 3.45 s |

Reading: the hot partition is 8.8x the median and AQE's split levels
it at runtime (max reducer 9.77 -> 1.66 MB) — at 100 TB where the hot
key is ~40% of the fact table, that is the difference between one
executor holding 40 TB and none. Explicit salting levels it just as
well (1.64) but pays the 8x dim replication + wider shuffle, and at
THIS scale that overhead exceeds the benefit (3.55 s vs 0.94) — so
the engine's doctrine stands as measured: AQE skew split is the
first-line cure for batch joins (it even handles a single hot key by
replicating the build side per split); explicit restructuring is the
portable form for the places AQE cannot reach. The window rows
measure one of those places: the hot user's 1.2 M-row window
partition is one unsplittable 14.5 MB task (fine locally, a stuck
executor at 100 TB where it would be terabytes), and
distributed_prefix bounds the worst task at 4.3 MB for 1.9x the
shuffle volume plus the offset join — locally slower in wall terms
(a single-task 1.2 M-row sort is cheap at this absolute size), which
is WHY the engine routes only the genuinely hot/global rank shapes
through it and leaves high-cardinality small groups on the plain
window (functions/rank.py's documented contract). Algebraic
aggregations never make this list: map-side partials collapse hot
keys before the shuffle, so the naive groupBy is already optimal
there (the salted two-stage agg exists for the low-cardinality-key
forms where partials cannot shrink the reducer's input).

Usage:
  python tools/spill_audit.py                # doc/emb targets, x1 + x10
  python tools/spill_audit.py --rel          # relational targets
  python tools/spill_audit.py --scales 1,3   # other scales
  MMRS_TARGETS=q1,q2 python tools/spill_audit.py   # ad-hoc target list
  MMRS_EMB_VARIANT=7:13:0.35 python tools/spill_audit.py --scales 10
      # the occupancy-tuned embedding-LSH spill measurement above
  python tools/spill_audit.py --skew    # the hot-key join A/B exhibit
  python tools/spill_audit.py --lazy-cache [--scales 10,30]
      # the lazy-persist broadcast-misestimate sweep (cold plan ==
      # warm plan per lazy shared_persist cache; see LAZY_CACHE_PAIRS)
"""

import json
import os
import statistics
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TARGETS = [
    "mr_wordcount",
    "dedup_minhash_lsh_pairs",
    "dedup_embedding_lsh_pairs",
    "sim_ann_ivf_topk",
]
REL_TARGETS = [
    "rel_q18_large_orders",
    "rel_q9_product_profit",
    "adv_salted_skew_join_events",
]

#: The lazy-persist broadcast-misestimate sweep (--lazy-cache, r15):
#: one row per shared_persist cache whose factory returns a LAZY frame
#: that a registered consumer then JOINS — the generic defect class
#: behind the r14 minhash finding (a consumer plan compiled BEFORE the
#: cache materializes sees the child plan's estimated stats; an
#: underestimate flips the planner to broadcasting a frame whose true
#: cached size grows with the corpus — 3.76 GB at x60 for the shingle
#: arrays). Each (caches, consumer, corpus) row runs the consumer as
#: the FIRST query of a fresh session (true cold plan) then again warm,
#: and compares the above-cache join-strategy histograms + peak task
#: memory. The dangerous signature is cold-only BroadcastHashJoin +
#: cold peak >> warm peak.
#:
#: Classification of all 26 shared_persist sites (r15 sweep; the 18
#: NOT listed below are out of the defect class by construction):
#:   fixpoint/iterative factories that materialize inside the build —
#:     dedup_cc_labels, bpe_vocab_syms, graph_pagerank_ranks,
#:     graph_ppr_ranks, graph_kcore_alive, graph_lpa_labels,
#:     graph_bfs_dist (localCheckpoint is eager), graph_hits_scores;
#:   lazy but materialized by a join-free first action in the same
#:     call — ks_per_value (immediate agg collect), ivf_cell_sizes
#:     (bounded agg collect), logreg_features (epoch aggs only, no
#:     consumer joins it);
#:   lazy but every consumer join pins the OTHER side with an explicit
#:     broadcast hint or never joins the cache at all — pq_codebook_*
#:     (8 rows, F.broadcast at every use), mmr_topk (select-only
#:     consumer; its internal pool materializes inside the build),
#:     rank-registry frames (offset join broadcasts the bounded offset
#:     table explicitly).
LAZY_CACHE_PAIRS = [
    # (lazy cache(s) the consumer joins, registered consumer, corpus)
    ("doc_shingle_arrays", "dedup_minhash_lsh_pairs", "doc"),
    ("simhash_fp", "dedup_simhash_band_pairs", "doc"),
    ("emb_band_keys_r*b*", "dedup_embedding_lsh_pairs", "doc"),
    ("emb_norm", "sim_ann_ivf_topk", "doc"),
    (
        "text_quality_scores+text_repetition_flags+text_contamination_flags",
        "text_training_mix",
        "doc",
    ),
    ("text_langid+text_langid_ngram", "text_langid_agreement", "doc"),
    ("trade_edges", "graph_supplier_projection", "rel"),
    ("graph_knn_edges", "graph_triangle_count", "rel"),
]

MB = 1024 * 1024


def _parse_event_log(path: str) -> tuple[dict, dict]:
    """(job_group -> set of stage ids, stage id -> task metric rows).

    Aggregates only tasks whose Task End Reason is Success, deduped
    per (stage, partition index) ACROSS stage attempts (first success
    wins) — retried, failed, and speculative attempts never contribute
    metrics, and a partition recomputed on a retried stage attempt
    counts once (committed-work-only metrics, ADVICE r13)."""
    group_stages: dict[str, set[int]] = {}
    stage_tasks: dict[int, list[dict]] = {}
    _seen: set[tuple] = set()
    with open(path, errors="replace") as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    group_stages.setdefault(group, set()).update(
                        ev.get("Stage IDs") or []
                    )
            elif kind == "SparkListenerTaskEnd":
                # Only COMMITTED work counts: failed/killed attempts
                # (task retries, speculation losers) still emit TaskEnd
                # with partial metrics and would inflate the
                # spill/shuffle/skew numbers on a noisy run.
                reason = ev.get("Task End Reason") or {}
                if reason.get("Reason") != "Success":
                    continue
                # Speculation winners can ALSO double-commit a
                # partition (two Success ends for one index), and a
                # retried STAGE attempt recomputes partitions that
                # already succeeded on attempt 0; keep the first
                # success per (stage, partition index) regardless of
                # which stage attempt produced it.
                info = ev.get("Task Info") or {}
                seen_key = (
                    ev["Stage ID"],
                    info.get("Index"),
                )
                if info.get("Index") is not None:
                    if seen_key in _seen:
                        continue
                    _seen.add(seen_key)
                tm = ev.get("Task Metrics") or {}
                srm = tm.get("Shuffle Read Metrics") or {}
                stage_tasks.setdefault(ev["Stage ID"], []).append(
                    {
                        "sw": (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "sr": srm.get("Local Bytes Read", 0)
                        + srm.get("Remote Bytes Read", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                        "peak": tm.get("Peak Execution Memory", 0),
                    }
                )
    return group_stages, stage_tasks


def _aggregate(stage_ids: set[int], stage_tasks: dict[int, list[dict]]) -> dict:
    tasks = 0
    spill = sw_total = sr_total = 0
    max_sw = max_sr = peak = 0
    worst_skew = None
    for sid in sorted(stage_ids):
        rows = stage_tasks.get(sid, [])  # skipped/reused stages run no tasks
        tasks += len(rows)
        for r in rows:
            spill += r["spill"]
            sw_total += r["sw"]
            sr_total += r["sr"]
            max_sw = max(max_sw, r["sw"])
            max_sr = max(max_sr, r["sr"])
            peak = max(peak, r["peak"])
        # skew over REDUCER tasks of this stage only (sr > 0); a
        # single-reducer stage (global agg) has no width to balance
        reads = [r["sr"] for r in rows if r["sr"] > 0]
        if len(reads) >= 2:
            skew = max(reads) / statistics.median(reads)
            worst_skew = skew if worst_skew is None else max(worst_skew, skew)
    return {
        "tasks": tasks,
        "spill_mb": round(spill / MB, 2),
        "shuffle_write_mb": round(sw_total / MB, 2),
        "shuffle_read_mb": round(sr_total / MB, 2),
        "max_task_sw_mb": round(max_sw / MB, 3),
        "max_task_sr_mb": round(max_sr / MB, 3),
        "sr_skew": round(worst_skew, 2) if worst_skew is not None else None,
        "peak_mem_mb": round(peak / MB, 1),
    }


def build_skew_corpus(k: int) -> str:
    """k-x events corpus with ONE hot user: 40% of all rows land on
    custkey 42 (deterministic per-row hash), the rest keep their
    original uniform user_id; other tables symlink unchanged. The
    synthetic hot key the uniform testdata lacks — skew handling can
    only be MEASURED against data that actually skews.

    Base corpus honors SPARK_GRAFT_SF_DIR; output lives under
    catalog.scratch_base() and publishes via scaling_curve's
    publish_corpus (catalog.publish_once, keyed by the fingerprint), so
    concurrent runs (or a shared scratch dir) never observe a
    half-written events.parquet."""
    from mit_map_reduce_spark.catalog import scratch_base
    from tools.scaling_curve import publish_corpus

    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    st = os.stat(os.path.join(base, "events.parquet"))
    # skewv2: synthesis-version component — a future recipe edit must
    # invalidate cached corpora (same rule as scaling_curve's tags);
    # the base path is part of the fingerprint because SF_DIR can move.
    fp = f"skewv2|{k}:{base}:{st.st_size}:{int(st.st_mtime)}"

    def build(tmp: str) -> None:
        for t in (
            "region nation customer supplier part orders lineitem documents embeddings".split()
        ):
            os.symlink(os.path.join(base, f"{t}.parquet"), os.path.join(tmp, f"{t}.parquet"))
        import duckdb

        con = duckdb.connect()
        # per-copy id stride = max(id)+1 read from the DATA (matching
        # scaling_curve's collision-proofing): a row-count offset
        # silently collides if event_ids are ever sparse or offset
        n = con.execute(
            f"SELECT max(event_id) + 1 FROM '{base}/events.parquet'"
        ).fetchone()[0]
        parts = [
            f"SELECT event_id + {c * n} AS event_id, ts, "
            f"CASE WHEN (event_id + {c * n}) % 100 < 40 THEN 42 ELSE user_id END AS user_id, "
            f"event_type, value, props FROM '{base}/events.parquet'"
            for c in range(k)
        ]
        con.execute(
            f"COPY ({' UNION ALL '.join(parts)}) TO '{tmp}/events.parquet' (FORMAT parquet)"
        )
        con.close()

    return publish_corpus(os.path.join(scratch_base(), "mmrs_skew_corpus"), f"x{k}", fp, build)


def skew_worker(sf_dir: str) -> None:
    """Hot-key join A/B on the skewed corpus, auto-broadcast DISABLED
    (the 100 TB premise: a dimension too big to broadcast, so the join
    must shuffle on the skewed key). Three variants, one JSON line:

    - naive_noaqe : plain shuffle join, AQE skew split OFF — the
                    disease: the hot key's rows melt one reducer
    - naive_aqe   : plain join, AQE skew split ON — Spark's runtime
                    cure (splits the oversized partition)
    - salted      : JOIN_SALTS-way explicit salting, AQE skew split
                    OFF — the portable cure (works for streaming
                    state and pre-AQE engines too)

    All three must return the identical aggregate (asserted here) —
    salting changes the plan, never the answer.
    """
    import time

    evdir = tempfile.mkdtemp(prefix="mmrs_skew_evlog")
    from pyspark.sql import functions as F

    from mit_map_reduce_spark.catalog import load_table
    from mit_map_reduce_spark.operators.relational import JOIN_SALTS
    from mit_map_reduce_spark.session import get_spark

    spark = get_spark(
        "spill_audit_skew",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": evdir,
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )

    def agg(joined):
        return joined.groupBy("c_mktsegment").agg(
            F.count("*").alias("n_events"),
            # decimal sum: order-invariant, so the three variants'
            # results compare exactly
            F.sum(F.col("value").cast("decimal(20,4)")).alias("total_value"),
        )

    def naive():
        return agg(ev.join(cust, "user_id"))

    def salted():
        salted_dim = cust.withColumn(
            "salt", F.explode(F.array(*[F.lit(i) for i in range(JOIN_SALTS)]))
        )
        probe_salt = (
            F.conv(F.md5(F.col("event_id").cast("string")).substr(1, 2), 16, 10).cast(
                "int"
            )
            % JOIN_SALTS
        )
        return agg(
            ev.withColumn("salt", probe_salt).join(salted_dim, ["user_id", "salt"])
        )

    variants = [
        ("naive_noaqe", naive, "false"),
        ("naive_aqe", naive, "true"),
        ("salted", salted, "false"),
    ]
    sc = spark.sparkContext
    naive().collect()  # untimed: page cache + JVM warmth, else variant
    # 1 pays the cold scan and the A/B measures ordering, not plans
    walls: dict[str, float] = {}
    answers: dict[str, list] = {}
    for name, fn, skew_flag in variants:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skew_flag)
        if skew_flag == "true":
            # AQE's split thresholds default to 256 MB-scale partitions;
            # this is a scaled-DOWN corpus, so scale the thresholds the
            # same way or the split never fires and the variant
            # silently measures the naive plan (it did, first run —
            # identical task metrics gave it away)
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2m"
            )
            spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
        else:
            spark.conf.unset(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
            )
            spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        sc.setJobGroup(f"skew:{name}", name)
        try:
            t0 = time.monotonic()
            answers[name] = sorted(map(tuple, fn().collect()))
            walls[name] = round(time.monotonic() - t0, 2)
        finally:
            sc.setJobGroup("", "")
    assert answers["naive_noaqe"] == answers["naive_aqe"] == answers["salted"], (
        "variants disagree — salting/AQE changed the ANSWER"
    )

    # hot GROUP, not hot join key: a partitionBy(user) window puts the
    # hot user's 1.2 M rows in ONE task and no AQE knob can split a
    # window partition — the unsplittable case (algebraic aggs do NOT
    # qualify: map-side partials already collapse hot keys). The
    # engine's cure is the range-partitioned two-pass rank.
    from pyspark.sql import Window

    from mit_map_reduce_spark.functions.rank import distributed_prefix

    seq = ev.select("user_id", "ts", "event_id")

    def window_naive():
        return seq.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )

    def window_dp():
        return distributed_prefix(
            seq, ["ts", "event_id"], group_by=["user_id"], row_number="rn"
        )

    checksums = {}
    window_variants = [("window_naive", window_naive), ("window_dp", window_dp)]
    for name, fn in window_variants:
        sc.setJobGroup(f"skew:{name}", name)
        try:
            t0 = time.monotonic()
            # order-invariant but RANK-SENSITIVE: hashing the full
            # (row identity, rank) tuple before summing means any row
            # receiving a different rank changes the sum (a plain
            # sum(rn) is permutation-invariant within each group and
            # would pass no matter how wrongly rows were ordered).
            # rn cast to long first: xxhash64 is TYPE-sensitive and
            # row_number() yields int while distributed_prefix's rank
            # (local rank + long offset) is bigint — same values,
            # different hashes without the cast (measured).
            checksums[name] = fn().agg(
                F.sum(
                    # decimal accumulator: 3M signed 64-bit hashes
                    # overflow a long sum under ANSI mode
                    F.xxhash64(
                        "user_id", "ts", "event_id", F.col("rn").cast("long")
                    ).cast("decimal(38,0)")
                ).alias("s"),
                F.count("*").alias("n"),
            ).collect()[0]
            walls[name] = round(time.monotonic() - t0, 2)
        finally:
            sc.setJobGroup("", "")
    assert checksums["window_naive"] == checksums["window_dp"], (
        "rank checksums disagree — distributed_prefix changed the ANSWER"
    )
    spark.stop()

    logs = [os.path.join(evdir, f) for f in os.listdir(evdir) if not f.endswith(".crc")]
    assert len(logs) == 1, f"expected one event log, found {logs}"
    group_stages, stage_tasks = _parse_event_log(logs[0])
    res = {
        name: dict(
            _aggregate(group_stages.get(f"skew:{name}", set()), stage_tasks),
            wall_sec=walls[name],
        )
        for name in [v[0] for v in variants] + [v[0] for v in window_variants]
    }
    print(json.dumps(res))


def worker(sf_dir: str) -> None:
    """Fresh-session audit of every target at one scale; one JSON line
    on stdout (printed AFTER spark.stop() so the event log is flushed)."""
    evdir = tempfile.mkdtemp(prefix="mmrs_spill_evlog")

    from mit_map_reduce_spark.catalog import load_table
    from mit_map_reduce_spark.session import get_spark
    import __spark_entry__ as e

    targets = TARGETS
    tenv = os.environ.get("MMRS_TARGETS")
    if tenv:
        targets = tenv.split(",")
    variant = os.environ.get("MMRS_EMB_VARIANT")
    if variant:  # same knob-measurement seam as tools/scaling_curve.py
        import mit_map_reduce_spark.operators.dedup as dd

        rows_, bands_, thr_ = variant.split(":")
        dd.EMB_LSH_FORCE = (int(rows_), int(bands_))
        dd.COSINE_DUP_THRESHOLD = float(thr_)
        targets = ["dedup_embedding_lsh_pairs"]

    spark = get_spark(
        "spill_audit",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": evdir,
        },
    )
    load_table(spark, sf_dir, "documents").count()  # JVM warmup

    qs = e.queries()
    sc = spark.sparkContext
    capture = os.environ.get("MMRS_CAPTURE_PLANS") == "1"
    plan_info: dict[tuple, dict] = {}
    for name in targets:
        fn = qs[name]
        # cold run: artifact builds + cache population — the big
        # shuffles a 100 TB pipeline actually pays live HERE
        sc.setJobGroup(f"cold:{name}", name)
        try:
            df = fn(spark, sf_dir)
            df.count()
        finally:
            sc.setJobGroup("", "")  # reset; no clearJobGroup via py4j
        if capture:
            plan_info[("cold", name)] = _consumer_join_histogram(df)
        sc.setJobGroup(f"warm:{name}", name)
        try:
            df = fn(spark, sf_dir)
            df.count()  # steady-state path
        finally:
            sc.setJobGroup("", "")
        if capture:
            plan_info[("warm", name)] = _consumer_join_histogram(df)
    spark.stop()  # flush the event log

    logs = [os.path.join(evdir, f) for f in os.listdir(evdir) if not f.endswith(".crc")]
    assert len(logs) == 1, f"expected one event log, found {logs}"
    group_stages, stage_tasks = _parse_event_log(logs[0])
    res = {
        name: {
            phase: {
                **_aggregate(group_stages.get(f"{phase}:{name}", set()), stage_tasks),
                **(
                    {"joins": plan_info[(phase, name)]}
                    if (phase, name) in plan_info
                    else {}
                ),
            }
            for phase in ("cold", "warm")
        }
        for name in targets
    }
    print(json.dumps(res))


_JOIN_NODE_RE = (
    r"\b(BroadcastHashJoin|BroadcastNestedLoopJoin|SortMergeJoin"
    r"|ShuffledHashJoin|CartesianProduct)\b"
)


def _consumer_join_histogram(df) -> dict:
    """Join-strategy histogram of the CONSUMER plan — the executed
    (post-AQE) physical plan with cached build subtrees stripped, so
    cold (cache not yet materialized at compile time) and warm
    (planner sees true cached bytes) runs compare above the cache
    boundary. A join node that appears cold-only as BroadcastHashJoin
    while warm re-plans it to SortMergeJoin is the misestimate
    signature this sweep exists to catch."""
    import re

    from mit_map_reduce_spark.plans import physical_plan
    from mit_map_reduce_spark.plans.inspect import strip_cached_subtrees

    plan = strip_cached_subtrees(physical_plan(df))
    hist: dict[str, int] = {}
    for node in re.findall(_JOIN_NODE_RE, plan):
        hist[node] = hist.get(node, 0) + 1
    return hist


def main() -> None:
    if "--worker" in sys.argv:
        worker(sys.argv[sys.argv.index("--worker") + 1])
        return
    if "--skew-worker" in sys.argv:
        skew_worker(sys.argv[sys.argv.index("--skew-worker") + 1])
        return
    if "--skew" in sys.argv:
        k = 30
        if "--scales" in sys.argv:
            k = int(sys.argv[sys.argv.index("--scales") + 1])
        d = build_skew_corpus(k)
        print(f"# skew corpus x{k} at {d}", file=sys.stderr)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--skew-worker", d],
            capture_output=True,
            text=True,
            timeout=3600,
            env=dict(os.environ),
        )
        if proc.returncode != 0:
            print(proc.stderr[-4000:], file=sys.stderr)
            raise SystemExit("skew worker failed")
        out = proc.stdout.strip().splitlines()[-1]
        for name, r in json.loads(out).items():
            print(f"# {name}: {json.dumps(r)}", file=sys.stderr)
        print(out)
        return

    from tools.scaling_curve import build_corpus, build_graph_corpus

    if "--lazy-cache" in sys.argv:
        # One fresh worker subprocess per (consumer, scale) — each
        # consumer must be the FIRST query of its session or the
        # "cold" plan is not cold (an earlier query may have
        # materialized the shared cache).
        scales = [10, 30]
        if "--scales" in sys.argv:
            scales = [
                int(s) for s in sys.argv[sys.argv.index("--scales") + 1].split(",")
            ]
        findings: list[str] = []
        rows: dict[str, dict] = {}
        for caches, consumer, corpus in LAZY_CACHE_PAIRS:
            for k in scales:
                d = build_graph_corpus(k) if corpus == "rel" else build_corpus(k)
                env = dict(os.environ)
                env["MMRS_TARGETS"] = consumer
                env["MMRS_CAPTURE_PLANS"] = "1"
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--worker", d],
                    capture_output=True,
                    text=True,
                    timeout=3600,
                    env=env,
                )
                if proc.returncode != 0:
                    print(proc.stderr[-4000:], file=sys.stderr)
                    raise SystemExit(f"lazy-cache worker failed: {consumer} x{k}")
                r = json.loads(proc.stdout.strip().splitlines()[-1])[consumer]
                cold, warm = r["cold"], r["warm"]
                flip = cold.get("joins") != warm.get("joins")
                # the dangerous direction: a cold-only broadcast (the
                # misestimate) paired with cold peak memory far above
                # warm — the minhash signature (737 MB at x10)
                cold_bc = cold.get("joins", {}).get("BroadcastHashJoin", 0)
                warm_bc = warm.get("joins", {}).get("BroadcastHashJoin", 0)
                suspect = flip and (
                    cold_bc > warm_bc
                    and cold["peak_mem_mb"] > 2 * max(warm["peak_mem_mb"], 64)
                )
                rows[f"{consumer}@x{k}"] = {
                    "caches": caches,
                    "cold_joins": cold.get("joins"),
                    "warm_joins": warm.get("joins"),
                    "plan_flip": flip,
                    "suspect_broadcast_misestimate": suspect,
                    "cold_peak_mb": cold["peak_mem_mb"],
                    "warm_peak_mb": warm["peak_mem_mb"],
                    "cold_spill_mb": cold["spill_mb"],
                    "warm_spill_mb": warm["spill_mb"],
                }
                line = (
                    f"# x{k} {consumer} [{caches}]: "
                    f"{json.dumps(rows[f'{consumer}@x{k}'])}"
                )
                print(line, file=sys.stderr)
                if suspect:
                    findings.append(f"{consumer}@x{k}")
        print(json.dumps({"scales": scales, "rows": rows, "suspects": findings}))
        if findings:
            raise SystemExit(f"broadcast-misestimate suspects: {findings}")
        return

    scales = [1, 10]
    if "--scales" in sys.argv:
        scales = [int(s) for s in sys.argv[sys.argv.index("--scales") + 1].split(",")]
    rel_mode = "--rel" in sys.argv
    env = dict(os.environ)
    if rel_mode and not env.get("MMRS_TARGETS"):
        env["MMRS_TARGETS"] = ",".join(REL_TARGETS)
    results: dict[int, dict] = {}
    for k in scales:
        d = build_graph_corpus(k) if rel_mode else build_corpus(k)
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
            for phase in ("cold", "warm"):
                print(f"# x{k} {name} [{phase}]: {json.dumps(r[phase])}", file=sys.stderr)
    print(json.dumps({"scales": scales, "results": {str(k): v for k, v in results.items()}}))


if __name__ == "__main__":
    main()
