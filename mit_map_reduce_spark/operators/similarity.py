"""Similarity search over the ``embeddings`` table (beyond-reference).

Two paths, as a large-scale pipeline needs both:

- brute-force top-k: broadcast the (small) query set against the full
  corpus — one scan, no shuffle of the corpus, per-query top-k via a
  window. Exact; cost O(|corpus| * |queries|).
- LSH-bucketed top-k: random-hyperplane signatures bucket the corpus;
  candidates are bucket-mates only. The corpus is scanned once to
  compute signatures, then the search is an equi-join on the bucket
  key — this is the plan shape that survives a 100 TB corpus, at the
  price of approximate recall.

Hyperplanes are derived from md5 hex digits (driver-side hashlib,
oracle twin functions.columns.sql_hex_int) instead of an RNG so the
DuckDB oracle reproduces them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mit_map_reduce_spark.catalog import (
    PUBLISH_REV,
    corpus_fingerprint,
    load_table,
    publish_once,
    scoped_conf,
    scratch_base,
    shared_persist,
    spread,
    table_footer_count,
    truncate_lineage,
    volume_width,
)
from mit_map_reduce_spark.functions.columns import round_half_up, dot_product, sql_hex_int, vec_norm

TOP_K = 5
N_PLANES = 4  # 2^4 = 16 buckets
DIM = 64
QUERY_FILTER = "vec_id % 100 = 0"  # deterministic small query set


def _emb_with_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The normed embedding corpus, persisted ONCE per session via the
    shared-cache registry: every similarity/dedup consumer (bruteforce
    scan, LSH buckets, IVF training + assignment, banded dedup) probes
    the same cached copy instead of re-scanning and re-norming — and no
    query re-persists an identical lineage (the round-2 CacheManager
    warning source)."""

    def build() -> DataFrame:
        emb = spread(load_table(spark, sf_dir, "embeddings"))
        return emb.select("vec_id", "embedding", vec_norm(F.col("embedding")).alias("nrm"))

    return shared_persist(spark, "emb_norm", sf_dir, build)


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for each query vector (vec_id % 100 == 0)."""
    emb = _emb_with_norm(spark, sf_dir)
    queries = emb.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot_product(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))).alias("c"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("c").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", round_half_up("c", 4).alias("cos"))
    )


def ann_bruteforce_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k, Arrow/NumPy scoring path — bit-identical
    output to :func:`ann_bruteforce_topk` (pinned by test), several
    times faster on the scoring stage.

    The HOF path broadcast-joins queries against the corpus, so the
    JVM evaluates |corpus| * |queries| interpreted folds. Here the
    corpus streams through ``mapInPandas`` ONCE; each Arrow batch is
    scored against the closure-captured query matrix with one NumPy op
    per dimension (see ``functions/vectorized.py`` for why that
    accumulation order is bit-identical to the fold). The query set is
    gathered to the driver first — the same tiny relation the HOF path
    broadcasts (F.broadcast does the identical collect internally);
    at 100 TB the query matrix is a fixed-size artifact shipped with
    the task closure, while the corpus still never shuffles.
    """
    from mit_map_reduce_spark.functions.vectorized import SCORED_SCHEMA, batch_query_scorer

    emb = _emb_with_norm(spark, sf_dir)
    qrows = emb.filter(F.expr(QUERY_FILTER)).select("vec_id", "embedding", "nrm").collect()
    scorer = batch_query_scorer(
        [r.vec_id for r in qrows],
        [r.embedding for r in qrows],
        [r.nrm for r in qrows],
        topk=TOP_K,  # per-batch pre-selection; lossless for global top-k
    )
    # volume-derived Python-stage width (r15, guide §2/§4): per-task
    # work is rows x |queries| x dim flops; ~3M candidate dots per
    # task keeps tasks ~200 Mflop, far above the fixed per-task
    # Python cost (catalog.volume_width: ~0.08 CPU-s per
    # mapInPandas task). coalesce is narrow: never exceeds the
    # cached corpus's one-task-wave width.
    n_vec = table_footer_count(sf_dir, "embeddings")
    width = volume_width(n_vec * max(1, n_vec // 100), 3_000_000)
    scored = emb.coalesce(width).mapInPandas(scorer, schema=SCORED_SCHEMA)
    w = W.partitionBy("query_id").orderBy(F.col("c").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", round_half_up("c", 4).alias("cos"))
    )


def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label vote: each query vector's predicted label is the
    majority label among its exact top-k cosine neighbors — the
    label-propagation / weak-supervision primitive of a training-data
    pipeline (auto-labeling new samples from a labeled corpus).

    Composes the exact top-k (one corpus scan, broadcast queries) with
    a broadcast label lookup and a tiny per-query vote; ties break to
    the smaller label id in both engines.
    """
    topk = ann_bruteforce_topk(spark, sf_dir)
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    q_labels = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    votes = (
        topk.join(F.broadcast(labels), topk.neighbor_id == labels.vec_id)
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("n_votes"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("n_votes").desc(), F.col("label"))
    pick = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "n_votes")
    )
    return pick.join(F.broadcast(q_labels), "query_id").select(
        "query_id", "true_label", "pred_label", "n_votes"
    )


def _plane(h: int) -> list[float]:
    """Hyperplane h: component j = hexval(md5(h || '_' || j)[0]) - 7.5.

    Derived from indices only — plane constants, not data — so they
    are computed driver-side (hashlib md5 == Spark md5 == DuckDB md5
    on the same strings) and embedded as literals.
    """
    import hashlib

    return [
        int(hashlib.md5(f"{h}_{j}".encode()).hexdigest()[0], 16) - 7.5
        for j in range(DIM)
    ]


def _plane_dot(h: int) -> Column:
    """embedding . plane h: a left-to-right fold of the ``embedding``
    column against plane h's md5-derived constants embedded as
    literals — map-side, zero shuffle, whole-stage codegen. The LSH
    signs, the random projection and dedup's band keys all use it."""
    plane = F.array(*[F.lit(p) for p in _plane(h)])
    return F.aggregate(
        F.zip_with(F.col("embedding"), plane, lambda x, p: x.cast("double") * p),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _signatures(emb: DataFrame) -> DataFrame:
    """(vec_id, bucket): bucket = concat of hyperplane signs.

    Pure map-side projection: each sign is a fold of the embedding
    against a literal plane vector. The earlier formulation
    (posexplode + broadcast join + two aggregations) shuffled a
    (vec_id, h, partial-dot) stream; hyperplanes being constants, no
    shuffle is needed at all.
    """

    def sign(h: int):
        return F.when(_plane_dot(h) >= 0, F.lit("1")).otherwise(F.lit("0"))

    bucket = F.concat(*[sign(h) for h in range(N_PLANES)])
    return emb.select("vec_id", bucket.alias("bucket"))


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k with MULTI-PROBE: candidates come from the
    query's own LSH bucket plus every bucket at Hamming distance 1
    (one sign flipped).

    Multi-probe is the standard recall lever that does NOT cost extra
    hash tables or corpus passes: only the (tiny) query side fans out
    to 1 + N_PLANES probe rows; the corpus keeps one signature and the
    search is still a bucket equi-join. Near neighbors that fall just
    across one hyperplane — the dominant LSH miss mode — are recovered.
    """
    emb = _emb_with_norm(spark, sf_dir)
    sig = _signatures(emb)
    embs = emb.join(sig, "vec_id")
    queries = embs.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )

    def flip(b: int):
        # bucket with bit b inverted ('0' <-> '1' at position b+1)
        bit = F.substring(F.col("q_bucket"), b + 1, 1)
        inv = F.when(bit == "1", F.lit("0")).otherwise(F.lit("1"))
        return F.concat(
            F.substring(F.col("q_bucket"), 1, b),
            inv,
            F.substring(F.col("q_bucket"), b + 2, N_PLANES - b - 1),
        )

    probes = queries.withColumn(
        "probe",
        F.explode(F.array(F.col("q_bucket"), *[flip(b) for b in range(N_PLANES)])),
    )
    cand = embs.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("probe")) & (F.col("vec_id") != F.col("query_id")),
    ).drop("probe").dropDuplicates(["query_id", "vec_id"])
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot_product(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))).alias("c"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("c").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", round_half_up("c", 4).alias("cos"))
    )


#: IVF coarse quantizer: k-means-trained centroids with FIXED k — the
#: centroid count no longer grows with the corpus (round-1 weakness:
#: ``vec_id % 50`` seeds meant k = n/50, unbounded at 100 TB). Training
#: is deterministic end-to-end (hash-picked seeds, Lloyd updates with
#: means rounded to 6 dp) so the DuckDB oracle reproduces the cells
#: exactly; the 6-dp rounding also absorbs cross-engine float-sum-order
#: ulps before they can flip an assignment.
K_CELLS = 16
KMEANS_ITERS = 2
MEAN_DIGITS = 6  # centroid means rounded to this many decimals
N_PROBE = 2
#: Training runs on a deterministic 1-in-4 sample of the corpus — the
#: standard IVF recipe (the quantizer needs the density shape, not
#: every point; faiss trains on ~1e5-1e6 samples regardless of corpus
#: size). Only the single final assignment pass touches every vector.
TRAIN_SAMPLE_MOD = 4


#: IVF-assignment rows per Python task: k(16) x dim(64) multiply-adds
#: per row -> ~200 Mflop per task, far above the measured fixed
#: per-task Python cost (~0.08 CPU-s per mapInPandas task, see
#: catalog.volume_width).
ASSIGN_ROWS_PER_TASK = 200_000


def _assign_cells(
    embs: DataFrame, cents: DataFrame, n_best: int = 1, n_rows: int | None = None
) -> DataFrame:
    """(vec_id, cell): each vector's ``n_best`` nearest centroids by
    cosine, ties to the lower centroid id — the O(n*k) IVF assignment.

    Vectorized: the k <= 16 centroid rows collect to the driver (the
    same materialization ``F.broadcast(cents)`` performs internally)
    and each corpus Arrow batch computes all k dots in NumPy with the
    exact sequential accumulation, so assignments and tie-breaks are
    bit-identical to the earlier Catalyst-fold formulation (crossJoin
    with broadcast centroids + ``max_by(cent_id, struct(c, -cent_id))``)
    while the corpus still streams through exactly once, map-side, and
    only (vec_id, cell) rows ever reach an exchange.
    """
    from mit_map_reduce_spark.functions.vectorized import ASSIGN_SCHEMA, cell_assign_scorer

    rows = sorted(
        cents.select("cent_id", "c_emb", "c_nrm").collect(), key=lambda r: r.cent_id
    )
    scorer = cell_assign_scorer(
        [r.cent_id for r in rows],
        [r.c_emb for r in rows],
        [r.c_nrm for r in rows],
        n_best=n_best,
    )
    if n_rows is not None:
        # volume-derived Python-stage width (r15, guide §2/§4): a tiny
        # input must not fan one fixed-cost Python task per cached
        # corpus partition; coalesce is narrow and never exceeds the
        # cache's own width, so at scale this is a no-op.
        embs = embs.coalesce(volume_width(n_rows, ASSIGN_ROWS_PER_TASK, floor=4))
    return embs.select("vec_id", "embedding", "nrm").mapInPandas(scorer, ASSIGN_SCHEMA)


def _trained_centroids(emb: DataFrame) -> DataFrame:
    """K-means coarse quantizer: (cent_id, c_emb, c_nrm), ``K_CELLS``
    rows after ``KMEANS_ITERS`` Lloyd iterations.

    - Trains on the deterministic 1-in-TRAIN_SAMPLE_MOD sample (at
      100 TB: a fixed-size hash sample) — the corpus-sized passes are
      confined to the single final assignment.
    - Seeds: the k sample vectors with the smallest md5(vec_id) — a
      deterministic pseudo-random pick with fixed k, via a distributed
      top-k (orderBy+limit -> TakeOrdered), never a global
      one-partition sort.
    - Each iteration: broadcast-assign (map-side O(n_sample*k)), then a
      per-(cell, dim) mean — the only shuffle, and its output is k*dim
      rows regardless of corpus size.
    """
    sample = emb.filter(F.col("vec_id") % TRAIN_SAMPLE_MOD == 0)
    seeds = (
        sample.select(
            "vec_id", "embedding", "nrm", F.md5(F.col("vec_id").cast("string")).alias("h")
        )
        .orderBy("h", "vec_id")
        .limit(K_CELLS)
    )
    cents = seeds.select(
        (F.row_number().over(W.orderBy("h", "vec_id")) - 1).alias("cent_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    for _ in range(KMEANS_ITERS):
        assign = _assign_cells(sample, cents)
        comps = sample.join(assign, "vec_id").select(
            "cell", F.posexplode("embedding").alias("j", "x")
        )
        means = comps.groupBy("cell", "j").agg(
            round_half_up(F.avg(F.col("x").cast("double")), MEAN_DIGITS).alias("m")
        )
        cents = (
            means.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("j", "m"))).alias("jm"))
            .select(
                F.col("cell").alias("cent_id"),
                F.transform("jm", lambda s: s["m"]).alias("c_emb"),
            )
            .withColumn("c_nrm", vec_norm(F.col("c_emb")))
        )
    return cents


def _centroids_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once centroid artifact: the k-means quantizer trains on
    the first call per corpus and is materialized as a parquet
    side-output; every later search (same process or a later one on the
    same machine) reads the 16-row artifact instead of re-running the
    Lloyd iterations inside the query — the faiss ``train()`` /
    ``search()`` split. Trained and published through
    ``catalog.publish_once`` (lock, temp dir + marker, atomic rename),
    so concurrent first calls train once and a crashed trainer can
    never leave a half-artifact that later runs silently trust.
    """
    import hashlib
    import os

    # The key includes every training parameter: a code change that
    # alters training must never silently reuse an artifact trained by
    # the old code (the artifact would win any staleness race against
    # the oracle, which always reflects current parameters). It also
    # includes the embeddings table's content fingerprint — the driver
    # regenerates testdata in place, and centroids trained on the OLD
    # corpus would silently misassign cells on the new one — and the
    # publish protocol's revision.
    fp = corpus_fingerprint(sf_dir, "embeddings")
    params = f"{os.path.abspath(sf_dir)}|{fp}|k={K_CELLS}|it={KMEANS_ITERS}|dp={MEAN_DIGITS}|mod={TRAIN_SAMPLE_MOD}|{PUBLISH_REV}"
    tag = hashlib.md5(params.encode()).hexdigest()[:12]

    def train(d: str) -> None:
        cents = _trained_centroids(_emb_with_norm(spark, sf_dir))
        cents.coalesce(1).write.parquet(d)

    return spark.read.parquet(
        publish_once(train, os.path.join(scratch_base(), "mmrs_ivf_centroids", tag))
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat top-k over trained cells: assign every vector to its
    nearest k-means centroid; probe only the ``N_PROBE`` cells nearest
    each query.

    The inverted-file structure is the (cell -> vectors) partitioning;
    search is an equi-join on the cell key — like the LSH path, the
    corpus never cross-joins itself. Tie-breaks (equal cosine) go to
    the lower centroid id in both engines. Training happens at most
    once per corpus (``_centroids_artifact``); the search itself is a
    single corpus scan + two broadcast joins.
    """
    # Normed corpus comes from the session-shared cache (one persisted
    # copy feeds training, assignment, query and probe subtrees — and
    # every other embedding operator in the session).
    emb = _emb_with_norm(spark, sf_dir)
    cents = _centroids_artifact(spark, sf_dir)
    n_vec = table_footer_count(sf_dir, "embeddings")
    assign = _assign_cells(emb, cents, n_rows=n_vec)
    queries = emb.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    probe = _assign_cells(
        emb.filter(F.expr(QUERY_FILTER)), cents, n_best=N_PROBE, n_rows=n_vec // 100 + 1
    ).select(F.col("vec_id").alias("query_id"), "cell")
    corpus = emb.join(assign, "vec_id")
    cand = corpus.join(F.broadcast(probe), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    # Candidate scoring rides the pairwise Arrow/NumPy dot (the pair
    # set is already materialized by the cell join and bounded by
    # n_probe * cell occupancy — no broadcast blow-up), bit-identical
    # to the fold per functions/vectorized.py. The Python stage's
    # width follows the CANDIDATE volume (queries x n_probe x cell
    # occupancy), not the corpus cache layout (r15, guide §2/§4).
    from mit_map_reduce_spark.functions.vectorized import cosine_np

    est_cand = (n_vec // 100 + 1) * N_PROBE * (n_vec // K_CELLS + 1)
    cand = cand.coalesce(volume_width(est_cand, 3_000_000))
    scored = cand.join(F.broadcast(queries), "query_id").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_np(
            F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")
        ).alias("c"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("c").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", round_half_up("c", 4).alias("cos"))
    )


# --- random-projection dimensionality reduction (round 4) ----------------

RP_DIM = 16  # output dims (64 -> 16, 4x smaller vectors)


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss-style random projection 64 -> RP_DIM — the
    dimensionality-reduction step before clustering / coarse ANN when
    even int8 lanes are too wide. Plane h reuses the md5-derived
    constants of the LSH hyperplanes (``_plane``): driver-side hashlib
    md5 equals both engines' md5, so the coefficients embed as
    literals and the projection is a pure map-side fold per output dim
    — zero shuffle, whole-stage codegen, no Python at runtime.

    Output: one column per projected dim (rounded like the cosine
    queries) — arrays don't survive the differential harness's hash.
    """
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return emb.select(
        "vec_id",
        *[round_half_up(_plane_dot(h), 4).alias(f"p{h:02d}") for h in range(RP_DIM)],
    )


def _rp_oracle_sql() -> str:
    """Literal-coefficient twin: each output dim is the same
    left-to-right sum of embedding[i] * plane constant."""
    cols = []
    for h in range(RP_DIM):
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * ({c})"
            for i, c in enumerate(_plane(h))
        )
        cols.append(f"floor(({terms}) * 10000.0 + 0.5) / 10000.0 AS p{h:02d}")
    sep = ",\n               "
    return f"""
        SELECT vec_id,
               {sep.join(cols)}
        FROM embeddings
    """


# --- MMR diversified retrieval (round 4) ---------------------------------

MMR_LAMBDA = 0.7  # relevance weight; 1-MMR_LAMBDA weighs diversity
MMR_POOL = 15  # candidate pool per query (from exact retrieval)
MMR_K = 5  # diversified picks per query
MMR_SIM_DIGITS = 6  # similarity rounding for cross-engine determinism


def ann_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking — the diversification
    stage after retrieval: greedily pick MMR_K results per query
    maximizing ``LAMBDA*rel(q,d) - (1-LAMBDA)*max_{s in picked}
    sim(d,s)``, so near-duplicate hits don't crowd the result list.

    Scale shape: MMR is inherently a POST-retrieval operator — it only
    ever touches the fixed-size candidate pool (MMR_POOL rows and
    MMR_POOL^2 pairwise sims per query), so its cost is constant per
    query no matter the corpus size; the corpus-sized work happened in
    the retrieval stage feeding it. The greedy loop is MMR_K-1 rounds
    of tiny joins, eagerly materialized like the other iterative
    builders and cached once per (session, corpus) via the registry.
    Determinism contract: all similarities round to MMR_SIM_DIGITS
    before any comparison (like the IVF centroid means), ties break to
    the smallest neighbor id; the oracle unrolls the same greedy
    rounds as chained CTEs.
    """
    def build():
        # The greedy rounds shuffle kilobytes; at the session's stock
        # partition count each round schedules hundreds of near-empty
        # tasks (the graph-loop lesson — scope the setting down).
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": 8}):
            return _mmr_build(spark, sf_dir)

    sel = shared_persist(spark, "mmr_topk", sf_dir, build)
    return sel.select(
        "query_id",
        F.col("pick_rank").cast("int").alias("pick_rank"),
        "neighbor_id",
        round_half_up("rel", 4).alias("relevance"),
    )


def _mmr_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The greedy MMR rounds (see ann_mmr_diversified_topk); runs
    under a scoped-down shuffle-partition setting."""
    emb = _emb_with_norm(spark, sf_dir)
    queries = emb.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    rel6 = round_half_up(
        dot_product(F.col("q_emb"), F.col("embedding"))
        / (F.col("q_nrm") * F.col("nrm")),
        MMR_SIM_DIGITS,
    )
    scored = emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), rel6.alias("rel")
    )
    w = W.partitionBy("query_id").orderBy(F.col("rel").desc(), "neighbor_id")
    pool = (
        scored.withColumn("prank", F.row_number().over(w))
        .filter(F.col("prank") <= MMR_POOL)
        .select("query_id", "neighbor_id", "rel")
        .persist()
    )
    pool.count()
    pe = pool.join(
        emb.select("vec_id", "embedding", "nrm"),
        pool.neighbor_id == F.col("vec_id"),
    ).select("query_id", "neighbor_id", "rel", "embedding", "nrm")
    a = pe.select(
        "query_id",
        F.col("neighbor_id").alias("a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = pe.select(
        F.col("query_id").alias("qb"),
        F.col("neighbor_id").alias("b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    psim6 = round_half_up(
        dot_product(F.col("emb_a"), F.col("emb_b"))
        / (F.col("nrm_a") * F.col("nrm_b")),
        MMR_SIM_DIGITS,
    )
    pairs = (
        a.join(b, (F.col("query_id") == F.col("qb")) & (F.col("a") != F.col("b")))
        .select("query_id", "a", "b", psim6.alias("psim"))
        .persist()
    )
    pairs.count()
    first = (
        pool.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "neighbor_id", F.lit(1).alias("pick_rank"), "rel")
    )
    # Eager lineage truncation throughout the loop (not persist):
    # truncating is the point (see below), and unpersist() is a no-op
    # on checkpointed frames anyway — superseded local-checkpoint RDDs
    # are released by the ContextCleaner once the Python reference
    # drops at reassignment.
    sel = truncate_lineage(first)
    for t in range(2, MMR_K + 1):
        rem = pool.join(sel, ["query_id", "neighbor_id"], "left_anti").alias("r")
        pr = pairs.alias("p")
        picked = sel.select(
            F.col("query_id").alias("qs"), F.col("neighbor_id").alias("sb")
        ).alias("s")
        div = (
            rem.join(
                pr,
                (F.col("r.query_id") == F.col("p.query_id"))
                & (F.col("r.neighbor_id") == F.col("p.a")),
            )
            .join(
                picked,
                (F.col("p.query_id") == F.col("s.qs")) & (F.col("p.b") == F.col("s.sb")),
            )
            .groupBy(F.col("r.query_id"), F.col("r.neighbor_id"), F.col("r.rel"))
            .agg(F.max(F.col("p.psim")).alias("div"))
        )
        score = F.lit(MMR_LAMBDA) * F.col("rel") - F.lit(1 - MMR_LAMBDA) * F.col("div")
        ws = W.partitionBy("query_id").orderBy(score.desc(), "neighbor_id")
        pick = (
            div.withColumn("rn", F.row_number().over(ws))
            .filter(F.col("rn") == 1)
            .select("query_id", "neighbor_id", F.lit(t).alias("pick_rank"), "rel")
        )
        # Each pick's plan nests the previous round's; although
        # caching would short-circuit EXECUTION, Catalyst still
        # re-analyzes the whole deepening tree every round — measured
        # 1.3s -> 7.8s of pure driver planning by round 5.
        # Truncating the lineage makes every round plan against a
        # flat scan.
        sel = truncate_lineage(sel.unionAll(pick))
    pool.unpersist()
    pairs.unpersist()
    return sel


# --- int8 symmetric quantization (round 4) -------------------------------

QUANT_MAX = 127  # int8 symmetric range


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding corpus — the
    storage/bandwidth step before ANN serving at 100 TB (4x smaller
    vectors, SIMD-dot-product-ready): per vector, scale = max |x_i|,
    q_i = round_half_up(x_i / scale * 127).

    Everything is Catalyst higher-order functions over the array
    column — one map-side pass, zero shuffle, no Python. The chained
    selects keep ``xd``/``scale`` as named single-assignment columns;
    CollapseProject leaves multi-referenced non-cheap aliases alone,
    so neither is re-evaluated per element. Summary integers (min,
    max, sum, L1) pin every lane of the quantized vector through the
    order-invariant integer-sum discipline; the scale is a single
    float (no summation), so 6-dp rounding is deterministic.
    """
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    xd = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("xd"),
    )
    scaled = xd.select(
        "vec_id",
        "xd",
        F.array_max(F.transform("xd", F.abs)).alias("scale"),
    )
    quant = scaled.select(
        "vec_id",
        "scale",
        F.transform(
            "xd",
            # scale == 0 (all-zero vector) quantizes to all-zero lanes
            # — without the guard both engines hit 0/0 and diverge.
            lambda v: F.when(F.col("scale") == 0, F.lit(0).cast("bigint")).otherwise(
                F.floor(v / F.col("scale") * QUANT_MAX + F.lit(0.5))
            ),
        ).alias("q"),
    )
    zero = F.lit(0).cast("bigint")
    return quant.select(
        "vec_id",
        round_half_up("scale", 6).alias("scale"),
        F.size("q").alias("n_dims"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
        F.aggregate("q", zero, lambda a, v: a + v).alias("q_sum"),
        F.aggregate("q", zero, lambda a, v: a + F.abs(v)).alias("q_l1"),
    )


NEG_K = 5  # hard negatives mined per query


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the ``NEG_K`` highest-cosine neighbors whose LABEL differs
    — the examples most likely to confuse a retriever, which is
    exactly what a contrastive loss wants in the denominator (the
    standard ANN-mine step of DPR/SimCSE-style pipelines; uniform
    random negatives are too easy to teach anything).

    Runs on the IVF index, not brute force: probe the query's
    ``N_PROBE`` nearest trained cells, score only cell-mates, drop
    same-label candidates, keep top-``NEG_K``. Same scale shape as
    ``ann_ivf_topk`` — one corpus scan, broadcast probes/queries,
    candidate fan-out bounded by cell occupancy — plus one broadcast
    label lookup. Ties break to the lower neighbor id on the rounded
    cosine rank order's raw score like every ANN query here.
    """
    emb = _emb_with_norm(spark, sf_dir)
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    cents = _centroids_artifact(spark, sf_dir)
    n_vec = table_footer_count(sf_dir, "embeddings")
    assign = _assign_cells(emb, cents, n_rows=n_vec)
    corpus = emb.join(assign, "vec_id").join(labels, "vec_id")
    q_base = emb.filter(F.expr(QUERY_FILTER))
    queries = q_base.join(labels, "vec_id").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("label").alias("q_label"),
    )
    probe = _assign_cells(
        q_base, cents, n_best=N_PROBE, n_rows=n_vec // 100 + 1
    ).select(F.col("vec_id").alias("query_id"), "cell")
    cand = corpus.join(F.broadcast(probe), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    # candidate-volume Python-stage width, as in ann_ivf_topk (r15)
    est_cand = (n_vec // 100 + 1) * N_PROBE * (n_vec // K_CELLS + 1)
    cand = cand.coalesce(volume_width(est_cand, 3_000_000))
    scored = (
        cand.join(F.broadcast(queries), "query_id")
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            "q_label",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("neg_label"),
            (
                dot_product(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("c"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("c").desc(), F.col("negative_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= NEG_K)
        .select(
            "query_id",
            "q_label",
            "negative_id",
            "neg_label",
            "rank",
            round_half_up("c", 4).alias("cos"),
        )
    )


def _hardneg_oracle_sql() -> str:
    vc_dot = (
        f"list_sum(list_transform(range(1, {DIM + 1}),"
        " i -> CAST(v.embedding[i] AS DOUBLE) * c.c_emb[i]))"
    )
    prev = f"c{KMEANS_ITERS}"
    return (
        _ivf_assign_prefix_sql()
        + f""",
        probe AS (
            SELECT vec_id AS query_id, cell FROM (
                SELECT v.vec_id, c.cent_id AS cell,
                       row_number() OVER (PARTITION BY v.vec_id
                           ORDER BY {vc_dot} / (v.nrm * c.c_nrm) DESC, c.cent_id) AS rn
                FROM nrm v CROSS JOIN {prev} c
                WHERE v.vec_id % 100 = 0
            ) WHERE rn <= {N_PROBE}
        ),
        scored AS (
            SELECT p.query_id, ql.label AS q_label,
                   a.vec_id AS negative_id, cl.label AS neg_label,
                   {_DOT.format(dim1=DIM + 1)} / (q.nrm * c.nrm) AS c
            FROM probe p
            JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
            JOIN nrm q ON q.vec_id = p.query_id
            JOIN nrm c ON c.vec_id = a.vec_id
            JOIN embeddings ql ON ql.vec_id = p.query_id
            JOIN embeddings cl ON cl.vec_id = a.vec_id
            WHERE ql.label <> cl.label
        ),
        ranked AS (
            SELECT query_id, q_label, negative_id, neg_label,
                   CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY c DESC, negative_id) AS INTEGER) AS rank,
                   floor((c) * 10000.0 + 0.5) / 10000.0 AS cos
            FROM scored
        )
        SELECT query_id, q_label, negative_id, neg_label, rank, cos
        FROM ranked WHERE rank <= {NEG_K}
    """
    )


#: SemDeDup duplicate threshold — the same calibrated cosine cut as
#: the pairwise dedup baselines (dedup.COSINE_DUP_THRESHOLD).
SEMDEDUP_T = 0.35


def semantic_dedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster embeddings with the trained IVF quantizer, then WITHIN each
    cell drop every vector whose cosine to a lower-id cell-mate
    reaches ``SEMDEDUP_T`` — the id order is the deterministic stand-in
    for SemDeDup's "keep one example per semantic duplicate group".
    One row per vector: (vec_id, cell, kept).

    This is the scale path the quadratic ``dedup_embedding_cosine``
    baseline points at: the corpus never self-joins globally — the
    pair join keys on the cell id, so comparisons are quadratic only
    in CELL occupancy. K_CELLS is fixed 16 here; at 100 TB you raise
    it with the corpus (SemDeDup uses ~10k-50k clusters) so occupancy
    — and with it the per-cell pair fan-out — stays bounded, exactly
    like raising EMB_LSH rows/bands or IVF K_CELLS. Training is the
    shared train-once centroid artifact; the threshold compares the
    4-dp-ROUNDED cosine (HOF fold = DuckDB list_sum order), so the
    verdict cannot flip on engine ulps.
    """
    emb = _emb_with_norm(spark, sf_dir)
    cents = _centroids_artifact(spark, sf_dir)
    assign = _assign_cells(
        emb, cents, n_rows=table_footer_count(sf_dir, "embeddings")
    )
    # spread AFTER the narrow assignment: the intra-cell pair join
    # below is the CPU-heavy stage (occupancy-quadratic interpreted
    # cosine folds) and must not inherit the Python stage's
    # volume-derived (tiny) width — measured 7s single-task without
    # this (r15).
    tagged = spread(emb.join(assign, "vec_id"))
    a, b = tagged.alias("a"), tagged.alias("b")
    cos = dot_product(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") > F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"), round_half_up(cos, 4).alias("c")
        )
        .filter(F.col("c") >= SEMDEDUP_T)
        .select("vec_id")
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return assign.join(dropped, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.col("is_dup").isNull().alias("kept"),
    )


def _semdedup_oracle_sql() -> str:
    dot = (
        f"list_sum(list_transform(range(1, {DIM + 1}),"
        " i -> CAST(va.embedding[i] AS DOUBLE) * CAST(vb.embedding[i] AS DOUBLE)))"
    )
    return (
        _ivf_assign_prefix_sql()
        + f""",
        dup AS (
            SELECT DISTINCT a.vec_id
            FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id > b.vec_id
            JOIN nrm va ON va.vec_id = a.vec_id
            JOIN nrm vb ON vb.vec_id = b.vec_id
            WHERE floor({dot} / (va.nrm * vb.nrm) * 10000.0 + 0.5) / 10000.0
                  >= {SEMDEDUP_T}
        )
        SELECT t.vec_id, CAST(t.cell AS INTEGER) AS cell,
               (d.vec_id IS NULL) AS kept
        FROM assign t LEFT JOIN dup d ON t.vec_id = d.vec_id
    """
    )


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index against exact brute force, as a
    first-class auditable query (not just a pytest): per query, how
    many of the true top-k the index actually returned — the
    accuracy/cost dial every ANN deployment monitors when retuning
    K_CELLS / N_PROBE after a corpus shift.

    Both sides reuse the session-shared normed corpus and the
    train-once centroid artifact, so the report costs one extra
    probe-set equi-join over the already-cached structures; the
    recall is a ratio of two small exact integers per query.
    """
    exact = ann_bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = ann_ivf_topk(spark, sf_dir).select(
        F.col("query_id").alias("qi"), F.col("neighbor_id").alias("ni")
    )
    matched = exact.join(
        ivf,
        (exact.query_id == ivf.qi) & (exact.neighbor_id == ivf.ni),
        "left",
    )
    per_q = matched.groupBy("query_id").agg(
        F.count("*").alias("k"), F.count("ni").alias("n_matched")
    )
    return per_q.select(
        "query_id",
        "n_matched",
        round_half_up(F.col("n_matched").cast("double") / F.col("k"), 4).alias(
            "recall_at_k"
        ),
    )


def _dequantized_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e, nrm): the corpus as int8-quantize-then-dequantize
    doubles — what a serving stack actually compares after 4x
    compression. q_i and the per-vector scale are the exact
    expressions of ``embedding_quantize_int8`` (raw scale: a single
    array_max, no summation, so both engines hold the identical
    double); deq_i = q_i * scale / QUANT_MAX.
    """
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    xd = emb.select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("xd")
    )
    scaled = xd.select(
        "vec_id", "xd", F.array_max(F.transform("xd", F.abs)).alias("scale")
    )
    deq = scaled.select(
        "vec_id",
        F.transform(
            "xd",
            lambda v: F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
                F.floor(v / F.col("scale") * QUANT_MAX + F.lit(0.5))
                * F.col("scale")
                / QUANT_MAX
            ),
        ).alias("e"),
    )
    return deq.select("vec_id", "e", vec_norm(F.col("e")).alias("nrm"))


def quantization_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of int8-quantized search against full-precision search
    — the accuracy price of the 4x compression
    (``embedding_quantize_int8``), measured the way serving feels it:
    BOTH sides quantized, exact top-k over the reconstructed doubles,
    overlap against the float top-k per query. Completes the report
    family (ANN recall, LSH tuning, modularity): every lossy step in
    the pipeline ships with its own quality readout.

    Same plan shape as the brute-force baseline (broadcast query set,
    one corpus scan, per-query window) — run at audit SF like the
    other exact baselines; at 100 TB the same comparison rides the
    IVF probe set instead of the full scan.
    """
    exact = ann_bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    dq = _dequantized_corpus(spark, sf_dir)
    queries = dq.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("q_e"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = dq.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            dot_product(F.col("q_e"), F.col("e"))
            / (F.col("q_nrm") * F.col("nrm"))
        ).alias("c"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("c").desc(), F.col("neighbor_id"))
    q_topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            F.col("query_id").alias("qi"), F.col("neighbor_id").alias("ni")
        )
    )
    matched = exact.join(
        q_topk,
        (exact.query_id == q_topk.qi) & (exact.neighbor_id == q_topk.ni),
        "left",
    )
    per_q = matched.groupBy("query_id").agg(
        F.count("*").alias("k"), F.count("ni").alias("n_matched")
    )
    return per_q.select(
        "query_id",
        "n_matched",
        round_half_up(F.col("n_matched").cast("double") / F.col("k"), 4).alias(
            "recall_at_k"
        ),
    )


#: Norm grain: norms rounded to 1e-6 before cross-row summation so
#: the average is an exact-integer ratio (the money-grain discipline
#: applied to vector magnitudes).
NORM_GRAIN = 1_000_000
#: Degenerate-norm floor: vectors shorter than this are unusable for
#: cosine retrieval (normalization divides by ~0).
NORM_FLOOR = 1e-6


def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QA audit per label: vector counts, dimension
    violations, degenerate (near-zero-norm) vectors, and the norm
    distribution (min/mean/max) — the sanity gate an embedding
    pipeline runs before building any index on a new batch (a stray
    zero vector silently poisons cosine math; a dimension mismatch
    breaks every dot product after it).

    One map-side pass computes each vector's norm and dimension; the
    per-label rollup sums exact integers only (norms pre-rounded to
    1e-6 grains, the cross-engine discipline for float sums), so the
    report is bit-stable at any partitioning. One partial-aggregated
    shuffle on the label key.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = vec_norm(F.col("embedding"))
    per_vec = emb.select(
        "label",
        F.size("embedding").alias("dim"),
        nrm.alias("nrm"),
        F.floor(nrm * NORM_GRAIN + F.lit(0.5)).cast("long").alias("nrm_g"),
    )
    sums = per_vec.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.count(F.when(F.col("dim") != DIM, 1)).alias("n_bad_dim"),
        F.count(F.when(F.col("nrm") < NORM_FLOOR, 1)).alias("n_degenerate"),
        F.min("nrm").alias("min_nrm"),
        F.max("nrm").alias("max_nrm"),
        F.sum("nrm_g").alias("nrm_g_sum"),
    )
    return sums.select(
        "label",
        "n_vectors",
        "n_bad_dim",
        "n_degenerate",
        round_half_up("min_nrm", 4).alias("min_norm"),
        round_half_up(
            F.col("nrm_g_sum").cast("double") / NORM_GRAIN / F.col("n_vectors"), 4
        ).alias("mean_norm"),
        round_half_up("max_nrm", 4).alias("max_norm"),
    )


#: Gram grain: per-row products rounded to 1e-8 before summation.
GRAM_GRAIN = 100_000_000.0
GRAM_DIGITS = 6


def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram matrix ``X^T X`` over the embedding corpus — the 64x64
    second-moment matrix PCA / whitening / covariance estimation
    starts from, and the classic "matrix multiply as MapReduce" shape
    (map emits tagged cell contributions, reduce sums per cell — the
    reference's only computational paradigm, reference
    src/mr/worker.go:138-145) expressed Spark-natively.

    Each row contributes its UPPER-TRIANGLE outer product MAP-SIDE
    (r16 — the Gram matrix is symmetric and IEEE multiplication
    commutes, so g(i,j) == g(j,i) bit-for-bit; computing both halves
    was pure duplicate work): a nested index-aware ``transform`` over
    the ``slice`` from i builds the 2080 (i <= j, grain) terms per
    vector with the product pre-rounded to 1e-8 grains (the float-sum
    discipline — both engines round the same IEEE product, so every
    row contributes identical integers), one explode, and a 2080-key
    aggregation with map-side partials; the strict-lower half is
    mirrored from the aggregated cells (64x64 rows total, exactly the
    full-matrix integers). The ONLY shuffle carries (i, j, grain)
    triples — half the bytes of the full outer product — and the
    result is fixed-size whatever the corpus: at a billion rows the
    plan is unchanged. Grains sum in decimal(38,0) — no overflow at
    any conceivable scale.
    """
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    c = F.col("embedding")
    outer = F.flatten(
        F.transform(
            c,
            lambda x, i: F.transform(
                F.slice(c, i + 1, DIM),
                lambda y, jj: F.struct(
                    i.alias("i"),
                    (i + jj).alias("j"),
                    F.floor(
                        x.cast("double") * y.cast("double") * GRAM_GRAIN + F.lit(0.5)
                    )
                    .cast("decimal(38,0)")
                    .alias("g"),
                ),
            ),
        )
    )
    terms = emb.select(F.explode(outer).alias("t")).select("t.i", "t.j", "t.g")
    upper = terms.groupBy("i", "j").agg(
        round_half_up(
            F.sum("g").cast("double") / GRAM_GRAIN, GRAM_DIGITS
        ).alias("value")
    )
    # mirror each aggregated off-diagonal cell in the same pass (one
    # explode over the 2080-row result — no second aggregation)
    both = F.when(
        F.col("i") < F.col("j"),
        F.array(
            F.struct(F.col("i").alias("i"), F.col("j").alias("j")),
            F.struct(F.col("j").alias("i"), F.col("i").alias("j")),
        ),
    ).otherwise(F.array(F.struct(F.col("i").alias("i"), F.col("j").alias("j"))))
    return upper.select(F.explode(both).alias("ij"), "value").select(
        "ij.i", "ij.j", "value"
    )


def ivf_cell_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health report: per-cell occupancy of the trained
    coarse quantizer — the readout an ANN service watches, because
    probe latency is proportional to the probed cells' sizes and a
    skewed quantizer silently turns "probe 2 of 16 cells" into "scan
    a third of the corpus" (the hot-cell failure every IVF deployment
    eventually meets).

    Reuses the session's trained-centroid artifact and the map-side
    assignment scorer; the report itself is one aggregation over
    (vec_id, cell) pairs. ``load_factor`` is occupancy against the
    uniform ideal (corpus / K_CELLS) — >1 reads "this cell is
    oversubscribed"; both ratios derive from exact integers.
    """
    def build_sizes() -> DataFrame:
        emb = _emb_with_norm(spark, sf_dir)
        cents = _centroids_artifact(spark, sf_dir)
        return _assign_cells(
            emb, cents, n_rows=table_footer_count(sf_dir, "embeddings")
        ).groupBy("cell").agg(F.count("*").alias("n_vectors"))

    # Session-shared, not a bare persist: repeat invocations (bench
    # median-of-3, repeated sessions) must probe ONE cached cell-size
    # frame instead of re-pinning a new same-lineage copy every call.
    sizes = shared_persist(spark, "ivf_cell_sizes", sf_dir, build_sizes)
    # The cell frame is bounded by K_CELLS (16 rows), so the corpus
    # total is a 1-row bounded driver decision (the BPE/logreg
    # doctrine): collect the exact integer and fold it back in as a
    # literal. No global window, and no per-run broadcast-exchange job
    # (the round-6 crossJoin(broadcast(agg)) shape cost 0.84 s at
    # sf0.1 for what is one aggregation + a 16-row projection).
    total = float(sizes.agg(F.sum("n_vectors")).collect()[0][0])
    return sizes.select(
        "cell",
        "n_vectors",
        round_half_up(F.col("n_vectors").cast("double") / F.lit(total), 4).alias(
            "share"
        ),
        round_half_up(
            F.col("n_vectors").cast("double") * K_CELLS / F.lit(total), 4
        ).alias("load_factor"),
    )


# --- product quantization (fourth compression path) ----------------------

PQ_SUBSPACES = 4
PQ_SUBDIM = DIM // PQ_SUBSPACES
PQ_K = 8  # codes per subspace -> 4 x 3 bits; 64 floats become 4 codes
PQ_ITERS = 2


def _l2_sq(a, b):
    """Squared L2 distance between two double arrays, sequential
    index-order accumulation (engine-identical)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _pq_subspace_codebook(sub_sample: DataFrame) -> DataFrame:
    """L2 k-means codebook (code, c) for one subspace — the IVF
    trainer's discipline (md5-seeded deterministic pick, fixed k,
    Lloyd iterations with MEAN_DIGITS-rounded means) applied to a
    16-dim slice with Euclidean distance (the PQ standard)."""
    seeds = sub_sample.orderBy("h", "vec_id").limit(PQ_K)
    cb = seeds.select(
        (F.row_number().over(W.orderBy("h", "vec_id")) - 1).alias("code"),
        F.col("sub").alias("c"),
    )
    for _ in range(PQ_ITERS):
        scored = sub_sample.crossJoin(F.broadcast(cb)).select(
            "vec_id", "sub", "code", _l2_sq(F.col("sub"), F.col("c")).alias("d")
        )
        rn = F.row_number().over(W.partitionBy("vec_id").orderBy("d", "code"))
        assign = scored.withColumn("rn", rn).filter(F.col("rn") == 1)
        comps = assign.select("code", F.posexplode("sub").alias("j", "x"))
        means = comps.groupBy("code", "j").agg(
            round_half_up(F.avg("x"), MEAN_DIGITS).alias("m")
        )
        cb = (
            means.groupBy("code")
            .agg(F.array_sort(F.collect_list(F.struct("j", "m"))).alias("jm"))
            .select("code", F.transform("jm", lambda s: s["m"]).alias("c"))
        )
    # Materialize the 8-row codebook eagerly so shared_persist adopts
    # (and, under a local master, lineage-truncates) it: the lazy form
    # kept the whole Lloyd-loop plan in the cache, and the four ADC /
    # encode consumers re-analyzed ~100-exchange trees per invocation
    # (r15; same class as the graph fixpoint caches).
    cb = cb.persist()
    cb.count()
    return cb


def pq_encode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jegou et al. 2011): split each 64-dim
    vector into 4 subspaces of 16, train an 8-code L2 codebook per
    subspace, and encode every vector as 4 codes — the compression
    path that takes 256 bytes of floats to a few bits and underlies
    every billion-scale ANN index; the fourth compression member
    beside int8 quantization, random projection, and IVF cells.

    Per vector: the '|'-joined code word and the total reconstruction
    error (sum of per-subspace squared distances — the distortion PQ
    training minimizes). Codebooks are 8 rows each and broadcast;
    encoding is map-side; training is sample-bounded like the IVF
    quantizer. The four per-subspace assignments join back on vec_id
    — four co-partitioned joins of (id, code, err) triples.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.md5(F.col("vec_id").cast("string")).alias("h"), "embedding"
    )
    out = None
    for s in range(PQ_SUBSPACES):
        sub = F.transform(
            F.slice("embedding", s * PQ_SUBDIM + 1, PQ_SUBDIM),
            lambda x: x.cast("double"),
        )
        sub_df = base.select("vec_id", "h", sub.alias("sub"))
        # Train-once per (session, corpus, subspace) — the IVF
        # centroid-artifact discipline: encode and ADC search share
        # one cached codebook instead of re-running Lloyd per call.
        cb = shared_persist(
            spark,
            f"pq_codebook_{s}",
            sf_dir,
            lambda d=sub_df: _pq_subspace_codebook(
                d.filter(F.col("vec_id") % TRAIN_SAMPLE_MOD == 0)
            ),
        )
        scored = sub_df.crossJoin(F.broadcast(cb)).select(
            "vec_id", "code", _l2_sq(F.col("sub"), F.col("c")).alias("d")
        )
        rn = F.row_number().over(W.partitionBy("vec_id").orderBy("d", "code"))
        assign = (
            scored.withColumn("rn", rn)
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("code").alias(f"code{s}"), F.col("d").alias(f"err{s}"))
        )
        out = assign if out is None else out.join(assign, "vec_id")
    recon = sum(F.col(f"err{s}") for s in range(PQ_SUBSPACES))
    return out.select(
        "vec_id",
        F.concat_ws(
            "|", *[F.col(f"code{s}").cast("string") for s in range(PQ_SUBSPACES)]
        ).alias("codes"),
        round_half_up(recon, 6).alias("recon_err"),
    )


def _pq_oracle_sql() -> str:
    """DuckDB twin: per subspace, the unrolled L2 Lloyd iterations on
    the slice, then full-corpus assignment; final join of the four
    code/error columns."""
    mean_f = float(10**MEAN_DIGITS)
    ctes = []
    for s in range(PQ_SUBSPACES):
        lo, hi = s * PQ_SUBDIM + 1, (s + 1) * PQ_SUBDIM
        sub = f"list_transform(embedding[{lo}:{hi}], x -> CAST(x AS DOUBLE))"
        dist = (
            f"list_sum(list_transform(range(1, {PQ_SUBDIM + 1}),"
            " i -> (v.sub[i] - c.c[i]) * (v.sub[i] - c.c[i])))"
        )
        ctes.append(f"""
        sub{s} AS (
            SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h, {sub} AS sub
            FROM embeddings
        ),
        seeds{s} AS (
            SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS code, sub AS c
            FROM (SELECT * FROM sub{s} WHERE vec_id % {TRAIN_SAMPLE_MOD} = 0
                  ORDER BY h, vec_id LIMIT {PQ_K})
        )""")
        prev = f"seeds{s}"
        for i in range(1, PQ_ITERS + 1):
            ctes.append(f"""
        a{s}_{i} AS (
            SELECT vec_id, code, sub FROM (
                SELECT v.vec_id, c.code, v.sub,
                       row_number() OVER (PARTITION BY v.vec_id
                           ORDER BY {dist}, c.code) AS rn
                FROM (SELECT * FROM sub{s} WHERE vec_id % {TRAIN_SAMPLE_MOD} = 0) v
                CROSS JOIN {prev} c
            ) WHERE rn = 1
        ),
        m{s}_{i} AS (
            SELECT code, j, floor(avg(x) * {mean_f} + 0.5) / {mean_f} AS m
            FROM (
                SELECT code, generate_subscripts(sub, 1) AS j,
                       unnest(sub) AS x
                FROM a{s}_{i}
            ) GROUP BY code, j
        ),
        c{s}_{i} AS (
            SELECT code, list(m ORDER BY j) AS c FROM m{s}_{i} GROUP BY code
        )""")
            prev = f"c{s}_{i}"
        ctes.append(f"""
        assign{s} AS (
            SELECT vec_id, code AS code{s}, d AS err{s} FROM (
                SELECT v.vec_id, c.code, {dist} AS d,
                       row_number() OVER (PARTITION BY v.vec_id
                           ORDER BY {dist}, c.code) AS rn
                FROM sub{s} v CROSS JOIN {prev} c
            ) WHERE rn = 1
        )""")
    joins = " ".join(
        f"JOIN assign{s} USING (vec_id)" for s in range(1, PQ_SUBSPACES)
    )
    codes = " || '|' || ".join(
        f"CAST(code{s} AS VARCHAR)" for s in range(PQ_SUBSPACES)
    )
    errs = " + ".join(f"err{s}" for s in range(PQ_SUBSPACES))
    return f"""
        WITH {",".join(ctes)}
        SELECT vec_id, {codes} AS codes,
               floor(({errs}) * 1000000.0 + 0.5) / 1000000.0 AS recon_err
        FROM assign0 {joins}
    """


PQ_ADC_TOPK = 5
PQ_DIST_GRAIN = 1_000_000


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search by asymmetric distance computation (ADC): the query
    stays full-precision and precomputes, per subspace, its squared
    distance to each of the 8 codebook entries — a 32-entry lookup
    table per query — and every encoded corpus vector's distance is
    then the SUM of four table lookups, never a float op against the
    original vectors. This is how a billion-vector PQ index actually
    serves: the corpus is 4 codes/vector, the per-query work is a
    table-lookup scan.

    The distance tables broadcast (|queries| x 32 rows); the corpus
    side is the melted (vec_id, subspace, code) encoding; the
    per-pair sum adds four GRAINED lookups (1e-6-rounded — four
    doubles summed in shuffle order would be order-sensitive), and
    top-k ranks by (distance, neighbor id). Exactly TOP-K rows per
    query, ties engine-invariant.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.md5(F.col("vec_id").cast("string")).alias("h"), "embedding"
    )
    code_parts, table_parts = [], []
    for s in range(PQ_SUBSPACES):
        sub = F.transform(
            F.slice("embedding", s * PQ_SUBDIM + 1, PQ_SUBDIM),
            lambda x: x.cast("double"),
        )
        sub_df = base.select("vec_id", "h", sub.alias("sub"))
        # Train-once per (session, corpus, subspace) — the IVF
        # centroid-artifact discipline: encode and ADC search share
        # one cached codebook instead of re-running Lloyd per call.
        cb = shared_persist(
            spark,
            f"pq_codebook_{s}",
            sf_dir,
            lambda d=sub_df: _pq_subspace_codebook(
                d.filter(F.col("vec_id") % TRAIN_SAMPLE_MOD == 0)
            ),
        )
        scored = sub_df.crossJoin(F.broadcast(cb)).select(
            "vec_id", "code", _l2_sq(F.col("sub"), F.col("c")).alias("d")
        )
        rn = F.row_number().over(W.partitionBy("vec_id").orderBy("d", "code"))
        code_parts.append(
            scored.withColumn("rn", rn)
            .filter(F.col("rn") == 1)
            .select("vec_id", F.lit(s).alias("subspace"), "code")
        )
        table_parts.append(
            sub_df.filter(F.expr(QUERY_FILTER))
            .crossJoin(F.broadcast(cb))
            .select(
                F.col("vec_id").alias("query_id"),
                F.lit(s).alias("subspace"),
                "code",
                F.floor(
                    _l2_sq(F.col("sub"), F.col("c")) * PQ_DIST_GRAIN + F.lit(0.5)
                )
                .cast("long")
                .alias("dg"),
            )
        )
    codes = code_parts[0]
    for p in code_parts[1:]:
        codes = codes.unionByName(p)
    qt = table_parts[0]
    for p in table_parts[1:]:
        qt = qt.unionByName(p)
    pair = (
        codes.join(F.broadcast(qt), ["subspace", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dg").alias("adc_g"))
    )
    rk = F.row_number().over(
        W.partitionBy("query_id").orderBy("adc_g", "vec_id")
    )
    return (
        pair.withColumn("rank", rk)
        .filter(F.col("rank") <= PQ_ADC_TOPK)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            round_half_up(F.col("adc_g").cast("double") / PQ_DIST_GRAIN, 6).alias(
                "adc_dist"
            ),
        )
    )


def _pq_adc_oracle_sql() -> str:
    """DuckDB twin of the ADC search: codebook CTEs + full-corpus
    assignments + per-query grained distance tables + the same
    sum-of-lookups ranking."""
    mean_f = float(10**MEAN_DIGITS)
    ctes = []
    code_sel, table_sel = [], []
    for s in range(PQ_SUBSPACES):
        lo, hi = s * PQ_SUBDIM + 1, (s + 1) * PQ_SUBDIM
        sub = f"list_transform(embedding[{lo}:{hi}], x -> CAST(x AS DOUBLE))"
        dist = (
            f"list_sum(list_transform(range(1, {PQ_SUBDIM + 1}),"
            " i -> (v.sub[i] - c.c[i]) * (v.sub[i] - c.c[i])))"
        )
        ctes.append(f"""
        sub{s} AS (
            SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h, {sub} AS sub
            FROM embeddings
        ),
        seeds{s} AS (
            SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS code, sub AS c
            FROM (SELECT * FROM sub{s} WHERE vec_id % {TRAIN_SAMPLE_MOD} = 0
                  ORDER BY h, vec_id LIMIT {PQ_K})
        )""")
        prev = f"seeds{s}"
        for i in range(1, PQ_ITERS + 1):
            ctes.append(f"""
        a{s}_{i} AS (
            SELECT vec_id, code, sub FROM (
                SELECT v.vec_id, c.code, v.sub,
                       row_number() OVER (PARTITION BY v.vec_id
                           ORDER BY {dist}, c.code) AS rn
                FROM (SELECT * FROM sub{s} WHERE vec_id % {TRAIN_SAMPLE_MOD} = 0) v
                CROSS JOIN {prev} c
            ) WHERE rn = 1
        ),
        m{s}_{i} AS (
            SELECT code, j, floor(avg(x) * {mean_f} + 0.5) / {mean_f} AS m
            FROM (
                SELECT code, generate_subscripts(sub, 1) AS j,
                       unnest(sub) AS x
                FROM a{s}_{i}
            ) GROUP BY code, j
        ),
        c{s}_{i} AS (
            SELECT code, list(m ORDER BY j) AS c FROM m{s}_{i} GROUP BY code
        )""")
            prev = f"c{s}_{i}"
        ctes.append(f"""
        assign{s} AS (
            SELECT vec_id, {s} AS subspace, code FROM (
                SELECT v.vec_id, c.code,
                       row_number() OVER (PARTITION BY v.vec_id
                           ORDER BY {dist}, c.code) AS rn
                FROM sub{s} v CROSS JOIN {prev} c
            ) WHERE rn = 1
        ),
        qt{s} AS (
            SELECT v.vec_id AS query_id, {s} AS subspace, c.code,
                   CAST(floor({dist} * {PQ_DIST_GRAIN} + 0.5) AS BIGINT) AS dg
            FROM (SELECT * FROM sub{s} WHERE {QUERY_FILTER}) v
            CROSS JOIN {prev} c
        )""")
        code_sel.append(f"SELECT * FROM assign{s}")
        table_sel.append(f"SELECT * FROM qt{s}")
    return f"""
        WITH {",".join(ctes)},
        codes AS ({" UNION ALL ".join(code_sel)}),
        qt AS ({" UNION ALL ".join(table_sel)}),
        pair AS (
            SELECT qt.query_id, codes.vec_id, sum(qt.dg) AS adc_g
            FROM codes JOIN qt USING (subspace, code)
            WHERE codes.vec_id <> qt.query_id
            GROUP BY qt.query_id, codes.vec_id
        ),
        ranked AS (
            SELECT query_id, vec_id, adc_g,
                   CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_g, vec_id) AS INTEGER) AS rank
            FROM pair
        )
        SELECT query_id, vec_id AS neighbor_id, rank,
               floor((CAST(adc_g AS DOUBLE) / {PQ_DIST_GRAIN}) * 1000000.0 + 0.5)
                   / 1000000.0 AS adc_dist
        FROM ranked WHERE rank <= {PQ_ADC_TOPK}
    """


#: Drift split: even vec_ids play "batch A", odd play "batch B".
DRIFT_MEAN_GRAIN = 100_000_000.0  # per-dim coords to 1e-8 grains
DRIFT_SQ_GRAIN = 1_000_000_000_000.0  # squared diffs to 1e-12 grains


def embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between two batches, per label:
    the L2 distance between the batches' per-label mean vectors — the
    monitoring signal an embedding service watches across model or
    data updates (a centroid that moved means retrieval quality
    silently changed; re-index before users notice).

    The deterministic even/odd id split stands in for "yesterday vs
    today". Per-(label, batch, dim) means come from exact 1e-8 grain
    sums (one partial-aggregated shuffle whose output is
    labels x 2 x 64 rows at ANY corpus size); the squared per-dim
    differences pre-round to 1e-12 grains so the cross-dim sum is
    exact-integer; one sqrt closes it.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("batch_a"),
        F.posexplode("embedding").alias("j", "x"),
    )
    means = dims.groupBy("label", "batch_a", "j").agg(
        F.count("*").alias("n"),
        F.sum(
            F.floor(F.col("x").cast("double") * DRIFT_MEAN_GRAIN + F.lit(0.5)).cast(
                "decimal(38,0)"
            )
        ).alias("g"),
    )
    m = F.col("g").cast("double") / DRIFT_MEAN_GRAIN / F.col("n")
    a = means.filter("batch_a").select(
        "label", "j", m.alias("ma"), F.col("n").alias("n_a")
    )
    b = means.filter(~F.col("batch_a")).select(
        "label", "j", m.alias("mb"), F.col("n").alias("n_b")
    )
    diff_g = F.floor(
        (F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")) * DRIFT_SQ_GRAIN
        + F.lit(0.5)
    ).cast("long")
    per_label = (
        a.join(b, ["label", "j"])
        .select("label", "n_a", "n_b", diff_g.alias("dg"))
        .groupBy("label")
        .agg(
            F.min("n_a").alias("n_batch_a"),
            F.min("n_b").alias("n_batch_b"),
            F.sum("dg").alias("sq_g"),
        )
    )
    return per_label.select(
        "label",
        "n_batch_a",
        "n_batch_b",
        round_half_up(
            F.sqrt(F.col("sq_g").cast("double") / DRIFT_SQ_GRAIN), 6
        ).alias("mean_l2_shift"),
    )


QUERIES = {
    "sim_embedding_drift_report": embedding_drift_report,
    "sim_pq_adc_topk": pq_adc_topk,
    "sim_pq_encode_report": pq_encode_report,
    "sim_ivf_cell_balance_report": ivf_cell_balance_report,
    "sim_embedding_gram_matrix": embedding_gram_matrix,
    "sim_embedding_norm_audit": embedding_norm_audit,
    "sim_quantization_recall_report": quantization_recall_report,
    "sim_ann_recall_report": ann_recall_report,
    "sim_hard_negative_mining": hard_negative_mining,
    "dedup_semantic_ivf": semantic_dedup_ivf,
    "sim_embedding_random_projection": embedding_random_projection,
    "sim_ann_mmr_topk": ann_mmr_diversified_topk,
    "sim_embedding_quantize_int8": embedding_quantize_int8,
    "sim_ann_bruteforce_topk": ann_bruteforce_topk,
    "sim_ann_bruteforce_topk_np": ann_bruteforce_topk_np,
    "sim_ann_lsh_topk": ann_lsh_topk,
    "sim_ann_ivf_topk": ann_ivf_topk,
    "sim_knn_label_vote": knn_label_vote,
}

_DOT = """list_sum(list_transform(range(1, {dim1}),
              i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))"""
_NRM_CTE = """
    nrm AS (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    )
"""

def _mmr_oracle_sql() -> str:
    """DuckDB twin of the greedy MMR loop, rounds unrolled as chained
    CTEs (same contract as the PageRank/k-core/LPA oracles). The
    1-MMR_LAMBDA weight is emitted via repr so both engines parse the
    identical IEEE double."""
    rf = float(10**MMR_SIM_DIGITS)
    lam, dlam = repr(MMR_LAMBDA), repr(1 - MMR_LAMBDA)
    dot_q = _DOT.format(dim1=DIM + 1)
    dot_p = dot_q.replace("q.embedding", "e1.embedding").replace(
        "c.embedding", "e2.embedding"
    )
    sql = f"""
        WITH {_NRM_CTE},
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   floor(({dot_q} / (q.nrm * c.nrm)) * {rf} + 0.5) / {rf} AS rel
            FROM nrm q JOIN nrm c ON q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id
        ),
        pool AS (
            SELECT query_id, neighbor_id, rel FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY rel DESC, neighbor_id) AS prank
                FROM scored
            ) WHERE prank <= {MMR_POOL}
        ),
        pairs AS (
            SELECT p1.query_id, p1.neighbor_id AS a, p2.neighbor_id AS b,
                   floor(({dot_p} / (e1.nrm * e2.nrm)) * {rf} + 0.5) / {rf} AS psim
            FROM pool p1
            JOIN pool p2 ON p1.query_id = p2.query_id
                        AND p1.neighbor_id <> p2.neighbor_id
            JOIN nrm e1 ON e1.vec_id = p1.neighbor_id
            JOIN nrm e2 ON e2.vec_id = p2.neighbor_id
        ),
        sel1 AS (
            SELECT query_id, neighbor_id, 1 AS pick_rank, rel FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY rel DESC, neighbor_id) AS rn
                FROM pool
            ) WHERE rn = 1
        )"""
    prev = "sel1"
    for t in range(2, MMR_K + 1):
        sql += f""",
        rem{t} AS (
            SELECT p.* FROM pool p
            WHERE NOT EXISTS (
                SELECT 1 FROM {prev} s
                WHERE s.query_id = p.query_id AND s.neighbor_id = p.neighbor_id
            )
        ),
        div{t} AS (
            SELECT r.query_id, r.neighbor_id, r.rel, max(pr.psim) AS div
            FROM rem{t} r
            JOIN pairs pr ON pr.query_id = r.query_id AND pr.a = r.neighbor_id
            JOIN {prev} s ON s.query_id = pr.query_id AND s.neighbor_id = pr.b
            GROUP BY r.query_id, r.neighbor_id, r.rel
        ),
        s{t} AS (
            SELECT query_id, neighbor_id, {t} AS pick_rank, rel FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY ({lam} * rel - {dlam} * div) DESC, neighbor_id) AS rn
                FROM div{t}
            ) WHERE rn = 1
        ),
        sel{t} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM s{t})"""
        prev = f"sel{t}"
    sql += f"""
        SELECT query_id, CAST(pick_rank AS INTEGER) AS pick_rank, neighbor_id,
               floor(rel * 10000.0 + 0.5) / 10000.0 AS relevance
        FROM {prev}
    """
    return sql


def _ivf_assign_prefix_sql() -> str:
    """Shared DuckDB CTE chain rebuilding the trained-centroid
    assignment: nrm -> seeds -> c0 -> (a_i/m_i/c_i per Lloyd
    iteration) -> assign. Both the IVF search oracle and the SemDeDup
    oracle start from this prefix, so the quantizer is spelled out
    exactly once. Centroid means round to MEAN_DIGITS on both engines,
    which is what makes the float-accumulated averages comparable."""
    mean_f = float(10**MEAN_DIGITS)
    # cosine of corpus vector v against a trained-centroid list c.c_emb
    # (already double), accumulated in index order like dot_product
    vc_dot = (
        f"list_sum(list_transform(range(1, {DIM + 1}),"
        " i -> CAST(v.embedding[i] AS DOUBLE) * c.c_emb[i]))"
    )
    sql = f"""
        WITH {_NRM_CTE},
        seeds AS (
            SELECT vec_id, embedding, nrm, md5(CAST(vec_id AS VARCHAR)) AS h
            FROM nrm WHERE vec_id % {TRAIN_SAMPLE_MOD} = 0
            ORDER BY h, vec_id LIMIT {K_CELLS}
        ),
        c0 AS (
            SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cent_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c_emb,
                   nrm AS c_nrm
            FROM seeds
        )"""
    prev = "c0"
    for i in range(1, KMEANS_ITERS + 1):
        sql += f""",
        a{i} AS (
            SELECT vec_id, cell FROM (
                SELECT v.vec_id, c.cent_id AS cell,
                       row_number() OVER (PARTITION BY v.vec_id
                           ORDER BY {vc_dot} / (v.nrm * c.c_nrm) DESC, c.cent_id) AS rn
                FROM nrm v CROSS JOIN {prev} c
                WHERE v.vec_id % {TRAIN_SAMPLE_MOD} = 0
            ) WHERE rn = 1
        ),
        m{i} AS (
            SELECT cell, j, floor(avg(x) * {mean_f} + 0.5) / {mean_f} AS m
            FROM (
                SELECT a{i}.cell,
                       generate_subscripts(v.embedding, 1) AS j,
                       CAST(unnest(v.embedding) AS DOUBLE) AS x
                FROM nrm v JOIN a{i} ON v.vec_id = a{i}.vec_id
            )
            GROUP BY cell, j
        ),
        c{i} AS (
            SELECT cent_id, c_emb,
                   sqrt(list_sum(list_transform(c_emb, x -> x * x))) AS c_nrm
            FROM (SELECT cell AS cent_id, list(m ORDER BY j) AS c_emb
                  FROM m{i} GROUP BY cell)
        )"""
        prev = f"c{i}"
    sql += f""",
        assign AS (
            SELECT vec_id, cell FROM (
                SELECT v.vec_id, c.cent_id AS cell,
                       row_number() OVER (PARTITION BY v.vec_id
                           ORDER BY {vc_dot} / (v.nrm * c.c_nrm) DESC, c.cent_id) AS rn
                FROM nrm v CROSS JOIN {prev} c
            ) WHERE rn = 1
        )"""
    return sql


def _ivf_oracle_sql() -> str:
    """DuckDB twin of the trained-centroid IVF search: the shared
    assignment prefix plus probe/score/rank."""
    sql = _ivf_assign_prefix_sql()
    mean_f = float(10**MEAN_DIGITS)  # noqa: F841 (kept for parity docs)
    vc_dot = (
        f"list_sum(list_transform(range(1, {DIM + 1}),"
        " i -> CAST(v.embedding[i] AS DOUBLE) * c.c_emb[i]))"
    )
    prev = f"c{KMEANS_ITERS}"
    sql += f""",
        probe AS (
            SELECT vec_id AS query_id, cell FROM (
                SELECT v.vec_id, c.cent_id AS cell,
                       row_number() OVER (PARTITION BY v.vec_id
                           ORDER BY {vc_dot} / (v.nrm * c.c_nrm) DESC, c.cent_id) AS rn
                FROM nrm v CROSS JOIN {prev} c
                WHERE v.vec_id % 100 = 0
            ) WHERE rn <= {N_PROBE}
        ),
        scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   {_DOT.format(dim1=DIM + 1)} / (q.nrm * c.nrm) AS c
            FROM probe p
            JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
            JOIN nrm q ON q.vec_id = p.query_id
            JOIN nrm c ON c.vec_id = a.vec_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INTEGER) AS rank,
                   floor((c) * 10000.0 + 0.5) / 10000.0 AS cos
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= {TOP_K}
    """
    return sql


ORACLES = {
    "sim_embedding_random_projection": _rp_oracle_sql(),
    "sim_ann_mmr_topk": _mmr_oracle_sql(),
    "sim_embedding_quantize_int8": f"""
        WITH xd AS (
            SELECT vec_id,
                   list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
            FROM embeddings
        ),
        scaled AS (
            SELECT vec_id, xd,
                   list_max(list_transform(xd, v -> abs(v))) AS scale
            FROM xd
        ),
        quant AS (
            SELECT vec_id, scale,
                   list_transform(xd,
                       v -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
                            ELSE CAST(floor(v / scale * {QUANT_MAX} + 0.5) AS BIGINT)
                            END) AS q
            FROM scaled
        )
        SELECT vec_id,
               floor(scale * 1000000.0 + 0.5) / 1000000.0 AS scale,
               CAST(len(q) AS INTEGER) AS n_dims,
               CAST(list_min(q) AS BIGINT) AS q_min,
               CAST(list_max(q) AS BIGINT) AS q_max,
               CAST(list_sum(q) AS BIGINT) AS q_sum,
               CAST(list_sum(list_transform(q, v -> abs(v))) AS BIGINT) AS q_l1
        FROM quant
    """,
    "sim_ann_bruteforce_topk": f"""
        WITH {_NRM_CTE},
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_DOT.format(dim1=DIM + 1)} / (q.nrm * c.nrm) AS c
            FROM nrm q JOIN nrm c ON q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INTEGER) AS rank,
                   floor((c) * 10000.0 + 0.5) / 10000.0 AS cos
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= {TOP_K}
    """,
    "sim_ann_ivf_topk": _ivf_oracle_sql(),
    "dedup_semantic_ivf": _semdedup_oracle_sql(),
    "sim_hard_negative_mining": _hardneg_oracle_sql(),
    "sim_knn_label_vote": f"""
        WITH {_NRM_CTE},
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_DOT.format(dim1=DIM + 1)} / (q.nrm * c.nrm) AS c
            FROM nrm q JOIN nrm c ON q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
            FROM scored
        ),
        votes AS (
            SELECT query_id, e.label, CAST(count(*) AS BIGINT) AS n_votes
            FROM ranked JOIN embeddings e ON e.vec_id = ranked.neighbor_id
            WHERE rank <= {TOP_K}
            GROUP BY query_id, e.label
        ),
        pick AS (
            SELECT query_id, label AS pred_label, n_votes,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY n_votes DESC, label) AS rn
            FROM votes
        )
        SELECT p.query_id, q.label AS true_label, p.pred_label, p.n_votes
        FROM pick p JOIN embeddings q ON q.vec_id = p.query_id
        WHERE p.rn = 1
    """,
    "sim_ann_lsh_topk": f"""
        WITH {_NRM_CTE},
        planes AS (
            SELECT t.h, u.j,
                   CAST({sql_hex_int(
                       "md5(CAST(t.h AS VARCHAR) || '_' || CAST(u.j AS VARCHAR))", 1
                   )} AS DOUBLE) - 7.5 AS p
            FROM range({N_PLANES}) t(h) CROSS JOIN range({DIM}) u(j)
        ),
        comps AS (
            SELECT vec_id, j - 1 AS j, CAST(x AS DOUBLE) AS x
            FROM (SELECT vec_id, unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS j
                  FROM embeddings)
        ),
        dots AS (
            SELECT vec_id, h, sum(x * p) AS dot
            FROM comps JOIN planes ON comps.j = planes.j
            GROUP BY vec_id, h
        ),
        sig AS (
            SELECT vec_id,
                   string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY h) AS bucket
            FROM dots GROUP BY vec_id
        ),
        embs AS (SELECT nrm.*, sig.bucket FROM nrm JOIN sig USING (vec_id)),
        -- multi-probe: the query's own bucket (b = -1) plus each
        -- bucket at Hamming distance 1 (bit b flipped)
        probes AS (
            SELECT q.vec_id AS query_id,
                   CASE WHEN t.b = -1 THEN q.bucket
                        ELSE substr(q.bucket, 1, t.b) ||
                             (CASE WHEN substr(q.bucket, t.b + 1, 1) = '1'
                                   THEN '0' ELSE '1' END) ||
                             substr(q.bucket, t.b + 2)
                   END AS probe
            FROM embs q CROSS JOIN range(-1, {N_PLANES}) t(b)
            WHERE q.vec_id % 100 = 0
        ),
        cand AS (
            SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
            FROM probes p JOIN embs c
              ON c.bucket = p.probe AND c.vec_id <> p.query_id
        ),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   {_DOT.format(dim1=DIM + 1)} / (q.nrm * c.nrm) AS c
            FROM cand
            JOIN embs q ON q.vec_id = cand.query_id
            JOIN embs c ON c.vec_id = cand.neighbor_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INTEGER) AS rank,
                   floor((c) * 10000.0 + 0.5) / 10000.0 AS cos
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= {TOP_K}
    """,
}

# The NumPy path must produce bit-identical output to the HOF path
# (same sequential float64 accumulation — functions/vectorized.py), so
# it shares the exact-top-k oracle verbatim.
ORACLES["sim_ann_bruteforce_topk_np"] = ORACLES["sim_ann_bruteforce_topk"]

# Composed AFTER the dict: the recall report's oracle wraps the two
# existing oracle derivations as derived tables (DuckDB supports CTEs
# inside subqueries), so the exact and IVF definitions stay single-
# sourced.
ORACLES["sim_ann_recall_report"] = f"""
    SELECT e.query_id,
           CAST(count(i.neighbor_id) AS BIGINT) AS n_matched,
           floor(CAST(count(i.neighbor_id) AS DOUBLE) / count(*)
                 * 10000.0 + 0.5) / 10000.0 AS recall_at_k
    FROM ({ORACLES["sim_ann_bruteforce_topk"]}) e
    LEFT JOIN ({ORACLES["sim_ann_ivf_topk"]}) i
      ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
    GROUP BY e.query_id
"""

# Quantized-search recall oracle: dequantize exactly as
# embedding_quantize_int8 (raw array_max scale), rank over the
# reconstructed doubles, compare against the float brute-force oracle
# as a derived table.
ORACLES["sim_quantization_recall_report"] = f"""
    WITH xd AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, xd,
               list_max(list_transform(xd, x -> abs(x))) AS scale
        FROM xd
    ),
    dq AS (
        SELECT vec_id,
               CASE WHEN scale = 0
                    THEN list_transform(xd, x -> 0.0)
                    ELSE list_transform(xd, x ->
                        floor(x / scale * {QUANT_MAX} + 0.5)
                        * scale / {QUANT_MAX})
               END AS e
        FROM s
    ),
    dn AS (
        SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
        FROM dq
    ),
    qscored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(range(1, {DIM + 1}),
                   i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS c
        FROM dn q JOIN dn c ON q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id
    ),
    qtop AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY c DESC, neighbor_id) AS rank
            FROM qscored
        ) WHERE rank <= {TOP_K}
    )
    SELECT e.query_id,
           CAST(count(i.neighbor_id) AS BIGINT) AS n_matched,
           floor(CAST(count(i.neighbor_id) AS DOUBLE) / count(*)
                 * 10000.0 + 0.5) / 10000.0 AS recall_at_k
    FROM ({ORACLES["sim_ann_bruteforce_topk"]}) e
    LEFT JOIN qtop i
      ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
    GROUP BY e.query_id
"""

ORACLES["sim_embedding_norm_audit"] = f"""
    WITH per_vec AS (
        SELECT label, len(embedding) AS dim,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    ),
    g AS (
        SELECT label, dim, nrm,
               CAST(floor(nrm * {NORM_GRAIN} + 0.5) AS BIGINT) AS nrm_g
        FROM per_vec
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(count(*) FILTER (dim <> {DIM}) AS BIGINT) AS n_bad_dim,
           CAST(count(*) FILTER (nrm < {NORM_FLOOR}) AS BIGINT) AS n_degenerate,
           floor((min(nrm)) * 10000.0 + 0.5) / 10000.0 AS min_norm,
           floor((CAST(sum(nrm_g) AS DOUBLE) / {NORM_GRAIN} / count(*)) * 10000.0 + 0.5)
               / 10000.0 AS mean_norm,
           floor((max(nrm)) * 10000.0 + 0.5) / 10000.0 AS max_norm
    FROM g GROUP BY label
"""

ORACLES["sim_embedding_gram_matrix"] = f"""
    WITH t AS (
        SELECT CAST(ii.i - 1 AS INTEGER) AS i, CAST(jj.j - 1 AS INTEGER) AS j,
               CAST(floor(CAST(embedding[ii.i] AS DOUBLE)
                          * CAST(embedding[jj.j] AS DOUBLE)
                          * {GRAM_GRAIN} + 0.5) AS HUGEINT) AS g
        FROM embeddings,
             LATERAL (SELECT unnest(range(1, {DIM + 1})) AS i) ii,
             LATERAL (SELECT unnest(range(1, {DIM + 1})) AS j) jj
    )
    SELECT i, j,
           floor((CAST(sum(g) AS DOUBLE) / {GRAM_GRAIN}) * 1000000.0 + 0.5)
               / 1000000.0 AS value
    FROM t GROUP BY i, j
"""

ORACLES["sim_ivf_cell_balance_report"] = f"""
    {_ivf_assign_prefix_sql()},
    sizes AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors FROM assign GROUP BY cell)
    SELECT cell, n_vectors,
           floor((CAST(n_vectors AS DOUBLE) / sum(n_vectors) OVER ()) * 10000.0 + 0.5)
               / 10000.0 AS share,
           floor((CAST(n_vectors AS DOUBLE) * {K_CELLS} / sum(n_vectors) OVER ())
                 * 10000.0 + 0.5) / 10000.0 AS load_factor
    FROM sizes
"""

ORACLES["sim_pq_encode_report"] = _pq_oracle_sql()

ORACLES["sim_pq_adc_topk"] = _pq_adc_oracle_sql()

ORACLES["sim_embedding_drift_report"] = f"""
    WITH dims AS (
        SELECT label, vec_id % 2 = 0 AS batch_a,
               CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS j,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    means AS (
        SELECT label, batch_a, j, count(*) AS n,
               sum(CAST(floor(x * {DRIFT_MEAN_GRAIN} + 0.5) AS HUGEINT)) AS g
        FROM dims GROUP BY label, batch_a, j
    ),
    a AS (SELECT label, j, CAST(g AS DOUBLE) / {DRIFT_MEAN_GRAIN} / n AS ma,
                 n AS n_a FROM means WHERE batch_a),
    b AS (SELECT label, j, CAST(g AS DOUBLE) / {DRIFT_MEAN_GRAIN} / n AS mb,
                 n AS n_b FROM means WHERE NOT batch_a),
    terms AS (
        SELECT a.label, a.n_a, b.n_b,
               CAST(floor((ma - mb) * (ma - mb) * {DRIFT_SQ_GRAIN} + 0.5) AS BIGINT) AS dg
        FROM a JOIN b ON a.label = b.label AND a.j = b.j
    )
    SELECT label,
           CAST(min(n_a) AS BIGINT) AS n_batch_a,
           CAST(min(n_b) AS BIGINT) AS n_batch_b,
           floor((sqrt(CAST(sum(dg) AS DOUBLE) / {DRIFT_SQ_GRAIN})) * 1000000.0 + 0.5)
               / 1000000.0 AS mean_l2_shift
    FROM terms GROUP BY label
"""
