"""Multimodal column plumbing (beyond-reference).

Images / audio / video are opaque ``binary`` columns with typed
metadata. The container has no media libraries, so the *decode* step
is a clearly-marked deterministic stub — but everything Spark-side is
real and tested: the binary column, the Arrow batch path through
``mapInPandas``, the output schema, and the partitioning story
(decode is embarrassingly parallel map-side work; no shuffle).

The synthetic binary payload is ``encode(text, 'utf-8')`` from the
documents table, so the byte lengths — and therefore the stubbed
"decoded" metadata — are reproducible by the SQL oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mit_map_reduce_spark.functions.columns import hex_int, round_half_up, sql_hex_int
from mit_map_reduce_spark.catalog import load_table, table_footer_count, volume_width

DECODE_SCHEMA = "doc_id bigint, media_type string, width int, height int, n_frames int"


#: Assets per decode task — the stub decode is a few vectorized numpy
#: ops per row; ~50k rows/task keeps per-task work far above the fixed
#: Python-boundary cost. A real-codec deployment derives this from the
#: codec's measured rows/sec instead.
MM_ASSETS_PER_TASK = 50_000


def _assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, source, media_type, content binary).

    In a real pipeline this is the parquet/lance scan of blob columns;
    here the blob is synthesized from text deterministically.
    """
    # Volume-derived width (r15, guide §2/§4): every mm_* consumer
    # feeds this frame straight into a mapInPandas decode whose
    # per-task Python cost is fixed (payload-independent, ~0.08 CPU-s
    # per mapInPandas task; catalog.volume_width), so the width
    # follows the asset count instead of a fixed cores-wide spread.
    # The stub decode is vectorized and cheap; a real codec deployment
    # lowers MM_ASSETS_PER_TASK to its measured decode throughput.
    docs = load_table(spark, sf_dir, "documents").repartition(
        volume_width(table_footer_count(sf_dir, "documents"), MM_ASSETS_PER_TASK)
    )
    media = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        "doc_id",
        "source",
        media.alias("media_type"),
        F.encode("text", "utf-8").alias("content"),
    )


def real_decode(content: bytes, media_type: str) -> dict:
    """The real decode hook (PIL / ffmpeg / soundfile live here).

    Deliberately unimplemented in this container — see module
    docstring. The Spark plumbing calls :func:`stub_decode` instead.
    """
    raise NotImplementedError("media codecs are not available in this environment")


def stub_decode(n_bytes: int, media_type: str) -> tuple[int, int, int]:
    """Deterministic fake decode: metadata derived from payload size."""
    width = 64 + n_bytes % 512
    height = 64 + (n_bytes * 7) % 512
    if media_type == "image":
        frames = 1
    elif media_type == "audio":
        frames = n_bytes % 100
    else:
        frames = n_bytes % 240
    return width, height, frames


def mm_decode_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode over the binary column via mapInPandas.

    Each batch arrives as a pandas DataFrame of raw bytes; the stub
    stands in for the image/audio/video codec. Map-side only — the
    plan has no exchange, so it scales linearly with executors.
    """
    assets = _assets(spark, sf_dir)

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            # Vectorized stub_decode over the whole Arrow batch — the
            # real codec would also run batch-at-a-time here; a per-row
            # Python loop was ~2x the batch cost.
            n_bytes = pdf["content"].map(len).to_numpy()
            mt = pdf["media_type"].to_numpy()
            frames = np.where(
                mt == "image", 1, np.where(mt == "audio", n_bytes % 100, n_bytes % 240)
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": 64 + n_bytes % 512,
                    "height": 64 + (n_bytes * 7) % 512,
                    "n_frames": frames,
                }
            )

    return assets.mapInPandas(decode_batches, schema=DECODE_SCHEMA)


def mm_asset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata rollup per (source, media_type) — pure SQL side."""
    assets = _assets(spark, sf_dir)
    return assets.groupBy("source", "media_type").agg(
        F.count("*").alias("n_assets"),
        F.sum(F.octet_length("content")).alias("total_bytes"),
        round_half_up(F.avg(F.octet_length("content")), 4).alias("avg_bytes"),
    )


FRAME_STRIDE = 30  # sample one frame per stride (≈1 fps at 30 fps video)

SAMPLE_SCHEMA = "doc_id bigint, frame_idx int, frame_md5 string"


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video assets: every ``FRAME_STRIDE``-th
    frame index, one output row per sampled frame.

    Row-expansion plumbing for the extract path (decode video → sample
    frames → per-frame features): ``mapInPandas`` lets one input row
    yield many output rows through the Arrow batch channel. The frame
    "payload" is a deterministic stand-in (md5 of doc_id:frame_idx —
    a real pipeline puts the JPEG bytes / CLIP features here); the
    sampling geometry, schema, and partitioning are the real thing.
    Map-side only: no shuffle, scales linearly with executors.
    """
    assets = _assets(spark, sf_dir).filter(F.col("media_type") == "video")

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out_doc, out_idx, out_md5 = [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                n_bytes = len(content)
                _, _, n_frames = stub_decode(n_bytes, "video")
                for idx in range(0, n_frames, FRAME_STRIDE):
                    out_doc.append(doc_id)
                    out_idx.append(idx)
                    out_md5.append(hashlib.md5(f"{doc_id}:{idx}".encode()).hexdigest())
            yield pd.DataFrame(
                {"doc_id": out_doc, "frame_idx": out_idx, "frame_md5": out_md5}
            )

    return assets.mapInPandas(sample_batches, schema=SAMPLE_SCHEMA)


RESIZE_MAX = 256

RESIZE_SCHEMA = "doc_id bigint, width int, height int, new_width int, new_height int"


def mm_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing for image assets: cap the longer edge at
    ``RESIZE_MAX`` preserving aspect ratio (integer arithmetic, so the
    oracle reproduces it exactly). The geometry computation stands in
    for the PIL call; batch shape and schema are the real pipeline.
    """
    assets = _assets(spark, sf_dir).filter(F.col("media_type") == "image")

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "width", "height", "new_width", "new_height")}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                w, h, _ = stub_decode(len(content), "image")
                longer = max(w, h)
                if longer > RESIZE_MAX:
                    nw, nh = (w * RESIZE_MAX) // longer, (h * RESIZE_MAX) // longer
                else:
                    nw, nh = w, h
                for k, v in zip(rows, (doc_id, w, h, nw, nh)):
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    return assets.mapInPandas(resize_batches, schema=RESIZE_SCHEMA)


N_FEATURES = 8

FEATURE_SCHEMA = "doc_id bigint, features string"


def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction plumbing: an N-dim embedding per asset from
    the content bytes (deterministic stand-in for a CLIP/audio encoder:
    feature i = value of hex digit i of md5(content), scaled to [0,1]).
    Arrow-batched, map-side. The vector is rendered as a '|'-joined
    fixed-format string: the differential harness sorts/hashes result
    cells with pandas, which cannot hash raw list cells (a pipeline
    consumer would keep array<double> and skip the rendering step).
    """
    assets = _assets(spark, sf_dir)

    def feat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import math

        for pdf in batches:
            feats = []
            for content in pdf["content"]:
                hx = hashlib.md5(bytes(content)).hexdigest()
                feats.append(
                    "|".join(
                        # same floor(x*1e4+0.5)/1e4 as the oracle —
                        # Python's round() is banker's rounding
                        "%.4f" % (math.floor(int(c, 16) / 15.0 * 10000.0 + 0.5) / 10000.0)
                        for c in hx[:N_FEATURES]
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return assets.mapInPandas(feat_batches, schema=FEATURE_SCHEMA)


def mm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed multimodal ingest pass — decode metadata, resize
    geometry (images), embedding features — joined into the one
    per-asset row a downstream trainer consumes (the multimodal twin
    of ``text_training_mix``).

    All three stages are map-side ``mapInPandas`` over the same asset
    scan; the only shuffles are the doc_id equi-joins stitching their
    outputs, which at 100 TB ride the same hash partitioning once the
    first join sets it. Non-image assets carry null resize columns —
    part of the contract, not a bug (audio/video skip the resize
    stage).
    """
    dec = mm_decode_assets(spark, sf_dir)
    feats = mm_feature_extract(spark, sf_dir)
    rsz = mm_resize_images(spark, sf_dir).select("doc_id", "new_width", "new_height")
    return (
        dec.join(feats, "doc_id")
        .join(rsz, "doc_id", "left")
        .select(
            "doc_id",
            "media_type",
            "width",
            "height",
            "n_frames",
            "new_width",
            "new_height",
            "features",
        )
    )


AUDIO_WIN = 10  # frames per energy window
AUDIO_VAD_THRESHOLD = 0.2  # windows below this are "silence"

AUDIO_SCHEMA = (
    "doc_id bigint, window_idx int, n_win_frames int, energy double, voiced boolean"
)


def mm_audio_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed frame-energy over audio assets — the
    voice-activity-detection shape of an audio ingest pipeline: decode
    to frames, window the frame stream (AUDIO_WIN frames per window),
    compute per-window energy, flag silence for trimming. One output
    row per window.

    Same plumbing contract as ``mm_frame_sample``: Arrow-batched row
    expansion through ``mapInPandas``, map-side only, zero shuffle at
    any scale. The energy value is the deterministic codec stand-in
    (first 3 md5 hex digits of "doc_id:window", scaled to [0,1] —
    a real pipeline computes RMS over decoded PCM here); the window
    geometry, schema, batch shape, and VAD thresholding are the real
    thing.
    """
    assets = _assets(spark, sf_dir).filter(F.col("media_type") == "audio")

    def energy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import math

        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "window_idx", "n_win_frames", "energy", "voiced")}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                _, _, n_frames = stub_decode(len(content), "audio")
                for w in range(0, (n_frames + AUDIO_WIN - 1) // AUDIO_WIN):
                    h = hashlib.md5(f"{doc_id}:{w}".encode()).hexdigest()
                    energy = math.floor(int(h[:3], 16) / 4095.0 * 10000.0 + 0.5) / 10000.0
                    rows["doc_id"].append(doc_id)
                    rows["window_idx"].append(w)
                    rows["n_win_frames"].append(min(AUDIO_WIN, n_frames - w * AUDIO_WIN))
                    rows["energy"].append(energy)
                    rows["voiced"].append(energy >= AUDIO_VAD_THRESHOLD)
            yield pd.DataFrame(rows)

    return assets.mapInPandas(energy_batches, schema=AUDIO_SCHEMA)


def mm_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speech-segment extraction: merge consecutive VOICED windows
    (from the energy/VAD pass) into contiguous segments per asset —
    the step that turns window-level VAD flags into the utterance
    spans an ASR/caption pipeline actually consumes, and the audio
    twin of ``adv_gaps_and_islands`` (same anchor trick: window_idx
    minus per-doc row_number is constant exactly while windows are
    consecutive).

    One per-asset window over the voiced rows (bounded by window
    counts, not raw audio bytes) plus one segment-keyed aggregate;
    everything upstream is the shared map-side Arrow expansion.
    """
    wins = mm_audio_energy_windows(spark, sf_dir)
    voiced = wins.filter(F.col("voiced"))
    w = W.partitionBy("doc_id").orderBy("window_idx")
    anch = voiced.withColumn(
        "anchor", F.col("window_idx") - F.row_number().over(w)
    )
    return (
        anch.groupBy("doc_id", "anchor")
        .agg(
            F.min("window_idx").alias("seg_start"),
            F.max("window_idx").alias("seg_end"),
            F.count("*").alias("n_windows"),
            F.sum("n_win_frames").alias("n_frames"),
        )
        .select("doc_id", "seg_start", "seg_end", "n_windows", "n_frames")
    )


def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash dedup over the asset corpus: assets whose
    decoded signature — (media_type, width, height) from the codec —
    collides are near-duplicate CANDIDATES, grouped into buckets with
    a canonical representative (min doc_id, the dedup keep rule).
    With a real codec the signature is a pHash/dHash of pixel data;
    the stub's size-derived metadata exercises the identical plan:
    Arrow decode (mapInPandas, map-side) -> bucket aggregation ->
    candidate buckets, the image-dedup shape every multimodal
    training pipeline runs before embedding-level dedup.
    """
    decoded = mm_decode_assets(spark, sf_dir)
    return (
        decoded.groupBy("media_type", "width", "height")
        .agg(F.count("*").alias("n_assets"), F.min("doc_id").alias("canonical_doc"))
        .filter(F.col("n_assets") >= 2)
    )


#: Shot boundary: consecutive sampled frames whose 16-bit perceptual
#: hashes differ in at least this many bits. Stub hashes are uniform,
#: so distances follow Binomial(16, 1/2) (mean 8) and the threshold
#: keeps boundaries sparse — the real pipeline swaps in true frame
#: pHashes, where low distance = same shot is the actual signal.
SHOT_HAMMING_T = 12


def mm_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video shot-boundary detection: sample frames (shared
    ``mm_frame_sample`` plumbing), hash each to a 16-bit perceptual
    fingerprint, and flag a boundary wherever consecutive frames'
    Hamming distance reaches ``SHOT_HAMMING_T`` — the scene-cut
    primitive a video curation pipeline runs before per-shot
    keyframe/caption extraction.

    The distance is ``bit_count(xor)`` on integers in both engines;
    one per-video window provides the previous frame's hash (videos
    hash-partition, frames order by index); the rollup is per-video.
    Everything after the map-side frame generation is bounded by
    sampled-frame counts, never raw bytes.
    """
    frames = mm_frame_sample(spark, sf_dir)
    ph = hex_int("frame_md5", 4).cast("long")
    cur = frames.select("doc_id", "frame_idx", ph.alias("phash"))
    w = W.partitionBy("doc_id").orderBy("frame_idx")
    lagged = cur.withColumn("prev", F.lag("phash").over(w))
    dist = F.bit_count(F.col("phash").bitwiseXOR(F.col("prev")))
    return (
        lagged.select("doc_id", dist.alias("d"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_frames_sampled"),
            F.count(F.when(F.col("d") >= SHOT_HAMMING_T, 1)).alias(
                "n_boundaries"
            ),
        )
    )


def mm_keyframe_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shot keyframe selection — the step after scene-cut
    detection in a video curation pipeline: segment each video's
    sampled frames into shots (running sum of boundary flags — the
    gaps-and-islands construction over the same Hamming-distance
    signal as ``mm_shot_boundaries``) and nominate each shot's first
    frame as its representative keyframe (the I-frame convention).

    Output is one row per (video, shot) with the keyframe index and
    shot extent — bounded by cut counts, not frames; the per-video
    window is the only shuffle past the map-side frame generation.
    """
    frames = mm_frame_sample(spark, sf_dir)
    ph = hex_int("frame_md5", 4).cast("long")
    cur = frames.select("doc_id", "frame_idx", ph.alias("phash"))
    w = W.partitionBy("doc_id").orderBy("frame_idx")
    d = F.bit_count(F.col("phash").bitwiseXOR(F.lag("phash").over(w)))
    cut = F.when(d >= SHOT_HAMMING_T, 1).otherwise(0)
    shots = cur.withColumn(
        "shot_id",
        F.sum(cut).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("int"),
    )
    return shots.groupBy("doc_id", "shot_id").agg(
        F.min("frame_idx").alias("keyframe_idx"),
        F.max("frame_idx").alias("last_frame_idx"),
        F.count("*").alias("n_frames"),
    )


QUERIES = {
    "mm_keyframe_select": mm_keyframe_select,
    "mm_shot_boundaries": mm_shot_boundaries,
    "mm_audio_vad_segments": mm_audio_vad_segments,
    "mm_audio_energy_windows": mm_audio_energy_windows,
    "mm_phash_dedup": mm_phash_dedup,
    "mm_pipeline": mm_pipeline,
    "mm_asset_stats": mm_asset_stats,
    "mm_decode_assets": mm_decode_assets,
    "mm_frame_sample": mm_frame_sample,
    "mm_resize_images": mm_resize_images,
    "mm_feature_extract": mm_feature_extract,
}

_MEDIA = """CASE CAST(doc_id % 3 AS INTEGER)
                WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"""

#: value of the first 3 md5 hex digits of "doc_id:w" (t.w in scope)
_AUDIO_HEX = sql_hex_int("md5(CAST(doc_id AS VARCHAR) || ':' || CAST(t.w AS VARCHAR))", 3)

#: Shared CTE chain rebuilding the sampled + 16-bit-hashed video
#: frames (the oracle twin of mm_frame_sample + the phash projection) —
#: consumed by the shot-boundary and keyframe oracles.
_HASHED_FRAMES_CTES = f"""v AS (
            SELECT doc_id, octet_length(encode(text)) % 240 AS n_frames
            FROM documents
            WHERE CAST(doc_id % 3 AS INTEGER) = 2
        ),
        frames AS (
            SELECT doc_id, CAST(idx AS INTEGER) AS frame_idx,
                   md5(CAST(doc_id AS VARCHAR) || ':' || CAST(idx AS VARCHAR)) AS m
            FROM v, LATERAL (
                SELECT unnest(range(0, n_frames, {FRAME_STRIDE})) AS idx
            )
        ),
        hashed AS (
            SELECT doc_id, frame_idx, CAST({sql_hex_int("m", 4)} AS BIGINT) AS phash
            FROM frames
        )"""

ORACLES = {
    "mm_shot_boundaries": f"""
        WITH {_HASHED_FRAMES_CTES},
        lagged AS (
            SELECT doc_id,
                   bit_count(xor(phash, lag(phash) OVER (
                       PARTITION BY doc_id ORDER BY frame_idx))) AS d
            FROM hashed
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames_sampled,
               CAST(count(CASE WHEN d >= {SHOT_HAMMING_T} THEN 1 END) AS BIGINT)
                   AS n_boundaries
        FROM lagged GROUP BY doc_id
    """,
    "mm_keyframe_select": f"""
        WITH {_HASHED_FRAMES_CTES},
        flagged AS (
            SELECT doc_id, frame_idx,
                   CASE WHEN bit_count(xor(phash, lag(phash) OVER (
                            PARTITION BY doc_id ORDER BY frame_idx)))
                            >= {SHOT_HAMMING_T}
                        THEN 1 ELSE 0 END AS cut
            FROM hashed
        ),
        shots AS (
            SELECT doc_id, frame_idx,
                   CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
                                       ROWS UNBOUNDED PRECEDING) AS INTEGER) AS shot_id
            FROM flagged
        )
        SELECT doc_id, shot_id,
               min(frame_idx) AS keyframe_idx,
               max(frame_idx) AS last_frame_idx,
               CAST(count(*) AS BIGINT) AS n_frames
        FROM shots GROUP BY doc_id, shot_id
    """,
    "mm_audio_vad_segments": f"""
        WITH a AS (
            SELECT doc_id, octet_length(encode(text)) % 100 AS n_frames
            FROM documents
            WHERE CAST(doc_id % 3 AS INTEGER) = 1
        ),
        win AS (
            SELECT doc_id, n_frames, CAST(t.w AS INTEGER) AS window_idx,
                   floor({_AUDIO_HEX} / 4095.0 * 10000.0 + 0.5) / 10000.0 AS energy
            FROM a, LATERAL (
                SELECT unnest(range(0, (n_frames + {AUDIO_WIN - 1}) // {AUDIO_WIN})) AS w
            ) t
        ),
        voiced AS (
            SELECT doc_id, window_idx,
                   least({AUDIO_WIN}, n_frames - window_idx * {AUDIO_WIN})
                       AS n_win_frames
            FROM win WHERE energy >= {AUDIO_VAD_THRESHOLD}
        ),
        anch AS (
            SELECT doc_id, window_idx, n_win_frames,
                   window_idx - row_number() OVER (
                       PARTITION BY doc_id ORDER BY window_idx) AS anchor
            FROM voiced
        )
        SELECT doc_id,
               CAST(min(window_idx) AS INTEGER) AS seg_start,
               CAST(max(window_idx) AS INTEGER) AS seg_end,
               CAST(count(*) AS BIGINT) AS n_windows,
               CAST(sum(n_win_frames) AS BIGINT) AS n_frames
        FROM anch GROUP BY doc_id, anchor
    """,
    "mm_audio_energy_windows": f"""
        WITH a AS (
            SELECT doc_id, octet_length(encode(text)) % 100 AS n_frames
            FROM documents
            WHERE CAST(doc_id % 3 AS INTEGER) = 1
        ),
        win AS (
            SELECT doc_id, n_frames, CAST(t.w AS INTEGER) AS window_idx,
                   floor({_AUDIO_HEX} / 4095.0 * 10000.0 + 0.5) / 10000.0 AS energy
            FROM a, LATERAL (
                SELECT unnest(range(0, (n_frames + {AUDIO_WIN - 1}) // {AUDIO_WIN})) AS w
            ) t
        )
        SELECT doc_id, window_idx,
               CAST(least({AUDIO_WIN}, n_frames - window_idx * {AUDIO_WIN}) AS INTEGER)
                   AS n_win_frames,
               energy,
               energy >= {AUDIO_VAD_THRESHOLD} AS voiced
        FROM win
    """,
    "mm_phash_dedup": f"""
        WITH dec AS (
            SELECT doc_id, {_MEDIA} AS media_type,
                   CAST(64 + octet_length(encode(text)) % 512 AS INTEGER) AS width,
                   CAST(64 + (octet_length(encode(text)) * 7) % 512 AS INTEGER) AS height
            FROM documents
        )
        SELECT media_type, width, height,
               CAST(count(*) AS BIGINT) AS n_assets,
               min(doc_id) AS canonical_doc
        FROM dec
        GROUP BY media_type, width, height
        HAVING count(*) >= 2
    """,
    "mm_pipeline": f"""
        WITH a AS (
            SELECT doc_id, {_MEDIA} AS media_type,
                   octet_length(encode(text)) AS nb, text
            FROM documents
        ),
        dec AS (
            SELECT doc_id, media_type,
                   CAST(64 + nb % 512 AS INTEGER) AS width,
                   CAST(64 + (nb * 7) % 512 AS INTEGER) AS height,
                   CAST(CASE media_type
                        WHEN 'image' THEN 1
                        WHEN 'audio' THEN nb % 100
                        ELSE nb % 240 END AS INTEGER) AS n_frames,
                   nb, text
            FROM a
        ),
        rsz AS (
            SELECT doc_id,
                   CAST(CASE WHEN greatest(width, height) > {RESIZE_MAX}
                        THEN (width * {RESIZE_MAX}) // greatest(width, height)
                        ELSE width END AS INTEGER) AS new_width,
                   CAST(CASE WHEN greatest(width, height) > {RESIZE_MAX}
                        THEN (height * {RESIZE_MAX}) // greatest(width, height)
                        ELSE height END AS INTEGER) AS new_height
            FROM dec WHERE media_type = 'image'
        )
        SELECT dec.doc_id, dec.media_type, dec.width, dec.height, dec.n_frames,
               rsz.new_width, rsz.new_height,
               array_to_string(list_transform(range(1, {N_FEATURES + 1}),
                   i -> printf('%.4f', floor(({sql_hex_int("md5(dec.text)", 1, "CAST(i AS INTEGER)")}
                        / 15.0) * 10000.0 + 0.5) / 10000.0)), '|') AS features
        FROM dec LEFT JOIN rsz ON rsz.doc_id = dec.doc_id
    """,
    "mm_asset_stats": f"""
        SELECT source, {_MEDIA} AS media_type,
               CAST(count(*) AS BIGINT) AS n_assets,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               floor((avg(octet_length(encode(text)))) * 10000.0 + 0.5) / 10000.0 AS avg_bytes
        FROM documents
        GROUP BY source, {_MEDIA}
    """,
    "mm_resize_images": f"""
        WITH a AS (
            SELECT doc_id,
                   64 + octet_length(encode(text)) % 512 AS w,
                   64 + (octet_length(encode(text)) * 7) % 512 AS h
            FROM documents
            WHERE CAST(doc_id % 3 AS INTEGER) = 0
        )
        SELECT doc_id,
               CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(CASE WHEN greatest(w, h) > {RESIZE_MAX}
                    THEN (w * {RESIZE_MAX}) // greatest(w, h) ELSE w END AS INTEGER) AS new_width,
               CAST(CASE WHEN greatest(w, h) > {RESIZE_MAX}
                    THEN (h * {RESIZE_MAX}) // greatest(w, h) ELSE h END AS INTEGER) AS new_height
        FROM a
    """,
    "mm_feature_extract": f"""
        SELECT doc_id,
               array_to_string(list_transform(range(1, {N_FEATURES + 1}),
                   i -> printf('%.4f', floor(({sql_hex_int("md5(text)", 1, "CAST(i AS INTEGER)")}
                        / 15.0) * 10000.0 + 0.5) / 10000.0)), '|') AS features
        FROM documents
    """,
    "mm_frame_sample": f"""
        WITH v AS (
            SELECT doc_id, octet_length(encode(text)) % 240 AS n_frames
            FROM documents
            WHERE CAST(doc_id % 3 AS INTEGER) = 2
        )
        SELECT doc_id,
               CAST(idx AS INTEGER) AS frame_idx,
               md5(CAST(doc_id AS VARCHAR) || ':' || CAST(idx AS VARCHAR)) AS frame_md5
        FROM v, LATERAL (
            SELECT unnest(range(0, n_frames, {FRAME_STRIDE})) AS idx
        )
    """,
    "mm_decode_assets": f"""
        WITH a AS (
            SELECT doc_id, {_MEDIA} AS media_type,
                   octet_length(encode(text)) AS nb
            FROM documents
        )
        SELECT doc_id, media_type,
               CAST(64 + nb % 512 AS INTEGER) AS width,
               CAST(64 + (nb * 7) % 512 AS INTEGER) AS height,
               CAST(CASE media_type
                    WHEN 'image' THEN 1
                    WHEN 'audio' THEN nb % 100
                    ELSE nb % 240 END AS INTEGER) AS n_frames
        FROM a
    """,
}
