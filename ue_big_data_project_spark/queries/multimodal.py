"""Multimodal pipeline queries: binary payload plumbing, feature
extraction, frame sampling — the ``mapInPandas`` surface of the engine.

Payloads are synthesized deterministically from the documents table
(:func:`operators.multimodal.attach_media`), so the Arrow-batched Python
path is value-hash-checked against a pure-SQL oracle: the Spark side
really does ship bytes through ``mapInPandas`` workers and hash them
with ``hashlib``; DuckDB reproduces the results from the text column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ue_big_data_project_spark.operators import multimodal as MM
from ue_big_data_project_spark.queries import QuerySpec
from ue_big_data_project_spark.queries._replay import stage_batches
from ue_big_data_project_spark.queries.tables import load_tables

_MEDIA_TYPE_SQL = (
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' "
    "ELSE 'video' END"
)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bytes-level features of every payload through the Arrow UDF path."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return MM.media_features(MM.attach_media(d))


MULTIMODAL_FEATURES_SQL = f"""
SELECT doc_id,
       {_MEDIA_TYPE_SQL} AS media_type,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       CAST(64 + doc_id % 512 AS INTEGER) AS width,
       CAST(64 + (doc_id * 7) % 512 AS INTEGER) AS height
FROM documents
"""


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-2nd-frame sampling: one row per kept frame per video."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return MM.sample_frames(MM.attach_media(d), every=2)


MULTIMODAL_FRAMES_SQL = """
SELECT doc_id,
       CAST(unnest(range(0, 1 + doc_id % 16, 2)) AS INTEGER) AS frame_idx,
       md5(text || ':' || CAST(unnest(range(0, 1 + doc_id % 16, 2)) AS VARCHAR)) AS frame_md5
FROM documents
"""


def multimodal_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio features through the REAL codec path (``backend="real"``):
    every document gets a genuine RIFF/WAVE PCM16 container built in the
    Arrow workers (operators/multimodal.attach_wav), and the features
    come from actually parsing those bytes — chunk walk, fmt/data
    decode, numpy PCM stats (operators/multimodal.decode_wav). The
    fixture waveform is a square wave whose length/amplitude derive
    from doc_id, so the decoded numbers are closed-form SQL for the
    oracle while the decode itself handles any PCM16 WAV."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return MM.wav_features(MM.attach_wav(d))


MULTIMODAL_WAV_SQL = """
SELECT doc_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(16 AS INTEGER) AS bits_per_sample,
       CAST(160 + (doc_id % 64) * 4 AS INTEGER) AS n_samples,
       CAST((160 + (doc_id % 64) * 4) * 125 AS BIGINT) AS duration_us,
       CAST(1000 + (doc_id % 7) * 100 AS INTEGER) AS peak_amplitude,
       CAST(1000 + (doc_id % 7) * 100 AS INTEGER) AS rms_amplitude
FROM documents
"""


def multimodal_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features through the REAL codec path: every document gets a
    genuine 24bpp BMP container built in the Arrow workers
    (operators/multimodal.attach_bmp), and the features come from
    actually parsing those bytes — file/DIB headers, row padding,
    bottom-up BGR pixel decode (operators/multimodal.decode_bmp). The
    fixture raster is a gradient (r=x, g=y, b=f(doc_id)), so every
    channel sum is closed-form SQL for the oracle while the decode
    itself handles any uncompressed 24-bit BMP."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return MM.bmp_features(MM.attach_bmp(d))


# w = 8 + doc_id % 23, h = 4 + doc_id % 11; r = x, g = y, b = doc_id % 251.
MULTIMODAL_BMP_SQL = """
SELECT doc_id,
       CAST(8 + doc_id % 23 AS INTEGER) AS width,
       CAST(4 + doc_id % 11 AS INTEGER) AS height,
       CAST(24 AS INTEGER) AS bits_per_pixel,
       CAST((8 + doc_id % 23) * (4 + doc_id % 11) AS BIGINT) AS n_pixels,
       CAST((4 + doc_id % 11) * ((8 + doc_id % 23) * (7 + doc_id % 23)) // 2
            AS BIGINT) AS sum_r,
       CAST((8 + doc_id % 23) * ((4 + doc_id % 11) * (3 + doc_id % 11)) // 2
            AS BIGINT) AS sum_g,
       CAST((8 + doc_id % 23) * (4 + doc_id % 11) * (doc_id % 251)
            AS BIGINT) AS sum_b
FROM documents
"""


def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-2nd-frame sampling through the REAL codec path: each
    document gets a genuine BMPV frame stream (indexed BMP frames,
    operators/multimodal.attach_bmpv) and each sampled frame is fully
    decoded (operators/multimodal.decode_bmpv) — the sampling walks the
    container's own index, the feature numbers come from the pixels."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return MM.bmpv_frame_features(MM.attach_bmpv(d), every=2)


# n_frames = 1 + doc_id % 8; per-frame blue plane = (doc_id + 7*fi) % 251.
MULTIMODAL_VIDEO_FRAMES_SQL = """
WITH sampled AS (
    SELECT doc_id,
           CAST(unnest(range(0, 1 + doc_id % 8, 2)) AS INTEGER) AS frame_idx
    FROM documents
)
SELECT doc_id,
       frame_idx,
       CAST(8 + doc_id % 23 AS INTEGER) AS width,
       CAST(4 + doc_id % 11 AS INTEGER) AS height,
       CAST((4 + doc_id % 11) * ((8 + doc_id % 23) * (7 + doc_id % 23)) // 2
            AS BIGINT) AS sum_r,
       CAST((8 + doc_id % 23) * ((4 + doc_id % 11) * (3 + doc_id % 11)) // 2
            AS BIGINT) AS sum_g,
       CAST((8 + doc_id % 23) * (4 + doc_id % 11)
            * ((doc_id + 7 * frame_idx) % 251) AS BIGINT) AS sum_b
FROM sampled
"""


def multimodal_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features through the COMPRESSED-container codec path:
    every document gets a genuine PNG (stdlib-zlib DEFLATE, filter type
    rotating per scanline) built in the Arrow workers
    (operators/multimodal.attach_png), and the features come from real
    decoding — CRC-verified chunk walk, inflate, unfiltering of all
    five PNG filter types (operators/multimodal.decode_png). Same
    gradient raster as the BMP path, so the same closed-form oracle
    applies; the bytes on the wire are a completely different (and
    compressed) container.

    The single-file documents table would otherwise hand the whole
    corpus to ONE mapInPandas worker; the ids-only repartition (8 bytes
    a row — payloads are built after it) spreads the inflate/unfilter
    work across every core. A production binary lake arrives
    many-filed, so this shuffle is the fixture's cost, not the
    operator's."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return MM.png_features(MM.attach_png(ids))


# Same raster as multimodal_bmp (w = 8 + doc_id % 23, h = 4 + doc_id % 11,
# r = x, g = y, b = doc_id % 251); PNG reports bit_depth 8 per channel.
MULTIMODAL_PNG_SQL = """
SELECT doc_id,
       CAST(8 + doc_id % 23 AS INTEGER) AS width,
       CAST(4 + doc_id % 11 AS INTEGER) AS height,
       CAST(8 AS INTEGER) AS bit_depth,
       CAST((8 + doc_id % 23) * (4 + doc_id % 11) AS BIGINT) AS n_pixels,
       CAST((4 + doc_id % 11) * ((8 + doc_id % 23) * (7 + doc_id % 23)) // 2
            AS BIGINT) AS sum_r,
       CAST((8 + doc_id % 23) * ((4 + doc_id % 11) * (3 + doc_id % 11)) // 2
            AS BIGINT) AS sum_g,
       CAST((8 + doc_id % 23) * (4 + doc_id % 11) * (doc_id % 251)
            AS BIGINT) AS sum_b
FROM documents
"""


def multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features through the TRANSFORM-CODED codec path: every
    document gets a genuine baseline JFIF stream (Annex-K tables,
    Huffman entropy coding, byte stuffing) built in the Arrow workers
    (operators/multimodal.attach_jpeg), and the features come from a
    full decode — marker walk, stream-carried table parse, Huffman
    decode, dequantization, float IDCT
    (operators/multimodal.decode_jpeg). The fixture raster is
    block-constant grayscale with even offsets, so the DC-only blocks
    quantize EXACTLY and the lossy codec round-trips them bit-perfectly
    — the decoded sums stay closed-form SQL for the oracle while the
    decoder handles any baseline 4:4:4 JPEG. Ids-only repartition for
    the same reason as multimodal_png: payloads are built after it."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return MM.jpeg_features(MM.attach_jpeg(ids))


# 8x8 blocks: bw = 1 + doc_id % 5, bh = 1 + doc_id % 3; block (bx, by)
# holds v = 128 + 2*(((doc_id + 3*bx + 5*by) % 50) - 25), 64 px each.
MULTIMODAL_JPEG_SQL = """
WITH dims AS (
  SELECT doc_id, 1 + doc_id % 5 AS bw, 1 + doc_id % 3 AS bh FROM documents
),
bxs AS (
  SELECT doc_id, bw, bh, unnest(range(0, bw)) AS bx FROM dims
),
blocks AS (
  SELECT doc_id, bw, bh, bx, unnest(range(0, bh)) AS by FROM bxs
),
vals AS (
  SELECT doc_id, bw, bh,
         128 + 2 * (((doc_id + 3 * bx + 5 * by) % 50) - 25) AS v
  FROM blocks
)
SELECT doc_id,
       CAST(8 * any_value(bw) AS INTEGER) AS width,
       CAST(8 * any_value(bh) AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_components,
       CAST(64 * any_value(bw) * any_value(bh) AS BIGINT) AS n_pixels,
       CAST(sum(64 * v) AS BIGINT) AS sum_luma
FROM vals GROUP BY doc_id
"""


def multimodal_mp4_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-2nd-frame sampling through the COMPRESSED-video codec
    path: each document gets a genuine MJPEG-in-MP4 container — ISO
    BMFF boxes, real stts/stsc/stsz/stco sample tables, baseline-JFIF
    sample payloads (operators/multimodal.attach_mp4) — and the
    sampling DEMUXES it: the box walk resolves the sample table to
    absolute offsets, every 2nd sample is seeked (skipped frames are
    never touched) and fully JPEG-decoded
    (operators/multimodal.decode_mp4). Frame rasters reuse the
    block-constant exactly-quantizable scheme of multimodal_jpeg with
    the frame index folded in, so the decoded per-frame luma sums stay
    closed-form SQL while the demux handles any single-video-track
    BMFF file. Ids-only repartition for the same reason as
    multimodal_png: payloads are built after it."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return MM.mp4_frame_features(MM.attach_mp4(ids), every=2)


# n_frames = 1 + doc_id % 8 at 25 fps (pts_ms = 40*idx); 8x8 blocks:
# bw = 1 + doc_id % 5, bh = 1 + doc_id % 3; block (bx, by) of frame fi
# holds v = 128 + 2*(((doc_id + 11*fi + 3*bx + 5*by) % 50) - 25).
MULTIMODAL_MP4_FRAMES_SQL = """
WITH sampled AS (
  SELECT doc_id,
         CAST(unnest(range(0, 1 + doc_id % 8, 2)) AS INTEGER) AS frame_idx
  FROM documents
),
dims AS (
  SELECT doc_id, frame_idx, 1 + doc_id % 5 AS bw, 1 + doc_id % 3 AS bh
  FROM sampled
),
bxs AS (
  SELECT doc_id, frame_idx, bw, bh, unnest(range(0, bw)) AS bx FROM dims
),
blocks AS (
  SELECT doc_id, frame_idx, bw, bh, bx, unnest(range(0, bh)) AS by
  FROM bxs
),
vals AS (
  SELECT doc_id, frame_idx, bw, bh,
         128 + 2 * (((doc_id + 11 * frame_idx + 3 * bx + 5 * by) % 50) - 25)
           AS v
  FROM blocks
)
SELECT doc_id,
       frame_idx,
       CAST(40 * frame_idx AS BIGINT) AS pts_ms,
       CAST(8 * any_value(bw) AS INTEGER) AS width,
       CAST(8 * any_value(bh) AS INTEGER) AS height,
       CAST(64 * any_value(bw) * any_value(bh) AS BIGINT) AS n_pixels,
       CAST(sum(64 * v) AS BIGINT) AS sum_luma
FROM vals GROUP BY doc_id, frame_idx
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE through the real codec path — the thumbnail /
    model-input normalization step of a multimodal ingest pipeline:
    every document's genuine BMP container decodes in the Arrow
    workers and resizes to a fixed 16×8 raster with half-pixel-centered
    NEAREST sampling (``operators/multimodal.resize_pixels`` — pure
    integer index arithmetic, so the transform is bit-reproducible in
    any engine). The hashed row carries per-channel sums AND a
    position-weighted digest of the flattened resized bytes, so the
    oracle pins the exact output raster, not just its totals. Bilinear
    rides the same operator (float path), equivalence- and
    gradient-pinned in tests/test_multimodal.py."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return MM.resize_features(
        MM.attach_bmp(ids), out_w=16, out_h=8, method="nearest"
    )


# Source raster (synth_bmp_pixels): w = 8 + doc_id % 23, h = 4 + doc_id
# % 11, r = x, g = y, b = doc_id % 251. Nearest with half-pixel centers:
# output (i, j) samples sx = ((2j+1)·w) // 32, sy = ((2i+1)·h) // 16 —
# closed-form, replayed pixel-by-pixel over the 8×16 output grid.
MULTIMODAL_RESIZE_SQL = """
WITH base AS (
  SELECT doc_id,
         CAST(8 + doc_id % 23 AS BIGINT) AS w,
         CAST(4 + doc_id % 11 AS BIGINT) AS h,
         CAST(doc_id % 251 AS BIGINT) AS b
  FROM documents
), px AS (
  SELECT doc_id, i, j,
         ((2 * j + 1) * w) // 32 AS sx,
         ((2 * i + 1) * h) // 16 AS sy,
         b
  FROM base, range(0, 8) t1(i), range(0, 16) t2(j)
)
SELECT doc_id,
       CAST(16 AS INTEGER) AS out_w,
       CAST(8 AS INTEGER) AS out_h,
       CAST(sum(sx) AS BIGINT) AS sum_r,
       CAST(sum(sy) AS BIGINT) AS sum_g,
       CAST(sum(b) AS BIGINT) AS sum_b,
       CAST(sum(
         ((i * 16 + j) * 3 + 1) * sx
         + ((i * 16 + j) * 3 + 2) * sy
         + ((i * 16 + j) * 3 + 3) * b
       ) AS BIGINT) AS pos_digest
FROM px GROUP BY doc_id
"""


def multimodal_wav_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio RESAMPLE through the real codec path — the sample-rate
    conversion step of an audio ingest pipeline, the audio twin of
    ``multimodal_resize``: every document's genuine PCM16 WAV decodes
    in the Arrow workers and resamples to a fixed 256 frames with
    half-sample-centered NEAREST picks
    (``operators/multimodal.resample_audio`` — pure integer index
    arithmetic). The hashed row carries the sample sum, |sample| sum,
    and a position-weighted digest, so the oracle replays the exact
    resampled waveform frame-by-frame from the square-wave fixture's
    closed form. Linear interpolation rides the same operator (float
    path), ramp-exactness-pinned in tests/test_multimodal.py.

    No ids-repartition here, unlike the codec-heavy siblings
    (round-13, the r12 scaling probe): WAV synth+resample is the
    lightest Arrow path in the family, and the hash exchange to
    ``defaultParallelism`` partitions cost more than the spread bought
    — A/B at sf0.1: repartition(32) 0.79 s vs scan partitioning
    0.42 s, and the 8-vs-32-core ratio 0.59 was this entry flagging
    exactly that. At scale the scan is naturally parallel (many
    files), so the spread derives from input size instead of a
    constant. multimodal_jpeg measured the OPPOSITE (0.95 s with the
    repartition vs 2.45 s without — heavy decode starves on the tiny
    fixture's few non-empty scan splits), so the codec-heavy entries
    keep theirs."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return MM.audio_resample_features(
        MM.attach_wav(d), out_n=256, method="nearest"
    )


# Fixture square wave (synth_wav): n = 160 + (doc_id % 64)·4, amp =
# 1000 + (doc_id % 7)·100, s_i = ±amp by (i // period) % 2 with period
# = 2 + doc_id % 14. Nearest with half-sample centers: output frame k
# picks si = ((2k+1)·n) // 512 — replayed frame-by-frame.
MULTIMODAL_WAV_RESAMPLE_SQL = """
WITH base AS (
  SELECT doc_id,
         CAST(160 + (doc_id % 64) * 4 AS BIGINT) AS n,
         CAST(1000 + (doc_id % 7) * 100 AS BIGINT) AS amp,
         CAST(2 + doc_id % 14 AS BIGINT) AS period
  FROM documents
), fr AS (
  SELECT doc_id,
         CASE WHEN ((((2 * k + 1) * n) // 512) // period) % 2 = 0
              THEN amp ELSE -amp END AS s,
         k, amp
  FROM base, range(0, 256) t(k)
)
SELECT doc_id,
       CAST(256 AS INTEGER) AS out_n,
       CAST(sum(s) AS BIGINT) AS sum_s,
       CAST(sum(amp) AS BIGINT) AS sum_abs,
       CAST(sum((k + 1) * s) AS BIGINT) AS pos_digest
FROM fr GROUP BY doc_id
"""


def dedup_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE-level dedup by perceptual hash: every document's real BMP
    container decodes and dHashes in the Arrow workers
    (``operators/multimodal.image_dhash`` — 9×8 integer-exact nearest
    resize → integer grayscale → 64 horizontal-gradient sign bits,
    robust to uniform brightness shifts by construction), then one
    window over the hash key yields the duplicate-group size and the
    canonical keeper — the image twin of ``dedup_exact``'s
    fingerprint-groupBy, with the SimHash banding machinery available
    unchanged for near-dup Hamming search. The oracle replays the
    hash bit-by-bit from the fixture's closed-form rasters."""
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    h = MM.attach_bmp_dhash(ids)
    w = W.partitionBy("dhash_hi", "dhash_lo")
    return h.select(
        "doc_id",
        "dhash_hi",
        "dhash_lo",
        F.count(F.lit(1)).over(w).alias("n_same"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
    )


# Fixture raster (synth_bmp_pixels): r = x, g = y, b = doc_id % 251.
# dHash replay: 9-wide nearest resize gives column sample sx(j) =
# ((2j+1)·w) // 18 and row sample sy(i) = ((2i+1)·h) // 16; gray =
# (sx + sy + b) // 3; bit i·8+j set iff gray(i, j+1) > gray(i, j).
# Shared by the group-dedup and the banded near-dup oracles.
_DHASH_CTES = """base AS (
  SELECT doc_id,
         CAST(8 + doc_id % 23 AS BIGINT) AS w,
         CAST(4 + doc_id % 11 AS BIGINT) AS h,
         CAST(doc_id % 251 AS BIGINT) AS b
  FROM documents
), bits AS (
  SELECT doc_id, i, j,
         CASE WHEN ((((2 * (j + 1) + 1) * w) // 18)
                    + (((2 * i + 1) * h) // 16) + b) // 3
                 > ((((2 * j + 1) * w) // 18)
                    + (((2 * i + 1) * h) // 16) + b) // 3
              THEN 1 ELSE 0 END AS bit
  FROM base, range(0, 8) t1(i), range(0, 8) t2(j)
), hashes AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN i * 8 + j >= 32
                       THEN bit * (CAST(1 AS BIGINT) << (i * 8 + j - 32))
                       ELSE 0 END) AS BIGINT) AS dhash_hi,
         CAST(sum(CASE WHEN i * 8 + j < 32
                       THEN bit * (CAST(1 AS BIGINT) << (i * 8 + j))
                       ELSE 0 END) AS BIGINT) AS dhash_lo
  FROM bits GROUP BY doc_id
)"""

MULTIMODAL_DHASH_SQL = f"""
WITH {_DHASH_CTES}
SELECT doc_id, dhash_hi, dhash_lo,
       CAST(count(*) OVER (PARTITION BY dhash_hi, dhash_lo) AS BIGINT)
         AS n_same,
       doc_id = min(doc_id) OVER (PARTITION BY dhash_hi, dhash_lo)
         AS keep
FROM hashes
"""


def dedup_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate image pairs (1 ≤ Hamming ≤ 2 over the 64-bit
    dHash) via SimHash-style pigeonhole banding
    (``operators/multimodal.dhash_neardup_pairs``): 4 bands of 16 bits,
    band-key equi-join, bit_count(xor) verify — never all-pairs. The
    oracle brute-forces every pair from the closed-form hashes, so the
    hash-equality IS the losslessness proof for the banding (a missed
    pair mismatches). Exact-duplicate pairs (Hamming 0) are excluded —
    that's ``dedup_image_dhash``'s group op."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    h = MM.attach_bmp_dhash(ids)
    return MM.dhash_neardup_pairs(h, max_hamming=2)


MULTIMODAL_NEARDUP_SQL = f"""
WITH {_DHASH_CTES}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
            + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS INTEGER)
         AS hamming
FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash_hi, b.dhash_hi))
      + bit_count(xor(a.dhash_lo, b.dhash_lo)) BETWEEN 1 AND 2
"""


def dedup_image_fp_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL image near-dup screen — the FIFTH persisted-index
    family applied to the image axis: half the corpus's dHashes
    persist as a bucket-sharded band-row index
    (``operators/multimodal.write_fp_index``; banding is stateless, so
    nothing is frozen and appends are O(increment)); a disjoint
    quarter probes it (``fp_probe_index``) for every probe-incident
    pair with 1 ≤ Hamming ≤ 2 — the batch-vs-everything-ingested
    screen a crawl pipeline runs per increment, without
    re-fingerprinting the corpus. The oracle brute-forces the pair
    sweep from the closed-form hashes restricted to (index ∪ probe)
    endpoints with ≥ 1 probe endpoint — losslessness of the banded
    probe, per row."""
    import shutil as _sh
    import tempfile as _tf

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    old = MM.attach_bmp_dhash(ids.filter(F.col("doc_id") % 2 == 0))
    new = MM.attach_bmp_dhash(ids.filter(F.col("doc_id") % 4 == 1))
    root = _tf.mkdtemp(prefix="spark_graft_fpidx_")
    try:
        idx = root + "/fpidx"
        MM.write_fp_index(old, idx)
        return MM.fp_probe_index(spark, idx, new)
    finally:
        _sh.rmtree(root, ignore_errors=True)


MULTIMODAL_FP_INCREMENTAL_SQL = f"""
WITH {_DHASH_CTES}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
            + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS INTEGER)
         AS hamming
FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
WHERE (a.doc_id % 2 = 0 OR a.doc_id % 4 = 1)
  AND (b.doc_id % 2 = 0 OR b.doc_id % 4 = 1)
  AND (a.doc_id % 4 = 1 OR b.doc_id % 4 = 1)
  AND bit_count(xor(a.dhash_hi, b.dhash_hi))
      + bit_count(xor(a.dhash_lo, b.dhash_lo)) BETWEEN 1 AND 2
"""


def dedup_image_fp_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETENTION for the fingerprint index — the family's prune path
    (the `dedup_clusters_pruned` / `dedup_jaccard_pruned` precedent):
    the even half's dHashes persist, ``rewrite_fp_index`` drops every
    16th document's rows (compacting to the canonical flat layout),
    and the odd quarter probes the SURVIVORS. Banding is stateless, so
    the prune is exact by construction; the oracle is the brute-force
    pair sweep restricted to surviving endpoints with ≥ 1 probe
    endpoint."""
    import shutil as _sh
    import tempfile as _tf

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    evens = ids.filter(F.col("doc_id") % 2 == 0)
    old = MM.attach_bmp_dhash(evens)
    new = MM.attach_bmp_dhash(ids.filter(F.col("doc_id") % 4 == 1))
    root = _tf.mkdtemp(prefix="spark_graft_fpprune_")
    try:
        idx = root + "/fpidx"
        MM.write_fp_index(old, idx)
        MM.rewrite_fp_index(
            spark, idx, evens.filter(F.col("doc_id") % 16 != 0).select("doc_id")
        )
        return MM.fp_probe_index(spark, idx, new)
    finally:
        _sh.rmtree(root, ignore_errors=True)


MULTIMODAL_FP_PRUNED_SQL = f"""
WITH {_DHASH_CTES}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
            + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS INTEGER)
         AS hamming
FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
WHERE ((a.doc_id % 2 = 0 AND a.doc_id % 16 != 0) OR a.doc_id % 4 = 1)
  AND ((b.doc_id % 2 = 0 AND b.doc_id % 16 != 0) OR b.doc_id % 4 = 1)
  AND (a.doc_id % 4 = 1 OR b.doc_id % 4 = 1)
  AND bit_count(xor(a.dhash_hi, b.dhash_hi))
      + bit_count(xor(a.dhash_lo, b.dhash_lo)) BETWEEN 1 AND 2
"""


def streaming_fp_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous media-fingerprint index maintenance end-to-end: the
    even half of the corpus replays as 3 REAL micro-batches through
    ``streaming.ingest.fp_ingest_stream`` — each batch attaches its BMP
    payloads, dHashes them in the Arrow workers, and lands its band
    rows in a crash-safe ``batch_id=N`` partition — then the odd
    quarter probes the STREAMED index. Banding is stateless, so
    batching must be invisible: the oracle is
    ``dedup_image_fp_incremental``'s brute-force probe-incident SQL
    VERBATIM."""
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.streaming import ingest
    from ue_big_data_project_spark.session import apply_session_conf

    apply_session_conf(spark)
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    old_ids = d.filter(F.col("doc_id") % 2 == 0).select("doc_id")
    new = MM.attach_bmp_dhash(
        d.repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        ).filter(F.col("doc_id") % 4 == 1)
    )
    root = _tf.mkdtemp(prefix="spark_graft_fpstream_")
    try:
        # One staging job for all 3 batch files (round-12, guide §2.4).
        stage = stage_batches(
            old_ids, (F.col("doc_id") / 2) % 3, root
        )
        sdf = spark.readStream.schema("doc_id long").option(
            "maxFilesPerTrigger", 1
        ).parquet(stage)
        ST.drain(
            spark,
            lambda: ingest.fp_ingest_stream(
                sdf,
                index_path=_os.path.join(root, "fpidx"),
                ledger_dir=_os.path.join(root, "_ledger"),
                fingerprint=lambda bdf: MM.attach_bmp_dhash(bdf),
            ),
        )
        return MM.fp_probe_index(spark, _os.path.join(root, "fpidx"), new)
    finally:
        _sh.rmtree(root, ignore_errors=True)


def dedup_audio_fp_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same persisted fingerprint index on the AUDIO axis — the
    Haitsma–Kalker bits ride the identical band-row layout (the stats
    sidecar records the fp column names), so one index family screens
    every 64-bit perceptual fingerprint modality. Index = even docs,
    probe = the odd quarter; oracle = brute-force probe-incident
    sweep over the closed-form fingerprints."""
    import shutil as _sh
    import tempfile as _tf

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    old = MM.attach_wav_saw_fp(ids.filter(F.col("doc_id") % 2 == 0))
    new = MM.attach_wav_saw_fp(ids.filter(F.col("doc_id") % 4 == 1))
    root = _tf.mkdtemp(prefix="spark_graft_afpidx_")
    try:
        idx = root + "/fpidx"
        MM.write_fp_index(old, idx, hi_col="fp_hi", lo_col="fp_lo")
        return MM.fp_probe_index(spark, idx, new)
    finally:
        _sh.rmtree(root, ignore_errors=True)


def dedup_image_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-dup CLUSTERING — the composition that turns pairwise
    Hamming evidence into canonical groups: per-image dHash (Arrow
    decode), banded pairs at 0 ≤ Hamming ≤ 2 (``min_hamming=0`` —
    exact and near dups belong to one cluster), and the engine's
    distributed connected components over them. The cluster id is the
    component's min doc_id, so downstream retention / leakage-split /
    keep-one-per-cluster ops reuse the text-dedup machinery unchanged
    on the image axis. Oracle = brute-force pair sweep under the
    recursive-CTE closure (the dedup_clusters precedent)."""
    from ue_big_data_project_spark.pipelines import (
        media_dedup_components_of_hashes,
    )

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    # One decode pass feeds the node set and both pair-join sides;
    # the shared helper collapses exact-dup cliques to star edges and
    # bands only DISTINCT hashes before CC (round-12 — its docstring
    # has the equivalence argument; same labels, oracle unchanged).
    h = MM.attach_bmp_dhash(ids).localCheckpoint(eager=True)
    return media_dedup_components_of_hashes(h, max_hamming=2).select(
        "doc_id", "component"
    )


MULTIMODAL_IMAGE_CLUSTERS_SQL = f"""
WITH RECURSIVE {_DHASH_CTES},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.dhash_hi, b.dhash_hi))
        + bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 2
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node
)
SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS component
FROM reach GROUP BY node
"""


def dedup_video_fp_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL video near-dup (round-12): the even half of the
    corpus persists as a video signature index
    (``operators/multimodal.write_video_sig_index`` — distinct
    per-frame dHash rows bucket-sharded by signature hash + the
    per-video size sidecar that carries the TRUE containment
    denominators), and the ``% 4 == 1`` quarter probes it: every
    containment pair with ≥ 1 probe endpoint, WITHOUT re-demuxing the
    corpus. Signatures are stateless (nothing frozen, no staleness
    audit — the fp-band-index property on the video axis). The oracle
    is the full brute-force dHash containment sweep restricted to
    (index ∪ probe) membership and probe-incident pairs."""
    import shutil as _sh
    import tempfile as _tf

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")

    def sigs_of(pred: str) -> DataFrame:
        return MM.attach_mp4_textured_dhash(ids.filter(pred), every=1)

    root = _tf.mkdtemp(prefix="spark_graft_vsig_")
    try:
        idx = root + "/vsig"
        MM.write_video_sig_index(
            sigs_of("doc_id % 2 = 0"), idx,
            sig_cols=("dhash_hi", "dhash_lo"),
        )
        return MM.video_probe_sig_index(
            spark, idx, sigs_of("doc_id % 4 = 1")
        )
    finally:
        _sh.rmtree(root, ignore_errors=True)


# Containment is PAIRWISE over per-video signature sets, so restricting
# the full sweep to (index ∪ probe) membership with ≥1 probe endpoint
# is exact (the jaccard/fp incremental oracle precedent).
MULTIMODAL_VIDEO_FP_INCREMENTAL_SQL = """
WITH frames AS (
  SELECT doc_id,
         CAST(unnest(range(0, 1 + doc_id % 8)) AS INTEGER) AS f
  FROM documents
  WHERE doc_id % 2 = 0 OR doc_id % 4 = 1
), g AS (
  SELECT doc_id, f, i, j,
         128 + 2 * (((doc_id + 11 * f + (3 + doc_id % 7) * j + 5 * i)
                     % 50) - 25) AS v
  FROM frames, range(0, 8) t1(i), range(0, 9) t2(j)
), bits AS (
  SELECT a.doc_id, a.f, a.i, a.j,
         CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
  FROM g a
  JOIN g b ON b.doc_id = a.doc_id AND b.f = a.f
          AND b.i = a.i AND b.j = a.j + 1
  WHERE a.j < 8
), hash AS (
  SELECT doc_id, f,
         CAST(sum(CASE WHEN i * 8 + j >= 32
                       THEN bit * (CAST(1 AS BIGINT) << (i * 8 + j - 32))
                       ELSE 0 END) AS BIGINT) AS dhash_hi,
         CAST(sum(CASE WHEN i * 8 + j < 32
                       THEN bit * (CAST(1 AS BIGINT) << (i * 8 + j))
                       ELSE 0 END) AS BIGINT) AS dhash_lo
  FROM bits GROUP BY doc_id, f
), sigs AS (
  SELECT DISTINCT doc_id, dhash_hi, dhash_lo FROM hash
), sizes AS (
  SELECT doc_id, count(*) AS n_sig FROM sigs GROUP BY doc_id
), m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS matched
  FROM sigs a
  JOIN sigs b ON a.dhash_hi = b.dhash_hi
             AND a.dhash_lo = b.dhash_lo
             AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       CAST(sa.n_sig AS BIGINT) AS n_sig_a,
       CAST(sb.n_sig AS BIGINT) AS n_sig_b,
       CAST(matched AS BIGINT) AS matched,
       CAST(matched AS DOUBLE) / CAST(least(sa.n_sig, sb.n_sig) AS DOUBLE)
         AS match_frac
FROM m
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE 2 * matched >= least(sa.n_sig, sb.n_sig)
  AND (id_a % 4 = 1 OR id_b % 4 = 1)
"""


def streaming_video_sig_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Continuous video-signature index maintenance end-to-end: the
    even half of the corpus replays as 3 REAL micro-batches through
    ``streaming.ingest.video_sig_ingest_stream`` — each batch attaches its
    textured MP4 containers, demux+decode+dHashes every frame in the
    Arrow workers, and lands its distinct signature rows + per-video
    sizes in crash-safe ``batch_id=N`` partitions — then the odd
    quarter probes the STREAMED index. Signatures are stateless, so
    batching must be invisible: the oracle is
    ``dedup_video_fp_incremental``'s brute-force probe-incident SQL
    VERBATIM."""
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.streaming import ingest
    from ue_big_data_project_spark.session import apply_session_conf

    apply_session_conf(spark)
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    old_ids = ids.filter(F.col("doc_id") % 2 == 0).select("doc_id")
    new = MM.attach_mp4_textured_dhash(
        ids.filter(F.col("doc_id") % 4 == 1), every=1
    )
    root = _tf.mkdtemp(prefix="spark_graft_vsigstream_")
    try:
        # One staging job for all 3 batch files (round-12, guide §2.4).
        stage = stage_batches(
            old_ids, (F.col("doc_id") / 2) % 3, root
        )
        sdf = spark.readStream.schema("doc_id long").option(
            "maxFilesPerTrigger", 1
        ).parquet(stage)
        par = spark.sparkContext.defaultParallelism
        ST.drain(
            spark,
            lambda: ingest.video_sig_ingest_stream(
                sdf,
                index_path=_os.path.join(root, "vsig"),
                ledger_dir=_os.path.join(root, "_ledger"),
                # The staged batch arrives as ONE file = ONE partition;
                # without the ids-only repartition the whole batch's
                # container-build + demux + decode + hash runs on a
                # single core (measured 44 s at sf0.1 vs ~8 s spread).
                # A production video lake arrives many-filed, so this
                # is the fixture's cost, not the operator's.
                signatures=lambda bdf: MM.attach_mp4_textured_dhash(
                    bdf.repartition(par, "doc_id"), every=1
                ),
                sig_cols=("dhash_hi", "dhash_lo"),
            ),
        )
        return MM.video_probe_sig_index(
            spark, _os.path.join(root, "vsig"), new
        )
    finally:
        _sh.rmtree(root, ignore_errors=True)


def pipeline_media_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media-dedup stage of ``pipelines.build_corpus``, standalone
    (round-11 verdict task 5): (id, payload) image containers →
    ``pipelines.media_dedup_components`` (Arrow dHash → banded pairs at
    0 ≤ Hamming ≤ 2 → distributed CC) → the KEPT-ID SET (one canonical
    doc per image cluster, id == component) — exactly the semi-join
    filter the composed pipeline applies and the id set its media fp
    index persists. Oracle = the image-clusters recursive-CTE closure
    restricted to its fixpoints."""
    from ue_big_data_project_spark.pipelines import (
        media_dedup_components_of_hashes,
    )

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    # Same decode∘hash → clique-collapse → CC leg as
    # media_dedup_components, entered through the fused fixture edge
    # (one Arrow pass; the BMP bytes never cross the JVM boundary).
    h = MM.attach_bmp_dhash(ids).localCheckpoint(eager=True)
    comps = media_dedup_components_of_hashes(h, max_hamming=2)
    return (
        comps.filter(F.col("doc_id") == F.col("component"))
        .select("doc_id")
    )


PIPELINE_MEDIA_PRUNE_SQL = f"""
WITH RECURSIVE {_DHASH_CTES},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.dhash_hi, b.dhash_hi))
        + bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 2
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node
)
SELECT node AS doc_id
FROM reach GROUP BY node
HAVING node = min(label)
"""


def multimodal_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO-level perceptual dedup — the audio twin of
    ``dedup_image_dhash``: every document's real WAV container decodes
    and fingerprints in the Arrow workers
    (``operators/multimodal.audio_fp_bits`` — Haitsma–Kalker ISMIR
    2002: fixed 324-sample grid → 9 frames × 9 integer band energies →
    64 sign-of-double-difference bits, volume-invariant by
    construction), then one window over the fingerprint yields the
    duplicate-group size and canonical keeper. The fixture is the
    sawtooth companion (``attach_wav_saw``) — the square-wave fixture's
    constant |sample| makes every band energy equal, which is exactly
    the degenerate input an energy-sign fingerprint must NOT be
    demonstrated on. The oracle replays the hash bit-by-bit from the
    closed-form waveform."""
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    h = MM.attach_wav_saw_fp(ids)
    w = W.partitionBy("fp_hi", "fp_lo")
    return h.select(
        "doc_id",
        "fp_hi",
        "fp_lo",
        F.count(F.lit(1)).over(w).alias("n_same"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
    )


# Fixture waveform (synth_wav_saw): n = 288 + (d%7)·36 samples, sample
# i = (((i·p + q) mod 512) − 256)·4 with p = 3 + d%8, q = d%512.
# Fingerprint replay: resample index si(k) = ((2k+1)·n) // 648 for
# k ∈ [0, 324); band energy E(f, m) = Σ s(si)² over the 4-sample
# sub-band; bit (f−1)·8+m set iff the band-energy difference is rising
# in both band and time. Shared by the group-dedup and banded near-dup
# oracles.
_AUDIO_FP_CTES = """base AS (
  SELECT doc_id,
         CAST(288 + (doc_id % 7) * 36 AS BIGINT) AS n,
         CAST(3 + doc_id % 8 AS BIGINT) AS p,
         CAST(doc_id % 512 AS BIGINT) AS q
  FROM documents
), en AS (
  SELECT doc_id, k // 36 AS f, (k % 36) // 4 AS m, sum(s * s) AS e
  FROM (
    SELECT doc_id, k,
           ((((((2 * k + 1) * n) // 648) * p + q) % 512) - 256) * 4 AS s
    FROM base, range(0, 324) t(k)
  )
  GROUP BY doc_id, k // 36, (k % 36) // 4
), dd AS (
  SELECT doc_id, f, m,
         e - lead(e) OVER (PARTITION BY doc_id, f ORDER BY m) AS d
  FROM en
), bits AS (
  SELECT doc_id, f, m,
         CASE WHEN d - lag(d) OVER (PARTITION BY doc_id, m ORDER BY f)
                   > 0 THEN 1 ELSE 0 END AS bit
  FROM dd WHERE m <= 7
  QUALIFY f >= 1
), fps AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN (f - 1) * 8 + m >= 32
                       THEN bit * (CAST(1 AS BIGINT)
                                   << ((f - 1) * 8 + m - 32))
                       ELSE 0 END) AS BIGINT) AS fp_hi,
         CAST(sum(CASE WHEN (f - 1) * 8 + m < 32
                       THEN bit * (CAST(1 AS BIGINT) << ((f - 1) * 8 + m))
                       ELSE 0 END) AS BIGINT) AS fp_lo
  FROM bits GROUP BY doc_id
)"""

MULTIMODAL_AUDIO_FP_SQL = f"""
WITH {_AUDIO_FP_CTES}
SELECT doc_id, fp_hi, fp_lo,
       CAST(count(*) OVER (PARTITION BY fp_hi, fp_lo) AS BIGINT)
         AS n_same,
       doc_id = min(doc_id) OVER (PARTITION BY fp_hi, fp_lo) AS keep
FROM fps
"""


def dedup_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate audio pairs (1 ≤ Hamming ≤ 2 over the 64-bit
    Haitsma–Kalker fingerprint) via the SAME pigeonhole banding
    operator as the image path
    (``operators/multimodal.dhash_neardup_pairs`` with the fp
    columns): 4 bands of 16 bits, band-key equi-join, bit_count(xor)
    verify — never all-pairs. The oracle brute-forces every pair from
    the closed-form fingerprints, so the hash equality IS the
    losslessness proof for the banding on the audio axis; exact dups
    (Hamming 0) are ``multimodal_audio_fp``'s group op."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    h = MM.attach_wav_saw_fp(ids)
    return MM.dhash_neardup_pairs(
        h, max_hamming=2, hi_col="fp_hi", lo_col="fp_lo"
    )


MULTIMODAL_AUDIO_NEARDUP_SQL = f"""
WITH {_AUDIO_FP_CTES}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.fp_hi, b.fp_hi))
            + bit_count(xor(a.fp_lo, b.fp_lo)) AS INTEGER) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp_hi, b.fp_hi))
      + bit_count(xor(a.fp_lo, b.fp_lo)) BETWEEN 1 AND 2
"""

MULTIMODAL_AUDIO_FP_INCREMENTAL_SQL = f"""
WITH {_AUDIO_FP_CTES}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.fp_hi, b.fp_hi))
            + bit_count(xor(a.fp_lo, b.fp_lo)) AS INTEGER) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE (a.doc_id % 2 = 0 OR a.doc_id % 4 = 1)
  AND (b.doc_id % 2 = 0 OR b.doc_id % 4 = 1)
  AND (a.doc_id % 4 = 1 OR b.doc_id % 4 = 1)
  AND bit_count(xor(a.fp_hi, b.fp_hi))
      + bit_count(xor(a.fp_lo, b.fp_lo)) BETWEEN 1 AND 2
"""


def multimodal_video_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video thumbnail-grid pipeline — frame-sample ∘ decode ∘
    resize composed in one Arrow pass
    (``operators/multimodal.mp4_thumbnail_features``): every 2nd frame
    of each real MP4 container demuxes, decodes (native MJPEG), and
    resizes to a fixed 8×8 preview with integer-exact nearest
    sampling. The hashed rows carry per-thumbnail luma sums and
    position-weighted digests, so the oracle replays every thumbnail
    raster pixel-by-pixel from the block-constant fixture's closed
    form — a cross-engine check of the full demux→decode→transform
    chain."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return MM.attach_mp4_thumbs(ids, every=2, out_w=8, out_h=8)


# Fixture frames are block-constant (synth_mp4_frame_pixels): src dims
# (8bw × 8bh), block (bx, by) of frame fi holds v = 128 + 2*(((doc_id +
# 11·fi + 3·bx + 5·by) % 50) − 25). Nearest 8×8 thumbnail: output (i, j)
# samples sy = ((2i+1)·bh) // 2, sx = ((2j+1)·bw) // 2, block = (sx//8,
# sy//8) — replayed per output pixel.
MULTIMODAL_VIDEO_THUMBS_SQL = """
WITH sampled AS (
  SELECT doc_id,
         CAST(unnest(range(0, 1 + doc_id % 8, 2)) AS INTEGER) AS frame_idx,
         CAST(1 + doc_id % 5 AS BIGINT) AS bw,
         CAST(1 + doc_id % 3 AS BIGINT) AS bh
  FROM documents
), px AS (
  SELECT doc_id, frame_idx,
         i, j,
         128 + 2 * (((doc_id
                      + 11 * frame_idx
                      + 3 * ((((2 * j + 1) * bw) // 2) // 8)
                      + 5 * ((((2 * i + 1) * bh) // 2) // 8)) % 50) - 25)
           AS v
  FROM sampled, range(0, 8) t1(i), range(0, 8) t2(j)
)
SELECT doc_id, frame_idx,
       CAST(40 * frame_idx AS BIGINT) AS pts_ms,
       CAST(8 AS INTEGER) AS out_w,
       CAST(8 AS INTEGER) AS out_h,
       CAST(sum(v) AS BIGINT) AS sum_luma,
       CAST(sum((i * 8 + j + 1) * v) AS BIGINT) AS pos_digest
FROM px GROUP BY doc_id, frame_idx
"""


def dedup_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO-level near-dup dedup — the existing pieces composed
    end-to-end: every real MP4 container demuxes, decodes (native
    MJPEG), and thumbnails per frame in one Arrow pass
    (``operators/multimodal.mp4_thumbnail_features``), then
    ``video_neardup_pairs`` joins videos on shared frame signatures
    and keeps pairs where ≥½ of the smaller video's distinct frames
    appear in the other (containment — an embedded clip still pairs).
    The frame signature here is the thumbnail raster digest (the
    fixture's block-constant frames are gradient-degenerate, so a
    dHash signature collapses — see the operator docstring); the
    oracle replays every thumbnail pixel-by-pixel and brute-forces the
    pair set, proving the signature join loses nothing."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    thumbs = MM.attach_mp4_thumbs(ids, every=1, out_w=8, out_h=8)
    return MM.video_neardup_pairs(
        thumbs, sig_cols=("sum_luma", "pos_digest")
    )


# Same closed-form thumbnail replay as MULTIMODAL_VIDEO_THUMBS_SQL but
# over EVERY frame (every=1), reduced to per-frame signatures, then the
# brute-force containment pair sweep the Spark signature join must
# reproduce exactly.
MULTIMODAL_VIDEO_NEARDUP_SQL = """
WITH sampled AS (
  SELECT doc_id,
         CAST(unnest(range(0, 1 + doc_id % 8)) AS INTEGER) AS frame_idx,
         CAST(1 + doc_id % 5 AS BIGINT) AS bw,
         CAST(1 + doc_id % 3 AS BIGINT) AS bh
  FROM documents
), px AS (
  SELECT doc_id, frame_idx, i, j,
         128 + 2 * (((doc_id
                      + 11 * frame_idx
                      + 3 * ((((2 * j + 1) * bw) // 2) // 8)
                      + 5 * ((((2 * i + 1) * bh) // 2) // 8)) % 50) - 25)
           AS v
  FROM sampled, range(0, 8) t1(i), range(0, 8) t2(j)
), sig AS (
  SELECT doc_id, frame_idx,
         CAST(sum(v) AS BIGINT) AS sum_luma,
         CAST(sum((i * 8 + j + 1) * v) AS BIGINT) AS pos_digest
  FROM px GROUP BY doc_id, frame_idx
), sigs AS (
  SELECT DISTINCT doc_id, sum_luma, pos_digest FROM sig
), sizes AS (
  SELECT doc_id, count(*) AS n_sig FROM sigs GROUP BY doc_id
), m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS matched
  FROM sigs a
  JOIN sigs b ON a.sum_luma = b.sum_luma
             AND a.pos_digest = b.pos_digest
             AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       CAST(sa.n_sig AS BIGINT) AS n_sig_a,
       CAST(sb.n_sig AS BIGINT) AS n_sig_b,
       CAST(matched AS BIGINT) AS matched,
       CAST(matched AS DOUBLE) / CAST(least(sa.n_sig, sb.n_sig) AS DOUBLE)
         AS match_frac
FROM m
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE 2 * matched >= least(sa.n_sig, sb.n_sig)
"""


def dedup_video_neardup_dhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Video near-dup over the PRODUCTION frame signature (round-11
    verdict task 4): per-frame dHash — demux ∘ decode ∘ hash in one
    Arrow pass (``operators/multimodal.mp4_frame_dhash``) — joined by
    ``video_neardup_pairs`` on the 64-bit hash halves with the same
    ½-containment threshold. Runs over the TEXTURED MP4 fixture
    (``attach_mp4_textured``: a 9×8 grid of DC-only blocks with a
    per-document gradient step), whose frame dHashes are
    non-degenerate — the block-constant fixture collapses to 72
    distinct hashes over 500 docs, which is why the raster-digest
    twin (``dedup_video_neardup``) exists; this entry exercises the
    signature the operator docstring names for corpus scale. The
    oracle replays the dHash bits from the closed-form block values
    and brute-forces the containment sweep."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    sigs = MM.attach_mp4_textured_dhash(ids, every=1)
    return MM.video_neardup_pairs(
        sigs, sig_cols=("dhash_hi", "dhash_lo")
    )


# dHash replay: the textured fixture's 9×8 nearest resize samples one
# DC-only block per grid cell, so gray[i][j] is the closed-form block
# value; bit i*8+j = (v[i][j+1] > v[i][j]), packed into two 32-bit
# halves (bits ≥ 32 into hi) so everything rides signed BIGINTs.
MULTIMODAL_VIDEO_NEARDUP_DHASH_SQL = """
WITH frames AS (
  SELECT doc_id,
         CAST(unnest(range(0, 1 + doc_id % 8)) AS INTEGER) AS f
  FROM documents
), g AS (
  SELECT doc_id, f, i, j,
         128 + 2 * (((doc_id + 11 * f + (3 + doc_id % 7) * j + 5 * i)
                     % 50) - 25) AS v
  FROM frames, range(0, 8) t1(i), range(0, 9) t2(j)
), bits AS (
  SELECT a.doc_id, a.f, a.i, a.j,
         CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
  FROM g a
  JOIN g b ON b.doc_id = a.doc_id AND b.f = a.f
          AND b.i = a.i AND b.j = a.j + 1
  WHERE a.j < 8
), hash AS (
  SELECT doc_id, f,
         CAST(sum(CASE WHEN i * 8 + j >= 32
                       THEN bit * (CAST(1 AS BIGINT) << (i * 8 + j - 32))
                       ELSE 0 END) AS BIGINT) AS dhash_hi,
         CAST(sum(CASE WHEN i * 8 + j < 32
                       THEN bit * (CAST(1 AS BIGINT) << (i * 8 + j))
                       ELSE 0 END) AS BIGINT) AS dhash_lo
  FROM bits GROUP BY doc_id, f
), sigs AS (
  SELECT DISTINCT doc_id, dhash_hi, dhash_lo FROM hash
), sizes AS (
  SELECT doc_id, count(*) AS n_sig FROM sigs GROUP BY doc_id
), m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS matched
  FROM sigs a
  JOIN sigs b ON a.dhash_hi = b.dhash_hi
             AND a.dhash_lo = b.dhash_lo
             AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       CAST(sa.n_sig AS BIGINT) AS n_sig_a,
       CAST(sb.n_sig AS BIGINT) AS n_sig_b,
       CAST(matched AS BIGINT) AS matched,
       CAST(matched AS DOUBLE) / CAST(least(sa.n_sig, sb.n_sig) AS DOUBLE)
         AS match_frac
FROM m
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE 2 * matched >= least(sa.n_sig, sb.n_sig)
"""


QUERIES = {
    "multimodal_features": QuerySpec(multimodal_features, MULTIMODAL_FEATURES_SQL),
    "multimodal_resize": QuerySpec(multimodal_resize, MULTIMODAL_RESIZE_SQL),
    "multimodal_wav_resample": QuerySpec(
        multimodal_wav_resample, MULTIMODAL_WAV_RESAMPLE_SQL
    ),
    "multimodal_video_thumbs": QuerySpec(
        multimodal_video_thumbs, MULTIMODAL_VIDEO_THUMBS_SQL
    ),
    "dedup_image_dhash": QuerySpec(dedup_image_dhash, MULTIMODAL_DHASH_SQL),
    "dedup_image_neardup": QuerySpec(
        dedup_image_neardup, MULTIMODAL_NEARDUP_SQL
    ),
    "multimodal_audio_fp": QuerySpec(
        multimodal_audio_fp, MULTIMODAL_AUDIO_FP_SQL
    ),
    "dedup_audio_neardup": QuerySpec(
        dedup_audio_neardup, MULTIMODAL_AUDIO_NEARDUP_SQL
    ),
    "dedup_video_neardup": QuerySpec(
        dedup_video_neardup, MULTIMODAL_VIDEO_NEARDUP_SQL
    ),
    "dedup_video_neardup_dhash": QuerySpec(
        dedup_video_neardup_dhash, MULTIMODAL_VIDEO_NEARDUP_DHASH_SQL
    ),
    "pipeline_media_prune": QuerySpec(
        pipeline_media_prune, PIPELINE_MEDIA_PRUNE_SQL
    ),
    "dedup_video_fp_incremental": QuerySpec(
        dedup_video_fp_incremental, MULTIMODAL_VIDEO_FP_INCREMENTAL_SQL
    ),
    # Batching must be invisible (stateless signatures): the streamed
    # index's probe hashes the ONE-SHOT incremental oracle verbatim.
    "streaming_video_sig_index": QuerySpec(
        streaming_video_sig_index, MULTIMODAL_VIDEO_FP_INCREMENTAL_SQL
    ),
    "dedup_image_fp_incremental": QuerySpec(
        dedup_image_fp_incremental, MULTIMODAL_FP_INCREMENTAL_SQL
    ),
    "dedup_audio_fp_incremental": QuerySpec(
        dedup_audio_fp_incremental, MULTIMODAL_AUDIO_FP_INCREMENTAL_SQL
    ),
    # Batching must be invisible (stateless banding): the streamed
    # index pairs with the one-shot incremental oracle VERBATIM.
    "streaming_fp_index": QuerySpec(
        streaming_fp_index, MULTIMODAL_FP_INCREMENTAL_SQL
    ),
    "dedup_image_fp_pruned": QuerySpec(
        dedup_image_fp_pruned, MULTIMODAL_FP_PRUNED_SQL
    ),
    "dedup_image_clusters": QuerySpec(
        dedup_image_clusters, MULTIMODAL_IMAGE_CLUSTERS_SQL
    ),
    "multimodal_png": QuerySpec(multimodal_png, MULTIMODAL_PNG_SQL),
    "multimodal_jpeg": QuerySpec(multimodal_jpeg, MULTIMODAL_JPEG_SQL),
    "multimodal_frames": QuerySpec(multimodal_frames, MULTIMODAL_FRAMES_SQL),
    "multimodal_wav": QuerySpec(multimodal_wav, MULTIMODAL_WAV_SQL),
    "multimodal_bmp": QuerySpec(multimodal_bmp, MULTIMODAL_BMP_SQL),
    "multimodal_video_frames": QuerySpec(
        multimodal_video_frames, MULTIMODAL_VIDEO_FRAMES_SQL
    ),
    "multimodal_mp4_frames": QuerySpec(
        multimodal_mp4_frames, MULTIMODAL_MP4_FRAMES_SQL
    ),
}


def multimodal_mp4_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe extraction through the stss sync-sample table (round-7
    verdict task 5): each document's container carries an stss marking
    every 3rd sample (the GOP structure an inter-frame codec's muxer
    writes), ``mp4_keyframe_samples`` seeks ONLY those samples and
    emits them STILL-ENCODED — no pixel decode in the extraction, so
    the same path serves avc1/hev1 containers bound for an external
    decoder — and a downstream decode stage (the external decoder's
    stand-in, valid here because the samples are MJPEG) proves every
    emitted byte is the exact encoded keyframe: its luma sums match the
    closed-form oracle. Non-keyframes are never sliced, so cost is
    O(keyframes), the preview/thumbnail-pipeline property."""
    from typing import Iterator

    import pandas as pd

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ids = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    kf = MM.attach_mp4_keyframes(ids, keyframe_stride=3)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [MM.decode_jpeg(bytes(s)) for s in pdf["sample"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "frame_idx": pdf["frame_idx"].astype("int32"),
                    "pts_ms": pdf["pts_ms"].astype("int64"),
                    "codec": pdf["codec"],
                    "sum_luma": pd.Series(
                        [f["sum_luma"] for f in feats], dtype="int64"
                    ),
                }
            )

    return kf.mapInPandas(
        decode,
        "doc_id long, frame_idx int, pts_ms long, codec string, sum_luma long",
    )


# Keyframes at stride 3 over n = 1 + doc_id % 8 samples: frame_idx in
# range(0, n, 3); pts_ms = 40*idx; luma closed form as in
# MULTIMODAL_MP4_FRAMES_SQL.
MULTIMODAL_MP4_KEYFRAMES_SQL = """
WITH sampled AS (
  SELECT doc_id,
         CAST(unnest(range(0, 1 + doc_id % 8, 3)) AS INTEGER) AS frame_idx
  FROM documents
),
dims AS (
  SELECT doc_id, frame_idx, 1 + doc_id % 5 AS bw, 1 + doc_id % 3 AS bh
  FROM sampled
),
bxs AS (
  SELECT doc_id, frame_idx, bw, bh, unnest(range(0, bw)) AS bx FROM dims
),
blocks AS (
  SELECT doc_id, frame_idx, bw, bh, bx, unnest(range(0, bh)) AS by
  FROM bxs
),
vals AS (
  SELECT doc_id, frame_idx,
         128 + 2 * (((doc_id + 11 * frame_idx + 3 * bx + 5 * by) % 50) - 25)
           AS v
  FROM blocks
)
SELECT doc_id,
       frame_idx,
       CAST(40 * frame_idx AS BIGINT) AS pts_ms,
       'jpeg' AS codec,
       CAST(sum(64 * v) AS BIGINT) AS sum_luma
FROM vals GROUP BY doc_id, frame_idx
"""

QUERIES["multimodal_mp4_keyframes"] = QuerySpec(
    multimodal_mp4_keyframes, MULTIMODAL_MP4_KEYFRAMES_SQL
)
