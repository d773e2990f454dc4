"""Multimodal plumbing: Arrow-batched mapInPandas features/frames over
binary payload columns, with the codec stub behaving as declared."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from ue_big_data_project_spark.operators import multimodal as MM

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    from ue_big_data_project_spark.queries.tables import load_tables

    d = load_tables(spark, SF_DIR, ("documents",))["documents"]
    return MM.attach_media(d)


def test_attach_media_schema(media):
    assert dict(media.dtypes)["payload"] == "binary"
    meta = {f.name: f.dataType for f in media.schema["media"].dataType.fields}
    assert sorted(meta) == ["height", "media_type", "n_frames", "sample_rate", "width"]


def test_media_features_match_python(media, spark):
    got = MM.media_features(media).orderBy("doc_id").limit(5).collect()
    src = (
        media.select("doc_id", "payload")
        .orderBy("doc_id")
        .limit(5)
        .collect()
    )
    by_id = {r["doc_id"]: bytes(r["payload"]) for r in src}
    for row in got:
        payload = by_id[row["doc_id"]]
        assert row["n_bytes"] == len(payload)
        assert row["payload_md5"] == hashlib.md5(payload).hexdigest()


def test_sample_frames_counts(media):
    frames = MM.sample_frames(media, every=2)
    per_doc = frames.groupBy("doc_id").count()
    joined = media.select(
        "doc_id", F.col("media.n_frames").alias("n_frames")
    ).join(per_doc, "doc_id")
    bad = joined.filter(
        F.col("count") != F.ceil(F.col("n_frames") / 2)
    ).count()
    assert bad == 0


def test_real_backend_is_stubbed(media):
    with pytest.raises(Exception) as exc:
        MM.media_features(media, backend="real").limit(1).collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, NotImplementedError
    )


def test_wav_codec_roundtrip_exact():
    """The REAL codec: encode a known PCM16 signal, decode the container
    bytes, get the exact stats back."""
    import numpy as np

    sr = 8000
    samples = np.array([100, -100, 300, -300, 300, -300], dtype="<i2")
    payload = MM.encode_wav_pcm16(samples, sr)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    got = MM.decode_wav(payload)
    assert got["sample_rate"] == sr
    assert got["n_channels"] == 1
    assert got["bits_per_sample"] == 16
    assert got["n_samples"] == 6
    assert got["duration_us"] == 6 * 1_000_000 // sr
    assert got["peak_amplitude"] == 300
    # rms = sqrt((2*100^2 + 4*300^2)/6) = sqrt(63333.33) = 251.66 -> 251
    assert got["rms_amplitude"] == 251


def test_wav_codec_stereo_and_malformed():
    import numpy as np

    stereo = MM.encode_wav_pcm16(
        np.array([1, 2, 3, 4], dtype="<i2"), 16000, n_channels=2
    )
    got = MM.decode_wav(stereo)
    assert got["n_channels"] == 2 and got["n_samples"] == 2

    with pytest.raises(ValueError, match="RIFF"):
        MM.decode_wav(b"not a wave file at all")
    with pytest.raises(ValueError, match="truncated"):
        MM.decode_wav(stereo[:-3])
    # Non-PCM format code must be rejected, not misdecoded.
    mutated = bytearray(stereo)
    mutated[20] = 3  # fmt.audio_format = IEEE float
    with pytest.raises(ValueError, match="unsupported"):
        MM.decode_wav(bytes(mutated))


def test_wav_features_real_backend_end_to_end(spark):
    """attach_wav -> wav_features runs the real decoder inside
    mapInPandas and reproduces the closed-form feature values."""
    df = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    got = {r["doc_id"]: r for r in MM.wav_features(MM.attach_wav(df)).collect()}
    assert len(got) == 40
    for i in (0, 7, 13, 39):
        r = got[i]
        assert r["n_samples"] == 160 + (i % 64) * 4
        assert r["peak_amplitude"] == r["rms_amplitude"] == 1000 + (i % 7) * 100
        assert r["duration_us"] == r["n_samples"] * 125


def test_bmp_codec_roundtrip_exact():
    """Encode a known raster, decode the container bytes, recover the
    exact dimensions and channel sums — including the padding and
    bottom-up row order a real BMP carries."""
    import numpy as np

    px = np.zeros((3, 5, 3), dtype=np.uint8)  # w=5 -> 15-byte rows, 1 pad
    px[:, :, 0] = np.arange(5)[None, :]  # r = x
    px[:, :, 1] = np.arange(3)[:, None]  # g = y
    px[:, :, 2] = 9
    payload = MM.encode_bmp(px)
    assert payload[:2] == b"BM"
    got = MM.decode_bmp(payload)
    assert (got["width"], got["height"]) == (5, 3)
    assert got["bits_per_pixel"] == 24 and got["n_pixels"] == 15
    assert got["sum_r"] == 3 * (0 + 1 + 2 + 3 + 4)
    assert got["sum_g"] == 5 * (0 + 1 + 2)
    assert got["sum_b"] == 15 * 9


def test_bmp_codec_top_down_and_malformed():
    """Negative biHeight (top-down row order) decodes to the same sums;
    malformed containers are rejected, not misdecoded."""
    import struct

    import numpy as np

    px = MM.synth_bmp_pixels(12345)
    payload = MM.encode_bmp(px)
    ref = MM.decode_bmp(payload)

    # Flip to a top-down container: negate biHeight, reverse row blocks.
    w, h = ref["width"], ref["height"]
    row = (3 * w + 3) & ~3
    body = payload[54:]
    flipped = b"".join(
        body[(h - 1 - y) * row : (h - y) * row] for y in range(h)
    )
    td = bytearray(payload[:54] + flipped)
    struct.pack_into("<i", td, 22, -h)
    assert MM.decode_bmp(bytes(td)) == ref

    with pytest.raises(ValueError, match="BMP"):
        MM.decode_bmp(b"PNG? definitely not a bitmap")
    with pytest.raises(ValueError, match="truncated"):
        MM.decode_bmp(payload[:-4])
    mutated = bytearray(payload)
    struct.pack_into("<H", mutated, 28, 8)  # bpp = 8 (palettized)
    with pytest.raises(ValueError, match="unsupported"):
        MM.decode_bmp(bytes(mutated))


def test_bmpv_frame_stream_sampling():
    """The video container: every-2nd-frame decode walks the index and
    returns per-frame features; truncation is caught."""
    frames = [MM.encode_bmp(MM.synth_bmp_pixels(7, fi)) for fi in range(5)]
    payload = MM.encode_bmpv(frames)
    got = MM.decode_bmpv(payload, every=2)
    assert [fi for fi, _ in got] == [0, 2, 4]
    for fi, feat in got:
        ref = MM.decode_bmp(frames[fi])
        assert feat == ref
    with pytest.raises(ValueError, match="BMPV"):
        MM.decode_bmpv(frames[0])
    with pytest.raises(ValueError, match="truncated"):
        MM.decode_bmpv(payload[:-10])


def test_bmp_rejects_header_pointing_pixel_offset():
    """A bfOffBits that points into the headers must raise, not decode
    header bytes as pixels."""
    import struct

    payload = bytearray(MM.encode_bmp(MM.synth_bmp_pixels(3)))
    struct.pack_into("<I", payload, 10, 2)  # pix_off = 2 (inside header)
    with pytest.raises(ValueError, match="offset"):
        MM.decode_bmp(bytes(payload))


def test_bmpv_walk_is_shared_and_validated():
    """sample_frames and decode_bmpv share one validated index walk:
    truncated containers raise the codec's ValueError everywhere (not a
    raw struct.error from a drifted inline copy)."""
    frames = [MM.encode_bmp(MM.synth_bmp_pixels(5, fi)) for fi in range(4)]
    payload = MM.encode_bmpv(frames)
    assert [fi for fi, _ in MM.bmpv_frames(payload, every=2)] == [0, 2]
    with pytest.raises(ValueError, match="truncated frame index"):
        MM.bmpv_frames(payload[:10])
    with pytest.raises(ValueError, match="truncated frame data"):
        MM.bmpv_frames(payload[:-5])


def test_bmp_features_real_backend_end_to_end(spark):
    """attach_bmp -> bmp_features runs the real image decoder inside
    mapInPandas and reproduces the closed-form gradient sums."""
    df = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    got = {r["doc_id"]: r for r in MM.bmp_features(MM.attach_bmp(df)).collect()}
    assert len(got) == 30
    for i in (0, 11, 23, 29):
        r = got[i]
        w, h = 8 + i % 23, 4 + i % 11
        assert (r["width"], r["height"]) == (w, h)
        assert r["sum_r"] == h * (w * (w - 1)) // 2
        assert r["sum_g"] == w * (h * (h - 1)) // 2
        assert r["sum_b"] == w * h * (i % 251)


def test_sample_frames_real_backend_walks_bmpv(spark):
    """sample_frames(backend="real") genuinely decodes BMPV streams:
    counts follow the container's own index, hashes are of real frame
    bytes."""
    import hashlib as _hl

    df = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    media = MM.attach_bmpv(df).withColumn(
        "media",
        F.struct(
            F.lit("video").alias("media_type"),
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
            F.lit(0).alias("sample_rate"),
            F.lit(999).alias("n_frames"),  # ignored: container index wins
        ),
    )
    rows = MM.sample_frames(media, every=2, backend="real").collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i in range(12):
        n = 1 + i % 8
        assert len(by_doc[i]) == (n + 1) // 2
    # Hash of the real frame-0 bytes for doc 3.
    f0 = MM.encode_bmp(MM.synth_bmp_pixels(3, 0))
    assert any(
        r["frame_md5"] == _hl.md5(f0).hexdigest() for r in by_doc[3]
    )


def test_media_features_real_backend_decodes_wav(spark):
    """backend="real" is no longer a pure stub: WAV payloads decode
    (container validated), non-WAV payloads still raise at the seam."""
    df = spark.range(0, 5).select(F.col("id").alias("doc_id"))
    wav = MM.attach_wav(df).withColumn(
        "media",
        F.struct(
            F.lit("audio").alias("media_type"),
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
            F.lit(MM.WAV_SAMPLE_RATE).alias("sample_rate"),
            F.lit(1).alias("n_frames"),
        ),
    )
    out = MM.media_features(wav, backend="real").collect()
    assert len(out) == 5 and all(r["n_bytes"] > 44 for r in out)


def test_png_codec_roundtrip_and_filters():
    """decode(encode(px)) recovers exact dimensions/sums through a REAL
    compressed container: DEFLATE inflate + unfiltering of all five PNG
    filter types (the encoder rotates filter per scanline, so any image
    with h >= 5 exercises every branch)."""
    import numpy as np

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(7, 9, 3), dtype=np.uint8)
    payload = MM.encode_png(px)
    assert payload[:8] == MM.PNG_SIG
    assert len(payload) != 7 * 9 * 3  # genuinely compressed container
    got = MM.decode_png(payload)
    sums = px.astype(np.int64).sum(axis=(0, 1))
    assert (got["width"], got["height"], got["bit_depth"]) == (9, 7, 8)
    assert (got["sum_r"], got["sum_g"], got["sum_b"]) == tuple(
        int(s) for s in sums
    )


def test_png_codec_rejects_malformed():
    """Bad signature, truncated chunks, corrupted CRC, and unsupported
    encodings all raise ValueError instead of misdecoding."""
    import struct

    import numpy as np
    import pytest

    px = np.zeros((4, 6, 3), dtype=np.uint8)
    good = MM.encode_png(px)
    with pytest.raises(ValueError, match="not a PNG"):
        MM.decode_png(b"JUNK" + good[4:])
    for cut in (1, 5, 13):
        with pytest.raises(ValueError):
            MM.decode_png(good[:-cut])
    corrupt = bytearray(good)
    corrupt[45] ^= 0xFF  # inside IDAT payload -> CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        MM.decode_png(bytes(corrupt))
    # Unsupported color type: rewrite IHDR (and fix its CRC so the
    # rejection is the decoder's, not the checksum's).
    import zlib as _z

    bad = bytearray(good)
    ihdr = bytearray(good[16:29])
    ihdr[9] = 6  # color type RGBA
    bad[16:29] = ihdr
    crc = _z.crc32(b"IHDR" + bytes(ihdr)) & 0xFFFFFFFF
    struct.pack_into(">I", bad, 29, crc)
    with pytest.raises(ValueError, match="unsupported"):
        MM.decode_png(bytes(bad))


def test_png_features_real_backend_end_to_end(spark):
    """attach_png -> png_features over a real Spark frame: genuine PNGs
    built in the Arrow workers, decoded back by the real codec, sums
    matching the closed-form raster."""
    df = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    rows = {
        r["doc_id"]: r
        for r in MM.png_features(MM.attach_png(df)).collect()
    }
    assert len(rows) == 40
    for i in (0, 7, 23, 39):
        w, h = 8 + i % 23, 4 + i % 11
        assert rows[i]["width"] == w and rows[i]["height"] == h
        assert rows[i]["sum_b"] == w * h * (i % 251)


# --- JPEG (baseline, pure numpy) ---------------------------------------


def test_jpeg_block_constant_roundtrip_exact():
    """The lossy codec round-trips the block-constant fixture rasters
    BIT-EXACTLY (DC-only blocks whose coefficients are exact quantizer
    multiples) — the property the closed-form oracle relies on."""
    import numpy as np

    for doc_id in (0, 1, 7, 42, 123, 4999):
        px = MM.synth_jpeg_pixels(doc_id)
        payload = MM.encode_jpeg_baseline(px)
        assert payload[:2] == MM.JPEG_SOI and payload[-2:] == b"\xff\xd9"
        out = MM.decode_jpeg_pixels(payload)
        assert out.shape == px.shape
        assert np.array_equal(out, px), doc_id


def test_jpeg_lossy_roundtrip_within_quantizer_error():
    """General rasters (not quantizer-aligned) survive a decode within
    normal JPEG quantization error — gray, color 4:4:4, and
    non-multiple-of-8 dimensions (edge-replicated padding)."""
    import numpy as np

    xx, yy = np.meshgrid(np.arange(53), np.arange(37))
    smooth = (255 * (xx + yy) / (52 + 36)).astype(np.uint8)
    ds = MM.decode_jpeg_pixels(MM.encode_jpeg_baseline(smooth))
    assert ds.shape == smooth.shape
    err = np.abs(ds.astype(int) - smooth.astype(int))
    assert err.mean() < 3 and err.max() < 20

    color = np.stack([smooth, smooth[::-1], np.roll(smooth, 9, axis=1)], axis=-1)
    dc = MM.decode_jpeg_pixels(MM.encode_jpeg_baseline(color))
    assert dc.shape == color.shape
    errc = np.abs(dc.astype(int) - color.astype(int))
    assert errc.mean() < 6  # chroma quantizer is coarser


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn handling: the decoder resets DC predictors at restart
    markers parsed from the stream — same pixels as the unrestarted
    encoding."""
    import numpy as np

    px = MM.synth_jpeg_pixels(123)  # 4x3 blocks = 12 MCUs
    plain = MM.decode_jpeg_pixels(MM.encode_jpeg_baseline(px))
    restarted = MM.decode_jpeg_pixels(
        MM.encode_jpeg_baseline(px, restart_interval=5)
    )
    assert np.array_equal(plain, restarted)
    assert np.array_equal(restarted, px)


def test_jpeg_rejects_malformed_and_names_the_seam():
    import numpy as np
    import pytest

    good = MM.encode_jpeg_baseline(MM.synth_jpeg_pixels(3))
    with pytest.raises(ValueError, match="not a JPEG"):
        MM.decode_jpeg_pixels(b"JUNK" + good[4:])
    with pytest.raises(ValueError):
        MM.decode_jpeg_pixels(good[:40])  # truncated before SOS
    with pytest.raises(ValueError):
        MM.decode_jpeg_pixels(good[:-30])  # truncated entropy data
    # Progressive (SOF2) DECODES since round 6 (see
    # test_jpeg_progressive_*). Flipping the SOF marker on a BASELINE
    # stream therefore yields a malformed progressive stream: its SOS
    # header reads Ss=0/Se=63, which T.81 G.1.1.1.1 forbids for a
    # progressive DC scan — a ValueError, not a seam.
    prog = bytearray(good)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="DC scan must have Se=0"):
        MM.decode_jpeg_pixels(bytes(prog))
    # Sampling factors outside T.81's 1-4 range are malformed (in-range
    # factors, 4:2:0 included, DECODE since round 6 — see
    # test_jpeg_subsampled_roundtrips).
    sub = bytearray(good)
    sub[sof + 7 + 4] = 0x05  # component 0 sampling factors: H=0
    with pytest.raises(ValueError, match="sampling"):
        MM.decode_jpeg_pixels(bytes(sub))
    # Deep-parser corruption surfaces as ValueError, never a raw
    # IndexError/KeyError/struct.error (the boundary contract).
    dht = good.find(b"\xff\xc4")
    trunc_dht = good[: dht + 12]  # cut mid-BITS/HUFFVAL
    with pytest.raises(ValueError):
        MM.decode_jpeg_pixels(trunc_dht + good[-2:])
    mismatch = bytearray(good)
    sos = mismatch.find(b"\xff\xda")
    mismatch[sos + 5] = 9  # SOS names a component id absent from SOF
    with pytest.raises(ValueError):
        MM.decode_jpeg_pixels(bytes(mismatch))
    short_sof = bytearray(good)
    # Shrink the SOF length field so the parser reads past the segment.
    short_sof[sof + 2 : sof + 4] = (5).to_bytes(2, "big")
    with pytest.raises(ValueError):
        MM.decode_jpeg_pixels(bytes(short_sof))


def test_jpeg_features_real_backend_end_to_end(spark):
    """attach_jpeg -> jpeg_features over a real Spark frame: genuine
    baseline JFIF streams built in the Arrow workers, fully decoded
    back, sums matching the closed-form raster."""
    df = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    rows = {
        r["doc_id"]: r
        for r in MM.jpeg_features(MM.attach_jpeg(df)).collect()
    }
    assert len(rows) == 40
    for i in (0, 7, 23, 39):
        bw, bh = 1 + i % 5, 1 + i % 3
        expect = 64 * sum(
            128 + 2 * (((i + 3 * bx + 5 * by) % 50) - 25)
            for bx in range(bw)
            for by in range(bh)
        )
        assert rows[i]["width"] == 8 * bw and rows[i]["height"] == 8 * bh
        assert rows[i]["n_components"] == 1
        assert rows[i]["sum_luma"] == expect


def test_jpeg_pil_interop():
    """Import-gated interop proof (round-4 verdict task 7): where PIL
    exists, libjpeg must decode OUR bytes (exactly, for the DC-only
    fixtures) and WE must decode libjpeg's — demonstrating the seam
    rather than asserting it. Skips cleanly where PIL is absent."""
    import io

    import numpy as np
    import pytest

    PIL_Image = pytest.importorskip("PIL.Image")

    px = MM.synth_jpeg_pixels(17)
    theirs = np.asarray(
        PIL_Image.open(io.BytesIO(MM.encode_jpeg_baseline(px))).convert("L")
    )
    # libjpeg's integer IDCT may differ by ±1 on exact-DC blocks.
    assert theirs.shape == px.shape
    assert np.abs(theirs.astype(int) - px.astype(int)).max() <= 1

    xx, yy = np.meshgrid(np.arange(48), np.arange(32))
    smooth = (255 * (xx + yy) / (47 + 31)).astype(np.uint8)
    buf = io.BytesIO()
    PIL_Image.fromarray(smooth, mode="L").save(
        buf, format="JPEG", quality=75, subsampling=0
    )
    ours = MM.decode_jpeg_pixels(buf.getvalue())
    assert ours.shape == smooth.shape
    err = np.abs(ours.astype(int) - smooth.astype(int))
    assert err.mean() < 4


def test_huff_codes_reject_code_space_overflow():
    import pytest

    from ue_big_data_project_spark.operators.multimodal import _huff_codes

    # 3 codes of length 1 overflow the 2-code space at that length: a
    # canonical assignment would wrap into a duplicate (length, code)
    # key and the decoder's inverted table would silently let the last
    # symbol win (round-5 advice) — must raise instead.
    bits = (3,) + (0,) * 15
    with pytest.raises(ValueError, match="overflow"):
        _huff_codes(bits, (1, 2, 3))
    # 2 codes of length 1 exactly fill the space — still legal.
    assert len(_huff_codes((2,) + (0,) * 15, (1, 2))) == 2


def test_jpeg_subsampled_roundtrips():
    """Round-6 seam narrowing (round-5 verdict task 5): the decoder's
    MCU walk handles general T.81 H/V sampling factors, so 4:2:0 (the
    dominant real-world layout) and 4:2:2 streams decode. The encoder
    grew matching layouts (average-pooled chroma) to produce fixtures
    without needing PIL in the container."""
    import numpy as np
    import pytest

    rng = np.random.default_rng(11)
    # Constant 16x16 tiles: chroma average-pool is exact, so only the
    # quantizer touches the signal — error stays within a few codes.
    tile = np.kron(
        rng.integers(40, 216, (3, 5, 3)), np.ones((16, 16, 1), np.int64)
    ).astype(np.uint8)
    for sub in ("420", "422"):
        dec = MM.decode_jpeg_pixels(
            MM.encode_jpeg_baseline(tile, subsampling=sub)
        )
        assert dec.shape == tile.shape
        assert np.abs(dec.astype(int) - tile.astype(int)).max() <= 4, sub

    # Odd (non-multiple-of-MCU) dimensions: edge padding + crop.
    odd = tile[:41, :61]
    for sub in ("420", "422"):
        dec = MM.decode_jpeg_pixels(
            MM.encode_jpeg_baseline(odd, subsampling=sub)
        )
        assert dec.shape == odd.shape
        assert np.abs(dec.astype(int) - odd.astype(int)).max() <= 4, sub

    # Restart markers reset DC predictors mid-scan in subsampled MCUs
    # exactly like 4:4:4.
    plain = MM.decode_jpeg_pixels(MM.encode_jpeg_baseline(tile, subsampling="420"))
    restarted = MM.decode_jpeg_pixels(
        MM.encode_jpeg_baseline(tile, restart_interval=2, subsampling="420")
    )
    assert np.array_equal(plain, restarted)

    # Smooth natural-signal raster stays within normal JPEG+subsample
    # error bounds.
    yy, xx = np.mgrid[0:48, 0:64]
    smooth = np.clip(
        np.round(
            np.stack(
                [
                    128 + 60 * np.sin(xx / 15),
                    128 + 50 * np.cos(yy / 12),
                    128 + 40 * np.sin((xx + yy) / 20),
                ],
                axis=-1,
            )
        ),
        0,
        255,
    ).astype(np.uint8)
    ds = MM.decode_jpeg_pixels(MM.encode_jpeg_baseline(smooth, subsampling="420"))
    err = np.abs(ds.astype(int) - smooth.astype(int))
    assert err.mean() < 6 and err.max() < 40

    # Grayscale ignores subsampling (single-component scans are
    # non-interleaved) — still bit-exact on the DC-only fixtures.
    px = MM.synth_jpeg_pixels(9)
    assert np.array_equal(
        MM.decode_jpeg_pixels(MM.encode_jpeg_baseline(px, subsampling="420")),
        px,
    )

    with pytest.raises(ValueError, match="subsampling"):
        MM.encode_jpeg_baseline(tile, subsampling="411")


def test_jpeg_pil_interop_420():
    """Import-gated libjpeg cross-check on the 4:2:0 path (round-5
    verdict task 5 'done' criterion): PIL must decode OUR 4:2:0 bytes
    and WE must decode PIL's 4:2:0 output. Skips where PIL is absent."""
    import io

    import numpy as np
    import pytest

    PIL_Image = pytest.importorskip("PIL.Image")

    rng = np.random.default_rng(23)
    tile = np.kron(
        rng.integers(40, 216, (3, 4, 3)), np.ones((16, 16, 1), np.int64)
    ).astype(np.uint8)
    theirs = np.asarray(
        PIL_Image.open(
            io.BytesIO(MM.encode_jpeg_baseline(tile, subsampling="420"))
        ).convert("RGB")
    )
    assert theirs.shape == tile.shape
    assert np.abs(theirs.astype(int) - tile.astype(int)).max() <= 6

    buf = io.BytesIO()
    PIL_Image.fromarray(tile, mode="RGB").save(
        buf, format="JPEG", quality=75, subsampling=2  # 4:2:0
    )
    ours = MM.decode_jpeg_pixels(buf.getvalue())
    assert ours.shape == tile.shape
    err = np.abs(ours.astype(int) - tile.astype(int))
    assert err.mean() < 8


def test_jpeg_progressive_roundtrips_match_baseline():
    """Progressive (SOF2) landed in round 6 and gets its contract here
    (round-6 verdict task 1): the default libjpeg-shaped scan script
    (DC-first with successive approximation, per-component spectral
    bands, refinement passes) must decode to EXACTLY the pixels of the
    baseline encoding — same quantizers, same FDCT — across 4:4:4,
    4:2:2, 4:2:0, grayscale, and odd (non-MCU-aligned) dimensions."""
    import numpy as np

    rng = np.random.default_rng(7)
    # 33x52: odd in both axes, so every subsampling layout exercises
    # partial edge MCUs. This exact raster caught the einsum-vs-matmul
    # FDCT rounding divergence (multimodal.py::_quantize_plane).
    px = np.kron(
        rng.integers(30, 226, (3, 4, 3)), np.ones((11, 13, 1), np.int64)
    ).astype(np.uint8)
    for sub in ("444", "422", "420"):
        base = MM.decode_jpeg_pixels(
            MM.encode_jpeg_baseline(px, subsampling=sub)
        )
        prog = MM.decode_jpeg_pixels(
            MM.encode_jpeg_progressive(px, subsampling=sub)
        )
        assert np.array_equal(base, prog), sub
    gray = MM.synth_jpeg_pixels(5)
    assert np.array_equal(
        MM.decode_jpeg_pixels(MM.encode_jpeg_baseline(gray)),
        MM.decode_jpeg_pixels(MM.encode_jpeg_progressive(gray)),
    )


def test_jpeg_progressive_fuzz_roundtrips():
    """Seeded fuzz over random rasters and dims: progressive decode ==
    baseline decode, bit-for-bit. Random (not tiled) content maximizes
    coefficient density, stressing EOB-run and refinement coding."""
    import numpy as np

    for trial in range(6):
        r = np.random.default_rng(trial)
        h, w = int(r.integers(8, 70)), int(r.integers(8, 70))
        img = r.integers(0, 256, (h, w, 3)).astype(np.uint8)
        for sub in ("444", "420"):
            assert np.array_equal(
                MM.decode_jpeg_pixels(
                    MM.encode_jpeg_baseline(img, subsampling=sub)
                ),
                MM.decode_jpeg_pixels(
                    MM.encode_jpeg_progressive(img, subsampling=sub)
                ),
            ), (trial, sub)
        g = r.integers(0, 256, (h, w)).astype(np.uint8)
        assert np.array_equal(
            MM.decode_jpeg_pixels(MM.encode_jpeg_baseline(g)),
            MM.decode_jpeg_pixels(MM.encode_jpeg_progressive(g)),
        ), trial


def test_jpeg_progressive_custom_scan_scripts():
    """The ``scans`` override: a minimal full-precision script (no
    successive approximation) and a band-split script both reproduce
    the baseline decode; scripts therefore only reorder the stream,
    never change the coefficients."""
    import numpy as np

    rng = np.random.default_rng(7)
    px = np.kron(
        rng.integers(30, 226, (3, 4, 3)), np.ones((11, 13, 1), np.int64)
    ).astype(np.uint8)
    base = MM.decode_jpeg_pixels(MM.encode_jpeg_baseline(px))
    simple = [
        ((0, 1, 2), 0, 0, 0, 0),
        ((0,), 1, 63, 0, 0),
        ((1,), 1, 63, 0, 0),
        ((2,), 1, 63, 0, 0),
    ]
    assert np.array_equal(
        base,
        MM.decode_jpeg_pixels(MM.encode_jpeg_progressive(px, scans=simple)),
    )
    bands = [
        ((0, 1, 2), 0, 0, 0, 0),
        ((0,), 1, 5, 0, 0),
        ((0,), 6, 63, 0, 0),
        ((1,), 1, 63, 0, 0),
        ((2,), 1, 63, 0, 0),
    ]
    assert np.array_equal(
        base,
        MM.decode_jpeg_pixels(MM.encode_jpeg_progressive(px, scans=bands)),
    )


def test_jpeg_progressive_error_contract():
    """Malformed progressive scan headers surface as ValueError at the
    decode boundary (T.81 G.1.1.1.1): a DC scan with a nonzero Se, an
    out-of-order spectral band, and inconsistent successive-
    approximation (Ah != Al+1) are each rejected by name."""
    import pytest

    g = MM.synth_jpeg_pixels(3)
    with pytest.raises(ValueError, match="spectral band"):
        MM.decode_jpeg_pixels(
            MM.encode_jpeg_progressive(
                g, scans=[((0,), 0, 0, 0, 0), ((0,), 5, 3, 0, 0)]
            )
        )
    with pytest.raises(ValueError, match="successive-approximation"):
        MM.decode_jpeg_pixels(
            MM.encode_jpeg_progressive(
                g, scans=[((0,), 0, 0, 0, 0), ((0,), 1, 63, 3, 1)]
            )
        )


def test_jpeg_progressive_pil_interop():
    """Import-gated libjpeg cross-check mirroring
    test_jpeg_pil_interop_420: PIL must decode OUR progressive bytes
    and WE must decode PIL's ``progressive=True`` output. Skips where
    PIL is absent."""
    import io

    import numpy as np
    import pytest

    PIL_Image = pytest.importorskip("PIL.Image")

    rng = np.random.default_rng(23)
    tile = np.kron(
        rng.integers(40, 216, (3, 4, 3)), np.ones((16, 16, 1), np.int64)
    ).astype(np.uint8)
    theirs = np.asarray(
        PIL_Image.open(
            io.BytesIO(MM.encode_jpeg_progressive(tile, subsampling="420"))
        ).convert("RGB")
    )
    assert theirs.shape == tile.shape
    assert np.abs(theirs.astype(int) - tile.astype(int)).max() <= 6

    buf = io.BytesIO()
    PIL_Image.fromarray(tile, mode="RGB").save(
        buf, format="JPEG", quality=75, subsampling=2, progressive=True
    )
    ours = MM.decode_jpeg_pixels(buf.getvalue())
    assert ours.shape == tile.shape
    assert np.abs(ours.astype(int) - tile.astype(int)).mean() < 8


def test_resize_pixels_nearest_properties():
    """Nearest resize: identity at the same size, exact pixel-repeat on
    integer upscales (half-pixel centers make each source pixel own a
    contiguous k×k output block), and pure-integer index math replayed
    by hand."""
    import numpy as np

    px = MM.synth_bmp_pixels(4242)
    h, w = px.shape[:2]
    assert np.array_equal(MM.resize_pixels(px, w, h, "nearest"), px)

    up = MM.resize_pixels(px, w * 3, h * 2, "nearest")
    assert np.array_equal(up, np.repeat(np.repeat(px, 2, 0), 3, 1))

    out = MM.resize_pixels(px, 16, 8, "nearest")
    for i in range(8):
        for j in range(16):
            sy = ((2 * i + 1) * h) // 16
            sx = ((2 * j + 1) * w) // 32
            assert np.array_equal(out[i, j], px[sy, sx])


def test_resize_pixels_bilinear_reproduces_linear_gradients():
    """Bilinear on a linear field returns the field sampled at the
    output grid (interpolation is exact for degree-1 signals) — r = x
    and g = y gradients stay gradients, and a constant channel stays
    constant; downscale then identity-upscale keeps dtype and shape."""
    import numpy as np

    px = MM.synth_bmp_pixels(7)
    h, w = px.shape[:2]
    out_w, out_h = 2 * w, 2 * h
    out = MM.resize_pixels(px, out_w, out_h, "bilinear")
    fy = np.clip((np.arange(out_h) + 0.5) * h / out_h - 0.5, 0, h - 1)
    fx = np.clip((np.arange(out_w) + 0.5) * w / out_w - 0.5, 0, w - 1)
    exp_r = np.rint(np.broadcast_to(fx[None, :], (out_h, out_w)))
    exp_g = np.rint(np.broadcast_to(fy[:, None], (out_h, out_w)))
    assert np.array_equal(out[:, :, 0], exp_r.astype(np.uint8))
    assert np.array_equal(out[:, :, 1], exp_g.astype(np.uint8))
    assert np.all(out[:, :, 2] == px[0, 0, 2])
    assert out.dtype == px.dtype

    with pytest.raises(ValueError, match="unknown resize method"):
        MM.resize_pixels(px, 4, 4, "lanczos")
    with pytest.raises(ValueError, match="non-positive"):
        MM.resize_pixels(px, 0, 4)


def test_resize_matches_pil_nearest():
    """Import-gated interop: PIL's NEAREST uses the same half-pixel
    convention, so the rasters must agree exactly. Skips where PIL is
    absent."""
    import numpy as np

    PIL_Image = pytest.importorskip("PIL.Image")

    px = MM.synth_bmp_pixels(99)
    ours = MM.resize_pixels(px, 16, 8, "nearest")
    theirs = np.asarray(
        PIL_Image.fromarray(px, mode="RGB").resize(
            (16, 8), PIL_Image.NEAREST
        )
    )
    assert np.array_equal(ours, theirs)


def test_decode_pixels_dispatch_and_cross_container_resize():
    """decode_pixels dispatches on magic bytes, and a resize is
    container-independent: the same raster shipped as BMP and as PNG
    (lossless) resizes to identical bytes; grayscale JPEG decodes to a
    rank-3 raster and resizes; unknown containers refuse."""
    import numpy as np

    px = MM.synth_bmp_pixels(31337)
    via_bmp = MM.resize_pixels(
        MM.decode_pixels(MM.encode_bmp(px)), 16, 8, "nearest"
    )
    via_png = MM.resize_pixels(
        MM.decode_pixels(MM.encode_png(px)), 16, 8, "nearest"
    )
    assert np.array_equal(via_bmp, via_png)
    assert np.array_equal(via_bmp, MM.resize_pixels(px, 16, 8, "nearest"))

    gray = (
        np.arange(64, dtype=np.uint8).reshape(8, 8) // 8 * 16 + 64
    )
    jp = MM.decode_pixels(MM.encode_jpeg_baseline(gray))
    assert jp.ndim == 3 and jp.shape[2] == 1
    rz = MM.resize_pixels(jp, 4, 4, "bilinear")
    assert rz.shape == (4, 4, 1)

    with pytest.raises(ValueError, match="unsupported image container"):
        MM.decode_pixels(b"RIFF....WAVE not an image")


def test_resample_audio_nearest_properties():
    """Nearest resample: identity at the same length, exact
    sample-repeat on integer upscales, index math replayed by hand on
    the real fixture, container round-trip preserved."""
    import numpy as np

    s = MM.decode_wav_samples(MM.synth_wav(777))
    n = s.shape[0]
    assert np.array_equal(MM.resample_audio(s, n, "nearest"), s)
    up = MM.resample_audio(s, 3 * n, "nearest")
    assert np.array_equal(up, np.repeat(s, 3, axis=0))
    out = MM.resample_audio(s, 256, "nearest")
    for k in (0, 1, 100, 255):
        assert np.array_equal(out[k], s[((2 * k + 1) * n) // 512])


def test_resample_audio_linear_is_exact_on_ramps():
    """Linear interpolation reproduces a linear ramp exactly at any
    target length (degree-1 exactness), and a constant signal stays
    constant; bad inputs refuse."""
    import numpy as np

    ramp = (np.arange(100, dtype=np.int16) * 7)[:, None]
    out = MM.resample_audio(ramp, 40, "linear")
    f = np.clip((np.arange(40) + 0.5) * 100 / 40 - 0.5, 0, 99)
    assert np.array_equal(
        out[:, 0], np.rint(f * 7).astype(np.int16)
    )
    const = np.full((50, 2), 123, dtype=np.int16)
    assert np.all(MM.resample_audio(const, 33, "linear") == 123)
    with pytest.raises(ValueError, match="unknown resample method"):
        MM.resample_audio(ramp, 10, "sinc")
    with pytest.raises(ValueError, match="non-positive"):
        MM.resample_audio(ramp, 0)


def test_resample_audio_empty_signal_yields_empty():
    """A zero-sample WAV is VALID (decode_wav accepts it); the resample
    is empty rather than fabricated silence or a task-killing error."""
    import numpy as np

    empty = MM.encode_wav_pcm16(np.array([], dtype=np.int64), 8000)
    s = MM.decode_wav_samples(empty)
    assert s.shape[0] == 0
    out = MM.resample_audio(s, 256, "nearest")
    assert out.shape[0] == 0


def test_dhash_is_brightness_invariant_and_replayable():
    """dHash ignores uniform brightness shifts (gradient SIGNS, not
    values), distinguishes differently-shaped gradients, and replays
    in pure Python from the resize + grayscale definition."""
    import numpy as np

    px = MM.synth_bmp_pixels(1234)
    base = MM.dhash_pixels(px)
    brighter = np.clip(px.astype(np.int64) + 40, 0, 255).astype(np.uint8)
    assert MM.dhash_pixels(brighter) == base
    # Horizontal flip reverses every gradient sign -> different hash.
    assert MM.dhash_pixels(px[:, ::-1]) != base

    r = MM.resize_pixels(px, 9, 8, "nearest").astype(np.int64)
    gray = r.sum(axis=2) // 3
    val = 0
    for i in range(8):
        for j in range(8):
            if gray[i, j + 1] > gray[i, j]:
                val |= 1 << (i * 8 + j)
    assert base == (val >> 32, val & 0xFFFFFFFF)


def test_dhash_neardup_banding_guard_and_shape(spark):
    """Parameter guard (pigeonhole over 4 bands holds only to Hamming
    3) and output shape: pairs are ordered, Hamming-bounded, and never
    include exact duplicates."""
    from ue_big_data_project_spark.queries.tables import load_tables

    d = load_tables(spark, "/root/testdata/sf0.001", ("documents",))[
        "documents"
    ]
    h = MM.image_dhash(MM.attach_bmp(d.limit(60).select("doc_id")))
    with pytest.raises(ValueError, match="1 <= max_hamming <= 3"):
        MM.dhash_neardup_pairs(h, max_hamming=4)
    rows = MM.dhash_neardup_pairs(h, max_hamming=2).collect()
    assert all(r["id_a"] < r["id_b"] for r in rows)
    assert all(1 <= r["hamming"] <= 2 for r in rows)


def test_audio_fp_is_volume_invariant_and_replayable():
    """The Haitsma-Kalker fingerprint ignores volume scaling (band
    ENERGY differences scale by c^2, signs preserved), distinguishes
    different waveforms, collapses to all-zero bits on a constant-|s|
    square wave (every band energy equal -- why the sawtooth fixture
    exists), and replays in pure Python from the definition."""
    import numpy as np

    saw = MM.decode_wav_samples(MM.synth_wav_saw(1234))
    base = MM.audio_fp_bits(saw)
    assert base != (0, 0)
    # Volume scaling (including fractional-but-exact /2 of the *4
    # fixture samples) preserves every energy-difference sign.
    assert MM.audio_fp_bits(saw * 2) == base
    assert MM.audio_fp_bits(saw // 2) == base
    # A different waveform (phase-shifted far) hashes differently.
    other = MM.decode_wav_samples(MM.synth_wav_saw(1235))
    assert MM.audio_fp_bits(other) != base
    # Square wave: |s| constant -> all band energies equal -> zero fp.
    sq = MM.decode_wav_samples(MM.synth_wav(77))
    assert MM.audio_fp_bits(sq) == (0, 0)
    # Zero-sample (valid) WAV fingerprints as all-zero too.
    empty = MM.decode_wav_samples(
        MM.encode_wav_pcm16(np.array([], dtype=np.int64), 8000)
    )
    assert MM.audio_fp_bits(empty) == (0, 0)
    # Stereo mixdown: duplicating the mono signal into two channels
    # leaves the integer mean -- and the fingerprint -- unchanged.
    stereo = np.repeat(saw, 2, axis=1)
    assert MM.audio_fp_bits(stereo) == base

    # Pure-Python replay of the definition.
    r = (
        MM.resample_audio(saw, MM.AUDIO_FP_SAMPLES, "nearest")
        .reshape(-1)
        .astype(np.int64)
    )
    e = [
        [
            int(
                (r[f * 36 + m * 4 : f * 36 + m * 4 + 4] ** 2).sum()
            )
            for m in range(9)
        ]
        for f in range(9)
    ]
    val = 0
    for f in range(1, 9):
        for m in range(8):
            if (e[f][m] - e[f][m + 1]) - (e[f - 1][m] - e[f - 1][m + 1]) > 0:
                val |= 1 << ((f - 1) * 8 + m)
    assert base == (val >> 32, val & 0xFFFFFFFF)


def test_audio_neardup_banding_is_lossless_vs_brute_force(spark):
    """The 4x16 pigeonhole banding over the audio fingerprint finds
    EVERY Hamming 1..2 pair a brute-force scan finds (and nothing
    else) -- the same losslessness contract the image oracle proves,
    checked here directly against an in-process all-pairs sweep."""
    from itertools import combinations

    from ue_big_data_project_spark.queries.tables import load_tables

    d = load_tables(spark, "/root/testdata/sf0.001", ("documents",))[
        "documents"
    ]
    h = MM.audio_fingerprint(MM.attach_wav_saw(d.select("doc_id")))
    fps = {
        r["doc_id"]: (r["fp_hi"] << 32) | r["fp_lo"]
        for r in h.collect()
    }
    want = set()
    for a, b in combinations(sorted(fps), 2):
        ham = bin(fps[a] ^ fps[b]).count("1")
        if 1 <= ham <= 2:
            want.add((a, b, ham))
    rows = MM.dhash_neardup_pairs(
        h, max_hamming=2, hi_col="fp_hi", lo_col="fp_lo"
    ).collect()
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in rows}
    assert got == want
    assert want  # the fixture must actually exercise the band join


def test_fp_index_probe_equals_neardup_restriction_and_append(
    spark, tmp_path
):
    """The persisted fingerprint index answers a one-sided probe
    EXACTLY like dhash_neardup_pairs over the union corpus restricted
    to probe-incident pairs, and an O(increment) append leaves the
    index answering like a fresh build of the larger union — banding
    is stateless, so nothing drifts. Runs on the audio fingerprint
    columns to pin the index's column-name generality too."""
    from ue_big_data_project_spark.queries.tables import load_tables

    d = load_tables(spark, "/root/testdata/sf0.001", ("documents",))[
        "documents"
    ].select("doc_id")
    old = MM.audio_fingerprint(
        MM.attach_wav_saw(d.filter("doc_id % 2 = 0"))
    )
    probe = MM.audio_fingerprint(
        MM.attach_wav_saw(d.filter("doc_id % 4 = 1"))
    )
    late = MM.audio_fingerprint(
        MM.attach_wav_saw(d.filter("doc_id % 4 = 3"))
    )

    idx = str(tmp_path / "fpidx")
    MM.write_fp_index(old, idx, hi_col="fp_hi", lo_col="fp_lo")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in MM.fp_probe_index(spark, idx, probe).collect()
    }
    union = old.unionByName(probe)
    probe_ids = {r["doc_id"] for r in probe.select("doc_id").collect()}
    want = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in MM.dhash_neardup_pairs(
            union, max_hamming=2, hi_col="fp_hi", lo_col="fp_lo"
        ).collect()
        if r["id_a"] in probe_ids or r["id_b"] in probe_ids
    }
    assert got == want
    assert want  # non-vacuous on the fixture

    # Append the late quarter; the probe must now also see late-vs-probe
    # pairs — exactly the fresh-build answer on the bigger union.
    MM.fp_index_append(spark, idx, late)
    got2 = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in MM.fp_probe_index(spark, idx, probe).collect()
    }
    fresh = str(tmp_path / "fpidx_fresh")
    MM.write_fp_index(
        old.unionByName(late), fresh, hi_col="fp_hi", lo_col="fp_lo"
    )
    want2 = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in MM.fp_probe_index(spark, fresh, probe).collect()
    }
    assert got2 == want2
    assert want2 > got or want2 != got  # the append changed the answer


def test_fp_stream_equals_one_shot_guard_and_rewrite(spark, tmp_path):
    """The STREAMED fingerprint index answers a probe exactly like a
    one-shot write_fp_index build; a full replay against the same
    ledger is byte-stable; flat appends onto the streamed layout are
    rejected; rewrite_fp_index prunes + compacts back to the flat
    appendable layout."""
    import os
    import time

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.streaming import ingest
    from ue_big_data_project_spark.queries.tables import load_tables

    d = load_tables(spark, "/root/testdata/sf0.001", ("documents",))[
        "documents"
    ].select("doc_id")
    corpus_ids = d.filter("doc_id % 2 = 0")
    probe = MM.image_dhash(MM.attach_bmp(d.filter("doc_id % 4 = 1")))
    late = MM.image_dhash(MM.attach_bmp(d.filter("doc_id % 4 = 3")))

    root = str(tmp_path / "fpstream")
    stage = os.path.join(root, "stage")
    os.makedirs(stage)
    now = time.time()
    for i in range(2):
        bdir = os.path.join(root, f"b{i}")
        corpus_ids.filter(f"doc_id % 4 = {2 * i}").coalesce(1).write.parquet(
            bdir
        )
        part = [f for f in os.listdir(bdir) if f.endswith(".parquet")][0]
        dst = os.path.join(stage, f"b{i}.parquet")
        os.symlink(os.path.join(bdir, part), dst)
        os.utime(dst, (now + i, now + i), follow_symlinks=False)

    idx = os.path.join(root, "fpidx")
    ledger = os.path.join(root, "_ledger")

    def drain():
        sdf = (
            spark.readStream.schema("doc_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = ingest.fp_ingest_stream(
            sdf,
            index_path=idx,
            ledger_dir=ledger,
            fingerprint=lambda bdf: MM.image_dhash(MM.attach_bmp(bdf)),
        )
        ST.run_until_drained(q)

    drain()
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in MM.fp_probe_index(spark, idx, probe).collect()
    }
    flat = str(tmp_path / "fpidx_oneshot")
    MM.write_fp_index(MM.image_dhash(MM.attach_bmp(corpus_ids)), flat)
    want = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in MM.fp_probe_index(spark, flat, probe).collect()
    }
    assert got == want
    assert want

    # Replay: ledger skips committed batch ids, index bytes unchanged.
    before = sorted(
        os.path.join(dp, f)
        for dp, _, fns in os.walk(idx)
        for f in fns
        if f.endswith(".parquet")
    )
    drain()
    after = sorted(
        os.path.join(dp, f)
        for dp, _, fns in os.walk(idx)
        for f in fns
        if f.endswith(".parquet")
    )
    assert before == after

    with pytest.raises(ValueError, match="stream-ingested"):
        MM.fp_index_append(spark, idx, late)

    kept = corpus_ids.filter("doc_id % 16 != 0")
    n = MM.rewrite_fp_index(spark, idx, kept)
    assert n > 0
    assert "batch_id" not in spark.read.parquet(idx).columns
    MM.fp_index_append(spark, idx, late)  # flat layout again
    got2 = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in MM.fp_probe_index(spark, idx, probe).collect()
    }
    fresh = str(tmp_path / "fpidx_fresh")
    MM.write_fp_index(
        MM.image_dhash(MM.attach_bmp(corpus_ids.join(kept.select("doc_id"), "doc_id", "left_semi"))).unionByName(late),
        fresh,
    )
    want2 = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in MM.fp_probe_index(spark, fresh, probe).collect()
    }
    assert got2 == want2


def test_fp_band_stats_flags_hot_bands(spark, tmp_path):
    """fp_band_stats: shares sum to 1, skew is centered at 1, a
    deliberately constant band (the degenerate all-zero square-wave
    fingerprints) dominates as the hottest band, and exactly top_k
    rows are flagged hot."""
    from ue_big_data_project_spark.queries.tables import load_tables

    d = load_tables(spark, "/root/testdata/sf0.001", ("documents",))[
        "documents"
    ].select("doc_id")
    # Square-wave audio fingerprints are ALL-ZERO (constant |s|), so
    # every (bi, 0) band is shared by every doc — the pathological
    # constant-band case the monitor exists to flag.
    h = MM.audio_fingerprint(MM.attach_wav(d.limit(100)))
    idx = str(tmp_path / "hotidx")
    MM.write_fp_index(h, idx, hi_col="fp_hi", lo_col="fp_lo")
    stats = MM.fp_band_stats(spark, idx, top_k=4).collect()
    total_share = sum(r["share"] for r in stats)
    assert abs(total_share - 1.0) < 1e-9
    mean_skew = sum(r["skew"] for r in stats) / len(stats)
    assert abs(mean_skew - 1.0) < 1e-9
    hot = [r for r in stats if r["hot"]]
    assert len(hot) == 4
    # the 4 constant bands (bi 0..3, bv 0) hold every doc
    assert {(r["bi"], r["bv"]) for r in hot} == {(i, 0) for i in range(4)}
    assert all(r["n_docs"] == 100 for r in hot)


def test_fp_stop_band_cap_bounds_hot_bucket_fanout(spark, tmp_path):
    """The max_band_freq stop-band cap (round-11 verdict task 2): on a
    skewed corpus — the all-black-thumbnail shape, every fingerprint
    sharing a constant band — the UNCAPPED band join fans out
    quadratically in the hot bucket while the capped plan's fan-out
    stays bounded at C(cap, 2) per surviving band; recall semantics
    are exactly the documented trade (a pair is missed IFF its every
    shared band is hot — pigeonhole: Hamming<=2 pairs share >=2 bands,
    so a single surviving shared band keeps the pair); and
    fp_probe_index's bucket-local df count reproduces
    dhash_neardup_pairs' global capping exactly."""
    from itertools import combinations

    def mk(b0, b1, b2, b3):
        hi = (b0 << 16) | b1
        lo = (b2 << 16) | b3
        # two's-complement into signed 64-bit halves like the real ops
        return hi if hi < 1 << 31 else hi - (1 << 32), lo

    rows = []
    # 40 docs share band0 = 0 (the black-frame constant band, hot at
    # cap=10); 20 of them ALSO share band1 = 7 (second hot band).
    # Pair (1000, 1001): differs 1 bit in band2 + 1 bit in band3 ->
    # Hamming 2; shared bands {0, 1} are BOTH hot -> capped misses it.
    rows.append((1000, *mk(0, 7, 0x10, 0x20)))
    rows.append((1001, *mk(0, 7, 0x11, 0x21)))
    # Pair (2000, 2001): band0 = 0 (hot) + band2 = 0x55 shared (freq 2,
    # survives); differs 1 bit in band1 and 1 bit in band3 -> Hamming 2
    # with a surviving shared band -> capped keeps it.
    rows.append((2000, *mk(0, 100, 0x55, 0x66)))
    rows.append((2001, *mk(0, 101, 0x55, 0x67)))
    # Fillers: 18 more docs on the double-hot bands, 18 on band0 only,
    # with far-apart remaining bands (no accidental near-dups needed --
    # the brute-force sets below are authoritative either way).
    for i in range(18):
        rows.append((3000 + i, *mk(0, 7, 0x1000 + 257 * i, 0x3000 + 511 * i)))
    for i in range(18):
        rows.append(
            (4000 + i, *mk(0, 0x200 + 33 * i, 0x5000 + 129 * i, 0x7000 + 63 * i))
        )
    h = spark.createDataFrame(
        rows, "doc_id long, dhash_hi long, dhash_lo long"
    )

    def bands(hi, lo):
        u = ((hi & 0xFFFFFFFF) << 32) | (lo & 0xFFFFFFFF)
        return [(3 - k, (u >> (16 * k)) & 0xFFFF) for k in range(4)]

    fps = {r[0]: (r[1], r[2]) for r in rows}
    freq: dict[tuple, int] = {}
    for hi, lo in fps.values():
        for bd in bands(hi, lo):
            freq[bd] = freq.get(bd, 0) + 1
    cap = 10
    surviving = {bd for bd, n in freq.items() if n <= cap}
    assert freq[(0, 0)] == 40 and freq[(1, 7)] == 20  # fixture shape

    def ham(a, b):
        (ha, la), (hb, lb) = fps[a], fps[b]
        return bin((ha ^ hb) & 0xFFFFFFFF).count("1") + bin(
            (la ^ lb) & 0xFFFFFFFF
        ).count("1")

    want_all = set()
    want_capped = set()
    for a, b in combinations(sorted(fps), 2):
        d = ham(a, b)
        if 1 <= d <= 2:
            want_all.add((a, b, d))
            shared = set(bands(*fps[a])) & set(bands(*fps[b]))
            if shared & surviving:
                want_capped.add((a, b, d))

    got_all = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in MM.dhash_neardup_pairs(h, max_hamming=2).collect()
    }
    got_capped = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in MM.dhash_neardup_pairs(
            h, max_hamming=2, max_band_freq=cap
        ).collect()
    }
    assert got_all == want_all
    assert got_capped == want_capped
    # The designed recall trade, explicitly:
    assert (1000, 1001, 2) in got_all and (1000, 1001, 2) not in got_capped
    assert (2000, 2001, 2) in got_capped
    assert want_capped < want_all

    # Fan-out math this cap exists for: candidate couples the band
    # join emits = sum over joined bands of C(n_band, 2).
    def couples(bs):
        return sum(n * (n - 1) // 2 for bd, n in freq.items() if bd in bs)

    uncapped_fanout = couples(set(freq))
    capped_fanout = couples(surviving)
    assert uncapped_fanout >= 40 * 39 // 2  # hot bucket alone: >= 780
    assert capped_fanout <= cap * (cap - 1) // 2 * len(surviving)
    assert capped_fanout < 100 < uncapped_fanout

    # Probe-side twin: hotness from the probed buckets' union count
    # must reproduce the global cap exactly (probe-incident pairs of a
    # capped union build).
    old = h.filter("doc_id % 2 = 0")
    probe = h.filter("doc_id % 2 = 1")
    idx = str(tmp_path / "hotcapidx")
    MM.write_fp_index(old, idx)
    got_probe = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in MM.fp_probe_index(
            spark, idx, probe, max_band_freq=cap
        ).collect()
    }
    probe_ids = {r[0] for r in rows if r[0] % 2 == 1}
    want_probe = {
        (a, b, d)
        for (a, b, d) in want_capped
        if a in probe_ids or b in probe_ids
    }
    assert got_probe == want_probe
    assert want_probe  # non-vacuous: (2000, 2001) is probe-incident


def test_media_components_clique_collapse_equals_full_pairs(spark):
    """Round-12 optimization pin: the clique-collapsed edge set
    (exact-dup star + rep-to-rep band pairs over DISTINCT hashes) in
    pipelines.media_dedup_components_of_hashes yields the SAME component
    labels as CC over the full min_hamming=0 pair list — on a fixture
    mixing big exact-dup cliques, near-dup chains across distinct
    hashes, and isolated singletons."""
    from ue_big_data_project_spark.operators.graph import (
        connected_components,
    )
    from ue_big_data_project_spark.pipelines import (
        media_dedup_components_of_hashes,
    )

    rows = []
    # Clique A: 7 docs sharing one hash; clique B: 5 docs sharing a
    # hash 1 bit away (A and B merge through a rep pair). Clique C: 4
    # docs on a hash far from everything. Singletons: distinct hashes
    # 1 bit apart chain-wise (near-dup chain), plus one isolate.
    for i in range(7):
        rows.append((100 + i, 0x5A5A5A5A, 0x0F0F0F0F))
    for i in range(5):
        rows.append((200 + i, 0x5A5A5A5B, 0x0F0F0F0F))  # Hamming 1 vs A
    for i in range(4):
        rows.append((300 + i, 0x12345678, 0x76543210))
    rows += [
        (400, 0x7777, 0x1),
        (401, 0x7777, 0x3),  # Hamming 1 vs 400
        (402, 0x7777, 0x7),  # Hamming 1 vs 401, 2 vs 400
        (500, 0x0, 0x424242),  # isolate
    ]
    h = spark.createDataFrame(
        rows, "doc_id long, dhash_hi long, dhash_lo long"
    ).localCheckpoint(eager=True)
    got = {
        (r["doc_id"], r["component"])
        for r in media_dedup_components_of_hashes(h, max_hamming=2).collect()
    }
    full_pairs = MM.dhash_neardup_pairs(h, max_hamming=2, min_hamming=0)
    want = {
        (r["doc_id"], r["component"])
        for r in connected_components(
            h.select("doc_id"),
            full_pairs,
            node_col="doc_id",
            src_col="id_a",
            dst_col="id_b",
        ).collect()
    }
    assert got == want
    # Non-vacuous: A∪B merged through the rep pair, chain merged, the
    # isolate and clique C label themselves.
    comp_of = dict(got)
    assert comp_of[204] == 100 and comp_of[106] == 100
    assert comp_of[402] == 400 and comp_of[500] == 500
    assert comp_of[303] == 300


def test_baseline_encoder_bytes_pinned():
    """Golden byte pin for the vectorized baseline encoder (round-12):
    the whole-plane `_quantize_plane` FDCT + sparse entropy walk must
    keep producing EXACTLY the bytes of the original per-block path
    (verified byte-identical over 240 randomized gray/RGB ×
    subsampling × restart cases at the refactor). Any future change
    that shifts a single coefficient or run symbol trips this."""
    import hashlib

    import numpy as np

    from ue_big_data_project_spark.operators import multimodal as MM

    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, (21, 13)).astype(np.uint8)
    rgb = rng.integers(0, 256, (17, 26, 3)).astype(np.uint8)
    for name, px, sub, ri, want in [
        ("gray_444_r0", gray, "444", 0, "bee096dbbea5ef57"),
        ("gray_444_r2", gray, "444", 2, "a32196da0cb6b31e"),
        ("rgb_444_r0", rgb, "444", 0, "faac7e26e71e9903"),
        ("rgb_422_r0", rgb, "422", 0, "576c902dbdb3d794"),
        ("rgb_420_r3", rgb, "420", 3, "a8a7ebf980b6c030"),
    ]:
        got = hashlib.sha256(
            MM.encode_jpeg_baseline(px, ri, sub)
        ).hexdigest()[:16]
        assert got == want, name
    assert (
        hashlib.sha256(MM.synth_mp4_textured(37)).hexdigest()[:16]
        == "9cd26f3bcc82b240"
    )


def test_fused_attach_hash_edges_match_composition(spark):
    """The round-12 fused fixture edges (attach_bmp_dhash,
    attach_wav_saw_fp, attach_mp4_textured_dhash) must be row-identical
    to the two-stage compositions they replace in the query paths —
    the §4.1 boundary diet may remove the payload's JVM round-trip,
    never change a bit of the hashes."""
    from ue_big_data_project_spark.queries.tables import load_tables

    d = load_tables(spark, SF_DIR, ("documents",))["documents"]
    ids = d.select("doc_id")

    composed = (
        MM.image_dhash(MM.attach_bmp(ids)).orderBy("doc_id").toPandas()
    )
    fused = MM.attach_bmp_dhash(ids).orderBy("doc_id").toPandas()
    assert composed.equals(fused)

    composed = (
        MM.audio_fingerprint(MM.attach_wav_saw(ids))
        .orderBy("doc_id")
        .toPandas()
    )
    fused = MM.attach_wav_saw_fp(ids).orderBy("doc_id").toPandas()
    assert composed.equals(fused)

    composed = (
        MM.mp4_frame_dhash(MM.attach_mp4_textured(ids), every=2)
        .orderBy("doc_id", "frame_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    fused = (
        MM.attach_mp4_textured_dhash(ids, every=2)
        .orderBy("doc_id", "frame_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    assert composed.equals(fused)

    composed = (
        MM.mp4_thumbnail_features(
            MM.attach_mp4(ids), every=2, out_w=8, out_h=8
        )
        .orderBy("doc_id", "frame_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    fused = (
        MM.attach_mp4_thumbs(ids, every=2, out_w=8, out_h=8)
        .orderBy("doc_id", "frame_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    assert composed.equals(fused)

    composed = (
        MM.mp4_keyframe_samples(MM.attach_mp4(ids, keyframe_stride=3))
        .orderBy("doc_id", "frame_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    fused = (
        MM.attach_mp4_keyframes(ids, keyframe_stride=3)
        .orderBy("doc_id", "frame_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    assert composed.equals(fused)
