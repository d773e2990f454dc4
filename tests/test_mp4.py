"""ISO BMFF (MP4) demuxer + MJPEG muxer tests.

The muxer (``encode_mp4_mjpeg``) is the fixture source for the
demuxer, the same role ``encode_jpeg_baseline`` plays for the JPEG
decoder: every assertion runs the REAL box walk and sample-table
resolution over spec-shaped bytes the parser did not assume."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ue_big_data_project_spark.operators import multimodal as M


def _frames(doc_id: int, n: int) -> list[bytes]:
    return [
        M.encode_jpeg_baseline(M.synth_mp4_frame_pixels(doc_id, fi))
        for fi in range(n)
    ]


def test_mux_demux_roundtrip_metadata():
    for doc_id in (0, 1, 5, 13, 42):
        p = M.synth_mp4(doc_id)
        info = M.parse_mp4(p)
        n = 1 + doc_id % 8
        h, w = M.synth_mp4_frame_pixels(doc_id, 0).shape
        assert info["codec"] == "jpeg"
        assert (info["width"], info["height"]) == (w, h)
        assert info["n_samples"] == n
        assert info["timescale"] == 1000
        assert info["duration_ms"] == 40 * n
        # dts strictly advances by the sample delta
        assert [s[2] for s in info["samples"]] == [40 * i for i in range(n)]


def test_sample_bytes_extracted_bit_exact_across_chunk_plans():
    frames = _frames(7, 8)
    h, w = M.synth_mp4_frame_pixels(7, 0).shape
    for plan in (None, [8], [2, 3, 2, 1], [1] * 8, [4, 4], [2, 3, 3]):
        p = M.encode_mp4_mjpeg(frames, width=w, height=h, chunk_plan=plan)
        got = M.mp4_frames(p, every=1)
        assert [b for _, _, b in got] == frames
        assert [fi for fi, _, _ in got] == list(range(8))
        assert [pts for _, pts, _ in got] == [40 * i for i in range(8)]


def test_every_kth_sampling_seeks_correct_samples():
    frames = _frames(3, 7)
    h, w = M.synth_mp4_frame_pixels(3, 0).shape
    p = M.encode_mp4_mjpeg(frames, width=w, height=h, chunk_plan=[2, 3, 2])
    for every in (1, 2, 3, 7):
        got = M.mp4_frames(p, every=every)
        assert [fi for fi, _, _ in got] == list(range(0, 7, every))
        for fi, _, b in got:
            assert b == frames[fi]


def test_decode_mp4_pixels_match_direct_jpeg_decode():
    for doc_id in (2, 9, 31):
        p = M.synth_mp4(doc_id)
        for fi, pts_ms, feat in M.decode_mp4(p, every=2):
            px = M.synth_mp4_frame_pixels(doc_id, fi)
            assert pts_ms == 40 * fi
            assert feat["width"] == px.shape[1]
            assert feat["height"] == px.shape[0]
            assert feat["sum_luma"] == int(px.astype(np.int64).sum())


def test_co64_offsets_roundtrip():
    frames = _frames(11, 5)
    h, w = M.synth_mp4_frame_pixels(11, 0).shape
    p = M.encode_mp4_mjpeg(
        frames, width=w, height=h, chunk_plan=[2, 3], co64=True
    )
    assert [b for _, _, b in M.mp4_frames(p)] == frames


def test_largesize_mdat_box_parses():
    # Rewrite the mdat header as a 64-bit largesize box: size=1 marker +
    # fourcc + u64 size. Chunk offsets must be rebuilt (+8 shift), which
    # the muxer can't do post-hoc — so re-mux with a padded ftyp brand
    # list is overkill; instead patch stco entries directly.
    frames = _frames(4, 3)
    h, w = M.synth_mp4_frame_pixels(4, 0).shape
    p = M.encode_mp4_mjpeg(frames, width=w, height=h)
    ftyp_len = struct.unpack_from(">I", p, 0)[0]
    mdat_len = struct.unpack_from(">I", p, ftyp_len)[0]
    body = p[ftyp_len + 8 : ftyp_len + mdat_len]
    big = (
        struct.pack(">I", 1)
        + b"mdat"
        + struct.pack(">Q", 16 + len(body))
        + body
    )
    patched = bytearray(p[:ftyp_len] + big + p[ftyp_len + mdat_len :])
    # stco now points 8 bytes short (largesize header is 16, not 8).
    pos = bytes(patched).find(b"stco")
    (n_off,) = struct.unpack_from(">I", patched, pos + 8)
    for i in range(n_off):
        (o,) = struct.unpack_from(">I", patched, pos + 12 + 4 * i)
        struct.pack_into(">I", patched, pos + 12 + 4 * i, o + 8)
    assert [b for _, _, b in M.mp4_frames(bytes(patched))] == frames


def test_unsupported_codec_names_the_ffmpeg_seam():
    frames = _frames(6, 2)
    h, w = M.synth_mp4_frame_pixels(6, 0).shape
    p = M.encode_mp4_mjpeg(frames, width=w, height=h, codec=b"avc1")
    info = M.parse_mp4(p)  # the CONTAINER layer still demuxes fine
    assert info["codec"] == "avc1" and info["n_samples"] == 2
    assert [b for _, _, b in M.mp4_frames(p)] == frames  # raw NAL-style extraction
    with pytest.raises(NotImplementedError, match="ffmpeg.*avc1"):
        M.decode_mp4(p)


def test_malformed_containers_raise_value_error():
    frames = _frames(8, 4)
    h, w = M.synth_mp4_frame_pixels(8, 0).shape
    p = M.encode_mp4_mjpeg(frames, width=w, height=h)
    cases = {
        "not bmff": b"\x00" * 32,
        "empty": b"",
        "ftyp only": p[: struct.unpack_from(">I", p, 0)[0]],
        "truncated moov": p[:-20],
        "sample past eof": p[: len(p) // 2] + p[len(p) // 2 + 40 :],
    }
    for name, bad in cases.items():
        with pytest.raises(ValueError):
            M.parse_mp4(bad)


def test_stsc_overflow_is_rejected():
    # stsc claiming more samples than stsz holds must raise, not read
    # garbage: patch the single stsc run's samples-per-chunk upward.
    frames = _frames(2, 3)
    h, w = M.synth_mp4_frame_pixels(2, 0).shape
    p = bytearray(M.encode_mp4_mjpeg(frames, width=w, height=h))
    pos = bytes(p).find(b"stsc")
    # entry 0: first_chunk at +12, samples_per_chunk at +16
    struct.pack_into(">I", p, pos + 16, 5)
    with pytest.raises(ValueError, match="stsc"):
        M.parse_mp4(bytes(p))


def test_media_features_real_backend_covers_mp4(spark):
    # The per-payload seam dispatch recognizes ftyp and demux+decodes.
    feat = M._decode_stub(M.synth_mp4(12), "video", backend="real")
    assert feat["n_bytes"] == len(M.synth_mp4(12))
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        frames = _frames(6, 2)
        h, w = M.synth_mp4_frame_pixels(6, 0).shape
        M._decode_stub(
            M.encode_mp4_mjpeg(frames, width=w, height=h, codec=b"avc1"),
            "video",
            backend="real",
        )


def test_mp4_frame_features_end_to_end(spark):
    ids = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    out = M.mp4_frame_features(M.attach_mp4(ids), every=2).toPandas()
    # one row per kept frame: sum over docs of ceil(n_frames / 2)
    import math

    want_rows = sum(math.ceil((1 + i % 8) / 2) for i in range(40))
    assert len(out) == want_rows
    row = out[(out.doc_id == 13) & (out.frame_idx == 2)].iloc[0]
    px = M.synth_mp4_frame_pixels(13, 2)
    assert row.pts_ms == 80
    assert row.sum_luma == int(px.astype(np.int64).sum())
    assert row.n_pixels == px.size


def test_sample_frames_real_backend_demuxes_mp4(spark):
    """sample_frames(backend="real") demuxes MP4 containers: counts
    follow the sample table, hashes are of the real sample bytes, and
    the declared n_frames metadata is ignored (the container wins)."""
    import hashlib

    from pyspark.sql import functions as F

    df = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    media = M.attach_mp4(df).withColumn(
        "media",
        F.struct(
            F.lit("video").alias("media_type"),
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
            F.lit(0).alias("sample_rate"),
            F.lit(999).alias("n_frames"),  # ignored: sample table wins
        ),
    )
    rows = M.sample_frames(media, every=2, backend="real").collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i in range(12):
        n = 1 + i % 8
        assert len(by_doc[i]) == (n + 1) // 2
    f0 = M.encode_jpeg_baseline(M.synth_mp4_frame_pixels(3, 0))
    assert any(
        r["frame_md5"] == hashlib.md5(f0).hexdigest() for r in by_doc[3]
    )


# -- property-based: the demuxer over randomized mux inputs ---------------

from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _mux_case(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    # random chunk plan partitioning n samples
    plan, left = [], n
    while left > 0:
        take = draw(st.integers(min_value=1, max_value=left))
        plan.append(take)
        left -= take
    payloads = [
        bytes(
            draw(
                st.binary(min_size=1, max_size=64)
            )
        )
        for _ in range(n)
    ]
    co64 = draw(st.booleans())
    delta = draw(st.integers(min_value=1, max_value=3000))
    return payloads, plan, co64, delta


@settings(max_examples=60, deadline=None)
@given(case=_mux_case())
def test_demux_recovers_arbitrary_samples(case):
    """Sample payloads are OPAQUE to the container layer: whatever
    bytes go in per sample must come back bit-exact from the
    stts/stsc/stsz/stco resolution, for any chunk partition, either
    offset width, and any sample delta."""
    payloads, plan, co64, delta = case
    p = M.encode_mp4_mjpeg(
        payloads, width=16, height=8, chunk_plan=plan, co64=co64,
        sample_delta=delta,
    )
    info = M.parse_mp4(p)
    assert info["n_samples"] == len(payloads)
    assert [s[2] for s in info["samples"]] == [
        delta * i for i in range(len(payloads))
    ]
    got = M.mp4_frames(p, every=1)
    assert [b for _, _, b in got] == payloads
    # pts from the real timescale math
    assert [pts for _, pts, _ in got] == [
        delta * i * 1000 // 1000 for i in range(len(payloads))
    ]


def test_ctts_composition_offsets_shift_pts():
    """With a ctts table (the B-frame reordering surface), frame pts
    must come out in composition time: pts = dts + signed offset."""
    frames = _frames(10, 4)
    h, w = M.synth_mp4_frame_pixels(10, 0).shape
    offs = [80, -40, 0, 40]  # decode order != presentation order
    p = M.encode_mp4_mjpeg(
        frames, width=w, height=h, ctts_offsets=offs
    )
    info = M.parse_mp4(p)
    assert [s[2] for s in info["samples"]] == [0, 40, 80, 120]  # dts
    assert [s[3] for s in info["samples"]] == [80, 0, 80, 160]  # pts
    got = M.mp4_frames(p, every=1)
    assert [pts for _, pts, _ in got] == [80, 0, 80, 160]
    assert [b for _, _, b in got] == frames  # bytes still in decode order
    # inconsistent table is rejected
    pb = bytearray(p)
    pos = bytes(pb).find(b"ctts")
    struct.pack_into(">I", pb, pos + 8, 7)  # claim 7 runs for 4 samples
    with pytest.raises(ValueError):
        M.parse_mp4(bytes(pb))


def test_first_video_track_selected_among_multiple_tracks():
    """Real MP4s interleave audio and video tracks; the demuxer must
    skip non-'vide' handlers and bind to the first video track."""
    p = M.synth_mp4(5)
    moov_s_e = M._find_box(p, 0, len(p), b"moov")
    moov_s, moov_e = moov_s_e
    children = list(M._iter_boxes(p, moov_s, moov_e))
    mvhd = next(c for c in children if c[0] == b"mvhd")
    trak = next(c for c in children if c[0] == b"trak")
    mvhd_bytes = p[mvhd[1] - 8 : mvhd[2]]
    video_trak = p[trak[1] - 8 : trak[2]]
    audio_trak = M._box(
        b"trak",
        M._box(
            b"mdia",
            M._full_box(
                b"hdlr",
                0,
                0,
                struct.pack(">I", 0) + b"soun" + b"\x00" * 12 + b"Sound\x00",
            ),
        ),
    )
    # moov is the last top-level box, so chunk offsets are untouched.
    new_moov = M._box(b"moov", mvhd_bytes + audio_trak + video_trak)
    patched = p[: moov_s - 8] + new_moov
    info = M.parse_mp4(patched)
    assert info["codec"] == "jpeg"
    n = 1 + 5 % 8
    assert info["n_samples"] == n
    want = _frames(5, n)
    assert [b for _, _, b in M.mp4_frames(patched)] == want


def test_corrupted_entry_counts_raise_not_allocate():
    """A forged 32-bit entry count must fail as ValueError at the box
    bound check — not as an unbounded list allocation (the stts/ctts
    expansion) or a struct.error mid-table (the documented contract is
    ValueError on anything malformed)."""

    def find(p: bytes, fourcc: bytes) -> int:
        i = p.find(fourcc)
        assert i > 0, fourcc
        return i

    base = M.synth_mp4(5)
    for fourcc, off in ((b"stts", 8), (b"ctts", 8), (b"stsc", 8),
                        (b"stco", 8), (b"stsz", 12)):
        p = bytearray(base)
        i = p.find(fourcc)
        if i < 0:
            continue  # this fixture may not carry a ctts
        # count field: 4 (fourcc) + 4 (version+flags) in, except stsz
        # whose sample count follows the 4-byte uniform-size field.
        cnt_at = i + 4 + off
        p[cnt_at : cnt_at + 4] = struct.pack(">I", 1_000_000)
        with pytest.raises(ValueError):
            M.parse_mp4(bytes(p))
    # Truncated fixed-layout header: struct.error becomes ValueError.
    with pytest.raises(ValueError):
        M.parse_mp4(base[: len(base) // 3])


def test_mp4_frames_reuses_preparsed_info():
    p = M.synth_mp4(13)
    info = M.parse_mp4(p)
    assert M.mp4_frames(p, 2, info=info) == M.mp4_frames(p, 2)


def test_stss_keyframe_walk_touches_only_sync_samples():
    """The stss path (round-7 verdict task 5): keyframe extraction
    returns exactly the sync samples' still-encoded bytes with their
    pts, never slicing non-keyframes; absent stss, every sample is
    sync per ISO 14496-12 §8.6.2."""
    frames = _frames(7, 8)
    h, w = M.synth_mp4_frame_pixels(7, 0).shape
    p = M.encode_mp4_mjpeg(
        frames, width=w, height=h, chunk_plan=[2, 3, 3],
        sync_samples=[1, 4, 7],
    )
    info = M.parse_mp4(p)
    assert info["sync_samples"] == [0, 3, 6]
    got = M.mp4_keyframes(p)
    assert [fi for fi, _, _ in got] == [0, 3, 6]
    assert [pts for pts in (x[1] for x in got)] == [0, 120, 240]
    assert [b for _, _, b in got] == [frames[0], frames[3], frames[6]]
    # No stss box -> all-intra: every sample is a keyframe.
    p_all = M.encode_mp4_mjpeg(frames, width=w, height=h)
    assert [fi for fi, _, _ in M.mp4_keyframes(p_all)] == list(range(8))


def test_stss_keyframes_work_for_undecodable_codecs():
    """The seam narrows to PIXEL decode: an avc1-stamped container
    still yields its still-encoded keyframe access units (what an
    external decoder consumes), while full pixel decode keeps raising
    the documented NotImplementedError."""
    frames = [b"\x00\x01fake-avc-au-%d" % i for i in range(6)]
    p = M.encode_mp4_mjpeg(
        frames, width=16, height=8, codec=b"avc1", sync_samples=[1, 5]
    )
    got = M.mp4_keyframes(p)
    assert [(fi, b) for fi, _, b in got] == [(0, frames[0]), (4, frames[4])]
    with pytest.raises(NotImplementedError, match="keyframe extraction"):
        M.decode_mp4(p)


def test_stss_forgeries_rejected():
    frames = _frames(3, 4)
    h, w = M.synth_mp4_frame_pixels(3, 0).shape
    base = M.encode_mp4_mjpeg(
        frames, width=w, height=h, sync_samples=[1, 3]
    )
    # Forged entry count must fail bounded, not allocate.
    p = bytearray(base)
    i = p.find(b"stss")
    p[i + 8 : i + 12] = struct.pack(">I", 1_000_000)
    with pytest.raises(ValueError, match="stss"):
        M.parse_mp4(bytes(p))
    # Out-of-range / non-increasing sample numbers are forgeries too.
    p = bytearray(base)
    p[i + 12 : i + 16] = struct.pack(">I", 9)  # > n_samples
    with pytest.raises(ValueError, match="stss"):
        M.parse_mp4(bytes(p))
    # The muxer refuses to write them in the first place.
    with pytest.raises(ValueError, match="sync_samples"):
        M.encode_mp4_mjpeg(frames, width=w, height=h, sync_samples=[3, 1])


def test_mp4_keyframe_samples_dataframe_op(spark):
    """End-to-end DataFrame shape: containers in, one still-encoded
    keyframe row per stss entry out, codec column carrying the stsd
    fourcc so downstream decode can dispatch."""
    from pyspark.sql import functions as F

    ids = spark.range(4).select(F.col("id").alias("doc_id"))
    with_payload = M.attach_mp4(ids)
    out = M.mp4_keyframe_samples(with_payload).orderBy("doc_id", "frame_idx")
    rows = out.collect()
    # synth_mp4 writes no stss -> every frame of every doc is sync.
    expect_n = sum(1 + d % 8 for d in range(4))
    assert len(rows) == expect_n
    assert {r.codec for r in rows} == {"jpeg"}
    # Each emitted sample is the bit-exact encoded frame.
    r0 = [r for r in rows if r.doc_id == 3 and r.frame_idx == 2][0]
    import ue_big_data_project_spark.operators.multimodal as MM

    want = MM.encode_jpeg_baseline(MM.synth_mp4_frame_pixels(3, 2))
    assert bytes(r0.sample) == want
    assert r0.pts_ms == 80


def test_codec_config_extracted_from_sample_entry():
    """The stsd decoder-config box (avcC/hvcC extradata) rides the
    sample entry after the 78-byte VisualSampleEntry body; an avc1
    sample is length-prefixed NALUs whose SPS/PPS live ONLY there, so
    the extraction seam must surface it (round-8 verdict task 6)."""
    frames = [M.encode_jpeg_baseline(M.synth_jpeg_pixels(1))] * 4
    fake_avcc = bytes(
        [1, 0x64, 0x00, 0x1E, 0xFF, 0xE1, 0x00, 0x04, 0x67, 1, 2, 3]
    )
    payload = M.encode_mp4_mjpeg(
        frames,
        width=64,
        height=48,
        codec=b"avc1",
        sync_samples=[1, 3],
        codec_config=fake_avcc,
    )
    info = M.parse_mp4(payload)
    assert info["codec"] == "avc1"
    assert info["codec_config"] == fake_avcc
    # Extraction pairs every keyframe with the config — the complete
    # external-decoder handoff.
    kfs = M.mp4_keyframes(payload, info=info)
    assert [fi for fi, _, _ in kfs] == [0, 2]
    # No config box (MJPEG) -> None, not a parse error.
    plain = M.encode_mp4_mjpeg(frames, width=64, height=48)
    assert M.parse_mp4(plain)["codec_config"] is None


def test_codec_config_rides_keyframe_dataframe(spark):
    from pyspark.sql import functions as F

    frames = [M.encode_jpeg_baseline(M.synth_jpeg_pixels(7))] * 3
    cfg = b"\x01\x64\x00\x1e\xff\xe1"
    payload = M.encode_mp4_mjpeg(
        frames, width=64, height=48, codec=b"avc1",
        sync_samples=[2], codec_config=cfg,
    )
    df = spark.createDataFrame([(1, bytearray(payload))],
                               "doc_id long, payload binary")
    rows = M.mp4_keyframe_samples(df).collect()
    assert len(rows) == 1
    assert bytes(rows[0].codec_config) == cfg
    assert rows[0].codec == "avc1"


def test_pyav_decodes_emitted_keyframe():
    """Import-gated interop proof (round-8 verdict task 6, the PIL
    precedent): where PyAV exists, a REAL h264 MP4 encoded by PyAV is
    demuxed by OUR parser, a keyframe is extracted still-encoded, and
    PyAV decodes it from nothing but the (codec_config, sample) pair
    the seam emits — closing the external-decoder loop. Skips cleanly
    where PyAV is absent (this sandbox)."""
    av = pytest.importorskip("av")
    import io

    buf = io.BytesIO()
    out = av.open(buf, "w", format="mp4")
    stream = out.add_stream("h264", rate=25)
    stream.width, stream.height = 64, 48
    stream.pix_fmt = "yuv420p"
    stream.options = {"g": "3", "bf": "0"}
    for i in range(6):
        img = np.full((48, 64, 3), (i * 37) % 200, dtype=np.uint8)
        frame = av.VideoFrame.from_ndarray(img, format="rgb24")
        for pkt in stream.encode(frame):
            out.mux(pkt)
    for pkt in stream.encode():
        out.mux(pkt)
    out.close()
    payload = buf.getvalue()

    info = M.parse_mp4(payload)
    assert info["codec"] == "avc1"
    assert info["codec_config"], "avcC extradata must be captured"
    kfs = M.mp4_keyframes(payload, info=info)
    assert kfs, "h264 GOP must expose stss keyframes"
    _, _, sample = kfs[0]

    codec = av.CodecContext.create("h264", "r")
    codec.extradata = info["codec_config"]
    frames = list(codec.decode(av.Packet(sample)))
    try:
        frames += list(codec.decode(None))  # flush
    except Exception:
        pass
    assert frames, "emitted keyframe bytes must decode standalone"
    arr = frames[0].to_ndarray(format="rgb24")
    assert arr.shape == (48, 64, 3)


def test_mp4_thumbnails_match_direct_frame_resize(spark):
    """mp4_thumbnail_features == resize_pixels over the synthesized
    frame rasters, per kept frame — the composed demux→decode→resize
    chain adds nothing and loses nothing."""
    import numpy as np

    from ue_big_data_project_spark.operators import multimodal as MM

    ids = spark.createDataFrame([(3,), (12,), (45,)], "doc_id long")
    got = {
        (r["doc_id"], r["frame_idx"]): (r["sum_luma"], r["pos_digest"])
        for r in MM.mp4_thumbnail_features(
            MM.attach_mp4(ids), every=2, out_w=8, out_h=8
        ).collect()
    }
    want = {}
    for doc_id in (3, 12, 45):
        for fi in range(0, 1 + doc_id % 8, 2):
            px = MM.synth_mp4_frame_pixels(doc_id, fi)[:, :, None]
            r = (
                MM.resize_pixels(px, 8, 8, "nearest")
                .reshape(-1)
                .astype(np.int64)
            )
            want[(doc_id, fi)] = (
                int(r.sum()),
                int(((np.arange(r.size) + 1) * r).sum()),
            )
    assert got == want


def test_video_neardup_containment_semantics(spark):
    """video_neardup_pairs on a hand-built signature table: the
    threshold is containment of the SMALLER video (an embedded clip
    pairs with its longer cut), duplicate frame signatures within one
    video collapse (DISTINCT sigs), the integer threshold is exact at
    the boundary, and match_frac is matched/min."""
    import ue_big_data_project_spark.operators.multimodal as MM

    rows = [
        # video 1: sigs {a, b, c, d}; video 2 = {a, b} (contained);
        # video 3 = {c} (1/1 contained via c); video 4 = {e, f, g, h}
        # shares only d's... nothing with 1 except none -> no pair.
        (1, 10, 100), (1, 11, 110), (1, 12, 120), (1, 13, 130),
        (2, 10, 100), (2, 11, 110), (2, 10, 100),  # dup frame collapses
        (3, 12, 120),
        (4, 20, 200), (4, 21, 210), (4, 22, 220), (4, 23, 230),
        # video 5: {a, e} -- shares 1 of 2 with video 1 => exactly 1/2,
        # boundary INCLUDED; shares 1 of 2 with video 4 (e) too.
        (5, 10, 100), (5, 20, 200),
    ]
    sigs = spark.createDataFrame(
        rows, "doc_id long, sum_luma long, pos_digest long"
    )
    got = {
        (r["id_a"], r["id_b"]): (
            r["n_sig_a"],
            r["n_sig_b"],
            r["matched"],
            r["match_frac"],
        )
        for r in MM.video_neardup_pairs(sigs).collect()
    }
    assert set(got) == {(1, 2), (1, 3), (1, 5), (2, 5), (4, 5)}
    assert got[(1, 2)] == (4, 2, 2, 1.0)  # fully contained clip
    assert got[(1, 3)] == (4, 1, 1, 1.0)
    assert got[(1, 5)] == (4, 2, 1, 0.5)  # boundary: 2*1 >= min(4,2)
    assert got[(2, 5)] == (2, 2, 1, 0.5)  # 2-vs-2 sharing one sig
    assert got[(4, 5)] == (4, 2, 1, 0.5)
    # Tighten the threshold to 2/3: the boundary pairs drop out.
    strict = {
        (r["id_a"], r["id_b"])
        for r in MM.video_neardup_pairs(
            sigs, min_frac_num=2, min_frac_den=3
        ).collect()
    }
    assert strict == {(1, 2), (1, 3)}


def test_mp4_frame_dhash_matches_direct_hash_and_is_nondegenerate(spark):
    """The production video signature (round-11 verdict task 4):
    mp4_frame_dhash's demux∘decode∘hash pass must equal dHashing each
    decoded frame directly, and the TEXTURED fixture must exercise a
    rich hash space (the block-constant fixture collapses to ~72
    distinct dHashes over 500 docs — the degeneracy that forced the
    raster-digest signature)."""
    import numpy as np

    from ue_big_data_project_spark.operators import multimodal as MM

    ids = spark.createDataFrame(
        [(i,) for i in range(0, 120, 3)], "doc_id long"
    )
    rows = MM.mp4_frame_dhash(MM.attach_mp4_textured(ids)).collect()
    got = {
        (r["doc_id"], r["frame_idx"]): (r["dhash_hi"], r["dhash_lo"])
        for r in rows
    }
    hashes = set()
    for doc in range(0, 120, 3):
        payload = MM.synth_mp4_textured(doc)
        for fi, _pts, sample in MM.mp4_frames(payload, 1):
            px = MM.decode_jpeg_pixels(sample)
            want = MM.dhash_pixels(px[:, :, None])
            assert got[(doc, fi)] == want, (doc, fi)
            hashes.add(want)
    assert len(got) == sum(1 + d % 8 for d in range(0, 120, 3))
    # Non-degenerate: most frames carry distinct hashes (the closed
    # form has 350 possible (offset, step) patterns).
    assert len(hashes) > 100


def test_video_neardup_dhash_containment_semantics(spark):
    """A clip embedded in a longer cut pairs through the dHash
    signature at the ½-containment threshold — the same semantics the
    raster-digest entry pins, now over the production signature."""
    from ue_big_data_project_spark.operators import multimodal as MM

    # doc 7 has 8 frames, doc 357 (= 7 + 350) has 8 frames with the
    # SAME (offset, step) closed form — identical signature sets, a
    # guaranteed pair; doc 8 (1 frame, different step) does not pair
    # with either unless its single hash collides AND meets ½.
    ids = spark.createDataFrame([(7,), (357,), (8,)], "doc_id long")
    sigs = MM.mp4_frame_dhash(MM.attach_mp4_textured(ids))
    pairs = {
        (r["id_a"], r["id_b"]): r["match_frac"]
        for r in MM.video_neardup_pairs(
            sigs, sig_cols=("dhash_hi", "dhash_lo")
        ).collect()
    }
    assert pairs.get((7, 357)) == 1.0


def test_video_neardup_stop_sig_cap(spark):
    """max_sig_freq (the video stop-signature cap): a slate signature
    shared by every video leaves the join AND the containment
    denominators, so (a) slate-only overlap never pairs, (b) real
    overlap still pairs with the threshold computed over informative
    frames only, and (c) the capped result equals a pure-Python replay
    with hot signatures removed."""
    from itertools import combinations

    from ue_big_data_project_spark.operators import multimodal as MM

    SLATE = (0, 0)
    vids = {
        # 1 and 2: share 2 of their 3 informative frames -> pair
        1: [SLATE, (10, 1), (11, 1), (12, 1)],
        2: [SLATE, (10, 1), (11, 1), (13, 1)],
        # 3: shares ONLY the slate with everyone -> no pairs
        3: [SLATE, (30, 1), (31, 1)],
        # 4: slate-only video -> drops out entirely under the cap
        4: [SLATE],
    }
    rows = [
        (v, s[0], s[1]) for v, sigs in vids.items() for s in sigs
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, sum_luma long, pos_digest long"
    )
    capped = {
        (r["id_a"], r["id_b"]): (
            r["n_sig_a"], r["n_sig_b"], r["matched"]
        )
        for r in MM.video_neardup_pairs(df, max_sig_freq=3).collect()
    }
    # replay: drop sigs in > 3 videos, then containment at 1/2
    from collections import Counter

    freq = Counter(s for sigs in vids.values() for s in set(sigs))
    surv = {v: {s for s in sigs if freq[s] <= 3}
            for v, sigs in vids.items()}
    want = {}
    for a, b in combinations(sorted(vids), 2):
        m = len(surv[a] & surv[b])
        lo = min(len(surv[a]), len(surv[b]))
        if lo and 2 * m >= lo:
            want[(a, b)] = (len(surv[a]), len(surv[b]), m)
    assert capped == want
    assert (1, 2) in capped and capped[(1, 2)] == (3, 3, 2)
    assert not any(3 in p or 4 in p for p in capped)
    # uncapped: the slate makes everything pair with the slate-only
    # video (its single sig is contained everywhere) — the
    # pathological fan-out the cap removes.
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in MM.video_neardup_pairs(df).collect()
    }
    assert all((v, 4) in uncapped for v in (1, 2, 3))


def test_video_sig_index_probe_equals_neardup_restriction_and_append(
    spark, tmp_path
):
    """The persisted video signature index answers a one-sided probe
    EXACTLY like video_neardup_pairs over the union corpus restricted
    to probe-incident pairs, and an O(increment) append leaves it
    answering like a fresh build — signatures are stateless, nothing
    drifts (the fp-band-index contract on the video axis, with the
    sizes sidecar carrying the true containment denominators)."""
    from ue_big_data_project_spark.operators import multimodal as MM

    ids = spark.createDataFrame(
        [(i,) for i in range(80)], "doc_id long"
    )
    def sigs_of(pred):
        return MM.mp4_frame_dhash(
            MM.attach_mp4_textured(ids.filter(pred))
        )

    old = sigs_of("doc_id % 2 = 0")
    probe = sigs_of("doc_id % 4 = 1")
    late = sigs_of("doc_id % 4 = 3")

    idx = str(tmp_path / "vsig")
    MM.write_video_sig_index(
        old, idx, sig_cols=("dhash_hi", "dhash_lo")
    )

    def rows(df):
        return {
            (
                r["id_a"], r["id_b"], r["n_sig_a"], r["n_sig_b"],
                r["matched"],
            )
            for r in df.collect()
        }

    got = rows(MM.video_probe_sig_index(spark, idx, probe))
    union = old.unionByName(probe)
    probe_ids = set(range(1, 80, 4))
    want = {
        t
        for t in rows(
            MM.video_neardup_pairs(
                union, sig_cols=("dhash_hi", "dhash_lo")
            )
        )
        if t[0] in probe_ids or t[1] in probe_ids
    }
    assert got == want
    assert want  # the textured fixture's residue classes guarantee pairs

    MM.video_sig_index_append(spark, idx, late)
    got2 = rows(MM.video_probe_sig_index(spark, idx, probe))
    fresh = str(tmp_path / "vsig_fresh")
    MM.write_video_sig_index(
        old.unionByName(late), fresh, sig_cols=("dhash_hi", "dhash_lo")
    )
    want2 = rows(MM.video_probe_sig_index(spark, fresh, probe))
    assert got2 == want2
    assert got2 != got  # the appended quarter changed the answer

    # REPLAY tolerance: a probe that re-presents already-indexed
    # videos (at-least-once delivery) must not double-count their
    # signatures into `matched` — the answer is the union-corpus
    # restriction with the replayed ids counting as probe endpoints.
    replay = sigs_of("doc_id % 4 = 1 OR doc_id IN (0, 2)")
    got3 = rows(MM.video_probe_sig_index(spark, idx, replay))
    # union corpus: index (old + late) plus the probe; the operator's
    # internal distinct dedupes the replayed ids' signature rows
    union3 = old.unionByName(late).unionByName(replay)
    replay_ids = set(range(1, 80, 4)) | {0, 2}
    want3 = {
        t
        for t in rows(
            MM.video_neardup_pairs(
                union3, sig_cols=("dhash_hi", "dhash_lo")
            )
        )
        if t[0] in replay_ids or t[1] in replay_ids
    }
    assert got3 == want3


def test_video_sig_index_rewrite_prunes_rows_and_sizes(spark, tmp_path):
    """Retention: rewrite_video_sig_index sheds expired videos' rows
    AND sidecar sizes in lockstep — the post-prune probe answers like
    a fresh build on the kept videos (an un-pruned sidecar would
    inflate containment denominators through the union-max)."""
    from ue_big_data_project_spark.operators import multimodal as MM

    ids = spark.createDataFrame(
        [(i,) for i in range(60)], "doc_id long"
    )

    def sigs_of(pred):
        return MM.mp4_frame_dhash(
            MM.attach_mp4_textured(ids.filter(pred))
        )

    old = sigs_of("doc_id % 2 = 0")
    probe = sigs_of("doc_id % 4 = 1")
    idx = str(tmp_path / "vsig")
    MM.write_video_sig_index(old, idx, sig_cols=("dhash_hi", "dhash_lo"))

    def rows(df):
        return {
            (r["id_a"], r["id_b"], r["n_sig_a"], r["n_sig_b"],
             r["matched"])
            for r in df.collect()
        }

    # Pick an expired doc GUARANTEED to matter: an even endpoint of a
    # probe-incident pair in the un-pruned answer.
    all_rows = rows(MM.video_probe_sig_index(spark, idx, probe))
    assert all_rows
    expired = next(
        e
        for t in sorted(all_rows)
        for e in (t[0], t[1])
        if e % 2 == 0
    )
    keep = ids.filter(f"doc_id % 2 = 0 AND doc_id <> {expired}")
    n = MM.rewrite_video_sig_index(spark, idx, keep)
    assert n > 0
    kept_ids = {r["doc_id"] for r in keep.collect()}
    assert {
        r["id"] for r in spark.read.parquet(idx + "_sizes").collect()
    } == kept_ids

    got = rows(MM.video_probe_sig_index(spark, idx, probe))
    fresh = str(tmp_path / "vsig_fresh")
    MM.write_video_sig_index(
        sigs_of(f"doc_id % 2 = 0 AND doc_id <> {expired}"),
        fresh,
        sig_cols=("dhash_hi", "dhash_lo"),
    )
    want = rows(MM.video_probe_sig_index(spark, fresh, probe))
    assert got == want
    # the prune removed the expired doc's pairs and nothing else that
    # a fresh build would keep
    assert got < all_rows
    assert not any(expired in (t[0], t[1]) for t in got)


def test_video_sig_stats_flags_hot_signatures(spark, tmp_path):
    """The hot-signature monitor: shares sum to 1, skew centers at 1,
    and a deliberately shared slate signature ranks hottest."""
    from ue_big_data_project_spark.operators import multimodal as MM

    rows = [(v, 0, 0) for v in range(30)] + [
        (v, 100 + v, 200 + v) for v in range(30)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, dhash_hi long, dhash_lo long"
    )
    idx = str(tmp_path / "vsigstats")
    MM.write_video_sig_index(df, idx, sig_cols=("dhash_hi", "dhash_lo"))
    stats = MM.video_sig_stats(spark, idx, top_k=1).collect()
    assert abs(sum(r["share"] for r in stats) - 1.0) < 1e-9
    assert abs(sum(r["skew"] for r in stats) / len(stats) - 1.0) < 1e-9
    hot = [r for r in stats if r["hot"]]
    assert len(hot) == 1
    assert (hot[0]["dhash_hi"], hot[0]["dhash_lo"]) == (0, 0)
    assert hot[0]["n_docs"] == 30


def test_video_sig_stream_equals_one_shot_guard_and_rewrite(
    spark, tmp_path
):
    """The STREAMED video signature index answers a probe exactly like
    a one-shot write_video_sig_index build; flat appends onto the
    streamed layout are rejected; rewrite_video_sig_index compacts the
    streamed layout (rows AND sizes) back to the flat appendable
    sharding."""
    import os
    import time

    import pytest

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.streaming import ingest
    from ue_big_data_project_spark.operators import multimodal as MM
    from ue_big_data_project_spark.session import apply_session_conf

    apply_session_conf(spark)
    ids = spark.createDataFrame(
        [(i,) for i in range(60)], "doc_id long"
    )

    def sigs_of(df):
        return MM.mp4_frame_dhash(MM.attach_mp4_textured(df))

    probe = sigs_of(ids.filter("doc_id % 4 = 1"))
    root = str(tmp_path / "vstream")
    stage = os.path.join(root, "stage")
    os.makedirs(stage)
    now = time.time()
    for i in range(2):
        bdir = os.path.join(root, f"b{i}")
        ids.filter(f"doc_id % 4 = {2 * i}").coalesce(1).write.parquet(
            bdir
        )
        part = [f for f in os.listdir(bdir) if f.endswith(".parquet")][0]
        dst = os.path.join(stage, f"b{i}.parquet")
        os.symlink(os.path.join(bdir, part), dst)
        os.utime(os.path.join(bdir, part), (now + i, now + i))
    sdf = spark.readStream.schema("doc_id long").option(
        "maxFilesPerTrigger", 1
    ).parquet(stage)
    idx = os.path.join(root, "vsig")
    q = ingest.video_sig_ingest_stream(
        sdf,
        index_path=idx,
        ledger_dir=os.path.join(root, "_ledger"),
        signatures=lambda bdf: sigs_of(bdf),
        sig_cols=("dhash_hi", "dhash_lo"),
    )
    ST.run_until_drained(q)

    def rows(df):
        return {
            (r["id_a"], r["id_b"], r["n_sig_a"], r["n_sig_b"],
             r["matched"])
            for r in df.collect()
        }

    got = rows(MM.video_probe_sig_index(spark, idx, probe))
    one_shot = str(tmp_path / "vsig_oneshot")
    MM.write_video_sig_index(
        sigs_of(ids.filter("doc_id % 2 = 0")),
        one_shot,
        sig_cols=("dhash_hi", "dhash_lo"),
    )
    want = rows(MM.video_probe_sig_index(spark, one_shot, probe))
    assert got == want
    assert want

    # flat appends onto the streamed layout must be rejected
    late = sigs_of(ids.filter("doc_id % 4 = 3"))
    with pytest.raises(ValueError, match="batch_id"):
        MM.video_sig_index_append(spark, idx, late)

    # rewrite compacts (prune = keep everything) back to flat; the
    # append then works and the probe sees the late quarter
    MM.rewrite_video_sig_index(
        spark, idx, ids.filter("doc_id % 2 = 0")
    )
    MM.video_sig_index_append(spark, idx, late)
    got2 = rows(MM.video_probe_sig_index(spark, idx, probe))
    fresh = str(tmp_path / "vsig_fresh")
    MM.write_video_sig_index(
        sigs_of(ids.filter("doc_id % 2 = 0 OR doc_id % 4 = 3")),
        fresh,
        sig_cols=("dhash_hi", "dhash_lo"),
    )
    want2 = rows(MM.video_probe_sig_index(spark, fresh, probe))
    assert got2 == want2
