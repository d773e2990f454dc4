"""Property-based checks (hypothesis): randomized inputs must keep the
as-of join equal to its theta-join oracle, Q3's bus positions equal to
the reference walk and sessionization internally consistent. Small
example counts — each example runs Spark jobs."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.asof_oracle import asof_oracle
from tests.q3_oracle import detect_positions
from ue_big_data_project_spark.operators.asof import asof_join
from ue_big_data_project_spark.operators.sessions import sessionize_batch
from ue_big_data_project_spark.queries.reference import q3_bus_positions

EPOCH = dt.datetime(2024, 1, 1)

# Wide seconds, or a 30 s grid so equal and repeated timestamps and the
# 60 s tolerance edge come up often; None is a null timestamp or key.
ts_strategy = st.one_of(
    st.integers(min_value=0, max_value=200_000),
    st.integers(min_value=0, max_value=40).map(lambda m: 30 * m),
).map(lambda s: EPOCH + dt.timedelta(seconds=s))
asof_rows = st.lists(
    st.tuples(st.none() | ts_strategy, st.sampled_from([None, "a", "b"])),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lrows=asof_rows,
    rrows=asof_rows,
    strict=st.booleans(),
    fwd=st.booleans(),
    use_by=st.booleans(),
    tol=st.sampled_from([None, 60]),
)
def test_asof_strategies_agree_on_random_data(
    spark, lrows, rrows, strict, fwd, use_by, tol
):
    left = spark.createDataFrame(
        [(i, t, k) for i, (t, k) in enumerate(lrows)],
        "id int, lts timestamp, k string",
    )
    right = spark.createDataFrame(rrows, "rts timestamp, k string")
    kwargs = dict(
        left_ts="lts",
        right_ts="rts",
        left_keys=["id"],
        by=["k"] if use_by else None,
        tolerance_seconds=tol,
        right_cols=["rts"],
        strict=strict,
        direction="forward" if fwd else "backward",
    )

    def rows(df):
        return sorted((r["id"], r["asof"]["rts"]) for r in df.collect())

    assert rows(asof_join(left, right, **kwargs)) == rows(
        asof_oracle(left, right, **kwargs)
    )


Q3_STOPS = ["AAAA", "BBBB", "CCCC", "DDDD", "EEEE"]
DAY = "2025-03-25"
# Wait strings as the feed sends them: "Nmn" (0 included), "proche"
# (parsed as 0), non-numeric leftovers and a missing value (both null).
temps_strategy = st.one_of(
    st.integers(min_value=0, max_value=20).map(lambda m: f"{m}mn"),
    st.sampled_from(["0mn", "proche", "", "mn", "Horaire"]),
    st.none(),
)
# (sens, stop, temps, minute, second): a random subset of the line's
# stops per direction over two one-minute windows.
q3_rows = st.lists(
    st.tuples(
        st.sampled_from([1, 2]),
        st.sampled_from(Q3_STOPS),
        temps_strategy,
        st.integers(min_value=0, max_value=1),
        st.integers(min_value=0, max_value=59),
    ),
    min_size=1,
    max_size=16,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=q3_rows, repeat_temps=temps_strategy)
def test_q3_positions_match_reference_walk(spark, rows, repeat_temps):
    # Measure the first row's stop again in the same window, so every
    # example has a repeated stop where the first measurement must win.
    sens, stop, _, minute, second = rows[0]
    rows = [*rows, (sens, stop, repeat_temps, minute, second)]
    df = spark.createDataFrame(
        [
            (d, "Term", False, t, "true", at, "C6", f"{DAY}T14:0{5 + m}:{s:02d}")
            for d, at, t, m, s in rows
        ],
        "sens int, terminus string, infotrafic boolean, temps string, "
        "tempsReel string, stop string, numLigne string, created_at string",
    )
    out = q3_bus_positions(df, Q3_STOPS, line="C6").collect()
    assert sum(len(r["stops"]) for r in out) == len(rows)
    assert {(r["sens"], r["window"]["start"].minute) for r in out} == {
        (d, 5 + m) for d, _, _, m, _ in rows
    }
    for r in out:
        got = [(p["location"], p["status"]) for p in r["positions"]]
        assert got == detect_positions(r["stops"], r["sens"], Q3_STOPS)


words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
)
docs_strategy = st.lists(
    st.lists(words, min_size=3, max_size=10).map(" ".join),
    min_size=2,
    max_size=8,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=docs_strategy, threshold=st.sampled_from([0.5, 0.8]))
def test_jaccard_prefix_filter_is_lossless(spark, texts, threshold):
    """The PPJoin prefix-filtered pipeline must equal a brute-force
    Python recomputation of shingle-set Jaccard on random documents."""
    from ue_big_data_project_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", shingle_n=3, threshold=threshold
        ).collect()
    }

    def shingles(t: str) -> set:
        toks = t.split()
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    import math

    expected = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            sa, sb = shingles(texts[a]), shingles(texts[b])
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            jr = math.floor(j * 10000 + 0.5) / 10000
            if jr >= threshold:
                expected[(a, b)] = jr
    assert got == expected


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=docs_strategy, threshold=st.sampled_from([0.5, 0.8]))
def test_jaccard_probe_positional_filter_is_lossless(
    spark, texts, threshold
):
    """The PERSISTED-index probe — frozen-order prefixes with stored
    ranks plus the positional filter on both the cross and in-batch
    candidate joins — must equal the full ngram_jaccard_pairs output
    restricted to increment-incident pairs, on random documents."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.dedup import (
        jaccard_probe_index,
        ngram_jaccard_pairs,
        write_jaccard_index,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    old = df.filter(F.col("doc_id") % 2 == 0)
    new = df.filter(F.col("doc_id") % 2 == 1)
    if old.count() == 0 or new.count() == 0:
        return
    root = tempfile.mkdtemp(prefix="jprobe_hyp_")
    try:
        path = root + "/jidx"
        write_jaccard_index(
            old, path, threshold=threshold, n_buckets=2
        )
        got = sorted(
            map(tuple, jaccard_probe_index(spark, path, new).collect())
        )
        full = ngram_jaccard_pairs(
            df, "doc_id", "text", shingle_n=3, threshold=threshold
        )
        want = sorted(
            map(
                tuple,
                full.filter(
                    (F.col("id_a") % 2 == 1) | (F.col("id_b") % 2 == 1)
                ).collect(),
            )
        )
        assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


vec_strategy = st.lists(
    st.lists(
        st.floats(
            min_value=-2.0, max_value=2.0, allow_nan=False, width=32
        ),
        min_size=4,
        max_size=4,
    ),
    min_size=2,
    max_size=10,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=vec_strategy, threshold=st.sampled_from([0.3, 0.8]))
def test_block_cosine_pairs_match_brute_force(spark, vecs, threshold):
    """The numpy tile pruner must be sound: block-matrix cosine_pairs
    equals a brute-force fold-left recomputation on random vectors
    (including zero vectors and tiny blocks)."""
    import math

    from ue_big_data_project_spark.operators.similarity import cosine_pairs

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in cosine_pairs(df, threshold=threshold, block_size=4).collect()
    }

    def cos(a, b):
        import struct

        f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]
        a = [f32(x) for x in a]
        b = [f32(x) for x in b]
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return dot / (na * nb) if na * nb > 0 else 0.0

    expected = {}
    for a in range(len(vecs)):
        for b in range(a + 1, len(vecs)):
            c = math.floor(cos(vecs[a], vecs[b]) * 1e6 + 0.5) / 1e6
            if c >= threshold:
                expected[(a, b)] = c
    assert got == expected


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # user
        st.integers(min_value=0, max_value=50_000),  # seconds offset
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=events_strategy, gap=st.sampled_from([60, 600, 3600]))
def test_sessionize_invariants(spark, rows, gap):
    df = spark.createDataFrame(
        [(u, EPOCH + dt.timedelta(seconds=s)) for u, s in rows],
        "user_id long, ts timestamp",
    )
    out = sessionize_batch(df, gap_seconds=gap).collect()
    # Conservation: every event lands in exactly one session.
    assert sum(r["n_events"] for r in out) == len(rows)
    by_user: dict[int, list] = {}
    for r in out:
        assert r["start_us"] <= r["end_us"]
        by_user.setdefault(r["user_id"], []).append(r)
    for sessions in by_user.values():
        sessions.sort(key=lambda r: r["session_idx"])
        for a, b in zip(sessions, sessions[1:]):
            # Consecutive sessions are separated by more than the gap.
            assert b["start_us"] - a["end_us"] > gap * 1_000_000
            assert b["session_idx"] == a["session_idx"] + 1


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    xs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
def test_zorder_key_matches_python_morton(spark, xs):
    from ue_big_data_project_spark.layout import zorder_key

    df = spark.createDataFrame(xs, "x int, y int")
    bounds = {"x": list(range(1, 256)), "y": list(range(1, 256))}
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zorder_key(df, ["x", "y"], bits=8, bounds=bounds).alias("z")
        ).collect()
    }

    def morton(x, y):
        return sum(
            (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1))
            for i in range(8)
        )

    assert got == {(x, y): morton(x, y) for x, y in xs}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    tokens=st.lists(
        st.integers(min_value=1, max_value=700), min_size=1, max_size=30
    ),
    budget=st.integers(min_value=16, max_value=512),
)
def test_pack_sequences_chunk_invariants(spark, tokens, budget):
    """Concat-and-chunk bookkeeping: within each stream, pack_id is the
    chunk of the document's FIRST token, straddles means its last token
    lands in a later chunk, and chunk arithmetic reproduces a plain
    Python fold over the same in-stream order."""
    from ue_big_data_project_spark.pipelines import pack_sequences

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tokens)], "doc_id long, n_tokens int"
    )
    rows = pack_sequences(
        df, budget=budget, writers=4
    ).orderBy("stream", "doc_id").collect()
    run_by_stream: dict[int, int] = {}
    for r in rows:
        start = run_by_stream.get(r["stream"], 0)
        end = start + r["n_tokens"]
        assert r["pack_id"] == start // budget
        assert r["straddles"] == ((end - 1) // budget > start // budget)
        assert r["oversize"] == (r["n_tokens"] > budget)
        run_by_stream[r["stream"]] = end


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    top_down=st.booleans(),
)
def test_bmp_codec_roundtrip_random_rasters(w, h, seed, top_down):
    """decode(encode(pixels)) recovers exact dimensions and per-channel
    sums for ANY raster — padding widths, 1-pixel edges, and top-down
    row order included (no Spark; the codec is pure Python/numpy)."""
    import struct

    import numpy as np

    from ue_big_data_project_spark.operators import multimodal as MM

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    payload = MM.encode_bmp(px)
    if top_down:
        row = (3 * w + 3) & ~3
        body = payload[54:]
        flipped = b"".join(
            body[(h - 1 - y) * row : (h - y) * row] for y in range(h)
        )
        buf = bytearray(payload[:54] + flipped)
        struct.pack_into("<i", buf, 22, -h)
        payload = bytes(buf)
    got = MM.decode_bmp(payload)
    sums = px.astype(np.int64).sum(axis=(0, 1))
    assert (got["width"], got["height"], got["n_pixels"]) == (w, h, w * h)
    assert (got["sum_r"], got["sum_g"], got["sum_b"]) == tuple(int(s) for s in sums)


@settings(max_examples=60, deadline=None)
@given(
    samples=st.lists(
        st.integers(min_value=-(2**15), max_value=2**15 - 1),
        min_size=1,
        max_size=400,
    ),
    sr=st.sampled_from([8000, 16000, 44100]),
    channels=st.integers(min_value=1, max_value=4),
)
def test_wav_codec_roundtrip_random_signals(samples, sr, channels):
    """decode(encode(pcm)) recovers the exact header fields and stats
    for ANY PCM16 signal, including INT16_MIN and multi-channel layouts
    (trailing samples that don't fill a frame are dropped, as a real
    decoder must)."""
    import numpy as np

    from ue_big_data_project_spark.operators import multimodal as MM

    x = np.array(samples, dtype="<i2")
    payload = MM.encode_wav_pcm16(x, sr, n_channels=channels)
    got = MM.decode_wav(payload)
    n_frames = len(samples) // channels
    kept = x[: n_frames * channels].astype(np.float64)
    assert got["sample_rate"] == sr and got["n_channels"] == channels
    assert got["n_samples"] == n_frames
    if len(kept):
        assert got["peak_amplitude"] == int(np.max(np.abs(kept)))
        assert got["rms_amplitude"] == int(np.floor(np.sqrt(np.mean(kept * kept))))


@settings(max_examples=40, deadline=None)
@given(
    n_frames=st.integers(min_value=1, max_value=9),
    every=st.integers(min_value=1, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bmpv_sampling_matches_per_frame_decode(n_frames, every, seed):
    """Sampling a frame stream decodes exactly the frames a plain loop
    over every-th BMP would, whatever the frame sizes."""
    import numpy as np

    from ue_big_data_project_spark.operators import multimodal as MM

    rng = np.random.default_rng(seed)
    frames = [
        MM.encode_bmp(
            rng.integers(
                0, 256, size=(int(rng.integers(1, 12)), int(rng.integers(1, 16)), 3),
                dtype=np.uint8,
            )
        )
        for _ in range(n_frames)
    ]
    got = MM.decode_bmpv(MM.encode_bmpv(frames), every=every)
    want = [(fi, MM.decode_bmp(frames[fi])) for fi in range(0, n_frames, every)]
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2),  # user
            st.integers(min_value=0, max_value=59),  # minute
            st.booleans(),  # True = purchase (left), False = click (right)
        ),
        min_size=2,
        max_size=14,
    ),
    cuts=st.sets(st.integers(min_value=1, max_value=13), max_size=2),
)
def test_streaming_asof_equals_batch_on_random_batch_splits(
    spark, tmp_path_factory, events, cuts
):
    """asof_join_stream converges to the batch as-of for ANY event set
    and ANY split into micro-batches (watermark 1h > horizon, so
    nothing is late): final max(asof_us) per purchase == the plain
    'latest click at-or-before within 10 min per user' computed in
    Python."""
    import json as _json
    import os as _os

    from ue_big_data_project_spark.queries.events import asof_join_stream

    tmp = str(tmp_path_factory.mktemp("asof_prop"))
    path = _os.path.join(tmp, "in")
    _os.makedirs(path)
    bounds = sorted(b for b in cuts if b < len(events))
    slices = []
    prev = 0
    for b in bounds + [len(events)]:
        if b > prev:
            slices.append(events[prev:b])
            prev = b
    base = 1_700_000_000
    for i, rows in enumerate(slices):
        with open(_os.path.join(path, f"b{i:03d}.json"), "w") as f:
            for j, (user, minute, is_purchase) in enumerate(rows):
                f.write(
                    _json.dumps(
                        {
                            "event_id": i * 100 + j,
                            "ts": f"2024-01-01T00:{minute:02d}:00.000Z",
                            "user_id": user,
                            "event_type": "purchase" if is_purchase else "click",
                            "value": 1.0,
                        }
                    )
                    + "\n"
                )
        _os.utime(
            _os.path.join(path, f"b{i:03d}.json"),
            (base + i * 60, base + i * 60),
        )

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    from ue_big_data_project_spark import streaming as S

    sdf = S.file_stream(spark, path, schema, max_files_per_trigger=1)
    purchases = sdf.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = sdf.filter(F.col("event_type") == "click").select("user_id", "ts")
    drained = S.drain_to_table(
        spark,
        asof_join_stream(
            purchases, clicks,
            left_ts="ts", right_ts="ts",
            key="user_id", left_id="event_id",
            tolerance_seconds=600, watermark="1 hour",
        ),
        mode="update",
    )
    got = {
        r["left_id"]: r["best"]
        for r in drained.groupBy("left_id")
        .agg(F.max("asof_us").alias("best"))
        .collect()
    }

    # Python reference over the flat event list.
    def us(minute):
        return 1704067200000000 + minute * 60_000_000

    want = {}
    flat = [
        (i * 100 + j, user, minute, is_p)
        for i, rows in enumerate(slices)
        for j, (user, minute, is_p) in enumerate(rows)
    ]
    for eid, user, minute, is_p in flat:
        if not is_p:
            continue
        cands = [
            us(m)
            for _, u, m, p in flat
            if not p and u == user and us(m) <= us(minute)
            and us(m) >= us(minute) - 600 * 1_000_000
        ]
        if cands:
            want[eid] = max(cands)
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(
        st.integers(min_value=-(2**62), max_value=2**62),
        min_size=1,
        max_size=300,
        unique=True,
    ),
    as_string=st.booleans(),
)
def test_bloom_no_false_negatives_random_keys(spark, keys, as_string):
    """The Bloom contract that join correctness rests on, under random
    (including negative) keys in both native and canonical-string modes:
    every inserted key passes the membership test."""
    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.bloom import (
        bloom_might_contain,
        build_key_bloom,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    if as_string:
        df = df.select(F.col("k").cast("string").alias("k"))
    bloom = build_key_bloom(df, "k", m_bits=1 << 13)
    assert df.where(~bloom_might_contain(F.col("k"), bloom)).count() == 0


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_codec_roundtrip_random_rasters(w, h, seed):
    """decode(encode(pixels)) through the compressed PNG container
    recovers exact dimensions and channel sums for ANY raster — every
    filter type hit whenever h >= 5 (encoder rotates filters per
    scanline), 1-pixel edges included."""
    import numpy as np

    from ue_big_data_project_spark.operators import multimodal as MM

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    got = MM.decode_png(MM.encode_png(px))
    sums = px.astype(np.int64).sum(axis=(0, 1))
    assert (got["width"], got["height"], got["n_pixels"]) == (w, h, w * h)
    assert (got["sum_r"], got["sum_g"], got["sum_b"]) == tuple(
        int(s) for s in sums
    )


# -- scd2 history -----------------------------------------------------------

scd2_changes = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),    # key
        st.integers(min_value=0, max_value=50),   # version
        st.booleans(),                            # tombstone
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: (t[0], t[1]),  # CDC contract: (key, version) unique
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(changes=scd2_changes)
def test_scd2_interval_invariants(spark, changes):
    from ue_big_data_project_spark.operators.cdc import scd2_history

    df = spark.createDataFrame(changes, "k long, v long, del boolean")
    rows = scd2_history(
        df, keys=["k"], version_col="v", tombstone_col="del"
    ).collect()

    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.k, []).append(r)
    log: dict[int, list] = {}
    for k, v, dele in changes:
        log.setdefault(k, []).append((v, dele))

    for k, versions in log.items():
        versions.sort()
        live = [v for v, dele in versions if not dele]
        got = sorted(by_key.get(k, []), key=lambda r: r.valid_from)
        # One output row per live change, in version order.
        assert [r.valid_from for r in got] == live
        for r in got:
            nxt = [v for v, _ in versions if v > r.valid_from]
            # valid_to is the NEXT change of any kind (delete included).
            assert r.valid_to == (min(nxt) if nxt else None)
            assert r.is_current == (not nxt)
        # At most one current row per key; none if the log ends deleted.
        currents = [r for r in got if r.is_current]
        ends_deleted = versions[-1][1]
        assert len(currents) == (0 if ends_deleted or not live else 1)


# -- bm25 -------------------------------------------------------------------

bm25_corpus = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
        min_size=0,
        max_size=8,
    ),
    min_size=1,
    max_size=12,
)


def _bm25_ground_truth(docs, qterms, k1=1.2, b=0.75):
    docs = {i: d for i, d in enumerate(docs) if d}
    n = len(docs)
    if n == 0:
        return {}
    avgdl = sum(len(d) for d in docs.values()) / n
    import math

    scores: dict[int, float] = {}
    for t in dict.fromkeys(qterms):
        df_t = sum(1 for d in docs.values() if t in d)
        if df_t == 0:
            continue
        idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
        for i, d in docs.items():
            tf = d.count(t)
            if tf:
                scores[i] = scores.get(i, 0.0) + (
                    idf * (tf * (k1 + 1.0))
                    / (tf + k1 * (1.0 - b + b * len(d) / avgdl))
                )
    return scores


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=bm25_corpus, qi=st.integers(min_value=0, max_value=4))
def test_bm25_matches_python_ground_truth(spark, docs, qi):
    from ue_big_data_project_spark.operators.retrieval import bm25_topk

    qtext = ["alpha", "beta gamma", "delta eps alpha", "eps", "beta beta"][qi]
    ddf = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string",
    )
    qdf = spark.createDataFrame([(0, qtext)], "query_id int, query_text string")
    got = {r.doc_id: r.bm25 for r in bm25_topk(ddf, qdf, k=1000).collect()}
    want = _bm25_ground_truth(docs, qtext.split(" "))
    assert set(got) == set(want)
    for i, s in want.items():
        # 6-dp partial rounding bounds total drift by terms * 5e-7.
        assert abs(got[i] - s) < 5e-6, i


@settings(max_examples=20, deadline=None)
@given(
    bw=st.integers(min_value=1, max_value=6),
    bh=st.integers(min_value=1, max_value=4),
    seed=st.integers(min_value=0, max_value=10**6),
    restart=st.integers(min_value=0, max_value=7),
)
def test_jpeg_block_constant_roundtrip_exact_random(bw, bh, seed, restart):
    """ANY block-constant raster with even offsets round-trips the lossy
    codec bit-exactly (DC-only blocks, coefficients exact quantizer
    multiples) — with or without restart markers. The property the
    multimodal_jpeg oracle rests on, over random block values."""
    import numpy as np

    from ue_big_data_project_spark.operators import multimodal as MM

    rng = np.random.default_rng(seed)
    v = (128 + 2 * rng.integers(-25, 26, size=(bh, bw))).astype(np.int64)
    px = np.kron(v, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
    payload = MM.encode_jpeg_baseline(px, restart_interval=restart)
    out = MM.decode_jpeg_pixels(payload)
    assert out.shape == px.shape
    assert np.array_equal(out, px)


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(min_value=8, max_value=64),
    h=st.integers(min_value=8, max_value=48),
    seed=st.integers(min_value=0, max_value=10**6),
)
def test_jpeg_gradient_roundtrip_bounded_error(w, h, seed):
    """Smooth (affine, possibly clipped) grayscale rasters survive the
    lossy roundtrip within tight bounds — low-frequency content lands in
    the finely-quantized DCT corner. Empirical worst case over 40 random
    gradients: max err 7, mean 1.0; asserted with ~4× headroom."""
    import numpy as np

    from ue_big_data_project_spark.operators import multimodal as MM

    rng = np.random.default_rng(seed)
    a = float(rng.integers(30, 220))
    b = float(rng.uniform(-2, 2))
    c = float(rng.uniform(-2, 2))
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    px = np.clip(np.round(a + b * xx + c * yy), 0, 255).astype(np.uint8)
    out = MM.decode_jpeg_pixels(MM.encode_jpeg_baseline(px))
    assert out.shape == px.shape
    err = np.abs(out.astype(int) - px.astype(int))
    assert err.max() <= 28 and err.mean() <= 4.0


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=bm25_corpus)
def test_unigram_surprisal_matches_python_on_random_corpora(spark, docs):
    """Property twin of the BM25 ground-truth check: on random corpora
    the tf-aggregated surprisal equals the textbook per-token loop."""
    import math

    from ue_big_data_project_spark.operators.retrieval import (
        unigram_surprisal,
    )

    counts: dict[str, int] = {}
    for d in docs:
        for t in d:
            counts[t] = counts.get(t, 0) + 1
    n_tok, v = sum(counts.values()), len(counts)
    ddf = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.mean_nll)
        for r in unigram_surprisal(ddf, alpha=0.5).collect()
    }
    for i, d in enumerate(docs):
        if not d:
            assert i not in got
            continue
        want = sum(
            -math.log((counts[t] + 0.5) / (n_tok + 0.5 * v)) for t in d
        ) / len(d)
        assert got[i][0] == len(d)
        # 6-dp per-term rounding bounds drift by n_tokens * 5e-7 / n.
        assert abs(got[i][1] - want) < 1e-3, i


# ---------------------------------------------------------------------------
# Graph operators vs Python ground truth (round 7): connected components
# (both algorithms), triangle counts, and pagerank are iterative
# distributed ops whose unit tests pin known fixtures; these pin them to
# brute-force references on random graphs.

graph_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=0, max_value=14),
    ),
    min_size=0,
    max_size=25,
)


def _py_components(n_nodes, edges):
    """Union-find ground truth: node -> min reachable node id."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min = {}
    for v in range(n_nodes):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[find(v)] for v in range(n_nodes)}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=graph_edges)
def test_connected_components_both_algorithms_match_union_find(spark, edges):
    from ue_big_data_project_spark.operators.graph import (
        connected_components,
    )

    n = 15
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    if edges:
        edf = spark.createDataFrame(edges, "src long, dst long")
    else:
        edf = spark.createDataFrame([], "src long, dst long")
    want = _py_components(n, edges)
    for algo in ("label", "star"):
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                nodes, edf, algorithm=algo, max_iters=30
            ).collect()
        }
        assert got == want, algo


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=graph_edges)
def test_triangle_counts_match_brute_force(spark, edges):
    from itertools import combinations

    from ue_big_data_project_spark.operators.graph import triangle_counts

    # Ground truth: per-node triangle membership over the simple
    # undirected graph (dedup + drop self-loops, either direction).
    adj = set()
    for a, b in edges:
        if a != b:
            adj.add((min(a, b), max(a, b)))
    nodes_in_edges = sorted({v for e in adj for v in e})
    want = {}
    for u, v, w in combinations(nodes_in_edges, 3):
        if (
            (u, v) in adj
            and (v, w) in adj
            and (u, w) in adj
        ):
            for x in (u, v, w):
                want[x] = want.get(x, 0) + 1
    if edges:
        edf = spark.createDataFrame(edges, "src long, dst long")
    else:
        edf = spark.createDataFrame([], "src long, dst long")
    got = {
        r["id"]: r["triangles"]
        for r in triangle_counts(edf).collect()
        if r["triangles"] > 0
    }
    spark.catalog.clearCache()  # triangle_counts persists intermediates
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=graph_edges)
def test_pagerank_matches_python_reference(spark, edges):
    from ue_big_data_project_spark.operators.graph import pagerank

    # Mirror the operator's contract exactly: duplicate edges carry
    # duplicate weight (weight defaults to 1 per listed edge), rank
    # flows src -> dst, no dangling redistribution, 12-dp rounding of
    # per-edge contributions and post-teleport ranks per iteration.
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    outw = {}
    for a, b in edges:
        outw[a] = outw.get(a, 0) + 1.0
    vertices = sorted({v for e in edges for v in e})
    n = len(vertices)
    d, iters = 0.85, 3
    pr = {v: 1.0 / n for v in vertices}
    for _ in range(iters):
        contrib = {}
        for a, b in edges:
            c = round(pr[a] * 1.0 / outw[a], 12)
            contrib[b] = contrib.get(b, 0.0) + c
        pr = {
            v: round((1 - d) / n + d * contrib.get(v, 0.0), 12)
            for v in vertices
        }
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["pr"] for r in pagerank(edf, iters=iters).collect()}
    assert set(got) == set(pr)
    for v in pr:
        assert abs(got[v] - pr[v]) < 1e-9, v


_merge_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),               # key
        st.integers(min_value=-50, max_value=50),            # val
    ),
    min_size=0,
    max_size=10,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tgt=_merge_rows, src=_merge_rows, bar=st.integers(20, 45))
def test_merge_into_matches_python_reference(spark, tgt, src, bar):
    """Randomized MERGE inputs against a dict-model reference: dedupe
    keys per side (the operator's contract requires unique source
    keys), then matched-delete / matched-update / source-insert /
    target-passthrough must all agree with the model."""
    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.cdc import merge_into

    tgt = list({k: (k, v) for k, v in tgt}.values())
    src = list({k: (k, v) for k, v in src}.values())
    t_schema, s_schema = "id long, val long", "id long, delta long"
    target = spark.createDataFrame(tgt, t_schema)
    source = spark.createDataFrame(src, s_schema)
    out = merge_into(
        target,
        source,
        ["id"],
        update_set={"val": F.col("t.val") + F.col("s.delta")},
        delete_when=F.col("s.delta") >= bar,
        insert_values={"val": F.col("s.delta") * 2},
    )
    got = sorted((r.id, r.val) for r in out.collect())

    model = {k: v for k, v in tgt}
    for k, d in src:
        if k in model:
            if d >= bar:
                del model[k]
            else:
                model[k] = model[k] + d
        else:
            model[k] = d * 2
    assert got == sorted(model.items())
