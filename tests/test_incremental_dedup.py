"""Incremental dedup: new-batch screening against a persisted corpus
index (exact fingerprints) and an LSH band index (near-dup), without
rescanning corpus text. The exact path is also oracle-checked via the
registered ``dedup_incremental`` query."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from ue_big_data_project_spark.operators import dedup as DD


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_update_dedup_index_screens_across_batches(spark):
    with tempfile.TemporaryDirectory() as d:
        idx = os.path.join(d, "fp_index")
        batch1 = _docs(
            spark,
            [(1, "alpha beta gamma"), (2, "delta epsilon zeta"),
             (3, "alpha beta gamma")],  # in-batch dup of 1
        )
        s1 = DD.update_dedup_index(spark, batch1, idx).collect()
        # Two distinct contents survive; the in-batch dup collapses.
        assert sorted(r["keep_id"] for r in s1) == [1, 2]
        assert {r["n_docs"] for r in s1} == {1, 2}

        batch2 = _docs(
            spark,
            [(10, "alpha beta gamma"),      # already indexed -> dropped
             (11, "eta theta iota"),        # new -> survives
             (12, "delta  epsilon   zeta")],  # ws-normalized dup -> dropped
        )
        s2 = DD.update_dedup_index(spark, batch2, idx).collect()
        assert [r["keep_id"] for r in s2] == [11]

        # At-least-once replay of a committed batch is a no-op.
        assert DD.update_dedup_index(spark, batch2, idx).count() == 0


def test_incremental_minhash_filter_drops_near_dups(spark):
    corpus = _docs(
        spark,
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "pack my box with five dozen liquor jugs right now")],
    )
    index = DD.minhash_band_rows(corpus, "doc_id", "text")
    batch = _docs(
        spark,
        [(10, "the quick brown fox jumps over the lazy dog today"),
         (11, "completely different words about distributed query engines")],
    )
    kept = DD.incremental_minhash_filter(batch, index, "doc_id", "text")
    assert [
        r["doc_id"]
        for r in kept.select("doc_id").distinct().collect()
    ] == [11]
    # Survivor rows are index-shaped: appending them IS the index update.
    assert kept.columns == index.columns


def test_incremental_filters_accept_empty_index(spark):
    batch = _docs(spark, [(1, "one two three"), (2, "four five six")])
    assert DD.incremental_exact_dedup(batch, None, "doc_id", "text").count() == 2
    assert (
        DD.incremental_minhash_filter(batch, None, "doc_id", "text")
        .select("doc_id").distinct().count()
    ) == 2


def test_incremental_minhash_filter_collapses_in_batch_dups(spark):
    batch = _docs(
        spark,
        [(10, "the quick brown fox jumps over the lazy dog today"),
         (11, "the quick brown fox jumps over the lazy dog today"),
         (12, "completely different words about distributed query engines")],
    )
    kept = DD.incremental_minhash_filter(batch, None, "doc_id", "text")
    # 11 shares every band with lower-id 10 -> only 10 and 12 survive.
    assert sorted(
        r["doc_id"] for r in kept.select("doc_id").distinct().collect()
    ) == [10, 12]


def test_minhash_band_rows_rejects_ragged_bands(spark):
    import pytest

    batch = _docs(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="divide evenly"):
        DD.minhash_band_rows(batch, "doc_id", "text", num_hashes=10, bands=4)


def test_dedup_ingest_stream_two_micro_batches(spark):
    import time

    from ue_big_data_project_spark.streaming import (
        file_stream,
        run_until_drained,
    )
    from ue_big_data_project_spark.streaming.ingest import dedup_ingest_stream

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        schema = "doc_id long, text string"
        b1 = _docs(spark, [(1, "alpha beta"), (2, "gamma delta")])
        b2 = _docs(
            spark,
            [(10, "alpha beta"),        # cross-batch dup
             (11, "epsilon zeta"),      # new
             (12, "epsilon zeta")],     # in-batch dup of 11
        )
        b1.coalesce(1).write.parquet(os.path.join(src, "f1"))
        time.sleep(1.1)  # distinct mtimes -> deterministic batch order
        b2.coalesce(1).write.parquet(os.path.join(src, "f2"))

        sdf = file_stream(
            spark, os.path.join(src, "*"), b1.schema, fmt="parquet",
            max_files_per_trigger=1,
        )
        q = dedup_ingest_stream(
            sdf,
            index_path=os.path.join(d, "index"),
            corpus_dir=os.path.join(d, "corpus"),
            ledger_dir=os.path.join(d, "ledger"),
        )
        run_until_drained(q)

        corpus = spark.read.parquet(os.path.join(d, "corpus"))
        texts = sorted(r["text"] for r in corpus.collect())
        # One row per distinct content across ALL batches, text intact.
        assert texts == ["alpha beta", "epsilon zeta", "gamma delta"]
        index = spark.read.parquet(os.path.join(d, "index"))
        assert index.distinct().count() == index.count() == 3


@pytest.mark.parametrize(
    "failpoint", ["corpus_write", "band_index_append", "fingerprint_append"]
)
def test_dedup_ingest_stream_crash_replay_at_every_write(spark, failpoint):
    """Crash injection at EACH write boundary of the ingest batch, then
    replay. The dangerous window is after the band-index append: with an
    append-mode index the replay would screen the batch against its OWN
    just-appended band rows (self-collision), drop every shingleable doc
    as a "near-dup", and overwrite the corpus partition with only the
    unshingleable ones — silent data loss. The partitioned per-batch
    index layout + own-batch exclusion must make every replay
    byte-identical instead."""
    from ue_big_data_project_spark.streaming import (
        file_stream,
        run_until_drained,
    )
    from ue_big_data_project_spark.streaming.ingest import dedup_ingest_stream

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        b1 = _docs(
            spark,
            [(1, "the quick brown fox jumps over the lazy dog today"),
             (2, "pack my box with five dozen liquor jugs right now"),
             (3, "tiny doc")],  # unshingleable: no band rows, must survive
        )
        b1.coalesce(1).write.parquet(os.path.join(src, "f1"))

        def run_stream(fp):
            sdf = file_stream(
                spark, os.path.join(src, "*"), b1.schema, fmt="parquet",
                max_files_per_trigger=1,
            )
            q = dedup_ingest_stream(
                sdf,
                index_path=os.path.join(d, "index"),
                corpus_dir=os.path.join(d, "corpus"),
                ledger_dir=os.path.join(d, "ledger"),
                failpoint=fp,
            )
            run_until_drained(q)

        with pytest.raises(Exception, match="injected crash"):
            run_stream(failpoint)
        run_stream(None)  # the at-least-once replay

        corpus = spark.read.parquet(os.path.join(d, "corpus"))
        assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 2, 3]
        bands = spark.read.parquet(os.path.join(d, "index_bands"))
        assert sorted(
            r["doc_id"] for r in bands.select("doc_id").distinct().collect()
        ) == [1, 2]
        assert bands.count() == bands.drop("batch_id").distinct().count()
        index = spark.read.parquet(os.path.join(d, "index"))
        assert index.select("fingerprint").distinct().count() == 3
        assert index.count() == 3  # partition overwrite left no dupes


def test_dedup_ingest_stream_near_dup_across_batches_replay_safe(spark):
    """Default-path (near_dup=True) ingestion: batch 2 drops a NEAR
    (not exact) duplicate of a batch-1 document via the persisted band
    index, unshingleable short docs pass the near-dup tier, and an
    at-least-once replay of the whole stream (fresh checkpoint, same
    ledger/corpus/index dirs) changes nothing."""
    import time

    from ue_big_data_project_spark.streaming import (
        file_stream,
        run_until_drained,
    )
    from ue_big_data_project_spark.streaming.ingest import dedup_ingest_stream

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        b1 = _docs(
            spark,
            [(1, "the quick brown fox jumps over the lazy dog today"),
             (2, "pack my box with five dozen liquor jugs right now")],
        )
        b2 = _docs(
            spark,
            [(10, "a quick brown fox jumps over the lazy dog today"),
             # ^ near-dup of 1: differs in one word, shares minhash bands
             (11, "completely different words about distributed query engines"),
             (12, "tiny doc")],  # < 3 words: no shingles -> must survive
        )
        b1.coalesce(1).write.parquet(os.path.join(src, "f1"))
        time.sleep(1.1)
        b2.coalesce(1).write.parquet(os.path.join(src, "f2"))

        def run_stream():
            sdf = file_stream(
                spark, os.path.join(src, "*"), b1.schema, fmt="parquet",
                max_files_per_trigger=1,
            )
            q = dedup_ingest_stream(
                sdf,
                index_path=os.path.join(d, "index"),
                corpus_dir=os.path.join(d, "corpus"),
                ledger_dir=os.path.join(d, "ledger"),
            )
            run_until_drained(q)

        run_stream()
        corpus = spark.read.parquet(os.path.join(d, "corpus"))
        kept_ids = sorted(r["doc_id"] for r in corpus.collect())
        assert kept_ids == [1, 2, 11, 12], kept_ids  # 10 near-dup-dropped
        bands = spark.read.parquet(os.path.join(d, "index_bands"))
        # Band rows exist only for the shingleable survivors.
        assert sorted(
            r["doc_id"] for r in bands.select("doc_id").distinct().collect()
        ) == [1, 2, 11]

        # At-least-once replay: a fresh run over the same source files
        # with the same ledger skips both committed batches outright.
        run_stream()
        corpus2 = spark.read.parquet(os.path.join(d, "corpus"))
        assert sorted(r["doc_id"] for r in corpus2.collect()) == kept_ids
        bands2 = spark.read.parquet(os.path.join(d, "index_bands"))
        assert bands2.count() == bands.count()
        index = spark.read.parquet(os.path.join(d, "index"))
        assert index.count() == index.distinct().count()


def test_incremental_exact_dedup_bloom_prefilter_equivalence(spark):
    """The bloom-prefiltered screen (negatives bypass the anti join) is
    row-identical to the plain screen whenever the filter covers the
    index — the superset property the streaming ingest maintains."""
    from ue_big_data_project_spark.operators.bloom import build_key_bloom
    from ue_big_data_project_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    batch = _docs(
        spark,
        [(10, "seen before"), (11, "brand new"), (12, "brand new"),
         (13, "also seen"), (14, "fresh content")],
    )
    seen = _docs(spark, [(1, "seen before"), (2, "also seen")])
    from ue_big_data_project_spark.operators.dedup import exact_dedup

    index = exact_dedup(seen, "doc_id", "text").select("fingerprint")
    bloom = build_key_bloom(index, "fingerprint", m_bits=1 << 12)

    plain = incremental_exact_dedup(batch, index, "doc_id", "text")
    fast = incremental_exact_dedup(
        batch, index, "doc_id", "text", prefilter=bloom
    )
    assert sorted(map(tuple, plain.collect()), key=lambda t: t[0]) == sorted(
        map(tuple, fast.collect()), key=lambda t: t[0]
    )
    assert sorted(r["keep_id"] for r in fast.collect()) == [11, 14]


def test_dedup_ingest_stream_bloom_sidecar(spark):
    """With the sidecar enabled the ingest result is unchanged, the
    persisted filter covers every indexed fingerprint (superset), and a
    crash injected right after the bloom update replays to the same
    final state — extra bloom bits are harmless, missing index rows are
    re-written."""
    import time

    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.bloom import (
        bloom_might_contain,
        load_bloom,
    )
    from ue_big_data_project_spark.streaming import (
        file_stream,
        run_until_drained,
    )
    from ue_big_data_project_spark.streaming.ingest import dedup_ingest_stream

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        b1 = _docs(spark, [(1, "alpha beta"), (2, "gamma delta")])
        b2 = _docs(
            spark,
            [(10, "alpha beta"),  # cross-batch dup -> bloom-positive
             (11, "epsilon zeta")],  # new -> bloom-negative bypass
        )
        b1.coalesce(1).write.parquet(os.path.join(src, "f1"))
        time.sleep(1.1)
        b2.coalesce(1).write.parquet(os.path.join(src, "f2"))
        bloom_path = os.path.join(d, "index.bloom")

        def run_stream(fp):
            sdf = file_stream(
                spark, os.path.join(src, "*"), b1.schema, fmt="parquet",
                max_files_per_trigger=1,
            )
            q = dedup_ingest_stream(
                sdf,
                index_path=os.path.join(d, "index"),
                corpus_dir=os.path.join(d, "corpus"),
                ledger_dir=os.path.join(d, "ledger"),
                near_dup=False,
                bloom_path=bloom_path,
                bloom_m_bits=1 << 12,
                failpoint=fp,
            )
            run_until_drained(q)

        with pytest.raises(Exception, match="injected crash"):
            run_stream("bloom_update")  # bloom written, nothing else
        run_stream(None)  # replay to completion

        corpus = spark.read.parquet(os.path.join(d, "corpus"))
        assert sorted(r["text"] for r in corpus.collect()) == [
            "alpha beta", "epsilon zeta", "gamma delta",
        ]
        index = spark.read.parquet(os.path.join(d, "index"))
        assert index.select("fingerprint").distinct().count() == 3

        bloom = load_bloom(bloom_path)
        assert bloom is not None and bloom.m_bits == 1 << 12
        missed = index.where(
            ~bloom_might_contain(F.col("fingerprint"), bloom)
        ).count()
        assert missed == 0  # superset invariant survived the crash


def test_dedup_ingest_stream_bloom_resize_reseeds(spark):
    """Restarting the stream with a different bloom_m_bits (the
    documented response to sidecar saturation) must not crash-loop on a
    size-mismatched union: the old filter is discarded, the batch
    screens plain, and the sidecar is reseeded from the index at the
    new size."""
    import time

    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.bloom import (
        bloom_might_contain,
        load_bloom,
    )
    from ue_big_data_project_spark.streaming import (
        file_stream,
        run_until_drained,
    )
    from ue_big_data_project_spark.streaming.ingest import dedup_ingest_stream

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        b1 = _docs(spark, [(1, "alpha beta"), (2, "gamma delta")])
        b1.coalesce(1).write.parquet(os.path.join(src, "f1"))
        bloom_path = os.path.join(d, "index.bloom")

        def run_stream(m_bits):
            sdf = file_stream(
                spark, os.path.join(src, "*"), b1.schema, fmt="parquet",
                max_files_per_trigger=1,
            )
            q = dedup_ingest_stream(
                sdf,
                index_path=os.path.join(d, "index"),
                corpus_dir=os.path.join(d, "corpus"),
                ledger_dir=os.path.join(d, "ledger"),
                near_dup=False,
                bloom_path=bloom_path,
                bloom_m_bits=m_bits,
            )
            run_until_drained(q)

        run_stream(1 << 10)
        assert load_bloom(bloom_path).m_bits == 1 << 10

        # Second increment arrives; operator restarts resized.
        time.sleep(1.1)
        b2 = _docs(spark, [(10, "alpha beta"), (11, "epsilon zeta")])
        b2.coalesce(1).write.parquet(os.path.join(src, "f2"))
        run_stream(1 << 12)

        bloom = load_bloom(bloom_path)
        assert bloom.m_bits == 1 << 12
        corpus = spark.read.parquet(os.path.join(d, "corpus"))
        assert sorted(r["text"] for r in corpus.collect()) == [
            "alpha beta", "epsilon zeta", "gamma delta",
        ]
        index = spark.read.parquet(os.path.join(d, "index"))
        assert index.where(
            ~bloom_might_contain(F.col("fingerprint"), bloom)
        ).count() == 0  # reseeded superset at the new size


# --------------------------------------------------------------------------
# Persisted cluster map + bucket-partial incremental maintenance
# (round-8 verdict task 4).
# --------------------------------------------------------------------------


def test_cluster_map_append_equals_rebuild(spark, tmp_path):
    import random

    from ue_big_data_project_spark.operators.dedup import (
        append_cluster_map,
        read_cluster_map,
        write_cluster_map,
    )
    from ue_big_data_project_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(99)
    n, split = 80, 50
    edges = sorted(
        {tuple(sorted(rng.sample(range(n), 2))) for _ in range(90)}
    )
    base_edges = [e for e in edges if e[0] < split and e[1] < split]
    inc_edges = [e for e in edges if e[0] >= split or e[1] >= split]
    base = connected_components(
        spark.createDataFrame([(i,) for i in range(split)], "doc_id long"),
        spark.createDataFrame(base_edges, "id_a long, id_b long"),
        node_col="doc_id",
        src_col="id_a",
        dst_col="id_b",
    )
    path = str(tmp_path / "cmap")
    write_cluster_map(base, path, n_buckets=8)
    append_cluster_map(
        spark,
        path,
        spark.createDataFrame([(i,) for i in range(split, n)], "doc_id long"),
        spark.createDataFrame(inc_edges, "id_a long, id_b long"),
    )
    got = sorted(
        (r.doc_id, r.component)
        for r in read_cluster_map(spark, path).collect()
    )
    want = sorted(
        (r.doc_id, r.component)
        for r in connected_components(
            spark.createDataFrame([(i,) for i in range(n)], "doc_id long"),
            spark.createDataFrame(edges, "id_a long, id_b long"),
            node_col="doc_id",
            src_col="id_a",
            dst_col="id_b",
        ).collect()
    )
    assert got == want


def test_cluster_map_append_rewrites_only_touched_buckets(spark, tmp_path):
    """The scale property: an increment touching one component must not
    open or rewrite the other components' bucket dirs (file mtimes and
    names identical before/after)."""
    import os

    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.dedup import (
        append_cluster_map,
        write_cluster_map,
    )

    n_buckets = 8
    # Components 0..63, two members each — every bucket holds some.
    base = spark.createDataFrame(
        [(c * 1000 + m, c) for c in range(64) for m in (0, 1)],
        "doc_id long, component long",
    )
    path = str(tmp_path / "cmap")
    write_cluster_map(base, path, n_buckets=n_buckets)

    def snapshot():
        out = {}
        for d in os.listdir(path):
            if not d.startswith("_cbucket="):
                continue
            for f in os.listdir(os.path.join(path, d)):
                if f.endswith(".parquet"):
                    p = os.path.join(path, d, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = snapshot()
    # One new doc joins component 7 (no relabel: 7 < new id).
    changed = append_cluster_map(
        spark,
        path,
        spark.createDataFrame([(999_999,)], "doc_id long"),
        spark.createDataFrame([(999_999, 7000)], "id_a long, id_b long"),
    )
    assert changed.count() == 0  # no existing component relabeled
    after = snapshot()
    tb = int(
        spark.range(1).select(
            F.pmod(F.xxhash64(F.lit("7")), F.lit(n_buckets)).cast("int")
        ).collect()[0][0]
    )
    touched_dir = os.path.join(path, f"_cbucket={tb}")
    untouched_before = {
        p: t for p, t in before.items() if not p.startswith(touched_dir)
    }
    untouched_after = {
        p: t for p, t in after.items() if not p.startswith(touched_dir)
    }
    assert untouched_before == untouched_after
    assert any(p.startswith(touched_dir) for p in after)
    rows = {
        r.doc_id: r.component
        for r in spark.read.parquet(path).drop("_cbucket").collect()
    }
    assert rows[999_999] == 7 and rows[7000] == 7 and len(rows) == 129


def test_cluster_map_drained_bucket_is_cleared(spark, tmp_path):
    """If a relabel drains a bucket of its only component, dynamic
    partition overwrite alone would leave the stale dir — the append
    must clear it or the old labels resurface on read."""
    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.dedup import (
        append_cluster_map,
        read_cluster_map,
        write_cluster_map,
    )

    n_buckets = 4
    # Find two component ids landing in DIFFERENT buckets.
    probe = spark.range(1, 200).select(
        F.col("id"),
        F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(n_buckets))
        .cast("int")
        .alias("b"),
    ).collect()
    by_bucket: dict[int, list[int]] = {}
    for r in probe:
        by_bucket.setdefault(r.b, []).append(r.id)
    buckets = sorted(by_bucket)
    hi = by_bucket[buckets[0]][-1]  # component to drain (larger id)
    lo = next(i for i in by_bucket[buckets[1]] if i < hi)
    base = spark.createDataFrame(
        [(hi, hi), (hi + 10_000, hi), (lo, lo)],
        "doc_id long, component long",
    )
    path = str(tmp_path / "cmap")
    write_cluster_map(base, path, n_buckets=n_buckets)
    # New doc bridges hi's cluster into lo's: hi relabels to lo, its
    # bucket drains (lo hashes to a different bucket).
    changed = append_cluster_map(
        spark,
        path,
        spark.createDataFrame([(hi + 20_000,)], "doc_id long"),
        spark.createDataFrame(
            [(hi + 20_000, hi), (hi + 20_000, lo)], "id_a long, id_b long"
        ),
    )
    assert {(r._old, r._new) for r in changed.collect()} == {(hi, lo)}
    rows = {
        r.doc_id: r.component
        for r in read_cluster_map(spark, path).collect()
    }
    assert rows == {
        hi: lo,
        hi + 10_000: lo,
        lo: lo,
        hi + 20_000: lo,
    }


def test_cluster_map_append_replay_after_crash_before_bucket_clear(
    spark, tmp_path
):
    """Crash window (round-9 advice, medium): the append commits its
    dynamic-partition overwrite, then the driver dies BEFORE the
    explicit clear of drained buckets — a relabeled node's row now
    exists in both its old and its new bucket. The ledger never
    committed, so the batch replays: both copies must relabel to the
    same final component and collapse to ONE row (the node-level dedupe
    before the overwrite), converging to the rebuild fixpoint instead
    of persisting duplicates."""
    import shutil

    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.dedup import (
        append_cluster_map,
        read_cluster_map,
        write_cluster_map,
    )

    n_buckets = 4
    probe = spark.range(1, 200).select(
        F.col("id"),
        F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(n_buckets))
        .cast("int")
        .alias("b"),
    ).collect()
    by_bucket: dict[int, list[int]] = {}
    for r in probe:
        by_bucket.setdefault(r.b, []).append(r.id)
    buckets = sorted(by_bucket)
    hi = by_bucket[buckets[0]][-1]
    lo = next(i for i in by_bucket[buckets[1]] if i < hi)
    b_hi = buckets[0]
    base = spark.createDataFrame(
        [(hi, hi), (hi + 10_000, hi), (lo, lo)],
        "doc_id long, component long",
    )
    path = str(tmp_path / "cmap")
    write_cluster_map(base, path, n_buckets=n_buckets)
    # Snapshot hi's bucket dir (the one the append will drain).
    stale_src = f"{path}/_cbucket={b_hi}"
    snap = str(tmp_path / "stale_bucket_snapshot")
    shutil.copytree(stale_src, snap)
    new_nodes = spark.createDataFrame([(hi + 20_000,)], "doc_id long")
    new_edges = spark.createDataFrame(
        [(hi + 20_000, hi), (hi + 20_000, lo)], "id_a long, id_b long"
    )
    append_cluster_map(spark, path, new_nodes, new_edges)
    # Simulate the crash: the overwrite committed (done above) but the
    # drained-bucket clear "never ran" — restore the stale dir.
    assert not __import__("os").path.exists(stale_src)
    shutil.copytree(snap, stale_src)
    stale = {
        r.doc_id: r.component
        for r in spark.read.parquet(stale_src).collect()
    }
    assert stale == {hi: hi, hi + 10_000: hi}  # corruption is in place
    # Replay the SAME batch (at-least-once redelivery).
    append_cluster_map(spark, path, new_nodes, new_edges)
    rows = read_cluster_map(spark, path).collect()
    assert len(rows) == 4, "duplicate (node, component) rows survived replay"
    assert {(r.doc_id, r.component) for r in rows} == {
        (hi, lo),
        (hi + 10_000, lo),
        (lo, lo),
        (hi + 20_000, lo),
    }


# --------------------------------------------------------------------------
# Persisted one-sided Jaccard probe index (round-9).
# --------------------------------------------------------------------------


def _jaccard_docs(spark):
    rows = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta token{i % 4}")
        for i in range(12)
    ] + [
        (50 + i, f"completely different text body number {i} " * 2)
        for i in range(4)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_probe_equals_full_pairs_restricted(spark, tmp_path):
    """The one-sided probe must return EXACTLY the full
    ngram_jaccard_pairs output restricted to increment-incident pairs —
    the frozen-order prefix filter stays lossless across the split."""
    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.dedup import (
        jaccard_probe_index,
        ngram_jaccard_pairs,
        write_jaccard_index,
    )

    d = _jaccard_docs(spark)
    old = d.filter(F.col("doc_id") % 3 != 0)
    new = d.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "jidx")
    write_jaccard_index(old, path, threshold=0.8, n_buckets=4)
    got = sorted(
        map(tuple, jaccard_probe_index(spark, path, new).collect())
    )
    full = ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.8)
    want = sorted(
        map(
            tuple,
            full.filter(
                (F.col("id_a") % 3 == 0) | (F.col("id_b") % 3 == 0)
            ).collect(),
        )
    )
    assert got == want and len(want) > 0


def test_jaccard_index_append_then_probe_equals_rebuild(spark, tmp_path):
    """Appending an increment under the FROZEN order then probing must
    equal probing a freshly rebuilt index — append never changes
    answers (quantizer-freeze contract), only prefix sizes."""
    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.dedup import (
        append_jaccard_index,
        jaccard_probe_index,
        write_jaccard_index,
    )

    d = _jaccard_docs(spark)
    gen0 = d.filter(F.col("doc_id") < 8)
    gen1 = d.filter((F.col("doc_id") >= 8) & (F.col("doc_id") < 52))
    probe = d.filter(F.col("doc_id") >= 52)
    appended = str(tmp_path / "ja")
    write_jaccard_index(gen0, appended, n_buckets=4)
    append_jaccard_index(spark, appended, gen1)
    rebuilt = str(tmp_path / "jr")
    write_jaccard_index(gen0.unionByName(gen1), rebuilt, n_buckets=4)
    got = sorted(
        map(tuple, jaccard_probe_index(spark, appended, probe).collect())
    )
    want = sorted(
        map(tuple, jaccard_probe_index(spark, rebuilt, probe).collect())
    )
    assert got == want


# --------------------------------------------------------------------------
# Retention (round-9 verdict task 6): the cluster map and Jaccard index
# must be able to SHED expired documents — append-only artifacts grow
# forever otherwise.
# --------------------------------------------------------------------------


def test_rewrite_cluster_map_sheds_expired_docs(spark, tmp_path):
    """Prune keeps exactly the keep-set's rows (storage shed), leaves
    component grouping intact for survivors (labels are opaque — even a
    label naming an expired doc persists), and the pruned map still
    absorbs appends."""
    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.dedup import (
        append_cluster_map,
        read_cluster_map,
        rewrite_cluster_map,
        write_cluster_map,
    )

    # Component 1 = {1, 2, 3} (label 1), component 10 = {10, 11}.
    base = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, component long",
    )
    path = str(tmp_path / "cmap")
    write_cluster_map(base, path, n_buckets=4)
    # Expire doc 1 — the LABEL of its component — and doc 11.
    keep = spark.createDataFrame([(2,), (3,), (10,)], "doc_id long")
    n = rewrite_cluster_map(spark, path, keep)
    assert n == 3
    rows = {
        (r.doc_id, r.component)
        for r in read_cluster_map(spark, path).collect()
    }
    # Survivors keep their grouping; label 1 persists as an opaque id.
    assert rows == {(2, 1), (3, 1), (10, 10)}
    # The pruned map still absorbs appends (contract against the
    # surviving labels).
    append_cluster_map(
        spark,
        path,
        spark.createDataFrame([(20,)], "doc_id long"),
        spark.createDataFrame([(20, 2)], "id_a long, id_b long"),
    )
    rows = {
        (r.doc_id, r.component)
        for r in read_cluster_map(spark, path).collect()
    }
    assert rows == {(2, 1), (3, 1), (10, 10), (20, 1)}


def test_rewrite_jaccard_index_prune_then_probe_equivalence(
    spark, tmp_path
):
    """After pruning the index to a keep-set, probing returns exactly
    the pre-prune pairs whose INDEX endpoint survives (probe-probe
    pairs unchanged); the frozen order must not move (prefix layout
    for survivors is byte-stable, freq table untouched)."""
    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.dedup import (
        jaccard_probe_index,
        rewrite_jaccard_index,
        write_jaccard_index,
    )

    d = _jaccard_docs(spark)
    indexed = d.filter(F.col("doc_id") < 52)
    # Probes that MATCH the identical-text families (token0 partners
    # are docs 0/4/8 — even, surviving; token1 partners are 1/5/9 —
    # odd, expired below), so the prune provably removes pairs.
    probe = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta token0"),
            (101, "alpha beta gamma delta epsilon zeta eta theta token1"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "jidx")
    write_jaccard_index(indexed, path, n_buckets=4)
    before = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_probe_index(spark, path, probe).collect()
    }
    freq_before = sorted(
        map(tuple, spark.read.parquet(path + "_freq").collect())
    )
    # Expire the ODD indexed docs.
    keep = indexed.filter(F.col("doc_id") % 2 == 0).select("doc_id")
    n = rewrite_jaccard_index(spark, path, keep)
    assert n > 0
    after = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_probe_index(spark, path, probe).collect()
    }
    probe_ids = {r.doc_id for r in probe.collect()}
    survivors = {r.doc_id for r in keep.collect()} | probe_ids
    want = {
        (a, b, j)
        for (a, b, j) in before
        if a in survivors and b in survivors
    }
    assert after == want
    assert before - after, "prune did not remove any index-endpoint pair"
    # The frozen order did not move.
    freq_after = sorted(
        map(tuple, spark.read.parquet(path + "_freq").collect())
    )
    assert freq_after == freq_before


def test_jaccard_index_staleness_audit(spark, tmp_path):
    """The staleness audit reads ~1.0 on a fresh index and grows after
    a drifted append (disjoint vocabulary → unseen shingles rank at the
    front of the frozen order and bloat prefix exposure); a fresh
    rebuild over the union corpus resets it to ~1.0."""
    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.dedup import (
        append_jaccard_index,
        jaccard_index_staleness,
        write_jaccard_index,
    )

    def docs(prefix, start, n):
        # Unique-per-doc words plus a 4-word block common to the era.
        return spark.range(n).select(
            (F.col("id") + start).alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    F.concat(
                        F.lit(f"{prefix}u"),
                        F.col("id").cast("string"),
                        F.lit(f"w{i}"),
                    )
                    for i in range(10)
                ],
                *[F.lit(f"{prefix}c{i}") for i in range(4)],
            ).alias("text"),
        )

    path = str(tmp_path / "jidx")
    write_jaccard_index(docs("a", 0, 40), path, n_buckets=4)
    fresh = jaccard_index_staleness(spark, path)
    assert fresh["staleness_ratio"] == pytest.approx(1.0, abs=0.05)
    append_jaccard_index(spark, path, docs("b", 1000, 40))
    drifted = jaccard_index_staleness(spark, path)
    assert drifted["staleness_ratio"] > fresh["staleness_ratio"]


def test_positional_prune_keeps_a_pair_through_a_hash_collision(spark):
    """The positional bound takes each rank's minimum on its own: a
    collision row with a smaller a-rank but a larger b-rank than the
    true first match must not tighten the bound and drop the pair."""
    schema = "id_a long, id_b long, _ia int, _jb int, _na int, _nb int"

    def kept(matches):
        pairs = spark.createDataFrame(
            [(1, 2, ia, jb, 10, 10) for ia, jb in matches], schema
        )
        return DD._positional_prune(pairs, "id_a", "id_b", 0.5).collect()

    # J >= 0.5 needs |A∩B| >= 0.5/1.5 * 20 = 6.67; the true match at
    # ranks (3, 2) bounds the overlap at 1 + min(7, 8) = 8.
    assert [tuple(r) for r in kept([(3, 2)])] == [(1, 2)]
    assert [tuple(r) for r in kept([(3, 2), (1, 9)])] == [(1, 2)]
