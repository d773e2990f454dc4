"""End-to-end corpus build: quarantine -> quality/dedup -> near-dup
clusters -> split -> pack, with the written layout and the accounting
dict checked against independently-computed stage results."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from ue_big_data_project_spark import pipelines as P
from ue_big_data_project_spark.queries.tables import load_tables

SF_DIR = "/root/testdata/sf0.001"


def test_build_corpus_end_to_end(spark):
    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    # Seed known-bad records so the quarantine path is exercised.
    bad = spark.createDataFrame(
        [(990001, None), (990002, "   ")],
        docs.select("doc_id", "text").schema,
    )
    inp = docs.select("doc_id", "text").unionByName(bad)
    with tempfile.TemporaryDirectory() as d:
        stats = P.build_corpus(spark, inp, d, min_quality=0.75)

        assert stats["n_quarantined"] == 2
        q = spark.read.parquet(os.path.join(d, "quarantine"))
        assert q.count() == 2
        assert "_violations" in q.columns

        out = spark.read.parquet(os.path.join(d, "documents"))
        assert out.count() == stats["n_docs"] > 0
        # The corpus is trainable as written: text rides with metadata.
        assert {"text", "quality", "n_tokens"} <= set(out.columns)
        assert set(r["split"] for r in out.select("split").distinct().collect()) \
            <= {"train", "val", "test"}
        # Split is a partition directory (directory-level pruning).
        assert os.path.isdir(os.path.join(d, "documents", "split=train"))
        # Quarantined ids never reach the corpus.
        assert out.filter(F.col("doc_id") >= 990001).count() == 0
        # Survivors are exact-dedup canonical: fingerprints are unique.
        assert (
            out.groupBy("fingerprint").count().filter("count > 1").count()
            == 0
        )
        assert stats["total_tokens"] == out.agg(
            F.sum("n_tokens")
        ).collect()[0][0]
        assert stats["n_train"] == out.filter("split = 'train'").count()

        packs = spark.read.parquet(os.path.join(d, "packs"))
        # Every train doc is packed, and only train docs.
        assert packs.count() == stats["n_train"]
        assert stats["n_packs"] == packs.select(
            "stream", "pack_id"
        ).distinct().count()


def test_build_corpus_media_stage_prunes_and_persists_index(spark):
    """The optional media stage (round-11 verdict task 5): image
    payloads of the text survivors fingerprint, cluster (banded
    Hamming + CC), and one doc per image cluster survives; the kept
    fingerprints persist as an fp band index future increments probe.
    Checked against the standalone media_dedup_components leg and a
    direct fp_probe_index of a known near-duplicate."""
    import os
    import tempfile

    from ue_big_data_project_spark.operators import multimodal as MM

    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    inp = docs.select("doc_id", "text")
    media = MM.attach_bmp(inp.select("doc_id"))
    with tempfile.TemporaryDirectory() as d:
        base = P.build_corpus(spark, inp, d + "/plain", min_quality=0.75)
        stats = P.build_corpus(
            spark, inp, d + "/media", min_quality=0.75, media=media
        )
        # The media stage prunes ON TOP of the text stages.
        assert stats["n_media_pruned"] > 0
        assert stats["n_docs"] == base["n_docs"] - stats["n_media_pruned"]

        out = spark.read.parquet(os.path.join(d, "media", "documents"))
        kept = {r["doc_id"] for r in out.select("doc_id").collect()}

        # Parity with the standalone leg: among text survivors, the
        # written ids are exactly the image-cluster canonical ids.
        plain = spark.read.parquet(os.path.join(d, "plain", "documents"))
        text_ids = {r["doc_id"] for r in plain.select("doc_id").collect()}
        comps = P.media_dedup_components(
            media.join(
                plain.select("doc_id"), "doc_id", "left_semi"
            )
        ).collect()
        want = {r["doc_id"] for r in comps if r["doc_id"] == r["component"]}
        assert kept == want
        assert kept < text_ids

        # The persisted index answers probes: a pruned doc's
        # fingerprint still finds its kept near-dup mate.
        idx = stats["media_fp_index"]
        assert os.path.isdir(idx)
        pruned_id = sorted(text_ids - kept)[0]
        probe = MM.image_dhash(
            MM.attach_bmp(
                spark.createDataFrame([(pruned_id,)], "doc_id long")
            )
        )
        hits = MM.fp_probe_index(spark, idx, probe).collect()
        mates = {r["id_a"] for r in hits} | {r["id_b"] for r in hits}
        exact = MM.image_dhash(media).filter(
            F.col("doc_id") == pruned_id
        ).collect()[0]
        # near-dup mates (Hamming >= 1) OR an exact-dup keeper (the
        # probe op excludes Hamming 0; check via the hash directly).
        same_hash_keepers = {
            r["doc_id"]
            for r in MM.image_dhash(media)
            .filter(
                (F.col("dhash_hi") == exact["dhash_hi"])
                & (F.col("dhash_lo") == exact["dhash_lo"])
            )
            .collect()
        } & kept
        assert (mates - {pruned_id}) & kept or same_hash_keepers


def test_build_corpus_near_dup_collapses_clusters(spark):
    # Two near-identical docs (one token apart) + one distinct: the
    # cluster keeps the min id only; exact dedup alone would keep both.
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (3, "totally unrelated content about storage engines and joins"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        stats = P.build_corpus(
            spark, docs, d, min_quality=0.0, jaccard_threshold=0.5
        )
        out = spark.read.parquet(os.path.join(d, "documents"))
        assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]
        assert stats["n_docs"] == 2


def test_chunk_documents_boundaries(spark):
    """Chunk boundary contract: short docs yield one chunk, long docs
    chunk with the configured overlap, every token appears in order,
    and boundary tokens appear in exactly two consecutive chunks."""
    from ue_big_data_project_spark.pipelines import chunk_documents

    import pytest as _pt

    words = " ".join(f"w{i}" for i in range(25))
    df = spark.createDataFrame(
        [(1, "short doc"), (2, words)], "doc_id long, text string"
    )
    out = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(
            df, chunk_tokens=10, overlap=2
        ).collect()
    }
    assert out[(1, 0)] == ("short doc", 2)
    assert (1, 1) not in out
    # stride 8: chunks cover [0:10), [8:18), [16:25) -> 3 chunks.
    assert {(i) for d, i in out if d == 2} == {0, 1, 2}
    c0, c1, c2 = (out[(2, i)][0].split() for i in range(3))
    assert c0 == [f"w{i}" for i in range(10)]
    assert c1 == [f"w{i}" for i in range(8, 18)]
    assert c2 == [f"w{i}" for i in range(16, 25)]
    # Overlap: last 2 of chunk k == first 2 of chunk k+1.
    assert c0[-2:] == c1[:2] and c1[-2:] == c2[:2]
    with _pt.raises(ValueError):
        chunk_documents(df, chunk_tokens=10, overlap=10)


# -- weighted_sample --------------------------------------------------------


def test_weighted_sample_heavy_weight_dominates(spark):
    from ue_big_data_project_spark.pipelines import weighted_sample

    rows = [(i, 1) for i in range(50)] + [(99, 10**9)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    top = weighted_sample(df, k=1, weight_col="w").collect()
    # key = ln(u)/w: the 1e9-weight row's key is ~0 while unit-weight
    # keys average -1; the heavy row wins for any u short of u == 1.
    assert top[0].doc_id == 99


def test_weighted_sample_deterministic_and_excludes_nonpositive(spark):
    from ue_big_data_project_spark.pipelines import weighted_sample

    rows = [(i, (i % 5)) for i in range(40)]  # weights 0..4, 0s excluded
    df = spark.createDataFrame(rows, "doc_id long, w long")
    a = [r.doc_id for r in weighted_sample(df, k=8, weight_col="w").collect()]
    b = [r.doc_id for r in weighted_sample(df, k=8, weight_col="w").collect()]
    assert a == b
    assert all(d % 5 != 0 for d in a)


def test_weighted_sample_plans_take_ordered(spark):
    from ue_big_data_project_spark.pipelines import weighted_sample

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_id long, w long"
    )
    plan = (
        weighted_sample(df, k=5, weight_col="w")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan  # never a full global sort
