"""Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003)
and temperature-flattened domain mixing.

The winnowing tests pin the two paper invariants directly:

- **Guarantee**: documents sharing a token run of ≥ w + k − 1 tokens
  share at least one selected hash (the detection floor MOSS relies on).
- **Coverage/density**: every full window contains a selected position
  (selection is a hitting set of the windows), and consecutive selected
  positions are ≤ w apart.

plus the deterministic tie rule (rightmost min) and the short-document
degenerate cases the oracle replays.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from ue_big_data_project_spark.functions import text as TX
from ue_big_data_project_spark.operators.dedup import winnow_pairs
from ue_big_data_project_spark.pipelines import temperature_mix

K, W = 4, 5


def _py_hash32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _py_winnow(text: str, k: int = K, w: int = W) -> set[tuple[int, int]]:
    """Reference implementation: (hash, 1-based pos) selected set."""
    toks = " ".join(text.lower().split()).split(" ")
    grams = [
        " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
    ]
    hs = [_py_hash32(g) for g in grams]
    n = len(hs)
    if n == 0:
        return set()
    out = set()
    for s in range(max(1, n - w + 1)):
        win = hs[s : s + w]
        mh = min(win)
        # rightmost position attaining the min
        off = max(j for j, h in enumerate(win) if h == mh)
        out.add((mh, s + off + 1))
    return out


def _spark_winnow(spark, texts: list[str]):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = (
        df.select(
            "doc_id",
            TX.winnow_select(TX.gram_hashes("text", k=K), w=W).alias("fps"),
        )
        .collect()
    )
    return {
        r["doc_id"]: {(f["h"], f["p"]) for f in r["fps"]} for r in rows
    }


def test_winnow_matches_reference_implementation(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "a b c d e f g h i j k l m n o p q r s t u v w x y z",
        "one two three four",          # exactly k tokens → 1 gram
        "one two three four five six", # 3 grams < w → single window
        "short text here",             # < k tokens → no grams
        "dup dup dup dup dup dup dup dup",  # all-equal hashes → tie rule
    ]
    got = _spark_winnow(spark, texts)
    for i, t in enumerate(texts):
        assert got[i] == _py_winnow(t), f"doc {i}: {t!r}"


def test_winnow_guarantee_shared_run_shares_a_hash(spark):
    # Two documents share an 8-token run (w + k - 1) at different
    # offsets inside otherwise-disjoint text.
    run = "alpha beta gamma delta epsilon zeta eta theta"
    a = "left filler words here " + run + " trailing bits"
    b = run + " completely different ending material now"
    got = _spark_winnow(spark, [a, b])
    assert {h for h, _ in got[0]} & {h for h, _ in got[1]}, (
        "winnowing guarantee violated: shared >= w+k-1 run, no shared hash"
    )


def test_winnow_coverage_every_window_hit(spark):
    text = " ".join(f"tok{i % 37}x{i % 11}" for i in range(200))
    got = _spark_winnow(spark, [text])[0]
    n_grams = 200 - K + 1
    pos = sorted(p for _, p in got)
    # every full window [s, s+w-1] contains a selected position
    for s in range(1, n_grams - W + 2):
        assert any(s <= p <= s + W - 1 for p in pos), f"window {s} uncovered"
    # density: ~2/(w+1) of grams, never more than one per window start
    assert len(pos) <= n_grams


def test_winnow_query_digest_pins_selection(spark, sf_dir):
    from ue_big_data_project_spark.queries import all_queries

    out = all_queries()["text_winnow"].fn(spark, sf_dir).toPandas()
    assert (out["n_fp"] > 0).all()  # every fixture doc has >= 4 tokens
    assert (out["n_fp"] <= out["n_grams"].clip(lower=1)).all()
    assert (out["fp_digest"] >= 0).all()
    assert (out["fp_digest"] < TX.ROLL_MOD).all()


def test_winnow_pairs_planted_near_dup(spark):
    base = " ".join(f"w{i}a{i % 7}" for i in range(60))
    near = base + " tail edit"
    other = " ".join(f"z{i}q{i % 5}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    got = winnow_pairs(df, "doc_id", "text", k=K, w=W, min_shared=2)
    rows = {(r["id_a"], r["id_b"]) for r in got.collect()}
    spark.catalog.clearCache()
    assert (1, 2) in rows
    assert all(3 not in pair for pair in rows)


def test_winnow_pairs_stop_fingerprint_cap(spark):
    # A hash shared by MORE than max_df docs is boilerplate: with the
    # cap at 2, three docs sharing the same text produce no pairs.
    df = spark.createDataFrame(
        [(i, "the same boilerplate line repeated here verbatim") for i in range(3)],
        "doc_id long, text string",
    )
    got = winnow_pairs(df, "doc_id", "text", k=K, w=W, min_shared=1, max_df=2)
    n = got.count()
    spark.catalog.clearCache()
    assert n == 0


def test_winnow_index_append_equals_rebuild(spark, sf_dir, tmp_path):
    """Appending an increment to the persisted winnow index must be
    row-for-row identical to rebuilding the index from scratch on the
    union — the df DELTA rows aggregate on read, so there is no frozen
    state to drift."""
    from ue_big_data_project_spark.operators.dedup import (
        append_winnow_index,
        winnow_probe_index,
        write_winnow_index,
    )
    from ue_big_data_project_spark.queries.tables import load_tables

    from pyspark.sql import functions as F

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    part_a = d.filter(F.col("doc_id") % 4 == 0)
    part_b = d.filter(F.col("doc_id") % 4 == 2)
    probe = d.filter(F.col("doc_id") % 4 == 1)

    inc = str(tmp_path / "widx_inc")
    write_winnow_index(part_a, inc)
    append_winnow_index(spark, inc, part_b)
    got = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnow_probe_index(spark, inc, probe).collect()
    }

    full = str(tmp_path / "widx_full")
    write_winnow_index(part_a.unionByName(part_b), full)
    want = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnow_probe_index(spark, full, probe).collect()
    }
    spark.catalog.clearCache()
    assert got == want
    assert want  # non-vacuous on the fixture corpus


def test_winnow_index_rewrite_prunes_and_compacts(spark, sf_dir, tmp_path):
    """rewrite_winnow_index == a fresh index on the kept docs: the
    post-prune probe matches a from-scratch build row-for-row, and the
    freq table is compacted back to one row per hash (the df deltas an
    append history accumulates are folded in)."""
    from ue_big_data_project_spark.operators.dedup import (
        append_winnow_index,
        rewrite_winnow_index,
        winnow_probe_index,
        write_winnow_index,
    )
    from ue_big_data_project_spark.queries.tables import load_tables

    from pyspark.sql import functions as F

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    part_a = d.filter(F.col("doc_id") % 4 == 0)
    part_b = d.filter(F.col("doc_id") % 4 == 2)
    probe = d.filter(F.col("doc_id") % 4 == 1)
    kept = (
        part_a.unionByName(part_b)
        .filter(F.col("doc_id") % 16 != 0)
        .select("doc_id")
    )

    idx = str(tmp_path / "widx_prune")
    write_winnow_index(part_a, idx)
    append_winnow_index(spark, idx, part_b)  # leaves df DELTA rows
    n = rewrite_winnow_index(spark, idx, kept)
    assert n > 0
    got = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnow_probe_index(spark, idx, probe).collect()
    }

    fresh = str(tmp_path / "widx_fresh")
    write_winnow_index(
        part_a.unionByName(part_b).join(kept, "doc_id", "left_semi"),
        fresh,
    )
    want = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnow_probe_index(spark, fresh, probe).collect()
    }
    assert got == want
    # compaction: one df row per hash after the rewrite
    freq = spark.read.parquet(idx + "_freq")
    assert freq.count() == freq.select("h").distinct().count()
    spark.catalog.clearCache()


def test_temperature_mix_rates(spark):
    rows = [(i, "en") for i in range(400)]
    rows += [(1000 + i, "fr") for i in range(100)]
    rows += [(2000 + i, "zh") for i in range(25)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = {
        r["lang"]: r for r in temperature_mix(df, "lang").collect()
    }
    # the largest domain defines the budget: kept in full
    assert out["en"]["n_kept"] == out["en"]["n_total"] == 400
    assert out["en"]["target_permille"] == 1000
    # smaller domains keep ~sqrt(share) relative to the max: fr 1/4 of
    # en -> rate 0.5, zh 1/16 -> rate 0.25 (exact permille thresholds)
    assert out["fr"]["target_permille"] == 500
    assert out["zh"]["target_permille"] == 250
    # realized rates are the md5 draw against an exact threshold: within
    # binomial noise of the target (these fixtures give 3-sigma ~ 0.15)
    assert abs(out["fr"]["n_kept"] / 100 - 0.5) < 0.2
    assert abs(out["zh"]["n_kept"] / 25 - 0.25) < 0.3


def _stage_winnow_batches(spark, docs, root, n_batches=3):
    """Write `docs` as n_batches single-file parquet batches with
    strictly increasing mtimes (the maxFilesPerTrigger=1 replay
    staging used by the streaming registry entries)."""
    import os
    import time

    stage = os.path.join(root, "stage")
    os.makedirs(stage)
    now = time.time()
    for i in range(n_batches):
        bdir = os.path.join(root, f"b{i}")
        (
            docs.filter(F.col("doc_id") % n_batches == i)
            .select("doc_id", "text")
            .coalesce(1)
            .write.parquet(bdir)
        )
        part = [f for f in os.listdir(bdir) if f.endswith(".parquet")][0]
        dst = os.path.join(stage, f"b{i}.parquet")
        os.symlink(os.path.join(bdir, part), dst)
        os.utime(dst, (now + i, now + i), follow_symlinks=False)
    return stage


def _drain_winnow_stream(spark, stage, idx, ledger):
    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.streaming import ingest

    sdf = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = ingest.winnow_ingest_stream(sdf, index_path=idx, ledger_dir=ledger)
    ST.run_until_drained(q)


def test_winnow_stream_equals_one_shot_and_replays_safely(
    spark, sf_dir, tmp_path
):
    """The STREAMED winnow index answers a probe exactly like a
    one-shot write_winnow_index build of the same corpus (df
    aggregates on read, so per-batch delta rows are invisible), and a
    full replay of the drained stream against the same ledger is a
    no-op (idempotence: batch ids re-commit nothing, the index bytes
    answer identically)."""
    import os

    from ue_big_data_project_spark.operators.dedup import (
        winnow_probe_index,
        write_winnow_index,
    )
    from ue_big_data_project_spark.queries.tables import load_tables

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    probe = d.filter(F.col("doc_id") % 4 == 1)

    root = str(tmp_path / "winstream")
    os.makedirs(root)
    stage = _stage_winnow_batches(spark, corpus, root)
    idx = os.path.join(root, "widx")
    ledger = os.path.join(root, "_ledger")
    _drain_winnow_stream(spark, stage, idx, ledger)
    got = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnow_probe_index(spark, idx, probe).collect()
    }

    flat = str(tmp_path / "widx_oneshot")
    write_winnow_index(corpus, flat)
    want = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnow_probe_index(spark, flat, probe).collect()
    }
    spark.catalog.clearCache()
    assert got == want
    assert want  # non-vacuous

    # Replay: a fresh query over the same stage + ledger restarts at
    # batch 0; the ledger skips every committed id, so the index is
    # byte-stable and the probe unchanged.
    before = sorted(
        os.path.join(dp, f)
        for dp, _, fs_ in os.walk(idx)
        for f in fs_
        if f.endswith(".parquet")
    )
    _drain_winnow_stream(spark, stage, idx, ledger)
    after = sorted(
        os.path.join(dp, f)
        for dp, _, fs_ in os.walk(idx)
        for f in fs_
        if f.endswith(".parquet")
    )
    assert before == after
    replay = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnow_probe_index(spark, idx, probe).collect()
    }
    spark.catalog.clearCache()
    assert replay == want


def test_winnow_stream_append_guard_and_rewrite_retires_layout(
    spark, sf_dir, tmp_path
):
    """Flat appends onto a stream-ingested layout are rejected
    (conflicting partition schemes would brick reads), and
    rewrite_winnow_index compacts the streamed index into the
    canonical flat layout — after which flat appends work and the
    probe matches a fresh build on the kept docs."""
    import os

    import pytest

    from ue_big_data_project_spark.operators.dedup import (
        append_winnow_index,
        rewrite_winnow_index,
        winnow_probe_index,
        write_winnow_index,
    )
    from ue_big_data_project_spark.queries.tables import load_tables

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    probe = d.filter(F.col("doc_id") % 4 == 1)
    late = d.filter(F.col("doc_id") % 4 == 3)

    root = str(tmp_path / "winstream2")
    os.makedirs(root)
    stage = _stage_winnow_batches(spark, corpus, root)
    idx = os.path.join(root, "widx")
    _drain_winnow_stream(spark, stage, idx, os.path.join(root, "_ledger"))

    with pytest.raises(ValueError, match="stream-ingested"):
        append_winnow_index(spark, idx, late)

    kept = corpus.filter(F.col("doc_id") % 16 != 0).select("doc_id")
    n = rewrite_winnow_index(spark, idx, kept)
    assert n > 0
    assert "batch_id" not in spark.read.parquet(idx).columns
    # Retired to the flat layout: appends work again.
    append_winnow_index(spark, idx, late)
    got = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnow_probe_index(spark, idx, probe).collect()
    }
    fresh = str(tmp_path / "widx_fresh2")
    write_winnow_index(
        corpus.join(kept, "doc_id", "left_semi").unionByName(late), fresh
    )
    want = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnow_probe_index(spark, fresh, probe).collect()
    }
    spark.catalog.clearCache()
    assert got == want
