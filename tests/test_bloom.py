"""Bloom-filter runtime-pruned join: no false negatives ever, a bounded
false-positive rate, exact join equivalence, and real scan-side pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ue_big_data_project_spark.operators.bloom import (
    BloomSpec,
    bloom_might_contain,
    bloom_prune_join,
    build_key_bloom,
)

SF_DIR = "/root/testdata/sf0.001"


def test_no_false_negatives(spark):
    """Every inserted key passes the membership test — the property the
    join's correctness rests on."""
    keys = spark.range(0, 2000).select((F.col("id") * 7 + 3).alias("k"))
    bloom = build_key_bloom(keys, "k", m_bits=1 << 15, count_items=True)
    assert bloom.n_items == 2000
    missed = keys.where(~bloom_might_contain(F.col("k"), bloom)).count()
    assert missed == 0


def test_false_positive_rate_bounded(spark):
    """Disjoint probe keys are admitted only at the designed FP rate
    (~0.8% at 16 bits/key with k=7; assert a loose 5% ceiling)."""
    build = spark.range(0, 2000).select(F.col("id").alias("k"))
    probe = spark.range(100_000, 110_000).select(F.col("id").alias("k"))
    bloom = build_key_bloom(build, "k", m_bits=1 << 15)
    fp = probe.where(bloom_might_contain(F.col("k"), bloom)).count()
    assert fp / 10_000 < 0.05, f"false-positive rate {fp / 10_000:.3f}"


def test_mismatched_key_widths_still_match(spark):
    """xxhash64 is type-sensitive, so hashing raw columns would silently
    drop EVERY match when the dim key is INT and the fact key is BIGINT
    (a plain join casts to a common type). The canonical-string hashing
    makes all integer widths agree."""
    build = spark.range(0, 200).select(F.col("id").cast("int").alias("k"))
    probe = spark.range(0, 200).select(F.col("id").cast("bigint").alias("k"))
    bloom = build_key_bloom(build, "k", m_bits=1 << 13)
    assert probe.where(~bloom_might_contain(F.col("k"), bloom)).count() == 0
    assert bloom_prune_join(probe, build, "k").count() == 200


def test_string_keys_supported(spark):
    """xxhash64 hashes any atomic type; strings round-trip too."""
    build = spark.range(0, 500).select(F.concat(F.lit("doc-"), "id").alias("k"))
    bloom = build_key_bloom(build, "k", m_bits=1 << 13)
    assert build.where(~bloom_might_contain(F.col("k"), bloom)).count() == 0


def test_prune_join_exact_vs_plain_join(spark):
    """bloom_prune_join == plain join, row for row (FPs admitted by the
    filter are removed by the join; no true match is dropped)."""
    from ue_big_data_project_spark.queries.tables import load_tables

    t = load_tables(spark, SF_DIR, ("orders", "lineitem"))
    urgent = (
        t["orders"]
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    li = t["lineitem"].select("l_orderkey", "l_linenumber")
    got = bloom_prune_join(li, urgent, "l_orderkey", m_bits=1 << 14)
    want = li.join(urgent, "l_orderkey")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_prune_actually_filters_probe_side(spark):
    """The filter removes most non-matching probe rows before the join:
    pruned cardinality lands between the true-match count and well under
    the full probe side."""
    from ue_big_data_project_spark.queries.tables import load_tables

    t = load_tables(spark, SF_DIR, ("orders", "lineitem"))
    urgent = (
        t["orders"]
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    li = t["lineitem"].select("l_orderkey")
    bloom = build_key_bloom(urgent, "l_orderkey", m_bits=1 << 16)
    total = li.count()
    matches = li.join(urgent, "l_orderkey", "left_semi").count()
    pruned = li.where(
        bloom_might_contain(F.col("l_orderkey"), bloom)
    ).count()
    assert matches <= pruned < total * 0.5, (total, matches, pruned)


def test_left_semi_and_rejected_modes(spark):
    build = spark.range(0, 100).select(F.col("id").alias("k"))
    probe = spark.range(0, 1000).select(F.col("id").alias("k"))
    semi = bloom_prune_join(probe, build, "k", how="left_semi")
    assert semi.count() == 100
    with pytest.raises(ValueError, match="left_semi"):
        bloom_prune_join(probe, build, "k", how="left")


def test_sizing_validation_and_null_keys(spark):
    build = spark.range(0, 10).select(
        F.when(F.col("id") < 5, F.col("id")).alias("k")
    )
    with pytest.raises(ValueError, match="power of two"):
        build_key_bloom(build, "k", m_bits=1000)
    bloom = build_key_bloom(build, "k", m_bits=1 << 10, count_items=True)
    assert bloom.n_items == 5  # nulls never join, so they are not inserted


def test_probe_stays_native(spark):
    """The membership test compiles to JVM expressions (one filter over
    the scan) — no Python evaluation in the probe path."""
    probe = spark.range(0, 10).select(F.col("id").alias("k"))
    bloom = BloomSpec(words=[-1] * 16, m_bits=1 << 10, k=3, n_items=1)
    plan = probe.where(
        bloom_might_contain(F.col("k"), bloom)
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "xxhash64" in plan.lower()
