"""Observed metrics (batch + per-micro-batch) and expectation splits."""

from __future__ import annotations

from pyspark.sql import functions as F

from ue_big_data_project_spark import observability as OB
from ue_big_data_project_spark.queries.tables import load_tables
from ue_big_data_project_spark.streaming import replay_parquet

SF_DIR = "/root/testdata/sf0.001"


def test_batch_observation_rides_the_action(spark):
    d = load_tables(spark, SF_DIR, ("documents",))["documents"]
    df, obs = OB.observed(
        d,
        {
            "n_rows": F.count(F.lit(1)),
            "null_text": F.count_if(F.col("text").isNull()),
            "avg_len": F.avg(F.length("text")),
        },
    )
    n = df.count()
    got = obs.get
    assert got["n_rows"] == n
    assert got["null_text"] == 0
    assert got["avg_len"] > 0


def test_quality_metrics_defaults_cover_all_columns(spark):
    d = load_tables(spark, SF_DIR, ("region",))["region"]
    df, obs = OB.observed(d, OB.quality_metrics(d))
    df.count()
    got = obs.get
    assert got["n_rows"] == 5
    for c in d.columns:
        assert got[f"null_{c}"] == 0


def test_streaming_metrics_per_micro_batch(spark):
    import os

    sdf = replay_parquet(spark, os.path.join(SF_DIR, "events.parquet"))
    result, batches = OB.drain_with_metrics(
        spark, sdf, {"n_rows": F.count(F.lit(1))}
    )
    total = load_tables(spark, SF_DIR, ("events",))["events"].count()
    assert result.count() == total
    assert batches, "no observed metrics captured"
    assert sum(b["n_rows"] for b in batches) == total


def test_split_by_expectations_dead_letters(spark):
    df = spark.createDataFrame(
        [(1, "ok", 10), (2, None, 5), (3, "ok", -1), (4, None, -2)],
        "id long, text string, n int",
    )
    good, bad = OB.split_by_expectations(
        df,
        {
            "text_present": F.col("text").isNotNull(),
            "n_positive": F.col("n") > 0,
        },
    )
    assert [r["id"] for r in good.orderBy("id").collect()] == [1]
    rows = {r["id"]: sorted(r["_violations"]) for r in bad.collect()}
    assert rows == {
        2: ["text_present"],
        3: ["n_positive"],
        4: ["n_positive", "text_present"],
    }
    # The passing side keeps the input schema untouched.
    assert good.columns == df.columns


def test_split_by_expectations_rejects_prior_violations_column(spark):
    import pytest

    df = spark.createDataFrame([(1, ["x"])], "id long, _violations array<string>")
    with pytest.raises(ValueError, match="_violations"):
        OB.split_by_expectations(df, {"ok": F.lit(True)})


def test_profile_columns_approx_distinct_drops_the_expand(spark):
    """approx_distinct=True must (a) estimate within the HLL++ rsd
    envelope and (b) remove the Expand the multi-column exact distinct
    forces — the scan stops re-emitting every row once per profiled
    column."""
    from ue_big_data_project_spark.quality import profile_columns

    df = spark.range(20000).select(
        (F.col("id") % 977).alias("a"),
        (F.col("id") % 5000).alias("b"),
        F.col("id").cast("string").alias("c"),
    )
    exact = profile_columns(df)
    approx = profile_columns(df, approx_distinct=True)
    e = {r["column"]: r["n_distinct"] for r in exact.collect()}
    a = {r["column"]: r["n_distinct"] for r in approx.collect()}
    assert e == {"a": 977, "b": 5000, "c": 20000}
    for col, true_n in e.items():
        assert abs(a[col] / true_n - 1.0) < 0.10, (col, a[col], true_n)
    p_exact = exact._jdf.queryExecution().executedPlan().toString()
    p_approx = approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in p_exact
    assert "Expand" not in p_approx, p_approx


def test_check_constraints_verdicts_and_single_pass(spark):
    """The suite verdict: observed values exact, bounds honored, a
    NULL observation fails (never waves a drop through), duplicate
    names rejected, and the whole suite is ONE aggregation pass."""
    import pytest

    from ue_big_data_project_spark.quality import (
        Constraint,
        c_completeness,
        c_distinct_ratio,
        c_in_set,
        c_matches,
        c_max,
        c_mean,
        c_min,
        c_row_count,
        check_constraints,
    )

    df = spark.createDataFrame(
        [
            (1, "en", 10, "src1"),
            (2, "en", 20, "src2"),
            (3, "fr", 30, None),
            (3, "zz", 40, "src3"),
        ],
        "id long, lang string, n int, src string",
    )
    out = {
        r.constraint: (r.observed, r.passed)
        for r in check_constraints(
            df,
            [
                c_row_count(lo=1.0, hi=10.0),
                c_distinct_ratio("id", lo=1.0),  # 3/4 -> fail
                c_completeness("src", lo=1.0),  # 3/4 -> fail
                c_in_set("lang", ["en", "fr"], lo=0.5),  # 3/4 -> pass
                c_matches("src", "^src[0-9]$", lo=0.75),  # 3/4 -> pass
                c_min("n", lo=5.0),
                c_max("n", hi=35.0),  # 40 -> fail
                c_mean("n", lo=20.0, hi=30.0),  # 25 -> pass
            ],
        ).collect()
    }
    assert out["row_count"] == (4.0, True)
    assert out["distinct_ratio(id)"] == (0.75, False)
    assert out["completeness(src)"] == (0.75, False)
    assert out["in_set(lang)"] == (0.75, True)
    assert out["matches(src)"] == (0.75, True)
    assert out["min(n)"] == (10.0, True)
    assert out["max(n)"] == (40.0, False)
    assert out["mean(n)"] == (25.0, True)

    # NULL observation (min over an empty frame) fails the constraint.
    empty = df.filter("id < 0")
    ver = {
        r.constraint: (r.observed, r.passed)
        for r in check_constraints(
            empty, [c_min("n", lo=0.0), c_row_count(lo=0.0)]
        ).collect()
    }
    assert ver["min(n)"] == (None, False)
    assert ver["row_count"] == (0.0, True)

    with pytest.raises(ValueError, match="duplicate"):
        check_constraints(df, [c_min("n", 0.0), c_min("n", 1.0)])

    # One pass: a suite WITHOUT exact distincts plans a single
    # aggregation over the scan (2 exchanges: partial->final agg is 1,
    # plus none for the broadcast bounds join).
    from pyspark.sql import functions as F

    plain = check_constraints(
        df, [c_row_count(), c_min("n", 0.0), c_completeness("src", 0.5)]
    )
    plan = plain._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") <= 4  # one partial+final pair
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
