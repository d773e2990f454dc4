"""Cardinality-sketch contracts: merge == rebuild, partitioning
determinism, estimator accuracy, KMV exactness below k, and the
exact-pruning property of thresholded incremental KMV builds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ue_big_data_project_spark.operators import sketch as SK


def _ids(spark, n, tag, groups=2):
    return spark.range(n).select(
        (F.col("id") % groups).alias("grp"),
        F.concat(F.lit(tag), F.col("id").cast("string")).alias("v"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_hll_merge_equals_rebuild(spark):
    """Merging per-half register sidecars must give EXACTLY the
    whole-corpus registers — the property that makes per-source /
    per-day sketches safe to combine without rescans."""
    df = _ids(spark, 3000, "d")
    whole = SK.hll_registers(df, ["grp"], F.col("v"), p=6)
    even = SK.hll_registers(
        df.filter(F.col("v").substr(-1, 1).isin("0", "2", "4", "6", "8")),
        ["grp"], F.col("v"), p=6,
    )
    odd = SK.hll_registers(
        df.filter(~F.col("v").substr(-1, 1).isin("0", "2", "4", "6", "8")),
        ["grp"], F.col("v"), p=6,
    )
    assert _rows(SK.hll_merge(even, odd, ["grp"])) == _rows(whole)
    # Idempotence: re-merging a sketch with itself changes nothing.
    assert _rows(SK.hll_merge(whole, whole, ["grp"])) == _rows(whole)


def test_hll_partitioning_determinism(spark):
    """Register tables are exact integers — identical for any input
    partitioning (the map-side partial min is associative)."""
    df = _ids(spark, 2000, "x")
    a = SK.hll_registers(df.repartition(1), ["grp"], F.col("v"), p=6)
    b = SK.hll_registers(df.repartition(17), ["grp"], F.col("v"), p=6)
    assert _rows(a) == _rows(b)


def test_hll_estimate_accuracy(spark):
    """Raw harmonic estimate within 4 standard errors (1.04/sqrt(m) ≈
    13% at m=64 → bound 52%) on several disjoint datasets, and the
    MEAN error across them well inside one sigma — catches estimator
    arithmetic bugs without flaking on single-draw variance."""
    errs = []
    for tag in ("a", "b", "c", "d", "e"):
        df = _ids(spark, 2000, tag, groups=1)
        reg = SK.hll_registers(df, ["grp"], F.col("v"), p=6)
        est = SK.hll_estimate(reg, ["grp"], p=6).collect()[0]["est_distinct"]
        rel = abs(est / 2000.0 - 1.0)
        assert rel < 0.52, (tag, est)
        errs.append(est / 2000.0 - 1.0)
    assert abs(sum(errs) / len(errs)) < 0.13, errs


def test_kmv_exact_below_k(spark):
    """A sketch holding fewer than k hashes IS the exact distinct set."""
    df = _ids(spark, 100, "s", groups=10)  # 10 distinct per group
    sk = SK.kmv_sketch(df, ["grp"], F.col("v"), k=32)
    for r in SK.kmv_estimate(sk, ["grp"], k=32).collect():
        assert r["est_distinct"] == 10


def test_kmv_merge_equals_rebuild(spark):
    df = _ids(spark, 4000, "m")
    whole = SK.kmv_sketch(df, ["grp"], F.col("v"), k=32)
    lo = df.filter(F.col("v") < "m2")
    hi = df.filter(F.col("v") >= "m2")
    merged = SK.kmv_merge(
        SK.kmv_sketch(lo, ["grp"], F.col("v"), k=32),
        SK.kmv_sketch(hi, ["grp"], F.col("v"), k=32),
        ["grp"], k=32,
    )
    assert _rows(merged) == _rows(whole)


def test_kmv_threshold_prunes_exactly(spark):
    """Incremental maintenance: filtering the increment to hashes below
    the current sketch's k-th minimum loses NOTHING — the thresholded
    merge equals the full rebuild (a hash ≥ h_k can never enter the
    k-min set). This is what keeps increments increment-bounded."""
    base = _ids(spark, 3000, "base")
    inc = _ids(spark, 3000, "inc")
    k = 32
    sk0 = SK.kmv_sketch(base, ["grp"], F.col("v"), k=k)
    # Per-group k-th minimum of the existing sketch as the threshold.
    thresh = sk0.select(
        "grp", F.element_at("kmin", k).alias("h_k")
    )
    inc_h = inc.join(thresh, "grp")
    pruned = SK.kmv_sketch(
        inc_h, ["grp"], F.col("v"), k=k, threshold=F.col("h_k")
    )
    merged = SK.kmv_merge(sk0, pruned, ["grp"], k=k)
    rebuilt = SK.kmv_sketch(base.unionByName(inc), ["grp"], F.col("v"), k=k)
    assert _rows(merged) == _rows(rebuilt)
    # And the pruning really dropped most of the increment: each pruned
    # group's sketch holds at most k hashes' worth of survivors by
    # construction, far fewer rows than the raw increment.
    kept = inc_h.filter(
        SK.hash48(F.col("v")) < F.col("h_k")
    ).count()
    assert kept < inc.count() / 4, kept


def test_kmv_estimate_in_range(spark):
    """Above k the integer estimator lands within its ~1/sqrt(k)
    relative-error envelope (4 sigma at k=32 is ~71%; use several
    datasets and also bound the mean)."""
    errs = []
    for tag in ("p", "q", "r"):
        df = _ids(spark, 1000, tag, groups=1)
        sk = SK.kmv_sketch(df, ["grp"], F.col("v"), k=32)
        est = SK.kmv_estimate(sk, ["grp"], k=32).collect()[0]["est_distinct"]
        rel = est / 1000.0 - 1.0
        assert abs(rel) < 0.71, (tag, est)
        errs.append(rel)
    assert abs(sum(errs) / len(errs)) < 0.30, errs


def test_cms_never_underestimates(spark):
    """The CMS guarantee: est >= exact for EVERY value, even under a
    deliberately narrow sketch full of collisions."""
    df = _ids(spark, 5000, "c", groups=25)  # 25 values, skewed counts
    vals = df.select(F.col("v"))
    counters = SK.cms_counters(vals, F.col("v"), depth=3, width=8)
    exact = vals.groupBy("v").agg(F.count(F.lit(1)).alias("exact"))
    est = SK.cms_lookup(counters, exact, F.col("v"), depth=3, width=8)
    for r in est.collect():
        assert r["est_count"] >= r["exact"], r


def test_cms_merge_equals_rebuild(spark):
    df = _ids(spark, 4000, "mm", groups=1)
    lo = df.filter(F.col("v") < "mm2")
    hi = df.filter(F.col("v") >= "mm2")
    merged = SK.cms_merge(
        SK.cms_counters(lo, F.col("v"), depth=3, width=32),
        SK.cms_counters(hi, F.col("v"), depth=3, width=32),
    )
    whole = SK.cms_counters(df, F.col("v"), depth=3, width=32)
    assert _rows(merged) == _rows(whole)


def test_cms_unseen_value_reads_zero(spark):
    df = _ids(spark, 1000, "seen", groups=1)
    counters = SK.cms_counters(df, F.col("v"), depth=4, width=1024)
    probe = spark.createDataFrame([("never-seen-token",)], "v string")
    got = SK.cms_lookup(counters, probe, F.col("v"), depth=4, width=1024)
    rows = got.collect()
    # With width >> distinct values, all 4 of the probe's buckets are
    # almost surely untouched; at minimum the estimate is bounded by
    # the heaviest counter and must exist (left join, coalesce 0).
    assert len(rows) == 1
    assert rows[0]["est_count"] >= 0


def test_cms_partitioning_determinism(spark):
    df = _ids(spark, 3000, "dd", groups=1)
    a = SK.cms_counters(df.repartition(1), F.col("v"), depth=3, width=64)
    b = SK.cms_counters(df.repartition(13), F.col("v"), depth=3, width=64)
    assert _rows(a) == _rows(b)


def test_hll_register_shuffle_is_single_bounded_exchange(spark):
    """The register build's physical plan carries exactly one exchange
    and a map-side partial aggregate before it — the bounded-state
    claim (≤ m integers per group per map task) made in SCALE.md."""
    df = _ids(spark, 2000, "z")
    reg = SK.hll_registers(df, ["grp"], F.col("v"), p=6)
    plan = reg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    # partial_min before the exchange == map-side combine ran.
    assert "partial_min" in plan or "partial" in plan.lower(), plan


def test_kmv_set_estimates_exact_when_partial(spark):
    """Below k the 'estimates' are exact: both sketches hold every
    distinct hash, so union/overlap degrade to true counts."""
    a = _ids(spark, 20, "s", groups=1)       # s0..s19
    b = spark.range(10, 40).select(
        F.lit(0).alias("grp"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("v"),
    )                                         # s10..s39, overlap 10
    sa = SK.kmv_sketch(a, ["grp"], F.col("v"), k=64)
    sb = SK.kmv_sketch(b, ["grp"], F.col("v"), k=64)
    row = SK.kmv_set_estimates(sa, sb, ["grp"], k=64).collect()[0]
    assert row["est_union"] == 40
    assert row["est_overlap"] == 10


def test_kmv_set_estimates_envelope(spark):
    """Above k, union/overlap estimates stay inside a generous
    multi-sigma envelope across several disjoint datasets and the mean
    error is small — catches formula bugs without flaking."""
    u_errs, i_errs = [], []
    for tag in ("m", "n", "o"):
        a = spark.range(0, 3000).select(
            F.concat(F.lit(tag), F.col("id").cast("string")).alias("v")
        )
        b = spark.range(1500, 6000).select(
            F.concat(F.lit(tag), F.col("id").cast("string")).alias("v")
        )
        sa = SK.kmv_sketch(a, [], F.col("v"), k=128)
        sb = SK.kmv_sketch(b, [], F.col("v"), k=128)
        row = SK.kmv_set_estimates(sa, sb, [], k=128).collect()[0]
        u_errs.append(row["est_union"] / 6000.0 - 1.0)
        i_errs.append(row["est_overlap"] / 1500.0 - 1.0)
        assert abs(u_errs[-1]) < 0.40, (tag, row)
        assert abs(i_errs[-1]) < 0.80, (tag, row)  # ratio-of-estimates
    assert abs(sum(u_errs) / 3) < 0.20, u_errs
    assert abs(sum(i_errs) / 3) < 0.40, i_errs


def test_kmv_set_estimates_disjoint_reads_zero_overlap(spark):
    a = _ids(spark, 2000, "left", groups=1)
    b = _ids(spark, 2000, "right", groups=1)
    sa = SK.kmv_sketch(a, ["grp"], F.col("v"), k=64)
    sb = SK.kmv_sketch(b, ["grp"], F.col("v"), k=64)
    row = SK.kmv_set_estimates(sa, sb, ["grp"], k=64).collect()[0]
    # Disjoint hash sets can never put a common member into K.
    assert row["est_overlap"] == 0


def _qvals(spark, n, mult, tag_groups=1):
    return spark.range(1, n + 1).select(
        (F.col("id") % tag_groups).alias("grp"),
        ((F.col("id") * mult) % 999983).alias("v"),
    )


def test_qhist_merge_equals_rebuild(spark):
    df = _qvals(spark, 8000, 37, tag_groups=2)
    lo = df.filter(F.col("v") < 500000)
    hi = df.filter(F.col("v") >= 500000)
    merged = SK.qhist_merge(
        SK.qhist_counters(lo, ["grp"], F.col("v")),
        SK.qhist_counters(hi, ["grp"], F.col("v")),
        ["grp"],
    )
    whole = SK.qhist_counters(df, ["grp"], F.col("v"))
    assert _rows(merged) == _rows(whole)


def test_qhist_partitioning_determinism(spark):
    df = _qvals(spark, 5000, 101)
    a = SK.qhist_counters(df.repartition(1), ["grp"], F.col("v"))
    b = SK.qhist_counters(df.repartition(17), ["grp"], F.col("v"))
    assert _rows(a) == _rows(b)


def test_qhist_quantile_bound_holds(spark):
    """The one-sided HDR guarantee: est <= exact <= est·(1+2^-s)+1 for
    every quantile, on several value distributions."""
    for mult, n in ((37, 20000), (7919, 5000), (1, 3000)):
        df = _qvals(spark, n, mult)
        cnt = SK.qhist_counters(df, ["grp"], F.col("v"))
        est = SK.qhist_quantiles(
            cnt, ["grp"], [("p50", 1, 2), ("p95", 19, 20), ("p99", 99, 100)]
        ).collect()[0]
        vals = sorted(r.v for r in df.select("v").collect())
        for name, num, den in (("p50", 1, 2), ("p95", 19, 20), ("p99", 99, 100)):
            exact = vals[(num * len(vals) + den - 1) // den - 1]
            lo = est[name]
            assert lo <= exact <= lo * 1.125 + 1, (mult, name, lo, exact)


def test_qhist_bin_map_is_monotone_and_invertible(spark):
    """bin(v) must be monotone in v and lower(bin(v)) <= v < next
    bin's lower — checked densely over the small domain and across
    every octave boundary."""
    probes = (
        list(range(0, 300))
        + [2**b + d for b in range(8, 41) for d in (-1, 0, 1, 2**b - 1)]
    )
    df = spark.createDataFrame(
        [(v,) for v in sorted(set(probes)) if 0 <= v < 2**42], "v long"
    )
    got = (
        df.select(
            "v",
            F.expr(SK.qhist_bin_sql("v")).alias("b"),
            F.expr(SK.qhist_lower_sql(SK.qhist_bin_sql("v"))).alias("lo"),
        )
        .orderBy("v")
        .collect()
    )
    prev_b = -1
    for r in got:
        assert r.b >= prev_b, r
        prev_b = r.b
        assert r.lo <= r.v, r
        assert r.v < (r.lo + max(r.lo // 8, 1)) * 1.01 + 8, r


def test_qhist_out_of_domain_raises(spark):
    df = spark.createDataFrame([(1,), (-5,)], "v long")
    with pytest.raises(Exception, match="qhist"):
        SK.qhist_counters(df, [], F.col("v")).collect()
    big = spark.createDataFrame([(1 << 50,)], "v long")
    with pytest.raises(Exception, match="qhist"):
        SK.qhist_counters(big, [], F.col("v")).collect()


def test_qhist_nulls_do_not_count(spark):
    df = spark.createDataFrame([(1,), (None,), (9,)], "v long")
    cnt = SK.qhist_counters(df, [], F.col("v"))
    assert sum(r.cnt for r in cnt.collect()) == 2


def test_qhist_counter_shuffle_is_single_bounded_exchange(spark):
    df = _qvals(spark, 4000, 37)
    cnt = SK.qhist_counters(df, ["grp"], F.col("v"))
    plan = cnt._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_streaming_hll_rollup_multibatch_and_replay(spark, tmp_path):
    """The streaming register sidecar: 3 genuine micro-batches must fold
    into EXACTLY the single-pass estimate, and replaying a batch id (the
    at-least-once case) must leave the sidecar byte-equivalent — merge
    idempotence is the exactly-once mechanism, no ledger needed."""
    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.streaming import ingest

    df = _ids(spark, 3000, "ev")
    stage = str(tmp_path / "stage")
    df.repartition(3).write.parquet(stage)
    sdf = (
        spark.readStream.schema("grp bigint, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    reg_dir = str(tmp_path / "registers")
    q = ingest.hll_ingest_stream(sdf, reg_dir, ["grp"], "v", p=6)
    ST.run_until_drained(q)
    import os

    parts = [p for p in os.listdir(reg_dir) if p.startswith("batch_id=")]
    assert len(parts) == 3, parts  # real multi-batch ingest
    est = ingest.read_hll_rollup(spark, reg_dir, ["grp"], p=6)
    whole = SK.hll_estimate(
        SK.hll_registers(df, ["grp"], F.col("v"), p=6), ["grp"], p=6
    )
    assert _rows(est) == _rows(whole)
    # Replay: recompute batch 0's registers from ALL data (a superset —
    # the worst at-least-once case) into its partition; the folded
    # estimate may only move toward the truth it already equals.
    SK.hll_registers(df, ["grp"], F.col("v"), p=6).write.mode(
        "overwrite"
    ).parquet(os.path.join(reg_dir, "batch_id=0"))
    est2 = ingest.read_hll_rollup(spark, reg_dir, ["grp"], p=6)
    assert _rows(est2) == _rows(whole)


def test_qhist_exact_quantiles_matches_naive(spark):
    """The histogram-pruned exact order statistic must equal the naive
    full-sort order statistic — grouped AND ungrouped, across value
    distributions (the pruning is a pure optimization)."""
    for mult, n, groups in ((37, 20000, 1), (7919, 5000, 3), (1, 3000, 2)):
        df = _qvals(spark, n, mult, tag_groups=groups)
        grp = ["grp"] if groups > 1 else []
        qs = [("p50", 1, 2), ("p95", 19, 20)]
        got = SK.qhist_exact_quantiles(df, grp, F.col("v"), qs)
        rows = {
            (tuple(r[g] for g in grp)): r for r in got.collect()
        }
        data = {}
        for r in df.collect():
            data.setdefault(tuple(r[g] for g in grp), []).append(r.v)
        for key, vals in data.items():
            vals.sort()
            nn = len(vals)
            for name, num, den in qs:
                exact = vals[(num * nn + den - 1) // den - 1]
                assert rows[key][f"exact_{name}"] == exact, (key, name)
                est = rows[key][f"est_{name}"]
                assert est <= exact <= est * 1.125 + 1, (key, name)


def test_qhist_lower_py_matches_sql(spark):
    """The driver-side decode used for pass-2 literal bounds must agree
    with the SQL decode on every bin id up to the domain ceiling."""
    ids = list(range(0, 320))
    df = spark.createDataFrame([(i,) for i in ids], "b long")
    got = {
        r.b: r.lo
        for r in df.select(
            "b", F.expr(SK.qhist_lower_sql("b")).alias("lo")
        ).collect()
    }
    for i in ids:
        assert got[i] == SK.qhist_lower_py(i), i


def test_streaming_qhist_rollup_and_ledger(spark, tmp_path):
    """Streaming quantile counters: multi-batch fold == single pass,
    and — counter ADDITION not being idempotent — the ledger must make
    a replayed foreachBatch invocation a no-op (contrast with the
    ledger-free HLL stream above)."""
    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.streaming import ingest

    df = _qvals(spark, 6000, 37, tag_groups=2)
    stage = str(tmp_path / "stage")
    df.repartition(3).write.parquet(stage)
    sdf = (
        spark.readStream.schema("grp bigint, v bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    cnt_dir = str(tmp_path / "counters")
    led_dir = str(tmp_path / "ledger")
    q = ingest.qhist_ingest_stream(sdf, cnt_dir, led_dir, ["grp"], "v")
    ST.run_until_drained(q)
    rolled = ingest.read_qhist_rollup(spark, cnt_dir, ["grp"])
    whole = SK.qhist_counters(df, ["grp"], F.col("v"))
    assert _rows(rolled) == _rows(whole)
    # Quantiles off the rolled counters == quantiles off a fresh build.
    est_r = SK.qhist_quantiles(rolled, ["grp"], [("p50", 1, 2)])
    est_w = SK.qhist_quantiles(whole, ["grp"], [("p50", 1, 2)])
    assert _rows(est_r) == _rows(est_w)
    # Replay a committed batch id through a second stream over the same
    # ledger: every batch is already committed, so nothing changes.
    sdf2 = (
        spark.readStream.schema("grp bigint, v bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q2 = ingest.qhist_ingest_stream(sdf2, cnt_dir, led_dir, ["grp"], "v")
    ST.run_until_drained(q2)
    assert _rows(ingest.read_qhist_rollup(spark, cnt_dir, ["grp"])) == _rows(
        whole
    )


def test_kmv_set_difference_estimates(spark):
    """The K-partition estimates: overlap + only-a + only-b classes are
    disjoint samples of the union; exact when sketches are complete."""
    a = _ids(spark, 30, "d", groups=1)  # d0..d29
    b = spark.range(20, 50).select(
        F.lit(0).alias("grp"),
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("v"),
    )  # d20..d49: overlap 10, a-only 20, b-only 20
    sa = SK.kmv_sketch(a, ["grp"], F.col("v"), k=64)
    sb = SK.kmv_sketch(b, ["grp"], F.col("v"), k=64)
    row = SK.kmv_set_estimates(sa, sb, ["grp"], k=64).collect()[0]
    assert row["est_union"] == 50
    assert row["est_overlap"] == 10
    assert row["est_only_a"] == 20
    assert row["est_only_b"] == 20


def test_qhist_weighted_quantiles(spark):
    """Weighted counters: the p-quantile cuts token MASS, not document
    count — pinned against a Python weighted-CDF reference."""
    rows = [(v, w) for v, w in ((10, 1), (100, 1), (1000, 98))]
    df = spark.createDataFrame(rows, "v long, w long")
    from tests.test_sketch_properties import _bin_py

    cnt = SK.qhist_counters(df, [], F.col("v"), weight=F.col("w"))
    # total mass 100; p50 rank = 50 -> falls in the v=1000 bin.
    est = SK.qhist_quantiles(cnt, [], [("p50", 1, 2)]).collect()[0]["p50"]
    assert est == SK.qhist_lower_py(_bin_py(1000, SK.QH_SUB_BITS))
    # Unweighted form unchanged: p50 of 3 docs is the middle value.
    cnt_u = SK.qhist_counters(df, [], F.col("v"))
    est_u = SK.qhist_quantiles(cnt_u, [], [("p50", 1, 2)]).collect()[0][
        "p50"
    ]
    assert est_u == SK.qhist_lower_py(_bin_py(100, SK.QH_SUB_BITS))


def test_cms_heavy_hitters_equals_naive(spark):
    """The CMS pre-filter must be invisible in the result: exact
    equality with the naive group-by-having, across thresholds and a
    deliberately collision-heavy narrow sketch (false positives get
    counted and dropped; one-sided error forbids false negatives)."""
    df = _ids(spark, 4000, "h", groups=40).select(
        F.concat(F.lit("w"), (F.col("grp") % 7).cast("string")).alias("v")
    )
    for num, den, width in ((1, 10, 8), (1, 4, 1024), (1, 2, 16)):
        got = sorted(
            map(
                tuple,
                SK.cms_heavy_hitters(
                    df, F.col("v"), num, den, depth=3, width=width
                ).collect(),
            )
        )
        total = df.count()
        thr = (num * total + den - 1) // den
        want = sorted(
            (r["v"], r["c"])
            for r in df.groupBy("v")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .collect()
            if r["c"] >= thr
        )
        assert got == want, (num, den, width)


def test_cms_heavy_hitters_rejects_bad_share(spark):
    df = _ids(spark, 10, "x", groups=1)
    with pytest.raises(ValueError, match="fraction"):
        SK.cms_heavy_hitters(df, F.col("v"), 3, 2)


def test_qhist_exact_quantiles_empty_input(spark):
    """Zero rows (or all-NULL values) must return an empty frame with
    the contracted schema, not crash inferring a rows-free schema."""
    empty = spark.createDataFrame([], "grp string, v long")
    out = SK.qhist_exact_quantiles(
        empty, ["grp"], F.col("v"), [("p50", 1, 2)]
    )
    assert out.columns == ["grp", "est_p50", "exact_p50"]
    assert out.count() == 0
    nulls = spark.createDataFrame([("a", None)], "grp string, v long")
    assert SK.qhist_exact_quantiles(
        nulls, ["grp"], F.col("v"), [("p50", 1, 2)]
    ).count() == 0


# --------------------------------------------------------------------------
# NULL semantics (round-7 advice): the whole sketch family excludes
# NULL values — COUNT(DISTINCT) semantics, matching KMV's collect_set.
# --------------------------------------------------------------------------


def _with_nulls(spark, n, nulls, tag="n"):
    """n tagged distinct values + `nulls` NULL rows, single group."""
    vals = spark.range(n).select(
        F.lit(0).alias("grp"),
        F.concat(F.lit(tag), F.col("id").cast("string")).alias("v"),
    )
    nul = spark.range(nulls).select(
        F.lit(0).alias("grp"), F.lit(None).cast("string").alias("v")
    )
    return vals.unionByName(nul)


def test_hll_nulls_excluded(spark):
    """NULLs must not mint a phantom bucket=NULL register (min_term=1,
    maximum-rho evidence) nor count toward `observed` — with all 64
    real buckets occupied that pushed the unseen-bucket correction
    negative. Registers and estimate must equal the non-NULL subset's."""
    df = _with_nulls(spark, 2000, 500)  # 2000 distinct occupies all 64
    reg = SK.hll_registers(df, ["grp"], F.col("v"), p=6)
    regs = reg.collect()
    assert all(r.bucket is not None for r in regs)
    assert len(regs) <= 64
    clean = SK.hll_registers(
        df.filter(F.col("v").isNotNull()), ["grp"], F.col("v"), p=6
    )
    assert _rows(reg) == _rows(clean)
    est = SK.hll_estimate(reg, ["grp"], p=6).collect()[0]["est_distinct"]
    assert est > 0


def test_hll_sql_twin_null_parity(spark):
    """The DuckDB twin's WHERE mirrors the Spark-side NULL filter, so
    both engines agree bit-for-bit on NULL-bearing input."""
    import duckdb

    df = _with_nulls(spark, 300, 77)
    est = SK.hll_estimate(
        SK.hll_registers(df, ["grp"], F.col("v"), p=6), ["grp"], p=6
    ).collect()[0]["est_distinct"]
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = con.sql(
        SK.hll_estimate_sql("t", ["grp"], "v", p=6)
    ).fetchall()[0][1]
    assert est == want


def test_kmv_sql_twin_null_parity(spark):
    """collect_set drops NULLs on the Spark side; the SQL twin's
    DISTINCT would keep a NULL hash row without its WHERE — parity on
    NULL-bearing input pins the shared exclusion."""
    import duckdb

    df = _with_nulls(spark, 100, 33)
    est = SK.kmv_estimate(
        SK.kmv_sketch(df, ["grp"], F.col("v"), k=32), ["grp"], k=32
    ).collect()[0]["est_distinct"]
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = con.sql(
        SK.kmv_estimate_sql("t", ["grp"], "v", k=32)
    ).fetchall()[0][1]
    assert est == want


def test_cms_counters_exclude_nulls(spark):
    """Counter totals reflect only non-NULL occurrences: a NULL hashes
    to NULL buckets no probe can reach, so counting it would inflate
    totals with unreachable mass."""
    df = _with_nulls(spark, 50, 25)
    counters = SK.cms_counters(df, F.col("v"), depth=3, width=64)
    per_row = (
        counters.groupBy("row_idx").agg(F.sum("cnt").alias("s")).collect()
    )
    assert {r.s for r in per_row} == {50}


def test_cms_heavy_hitters_ignores_nulls(spark):
    """NULLs are excluded from the total AND the candidate space, so
    the threshold is a share of the non-NULL occurrences — without the
    filter 88 NULLs would raise thr from 2 to 10 and silently drop
    'b' even though no NULL could ever surface as a candidate."""
    rows = [("a",)] * 10 + [("b",)] * 2 + [(None,)] * 88
    df = spark.createDataFrame(rows, "v string")
    got = sorted(
        map(
            tuple,
            SK.cms_heavy_hitters(
                df, F.col("v"), 1, 10, depth=3, width=64
            ).collect(),
        )
    )
    assert got == [("a", 10), ("b", 2)]


def test_heavy_hitters_dispatch_branches_agree(spark):
    """The auto-dispatcher (round-7 verdict task 3) must return the
    identical result whichever branch the cardinality evidence picks;
    forcing the cutover to 0 (always CMS) and huge (always naive) pins
    both, and the decision dict records the estimate and the choice."""
    df = _ids(spark, 4000, "h", groups=40).select(
        F.concat(F.lit("w"), (F.col("grp") % 7).cast("string")).alias("v")
    )
    naive, d_naive = SK.heavy_hitters(
        df, F.col("v"), 1, 10, cms_min_distinct=10**9
    )
    cms, d_cms = SK.heavy_hitters(df, F.col("v"), 1, 10, cms_min_distinct=0)
    assert d_naive["strategy"] == "naive"
    assert d_cms["strategy"] == "cms_prefilter"
    assert d_naive["est_distinct"] == d_cms["est_distinct"] > 0
    assert _rows(naive) == _rows(cms)


def test_heavy_hitters_default_cutover_picks_naive_at_fixture_scale(spark):
    """At any vocabulary a test fixture can produce, the default 2M
    cutover must choose the naive plan — the measured single-box
    winner (scripts/heavy_hitters_scale_check.py, removed after commit
    d34de9f: 0.66 s naive vs
    3.55 s CMS at 200k distinct)."""
    df = _ids(spark, 2000, "t", groups=1)
    out, decision = SK.heavy_hitters(df, F.col("v"), 1, 2)
    assert decision["strategy"] == "naive"
    assert out.count() == 0  # 2000 uniform singletons, none >= 50%


# --------------------------------------------------------------------------
# CMS inner-product join-size estimation (round-8 capability).
# --------------------------------------------------------------------------


def test_cms_join_size_never_underestimates(spark):
    """Every hash row's inner product counts all same-bucket key pairs,
    a superset of the true key pairs — so the min over rows is still an
    over-estimate. Pinned across widths (narrow = heavy collisions)."""
    a = _ids(spark, 3000, "a", groups=30).select(F.col("grp").cast("string").alias("v"))
    b = _ids(spark, 2000, "b", groups=50).select(F.col("grp").cast("string").alias("v"))
    exact = a.join(b, "v").count()
    for width in (8, 64, 1024):
        ca = SK.cms_counters(a, F.col("v"), depth=3, width=width)
        cb = SK.cms_counters(b, F.col("v"), depth=3, width=width)
        est = SK.cms_join_size(ca, cb, depth=3, width=width).collect()[0]["est_join_rows"]
        assert est >= exact, (width, est, exact)


def test_cms_join_size_exact_when_collision_free(spark):
    """With far more buckets than keys and no collisions in any row,
    each inner product equals the true join size exactly (F2 for the
    self-join case)."""
    df = spark.createDataFrame(
        [("k%d" % (i % 5),) for i in range(100)], "v string"
    )
    c = SK.cms_counters(df, F.col("v"), depth=4, width=65536)
    est = SK.cms_join_size(c, c, depth=4, width=65536).collect()[0]["est_join_rows"]
    exact = sum(
        r.c * r.c
        for r in df.groupBy("v").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    assert est == exact == 5 * 20 * 20


def test_cms_join_size_rejects_mismatched_parameters(spark):
    """Round-8/round-9 advice: two counter tables built with different
    depth/width silently intersect on (row_idx, bucket) and can
    UNDER-estimate. Tables built by cms_counters RECORD their params
    (column metadata) and declared != recorded raises driver-side —
    including the case observed shape cannot catch, a table built with
    a SMALLER width than declared."""
    import pytest

    df = spark.createDataFrame([("k%d" % i,) for i in range(200)], "v string")
    narrow = SK.cms_counters(df, F.col("v"), depth=3, width=64)
    wide = SK.cms_counters(df, F.col("v"), depth=3, width=4096)
    deep = SK.cms_counters(df, F.col("v"), depth=5, width=64)
    assert SK.cms_params(narrow) == (3, 64)
    # Width mismatch — recorded params raise before any job runs.
    with pytest.raises(ValueError, match="records it was built"):
        SK.cms_join_size(narrow, wide, depth=3, width=64)
    # Depth mismatch.
    with pytest.raises(ValueError, match="records it was built"):
        SK.cms_join_size(narrow, deep, depth=3, width=64)
    # The round-9 gap: a table built with a SMALLER width than declared
    # has every bucket < width, so an observed-shape check passes while
    # the bucket assignment disagrees — recorded params catch it.
    with pytest.raises(ValueError, match="records it was built"):
        SK.cms_join_size(narrow, wide, depth=3, width=4096)
    # An EMPTY side is a valid sketch (empty input), not a mismatch.
    empty = SK.cms_counters(
        spark.createDataFrame([], "v string"), F.col("v"), depth=3, width=64
    )
    row = SK.cms_join_size(narrow, empty, depth=3, width=64).collect()[0]
    assert row["est_join_rows"] is None  # min over zero rows


def test_cms_join_size_observed_shape_guard_without_metadata(spark):
    """Tables with NO recorded params (the DuckDB SQL twin, external
    producers) still hit the in-plan observed-shape guard: a grossly
    mismatched pair raises inside the job instead of returning a
    plausible wrong bound."""
    import pytest

    df = spark.createDataFrame([("k%d" % i,) for i in range(200)], "v string")

    def strip(c):
        out = c.select(
            "row_idx", "bucket", F.col("cnt").cast("long").alias("cnt")
        )
        assert SK.cms_params(out) is None
        return out

    narrow = strip(SK.cms_counters(df, F.col("v"), depth=3, width=64))
    wide = strip(SK.cms_counters(df, F.col("v"), depth=3, width=4096))
    deep = strip(SK.cms_counters(df, F.col("v"), depth=5, width=64))
    with pytest.raises(Exception, match="does not match declared"):
        SK.cms_join_size(narrow, wide, depth=3, width=64).collect()
    with pytest.raises(Exception, match="does not match declared"):
        SK.cms_join_size(narrow, deep, depth=3, width=64).collect()


def test_cms_recorded_params_survive_parquet_and_merge(spark, tmp_path):
    """The params sidecar must survive the two ways counter tables
    travel: persisted parquet sidecars and merge chains. cms_merge
    refuses to add differently-parameterized counters."""
    import pytest

    df = spark.createDataFrame([("k%d" % i,) for i in range(100)], "v string")
    c = SK.cms_counters(df, F.col("v"), depth=3, width=128)
    p = str(tmp_path / "cms_sidecar")
    c.write.parquet(p)
    reread = spark.read.parquet(p)
    assert SK.cms_params(reread) == (3, 128)
    merged = SK.cms_merge(reread, c)
    assert SK.cms_params(merged) == (3, 128)
    other = SK.cms_counters(df, F.col("v"), depth=3, width=256)
    with pytest.raises(ValueError, match="mismatched counter parameters"):
        SK.cms_merge(c, other)
    # Declared != recorded still raises after a round-trip + merge.
    with pytest.raises(ValueError, match="records it was built"):
        SK.cms_join_size(merged, merged, depth=3, width=256)
    # Point lookups validate the same way — mismatched probe hashes
    # read arbitrary buckets and void the upper-bound guarantee.
    with pytest.raises(ValueError, match="records it was built"):
        SK.cms_lookup(merged, df, F.col("v"), depth=3, width=256)


def test_cms_join_size_from_merged_sidecars(spark):
    """Counter addition composes: the estimate from cms_merge'd per-half
    sidecars equals the whole-corpus estimate — join sizes are
    predictable from sidecars that never co-scanned the data."""
    df = _ids(spark, 2000, "m", groups=20).select(
        F.col("grp").cast("string").alias("v")
    )
    whole = SK.cms_counters(df, F.col("v"), depth=3, width=256)
    even = SK.cms_counters(
        df.filter(F.col("v").cast("int") % 2 == 0), F.col("v"), depth=3, width=256
    )
    odd = SK.cms_counters(
        df.filter(F.col("v").cast("int") % 2 == 1), F.col("v"), depth=3, width=256
    )
    merged = SK.cms_merge(even, odd)
    probe = SK.cms_counters(
        spark.createDataFrame([("3",), ("7",)], "v string"),
        F.col("v"), depth=3, width=256,
    )
    est_whole = SK.cms_join_size(whole, probe, depth=3, width=256).collect()[0]["est_join_rows"]
    est_merged = SK.cms_join_size(merged, probe, depth=3, width=256).collect()[0]["est_join_rows"]
    assert est_whole == est_merged


def test_hll_cube_lattice_equals_direct_builds(spark):
    """Every cube level's registers derive from the LEAF by min-merge;
    associativity makes that EXACTLY the registers built directly at
    that granularity — so each level's estimate equals a direct
    hll_registers+hll_estimate at the same grouping."""
    df = spark.range(5000).select(
        (F.col("id") % 3).cast("string").alias("a"),
        (F.col("id") % 2).cast("string").alias("b"),
        F.concat(F.lit("v"), (F.col("id") % 700).cast("string")).alias("v"),
    )
    cube = SK.hll_cube(df, ["a", "b"], F.col("v"), p=6)
    rows = {(r.a, r.b, r.grouping_id): r.est_distinct for r in cube.collect()}
    # 6 leaf + 3 (a) + 2 (b) + 1 total
    assert len(rows) == 12
    # Direct builds per level.
    for kept, gid in ((["a", "b"], 0), (["a"], 1), (["b"], 2), ([], 3)):
        direct = SK.hll_estimate(
            SK.hll_registers(df, kept, F.col("v"), p=6), kept, p=6
        ).collect()
        for r in direct:
            key = (
                r.a if "a" in kept else None,
                r.b if "b" in kept else None,
                gid,
            )
            assert rows[key] == r.est_distinct, key


def test_hll_cube_rejects_bad_dims(spark):
    df = spark.range(10).select(F.col("id").cast("string").alias("v"))
    with pytest.raises(ValueError, match="dims"):
        SK.hll_cube(df, [], F.col("v"))
