"""Approximate aggregates: the 100 TB defaults (HLL, t-digest) cannot
be oracle-hash-checked, so they are tolerance-tested against their exact
twins here."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ue_big_data_project_spark.observability import (
    executed_scan_metrics as _scan_metrics,
)
from ue_big_data_project_spark.queries.tables import load_tables

SF_DIR = "/root/testdata/sf0.001"


def test_approx_count_distinct_within_tolerance(spark):
    e = load_tables(spark, SF_DIR, ("events",))["events"]
    row = e.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) <= max(3, 0.06 * row["exact"])


def test_approx_percentile_within_tolerance(spark):
    e = load_tables(spark, SF_DIR, ("events",))["events"]
    row = e.agg(
        F.percentile("value", F.lit(0.5)).alias("exact"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10_000)).alias("approx"),
    ).collect()[0]
    spread = e.agg((F.max("value") - F.min("value")).alias("r")).collect()[0]["r"]
    assert abs(row["approx"] - row["exact"]) <= 0.05 * spread


def test_persisted_ivf_index_prunes_and_matches(spark, tmp_path):
    """build_ivf_index + ivf_knn_indexed: the persisted path returns the
    SAME rows as the in-flight ivf_knn on identical centroids, and the
    probe scan reads only the nprobe cell partitions (scan metrics:
    numFiles = probed cells, one file per cell by layout)."""
    from ue_big_data_project_spark.operators.similarity import (
        _assign_clusters,
        build_ivf_index,
        ivf_knn,
        ivf_knn_indexed,
    )

    e = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    idx = str(tmp_path / "ivf")
    build_ivf_index(e, idx, n_centroids=16, kmeans_iters=2)

    got = ivf_knn_indexed(spark, idx, queries, k=5, nprobe=2)
    want = ivf_knn(e, queries, k=5, n_centroids=16, nprobe=2)
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[3])) == \
        sorted(map(tuple, want.collect()), key=lambda t: (t[0], t[3]))

    # Pruning: the probed-cell filter lists exactly the probed cell
    # files (one per cell by layout) — asserted on the scan the
    # indexed query path builds, vs 16 for a full-index scan.
    centroids = spark.read.parquet(idx + "_centroids")
    probes = _assign_clusters(
        queries, centroids, "query_vec", "query_id", nprobe=2
    )
    cells = [r["cent_id"] for r in probes.select("cent_id").distinct().collect()]
    assert 0 < len(cells) < 16
    m = _scan_metrics(spark.read.parquet(idx).filter(F.col("cell").isin(cells)))
    assert m["numFiles"] == len(cells), (cells, m)
    full = _scan_metrics(spark.read.parquet(idx))
    assert full["numFiles"] == 16


def test_ivf_index_append_matches_full_rebuild(spark, tmp_path):
    """Incremental maintenance: build on half the corpus, append the
    other half with the FROZEN centroids — the appended index must equal
    a full tag-and-write of the whole corpus against those same
    centroids, row for row, and probes against it stay partition-pruned
    (only nprobe cell directories read)."""
    from ue_big_data_project_spark.operators.similarity import (
        _write_tagged,
        build_ivf_index,
        ivf_index_append,
        ivf_knn_indexed,
    )

    e = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    first = e.filter(F.col("vec_id") % 2 == 0)
    rest = e.filter(F.col("vec_id") % 2 == 1)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )

    idx = str(tmp_path / "ivf_inc")
    build_ivf_index(first, idx, n_centroids=8, kmeans_iters=2)
    ivf_index_append(spark, idx, rest)

    # Reference: one-shot tag+write of the FULL corpus with the SAME
    # frozen centroids (append must not move any cell boundary).
    cents = spark.read.parquet(idx + "_centroids")
    full = str(tmp_path / "ivf_full")
    _write_tagged(e, cents, full, "vec_id", "embedding", 6, "overwrite")
    cents.write.parquet(full + "_centroids")

    inc_rows = sorted(
        map(tuple, spark.read.parquet(idx).select("vec_id", "cell").collect())
    )
    full_rows = sorted(
        map(tuple, spark.read.parquet(full).select("vec_id", "cell").collect())
    )
    assert inc_rows == full_rows

    got = ivf_knn_indexed(spark, idx, queries, k=5, nprobe=2)
    want = ivf_knn_indexed(spark, full, queries, k=5, nprobe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # Pruning survives the append: a probed-cell scan of the appended
    # index lists at most 2 files per probed cell (base + increment),
    # never the whole corpus layout.
    from ue_big_data_project_spark.operators.similarity import _assign_clusters

    probes = _assign_clusters(queries, cents, "query_vec", "query_id", nprobe=2)
    cells = [r["cent_id"] for r in probes.select("cent_id").distinct().collect()]
    assert 0 < len(cells) < 8
    m = _scan_metrics(
        spark.read.parquet(idx).filter(F.col("cell").isin(cells))
    )
    assert m["numFiles"] <= 2 * len(cells), (cells, m)


def test_ivf_cell_stats_monitor(spark, tmp_path):
    """The drift monitor: shares sum to 1, skew is size/mean over the
    CENTROID universe (empty cells are explicit 0 rows, not invisible —
    a collapsed index must read as skewed, not healthy), and the stats
    scan reads zero data columns (partition column only)."""
    from ue_big_data_project_spark.operators.similarity import (
        _write_tagged,
        build_ivf_index,
        ivf_cell_stats,
        kmeans_centroids,
    )

    e = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    idx = str(tmp_path / "ivf_stats")
    build_ivf_index(e, idx, n_centroids=8, kmeans_iters=1)
    rows = ivf_cell_stats(spark, idx).collect()
    total = e.count()
    assert len(rows) == 8  # every centroid reports, occupied or not
    assert sum(r["n_vectors"] for r in rows) == total
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
    mean = total / 8
    for r in rows:
        assert abs(r["skew"] - r["n_vectors"] / mean) < 1e-9

    # Drift blindness regression: write only ONE cell's vectors against
    # the same 8 centroids — the monitor must report 7 empty cells and
    # max skew 8.0, not a single healthy-looking skew-1.0 row.
    cents = kmeans_centroids(e, n_centroids=8, iters=1)
    one_cell = spark.read.parquet(idx).filter(
        F.col("cell") == spark.read.parquet(idx).select("cell").first()[0]
    ).drop("cell")
    skewed = str(tmp_path / "ivf_skewed")
    _write_tagged(one_cell, cents, skewed, "vec_id", "embedding", 6, "overwrite")
    cents.write.parquet(skewed + "_centroids")
    srows = ivf_cell_stats(spark, skewed).collect()
    assert len(srows) == 8
    assert sum(1 for r in srows if r["n_vectors"] == 0) == 7
    assert abs(max(r["skew"] for r in srows) - 8.0) < 1e-9
    plan = (
        spark.read.parquet(idx)
        .groupBy("cell")
        .count()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ReadSchema: struct<>" in plan


def test_ivf_layout_and_param_guards(spark, tmp_path):
    """Misuse guards: flat append onto a stream-ingested layout is
    refused (it would brick partition discovery), and external centroids
    cannot be combined with quantizer-training parameters."""
    import pytest

    from ue_big_data_project_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        kmeans_centroids,
    )

    e = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    cents = kmeans_centroids(e, n_centroids=8, iters=1)

    with pytest.raises(ValueError, match="not both"):
        build_ivf_index(e, str(tmp_path / "x"), n_centroids=8, centroids=cents)

    # Fake a stream-ingested layout: batch_id=N/cell=C.
    idx = str(tmp_path / "ivf_streamed")
    from ue_big_data_project_spark.operators.similarity import _write_tagged

    _write_tagged(
        e, cents, idx + "/batch_id=0", "vec_id", "embedding", 6, "overwrite"
    )
    cents.write.parquet(idx + "_centroids")
    with pytest.raises(ValueError, match="stream-ingested"):
        ivf_index_append(spark, idx, e.limit(5))


def test_driver_trainer_bit_identical_to_distributed(spark):
    """The driver-side Lloyd (trainer='driver') replays the distributed
    plan's float/decimal arithmetic exactly — centroids must be
    BIT-identical (same ids, same doubles), for both metrics. This is
    the guarantee that lets trainer='auto' swap paths without touching
    any oracle."""
    from ue_big_data_project_spark.operators.similarity import (
        kmeans_centroids,
    )

    e = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    for metric in ("cosine", "l2"):
        dist = kmeans_centroids(
            e, n_centroids=16, iters=2, metric=metric, trainer="distributed"
        )
        drv = kmeans_centroids(
            e, n_centroids=16, iters=2, metric=metric, trainer="driver"
        )
        a = sorted((r["cent_id"], tuple(r["cent_vec"])) for r in dist.collect())
        b = sorted((r["cent_id"], tuple(r["cent_vec"])) for r in drv.collect())
        assert a == b, f"driver/distributed centroids diverge ({metric})"


def test_driver_trainer_budget_fallback(spark):
    """trainer='driver' raises past the op budget; trainer='auto' falls
    back to the distributed path and still returns centroids."""
    import pytest as _pytest

    from ue_big_data_project_spark.operators import similarity as S

    e = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    old = S._DRIVER_TRAIN_OP_BUDGET
    S._DRIVER_TRAIN_OP_BUDGET = 1  # force max_rows=0
    try:
        with _pytest.raises(ValueError, match="driver training unavailable"):
            S.kmeans_centroids(e, n_centroids=4, iters=1, trainer="driver")
        auto = S.kmeans_centroids(e, n_centroids=4, iters=1, trainer="auto")
        assert auto.count() == 4
    finally:
        S._DRIVER_TRAIN_OP_BUDGET = old


def test_assign_clusters_backends_bit_identical(spark):
    """The arrow (vectorized numpy fold) and hof (pure-plan) assignment
    backends must pick IDENTICAL cells for every row, both metrics,
    nprobe 1 and 3 — the bit-identity contract that lets the fast
    backend be the default without touching any oracle."""
    from ue_big_data_project_spark.operators.similarity import (
        _assign_clusters,
    )

    e = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    cents = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("cent_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "cent_vec"
        ),
    )
    for metric in ("cosine", "l2"):
        for nprobe in (1, 3):
            pairs = []
            for backend in ("arrow", "hof"):
                got = _assign_clusters(
                    e, cents, "embedding", "vec_id", nprobe,
                    metric=metric, backend=backend,
                )
                pairs.append(
                    sorted(
                        (r.vec_id, r.cent_id)
                        for r in got.select("vec_id", "cent_id").collect()
                    )
                )
            assert pairs[0] == pairs[1], (metric, nprobe)


def test_ivf_index_staleness_audit(spark, tmp_path):
    """The quantizer-drift audit (round-10): ~1.0 on an index whose
    frozen quantizer still fits its contents; materially above 1 after
    a frozen-quantizer append of vectors from a region the training
    never saw; a rebuild over the union resets it."""
    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_index_staleness,
    )

    def vecs(start, n, axis):
        # Deterministic 3-d vectors hugging one axis with small jitter.
        base = [0.0, 0.0, 0.0]
        jit = [
            (F.col("id") % 5).cast("double") / 50,
            ((F.col("id") * 3) % 7).cast("double") / 70,
        ]
        comps = []
        j = iter(jit)
        for d in range(3):
            comps.append(F.lit(1.0) if d == axis else next(j))
        return spark.range(n).select(
            (F.col("id") + start).alias("vec_id"),
            F.array(*comps).alias("embedding"),
        )

    a = vecs(0, 60, 0).unionByName(vecs(100, 60, 1))
    path = str(tmp_path / "ivf")
    build_ivf_index(a, path, n_centroids=2, kmeans_iters=2, train_mod=1)
    before = ivf_index_staleness(spark, path, train_mod=1)
    assert before["staleness_ratio"] == pytest.approx(1.0, abs=0.1)
    # Drift: a third cluster on the axis the training never saw.
    b = vecs(1000, 120, 2)
    ivf_index_append(spark, path, b)
    drifted = ivf_index_staleness(spark, path, train_mod=1)
    assert drifted["staleness_ratio"] > 1.3, drifted
    # Rebuild over the union resets the audit.
    rebuilt = str(tmp_path / "ivf2")
    build_ivf_index(
        a.unionByName(b), rebuilt, n_centroids=3, kmeans_iters=3,
        train_mod=1,
    )
    reset = ivf_index_staleness(spark, rebuilt, train_mod=1)
    assert reset["staleness_ratio"] < drifted["staleness_ratio"]


def test_semdedup_keep_lowest_within_cell(spark):
    """Two clean 2-cluster groups: md5 init picks one seed per cluster
    (md5('1') < md5('2') < md5('0') < md5('3')), Lloyd separates them,
    and within each cell the higher-id near-dup drops."""
    from ue_big_data_project_spark.operators.similarity import semdedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.01, 0.999, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: r for r in semdedup(
        df, threshold=0.4, n_centroids=2, train_mod=1
    ).collect()}
    assert {i for i, r in out.items() if r.kept == 1} == {0, 2}
    assert out[0].cell == out[1].cell
    assert out[2].cell == out[3].cell
    assert out[0].cell != out[2].cell
    spark.catalog.clearCache()


def test_semdedup_matches_within_cell_brute_force(spark, sf_dir):
    """Contract on real data: dropped ⟺ a lower-id SAME-CELL mate sits
    at rounded cosine ≥ τ — replayed in pure Python with the identical
    fold order and portable round."""
    import math

    from ue_big_data_project_spark.operators.similarity import semdedup

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = semdedup(e, threshold=0.4).collect()
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in e.select("vec_id", "embedding").collect()
    }

    def cos6(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        c = dot / (na * nb) if na * nb > 0 else 0.0
        return math.floor(c * 1e6 + 0.5) / 1e6

    cells: dict[int, list[int]] = {}
    for r in got:
        cells.setdefault(r.cell, []).append(r.vec_id)
    expected_drop = set()
    for members in cells.values():
        members.sort()
        for i, hi in enumerate(members):
            for lo in members[:i]:
                if cos6(vecs[lo], vecs[hi]) >= 0.4:
                    expected_drop.add(hi)
                    break
    assert {r.vec_id for r in got if r.kept == 0} == expected_drop
    assert len(got) == len(vecs)  # every item reported exactly once
    spark.catalog.clearCache()


def test_rewrite_ivf_index_equals_fresh_kept_and_compacts_streamed(
    spark, tmp_path
):
    """rewrite_ivf_index (retention): the pruned index must equal a
    fresh tag-and-write of the kept corpus against the SAME frozen
    centroids — row for row and probe for probe — and it compacts the
    stream-ingested batch_id=N/cell=C layout back into the flat
    appendable sharding."""
    from ue_big_data_project_spark.operators.similarity import (
        _write_tagged,
        build_ivf_index,
        ivf_index_append,
        ivf_knn_indexed,
        rewrite_ivf_index,
    )

    e = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
    kept = e.filter(F.col("vec_id") % 3 != 0)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )

    idx = str(tmp_path / "ivf_prune")
    build_ivf_index(e, idx, n_centroids=8, kmeans_iters=2)
    n = rewrite_ivf_index(spark, idx, kept.select("vec_id"))
    assert n == kept.count()
    cents = spark.read.parquet(idx + "_centroids")

    fresh = str(tmp_path / "ivf_fresh_kept")
    _write_tagged(kept, cents, fresh, "vec_id", "embedding", 6, "overwrite")
    cents.write.parquet(fresh + "_centroids")

    assert sorted(
        map(tuple, spark.read.parquet(idx).select("vec_id", "cell").collect())
    ) == sorted(
        map(
            tuple,
            spark.read.parquet(fresh).select("vec_id", "cell").collect(),
        )
    )
    got = ivf_knn_indexed(spark, idx, queries, k=5, nprobe=2)
    want = ivf_knn_indexed(spark, fresh, queries, k=5, nprobe=2)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    # Streamed layout (batch_id=N/cell=C, the ivf_ingest_stream shape):
    # the rewrite prunes it back to flat, after which flat appends work.
    streamed = str(tmp_path / "ivf_streamed")
    for b, pred in enumerate(("vec_id % 2 = 0", "vec_id % 2 = 1")):
        _write_tagged(
            e.filter(pred),
            cents,
            f"{streamed}/batch_id={b}",
            "vec_id",
            "embedding",
            6,
            "overwrite",
        )
    cents.write.parquet(streamed + "_centroids")
    assert "batch_id" in spark.read.parquet(streamed).columns
    with pytest.raises(ValueError, match="batch_id"):
        ivf_index_append(spark, streamed, e.limit(1))
    n2 = rewrite_ivf_index(spark, streamed, kept.select("vec_id"))
    assert n2 == n
    assert "batch_id" not in spark.read.parquet(streamed).columns
    late = e.filter(F.col("vec_id") % 3 == 0)
    ivf_index_append(spark, streamed, late)  # flat layout again
    got2 = ivf_knn_indexed(spark, streamed, queries, k=5, nprobe=2)
    full = str(tmp_path / "ivf_full_again")
    _write_tagged(e, cents, full, "vec_id", "embedding", 6, "overwrite")
    cents.write.parquet(full + "_centroids")
    want2 = ivf_knn_indexed(spark, full, queries, k=5, nprobe=2)
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, want2.collect())
    )
