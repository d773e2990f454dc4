"""A/B the source_unigram_kl (grp,term)-count persist (round-6 verdict
task 3): measure the query with and without the persist at sf0.1 AND at
a 10x-replicated corpus, using the probe_scale_check.py replication
pattern.

The claim under test: round 6 persisted the per-(group, term) count
table because four consumers (corpus LM, per-group totals, corpus
totals, scoring join) each re-ran the tokenize+explode+count subplan
without it — but at sf0.1 the in-suite time DOUBLED (0.76 -> 1.54 s),
meaning materialization cost more than the re-tokenize it avoided at
that scale. If the 10x corpus vindicates the persist (no-persist grows
materially faster than persist as the corpus grows), keep it and record
both numbers; otherwise gate it on input size.

Usage:  python scripts/kl_persist_ab.py [--runs 5] [--copies 10]
Writes one JSON line to stdout; scratch parquet lands under /tmp and is
removed on exit.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F

from ue_big_data_project_spark import get_spark
from ue_big_data_project_spark.operators.retrieval import source_unigram_kl
from ue_big_data_project_spark.session import load_tables


def timed_median(spark, runs: int, make_df) -> float:
    samples = []
    for _ in range(runs):
        # Fresh cache per sample — the persist under test must be paid
        # (or skipped) inside the timed region.
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        make_df().write.mode("overwrite").format("noop").save()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    spark = get_spark(app_name="kl-persist-ab")
    root = tempfile.mkdtemp(prefix="spark_graft_kl_ab_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)

    d = load_tables(spark, args.sf_dir, ("documents",))["documents"]
    n_d = d.count()
    shift = d.agg(F.max("doc_id")).first()[0] + 1
    # Materialize the replicated corpus to parquet so the measured runs
    # scan parquet (as the real query does), not a 10-way union plan.
    d10_path = os.path.join(root, "d10")
    parts = [
        d.withColumn("doc_id", F.col("doc_id") + F.lit(k * shift))
        for k in range(args.copies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    out.write.parquet(d10_path)
    d10 = spark.read.parquet(d10_path)

    # Warmup (codegen + parquet footers) before any timed run.
    for frame in (d, d10):
        source_unigram_kl(frame, group_col="source").write.mode(
            "overwrite"
        ).format("noop").save()
        spark.catalog.clearCache()

    result = {
        "metric": "kl_persist_ab_seconds",
        "sf_dir": args.sf_dir,
        "copies": args.copies,
        "rows": {"x1": n_d, "x10": n_d * args.copies},
        "runs": args.runs,
    }
    for scale, frame in (("x1", d), ("x10", d10)):
        for mode, persist in (("persist", True), ("no_persist", False)):
            result[f"{scale}_{mode}"] = timed_median(
                spark,
                args.runs,
                lambda frame=frame, persist=persist: source_unigram_kl(
                    frame, group_col="source", persist_counts=persist
                ),
            )
    result["x1_ratio_persist_over_none"] = round(
        result["x1_persist"] / result["x1_no_persist"], 2
    )
    result["x10_ratio_persist_over_none"] = round(
        result["x10_persist"] / result["x10_no_persist"], 2
    )
    print(json.dumps(result))


if __name__ == "__main__":
    main()
