"""Pipeline observability: metrics that ride the job, and expectation
gates that split bad records out instead of failing the run.

Row counts, null rates and domain violations are accumulated BY the
job that does the work, not by a second scan. ``observe`` attaches
named aggregate metrics to a plan (computed during the existing pass,
exchanged as a few scalars); for streams the same metrics surface per
micro-batch through the query progress events. Expectations split a
batch into (passing, quarantined) with the violated rule names attached
— the dead-letter pattern — so one malformed crawl shard quarantines
instead of poisoning the corpus or killing a 10-hour job.

The table-level constraint suite and the column profile live in
:mod:`ue_big_data_project_spark.quality`.
"""

from __future__ import annotations

import json
from collections.abc import Mapping

from ue_big_data_project_spark.streaming import _drain_memory

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.streaming import StreamingQueryListener


def quality_metrics(
    df: DataFrame, columns: list[str] | None = None
) -> dict[str, Column]:
    """The standard ingest health metrics for ``df``: total rows plus a
    null count per column (default: every column). Feed to
    :func:`observed` / :func:`drain_with_metrics`."""
    cols = columns or df.columns
    out: dict[str, Column] = {"n_rows": F.count(F.lit(1))}
    for c in cols:
        out[f"null_{c}"] = F.count_if(F.col(c).isNull())
    return out


def observed(
    df: DataFrame, metrics: Mapping[str, Column]
) -> tuple[DataFrame, Observation]:
    """Attach named metrics to a BATCH plan; they are computed by the
    same pass that executes the plan (no extra scan, no extra job).

    Returns ``(df, observation)`` — run any action on the returned
    DataFrame, then read ``observation.get``.
    """
    obs = Observation()
    named = [c.alias(n) for n, c in metrics.items()]
    return df.observe(obs, *named), obs


def observed_stream(
    sdf: DataFrame, name: str, metrics: Mapping[str, Column]
) -> DataFrame:
    """Attach named metrics to a STREAMING plan under ``name``; each
    micro-batch reports them through its progress event (collect with
    :class:`MetricsListener` or :func:`drain_with_metrics`)."""
    named = [c.alias(n) for n, c in metrics.items()]
    return sdf.observe(name, *named)


class MetricsListener(StreamingQueryListener):
    """Collects per-micro-batch observed metrics from progress events.

    ``listener.metrics`` maps observation name → list of per-batch dicts
    (batch order preserved). Register via
    ``spark.streams.addListener(listener)``; remove when done.
    """

    def __init__(self) -> None:
        self.metrics: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:  # pragma: no cover - no-op
        pass

    def onQueryProgress(self, event) -> None:
        # The progress payload is JSON on the Python side; observedMetrics
        # holds one row-shaped dict per observation name.
        progress = json.loads(event.progress.json)
        for name, row in (progress.get("observedMetrics") or {}).items():
            self.metrics.setdefault(name, []).append(dict(row))

    def onQueryIdle(self, event) -> None:  # pragma: no cover - no-op
        pass

    def onQueryTerminated(self, event) -> None:  # pragma: no cover - no-op
        pass


def drain_with_metrics(
    spark: SparkSession,
    sdf: DataFrame,
    metrics: Mapping[str, Column],
    mode: str = "append",
) -> tuple[DataFrame, list[dict]]:
    """Drain a bounded stream with metrics attached; return the final
    batch result AND the per-micro-batch metric dicts — the streaming
    counterpart of :func:`observed`.

    Metrics are read synchronously from the query's own progress history
    (listener events are delivered on a separate thread, so a
    drain-then-read via :class:`MetricsListener` would race; the
    listener is for long-running queries, this is for bounded drains).
    """
    result, progress = _drain_memory(
        spark, observed_stream(sdf, "gate", metrics), mode
    )
    batches = []
    for p in progress:
        row = (json.loads(p.json).get("observedMetrics") or {}).get("gate")
        if row is not None:
            batches.append(dict(row))
    return result, batches


def split_by_expectations(
    df: DataFrame, expectations: Mapping[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter split: ``(passing, quarantined)`` by named rules.

    Each expectation is a boolean Column that good rows satisfy; a null
    verdict counts as a violation (null-hostile by design — an
    unevaluable rule must not wave records through). Quarantined rows
    carry ``_violations`` (array of failed rule names) for triage; the
    passing side is returned unchanged. One pass, no shuffle: the rule
    evaluation is a projection, the split is two filters on it that
    Catalyst merges into the parent scan.

    A pre-existing ``_violations`` column is rejected rather than
    silently overwritten: re-gating a quarantine table must not destroy
    its violation history — drop or rename the old column explicitly.
    """
    if "_violations" in df.columns:
        raise ValueError(
            "input already has a _violations column (a prior quarantine?); "
            "drop or rename it before re-gating"
        )
    flags = F.array(
        *[
            F.when(~cond.eqNullSafe(F.lit(True)), F.lit(name))
            for name, cond in expectations.items()
        ]
    )
    tagged = df.withColumn(
        "_violations", F.filter(flags, lambda x: x.isNotNull())
    )
    good = tagged.filter(F.size("_violations") == 0).drop("_violations")
    bad = tagged.filter(F.size("_violations") > 0)
    return good, bad


def executed_scan_metrics(df: DataFrame) -> dict[str, int]:
    """Run ``df`` and return the summed SQLMetric values of its leaf
    scan nodes (``numFiles``, ``numOutputRows``, ``filesSize``, ...).

    The I/O-side complement of :func:`observed`: after the action, the
    executed plan's FileSourceScan metrics say how much the scan
    actually LISTED and READ — the observable that data-skipping layouts
    (``layout.write_range_sorted`` / ``write_zordered`` /
    ``read_stat_pruned``, IVF cell partitioning) exist to shrink, and
    the number to alert on when a pruned pipeline silently regresses to
    full scans. Executes the plan JVM-side (an RDD count over the
    executed plan) — no rows reach the driver, so it is safe on
    production-sized inputs.
    """
    plan = df._jdf.queryExecution().executedPlan()
    plan.execute().count()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    out: dict[str, int] = {}
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        it = m.iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = out.get(kv._1(), 0) + kv._2().value()
    return out
