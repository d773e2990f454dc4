"""Query registry.

Every implemented operator from SURVEY §2 (plus the LLM-pipeline
extensions) is exposed here as a named query over the driver's testdata
tables, paired with the ANSI-SQL oracle DuckDB runs on the same parquet.

Cross-engine determinism conventions (so value-hashes match):

- **Sums of doubles go through DECIMAL**: float addition is
  order-dependent and Spark/DuckDB partition differently, so every SUM
  casts its per-row term to ``DECIMAL(18,4)`` (exact, associative), then
  the exact total is cast back to double and rounded. AVG is expressed as
  decimal-sum / count explicitly.
- **Timestamps leave as epoch micros** (``unix_micros`` / ``epoch_us``)
  or formatted strings — never raw timestamp columns, whose tz/precision
  rendering differs between engines.
- **Every computed column is aliased identically** in the Spark plan and
  the oracle SQL (driver hash compares by sorted column name).
- **Top-k orderings always carry a unique tie-breaker key.**
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """A named query: Spark builder + optional DuckDB oracle SQL."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None


def all_queries() -> dict[str, QuerySpec]:
    from ue_big_data_project_spark.queries import events as _events
    from ue_big_data_project_spark.queries import multimodal as _multimodal
    from ue_big_data_project_spark.queries import (
        reference_registered as _reference,
    )
    from ue_big_data_project_spark.queries import sketches as _sketches
    from ue_big_data_project_spark.queries import textops as _textops
    from ue_big_data_project_spark.queries import tpch as _tpch

    out: dict[str, QuerySpec] = {}
    for mod in (_tpch, _events, _textops, _multimodal, _sketches, _reference):
        out.update(mod.QUERIES)
    return out


# The driver's CORRECTNESS gate hashes at most GATE_CAP queries in
# registry order. GATE_ORDER is that set: frozen, with the entries the
# driver had never hashed first. tests/test_gate.py pins it by sha256 and
# maps every registry entry outside it to an in-gate entry of the same
# operator family; tests/test_oracle.py checks the full registry against
# DuckDB.
GATE_CAP = 50
GATE_ORDER = (
    "dedup_video_neardup_dhash",
    "pipeline_media_prune",
    "dedup_video_fp_incremental",
    "streaming_video_sig_index",
    "text_bm25_pruned",
    "text_bm25_capped",
    "streaming_bm25_index",
    "knn_cosine_ivf_pruned",
    "text_classify_nb",
    "text_classify_nb_incremental",
    "pipeline_expectations",
    "events_sliding_window",
    "streaming_sliding_window",
    "streaming_expectations",
    "multimodal_audio_fp",
    "dedup_audio_neardup",
    "dedup_audio_fp_incremental",
    "dedup_video_neardup",
    "dedup_image_fp_incremental",
    "dedup_image_fp_pruned",
    "streaming_fp_index",
    "streaming_winnow_index",
    "dedup_image_clusters",
    "text_bpe_tokens",
    "pipeline_pack_bpe",
    "dedup_jaccard_pruned",
    "dedup_semantic_prune",
    "pipeline_temperature_mix",
    "multimodal_video_thumbs",
    "dedup_clusters_incremental",
    "streaming_dedup_clusters",
    "streaming_cdc_merge_bucketed",
    "sketch_hll_cube",
    "streaming_cms_tokens",
    "sketch_qhist_prices",
    "text_bm25_appended",
    "pipeline_quantile_trim",
    "join_auto_strategy",
    "window_rank_kit",
    "multimodal_jpeg",
    "knn_cosine_ivf_probe",
    "text_repetition",
    "bloom_pruned_join",
    "streaming_asof_join",
    "q2_min_cost_supplier",
    "ref_q1_plane_bus_wait",
    "scan_filter_agg_kit",
    "streaming_sessionize",
    "streaming_tumbling_window",
    "dedup_clusters",
)


def gate_queries() -> dict[str, QuerySpec]:
    """The ≤50-entry, ordered query set handed to the driver's
    CORRECTNESS gate (``__spark_entry__.queries()``); a strict subset of
    :func:`all_queries`, which the local pytest gate runs in full."""
    registry = all_queries()
    assert len(GATE_ORDER) <= GATE_CAP, (
        f"gate has {len(GATE_ORDER)} entries; the driver hashes only "
        f"{GATE_CAP} per round"
    )
    return {name: registry[name] for name in GATE_ORDER}
