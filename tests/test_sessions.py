"""Batch vs streaming sessionization equivalence.

The applyInPandasWithState operator must reproduce the batch
window-expression result exactly on a drained bounded replay. In update
mode a session row re-emits as it grows, so the stream result is reduced
to its final emission per (user, session) before comparing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ue_big_data_project_spark.operators.sessions import (
    sessionize_batch,
    sessionize_stream,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    from ue_big_data_project_spark.queries.tables import load_tables

    return load_tables(spark, SF_DIR, ("events",))["events"]


def _final_sessions(df):
    return (
        df.groupBy("user_id", "session_idx")
        .agg(
            F.max("n_events").alias("n_events"),
            F.min("start_us").alias("start_us"),
            F.max("end_us").alias("end_us"),
        )
    )


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_matches_batch(spark, events):
    import os

    from ue_big_data_project_spark import streaming as ST

    batch = sessionize_batch(events, gap_seconds=1800)
    sdf = ST.replay_parquet(spark, os.path.join(SF_DIR, "events.parquet"))
    from pyspark.sql import types as T

    if isinstance(sdf.schema["ts"].dataType, T.LongType):
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    streamed = sessionize_stream(sdf, gap_seconds=1800)
    drained = ST.drain_to_table(spark, streamed, mode="update")
    assert rows(_final_sessions(drained)) == rows(batch)


def test_stream_with_eviction_matches_batch(spark, events):
    """The event-time-timeout twin (watermark eviction enabled) must
    produce the same final sessions as batch: timed-out keys re-emit
    their final open session before state removal, which the
    final-emission reduce absorbs."""
    import os

    from ue_big_data_project_spark import streaming as ST

    batch = sessionize_batch(events, gap_seconds=1800)
    sdf = ST.replay_parquet(spark, os.path.join(SF_DIR, "events.parquet"))
    from pyspark.sql import types as T

    if isinstance(sdf.schema["ts"].dataType, T.LongType):
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    streamed = sessionize_stream(sdf, gap_seconds=1800, watermark="1 hour")
    drained = ST.drain_to_table(spark, streamed, mode="update")
    assert rows(_final_sessions(drained)) == rows(batch)


def test_batch_sessions_sane(events):
    out = sessionize_batch(events, gap_seconds=1800)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == events.count()
    bad = out.filter(F.col("end_us") < F.col("start_us")).count()
    assert bad == 0


def _protobuf_available() -> bool:
    # transformWithState's Python runner speaks protobuf to the JVM;
    # without the package the streaming runner crashes at init
    # (environment-bound, like the Kafka connector jars).
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_session_fold_kernel_shared_and_correct():
    """Both streaming APIs fold through operators.sessions._fold_sessions;
    pin the kernel directly: closes on gap, 1-based indexing, carries
    state across calls (micro-batch boundaries)."""
    from ue_big_data_project_spark.operators.sessions import (
        _EMPTY_STATE,
        _fold_sessions,
    )

    gap_us = 10 * 1_000_000
    closed, st = _fold_sessions(7, [0, 5_000_000, 30_000_000], _EMPTY_STATE, gap_us)
    assert closed == [(7, 1, 2, 0, 5_000_000)]
    assert st == (30_000_000, 2, 1, 30_000_000, 30_000_000)
    # Next micro-batch: within-gap event extends the open session.
    closed2, st2 = _fold_sessions(7, [35_000_000], st, gap_us)
    assert closed2 == []
    assert st2 == (35_000_000, 2, 2, 30_000_000, 35_000_000)
    # And a far event closes it.
    closed3, st3 = _fold_sessions(7, [100_000_000], st2, gap_us)
    assert closed3 == [(7, 2, 2, 30_000_000, 35_000_000)]
    assert st3[1] == 3


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithState Python runner needs protobuf (absent here)",
)
def test_tws_stream_matches_batch(spark, events):
    """The Spark-4 transformWithStateInPandas twin reproduces the batch
    window result exactly on a drained bounded replay — same contract
    the applyInPandasWithState form passes above."""
    import os

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.operators.sessions import (
        sessionize_stream_tws,
    )

    batch = sessionize_batch(events, gap_seconds=1800)
    sdf = ST.replay_parquet(spark, os.path.join(SF_DIR, "events.parquet"))
    streamed = sessionize_stream_tws(sdf, gap_seconds=1800)
    drained = ST.drain_to_table(spark, streamed, mode="update")
    assert rows(_final_sessions(drained)) == rows(batch)


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithState Python runner needs protobuf (absent here)",
)
def test_tws_stream_with_eviction_matches_batch(spark, events):
    """Timer-driven eviction (handleExpiredTimer) changes nothing on a
    drained bounded replay — evicted sessions were final."""
    import os

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.operators.sessions import (
        sessionize_stream_tws,
    )

    batch = sessionize_batch(events, gap_seconds=1800)
    sdf = ST.replay_parquet(spark, os.path.join(SF_DIR, "events.parquet"))
    streamed = sessionize_stream_tws(sdf, gap_seconds=1800, watermark="1 hour")
    drained = ST.drain_to_table(spark, streamed, mode="update")
    assert rows(_final_sessions(drained)) == rows(batch)


def test_tws_wiring_constructs_unstarted_plan(spark):
    """Even without the runner, the transformWithState plan must
    CONSTRUCT against the real API (processor + state/timer wiring all
    resolved) — import errors or signature drift fail here, not at
    deploy."""
    import os

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.operators.sessions import (
        sessionize_stream_tws,
    )

    sdf = ST.replay_parquet(spark, os.path.join(SF_DIR, "events.parquet"))
    out = sessionize_stream_tws(sdf, gap_seconds=1800, watermark="1 hour")
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "user_id", "session_idx", "n_events", "start_us", "end_us",
    ]
