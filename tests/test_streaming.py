"""Streaming core tests: file-replay sources, watermarked windows,
streaming dedup, foreachBatch, batch-vs-stream equivalence.

Strategy (SURVEY §7 step 4): drive with deterministic file batches +
``processAllAvailable`` so watermark timing is reproducible, and check
the streaming result equals the same logic run in batch.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ue_big_data_project_spark import streaming as S
from ue_big_data_project_spark.streaming import ingest

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def write_batches(tmpdir: str, batches: list[list[dict]]) -> str:
    path = os.path.join(tmpdir, "stream_in")
    os.makedirs(path, exist_ok=True)
    base = 1_700_000_000
    for i, rows in enumerate(batches):
        fpath = os.path.join(path, f"batch_{i:03d}.json")
        with open(fpath, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        # The file source orders by modification time; pin strictly
        # increasing mtimes so micro-batch order is deterministic.
        os.utime(fpath, (base + i * 60, base + i * 60))
    return path


def row(i, minute, etype="click", user=1, value=1.0):
    return {
        "event_id": i,
        "ts": f"2024-01-01T00:{minute:02d}:00.000Z",
        "user_id": user,
        "event_type": etype,
        "value": value,
    }


@pytest.fixture()
def stream_rows():
    # Two event-time minutes; late row for minute 0 arrives in batch 2.
    return [
        [row(1, 0), row(2, 0), row(3, 1)],
        [row(4, 1), row(5, 0), row(6, 2)],
        [row(7, 3), row(8, 3)],
    ]


def test_windowed_agg_stream_equals_batch(spark, tmp_path, stream_rows):
    path = write_batches(str(tmp_path), stream_rows)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
    ]

    sdf = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    out = S.windowed_agg(
        sdf, "ts", "1 minute", aggs, ["event_type"], watermark="10 seconds"
    )
    q = S.to_memory(out, "win_complete", mode="complete")
    S.run_until_drained(q)
    got = {
        (r["window"]["start"].isoformat(), r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_complete").collect()
    }

    bdf = spark.read.schema(EVENTS_SCHEMA).json(path)
    want = {
        (r["window"]["start"].isoformat(), r["event_type"]): (r["n"], r["sum_value"])
        for r in S.windowed_agg(bdf, "ts", "1 minute", aggs, ["event_type"]).collect()
    }
    assert got == want
    assert len(got) == 4  # minutes 0..3


def test_append_mode_emits_closed_windows_once(spark, tmp_path, stream_rows):
    path = write_batches(str(tmp_path), stream_rows)
    sdf = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    out = S.windowed_agg(
        sdf,
        "ts",
        "1 minute",
        [F.count(F.lit(1)).alias("n")],
        watermark="10 seconds",
    )
    q = S.to_memory(out, "win_append", mode="append")
    S.run_until_drained(q)
    rows = spark.sql("SELECT * FROM win_append").collect()
    starts = [r["window"]["start"].minute for r in rows]
    # Final watermark = max event time (03:00) − 10 s = 02:50: windows 0
    # and 1 (ends 01:00, 02:00) are closed and final; windows 2 and 3 stay
    # open — append mode emits nothing for them.
    assert sorted(starts) == [0, 1]
    by_min = {r["window"]["start"].minute: r["n"] for r in rows}
    # Late minute-0 row from batch 2 arrived before the watermark passed
    # (file source processes in order) so the closed window counts it.
    assert by_min[0] == 3 and by_min[1] == 2


def test_streaming_dedup(spark, tmp_path):
    batches = [
        [row(1, 0), row(1, 0), row(2, 0)],
        [row(1, 0), row(3, 1)],  # replay of id 1 across batches
        [row(3, 2), row(4, 2)],  # id 3 replayed with different minute
    ]
    path = write_batches(str(tmp_path), batches)
    sdf = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    out = S.dedup_stream(sdf, ["event_id"], "ts", "10 minutes")
    q = S.to_memory(out, "dedup_out", mode="append")
    S.run_until_drained(q)
    ids = sorted(
        r["event_id"] for r in spark.sql("SELECT * FROM dedup_out").collect()
    )
    assert ids == [1, 2, 3, 4]


def test_foreach_batch_sink(spark, tmp_path, stream_rows):
    path = write_batches(str(tmp_path), stream_rows)
    sdf = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    seen: list[tuple[int, int]] = []

    def collect_batch(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    q = S.foreach_batch(sdf, collect_batch)
    S.run_until_drained(q)
    assert sum(n for _, n in seen) == 8
    assert len(seen) >= 3  # one per file with maxFilesPerTrigger=1


def test_idempotent_foreach_batch_skips_committed(spark, tmp_path, stream_rows):
    path = write_batches(str(tmp_path), stream_rows)
    ledger = os.path.join(str(tmp_path), "ledger")
    calls: list[int] = []

    def effect(batch_df, batch_id):
        calls.append(batch_id)

    sdf = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    S.run_until_drained(S.idempotent_foreach_batch(sdf, effect, ledger))
    first = list(calls)
    assert first  # ran at least one batch and recorded markers
    # Replay the SAME source: the checkpoint beside the ledger resumes
    # past every committed batch, and a batch id re-delivered after a
    # crash would meet the ledger, which suppresses the side effect.
    sdf2 = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    S.run_until_drained(S.idempotent_foreach_batch(sdf2, effect, ledger))
    assert calls == first


def test_per_batch_artifact_sink(spark, tmp_path, stream_rows):
    """The reference's render-per-micro-batch sink shape: one artifact
    file per batch id, ledger-deduplicated across replays."""
    path = write_batches(str(tmp_path), stream_rows)
    out = os.path.join(str(tmp_path), "artifacts")

    def render(pdf, batch_id):
        return f"batch={batch_id} rows={len(pdf)}\n" + pdf.to_csv(index=False)

    sdf = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    S.run_until_drained(S.per_batch_artifact_sink(sdf, out, render=render))
    artifacts = sorted(
        f for f in os.listdir(out) if f.startswith("batch-")
    )
    markers = os.listdir(os.path.join(out, "_ledger"))
    assert len(artifacts) >= 3 and len(artifacts) == len(markers)
    with open(os.path.join(out, artifacts[0])) as f:
        head = f.readline()
    assert head.startswith("batch=") and "rows=" in head
    # Replay the same source: the checkpoint beside the ledger resumes
    # past every rendered batch (and the ledger would suppress a
    # re-delivered one), so artifact mtimes (and count) are unchanged.
    before = {
        f: os.path.getmtime(os.path.join(out, f)) for f in artifacts
    }
    sdf2 = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    S.run_until_drained(S.per_batch_artifact_sink(sdf2, out, render=render))
    after = {
        f: os.path.getmtime(os.path.join(out, f))
        for f in sorted(os.listdir(out))
        if f.startswith("batch-")
    }
    assert after == before


def test_drain_to_table_with_artifacts_single_pass(spark, tmp_path, stream_rows):
    """The fused drain: one stream pass yields BOTH the per-batch
    artifacts and the snapshot table, and the snapshot equals what a
    plain memory-sink drain of the same aggregation produces."""
    path = write_batches(str(tmp_path), stream_rows)
    out = os.path.join(str(tmp_path), "artifacts")

    def agg(sdf):
        return (
            sdf.withWatermark("ts", "1 hour")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    sdf = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    snap = S.drain_to_table_with_artifacts(
        spark, agg(sdf), out, mode="complete"
    )
    artifacts = [f for f in os.listdir(out) if f.startswith("batch-")]
    assert artifacts  # rendered at least one micro-batch artifact
    got = sorted(map(tuple, snap.collect()))
    sdf2 = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    want = sorted(
        map(tuple, S.drain_to_table(spark, agg(sdf2), mode="complete").collect())
    )
    assert got == want
    # Replay the same source: the ledger skips every artifact (same
    # files, same mtimes) while the snapshot is still taken.
    before = {f: os.path.getmtime(os.path.join(out, f)) for f in artifacts}
    sdf3 = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    again = S.drain_to_table_with_artifacts(spark, agg(sdf3), out)
    after = {
        f: os.path.getmtime(os.path.join(out, f))
        for f in os.listdir(out)
        if f.startswith("batch-")
    }
    assert after == before
    assert sorted(map(tuple, again.collect())) == want


def test_drain_to_table_leaves_no_view_or_checkpoint(
    spark, tmp_path, monkeypatch, stream_rows
):
    """The drained table is detached from the memory sink: the sink's
    temp view is dropped and the scratch checkpoint removed."""
    path = write_batches(str(tmp_path), stream_rows)
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    views = temp_views()
    sdf = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    got = S.drain_to_table(spark, sdf.groupBy("event_type").count())
    assert temp_views() == views
    assert os.listdir(scratch) == []
    assert sum(r["count"] for r in got.collect()) == 8


def test_drain_restores_shuffle_partitions_when_start_raises(spark):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "13")
    seen = []

    def start():
        seen.append(spark.conf.get(key))
        raise RuntimeError("start failed")

    try:
        with pytest.raises(RuntimeError, match="start failed"):
            S.drain(spark, start)
        assert seen == [str(S.STREAM_PARTITIONS)]
        assert spark.conf.get(key) == "13"
    finally:
        spark.conf.set(key, prev)


def test_drain_removes_its_checkpoint_when_the_callback_raises(
    spark, tmp_path, monkeypatch, stream_rows
):
    """Spark keeps the temporary checkpoint of a failed query; a drain
    re-raises the failure and still leaves no checkpoint behind."""
    path = write_batches(str(tmp_path), stream_rows)
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    key = "spark.sql.streaming.checkpointLocation"
    prev = spark.conf.get(key, None)
    queries = []

    def fail(batch_df, batch_id):
        raise RuntimeError("sink failed")

    def start():
        sdf = S.file_stream(spark, path, EVENTS_SCHEMA)
        queries.append(S.foreach_batch(sdf, fail))
        return queries[0]

    with pytest.raises(Exception, match="sink failed"):
        S.drain(spark, start)
    root = queries[0]._jsq.streamingQuery().resolvedCheckpointRoot()
    assert not os.path.exists(root.removeprefix("file:"))
    assert os.listdir(scratch) == []
    assert spark.conf.get(key, None) == prev


def test_ledgered_stream_restart_keeps_new_rows(spark, tmp_path):
    """A ledgered stream restarted on the same ledger resumes from its
    checkpoint, so rows that landed between the runs reach the callback
    instead of being skipped as already-committed batch ids."""
    src = tmp_path / "in"
    src.mkdir()
    ledger = str(tmp_path / "ledger")
    seen: list[int] = []

    def effect(batch_df, batch_id):
        seen.extend(r["event_id"] for r in batch_df.collect())

    def land_and_drain(name, ids):
        with open(src / name, "w") as f:
            f.writelines(json.dumps(row(i, 0)) + "\n" for i in ids)
        sdf = S.file_stream(spark, str(src), EVENTS_SCHEMA)
        S.drain(spark, lambda: S.idempotent_foreach_batch(sdf, effect, ledger))

    land_and_drain("f0.json", [1, 2])
    land_and_drain("f1.json", [3, 4])
    assert sorted(seen) == [1, 2, 3, 4]


def _state_widths(progress) -> set[int]:
    return {op.numShufflePartitions for p in progress for op in p.stateOperators}


@pytest.fixture()
def width_8(spark, tmp_path):
    """The session at batch width 8, with queries checkpointing under
    ``tmp_path``; both restored afterwards."""
    keys = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.streaming.checkpointLocation": str(tmp_path / "ckpt"),
    }
    old = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _consume(batch_df, batch_id):
    """A foreachBatch callback that runs the whole batch: Spark fails a
    batch whose state stores did not all commit."""
    batch_df.count()


SINK_STARTS = {
    "to_console": lambda df, tmp: S.to_console(df, mode="complete"),
    "to_memory": lambda df, tmp: S.to_memory(df, "width_pin", mode="complete"),
    "foreach_batch": lambda df, tmp: S.foreach_batch(
        df, _consume, mode="complete"
    ),
    "idempotent_foreach_batch": lambda df, tmp: S.idempotent_foreach_batch(
        df, _consume, str(tmp / "ledger"), mode="complete"
    ),
}


@pytest.mark.parametrize("sink", sorted(SINK_STARTS))
def test_sinks_start_stateful_streams_at_stream_width(
    spark, tmp_path, stream_rows, width_8, sink
):
    """Each sink gives the stream's state :data:`STREAM_PARTITIONS`
    stores whatever the session's batch width, and leaves that width
    as it found it."""
    path = write_batches(str(tmp_path), stream_rows)
    sdf = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    q = SINK_STARTS[sink](sdf.groupBy("event_type").count(), tmp_path)
    try:
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        S.run_until_drained(q)
    finally:
        spark.catalog.dropTempView("width_pin")
    assert len(q.recentProgress) == 3
    assert _state_widths(q.recentProgress) == {S.STREAM_PARTITIONS}
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


@pytest.mark.parametrize("sink", ["foreach_batch", "idempotent_foreach_batch"])
def test_callbacks_run_batch_jobs_at_core_width(
    spark, tmp_path, stream_rows, width_8, sink
):
    """A ``foreachBatch`` callback's batch jobs run at one shuffle
    partition per core while the stream's state stays at
    :data:`STREAM_PARTITIONS`."""
    seen: list[str] = []

    def record(batch_df, batch_id):
        seen.append(batch_df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        batch_df.count()

    path = write_batches(str(tmp_path), stream_rows)
    sdf = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    counts = sdf.groupBy("event_type").count()
    if sink == "foreach_batch":
        q = S.foreach_batch(counts, record, mode="complete")
    else:
        q = S.idempotent_foreach_batch(
            counts, record, str(tmp_path / "ledger"), mode="complete"
        )
    S.run_until_drained(q)
    cores = str(spark.sparkContext.defaultParallelism)
    assert seen == [cores] * 3
    assert _state_widths(q.recentProgress) == {S.STREAM_PARTITIONS}


def test_sink_restores_width_when_start_raises(spark, tmp_path, stream_rows, width_8):
    """Append mode on an aggregation without a watermark fails inside
    ``start()``; the session's width is still restored."""
    path = write_batches(str(tmp_path), stream_rows)
    sdf = S.file_stream(spark, path, EVENTS_SCHEMA)
    with pytest.raises(Exception, match="(?i)append"):
        S.to_memory(sdf.groupBy("event_type").count(), "width_fail", mode="append")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_concurrent_starts_restore_the_sessions_width(spark, width_8):
    """Two starts on different threads each see the stream width and
    leave the session at its own: one start's restore cannot land
    inside the other's pin."""

    class SlowWriter:
        def start(self):
            time.sleep(0.3)
            return spark.conf.get("spark.sql.shuffle.partitions")

    class Frame:
        sparkSession = spark

    seen: list[str] = []
    threads = [
        threading.Thread(target=lambda: seen.append(S._start(Frame, SlowWriter())))
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert seen == [str(S.STREAM_PARTITIONS)] * 2
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_restart_keeps_an_older_checkpoints_width(spark, tmp_path, width_8):
    """A stream checkpointed at width 4 before the sinks pinned a width
    resumes at width 4 through :func:`idempotent_foreach_batch`, and
    its callback sees exactly the rows landed in between: the re-sent
    id 1 is dropped by the dedup state the checkpoint kept."""
    src = tmp_path / "in"
    src.mkdir()
    ledger = str(tmp_path / "ledger")

    def land(name, ids):
        with open(src / name, "w") as f:
            f.writelines(json.dumps(row(i, 0)) + "\n" for i in ids)

    def deduped():
        sdf = S.file_stream(spark, str(src), EVENTS_SCHEMA)
        return sdf.dropDuplicates(["event_id"])

    land("f0.json", [1, 2])
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    q = (
        deduped()
        .writeStream.option("checkpointLocation", ledger + "_checkpoint")
        .foreachBatch(_consume)
        .start()
    )
    S.run_until_drained(q)
    assert _state_widths(q.recentProgress) == {4}

    spark.conf.set("spark.sql.shuffle.partitions", "8")
    land("f1.json", [3, 1, 4, 3])
    seen: list[int] = []

    def effect(batch_df, batch_id):
        seen.extend(r["event_id"] for r in batch_df.collect())

    progress = S.drain(
        spark, lambda: S.idempotent_foreach_batch(deduped(), effect, ledger)
    )
    assert _state_widths(progress) == {4}
    assert sorted(seen) == [3, 4]


def test_to_console_drains_untruncated(spark, tmp_path, stream_rows):
    """K1: the console sink runs through a drain, sees every row and
    prints untruncated, like the reference's."""
    path = write_batches(str(tmp_path), stream_rows)
    queries = []

    def start():
        sdf = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
        queries.append(S.to_console(sdf.select("event_id", "event_type")))
        return queries[0]

    progress = S.drain(spark, start)
    assert sum(p.numInputRows for p in progress) == 8
    assert "truncate=false" in queries[0]._jsq.explainInternal(False)


def test_replay_parquet_reads_one_file_and_stages_nothing(
    spark, tmp_path, monkeypatch
):
    """The replay is a file-stream glob matching only the given file,
    even when its path holds glob characters; no staging dir is made."""
    import pandas as pd

    src = tmp_path / "in[1]{a,b}*?"
    src.mkdir()
    pd.DataFrame({"x": [1, 2, 3]}).to_parquet(src / "rows.parquet")
    pd.DataFrame({"x": [9]}).to_parquet(src / "rows.parquet2")
    pd.DataFrame({"x": [9]}).to_parquet(src / "other.parquet")
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    sdf = S.replay_parquet(spark, str(src / "rows.parquet"))
    got = S.drain_to_table(spark, sdf, mode="append")
    assert os.listdir(scratch) == []
    assert sorted(r["x"] for r in got.collect()) == [1, 2, 3]


def test_parse_json_value_flat_and_array(spark):
    flat_schema = T.StructType([T.StructField("a", T.IntegerType())])
    df = spark.createDataFrame([('{"a": 1}',)], ["value"])
    assert S.parse_json_value(df, flat_schema).collect()[0]["a"] == 1

    arr_schema = T.ArrayType(flat_schema)
    df2 = spark.createDataFrame([('[{"a": 1}, {"a": 2}]',)], ["value"])
    got = sorted(r["a"] for r in S.parse_json_value(df2, arr_schema).collect())
    assert got == [1, 2]


def test_stream_static_join_broadcasts_dim(spark, tmp_path, stream_rows):
    path = write_batches(str(tmp_path), stream_rows)
    dim = spark.createDataFrame(
        [(1, "gold")], "user_id long, tier string"
    )
    sdf = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    joined = S.stream_static_join(sdf, dim, on=["user_id"])
    got = S.drain_to_table(spark, joined, mode="append")
    rows = got.collect()
    assert len(rows) == 8  # every event user=1 enriched
    assert all(r["tier"] == "gold" for r in rows)


def test_stream_interval_join_multi_batch_equals_batch(spark, tmp_path):
    # Clicks and errors interleaved across micro-batches, including a
    # cross-batch match (click in batch 0, its error in batch 2) and an
    # out-of-window error (21 min later).
    batches = [
        [row(1, 0, "click", user=1), row(2, 1, "error", user=1)],
        [row(3, 5, "click", user=2), row(4, 8, "error", user=2)],
        [
            row(5, 9, "error", user=1),  # matches click 1 (9 min later)
            row(6, 30, "error", user=2),  # 25 min after click 3: no match
            row(7, 40, "click", user=3),  # no error ever
        ],
    ]
    path = write_batches(str(tmp_path), batches)

    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("cuser"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        errors = df.filter(F.col("event_type") == "error").select(
            F.col("user_id").alias("euser"),
            F.col("event_id").alias("err_id"),
            F.col("ts").alias("err_ts"),
        )
        return clicks, errors

    sdf = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    sc, se = split(sdf)
    streamed = S.drain_to_table(
        spark,
        S.stream_interval_join(
            sc, se, "click_ts", "err_ts",
            keys=[("cuser", "euser")], within="10 minutes",
            watermark="5 minutes",
        ).select("click_id", "err_id"),
        mode="append",
    )
    got = sorted((r["click_id"], r["err_id"]) for r in streamed.collect())
    assert got == [(1, 2), (1, 5), (3, 4)]

    # Batch twin over the same files must agree.
    bdf = spark.read.schema(EVENTS_SCHEMA).json(path)
    bc, be = split(bdf)
    batch = (
        bc.join(
            be,
            (F.col("cuser") == F.col("euser"))
            & (F.col("err_ts") >= F.col("click_ts"))
            & (F.col("err_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        )
        .select("click_id", "err_id")
        .collect()
    )
    assert sorted((r["click_id"], r["err_id"]) for r in batch) == got


def test_incremental_rollup_multi_batch(spark, tmp_path):
    """Continuous aggregate: a window updated across micro-batches ends
    at its final value, untouched window partitions survive, and the
    snapshot equals the batch aggregation of all input."""
    batches = [
        [row(1, 0), row(2, 1)],              # window 00:00 -> 2 events
        [row(3, 20, etype="error")],         # window 00:15 (other type)
        [row(4, 2), row(5, 46)],             # 00:00 grows to 3; 00:45 new
    ]
    path = write_batches(str(tmp_path), batches)
    snap = str(tmp_path / "rollup")
    sdf = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = ingest.incremental_windowed_rollup(
            sdf,
            ts_col="ts",
            window_duration="15 minutes",
            keys=["event_type"],
            aggs=[F.count(F.lit(1)).alias("n_events")],
            snapshot_dir=snap,
            watermark="1 hour",
        )
        S.run_until_drained(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    got = {
        (r["window_us"], r["event_type"]): r["n_events"]
        for r in ingest.read_rollup(spark, snap).collect()
    }
    bdf = spark.read.schema(EVENTS_SCHEMA).json(path)
    want = {
        (r["window_us"], r["event_type"]): r["n_events"]
        for r in bdf.groupBy(
            F.unix_micros(F.window("ts", "15 minutes").start).alias(
                "window_us"
            ),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want
    assert len(got) == 3  # 00:00 click=3, 00:15 error=1, 00:45 click=1
    # The update path really did go through multiple batches: the final
    # 00:00 count (3) spans batches 0 and 2.
    assert got[min(got)[0], "click"] == 3


def test_streaming_asof_join_multi_batch_improvement(spark, tmp_path):
    """Cross-batch as-of state machine: a purchase matched in batch 0 is
    RE-matched when a closer (but still at-or-before) click arrives late
    in a later batch; out-of-tolerance and never-matched purchases stay
    absent; the final reduce equals the batch as-of."""
    from ue_big_data_project_spark.queries.events import asof_join_stream

    batches = [
        # user 1: click @2, purchase @10 -> first match = minute 2.
        [row(1, 2, "click", user=1), row(2, 10, "purchase", user=1)],
        # user 1: LATE click @8 (within watermark) improves the match;
        # user 2: purchase @9 with no click yet.
        [row(3, 8, "click", user=1), row(4, 9, "purchase", user=2)],
        # user 2: click @5 arrives after its purchase (late, eligible);
        # user 3: purchase @50 whose only click is 40 min earlier ->
        # outside the 30-min tolerance, never emits.
        [
            row(5, 5, "click", user=2),
            row(6, 3, "click", user=3),
            row(7, 50, "purchase", user=3),
        ],
    ]
    path = write_batches(str(tmp_path), batches)
    sdf = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    purchases = sdf.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = sdf.filter(F.col("event_type") == "click").select("user_id", "ts")
    drained = S.drain_to_table(
        spark,
        asof_join_stream(
            purchases, clicks,
            left_ts="ts", right_ts="ts",
            key="user_id", left_id="event_id",
            tolerance_seconds=1800, watermark="1 hour",
        ),
        mode="update",
    )
    # Raw emissions contain BOTH the original and the improved match for
    # purchase 2 (convergent emission), in micro-batch order.
    raw = sorted(
        (r["left_id"], r["asof_us"]) for r in drained.collect()
    )
    us = lambda minute: 1704067200000000 + minute * 60_000_000
    assert raw == [(2, us(2)), (2, us(8)), (4, us(5))]
    # Final reduce = the batch as-of answer.
    final = {
        r["left_id"]: r["best_us"]
        for r in drained.groupBy("left_id")
        .agg(F.max("asof_us").alias("best_us"))
        .collect()
    }
    assert final == {2: us(8), 4: us(5)}


def test_streaming_asof_join_state_is_pruned(spark, tmp_path):
    """Watermark-driven pruning: once the watermark passes a purchase,
    the key's retained state shrinks — asserted via the state-store
    metrics of the final progress (total state rows < total events)."""
    from ue_big_data_project_spark.queries.events import asof_join_stream

    batches = [
        [row(i, m, "click" if i % 2 else "purchase", user=1)
         for i, m in enumerate(range(0, 10))],
        # Jump event time far ahead: watermark (10 min) passes everything
        # in batch 0, so its lefts AND rights must leave the state.
        [row(50, 55, "click", user=1)],
        [row(51, 56, "purchase", user=1)],
    ]
    path = write_batches(str(tmp_path), batches)
    sdf = S.file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger=1)
    purchases = sdf.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = sdf.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join_stream(
        purchases, clicks,
        left_ts="ts", right_ts="ts",
        key="user_id", left_id="event_id",
        tolerance_seconds=120, watermark="10 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_asof_prune")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    rows_in_state = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    q.stop()
    # One key with (1 click + 1 purchase) retained, not the 11 earlier
    # events — state is bounded by the watermark, not stream length.
    assert rows_in_state <= 1, rows_in_state


def test_ivf_ingest_stream_matches_one_shot_build(spark, tmp_path):
    """Continuous embedding ingestion: three micro-batches streamed into
    a persisted IVF index with a frozen quantizer must equal the one-shot
    tag-and-write of the full corpus against the same centroids, probes
    included; a full replay (fresh stream, same ledger) changes nothing."""
    import os as _os

    from ue_big_data_project_spark.operators.similarity import (
        _write_tagged,
        ivf_knn_indexed,
        kmeans_centroids,
    )
    from ue_big_data_project_spark.queries.tables import load_tables

    e = load_tables(spark, "/root/testdata/sf0.001", ("embeddings",))[
        "embeddings"
    ]
    import glob as _glob
    import shutil as _shutil

    src = str(tmp_path / "arrivals")
    _os.makedirs(src)
    base = 1_700_000_000
    for i in range(3):
        stage = str(tmp_path / f"stage_{i}")
        e.filter(F.col("vec_id") % 3 == i).coalesce(1).write.parquet(stage)
        # The file-stream source lists plain FILES in src, not nested
        # write directories — promote the single part file.
        (part,) = _glob.glob(_os.path.join(stage, "part-*.parquet"))
        f = _os.path.join(src, f"part_{i}.parquet")
        _shutil.move(part, f)
        _os.utime(f, (base + i * 60, base + i * 60))

    idx = str(tmp_path / "ivf_stream")
    cents = kmeans_centroids(e, n_centroids=8, iters=1)
    cents.write.parquet(idx + "_centroids")
    ledger = str(tmp_path / "ledger")

    def run_stream():
        sdf = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        S.run_until_drained(ingest.ivf_ingest_stream(sdf, idx, ledger))

    run_stream()

    full = str(tmp_path / "ivf_oneshot")
    _write_tagged(e, cents, full, "vec_id", "embedding", 6, "overwrite")
    cents.write.parquet(full + "_centroids")

    def placement(path):
        return sorted(
            map(
                tuple,
                spark.read.parquet(path).select("vec_id", "cell").collect(),
            )
        )

    assert placement(idx) == placement(full)

    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = ivf_knn_indexed(spark, idx, queries, k=5, nprobe=2)
    want = ivf_knn_indexed(spark, full, queries, k=5, nprobe=2)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    # Replay: a fresh stream over the same arrivals re-presents batch
    # ids 0..2; the ledger skips them all and the index is unchanged.
    before = placement(idx)
    run_stream()
    assert placement(idx) == before


def test_ivf_ingest_stream_refuses_flat_layout(spark, tmp_path):
    """The stream refuses to write batch partitions into a one-shot
    build_ivf_index layout (conflicting partition schemas would brick
    every subsequent read)."""
    import os as _os

    from ue_big_data_project_spark.operators.similarity import (
        build_ivf_index,
    )
    from ue_big_data_project_spark.queries.tables import load_tables

    e = load_tables(spark, "/root/testdata/sf0.001", ("embeddings",))[
        "embeddings"
    ]
    idx = str(tmp_path / "ivf_flat")
    build_ivf_index(e, idx, n_centroids=8, kmeans_iters=1)

    src = str(tmp_path / "arrivals")
    _os.makedirs(src)
    e.limit(10).coalesce(1).write.parquet(str(tmp_path / "stage"))
    import glob as _glob
    import shutil as _shutil

    (part,) = _glob.glob(str(tmp_path / "stage" / "part-*.parquet"))
    _shutil.move(part, _os.path.join(src, "a.parquet"))

    sdf = spark.readStream.schema(e.schema).parquet(src)
    q = ingest.ivf_ingest_stream(sdf, idx, str(tmp_path / "ledger"))
    import pytest
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="flat"):
        q.processAllAvailable()
    q.stop()


def test_streaming_asof_join_string_keys(spark, tmp_path):
    """The join key's type flows into the output schema: string-keyed
    streams work unchanged (the state machine treats the key opaquely)."""
    from ue_big_data_project_spark.queries.events import asof_join_stream

    batches = [
        [row(1, 2, "click", user=1), row(2, 10, "purchase", user=1)],
        [row(3, 8, "click", user=1)],
    ]
    path = write_batches(str(tmp_path), batches)
    sdf = S.file_stream(
        spark, path, EVENTS_SCHEMA, max_files_per_trigger=1
    ).withColumn("user_id", F.concat(F.lit("u-"), F.col("user_id")))
    purchases = sdf.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = sdf.filter(F.col("event_type") == "click").select("user_id", "ts")
    drained = S.drain_to_table(
        spark,
        asof_join_stream(
            purchases, clicks,
            left_ts="ts", right_ts="ts",
            key="user_id", left_id="event_id",
            tolerance_seconds=1800, watermark="1 hour",
        ),
        mode="update",
    )
    rows = drained.groupBy("key", "left_id").agg(
        F.max("asof_us").alias("best")
    ).collect()
    assert len(rows) == 1
    assert rows[0]["key"] == "u-1" and rows[0]["left_id"] == 2
    assert rows[0]["best"] == 1704067200000000 + 8 * 60_000_000


def test_restart_from_checkpoint_restores_dedup_state(spark, tmp_path):
    """K7 lifecycle: stop a stateful streaming query mid-source and
    RESTART it from the same checkpointLocation — the dedup state must
    survive the restart (a key emitted before the stop must NOT
    re-emit after it), and the file-sink transaction log must keep the
    output exactly-once across the restart."""
    import os as _os

    from pyspark.sql import functions as F

    from ue_big_data_project_spark import streaming as S

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _os.makedirs(src)

    schema = "entry_id long, v long"

    def write_file(name, rows):
        stage = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        import glob as _glob
        import shutil as _shutil

        (part,) = _glob.glob(_os.path.join(stage, "part-*.parquet"))
        _shutil.move(part, _os.path.join(src, f"{name}.parquet"))

    def run_once():
        sdf = spark.readStream.schema(schema).parquet(src)
        deduped = S.dedup_stream(sdf, ["entry_id"])
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    # Phase 1: keys 1-3 flow through and the query STOPS.
    write_file("f0", [(1, 10), (2, 20), (3, 30), (2, 21)])
    run_once()
    first = spark.read.parquet(out)
    assert sorted(r.entry_id for r in first.collect()) == [1, 2, 3]

    # Phase 2: a new file re-sends keys 2-3 and adds 4-5; the restarted
    # query must suppress 2-3 from its RESTORED state, not re-emit them.
    write_file("f1", [(2, 22), (3, 31), (4, 40), (5, 50)])
    run_once()
    final = spark.read.parquet(out)
    assert sorted(r.entry_id for r in final.collect()) == [1, 2, 3, 4, 5]
    # Exactly one surviving row per key across both runs (no duplicate
    # emission through the restart).
    counts = final.groupBy("entry_id").count().collect()
    assert all(r["count"] == 1 for r in counts)
    # The first-seen value won for re-sent keys (state, not reprocessing).
    vals = {r.entry_id: r.v for r in final.collect()}
    assert vals[2] in (20, 21) and vals[3] == 30


def _merge_stream_fixture(spark, tmp_path):
    """3 ordered change batches (mtime-staggered single files under
    maxFilesPerTrigger=1) + the initial snapshot."""
    import os
    import time

    from pyspark.sql import functions as F

    initial = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, bal double",
    )
    batches = [
        [(1, 5.0), (2, 100.0)],          # update 1; 2 crosses delete bar
        [(2, 7.0), (4, 40.0)],           # 2 re-inserts; 4 inserts
        [(1, 1.0), (4, 2.0), (3, 99.0)],  # updates; 3 deleted
    ]
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    now = time.time()
    for i, rows in enumerate(batches):
        bdir = str(tmp_path / f"b{i}")
        spark.createDataFrame(rows, "id long, delta double").coalesce(
            1
        ).write.parquet(bdir)
        part = [f for f in os.listdir(bdir) if f.endswith(".parquet")][0]
        dst = os.path.join(stage, f"b{i}.parquet")
        os.symlink(os.path.join(bdir, part), dst)
        # Strictly increasing mtimes pin micro-batch ORDER (the file
        # source sorts by modification time; merge is order-sensitive).
        os.utime(dst, (now + i, now + i), follow_symlinks=False)
    sdf = spark.readStream.schema("id long, delta double").option(
        "maxFilesPerTrigger", 1
    ).parquet(stage)
    clauses = dict(
        update_set={"bal": F.col("t.bal") + F.col("s.delta")},
        delete_when=F.col("s.delta") >= 90.0,
        insert_values={"name": F.lit("ins"), "bal": F.col("s.delta")},
    )
    return initial, batches, sdf, clauses


def test_merge_ingest_stream_equals_sequential_batch_merges(
    spark, tmp_path
):
    """The streamed, versioned, ledgered merge sink must land EXACTLY
    the state of applying merge_into sequentially batch-by-batch —
    including order-sensitive effects (delete in batch 0 → re-insert in
    batch 1 → relative update in batch 2)."""
    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.operators.cdc import merge_into

    initial, batches, sdf, clauses = _merge_stream_fixture(spark, tmp_path)
    snap = str(tmp_path / "snap")
    q = ingest.merge_ingest_stream(sdf, initial, snap, ["id"], **clauses)
    ST.run_until_drained(q)
    got = sorted(
        map(tuple, ingest.read_merged_snapshot(spark, snap).collect())
    )

    want_df = initial
    for rows in batches:
        bdf = spark.createDataFrame(rows, "id long, delta double")
        want_df = merge_into(want_df, bdf, ["id"], **clauses)
    want = sorted(map(tuple, want_df.collect()))
    assert got == want
    # Spot-check the order-sensitive path: 2 was deleted (100 >= 90),
    # re-inserted at 7, untouched after; 1 = 10+5+1; 3 deleted; 4 =
    # 40 inserted + 2.
    assert got == [(1, "a", 16.0), (2, "ins", 7.0), (4, "ins", 42.0)]


def test_merge_ingest_stream_replay_windows_are_safe(spark, tmp_path):
    """The two crash windows around a batch commit:

    1. ledger-committed replay → the wrapper SKIPS the batch (marker
       present) — pinned by re-invoking the sink machinery over an
       already-drained ledger being a no-op on the version list;
    2. uncommitted replay (crash between snapshot write and marker) →
       the v=N rewrite is a PURE FUNCTION of immutable v=N−1 + batch N:
       recomputing it yields byte-equal rows (merge is deterministic),
       so a replay overwrites identical content instead of
       double-applying the relative update."""
    import os

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.operators.cdc import merge_into

    initial, batches, sdf, clauses = _merge_stream_fixture(spark, tmp_path)
    snap = str(tmp_path / "snap")
    q = ingest.merge_ingest_stream(sdf, initial, snap, ["id"], **clauses)
    ST.run_until_drained(q)
    versions = sorted(
        d for d in os.listdir(snap) if d.startswith("v=")
    )
    assert versions == ["v=0", "v=1", "v=2"]
    # Window 2: recompute v=2 from v=1 + batch 2 — identical rows.
    v1 = spark.read.parquet(os.path.join(snap, "v=1"))
    b2 = spark.createDataFrame(batches[2], "id long, delta double")
    recomputed = merge_into(v1, b2, ["id"], **clauses)
    assert sorted(map(tuple, recomputed.collect())) == sorted(
        map(tuple, spark.read.parquet(os.path.join(snap, "v=2")).collect())
    )
    # Window 1: every batch is ledger-committed; readers resolve v=2.
    committed = ingest._committed_batch_ids(os.path.join(snap, "_ledger"))
    assert committed == [0, 1, 2]
    got = ingest.read_merged_snapshot(spark, snap)
    assert got.inputFiles()[0].find("v=2") >= 0


def test_merge_ingest_stream_prunes_old_versions(spark, tmp_path):
    from ue_big_data_project_spark import streaming as ST

    initial, _, sdf, clauses = _merge_stream_fixture(spark, tmp_path)
    snap = str(tmp_path / "snap")
    q = ingest.merge_ingest_stream(
        sdf, initial, snap, ["id"], retain_versions=1, **clauses
    )
    ST.run_until_drained(q)
    import os

    versions = sorted(d for d in os.listdir(snap) if d.startswith("v="))
    # After batch 2's prune, only the committed tail survives (plus the
    # just-written v=2 whose marker lands after the prune).
    assert "v=2" in versions and "v=0" not in versions


def test_read_merged_snapshot_time_travel(spark, tmp_path):
    from ue_big_data_project_spark import streaming as ST
    import pytest as _pt

    initial, batches, sdf, clauses = _merge_stream_fixture(spark, tmp_path)
    snap = str(tmp_path / "snap")
    ST.run_until_drained(
        ingest.merge_ingest_stream(sdf, initial, snap, ["id"], **clauses)
    )
    # v=0: after batch 0 only — 2 deleted (100 >= 90), 1 updated to 15.
    v0 = {r.id: r.bal for r in ingest.read_merged_snapshot(spark, snap, 0).collect()}
    assert v0 == {1: 15.0, 3: 30.0}
    with _pt.raises(ValueError, match="not a committed"):
        ingest.read_merged_snapshot(spark, snap, 99)


def test_bucketed_merge_stream_equals_copy_on_write_sink(spark, tmp_path):
    """The manifest/bucket variant must land EXACTLY the same end state
    as the copy-on-write sink (and therefore as sequential merge_into)
    — the layouts differ, the semantics must not."""
    from ue_big_data_project_spark import streaming as ST

    initial, batches, sdf, clauses = _merge_stream_fixture(spark, tmp_path)
    snap = str(tmp_path / "bsnap")
    q = ingest.bucketed_merge_ingest_stream(
        sdf, initial, snap, ["id"], n_buckets=4, **clauses
    )
    ST.run_until_drained(q)
    got = sorted(
        map(
            tuple,
            ingest.read_bucketed_merged_snapshot(spark, snap)
            .select("id", "name", "bal")
            .collect(),
        )
    )
    assert got == [(1, "a", 16.0), (2, "ins", 7.0), (4, "ins", 42.0)]


def test_bucketed_merge_stream_rewrites_only_touched_buckets(
    spark, tmp_path
):
    """The at-scale property: after bootstrap, each batch's version dir
    contains ONLY the buckets its change keys hash to; untouched
    buckets stay at their old version via the manifest."""
    import os

    from pyspark.sql import functions as F

    from ue_big_data_project_spark import streaming as ST

    initial = spark.createDataFrame(
        [(i, float(i)) for i in range(64)], "id long, bal double"
    )
    # One single-key change batch after bootstrap.
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    import time as _t

    now = _t.time()
    for i, rows in enumerate([[(7, 1.0)], [(9, 2.0)]]):
        bdir = str(tmp_path / f"c{i}")
        spark.createDataFrame(rows, "id long, delta double").coalesce(
            1
        ).write.parquet(bdir)
        part = [f for f in os.listdir(bdir) if f.endswith(".parquet")][0]
        dst = os.path.join(stage, f"c{i}.parquet")
        os.symlink(os.path.join(bdir, part), dst)
        os.utime(dst, (now + i, now + i), follow_symlinks=False)
    sdf = spark.readStream.schema("id long, delta double").option(
        "maxFilesPerTrigger", 1
    ).parquet(stage)
    snap = str(tmp_path / "snap")
    q = ingest.bucketed_merge_ingest_stream(
        sdf,
        initial,
        snap,
        ["id"],
        n_buckets=8,
        update_set={"bal": F.col("t.bal") + F.col("s.delta")},
    )
    ST.run_until_drained(q)
    # Batch 0 is the BOOTSTRAP (all buckets, merged with change c0);
    # batch 1 (change c1, key 9) touched exactly ONE bucket.
    buckets = [
        d for d in os.listdir(os.path.join(snap, "v=1"))
        if d.startswith("_bucket=")
    ]
    assert len(buckets) == 1, buckets
    # Manifest: exactly one bucket at v=1, the rest still at v=0.
    m = ingest._read_manifest(ingest._manifest_path(snap, 1))
    versions = sorted(m.values())
    assert versions.count(0) == 7 and versions.count(1) == 1, versions
    # Semantics intact (7 merged during bootstrap, 9 in batch 1).
    got = {r.id: r.bal for r in ingest.read_bucketed_merged_snapshot(spark, snap).collect()}
    assert got[7] == 8.0 and got[9] == 11.0 and got[0] == 0.0
    # Replay purity at bucket granularity: recompute batch 1's bucket
    # rewrite from manifest m-0's dirs + batch 1 — identical rows.
    from ue_big_data_project_spark.operators.cdc import merge_into

    m0 = ingest._read_manifest(ingest._manifest_path(snap, 0))
    b9 = buckets[0]
    bucket_id = int(b9.split("=")[1])
    prev = spark.read.parquet(
        os.path.join(snap, f"v={m0[bucket_id]}", f"_bucket={bucket_id}")
    )
    recomputed = merge_into(
        prev,
        spark.createDataFrame([(9, 2.0)], "id long, delta double"),
        ["id"],
        update_set={"bal": F.col("t.bal") + F.col("s.delta")},
    )
    stored = spark.read.parquet(os.path.join(snap, "v=1", b9))
    assert sorted(map(tuple, recomputed.collect())) == sorted(
        map(tuple, stored.collect())
    )


def test_bucketed_merge_insert_into_empty_bucket(spark, tmp_path):
    """A change key hashing to a bucket that has never held a row (no
    dir at its manifest version) must insert cleanly, not crash on the
    missing directory."""
    import os
    import time as _t

    from pyspark.sql import functions as F

    from ue_big_data_project_spark import streaming as ST

    # Tiny initial: with 32 buckets most are EMPTY at bootstrap.
    initial = spark.createDataFrame([(1, 1.0)], "id long, bal double")
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    found = None
    bucket_of = lambda df: df.select(
        F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(32)).alias("b")
    ).collect()[0]["b"]
    b1 = bucket_of(initial)
    # Find a key landing in a DIFFERENT bucket than id=1.
    for cand in range(2, 200):
        if bucket_of(
            spark.createDataFrame([(cand, 0.0)], "id long, bal double")
        ) != b1:
            found = cand
            break
    bdir = str(tmp_path / "c0")
    spark.createDataFrame(
        [(found, 5.0)], "id long, delta double"
    ).coalesce(1).write.parquet(bdir)
    part = [f for f in os.listdir(bdir) if f.endswith(".parquet")][0]
    os.symlink(os.path.join(bdir, part), os.path.join(stage, "c0.parquet"))
    sdf = spark.readStream.schema("id long, delta double").option(
        "maxFilesPerTrigger", 1
    ).parquet(stage)
    snap = str(tmp_path / "snap")
    # Bootstrap happens with batch 0 = the change batch itself; then the
    # insert lands in an empty bucket.
    q = ingest.bucketed_merge_ingest_stream(
        sdf,
        initial,
        snap,
        ["id"],
        n_buckets=32,
        update_set={"bal": F.col("t.bal") + F.col("s.delta")},
        insert_values={"bal": F.col("s.delta")},
    )
    ST.run_until_drained(q)
    got = {r.id: r.bal for r in ingest.read_bucketed_merged_snapshot(spark, snap).collect()}
    assert got == {1: 1.0, found: 5.0}


def test_cms_rollup_multibatch_and_replay_ledger(spark, tmp_path):
    """The CMS member of the streaming-sketch family: multi-batch
    counter partitions fold to EXACTLY the single-pass batch counters
    (merge == rebuild), and a replayed batch is single-counted because
    the ledger skips it (counter addition is NOT replay-absorbing —
    the qhist side of the idempotence contrast)."""
    import os

    from pyspark.sql import functions as F

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.operators import sketch as SK

    df = spark.range(4000).select(
        F.concat(F.lit("t"), (F.col("id") % 37).cast("string")).alias("v")
    )
    stage = str(tmp_path / "stage")
    df.repartition(4).write.parquet(stage)
    sdf = spark.readStream.schema("v string").option(
        "maxFilesPerTrigger", 1
    ).parquet(stage)
    counters_dir = str(tmp_path / "counters")
    ledger = str(tmp_path / "ledger")
    q = ingest.cms_ingest_stream(sdf, counters_dir, ledger, "v", depth=3, width=64)
    ST.run_until_drained(q)
    assert len(ingest._committed_batch_ids(ledger)) == 4
    merged = ingest.read_cms_rollup(spark, counters_dir)
    whole = SK.cms_counters(df, F.col("v"), depth=3, width=64)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )
    # Replay superset: a fresh stream over the same files with a new
    # checkpoint re-offers every batch; the ledger (keyed by batch id,
    # deterministic per-partition overwrite) keeps the sidecar
    # UNCHANGED — fold again and the counts are still single-counted.
    sdf2 = spark.readStream.schema("v string").option(
        "maxFilesPerTrigger", 1
    ).parquet(stage)
    q2 = ingest.cms_ingest_stream(
        sdf2, counters_dir, ledger, "v", depth=3, width=64
    )
    ST.run_until_drained(q2)
    again = ingest.read_cms_rollup(spark, counters_dir)
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_bucketed_time_travel_raises_on_pruned_version(spark, tmp_path):
    """Round-8 advice (medium): retention protects only the LATEST
    manifest's references plus the committed tail, so an older committed
    manifest can point at a pruned version dir. Resolving that version
    must FAIL LOUDLY (read_merged_snapshot's contract), never silently
    skip the missing bucket and return a partial snapshot."""
    import os
    import time

    import pytest as _pt
    from pyspark.sql import functions as F

    from ue_big_data_project_spark import streaming as ST

    # Two ids per bucket (n_buckets=2), discovered from the sink's own
    # hash so the batch → touched-bucket mapping is deterministic.
    probe = spark.range(1, 40).select(
        F.col("id"),
        F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(2))
        .cast("int")
        .alias("b"),
    )
    by_bucket = {
        b: [r.id for r in probe.where(F.col("b") == b).limit(2).collect()]
        for b in (0, 1)
    }
    a0, a1 = by_bucket[0]
    b0, _ = by_bucket[1]
    initial = spark.createDataFrame(
        [(a0, 1.0), (b0, 2.0)], "id long, bal double"
    )
    # batch 0 bootstraps (all buckets from `initial`); b1 touches
    # bucket 0 only; b2 touches bucket 0 only (evicting v=1 from the
    # latest manifest); b3 touches bucket 1 (its prune drops v=1: not
    # referenced by m-2, outside the retain_versions=1 tail).
    batches = [
        [(a0, 5.0)],
        [(a0, 10.0)],
        [(a1, 20.0)],
        [(b0, 30.0)],
    ]
    stage = str(tmp_path / "ttstage")
    os.makedirs(stage)
    now = time.time()
    for i, rows in enumerate(batches):
        bdir = str(tmp_path / f"ttb{i}")
        spark.createDataFrame(rows, "id long, bal double").coalesce(
            1
        ).write.parquet(bdir)
        part = [f for f in os.listdir(bdir) if f.endswith(".parquet")][0]
        dst = os.path.join(stage, f"b{i}.parquet")
        os.symlink(os.path.join(bdir, part), dst)
        os.utime(dst, (now + i, now + i), follow_symlinks=False)
    sdf = spark.readStream.schema("id long, bal double").option(
        "maxFilesPerTrigger", 1
    ).parquet(stage)
    snap = str(tmp_path / "ttsnap")
    q = ingest.bucketed_merge_ingest_stream(
        sdf,
        initial,
        snap,
        ["id"],
        update_set={"bal": F.col("s.bal")},
        insert_values={"bal": F.col("s.bal")},
        n_buckets=2,
        retain_versions=1,
    )
    ST.run_until_drained(q)
    committed = ingest._committed_batch_ids(os.path.join(snap, "_ledger"))
    assert committed == [0, 1, 2, 3]
    # Version 1's dir must actually be pruned while manifest m-1 still
    # references it for bucket 0 — the silent-partial setup.
    assert not os.path.isdir(os.path.join(snap, "v=1"))
    # Latest still reads fine (bucket 0 at v=2, bucket 1 at v=3).
    got = {
        r.id: r.bal
        for r in ingest.read_bucketed_merged_snapshot(spark, snap).collect()
    }
    assert got == {a0: 10.0, a1: 20.0, b0: 30.0}
    # Time-travel to v=1: bucket 1's data still exists (v=0), bucket 0's
    # was pruned with v=1 — a silent read would return HALF the table.
    # (Round-9 manifest retention prunes m-1 alongside v=1, so this
    # raises at manifest resolution.)
    with _pt.raises(ValueError, match="no longer fully retained"):
        ingest.read_bucketed_merged_snapshot(spark, snap, version=1)
    # The crash-window variant: a manifest SURVIVES but a version dir
    # it references is gone (manually simulated — the two prune loops
    # share a keep set, so only a crash between them leaves this
    # state). The reader must still fail loudly, not skip the bucket.
    import shutil as _sh

    _sh.rmtree(os.path.join(snap, "v=2"))
    with _pt.raises(ValueError, match="pruned version dir"):
        ingest.read_bucketed_merged_snapshot(spark, snap)


def test_cluster_ingest_stream_equals_one_shot_clustering(spark, tmp_path):
    """Round-9: the streaming cluster-maintenance sink's final map must
    equal clustering the whole corpus at once over band-sharing pairs —
    batching, index growth, and bucket-partial rewrites must cancel."""
    import os
    import time

    from pyspark.sql import functions as F

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.operators.dedup import (
        minhash_band_rows,
        read_cluster_map,
    )
    from ue_big_data_project_spark.operators.graph import (
        connected_components,
    )

    docs = [
        (i, f"the quick brown fox jumps over dog {i % 5} again and again")
        for i in range(24)
    ] + [(100 + i, f"totally unrelated text number {i} " * 3) for i in range(4)]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    now = time.time()
    for i in range(3):
        bdir = str(tmp_path / f"cb{i}")
        d.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(bdir)
        part = [f for f in os.listdir(bdir) if f.endswith(".parquet")][0]
        dst = os.path.join(stage, f"b{i}.parquet")
        os.symlink(os.path.join(bdir, part), dst)
        os.utime(dst, (now + i, now + i), follow_symlinks=False)
    sdf = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(stage)
    root = str(tmp_path / "cmstream")
    q = ingest.cluster_ingest_stream(
        sdf,
        map_path=os.path.join(root, "cmap"),
        band_index_path=os.path.join(root, "bands"),
        ledger_dir=os.path.join(root, "_ledger"),
        n_buckets=8,
    )
    ST.run_until_drained(q)
    got = sorted(
        (r.doc_id, r.component)
        for r in read_cluster_map(spark, os.path.join(root, "cmap")).collect()
    )
    bands_all = minhash_band_rows(d, "doc_id", "text")
    a, b = bands_all.alias("a"), bands_all.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    want = sorted(
        (r.doc_id, r.component)
        for r in connected_components(
            d.select("doc_id"), pairs,
            node_col="doc_id", src_col="id_a", dst_col="id_b",
        ).collect()
    )
    assert got == want
    # Replay-absorbing: re-applying the last increment is a no-op.
    from ue_big_data_project_spark.operators.dedup import append_cluster_map

    last = d.filter(F.col("doc_id") % 3 == 2)
    changed = append_cluster_map(
        spark,
        os.path.join(root, "cmap"),
        last.select("doc_id"),
        pairs.join(
            last.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi"
        ),
    )
    assert changed.count() == 0
    got2 = sorted(
        (r.doc_id, r.component)
        for r in read_cluster_map(spark, os.path.join(root, "cmap")).collect()
    )
    assert got2 == got


def test_ledger_compaction_bounds_marker_files(tmp_path):
    """Round-9 scale fix: without compaction the per-batch ledger scan
    is O(total batches ever) and a long-lived stream goes quadratic.
    The contiguous committed prefix folds into one _watermark file;
    loose markers stay bounded; committed ids and replay skips are
    unchanged."""
    import os

    from ue_big_data_project_spark import fs
    from ue_big_data_project_spark import streaming as ST

    ledger = str(tmp_path / "_ledger")
    fs.makedirs(ledger)
    for b in range(200):
        fs.write_text_atomic(
            os.path.join(ledger, f"batch-{b}.done"), "done"
        )
        ST._compact_ledger(ledger)
    files = os.listdir(ledger)
    loose = [f for f in files if f.startswith("batch-")]
    assert len(loose) < ST._LEDGER_COMPACT_THRESHOLD + 1
    assert "_watermark" in files
    assert ingest._committed_batch_ids(ledger) == list(range(200))
    # Ids folded into the watermark still count as committed (replay
    # of a compacted batch must skip, even with its marker deleted).
    assert ST._ledger_watermark(ledger) >= 200 - ST._LEDGER_COMPACT_THRESHOLD
    # A GAP stalls the watermark but never loses ids.
    fs.write_text_atomic(os.path.join(ledger, "batch-205.done"), "done")
    ST._compact_ledger(ledger)
    got = ingest._committed_batch_ids(ledger)
    assert got == list(range(200)) + [205]


def test_ledger_bounded_helpers_match_enumeration(tmp_path):
    """The sinks' hot paths and snapshot readers use the bounded
    (watermark, loose)-derived helpers, never the materialized
    committed-id range — which is O(total batches ever) per batch
    (round-9 advice). Pin the helpers' arithmetic against the
    enumerating utility across prefix/gap shapes."""
    import os

    from ue_big_data_project_spark import fs

    ledger = str(tmp_path / "_ledger")
    fs.makedirs(ledger)
    # Compacted prefix 0..149 + a gap + loose markers 152, 155.
    fs.write_text_atomic(os.path.join(ledger, "_watermark"), "149")
    for b in (152, 155):
        fs.write_text_atomic(os.path.join(ledger, f"batch-{b}.done"), "done")
    ids = ingest._committed_batch_ids(ledger)
    assert ids == list(range(150)) + [152, 155]
    assert ingest._latest_committed(ledger) == 155
    for n in (0, 1, 2, 3, 5, 200):
        assert ingest._committed_tail(ledger, n) == (ids[-n:] if n else [])
    for b in (0, 149, 150, 152, 153, 155, 156, 400):
        assert ingest._is_committed(ledger, b) == (b in ids)
        assert ingest._last_committed_before(ledger, b) == max(
            (i for i in ids if i < b), default=-1
        )
    # Empty ledger: every helper degrades to "nothing committed".
    empty = str(tmp_path / "_empty")
    fs.makedirs(empty)
    assert ingest._latest_committed(empty) == -1
    assert ingest._last_committed_before(empty, 7) == -1
    assert ingest._committed_tail(empty, 3) == []
    assert not ingest._is_committed(empty, 0)


def test_ledger_compaction_in_live_stream(spark, tmp_path, monkeypatch):
    """The wrapper skips batches <= watermark and compacts as it goes:
    a real drain past the (lowered) threshold keeps the ledger dir
    bounded while every batch's side effect still runs exactly once."""
    import os
    import time

    from ue_big_data_project_spark import streaming as ST

    monkeypatch.setattr(ST, "_LEDGER_COMPACT_THRESHOLD", 4)
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    now = time.time()
    for i in range(10):
        bdir = str(tmp_path / f"lb{i}")
        spark.createDataFrame([(i,)], "v long").coalesce(1).write.parquet(
            bdir
        )
        part = [f for f in os.listdir(bdir) if f.endswith(".parquet")][0]
        dst = os.path.join(stage, f"b{i}.parquet")
        os.symlink(os.path.join(bdir, part), dst)
        os.utime(dst, (now + i, now + i), follow_symlinks=False)
    sdf = spark.readStream.schema("v long").option(
        "maxFilesPerTrigger", 1
    ).parquet(stage)
    seen: list[int] = []
    ledger = str(tmp_path / "_ledger")
    q = ST.idempotent_foreach_batch(
        sdf, lambda df, bid: seen.append(bid), ledger_dir=ledger
    )
    ST.run_until_drained(q)
    assert seen == list(range(10))
    loose = [f for f in os.listdir(ledger) if f.startswith("batch-")]
    assert len(loose) <= 4
    assert ingest._committed_batch_ids(ledger) == list(range(10))


def test_constraints_ingest_stream_verdicts_and_replay(spark, tmp_path):
    """Per-batch suite verdicts land under batch_id=N and equal the
    batch-scoped one-shot suite; a replay against the same ledger is
    byte-stable."""
    import os

    from ue_big_data_project_spark import streaming as S
    from ue_big_data_project_spark.quality import (
        c_completeness,
        c_row_count,
        check_constraints,
    )

    docs = spark.createDataFrame(
        [(i, "x" if i % 4 else None) for i in range(20)],
        "doc_id long, text string",
    )
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    import time as _t

    now = _t.time()
    for i in range(2):
        bdir = str(tmp_path / f"b{i}")
        docs.filter(f"doc_id % 2 = {i}").coalesce(1).write.parquet(bdir)
        part = [f for f in os.listdir(bdir) if f.endswith(".parquet")][0]
        os.symlink(os.path.join(bdir, part), os.path.join(stage, f"b{i}.pq"))
        os.utime(os.path.join(bdir, part), (now + i, now + i))

    suite = [c_row_count(lo=1.0), c_completeness("text", lo=1.0)]
    verdicts = str(tmp_path / "verdicts")
    ledger = str(tmp_path / "ledger")

    def drain():
        sdf = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        S.run_until_drained(
            ingest.constraints_ingest_stream(sdf, verdicts, suite, ledger)
        )

    drain()
    got = {
        (r.batch_id, r.constraint): (r.observed, r.passed)
        for r in spark.read.parquet(verdicts).collect()
    }
    assert len(got) == 4  # 2 batches x 2 constraints
    for i in range(2):
        want = {
            r.constraint: (r.observed, r.passed)
            for r in check_constraints(
                docs.filter(f"doc_id % 2 = {i}"), suite
            ).collect()
        }
        for c, v in want.items():
            assert got[(i, c)] == v
    # Nulls sit at multiples of 4 (all even), so batch 0 fails
    # completeness while batch 1 is all-complete.
    assert got[(0, "completeness(text)")][1] is False
    assert got[(1, "completeness(text)")] == (1.0, True)

    files = lambda: sorted(  # noqa: E731
        os.path.join(dp, f)
        for dp, _, fns in os.walk(verdicts)
        for f in fns
        if f.endswith(".parquet")
    )
    before = files()
    drain()  # replay: ledger skips committed batches
    assert files() == before


def test_stage_batches_one_job_layout(spark, tmp_path):
    """stage_batches writes every batch as ONE parquet file whose rows
    equal the per-batch filter, staged with strictly increasing target
    mtimes (the FileStreamSource replay-order contract the old
    per-batch coalesce(1) loop enforced)."""
    import os

    from ue_big_data_project_spark.queries._replay import stage_batches

    df = spark.range(0, 30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )
    root = str(tmp_path / "stg")
    os.makedirs(root)
    stage = stage_batches(df, F.col("doc_id") % 3, root, n=3)
    mtimes = []
    for i in range(3):
        link = os.path.join(stage, f"b{i}.parquet")
        assert os.path.islink(link)
        got = spark.read.parquet(link)
        assert got.columns == ["doc_id", "text"]
        expect = df.filter(F.col("doc_id") % 3 == i)
        assert got.exceptAll(expect).count() == 0
        assert expect.exceptAll(got).count() == 0
        mtimes.append(os.stat(link).st_mtime)  # stats the TARGET
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3


def test_stage_batches_empty_batch_keeps_position(spark, tmp_path):
    """A batch value with no rows still stages an (empty) file so later
    batches keep their replay positions — order-sensitive consumers
    (CDC MERGE, the constraints ledger) count on batch ids."""
    import os

    from ue_big_data_project_spark.queries._replay import stage_batches

    df = spark.range(0, 10).select(
        F.col("id").alias("doc_id"),
        F.lit("x").alias("text"),
    )
    root = str(tmp_path / "stg")
    os.makedirs(root)
    # batch 1 is empty: doc_id % 4 in {0..3} mapped so value 1 never occurs
    batch = F.when(F.col("doc_id") < 5, F.lit(0)).otherwise(F.lit(2))
    stage = stage_batches(df, batch, root, n=3)
    counts = [
        spark.read.parquet(os.path.join(stage, f"b{i}.parquet")).count()
        for i in range(3)
    ]
    assert counts == [5, 0, 5]
