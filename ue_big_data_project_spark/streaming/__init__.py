"""Structured Streaming layer (SURVEY §2.1 S2, §2.2 K1-K3/K7, §2.6 A4, X13).

The reference's streaming surface is: Kafka stream scan → ``from_json``
parse → watermark → tumbling-window stateful agg → console/foreachBatch
sink → ``awaitTermination`` (src/naolib_consumer.py:49-175,
src/bike_consumer.py:62-151, src/previous_tp_code.py:191-240).

This engine exposes the same shapes source-agnostically: any streaming
DataFrame (file-stream, kafka, memory) flows through the same
operators, so every streaming pipeline is testable without Kafka by
replaying files — and the *logic* is shared with batch (same column
expressions), giving batch-vs-stream equivalence tests for free.

Scale notes: stateful aggs shuffle on (window, keys) into
:data:`STREAM_PARTITIONS` partitions, which the sinks pin when a query
starts, whatever the session's batch width: one state store per
stateful operator (RocksDB, set in ``session.get_spark``). The watermark
bounds window state, and dedup state only under the condition
:func:`dedup_stream` states. Late data beyond the watermark is dropped —
identical semantics to the reference's append-mode pipelines.

This module is the transit system's streaming core: sources, the JSON
parse, windowed aggregation, dedup, the sinks, the batch-id ledger
behind :func:`idempotent_foreach_batch`, and :func:`drain`. The
incremental ingest streams, MERGE and the windowed-rollup table built
on that ledger live in :mod:`ue_big_data_project_spark.streaming.ingest`.

Lifecycle: a query starts only in the four sinks (:func:`to_console`,
:func:`to_memory`, :func:`foreach_batch`, :func:`idempotent_foreach_batch`),
and every bounded run goes through :func:`drain`.
"""

from __future__ import annotations

import contextlib
import os
import re
import tempfile
import threading
import uuid
from typing import Callable

from ue_big_data_project_spark import fs

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ue_big_data_project_spark.session import local_relation
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-replay streaming source — the Kafka-less test/dev source.

    Each file dropped into ``path`` becomes (part of) a micro-batch,
    mirroring the producer cadence the reference gets from
    ``threading.Thread`` polling loops (src/naolib_producer.py:207-256).
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka stream scan with the reference's options
    (src/naolib_consumer.py:49-54). Requires the kafka connector jar on
    the classpath; everything downstream is source-agnostic."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def parse_json_value(
    df: DataFrame, schema: T.DataType, value_col: str = "value"
) -> DataFrame:
    """Kafka-style payload parse: binary/str ``value`` → columns.

    ``from_json`` PERMISSIVE (malformed → nulls), then ``data.*``
    expansion — the universal first step of every reference consumer
    (e.g. src/naolib_consumer.py:56-59). Array-typed schemas (the bike
    feed's message-is-an-array, src/bike_consumer.py:60-74) are exploded
    to one row per element.
    """
    parsed = df.select(
        F.from_json(F.col(value_col).cast("string"), schema).alias("data")
    )
    if isinstance(schema, T.ArrayType):
        return parsed.select(F.explode("data").alias("record")).select("record.*")
    return parsed.select("data.*")


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    window_duration: str,
    aggs: list[Column],
    group_cols: list[str] | None = None,
    watermark: str | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Tumbling — or, with ``slide``, SLIDING/hopping — event-time
    window aggregation (A4/X12).

    Works identically on batch and streaming inputs; on streams pass
    ``watermark`` to bound state and enable append-mode emission
    (src/naolib_consumer.py:79-85 shape). A sliding window fans each
    row into duration/slide overlapping windows (Spark expands this
    before the aggregation), so state and shuffle grow by that factor —
    keep the ratio small on unbounded streams.
    """
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = (
        F.window(ts_col, window_duration, slide)
        if slide
        else F.window(ts_col, window_duration)
    )
    keys = [win.alias("window")] + [F.col(c) for c in (group_cols or [])]
    return df.groupBy(*keys).agg(*aggs)


def dedup_stream(
    df: DataFrame, keys: list[str], watermark_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Keyed dedup (X13): state-backed on streams.

    A watermark bounds the dedup state only when ``keys`` include
    ``watermark_col``: Spark then evicts a key once the watermark passes
    its event time. When the keys lack the event-time column, as in the
    reference's ``dropDuplicates(["entry_id"])``
    (src/previous_tp_code.py:212) that the wind query uses, nothing is
    evicted and the state grows with every new key for the life of the
    query.
    """
    if df.isStreaming and watermark_col and watermark:
        return df.withWatermark(watermark_col, watermark).dropDuplicates(keys)
    return df.dropDuplicates(keys)


# Shuffle width of every stream the package starts. A stateful operator
# opens one state store per shuffle partition in every micro-batch, and
# committing the stores is most of a batch's cost: one store per operator
# is the cheapest commit, and the transit streams' state is thousands of
# keys. The stream binds the width when it starts; a restart takes it
# from its checkpoint's offset log, so an older checkpoint keeps its own.
# A foreachBatch callback's own batch jobs hold no state and run at one
# partition per core instead (:func:`_at_batch_width`).
STREAM_PARTITIONS = 1


@contextlib.contextmanager
def _pinned(spark: SparkSession, pins: dict[str, str]):
    """Set ``pins`` in the session's conf for the block, then restore
    each old value (or unset it), also when the block raises."""
    old = {key: spark.conf.get(key, None) for key in pins}
    for key, value in pins.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


# Serializes the save/set/start/restore of :func:`_start`: two starts
# interleaved on different threads would otherwise restore each other's
# pin and leave the session at the stream width.
_START_LOCK = threading.Lock()


def _start(df: DataFrame, writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer``'s query with ``spark.sql.shuffle.partitions``
    pinned to :data:`STREAM_PARTITIONS` on ``df``'s session. The query
    clones the session while it starts, so it keeps the width and the
    caller's session gets its own value back. A batch query running on
    the same session on another thread during ``start()`` also reads the
    stream width."""
    with _START_LOCK, _pinned(
        df.sparkSession, {"spark.sql.shuffle.partitions": str(STREAM_PARTITIONS)}
    ):
        return writer.start()


def to_console(
    df: DataFrame, mode: str = "append", trigger_interval: str | None = None
) -> StreamingQuery:
    """K1/K2 console sink (append or complete), untruncated like the
    reference's (src/previous_tp_code.py:231-236).

    ``trigger_interval`` (e.g. ``"60 seconds"``) replaces the
    reference's hand-rolled producer polling threads (S4,
    src/naolib_producer.py:207-256) with a declarative micro-batch
    cadence.
    """
    w = df.writeStream.outputMode(mode).format("console").option(
        "truncate", "false"
    )
    if trigger_interval:
        w = w.trigger(processingTime=trigger_interval)
    return _start(df, w)


def to_memory(
    df: DataFrame, name: str, mode: str = "append"
) -> StreamingQuery:
    """Memory sink — the deterministic test sink; query results with
    ``spark.sql(f"SELECT * FROM {name}")``."""
    return _start(
        df, df.writeStream.outputMode(mode).format("memory").queryName(name)
    )


def foreach_batch(
    df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    mode: str = "append",
) -> StreamingQuery:
    """K3 callback sink: per-micro-batch ``fn(batch_df, batch_id)``.

    The reference uses this to ``toPandas()`` + matplotlib-render each
    micro-batch (plot_bus_positions, src/naolib_consumer.py:119-162);
    any driver-side consumer fits.
    """
    return _start(
        df, df.writeStream.outputMode(mode).foreachBatch(_at_batch_width(df, fn))
    )


def _at_batch_width(
    df: DataFrame, fn: Callable[[DataFrame, int], None]
) -> Callable[[DataFrame, int], None]:
    """Wrap a ``foreachBatch`` callback so its own batch jobs run at one
    shuffle partition per core. ``batch_df.sparkSession`` is the stream's
    clone, at :data:`STREAM_PARTITIONS`: that width sizes state stores,
    and the callback's index joins and repartitioned writes hold no
    state, so in one task they only lose the cores."""
    width = str(df.sparkSession.sparkContext.defaultParallelism)

    def run(batch_df: DataFrame, batch_id: int) -> None:
        with _pinned(batch_df.sparkSession, {"spark.sql.shuffle.partitions": width}):
            fn(batch_df, batch_id)

    return run


def _ledgered(
    fn: Callable[[DataFrame, int], None], ledger_dir: str
) -> Callable[[DataFrame, int], None]:
    """Wrap a ``foreachBatch`` callback so it runs once per batch id.

    Spark's foreachBatch is at-least-once across restarts (a batch can
    re-run after a crash between side effect and checkpoint commit).
    The wrapper runs ``fn`` only for ids not yet in the ledger and
    records the id AFTER the side effect succeeds. The ledger is marker
    files, portable to object stores: all marker IO goes through the
    ``fs`` seam (POSIX locally, Hadoop FileSystem API for hdfs/s3a/gs
    paths).
    """
    fs.makedirs(ledger_dir)

    def wrapper(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(ledger_dir, f"batch-{batch_id}.done")
        if batch_id <= _ledger_watermark(ledger_dir) or fs.exists(marker):
            return
        fn(batch_df, batch_id)
        fs.write_text_atomic(marker, "done")
        _compact_ledger(ledger_dir)

    return wrapper


def idempotent_foreach_batch(
    df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    ledger_dir: str,
    mode: str = "append",
) -> StreamingQuery:
    """Exactly-once ``foreachBatch``: skip batch ids already committed
    to the ``ledger_dir`` idempotence ledger. Production sinks with
    native txn/batchId support (Delta, JDBC upsert) subsume it.

    It checkpoints into the sibling ``<ledger_dir>_checkpoint``, so a
    restart resumes its batch ids; from a fresh checkpoint they would
    restart at 0 and the ledger would skip new rows as done.
    """
    return _start(
        df,
        df.writeStream.outputMode(mode)
        .option("checkpointLocation", ledger_dir.rstrip("/") + "_checkpoint")
        .foreachBatch(_at_batch_width(df, _ledgered(fn, ledger_dir))),
    )


# Rows a per-batch artifact renders at most: a driver-side render must
# never collect an unbounded batch.
ARTIFACT_ROW_LIMIT = 10_000


def default_render(pdf, batch_id: int) -> str:
    """The default per-batch artifact: the batch slice as CSV."""
    return pdf.to_csv(index=False)


def _artifact_writer(
    out_dir: str, render: Callable[..., str]
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callback writing ``render(pdf, batch_id)`` of the
    batch's first :data:`ARTIFACT_ROW_LIMIT` rows to
    ``out_dir/batch-<id>.txt``."""
    fs.makedirs(out_dir)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        pdf = batch_df.limit(ARTIFACT_ROW_LIMIT).toPandas()
        path = os.path.join(out_dir, f"batch-{batch_id}.txt")
        fs.write_text_atomic(path, render(pdf, batch_id))

    return write


def per_batch_artifact_sink(
    df: DataFrame,
    out_dir: str,
    render: Callable[..., str] = default_render,
    mode: str = "append",
) -> StreamingQuery:
    """Worked example of the reference's render-per-micro-batch sink
    (plot_bus_positions, src/naolib_consumer.py:119-162): each batch, a
    BOUNDED slice is collected to pandas driver-side, rendered by
    ``render(pdf, batch_id) -> str``, and written to
    ``out_dir/batch-<id>.txt`` — one artifact per micro-batch.

    The reference's matplotlib figure becomes an artifact string here
    (default: CSV) since the render payload is interchangeable; what the
    example pins is the SINK SHAPE: ``limit()`` before ``toPandas()``,
    and the batch-id ledger, so a batch replayed after a crash does not
    re-write its artifact.
    """
    return idempotent_foreach_batch(
        df,
        _artifact_writer(out_dir, render),
        ledger_dir=os.path.join(out_dir, "_ledger"),
        mode=mode,
    )


def stream_static_join(
    stream: DataFrame,
    static: DataFrame,
    on: list[str] | Column,
    how: str = "inner",
    broadcast_static: bool = True,
) -> DataFrame:
    """Stream-static join: enrich a stream with a bounded dimension
    table (the Spark-native form of the reference's driver-side lookup
    dicts, e.g. the hard-coded ordered stop list of
    src/naolib_consumer.py:16-22).

    The static side is re-read per micro-batch (so slowly-changing dims
    pick up updates) and broadcast by default — a stream-static join
    must never shuffle the stream on the dim key, because that would
    re-key the stateful pipeline downstream. Stateless: no watermark
    needed, any join type Spark supports for the stream side.
    """
    if broadcast_static:
        static = F.broadcast(static)
    return stream.join(static, on, how)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    keys: list[str | tuple[str, str]] | None = None,
    within: str = "10 minutes",
    watermark: str = "1 minute",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream INTERVAL join: match right rows with
    ``left_ts <= right_ts <= left_ts + within``, optionally also equal
    on ``keys`` (a column name present on both sides, or a
    ``(left_name, right_name)`` pair when the sides were renamed to
    keep the output unambiguous).

    Key equalities belong IN the join condition, never as a post-join
    filter: they are what lets Spark key the join state and shuffle
    both streams to matching tasks — filtered-after, the state would
    buffer every key against every key.

    Both sides are watermarked (required by Spark for stream-stream
    joins so it can bound state): each side's buffered rows are evicted
    once the other side's watermark passes their join window — state is
    O(rate × (watermark + within)), never unbounded. ``left_ts`` /
    ``right_ts`` must be distinct column names (rename before joining).
    Inner joins emit as soon as a match arrives; outer joins emit
    null-padded rows only when the watermark proves no match can come.

    Scale: the join shuffles both streams on ``keys`` (or broadcasts
    nothing — there is no bounded side); skewed keys salt the same way
    as batch joins, and AQE does not apply (streaming plans are fixed
    at start). The sinks start every stream at
    :data:`STREAM_PARTITIONS` partitions, which its checkpoint keeps,
    so one task per batch holds the whole join state.
    """
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    cond = (F.col(right_ts) >= F.col(left_ts)) & (
        F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}")
    )
    for k in keys or []:
        lk, rk = (k, k) if isinstance(k, str) else k
        cond = cond & (left[lk] == right[rk])
    return left.join(right, cond, how)


def run_until_drained(query: StreamingQuery) -> None:
    """Process everything currently available, then stop (K7 lifecycle,
    deterministic test variant of ``awaitTermination``). Package code
    calls it only through :func:`drain`."""
    try:
        query.processAllAvailable()
    finally:
        query.stop()


def drain(
    spark: SparkSession, start: Callable[[], StreamingQuery]
) -> list:
    """Run a bounded stream to completion: ``start()`` it, process
    everything available, stop it, and return its ``recentProgress``.

    From before ``start()`` until the query stops, even when either
    raises, two settings are pinned and then restored (or unset):
    ``spark.sql.shuffle.partitions`` to :data:`STREAM_PARTITIONS`, and
    ``spark.sql.streaming.checkpointLocation`` to a scratch root that is
    removed afterwards, so no drain leaves a checkpoint behind. A query
    that sets its own checkpoint (:func:`idempotent_foreach_batch`)
    keeps it.

    The stream's own width comes from the sink's :func:`_start`, and
    that of the jobs its ``foreachBatch`` callbacks run on
    ``batch_df.sparkSession`` from :func:`_at_batch_width`, not from
    this pin. The pin reaches only batch jobs
    that ``start`` runs on ``spark`` before the query starts, such as
    the scorer :func:`~ue_big_data_project_spark.streaming.ingest.dsir_score_stream`
    materializes. Both pins are session-wide for the whole drain, so
    drains sharing one session must not overlap on different threads.
    """
    root = tempfile.mkdtemp(prefix="spark_graft_ckpt_")
    try:
        with _pinned(
            spark,
            {
                "spark.sql.shuffle.partitions": str(STREAM_PARTITIONS),
                "spark.sql.streaming.checkpointLocation": root,
            },
        ):
            query = start()
            run_until_drained(query)
            return query.recentProgress
    finally:
        fs.rmtree(root)


def _glob_escape(path: str) -> str:
    return re.sub(r"[\\{}\[\]*?^!]", lambda m: "\\" + m.group(), path)


def replay_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Replay an existing parquet file as a bounded stream.

    Spark's file-stream source reads directories or globs, so the stream
    reads the glob ``<path minus last char>[<last char>]``, which
    matches only this file; glob characters already in ``path`` are
    escaped. The schema read takes ``path`` literally instead (Spark's
    ``__globPaths__`` reader option): given the glob, Spark's probe for
    a streaming sink's metadata log looks up the glob as a file name and
    logs a stack trace on every replay. This is how the engine replays
    a batch table through its streaming operators (batch-vs-stream
    equivalence testing, backfill-through-the-streaming-path).
    """
    schema = spark.read.option("__globPaths__", "false").parquet(path).schema
    glob = f"{_glob_escape(path[:-1])}[{_glob_escape(path[-1])}]"
    return spark.readStream.schema(schema).parquet(glob)


def _drain_memory(
    spark: SparkSession, df: DataFrame, mode: str
) -> tuple[DataFrame, list]:
    """:func:`drain_to_table` that also returns the drain's progress."""
    name = f"drain_{uuid.uuid4().hex[:12]}"
    try:
        progress = drain(spark, lambda: to_memory(df, name, mode))
        # Detach the result from the memory sink so its table can be
        # dropped: otherwise every drain in a long-lived session keeps a
        # registered table holding the full result.
        return spark.table(name).localCheckpoint(eager=True), progress
    finally:
        spark.catalog.dropTempView(name)


def drain_to_table(
    spark: SparkSession, df: DataFrame, mode: str = "complete"
) -> DataFrame:
    """Run a streaming DataFrame until the source is drained; return the
    final result as a BATCH DataFrame (memory sink snapshot).

    The deterministic end-to-end harness: bounded replay in, one
    :func:`drain`, stable table out — which makes whole streaming
    pipelines value-hash-checkable against a SQL oracle.
    """
    return _drain_memory(spark, df, mode)[0]


def drain_to_table_with_artifacts(
    spark: SparkSession,
    df: DataFrame,
    art_dir: str,
    mode: str = "complete",
) -> DataFrame:
    """Single-drain fusion of :func:`drain_to_table` and
    :func:`per_batch_artifact_sink`: ONE pass over the stream whose
    ``foreachBatch`` both renders the bounded per-micro-batch artifact
    (batch-id-ledgered, so a replayed batch never re-writes its file)
    and takes the snapshot the caller hash-checks — instead of draining
    the same bounded source twice through two sinks.

    In ``complete`` mode every micro-batch carries the full result
    table, so the LAST batch's localCheckpoint IS the final snapshot
    (the same table a memory sink would hold). The artifact write stays
    inside the ledger guard; the snapshot capture sits outside it, so a
    ledger-skipped replay still refreshes the returned table.
    """
    write_artifact = _ledgered(
        _artifact_writer(art_dir, default_render),
        os.path.join(art_dir, "_ledger"),
    )
    holder: dict[str, DataFrame] = {}

    def cb(batch_df: DataFrame, batch_id: int) -> None:
        prev = holder.get("snapshot")
        holder["snapshot"] = batch_df.localCheckpoint(eager=True)
        if prev is not None:
            prev.unpersist()
        write_artifact(holder["snapshot"], batch_id)

    drain(spark, lambda: foreach_batch(df, cb, mode))
    if "snapshot" not in holder:
        return local_relation(spark, [], df.schema)
    return holder["snapshot"]


# Keep at most this many loose marker files before folding the
# contiguous prefix into the watermark. Low enough that the per-batch
# ledger scan stays O(1)-ish forever; high enough that compaction work
# (one tiny file write + a few deletes) amortizes to nothing.
_LEDGER_COMPACT_THRESHOLD = 64


def _ledger_watermark(ledger_dir: str) -> int:
    """Highest batch id folded into the compacted prefix: every id
    ``<= watermark`` is committed (its loose marker may be deleted).
    −1 when the ledger has never compacted."""
    path = os.path.join(ledger_dir, "_watermark")
    if not fs.exists(path):
        return -1
    return int(fs.read_text(path).strip())


def _loose_marker_ids(ledger_dir: str) -> list[int]:
    if not fs.isdir(ledger_dir):
        return []
    out = []
    for name in fs.listdir(ledger_dir):
        if name.startswith("batch-") and name.endswith(".done"):
            out.append(int(name[len("batch-"):-len(".done")]))
    return sorted(out)


def _compact_ledger(ledger_dir: str) -> None:
    """Fold the contiguous committed prefix into the ``_watermark``
    file and delete its loose markers — WITHOUT this, the per-batch
    ledger listing is O(total batches ever) and a long-lived stream
    goes quadratic. Crash-safe: the watermark is written atomically BEFORE
    any marker is deleted and ids ≤ watermark short-circuit the replay
    check, so a crash between the two steps only leaves redundant
    markers."""
    loose = _loose_marker_ids(ledger_dir)
    if len(loose) < _LEDGER_COMPACT_THRESHOLD:
        return
    w = _ledger_watermark(ledger_dir)
    for b in loose:
        if b == w + 1:
            w = b
        elif b > w + 1:
            break
    if w < 0:
        return
    fs.write_text_atomic(os.path.join(ledger_dir, "_watermark"), str(w))
    for b in loose:
        if b <= w:
            fs.remove(os.path.join(ledger_dir, f"batch-{b}.done"))
