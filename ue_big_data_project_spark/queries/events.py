"""Event-stream-shaped queries over the ``events`` table.

``events`` stands in for the reference's Kafka feeds (FIXTURES.md §mapping):
tumbling windows, keyed dedup, JSON parsing, and the theta/as-of join
shape — here in batch form so the DuckDB oracle can check them; the same
logic runs in streaming via ``ue_big_data_project_spark.streaming``
(tested batch-vs-stream in tests/test_streaming.py).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ue_big_data_project_spark import schemas
from ue_big_data_project_spark import streaming as ST
from ue_big_data_project_spark.functions import pround, sql_round
from ue_big_data_project_spark.operators.asof import asof_join
from ue_big_data_project_spark.queries import QuerySpec
from ue_big_data_project_spark.queries._replay import stage_batches
from ue_big_data_project_spark.queries.tpch import (
    d2,
    davg,
    dsum,
    sql_d2,
    sql_davg,
    sql_dsum,
)
from ue_big_data_project_spark.queries.tables import load_tables
from ue_big_data_project_spark.session import apply_session_conf


def events_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: grouped count + avg per (event_type, hour-of-day) — the Q2
    bus-affluence shape (batch_bus_affluence.ipynb cell 4 line 77) with
    hour bucketing as a native expression (U3 rewrite, SURVEY §2.10)."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    return (
        e.groupBy(
            "event_type",
            F.format_string("%02d:00", F.hour("ts")).alias("hour_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            davg(d2(F.col("value"))).alias("avg_value"),
        )
    )


EVENTS_HOURLY_SQL = f"""
SELECT event_type,
       lpad(CAST(hour(ts) AS VARCHAR), 2, '0') || ':00' AS hour_bucket,
       count(*) AS n_events,
       {sql_davg(sql_d2("value"))} AS avg_value
FROM events
GROUP BY event_type, hour(ts)
"""


def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/X12 batch form: tumbling event-time window aggregation.

    Same ``F.window(ts, '15 minutes')`` the streaming pipelines use
    (src/naolib_consumer.py:79-85, src/bike_consumer.py:91-100); in
    streaming it becomes a stateful agg behind a watermark
    (streaming.windowed_agg). Window start leaves as epoch micros.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    return (
        e.groupBy(F.window("ts", "15 minutes").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            davg(d2(F.col("value"))).alias("avg_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) event-time windows, batch form: 30-minute
    windows every 15 minutes — each event lands in exactly 2
    overlapping windows (``F.window(ts, '30 minutes', '15 minutes')``,
    which Spark expands row→windows before one aggregation pass). The
    oracle replays the expansion as a UNION ALL of the two shifted
    15-minute buckets, the closed form of Spark's window-start rule
    (starts in (ts − 30 min, ts] at 15-minute boundaries)."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    return (
        e.groupBy(
            F.window("ts", "30 minutes", "15 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            davg(d2(F.col("value"))).alias("avg_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


EVENTS_SLIDING_SQL = f"""
WITH assigned AS (
  SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts))
           AS window_start_us, event_type, value
  FROM events
  UNION ALL
  SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts)
                  - INTERVAL '15 minutes'), event_type, value
  FROM events
)
SELECT window_start_us, event_type,
       count(*) AS n_events,
       {sql_davg(sql_d2("value"))} AS avg_value
FROM assigned
GROUP BY 1, 2
"""


EVENTS_TUMBLING_SQL = f"""
SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts)) AS window_start_us,
       event_type,
       count(*) AS n_events,
       {sql_davg(sql_d2("value"))} AS avg_value
FROM events
GROUP BY 1, 2
"""


def events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13 keyed dedup, deterministic form: earliest event per
    (user_id, event_type).

    ``dropDuplicates(key)`` (src/previous_tp_code.py:149,212) keeps an
    *arbitrary* row per key; the engine's batch form pins "first by event
    time, then id" so results are reproducible across engines and runs.
    The streaming form (state-backed dropDuplicates) is in
    streaming.dedup_stream.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
        )
    )


EVENTS_DEDUP_SQL = """
SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
FROM (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (
           PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC
         ) AS rn
  FROM events
) WHERE rn = 1
"""


def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: ``from_json`` with a declared StructType (schema registry),
    PERMISSIVE nulls — the reference's universal parse step
    (src/naolib_consumer.py:57 et al.). Grouped count over the extracted
    field."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    parsed = e.withColumn("p", F.from_json("props", schemas.EVENT_PROPS))
    return (
        parsed.select((F.col("p.k") % 10).alias("k_mod"))
        .groupBy("k_mod")
        .agg(F.count(F.lit(1)).alias("n"))
    )


EVENTS_PROPS_SQL = """
SELECT CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS INTEGER) % 10 AS k_mod,
       count(*) AS n
FROM events
GROUP BY 1
"""


def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): ``parse_json`` encodes
    the props column once into the binary variant form, and
    ``try_variant_get`` does typed path extraction WITHOUT a declared
    schema — the open-schema twin of events_props_json's
    StructType-registry parse (X1). At scale the variant binary
    encoding is parsed once at ingest and every downstream extraction
    is a cheap path walk instead of a JSON re-parse.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (
        e.select(k.alias("k"))
        .groupBy((F.col("k") % 7).alias("k_mod7"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


EVENTS_PROPS_VARIANT_SQL = """
WITH x AS (
  SELECT CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS INTEGER) AS k
  FROM events
)
SELECT k % 7 AS k_mod7, count(*) AS n,
       min(k) AS k_min, max(k) AS k_max
FROM x GROUP BY 1
"""


def theta_join_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 reference shape: pure non-equi theta join (no key) + rank-1 —
    "first error event platform-wide strictly after each day-1 signup"
    (the plane→bus query shape, src/plane_naolib_consumer.py:91-105),
    run as the sort-and-fill ``asof_join``."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    signups = e.filter(
        (F.col("event_type") == "signup")
        & (F.col("ts") < F.lit("2024-01-02").cast("timestamp"))
    ).select("event_id", "ts")
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("ts").alias("err_ts")
    )
    out = asof_join(
        signups,
        errors,
        left_ts="ts",
        right_ts="err_ts",
        left_keys=["event_id"],
        right_cols=["err_ts"],
        strict=True,
    )
    return out.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros(F.col("asof.err_ts")).alias("next_error_us"),
        ((F.unix_micros(F.col("asof.err_ts")) - F.unix_micros("ts")) / 60_000_000)
        .cast("long")
        .alias("wait_minutes"),
    )


THETA_NEXT_ERROR_SQL = """
WITH s AS (
  SELECT event_id, ts FROM events
  WHERE event_type = 'signup' AND ts < TIMESTAMP '2024-01-02'
), e AS (
  SELECT ts AS err_ts FROM events WHERE event_type = 'error'
)
SELECT s.event_id,
       epoch_us(s.ts) AS ts_us,
       epoch_us(min(e.err_ts)) AS next_error_us,
       CAST((epoch_us(min(e.err_ts)) - epoch_us(s.ts)) // 60000000 AS BIGINT) AS wait_minutes
FROM s JOIN e ON e.err_ts > s.ts
GROUP BY s.event_id, s.ts
"""


def asof_bucketed_prev_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 with a tolerance: "nearest click at-or-before each purchase,
    within 30 min" — no equi key; the sort-and-fill ``asof_join`` takes
    the nearest click and then drops it if it is more than 30 min away."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("click_ts")
    )
    out = asof_join(
        purchases,
        clicks,
        left_ts="ts",
        right_ts="click_ts",
        left_keys=["event_id"],
        right_cols=["click_ts"],
        tolerance_seconds=1800,
        direction="backward",
    )
    return out.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros(F.col("asof.click_ts")).alias("prev_click_us"),
    )


ASOF_BUCKETED_SQL = """
WITH p AS (
  SELECT event_id, ts FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT ts AS click_ts FROM events WHERE event_type = 'click'
)
SELECT p.event_id,
       epoch_us(p.ts) AS ts_us,
       epoch_us(max(c.click_ts)) AS prev_click_us
FROM p JOIN c
  ON c.click_ts <= p.ts AND c.click_ts >= p.ts - INTERVAL 30 MINUTE
GROUP BY p.event_id, p.ts
"""


def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join at scale (operators/interval.py): for each error
    event, how many OTHER users' hourly activity spans it fell inside.

    No equi key joins the sides — naive Spark would pick a
    BroadcastNestedLoopJoin; the binned operator turns it into a hash
    join on hour bins (intervals replicated ≤2×, points keyed once),
    with the exact range predicate applied within bins.
    """
    from ue_big_data_project_spark.operators.interval import (
        point_in_interval_join,
    )

    e = load_tables(spark, sf_dir, ("events",))["events"]
    intervals = (
        e.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("_h"))
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
        .select(F.col("user_id").alias("iv_user"), "start_ts", "end_ts")
    )
    points = e.filter(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id"
    )
    joined = point_in_interval_join(
        points,
        intervals,
        point_ts="ts",
        start_ts="start_ts",
        end_ts="end_ts",
        bin_seconds=3600,
        extra_cond=F.col("user_id") != F.col("iv_user"),
    )
    return joined.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_active_spans")
    )


INTERVAL_OVERLAP_SQL = """
WITH iv AS (
  SELECT user_id AS iv_user, min(ts) AS start_ts, max(ts) AS end_ts
  FROM events GROUP BY user_id, date_trunc('hour', ts)
), p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
)
SELECT event_id, count(*) AS n_active_spans
FROM p JOIN iv
  ON p.ts >= iv.start_ts AND p.ts <= iv.end_ts AND p.user_id <> iv.iv_user
GROUP BY event_id
"""


def _replay_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events.parquet`` as a bounded stream, with a ``ts`` read as
    nanos ``LongType`` (``spark.sql.legacy.parquet.nanosAsLong``)
    decoded to a timestamp."""
    sdf = ST.replay_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    if isinstance(sdf.schema["ts"].dataType, T.LongType):
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return sdf


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream interval join: two file-replay streams of the
    events table (clicks, errors), joined per user on
    ``click_ts <= err_ts <= click_ts + 10 minutes`` with watermarks on
    both sides, drained to a table that hash-matches the equivalent
    batch SQL — the watermarked double-stateful join Structured
    Streaming is built for, end-to-end.

    Scale shape: both streams shuffle on user_id; each side's buffered
    state is evicted once the other side's watermark passes the join
    window, so state is O(rate × (watermark + interval)) regardless of
    stream length.
    """
    apply_session_conf(spark)

    def replay(event_type: str) -> DataFrame:
        return _replay_events(spark, sf_dir).filter(
            F.col("event_type") == event_type
        )

    clicks = replay("click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    errors = replay("error").select(
        F.col("user_id").alias("err_user"),
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("err_ts"),
    )
    joined = ST.stream_interval_join(
        clicks.withColumnRenamed("user_id", "join_user"),
        errors,
        left_ts="click_ts",
        right_ts="err_ts",
        keys=[("join_user", "err_user")],
        within="10 minutes",
        watermark="1 hour",
    )
    out = joined.select(
        F.col("join_user").alias("user_id"),
        "click_id",
        "err_id",
        (F.unix_micros("err_ts") - F.unix_micros("click_ts")).alias("wait_us"),
    )
    return ST.drain_to_table(spark, out, mode="append")


STREAMING_INTERVAL_JOIN_SQL = """
WITH c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), e AS (
  SELECT user_id, event_id AS err_id, ts AS err_ts
  FROM events WHERE event_type = 'error'
)
SELECT c.user_id, c.click_id, e.err_id,
       epoch_us(e.err_ts) - epoch_us(c.click_ts) AS wait_us
FROM c JOIN e
  ON c.user_id = e.user_id
 AND e.err_ts >= c.click_ts
 AND e.err_ts <= c.click_ts + INTERVAL 10 MINUTE
"""


# Output schema template for asof_join_stream; the key slot takes the
# join key's own type (resolved from the left schema), so string- or
# int-keyed streams both work.
ASOF_STREAM_SCHEMA = (
    "key {key_type}, left_id long, left_us long, asof_us long"
)

# "No match yet" sentinel for the per-left best-match state. INT64_MIN,
# not -1: pre-1970 event times have NEGATIVE epoch micros, and a -1
# sentinel would suppress any legitimate match below it.
_NO_MATCH = -(2**63)


def asof_join_stream(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    key: str,
    left_id: str,
    tolerance_seconds: int,
    watermark: str = "1 hour",
) -> DataFrame:
    """STREAMING as-of join: for each left event, the latest right event
    at-or-before it (within ``tolerance_seconds``), per ``key`` — the
    streaming twin of ``asof_join(direction="backward", tolerance=...)``.

    Structured Streaming has no native as-of join (stream-stream joins
    need two-sided range conditions and cannot express "latest single
    match"), so this is a custom stateful operator via
    ``applyInPandasWithState`` — the same escape hatch as
    ``sessions.sessionize_stream``, and the same convergent-emission
    contract: each batch emits a row for every left event whose best
    match is NEW or IMPROVED (a later-but-still-eligible right arrived),
    and the downstream reduce ``max(asof_us) GROUP BY left_id`` is the
    final answer — identical to the batch as-of on a drained bounded
    replay, regardless of how events split across micro-batches or
    arrive out of order within the watermark.

    State per key is bounded by the watermark: right timestamps older
    than ``watermark − tolerance`` can never improve any in-watermark
    left event and are pruned; left events older than the watermark are
    final (no eligible right can still arrive) and are pruned — so state
    is O(rate × (watermark + tolerance)) regardless of stream length,
    and an event-time timeout clears keys that go idle entirely.

    Inner semantics: a left event with no eligible right never emits,
    as in the batch ``asof_join``.
    Input contract: ``left`` columns (key, left_id, left_ts), ``right``
    columns (key, right_ts); both must share the event-time column name
    used for the watermark only via their own ``left_ts``/``right_ts``.
    """
    from typing import Iterator, Tuple

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    tol_us = tolerance_seconds * 1_000_000

    # One unioned stream: applyInPandasWithState takes a single grouped
    # input, so the two sides ride together tagged by _side.
    lefts = left.withWatermark(left_ts, watermark).select(
        F.col(key).alias("_key"),
        F.lit(1).alias("_side"),
        F.col(left_id).alias("_id"),
        F.unix_micros(F.col(left_ts)).alias("_us"),
        F.col(left_ts).alias("_event_ts"),
    )
    rights = right.withWatermark(right_ts, watermark).select(
        F.col(key).alias("_key"),
        F.lit(0).alias("_side"),
        # 0, not NULL: a nullable long column reaches pandas as float64
        # (Arrow null masking), which silently rounds left ids >= 2^53.
        # Right rows never read _id, so any non-null filler keeps the
        # Arrow batch int64 end to end.
        F.lit(0).cast("long").alias("_id"),
        F.unix_micros(F.col(right_ts)).alias("_us"),
        F.col(right_ts).alias("_event_ts"),
    )
    unioned = lefts.unionByName(rights)

    cols = ["key", "left_id", "left_us", "asof_us"]

    def update(
        key_t: Tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (k,) = key_t
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame([], columns=cols)
            return
        if state.exists:
            r_us, l_ids, l_us, l_best = (list(x) for x in state.get)
        else:
            r_us, l_ids, l_us, l_best = [], [], [], []
        batches = list(pdfs)
        if batches:
            pdf = pd.concat(batches)
            new_r = pdf.loc[pdf["_side"] == 0, "_us"]
            r_us.extend(int(x) for x in new_r)
            new_l = pdf.loc[pdf["_side"] == 1]
            for lid, lus in zip(
                new_l["_id"].astype("int64"), new_l["_us"].astype("int64")
            ):
                l_ids.append(int(lid))
                l_us.append(int(lus))
                l_best.append(_NO_MATCH)
        # Vectorized re-match: latest right in [left - tol, left] via
        # one searchsorted over the sorted right timestamps.
        out_rows = []
        if l_ids and r_us:
            rs = np.sort(np.asarray(r_us, dtype=np.int64))
            ls = np.asarray(l_us, dtype=np.int64)
            idx = np.searchsorted(rs, ls, side="right") - 1
            for j, (lid, lus) in enumerate(zip(l_ids, l_us)):
                if idx[j] < 0:
                    continue
                cand = int(rs[idx[j]])
                if cand >= lus - tol_us and cand > l_best[j]:
                    l_best[j] = cand
                    out_rows.append((k, lid, lus, cand))
        # Watermark-driven pruning (μs event-time clock).
        wm_us = state.getCurrentWatermarkMs() * 1000
        if wm_us > 0:
            r_us = [t for t in r_us if t >= wm_us - tol_us]
            keep = [j for j, t in enumerate(l_us) if t >= wm_us]
            l_ids = [l_ids[j] for j in keep]
            l_us = [l_us[j] for j in keep]
            l_best = [l_best[j] for j in keep]
        horizon = max(r_us + l_us, default=None)
        if horizon is None:
            # Nothing retained: drop the key's state entirely instead of
            # parking empty arrays until a timeout that was never set.
            if state.exists:
                state.remove()
        else:
            state.update((r_us, l_ids, l_us, l_best))
            # Past horizon+tol no retained entry can matter; always above
            # the current watermark because pruning kept only fresher rows.
            state.setTimeoutTimestamp(horizon // 1000 + tol_us // 1000 + 1)
        yield pd.DataFrame(out_rows, columns=cols)

    state_schema = (
        "r_us array<long>, l_ids array<long>, "
        "l_us array<long>, l_best array<long>"
    )
    # The key's output type comes from the UNIONED frame's own _key
    # column: unionByName has already reconciled the two sides to their
    # common type (resolving from one input schema would under-declare
    # when the other side is wider, and re-resolving the user's name
    # can miss qualified references F.col already accepted).
    key_type = unioned.schema["_key"].dataType.simpleString()
    return unioned.groupBy("_key").applyInPandasWithState(
        update,
        outputStructType=ASOF_STREAM_SCHEMA.format(key_type=key_type),
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming as-of join (:func:`asof_join_stream`): two
    file-replay streams — purchases and clicks — joined per user as
    "latest click at-or-before each purchase, within 30 minutes" via a
    custom applyInPandasWithState operator (Structured Streaming has no
    native as-of join). Convergent emission: each batch re-emits a
    purchase whose best match improved; the final ``max(asof_us)``
    reduce over the drained table hash-matches the batch as-of SQL.
    """
    apply_session_conf(spark)

    def replay(event_type: str) -> DataFrame:
        return _replay_events(spark, sf_dir).filter(
            F.col("event_type") == event_type
        )

    purchases = replay("purchase").select("user_id", "event_id", "ts")
    clicks = replay("click").select("user_id", "ts")
    matched = asof_join_stream(
        purchases,
        clicks,
        left_ts="ts",
        right_ts="ts",
        key="user_id",
        left_id="event_id",
        tolerance_seconds=1800,
        watermark="1 hour",
    )
    drained = ST.drain_to_table(spark, matched, mode="update")
    return drained.groupBy(
        F.col("key").alias("user_id"), F.col("left_id").alias("event_id")
    ).agg(
        F.max("left_us").alias("ts_us"),
        F.max("asof_us").alias("prev_click_us"),
    )


STREAMING_ASOF_SQL = """
WITH p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
)
SELECT p.user_id, p.event_id,
       epoch_us(p.ts) AS ts_us,
       epoch_us(max(c.click_ts)) AS prev_click_us
FROM p JOIN c
  ON c.user_id = p.user_id
 AND c.click_ts <= p.ts
 AND c.click_ts >= p.ts - INTERVAL 30 MINUTE
GROUP BY p.user_id, p.event_id, p.ts
"""


def streaming_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate end-to-end: the events stream maintains a
    parquet rollup TABLE (15-minute windows × event_type) via update-mode
    emission + CDC upsert with dynamic partition overwrite
    (streaming.ingest.incremental_windowed_rollup) — and the final table
    hash-matches the same SQL oracle as the batch tumbling window.

    Scale shape: each micro-batch rewrites only the window partitions it
    touched, so maintaining a year-long rollup costs O(changed windows)
    per batch.
    """
    import shutil as _sh
    import tempfile as _tf

    from ue_big_data_project_spark.streaming import ingest

    apply_session_conf(spark)
    sdf = _replay_events(spark, sf_dir)
    snap_dir = _tf.mkdtemp(prefix="spark_graft_rollup_")
    ST.drain(
        spark,
        lambda: ingest.incremental_windowed_rollup(
            sdf,
            ts_col="ts",
            window_duration="15 minutes",
            keys=["event_type"],
            aggs=[
                F.count(F.lit(1)).alias("n_events"),
                davg(d2(F.col("value"))).alias("avg_value"),
            ],
            snapshot_dir=snap_dir,
            watermark="1 hour",
        ),
    )

    out = (
        ingest.read_rollup(spark, snap_dir)
        .withColumnRenamed("window_us", "window_start_us")
        .localCheckpoint(eager=True)
    )
    _sh.rmtree(snap_dir, ignore_errors=True)
    return out


def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window agg run END-TO-END through Structured
    Streaming: file-replay source → watermark → stateful windowed agg →
    memory sink drain — and the final table hash-matches the same SQL
    oracle as the batch form (events_tumbling_window), proving
    batch/stream semantic equivalence on real data.

    Scale shape: state is keyed by (window, event_type); the watermark
    bounds it on unbounded input. Complete mode here because the drain
    snapshot is the product; production pipelines use append + sink.
    """
    # Vanilla sessions need the nanos decode + UTC contract (same runtime
    # settings load_tables applies for batch reads).
    apply_session_conf(spark)
    sdf = _replay_events(spark, sf_dir)
    agg = ST.windowed_agg(
        sdf,
        ts_col="ts",
        window_duration="15 minutes",
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            davg(d2(F.col("value"))).alias("avg_value"),
        ],
        group_cols=["event_type"],
        watermark="1 hour",
    )
    out = agg.select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "event_type",
        "n_events",
        "avg_value",
    )
    # The drain ALSO exercises the reference's render-per-micro-batch
    # sink shape (plot_bus_positions, src/naolib_consumer.py:119-162):
    # one foreachBatch both writes the bounded ledgered artifact and
    # takes the hash-checked snapshot, so the stream replays ONCE.
    # Executes under the driver's gate run, not only pytest; artifacts
    # land in a scratch dir and are asserted non-empty.
    import tempfile as _tf

    import shutil as _sh

    art_dir = _tf.mkdtemp(prefix="spark_graft_artifacts_")
    try:
        snap = ST.drain_to_table_with_artifacts(
            spark, out, art_dir, mode="complete"
        )
        wrote = any(e.startswith("batch-") for e in os.listdir(art_dir))
    finally:
        _sh.rmtree(art_dir, ignore_errors=True)
    if not wrote:
        raise RuntimeError("artifact sink wrote no batch artifacts")
    return snap


def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SLIDING-window agg end-to-end through Structured Streaming:
    file-replay source → watermark → stateful 30 min/15 min hopping
    windows → memory-sink drain — hash-matching the batch form's
    oracle (events_sliding_window), the tumbling twin's batch/stream
    equivalence proof for the overlapping-window state shape. State is
    keyed by (window, event_type) with each row feeding 2 windows, so
    the watermark bounds exactly 2× the tumbling state."""
    apply_session_conf(spark)
    sdf = _replay_events(spark, sf_dir)
    agg = ST.windowed_agg(
        sdf,
        ts_col="ts",
        window_duration="30 minutes",
        slide="15 minutes",
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            davg(d2(F.col("value"))).alias("avg_value"),
        ],
        group_cols=["event_type"],
        watermark="1 hour",
    )
    out = agg.select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "event_type",
        "n_events",
        "avg_value",
    )
    return ST.drain_to_table(spark, out, mode="complete")


def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation: (event_type, hour) → (event_type) → grand
    total in ONE pass — Catalyst expands the grouping sets so the input
    is scanned once, with partial aggregation per set. The OLAP
    drill-down shape the reference computes by re-running grouped counts.
    NULL marks the rolled-up level (DuckDB ROLLUP semantics match).
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    return (
        e.select(
            "event_type",
            F.format_string("%02d:00", F.hour("ts")).alias("hour_bucket"),
            d2(F.col("value")).alias("_v"),
        )
        .rollup("event_type", "hour_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("_v")).alias("sum_value"),
        )
    )


EVENTS_ROLLUP_SQL = f"""
SELECT event_type,
       lpad(CAST(hour(ts) AS VARCHAR), 2, '0') || ':00' AS hour_bucket,
       count(*) AS n_events,
       {sql_dsum(sql_d2("value"))} AS sum_value
FROM events
GROUP BY ROLLUP (event_type, hour_bucket)
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) — lag → flag → running sum →
    per-session aggregate; one shuffle on user_id. The streaming twin
    (applyInPandasWithState) is equivalence-tested in
    tests/test_sessions.py."""
    from ue_big_data_project_spark.operators.sessions import sessionize_batch

    e = load_tables(spark, sf_dir, ("events",))["events"]
    return sessionize_batch(e, user_col="user_id", ts_col="ts", gap_seconds=1800)


EVENTS_SESSIONIZE_SQL = """
WITH t AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (
           PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
         ) AS INTEGER) AS session_idx
  FROM t
)
SELECT user_id, session_idx, count(*) AS n_events,
       epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
FROM s GROUP BY user_id, session_idx
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: signup → first later click → first later purchase.

    Stage timestamps are conditional MINs per user computed in ONE
    grouped pass each (no per-stage self-join of the raw events): stage 2
    joins users' signup time back and takes min(click ts > signup), etc.
    Shuffles are all on user_id. Output: one row of stage counts.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_signup"),
            F.count("c_ts").alias("n_click_after"),
            F.count("p_ts").alias("n_purchase_after"),
        )
    )


EVENTS_FUNNEL_SQL = """
WITH s AS (
  SELECT user_id, min(ts) AS s_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS c_ts FROM events e
  JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'click' AND e.ts > s.s_ts GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS p_ts FROM events e
  JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY e.user_id
)
SELECT count(*) AS n_signup,
       count(c_ts) AS n_click_after,
       count(p_ts) AS n_purchase_after
FROM s
LEFT JOIN c ON s.user_id = c.user_id
LEFT JOIN p ON s.user_id = p.user_id
"""


def events_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: signups ∩ clickers, minus purchasers — the
    distinct-set algebra (INTERSECT/EXCEPT compile to semi/anti joins
    under the hood, shuffling on the full row as the key)."""
    e = load_tables(spark, sf_dir, ("events",))["events"]

    def users(kind: str) -> DataFrame:
        return e.filter(F.col("event_type") == kind).select("user_id").distinct()

    engaged = users("signup").intersect(users("click"))
    silent = engaged.exceptAll(users("purchase"))
    return silent.agg(
        F.count(F.lit(1)).alias("n_engaged_no_purchase"),
        F.coalesce(F.min("user_id"), F.lit(-1)).alias("min_user_id"),
    )


EVENTS_SET_OPS_SQL = """
WITH silent AS (
  SELECT user_id FROM events WHERE event_type = 'signup'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'click'
  EXCEPT
  SELECT user_id FROM events WHERE event_type = 'purchase'
)
SELECT count(*) AS n_engaged_no_purchase,
       coalesce(min(user_id), -1) AS min_user_id
FROM silent
"""


# events_ewma concentrates a key's whole history into one row; above
# this many events per key the query fails LOUDLY instead of silently
# building giant rows (the streaming rollup family is the unbounded
# path). 1M doubles ≈ 8 MB per row — well within an executor, far above
# any per-user history in the testdata.
EWMA_MAX_PER_KEY = 1_000_000


def events_ewma(
    spark: SparkSession, sf_dir: str, max_per_key: int = EWMA_MAX_PER_KEY
) -> DataFrame:
    """Per-user exponentially weighted moving average of ``value``
    (α = 0.3), computed as a NATIVE array fold: one shuffle collects
    each user's (ts, event_id, value) list, ``array_sort`` orders it by
    event time, and ``F.aggregate`` folds ``acc ← α·x + (1-α)·acc``
    seeded with the first value — an inherently sequential per-key
    recurrence with zero Python and no window-function state.

    Scale contract (ENFORCED, and enforced BEFORE materialization): a
    cheap pre-pass counts events per key (narrow map-side-combined
    aggregate, one scalar max to the driver) and raises loudly if any
    key exceeds ``max_per_key`` — an in-plan guard on the collected
    array would only fire AFTER ``collect_list`` had already built the
    oversized row, i.e. after the OOM it exists to prevent. Unbounded
    histories belong in the streaming sessionize/rollup family. Past
    the guard, cost is one grouped shuffle; the fold is O(events per
    key) within the row.

    The DuckDB oracle's ``list_reduce`` also seeds with the first
    element and folds left, and orders by the full (ts, event_id,
    value) struct key, so the recurrence is bit-identical even if a
    (ts, event_id) pair were ever duplicated.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    worst = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    if worst is not None and worst > max_per_key:
        raise ValueError(
            f"events_ewma: per-key history of {worst} events exceeds the "
            f"bounded-per-key contract ({max_per_key}); use the streaming "
            "rollup family for unbounded keys"
        )
    arr = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", F.col("value").alias("v")))
    )
    vals = F.transform(arr, lambda s: s["v"])
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(ewma, 6).alias("ewma_value"),
        )
        .select("user_id", "n_events", "ewma_value")
    )


EVENTS_EWMA_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         list(value ORDER BY ts ASC, event_id ASC, value ASC) AS vals
  FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       {sql_round("list_reduce(vals, (acc, x) -> 0.3 * x + 0.7 * acc)", 6)}
         AS ewma_value
FROM per_user
"""


def events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per event type (sort-based `percentile`, linear
    interpolation — matches ANSI percentile_cont). The approx path
    (approx_percentile / t-digest) is the 100 TB default; the exact form
    is the oracle-checkable one.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    return e.groupBy("event_type").agg(
        pround(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        pround(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        pround(F.max("value"), 4).alias("vmax"),
    )


EVENTS_PERCENTILES_SQL = f"""
SELECT event_type,
       {sql_round("quantile_cont(value, 0.5)", 4)} AS p50,
       {sql_round("quantile_cont(value, 0.95)", 4)} AS p95,
       {sql_round("max(value)", 4)} AS vmax
FROM events
GROUP BY event_type
"""


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator in the correctness gate:
    applyInPandasWithState sessionization over a bounded replay of the
    events table, drained and reduced to each session's final emission —
    hash-matches the same SQL oracle as the batch window form
    (events_sessionize), proving the per-key state machine is
    semantics-equivalent.
    """
    from ue_big_data_project_spark.operators.sessions import sessionize_stream

    apply_session_conf(spark)
    sdf = _replay_events(spark, sf_dir)
    drained = ST.drain_to_table(
        spark,
        # watermark= enables event-time-timeout state eviction — the
        # form an unbounded deployment must run (idle keys are removed
        # once the watermark passes last_event + gap).
        sessionize_stream(sdf, gap_seconds=1800, watermark="1 hour"),
        mode="update",
    )
    # Update mode re-emits a session as it grows; keep the final state
    # per (user, session): counts and end grow monotonically, start is
    # fixed at creation.
    return drained.groupBy("user_id", "session_idx").agg(
        F.max("n_events").alias("n_events"),
        F.min("start_us").alias("start_us"),
        F.max("end_us").alias("end_us"),
    )


# The pivot value list is EXPLICIT: Spark's values-less pivot runs an
# extra distinct-collect job over the whole input to discover the
# columns — at 100 TB that's a full scan just to name the output schema.
# Declaring the domain keeps the pivot to its one aggregation shuffle.
PIVOT_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: the long (day, event_type) pairs → one wide row per day
    with per-type count and value-sum columns — the cross-tab shape BI
    layers ask of an OLAP engine.

    One shuffle on the day key; the per-type cells are conditional
    aggregates Catalyst evaluates in a single pass (no per-type scans,
    no joins). Count cells coalesce to 0 (a day without that type is a
    real zero); sum cells stay NULL, matching SQL FILTER semantics.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    wide = (
        e.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
            d2(F.col("value")).alias("_v"),
        )
        .groupBy("day")
        .pivot("event_type", list(PIVOT_EVENT_TYPES))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("_v")).alias("v"),
        )
    )
    cols = [F.col("day")]
    for t in PIVOT_EVENT_TYPES:
        cols.append(
            F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("long").alias(f"{t}_n")
        )
        cols.append(F.col(f"{t}_v"))
    return wide.select(*cols)


_PIVOT_CELLS = ",\n  ".join(
    f"CAST(coalesce(count(*) FILTER (event_type = '{t}'), 0) AS BIGINT)"
    f" AS {t}_n,\n  "
    + sql_round(
        f"CAST(sum({sql_d2('value')}) FILTER (event_type = '{t}') AS DOUBLE)",
        2,
    )
    + f" AS {t}_v"
    for t in PIVOT_EVENT_TYPES
)
EVENTS_PIVOT_SQL = f"""
SELECT strftime(ts, '%Y-%m-%d') AS day,
  {_PIVOT_CELLS}
FROM events
GROUP BY day
"""


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day-of-week) with an explicit
    ``grouping_id`` — all four grouping sets (detail, per-type, per-dow,
    grand total) in ONE scan, and the grouping-id column disambiguates a
    genuinely-NULL dimension from a rolled-up one (the correctness trap
    ROLLUP/CUBE consumers hit). Day-of-week stays numeric so no
    locale/format divergence can leak in (Spark's Sunday=1 convention;
    the oracle shifts DuckDB's Sunday=0 to match).
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    return (
        e.select(
            "event_type",
            F.dayofweek("ts").alias("dow"),
            d2(F.col("value")).alias("_v"),
        )
        .cube("event_type", "dow")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("_v")).alias("sum_value"),
        )
    )


EVENTS_CUBE_SQL = f"""
SELECT event_type,
       CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
       CAST(GROUPING(event_type, dow) AS INTEGER) AS gid,
       count(*) AS n_events,
       {sql_dsum(sql_d2("value"))} AS sum_value
FROM events
GROUP BY CUBE (event_type, dow)
"""


def events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series RESAMPLE with gap filling + forward fill: per
    event_type, the 15-minute bucket grid from its first to its last
    event — buckets with no events materialized with n_events = 0 and
    avg_value carried forward from the last observed bucket.

    The grid is ``sequence()`` over the per-type [min, max] bucket span
    exploded into rows (generated, never scanned — dense-grid cost is
    O(time-range/width) per type, data-size independent), left-joined to
    the aggregated buckets; the fill is one ``last(ignorenulls)`` running
    window per type. Two shuffles total (bucket agg, type window) — no
    per-gap probing, no driver loop.
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    width_us = 900_000_000  # 15 min
    agg = (
        e.select(
            "event_type",
            F.floor(F.unix_micros("ts") / F.lit(width_us)).alias("_b"),
            d2(F.col("value")).alias("_v"),
        )
        .groupBy("event_type", "_b")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            davg(F.col("_v")).alias("_avg"),
        )
    )
    grid = (
        agg.groupBy("event_type")
        .agg(F.min("_b").alias("_lo"), F.max("_b").alias("_hi"))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("_b"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(agg, ["event_type", "_b"], "left")
        .select(
            "event_type",
            (F.col("_b") * F.lit(width_us)).alias("bucket_start_us"),
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_events"),
            F.last("_avg", ignorenulls=True).over(w).alias("avg_value_ffill"),
        )
    )


EVENTS_RESAMPLE_SQL = f"""
WITH agg AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 900000000) AS BIGINT) AS _b,
         count(*) AS _n,
         {sql_davg(sql_d2("value"))} AS _avg
  FROM events GROUP BY event_type, _b
),
grid AS (
  SELECT event_type, unnest(generate_series(min(_b), max(_b))) AS _b
  FROM agg GROUP BY event_type
)
SELECT g.event_type,
       g._b * 900000000 AS bucket_start_us,
       CAST(coalesce(a._n, 0) AS BIGINT) AS n_events,
       last_value(a._avg IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g._b
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS avg_value_ffill
FROM grid g LEFT JOIN agg a ON g.event_type = a.event_type AND g._b = a._b
"""


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals (operators/cdc.scd2_history) from the
    events stream read as a per-user change log: each event opens a
    version valid until the user's next event; ``error`` events act as
    TOMBSTONES — they close the preceding interval but emit no version,
    so a user whose last event errored has no current row.

    One per-user lead window (ts, event_id tie-break); timestamps leave
    as epoch micros per the cross-engine convention.
    """
    from ue_big_data_project_spark.operators.cdc import scd2_history

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    chg = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        (F.col("event_type") == "error").alias("_del"),
    )
    hist = scd2_history(
        chg,
        keys=["user_id"],
        version_col="ts",
        order_cols=["event_id"],
        tombstone_col="_del",
    )
    return hist.select(
        "user_id",
        "event_id",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "event_type",
        "value",
        "is_current",
    )


CDC_SCD2_SQL = """
WITH c AS (
  SELECT user_id, event_id, ts, event_type, value,
         (event_type = 'error') AS del,
         lead(ts) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ) AS valid_to
  FROM events
)
SELECT user_id, event_id,
       epoch_us(ts) AS valid_from_us,
       epoch_us(valid_to) AS valid_to_us,
       event_type, value,
       (valid_to IS NULL) AS is_current
FROM c WHERE NOT del
"""


QUERIES = {
    "events_hourly_by_type": QuerySpec(events_hourly_by_type, EVENTS_HOURLY_SQL),
    "cdc_scd2_history": QuerySpec(cdc_scd2_history, CDC_SCD2_SQL),
    "events_ewma": QuerySpec(events_ewma, EVENTS_EWMA_SQL),
    "events_pivot": QuerySpec(events_pivot, EVENTS_PIVOT_SQL),
    "events_cube": QuerySpec(events_cube, EVENTS_CUBE_SQL),
    "events_resample": QuerySpec(events_resample, EVENTS_RESAMPLE_SQL),
    "streaming_sessionize": QuerySpec(streaming_sessionize, EVENTS_SESSIONIZE_SQL),
    "events_set_ops": QuerySpec(events_set_ops, EVENTS_SET_OPS_SQL),
    "events_percentiles": QuerySpec(events_percentiles, EVENTS_PERCENTILES_SQL),
    "events_rollup": QuerySpec(events_rollup, EVENTS_ROLLUP_SQL),
    "events_sessionize": QuerySpec(events_sessionize, EVENTS_SESSIONIZE_SQL),
    "events_funnel": QuerySpec(events_funnel, EVENTS_FUNNEL_SQL),
    "streaming_incremental_rollup": QuerySpec(
        streaming_incremental_rollup, EVENTS_TUMBLING_SQL
    ),
    "streaming_tumbling_window": QuerySpec(
        streaming_tumbling_window, EVENTS_TUMBLING_SQL
    ),
    "streaming_interval_join": QuerySpec(
        streaming_interval_join, STREAMING_INTERVAL_JOIN_SQL
    ),
    "streaming_asof_join": QuerySpec(streaming_asof_join, STREAMING_ASOF_SQL),
    "events_tumbling_window": QuerySpec(events_tumbling_window, EVENTS_TUMBLING_SQL),
    "events_sliding_window": QuerySpec(
        events_sliding_window, EVENTS_SLIDING_SQL
    ),
    # The streamed sliding agg must hash like the batch form — same
    # oracle (the tumbling twin's batch/stream equivalence proof).
    "streaming_sliding_window": QuerySpec(
        streaming_sliding_window, EVENTS_SLIDING_SQL
    ),
    "events_dedup_first": QuerySpec(events_dedup_first, EVENTS_DEDUP_SQL),
    "events_props_json": QuerySpec(events_props_json, EVENTS_PROPS_SQL),
    "events_props_variant": QuerySpec(
        events_props_variant, EVENTS_PROPS_VARIANT_SQL
    ),
    "theta_join_next_error": QuerySpec(theta_join_next_error, THETA_NEXT_ERROR_SQL),
    "asof_bucketed_prev_click": QuerySpec(asof_bucketed_prev_click, ASOF_BUCKETED_SQL),
    "interval_overlap_join": QuerySpec(interval_overlap_join, INTERVAL_OVERLAP_SQL),
}


def cdc_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style MERGE INTO as one declarative plan
    (operators/cdc.merge_into): the customer snapshot merged with a
    per-customer order-stats batch — matched heavy customers (≥20
    orders) DELETE, other matched customers UPDATE (balance += order
    count, referencing both sides by the t./s. alias qualifiers),
    synthetic unseen keys INSERT, order-less customers pass through
    untouched. One full-outer key join + codegen CASEs; the oracle is
    the literal SQL FULL OUTER JOIN + CASE translation, so the hash
    match pins all four clause paths at once."""
    from ue_big_data_project_spark.functions import pround
    from ue_big_data_project_spark.operators.cdc import merge_into

    t = load_tables(spark, sf_dir, ("orders", "customer"))
    stats = t["orders"].groupBy(
        F.col("o_custkey").alias("c_custkey")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    # Keys shifted past the customer key space exercise the INSERT
    # clause deterministically (TPC-H custkeys are dense from 1).
    synthetic = stats.filter(F.col("n_orders") >= 24).select(
        (F.col("c_custkey") + F.lit(10_000_000)).alias("c_custkey"),
        "n_orders",
    )
    src = stats.unionByName(synthetic)
    merged = merge_into(
        t["customer"],
        src,
        ["c_custkey"],
        update_set={
            "c_acctbal": F.col("t.c_acctbal") + F.col("s.n_orders")
        },
        delete_when=F.col("s.n_orders") >= 20,
        insert_values={
            "c_name": F.lit("merged-new"),
            "c_nationkey": F.lit(-1).cast("int"),
            "c_acctbal": F.col("s.n_orders").cast("double"),
            "c_mktsegment": F.lit("NEW"),
        },
    )
    return merged.select(
        "c_custkey",
        "c_name",
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        pround(F.col("c_acctbal"), 2).alias("acctbal"),
        "c_mktsegment",
    )


CDC_MERGE_INTO_SQL = f"""
WITH st AS (
  SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY o_custkey
), src AS (
  SELECT k, n FROM st
  UNION ALL
  SELECT k + 10000000 AS k, n FROM st WHERE n >= 24
)
SELECT COALESCE(c.c_custkey, s.k) AS c_custkey,
       CASE WHEN c.c_custkey IS NULL THEN 'merged-new'
            ELSE c.c_name END AS c_name,
       CAST(CASE WHEN c.c_custkey IS NULL THEN -1
                 ELSE c.c_nationkey END AS INTEGER) AS c_nationkey,
       {{bal}} AS acctbal,
       CASE WHEN c.c_custkey IS NULL THEN 'NEW'
            ELSE c.c_mktsegment END AS c_mktsegment
FROM customer c FULL OUTER JOIN src s ON c.c_custkey = s.k
WHERE NOT (c.c_custkey IS NOT NULL AND s.k IS NOT NULL AND s.n >= 20)
"""


def _merge_bal_sql() -> str:
    from ue_big_data_project_spark.functions import sql_round

    raw = (
        "CASE WHEN c.c_custkey IS NULL THEN CAST(s.n AS DOUBLE) "
        "WHEN s.k IS NOT NULL THEN c.c_acctbal + s.n "
        "ELSE c.c_acctbal END"
    )
    return sql_round(raw, 2)


CDC_MERGE_INTO_SQL = CDC_MERGE_INTO_SQL.format(bal=_merge_bal_sql())

QUERIES["cdc_merge_into"] = QuerySpec(cdc_merge_into, CDC_MERGE_INTO_SQL)


def streaming_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous CDC apply through the versioned MERGE sink
    (streaming/merge_ingest_stream): three ORDERED change batches —
    per-customer order counts split by orderkey residue, replayed as
    real mtime-staggered micro-batches — merge sequentially onto the
    customer snapshot (update balance += count; DELETE heavy customers
    at ≥7 orders-in-batch; keys deleted in an earlier batch re-INSERT
    when they reappear). The oracle unrolls the exact same three merges
    as chained FULL OUTER JOIN + CASE CTEs (the pagerank
    unrolled-iteration precedent), so the hash match pins the sink's
    ORDER-SENSITIVE end state: versioning, ledger commit, and
    batch-sequencing all have to be right at once."""
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.streaming import ingest
    from ue_big_data_project_spark.session import apply_session_conf

    apply_session_conf(spark)
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    root = _tf.mkdtemp(prefix="spark_graft_cdcmerge_")
    try:
        # One staging job for all 3 batch files (round-12, guide §2.4):
        # grouping by (_b, custkey) yields exactly the per-batch
        # aggregates the per-batch filter+groupBy loop produced. The
        # staged mtimes still pin micro-batch ORDER (the file source
        # sorts by modification time; MERGE is order-sensitive, unlike
        # the commutative HLL rollup).
        stage = stage_batches(
            t["orders"]
            .withColumn("_b", F.col("o_orderkey") % 3)
            .groupBy("_b", F.col("o_custkey").alias("c_custkey"))
            .agg(F.count(F.lit(1)).alias("n")),
            F.col("_b"),
            root,
        )
        sdf = spark.readStream.schema("c_custkey long, n long").option(
            "maxFilesPerTrigger", 1
        ).parquet(stage)
        snap = _os.path.join(root, "snap")
        ST.drain(spark, lambda: ingest.merge_ingest_stream(
            sdf,
            t["customer"],
            snap,
            ["c_custkey"],
            update_set={
                "c_acctbal": F.col("t.c_acctbal") + F.col("s.n")
            },
            delete_when=F.col("s.n") >= 7,
            insert_values={
                "c_name": F.lit("reinserted"),
                "c_nationkey": F.lit(-1).cast("int"),
                "c_acctbal": F.col("s.n").cast("double"),
                "c_mktsegment": F.lit("NEW"),
            },
        ))
        out = ingest.read_merged_snapshot(spark, snap).select(
            "c_custkey",
            "c_name",
            F.col("c_nationkey").cast("int").alias("c_nationkey"),
            pround(F.col("c_acctbal"), 2).alias("acctbal"),
            "c_mktsegment",
        )
        return out.localCheckpoint(eager=True)
    finally:
        _sh.rmtree(root, ignore_errors=True)


def _cdc_merge_step_sql(prev: str, batch: str) -> str:
    """One MERGE layer as ANSI SQL over relation names — the oracle twin
    of one merge_ingest_stream micro-batch (generated once per batch so
    the chain is literally the same text applied three times)."""
    return f"""
  SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
         CASE WHEN t.c_custkey IS NULL THEN 'reinserted'
              ELSE t.c_name END AS c_name,
         CAST(CASE WHEN t.c_custkey IS NULL THEN -1
                   ELSE t.c_nationkey END AS INTEGER) AS c_nationkey,
         CASE WHEN t.c_custkey IS NULL THEN CAST(s.n AS DOUBLE)
              WHEN s.c_custkey IS NOT NULL THEN t.c_acctbal + s.n
              ELSE t.c_acctbal END AS c_acctbal,
         CASE WHEN t.c_custkey IS NULL THEN 'NEW'
              ELSE t.c_mktsegment END AS c_mktsegment
  FROM {prev} t FULL OUTER JOIN {batch} s
    ON t.c_custkey = s.c_custkey
  WHERE NOT (t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL
             AND s.n >= 7)"""


STREAMING_CDC_MERGE_SQL = f"""
WITH b0 AS (
  SELECT o_custkey AS c_custkey, COUNT(*) AS n FROM orders
  WHERE o_orderkey % 3 = 0 GROUP BY 1
), b1 AS (
  SELECT o_custkey AS c_custkey, COUNT(*) AS n FROM orders
  WHERE o_orderkey % 3 = 1 GROUP BY 1
), b2 AS (
  SELECT o_custkey AS c_custkey, COUNT(*) AS n FROM orders
  WHERE o_orderkey % 3 = 2 GROUP BY 1
), m0 AS ({_cdc_merge_step_sql("customer", "b0")}
), m1 AS ({_cdc_merge_step_sql("m0", "b1")}
), m2 AS ({_cdc_merge_step_sql("m1", "b2")}
)
SELECT c_custkey, c_name, c_nationkey,
       {sql_round("c_acctbal", 2)} AS acctbal, c_mktsegment
FROM m2
"""

QUERIES["streaming_cdc_merge"] = QuerySpec(
    streaming_cdc_merge, STREAMING_CDC_MERGE_SQL
)


def streaming_cdc_merge_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PARTIAL-REWRITE twin of ``streaming_cdc_merge``: identical
    three ordered change batches and clauses, but through
    ``bucketed_merge_ingest_stream`` — the snapshot is hash-bucketed on
    the key, each batch rewrites ONLY its touched buckets, and a
    per-version manifest maps buckets to versions (the Iceberg/Delta
    shape; per-batch cost O(touched buckets), not O(snapshot)). The
    ORACLE IS THE SAME chained-CTE SQL: layouts must not change
    semantics, and the shared hash pins exactly that."""
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.streaming import ingest
    from ue_big_data_project_spark.session import apply_session_conf

    apply_session_conf(spark)
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    root = _tf.mkdtemp(prefix="spark_graft_cdcmergeb_")
    try:
        # One staging job for all 3 batch files (round-12, guide §2.4);
        # staged mtimes still pin micro-batch order.
        stage = stage_batches(
            t["orders"]
            .withColumn("_b", F.col("o_orderkey") % 3)
            .groupBy("_b", F.col("o_custkey").alias("c_custkey"))
            .agg(F.count(F.lit(1)).alias("n")),
            F.col("_b"),
            root,
        )
        sdf = spark.readStream.schema("c_custkey long, n long").option(
            "maxFilesPerTrigger", 1
        ).parquet(stage)
        snap = _os.path.join(root, "snap")
        ST.drain(spark, lambda: ingest.bucketed_merge_ingest_stream(
            sdf,
            t["customer"],
            snap,
            ["c_custkey"],
            n_buckets=16,
            update_set={
                "c_acctbal": F.col("t.c_acctbal") + F.col("s.n")
            },
            delete_when=F.col("s.n") >= 7,
            insert_values={
                "c_name": F.lit("reinserted"),
                "c_nationkey": F.lit(-1).cast("int"),
                "c_acctbal": F.col("s.n").cast("double"),
                "c_mktsegment": F.lit("NEW"),
            },
        ))
        out = ingest.read_bucketed_merged_snapshot(spark, snap).select(
            "c_custkey",
            "c_name",
            F.col("c_nationkey").cast("int").alias("c_nationkey"),
            pround(F.col("c_acctbal"), 2).alias("acctbal"),
            "c_mktsegment",
        )
        return out.localCheckpoint(eager=True)
    finally:
        _sh.rmtree(root, ignore_errors=True)


# Layouts must not change semantics: the bucketed sink hashes against
# the IDENTICAL chained-merge oracle.
QUERIES["streaming_cdc_merge_bucketed"] = QuerySpec(
    streaming_cdc_merge_bucketed, STREAMING_CDC_MERGE_SQL
)
