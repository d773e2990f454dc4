"""The reference's four declared queries + the wind pipeline, re-expressed
as composable, source-agnostic DataFrame functions.

Each function takes already-parsed DataFrames (batch OR streaming — the
ingestion edge is ``sources``/``streaming``) and returns a DataFrame, so
the same logic is unit-testable on fixtures, replayable from files, or
attachable to Kafka. Reference bugs (SURVEY §2.11) are fixed to intended
semantics and noted inline.

Queries (reference README.md:5-13):
  Q1 batch  — min wait between each plane arrival and the next city bus
  Q2 batch  — bus traffic per hour of day at a stop
  Q3 stream — live estimated positions of buses on a line
  Q4 stream — bike-station occupancy (5 nearest shelters)
  wind      — streaming dedup + tumbling-window average (previous lab)
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ue_big_data_project_spark import schemas
from ue_big_data_project_spark.functions import (
    digits_only,
    epoch_to_ts,
    french_time,
    hour_bucket,
    hour_norm,
    minutes_between,
    occupancy_bar,
    parse_wait_minutes,
)
from ue_big_data_project_spark.operators.asof import asof_join
from ue_big_data_project_spark.streaming import dedup_stream, windowed_agg


# ---------------------------------------------------------------------------
# Q1 — plane → next bus wait (src/plane_naolib_consumer.py)
# ---------------------------------------------------------------------------
def expand_bus_schedule(bus_df: DataFrame, service_date: str) -> DataFrame:
    """Bus schedule (bus, heure "4h".."25h", passages ["50d","12",...]) →
    one row per departure with a ``bus_time`` timestamp.

    Mirrors process_bus_data (src/plane_naolib_consumer.py:77-89) but the
    service date is a parameter, not a hard-coded literal (§2.11 bug 5),
    and hour normalization handles the 24h/25h after-midnight encoding.
    ``service_date`` must be an ISO date (``ValueError`` otherwise).
    A malformed hour (``"zzh"``) or an impossible time (minute ``"75"``)
    gets a null ``bus_time``, as under the reference's non-ANSI parse,
    instead of failing the query under ANSI mode; ``asof_join`` skips
    null times.
    """
    day = datetime.date.fromisoformat(service_date).isoformat()
    minute = f"lpad(CAST({digits_only('passage')} AS STRING), 2, '0')"
    return bus_df.selectExpr(
        "bus", f"{hour_norm('heure')} AS hour", "explode(passages) AS passage"
    ).selectExpr(
        "bus",
        f"try_to_timestamp(concat('{day}', ' ', CAST(hour AS STRING), ':',"
        f" {minute}, ':00')) AS bus_time",
    )


def q1_plane_bus_wait(
    plane_df: DataFrame,
    bus_df: DataFrame,
    begin_epoch: int,
    end_epoch: int,
    service_date: str,
) -> DataFrame:
    """Minimum wait between each plane arrival and the next city-bound bus.

    Reference shape: theta join ``bus_time > arrival_time`` + window
    rank 1 (src/plane_naolib_consumer.py:91-105), run as the sort-and-fill
    ``asof_join`` with ``strict=True`` (no pair is built). Epoch range and
    service date are parameters (§2.11 bug 5).
    """
    planes = plane_df.where(
        f"lastSeen BETWEEN {int(begin_epoch)} AND {int(end_epoch)}"
    ).selectExpr("icao24", "callsign", f"{epoch_to_ts('lastSeen')} AS arrival_time")
    buses = expand_bus_schedule(bus_df, service_date)
    out = asof_join(
        planes,
        buses,
        left_ts="arrival_time",
        right_ts="bus_time",
        left_keys=["icao24", "callsign"],
        right_cols=["bus", "bus_time"],
        strict=True,
    )
    return out.selectExpr(
        "icao24",
        "callsign",
        "arrival_time",
        "asof.bus AS bus",
        "asof.bus_time AS bus_time",
        f"{minutes_between('asof.bus_time', 'arrival_time')} AS wait_minutes",
        f"{french_time('arrival_time')} AS arrival_display",
        "concat(CAST(wait_minutes AS STRING), 'm') AS wait_display",
    )


# ---------------------------------------------------------------------------
# Q2 — bus affluence per hour (batch_bus_affluence.ipynb)
# ---------------------------------------------------------------------------
def q2_affluence_per_hour(
    affluence_df: DataFrame,
    stop: str | None = None,
    line: str | None = None,
) -> DataFrame:
    """Bus count per hour-of-day at a stop.

    One count per passage row — the *intended* semantics of
    parse_time_udf; the reference UDF iterated the characters of the
    passage string, double-counting "22" (§2.11 bug 1; the pure-Python
    variant in cell 2 has the correct per-message count). Hour
    normalization (`"25h"` → `"01:00"`) is a native expression, no UDF
    (U3 rewrite, SURVEY §2.10). ``stop`` and ``line`` are bound as
    parameters, never spliced into the SQL text.
    """
    args = {k: v for k, v in (("stop", stop), ("line", line)) if v is not None}
    where = " AND ".join(f"{k} = :{k}" for k in args)
    # Projected before spark.sql sees it: the temp view spark.sql
    # registers for a DataFrame uncaches a cached one when dropped.
    hours = affluence_df.selectExpr(
        "stop", "numLigne AS line", f"{hour_bucket('heure')} AS hour"
    )
    # At most 25 groups: COALESCE(1) + SORT BY sorts them in one task,
    # where ORDER BY would plan a range exchange and a sampling job.
    return affluence_df.sparkSession.sql(
        "SELECT /*+ COALESCE(1) */ hour, count(1) AS bus_count FROM {df}"
        f" {'WHERE ' + where if where else ''} GROUP BY hour SORT BY hour",
        args=args,
        df=hours,
    )


# ---------------------------------------------------------------------------
# Q3 — live bus positions on an ordered line (src/naolib_consumer.py)
# ---------------------------------------------------------------------------
def detect_positions_expr(
    stops_col: Column, sens_col: Column, ordered_stops: list[str]
) -> Column:
    """U1 as a *native* expression — no Python worker in the stream.

    Walk the ordered stop list (reversed when ``sens != 1``,
    src/naolib_consumer.py:111-114); a bus is AT a stop when its wait is
    0 min, and BETWEEN prev|stop when prev's wait > this stop's wait > 0
    (src/naolib_consumer.py:89-104). First matching measurement per stop
    wins, like the reference's ``next()``.
    """
    fwd = F.array(*[F.lit(s) for s in ordered_stops])
    rev = F.array(*[F.lit(s) for s in reversed(ordered_stops)])
    ordered = F.when(sens_col == 1, fwd).otherwise(rev)

    def minutes_at(stop: Column) -> Column:
        return F.get(
            F.filter(stops_col, lambda s: s["stop"] == stop), 0
        )["minutes"]

    def position(stop: Column, i: Column) -> Column:
        cur = minutes_at(stop)
        prev_stop = F.get(ordered, i - 1)  # null at i=0
        prev = minutes_at(prev_stop)
        at_stop = F.struct(
            stop.alias("location"), F.lit(True).alias("status")
        )
        between = F.struct(
            F.concat_ws("|", prev_stop, stop).alias("location"),
            F.lit(False).alias("status"),
        )
        return (
            F.when(cur == 0, at_stop)
            .when((cur > 0) & (prev > cur), between)
            .otherwise(
                F.lit(None).cast("struct<location:string,status:boolean>")
            )
        )

    walked = F.transform(ordered, lambda s, i: position(s, i))
    return F.filter(walked, lambda x: x.isNotNull())


def q3_bus_positions(
    positions_df: DataFrame,
    ordered_stops: list[str],
    line: str | None = None,
    window: str = "1 minute",
    watermark: str = "1 minute",
) -> DataFrame:
    """Live estimated bus positions per (event-time window, direction).

    Stream shape (src/naolib_consumer.py:56-117): keep real-time
    measurements only, parse wait minutes ("proche" → 0), window +
    collect measurements per direction, then walk the ordered stop list.
    Works on batch input too (windowed_agg is mode-agnostic).
    """
    df = positions_df
    if line is not None:
        df = df.filter(F.col("numLigne") == line)
    df = (
        df.filter(F.col("tempsReel") == "true")
        .withColumn("minutes", F.expr(parse_wait_minutes("temps")))
        .withColumn("created_at", F.col("created_at").try_cast("timestamp"))
    )
    agg = windowed_agg(
        df,
        "created_at",
        window,
        [F.collect_list(F.struct("stop", "minutes")).alias("stops")],
        group_cols=["sens"],
        watermark=watermark,
    )
    return agg.withColumn(
        "positions",
        detect_positions_expr(F.col("stops"), F.col("sens"), ordered_stops),
    )


# ---------------------------------------------------------------------------
# Q4 — bike-station occupancy (src/bike_consumer.py)
# ---------------------------------------------------------------------------
def q4_bike_occupancy(
    stations_df: DataFrame,
    window: str = "1 minute",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Average per-station availability per window + ASCII occupancy bar.

    Reference shape (src/bike_consumer.py:76-139): cast stringly-typed
    counts, event-time = last_update (ISO+offset), 3×avg per
    (name, address, window), bar via U2 — here a native
    repeat/concat expression (SURVEY §2.10), no Python worker.
    Output sorted by window/station (complete-mode display order, O1).
    """
    parsed = (
        stations_df.select(
            "name",
            "address",
            F.col("available_bikes").try_cast("int").alias("available_bikes"),
            F.col("available_bike_stands")
            .try_cast("int")
            .alias("available_bike_stands"),
            F.col("bike_stands").try_cast("int").alias("bike_stands"),
            F.try_to_timestamp(
                "last_update", F.lit(schemas.BIKE_LAST_UPDATE_FORMAT)
            ).alias("last_update"),
        )
    )
    agg = windowed_agg(
        parsed,
        "last_update",
        window,
        [
            F.avg("available_bikes").alias("avg_bikes"),
            F.avg("available_bike_stands").alias("avg_stands"),
            F.avg("bike_stands").alias("avg_total"),
        ],
        group_cols=["name", "address"],
        watermark=watermark,
    )
    out = agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        F.col("name").alias("station"),
        "address",
        "avg_bikes",
        "avg_stands",
        "avg_total",
        occupancy_bar(
            F.col("avg_bikes"), F.col("avg_stands"), F.col("avg_total")
        ).alias("bar"),
    )
    # Global sort is only legal on streams in complete output mode
    # (src/bike_consumer.py:139-146); on batch it's always fine.
    return out.orderBy("window_start", "station")


# ---------------------------------------------------------------------------
# wind — streaming dedup + tumbling average (src/previous_tp_code.py)
# ---------------------------------------------------------------------------
def wind_rolling_average(
    wind_df: DataFrame,
    window: str = "5 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Dedup by entry_id, then tumbling-window average wind speed.

    Fixes §2.11 bugs 2-3: the null filter applies to the *projected*
    ``wind_speed`` (the reference filtered a dropped struct path, an
    AnalysisException if run), and the watermark is only attached to
    streaming input.
    """
    df = dedup_stream(
        wind_df.select(
            F.col("created_at").try_cast("timestamp").alias("created_at"),
            F.col("entry_id").try_cast("int").alias("entry_id"),
            F.col("wind_speed").try_cast("float").alias("wind_speed"),
        ).filter(F.col("wind_speed").isNotNull()),
        ["entry_id"],
        "created_at",
        watermark,
    )
    agg = windowed_agg(
        df,
        "created_at",
        window,
        [F.avg("wind_speed").alias("avg_wind_speed")],
    )
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "avg_wind_speed",
    )
