"""The reference's declared queries, registered in the correctness gate.

The four transit queries + wind pipeline run on deterministic inline
fixtures (FIXTURES.md shapes — the driver's testdata has no transit
feeds), so the driver's DuckDB oracle hash-checks reference parity
end-to-end, not just pytest goldens. Q3's ordered-stop walk (an array
walk with positional lookback) is expressed in the oracle as a
position-vs-predecessor self-join over the fixture's literal stop
order, so all five reference queries are fully hash-checked.

Oracles are pure VALUES-based SQL, timezone-free by construction:
timestamps compare as epoch seconds/micros, never as rendered strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ue_big_data_project_spark.session import local_relation

from ue_big_data_project_spark.functions import pround, sql_round
from ue_big_data_project_spark.queries import QuerySpec
from ue_big_data_project_spark.queries import reference as R

# ---------------------------------------------------------------------------
# Fixtures (deterministic literals; FIXTURES.md shapes)
# ---------------------------------------------------------------------------
_PLANES = [
    # icao24, callsign, lastSeen (epoch s)
    ("ab1", "AF1", 1_742_200_000),  # 2025-03-17 08:26:40 UTC
    ("ab2", "AF2", 1_742_203_600),  # 09:26:40
    ("ab3", "HOP4", 1_742_214_500),  # 12:28:20
    ("ab4", "EZY9", 1_742_249_000),  # 22:03:20
    ("out", "AF3", 1_742_900_000),  # outside the day's epoch range
]
_BUS_SCHED = [
    # bus line, heure, passages (minutes strings, possibly suffixed)
    (38, "8h", ["10", "30d", "50"]),
    (98, "9h", ["05v", "45"]),
    (38, "12h", ["31"]),
    (98, "22h", ["04", "59"]),
    (38, "25h", ["15"]),  # TAN after-midnight encoding → 01:15
]
_AFFLUENCE = [
    # numLigne, stop, heure, passage
    ("23", "CRQU4", "6h", "01"),
    ("23", "CRQU4", "6h", "22"),
    ("23", "CRQU4", "7h", "15v"),
    ("23", "CRQU4", "7h", "33"),
    ("23", "CRQU4", "25h", "40"),
    ("12", "OTHER", "6h", "09"),
]
_BIKES = [
    # name, number, address, bikes, stands, total, last_update (ISO+offset)
    ("Lieu Unique", "042", "Quai", "7", "13", 20, "2025-03-25T14:04:58+01:00"),
    ("Lieu Unique", "042", "Quai", "9", "11", 20, "2025-03-25T14:05:28+01:00"),
    ("Gare", "001", "Rue", "5", "10", 20, "2025-03-25T14:04:10+01:00"),
    ("Moisson", "002", "Av", None, "4", 10, "2025-03-25T14:04:20+01:00"),
    ("Gloriette", "003", "Ile", "0", "20", 20, "2025-03-25T14:18:00+01:00"),
]
_WIND = [
    # created_at (ISO Z), entry_id, wind_speed
    ("2025-01-25T16:00:12Z", 1, "3.0"),
    ("2025-01-25T16:00:12Z", 1, "3.0"),  # exact duplicate (dedup by id)
    ("2025-01-25T16:02:12Z", 2, "5.0"),
    ("2025-01-25T16:03:12Z", 3, "bad"),  # null after cast → dropped
    ("2025-01-25T16:07:12Z", 4, "7.0"),
    ("2025-01-25T16:09:12Z", 5, "9.0"),
]
_STOPS = ["AAAA", "BBBB", "CCCC", "DDDD"]
_POSITIONS = [
    # sens, temps, tempsReel, stop, created_at
    (1, "7mn", "true", "AAAA", "2025-03-25T14:05:01"),
    (1, "proche", "true", "BBBB", "2025-03-25T14:05:01"),
    (1, "5mn", "true", "CCCC", "2025-03-25T14:05:01"),
    (1, "2mn", "true", "DDDD", "2025-03-25T14:05:01"),
    (2, "9mn", "true", "DDDD", "2025-03-25T14:05:02"),
    (2, "6mn", "true", "CCCC", "2025-03-25T14:05:02"),
    (2, "3mn", "true", "BBBB", "2025-03-25T14:05:02"),
    (2, "8mn", "true", "AAAA", "2025-03-25T14:05:02"),
    (1, "1mn", "false", "AAAA", "2025-03-25T14:05:03"),  # non-realtime
]

_EPOCH_BEGIN, _EPOCH_END = 1_742_166_015, 1_742_252_385
_SERVICE_DATE = "2025-03-17"


def _sql_values(rows, cols: str) -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES {body}) AS t({cols})"


# ---------------------------------------------------------------------------
def ref_q1_plane_bus_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    plane_df = local_relation(spark, 
        [(i, c, ls) for i, c, ls in _PLANES],
        "icao24 string, callsign string, lastSeen long",
    )
    bus_df = local_relation(spark, 
        _BUS_SCHED, "bus int, heure string, passages array<string>"
    )
    out = R.q1_plane_bus_wait(
        plane_df,
        bus_df,
        begin_epoch=_EPOCH_BEGIN,
        end_epoch=_EPOCH_END,
        service_date=_SERVICE_DATE,
    )
    return out.select(
        "icao24",
        "callsign",
        F.unix_timestamp("arrival_time").alias("arrival_epoch"),
        "bus",
        F.unix_timestamp("bus_time").alias("bus_epoch"),
        "wait_minutes",
        "wait_display",
    )


_SCHED_FLAT = [
    (bus, heure, p) for bus, heure, ps in _BUS_SCHED for p in ps
]
REF_Q1_SQL = f"""
WITH planes AS (
  SELECT * FROM {_sql_values([(i, c, ls) for i, c, ls in _PLANES],
                             "icao24, callsign, lastSeen")}
  WHERE lastSeen BETWEEN {_EPOCH_BEGIN} AND {_EPOCH_END}
), dep AS (
  SELECT bus,
         TIMESTAMP '{_SERVICE_DATE} 00:00:00'
           + INTERVAL 1 HOUR * (CAST(replace(heure, 'h', '') AS INTEGER) % 24)
           + INTERVAL 1 MINUTE * CAST(regexp_replace(passage, '[^0-9]', '', 'g') AS INTEGER)
           AS bus_time
  FROM {_sql_values(_SCHED_FLAT, "bus, heure, passage")}
), joined AS (
  SELECT p.icao24, p.callsign, CAST(p.lastSeen AS BIGINT) AS arrival_epoch,
         d.bus, CAST(epoch(d.bus_time) AS BIGINT) AS bus_epoch,
         row_number() OVER (
           PARTITION BY p.icao24 ORDER BY d.bus_time ASC, d.bus ASC
         ) AS rn
  FROM planes p
  JOIN dep d ON epoch(d.bus_time) > p.lastSeen
)
SELECT icao24, callsign, arrival_epoch, bus, bus_epoch,
       CAST((bus_epoch - arrival_epoch) // 60 AS INTEGER) AS wait_minutes,
       CAST(CAST((bus_epoch - arrival_epoch) // 60 AS INTEGER) AS VARCHAR) || 'm' AS wait_display
FROM joined WHERE rn = 1
"""


# ---------------------------------------------------------------------------
def ref_q2_affluence(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = local_relation(spark, 
        _AFFLUENCE, "numLigne string, stop string, heure string, passage string"
    )
    return R.q2_affluence_per_hour(df, stop="CRQU4", line="23")


REF_Q2_SQL = f"""
SELECT lpad(CAST(CAST(replace(heure, 'h', '') AS INTEGER) % 24 AS VARCHAR), 2, '0')
         || ':00' AS hour,
       count(*) AS bus_count
FROM {_sql_values(_AFFLUENCE, "numLigne, stop, heure, passage")}
WHERE stop = 'CRQU4' AND numLigne = '23'
GROUP BY 1
"""


# ---------------------------------------------------------------------------
def ref_q3_bus_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered-stop positional walk (U1) — the engine's
    custom-expression escape hatch, checked against a plain Python walk
    (tests/q3_oracle.py) in tests/test_reference_queries.py and
    tests/test_properties.py.

    The general operator takes an arbitrary runtime stop list, but with
    the fixture's literal stop order the walk IS SQL-expressible (join
    each walk position against its predecessor), so since round 2 this
    registers WITH a full hash-checked oracle instead of rows-only."""
    df = local_relation(spark, 
        [
            (sens, "Term", False, temps, tr, stop, "C6", ts)
            for sens, temps, tr, stop, ts in _POSITIONS
        ],
        "sens int, terminus string, infotrafic boolean, temps string, "
        "tempsReel string, stop string, numLigne string, created_at string",
    )
    out = R.q3_bus_positions(df, _STOPS, line="C6")
    return out.select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "sens",
        F.explode("positions").alias("p"),
    ).select(
        "window_start_us", "sens", F.col("p.location").alias("location"),
        F.col("p.status").alias("status"),
    )


_STOP_IDX = ", ".join(f"({i + 1}, '{s}')" for i, s in enumerate(_STOPS))
_N_STOPS = len(_STOPS)
REF_Q3_SQL = f"""
WITH src AS (
  SELECT * FROM {_sql_values(_POSITIONS,
                             "sens, temps, tempsReel, stop, created_at")}
), meas AS (
  SELECT sens, stop,
         epoch_us(CAST(created_at AS TIMESTAMP))
           - epoch_us(CAST(created_at AS TIMESTAMP)) % 60000000
           AS window_start_us,
         min(CASE WHEN temps = 'proche' THEN 0
                  ELSE CAST(regexp_replace(temps, '[^0-9]', '', 'g') AS INTEGER)
             END) AS minutes
  FROM src WHERE tempsReel = 'true'
  GROUP BY 1, 2, 3
), windows AS (
  SELECT DISTINCT window_start_us, sens FROM meas
), walk AS (
  SELECT w.window_start_us, w.sens, o.stop,
         CASE WHEN w.sens = 1 THEN o.idx ELSE {_N_STOPS + 1} - o.idx END AS pos
  FROM windows w, (VALUES {_STOP_IDX}) o(idx, stop)
), lk AS (
  SELECT k.window_start_us, k.sens, k.pos, k.stop, m.minutes AS cur
  FROM walk k LEFT JOIN meas m
    ON m.window_start_us = k.window_start_us
   AND m.sens = k.sens AND m.stop = k.stop
)
SELECT c.window_start_us, c.sens,
       CASE WHEN c.cur = 0 THEN c.stop
            WHEN c.cur > 0 AND p.cur > c.cur THEN p.stop || '|' || c.stop
       END AS location,
       CASE WHEN c.cur = 0 THEN TRUE
            WHEN c.cur > 0 AND p.cur > c.cur THEN FALSE
       END AS status
FROM lk c
LEFT JOIN lk p
  ON p.window_start_us = c.window_start_us
 AND p.sens = c.sens AND p.pos = c.pos - 1
WHERE (c.cur = 0) OR (c.cur > 0 AND p.cur > c.cur)
"""


# ---------------------------------------------------------------------------
def ref_q4_bike_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = local_relation(spark, 
        _BIKES,
        "name string, number string, address string, available_bikes string, "
        "available_bike_stands string, bike_stands int, last_update string",
    )
    out = R.q4_bike_occupancy(df, window="10 minutes")
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        "station",
        "address",
        pround(F.col("avg_bikes"), 4).alias("avg_bikes"),
        pround(F.col("avg_stands"), 4).alias("avg_stands"),
        "bar",
    )


_Q4_AVG = "CAST(sum(bikes) AS DOUBLE) / count(bikes)"
_Q4_AVG_S = "CAST(sum(stands) AS DOUBLE) / count(stands)"
_Q4_AVG_T = "CAST(sum(total) AS DOUBLE) / count(total)"
REF_Q4_SQL = f"""
WITH parsed AS (
  SELECT name, address,
         TRY_CAST(b AS INTEGER) AS bikes,
         TRY_CAST(s AS INTEGER) AS stands,
         total,
         epoch_us(strptime(lu, '%Y-%m-%dT%H:%M:%S%z')) AS ts_us
  FROM {_sql_values([(n, num, a, b, s, t, lu) for n, num, a, b, s, t, lu in _BIKES],
                    "name, num, address, b, s, total, lu")}
), agg AS (
  SELECT ts_us - ts_us % 600000000 AS window_start_us,
         name AS station, address,
         {_Q4_AVG} AS avg_bikes, {_Q4_AVG_S} AS avg_stands, {_Q4_AVG_T} AS avg_total,
         count(*) AS n, count(bikes) AS nb, count(stands) AS ns
  FROM parsed
  GROUP BY 1, 2, 3
)
SELECT window_start_us, station, address,
       {sql_round("avg_bikes", 4)} AS avg_bikes,
       {sql_round("avg_stands", 4)} AS avg_stands,
       CASE WHEN nb < n OR ns < n THEN '[No data]'
            ELSE repeat('#', greatest(CAST(floor(avg_bikes + 0.5) AS INTEGER), 0))
              || repeat('-', greatest(CAST(floor(avg_stands + 0.5) AS INTEGER), 0))
              || repeat('?', greatest(abs(CAST(floor(avg_total + 0.5) AS INTEGER)
                   - CAST(floor(avg_bikes + 0.5) AS INTEGER)
                   - CAST(floor(avg_stands + 0.5) AS INTEGER)), 0))
       END AS bar
FROM agg
"""


# ---------------------------------------------------------------------------
def ref_wind_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = local_relation(spark, 
        _WIND, "created_at string, entry_id int, wind_speed string"
    )
    out = R.wind_rolling_average(df, window="5 minutes")
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        pround(F.col("avg_wind_speed"), 4).alias("avg_wind_speed"),
    )


REF_WIND_SQL = f"""
WITH parsed AS (
  SELECT DISTINCT entry_id,
         epoch_us(strptime(created_at, '%Y-%m-%dT%H:%M:%SZ')) AS ts_us,
         TRY_CAST(wind_speed AS FLOAT) AS wind_speed
  FROM {_sql_values(_WIND, "created_at, entry_id, wind_speed")}
  WHERE TRY_CAST(wind_speed AS FLOAT) IS NOT NULL
)
SELECT ts_us - ts_us % 300000000 AS window_start_us,
       {sql_round("CAST(sum(wind_speed::DOUBLE) AS DOUBLE) / count(*)", 4)} AS avg_wind_speed
FROM parsed
GROUP BY 1
"""


QUERIES = {
    "ref_q1_plane_bus_wait": QuerySpec(ref_q1_plane_bus_wait, REF_Q1_SQL),
    "ref_q2_affluence": QuerySpec(ref_q2_affluence, REF_Q2_SQL),
    "ref_q3_bus_positions": QuerySpec(ref_q3_bus_positions, REF_Q3_SQL),
    "ref_q4_bike_occupancy": QuerySpec(ref_q4_bike_occupancy, REF_Q4_SQL),
    "ref_wind_rolling_avg": QuerySpec(ref_wind_rolling_avg, REF_WIND_SQL),
}
