"""Schema registry: explicit StructType per source (SURVEY §1.2).

The reference declares every topic schema by hand before ``from_json``
(reference: src/naolib_consumer.py:37-46, src/bike_consumer.py:39-60,
src/plane_naolib_consumer.py:26-47, src/previous_tp_code.py:116-124,
batch_bus_affluence.ipynb cell 4). Fields arrive stringly-typed from the
JSON APIs and are cast after parsing; malformed rows become nulls
(PERMISSIVE ``from_json``). This module keeps that contract: one declared
StructType per feed + the post-parse cast map.
"""

from __future__ import annotations

from pyspark.sql import types as T

from ue_big_data_project_spark.functions import ident

# --- Q3: live bus positions (src/naolib_consumer.py:37-46) -----------------
BUS_POSITION = T.StructType(
    [
        T.StructField("sens", T.IntegerType()),
        T.StructField("terminus", T.StringType()),
        T.StructField("infotrafic", T.BooleanType()),
        T.StructField("temps", T.StringType()),  # "proche" | "3mn"
        T.StructField("tempsReel", T.StringType()),  # "true"/"false" as string
        T.StructField("stop", T.StringType()),
        T.StructField("numLigne", T.StringType()),
        T.StructField("created_at", T.StringType()),  # ISO; cast→timestamp
    ]
)
BUS_POSITION_CASTS = {"created_at": "timestamp"}

# --- Q4: bike stations; each Kafka message is an ARRAY of these -------------
# (src/bike_consumer.py:39-60)
BIKE_STATION = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("number", T.StringType()),  # cast→int
        T.StructField("address", T.StringType()),
        T.StructField(
            "position",
            T.StructType(
                [
                    T.StructField("lon", T.DoubleType()),
                    T.StructField("lat", T.DoubleType()),
                ]
            ),
        ),
        T.StructField("available_bikes", T.StringType()),  # cast→int
        T.StructField("available_bike_stands", T.StringType()),  # cast→int
        T.StructField("bike_stands", T.IntegerType()),
        T.StructField("last_update", T.StringType()),  # ISO+offset
    ]
)
BIKE_STATIONS_MESSAGE = T.ArrayType(BIKE_STATION)
BIKE_STATION_CASTS = {
    "number": "int",
    "available_bikes": "int",
    "available_bike_stands": "int",
}
BIKE_LAST_UPDATE_FORMAT = "yyyy-MM-dd'T'HH:mm:ssXXX"  # src/bike_consumer.py:86-88

# --- Q1: plane arrivals (src/plane_naolib_consumer.py:26-40) ----------------
PLANE_ARRIVAL = T.StructType(
    [
        T.StructField("icao24", T.StringType()),
        T.StructField("firstSeen", T.IntegerType()),  # epoch s
        T.StructField("estDepartureAirport", T.StringType()),
        T.StructField("lastSeen", T.IntegerType()),  # epoch s = arrival
        T.StructField("estArrivalAirport", T.StringType()),
        T.StructField("callsign", T.StringType()),
        T.StructField("estDepartureAirportHorizDistance", T.IntegerType()),
        T.StructField("estDepartureAirportVertDistance", T.IntegerType()),
        T.StructField("estArrivalAirportHorizDistance", T.IntegerType()),
        T.StructField("estArrivalAirportVertDistance", T.IntegerType()),
        T.StructField("departureAirportCandidatesCount", T.IntegerType()),
        T.StructField("arrivalAirportCandidatesCount", T.IntegerType()),
    ]
)

# --- Q1: airport bus schedule (src/plane_naolib_consumer.py:42-47) ----------
BUS_AIRPORT = T.StructType(
    [
        T.StructField("bus", T.IntegerType()),
        T.StructField("heure", T.StringType()),  # "4h".."25h" (may exceed 23)
        T.StructField("passages", T.ArrayType(T.StringType())),  # ["50d","12"]
    ]
)

# --- Q2: per-passage bus affluence (batch_bus_affluence.ipynb cell 4) -------
BUS_AFFLUENCE = T.StructType(
    [
        T.StructField("numLigne", T.StringType()),
        T.StructField("stop", T.StringType()),
        T.StructField("heure", T.StringType()),  # "6h".."25h"
        T.StructField("passage", T.StringType()),  # one row = one bus
    ]
)

# --- wind IoT feed (src/previous_tp_code.py:116-124) ------------------------
WIND = T.StructType(
    [
        T.StructField("created_at", T.StringType()),  # ISO Z; cast→timestamp
        T.StructField("entry_id", T.IntegerType()),  # dedup key
        T.StructField("wind_speed", T.StringType()),  # cast→float, null if bad
    ]
)
WIND_CASTS = {"created_at": "timestamp", "wind_speed": "float"}

# --- driver testdata props JSON (events.props) ------------------------------
EVENT_PROPS = T.StructType([T.StructField("k", T.IntegerType())])

REGISTRY: dict[str, T.DataType] = {
    "bus_position": BUS_POSITION,
    "bike_station": BIKE_STATION,
    "bike_stations_message": BIKE_STATIONS_MESSAGE,
    "plane_arrival": PLANE_ARRIVAL,
    "bus_airport": BUS_AIRPORT,
    "bus_affluence": BUS_AFFLUENCE,
    "wind": WIND,
    "event_props": EVENT_PROPS,
}

CASTS: dict[str, dict[str, str]] = {
    "bus_position": BUS_POSITION_CASTS,
    "bike_station": BIKE_STATION_CASTS,
    "wind": WIND_CASTS,
}


def schema(name: str) -> T.DataType:
    """Look up a declared schema by source name."""
    return REGISTRY[name]


def apply_casts(df, source: str):
    """Post-parse cast layer: stringly-typed fields → declared types.

    Mirrors the reference's cast-after-parse contract (e.g.
    src/bike_consumer.py:78-84, src/previous_tp_code.py:141-147). One
    ``selectExpr`` keeps every column in place; ``try_cast`` turns a
    malformed value into null even under ANSI mode, preserving the
    reference's PERMISSIVE contract.
    """
    casts = CASTS.get(source)
    if not casts:
        return df
    return df.selectExpr(
        *(
            f"try_cast({ident(c)} AS {casts[c]}) AS {ident(c)}"
            if c in casts
            else ident(c)
            for c in df.columns
        )
    )
