"""Scalar function kit — native Catalyst expressions first.

Every scalar the reference uses (SURVEY §2.9/§2.10) re-expressed as
JVM-side column expressions so they stay inside whole-stage codegen.
The reference's three row-at-a-time Python UDFs are replaced where the
semantics allow:

- U2 ``compute_bar_udf`` (src/bike_consumer.py:103-122) → ``occupancy_bar``
  built from ``repeat``/``concat`` (pure expression, no Python worker).
- U3 ``parse_time_udf`` (batch_bus_affluence.ipynb cell 4) → ``hour_bucket``
  built from ``regexp_replace`` + ``pmod`` + ``format_string``.
- U1 ``detect_bus_positions_udf`` → ``detect_positions_expr`` in
  ``queries.reference``, a native array walk (``transform``/``filter``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088


def pround(c: Column, scale: int) -> Column:
    """Portable round: ``floor(x·10ˢ + 0.5) / 10ˢ``.

    Spark's ``round`` re-parses the double's shortest decimal repr
    (BigDecimal HALF_UP) while DuckDB rounds numerically — they disagree
    on exact-boundary values like 9.93755. This formulation is the same
    IEEE ops in any engine, so results are bit-identical cross-engine.
    Valid while |x|·10ˢ < 2⁵³.
    """
    k = F.lit(float(10**scale))
    return F.floor(c * k + F.lit(0.5)) / k


def sql_round(expr: str, scale: int) -> str:
    """The SQL twin of :func:`pround` (same ops, any ANSI engine)."""
    k = f"{10**scale}.0"
    return f"floor(({expr}) * {k} + 0.5) / {k}"


def hour_norm(heure: Column | str) -> Column:
    """``"25h"`` → 1: strip the 'h' suffix and normalize modulo 24.

    TAN uses 24h/25h for after-midnight service (reference:
    batch_bus_affluence.ipynb cell 4 lines 50-65, src/plane_naolib_consumer.py:80).
    A malformed hour (``"xh"``) is null, as the reference's non-ANSI cast
    made it, instead of failing the query under ANSI mode.
    """
    c = F.col(heure) if isinstance(heure, str) else heure
    return F.pmod(F.regexp_replace(c, "h", "").try_cast("int"), F.lit(24))


def hour_bucket(heure: Column | str) -> Column:
    """``"25h"`` → ``"01:00"`` display bucket (U3's intended output);
    null when the hour is missing or malformed."""
    h = hour_norm(heure)
    return F.when(h.isNotNull(), F.format_string("%02d:00", h))


def parse_wait_minutes(temps: Column | str) -> Column:
    """``"proche"`` → 0, ``"3mn"`` → 3 (reference: src/naolib_consumer.py:70-76).

    Non-numeric leftovers become null (cast semantics), matching the
    PERMISSIVE contract.
    """
    c = F.col(temps) if isinstance(temps, str) else temps
    return F.when(c == "proche", F.lit(0)).otherwise(
        F.regexp_replace(c, "[^0-9]", "").try_cast("int")
    )


def digits_only(col: Column | str) -> Column:
    """Strip every non-digit: ``"50d"`` → 50 (src/plane_naolib_consumer.py:81)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "[^0-9]", "").try_cast("int")


def occupancy_bar(
    bikes: Column, stands: Column, total: Column, no_data: str = "[No data]"
) -> Column:
    """ASCII occupancy bar — native rewrite of U2 (src/bike_consumer.py:103-122).

    ``"#" * bikes + "-" * stands + "?" * |total - bikes - stands|``; the
    reference rounds averaged inputs to int first and emits ``[No data]``
    when any input is null.
    """
    b = F.round(bikes).cast("int")
    s = F.round(stands).cast("int")
    t = F.round(total).cast("int")
    disc = F.abs(t - b - s)
    bar = F.concat(
        F.repeat(F.lit("#"), F.greatest(b, F.lit(0))),
        F.repeat(F.lit("-"), F.greatest(s, F.lit(0))),
        F.repeat(F.lit("?"), F.greatest(disc, F.lit(0))),
    )
    return F.when(
        bikes.isNull() | stands.isNull() | total.isNull(), F.lit(no_data)
    ).otherwise(bar)


def haversine_km(
    lon1: Column, lat1: Column, lon2: Column, lat2: Column
) -> Column:
    """Great-circle distance in km as a pure column expression.

    Internalizes the geo pushdown the reference delegates to the Nantes
    open-data REST API (``within_distance``/``distance`` params,
    src/bike_producer.py:23-40). Stays in whole-stage codegen: no UDF.
    """
    rlon1, rlat1 = F.radians(lon1), F.radians(lat1)
    rlon2, rlat2 = F.radians(lon2), F.radians(lat2)
    dlon = rlon2 - rlon1
    dlat = rlat2 - rlat1
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) ** 2
    )
    return F.lit(2 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def epoch_to_ts(epoch_s: Column | str) -> Column:
    """Unix epoch seconds → timestamp (src/plane_naolib_consumer.py:61)."""
    c = F.col(epoch_s) if isinstance(epoch_s, str) else epoch_s
    return F.timestamp_seconds(c)


def minutes_between(later: Column, earlier: Column) -> Column:
    """Whole minutes between two timestamps (src/plane_naolib_consumer.py:96-99)."""
    return (
        (F.unix_timestamp(later) - F.unix_timestamp(earlier)) / 60
    ).cast("int")


def french_time(ts: Column) -> Column:
    """``14h05m`` display format (src/plane_naolib_consumer.py:111)."""
    return F.date_format(ts, "H'h'mm'm'")


def hex_digit_value(c: Column) -> Column:
    """Hex character → 0..15 via ``instr`` — portable to any SQL engine.

    Used by the hash-sketch operators (minhash/simhash) so the DuckDB
    oracle can reproduce bit-level behavior exactly: both engines agree on
    ``md5`` and on ``instr/strpos``.
    """
    return F.instr(F.lit("0123456789abcdef"), c) - 1
