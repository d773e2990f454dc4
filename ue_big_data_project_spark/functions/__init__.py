"""Scalar function kit — native Catalyst expressions first.

Every scalar the reference uses (SURVEY §2.9/§2.10) re-expressed as
JVM-side expressions so they stay inside whole-stage codegen. The
scalars of the batch transit queries are SQL fragments: each takes SQL
expressions (usually quoted column names, see ``ident``) and returns SQL
text for ``selectExpr``/``where``/``spark.sql``, or for ``F.expr`` where
a ``Column`` is needed. A fragment reaches the JVM in one call however
long it is, where a ``Column`` chain pays one Py4J round trip per
operator. The reference's three row-at-a-time Python UDFs are replaced
where the semantics allow:

- U2 ``compute_bar_udf`` (src/bike_consumer.py:103-122) → ``occupancy_bar``
  built from ``repeat``/``concat`` (pure expression, no Python worker).
- U3 ``parse_time_udf`` (batch_bus_affluence.ipynb cell 4) → ``hour_bucket``
  built from ``regexp_replace`` + ``pmod`` + ``format_string``.
- U1 ``detect_bus_positions_udf`` → ``detect_positions_expr`` in
  ``queries.reference``, a native array walk (``transform``/``filter``).
"""

from __future__ import annotations

import math

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


def ident(name: str) -> str:
    """``name`` as one backtick-quoted SQL identifier; a backtick inside
    it is doubled."""
    return "`" + name.replace("`", "``") + "`"


def col_path(name: str) -> str:
    """A column path as ``F.col`` reads it, each part quoted:
    ``"position.lon"`` → ``"`position`.`lon`"``."""
    return ".".join(ident(p) for p in name.split("."))


def double_lit(x: float) -> str:
    """``x`` as an exact DOUBLE literal (``47.2154D``); Spark parses a
    bare ``47.2154`` as DECIMAL."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"not a finite number: {x!r}")
    return f"{x!r}D"


def hour_norm(heure: str) -> str:
    """``"25h"`` → 1: strip the 'h' suffix and normalize modulo 24.

    TAN uses 24h/25h for after-midnight service (reference:
    batch_bus_affluence.ipynb cell 4 lines 50-65, src/plane_naolib_consumer.py:80).
    A malformed hour (``"xh"``) is null, as the reference's non-ANSI cast
    made it, instead of failing the query under ANSI mode.
    """
    return f"pmod(try_cast(regexp_replace({heure}, 'h', '') AS INT), 24)"


def hour_bucket(heure: str) -> str:
    """``"25h"`` → ``"01:00"`` display bucket (U3's intended output);
    null when the hour is missing or malformed."""
    h = hour_norm(heure)
    return f"CASE WHEN {h} IS NOT NULL THEN format_string('%02d:00', {h}) END"


def parse_wait_minutes(temps: str) -> str:
    """``"proche"`` → 0, ``"3mn"`` → 3 (reference: src/naolib_consumer.py:70-76).

    Non-numeric leftovers become null (``digits_only``), matching the
    PERMISSIVE contract.
    """
    return f"CASE WHEN {temps} = 'proche' THEN 0 ELSE {digits_only(temps)} END"


def digits_only(col: str) -> str:
    """Strip every non-digit: ``"50d"`` → 50 (src/plane_naolib_consumer.py:81)."""
    return f"try_cast(regexp_replace({col}, '[^0-9]', '') AS INT)"


def occupancy_bar(bikes: Column, stands: Column, total: Column) -> Column:
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
        bikes.isNull() | stands.isNull() | total.isNull(), F.lit("[No data]")
    ).otherwise(bar)


def haversine_km(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Great-circle distance in km.

    Internalizes the geo pushdown the reference delegates to the Nantes
    open-data REST API (``within_distance``/``distance`` params,
    src/bike_producer.py:23-40). Stays in whole-stage codegen: no UDF.
    """
    rlat1, rlat2 = f"radians({lat1})", f"radians({lat2})"
    dlon = f"(radians({lon2}) - radians({lon1}))"
    dlat = f"({rlat2} - {rlat1})"
    a = (
        f"pow(sin({dlat} / 2), 2)"
        f" + cos({rlat1}) * cos({rlat2}) * pow(sin({dlon} / 2), 2)"
    )
    return f"{double_lit(2 * EARTH_RADIUS_KM)} * asin(sqrt({a}))"


def epoch_to_ts(epoch_s: str) -> str:
    """Unix epoch seconds → timestamp (src/plane_naolib_consumer.py:61)."""
    return f"timestamp_seconds({epoch_s})"


def minutes_between(later: str, earlier: str) -> str:
    """Whole minutes between two timestamps (src/plane_naolib_consumer.py:96-99)."""
    return f"CAST((unix_timestamp({later}) - unix_timestamp({earlier})) / 60 AS INT)"


def french_time(ts: str) -> str:
    """``14h05m`` display format (src/plane_naolib_consumer.py:111)."""
    return f"date_format({ts}, 'H''h''mm''m''')"


def hex_digit_value(c: Column) -> Column:
    """Hex character → 0..15 via ``instr`` — portable to any SQL engine.

    Used by the hash-sketch operators (minhash/simhash) so the DuckDB
    oracle can reproduce bit-level behavior exactly: both engines agree on
    ``md5`` and on ``instr/strpos``.
    """
    return F.instr(F.lit("0123456789abcdef"), c) - 1
