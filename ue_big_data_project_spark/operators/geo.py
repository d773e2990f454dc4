"""Geo k-NN — internalized version of the reference's REST pushdown.

The reference asks the Nantes open-data API to do
``within_distance(position, POINT(lon lat), 10km)`` + ``order_by=distance``
+ ``limit=5`` server-side (src/bike_producer.py:23-40). Spark never sees
the geometry. In this engine the same query is a native SQL expression
(the ``functions.haversine_km`` fragment, one ``F.expr``) +
TakeOrderedAndProject, so it distributes.

At 100 TB scale, brute-force distance-to-point is a single scan with no
shuffle (the top-k merge moves k rows per partition). For repeated queries
over a static point set, pre-bucketing by geohash-style cells would prune
the scan; not needed at the reference's k=5 / n≈tens scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ue_big_data_project_spark.functions import (
    col_path,
    double_lit,
    haversine_km,
    ident,
)


def nearest_points(
    df: DataFrame,
    lon_col: str,
    lat_col: str,
    center_lon: float,
    center_lat: float,
    k: int = 5,
    radius_km: float | None = None,
    tie_breaker: str | None = None,
    dist_col: str = "distance_km",
) -> DataFrame:
    """Top-``k`` rows nearest to (center_lon, center_lat), optionally
    bounded by ``radius_km`` (the API's ``within_distance`` semantics).
    ``lon_col``/``lat_col`` are column paths, as ``F.col`` reads them."""
    dist = haversine_km(
        col_path(lon_col),
        col_path(lat_col),
        double_lit(center_lon),
        double_lit(center_lat),
    )
    out = df.withColumn(dist_col, F.expr(dist))
    if radius_km is not None:
        out = out.where(f"{ident(dist_col)} <= {double_lit(radius_km)}")
    return out.orderBy(dist_col, *([tie_breaker] if tie_breaker else [])).limit(k)
