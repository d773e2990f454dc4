"""Top-k operators (SURVEY §2.8).

- Per-group top-k / top-1 (argmin/argmax): the reference's W1 shape —
  ``row_number`` over ``Window.partitionBy(...).orderBy(...)`` then
  ``rank == 1`` (src/plane_naolib_consumer.py:102-104).
- Global top-k: ``orderBy(...).limit(k)`` — what the reference pushes to
  the REST API (``order_by=distance, limit=5``, src/bike_producer.py:35-40).

Scale notes: Spark compiles ``orderBy().limit(k)`` into TakeOrderedAndProject
— each partition keeps only its local top-k, the driver merges k·p rows; no
global sort materializes. Per-group top-k shuffles once on the group keys;
``row_number`` needs only a per-partition sort (no global order).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int = 1,
    rank_col: str = "rank",
    keep_rank: bool = False,
) -> DataFrame:
    """Keep the first ``k`` rows of each group under the given ordering.

    Pass deterministic tie-breakers in ``order_cols`` (e.g. a unique id)
    when the primary sort key can tie — ``row_number`` breaks ties
    arbitrarily otherwise.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )
    return out if keep_rank else out.drop(rank_col)


def argmin(
    df: DataFrame, group_cols: list[str], value: Column, payload: list[str]
) -> DataFrame:
    """Single-aggregation alternative to top-1 (``min_by``): one shuffle,
    no per-group sort. Preferred at scale over ``row_number`` + filter."""
    return df.groupBy(*group_cols).agg(
        F.min_by(F.struct(*payload), value).alias("best"),
        F.min(value).alias("best_value"),
    )


def topk_global(df: DataFrame, order_cols: list[Column | str], k: int) -> DataFrame:
    """Global top-k → TakeOrderedAndProject (no full sort at scale)."""
    return df.orderBy(*order_cols).limit(k)
