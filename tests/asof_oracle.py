"""The reference's as-of formulation, kept as the test oracle for
``asof_join``: theta (non-equi) inner join, then ``row_number`` over each
left row ordered by the right timestamp, keep rank 1
(src/plane_naolib_consumer.py:91-105). Same arguments and output shape
as ``asof_join``."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_oracle(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    left_keys: list[str],
    *,
    by: list[str] | None = None,
    tolerance_seconds: int | None = None,
    direction: str = "forward",
    right_cols: list[str] | None = None,
    strict: bool = False,
) -> DataFrame:
    right_cols = list(dict.fromkeys([*(right_cols or right.columns), right_ts]))
    group_cols = list(dict.fromkeys([*left_keys, left_ts, *(by or [])]))
    rsel = right.select(*dict.fromkeys([*right_cols, *(by or [])]))
    lts, rts = left[left_ts], rsel[right_ts]
    if direction == "forward":
        cond = rts > lts if strict else rts >= lts
        if tolerance_seconds:
            cond &= rts <= F.timestamp_add("SECOND", F.lit(tolerance_seconds), lts)
    else:
        cond = rts < lts if strict else rts <= lts
        if tolerance_seconds:
            cond &= rts >= F.timestamp_add("SECOND", F.lit(-tolerance_seconds), lts)
    for k in by or []:
        cond &= left[k] == rsel[k]
    joined = left.join(rsel, cond, "inner")
    order = rts.asc() if direction == "forward" else rts.desc()
    # Qualify both sides: by= keys may exist on left AND right.
    w = Window.partitionBy(*[left[c] for c in group_cols]).orderBy(order)
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            *[left[c] for c in group_cols],
            F.struct(*[rsel[c].alias(c) for c in right_cols]).alias("asof"),
        )
    )
