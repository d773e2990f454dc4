"""As-of join.

The reference's only join is a theta (non-equi) inner join followed by a
``row_number`` window and ``rank == 1`` filter — "first bus at-or-after
each plane arrival" (reference: src/plane_naolib_consumer.py:91-105).
With no equi key Spark executes that as a BroadcastNestedLoopJoin, which
builds every (left, right) pair that passes the theta predicate before
ranking them: for one day of Q1 that is ≈ 862 k pairs for ≈ 9.6 k rows.

``asof_join`` keeps the reference semantics with one plan and no join:
both sides are unioned on one time column, sorted, and each left row
takes the last right row seen so far (a running ``last(ignorenulls)``
window). The plan is one SQL text, so building it costs a few JVM
calls however many columns it names. ``tests/test_asof.py`` checks it
against the reference formulation.

The streaming as-of operator (``asof_join_stream``) is an extension; it
lives beside its one caller in ``queries/events.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ue_big_data_project_spark.functions import ident


def asof_join(
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
    """For each left row, the nearest right row at-or-after (``forward``)
    or at-or-before (``backward``) its timestamp, with equal ``by`` keys.
    ``strict`` excludes equal timestamps.

    ``left_keys`` must uniquely identify left rows (they become the output
    grain). ``left_ts`` and ``right_ts`` must be distinct column names.
    Output = ``left_keys`` + ``left_ts`` [+ ``by``] + an ``asof`` struct
    holding the matched right row (``right_cols``, default all). Unmatched
    left rows are dropped, matching the reference's inner-join semantics
    (src/plane_naolib_consumer.py:93); so are rows with a null timestamp
    or a null ``by`` key, as in an equi join.

    Plan: union both sides on one time column, order by time (descending
    for ``forward``, ascending for ``backward``) with right rows before
    left rows on a tie (after them if ``strict``), and carry the last
    right payload forward over a running ``ROWS`` frame per ``by``
    partition — O((n + m) log(n + m)), no pair is ever built. The frame
    must be a running one: ``UNBOUNDED FOLLOWING`` is recomputed per row
    and the default ``RANGE`` frame lets tied rows see each other.
    ``tolerance_seconds`` filters the match afterwards, which is exact:
    the nearest match is within tolerance iff any match is. Without
    ``by`` the window runs in ONE partition, which is sized for this
    system's inputs (one service day: ≈ 10 k planes, ≈ 180 departures).
    """
    if direction not in ("forward", "backward"):
        raise ValueError(f"direction must be forward|backward, got {direction}")
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must have distinct names")
    by = list(by or [])
    right_cols = list(dict.fromkeys([*(right_cols or right.columns), right_ts]))
    group_cols = list(dict.fromkeys([*left_keys, left_ts, *by]))
    fwd = direction == "forward"
    # Tie rank: the side with the lower rank sorts first at equal time.
    left_rank, right_rank = (0, 1) if strict else (1, 0)

    def q(name: str) -> str:
        # Braces are doubled because spark.sql formats the text when it
        # is given DataFrames (``{l}``, ``{r}``).
        return ident(name).replace("{", "{{").replace("}", "}}")

    def present(df: DataFrame, ts: str) -> DataFrame:
        # Filtered before spark.sql sees it: the temp view spark.sql
        # registers for a DataFrame uncaches a cached one when dropped,
        # and a filtered frame's plan is not the cached plan.
        return df.where(" AND ".join(f"{ident(c)} IS NOT NULL" for c in [ts, *by]))

    lts, rts = q(left_ts), q(right_ts)
    cols = ", ".join(map(q, group_cols))
    partition = f"PARTITION BY {', '.join(map(q, by))} " if by else ""
    tolerance = ""
    if tolerance_seconds:
        tol = int(tolerance_seconds)
        tolerance = (
            f" AND _p.{rts} <= timestampadd(SECOND, {tol}, {lts})"
            if fwd
            else f" AND _p.{rts} >= timestampadd(SECOND, {-tol}, {lts})"
        )
    text = f"""
SELECT {cols}, _p AS asof FROM (
  SELECT {cols}, _o, last(_p, true) OVER (
    {partition}ORDER BY _t {"DESC" if fwd else "ASC"}, _o
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _p
  FROM (
    SELECT {cols}, {lts} AS _t, {left_rank} AS _o, NULL AS _p FROM {{l}}
    UNION ALL
    SELECT {", ".join(q(c) if c in by else "NULL" for c in group_cols)},
      {rts}, {right_rank}, struct({", ".join(map(q, right_cols))}) FROM {{r}}
  )
) WHERE _o = {left_rank} AND _p IS NOT NULL{tolerance}
"""
    return left.sparkSession.sql(
        text, l=present(left, left_ts), r=present(right, right_ts)
    )
