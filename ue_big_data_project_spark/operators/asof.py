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

``asof_join_stream`` is the streaming twin (custom stateful operator).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
