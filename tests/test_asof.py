"""``asof_join`` (one sort-and-fill plan) against the reference's own
formulation, theta join + rank 1 (``tests/asof_oracle.py``), SURVEY §2.5."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.asof_oracle import asof_oracle
from ue_big_data_project_spark.operators.asof import asof_join


@pytest.fixture(scope="module")
def sides(spark):
    left = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", "g1"),
            (2, "2024-01-01 10:04:30", "g1"),
            (3, "2024-01-01 10:09:59", "g2"),
            (4, "2024-01-01 23:59:00", "g2"),  # no forward match in g2
        ],
        "id long, lts string, grp string",
    ).withColumn("lts", F.col("lts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            ("2024-01-01 10:00:00", "g1", 100.0),
            ("2024-01-01 10:05:00", "g1", 101.0),
            ("2024-01-01 10:10:00", "g2", 102.0),
            ("2024-01-01 10:59:59", "g2", 103.0),
        ],
        "rts string, grp string, payload double",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    return left, right


def collect_asof(df, key="id", ts="rts"):
    return {r[key]: r["asof"][ts].isoformat() for r in df.collect()}


def both(left, right, **kwargs):
    """(asof_join, oracle) results for the same arguments."""
    kwargs = {"left_ts": "lts", "right_ts": "rts", "left_keys": ["id"], **kwargs}
    key, ts = kwargs["left_keys"][0], kwargs["right_ts"]
    return (
        collect_asof(asof_join(left, right, **kwargs), key, ts),
        collect_asof(asof_oracle(left, right, **kwargs), key, ts),
    )


def test_forward_strategies_agree(spark, sides):
    left, right = sides
    for kwargs in [{}, {"tolerance_seconds": 3600}]:
        got, want = both(
            left, right.drop("grp"), right_cols=["rts", "payload"], **kwargs
        )
        assert got == want, kwargs
    # id1 matches the equal timestamp (non-strict ≥).
    assert got[1] == "2024-01-01T10:00:00"
    assert got[2] == "2024-01-01T10:05:00"


def _ts_only_right(left, right):
    return left, right.drop("grp"), {}


def _ts_only_right_with_ties(left, right):
    # Every right timestamp twice, with different payloads: a tie on the
    # matched timestamp must not change which timestamp is matched.
    right = right.drop("grp")
    right = right.unionByName(right.withColumn("payload", F.col("payload") + 1))
    return left, right, {}


def _names_that_need_quoting(left, right):
    # Key, by key and timestamps named with a space and a hyphen, which
    # SQL text must backtick-quote.
    names = {
        "left_ts": "arrival time",
        "right_ts": "bus time",
        "left_keys": ["plane id"],
        "by": ["line-id"],
    }
    return (
        left.toDF("plane id", "arrival time", "line-id"),
        right.toDF("bus time", "line-id", "payload"),
        names,
    )


# The first two ids name the timestamp-only strategies these cases were
# first written for; asof_join now has one plan, checked on each input.
@pytest.mark.parametrize(
    "make_sides",
    [
        pytest.param(_ts_only_right, id="sorted_array"),
        pytest.param(_ts_only_right_with_ties, id="bucket_minima"),
        pytest.param(_names_that_need_quoting, id="quoted_names"),
    ],
)
def test_ts_only_strategies_strict_and_backward(spark, sides, make_sides):
    left, right, names = make_sides(*sides)
    names.setdefault("right_ts", "rts")
    for kwargs in [
        {"strict": True},
        {"direction": "backward"},
        {"direction": "backward", "strict": True},
    ]:
        got, want = both(
            left, right, right_cols=[names["right_ts"]], **names, **kwargs
        )
        assert got == want, kwargs


def test_grouped_respects_by_keys(spark, sides):
    left, right = sides
    got, want = both(left, right, by=["grp"], right_cols=["rts", "payload"])
    # g2 rows only match g2 buses; id4 has no forward match → dropped.
    assert got == want == {
        1: "2024-01-01T10:00:00",
        2: "2024-01-01T10:05:00",
        3: "2024-01-01T10:10:00",
    }


def test_default_right_cols_with_by_keys(spark, sides):
    """Regression: with right_cols=None (all right columns) + by=, the
    by column exists on both sides; the packed struct must come from the
    right side, not raise AMBIGUOUS_REFERENCE."""
    left, right = sides
    kwargs = dict(left_ts="lts", right_ts="rts", left_keys=["id"], by=["grp"])
    for fn in (asof_join, asof_oracle):
        out = fn(left, right, **kwargs)
        got = {r["id"]: (r["asof"]["rts"].isoformat(), r["asof"]["grp"])
               for r in out.collect()}
        assert got == {
            1: ("2024-01-01T10:00:00", "g1"),
            2: ("2024-01-01T10:05:00", "g1"),
            3: ("2024-01-01T10:10:00", "g2"),
        }, fn.__name__


def test_backward_direction(spark, sides):
    left, right = sides
    got, want = both(
        left, right.drop("grp"), right_cols=["rts"], direction="backward"
    )
    assert got == want
    assert got[2] == "2024-01-01T10:00:00"  # nearest at-or-before
    assert got[4] == "2024-01-01T10:59:59"


def test_bucketed_tolerance_bounds(spark, sides):
    left, right = sides
    got, want = both(
        left, right.drop("grp"), right_cols=["rts"], tolerance_seconds=60
    )
    # Only matches within 60 s qualify: id1 exact, id2→10:05 (30 s),
    # id3→10:10 (1 s); id4 has nothing within an hour.
    assert got == want
    assert set(got) == {1, 2, 3}


def test_strict_excludes_equal_timestamps(spark, sides):
    left, right = sides
    got, want = both(left, right.drop("grp"), right_cols=["rts"], strict=True)
    assert got == want
    assert got[1] == "2024-01-01T10:05:00"  # equal ts excluded
