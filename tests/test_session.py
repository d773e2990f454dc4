"""``session.local_relation``: the Arrow path and its classic fallback
must return the same rows as ``createDataFrame`` on the same input."""

from __future__ import annotations

import math

import pandas as pd

from ue_big_data_project_spark.session import local_relation


def test_local_relation_fallback_keeps_generator_rows(spark, monkeypatch):
    """A generator is read once; when the Arrow attempt fails, the
    classic fallback must still see every row, not an empty iterator."""

    def refuse(*args, **kwargs):
        raise ValueError("arrow path unavailable")

    monkeypatch.setattr(pd.DataFrame, "from_records", refuse)
    rows = ((i, f"r{i}") for i in range(3))
    df = local_relation(spark, rows, "id int, name string")
    assert sorted(tuple(r) for r in df.collect()) == [
        (0, "r0"),
        (1, "r1"),
        (2, "r2"),
    ]


def test_local_relation_keeps_nan_distinct_from_null(spark):
    """pandas/Arrow read a float NaN as missing; the frame must keep the
    NaN a NaN and the null a null, as ``createDataFrame`` does."""
    df = local_relation(
        spark,
        [(1, float("nan"), [1.0]), (2, None, [float("nan")]), (3, 1.5, None)],
        "id int, v double, a array<double>",
    )
    got = {r["id"]: (r["v"], r["a"]) for r in df.collect()}
    assert math.isnan(got[1][0])
    assert got[2][0] is None
    assert got[3] == (1.5, None)
    # A NaN nested in an array is kept too.
    assert len(got[2][1]) == 1 and math.isnan(got[2][1][0])


def test_local_relation_maps_dict_rows_by_field_name(spark):
    """Dict rows (``sources.rows_source`` passes fetched JSON records)
    map to the schema by field name, whatever their key order."""
    df = local_relation(
        spark,
        [{"b": "y", "a": "x"}, {"a": "z"}],
        "a string, b string",
    )
    assert sorted(tuple(r) for r in df.collect()) == [("x", "y"), ("z", None)]
