"""``session.local_relation``: the Arrow path and its classic fallback
must return the same rows as ``createDataFrame`` on the same input, and
``get_spark``'s driver-memory default must fit the machine."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import pytest
from pyspark.sql import Row

from ue_big_data_project_spark.session import _default_driver_memory, local_relation

ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"

_TS = dt.datetime(2024, 5, 1, 12, 30, 15, 123456)
_PARIS_SUMMER = dt.timezone(dt.timedelta(hours=2))

# One input per value shape the Arrow path must carry unchanged.
SHAPES = {
    "nan_top_level": ([(1, float("nan")), (2, None), (3, 1.5)], "id int, v double"),
    "nan_nested": ([(1, [float("nan"), 1.0]), (2, None)], "id int, a array<double>"),
    "dict_rows": ([{"b": "y", "a": "x"}, {"a": "z"}], "a string, b string"),
    "empty": ([], "a string, b bigint"),
    "struct": (
        [(1, Row(x=1, y="a")), (2, None), (3, Row(x=2, y="b"))],
        "id int, s struct<x:int,y:string>",
    ),
    "map": ([(1, {"a": 1, "b": 2}), (2, None)], "id int, m map<string,int>"),
    "timestamp": (
        [(1, _TS), (2, None), (3, dt.datetime(2024, 5, 1, 12, 0, tzinfo=_PARIS_SUMMER))],
        "id int, t timestamp",
    ),
    "date": ([(1, dt.date(2024, 5, 1)), (2, None)], "id int, d date"),
    "decimal": ([(1, decimal.Decimal("12.34")), (2, None)], "id int, x decimal(10,2)"),
    "binary": ([(1, b"\x00\x01"), (2, bytearray(b"ab")), (3, None)], "id int, b binary"),
    "array_struct": (
        [(1, [Row(k="a", v=1.0), Row(k="b", v=2.0)]), (2, [])],
        "id int, a array<struct<k:string,v:double>>",
    ),
    "float": ([(1, 1.5), (2, float("inf")), (3, None)], "id int, f float"),
    "long": ([(1, 2**40), (2, -3), (3, None)], "id int, l bigint"),
}


def _analysed_root(df) -> str:
    return df._jdf.queryExecution().analyzed().nodeName()


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_local_relation_matches_create_dataframe_as_local_relation(spark, shape):
    """Same rows and schema as the classic ``createDataFrame``, but as a
    ``LocalRelation`` — NaN rows included, which once fell back to a
    Python-RDD ``LogicalRDD``."""
    rows, schema = SHAPES[shape]
    got = local_relation(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    # repr compares NaN to NaN, which == does not.
    assert repr(got.collect()) == repr(want.collect())
    assert _analysed_root(got) == "LocalRelation"


def test_local_relation_leaves_arrow_conf_alone(spark):
    """A session with Arrow off (a vanilla driver's default) still gets a
    ``LocalRelation``, and its conf stays off."""
    prev = spark.conf.get(ARROW_CONF)
    spark.conf.set(ARROW_CONF, "false")
    try:
        df = local_relation(spark, [(1, "a"), (2, "b")], "id int, s string")
        assert _analysed_root(df) == "LocalRelation"
        assert spark.conf.get(ARROW_CONF) == "false"
        assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]
    finally:
        spark.conf.set(ARROW_CONF, prev)


def test_local_relation_fallback_keeps_generator_rows(spark):
    """A generator is read once; when Arrow rejects a value (a list for a
    struct field, which the classic path accepts), the classic fallback
    must still see every row, not an empty iterator."""
    rows = ((i, f"r{i}", [i]) for i in range(3))
    full = local_relation(spark, rows, "id int, name string, s struct<v:int>")
    assert _analysed_root(full) != "LocalRelation"
    df = full.drop("s")
    assert sorted(tuple(r) for r in df.collect()) == [
        (0, "r0"),
        (1, "r1"),
        (2, "r2"),
    ]


def test_local_relation_keeps_nan_distinct_from_null(spark):
    """pandas (and Arrow's ``from_pandas`` mode) read a float NaN as
    missing; the frame must keep the NaN a NaN and the null a null, as
    ``createDataFrame`` does."""
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


_AWARE = dt.datetime(2024, 5, 1, 12, 0, tzinfo=_PARIS_SUMMER)
NESTED_TIMESTAMPS = {
    "array": ([(1, [_AWARE])], "id int, v array<timestamp>", "v[0]"),
    "struct": ([(1, Row(u=_AWARE))], "id int, v struct<u:timestamp>", "v.u"),
    "map": ([(1, {"k": _AWARE})], "id int, v map<string,timestamp>", "v['k']"),
}


@pytest.mark.parametrize("shape", sorted(NESTED_TIMESTAMPS))
def test_local_relation_keeps_the_offset_of_a_nested_timestamp(
    spark, monkeypatch, shape
):
    """12:00+02:00 is 10:00 UTC at any depth, also under
    ``PYARROW_IGNORE_TIMEZONE`` (pandas-on-Spark sets it), where Arrow
    keeps an aware datetime's wall time and drops its offset."""
    monkeypatch.setenv("PYARROW_IGNORE_TIMEZONE", "1")
    rows, schema, path = NESTED_TIMESTAMPS[shape]
    df = local_relation(spark, rows, schema)
    assert _analysed_root(df) == "LocalRelation"
    got = df.selectExpr(f"unix_seconds({path}) AS s").first()["s"]
    assert got == int(_AWARE.timestamp())


@pytest.mark.parametrize("gib", [None, 1.5, 15.7, 64])
def test_default_driver_memory_fits_the_machine(monkeypatch, gib):
    """Half the physical memory in whole GiB, at least 1g, never more
    than the machine has (``None``: this machine)."""
    if gib is not None:
        page = 4096
        pages = int(gib * 2**30) // page
        real = os.sysconf
        monkeypatch.setattr(
            os,
            "sysconf",
            lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}.get(name) or real(name),
        )
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = _default_driver_memory()
    assert mem.endswith("g")
    heap = int(mem[:-1]) * 2**30
    assert 2**30 <= heap <= max(total // 2, 2**30)
    assert heap <= total
