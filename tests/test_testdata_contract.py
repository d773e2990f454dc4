"""Driver-testdata contract: load_tables must read every table at every
generated scale factor with query-ready types, whatever parquet
timestamp encoding the driver's generator used this round (rounds have
shipped TIMESTAMP(NANOS), NTZ-annotated micros, and plain micros)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from ue_big_data_project_spark.queries.tables import load_tables

SFS = [d for d in ("sf0.001", "sf0.01", "sf0.1")
       if os.path.isdir(f"/root/testdata/{d}")]


@pytest.mark.parametrize("sf", SFS)
def test_load_tables_reads_every_table_query_ready(spark, sf):
    tables = load_tables(spark, f"/root/testdata/{sf}")
    assert set(tables) >= {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    # Time columns decode to real timestamps (not raw longs / NTZ).
    assert isinstance(
        tables["events"].schema["ts"].dataType, T.TimestampType
    )
    assert isinstance(
        tables["lineitem"].schema["l_shipdate"].dataType,
        (T.TimestampType, T.DateType),
    )
    # Embeddings stay an array<float/double> of consistent width.
    el = tables["embeddings"].schema["embedding"].dataType
    assert isinstance(el, T.ArrayType)
    # Every table is actually scannable end to end.
    for name, df in tables.items():
        assert df.limit(1).count() in (0, 1), name


@pytest.mark.parametrize("sf", SFS)
def test_fixture_documents_have_no_parens_or_empty_text(spark, sf):
    """The BPE oracles (TEXT_BPE_TOKENS_SQL / PIPELINE_PACK_BPE_SQL)
    count subword tokens by counting '(' in a (sym)(sym) wrapped
    spelling and drop empty word lists via list_filter — both exact
    ONLY while no fixture word contains a literal paren and no document
    is empty/whitespace-only (round-11 advice). Pin those assumptions
    so a testdata regen that violates them fails HERE, not as an
    opaque oracle hash mismatch."""
    from pyspark.sql import functions as F

    docs = load_tables(spark, f"/root/testdata/{sf}", ("documents",))[
        "documents"
    ]
    bad = docs.filter(
        F.col("text").isNull()
        | (F.trim(F.col("text")) == "")
        | F.col("text").contains("(")
        | F.col("text").contains(")")
    ).count()
    assert bad == 0
