"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The real implementation lives in ``ue_big_data_project_spark``; this
module is a thin adapter over its query registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ue_big_data_project_spark.queries import gate_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship transit query (Q1, plane → next bus wait) over its
    fixture feeds; driver checks rows>0."""
    from ue_big_data_project_spark.queries.reference_registered import (
        ref_q1_plane_bus_wait,
    )

    return ref_q1_plane_bus_wait(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    The driver hashes at most 50 entries per round in dict order, so this
    is the consolidated gate set (``gate_queries``): entries the driver
    has not yet hashed first, near-duplicates merged into kit queries.
    The full registry (every standalone query) runs in the local pytest
    oracle gate, tests/test_oracle.py.
    """
    return {name: spec.fn for name, spec in gate_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (same column names)."""
    return {
        name: spec.oracle
        for name, spec in gate_queries().items()
        if spec.oracle is not None
    }
