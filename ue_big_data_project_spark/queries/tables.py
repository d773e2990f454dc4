"""The driver's parquet tables (TPC-H, events, documents, embeddings).

:func:`load_tables` reads them for the registry's extension queries
and registers each as a temp view, like the oracle's DuckDB views. The
transit queries read JSON feeds through ``sources`` instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ue_big_data_project_spark import fs
from ue_big_data_project_spark.session import apply_session_conf


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Read the driver's parquet tables and register them as temp views.

    Returns ``{name: DataFrame}``. Mirrors DuckDB's pre-registered views so
    that ``spark.sql`` text matches the oracle SQL shape.
    """
    names = names or (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # Runtime-set so these also hold on sessions we didn't build (the
    # graft driver creates its own plain SparkSession and passes it in):
    # nanos parquet decoding, and UTC so hour()/epoch extraction agrees
    # with DuckDB's UTC-naive timestamps on any host JVM timezone.
    apply_session_conf(spark)
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if fs.exists(path):
            df = spark.read.parquet(path)
            if name == "events" and isinstance(
                df.schema["ts"].dataType, T.LongType
            ):
                # TIMESTAMP(NANOS) read as long nanos (see get_spark);
                # truncate to micros exactly like DuckDB's coercion.
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
