"""SparkSession factory.

The reference builds its sessions by hand in every consumer with
``SparkConf().setMaster("spark://spark:7077").set("spark.sql.shuffle.partitions",
"10")`` (reference: src/naolib_consumer.py:25-29, src/bike_consumer.py:27-37,
src/plane_naolib_consumer.py:14-24). We centralize that into one factory.
It sets only what differs from Spark's defaults; adaptive execution
(partition coalescing, skew-join splitting) and parquet filter pushdown
are on by default and are not restated:

- Arrow on — every ``toPandas``/pandas-UDF boundary is Arrow-batched.
- RocksDB state store for the streaming queries' state.
- Session timezone pinned UTC — the reference mixes naive ISO strings,
  epoch seconds and Europe/Paris offsets (src/bike_producer.py:39); we
  convert at the edges instead (SURVEY §7 watch-items).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# The timestamp/timezone contract every session needs, whether get_spark
# built it or a caller handed it in (apply_session_conf).
SESSION_CONF = {
    # The driver's events.parquet stores TIMESTAMP(NANOS); Spark has no
    # nanos timestamp type, so read as long and rebuild micros in
    # queries.tables.load_tables (DuckDB coerces the same way → values
    # agree).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Micros parquet timestamps written without isAdjustedToUTC would
    # otherwise infer TIMESTAMP_NTZ, which unix_micros/window() reject;
    # read them as regular (LTZ) timestamps — with the session pinned
    # UTC the stored value IS the epoch, matching DuckDB's naive reads.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # Write timestamps as TIMESTAMP_MICROS (not legacy INT96): INT96
    # columns carry no usable row-group min/max statistics, which
    # silently disables footer-stat file skipping for range-sorted /
    # z-ordered layouts on timestamp sort keys (layout.py).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def get_spark(
    app_name: str = "ue_big_data_project_spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local-mode defaults come from env: ``SPARK_GRAFT_CPUS`` (threads) and
    ``SPARK_GRAFT_DRIVER_MEM``. On a real cluster, pass ``master`` or set
    it via spark-submit and everything else still applies.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        )
        .config("spark.ui.enabled", "false")
        # Streaming state lives in RocksDB rather than on the JVM heap.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    )
    for k, v in {**SESSION_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_session_conf(spark: SparkSession) -> None:
    """Runtime-set the conf contract on sessions we didn't build.

    The graft driver (and some tests) create a plain vanilla SparkSession
    and pass it in; these four settings are required for parquet timestamp
    decoding + writing and UTC-agreement with DuckDB on any host JVM
    timezone. Every entry point that may receive a foreign session
    (``queries.tables.load_tables``, the streaming query functions)
    calls this.
    """
    for k, v in SESSION_CONF.items():
        spark.conf.set(k, v)


def local_relation(spark: SparkSession, rows, schema):
    """Bounded local rows → DataFrame as a pure-JVM ``LocalRelation``.

    ``createDataFrame(list, schema)`` builds a PYTHON-backed RDD with
    ``defaultParallelism`` slices, and every downstream materialization
    then pays a Python worker round-trip per slice — measured ~140 ms
    per slice at local[32], i.e. multiple seconds per action for a
    3-row stats frame, and the same waste as executor-side Python
    worker spin-up on a cluster. Routing the same rows through a
    pandas frame + Arrow (under
    ``spark.sql.execution.arrow.localRelationThreshold``) yields a
    ``LocalRelation`` instead: no Python at runtime, no job to build a
    broadcast from it, and the optimizer can fold/size it. The Arrow
    path validates values against ``schema``; any conversion failure
    falls back to the classic list path, so behavior can only match.

    Use for BOUNDED driver-side results (union-find labels, centroid
    tables, stats sidecars, VALUES-style fixtures) — never for
    unbounded data, which must not be on the driver at all (guide §5).
    """
    import pandas as pd
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    # Materialize once: a generator would be consumed by the Arrow
    # attempt and leave the fallback below with nothing to read.
    rows = list(rows)
    # pandas/Arrow read a float NaN as a missing value, so a frame
    # holding one must take the classic path to keep it a NaN.
    if _has_nan(rows):
        return spark.createDataFrame(rows, schema)
    try:
        names = [f.name for f in schema.fields]
        data = [
            tuple(r.get(n) for n in names) if isinstance(r, dict) else tuple(r)
            for r in rows
        ]
        if not data:
            # Zero rows: an empty pyarrow table with the exact Arrow
            # schema (the pandas path cannot type empty columns).
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            pa_schema = to_arrow_schema(schema)
            return spark.createDataFrame(
                pa.table(
                    {f.name: pa.array([], type=f.type) for f in pa_schema},
                    schema=pa_schema,
                )
            )
        pdf = pd.DataFrame.from_records(data, columns=names)
        arrow_prev = spark.conf.get(
            "spark.sql.execution.arrow.pyspark.enabled", "true"
        )
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        try:
            df = spark.createDataFrame(pdf, schema=schema)
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.pyspark.enabled", arrow_prev
            )
        return df
    except Exception:
        return spark.createDataFrame(rows, schema)


def _has_nan(v) -> bool:
    if isinstance(v, float):
        return v != v
    if isinstance(v, (list, tuple)):
        return any(_has_nan(x) for x in v)
    if isinstance(v, dict):
        return any(_has_nan(x) for x in v.values())
    return False
