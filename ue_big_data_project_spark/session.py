"""SparkSession factory.

The reference builds its sessions by hand in every consumer with
``SparkConf().setMaster("spark://spark:7077").set("spark.sql.shuffle.partitions",
"10")`` (reference: src/naolib_consumer.py:25-29, src/bike_consumer.py:27-37,
src/plane_naolib_consumer.py:14-24). We centralize that into one factory.
It sets only what differs from Spark's defaults; adaptive execution
(partition coalescing, skew-join splitting) and parquet filter pushdown
are on by default and are not restated:

- Arrow on for ``toPandas`` and pandas UDFs. Driver rows reach the JVM
  as a ``pyarrow.Table`` (``local_relation``), which needs no conf.
- RocksDB state store for the streaming queries' state.
- Session timezone pinned UTC — the reference mixes naive ISO strings,
  epoch seconds and Europe/Paris offsets (src/bike_producer.py:39); we
  convert at the edges instead (SURVEY §7 watch-items).
"""

from __future__ import annotations

import datetime
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
    ``SPARK_GRAFT_DRIVER_MEM`` (else half the machine's memory). On a real
    cluster, pass ``master`` or set it via spark-submit and everything
    else still applies.
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
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
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


def _default_driver_memory() -> str:
    """Half the machine's physical memory in whole GiB, at least 1g: the
    driver heap must leave room for the Python side and the OS."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total // 2**31)}g"


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

    ``createDataFrame(list, schema)`` builds a Python-backed RDD, and
    every action on it pays a Python worker round trip per slice
    (~140 ms per slice measured at local[32]). The same rows as a
    ``pyarrow.Table`` (``_arrow_table``) become a ``LocalRelation``
    under ``spark.sql.execution.arrow.localRelationThreshold``: no
    Python at runtime, and the optimizer can fold and size it. Spark
    takes a table whatever ``spark.sql.execution.arrow.pyspark.enabled``
    says, so the session's conf is neither read nor set. A value Arrow
    cannot convert to its field's type (a list for a struct) falls back
    to the classic path, which accepts or rejects it as
    ``createDataFrame`` does.

    Use for BOUNDED driver-side results (union-find labels, centroid
    tables, stats sidecars, VALUES-style fixtures) — never for
    unbounded data, which must not be on the driver at all (guide §5).
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    # Materialize once: a generator would be consumed by the Arrow
    # attempt and leave the fallback below with nothing to read.
    rows = list(rows)
    try:
        return spark.createDataFrame(_arrow_table(rows, schema), schema)
    except pa.ArrowException:
        return spark.createDataFrame(rows, schema)


def _arrow_table(rows, schema):
    """Rows → a ``pyarrow.Table`` typed by the Spark ``schema``: one
    array per field, tuple rows by position, dict rows by field name.
    ``from_pandas=False`` keeps a float NaN distinct from a null."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    data = [
        tuple(r.get(n) for n in schema.names) if isinstance(r, dict) else tuple(r)
        for r in rows
    ]
    arrays = []
    for i, f in enumerate(arrow_schema):
        column = [r[i] for r in data]
        if _has_timestamp(f.type):
            column = [_utc(v, f.type) for v in column]
        arrays.append(pa.array(column, type=f.type, from_pandas=False))
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def _has_timestamp(t) -> bool:
    """Whether the Arrow type ``t`` holds a timestamp at any depth."""
    import pyarrow as pa

    if pa.types.is_timestamp(t):
        return True
    if pa.types.is_map(t):
        return _has_timestamp(t.key_type) or _has_timestamp(t.item_type)
    if pa.types.is_list(t):
        return _has_timestamp(t.value_type)
    if pa.types.is_struct(t):
        return any(_has_timestamp(f.type) for f in t)
    return False


def _utc(value, t):
    """``value`` with each aware datetime at a timestamp of the Arrow
    type ``t``, at any depth, turned to UTC. Under
    PYARROW_IGNORE_TIMEZONE (pandas-on-Spark sets it) ``pa.array``
    keeps an aware datetime's wall time and drops its offset; as UTC
    the wall time is the instant. A naive datetime is read as UTC, the
    session's zone. A value of another shape is left for Arrow to take
    or reject."""
    import pyarrow as pa

    if value is None:
        return None
    if pa.types.is_timestamp(t):
        if getattr(value, "tzinfo", None):
            return value.astimezone(datetime.timezone.utc)
        return value
    if pa.types.is_map(t) and isinstance(value, dict):
        return {_utc(k, t.key_type): _utc(v, t.item_type) for k, v in value.items()}
    if pa.types.is_list(t) and isinstance(value, (list, tuple)):
        return [_utc(v, t.value_type) for v in value]
    if pa.types.is_struct(t):
        if isinstance(value, dict):
            return {f.name: _utc(value.get(f.name), f.type) for f in t}
        if isinstance(value, tuple) and len(value) == t.num_fields:
            return tuple(_utc(v, f.type) for v, f in zip(value, t))
    return value
