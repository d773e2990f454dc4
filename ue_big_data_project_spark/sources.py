"""Batch source/sink API (SURVEY §2.1 S1/S3, §2.2 K5/K6).

One ``Source`` surface over Kafka, files, and driver-side HTTP ingest so
every downstream operator is source-agnostic — the reference hard-wires
Kafka into each consumer (src/plane_naolib_consumer.py:50-54 et al.);
here Kafka is just options on ``spark.read``, and tests run Kafka-less on
files with identical semantics. Streaming twins live in
``ue_big_data_project_spark.streaming``; storage-layout writes and file
pruning live in ``ue_big_data_project_spark.layout``.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ue_big_data_project_spark.session import local_relation
from pyspark.sql import types as T


def kafka_batch(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    ending_offsets: str = "latest",
) -> DataFrame:
    """Kafka bounded scan (S1): binary key/value + partition/offset/ts.

    Reference shape: src/plane_naolib_consumer.py:50-54 (batch read of a
    topic end-to-end). Requires the kafka connector jar on the classpath.
    Source parallelism = topic partitions; at scale set
    ``minPartitions`` to split hot partitions.
    """
    return (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("endingOffsets", ending_offsets)
        .load()
    )


def kafka_write(
    df: DataFrame, bootstrap_servers: str, topic: str
) -> None:
    """Kafka producer write (K5): every row's ``value`` JSON-serialized.

    The engine's distributed replacement for the reference's driver-side
    ``KafkaProducer`` loops (src/naolib_producer.py:70-73): executors
    publish in parallel, no driver collect.
    """
    out = df.select(
        F.to_json(F.struct(*df.columns)).cast("binary").alias("value")
    )
    (
        out.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )


def json_file(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """JSON file source with a DECLARED schema (never inferred) — the
    §1.2 contract: explicit StructType per source, PERMISSIVE nulls."""
    return spark.read.schema(schema).json(path)


def rows_source(
    spark: SparkSession,
    rows: Iterable[dict],
    schema: T.StructType,
) -> DataFrame:
    """Driver-side ingest boundary (S3): materialize fetched records
    (HTTP JSON, API pages) as a DataFrame under a declared schema.

    This is the ONLY sanctioned driver-side materialization point —
    bounded reference/dimension data only (stop lists, station metadata),
    never fact data. Downstream it is a normal (broadcastable) DataFrame.
    """
    return local_relation(spark, list(rows), schema=schema)


def http_json_source(
    spark: SparkSession,
    url: str,
    schema: T.StructType,
    record_path: Sequence[str] = (),
    timeout_s: float = 10.0,
) -> DataFrame:
    """HTTP REST pull → DataFrame (S3: the four open-data feeds,
    src/naolib_producer.py:22-30, src/bike_producer.py:43-63).

    Import-gated: raises a clear error if ``requests`` is unavailable
    (this container has no network stack for it); tests exercise
    :func:`rows_source` with fixture payloads instead.
    """
    try:
        import requests
    except ImportError as e:  # pragma: no cover
        raise RuntimeError(
            "http_json_source needs the 'requests' package; "
            "feed fixture rows to rows_source instead"
        ) from e
    resp = requests.get(url, timeout=timeout_s)
    resp.raise_for_status()
    payload = resp.json()
    for key in record_path:
        payload = payload[key]
    if isinstance(payload, dict):
        payload = [payload]
    return rows_source(spark, payload, schema)
