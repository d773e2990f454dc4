"""ue_big_data_project_spark — a PySpark-native analytics engine.

A brand-new, Spark-first implementation of the query and data-processing
capabilities demonstrated by the reference repo
``nathan-claeys/UE_BIG_DATA_PROJECT`` (a Kafka + PySpark open-data
pipeline project), re-expressed as a clean, testable library.

The transit system (the reference's four queries plus the wind
pipeline) is this closed set of modules, pinned by tests/test_boundary.py:

- ``session``         — SparkSession factory (Arrow, RocksDB state, UTC).
- ``schemas``         — explicit StructType registry per source (SURVEY §1.2).
- ``sources``         — batch sources (kafka/file/rows/HTTP).
- ``functions``       — transit scalars as SQL fragments.
- ``fs``              — local/Hadoop filesystem seam.
- ``observability``   — observed metrics, listeners, scan metrics.
- ``operators.asof``  — the as-of join.
- ``operators.geo``   — haversine k-NN.
- ``streaming``       — stream sources, windowed aggregation, dedup, sinks.
- ``queries.reference`` — Q1–Q4 and the wind pipeline.

Everything else is an extension built on that core: ``layout``,
``quality``, ``pipelines``, ``topics``, ``streaming.ingest``, the other
``operators`` and ``functions`` modules, and the registry's other
``queries`` modules (``queries.tables`` reads the driver's parquet).

Everything here is built only on the public Apache Spark / PySpark API.
"""

from ue_big_data_project_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
