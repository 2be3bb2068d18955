"""SparkSession factory tuned for the test rig (local[N]) and oracle parity.

Scale posture: these configs are the local-mode projection of a cluster
config — AQE on (runtime shuffle-partition coalescing, broadcast-join
conversion, skew-join splitting), shuffle partitions sized to cores locally
(on a 1000-executor cluster this would be ~2-3x total cores), session
timezone pinned to UTC so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Python workers start from `pyworker` (PySpark imported from its unpacked
# tree, not pyspark.zip), so they need this package's parent on their path.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DAEMON_MODULE = "distributed_deep_learning_with_apache_spark_spark.pyworker"


def get_spark(app_name: str = "ddl_spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) the tuned local SparkSession."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS); Spark rejects it unless read
        # as raw long (the catalog converts ns -> microsecond timestamps).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Write µs timestamps, not legacy INT96 (pyarrow reads INT96 as
        # timestamp[ns], which would fool the catalog's ts-unit sniff on
        # tables this engine itself wrote).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", _DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
