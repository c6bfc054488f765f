"""SparkSession builder for the engine.

Tuned for local[32] testing but every knob is chosen for cluster scale:
AQE handles skew/coalescing at 100 TB, Arrow covers the pandas-UDF
boundary, and UTC session time keeps timestamp semantics identical to
the DuckDB oracle (parquet TIMESTAMP is naive; treating it as UTC makes
Spark and DuckDB agree bit-for-bit).

The generated-code cache is sized to the registry's working set, so a
long-lived session compiles each whole-stage class once. At Spark's
default of 100 entries, the 17 ``bench.py`` headline keys (about 230
distinct classes) cycled through the LRU and every steady-state pass
recompiled 223 classes with Janino; at 1000 entries a repeat pass
compiles 0 to 4. ``codegen_compiles`` reads the JVM-wide compile count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: entries of Spark's generated-class cache (a static conf; Spark's default
#: is 100): an LRU smaller than the classes a repeated pass cycles through
#: misses on every lookup, see the module docstring
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(app_name: str = "spark-flows", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(min(int(cpus) * 2, 64)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark can't read as
        # TimestampType; read the raw int64 and convert in catalog.table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes the JVM has compiled so far (Janino compiles,
    cache hits excluded); the difference of two reads counts the
    compiles in between."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
