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

Three more settings remove fixed PySpark costs that are not query work
(measured on a 4-CPU host, Spark on 2 cores):

- ``spark.python.daemon.module`` starts the Python workers through
  ``worker_daemon``, which takes the spark-core jar and Spark's copy of
  ``pyspark.zip`` off the workers' ``sys.path``. Each task's
  ``importlib.invalidate_caches()`` re-read both archives once per cached
  importer: 116-185 ms of CPU per call before, 0.3-1.0 ms after.
- ``spark.executorEnv.PYTHONPATH`` puts the package root on the workers'
  path, so a UDF can import the package (and the daemon module can be
  found) whatever the driver's working directory or PYTHONPATH.
- ``spark.python.sql.dataFrameDebugging.enabled`` and
  ``spark.sql.dataFrameQueryContext.enabled`` are off. With them on, every
  ``pyspark.sql.functions`` call records its Python call site in the JVM
  (several py4j round trips per call); building the 17 headline keys on the
  sf0.01 fixture made 4,995 py4j calls with them and 2,585 without, and
  took 0.52 s of driver CPU against 0.34 s. Runtime errors keep
  their error class and message (an ANSI divide by zero still raises
  ``DIVIDE_BY_ZERO``); they lose only the DataFrame call-site fragment.

PySpark also looks some JVM classes up by name on every Column or
DataFrame call (``sc._jvm.functions``, ``sc._jvm.PythonUtils.toSeq``,
...). py4j sends each lookup to the JVM, and a short name first fails
``Class.forName`` on the bare name, a search of all 287 jars on Spark's
class path (0.2-1.0 ms of JVM CPU each). ``get_spark`` resolves the
``JVM_CLASSES`` once and keeps them on the gateway's JVM view, which then
answers without a round trip: 580 lookups per headline pass, about 0.3 s
of JVM and 0.14 s of driver CPU.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: entries of Spark's generated-class cache (a static conf; Spark's default
#: is 100): an LRU smaller than the classes a repeated pass cycles through
#: misses on every lookup, see the module docstring
CODEGEN_CACHE_ENTRIES = 1000

#: the directory that holds the package, put on the Python workers' path
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: JVM classes PySpark looks up by name on every Column or DataFrame call,
#: by the names it uses; see the module docstring
JVM_CLASSES = (
    "functions",
    "org.apache.spark.sql.functions",
    "PythonUtils",
    "PythonSQLUtils",
    "org.apache.spark.sql.classic.SparkSession",
    "org.apache.spark.sql.expressions.Window",
)


def get_spark(app_name: str = "spark-flows", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    spark = (
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
        .config("spark.python.daemon.module", "nfdump2clickhouse_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.dataFrameQueryContext.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    jvm = spark._jvm
    for name in JVM_CLASSES:
        # an instance attribute answers before the view's __getattr__,
        # which would ask the JVM again
        setattr(jvm, name, getattr(jvm, name))
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes the JVM has compiled so far (Janino compiles,
    cache hits excluded); the difference of two reads counts the
    compiles in between."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
