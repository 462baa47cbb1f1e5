"""SparkSession factory tuned for both local testing and cluster scale.

Local mode (``local[N]``) is a single JVM; ``spark.driver.memory`` is the
only memory knob.  On a real cluster the same builder works — the configs
set here (AQE, adaptive coalescing, skew-join handling, Arrow) are the
scale-relevant ones and are safe at any size.

Two fixed settings cut the per-query cost that does not scale with
data, which dominates a small sync cycle (measured with two task
threads on a 4-core host):

- ``spark.sql.codegen.cache.maxEntries`` = 1000.  One cycle of the
  perfbench ``sync_cycle`` workload (snapshot diff, CDC consume, jobs
  → assembly → XML render, sinks) generates ~146 distinct classes;
  Spark's default cache holds 100, so its LRU evicted every class
  before the next cycle reused it and each warm cycle paid ~156 Janino
  compiles.  With room for the working set a warm cycle compiles 7.
  The cache stays bounded, so a long-lived session that keeps building
  new plans still evicts its oldest.
- ``spark.python.sql.dataFrameDebugging.enabled`` = false.  With it on,
  PySpark captures the Python call site on every DataFrame/Column API
  call: one ``person_cycle_xml`` plan build over the sf0.001 test
  tables took 5,900-7,000 py4j round trips, and 2,800-3,500 without
  the capture.  The trade-off: a runtime error (e.g. an ANSI
  divide-by-zero) still names its error class and the failing
  expression, but its "called from" line shows a JVM reflection frame
  instead of the Python ``file:line`` of the API call that built it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "experts_etl_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``spark.sql.shuffle.partitions`` defaults to the local core count —
    the right size for local runs; a cluster deployment overrides it (or
    relies on AQE coalescing, which is enabled).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # The synthetic events table stores TIMESTAMP(NANOS) which the
        # vectorized parquet reader rejects; read as long and convert in
        # sources.read_table (floor to micros, matching DuckDB).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Producers also ship plain timestamp[us] (no tz) parquet, which
        # Spark 4 infers as TIMESTAMP_NTZ — a type event-time operators
        # (watermarks, unix_micros) reject.  Read it as TIMESTAMP instead:
        # with the session tz pinned UTC above, the two are bit-identical,
        # and DuckDB's naive TIMESTAMP compares equal.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # see the module docstring for both
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
