"""Tuned SparkSession builder.

Local test harness defaults; on a real cluster only the master / memory
knobs change — the SQL configs (AQE, shuffle partitions sized to the
parallelism, UTC session TZ for cross-engine parity) carry over.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "promi_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    Shuffle partitions are pinned to the parallelism — at cluster scale
    this would instead be sized so post-shuffle partitions land in the
    100–200 MB range (AQE coalescing handles the rest).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 4
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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Progress bars write \r-terminated updates that interleave with
        # stdout when the process is run under a pipe (the per-round bench
        # driver captures a merged tail) and can corrupt the one-line JSON
        # protocol bench.py speaks. Nothing in this repo reads them.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark's call-site capture wraps every Column/DataFrame call
        # in five extra py4j round trips (pyspark.errors.utils._with_origin)
        # to name the Python line in JVM error contexts; a query's
        # driver-side build cost is mostly those round trips. Errors and
        # their messages are unchanged. Read once per process, from the
        # first active session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # The driver's events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp, so read as long and convert at ingest
        # (DuckDB likewise truncates ns -> us).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate turns explode(expensive_array_expr)
        # into a pushed-down `size(...) > 0` Filter whose predicate
        # INLINES the whole array expression below the projection that
        # was supposed to evaluate it once. For higher-order-function
        # pipelines (winnowing char-gram hashes: a regexp-normalized
        # string referenced inside a transform lambda) the interpreted
        # filter re-evaluates the outer expression PER ARRAY ELEMENT —
        # measured 29x slowdown at sf0.1 (105 s -> 3.6 s for the
        # winnow fingerprint explode). Our generators are never fed
        # empty-array-heavy inputs, so the rule's row-pruning upside is
        # nil. The hot operators additionally use explode_outer (which
        # the rule skips) so they stay fast in sessions not built here.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
