"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions sized to cores (not the 200 default), AQE on for runtime
re-planning (skew-join splitting, partition coalescing), Arrow enabled for
the pandas interchange paths. On a real cluster the same settings hold,
with ``spark.sql.shuffle.partitions`` scaled to ~2-3x total cores and AQE
coalescing partitions after each shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "cl_data_frame_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the session with the engine's standard config."""
    cores = len(os.sched_getaffinity(0))  # the CPUs this process may use
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(cores))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(min(int(cpus) if cpus.isdigit() else cores, 64)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # runtime bloom-filter injection on the probe side of shuffle
        # joins: the standard semi-join-reduction win at 100 TB.
        # (spark.sql.optimizer.runtimeFilter.semiJoinReduction was also
        # tried and DEADLOCKS this Spark build's local mode — leave it to
        # per-job opt-in on a real cluster.)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # skew-join splitting is part of the 100 TB posture
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # ParallelGC: measured ~5x lower wall-clock variance than G1 on
        # allocation-heavy array expressions (G1's concurrent cycles steal
        # cores from 32-wide stages); big code cache keeps every
        # whole-stage-codegen method JIT-compiled across many queries
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseParallelGC -XX:ReservedCodeCacheSize=1g")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
