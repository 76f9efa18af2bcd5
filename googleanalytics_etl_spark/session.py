"""SparkSession construction tuned for this engine.

Local test profile is ``local[N]`` (single JVM); the same builder settings
are what we would ship on a real cluster — AQE on (runtime re-planning,
skew-join splitting, partition coalescing matter at 100 TB), UTC session
timezone (the fixtures are tz-naive and the DuckDB oracle compares naive
timestamps), Arrow enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .io import ensure_session_confs


def get_spark(app_name: str = "googleanalytics_etl_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's required configs.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions are sized to the core count — the default 200 is wrong in
    both directions (over-parallelized locally, under-parallelized at
    100 TB, where AQE coalescing re-sizes anyway).
    """
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start every shuffle at 8x the core count and let AQE coalesce
        # down: AQE can only MERGE partitions, never split them, so a
        # low initial number silently caps per-task shuffle volume and
        # external-sort spills appear as soon as inputs outgrow
        # execution memory (measured on the x_exact_substring_dedup
        # x128 probe point — see BASELINE.md round-10 scaling). Small
        # scales are unaffected: AQE coalesces back to ~n tasks.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INIT_PARTS", str(8 * n)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS); read as int64 ns
        # (FIXTURES.md "Timestamp handling") and convert in io.load().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # delete a reliable checkpoint's files once its frame is
        # garbage-collected (materialize.py, SPARK_GRAFT_RELIABLE_CKPT=1);
        # without it every looped-key round leaves its directory behind
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # If we inherited an existing session (e.g. the driver's), apply the
    # runtime-settable configs it may lack.
    ensure_session_confs(spark)
    return spark
