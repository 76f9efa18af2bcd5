"""Derived report tables — the reference's EP3 (SURVEY.md §3.1).

After syncing the hit log, the reference builds aggregate/report tables
from it (sessions, daily rollups) via post-load SQL/pandas
[REF-UNVERIFIED]. Here each derived table is the already-oracled
operator pipeline materialized to parquet, partitioned for downstream
pruning:

- ``sessions`` — ops/flagship.session_metrics (q_flagship semantics),
- ``daily_metrics`` — the s_tumbling aggregation at day grain.

At 100 TB these become incremental materializations (foreachBatch /
MERGE); the builders take any events DataFrame, so the streaming path
feeds them unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ops.flagship import session_metrics
from .registry import DEC
from .sources.layout import path_exists


def build_sessions(events: DataFrame) -> DataFrame:
    """The ``sessions`` derived fixture of FIXTURES.md."""
    return session_metrics(events)


def build_daily_metrics(events: DataFrame) -> DataFrame:
    """The ``daily_metrics`` derived fixture of FIXTURES.md: per (day,
    event_type) counts, value totals and distinct users."""
    return (
        events.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def materialize_reports(
    spark: SparkSession, events: DataFrame, out_dir: str
) -> dict[str, str]:
    """EP3 entry point: build and persist both report tables.

    ``sessions`` is partitioned by user bucket (co-locates a user's
    sessions for later per-user reads without tiny-file explosion);
    ``daily_metrics`` by day (time-pruned report scans).

    The two writes are independent, so they are submitted at once from
    :class:`pyspark.InheritableThread`s: their fixed per-job costs
    overlap, and the threads inherit the caller's local properties, so
    their jobs keep the caller's job group and description.
    """
    paths = {
        "sessions": f"{out_dir}/sessions",
        "daily_metrics": f"{out_dir}/daily_metrics",
    }
    sessions = build_sessions(events).withColumn(
        "user_bucket", F.pmod(F.col("user_id"), F.lit(16))
    )
    daily = build_daily_metrics(events).withColumn(
        "day_str", F.date_format("day", "yyyy-MM-dd")
    )
    _run_concurrently(
        lambda: sessions.write.mode("overwrite")
        .partitionBy("user_bucket")
        .parquet(paths["sessions"]),
        lambda: daily.write.mode("overwrite")
        .partitionBy("day_str")
        .parquet(paths["daily_metrics"]),
    )
    return paths


def _run_concurrently(*actions: Callable[[], None]) -> None:
    """Run each action on its own :class:`pyspark.InheritableThread`,
    wait for all, and re-raise the first failure."""
    errors: list[BaseException] = []

    def guarded(action: Callable[[], None]) -> Callable[[], None]:
        def run() -> None:
            try:
                action()
            except BaseException as e:  # re-raised on the caller's thread
                errors.append(e)

        return run

    threads = [InheritableThread(guarded(a)) for a in actions]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def update_daily_metrics(
    spark: SparkSession, events: DataFrame, path: str
) -> list[str]:
    """Incremental EP3 maintenance: recompute only the days from the day
    before the target's last day onward, and dynamically overwrite just
    those partitions.

    The at-scale pattern for derived tables: a day's metrics can change
    while late events for it still arrive (the reference's trailing
    re-extract window), so the tail days are recomputed and later days
    appended — via ``partitionOverwriteMode=dynamic``, which replaces
    exactly the partitions present in the written frame and leaves the
    (unboundedly growing) history untouched. A full rebuild
    (`materialize_reports`) reads all history; this reads only the tail.

    Why the day before: :meth:`~googleanalytics_etl_spark.etl.SyncPipeline.sync`
    re-extracts rows down to its high-water mark minus an overlap, so a
    sync cut in the first hour after midnight appends late rows to the
    day before the last one. The report's last day is the day of that
    high-water mark, so starting one day earlier is exact for any
    re-extract overlap of at most 24 hours.

    Returns the day strings that were (re)written.
    """
    daily = build_daily_metrics(events).withColumn(
        "day_str", F.date_format("day", "yyyy-MM-dd")
    )
    if path_exists(spark, path):
        # partition discovery may type day_str as a date or a string
        last_day = F.max(F.col("day_str").cast("date"))
        since = (
            spark.read.parquet(path)
            .agg(F.date_sub(last_day, 1).alias("since"))
            .first()["since"]
        )
        if since is not None:
            daily = daily.where(F.col("day_str") >= since.isoformat())
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        daily.write.mode("overwrite").partitionBy("day_str").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return [r["day_str"] for r in daily.select("day_str").distinct().collect()]
