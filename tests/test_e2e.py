"""End-to-end reference workflow: paged extract → config-driven sync →
derived report tables — the full EP1'+EP3' path through one pipeline."""

from __future__ import annotations

import pytest
from conftest import SF_SMALL

from googleanalytics_etl_spark.etl import EXAMPLE_CONFIG, SyncPipeline
from googleanalytics_etl_spark.io import load
from googleanalytics_etl_spark.reports import materialize_reports
from googleanalytics_etl_spark.sources import read_paged


@pytest.fixture(scope="module")
def scratch_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("test_e2e")


def test_incremental_sync_waves_with_duckdb_oracle(spark, scratch_dir):
    """The reference's ACTUAL main loop, end-to-end and incremental:
    paged extract → typed flatten (config project) → HWM-gated tail →
    anti-join → bucketed upsert append, run as two historical waves plus
    an idempotent replay — then the EP3 daily report built from the
    synced target, value-checked against DuckDB computing the same
    report straight from the raw parquet."""
    import duckdb
    from pyspark.sql import functions as F

    from googleanalytics_etl_spark.reports import build_daily_metrics

    target = str(scratch_dir / "hits_waves")
    pipe = SyncPipeline(spark, EXAMPLE_CONFIG, target)
    src = read_paged(spark, SF_SMALL, chunks=4)
    total = src.count()

    # wave 1: history before Jan 15 (seeds the target + its HWM)
    cutoff = F.to_timestamp(F.lit("2024-01-15 00:00:00"))
    wave1 = src.where(F.col("ts").cast("timestamp") < cutoff)
    n1 = pipe.sync(wave1)
    assert n1 == wave1.count() > 0

    # wave 2: the full extract again — the HWM gate must trim the scan
    # to the tail and the anti-join must drop the overlap exactly
    n2 = pipe.sync(src)
    assert n1 + n2 == total
    # wave 3: pure replay → zero appended, zero buckets touched
    assert pipe.sync(src) == 0

    # EP3: daily report from the synced target vs DuckDB from raw parquet
    events = pipe.target().select(
        F.col("hit_ts").alias("ts"),
        F.col("client_id").alias("user_id"),
        F.col("hit_type").alias("event_type"),
        F.col("metric_value").alias("value"),
    )
    got = {
        (r["day"].isoformat(), r["event_type"]): (
            r["n"], r["total_value"], r["n_users"]
        )
        for r in build_daily_metrics(events).collect()
    }
    con = duckdb.connect()
    want = {
        (r[0].isoformat(), r[1]): (r[2], r[3], r[4])
        for r in con.execute(
            f"""
            SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                       AS day,
                   event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                       AS total_value,
                   COUNT(DISTINCT user_id) AS n_users
            FROM read_parquet('{SF_SMALL}/events.parquet')
            GROUP BY 1, 2
            """
        ).fetchall()
    }
    assert got == want


def test_full_reference_workflow(spark, scratch_dir):
    from pyspark.sql import functions as F

    # EP1': extract through the paged API source, sync incrementally
    extracted = read_paged(spark, SF_SMALL, chunks=4)
    pipe = SyncPipeline(spark, EXAMPLE_CONFIG, str(scratch_dir / "hits"))
    n = pipe.sync(extracted)
    assert n == extracted.count()
    assert pipe.sync(extracted) == 0  # idempotent re-extract

    # EP3': derived report tables from the synced target
    target = pipe.target().select(
        F.col("source_event_id").alias("event_id"),
        F.col("hit_ts").alias("ts"),
        F.col("client_id").alias("user_id"),
        F.col("hit_type").alias("event_type"),
        F.col("metric_value").alias("value"),
    )
    paths = materialize_reports(spark, target, str(scratch_dir / "reports"))

    sessions = spark.read.parquet(paths["sessions"])
    events = load(spark, SF_SMALL, "events")
    # session count matches the flagship computation on the raw fixture
    from googleanalytics_etl_spark.registry import queries

    assert sessions.count() == queries()["q_flagship"](spark, SF_SMALL).count()
    daily = spark.read.parquet(paths["daily_metrics"])
    assert daily.agg(F.sum("n")).first()[0] == events.count()
