"""RocksDB state store provider: the production streaming state backend
(off-heap, spill-to-disk, changelog-checkpointable) running the engine's
real micro-batch pipeline — not the default in-memory HDFS-backed store.

SCALE.md §9 previously listed RocksDB as cluster-only; this test proves
the provider is live in-sandbox, so every `s_*` operator can run with
bounded executor memory for state."""

from __future__ import annotations

import uuid

import pytest
from conftest import SF_SMALL

from pyspark.sql import functions as F

from googleanalytics_etl_spark.ops.streaming import (
    _events_stream,
    _run_to_memory,
    _stage_events,
)
from googleanalytics_etl_spark.registry import queries
from googleanalytics_etl_spark.scratch import SCRATCH

_ROCKS = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def test_windowed_agg_on_rocksdb_equals_default_provider(spark):
    stage = _stage_events(spark, SF_SMALL)
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(key, _ROCKS)
    try:
        agg = (
            _events_stream(spark, stage)
            .groupBy(
                F.window(F.col("ts").cast("timestamp"), "1 hour"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("window.start").cast("timestamp_ntz").alias("ws"),
                "event_type",
                "n",
            )
        )
        name = f"rocks_{uuid.uuid4().hex[:8]}"
        _run_to_memory(agg, name, "complete")
        got = {
            (r["ws"], r["event_type"]): r["n"]
            for r in spark.table(name).collect()
        }
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    # batch twin over the same fixture: the state backend must not
    # change a single count
    want = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in queries()["s_tumbling"](spark, SF_SMALL).collect()
    }
    assert got == want
    assert len(got) > 100  # real multi-window state, not a toy


def test_rocksdb_state_survives_multiple_micro_batches(spark):
    # streaming dedup keyed state on RocksDB: 5 micro-batches, state
    # carried across batch boundaries by the provider
    stage = _stage_events(spark, SF_SMALL)
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(key, _ROCKS)
    try:
        dedup = _events_stream(spark, stage).dropDuplicates(["user_id"])
        name = f"rocksd_{uuid.uuid4().hex[:8]}"
        _run_to_memory(dedup.select("user_id"), name, "append")
        got = spark.table(name).count()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    from googleanalytics_etl_spark.io import load

    assert got == load(spark, SF_SMALL, "events").select("user_id").distinct().count()
