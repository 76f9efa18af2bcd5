"""Round-5 batch-6 operators: complete-mode streaming top-k and
PERMISSIVE malformed-record ingest."""

from __future__ import annotations

import pytest
from conftest import SF_SMALL

from pyspark.sql import functions as F

from googleanalytics_etl_spark.io import load
from googleanalytics_etl_spark.registry import queries


def test_topk_complete_equals_batch_leaderboard(spark):
    got = [(r["user_id"], r["cents"]) for r in queries()["s_topk_complete"](spark, SF_SMALL).collect()]
    batch = (
        load(spark, SF_SMALL, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents")
        )
        .orderBy(F.col("cents").desc(), "user_id")
        .limit(5)
        .collect()
    )
    want = [(r["user_id"], r["cents"]) for r in batch]
    # memory-sink rows may arrive unordered; the SET + values must match
    assert sorted(got) == sorted(want)
    assert len(got) == 5


def test_topk_complete_is_multi_trigger(spark):
    # the staged source feeds one file per trigger (5 chunks): the
    # leaderboard must have survived several complete re-emissions, not
    # a single batch — assert the stage actually has multiple files
    from googleanalytics_etl_spark.ops.streaming import _stage_events

    stage = _stage_events(spark, SF_SMALL)
    from pathlib import Path

    files = [p for p in Path(stage).iterdir() if p.name.startswith("part-")]
    assert len(files) >= 5


def test_scan_malformed_accounts_for_every_line(spark):
    row = queries()["q_scan_malformed"](spark, SF_SMALL).collect()[0]
    n_nation = load(spark, SF_SMALL, "nation").count()
    assert row["n_good"] == n_nation
    assert row["n_quarantined"] == 3
    want_sum = (
        load(spark, SF_SMALL, "nation")
        .agg(F.sum("n_regionkey").cast("long").alias("s"))
        .collect()[0]["s"]
    )
    assert row["regionkey_sum"] == want_sum


def test_scan_malformed_quarantine_preserves_raw_lines(spark):
    # the quarantined rows carry the ORIGINAL text (re-parseable offline)
    from googleanalytics_etl_spark.ops.round5f import _malformed_stage

    queries()["q_scan_malformed"](spark, SF_SMALL).collect()  # ensure staged
    stage = str(_malformed_stage(spark, SF_SMALL))
    parsed = (
        spark.read.schema(
            "n_nationkey bigint, n_name string, n_regionkey bigint, "
            "_corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(stage + "/feed.csv")
        .localCheckpoint(eager=True)
    )
    bad = {
        r["_corrupt_record"]
        for r in parsed.where(F.col("_corrupt_record").isNotNull()).collect()
    }
    assert bad == {"oops-single-field", "1,two,3,4,5", "notanint,X,alsobad"}
