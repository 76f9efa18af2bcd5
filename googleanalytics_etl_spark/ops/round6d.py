"""Round-6 batch 4: streaming late-data audit.

``s_late_data_audit`` — the watermark DROP accounting that
``s_watermark`` leaves implicit: a replayed late tail is appended to
the deterministic 5-chunk event stream, and a foreachBatch audit
counts, per event type, how many arriving rows fell below the running
watermark (max event time seen in PRIOR batches − 1 hour — exactly the
horizon Structured Streaming uses when deciding what a stateful op
drops). Production meaning: before turning on a watermarked aggregate,
measure what share of your feed it would silently discard.

Reference parity: the reference's trailing re-extract window exists
BECAUSE late hits arrive after their day was loaded [REF-UNVERIFIED —
/root/reference is empty]; this operator measures that lateness
directly.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import register

# replay window: the first 3 hours of the log arrive AGAIN after
# everything else (genuinely late — far below the final watermark),
# together with the last 30 minutes (a re-delivery that is NOT late:
# still inside the 1-hour delay). The audit must split them.
_LATE_HOURS = 3
_FRESH_MINUTES = 30

_LATE_AUDIT_ORACLE = f"""
WITH bounds AS (
    SELECT MIN(CAST(ts AS TIMESTAMP)) AS lo,
           MAX(CAST(ts AS TIMESTAMP)) AS hi
    FROM events
), replay AS (
    SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, 1 AS is_replay
    FROM events, bounds
    WHERE CAST(ts AS TIMESTAMP) < lo + INTERVAL {_LATE_HOURS} HOUR
       OR CAST(ts AS TIMESTAMP) >= hi - INTERVAL {_FRESH_MINUTES} MINUTE
), arrivals AS (
    SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, 0 AS is_replay
    FROM events
    UNION ALL
    SELECT event_type, ts, is_replay FROM replay
)
SELECT a.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN a.is_replay = 1
                      AND a.ts < b.hi - INTERVAL 1 HOUR
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       ROUND(CAST(SUM(CASE WHEN a.is_replay = 1
                            AND a.ts < b.hi - INTERVAL 1 HOUR
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
           AS late_share
FROM arrivals a, bounds b
GROUP BY a.event_type
"""


def _stage_with_replay(spark: SparkSession, sf_dir: str) -> str:
    """Stage the event log as 5 ascending time-span chunks PLUS a 6th
    replay chunk (first {_LATE_HOURS} h ∪ last {_FRESH_MINUTES} min),
    pinned-mtime-ordered so the replay always arrives last. Same
    fingerprint-cached contract as streaming._stage_events."""
    from .streaming import SCRATCH, stage_atomic, write_chunks_pinned

    src = Path(sf_dir) / "events.parquet"
    st = os.stat(src)
    fingerprint = hashlib.md5(
        f"late|{src.resolve()}|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:16]
    stage = SCRATCH / "late_stage" / f"{Path(sf_dir).name}_{fingerprint}"

    def _build(tmp: Path) -> None:
        e = load(spark, sf_dir, "events").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        b = e.select(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
        lo, hi = b["lo"], b["hi"]
        span = (hi - lo) / 5
        chunks = []
        for i in range(5):
            start = lo + i * span
            if i == 4:
                chunks.append(e.where(F.col("ts") >= F.lit(start)))
            else:
                end = lo + (i + 1) * span
                chunks.append(
                    e.where(
                        (F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end))
                    )
                )
        from datetime import timedelta

        late_lo = lo + timedelta(hours=_LATE_HOURS)
        fresh_hi = hi - timedelta(minutes=_FRESH_MINUTES)
        chunks.append(
            e.where(
                (F.col("ts") < F.lit(late_lo)) | (F.col("ts") >= F.lit(fresh_hi))
            )
        )
        write_chunks_pinned(tmp, chunks)

    stage_atomic(stage, _build)
    return str(stage)


@register("s_late_data_audit", oracle=_LATE_AUDIT_ORACLE)
def s_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark drop audit: events stream in 5 time-ordered
    micro-batches, then a REPLAY batch re-delivers the log's first
    {h} hours (long past the watermark) and its last {m} minutes
    (inside the 1-hour delay). Each batch counts, per event type, the
    arriving rows that fall below the running watermark — max event
    time over PRIOR batches minus 1 hour, exactly the horizon a
    watermarked stateful op applies when it drops late input — and
    appends the partials to a metric store (the ``s_psi_monitor``
    pattern); per-type totals sum the state. The in-order batches
    contribute zero late rows (time-span chunks guarantee every row ≥
    the prior max); the replay's old tranche is fully late and its
    fresh tranche is fully on-time, so ``n_late`` isolates precisely
    what a watermarked aggregate would have silently discarded.

    Scale shape: the per-batch audit is one map-side-combined count
    aggregate over the batch; watermark state is ONE scalar held in a
    driver-side JSON sidecar (the bounded-metadata contract of the
    k-means centroid collect — a 1-row parquet job here would pay ~5 s
    of commit overhead per batch for no durability the checkpoint
    doesn't already provide); the metric store grows |types × batches|
    rows. Nothing in the loop rescans history.

    Determinism: chunk boundaries are value-derived and mtime-pinned,
    so the prior-max sequence — hence every late/on-time decision — is
    a pure function of the data, and the whole streaming run carries a
    full cross-engine hash oracle.
    """
    import json
    from datetime import datetime

    from .streaming import _events_stream, _sweep_runs, run_foreach_batch

    stage = _stage_with_replay(spark, sf_dir)
    run = _sweep_runs("late_audit")
    # The watermark state is ONE scalar — driver-side bounded metadata
    # (the k-means-centroid contract). A JSON sidecar replaces the
    # 1-row parquet job pair the first cut used: each overwrite job
    # cost ~5 s of fixed commit overhead per micro-batch, 30 s of the
    # key's 37 s wall. ISO-microsecond text roundtrips exactly.
    state_f = run / "wm_state.json"
    tmp_f = run / "wm_state.json.tmp"
    partials = run / "partials"

    def audit_batch(bdf: DataFrame, epoch_id: int) -> None:
        prior_max = None
        if state_f.exists():
            prior_max = datetime.fromisoformat(
                json.loads(state_f.read_text())["max_ts"]
            )
        horizon = (
            F.lit(prior_max).cast("timestamp") - F.expr("INTERVAL 1 HOUR")
            if prior_max is not None
            else F.lit(None).cast("timestamp")
        )
        bdf = bdf.materialize(eager=True)  # two consumers below
        (
            bdf.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    F.when(F.col("ts") < horizon, 1).otherwise(0)
                )
                .cast("long")
                .alias("n_late"),
            )
            .write.mode("append")
            .parquet(str(partials))
        )
        batch_max = bdf.agg(F.max("ts").alias("m")).first()["m"]
        new_max = (
            batch_max
            if prior_max is None or (batch_max or prior_max) > prior_max
            else prior_max
        )
        tmp_f.write_text(json.dumps({"max_ts": new_max.isoformat()}))
        os.replace(tmp_f, state_f)

    run_foreach_batch(_events_stream(spark, stage), audit_batch)

    totals = (
        spark.read.parquet(str(partials))
        .groupBy("event_type")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("n_late").cast("long").alias("n_late"),
        )
        .select(
            "event_type",
            "n_rows",
            "n_late",
            F.round(
                F.col("n_late").cast("double") / F.col("n_rows"), 6
            ).alias("late_share"),
        )
        .materialize(eager=True)
    )
    return totals


s_late_data_audit.__doc__ = s_late_data_audit.__doc__.format(
    h=_LATE_HOURS, m=_FRESH_MINUTES
)
