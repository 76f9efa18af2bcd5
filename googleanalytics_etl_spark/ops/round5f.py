"""Round-5 pre-work, sixth batch: complete-mode streaming and
malformed-record ingestion.

- ``s_topk_complete`` — streaming top-k leaderboard in COMPLETE output
  mode: the one streaming mode not yet on the surface (append:
  s_watermark; update: s_stateful_user/s_session). Complete mode is
  the only mode that admits ORDER BY + LIMIT after a streaming
  aggregate — the live-leaderboard shape.
- ``q_scan_malformed`` — PERMISSIVE CSV ingest with corrupt-record
  capture: real feeds carry broken lines; the reader quarantines them
  into ``_corrupt_record`` instead of failing the job, and the report
  accounts for every line (good + quarantined = shipped).
"""

from __future__ import annotations

import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from ..scratch import stage
from .streaming import _events_stream, _run_to_memory, _stage_events


# ---------------------------------------------------------------------------
# s_topk_complete — streaming leaderboard (complete output mode)
# ---------------------------------------------------------------------------

_TOPK_COMPLETE_ORACLE = """
SELECT user_id, cents
FROM (
    SELECT user_id,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    ORDER BY cents DESC, user_id
    LIMIT 5
)
"""


@register("s_topk_complete", oracle=_TOPK_COMPLETE_ORACLE)
def s_topk_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-5 purchase leaderboard in COMPLETE mode: events
    arrive in 5 deterministic time-ordered micro-batches; every trigger
    re-emits the FULL current top-5 (total cents per user, exact
    integer sums, unique user_id tiebreak) and the memory sink holds
    the last emission — which must equal the batch answer over the
    whole corpus, so this real multi-trigger streaming query carries a
    full hash oracle.

    Complete mode is what makes ORDER BY + LIMIT legal on a streaming
    aggregate (append/update cannot sort an unbounded result); state is
    the per-user running aggregate — bounded by |users|, watermark-free
    by design, which is exactly when complete mode is the right tool
    (leaderboards, top-N dashboards). At 100 TB of *users* you would
    cap state with an MG sketch (``x_approx_topk``) instead — the two
    operators are the same report at the two state budgets.
    """
    stage = _stage_events(spark, sf_dir)
    agg = (
        _events_stream(spark, stage)
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .orderBy(F.col("cents").desc(), "user_id")
        .limit(5)
    )
    name = f"topk_{uuid.uuid4().hex[:8]}"
    _run_to_memory(agg, name, "complete")
    return spark.table(name)


# ---------------------------------------------------------------------------
# q_scan_malformed — PERMISSIVE ingest with corrupt-record quarantine
# ---------------------------------------------------------------------------

_N_BAD_LINES = 3

_MALFORMED_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
       CAST({_N_BAD_LINES} AS BIGINT) AS n_quarantined,
       CAST(SUM(n_regionkey) AS BIGINT) AS regionkey_sum
FROM nation
"""


def _malformed_stage(spark: SparkSession, sf_dir: str) -> Path:
    """nation as a CSV feed, ``feed.csv``, with the ``_N_BAD_LINES``
    malformed lines planted after the clean rows."""

    def _write(d: Path) -> None:
        rows = (
            load(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .collect()
        )
        lines = [
            f"{r['n_nationkey']},{r['n_name']},{r['n_regionkey']}" for r in rows
        ]
        # plant the breakage AFTER the clean rows: wrong arity (short and
        # long) and a type error — each must land in quarantine, not die
        lines += ["oops-single-field", "1,two,3,4,5", "notanint,X,alsobad"]
        (d / "feed.csv").write_text("\n".join(lines) + "\n", encoding="utf-8")

    return stage("malformed_nation", sf_dir, "nation", _write)


@register("q_scan_malformed", oracle=_MALFORMED_ORACLE)
def q_scan_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingest over a feed with broken lines: nation rows
    plus {n} planted malformed records (wrong arity, wrong types). The
    reader quarantines bad lines into ``_corrupt_record`` — the job
    completes, nothing is silently dropped, and the report proves full
    accounting: good-row count + quarantine count + a checksum over the
    parsed rows, hash-equal to the clean fixture.

    This is the ingest-robustness contract at 100 TB: FAILFAST turns
    one bad crawl line into a dead 6-hour job; PERMISSIVE + quarantine
    column turns it into a row-level metric (and the quarantine can be
    re-parsed offline). Pushdown caveat (the one that silently lies):
    under column pruning the CSV parser validates ONLY the columns the
    query reads — an aggregate touching 2 of 3 fields would miss
    arity/type corruption in the others (observed live: 1 of 3 planted
    bad lines flagged). The full parse is therefore materialized once
    (eager localCheckpoint — the documented cache-before-counting rule
    for corrupt-record accounting) so corruption is judged against the
    COMPLETE schema.
    """
    parsed = (
        spark.read.schema(
            "n_nationkey bigint, n_name string, n_regionkey bigint, "
            "_corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(_malformed_stage(spark, sf_dir) / "feed.csv"))
        .materialize(eager=True)
    )
    return parsed.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1))
        .cast("long")
        .alias("n_good"),
        F.count("_corrupt_record").cast("long").alias("n_quarantined"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("n_regionkey")))
        .cast("long")
        .alias("regionkey_sum"),
    )
