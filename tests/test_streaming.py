"""Streaming batch-equivalence tests (SURVEY.md §5 layer 4).

The registered s_* queries run windowed ops in batch mode (where the
DuckDB oracle hashes them); here the SAME operators run through a real
``readStream`` micro-batch pipeline and must produce identical results —
plus restart/idempotency checks on the stateful paths.
"""

from __future__ import annotations

import uuid

from conftest import SF_SMALL

from googleanalytics_etl_spark.ops.streaming import (
    SCRATCH,
    _events_stream,
    _stage_events,
    _run_to_memory,
)
from googleanalytics_etl_spark.registry import queries


def _collect_sorted(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_streaming_tumbling_equals_batch(spark):
    """Tumbling agg via readStream (complete mode) == batch twin."""
    from pyspark.sql import functions as F

    stage = _stage_events(spark, SF_SMALL)
    agg = (
        _events_stream(spark, stage)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
        )
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    _run_to_memory(agg, name, "complete")
    got = _collect_sorted(spark.table(name), ["window_start", "event_type", "n"])
    want = _collect_sorted(
        queries()["s_tumbling"](spark, SF_SMALL),
        ["window_start", "event_type", "n"],
    )
    assert got == want


def test_streaming_dedup_equals_batch(spark):
    """withWatermark + dropDuplicates over the stream == batch DISTINCT."""
    from pyspark.sql import functions as F

    stage = _stage_events(spark, SF_SMALL)
    dedup = (
        _events_stream(spark, stage)
        .withWatermark("ts", "10 hours")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    name = f"d_{uuid.uuid4().hex[:8]}"
    _run_to_memory(dedup, name, "append")
    got = _collect_sorted(spark.table(name), ["event_id", "user_id", "value"])
    want = _collect_sorted(
        queries()["s_dedup"](spark, SF_SMALL), ["event_id", "user_id", "value"]
    )
    assert got == want


def test_watermark_drops_nothing_in_order_but_bounds_emission(spark):
    """Time-ordered replay: every emitted window is closed (end ≤ final
    watermark) and emitted counts match the batch per-hour counts."""
    from pyspark.sql import functions as F

    wm = queries()["s_watermark"](spark, SF_SMALL)
    batch = (
        queries()["s_tumbling"](spark, SF_SMALL)
        .groupBy("window_start")
        .agg(F.sum("n").alias("n"))
    )
    got = {r.window_start: r.n for r in wm.collect()}
    want = {r.window_start: r.n for r in batch.collect()}
    assert got, "watermarked stream emitted nothing"
    for ws, n in got.items():
        assert want.get(ws) == n, f"window {ws}: streamed {n} vs batch {want.get(ws)}"
    # emission horizon: all but the trailing unclosed windows emitted
    assert len(got) >= len(want) - 3


def test_incremental_sync_restart_idempotent(spark):
    """Running the HWM sync loop twice (fresh checkpoints) converges to
    the same exactly-once state — the reference loop's core guarantee."""
    a = queries()["s_incremental_sync"](spark, SF_SMALL)
    b = queries()["s_incremental_sync"](spark, SF_SMALL)
    ka = _collect_sorted(a, ["event_id", "user_id", "value"])
    kb = _collect_sorted(b, ["event_id", "user_id", "value"])
    assert ka == kb
    assert len(ka) == len({t[0] for t in ka}), "duplicate event_ids after sync"


def test_stateful_user_counts_converge(spark):
    """applyInPandasWithState: the last emission per user must equal the
    batch per-user event count — state carried across micro-batches."""
    from pyspark.sql import functions as F

    from googleanalytics_etl_spark.io import load

    em = queries()["s_stateful_user"](spark, SF_SMALL)
    final = {
        r.user_id: r.n_so_far
        for r in em.groupBy("user_id")
        .agg(F.max("n_so_far").alias("n_so_far"))
        .collect()
    }
    want = {
        r.user_id: r.n
        for r in load(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert final == want
    # >1 emission for at least one user proves multi-batch statefulness
    assert em.count() > len(want)


def test_streaming_session_window_closed_sessions_match_batch(spark):
    """Real streaming session_window (watermark + append): every emitted
    (closed) session must appear identically in the batch twin."""
    from pyspark.sql import functions as F

    stage = _stage_events(spark, SF_SMALL)
    agg = (
        _events_stream(spark, stage)
        .withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("timestamp_ntz").alias(
                "session_start"
            ),
            "n_events",
        )
    )
    name = f"sw_{uuid.uuid4().hex[:8]}"
    _run_to_memory(agg, name, "append")
    streamed = _collect_sorted(
        spark.table(name), ["user_id", "session_start", "n_events"]
    )
    batch = set(
        _collect_sorted(
            queries()["s_session"](spark, SF_SMALL),
            ["user_id", "session_start", "n_events"],
        )
    )
    assert streamed, "no sessions emitted"
    missing = [s for s in streamed if s not in batch]
    assert not missing, f"streamed sessions absent from batch: {missing[:3]}"


def test_checkpoint_resume_picks_up_only_new_files(spark):
    """Fault-tolerance contract: restarting the sync stream from its
    checkpoint processes only files added since the stop — offsets
    persist, the target stays exactly-once."""
    import shutil

    from pyspark.sql import functions as F

    from googleanalytics_etl_spark.io import load

    base = SCRATCH / "ckpt_resume"
    shutil.rmtree(base, ignore_errors=True)
    stage, target, ckpt = base / "stage", base / "target", base / "ckpt"

    e = (
        load(spark, SF_SMALL, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    total = e.count()
    first = e.where(F.col("user_id") % 3 != 0)
    second = e.where(F.col("user_id") % 3 == 0)
    first.coalesce(1).write.mode("append").parquet(str(stage))

    def run_once():
        stream = (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, "
                "event_type string, value double, props string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(str(stage))
        )

        def sink(batch_df, _epoch):
            try:
                loaded = batch_df.sparkSession.read.parquet(str(target)).select(
                    "event_id"
                )
                fresh = batch_df.join(loaded, "event_id", "left_anti")
            except Exception:
                fresh = batch_df
            fresh.write.mode("append").parquet(str(target))

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(ckpt))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    n1 = spark.read.parquet(str(target)).count()
    assert n1 == first.count()

    second.coalesce(1).write.mode("append").parquet(str(stage))
    run_once()  # SAME checkpoint: must process only the new file
    final = spark.read.parquet(str(target))
    assert final.count() == total
    assert final.select("event_id").distinct().count() == total


def test_stream_static_enrich_equals_batch(spark):
    """Stream-static join (event stream ⋈ customer dim) + windowed agg
    via a real readStream == the registered batch twin."""
    from pyspark.sql import functions as F

    from googleanalytics_etl_spark.io import load

    stage = _stage_events(spark, SF_SMALL)
    c = load(spark, SF_SMALL, "customer").select("c_custkey", "c_mktsegment")
    enriched = (
        _events_stream(spark, stage)
        .join(c, F.col("user_id") == F.col("c_custkey"))
        .groupBy(F.window("ts", "1 hour"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "c_mktsegment",
            "n",
        )
    )
    name = f"se_{uuid.uuid4().hex[:8]}"
    _run_to_memory(enriched, name, "complete")
    got = _collect_sorted(spark.table(name), ["window_start", "c_mktsegment", "n"])
    want = _collect_sorted(
        queries()["s_enrich"](spark, SF_SMALL),
        ["window_start", "c_mktsegment", "n"],
    )
    assert got == want


def test_stream_stream_interval_join_equals_batch(spark):
    """Two watermarked streams (views, purchases) interval-joined via a
    real readStream: the emitted pair set must equal the batch interval
    join the registered twin aggregates."""
    from pyspark.sql import functions as F

    stage = _stage_events(spark, SF_SMALL)

    def side(evt, ucol, icol, tcol):
        return (
            _events_stream(spark, stage)
            .where(F.col("event_type") == evt)
            .select(
                F.col("user_id").alias(ucol),
                F.col("event_id").alias(icol),
                F.col("ts").alias(tcol),
            )
            .withWatermark(tcol, "10 hours")
        )

    v = side("view", "v_user", "view_id", "vts")
    p = side("purchase", "p_user", "purchase_id", "pts")
    pairs = v.join(
        p,
        F.expr(
            "v_user = p_user AND pts >= vts "
            "AND pts <= vts + INTERVAL 30 MINUTES"
        ),
    ).select("v_user", "view_id", "purchase_id")
    name = f"sj_{uuid.uuid4().hex[:8]}"
    _run_to_memory(pairs, name, "append")
    got = _collect_sorted(spark.table(name), ["v_user", "view_id", "purchase_id"])

    from googleanalytics_etl_spark.io import load

    e = load(spark, SF_SMALL, "events")
    bv = e.where("event_type = 'view'").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").cast("timestamp").alias("vts"),
    )
    bp = e.where("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("pts"),
    )
    want = _collect_sorted(
        bv.join(
            bp,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("pts") >= F.col("vts"))
            & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 30 MINUTES")),
        ).select("v_user", "view_id", "purchase_id"),
        ["v_user", "view_id", "purchase_id"],
    )
    assert len(got) > 0
    assert got == want


def test_stream_stream_outer_join_equals_batch(spark, tmp_path):
    """Real two-stream LEFT OUTER interval join: emitted rows (matches
    AND watermark-certified nulls) must equal the batch left join.

    End-of-stream subtlety: a view's NULL row is emitted only once the
    watermark passes vts + interval + delay — views near the log's end
    would stay stuck in state forever without a later event. Each side's
    watermark tracks the rows that SURVIVE its event_type filter
    (Catalyst evaluates the filter below the watermark's stats
    collection), so the closing sentinels must be real far-future
    view/purchase rows; they ride under user_id = −1 and are excluded
    from the comparison. This is how a live pipeline closes books too —
    the next day's traffic is the sentinel.
    """
    import shutil

    from pyspark.sql import functions as F

    base = _stage_events(spark, SF_SMALL)
    stage = str(tmp_path / "stage")
    shutil.copytree(base, stage)
    hi = (
        spark.read.parquet(stage)
        .agg(F.max(F.col("ts").cast("timestamp")).alias("hi"))
        .first()["hi"]
    )
    sentinel = spark.createDataFrame(
        [
            (10**9, hi, -1, "view", 0.0, None),
            (10**9 + 1, hi, -1, "purchase", 0.0, None),
        ],
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 24 HOURS"))
    sentinel.coalesce(1).write.mode("append").parquet(stage)

    def side(evt, ucol, icol, tcol):
        return (
            _events_stream(spark, stage)
            .withColumnRenamed("ts", tcol)
            .where(F.col("event_type") == evt)
            .withWatermark(tcol, "10 hours")
            .select(
                F.col("user_id").alias(ucol),
                F.col("event_id").alias(icol),
                tcol,
            )
        )

    v = side("view", "user_id", "view_id", "vts")
    p = side("purchase", "p_user", "purchase_id", "pts")
    joined = v.join(
        p,
        F.expr(
            "user_id = p_user AND pts >= vts "
            "AND pts <= vts + INTERVAL 30 MINUTES"
        ),
        "leftOuter",
    ).select("user_id", "view_id", "purchase_id")
    # manual trigger control: outer-side eviction fires on the trigger
    # AFTER the one whose data advanced the watermark, so feed a second
    # sentinel and process again before stopping.
    name = f"so_{uuid.uuid4().hex[:8]}"
    ckpt = tmp_path / "ckpt"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    try:
        q.processAllAvailable()
        sentinel.withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 1 HOUR")
        ).coalesce(1).write.mode("append").parquet(stage)
        q.processAllAvailable()
    finally:
        q.stop()
    got = _collect_sorted(
        spark.table(name).where(F.col("user_id") >= 0),
        ["user_id", "view_id", "purchase_id"],
    )

    from googleanalytics_etl_spark.registry import queries

    want = _collect_sorted(
        queries()["s_stream_outer"](spark, SF_SMALL),
        ["user_id", "view_id", "purchase_id"],
    )
    assert len(got) > len([r for r in got if r[2] is not None]), (
        "outer join must emit some watermark-certified null rows"
    )
    assert got == want


def test_transform_with_state_totals(spark):
    """Spark 4 transformWithState path (env-gated: the TWS Python worker
    requires google.protobuf, absent in this sandbox — skip with reason
    rather than pretend; s_stateful_user covers the same state logic on
    the non-protobuf API)."""
    import pytest
    from pyspark.sql import functions as F

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState worker needs protobuf; not in sandbox",
    )
    from googleanalytics_etl_spark.io import load
    from googleanalytics_etl_spark.ops.streaming import transform_state_totals

    rows = transform_state_totals(spark, SF_SMALL).collect()
    want = {
        r["user_id"]: (r["n"], r["c"])
        for r in load(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"),
        )
        .collect()
    }
    last: dict[int, tuple[int, int]] = {}
    for r in rows:
        u = r["user_id"]
        if u not in last or r["n_events"] > last[u][0]:
            last[u] = (r["n_events"], r["total_cents"])
    assert last == want


def test_cdc_time_travel_every_epoch_exact(spark):
    """retain_versions=True turns the CDC manifest into time travel:
    the state read at EVERY epoch equals an independent batch recompute
    of "latest record per key as of that epoch's chunk boundary" —
    Delta/Iceberg version reads, reproduced from the bucket manifests."""
    from pyspark.sql import functions as F

    from googleanalytics_etl_spark.io import load
    from googleanalytics_etl_spark.ops.streaming import (
        _cdc_merge_loop,
        cdc_state_at,
    )

    manifest, epochs = _cdc_merge_loop(spark, SF_SMALL, retain_versions=True)
    assert len(epochs) == 6  # seed + 5 micro-batches

    log = load(spark, SF_SMALL, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    cutoff = F.to_timestamp(F.lit("2024-01-15 00:00:00"))
    # chunk boundaries exactly as _stage_events computes them
    b = log.select(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    lo, hi = b["lo"], b["hi"]
    span = (hi - lo) / 5
    bounds = [lo + i * span for i in range(1, 5)] + [hi]

    cols = ["user_id", "event_id", "ts", "event_type", "value"]

    def latest(df):
        return (
            df.groupBy("user_id")
            .agg(F.max_by(F.struct(*cols), "event_id").alias("s"))
            .select("s.*")
        )

    for i, epoch in enumerate(epochs):
        got = cdc_state_at(spark, epoch).select(
            "user_id", "event_id"
        ).collect()
        if i == 0:
            visible = log.where(F.col("ts") < cutoff)
        else:
            upper = bounds[i - 1]
            seen = (F.col("ts") <= F.lit(upper)) if i == 5 else (
                F.col("ts") < F.lit(upper)
            )
            visible = log.where(
                (F.col("ts") < cutoff) | ((F.col("ts") >= cutoff) & seen)
            )
        want = latest(visible.select(cols)).select(
            "user_id", "event_id"
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want)), (
            f"epoch {i}: {len(got)} vs {len(want)} rows"
        )


def test_paged_sync_exactly_once_through_rest_source(spark):
    """The sync loop fed by the paged STREAM source: the target equals
    the event log exactly once (seeded history never duplicated), and a
    re-run converges to the same state."""
    from googleanalytics_etl_spark.io import load

    a = queries()["s_paged_sync"](spark, SF_SMALL)
    want = load(spark, SF_SMALL, "events").count()
    ka = _collect_sorted(a, ["event_id", "user_id", "value"])
    assert len(ka) == want
    assert len(ka) == len({t[0] for t in ka}), "duplicate event_ids"
    b = queries()["s_paged_sync"](spark, SF_SMALL)
    assert _collect_sorted(b, ["event_id", "user_id", "value"]) == ka


def test_paged_sync_touches_only_incoming_key_buckets(spark, tmp_path):
    """The s_paged_sync loop's bucketed-sink contract, asserted per
    micro-batch: every file a batch appends lands ONLY under the
    ``bucket=K`` hive directories that batch's fresh event_ids hash
    into — the property that bounds per-sync IO by the incoming key
    spread instead of the accumulated target size. A final replay of
    the whole stream must add zero files anywhere."""
    import pathlib

    from pyspark.sql import functions as F

    from googleanalytics_etl_spark.io import load
    from googleanalytics_etl_spark.sources.paged import read_paged_stream
    from googleanalytics_etl_spark.sources.sinks import SINK_BUCKETS, upsert_append

    target = tmp_path / "target"
    ckpt = tmp_path / "ckpt"
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    seed = (
        load(spark, SF_SMALL, "events")
        .where(
            F.col("ts").cast("timestamp")
            < F.to_timestamp(F.lit("2024-01-10 00:00:00"))
        )
        .select(cols)
    )
    upsert_append(spark, seed, str(target), "event_id")

    def files():
        return {
            str(p) for p in pathlib.Path(target).rglob("*.parquet")
        }

    violations = []
    epochs = []

    def sync_batch(batch_df, epoch_id):
        before = files()
        batch = batch_df.select(cols).persist()
        try:
            allowed = {
                r["b"]
                for r in batch.select(
                    F.pmod(F.xxhash64("event_id"), F.lit(SINK_BUCKETS))
                    .cast("int")
                    .alias("b")
                )
                .distinct()
                .collect()
            }
            n = upsert_append(
                batch_df.sparkSession, batch, str(target), "event_id"
            )
        finally:
            batch.unpersist()
        touched = {
            int(f.split("bucket=")[1].split("/")[0]) for f in files() - before
        }
        epochs.append((epoch_id, n, sorted(touched)))
        if not touched <= allowed:
            violations.append((epoch_id, sorted(touched - allowed)))

    q = (
        read_paged_stream(spark, SF_SMALL, chunks=5)
        .writeStream.foreachBatch(sync_batch)
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert not violations, violations
    assert sum(n for _, n, _ in epochs) + seed.count() == load(
        spark, SF_SMALL, "events"
    ).count()
    # at least one batch actually appended under a strict subset of
    # buckets — the pruning claim is exercised, not vacuous
    assert any(0 < len(t) for _, n, t in epochs if n)

    # pure replay: zero new files in ANY bucket
    before = files()
    replayed = read_paged_stream(spark, SF_SMALL, chunks=5)
    # drain the same stream into the same target with a fresh checkpoint
    q2 = (
        replayed.writeStream.foreachBatch(
            lambda b, e: upsert_append(
                b.sparkSession, b.select(cols), str(target), "event_id"
            )
            and None
        )
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert files() == before
