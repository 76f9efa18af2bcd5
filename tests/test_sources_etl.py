"""Tests for the source/sink layer and the config-driven ETL facade."""

from __future__ import annotations

from pathlib import Path

import pytest
from conftest import SF_SMALL

from googleanalytics_etl_spark.etl import EXAMPLE_CONFIG, SyncPipeline
from googleanalytics_etl_spark.io import load
from googleanalytics_etl_spark.ops.multimodal import decode_media
from googleanalytics_etl_spark.sources import (
    append_jdbc,
    read_csv,
    read_json,
    read_paged,
    upsert_append,
    write_partitioned,
)


@pytest.fixture(scope="module")
def scratch_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("test_sources")


def test_paged_source_matches_batch_scan(spark):
    batch = load(spark, SF_SMALL, "events")
    paged = read_paged(spark, SF_SMALL, chunks=6)
    assert paged.count() == batch.count()
    assert paged.agg({"event_id": "sum"}).first()[0] == (
        batch.agg({"event_id": "sum"}).first()[0]
    )
    # one input partition per date chunk (the anti-sampling split)
    assert paged.rdd.getNumPartitions() == 6


def test_paged_source_pages_are_bounded(spark):
    paged = read_paged(spark, SF_SMALL, chunks=2, page_size=100)
    assert paged.count() == load(spark, SF_SMALL, "events").count()


def test_json_csv_roundtrip(spark, scratch_dir):
    from pyspark.sql import functions as F

    e = load(spark, SF_SMALL, "events").limit(200)
    jdir, cdir = str(scratch_dir / "ev_json"), str(scratch_dir / "ev_csv")
    e.write.mode("overwrite").json(jdir)
    e.withColumn("props", F.lit(None).cast("string")).write.mode(
        "overwrite"
    ).option("header", True).csv(cdir)
    assert read_json(spark, jdir).count() == 200
    back = read_csv(spark, cdir)
    assert back.count() == 200
    assert dict(back.dtypes)["ts"] == "timestamp_ntz"


def test_upsert_append_is_idempotent(spark, scratch_dir):
    e = load(spark, SF_SMALL, "events").select("event_id", "user_id", "value")
    tgt = str(scratch_dir / "upsert_tgt")
    assert upsert_append(spark, e, tgt, "event_id") == e.count()
    assert upsert_append(spark, e, tgt, "event_id") == 0  # re-run: no-op
    extra = e.withColumn("event_id", e.event_id + 10_000_000)
    assert upsert_append(spark, extra.limit(10), tgt, "event_id") == 10
    assert spark.read.parquet(tgt).count() == e.count() + 10


def test_paged_source_guard_raises_without_python_ds(spark, monkeypatch):
    """The Spark<4 guard is unreachable in this env (Spark 4.1 ships the
    Python Data Source API) — exercise it via monkeypatch so the branch
    is covered rather than dead."""
    from googleanalytics_etl_spark.sources import paged as paged_mod

    monkeypatch.setattr(paged_mod, "_HAS_PYDS", False)
    with pytest.raises(NotImplementedError, match="Spark >= 4.0"):
        paged_mod.read_paged(spark, SF_SMALL)


def test_upsert_append_prunes_to_touched_buckets(spark, tmp_path):
    """The bucketed sink must (a) append files only under the buckets
    the incoming keys hash into, (b) touch ZERO buckets on an identical
    re-run, and (c) partition-prune the anti-join's target scan."""
    import os

    from pyspark.sql import functions as F

    tgt = str(tmp_path / "bucketed_tgt")
    e = load(spark, SF_SMALL, "events").select("event_id", "user_id", "value")
    assert upsert_append(spark, e, tgt, "event_id", n_buckets=8) == e.count()

    def snapshot():
        out = {}
        for d in sorted(os.listdir(tgt)):
            if d.startswith("bucket="):
                p = os.path.join(tgt, d)
                out[d] = sorted(os.listdir(p))
        return out

    before = snapshot()
    assert len(before) == 8

    # one genuinely-new key → exactly one bucket gains a file
    one = e.limit(1).withColumn("event_id", F.lit(987_654_321).cast("bigint"))
    assert upsert_append(spark, one, tgt, "event_id", n_buckets=8) == 1
    after_one = snapshot()
    changed = [d for d in after_one if after_one[d] != before[d]]
    assert len(changed) == 1, f"expected 1 touched bucket, got {changed}"

    # identical re-run: no fresh keys → zero buckets touched
    assert upsert_append(spark, one, tgt, "event_id", n_buckets=8) == 0
    assert snapshot() == after_one

    # pruned read: the target scan for a 1-key increment must carry a
    # PartitionFilters entry on bucket (dir-level pruning, not a filter
    # after a full scan)
    import contextlib
    import io as _io

    inc = one.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("event_id")), F.lit(8)).cast("int")
    )
    loaded = (
        spark.read.parquet(tgt)
        .where(F.col("bucket").isin([r["bucket"] for r in inc.collect()]))
        .select("event_id")
    )
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        loaded.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters"
    )[1].split("\n")[0]


def test_upsert_append_merge_exercise_sf01_skewed(spark, scratch_dir):
    """MERGE-semantics exercise at sf0.1: a 1M-row target upserted with a
    half-overlapping increment delivered as ONE partition (worst-case
    input skew for the anti-join). Exactly the fresh rows append, and a
    re-run is a no-op — the parquet upsert carries Delta/Iceberg MERGE
    semantics without the jars (sources/sinks.py upgrade path)."""
    import os

    sf01 = "/root/testdata/sf0.1"
    if not os.path.exists(sf01):
        pytest.skip("sf0.1 fixtures absent")
    e = load(spark, sf01, "events").select("event_id", "user_id", "value")
    n = e.count()
    tgt = str(scratch_dir / "upsert_sf01")
    assert upsert_append(spark, e, tgt, "event_id") == n
    # increment: 50% already-loaded rows + 10k genuinely new ids, all in
    # a single input partition
    overlap = e.where(e.event_id % 2 == 0)
    fresh = e.limit(10_000).withColumn("event_id", e.event_id + 50_000_000)
    incoming = overlap.unionByName(fresh).coalesce(1)
    assert upsert_append(spark, incoming, tgt, "event_id") == 10_000
    assert upsert_append(spark, incoming, tgt, "event_id") == 0
    assert spark.read.parquet(tgt).count() == n + 10_000


def test_write_partitioned_prunes(spark, scratch_dir):
    d = load(spark, SF_SMALL, "documents")
    out = str(scratch_dir / "docs_by_lang")
    write_partitioned(d, out, "lang")
    assert (Path(out) / "lang=en").exists()
    one = spark.read.parquet(out).where("lang = 'en'")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()


def test_jdbc_sink_error_contract(spark):
    e = load(spark, SF_SMALL, "events").limit(1)
    with pytest.raises(RuntimeError, match="JDBC append failed"):
        append_jdbc(e, "jdbc:postgresql://nowhere/db", "t")


def test_decode_media_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG", "image/png")


def test_sync_pipeline_incremental(spark, scratch_dir):
    """The reference's EP1/EP2 semantics: backfill, idempotent re-sync,
    incremental tail append with re-extract overlap."""
    from pyspark.sql import functions as F

    e = load(spark, SF_SMALL, "events")
    cutoff = F.lit("2024-01-20").cast("timestamp_ntz")
    history, tail = e.where(F.col("ts") < cutoff), e.where(F.col("ts") >= cutoff)

    pipe = SyncPipeline(spark, EXAMPLE_CONFIG, str(scratch_dir / "sync_tgt"))
    n0 = pipe.backfill(history)
    assert n0 == history.count()

    # re-sync same data: idempotent (anti-join on derived hit_id)
    assert pipe.sync(history) == 0
    # full source including the new tail: appends exactly the tail
    assert pipe.sync(e) == tail.count()
    assert pipe.target().count() == e.count()
    # derived hit ids are unique and the HWM advanced
    assert pipe.target().select("hit_id").distinct().count() == e.count()
    assert pipe.high_water_mark() == e.agg(F.max("ts")).first()[0]


def test_paged_source_filter_pushdown(spark):
    """Spark pushes supported comparisons into the source; results match
    the equivalent batch filter, and the reader honors them server-side."""
    from pyspark.sql import functions as F

    from googleanalytics_etl_spark.sources.paged import PagedEventsReader

    batch = load(spark, SF_SMALL, "events").where("user_id = 3")
    paged = read_paged(spark, SF_SMALL, chunks=4).where("user_id = 3")
    assert paged.count() == batch.count()
    assert paged.agg(F.sum("event_id")).first()[0] == (
        batch.agg(F.sum("event_id")).first()[0]
    )

    # reader-level contract: supported filters accepted, others yielded
    from pyspark.sql.datasource import EqualTo, GreaterThan

    r = PagedEventsReader({"path": f"{SF_SMALL}/events.parquet"})
    class Unsupported:  # stands in for e.g. StringContains
        attribute = ("event_type",)
    leftover = list(r.pushFilters([EqualTo(("user_id",), 3), Unsupported()]))
    assert len(r.accepted) == 1 and isinstance(r.accepted[0], EqualTo)
    assert len(leftover) == 1 and isinstance(leftover[0], Unsupported)
    part = r.partitions()[0]
    rows = sum(b.num_rows for b in r.read(part))
    full = PagedEventsReader({"path": f"{SF_SMALL}/events.parquet"})
    rows_full = sum(b.num_rows for b in full.read(full.partitions()[0]))
    assert 0 < rows < rows_full, "server-side filter did not reduce the page"


def test_materialize_reports(spark, scratch_dir):
    """EP3 derived tables: correct contents, pruned layouts."""
    from pyspark.sql import functions as F

    from googleanalytics_etl_spark.reports import materialize_reports

    e = load(spark, SF_SMALL, "events")
    paths = materialize_reports(spark, e, str(scratch_dir / "reports"))

    sessions = spark.read.parquet(paths["sessions"])
    from googleanalytics_etl_spark.registry import queries

    want = queries()["q_flagship"](spark, SF_SMALL).count()
    assert sessions.count() == want  # == 946 at sf0.001 (FIXTURES.md)
    assert sessions.where("session_start > session_end").count() == 0

    daily = spark.read.parquet(paths["daily_metrics"])
    total = daily.agg(F.sum("n")).first()[0]
    assert total == e.count()
    assert (Path(paths["daily_metrics"]) / "day_str=2024-01-01").exists()


def test_cli_sync_backfill_reports(spark, tmp_path):
    """The console entry point drives EP1/EP2/EP3 end-to-end: backfill,
    idempotent re-sync (appends 0), and report materialization — with a
    YAML config exercising the reference's config-file path."""
    import yaml

    from googleanalytics_etl_spark.cli import main
    from googleanalytics_etl_spark.etl import EXAMPLE_CONFIG

    cfg = tmp_path / "sync.yaml"
    cfg.write_text(yaml.safe_dump(EXAMPLE_CONFIG))
    target = str(tmp_path / "hits")
    base = ["--config", str(cfg), "--source-dir", SF_SMALL]

    assert main(base + ["backfill", "--target", target]) == 0
    n_rows = spark.read.parquet(target).count()
    assert n_rows > 0

    # second sync over the same source must be a no-op append
    assert main(base + ["sync", "--target", target]) == 0
    assert spark.read.parquet(target).count() == n_rows

    out = str(tmp_path / "reports")
    assert main(base + ["reports", "--out", out]) == 0
    assert spark.read.parquet(f"{out}/sessions").count() > 0
    assert spark.read.parquet(f"{out}/daily_metrics").count() > 0


def test_cli_options_after_subcommand(spark, tmp_path):
    """The documented invocation order (options after the subcommand)
    must parse — shared options live on both parser levels."""
    from googleanalytics_etl_spark.cli import main

    target = str(tmp_path / "hits2")
    assert (
        main(["backfill", "--source-dir", SF_SMALL, "--target", target]) == 0
    )
    assert spark.read.parquet(target).count() > 0


def test_cli_rejects_empty_config(tmp_path):
    import pytest as _pytest

    from googleanalytics_etl_spark.cli import load_config

    empty = tmp_path / "empty.yaml"
    empty.write_text("")
    with _pytest.raises(SystemExit):
        load_config(str(empty))


def test_incremental_daily_metrics_equals_full_rebuild(spark, tmp_path):
    """Dynamic-partition incremental maintenance must converge to the
    same table as a full rebuild: build from the first half of the event
    log, then update with the full log, compare against a one-shot
    build."""
    from pyspark.sql import functions as F

    from googleanalytics_etl_spark.io import load
    from googleanalytics_etl_spark.reports import (
        build_daily_metrics,
        update_daily_metrics,
    )

    events = load(spark, SF_SMALL, "events")
    cutoff = events.agg(F.percentile_approx("ts", 0.5).alias("m")).first()["m"]
    path = str(tmp_path / "daily")

    update_daily_metrics(spark, events.where(F.col("ts") <= F.lit(cutoff)), path)
    rewritten = update_daily_metrics(spark, events, path)
    assert rewritten  # the HWM day plus all later days

    got = spark.read.parquet(path).drop("day_str")
    want = build_daily_metrics(events)
    sort_cols = ["day", "event_type"]
    assert [tuple(r) for r in got.orderBy(*sort_cols).collect()] == [
        tuple(r) for r in want.orderBy(*sort_cols).collect()
    ]


def test_paged_stream_source_matches_batch(spark):
    """Streaming paged source: one micro-batch per date chunk, exact
    row-set equality with the batch load, and replayable offsets."""
    import uuid

    from pyspark.sql import functions as F

    from googleanalytics_etl_spark.io import load
    from googleanalytics_etl_spark.sources.paged import read_paged_stream

    df = read_paged_stream(spark, SF_SMALL, chunks=5)
    name = f"ps_{uuid.uuid4().hex[:6]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    finally:
        q.stop()
    got = spark.table(name)
    want = load(spark, SF_SMALL, "events")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert n_batches == 5  # deterministic chunk-per-batch boundaries


def test_paged_stream_offsets_replayable():
    """readBetweenOffsets(start, end) re-yields exactly the rows the
    committed span produced — the recovery contract."""
    from googleanalytics_etl_spark.sources.paged import PagedEventsStreamReader

    r = PagedEventsStreamReader({"path": f"{SF_SMALL}/events.parquet", "chunks": 5})
    off = r.initialOffset()
    all_rows = []
    spans = []
    for _ in range(7):  # more polls than chunks: tail polls are empty
        rows, nxt = r.read(off)
        rows = list(rows)
        spans.append((off, nxt, rows))
        all_rows.extend(rows)
        off = nxt
    assert len(all_rows) == 1000
    assert len({row[0] for row in all_rows}) == 1000  # no dup event_ids
    # replay every committed span through the recovery path
    for start, end, rows in spans:
        replay = list(r.readBetweenOffsets(start, end))
        assert replay == rows


def test_streaming_source_to_upsert_sink_e2e(spark, tmp_path):
    """The full reference loop, streaming form: paged stream source →
    foreachBatch bucketed upsert sink. After the stream drains, the
    target equals the batch event log exactly; replaying the whole
    stream (fresh checkpoint, same source) appends ZERO rows — the
    sink's key-level idempotency absorbs at-least-once delivery."""
    from pyspark.sql import functions as F

    from googleanalytics_etl_spark.io import load
    from googleanalytics_etl_spark.sources.paged import read_paged_stream
    from googleanalytics_etl_spark.sources.sinks import upsert_append

    target = str(tmp_path / "hits")
    appended: list[int] = []

    def sink(batch_df, epoch_id):
        appended.append(
            upsert_append(batch_df.sparkSession, batch_df, target, "event_id")
        )

    def run_once(tag: str) -> None:
        q = (
            read_paged_stream(spark, SF_SMALL, chunks=5)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once("a")
    want = load(spark, SF_SMALL, "events")
    got = spark.read.parquet(target).drop("bucket")
    assert got.count() == want.count()
    assert sum(appended) == want.count()
    assert got.select("event_id").exceptAll(want.select("event_id")).count() == 0

    # full replay: new checkpoint, same source -> all rows already
    # present, zero appended
    before = appended[:]
    run_once("b")
    assert sum(appended[len(before):]) == 0


def test_paged_stream_checkpoint_restart_exactly_once(spark, tmp_path):
    """Checkpoint-restart contract: a file-sink query over the paged
    stream source, stopped and restarted on the SAME checkpoint, never
    duplicates rows — committed offsets resume, and a third run over a
    fresh checkpoint produces the identical row set."""
    from googleanalytics_etl_spark.io import load
    from googleanalytics_etl_spark.sources.paged import read_paged_stream

    out = str(tmp_path / "rows")
    ckpt = str(tmp_path / "ckpt")

    def run(stop_after_first_batch: bool) -> None:
        q = (
            read_paged_stream(spark, SF_SMALL, chunks=5)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            if stop_after_first_batch:
                # stop as soon as at least one batch committed
                import time

                for _ in range(600):
                    if any(p["numInputRows"] > 0 for p in q.recentProgress):
                        break
                    time.sleep(0.05)
            else:
                q.processAllAvailable()
        finally:
            q.stop()

    run(stop_after_first_batch=True)   # partial run
    run(stop_after_first_batch=False)  # resume to completion
    run(stop_after_first_batch=False)  # no-op: everything committed

    got = spark.read.parquet(out)
    want = load(spark, SF_SMALL, "events")
    assert got.count() == want.count() == 1000
    assert got.select("event_id").distinct().count() == 1000
    assert got.exceptAll(want).count() == 0


def test_cli_query_and_list(spark, tmp_path, capsys):
    """The `query` subcommand runs any registered operator by key
    (stdout JSON rows or parquet --out) and `list` enumerates the full
    registry — the whole 250+-operator surface is CLI-reachable."""
    import json as _json

    from googleanalytics_etl_spark.cli import main
    from googleanalytics_etl_spark.registry import queries

    assert main(["list"]) == 0
    listed = capsys.readouterr().out.split()
    assert listed == list(queries())

    assert main(["query", "q_groupby_agg", "--source-dir", SF_SMALL]) == 0
    rows = [
        _json.loads(line) for line in capsys.readouterr().out.splitlines()
    ]
    assert rows and {"l_returnflag", "sum_qty"} <= set(rows[0])

    out = str(tmp_path / "qr")
    assert (
        main(["query", "x_token_budget", "--source-dir", SF_SMALL, "--out", out])
        == 0
    )
    assert spark.read.parquet(out).count() == 20

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(["query", "no_such_key", "--source-dir", SF_SMALL])


def test_chunk_bounds_monotonic_on_degenerate_span(spark, tmp_path):
    # a ts span smaller than n_chunks ns used to produce an UNSORTED
    # bounds list (lo + i*span overshooting hi+1), letting latestOffset
    # return an offset lower than one it had already returned — which
    # structured streaming treats as an error
    import pyarrow as pa
    import pyarrow.parquet as pq

    from googleanalytics_etl_spark.sources.paged import (
        PagedEventsParallelStreamReader,
        PagedEventsStreamReader,
    )

    path = str(tmp_path / "const_ts.parquet")
    t = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([1_000_000] * 3, pa.timestamp("us")),
            "user_id": pa.array([1, 1, 2], pa.int64()),
            "event_type": pa.array(["a", "b", "c"]),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(t, path)

    simple = PagedEventsStreamReader({"path": path, "chunks": "5"})
    bounds = simple._chunk_bounds()
    assert bounds == sorted(bounds)
    assert len(set(bounds)) == len(bounds)  # strictly increasing
    hi_ns = 1_000_000 * 1_000  # µs file → ns
    assert bounds[-1] == hi_ns + 1

    par = PagedEventsParallelStreamReader({"path": path, "chunks": "5"})
    seen = [par.initialOffset()["hwm_ns"]]
    for _ in range(8):
        seen.append(par.latestOffset()["hwm_ns"])
    assert seen == sorted(seen)  # never moves backwards
    assert seen[-1] == hi_ns + 1
