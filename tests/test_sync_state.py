"""SyncPipeline's run-scoped state (cached high-water mark, one sink per
target), the sink's per-core bucket writes, the concurrent report writes
and the incremental daily report across a cut just after midnight."""

from __future__ import annotations

import pathlib

import pytest
from conftest import SF_SMALL
from pyspark.sql import functions as F

from googleanalytics_etl_spark.etl import _UNREAD, EXAMPLE_CONFIG, SyncPipeline
from googleanalytics_etl_spark.io import load
from googleanalytics_etl_spark.reports import (
    build_daily_metrics,
    build_sessions,
    materialize_reports,
    update_daily_metrics,
)
from googleanalytics_etl_spark.sources.sinks import (
    SINK_BUCKETS,
    BucketedUpsertSink,
    upsert_append,
)


def _events(spark, rows):
    """An events-shaped source from (event_id, ts, user_id, type, value)."""
    return spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def _as_events(target):
    """A synced target back in the events shape the reports read."""
    return target.selectExpr(
        "source_event_id AS event_id", "hit_ts AS ts", "hit_type AS event_type",
        "metric_value AS value", "client_id AS user_id")


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def _bucket_files(target):
    out: dict[str, set[str]] = {}
    for p in pathlib.Path(target).rglob("*.parquet"):
        out.setdefault(p.parent.name, set()).add(p.name)
    return out


FIRST = [(1, "2024-01-01 08:00:00", 1, "view", 1.0),
         (2, "2024-01-01 10:00:00", 2, "click", 2.0),
         (3, "2024-01-01 12:00:00", 1, "purchase", 3.5)]
SECOND = [(4, "2024-01-01 13:00:00", 3, "view", 1.0),
          (5, "2024-01-02 07:00:00", 2, "view", 1.0),
          (6, "2024-01-02 10:00:00", 4, "purchase", 9.25)]
# below the HWM (10:00) but inside the 1-hour re-extract overlap
LATE = [(7, "2024-01-02 09:30:00", 5, "click", 0.5)]


def _counting_hwm(pipe, monkeypatch):
    calls = []
    read = pipe.high_water_mark

    def counted():
        calls.append(1)
        return read()

    monkeypatch.setattr(pipe, "high_water_mark", counted)
    return calls


def test_cached_hwm_matches_target_after_each_sync(spark, tmp_path):
    pipe = SyncPipeline(spark, EXAMPLE_CONFIG, str(tmp_path / "hits"))
    steps = [
        ("first load", FIRST, 3),
        ("append", FIRST + SECOND, 3),
        ("late row", LATE, 1),
        ("replay", FIRST + SECOND + LATE, 0),
    ]
    for name, rows, appended in steps:
        assert pipe.sync(_events(spark, rows)) == appended, name
        assert pipe._hwm is not _UNREAD, name
        assert pipe._hwm == pipe.high_water_mark(), name
    assert str(pipe._hwm) == "2024-01-02 10:00:00"
    assert pipe.target().count() == 7


def test_hwm_read_once_per_pipeline(spark, tmp_path, monkeypatch):
    pipe = SyncPipeline(spark, EXAMPLE_CONFIG, str(tmp_path / "hits"))
    calls = _counting_hwm(pipe, monkeypatch)
    for rows in (FIRST, SECOND, LATE, SECOND):
        pipe.sync(_events(spark, rows))
    assert len(calls) == 1


def test_backfill_then_sync_reprobes(spark, tmp_path, monkeypatch):
    target = tmp_path / "hits"
    pipe = SyncPipeline(spark, EXAMPLE_CONFIG, str(target))
    pipe.sync(_events(spark, FIRST))
    assert pipe._hwm is not _UNREAD
    assert pipe.backfill(_events(spark, FIRST + SECOND)) == 6
    assert pipe._hwm is _UNREAD and pipe._sink._state is None
    # backfill writes the layout syncs append to: one file per day
    files = _bucket_files(target)
    assert sorted(files) == ["wm_day=19723", "wm_day=19724"]  # 2024-01-01, -02
    assert all(len(f) == 1 for f in files.values())

    calls = _counting_hwm(pipe, monkeypatch)
    assert pipe.sync(_events(spark, SECOND + LATE)) == 1
    assert pipe.sync(_events(spark, FIRST + LATE)) == 0  # a replay
    assert len(calls) == 1  # the syncs after a backfill read the HWM once
    assert pipe._sink._state == "bucketed"
    assert pipe.target().count() == 7
    monkeypatch.undo()
    assert pipe._hwm == pipe.high_water_mark()

    # a reload from an empty source leaves no target, like a fresh one
    assert pipe.backfill(_events(spark, [])) == 0
    assert not target.exists() and pipe.high_water_mark() is None
    assert pipe.sync(_events(spark, FIRST)) == 3


def test_sync_rejects_hash_bucketed_target(spark, tmp_path):
    """A target in the ``bucket=K`` hash layout an older version wrote
    is not read as day partitions (that would prune to no directory and
    append every row again): a sync raises naming
    ``SyncPipeline.backfill`` and leaves its files as they were, and a
    backfill rewrites it by watermark day."""
    target = tmp_path / "hits"
    pipe = SyncPipeline(spark, EXAMPLE_CONFIG, str(target))
    old = BucketedUpsertSink(str(target), "hit_id", watermark_col="hit_ts")
    assert old.upsert(pipe.project(_events(spark, FIRST))) == 3
    before = _bucket_files(target)
    assert before and all(b.startswith("bucket=") for b in before)
    for rows in (SECOND, FIRST + SECOND):
        with pytest.raises(ValueError, match=r"SyncPipeline\.backfill"):
            pipe.sync(_events(spark, rows))
    assert _bucket_files(target) == before
    assert spark.read.parquet(str(target)).count() == 3

    assert pipe.backfill(_events(spark, FIRST + SECOND)) == 6
    assert sorted(_bucket_files(target)) == ["wm_day=19723", "wm_day=19724"]
    assert pipe.sync(_events(spark, SECOND + LATE)) == 1
    assert pipe.target().count() == 7


def test_failed_sync_drops_cached_state(spark, tmp_path, monkeypatch):
    pipe = SyncPipeline(spark, EXAMPLE_CONFIG, str(tmp_path / "hits"))
    pipe.sync(_events(spark, FIRST))

    def broken(incoming, count_appended=True):
        raise RuntimeError("write failed")

    monkeypatch.setattr(pipe._sink, "upsert", broken)
    with pytest.raises(RuntimeError, match="write failed"):
        pipe.sync(_events(spark, SECOND))
    assert pipe._hwm is _UNREAD and pipe._sink._state is None
    monkeypatch.undo()
    assert pipe.sync(_events(spark, FIRST + SECOND)) == 3
    assert pipe._hwm == pipe.high_water_mark()


def test_upsert_append_rejects_a_sink_for_another_target(spark, tmp_path):
    sink = BucketedUpsertSink(str(tmp_path / "a"), "event_id")
    ev = load(spark, SF_SMALL, "events").select("event_id", "user_id")
    with pytest.raises(ValueError, match="sink is for"):
        upsert_append(spark, ev, str(tmp_path / "b"), "event_id", sink=sink)


def test_per_core_write_keeps_one_file_per_touched_bucket(spark, tmp_path):
    """Fewer write tasks than buckets (one per core) still give every
    touched bucket exactly one new file per upsert."""
    cores = spark.sparkContext.defaultParallelism
    tgt = str(tmp_path / "t")
    sink = BucketedUpsertSink(tgt, "event_id", max(SINK_BUCKETS, 2 * cores))
    ev = load(spark, SF_SMALL, "events").select("event_id", "user_id", "value")
    assert upsert_append(spark, ev, tgt, "event_id", sink=sink) == ev.count()
    first = _bucket_files(tgt)
    assert len(first) > cores
    assert all(len(files) == 1 for files in first.values())

    # a one-key increment: one new file, in one bucket
    one = ev.limit(1).withColumn("event_id", F.lit(987_654_321).cast("bigint"))
    assert upsert_append(spark, one, tgt, "event_id", sink=sink) == 1
    after_one = _bucket_files(tgt)
    grown = {b: after_one[b] - first.get(b, set()) for b in after_one}
    assert sorted(len(f) for f in grown.values() if f) == [1]

    # a many-key increment: one new file in each touched bucket
    many = ev.limit(500).withColumn("event_id", F.col("event_id") + 10_000_000)
    assert upsert_append(spark, many, tgt, "event_id", sink=sink) == 500
    after_many = _bucket_files(tgt)
    grown = [after_many[b] - after_one.get(b, set()) for b in after_many]
    touched = [f for f in grown if f]
    assert len(touched) > cores
    assert all(len(f) == 1 for f in touched)


def test_materialize_reports_jobs_keep_callers_job_group(spark, tmp_path):
    e = load(spark, SF_SMALL, "events")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("reports-under-test", "materialize_reports", False)
    try:
        paths = materialize_reports(spark, e, str(tmp_path / "concurrent"))
    finally:
        sc._jsc.clearJobGroup()
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    assert len(tracker.getJobIdsForGroup("reports-under-test")) >= 2

    # the same tables as writing the two reports one after the other
    seq = tmp_path / "sequential"
    build_sessions(e).withColumn(
        "user_bucket", F.pmod(F.col("user_id"), F.lit(16))
    ).write.partitionBy("user_bucket").parquet(str(seq / "sessions"))
    build_daily_metrics(e).withColumn(
        "day_str", F.date_format("day", "yyyy-MM-dd")
    ).write.partitionBy("day_str").parquet(str(seq / "daily_metrics"))
    for name, order in (("sessions", ("user_id", "session_id")),
                        ("daily_metrics", ("day", "event_type"))):
        got = spark.read.parquet(paths[name])
        want = spark.read.parquet(str(seq / name))
        assert got.schema == want.schema
        assert _rows(got, *order) == _rows(want, *order)


def test_incremental_daily_metrics_after_cut_just_past_midnight(spark, tmp_path):
    """A sync cut at 00:30 loads day D; the next sync's re-extract
    overlap brings late rows for day D-1, which the incremental report
    must recompute (regression: it recomputed only days >= D)."""
    pipe = SyncPipeline(spark, EXAMPLE_CONFIG, str(tmp_path / "hits"))
    report = str(tmp_path / "daily")
    early = [(1, "2024-01-04 10:00:00", 1, "view", 1.0),
             (2, "2024-01-04 23:40:00", 2, "view", 2.0),
             (3, "2024-01-05 00:20:00", 3, "click", 4.0)]
    # held back from the first increment: D-1 rows within the overlap
    late = [(4, "2024-01-04 23:50:00", 4, "view", 8.0),
            (5, "2024-01-04 23:55:00", 2, "purchase", 16.0)]
    later = [(6, "2024-01-05 09:00:00", 1, "view", 32.0),
             (7, "2024-01-06 00:10:00", 5, "click", 64.0)]
    for rows, appended in ((early, 3), (early + late + later, 4)):
        assert pipe.sync(_events(spark, rows)) == appended
        update_daily_metrics(spark, _as_events(pipe.target()), report)

    got = spark.read.parquet(report).drop("day_str")
    want = build_daily_metrics(_as_events(pipe.target()))
    assert _rows(got, "day", "event_type") == _rows(want, "day", "event_type")
