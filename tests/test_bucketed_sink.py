"""Unit tests for BucketedUpsertSink (the run-scoped, metadata-caching
upsert sink behind s_paged_sync) and the parallel paged stream reader.
"""

from __future__ import annotations

import pathlib

import pytest
from conftest import SF_SMALL

from googleanalytics_etl_spark.io import load
from googleanalytics_etl_spark.sources.sinks import (
    BucketedUpsertSink,
    upsert_append,
)


def _files(target):
    return {str(p) for p in pathlib.Path(target).rglob("*.parquet")}


def test_sink_counted_and_uncounted_paths_agree(spark, tmp_path):
    ev = load(spark, SF_SMALL, "events").select("event_id", "user_id")
    half = ev.where("event_id % 2 = 0")

    a = tmp_path / "counted"
    sink_a = BucketedUpsertSink(str(a), "event_id")
    n1 = sink_a.upsert(half, count_appended=True)
    n2 = sink_a.upsert(ev, count_appended=True)
    assert n1 == half.count()
    assert n2 == ev.count() - half.count()

    b = tmp_path / "uncounted"
    sink_b = BucketedUpsertSink(str(b), "event_id")
    assert sink_b.upsert(half, count_appended=False) is None
    assert sink_b.upsert(ev, count_appended=False) is None

    rows = lambda p: sorted(  # noqa: E731
        (r["event_id"], r["user_id"])
        for r in spark.read.parquet(str(p)).collect()
    )
    assert rows(a) == rows(b)


def test_sink_replay_touches_zero_files(spark, tmp_path):
    ev = load(spark, SF_SMALL, "events").select("event_id", "user_id")
    t = tmp_path / "t"
    sink = BucketedUpsertSink(str(t), "event_id")
    sink.upsert(ev, count_appended=False)
    before = _files(t)
    # replay through BOTH the cached sink and a fresh stateless call
    assert sink.upsert(ev, count_appended=True) == 0
    assert upsert_append(spark, ev, str(t), "event_id") == 0
    assert _files(t) == before


def test_sink_rejects_unbucketed_target(spark, tmp_path):
    """An existing target without ``bucket=K`` dirs is refused with an
    error naming the way to rewrite it, and is left as it was."""
    ev = load(spark, SF_SMALL, "events").select("event_id", "user_id")
    t = tmp_path / "flat"
    ev.where("event_id < 100").write.parquet(str(t))  # no bucket layout
    before = _files(t)
    for counted in (True, False):
        with pytest.raises(ValueError, match="backfill"):
            BucketedUpsertSink(str(t), "event_id").upsert(ev, count_appended=counted)
    with pytest.raises(ValueError, match="backfill"):
        upsert_append(spark, ev, str(t), "event_id")
    assert _files(t) == before
    assert spark.read.parquet(str(t)).count() == 100


def test_sink_empty_uncounted_first_write_leaves_no_target(spark, tmp_path):
    """An uncounted first write of no rows leaves no target (Spark would
    leave only ``_SUCCESS``), so the next upsert is a first write too."""
    t = tmp_path / "t"
    sink = BucketedUpsertSink(str(t), "id")
    assert sink.upsert(spark.range(0), count_appended=False) is None
    assert not t.exists() and sink._state == "empty"
    assert sink.upsert(spark.range(5), count_appended=False) is None
    assert sorted(r.id for r in spark.read.parquet(str(t)).collect()) == list(range(5))
    assert upsert_append(spark, spark.range(7), str(t), "id") == 2


def test_parallel_stream_reader_matches_simple(spark, tmp_path):
    from googleanalytics_etl_spark.sources.paged import read_paged_stream

    got = {}
    for par in (False, True):
        acc = []
        q = (
            read_paged_stream(spark, SF_SMALL, chunks=4, parallel=par)
            .writeStream.foreachBatch(
                lambda b, e, acc=acc: acc.extend(
                    (r["event_id"], r["user_id"]) for r in b.collect()
                )
            )
            .option(
                "checkpointLocation",
                str(tmp_path / f"ckpt_{par}"),
            )
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got[par] = sorted(acc)
    assert got[True] == got[False]
    assert len(got[True]) == load(spark, SF_SMALL, "events").count()
