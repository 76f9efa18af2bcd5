"""One sync increment through the paged source and the bucketed sink:
the chunk rule of ``read_paged``, exact appended counts, the number of
Spark jobs a sync runs, and the blocks a sync leaves behind."""

from __future__ import annotations

import pathlib

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from conftest import SF_SMALL

from googleanalytics_etl_spark.etl import EXAMPLE_CONFIG, SyncPipeline
from googleanalytics_etl_spark.io import load
from googleanalytics_etl_spark.sources.paged import read_paged

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]

# Spark jobs in one sync of a one-row-group increment into a bucketed
# target, after the target's schema is known: touched buckets and
# watermark (1), the target's key broadcast (1), the anti-join count
# (1), and the bucket write's shuffle and file write (2).
JOBS_PER_SYNC = 5


def _log():
    """The fixture event log sorted by ts (ts stays TIMESTAMP(NANOS))."""
    t = pq.read_table(f"{SF_SMALL}/events.parquet")
    return t.take(pc.sort_indices(t, [("ts", "ascending"), ("event_id", "ascending")]))


def _write_increment(table, path: pathlib.Path, row_group_size=None) -> str:
    path.mkdir(parents=True)
    pq.write_table(table, path / "events.parquet", row_group_size=row_group_size)
    return str(path)


def _rows(df):
    return sorted(tuple(r) for r in df.select(*EVENT_COLS).collect())


@pytest.mark.parametrize(
    ("row_group_size", "chunks", "partitions"),
    [
        (None, None, 1),  # one row group: one task
        (400, None, 3),  # 3 row groups
        (100, None, 8),  # 10 row groups, capped at 8
        (100, 5, 5),  # an explicit chunk count stays exact
        (None, 6, 6),
    ],
)
def test_default_chunks_follow_row_groups(
    spark, tmp_path, row_group_size, chunks, partitions
):
    log = _log()
    sf = _write_increment(log, tmp_path / "inc", row_group_size)
    assert pq.read_metadata(f"{sf}/events.parquet").num_row_groups == (
        -(-log.num_rows // (row_group_size or log.num_rows))
    )
    paged = read_paged(spark, sf, chunks=chunks)
    assert paged.rdd.getNumPartitions() == partitions
    assert _rows(paged) == _rows(load(spark, sf, "events"))


def _key(row) -> tuple:
    # hit_id is a hash of (client_id, hit_ts in µs)
    return row["user_id"], row["ts"] // 1000


def _expected(offered, target_keys: set, hwm_us):
    """Rows a sync appends: those above the re-extract cutoff (1 hour
    below the high-water mark) whose key the target does not hold."""
    cutoff = None if hwm_us is None else hwm_us - 3_600_000_000
    return [
        r for r in offered
        if (cutoff is None or r["ts"] // 1000 > cutoff) and _key(r) not in target_keys
    ]


def _files(target) -> set[str]:
    return {str(p) for p in pathlib.Path(target).rglob("*.parquet")}


def test_sync_counts_new_overlapping_and_replayed_increments(spark, tmp_path):
    log = _log()
    ts_ns = pc.cast(log["ts"], "int64").to_pylist()
    users = log["user_id"].to_pylist()
    offered_all = [{"user_id": u, "ts": t} for u, t in zip(users, ts_ns)]

    target = tmp_path / "target"
    pipe = SyncPipeline(spark, EXAMPLE_CONFIG, str(target))
    held: set = set()
    hwm_us = None
    steps = [
        ("new", 0, 400),
        ("overlapping", 300, 700),
        ("new", 700, 1000),
        ("replay", 700, 1000),
    ]
    for name, lo, hi in steps:
        inc = _write_increment(log.slice(lo, hi - lo), tmp_path / f"inc_{name}_{lo}")
        want = _expected(offered_all[lo:hi], held, hwm_us)
        before = _files(target)
        assert pipe.sync(read_paged(spark, inc)) == len(want), name
        if name == "overlapping":  # the anti-join drops the re-sent rows
            assert 0 < len(want) < hi - lo
        if name == "replay":
            assert want == []
            assert _files(target) == before, "a replay must add no file"
        held |= {_key(r) for r in want}
        top = max(r["ts"] // 1000 for r in offered_all[lo:hi])
        hwm_us = top if hwm_us is None else max(hwm_us, top)
    assert pipe.target().count() == len(held)


def test_bucketed_sync_runs_a_bounded_number_of_jobs(spark, tmp_path):
    log = _log()
    incs = [
        _write_increment(log.slice(lo, 250), tmp_path / f"inc{lo}")
        for lo in (0, 250, 500)
    ]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # the target created by a first sync, and by a backfill
    for start in ("sync", "backfill"):
        pipe = SyncPipeline(spark, EXAMPLE_CONFIG, str(tmp_path / f"{start}_target"))
        getattr(pipe, start)(read_paged(spark, incs[0]))  # first load
        pipe.sync(read_paged(spark, incs[1]))  # reads the target's schema once
        group = f"sync-job-guard-{start}"
        sc.setJobGroup(group, "one sync", False)
        try:
            assert pipe.sync(read_paged(spark, incs[2])) > 0
        finally:
            sc._jsc.clearJobGroup()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        stages = [list(tracker.getJobInfo(j).stageIds) for j in jobs]
        assert len(jobs) <= JOBS_PER_SYNC, (
            f"one sync after a first {start} ran {len(jobs)} Spark jobs (stages "
            f"per job: {stages}); at most {JOBS_PER_SYNC} expected — a pass "
            "over the increment or the target came back"
        )


def test_syncs_leave_no_pinned_blocks(spark, tmp_path):
    sc = spark.sparkContext
    log = _log()
    pipe = SyncPipeline(spark, EXAMPLE_CONFIG, str(tmp_path / "target"))

    def pinned():
        return (
            set(sc._jsc.getPersistentRDDs().keySet()),
            len(sc._jsc.sc().getRDDStorageInfo()),
        )

    start = pinned()
    for i, lo in enumerate((0, 200, 400, 600, 400)):  # the last one replays
        sf = _write_increment(log.slice(lo, 200), tmp_path / f"inc{i}")
        pipe.sync(read_paged(spark, sf))
        assert pinned() == start, f"sync {i} left persisted or checkpointed RDDs"
