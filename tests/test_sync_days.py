"""The SyncPipeline target laid out by watermark day (``wm_day=D``): a
sync's anti-join reads only the days its increment touches, late rows
land in the day they belong to, replays and null watermarks never
duplicate, and a key that does not fix the watermark is refused."""

from __future__ import annotations

import copy
import pathlib
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import googleanalytics_etl_spark.sources.sinks as sinks
from googleanalytics_etl_spark.etl import EXAMPLE_CONFIG, SyncPipeline

D1 = 19723  # 2024-01-01 as days since 1970-01-01


def _events(spark, rows):
    """An events-shaped source from (event_id, ts, user_id, type, value)."""
    return spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def _day_files(target) -> dict[str, set[str]]:
    out: dict[str, set[str]] = {}
    for p in pathlib.Path(target).rglob("*.parquet"):
        out.setdefault(p.parent.name, set()).add(str(p))
    return out


def _event_ids(files) -> list[int]:
    return sorted(i for f in files for i in pq.read_table(f)["source_event_id"].to_pylist())


def _scanned_dirs(df) -> set[str]:
    """The partition directories the file scans in ``df``'s executed
    plan read, after partition pruning."""
    dirs, stack = set(), [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif name == "FileSourceScanExec":
            parts = node.relation().location().listFiles(
                node.partitionFilters(), node.dataFilters()
            )
            for i in range(parts.size()):
                files = parts.apply(i).files()
                for j in range(files.size()):
                    dirs.add(files.apply(j).getPath().getParent().getName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return dirs


def _day_rows(day: int, first_id: int, hours=(10, 12, 14)):
    date = f"2024-01-{day:02d}"
    return [(first_id + i, f"{date} {h:02d}:00:00", first_id + i, "view", 1.0)
            for i, h in enumerate(hours)]


def test_sixth_sync_scans_only_its_touched_days(spark, tmp_path, monkeypatch):
    target = tmp_path / "hits"
    pipe = SyncPipeline(spark, EXAMPLE_CONFIG, str(target))
    for day in range(1, 6):  # five syncs, one day each
        assert pipe.sync(_events(spark, _day_rows(day, day * 100))) == 3
    assert sorted(_day_files(target)) == [f"wm_day={D1 + d}" for d in range(5)]

    # day 5's late rows (inside the 1-hour overlap) and day 6
    late = [(590, "2024-01-05 13:30:00", 590, "click", 2.0)]
    captured = []
    real = sinks._pinned

    def spy(df):
        captured.append(df)
        return real(df)

    monkeypatch.setattr(sinks, "_pinned", spy)
    assert pipe.sync(_events(spark, late + _day_rows(6, 600))) == 4
    monkeypatch.undo()
    anti = captured[1]  # [0] the increment, [1] the anti-join it counts
    assert _scanned_dirs(anti) == {f"wm_day={D1 + 4}"}
    plan = anti._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*wm_day", plan), plan

    files = _day_files(target)
    assert sorted(files) == [f"wm_day={D1 + d}" for d in range(6)]
    assert len(files[f"wm_day={D1 + 4}"]) == 2  # one file per sync that touched it
    assert pipe.target().count() == 19


def test_overlap_across_midnight_appends_late_rows_to_the_previous_day(spark, tmp_path):
    target = tmp_path / "hits"
    pipe = SyncPipeline(spark, EXAMPLE_CONFIG, str(target))
    first = [(1, "2024-01-01 22:00:00", 1, "view", 1.0),
             (2, "2024-01-02 00:20:00", 2, "view", 1.0)]  # HWM: 00:20
    assert pipe.sync(_events(spark, first)) == 2
    before = _day_files(target)

    late = [(3, "2024-01-01 23:10:00", 3, "view", 1.0),  # below the cutoff
            (4, "2024-01-01 23:30:00", 4, "view", 1.0),
            (5, "2024-01-01 23:50:00", 5, "click", 1.0)]
    new = [(6, "2024-01-02 01:00:00", 6, "view", 1.0)]
    assert pipe.sync(_events(spark, first + late + new)) == 3
    after = _day_files(target)
    prev, cur = f"wm_day={D1}", f"wm_day={D1 + 1}"
    assert sorted(after) == [prev, cur]
    assert _event_ids(after[prev] - before[prev]) == [4, 5]
    assert _event_ids(after[cur] - before[cur]) == [6]
    assert _event_ids(after[prev]) == [1, 4, 5]

    # a replay appends nothing and adds no file
    assert pipe.sync(_events(spark, first + late + new)) == 0
    assert _day_files(target) == after
    fresh = SyncPipeline(spark, EXAMPLE_CONFIG, str(target))  # HWM read from disk
    assert str(fresh.high_water_mark()) == "2024-01-02 01:00:00"
    assert fresh.sync(_events(spark, first + late + new)) == 0
    assert _day_files(target) == after


def test_null_watermark_row_is_written_once(spark, tmp_path):
    rows = [(1, "2024-01-01 10:00:00", 1, "view", 1.0),
            (2, None, 2, "view", 1.0)]
    pipe = SyncPipeline(spark, EXAMPLE_CONFIG, str(tmp_path / "mixed"))
    assert pipe.sync(_events(spark, rows)) == 2
    assert pipe.sync(_events(spark, rows)) == 0
    assert SyncPipeline(spark, EXAMPLE_CONFIG, str(tmp_path / "mixed")).sync(
        _events(spark, rows)) == 0
    assert pipe.target().where("hit_ts IS NULL").count() == 1

    # a first load of null watermarks only: no high-water mark, so every
    # later sync offers the row again, and the anti-join must read the
    # null day to drop it
    target = tmp_path / "nulls"
    pipe = SyncPipeline(spark, EXAMPLE_CONFIG, str(target))
    assert pipe.sync(_events(spark, rows[1:])) == 1
    assert sorted(_day_files(target)) == ["wm_day=__HIVE_DEFAULT_PARTITION__"]
    assert pipe.high_water_mark() is None
    assert pipe.sync(_events(spark, rows[1:])) == 0
    assert pipe.sync(_events(spark, rows)) == 1
    assert pipe.sync(_events(spark, rows)) == 0
    assert pipe.target().count() == 2
    assert pipe.target().where("hit_ts IS NULL").count() == 1


def _config(**changes) -> dict:
    config = copy.deepcopy(EXAMPLE_CONFIG)
    config.update(changes)
    return config


@pytest.mark.parametrize(
    "config",
    [
        _config(key="source_event_id"),
        _config(derived={"hit_id": "sha2(cast(client_id as string), 256)"}),
        _config(derived={"uid": "client_id * 2", "hit_id": "uid + 1"}),
    ],
    ids=["renamed_column", "derived_without_watermark", "through_derived_column"],
)
def test_key_not_computed_from_watermark_is_refused(spark, tmp_path, config):
    with pytest.raises(ValueError, match="not computed from the watermark column 'hit_ts'"):
        SyncPipeline(spark, config, str(tmp_path / "hits"))
    assert not (tmp_path / "hits").exists()


def test_key_computed_from_watermark_through_derived_column_is_accepted(spark, tmp_path):
    config = _config(derived={
        "us": "unix_micros(cast(HIT_TS as timestamp))",
        "hit_id": "sha2(concat_ws('|', client_id, us), 256)",
    })
    pipe = SyncPipeline(spark, config, str(tmp_path / "hits"))
    assert pipe.sync(_events(spark, _day_rows(1, 1))) == 3
