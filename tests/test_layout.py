"""Data-layout tests: clustered writes enable row-group skipping,
compaction resizes fragmented outputs, tolerant ingest quarantines
malformed rows. These verify the WRITE side of scan efficiency — the
plan tests assert pushdown; these assert there is something for
pushdown to skip."""

from __future__ import annotations

import glob
import json

import pyarrow.parquet as pq
import pytest
from conftest import SF_SMALL

from googleanalytics_etl_spark.io import load
from googleanalytics_etl_spark.sources import (
    cluster_write,
    compact_parquet,
    read_json_tolerant,
)


@pytest.fixture(scope="module")
def scratch_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("test_layout")


def _file_key_spans(path: str, col: str) -> list[tuple[int, int]]:
    """(min, max) of ``col`` per parquet data file, from row-group stats
    only — no data read."""
    spans = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index(col)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            assert st is not None and st.has_min_max, "stats missing"
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    return spans


def test_cluster_write_separates_key_ranges(spark, scratch_dir):
    """Range-clustered files must cover pairwise-disjoint user_id spans:
    a selective predicate can then skip every file but one on metadata
    alone. An unclustered write of the same data shows near-total span
    overlap — the contrast IS the point of the layout."""
    e = load(spark, SF_SMALL, "events")
    tgt = str(scratch_dir / "clustered")
    cluster_write(e, tgt, ["user_id"], n_files=4)

    spans = _file_key_spans(tgt, "user_id")
    assert len(spans) == 4
    spans.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(spans, spans[1:]):
        assert hi_a <= lo_b, f"overlapping file spans {spans}"

    # control: default layout (hash of input splits) does NOT separate
    plain = str(scratch_dir / "plain")
    e.repartition(4).write.mode("overwrite").parquet(plain)
    pspans = _file_key_spans(plain, "user_id")
    pspans.sort()
    overlaps = sum(
        1 for (a, b), (c, d) in zip(pspans, pspans[1:]) if b > c
    )
    assert overlaps > 0, "control unexpectedly clustered"

    # round-trip fidelity
    assert spark.read.parquet(tgt).count() == e.count()


def test_cluster_write_row_groups_sorted_within_file(spark, scratch_dir):
    """sortWithinPartitions must hold inside files too: successive row
    groups of one file carry non-overlapping, ascending key spans."""
    tgt = str(scratch_dir / "clustered")  # written by the previous test
    for f in sorted(glob.glob(f"{tgt}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index("user_id")
        prev_max = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if prev_max is not None:
                assert st.min >= prev_max, f"unsorted row groups in {f}"
            prev_max = st.max


def test_compact_parquet_resizes(spark, scratch_dir):
    """64 fragment files → size-targeted few files, rows preserved."""
    e = load(spark, SF_SMALL, "events")
    frag = str(scratch_dir / "fragmented")
    e.repartition(64).write.mode("overwrite").parquet(frag)
    assert len(glob.glob(f"{frag}/part-*.parquet")) == 64

    dst = str(scratch_dir / "compacted")
    n = compact_parquet(spark, frag, dst, target_mb=1)
    files = glob.glob(f"{dst}/part-*.parquet")
    assert len(files) == n
    assert n < 64
    assert spark.read.parquet(dst).count() == e.count()


def test_read_json_tolerant_quarantines(spark, scratch_dir):
    """Malformed lines land in quarantine with their raw text; good rows
    parse completely; nothing is silently dropped."""
    feed = scratch_dir / "feed.jsonl"
    good = [
        {"event_id": i, "ts": "2024-01-01T00:00:00", "user_id": i,
         "event_type": "view", "value": 1.5, "props": "{}"}
        for i in range(5)
    ]
    lines = [json.dumps(g) for g in good]
    lines.insert(2, '{"event_id": 99, "ts": "not-a-timestamp literal"')  # truncated
    lines.insert(4, "not json at all")
    feed.write_text("\n".join(lines) + "\n")

    schema = (
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string"
    )
    ok, bad = read_json_tolerant(spark, str(feed), schema)
    assert ok.count() == 5
    assert ok.where("event_id IS NULL").count() == 0
    bad_rows = [r[0] for r in bad.collect()]
    assert len(bad_rows) == 2
    assert "not json at all" in bad_rows


def test_dynamic_partition_overwrite_touches_only_written_days(spark, tmp_path):
    """Dynamic partition overwrite (partitionOverwriteMode=dynamic): a
    rewrite of ONE day replaces exactly that day's directory; every
    other partition's files stay byte-identical — the reference's
    re-extract-a-trailing-window write pattern without a full truncate."""
    import hashlib
    from pathlib import Path

    from pyspark.sql import functions as F

    from googleanalytics_etl_spark.io import load

    target = str(tmp_path / "days")
    e = load(spark, SF_SMALL, "events").withColumn("day", F.to_date("ts"))
    e.write.partitionBy("day").parquet(target)

    def digest() -> dict:
        out = {}
        for p in sorted(Path(target).rglob("*.parquet")):
            out[str(p.relative_to(target))] = hashlib.md5(
                p.read_bytes()
            ).hexdigest()
        return out

    before = digest()
    days = sorted(r["day"] for r in e.select("day").distinct().collect())
    redo = days[len(days) // 2]

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            e.where(F.col("day") == F.lit(redo))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(target)
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    after = digest()
    redo_dir = f"day={redo}"
    untouched_before = {k: v for k, v in before.items() if not k.startswith(redo_dir)}
    untouched_after = {k: v for k, v in after.items() if not k.startswith(redo_dir)}
    assert untouched_before == untouched_after  # byte-identical survivors
    # the rewritten day exists and the table still reads complete
    assert any(k.startswith(redo_dir) for k in after)
    assert spark.read.parquet(target).count() == e.count()
