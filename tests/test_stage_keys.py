"""Stages are keyed on the source file, not on its directory's name.

Two fixtures in directories that share a basename must each read their
own staged copy: a stage keyed on the basename alone hands the second
fixture the first one's rows. A stage of a superseded source version
is removed once it has gone unused for the sweep grace.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
from conftest import SF_SMALL

from googleanalytics_etl_spark import TABLES, scratch
from googleanalytics_etl_spark.oracle import register_views
from googleanalytics_etl_spark.registry import oracle_sql, queries
from googleanalytics_etl_spark.scratch import SCRATCH

_TWIN = "sf_twin"
_KEYS = {"q_scan_text": "text_events", "q_scan_orc": "orc_supplier"}


def _copy_fixture(dst) -> str:
    dst.mkdir(parents=True)
    for t in TABLES:
        shutil.copy(f"{SF_SMALL}/{t}.parquet", dst / f"{t}.parquet")
    return str(dst)


def _rewrite(sf_dir: str, table: str, changes: dict) -> None:
    path = f"{sf_dir}/{table}.parquet"
    t = pq.read_table(path)
    for col, fn in changes.items():
        t = t.set_column(t.schema.get_field_index(col), col, fn(t[col]))
    pq.write_table(t, path)


def test_same_basename_fixtures_read_their_own_stage(spark, tmp_path):
    first = _copy_fixture(tmp_path / "a" / _TWIN)
    second = _copy_fixture(tmp_path / "b" / _TWIN)
    _rewrite(second, "events", {
        "user_id": lambda c: pc.add(c, 1000),
        "value": lambda c: pc.add(c, 1.25),
    })
    _rewrite(second, "supplier", {
        "s_name": pc.utf8_upper,
        "s_acctbal": lambda c: pc.add(c, 1.0),
    })
    try:
        got = {}
        for sf_dir in (first, second):
            con = duckdb.connect()
            try:
                register_views(con, sf_dir)
                for key in _KEYS:
                    rows = sorted(tuple(r) for r in queries()[key](spark, sf_dir).collect())
                    want = sorted(con.execute(oracle_sql()[key]).fetchall())
                    assert rows == want, f"{key} on {sf_dir} read another fixture's stage"
                    got[key, sf_dir] = rows
            finally:
                con.close()
        for key in _KEYS:  # the rewrite changed every row both keys read
            assert got[key, first] != got[key, second]
    finally:
        for kind in _KEYS.values():
            for stage in (SCRATCH / kind).glob(f"{_TWIN}_*"):
                shutil.rmtree(stage, ignore_errors=True)


def test_stage_removes_superseded_siblings(tmp_path, monkeypatch):
    """A stage rebuilt from a new version of its source removes the old
    version's stage once that has gone unused for the sweep grace."""
    monkeypatch.setattr(scratch, "SCRATCH", tmp_path / "scratch")
    sf_dir = tmp_path / "sf_sweep"
    sf_dir.mkdir()
    src = sf_dir / "nation.parquet"
    shutil.copy(f"{SF_SMALL}/nation.parquet", src)

    def build(tmp):
        shutil.copy(src, tmp / "nation.parquet")

    first = scratch.stage("sweep", str(sf_dir), "nation", build)
    pq.write_table(pq.read_table(src).slice(0, 5), src)  # the source's second version
    second = scratch.stage("sweep", str(sf_dir), "nation", build)
    assert second != first
    assert first.exists(), "a sibling inside the grace was swept"

    aged = time.time() - scratch.SWEEP_GRACE_S - 60
    os.utime(first, (aged, aged))
    assert scratch.stage("sweep", str(sf_dir), "nation", build) == second
    assert sorted(second.parent.iterdir()) == [second]
