"""Unit tests for the atomic staging helper (ADVICE.md round 8: the
check-then-rmtree-then-mkdir recipe raced under parallel pytest workers)
and the tightened JDBC table-absence matcher."""

from __future__ import annotations

from pathlib import Path

import pytest

from googleanalytics_etl_spark.scratch import stage_atomic


def _target(tmp_path: Path) -> Path:
    return tmp_path / "stage" / "fixture_abc123"


def test_stage_atomic_builds_and_marks(tmp_path):
    target = _target(tmp_path)
    calls = []

    def build(tmp: Path) -> None:
        calls.append(tmp)
        (tmp / "data.txt").write_text("payload")
        # builder works in a temp sibling, never the target itself
        assert tmp != target and tmp.parent == target.parent

    out = stage_atomic(target, build)
    assert out == target
    assert (target / "_STAGED").exists()
    assert (target / "data.txt").read_text() == "payload"
    assert len(calls) == 1
    # no temp-dir litter left beside the published stage
    leftovers = [p for p in target.parent.iterdir() if p != target]
    assert leftovers == []


def test_stage_atomic_cached_second_call_skips_build(tmp_path):
    target = _target(tmp_path)
    calls = []

    def build(tmp: Path) -> None:
        calls.append(tmp)
        (tmp / "data.txt").write_text("payload")

    stage_atomic(target, build)
    stage_atomic(target, build)
    assert len(calls) == 1


def test_stage_atomic_loser_uses_winners_stage(tmp_path):
    # simulate another invocation winning the race DURING our build:
    # the published target appears before our rename; we must adopt it
    # and discard our temp dir
    target = _target(tmp_path)

    def build(tmp: Path) -> None:
        (tmp / "data.txt").write_text("loser")
        target.mkdir(parents=True)
        (target / "data.txt").write_text("winner")
        (target / "_STAGED").touch()

    out = stage_atomic(target, build)
    assert out == target
    assert (target / "data.txt").read_text() == "winner"
    leftovers = [p for p in target.parent.iterdir() if p != target]
    assert leftovers == []


def test_stage_atomic_sweeps_stale_unmarked_target(tmp_path):
    # a crashed prior run left a half-staged target without _STAGED:
    # it must be swept aside and replaced, not trusted and not fatal
    target = _target(tmp_path)
    target.mkdir(parents=True)
    (target / "partial.txt").write_text("stale")

    def build(tmp: Path) -> None:
        (tmp / "data.txt").write_text("fresh")

    out = stage_atomic(target, build)
    assert out == target
    assert (target / "_STAGED").exists()
    assert (target / "data.txt").read_text() == "fresh"
    assert not (target / "partial.txt").exists()


class _FakeJdbc:
    """Exercise JdbcSyncPipeline._exists's matcher without a database."""

    def __init__(self, exc: Exception):
        self._exc = exc

    def _read(self, dbtable):
        raise self._exc

    # borrow the real implementation
    from googleanalytics_etl_spark.etl import JdbcSyncPipeline as _P

    _exists = _P._exists
    table = "hits"


@pytest.mark.parametrize(
    "msg",
    [
        "ERROR 42X05: Table/View 'HITS' does not exist.",
        "Table 'analytics.hits' not found",
        "view `hits` does not exist",
    ],
)
def test_exists_table_scoped_absence_is_false(msg):
    assert _FakeJdbc(RuntimeError(msg))._exists() is False


@pytest.mark.parametrize(
    "msg",
    [
        "ERROR XJ004: Database 'warehouse' does not exist.",
        "Schema 'APP' does not exist",
        "connection refused: host does not exist in DNS",
    ],
)
def test_exists_non_table_absence_reraises(msg):
    # database/schema/connection failures must raise — mapping them to
    # "table absent" would silently restart the sync from zero
    with pytest.raises(RuntimeError):
        _FakeJdbc(RuntimeError(msg))._exists()
