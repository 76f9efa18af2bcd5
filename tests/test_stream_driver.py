"""The one stream driver (``ops/streaming.py`` ``run_foreach_batch``).

Pins the lifecycle every streaming key shares: one ``fold`` call per
staged chunk in epoch order, shuffle partitions bounded for the run and
restored after it, the query stopped and its checkpoint removed on
success AND on a failing trigger. A source lint keeps the lifecycle in
that one place.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

from googleanalytics_etl_spark.ops import streaming
from googleanalytics_etl_spark.ops.streaming import (
    STREAM_STATE_PARTS,
    run_foreach_batch,
    write_chunks_pinned,
)

PKG = Path(__file__).resolve().parents[1] / "googleanalytics_etl_spark"
PARTS = "spark.sql.shuffle.partitions"


def _chunk_stream(spark, tmp_path: Path, n: int = 4):
    src = tmp_path / "in"
    write_chunks_pinned(src, [spark.range(5 * i, 5 * i + 5) for i in range(n)])
    return (
        spark.readStream.schema("id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


def test_fold_runs_once_per_chunk_and_checkpoint_is_removed(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(streaming, "SCRATCH", tmp_path / "scratch")
    ckpt_root = tmp_path / "scratch" / "ckpt"
    seen, ckpts = [], set()

    def fold(batch_df, epoch_id):
        seen.append((epoch_id, sorted(r.id for r in batch_df.collect())))
        ckpts.update(ckpt_root.iterdir())
        assert spark.conf.get(PARTS) == str(STREAM_STATE_PARTS)

    run_foreach_batch(_chunk_stream(spark, tmp_path), fold)

    assert [e for e, _ in seen] == [0, 1, 2, 3]
    assert [ids for _, ids in seen] == [
        list(range(5 * i, 5 * i + 5)) for i in range(4)
    ]
    assert len(ckpts) == 1  # one fresh checkpoint for the whole run
    assert list(ckpt_root.iterdir()) == []
    assert spark.streams.active == []


def test_failing_fold_propagates_and_cleans_up(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(streaming, "SCRATCH", tmp_path / "scratch")
    ckpt_root = tmp_path / "scratch" / "ckpt"
    prev = spark.conf.get(PARTS)
    spark.conf.set(PARTS, "7")
    ckpts = set()

    def fold(batch_df, epoch_id):
        ckpts.update(ckpt_root.iterdir())
        raise RuntimeError(f"boom at epoch {epoch_id}")

    try:
        with pytest.raises(Exception, match="boom at epoch 0"):
            run_foreach_batch(_chunk_stream(spark, tmp_path), fold)
        assert spark.conf.get(PARTS) == "7"
    finally:
        spark.conf.set(PARTS, prev)
    assert spark.streams.active == []
    assert len(ckpts) == 1
    assert list(ckpt_root.iterdir()) == []


_LIFECYCLE = re.compile(r"\.foreachBatch\(|processAllAvailable\(|checkpointLocation")
_HELPER = ("_drive", "run_foreach_batch")


def _helper_lines() -> set[int]:
    tree = ast.parse((PKG / "ops" / "streaming.py").read_text())
    return {
        line
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name in _HELPER
        for line in range(node.lineno, node.end_lineno + 1)
    }


def test_no_stream_lifecycle_outside_the_driver():
    """A new streaming key goes through ``run_foreach_batch`` (or
    ``_run_to_memory``); a hand-written start/processAllAvailable/stop
    sequence with its own checkpoint fails here with its location."""
    allowed = _helper_lines()
    driver = PKG / "ops" / "streaming.py"
    hits = [
        f"{path.relative_to(PKG.parent)}:{no}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if _LIFECYCLE.search(line) and not (path == driver and no in allowed)
    ]
    assert not hits, "stream lifecycle outside run_foreach_batch:\n" + "\n".join(
        hits
    )
