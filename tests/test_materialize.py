"""Cluster-safe materialization switch (SPARK_GRAFT_RELIABLE_CKPT).

Both materialization paths — block-manager localCheckpoint (default) and
reliable checkpoint() (cluster mode) — must produce identical results.
Pinned on one looped key (x_cc_sizes: iterative label propagation whose
every round is materialized) and one unrolled-recursion key
(x_mmr_rerank: per-pick materialization), per the round-12 verdict."""

from __future__ import annotations

import os

import pytest
from conftest import SF_SMALL

from googleanalytics_etl_spark.registry import queries


def _rows(spark, key):
    df = queries()[key](spark, SF_SMALL)
    cols = sorted(df.columns)
    return sorted(
        tuple(str(r[c]) for c in cols) for r in df.collect()
    )


@pytest.mark.parametrize("key", ["x_cc_sizes", "x_mmr_rerank"])
def test_reliable_ckpt_path_matches_default(spark, key):
    assert os.environ.get("SPARK_GRAFT_RELIABLE_CKPT", "0") != "1"
    base = _rows(spark, key)
    os.environ["SPARK_GRAFT_RELIABLE_CKPT"] = "1"
    try:
        reliable = _rows(spark, key)
    finally:
        del os.environ["SPARK_GRAFT_RELIABLE_CKPT"]
    assert reliable == base


def test_materialize_method_installed(spark):
    from pyspark.sql import DataFrame

    assert hasattr(DataFrame, "materialize")
    df = spark.range(3).materialize(eager=True)
    assert df.count() == 3


def _rdd_dirs(spark) -> set[str]:
    """Reliable-checkpoint RDD directories under the context's dir."""
    ckdir = spark.sparkContext._jsc.sc().getCheckpointDir().get()
    root = ckdir.removeprefix("file:")
    return {e for e in os.listdir(root) if e.startswith("rdd-")}


def _settle(spark, timeout_s: float = 20.0) -> set[str]:
    """Drop every unreferenced frame on both sides of Py4J and let the
    ContextCleaner delete their checkpoints; return what is left once
    the directory stops shrinking."""
    import gc
    import time

    left, stable, deadline = None, 0, time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.25)
        now = _rdd_dirs(spark)
        stable = stable + 1 if now == left else 0
        left = now
        if not left or stable >= 3:
            break
    return left


def test_reliable_ckpt_dir_does_not_grow(spark, monkeypatch):
    """A looped key run twice on the reliable path leaves no more
    checkpoint directories behind than one run does: the cleaner deletes
    each round's checkpoint once its frame is unreferenced. Without
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` every round's
    directory stays and the count doubles."""
    assert (
        spark.sparkContext.getConf().get(
            "spark.cleaner.referenceTracking.cleanCheckpoints"
        )
        == "true"
    )
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CKPT", "1")
    _rows(spark, "x_cc_sizes")
    written = _rdd_dirs(spark)
    after_one = _settle(spark)
    _rows(spark, "x_cc_sizes")
    after_two = _settle(spark)
    # the key did checkpoint, once per label-propagation round
    assert len(written) >= 2
    assert len(after_two) <= len(after_one)
