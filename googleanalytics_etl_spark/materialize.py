"""Cluster-safe materialization switch for the engine's eager stages.

Every shared/looped stage in this engine is materialized with
``DataFrame.materialize(eager=True)``: it cuts lineage (killing the
re-planned-scan and plan-explosion pathologies documented in round 12)
and keeps the blocks in the local block manager — the right call in
single-JVM local mode and the fastest at fixture scale. The caveat
(guide §5, round-12 verdict item: "localCheckpoint is not failure-safe
at cluster scale"): the blocks are NOT replicated and the lineage IS
truncated, so on a real cluster an executor loss makes a materialized
stage unrecoverable mid-query.

``SPARK_GRAFT_RELIABLE_CKPT=1`` (read per call, so a long-lived driver
can flip it) routes every such materialization through reliable
``DataFrame.checkpoint()`` instead, writing to the context's checkpoint
dir — ``$SPARK_GRAFT_CKPT_DIR`` or ``.scratch/reliable_ckpt`` by default;
a cluster deployment points it at HDFS/object storage. ``get_spark`` sets
``spark.cleaner.referenceTracking.cleanCheckpoints``, so a reliable
checkpoint's files are deleted once its frame is garbage-collected: a
looped key's superseded rounds do not pile up there (pinned by
tests/test_materialize.py). The materialized
frames are all metadata-grain (bounded pair lists, signature slices,
<= pool² rows — SCALE.md "Materialized-stage bounds"), so the write cost
is bounded; correctness of both paths is pinned by
tests/test_materialize.py (hash equality on a looped key and an
unrolled-recursion key).

Exposed as ``DataFrame.materialize`` so call sites stay postfix, exactly
like the ``localCheckpoint`` they replace.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame

_SCRATCH = Path(__file__).resolve().parents[1] / ".scratch"


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Eagerly materialize ``df``: localCheckpoint by default, reliable
    checkpoint when ``SPARK_GRAFT_RELIABLE_CKPT=1``."""
    if os.environ.get("SPARK_GRAFT_RELIABLE_CKPT", "0") == "1":
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(
                os.environ.get(
                    "SPARK_GRAFT_CKPT_DIR", str(_SCRATCH / "reliable_ckpt")
                )
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


# postfix form, mirroring the localCheckpoint call sites it replaces
DataFrame.materialize = materialize
