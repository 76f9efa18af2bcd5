"""Round-12 tests: banded (equi-key-free) range join scale path.

Pins:
- the plan contains NO nested-loop/cartesian operator — the band key
  turns the pure interval predicate into an equi-join (the whole point
  of the key; the oracle only certifies values, not the plan shape);
- band-boundary pairs are not lost: a synthetic corpus with pairs that
  straddle a band edge in BOTH directions matches brute force, so the
  ±1 replication is exact, not approximate;
- full value certification vs DuckDB rides test_oracle.py's
  parametrized differential harness like every other oracled key.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from googleanalytics_etl_spark.ops.round12 import (
    _RANGE_BAND_W,
    _RANGE_RADIUS,
    _band_expand,
    q_join_range_banded,
)

from conftest import SF_SMALL


def test_banded_range_join_plan_has_no_nested_loop(spark):
    df = q_join_range_banded(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the band equi-join must be a hash or sort-merge join
    assert any(
        op in plan
        for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )


def test_band_width_exceeds_radius():
    # the exactness proof (pairs span at most adjacent bands) needs this
    assert _RANGE_BAND_W > _RANGE_RADIUS


def test_band_expand_replicates_three_bands(spark):
    df = spark.createDataFrame([(0, 6), (1, 7)], "id long, day long")
    rows = _band_expand(df, "day").collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], set()).add(r["band"])
    assert by_id[0] == {-1, 0, 1}  # day 6 → band 0 and neighbors
    assert by_id[1] == {0, 1, 2}  # day 7 → band 1 and neighbors


def test_banded_join_boundary_pairs_match_brute_force(spark):
    # days chosen so true pairs straddle the band-7 boundary both ways:
    # (5, 8): bands 0,1; (13, 15): bands 1,2; plus an in-band pair and
    # an isolated day far away.
    days = [5, 8, 13, 15, 16, 100]
    rows = [(i, d) for i, d in enumerate(days)]
    o = spark.createDataFrame(rows, "o_orderkey long, day long")

    probe = o.withColumn("band", F.floor(F.col("day") / _RANGE_BAND_W))
    build = _band_expand(
        o.select(
            F.col("o_orderkey").alias("b_orderkey"),
            F.col("day").alias("b_day"),
        ),
        "b_day",
    )
    got = {
        (r["o_orderkey"], r["n_near"])
        for r in probe.join(build, "band")
        .where(
            (F.abs(F.col("day") - F.col("b_day")) <= _RANGE_RADIUS)
            & (F.col("o_orderkey") != F.col("b_orderkey"))
        )
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_near"))
        .collect()
    }

    expect = {}
    for i, d in enumerate(days):
        n = sum(
            1
            for j, e in enumerate(days)
            if j != i and abs(d - e) <= _RANGE_RADIUS
        )
        if n:
            expect[i] = n
    assert got == set(expect.items())


def test_ivf_cell_cap_fires_on_degenerate_corpus(spark):
    """300 identical embeddings collapse the Lloyd refinement into one
    cell of 300 > cap = 8*ceil(sqrt(300)) = 144: the pair-space family
    must fail loudly at assignment time, not silently go quadratic."""
    import pytest

    from googleanalytics_etl_spark.ops.round5b import seed_assign

    n = 300
    em = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.5), F.lit(0.25), F.lit(0.125)).alias(
            "embedding"
        ),
    )
    with pytest.raises(ValueError, match="pair space is no longer"):
        seed_assign(em)


def test_ivf_cell_cap_passes_fixture_corpus(spark):
    from googleanalytics_etl_spark.io import load
    from googleanalytics_etl_spark.ops.round5b import seed_assign

    em = load(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    assert seed_assign(em).count() == em.count()  # no raise


def test_durable_store_compaction_preserves_spans_and_blocks_replay(spark):
    """OPTIMIZE for the durable fold's store: fewer files, identical
    span output (the compactor folds the merge's own monoid), and a
    replayed already-compacted epoch is a guarded no-op instead of a
    silent double-count."""
    from pathlib import Path

    from googleanalytics_etl_spark.io import load
    from googleanalytics_etl_spark.ops.round11 import (
        _durable_fold_batch,
        compact_durable_store,
        merge_durable_store,
        s_exact_substring_durable,
    )
    from googleanalytics_etl_spark.ops.streaming import SCRATCH
    from googleanalytics_etl_spark.sources.layout import path_exists as _fs_exists

    spans_before = sorted(
        map(tuple, s_exact_substring_durable(spark, SF_SMALL).collect())
    )
    assert spans_before  # fixture corpus has duplicated spans
    base = Path(str(SCRATCH)) / "exact_substring_durable"
    run = max(base.iterdir(), key=lambda p: p.stat().st_mtime)
    occ = str(run / "occ")
    stats = str(run / "stats")
    manifest = str(run / "compacted_epochs")

    m = compact_durable_store(spark, occ, stats)
    assert m["epochs_folded"] >= 2
    assert m["files_after"] < m["files_before"]
    assert _fs_exists(spark, occ + "/epoch=-1")
    assert not _fs_exists(spark, occ + "/epoch=0")

    spans_after = sorted(
        map(tuple, merge_durable_store(spark, occ, stats).collect())
    )
    assert spans_after == spans_before

    # replay of a compacted epoch: manifest guard makes it a no-op
    docs = load(spark, SF_SMALL, "documents").limit(50)
    _durable_fold_batch(spark, occ, stats, manifest, docs, 0)
    assert not _fs_exists(spark, occ + "/epoch=0")
    spans_replay = sorted(
        map(tuple, merge_durable_store(spark, occ, stats).collect())
    )
    assert spans_replay == spans_before

    # a genuinely NEW epoch still lands beside the compacted partition
    _durable_fold_batch(spark, occ, stats, manifest, docs, 99)
    assert _fs_exists(spark, occ + "/epoch=99")


def test_bounded_stream_parts_bounds_and_restores(spark):
    """Round-12 optimization helper: bounded_stream_parts must set the
    session's shuffle partitions for the run (streaming plans take the
    value literally — AQE is disabled there) and restore the previous
    value on exit, including on error."""
    import pytest

    from googleanalytics_etl_spark.ops.streaming import (
        STREAM_STATE_PARTS,
        bounded_stream_parts,
    )

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    with bounded_stream_parts(spark):
        assert spark.conf.get(key) == str(STREAM_STATE_PARTS)
    assert spark.conf.get(key) == prev
    with bounded_stream_parts(spark, parts=3):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == prev
    with pytest.raises(RuntimeError, match="boom"):
        with bounded_stream_parts(spark, parts=5):
            assert spark.conf.get(key) == "5"
            raise RuntimeError("boom")
    assert spark.conf.get(key) == prev


def test_durable_fold_writes_one_file_per_bucket(spark, tmp_path):
    """The round-12 write-sizing fix: each (epoch, bucket) partition of
    the durable store must hold ONE data file (repartition by bucket
    before the write), not one shard per compute task."""
    from pathlib import Path

    from googleanalytics_etl_spark.ops.round11 import _durable_fold_batch

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}t{j}" for j in range(60))) for i in range(40)],
        "doc_id long, text string",
    )
    occ_dir = str(tmp_path / "occ")
    stat_dir = str(tmp_path / "stats")
    _durable_fold_batch(
        spark, occ_dir, stat_dir, str(tmp_path / "manifest"), docs, 0
    )
    for store in (occ_dir, stat_dir):
        buckets = [p for p in Path(store, "epoch=0").glob("bucket=*")]
        assert buckets, f"no bucket dirs under {store}"
        for b in buckets:
            files = [f for f in b.glob("*.parquet")]
            assert len(files) == 1, f"{b} holds {len(files)} files"
