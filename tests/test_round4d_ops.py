"""Round-4 batch-4 operators: Lloyd k-means and cohort LTV, checked
against independent numpy/Python reimplementations (the differential
harness proves cross-engine agreement; these prove the shared
construction is the true algorithm)."""

from __future__ import annotations

import numpy as np
import pytest
from conftest import SF_SMALL

from pyspark.sql import functions as F

from googleanalytics_etl_spark.io import load
from googleanalytics_etl_spark.registry import queries


def test_kmeans_matches_numpy_lloyd(spark):
    from googleanalytics_etl_spark.ops.round4d import _ITERS, _K

    got = {
        r["vec_id"]: (r["cluster"], r["dist_r"])
        for r in queries()["x_kmeans"](spark, SF_SMALL).collect()
    }
    rows = load(spark, SF_SMALL, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([[float(x) for x in r["embedding"]] for r in rows])
    # identical construction: init by vec_id, exact scaled-long means,
    # 6-dp-rounded distances with cluster-id tiebreak
    cent = {int(i): X[ids == i][0] for i in ids if i < _K}

    def assign(cent):
        out = {}
        for vid, v in zip(ids, X):
            best = min(
                (round(float(((v - c) ** 2).sum()), 6), j)
                for j, c in cent.items()
            )
            out[int(vid)] = best
        return out

    for it in range(1, _ITERS + 1):
        a = assign(cent)
        if it == _ITERS:
            break
        new = {}
        for j in set(c for _, c in a.values()):
            members = np.array(
                [v for vid, v in zip(ids, X) if a[int(vid)][1] == j]
            )
            scaled = np.round(members * 10_000_000).astype(np.int64)
            new[j] = scaled.sum(axis=0) / len(members) / 10_000_000
        cent = new

    want = {vid: (c, d) for vid, (d, c) in a.items()}
    assert set(got) == set(want)
    mism = [v for v in got if got[v][0] != want[v][0]]
    assert not mism, f"{len(mism)} assignment mismatches, first: {mism[:3]}"
    for v in got:
        assert got[v][1] == pytest.approx(want[v][1], abs=1e-6)
    # k-means actually clusters: more than one non-empty cluster
    assert len({c for c, _ in got.values()}) > 1


def test_cohort_ltv_recount(spark):
    rows = queries()["q_cohort_ltv"](spark, SF_SMALL).collect()
    e = load(spark, SF_SMALL, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_type", "value"
    ).collect()
    first = {}
    for r in e:
        if r["user_id"] not in first or r["day"] < first[r["user_id"]]:
            first[r["user_id"]] = r["day"]
    cohort_size: dict = {}
    for u, d in first.items():
        cohort_size[d] = cohort_size.get(d, 0) + 1
    cum: dict = {}
    per_age: dict = {}
    buyers: dict = {}
    for r in e:
        if r["event_type"] != "purchase":
            continue
        cd = first[r["user_id"]]
        age = (r["day"] - cd).days
        per_age[(cd, age)] = per_age.get((cd, age), 0) + round(r["value"] * 100)
        buyers.setdefault((cd, age), set()).add(r["user_id"])
    assert len(rows) == len(per_age)
    for r in sorted(rows, key=lambda r: (r["cohort_day"], r["age_days"])):
        key = (r["cohort_day"], r["age_days"])
        cum[r["cohort_day"]] = cum.get(r["cohort_day"], 0) + per_age[key]
        want = cum[r["cohort_day"]] / 100 / cohort_size[r["cohort_day"]]
        assert r["ltv_per_user"] == pytest.approx(want, abs=1e-9)
        assert r["n_buyers"] == len(buyers[key])
    # LTV is cumulative: non-decreasing within each cohort
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_day"], []).append(
            (r["age_days"], r["ltv_per_user"])
        )
    for series in by_cohort.values():
        series.sort()
        assert all(b[1] >= a[1] for a, b in zip(series, series[1:]))


def test_bloom_index_prunes_files_and_stays_sound(spark):
    """The bloom index opens a minority of files for a point lookup and
    still returns exactly the full-scan answer (FP-soundness via the
    exact residual filter); a key absent from the data reads 0 rows."""
    from googleanalytics_etl_spark.ops.round4d import (
        _bloom_index_stage,
        bloom_index_lookup,
    )

    e = load(spark, SF_SMALL, "events")
    keys = [
        r["event_id"]
        for r in e.select("event_id")
        .orderBy(F.md5(F.col("event_id").cast("string")), "event_id")
        .limit(3)
        .collect()
    ]
    df, hit, total = bloom_index_lookup(spark, SF_SMALL, keys)
    assert total >= 32
    assert 0 < hit <= total // 4, f"bloom index opened {hit}/{total} files"
    want = e.where(F.col("event_id").isin(keys)).count()
    assert df.count() == want == 3

    # absent key: bitmap may false-positive into opening a file or two,
    # but the exact filter guarantees zero rows
    absent = max(r["event_id"] for r in e.select("event_id").collect()) + 999
    df2, hit2, _ = bloom_index_lookup(spark, SF_SMALL, [absent])
    assert df2.count() == 0
    assert hit2 <= total // 4  # an absent key should match almost nothing

    # manifest is written once and reused (fingerprint cache), PAGED:
    # one sidecar directory per data page, never a driver-side blob
    stage = _bloom_index_stage(spark, SF_SMALL)
    assert (stage / "_STAGED").exists()
    pages = sorted(p.name for p in (stage / "_blooms").glob("pg=*"))
    assert len(pages) >= 4
    assert pages == sorted(p.name for p in (stage / "data").glob("pg=*"))
    n_files = sum(
        len(list((stage / "data" / p).glob("*.parquet"))) for p in pages
    )
    assert n_files == total
