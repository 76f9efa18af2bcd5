"""Round-5 batch-3 operators: interval merge, containment dedup,
verified heavy hitters — Python recounts + algorithmic-guarantee checks
(cross-engine hash oracles run in test_oracle.py / the driver)."""

from __future__ import annotations

import os
from collections import Counter, defaultdict

import pytest
from conftest import SF_SMALL

from googleanalytics_etl_spark.io import load
from googleanalytics_etl_spark.ops.round5c import _MG_CAPACITY, _mg_partition
from googleanalytics_etl_spark.registry import queries


def test_interval_merge_recount(spark):
    got = {r["user_id"]: r for r in queries()["q_interval_merge"](spark, SF_SMALL).collect()}
    ev = load(spark, SF_SMALL, "events").selectExpr(
        "user_id", "unix_micros(cast(ts as timestamp)) as s"
    ).collect()
    per_user = defaultdict(list)
    for e in ev:
        per_user[e["user_id"]].append((e["s"], e["s"] + 1800 * 1_000_000))
    for uid, ivs in per_user.items():
        ivs.sort()
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        r = got[uid]
        assert r["n_intervals"] == len(merged)
        assert r["covered_us"] == sum(e - s for s, e in merged)


def test_interval_merge_bounds(spark):
    # covered time per interval ≥ one 30-min window; intervals disjoint
    for r in queries()["q_interval_merge"](spark, SF_SMALL).collect():
        assert r["covered_us"] >= r["n_intervals"] * 1800 * 1_000_000


def _shingles(words: list[str]) -> set[str]:
    if len(words) >= 3:
        return {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
    return {" ".join(words)}


def test_containment_finds_planted_excerpts(spark):
    rows = queries()["x_containment"](spark, SF_SMALL).collect()
    planted = {(r["doc_a"], r["doc_b"]) for r in rows if r["doc_b"] >= 2_000_000}
    # all 10 planted (source, excerpt) pairs found at containment 1.0
    assert {(a, b) for a, b in planted if b == a + 2_000_000} == {
        (i, i + 2_000_000) for i in range(10)
    }
    for r in rows:
        if r["doc_b"] == r["doc_a"] + 2_000_000 and r["doc_b"] >= 2_000_000:
            assert r["containment"] == pytest.approx(1.0)
            # excerpt's shingle set is the smaller side
            assert r["n_common"] == min(r["n_a"], r["n_b"])


def test_containment_recount(spark):
    rows = queries()["x_containment"](spark, SF_SMALL).collect()
    docs = load(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    sets = {d["doc_id"]: _shingles(d["text"].split(" ")) for d in docs}
    for d in docs:
        if d["doc_id"] < 10:
            w = d["text"].split(" ")
            half = w[: max(len(w) // 2, 3)]
            sets[d["doc_id"] + 2_000_000] = _shingles(half)
    for r in rows:
        a, b = sets[r["doc_a"]], sets[r["doc_b"]]
        inter = len(a & b)
        assert r["n_common"] == inter
        assert r["n_a"] == len(a) and r["n_b"] == len(b)
        score = inter / min(len(a), len(b))
        assert score >= 0.9
        assert r["containment"] == pytest.approx(round(score, 6), abs=1e-9)


def test_approx_topk_equals_exact_threshold_scan(spark):
    rows = queries()["x_approx_topk"](spark, SF_SMALL).collect()
    docs = load(spark, SF_SMALL, "documents").select("text").collect()
    tf = Counter()
    for d in docs:
        for t in d["text"].split(" "):
            if t:
                tf[t] += 1
    n = sum(tf.values())
    want = {t: c for t, c in tf.items() if c * (_MG_CAPACITY + 1) > n}
    assert {r["tok"]: r["n"] for r in rows} == want
    assert len(rows) > 0  # fixture vocabulary is heavy-tailed enough


def test_mg_partition_summary_guarantee():
    """Pure-python MG invariant: any token with frequency > n/(k+1) in
    the stream survives the capacity-k summary, for an adversarial
    interleaving."""
    import pandas as pd

    heavy = ["h1"] * 400 + ["h2"] * 300
    noise = [f"n{i}" for i in range(600)]  # 600 singletons
    stream = []
    for i, t in enumerate(noise):
        stream.append(t)
        if i % 2 == 0 and heavy:
            stream.append(heavy.pop())
    stream.extend(heavy)
    out = list(_mg_partition([pd.DataFrame({"tok": stream})]))[0]
    survivors = set(out["tok"])
    assert len(survivors) <= _MG_CAPACITY
    n = len(stream)
    for tok, c in Counter(stream).items():
        if c * (_MG_CAPACITY + 1) > n:
            assert tok in survivors, tok


def test_interval_merge_agrees_with_session_windows(spark):
    """Cross-operator consistency: a 30-min activity interval union is
    EXACTLY the fixed-gap session structure — per user, the number of
    merged intervals must equal s_session's session count, and total
    covered time = Σ (session_end − session_start). Two independent
    constructions (running-max sweep vs the built-in session_window)
    of one concept."""
    from collections import defaultdict

    iv = {r["user_id"]: r for r in queries()["q_interval_merge"](spark, SF_SMALL).collect()}
    sess = queries()["s_session"](spark, SF_SMALL).collect()
    per = defaultdict(lambda: [0, 0])
    for s in sess:
        per[s["user_id"]][0] += 1
        from datetime import timedelta

        per[s["user_id"]][1] += (s["session_end"] - s["session_start"]) // timedelta(
            microseconds=1
        )
    assert set(iv) == set(per)
    for uid, (n, covered) in per.items():
        assert iv[uid]["n_intervals"] == n
        assert iv[uid]["covered_us"] == covered


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_containment_shingle_hashes_collision_free(spark, sf):
    """x_containment's n_common = size(array_intersect) equals the old
    join-count ONLY while no document carries two distinct shingles with
    the same 60-bit md5-prefix hash. Pin that assumption against every
    fixture scale present (sf0.1 is the bench fixture): a fixture change
    that ever violated it must fail loudly here, not silently shift
    n_common."""
    from pyspark.sql import functions as F

    from googleanalytics_etl_spark.ops.extensions import word_shingles

    # the fixture scales sit side by side under SF_SMALL's parent
    sf_dir = os.path.join(os.path.dirname(SF_SMALL), sf)
    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        pytest.skip(f"{sf_dir} absent")
    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    half = F.slice(
        words, 1, F.greatest(F.floor(F.size(words) / 2).cast("int"), F.lit(3))
    )
    corpus = d.select("doc_id", words.alias("words")).unionByName(
        d.where(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), half.alias("words")
        )
    )
    h = F.conv(
        F.substring(F.md5(F.col("shingle").cast("binary")), 1, 15), 16, 10
    ).cast("long")
    sh = corpus.select(
        "doc_id", F.explode(word_shingles(F.col("words"))).alias("shingle")
    ).select("doc_id", h.alias("h"))
    dup_rows = (
        sh.groupBy("doc_id", "h").count().where(F.col("count") > 1).count()
    )
    assert dup_rows == 0
