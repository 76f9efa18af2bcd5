"""x_lsh_tuning and x_dedup_eval against their earlier multi-pass forms.

Both keys now build one candidate set, verify it with one join and count
it with one aggregate. The references below are the forms they replaced,
kept here verbatim in intent: x_lsh_tuning as three per-shape band
self-joins, each verified on its own, and x_dedup_eval as materialized
truth/score frames assembled by crossJoins. They run on the sf0.001
corpus plus a planted hot cluster (one doc and 20 exact copies, so one
bucket per band holds 21 docs, and 4 near-copies with one word
appended), the shape that made in-row pair generation O(k³). The
cluster's own shingles then sit in more than 20 docs, above the
blocking df cap, so its LSH-positive pairs are missing from the blocked
truth and x_dedup_eval's per-pair flags are exercised both ways.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_SMALL

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from googleanalytics_etl_spark.ops.extensions import _minhash_parts
from googleanalytics_etl_spark.ops.round6e import _SHAPES
from googleanalytics_etl_spark.registry import oracle_sql, queries

HOT_SOURCE = 42
HOT_COPIES = 20
NEAR_COPIES = 4


@pytest.fixture(scope="module")
def hot_corpus(tmp_path_factory) -> str:
    src = pq.read_table(f"{SF_SMALL}/documents.parquet")
    rows = src.to_pylist()
    base = next(r for r in rows if r["doc_id"] == HOT_SOURCE)
    extra = [dict(base, doc_id=900_000 + i) for i in range(HOT_COPIES)]
    extra += [
        dict(base, doc_id=900_100 + i, text=f"{base['text']} dup{i}")
        for i in range(NEAR_COPIES)
    ]
    out = tmp_path_factory.mktemp("hot_corpus")
    pq.write_table(
        pa.Table.from_pylist(rows + extra, schema=src.schema),
        out / "documents.parquet",
    )
    return str(out)


def _sorted_rows(df: DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _oracle_rows(key: str, sf_dir: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        res = con.execute(oracle_sql()[key])
        names = [d[0] for d in res.description]
        order = sorted(range(len(names)), key=names.__getitem__)
        return sorted(tuple(r[i] for i in order) for r in res.fetchall())
    finally:
        con.close()


def _jaccard_sides(hsig: DataFrame):
    s1 = hsig.select(F.col("doc_id").alias("doc_a"), F.col("hsig").alias("sh_a"))
    s2 = hsig.select(F.col("doc_id").alias("doc_b"), F.col("hsig").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jaccard = F.round(inter / (F.size("sh_a") + F.size("sh_b") - inter), 6)
    return s1, s2, jaccard


def _lsh_tuning_reference(spark, sf_dir: str) -> DataFrame:
    """One band self-join and one verification join per shape, unioned,
    recall read through a whole-frame window."""
    parts = _minhash_parts(spark, sf_dir)
    signed = parts["signed"]
    s1, s2, jaccard = _jaccard_sides(parts["hsig"])

    def stat(b: int, r: int) -> DataFrame:
        bands = F.array(
            *[
                F.concat_ws(
                    ":",
                    *[F.col(f"sig{band * r + i}").cast("string") for i in range(r)],
                )
                for band in range(b)
            ]
        )
        buckets = signed.select("doc_id", F.posexplode(bands).alias("band", "bucket"))
        pa_ = buckets.select("band", "bucket", F.col("doc_id").alias("doc_a"))
        pb_ = buckets.select("band", "bucket", F.col("doc_id").alias("doc_b"))
        pairs = (
            pa_.join(pb_, ["band", "bucket"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .dropDuplicates(["doc_a", "doc_b"])
        )
        return (
            pairs.join(s1, "doc_a")
            .join(s2, "doc_b")
            .agg(
                F.lit(b).cast("long").alias("n_bands"),
                F.lit(r).cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_candidates"),
                F.sum(F.when(jaccard >= 0.5, 1).otherwise(0))
                .cast("long")
                .alias("n_verified"),
            )
        )

    stats = stat(*_SHAPES[0])
    for shape in _SHAPES[1:]:
        stats = stats.unionByName(stat(*shape))
    v_total = F.max(
        F.when(
            (F.col("n_bands") == 16) & (F.col("n_rows") == 1),
            F.col("n_verified"),
        )
    ).over(Window.partitionBy(F.lit(1)))
    return stats.withColumn("v_total", v_total).select(
        "n_bands",
        "n_rows",
        "n_candidates",
        "n_verified",
        F.round(F.col("n_verified").cast("double") / F.col("n_candidates"), 6).alias(
            "precision_at_05"
        ),
        F.round(F.col("n_verified").cast("double") / F.col("v_total"), 6).alias(
            "recall_vs_max"
        ),
    )


def _dedup_eval_reference(spark, sf_dir: str) -> DataFrame:
    """Blocked truth and LSH scores materialized as separate frames,
    counted separately and assembled by crossJoins."""
    parts = _minhash_parts(spark, sf_dir)
    scored, hsig = parts["scored"], parts["hsig"]
    e = hsig.select("doc_id", F.explode("hsig").alias("h"))
    bucket = (
        e.groupBy("h")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= 20))
    )
    tcand = (
        bucket.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    s1, s2, jaccard = _jaccard_sides(hsig)
    truth = (
        tcand.join(s1, "doc_a")
        .join(s2, "doc_b")
        .where(jaccard >= 0.5)
        .select("doc_a", "doc_b")
        .materialize(eager=True)
    )
    scored = scored.materialize(eager=True)
    lsh_pos = scored.where(F.col("jaccard") >= 0.5).select("doc_a", "doc_b")
    n_cand = scored.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_pos = lsh_pos.agg(F.count(F.lit(1)).alias("n_positive"))
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_hit = lsh_pos.join(truth, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        n_cand.crossJoin(n_pos)
        .crossJoin(n_truth)
        .crossJoin(n_hit)
        .select(
            "n_candidates",
            "n_positive",
            "n_truth",
            "n_hit",
            (F.col("n_positive").cast("double") / F.col("n_candidates")).alias(
                "precision_cand"
            ),
            (F.col("n_hit").cast("double") / F.col("n_truth")).alias("recall"),
        )
    )


def test_hot_corpus_fills_one_bucket_per_band(spark, hot_corpus):
    """The planted cluster really is hot: every band of every shape puts
    the source and its exact copies in one bucket."""
    signed = _minhash_parts(spark, hot_corpus)["signed"]
    ids = [HOT_SOURCE] + [900_000 + i for i in range(HOT_COPIES)]
    sigs = {
        tuple(r[1:])
        for r in signed.where(F.col("doc_id").isin(ids))
        .select("doc_id", *[f"sig{i}" for i in range(16)])
        .collect()
    }
    assert len(sigs) == 1


def test_lsh_tuning_matches_per_shape_reference(spark, hot_corpus):
    df = queries()["x_lsh_tuning"](spark, hot_corpus)
    got = _sorted_rows(df)
    assert got == _sorted_rows(_lsh_tuning_reference(spark, hot_corpus))
    assert got == _oracle_rows("x_lsh_tuning", hot_corpus)
    # the cluster's C(21, 2) exact-copy pairs verify under every shape
    for r in df.collect():
        assert r["n_verified"] >= (HOT_COPIES + 1) * HOT_COPIES // 2


def test_dedup_eval_matches_materialized_reference(spark, hot_corpus):
    df = queries()["x_dedup_eval"](spark, hot_corpus)
    got = _sorted_rows(df)
    assert got == _sorted_rows(_dedup_eval_reference(spark, hot_corpus))
    assert got == _oracle_rows("x_dedup_eval", hot_corpus)
    # LSH positives outside the blocked truth exist (the hot cluster's
    # pairs), so n_hit tells "in both sets" from "LSH positive"
    row = df.collect()[0]
    assert row["n_hit"] < row["n_positive"]


def test_dedup_eval_materializes_only_the_signature_stage(spark, monkeypatch):
    calls = []
    original = DataFrame.materialize

    def counting(df, eager=True):
        calls.append(df)
        return original(df, eager)

    monkeypatch.setattr(DataFrame, "materialize", counting)
    queries()["x_dedup_eval"](spark, SF_SMALL).collect()
    assert len(calls) == 1
    assert set(calls[0].columns) == {"doc_id", "h1s", "h2s"}


def test_lsh_tuning_plan_has_one_band_self_join(spark):
    df = queries()["x_lsh_tuning"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    joins = [line for line in plan.splitlines() if "Join " in line]
    band_joins = [line for line in joins if "band" in line]
    assert len(band_joins) == 1, plan
    # the other two are the verification join's two sides
    assert len(joins) == 3, plan
