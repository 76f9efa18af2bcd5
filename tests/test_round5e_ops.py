"""Round-5 batch-5 operators: schema evolution, binaryFile ingest,
incremental near-dedup — semantic checks beyond the hash oracle."""

from __future__ import annotations

import hashlib

import pytest
from conftest import SF_SMALL

from pyspark.sql import functions as F

from googleanalytics_etl_spark.io import load
from googleanalytics_etl_spark.registry import queries


def test_scan_evolving_nullfills_missing_column(spark):
    rows = queries()["q_scan_evolving"](spark, SF_SMALL).collect()
    orders = load(spark, SF_SMALL, "orders")
    cut = F.lit("1998-01-01").cast("timestamp_ntz")
    pre = orders.where(F.col("o_orderdate") < cut).count()
    post = orders.where(F.col("o_orderdate") >= cut).count()
    assert sum(r["n_orders"] for r in rows) == pre + post
    # only generation-2 rows carry the evolved column
    assert sum(r["n_with_priority"] for r in rows) == post
    assert 0 < post < pre + post  # the fixture spans the cutover


def test_scan_evolving_merged_schema_has_all_columns(spark):
    from googleanalytics_etl_spark.ops.round5e import _EVOLVE_CUTOVER, _evolve_stage

    queries()["q_scan_evolving"](spark, SF_SMALL).collect()  # ensure staged
    stage = str(_evolve_stage(spark, SF_SMALL))
    merged = spark.read.option("mergeSchema", "true").parquet(
        stage + "/gen=1", stage + "/gen=2"
    )
    assert "o_orderpriority" in merged.columns
    # gen-1 alone genuinely lacks the column (evolution is real, not
    # a no-op): reading only the early generation must miss it
    gen1 = spark.read.parquet(stage + "/gen=1")
    assert "o_orderpriority" not in gen1.columns


def test_scan_binaryfile_blob_roundtrip(spark):
    rows = {r["doc_id"]: r for r in queries()["q_scan_binaryfile"](spark, SF_SMALL).collect()}
    docs = (
        load(spark, SF_SMALL, "documents")
        .where(F.col("doc_id") < 20)
        .select("doc_id", "text")
        .collect()
    )
    assert len(rows) == 20
    for d in docs:
        r = rows[d["doc_id"]]
        raw = d["text"].encode("utf-8")
        assert r["byte_len"] == len(raw)
        assert r["content_md5"] == hashlib.md5(raw).hexdigest()


def test_dedup_incremental_finds_planted_corpus_dups(spark):
    rows = {r["doc_id"]: r for r in queries()["x_dedup_incremental"](spark, SF_SMALL).collect()}
    # the 5 planted copies (originals live in the standing corpus or
    # earlier batch) are flagged with Jaccard 1.0 against their source
    for i in range(5):
        r = rows[i + 3_000_000]
        assert r["is_dup"] == 1
        assert r["dup_of"] == i
        assert r["jaccard"] == pytest.approx(1.0)


def test_dedup_incremental_never_pairs_corpus_with_corpus(spark):
    # output rows are exactly the new batch — the standing corpus is
    # never self-deduped (that's the incremental contract)
    d = load(spark, SF_SMALL, "documents")
    n_new = d.where(F.col("source") == "src19").count() + 5
    out = queries()["x_dedup_incremental"](spark, SF_SMALL)
    assert out.count() == n_new
    corpus_ids = {
        r["doc_id"]
        for r in d.where(F.col("source") != "src19").select("doc_id").collect()
    }
    for r in out.collect():
        assert r["doc_id"] not in corpus_ids
