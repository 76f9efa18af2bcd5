"""Round-5 pre-work, fifth batch: ingestion-lifecycle operators —
schema evolution, binary-file ingest, and incremental near-dedup (the
daily-crawl shape).

- ``q_scan_evolving`` — schema-on-read evolution: early partitions
  written WITHOUT a column, later ones with it, read back through ONE
  ``mergeSchema`` scan with NULL back-fill — the ALTER-TABLE-free
  column addition every long-lived ingest hits.
- ``q_scan_binaryfile`` — Spark's ``binaryFile`` source: opaque file
  blobs + metadata columns, decoded and verified against the fixture
  (the ingestion door for the multimodal family in
  ops/multimodal.py).
- ``x_dedup_incremental`` — near-dedup of an incoming batch AGAINST
  the standing corpus (plus intra-batch): MinHash/LSH band buckets
  restricted to cross-side and new-new pairs, exact hashed-shingle
  Jaccard verification, best-match election per new doc. This is the
  production daily loop — the standing corpus is never self-joined.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from ..scratch import stage
from .extensions import word_shingles


# ---------------------------------------------------------------------------
# q_scan_evolving — mergeSchema over drifting partition schemas
# ---------------------------------------------------------------------------

_EVOLVE_CUTOVER = "1998-01-01"


def _evolve_stage(spark: SparkSession, sf_dir: str) -> Path:
    """orders staged as two generations: ``gen=1`` (before the cutover,
    without ``o_orderpriority``) and ``gen=2`` (after it, with it)."""
    cut = F.lit(_EVOLVE_CUTOVER).cast("timestamp_ntz")

    def _write(p: Path) -> None:
        o = load(spark, sf_dir, "orders")
        o.where(F.col("o_orderdate") < cut).drop("o_orderpriority").write.mode(
            "overwrite"
        ).parquet(str(p / "gen=1"))
        o.where(F.col("o_orderdate") >= cut).write.mode("overwrite").parquet(
            str(p / "gen=2")
        )

    return stage("evolve_orders", sf_dir, "orders", _write, _EVOLVE_CUTOVER)

_EVOLVE_ORACLE = f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(CASE WHEN o_orderdate >= TIMESTAMP '{_EVOLVE_CUTOVER}'
                       THEN o_orderpriority END) AS BIGINT) AS n_with_priority,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
GROUP BY o_orderstatus
"""


@register("q_scan_evolving", oracle=_EVOLVE_ORACLE)
def q_scan_evolving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: orders before {cut} are staged WITHOUT
    ``o_orderpriority`` (the column didn't exist yet), later orders with
    it; one ``mergeSchema=true`` parquet scan unions the generations and
    back-fills NULL for the missing column — then a per-status report
    counts how much of the corpus carries the new field.

    This is the append-only data-lake evolution contract: no rewrite of
    old partitions, no ALTER TABLE — the reader reconciles. Footer
    merging costs one extra driver pass over file metadata; the scan
    itself stays columnar + pushdown-capable. The oracle recomputes the
    same NULL back-fill rule from the unsplit fixture, so the hash
    proves the merged read is lossless (exact-cents revenue).
    """
    staged = _evolve_stage(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(
        str(staged / "gen=1"), str(staged / "gen=2")
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count("o_orderpriority").cast("long").alias("n_with_priority"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )


# ---------------------------------------------------------------------------
# q_scan_binaryfile — opaque-blob ingest with metadata columns
# ---------------------------------------------------------------------------

_BINARYFILE_ORACLE = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS byte_len,
       md5(text) AS content_md5
FROM documents
WHERE doc_id < 20
"""


@register("q_scan_binaryfile", oracle=_BINARYFILE_ORACLE)
def q_scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` ingest: one opaque blob per file plus the source's
    metadata columns (path, length, content) — the entry door for
    image/audio corpora (ops/multimodal.py consumes exactly this
    shape). 20 fixture documents are staged as individual ``doc_N.txt``
    files; the scan decodes each blob and emits id (parsed from the
    path), byte length, and content md5 — hash-verified against the
    fixture text, proving the blob roundtrip is byte-lossless.

    At 100 TB this source's unit of parallelism is the FILE (each blob
    is one row — `maxPartitionBytes` packs small files per task), which
    is why the multimodal family re-chunks binaries into Arrow batches
    immediately after this scan.
    """

    def _write(d: Path) -> None:
        rows = (
            load(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 20)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            (d / f"doc_{r['doc_id']}.txt").write_bytes(r["text"].encode("utf-8"))

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(str(stage("binfiles", sf_dir, "documents", _write)))
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").cast("long").alias("byte_len"),
            F.md5(F.col("content")).alias("content_md5"),
        )
    )


# ---------------------------------------------------------------------------
# x_dedup_incremental — new batch vs standing corpus (daily-crawl loop)
# ---------------------------------------------------------------------------

_INCR_DEDUP_ORACLE = """
WITH allrows AS (
    SELECT doc_id, text, 'c' AS side FROM documents WHERE source <> 'src19'
    UNION ALL
    SELECT doc_id, text, 'n' AS side FROM documents WHERE source = 'src19'
    UNION ALL
    SELECT doc_id + 3000000, text, 'n' AS side
    FROM documents WHERE doc_id < 5
), sh AS (
    SELECT doc_id, side,
           list_distinct(CASE WHEN len(str_split(text, ' ')) >= 3 THEN
               list_transform(range(len(str_split(text, ' ')) - 2),
                   i -> str_split(text, ' ')[i + 1] || ' ' ||
                        str_split(text, ' ')[i + 2] || ' ' ||
                        str_split(text, ' ')[i + 3])
               ELSE [text] END) AS shingles
    FROM allrows
), hs AS (
    SELECT doc_id, side,
           list_transform(shingles,
               s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS h1s,
           list_transform(shingles,
               s -> CAST('0x' || substr(md5(s), 9, 8) AS BIGINT)) AS h2s
    FROM sh
), sigs AS (
    SELECT doc_id, side,
           list_transform(range(16), i ->
               list_min(list_transform(range(len(h1s)),
                   j -> h1s[j + 1] + i * h2s[j + 1]))) AS sig
    FROM hs
), banded AS (
    SELECT doc_id, side, band,
           CAST(sig[4 * band + 1] AS VARCHAR) || ':' ||
           CAST(sig[4 * band + 2] AS VARCHAR) || ':' ||
           CAST(sig[4 * band + 3] AS VARCHAR) || ':' ||
           CAST(sig[4 * band + 4] AS VARCHAR) AS bucket
    FROM sigs, range(4) t(band)
), cand AS (
    SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
    FROM banded n JOIN banded o ON n.band = o.band AND n.bucket = o.bucket
    WHERE n.side = 'n'
      AND (o.side = 'c' OR (o.side = 'n' AND o.doc_id < n.doc_id))
), hset AS (
    SELECT doc_id, list_distinct(h1s) AS hsig FROM hs
), verified AS (
    SELECT new_id, old_id,
           ROUND(CAST(len(list_intersect(s1.hsig, s2.hsig)) AS DOUBLE)
                 / len(list_distinct(list_concat(s1.hsig, s2.hsig))), 6)
               AS jaccard
    FROM cand
    JOIN hset s1 ON s1.doc_id = new_id
    JOIN hset s2 ON s2.doc_id = old_id
), best AS (
    SELECT new_id, old_id, jaccard
    FROM (
        SELECT new_id, old_id, jaccard,
               ROW_NUMBER() OVER (PARTITION BY new_id
                                  ORDER BY jaccard DESC, old_id) AS rn
        FROM verified WHERE jaccard >= 0.5
    ) WHERE rn = 1
)
SELECT n.doc_id,
       CASE WHEN b.new_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
       b.old_id AS dup_of, b.jaccard
FROM (SELECT doc_id FROM allrows WHERE side = 'n') n
LEFT JOIN best b ON b.new_id = n.doc_id
"""


def _km_sigs(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Kirsch-Mitzenmacher MinHash over a ``(doc_id, side, text)`` frame
    (the extensions.py:201 construction, parameterized by input instead
    of fixture-coupled): returns (banded, hset) — 4 band-bucket rows per
    doc and the per-doc distinct 32-bit shingle-hash set."""
    sh = (
        docs.select("doc_id", "side", F.split("text", " ").alias("words"))
        # Rebalance BEFORE the shingle+md5 expansion (the _occ pitfall):
        # the input often arrives as 1-2 splits (fixture scan, stream
        # micro-batch file), which would serialize the featurization.
        .repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
        .select("doc_id", "side", word_shingles(F.col("words")).alias("shingles"))
    )
    md5d = sh.select(
        "doc_id",
        "side",
        F.transform("shingles", lambda s: F.md5(s.cast("binary"))).alias("md5s"),
    )
    hashed = md5d.select(
        "doc_id",
        "side",
        F.transform(
            "md5s", lambda m: F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
        ).alias("h1s"),
        F.transform(
            "md5s", lambda m: F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
        ).alias("h2s"),
    ).materialize(eager=True)
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda i: F.array_min(
            F.zip_with(
                F.col("h1s"), F.col("h2s"), lambda h1, h2: h1 + i * h2
            )
        ),
    )
    sigs = hashed.select("doc_id", "side", sig.alias("sig"))
    banded = sigs.select(
        "doc_id",
        "side",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.concat_ws(
                        ":",
                        F.element_at("sig", b * 4 + 1),
                        F.element_at("sig", b * 4 + 2),
                        F.element_at("sig", b * 4 + 3),
                        F.element_at("sig", b * 4 + 4),
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "side", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    hset = hashed.select("doc_id", F.array_distinct("h1s").alias("hsig"))
    return banded, hset


@register("x_dedup_incremental", oracle=_INCR_DEDUP_ORACLE)
def x_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup — the daily-crawl loop: an incoming batch
    (source ``src19``, plus 5 planted copies of corpus docs at
    doc_id+3e6) is deduped against the STANDING corpus and against
    itself, without ever self-joining the corpus.

    Same banded MinHash-LSH as ``x_dedup_near`` (16 KM signatures, 4
    bands — extensions.py:201), but the band-bucket join is RESTRICTED
    to (new × corpus) ∪ (new × earlier-new): the corpus side of every
    bucket joins only against new-batch rows, so per-day work is
    O(|batch| + bucket collisions), not O(|corpus|²) — the property
    that makes daily dedup sustainable at a 100 TB standing corpus
    (whose signatures are computed once and stored; here they are
    rebuilt because the fixture has no state dir). Each new doc elects
    its best partner (max verified Jaccard ≥ 0.5, tie → lowest id);
    the planted copies must match their originals at Jaccard 1.0.
    """
    d = load(spark, sf_dir, "documents")
    corpus = d.where(F.col("source") != "src19").select(
        "doc_id", "text", F.lit("c").alias("side")
    )
    newb = (
        d.where(F.col("source") == "src19")
        .select("doc_id", "text")
        .unionByName(
            d.where(F.col("doc_id") < 5).select(
                (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
            )
        )
        .select("doc_id", "text", F.lit("n").alias("side"))
    )
    banded, hset = _km_sigs(corpus.unionByName(newb))
    bn = banded.where(F.col("side") == "n").select(
        F.col("doc_id").alias("new_id"), "band", "bucket"
    )
    bo = banded.select(F.col("doc_id").alias("old_id"), F.col("side").alias("oside"), "band", "bucket")
    cand = (
        bn.join(bo, ["band", "bucket"])
        .where(
            (F.col("oside") == "c")
            | ((F.col("oside") == "n") & (F.col("old_id") < F.col("new_id")))
        )
        .select("new_id", "old_id")
        .distinct()
    )
    s1 = hset.select(F.col("doc_id").alias("new_id"), F.col("hsig").alias("h_new"))
    s2 = hset.select(F.col("doc_id").alias("old_id"), F.col("hsig").alias("h_old"))
    inter = F.size(F.array_intersect("h_new", "h_old"))
    union = F.size(F.array_distinct(F.concat("h_new", "h_old")))
    verified = (
        cand.join(s1, "new_id")
        .join(s2, "old_id")
        .select(
            "new_id",
            "old_id",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.5)
    )
    w = Window.partitionBy("new_id").orderBy(F.col("jaccard").desc(), "old_id")
    best = (
        verified.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("new_id", "old_id", "jaccard")
    )
    return (
        newb.select("doc_id")
        .join(best, newb["doc_id"] == best["new_id"], "left")
        .select(
            "doc_id",
            F.when(F.col("new_id").isNotNull(), 1).otherwise(0).alias("is_dup"),
            F.col("old_id").alias("dup_of"),
            "jaccard",
        )
    )
