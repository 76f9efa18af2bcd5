"""Round-9 batch 3: winnowing fingerprints (Schleimer et al. 2003).

Two additions to the span-level contamination family, each a full
cross-engine hash oracle over the ``documents`` fixture:

- ``x_winnow_fingerprint`` — the winnowing selection itself: 5-gram
  md5 hashes per document, then the minimum hash in every sliding
  window of w = 4 grams (rightmost-position tie-break), deduplicated.
  Guarantee: any substring match of at least w + k − 1 = 8 tokens
  between two documents shares at least one selected fingerprint, while
  only ~2/(w+1) of all grams are kept — the storage property that makes
  span-level contamination detection affordable at corpus scale
  (whole-gram inverted indexes are 1/density ≈ 2.5× larger).
- ``x_winnow_matches`` — the acting form: self-join the fingerprint
  table on the gram hash, emit document pairs sharing ≥ 2 fingerprints
  — the span-contamination candidate list a decontamination pass
  verifies (the MOSS pipeline shape).

Distinct from the existing span family: ``x_span_dup_profile`` /
``x_span_dedup`` score FULL 5-gram occupancy (every gram indexed);
winnowing is the sparse position-robust SELECTION with a detection
guarantee — the index you can afford to keep for 100 TB.

Reference parity: no analogue in the reference package
[REF-UNVERIFIED — /root/reference is empty]; extends §2.K per the
round mandate.

Determinism: gram hashes are 32-bit md5 prefixes (the repo-standard
cross-engine hash); window argmin is encoded as ONE exact integer
``key = hash · 2²⁰ + (2²⁰ − 1 − pos)`` so MIN(key) implements
"smallest hash, rightmost position on ties" identically on both
engines with no struct/argmin dialect differences (pos < 2²⁰ holds to
~10⁶-gram documents; hash < 2³², so key < 2⁵² — safe in BIGINT and
exact in DuckDB's window MIN).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register

_WIN_K = 5  # gram width (tokens)
_WIN_W = 4  # winnowing window (grams)
_POS_BITS = 20  # position field width in the argmin key

# DuckDB featurization: 5-gram strings per the extensions.py:151 idiom,
# position preserved (1-based range index i → 0-based pos = i).
_SQL_GRAMS = f"""
    SELECT doc_id, pos, g,
           CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) AS h
    FROM (
        SELECT doc_id,
               UNNEST(range(len(t) - {_WIN_K} + 1)) AS pos,
               UNNEST(list_transform(range(len(t) - {_WIN_K} + 1),
                      i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]
                           || ' ' || t[i + 4] || ' ' || t[i + 5])) AS g
        FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= {_WIN_K}
    )
"""

_SQL_SELECTED = f"""
    SELECT DISTINCT doc_id,
           CAST(sel // {2**_POS_BITS} AS BIGINT) AS gram_hash,
           CAST({2**_POS_BITS} - 1 - (sel % {2**_POS_BITS}) AS BIGINT)
               AS pos
    FROM (
        SELECT doc_id, pos,
               MIN(h * {2**_POS_BITS} + ({2**_POS_BITS} - 1 - pos))
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW
                                  AND {_WIN_W - 1} FOLLOWING) AS sel,
               COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
        FROM ({_SQL_GRAMS})
        QUALIFY pos <= n_grams - {_WIN_W}
    )
"""

_WINNOW_ORACLE = f"""
SELECT doc_id, gram_hash, pos FROM ({_SQL_SELECTED})
"""


def _grams(d: DataFrame) -> DataFrame:
    """(doc_id, pos, h): positioned 5-gram 32-bit hashes, row-local."""
    spark = d.sparkSession
    toks = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .where(F.size("t") >= _WIN_K)
        # Rebalance BEFORE the ~|t|× gram explode + md5 (the _occ
        # pitfall): a fixture corpus arrives as 1-2 input splits, so the
        # hashing would run on 1-2 cores; the shuffle moves only the
        # slim pre-explosion rows.
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(t) - {_WIN_K - 1}), "
                f"i -> concat_ws(' ', slice(t, i, {_WIN_K})))"
            )
        ).alias("pos", "g"),
    )
    return grams.select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5(F.col("g").cast("binary")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )


def _fingerprints(d: DataFrame) -> DataFrame:
    """Winnowed (doc_id, gram_hash, pos) selections."""
    key = (
        F.col("h") * (2**_POS_BITS)
        + (F.lit(2**_POS_BITS - 1) - F.col("pos"))
    ).alias("k")
    g = _grams(d).select("doc_id", "pos", key)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    n = Window.partitionBy("doc_id")
    sel = (
        g.select(
            "doc_id",
            "pos",
            F.min("k").over(w).alias("sel"),
            F.count(F.lit(1)).over(n).alias("n_grams"),
        )
        .where(
            # Loud overflow guard: the packed argmin key reserves
            # _POS_BITS bits for the position, so a document with
            # >= 2^20 grams would silently wrap pos into the hash field
            # and fingerprint INCORRECTLY. Such inputs must fail, not
            # corrupt — the guard rides the existing filter so Catalyst
            # cannot prune it away (no extra pass, no extra shuffle).
            F.when(
                F.col("n_grams") >= F.lit(2**_POS_BITS),
                F.raise_error(
                    F.concat(
                        F.lit("winnowing: document "),
                        F.col("doc_id").cast("string"),
                        F.lit(
                            f" has >= 2^{_POS_BITS} grams — packed"
                            " argmin position field would overflow"
                        ),
                    )
                ).cast("boolean"),
            ).otherwise(F.col("pos") <= F.col("n_grams") - _WIN_W)
        )
        .select(
            "doc_id",
            (F.col("sel") / (2**_POS_BITS))
            .cast("long")
            .alias("gram_hash"),
            (
                F.lit(2**_POS_BITS - 1)
                - (F.col("sel") % (2**_POS_BITS))
            )
            .cast("long")
            .alias("pos"),
        )
        .distinct()
    )
    return sel


@register("x_winnow_fingerprint", oracle=_WINNOW_ORACLE)
def x_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection: the minimum 5-gram hash in every
    sliding window of {w} grams (rightmost tie-break), deduplicated —
    the Schleimer/Wilkerson/Aiken local fingerprinting algorithm. Any
    shared substring of ≥ w + k − 1 = {g} tokens between two documents
    is GUARANTEED to share a selected hash, at ~2/(w+1) of the full
    gram index's size.

    Scale shape: gram hashing is row-local codegen; the ONLY data-grain
    shuffle is the per-document window sort (doc_id partitioning — the
    same shuffle any per-doc sequence op pays), and the windowed MIN is
    a bounded {w}-row sliding frame. Selection emits ~n/2.5 rows; the
    DISTINCT rides the same doc-grain exchange. Position and hash are
    packed into one exact BIGINT so the argmin needs no struct
    comparator on either engine.
    """
    return _fingerprints(load(spark, sf_dir, "documents"))


x_winnow_fingerprint.__doc__ = x_winnow_fingerprint.__doc__.format(
    w=_WIN_W, g=_WIN_W + _WIN_K - 1
)


_MATCHES_ORACLE = f"""
WITH fp AS ({_SQL_SELECTED})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(DISTINCT a.gram_hash) AS BIGINT) AS n_shared
FROM fp a JOIN fp b
  ON a.gram_hash = b.gram_hash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(DISTINCT a.gram_hash) >= 2
"""


@register("x_winnow_matches", oracle=_MATCHES_ORACLE)
def x_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-contamination candidates: document pairs sharing ≥ 2
    winnowed fingerprints — the MOSS match step. Because winnowing
    guarantees detection of ≥ 8-token shared substrings, this candidate
    list is a superset of every such overlap, at fingerprint-index (not
    full-gram-index) cost.

    Scale shape: the self-join key is the 32-bit gram hash; fan-out is
    Σ df² over FINGERPRINT document frequency — winnowing keeps ~40% of
    grams, and organic df is near 1, so the pair space is collision-
    bounded exactly like the MinHash band joins (x_dedup_near). The
    distinct-count rides the pair-grain aggregate; no text moves after
    the gram projection.
    """
    fp = _fingerprints(load(spark, sf_dir, "documents")).select(
        "doc_id", "gram_hash"
    )
    a = fp.alias("a")
    b = fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.gram_hash") == F.col("b.gram_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.countDistinct("a.gram_hash").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


# ---------------------------------------------------------------------------
# s_winnow_matches — incremental fingerprint index + match accumulation
# ---------------------------------------------------------------------------


@register("s_winnow_matches", oracle=_MATCHES_ORACLE)
def s_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING winnowing decontamination — the ingest loop: documents
    arrive in 4 doc_id-ordered micro-batches; each batch winnows its own
    grams (row-local, O(|batch|)), joins its fingerprints against the
    ACCUMULATED index plus smaller-id docs of the same batch (arrival
    order is precedence, so every cross-batch pair meets exactly once,
    old-vs-new), appends the shared-hash evidence, and appends its
    fingerprints to the index. The standing corpus is never re-grammed
    and never self-joined — per batch the work is O(|batch| + hash
    collisions), the s_dedup_near shape at fingerprint (40% of gram)
    grain.

    Because fingerprints are deterministic per document and the pair
    space {(a,b): a<b} is covered exactly once by index-vs-batch plus
    within-batch precedence, the accumulated ≥2-shared match list
    equals the batch x_winnow_matches EXACTLY — certified by sharing
    its full oracle.

    The per-batch index slices are localCheckpointed once at arrival
    (block-manager-resident longs, the s_dedup_near layout); the
    at-scale sink is bucketBy(gram_hash) parquet appends, a sink change
    not a plan change.
    """
    from .streaming import documents_stream, run_foreach_batch, stage_table

    staged = stage_table(spark, sf_dir, "winnow")

    index_slices: list[DataFrame] = []
    pair_slices: list[DataFrame] = []

    def fold_batch(batch_df: DataFrame, epoch_id: int) -> None:
        fp = (
            _fingerprints(batch_df)
            .select("doc_id", "gram_hash")
            .materialize(eager=True)
        )
        # Pair slices stay LAZY (they derive only from the checkpointed
        # per-batch fingerprint slices, so deferral recomputes nothing):
        # the per-trigger loop does arrival-state work only, and every
        # batch's match join runs once in the final aggregate's query,
        # outside the stream's bounded shuffle-partition conf. The NEW
        # batch side is broadcast — batch-bounded by construction — so
        # the standing index is streamed, never shuffled (guide §3.1).
        if index_slices:
            from functools import reduce

            older = reduce(lambda a, b: a.unionByName(b), index_slices)
            cross = older.alias("o").join(
                F.broadcast(fp.alias("n")),
                F.col("o.gram_hash") == F.col("n.gram_hash"),
            )
            pair_slices.append(
                cross.select(
                    F.col("o.doc_id").alias("doc_a"),
                    F.col("n.doc_id").alias("doc_b"),
                    F.col("n.gram_hash").alias("gram_hash"),
                )
            )
        within = fp.alias("a").join(
            F.broadcast(fp.alias("b")),
            (F.col("a.gram_hash") == F.col("b.gram_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        pair_slices.append(
            within.select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.gram_hash").alias("gram_hash"),
            )
        )
        index_slices.append(fp)

    run_foreach_batch(documents_stream(spark, staged), fold_batch)

    from functools import reduce

    pairs = reduce(lambda a, b: a.unionByName(b), pair_slices)
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.countDistinct("gram_hash").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )
