"""Round-4 operators, sixth batch: exact Gram/covariance matrix (the
statistics pass in front of PCA/whitening) and discrete percentiles.

- ``x_gram_matrix`` — the d×d Gram matrix of the embedding corpus from
  EXACT scaled-integer products: the one-pass, shuffle-light statistic
  every linear projection (PCA, whitening, random-projection QA) needs;
  paired with :func:`pca_top_component`, a driver-side power iteration
  over the collected (bounded, d²) matrix.
- ``q_percentile_disc`` — discrete percentiles (an actual data value,
  not an interpolation) per group, built from an explicit rank
  construction that both engines execute identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register

_GRAM_SCALE = 10_000_000  # same 1e7 grid as x_embed_centroids / x_kmeans

_GRAM_ORACLE = """
WITH v AS (
    -- DuckDB lambda indexes are 1-based; Spark posexplode is 0-based
    SELECT vec_id,
           s.dim - 1 AS dim,
           CAST(ROUND(CAST(s.val AS DOUBLE) * 10000000) AS BIGINT) AS sv
    FROM (SELECT vec_id,
                 unnest(list_transform(embedding,
                     (x, i) -> {'dim': i, 'val': x})) AS s
          FROM embeddings)
)
SELECT a.dim AS i, b.dim AS j,
       CAST(SUM(CAST(a.sv AS DECIMAL(38,0)) * b.sv) AS DOUBLE)
           / 10000000 / 10000000 AS g
FROM v a JOIN v b ON a.vec_id = b.vec_id AND a.dim <= b.dim
GROUP BY i, j
"""


@register("x_gram_matrix", oracle=_GRAM_ORACLE)
def x_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gram matrix XᵀX of the embedding corpus (upper triangle,
    d(d+1)/2 = 2080 rows) — the statistics pass in front of PCA,
    whitening, or linear-probe training, reduced to one join + one
    hash aggregate whose output is BOUNDED BY d², not n.

    Exactness: values snap to the 1e7 grid (the corpus quantization
    step every embedding op here shares), products are summed as
    DECIMAL(38,0) — associative, overflow-safe to ~10³⁸ (a 100 TB
    corpus peaks around 10²⁴) — and the only float division is the
    final fixed-shape descale. Both engines produce bit-identical
    doubles, no rounding tricks needed.

    Shape: explode to (vec, dim, val), self-join on vec_id (row-local
    — Spark co-partitions both sides on vec_id in one shuffle), then
    the (i, j) aggregate with map-side partial combine. The d² output
    is what :func:`pca_top_component` collects for the driver-side
    power iteration (bounded metadata, the bloom-bitmap contract).
    """
    em = load(spark, sf_dir, "embeddings")
    v = em.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _GRAM_SCALE).cast("long"),
            )
        ).alias("dim", "sv"),
    )
    a = v.select(
        "vec_id", F.col("dim").cast("bigint").alias("i"), F.col("sv").alias("sa")
    )
    b = v.select(
        "vec_id", F.col("dim").cast("bigint").alias("j"), F.col("sv").alias("sb")
    )
    return (
        a.join(b, "vec_id")
        .where(F.col("i") <= F.col("j"))
        .groupBy("i", "j")
        .agg(
            (
                # long multiply (product ≤ (scale·max|x|)² ≈ 3e14 ≪ 2⁶³,
                # exact), decimal only for the exact cross-row sum — the
                # per-term BigDecimal multiply measured ~2.7× slower on
                # the n·d² product rows (x_power_iteration's G stage)
                F.sum(
                    (F.col("sa") * F.col("sb")).cast("decimal(38,0)")
                ).cast("double")
                / _GRAM_SCALE
                / _GRAM_SCALE
            ).alias("g")
        )
    )


def pca_top_component(spark: SparkSession, sf_dir: str, iters: int = 2000):
    """Driver-side power iteration over the collected Gram matrix:
    returns (eigenvalue, unit eigenvector as list[float]).

    The distributed work is :func:`x_gram_matrix` (one pass over the
    corpus); the iteration itself touches only the d×d matrix — doing
    it on the driver is the correct scale decision, not a shortcut
    (d² doubles ≪ one Arrow batch; 2000 matvecs of a 64×64 matrix cost
    microseconds and cover small spectral gaps). Deterministic: fixed
    iteration count, fixed all-ones start vector (no randomness)."""
    import numpy as np

    rows = x_gram_matrix(spark, sf_dir).collect()
    d = max(r["j"] for r in rows) + 1
    G = np.zeros((d, d))
    for r in rows:
        G[r["i"], r["j"]] = r["g"]
        G[r["j"], r["i"]] = r["g"]
    v = np.ones(d) / np.sqrt(d)
    for _ in range(iters):
        w = G @ v
        v = w / np.linalg.norm(w)
    return float(v @ G @ v), [float(x) for x in v]


# ---------------------------------------------------------------------------
# q_percentile_disc — discrete percentiles per group
# ---------------------------------------------------------------------------

_PDISC_ORACLE = """
WITH ranked AS (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
)
SELECT event_type,
       MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN value END)
           AS p50_disc,
       MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT) THEN value END)
           AS p90_disc,
       MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN value END)
           AS p99_disc
FROM ranked
GROUP BY event_type
"""


@register("q_percentile_disc", oracle=_PDISC_ORACLE)
def q_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles per group — the quantile that is an actual
    observed value (p50/p90/p99 of event value per type), defined as
    the element at rank ⌈p·n⌉ of the (value, event_id)-ordered group.
    Continuous interpolation (``q_percentiles``) invents values between
    observations; latency-style SLO reporting wants this form instead.

    The explicit rank construction (row_number + one conditional
    aggregate) is executed identically by both engines — no reliance
    on either engine's quantile_disc tie-breaking. One window shuffle
    on the group key, one aggregate; at scale the window partitions by
    group, never globally.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def at(p: float, alias: str):
        target = F.ceil(F.lit(p) * F.col("n")).cast("bigint")
        return F.max(F.when(F.col("rn") == target, F.col("value"))).alias(alias)

    return ranked.groupBy("event_type").agg(
        at(0.5, "p50_disc"), at(0.9, "p90_disc"), at(0.99, "p99_disc")
    )


# ---------------------------------------------------------------------------
# x_langid_confusion — classifier evaluation as an operator
# ---------------------------------------------------------------------------


def _langid_confusion_oracle() -> str:
    from .extensions import _LANG_ID_ORACLE

    return f"""
WITH pred AS ({_LANG_ID_ORACLE})
SELECT lang_fixture, lang_pred,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN lang_pred = lang_fixture THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS frac_correct
FROM pred
GROUP BY lang_fixture, lang_pred
"""


@register("x_langid_confusion", oracle=_langid_confusion_oracle())
def x_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword language-ID classifier
    (``x_lang_id``) against the fixture's true labels — classifier
    EVALUATION as a first-class operator, the same evidence pattern as
    ``x_ann_recall``: the driver hash certifies predictions, truth
    join, and the per-cell counts end to end. ``frac_correct`` is 1.0
    on diagonal cells and 0.0 off-diagonal by construction (one IEEE
    division of exact counts), which double-checks the grouping.

    Shape: the classifier is a codegen projection (no shuffle); the
    confusion matrix is one |langs|²-bounded hash aggregate.
    """
    from .extensions import x_lang_id

    pred = x_lang_id(spark, sf_dir)
    return pred.groupBy("lang_fixture", "lang_pred").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(
                F.when(F.col("lang_pred") == F.col("lang_fixture"), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("frac_correct"),
    )


# ---------------------------------------------------------------------------
# x_dedup_eval — MinHash-LSH precision/recall certification
# ---------------------------------------------------------------------------


def _dedup_eval_oracle() -> str:
    from .extensions import _NEAR_CTES

    return f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text
    FROM documents WHERE doc_id < 10
), {_NEAR_CTES},
e AS (
    SELECT doc_id, unnest(hsig) AS h FROM hset
), blockable AS (
    SELECT h FROM e GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 20
), tcand AS (
    SELECT DISTINCT e1.doc_id AS doc_a, e2.doc_id AS doc_b
    FROM e e1 JOIN blockable USING (h) JOIN e e2 USING (h)
    WHERE e1.doc_id < e2.doc_id
), truth AS (
    SELECT doc_a, doc_b
    FROM tcand
    JOIN hset s1 ON s1.doc_id = doc_a
    JOIN hset s2 ON s2.doc_id = doc_b
    WHERE ROUND(CAST(len(list_intersect(s1.hsig, s2.hsig)) AS DOUBLE)
                / len(list_distinct(list_concat(s1.hsig, s2.hsig))), 6)
          >= 0.5
), lsh_pos AS (
    SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5
), counts AS (
    SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM verified) AS n_candidates,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM lsh_pos) AS n_positive,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
        (SELECT CAST(COUNT(*) AS BIGINT)
         FROM lsh_pos JOIN truth USING (doc_a, doc_b)) AS n_hit
)
SELECT n_candidates, n_positive, n_truth, n_hit,
       CAST(n_positive AS DOUBLE) / n_candidates AS precision_cand,
       CAST(n_hit AS DOUBLE) / n_truth AS recall
FROM counts
"""


@register("x_dedup_eval", oracle=_dedup_eval_oracle())
def x_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH accuracy certification — the dedup member of the
    evidence trilogy (sketch bounds → ``x_sketch_*``, ANN recall →
    ``x_ann_recall``, near-dup precision/recall → here). Both engines
    recompute the LSH candidate set, its exact-Jaccard verification,
    a blocked ground truth (pairs sharing any shingle-hash with
    2 ≤ df ≤ 20, verified exactly at ≥ 0.5 — a true ≥0.5 pair with
    EVERY common shingle above df 20 would be missed, which real
    near-dups at this corpus size never are; the construction is
    shared by both engines so the comparison is apples-to-apples),
    and the overlap — one row of exact counts plus two IEEE ratios:
    candidate precision (how much of the band join's output survives
    verification) and recall against blocked truth.

    Scale: reuses the banded-LSH plan (bucket-keyed shuffle, pair
    space never n²); the truth side is the same inverted-index
    aggregate every dedup pass builds, df-capped to stay sparse. The
    two candidate sets are unioned and flagged, so each pair is
    verified once and one aggregate yields all four counts.
    """
    from .extensions import JACCARD_SQL, _minhash_parts

    parts = _minhash_parts(spark, sf_dir)
    hsig = parts["hsig"]

    # Bucket discipline (guide §2.3/§3, the x_semdedup_incremental
    # pattern): aggregate the inverted index to (h, [doc ids]) ONCE and
    # generate candidate pairs INSIDE each df-capped bucket row. The
    # pair space is every unordered pair sharing a hash with
    # 2 <= df <= 20 (size(ids) == COUNT(*) df because collect_list keeps
    # multiplicity); per-bucket fan-out is <= 20·19/2 rows.
    blk = (
        hsig.selectExpr("doc_id", "explode(hsig) AS h")
        .groupBy("h")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where("size(ids) BETWEEN 2 AND 20")
        .selectExpr("explode(ids) AS doc_a", "ids")
        .selectExpr("doc_a", "explode(ids) AS doc_b")
        .where("doc_a < doc_b")
    )
    # One row per pair, flagged by the set(s) it came from. Repartitioned
    # to the session parallelism (the x_containment shape): the pair
    # frame is a few MB of keys, so AQE would coalesce the set-op stage
    # to one task and the per-pair set op below would run
    # single-threaded. Hash-partitioning on the group key lets the
    # aggregate reuse this exchange.
    cand = (
        parts["pairs"]
        .selectExpr("doc_a", "doc_b", "true AS lsh", "false AS blk")
        .unionByName(blk.selectExpr("doc_a", "doc_b", "false AS lsh", "true AS blk"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.bool_or("lsh").alias("lsh"), F.bool_or("blk").alias("blk"))
    )
    s1 = hsig.selectExpr("doc_id AS doc_a", "hsig AS sh_a")
    s2 = hsig.selectExpr("doc_id AS doc_b", "hsig AS sh_b")
    return (
        cand.join(s1, "doc_a")
        .join(s2, "doc_b")
        .selectExpr("lsh", "blk", f"{JACCARD_SQL} >= 0.5 AS pos")
        .selectExpr(
            "count_if(lsh) AS n_candidates",
            "count_if(lsh AND pos) AS n_positive",
            "count_if(blk AND pos) AS n_truth",
            "count_if(lsh AND blk AND pos) AS n_hit",
        )
        .selectExpr(
            "n_candidates",
            "n_positive",
            "n_truth",
            "n_hit",
            "CAST(n_positive AS DOUBLE) / n_candidates AS precision_cand",
            "CAST(n_hit AS DOUBLE) / n_truth AS recall",
        )
    )


# ---------------------------------------------------------------------------
# q_explode_outer — generator null semantics
# ---------------------------------------------------------------------------

_EXPLODE_OUTER_ORACLE = """
WITH arr AS (
    SELECT doc_id,
           list_filter(str_split(text, ' '), w -> len(w) >= 8) AS longs
    FROM documents
), padded AS (
    SELECT doc_id,
           CASE WHEN len(longs) = 0 THEN [NULL] ELSE longs END AS longs
    FROM arr
)
SELECT doc_id, unnest(longs) AS long_word FROM padded
"""


@register("q_explode_outer", oracle=_EXPLODE_OUTER_ORACLE)
def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator NULL semantics: ``explode_outer`` keeps a row (with a
    NULL element) for documents whose long-word array is EMPTY — the
    difference between "flatten and silently drop childless parents"
    and the left-outer flatten an ETL join-back needs (plain
    ``explode`` would delete those documents from the output). The
    oracle emulates outer semantics by padding empty lists with
    ``[NULL]`` before unnest — the exact rewrite Spark's generator
    does internally. Codegen Generate node, shuffle-free.
    """
    d = load(spark, sf_dir, "documents")
    longs = F.filter(F.split("text", " "), lambda w: F.length(w) >= 8)
    return d.select(
        "doc_id", F.explode_outer(longs).alias("long_word")
    )
