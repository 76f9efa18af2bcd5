"""Round-4 operators: as-of(nearest) join, zone-map data skipping,
n-gram LM counts, time-series interpolation, blocked k-NN join.

Each widens an existing family with the variant a reference user (or a
training-data pipeline at 100 TB) would reach for next:

- ``q_join_asof_nearest`` — pandas ``merge_asof(direction='nearest')``
  parity; completes backward (`q_join_asof`) with the two-sided case.
- ``x_zonemap_skip`` — file-level min/max data skipping (the zone-map /
  lakehouse-manifest pattern) made explicit and plan-testable.
- ``x_ngram_counts`` — corpus bigram counts, the unit of LM data
  analysis (vocabulary building, contamination fingerprints).
- ``q_interpolate`` — linear gap interpolation over a daily series
  (the reporting counterpart of q_gap_fill's zero-fill).
- ``x_knn_join_blocked`` — k-NN JOIN (every vector → top-k neighbors)
  with label blocking: exact within block, block-bounded at scale.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register, sql_dsum, dsum
from ..scratch import stage


# ---------------------------------------------------------------------------
# §2.C family: as-of join, direction = nearest
# ---------------------------------------------------------------------------

_ASOF_NEAREST_ORACLE = """
WITH marked AS (
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
           MAX(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_v,
           MIN(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_v
    FROM events
)
SELECT event_id, user_id, ts,
       CASE
         WHEN prev_v IS NULL THEN next_v
         WHEN next_v IS NULL THEN prev_v
         WHEN epoch_us(ts) - epoch_us(prev_v)
              <= epoch_us(next_v) - epoch_us(ts) THEN prev_v
         ELSE next_v
       END AS nearest_view_ts
FROM marked
WHERE event_type = 'purchase'
"""


@register("q_join_asof_nearest", oracle=_ASOF_NEAREST_ORACLE)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, direction = NEAREST: each purchase matched to the
    closest 'view' of the same user in either time direction (ties go
    backward — deterministic, matching pandas ``merge_asof``'s
    backward preference).

    Same single-pass shape as ``q_join_asof``: one window partition per
    user carries a running backward MAX and a forward MIN of view
    timestamps — ONE shuffle, no self-join, no per-row search. The
    CASE resolves direction in microsecond space so both engines
    compare identical integers.
    """
    e = load(spark, sf_dir, "events")
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_prev = base.rowsBetween(Window.unboundedPreceding, -1)
    w_next = base.rowsBetween(1, Window.unboundedFollowing)
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    prev_v = F.max(view_ts).over(w_prev)
    next_v = F.min(view_ts).over(w_next)
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    nearest = (
        F.when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .when(us(F.col("ts")) - us(prev_v) <= us(next_v) - us(F.col("ts")), prev_v)
        .otherwise(next_v)
    )
    return (
        e.withColumn("nearest_view_ts", nearest)
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "nearest_view_ts")
    )


# ---------------------------------------------------------------------------
# §2.A family: zone-map (file min/max) data skipping
# ---------------------------------------------------------------------------

_ZONEMAP_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice BETWEEN 200000 AND 250000
"""

_ZONE_FILES = 16
_ZONE_LO, _ZONE_HI = 200_000.0, 250_000.0


def _zonemap_stage(spark: SparkSession, sf_dir: str) -> Path:
    """Range-sorted parquet layout of orders, fingerprint-cached (the
    write happens once per fixture; every later call only reads)."""

    def _build(tmp: Path) -> None:
        import json
        import os as _os

        (
            load(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice")
            .repartitionByRange(_ZONE_FILES, "o_totalprice", "o_orderkey")
            .sortWithinPartitions("o_totalprice", "o_orderkey")
            .write.mode("overwrite")
            .parquet(str(tmp))
        )
        # zone stats are computed at WRITE time and persisted beside the
        # data — the manifest discipline of Delta/Iceberg (and what
        # parquet footers already hold). Readers never scan to learn
        # the zones.
        zones = (
            spark.read.parquet(str(tmp))
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                F.min("o_totalprice").alias("lo"),
                F.max("o_totalprice").alias("hi"),
            )
            .collect()
        )
        (tmp / "_zones.json").write_text(
            json.dumps(
                {
                    "o_totalprice": [
                        [_os.path.basename(r["f"]), r["lo"], r["hi"]]
                        for r in zones
                    ]
                }
            )
        )

    # v2: the manifest records relative basenames (the stage is built in
    # a temp sibling and renamed into place, so absolute paths recorded
    # at build time would go stale)
    return stage("zonemap", sf_dir, "orders", _build, _ZONE_FILES, "v2")


def zonemap_pruned_scan(
    spark: SparkSession, stage: str, column: str, lo: float, hi: float
) -> tuple[DataFrame, int, int]:
    """Read only the files whose [min,max] zone intersects [lo,hi].

    Zones come from the ``_zones.json`` manifest written at stage time
    (at warehouse scale: the format's manifest / parquet footer stats) —
    selection is a metadata-scale driver step, with a one-aggregate
    fallback for layouts written before the manifest existed.
    """
    import json

    manifest = Path(stage) / "_zones.json"
    if manifest.exists():
        # manifest paths are relative basenames (v2); absolute entries
        # from pre-v2 layouts pass through os.path.join unchanged
        zones = [
            {"f": os.path.join(stage, f), "lo": zlo, "hi": zhi}
            for f, zlo, zhi in json.loads(manifest.read_text())[column]
        ]
    else:  # pre-manifest layout: derive zones with one aggregate
        zones = [
            r.asDict()
            for r in spark.read.parquet(stage)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.min(column).alias("lo"), F.max(column).alias("hi"))
            .collect()
        ]
    hit = [z["f"] for z in zones if z["hi"] >= lo and z["lo"] <= hi]
    pruned = (
        spark.read.parquet(*hit)
        if hit
        else spark.read.parquet(stage).limit(0)
    )
    return pruned, len(hit), len(zones)


@register("x_zonemap_skip", oracle=_ZONEMAP_ORACLE)
def x_zonemap_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level min/max data skipping (zone maps), made explicit.

    Partition pruning (``x_partition_prune``) skips DIRECTORIES by
    partition value; zone maps skip FILES by column statistics — the
    mechanism behind Delta/Iceberg data skipping and parquet row-group
    pruning, and the reason the Z-order layout (``x_zorder``) pays off.
    The layout stage range-sorts orders by price into {n} files; a
    price-band predicate then selects only the 1-3 files whose zones
    intersect, and the exact filter inside those files returns a result
    identical to the full-scan oracle. tests assert the file subset is
    a strict minority of the layout.

    At 100 TB: zones come from the format's manifest (no stats scan),
    selection stays metadata-scale, and the same BETWEEN reads a few
    files instead of the table.
    """
    stage = _zonemap_stage(spark, sf_dir)
    pruned, _, _ = zonemap_pruned_scan(
        spark, str(stage), "o_totalprice", _ZONE_LO, _ZONE_HI
    )
    return pruned.where(
        F.col("o_totalprice").between(_ZONE_LO, _ZONE_HI)
    ).select("o_orderkey", "o_totalprice")


x_zonemap_skip.__doc__ = x_zonemap_skip.__doc__.format(n=_ZONE_FILES)


# ---------------------------------------------------------------------------
# §2.J family: n-gram language-model counts
# ---------------------------------------------------------------------------

_NGRAM_ORACLE = """
WITH toks AS (
    SELECT doc_id, tok, ord
    FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok,
               generate_subscripts(
                   string_split_regex(lower(text), '[^a-z]+'), 1) AS ord
        FROM documents
    )
    WHERE tok <> ''
), seq AS (
    SELECT doc_id, tok,
           LEAD(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS nxt
    FROM toks
)
SELECT tok || ' ' || nxt AS bigram, COUNT(*) AS n
FROM seq
WHERE nxt IS NOT NULL
GROUP BY 1
HAVING COUNT(*) >= 5
"""


@register("x_ngram_counts", oracle=_NGRAM_ORACLE)
def x_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts ≥5 — the n-gram statistic under vocabulary
    building, contamination fingerprints, and classic LM data work.

    All codegen builtins: lowercase split → in-array bigram assembly via
    ``transform`` over an index ``sequence`` (no explode-then-self-join,
    no window over the token stream — each doc's bigrams materialize
    inside its own row before ONE explode), then a hash count. The only
    shuffle is the final (bigram) aggregate, with map-side partials.
    The DuckDB oracle uses LEAD over exploded tokens — a deliberately
    different construction proving the same semantics.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != ""
    )
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1), "
        "i -> concat(toks[i - 1], ' ', toks[i]))"
    )
    return (
        d.select(toks.alias("toks"))
        .where(F.size("toks") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 5)
    )


# ---------------------------------------------------------------------------
# §2.E/GA family: linear interpolation over a gapped daily series
# ---------------------------------------------------------------------------

_INTERPOLATE_ORACLE = f"""
WITH daily AS (
    SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           {sql_dsum("value", "v")}
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
), masked AS (
    SELECT day,
           CASE WHEN (day - DATE '2024-01-01') % 3 = 0
                THEN NULL ELSE v END AS v
    FROM daily
), nbrs AS (
    SELECT day, v,
           MAX(CASE WHEN v IS NOT NULL THEN day END)
               OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prev_day,
           LAST_VALUE(v IGNORE NULLS)
               OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prev_v,
           MIN(CASE WHEN v IS NOT NULL THEN day END)
               OVER (ORDER BY day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_day,
           FIRST_VALUE(v IGNORE NULLS)
               OVER (ORDER BY day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_v
    FROM masked
)
SELECT day,
       CASE
         WHEN v IS NOT NULL THEN v
         WHEN prev_v IS NULL THEN next_v
         WHEN next_v IS NULL THEN prev_v
         ELSE prev_v + (next_v - prev_v)
              * (day - prev_day) / (next_day - prev_day)
       END AS v_filled,
       CAST(v IS NULL AS BIGINT) AS was_gap
FROM nbrs
"""


@register("q_interpolate", oracle=_INTERPOLATE_ORACLE)
def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across series gaps — the continuous
    counterpart of ``q_gap_fill``'s zero-fill (sensor/metric series
    where a missing day means 'unobserved', not 'zero').

    Every third day of the daily purchase-value series is masked (a
    deterministic synthetic gap — the fixtures have no naturally missing
    days), then each gap is filled by interpolating between the nearest
    observed neighbors: two IGNORE NULLS window passes (backward
    last-value, forward first-value) and a closed-form lerp — never a
    per-gap loop or join.

    The window is day-grain (≤ a few hundred rows after the first
    aggregate), so its single partition is metadata-scale by
    construction; a per-series version partitions by series id.
    """
    e = load(spark, sf_dir, "events")
    daily = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("timestamp").cast("date").alias("day"))
        .agg(dsum("value", "v"))
    )
    masked = daily.withColumn(
        "v",
        F.when(
            F.datediff("day", F.lit("2024-01-01").cast("date")) % 3 == 0,
            F.lit(None),
        ).otherwise(F.col("v")),
    )
    back = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    fwd = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    prev_day = F.max(obs_day).over(back)
    prev_v = F.last("v", ignorenulls=True).over(back)
    next_day = F.min(obs_day).over(fwd)
    next_v = F.first("v", ignorenulls=True).over(fwd)
    lerp = prev_v + (next_v - prev_v) * (
        F.datediff("day", prev_day) / F.datediff(next_day, prev_day)
    )
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(lerp)
    )
    return masked.select(
        "day",
        filled.alias("v_filled"),
        F.col("v").isNull().cast("bigint").alias("was_gap"),
    )


# ---------------------------------------------------------------------------
# §2.J family: k-NN JOIN with label blocking
# ---------------------------------------------------------------------------

def _knn_join_oracle() -> str:
    from .round5b import ivf_oracle_ctes

    return f"""
WITH em AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
){ivf_oracle_ctes()}, aug AS (
    SELECT e.vec_id, e.label, e.emb, a.cluster
    FROM em e JOIN assign a USING (vec_id)
), scored AS (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cos_r
    FROM aug a
    JOIN aug b ON a.label = b.label AND a.cluster = b.cluster
              AND a.vec_id <> b.vec_id
)
SELECT a_id, b_id, cos_r, rank FROM (
    SELECT a_id, b_id, cos_r,
           CAST(ROW_NUMBER() OVER (PARTITION BY a_id
                                   ORDER BY cos_r DESC, b_id) AS BIGINT)
               AS rank
    FROM scored
)
WHERE rank <= 3
"""


@register("x_knn_join_blocked", oracle=_knn_join_oracle())
def x_knn_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked k-NN JOIN: every vector gets its top-3 cosine neighbors
    among same-label vectors in its IVF cell — the all-pairs version of
    similarity search that embedding dedup and semantic clustering
    actually consume (``x_sim_knn*`` answer one query; this answers all
    of them).

    Blocking = (label, IVF cell) where the cell comes from
    :func:`~..round5b.ivf_seeds` with **k = ⌈√n⌉** Lloyd-refined
    centroids: candidate pairs form ONLY within a block, so the pair
    space is Σ|block|² ≈ n^1.5/|labels| at ANY corpus size — blocking
    on the 10 fixed labels alone would degenerate to n²/10 the moment
    n grows. Within a block the join is exact: a hash join on the
    block key with the dot product as a ``zip_with``/``aggregate``
    codegen fold (no UDF), then one per-vector window for top-k.
    Cosines are rounded to 6 dp BEFORE ranking on both engines —
    double-summation order across engines differs in the last ulps,
    and ranking on the rounded value with a b_id tiebreaker makes the
    cross-engine order identical.

    At 100 TB: the window partitions by vector id (no global sort); the
    block join shuffles (block, vec) once; skewed blocks split via AQE;
    the k×d seed table stays broadcast metadata.
    """
    return knn_join(load(spark, sf_dir, "embeddings"))


def knn_join(e: DataFrame) -> DataFrame:
    """Core of :func:`x_knn_join_blocked` over any (vec_id, embedding,
    label) frame (stress tests feed scaled copies)."""
    from .round5b import seed_assign

    assign = seed_assign(e.select("vec_id", "embedding", "label"))
    a = assign.select(
        "label",
        "cluster",
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = assign.select(
        "label",
        "cluster",
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(
            "va", "vb", lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        a.join(b, ["label", "cluster"])
        .where(F.col("a_id") != F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cos_r"),
        )
    )
    w = Window.partitionBy("a_id").orderBy(F.desc("cos_r"), "b_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 3)
        .select("a_id", "b_id", "cos_r", "rank")
    )


# ---------------------------------------------------------------------------
# §2.C/SQL surface: LATERAL correlated subquery join
# ---------------------------------------------------------------------------

_LATERAL_ORACLE = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c, LATERAL (
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 2
) o
"""


@register("q_lateral_topk", oracle=_LATERAL_ORACLE)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: each customer's top-2 orders by
    price, written as the per-row subquery users actually type.

    Catalyst's DecorrelateInnerQuery rewrites the LATERAL into exactly
    the scalable hand-built plan — WindowGroupLimit (partial+final
    top-k, no full sort) over orders, then one join back to customer —
    so the convenient SQL costs nothing versus ``q_topk_per_group`` +
    join. Identical SQL runs on both engines.
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView("__lat_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("__lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM __lat_customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM __lat_orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) o
        """
    )


# ---------------------------------------------------------------------------
# §2.J family: term co-occurrence with PMI
# ---------------------------------------------------------------------------

_PMI_ORACLE = """
WITH toks AS (
    SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
        FROM documents
    ) WHERE tok <> ''
), n_docs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
freq AS (
    SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok
    HAVING COUNT(*) * 20 >= (SELECT n FROM n_docs)
), ft AS (
    SELECT t.doc_id, t.tok, f.df FROM toks t JOIN freq f USING (tok)
), pairs AS (
    SELECT a.tok AS t1, b.tok AS t2,
           ANY_VALUE(a.df) AS df1, ANY_VALUE(b.df) AS df2,
           COUNT(*) AS n_ab
    FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.tok < b.tok
    GROUP BY a.tok, b.tok
)
SELECT t1, t2, n_ab,
       ROUND(LN(CAST(n_ab AS DOUBLE) * (SELECT n FROM n_docs)
                / (CAST(df1 AS DOUBLE) * df2)), 6) AS pmi
FROM pairs
WHERE n_ab * 100 >= (SELECT n FROM n_docs)
"""


@register("x_cooccur_pmi", oracle=_PMI_ORACLE)
def x_cooccur_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term co-occurrence PMI over the corpus — the association
    statistic under collocation mining, topic seeding, and LM
    vocabulary analysis: PMI(a,b) = ln(P(a,b) / (P(a)P(b))) at document
    granularity.

    Shape: dedup to the (doc, term) incidence set FIRST (one shuffle,
    output bounded by docs × vocabulary), restrict to frequent terms
    (df ≥ N/20 — the candidate cap that keeps the pair space
    Σ per-doc frequent-terms², never |vocab|²), self-join within doc,
    count pairs, close-form PMI. Same exact-integer inputs on both
    engines; ln() rounded to 6 dp for cross-engine float safety.
    """
    d = load(spark, sf_dir, "documents")
    n_docs = d.select("doc_id").distinct().count()
    toks = (
        d.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda t: t != "",
                )
            ).alias("tok"),
        )
        .distinct()
    )
    freq = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") * 20 >= n_docs)
    )
    ft = toks.join(F.broadcast(freq), "tok")
    a = ft.select("doc_id", F.col("tok").alias("t1"), F.col("df").alias("df1"))
    b = ft.select("doc_id", F.col("tok").alias("t2"), F.col("df").alias("df2"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(
            F.any_value("df1").alias("df1"),
            F.any_value("df2").alias("df2"),
            F.count(F.lit(1)).alias("n_ab"),
        )
        .where(F.col("n_ab") * 100 >= n_docs)
    )
    pmi = F.round(
        F.log(
            F.col("n_ab").cast("double")
            * n_docs
            / (F.col("df1").cast("double") * F.col("df2"))
        ),
        6,
    )
    return pairs.select("t1", "t2", "n_ab", pmi.alias("pmi"))


# ---------------------------------------------------------------------------
# §2.J family: BM25 ranked retrieval
# ---------------------------------------------------------------------------

_BM25_ORACLE = """
WITH toks AS (
    SELECT doc_id, tok FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
        FROM documents
    ) WHERE tok <> ''
), doclen AS (
    SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id
), stats AS (
    SELECT COUNT(*) AS n_docs, AVG(CAST(len AS DOUBLE)) AS avg_len
    FROM doclen
), qterms AS (
    SELECT tok FROM (
        SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
        ORDER BY c DESC, tok LIMIT 3
    )
), tf AS (
    SELECT t.doc_id, t.tok, COUNT(*) AS tf
    FROM toks t JOIN qterms q USING (tok)
    GROUP BY 1, 2
), df AS (
    SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok
)
SELECT doc_id,
       ROUND(SUM(
           LN((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * tf.tf * 2.2
           / (tf.tf + 1.2 * (0.25 + 0.75 * l.len / s.avg_len))
       ), 6) AS bm25
FROM tf
JOIN df d USING (tok)
JOIN doclen l USING (doc_id)
CROSS JOIN stats s
GROUP BY doc_id
"""


@register("x_bm25", oracle=_BM25_ORACLE)
def x_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document scoring for the corpus's 3 most frequent terms —
    the ranked-retrieval upgrade of ``x_tfidf`` (saturating tf, length
    normalization; k1=1.2, b=0.75, the Robertson defaults).

    Everything reduces to small aggregates before any join: the
    (doc, term) tf table is bounded by docs × |query|, df and corpus
    stats are scalars/3-row frames (broadcast). The query-term choice
    (top-3 by raw count, alpha tiebreak) is itself data-derived and
    identical cross-engine, so the whole computation carries a full
    hash oracle; ln rounded at 6 dp as usual.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != ""
            )
        ).alias("tok"),
    )
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    st = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("len").cast("double")).alias("avg_len"),
    ).first()
    n_docs, avg_len = st["n_docs"], st["avg_len"]
    qterms = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(3)
        .select("tok")
    )
    tf = (
        toks.join(F.broadcast(qterms), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log((n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    score = idf * F.col("tf") * 2.2 / (
        F.col("tf")
        + 1.2 * (0.25 + 0.75 * F.col("len") / F.lit(avg_len))
    )
    return (
        tf.join(F.broadcast(df_t), "tok")
        .join(doclen, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(F.sum(score), 6).alias("bm25"))
    )


# ---------------------------------------------------------------------------
# §2.J family: embedding scalar quantization
# ---------------------------------------------------------------------------

_QUANTIZE_ORACLE = """
WITH v AS (
    SELECT vec_id,
           CAST(unnest(embedding) AS DOUBLE) AS val,
           generate_subscripts(embedding, 1) AS dim
    FROM embeddings
), rng AS (
    SELECT dim, MIN(val) AS lo, MAX(val) AS hi FROM v GROUP BY dim
), q AS (
    SELECT v.vec_id, v.val,
           LEAST(255, GREATEST(0,
               CAST(ROUND((v.val - r.lo) / (r.hi - r.lo) * 255) AS INT)
           )) AS code,
           r.lo, r.hi
    FROM v JOIN rng r USING (dim)
)
SELECT vec_id,
       ROUND(MAX(ABS(val - (lo + CAST(code AS DOUBLE) / 255 * (hi - lo)))),
             6) AS max_err,
       CAST(SUM(code) AS BIGINT) AS code_sum
FROM q
GROUP BY vec_id
"""


@register("x_embed_quantize", oracle=_QUANTIZE_ORACLE)
def x_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 scalar quantization of the embedding corpus —
    the compression step in front of every large vector index (4× over
    float32) — with its reconstruction-error audit.

    Per-dim [min,max] ranges (a 64-row broadcast) map each value to a
    0..255 code; the audit dequantizes and reports each vector's max
    absolute error plus its code checksum — both deterministic integer/
    double arithmetic, so the whole pipeline hash-checks cross-engine.
    Shape: posexplode → (dim) aggregate → broadcast join back → (vec)
    aggregate; nothing wider than the corpus itself ever shuffles.
    """
    e = load(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        F.posexplode("embedding").alias("dim", "val_f"),
    ).select("vec_id", "dim", F.col("val_f").cast("double").alias("val"))
    rng = v.groupBy("dim").agg(
        F.min("val").alias("lo"), F.max("val").alias("hi")
    )
    q = v.join(F.broadcast(rng), "dim").select(
        "vec_id",
        "val",
        "lo",
        "hi",
        F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.round((F.col("val") - F.col("lo"))
                        / (F.col("hi") - F.col("lo")) * 255).cast("int"),
            ),
        ).alias("code"),
    )
    err = F.abs(
        F.col("val")
        - (F.col("lo") + F.col("code").cast("double") / 255
           * (F.col("hi") - F.col("lo")))
    )
    return q.groupBy("vec_id").agg(
        F.round(F.max(err), 6).alias("max_err"),
        F.sum("code").cast("bigint").alias("code_sum"),
    )
