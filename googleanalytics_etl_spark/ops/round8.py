"""Round-8 batch 1: streaming mergeability certifications for the other
two mergeable-sketch families (VERDICT r7 item 7) — the ``s_hll_merge``
pattern (per-batch sketch state folds into running state; the fold must
equal the whole-log batch sketch EXACTLY) applied to quantiles and to
theta-style distinct counting.

- ``s_kll_merge`` — mergeable-QUANTILE certification. The production
  KLL path (sketches.py, Spark's DataSketches ``kll_sketch_agg_double``
  / ``kll_merge_agg_double``) is randomized, so it can't be cross-engine
  hash-oracled (same reason ``q_approx_distinct`` is rows-only); its
  error bound is pytest-certified. This key certifies the identical
  MERGE algebra on the deterministic twin: a fixed-grid equi-width
  histogram (a compactor-free KLL level 0). Per micro-batch the batch's
  bin counts are computed distributed (groupBy-SUM); the driver folds
  them by integer addition (counts form a commutative monoid — the
  property that lets a 100 TB quantile roll up per partition/hour with
  ~B ints of state and no re-scan). The folded histogram answers
  p50/p90/p99 by upper-bin-edge rank search, and each answer carries a
  RANK certification computed from the raw table: the count of values
  strictly below the estimate must reach the target rank — true by
  construction iff the fold equals the whole-log histogram.
- ``s_theta_merge`` — theta-sketch (bottom-k / KMV) distinct-count
  certification. Per micro-batch: 60-bit md5 hashes of the batch's
  event_ids, keep the k smallest (a distributed ORDER BY LIMIT k —
  k rows of bounded metadata per batch). Fold: k-smallest of the union
  of per-batch k-smallest sets, which equals the k-smallest of the
  whole log exactly (bottom-k is a semilattice — the theta sketch's
  defining mergeability, and unlike HLL it supports set INTERSECTION,
  which is why both families exist). Estimate: (k-1)·2^60 / h_(k),
  certified within 3/√(k-2) of the exact distinct count, and
  hash-certified against the identical DuckDB computation.

Both carry FULL DuckDB oracles (the sketches are deterministic given
the hash/grid), closing the mergeable-family certification triangle:
HLL (r7) + KLL-twin + Theta-twin.

Reference parity: no analogue [REF-UNVERIFIED — /root/reference is
empty]; SURVEY §2 H/L sketch-family certification discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import register

# --- s_kll_merge: fixed-grid histogram (deterministic KLL twin) -------
# events.value spans [0, ~600] across fixtures; domain [0, 1000) with
# W = 4.0 (a power of two: value/W is an exact binary scaling, so FLOOR
# is bit-deterministic cross-engine) and values >= hi clamped into the
# last bin.
_KLL_B = 250
_KLL_W = 4.0
_KLL_QS = (0.5, 0.9, 0.99)

_KLL_ORACLE = f"""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
hist AS (
    SELECT CAST(LEAST(FLOOR(value / {_KLL_W}), {_KLL_B - 1}) AS BIGINT)
        AS b,
           COUNT(*) AS c
    FROM events GROUP BY 1
), cum AS (
    SELECT b, SUM(c) OVER (ORDER BY b) AS cum FROM hist
), qs AS (
    SELECT unnest([{", ".join(f"CAST({q} AS DOUBLE)" for q in _KLL_QS)}])
        AS q
), tgt AS (
    SELECT q, CAST(CEIL(q * n.n) AS BIGINT) AS target_rank
    FROM qs CROSS JOIN n
), pick AS (
    SELECT t.q, t.target_rank, CAST(MIN(c.b) AS BIGINT) AS bin_idx
    FROM tgt t JOIN cum c ON c.cum >= t.target_rank
    GROUP BY t.q, t.target_rank
), est AS (
    -- CAST: bigint * decimal-literal is DECIMAL(21,1) in DuckDB, but
    -- the Spark side computes a DOUBLE (exact either way — W is a
    -- power of two and bin_idx is small)
    SELECT q, target_rank, bin_idx,
           CAST((bin_idx + 1) * {_KLL_W} AS DOUBLE) AS est
    FROM pick
)
SELECT e.q, e.target_rank, e.bin_idx, e.est,
       CAST(COUNT(ev.value) AS BIGINT) AS cnt_below,
       CAST(CASE WHEN COUNT(ev.value) >= e.target_rank THEN 1 ELSE 0 END
            AS BIGINT) AS in_bound
FROM est e LEFT JOIN events ev ON ev.value < e.est
GROUP BY e.q, e.target_rank, e.bin_idx, e.est
ORDER BY e.q
"""


@register("s_kll_merge", oracle=_KLL_ORACLE)
def s_kll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable quantiles: per micro-batch, the batch's
    fixed-grid histogram (groupBy-SUM, distributed); driver folds bin
    counts by addition ({b} ints of state — bounded metadata); the
    folded histogram answers p50/p90/p99 by upper-edge rank search and
    each answer is rank-certified against the raw table. Because count
    addition is a commutative monoid, the fold equals the whole-log
    histogram exactly — the property the full DuckDB oracle certifies.

    Scale shape: per-batch state is B bin counts however many rows the
    batch held; the certification join broadcasts 3 rows against one
    event scan. At 100 TB the same fold runs per partition with no
    driver involvement (groupBy(bin) is already the merge).
    """
    from .streaming import _events_stream, _stage_events, run_foreach_batch

    stage = _stage_events(spark, sf_dir)
    state: dict[int, int] = {}

    bin_col = F.least(
        F.floor(F.col("value") / _KLL_W), F.lit(_KLL_B - 1)
    ).cast("long")

    def fold_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # <= B rows — bounded metadata, never data-scale
        for row in (
            batch_df.select(bin_col.alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        ):
            b = int(row["b"])
            state[b] = state.get(b, 0) + int(row["c"])

    run_foreach_batch(_events_stream(spark, stage), fold_batch)

    import math

    n = sum(state.values())
    rows = []
    for quant in _KLL_QS:
        target = int(math.ceil(quant * n))
        cum = 0
        bin_idx = _KLL_B - 1
        for b in sorted(state):
            cum += state[b]
            if cum >= target:
                bin_idx = b
                break
        rows.append((quant, target, bin_idx, (bin_idx + 1) * _KLL_W))

    qdf = spark.createDataFrame(
        rows, "q double, target_rank long, bin_idx long, est double"
    )
    ev = load(spark, sf_dir, "events").select("value")
    return (
        F.broadcast(qdf)
        .join(ev, F.col("value") < F.col("est"), "left")
        .groupBy("q", "target_rank", "bin_idx", "est")
        .agg(F.count(F.col("value")).alias("cnt_below"))
        .select(
            "q",
            "target_rank",
            "bin_idx",
            "est",
            "cnt_below",
            F.when(F.col("cnt_below") >= F.col("target_rank"), 1)
            .otherwise(0)
            .cast("long")
            .alias("in_bound"),
        )
        .orderBy("q")
    )


s_kll_merge.__doc__ = s_kll_merge.__doc__.format(b=_KLL_B)


# --- s_theta_merge: bottom-k (KMV) theta sketch ------------------------
_KMV_K = 256
_KMV_SPACE = float(1 << 60)  # 15 hex chars of md5 = 60-bit hash space

_THETA_ORACLE = f"""
WITH u AS (
    SELECT DISTINCT CAST('0x' ||
        substr(md5('kmv:' || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT)
        AS hv
    FROM events
), bot AS (
    SELECT hv FROM u ORDER BY hv LIMIT {_KMV_K}
), kk AS (
    SELECT CAST(MAX(hv) AS BIGINT) AS kth_hv,
           CAST(COUNT(*) AS BIGINT) AS seen
    FROM bot
), ex AS (
    SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_exact FROM events
), est AS (
    SELECT kk.kth_hv, kk.seen, ex.n_exact,
           CASE WHEN kk.seen < {_KMV_K} THEN CAST(kk.seen AS DOUBLE)
                ELSE {_KMV_K - 1}.0 * {_KMV_SPACE!r}
                     / CAST(kk.kth_hv AS DOUBLE) END AS raw
    FROM kk CROSS JOIN ex
)
SELECT CAST({_KMV_K} AS BIGINT) AS k, n_exact, kth_hv,
       ROUND(raw, 2) AS est,
       ROUND(ABS(raw - n_exact) / n_exact, 6) AS rel_err,
       CAST(CASE WHEN ABS(raw - n_exact) / n_exact
                      <= 3.0 / SQRT({_KMV_K - 2}.0)
            THEN 1 ELSE 0 END AS BIGINT) AS in_bound
FROM est
"""


@register("s_theta_merge", oracle=_THETA_ORACLE)
def s_theta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming theta-sketch (bottom-k/KMV) distinct count: per
    micro-batch the batch's k smallest 60-bit hashes (distributed
    ORDER BY LIMIT k — k rows of bounded metadata); the driver folds by
    keeping the k smallest of the union, which IS the whole-log sketch
    (bottom-k is a semilattice: idempotent, commutative, associative —
    replays and overlapping rollups are free). Estimate
    (k-1)·2^60/h_(k) is certified within 3/sqrt(k-2) of the exact
    distinct count and hash-certified against the identical DuckDB
    computation. Theta's edge over HLL (``s_hll_merge``): bottom-k
    states also intersect, enabling sketch-space audience overlap
    (sketches.py theta_intersection_estimate).
    """
    from .streaming import _events_stream, _stage_events, run_foreach_batch

    stage = _stage_events(spark, sf_dir)
    state: set[int] = set()

    hv = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("kmv:"), F.col("event_id").cast("string")
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")

    def fold_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_bot = (
            batch_df.select(hv.alias("hv"))
            .distinct()
            .orderBy("hv")
            .limit(_KMV_K)
            .collect()
        )  # <= k rows — bounded metadata
        state.update(int(r["hv"]) for r in batch_bot)
        if len(state) > _KMV_K:
            for h in sorted(state)[_KMV_K:]:
                state.discard(h)

    run_foreach_batch(_events_stream(spark, stage), fold_batch)

    bot = sorted(state)[:_KMV_K]
    seen = len(bot)
    kth = bot[-1] if bot else 0
    raw = (
        float(seen)
        if seen < _KMV_K
        else (_KMV_K - 1) * _KMV_SPACE / float(kth)
    )
    ex = load(spark, sf_dir, "events").agg(
        F.countDistinct("event_id").cast("long").alias("n_exact")
    )
    rel = F.abs(F.lit(raw) - F.col("n_exact")) / F.col("n_exact")
    return ex.select(
        F.lit(_KMV_K).cast("long").alias("k"),
        "n_exact",
        F.lit(kth).cast("long").alias("kth_hv"),
        F.round(F.lit(raw), 2).alias("est"),
        F.round(rel, 6).alias("rel_err"),
        F.when(rel <= 3.0 / ((_KMV_K - 2) ** 0.5), 1)
        .otherwise(0)
        .cast("long")
        .alias("in_bound"),
    )


# --- x_kmv_diff: sketch-space set DIFFERENCE --------------------------
# Domain: (user_id, day) activity pairs — "view-days minus purchase-
# days". Cardinality ~ users x days clears k at every fixture SF (the
# raw user_id domain at sf0.01 is 150 < k and would degenerate to the
# exact branch).
_KMVD_K = 256

_KMVD_ORACLE = f"""
WITH pairs AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS in_a,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
    FROM events
    WHERE event_type IN ('view', 'purchase')
    GROUP BY user_id, CAST(ts AS DATE)
), hashed AS (
    SELECT CAST('0x' || substr(md5('kmvd:' || CAST(user_id AS VARCHAR)
               || ':' || CAST(day AS VARCHAR)), 1, 15) AS BIGINT) AS hv,
           in_a, in_b
    FROM pairs
), bot AS (
    SELECT hv, in_a, in_b FROM hashed ORDER BY hv LIMIT {_KMVD_K}
), kk AS (
    SELECT CAST(MAX(hv) AS BIGINT) AS kth_hv,
           CAST(COUNT(*) AS BIGINT) AS seen,
           CAST(SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS k_diff
    FROM bot
), ex AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_union,
           CAST(SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_diff
    FROM pairs
), est AS (
    SELECT kk.kth_hv, kk.seen, kk.k_diff, ex.n_union, ex.n_diff,
           CASE WHEN kk.seen < {_KMVD_K} THEN CAST(kk.seen AS DOUBLE)
                ELSE {_KMVD_K - 1}.0 * {float(1 << 60)!r}
                     / CAST(kk.kth_hv AS DOUBLE) END AS est_union,
           CAST(kk.k_diff AS DOUBLE) / kk.seen AS frac_k,
           CAST(ex.n_diff AS DOUBLE) / ex.n_union AS frac_exact
    FROM kk CROSS JOIN ex
)
SELECT CAST({_KMVD_K} AS BIGINT) AS k, n_union, n_diff, kth_hv,
       ROUND(est_union, 2) AS est_union,
       ROUND(frac_k, 6) AS frac_k,
       ROUND(frac_k * est_union, 2) AS est_diff,
       ROUND(ABS(frac_k - frac_exact), 6) AS frac_err,
       CAST(CASE WHEN ABS(frac_k - frac_exact)
                      <= 3.0 * SQRT(0.25 / {_KMVD_K}.0)
            THEN 1 ELSE 0 END AS BIGINT) AS in_bound
FROM est
"""


@register("x_kmv_diff", oracle=_KMVD_ORACLE)
def x_kmv_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-space set DIFFERENCE — |view-days \\ purchase-days| from
    one bottom-k sketch of the union: the bottom-k hashes are a
    uniform sample of the distinct union, so carrying per-element
    membership flags into the sketch prices ANY set expression
    (difference, intersection, symmetric difference) at k rows of
    state — the operation HLL cannot express at all and exact SQL
    pays a data-scale anti-join for (the theta-sketch trick,
    deterministic here because the hash is md5: full cross-engine
    oracle, like ``s_theta_merge``). Estimate = (fraction of the k
    sample in A\\B) x (KMV union estimate); the sampling-fraction
    error is certified against the exact fraction with the 3-sigma
    Bernoulli bound 3*sqrt(0.25/k).

    Scale shape: one (user, day) hash-aggregate (map-side-combinable
    flags), a distributed TakeOrdered(k) — k rows of metadata to the
    driver, never data — and an exact-count scan for the
    certification columns only; a production caller keeps just the
    k-row sketch per segment/partition and merges by re-taking the
    k smallest (the ``s_theta_merge`` semilattice).
    """
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    pairs = (
        ev.select(
            "user_id",
            F.col("ts").cast("timestamp").cast("date").alias("day"),
            "event_type",
        )
        .groupBy("user_id", "day")
        .agg(
            F.max(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    hv = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("kmvd:"),
                    F.col("user_id").cast("string"),
                    F.lit(":"),
                    F.col("day").cast("string"),
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    hashed = pairs.select(hv.alias("hv"), "in_a", "in_b")
    bot = hashed.orderBy("hv").limit(_KMVD_K)
    kk = bot.agg(
        F.max("hv").cast("long").alias("kth_hv"),
        F.count(F.lit(1)).cast("long").alias("seen"),
        F.sum(
            F.when((F.col("in_a") == 1) & (F.col("in_b") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("k_diff"),
    )
    ex = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_union"),
        F.sum(
            F.when((F.col("in_a") == 1) & (F.col("in_b") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_diff"),
    )
    est_union = F.when(
        F.col("seen") < _KMVD_K, F.col("seen").cast("double")
    ).otherwise(
        F.lit(float(_KMVD_K - 1))
        * F.lit(float(1 << 60))
        / F.col("kth_hv").cast("double")
    )
    frac_k = F.col("k_diff").cast("double") / F.col("seen")
    frac_exact = F.col("n_diff").cast("double") / F.col("n_union")
    return (
        kk.crossJoin(ex)
        .withColumn("eu", est_union)
        .withColumn("fk", frac_k)
        .select(
            F.lit(_KMVD_K).cast("long").alias("k"),
            "n_union",
            "n_diff",
            "kth_hv",
            F.round(F.col("eu"), 2).alias("est_union"),
            F.round(F.col("fk"), 6).alias("frac_k"),
            F.round(F.col("fk") * F.col("eu"), 2).alias("est_diff"),
            F.round(F.abs(F.col("fk") - frac_exact), 6).alias("frac_err"),
            F.when(
                F.abs(F.col("fk") - frac_exact)
                <= 3.0 * (0.25 / _KMVD_K) ** 0.5,
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("in_bound"),
        )
    )


# --- s_countmin_merge: streaming fold of the Count-Min counter matrix --
def _s_countmin_oracle() -> str:
    from .round7 import _countmin_bound_oracle

    return _countmin_bound_oracle()


@register("s_countmin_merge", oracle=_s_countmin_oracle())
def s_countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable Count-Min — the last of the four mergeable
    sketch families to get its fold certification (HLL register-MAX
    r7, histogram/theta count-ADD and bottom-k r8): per micro-batch the
    batch's d×w counter increments are computed distributed (the
    x_countmin hash aggregate — ≤ d·w rows of bounded metadata per
    batch however many events it held) and folded into running state by
    integer ADDITION. Counter matrices form a commutative monoid, so
    the fold equals the whole-log sketch EXACTLY — certified by sharing
    x_countmin_bound's full oracle: top-10 heavy-hitter estimates from
    the FOLDED counters must hash-match the batch-sketch computation
    cell-for-cell, and every estimate must satisfy
    ``true ≤ est ≤ true + ⌈(e/w)·N⌉``.

    This is the 100 TB frequency rollup: per-partition/hour CM matrices
    add without re-reading history (constant d×w state), exactly how a
    streaming heavy-hitter monitor ships its counters to a central
    fold.
    """
    from .extensions import _CM_D, _CM_W
    from .streaming import _events_stream, _stage_events, run_foreach_batch

    stage = _stage_events(spark, sf_dir)
    state: dict[tuple[int, int], int] = {}

    i = F.explode(F.array(*[F.lit(k) for k in range(_CM_D)])).alias("i")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("i").cast("string"), F.col("uid")
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % _CM_W
    ).alias("bucket")

    def fold_batch(batch_df: DataFrame, epoch_id: int) -> None:
        rows = (
            batch_df.select(F.col("user_id").cast("string").alias("uid"))
            .select("uid", i)
            .select("uid", "i", bucket)
            .groupBy("i", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .collect()
        )  # <= d*w rows — bounded metadata, never data-scale
        for r in rows:
            key = (int(r["i"]), int(r["bucket"]))
            state[key] = state.get(key, 0) + int(r["n"])

    run_foreach_batch(_events_stream(spark, stage), fold_batch)

    counters = spark.createDataFrame(
        [(ik, bk, n) for (ik, bk), n in state.items()],
        "i int, bucket long, n long",
    )
    ev = load(spark, sf_dir, "events")
    keyed = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    cand = keyed.orderBy(F.desc("true_n"), "user_id").limit(10)
    probes = (
        cand.select(
            "user_id", "true_n", F.col("user_id").cast("string").alias("uid")
        )
        .select("user_id", "true_n", i)
        .select(
            "user_id",
            "true_n",
            "i",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("i").cast("string"),
                                F.col("user_id").cast("string"),
                            ).cast("binary")
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % _CM_W
            ).alias("bucket"),
        )
    )
    est = (
        F.broadcast(probes)
        .join(counters, ["i", "bucket"])
        .groupBy("user_id", "true_n")
        .agg(F.min("n").cast("long").alias("est_n"))
    )
    tot = ev.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    slack = F.ceil(
        F.lit(2.718281828459045) * F.col("n_total").cast("double") / F.lit(_CM_W)
    ).cast("long")
    return est.crossJoin(F.broadcast(tot)).select(
        "user_id",
        "true_n",
        "est_n",
        "n_total",
        F.when(
            (F.col("est_n") >= F.col("true_n"))
            & (F.col("est_n") <= F.col("true_n") + slack),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("in_bound"),
    )


# --- s_semdedup: streaming incremental EMBEDDING near-dedup ------------
# Sign-LSH blocking (the x_sim_knn_lsh 16-plane / 4-band machinery) +
# exact-cosine verification, with the s_dedup_near accumulation recipe.
_SSD_THRESH = 0.9  # the x_embed_cosine_dedup house threshold


def _s_semdedup_oracle() -> str:
    from .extensions import _planes_sql

    return f"""
WITH corpus AS (
    SELECT vec_id, embedding, label FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id, embedding, label
    FROM embeddings WHERE vec_id < 10
), sigs AS (
    SELECT vec_id,
           list_transform({_planes_sql()}, h ->
               CASE WHEN list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(CAST(embedding AS DOUBLE[]),
                           (x, i) -> x * h[i])),
                   (a, b) -> a + b) >= 0 THEN 1 ELSE 0 END) AS bits
    FROM corpus
), keys AS (
    SELECT vec_id,
           list_transform(range(4), b ->
               bits[4 * b + 1] * 8 + bits[4 * b + 2] * 4 +
               bits[4 * b + 3] * 2 + bits[4 * b + 4]) AS ks
    FROM sigs
), buckets AS (
    SELECT vec_id, band, ks[band + 1] AS bkey
    FROM keys, range(4) t(band)
), cand AS (
    SELECT DISTINCT a.vec_id AS old_id, b.vec_id AS new_id
    FROM buckets a JOIN buckets b USING (band, bkey)
    WHERE a.vec_id < b.vec_id
), normed AS (
    -- norms hoisted to vector grain (computed once, not once per
    -- candidate pair) with the engine's canonical left-fold order —
    -- the Spark side mirrors term-for-term, so ROUND(.,6) agrees
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
           SQRT(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
               (acc, v) -> acc + v)) AS nrm
    FROM corpus
), dropped AS (
    SELECT DISTINCT c.new_id AS vec_id
    FROM cand c
    JOIN normed ca ON ca.vec_id = c.old_id
    JOIN normed cb ON cb.vec_id = c.new_id
    WHERE ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(ca.e, (x, i) -> x * cb.e[i])),
              (acc, v) -> acc + v) / (ca.nrm * cb.nrm), 6)
          >= {_SSD_THRESH}
)
SELECT c.vec_id, c.label
FROM corpus c LEFT JOIN dropped d USING (vec_id)
WHERE d.vec_id IS NULL
"""


def _lsh_band_keys(emb):
    """4 band keys (4 bits each) of the 16-plane sign-LSH signature —
    identical fold order to x_sim_knn_lsh (its green oracle proves the
    sign decisions match DuckDB bit-for-bit)."""
    from .extensions import LSH_PLANES, LSH_SIGN_BANDS, _hyperplanes

    planes = F.array(
        *[F.array(*[F.lit(float(x)) for x in row]) for row in _hyperplanes()]
    )
    bits = F.transform(
        planes,
        lambda h: F.when(
            F.aggregate(
                F.zip_with(emb, h, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    per = LSH_PLANES // LSH_SIGN_BANDS
    return F.array(
        *[
            F.aggregate(
                F.slice(bits, b * per + 1, per),
                F.lit(0),
                lambda acc, bit: acc * 2 + bit,
            )
            for b in range(LSH_SIGN_BANDS)
        ]
    )


@register("s_semdedup", oracle=_s_semdedup_oracle())
def s_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental EMBEDDING near-dedup — the vector twin of
    ``s_dedup_near``: embeddings arrive in 4 vec_id-ordered micro-batches
    (the planted +1e6 identical tail lands last, so its originals are
    already indexed); each batch sign-LSH-bands its vectors (16
    hyperplanes, 4 bands of 4 bits — identical vectors share every
    band, so planted dups are never missed), band-joins against the
    ACCUMULATED bucket index (plus smaller-id vectors of the same
    batch), verifies candidates at exact cosine ≥ {t}, keeps survivors.
    The standing corpus is never re-projected and never self-joined —
    per batch the work is O(|batch| + bucket collisions), the daily
    embedding-ingest loop against a 100 TB standing vector store
    (x_embed_cosine_dedup is the batch label-blocked twin;
    x_sim_knn_lsh proves this exact LSH machinery cross-engine).

    Arrival follows vec_id order and every candidate join keeps
    ``old_id < new_id``, so the final survivor set equals the batch
    rule — certified by the full inlined-hyperplane oracle. Per-batch
    index slices (band keys ~4 ints/vector, plus the vectors themselves
    for the verify join) are localCheckpointed once at arrival and
    accumulated as block-manager unions (the s_dedup_near recipe; at
    scale: bucketBy(band, key) parquet for an exchange-free candidate
    join).
    """
    from .streaming import run_foreach_batch, stage_table

    # 4 vec_id-ordered arrival chunks plus the planted 10-vector
    # identical tail, which lands last (content-cached like s_dedup_near)
    staged = stage_table(
        spark, sf_dir, "ssemdedup", table="embeddings", id_col="vec_id", tail=10
    )

    acc: dict[str, DataFrame | None] = {"bands": None, "vecs": None}
    survivors: list[DataFrame] = []

    # Band-key and norm EXPRESSIONS built once: _lsh_band_keys
    # constructs a 16×64-literal hyperplane array through py4j, which
    # measured a large fraction of each batch's wall when rebuilt per
    # trigger.
    bands_expr = _lsh_band_keys(F.col("embedding")).alias("bands")
    # norm hoisted to vector grain at arrival (the x_semdedup
    # hoisted-norm recipe): the verify join then pays one dot fold
    # per candidate pair instead of dot + two norms
    nrm_expr = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc_, x: acc_ + x.cast("double") * x.cast("double"),
        )
    ).alias("nrm")

    def dedup_batch(bdf: DataFrame, epoch_id: int) -> None:
        # ONE eager materialization per batch (was three: batch, banded,
        # vecs): the augmented frame pins the streaming source's rows
        # plus every derived column the later joins need; band/vector
        # views below are lazy projections of this checkpoint, and the
        # candidate/verify joins themselves are DEFERRED to the final
        # action — the per-trigger loop does arrival-state work only,
        # and the join work runs once, outside the stream's bounded
        # shuffle-partition conf, at full session parallelism.
        aug = bdf.select(
            "vec_id", "embedding", "label", nrm_expr, bands_expr
        ).materialize(eager=True)
        banded = aug.select(
            "vec_id", F.posexplode("bands").alias("band", "key")
        )
        vecs = aug.select("vec_id", "embedding", "nrm")
        batch = aug
        nb = banded.select(F.col("vec_id").alias("new_id"), "band", "key")
        self_bands = banded.select(F.col("vec_id").alias("old_id"), "band", "key")
        old_bands = (
            acc["bands"].unionByName(self_bands)
            if acc["bands"] is not None
            else self_bands
        )
        # the NEW side is batch-bounded — broadcast it so the standing
        # index is streamed, never shuffled (guide §3.1; at scale the
        # accumulated index dwarfs a micro-batch). Broadcast bounds (per
        # micro-batch B, k = the largest number of accumulated vectors
        # in one (band, key)):
        #   nb          ≤ |B| × 4 bands rows of (id, band, key);
        #   cand        ≤ |B| × 4 bands × k distinct (new_id, old_id) pairs;
        #   s_new⋈cand  = cand's rows, each carrying a 64-d embedding;
        #   dropped     ≤ |B| vector ids.
        # A band has only 2⁴ = 16 keys, so k is about 1/16 of the
        # accumulated store: cand, and the two hints above it, grow
        # linearly with the corpus (SCALE.md).
        cand = (
            old_bands.join(F.broadcast(nb), ["band", "key"])
            .where(F.col("old_id") < F.col("new_id"))
            .select("new_id", "old_id")
            .distinct()
        )
        old_vecs = (
            acc["vecs"].unionByName(vecs) if acc["vecs"] is not None else vecs
        )
        s_new = vecs.select(
            F.col("vec_id").alias("new_id"),
            F.col("embedding").alias("e_new"),
            F.col("nrm").alias("n_new"),
        )
        s_old = old_vecs.select(
            F.col("vec_id").alias("old_id"),
            F.col("embedding").alias("e_old"),
            F.col("nrm").alias("n_old"),
        )
        dot = F.aggregate(
            F.zip_with(
                F.col("e_old"),
                F.col("e_new"),
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        # candidate pairs and the batch's vectors are both batch-bounded
        # (collision pairs of one micro-batch): broadcast them so the
        # only streamed side is the standing vector store.
        dropped = (
            s_old.join(
                F.broadcast(s_new.join(F.broadcast(cand), "new_id")),
                "old_id",
            )
            .where(
                F.round(dot / (F.col("n_old") * F.col("n_new")), 6)
                >= _SSD_THRESH
            )
            .select(F.col("new_id").alias("vec_id"))
            .distinct()
        )
        # lazy: every input of this anti-join derives from checkpointed
        # per-batch slices, so deferring costs no recomputation — the
        # final union evaluates all batches' dedup joins in one query.
        survivors.append(
            batch.join(F.broadcast(dropped), "vec_id", "left_anti").select(
                "vec_id", "label"
            )
        )
        acc["bands"], acc["vecs"] = old_bands, old_vecs

    run_foreach_batch(
        spark.readStream.schema("vec_id bigint, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged),
        dedup_batch,
    )

    if not survivors:  # staging raced/empty: fail loudly, not IndexError
        raise RuntimeError("s_semdedup: no micro-batches fired")
    out = survivors[0]
    for s in survivors[1:]:
        out = out.unionByName(s)
    return out


s_semdedup.__doc__ = s_semdedup.__doc__.format(t=_SSD_THRESH)
