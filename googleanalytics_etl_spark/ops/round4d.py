"""Round-4 operators, fourth batch: Lloyd k-means over embeddings and
cohort lifetime-value — an iterative ML primitive and a GA revenue
composite.

- ``x_kmeans`` — 3 fixed Lloyd iterations, k = 8, deterministic
  init (vec_id 0..7). The scalable shape: centroids are always
  driver-side literals folded into codegen (k×d doubles — bounded
  metadata, the same contract as the bloom bitmap in ``x_bloom_semi``),
  so each iteration is ONE pass over the vectors plus a k×d-sized
  aggregate; the data is never shuffled by cluster.
- ``q_cohort_ltv`` — cumulative revenue per signup cohort by age (the
  LTV curve), completing the cohort family around ``q_retention``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register

_K = 8
_ITERS = 3
_DIM = 64


def kmeans_oracle_ctes() -> str:
    """The 3-iteration Lloyd CTE chain shared by the x_kmeans oracle
    and the x_cluster_purity certification (ops/round5o.py): mirrors
    the exact construction — scaled-long centroid means, 6-dp-rounded
    distances, cluster-id tiebreaker (see x_kmeans docstring for why
    each piece is cross-engine deterministic). Ends with the final
    assignment CTE ``a3(vec_id, cluster, dist_r)``."""
    assign = """
, a{i} AS (
    SELECT vec_id, cluster, dist_r FROM (
        SELECT v.vec_id, c.cluster,
               ROUND(SUM((v.val - c.cval) * (v.val - c.cval)), 6) AS dist_r,
               ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY ROUND(SUM((v.val - c.cval) * (v.val - c.cval)), 6),
                            c.cluster) AS rn
        FROM v JOIN c{p} c ON v.dim = c.dim
        GROUP BY v.vec_id, c.cluster
    ) WHERE rn = 1
)"""
    update = """
, c{i} AS (
    SELECT a.cluster, v.dim,
           CAST(SUM(CAST(ROUND(v.val * 10000000) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 10000000 AS cval
    FROM v JOIN a{i} a ON a.vec_id = v.vec_id
    GROUP BY a.cluster, v.dim
)"""
    sql = f"""
WITH v AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS val
    FROM embeddings
), c0 AS (
    SELECT vec_id AS cluster, dim, val AS cval FROM v WHERE vec_id < {_K}
)"""
    for i in range(1, _ITERS + 1):
        sql += assign.format(i=i, p=i - 1)
        if i < _ITERS:
            sql += update.format(i=i)
    return sql


def _kmeans_oracle() -> str:
    return (
        kmeans_oracle_ctes()
        + f"""
SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, dist_r
FROM a{_ITERS}
"""
    )


@register("x_kmeans", oracle=_kmeans_oracle())
def x_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means over the embedding corpus: k = 8, exactly 3
    iterations, init = the vectors with vec_id 0..7. Returns the final
    (vec_id, cluster, squared-distance) assignment.

    Scale shape — the one that works at 100 TB: centroids live on the
    driver as k×d literal arrays (bounded metadata, same contract as
    the bloom bitmap collect in ``x_bloom_semi``) and are folded into
    whole-stage codegen, so every iteration is ONE full pass over the
    vectors (no shuffle of the data) plus one k×d-row aggregate for the
    update. Cluster-assignment never materializes an n×k join.

    Cross-engine determinism (every piece mirrored in the oracle SQL):

    - centroid means are EXACT — per-dim sums of round(val·10⁷) longs
      divided back out, so both engines iterate from identical
      centroids (float addition order never matters);
    - distances are rounded to 6 dp BEFORE the argmin, burying the
      last-ulp summation-order drift (the ``x_knn_join_blocked``
      technique), with the cluster id as tiebreaker;
    - init is by vec_id, not randomness (Date.now/random are banned in
      derivations; a production run would use k-means‖ seeding).
    """
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kmeans_assignments(e)


def kmeans_assignments(e: DataFrame) -> DataFrame:
    """Core of :func:`x_kmeans` over any (vec_id, embedding) frame
    (stress tests feed scaled copies)."""
    dbl = lambda c: c.cast("double")  # noqa: E731

    # init: rows vec_id < k, collected to driver (k×d doubles)
    init = (
        e.where(F.col("vec_id") < _K)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    centroids: dict[int, list[float]] = {
        r["vec_id"]: [float(x) for x in r["embedding"]] for r in init
    }

    def assign(df: DataFrame) -> DataFrame:
        """One codegen pass: squared distance to each literal centroid,
        argmin via array_min over (dist_r, cluster) structs."""
        cands = F.array(
            *[
                F.struct(
                    F.round(
                        F.aggregate(
                            F.zip_with(
                                "embedding",
                                F.array(*[F.lit(x) for x in centroids[j]]),
                                lambda x, y: (dbl(x) - y) * (dbl(x) - y),
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        ),
                        6,
                    ).alias("dist_r"),
                    F.lit(j).cast("bigint").alias("cluster"),
                )
                for j in sorted(centroids)
            ]
        )
        best = F.array_min(cands)
        return df.select(
            "vec_id",
            "embedding",
            best["cluster"].alias("cluster"),
            best["dist_r"].alias("dist_r"),
        )

    scaled = F.transform(
        "embedding", lambda x: F.round(dbl(x) * 10_000_000).cast("long")
    )
    for it in range(1, _ITERS + 1):
        assigned = assign(e)
        if it == _ITERS:
            return assigned.select("vec_id", "cluster", "dist_r")
        # update: exact per-dim means from scaled longs (k×d rows out)
        sums = (
            assigned.select("cluster", F.posexplode(scaled).alias("dim", "sv"))
            .groupBy("cluster", "dim")
            .agg(F.sum("sv").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new_c: dict[int, list[float]] = {}
        for r in sums:
            new_c.setdefault(r["cluster"], [0.0] * _DIM)[r["dim"]] = (
                float(r["s"]) / r["n"] / 10_000_000
            )
        centroids = new_c
    raise AssertionError("unreachable")


# ---------------------------------------------------------------------------
# q_cohort_ltv — cumulative revenue per signup cohort by age
# ---------------------------------------------------------------------------

_LTV_ORACLE = """
WITH firsts AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
    FROM events GROUP BY user_id
), daily AS (
    SELECT e.user_id, f.cohort_day,
           datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS age_days,
           CAST(ROUND(e.value * 100) AS BIGINT) AS cents
    FROM events e JOIN firsts f USING (user_id)
    WHERE e.event_type = 'purchase'
), per_age AS (
    SELECT cohort_day, age_days,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_buyers
    FROM daily GROUP BY cohort_day, age_days
), sized AS (
    SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
    FROM firsts GROUP BY cohort_day
)
SELECT p.cohort_day, p.age_days, p.n_buyers,
       CAST(SUM(p.cents) OVER (PARTITION BY p.cohort_day ORDER BY p.age_days)
            AS DOUBLE) / 100 / s.cohort_size AS ltv_per_user
FROM per_age p JOIN sized s USING (cohort_day)
"""


@register("q_cohort_ltv", oracle=_LTV_ORACLE)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: users grouped by first-seen day, purchase
    revenue accumulated over cohort age and normalized per cohort
    member — the revenue twin of ``q_retention``'s activity matrix.

    Revenue is exact integer cents end to end; the running sum runs
    over the (cohort, age) AGGREGATE — day-grain, metadata-scale — not
    the fact table, and cohort assignment is one min-aggregate joined
    back (broadcast at dimension scale). The only division is the final
    fixed-shape cents/100/size on identical integers.
    """
    e = load(spark, sf_dir, "events")
    day = F.to_date("ts")
    firsts = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    daily = (
        e.where(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(day, F.col("cohort_day")).cast("bigint").alias("age_days"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    per_age = daily.groupBy("cohort_day", "age_days").agg(
        F.sum("cents").alias("cents"),
        F.count_distinct("user_id").alias("n_buyers"),
    )
    sized = firsts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("age_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per_age.join(sized, "cohort_day")
        .select(
            "cohort_day",
            "age_days",
            "n_buyers",
            (
                F.sum("cents").over(w).cast("double")
                / 100
                / F.col("cohort_size")
            ).alias("ltv_per_user"),
        )
    )


# ---------------------------------------------------------------------------
# x_bloom_index — file-level bloom-filter index for point lookups
# ---------------------------------------------------------------------------

_BIDX_FILES = 64
_BIDX_ORACLE = """
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
FROM events
WHERE event_id IN (SELECT event_id FROM events
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id LIMIT 3)
"""


_BIDX_PAGE = 8  # data files per manifest page (directory)


def _bloom_index_stage(spark: SparkSession, sf_dir: str):
    """Time-range-partitioned copy of events under ``stage/data/pg=N/``
    plus a PAGED per-file bloom manifest — a parquet dataset at
    ``stage/_blooms/pg=N/`` with one sidecar directory per data page,
    rows at (file, word) grain. Fingerprint-cached (write once per
    fixture). The manifest is never materialized on the driver: at
    100 TB, files × 8 KiB of bitmaps is GBs of metadata, so lookups
    scan the manifest DISTRIBUTED (each split reads one page's
    sidecar) and only matching file names reach the driver."""
    from ..scratch import stage
    from .joins import _bloom_positions

    def _build(tmp):
        (
            load(spark, sf_dir, "events")
            .select("event_id", "user_id", "ts", "event_type", "value")
            .repartitionByRange(_BIDX_FILES, "ts", "event_id")
            .sortWithinPartitions("ts", "event_id")
            .withColumn("pg", F.spark_partition_id() / _BIDX_PAGE)
            .withColumn("pg", F.col("pg").cast("int"))
            .write.partitionBy("pg")
            .parquet(str(tmp / "data"))
        )
        # one aggregate pass: per (file, word) bit_or of the k probe bits
        # of every event_id in that file — ≤ files × 1024 rows of
        # metadata, written straight back out as the paged manifest (no
        # collect); relative paths, so the published stage can move
        rel = F.regexp_extract(F.input_file_name(), r"(pg=\d+/[^/]+)$", 1)
        pos = F.explode(F.array(*_bloom_positions(F.col("event_id")))).alias("p")
        (
            spark.read.parquet(str(tmp / "data"))
            .select(rel.alias("relpath"), "event_id")
            .select("relpath", pos)
            .select(
                "relpath",
                (F.col("p") / 64).cast("int").alias("w"),
                F.expr("shiftleft(CAST(1 AS BIGINT), p % 64)").alias("bit"),
            )
            .groupBy("relpath", "w")
            .agg(F.bit_or("bit").alias("word"))
            .withColumn(
                "pg", F.regexp_extract("relpath", r"pg=(\d+)", 1).cast("int")
            )
            .write.partitionBy("pg")
            .parquet(str(tmp / "_blooms"))
        )

    # the key covers the indexed column: changing the index scheme must
    # invalidate the cached manifest, not silently reuse it
    return stage(
        "bloomidx", sf_dir, "events", _build,
        _BIDX_FILES, _BIDX_PAGE, "event_id", "paged",
    )


def bloom_index_lookup(
    spark: SparkSession, sf_dir: str, keys: list[int]
):
    """Point lookup through the paged bloom index: returns (DataFrame
    of matching rows, files_read, files_total). The manifest match runs
    as a distributed scan over the sidecar pages — the driver receives
    ONLY the matching file names (bounded by lookup selectivity) plus
    one scalar count, never the full bitmap set. Files whose bitmap
    cannot contain ANY key are never opened; an exact IN filter removes
    bloom false positives."""
    from .joins import _bloom_positions

    stage = _bloom_index_stage(spark, sf_dir)
    # probe positions must match the Spark-side xxhash64 exactly — derive
    # them with a tiny bounded Spark job (len(keys) rows), not Python
    probes = (
        spark.createDataFrame([(int(k),) for k in keys], "event_id bigint")
        .select(F.array(*_bloom_positions(F.col("event_id"))).alias("ps"))
        .collect()
    )
    key_probes = [r["ps"] for r in probes]

    def _bit(p: int):
        b = 1 << (p % 64)
        if b >= 1 << 63:  # Spark longs are signed; fold the sign bit
            b -= 1 << 64
        return F.lit(b)

    def _key_hit(ps) -> F.Column:
        cond = F.lit(True)
        for p in ps:
            word = F.coalesce(
                F.element_at("wm", F.lit(int(p // 64))), F.lit(0).cast("bigint")
            )
            cond = cond & (word.bitwiseAND(_bit(int(p))) != 0)
        return cond

    match = F.lit(False)
    for ps in key_probes:
        match = match | _key_hit(ps)

    per_file = (
        spark.read.parquet(str(stage / "_blooms"))
        .groupBy("relpath")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("w", "word"))).alias(
                "wm"
            )
        )
    )
    # ONE aggregate over the manifest pages yields both the file total
    # and the matching names (collect_list drops the NULLs the non-match
    # branch produces, so the driver payload stays bounded by lookup
    # selectivity) — previously this was two jobs, each rebuilding the
    # per-file bitmap-map aggregate
    stats = per_file.agg(
        F.count(F.lit(1)).alias("total"),
        F.sort_array(
            F.collect_list(F.when(match, F.col("relpath")))
        ).alias("sel"),
    ).first()
    total = stats["total"]
    selected = list(stats["sel"])
    if not selected:
        empty = spark.read.parquet(str(stage / "data")).drop("pg").limit(0)
        return empty, 0, total
    df = spark.read.parquet(
        *[str(stage / "data" / rel) for rel in selected]
    ).where(F.col("event_id").isin([int(k) for k in keys]))
    return df, len(selected), total


@register("x_bloom_index", oracle=_BIDX_ORACLE)
def x_bloom_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level bloom-filter INDEX: the other half of data skipping.
    Zone maps (``x_zonemap_skip``) prune range predicates on the sort
    key; a HIGH-CARDINALITY point lookup needs a membership structure
    instead. A per-file bloom bitmap is the lakehouse answer (Parquet
    bloom filters, Delta/Iceberg file-skipping indexes): the write path
    records each file's 8 KiB bitmap in a manifest; a point lookup
    opens ONLY files whose bitmap can contain some key, then an exact
    filter removes false positives — sound for any FP rate. The
    reference-faithful use case is the hit-id check ("is this hit
    already loaded?") that guards every incremental append
    [REF-UNVERIFIED: SURVEY.md §2.A dedup-before-append] — at fact
    scale that cannot afford a full scan per batch.

    Lookup keys are data-derived but layout-uncorrelated (the 3
    event_ids with the smallest md5 — a deterministic pseudo-random
    pick both engines compute identically), so the oracle is a closed
    SQL form and the keys land in arbitrary files. The per-file
    bitmaps are built in ONE aggregate pass over the staged copy
    (file × word grain) and written as a PAGED parquet manifest — one
    sidecar directory per data page, matched by a distributed scan, so
    the driver never holds files × 8 KiB of bitmap metadata (GBs at
    100 TB); probes reuse the Kirsch-Mitzenmacher xxhash64 geometry of
    ``x_bloom_semi``. tests assert the lookup opened a small minority
    of files and still returned exactly the full scan's rows.
    """
    e = load(spark, sf_dir, "events")
    keys = [
        r["event_id"]
        for r in e.select("event_id")
        .orderBy(F.md5(F.col("event_id").cast("string")), "event_id")
        .limit(3)
        .collect()
    ]
    df, _, _ = bloom_index_lookup(spark, sf_dir, keys)
    return df.select("event_id", "user_id", "ts", "event_type", "value")
