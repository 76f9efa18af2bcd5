"""Round-5 pre-work: operators built late in round 4, registered AFTER
the 50-key driver window (their driver CORRECTNESS rows land when the
round-5 window rotates them forward; until then the evidence is the
local differential harness + ``tools/verify.py`` emulation, with and
without ``--strict``).

- ``q_join_asof_tolerance`` — as-of join with a staleness bound
  (pandas ``merge_asof(tolerance=...)`` parity): a match older than
  the tolerance is NULLed, completing backward/nearest with the
  bounded-staleness variant every feature-store lookup needs.
- ``x_top_movers`` — week-over-week heavy changers: the period-delta
  report (who moved most, either direction) as one pivoted aggregate
  + TakeOrdered.
- ``x_ngram_novelty`` — per-day fraction of first-seen bigrams: the
  corpus-freshness signal (how much of today's text is new) behind
  crawl dedup and recency weighting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register


_ASOF_TOL_ORACLE = """
WITH marked AS (
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
           MAX(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_v
    FROM events
)
SELECT event_id, user_id, ts,
       CASE WHEN prev_v IS NOT NULL
                 AND epoch_us(ts) - epoch_us(prev_v) <= CAST(7200 AS BIGINT) * 1000000
            THEN prev_v END AS recent_view_ts,
       CAST(CASE WHEN prev_v IS NOT NULL
                 AND epoch_us(ts) - epoch_us(prev_v) <= CAST(7200 AS BIGINT) * 1000000
            THEN 1 ELSE 0 END AS BIGINT) AS has_fresh_view
FROM marked
WHERE event_type = 'purchase'
"""


@register("q_join_asof_tolerance", oracle=_ASOF_TOL_ORACLE)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a TOLERANCE bound (pandas
    ``merge_asof(direction='backward', tolerance=2h)`` parity): each
    purchase matches its user's latest prior view only if that view is
    at most 2 hours stale — older matches are NULLed, which is the
    point-in-time-correctness rule of feature-store lookups (a stale
    feature is worse than no feature).

    Same single window pass as ``q_join_asof`` (ONE shuffle, no
    self-join); the tolerance is a µs-space comparison appended to the
    projection, free at any scale.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev_v = F.max(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    # reference the MATERIALIZED prev_v column, not the window
    # expression: after the purchase filter the window would re-evaluate
    # over purchases only and never see a view
    pv = F.col("prev_v")
    fresh = pv.isNotNull() & (us(F.col("ts")) - us(pv) <= 7200 * 1_000_000)
    return (
        e.withColumn("prev_v", prev_v)
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(fresh, F.col("prev_v")).alias("recent_view_ts"),
            F.when(fresh, 1).otherwise(0).cast("bigint").alias("has_fresh_view"),
        )
    )


_MOVERS_ORACLE = """
WITH bounds AS (
    SELECT max(CAST(ts AS TIMESTAMP)) AS hi FROM events
), spans AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP) > hi - INTERVAL 7 DAY
                         THEN ROUND(value * 100) ELSE 0 END) AS BIGINT)
               AS cur_cents,
           CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP) <= hi - INTERVAL 7 DAY
                          AND CAST(ts AS TIMESTAMP) > hi - INTERVAL 14 DAY
                         THEN ROUND(value * 100) ELSE 0 END) AS BIGINT)
               AS prev_cents
    FROM events, bounds
    WHERE event_type = 'purchase'
      AND CAST(ts AS TIMESTAMP) > hi - INTERVAL 14 DAY
    GROUP BY user_id
)
SELECT user_id,
       CAST(cur_cents AS DOUBLE) / 100 AS cur_revenue,
       CAST(prev_cents AS DOUBLE) / 100 AS prev_revenue,
       CAST(cur_cents - prev_cents AS DOUBLE) / 100 AS delta
FROM spans
ORDER BY abs(cur_cents - prev_cents) DESC, user_id
LIMIT 20
"""


@register("x_top_movers", oracle=_MOVERS_ORACLE)
def x_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week top movers: the 20 users whose purchase revenue
    changed most (either direction) between the trailing week and the
    week before — the period-delta report every growth dashboard runs.

    One conditional aggregate builds both period totals in a single
    pass over a 14-day scan window (exact cents — no float drift in
    the delta), then TakeOrdered by |delta| with a user tiebreaker —
    no global sort, no self-join of two period scans.
    """
    e = load(spark, sf_dir, "events")
    hi = e.agg(F.max(F.col("ts").cast("timestamp"))).first()[0]
    ts = F.col("ts").cast("timestamp")
    cents = F.round(F.col("value") * 100)
    wk1 = ts > F.lit(hi) - F.expr("INTERVAL 7 DAYS")
    wk2 = (~wk1) & (ts > F.lit(hi) - F.expr("INTERVAL 14 DAYS"))
    spans = (
        e.where(
            (F.col("event_type") == "purchase")
            & (ts > F.lit(hi) - F.expr("INTERVAL 14 DAYS"))
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.when(wk1, cents).otherwise(0)).cast("bigint").alias(
                "cur_cents"
            ),
            F.sum(F.when(wk2, cents).otherwise(0)).cast("bigint").alias(
                "prev_cents"
            ),
        )
    )
    delta = F.col("cur_cents") - F.col("prev_cents")
    return (
        spans.orderBy(F.abs(delta).desc(), "user_id")
        .limit(20)
        .select(
            "user_id",
            (F.col("cur_cents").cast("double") / 100).alias("cur_revenue"),
            (F.col("prev_cents").cast("double") / 100).alias("prev_revenue"),
            (delta.cast("double") / 100).alias("delta"),
        )
    )


_NOVELTY_ORACLE = """
WITH toks AS (
    SELECT doc_id, CAST(ROUND(doc_id / 10) AS BIGINT) % 30 AS day,
           str_split(text, ' ') AS ws
    FROM documents
), grams AS (
    SELECT day,
           unnest(list_transform(range(greatest(len(ws) - 1, 0)),
               i -> ws[i + 1] || ' ' || ws[i + 2])) AS gram
    FROM toks
), firsts AS (
    SELECT gram, MIN(day) AS first_day FROM grams GROUP BY gram
)
SELECT g.day,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN f.first_day = g.day THEN 1 ELSE 0 END) AS BIGINT)
           AS n_first_seen,
       CAST(SUM(CASE WHEN f.first_day = g.day THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS novelty_frac
FROM grams g JOIN firsts f USING (gram)
GROUP BY g.day
"""


@register("x_ngram_novelty", oracle=_NOVELTY_ORACLE)
def x_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty over time: per ingest day, the fraction of bigram
    OCCURRENCES whose gram is seen for the first time that day — the
    freshness signal behind crawl-recency weighting and incremental
    dedup (a day of reposts scores near zero). Documents carry no
    timestamp in the fixture, so ingest day is derived
    deterministically from doc_id (10 docs/day, 30-day cycle) —
    identical arithmetic in both engines.

    Shape: bigrams assembled in-array (one explode), first-seen day =
    one min-aggregate over grams, joined back for the per-day counting
    aggregate. Day grain keeps the output bounded; the gram df table
    is the familiar inverted index.
    """
    d = load(spark, sf_dir, "documents")
    day = (F.round(F.col("doc_id") / 10).cast("bigint") % 30).alias("day")
    ws = F.split("text", " ")
    # guard: Spark's sequence(0, -1) would generate a DESCENDING range
    # for a 1-word doc — emit an empty gram array instead (DuckDB's
    # range() is empty for non-positive bounds, same result)
    grams_arr = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(ws, i + 1), F.element_at(ws, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = d.select(day, F.explode(grams_arr).alias("gram"))
    firsts = g.groupBy("gram").agg(F.min("day").alias("first_day"))
    new = F.sum(F.when(F.col("first_day") == F.col("day"), 1).otherwise(0))
    return (
        g.join(firsts, "gram")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            new.cast("bigint").alias("n_first_seen"),
            (new.cast("double") / F.count(F.lit(1))).alias("novelty_frac"),
        )
    )


_NULLSAFE_ORACLE = """
WITH sides AS (
    SELECT event_id, NULLIF(event_type, 'error') AS etype
    FROM events
), dim AS (
    SELECT * FROM (VALUES
        ('view', 10), ('click', 20), ('purchase', 30), ('signup', 40),
        (NULL, -1)
    ) d(etype, weight)
)
SELECT s.event_id, s.etype, d.weight
FROM sides s JOIN dim d ON s.etype IS NOT DISTINCT FROM d.etype
"""


@register("q_join_null_safe", oracle=_NULLSAFE_ORACLE)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (``<=>`` / IS NOT DISTINCT FROM): error
    events carry a NULL key (NULLIF) and must still match the dim's
    NULL row — the semantics a plain equi-join silently drops (NULL =
    NULL is NULL, so every error event would vanish). The canonical
    trap in dimension lookups with an explicit "unknown" member.

    Spark: ``eqNullSafe`` keeps the join a HASH join (null-safe
    equality is still an equi-key — no nested-loop fallback); the dim
    broadcasts.
    """
    e = load(spark, sf_dir, "events").select(
        "event_id",
        F.nullif(F.col("event_type"), F.lit("error")).alias("etype"),
    )
    dim = spark.createDataFrame(
        [("view", 10), ("click", 20), ("purchase", 30), ("signup", 40),
         (None, -1)],
        "etype string, weight int",
    )
    return (
        e.join(F.broadcast(dim), e.etype.eqNullSafe(dim.etype))
        .select(e.event_id, e.etype, dim.weight)
    )


_TWA_ORACLE = """
WITH seq AS (
    SELECT user_id,
           CAST(ROUND(value * 100) AS BIGINT) AS cents,
           epoch_us(CAST(ts AS TIMESTAMP)) AS t,
           LEAD(epoch_us(CAST(ts AS TIMESTAMP)))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t_next
    FROM events
), segs AS (
    SELECT user_id, cents, t_next - t AS dt
    FROM seq WHERE t_next IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CAST(cents AS DECIMAL(38,0)) * dt) AS DOUBLE)
           / CAST(SUM(dt) AS DOUBLE) / 100 AS twa_value
FROM segs
GROUP BY user_id
"""


@register("q_time_weighted_avg", oracle=_TWA_ORACLE)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-weighted average of each user's value signal: every
    observation holds until the next one, so its weight is the gap
    duration (the metric a plain AVG misrepresents whenever sampling
    is irregular — one long-lived reading should dominate a burst of
    short ones).

    Exactness: cents × µs-gap products are integers summed as
    DECIMAL(38,0) (a per-user year of µs weights ≈ 3·10¹³ × cents
    ≈ 10⁵ → 10¹⁸ per segment, decimal headroom to 10³⁸); the only
    float math is the final fixed-shape division pair. One window
    (lead) and one aggregate, both partitioned by user.
    """
    e = load(spark, sf_dir, "events")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        t.alias("t"),
        F.lead(t).over(w).alias("t_next"),
    ).where(F.col("t_next").isNotNull())
    dt = F.col("t_next") - F.col("t")
    return (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            (
                F.sum(F.col("cents").cast("decimal(38,0)") * dt).cast("double")
                / F.sum(dt).cast("double")
                / 100
            ).alias("twa_value"),
        )
    )
