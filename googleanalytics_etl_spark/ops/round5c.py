"""Round-5 pre-work, third batch: interval algebra, sub-document
containment, and a verified heavy-hitters sketch.

- ``q_interval_merge`` — merge overlapping per-user activity intervals
  (the interval-union/coverage operator behind "time on site" and SLA
  coverage math): classic sweep via a running-max window, zero
  self-joins.
- ``x_containment`` — asymmetric shingle containment C(A,B) =
  |S(A)∩S(B)| / min(|S(A)|,|S(B)|): catches EXCERPT duplication
  (one doc embedded in another) that symmetric Jaccard scores low.
  Candidates come from rare-shingle blocking (df-capped inverted
  index), the same bounded pair space as ``x_dedup_eval``.
- ``x_approx_topk`` — distributed Misra-Gries heavy hitters: each
  partition streams its tokens through a capacity-k summary
  (``mapInPandas``, O(k) state), the tiny candidate union is
  exact-counted in a second pass, and only candidates with
  ``count·(k+1) > n`` ship. The MG invariant (any token with
  frequency > n/(k+1) survives every partition summary) makes the
  FINAL output exactly "all tokens above the frequency threshold" —
  an approximate algorithm with a deterministic, fully-SQL-checkable
  result.

Scale notes: the interval sweep is one hash exchange on user_id; the
containment pair space is Σ df² over rare shingles (df ≤ 10), never
n²; the MG pass moves only k tokens per partition to the second
phase, and the exact-count pass is a broadcast semi join — the
full-corpus shuffle of a naive global word count never happens for
the candidate filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from .extensions import word_shingles


# ---------------------------------------------------------------------------
# q_interval_merge — per-user interval union (merge overlapping windows)
# ---------------------------------------------------------------------------

_INTERVAL_ORACLE = """
WITH iv AS (
    SELECT user_id, event_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS s,
           epoch_us(CAST(ts AS TIMESTAMP)) + CAST(1800 AS BIGINT) * 1000000
               AS e
    FROM events
), swept AS (
    SELECT user_id, s, e,
           MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
    FROM iv
), flagged AS (
    SELECT user_id, s, e,
           CASE WHEN prev_max_e IS NULL OR prev_max_e < s THEN 1 ELSE 0 END
               AS is_new
    FROM swept
), grouped AS (
    SELECT user_id, s, e,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, e
                             ROWS UNBOUNDED PRECEDING) AS grp
    FROM flagged
), merged AS (
    SELECT user_id, grp, MIN(s) AS ms, MAX(e) AS me
    FROM grouped GROUP BY user_id, grp
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(me - ms) AS BIGINT) AS covered_us
FROM merged
GROUP BY user_id
"""


@register("q_interval_merge", oracle=_INTERVAL_ORACLE)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge each user's overlapping 30-minute activity intervals and
    report interval count + exact covered time.

    The sweep is the O(n log n) no-self-join recipe: order by start,
    running MAX(end) over preceding rows, a new interval starts exactly
    when the running max ends before this start (touching intervals
    merge), then one group-by over the interval ids. All integer
    microsecond arithmetic — no float time math. One hash exchange on
    ``user_id``; both windows and the final agg share it.
    """
    ev = load(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.lit(1800) * 1_000_000
        ).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    swept = iv.withColumn(
        "prev_max_e",
        F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)),
    )
    flagged = swept.withColumn(
        "is_new",
        F.when(
            F.col("prev_max_e").isNull() | (F.col("prev_max_e") < F.col("s")), 1
        ).otherwise(0),
    )
    grp_w = Window.partitionBy("user_id").orderBy("s", "e").rowsBetween(
        Window.unboundedPreceding, 0
    )
    grouped = flagged.withColumn("grp", F.sum("is_new").over(grp_w))
    merged = grouped.groupBy("user_id", "grp").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum(F.col("me") - F.col("ms")).cast("long").alias("covered_us"),
    )


# ---------------------------------------------------------------------------
# x_containment — excerpt-duplication via asymmetric shingle containment
# ---------------------------------------------------------------------------

_SHINGLE_SQL = """
    SELECT doc_id,
           unnest(list_distinct(
               CASE WHEN len(words) >= 3 THEN
                   list_transform(range(len(words) - 2),
                       i -> words[i + 1] || ' ' || words[i + 2] || ' ' ||
                            words[i + 3])
               ELSE [list_aggregate(words, 'string_agg', ' ')] END)) AS shingle
    FROM corpus
"""

_CONTAINMENT_ORACLE = f"""
WITH corpus AS (
    SELECT doc_id, str_split(text, ' ') AS words FROM documents
    UNION ALL
    SELECT doc_id + 2000000,
           str_split(text, ' ')[1 : GREATEST(len(str_split(text, ' ')) // 2, 3)]
    FROM documents WHERE doc_id < 10
), sh0 AS ({_SHINGLE_SQL}
), sh AS (
    SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS shingle
    FROM sh0
), sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id
), df AS (
    SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
), rare AS (
    SELECT shingle FROM df WHERE df <= 10
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sh a JOIN rare USING (shingle) JOIN sh b USING (shingle)
    WHERE a.doc_id < b.doc_id
), common AS (
    SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY c.doc_a, c.doc_b
)
SELECT m.doc_a, m.doc_b, m.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
       ROUND(CAST(m.n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh), 6)
           AS containment
FROM common m
JOIN sizes sa ON sa.doc_id = m.doc_a
JOIN sizes sb ON sb.doc_id = m.doc_b
WHERE CAST(m.n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) >= 0.9
"""


@register("x_containment", oracle=_CONTAINMENT_ORACLE)
def x_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excerpt-duplication detector: containment = |S(A)∩S(B)| over the
    SMALLER shingle set, ≥ 0.9. A half-length excerpt of a document has
    Jaccard ≈ 0.5 (invisible to the symmetric near-dup family) but
    containment 1.0 — this operator is why curation pipelines run both.

    Fixture plants a prefix-half excerpt of docs 0–9 at doc_id+2e6
    (every prefix 3-gram of the half is a 3-gram of the full text, so
    planted containment is exactly 1.0; organic text is near-random).

    Candidate pairs come ONLY from shingles with df ≤ 10 (the rare-
    shingle inverted index): pair space Σ df² over rare shingles —
    bounded, never corpus². Exact intersection counts are then computed
    for candidates alone by re-joining the two shingle sets through the
    candidate list. A true pair sharing no rare shingle is missed by
    construction — the documented recall criterion of df-blocked
    candidate generation (cf. ``x_dedup_eval``'s truth side).

    Perf shape: shingles are md5-hashed to 60-bit LONGS before any
    shuffle (x_dedup_eval's lesson — the df agg, candidate join, and
    intersection join all move/compare 8-byte keys, never ~25-char
    strings; the hash is mirrored in the oracle), and the hashed
    shingle stage — read by four consumers (sizes, df, candidates,
    intersection) — is materialized ONCE via eager localCheckpoint
    (released by the ContextCleaner, unlike a session-pinned persist).
    """
    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    half = F.slice(
        words, 1, F.greatest(F.floor(F.size(words) / 2).cast("int"), F.lit(3))
    )
    corpus = d.select("doc_id", words.alias("words")).unionByName(
        d.where(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), half.alias("words")
        )
    )
    h = F.conv(
        F.substring(F.md5(F.col("shingle").cast("binary")), 1, 15), 16, 10
    ).cast("long")
    sh = (
        corpus.select(
            "doc_id", F.explode(word_shingles(F.col("words"))).alias("shingle")
        )
        .select("doc_id", h.alias("shingle"))
        .materialize(eager=True)
    )
    # One doc-grain aggregate replaces FOUR passes over the shingle
    # index (the old sizes aggregate, both sides of the intersection
    # join, and the sa/sb size joins): per-doc hash list + its size.
    # n_common as size(array_intersect) equals the old join-count row
    # for row because the per-doc hash multiset is duplicate-free —
    # word_shingles emits array_distinct strings and no two of them
    # collide in the 60-bit hash (asserted by
    # tests/test_round5c_ops.py::test_containment_shingle_hashes_collision_free
    # at every fixture scale present: sf0.001, sf0.01 and the sf0.1
    # bench fixture; a collision would shift n_common).
    sets_ = sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("shs"),
        F.count(F.lit(1)).cast("long").alias("n_sh"),
    )
    # Rare-shingle candidates via the bucket discipline (guide §2.3/§3):
    # aggregate the inverted index ONCE to df-capped member lists and
    # generate pairs inside the row — the old blocked ⋈ blocked form
    # shuffled the exploded index twice more. size(ids) == the old
    # COUNT(*) df; only buckets with >= 2 docs can produce pairs.
    cand = (
        sh.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= 10))
        .select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sets_.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shs").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = sets_.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shs").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    score = n_common.cast("double") / F.least(F.col("n_a"), F.col("n_b"))
    # Pair side repartitioned to the session parallelism before the
    # per-pair set op: the distinct's output is a few MB of key pairs,
    # so AQE would coalesce it to ~1 partition and the intersection
    # stage would run single-threaded (the x_dedup_eval lesson).
    return (
        cand.repartition(
            spark.sparkContext.defaultParallelism, "doc_a", "doc_b"
        )
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(score >= 0.9)
        .select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            "n_a",
            "n_b",
            F.round(score, 6).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# x_approx_topk — Misra-Gries heavy hitters with exact verification
# ---------------------------------------------------------------------------

_MG_CAPACITY = 50

_TOPK_ORACLE = f"""
WITH tf AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    )
    WHERE tok <> ''
    GROUP BY tok
), tot AS (SELECT SUM(n) AS total FROM tf)
SELECT tok, n
FROM tf, tot
WHERE n * {_MG_CAPACITY + 1} > total
"""


def _mg_partition(batches):
    """Per-partition Misra-Gries summary, capacity {cap}: streaming
    counters over Arrow batches; when the table exceeds capacity,
    subtract the minimum count from every counter and drop zeros. The
    classic charge argument: every subtraction of m is paid by m·(k+1)
    stream items, so any token with partition frequency > n_p/(k+1)
    still holds a positive counter at the end.
    """
    import pandas as pd

    counters: dict = {}
    for pdf in batches:
        for tok, c in pdf["tok"].value_counts().items():
            counters[tok] = counters.get(tok, 0) + int(c)
        while len(counters) > _MG_CAPACITY:
            m = min(counters.values())
            counters = {t: c - m for t, c in counters.items() if c > m}
    yield pd.DataFrame({"tok": list(counters.keys())})


@register("x_approx_topk", oracle=_TOPK_ORACLE)
def x_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters above frequency n/(k+1), k = 50, by distributed
    Misra-Gries + exact verification — the two-phase sketch pattern
    whose output is DETERMINISTIC despite the approximate first phase.

    Phase 1 (``mapInPandas``): each partition streams its tokens
    through an O(k)-state MG summary and emits ≤ k candidate tokens —
    per-partition data movement collapses from |tokens| to k. The MG
    invariant guarantees every globally-heavy token (> n/(k+1) overall
    ⇒ > n_p/(k+1) in at least one partition, by averaging) survives
    in some partition's summary, so the candidate UNION is a superset
    of the true answer regardless of partitioning.

    Phase 2: exact counts for the tiny candidate set via a BROADCAST
    semi join on the token stream + one count agg, filtered with pure
    integer arithmetic ``count·(k+1) > n`` — no float threshold. The
    result equals the oracle's full exact top-frequency scan while
    shuffling only candidates.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok")).where(
        F.col("tok") != ""
    )
    cands = toks.mapInPandas(_mg_partition, "tok string").distinct()
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    exact = (
        toks.join(F.broadcast(cands), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .where(F.col("n") * (_MG_CAPACITY + 1) > F.col("total"))
        .select("tok", "n")
    )
