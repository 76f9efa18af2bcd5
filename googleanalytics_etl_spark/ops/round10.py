"""Round-10 batch: exact-substring deduplication (Lee et al. 2021,
"Deduplicating Training Data Makes Language Models Better").

The one public dedup family the engine did not yet represent: remove
the exact token spans that occur verbatim more than once in the
corpus, keeping one canonical copy of each. Three keys, each a full
cross-engine hash oracle over the ``documents`` fixture:

- ``x_exact_substring_dedup`` — the span finder: every maximal merged
  token interval covered by duplicated ``L``-grams, excluding each
  gram's canonical (lexicographically first ``(doc_id, pos)``)
  occurrence. Emits per-doc ``(span_start, span_end, span_len)`` —
  the removal instruction list.
- ``x_exact_substring_clean`` — the acting form: apply the removal to
  the corpus and emit per-doc cleaned text + exact token accounting
  (every document appears, short docs pass through unchanged).
- ``s_exact_substring_dedup`` — the ingest loop: per-batch gram
  postings + per-batch ``(count, first-occurrence)`` partials folded
  by the (SUM, MIN) monoid; the folded statistic equals the
  whole-corpus one EXACTLY, certified by sharing the span oracle.
- ``x_decontaminate_spans`` — the asymmetric variant: spans shared
  verbatim with a held-out benchmark corpus (``source = 'src0'``),
  where the benchmark is always canonical and its tiny gram set
  broadcasts — the corpus never shuffles for the flag.

Semantics (the suffix-array pass, re-expressed relationally): a token
span of length ≥ L is duplicated iff every ``L``-gram inside it is
duplicated, and conversely any duplicated ``L``-gram occurrence marks
an L-token removable window. So "find duplicated substrings ≥ L
tokens" ≡ "flag non-canonical occurrences of globally-repeated
L-grams, then merge overlapping/adjacent L-windows per document" —
no suffix array needed, only a groupBy on the gram hash and one
per-doc interval sweep (the q_interval_merge idiom). L = {L} here
(fixture-scale yield); the paper's 50-token threshold is this one
constant.

Keep-first policy: for each repeated gram the smallest packed
``doc_id·2^{p} + pos`` key survives, so common content keeps exactly
one copy (dedup, not deletion) and both engines agree on the survivor
with no struct-comparator dialect differences.

Scale shape (the 100 TB story): gram hashing is row-local codegen
after an insurance repartition (the round9.py:207 single-input-split
pitfall). The BATCH keys flag non-canonical occurrences in ONE pass —
per-gram count and min first-occurrence key as window functions over
the digest partitioning (no join, no second featurization; chosen by
a measured ×16/×64/×128 A/B/C sweep, see _dup_starts_one_pass). The
STREAMING key keeps the groupBy statistic because its mergeability IS
the point: per-batch ``(count, min)`` partials fold by the (SUM, MIN)
monoid and the final flag is one join against the folded metadata.
The span sweep rides the doc-grain exchange every per-doc sequence op
pays. Collisions: 60-bit hashes over 100 TB-scale gram counts give
birthday-bound collision odds ≪ 1; both engines hash identically, so
results agree regardless.

Reference parity: no analogue in the reference package
[REF-UNVERIFIED — /root/reference is empty]; extends §2.K per the
round-9 verdict's "What's missing" item 2.

Overflow discipline: packed keys reserve {p} bits for the position, so
documents with ≥ 2^{p} grams (and doc_ids ≥ 2^{d}) raise loudly
instead of fingerprinting incorrectly — same guard as the winnowing
argmin (ops/round9c.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register

_SPAN_L = 8  # duplicated-substring threshold, in tokens
_POS_BITS = 20  # position field width in the packed first-occurrence key
_DOC_BITS = 42  # doc_id field width (pos + doc fits signed 64-bit)

# DuckDB featurization: positioned L-gram strings, the round9c.py idiom
# (1-based range index i -> 0-based pos), 60-bit md5 prefix hashes
# (15 hex chars — exact in signed BIGINT on both engines).
_CAT = " || ' ' || ".join(f"t[i + {j}]" for j in range(1, _SPAN_L + 1))

_SQL_OCC = f"""
    SELECT doc_id, pos,
           CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h,
           doc_id * {2**_POS_BITS} + pos AS fk
    FROM (
        SELECT doc_id,
               UNNEST(range(len(t) - {_SPAN_L} + 1)) AS pos,
               UNNEST(list_transform(range(len(t) - {_SPAN_L} + 1),
                      i -> {_CAT})) AS g
        FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= {_SPAN_L}
    )
"""

# Non-canonical occurrences of repeated grams -> L-token windows ->
# merged per-doc intervals (the q_interval_merge sweep: running MAX(e)
# over preceding starts; adjacent coverage merges, s > prev_e + 1
# opens a new island).
_SQL_SPANS = f"""
    WITH occ AS ({_SQL_OCC}),
    stats AS (
        SELECT h, COUNT(*) AS cnt, MIN(fk) AS first_fk
        FROM occ GROUP BY h
    ),
    dup AS (
        SELECT o.doc_id, o.pos AS s, o.pos + {_SPAN_L - 1} AS e
        FROM occ o JOIN stats st USING (h)
        WHERE st.cnt >= 2 AND o.fk <> st.first_fk
    ),
    swept AS (
        SELECT doc_id, s, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS prev_e
        FROM dup
    ),
    grouped AS (
        SELECT doc_id, s, e,
               SUM(CASE WHEN prev_e IS NULL OR s > prev_e + 1
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY s
                         ROWS UNBOUNDED PRECEDING) AS grp
        FROM swept
    )
    SELECT doc_id,
           CAST(MIN(s) AS BIGINT) AS span_start,
           CAST(MAX(e) AS BIGINT) AS span_end,
           CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_len
    FROM grouped GROUP BY doc_id, grp
"""

_SPANS_ORACLE = f"SELECT doc_id, span_start, span_end, span_len FROM ({_SQL_SPANS})"


def _occ(d: DataFrame) -> DataFrame:
    """(doc_id, pos, h, fk): positioned L-gram 60-bit hashes + packed
    first-occurrence keys, row-local, overflow-guarded."""
    spark = d.sparkSession
    toks = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .where(F.size("t") >= _SPAN_L)
        # Rebalance BEFORE the ~L x explode (the round9.py:207 pitfall):
        # a fixture corpus arrives as one input split, so the whole gram
        # expansion would land on one core; on a real cluster this is a
        # cheap insurance repartition of the slim pre-explosion frame.
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(t) - {_SPAN_L - 1}), "
                f"i -> concat_ws(' ', slice(t, i, {_SPAN_L})))"
            )
        ).alias("pos", "g"),
    )
    # Loud overflow guard riding the projection: oversized docs /
    # doc_ids fail, never pack wrong keys. It gates BOTH h and fk —
    # every consumer keeps h (it is the join/group digest), so even a
    # plan that prunes fk (x_decontaminate_spans' benchmark side does
    # .select("h").distinct()) still carries the guard. Same discipline
    # as the winnowing argmin guard. Codegen CSEs the shared condition,
    # so guarding two columns costs one row-level bounds check.
    overflow = (F.col("pos") >= F.lit(2**_POS_BITS)) | (
        F.col("doc_id") >= F.lit(2**_DOC_BITS)
    )
    err = F.raise_error(
        F.concat(
            F.lit("exact-substring: document "),
            F.col("doc_id").cast("string"),
            F.lit(
                f" exceeds packed-key bounds (pos < 2^{_POS_BITS},"
                f" doc_id < 2^{_DOC_BITS})"
            ),
        )
    ).cast("long")
    h = (
        F.conv(F.substring(F.md5(F.col("g").cast("binary")), 1, 15), 16, 10)
        .cast("long")
    )
    fk = F.col("doc_id") * (2**_POS_BITS) + F.col("pos")
    return grams.select(
        "doc_id",
        "pos",
        F.when(overflow, err).otherwise(h).alias("h"),
        F.when(overflow, err).otherwise(fk).alias("fk"),
    )


def _gram_stats(occ: DataFrame) -> DataFrame:
    """(h, cnt, first_fk): the mergeable per-gram sufficient statistic
    — COUNT is a sum-monoid, first occurrence a min-semilattice."""
    return occ.groupBy("h").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("fk").alias("first_fk")
    )


def _dup_starts(occ: DataFrame, stats: DataFrame) -> DataFrame:
    """(doc_id, s): non-canonical occurrences of repeated grams, by
    joining a PRE-COMPUTED stats frame — the streaming path, where
    stats is the (SUM, MIN) monoid fold of per-batch partials."""
    return (
        occ.join(stats, "h")
        .where((F.col("cnt") >= 2) & (F.col("fk") != F.col("first_fk")))
        .select("doc_id", F.col("pos").alias("s"))
    )


def _dup_starts_one_pass(occ: DataFrame) -> DataFrame:
    """(doc_id, s): non-canonical occurrences of repeated grams in ONE
    pass — per-gram count and min first-occurrence key as window
    functions over the digest partitioning, no join, no second
    featurization.

    Chosen by measurement over the groupBy-stats + join form (the
    streaming path's shape): at ×128 replicated sf0.1 the join form is
    spill-unstable — Spark's static size estimate for the aggregate
    output crosses the broadcast threshold and the planner flips to a
    SortMergeJoin that shuffles AND sorts the full occurrence frame
    (measured 44.6–125.7 s across sessions; a shuffle_hash hint
    measured 54–91 s) — while this form measured 36.6–38.4 s with one
    featurization pass and one digest-grain exchange shared by the
    window and nothing else. Same-session sweep (warmed, interleaved):
    ×16 join 6.5 / window 5.8; ×64 join 27.9 / window 15.0; ×128 join
    44.6 / window 38.4.

    The trade, documented: a window has no map-side combine, so every
    occurrence of a gram colocates in one task — a pathological
    boilerplate gram (df ~10⁹) would make one long spilled-sort task.
    But the JOIN forms colocate hot grams identically unless the stats
    side broadcasts (impossible at 100 TB dup-gram cardinality); their
    only skew edge is AQE's skew-join splitting. If that extreme is
    expected, flag with the groupBy+shuffle_hash form (_gram_stats +
    _dup_starts) — it stays in the streaming path and costs a second
    featurization pass.
    """
    w = Window.partitionBy("h")
    return (
        occ.withColumn("cnt", F.count(F.lit(1)).over(w))
        .withColumn("first_fk", F.min("fk").over(w))
        .where((F.col("cnt") >= 2) & (F.col("fk") != F.col("first_fk")))
        .select("doc_id", F.col("pos").alias("s"))
    )


def _merged_spans(dup: DataFrame) -> DataFrame:
    """Merge each doc's L-token removal windows into maximal spans —
    the q_interval_merge sweep (running MAX(end) over preceding)."""
    iv = dup.select("doc_id", "s", (F.col("s") + (_SPAN_L - 1)).alias("e"))
    w = Window.partitionBy("doc_id").orderBy("s")
    swept = iv.withColumn(
        "prev_e", F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    )
    flagged = swept.withColumn(
        "is_new",
        F.when(
            F.col("prev_e").isNull() | (F.col("s") > F.col("prev_e") + 1), 1
        ).otherwise(0),
    )
    grouped = flagged.withColumn(
        "grp",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return grouped.groupBy("doc_id", "grp").agg(
        F.min("s").cast("long").alias("span_start"),
        F.max("e").cast("long").alias("span_end"),
        (F.max("e") - F.min("s") + 1).cast("long").alias("span_len"),
    ).drop("grp")


@register("x_exact_substring_dedup", oracle=_SPANS_ORACLE)
def x_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, the span finder: maximal per-document
    token intervals covered by L-grams that occur verbatim more than
    once in the corpus (within OR across documents), keeping each
    gram's canonical first occurrence — the Lee-et-al-2021 ExactSubstr
    pass re-expressed as groupBy + interval sweep instead of a suffix
    array.

    Scale shape: only 60-bit digests shuffle for the gram statistic
    (map-side combined); the flag join fans out by organic gram
    frequency (near 1); the sweep is one doc-grain window. The paper's
    suffix array is a global sort of the whole corpus — this shape is
    embarrassingly parallel and AQE-skew-safe instead.
    """
    occ = _occ(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return _merged_spans(_dup_starts_one_pass(occ))


# ---------------------------------------------------------------------------
# x_exact_substring_clean — the acting removal
# ---------------------------------------------------------------------------

_CLEAN_ORACLE = f"""
WITH occ AS ({_SQL_OCC}),
stats AS (
    SELECT h, COUNT(*) AS cnt, MIN(fk) AS first_fk FROM occ GROUP BY h
),
dup AS (
    SELECT o.doc_id, o.pos AS s
    FROM occ o JOIN stats st USING (h)
    WHERE st.cnt >= 2 AND o.fk <> st.first_fk
),
toks AS (
    SELECT doc_id, UNNEST(range(len(t))) AS pos, UNNEST(t) AS tok
    FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents)
),
fl AS (
    SELECT t.doc_id, t.pos, t.tok,
           MAX(CASE WHEN d.s IS NOT NULL THEN 1 ELSE 0 END)
               OVER (PARTITION BY t.doc_id ORDER BY t.pos
                     ROWS BETWEEN {_SPAN_L - 1} PRECEDING
                              AND CURRENT ROW) AS removed
    FROM toks t LEFT JOIN dup d ON t.doc_id = d.doc_id AND t.pos = d.s
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(removed) AS BIGINT) AS dup_tokens,
       COALESCE(string_agg(CASE WHEN removed = 0 THEN tok END,
                           ' ' ORDER BY pos), '') AS clean_text
FROM fl GROUP BY doc_id
"""


def x_exact_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply exact-substring dedup to the corpus: per document, the
    exact duplicated-token count and the cleaned text with every
    non-canonical duplicated span removed. EVERY document appears —
    short docs (< L tokens) pass through unchanged — so this is the
    drop-in corpus rewrite stage of a curation pipeline.

    A token is removed iff some duplicated L-gram STARTS within the
    trailing L-window ending at it — computed as a bounded {L}-row
    sliding MAX over the flagged starts, riding the one doc-grain
    exchange; reconstruction is an in-group sort + concat (no second
    shuffle). Token accounting is exact, so downstream mixture/budget
    stages (x_token_budget) can re-weight sources by what dedup
    actually removed.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = _dup_starts_one_pass(_occ(d))
    toks = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    )
    fl = toks.join(
        dup.withColumnRenamed("s", "pos").withColumn("flag", F.lit(1)),
        ["doc_id", "pos"],
        "left",
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_SPAN_L - 1), 0)
    )
    fl = fl.withColumn(
        "removed", F.max(F.coalesce(F.col("flag"), F.lit(0))).over(w)
    )
    return fl.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("removed").cast("long").alias("dup_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("removed") == 0,
                            F.struct(F.col("pos"), F.col("tok")),
                        )
                    )
                ),
                lambda x: x["tok"],
            ),
        ).alias("clean_text"),
    )


# Format the {L} placeholder BEFORE registration so REGISTRY's Query.doc
# captures the concrete value (the decorator snapshots fn.__doc__; the
# module-level __doc__ rewrite below avoids the same ordering trap).
x_exact_substring_clean.__doc__ = (x_exact_substring_clean.__doc__ or "").format(
    L=_SPAN_L
)
register("x_exact_substring_clean", oracle=_CLEAN_ORACLE)(x_exact_substring_clean)


# ---------------------------------------------------------------------------
# s_exact_substring_dedup — streaming fold of the gram statistic
# ---------------------------------------------------------------------------


@register("s_exact_substring_dedup", oracle=_SPANS_ORACLE)
def s_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact-substring dedup — the ingest loop: documents
    arrive in 4 doc_id-ordered micro-batches; each batch grams itself
    (row-local, O(|batch|)), appends its posting slice, and appends its
    per-gram ``(count, min-first-key)`` PARTIAL. The final statistic is
    the (SUM, MIN) monoid fold of the partials — count vectors and
    min-semilattices merge associatively, so the folded statistic
    equals the whole-corpus one EXACTLY and the emitted spans hash-match
    the batch x_exact_substring_dedup (shared oracle).

    This is how the paper's pass keeps up with a growing corpus: each
    new crawl shard ships its gram partials (O(shard) work, no history
    re-gram), the fold is one digest-grain merge, and only the final
    span emission touches the accumulated postings. The per-batch
    slices are localCheckpointed (block-manager-resident longs); the
    at-scale sink is bucketBy(h) parquet appends — a sink change, not a
    plan change (the x_semdedup_incremental shape).
    """
    from .streaming import documents_stream, run_foreach_batch, stage_table

    staged = stage_table(spark, sf_dir, "xsub")

    occ_slices: list[DataFrame] = []
    stat_slices: list[DataFrame] = []
    seen_epochs: set[int] = set()

    def fold_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # Micro-batch redelivery guard (mirrors round9b's
        # _fold_bucket_counts). The span output is in fact invariant
        # under a re-appended batch even WITHOUT this guard — duplicated
        # occ rows carry identical fk, so a once-only gram reaches
        # cnt=2 but both copies have fk == first_fk (never flagged),
        # and already-duplicated grams just emit duplicate (doc, pos)
        # starts that the per-doc interval merge collapses — but the
        # guard makes the at-least-once contract explicit rather than
        # argued.
        if epoch_id in seen_epochs:
            return
        seen_epochs.add(epoch_id)
        occ = _occ(batch_df.select("doc_id", "text")).materialize(
            eager=True
        )
        occ_slices.append(occ)
        # lazy: the partial derives only from the occ checkpoint, so the
        # (SUM, MIN) monoid fold below evaluates every batch's partial
        # once, in the final query, at full session parallelism instead
        # of under the stream's bounded shuffle conf (round-13 pattern).
        stat_slices.append(_gram_stats(occ))

    run_foreach_batch(documents_stream(spark, staged), fold_batch)

    stats = (
        reduce(lambda a, b: a.unionByName(b), stat_slices)
        .groupBy("h")
        .agg(F.sum("cnt").alias("cnt"), F.min("first_fk").alias("first_fk"))
    )
    occ = reduce(lambda a, b: a.unionByName(b), occ_slices)
    return _merged_spans(_dup_starts(occ, stats))


# ---------------------------------------------------------------------------
# x_decontaminate_spans — span-level benchmark decontamination
# ---------------------------------------------------------------------------

# Occurrence CTE carrying source (the bench/train split column).
_SQL_OCC_SRC = f"""
    SELECT doc_id, source, pos,
           CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h
    FROM (
        SELECT doc_id, source,
               UNNEST(range(len(t) - {_SPAN_L} + 1)) AS pos,
               UNNEST(list_transform(range(len(t) - {_SPAN_L} + 1),
                      i -> {_CAT})) AS g
        FROM (SELECT doc_id, source, str_split(text, ' ') AS t
              FROM documents)
        WHERE len(t) >= {_SPAN_L}
    )
"""

_DECON_SPANS_ORACLE = f"""
WITH occ AS ({_SQL_OCC_SRC}),
bench AS (
    SELECT DISTINCT h FROM occ WHERE source = 'src0'
),
dup AS (
    SELECT o.doc_id, o.pos AS s, o.pos + {_SPAN_L - 1} AS e
    FROM occ o JOIN bench USING (h)
    WHERE o.source <> 'src0'
),
swept AS (
    SELECT doc_id, s, e,
           MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS prev_e
    FROM dup
),
grouped AS (
    SELECT doc_id, s, e,
           SUM(CASE WHEN prev_e IS NULL OR s > prev_e + 1
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s
                     ROWS UNBOUNDED PRECEDING) AS grp
    FROM swept
)
SELECT doc_id,
       CAST(MIN(s) AS BIGINT) AS span_start,
       CAST(MAX(e) AS BIGINT) AS span_end,
       CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_len
FROM grouped GROUP BY doc_id, grp
"""


@register("x_decontaminate_spans", oracle=_DECON_SPANS_ORACLE)
def x_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination — the SURGICAL form of
    x_decontaminate (which only SCORES doc-level overlap): every
    maximal training-doc token span sharing a verbatim L-gram with the
    held-out benchmark corpus (``source = 'src0'``), as removal
    instructions. The benchmark always keeps its copy (it is the
    canonical side by definition), so the policy is asymmetric —
    unlike x_exact_substring_dedup no first-occurrence ranking is
    needed, just membership.

    Scale shape — the key difference from the symmetric dedup: the
    benchmark side is TINY relative to the corpus (eval suites are
    MBs; the corpus is 100 TB), so its distinct gram-hash set
    broadcasts and the training corpus NEVER shuffles for the flag —
    gram hashing is row-local, the contamination flag is a broadcast
    hash join on 60-bit digests, and only flagged starts (rare) reach
    the doc-grain sweep. One pass over the corpus, zero corpus-grain
    exchanges before the sweep.

    The broadcast is DECLARED, not left to the optimizer: the round-11
    ×128 probe caught the planner's static size estimate for the
    bench-side distinct aggregate crossing autoBroadcastJoinThreshold
    and flipping the flag join to a SortMergeJoin that shuffles AND
    sorts the full corpus occurrence frame (measured exponent 1.21
    ×64→×128; BHJ restored and re-measured after the hint —
    BASELINE.md round-11 scaling). The semantics guarantee the build
    side is bounded (eval suites are MBs even when the corpus is
    100 TB), which is exactly the case a declared broadcast is for;
    if a pathological benchmark outgrew executor memory the join
    would fail loudly rather than silently absorb a corpus shuffle.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    bench_h = (
        _occ(d.where(F.col("source") == "src0").select("doc_id", "text"))
        .select("h")
        .distinct()
    )
    train_occ = _occ(
        d.where(F.col("source") != "src0").select("doc_id", "text")
    )
    # bench h is distinct, occ has one row per (doc, pos): the join
    # cannot duplicate starts, so no DISTINCT is needed before the sweep
    dup = train_occ.join(F.broadcast(bench_h), "h").select(
        "doc_id", F.col("pos").alias("s")
    )
    return _merged_spans(dup)


_DOC = __doc__ or ""
__doc__ = _DOC.format(L=_SPAN_L, p=_POS_BITS, d=_DOC_BITS)
