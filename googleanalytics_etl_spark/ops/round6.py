"""Round-6 additions: corpus-health and curation-planning operators.

The round-5 surface closed SURVEY.md §2; this batch extends the
LLM-data-pipeline families with the evaluation/planning operators a
100 TB curation run needs AROUND dedup and sampling — each a full
cross-engine hash oracle over the standard fixtures:

- ``x_class_balance`` — class-balanced Bernoulli downsampling of a
  labeled embedding set (per-label keep probability = min-class share,
  deterministic seeded-hash uniform — the row-local scale path, no
  per-class sort).
- ``x_survivor_policy`` — dedup survivorship policy comparison:
  keep-first vs keep-longest vs keep-cleanest survivors per
  normalization-dup group, with per-group agreement accounting.
- ``x_source_kl`` — per-source vocabulary divergence (smoothed KL
  against the corpus unigram distribution over a top-k vocabulary) —
  the "is this source weird" dial next to x_psi_drift's time dial.
- ``x_token_budget`` — mixture allocation: distribute a token budget
  across sources (uniform target, capacity caps, one proportional
  redistribution round) — the planning step before x_mixture_sample
  draws documents.
- ``x_split_contamination`` — near-dup leakage ACROSS train/val/test
  boundaries: MinHash-verified pairs classified by the split pair they
  straddle (x_decontaminate's benchmark-overlap check, turned inward
  on the split itself).
- ``x_dup_inflation`` — per-source token inflation from normalization
  duplicates (corpus tokens vs unique-text tokens): the dedup-ROI
  estimate that decides whether a source is worth near-dedup at all.

Reference parity: the reference package has no analogue for any of
these [REF-UNVERIFIED — /root/reference is empty]; they extend the
§2.J-M families per the round mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import register

# ---------------------------------------------------------------------------
# x_class_balance — balanced per-label downsampling
# ---------------------------------------------------------------------------

# seeded 32-bit uniform from the row key — the x_weighted_sample recipe:
# u = (h32 + 0.5) / 2^32 lies strictly inside (0, 1), replay-stable, and
# DuckDB computes the identical value from the same md5 hex.
_CB_U = (
    "(CAST('0x' || substr(md5('cb-seed-1|' || CAST(vec_id AS VARCHAR)), 1, 8)"
    " AS BIGINT) + 0.5) / 4294967296.0"
)

_CLASS_BALANCE_ORACLE = f"""
WITH counts AS (
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_orig
    FROM embeddings GROUP BY label
), m AS (
    SELECT MIN(n_orig) AS min_n FROM counts
), kept AS (
    SELECT e.label
    FROM embeddings e JOIN counts c USING (label), m
    WHERE {_CB_U} < CAST(m.min_n AS DOUBLE) / c.n_orig
)
SELECT c.label, c.n_orig,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       ROUND(CAST(m.min_n AS DOUBLE) / c.n_orig, 6) AS keep_p
FROM counts c
LEFT JOIN (SELECT label, COUNT(*) AS n_kept FROM kept GROUP BY label) k
    USING (label), m
"""


@register("x_class_balance", oracle=_CLASS_BALANCE_ORACLE)
def x_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling of a labeled embedding set: each
    label keeps rows with probability ``min_class_count / class_count``
    so every class lands at ≈ the minority size — the standard rebalance
    before contrastive/classifier training. The keep decision is a
    row-local seeded-hash Bernoulli (u = (md5₃₂ + 0.5)/2³² < p), NOT a
    per-class ``row_number`` pick: exact top-k-per-class would sort
    every class partition — a hot shuffle when one label dominates
    (exactly the skewed case rebalancing exists for) — while the hash
    predicate needs only the class-count metadata broadcast, scans once,
    and is replay-deterministic. Output: per-label original/kept counts
    and the keep probability.
    """
    em = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    return class_balance_counts(em)


def class_balance_counts(em: DataFrame) -> DataFrame:
    """Library form of :func:`x_class_balance` over any (vec_id, label)
    frame — used by the registered key and the imbalance stress test."""
    counts = em.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_orig")
    )
    m = counts.agg(F.min("n_orig").alias("min_n"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("cb-seed-1|"), F.col("vec_id").cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 0.5
    ) / 4294967296.0
    p = F.col("min_n").cast("double") / F.col("n_orig")
    kept = (
        em.join(F.broadcast(counts), "label")
        .crossJoin(F.broadcast(m))
        .where(u < p)
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
    )
    return (
        counts.join(kept, "label", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "label",
            "n_orig",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.round(p, 6).alias("keep_p"),
        )
    )


# ---------------------------------------------------------------------------
# x_survivor_policy — dedup survivorship policy comparison
# ---------------------------------------------------------------------------

# the x_dedup_normalized canonical key — ONE definition (round5m.py)
# serves the whole normalization-dedup family's SQL oracles
from .round5m import NORM_KEY_SQL as _NORM_KEY_SQL  # noqa: E402

_SURVIVOR_ORACLE = f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 4000000,
           upper(substring(text, 1, 1)) || substring(text, 2) || '  !!'
    FROM documents WHERE doc_id < 10
), scored AS (
    SELECT doc_id,
           {_NORM_KEY_SQL} AS nkey,
           CAST(length(text) AS BIGINT) AS len,
           CAST(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))
                AS DOUBLE) / length(text) AS clean_frac
    FROM corpus
), ranked AS (
    -- DuckDB's max_by cannot order by a composite, so the oracle ranks
    -- per policy; the Spark side's max_by(doc_id, struct(metric,
    -- -doc_id)) computes the identical winner
    SELECT nkey, doc_id,
           ROW_NUMBER() OVER (PARTITION BY nkey
                              ORDER BY len DESC, doc_id) AS r_long,
           ROW_NUMBER() OVER (PARTITION BY nkey
                              ORDER BY clean_frac DESC, doc_id) AS r_clean
    FROM scored
), groups AS (
    SELECT nkey,
           CAST(COUNT(*) AS BIGINT) AS group_n,
           CAST(MIN(doc_id) AS BIGINT) AS keep_first,
           CAST(MAX(CASE WHEN r_long = 1 THEN doc_id END) AS BIGINT)
               AS keep_longest,
           CAST(MAX(CASE WHEN r_clean = 1 THEN doc_id END) AS BIGINT)
               AS keep_cleanest
    FROM ranked GROUP BY nkey
)
SELECT nkey, group_n, keep_first, keep_longest, keep_cleanest,
       CAST(CASE WHEN keep_first = keep_longest
                  AND keep_first = keep_cleanest THEN 1 ELSE 0 END AS BIGINT)
           AS all_agree
FROM groups WHERE group_n >= 2
"""


@register("x_survivor_policy", oracle=_SURVIVOR_ORACLE)
def x_survivor_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship POLICY comparison: for every
    normalization-dup group (the x_dedup_normalized planted-mutant
    corpus), the survivor under keep-first (min doc_id — crawl
    priority), keep-longest (max text length — most complete variant),
    and keep-cleanest (max alphanumeric fraction — least boilerplate
    noise), plus an agreement flag. Curation pipelines argue about
    exactly this choice; computing all three in one pass shows where
    the policies diverge before committing a corpus rewrite.

    One row-local scoring projection, then a single digest-grain hash
    aggregate: every policy is a partial-aggregable ``min``/``max_by``
    (tie-broken by unique (metric, −doc_id)), so the shuffle carries
    one candidate per (digest, map partition) — text never moves, no
    window, no sort, same scale shape as ``x_dedup_exact``.
    """
    from .round5m import mutated_tail, norm_key

    d = load(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "text").unionByName(mutated_tail(d))
    cleaned = F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", "")
    scored = corpus.select(
        "doc_id",
        norm_key().alias("nkey"),
        F.length("text").cast("long").alias("len"),
        (F.length(cleaned).cast("double") / F.length("text")).alias(
            "clean_frac"
        ),
    )
    groups = scored.groupBy("nkey").agg(
        F.count(F.lit(1)).cast("long").alias("group_n"),
        F.min("doc_id").cast("long").alias("keep_first"),
        F.max_by(
            F.col("doc_id"), F.struct(F.col("len"), (-F.col("doc_id")))
        )
        .cast("long")
        .alias("keep_longest"),
        F.max_by(
            F.col("doc_id"),
            F.struct(F.col("clean_frac"), (-F.col("doc_id"))),
        )
        .cast("long")
        .alias("keep_cleanest"),
    )
    agree = (
        (F.col("keep_first") == F.col("keep_longest"))
        & (F.col("keep_first") == F.col("keep_cleanest"))
    )
    return groups.where(F.col("group_n") >= 2).select(
        "nkey",
        "group_n",
        "keep_first",
        "keep_longest",
        "keep_cleanest",
        agree.cast("long").alias("all_agree"),
    )


# ---------------------------------------------------------------------------
# x_source_kl — per-source vocabulary divergence vs the corpus
# ---------------------------------------------------------------------------

_VOCAB_K = 100

_SOURCE_KL_ORACLE = f"""
WITH words AS (
    SELECT source, unnest(str_split(text, ' ')) AS word FROM documents
), corpus_cnt AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS cw
    FROM words GROUP BY word
), vocab AS (
    SELECT word, cw FROM corpus_cnt
    ORDER BY cw DESC, word LIMIT {_VOCAB_K}
), src_tot AS (
    SELECT w.source, CAST(COUNT(*) AS BIGINT) AS ts
    FROM words w JOIN vocab v USING (word) GROUP BY w.source
), corpus_tot AS (
    -- nv = ACTUAL vocabulary size (the fixture corpus has fewer than k
    -- distinct words): smoothing denominators must use it, not k, or p
    -- and q stop summing to 1 over the grid and KL can go negative
    SELECT SUM(cw) AS tc, COUNT(*) AS nv FROM vocab
), grid AS (
    SELECT s.source, s.ts, v.word, v.cw,
           CAST(COALESCE(c.cs, 0) AS BIGINT) AS cs
    FROM src_tot s CROSS JOIN vocab v
    LEFT JOIN (
        SELECT w.source, w.word, COUNT(*) AS cs
        FROM words w JOIN vocab v2 USING (word)
        GROUP BY w.source, w.word
    ) c ON c.source = s.source AND c.word = v.word
)
SELECT g.source,
       CAST(COUNT(*) AS BIGINT) AS n_vocab,
       ROUND(CAST(SUM(CAST(
           ((cs + 0.5) / (ts + nv * 0.5))
           * LN(((cs + 0.5) / (ts + nv * 0.5))
                / ((cw + 0.5) / (tc + nv * 0.5)))
           AS DECIMAL(18,8))) AS DOUBLE), 6) AS kl
FROM grid g, corpus_tot
GROUP BY g.source
"""


@register("x_source_kl", oracle=_SOURCE_KL_ORACLE)
def x_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary divergence: smoothed KL(source ‖ corpus)
    over the corpus top-k word vocabulary (k = 100, clipped to the
    actual vocabulary) — the "does this source speak the corpus's
    language" dial used to flag machine spam / boilerplate farms before
    they enter the mixture (x_psi_drift is the same f-divergence
    pointed at time instead of source).

    Scale shape: ONE explode feeding ONE (source, word) hash aggregate
    (map-side combinable — a stopword is hot only until the combiner);
    the corpus counts ROLL UP from that aggregate instead of
    re-exploding the scan, so the corpus is tokenized exactly once.
    The top-k vocabulary is a TakeOrdered of k rows and is BROADCAST
    into a |sources|×k grid so zero-count cells exist for smoothing.
    Per-term products are DECIMAL(18,8)-quantized before the exact sum
    (the x_psi_drift recipe) so the divergence is bit-stable
    cross-engine despite LN.
    """
    d = load(spark, sf_dir, "documents")
    words = d.select("source", F.explode(F.split("text", " ")).alias("word"))
    sw = words.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("long").alias("cs")
    )
    corpus_cnt = sw.groupBy("word").agg(F.sum("cs").cast("long").alias("cw"))
    vocab = (
        corpus_cnt.orderBy(F.col("cw").desc(), "word").limit(_VOCAB_K)
    )
    src_word = sw.join(F.broadcast(vocab.select("word")), "word")
    src_tot = src_word.groupBy("source").agg(
        F.sum("cs").cast("long").alias("ts")
    )
    # nv = ACTUAL vocabulary size (≤ k): smoothing with k itself would
    # sub-normalize p and q whenever the corpus has fewer distinct
    # words, breaking KL ≥ 0
    corpus_tot = vocab.agg(
        F.sum("cw").alias("tc"), F.count(F.lit(1)).alias("nv")
    )
    grid = (
        src_tot.crossJoin(F.broadcast(vocab))
        .join(src_word, ["source", "word"], "left")
        .select(
            "source",
            "ts",
            "word",
            "cw",
            F.coalesce(F.col("cs"), F.lit(0)).cast("long").alias("cs"),
        )
        .crossJoin(F.broadcast(corpus_tot))
    )
    half = F.col("nv") * 0.5
    p = (F.col("cs") + 0.5) / (F.col("ts") + half)
    q = (F.col("cw") + 0.5) / (F.col("tc") + half)
    term = (p * F.log(p / q)).cast("decimal(18,8)")
    return grid.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.round(F.sum(term).cast("double"), 6).alias("kl"),
    )


# ---------------------------------------------------------------------------
# x_token_budget — mixture allocation under a token budget
# ---------------------------------------------------------------------------

_TOKEN_BUDGET_ORACLE = """
WITH avail AS (
    SELECT source,
           CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS avail
    FROM documents GROUP BY source
), plan0 AS (
    SELECT source, avail,
           CAST(LEAST(
               avail,
               FLOOR((SELECT SUM(avail) FROM avail) * 0.4
                     / (SELECT COUNT(*) FROM avail))
           ) AS BIGINT) AS alloc0
    FROM avail
), lo AS (
    SELECT CAST(FLOOR((SELECT SUM(avail) FROM avail) * 0.4) AS BIGINT)
               - SUM(alloc0) AS leftover,
           SUM(avail - alloc0) AS cap_tot
    FROM plan0
)
SELECT p.source, p.avail,
       CAST(p.alloc0 + CASE WHEN lo.cap_tot > 0 THEN
               CAST(FLOOR(lo.leftover * CAST(p.avail - p.alloc0 AS DOUBLE)
                          / lo.cap_tot) AS BIGINT)
           ELSE 0 END AS BIGINT) AS alloc,
       ROUND(CAST(p.alloc0 + CASE WHEN lo.cap_tot > 0 THEN
               CAST(FLOOR(lo.leftover * CAST(p.avail - p.alloc0 AS DOUBLE)
                          / lo.cap_tot) AS BIGINT)
           ELSE 0 END AS DOUBLE) / p.avail, 6) AS fill_ratio
FROM plan0 p, lo
"""


@register("x_token_budget", oracle=_TOKEN_BUDGET_ORACLE)
def x_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture ALLOCATION planning: distribute a token budget (40% of
    the corpus) across sources — uniform target share, capped by each
    source's available tokens, with one proportional-to-remaining-
    capacity redistribution round for the leftover the caps created
    (the closed-form two-step that approximates water-filling and stays
    SQL-expressible; budgets/epochs per source is the decision every
    mixture paper tunes). Output per source: available tokens, final
    allocation, fill ratio.

    Token counts are one map-side-combinable aggregate over the corpus
    scan; everything after operates on the |sources|-row plan frame —
    bounded metadata, broadcast-joined, never a data-scale shuffle. All
    arithmetic is integer-or-IEEE-deterministic (FLOOR of a double
    ratio of exact longs) so the plan hashes identically cross-engine.
    """
    d = load(spark, sf_dir, "documents")
    avail = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("avail")
    )
    totals = avail.agg(
        F.sum("avail").alias("tot"),
        F.count(F.lit(1)).alias("k"),
    )
    plan0 = avail.crossJoin(F.broadcast(totals)).select(
        "source",
        "avail",
        F.least(
            F.col("avail"),
            F.floor(F.col("tot") * 0.4 / F.col("k")),
        )
        .cast("long")
        .alias("alloc0"),
    )
    # leftover = budget − Σ alloc0, with the scalar budget re-derived
    # from the same 1-row totals frame (not smuggled through plan0 as a
    # constant per-row column)
    lo = (
        plan0.agg(
            F.sum("alloc0").alias("given"),
            F.sum(F.col("avail") - F.col("alloc0")).alias("cap_tot"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            (F.floor(F.col("tot") * 0.4).cast("long") - F.col("given")).alias(
                "leftover"
            ),
            "cap_tot",
        )
    )
    alloc = F.col("alloc0") + F.when(
        F.col("cap_tot") > 0,
        F.floor(
            F.col("leftover")
            * (F.col("avail") - F.col("alloc0")).cast("double")
            / F.col("cap_tot")
        ),
    ).otherwise(F.lit(0))
    return plan0.crossJoin(F.broadcast(lo)).select(
        "source",
        "avail",
        alloc.cast("long").alias("alloc"),
        F.round(alloc.cast("double") / F.col("avail"), 6).alias(
            "fill_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# x_split_contamination — near-dup leakage across train/val/test
# ---------------------------------------------------------------------------

_SPLIT_CONTAMINATION_ORACLE = """
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text
    FROM documents WHERE doc_id < 10
), {ctes}, split_of AS (
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                THEN 'val'
                ELSE 'test' END AS split
    FROM corpus
)
SELECT LEAST(sa.split, sb.split) AS split_lo,
       GREATEST(sa.split, sb.split) AS split_hi,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END) AS BIGINT)
           AS n_leaked
FROM verified v
JOIN split_of sa ON sa.doc_id = v.doc_a
JOIN split_of sb ON sb.doc_id = v.doc_b
WHERE v.jaccard >= 0.5
GROUP BY 1, 2
"""


def _split_contamination_oracle() -> str:
    from .extensions import _NEAR_CTES

    return _SPLIT_CONTAMINATION_ORACLE.format(ctes=_NEAR_CTES.strip())


@register("x_split_contamination", oracle=_split_contamination_oracle())
def x_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup leakage ACROSS the train/val/test boundary: every
    MinHash-verified pair (Jaccard ≥ 0.5, the x_dedup_near pipeline on
    the planted-tail corpus) classified by the ordered split pair it
    straddles — the held-out-set contamination audit
    (x_decontaminate's question pointed at the split itself: a val/test
    doc whose near-dup sits in train inflates eval). Hash-prefix splits
    are assigned row-locally (the x_train_val_test ranges), so the only
    additions to the near-dup plan are two broadcast-size joins from
    pair ids to split labels and a 6-row-max aggregate.
    """
    from .extensions import _minhash_pairs
    from .pipeline import key_hash

    pairs = _minhash_pairs(spark, sf_dir)
    h2 = key_hash(F.col("doc_id")).substr(1, 2)
    d = load(spark, sf_dir, "documents")
    corpus_ids = d.select("doc_id").unionByName(
        d.where(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id")
        )
    )
    split_of = corpus_ids.select(
        "doc_id",
        F.when(h2 < "cc", "train")
        .when(h2 < "e6", "val")
        .otherwise("test")
        .alias("split"),
    )
    sa = split_of.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = split_of.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(
                F.when(F.col("split_a") != F.col("split_b"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_leaked"),
        )
    )


# ---------------------------------------------------------------------------
# x_dup_inflation — per-source token inflation from duplicates
# ---------------------------------------------------------------------------

_DUP_INFLATION_ORACLE = f"""
WITH corpus AS (
    SELECT doc_id, source, text FROM documents
    UNION ALL
    SELECT doc_id + 4000000,
           source,
           upper(substring(text, 1, 1)) || substring(text, 2) || '  !!'
    FROM documents WHERE doc_id < 10
), scored AS (
    SELECT source,
           {_NORM_KEY_SQL} AS nkey,
           doc_id,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS toks
    FROM corpus
), per_group AS (
    SELECT source, nkey,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS toks,
           CAST(MIN_BY(toks, doc_id) AS BIGINT) AS survivor_toks
    FROM scored GROUP BY source, nkey
)
SELECT source,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_unique,
       CAST(SUM(toks) AS BIGINT) AS tokens,
       CAST(SUM(survivor_toks) AS BIGINT) AS unique_tokens,
       ROUND(CAST(SUM(toks) AS DOUBLE) / SUM(survivor_toks), 6)
           AS inflation
FROM per_group GROUP BY source
"""


@register("x_dup_inflation", oracle=_DUP_INFLATION_ORACLE)
def x_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token INFLATION from normalization duplicates: corpus
    tokens vs the tokens a within-source exact-normalized dedup would
    keep (survivor = min doc_id per group, its token count) — the
    dedup-ROI estimate that ranks sources by how much of their volume
    is repeats before anyone pays for MinHash on them. The planted
    mutant tail (same construction as x_survivor_policy) guarantees
    inflation > 1 for the affected sources at every SF.

    Two stacked hash aggregates — (source, digest) grain then source
    grain — every measure partial-aggregable (count/sum/min_by), text
    dropped before the first shuffle; same digest-only scale shape as
    the rest of the exact-dedup family.
    """
    from .round5m import mutated_tail, norm_key

    d = load(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "source", "text").unionByName(
        mutated_tail(d, "source")
    )
    scored = corpus.select(
        "source",
        norm_key().alias("nkey"),
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("toks"),
    )
    per_group = scored.groupBy("source", "nkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("toks"),
        F.min_by("toks", "doc_id").cast("long").alias("survivor_toks"),
    )
    return per_group.groupBy("source").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        F.sum("toks").cast("long").alias("tokens"),
        F.sum("survivor_toks").cast("long").alias("unique_tokens"),
        F.round(
            F.sum("toks").cast("double") / F.sum("survivor_toks"), 6
        ).alias("inflation"),
    )


# ---------------------------------------------------------------------------
# s_dedup_near — streaming incremental near-dup (banded index accumulates)
# ---------------------------------------------------------------------------

# Identical survivor semantics to x_dedup_near_survivors: the stream
# arrives in doc_id order and every candidate join keeps old_id < new_id,
# so "dropped on arrival" == "has a verified partner with a smaller id".
_S_DEDUP_NEAR_ORACLE = """
WITH corpus AS (
    SELECT doc_id, lang, source, n_chars, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, lang, source, n_chars, text
    FROM documents WHERE doc_id < 10
), {ctes}, dropped AS (
    SELECT DISTINCT doc_b AS doc_id FROM verified WHERE jaccard >= 0.5
)
SELECT c.doc_id, c.lang, c.source, c.n_chars
FROM corpus c LEFT JOIN dropped d ON c.doc_id = d.doc_id
WHERE d.doc_id IS NULL
"""


def _s_dedup_near_oracle() -> str:
    from .extensions import _NEAR_CTES

    return _S_DEDUP_NEAR_ORACLE.format(ctes=_NEAR_CTES.strip())


@register("s_dedup_near", oracle=_s_dedup_near_oracle())
def s_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental near-dedup — the crawl-ingest loop as a
    Structured Streaming pipeline: documents arrive in 4 doc_id-ordered
    micro-batches (the planted +1e6 duplicate tail lands last, so its
    originals are already indexed); each batch MinHash-bands its docs,
    band-joins them against the ACCUMULATED signature index (plus
    smaller-id docs of the same batch), verifies candidates at
    Jaccard ≥ 0.5, appends only survivors to the output, and appends
    every doc's bands + shingle-hash set to the index. The standing
    corpus is never re-shingled and never self-joined — per batch the
    work is O(|batch| + bucket collisions), the property that keeps a
    daily crawl dedup sustainable against a 100 TB standing corpus
    (x_dedup_incremental is the single-batch twin; this key proves the
    index ACCUMULATES correctly across batches).

    Because arrival follows doc_id order and every candidate join keeps
    ``old_id < new_id``, the final survivor set equals the batch
    x_dedup_near_survivors rule exactly — certified by the same shared
    md5 MinHash CTE oracle, and by a cross-implementation equality test.
    The index the loop consults per batch is SLIM — (doc_id, band,
    bucket) longs and the hash sets, ~1-2% of corpus bytes — and a
    batch's bands hash across the whole bucket space, so value-pruning
    cannot help; the at-scale layout is bucketBy(bucket) parquet
    appends for both the stored index and the batch side, making the
    candidate join exchange-free on the accumulated (large) side. Here
    the accumulated index lives as the union of per-batch
    localCheckpointed slices (block-manager-resident — each batch's
    signatures are materialized exactly once, at arrival, and every
    later batch joins against them without re-shingling OR re-reading
    parquet), the per-micro-batch constant a daily sync loop actually
    pays; swapping the slice store for bucketed parquet is a sink
    change, not a plan change.
    """
    from .extensions import word_shingles
    from .streaming import documents_stream, run_foreach_batch, stage_table

    # content-cached arrival staging: the 4 doc_id-ordered chunks plus a
    # planted 10-doc duplicate tail simulate the crawl's arrival order
    # and depend only on the source file, so repeated invocations reuse
    # them — the measured loop is the dedup itself
    staged = stage_table(spark, sf_dir, "sdedup", tail=10)

    # the accumulated index: unions of per-batch localCheckpointed
    # signature slices (each batch shingled exactly once, at arrival)
    # plus the per-batch survivor slices the final result unions
    acc: dict[str, DataFrame | None] = {"bands": None, "hsets": None}
    survivors: list[DataFrame] = []

    # signature EXPRESSIONS built once (not per trigger): identical to
    # _km_sigs' chain, but landing sig + hsig + the output attrs in ONE
    # frame so each batch pays ONE eager materialization (was five:
    # batch, _km_sigs' hashed, banded, hset, survivors).
    _words = F.split("text", " ")
    _md5s = F.transform(
        word_shingles(F.col("words")), lambda s: F.md5(s.cast("binary"))
    )
    _h1s = F.transform(
        "md5s", lambda m: F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
    )
    _h2s = F.transform(
        "md5s", lambda m: F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
    )
    _sig = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda i: F.array_min(
            F.zip_with(F.col("h1s"), F.col("h2s"), lambda h1, h2: h1 + i * h2)
        ),
    )
    _bands = F.transform(
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

    def dedup_batch(bdf: DataFrame, epoch_id: int) -> None:
        aug = (
            bdf.select("doc_id", "lang", "source", "n_chars", _words.alias("words"))
            # one stream file = one input partition: rebalance so the
            # shingle+md5 featurization uses the batch plan's partitions
            .repartition(
                bdf.sparkSession.sparkContext.defaultParallelism, "doc_id"
            )
            .select("doc_id", "lang", "source", "n_chars", _md5s.alias("md5s"))
            .select("doc_id", "lang", "source", "n_chars", _h1s.alias("h1s"), _h2s.alias("h2s"))
            .select(
                "doc_id",
                "lang",
                "source",
                "n_chars",
                _sig.alias("sig"),
                F.array_distinct("h1s").alias("hsig"),
            )
            .materialize(eager=True)
        )
        banded = aug.select(
            "doc_id",
            F.explode(_bands).alias("bb"),
        ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        hset = aug.select("doc_id", "hsig")
        nb = banded.select(
            F.col("doc_id").alias("new_id"), "band", "bucket"
        )
        self_bands = banded.select(
            F.col("doc_id").alias("old_id"), "band", "bucket"
        )
        old_bands = (
            acc["bands"].unionByName(self_bands)
            if acc["bands"] is not None
            else self_bands
        )
        # NEW side broadcast: batch-bounded, so the accumulated index is
        # streamed, never shuffled (guide §3.1); the joins themselves
        # stay LAZY — they derive only from the per-batch checkpoints,
        # so the final union evaluates every batch's dedup in one query
        # at full session parallelism, outside the stream's bounded
        # shuffle-partition conf.
        # Broadcast bounds (per micro-batch B, k = the largest number of
        # accumulated docs in one (band, bucket)):
        #   nb      ≤ |B| × 4 bands rows of (id, band, ~40-char bucket);
        #   cand    ≤ |B| × 4 bands × k distinct (new_id, old_id) pairs;
        #   s1⋈cand = cand's rows, each carrying the new doc's hash set;
        #   dropped ≤ |B| doc ids.
        # None grows with the corpus except through k: a hot bucket
        # (templated boilerplate) grows cand with the accumulated index.
        cand = (
            old_bands.join(F.broadcast(nb), ["band", "bucket"])
            .where(F.col("old_id") < F.col("new_id"))
            .select("new_id", "old_id")
            .distinct()
        )
        old_hsets = (
            acc["hsets"].unionByName(hset)
            if acc["hsets"] is not None
            else hset
        )
        s1 = hset.select(
            F.col("doc_id").alias("new_id"), F.col("hsig").alias("h_new")
        )
        s2 = old_hsets.select(
            F.col("doc_id").alias("old_id"), F.col("hsig").alias("h_old")
        )
        # |A∪B| = |A| + |B| − |A∩B| exactly (hsig is array_distinct
        # output): one per-row set op instead of two (the shared
        # _minhash_parts rewrite; same IEEE value, int division both ways)
        _inter = F.size(F.array_intersect("h_new", "h_old"))
        jac = _inter / (F.size("h_new") + F.size("h_old") - _inter)
        dropped = (
            s2.join(
                F.broadcast(s1.join(F.broadcast(cand), "new_id")), "old_id"
            )
            .where(F.round(jac, 6) >= 0.5)
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
        )
        survivors.append(
            aug.join(F.broadcast(dropped), "doc_id", "left_anti")
            .select("doc_id", "lang", "source", "n_chars")
        )
        acc["bands"], acc["hsets"] = old_bands, old_hsets

    run_foreach_batch(documents_stream(spark, staged), dedup_batch)

    if not survivors:  # staging raced/empty: fail loudly, not IndexError
        raise RuntimeError("s_dedup_near: no micro-batches fired")
    out = survivors[0]
    for s in survivors[1:]:
        out = out.unionByName(s)
    return out


# ---------------------------------------------------------------------------
# x_ndcg_eval — graded ranking quality of the IVF probe path
# ---------------------------------------------------------------------------

_NDCG_ORACLE = """
WITH q AS (
    SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
    FROM embeddings WHERE vec_id < 5
), exact AS (
    SELECT qid, vec_id, sim, rn FROM (
        SELECT q.qid, e.vec_id,
               ROUND(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY ROUND(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), q.qe), 6) DESC,
                       e.vec_id) AS rn
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.qid
    ) WHERE rn <= 10
), dims AS (
    SELECT label, s.dim AS dim, AVG(CAST(s.val AS DOUBLE)) AS c
    FROM (SELECT label,
                 unnest(list_transform(embedding,
                     (x, i) -> {'dim': i, 'val': x})) AS s
          FROM embeddings)
    GROUP BY label, s.dim
), cent AS (
    SELECT label,
           CAST(list(CAST(c AS FLOAT) ORDER BY dim) AS DOUBLE[]) AS centroid
    FROM dims GROUP BY label
), probes AS (
    SELECT qid, label FROM (
        SELECT q.qid, c.label,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY ROUND(list_cosine_similarity(c.centroid, q.qe), 6)
                            DESC, c.label) AS rn
        FROM cent c CROSS JOIN q
    ) WHERE rn <= 5
), ivf AS (
    SELECT qid, vec_id, sim, rn FROM (
        SELECT q.qid, e.vec_id,
               ROUND(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY ROUND(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), q.qe), 6) DESC,
                       e.vec_id) AS rn
        FROM embeddings e
        JOIN probes p USING (label)
        JOIN q ON q.qid = p.qid
        WHERE e.vec_id <> q.qid
    ) WHERE rn <= 10
), dcg AS (
    SELECT qid,
           SUM(CAST(sim / log2(rn + 1) AS DECIMAL(18,8))) AS d
    FROM ivf GROUP BY qid
), idcg AS (
    SELECT qid,
           SUM(CAST(sim / log2(rn + 1) AS DECIMAL(18,8))) AS d
    FROM exact GROUP BY qid
)
SELECT i.qid,
       ROUND(CAST(g.d AS DOUBLE), 6) AS dcg,
       ROUND(CAST(i.d AS DOUBLE), 6) AS idcg,
       ROUND(ROUND(CAST(g.d AS DOUBLE), 6)
             / ROUND(CAST(i.d AS DOUBLE), 6), 6) AS ndcg
FROM idcg i JOIN dcg g USING (qid)
"""


@register("x_ndcg_eval", oracle=_NDCG_ORACLE)
def x_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the IVF probe path against the exact ranking — the
    GRADED companion to ``x_ann_recall``: recall counts overlap, NDCG
    weights each retrieved item by its true cosine gain and its rank
    discount (1/log2(rank+1)), so a probe path that finds the right
    docs in the wrong order, or misses only the low-gain tail, scores
    differently. The panel, centroid build and probe selection are the
    SHARED :func:`~.round4e.ann_rankings` builder — one definition for
    both metrics, so they cannot drift apart. Per-term discounted gains
    are DECIMAL(18,8)-quantized before the exact sum (the x_psi_drift
    recipe — absorbs the engines' last-ulp log2 differences), and ndcg
    divides the two ROUNDED sums, so the driver hash certifies the full
    measurement. ndcg = 1 exactly when the probed cells contain the
    whole ideal top-10.

    Pair space is the audit's: |panel| × n on the exact side, probed
    cells only on the IVF side — identical to x_ann_recall.
    """
    from .round4e import ann_rankings

    panel = ann_rankings(load(spark, sf_dir, "embeddings"))
    term = (F.col("sim") / F.log2(F.col("rn") + 1)).cast("decimal(18,8)")
    dcg = panel["ivf"].groupBy("qid").agg(
        F.round(F.sum(term).cast("double"), 6).alias("dcg")
    )
    idcg = panel["exact"].groupBy("qid").agg(
        F.round(F.sum(term).cast("double"), 6).alias("idcg")
    )
    return idcg.join(dcg, "qid").select(
        "qid",
        "dcg",
        "idcg",
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# x_compaction_plan — small-file compaction planning over file metadata
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 16_384  # bytes per output file (fixture-sized OPTIMIZE)

_COMPACTION_ORACLE = f"""
WITH files AS (
    SELECT source,
           CAST(FLOOR(doc_id / 50) AS BIGINT) AS file_id,
           CAST(SUM(n_chars) AS BIGINT) AS bytes
    FROM documents GROUP BY source, FLOOR(doc_id / 50)
), planned AS (
    SELECT source, file_id, bytes,
           CAST(FLOOR(
               (SUM(bytes) OVER (PARTITION BY source ORDER BY file_id
                                 ROWS UNBOUNDED PRECEDING) - bytes)
               / {_COMPACT_TARGET}.0) AS BIGINT) AS bin
    FROM files
)
SELECT source, bin,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(bytes) AS BIGINT) AS bytes_total,
       CAST(CASE WHEN COUNT(*) > 1 THEN 1 ELSE 0 END AS BIGINT) AS compacts
FROM planned GROUP BY source, bin
"""


@register("x_compaction_plan", oracle=_COMPACTION_ORACLE)
def x_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction PLANNING (the Delta/Iceberg OPTIMIZE bin
    packer): group each source's incremental-append files (emulated
    here as 50-doc blocks with their byte sizes) into target-size
    output bins by a running-cumsum rule — a file opens a new bin when
    the bytes BEFORE it already fill a multiple of the target. First-fit
    by file order (not size-sorted FFD) is the production choice: it
    preserves ingestion locality and needs one window pass instead of a
    sort.

    The planner runs entirely on FILE METADATA — |files| rows, never
    data — exactly like sources/layout.compact_parquet, which consumes
    such a plan; the per-source cumsum window is metadata-scale. Exact
    integer bytes both engines; the only doubles are none.
    """
    d = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    files = d.groupBy(
        "source", F.floor(F.col("doc_id") / 50).cast("long").alias("file_id")
    ).agg(F.sum("n_chars").cast("long").alias("bytes"))
    wsrc = (
        Window.partitionBy("source")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = files.select(
        "source",
        "file_id",
        "bytes",
        F.floor(
            (F.sum("bytes").over(wsrc) - F.col("bytes"))
            / float(_COMPACT_TARGET)
        )
        .cast("long")
        .alias("bin"),
    )
    return planned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("bytes").cast("long").alias("bytes_total"),
        (F.count(F.lit(1)) > 1).cast("long").alias("compacts"),
    )


# ---------------------------------------------------------------------------
# x_join_skew_diagnose — join-key skew profile (measure before salting)
# ---------------------------------------------------------------------------

_SKEW_DIAG_ORACLE = """
WITH per_key AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY user_id
), tot AS (
    SELECT SUM(cnt) AS total, COUNT(*) AS n_keys FROM per_key
)
SELECT CAST(rn AS BIGINT) AS rank, user_id, cnt,
       ROUND(CAST(cnt AS DOUBLE) / total, 6) AS share,
       ROUND(CAST(cnt AS DOUBLE) * n_keys / total, 6) AS skew_factor
FROM (
    SELECT user_id, cnt,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rn
    FROM per_key
), tot
WHERE rn <= 10
"""


@register("x_join_skew_diagnose", oracle=_SKEW_DIAG_ORACLE)
def x_join_skew_diagnose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew PROFILE — the measurement that decides between a
    plain shuffle join, AQE skew splitting, and skew.salted_join: the
    top-10 hottest join keys with their share of the fact table and
    their skew factor (multiples of the mean key frequency; ~1 ⇒
    uniform, ≫1 ⇒ salt or split). Run it on the join column BEFORE
    shipping a 100 TB join — the repo's own skew keys (q_skew_join)
    exist because nobody ran this first.

    One map-side-combinable count aggregate over the fact, a
    TakeOrdered top-10, and a 1-row totals broadcast — diagnosis costs
    one scan, no full sort.
    """
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = per_key.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    # rank window runs AFTER the TakeOrdered limit — 10 rows, one task
    top = per_key.orderBy(F.col("cnt").desc(), "user_id").limit(10).withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("cnt").desc(), "user_id"))
    )
    return top.crossJoin(F.broadcast(tot)).select(
        F.col("rank").cast("long").alias("rank"),
        "user_id",
        "cnt",
        F.round(F.col("cnt").cast("double") / F.col("total"), 6).alias(
            "share"
        ),
        F.round(
            F.col("cnt").cast("double") * F.col("n_keys") / F.col("total"), 6
        ).alias("skew_factor"),
    )


# ---------------------------------------------------------------------------
# s_psi_monitor — streaming drift monitor (incremental PSI accumulation)
# ---------------------------------------------------------------------------


def _s_psi_oracle() -> str:
    from .round5m import _PSI_ORACLE

    return _PSI_ORACLE


@register("s_psi_monitor", oracle=_s_psi_oracle())
def s_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift monitor — x_psi_drift's population stability
    index maintained incrementally: the event log streams in 5
    time-ordered micro-batches; each batch bucket-labels its rows
    (period = before/after the 2024-01-16 cutoff, 5 fixed value
    buckets) and appends its PARTIAL (event_type, bucket) period counts
    to a metric state store; the final PSI is computed from the summed
    state. Counts are associative, so the accumulated state equals the
    batch scan exactly and the SAME full-hash oracle certifies the
    streaming path — the metric twin of ``s_incremental_sync`` (which
    proves row sync; this proves METRIC sync, the nightly-drift-alarm
    deployment shape where the monitor must never rescan history).

    State is |types·buckets·batches| rows of partial counts — metadata
    scale; at 100 TB the append-then-sum state store is the same
    pattern as a Delta metrics table with periodic compaction.
    """
    from .streaming import (
        _events_stream,
        _stage_events,
        _sweep_runs,
        run_foreach_batch,
    )

    stage = _stage_events(spark, sf_dir)
    state = _sweep_runs("psi_monitor") / "counts"

    cut = F.lit("2024-01-16").cast("timestamp")

    def label(df: DataFrame) -> DataFrame:
        return df.where(F.col("value").isNotNull()).select(
            F.when(F.col("ts") < cut, "early").otherwise("late").alias(
                "period"
            ),
            "event_type",
            F.least(
                F.floor(F.col("value") / 20.0).cast("long"), F.lit(4)
            ).alias("bucket"),
        )

    def monitor_batch(bdf: DataFrame, epoch_id: int) -> None:
        (
            label(bdf)
            .groupBy("event_type", "bucket")
            .agg(
                F.sum(F.when(F.col("period") == "early", 1).otherwise(0))
                .cast("long")
                .alias("n_early"),
                F.sum(F.when(F.col("period") == "late", 1).otherwise(0))
                .cast("long")
                .alias("n_late"),
            )
            .write.mode("append")
            .parquet(str(state))
        )

    run_foreach_batch(_events_stream(spark, stage), monitor_batch)

    from .round5m import psi_from_counts

    counts = (
        spark.read.parquet(str(state))
        .groupBy("event_type", "bucket")
        .agg(
            F.sum("n_early").cast("long").alias("n_early"),
            F.sum("n_late").cast("long").alias("n_late"),
        )
        .materialize(eager=True)
    )
    # the SAME smoothing/quantization/aggregate as the batch key — one
    # definition, so streaming == batch is structural
    return psi_from_counts(counts)
