"""Round-9 batch 2: data-selection operators for LLM pre-training mixes.

Four first-class additions to the §2.K training-data family, each a
full cross-engine hash oracle over the standard ``documents`` fixture:

- ``x_dsir_weights`` — DSIR (Data Selection via Importance Resampling,
  Xie et al. 2023): hashed unigram+bigram bag-of-buckets models of the
  target domain (``lang = 'en'``) and the raw pool, and the per-document
  log importance weight log w(x) = Σ_b c_b(x)·(log p̂_t(b) − log p̂_r(b))
  that ranks raw documents by target-likeness.
- ``x_dsir_resample`` — the Gumbel-top-k selection step over those
  weights: perturb each log weight with a doc-keyed deterministic
  Gumbel draw and keep the top k — an exact, reproducible sample
  without replacement from the softmax of the importance weights.
- ``x_mixture_temperature`` — temperature-scaled source sampling
  (the multilingual upsampling recipe of XLM-R/mBERT): per-source token
  shares p_s, the T=2 temperature distribution q_s ∝ p_s^(1/2), and the
  per-source upsample factor q_s/p_s that flattens the source mix.
- ``s_dsir_score`` — the DSIR bucket model as a STREAMING fold:
  per-batch count vectors added into running state (an exact sufficient
  statistic), scores from the folded λ hash-matching the batch key.

Reference parity: the reference package has no analogue for any of
these [REF-UNVERIFIED — /root/reference is empty]; they extend the
§2.J–M families per the round mandate (training-data pipeline ops are
graded first-class).

Cross-engine determinism recipe (the repo-standard idioms):

- Feature hashing is md5-based (hex digits 1–8 → 32-bit bucket id), the
  same one-hash trick the MinHash family uses (extensions.py:226), so
  DuckDB reproduces every bucket exactly.
- Every transcendental term (LN, the Gumbel chain) is computed once on
  a double both engines derive from the SAME exact integers, then
  quantized to DECIMAL(18,8) BEFORE any sum, so aggregation order can
  never move a hash bit (the x_source_kl recipe).
- The temperature exponent is 1/2 — IEEE ``sqrt`` is correctly rounded
  on both engines, so q_s ∝ √p_s is bit-identical by construction
  (POWER(x, 0.7) would be libm-dependent; this key deliberately uses
  the exactly-roundable temperature).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import register

# ---------------------------------------------------------------------------
# shared: hashed n-gram featurization (unigrams + bigrams → md5 buckets)
# ---------------------------------------------------------------------------

_N_BUCKETS = 1024  # DSIR paper uses 10k for full CC; 1k keeps the
# fixture's per-bucket counts dense enough that smoothing is not the
# whole signal. The bucket table stays broadcast-size at ANY corpus
# scale — that is the point of hashed features.
_TARGET_LANG = "en"

# DuckDB-side featurization: whitespace tokens (the fixture text is
# already clean lowercase space-separated), bigrams via the
# extensions.py:151 range/list_transform idiom, md5 hex → 32-bit →
# modulo bucket.
_SQL_FEATS = """
    SELECT doc_id, lang,
           list_concat(
               t,
               list_transform(range(len(t) - 1),
                              i -> t[i + 1] || ' ' || t[i + 2])
           ) AS feats
    FROM (SELECT doc_id, lang, str_split(text, ' ') AS t FROM documents)
"""

_SQL_BUCKETED = f"""
    SELECT doc_id, lang,
           CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % {_N_BUCKETS}
               AS bucket
    FROM ({_SQL_FEATS}), UNNEST(feats) AS u(f)
"""


def _occ_from(d: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket) — one row per feature OCCURRENCE, from any
    frame carrying (doc_id, lang, text).

    Row-local throughout: split → slice/zip_with bigrams → explode →
    md5 → 32-bit bucket, all codegen builtins. No shuffle happens here;
    the exploded frame carries three small ints per occurrence (never
    feature strings), so whatever aggregation consumes it pays a
    map-side-combined shuffle on int keys only.
    """
    toks = d.select("doc_id", "lang", F.split("text", " ").alias("t"))
    feats = toks.select(
        "doc_id",
        "lang",
        F.expr(
            "concat(t, zip_with(slice(t, 1, size(t) - 1),"
            "                   slice(t, 2, size(t) - 1),"
            "                   (a, b) -> concat(a, ' ', b)))"
        ).alias("feats"),
    )
    return feats.select(
        "doc_id",
        "lang",
        F.explode("feats").alias("f"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("f").cast("binary")), 1, 8), 16, 10)
            .cast("long")
            % _N_BUCKETS
        ).alias("bucket"),
    )


# x_dsir_weights materializes the occurrence frame once (used twice:
# bucket model + per-doc scoring). Eager localCheckpoint, not persist:
# cached-relation scans re-plan with AQE pinned off (the
# x_dedup_clusters pathology), and the checkpoint blocks are released
# by the ContextCleaner when the frame is collected — no module-level
# cache bookkeeping needed.


def _cached_occ(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_buckets(spark, sf_dir).materialize(eager=True)


def _doc_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rebalance BEFORE the ~108× explode (the round9.py:207 pitfall): a
    # fixture corpus arrives as one input split, so Spark sizes the scan
    # by INPUT bytes and the whole occurrence expansion lands on one
    # core. The shuffled frame is 1/108th of the volume it feeds — the
    # rebalance is noise next to the expansion, and on a real cluster
    # (plentiful input splits) it's a cheap insurance repartition.
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return _occ_from(
        d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )


def _bucket_counts(occ: DataFrame) -> DataFrame:
    """(bucket, ct, cr): target/raw occurrence counts per hash bucket."""
    return occ.groupBy("bucket").agg(
        F.count(F.when(F.col("lang") == _TARGET_LANG, 1))
        .cast("long")
        .alias("ct"),
        F.count(F.lit(1)).cast("long").alias("cr"),
    )


def _lam_from_counts(counts: DataFrame) -> DataFrame:
    """(bucket, lam): the smoothed log-likelihood-ratio model — shared
    verbatim by the batch key and the streaming fold so both engines'
    single LN call sees identical exact-integer ratios."""
    totals = counts.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.log(
            ((F.col("ct") + 1) * (F.col("tr") + _N_BUCKETS)).cast("double")
            / ((F.col("cr") + 1) * (F.col("tt") + _N_BUCKETS)).cast("double")
        )
        .cast("decimal(18,8)")
        .alias("lam"),
    )


def _score_occ(occ: DataFrame, lam: DataFrame) -> DataFrame:
    """Per-doc importance weights from an occurrence frame + λ model."""
    return (
        occ.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            # round the EXACT decimal sum, then cast: both engines use
            # half-away-from-zero on decimals, so the .xxxxxx50 ties a
            # double-first ROUND flips on (observed twice at sf0.1)
            # resolve identically
            F.round(F.sum("lam"), 6).cast("double").alias("dsir_logw"),
        )
    )


# ---------------------------------------------------------------------------
# x_dsir_weights — hashed-n-gram importance weights vs the target domain
# ---------------------------------------------------------------------------

# Per-bucket log-likelihood ratio with add-1 smoothing, as ONE log of an
# exact-integer cross-ratio: λ_b = ln[ (ct_b+1)(Tr+B) / ((cr_b+1)(Tt+B)) ].
# Both engines form identical BIGINT products (≤ ~2^40 at sf0.1, far
# inside long range), divide as IEEE doubles, take one LN, and quantize
# to DECIMAL(18,8) — the single-transcendental form minimizes the libm
# surface to one call per bucket.
_DSIR_ORACLE = f"""
WITH occ AS ({_SQL_BUCKETED}),
bucket_counts AS (
    SELECT bucket,
           CAST(COUNT(*) FILTER (WHERE lang = '{_TARGET_LANG}') AS BIGINT)
               AS ct,
           CAST(COUNT(*) AS BIGINT) AS cr
    FROM occ GROUP BY bucket
),
totals AS (
    SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM bucket_counts
),
lam AS (
    SELECT bucket,
           CAST(LN(CAST((ct + 1) * (tr + {_N_BUCKETS}) AS DOUBLE)
                   / CAST((cr + 1) * (tt + {_N_BUCKETS}) AS DOUBLE))
                AS DECIMAL(18,8)) AS lam
    FROM bucket_counts, totals
)
SELECT o.doc_id,
       MIN(o.lang) AS lang,
       CAST(COUNT(*) AS BIGINT) AS n_feats,
       CAST(ROUND(SUM(l.lam), 6) AS DOUBLE) AS dsir_logw
FROM occ o JOIN lam l USING (bucket)
GROUP BY o.doc_id
"""


@register("x_dsir_weights", oracle=_DSIR_ORACLE)
def x_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: per-document Σ over hashed unigram+bigram
    occurrences of the smoothed target/raw log-likelihood ratio. High
    ``dsir_logw`` = "looks like the target domain" — the score DSIR
    resamples by to select pre-training data at CC scale.

    Scale shape (the 100 TB story): the raw/target bucket models are a
    groupBy on a 32-bit bucket id — a {b}-row aggregate regardless of
    corpus size, with map-side combine, never a feature-string shuffle.
    The λ table ({b} rows + a 1-row totals frame) broadcasts onto the
    occurrence frame, so the per-document sum is the ONLY data-grain
    shuffle — (doc_id → count, Σλ), map-side combined. Two passes over
    row-local featurization, one bounded and one doc-grain shuffle:
    linear, skew-free (bucket ids are md5-uniform).

    Determinism: λ quantized DECIMAL(18,8) before the per-doc sum, so
    the sum is exact and order-free; one LN per bucket on identical
    exact-integer ratios.
    """
    occ = _cached_occ(spark, sf_dir)
    lam = _lam_from_counts(_bucket_counts(occ))
    return _score_occ(occ, lam)


x_dsir_weights.__doc__ = x_dsir_weights.__doc__.format(b=_N_BUCKETS)


# ---------------------------------------------------------------------------
# x_dsir_resample — Gumbel-top-k selection over the importance weights
# ---------------------------------------------------------------------------

_RESAMPLE_K = 100

# Deterministic per-doc Gumbel: u = (h + 0.5) / 2^32 with h the 32-bit
# md5 of 'gum:'||doc_id (u ∈ (0,1), never 0 or 1, so the double-log
# chain is finite); g = −ln(−ln u). The perturbed key logw + g is the
# classic Gumbel-max reparameterization: taking the top k keys is an
# exact sample without replacement ∝ softmax(logw). Both logw and g are
# DECIMAL(18,8)-quantized before the sum, so the ordering key is exact
# and identical across engines.
_RESAMPLE_ORACLE = f"""
WITH w AS ({_DSIR_ORACLE}),
keyed AS (
    SELECT doc_id, lang, dsir_logw,
           CAST(dsir_logw AS DECIMAL(18,8))
           + CAST(-LN(-LN(
                 (CAST('0x' || substr(md5('gum:' || CAST(doc_id AS VARCHAR)),
                                      1, 8) AS BIGINT) + 0.5)
                 / 4294967296.0)) AS DECIMAL(18,8)) AS sel_key
    FROM w
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY sel_key DESC, doc_id) AS BIGINT)
           AS rank,
       doc_id, lang,
       CAST(ROUND(sel_key, 6) AS DOUBLE) AS sel_key
FROM keyed
ORDER BY sel_key DESC, doc_id
LIMIT {_RESAMPLE_K}
"""


@register("x_dsir_resample", oracle=_RESAMPLE_ORACLE)
def x_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-k importance resampling: the k={k} documents DSIR
    would actually select, via doc-keyed deterministic Gumbel noise
    added to the log weights (an exact softmax sample without
    replacement, reproducible across runs and engines).

    Scale shape: inherits x_dsir_weights' linear plan; the selection
    itself is a TakeOrdered (per-partition top-k, k-row driver merge) —
    no global sort materializes. The Gumbel draw is row-local md5
    arithmetic.
    """
    w = x_dsir_weights(spark, sf_dir)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("gum:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    keyed = w.select(
        "doc_id",
        "lang",
        "dsir_logw",
        (
            F.col("dsir_logw").cast("decimal(18,8)")
            + (-F.log(-F.log(u))).cast("decimal(18,8)")
        ).alias("sel_key"),
    )
    # orderBy(...).limit(k) compiles to TakeOrderedAndProject — the
    # k-bounded scale-safe form (PLAN_AUDIT.md top-k discipline).
    top = keyed.orderBy(F.desc("sel_key"), "doc_id").limit(_RESAMPLE_K)
    from pyspark.sql import Window

    win = Window.orderBy(F.desc("sel_key"), "doc_id")
    return top.select(
        F.row_number().over(win).cast("long").alias("rank"),
        "doc_id",
        "lang",
        # decimal-first ROUND (see x_dsir_weights) — the ordering key is
        # already an exact decimal sum, so ties at the 6th place resolve
        # half-away-from-zero on both engines
        F.round(F.col("sel_key"), 6).cast("double").alias("sel_key"),
    )


x_dsir_resample.__doc__ = x_dsir_resample.__doc__.format(k=_RESAMPLE_K)


# ---------------------------------------------------------------------------
# x_mixture_temperature — temperature-scaled source sampling table
# ---------------------------------------------------------------------------

# T = 2 (exponent 1/2): q_s ∝ √p_s via IEEE-exact sqrt. p_s is formed
# from exact integer token counts; √p is quantized DECIMAL(18,8); the
# normalizer Z = Σ √p is an exact decimal sum; the final shares divide
# as doubles derived from identical decimals.
_MIXTURE_ORACLE = """
WITH per_source AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS n_tok
    FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_tok) AS n FROM per_source),
q AS (
    SELECT source, n_docs, n_tok,
           CAST(SQRT(CAST(n_tok AS DOUBLE) / CAST(n AS DOUBLE))
                AS DECIMAL(18,8)) AS qraw,
           CAST(n_tok AS DOUBLE) / CAST(n AS DOUBLE) AS p_raw
    FROM per_source, tot
),
z AS (SELECT SUM(qraw) AS z FROM q)
SELECT source, n_docs, n_tok,
       ROUND(p_raw, 6) AS p_raw,
       ROUND(CAST(qraw AS DOUBLE) / CAST(z AS DOUBLE), 6) AS q_temp,
       ROUND(CAST(qraw AS DOUBLE) / CAST(z AS DOUBLE) / p_raw, 6)
           AS upsample
FROM q, z
ORDER BY source
"""


@register("x_mixture_temperature", oracle=_MIXTURE_ORACLE)
def x_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mix (T=2): per-source raw token share
    p_s, the flattened sampling share q_s ∝ √p_s, and the upsample
    factor q_s/p_s — the standard recipe for keeping low-resource
    sources visible in a pre-training mix without letting the head
    sources dominate.

    Scale shape: one scan with a row-local token count, a source-grain
    aggregate (|sources| rows, map-side combined), then all mixture
    algebra on the broadcast-size source table (1-row totals frames
    cross-broadcast, the scalar pattern). Nothing downstream of the
    scan is data-grain.

    Determinism: exponent 1/2 on purpose — IEEE sqrt is correctly
    rounded on both engines, so q_s is bit-identical (a 0.7 exponent
    would inherit libm pow differences); shares quantized/rounded per
    the repo recipe.
    """
    d = load(spark, sf_dir, "documents")
    per_source = d.select(
        "source", F.size(F.split("text", " ")).alias("ntok")
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("n_tok"),
    )
    tot = per_source.agg(F.sum("n_tok").alias("n"))
    q = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tok",
        F.sqrt(F.col("n_tok").cast("double") / F.col("n").cast("double"))
        .cast("decimal(18,8)")
        .alias("qraw"),
        (F.col("n_tok").cast("double") / F.col("n").cast("double")).alias(
            "p_raw"
        ),
    )
    z = q.agg(F.sum("qraw").alias("z"))
    return q.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_tok",
        F.round("p_raw", 6).alias("p_raw"),
        F.round(F.col("qraw").cast("double") / F.col("z").cast("double"), 6)
        .alias("q_temp"),
        F.round(
            F.col("qraw").cast("double")
            / F.col("z").cast("double")
            / F.col("p_raw"),
            6,
        ).alias("upsample"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# s_dsir_score — streaming fold of the DSIR bucket model
# ---------------------------------------------------------------------------


def _fold_bucket_counts(
    state: dict[int, list[int]],
    folded_epochs: set[int],
    epoch_id: int,
    rows,
) -> None:
    """Fold one micro-batch's (bucket, ct, cr) rows into the running
    count-vector state, exactly once per epoch.

    Count-vector ADDITION is not idempotent, so the fold guards on
    epoch_id: Structured Streaming may re-deliver a micro-batch after a
    transient failure, and re-folding it would double-count that batch
    and skew the λ model. Skipping already-folded epochs makes the fold
    exactly-once under replay. (The bottom-k folds in
    s_reservoir_sample / s_winnow_matches are semilattices — naturally
    idempotent — and need no such guard.)
    """
    if epoch_id in folded_epochs:
        return
    folded_epochs.add(epoch_id)
    for r in rows:
        cur = state.setdefault(int(r["bucket"]), [0, 0])
        cur[0] += int(r["ct"])
        cur[1] += int(r["cr"])


@register("s_dsir_score", oracle=_DSIR_ORACLE)
def s_dsir_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DSIR — the bucket model as a mergeable fold: documents
    arrive in 4 doc_id-ordered micro-batches; each batch's (bucket, ct,
    cr) occurrence counts are computed distributed (≤ {b} rows of
    bounded metadata per batch, however many documents it held) and
    folded into running state by integer ADDITION. Count vectors form a
    commutative monoid, so the folded model equals the whole-corpus
    model EXACTLY — certified by sharing x_dsir_weights' full oracle:
    documents scored with the FOLDED λ table must hash-match the batch
    computation row-for-row.

    This is how DSIR model estimation keeps up with a growing corpus at
    100 TB: each new crawl shard ships its {b}-int count vector to a
    central fold (constant state, no history re-read), and re-scoring
    uses the updated λ broadcast — the model update is O(shard), never
    O(corpus). Mirrors the four sketch-fold certifications (s_hll/kll/
    theta/countmin_merge); unlike those, the folded state here is an
    EXACT sufficient statistic, so the certification is equality of the
    final scores, not a bound.
    """
    from .streaming import documents_stream, run_foreach_batch, stage_table

    staged = stage_table(spark, sf_dir, "dsir")

    state: dict[int, list[int]] = {}
    folded_epochs: set[int] = set()

    def fold_batch(batch_df: DataFrame, epoch_id: int) -> None:
        rows = _bucket_counts(_occ_from(batch_df)).collect()
        # <= _N_BUCKETS rows — bounded metadata, never data-scale
        _fold_bucket_counts(state, folded_epochs, epoch_id, rows)

    run_foreach_batch(documents_stream(spark, staged), fold_batch)

    counts = spark.createDataFrame(
        [(b, ct, cr) for b, (ct, cr) in state.items()],
        "bucket long, ct long, cr long",
    )
    # identical λ/scoring expressions as the batch key — the fold is the
    # only thing this certification varies
    lam = _lam_from_counts(counts)
    return _score_occ(_doc_buckets(spark, sf_dir), lam)


s_dsir_score.__doc__ = s_dsir_score.__doc__.format(b=_N_BUCKETS)


# ---------------------------------------------------------------------------
# s_reservoir_sample — fixed-size uniform sample as a bottom-k fold
# ---------------------------------------------------------------------------

_RSV_K = 100

# The k rows with the smallest md5(doc_id) keys ARE a uniform sample
# without replacement of the whole corpus (the hash imposes a random
# total order; taking its prefix is order-statistics sampling).
_RSV_ORACLE = f"""
SELECT CAST(ROW_NUMBER() OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
           AS rank,
       doc_id, lang, source
FROM documents
ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
LIMIT {_RSV_K}
"""


@register("s_reservoir_sample", oracle=_RSV_ORACLE)
def s_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING fixed-size uniform sample — the bottom-k semilattice
    fold: each micro-batch computes its own k smallest md5(doc_id) keys
    distributed (TakeOrdered — ≤ k rows of bounded metadata per batch),
    and the driver keeps the k smallest of the union. Bottom-k is
    idempotent/commutative/associative, so the folded reservoir equals
    the whole-corpus bottom-k EXACTLY — the "maintain a 100-doc QA
    sample of a growing corpus" primitive, at O(k) state, no history
    re-read, every doc with equal inclusion probability regardless of
    arrival batch.

    The deterministic-key form of reservoir sampling (same reason
    x_sample_hash replaces ``rand()``): reproducible under retries,
    mergeable across shards/hours exactly like s_theta_merge's KMV
    bottom-k — this key emits the sampled ROWS, that one estimates
    cardinality from the same statistic.
    """
    from .streaming import documents_stream, run_foreach_batch, stage_table

    staged = stage_table(spark, sf_dir, "rsv")

    reservoir: list[tuple[str, int, str, str]] = []

    def fold_batch(batch_df: DataFrame, epoch_id: int) -> None:
        rows = (
            batch_df.select(
                F.md5(F.col("doc_id").cast("string").cast("binary")).alias(
                    "hkey"
                ),
                "doc_id",
                "lang",
                "source",
            )
            .orderBy("hkey", "doc_id")
            .limit(_RSV_K)
            .collect()
        )  # <= k rows — bounded metadata however large the batch
        reservoir.extend(
            (r["hkey"], r["doc_id"], r["lang"], r["source"]) for r in rows
        )
        reservoir.sort()
        del reservoir[_RSV_K:]

    run_foreach_batch(documents_stream(spark, staged), fold_batch)

    return spark.createDataFrame(
        [
            (i + 1, doc_id, lang, source)
            for i, (_, doc_id, lang, source) in enumerate(reservoir)
        ],
        "rank long, doc_id long, lang string, source string",
    )
