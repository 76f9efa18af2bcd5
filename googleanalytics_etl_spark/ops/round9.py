"""Round-9 operators: scale-safe batch semantic dedup.

``x_semdedup`` is re-pointed here at a sign-LSH **banded** candidate
generator (256 md5-derived Rademacher hyperplanes, 16 bands x 16 bits),
replacing the round-5 ``x_semdedup`` whose ⌈√n⌉-cell IVF blocking is the
designed Σ|cell|² ≈ n^1.5 pair space — the one superlinear key on the
round-8 scale probe (measured exponent 1.61; VERDICT.md round 8 "What's
wrong"). The exact-within-cell IVF path stays registered as
``x_semdedup_ivf`` (ops/round5b.py), the high-recall variant.

Cost shape of the banded path (the 100 TB story):

- signatures: posexplode to (vec, dim, round(x·10⁷)) rows, broadcast
  hash-join the 16k-row (plane, dim, ±1) sign table on dim, then a
  partial+final SUM(ix·s) per (vec, plane) — O(n·P·d) work entirely
  inside whole-stage codegen (an earlier HOF-fold form evaluated the
  lambdas interpreted and measured ~2 ms/vector; BASELINE.md records
  the A/B), integer dots so the sign decision is aggregation-order-
  free, map-side-combined to n x 16 band-key rows before the only
  data-grain shuffle;
- candidates: self-join on (band, 16-bit key) — Σ bucket² per band key,
  with near-orthogonal organic vectors colliding at ~16·2⁻¹⁶ ≈ 2.4e-4
  per pair, so candidate volume stays ~linear in n at fixture density;
- verify: exact round-6 cosine on candidates only, norms hoisted to
  vector grain.

Recall is the banding S-curve, documented honestly: ≥1-of-16 bands at
cosine 0.92 ≈ 0.85, ≈ 0.999 at 0.98, and exactly 1.0 for identical
vectors (they share every band) — the planted-dup certification the
fixture oracles. A corpus needing exhaustive recall at exactly the 0.92
boundary uses ``x_semdedup_ivf``.

Reference parity: the reference tool has no vector path; this extends
the dedup-before-append discipline [REF-UNVERIFIED: SURVEY.md §0] to
embedding space, mirroring ``s_semdedup`` (ops/round8.py) whose
streaming fold uses the same sign-LSH machinery.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from ..sources.layout import bucket_of, bucket_writer

# 256 planes / 16 bands x 16 bits: the band-key space (65536 per band)
# keeps random-pair collisions ~2.4e-4 while 16 independent bands hold
# threshold recall ≈ 0.85 at cosine 0.92 (S-curve in the module doc).
XSD_PLANES = 256
XSD_BANDS = 16
XSD_BITS = XSD_PLANES // XSD_BANDS
XSD_THRESH = 0.92  # the SemDeDup house threshold (x_semdedup_ivf's too)


def rademacher_planes(spark: SparkSession, n_planes: int, dim: int) -> DataFrame:
    """``(plane, signs array<double>)`` — ±1 per (plane, dim) from one
    md5 bit (first hex char < '8' → +1), as a tiny broadcastable
    DataFrame. This is the REFERENCE construction (tests prove the
    in-row literal twin :func:`rademacher_band_keys` equal to the
    production path key-for-key); production explodes these rows to a
    (plane, dim, sign) table and joins it on dim. DuckDB
    mirrors the construction with ``md5(p || ':' || d)`` on the same
    decimal strings, so the hyperplanes are identical constants on
    both engines — no literal tables to keep in sync."""
    return spark.range(n_planes).select(
        F.col("id").cast("int").alias("plane"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: F.when(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("id").cast("string"),
                            d.cast("string"),
                        ).cast("binary")
                    ),
                    1,
                    1,
                )
                < "8",
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        ).alias("signs"),
    )


def _fold_dot(a, b):
    """Left-fold dot product in ascending element order — the exact
    summation order DuckDB's list_reduce applies, so both engines
    produce bit-identical doubles (the proven s_semdedup recipe)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sign_py(plane: int, dim: int) -> float:
    """Python twin of the md5 sign rule (first hex char < '8' → +1);
    hashlib and Spark's md5() agree byte-for-byte on the same input."""
    import hashlib

    return 1.0 if hashlib.md5(f"{plane}:{dim}".encode()).digest()[0] < 128 else -1.0


def rademacher_band_keys(emb, dim: int):
    """All XSD_BANDS band keys for one embedding column IN-ROW, with
    the hyperplanes inlined as one literal array-of-arrays (computed
    driver-side from the same md5 rule). TEST-ONLY reference twin of
    the production explode-join-aggregate path: Catalyst re-evaluates
    the 16k-literal CreateArray for EVERY row (measured ~10× slower
    than production at the ×16 probe scale) — but as an independent
    construction of the SAME integer-quantized dots it pins the
    signature semantics (tests/test_round9_ops.py asserts key-for-key
    equality). Returns an array of XSD_BANDS bigint keys (bit pos =
    plane index within the band, matching the production/oracle
    packing)."""
    planes_lit = F.array(
        *[
            F.array(
                *[F.lit(int(_sign_py(p, d))) for d in range(dim)]
            )
            for p in range(XSD_PLANES)
        ]
    )
    iemb = F.transform(
        emb,
        lambda x: F.round(x.cast("double") * F.lit(float(XSD_SCALE)), 0)
        .cast("long"),
    )
    bits = F.transform(
        planes_lit,
        lambda h: F.when(
            F.aggregate(
                F.zip_with(iemb, h, lambda ix, s: ix * s.cast("long")),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    # weight 2^i for slice position i == plane % BITS — identical
    # packing to the frame version's `bit << (plane % BITS)` and the
    # oracle's `bit * (1 << (p % BITS))`
    weights = F.array(
        *[F.lit(1 << i).cast("long") for i in range(XSD_BITS)]
    )
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.slice(bits, b * XSD_BITS + 1, XSD_BITS),
                    weights,
                    lambda bit, w: bit.cast("long") * w,
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            for b in range(XSD_BANDS)
        ]
    )


# Fixed-point scale for the signature dots: float32 inputs widened to
# double are exact, round(x·10⁷) is an exact BIGINT, and INTEGER sums
# are associative — the sign decision is order-free, so partial/final
# aggregation, DuckDB's aggregate order, and any future vectorization
# all agree bit-for-bit (the x_kmeans scaled-long recipe).
XSD_SCALE = 10_000_000


def banded_buckets(em: DataFrame, materialize: bool = True) -> DataFrame:
    """``(vec_id, band, bkey)`` sign-LSH band keys for every vector —
    the shared candidate-generation front end of the banded family
    (x_semdedup counts/survivors/incremental, the S-curve probe, the
    threshold curve). ``materialize=False`` for single-consumer callers
    (e.g. the incremental index _build, which writes the frame to
    parquet exactly once) — the eager checkpoint only pays off when
    several plan branches would re-run the n·P·d banding (round-12
    advice item).

    Signature plan, deliberately join+aggregate instead of a
    higher-order-function fold: HOF lambdas (`aggregate`/`zip_with`)
    evaluate INTERPRETED per element, which measured ~2 ms/vector at
    256 planes — the whole stage here (posexplode to (vec, dim, ix)
    rows, broadcast-hash-join the 16k-row (plane, dim, s) sign table
    on dim, partial+final SUM(ix·s) per (vec, plane)) stays inside
    whole-stage codegen, turning the n·P·d work into a tight JVM loop.
    The dot is the exact integer Σ round(x·10⁷)·s — order-free, so the
    map-side combine is sound and DuckDB computes the identical BIGINT
    regardless of its aggregation order."""
    spark = em.sparkSession
    dim = len(em.select("embedding").first()["embedding"])
    psigns = rademacher_planes(spark, XSD_PLANES, dim).select(
        "plane",
        F.posexplode("signs").alias("d", "s"),
    ).select("plane", "d", F.col("s").cast("long").alias("s"))
    # spread the vectors across the cluster BEFORE the ×P×d expansion:
    # a fixture-sized corpus arrives as one input split, and without
    # this the 33M-row join+aggregate below runs on one core (measured
    # 13 s vs ~1 s). The shuffle moves only the n slim vector rows; at
    # 100 TB the scan already has thousands of splits and AQE keeps
    # this a cheap rebalance.
    vals = (
        em.select("vec_id", "embedding")
        .repartition(
            spark.sparkContext.defaultParallelism, "vec_id"
        )
        .select("vec_id", F.posexplode("embedding").alias("d", "x"))
        .select(
            "vec_id",
            "d",
            F.round(F.col("x") * F.lit(float(XSD_SCALE)), 0)
            .cast("long")
            .alias("ix"),
        )
    )
    bits = (
        vals.join(F.broadcast(psigns), "d")
        .groupBy("vec_id", "plane")
        .agg(
            F.when(F.sum(F.col("ix") * F.col("s")) >= 0, 1)
            .otherwise(0)
            .alias("bit")
        )
    )
    # Eager checkpoint (default): every multi-branch consumer reads this
    # frame at least twice (candidate self-joins; the incremental key
    # reads it four times), and each unmaterialized reference re-runs
    # the n·P·d banding join+aggregate. The materialized form is slim —
    # (vec_id, band, bkey), 3 longs × n·bands rows.
    out = (
        bits.withColumn("band", F.expr(f"CAST(plane DIV {XSD_BITS} AS INT)"))
        .withColumn(
            "addend",
            F.expr(
                f"CAST(bit AS BIGINT) * shiftleft(CAST(1 AS BIGINT),"
                f" plane % {XSD_BITS})"
            ),
        )
        .groupBy("vec_id", "band")
        .agg(F.sum("addend").cast("long").alias("bkey"))
    )
    return out.materialize(eager=True) if materialize else out


def banded_dup(em: DataFrame, threshold: float = XSD_THRESH) -> DataFrame:
    """Verified duplicate pairs under the banded rule: ``(old_id,
    new_id, new_label)`` rows where the pair shares ≥1 sign-LSH band
    and exact round-6 cosine ≥ ``threshold``. ``new_id`` (higher id) is
    the drop side — keep-lowest-id survivorship."""
    buckets = banded_buckets(em)
    cand = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "bkey"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("old_id"),
            F.col("b.vec_id").alias("new_id"),
        )
        .distinct()
    )
    normed = em.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ).alias("nrm"),
    )
    return (
        cand.join(
            normed.select(
                F.col("vec_id").alias("old_id"),
                F.col("embedding").alias("ea"),
                F.col("nrm").alias("na"),
            ),
            "old_id",
        )
        .join(
            normed.select(
                F.col("vec_id").alias("new_id"),
                F.col("embedding").alias("eb"),
                F.col("nrm").alias("nb"),
                F.col("label").alias("new_label"),
            ),
            "new_id",
        )
        .where(
            F.round(
                _fold_dot(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb")),
                6,
            )
            >= threshold
        )
        .select("old_id", "new_id", "new_label")
    )


def semdedup_banded(
    em: DataFrame, threshold: float = XSD_THRESH
) -> DataFrame:
    """Banded semantic dedup over ``(vec_id, embedding, label)`` rows:
    sign-LSH candidates → exact-cosine verify → per-label counts
    ``(label, n_members, n_dup_pairs, n_removed)``. Pairs and removals
    are attributed to the DROPPED (higher-id) side's label — the view a
    mixture-rebalancing step consumes. Keep-lowest-id survivorship,
    same as the MinHash family."""
    # (The in-row literal-planes twin — rademacher_band_keys — is
    # test-only: a 16k-literal CreateArray is re-evaluated PER ROW and
    # measured ~10× slower than banded_buckets' narrow-row broadcast
    # join.)
    dup = banded_dup(em, threshold)
    dups_by_label = dup.groupBy(F.col("new_label").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_pairs"),
        F.countDistinct("new_id").cast("long").alias("n_removed"),
    )
    members = em.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return members.join(dups_by_label, "label", "left").select(
        "label",
        "n_members",
        F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
        F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
    )


# Shared SQL chain for the banded family. The hyperplanes are REBUILT
# in SQL from the same md5 bits — no literal table to drift; fold order
# and ROUND(,6) mirror the Spark side term-for-term (1-based
# list_transform index == dim+1). Callers prepend a `corpus` CTE
# (vec_id, e DOUBLE[], label) and append their final SELECT.
_PLANTED_CORPUS_SQL = """corpus AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id, CAST(embedding AS DOUBLE[]) AS e, label
    FROM embeddings WHERE vec_id < 10
)"""


def _banded_ctes(corpus_sql: str = _PLANTED_CORPUS_SQL) -> str:
    return f"""{corpus_sql}, dims AS (
    -- dimension spine derived from the data (generate_subscripts is
    -- 1-based; the md5 keys use 0-based dims like the Spark side)
    SELECT generate_subscripts(e, 1) - 1 AS d
    FROM (SELECT e FROM corpus LIMIT 1)
), pd AS (
    SELECT p, d,
           CASE WHEN substr(md5(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)),
                            1, 1) < '8'
                THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS s
    FROM range({XSD_PLANES}) t(p) CROSS JOIN dims
), vq AS (
    -- exact fixed-point components: float32 -> double is exact, so
    -- ROUND(x * 1e7) is the identical BIGINT the Spark side computes
    SELECT vec_id, generate_subscripts(e, 1) - 1 AS d,
           CAST(ROUND(unnest(e) * {XSD_SCALE}) AS BIGINT) AS ix
    FROM corpus
), bits AS (
    -- integer dot per (vector, plane): BIGINT sums are associative,
    -- so the sign decision is aggregation-order-free on both engines
    SELECT v.vec_id, pd.p,
           CASE WHEN SUM(v.ix * CAST(pd.s AS BIGINT)) >= 0
                THEN 1 ELSE 0 END AS bit
    FROM vq v JOIN pd USING (d)
    GROUP BY v.vec_id, pd.p
), buckets AS (
    SELECT vec_id, p // {XSD_BITS} AS band,
           SUM(CAST(bit AS BIGINT) * (CAST(1 AS BIGINT) << (p % {XSD_BITS})))
               AS bkey
    FROM bits GROUP BY vec_id, p // {XSD_BITS}
), cand AS (
    SELECT DISTINCT a.vec_id AS old_id, b.vec_id AS new_id
    FROM buckets a JOIN buckets b USING (band, bkey)
    WHERE a.vec_id < b.vec_id
), normed AS (
    SELECT vec_id, e, label,
           SQRT(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(e, x -> x * x)), (a, v) -> a + v)) AS nrm
    FROM corpus
), dup AS (
    SELECT c.new_id, nb.label AS new_label
    FROM cand c
    JOIN normed na ON na.vec_id = c.old_id
    JOIN normed nb ON nb.vec_id = c.new_id
    WHERE ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(na.e, (x, i) -> x * nb.e[i])), (a, v) -> a + v)
              / (na.nrm * nb.nrm), 6) >= {XSD_THRESH}
)"""


def _xsemdedup_oracle() -> str:
    return f"""
WITH {_banded_ctes()}
SELECT m.label,
       CAST(m.n_members AS BIGINT) AS n_members,
       CAST(COALESCE(d.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
       CAST(COALESCE(d.n_removed, 0) AS BIGINT) AS n_removed
FROM (SELECT label, COUNT(*) AS n_members FROM corpus GROUP BY label) m
LEFT JOIN (SELECT new_label AS label, COUNT(*) AS n_dup_pairs,
                  COUNT(DISTINCT new_id) AS n_removed
           FROM dup GROUP BY new_label) d USING (label)
"""


@register("x_semdedup", oracle=_xsemdedup_oracle())
def x_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dedup, SCALE PATH (round-9 redesign): sign-LSH
    banded candidates (256 md5-Rademacher planes, 16 bands x 16 bits) →
    exact round-6 cosine ≥ 0.92 verify → per-label member/dup-pair/
    removed counts. Supersedes the ⌈√n⌉-IVF blocking (now
    ``x_semdedup_ivf``) whose Σ|cell|² pair space measured scaling
    exponent 1.61 on the round-8 probe; the banded pair space is
    collision-bounded and ~linear. Same planted-dup fixture (vec 0..9
    re-inserted at +1e6): identical vectors share every band, so the 10
    planted pairs are always candidates and always verified.
    """
    base = load(spark, sf_dir, "embeddings")
    em = base.select("vec_id", "embedding", "label").unionByName(
        base.where(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            "embedding",
            "label",
        )
    )
    return semdedup_banded(em)


# ---------------------------------------------------------------------------
# x_semdedup_survivors_banded — the deduplicated corpus under the banded rule
# ---------------------------------------------------------------------------

_XSD_SURV_ORACLE = f"""
WITH {_banded_ctes()}
SELECT c.vec_id, c.label
FROM corpus c
LEFT JOIN (SELECT DISTINCT new_id FROM dup) d ON d.new_id = c.vec_id
WHERE d.new_id IS NULL
"""


@register("x_semdedup_survivors_banded", oracle=_XSD_SURV_ORACLE)
def x_semdedup_survivors_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus AFTER banded semantic dedup — every vector surviving
    keep-lowest-id survivorship under the sign-LSH rule (the artifact a
    training run actually consumes; ``x_semdedup`` reports the
    per-label counts of the same pass, and tests assert survivors +
    removed = members label-for-label). Same shape as the IVF family's
    ``x_semdedup_survivors`` and the streaming fold ``s_semdedup`` —
    batch banded dedup completes the 2×2 (batch/streaming ×
    IVF/banded) semantic-dedup matrix. Cost: the shared
    :func:`banded_dup` front end plus one anti-join.
    """
    base = load(spark, sf_dir, "embeddings")
    em = base.select("vec_id", "embedding", "label").unionByName(
        base.where(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            "embedding",
            "label",
        )
    )
    dropped = banded_dup(em).select(
        F.col("new_id").alias("vec_id")
    ).distinct()
    return em.join(dropped, "vec_id", "left_anti").select("vec_id", "label")


# ---------------------------------------------------------------------------
# x_signlsh_tuning — empirical vs analytic banding S-curve (vector twin of
# x_lsh_tuning's MinHash certification)
# ---------------------------------------------------------------------------

_SLT_PANEL = 200  # fixed probe panel: vec_id < 200 exists at every SF


_SLT_MIXES = [(0, 0.8), (1, 0.4), (2, 0.2), (3, 0.1), (4, 0.05)]
_SLT_BASES = 40  # planted mixes for vec_id < 40 (partner = vec_id + 1)


def _slt_panel_sql() -> str:
    """Panel corpus CTE: 200 organic vectors (cosine spectrum tops out
    ~0.5) PLUS controlled high-cosine plants — for each base < 40, five
    blends base + w·next at deterministic weights, filling the 0.8..1.0
    region. Shared by the S-curve and threshold-curve oracles."""
    mixes = ", ".join(
        f"({k}, CAST({w} AS DOUBLE))" for k, w in _SLT_MIXES
    )
    return f"""organic AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    WHERE vec_id < {_SLT_PANEL}
), planted AS (
    SELECT 1000 + a.vec_id * 5 + m.k AS vec_id,
           list_transform(a.e, (x, i) -> x + m.w * b.e[i]) AS e
    FROM organic a
    JOIN organic b ON b.vec_id = a.vec_id + 1
    CROSS JOIN (VALUES {mixes}) m(k, w)
    WHERE a.vec_id < {_SLT_BASES}
), corpus AS (
    SELECT vec_id, e, 0 AS label FROM organic
    UNION ALL
    SELECT vec_id, e, 0 AS label FROM planted
)"""


def _slt_panel_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :func:`_slt_panel_sql` — identical arithmetic, so
    both probe keys (S-curve, threshold curve) see the same corpus."""
    base = load(spark, sf_dir, "embeddings")
    organic = base.where(F.col("vec_id") < _SLT_PANEL).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    mixes = F.array(
        *[
            F.struct(F.lit(k).alias("k"), F.lit(w).alias("w"))
            for k, w in _SLT_MIXES
        ]
    )
    planted = (
        organic.alias("a")
        .where(F.col("a.vec_id") < _SLT_BASES)
        .join(
            organic.alias("b"),
            F.col("b.vec_id") == F.col("a.vec_id") + 1,
        )
        .select(
            F.col("a.vec_id").alias("base_id"),
            F.col("a.embedding").alias("ea"),
            F.col("b.embedding").alias("eb"),
            F.explode(mixes).alias("m"),
        )
        .select(
            (F.lit(1000) + F.col("base_id") * 5 + F.col("m.k")).alias(
                "vec_id"
            ),
            F.zip_with(
                "ea", "eb", lambda x, y: x + F.col("m.w") * y
            ).alias("embedding"),
        )
    )
    return organic.select("vec_id", "embedding").unionByName(planted)


def _slt_oracle() -> str:
    panel = _slt_panel_sql()
    return f"""
WITH {_banded_ctes(panel)}, pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(a.e, (x, i) -> x * b.e[i])), (s, v) -> s + v)
               / (a.nrm * b.nrm), 6) AS cosim
    FROM normed a JOIN normed b ON a.vec_id < b.vec_id
), flagged AS (
    SELECT p.id_a, p.id_b, p.cosim,
           CASE WHEN c.old_id IS NULL THEN 0 ELSE 1 END AS band_match
    FROM pairs p
    LEFT JOIN (SELECT DISTINCT old_id, new_id FROM cand) c
           ON c.old_id = p.id_a AND c.new_id = p.id_b
), bucketed AS (
    SELECT CAST(FLOOR(cosim * 10) AS INT) AS bucket,
           COUNT(*) AS n_pairs, SUM(band_match) AS n_match
    FROM flagged GROUP BY 1
)
SELECT bucket,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(n_match AS BIGINT) AS n_match,
       ROUND(CAST(n_match AS DOUBLE) / n_pairs, 6) AS match_rate,
       ROUND(1 - POWER(1 - POWER(1 - ACOS((bucket + 0.5) / 10.0) / PI(),
                                 {XSD_BITS}),
                       {XSD_BANDS}), 6) AS analytic_rate
FROM bucketed
"""


@register("x_signlsh_tuning", oracle=_slt_oracle())
def x_signlsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH banding S-curve certification — the vector twin of
    ``x_lsh_tuning`` (which certifies the MinHash bands): over a fixed
    {panel}-vector probe panel (all C({panel},2) pairs — bounded
    metadata at ANY corpus size, the curve is a property of the
    CONSTRUCTION, not the corpus), measure the empirical ≥1-of-{bands}
    band match rate per exact-cosine decile and set it beside the
    closed-form banding curve 1-(1-p^{bits})^{bands} with
    p = 1 - acos(mid)/π at the bucket midpoint. This is the in-engine
    evidence for the recall figures SCALE.md §12 quotes for the banded
    ``x_semdedup`` (≈0.85 at 0.92, →1 above 0.98) — and the knob chart
    an operator would read before re-banding for a different threshold.
    """
    em = _slt_panel_df(spark, sf_dir)
    buckets = banded_buckets(em)
    matched = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "bkey"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
        )
        .distinct()
        .withColumn("band_match", F.lit(1))
    )
    normed = em.select(
        "vec_id",
        "embedding",
        F.sqrt(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ).alias("nrm"),
    )
    pairs = (
        normed.alias("a")
        .join(
            # the probe panel is FIXED-size (400 rows) — broadcast it
            # so the non-equi pair join is the declared bounded BNLJ,
            # never a partitioned cartesian product
            F.broadcast(normed.alias("b")),
            F.col("a.vec_id") < F.col("b.vec_id"),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(
                _fold_dot(F.col("a.embedding"), F.col("b.embedding"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("cosim"),
        )
    )
    flagged = pairs.join(matched, ["id_a", "id_b"], "left").select(
        "cosim", F.coalesce("band_match", F.lit(0)).alias("band_match")
    )
    mid = (F.col("bucket") + 0.5) / 10.0
    p_bit = 1 - F.acos(mid) / F.lit(math.pi)
    analytic = 1 - F.pow(1 - F.pow(p_bit, F.lit(XSD_BITS)), F.lit(XSD_BANDS))
    return (
        flagged.withColumn(
            "bucket", F.floor(F.col("cosim") * 10).cast("int")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("band_match").cast("long").alias("n_match"),
        )
        .select(
            "bucket",
            "n_pairs",
            "n_match",
            F.round(
                F.col("n_match").cast("double") / F.col("n_pairs"), 6
            ).alias("match_rate"),
            F.round(analytic, 6).alias("analytic_rate"),
        )
    )


x_signlsh_tuning.__doc__ = x_signlsh_tuning.__doc__.format(
    panel=_SLT_PANEL, bands=XSD_BANDS, bits=XSD_BITS
)


# ---------------------------------------------------------------------------
# x_semdedup_incremental — daily embedding ingest vs a PERSISTED banded index
# ---------------------------------------------------------------------------

_XSI_IDX_BUCKETS = 64  # band-index hive buckets (hash of (band, bkey))
_XSI_VEC_BUCKETS = 32  # vector-store hive buckets (hash of vec_id)


def _xsi_stage(spark: SparkSession, sf_dir: str):
    """Stage the STANDING corpus as two pruned hive-bucketed stores
    (fingerprint-cached, atomic publish): a narrow band index
    ``bucket=K/(band, bkey, vec_id)`` and a vector store
    ``vbucket=J/(vec_id, embedding, nrm)``. This materializes SCALE.md
    §11's "bucketBy(band, key) parquet is a sink change, not a plan
    change" claim: the daily batch's candidate join reads ONLY the
    buckets its own band keys hash into, and the verify join reads
    ONLY the vector buckets its candidate partners hash into —
    per-day IO bounded by the batch's key spread, never the
    accumulated index size (the hash-bucket layout of upsert_append and
    the CDC state, sources/layout.py)."""
    import hashlib
    import os
    from pathlib import Path as _P

    from .streaming import SCRATCH, stage_atomic

    src = _P(sf_dir) / "embeddings.parquet"
    st = os.stat(src)
    fp = hashlib.md5(
        # |xsi2: signature algorithm version — the integer-quantized dot
        # changed band keys vs the float-fold build, so a pre-rewrite
        # staged index must never mix with post-rewrite batch keys
        f"{src.resolve()}|{st.st_size}|{st.st_mtime_ns}|xsi2".encode()
    ).hexdigest()[:16]
    root = SCRATCH / "xsi_index" / f"{_P(sf_dir).name}_{fp}"

    def _build(tmp) -> None:
        corpus = load(spark, sf_dir, "embeddings").select(
            "vec_id",
            "embedding",
            F.sqrt(
                F.aggregate(
                    F.col("embedding"),
                    F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"),
                )
            ).alias("nrm"),
        )
        # single consumer: written to parquet exactly once below —
        # skip the eager checkpoint (round-12 advice item)
        idx = banded_buckets(corpus, materialize=False).withColumn(
            "bucket", bucket_of(_XSI_IDX_BUCKETS, "band", "bkey")
        )
        bucket_writer(idx, _XSI_IDX_BUCKETS).mode("overwrite").parquet(
            str(_P(tmp) / "band_index")
        )
        vec = corpus.withColumn("vbucket", bucket_of(_XSI_VEC_BUCKETS, "vec_id"))
        bucket_writer(vec, _XSI_VEC_BUCKETS, bucket="vbucket").mode(
            "overwrite"
        ).parquet(str(_P(tmp) / "vec_store"))

    return stage_atomic(root, _build)


def _xsi_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic 'daily batch': 10 near-copies of corpus
    vectors 0..9 (base + 0.01·next — cosine ≈ 0.99995, to be dropped),
    5 exact copies of vectors 10..14 (dropped), and 10 far blends of
    vectors 20..29 (base + 0.8·next — cosine ≈ 0.8, kept). All three
    constructions are pure arithmetic on corpus rows, so the DuckDB
    oracle rebuilds the identical batch."""
    organic = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    a = organic.alias("a")
    b = organic.alias("b")
    nxt = a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1).select(
        F.col("a.vec_id").alias("base_id"),
        F.col("a.e").alias("ea"),
        F.col("b.e").alias("eb"),
    )
    near = nxt.where(F.col("base_id") < 10).select(
        (F.lit(2_000_000) + F.col("base_id")).alias("vec_id"),
        F.zip_with("ea", "eb", lambda x, y: x + F.lit(0.01) * y).alias(
            "embedding"
        ),
    )
    exact = (
        organic.where(
            (F.col("vec_id") >= 10) & (F.col("vec_id") < 15)
        ).select(
            (F.lit(2_000_100) + F.col("vec_id")).alias("vec_id"),
            F.col("e").alias("embedding"),
        )
    )
    far = nxt.where(
        (F.col("base_id") >= 20) & (F.col("base_id") < 30)
    ).select(
        (F.lit(2_000_200) + F.col("base_id")).alias("vec_id"),
        F.zip_with("ea", "eb", lambda x, y: x + F.lit(0.8) * y).alias(
            "embedding"
        ),
    )
    return near.unionByName(exact).unionByName(far)


_XSI_ORACLE = f"""
WITH organic AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), nxt AS (
    SELECT a.vec_id AS base_id, a.e AS ea, b.e AS eb
    FROM organic a JOIN organic b ON b.vec_id = a.vec_id + 1
), batch AS (
    SELECT 2000000 + base_id AS vec_id,
           list_transform(ea, (x, i) -> x + CAST(0.01 AS DOUBLE) * eb[i]) AS e
    FROM nxt WHERE base_id < 10
    UNION ALL
    SELECT 2000100 + vec_id AS vec_id, e FROM organic
    WHERE vec_id >= 10 AND vec_id < 15
    UNION ALL
    SELECT 2000200 + base_id AS vec_id,
           list_transform(ea, (x, i) -> x + CAST(0.8 AS DOUBLE) * eb[i]) AS e
    FROM nxt WHERE base_id >= 20 AND base_id < 30
), corpus AS (
    SELECT vec_id, e, 0 AS label FROM organic
    UNION ALL
    SELECT vec_id, e, 0 AS label FROM batch
), dims AS (
    SELECT generate_subscripts(e, 1) - 1 AS d
    FROM (SELECT e FROM corpus LIMIT 1)
), pd AS (
    SELECT p, d,
           CASE WHEN substr(md5(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)),
                            1, 1) < '8'
                THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS s
    FROM range({XSD_PLANES}) t(p) CROSS JOIN dims
), vq AS (
    -- exact fixed-point components: float32 -> double is exact, so
    -- ROUND(x * 1e7) is the identical BIGINT the Spark side computes
    SELECT vec_id, generate_subscripts(e, 1) - 1 AS d,
           CAST(ROUND(unnest(e) * {XSD_SCALE}) AS BIGINT) AS ix
    FROM corpus
), bits AS (
    -- integer dot per (vector, plane): BIGINT sums are associative,
    -- so the sign decision is aggregation-order-free on both engines
    SELECT v.vec_id, pd.p,
           CASE WHEN SUM(v.ix * CAST(pd.s AS BIGINT)) >= 0
                THEN 1 ELSE 0 END AS bit
    FROM vq v JOIN pd USING (d)
    GROUP BY v.vec_id, pd.p
), buckets AS (
    SELECT vec_id, p // {XSD_BITS} AS band,
           SUM(CAST(bit AS BIGINT) * (CAST(1 AS BIGINT) << (p % {XSD_BITS})))
               AS bkey
    FROM bits GROUP BY vec_id, p // {XSD_BITS}
), cand AS (
    -- new-side pairs ONLY: batch vs corpus, and batch vs earlier-batch
    SELECT DISTINCT a.vec_id AS old_id, b.vec_id AS new_id
    FROM buckets a JOIN buckets b USING (band, bkey)
    WHERE a.vec_id < b.vec_id AND b.vec_id >= 2000000
), normed AS (
    SELECT vec_id, e,
           SQRT(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(e, x -> x * x)), (a, v) -> a + v)) AS nrm
    FROM corpus
), dropped AS (
    SELECT DISTINCT c.new_id AS vec_id
    FROM cand c
    JOIN normed na ON na.vec_id = c.old_id
    JOIN normed nb ON nb.vec_id = c.new_id
    WHERE ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(na.e, (x, i) -> x * nb.e[i])), (a, v) -> a + v)
              / (na.nrm * nb.nrm), 6) >= {XSD_THRESH}
)
SELECT b.vec_id,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM batch b LEFT JOIN dropped d USING (vec_id)
"""


@register("x_semdedup_incremental", oracle=_XSI_ORACLE)
def x_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental banded semantic dedup against a PERSISTED index —
    the daily embedding-ingest loop with the standing corpus on disk
    (the production form of ``s_semdedup``'s in-memory accumulation,
    and the vector twin of ``x_dedup_incremental``):

    - the standing corpus lives as two hive-bucketed parquet stores
      (band index on hash(band,bkey); vector store on hash(vec_id)) —
      staged once, exactly the ``upsert_append`` / CDC-state layout;
    - the arriving batch computes its OWN band keys (one |batch|×256
      broadcast scan), collects the ≤{ib} index buckets they hash into
      (bounded driver metadata), and candidate-joins ONLY those hive
      directories — `PartitionFilters` pruning, asserted by test;
    - exact-cosine verify reads ONLY the ≤{vb} vector-store buckets
      the candidate partners hash into, plus batch×batch self-dedup;
    - per-day IO is bounded by the batch's key spread, never the
      accumulated index size — the 100 TB standing-store contract.

    Output: every batch row with its keep decision (planted
    near/exact copies dropped, far blends kept). The oracle rebuilds
    the identical batch arithmetically and computes the same banded
    rule without any pruning — bucket layout is plan-level and
    result-invariant, which is exactly the claim.
    """
    from pathlib import Path as _P

    root = _xsi_stage(spark, sf_dir)
    batch = _xsi_batch(spark, sf_dir)

    # bkeys is consumed four times (pruning manifest, corpus candidate
    # join, both sides of the batch self-join) and each unmaterialized
    # reference would re-run the 256-plane banding projection over the
    # batch; batch-grain eager checkpoint — bounded by the arriving
    # batch, never the corpus.
    bkeys = banded_buckets(batch)  # eagerly checkpointed inside
    # ≤ n_buckets ints of driver metadata — the pruning manifest
    touched = sorted(
        bkeys.agg(
            F.collect_set(bucket_of(_XSI_IDX_BUCKETS, "band", "bkey"))
        ).first()[0]
    )
    idx = spark.read.parquet(str(_P(root) / "band_index")).where(
        F.col("bucket").isin(touched)
    )
    cand_corpus = (
        bkeys.select(F.col("vec_id").alias("new_id"), "band", "bkey")
        .join(
            idx.select(F.col("vec_id").alias("old_id"), "band", "bkey"),
            ["band", "bkey"],
        )
        .select("old_id", "new_id")
    )
    # batch × earlier-batch (tiny self-join on the batch's own keys)
    cand_self = (
        bkeys.alias("a")
        .join(bkeys.alias("b"), ["band", "bkey"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("old_id"),
            F.col("b.vec_id").alias("new_id"),
        )
    )
    cand = cand_corpus.unionByName(cand_self).distinct()

    batch_n = batch.select(
        "vec_id",
        "embedding",
        F.sqrt(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ).alias("nrm"),
    ).materialize(eager=True)
    # old side: corpus partners from the PRUNED vector store + batch
    # partners from the in-memory batch frame
    vtouched = sorted(
        cand.where(F.col("old_id") < 2_000_000)
        .agg(F.collect_set(bucket_of(_XSI_VEC_BUCKETS, "old_id")))
        .first()[0]
    )
    vec_old = (
        spark.read.parquet(str(_P(root) / "vec_store"))
        .where(F.col("vbucket").isin(vtouched))
        .select("vec_id", "embedding", "nrm")
        if vtouched
        else batch_n.limit(0)
    )
    old_side = vec_old.unionByName(batch_n).select(
        F.col("vec_id").alias("old_id"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    dropped = (
        cand.join(old_side, "old_id")
        .join(
            batch_n.select(
                F.col("vec_id").alias("new_id"),
                F.col("embedding").alias("eb"),
                F.col("nrm").alias("nb"),
            ),
            "new_id",
        )
        .where(
            F.round(
                _fold_dot(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb")),
                6,
            )
            >= XSD_THRESH
        )
        .select(F.col("new_id").alias("vec_id"))
        .distinct()
    )
    return batch.join(dropped, "vec_id", "left_anti").select(
        "vec_id", F.lit(1).cast("long").alias("kept")
    ).unionByName(
        batch.join(dropped, "vec_id", "left_semi").select(
            "vec_id", F.lit(0).cast("long").alias("kept")
        )
    )


x_semdedup_incremental.__doc__ = x_semdedup_incremental.__doc__.format(
    ib=_XSI_IDX_BUCKETS, vb=_XSI_VEC_BUCKETS
)


# ---------------------------------------------------------------------------
# x_semdedup_threshold_curve — dedup yield vs cosine threshold (banded)
# ---------------------------------------------------------------------------

_XTC_THRESHOLDS = [0.80, 0.85, 0.90, 0.95, 0.99]


def _xtc_oracle() -> str:
    spine = ", ".join(f"(CAST({t} AS DOUBLE))" for t in _XTC_THRESHOLDS)
    return f"""
WITH {_banded_ctes(_slt_panel_sql())}, pairsim AS (
    SELECT c.new_id,
           ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(na.e, (x, i) -> x * nb.e[i])), (s, v) -> s + v)
               / (na.nrm * nb.nrm), 6) AS cosim
    FROM cand c
    JOIN normed na ON na.vec_id = c.old_id
    JOIN normed nb ON nb.vec_id = c.new_id
), spine AS (SELECT thresh FROM (VALUES {spine}) t(thresh))
SELECT s.thresh,
       CAST(COUNT(p.new_id) AS BIGINT) AS n_cand_pairs,
       CAST(COUNT(CASE WHEN p.cosim >= s.thresh THEN 1 END) AS BIGINT)
           AS n_dup_pairs,
       CAST(COUNT(DISTINCT CASE WHEN p.cosim >= s.thresh THEN p.new_id END)
            AS BIGINT) AS n_removed
FROM spine s LEFT JOIN pairsim p ON TRUE
GROUP BY s.thresh
"""


@register("x_semdedup_threshold_curve", oracle=_xtc_oracle())
def x_semdedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup YIELD CURVE — verified dup pairs and removed
    vectors at each candidate production threshold (0.80 … 0.99) from
    ONE banded candidate pass (the vector twin of
    ``x_dedup_threshold_curve``): candidates and exact cosines are
    computed once over the blended probe panel, then a broadcast
    5-row threshold spine turns them into the chart that prices "how
    much does tightening the threshold cost" before anyone re-runs the
    dedup. Pairs at 0.99 ⊆ pairs at 0.80 by construction (tested).
    Same bounded probe-panel posture as ``x_signlsh_tuning`` —
    candidate generation is the banded front end, so the curve also
    reflects production recall at each threshold, not an oracle's
    exhaustive pair space.
    """
    em = _slt_panel_df(spark, sf_dir)
    buckets = banded_buckets(em)
    cand = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "bkey"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("old_id"),
            F.col("b.vec_id").alias("new_id"),
        )
        .distinct()
    )
    normed = em.select(
        "vec_id",
        "embedding",
        F.sqrt(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ).alias("nrm"),
    )
    pairsim = (
        cand.join(
            normed.select(
                F.col("vec_id").alias("old_id"),
                F.col("embedding").alias("ea"),
                F.col("nrm").alias("na"),
            ),
            "old_id",
        )
        .join(
            normed.select(
                F.col("vec_id").alias("new_id"),
                F.col("embedding").alias("eb"),
                F.col("nrm").alias("nb"),
            ),
            "new_id",
        )
        .select(
            "new_id",
            F.round(
                _fold_dot(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cosim"),
        )
    )
    spine = F.broadcast(
        pairsim.sparkSession.createDataFrame(
            [(t,) for t in _XTC_THRESHOLDS], "thresh double"
        )
    )
    return (
        spine.join(pairsim, F.lit(True), "left")
        .groupBy("thresh")
        .agg(
            F.count("new_id").cast("long").alias("n_cand_pairs"),
            F.count(
                F.when(F.col("cosim") >= F.col("thresh"), 1)
            )
            .cast("long")
            .alias("n_dup_pairs"),
            F.countDistinct(
                F.when(F.col("cosim") >= F.col("thresh"), F.col("new_id"))
            )
            .cast("long")
            .alias("n_removed"),
        )
    )
