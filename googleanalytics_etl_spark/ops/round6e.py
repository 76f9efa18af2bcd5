"""Round-6 batch 5: LSH design-dial tuning.

``x_lsh_tuning`` — the (bands × rows) sweep that justifies the MinHash
family's production 4×4 shape: the SAME 16 signatures re-banded as
(4 bands × 4 rows), (8 × 2) and (16 × 1), each shape scored by its
candidate volume, verified-pair yield (Jaccard ≥ 0.5), precision, and
recall against the most permissive shape. The S-curve tradeoff
(P[candidate] = 1 − (1 − j^r)^b) is usually quoted from theory; this
operator MEASURES it on the corpus — the evidence behind picking a
banding before a 100 TB dedup run, where a too-permissive shape
explodes the candidate join and a too-strict one silently loses dups.

Reference parity: no analogue [REF-UNVERIFIED — /root/reference is
empty]; extends the dedup-evidence family (x_dedup_eval,
x_dedup_threshold_curve).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register

# (bands, rows) shapes over the 16 shared signatures. A pair matching a
# b-band of r rows matches each of that band's single rows, so the
# (16, 1) candidate set — the last shape — is a SUPERSET of every other
# shape: its verified yield is the recall denominator.
_SHAPES = ((4, 4), (8, 2), (16, 1))


def _config_ctes(b: int, r: int) -> str:
    sig_terms = " || ':' || ".join(
        f"CAST(sig[{r} * band + {i + 1}] AS VARCHAR)" for i in range(r)
    )
    tag = f"{b}_{r}"
    return f"""banded_{tag} AS (
    SELECT doc_id, band, {sig_terms} AS bucket
    FROM sigs, range({b}) t(band)
), cand_{tag} AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded_{tag} a
    JOIN banded_{tag} b ON a.band = b.band AND a.bucket = b.bucket
    WHERE a.doc_id < b.doc_id
), stat_{tag} AS (
    SELECT {b} AS n_bands, {r} AS n_rows,
           COUNT(*) AS n_candidates,
           SUM(CASE WHEN ROUND(
                   CAST(len(list_intersect(s1.hsig, s2.hsig)) AS DOUBLE)
                   / len(list_distinct(list_concat(s1.hsig, s2.hsig))), 6)
                   >= 0.5 THEN 1 ELSE 0 END) AS n_verified
    FROM cand_{tag}
    JOIN hset s1 ON s1.doc_id = doc_a
    JOIN hset s2 ON s2.doc_id = doc_b
)"""


def _lsh_tuning_oracle() -> str:
    from .extensions import _SIG_CTES

    cfg = ", ".join(_config_ctes(b, r) for b, r in _SHAPES)
    stats_union = " UNION ALL ".join(
        f"SELECT * FROM stat_{b}_{r}" for b, r in _SHAPES
    )
    return f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text
    FROM documents WHERE doc_id < 10
), {_SIG_CTES.strip()}, {cfg}, stats AS (
    {stats_union}
), denom AS (
    SELECT n_verified AS v_total FROM stat_16_1
)
SELECT CAST(s.n_bands AS BIGINT) AS n_bands,
       CAST(s.n_rows AS BIGINT) AS n_rows,
       CAST(s.n_candidates AS BIGINT) AS n_candidates,
       CAST(s.n_verified AS BIGINT) AS n_verified,
       ROUND(CAST(s.n_verified AS DOUBLE) / s.n_candidates, 6)
           AS precision_at_05,
       ROUND(CAST(s.n_verified AS DOUBLE) / d.v_total, 6) AS recall_vs_max
FROM stats s, denom d
"""


def _band_match_sql(b: int, r: int) -> str:
    """True when the pair (sg_a, sg_b) shares some (b × r) band: all r
    rows of that band equal. ``<=>`` makes two null signatures equal,
    exactly as their ``concat_ws`` band strings ('' and '') collide."""
    return " OR ".join(
        "("
        + " AND ".join(
            f"sg_a[{band * r + i}] <=> sg_b[{band * r + i}]" for i in range(r)
        )
        + ")"
        for band in range(b)
    )


@register("x_lsh_tuning", oracle=_lsh_tuning_oracle())
def x_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding sweep: the shared 16-signature frame
    (``_minhash_signed`` — computed ONCE, eagerly checkpointed)
    re-banded at
    {shapes}; per shape, candidate volume, verified-pair yield
    (hash-set Jaccard ≥ 0.5), precision, and recall against the
    (16 × 1) superset shape. Reads as the measured LSH S-curve: more
    rows per band → fewer, cleaner candidates (high precision, lower
    recall); single-row bands → every signature collision becomes a
    candidate (full recall at this threshold, worst candidate bill).

    Scale shape: the signature stage is the exact x_dedup_near plan.
    Only the (16 × 1) superset is generated — one band self-join over
    (band, signature, doc_id) — and verified once: one join carries
    each doc's hash set and signature array onto the candidates, each
    pair's (8 × 2) and (4 × 4) membership is read off its two
    signature vectors, and one aggregate counts all three shapes. At
    100 TB you run this on a ~0.1% hash-sampled slice — the S-curve is
    a ratio estimate, sample-stable — before committing the full run
    to one banding.
    """
    from .extensions import JACCARD_SQL, SIG_ARRAY_SQL, _minhash_signed

    signed = _minhash_signed(spark, sf_dir)
    # (16 × 1) buckets: a single-row band's key is its signature.
    # NOT the bucket-aggregate pair generation used elsewhere (probed
    # in round 13: 3.2 s → 6.7 s): single-signature buckets run HOT
    # (common shingles pull many docs to one min value), and the in-row
    # double explode copies the k-member array per generated row —
    # O(k³) bytes on a hot bucket. The self-join streams the probe side
    # instead, which is the right shape when buckets can be large.
    buckets = signed.selectExpr(
        "doc_id", f"posexplode({SIG_ARRAY_SQL}) AS (band, bucket)"
    )
    pa = buckets.selectExpr("band", "bucket", "doc_id AS doc_a")
    pb = buckets.selectExpr(
        "band AS band_b", "bucket AS bucket_b", "doc_id AS doc_b"
    )
    # <=>: two null signatures share a bucket, as their '' keys did
    on = F.expr("band = band_b AND bucket <=> bucket_b AND doc_a < doc_b")
    pairs = (
        pa.join(pb, on)
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    side = signed.selectExpr(
        "doc_id", "array_distinct(h1s) AS hsig", f"{SIG_ARRAY_SQL} AS sg"
    )
    s1 = side.selectExpr("doc_id AS doc_a", "hsig AS sh_a", "sg AS sg_a")
    s2 = side.selectExpr("doc_id AS doc_b", "hsig AS sh_b", "sg AS sg_b")
    # A pair in some (b × r) band shares each of that band's single
    # rows, so every shape's candidates are flagged subsets of the
    # (16 × 1) superset. n_verified stays NULL for a shape with no
    # candidates, as SUM over an empty per-shape join is.
    flagged = (
        pairs.join(s1, "doc_a")
        .join(s2, "doc_b")
        .selectExpr(
            f"CAST({JACCARD_SQL} >= 0.5 AS INT) AS ver",
            *[f"{_band_match_sql(b, r)} AS in_{b}" for b, r in _SHAPES[:-1]],
        )
    )
    counts = ["count(1) AS c_16", "sum(ver) AS v_16"]
    for b, _ in _SHAPES[:-1]:
        counts += [f"count_if(in_{b}) AS c_{b}", f"sum(if(in_{b}, ver, NULL)) AS v_{b}"]
    rows = ", ".join(
        f"struct({b}L AS n_bands, {r}L AS n_rows, c_{b} AS n_candidates,"
        f" v_{b} AS n_verified)"
        for b, r in _SHAPES
    )
    return (
        flagged.selectExpr(*counts)
        .selectExpr(f"inline(array({rows}))", "v_16 AS v_total")
        .selectExpr(
            "n_bands",
            "n_rows",
            "n_candidates",
            "n_verified",
            "round(CAST(n_verified AS DOUBLE) / n_candidates, 6) AS precision_at_05",
            "round(CAST(n_verified AS DOUBLE) / v_total, 6) AS recall_vs_max",
        )
    )


x_lsh_tuning.__doc__ = x_lsh_tuning.__doc__.format(shapes=_SHAPES)
