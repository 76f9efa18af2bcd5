"""§2.J — LLM-data-pipeline extension operators (the north star).

Not in the reference (BASELINE.json:6 mandates them): deduplication
(exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine),
similarity search (brute-force + IVF-style partition pruning), and text
analysis (language-ID, quality scoring, token counting, fingerprinting)
over the ``documents`` / ``embeddings`` fixtures.

Scale design, per operator family:

- **Exact dedup** — hash-groupBy on a normalized-text digest; the only
  shuffle carries (digest, doc_id), never the text payload.
- **Near-dup** — candidate generation is always *blocked* (LSH bands,
  SimHash band equality, rare-shingle inverted index, label blocking)
  so the pair space is sparse; exact verification runs only on
  candidates. Brute-force O(n²) never appears at scale.
- **Similarity search** — brute-force cosine is the correctness
  baseline; the IVF variant prunes to the nearest coarse partitions
  (here: label centroids) before scanning — the 100 TB path.
- Everything is Catalyst lambda/array expressions (JVM-side); no Python
  in any hot loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register

# ---------------------------------------------------------------------------
# shared array/similarity helpers (Catalyst lambda expressions)
# ---------------------------------------------------------------------------


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two float arrays, in double precision."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    n1 = F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    n2 = F.aggregate(
        b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return dot / (F.sqrt(n1) * F.sqrt(n2))


def word_shingles(words: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a *words array* column.

    Takes a pre-split array (callers materialize ``split(text, ' ')`` in
    a prior projection) — inlining the split here would re-evaluate it
    for every lambda element, turning shingling O(words²) per document.
    Documents shorter than ``n`` words shingle to the joined text.
    """
    idx = F.sequence(F.lit(0), F.size(words) - n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.array_distinct(
        F.when(F.size(words) >= n, grams).otherwise(F.array(F.array_join(words, " ")))
    )


# ---------------------------------------------------------------------------
# deduplication family
# ---------------------------------------------------------------------------

_DEDUP_EXACT_ORACLE = """
WITH incoming AS (
    SELECT * FROM documents
    UNION ALL
    SELECT * FROM documents WHERE doc_id < 20
)
SELECT doc_id, lang, source, n_chars
FROM (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY sha256(LOWER(TRIM(text)))
                              ORDER BY doc_id) AS rn
    FROM incoming
)
WHERE rn = 1
"""


@register("x_dedup_exact", oracle=_DEDUP_EXACT_ORACLE)
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup: normalize → sha256 digest → keep min doc_id.

    A duplicated tail is unioned in first (the fixtures have no exact
    duplicates below sf0.1 — FIXTURES.md), modeling a re-extract overlap.
    Only (digest, row) shuffles; survivors are picked deterministically.
    """
    d = load(spark, sf_dir, "documents")
    # ids are contiguous from 0 at every SF, so the deterministic tail is
    # a pushed-down filter, not a global sort (orderBy+limit would range-
    # partition the whole table at scale)
    incoming = d.unionByName(d.where(F.col("doc_id") < 20))
    # digest before the shuffle and drop the text payload — the dedup
    # exchange carries 32-byte digests, not documents (the at-scale win)
    hashed = incoming.select(
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("digest"),
        "doc_id",
        "lang",
        "source",
        "n_chars",
    )
    # hash aggregate, not a row_number window: min_by supports partial
    # (map-side) aggregation, so the shuffle carries one candidate per
    # (digest, map partition) instead of every row, and no sort runs.
    # doc_id is unique → min_by is deterministic.
    return (
        hashed.groupBy("digest")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by(F.struct("lang", "source", "n_chars"), F.col("doc_id")).alias(
                "attrs"
            ),
        )
        .select("doc_id", "attrs.lang", "attrs.source", "attrs.n_chars")
    )


N_MINHASH = 16
LSH_BANDS = 4
LSH_ROWS = N_MINHASH // LSH_BANDS

# Shared CTE chain for the MinHash-LSH pipeline, mirrored exactly by the
# Spark builder: word-3-gram shingles → md5-derived 32-bit (h1, h2) per
# shingle → 16 Kirsch-Mitzenmacher signatures min(h1 + i·h2) → 4 bands of
# 4 rows keyed by the joined signature string → candidate pairs → hashed
# shingle-set Jaccard ≥ 0.5. md5 (not xxhash64) so DuckDB computes the
# identical pipeline — this is what upgrades the family from rows-only to
# a full cross-engine hash oracle.
# Shared MinHash-signature prefix (shingles → KM hash halves → 16
# signatures → distinct hash sets). Consumed standalone by round6e's
# x_lsh_tuning (which re-bands the same signatures at several (b, r)
# shapes) and composed into _NEAR_CTES below for the production 4×4
# pipeline. ``hset`` depends only on ``hs``, so it lives in the prefix.
_SIG_CTES = """
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(str_split(text, ' ')) >= 3 THEN
               list_transform(range(len(str_split(text, ' ')) - 2),
                   i -> str_split(text, ' ')[i + 1] || ' ' ||
                        str_split(text, ' ')[i + 2] || ' ' ||
                        str_split(text, ' ')[i + 3])
               ELSE [text] END) AS shingles
    FROM corpus
), hs AS (
    SELECT doc_id,
           list_transform(shingles,
               s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS h1s,
           list_transform(shingles,
               s -> CAST('0x' || substr(md5(s), 9, 8) AS BIGINT)) AS h2s
    FROM sh
), hset AS (
    SELECT doc_id, list_distinct(h1s) AS hsig FROM hs
), sigs AS (
    SELECT doc_id,
           list_transform(range(16), i ->
               list_min(list_transform(range(len(h1s)),
                   j -> h1s[j + 1] + i * h2s[j + 1]))) AS sig
    FROM hs
)"""

_NEAR_CTES = _SIG_CTES + """, banded AS (
    SELECT doc_id, band,
           CAST(sig[4 * band + 1] AS VARCHAR) || ':' ||
           CAST(sig[4 * band + 2] AS VARCHAR) || ':' ||
           CAST(sig[4 * band + 3] AS VARCHAR) || ':' ||
           CAST(sig[4 * band + 4] AS VARCHAR) AS bucket
    FROM sigs, range(4) t(band)
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
    WHERE a.doc_id < b.doc_id
), verified AS (
    SELECT doc_a, doc_b,
           ROUND(CAST(len(list_intersect(s1.hsig, s2.hsig)) AS DOUBLE)
                 / len(list_distinct(list_concat(s1.hsig, s2.hsig))), 6)
               AS jaccard
    FROM cand
    JOIN hset s1 ON s1.doc_id = doc_a
    JOIN hset s2 ON s2.doc_id = doc_b
)
"""

_DEDUP_NEAR_ORACLE = f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text
    FROM documents WHERE doc_id < 10
), {_NEAR_CTES}
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.5
"""


# exact hashed-shingle Jaccard of a candidate row's (sh_a, sh_b) sets,
# rounded as every dedup consumer and its oracle compare it. The sets
# are array_distinct output, so |A∪B| = |A| + |B| − |A∩B| exactly: one
# per-row set op instead of two in the verification hot loop (measured
# 2× on the filter stage). Same IEEE value as the two-op form — int
# division either way — so every consumer's oracle hash is unchanged.
JACCARD_SQL = (
    "round(size(array_intersect(sh_a, sh_b)) / (size(sh_a) + size(sh_b)"
    " - size(array_intersect(sh_a, sh_b))), 6)"
)


# the 16 signatures of :func:`_minhash_signed`'s frame as one array
SIG_ARRAY_SQL = "array(" + ", ".join(f"sig{i}" for i in range(N_MINHASH)) + ")"


def _minhash_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signatures over the documents corpus with its
    planted duplicated tail: ``doc_id``, ``h1s`` (the 32-bit shingle
    hashes) and the 16 signatures ``sig0`` … ``sig15``, over one eagerly
    materialized hash stage. x_lsh_tuning reads only this; every other
    consumer goes through :func:`_minhash_parts`.

    Every per-element projection below is a SQL expression string: a
    Python lambda in ``F.transform``/``F.zip_with`` costs a Py4J round
    trip per column node it builds (~30 ms per signature, against
    ~0.65 ms for the same ``F.expr``), and Catalyst compiles both forms
    to the same plan."""
    d = load(spark, sf_dir, "documents")
    # inject a duplicated tail so near-dup pairs exist at every sf
    # contiguous-from-0 ids: filter instead of a global orderBy+limit
    dup = d.where(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    docs = (
        d.unionByName(dup)
        .select("doc_id", F.split("text", " ").alias("words"))
        # Rebalance BEFORE the shingle+md5 expansion (the _occ /
        # round9.py:207 pitfall): the fixture corpus arrives as 1-2
        # input splits, so the whole featurization would run on 1-2
        # cores; the shuffle moves only the slim pre-explosion rows.
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", word_shingles(F.col("words")).alias("shingles"))
    )

    # Kirsch-Mitzenmacher: one md5 per shingle yields two independent
    # 32-bit halves (hex digits 1-8 / 9-16); the 16 derived signatures
    # are h1 + i*h2 — never 16 full string hashes. Max value ≈ 2³² +
    # 15·2³² = 2³⁶, far inside ANSI long range. md5 instead of xxhash64
    # buys the cross-engine oracle at ~1.5× the hash cost.
    # materialize the md5 array ONCE, then derive both halves from it —
    # inlining the transform into two projections would hash every
    # shingle twice (CSE across sibling array lambdas is not guaranteed)
    md5d = docs.selectExpr(
        "doc_id", "transform(shingles, s -> md5(CAST(s AS BINARY))) AS md5s"
    )
    # Materialized ONCE (eager localCheckpoint): three plan branches
    # consume this stage (band signatures + both sides of the
    # verification join), and Spark does not share subplans across DAG
    # branches — without it the shingle+md5 pipeline would execute
    # three times. localCheckpoint, not persist: a cached frame pins
    # AQE off below the InMemoryRelation and re-planned scans of it
    # measured multi-second on the x_dedup_clusters loop (same
    # pathology, same fix), while the checkpointed form is compact
    # (doc_id, two long arrays — no text) and ContextCleaner-released.
    hashed = md5d.selectExpr(
        "doc_id",
        *[
            f"transform(md5s, m -> CAST(conv(substring(m, {start}, 8), 16, 10)"
            f" AS BIGINT)) AS {name}"
            for name, start in (("h1s", 1), ("h2s", 9))
        ],
    ).materialize(eager=True)
    return hashed.selectExpr(
        "doc_id",
        "h1s",
        *[
            f"array_min(zip_with(h1s, h2s, (a, b) -> a + {i} * b)) AS sig{i}"
            for i in range(N_MINHASH)
        ],
    )


def _minhash_parts(spark: SparkSession, sf_dir: str) -> dict:
    """MinHash-LSH building blocks over :func:`_minhash_signed`:
    ``pairs`` = every distinct 4×4-band LSH candidate pair
    (doc_a < doc_b), ``scored`` = those pairs with their exact
    hashed-shingle Jaccard (unfiltered), ``hsig`` = per-doc distinct
    32-bit shingle-hash sets, ``signed`` = the signature frame. Shared
    by x_dedup_near, x_dedup_near_survivors and the x_dedup_eval
    accuracy composite."""
    signed = _minhash_signed(spark, sf_dir)
    # band b's bucket key: its LSH_ROWS signatures joined with ':'
    bands = ", ".join(
        "concat_ws(':', "
        + ", ".join(
            f"CAST(sig{b * LSH_ROWS + r} AS STRING)" for r in range(LSH_ROWS)
        )
        + ")"
        for b in range(LSH_BANDS)
    )
    # Band join carries only (band, bucket, doc_id) — the shingle arrays
    # (the heavy payload) never enter this shuffle; they are joined back
    # onto the (few) surviving candidate pairs for exact verification.
    buckets = signed.selectExpr(
        "doc_id", f"posexplode(array({bands})) AS (band, bucket)"
    )
    # Bucket discipline (guide §2.3/§3): aggregate each (band, bucket)
    # to its member list ONCE and generate candidate pairs inside the
    # row — the old a ⋈ b self-join shuffled the exploded band frame
    # (with its ~40-char bucket keys) twice; the pair fan-out is the
    # same collision-bounded space either way.
    pairs = (
        buckets.groupBy("band", "bucket")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where("size(ids) >= 2")
        .selectExpr("explode(ids) AS doc_a", "ids")
        .selectExpr("doc_a", "explode(ids) AS doc_b")
        .where("doc_a < doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # Verification compares 32-bit hashed shingle SETS, not the strings:
    # the candidate join then carries ~8 bytes per shingle instead of a
    # ~20-char gram, and long-array intersection beats string-array
    # intersection. Jaccard over hash sets equals shingle Jaccard up to
    # collisions (~|shingles|/2³² — immaterial and deterministic).
    hsig = signed.selectExpr("doc_id", "array_distinct(h1s) AS hsig")
    s1 = hsig.selectExpr("doc_id AS doc_a", "hsig AS sh_a")
    s2 = hsig.selectExpr("doc_id AS doc_b", "hsig AS sh_b")
    scored = (
        pairs.join(s1, "doc_a")
        .join(s2, "doc_b")
        .selectExpr("doc_a", "doc_b", f"{JACCARD_SQL} AS jaccard")
    )
    return {"pairs": pairs, "scored": scored, "hsig": hsig, "signed": signed}


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs (doc_a < doc_b, jaccard ≥ 0.5) — the
    ≥ 0.5 filter over :func:`_minhash_parts`'s scored candidates."""
    return (
        _minhash_parts(spark, sf_dir)["scored"]
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


@register("x_dedup_near", oracle=_DEDUP_NEAR_ORACLE)
def x_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection via MinHash + LSH banding (pure Catalyst).

    Pipeline: word-3-gram shingles → 16 MinHash signatures (md5-derived
    Kirsch-Mitzenmacher combos minimized per doc — all JVM-side lambda
    expressions) → 4 bands of 4 rows; docs sharing any band bucket become
    candidate pairs → hashed-shingle-set Jaccard verifies candidates at
    ≥ 0.5 (32-bit hash sets, equal to string-shingle Jaccard up to
    ~|shingles|/2³² collisions).

    At 100 TB the band join is the only shuffle and its key space is the
    band buckets — the O(n²) pair space is never materialized. The md5
    hash family makes the whole pipeline DuckDB-expressible → full
    cross-engine hash oracle; tests/test_extensions.py additionally
    property-checks that injected exact duplicates always surface.
    """
    return _minhash_pairs(spark, sf_dir)


SIMHASH_BITS = 60  # 15 hex digits of md5 — stays positive in a signed long
SIMHASH_BAND_BITS = SIMHASH_BITS // 4


_SIMHASH_ORACLE = f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text
    FROM documents WHERE doc_id < 10
), words AS (
    SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS word
    FROM corpus
), hashed AS (
    SELECT doc_id, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS h
    FROM words
), votes AS (
    SELECT doc_id, j,
           SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM hashed, range({SIMHASH_BITS}) t(j)
    GROUP BY doc_id, j
), fp AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
), banded AS (
    SELECT doc_id, simhash, band,
           (simhash >> ({SIMHASH_BAND_BITS} * band))
               & {(1 << SIMHASH_BAND_BITS) - 1} AS bkey
    FROM fp, range(4) t(band)
), pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.simhash AS fp_a, b.simhash AS fp_b
    FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
    WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
FROM pairs WHERE bit_count(xor(fp_a, fp_b)) <= 3
"""


@register("x_dedup_simhash", oracle=_SIMHASH_ORACLE)
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup via 60-bit SimHash with 15-bit band blocking.

    Per-word md5-derived 60-bit hash → per-bit ±1 votes aggregated per
    doc (60 codegen'd conditional sums — no 60× row explosion) →
    fingerprint assembled as a BIGINT → candidates = pairs sharing any of
    four 15-bit bands (standard simhash blocking: hamming ≤ 3 guarantees
    a shared band) → keep pairs with hamming distance ≤ 3 via
    ``bit_count``. md5 (60 bits = 15 hex digits, always positive in a
    signed long) instead of xxhash64 makes the fingerprint reproducible
    in DuckDB → full cross-engine hash oracle.
    """
    d = load(spark, sf_dir, "documents")
    # contiguous-from-0 ids: filter instead of a global orderBy+limit
    dup = d.where(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    words = d.unionByName(dup).select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("word")
    )
    h = F.conv(
        F.substring(F.md5(F.col("word").cast("binary")), 1, 15), 16, 10
    ).cast("long")
    votes = words.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, j)
        fp = term if fp is None else fp.bitwiseXOR(term)  # disjoint bits: XOR=OR
    fingered = votes.select("doc_id", fp.alias("simhash"))

    band_arr = F.array(
        *[
            F.shiftright(F.col("simhash"), SIMHASH_BAND_BITS * k).bitwiseAND(
                F.lit((1 << SIMHASH_BAND_BITS) - 1)
            )
            for k in range(4)
        ]
    )
    banded = fingered.select(
        "doc_id", "simhash", F.posexplode(band_arr).alias("band", "key")
    )
    a = banded.select(
        "band", "key", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a")
    )
    b = banded.select(
        "band", "key", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b")
    )
    pairs = (
        a.join(b, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


_NGRAM_JACCARD_ORACLE = """
WITH sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(str_split(text, ' ')) >= 3 THEN
               list_transform(range(len(str_split(text, ' ')) - 2),
                   i -> str_split(text, ' ')[i + 1] || ' ' ||
                        str_split(text, ' ')[i + 2] || ' ' ||
                        str_split(text, ' ')[i + 3])
               ELSE [text] END) AS shingles
    FROM documents
), exploded AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM sh
), rare AS (
    SELECT shingle FROM exploded GROUP BY shingle HAVING COUNT(*) <= 10
), pairs AS (
    SELECT DISTINCT e1.doc_id AS doc_a, e2.doc_id AS doc_b
    FROM exploded e1
    JOIN rare USING (shingle)
    JOIN exploded e2 USING (shingle)
    WHERE e1.doc_id < e2.doc_id
)
SELECT doc_a, doc_b,
       ROUND(CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(s1.shingles, s2.shingles))), 6)
           AS jaccard
FROM pairs
JOIN sh s1 ON s1.doc_id = doc_a
JOIN sh s2 ON s2.doc_id = doc_b
WHERE CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE)
      / len(list_distinct(list_concat(s1.shingles, s2.shingles))) >= 0.3
"""


@register("x_ngram_jaccard", oracle=_NGRAM_JACCARD_ORACLE)
def x_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup with rare-shingle blocking (full oracle).

    Candidates = doc pairs sharing a *rare* shingle (inverted index with
    document frequency ≤ 10 — common shingles never generate pairs, which
    is what keeps the join sparse at scale); exact Jaccard ≥ 0.3 verifies.
    """
    d = load(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.split("text", " ").alias("words")).select(
        "doc_id", word_shingles(F.col("words")).alias("shingles")
    )
    exploded = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    rare = (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= 10)
        .select("shingle")
    )
    e1 = exploded.join(rare, "shingle").withColumnRenamed("doc_id", "doc_a")
    e2 = exploded.withColumnRenamed("doc_id", "doc_b")
    pairs = (
        e1.join(e2, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    s1 = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    s2 = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        pairs.join(s1, "doc_a")
        .join(s2, "doc_b")
        .where(jac >= 0.3)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


_EMBED_DEDUP_ORACLE = """
WITH corpus AS (
    SELECT * FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id, embedding, label
    FROM embeddings WHERE vec_id < 10
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
FROM corpus a JOIN corpus b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.9
"""


@register("x_embed_cosine_dedup", oracle=_EMBED_DEDUP_ORACLE)
def x_embed_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup with label blocking.

    Pairs are generated only within a blocking key (the coarse ``label``
    partition — at scale: an LSH/IVF bucket id), so the pair space is
    n²/buckets, not n². Cosine ≥ 0.9 after round-6 (ties engineered
    away). The fixture vectors are near-orthogonal random (max organic
    cosine ≈ 0.48), so a duplicated tail is unioned in — the operator
    must find exactly the planted near-dups.
    """
    base = load(spark, sf_dir, "embeddings")
    em = base.unionByName(
        base.where(F.col("vec_id") < 10)
        .withColumn("vec_id", F.col("vec_id") + 1_000_000)
        .select("vec_id", "embedding", "label")
    )
    a = em.select(
        F.col("label"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
    )
    b = em.select(
        F.col("label"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
    )
    sim = F.round(cosine(F.col("emb_a"), F.col("emb_b")), 6)
    return (
        a.join(b, "label")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", sim)
        .where(F.col("cos_sim") >= 0.9)
        .select("vec_a", "vec_b", "cos_sim")
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_SIM_KNN_ORACLE = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS query_emb
           FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label, sim
FROM (
    SELECT vec_id, label,
           ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                        query_emb), 6) AS sim,
           ROW_NUMBER() OVER (
               ORDER BY ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                                     query_emb), 6)
                        DESC, vec_id) AS rn
    FROM embeddings, q
    WHERE vec_id <> 0
)
WHERE rn <= 10
"""


@register("x_sim_knn", oracle=_SIM_KNN_ORACLE)
def x_sim_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the exact-recall baseline.

    The 1-row query vector is broadcast (never collected to a driver
    loop); scoring is a single scan + TakeOrdered — embarrassingly
    parallel, and the pattern that stays correct at any scale. The
    sub-linear path is x_sim_knn_ivf.
    """
    em = load(spark, sf_dir, "embeddings")
    q = em.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_emb")
    )
    scored = (
        em.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("query_emb")), 6).alias("sim"),
        )
    )
    # top-k via orderBy+limit → TakeOrderedAndProject: per-partition
    # heaps merged on the driver, NOT a global-order window (which would
    # funnel every scored row through one partition at scale)
    return scored.orderBy(F.col("sim").desc(), "vec_id").limit(10)


_SIM_KNN_IVF_ORACLE = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS query_emb
           FROM embeddings WHERE vec_id = 0),
dims AS (
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
    SELECT label FROM (
        SELECT label,
               ROUND(list_cosine_similarity(centroid, query_emb), 6) AS csim
        FROM cent, q
    ) ORDER BY csim DESC, label LIMIT 3
)
SELECT vec_id, label, sim FROM (
    SELECT e.vec_id, e.label,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        query_emb), 6) AS sim,
           ROW_NUMBER() OVER (
               ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                     query_emb), 6)
                        DESC, e.vec_id) AS rn
    FROM embeddings e JOIN probes USING (label) CROSS JOIN q
    WHERE e.vec_id <> 0
) WHERE rn <= 10
"""


@register("x_sim_knn_ivf", oracle=_SIM_KNN_IVF_ORACLE)
def x_sim_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantization → probe nearest partitions only.

    Coarse centroids = per-label mean vectors (posexplode + avg — at
    scale these come from k-means or any clustering; the plan shape is
    identical). The query probes the 3 nearest centroids and scans only
    those partitions — sub-linear scan cost, the 100 TB path. Full hash
    oracle: the centroid is rounded to FLOAT on both sides, which
    absorbs the engines' summation-order ulp differences before the
    round-6 cosine compare; tests/test_extensions.py additionally
    asserts recall ≥ 0.5 vs x_sim_knn (top-10 overlap), the standard
    ANN correctness criterion.
    """
    em = load(spark, sf_dir, "embeddings")
    q = em.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_emb")
    )

    # coarse centroids: mean per (label, dim); rebuilt as array per label
    dims = em.select("label", F.posexplode("embedding").alias("dim", "val"))
    cent = (
        dims.groupBy("label", "dim")
        .agg(F.avg("val").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("pairs"))
        .select(
            "label",
            F.transform("pairs", lambda p: p["c"].cast("float")).alias("centroid"),
        )
    )
    probes = (
        cent.crossJoin(F.broadcast(q))
        .select(
            "label",
            F.round(cosine(F.col("centroid"), F.col("query_emb")), 6).alias("csim"),
        )
        .orderBy(F.col("csim").desc(), F.col("label"))
        .limit(3)
        .select("label")
    )

    scored = (
        em.where(F.col("vec_id") != 0)
        .join(F.broadcast(probes), "label")  # partition pruning: 3 of 10 cells
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("query_emb")), 6).alias("sim"),
        )
    )
    # same TakeOrdered top-k as x_sim_knn (no global-order window)
    return scored.orderBy(F.col("sim").desc(), "vec_id").limit(10)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_TEXT_STATS_ORACLE = """
SELECT doc_id, lang,
       CAST(LENGTH(text) AS BIGINT) AS n_chars_computed,
       n_chars AS n_chars_fixture,
       CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words,
       ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
             / len(str_split(text, ' ')), 6) AS avg_word_len
FROM documents
"""


@register("x_text_stats", oracle=_TEXT_STATS_ORACLE)
def x_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics (chars/words/avg word length); the
    fixture's precomputed n_chars doubles as a built-in cross-check."""
    d = load(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    return d.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars_computed"),
        F.col("n_chars").alias("n_chars_fixture"),
        n_words.cast("long").alias("n_words"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / n_words,
            6,
        ).alias("avg_word_len"),
    )


_TOKENIZE_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
            AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(
            regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')))
            AS BIGINT) AS n_unique_tokens
FROM documents
"""


@register("x_tokenize", oracle=_TOKENIZE_ORACLE)
def x_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex (letters | digits | symbol) —
    the sizing primitive for training-data pipelines."""
    d = load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(
        F.col("text"), F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), 0
    )
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
    )


STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "nicht"],
    "es": ["el", "la", "de", "y", "que"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["de", "le", "shi", "bu", "wo"],
}


def _lang_scores(words: Column) -> dict[str, Column]:
    return {
        lang: F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in wl])))
        for lang, wl in STOPWORDS.items()
    }


_LANG_ID_ORACLE = """
WITH w AS (
    SELECT doc_id, lang AS lang_fixture,
           list_distinct(str_split(text, ' ')) AS words
    FROM documents
), scored AS (
    SELECT doc_id, lang_fixture,
           CAST(len(list_intersect(words, ['the','a','of','and','to'])) AS INT) AS s_en,
           CAST(len(list_intersect(words, ['der','die','das','und','nicht'])) AS INT) AS s_de,
           CAST(len(list_intersect(words, ['el','la','de','y','que'])) AS INT) AS s_es,
           CAST(len(list_intersect(words, ['le','la','et','les','des'])) AS INT) AS s_fr,
           CAST(len(list_intersect(words, ['de','le','shi','bu','wo'])) AS INT) AS s_zh
    FROM w
)
SELECT doc_id, lang_fixture,
       CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
            WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
            WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
            WHEN s_fr >= s_zh THEN 'fr'
            ELSE 'zh' END AS lang_pred
FROM scored
"""


@register("x_lang_id", oracle=_LANG_ID_ORACLE)
def x_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID (n-gram-heuristic family): score each
    language by stopword hits, argmax with a pinned tie order."""
    d = load(spark, sf_dir, "documents")
    words = F.array_distinct(F.split("text", " "))
    scored = d.select(
        "doc_id",
        F.col("lang").alias("lang_fixture"),
        *[c.alias(f"s_{lang}") for lang, c in _lang_scores(words).items()],
    )
    s = {lang: F.col(f"s_{lang}") for lang in STOPWORDS}
    pred = (
        F.when(
            (s["en"] >= s["de"])
            & (s["en"] >= s["es"])
            & (s["en"] >= s["fr"])
            & (s["en"] >= s["zh"]),
            "en",
        )
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]) & (s["de"] >= s["zh"]), "de")
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["zh"]), "es")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )
    return scored.select("doc_id", "lang_fixture", pred.alias("lang_pred"))


_QUALITY_ORACLE = """
WITH f AS (
    SELECT doc_id,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(len(list_intersect(list_distinct(str_split(text, ' ')),
                ['the','a','of','and','to'])) AS DOUBLE)
               / len(list_distinct(str_split(text, ' '))) AS stop_ratio,
           CAST(LENGTH(text) - LENGTH(REPLACE(text, '.', '')) AS DOUBLE)
               / LENGTH(text) AS punct_ratio
    FROM documents
)
SELECT doc_id, n_words, ROUND(stop_ratio, 6) AS stop_ratio,
       ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(LEAST(n_words / 200.0, 1.0) * 0.5 + stop_ratio * 0.5, 6) AS quality
FROM f
"""


@register("x_quality_score", oracle=_QUALITY_ORACLE)
def x_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length + stopword-density blend (punct
    ratio included as a feature) — the pretraining-filter primitive."""
    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    uniq = F.array_distinct(words)
    n_words = F.size(words).cast("long")
    stop_ratio = _lang_scores(uniq)["en"].cast("double") / F.size(uniq)
    punct_ratio = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("."), F.lit("")))
    ).cast("double") / F.length("text")
    quality = F.round(
        F.least(n_words / 200.0, F.lit(1.0)) * 0.5 + stop_ratio * 0.5, 6
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        quality.alias("quality"),
    )


_FINGERPRINT_ORACLE = """
SELECT doc_id,
       md5(LOWER(TRIM(text))) AS content_md5,
       md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' '))
           AS bow_fingerprint
FROM documents
"""


@register("x_fingerprint", oracle=_FINGERPRINT_ORACLE)
def x_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: content digest + order-insensitive
    bag-of-words digest (word-order-insensitive duplicate detection)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("content_md5"),
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(F.split("text", " "))), " ")
        ).alias("bow_fingerprint"),
    )


# ---------------------------------------------------------------------------
# routing / joins over the document corpus
# ---------------------------------------------------------------------------

_LANG_ROUTE_ORACLE = """
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) / COUNT(n_chars)
           AS avg_chars
FROM documents
GROUP BY lang, source
"""


@register("x_lang_route", oracle=_LANG_ROUTE_ORACLE)
def x_lang_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) partitioned processing: the routing aggregate a
    multimodal/multilingual pipeline fans out on (each group is an
    independently writable partition — see sinks.write_partitioned)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (
            F.sum(F.col("n_chars").cast("decimal(18,4)")).cast("double")
            / F.count("n_chars")
        ).alias("avg_chars"),
    )


_DOC_JOIN_ORACLE = """
SELECT lang, label,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents JOIN embeddings ON doc_id = vec_id
GROUP BY lang, label
"""


@register("x_doc_join", oracle=_DOC_JOIN_ORACLE)
def x_doc_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents ⋈ embeddings (doc_id = vec_id) with per-(lang, label)
    rollup — the text↔vector co-access pattern."""
    d = load(spark, sf_dir, "documents")
    em = load(spark, sf_dir, "embeddings")
    return (
        d.join(em, d.doc_id == em.vec_id)
        .groupBy("lang", "label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_VALIDATE_ORACLE = """
SELECT 'doc_n_chars_mismatch' AS rule,
       CAST(SUM(CASE WHEN n_chars <> LENGTH(text) THEN 1 ELSE 0 END) AS BIGINT)
           AS violations,
       COUNT(*) AS total
FROM documents
UNION ALL
SELECT 'doc_bad_lang',
       CAST(SUM(CASE WHEN lang NOT IN ('de','en','es','fr','zh')
                THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(*)
FROM documents
UNION ALL
SELECT 'event_negative_value',
       CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(*)
FROM events
UNION ALL
SELECT 'event_dup_id',
       CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT),
       COUNT(*)
FROM events
"""


@register("x_validate", oracle=_VALIDATE_ORACLE)
def x_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch data-quality gate (validate.check): declared invariants
    evaluated one-scan-per-table, a row per rule — what a training-data
    pipeline runs before promoting an ingested batch."""
    from ..validate import check

    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "events")
    doc_rules = check(
        d,
        {
            "doc_n_chars_mismatch": "n_chars <> length(text)",
            "doc_bad_lang": "lang NOT IN ('de','en','es','fr','zh')",
        },
    )
    ev_rules = check(e, {"event_negative_value": "value < 0"})
    dup = (
        e.agg(
            (F.count(F.lit(1)) - F.countDistinct("event_id"))
            .cast("long")
            .alias("violations"),
            F.count(F.lit(1)).alias("total"),
        )
        .select(F.lit("event_dup_id").alias("rule"), "violations", "total")
    )
    return doc_rules.unionByName(ev_rules).unionByName(dup)


_NEAR_SURVIVORS_ORACLE = f"""
WITH corpus AS (
    SELECT doc_id, lang, source, n_chars, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, lang, source, n_chars, text
    FROM documents WHERE doc_id < 10
), {_NEAR_CTES}, dropped AS (
    SELECT DISTINCT doc_b AS doc_id FROM verified WHERE jaccard >= 0.5
)
SELECT c.doc_id, c.lang, c.source, c.n_chars
FROM corpus c LEFT JOIN dropped d ON c.doc_id = d.doc_id
WHERE d.doc_id IS NULL
"""


@register("x_dedup_near_survivors", oracle=_NEAR_SURVIVORS_ORACLE)
def x_dedup_near_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup, survivor form: keep one document per near-dup
    cluster (SURVEY.md §2.J "keep one per cluster").

    Policy: a doc is dropped iff it has a verified near-dup with a
    smaller doc_id — the standard one-pass LSH dedup rule (min-id
    survivor per pairwise-connected neighborhood; full transitive
    closure would need iterative connected components, which a corpus
    dedup job runs as a handful of converging join rounds — unnecessary
    here where clusters are pairs). Anti-join keeps only doc ids flowing
    through the shuffle. Full hash oracle via the shared md5 MinHash
    CTE chain; the planted-duplicate property test pins the semantics.
    """
    d = load(spark, sf_dir, "documents")
    # contiguous-from-0 ids: filter instead of a global orderBy+limit
    dup = d.where(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    incoming = d.unionByName(dup)
    pairs = x_dedup_near(spark, sf_dir)  # verified (doc_a < doc_b) pairs
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        incoming.join(dropped, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


_DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text
    FROM documents WHERE doc_id < 10
), {_NEAR_CTES}, edges AS (
    SELECT doc_a AS a, doc_b AS b FROM verified WHERE jaccard >= 0.5
), undirected AS (
    SELECT a, b FROM edges UNION SELECT b, a FROM edges
), nodes AS (
    SELECT DISTINCT a AS id FROM undirected
), reach(id, r) AS (
    SELECT id, id FROM nodes
    UNION
    SELECT reach.id, u.b FROM reach JOIN undirected u ON u.a = reach.r
)
SELECT id AS doc_id, MIN(r) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_size
FROM reach GROUP BY id
"""


@register("x_dedup_clusters", oracle=_DEDUP_CLUSTERS_ORACLE)
def x_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    verified MinHash pair graph via iterative min-label propagation.

    x_dedup_near_survivors applies the one-pass rule (drop any doc with
    a smaller-id near-dup); this is the full closure — if A~B and B~C,
    all three share a cluster even when A~C was never a candidate pair.
    Each doc in any pair gets (cluster_id = min doc_id in its component,
    cluster_size = docs reachable incl. itself).

    Execution: the driver loop joins each vertex's label with its
    neighbors' and keeps the min, until a fixpoint (checked with a
    per-round count — the standard iterative-algorithm shape on Spark;
    rounds = graph diameter). Per round there is ONE shuffle keyed by
    vertex id carrying only (id, label) longs; the heavy text/shingle
    payloads never enter the loop. Dedup graphs are overwhelmingly tiny
    stars/pairs (diameter ≤ ~3), so 2-4 rounds converge; at
    trillion-edge scale the same loop upgrades to alternating
    large-star/small-star (O(log n) rounds) without changing the
    per-round plan shape. Oracle: DuckDB recursive CTE computing min
    reachable id per node — feasible because the sf0.01 pair graph is
    small; the Spark loop is the form that scales.
    """
    # Eager RDD checkpoints, not persist(): an iterative loop over
    # CACHED frames is pathological here — caching pins the plan with
    # AQE disabled below the InMemoryRelation
    # (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning), and
    # every round's action re-planned/re-ran multi-second work on
    # metadata-grain frames (measured at sf0.1: 4.2–6.8 s PER ROUND and
    # 3.0 s for a bare re-aggregate of the cached labels; the same loop
    # over localCheckpoints runs 0.4–0.7 s per round with a 0.6 s
    # census). The checkpoint also truncates lineage, so round r never
    # re-executes rounds < r — same discipline as x_power_iteration.
    pairs = _minhash_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    und = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).materialize(eager=True)
    labels = (
        und.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .materialize(eager=True)
    )
    # Convergence check: min-propagation is monotone non-increasing, so
    # the label SUM strictly decreases until the fixpoint — comparing
    # consecutive sums detects convergence with one tiny aggregate per
    # round instead of a changed-rows join.
    prev_sum = None
    for _ in range(20):  # bound >> any real dedup-graph diameter
        nbr_labels = und.join(
            labels.select(F.col("id").alias("a"), "label"), "a"
        ).select(F.col("b").alias("id"), "label")
        new_labels = (
            labels.unionByName(nbr_labels)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .materialize(eager=True)
        )
        cur_sum = new_labels.agg(F.sum("label")).first()[0]
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    # cluster_size via one hash agg on (label), broadcast back
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return labels.join(F.broadcast(sizes), "label").select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


_CDC_ORACLE = """
WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_words,
       CAST(len(list_filter(range(GREATEST(len(ws) - 2, 0)),
                i -> substr(md5(list_extract(ws, CAST(i + 1 AS BIGINT)) || ' ' ||
                                list_extract(ws, CAST(i + 2 AS BIGINT)) || ' ' ||
                                list_extract(ws, CAST(i + 3 AS BIGINT))), 1, 2)
                     < '10')) + 1 AS BIGINT) AS n_cdc_chunks
FROM w
"""


@register("x_cdc_chunks", oracle=_CDC_ORACLE)
def x_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking via a rolling hash (the Rabin-Karp
    pattern): a chunk boundary falls wherever the hash of the 3-word
    window at a position lands under a threshold (md5 prefix < '10' →
    P(boundary) = 16/256, mean chunk ≈ 16 words).

    The CDC property that matters for dedup at scale: boundaries depend
    only on LOCAL content, so an insertion early in a document shifts
    chunk boundaries only until the next boundary — unlike fixed-stride
    chunking (x_chunk_docs) where every downstream chunk changes.
    Per-row lambda expressions, zero shuffle; md5 keeps the boundary
    choice reproducible across engines (full hash oracle).
    """
    d = load(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n_pos = F.greatest(F.size(ws) - 2, F.lit(0))
    # guard: two-arg sequence counts DOWN when start > stop
    idx = F.when(n_pos > 0, F.sequence(F.lit(0), n_pos - 1)).otherwise(
        F.array().cast("array<int>")
    )
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ",
        F.element_at(ws, (i + 1).cast("int")),
        F.element_at(ws, (i + 2).cast("int")),
        F.element_at(ws, (i + 3).cast("int")),
    )
    boundaries = F.filter(
        idx, lambda i: F.substring(F.md5(gram(i).cast("binary")), 1, 2) < "10"
    )
    return d.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        (F.size(boundaries) + 1).cast("long").alias("n_cdc_chunks"),
    )


LSH_PLANES = 16  # random-hyperplane bits per signature
LSH_SIGN_BANDS = 4  # 4 bands x 4 bits: candidates share any band


def _hyperplanes() -> list[list[float]]:
    """Deterministic random hyperplanes (seed 42), 16 x 64."""
    import numpy as np

    rng = np.random.RandomState(42)
    return rng.randn(LSH_PLANES, 64).tolist()


def _planes_sql() -> str:
    """The 16×64 literal hyperplanes as a DuckDB DOUBLE[][] literal.

    The CAST is load-bearing: DuckDB types bare decimal literals as
    DECIMAL, and decimal arithmetic would diverge from Spark's IEEE
    doubles — casting the whole array keeps every product/sum in
    binary64 on both engines. ``repr(float)`` round-trips exactly, so
    both engines see bit-identical plane values.
    """
    rows = ", ".join(
        "[" + ", ".join(repr(x) for x in row) + "]" for row in _hyperplanes()
    )
    return f"CAST([{rows}] AS DOUBLE[][])"


# Mirrors the Spark builder exactly: per-plane dot product as a left fold
# seeded with 0.0 (list_reduce(list_prepend(0.0, products)) == Spark's
# F.aggregate(..., lit(0.0), acc + v), same addition order → identical
# sign decisions), 4-bit band keys, candidates = any shared (band, key)
# with the query vector, exact round-6 cosine on candidates only.
_SIM_KNN_LSH_ORACLE = f"""
WITH sigs AS (
    SELECT vec_id, label, embedding,
           list_transform({_planes_sql()}, h ->
               CASE WHEN list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(CAST(embedding AS DOUBLE[]),
                           (x, i) -> x * h[i])),
                   (a, b) -> a + b) >= 0 THEN 1 ELSE 0 END) AS bits
    FROM embeddings
), keys AS (
    SELECT vec_id, label, embedding,
           list_transform(range(4), b ->
               bits[4 * b + 1] * 8 + bits[4 * b + 2] * 4 +
               bits[4 * b + 3] * 2 + bits[4 * b + 4]) AS ks
    FROM sigs
), buckets AS (
    SELECT vec_id, label, embedding, band, ks[band + 1] AS bkey
    FROM keys, range(4) t(band)
), qb AS (
    SELECT band, bkey FROM buckets WHERE vec_id = 0
), q AS (
    SELECT CAST(embedding AS DOUBLE[]) AS query_emb
    FROM embeddings WHERE vec_id = 0
), cand AS (
    SELECT DISTINCT b.vec_id, b.label, b.embedding
    FROM buckets b JOIN qb USING (band, bkey)
    WHERE b.vec_id <> 0
)
SELECT vec_id, label, sim FROM (
    SELECT vec_id, label,
           ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                        query_emb), 6) AS sim,
           ROW_NUMBER() OVER (
               ORDER BY ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                                     query_emb), 6)
                        DESC, vec_id) AS rn
    FROM cand CROSS JOIN q
) WHERE rn <= 10
"""


@register("x_sim_knn_lsh", oracle=_SIM_KNN_LSH_ORACLE)
def x_sim_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (random hyperplanes): the other scale path next
    to x_sim_knn_ivf.

    16 signed projections (sign(v·h_k)) give a 16-bit signature; 4 bands
    of 4 bits — vectors sharing ANY band bucket with the query are
    candidates (sign-LSH: P[bit match] = 1 - angle/pi, banding amplifies
    it). Only candidates get the exact cosine; the band join's key space
    is (band, 4-bit bucket), so ~1/16 of each band's vectors co-locate
    per bucket and the scan is sub-linear. Everything is Catalyst lambda
    expressions over literal hyperplane arrays (broadcast with the
    plan); full hash oracle (the hyperplanes inline into the SQL as
    DOUBLE literals with the identical fold order) + recall test vs
    brute force.
    """
    em = load(spark, sf_dir, "embeddings")
    planes = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in row])
            for row in _hyperplanes()
        ]
    )

    def signature_bits(emb: Column) -> Column:
        # bit_k = 1 iff emb . plane_k >= 0
        return F.transform(
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

    bits_per_band = LSH_PLANES // LSH_SIGN_BANDS

    def band_keys(bits: Column) -> Column:
        # band b's key = its 4 bits packed into an int
        return F.array(
            *[
                F.aggregate(
                    F.slice(bits, b * bits_per_band + 1, bits_per_band),
                    F.lit(0),
                    lambda acc, bit: acc * 2 + bit,
                )
                for b in range(LSH_SIGN_BANDS)
            ]
        )

    sigs = em.select(
        "vec_id", "label", "embedding", band_keys(signature_bits(F.col("embedding"))).alias("keys")
    )
    buckets = sigs.select(
        "vec_id", "label", "embedding", F.posexplode("keys").alias("band", "key")
    )
    q = buckets.where(F.col("vec_id") == 0).select(
        "band", "key", F.col("embedding").alias("query_emb")
    )
    # candidates: any shared (band, key) with the query — then dedup and
    # score exactly; the heavy embedding column rides only candidate rows
    cand = (
        buckets.where(F.col("vec_id") != 0)
        .join(F.broadcast(q.select("band", "key")), ["band", "key"])
        .select("vec_id", "label", "embedding")
        .dropDuplicates(["vec_id"])
    )
    qv = q.select("query_emb").limit(1)
    scored = cand.crossJoin(F.broadcast(qv)).select(
        "vec_id",
        "label",
        F.round(cosine(F.col("embedding"), F.col("query_emb")), 6).alias("sim"),
    )
    return scored.orderBy(F.col("sim").desc(), "vec_id").limit(10)


_TFIDF_ORACLE = """
WITH terms AS (
    SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
), tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM terms GROUP BY doc_id, term
), dfreq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), n AS (
    SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
    SELECT doc_id, term,
           tf * (LN((CAST(n_docs AS DOUBLE) + 1) / (df + 1)) + 1) AS s
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, CAST(rn AS BIGINT) AS term_rank, ROUND(s, 6) AS score
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY s DESC, term) AS rn
    FROM scored
)
WHERE rn <= 3
"""


@register("x_tfidf", oracle=_TFIDF_ORACLE)
def x_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 terms per document by smoothed
    tf-idf (sklearn form: tf · (ln((N+1)/(df+1)) + 1)) — the classic
    corpus-level text-analysis op (keyword tagging, relevance features)
    the LLM-pipeline surface was missing.

    Scale shape: term explode → (doc, term) hash aggregate for tf →
    term-keyed aggregate for document frequency → term-keyed join back
    (both sides are (term, counts) — text never re-shuffles) → doc-keyed
    top-3, which compiles to WindowGroupLimit (per-partition top-k
    pruning before the doc shuffle, no full per-doc sort
    materialization). The corpus size joins in as a broadcast 1-row
    aggregate, keeping the builder fully declarative (no driver-side
    count collected). ln determinism cross-engine is proven by the
    q_fn_math round-8 precedent; scores compare at round 6.
    """
    d = load(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf") * (
        F.log((F.col("n_docs").cast("double") + 1) / (F.col("df") + 1)) + 1
    )
    scored = tf.join(dfreq, "term").crossJoin(F.broadcast(n)).select(
        "doc_id", "term", score.alias("s")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("s").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "doc_id",
            "term",
            F.col("rn").cast("long").alias("term_rank"),
            F.round("s", 6).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# x_countmin — Count-Min sketch heavy-hitter estimation
# ---------------------------------------------------------------------------

_CM_D = 4       # hash rows
_CM_W = 1024    # counters per row

_COUNTMIN_ORACLE = f"""
WITH g AS (SELECT unnest([0, 1, 2, 3]) AS i),
hashed AS (
    SELECT g.i,
           CAST('0x' || substr(md5(CAST(g.i AS VARCHAR) || ':' ||
                    CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % {_CM_W}
               AS bucket
    FROM events, g
),
counters AS (
    SELECT i, bucket, CAST(COUNT(*) AS BIGINT) AS n
    FROM hashed GROUP BY i, bucket
),
keyed AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_n
    FROM events GROUP BY user_id
),
cand AS (
    SELECT user_id, true_n FROM keyed
    ORDER BY true_n DESC, user_id LIMIT 10
),
probes AS (
    SELECT c.user_id, c.true_n, g.i,
           CAST('0x' || substr(md5(CAST(g.i AS VARCHAR) || ':' ||
                    CAST(c.user_id AS VARCHAR)), 1, 15) AS BIGINT) % {_CM_W}
               AS bucket
    FROM cand c, g
)
SELECT p.user_id, p.true_n, CAST(MIN(co.n) AS BIGINT) AS est_n
FROM probes p JOIN counters co ON p.i = co.i AND p.bucket = co.bucket
GROUP BY p.user_id, p.true_n
"""


@register("x_countmin", oracle=_COUNTMIN_ORACLE)
def x_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch ({d}×{w}) frequency estimation for the top-10
    heaviest users, reported against their true counts.

    The sketch is the relational form of the streaming structure: each
    event lands in one bucket per hash row, so the counter table is a
    hash aggregate whose OUTPUT is fixed at d×w = {dxw} cells no matter
    the input size — map-side partials do almost all the work and the
    shuffle moves ≤ d×w rows per partition. That bounded-state property
    is what makes CM the right frequency structure at 100 TB (exact
    per-key counts shuffle |keys| rows; the sketch shuffles a constant).
    Estimates are min over the key's d counters: always ≥ the true
    count (collisions only inflate), within εN w.h.p. — asserted in
    tests. Hashes are md5-derived 60-bit ints mod w (the engine's
    cross-engine hash convention), so DuckDB reproduces the sketch
    cell-for-cell.
    """
    e = load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("uid")
    )
    i = F.explode(F.array(*[F.lit(k) for k in range(_CM_D)])).alias("i")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.col("i").cast("string"), F.col("uid")).cast(
                        "binary"
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % _CM_W
    ).alias("bucket")
    counters = (
        e.select("uid", i)
        .select("uid", "i", bucket)
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    keyed = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("true_n"))
    )
    cand = keyed.orderBy(F.desc("true_n"), "user_id").limit(10)
    probes = cand.select(
        "user_id", "true_n", F.col("user_id").cast("string").alias("uid")
    ).select("user_id", "true_n", i).select(
        "user_id", "true_n", "i",
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
    return (
        F.broadcast(probes)
        .join(counters, ["i", "bucket"])
        .groupBy("user_id", "true_n")
        .agg(F.min("n").cast("long").alias("est_n"))
    )


x_countmin.__doc__ = x_countmin.__doc__.format(
    d=_CM_D, w=_CM_W, dxw=_CM_D * _CM_W
)


_EDITDIST_ORACLE = """
WITH corpus AS (
    SELECT doc_id, text, lang, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           text || ' x' AS text, lang, n_chars + 2 AS n_chars
    FROM documents WHERE doc_id < 10
    UNION ALL
    SELECT CAST(-2 AS BIGINT), repeat('a', 25), 'xx', CAST(25 AS BIGINT)
    UNION ALL
    SELECT CAST(-1 AS BIGINT), repeat('a', 24), 'xx', CAST(24 AS BIGINT)
), blocked AS (
    SELECT doc_id, text, lang,
           CAST(FLOOR(n_chars / 25) AS BIGINT) AS bucket
    FROM corpus
), expanded AS (
    SELECT doc_id, text, lang, bucket FROM blocked
    UNION ALL
    SELECT doc_id, text, lang, bucket + 1 AS bucket FROM blocked
    UNION ALL
    SELECT doc_id, text, lang, bucket - 1 AS bucket FROM blocked
), cand AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.text AS text_a, b.text AS text_b
    FROM expanded a
    JOIN blocked b ON a.lang = b.lang AND a.bucket = b.bucket
    WHERE a.doc_id < b.doc_id
)
SELECT DISTINCT doc_a, doc_b,
       CAST(levenshtein(text_a, text_b) AS BIGINT) AS dist
FROM cand
WHERE levenshtein(text_a, text_b) <= 5
"""


@register("x_dedup_editdist", oracle=_EDITDIST_ORACLE)
def x_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection with length-bucket blocking.

    Third near-dup family beside set-similarity (MinHash/Jaccard) and
    vector-similarity (SimHash/cosine): absolute Levenshtein ≤ 5 catches
    small in-place edits — typo fixes, byte-level corruption, trailing
    additions — that shingle sets can miss and that embedding distance
    can't certify.

    Blocking: edit distance ≤ k implies |len(a) − len(b)| ≤ k, so docs
    pair only within the same (lang, ⌊n_chars/25⌋) bucket, with the
    a-side expanded SYMMETRICALLY to both neighbor buckets (bucket±1).
    The symmetry matters because the join keeps only a.doc_id < b.doc_id
    pairs: an upward-only expansion drops any true pair whose lower-id
    doc is the LONGER text (its bucket = partner's + 1 — the a-row would
    need to reach DOWN a bucket to meet its b-row). Bucket width 25 >
    k=5 ⇒ a true pair spans at most adjacent buckets, so ±1 expansion
    makes the blocking exact, not approximate. The O(len²) levenshtein
    kernel (JVM codegen) runs only on blocked candidates, never on the
    O(n²) pair space. Planted fixtures: the ``text||' x'`` tails (higher
    id is longer) and a boundary-straddling (-2: 25×'a', -1: 24×'a')
    pair where the LOWER id is longer — the case upward-only expansion
    loses. DISTINCT collapses pairs found in two buckets. At 100 TB the
    bucket join is the only shuffle and carries (id, text) for
    same-bucket rows; the 3× a-side expansion scales the shuffle by a
    constant, not the pair space.
    """
    d = load(spark, sf_dir, "documents")
    dup = d.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" x")).alias("text"),
        "lang",
        (F.col("n_chars") + 2).alias("n_chars"),
    )
    straddle = spark.createDataFrame(
        [(-2, "a" * 25, "xx", 25), (-1, "a" * 24, "xx", 24)],
        "doc_id bigint, text string, lang string, n_chars bigint",
    )
    corpus = (
        d.select("doc_id", "text", "lang", "n_chars")
        .unionByName(dup)
        .unionByName(straddle)
    )
    blocked = corpus.select(
        "doc_id", "text", "lang",
        F.floor(F.col("n_chars") / 25).alias("bucket"),
    )
    expanded = blocked.unionByName(
        blocked.withColumn("bucket", F.col("bucket") + 1)
    ).unionByName(blocked.withColumn("bucket", F.col("bucket") - 1))
    a = expanded.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"),
        "lang", "bucket",
    )
    b = blocked.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"),
        "lang", "bucket",
    )
    dist = F.levenshtein("text_a", "text_b")
    return (
        a.join(b, ["lang", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(dist <= 5)
        .select("doc_a", "doc_b", dist.cast("bigint").alias("dist"))
        .distinct()
    )


_EMBED_CENTROIDS_ORACLE = """
SELECT label,
       CAST(dim AS INT) AS dim,
       CAST(ROUND(SUM(CAST(ROUND(CAST(v AS DOUBLE) * 10000000) AS BIGINT))
                  / 10000000.0 / COUNT(*), 6) AS DOUBLE) AS centroid_val
FROM (
    SELECT label, unnest(embedding) AS v,
           generate_subscripts(embedding, 1) - 1 AS dim
    FROM embeddings
)
GROUP BY label, dim
"""


@register("x_embed_centroids", oracle=_EMBED_CENTROIDS_ORACLE)
def x_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (vector aggregation; one k-means
    assignment step's 'update' half, and the build stage of x_sim_knn_ivf
    exposed as a first-class operator).

    posexplode → (label, dim) hash aggregate: the shuffle carries scalar
    (label, dim, partial-sum) triples with map-side combine — never whole
    vectors — and parallelism is label×dim (640 cells here), not label
    count, so a 100-label/4096-dim corpus still spreads over the cluster.
    Components sum as 1e7-scaled integers (the registry fsum pattern;
    float→double widening is exact and both engines round half-away) —
    order-independent exact sums → deterministic cross-engine centroids.

    The array-valued centroid form (``array_agg`` reassembly) is the
    library variant; the registered query emits (label, dim, value) rows
    because the driver's canonicalizer cannot hash array cells
    (CORRECTNESS_r01's q_collect_sorted lesson).
    """
    e = load(spark, sf_dir, "embeddings")
    scaled = F.round(F.col("v").cast("double") * 10_000_000).cast("bigint")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.round(
                F.sum(scaled) / 10_000_000.0 / F.count(F.lit(1)), 6
            ).alias("centroid_val")
        )
        .select("label", F.col("dim").cast("int").alias("dim"), "centroid_val")
    )


@register("x_dedup_cc_star", oracle=_DEDUP_CLUSTERS_ORACLE)
def x_dedup_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters via alternating large-star/small-star
    (graph.py) — the O(log n)-round connected components that
    x_dedup_clusters' docstring names as the trillion-edge upgrade path,
    now implemented rather than promised.

    Same verified MinHash pair graph, same output contract (doc_id,
    cluster_id = component min, cluster_size), same recursive-CTE oracle
    — the two operators must agree exactly, and
    tests/test_round3_ops.py asserts they do plus that a planted
    64-node chain (diameter 64) converges in far fewer than 64 rounds,
    which is precisely what plain min-propagation cannot do.
    """
    from ..graph import connected_components_star

    pairs = _minhash_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    labels, _rounds = connected_components_star(edges)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return labels.join(F.broadcast(sizes), "label").select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


_PROFILE_ORACLE = """
WITH s AS (
    SELECT
        COUNT(*) AS n_rows,
        COUNT(text) AS text_non_null,
        COUNT(DISTINCT lang) AS lang_distinct,
        COUNT(DISTINCT source) AS source_distinct,
        MIN(n_chars) AS n_chars_min,
        MAX(n_chars) AS n_chars_max,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum,
        CAST(SUM(len(text)) AS BIGINT) AS text_len_sum,
        MIN(lang) AS lang_min,
        MAX(lang) AS lang_max
    FROM documents
)
SELECT col, stat, val FROM (
    SELECT 'text' AS col, 'non_null' AS stat,
           CAST(text_non_null AS VARCHAR) AS val FROM s
    UNION ALL
    SELECT 'text', 'len_sum', CAST(text_len_sum AS VARCHAR) FROM s
    UNION ALL
    SELECT 'lang', 'distinct', CAST(lang_distinct AS VARCHAR) FROM s
    UNION ALL
    SELECT 'lang', 'min', lang_min FROM s
    UNION ALL
    SELECT 'lang', 'max', lang_max FROM s
    UNION ALL
    SELECT 'source', 'distinct', CAST(source_distinct AS VARCHAR) FROM s
    UNION ALL
    SELECT 'n_chars', 'min', CAST(n_chars_min AS VARCHAR) FROM s
    UNION ALL
    SELECT 'n_chars', 'max', CAST(n_chars_max AS VARCHAR) FROM s
    UNION ALL
    SELECT 'n_chars', 'sum', CAST(n_chars_sum AS VARCHAR) FROM s
    UNION ALL
    SELECT '*', 'n_rows', CAST(n_rows AS VARCHAR) FROM s
)
"""


@register("x_profile", oracle=_PROFILE_ORACLE)
def x_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the documents table in ONE scan: null counts,
    distincts, min/max, length sums — the data-quality companion to
    x_validate (which gates; this one describes).

    All statistics compute in a single hash-aggregate pass (every stat
    is algebraic or distinct-over-tiny-domain), then unpivot to the
    (col, stat, val) long form a profile store expects. One scan + one
    1-row aggregate, however many statistics — adding a column adds an
    expression, not a pass. Stats are stringified so the long form is
    one column; numeric consumers cast back.
    """
    d = load(spark, sf_dir, "documents")
    s = d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("text").alias("text_non_null"),
        F.countDistinct("lang").alias("lang_distinct"),
        F.countDistinct("source").alias("source_distinct"),
        F.min("n_chars").alias("n_chars_min"),
        F.max("n_chars").alias("n_chars_max"),
        F.sum("n_chars").cast("bigint").alias("n_chars_sum"),
        F.sum(F.length("text")).cast("bigint").alias("text_len_sum"),
        F.min("lang").alias("lang_min"),
        F.max("lang").alias("lang_max"),
    )
    rows = [
        ("text", "non_null", F.col("text_non_null")),
        ("text", "len_sum", F.col("text_len_sum")),
        ("lang", "distinct", F.col("lang_distinct")),
        ("lang", "min", F.col("lang_min")),
        ("lang", "max", F.col("lang_max")),
        ("source", "distinct", F.col("source_distinct")),
        ("n_chars", "min", F.col("n_chars_min")),
        ("n_chars", "max", F.col("n_chars_max")),
        ("n_chars", "sum", F.col("n_chars_sum")),
        ("*", "n_rows", F.col("n_rows")),
    ]
    triples = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.lit(st).alias("stat"),
                v.cast("string").alias("val"),
            )
            for c, st, v in rows
        ]
    )
    return (
        s.select(F.explode(triples).alias("t"))
        .select("t.col", "t.stat", "t.val")
    )
