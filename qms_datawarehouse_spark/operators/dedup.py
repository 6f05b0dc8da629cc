"""Deduplication operators for training-data pipelines.

Five dedup families over the ``documents`` corpus, each expressed
Spark-first and (where SQL-expressible) oracle-checked against DuckDB:

- **exact**: content-hash groupBy — one shuffle on the hash;
- **n-gram Jaccard**: 3-word shingles → shared-shingle candidate pairs
  → exact Jaccard verify. The self-join is on the shingle key, so
  cost is Σ(docs-per-shingle²), not corpus²;
- **MinHash + LSH**: per-doc minhash signatures (one md5 per shingle
  sliced into eight 16-bit hash slots, minimized in a single fold),
  banded; only band-collisions become candidates — the 100 TB path,
  because candidate generation is a bucket join, not a cross join.
  md5-based signatures keep the oracle cross-engine deterministic;
- **SimHash**: 32-bit sign-aggregated token hashes; pigeonhole band
  blocking (4×8 bits) guarantees recall for hamming ≤ 3;
- **embedding cosine**: exact pairwise over a block (the brute-force
  baseline; LSH-bucketed variant lives in similarity.py).

Scale notes: every family's candidate generation is key-partitioned
(hash, shingle, band, bucket). Nothing collects to the driver; the
only quadratic step (embedding pairs) is explicitly the small-block
baseline with the LSH alternative registered alongside.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_MINHASH = 8  # signature length
N_BANDS = 4  # bands of 2 rows each
JACCARD_THRESHOLD = 0.5

_SHINGLE_CTE = """
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(string_split(lower(text), ' ')) - 1, 1)),
                   i -> array_to_string(
                       list_slice(string_split(lower(text), ' '), i, i + 2), ' ')
               )) AS shingles
        FROM documents
    ),
    sx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh)
"""

# The registry import triggers the plans package init, which imports
# EVERY operator module — including multimodal, whose query-decorator
# oracle SQL reads JACCARD_THRESHOLD and _SHINGLE_CTE back off this
# module. Both constants are therefore defined ABOVE this import, so
# a process whose first-ever import is operators.dedup (a focused
# test selecting one gate test, a REPL) finds them on the partially
# initialized module instead of dying in the cycle.
from qms_datawarehouse_spark.plans.registry import REGISTRY, query, tables
from qms_datawarehouse_spark.planaudit import checkpoint_result
from qms_datawarehouse_spark.session import spread


def _shingled(documents: DataFrame) -> DataFrame:
    """doc_id + distinct 3-word shingles (lowercased).

    Shingles come from the ML ``NGram`` transformer (compiled Scala
    sliding window, space-joined — byte-identical to
    ``concat_ws(' ', slice(w, i, 3))``, and <3-word docs yield an
    empty array like the old CASE guard). The previous
    ``transform(sequence(...), i -> ...)`` formulation looked
    idiomatic but Catalyst evaluates higher-order-function lambdas in
    interpreted mode (no codegen): measured 4.0 s → 0.35 s (11×) for
    the shingle+explode pass over sf0.1 documents on local[32].
    """
    from pyspark.ml.feature import NGram

    documents = spread(documents)
    base = documents.select(
        "doc_id", F.split(F.lower(F.col("text")), " ", -1).alias("w")
    )
    out = NGram(n=3, inputCol="w", outputCol="_sh").transform(base)
    return out.select("doc_id", F.array_distinct("_sh").alias("shingles"))


# --------------------------------------------------------------------
# Exact dedup (content hash)
# --------------------------------------------------------------------


@query(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash,
           min(doc_id) AS canonical_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep the lowest doc_id as
    canonical. One shuffle on the hash key; at 100 TB this is the
    cheapest full-corpus pass there is."""
    (documents,) = tables(spark, sf_dir, "documents")
    return (
        documents.select(
            F.md5(F.col("text").cast("binary")).alias("content_hash"), "doc_id"
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# --------------------------------------------------------------------
# N-gram Jaccard (exhaustive candidate generation via shared shingles)
# --------------------------------------------------------------------


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLE_CTE},
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM sx a JOIN sx b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(c * 1.0 / (na.n + nb.n - c), 4) AS jaccard
    FROM common
    JOIN sizes na ON common.doc_a = na.doc_id
    JOIN sizes nb ON common.doc_b = nb.doc_id
    WHERE c * 1.0 / (na.n + nb.n - c) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup: pairs sharing a shingle, verified with
    exact Jaccard ≥ 0.5. The join key is the shingle — candidate cost
    scales with shingle collision counts, not corpus²."""
    (documents,) = tables(spark, sf_dir, "documents")
    # Persist: the shingle table feeds four plan branches (two join
    # sides + two size lookups); without it the tokenizer re-runs per
    # branch. ContextCleaner reclaims the cache when the DF is GC'd.
    sh = _shingled(documents).persist()
    sx = sh.select("doc_id", F.explode("shingles").alias("s"))
    sizes = sh.select("doc_id", F.size("shingles").alias("n"))

    a, b = sx.alias("a"), sx.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("c"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jacc = F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c"))
    out = (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(jacc >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jacc, 4).alias("jaccard"))
    )
    # surviving pairs are tiny: eager-checkpoint (plan recorded for
    # the sweep), then drop the shingle cache
    return checkpoint_result("dedup_ngram_jaccard", out, sh)


# --------------------------------------------------------------------
# MinHash + LSH (banded candidate generation, then exact verify)
# --------------------------------------------------------------------

def _minhash_sig_cols():
    """Per-ROW minhash signature: ONE md5 per shingle, sliced into
    eight 4-hex-char chunks — each chunk is an independent 16-bit hash
    function, and lexicographic min on fixed-width hex equals numeric
    min. 8× fewer digests than seeding md5 per hash function, and the
    whole signature computes inside one codegen stage (no explode, no
    shuffle).

    All eight minima come from a SINGLE aggregate fold (zip-least of
    per-hash slices against a running-minimum array): one generated
    expression instead of eight array traversals — 4× faster codegen +
    eval than eight array_min(transform(...)) columns, same values.
    'g' sorts after every hex char, so it is the fold's +∞. (Column
    construction is lazy — needs an active SparkContext.)"""
    fold = F.aggregate(
        F.col("hs"),
        F.array_repeat(F.lit("g"), N_MINHASH),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(N_MINHASH - 1)),
                lambda i: h.substr(i * 4 + 1, F.lit(4)),
            ),
            lambda x, y: F.least(x, y),
        ),
    ).alias("m")
    return [fold]


def _sig_slots(sigs: DataFrame) -> DataFrame:
    return sigs.select(
        "doc_id", *[F.col("m")[i].alias(f"m{i}") for i in range(N_MINHASH)]
    )


def bands_from_sigs(sigs: DataFrame) -> DataFrame:
    """Band rows from an already-computed signature-slot frame
    (callers holding a persisted sigs frame derive bands from it
    instead of re-running the md5+min-fold chain)."""
    return sigs.filter(F.col("m0") != "g").select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat(F.col(f"m{2 * j}"), F.col(f"m{2 * j + 1}")).cast(
                            "binary"
                        )
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("band_id", "bv"),
    )


def minhash_bands(sh: DataFrame) -> DataFrame:
    """LSH band rows ``(doc_id, band_id, bv)`` from a shingled frame —
    the reusable index-entry kernel shared by the full-corpus dedup
    and the incremental ingestion gate. Hash array hoisted into its
    own projection so the md5 pass runs once, not once per signature
    slot; one posexplode pass emits all band rows (vs an N-way union
    that re-reads the signature projection per band). Docs with no
    shingles (<3 words) produce no band rows."""
    hashed = sh.select(
        "doc_id",
        F.transform(F.col("shingles"), lambda s: F.md5(s.cast("binary"))).alias("hs"),
    )
    return bands_from_sigs(_sig_slots(hashed.select("doc_id", *_minhash_sig_cols())))


_MINHASH_COLS_SQL = ", ".join(
    f"min(substr(md5(s), {4 * i + 1}, 4)) AS m{i}" for i in range(N_MINHASH)
)
_BAND_EXPRS_SQL = ", ".join(
    f"md5(m{2 * j} || m{2 * j + 1}) AS b{j}" for j in range(N_BANDS)
)


@query(
    "dedup_minhash_lsh",
    f"""
    WITH {_SHINGLE_CTE},
    sigs AS (SELECT doc_id, {_MINHASH_COLS_SQL} FROM sx GROUP BY doc_id),
    bands AS (SELECT doc_id, {_BAND_EXPRS_SQL} FROM sigs),
    bl AS (
        {" UNION ALL ".join(f"SELECT doc_id, {j} AS band_id, b{j} AS bv FROM bands" for j in range(N_BANDS))}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bl a JOIN bl b
          ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT c.doc_a, c.doc_b, count(*) AS c
        FROM cand c
        JOIN sx a ON a.doc_id = c.doc_a
        JOIN sx b ON b.doc_id = c.doc_b AND a.s = b.s
        GROUP BY 1, 2
    )
    SELECT common.doc_a, common.doc_b,
           round(c * 1.0 / (na.n + nb.n - c), 4) AS jaccard
    FROM common
    JOIN sizes na ON common.doc_a = na.doc_id
    JOIN sizes nb ON common.doc_b = nb.doc_id
    WHERE c * 1.0 / (na.n + nb.n - c) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle→minhash signature→band→bucket
    join→exact verify. Candidates come from band-bucket collisions
    only — the linear-ish scale path (vs the exhaustive shingle join).

    Signatures are min-of-seeded-md5 (strings): deterministic across
    engines, so the oracle checks the *whole* LSH pipeline, not just
    the verify step.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    # Persisted: signatures + both verify-join sides read it.
    sh = _shingled(documents).persist()

    # Hash array hoisted into its own projection so the md5 pass runs
    # once, not once per signature slot. Persisted (the ingest gate's
    # discipline, incremental_dedup.py): BOTH sides of the candidate
    # self-join read the band table, and without the persist the
    # executed plan ran the whole signature chain (one md5 per
    # shingle + the 8-way min fold + band md5s) twice — the shingle
    # cache below it only deduped tokenization. At scale the band
    # table is materialized as an index table for the same reason.
    bl = minhash_bands(sh).persist()

    a, b = bl.alias("a"), bl.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    # Exact verify via array_intersect on the two shingle sets — the
    # candidate list is tiny, so two equi-joins back to the per-doc
    # shingle arrays beat re-exploding the corpus.
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb"))
    withsets = cand.join(sha, "doc_a").join(shb, "doc_b")
    c = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jacc = c * 1.0 / (F.size("sa") + F.size("sb") - c)
    out = (
        withsets.filter(jacc >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jacc, 4).alias("jaccard"))
    )
    # eager-checkpoint the tiny pair set, then drop the caches
    return checkpoint_result("dedup_minhash_lsh", out, sh, bl)


# --------------------------------------------------------------------
# SimHash (32-bit, band-blocked hamming)
# --------------------------------------------------------------------

_HAMMING_MAX = 3
_SIMHASH_BITS = 32
_N_SIM_BANDS = 4  # 4 bands × 8 bits; hamming ≤ 3 ⇒ ≥1 band equal


def _spark_bit(h, b):
    """Bit ``b`` (MSB-first) of a 32-bit hash given as 8 hex chars."""
    nibble = F.conv(F.substring(h, b // 4 + 1, 1), 16, 10).cast("int")
    return F.shiftright(nibble, 3 - b % 4) % 2


def _sql_bit(b):
    nib = f"(strpos('0123456789abcdef', substr(h, {b // 4 + 1}, 1)) - 1)"
    return f"(({nib} >> {3 - b % 4}) & 1)"


_SIMHASH_SQL = f"""
    WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS word
        FROM documents
    ),
    hashed AS (SELECT doc_id, substr(md5(word), 1, 8) AS h FROM t),
    votes AS (
        SELECT doc_id,
               {", ".join(f"sum(2 * {_sql_bit(b)} - 1) AS v{b}" for b in range(_SIMHASH_BITS))}
        FROM hashed GROUP BY doc_id
    ),
    sim AS (
        SELECT doc_id,
               {" || ".join(f"CASE WHEN v{b} > 0 THEN '1' ELSE '0' END" for b in range(_SIMHASH_BITS))}
                   AS bits
        FROM votes
    ),
    bands AS (
        {" UNION ALL ".join(f"SELECT doc_id, bits, {j} AS band_id, substr(bits, {8 * j + 1}, 8) AS bv FROM sim" for j in range(_N_SIM_BANDS))}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.bits AS bits_a, b.bits AS bits_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
        -- CAST: list_sum yields HUGEINT, which pandas widens to
        -- float64 (3.0 vs Spark's int64 3) — r1 hash-fail root cause
        SELECT doc_a, doc_b,
               CAST(list_sum(list_transform(range(1, {_SIMHASH_BITS + 1}),
                   i -> CASE WHEN substr(bits_a, i, 1) = substr(bits_b, i, 1)
                        THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
        FROM cand
    ) WHERE hamming <= {_HAMMING_MAX}
"""


@query("dedup_simhash", _SIMHASH_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit sign-aggregated token hashes; band
    blocking (pigeonhole: hamming ≤ 3 over 4 bands ⇒ one band
    identical) turns all-pairs hamming into a bucket join."""
    (documents,) = tables(spark, sf_dir, "documents")
    words = spread(documents).select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("text")), " ", -1))
        ).alias("word"),
    )
    hashed = words.select(
        "doc_id", F.substring(F.md5(F.col("word").cast("binary")), 1, 8).alias("h")
    )
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(2 * _spark_bit(F.col("h"), b) - 1).alias(f"v{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    sim = votes.select(
        "doc_id",
        F.concat(
            *[
                F.when(F.col(f"v{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
                for b in range(_SIMHASH_BITS)
            ]
        ).alias("bits"),
    )
    bands = None
    for j in range(_N_SIM_BANDS):
        part = sim.select(
            "doc_id",
            "bits",
            F.lit(j).alias("band_id"),
            F.substring("bits", 8 * j + 1, 8).alias("bv"),
        )
        bands = part if bands is None else bands.unionByName(part)

    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.bits").alias("bits_a"),
            F.col("b.bits").alias("bits_b"),
        )
        .distinct()
    )
    hamming = F.aggregate(
        F.zip_with(
            F.split(F.col("bits_a"), "", -1),
            F.split(F.col("bits_b"), "", -1),
            lambda x, y: F.when(x == y, 0).otherwise(1),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= _HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


# --------------------------------------------------------------------
# Embedding-cosine near-dup (brute-force block baseline)
# --------------------------------------------------------------------

_COSINE_THRESHOLD = 0.4


@query(
    "dedup_embedding_cosine",
    f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
    )
    SELECT doc_a, doc_b, round(cos, 4) AS cosine FROM (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
               list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
                   / (a.nrm * b.nrm) AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id
    ) WHERE cos >= {_COSINE_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, brute-force block: all-pairs cosine within
    the block, threshold filter. This is the exact baseline; at scale
    the pair generation is replaced by LSH bucketing (similarity.py)
    and this kernel runs per bucket."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("v"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    a = e.select(
        F.col("vec_id").alias("doc_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # try_divide: a zero-norm embedding pair yields NULL (Spark 4
    # ANSI would throw DIVIDE_BY_ZERO), and NULL >= threshold
    # filters the pair — same as DuckDB's NULL-on-zero division
    cos = F.try_divide(dot, F.col("na") * F.col("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= _COSINE_THRESHOLD)
        .select("doc_a", "doc_b", F.round("cos", 4).alias("cosine"))
    )


# --------------------------------------------------------------------
# Embedding near-dup, LSH-bucketed (the 100 TB path for the block
# baseline above): hyperplane sign buckets generate candidates, the
# exact cosine kernel verifies only same-bucket pairs
# --------------------------------------------------------------------


def _embedding_lsh_sql() -> str:
    from qms_datawarehouse_spark.operators.lsh_planes import (
        N_HYPERPLANES,
        plane_sql_literal,
    )

    planes = ",".join(
        f"({j}, {plane_sql_literal(j)})" for j in range(N_HYPERPLANES)
    )
    return f"""
    WITH planes AS (
        SELECT * FROM (VALUES {planes}) AS t(plane_id, p)
    ),
    e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))
                   AS nrm
        FROM embeddings
    ),
    bits AS (
        SELECT e.vec_id, pl.plane_id,
               CASE WHEN list_sum(list_transform(range(1, 65),
                        i -> e.v[i] * pl.p[i])) > 0
                    THEN '1' ELSE '0' END AS b
        FROM e CROSS JOIN planes pl
    ),
    buckets AS (
        SELECT vec_id, string_agg(b, '' ORDER BY plane_id) AS bucket
        FROM bits GROUP BY vec_id
    )
    SELECT doc_a, doc_b, cosine FROM (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
               round(list_sum(list_transform(range(1, 65),
                   i -> ea.v[i] * eb.v[i])) / (ea.nrm * eb.nrm), 4) AS cosine
        FROM buckets a
        JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id
    ) WHERE cosine >= {_COSINE_THRESHOLD}
    """


@query("dedup_embedding_lsh", None)  # SQL attached below (lazy import)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at scale: candidate pairs come from a
    hyperplane-LSH bucket equi-join instead of the all-pairs cross
    join above — cost ∝ Σ(bucket²), not corpus². The exact cosine
    kernel then verifies only same-bucket pairs. Recall < 1 by design
    (pairs split across buckets are missed — more planes/band OR-ing
    trades recall for candidates), but both engines derive identical
    buckets from the md5 constants, so the whole pipeline is value-
    checked, not just the kernel.

    At 100 TB: bucket assignment is map-side (broadcast plane
    constants, codegen fold); the equi-join shuffles on the 8-bit
    bucket key; verification touches only candidate pairs. No stage
    scales with corpus²."""
    from qms_datawarehouse_spark.operators.similarity import lsh_bucketed

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    bucketed = lsh_bucketed(embeddings).select(
        "vec_id",
        "bucket",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("v"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    a = bucketed.select(
        "bucket",
        F.col("vec_id").alias("doc_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = bucketed.select(
        "bucket",
        F.col("vec_id").alias("doc_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # try_divide: zero-norm pairs -> NULL -> filtered (ANSI-safe)
        .withColumn(
            "cosine",
            F.round(F.try_divide(dot, F.col("na") * F.col("nb")), 4),
        )
        .filter(F.col("cosine") >= _COSINE_THRESHOLD)
        .select("doc_a", "doc_b", "cosine")
    )


# attach the oracle lazily: building it needs similarity's plane
# constants, and importing similarity at module top would recurse
# through the package __init__ during circular-import windows
REGISTRY["dedup_embedding_lsh"].sql = _embedding_lsh_sql()


# --------------------------------------------------------------------
# Dup-cluster canonicalization: connected components over near-dup
# pairs (iterative min-label propagation)
# --------------------------------------------------------------------

_MAX_CC_ITERS = 20  # ≥ graph diameter; near-dup clusters are shallow


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc",
    max_iters: int = _MAX_CC_ITERS,
) -> DataFrame:
    """Connected components by iterative min-label propagation,
    reusable for ANY orderable node-id type.

    ``nodes``: one column ``id_col``; ``edges``: columns ``a``/``b``
    (undirected — symmetrization happens here). Returns
    ``(id_col, cluster_id)`` where cluster_id is the component's min.

    Each round is one join + one aggregate on (node, label) — O(E)
    per round, diameter-bounded rounds, no driver-side union-find; the
    driver receives one scalar per round.

    Convergence check: labels only ever DECREASE toward each
    component's min, so for NUMERIC ids the label sum is strictly
    monotone until fixpoint — one cheap agg per round. For
    non-numeric ids (string doc keys) that sum is undefined, so the
    guard falls back to counting changed labels — one extra
    equality-filter per round, same asymptotics. A silent wrong-type
    sum previously meant string ids could terminate early with
    half-propagated labels.
    """
    from pyspark.sql import types as T

    numeric = isinstance(
        nodes.schema[id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
         T.DoubleType, T.DecimalType),
    )
    sym = edges.select(F.col("a"), F.col("b")).unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()

    labels = nodes.select(
        F.col(id_col).alias("doc"), F.col(id_col).alias("label")
    ).persist()

    prev_sum = None
    for _ in range(max_iters):
        neighbor_min = (
            sym.join(labels, sym.b == labels.doc)
            .groupBy(F.col("a").alias("doc"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.withColumnRenamed("label", "old_label")
            .join(neighbor_min, "doc", "left")
            .select(
                "doc",
                F.col("old_label"),
                F.least(
                    F.col("old_label"), F.coalesce("nbr_label", F.col("old_label"))
                ).alias("label"),
            )
            .persist()
        )
        if numeric:
            cur = new_labels.agg(F.sum("label")).first()[0]
            converged = cur == prev_sum
            prev_sum = cur
        else:
            converged = (
                new_labels.filter(F.col("label") != F.col("old_label")).take(1) == []
            )
        labels.unpersist()
        labels = new_labels.drop("old_label")
        if converged:
            break

    out = labels.select(F.col("doc").alias(id_col), F.col("label").alias("cluster_id"))
    sym.unpersist()
    return out


@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    sigs AS (SELECT doc_id, {_MINHASH_COLS_SQL} FROM sx GROUP BY doc_id),
    bands AS (SELECT doc_id, {_BAND_EXPRS_SQL} FROM sigs),
    bl AS (
        {" UNION ALL ".join(f"SELECT doc_id, {j} AS band_id, b{j} AS bv FROM bands" for j in range(N_BANDS))}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bl a JOIN bl b
          ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b
        WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0
              / (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)))
              >= {JACCARD_THRESHOLD}
    ),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION ALL SELECT doc_b, doc_a FROM edges
    ),
    reach AS (
        SELECT doc_id AS doc, doc_id AS peer FROM documents
        UNION
        SELECT r.doc, s.b FROM reach r JOIN sym s ON r.peer = s.a
    )
    SELECT doc, min(peer) AS cluster_id FROM reach GROUP BY doc
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: pairs alone don't dedup a corpus — a
    keep-one-per-group decision needs connected components over the
    pair graph. Implemented as iterative min-label propagation in
    DataFrames (labels converge to each component's min doc_id);
    the oracle is a DuckDB recursive-CTE transitive closure over the
    SAME LSH-verified edges, so the entire shingle→LSH→verify→cluster
    pipeline is cross-engine checked.

    Scale: each iteration is one join + one aggregate on (node, label)
    — O(E) per round, diameter-bounded rounds (near-dup clusters are
    shallow); the loop breaks as soon as a round changes nothing.
    This is the standard large-graph CC shape (label propagation), not
    a driver-side union-find."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    (documents,) = tables(spark, sf_dir, "documents")
    nodes = documents.select(F.col("doc_id").alias("doc"))
    return connected_components(nodes, pairs, id_col="doc")


# --------------------------------------------------------------------
# Driver-verifiable form of the ingestion gate's candidate+verify math
# (registered here, at the bottom of dedup, so every SQL fragment and
# kernel above is fully defined — registering it from
# incremental_dedup would re-enter this module mid-import whenever a
# user imports operators.dedup directly)
# --------------------------------------------------------------------

_GATE_MOD = 7  # docs with doc_id % 7 == 0 play the incoming batch

_GATE_BL_UNION = " UNION ALL ".join(
    f"SELECT doc_id, {j} AS band_id, b{j} AS bv FROM bands"
    for j in range(N_BANDS)
)


@query(
    "ingest_gate_probe",
    f"""
    WITH {_SHINGLE_CTE},
    sigs AS (SELECT doc_id, {_MINHASH_COLS_SQL} FROM sx GROUP BY doc_id),
    bands AS (SELECT doc_id, {_BAND_EXPRS_SQL} FROM sigs),
    bl AS ({_GATE_BL_UNION}),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        FROM bl n JOIN bl o
          ON n.band_id = o.band_id AND n.bv = o.bv
         AND n.doc_id % {_GATE_MOD} = 0 AND o.doc_id % {_GATE_MOD} <> 0
    )
    SELECT c.new_id, c.old_id,
           round(len(list_intersect(a.shingles, b.shingles)) * 1.0
                 / (len(a.shingles) + len(b.shingles)
                    - len(list_intersect(a.shingles, b.shingles))), 4)
               AS jaccard
    FROM cand c
    JOIN sh a ON a.doc_id = c.new_id
    JOIN sh b ON b.doc_id = c.old_id
    WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0
          / (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles)))
          >= {JACCARD_THRESHOLD}
    """,
)
def ingest_gate_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingestion gate's candidate+verify math as a stateless,
    driver-verifiable query: documents with ``doc_id % 7 == 0`` play
    the incoming batch, the rest the stored corpus; output = the
    (new, stored, jaccard) rejections the gate would issue. The
    warehouse-index plumbing (bv-partitioned probe, partial-write
    maintenance) is pytest-covered in test_incremental_dedup; this
    query pins the MATH against the oracle end to end."""
    from qms_datawarehouse_spark.operators.incremental_dedup import (
        _verify_pairs,
    )

    (documents,) = tables(spark, sf_dir, "documents")
    sh = _shingled(documents).persist()
    # persisted for the same reason as dedup_minhash_lsh: both sides
    # of the candidate join read the band table, and unpersisted the
    # signature chain (md5 per shingle + min fold) executed twice
    bands = minhash_bands(sh).persist()
    newb = bands.filter(F.col("doc_id") % _GATE_MOD == 0)
    oldb = bands.filter(F.col("doc_id") % _GATE_MOD != 0)
    cand = (
        newb.alias("n")
        .join(
            oldb.alias("o"),
            (F.col("n.band_id") == F.col("o.band_id"))
            & (F.col("n.bv") == F.col("o.bv")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("o.doc_id").alias("old_id"),
        )
        .distinct()
    )
    return checkpoint_result(
        "ingest_gate_probe", _verify_pairs(cand, sh, sh), sh, bands
    )


# --------------------------------------------------------------------
# Passage-level dedup: duplicated-chunk fraction per document
# --------------------------------------------------------------------


@query(
    "dedup_passages",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    p AS (
        SELECT doc_id,
               md5(array_to_string(list_slice(w, i*10+1, i*10+10), ' '))
                   AS h
        FROM t, UNNEST(range(CAST(len(w) // 10 AS BIGINT))) AS u(i)
    ),
    hdocs AS (
        SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM p GROUP BY 1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_passages,
           CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_passages,
           CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS dup_bp
    FROM p JOIN hdocs USING (h)
    GROUP BY doc_id
    """,
)
def passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level (sub-document) dedup: chunk every document into
    consecutive 10-word passages, fingerprint each (md5), and report
    per document how many of its passages also occur in at least one
    OTHER document — the gate modern corpus pipelines apply BELOW
    doc-level dedup (doc-level exact/MinHash misses a copied paragraph
    inside an otherwise-novel page). Complements dedup_exact /
    dedup_minhash_lsh (SURVEY §2.12); no reference counterpart.

    Determinism: passages are full 10-word chunks only (trailing
    partial chunks dropped — both engines compute ⌊n/10⌋ chunks);
    md5 text fingerprints and integer basis points hash identically
    cross-engine.

    Scale shape: chunking is MAP-SIDE — a sequence() of chunk indexes
    transformed over the word array, then one explode; no shuffle to
    form passages. Exchanges: (1) groupBy(h) for the distinct-doc
    count per fingerprint, (2) the h-join back to passages, (3) the
    final groupBy(doc_id). Each is key-partitioned on a high-card
    column; per-hash state is one bigint — the same Σ(bucket) shape
    as the MinHash band join, never corpus²."""
    (documents,) = tables(spark, sf_dir, "documents")
    t = documents.select("doc_id", F.split("text", " ", -1).alias("w"))
    p = t.select(
        "doc_id",
        F.explode(
            # sequence(0, -1) counts DOWN in Spark ([0, -1]); a doc
            # under 10 words must yield zero chunks, as DuckDB's
            # range(0) does — guard explicitly.
            F.when(
                F.size("w") >= 10,
                F.transform(
                    F.sequence(
                        F.lit(0), F.floor(F.size("w") / 10).cast("int") - 1
                    ),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice("w", i * 10 + 1, 10))
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("h"),
    )
    hdocs = p.groupBy("h").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    dup = F.sum((F.col("n_docs") >= 2).cast("long"))
    return (
        p.join(hdocs, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_passages"),
            dup.alias("n_dup_passages"),
            F.expr(
                "CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 10000"
                " div count(*) AS BIGINT)"
            ).alias("dup_bp"),
        )
    )


# --------------------------------------------------------------------
# Canonical selection: one survivor per near-dup cluster
# --------------------------------------------------------------------


@query(
    "dedup_canonical",
    f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    sigs AS (SELECT doc_id, {_MINHASH_COLS_SQL} FROM sx GROUP BY doc_id),
    bands AS (SELECT doc_id, {_BAND_EXPRS_SQL} FROM sigs),
    bl AS (
        {" UNION ALL ".join(f"SELECT doc_id, {j} AS band_id, b{j} AS bv FROM bands" for j in range(N_BANDS))}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bl a JOIN bl b
          ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b
        WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0
              / (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)))
              >= {JACCARD_THRESHOLD}
    ),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION ALL SELECT doc_b, doc_a FROM edges
    ),
    reach AS (
        SELECT doc_id AS doc, doc_id AS peer FROM documents
        UNION
        SELECT r.doc, s.b FROM reach r JOIN sym s ON r.peer = s.a
    ),
    clusters AS (SELECT doc, min(peer) AS cluster_id FROM reach GROUP BY doc),
    ranked AS (
        SELECT c.cluster_id, c.doc, d.n_chars
        FROM clusters c JOIN documents d ON c.doc = d.doc_id
    )
    SELECT cluster_id,
           CAST((min(struct_pack(neg_chars := -n_chars, doc := doc))).doc
                AS BIGINT) AS canonical_doc,
           CAST(max(n_chars) AS BIGINT) AS canonical_chars,
           CAST(count(*) AS BIGINT) AS n_members
    FROM ranked GROUP BY cluster_id
    """,
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-one decision near-dup dedup exists to make: for every
    cluster, select the canonical survivor — the LONGEST member
    (near-dups are usually truncations/boilerplate-wrapped copies of
    the fullest version), ties to the smallest doc_id. Composes the
    whole pipeline end to end: shingle → MinHash → LSH bands → exact
    Jaccard verify → connected components → per-cluster argmax —
    every stage cross-engine value-checked in one query.

    Scale shape: adds exactly one key-partitioned aggregate
    (min over (−n_chars, doc_id) structs, partially aggregated
    map-side) on top of dedup_clusters; the argmax never materializes
    per-cluster member lists. Dropping the non-canonical members is
    then an equi-join of the corpus against this (cluster, canonical)
    table."""
    clusters = dedup_clusters(spark, sf_dir)
    (documents,) = tables(spark, sf_dir, "documents")
    ranked = clusters.join(
        documents.select(F.col("doc_id").alias("doc"), "n_chars"), "doc"
    )
    best = F.min(
        F.struct(
            (-F.col("n_chars")).alias("neg_chars"), F.col("doc").alias("doc")
        )
    )
    return ranked.groupBy("cluster_id").agg(
        best["doc"].cast("long").alias("canonical_doc"),
        F.max("n_chars").cast("long").alias("canonical_chars"),
        F.count("*").cast("long").alias("n_members"),
    )


# --------------------------------------------------------------------
# Split-leakage audit: near-dup clusters spanning train/val/test
# --------------------------------------------------------------------


def split_leakage(clusters: DataFrame, splits: DataFrame) -> DataFrame:
    """Clusters whose members land in MORE THAN ONE split — the
    eval-contamination failure mode hash-splitting alone cannot
    prevent: the split is a pure function of doc_id, so two NEAR-dup
    documents (different ids, same content) can straddle train and
    val, leaking eval answers into training data. The fix is to split
    by CLUSTER, not by document; this audit finds every violation.

    ``clusters``: (doc, cluster_id) — e.g. ``connected_components``
    output; ``splits``: (doc_id, split). One equi-join + one keyed
    aggregate — both partitioned on the cluster key, partial-agg
    map-side; no driver state, no collected member lists (the split
    set per cluster is ≤3 labels)."""
    joined = clusters.join(
        splits.select(F.col("doc_id").alias("doc"), "split"), "doc"
    )
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("split").cast("long").alias("n_splits"),
            F.array_join(F.array_sort(F.collect_set("split")), ",").alias(
                "splits"
            ),
        )
        .filter(F.col("n_splits") > 1)
    )


def _split_leakage_sql() -> str:
    # curation owns the hash-split constants; imported here (not at
    # module top) to stay outside the package's circular-import window
    from qms_datawarehouse_spark.operators.hashsplit import (
        SPLIT_TEST_BP,
        SPLIT_VAL_BP,
        _sql_hash_bp,
    )

    bl_union = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band_id, b{j} AS bv FROM bands"
        for j in range(N_BANDS)
    )
    return f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    sigs AS (SELECT doc_id, {_MINHASH_COLS_SQL} FROM sx GROUP BY doc_id),
    bands AS (SELECT doc_id, {_BAND_EXPRS_SQL} FROM sigs),
    bl AS ({bl_union}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bl a JOIN bl b
          ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b
        WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0
              / (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)))
              >= {JACCARD_THRESHOLD}
    ),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION ALL SELECT doc_b, doc_a FROM edges
    ),
    reach AS (
        SELECT doc_id AS doc, doc_id AS peer FROM documents
        UNION
        SELECT r.doc, s.b FROM reach r JOIN sym s ON r.peer = s.a
    ),
    clusters AS (SELECT doc, min(peer) AS cluster_id FROM reach GROUP BY doc),
    s AS (
        SELECT doc_id,
               CASE WHEN {_sql_hash_bp('doc_id')} < {SPLIT_VAL_BP} THEN 'train'
                    WHEN {_sql_hash_bp('doc_id')} < {SPLIT_TEST_BP} THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT c.cluster_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT s.split) AS BIGINT) AS n_splits,
           array_to_string(list_sort(list(DISTINCT s.split)), ',') AS splits
    FROM clusters c JOIN s ON s.doc_id = c.doc
    GROUP BY c.cluster_id
    HAVING count(DISTINCT s.split) > 1
    """


@query("dedup_split_leakage", None)  # oracle attached below (lazy build)
def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit over the corpus: run the full near-dup
    cluster pipeline (shingle → MinHash → LSH → verify → connected
    components), assign every document its deterministic hash split
    (curation.assign_split), and report clusters that STRADDLE splits
    — near-dup pairs where one copy trains and the other evaluates.
    Oracle = the recursive-CTE closure over the same verified edges
    joined to the same md5 split expression, so the audit itself is
    cross-engine value-checked end to end."""
    from qms_datawarehouse_spark.operators.curation import assign_split

    clusters = dedup_clusters(spark, sf_dir)
    (documents,) = tables(spark, sf_dir, "documents")
    return split_leakage(clusters, assign_split(documents).select("doc_id", "split"))


REGISTRY["dedup_split_leakage"].sql = _split_leakage_sql()


def _split_by_cluster_sql() -> str:
    from qms_datawarehouse_spark.operators.hashsplit import (
        SPLIT_TEST_BP,
        SPLIT_VAL_BP,
        _sql_hash_bp,
    )

    # identical pipeline to the leakage audit, but the split CASE
    # hashes cluster_id — leakage is impossible by construction.
    # Textual reuse of the generated SQL is guarded: exactly one cut
    # point may exist, or this silently truncates at the wrong place.
    leakage_sql = _split_leakage_sql()
    if leakage_sql.count("clusters AS") != 1:
        raise AssertionError(
            "_split_leakage_sql changed shape: expected exactly one "
            "'clusters AS' CTE to cut the shared closure prefix at"
        )
    closure = leakage_sql.split("clusters AS")[0]
    return f"""{closure}clusters AS (
        SELECT doc, min(peer) AS cluster_id FROM reach GROUP BY doc
    )
    SELECT CASE WHEN {_sql_hash_bp('cluster_id')} < {SPLIT_VAL_BP} THEN 'train'
                WHEN {_sql_hash_bp('cluster_id')} < {SPLIT_TEST_BP} THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
    FROM clusters
    GROUP BY 1
    """


@query("curation_split_by_cluster", None)  # oracle attached below
def curation_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The leakage REMEDY: assign train/val/test by hashing the
    near-dup CLUSTER id instead of the doc id, so every member of a
    cluster lands in the same split by construction — near-dups can
    never straddle train and eval (``dedup_split_leakage`` on this
    assignment is empty, pinned in tests). Costs nothing beyond the
    cluster job the dedup pipeline already runs: the split is the
    same md5 expression applied to cluster_id, and the summary is one
    small aggregate."""
    from qms_datawarehouse_spark.operators.curation import assign_split

    clusters = dedup_clusters(spark, sf_dir)
    assigned = assign_split(
        clusters.withColumnRenamed("cluster_id", "_cid"), key="_cid"
    )
    return assigned.groupBy("split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("_cid").cast("long").alias("n_clusters"),
    )


REGISTRY["curation_split_by_cluster"].sql = _split_by_cluster_sql()


# --------------------------------------------------------------------
# Cross-source duplication matrix (where do near-dups come from?)
# --------------------------------------------------------------------


@query(
    "dedup_cross_source_matrix",
    f"""
    WITH {_SHINGLE_CTE},
    sigs AS (SELECT doc_id, {_MINHASH_COLS_SQL} FROM sx GROUP BY doc_id),
    bands AS (SELECT doc_id, {_BAND_EXPRS_SQL} FROM sigs),
    bl AS (
        {" UNION ALL ".join(f"SELECT doc_id, {j} AS band_id, b{j} AS bv FROM bands" for j in range(N_BANDS))}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bl a JOIN bl b
          ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM (
            SELECT c.doc_a, c.doc_b, count(*) AS c
            FROM cand c
            JOIN sx a ON a.doc_id = c.doc_a
            JOIN sx b ON b.doc_id = c.doc_b AND a.s = b.s
            GROUP BY 1, 2
        ) c
        JOIN sizes na ON c.doc_a = na.doc_id
        JOIN sizes nb ON c.doc_b = nb.doc_id
        WHERE c.c * 1.0 / (na.n + nb.n - c.c) >= {JACCARD_THRESHOLD}
    ),
    src AS (SELECT doc_id, source FROM documents)
    SELECT least(sa.source, sb.source) AS source_a,
           greatest(sa.source, sb.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs p
    JOIN src sa ON p.doc_a = sa.doc_id
    JOIN src sb ON p.doc_b = sb.doc_id
    GROUP BY 1, 2
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where does duplication come from: the verified near-dup pairs
    (the LSH pipeline, composed as-is) rolled up into a symmetric
    source×source matrix — the corpus-governance readout that tells
    you whether duplication is WITHIN a crawl snapshot (same-source
    diagonal) or BETWEEN sources (mirrors, syndication), which decides
    whether dedup runs per-source or globally at the next 10× of
    corpus growth.

    Scale shape: everything up to the pair list is dedup_minhash_lsh
    (band equi-joins, Σ(bucket²) never corpus²); the rollup adds two
    dim-style joins on doc_id and one O(sources²)-output aggregation."""
    (documents,) = tables(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir)
    src = documents.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


# --------------------------------------------------------------------
# LSH recall audit: measured recall of the banded candidates vs truth
# --------------------------------------------------------------------


@query(
    "dedup_minhash_recall_audit",
    f"""
    WITH {_SHINGLE_CTE},
    truth AS (
        SELECT c.doc_a, c.doc_b
        FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
            FROM sx a JOIN sx b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) c
        JOIN sizes na ON c.doc_a = na.doc_id
        JOIN sizes nb ON c.doc_b = nb.doc_id
        WHERE c.c * 1.0 / (na.n + nb.n - c.c) >= {JACCARD_THRESHOLD}
    ),
    sigs AS (SELECT doc_id, {_MINHASH_COLS_SQL} FROM sx GROUP BY doc_id),
    bands AS (SELECT doc_id, {_BAND_EXPRS_SQL} FROM sigs),
    bl AS (
        {" UNION ALL ".join(f"SELECT doc_id, {j} AS band_id, b{j} AS bv FROM bands" for j in range(N_BANDS))}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bl a JOIN bl b
          ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    hit AS (
        SELECT t.doc_a FROM truth t
        JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true_pairs,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_recalled,
           CAST((SELECT count(*) FROM hit) * 10000
                // greatest((SELECT count(*) FROM truth), 1) AS BIGINT)
               AS recall_bp
    """,
)
def dedup_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED LSH recall as a first-class query: ground-truth
    near-dup pairs (exhaustive shared-shingle join, exact Jaccard ≥
    threshold — the documented small-corpus baseline) compared against
    the banded candidate set, reporting how many true pairs the bands
    surface (recall in basis points). This is the recall/cost
    trade-off every LSH parameter choice (N_MINHASH, N_BANDS) makes,
    quantified instead of asserted — run it on a sample whenever the
    banding parameters change.

    Scale shape: the truth side is the quadratic-in-collisions
    baseline, which is exactly why this runs on a SAMPLE at 100 TB
    (the audit estimates recall; the production path stays banded);
    the candidate side is the usual band equi-join. Output is one
    row of counters."""
    (documents,) = tables(spark, sf_dir, "documents")
    sh = _shingled(documents).persist()
    sx = sh.select("doc_id", F.explode("shingles").alias("s"))
    sizes = sh.select("doc_id", F.size("shingles").alias("n"))

    a, b = sx.alias("a"), sx.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("c"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jacc = F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c"))
    truth = (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(jacc >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )

    bl = minhash_bands(sh).persist()  # both candidate-join sides read it
    ba, bb = bl.alias("a"), bl.alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    hit = truth.join(cand, ["doc_a", "doc_b"])
    n_true = truth.agg(F.count("*").cast("long").alias("n_true_pairs"))
    n_cand = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    n_hit = hit.agg(F.count("*").cast("long").alias("n_recalled"))
    out = (
        n_true.crossJoin(n_cand)
        .crossJoin(n_hit)
        .select(
            "n_true_pairs",
            "n_candidates",
            "n_recalled",
            F.expr(
                "CAST(n_recalled * 10000 div greatest(n_true_pairs, 1)"
                " AS BIGINT)"
            ).alias("recall_bp"),
        )
    )
    # one counter row: eager-checkpoint, then drop the caches
    return checkpoint_result("dedup_minhash_recall_audit", out, sh, bl)


# --------------------------------------------------------------------
# Containment near-dup: excerpt / quote detection
# --------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.8


@query(
    "dedup_containment",
    f"""
    WITH {_SHINGLE_CTE},
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM sx a JOIN sx b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(c * 1.0 / least(na.n, nb.n), 4) AS containment,
           round(c * 1.0 / (na.n + nb.n - c), 4) AS jaccard
    FROM common
    JOIN sizes na ON common.doc_a = na.doc_id
    JOIN sizes nb ON common.doc_b = nb.doc_id
    WHERE c * 1.0 / least(na.n, nb.n) >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-dup (c / min(|A|,|B|) — the overlap
    coefficient): catches the asymmetric duplication Jaccard misses —
    a short document QUOTED inside a long one scores near 1.0 on
    containment while its Jaccard stays tiny (the union is dominated
    by the long doc). The excerpt/boilerplate-inclusion gate of a
    training corpus, reported with Jaccard alongside so the asymmetry
    is visible in the value hash.

    Scale shape: identical to the exhaustive Jaccard baseline (shared-
    shingle equi-join, cost ∝ collisions); the banded candidate
    generator composes in front of it at scale exactly as in
    dedup_minhash_lsh."""
    (documents,) = tables(spark, sf_dir, "documents")
    sh = _shingled(documents).persist()
    sx = sh.select("doc_id", F.explode("shingles").alias("s"))
    sizes = sh.select("doc_id", F.size("shingles").alias("n"))

    a, b = sx.alias("a"), sx.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("c"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cont = F.col("c") * 1.0 / F.least("na", "nb")
    jacc = F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c"))
    out = (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cont >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(cont, 4).alias("containment"),
            F.round(jacc, 4).alias("jaccard"),
        )
    )
    # eager-checkpoint the tiny pair set, then drop the shingle cache
    return checkpoint_result("dedup_containment", out, sh)


# --------------------------------------------------------------------
# Ingest-gate replay: the streaming admission math as a stateless,
# driver-verifiable two-epoch program
# --------------------------------------------------------------------

_GATE_REPLAY_SQL = f"""
    WITH {_SHINGLE_CTE},
    sigs AS (SELECT doc_id, {_MINHASH_COLS_SQL} FROM sx GROUP BY doc_id),
    bandsw AS (SELECT doc_id, {_BAND_EXPRS_SQL} FROM sigs),
    bl AS (
        {" UNION ALL ".join(f"SELECT doc_id, {j} AS band_id, b{j} AS bv FROM bandsw" for j in range(N_BANDS))}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM bl a JOIN bl b
          ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT c.da, c.db, count(*) AS c
        FROM cand c
        JOIN sx a ON a.doc_id = c.da
        JOIN sx b ON b.doc_id = c.db AND a.s = b.s
        GROUP BY 1, 2
    ),
    ver AS (
        SELECT common.da, common.db
        FROM common
        JOIN sizes na ON common.da = na.doc_id
        JOIN sizes nb ON common.db = nb.doc_id
        WHERE c * 1.0 / (na.n + nb.n - c) >= {JACCARD_THRESHOLD}
    ),
    -- ((x % 2) + 2) % 2 = Spark's pmod: DuckDB's % truncates toward
    -- zero (-1 for negative odd ids), which would silently split the
    -- epochs differently from the Spark side's pmod
    ep AS (
        SELECT doc_id,
               CAST(((doc_id % 2) + 2) % 2 AS INT) AS odd
        FROM documents
    ),
    vere AS (
        SELECT v.da, v.db, ea.odd AS oa, eb.odd AS ob
        FROM ver v
        JOIN ep ea ON v.da = ea.doc_id
        JOIN ep eb ON v.db = eb.doc_id
    ),
    rej1 AS (SELECT DISTINCT db AS doc_id FROM vere WHERE oa = 0 AND ob = 0),
    adm1 AS (
        SELECT doc_id FROM ep WHERE odd = 0
        AND doc_id NOT IN (SELECT doc_id FROM rej1)
    ),
    rej2in AS (SELECT DISTINCT db AS doc_id FROM vere WHERE oa = 1 AND ob = 1),
    sym AS (
        SELECT da AS x, db AS y FROM ver
        UNION ALL SELECT db AS x, da AS y FROM ver
    ),
    rej2cross AS (
        SELECT DISTINCT s.x AS doc_id
        FROM sym s
        JOIN ep e2 ON s.x = e2.doc_id AND e2.odd = 1
        JOIN adm1 a ON s.y = a.doc_id
    ),
    rej AS (
        SELECT doc_id FROM rej1
        UNION SELECT doc_id FROM rej2in
        UNION SELECT doc_id FROM rej2cross
    ),
    status AS (
        SELECT e.doc_id, e.odd + 1 AS epoch,
               CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS is_rej
        FROM ep e LEFT JOIN rej r ON e.doc_id = r.doc_id
    )
    SELECT CAST(epoch AS INT) AS epoch,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(sum(1 - is_rej) AS BIGINT) AS n_accepted,
           CAST(sum(is_rej) AS BIGINT) AS n_rejected,
           CAST(COALESCE(sum(CASE WHEN is_rej = 1 THEN doc_id END), 0)
                AS BIGINT) AS rejected_ids_sum
    FROM status GROUP BY epoch ORDER BY epoch
"""


@query("ingest_gate_replay_two_epochs", _GATE_REPLAY_SQL)
def ingest_gate_replay_two_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental/streaming ingest gate's admission math
    (operators/incremental_dedup.ingest_dedup, driven per-epoch by
    streaming/sync.stream_ingest) as a stateless, value-checked
    two-epoch replay: documents split by doc_id parity — EVEN ids land
    as epoch 1, ODD as epoch 2.

    Replays exactly what two successive gate calls commit:
    epoch 1 canonicalizes in-batch (a doc is rejected iff a verified
    near-dup pair links it to a LOWER in-batch doc_id — the gate's
    rule, not transitive), admitted docs become the corpus + band
    index; epoch 2 rejects in-batch the same way PLUS any doc with a
    verified near-dup among epoch-1 ADMITTED docs (the index holds
    only admitted entries, so epoch-1 rejects cannot veto). Near-dup =
    LSH band collision then exact Jaccard >= threshold on shingle
    sets, the same md5 minhash pipeline the oracle reproduces
    end-to-end. Output = per-epoch admission stats with the rejected
    id-set checksum IN the value hash.

    Scale shape: candidates from band equi-joins only (never
    all-pairs); one keyed aggregate per stage; the per-doc status
    frame aggregates to two rows in a single shuffle."""
    (documents,) = tables(spark, sf_dir, "documents")
    sh = _shingled(documents).persist()
    # persisted: both candidate-join sides read the band table (the
    # dedup_minhash_lsh rationale — unpersisted, the signature chain
    # executed twice)
    bl = minhash_bands(sh).persist()

    a, b = bl.alias("a"), bl.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    sha = sh.select(F.col("doc_id").alias("da"), F.col("shingles").alias("sa"))
    shb = sh.select(F.col("doc_id").alias("db"), F.col("shingles").alias("sb"))
    withsets = cand.join(sha, "da").join(shb, "db")
    c = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jacc = c * 1.0 / (F.size("sa") + F.size("sb") - c)
    ver = (
        withsets.filter(jacc >= JACCARD_THRESHOLD).select("da", "db").persist()
    )

    ep = documents.select(
        "doc_id", F.pmod(F.col("doc_id"), F.lit(2)).cast("int").alias("odd")
    )
    ea = ep.select(F.col("doc_id").alias("da"), F.col("odd").alias("oa"))
    eb = ep.select(F.col("doc_id").alias("db"), F.col("odd").alias("ob"))
    vere = ver.join(ea, "da").join(eb, "db")

    rej1 = (
        vere.filter((F.col("oa") == 0) & (F.col("ob") == 0))
        .select(F.col("db").alias("doc_id"))
        .distinct()
    )
    adm1 = ep.filter(F.col("odd") == 0).join(rej1, "doc_id", "left_anti")
    rej2_in = vere.filter((F.col("oa") == 1) & (F.col("ob") == 1)).select(
        F.col("db").alias("doc_id")
    )
    sym = ver.select(
        F.col("da").alias("x"), F.col("db").alias("y")
    ).unionByName(ver.select(F.col("db").alias("x"), F.col("da").alias("y")))
    rej2_cross = (
        sym.join(
            ep.filter(F.col("odd") == 1).select(F.col("doc_id").alias("x")),
            "x",
            "left_semi",
        )
        .join(adm1.select(F.col("doc_id").alias("y")), "y", "left_semi")
        .select(F.col("x").alias("doc_id"))
    )
    rej = rej1.unionByName(rej2_in).unionByName(rej2_cross).distinct()

    status = (
        ep.withColumn("epoch", (F.col("odd") + 1).cast("int"))
        .join(rej.withColumn("is_rej", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id", "epoch", F.coalesce("is_rej", F.lit(0)).alias("is_rej")
        )
    )
    out = (
        status.groupBy("epoch")
        .agg(
            F.count("*").cast("long").alias("n_batch"),
            F.sum(1 - F.col("is_rej")).cast("long").alias("n_accepted"),
            F.sum("is_rej").cast("long").alias("n_rejected"),
            F.coalesce(
                F.sum(F.when(F.col("is_rej") == 1, F.col("doc_id"))), F.lit(0)
            )
            .cast("long")
            .alias("rejected_ids_sum"),
        )
        .orderBy("epoch")
    )
    # two counter rows: eager-checkpoint, then drop the caches (the
    # shingle, band, and verified-pair frames)
    return checkpoint_result(
        "ingest_gate_replay_two_epochs", out, ver, sh, bl
    )


# --------------------------------------------------------------------
# MinHash estimator calibration audit (sketch vs exact, per pair)
# --------------------------------------------------------------------

_MH_AUDIT_SQL = f"""
    WITH {_SHINGLE_CTE},
    sigs AS (SELECT doc_id, {_MINHASH_COLS_SQL} FROM sx GROUP BY doc_id),
    bandsw AS (SELECT doc_id, {_BAND_EXPRS_SQL} FROM sigs),
    bl AS (
        {" UNION ALL ".join(f"SELECT doc_id, {j} AS band_id, b{j} AS bv FROM bandsw" for j in range(N_BANDS))}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bl a JOIN bl b
          ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT c.doc_a, c.doc_b, count(*) AS c
        FROM cand c
        JOIN sx a ON a.doc_id = c.doc_a
        JOIN sx b ON b.doc_id = c.doc_b AND a.s = b.s
        GROUP BY 1, 2
    ),
    agree AS (
        SELECT c.doc_a, c.doc_b,
               ({" + ".join(f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(N_MINHASH))})
                   AS m_agree
        FROM cand c
        JOIN sigs sa ON sa.doc_id = c.doc_a
        JOIN sigs sb ON sb.doc_id = c.doc_b
    )
    SELECT g.doc_a, g.doc_b,
           CAST(g.m_agree AS BIGINT) AS m_agree,
           CAST(g.m_agree * {10000 // N_MINHASH} AS BIGINT) AS est_bp,
           CAST(coalesce(cm.c, 0) * 10000
                // (na.n + nb.n - coalesce(cm.c, 0)) AS BIGINT) AS exact_bp,
           CAST(g.m_agree * {10000 // N_MINHASH}
                - coalesce(cm.c, 0) * 10000
                  // (na.n + nb.n - coalesce(cm.c, 0)) AS BIGINT) AS err_bp
    FROM agree g
    LEFT JOIN common cm ON g.doc_a = cm.doc_a AND g.doc_b = cm.doc_b
    JOIN sizes na ON g.doc_a = na.doc_id
    JOIN sizes nb ON g.doc_b = nb.doc_id
"""


@query("dedup_minhash_estimate_audit", _MH_AUDIT_SQL)
def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator calibration for the MinHash sketch — the precision
    sibling of ``dedup_minhash_recall_audit``: for every LSH candidate
    pair, the SKETCH's Jaccard estimate (fraction of agreeing
    signature slots) side by side with the EXACT shingle-set Jaccard,
    both in integer basis points (exact_bp is pure integer arithmetic,
    c·10000 div (|a|+|b|-c) — no float crosses an engine boundary).
    This is the measurement that justifies the production threshold:
    err_bp quantifies how far an 8-slot signature strays per pair, so
    a threshold margin can be chosen from data instead of folklore.

    Scale shape: candidates from band equi-joins only; the agree join
    touches the O(docs) signature table twice by key, the exact term
    re-uses the same common/sizes aggregates as the LSH verify. No
    all-pairs term anywhere."""
    (documents,) = tables(spark, sf_dir, "documents")
    sh = _shingled(documents).persist()
    hashed = sh.select(
        "doc_id",
        F.transform(F.col("shingles"), lambda s: F.md5(s.cast("binary"))).alias(
            "hs"
        ),
    )
    # persisted: sigs feeds BOTH per-doc signature lookups (sa/sb)
    # AND the band derivation (whose rows feed both candidate-join
    # sides) — unpersisted, the md5+min-fold signature chain executed
    # four times in this query; now it runs once
    sigs = (
        _sig_slots(hashed.select("doc_id", *_minhash_sig_cols()))
        .filter(F.col("m0") != "g")
        .persist()
    )
    bl = bands_from_sigs(sigs).persist()
    a, b = bl.alias("a"), bl.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(N_MINHASH)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(N_MINHASH)],
    )
    agree_expr = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(N_MINHASH)
    )
    agreed = (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", agree_expr.alias("m_agree"))
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("s_a"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("s_b"))
    withsets = agreed.join(sha, "doc_a").join(shb, "doc_b")
    est = F.col("m_agree") * (10000 // N_MINHASH)
    exact = F.expr(
        f"CAST(size(array_intersect(s_a, s_b)) * 10000 AS BIGINT) div "
        f"(size(s_a) + size(s_b) - size(array_intersect(s_a, s_b)))"
    )
    out = withsets.select(
        "doc_a",
        "doc_b",
        F.col("m_agree").cast("long").alias("m_agree"),
        est.cast("long").alias("est_bp"),
        exact.cast("long").alias("exact_bp"),
        (est - exact).cast("long").alias("err_bp"),
    )
    # persist hygiene (the connected_components standard): eagerly
    # materialize the candidate-pair-sized result, then drop the
    # caches instead of leaving them to session GC
    return checkpoint_result(
        "dedup_minhash_estimate_audit", out, sh, sigs, bl
    )


# --------------------------------------------------------------------
# Exact-substring dedup: sliding k-token grams merged into maximal
# duplicated spans
# --------------------------------------------------------------------

# Gram length in tokens. Production corpora use ~50 (the
# memorization-length gate of Lee et al.'s "Deduplicating Training
# Data Makes Language Models Better" suffix-array setup); the fixture
# documents average 54 tokens, so 20 keeps every length band
# represented while preserving the stride-1 overlap structure the
# run-merge exists for.
_SPAN_K = 20

_SPAN_SQL = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
        SELECT doc_id, i,
               md5(array_to_string(list_slice(w, i + 1, i + {_SPAN_K}), ' '))
                   AS h,
               len(w) AS n_tokens
        FROM t, UNNEST(range(CAST(greatest(len(w) - {_SPAN_K} + 1, 0)
                 AS BIGINT))) AS u(i)
    ),
    hd AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    d AS (SELECT g.doc_id, g.i FROM g JOIN hd USING (h)),
    runs AS (
        SELECT doc_id, i,
               CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                         <= {_SPAN_K}
                    THEN 0 ELSE 1 END AS brk
        FROM d
    ),
    spans0 AS (
        SELECT doc_id, i,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS span_id
        FROM runs
    ),
    spans AS (
        SELECT doc_id, span_id,
               CAST(max(i) - min(i) + {_SPAN_K} AS BIGINT) AS covered
        FROM spans0 GROUP BY doc_id, span_id
    ),
    per_span AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(covered) AS BIGINT) AS covered_tokens
        FROM spans GROUP BY doc_id
    ),
    gd AS (
        SELECT doc_id, CAST(any_value(n_tokens) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_grams
        FROM g GROUP BY doc_id
    ),
    dd AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams
        FROM d GROUP BY doc_id
    )
    SELECT gd.doc_id, gd.n_tokens, gd.n_grams,
           CAST(coalesce(dd.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(coalesce(per_span.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(per_span.covered_tokens, 0) AS BIGINT)
               AS covered_tokens,
           CAST(coalesce(per_span.covered_tokens, 0) * 10000
                // gd.n_tokens AS BIGINT) AS dup_bp
    FROM gd
    LEFT JOIN dd ON gd.doc_id = dd.doc_id
    LEFT JOIN per_span ON gd.doc_id = per_span.doc_id
"""


@query("dedup_substring_spans", _SPAN_SQL)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup below passage granularity: STRIDE-1
    k-token grams (vs ``dedup_passages``' fixed disjoint chunks, which
    miss any duplicated span straddling a chunk boundary), then
    adjacent duplicated grams run-merged into MAXIMAL duplicated spans
    — the suffix-array-style exact-substring gate (Lee et al. 2022)
    re-expressed as hash-join + window, no suffix array needed.

    A gram is duplicated iff its hash occurs in >= 2 distinct docs.
    Two duplicated gram starts i1 < i2 in one doc merge iff
    i2 - i1 <= k (their token intervals [i, i+k-1] overlap or adjoin),
    so a merged span's token coverage is exactly max_i - min_i + k —
    interval union collapses to one window pass because stride-1
    intervals all have equal length. Reported per doc: gram counts,
    span count, covered tokens, and duplicated-token basis points
    (integer `div`, hash-identical cross-engine).

    Scale shape: gram generation is MAP-SIDE (sequence+transform over
    the word array, one posexplode — ~n_tokens rows per doc, the same
    volume the shingle kernels already carry); exchanges are (1)
    groupBy(h) for the cross-doc gram count, (2) the h-join back,
    (3) doc-keyed windows + aggregates. All key-partitioned on
    high-card columns, Σ(gram) never corpus². At 100 TB this is the
    plan you want: the all-suffix alternative is superlinear in
    memory, while this is three hash exchanges over ~t tokens."""
    from pyspark.sql import Window

    (documents,) = tables(spark, sf_dir, "documents")
    k = _SPAN_K
    # spread: the md5-per-gram generation below is the expensive
    # term and a single-file corpus reads as ONE partition
    t = spread(documents).select(
        "doc_id", F.split("text", " ", -1).alias("w")
    )
    g = t.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.posexplode(
            F.when(
                F.size("w") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - k),
                    lambda i: F.md5(F.concat_ws(" ", F.slice("w", i + 1, k))),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("i", "h"),
    )
    # cache discipline (plan-audited): g feeds three consumers (the
    # cross-doc hash count, the dup-gram join, the per-doc totals) and
    # d two — without persists the map-side gram generation (the md5
    # per gram, the expensive term) re-runs five times
    g = g.persist()
    hd = (
        g.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    d = g.join(hd, "h").select("doc_id", "i").persist()
    wo = Window.partitionBy("doc_id").orderBy("i")
    runs = d.withColumn(
        "brk",
        F.when(F.col("i") - F.lag("i").over(wo) <= k, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    spans0 = runs.withColumn("span_id", F.sum("brk").over(wo))
    spans = spans0.groupBy("doc_id", "span_id").agg(
        (F.max("i") - F.min("i") + k).cast("long").alias("covered")
    )
    per_span = spans.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum("covered").cast("long").alias("covered_tokens"),
    )
    gd = g.groupBy("doc_id").agg(
        F.first("n_tokens").alias("n_tokens"),
        F.count("*").cast("long").alias("n_grams"),
    )
    dd = d.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_dup_grams"))
    out = (
        gd.join(dd, "doc_id", "left")
        .join(per_span, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_grams",
            F.coalesce(F.col("n_dup_grams"), F.lit(0))
            .cast("long")
            .alias("n_dup_grams"),
            F.coalesce(F.col("n_spans"), F.lit(0))
            .cast("long")
            .alias("n_spans"),
            F.coalesce(F.col("covered_tokens"), F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
            F.expr(
                "CAST(coalesce(covered_tokens, 0) * 10000 div n_tokens"
                " AS BIGINT)"
            ).alias("dup_bp"),
        )
    )
    # per-doc rows only: eager-checkpoint, then drop the gram caches
    return checkpoint_result("dedup_substring_spans", out, g, d)


# --------------------------------------------------------------------
# PPJoin-style prefix-filtered EXACT set-similarity join
# --------------------------------------------------------------------

# τ = 0.8 as the integer fraction 4/5 (word SETS are too coarse on
# this corpus — the synthetic docs share near-identical vocabularies,
# so the join runs on 3-word SHINGLE sets, the dedup family's unit).
# The verify compare is kept in integers — J(a,b) = c/(na+nb-c) >= 4/5
# ⟺ 9c >= 4(na+nb) — so no float crosses the keep/drop boundary on
# either engine.
_PPJOIN_SQL = f"""
    WITH {_SHINGLE_CTE},
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM sx a JOIN sx b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(c AS BIGINT) AS n_common,
           CAST(na.n AS BIGINT) AS na,
           CAST(nb.n AS BIGINT) AS nb,
           round(c * 1.0 / (na.n + nb.n - c), 4) AS jaccard
    FROM common
    JOIN sizes na ON common.doc_a = na.doc_id
    JOIN sizes nb ON common.doc_b = nb.doc_id
    WHERE 9 * c >= 4 * (na.n + nb.n)
"""


def _ppjoin_prefix_candidates(tok: DataFrame):
    """(sizes, candidate pairs, prefix frame) from a (doc_id, t) token
    table via the PPJoin prefix filter at τ=0.8: rank each doc's tokens
    rarest-first (df asc, t asc), keep the first n − ceil(0.8n) + 1,
    self-equi-join the prefix subset. The standard PPJoin LENGTH filter
    prunes candidate pairs in the same join: J(a,b) >= 4/5 forces
    c >= (4/5)(na+nb)/(1+4/5) and c <= min(na,nb), hence
    5·min(na,nb) >= 4·max(na,nb) — integer-exact and IMPLIED by the
    final 9c >= 4(na+nb) verify filter, so dropping the failing pairs
    before the expensive intersection join changes nothing the verify
    would have kept. Candidates carry (na, nb) so the verify stage
    re-uses them instead of re-joining sizes twice. The persisted
    prefix frame is returned so callers can unpersist it (both
    self-join sides read it — unpersisted, the df-count join + per-doc
    rank window ran twice). Shared with tools/ppjoin_probe.py so the
    probe measures the REAL candidate stage, not a re-implementation."""
    from pyspark.sql.window import Window

    sizes = tok.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    df_counts = tok.groupBy("t").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("t").asc())
    ranked = (
        tok.join(df_counts, "t")
        .select("doc_id", "t", F.row_number().over(w).alias("r"))
        .join(sizes, "doc_id")
        # integer-exact prefix length: n - ceil(0.8n) + 1
        .filter(F.col("r") <= F.expr("n - ((4 * n + 4) div 5) + 1"))
        .select("doc_id", "t", "n")
        .persist()
    )
    pa, pb = ranked.alias("pa"), ranked.alias("pb")
    cands = (
        pa.join(
            pb,
            (F.col("pa.t") == F.col("pb.t"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            # length filter: lossless candidate pruning (see docstring)
            & (
                F.lit(5) * F.least(F.col("pa.n"), F.col("pb.n"))
                >= F.lit(4) * F.greatest(F.col("pa.n"), F.col("pb.n"))
            ),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
            F.col("pa.n").alias("na"),
            F.col("pb.n").alias("nb"),
        )
        .distinct()
    )
    return sizes, cands, ranked


@query("dedup_ppjoin_exact", _PPJOIN_SQL)
def dedup_ppjoin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-set Jaccard >= 0.8 join via prefix filtering (the
    PPJoin principle, Xiao et al. 2008 / Bayardo et al. 2007) — the
    lossless scale path for exact set-similarity, complementing the
    approximate MinHash family.

    Order each doc's shingles globally by (document-frequency asc,
    shingle asc) — rarest first. If J(a,b) >= τ then the overlap is
    >= ceil(τ·n) on EACH side, so the first n − ceil(τ·n) + 1 tokens
    of both docs (their "prefixes") must intersect: candidate pairs
    come from a self-equi-join on PREFIX tokens only. Rare shingles
    have tiny posting lists, so Σ(df²) over prefixes is orders of
    magnitude below the all-shared-shingle join `dedup_ngram_jaccard`
    runs — and the filter is LOSSLESS, which is exactly what the
    driver verifies: the oracle is the EXHAUSTIVE all-pairs-sharing-
    a-shingle join, and the rows must hash-match.

    The prefix length uses integer ceil ((4n+4) div 5) — a float
    0.8·n could round the prefix one token short and silently drop a
    true pair.

    Scale shape: df-count is one shingle-keyed agg; ranking is a
    per-doc window (partitioned by doc_id — no global sort);
    candidates are a shingle-keyed equi-join over the prefix subset;
    verify joins candidate pairs back to the shingle table by doc
    key. Nothing is corpus²; the worst key is the most frequent
    shingle that survives into any prefix, bounded by construction to
    low-df shingles. Reference analog: the near-dup admission the
    warehouse's `_id` upsert collapses (src/services/etl.py:68-75),
    at exact shingle-set similarity."""
    (documents,) = tables(spark, sf_dir, "documents")
    tok = (
        _shingled(documents)
        .select("doc_id", F.explode("shingles").alias("t"))
        .persist()
    )
    _sizes, cands, prefix = _ppjoin_prefix_candidates(tok)

    ta = tok.select(F.col("doc_id").alias("doc_a"), "t")
    tb = tok.select(F.col("doc_id").alias("doc_b"), "t")
    # (na, nb) ride the candidate rows from the prefix stage — the
    # verify needs no size re-joins, and the grouping keys extend by
    # the two size columns (functionally determined by the doc ids, so
    # the groups are identical)
    inter = (
        cands.join(ta, "doc_a")
        .join(tb, ["doc_b", "t"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    out = (
        inter.filter(
            F.lit(9) * F.col("n_common")
            >= F.lit(4) * (F.col("na") + F.col("nb"))
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "na",
            "nb",
            F.round(
                F.col("n_common")
                * 1.0
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )
    # surviving pairs are tiny: eager-checkpoint, then drop the token
    # and prefix caches (the estimate-audit hygiene standard)
    return checkpoint_result("dedup_ppjoin_exact", out, tok, prefix)
