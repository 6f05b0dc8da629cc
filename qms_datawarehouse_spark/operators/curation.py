"""Corpus-curation operators for large-scale training-data pipelines.

Four operations every 100 TB pretraining pipeline runs between "raw
crawl" and "tokenizer", each expressed so its cost is one scan plus at
most one bounded shuffle:

- **stratified sampling** — deterministic hash-threshold downsampling
  with a per-language rate table (rebalance over-represented
  languages). Pure map-side filter: no shuffle, no RNG state, and the
  same row set comes back on every run and every engine, which is what
  makes a sampled corpus reproducible.
- **sequence packing** — greedy concat-and-chunk packing of documents
  into fixed token-budget training sequences, sharded so the running
  sum is a per-shard window (shards scale with the cluster; there is
  no global ordering anywhere in the plan).
- **contamination check** — n-gram overlap of every corpus document
  against a benchmark/eval set, the standard train-test leakage gate.
  Benchmark shingles are a broadcast-sized set; the probe is one
  explode + broadcast semi-structured join, never corpus × corpus.
- **PII redaction** — regex scrub (emails, IPv4, long digit runs) with
  per-class counts and a post-redaction fingerprint. Map-side only.

Reference parity: the reference has no curation surface — these extend
the north-star LLM-pipeline operators mandated by BASELINE.json
alongside dedup/similarity/textops. Cross-engine determinism uses the
same idioms as the rest of the package: md5-derived integer hashing
(`conv` ↔ `::UBIGINT`), integer basis points instead of float ratios,
and identical regex dialect subset (RE2 ∩ java.util.regex).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qms_datawarehouse_spark.plans.registry import query, tables
from qms_datawarehouse_spark.session import spread

# --------------------------------------------------------------------
# Shared: deterministic uniform hash in [0, 10000) from a key column.
# md5 first-8-hex-digits as an integer is uniform and identical in
# Spark (conv hex→dec) and DuckDB ('0x…'::UBIGINT); both see the same
# bytes because the key is cast to its decimal string first.
# --------------------------------------------------------------------


# Shared with dedup's split-leakage audit via the hashsplit LEAF
# module (safe to import during the package's circular-import
# window); re-exported here for the established call sites.
from qms_datawarehouse_spark.operators.hashsplit import (  # noqa: E402
    SPLIT_TEST_BP,
    SPLIT_VAL_BP,
    _sql_hash_bp,
    _sql_hash_u32,
    hash_bp,
    hash_u32,
)


# --------------------------------------------------------------------
# Stratified deterministic sampling
# --------------------------------------------------------------------

# Per-language keep rates in basis points: the shape of a real corpus
# rebalance (downsample dominant languages hard, keep the tail).
SAMPLE_RATES_BP = {"de": 5000, "en": 8000, "es": 2500, "fr": 2500, "zh": 1000}
_DEFAULT_RATE_BP = 0  # unknown language → drop


def stratified_sample(
    documents: DataFrame, rates_bp: dict[str, int], key: str = "doc_id"
) -> DataFrame:
    """Keep a deterministic ``rates_bp[lang]/10000`` fraction per
    language: row survives iff ``md5(key) % 10000 < rate``. Map-side
    filter — no shuffle, no sampling state; at 100 TB this runs at
    scan speed and the filter is co-planned with column pruning."""
    rate = F.lit(_DEFAULT_RATE_BP)
    for lang, bp in sorted(rates_bp.items()):
        rate = F.when(F.col("lang") == lang, F.lit(bp)).otherwise(rate)
    return documents.withColumn("sample_key", hash_bp(F.col(key))).filter(
        F.col("sample_key") < rate
    )


_SAMPLE_RATE_SQL = "CASE lang " + " ".join(
    f"WHEN '{lang}' THEN {bp}" for lang, bp in sorted(SAMPLE_RATES_BP.items())
) + f" ELSE {_DEFAULT_RATE_BP} END"


@query(
    "curation_stratified_sample",
    f"""
    SELECT doc_id, lang, source, {_sql_hash_bp('doc_id')} AS sample_key
    FROM documents
    WHERE {_sql_hash_bp('doc_id')} < ({_SAMPLE_RATE_SQL})
    """,
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified reproducible sample of the corpus."""
    (documents,) = tables(spark, sf_dir, "documents")
    return stratified_sample(documents, SAMPLE_RATES_BP).select(
        "doc_id", "lang", "source", "sample_key"
    )


# --------------------------------------------------------------------
# Sequence packing (concat-and-chunk into token-budget sequences)
# --------------------------------------------------------------------

PACK_BUDGET_TOKENS = 512
PACK_SHARDS = 32  # raise to O(cluster cores) at scale


def pack_sequences(
    documents: DataFrame,
    budget: int = PACK_BUDGET_TOKENS,
    n_shards: int = PACK_SHARDS,
) -> DataFrame:
    """Assign each document to a (shard, seq_id) training sequence:
    documents are concatenated in doc_id order within a hash shard and
    chunked every ``budget`` tokens (a document whose start crosses a
    boundary opens the next sequence — greedy concat-and-chunk, the
    standard pretraining packing).

    The running sum is windowed **per shard**, so parallelism = shard
    count and no stage ever sees a global order. At 100 TB you raise
    ``n_shards`` to the cluster's task count; the plan is one shuffle
    (hash partition by shard) + one in-partition sort.
    """
    toks = F.size(F.split(F.col("text"), " ", -1)).cast("long")
    shard = (hash_bp(F.col("doc_id")) % n_shards).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        documents.select("doc_id", shard, toks.alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        # integer `div`, not `/`-then-cast: Spark casts doubles by
        # truncation but DuckDB CAST rounds — floor division is exact
        # in int64 on both engines.
        .withColumn(
            "seq_id", F.expr(f"(cum_tokens - n_tokens) div {budget}")
        )
    )


@query(
    "curation_pack_sequences",
    f"""
    WITH d AS (
        SELECT doc_id,
               {_sql_hash_bp('doc_id')} % {PACK_SHARDS} AS shard,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT shard,
               (CAST(sum(n_tokens) OVER (
                    PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS BIGINT) - n_tokens) // {PACK_BUDGET_TOKENS} AS seq_id,
               n_tokens
        FROM d
    )
    SELECT shard, seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
    FROM packed
    GROUP BY shard, seq_id
    """,
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the corpus into token-budget training sequences; report
    per-sequence document count and token fill."""
    (documents,) = tables(spark, sf_dir, "documents")
    return (
        pack_sequences(documents)
        .groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
        )
    )


# --------------------------------------------------------------------
# Benchmark contamination (train-test n-gram overlap)
# --------------------------------------------------------------------

# Deterministic stand-in benchmark: every 97th document plays the role
# of the held-out eval set the real pipeline loads from a separate
# (small) table.
_BENCH_MOD = 97


def contamination(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Per-document fraction (basis points) of distinct 3-gram shingles
    that also occur in the benchmark set.

    The benchmark side is aggregated to a distinct-shingle set first —
    eval suites are tiny relative to a crawl, so the probe join is
    broadcast: the corpus never shuffles, each task streams its
    exploded shingles past an in-memory hash set. Never corpus².
    """
    from qms_datawarehouse_spark.operators.dedup import _shingled

    bench_sh = (
        _shingled(benchmark)
        .select(F.explode("shingles").alias("s"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # single shingling pass: carry the doc's shingle count through the
    # explode, probe the broadcast benchmark set with a left join, and
    # fold both counts in ONE groupBy — computing sizes and hits from
    # separate shingling passes plus a re-join doubled the scan work
    # (measured 7.6 s → 4.8 s warm at sf0.1; the remainder is the
    # irreducible single shingling pass)
    ex = (
        _shingled(corpus)
        .filter(F.size("shingles") > 0)
        .select(
            "doc_id",
            F.size("shingles").cast("long").alias("n_shingles"),
            F.explode("shingles").alias("s"),
        )
    )
    return (
        ex.join(F.broadcast(bench_sh), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.max("n_shingles").alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_bp",
            F.expr("(10000 * n_contaminated) div n_shingles"),
        )
    )


@query(
    "curation_contamination",
    f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(string_split(lower(text), ' ')) - 1, 1)),
                   i -> array_to_string(
                       list_slice(string_split(lower(text), ' '), i, i + 2), ' ')
               )) AS shingles
        FROM documents
    ),
    bench AS (
        SELECT DISTINCT unnest(shingles) AS s FROM sh
        WHERE doc_id % {_BENCH_MOD} = 0
    ),
    corpus AS (SELECT * FROM sh WHERE doc_id % {_BENCH_MOD} <> 0),
    sizes AS (
        SELECT doc_id, len(shingles) AS n_shingles FROM corpus
        WHERE len(shingles) > 0
    ),
    hits AS (
        SELECT c.doc_id, count(*) AS n_contaminated
        FROM (SELECT doc_id, unnest(shingles) AS s FROM corpus) c
        JOIN bench USING (s)
        GROUP BY c.doc_id
    )
    SELECT sizes.doc_id, n_shingles,
           coalesce(n_contaminated, 0) AS n_contaminated,
           (10000 * coalesce(n_contaminated, 0)) // n_shingles
               AS contamination_bp
    FROM sizes LEFT JOIN hits ON sizes.doc_id = hits.doc_id
    """,
)
def curation_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-test leakage gate: 3-gram overlap of each corpus document
    against the benchmark subset (``doc_id % 97 == 0``)."""
    (documents,) = tables(spark, sf_dir, "documents")
    bench = documents.filter(F.col("doc_id") % _BENCH_MOD == 0)
    corpus = documents.filter(F.col("doc_id") % _BENCH_MOD != 0)
    return contamination(corpus, bench)


# --------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------

# Patterns restricted to the RE2 ∩ java.util.regex common dialect
# (no backrefs, no lookaround) so Spark and the DuckDB oracle agree.
_PAT_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PAT_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PAT_DIGITS = r"\b[0-9]{5,}\b"


def _spark_pat(pat: str) -> str:
    # Spark SQL string literals eat one level of backslashes.
    return pat.replace("\\", "\\\\")


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails → ``<EMAIL>``, IPv4 → ``<IP>``, then 5+-digit runs
    → ``<NUM>`` (in that order: inner classes are consumed by outer
    ones first so counts don't double-fire). Adds per-class counts and
    the redacted text. Pure map-side regex — scan-speed at 100 TB."""
    c = F.col(text_col)
    out = df.withColumn(
        "n_emails",
        F.size(F.expr(f"regexp_extract_all({text_col}, '{_spark_pat(_PAT_EMAIL)}', 0)")),
    )
    out = out.withColumn("redacted", F.regexp_replace(c, _PAT_EMAIL, "<EMAIL>"))
    out = out.withColumn(
        "n_ips",
        F.size(F.expr(f"regexp_extract_all(redacted, '{_spark_pat(_PAT_IPV4)}', 0)")),
    )
    out = out.withColumn(
        "redacted", F.regexp_replace(F.col("redacted"), _PAT_IPV4, "<IP>")
    )
    out = out.withColumn(
        "n_digit_runs",
        F.size(F.expr(f"regexp_extract_all(redacted, '{_spark_pat(_PAT_DIGITS)}', 0)")),
    )
    return out.withColumn(
        "redacted", F.regexp_replace(F.col("redacted"), _PAT_DIGITS, "<NUM>")
    )


@query(
    "text_pii_redact",
    f"""
    WITH enriched AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com from 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.'
                    || CAST((doc_id * 7) % 256 AS VARCHAR)
                    || ' ref ' || CAST(doc_id * doc_id AS VARCHAR) AS text
        FROM documents
    ),
    e AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '{_PAT_EMAIL}')) AS n_emails,
               regexp_replace(text, '{_PAT_EMAIL}', '<EMAIL>', 'g') AS r1
        FROM enriched
    ),
    i AS (
        SELECT doc_id, n_emails,
               len(regexp_extract_all(r1, '{_PAT_IPV4}')) AS n_ips,
               regexp_replace(r1, '{_PAT_IPV4}', '<IP>', 'g') AS r2
        FROM e
    )
    SELECT doc_id, n_emails, n_ips,
           len(regexp_extract_all(r2, '{_PAT_DIGITS}')) AS n_digit_runs,
           md5(regexp_replace(r2, '{_PAT_DIGITS}', '<NUM>', 'g')) AS redacted_hash
    FROM i
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus. The fixture text is synthetic
    word-salad with no organic PII, so the query plants deterministic
    PII derived from ``doc_id`` (same construction in the oracle) —
    the redaction path is exercised for real, not vacuously."""
    (documents,) = tables(spark, sf_dir, "documents")
    planted = documents.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" ref "),
            (F.col("doc_id") * F.col("doc_id")).cast("string"),
        ).alias("text"),
    )
    return redact_pii(planted).select(
        "doc_id",
        F.col("n_emails").cast("long"),
        F.col("n_ips").cast("long"),
        F.col("n_digit_runs").cast("long"),
        F.md5(F.col("redacted").cast("binary")).alias("redacted_hash"),
    )


# --------------------------------------------------------------------
# Train/validation/test split (boundaries live in hashsplit)
# --------------------------------------------------------------------


def assign_split(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment from the same
    md5 hash as sampling: membership is a pure function of the key,
    so the split is stable across runs, engines, and re-shuffles —
    a document can never leak between splits as the corpus grows."""
    h = hash_bp(F.col(key))
    return df.withColumn(
        "split",
        F.when(h < SPLIT_VAL_BP, F.lit("train"))
        .when(h < SPLIT_TEST_BP, F.lit("val"))
        .otherwise(F.lit("test")),
    )


@query(
    "curation_split_summary",
    f"""
    WITH s AS (
        SELECT lang,
               CASE WHEN {_sql_hash_bp('doc_id')} < {SPLIT_VAL_BP} THEN 'train'
                    WHEN {_sql_hash_bp('doc_id')} < {SPLIT_TEST_BP} THEN 'val'
                    ELSE 'test' END AS split,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    )
    SELECT split, lang, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM s GROUP BY split, lang
    """,
)
def curation_split_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(split, language) document and token counts of the
    deterministic 90/5/5 split — the sanity report run before any
    training job consumes the corpus."""
    (documents,) = tables(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " ", -1)).cast("long")
    return (
        assign_split(documents)
        .select("split", "lang", toks.alias("n_tokens"))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


# --------------------------------------------------------------------
# Exact-k deterministic per-group sampling
# --------------------------------------------------------------------

SAMPLE_EXACT_K = 20
_EXACT_K_SEED = "exk1:"


def sample_exact_k(
    df: DataFrame, group_col: str, key: str = "doc_id", k: int = SAMPLE_EXACT_K
) -> DataFrame:
    """EXACTLY ``k`` rows per group, deterministically: rank rows by
    md5 of (seed || key) and keep the k smallest. The hash-threshold
    sampler keeps a target RATE (count varies with group size ±
    binomial noise); audits, eval sets, and per-stratum quotas need
    an exact count — this is the reservoir-sample analog without
    reservoir state: the hash IS the sample, stable across runs,
    engines, and input order.

    Scale: one keyed window; the rank-limit rides WindowGroupLimit,
    so each task forwards at most k rows per group BEFORE the
    exchange — the shuffle carries O(groups × k), not the corpus."""
    h = F.md5(
        F.concat(F.lit(_EXACT_K_SEED), F.col(key).cast("string")).cast(
            "binary"
        )
    )
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .drop("sample_rank")
    )


@query(
    "curation_sample_exact_k",
    f"""
    SELECT lang, doc_id, n_chars FROM (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5('{_EXACT_K_SEED}' || CAST(doc_id AS VARCHAR)),
                            doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= {SAMPLE_EXACT_K}
    """,
)
def curation_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly {k} documents per language by deterministic md5 rank —
    the quota-sampling companion to the rate-based stratified sampler
    (same hash family, exact counts instead of expected rates)."""
    (documents,) = tables(spark, sf_dir, "documents")
    return sample_exact_k(
        documents.select("lang", "doc_id", "n_chars"), group_col="lang"
    )


# --------------------------------------------------------------------
# Domain mixing: token-budgeted per-source sampling
# --------------------------------------------------------------------

# Per-source token budgets (the "data mixture" of a pretraining run):
# up-weight a few high-quality sources, cap the rest at a default.
MIX_BUDGETS = {"src0": 3000, "src3": 2500, "src7": 2000}
_MIX_DEFAULT_BUDGET = 1000

_MIX_BUDGET_SQL = "CASE source " + " ".join(
    f"WHEN '{s}' THEN {b}" for s, b in sorted(MIX_BUDGETS.items())
) + f" ELSE {_MIX_DEFAULT_BUDGET} END"


def domain_mix(
    documents: DataFrame,
    budgets: dict[str, int],
    default_budget: int = _MIX_DEFAULT_BUDGET,
) -> DataFrame:
    """Fill each source's token budget with a deterministic priority
    sample: documents are ranked inside their source by
    ``md5(doc_id)`` (reproducible, engine-independent) and admitted
    in that order until the source's running token sum crosses its
    budget.

    One hash shuffle on ``source`` + an in-partition sort — the same
    cost envelope as any per-group top-k. Budgets and token counts
    are exact integers, so the admission boundary is engine-stable.
    At 100 TB the per-source partitions are the parallelism unit; a
    corpus whose source cardinality is tiny relative to cores should
    pre-split hot sources (salt the source key, then cap each salt at
    budget/n_salts).
    """
    budget = F.lit(default_budget)
    for s, b in sorted(budgets.items()):
        budget = F.when(F.col("source") == s, F.lit(b)).otherwise(budget)
    toks = F.size(F.split(F.col("text"), " ", -1)).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        documents.select(
            "doc_id",
            "source",
            toks.alias("n_toks"),
            hash_bp(F.col("doc_id")).alias("pri"),
        )
        .withColumn("cum_toks", F.sum("n_toks").over(w))
        .filter(F.col("cum_toks") <= budget)
        .select("doc_id", "source", "n_toks", "cum_toks")
    )


@query(
    "curation_domain_mix",
    f"""
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
               {_sql_hash_bp('doc_id')} AS pri
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_toks,
               CAST(sum(n_toks) OVER (
                   PARTITION BY source ORDER BY pri, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_toks
        FROM t
    )
    SELECT doc_id, source, n_toks, cum_toks
    FROM c WHERE cum_toks <= ({_MIX_BUDGET_SQL})
    """,
)
def curation_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted domain mixture over the corpus sources."""
    (documents,) = tables(spark, sf_dir, "documents")
    return domain_mix(documents, MIX_BUDGETS)


# --------------------------------------------------------------------
# Entity resolution: blocked fuzzy self-match (edit distance)
# --------------------------------------------------------------------


@query(
    "entity_match_blocked",
    """
    WITH names AS (
        SELECT p_name, CAST(count(*) AS BIGINT) AS n,
               min(p_partkey) AS canon_key
        FROM part GROUP BY 1
    ),
    b AS (
        SELECT p_name, n, canon_key,
               string_split(p_name, ' ')[2] AS block
        FROM names
    )
    SELECT x.p_name AS name_a, y.p_name AS name_b,
           CAST(levenshtein(x.p_name, y.p_name) AS BIGINT) AS edit_dist,
           x.n AS n_a, y.n AS n_b,
           x.canon_key AS canon_a, y.canon_key AS canon_b
    FROM b x JOIN b y
      ON x.block = y.block AND x.p_name < y.p_name
    WHERE levenshtein(x.p_name, y.p_name) BETWEEN 1 AND 4
    """,
)
def entity_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by BLOCKED fuzzy matching — the classic
    record-linkage pattern (dedupe candidate names that differ by a
    few edits, e.g. crawl-source author/product strings).

    Scale shape, in order of importance:

    1. records collapse to DISTINCT entity strings first (groupBy
       p_name with counts) — the match runs at entity grain, never
       record grain, so a name occurring 10⁶ times costs one row;
    2. candidate pairs come from an EQUI-join on a blocking key (the
       name's second token — a stable word, the classic "block on a
       reliable field" linkage move) — Σ(block²) over entity-grain
       blocks, never entities², same discipline as the MinHash band
       join (operators/dedup.py). A skewed vocabulary would swap in a
       tighter key (token + length band) exactly like adding LSH
       bands;
    3. ``levenshtein`` (classic edit distance, identical definition
       in Spark and DuckDB) runs only inside blocks.

    Both engines compute exact integer distances, so the match set is
    engine-stable with no float thresholds anywhere."""
    (part,) = tables(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(
        F.count("*").cast("long").alias("n"),
        F.min("p_partkey").alias("canon_key"),
    )
    blocked = names.withColumn(
        "block", F.split("p_name", " ").getItem(1)
    )
    x, y = blocked.alias("x"), blocked.alias("y")
    dist = F.levenshtein(F.col("x.p_name"), F.col("y.p_name"))
    return (
        x.join(
            y,
            (F.col("x.block") == F.col("y.block"))
            & (F.col("x.p_name") < F.col("y.p_name")),
        )
        .filter(dist.between(1, 4))
        .select(
            F.col("x.p_name").alias("name_a"),
            F.col("y.p_name").alias("name_b"),
            dist.cast("long").alias("edit_dist"),
            F.col("x.n").alias("n_a"),
            F.col("y.n").alias("n_b"),
            F.col("x.canon_key").alias("canon_a"),
            F.col("y.canon_key").alias("canon_b"),
        )
    )


# --------------------------------------------------------------------
# Deterministic pre-training shuffle → fixed shard layout
# --------------------------------------------------------------------

_SHUFFLE_SEED = "shuffle-seed-42"
N_SHARDS = 8


@query(
    "curation_shuffle_shards",
    f"""
    WITH h AS (
        SELECT doc_id, source,
               md5(CAST(doc_id AS VARCHAR) || ':{_SHUFFLE_SEED}') AS hv
        FROM documents
    ),
    a AS (
        SELECT doc_id, source, hv,
               CAST(('0x' || substr(hv, 1, 8))::BIGINT % {N_SHARDS}
                    AS BIGINT) AS shard,
               row_number() OVER (
                   PARTITION BY
                       CAST(('0x' || substr(hv, 1, 8))::BIGINT % {N_SHARDS}
                            AS BIGINT)
                   ORDER BY hv, doc_id
               ) AS pos
        FROM h
    )
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           min(hv) AS first_hv,
           CAST(min(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT)
               AS first_doc
    FROM a GROUP BY 1
    """,
)
def shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into {N_SHARDS} export shards —
    the final step of every pre-training pipeline: training order must
    be random-LOOKING but exactly reproducible (restart a crashed
    export, get byte-identical shards). Shard = seeded md5 prefix mod
    N; within-shard order = the full digest. The registered output is
    the per-shard audit view (sizes, source spread, and the FIRST
    element of each shard's order — which pins the permutation, since
    any ordering change moves some shard's head).

    Scale shape: shard assignment is a map-side hash; the within-shard
    sort is per-shard (rangeless — each shard sorts independently at
    export, no global sort). Source mixing is a PROPERTY of hashing on
    doc_id: every shard sees every source in expectation — n_sources
    per shard is the verified evidence."""
    (documents,) = tables(spark, sf_dir, "documents")
    h = documents.select(
        "doc_id",
        "source",
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(f":{_SHUFFLE_SEED}")
            )
        ).alias("hv"),
    ).withColumn(
        "shard",
        (F.conv(F.substring("hv", 1, 8), 16, 10).cast("long") % N_SHARDS),
    )
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    a = h.withColumn("pos", F.row_number().over(w))
    return a.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.min("hv").alias("first_hv"),
        F.min(F.when(F.col("pos") == 1, F.col("doc_id")))
        .cast("long")
        .alias("first_doc"),
    )


# --------------------------------------------------------------------
# Repeat-upsampling (per-source epoch weighting)
# --------------------------------------------------------------------


@query(
    "curation_repeat_upsample",
    """
    WITH w AS (
        SELECT doc_id, source,
               CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2
                           ELSE 1 END AS n_rep
        FROM documents
    ),
    r AS (
        SELECT doc_id, source, CAST(u.i AS BIGINT) AS epoch
        FROM w, UNNEST(range(n_rep)) AS u(i)
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(max(epoch) AS BIGINT) AS max_epoch
    FROM r GROUP BY 1
    """,
)
def repeat_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source repeat-upsampling: high-value sources contribute
    multiple epochs of their documents to the training mix (the
    data-mixing lever behind quality-weighted corpora — up-weight
    curated sources, single-pass the crawl). Each row explodes into
    (doc, epoch 0..n_rep-1); downstream the epoch feeds the shuffle
    hash so repeats land far apart in training order.

    Scale shape: the replication is a map-side explode of a
    sequence(n_rep) — output size is exactly the weighted token
    budget, no shuffle until the audit aggregation. Weights here are
    a fixed CASE map; production wires the domain_mix weight table
    through a broadcast join instead."""
    (documents,) = tables(spark, sf_dir, "documents")
    w = documents.select(
        "doc_id",
        "source",
        F.when(F.col("source") == "src0", 3)
        .when(F.col("source") == "src1", 2)
        .otherwise(1)
        .alias("n_rep"),
    )
    r = w.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(0), F.col("n_rep") - 1)).alias("_e"),
    ).select("doc_id", "source", F.col("_e").cast("long").alias("epoch"))
    return r.groupBy("source").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.max("epoch").cast("long").alias("max_epoch"),
    )


# --------------------------------------------------------------------
# Temperature-weighted domain mixing (alpha-sampling the mixture)
# --------------------------------------------------------------------

_MIX_TARGET_N = 200  # documents in the mixed training set
# alpha = 0.5: weights proportional to sqrt(domain size) — the
# standard temperature-sampling flattening (multilingual/multi-domain
# pretraining mixes use p^alpha to stop head domains from drowning
# tail domains). Integer-side sqrt keeps both engines bit-identical.

_TEMP_MIX_SQL = f"""
    WITH d AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    w AS (
        SELECT source, n_docs,
               CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS weight
        FROM d
    ),
    t AS (SELECT CAST(sum(weight) AS BIGINT) AS total_w FROM w)
    SELECT w.source, w.n_docs, w.weight,
           ({_MIX_TARGET_N} * w.weight) // t.total_w AS target_n,
           CAST(least(({_MIX_TARGET_N} * w.weight) // t.total_w,
                      w.n_docs) AS BIGINT) AS take_n,
           (({_MIX_TARGET_N} * w.weight) // t.total_w > w.n_docs)
               AS needs_upsample
    FROM w, t
"""


@query("curation_temperature_mix", _TEMP_MIX_SQL)
def temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled domain mixture plan: per-source target
    counts proportional to n^0.5 (alpha-temperature flattening — the
    mixture used by multilingual/multi-domain pretraining so head
    domains don't drown tail domains), with the take count capped at
    availability and an upsample flag where the target exceeds it.
    Feeds curation_repeat_upsample (which materializes repeats) and
    the exact-k sampler (which picks the rows).

    Determinism across engines: weights are floor(sqrt(n)) — sqrt is
    IEEE-correctly-rounded in both engines and floor(sqrt) of an
    integer only lands on a boundary when n is a perfect square,
    where sqrt is exact — and everything after is integer division.

    Scale shape: one partial-aggregated count per source, a one-row
    total broadcast, then arithmetic — O(domains) everywhere."""
    (documents,) = tables(spark, sf_dir, "documents")
    w = (
        documents.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .withColumn(
            "weight",
            F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("long"),
        )
    )
    t = w.agg(F.sum("weight").cast("long").alias("total_w"))
    target = F.expr(f"({_MIX_TARGET_N} * weight) div total_w")
    return w.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "weight",
        target.alias("target_n"),
        F.least(target, F.col("n_docs")).cast("long").alias("take_n"),
        (target > F.col("n_docs")).alias("needs_upsample"),
    )


# --------------------------------------------------------------------
# Temporal split with embargo (leakage-proof holdout over time)
# --------------------------------------------------------------------

_SPLIT_T0 = "2024-01-20 00:00:00"
_EMBARGO_DAYS = 2

_TEMPORAL_SPLIT_SQL = f"""
    WITH s AS (
        SELECT CASE
                 WHEN ts < TIMESTAMP '{_SPLIT_T0}' THEN 'train'
                 WHEN ts < TIMESTAMP '{_SPLIT_T0}'
                      + INTERVAL {_EMBARGO_DAYS} DAY THEN 'embargo'
                 ELSE 'test'
               END AS split,
               event_type, user_id, ts
        FROM events
    )
    SELECT split, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           epoch_us(min(ts)) AS min_ts_us,
           epoch_us(max(ts)) AS max_ts_us
    FROM s GROUP BY split, event_type
"""


@query("curation_temporal_split", _TEMPORAL_SPLIT_SQL)
def temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/test holdout with an EMBARGO gap: train is
    strictly before T0, test strictly after T0+gap, and the embargo
    rows between are EXCLUDED from both — the temporal analog of the
    cluster-keyed split (dedup_split_leakage): near-boundary rows leak
    context across the cut (a user's session straddling T0 puts
    near-identical events on both sides), so a gap of at least the
    correlation horizon makes straddling impossible by construction.
    Output = per-(split, event_type) counts and time extents; the
    min/max timestamps make the gap itself part of the value hash.

    Scale shape: one map-side CASE + one partial-aggregated group-by;
    at 100 TB on a ts-partitioned layout the three splits are
    partition ranges and the embargo drop is partition pruning."""
    (events,) = tables(spark, sf_dir, "events")
    t0 = F.lit(_SPLIT_T0).cast("timestamp")
    t1 = F.lit(_SPLIT_T0).cast("timestamp") + F.expr(
        f"INTERVAL {_EMBARGO_DAYS} DAYS"
    )
    s = events.select(
        F.when(F.col("ts") < t0, "train")
        .when(F.col("ts") < t1, "embargo")
        .otherwise("test")
        .alias("split"),
        "event_type",
        "user_id",
        "ts",
    )
    return s.groupBy("split", "event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.unix_micros(F.min("ts")).alias("min_ts_us"),
        F.unix_micros(F.max("ts")).alias("max_ts_us"),
    )


# --------------------------------------------------------------------
# k-anonymity audit (privacy gate before a corpus/table is released)
# --------------------------------------------------------------------

_K_ANON = 5  # minimum group size for release

_K_ANON_SQL = f"""
    SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           (count(*) < {_K_ANON}) AS violates_k
    FROM customer
    GROUP BY 1, 2
"""


@query("privacy_k_anonymity", _K_ANON_SQL)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple (nation,
    market segment): every equivalence class smaller than k={_K_ANON}
    is a re-identification risk — the release gate run before a
    derived table or training corpus leaves the governed zone, the
    privacy sibling of the PII redaction pass (text_pii_redact).
    Output = every class with its size and violation flag, so the
    hash pins the full risk surface, not just the count.

    Scale shape: one partial-aggregated group-by on the
    quasi-identifier tuple — O(classes) output; the suppression step
    that would follow (drop or generalize violating classes) is a
    semi-join of the corpus against the violating classes."""
    (customer,) = tables(spark, sf_dir, "customer")
    return customer.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
    ).agg(
        F.count("*").cast("long").alias("n"),
        (F.count("*") < _K_ANON).alias("violates_k"),
    )


_L_DIV = 3  # minimum distinct sensitive values per released class

_L_DIV_SQL = f"""
    SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
                AS BIGINT) AS l_sensitive,
           (count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
                < {_L_DIV}) AS violates_l
    FROM customer
    GROUP BY 1, 2
"""


@query("privacy_l_diversity", _L_DIV_SQL)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attack k-anonymity misses: a class can
    be large (k-safe) yet carry ONE sensitive value, so membership
    alone discloses it (homogeneity attack). Over the same
    quasi-identifier tuple as ``privacy_k_anonymity`` (nation, market
    segment), the sensitive attribute is the account-balance bracket
    (floor(acctbal/1000) — floor rounds toward -inf identically in
    both engines, so negative balances bracket the same); a class
    violates when it holds fewer than l={_L_DIV} distinct brackets.
    Output = every class with size, distinct-sensitive count and
    violation flag — the full disclosure surface in the value hash.

    Scale shape: one partial-aggregated group-by with a single exact
    distinct (Spark expands to two-phase aggregate, still one
    logical exchange on the class tuple); O(classes) output. The
    suppression step that follows mirrors the k-anon gate: semi-join
    the corpus against violating classes."""
    (customer,) = tables(spark, sf_dir, "customer")
    bracket = F.floor(F.col("c_acctbal") / 1000).cast("long")
    return customer.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct(bracket).cast("long").alias("l_sensitive"),
        (F.countDistinct(bracket) < _L_DIV).alias("violates_l"),
    )


# --------------------------------------------------------------------
# Differentially private release (Laplace mechanism, seeded noise)
# --------------------------------------------------------------------

_DP_SQL = """
    WITH g AS (
        SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
               count(*) AS n
        FROM customer GROUP BY 1, 2
    ),
    uu AS (
        SELECT *,
               (CAST(('0x' || substr(md5(
                    CAST(nationkey AS VARCHAR) || '|' || mktsegment),
                    1, 8))::UBIGINT AS BIGINT) + 0.5) / 4294967296.0 AS u
        FROM g
    )
    SELECT nationkey, mktsegment,
           CAST(n AS BIGINT) AS n,
           round(CASE WHEN u >= 0.5 THEN -ln(2.0 - 2.0 * u)
                      ELSE ln(2.0 * u) END, 4) AS noise,
           round(n + (CASE WHEN u >= 0.5 THEN -ln(2.0 - 2.0 * u)
                           ELSE ln(2.0 * u) END), 1) AS noisy_count
    FROM uu
"""


@query("privacy_dp_laplace_counts", _DP_SQL)
def privacy_dp_laplace_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially private class counts via the Laplace mechanism
    (ε = 1, sensitivity 1 ⇒ scale b = 1) over the same release
    classes as the k-anonymity/l-diversity audits — completing the
    privacy trio: suppress small classes (k-anon), check value
    homogeneity (l-div), and NOISE what you release (DP). The noise
    is Laplace inverse-CDF: −sgn(u−½)·ln(1−2|u−½|), algebraically
    −ln(2−2u) / ln(2u) per branch.

    The uniform here is SEEDED from the class key (md5-integer + ½,
    over 2³²) — what a reproducible-release audit uses so two engines
    (and two runs) can verify the same noised table; a production
    release under a real privacy budget swaps in fresh randomness per
    epsilon spend, same plan. Cross-engine: u is a ratio of identical
    integers, ln over identical doubles rounds identically at 4
    decimals (the library's float-chain rule), and the true count
    stays in the row because this registered form is the AUDIT of the
    mechanism, not the public artifact.

    Scale shape: one partial-aggregated groupBy; the noise is a
    per-row expression on O(classes) rows."""
    (customer,) = tables(spark, sf_dir, "customer")
    g = customer.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
    ).agg(F.count("*").cast("long").alias("n"))
    h = F.conv(
        F.md5(
            F.concat(
                F.col("nationkey").cast("string"),
                F.lit("|"),
                F.col("mktsegment"),
            ).cast("binary")
        ).substr(1, 8),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    uu = g.withColumn("u", u)
    noise = F.expr(
        "CASE WHEN u >= 0.5 THEN -ln(2.0 - 2.0 * u) ELSE ln(2.0 * u) END"
    )
    return uu.select(
        "nationkey",
        "mktsegment",
        "n",
        F.round(noise, 4).alias("noise"),
        F.round(F.col("n") + noise, 1).alias("noisy_count"),
    )


# --------------------------------------------------------------------
# Quality-weighted (importance) sampling
# --------------------------------------------------------------------

_QW_CAP = 1000  # n_chars cap: score saturates for long docs


@query(
    "curation_quality_weighted_sample",
    f"""
    WITH scored AS (
        SELECT doc_id, source,
               least(n_chars, {_QW_CAP}) AS score,
               {_sql_hash_bp('doc_id')} AS h
        FROM documents
    ),
    kept AS (
        SELECT * FROM scored WHERE h < score * 5
    )
    SELECT s.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(s.score) AS BIGINT) AS total_score,
           CAST(count(k.doc_id) AS BIGINT) AS n_sampled,
           CAST(coalesce(sum(k.kscore), 0) AS BIGINT) AS sampled_score
    FROM scored s
    LEFT JOIN (SELECT doc_id, score AS kscore FROM kept) k
      ON s.doc_id = k.doc_id
    GROUP BY s.source
    """,
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMPORTANCE sampling: each document's acceptance probability is
    proportional to its quality score (here the length proxy, capped —
    swap in the composite text_quality score in production), decided
    by the same deterministic md5 bucket the rate/quota samplers use:
    accept iff hash_bp < score·5 (probability score/2000). The third
    sampler semantics alongside stratified (fixed rate per stratum)
    and exact-k (fixed quota): high-quality documents oversample,
    junk undersamples, reruns pick identical rows. Output = per-source
    totals vs sampled mass, so the quality shift is in the hash.

    Scale shape: scoring + the accept test are map-side expressions
    co-planned with the scan; the summary is one keyed aggregation.
    No shuffle of the corpus, no RNG state."""
    (documents,) = tables(spark, sf_dir, "documents")
    scored = documents.select(
        "doc_id",
        "source",
        F.least(F.col("n_chars"), F.lit(_QW_CAP)).alias("score"),
        hash_bp(F.col("doc_id")).alias("h"),
    )
    kept = scored.filter(F.col("h") < F.col("score") * 5).select(
        "doc_id", F.col("score").alias("kscore")
    )
    return (
        scored.join(kept, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("score").cast("long").alias("total_score"),
            F.count("kscore").cast("long").alias("n_sampled"),
            F.coalesce(F.sum("kscore"), F.lit(0))
            .cast("long")
            .alias("sampled_score"),
        )
    )


# --------------------------------------------------------------------
# DSIR: data selection via importance resampling (hashed n-grams)
# --------------------------------------------------------------------

# Xie et al. 2023 ("Data Selection for Language Models via Importance
# Resampling"): estimate target and raw distributions over HASHED
# n-gram features (here: word bigrams into 1024 buckets), score every
# raw document by its importance log-weight
#     log w(d) = sum over features f of c_f(d) * ln((t_f+1)/(r_f+1)),
# and resample raw data with probability proportional to w. The
# target slice here is the English subset (lang = 'en') — the
# "high-quality corpus" stand-in; the estimator is exactly DSIR's
# bag-of-hashed-ngrams form.
_DSIR_BUCKETS = 1024


_DSIR_SQL = f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
    b AS (
        SELECT doc_id, lang,
               {_sql_hash_u32("pr[1] || ' ' || pr[2]")} % {_DSIR_BUCKETS} AS bucket
        FROM (SELECT doc_id, lang,
                     unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS pr
              FROM t)
    ),
    raw AS (SELECT bucket, count(*) AS r FROM b GROUP BY 1),
    tgt AS (SELECT bucket, count(*) AS tc FROM b WHERE lang = 'en' GROUP BY 1),
    lam AS (
        SELECT raw.bucket,
               ln((coalesce(tc, 0) + 1.0) / (r + 1.0)) AS lam
        FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket
    ),
    db AS (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY 1, 2),
    s AS (
        SELECT db.doc_id,
               CAST(sum(c) AS BIGINT) AS n_feats,
               round(sum(c * lam), 4) AS dsir_logw
        FROM db JOIN lam ON db.bucket = lam.bucket
        GROUP BY 1
    )
    SELECT doc_id, n_feats, dsir_logw,
           CAST(CASE WHEN dsir_logw >= 0 THEN 1 ELSE 0 END AS BIGINT) AS selected
    FROM s
"""


@query("curation_dsir_weights", _DSIR_SQL)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): score every raw
    document by how target-like its hashed-bigram profile is —
    log w(d) = Σ_f c_f(d)·ln((t_f+1)/(r_f+1)) over 1024 feature
    buckets, target = the English slice. `selected` thresholds the
    log-weight at 0 (raw-favored vs target-favored); the production
    resampler draws with probability ∝ w via the deterministic-hash
    acceptance machinery of curation_importance_sample.

    Scale shape: the feature stream is one explode of map-side-zipped
    bigrams; BOTH distribution estimates are partial-aggregated to the
    BOUNDED bucket table (1024 rows — broadcast to score, the hashing
    trick's whole point); per-doc scoring is one (doc, bucket) keyed
    agg, one broadcast join, one doc-keyed agg. Nothing in the plan
    grows with vocabulary, and the corpus is never joined to itself.
    Cross-engine determinism: counts are exact integers; the only
    float is ln on identical integer ratios, summed per-doc and
    rounded to 4 decimals (the bigram_lm_score precedent — per-term
    ulp drift ~1e-16, far below the rounding grain)."""
    (documents,) = tables(spark, sf_dir, "documents")
    # single-file corpus reads as ONE partition; the bigram zip +
    # explode below is the expensive map-side term
    t = spread(documents).select(
        "doc_id", "lang", F.split(F.col("text"), " ", -1).alias("w")
    )
    b = t.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.slice("w", 1, F.size("w") - 1),
                lambda x, i: F.concat_ws(" ", x, F.element_at(F.col("w"), i + 2)),
            )
        ).alias("bg"),
    ).select(
        "doc_id",
        "lang",
        (hash_u32(F.col("bg")) % _DSIR_BUCKETS).alias("bucket"),
    )
    raw = b.groupBy("bucket").agg(F.count("*").alias("r"))
    tgt = (
        b.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count("*").alias("tc"))
    )
    lam = raw.join(tgt, "bucket", "left").select(
        "bucket",
        F.log(
            (F.coalesce(F.col("tc"), F.lit(0)) + F.lit(1.0))
            / (F.col("r") + F.lit(1.0))
        ).alias("lam"),
    )
    db = b.groupBy("doc_id", "bucket").agg(F.count("*").alias("c"))
    s = (
        db.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            F.round(F.sum(F.col("c") * F.col("lam")), 4).alias("dsir_logw"),
        )
    )
    return s.select(
        "doc_id",
        "n_feats",
        "dsir_logw",
        F.when(F.col("dsir_logw") >= 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("selected"),
    )


# --------------------------------------------------------------------
# k-center coreset selection (greedy farthest-point traversal)
# --------------------------------------------------------------------

_KC_K = 8  # representatives to select


def _kc_sql() -> str:
    # greedy farthest-point unrolled into K stages: each stage picks
    # the vector MAXIMIZING its distance to the nearest already-
    # selected center (ties to the lowest vec_id); distances are
    # exact bigint squared-L2 on the shared fixed-point quantization.
    # Prior selections enter each stage as CROSS-JOINED 1-row CTEs
    # (DuckDB rejects subqueries inside lambdas), all MATERIALIZED —
    # inlined CTEs re-expand every prior stage at every reference and
    # the plan goes exponential in K (measured: hangs at K=8,
    # 0.1s materialized).
    stages = []
    union = "SELECT vec_id, 1 AS rank, 0 AS dist2 FROM sel1"
    for k in range(2, _KC_K + 1):
        prev_ids = " UNION ALL ".join(
            f"SELECT vec_id FROM sel{j}" for j in range(1, k)
        )
        froms = "".join(f", sel{j} s{j}" for j in range(1, k))
        mind = "least(" + ", ".join(
            "list_sum(list_transform(range(1, 65), i -> "
            f"(e.v[i] - s{j}.v[i]) * (e.v[i] - s{j}.v[i])))"
            for j in range(1, k)
        ) + ")"
        stages.append(
            f"""sel{k} AS MATERIALIZED (
        SELECT e.vec_id, e.v, CAST({mind} AS BIGINT) AS dist2
        FROM q e{froms}
        WHERE e.vec_id NOT IN ({prev_ids})
        ORDER BY dist2 DESC, e.vec_id
        LIMIT 1
    )"""
        )
        union += f" UNION ALL SELECT vec_id, {k} AS rank, dist2 FROM sel{k}"
    stage_sql = ",\n    ".join(stages)
    return f"""
    WITH q AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                   x -> CAST(floor((x + 1.0) * 1000.0) AS BIGINT)) AS v
        FROM embeddings
    ),
    sel1 AS MATERIALIZED (
        SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 1),
    {stage_sql}
    SELECT CAST(rank AS BIGINT) AS rank,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(dist2 AS BIGINT) AS dist2
    FROM ({union})
    ORDER BY rank
"""


@query("curation_coreset_kcenter", _kc_sql())
def curation_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center coreset selection: greedy farthest-point traversal
    (Gonzalez 1985 — the 2-approximation to the k-center cover),
    the data-selection primitive behind diversity-first coreset
    sampling: each round adds the vector FARTHEST from its nearest
    already-chosen representative, so k rounds cover the embedding
    space's extremes instead of its modes. The complement of k-means
    (which seeks the modes) and of MMR (which diversifies around a
    relevance query); the fourth member of the iterative family
    (Lloyd, PageRank, CC).

    Cross-engine exactness: vectors quantize by the shared
    fixed-point shift (kmeans_core's floor((x+1)·1000)), distances
    are bigint squared-L2, each round's argmax is a total order
    (dist2 desc, vec_id) — the oracle unrolls the SAME greedy into K
    SQL stages, so the selected set, order, and distances hash-match.

    Scale shape: each round broadcasts the ≤k selected centers as
    LITERAL arrays into a map-side min-distance fold and cuts with
    TakeOrdered(1) — k bounded passes over the corpus, one 1-row
    collect per round (the CC/PageRank per-round-scalar bound), no
    joins, no shuffle of the embedding table; the k×64-int state
    rides in the plan itself."""
    from qms_datawarehouse_spark.operators.kmeans_core import _km_quantized

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    q = _km_quantized(embeddings).persist()

    first = q.orderBy("vec_id").limit(1).collect()[0]
    picked = [(1, int(first["vec_id"]), 0)]
    center = list(first["v"])
    # Incremental running minimum: min-dist-to-chosen-set is
    # min(previous running min, dist to the NEWEST center) — so each
    # round scores ONE center instead of re-scoring all k chosen so
    # far (identical values: least() iterated equals array_min over
    # the full set, exact on integers). The per-round (vec_id, v,
    # mind) frame is persisted and the previous round's dropped, so
    # round cost is O(N·64) with an O(64)-literal plan instead of
    # O(N·64·k) with a k×64-literal plan that recompiled per round.
    state = None
    for rank in range(2, _KC_K + 1):
        # the newest center enters as ONE expr string — 64 F.lit
        # Columns cost 64 py4j round-trips of driver time per round
        # (~0.2 s over the loop, pure plan construction); bigint
        # literals are exact
        c = "array(" + ",".join(f"{int(x)}L" for x in center) + ")"
        d_new = F.expr(
            f"aggregate(zip_with(v, {c}, (a, b) -> (a - b) * (a - b)), "
            "0L, (acc, x) -> acc + x)"
        )
        base = q if state is None else state
        mind = d_new if state is None else F.least(F.col("mind"), d_new)
        new_state = base.select("vec_id", "v", mind.alias("mind")).persist()
        row = (
            new_state.filter(~F.col("vec_id").isin([p[1] for p in picked]))
            .orderBy(F.desc("mind"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        if state is not None:
            state.unpersist()
        state = new_state
        picked.append((rank, int(row["vec_id"]), int(row["mind"])))
        center = list(row["v"])
    if state is not None:
        state.unpersist()
    q.unpersist()
    return spark.createDataFrame(
        picked, "rank long, vec_id long, dist2 long"
    )
