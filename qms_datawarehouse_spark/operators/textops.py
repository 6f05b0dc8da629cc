"""Text analysis for large-scale training-data pipelines.

Operators over the ``documents`` corpus (doc_id, text, lang, source,
n_chars): token counting, quality scoring, language-ID heuristic,
document fingerprinting. All pure built-in column expressions
(split / higher-order array functions / regexp / md5) — JVM-side,
no Python on the data path, so they scale linearly with the corpus:
one parquet scan, no shuffle except the final (tiny) aggregations.

Cross-engine determinism: every score is integer-arithmetic-derived
ratios rounded to 4 decimals; fingerprints are md5 (identical in
DuckDB); language scores tie-break by a fixed language order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qms_datawarehouse_spark.operators.hashsplit import (
    _sql_hash_u32,
    hash_u32,
)
from qms_datawarehouse_spark.planaudit import checkpoint_result
from qms_datawarehouse_spark.plans.registry import query, tables
from qms_datawarehouse_spark.session import spread

STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")

# Deterministic marker lexicons for the language-ID heuristic. A real
# deployment uses char-n-gram profiles; the *operator shape* is the
# same: per-language hit score over the token stream, argmax with a
# fixed tie-break.
LANG_MARKERS = {
    "de": ("table", "hash", "fast"),
    "en": ("the", "a", "row"),
    "es": ("data", "scan", "filter"),
    "fr": ("order", "query", "value"),
    "zh": ("spark", "merge", "batch"),
}


def _words(col: Column) -> Column:
    return F.split(col, " ", -1)


def _hits(words: Column, vocab: tuple[str, ...]) -> Column:
    """Occurrences (with multiplicity) of ``vocab`` words."""
    lit_set = [F.lit(v) for v in vocab]
    return F.size(F.filter(words, lambda w: w.isin(*[v for v in vocab])))


def _sql_hits(vocab: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{v}'" for v in vocab)
    return f"len(list_filter(w, x -> x IN ({quoted})))"


# --------------------------------------------------------------------
# Token counting
# --------------------------------------------------------------------


_BPE_ISH = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


@query(
    "text_token_stats",
    f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
           strlen(text) AS n_chars,
           len(w) AS n_words,
           len(list_distinct(w)) AS n_distinct_words,
           round(list_sum(list_transform(w, x -> strlen(x))) * 1.0 / len(w), 4)
               AS avg_word_len,
           len(regexp_extract_all(text, '{_BPE_ISH}')) AS n_subword_tokens
    FROM t
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct vocab, mean token
    length, and a BPE-ish pre-tokenizer count (letter runs / single
    digits / punctuation — the GPT-2 pre-tokenizer's shape) — all
    array/regex built-ins, zero UDFs."""
    (documents,) = tables(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    return documents.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(w).cast("long").alias("n_words"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct_words"),
        F.round(
            F.aggregate(F.transform(w, F.length), F.lit(0), lambda a, x: a + x)
            * 1.0
            / F.size(w),
            4,
        ).alias("avg_word_len"),
        # Spark SQL string literals process backslash escapes (DuckDB's
        # don't) — double them or \s silently becomes the letter s
        F.size(
            F.expr(
                f"regexp_extract_all(text, '{_BPE_ISH.replace(chr(92), chr(92) * 2)}', 0)"
            )
        )
        .cast("long")
        .alias("n_subword_tokens"),
    )


# --------------------------------------------------------------------
# Quality scoring
# --------------------------------------------------------------------

# Ratios surfaced in integer BASIS POINTS via exact integer floor
# division — float round() sits on half-boundaries (round(0.49975, 4)
# split Spark vs DuckDB at sf0.1), integer arithmetic cannot.
# quality = 0.4·min(1, n/50) + 0.3·stop/n + 0.3·distinct/n, scaled by
# the common denominator 500n: numerator 4n² + 150(h+d) for n<50,
# 200n + 150(h+d) otherwise — all exact in int64.

_QUALITY_SQL = f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    m AS (
        SELECT doc_id,
               len(w) AS n,
               {_sql_hits(STOPWORDS)} AS h,
               len(list_distinct(w)) AS d,
               strlen(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
               strlen(text) AS chars
        FROM t
    )
    SELECT doc_id,
           (10000 * h) // n AS stopword_bp,
           (10000 * d) // n AS distinct_bp,
           (10000 * digits) // chars AS digit_bp,
           (10000 * (CASE WHEN n < 50 THEN 4 * n * n + 150 * (h + d)
                          ELSE 200 * n + 150 * (h + d) END))
               // (500 * n) AS quality_bp
    FROM m
"""


@query("text_quality", _QUALITY_SQL)
def quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / stopword / vocabulary-diversity /
    digit-density signals blended into one score — the standard
    pre-training corpus filter shape. All ratios in exact integer
    basis points (see SQL comment: cross-engine float rounding is not
    deterministic at half-boundaries; int64 floor division is)."""
    (documents,) = tables(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    m = documents.select(
        "doc_id",
        F.size(w).cast("long").alias("n"),
        _hits(w, STOPWORDS).cast("long").alias("h"),
        F.size(F.array_distinct(w)).cast("long").alias("d"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("long").alias("digits"),
        F.length("text").cast("long").alias("chars"),
    )
    # `div` is exact int64 floor division — double `/` can round up
    # across an integer boundary before a floor/cast
    return m.selectExpr(
        "doc_id",
        "(10000 * h) div n AS stopword_bp",
        "(10000 * d) div n AS distinct_bp",
        "(10000 * digits) div chars AS digit_bp",
        """(10000 * (CASE WHEN n < 50 THEN 4 * n * n + 150 * (h + d)
                     ELSE 200 * n + 150 * (h + d) END))
           div (500 * n) AS quality_bp""",
    )


# --------------------------------------------------------------------
# Language ID (marker-lexicon heuristic)
# --------------------------------------------------------------------

_LANGS = sorted(LANG_MARKERS)  # fixed tie-break order

_LANGID_SQL = f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
    s AS (
        SELECT doc_id, lang,
               {", ".join(f"{_sql_hits(LANG_MARKERS[lang])} AS s_{lang}" for lang in _LANGS)}
        FROM t
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE {" ".join(f"WHEN s_{lang} = greatest({', '.join('s_' + x for x in _LANGS)}) THEN '{lang}'" for lang in _LANGS)}
           END AS predicted_lang
    FROM s
"""


@query("text_langid", _LANGID_SQL)
def langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language marker-hit scores, argmax
    with fixed alphabetical tie-break. The char-n-gram version swaps
    the marker lists for n-gram profiles; the plan shape is
    identical."""
    (documents,) = tables(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    df = documents.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[_hits(w, LANG_MARKERS[lang]).alias(f"s_{lang}") for lang in _LANGS],
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in _LANGS])
    pred = F.when(F.col(f"s_{_LANGS[0]}") == best, F.lit(_LANGS[0]))
    for lang in _LANGS[1:]:
        pred = pred.when(F.col(f"s_{lang}") == best, F.lit(lang))
    return df.select("doc_id", "labeled_lang", pred.alias("predicted_lang"))


# --------------------------------------------------------------------
# Document fingerprinting
# --------------------------------------------------------------------


@query(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(text) AS fingerprint,
           md5(lower(array_to_string(list_sort(list_distinct(
               string_split(lower(text), ' '))), ' '))) AS shingle_fingerprint
    FROM documents
    """,
)
def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprinting: exact content hash + an order-insensitive
    bag-of-words hash (sorted distinct tokens re-hashed) — the cheap
    canonicalization layer under exact dedup."""
    (documents,) = tables(spark, sf_dir, "documents")
    w = F.split(F.lower(F.col("text")), " ", -1)
    return documents.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fingerprint"),
        F.md5(
            F.lower(F.array_join(F.array_sort(F.array_distinct(w)), " ")).cast(
                "binary"
            )
        ).alias("shingle_fingerprint"),
    )


# --------------------------------------------------------------------
# Corpus curation: the composed training-data pipeline
# --------------------------------------------------------------------

_MIN_QUALITY_BP = 4500
_KEEP_LANGS = ("de", "en", "es", "fr")
_TOKEN_BUDGET = 8000

_CURATION_SQL = f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    m AS (
        SELECT doc_id, text,
               len(w) AS n,
               {_sql_hits(STOPWORDS)} AS h,
               len(list_distinct(w)) AS d,
               {", ".join(f"{_sql_hits(LANG_MARKERS[lang])} AS s_{lang}" for lang in _LANGS)}
        FROM t
    ),
    scored AS (
        SELECT doc_id, text, n AS n_words,
               (10000 * (CASE WHEN n < 50 THEN 4 * n * n + 150 * (h + d)
                              ELSE 200 * n + 150 * (h + d) END))
                   // (500 * n) AS quality_bp,
               CASE {" ".join(f"WHEN s_{lang} = greatest({', '.join('s_' + x for x in _LANGS)}) THEN '{lang}'" for lang in _LANGS)}
               END AS predicted_lang
        FROM m
    ),
    filtered AS (
        SELECT * FROM scored
        WHERE quality_bp >= {_MIN_QUALITY_BP}
          AND predicted_lang IN {_KEEP_LANGS!r}
    ),
    deduped AS (
        SELECT doc_id, predicted_lang, quality_bp, n_words FROM (
            SELECT *, row_number() OVER (
                PARTITION BY md5(text) ORDER BY doc_id
            ) AS rn FROM filtered
        ) WHERE rn = 1
    )
    SELECT doc_id, predicted_lang, quality_bp, n_words, cum_words FROM (
        SELECT *, CAST(sum(n_words) OVER (
                   ORDER BY quality_bp DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_words
        FROM deduped
    ) WHERE cum_words <= {_TOKEN_BUDGET}
"""


@query("corpus_curation", _CURATION_SQL)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline over one corpus scan:
    quality score (int basis points) → language filter → exact dedup
    (content hash, lowest doc_id wins) → greedy token budget (running
    word sum over quality-desc order, cut at the budget). This is the
    end-to-end curation operation an LLM-data user runs — every stage
    reuses a verified kernel above, and the whole composition is
    oracle-checked.

    Scale shape: scoring/langid/hash are one map-side pass (no
    shuffle); dedup is one hash shuffle; the budget cut is TWO-PASS —
    quality_bp is integer basis points in [0, 10000], so a bounded
    ≤10001-row histogram (quality_bp → bucket word sum) computes each
    bucket's cumulative-word OFFSET (window over the histogram only),
    broadcasts it back, and filters out every bucket that starts past
    the budget MAP-SIDE; the exact running sum then runs PARTITIONED
    BY quality_bp (distributed — only budget-reachable buckets reach
    it), with the broadcast offset restoring the global cumulative
    value. No task ever sorts or scans the whole kept corpus; the
    values are bit-identical to the naive global window the oracle
    runs. Constants are module-level so a deployment tunes them per
    corpus."""
    (documents,) = tables(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    m = documents.select(
        "doc_id",
        "text",
        F.size(w).cast("long").alias("n"),
        _hits(w, STOPWORDS).cast("long").alias("h"),
        F.size(F.array_distinct(w)).cast("long").alias("d"),
        *[_hits(w, LANG_MARKERS[lang]).alias(f"s_{lang}") for lang in _LANGS],
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in _LANGS])
    pred = F.when(F.col(f"s_{_LANGS[0]}") == best, F.lit(_LANGS[0]))
    for lang in _LANGS[1:]:
        pred = pred.when(F.col(f"s_{lang}") == best, F.lit(lang))
    scored = m.select(
        "doc_id",
        "text",
        F.col("n").alias("n_words"),
        F.expr(
            """(10000 * (CASE WHEN n < 50 THEN 4 * n * n + 150 * (h + d)
                         ELSE 200 * n + 150 * (h + d) END))
               div (500 * n)"""
        ).alias("quality_bp"),
        pred.alias("predicted_lang"),
    )
    filtered = scored.filter(
        (F.col("quality_bp") >= _MIN_QUALITY_BP)
        & F.col("predicted_lang").isin(*_KEEP_LANGS)
    )
    wdup = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    deduped = (
        filtered.withColumn("rn", F.row_number().over(wdup))
        .filter(F.col("rn") == 1)
        .select("doc_id", "predicted_lang", "quality_bp", "n_words")
    )
    # pass 1: bounded histogram (quality_bp ∈ [0, 10000] by
    # construction) → per-bucket word offset = words in all strictly
    # higher-quality buckets; the window runs over ≤10001 rows
    whist = Window.orderBy(F.desc("quality_bp")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        deduped.groupBy("quality_bp")
        .agg(F.sum("n_words").alias("bucket_words"))
        .select(
            "quality_bp",
            F.coalesce(F.sum("bucket_words").over(whist), F.lit(0))
            .cast("long")
            .alias("bucket_offset"),
        )
    )
    # pass 2: broadcast the offsets back; buckets starting at or past
    # the budget drop map-side, the exact running sum is per-bucket
    wbucket = (
        Window.partitionBy("quality_bp")
        .orderBy(F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        deduped.join(F.broadcast(offsets), "quality_bp")
        .filter(F.col("bucket_offset") < _TOKEN_BUDGET)
        .withColumn(
            "cum_words",
            F.col("bucket_offset") + F.sum("n_words").over(wbucket),
        )
        .filter(F.col("cum_words") <= _TOKEN_BUDGET)
        .select(
            "doc_id", "predicted_lang", "quality_bp", "n_words", "cum_words"
        )
    )


# --------------------------------------------------------------------
# Repetition filtering (Gopher-style quality rules)
# --------------------------------------------------------------------

# Thresholds in basis points, tuned so the fixture corpus rejects a
# real fraction (25/500 at sf0.01) — a 0-reject gate verifies nothing.
_REP_MAX_DUP_WORD_BP = 7800
_REP_MAX_TOP_BIGRAM_BP = 900
_REP_MAX_DUP_TRIGRAM_BP = 2500

_REPETITION_SQL = f"""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
    g AS (
        SELECT doc_id, 1 AS n, unnest(w) AS g FROM t
        UNION ALL
        SELECT doc_id, 2 AS n,
               unnest(list_transform(range(1, len(w)),
                   i -> array_to_string(list_slice(w, i, i + 1), ' '))) AS g
        FROM t WHERE len(w) >= 2
        UNION ALL
        SELECT doc_id, 3 AS n,
               unnest(list_transform(range(1, len(w) - 1),
                   i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS g
        FROM t WHERE len(w) >= 3
    ),
    c AS (SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY ALL),
    p AS (
        SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS total, max(c) AS topn,
               count(*) AS uniq,
               CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dupocc
        FROM c GROUP BY 1, 2
    ),
    m AS (
        SELECT doc_id,
               max(CASE WHEN n = 1 THEN total END) AS n_words,
               coalesce(max(CASE WHEN n = 1
                   THEN (total - uniq) * 10000 // total END), 0) AS dup_word_bp,
               coalesce(max(CASE WHEN n = 2
                   THEN topn * 10000 // total END), 0) AS top_bigram_bp,
               coalesce(max(CASE WHEN n = 3
                   THEN dupocc * 10000 // total END), 0) AS dup_trigram_bp
        FROM p GROUP BY 1
    )
    SELECT doc_id, n_words, dup_word_bp, top_bigram_bp, dup_trigram_bp,
           CAST(CASE WHEN dup_word_bp < {_REP_MAX_DUP_WORD_BP}
                      AND top_bigram_bp < {_REP_MAX_TOP_BIGRAM_BP}
                      AND dup_trigram_bp < {_REP_MAX_DUP_TRIGRAM_BP}
                THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM m
"""


@query("text_repetition", _REPETITION_SQL)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate: per-document duplicate-word
    fraction, most-frequent-bigram share, and duplicated-trigram
    occupancy, each as exact integer basis points, plus the keep/
    reject decision at the published-style thresholds.

    Plan shape: three scan branches (unigrams pass the word array
    straight to explode; bigrams/trigrams come from the compiled
    NGram sliding window — no interpreted lambdas), one union, then a
    two-level aggregation tree keyed (doc, n, gram) → (doc, n) →
    doc. Partial aggregation collapses each task's gram counts before
    either shuffle, so the exchanged volume is per-doc distinct grams,
    not raw gram occurrences. At 100 TB the three branches re-scan the
    text column; if the corpus is hot, tokenize once into a persisted
    frame and feed all three branches from it.
    """
    from pyspark.ml.feature import NGram

    (documents,) = tables(spark, sf_dir, "documents")
    base = documents.select(
        "doc_id", F.split(F.lower(F.col("text")), " ", -1).alias("w")
    )

    def branch(n: int) -> DataFrame:
        if n == 1:
            src, col = base, F.col("w")
        else:
            src = NGram(n=n, inputCol="w", outputCol="_g").transform(base)
            col = F.col("_g")
        return src.select(
            "doc_id", F.lit(n).alias("n"), F.explode(col).alias("g")
        )

    grams = branch(1).unionByName(branch(2)).unionByName(branch(3))
    per_gram = grams.groupBy("doc_id", "n", "g").agg(F.count("*").alias("c"))
    per_n = per_gram.groupBy("doc_id", "n").agg(
        F.sum("c").alias("total"),
        F.max("c").alias("topn"),
        F.count("*").alias("uniq"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dupocc"),
    )

    def pick(n: int, expr: Column) -> Column:
        return F.max(F.when(F.col("n") == n, expr))

    # integer `div` keeps the basis points exact — float division +
    # cast truncates and can land one off the oracle's `//` at exact
    # boundaries
    m = per_n.groupBy("doc_id").agg(
        pick(1, F.col("total")).alias("n_words"),
        F.coalesce(
            pick(1, F.expr("(total - uniq) * 10000 div total")), F.lit(0)
        ).cast("long").alias("dup_word_bp"),
        F.coalesce(
            pick(2, F.expr("topn * 10000 div total")), F.lit(0)
        ).cast("long").alias("top_bigram_bp"),
        F.coalesce(
            pick(3, F.expr("dupocc * 10000 div total")), F.lit(0)
        ).cast("long").alias("dup_trigram_bp"),
    )
    return m.withColumn(
        "keep",
        (
            (F.col("dup_word_bp") < _REP_MAX_DUP_WORD_BP)
            & (F.col("top_bigram_bp") < _REP_MAX_TOP_BIGRAM_BP)
            & (F.col("dup_trigram_bp") < _REP_MAX_DUP_TRIGRAM_BP)
        ).cast("long"),
    )


# --------------------------------------------------------------------
# Inverted index + BM25 retrieval (exact integer scoring)
# --------------------------------------------------------------------

_BM25_TERMS = ("hash", "join", "vector")


@query(
    "text_inverted_index",
    """
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS token
        FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok)
    SELECT token,
           count(*) AS doc_freq,
           CAST(sum(tf) AS BIGINT) AS total_tf,
           (10000 * (2 * (SELECT n_docs FROM n) - 2 * count(*) + 1))
               // (2 * count(*) + 1) AS idf_10k
    FROM tf GROUP BY 1
    """,
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dictionary: per-token document frequency, total term
    frequency, and a log-free BM25 idf ((N-df+0.5)/(df+0.5), scaled
    x10000 and floor-divided — exact rational, no libm ln whose last
    ulp differs across engines). The (doc_id, token, tf) posting rows
    this aggregates ARE the inverted index; materialized per-token
    posting *lists* are deliberately absent — at 100 TB stop-word rows
    make collect_list state unbounded, while this dictionary stays
    O(vocabulary) after one (doc_id, token) shuffle."""
    (documents,) = tables(spark, sf_dir, "documents")
    tok = documents.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower("text"), " ", -1), lambda x: x != ""
            )
        ).alias("token"),
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    n_docs = tok.select(F.countDistinct("doc_id").alias("n_docs"))
    return (
        tf.groupBy("token")
        .agg(F.count("*").alias("doc_freq"), F.sum("tf").alias("total_tf"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "doc_freq",
            F.col("total_tf").cast("long").alias("total_tf"),
            F.expr(
                "(10000 * (2 * n_docs - 2 * doc_freq + 1)) div"
                " (2 * doc_freq + 1)"
            ).alias("idf_10k"),
        )
    )


@query(
    "bm25_topk",
    f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS token
        FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dl),
    tf AS (
        SELECT doc_id, token, count(*) AS tf FROM tok
        WHERE token IN {_BM25_TERMS!r}
        GROUP BY 1, 2
    ),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
    SELECT tf.doc_id,
           CAST(sum(
               ((10000 * (2 * s.n_docs - 2 * df.df + 1)) // (2 * df.df + 1))
               * (22 * s.total_len * tf.tf)
               // (10 * s.total_len * tf.tf + 3 * s.total_len
                   + 9 * dl.dl * s.n_docs)
           ) AS BIGINT) AS bm25_score_10k
    FROM tf
    JOIN df ON tf.token = df.token
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats s
    GROUP BY 1
    ORDER BY bm25_score_10k DESC, tf.doc_id
    LIMIT 20
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the fixed query {_BM25_TERMS}: k1=1.2, b=0.75
    expressed as rationals (11/5, 3/4) and multiplied through, so each
    term's score is one bigint floor-division —
    idf_10k * 22*L*tf // (10*L*tf + 3*L + 9*dl*N) with L=Σdl — and
    the LIMIT boundary is decided on identical integers in both
    engines (the registry ordering rule). Per-term division then SUM,
    same associativity both sides.

    Scale shape: the token filter lands BEFORE the (doc_id, token)
    aggregation, so tf state is O(matching postings); df is per-term
    counts (broadcast); dl is one groupBy(doc_id); stats broadcasts a
    single row. int64 headroom: the per-term chain multiplies idf-bp
    by 22·total_len·tf, which clears 2^63 at real corpus sizes — the
    numerator and denominator are promoted to DECIMAL(38,0)
    (round-13 overflow audit); only the small bp quotient rides a
    long. DuckDB's HUGEINT promotion does the same on the oracle
    side."""
    (documents,) = tables(spark, sf_dir, "documents")
    tok = documents.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower("text"), " ", -1), lambda x: x != ""
            )
        ).alias("token"),
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
    )
    tf = (
        tok.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            # decimal(38,0) chain (round-13 overflow audit): the
            # numerator multiplies idf-bp (~1e4-1e15) by
            # 22·total_len·tf (~1e18 at a 1e14-token corpus) — far
            # past int64, where ANSI aborts; DuckDB auto-promotes to
            # HUGEINT. The final quotient is a small bp score, so
            # div's long result is safe.
            F.expr(
                "((CAST(10000 AS DECIMAL(38,0))"
                " * (2 * n_docs - 2 * df + 1)) div (2 * df + 1))"
                " * (CAST(22 AS DECIMAL(38,0)) * total_len * tf)"
                " div (CAST(10 AS DECIMAL(38,0)) * total_len * tf"
                "      + 3 * total_len + 9 * dl * n_docs)"
            ).alias("term_score"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("term_score").alias("bm25_score_10k"))
        .orderBy(F.desc("bm25_score_10k"), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------
# TF-IDF top-k terms per document
# --------------------------------------------------------------------


@query(
    "text_tfidf_topk",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    cnt AS (
        SELECT doc_id, term,
               CAST(len(list_filter(w, x -> x = term)) AS BIGINT) AS tf
        FROM (SELECT doc_id, w, unnest(list_distinct(w)) AS term FROM t)
    ),
    scored AS (
        SELECT doc_id, term, tf,
               CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df,
               CAST((tf * 1000000)
                    // count(*) OVER (PARTITION BY term) AS BIGINT)
                   AS score_ppm
        FROM cnt
    )
    SELECT doc_id, term, tf, df, score_ppm, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY doc_id ORDER BY score_ppm DESC, term
               ) AS rk
        FROM scored
    ) WHERE rk <= 5
    """,
)
def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by an exact-rational
    tf-idf surrogate: score = tf/df scaled to ppm with integer floor
    division (a log(N/df) idf would ulp-diverge across engines; the
    RANKING is identical because tf/df and tf·log(N/df) are both
    monotone decreasing in df at fixed tf). Keyword extraction for
    corpus triage — no reference counterpart (reference has no text
    analytics; the corpus ops extend SURVEY §2.12's pipeline set).

    Scale shape: term frequencies are computed MAP-SIDE with
    higher-order array functions (explode the per-doc distinct-term
    list, count via list_filter) — no (doc_id, term) groupBy shuffle.
    The plan then shuffles twice: once on term for document frequency
    (a window COUNT over the posting list), once on doc_id for the
    top-k row_number. Ties at the cut rank break on the term string in
    both engines."""
    (documents,) = tables(spark, sf_dir, "documents")
    t = documents.select("doc_id", _words(F.col("text")).alias("w"))
    cnt = t.select(
        "doc_id",
        F.explode(F.array_distinct("w")).alias("term"),
        F.col("w"),
    ).select(
        "doc_id",
        "term",
        F.size(
            F.filter("w", lambda x: x == F.col("term"))
        ).cast("long").alias("tf"),
    )
    wt = Window.partitionBy("term")
    scored = cnt.select(
        "doc_id",
        "term",
        "tf",
        F.count("*").over(wt).cast("long").alias("df"),
        F.expr("CAST((tf * 1000000) div count(*) over (partition by term) AS BIGINT)").alias(
            "score_ppm"
        ),
    )
    wd = Window.partitionBy("doc_id").orderBy(
        F.desc("score_ppm"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(wd).cast("long"))
        .filter(F.col("rk") <= 5)
    )


# --------------------------------------------------------------------
# Corpus-wide top bigrams
# --------------------------------------------------------------------


@query(
    "text_top_bigrams",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    b AS (
        SELECT doc_id, unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS pr
        FROM t
    )
    SELECT pr[1] AS w1, pr[2] AS w2, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM b GROUP BY 1, 2 ORDER BY n DESC, w1, w2 LIMIT 20
    """,
)
def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams with occurrence and document
    counts — collocation mining / boilerplate detection over the
    training corpus (SURVEY §2.12 pipeline set; the per-doc
    top-bigram share in text_repetition is the companion gate).

    Scale shape: bigram pairs are built MAP-SIDE by zipping the word
    array with its own tail (arrays_zip of two slices) — no window
    function, no shuffle to form pairs. The only exchange is the
    (w1, w2) aggregation (partial count + distinct-doc merge), then a
    20-row total-ordered take. The LIMIT boundary is decided on
    (n DESC, w1, w2) — a total order, so both engines cut the same
    set."""
    (documents,) = tables(spark, sf_dir, "documents")
    t = documents.select("doc_id", _words(F.col("text")).alias("w"))
    b = t.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, F.size("w") - 1),
                F.slice("w", 2, F.size("w") - 1),
            )
        ).alias("pr"),
    ).select("doc_id", F.col("pr.0").alias("w1"), F.col("pr.1").alias("w2"))
    return (
        b.groupBy("w1", "w2")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy(F.desc("n"), "w1", "w2")
        .limit(20)
    )


# --------------------------------------------------------------------
# Unicode normalization (ingest-side text canonicalization)
# --------------------------------------------------------------------

# Control characters stripped before training: C0 controls except
# \t \n \r (which the whitespace collapse then folds), plus DEL.
_CTRL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
# Explicit whitespace class on BOTH engines: Java's \s and RE2's \s
# disagree on \x0B, so neither side uses the shorthand.
_WS_CLASS = r"[ \t\n\r\f]+"


def nfc_text(col: Column) -> Column:
    """Unicode NFC normalization as an Arrow-vectorized pandas UDF —
    the ONE text operator here that leaves the JVM, because Spark has
    no Unicode-normalization built-in (composed vs decomposed accents
    — 'é' as U+00E9 vs 'e'+U+0301 — hash differently, so exact dedup
    and fingerprinting silently miss equal-looking duplicates without
    this). stdlib ``unicodedata`` implements the same Unicode NFC as
    DuckDB's ``nfc_normalize``, which is what makes the operator
    oracle-checkable."""
    import pandas as pd  # noqa: F401 (typing of the UDF)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda t: t if t is None else unicodedata.normalize("NFC", t)
        )

    return _nfc(col)


def normalize_text(col: Column) -> Column:
    """Strip control chars → NFC → collapse whitespace runs → trim.
    The canonicalization every corpus pipeline runs before hashing,
    shingling, or tokenizing; regex stages are JVM built-ins, NFC is
    the single Arrow-batched hop.

    Controls strip BEFORE NFC — the order is load-bearing for
    idempotence: a control sandwiched between a base letter and its
    combining mark ('a', U+001F, U+0300) blocks composition, so
    NFC-then-strip emits the decomposed pair ('a'+◌̀) — visually 'à'
    but NOT byte-equal to it, which is exactly the dup-detection miss
    this operator exists to prevent (found by the hypothesis
    idempotence property). Whitespace collapse after NFC cannot
    un-normalize: it only rewrites whitespace to ' ', and no
    precomposed space+mark forms exist."""
    out = F.regexp_replace(col, _CTRL_CLASS, "")
    out = nfc_text(out)
    out = F.regexp_replace(out, _WS_CLASS, " ")
    return F.trim(out)


@query(
    "text_normalize",
    f"""
    WITH n AS (
        SELECT doc_id, text,
               trim(regexp_replace(nfc_normalize(regexp_replace(text,
                    '{_CTRL_CLASS}', '', 'g')), '{_WS_CLASS}', ' ', 'g'))
                   AS text_norm
        FROM documents
    )
    SELECT doc_id, text_norm,
           CAST(length(text_norm) AS BIGINT) AS n_chars_norm,
           (text_norm <> text) AS changed
    FROM n
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text canonicalization: Unicode NFC + control-char strip
    + whitespace collapse + trim, with per-doc changed flags. Runs
    BEFORE dedup/fingerprint/tokenize stages so equal-looking text is
    byte-equal (composed accents, stray controls, ragged whitespace
    all collapse).

    Scale shape: embarrassingly parallel map-only pass — one scan,
    zero shuffles; the NFC hop is one Arrow-vectorized pandas UDF
    (string in/out, batch transfer), everything else whole-stage
    codegen. ``length`` (code points, not bytes) on both engines."""
    (documents,) = tables(spark, sf_dir, "documents")
    # materialize the normalized column ONCE (a repeated expression
    # would re-run the Arrow hop per reference)
    return documents.withColumn(
        "text_norm", normalize_text(F.col("text"))
    ).select(
        "doc_id",
        "text_norm",
        F.length("text_norm").cast("long").alias("n_chars_norm"),
        (F.col("text_norm") != F.col("text")).alias("changed"),
    )


# --------------------------------------------------------------------
# Bigram language-model scoring (KenLM-style quality filter)
# --------------------------------------------------------------------


@query(
    "text_bigram_lm_score",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    b AS (
        SELECT doc_id, pr[1] AS w1, pr[2] AS w2 FROM (
            SELECT doc_id,
                   unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS pr
            FROM t
        )
    ),
    db AS (
        SELECT doc_id, w1, w2, count(*) AS k FROM b GROUP BY 1, 2, 3
    ),
    c2 AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c2
           FROM db GROUP BY 1, 2),
    uni AS (SELECT unnest(w) AS u FROM t),
    c1 AS (SELECT u AS w1, count(*) AS c1 FROM uni GROUP BY 1),
    v AS (SELECT count(DISTINCT u) AS vocab FROM uni),
    s AS (
        SELECT db.doc_id,
               CAST(sum(db.k) AS BIGINT) AS n_bigrams,
               sum(db.k * ln((c2.c2 + 1.0) / (c1.c1 + v.vocab))) AS lp
        FROM db JOIN c2 ON db.w1 = c2.w1 AND db.w2 = c2.w2
                JOIN c1 ON db.w1 = c1.w1, v
        GROUP BY db.doc_id
    )
    SELECT doc_id, n_bigrams, round(lp / n_bigrams, 4) AS avg_logprob
    FROM s
    """,
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language model scoring every document by
    its average add-1-smoothed log-probability — the KenLM-style
    fluency/quality gate of training-data pipelines (gibberish and
    boilerplate-mangled text score far below fluent text against a
    model trained on the corpus itself). Score per bigram instance =
    ln((c(w1,w2)+1) / (c(w1)+V)).

    Scale shape: bigram pairs form MAP-SIDE (zip of the word array
    with its own tail, as in text_top_bigrams); the model "training"
    is two keyed aggregations (bigram and unigram counts — vocabulary-
    sized, partial-aggregated); scoring is two equi-joins on those
    counts and one per-doc agg. No broadcast assumption: at 100 TB the
    vocabulary tables stay distributed and AQE picks the strategy.
    Cross-engine determinism: counts are exact integers; the only
    float is the final ln sum, rounded to 4 decimals (per-term ulp
    differences are ~1e-16 relative — far below the rounding grain)."""
    (documents,) = tables(spark, sf_dir, "documents")
    t = documents.select("doc_id", _words(F.col("text")).alias("w"))
    b = t.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, F.size("w") - 1),
                F.slice("w", 2, F.size("w") - 1),
            )
        ).alias("pr"),
    ).select("doc_id", F.col("pr.0").alias("w1"), F.col("pr.1").alias("w2"))
    db = b.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("k"))
    c2 = b.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    uni = t.select("doc_id", F.explode("w").alias("u"))
    c1 = uni.groupBy(F.col("u").alias("w1")).agg(F.count("*").alias("c1"))
    vocab = uni.select(F.countDistinct("u").alias("vocab"))
    s = (
        db.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))  # one scalar row
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.sum(
                F.col("k")
                * F.log(
                    (F.col("c2") + F.lit(1.0))
                    / (F.col("c1") + F.col("vocab"))
                )
            ).alias("lp"),
        )
    )
    return s.select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("lp") / F.col("n_bigrams"), 4).alias("avg_logprob"),
    )


# --------------------------------------------------------------------
# Model-based quality filtering (hashed-n-gram linear classifier)
# --------------------------------------------------------------------

# The CCNet / fastText-style quality gate: a linear classifier over
# hashed unigram+bigram features. The "trained" weight vector is a
# deterministic function of the bucket id (md5-derived integer in
# [-500, 500]) so both engines see the identical model — the operator
# shape (hashing trick -> bounded weight table -> map-side dot
# product) is exactly fastText inference; a real deployment swaps the
# weight derivation for a broadcast of learned weights.
_QM_BUCKETS = 4096
_QM_BIAS = -1200


def _qm_weight(feat: Column) -> Column:
    """Weight of one feature: bucket = h(feat) mod B, w = h('wgt:'
    || bucket) mod 1001 - 500. Spark side of the cross-engine pair."""
    bucket = hash_u32(feat) % _QM_BUCKETS
    return hash_u32(F.concat(F.lit("wgt:"), bucket.cast("string"))) % 1001 - 500


def _sql_qm_weight(feat_expr: str) -> str:
    bucket = f"{_sql_hash_u32(feat_expr)} % {_QM_BUCKETS}"
    wkey = f"'wgt:' || CAST({bucket} AS VARCHAR)"
    return f"{_sql_hash_u32(wkey)} % 1001 - 500"


_QUALITY_MODEL_SQL = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    f AS (
        SELECT doc_id,
               list_concat(
                   w,
                   list_transform(list_zip(w[1:len(w)-1], w[2:len(w)]),
                                  p -> p[1] || ' ' || p[2])) AS feats
        FROM t
    ),
    s AS (
        SELECT doc_id,
               CAST(len(feats) AS BIGINT) AS n_features,
               CAST({_QM_BIAS} + list_sum(list_transform(feats,
                   x -> {_sql_qm_weight('x')})) AS BIGINT) AS logit
        FROM f
    )
    SELECT doc_id, n_features, logit,
           CASE WHEN logit >= 0 THEN 'keep' ELSE 'drop' END AS pred
    FROM s
"""


@query("quality_model_score", _QUALITY_MODEL_SQL)
def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a hashed-n-gram linear
    classifier (the CCNet / fastText gate that model-filters
    pre-training corpora, vs text_quality's hand-rule gate). Features
    are unigrams plus word bigrams, hashed into 4096 buckets (the
    hashing trick — the weight table is BOUNDED regardless of corpus
    vocabulary); the document logit is bias + sum of bucket weights
    over feature occurrences; pred thresholds at 0.

    Scale shape: inference is PURE MAP-SIDE — one documents scan, the
    bigram list zipped from the word array's own tail, the dot
    product a bounded per-row fold; zero shuffles, zero joins, so
    throughput is scan-bound at any corpus size (the fastText
    deployment shape: model broadcast, corpus streamed). Weights are
    md5-derived integers in [-500, 500] so the classifier is
    byte-identical cross-engine; logits are exact int64 sums."""
    (documents,) = tables(spark, sf_dir, "documents")
    t = documents.select("doc_id", _words(F.col("text")).alias("w"))
    feats = F.concat(
        F.col("w"),
        F.transform(
            F.slice("w", 1, F.size("w") - 1),
            lambda x, i: F.concat_ws(" ", x, F.element_at(F.col("w"), i + 2)),
        ),
    )
    s = t.select(
        "doc_id",
        F.size(feats).cast("long").alias("n_features"),
        (
            F.lit(_QM_BIAS)
            + F.aggregate(
                feats, F.lit(0).cast("long"), lambda acc, x: acc + _qm_weight(x)
            )
        )
        .cast("long")
        .alias("logit"),
    )
    return s.select(
        "doc_id",
        "n_features",
        "logit",
        F.when(F.col("logit") >= 0, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("pred"),
    )


# --------------------------------------------------------------------
# Sliding-window chunking (RAG / context-window ingestion)
# --------------------------------------------------------------------

# 64-token chunks on a 48-token stride (25% overlap): every token is
# covered, consecutive chunks share 16 tokens, the final chunk clips
# to the document tail. The chunk table is what a retrieval pipeline
# embeds — doc provenance + token interval + content hash.
_CHUNK_SIZE = 64
_CHUNK_STRIDE = 48


@query(
    "text_chunking",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (
        SELECT doc_id,
               len(w) AS n_tokens_doc,
               unnest(generate_series(1, len(w), {_CHUNK_STRIDE})) AS start_tok
        FROM t
    )
    SELECT c.doc_id,
           CAST((start_tok - 1) // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(least(start_tok + {_CHUNK_SIZE} - 1, n_tokens_doc)
                - start_tok + 1 AS BIGINT) AS n_tokens,
           md5(array_to_string(
               t.w[start_tok:least(start_tok + {_CHUNK_SIZE} - 1, n_tokens_doc)],
               ' ')) AS chunk_md5
    FROM c JOIN t ON c.doc_id = t.doc_id
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for retrieval pipelines: 64-token
    chunks on a 48-token stride, final chunk clipped to the document
    tail; each chunk carries provenance (doc_id, chunk_idx, token
    interval) and a content hash (what gets embedded + deduped
    downstream — chunk_md5 joins directly against the dedup family).

    Scale shape: PURE MAP-SIDE — the start-offset list is a
    per-row sequence (ceil(n/stride) entries, linear in document
    length), the chunk text a slice of the already-split token
    array; no shuffle, no join (the oracle's self-join is DuckDB
    phrasing — Spark slices in the same projection). Output is ~n/48
    rows per doc, each O(chunk) — linear expansion, embarrassingly
    parallel."""
    (documents,) = tables(spark, sf_dir, "documents")
    t = documents.select("doc_id", _words(F.col("text")).alias("w"))
    c = t.select(
        "doc_id",
        F.size("w").alias("n_tokens_doc"),
        F.col("w"),
        F.explode(
            F.sequence(F.lit(1), F.size("w"), F.lit(_CHUNK_STRIDE))
        ).alias("start_tok"),
    )
    n_tokens = (
        F.least(
            F.col("start_tok") + F.lit(_CHUNK_SIZE - 1), F.col("n_tokens_doc")
        )
        - F.col("start_tok")
        + 1
    )
    return c.select(
        "doc_id",
        F.expr(f"(start_tok - 1) div {_CHUNK_STRIDE}")
        .cast("long")
        .alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        n_tokens.cast("long").alias("n_tokens"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("w"), F.col("start_tok"), n_tokens))
            .cast("binary")
        ).alias("chunk_md5"),
    )


# --------------------------------------------------------------------
# Vocabulary build + tokenize-to-ids (training-data prep)
# --------------------------------------------------------------------

# Corpus-derived vocabulary of the top-V words (count desc, word asc —
# a total order, so ids are deterministic), then every document
# re-expressed as its id sequence with OOV accounting. The id-sequence
# md5 pins the EXACT token stream cross-engine without shipping the
# arrays through the driver compare. A production pipeline swaps the
# word vocabulary for BPE merges; the operator shape — bounded vocab
# broadcast, map-side lookup, per-doc reassembly — is identical.
_VOCAB_V = 1024


@query(
    "text_tokenize_ids",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok AS (
        SELECT doc_id, unnest(w) AS word,
               unnest(range(1, len(w) + 1)) AS pos
        FROM t
    ),
    cnt AS (SELECT word, count(*) AS n FROM tok GROUP BY 1),
    vocab AS (
        SELECT word,
               CAST(row_number() OVER (ORDER BY n DESC, word) - 1 AS BIGINT)
                   AS vid
        FROM (SELECT word, n FROM cnt ORDER BY n DESC, word LIMIT {_VOCAB_V})
    ),
    ids AS (
        SELECT tok.doc_id, tok.pos,
               CAST(coalesce(v.vid, -1) AS BIGINT) AS vid
        FROM tok LEFT JOIN vocab v ON tok.word = v.word
    ),
    agg AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(*) FILTER (vid = -1) AS BIGINT) AS n_oov,
               md5(array_to_string(
                   list(CAST(vid AS VARCHAR) ORDER BY pos), ' ')) AS ids_md5
        FROM ids GROUP BY 1
    )
    SELECT doc_id, n_tokens, n_oov,
           (10000 * n_oov) // n_tokens AS oov_bp, ids_md5
    FROM agg
    """,
)
def text_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization at corpus scale: build the top-1024 vocabulary
    (count desc, word asc — deterministic ids), map every document to
    its id sequence (OOV → -1), report per-doc token/OOV counts and
    the md5 of the exact id stream (the tensorizable artifact a
    training pipeline writes; BPE swaps in for the word vocab with
    the same plan shape).

    Scale shape: the vocabulary is ONE keyed count + a TakeOrdered
    top-V cut + a row_number over the V-row result (the only window,
    bounded at V by construction); the lookup is a BROADCAST left
    join on the exploded token stream (map-side at any corpus size);
    per-doc reassembly is one doc-keyed agg whose sort is
    within-group by position. OOV ratio in exact integer basis
    points."""
    (documents,) = tables(spark, sf_dir, "documents")
    # single-file corpus reads as ONE partition; the tokenize +
    # posexplode pass feeds both the word-frequency shuffle and the
    # id/encode join, and ran single-task without the spread
    t = spread(documents).select("doc_id", _words(F.col("text")).alias("w"))
    tok = t.select(
        "doc_id", F.posexplode("w").alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    cnt = tok.groupBy("word").agg(F.count("*").alias("n"))
    top = cnt.orderBy(F.desc("n"), "word").limit(_VOCAB_V)
    vocab = top.select(
        "word",
        (
            F.row_number().over(Window.orderBy(F.desc("n"), "word")) - 1
        )
        .cast("long")
        .alias("vid"),
    )
    ids = tok.join(F.broadcast(vocab), "word", "left").select(
        "doc_id", "pos", F.coalesce(F.col("vid"), F.lit(-1)).cast("long").alias("vid")
    )
    agg = ids.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("vid") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "vid"))),
                    lambda s: s["vid"].cast("string"),
                ),
            ).cast("binary")
        ).alias("ids_md5"),
    )
    return agg.selectExpr(
        "doc_id",
        "n_tokens",
        "n_oov",
        "(10000 * n_oov) div n_tokens AS oov_bp",
        "ids_md5",
    )


# --------------------------------------------------------------------
# BPE: byte-pair-encoding trained on the corpus, applied per document
# --------------------------------------------------------------------

# training set bound: top-W words by (freq desc, word) — the
# TakeOrdered codebook discipline (W·avg_len chars of driver state);
# M merge rounds, each a pure-integer argmax with lexicographic ties
_BPE_W = 2048
_BPE_M = 16
_BPE_SENTINEL = "\x01"  # never in the corpus alphabet → no-op merge


def _bpe_sql_str(s: str) -> str:
    """Spark-SQL single-quoted literal for an arbitrary merge symbol:
    backslashes and quotes escape (Spark string literals are
    Hive-style — backslash escapes are live), so corpus words like
    "don't" or "a\\b" reaching the training table emit valid SQL
    instead of breaking the fold expression at parse time."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _bpe_fold_sql(arr_sql: str, a_sql: str, b_sql: str, a_len: str) -> str:
    """One greedy BPE merge pass as a string-accumulator left fold —
    the ONLY single-pass form whose semantics match canonical BPE
    exactly (a plain string replace of ' A B ' misses adjacent merge
    sites that share a delimiter space, verified in both engines):
    scan symbols left to right; when the tail symbol equals A and the
    next equals B, splice them. Emitted for Spark ``aggregate`` (init
    '') — the DuckDB twin uses ``list_reduce`` (init = first element,
    same fold)."""
    return (
        f"aggregate({arr_sql}, '', (acc, x) -> "
        f"CASE WHEN acc = '' THEN x "
        f"WHEN (acc = {a_sql} OR endswith(acc, ' ' || {a_sql})) "
        f"AND x = {b_sql} "
        f"THEN left(acc, length(acc) - {a_len}) || {a_sql} || {b_sql} "
        f"ELSE acc || ' ' || x END)"
    )


def _train_bpe(words: list, m: int) -> list:
    """Classic BPE training over a (word, freq) table: M rounds of
    (count adjacent symbol pairs weighted by freq → merge the most
    frequent, ties to the lexicographically smallest 'A B' string).
    Pure integers + ASCII ordering — byte-identical to the oracle's
    unrolled SQL stages. Greedy application mirrors the fold above."""
    syms = {w: tuple(w) for w, _ in words}
    freq = dict(words)
    merges = []
    for _ in range(m):
        cnt: dict = {}
        for w, s in syms.items():
            n = freq[w]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                cnt[p] = cnt.get(p, 0) + n
        if not cnt:
            break
        best = min(cnt, key=lambda p: (-cnt[p], p[0] + " " + p[1]))
        a, b = best
        merges.append(best)
        for w, s in syms.items():
            out: list = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = tuple(out)
    return merges


def _bpe_oracle_sql() -> str:
    """The whole pipeline unrolled: top-W training table, M
    (pair-count → argmax → fold) stages, then the encode chain over
    ALL distinct words and the per-doc reassembly. Every stage CTE is
    MATERIALIZED (DuckDB re-expands inlined CTEs per reference —
    exponential in M otherwise); the argmax carries a sentinel row so
    an exhausted pair table no-ops instead of annihilating the cross
    join."""
    stages = []
    for i in range(_BPE_M):
        stages.append(f"""
    p{i} AS MATERIALIZED (
        SELECT l[j] || ' ' || l[j + 1] AS pair, sum(n) AS cnt
        FROM (SELECT n, string_split(sym, ' ') AS l FROM tw{i}),
             UNNEST(range(1, len(l))) AS t(j)
        GROUP BY 1
    ),
    b{i} AS MATERIALIZED (
        SELECT string_split(pair, ' ')[1] AS a,
               string_split(pair, ' ')[2] AS b
        FROM (
            SELECT pair, 0 AS pr FROM
                (SELECT pair FROM p{i} ORDER BY cnt DESC, pair LIMIT 1)
            UNION ALL
            SELECT '{_BPE_SENTINEL} {_BPE_SENTINEL}', 1
        ) ORDER BY pr LIMIT 1
    ),
    tw{i + 1} AS MATERIALIZED (
        SELECT word, n,
               list_reduce(string_split(sym, ' '), (acc, x) ->
                   CASE WHEN (acc = b{i}.a
                              OR ends_with(acc, ' ' || b{i}.a))
                             AND x = b{i}.b
                        THEN left(acc, length(acc) - length(b{i}.a))
                             || b{i}.a || b{i}.b
                        ELSE acc || ' ' || x END) AS sym
        FROM tw{i}, b{i}
    ),
    enc{i + 1} AS MATERIALIZED (
        SELECT word,
               list_reduce(string_split(sym, ' '), (acc, x) ->
                   CASE WHEN (acc = b{i}.a
                              OR ends_with(acc, ' ' || b{i}.a))
                             AND x = b{i}.b
                        THEN left(acc, length(acc) - length(b{i}.a))
                             || b{i}.a || b{i}.b
                        ELSE acc || ' ' || x END) AS sym
        FROM enc{i}, b{i}
    )""")
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok AS (
        SELECT doc_id, unnest(w) AS word,
               unnest(range(1, len(w) + 1)) AS pos
        FROM t
    ),
    wf AS MATERIALIZED (SELECT word, count(*) AS n FROM tok GROUP BY 1),
    tw0 AS MATERIALIZED (
        SELECT word, n,
               trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym
        FROM (SELECT word, n FROM wf ORDER BY n DESC, word LIMIT {_BPE_W})
    ),
    enc0 AS MATERIALIZED (
        SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym
        FROM wf
    ),{",".join(stages)},
    mapping AS MATERIALIZED (
        SELECT word, sym AS pieces,
               len(string_split(sym, ' ')) AS np
        FROM enc{_BPE_M}
    ),
    perdoc AS (
        SELECT tok.doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(m.np) AS BIGINT) AS n_pieces,
               CAST(sum(length(tok.word)) AS BIGINT) AS n_chars,
               md5(array_to_string(list(m.pieces ORDER BY tok.pos), ' '))
                   AS pieces_md5
        FROM tok JOIN mapping m ON tok.word = m.word
        GROUP BY 1
    )
    SELECT doc_id, n_words, n_pieces,
           (10000 * n_pieces) // greatest(n_chars, 1) AS pieces_per_char_bp,
           pieces_md5
    FROM perdoc
    """


@query("text_bpe_encode", _bpe_oracle_sql())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization end to end — the tensorize step
    ``text_tokenize_ids``'s docstring promised would swap into the
    same plan shape, executed: train ``_BPE_M`` merges on the top-
    ``_BPE_W`` word-frequency table (count desc, word asc — fully
    deterministic), encode EVERY distinct corpus word by applying the
    merge sequence, reassemble per document. ``pieces_md5`` pins the
    exact piece stream, so the driver hash verifies training AND
    encoding cross-engine.

    Training is a driver-side loop over the TakeOrdered top-W table —
    the bounded-collect discipline of the MMR/k-center rows (W·avg_len
    chars of driver state, independent of corpus size); each round is
    a pure-integer pair-count argmax with lexicographic ties, so the
    Python loop and the oracle's M unrolled SQL stages pick
    byte-identical merges. Merge application is a string-accumulator
    left fold (Spark ``aggregate`` / DuckDB ``list_reduce``) — exact
    greedy left-to-right BPE; a single-pass string replace of
    ' A B ' would MISS adjacent merge sites sharing a delimiter space
    (verified in both engines), so the fold is the only correct
    single-pass form.

    Scale shape: one keyed word count (the tokenize_ids shuffle), a
    TakeOrdered(W) cut, then everything is map-side: the M-fold
    encode chain runs over DISTINCT words (amortized across
    occurrences), the word→pieces mapping joins back to the token
    stream (broadcast at codebook size, hash join beyond), and the
    per-doc agg is one doc-keyed shuffle. At 100 TB: W and M are
    constants; the only corpus-sized work is the word count and the
    final reassembly — the same two shuffles tokenize_ids pays.

    Reference capability analog: none (the reference stores raw text;
    this is the LLM-pipeline layer mandated by SURVEY §2.12)."""
    (documents,) = tables(spark, sf_dir, "documents")
    # single-file corpus reads as ONE partition; the tokenize +
    # posexplode pass feeds both the word-frequency shuffle and the
    # id/encode join, and ran single-task without the spread
    t = spread(documents).select("doc_id", _words(F.col("text")).alias("w"))
    tok = t.select(
        "doc_id", F.posexplode("w").alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    # persisted: the word-frequency table feeds the top-W training
    # collect AND the encode mapping — without the cache the corpus
    # tokenizes twice (the top cut materializes it here)
    wf = tok.groupBy("word").agg(F.count("*").alias("n")).persist()
    top = [
        (r["word"], r["n"])
        for r in wf.orderBy(F.desc("n"), "word").limit(_BPE_W).collect()
    ]
    merges = _train_bpe(top, _BPE_M)

    # encode chain: ONE doubly-nested fold — the merge sequence rides
    # as a literal array<struct<a,b,la>> and a single generic fold
    # body applies each merge in training order (outer fold over
    # merges, inner fold = the exact _bpe_fold_sql string-accumulator
    # body with struct fields for the literals). The previous form
    # nested M aggregate() copies, each level re-embedding the whole
    # prior expression, and evaluated that chain TWICE (pieces and
    # np were separate expression trees; aggregate is CodegenFallback
    # so no subexpression elimination rescued it). np now derives
    # from the pieces string in a second projection — aggregate is
    # not collapse-cheap, so the optimizer keeps the single eval.
    if merges:
        merges_arr = "array(" + ", ".join(
            f"named_struct('a', {_bpe_sql_str(a)}, "
            f"'b', {_bpe_sql_str(b)}, 'la', {len(a)})"
            for a, b in merges
        ) + ")"
        pieces_sql = (
            f"aggregate({merges_arr}, "
            "trim(regexp_replace(word, '(.)', '$1 ')), "
            "(acc, m) -> aggregate(split(acc, ' '), '', "
            "(s, x) -> CASE WHEN s = '' THEN x "
            "WHEN (s = m.a OR endswith(s, ' ' || m.a)) AND x = m.b "
            "THEN left(s, length(s) - m.la) || m.a || m.b "
            "ELSE s || ' ' || x END))"
        )
    else:
        pieces_sql = "trim(regexp_replace(word, '(.)', '$1 '))"
    mapping = wf.select(
        "word", F.expr(pieces_sql).alias("pieces")
    ).withColumn("np", F.expr("size(split(pieces, ' '))").cast("long"))
    enc = tok.join(mapping, "word")
    agg = enc.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("np").cast("long").alias("n_pieces"),
        F.sum(F.length("word")).cast("long").alias("n_chars"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "pieces"))),
                    lambda s: s["pieces"],
                ),
            ).cast("binary")
        ).alias("pieces_md5"),
    )
    out = agg.selectExpr(
        "doc_id",
        "n_words",
        "n_pieces",
        # greatest(n_chars, 1): a whitespace-only document tokenizes
        # to zero-length words (n_chars = 0) — guarded IDENTICALLY in
        # the oracle so both engines emit the same row, not NULL/error
        "(10000 * n_pieces) div greatest(n_chars, 1) AS pieces_per_char_bp",
        "pieces_md5",
    )
    # per-doc rows only: eager-checkpoint (plan recorded for the
    # sweep), then drop the word-frequency cache
    return checkpoint_result("text_bpe_encode", out, wf)


# --------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the lexical and vector
# rankers
# --------------------------------------------------------------------

from qms_datawarehouse_spark.operators.lsh_planes import (  # noqa: E402
    QUERY_VEC_ID as _RRF_QVEC,
    TOP_K as _RRF_VEC_K,
)

_RRF_SQL = f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS token
        FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dl),
    tf AS (
        SELECT doc_id, token, count(*) AS tf FROM tok
        WHERE token IN {_BM25_TERMS!r}
        GROUP BY 1, 2
    ),
    dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    lex AS (
        SELECT tf.doc_id,
               CAST(sum(
                   ((10000 * (2 * s.n_docs - 2 * dfq.df + 1))
                        // (2 * dfq.df + 1))
                   * (22 * s.total_len * tf.tf)
                   // (10 * s.total_len * tf.tf + 3 * s.total_len
                       + 9 * dl.dl * s.n_docs)
               ) AS BIGINT) AS score
        FROM tf
        JOIN dfq ON tf.token = dfq.token
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats s
        GROUP BY 1
        ORDER BY score DESC, tf.doc_id
        LIMIT 20
    ),
    lexr AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rank_bm25
        FROM lex
    ),
    e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                            x -> x * x))) AS nrm
        FROM embeddings
    ),
    q AS (SELECT v AS qv, nrm AS qn FROM e WHERE vec_id = {_RRF_QVEC}),
    vec AS (
        SELECT vec_id, cosine FROM (
            SELECT e.vec_id,
                   round(list_sum(list_transform(range(1, 65),
                       i -> e.v[i] * q.qv[i])) / (e.nrm * q.qn), 4) AS cosine
            FROM e, q WHERE e.vec_id <> {_RRF_QVEC}
        )
        ORDER BY cosine DESC, vec_id
        LIMIT {_RRF_VEC_K}
    ),
    vecr AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank_cos
        FROM vec
    ),
    fused AS (
        SELECT COALESCE(lexr.doc_id, vecr.vec_id) AS id,
               COALESCE(rank_bm25, 0) AS rank_bm25,
               COALESCE(rank_cos, 0) AS rank_cos,
               COALESCE(1000000 // (60 + rank_bm25), 0)
                   + COALESCE(1000000 // (60 + rank_cos), 0) AS rrf
        FROM lexr FULL JOIN vecr ON lexr.doc_id = vecr.vec_id
    )
    SELECT CAST(id AS BIGINT) AS id,
           CAST(rank_bm25 AS BIGINT) AS rank_bm25,
           CAST(rank_cos AS BIGINT) AS rank_cos,
           CAST(rrf AS BIGINT) AS rrf_score_1m
    FROM fused
    ORDER BY rrf DESC, id
    LIMIT 10
"""


@query("similarity_rrf_fusion", _RRF_SQL)
def similarity_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    2009): the BM25 lexical top-20 and the exact-cosine vector top-10
    fuse by RRF(id) = Σ 1/(60 + rank) over the lists that contain the
    id — expressed in integers (1000000 div (60 + rank)) so the fused
    ordering and its LIMIT boundary are decided on identical bigints
    in both engines. The standard RAG retrieval pattern: lexical
    recall catches what embedding similarity misses and vice versa,
    and RRF needs no score calibration between the two scales —
    only ranks cross the fusion boundary.

    Scale shape: both rankers keep their distributed plans (posting
    aggregation + broadcast stats; broadcast query vector +
    TakeOrdered) — the fusion itself touches two k-row frames, a
    bounded full-outer join. The document and embedding id domains
    are aligned in the fixture (doc_id ≡ vec_id), standing in for a
    corpus with per-document embeddings."""
    from qms_datawarehouse_spark.operators.similarity import (
        similarity_topk_cosine,
    )

    lex = bm25_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25_score_10k"), F.asc("doc_id")))
        .alias("rank_bm25"),
    )
    vec = similarity_topk_cosine(spark, sf_dir).select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), F.asc("vec_id")))
        .alias("rank_cos"),
    )
    j = lex.join(vec, lex["doc_id"] == vec["vec_id"], "full_outer")
    rrf = F.coalesce(
        F.expr("1000000 div (60 + rank_bm25)"), F.lit(0)
    ) + F.coalesce(F.expr("1000000 div (60 + rank_cos)"), F.lit(0))
    return (
        j.select(
            F.coalesce(F.col("doc_id"), F.col("vec_id"))
            .cast("long")
            .alias("id"),
            F.coalesce(F.col("rank_bm25"), F.lit(0))
            .cast("long")
            .alias("rank_bm25"),
            F.coalesce(F.col("rank_cos"), F.lit(0))
            .cast("long")
            .alias("rank_cos"),
            rrf.cast("long").alias("rrf_score_1m"),
        )
        .orderBy(F.desc("rrf_score_1m"), F.asc("id"))
        .limit(10)
    )
