"""Round-9 invariants: the single-partition-window rewrites are
value-identical to the formulations they replaced, and the BPE SQL
generation survives hostile corpus symbols (quotes, backslashes,
empty documents) — the ADVICE findings of round 8, pinned.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from conftest import SF_DIR


# --------------------------------------------------------------------
# BPE: hostile merge symbols must emit valid SQL
# --------------------------------------------------------------------


def _py_greedy_merge(s, a, b):
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


@pytest.mark.parametrize(
    "syms,a,b",
    [
        (["don", "'", "t"], "don", "'"),  # apostrophe as merge RHS
        (["don'", "t", "don'", "t"], "don'", "t"),  # apostrophe inside A
        (["a\\", "b"], "a\\", "b"),  # backslash inside A
        (["\\", "'", "\\", "'"], "\\", "'"),  # both metacharacters
        (["it", "''", "s"], "it", "''"),  # doubled quote symbol
    ],
)
def test_bpe_fold_survives_quote_and_backslash_symbols(spark, syms, a, b):
    """Merge symbols are interpolated into Spark SQL as literals; an
    unescaped apostrophe (e.g. the corpus word "don't" reaching the
    training table) used to yield malformed SQL like acc = ''' and
    throw at expression-build time. _bpe_sql_str must keep the fold
    both PARSEABLE and semantically exact."""
    from qms_datawarehouse_spark.operators.textops import (
        _bpe_fold_sql,
        _bpe_sql_str,
    )

    df = spark.createDataFrame([(syms,)], "l array<string>")
    fold = _bpe_fold_sql("l", _bpe_sql_str(a), _bpe_sql_str(b), str(len(a)))
    got = df.selectExpr(f"{fold} AS m").first()["m"]
    assert got == " ".join(_py_greedy_merge(syms, a, b))


def test_bpe_encode_chain_with_apostrophe_corpus(spark):
    """End-to-end: train merges on a word table where apostrophe
    words DOMINATE the frequency table (so the merges themselves
    contain quotes), then verify the Spark nested-fold chain against
    the pure-Python greedy application."""
    from qms_datawarehouse_spark.operators.textops import (
        _bpe_fold_sql,
        _bpe_sql_str,
        _train_bpe,
    )

    words = ["don't", "won't", "can't", "it's", "dont", "its", "a\\b"]
    freqs = [(w, 9 - i) for i, w in enumerate(words)]
    merges = _train_bpe(freqs, 8)
    assert any("'" in a + b for a, b in merges), (
        "fixture must force a quoted merge symbol: " + repr(merges)
    )

    def py_encode(w):
        s = list(w)
        for a, b in merges:
            s = _py_greedy_merge(s, a, b)
        return s

    expr = "split(trim(regexp_replace(word, '(.)', '$1 ')), ' ')"
    for a, b in merges:
        folded = _bpe_fold_sql(
            expr, _bpe_sql_str(a), _bpe_sql_str(b), str(len(a))
        )
        expr = f"split({folded}, ' ')"
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: r["p"]
        for r in df.select(
            "word", F.expr(f"array_join({expr}, ' ')").alias("p")
        ).collect()
    }
    assert got == {w: " ".join(py_encode(w)) for w in words}


def test_bpe_zero_char_document_cross_engine(spark, tmp_path):
    """A whitespace-only document tokenizes to zero-length words
    (n_chars = 0). Both engines must emit the SAME row for it — the
    unguarded division returned NULL in Spark and errored in DuckDB
    (a correctness-harness divergence on any corpus with blanks)."""
    import duckdb

    from qms_datawarehouse_spark.plans.registry import REGISTRY

    rows = [
        (1, "the cat sat on the mat"),
        (2, ""),  # one empty word, 0 chars
        (3, "  "),  # three empty words, 0 chars
        (4, "the cat"),
    ]
    p = str(tmp_path / "documents.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(p)

    got = {
        r["doc_id"]: (
            r["n_words"],
            r["n_pieces"],
            r["pieces_per_char_bp"],
            r["pieces_md5"],
        )
        for r in REGISTRY["text_bpe_encode"].fn(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    # Spark writes a part-file directory; DuckDB needs the glob
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{p}/*.parquet'")
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.sql(REGISTRY["text_bpe_encode"].sql).fetchall()
    }
    assert set(got) == {1, 2, 3, 4}
    assert got == want
    # the blank docs are present with a guarded (not NULL) ratio
    assert got[2][2] is not None and got[3][2] is not None


# --------------------------------------------------------------------
# The distributed rewrites are value-identical to the old plans
# --------------------------------------------------------------------


def test_corpus_curation_two_pass_equals_naive_global_window(spark):
    """The histogram-offset budget cut must reproduce the naive
    single-partition running sum row for row (same doc set, same
    cum_words values)."""
    from pyspark.sql import Window

    from qms_datawarehouse_spark.operators.textops import (
        _TOKEN_BUDGET,
        corpus_curation,
    )

    got = {
        r["doc_id"]: (r["quality_bp"], r["n_words"], r["cum_words"])
        for r in corpus_curation(spark, SF_DIR).collect()
    }
    # naive reference: rebuild the pre-cut frame from the query's own
    # output UNION the rejected docs is impossible post-filter, so
    # recompute from scratch with the old one-window formulation
    # (duplicated here as the spec, not imported)
    from qms_datawarehouse_spark.operators.textops import (
        _KEEP_LANGS,
        _LANGS,
        _MIN_QUALITY_BP,
        _hits,
        _words,
        LANG_MARKERS,
        STOPWORDS,
    )
    from qms_datawarehouse_spark.plans.registry import tables

    (documents,) = tables(spark, SF_DIR, "documents")
    w = _words(F.col("text"))
    m = documents.select(
        "doc_id",
        "text",
        F.size(w).cast("long").alias("n"),
        _hits(w, STOPWORDS).cast("long").alias("h"),
        F.size(F.array_distinct(w)).cast("long").alias("d"),
        *[_hits(w, LANG_MARKERS[x]).alias(f"s_{x}") for x in _LANGS],
    )
    best = F.greatest(*[F.col(f"s_{x}") for x in _LANGS])
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
    wdup = Window.partitionBy(
        F.md5(F.col("text").cast("binary"))
    ).orderBy("doc_id")
    deduped = (
        filtered.withColumn("rn", F.row_number().over(wdup))
        .filter(F.col("rn") == 1)
        .select("doc_id", "predicted_lang", "quality_bp", "n_words")
    )
    wnaive = Window.orderBy(
        F.desc("quality_bp"), F.asc("doc_id")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        r["doc_id"]: (r["quality_bp"], r["n_words"], r["cum_words"])
        for r in deduped.withColumn(
            "cum_words", F.sum("n_words").over(wnaive)
        )
        .filter(F.col("cum_words") <= _TOKEN_BUDGET)
        .collect()
    }
    assert got == want and len(got) > 0


def test_kmv_bottomk_equals_rank_formulation(spark):
    """sketch_kmv_setops' TakeOrdered bottom-K frame must produce the
    same (union, intersection, jacc, estimates) row the global
    row_number formulation produced."""
    from pyspark.sql import Window

    from qms_datawarehouse_spark.plans.advanced import (
        _KMV_K,
        hash_u32,
        sketch_kmv_setops,
    )
    from qms_datawarehouse_spark.plans.registry import tables

    got = sketch_kmv_setops(spark, SF_DIR).first().asDict()

    (events,) = tables(spark, SF_DIR, "events")
    u = (
        events.filter(F.col("event_type").isin("view", "click"))
        .groupBy("user_id")
        .agg(
            F.max(F.col("event_type") == "view").alias("in_a"),
            F.max(F.col("event_type") == "click").alias("in_b"),
        )
        .select(hash_u32(F.col("user_id")).alias("h"), "in_a", "in_b")
    )
    r = u.withColumn("rn", F.row_number().over(Window.orderBy("h")))
    s = r.agg(
        F.count("*").alias("n_union"),
        F.sum((F.col("in_a") & F.col("in_b")).cast("long"))
        .cast("long")
        .alias("n_inter"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth"),
        F.sum(
            ((F.col("rn") <= _KMV_K) & F.col("in_a") & F.col("in_b")).cast(
                "long"
            )
        )
        .cast("long")
        .alias("jacc_num"),
    )
    union_kmv = F.expr(
        f"(({_KMV_K} - 1) * 4294967296) div greatest(kth, 1)"
    )
    want = (
        s.select(
            F.col("n_union").alias("union_exact"),
            F.col("n_inter").alias("inter_exact"),
            "jacc_num",
            F.when(F.col("n_union") >= _KMV_K, union_kmv)
            .otherwise(F.col("n_union"))
            .alias("union_kmv"),
            F.when(
                F.col("n_union") >= _KMV_K,
                F.expr(
                    f"(jacc_num * ((({_KMV_K} - 1) * 4294967296) "
                    f"div greatest(kth, 1))) div {_KMV_K}"
                ),
            )
            .otherwise(F.col("n_inter"))
            .alias("inter_kmv"),
        )
        .first()
        .asDict()
    )
    assert got == want


def test_seed_cut_is_take_ordered_not_global_window(spark):
    """The captured pre-checkpoint plans for the two scale-story rows
    must show the distributed TakeOrdered cut and ZERO no-partition
    Window nodes — the exact plan property the r8 verdict marked
    weak."""
    from test_plans_scale import _global_window_nodes

    from qms_datawarehouse_spark import planaudit
    from qms_datawarehouse_spark.plans.registry import REGISTRY

    with planaudit.capture() as plans:
        REGISTRY["dedup_semantic_scaled"].fn(spark, SF_DIR)
        REGISTRY["sketch_kmv_setops"].fn(spark, SF_DIR)
    plan = plans["dedup_semantic_scaled"]
    assert "TakeOrdered" in plan
    assert _global_window_nodes(plan) == []

    kmv = plans["sketch_kmv_setops"]
    assert "TakeOrdered" in kmv
    assert _global_window_nodes(kmv) == []


def test_semantic_gate_training_has_no_global_window(spark):
    """train_semantic_centroids' seed cut: plan shows TakeOrdered and
    no unpartitioned Window (the gate's first-epoch training path)."""
    from test_plans_scale import _global_window_nodes

    from qms_datawarehouse_spark.operators.kmeans_core import (
        _km_quantized,
    )
    from qms_datawarehouse_spark.operators.semantic_gate import (
        train_semantic_centroids,
    )
    from qms_datawarehouse_spark.plans.registry import tables

    (emb,) = tables(spark, SF_DIR, "embeddings")
    cents = train_semantic_centroids(_km_quantized(emb), 8)
    plan = cents._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan
    assert _global_window_nodes(plan) == []
    assert cents.count() > 0


# --------------------------------------------------------------------
# Scale-probe replica construction: the rotation invariants
# --------------------------------------------------------------------


def test_probe_rotation_construction_invariants(spark):
    """The sf1_probe document replicas are per-replica Caesar
    rotations. Pin the properties the probe's validity rests on:
    (a) byte lengths and token counts are INVARIANT (a true Nx
    corpus, no inflated text-op work); (b) replicas are reversible
    rotations of the base (so within-replica near-dup structure is
    exactly the base's); (c) replica texts DIFFER from the base for
    r > 0 (no cross-replica aliasing). The old token-suffix
    construction satisfied (a) and (c) but collapsed byte-bigram
    diversity — the dedup_image_phash 8.0x artifact."""
    import importlib.util
    import os
    import shutil

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "sf1_probe_mod", os.path.join(root, "tools", "sf1_probe.py")
    )
    sp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sp)

    out = sp.build_scaled_dir(spark, SF_DIR, 3)
    try:
        base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        scaled = spark.read.parquet(f"{out}/documents.parquet")
        n = base.count()
        assert scaled.count() == 3 * n

        alpha = "abcdefghijklmnopqrstuvwxyz"
        for r in (1, 2):
            rep = scaled.filter(
                (F.col("doc_id") >= r * sp.OFFSET)
                & (F.col("doc_id") < (r + 1) * sp.OFFSET)
            ).select(
                (F.col("doc_id") - r * sp.OFFSET).alias("doc_id"),
                F.col("text").alias("rt"),
            )
            j = base.select("doc_id", "text").join(rep, "doc_id")
            assert j.count() == n
            # (a) lengths and token counts invariant
            assert (
                j.filter(
                    (F.length("rt") != F.length("text"))
                    | (
                        F.size(F.split("rt", " ", -1))
                        != F.size(F.split("text", " ", -1))
                    )
                ).count()
                == 0
            )
            # (b) rotating BACK by r reproduces the base text exactly
            back = F.translate(
                F.col("rt"), alpha[r:] + alpha[:r], alpha
            )
            assert j.filter(back != F.col("text")).count() == 0
            # (c) no aliasing: every doc with a letter differs
            assert (
                j.filter(
                    F.col("text").rlike("[a-z]")
                    & (F.col("rt") == F.col("text"))
                ).count()
                == 0
            )
    finally:
        shutil.rmtree(out, ignore_errors=True)
