"""Semantic ingest gate: SemDeDup admission for INCREMENTAL batches.

``dedup_semantic`` prunes a static corpus; this is the streaming
sibling — the reference's upsert-time near-dup collapse
(src/services/etl.py:68-75) lifted to meaning-space and made
batch-incremental, exactly as ``ingest_dedup`` is the incremental form
of ``dedup_minhash_lsh``:

- The first batch trains the fixed-point Lloyd centroids (the
  byte-identical 2-iteration loop of ``embedding_kmeans_2iter``) and
  stores them as a warehouse table (K rows — the codebook).
- Every batch assigns its vectors to the stored centroids map-side
  (K-row broadcast), probes ONLY the stored vectors in its touched
  cells (the corpus is physically partitioned by cell → partition
  pruning, the IVF layout), rejects vectors with a stored cell-mate
  or a lower-id in-batch cell-mate at cosine >= 0.40 (the integer
  threshold compare of ``dedup_semantic`` — no float), and commits
  the admitted rows with an O(touched-cell) partial write — the
  first batch's centroids in the same commit.

Scale shape per batch: quantize + assign are map-side; the probe is a
cell equi-join against a partition-pruned corpus read; the commit is
a partial version over touched cells. Nothing is O(corpus). The
shared gate core is ``incremental_dedup.admit``; the corpus is
partitioned by cell, so it is probed directly, with no band index.

The admission math is driver-verified: ``semantic_gate_replay_two_
epochs`` replays two epochs statelessly with a DuckDB oracle, and
tests/test_round7_invariants.py pins that replay equal to two REAL
``ingest_semantic`` calls through a warehouse.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qms_datawarehouse_spark.operators.kmeans_core import (
    _KM_CELL,
    _KM_K,
    _SEM_T2,
    _cos_quantized,
    _km_assign,
    _km_means,
    _km_quantized,
    km_scaled_k,
)
from qms_datawarehouse_spark.operators.incremental_dedup import (
    GateKernel,
    GateResult,
    admit,
)
from qms_datawarehouse_spark.planaudit import checkpoint_result
from qms_datawarehouse_spark.plans.registry import query, tables

CORPUS_TABLE = "semantic_corpus"
CENTROID_TABLE = "semantic_centroids"
CELL_COL = "cid"


def _dup_cond():
    """cos >= tau as pure integers: dot > 0 and dot^2 * 10^4 >=
    t2 * ||a||^2 * ||b||^2, in decimal(38,0) (see dedup_semantic)."""
    dec = "decimal(38,0)"
    return (F.col("dot") > 0) & (
        F.col("dot").cast(dec) * F.col("dot") * F.lit(10000)
        >= F.lit(_SEM_T2).cast(dec) * F.col("na") * F.col("nb")
    )


def _dot_col():
    return F.aggregate(
        F.zip_with("wa", "wb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _members(batch: DataFrame, cents_list: DataFrame) -> DataFrame:
    """(vec_id, cid, w, nn) for a batch: fixed-point cell assignment
    against the broadcast centroid list + unshifted cosine terms —
    ALL map-side in one projection chain. The previous form derived
    the assignment, the cosine terms, and the norm as three separate
    frames and re-joined them on vec_id: two corpus-wide shuffle
    joins for columns that are pure per-row functions of the same
    input row (§2.4 — remove shuffles outright)."""
    m = _km_assign(
        _km_quantized(batch, keep_w=True), cents_list, keep=("w",)
    )
    return m.select(
        "vec_id",
        "cid",
        "w",
        F.aggregate(
            F.transform("w", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("nn"),
    )


def train_semantic_centroids(q: DataFrame, k: int = _KM_K) -> DataFrame:
    """Two exact Lloyd iterations' centroid table (cid, cv) from a
    quantized frame; seeds are the k lowest vec_ids present (fully
    deterministic — same recipe as embedding_kmeans_2iter, but seeds
    adapt to whatever ids the first batch carries). The cut is a
    distributed TakeOrdered(k) (orderBy + limit → per-partition
    partial top-k), not a single-partition rank window — no task
    ever sorts the whole batch."""
    seeds = (
        q.orderBy("vec_id")
        .limit(k)
        .select(
            F.struct(
                F.col("vec_id").alias("cid"), F.col("v").alias("cv")
            ).alias("c")
        )
        .agg(F.collect_list("c").alias("cents"))
    )
    return _km_means(_km_assign(q, seeds))


def _cents_list(cents: DataFrame) -> DataFrame:
    return cents.select(F.struct("cid", "cv").alias("c")).agg(
        F.collect_list("c").alias("cents")
    )


def _verify_cosine(cand: DataFrame, new: DataFrame, old: DataFrame) -> DataFrame:
    """Exact integer cosine test for candidate (new, old) cell-mates."""
    a = new.select(
        F.col("vec_id").alias("new_id"), F.col("w").alias("wa"), F.col("nn").alias("na")
    )
    b = old.select(
        F.col("vec_id").alias("old_id"), F.col("w").alias("wb"), F.col("nn").alias("nb")
    )
    return (
        cand.join(a, "new_id")
        .join(b, "old_id")
        .withColumn("dot", _dot_col())
        .filter(_dup_cond())
        .select("new_id", "old_id")
    )


SEMANTIC_GATE = GateKernel(
    op="ingest_semantic",
    id_col="vec_id",
    payload_col="embedding",
    noun="embedding",
    project=lambda batch: batch.select("vec_id", "embedding"),
    # the first batch trains the codebook; every batch is assigned to
    # the stored centroids map-side (K-row broadcast)
    features=lambda batch, cents: _members(batch, _cents_list(cents)),
    # a member row is its own key row (one cell per vector)
    keys=lambda mem: mem,
    key_cols=(CELL_COL,),
    part_col=CELL_COL,
    part=lambda: F.col(CELL_COL),
    verify=_verify_cosine,
    corpus_table=CORPUS_TABLE,
    book_table=CENTROID_TABLE,
    # K ∝ first-batch size (km_scaled_k): cells stay ~constant size,
    # so the in-cell pair term is linear in batch size — the
    # dedup_semantic_scaled knob applied to the gate
    train=lambda batch, n: train_semantic_centroids(
        _km_quantized(batch), km_scaled_k(n)
    ),
)


def ingest_semantic(
    warehouse,
    batch: DataFrame,
    corpus_table: str = CORPUS_TABLE,
    centroid_table: str = CENTROID_TABLE,
    max_rejects: int | None = 10_000,
) -> GateResult:
    """Admit the vectors of ``batch`` (``vec_id``, ``embedding``) that
    are not semantic near-dups (cos >= 0.40) of a stored cell-mate or
    of a lower-id batch cell-mate; the cell-partitioned corpus is
    probed only in the batch's touched cells. Contract and commit:
    ``incremental_dedup.admit``."""
    kernel = replace(
        SEMANTIC_GATE, corpus_table=corpus_table, book_table=centroid_table
    )
    return admit(warehouse, kernel, batch, max_rejects=max_rejects)


# --------------------------------------------------------------------
# Stateless two-epoch replay (driver-verified admission math)
# --------------------------------------------------------------------

_EVEN = "((vec_id % 2) + 2) % 2 = 0"
_ODD = "((vec_id % 2) + 2) % 2 = 1"

_SEM_GATE_SQL = f"""
    WITH q1 AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x ->
                   CAST(floor((x + 1.0) * 1000.0) AS BIGINT)) AS v
        FROM embeddings WHERE {_EVEN}
    ),
    c0 AS (
        SELECT vec_id AS cid, v AS cv FROM (
            SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rk
            FROM q1
        ) WHERE rk <= greatest({_KM_K},
                               (SELECT count(*) FROM q1) // {_KM_CELL})
    ),
    d1 AS (
        SELECT q1.vec_id, q1.v, c.cid,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> (q1.v[i] - c.cv[i]) * (q1.v[i] - c.cv[i])))
                   AS BIGINT) AS dist
        FROM q1 CROSS JOIN c0 c
    ),
    a1 AS (
        SELECT vec_id, v, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d1
        ) WHERE rn = 1
    ),
    pd AS (
        SELECT cid, i AS d,
               CAST(sum(v[i]) AS BIGINT) // CAST(count(*) AS BIGINT) AS m
        FROM a1, range(1, 65) t(i)
        GROUP BY cid, i
    ),
    c1 AS (SELECT cid, list(m ORDER BY d) AS cv FROM pd GROUP BY cid),
    qa AS (
        SELECT vec_id,
               CAST({_EVEN} AS INT) = 1 AS e1,
               list_transform(embedding::DOUBLE[], x ->
                   CAST(floor((x + 1.0) * 1000.0) AS BIGINT)) AS v,
               list_transform(embedding::DOUBLE[], x ->
                   CAST(floor(x * 1000.0) AS BIGINT)) AS w
        FROM embeddings
    ),
    da AS (
        SELECT qa.vec_id, qa.e1, qa.w, c.cid,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> (qa.v[i] - c.cv[i]) * (qa.v[i] - c.cv[i])))
                   AS BIGINT) AS dist
        FROM qa CROSS JOIN c1 c
    ),
    mem AS (
        SELECT vec_id, e1, cid, w,
               CAST(list_sum(list_transform(w, x -> x * x)) AS BIGINT)
                   AS nn
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM da
        ) WHERE rn = 1
    ),
    prs AS (
        SELECT a.cid, a.vec_id AS va, a.e1 AS ea,
               b.vec_id AS vb, b.e1 AS eb,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> a.w[i] * b.w[i])) AS BIGINT) AS dot,
               a.nn AS na, b.nn AS nb
        FROM mem a JOIN mem b ON a.cid = b.cid AND a.vec_id < b.vec_id
    ),
    dup AS (
        SELECT cid, va, ea, vb, eb FROM prs
        WHERE dot > 0
          AND CAST(dot AS HUGEINT) * dot * 10000
              >= CAST({_SEM_T2} AS HUGEINT) * na * nb
    ),
    rej1 AS (SELECT DISTINCT vb AS vec_id FROM dup WHERE ea AND eb),
    st1 AS (
        SELECT m.vec_id, m.cid FROM mem m
        LEFT JOIN rej1 r ON m.vec_id = r.vec_id
        WHERE m.e1 AND r.vec_id IS NULL
    ),
    rej2 AS (
        SELECT DISTINCT vec_id FROM (
            -- epoch-2 vector with a STORED epoch-1 cell-mate (either
            -- pair order; the stored side must have survived rej1)
            SELECT d.vb AS vec_id FROM dup d
            JOIN st1 s ON d.va = s.vec_id WHERE NOT d.eb
            UNION ALL
            SELECT d.va FROM dup d
            JOIN st1 s ON d.vb = s.vec_id WHERE NOT d.ea
            UNION ALL
            -- or a lower-id epoch-2 cell-mate
            SELECT d.vb FROM dup d WHERE NOT d.ea AND NOT d.eb
        )
    ),
    st2 AS (
        SELECT m.vec_id, m.cid FROM mem m
        LEFT JOIN rej2 r ON m.vec_id = r.vec_id
        WHERE NOT m.e1 AND r.vec_id IS NULL
    ),
    cells AS (SELECT DISTINCT cid FROM mem)
    SELECT cells.cid AS cell,
           CAST(count(DISTINCT s1.vec_id) AS BIGINT) AS n_stored_e1,
           CAST(count(DISTINCT s2.vec_id) AS BIGINT) AS n_stored_e2,
           CAST(coalesce(sum(DISTINCT s1.vec_id), 0)
                + coalesce(sum(DISTINCT s2.vec_id), 0) AS BIGINT)
               AS stored_id_sum
    FROM cells
    LEFT JOIN st1 s1 ON cells.cid = s1.cid
    LEFT JOIN st2 s2 ON cells.cid = s2.cid
    GROUP BY cells.cid
    ORDER BY cell
"""


@query("semantic_gate_replay_two_epochs", _SEM_GATE_SQL)
def semantic_gate_replay_two_epochs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The semantic ingest gate's admission math as a stateless
    two-epoch program (the ``ingest_gate_replay_two_epochs`` mold,
    minhash swapped for SemDeDup): epoch 1 (even vec_ids) trains the
    fixed-point centroids and self-deduplicates; epoch 2 (odd
    vec_ids) is assigned to the SAME centroids and rejected against
    epoch-1 survivors and lower-id epoch-2 cell-mates. Per-cell
    stored counts + id sums pin the exact admission outcome;
    tests/test_round7_invariants.py pins this replay equal to two
    real ``ingest_semantic`` calls through a warehouse.

    Scale shape: identical to ingest_semantic per epoch — map-side
    assignment, cell equi-join pairs (sum of cell^2, never corpus^2),
    K-row aggregates."""
    (emb,) = tables(spark, sf_dir, "embeddings")
    e1 = emb.filter(F.expr(_EVEN))
    q1 = _km_quantized(e1).persist()
    # K ∝ epoch-1 size, mirroring ingest_semantic's first-batch
    # training (the count also materializes the cache)
    cents = _cents_list(train_semantic_centroids(q1, km_scaled_k(q1.count())))

    # the epoch flag is a pure function of vec_id — computing it in
    # place removes a corpus-wide re-join against the source (§2.4)
    mem = (
        _members(emb, cents)
        .withColumn("e1", F.expr(_EVEN))
        .persist()
    )
    a = mem.select(
        "cid",
        F.col("vec_id").alias("va"),
        F.col("e1").alias("ea"),
        F.col("w").alias("wa"),
        F.col("nn").alias("na"),
    )
    b = mem.select(
        F.col("cid").alias("cid_b"),
        F.col("vec_id").alias("vb"),
        F.col("e1").alias("eb"),
        F.col("w").alias("wb"),
        F.col("nn").alias("nb"),
    )
    dup = (
        a.join(
            b, (F.col("cid") == F.col("cid_b")) & (F.col("va") < F.col("vb"))
        )
        .withColumn("dot", _dot_col())
        .filter(_dup_cond())
        .select("cid", "va", "ea", "vb", "eb")
        .persist()
    )
    rej1 = (
        dup.filter(F.col("ea") & F.col("eb"))
        .select(F.col("vb").alias("vec_id"))
        .distinct()
    )
    st1 = (
        mem.filter("e1")
        .join(rej1, "vec_id", "left_anti")
        .select("vec_id", "cid")
        .persist()
    )
    r2a = (
        dup.filter(~F.col("eb"))
        .join(st1.select(F.col("vec_id").alias("va")), "va")
        .select(F.col("vb").alias("vec_id"))
    )
    r2b = (
        dup.filter(~F.col("ea"))
        .join(st1.select(F.col("vec_id").alias("vb")), "vb")
        .select(F.col("va").alias("vec_id"))
    )
    r2c = dup.filter((~F.col("ea")) & (~F.col("eb"))).select(
        F.col("vb").alias("vec_id")
    )
    rej2 = r2a.unionByName(r2b).unionByName(r2c).distinct()
    st2 = (
        mem.filter(~F.col("e1"))
        .join(rej2, "vec_id", "left_anti")
        .select("vec_id", "cid")
    )
    cells = mem.select("cid").distinct()
    agg1 = st1.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_stored_e1"),
        F.sum("vec_id").alias("s1"),
    )
    agg2 = st2.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_stored_e2"),
        F.sum("vec_id").alias("s2"),
    )
    out = (
        cells.join(agg1, "cid", "left")
        .join(agg2, "cid", "left")
        .select(
            F.col("cid").alias("cell"),
            F.coalesce("n_stored_e1", F.lit(0))
            .cast("long")
            .alias("n_stored_e1"),
            F.coalesce("n_stored_e2", F.lit(0))
            .cast("long")
            .alias("n_stored_e2"),
            (F.coalesce("s1", F.lit(0)) + F.coalesce("s2", F.lit(0)))
            .cast("long")
            .alias("stored_id_sum"),
        )
        .orderBy("cell")
    )
    return checkpoint_result(
        "semantic_gate_replay_two_epochs", out, q1, mem, dup, st1
    )
