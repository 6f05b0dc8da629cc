"""Leaf module: the fixed-point k-means primitives shared by
``similarity`` (embedding_kmeans_2iter, dedup_semantic's Lloyd stage)
and ``semantic_gate`` (the batch-incremental SemDeDup admission gate).

Lives OUTSIDE the registry import graph on purpose (the ``hashsplit``
/ ``lsh_planes`` pattern): modules that register queries are
re-entered partially initialized during the package's circular-import
window, so constants/helpers one of them needs from another AT
MODULE-EXEC TIME must come from a leaf like this one. (semantic_gate
importing these from similarity at module level broke any import
path that touched similarity before the plans package finished
initializing.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qms_datawarehouse_spark.session import spread

_KM_K = 8  # clusters; seeds = vec_id < K (deterministic init)

# SemDeDup's own scaling regime: K grows with the corpus so clusters
# stay ~constant-size and the within-cluster pair term (sum of
# cluster^2) stays LINEAR in N instead of N^2/K. 64 is the target
# cluster size; the floor keeps tiny fixtures at the proven K=8.
_KM_CELL = 64


def km_scaled_k(n: int) -> int:
    """K ∝ N with target cluster size ``_KM_CELL`` and floor
    ``_KM_K`` — the knob that makes the SemDeDup pair stage linear at
    scale (K = N/cell ⇒ sum(cluster²) ≈ N·cell)."""
    return max(_KM_K, n // _KM_CELL)

# cos >= 0.40 expressed in integers: dot > 0 AND dot^2 * 10000 >=
# 1600 * ||a||^2 * ||b||^2 (tau^2 * 10^4). Shared so every semantic
# operator agrees on what "semantic near-dup" means.
_SEM_T2 = 1600


def _km_quantized(emb: DataFrame, keep_w: bool = False) -> DataFrame:
    """Integer fixed-point embedding: floor((x+1)·1000). The +1 shift
    (range check: fixture values sit in (-0.58, 0.52)) keeps every
    component non-negative, so the centroid update's integer division
    is plain truncation — identical in Spark ``div`` and DuckDB ``//``
    — with no negative-floor disagreement. Distances are shift-
    invariant; float→double→floor is bit-identical cross-engine (the
    PQ kernels' proven recipe).

    The shift only stays truncation-safe while every component is
    > -1.0: a smaller value would quantize negative and re-open the
    floor-vs-truncate divergence between the engines. That contract
    is enforced here with an executor-side ``raise_error`` guard (a
    per-element comparison folded into the same transform — no extra
    pass), so a hostile embedding fails LOUDLY instead of as an
    unexplained driver hash mismatch.

    ``keep_w=True`` additionally emits the UNSHIFTED cosine-term
    quantization ``w`` (``_cos_quantized``'s column) in the SAME
    map-side projection — callers needing both (the semantic gate's
    member frame) previously re-derived ``w`` separately and paid a
    corpus-wide vec_id join to re-attach it."""
    # a single-file embedding fixture reads as ONE partition, which ran
    # every downstream CPU-bound stage (Lloyd folds, SemDeDup pair dot
    # products, k-center scans) on one core (measured: dedup_semantic
    # spent 2×2.9 s in single-task stages)
    emb = spread(emb)
    cols = [
        F.col("vec_id"),
        F.expr(
            "CASE WHEN exists(embedding, x -> CAST(x AS DOUBLE) <= -1.0d) "
            "THEN raise_error(concat("
            "'embedding_kmeans quantization requires every component "
            "> -1.0 (shift-positive fixed-point contract); offending "
            "vec_id=', CAST(vec_id AS STRING))) "
            "ELSE transform(embedding, x -> "
            "CAST(floor((CAST(x AS DOUBLE) + 1.0d) * 1000.0d) AS BIGINT)) "
            "END"
        ).alias("v"),
    ]
    if keep_w:
        cols.append(
            F.expr(
                "transform(embedding, x -> "
                "CAST(floor(CAST(x AS DOUBLE) * 1000.0d) AS BIGINT))"
            ).alias("w")
        )
    return emb.select(*cols)


def _km_assign(
    q: DataFrame, cents_df: DataFrame, keep: tuple = ()
) -> DataFrame:
    """Assign every vector to its nearest centroid: the K-row centroid
    list rides one broadcast (same shape as the IVF codebook), squared
    L2 is an integer fold per row, ties break on lowest centroid id
    via struct array_min. No shuffle touches the vectors. ``keep``
    names extra input columns carried through unchanged."""
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(F.col("v"), c["cv"], lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dist"),
            c["cid"].alias("cid"),
        ),
    )
    return (
        q.crossJoin(F.broadcast(cents_df))
        .withColumn("best", F.array_min(scored))
        .select(
            "vec_id",
            "v",
            F.col("best.cid").alias("cid"),
            F.col("best.dist").alias("dist"),
            *keep,
        )
    )


def _km_means(assigned: DataFrame) -> DataFrame:
    """Centroid update: per-(cluster, dim) integer mean (sum div n)
    via one posexplode + keyed aggregate, reassembled into ordered
    centroid arrays — K·64 rows total, the only shuffle per
    iteration."""
    per_dim = (
        assigned.select("cid", F.posexplode("v").alias("d", "val"))
        .groupBy("cid", "d")
        .agg(F.expr("sum(val) div count(val)").alias("m"))
    )
    return per_dim.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "m"))), lambda s: s["m"]
        ).alias("cv")
    )


def _cos_quantized(emb: DataFrame) -> DataFrame:
    """Unshifted fixed-point embedding for cosine terms:
    floor(x·1000) as BIGINT. No shift here — cosine is not shift-
    invariant — and none is needed: dot products and squared norms
    involve no integer division, and floor itself (round toward -inf)
    is identical in both engines on identical doubles."""
    emb = spread(emb)
    return emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "CAST(floor(CAST(x AS DOUBLE) * 1000.0d) AS BIGINT))"
        ).alias("w"),
    )
