"""Similarity search over embedding columns.

- ``similarity_topk_cosine``: brute-force top-k against a query
  vector — the exact baseline. Distributed shape: broadcast the query
  vector, score every row (one scan, no shuffle), TakeOrdered top-k.
- ``similarity_ivf_probe``: IVF coarse quantization + nprobe cell
  pruning + exact rerank, fully oracle-checked (deterministic seed
  codebook); ``train_codebook`` is the DataFrame-native Lloyd's
  k-means that produces a real codebook, ``assign_cells`` the
  map-side full-corpus assignment.
- ``similarity_ann_lsh``: random-hyperplane LSH bucketing — the other
  scale path. Hyperplanes are derived deterministically from md5, so
  bucket assignment is reproducible; search cost drops from O(N) to
  O(bucket). Registered rows-only (the bucketing math is not worth
  expressing in SQL; the exact baseline above is the oracle-checked
  kernel).
- ``cosine_pandas_udf``: the Arrow-vectorized @pandas_udf form of the
  cosine kernel, equivalence-tested against the JVM fold.

At 100 TB: the query vector (or batch of query vectors) broadcasts;
candidate scoring is a map-side zip_with fold inside codegen; top-k
is a per-partition heap + driver merge (TakeOrderedAndProject) — no
global sort, no shuffle of the embedding table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qms_datawarehouse_spark.operators.lsh_planes import (
    N_HYPERPLANES,
    QUERY_VEC_ID,
    TOP_K,
    plane_sql_literal,
)
from qms_datawarehouse_spark.operators.kmeans_core import (  # noqa: F401
    _KM_CELL,
    _KM_K,
    _SEM_T2,
    _cos_quantized,
    _km_assign,
    _km_means,
    _km_quantized,
    km_scaled_k,
)
from qms_datawarehouse_spark.planaudit import checkpoint_result
from qms_datawarehouse_spark.plans.registry import query, tables


def _norm(v: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def _cos_div(num: Column, den: Column) -> Column:
    """Cosine division, NULL-safe for zero-norm vectors (round-13
    degenerate-input audit): Spark 4 runs ANSI mode by default, so a
    plain ``/`` with a zero divisor throws ``DIVIDE_BY_ZERO`` at
    RUNTIME — one all-zero embedding (padding row, dead doc) would
    crash the whole query at scale. ``try_divide`` returns NULL
    instead, which is exactly what DuckDB's ``/`` yields, so the
    oracles match without edits; both engines then sort NULL cosines
    LAST under ``DESC``, so the semantics are "a zero-norm vector
    never matches" — the cosine of an undefined direction."""
    return F.try_divide(num, den)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


@query(
    "similarity_topk_cosine",
    f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))
                   AS nrm
        FROM embeddings
    ),
    q AS (SELECT v AS qv, nrm AS qn FROM e WHERE vec_id = {QUERY_VEC_ID})
    SELECT vec_id, label, cosine FROM (
        SELECT e.vec_id, e.label,
               round(list_sum(list_transform(range(1, 65),
                   i -> e.v[i] * q.qv[i])) / (e.nrm * q.qn), 4) AS cosine
        FROM e, q WHERE e.vec_id <> {QUERY_VEC_ID}
    )
    ORDER BY cosine DESC, vec_id
    LIMIT {TOP_K}
    """,
)
def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast query vector, score all,
    TakeOrdered(k). The exact-ANN baseline.

    The LIMIT boundary is decided on the ROUNDED score (+ id
    tie-break) in both engines — ordering by the raw float lets a
    cross-engine summation-order ulp at the k-th place select
    different rows despite identical rounded output."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", _norm(F.col("v")))
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    cos = _cos_div(_dot(F.col("v"), F.col("qv")), F.col("nrm") * F.col("qn"))
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .withColumn("cosine", F.round(cos, 4))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id", "label", "cosine")
    )


@query(
    "similarity_zero_norm",
    f"""
    WITH e AS (
        SELECT vec_id, label,
               CASE WHEN vec_id % 37 = 5
                    THEN list_transform(embedding::DOUBLE[], x -> 0.0)
                    ELSE embedding::DOUBLE[] END AS v
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e
    ),
    q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = {QUERY_VEC_ID})
    SELECT vec_id, label, cosine FROM (
        SELECT n.vec_id, n.label,
               round(list_sum(list_transform(range(1, 65),
                   i -> n.v[i] * q.qv[i])) / (n.nrm * q.qn), 4) AS cosine
        FROM n, q WHERE n.vec_id <> {QUERY_VEC_ID}
    )
    ORDER BY cosine DESC, vec_id
    LIMIT {TOP_K}
    """,
)
def similarity_zero_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k over a corpus CONTAINING zero-norm vectors (round
    13 degenerate-input audit): every 37th embedding is zeroed before
    scoring. Spark 4 runs ANSI mode by default, so the pre-audit plain
    ``/`` crashed on the first zero-norm row (DIVIDE_BY_ZERO) — one
    padding row would have killed the whole query at 100 TB.
    ``try_divide`` yields NULL, DuckDB's ``/`` yields NULL, and both
    engines sort NULL cosines last under DESC: a zero-norm vector
    never matches, hash-identically cross-engine.

    Evidence guard: the manufactured corpus must actually contain
    zero-norm candidates, and none may appear in the top-k — fail
    loudly, never a trivial match."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    zeroed = F.pmod(F.col("vec_id"), F.lit(37)) == 5
    e = embeddings.select(
        "vec_id",
        "label",
        F.when(
            zeroed, F.transform("embedding", lambda _: F.lit(0.0))
        )
        .otherwise(F.col("embedding").cast("array<double>"))
        .alias("v"),
    ).withColumn("nrm", _norm(F.col("v")))
    n_zero = e.filter(F.col("nrm") == 0.0).count()
    if n_zero <= 0:
        raise AssertionError("zero-norm fixture degenerate: no zeroed rows")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    cos = _cos_div(_dot(F.col("v"), F.col("qv")), F.col("nrm") * F.col("qn"))
    out = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .withColumn("cosine", F.round(cos, 4))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id", "label", "cosine")
    )
    leaked = out.filter(F.pmod(F.col("vec_id"), F.lit(37)) == 5).count()
    if leaked != 0:
        raise AssertionError(
            f"{leaked} zero-norm vectors leaked into the top-k"
        )
    return out


def lsh_bucketed(embeddings: DataFrame, n_planes: int = N_HYPERPLANES) -> DataFrame:
    """Assign each vector a sign-pattern bucket from deterministic
    md5-derived random hyperplanes.

    Hyperplane ``j``'s component ``i`` is ``hash01(md5("j:i")) - 0.5``
    — reproducible everywhere, no stored model. Vectors whose bucket
    matches a query's bucket (or its near neighbors) are the ANN
    candidate set.

    The components enter the plan as LITERAL doubles computed by the
    leaf module's ``plane_component`` (hashlib) — bit-identical to
    the earlier in-plan ``conv(md5(...))`` expressions (int/2³² and
    −0.5 are exactly representable; the lsh_planes equivalence every
    oracle already relies on), but WITHOUT shipping 512 md5/conv
    subtrees through the optimizer: constant-folding that expression
    forest cost seconds of DRIVER time per planning, the dominant
    term in every lsh-bucketed query at small corpus sizes.
    """
    from qms_datawarehouse_spark.operators.lsh_planes import (
        plane_spark_literal,
    )

    # ONE expr string for the whole bit vector: building the plane
    # forest from per-component F.lit Columns cost ~0.2 s of driver
    # py4j time per invocation (512 round-trips); the SQL string
    # parses in the JVM in microseconds and evaluates identically
    # (plane_spark_literal round-trips the exact doubles)
    bits = [
        "(CASE WHEN aggregate(zip_with("
        "CAST(embedding AS array<double>), "
        f"{plane_spark_literal(j)}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x) > 0.0D THEN '1' ELSE '0' END)"
        for j in range(n_planes)
    ]
    return embeddings.withColumn(
        "bucket", F.expr("concat(" + ", ".join(bits) + ")")
    )


N_CELLS = 16  # IVF coarse cells (deterministic seed centroids)
N_PROBE = 4  # cells probed per query


def _ivf_scored_cells(v: Column, nrm: Column) -> Column:
    """Per-row array of struct(negcos, cent_id) against the broadcast
    centroid list — struct ordering gives 'highest cosine, then lowest
    cell id' via plain min/sort, matching the oracle's ORDER BY."""
    return F.transform(
        F.col("cents"),
        lambda c: F.struct(
            (-_cos_div(_dot(v, c["cv"]), nrm * c["cnrm"])).alias("negcos"),
            c["cent_id"].alias("cent_id"),
        ),
    )


@query(
    "similarity_ivf_probe",
    f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))
                   AS nrm
        FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM e
        WHERE vec_id < {N_CELLS}
    ),
    assign AS (
        SELECT vec_id, label, v, nrm, cent_id,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY list_sum(list_transform(range(1, 65),
                                i -> v[i] * cv[i])) / (nrm * cnrm) DESC,
                            cent_id
               ) AS rk
        FROM e CROSS JOIN cents
    ),
    q AS (SELECT v AS qv, nrm AS qn FROM e WHERE vec_id = {QUERY_VEC_ID}),
    qcells AS (
        SELECT cent_id FROM cents CROSS JOIN q
        ORDER BY list_sum(list_transform(range(1, 65),
                     i -> qv[i] * cv[i])) / (qn * cnrm) DESC, cent_id
        LIMIT {N_PROBE}
    )
    SELECT vec_id, label, cell_id, cosine FROM (
        SELECT a.vec_id, a.label, a.cent_id AS cell_id,
               round(list_sum(list_transform(range(1, 65),
                   i -> a.v[i] * q.qv[i])) / (a.nrm * q.qn), 4) AS cosine
        FROM assign a CROSS JOIN q
        WHERE a.rk = 1 AND a.cent_id IN (SELECT cent_id FROM qcells)
          AND a.vec_id <> {QUERY_VEC_ID}
    )
    ORDER BY cosine DESC, vec_id
    LIMIT {TOP_K}
    """,
)
def similarity_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize every vector to its
    nearest cell, probe only the query's ``N_PROBE`` nearest cells,
    exact-rerank inside them. Centroids here are deterministic seed
    vectors (``vec_id < N_CELLS``) standing in for an offline-trained
    k-means codebook — which makes the WHOLE search path (assignment →
    probe pruning → rerank) oracle-checkable, unlike typical ANN.

    Scale shape: the codebook is collect_list'd once (bounded: K cells
    ≪ corpus) and broadcast; assignment is a per-row argmax inside one
    codegen stage — NO shuffle touches the embedding table. At 100 TB
    the table would be written partitioned BY cell_id, so a probe scans
    only nprobe/K of the data (partition pruning); recall is tuned by
    N_PROBE exactly as in FAISS-style IVF.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", _norm(F.col("v")))

    cents = (
        e.filter(F.col("vec_id") < N_CELLS)
        .select(
            F.struct(
                F.col("vec_id").alias("cent_id"),
                F.col("v").alias("cv"),
                F.col("nrm").alias("cnrm"),
            ).alias("c")
        )
        .agg(F.collect_list("c").alias("cents"))
    )

    assigned = (
        e.crossJoin(F.broadcast(cents))
        .withColumn(
            "cell_id", F.array_min(_ivf_scored_cells(F.col("v"), F.col("nrm")))["cent_id"]
        )
        .drop("cents")
    )

    q = (
        e.filter(F.col("vec_id") == QUERY_VEC_ID)
        .crossJoin(F.broadcast(cents))
        .select(
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.transform(
                F.slice(
                    F.array_sort(_ivf_scored_cells(F.col("v"), F.col("nrm"))),
                    1,
                    N_PROBE,
                ),
                lambda s: s["cent_id"],
            ).alias("probe_cells"),
        )
    )

    cos = _cos_div(_dot(F.col("v"), F.col("qv")), F.col("nrm") * F.col("qn"))
    return (
        assigned.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .filter(F.array_contains(F.col("probe_cells"), F.col("cell_id")))
        # LIMIT boundary decided on the rounded score in both engines
        # (raw-float ordering lets a k-th-place ulp pick different rows)
        .withColumn("cosine", F.round(cos, 4))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id", "label", "cell_id", "cosine")
    )


# DuckDB-side planes: computed with hashlib in the shared leaf module
# — bit-identical to the JVM md5 + conv path used in lsh_bucketed
# (power-of-two denominator ⇒ exact division in both engines).
_plane_sql_literal = plane_sql_literal

_ANN_LSH_SQL = f"""
    WITH planes AS (
        SELECT * FROM (VALUES
            {",".join(f"({j}, {_plane_sql_literal(j)})" for j in range(N_HYPERPLANES))}
        ) AS t(plane_id, p)
    ),
    e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    bits AS (
        SELECT e.vec_id, e.label, pl.plane_id,
               CASE WHEN list_sum(list_transform(range(1, 65),
                        i -> e.v[i] * pl.p[i])) > 0
                    THEN '1' ELSE '0' END AS b
        FROM e CROSS JOIN planes pl
    ),
    buckets AS (
        SELECT vec_id, label, string_agg(b, '' ORDER BY plane_id) AS bucket
        FROM bits GROUP BY vec_id, label
    )
    SELECT bucket, count(*) AS n_vectors, count(DISTINCT label) AS n_labels
    FROM buckets GROUP BY bucket
"""


@query("similarity_ann_lsh", _ANN_LSH_SQL)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: hyperplane sign buckets → per-bucket stats.
    The scale path for similarity search — candidate generation
    becomes a bucket equi-join instead of a full scan per query.

    Oracle: the hyperplanes are pure md5-derived constants, so the
    DuckDB side re-derives them as literal arrays (hashlib == JVM md5)
    and replays the same sign test — full value verification of the
    bucket assignment, not just a rows-only check."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    bucketed = lsh_bucketed(embeddings)
    return bucketed.groupBy("bucket").agg(
        F.count("*").alias("n_vectors"),
        F.countDistinct("label").alias("n_labels"),
    )


# --------------------------------------------------------------------
# IVF materialized index: embeddings written partitioned BY cell, so
# a probe becomes a partition-pruned scan of nprobe/K of the corpus
# --------------------------------------------------------------------

IVF_CELL_COL = "cell_id"


def build_ivf_index(
    warehouse,
    embeddings: DataFrame,
    table: str = "ivf_embeddings",
    centroids: DataFrame | None = None,
) -> str:
    """Materialize the IVF layout: assign every vector to its nearest
    centroid (map-side broadcast argmax — no shuffle of the embedding
    table beyond the partitioned write) and store the corpus
    partitioned by ``cell_id``.

    This is the piece that turns nprobe pruning from a row filter into
    PARTITION pruning: a probe reads only the nprobe matching cell
    directories — at 100 TB, nprobe/K of the data never leaves disk.
    Rebuild when the codebook retrains; serving reads are immutable
    versions (same atomic-swap story as every table).
    """
    e = embeddings.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("nrm", _norm(F.col("v")))
    if centroids is None:
        centroids = e.filter(F.col("vec_id") < N_CELLS).select(
            F.col("vec_id").alias("cent_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    assigned = assign_cells(e, centroids).withColumnRenamed("cell_id", IVF_CELL_COL)
    return warehouse.write_version(table, assigned, partition_by=[IVF_CELL_COL])


def update_ivf_index(
    warehouse,
    delta_embeddings: DataFrame,
    table: str = "ivf_embeddings",
    centroids: DataFrame | None = None,
) -> tuple:
    """O(delta) maintenance for the materialized IVF layout — the ANN
    twin of the matview / rollup / join-MV incremental family: a
    batch of new or re-embedded vectors is assigned against the
    FROZEN codebook (broadcast argmax, no shuffle) and only the cell
    partitions it touches are rewritten; every other cell dir
    hardlink-inherits. Returns ``("noop", 0)`` for an empty batch
    (P6) or ``("partial", n_touched_cells)``.

    Correctness subtlety a naive upsert misses: a RE-EMBEDDED vector
    can MOVE cells — its old row lives in cell A, its new assignment
    in cell B. Touched = cells gaining delta rows ∪ cells holding
    prior versions of delta ids (a column-pruned (vec_id, cell) scan
    probed by the broadcast delta-id set — the join-MV dim-probe
    shape), and prior rows of delta ids are anti-joined out, so no
    vec_id ever appears in two cells.

    The codebook is the index's IDENTITY: updates must not change it,
    or every previously-assigned row silently sits in the wrong cell.
    With the default seed-row codebook (``vec_id < N_CELLS``), a
    delta touching a seed id raises — retrain + ``build_ivf_index``
    is the rebuild path (standard IVF practice: codebook retrains
    offline, index updates online).

    Commit protocol: CASed partial write pinned to the version the
    codebook and prior assignments were read from (the round-13
    pin-first discipline) — a racing updater surfaces
    ``ConcurrentWriteError``, never silently drops rows.
    """
    base = warehouse.current_version_name(table)
    if base is None:
        raise FileNotFoundError(f"IVF table not found: {table}")
    # ONE aggregate over the delta serves three gates that each cost a
    # job when run separately (the documented P6 noop path paid the
    # seed-hit count + an isEmpty before this): row count (empty
    # short-circuit FIRST — an empty batch runs exactly this one job
    # and never reads the stored table), distinct-id count (a batch
    # carrying two rows for one vec_id — insert + re-embed, or plain
    # duplicates — would write the id into two cells, violating the
    # one-cell-per-vec_id invariant the replay row's guard protects),
    # and seed-id hits (only enforced for the default seed-row
    # codebook below).
    gate = delta_embeddings.select(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("vec_id")).alias("nd"),
        F.count(F.when(F.col("vec_id") < N_CELLS, 1)).alias("seed"),
        F.count(F.when(F.col("vec_id").isNull(), 1)).alias("nulls"),
    ).first()
    if not gate["n"]:
        return ("noop", 0)
    if gate["nulls"]:
        # count_distinct skips NULLs, so without this dedicated gate a
        # NULL vec_id (no actual duplicates) surfaced as a misleading
        # "resolve duplicates" error
        raise ValueError(
            f"delta batch holds {gate['nulls']} rows with NULL vec_id "
            "— assign real ids before updating the index"
        )
    if gate["nd"] != gate["n"]:
        raise ValueError(
            f"delta batch holds {gate['n']} rows but only {gate['nd']} "
            "distinct vec_ids — resolve duplicates (last write wins) "
            "before updating the index, or a vec_id lands in two cells"
        )
    stored = warehouse.read(table, version=base)
    if centroids is None:
        centroids = stored.filter(F.col("vec_id") < N_CELLS).select(
            F.col("vec_id").alias("cent_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
        if gate["seed"]:
            raise ValueError(
                f"{gate['seed']} delta rows touch codebook seed ids "
                f"(vec_id < {N_CELLS}) — re-embedding a centroid "
                "requires retrain + build_ivf_index, not an update"
            )
    e = delta_embeddings.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("nrm", _norm(F.col("v")))
    assigned = assign_cells(e, centroids).withColumnRenamed(
        "cell_id", IVF_CELL_COL
    )
    delta_ids = e.select("vec_id")
    # ONE distinct-collect serves both touched-cell sources (cells
    # gaining delta rows ∪ prior cells of delta ids) — bounded by the
    # cell count, never the corpus; separately they cost two jobs
    touched = sorted(
        int(r[0])
        for r in assigned.select(IVF_CELL_COL)
        .unionByName(
            stored.select("vec_id", IVF_CELL_COL)
            .join(F.broadcast(delta_ids), "vec_id", "left_semi")
            .select(IVF_CELL_COL)
        )
        .distinct()
        .collect()
    )
    keep = stored.filter(F.col(IVF_CELL_COL).isin(touched)).join(
        F.broadcast(delta_ids), "vec_id", "left_anti"
    )
    merged = keep.unionByName(assigned)
    warehouse.write_version_partial(
        table,
        merged,
        touched,
        partition_col=IVF_CELL_COL,
        base_version=base,
    )
    return ("partial", len(touched))


_IVF_REPLAY_SQL = f"""
    WITH src AS (
        SELECT vec_id, label,
               CASE WHEN vec_id >= {N_CELLS} AND vec_id % 7 = 1
                         AND vec_id % 3 <> 0
                    THEN list_transform(embedding::DOUBLE[], x -> -x)
                    ELSE embedding::DOUBLE[] END AS v
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM src
    ),
    cents AS (
        SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
        FROM n WHERE vec_id < {N_CELLS}
    ),
    assign AS (
        SELECT n.vec_id, n.label, cent_id,
               row_number() OVER (
                   PARTITION BY n.vec_id
                   ORDER BY list_sum(list_transform(range(1, 65),
                                i -> n.v[i] * cv[i])) / (nrm * cnrm) DESC,
                            cent_id
               ) AS rk
        FROM n CROSS JOIN cents
    )
    SELECT vec_id, label, CAST(cent_id AS BIGINT) AS cell_id
    FROM assign WHERE rk = 1
"""


@query("ivf_index_incremental_replay", _IVF_REPLAY_SQL)
def ivf_index_incremental_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance pinned equal to the full
    rebuild the oracle runs — through the REAL warehouse path (the
    matview_incremental_replay mold, extended to the ANN layer):
    build the index from epoch 1 (seed rows + vec_id % 3 != 0), then
    ``update_ivf_index`` with epoch 2 = the % 3 == 0 inserts PLUS
    re-embedded updates (vec_id % 7 == 1 rows with NEGATED vectors —
    negation flips the cosine argmax, so updated vectors MOVE cells,
    exercising the old-cell-eviction path a naive per-cell upsert
    gets wrong). The final table must hash-equal the oracle's
    one-shot assignment of the fully-updated corpus against the
    frozen seed codebook.

    Evidence guards (fail loudly, never a trivial match): the update
    must take the PARTIAL path, at least one updated vector must have
    actually changed cells, and no vec_id may appear in two cells
    after the move."""
    import shutil

    from qms_datawarehouse_spark.tmputil import pid_scoped_dir
    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    import os

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    root = pid_scoped_dir("qms_ivf_replay", tag)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(spark, root)

    vid = F.col("vec_id")
    ins_pred = (vid >= N_CELLS) & (F.pmod(vid, F.lit(3)) == 0)
    upd_pred = (
        (vid >= N_CELLS)
        & (F.pmod(vid, F.lit(7)) == 1)
        & (F.pmod(vid, F.lit(3)) != 0)
    )
    build_ivf_index(wh, embeddings.filter(~ins_pred))

    updates = embeddings.filter(upd_pred).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    delta = (
        embeddings.filter(ins_pred)
        .select("vec_id", "label", "embedding")
        .unionByName(updates)
    )
    # prior cells of the updated ids, resolved BEFORE the update (the
    # version path pins at read() time; the old version is retained)
    before = wh.read("ivf_embeddings").select(
        "vec_id", F.col(IVF_CELL_COL).alias("cell_before")
    )
    mode, n_cells = update_ivf_index(wh, delta)
    if mode != "partial" or n_cells == 0:
        raise AssertionError(f"update did not take the partial path: "
                             f"{mode}/{n_cells}")
    out = wh.read("ivf_embeddings").select(
        "vec_id", "label", F.col(IVF_CELL_COL).cast("long").alias("cell_id")
    )
    # ONE aggregate serves all three evidence guards (was: a count, a
    # distinct-count, and a join+count — three jobs). `before` holds
    # one row per stored vec_id, so the left join preserves out's row
    # multiplicity; inserted ids get a NULL cell_before, which the
    # moved predicate correctly ignores.
    probe = out.join(before, "vec_id", "left").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("vec_id")).alias("nd"),
        F.count(
            F.when(F.col("cell_id") != F.col("cell_before"), 1)
        ).alias("moved"),
    ).first()
    if probe["n"] != probe["nd"]:
        raise AssertionError(
            f"{probe['n'] - probe['nd']} vec_ids in two cells after a "
            "cell move"
        )
    if probe["moved"] == 0:
        raise AssertionError(
            "no vector changed cells — the re-embed fixture is "
            "degenerate and the eviction path went unexercised"
        )
    return out


def ivf_probe_indexed(
    warehouse,
    query_vec: list[float],
    table: str = "ivf_embeddings",
    centroids: DataFrame | None = None,
    n_probe: int = N_PROBE,
    top_k: int = TOP_K,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """ANN search against the materialized IVF table: pick the query's
    ``n_probe`` nearest cells driver-side against the (tiny) codebook,
    then scan ONLY those cell partitions and exact-rerank.

    The cell filter is an IN over the partition column → Spark prunes
    the other cell directories at planning time (PartitionFilters in
    the scan, pinned by tests/test_plans_scale.py-style asserts) —
    the materialized twin of ``similarity_ivf_probe``'s row-filter
    pruning."""
    spark = warehouse.spark
    stored = warehouse.read(table)
    if centroids is None:
        centroids = stored.filter(F.col("vec_id") < N_CELLS).select(
            F.col("vec_id").alias("cent_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    import math

    qv = [float(x) for x in query_vec]
    qn = math.sqrt(sum(x * x for x in qv))
    if qn == 0.0:
        # cosine against a zero query is undefined everywhere — fail
        # loudly here instead of a ZeroDivisionError mid-fold
        raise ValueError("query vector has zero norm; cosine undefined")
    # codebook is tiny (K rows): the nprobe argmax is a driver-side
    # fold over collected centroids, not a Spark job. Zero-norm
    # centroids (a cell whose members were all zero) can't rank.
    cents = centroids.collect()
    scored = sorted(
        (
            (
                -sum(x * y for x, y in zip(qv, r["cv"])) / (qn * r["cnrm"]),
                r["cent_id"],
            )
            for r in cents
            if r["cnrm"] > 0.0
        ),
    )
    probe = [cid for _, cid in scored[:n_probe]]

    # one expr string, not 64 F.lit py4j round-trips (exact doubles)
    qcol = F.expr(
        "array(" + ",".join(f"{float(x)!r}D" for x in qv) + ")"
    )
    cos = _cos_div(_dot(F.col("v"), qcol), F.col("nrm") * F.lit(qn))
    scan = stored.filter(F.col(IVF_CELL_COL).isin(probe))  # partition pruning
    if exclude_vec_id is not None:
        # self-exclusion BEFORE the top-k so the limit still fills k
        scan = scan.filter(F.col("vec_id") != exclude_vec_id)
    return (
        scan.withColumn("cosine", F.round(cos, 4))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(top_k)
        .select("vec_id", "label", F.col(IVF_CELL_COL), "cosine")
    )


# --------------------------------------------------------------------
# IVF codebook training: Lloyd's k-means in pure DataFrame ops
# --------------------------------------------------------------------


def assign_cells(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (cosine) via per-row argmax against
    the broadcast codebook — same no-shuffle shape as the IVF probe."""
    cents = centroids.select(
        F.struct(
            F.col("cent_id"), F.col("cv"), F.col("cnrm")
        ).alias("c")
    ).agg(F.collect_list("c").alias("cents"))
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            (-_cos_div(_dot(F.col("v"), c["cv"]), F.col("nrm") * c["cnrm"])).alias(
                "negcos"
            ),
            c["cent_id"].alias("cent_id"),
        ),
    )
    return (
        vectors.crossJoin(F.broadcast(cents))
        .withColumn("cell_id", F.array_min(scored)["cent_id"])
        .drop("cents")
    )


def train_codebook(
    embeddings: DataFrame, k: int = N_CELLS, iterations: int = 3
) -> DataFrame:
    """Lloyd's k-means over the embedding column, expressed entirely in
    DataFrame ops (no MLlib dependency, no driver-side math):

    - init: deterministic seed vectors (vec_id < k);
    - assign: broadcast-codebook argmax (map-side, no shuffle);
    - update: element-wise centroid means via posexplode →
      groupBy(cell, dim) → re-assemble sorted arrays.

    Returns (cent_id, cv, cnrm) — the codebook ``similarity_ivf_probe``
    consumes. At 100 TB you train on a sample (codebook quality needs
    ~1000·k vectors, not the corpus); assignment of the full corpus is
    the map-side pass above. Empty cells keep their previous centroid
    (standard Lloyd's degenerate-cell handling)."""
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", _norm(F.col("v")))

    centroids = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )

    for _ in range(iterations):
        assigned = assign_cells(e, centroids)
        dims = assigned.select(
            "cell_id", F.posexplode("v").alias("dim", "x")
        )
        means = (
            dims.groupBy("cell_id", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("dim"), F.col("m")))
                    ),
                    lambda s: s["m"],
                ).alias("cv")
            )
            .select(
                F.col("cell_id").alias("cent_id"),
                "cv",
                _norm(F.col("cv")).alias("cnrm"),
            )
        )
        # empty cells: keep previous centroid
        kept = centroids.join(
            means.select("cent_id"), "cent_id", "left_anti"
        )
        centroids = means.unionByName(kept)
    return centroids


def codebook_sse(embeddings: DataFrame, centroids: DataFrame) -> float:
    """Mean cosine distance of every vector to its assigned centroid —
    the quantization-quality metric k-means descends."""
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", _norm(F.col("v")))
    assigned = assign_cells(e, centroids)
    cents = centroids.select(
        F.col("cent_id").alias("cell_id"), "cv", "cnrm"
    )
    cos = _cos_div(_dot(F.col("v"), F.col("cv")), F.col("nrm") * F.col("cnrm"))
    return (
        assigned.join(F.broadcast(cents), "cell_id")
        .select((1.0 - cos).alias("dist"))
        .agg(F.avg("dist"))
        .first()[0]
    )


# --------------------------------------------------------------------
# Scalar @pandas_udf alternative kernel (U0 vectorized form)
# --------------------------------------------------------------------


def cosine_pandas_udf():
    """Arrow-vectorized cosine against a closure-captured query vector
    — the @pandas_udf form of the zip_with fold used everywhere else.
    Built-ins win below ~10⁴ dims (no Python round-trip); the pandas
    form wins when the kernel needs numpy/BLAS (large dims, batched
    matrix ops). Equivalence is pinned in tests/test_codebook.py."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def make(query_vec: list[float]):
        q = np.asarray(query_vec, dtype=np.float64)
        qn = float(np.sqrt((q * q).sum()))

        def cos(v):
            m = np.stack(v.to_numpy())  # (batch, dim) — one BLAS call
            dots = m @ q
            norms = np.sqrt((m * m).sum(axis=1))
            den = norms * qn
            # zero-norm rows: numpy would emit inf/nan — and Spark
            # sorts NaN ABOVE every real value under DESC, silently
            # ranking degenerate vectors first. Mask to NULL (nullable
            # Float64 -> Arrow null), matching the JVM try_divide twin.
            with np.errstate(divide="ignore", invalid="ignore"):
                out = np.where(den == 0.0, np.nan, dots / den)
            return pd.Series(out, dtype="Float64").mask(den == 0.0)

        # module uses `from __future__ import annotations` (string
        # hints, which pandas_udf can't infer) — set real ones
        cos.__annotations__ = {"v": pd.Series, "return": pd.Series}
        return pandas_udf("double")(cos)

    return make


# --------------------------------------------------------------------
# k-NN self-join: every vector's top-k neighbors via LSH buckets
# --------------------------------------------------------------------

K_NEIGHBORS = 5


def knn_join_lsh(embeddings: DataFrame, k: int = K_NEIGHBORS) -> DataFrame:
    """For EVERY vector, its top-``k`` most-cosine-similar neighbors
    among vectors sharing its LSH sign bucket — the all-queries
    companion to the single-query top-k above.

    Scale shape: candidate generation is a bucket equi-join, so total
    pair work is Σ(bucket²) rather than corpus² (256 buckets at 8
    planes; add planes to subdivide further, or band the signature for
    multi-probe recall). The per-vector ranking is one window over the
    pair set, partitioned by the query vector — no global order, no
    driver state. Recall is bucket-bounded by construction and the
    operator says so: a neighbor in another bucket is not a candidate
    (the documented LSH trade; the IVF index above is the other
    recall/cost point).
    """
    e = lsh_bucketed(embeddings).select(
        "vec_id",
        "bucket",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    e = e.withColumn("nrm", _norm(F.col("v")))
    a = e.select(
        F.col("vec_id").alias("qid"),
        F.col("bucket"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cos = _cos_div(_dot(F.col("v"), F.col("qv")), F.col("nrm") * F.col("qn"))
    pairs = (
        a.join(e, "bucket")
        .filter(F.col("vec_id") != F.col("qid"))
        # rank on the ROUNDED score (+ id tie-break) so the k-th
        # boundary is decided on identical values in both engines;
        # + 0.0 canonicalizes IEEE -0.0 (a tiny negative cosine rounds
        # to -0.0 in DuckDB but 0.0 in Spark)
        .withColumn("cosine", F.round(cos, 4) + F.lit(0.0))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("vec_id").alias("neighbor_id"),
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )


_KNN_SQL = f"""
    WITH planes AS (
        SELECT * FROM (VALUES
            {",".join(f"({j}, {_plane_sql_literal(j)})" for j in range(N_HYPERPLANES))}
        ) AS t(plane_id, p)
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
    ),
    be AS (
        SELECT b.vec_id, b.bucket, e.v, e.nrm
        FROM buckets b JOIN e ON b.vec_id = e.vec_id
    ),
    pairs AS (
        SELECT a.vec_id AS qid, c.vec_id AS neighbor_id,
               round(list_sum(list_transform(range(1, 65),
                   i -> a.v[i] * c.v[i])) / (a.nrm * c.nrm), 4) + 0.0
                   AS cosine
        FROM be a JOIN be c ON a.bucket = c.bucket
        WHERE a.vec_id <> c.vec_id
    ),
    ranked AS (
        SELECT qid, neighbor_id, cosine,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cosine DESC, neighbor_id
               ) AS rank
        FROM pairs
    )
    SELECT qid AS vec_id, neighbor_id, cosine, rank
    FROM ranked WHERE rank <= {K_NEIGHBORS}
"""


@query("similarity_knn_join_lsh", _KNN_SQL)
def similarity_knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed k-NN self-join: top-5 in-bucket neighbors per vector.
    Oracle replays the identical md5-derived hyperplane bucketing in
    DuckDB, so assignment AND ranking are fully value-verified."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    return knn_join_lsh(embeddings)


# --------------------------------------------------------------------
# Two-stage retrieval: truncated-embedding coarse rank + full rerank
# --------------------------------------------------------------------

TRUNC_DIM = 16  # Matryoshka-style prefix used for the coarse pass
RERANK_CAND = 50  # candidates surviving the coarse cut

_TRUNC_RERANK_SQL = f"""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(floor(x*1000) AS BIGINT)) AS iv
        FROM embeddings
    ),
    q AS (SELECT iv AS qv FROM e WHERE vec_id = 0),
    coarse AS (
        SELECT e.vec_id, e.label, e.iv,
               list_sum(list_transform(range(1, {TRUNC_DIM}+1),
                 i -> (e.iv[CAST(i AS BIGINT)] - q.qv[CAST(i AS BIGINT)])
                    * (e.iv[CAST(i AS BIGINT)] - q.qv[CAST(i AS BIGINT)])))
                   AS coarse_d
        FROM e, q WHERE e.vec_id <> 0
    ),
    cand AS (
        SELECT * FROM coarse ORDER BY coarse_d, vec_id
        LIMIT {RERANK_CAND}
    )
    SELECT c.vec_id, c.label, CAST(c.coarse_d AS BIGINT) AS coarse_d,
           CAST(list_sum(list_transform(range(1, 64+1),
             i -> (c.iv[CAST(i AS BIGINT)] - q.qv[CAST(i AS BIGINT)])
                * (c.iv[CAST(i AS BIGINT)] - q.qv[CAST(i AS BIGINT)])))
               AS BIGINT) AS full_d
    FROM cand c, q
    ORDER BY full_d, vec_id
    LIMIT {TOP_K}
"""


@query("similarity_truncated_rerank", _TRUNC_RERANK_SQL)
def similarity_truncated_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval over Matryoshka-style truncated embeddings:
    rank the corpus by exact L2 on the FIRST {TRUNC_DIM} dimensions
    (the cheap pass — at storage level a truncated copy is 4× smaller
    and scan-friendly), keep {RERANK_CAND} candidates, then rerank
    just those with the full 64-dim distance. The production retrieval
    pattern when embeddings are trained front-loaded (MRL): coarse
    recall from the prefix, exactness from the rerank. Fixed-point
    integer distances make both cut boundaries total-ordered and the
    whole path oracle-checkable.

    Scale shape: the coarse distance is map-side over a prefix slice
    (a column-pruned scan when the truncated copy is stored as its own
    column); the ONLY cross-row ops are a {RERANK_CAND}-row
    TakeOrdered and a {TOP_K}-row TakeOrdered over those candidates —
    the corpus is never shuffled and the full vectors of non-survivors
    are never touched."""
    from qms_datawarehouse_spark.operators.pq import _int_vec, _sq_l2

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id", "label", _int_vec(F.col("embedding")).alias("iv")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("iv").alias("qv"))
    coarse = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn(
            "coarse_d",
            _sq_l2(
                F.slice("iv", 1, TRUNC_DIM), F.slice("qv", 1, TRUNC_DIM)
            ),
        )
    )
    cand = coarse.orderBy("coarse_d", "vec_id").limit(RERANK_CAND)
    return (
        cand.withColumn("full_d", _sq_l2(F.col("iv"), F.col("qv")))
        .select("vec_id", "label", "coarse_d", "full_d")
        .orderBy("full_d", "vec_id")
        .limit(TOP_K)
    )


# --------------------------------------------------------------------
# Embedding distribution stats: per-label coherence
# --------------------------------------------------------------------


@query(
    "embedding_label_coherence",
    """
    WITH e AS (
        SELECT label,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(floor(x*1000) AS BIGINT)) AS iv
        FROM embeddings
    ),
    dims AS (
        SELECT label, s.i AS dim,
               CAST(sum(iv[CAST(s.i + 1 AS BIGINT)]) AS BIGINT) AS sv
        FROM e, UNNEST(range(64)) AS s(i)
        GROUP BY label, s.i
    ),
    agg AS (
        SELECT label,
               CAST(sum(sv * sv) AS BIGINT) AS sum_vec_sq
        FROM dims GROUP BY label
    ),
    norms AS (
        SELECT label,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(list_sum(list_transform(iv, x -> x * x)))
                    AS BIGINT) AS ssq
        FROM e GROUP BY label
    )
    SELECT n.label, n.n, n.ssq, a.sum_vec_sq,
           round(a.sum_vec_sq * 1.0 / (n.n * n.ssq), 6) AS coherence
    FROM norms n JOIN agg a ON n.label = a.label
    """,
)
def embedding_label_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding COHERENCE — ‖Σv‖² / (n·Σ‖v‖²), the exact
    mean-resultant-length statistic: 1.0 when every vector in the
    label points the same way, → 1/n for isotropic noise. The
    distribution-monitoring primitive for embedding pipelines (a
    label whose coherence drops between model versions has drifted;
    a "cluster" near 1/n is not a cluster). All sufficient statistics
    are exact BIGINTs on fixed-point vectors — the one division at
    the end is engine-identical.

    Scale shape: one posexplode pass to per-(label, dim) sums
    (partial-aggregated; 64·|labels| rows out), one per-row fold for
    ‖v‖², two label-keyed aggregations — the corpus is scanned once
    per branch of one plan and never pairwise-joined."""
    from qms_datawarehouse_spark.operators.pq import _int_vec

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "label", _int_vec(F.col("embedding")).alias("iv")
    )
    dims = (
        e.select("label", F.posexplode("iv").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.sum("x").cast("long").alias("sv"))
    )
    agg = dims.groupBy("label").agg(
        F.sum(F.col("sv") * F.col("sv")).cast("long").alias("sum_vec_sq")
    )
    norms = e.select(
        "label",
        F.aggregate(
            F.transform("iv", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sq"),
    ).groupBy("label").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("sq").cast("long").alias("ssq"),
    )
    return norms.join(agg, "label").select(
        "label",
        "n",
        "ssq",
        "sum_vec_sq",
        F.round(
            # try_divide: an all-zero label (ssq 0) yields NULL, as the
            # oracle's DuckDB division does — not an ANSI runtime crash
            F.try_divide(
                F.col("sum_vec_sq") * 1.0, F.col("n") * F.col("ssq")
            ),
            6,
        ).alias("coherence"),
    )


# --------------------------------------------------------------------
# Fixed-point k-means (2 iterations) — semantic clustering for
# curation, exact across engines
# --------------------------------------------------------------------


# Shared CTE prefix: quantize → seed → two exact Lloyd iterations →
# a2(vec_id, cid, dist) is the final assignment. Reused verbatim by
# the kmeans driver query and by dedup_semantic's oracle so the two
# queries pin the SAME clustering arithmetic.
_KM_CTES = f"""q AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x ->
                   CAST(floor((x + 1.0) * 1000.0) AS BIGINT)) AS v
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM q WHERE vec_id < {_KM_K}),
    d1 AS (
        SELECT q.vec_id, q.v, c.cid,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i])))
                   AS BIGINT) AS dist
        FROM q CROSS JOIN c0 c
    ),
    a1 AS (
        SELECT vec_id, v, cid, dist FROM (
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
    d2 AS (
        SELECT q.vec_id, c.cid,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i])))
                   AS BIGINT) AS dist
        FROM q CROSS JOIN c1 c
    ),
    a2 AS (
        SELECT vec_id, cid, dist FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d2
        ) WHERE rn = 1
    )"""

_KM_SQL = f"""
    WITH {_KM_CTES},
    cs AS (SELECT cid, CAST(list_sum(cv) AS BIGINT) AS centroid_sum FROM c1)
    SELECT a2.cid AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(a2.dist) AS BIGINT) AS inertia,
           cs.centroid_sum
    FROM a2 JOIN cs ON a2.cid = cs.cid
    GROUP BY a2.cid, cs.centroid_sum
    ORDER BY cluster_id
"""


@query("embedding_kmeans_2iter", _KM_SQL)
def embedding_kmeans_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two exact iterations of k-means over the embedding corpus — the
    semantic-clustering primitive behind SemDeDup-style curation
    (cluster, then dedup/select within clusters): deterministic seeds
    (vec_id < K), integer fixed-point arithmetic end-to-end, so both
    engines produce BYTE-identical assignments, centroids and inertia
    — an ITERATIVE ML loop with full value-hash verification, not just
    row counts (the CC fixpoint is the only other iterative operator).

    Scale shape per iteration: assignment is map-side (K-row broadcast,
    integer fold per row — no shuffle of the corpus); the update
    shuffles K·64 partial sums. Driver holds only the K×64 centroid
    table between iterations — the classic Lloyd's-on-MapReduce layout,
    which at 100 TB runs the same two plans per iteration unchanged."""
    (emb,) = tables(spark, sf_dir, "embeddings")
    q = _km_quantized(emb).persist()
    c0 = (
        q.filter(F.col("vec_id") < _KM_K)
        .select(
            F.struct(
                F.col("vec_id").alias("cid"), F.col("v").alias("cv")
            ).alias("c")
        )
        .agg(F.collect_list("c").alias("cents"))
    )
    a1 = _km_assign(q, c0)
    means = _km_means(a1).persist()
    c1 = means.select(F.struct("cid", "cv").alias("c")).agg(
        F.collect_list("c").alias("cents")
    )
    a2 = _km_assign(q, c1)
    cent_sums = means.select(
        "cid",
        F.aggregate(
            "cv", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("centroid_sum"),
    )
    return (
        a2.groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("dist").cast("long").alias("inertia"),
        )
        .join(cent_sums, "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            "inertia",
            "centroid_sum",
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------
# SemDeDup: semantic dedup as a full pipeline operator
# --------------------------------------------------------------------

# cos >= 0.40 expressed in integers: dot > 0 AND dot^2 * 10000 >=
# 1600 * ||a||^2 * ||b||^2 (tau^2 * 10^4). Same threshold as the
# brute-force dedup_embedding_cosine kernel so the two operators agree
# on what "semantic near-dup" means.

def _sem_sql(km_ctes: str) -> str:
    """The SemDeDup oracle body over any clustering-CTE prefix that
    ends in ``a2(vec_id, cid, dist)`` — shared by the fixed-K row and
    the K∝N scaled row so both pin the same prune/keep arithmetic."""
    return f"""
    WITH {km_ctes},
    qc AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x ->
                   CAST(floor(x * 1000.0) AS BIGINT)) AS w
        FROM embeddings
    ),
    nrm AS (
        SELECT vec_id,
               CAST(list_sum(list_transform(w, x -> x * x)) AS BIGINT)
                   AS nn
        FROM qc
    ),
    mem AS (
        SELECT a2.vec_id, a2.cid, qc.w, nrm.nn
        FROM a2
        JOIN qc ON a2.vec_id = qc.vec_id
        JOIN nrm ON a2.vec_id = nrm.vec_id
    ),
    prs AS (
        SELECT a.cid, a.vec_id AS va, b.vec_id AS vb,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> a.w[i] * b.w[i])) AS BIGINT) AS dot,
               a.nn AS na, b.nn AS nb
        FROM mem a
        JOIN mem b ON a.cid = b.cid AND a.vec_id < b.vec_id
    ),
    dup AS (
        SELECT cid, va, vb FROM prs
        WHERE dot > 0
          AND CAST(dot AS HUGEINT) * dot * 10000
              >= CAST({_SEM_T2} AS HUGEINT) * na * nb
    ),
    rem AS (SELECT DISTINCT cid, vb AS vec_id FROM dup),
    dp AS (
        SELECT cid, CAST(count(*) AS BIGINT) AS n_dup_pairs
        FROM dup GROUP BY cid
    ),
    base AS (
        SELECT m.cid,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(count(r.vec_id) AS BIGINT) AS n_removed,
               CAST(coalesce(sum(r.vec_id), 0) AS BIGINT)
                   AS removed_id_sum
        FROM mem m
        LEFT JOIN rem r ON m.cid = r.cid AND m.vec_id = r.vec_id
        GROUP BY m.cid
    )
    SELECT base.cid AS cluster_id,
           n_members,
           CAST(coalesce(dp.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           n_removed,
           CAST(n_members - n_removed AS BIGINT) AS n_kept,
           removed_id_sum
    FROM base LEFT JOIN dp ON base.cid = dp.cid
    ORDER BY cluster_id
"""


_SEM_SQL = _sem_sql(_KM_CTES)

# K∝N clustering CTEs: same two Lloyd iterations, but K derives from
# the corpus row count (greatest(8, n // 64)) and seeds are the K
# lowest vec_ids by RANK (row_number), so the recipe survives any id
# domain (probe replicas with offset ids included).
_K_DYN_SQL = (
    f"greatest({_KM_K}, (SELECT count(*) FROM embeddings) // {_KM_CELL})"
)
_KM_CTES_SCALED = _KM_CTES.replace(
    f"c0 AS (SELECT vec_id AS cid, v AS cv FROM q WHERE vec_id < {_KM_K}),",
    f"""c0 AS (
        SELECT vec_id AS cid, v AS cv FROM (
            SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rk
            FROM q
        ) WHERE rk <= {_K_DYN_SQL}
    ),""",
)
assert _KM_CTES_SCALED != _KM_CTES  # replace() must have matched

_SEM_SQL_SCALED = _sem_sql(_KM_CTES_SCALED)


def _km_assignments(q: DataFrame) -> DataFrame:
    """The two exact Lloyd iterations of ``embedding_kmeans_2iter``
    over an (ideally persisted) ``_km_quantized`` frame, returning the
    final (vec_id, cid) assignment — the shared clustering stage of
    the kmeans driver query and ``dedup_semantic``. The caller owns
    the quantized frame's cache lifetime: this plan references it five
    times (seeds, two assigns, one update)."""
    c0 = (
        q.filter(F.col("vec_id") < _KM_K)
        .select(
            F.struct(
                F.col("vec_id").alias("cid"), F.col("v").alias("cv")
            ).alias("c")
        )
        .agg(F.collect_list("c").alias("cents"))
    )
    a1 = _km_assign(q, c0)
    c1 = (
        _km_means(a1)
        .select(F.struct("cid", "cv").alias("c"))
        .agg(F.collect_list("c").alias("cents"))
    )
    return _km_assign(q, c1).select("vec_id", "cid")


@query("dedup_semantic", _SEM_SQL)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) as one verified pipeline: cluster
    the embedding corpus with the byte-identical fixed-point Lloyd
    loop, prune cosine>=0.40 pairs WITHIN each cluster (the kernel of
    ``dedup_embedding_cosine``, bucketed by cluster_id — never
    corpus-wide all-pairs), and keep one canonical per semantic
    neighborhood: a vector is removed iff a LOWER-id cluster-mate sits
    above the threshold (the deterministic keep-first policy, the
    ``dedup_canonical`` mold). Returns per-cluster admission stats;
    ``removed_id_sum`` pins the exact removed id set, so the driver
    hash verifies the whole cluster->prune->keep pipeline, not counts.

    The threshold compare never leaves integers: cos>=t iff dot>0 and
    dot^2*10^4 >= t^2*10^4 * ||a||^2*||b||^2, evaluated in
    decimal(38,0) (Spark) / HUGEINT (DuckDB) — no float crosses an
    engine boundary, so no boundary-pair flakiness.

    Scale shape: clustering is the kmeans query's two plans (K-row
    broadcast assignment + K·64-partial-sum update); the pair stage is
    a cluster-keyed equi-join, cost sum(cluster^2) never corpus^2. At
    100 TB the knob is K ~ N/target_cluster_size (SemDeDup's own
    regime), which keeps per-cluster blocks constant-size while this
    exact plan shape is unchanged; the final agg is K rows.

    Reference capability analog: the near-dup admission the reference
    collapses by `_id` at upsert time (src/services/etl.py:68-75),
    lifted to meaning-space."""
    (emb,) = tables(spark, sf_dir, "embeddings")
    # cache discipline (plan-audited): without these persists the
    # Lloyd chain re-derives the quantized frame per reference — 25
    # embedding scans in the executed plan; with them, one scan per
    # quantization and one materialization of the member frame
    q = _km_quantized(emb).persist()
    asn = _km_assignments(q)
    return _semdedup_from_assignment("dedup_semantic", emb, q, asn)


def _semdedup_from_assignment(
    name: str, emb: DataFrame, q: DataFrame, asn: DataFrame
) -> DataFrame:
    """The SemDeDup prune/keep stage over a final (vec_id, cid)
    assignment: cluster-keyed pair join, integer-exact cosine
    threshold, keep-first policy, per-cluster stats. ``q`` is the
    caller's persisted quantized frame — checkpointed away with the
    member cache before return (plan recorded under ``name``)."""
    # nn rides the SAME map-side projection as w — deriving it as a
    # separate frame and re-joining on vec_id paid a corpus-wide
    # shuffle join for a per-row function (§2.4)
    w = _cos_quantized(emb).withColumn(
        "nn",
        F.aggregate(
            F.transform("w", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    mem = asn.join(w, "vec_id").persist()
    a = mem.select(
        "cid",
        F.col("vec_id").alias("va"),
        F.col("w").alias("wa"),
        F.col("nn").alias("na"),
    )
    b = mem.select(
        F.col("cid").alias("cid_b"),
        F.col("vec_id").alias("vb"),
        F.col("w").alias("wb"),
        F.col("nn").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("wa", "wb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dec = "decimal(38,0)"
    pairs = (
        a.join(
            b,
            (F.col("cid") == F.col("cid_b")) & (F.col("va") < F.col("vb")),
        )
        .withColumn("dot", dot)
        .filter(
            (F.col("dot") > 0)
            & (
                F.col("dot").cast(dec) * F.col("dot") * F.lit(10000)
                >= F.lit(_SEM_T2).cast(dec) * F.col("na") * F.col("nb")
            )
        )
        .select("cid", "va", "vb")
    )
    rem = pairs.select("cid", F.col("vb").alias("vec_id")).distinct()
    dp = pairs.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_dup_pairs")
    )
    base = (
        mem.join(
            rem.withColumn("is_rem", F.lit(1)), ["cid", "vec_id"], "left"
        )
        .groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.count("is_rem").cast("long").alias("n_removed"),
            F.coalesce(
                F.sum(F.when(F.col("is_rem") == 1, F.col("vec_id"))),
                F.lit(0),
            )
            .cast("long")
            .alias("removed_id_sum"),
        )
    )
    out = (
        base.join(dp, "cid", "left")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            F.coalesce(F.col("n_dup_pairs"), F.lit(0))
            .cast("long")
            .alias("n_dup_pairs"),
            "n_removed",
            (F.col("n_members") - F.col("n_removed"))
            .cast("long")
            .alias("n_kept"),
            "removed_id_sum",
        )
        .orderBy("cluster_id")
    )
    # K rows: eager-checkpoint the result, then drop both caches
    return checkpoint_result(name, out, q, mem)


@query("dedup_semantic_scaled", _SEM_SQL_SCALED)
def dedup_semantic_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_semantic`` with the K∝N knob EXECUTED instead of
    documented: K = greatest(8, n // 64) derives from the corpus row
    count, so clusters stay ~constant-size and the within-cluster
    pair stage costs sum(cluster²) ≈ N·64 — linear in N, the SemDeDup
    paper's own production regime (the fixed-K sibling pins K=8 for
    the small-fixture determinism story and shows the 1/K knob in
    test_round7b). Seeds are the K lowest vec_ids by RANK, not by
    value, so the recipe survives non-contiguous id domains.

    Same integer-exact arithmetic as ``dedup_semantic`` end to end —
    at sf0.01 (n=500, K=8, contiguous ids) the two rows are
    value-identical by construction; at sf0.1 (n=2000) this one runs
    K=31 while the sibling stays at 8.

    Scale shape: identical plans to the sibling; the only additions
    are one count() (a 1-row action that doubles as cache
    materialization) and the K-seed cut, which is a distributed
    TakeOrdered(K) (per-partition partial top-K, merged on the
    driver) — NOT a global-sort window, so no task ever holds the
    whole corpus. K·64 centroid rows still ride one broadcast."""
    (emb,) = tables(spark, sf_dir, "embeddings")
    q = _km_quantized(emb).persist()
    k = km_scaled_k(q.count())
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
    c1 = (
        _km_means(_km_assign(q, seeds))
        .select(F.struct("cid", "cv").alias("c"))
        .agg(F.collect_list("c").alias("cents"))
    )
    asn = _km_assign(q, c1).select("vec_id", "cid")
    return _semdedup_from_assignment("dedup_semantic_scaled", emb, q, asn)


# --------------------------------------------------------------------
# Multi-probe LSH: ±1-bit neighbor buckets — the recall upgrade that
# keeps the bucket-equi-join plan
# --------------------------------------------------------------------

def _sql_flip(inner: str, var: str) -> str:
    """DuckDB text for 'flip bit ``var`` (0-based) of bucket-string
    ``inner``' — mirrors the Spark ``_mp_flip`` below."""
    return (
        f"concat(substr({inner}, 1, CAST({var} AS INT)), "
        f"CASE WHEN substr({inner}, CAST({var} + 1 AS INT), 1) = '1' "
        f"THEN '0' ELSE '1' END, "
        f"substr({inner}, CAST({var} + 2 AS INT), {N_HYPERPLANES}))"
    )


_MP_SQL = f"""
    WITH planes AS (
        SELECT * FROM (VALUES
            {",".join(f"({j}, {_plane_sql_literal(j)})" for j in range(N_HYPERPLANES))}
        ) AS t(plane_id, p)
    ),
    e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[],
                   x -> x * x))) AS nrm
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
    ),
    q AS (
        SELECT b.bucket AS qb, e.v AS qv, e.nrm AS qn
        FROM buckets b JOIN e ON b.vec_id = e.vec_id
        WHERE b.vec_id = {QUERY_VEC_ID}
    ),
    probes AS (
        SELECT qb AS pb, CAST(0 AS INT) AS hamming FROM q
        UNION ALL
        SELECT {_sql_flip("qb", "j")}, CAST(1 AS INT)
        FROM q, range({N_HYPERPLANES}) t(j)
        UNION ALL
        SELECT {_sql_flip(_sql_flip("qb", "j"), "j2")}, CAST(2 AS INT)
        FROM q, range({N_HYPERPLANES}) t(j), range({N_HYPERPLANES}) s(j2)
        WHERE j2 > j
    ),
    cand AS (
        SELECT b.vec_id, p.hamming
        FROM buckets b JOIN probes p ON b.bucket = p.pb
        WHERE b.vec_id <> {QUERY_VEC_ID}
    )
    SELECT vec_id, label, hamming, cosine FROM (
        SELECT c.vec_id, e.label, c.hamming,
               round(list_sum(list_transform(range(1, 65),
                   i -> e.v[i] * q.qv[i])) / (e.nrm * q.qn), 4) AS cosine
        FROM cand c
        JOIN e ON c.vec_id = e.vec_id
        CROSS JOIN q
    )
    ORDER BY cosine DESC, vec_id
    LIMIT {TOP_K}
"""


@query("similarity_ann_multiprobe", _MP_SQL)
def similarity_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al. 2007): probe every bucket
    within Hamming distance 2 of the query's sign bucket (1 + 8 + 28
    = 37 probes), then exact-rerank the union — the standard recall
    upgrade over single-bucket LSH that needs NO extra index: each
    probe is the same bucket equi-join plan, just more probe keys
    (docs/SCALING.md's named recall path, now a registered,
    value-checked query). ``hamming`` reports which probe ring each
    survivor came from. Measured against the brute-force ground truth
    (similarity_topk_cosine) on the weakly-separated fixture corpus —
    recall-vs-probes table in docs/SCALING.md: rings 0/1 recall ~0 at
    <=5%% of corpus read, ring 2 recall 0.5 (sf0.01) reading ~14%% —
    which is WHY the registered operator probes two rings.

    Scale shape: bucket assignment is map-side (plane constants fold
    into codegen); the probe set is {N_HYPERPLANES + 1} strings
    broadcast from one row; candidates come from ONE bucket equi-join
    (cost sum over probed buckets, never corpus); rerank is a
    broadcast 1-row query join + TakeOrdered(k). At a 100 TB corpus
    with B buckets this reads ~(probes/B) of the data — the knob
    trades that fraction against recall with no plan change."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    # ONE projection carries vector, norm, and bucket: the earlier
    # form computed the 8-plane bucket projection separately and
    # joined it back twice (query-row construction + rerank) — three
    # evaluations of the 512-term fold and two extra joins for the
    # same values
    eb = (
        lsh_bucketed(embeddings)
        .select(
            "vec_id",
            "label",
            "bucket",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .withColumn("nrm", _norm(F.col("v")))
    )
    q = eb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("bucket").alias("qb"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )

    def _flip(c, j: int):
        return F.concat(
            F.substring(c, 1, j),
            F.when(F.substring(c, j + 1, 1) == "1", F.lit("0")).otherwise(
                F.lit("1")
            ),
            F.substring(c, j + 2, N_HYPERPLANES),
        )

    qb = F.col("qb")
    ring1 = [
        F.struct(_flip(qb, j).alias("pb"), F.lit(1).cast("int").alias("hamming"))
        for j in range(N_HYPERPLANES)
    ]
    ring2 = [
        F.struct(
            _flip(_flip(qb, j), j2).alias("pb"),
            F.lit(2).cast("int").alias("hamming"),
        )
        for j in range(N_HYPERPLANES)
        for j2 in range(j + 1, N_HYPERPLANES)
    ]
    probes = q.select(
        F.explode(
            F.array(
                F.struct(qb.alias("pb"), F.lit(0).cast("int").alias("hamming")),
                *ring1,
                *ring2,
            )
        ).alias("p")
    ).select("p.*")
    cand = (
        eb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(probes), F.col("bucket") == F.col("pb"))
        .select("vec_id", "label", "v", "nrm", "hamming")
    )
    cos = _cos_div(_dot(F.col("v"), F.col("qv")), F.col("nrm") * F.col("qn"))
    return (
        cand.crossJoin(F.broadcast(q.select("qv", "qn")))
        .withColumn("cosine", F.round(cos, 4))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id", "label", "hamming", "cosine")
    )


# --------------------------------------------------------------------
# MMR diversified rerank (maximal marginal relevance over a bounded
# shortlist)
# --------------------------------------------------------------------

_MMR_C = 16  # shortlist size (relevance top-C, distributed cut)
_MMR_K = 5  # diversified picks


def _mmr_sql() -> str:
    # greedy selection unrolled into K stages; each stage picks the
    # argmax of 2*rel - max(sim to selected) over the remaining
    # shortlist, ties to the lowest vec_id — the same integer compare
    # the Python greedy runs. Every CTE is MATERIALIZED: DuckDB
    # inlines CTEs by default, re-expanding the corpus-scanning
    # short/pairs subtrees at every reference — measured 1.98s
    # inlined vs 0.04s materialized at sf0.1, identical results (the
    # k-center oracle's lesson, applied here too).
    stages = []
    sel_union = "SELECT vec_id, 1 AS rank, 2 * rel AS score FROM sel1"
    for k in range(2, _MMR_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id FROM sel{j}" for j in range(1, k)
        )
        stages.append(
            f"""sel{k} AS MATERIALIZED (
        SELECT s.vec_id, s.rel,
               2 * s.rel - (SELECT max(p.sim) FROM pairs p
                            WHERE p.a = s.vec_id
                              AND p.b IN ({prev})) AS score
        FROM short s
        WHERE s.vec_id NOT IN ({prev})
        ORDER BY score DESC, s.vec_id
        LIMIT 1
    )"""
        )
        sel_union += (
            f" UNION ALL SELECT vec_id, {k} AS rank, score FROM sel{k}"
        )
    stage_sql = ",\n    ".join(stages)
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                            x -> x * x))) AS nrm
        FROM embeddings
    ),
    q AS (SELECT v AS qv, nrm AS qn FROM e WHERE vec_id = {QUERY_VEC_ID}),
    short AS MATERIALIZED (
        SELECT vec_id, v, nrm,
               CAST(floor(list_sum(list_transform(range(1, 65),
                   i -> e.v[i] * q.qv[i])) / (e.nrm * q.qn) * 10000 + 0.5)
                   AS BIGINT) AS rel
        FROM e, q WHERE e.vec_id <> {QUERY_VEC_ID}
        ORDER BY rel DESC, vec_id
        LIMIT {_MMR_C}
    ),
    pairs AS MATERIALIZED (
        SELECT a.vec_id AS a, b.vec_id AS b,
               CAST(floor(list_sum(list_transform(range(1, 65),
                   i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) * 10000 + 0.5)
                   AS BIGINT) AS sim
        FROM short a, short b WHERE a.vec_id <> b.vec_id
    ),
    sel1 AS MATERIALIZED (
        SELECT vec_id, rel FROM short ORDER BY rel DESC, vec_id LIMIT 1
    ),
    {stage_sql}
    SELECT CAST(rank AS BIGINT) AS rank,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(score AS BIGINT) AS mmr_score
    FROM ({sel_union})
    ORDER BY rank
"""


@query("similarity_mmr_rerank", _mmr_sql())
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998):
    from the relevance top-{C} shortlist, greedily pick {K} results
    maximizing 2·rel − max-similarity-to-already-picked — the
    diversification step a RAG pipeline runs so the k passages it
    stuffs into a context window aren't five copies of the same fact
    (the retrieval-side complement of dedup_semantic).

    Split of labor at scale: the SHORTLIST is the distributed part —
    brute-force (here) or any ANN row, cut by TakeOrdered — and the
    greedy runs on the C-row shortlist collected to the driver
    (C=16·(64 doubles) — the codebook-sized bounded collect this
    library allows everywhere). Cross-engine exactness: rel and
    pairwise sims are floor(cos·10⁴ + 0.5) bigints from identical
    left-to-right IEEE folds (Spark aggregate HOF, DuckDB list_sum,
    Python sum all reduce sequentially), and the oracle unrolls the
    SAME integer greedy into K SQL stages — so selection order and
    tie-breaks hash-match, not just approximately agree."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", _norm(F.col("v")))
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    rel = F.floor(
        _cos_div(_dot(F.col("v"), F.col("qv")), F.col("nrm") * F.col("qn"))
        * 10000
        + 0.5
    ).cast("long")
    short = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .withColumn("rel", rel)
        # zero-norm candidates have NULL relevance (undefined cosine):
        # they can never be picked, and the driver-side MMR fold below
        # does integer math on rel — drop them before the collect
        .filter(F.col("rel").isNotNull())
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_C)
        .select("vec_id", "v", "nrm", "rel")
        .collect()
    )

    import math

    def _sim(ra, rb) -> int:
        dot = 0.0
        for x, y in zip(ra.v, rb.v):
            dot += x * y
        return int(math.floor(dot / (ra.nrm * rb.nrm) * 10000 + 0.5))

    remaining = {r.vec_id: r for r in short}
    picked: list[tuple[int, int, int]] = []  # (rank, vec_id, score)
    sel_rows = []
    for rank in range(1, _MMR_K + 1):
        best = None
        for vid, r in remaining.items():
            if rank == 1:
                score = 2 * int(r.rel)
            else:
                score = 2 * int(r.rel) - max(
                    _sim(r, s) for s in sel_rows
                )
            key = (-score, vid)
            if best is None or key < best[0]:
                best = (key, vid, score)
        _, vid, score = best
        picked.append((rank, vid, score))
        sel_rows.append(remaining.pop(vid))

    return spark.createDataFrame(
        picked, "rank long, vec_id long, mmr_score long"
    )
