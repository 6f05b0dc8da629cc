"""Iterative graph analytics in exact integer fixed point.

PageRank over the customer↔supplier trade graph (edges = distinct
(custkey, suppkey) pairs that actually traded, via lineitem⋈orders,
undirected as two directed edges). Companion to the two existing
iterative operators — ``connected_components`` (dedup.py: O(E)/round
label propagation) and ``embedding_kmeans_2iter`` (similarity.py:
fixed-point Lloyd) — extending the family with the canonical
damped-power-iteration shape.

Cross-engine determinism (the kmeans recipe, applied to ranks): total
rank mass is the integer 10¹² split uniformly; every division in the
update — per-edge contribution r div outdeg, the damping 85·m div
100, the teleport (15·(10¹²  div N)) div 100 — is int64 truncation,
identical in Spark ``div`` and DuckDB ``//`` on the non-negative
values ranks are. Iterations are therefore BYTE-identical across
engines and the unrolled 2-iteration loop gets full value-hash
verification (remainders dropped by integer division are a
deterministic mass leak — fine for a verifier; a production rank
would track 64-bit fixed point the same way).

Scale shape: one distinct over the (cust, supp) pair stream builds
the edge list; per iteration, contributions are ONE equi-join of the
K-node rank table to the edge list plus ONE dst-keyed sum — O(E)
shuffled per round, the same bound as connected_components. N (node
count) is a 1-row scalar broadcast. The final top-20 is a
total-ordered TakeOrdered cut, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qms_datawarehouse_spark.planaudit import checkpoint_result
from qms_datawarehouse_spark.plans.registry import query, tables
from qms_datawarehouse_spark.session import spread

_MASS = 10**12  # total integer rank mass


def _pr_iterate(nodes: DataFrame, n: DataFrame, edges_deg: DataFrame,
                ranks: DataFrame) -> DataFrame:
    """One damped power-iteration step, all-integer. ``ranks`` has
    (node, r); ``edges_deg`` is the degree-annotated edge list
    (src, dst, d) — the edges⋈deg join is ITERATION-INVARIANT, so it
    is done once outside the loop instead of once per step (one
    |E|-row join per iteration saved, and the persisted frame's
    src-hash partitioning means only the rank side shuffles here).
    Returns the (node, r) shape."""
    contribs = (
        edges_deg.join(ranks.withColumnRenamed("node", "src"), "src")
        .select("dst", F.expr("r div d").alias("m"))
    )
    agg = contribs.groupBy(F.col("dst").alias("node")).agg(
        F.sum("m").alias("m")
    )
    return (
        nodes.crossJoin(F.broadcast(n))
        .join(agg, "node", "left")
        .select(
            "node",
            F.expr(
                f"(15 * ({_MASS} div n)) div 100"
                " + (85 * coalesce(m, 0)) div 100"
            ).alias("r"),
        )
    )


_PAGERANK_SQL = f"""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT 'c:' || CAST(c AS VARCHAR) AS src,
               's:' || CAST(s AS VARCHAR) AS dst FROM pairs
        UNION ALL
        SELECT 's:' || CAST(s AS VARCHAR),
               'c:' || CAST(c AS VARCHAR) FROM pairs
    ),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, {_MASS} // nn.n AS r FROM nodes CROSS JOIN nn),
    c1 AS (
        SELECT e.dst AS node, sum(r0.r // deg.d) AS m
        FROM edges e JOIN r0 ON e.src = r0.node
                     JOIN deg ON e.src = deg.src
        GROUP BY 1
    ),
    r1 AS (
        SELECT nodes.node,
               (15 * ({_MASS} // nn.n)) // 100
               + (85 * coalesce(c1.m, 0)) // 100 AS r
        FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.node = c1.node
    ),
    c2 AS (
        SELECT e.dst AS node, sum(r1.r // deg.d) AS m
        FROM edges e JOIN r1 ON e.src = r1.node
                     JOIN deg ON e.src = deg.src
        GROUP BY 1
    ),
    r2 AS (
        SELECT nodes.node,
               (15 * ({_MASS} // nn.n)) // 100
               + (85 * coalesce(c2.m, 0)) // 100 AS r
        FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.node = c2.node
    )
    SELECT r2.node, CAST(deg.d AS BIGINT) AS degree,
           CAST(r2.r AS BIGINT) AS rank_mass
    FROM r2 JOIN deg ON r2.node = deg.src
    ORDER BY rank_mass DESC, node LIMIT 20
"""


@query("graph_pagerank_2iter", _PAGERANK_SQL)
def graph_pagerank_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two exact damped power iterations of PageRank over the
    customer↔supplier trade graph, in integer fixed point end-to-end
    — byte-identical cross-engine, so the iterative loop itself is
    value-hash verified (see module docstring for the determinism
    and O(E)-per-round scale argument). Returns the top-20 nodes by
    final rank mass with their degree, total-ordered
    (rank desc, node)."""
    orders, lineitem = tables(spark, sf_dir, "orders", "lineitem")
    pairs = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    fwd = pairs.select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    # cache discipline (the triangles operator's): edges/deg/nodes are
    # each consumed by BOTH power iterations plus the init and the
    # final join — without persists every reference re-derives the
    # whole lineitem⋈orders + distinct subtree (the executed plan held
    # seven copies of the pair scan; at 100 TB that is seven full fact
    # joins for a 2-iteration rank). Persisting the |E|-row edge list
    # once is the canonical iterative-graph shape.
    edges = fwd.unionAll(fwd.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst"))).persist()
    deg = edges.groupBy("src").agg(F.count("*").alias("d")).persist()
    # degree-annotated edges, hash-clustered on src and persisted:
    # the edges⋈deg join is the same in both power iterations (hoist
    # it out of the loop), and persisting it WITH src partitioning
    # lets each iteration's contribs join reuse that layout — only
    # the K-node rank table shuffles per step, the |E|-row side never
    # re-exchanges (§2.4 exchange reuse, the iterative-graph shape)
    edges_deg = (
        edges.join(deg, "src").repartition("src").persist()
    )
    nodes = edges.select(F.col("src").alias("node")).distinct().persist()
    n = nodes.agg(F.count("*").alias("n"))
    r0 = nodes.crossJoin(F.broadcast(n)).select(
        "node", F.expr(f"{_MASS} div n").alias("r")
    )
    r1 = _pr_iterate(nodes, n, edges_deg, r0)
    r2 = _pr_iterate(nodes, n, edges_deg, r1)
    out = (
        r2.join(deg, r2.node == deg.src)
        .select(
            "node",
            F.col("d").cast("long").alias("degree"),
            F.col("r").cast("long").alias("rank_mass"),
        )
        .orderBy(F.desc("rank_mass"), "node")
        .limit(20)
    )
    return checkpoint_result(
        "graph_pagerank_2iter", out, edges, deg, nodes, edges_deg
    )


# --------------------------------------------------------------------
# Triangle counting over the LSH-band similarity graph
# (degree-oriented wedge closure — the canonical MapReduce algorithm)
# --------------------------------------------------------------------

_TRI_BANDS = 3  # OR-ed bucketings; band b uses plane ids b*16 .. b*16+15
_TRI_MAX_BITS = 16  # precomputed bucket-string width (bits per band)
_TRI_MIN_BITS = 8  # width floor (the small-fixture regime)
_TRI_OCC = 4  # target mean bucket occupancy the width derives from


def _tri_width(n: int) -> int:
    """Adaptive bucket width: the smallest w in [8, 16] with
    2^w >= n / _TRI_OCC — bucket COUNT grows with the corpus so mean
    occupancy stays ~constant and the edge join stays linear (a fixed
    width makes a 10x corpus 10x denser per bucket and the bucket
    graph quadratic BY CONSTRUCTION — the SemDeDup K∝N knob, LSH
    edition). Pure integer thresholds, mirrored verbatim as a CASE
    chain in the oracle."""
    w = _TRI_MIN_BITS
    while w < _TRI_MAX_BITS and (1 << w) * _TRI_OCC < n:
        w += 1
    return w


def _tri_width_sql(n_sql: str) -> str:
    cases = " ".join(
        f"WHEN {n_sql} <= {(1 << w) * _TRI_OCC} THEN {w}"
        for w in range(_TRI_MIN_BITS, _TRI_MAX_BITS)
    )
    return f"(CASE {cases} ELSE {_TRI_MAX_BITS} END)"


def _tri_sql() -> str:
    from qms_datawarehouse_spark.operators.lsh_planes import (
        plane_sql_literal,
    )

    planes = ",".join(
        f"({j}, {plane_sql_literal(j)})"
        for j in range(_TRI_BANDS * _TRI_MAX_BITS)
    )
    w_sql = _tri_width_sql("(SELECT count(*) FROM embeddings)")
    return f"""
    WITH planes AS (SELECT * FROM (VALUES {planes}) AS t(plane_id, p)),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bits AS (
        SELECT e.vec_id, pl.plane_id, pl.plane_id // {_TRI_MAX_BITS} AS band,
               CASE WHEN list_sum(list_transform(range(1, 65),
                        i -> e.v[i] * pl.p[i])) > 0
                    THEN '1' ELSE '0' END AS b
        FROM e CROSS JOIN planes pl
    ),
    bk AS MATERIALIZED (
        SELECT vec_id, band,
               substr(string_agg(b, '' ORDER BY plane_id), 1, {w_sql})
                   AS bucket
        FROM bits GROUP BY 1, 2
    ),
    edges AS MATERIALIZED (
        SELECT DISTINCT a.vec_id AS u, b.vec_id AS v
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    deg AS MATERIALIZED (
        SELECT n, count(*) AS d FROM (
            SELECT u AS n FROM edges UNION ALL SELECT v FROM edges
        ) GROUP BY 1
    ),
    o AS MATERIALIZED (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
        FROM edges e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n
    ),
    w AS (
        SELECT x.s AS a, least(x.t, y.t) AS lo, greatest(x.t, y.t) AS hi
        FROM o x JOIN o y ON x.s = y.s AND x.t < y.t
    ),
    c AS (SELECT least(s, t) AS lo, greatest(s, t) AS hi FROM o),
    tri AS MATERIALIZED (SELECT w.a, w.lo, w.hi FROM w JOIN c USING (lo, hi)),
    per_node AS (
        SELECT n, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT a AS n FROM tri
            UNION ALL SELECT lo FROM tri
            UNION ALL SELECT hi FROM tri
        ) GROUP BY 1
    ),
    total AS (SELECT CAST(count(*) AS BIGINT) AS n_tri_total FROM tri)
    SELECT per_node.n AS node, CAST(deg.d AS BIGINT) AS degree,
           per_node.n_triangles, total.n_tri_total,
           CAST((20000 * per_node.n_triangles)
                // (deg.d * (deg.d - 1)) AS BIGINT) AS clustering_bp
    FROM per_node JOIN deg ON per_node.n = deg.n CROSS JOIN total
    ORDER BY per_node.n_triangles DESC, node LIMIT 20
    """


@query("graph_triangles_lsh", _tri_sql())
def graph_triangles_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting over the LSH-band similarity graph —
    the mutual-near-neighbor structure graph-based corpus clustering
    and community detection run on: nodes are vectors, edges connect
    pairs sharing ANY of {_TRI_BANDS} hyperplane-bucket bands (the
    minhash OR-construction applied to the cosine sketch — single-band
    buckets are disjoint cliques; band-ORing makes real cross-clique
    structure). Bucket WIDTH adapts to the corpus: w = smallest width
    in [8, 16] with 2^w >= n/4 (integer threshold CASE, identical in
    Python and the oracle), so bucket COUNT grows with n and mean
    occupancy stays ~constant — a fixed width makes a 10x corpus 10x
    denser per bucket and the bucket graph quadratic by construction
    (the dedup_semantic_scaled K∝N knob, LSH edition). Algorithm is
    the canonical distributed
    degree-orientation method: orient every edge from lower to higher
    (degree, node) rank, generate wedges at each node's oriented
    out-neighborhood, close them against node-canonical edges — each
    triangle is found exactly once at its lowest-rank vertex, and the
    wedge count is bounded by the sum of squared OUT-degrees, the
    graph's degeneracy bound, never the raw degree square (the hub
    node that breaks naive node-iterator counting gets rank-high and
    generates no wedges).

    Output: top-20 nodes by triangle participation (ties by node)
    with degree and the global triangle count on every row —
    value-hash pins bucket assignment, edge set, orientation, wedge
    closure and the rollups end to end.

    Scale shape: bucket assignment is map-side literal-plane folds
    (the lsh_bucketed discipline); edges are band+bucket equi-joins
    (Σ bucket² per band); the wedge join and closure are equi-joins
    on node / canonical pair keys; per-node rollup is one keyed
    shuffle; the 1-row total rides a broadcast. Everything else is
    TakeOrdered(20).

    Reference capability analog: none — the graph-analytics member of
    the LLM-pipeline layer (SemDeDup clusters by centroid; this
    measures the neighborhood graph's local density directly)."""
    from qms_datawarehouse_spark.operators.lsh_planes import (
        plane_spark_literal,
    )

    (emb,) = tables(spark, sf_dir, "embeddings")
    # integer bucket width (named distinctly from the wedge frame
    # below — the two previously shared the name `w`)
    width = _tri_width(emb.count())  # 1-row action; mirrors the oracle
    # single-file fixture reads as ONE partition: the plane-fold
    # projection (the query's CPU-heavy stage) ran on 3 cores (one per
    # band select); a multi-file corpus at scale skips the shuffle
    emb = spread(emb)

    # per-band selects union to (band, bucket) rows (A/B-measured
    # faster than a stack() row-expansion of one wide projection);
    # each band's whole bit vector is ONE expr STRING — the previous
    # per-component F.lit forest cost ~1.3 s of driver py4j time per
    # invocation (3 bands × width × 64 round-trips), the dominant term
    # of this row's wall time at fixture scale (plan construction, not
    # execution). The SQL parses in the JVM and evaluates identically
    # (plane_spark_literal round-trips the exact doubles).
    bands = []
    for bnd in range(_TRI_BANDS):
        bits = [
            "(CASE WHEN aggregate(zip_with("
            "CAST(embedding AS array<double>), "
            f"{plane_spark_literal(j)}, (x, y) -> x * y), "
            "0.0D, (acc, x) -> acc + x) > 0.0D THEN '1' ELSE '0' END)"
            for j in range(bnd * _TRI_MAX_BITS, bnd * _TRI_MAX_BITS + width)
        ]
        bands.append(
            emb.selectExpr(
                "vec_id",
                f"{bnd} AS band",
                "concat(" + ", ".join(bits) + ") AS bucket",
            )
        )
    bk = bands[0]
    for b in bands[1:]:
        bk = bk.unionByName(b)
    # EAGER checkpoint, not persist: the bucket projection carries a
    # ~1.7k-literal plane forest, and the downstream join tree embeds
    # this subplan ~18x (edges twice, o three more times, the wedge
    # closure three times over o, the rollup three times over tri) —
    # persist dedupes EXECUTION but Catalyst still re-analyzes the
    # full literal forest per copy, which dominates this query's wall
    # time on small corpora. Checkpointing truncates the lineage to a
    # 3n-row scan (the r7 lsh literal-planes lesson: plan-tree size is
    # a real cost, paid per copy).
    bk = bk.localCheckpoint(eager=True)

    a = bk.select("band", "bucket", F.col("vec_id").alias("u"))
    b2 = bk.select("band", "bucket", F.col("vec_id").alias("v"))
    edges = (
        a.join(b2, ["band", "bucket"])
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .persist()
    )
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
        .persist()
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # same lineage-truncation call as bk: o is consumed THREE times
    # (both wedge sides + the closure set), so its edges+deg subplan
    # would re-analyze per copy — checkpoint the |E|-row frame and the
    # caches feeding it are droppable immediately
    o = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .localCheckpoint(eager=True)
    )
    edges.unpersist()
    x = o.select("s", F.col("t").alias("t1"))
    y = o.select("s", F.col("t").alias("t2"))
    w = (
        x.join(y, "s")
        .filter(F.col("t1") < F.col("t2"))
        .select(
            F.col("s").alias("a"),
            F.least("t1", "t2").alias("lo"),
            F.greatest("t1", "t2").alias("hi"),
        )
    )
    c = o.select(
        F.least("s", "t").alias("lo"), F.greatest("s", "t").alias("hi")
    )
    tri = w.join(c, ["lo", "hi"]).persist()  # 3 rollup reads
    per_node = (
        tri.select(F.col("a").alias("n"))
        .unionAll(tri.select(F.col("lo").alias("n")))
        .unionAll(tri.select(F.col("hi").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("n_triangles"))
        .persist()
    )
    # the global count falls out of the rollup (each triangle adds
    # exactly 3 participations) — no separate pass over tri
    total = per_node.agg(
        F.expr("sum(n_triangles) div 3").cast("long").alias("n_tri_total")
    )
    out = (
        per_node.join(deg, "n")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("n").alias("node"),
            F.col("d").cast("long").alias("degree"),
            "n_triangles",
            "n_tri_total",
            # local clustering coefficient in exact basis points:
            # 2·tri / (d·(d−1)) — free given the row's two counters
            # (d >= 2 whenever a node participates in any triangle)
            F.expr("(20000 * n_triangles) div (d * (d - 1))")
            .cast("long")
            .alias("clustering_bp"),
        )
        .orderBy(F.desc("n_triangles"), "node")
        .limit(20)
    )
    return checkpoint_result(
        "graph_triangles_lsh", out, deg, tri, per_node
    )
