"""Bucketed catalog tables: pre-shuffled layouts for shuffle-free joins.

The warehouse's versioned tables hash-bucket rows into partition
*directories* for O(touched-bucket) merges (warehouse.py). This module
covers the complementary layout: Spark **catalog bucketing**
(``bucketBy(n, key).sortBy(key)``), where the bucket id is recorded in
the table metadata and file names, so the planner knows both sides of
an equi-join on the bucket key are already hash-partitioned identically
and *skips the shuffle entirely* — the SortMergeJoin reads
``Bucketed: true`` scans with zero ``Exchange`` nodes.

This is the 100 TB answer for recurring fact-fact joins (e.g.
orders ⋈ lineitem on orderkey): pay one shuffle at load time, then
every subsequent join, groupBy, or merge on that key is co-located.
``sortBy`` additionally pre-sorts within each bucket file so the
sort-merge join's per-bucket sort is a no-op on clusters that enable
``spark.sql.legacy.bucketedTableScan.outputOrdering`` (kept off here:
the sort is cheap relative to the shuffle it already avoided, and the
flag is legacy).

Sizing guidance (docs/SCALING.md): pick ``n_buckets`` so one bucket of
the *larger* table ≈ 128–512 MB compressed (100 TB fact ⇒ ~262k is too
many files; 8–16k buckets of ~6–12 GB scanned by multiple tasks each
via parquet row-group splits is the operable range — catalog bucketing
still prunes and co-locates at file granularity while row-group splits
keep task counts high).

No reference counterpart (the reference delegates join strategy to
Postgres); this is Spark-native physical design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from qms_datawarehouse_spark.plans.registry import query, tables
from qms_datawarehouse_spark.warehouse import validate_table_name


def write_bucketed_table(
    df: DataFrame,
    name: str,
    key: str,
    n_buckets: int,
    path: str,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a catalog table bucketed (and sorted) on ``key``.

    One shuffle now; zero shuffles for every later equi-join/groupBy on
    ``key`` between tables bucketed with the SAME ``n_buckets``.
    """
    validate_table_name(name)
    from pyspark.sql import functions as F

    # Cluster rows onto the bucket hash BEFORE the bucketed write.
    # Without this the write inherits the SCAN's partitioning — a
    # single-file source reads as 1-3 tasks, so the whole sort+write
    # runs nearly serially (measured 2.8 s on 3 tasks for lineitem at
    # sf0.1) and every task writes a file into every bucket it holds
    # rows for. repartition(n_buckets, key) uses the same
    # murmur3-pmod placement as the bucket spec, so each task holds
    # exactly one bucket: n_buckets-way parallel sort+write, ~one
    # file per bucket.
    writer = (
        df.repartition(n_buckets, F.col(key))
        .write.format("parquet").mode(mode).option("path", path)
    )
    writer = writer.bucketBy(n_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(name)


def colocated_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str,
    how: str = "inner",
) -> DataFrame:
    """Join two same-``n_buckets`` catalog tables on their bucket keys.

    The result plan is a SortMergeJoin over two ``Bucketed: true``
    scans with no Exchange on either input (pinned by
    tests/test_bucketed_join.py). Broadcast is disabled via join hint
    rather than session conf so the optimization is per-plan: small
    dims elsewhere still broadcast.
    """
    left = spark.table(left_table).hint("merge")
    right = spark.table(right_table)
    return left.join(right, left[left_key] == right[right_key], how)


# --------------------------------------------------------------------
# Driver row: shuffle-free co-located fact⋈fact join, value-equal to
# the plain join
# --------------------------------------------------------------------

_BJOIN_SQL = """
    SELECT o.o_orderkey AS o_orderkey,
           min(o.o_orderpriority) AS priority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey % 100 = 0
    GROUP BY 1
"""


@query("bucketed_join_scan", _BJOIN_SQL)
def bucketed_join_scan(spark: SparkSession, sf_dir: str):
    """The catalog-bucketed layout's payoff as a VERIFIED row: orders
    and lineitem are written bucketed (8 buckets, same key), the
    fact⋈fact join + per-order aggregate runs with ZERO Exchange
    nodes — PLAN_SHAPES.json pins every exchange count of this row at
    0, so tests/test_plans_scale.py fails on the first one — and the
    result is value-equal to the plain-parquet join the oracle runs.

    This is the recurring-join answer at 100 TB: pay one shuffle at
    load time (the bucketed write), then every orderkey join, groupBy,
    or merge is co-located. The per-order aggregate reuses the join's
    clustering, so the whole plan is scan→SMJ→agg with no exchange
    anywhere (the groupBy key IS the bucket key).

    Determinism: quantities are integral (bigint-cast), revenue in
    exact cents; output bounded by the orderkey%100 slice. The layout
    write is the once-per-ingest cost rebuilt per run, like the bloom
    and fileskip rows build their indexes per run.

    No reference counterpart (the reference delegates join strategy to
    Postgres, src/core/db.py:28-32); this is Spark-native physical
    design."""
    import os

    from pyspark.sql import functions as F

    orders, lineitem = tables(spark, sf_dir, "orders", "lineitem")
    # pid in the path (two concurrent sessions saving catalog tables
    # to one fixed external location race each other's overwrites)
    # with stale-sibling cleanup — tmputil.pid_scoped_dir
    from qms_datawarehouse_spark.tmputil import pid_scoped_dir

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    root = pid_scoped_dir("qms_bucketed_join", tag)
    t_orders, t_lineitem = f"bj_orders_{tag}", f"bj_lineitem_{tag}"
    write_bucketed_table(
        orders, t_orders, "o_orderkey", 8, os.path.join(root, t_orders)
    )
    write_bucketed_table(
        lineitem, t_lineitem, "l_orderkey", 8, os.path.join(root, t_lineitem)
    )
    j = colocated_join(spark, t_orders, t_lineitem, "o_orderkey", "l_orderkey")
    out = (
        j.filter(F.col("o_orderkey") % 100 == 0)
        .groupBy("o_orderkey")
        .agg(
            F.min("o_orderpriority").alias("priority"),
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("revenue_cents"),
        )
    )
    return out
