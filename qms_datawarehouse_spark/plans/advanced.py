"""Advanced relational coverage: grouping sets / cube, distinct
aggregates, window frames and lag/lead analytics, set operations,
pivot, scalar subqueries, and the classic multi-join TPC-H shapes
(Q3/Q5/Q12/Q14 adapted to the fixture schema).

The reference delegates all of these to PostgreSQL (SURVEY §2.4 "No
grouping sets / cube / rollup ... Postgres would own those"); a user
switching from the reference warehouse must still be able to run them,
so they are first-class, oracle-checked queries here.

Scale notes: every query is a scan→(broadcast-)join→partial-agg plan;
grouping sets/cube expand *after* partial aggregation (Spark Expand
runs on the aggregated side of the shuffle for distinct-style plans);
window frames are bounded per partition key (no global sort); the only
LIMITs are preceded by a total order with a key tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qms_datawarehouse_spark.planaudit import checkpoint_result
from qms_datawarehouse_spark.plans.registry import query, tables
from qms_datawarehouse_spark.operators.hashsplit import (  # noqa: E402
    _sql_hash_u32,
    hash_u32,
)


# --------------------------------------------------------------------
# CUBE — all 2^k grouping combinations
# --------------------------------------------------------------------


@query(
    "agg_cube",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dims: 4 grouping combinations in one pass — the
    Expand operator multiplies rows after the map-side partial agg, so
    the fact is still scanned once."""
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_price",
        )
    )


# --------------------------------------------------------------------
# GROUPING SETS — explicit, non-hierarchical combinations
# --------------------------------------------------------------------

_GROUPING_SETS_SQL = """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """


@query("agg_grouping_sets", _GROUPING_SETS_SQL)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (each dim alone + grand total) via Spark
    SQL over a temp view — the DataFrame and SQL planes share one
    Catalyst plan, so mixing them is free."""
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    lineitem.createOrReplaceTempView("lineitem")
    return spark.sql(_GROUPING_SETS_SQL)


# --------------------------------------------------------------------
# Distinct aggregates (multi-distinct in one pass)
# --------------------------------------------------------------------


@query(
    "agg_distinct",
    """
    SELECT l_returnflag AS returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(*) AS n_lines
    FROM lineitem
    GROUP BY 1
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) in one aggregation — Spark plans this
    as a single Expand + two-stage aggregate, not one shuffle per
    distinct column."""
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------
# W4: window frames — running total + moving average
# --------------------------------------------------------------------


@query(
    "w4_window_frames",
    """
    WITH c AS (
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_custkey <= 200
    )
    SELECT o_custkey, o_orderkey,
           CAST(sum(cents) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS running_total_cents,
           CAST(sum(cents) OVER w3 // count(*) OVER w3 AS BIGINT)
               AS moving_avg3_cents
    FROM c
    WINDOW w3 AS (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
    )
    """,
)
def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 frame specs: per-customer running total (UNBOUNDED
    PRECEDING) and 3-row moving average. Frames are bounded per
    partition key — one shuffle on custkey, sorted within partitions,
    no global sort.

    Money carried as exact int64 CENTS (prices are 2-decimal by
    construction): `round(sum(double))` hash-diverged cross-engine in
    r1 — accumulated double sums land on half-boundaries that Spark's
    BigDecimal HALF_UP and DuckDB's binary round resolve differently.
    Int64 sums and floor-div averages are bit-identical everywhere."""
    (orders,) = tables(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w3 = w.rowsBetween(-2, Window.currentRow)
    return (
        orders.filter(F.col("o_custkey") <= 200)
        .select("o_custkey", "o_orderkey", "o_orderdate", cents.alias("cents"))
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum("cents").over(wrun).alias("running_total_cents"),
            F.sum("cents").over(w3).alias("s3"),
            F.count("*").over(w3).alias("c3"),
        )
        # `div` = exact int64 division (== DuckDB `//` for positives);
        # floor(double/double) can cross an integer boundary.
        .selectExpr(
            "o_custkey",
            "o_orderkey",
            "running_total_cents",
            "s3 div c3 AS moving_avg3_cents",
        )
    )


# --------------------------------------------------------------------
# W4: lag / lead analytics
# --------------------------------------------------------------------


@query(
    "w4_lag_lead",
    """
    SELECT o_custkey, o_orderkey,
           round(o_totalprice - lag(o_totalprice) OVER w, 2) AS delta_prev,
           date_diff('day',
                     lag(o_orderdate) OVER w,
                     o_orderdate)::BIGINT AS days_since_prev,
           round(lead(o_totalprice) OVER w, 2) AS next_price
    FROM orders
    WHERE o_custkey <= 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over a keyed, fully-tiebroken ordering: price delta vs
    the previous order and days between consecutive orders — the
    inter-arrival analysis a QMS runs on ticket streams."""
    (orders,) = tables(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.filter(F.col("o_custkey") <= 200)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias(
                "delta_prev"
            ),
            F.datediff(
                F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))
            )
            .cast("long")
            .alias("days_since_prev"),
            F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        )
    )


# --------------------------------------------------------------------
# D3: set operations (INTERSECT / EXCEPT)
# --------------------------------------------------------------------


@query(
    "d3_set_ops",
    """
    SELECT 'both_years' AS cohort, count(*) AS n FROM (
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1994
        INTERSECT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    )
    UNION ALL
    SELECT 'only_1994' AS cohort, count(*) AS n FROM (
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1994
        EXCEPT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    )
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (distinct set semantics): customer cohorts
    active in both years vs churned. Both plan to aggregate+join —
    no driver-side set logic."""
    (orders,) = tables(spark, sf_dir, "orders")
    y94 = orders.filter(F.year("o_orderdate") == 1994).select("o_custkey")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    both = (
        y94.intersect(y95)
        .agg(F.count("*").alias("n"))
        .select(F.lit("both_years").alias("cohort"), "n")
    )
    only94 = (
        y94.exceptAll(y95.distinct())
        .distinct()
        .agg(F.count("*").alias("n"))
        .select(F.lit("only_1994").alias("cohort"), "n")
    )
    return both.unionByName(only94)


# --------------------------------------------------------------------
# Pivot — long → wide conditional aggregation
# --------------------------------------------------------------------


@query(
    "pivot_status_by_year",
    """
    SELECT year(o_orderdate)::BIGINT AS order_year,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
    FROM orders
    GROUP BY 1
    """,
)
def pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts by year × status, statuses widened to
    columns. Pivot values are declared explicitly, so Spark skips the
    extra distinct-values job."""
    (orders,) = tables(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").cast("long").alias("order_year"), "o_orderstatus"
        )
        .groupBy("order_year")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "order_year",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


# --------------------------------------------------------------------
# Scalar subquery
# --------------------------------------------------------------------

_SCALAR_SUBQ_SQL = """
    SELECT p_brand AS brand, count(*) AS n_large
    FROM part
    WHERE p_size > (SELECT avg(p_size) FROM part)
    GROUP BY 1
    """


@query("scalar_subquery", _SCALAR_SUBQ_SQL)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (parts above average size) — Spark
    executes the subquery once and broadcasts the scalar into the
    filter."""
    (part,) = tables(spark, sf_dir, "part")
    part.createOrReplaceTempView("part")
    return spark.sql(_SCALAR_SUBQ_SQL)


# --------------------------------------------------------------------
# TPC-H Q3 shape: shipping priority (top-N revenue orders)
# --------------------------------------------------------------------


@query(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate::DATE AS order_date,
           o.o_orderpriority AS priority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer dim broadcast into
    orders, date-pruned fact join, top-10 by revenue (total order +
    key tiebreak, so the LIMIT is deterministic)."""
    customer, orders, lineitem = tables(
        spark, sf_dir, "customer", "orders", "lineitem"
    )
    cut = F.lit("1995-03-15 00:00:00").cast("timestamp")
    return (
        lineitem.filter(F.col("l_shipdate") > cut)
        .join(
            orders.filter(F.col("o_orderdate") < cut),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                customer.filter(F.col("c_mktsegment") == "BUILDING").select(
                    "c_custkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            "l_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "order_date", "priority")
    )


# --------------------------------------------------------------------
# TPC-H Q5 shape: regional supplier volume (6-way join)
# --------------------------------------------------------------------


@query(
    "q5_region_revenue",
    """
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND c.c_nationkey = s.s_nationkey
    GROUP BY 1
    """,
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-way join — region/nation/supplier broadcast
    (region filter prunes them before broadcast), lineitem⋈orders is
    the only shuffle join, plus the local-supplier equality between
    the customer and supplier nations."""
    customer, orders, lineitem, supplier, nation, region = tables(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    return (
        lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(
            F.broadcast(
                supplier.join(
                    F.broadcast(asia_nations),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                ).select("s_suppkey", "s_nationkey", "n_name")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------
# TPC-H Q12 shape: conditional aggregation (CASE inside agg)
# --------------------------------------------------------------------


@query(
    "q12_priority_lines",
    """
    SELECT l.l_linestatus AS linestatus,
           sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_priority_lines,
           sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_priority_lines
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY 1
    """,
)
def priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted — fixture lineitem carries no
    commit/receipt dates): CASE-conditional counts inside the
    aggregate, fact⋈fact join date-pruned before the shuffle."""
    lineitem, orders = tables(spark, sf_dir, "lineitem", "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        )
        .select("l_orderkey", "l_linestatus")
        .join(
            orders.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_priority_lines"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("long")
            .alias("low_priority_lines"),
        )
    )


# --------------------------------------------------------------------
# TPC-H Q14 shape: conditional ratio (promo revenue share)
# --------------------------------------------------------------------


@query(
    "q14_promo_revenue",
    """
    SELECT round(
               100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                THEN l.l_extendedprice * (1 - l.l_discount)
                                ELSE 0 END)
               / sum(l.l_extendedprice * (1 - l.l_discount)), 4
           ) AS promo_pct,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
    """,
)
def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — broadcast part dim into
    the month-pruned fact, conditional numerator over one aggregate
    pass."""
    lineitem, part = tables(spark, sf_dir, "lineitem", "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_pct"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------
# Exact quantiles (interpolated) — oracle-checkable percentile stats
# --------------------------------------------------------------------


@query(
    "quantile_order_value",
    """
    WITH j AS (
        SELECT c.c_mktsegment AS segment,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    r AS (
        SELECT segment, cents,
               row_number() OVER (PARTITION BY segment ORDER BY cents) AS rn,
               count(*) OVER (PARTITION BY segment) AS n
        FROM j
    )
    SELECT segment,
           max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN cents END)
               AS p50_cents,
           max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN cents END)
               AS p90_cents,
           max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN cents END)
               AS p99_cents,
           max(n) AS n
    FROM r GROUP BY segment
    """,
)
def quantile_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DISCRETE percentiles per segment (percentile_disc
    semantics: the element at rank ceil(p·n) of the sorted group), on
    integer cents. Interpolated quantiles (r1) hash-diverged because
    Spark and DuckDB evaluate `lo + frac·(hi-lo)` with different
    operation orders; rank selection over int64 cents is bit-exact in
    both engines. The exact path sorts whole groups — inherent to
    exact quantiles; the sketch path below is what runs at 100 TB."""
    orders, customer = tables(spark, sf_dir, "orders", "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    j = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(F.col("c_mktsegment").alias("segment"), cents.alias("cents"))
    w = Window.partitionBy("segment").orderBy("cents")
    wp = Window.partitionBy("segment")
    r = j.select(
        "segment",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wp).alias("n"),
    )

    def pick(p: float):
        target = F.ceil(F.lit(p) * F.col("n")).cast("long")
        return F.max(F.when(F.col("rn") == target, F.col("cents")))

    return r.groupBy("segment").agg(
        pick(0.5).alias("p50_cents"),
        pick(0.9).alias("p90_cents"),
        pick(0.99).alias("p99_cents"),
        F.max("n").alias("n"),
    )


def sketch_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch path for 100 TB cardinality/quantile work:
    HyperLogLog++ (`approx_count_distinct`) and GK quantile sketch
    (`approx_percentile`) — mergeable partial states, fixed memory per
    group, single shuffle. NOT registered as a driver query: native
    sketch estimates are engine-specific so the row could never
    hash-match an oracle; the deterministic sketch family
    (`sketch_kmv_distinct`/`sketch_kmv_setops`, `sketch_cms_heavy_
    hitters`, `sketch_bottomk_quantiles`) carries the value-checked
    driver evidence for every sketch kind, and the exact twins above
    are the oracle-checked semantics. Covered by
    tests/test_queries_oracle.py (library-level pin)."""
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    return lineitem.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        # Serialized to a JSON string: the driver's pandas canonicalizer
        # can't hash a raw list cell (r1 harness crash).
        F.to_json(
            F.expr(
                "approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)"
            )
        ).alias("price_quantiles"),
        F.count("*").alias("n_lines"),
    )


_KMV_K = 64
_KMV_SQL = f"""
    WITH d AS (
        SELECT DISTINCT o_orderpriority AS priority,
               CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))
                    ::UBIGINT AS BIGINT) AS h
        FROM orders
    ),
    r AS (
        SELECT priority, h,
               row_number() OVER (PARTITION BY priority ORDER BY h) AS rn
        FROM d
    ),
    s AS (
        SELECT priority,
               count(*) AS n_exact,
               max(CASE WHEN rn = {_KMV_K} THEN h END) AS kth
        FROM r GROUP BY priority
    )
    SELECT priority, n_exact,
           CASE WHEN n_exact >= {_KMV_K}
                THEN (({_KMV_K} - 1) * 4294967296) // greatest(kth, 1)
                ELSE n_exact END AS kmv_estimate
    FROM s
"""


@query("sketch_kmv_distinct", _KMV_SQL)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch — the
    DETERMINISTIC sketch: the estimate is a pure function of the
    md5 hashes ((k−1)·2³² div k-th smallest 32-bit hash), so unlike
    HLL both engines compute the identical value and the sketch path
    itself is oracle-checked, with the exact count alongside for
    error visibility.

    Mergeability (the 100 TB property): the state per group is its k
    smallest hashes; union-then-keep-k merges partials. Here groups
    are few, so rank selection over distinct hashes is one windowed
    pass; at scale the same state folds per-partition first."""
    (orders,) = tables(spark, sf_dir, "orders")
    h = (
        F.conv(
            F.md5(F.col("o_custkey").cast("string").cast("binary")).substr(1, 8),
            16,
            10,
        )
        .cast("long")
        .alias("h")
    )
    d = orders.select(F.col("o_orderpriority").alias("priority"), h).distinct()
    w = Window.partitionBy("priority").orderBy("h")
    s = (
        d.withColumn("rn", F.row_number().over(w))
        .groupBy("priority")
        .agg(
            F.count("*").alias("n_exact"),
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth"),
        )
    )
    return s.select(
        "priority",
        "n_exact",
        F.when(
            F.col("n_exact") >= _KMV_K,
            F.expr(f"(({_KMV_K} - 1) * 4294967296) div greatest(kth, 1)"),
        )
        .otherwise(F.col("n_exact"))
        .alias("kmv_estimate"),
    )


# --------------------------------------------------------------------
# TPC-H Q17 shape: correlated subquery (per-group threshold)
# --------------------------------------------------------------------


@query(
    "q17_small_quantity",
    """
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
          SELECT 0.2 * avg(l2.l_quantity)
          FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part threshold. Spark plans the
    correlation as a de-correlated aggregate + equi-join — written
    here explicitly (per-part avg, joined back) because that IS the
    scalable plan: one extra groupBy on the join key instead of a
    per-row subquery."""
    lineitem, part = tables(spark, sf_dir, "lineitem", "part")
    thresholds = lineitem.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("qty_threshold")
    )
    brand_parts = part.filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    return (
        lineitem.join(
            F.broadcast(brand_parts), F.col("l_partkey") == F.col("p_partkey")
        )
        .join(thresholds, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------
# TPC-H Q10 shape: top-N customers by returned-item revenue
# --------------------------------------------------------------------


@query(
    "q10_returned_revenue",
    """
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           n.n_name AS nation
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 4
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.
    Returnflag filter prunes the fact at the scan; customer/nation
    broadcast; deterministic top-N (revenue desc, key tiebreak)."""
    customer, orders, lineitem, nation = tables(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_name", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "nation")
    )


# --------------------------------------------------------------------
# TPC-H Q18 shape: HAVING-filtered keys rejoined to detail
# --------------------------------------------------------------------


@query(
    "q18_large_orders",
    """
    WITH big AS (
        SELECT l_orderkey FROM lineitem
        GROUP BY 1 HAVING sum(l_quantity) > 150
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate::DATE AS order_date,
           round(o.o_totalprice, 2) AS total_price,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM orders o
    JOIN big b ON o.o_orderkey = b.l_orderkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2, 3, 4
    ORDER BY total_price DESC, o_orderkey
    LIMIT 20
    """,
)
def large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-HAVING produces a key set, which
    SEMI-join-prunes both fact scans before the detail re-aggregation
    — the filter runs at order grain, not line grain."""
    orders, lineitem, customer = tables(
        spark, sf_dir, "orders", "lineitem", "customer"
    )
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 150)
        .select("l_orderkey")
    )
    return (
        lineitem.join(big.withColumnRenamed("l_orderkey", "bk"),
                      F.col("l_orderkey") == F.col("bk"), "left_semi")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer.select("c_custkey", "c_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            "c_name",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.desc("total_price"), "o_orderkey")
        .limit(20)
    )


# --------------------------------------------------------------------
# TPC-H Q22 shape: anti join + scalar-subquery threshold
# --------------------------------------------------------------------


@query(
    "q22_idle_customers",
    """
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_customers,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS total_balance_cents
    FROM customer c
    WHERE c.c_acctbal > (
            SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0
        )
      AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= DATE '2000-01-01'
        )
    GROUP BY 1
    """,
)
def idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average balance (uncorrelated scalar
    subquery, computed once and broadcast into the filter) and no
    RECENT orders (anti join on the filtered fact) — the churn-risk
    cohort. The recency cutoff keeps the cohort non-empty in a fixture
    where every customer has at least one lifetime order; balances
    summed as exact int64 cents."""
    orders, customer = tables(spark, sf_dir, "orders", "customer")
    avg_bal = (
        customer.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("t"))
    )
    recent = orders.filter(F.col("o_orderdate") >= "2000-01-01").select("o_custkey")
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("t"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias(
                "total_balance_cents"
            ),
        )
    )


# --------------------------------------------------------------------
# Unpivot (wide → long) — inverse of the pivot above
# --------------------------------------------------------------------


@query(
    "unpivot_status_counts",
    """
    WITH wide AS (
        SELECT year(o_orderdate)::BIGINT AS order_year,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        FROM orders GROUP BY 1
    )
    SELECT order_year, status, n FROM (
        SELECT order_year, 'F' AS status, n_f AS n FROM wide
        UNION ALL SELECT order_year, 'O', n_o FROM wide
        UNION ALL SELECT order_year, 'P', n_p FROM wide
    ) WHERE n > 0
    """,
)
def unpivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide → long): the inverse of pivot, via the
    native ``unpivot`` operator — one Expand node, no join, no
    repeated scans of the wide table."""
    wide = pivot_status_by_year(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["order_year"],
            values=["n_f", "n_o", "n_p"],
            variableColumnName="status",
            valueColumnName="n",
        )
        .withColumn("status", F.upper(F.expr("substring(status, 3, 1)")))
        .filter(F.col("n") > 0)
        .select("order_year", "status", "n")
    )


# --------------------------------------------------------------------
# TPC-H Q7 shape: bilateral trade volume by year
# --------------------------------------------------------------------


@query(
    "q7_nation_trade",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l.l_shipdate)::BIGINT AS ship_year,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_e4
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
    """,
)
def nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral flows — nation dim joined TWICE under
    different roles (supplier side, customer side), the disjunctive
    country pair filter applied after both broadcasts.

    Revenue carried as exact int64 (unit 1e-4 dollars): prices are
    2-decimal and discounts 2-decimal percentages, so
    cents × (100 − disc_pct) is an exact integer product — immune to
    the round(sum(double)) cross-engine half-boundary class. Nation
    constants match the fixture's NATION_N names (FRANCE/GERMANY
    matched nothing → r1 passed vacuously on 0 rows)."""
    lineitem, orders, customer, supplier, nation = tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    # pre-filter both nation roles to the pair's two members BEFORE the
    # broadcast joins — rows outside {NATION_1, NATION_2} can never
    # satisfy the disjunction, so the fact shrinks at the first join
    # instead of after all four.
    members = ["NATION_1", "NATION_2"]
    sn = nation.filter(F.col("n_name").isin(members)).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.filter(F.col("n_name").isin(members)).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        lineitem.select(
            "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
        )
        .join(
            F.broadcast(
                supplier.select("s_suppkey", "s_nationkey").join(
                    F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key")
                )
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(
                customer.select("c_custkey", "c_nationkey").join(
                    F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key")
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (100 - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("revenue_e4")
        )
    )


# --------------------------------------------------------------------
# TPC-H Q8 shape: market share (conditional share of total)
# --------------------------------------------------------------------


@query(
    "q8_market_share",
    """
    SELECT year(o.o_orderdate)::BIGINT AS order_year,
           round(sum(CASE WHEN sn.n_name = 'BRAZIL'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 6)
               AS brazil_share
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region r ON cn.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE r.r_name = 'AMERICA'
    GROUP BY 1
    """,
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional revenue per year
    — conditional numerator over the same aggregate pass, nation dim
    again in two roles."""
    lineitem, orders, customer, supplier, nation, region = tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation",
        "region",
    )
    amer_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("cn_key"))
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.select(
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
        )
        .join(
            F.broadcast(
                supplier.select("s_suppkey", "s_nationkey").join(
                    F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key")
                )
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(
                customer.select("c_custkey", "c_nationkey").join(
                    F.broadcast(amer_nations),
                    F.col("c_nationkey") == F.col("cn_key"),
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "BRAZIL", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("brazil_share")
        )
    )


# --------------------------------------------------------------------
# TPC-H Q9 shape: product-line profit by nation and year
# --------------------------------------------------------------------


@query(
    "q9_product_profit",
    """
    SELECT sn.n_name AS nation, year(o.o_orderdate)::BIGINT AS order_year,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS profit_e4,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (fixture carries no ps_supplycost — profit is
    discounted revenue): LIKE-filtered part dim broadcast FIRST so the
    fact shrinks before the orders join.

    Profit as exact int64 (unit 1e-4 dollars, cents × (100−disc_pct));
    the LIKE constant matches the fixture's color vocabulary ('green'
    matched nothing → r1 passed vacuously on 0 rows)."""
    lineitem, part, orders, supplier, nation = tables(
        spark, sf_dir, "lineitem", "part", "orders", "supplier", "nation"
    )
    return (
        lineitem.join(
            F.broadcast(
                part.filter(F.col("p_name").like("%red%")).select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(
                supplier.select("s_suppkey", "s_nationkey").join(
                    F.broadcast(nation.select("n_nationkey", "n_name")),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                )
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (100 - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("profit_e4"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------
# W4: first_value / last_value over frames
# --------------------------------------------------------------------


@query(
    "w4_first_last",
    """
    SELECT o_custkey, o_orderkey,
           round(first_value(o_totalprice) OVER w, 2) AS first_price,
           round(last_value(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ), 2) AS latest_price,
           round(nth_value(o_totalprice, 2) OVER w, 2) AS second_price
    FROM orders
    WHERE o_custkey <= 200
    WINDOW w AS (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    )
    """,
)
def first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 navigation functions: customer's first / latest / second
    order price — running frame for first/nth (history-so-far), full
    frame for latest."""
    (orders,) = tables(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wfull = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.filter(F.col("o_custkey") <= 200).select(
        "o_custkey",
        "o_orderkey",
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(wfull), 2).alias("latest_price"),
        F.round(F.nth_value("o_totalprice", 2).over(w), 2).alias("second_price"),
    )


# --------------------------------------------------------------------
# Map functions over JSON props
# --------------------------------------------------------------------


@query(
    "map_functions_props",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS n_distinct_k
    FROM events
    WHERE props IS NOT NULL
    GROUP BY 1
    """,
)
def map_functions_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map/JSON surface: props parsed into MapType, values extracted
    and aggregated — the dynamic-document field access pattern the
    reference's JSON-blob columns require (transform.py:33-42)."""
    (events,) = tables(spark, sf_dir, "events")
    # get_json_object per key, NOT from_json(map<string,bigint>): the
    # map cast is all-or-nothing (one uncastable sibling value NULLs
    # the whole map), whereas the oracle's json_extract_string pulls
    # '$.k' regardless of sibling values (r1 hash-fail root cause).
    k = F.get_json_object("props", "$.k").cast("bigint")
    m = events.filter(F.col("props").isNotNull()).select(
        "event_type", k.alias("k")
    )
    return m.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.countDistinct("k").alias("n_distinct_k"),
    )


# --------------------------------------------------------------------
# TPC-H Q4 shape: correlated EXISTS with a comparison inside
# --------------------------------------------------------------------


@query(
    "q4_priority_late_ship",
    """
    SELECT o.o_orderpriority AS priority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    GROUP BY 1
    """,
)
def priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS whose inner predicate
    compares columns across the correlation — planned as a left-semi
    join on the key with the cross-table comparison as the join
    condition."""
    orders, lineitem = tables(spark, sf_dir, "orders", "lineitem")
    li = lineitem.select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")),
            "left_semi",
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n_orders"))
    )


# --------------------------------------------------------------------
# TPC-H Q13 shape: customer order-count distribution (outer join)
# --------------------------------------------------------------------


@query(
    "q13_order_distribution",
    """
    SELECT n_orders, count(*) AS n_customers FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY 1
    )
    GROUP BY 1
    """,
)
def order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the order-count histogram — left outer join
    keeps zero-order customers (count of the nullable side = 0), then
    a second aggregation over the first's output."""
    orders, customer = tables(spark, sf_dir, "orders", "customer")
    per_cust = (
        customer.select("c_custkey")
        .join(orders.select("o_custkey", "o_orderkey"),
              F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


# --------------------------------------------------------------------
# TPC-H Q15 shape: argmax via scalar subquery over an aggregate
# --------------------------------------------------------------------


@query(
    "q15_top_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2)
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: maximum-revenue supplier(s) — the revenue
    'view' computed once, its max broadcast back as a scalar filter
    (ties all surface, per the spec)."""
    lineitem, supplier = tables(spark, sf_dir, "lineitem", "supplier")
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------
# TPC-H Q19 shape: disjunctive bracket predicates across the join
# --------------------------------------------------------------------


@query(
    "q19_bracket_revenue",
    """
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 40)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 60)
    """,
)
def bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: three OR'd predicate brackets mixing dim and
    fact columns. Catalyst extracts the common join key and pushes the
    per-side conjuncts below the join; the disjunction is evaluated on
    the joined row inside one codegen stage."""
    lineitem, part = tables(spark, sf_dir, "lineitem", "part")
    j = lineitem.select("l_partkey", "l_quantity", "l_extendedprice", "l_discount").join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    bracket = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 40))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 60))
    )
    return j.filter(bracket).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


# --------------------------------------------------------------------
# TPC-H Q21 shape: EXISTS + NOT EXISTS against the same fact
# --------------------------------------------------------------------

@query(
    "q21_sole_late_supplier",
    """
    SELECT s.s_name, count(*) AS n_waiting_orders
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY 1
    """,
)
def sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: lateness = shipped >60d after order):
    suppliers who were the ONLY late supplier on a multi-supplier
    order. The two correlated subqueries de-correlate into one
    order-grain aggregate — per order: distinct suppliers and distinct
    LATE suppliers — joined back; three scans become two."""
    supplier, lineitem, orders = tables(
        spark, sf_dir, "supplier", "lineitem", "orders"
    )
    o = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        o, F.col("l_orderkey") == F.col("o_orderkey")
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supps"),
    )
    # l1 grain, matching the SQL's count(*): a supplier with two late
    # lines on one order counts twice
    waiting = (
        li.filter(late)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supps") > 1) & (F.col("n_late_supps") == 1))
        .select("l_orderkey", "l_suppkey")
    )
    return (
        waiting.join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("n_waiting_orders"))
    )


# --------------------------------------------------------------------
# TPC-H Q16 shape: NOT IN subquery + conditional distinct count
# --------------------------------------------------------------------


@query(
    "q16_part_supplier_counts",
    """
    SELECT p.p_brand AS brand, p.p_size AS size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_type <> 'PROMO'
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2
    """,
)
def part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per part bucket,
    excluding a NOT-IN denylist (negative-balance suppliers). NOT IN
    is a null-aware anti join; the denylist is tiny → broadcast."""
    lineitem, part, supplier = tables(spark, sf_dir, "lineitem", "part", "supplier")
    deny = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        lineitem.select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(deny), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
        )
        .join(
            F.broadcast(
                part.filter(F.col("p_type") != "PROMO").select(
                    "p_partkey", "p_brand", "p_size"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"), F.col("p_size").alias("size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------
# W4: rank-family window functions
# --------------------------------------------------------------------


@query(
    "w4_rank_family",
    """
    SELECT o_custkey, o_orderkey,
           dense_rank() OVER w AS drk,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WHERE o_custkey <= 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 rank family: dense_rank / ntile / percent_rank / cume_dist
    over a fully-tiebroken per-customer ordering — the remaining
    analytic-window surface (row_number and lag/lead live in their own
    queries)."""
    (orders,) = tables(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return orders.filter(F.col("o_custkey") <= 100).select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(w).alias("drk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


# --------------------------------------------------------------------
# TPC-H Q2 shape: min-cost supplier per part within a region
# --------------------------------------------------------------------


@query(
    "q2_min_cost_supplier",
    """
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice / l_quantity) AS cost
        FROM lineitem GROUP BY 1, 2
    ),
    eu AS (
        SELECT ps.l_partkey, ps.l_suppkey, ps.cost,
               s.s_acctbal, s.s_name, n.n_name
        FROM ps
        JOIN supplier s ON s.s_suppkey = ps.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    )
    SELECT e.s_name, e.n_name, p.p_partkey AS partkey, p.p_brand,
           CAST(floor(e.cost * 100 + 0.5) AS BIGINT) AS cost_cents
    FROM eu e
    JOIN part p ON p.p_partkey = e.l_partkey
    WHERE p.p_size <= 10 AND p.p_type = 'LARGE'
      AND e.cost = (SELECT min(e2.cost) FROM eu e2
                    WHERE e2.l_partkey = e.l_partkey)
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, partkey, e.l_suppkey
    LIMIT 100
    """,
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape, adapted: the fixture has no partsupp table, so
    supply cost derives from lineitem as min unit price per
    (part, supplier). The correlated per-part min de-correlates into a
    window min over the region-filtered supply list — one shuffle on
    l_partkey instead of a rejoin; region/nation/supplier dims
    broadcast. Cost surfaces as deterministic integer cents
    (floor(x*100+0.5) is exact IEEE on both engines)."""
    lineitem, supplier, nation, region = tables(
        spark, sf_dir, "lineitem", "supplier", "nation", "region"
    )
    ps = (
        lineitem.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    )
    eu_supp = (
        supplier.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    eu = ps.join(F.broadcast(eu_supp), F.col("l_suppkey") == F.col("s_suppkey"))
    part = tables(spark, sf_dir, "part")[0].filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "LARGE")
    )
    w = Window.partitionBy("l_partkey")
    return (
        eu.withColumn("min_cost", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("min_cost"))
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            "s_name",
            "n_name",
            F.col("p_partkey").alias("partkey"),
            "p_brand",
            F.floor(F.col("cost") * 100 + 0.5).cast("bigint").alias("cost_cents"),
            "s_acctbal",
            "l_suppkey",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "partkey", "l_suppkey"
        )
        .limit(100)
        .drop("s_acctbal", "l_suppkey")
    )


# --------------------------------------------------------------------
# TPC-H Q11 shape: parts above a fraction of total national value
# --------------------------------------------------------------------


@query(
    "q11_important_parts",
    """
    WITH natl AS (
        SELECT l.l_partkey AS partkey,
               CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                                   * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS value_cents
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name IN ('NATION_1', 'NATION_7', 'NATION_13')
        GROUP BY 1
    )
    SELECT partkey, value_cents
    FROM natl
    WHERE value_cents > (SELECT sum(value_cents) * 0.001 FROM natl)
    """,
)
def important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape, adapted (no partsupp): per-part value of
    lineitems supplied from a nation group, keeping parts above a
    fraction of the group total. HAVING-vs-scalar-aggregate shape: the
    grand total is a one-row aggregate of the already-grouped frame —
    reused via a broadcast cross join, not a second fact scan. Exact
    int64 cents make the boundary comparison engine-stable."""
    lineitem, supplier, nation = tables(
        spark, sf_dir, "lineitem", "supplier", "nation"
    )
    supp = (
        supplier.join(
            F.broadcast(
                nation.filter(
                    F.col("n_name").isin("NATION_1", "NATION_7", "NATION_13")
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey")
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("bigint")
    natl = (
        lineitem.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(cents).alias("value_cents"))
    )
    total = natl.agg((F.sum("value_cents") * 0.001).alias("threshold"))
    return (
        natl.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") > F.col("threshold"))
        .select("partkey", "value_cents")
    )


# --------------------------------------------------------------------
# TPC-H Q20 shape: suppliers with heavy shipments of matching parts
# --------------------------------------------------------------------


@query(
    "q20_heavy_shippers",
    """
    SELECT s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE '%red%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING sum(l.l_quantity) > 80
    )
    """,
)
def heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape, adapted (availqty → shipped quantity):
    suppliers who shipped more than a threshold of any name-matched
    part in a date window. IN-subquery over a grouped HAVING →
    aggregate then left-semi join; the part-name filter broadcasts
    into the fact scan so only matching lines aggregate. Quantities
    are whole numbers stored as doubles — their sums are exact
    integers (< 2^53), so the HAVING boundary is engine-stable."""
    lineitem, part, supplier = tables(spark, sf_dir, "lineitem", "part", "supplier")
    red = part.filter(F.col("p_name").like("%red%")).select("p_partkey")
    heavy = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 80)
        .select("l_suppkey")
    )
    return supplier.join(
        heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_name")


# --------------------------------------------------------------------
# Data-quality constraint checks (warehouse validation pass)
# --------------------------------------------------------------------


@query(
    "dq_constraint_checks",
    """
    SELECT 'lineitem_null_orderkey' AS check_name,
           (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)
               AS n_violations
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'orders_duplicate_pk',
           (SELECT count(*) FROM (
               SELECT o_orderkey FROM orders
               GROUP BY 1 HAVING count(*) > 1))
    UNION ALL
    SELECT 'lineitem_nonpositive_qty',
           (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
    UNION ALL
    SELECT 'orders_bad_status',
           (SELECT count(*) FROM orders
            WHERE o_orderstatus NOT IN ('F', 'O', 'P'))
    """,
)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The post-load validation pass a warehouse runs after every
    sync: NOT NULL, referential integrity (orphan foreign keys via
    anti join), primary-key uniqueness, domain ranges, and enum
    membership — one row per constraint with its violation count.

    Plan shape: each check is an independent aggregate over one scan
    (the orphan check is a broadcast-able anti join on the fact);
    Spark runs the union's branches as parallel stages. At 100 TB,
    run it on the delta plus touched buckets, not the full table —
    the checks compose with the merge's bucket pruning."""
    lineitem, orders = tables(spark, sf_dir, "lineitem", "orders")

    def one(name: str, cnt: DataFrame) -> DataFrame:
        return cnt.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("long").alias("n_violations"),
        )

    null_ok = lineitem.filter(F.col("l_orderkey").isNull()).agg(
        F.count("*").alias("n")
    )
    orphans = lineitem.join(
        orders.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_anti",
    ).agg(F.count("*").alias("n"))
    dup_pk = (
        orders.groupBy("o_orderkey")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count("*").alias("n"))
    )
    bad_qty = lineitem.filter(F.col("l_quantity") <= 0).agg(
        F.count("*").alias("n")
    )
    bad_status = orders.filter(
        ~F.col("o_orderstatus").isin("F", "O", "P")
    ).agg(F.count("*").alias("n"))
    return (
        one("lineitem_null_orderkey", null_ok)
        .unionByName(one("lineitem_orphan_orderkey", orphans))
        .unionByName(one("orders_duplicate_pk", dup_pk))
        .unionByName(one("lineitem_nonpositive_qty", bad_qty))
        .unionByName(one("orders_bad_status", bad_status))
    )


# --------------------------------------------------------------------
# F: array-function surface (collect → sort → set ops → search)
# --------------------------------------------------------------------


@query(
    "array_functions_suite",
    """
    WITH arrs AS (
        SELECT l_orderkey AS orderkey,
               list_sort(list_distinct(list(l_linenumber))) AS lines
        FROM lineitem
        WHERE l_orderkey <= 3000
        GROUP BY 1
    )
    SELECT orderkey,
           len(lines) AS n_lines,
           array_to_string(lines, ',') AS lines_str,
           lines[1] AS first_line,
           CAST(list_contains(lines, 3) AS BIGINT) AS has_line_3,
           len(list_intersect(lines, [1, 2, 3])) AS n_common_123,
           CAST(coalesce(list_position(lines, 2), 0) AS BIGINT) AS pos_2
    FROM arrs
    """,
)
def array_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.7 array surface in one deterministic pass: collect_set →
    array_sort (canonical order — collect order is engine- and
    partition-dependent, so EVERY downstream op runs on the sorted
    array), element access, membership, set intersection, and
    position search (Spark's array_position and DuckDB's
    list_position agree once absent-as-0 is coalesced)."""
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    arrs = (
        lineitem.filter(F.col("l_orderkey") <= 3000)
        .groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(F.array_sort(F.collect_set("l_linenumber")).alias("lines"))
    )
    return arrs.select(
        "orderkey",
        F.size("lines").cast("long").alias("n_lines"),
        F.array_join(F.col("lines").cast("array<string>"), ",").alias(
            "lines_str"
        ),
        F.element_at("lines", 1).alias("first_line"),
        F.array_contains("lines", F.lit(3)).cast("long").alias("has_line_3"),
        F.size(F.array_intersect("lines", F.array(F.lit(1), F.lit(2), F.lit(3))))
        .cast("long")
        .alias("n_common_123"),
        F.array_position("lines", 2).cast("long").alias("pos_2"),
    )


# --------------------------------------------------------------------
# F: regex-function surface (shared RE2 ∩ java.util.regex dialect)
# --------------------------------------------------------------------


@query(
    "regexp_functions_suite",
    """
    SELECT o_orderpriority AS priority,
           count(*) AS n,
           CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[0-9]-')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_numbered,
           min(regexp_extract(o_orderpriority, '[0-9]+')) AS min_digit,
           min(regexp_replace(o_orderpriority, '[^A-Z]', '', 'g')) AS letters
    FROM orders
    GROUP BY 1
    """,
)
def regexp_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface on the shared RE2 ∩ java.util.regex dialect (no
    backrefs/lookaround): match test, first-group extraction, and
    global character-class replacement. Spark's regexp_replace is
    global by default; DuckDB needs the explicit 'g' flag — the one
    dialect asymmetry worth pinning."""
    (orders,) = tables(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("o_orderpriority").rlike("^[0-9]-"), 1).otherwise(0)
        ).cast("long").alias("n_numbered"),
        F.min(F.regexp_extract("o_orderpriority", "[0-9]+", 0)).alias(
            "min_digit"
        ),
        F.min(F.regexp_replace("o_orderpriority", "[^A-Z]", "")).alias(
            "letters"
        ),
    )


# --------------------------------------------------------------------
# F: datetime-function surface (cross-engine day-numbering pinned)
# --------------------------------------------------------------------


@query(
    "datetime_functions_suite",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           count(*) AS n,
           CAST(min(date_part('day', o_orderdate)) AS BIGINT) AS min_dom,
           CAST(max((date_part('dow', o_orderdate) + 6) % 7) AS BIGINT)
               AS max_dow_mon0,
           CAST(min(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE))) AS BIGINT)
               AS min_days_since_95,
           CAST(max(last_day(CAST(o_orderdate AS DATE))
                    - CAST(date_trunc('month', o_orderdate) AS DATE) + 1)
               AS BIGINT) AS days_in_month
    FROM orders
    GROUP BY 1
    """,
)
def datetime_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime surface with the cross-engine traps normalized:
    day-of-week is re-based to Monday=0 on BOTH engines (Spark's
    dayofweek is Sunday=1, DuckDB's dow is Sunday=0 — raw values can
    never match); month length derives from last_day minus truncated
    month start, exercising date arithmetic identically."""
    (orders,) = tables(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.groupBy(
        F.date_trunc("month", d).cast("date").alias("month")
    ).agg(
        F.count("*").alias("n"),
        F.min(F.dayofmonth(d)).cast("long").alias("min_dom"),
        # Spark dayofweek: Sun=1..Sat=7 → Monday-0 basis: (dow + 5) % 7
        F.max((F.dayofweek(d) + 5) % 7).cast("long").alias("max_dow_mon0"),
        F.min(F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")))
        .cast("long")
        .alias("min_days_since_95"),
        F.max(
            F.datediff(F.last_day(d), F.date_trunc("month", d).cast("date")) + 1
        ).cast("long").alias("days_in_month"),
    )


# --------------------------------------------------------------------
# F: string-function surface (incl. levenshtein)
# --------------------------------------------------------------------


@query(
    "string_functions_suite",
    """
    SELECT event_type,
           count(*) AS n,
           min(upper(event_type)) AS upper_t,
           min(lpad(event_type, 10, '.')) AS padded,
           CAST(min(strlen(translate(event_type, 'aeiou', ''))) AS BIGINT)
               AS n_consonants,
           CAST(levenshtein(min(event_type), 'purchase') AS BIGINT)
               AS lev_to_purchase
    FROM events
    GROUP BY 1
    """,
)
def string_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface: case mapping, padding, vowel-stripping
    translate, and Levenshtein distance — both engines implement the
    same unit-cost edit distance, so the values match exactly."""
    (events,) = tables(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min(F.upper("event_type")).alias("upper_t"),
        F.min(F.lpad("event_type", 10, ".")).alias("padded"),
        F.min(F.length(F.translate("event_type", "aeiou", "")))
        .cast("long")
        .alias("n_consonants"),
        F.levenshtein(F.min("event_type"), F.lit("purchase"))
        .cast("long")
        .alias("lev_to_purchase"),
    )


# --------------------------------------------------------------------
# Heavy hitters: exact per-group top-k by frequency (deterministic)
# --------------------------------------------------------------------


@query(
    "heavy_hitters_exact",
    """
    WITH freq AS (
        SELECT event_type, user_id, count(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT event_type, user_id, cnt,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY cnt DESC, user_id
               ) AS rk
        FROM freq
    )
    SELECT event_type, user_id, cnt, rk
    FROM ranked WHERE rk <= 3
    """,
)
def heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: the 3 most frequent users per event type,
    ties broken by the smaller id so the cut is deterministic. The
    two-level shape — partial-aggregated frequency count, then a
    per-group WindowGroupLimit top-k — is the exact dual of the
    sketch path (approx heavy hitters) and shuffles only distinct
    (group, value) pairs, never raw events."""
    (events,) = tables(spark, sf_dir, "events")
    freq = events.groupBy("event_type", "user_id").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("user_id")
    )
    return (
        freq.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("event_type", "user_id", "cnt", "rk")
    )


# --------------------------------------------------------------------
# NULL-semantics surface (synthesized nulls, deterministic)
# --------------------------------------------------------------------


@query(
    "null_semantics_suite",
    """
    WITH v AS (
        SELECT event_type,
               CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS val
        FROM events
    )
    SELECT event_type,
           count(*) AS n_rows,
           count(val) AS n_nonnull,
           CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
           round(CAST(avg(val) AS DOUBLE), 4) AS avg_nonnull,
           CAST(sum(CASE WHEN val IS NOT DISTINCT FROM NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq_null
    FROM v GROUP BY 1
    """,
)
def null_semantics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling parity, with nulls synthesized deterministically
    (every 5th event id): count(*) vs count(col), avg ignoring nulls,
    and null-safe equality (Spark ``<=>`` ↔ ANSI
    ``IS NOT DISTINCT FROM``) — the semantics every aggregation in
    the engine silently depends on, pinned once explicitly."""
    (events,) = tables(spark, sf_dir, "events")
    val = F.when(F.col("event_id") % 5 == 0, None).otherwise(F.col("value"))
    v = events.select("event_type", val.alias("val"))
    return v.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.count("val").alias("n_nonnull"),
        F.sum(F.when(F.col("val").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null"),
        F.round(F.avg("val").cast("double"), 4).alias("avg_nonnull"),
        F.sum(F.when(F.col("val").eqNullSafe(F.lit(None)), 1).otherwise(0))
        .cast("long")
        .alias("n_nullsafe_eq_null"),
    )


# --------------------------------------------------------------------
# Exact decimal arithmetic (no float rounding tricks needed)
# --------------------------------------------------------------------


@query(
    "decimal_arithmetic_suite",
    """
    SELECT l_returnflag AS returnflag,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 2)))
                     AS DECIMAL(18, 2)) AS VARCHAR) AS sum_price,
           CAST(CAST(min(CAST(l_discount AS DECIMAL(8, 2)))
                     AS DECIMAL(8, 2)) AS VARCHAR) AS min_disc,
           CAST(CAST(max(CAST(l_extendedprice AS DECIMAL(18, 2)))
                     AS DECIMAL(18, 2)) AS VARCHAR) AS max_price
    FROM lineitem
    GROUP BY 1
    """,
)
def decimal_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money math on DECIMAL instead of float-plus-rounding: both
    engines implement exact decimal addition, so the sums match
    bit-for-bit with NO round() anywhere — the type the int-cents
    idiom emulates, exercised natively. (Result scales are pinned by
    explicit casts; Spark widens sum(DECIMAL(18,2)) to (28,2),
    DuckDB to (38,2) — the cast collapses both.) The exact decimals
    are RENDERED as strings: pandas has no decimal dtype, so
    DuckDB's ``.df()`` would coerce to float64 while Spark keeps
    ``Decimal`` objects — a guaranteed driver hash mismatch caught
    by the harness's pandas path."""
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    return lineitem.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.sum(price).cast("decimal(18,2)").cast("string").alias("sum_price"),
        F.min(F.col("l_discount").cast("decimal(8,2)")).cast("decimal(8,2)")
        .cast("string").alias("min_disc"),
        F.max(price).cast("decimal(18,2)").cast("string").alias("max_price"),
    )


# --------------------------------------------------------------------
# W4: time-based RANGE frame (sliding 1-hour running aggregate)
# --------------------------------------------------------------------


@query(
    "w4_range_interval",
    """
    SELECT event_id, user_id,
           epoch_us(ts) // 1000000 AS ts_s,
           CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
           round(CAST(sum(value) OVER w AS DOUBLE), 4) AS sum_last_hour
    FROM events
    WHERE user_id <= 40
    WINDOW w AS (
        PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
    )
    """,
)
def w4_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sliding one-hour running count/sum via a RANGE frame
    over epoch seconds — the time-based frame ROWS can't express
    (peers are picked by VALUE distance, so simultaneous events and
    gaps behave correctly). Ordering on the numeric epoch keeps the
    frame spec identical across engines; rows sharing a timestamp are
    frame-peers, making the output order-independent within ties."""
    (events,) = tables(spark, sf_dir, "events")
    ts_s = F.expr("unix_micros(ts) div 1000000")  # FLOOR of seconds on
    # both engines — DuckDB's epoch()::BIGINT rounds half-even on
    # fractional seconds, silently shifting frame boundaries ±1 s
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_s)
        .rangeBetween(-3600, 0)
    )
    return events.filter(F.col("user_id") <= 40).select(
        "event_id",
        "user_id",
        ts_s.alias("ts_s"),
        F.count("*").over(w).cast("long").alias("n_last_hour"),
        F.round(F.sum("value").over(w).cast("double"), 4).alias(
            "sum_last_hour"
        ),
    )


# --------------------------------------------------------------------
# KMV sketch SET OPERATIONS: union / intersection estimates
# --------------------------------------------------------------------

_KMV_SET_SQL = f"""
    WITH u AS (
        SELECT user_id,
               {_sql_hash_u32('user_id')} AS h,
               bool_or(event_type = 'view') AS in_a,
               bool_or(event_type = 'click') AS in_b
        FROM events
        WHERE event_type IN ('view', 'click')
        GROUP BY user_id
    ),
    r AS (SELECT *, row_number() OVER (ORDER BY h) AS rn FROM u),
    s AS (
        SELECT count(*) AS n_union,
               CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_inter,
               max(CASE WHEN rn = {_KMV_K} THEN h END) AS kth,
               CAST(sum(CASE WHEN rn <= {_KMV_K} AND in_a AND in_b
                        THEN 1 ELSE 0 END) AS BIGINT) AS jacc_num
        FROM r
    )
    SELECT n_union AS union_exact, n_inter AS inter_exact, jacc_num,
           CASE WHEN n_union >= {_KMV_K}
                THEN (({_KMV_K} - 1) * 4294967296) // greatest(kth, 1)
                ELSE n_union END AS union_kmv,
           CASE WHEN n_union >= {_KMV_K}
                THEN (jacc_num * ((({_KMV_K} - 1) * 4294967296)
                      // greatest(kth, 1))) // {_KMV_K}
                ELSE n_inter END AS inter_kmv
    FROM s
"""


@query("sketch_kmv_setops", _KMV_SET_SQL)
def sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET OPERATIONS — union and intersection cardinality
    estimates between two segments (viewers vs clickers) from one
    shared sketch: the union estimate is plain KMV over the combined
    hash set; the intersection estimate is the standard KMV composite
    (fraction of the union's k minimum values present in BOTH sets ×
    the union estimate). Everything is a pure function of the md5
    hashes, so unlike theta/HLL intersections the estimates are
    engine-identical and oracle-checked, with exact counts alongside
    for error visibility.

    Mergeability (the 100 TB property): per-partition state is the k
    smallest (h, in_a, in_b) triples; union-then-keep-k merges
    partials, and segment flags OR together — the same fold as any
    theta-sketch framework, just deterministic. The plan IS that
    fold: the sketch state comes from a distributed TakeOrdered(k)
    (orderBy + limit → per-partition partial bottom-k, merged on the
    driver), never a global rank window — a KMV sketch exists
    precisely so nothing ever sorts the full hash set. The exact
    union/intersection counters are a plain aggregate over the same
    persisted user-grain frame, and the two 1-row results combine via
    a broadcast."""
    (events,) = tables(spark, sf_dir, "events")
    u = (
        events.filter(F.col("event_type").isin("view", "click"))
        .groupBy("user_id")
        .agg(
            F.max(F.col("event_type") == "view").alias("in_a"),
            F.max(F.col("event_type") == "click").alias("in_b"),
        )
        .select(
            hash_u32(F.col("user_id")).alias("h"),
            "in_a",
            "in_b",
        )
        .persist()
    )
    tot = u.agg(
        F.count("*").alias("n_union"),
        F.sum((F.col("in_a") & F.col("in_b")).cast("long"))
        .cast("long")
        .alias("n_inter"),
    )
    # the k-minimum-values frame: when fewer than K hashes exist the
    # frame is the whole set, so jacc_num degrades to n_inter exactly
    # as the rank formulation did (kth is then unused — the estimate
    # branches on n_union >= K)
    bot = (
        u.orderBy("h")
        .limit(_KMV_K)
        .agg(
            F.max("h").alias("kth"),
            F.sum((F.col("in_a") & F.col("in_b")).cast("long"))
            .cast("long")
            .alias("jacc_num"),
        )
    )
    s = tot.crossJoin(F.broadcast(bot))
    union_kmv = F.expr(
        f"(({_KMV_K} - 1) * 4294967296) div greatest(kth, 1)"
    )
    out = s.select(
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
    return checkpoint_result("sketch_kmv_setops", out, u)


# --------------------------------------------------------------------
# W4 distribution windows: percent_rank / cume_dist / ntile
# --------------------------------------------------------------------


@query(
    "w4_dist_functions",
    """
    SELECT o_orderkey,
           o_orderpriority AS priority,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def w4_dist_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — percent_rank, cume_dist,
    ntile — over a TOTAL order ((price, orderkey)), so rank positions
    and the quartile boundaries are identical across engines and the
    k/(n−1), k/n doubles are the same exact divisions. Completes the
    W4 window family (frames, lag/lead, rank family, range-interval,
    first/last) with the distribution trio.

    Scale shape: one hash exchange on the partition key, one
    in-partition sort, all three functions in a single Window node."""
    (orders,) = tables(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


# --------------------------------------------------------------------
# Exact per-group mode (deterministic tie-break)
# --------------------------------------------------------------------


@query(
    "agg_mode_exact",
    """
    WITH c AS (
        SELECT event_type, user_id, count(*) AS n
        FROM events GROUP BY event_type, user_id
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY event_type ORDER BY n DESC, user_id
        ) AS rn
        FROM c
    )
    SELECT event_type, user_id AS mode_user, n AS mode_n
    FROM r WHERE rn = 1
    """,
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact statistical MODE per group (the most active user per
    event type) with a deterministic tie-break (highest count, then
    lowest key) — the exact twin of sketch-based heavy-hitter top-1,
    and the aggregation SQL's MODE() ordered-set function computes.

    Scale shape: one keyed count (partial-aggregated), then a
    per-group rank-1 cut that rides WindowGroupLimit — the shuffle
    after the count carries O(groups × users-per-group) but the limit
    prunes in-partition before materialization."""
    (events,) = tables(spark, sf_dir, "events")
    c = events.groupBy("event_type", "user_id").agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.col("user_id")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("user_id").alias("mode_user"),
            F.col("n").alias("mode_n"),
        )
    )


# --------------------------------------------------------------------
# Gaps and islands: consecutive-day activity streaks
# --------------------------------------------------------------------


@query(
    "events_gap_islands",
    """
    WITH d AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    g AS (
        SELECT user_id, day,
               day - CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY day
               ) AS INTEGER) AS grp
        FROM d
    ),
    s AS (
        SELECT user_id, grp, CAST(count(*) AS BIGINT) AS streak_len
        FROM g GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_streaks,
           max(streak_len) AS longest_streak,
           CAST(sum(streak_len) AS BIGINT) AS active_days
    FROM s GROUP BY user_id
    """,
)
def events_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user consecutive-day activity streaks via
    the classic day − row_number() group constant — engagement-streak
    analytics (DAU streaks, retention heuristics) in pure window+agg
    form, no self-join and no iteration.

    Scale shape: one distinct (partial-aggregated), one window
    partitioned by user (single exchange — the distinct's
    partitioning is reusable), two keyed aggs that stay on the same
    user key. Everything scales with users × active days."""
    (events,) = tables(spark, sf_dir, "events")
    d = events.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.withColumn(
        "grp", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    s = g.groupBy("user_id", "grp").agg(
        F.count("*").cast("long").alias("streak_len")
    )
    return s.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_streaks"),
        F.max("streak_len").alias("longest_streak"),
        F.sum("streak_len").cast("long").alias("active_days"),
    )


# --------------------------------------------------------------------
# Count-Min sketch: deterministic frequency estimates
# --------------------------------------------------------------------

_CMS_DEPTH = 3
_CMS_WIDTH = 256


def _cms_col_sql(row: int) -> str:
    return (
        _sql_hash_u32(f"CAST(user_id AS VARCHAR) || '#{row}'")
        + f" % {_CMS_WIDTH}"
    )


_CMS_SQL = f"""
    WITH cells AS (
        {" UNION ALL ".join(
            f"SELECT {r} AS row_id, {_cms_col_sql(r)} AS col_id, user_id FROM events"
            for r in range(_CMS_DEPTH)
        )}
    ),
    sketch AS (
        SELECT row_id, col_id, CAST(count(*) AS BIGINT) AS c
        FROM cells GROUP BY row_id, col_id
    ),
    exact AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
        FROM events GROUP BY user_id
        ORDER BY n_exact DESC, user_id LIMIT 10
    ),
    probes AS (
        {" UNION ALL ".join(
            f"SELECT user_id, n_exact, {r} AS row_id, {_cms_col_sql(r)} AS col_id FROM exact"
            for r in range(_CMS_DEPTH)
        )}
    )
    SELECT p.user_id, p.n_exact,
           CAST(min(s.c) AS BIGINT) AS n_cms
    FROM probes p JOIN sketch s
      ON p.row_id = s.row_id AND p.col_id = s.col_id
    GROUP BY p.user_id, p.n_exact
"""


@query("sketch_cms_heavy_hitters", _CMS_SQL)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation — the third deterministic
    sketch alongside KMV (distinct / set ops): {_CMS_DEPTH} md5-seeded
    hash rows × {_CMS_WIDTH} columns of integer counts, estimate =
    min over rows (never under-counts), probed here for the exact
    top-10 users so the oracle pins estimate AND error side by side.
    Like the KMV pair, every value is a pure function of md5 — the
    sketch path itself is value-checked, unlike engine-specific CMS
    implementations.

    Mergeability (the 100 TB property): the sketch is a fixed
    {_CMS_DEPTH}×{_CMS_WIDTH} integer grid; partial grids ADD
    cell-wise — a partial-aggregatable groupBy is exactly that fold.
    One exploded pass (D rows per event, map-side), one keyed count,
    and an O(k·D) probe join."""
    (events,) = tables(spark, sf_dir, "events")

    def col_id(row: int):
        return (
            hash_u32(
                F.concat(F.col("user_id").cast("string"), F.lit(f"#{row}"))
            )
            % _CMS_WIDTH
        )

    cells = events.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row_id"), col_id(r).alias("col_id")
                    )
                    for r in range(_CMS_DEPTH)
                ]
            )
        ).alias("cell"),
    ).select("user_id", F.col("cell.row_id"), F.col("cell.col_id"))
    sketch = cells.groupBy("row_id", "col_id").agg(
        F.count("*").cast("long").alias("c")
    )
    exact = (
        events.groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "user_id")
        .limit(10)
    )
    probes = exact.select(
        "user_id",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row_id"), col_id(r).alias("col_id")
                    )
                    for r in range(_CMS_DEPTH)
                ]
            )
        ).alias("cell"),
    ).select("user_id", "n_exact", F.col("cell.row_id"), F.col("cell.col_id"))
    return (
        probes.join(sketch, ["row_id", "col_id"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("c").cast("long").alias("n_cms"))
    )


# --------------------------------------------------------------------
# Bottom-k quantile sketch: deterministic sample quantiles
# --------------------------------------------------------------------

_BK_K = 128


@query(
    "sketch_bottomk_quantiles",
    f"""
    WITH v AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               {_sql_hash_u32('event_id')} AS h
        FROM events
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY event_type ORDER BY h
        ) AS rn
        FROM v
    ),
    samp AS (SELECT event_type, cents FROM r WHERE rn <= {_BK_K})
    SELECT s.event_type,
           CAST(count(*) AS BIGINT) AS k,
           min(CASE WHEN s.qr = CAST(ceil(s.kn * 0.5) AS BIGINT)
                    THEN s.cents END) AS p50_est,
           min(CASE WHEN s.qr = CAST(ceil(s.kn * 0.9) AS BIGINT)
                    THEN s.cents END) AS p90_est,
           min(e.p50_exact) AS p50_exact,
           min(e.p90_exact) AS p90_exact
    FROM (
        SELECT event_type, cents,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY cents, 1
               ) AS qr,
               count(*) OVER (PARTITION BY event_type) AS kn
        FROM samp
    ) s
    JOIN (
        SELECT event_type,
               CAST(quantile_disc(cents, 0.5) AS BIGINT) AS p50_exact,
               CAST(quantile_disc(cents, 0.9) AS BIGINT) AS p90_exact
        FROM v GROUP BY 1
    ) e ON s.event_type = e.event_type
    GROUP BY s.event_type
    """,
)
def sketch_bottomk_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quantile sketch: a bottom-k-by-md5 sample (the
    mergeable deterministic uniform sample — keep the k rows with the
    smallest key hashes; partials merge by union-then-keep-k exactly
    like KMV) answers p50/p90 per group, reported against the exact
    discrete quantiles for error visibility. Completes the
    deterministic sketch family: KMV (distinct), KMV set ops,
    Count-Min (frequency), bottom-k (quantiles) — every one a pure
    function of md5, so the sketch math itself is value-checked,
    where GK/KLL internals never could be.

    Scale shape: the sample selection is a per-group rank over hashes
    (at scale: TakeOrdered-style bottom-k partials per partition,
    then union-keep-k); everything after runs on groups × k rows."""
    (events,) = tables(spark, sf_dir, "events")
    v = events.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias(
            "cents"
        ),
        hash_u32(F.col("event_id")).alias("h"),
    )
    wr = Window.partitionBy("event_type").orderBy("h")
    samp = (
        v.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _BK_K)
        .select("event_type", "cents")
    )
    wq = Window.partitionBy("event_type").orderBy("cents")
    wk = Window.partitionBy("event_type")
    s = samp.withColumn("qr", F.row_number().over(wq)).withColumn(
        "kn", F.count("*").over(wk)
    )
    exact = v.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
        .cast("long")
        .alias("p50_exact"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)")
        .cast("long")
        .alias("p90_exact"),
    )
    return (
        s.join(exact, "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("k"),
            F.min(
                F.when(
                    F.col("qr")
                    == F.ceil(F.col("kn") * 0.5).cast("long"),
                    F.col("cents"),
                )
            ).alias("p50_est"),
            F.min(
                F.when(
                    F.col("qr")
                    == F.ceil(F.col("kn") * 0.9).cast("long"),
                    F.col("cents"),
                )
            ).alias("p90_est"),
            F.min("p50_exact").alias("p50_exact"),
            F.min("p90_exact").alias("p90_exact"),
        )
    )
