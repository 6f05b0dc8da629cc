"""QMS analytics — the queries the reference warehouse exists to serve.

The reference's sample output (staff_reports.json) defines the
flagship query: per-staff ticket totals, per-day rate stats, service
-duration stats, distinct company lists (SURVEY §2 rows A5-A9, J2-J5,
W2-W3, F10). On the driver fixtures the role mapping (FIXTURES.md §2)
is: orders/lineitem ≈ ticket facts, customer ≈ staff dim,
nation/region ≈ company/room dims, o_custkey ≈ staffId,
o_orderdate ≈ date, min(l_shipdate) per order ≈ servedDate.

Scale notes (100 TB posture):
- facts (orders/lineitem) only ever join dims via broadcast or
  equi-join on their natural keys — no cross joins, no driver
  collects;
- the fact-fact join (lineitem→orders) is an equi-join on the
  bucket-able key ``l_orderkey``/``o_orderkey``; at scale both sides
  would be bucketed on orderkey so the join is shuffle-free;
- two-level aggregations (per-day → per-staff) reduce cardinality at
  each step — partial aggregation map-side, tiny final shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qms_datawarehouse_spark.functions.scalars import duration_m_s, sorted_set_str
from qms_datawarehouse_spark.planaudit import checkpoint_result
from qms_datawarehouse_spark.plans.registry import query, tables
from qms_datawarehouse_spark.session import spread
from qms_datawarehouse_spark.operators.hashsplit import _sql_hash_u32  # noqa: E402

# Shared CTE fragments for the DuckDB oracles -------------------------

_SERVE_CTE = """
    first_ship AS (
        SELECT l_orderkey, min(l_shipdate) AS first_ship
        FROM lineitem GROUP BY l_orderkey
    ),
    o2 AS (
        SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
               greatest(date_diff('second', o.o_orderdate, f.first_ship), 0)
                   AS serve_sec
        FROM orders o JOIN first_ship f ON o.o_orderkey = f.l_orderkey
    )
"""


# --------------------------------------------------------------------
# Flagship: the staff report (staff_reports.json reproduction)
# --------------------------------------------------------------------


def _staff_report_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer, lineitem, supplier, nation = tables(
        spark, sf_dir, "orders", "customer", "lineitem", "supplier", "nation"
    )

    # ONE pass over the big fact: broadcast the two dims into the
    # lineitem scan, then a single groupBy(orderkey) shuffle produces
    # BOTH the servedDate analog (min shipdate) and the per-order
    # company set. (The naive plan scans+shuffles lineitem twice.)
    per_order = (
        lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_orderkey")
        .agg(
            F.min("l_shipdate").alias("first_ship"),
            F.collect_set("n_name").alias("order_companies"),
        )
    )
    o2 = orders.join(per_order, orders.o_orderkey == per_order.l_orderkey).select(
        "o_custkey",
        "o_orderdate",
        F.greatest(
            F.col("first_ship").cast("long") - F.col("o_orderdate").cast("long"),
            F.lit(0),
        ).alias("serve_sec"),
        "order_companies",
    )

    # Strict two-level aggregation TREE (order → day → staff): every
    # A5-A8 statistic re-derives from the day grain, so o2 — and with
    # it the lineitem scan — is consumed exactly ONCE (pinned by
    # tests/test_plans_scale.py). Associative decompositions:
    # total = Σ day counts; avg serve = Σ day sums / Σ day counts
    # (serve_sec is integral → sums are exact, floor() matches the
    # oracle's floor(avg)); min/max nest; company sets union.
    daily = o2.groupBy(
        "o_custkey", F.to_date("o_orderdate").alias("day")
    ).agg(
        F.count("*").alias("n"),
        F.sum("serve_sec").alias("day_serve_sum"),
        F.min("serve_sec").alias("day_serve_min"),
        F.max("serve_sec").alias("day_serve_max"),
        F.array_distinct(F.flatten(F.collect_set("order_companies"))).alias(
            "day_companies"
        ),
    )
    staff = daily.groupBy("o_custkey").agg(
        F.sum("n").alias("total_tickets"),
        # exact bp ÷ 10000.0 == bit-identical doubles cross-engine
        # (round(avg(double),4) is the r1 hash-fail class)
        (
            F.expr("CAST((10000 * sum(n)) div count(*) AS BIGINT)") / 10000.0
        ).alias("avg_tickets_per_day"),
        F.min("n").alias("min_tickets_per_day"),
        F.max("n").alias("max_tickets_per_day"),
        F.floor(F.sum("day_serve_sum") / F.sum("n")).alias("avg_serve_sec"),
        F.min("day_serve_min").alias("min_serve_sec"),
        F.max("day_serve_max").alias("max_serve_sec"),
        F.array_join(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_set("day_companies")))
            ),
            ",",
        ).alias("company_names"),
    )

    return (
        staff
        .join(F.broadcast(customer.select("c_custkey", "c_name")),
              F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_name").alias("staff_name"),
            "company_names",
            "total_tickets",
            "avg_tickets_per_day",
            "min_tickets_per_day",
            "max_tickets_per_day",
            duration_m_s(F.col("avg_serve_sec")).alias("avg_time_to_serve"),
            duration_m_s(F.col("min_serve_sec")).alias("min_time_to_serve"),
            duration_m_s(F.col("max_serve_sec")).alias("max_time_to_serve"),
        )
    )


_STAFF_REPORT_SQL = f"""
WITH {_SERVE_CTE},
daily AS (
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS day, count(*) AS n
    FROM o2 GROUP BY 1, 2
),
day_stats AS (
    SELECT o_custkey,
           CAST((10000 * sum(n)) // count(*) AS BIGINT) / 10000.0
               AS avg_tickets_per_day,
           min(n) AS min_tickets_per_day,
           max(n) AS max_tickets_per_day
    FROM daily GROUP BY 1
),
serve_stats AS (
    SELECT o_custkey,
           count(*) AS total_tickets,
           CAST(floor(avg(serve_sec)) AS BIGINT) AS avg_serve_sec,
           min(serve_sec) AS min_serve_sec,
           max(serve_sec) AS max_serve_sec
    FROM o2 GROUP BY 1
),
companies AS (
    SELECT o.o_custkey,
           array_to_string(list_sort(list(DISTINCT n.n_name)), ',')
               AS company_names
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
)
SELECT c.c_name AS staff_name,
       co.company_names,
       ss.total_tickets,
       ds.avg_tickets_per_day, ds.min_tickets_per_day, ds.max_tickets_per_day,
       CAST(ss.avg_serve_sec // 60 AS VARCHAR) || 'm ' ||
           CAST(ss.avg_serve_sec % 60 AS VARCHAR) || 's' AS avg_time_to_serve,
       CAST(ss.min_serve_sec // 60 AS VARCHAR) || 'm ' ||
           CAST(ss.min_serve_sec % 60 AS VARCHAR) || 's' AS min_time_to_serve,
       CAST(ss.max_serve_sec // 60 AS VARCHAR) || 'm ' ||
           CAST(ss.max_serve_sec % 60 AS VARCHAR) || 's' AS max_time_to_serve
FROM serve_stats ss
JOIN day_stats ds USING (o_custkey)
JOIN companies co USING (o_custkey)
JOIN customer c ON ss.o_custkey = c.c_custkey
"""

staff_report = query("flagship_staff_report", _STAFF_REPORT_SQL)(_staff_report_df)


# --------------------------------------------------------------------
# A5: per-staff ticket totals
# --------------------------------------------------------------------


@query(
    "a5_per_staff_totals",
    """
    SELECT o_custkey AS staff_id, count(*) AS total_tickets,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_value_cents
    FROM orders GROUP BY 1
    """,
)
def per_staff_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (staff_reports.json:3,9): groupBy + count. Map-side partial
    agg then one shuffle on the group key.

    Money as exact int64 cents: ~1.5k output rows × round(sum(double))
    is the r1 hash-fail class (accumulated sums land on half-boundaries
    that Spark's decimal-string HALF_UP and DuckDB's binary round
    resolve differently)."""
    (orders,) = tables(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return orders.groupBy(F.col("o_custkey").alias("staff_id")).agg(
        F.count("*").alias("total_tickets"),
        F.sum(cents).alias("total_value_cents"),
    )


# --------------------------------------------------------------------
# A6: two-level per-day rate stats (standalone)
# --------------------------------------------------------------------


@query(
    "a6_daily_rate_stats",
    """
    WITH daily AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS day, count(*) AS n
        FROM orders GROUP BY 1, 2
    )
    SELECT o_custkey AS staff_id,
           CAST((10000 * sum(n)) // count(*) AS BIGINT) / 10000.0
               AS avg_tickets_per_day,
           min(n) AS min_tickets_per_day,
           max(n) AS max_tickets_per_day,
           count(*) AS active_days
    FROM daily GROUP BY 1
    """,
)
def daily_rate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: tickets per (staff, day) re-aggregated to avg/min/max per
    staff — the daily tumbling window in batch form (T9).

    avg carried as exact int64 basis points divided by 10000.0: both
    engines divide the SAME integer by the same literal, producing
    bit-identical doubles — `round(avg(double), 4)` over ~1.5k rows is
    the r1 cross-engine hash-fail class."""
    (orders,) = tables(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_custkey", F.to_date("o_orderdate").alias("day")
    ).agg(F.count("*").alias("n"))
    return daily.groupBy(F.col("o_custkey").alias("staff_id")).agg(
        (
            F.expr("CAST((10000 * sum(n)) div count(*) AS BIGINT)") / 10000.0
        ).alias("avg_tickets_per_day"),
        F.min("n").alias("min_tickets_per_day"),
        F.max("n").alias("max_tickets_per_day"),
        F.count("*").alias("active_days"),
    )


# --------------------------------------------------------------------
# A7: service-duration stats (standalone, per order priority)
# --------------------------------------------------------------------


@query(
    "a7_service_duration",
    f"""
    WITH {_SERVE_CTE}
    SELECT o.o_orderpriority AS priority,
           count(*) AS n_orders,
           CAST(floor(avg(serve_sec)) AS BIGINT) AS avg_serve_sec,
           min(serve_sec) AS min_serve_sec,
           max(serve_sec) AS max_serve_sec,
           CAST(CAST(floor(avg(serve_sec)) AS BIGINT) // 60 AS VARCHAR)
               || 'm ' ||
               CAST(CAST(floor(avg(serve_sec)) AS BIGINT) % 60 AS VARCHAR)
               || 's' AS avg_time_to_serve
    FROM o2 JOIN orders o USING (o_orderkey)
    GROUP BY 1
    """,
)
def service_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 + F10: stats over servedDate-calledAt analog
    (min(l_shipdate) - o_orderdate), rendered "Xm Ys"."""
    orders, lineitem = tables(spark, sf_dir, "orders", "lineitem")
    first_ship = lineitem.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    o2 = orders.join(first_ship, orders.o_orderkey == first_ship.l_orderkey).select(
        "o_orderpriority",
        F.greatest(
            F.col("first_ship").cast("long") - F.col("o_orderdate").cast("long"),
            F.lit(0),
        ).alias("serve_sec"),
    )
    agg = o2.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("n_orders"),
        F.floor(F.avg("serve_sec")).alias("avg_serve_sec"),
        F.min("serve_sec").alias("min_serve_sec"),
        F.max("serve_sec").alias("max_serve_sec"),
    )
    return agg.withColumn("avg_time_to_serve", duration_m_s(F.col("avg_serve_sec")))


# --------------------------------------------------------------------
# A8: distinct company list per staff
# --------------------------------------------------------------------


@query(
    "a8_company_sets",
    """
    SELECT o.o_custkey AS staff_id,
           array_to_string(list_sort(list(DISTINCT n.n_name)), ',')
               AS company_names,
           count(DISTINCT n.n_name) AS n_companies
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def company_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: collect_set per group, rendered sorted/joined for
    order-insensitive comparison."""
    orders, customer, nation = tables(spark, sf_dir, "orders", "customer", "nation")
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("o_custkey").alias("staff_id"))
        .agg(
            sorted_set_str(F.col("n_name")).alias("company_names"),
            F.countDistinct("n_name").alias("n_companies"),
        )
    )


# --------------------------------------------------------------------
# A9: rating aggregate analog
# --------------------------------------------------------------------


@query(
    "a9_rating_agg",
    """
    SELECT n.n_name AS company_name,
           round(avg(c.c_acctbal), 4) AS avg_stars,
           count(*) AS n_ratings,
           round(min(c.c_acctbal), 2) AS min_stars,
           round(max(c.c_acctbal), 2) AS max_stars
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def rating_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (scripts/seed_mock.py:47-58): the rating entity exists to be
    aggregated — avg/count per company dim."""
    customer, nation = tables(spark, sf_dir, "customer", "nation")
    return (
        customer.join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy(F.col("n_name").alias("company_name"))
        .agg(
            F.round(F.avg("c_acctbal"), 4).alias("avg_stars"),
            F.count("*").alias("n_ratings"),
            F.round(F.min("c_acctbal"), 2).alias("min_stars"),
            F.round(F.max("c_acctbal"), 2).alias("max_stars"),
        )
    )


# --------------------------------------------------------------------
# W2: sort desc + LIMIT (audit-log style top-N)
# --------------------------------------------------------------------


@query(
    "w2_recent_topn",
    """
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type
    FROM events
    ORDER BY ts DESC, event_id DESC
    LIMIT 100
    """,
)
def recent_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 (routes.py:120-121): ORDER BY ts DESC LIMIT n. Spark plans
    TakeOrderedAndProject — a distributed top-K, not a global sort.
    Tie-broken by event_id for determinism."""
    (events,) = tables(spark, sf_dir, "events")
    return (
        events.orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(100)
        .select(
            "event_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "user_id",
            "event_type",
        )
    )


# --------------------------------------------------------------------
# W3: per-queue sequential number
# --------------------------------------------------------------------


@query(
    "w3_sequential_number",
    """
    SELECT event_id,
           user_id,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS sequential_number
    FROM events
    """,
)
def sequential_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 (scripts/seed_mock.py:29): per-queue ordinal assignment —
    row_number over (queue, arrival order). One shuffle on the
    partition key; within-partition sort."""
    (events,) = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id", "user_id", F.row_number().over(w).alias("sequential_number")
    )


# --------------------------------------------------------------------
# A1 + A2: high-water mark + counts
# --------------------------------------------------------------------


@query(
    "a1_high_water_mark",
    """
    SELECT epoch_us(max(ts)) AS hwm_us, count(*) AS n_rows,
           count(DISTINCT user_id) AS n_users
    FROM events
    """,
)
def high_water_mark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 (etl.py:228-233): running max of the cursor column +
    row counts — ungrouped aggregate, map-side partials."""
    (events,) = tables(spark, sf_dir, "events")
    return events.agg(
        F.unix_micros(F.max("ts")).alias("hwm_us"),
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --------------------------------------------------------------------
# S1/P1: incremental delta scan
# --------------------------------------------------------------------


@query(
    "s1_incremental_scan",
    """
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
           round(CAST(value AS DOUBLE), 6) AS value
    FROM events
    WHERE ts > TIMESTAMP '2024-01-25 00:00:00'
    """,
)
def incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P1 (etl.py:207-214): strict-$gt delta predicate, applied on
    the raw cursor column so it reaches the parquet scan as a
    PushedFilter (row-group skipping) — the Spark analog of evaluating
    $gt inside MongoDB."""
    from qms_datawarehouse_spark.plans.registry import events_delta

    events = events_delta(spark, sf_dir, ts_gt="2024-01-25 00:00:00")
    return events.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        # FLOAT32 → double explicitly on both sides: keeps the rounded
        # value AND the output dtype identical cross-engine
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


# --------------------------------------------------------------------
# D1: keyed dedup, last-write-wins
# --------------------------------------------------------------------


@query(
    "d1_dedup_last_write",
    """
    SELECT user_id, event_id AS last_event_id, epoch_us(ts) AS ts_us
    FROM (
        SELECT user_id, event_id, ts,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def dedup_last_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 (etl.py:68-75): re-synced rows collapse onto the key,
    last-write-wins — the merge's in-batch dedup as a standalone
    query. Deterministic tie-break on event_id."""
    (events,) = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.unix_micros(F.col("ts")).alias("ts_us"),
        )
    )


# --------------------------------------------------------------------
# D3: keyed union of heterogeneous sources
# --------------------------------------------------------------------


@query(
    "d3_union_by_name",
    """
    SELECT id, name, kind, round(acctbal, 2) AS acctbal FROM (
        SELECT c_custkey AS id, c_name AS name, 'customer' AS kind,
               c_acctbal AS acctbal
        FROM customer
        UNION ALL
        SELECT s_suppkey AS id, s_name AS name, 'supplier' AS kind,
               s_acctbal AS acctbal
        FROM supplier
    )
    """,
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: multi-source fan-in as a keyed union (src/main.py:36-43 is
    semantically this) — unionByName over differently-shaped
    entities."""
    customer, supplier = tables(spark, sf_dir, "customer", "supplier")
    c = customer.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.lit("customer").alias("kind"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    s = supplier.select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.lit("supplier").alias("kind"),
        F.round("s_acctbal", 2).alias("acctbal"),
    )
    return c.unionByName(s)


# --------------------------------------------------------------------
# F-suite: scalar functions over part (F1-F8, F10)
# --------------------------------------------------------------------


@query(
    "f_scalar_suite",
    """
    SELECT CAST(p_partkey AS VARCHAR) AS id_str,
           upper(p_brand) AS brand_upper,
           substr(p_name, 1, 10) AS name_prefix,
           len(string_split(p_name, ' ')) AS name_words,
           (CAST(round(p_retailprice * 100) AS BIGINT) * 11) // 10
               AS price_taxed_cents,
           CAST(floor(p_retailprice // 100) AS BIGINT) AS price_bucket,
           p_size % 7 AS size_mod,
           concat(p_brand, ':', p_type) AS brand_type
    FROM part
    """,
)
def scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2 (id→string cast), F8 (split), plus string/math scalars —
    all JVM-side built-ins, whole-stage-codegen'd."""
    (part,) = tables(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").cast("string").alias("id_str"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 10).alias("name_prefix"),
        F.size(F.split("p_name", " ", -1)).cast("long").alias("name_words"),
        # ×1.1 as exact cents×11÷10: a 2-decimal price with odd cents
        # ×1.1 lands EXACTLY on a third-decimal half-boundary, where
        # Spark's HALF_UP and DuckDB's binary rounding diverge
        F.expr(
            "(CAST(round(p_retailprice * 100) AS BIGINT) * 11) div 10"
        ).alias("price_taxed_cents"),
        F.floor(F.floor(F.col("p_retailprice") / 100)).alias("price_bucket"),
        (F.col("p_size") % 7).alias("size_mod"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
    )


# --------------------------------------------------------------------
# F3: JSON extraction from flattened nested columns
# --------------------------------------------------------------------


@query(
    "f3_json_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 (transform.py:33-42): nested values live as JSON strings in
    the warehouse; analytic queries re-project fields with JSON path
    expressions."""
    (events,) = tables(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


# --------------------------------------------------------------------
# F7: ISO-8601 date formatting
# --------------------------------------------------------------------


@query(
    "f7_iso_format",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS order_iso,
           CAST(o_orderdate AS DATE) AS order_date,
           year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month
    FROM orders
    """,
)
def iso_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F7 (transform.py:16-17): UTC timestamps rendered ISO-8601;
    date-part extraction."""
    (orders,) = tables(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").alias("order_iso"),
        F.to_date("o_orderdate").alias("order_date"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
    )


# --------------------------------------------------------------------
# A2-A4: row counts (sync/progress/verification counters)
# --------------------------------------------------------------------


@query(
    "a2_row_counts",
    """
    SELECT 'orders' AS tbl, count(*) AS n FROM orders
    UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    UNION ALL SELECT 'customer', count(*) FROM customer
    UNION ALL SELECT 'events', count(*) FROM events
    UNION ALL SELECT 'documents', count(*) FROM documents
    """,
)
def row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2-A4 (etl.py:217,239; dump.py:48-58,227): the count family —
    records-synced, pre-scan progress totals, post-load verification —
    as one multi-table count. Parquet count() reads footer metadata,
    not data."""
    out = None
    for name in ("orders", "lineitem", "customer", "events", "documents"):
        (t,) = tables(spark, sf_dir, name)
        part = t.agg(F.count("*").alias("n")).select(
            F.lit(name).alias("tbl"), "n"
        )
        out = part if out is None else out.unionByName(part)
    return out


# --------------------------------------------------------------------
# User-activity report: the staff report's shape on the event domain
# --------------------------------------------------------------------


@query(
    "user_activity_report",
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               count(*) AS n,
               sum(CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT))
                   AS day_cents,
               count(DISTINCT event_type) AS day_types
        FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(sum(n) AS BIGINT) AS total_events,
           CAST((10000 * sum(n)) // count(*) AS BIGINT) / 10000.0
               AS avg_events_per_day,
           min(n) AS min_events_per_day,
           max(n) AS max_events_per_day,
           CAST(sum(day_cents) AS BIGINT) AS total_cents,
           CAST(sum(day_cents) // sum(n) AS BIGINT) AS avg_cents,
           max(day_types) AS max_daily_types
    FROM daily GROUP BY 1
    """,
)
def user_activity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship's two-level aggregation shape on the EVENT domain
    (per-user daily rates + value stats) — proof the staff-report
    pattern generalizes beyond the order fixtures. Same determinism
    discipline: monetary partials in exact integer cents, avg via
    int64 floor division."""
    (events,) = tables(spark, sf_dir, "events")
    # double-cast BEFORE ×100: `value` is FLOAT32 and the implicit
    # promotion differs per engine (Spark widens, DuckDB stays single)
    cents = F.round(F.col("value").cast("double") * 100).cast("long")
    daily = events.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("day_cents"),
        F.countDistinct("event_type").alias("day_types"),
    )
    return (
        daily.groupBy("user_id")
        .agg(
            F.sum("n").alias("total_events"),
            (
                F.expr("CAST((10000 * sum(n)) div count(*) AS BIGINT)") / 10000.0
            ).alias("avg_events_per_day"),
            F.min("n").alias("min_events_per_day"),
            F.max("n").alias("max_events_per_day"),
            F.sum("day_cents").alias("total_cents"),
            F.expr("sum(day_cents) div sum(n)").alias("avg_cents"),
            F.max("day_types").alias("max_daily_types"),
        )
    )


# --------------------------------------------------------------------
# F-suite 2: broad scalar built-in coverage (string / date / math)
# --------------------------------------------------------------------


@query(
    "f_scalar_suite2",
    """
    SELECT o_orderkey,
           upper(o_orderstatus) AS status_upper,
           lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS key_padded,
           reverse(o_orderpriority) AS prio_rev,
           replace(o_orderpriority, '-', '_') AS prio_snake,
           substr(o_orderpriority, 1, 1) AS prio_code,
           length(o_orderpriority) AS prio_len,
           concat_ws('|', o_orderstatus, o_orderpriority) AS status_prio,
           CAST(floor(abs(o_totalprice - 150000)) AS BIGINT) AS dist_from_150k,
           CAST(sign(o_totalprice - 150000) AS BIGINT) AS above_150k,
           mod(o_orderkey, 7) AS key_mod7,
           year(o_orderdate) AS y,
           month(o_orderdate) AS m,
           day(o_orderdate) AS d,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(last_day(o_orderdate) AS DATE) AS month_end,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
               AS days_since_1995
    FROM orders
    WHERE o_custkey <= 100
    """,
)
def scalar_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broad scalar built-in coverage beyond the reference's own F1-F11
    (a warehouse user's day-to-day function surface): string case /
    pad / reverse / replace / substr / concat, integer math, date
    part extraction, truncation, month boundaries, interval
    arithmetic, day differences — all JVM built-ins, all matched
    against DuckDB's implementations."""
    (orders,) = tables(spark, sf_dir, "orders")
    return orders.filter(F.col("o_custkey") <= 100).select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_upper"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("key_padded"),
        F.reverse("o_orderpriority").alias("prio_rev"),
        F.replace(
            F.col("o_orderpriority"), F.lit("-"), F.lit("_")
        ).alias("prio_snake"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
        F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.floor(F.abs(F.col("o_totalprice") - 150000)).alias("dist_from_150k"),
        F.signum(F.col("o_totalprice") - 150000).cast("long").alias("above_150k"),
        (F.col("o_orderkey") % 7).alias("key_mod7"),
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofmonth("o_orderdate").cast("long").alias("d"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.last_day("o_orderdate").alias("month_end"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).cast("date").alias(
            "due_date"
        ),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).cast("long").alias("days_since_1995"),
    )


# --------------------------------------------------------------------
# Funnel analysis: strict-order conversion over the event stream
# --------------------------------------------------------------------


@query(
    "funnel_view_click_purchase",
    """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY 1
    )
    SELECT s1.user_id,
           epoch_us(s1.t1) AS t_view_us,
           epoch_us(s2.t2) AS t_click_us,
           epoch_us(s3.t3) AS t_purchase_us,
           1 + CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END
             + CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END AS funnel_depth
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-event funnel: first view, first click strictly AFTER
    that view, first purchase strictly after that click — the standard
    product-analytics conversion query (no reference counterpart; the
    reference's event log stops at sessionization, SURVEY §2.8 T9).

    Scale shape: each stage is filter → groupBy(user_id) → min, then a
    user_id equi-join into the next stage — every exchange hashes the
    SAME key, so AQE/co-partitioning reuses the layout, and the
    per-stage state is one row per qualifying user (bounded by the
    user dimension, not the event count). No windows over the full
    event stream, no per-user event collection."""
    (events,) = tables(spark, sf_dir, "events")

    def stage(evt_type, prev, prev_t, out_t):
        s = events.filter(F.col("event_type") == evt_type)
        if prev is not None:
            s = s.join(prev, "user_id").filter(F.col("ts") > F.col(prev_t))
        return s.groupBy("user_id").agg(F.min("ts").alias(out_t))

    s1 = stage("view", None, None, "t1")
    s2 = stage("click", s1, "t1", "t2")
    s3 = stage("purchase", s2, "t2", "t3")
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            F.unix_micros("t1").alias("t_view_us"),
            F.unix_micros("t2").alias("t_click_us"),
            F.unix_micros("t3").alias("t_purchase_us"),
            (
                F.lit(1)
                + F.col("t2").isNotNull().cast("int")
                + F.col("t3").isNotNull().cast("int")
            ).cast("long").alias("funnel_depth"),
        )
    )


# --------------------------------------------------------------------
# Cohort retention: weekly first-seen cohorts x activity-week offset
# --------------------------------------------------------------------


@query(
    "cohort_retention_weekly",
    """
    WITH first_seen AS (
        SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1
    ),
    activity AS (
        SELECT DISTINCT e.user_id,
               CAST(date_trunc('week', CAST(f.first_ts AS DATE)) AS DATE)
                   AS cohort_week,
               datediff('day', CAST(f.first_ts AS DATE), CAST(e.ts AS DATE))
                   // 7 AS week_offset
        FROM events e JOIN first_seen f USING (user_id)
    )
    SELECT cohort_week, week_offset, count(*) AS active_users
    FROM activity GROUP BY 1, 2
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen ISO week, counted
    once per later activity-week offset — the companion staple to the
    funnel (no reference counterpart). Scale shape: first-seen is one
    groupBy(user_id) min; the join back hashes the same key; the
    DISTINCT collapses per-user-week before the small final aggregate,
    so state is O(users x active weeks), never O(events)."""
    (events,) = tables(spark, sf_dir, "events")
    first = events.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    activity = (
        events.join(first, "user_id")
        .select(
            "user_id",
            F.date_trunc("week", F.col("first_ts").cast("date"))
            .cast("date")
            .alias("cohort_week"),
            F.expr(
                "datediff(cast(ts as date), cast(first_ts as date)) div 7"
            ).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("active_users")
    )


# --------------------------------------------------------------------
# Growth accounting: daily new users + cumulative acquired
# --------------------------------------------------------------------


@query(
    "growth_daily_users",
    """
    WITH first_seen AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY 1
    ),
    daily AS (
        SELECT first_day AS day, count(*) AS new_users
        FROM first_seen GROUP BY 1
    ),
    active AS (
        SELECT CAST(ts AS DATE) AS day, count(DISTINCT user_id) AS dau
        FROM events GROUP BY 1
    )
    SELECT a.day, a.dau,
           coalesce(d.new_users, 0) AS new_users,
           CAST(sum(coalesce(d.new_users, 0))
                OVER (ORDER BY a.day) AS BIGINT) AS cumulative_users
    FROM active a LEFT JOIN daily d ON a.day = d.day
    """,
)
def growth_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per-day active users, newly-acquired users
    (first-ever event that day), and the running cumulative total —
    the DAU/acquisition staple next to cohort retention. Scale shape:
    first-seen is one groupBy(user_id); both daily rollups are
    O(days) rows, so the ordered window over days is a single tiny
    partition by construction (days, not events) — the full event
    stream is never windowed."""
    (events,) = tables(spark, sf_dir, "events")
    first = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily = first.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    active = events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        active.join(daily, "day", "left")
        .select(
            "day",
            "dau",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
        )
        .withColumn("cumulative_users", F.sum("new_users").over(w))
    )


# --------------------------------------------------------------------
# Robust outliers: median/MAD with exact integer arithmetic
# --------------------------------------------------------------------


@query(
    "robust_outliers_mad",
    """
    WITH v AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    med AS (
        SELECT event_type,
               CAST(2 * quantile_cont(cents, 0.5) AS BIGINT) AS med2
        FROM v GROUP BY 1
    ),
    dev AS (
        SELECT v.event_type, abs(2 * v.cents - m.med2) AS dev2
        FROM v JOIN med m ON v.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type,
               CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
        FROM dev GROUP BY 1
    )
    SELECT d.event_type, m.med2, a.mad4,
           count(*) AS n,
           CAST(sum(CASE WHEN 4 * d.dev2 > 7 * a.mad4
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d
    JOIN med m ON d.event_type = m.event_type
    JOIN mad a ON d.event_type = a.event_type
    GROUP BY 1, 2, 3
    """,
)
def robust_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts per event_type: |x − median| > 3.5 × MAD.

    Mean/stddev outlier rules break under the very outliers they hunt;
    median/MAD is the robust standard. Exactness across engines: with
    values as integer cents, 2×median and 2×MAD-of-2×deviations are
    exact BIGINTs (the interpolated middle of an even count is at
    worst a .5), so the 3.5× threshold compares integers — the
    float-boundary hash-fail class never appears.

    Scale shape: two groupBy(event_type) percentile passes and a join
    back — exact percentiles shuffle whole groups, the documented
    trade (SCALING.md: 'Exact quantiles → sketches'); swap
    quantile_cont for approx_percentile at 100 TB when cross-engine
    exactness stops being the gate."""
    (events,) = tables(spark, sf_dir, "events")
    v = events.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    med = v.groupBy("event_type").agg(
        F.expr("cast(2 * percentile(cents, 0.5) as bigint)").alias("med2")
    )
    dev = v.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(2 * F.col("cents") - F.col("med2")).alias("dev2"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("cast(2 * percentile(dev2, 0.5) as bigint)").alias("mad4")
    )
    return (
        dev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med2", "mad4")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (4 * F.col("dev2") > 7 * F.col("mad4")).cast("int")
            ).cast("long").alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------
# Last-touch attribution: credit each purchase to the latest prior
# non-purchase touchpoint
# --------------------------------------------------------------------


@query(
    "attribution_last_touch",
    """
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type <> 'purchase' THEN event_type END
                   AS touch_type,
               CASE WHEN event_type <> 'purchase' THEN event_id END
                   AS touch_id
        FROM events
    ),
    carried AS (
        SELECT user_id, ts, event_id, event_type,
               last_value(touch_type IGNORE NULLS) OVER w AS last_touch_type,
               last_value(touch_id IGNORE NULLS) OVER w AS last_touch_id
        FROM marked
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        )
    )
    SELECT coalesce(last_touch_type, '(none)') AS channel,
           count(*) AS purchases,
           count(DISTINCT user_id) AS buyers
    FROM carried
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent STRICTLY PRIOR non-purchase event (the frame excludes
    the current row, so back-to-back purchases don't self-attribute) —
    the standard marketing-attribution rollup (no reference
    counterpart; event_type stands in for the channel dimension).

    Scale shape: one hash exchange on user_id for the carry-forward
    window (last_value IGNORE NULLS — the same LOCF kernel as the
    as-of join), then a tiny groupBy(channel). Tie-broken by event_id
    so equal-timestamp runs attribute identically in both engines."""
    (events,) = tables(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias(
            "touch_type"
        ),
    )
    carried = marked.withColumn(
        "last_touch_type", F.last("touch_type", ignorenulls=True).over(w)
    )
    return (
        carried.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce("last_touch_type", F.lit("(none)")).alias("channel")
        )
        .agg(
            F.count("*").alias("purchases"),
            F.countDistinct("user_id").alias("buyers"),
        )
    )


# --------------------------------------------------------------------
# Market basket: event-type co-occurrence with exact-integer lift
# --------------------------------------------------------------------


@query(
    "basket_type_lift",
    """
    WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    n AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
    single AS (
        SELECT event_type, count(*) AS n_t FROM ut GROUP BY 1
    ),
    pair AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS n_ab
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_ab,
           (10000 * p.n_ab) // sa.n_t AS conf_a_to_b_bp,
           (10000 * p.n_ab * (SELECT n_users FROM n))
               // (sa.n_t * sb.n_t) AS lift_bp
    FROM pair p
    JOIN single sa ON p.type_a = sa.event_type
    JOIN single sb ON p.type_b = sb.event_type
    """,
)
def basket_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence over event types: support, confidence
    and lift per unordered type pair, in exact integer basis points
    (lift = P(a∧b)/(P(a)P(b)) → 10000·n_ab·N // (n_a·n_b)).

    Scale shape: the DISTINCT (user, type) projection collapses the
    event stream to ≤ |users| × |types| rows FIRST; the pair self-join
    then costs Σ_user C(types_u, 2) ≤ C(|types|,2) per user — bounded
    by the tiny type dimension, never events². Aggregates and the
    single-row N broadcast keep everything one user_id exchange."""
    (events,) = tables(spark, sf_dir, "events")
    ut = events.select("user_id", "event_type").distinct()
    n = ut.agg(F.countDistinct("user_id").alias("n_users"))
    single = ut.groupBy("event_type").agg(F.count("*").alias("n_t"))
    a, b = ut.alias("a"), ut.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    sa = single.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a")
    )
    sb = single.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b")
    )
    return (
        pair.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            # decimal products (round-13 overflow audit): 10⁴·n_ab·N
            # and n_a·n_b are O(n²) — long overflow past ~3e9 rows
            # under ANSI; the bp quotients stay tiny, so div's long
            # result is safe. DuckDB's HUGEINT does the same exactly.
            F.expr(
                "(CAST(10000 AS DECIMAL(38,0)) * n_ab) div n_a"
            ).alias("conf_a_to_b_bp"),
            F.expr(
                "(CAST(10000 AS DECIMAL(38,0)) * n_ab * n_users)"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
            ).alias("lift_bp"),
        )
    )


# --------------------------------------------------------------------
# Ratio-to-report + year-over-year growth (BI staples)
# --------------------------------------------------------------------


@query(
    "revenue_share_by_nation",
    """
    WITH rev AS (
        SELECT n.n_name AS nation,
               CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1
    )
    SELECT nation, revenue_cents,
           CAST((10000 * revenue_cents)
                // CAST(sum(revenue_cents) OVER () AS BIGINT)
                AS BIGINT) AS share_bp
    FROM rev
    """,
)
def revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of total revenue in basis
    points — the percent-of-total window staple. The unpartitioned
    window runs over O(nations) aggregate rows (the heavy reduction
    happened in the groupBy), so the single-partition window is
    bounded by the dimension, never the fact. Integer cents keep the
    shares exact."""
    orders, customer, nation = tables(
        spark, sf_dir, "orders", "customer", "nation"
    )
    rev = (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
            ).alias("revenue_cents")
        )
    )
    w = Window.partitionBy()
    return rev.select(
        "nation",
        "revenue_cents",
        # decimal ×10⁴ (round-13 overflow audit): total-corpus cents
        # run ~1e16 at 100 TB — ×10000 exceeds int64 and ANSI aborts;
        # DuckDB auto-promotes. The bp quotient stays tiny (div→long).
        F.expr(
            "CAST(revenue_cents AS DECIMAL(38,0)) * 10000"
        ).alias("_num"),
        F.sum("revenue_cents").over(w).alias("_den"),
    ).select(
        "nation",
        "revenue_cents",
        F.expr("_num div _den").alias("share_bp"),
    )


@query(
    "revenue_yoy_growth",
    """
    WITH yearly AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders GROUP BY 1
    )
    SELECT yr, revenue_cents,
           lag(revenue_cents) OVER (ORDER BY yr) AS prev_cents,
           CAST(CASE WHEN lag(revenue_cents) OVER (ORDER BY yr) IS NULL
                     THEN NULL
                ELSE ((revenue_cents - lag(revenue_cents) OVER (ORDER BY yr))
                      * 10000) // lag(revenue_cents) OVER (ORDER BY yr)
           END AS BIGINT) AS yoy_growth_bp
    FROM yearly
    """,
)
def revenue_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth in basis points via lag() over the
    O(years) yearly rollup — the trend staple. Window input is bounded
    by the calendar, not the fact table; growth is exact integer
    arithmetic on cents."""
    (orders,) = tables(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
        ).alias("revenue_cents")
    )
    w = Window.orderBy("yr")
    prev = F.lag("revenue_cents").over(w)
    return yearly.select(
        "yr",
        "revenue_cents",
        prev.alias("prev_cents"),
        F.when(
            prev.isNull(), F.lit(None).cast("long")
        ).otherwise(
            # decimal ×10⁴ — same int64 headroom argument as
            # revenue_share_by_nation (yearly cents ~1e16 at 100 TB)
            F.expr(
                "(CAST(revenue_cents - lag(revenue_cents)"
                " over (order by yr) AS DECIMAL(38,0))"
                " * 10000) div lag(revenue_cents) over (order by yr)"
            )
        ).alias("yoy_growth_bp"),
    )


# --------------------------------------------------------------------
# Fixed-width histogram (width_bucket-style binning)
# --------------------------------------------------------------------


@query(
    "histogram_order_value",
    """
    WITH v AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ),
    b AS (
        SELECT cents // 2500000 AS bucket, CAST(count(*) AS BIGINT) AS n
        FROM v GROUP BY 1
    )
    SELECT bucket, bucket * 25000 AS lo_dollars, n,
           CAST(n * 10000 // sum(n) OVER () AS BIGINT) AS pct_bp
    FROM b
    """,
)
def histogram_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-distribution histogram of order totals in fixed $25k
    buckets with exact basis-point shares — the width_bucket binning
    every BI layer puts behind a bar chart (reference analog: rate
    distribution over ticket stats, routes.py report family).

    Scale shape: the bucket id is computed map-side (one integer
    division on the scanned column), so the only exchange carries
    O(buckets) partial counts; the share window runs over that tiny
    aggregate. Bucket edges are integer cents — no float binning
    drift between engines."""
    (orders,) = tables(spark, sf_dir, "orders")
    b = (
        orders.select(
            (
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                / F.lit(2500000)
            ).cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )
    return b.select(
        "bucket",
        (F.col("bucket") * 25000).alias("lo_dollars"),
        "n",
        F.expr("CAST(n * 10000 div sum(n) over () AS BIGINT)").alias(
            "pct_bp"
        ),
    )


# --------------------------------------------------------------------
# RFM customer segmentation
# --------------------------------------------------------------------


@query(
    "rfm_segments",
    """
    WITH m AS (SELECT max(o_orderdate) AS maxd FROM orders),
    c AS (
        SELECT o_custkey,
               date_diff('day', max(o_orderdate), (SELECT maxd FROM m))
                   AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
                    AS BIGINT) AS monetary_cents
        FROM orders GROUP BY 1
    ),
    q AS (
        SELECT *,
            ntile(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r_q,
            ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_q,
            ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_q
        FROM c
    )
    SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS n_customers
    FROM q GROUP BY 1, 2, 3
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quintile every customer by recency (days
    since last order, vs the corpus max date), frequency (order
    count), and monetary value (exact cents), then count customers per
    (R,F,M) cell — the marketing-analytics staple. Ties break on
    o_custkey, giving ntile a total order, so both engines assign
    identical quintiles (standard SQL ntile: first n%5 buckets take
    the extra row).

    Scale shape — NAMED DECISION (docs/SCALING.md "Global-window
    policy"): orders reduce to one row per customer FIRST (the
    ~1000x cardinality drop), and the global ntile runs over that
    customer-grain aggregate. The single-task sort is retained ON
    PURPOSE: exactness is this row's point (stable, reproducible
    segment labels), and the input is the reduced grain, not the
    fact table — it carries a rationale entry in the
    no-global-window plan sweep's allowlist. At a customer grain too
    large for one task, swap ntile for precomputed approx-quantile
    boundaries (one pass + broadcast the 4 cut points + map-side
    CASE) and accept boundary fuzz — same downstream schema."""
    (orders,) = tables(spark, sf_dir, "orders")
    m = orders.agg(F.max("o_orderdate").alias("maxd"))
    c = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("lastd"),
            F.count("*").cast("long").alias("frequency"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).cast("long").alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(m))
        .select(
            "o_custkey",
            F.datediff("maxd", "lastd").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    q = c.select(
        "o_custkey",
        F.ntile(5)
        .over(Window.orderBy(F.asc("recency_days"), F.asc("o_custkey")))
        .alias("r_q"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("frequency"), F.asc("o_custkey")))
        .alias("f_q"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monetary_cents"), F.asc("o_custkey")))
        .alias("m_q"),
    )
    return q.groupBy("r_q", "f_q", "m_q").agg(
        F.count("*").cast("long").alias("n_customers")
    )


# --------------------------------------------------------------------
# RFM, the 100 TB plan: histogram-threshold quintiles (no global sort)
# --------------------------------------------------------------------

# monetary quantization for the bounded histogram: $1000 buckets keep
# the domain at O(max_order_value / 1000) rows regardless of customer
# count — the deliberate approximation this sibling trades for losing
# the single-task ntile sort
_RFM_MONEY_BUCKET = 100_000  # cents


def _rfm_quintile_threshold_sql(metric: str, src: str) -> str:
    """DuckDB CTE chain: bounded histogram of ascending metric
    ``metric`` over ``src`` → cumulative counts → the four quintile
    cut values (min v with 5*cum >= i*N — the all-integer form of
    cum >= ceil(i*N/5))."""
    return f"""
    h_{metric} AS (SELECT {metric} AS v, count(*) AS cnt FROM {src} GROUP BY 1),
    c_{metric} AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM h_{metric}),
    t_{metric} AS (
        SELECT max(CASE WHEN i = 1 THEN t END) AS t1,
               max(CASE WHEN i = 2 THEN t END) AS t2,
               max(CASE WHEN i = 3 THEN t END) AS t3,
               max(CASE WHEN i = 4 THEN t END) AS t4
        FROM (
            SELECT i, min(v) AS t
            FROM c_{metric} CROSS JOIN range(1, 5) s(i) CROSS JOIN nn
            WHERE 5 * cum >= i * n
            GROUP BY 1
        )
    )"""


_RFM_APPROX_SQL = f"""
    WITH mx AS (SELECT max(o_orderdate) AS maxd FROM orders),
    c AS (
        SELECT o_custkey,
               date_diff('day', max(o_orderdate), any_value(maxd))
                   AS recency_days,
               count(*) AS frequency,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS monetary_cents
        FROM orders CROSS JOIN mx
        GROUP BY 1
    ),
    a AS (
        SELECT o_custkey,
               recency_days AS ar,
               -frequency AS af,
               -(monetary_cents // {_RFM_MONEY_BUCKET}) AS am
        FROM c
    ),
    nn AS (SELECT count(*) AS n FROM a),
    {_rfm_quintile_threshold_sql("ar", "a")},
    {_rfm_quintile_threshold_sql("af", "a")},
    {_rfm_quintile_threshold_sql("am", "a")}
    SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS n_customers
    FROM (
        SELECT CAST(1 + (ar > t_ar.t1)::INT + (ar > t_ar.t2)::INT
                      + (ar > t_ar.t3)::INT + (ar > t_ar.t4)::INT
               AS BIGINT) AS r_q,
               CAST(1 + (af > t_af.t1)::INT + (af > t_af.t2)::INT
                      + (af > t_af.t3)::INT + (af > t_af.t4)::INT
               AS BIGINT) AS f_q,
               CAST(1 + (am > t_am.t1)::INT + (am > t_am.t2)::INT
                      + (am > t_am.t3)::INT + (am > t_am.t4)::INT
               AS BIGINT) AS m_q
        FROM a CROSS JOIN t_ar CROSS JOIN t_af CROSS JOIN t_am
    )
    GROUP BY 1, 2, 3
"""


def _rfm_thresholds(a: DataFrame, col: str, n: DataFrame) -> DataFrame:
    """One-row (t1..t4) quintile-threshold frame for ascending metric
    ``col``: bounded histogram → cumulative window (over the DOMAIN,
    not the customers) → min cut value per quintile index — the
    corpus_curation two-pass recipe applied to ranking."""
    hist = a.groupBy(col).agg(F.count("*").alias("cnt"))
    wcum = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        F.col(col).alias("v"), F.sum("cnt").over(wcum).alias("cum")
    )
    cuts = (
        cum.crossJoin(F.broadcast(n))
        .select(
            "v",
            "cum",
            "n",
            F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias(
                "i"
            ),
        )
        .filter(F.col("cum") * 5 >= F.col("i") * F.col("n"))
        .groupBy("i")
        .agg(F.min("v").alias("t"))
    )
    return cuts.agg(
        *[
            F.max(F.when(F.col("i") == i, F.col("t"))).alias(f"t{i}")
            for i in (1, 2, 3, 4)
        ]
    )


@query("rfm_segments_approx", _RFM_APPROX_SQL)
def rfm_segments_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rfm_segments``' 100 TB plan, registered: quintile THRESHOLDS
    from bounded histograms (recency: O(days) domain; frequency:
    O(max order count); monetary: $1000 buckets — the named
    approximation), broadcast back as four cut values per metric, and
    a map-side CASE assigns segments. No global sort anywhere: the
    only windows run over the bounded metric DOMAINS (the
    corpus_curation two-pass recipe applied to ranking), and the
    customer frame is touched by one aggregation plus one broadcast
    join. Deterministic — both engines compute identical integer
    thresholds, so this "approx" variant is still hash-checked.

    vs the exact sibling: ntile guarantees equal-size buckets (ties
    split by customer id); thresholds put all ties in one bucket, so
    bucket sizes wobble by the tie mass at each cut — the standard
    trade of every quantile-sketch segmentation at scale
    (docs/SCALING.md "Global-window policy" documents the decision
    pair)."""
    (orders,) = tables(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("maxd"))
    c = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("lastd"),
            F.count("*").cast("long").alias("frequency"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).cast("long").alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(mx))
    )
    a = c.select(
        "o_custkey",
        F.datediff("maxd", "lastd").cast("long").alias("ar"),
        (-F.col("frequency")).cast("long").alias("af"),
        F.expr(f"-(monetary_cents div {_RFM_MONEY_BUCKET})")
        .cast("long")
        .alias("am"),
    ).persist()
    n = a.agg(F.count("*").alias("n"))
    q = a
    for metric in ("ar", "af", "am"):
        thr = _rfm_thresholds(a, metric, n).select(
            *[F.col(f"t{i}").alias(f"{metric}_t{i}") for i in (1, 2, 3, 4)]
        )
        q = q.crossJoin(F.broadcast(thr))
    seg = q.select(
        *[
            (
                F.lit(1)
                + sum(
                    (F.col(metric) > F.col(f"{metric}_t{i}")).cast("int")
                    for i in (1, 2, 3, 4)
                )
            )
            .cast("long")
            .alias(alias)
            for metric, alias in (("ar", "r_q"), ("af", "f_q"), ("am", "m_q"))
        ]
    )
    out = seg.groupBy("r_q", "f_q", "m_q").agg(
        F.count("*").cast("long").alias("n_customers")
    )
    return checkpoint_result("rfm_segments_approx", out, a)


# --------------------------------------------------------------------
# Sufficient statistics (distributed moments)
# --------------------------------------------------------------------


@query(
    "stats_sufficient_moments",
    """
    WITH v AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
               CAST(hour(ts) AS BIGINT) AS y
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(x*x) AS BIGINT) AS sxx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(y*y) AS BIGINT) AS syy,
           CAST(sum(x*y) AS BIGINT) AS sxy
    FROM v GROUP BY 1
    """,
)
def stats_sufficient_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type sufficient statistics (n, Σx, Σx², Σy, Σy², Σxy)
    for value-vs-hour-of-day — the mergeable moment vectors from which
    mean/variance/covariance/correlation/OLS all derive. This is how
    distributed ML preprocessing actually computes second-order stats:
    one pass emitting associative integer partials, merged anywhere,
    finished driver- or SQL-side (Welford/bulk formulas).

    Determinism: x is exact cents, y exact hours — every sum is a
    bigint, so the partials hash identically across engines (a float
    corr() would ulp-diverge; deriving it FROM these bigints is exact
    until the final division, which the consumer owns).

    Scale shape: one scan, map-side partial aggregation, one exchange
    of |event_type| x 7 bigints. The second moments ACCUMULATE in
    DECIMAL(38,0) (round-13 overflow audit — a long Σx² aborts
    mid-aggregate under ANSI past ~10^9 rows per group) and cast to
    the contract's BIGINT at the output; past ~10^10 rows that cast
    fails loudly in BOTH engines (DuckDB's CAST AS BIGINT errors the
    same way), at which point the consumer widens the contract."""
    (events,) = tables(spark, sf_dir, "events")
    v = events.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("x"),
        F.hour("ts").cast("long").alias("y"),
    )
    dec_sq = lambda a, b: F.sum(  # noqa: E731
        F.col(a).cast("decimal(38,0)") * F.col(b)
    ).cast("long")
    return v.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        dec_sq("x", "x").alias("sxx"),
        F.sum("y").cast("long").alias("sy"),
        dec_sq("y", "y").alias("syy"),
        dec_sq("x", "y").alias("sxy"),
    )


# --------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov drift statistic (distribution shift)
# --------------------------------------------------------------------


@query(
    "stats_ks_drift",
    """
    WITH v AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
               CASE WHEN o_orderdate < DATE '1996-01-01' THEN 1 ELSE 2
               END AS snap
        FROM orders
    ),
    pv AS (
        SELECT x,
               sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS c1,
               sum(CASE WHEN snap = 2 THEN 1 ELSE 0 END) AS c2
        FROM v GROUP BY 1
    ),
    cum AS (
        SELECT x,
               sum(c1) OVER (ORDER BY x) AS cum1,
               sum(c2) OVER (ORDER BY x) AS cum2
        FROM pv
    ),
    tot AS (SELECT max(cum1) AS n1, max(cum2) AS n2 FROM cum)
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
           round(max(abs(cum1 * n2 - cum2 * n1)) * 1.0 / (n1 * n2), 6)
               AS d_stat
    FROM cum, tot
    GROUP BY n1, n2
    """,
)
def stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the order-value
    distributions of two data snapshots (orders before vs from
    1996-01-01) — the distribution-drift gate a training pipeline runs
    between ingest epochs before trusting new data.

    D = max_x |F1(x) − F2(x)| computed entirely in integers: per
    distinct cents value the two ECDFs are cumulative counts, and
    D's numerator is max|cum1·n2 − cum2·n1| over the common
    denominator n1·n2 — no float touches the max, so the statistic
    hashes identically cross-engine (the final d_stat is one division
    of pinned integers, rounded).

    Scale shape: one scan with map-side partial agg onto the DISTINCT
    VALUE domain (cents — bounded by price range, not row count),
    then one global cumulative window over that bounded domain. The
    window's single-partition sort is over |domain| rows, not |data|
    rows — same posture as quantile_order_value. cum·n products stay
    under 2^63 up to ~3·10^9 rows per snapshot; beyond that promote
    the window sums to DECIMAL(38,0) (same note as
    stats_sufficient_moments)."""
    (orders,) = tables(spark, sf_dir, "orders")
    v = orders.select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("x"),
        F.when(
            F.col("o_orderdate") < F.to_date(F.lit("1996-01-01")), 1
        )
        .otherwise(2)
        .alias("snap"),
    )
    pv = v.groupBy("x").agg(
        F.sum(F.when(F.col("snap") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("snap") == 2, 1).otherwise(0)).alias("c2"),
    )
    wcum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = pv.select(
        F.sum("c1").over(wcum).alias("cum1"),
        F.sum("c2").over(wcum).alias("cum2"),
    )
    wall = Window.partitionBy(F.lit(1))
    attached = cum.select(
        "cum1",
        "cum2",
        F.max("cum1").over(wall).alias("n1"),
        F.max("cum2").over(wall).alias("n2"),
    ).withColumn(
        # loud on a degenerate split (every order in one snapshot):
        # Spark would emit a NULL d_stat while DuckDB errors on the
        # zero division — a silent engine divergence; fail with a
        # message instead (the kmeans quantization-guard pattern)
        "n1",
        F.when(
            (F.col("n1") == 0) | (F.col("n2") == 0),
            F.expr(
                "raise_error('stats_ks_drift: one snapshot is empty"
                " — move the date cut')"
            ),
        ).otherwise(F.col("n1")),
    )
    # decimal(38,0) products (round-13 overflow audit): cum·n is
    # O(n²) — past ~3e9 rows per snapshot the long product exceeds
    # int64 and ANSI mode aborts the query; DuckDB auto-promotes to
    # HUGEINT. Decimal keeps the arithmetic exact to 1e38 (n ~ 1e19);
    # the d_num long cast is bounded by the same n² and documented as
    # the fixture-scale diagnostic — d_stat (double) is the statistic.
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    d = F.abs(dec("cum1") * dec("n2") - dec("cum2") * dec("n1"))
    return attached.groupBy("n1", "n2").agg(
        F.max(d).cast("long").alias("d_num"),
        F.round(
            F.max(d).cast("double")
            / (F.col("n1").cast("double") * F.col("n2").cast("double")),
            6,
        ).alias("d_stat"),
    ).select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        "d_num",
        "d_stat",
    )


# --------------------------------------------------------------------
# Poisson bootstrap (one-pass resampling for confidence intervals)
# --------------------------------------------------------------------

_BOOT_B = 32  # bootstrap replicates
# cumulative Poisson(1) CDF scaled to 2^32 (floor(c_k * 2^32) for
# k = 0..4; the 0.37% tail truncates to weight 5). Computed once and
# inlined identically into the Spark CASE and the oracle SQL.
_POIS_T = (1580030168, 3160060337, 3950075421, 4213413783, 4279248373)


def _pois_case(u: str) -> str:
    arms = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE {arms} ELSE 5 END"


_BOOT_SQL = f"""
    WITH bs AS (SELECT unnest(range(0, {_BOOT_B})) AS b),
    reps AS (
        SELECT bs.b,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || ':' ||
                   CAST(bs.b AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT) AS u
        FROM orders, bs
    ),
    wtd AS (SELECT b, cents, {_pois_case('u')} AS w FROM reps)
    SELECT CAST(b AS BIGINT) AS replicate,
           CAST(sum(w) AS BIGINT) AS n_drawn,
           CAST(sum(w * cents) // sum(w) AS BIGINT) AS mean_cents
    FROM wtd GROUP BY 1
"""


@query("stats_bootstrap_poisson", _BOOT_SQL)
def stats_bootstrap_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al. 2012) — the resampling
    scheme that actually works on distributed data: instead of
    drawing n-with-replacement (which needs global coordination),
    each row enters replicate b with weight ~ Poisson(1), independent
    per (row, replicate) — so all {B} resampled means compute in ONE
    scan with map-side partial aggregation. The spread of the
    replicate means IS the sampling distribution of the mean; a
    consumer reads the 2.5/97.5-percentile replicas off the {B}-row
    output for a CI.

    Determinism: the per-(row, replicate) uniform is the md5
    first-8-hex integer (hashsplit recipe), compared against
    PRE-COMPUTED integer thresholds floor(CDF_k · 2³²) — the Poisson
    inverse-CDF as pure bigint compares, identical in both engines;
    replicate means are integer floor-divisions of exact cents. The
    0.37% CDF tail truncates to weight 5 (bounded, documented bias
    far below sampling noise).

    Scale shape: one scan, a 32× map-side fan-out collapsed by
    partial aggregation before the 32-group exchange — at 100 TB the
    wire cost is 32 rows per task, never 32× the data."""
    (orders,) = tables(spark, sf_dir, "orders")
    # spread: the 32x md5 fan-out is CPU-bound — a single-file input
    # would otherwise run it on one core (measured 2x slower at sf0.1
    # than at 10x the data in a 64-file layout)
    reps = spread(orders).select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        "o_orderkey",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    u = F.conv(
        F.md5(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(":"),
                F.col("b").cast("string"),
            ).cast("binary")
        ).substr(1, 8),
        16,
        10,
    ).cast("long")
    wtd = reps.withColumn("u_int", u).select(
        "b", "cents", F.expr(_pois_case("u_int")).alias("w")
    )
    return wtd.groupBy("b").agg(
        F.sum("w").cast("long").alias("n_drawn"),
        # nullif guard (round-13 audit): a replicate whose Poisson
        # weights all drew 0 has sum(w)=0 — DuckDB's // yields NULL,
        # ANSI div would crash; nullif keeps the division exact int64
        # (try_divide would round-trip through double)
        F.expr(
            "CAST(sum(w * cents) div nullif(sum(w), 0) AS BIGINT)"
        ).alias("mean_cents"),
    ).select(
        F.col("b").cast("long").alias("replicate"), "n_drawn", "mean_cents"
    )


# --------------------------------------------------------------------
# Time-series OHLC bars (downsampling a value stream to candles)
# --------------------------------------------------------------------


@query(
    "timeseries_ohlc_daily",
    """
    WITH t AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               ts, event_id, round(CAST(value AS DOUBLE), 6) AS v
        FROM events
    ),
    r AS (
        SELECT *,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM t
    )
    SELECT event_type, day,
           max(CASE WHEN rn_a = 1 THEN v END) AS open,
           max(v) AS high,
           min(v) AS low,
           max(CASE WHEN rn_d = 1 THEN v END) AS close,
           CAST(count(*) AS BIGINT) AS volume
    FROM r GROUP BY event_type, day
    """,
)
def timeseries_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle downsampling: per (event_type, day) the opening
    value (first by (ts, event_id) — a TOTAL order, so both engines
    pick the same row), high, low, close, and volume — the standard
    time-series reduction for dashboards and anomaly baselines over a
    raw value stream.

    Scale shape: one shuffle on (event_type, day); first/last resolve
    in the same partitioned window pass the aggregation consumes —
    no join back, no second exchange. At 100 TB a date-partitioned
    layout turns the group key into partition-local work."""
    (events,) = tables(spark, sf_dir, "events")
    t = events.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        "ts",
        "event_id",
        F.round(F.col("value").cast("double"), 6).alias("v"),
    )
    wa = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    r = t.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return r.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("v"))).alias("open"),
        F.max("v").alias("high"),
        F.min("v").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("v"))).alias("close"),
        F.count("*").cast("long").alias("volume"),
    )


# --------------------------------------------------------------------
# A/B experiment analysis: hash-split + Welch t from exact moments
# --------------------------------------------------------------------


_AB_HASH = _sql_hash_u32("user_id")


def _welch_readout(v: DataFrame) -> DataFrame:
    """Welch t statistic from a (variant, x) frame via exact integer
    sufficient statistics — shared by the full A/B readout and the
    empty-arm degenerate row. try_divide throughout (round-13
    degenerate-input audit): an empty arm (n=0), a single-sample arm
    (n-1=0), or two constant arms (pooled stderr 0) must yield NULL
    stats like the oracle's DuckDB division does — under Spark 4's
    default ANSI mode a plain `/` would crash the readout at runtime
    instead."""
    m = v.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sx_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sx_b"),
        # decimal(38,0) accumulation (round-13 overflow audit): Σx²
        # in cents² runs ~1e8 per row — past ~1e11 rows the long sum
        # exceeds int64 and ANSI aborts mid-aggregate; DuckDB's sum
        # auto-promotes to HUGEINT. Internal only — output columns
        # keep their types (sxx never leaves this frame).
        F.sum(
            F.when(
                F.col("variant") == 0,
                F.col("x").cast("decimal(38,0)") * F.col("x"),
            ).otherwise(F.lit(0))
        ).alias("sxx_a"),
        F.sum(
            F.when(
                F.col("variant") == 1,
                F.col("x").cast("decimal(38,0)") * F.col("x"),
            ).otherwise(F.lit(0))
        ).alias("sxx_b"),
    )
    mean_a = F.try_divide(F.col("sx_a") * 1.0, F.col("n_a"))
    mean_b = F.try_divide(F.col("sx_b") * 1.0, F.col("n_b"))
    var_a = F.try_divide(
        F.col("sxx_a")
        - F.try_divide(F.col("sx_a") * 1.0 * F.col("sx_a"), F.col("n_a")),
        F.col("n_a") - 1,
    )
    var_b = F.try_divide(
        F.col("sxx_b")
        - F.try_divide(F.col("sx_b") * 1.0 * F.col("sx_b"), F.col("n_b")),
        F.col("n_b") - 1,
    )
    return m.select(
        "n_a",
        "n_b",
        "sx_a",
        "sx_b",
        F.round(mean_a, 4).alias("mean_a"),
        F.round(mean_b, 4).alias("mean_b"),
        F.round(
            F.try_divide(
                mean_b - mean_a,
                F.sqrt(
                    F.try_divide(var_a, F.col("n_a"))
                    + F.try_divide(var_b, F.col("n_b"))
                ),
            ),
            4,
        ).alias("t_welch"),
    )


@query(
    "experiment_ab_ttest",
    f"""
    WITH v AS (
        SELECT {_AB_HASH} % 2 AS variant,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase'
    ),
    m AS (
        SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b,
               CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END)
                    AS BIGINT) AS sx_a,
               CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END)
                    AS BIGINT) AS sx_b,
               CAST(sum(CASE WHEN variant = 0 THEN x*x ELSE 0 END)
                    AS BIGINT) AS sxx_a,
               CAST(sum(CASE WHEN variant = 1 THEN x*x ELSE 0 END)
                    AS BIGINT) AS sxx_b
        FROM v
    )
    SELECT n_a, n_b, sx_a, sx_b,
           round(sx_a * 1.0 / n_a, 4) AS mean_a,
           round(sx_b * 1.0 / n_b, 4) AS mean_b,
           round(
             (sx_b * 1.0 / n_b - sx_a * 1.0 / n_a)
             / sqrt(
                 ((sxx_a - sx_a * 1.0 * sx_a / n_a) / (n_a - 1)) / n_a
                 + ((sxx_b - sx_b * 1.0 * sx_b / n_b) / (n_b - 1)) / n_b
             ), 4) AS t_welch
    FROM m
    """,
)
def experiment_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically hash-split into
    two variants (the md5 bucket every sampler/splitter here shares —
    operators/hashsplit.py), purchase values reduced to EXACT integer
    sufficient statistics per variant (n, Σx, Σx² in cents), and the
    Welch t statistic derived from those bigints — the one float
    division chain is identical across engines because its inputs are
    identical integers. The experimentation-platform primitive on the
    same machinery as stats_sufficient_moments.

    Scale shape: one scan, map-side conditional partial aggregation to
    a SINGLE row of bigints — no shuffle of user rows, no per-variant
    repartition; at 100 TB this is a scan plus a 6-number combine."""
    from qms_datawarehouse_spark.operators.hashsplit import hash_u32

    (events,) = tables(spark, sf_dir, "events")
    variant = hash_u32(F.col("user_id")) % 2
    v = events.filter(F.col("event_type") == "purchase").select(
        variant.alias("variant"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("x"),
    )
    return _welch_readout(v)


@query(
    "experiment_ttest_empty_arm",
    f"""
    WITH v AS (
        SELECT {_AB_HASH} % 2 AS variant,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
        FROM events
        WHERE event_type = 'purchase' AND {_AB_HASH} % 2 = 0
    ),
    m AS (
        SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b,
               CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END)
                    AS BIGINT) AS sx_a,
               CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END)
                    AS BIGINT) AS sx_b,
               CAST(sum(CASE WHEN variant = 0 THEN x*x ELSE 0 END)
                    AS BIGINT) AS sxx_a,
               CAST(sum(CASE WHEN variant = 1 THEN x*x ELSE 0 END)
                    AS BIGINT) AS sxx_b
        FROM v
    )
    SELECT n_a, n_b, sx_a, sx_b,
           round(sx_a * 1.0 / n_a, 4) AS mean_a,
           round(sx_b * 1.0 / n_b, 4) AS mean_b,
           round(
             (sx_b * 1.0 / n_b - sx_a * 1.0 / n_a)
             / sqrt(
                 ((sxx_a - sx_a * 1.0 * sx_a / n_a) / (n_a - 1)) / n_a
                 + ((sxx_b - sx_b * 1.0 * sx_b / n_b) / (n_b - 1)) / n_b
             ), 4) AS t_welch
    FROM m
    """,
)
def experiment_ttest_empty_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Welch readout over a MANUFACTURED one-arm experiment (round
    13 degenerate-input audit): purchases filtered to variant-0 users
    only, so n_b = 0. Every division the full readout performs is now
    zero-divided — DuckDB yields NULL mean_b / t_welch; the pre-audit
    Spark side crashed with ANSI DIVIDE_BY_ZERO on the first of them.
    try_divide makes the engines agree NULL-for-NULL, hash-checked.

    Evidence guard: the empty arm must actually be empty AND the
    populated arm non-trivial — fail loudly, never a trivial match."""
    from qms_datawarehouse_spark.operators.hashsplit import hash_u32

    (events,) = tables(spark, sf_dir, "events")
    variant = hash_u32(F.col("user_id")) % 2
    v = events.filter(F.col("event_type") == "purchase").select(
        variant.alias("variant"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("x"),
    ).filter(F.col("variant") == 0)
    out = _welch_readout(v)
    row = out.first()
    if not (row["n_b"] == 0 and row["n_a"] > 0):
        raise AssertionError(
            f"empty-arm fixture degenerate: n_a={row['n_a']} n_b={row['n_b']}"
        )
    return out



# --------------------------------------------------------------------
# CUPED variance-reduced experiment readout
# --------------------------------------------------------------------


_CUPED_SQL = f"""
    WITH r AS (
        SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
        FROM events
    ),
    pu AS (
        SELECT user_id,
               {_AB_HASH} % 2 AS arm,
               sum(CASE WHEN epoch_us(e.ts) < r.lo + (r.hi - r.lo) // 2
                        THEN CAST(floor(value * 100 + 0.5) AS BIGINT) // 100
                        ELSE 0 END) AS x,
               sum(CASE WHEN epoch_us(e.ts) < r.lo + (r.hi - r.lo) // 2
                        THEN 0
                        ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) // 100
                   END) AS y
        FROM events e, r
        GROUP BY 1, 2
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM pu
    ),
    a AS (
        SELECT arm, CAST(count(*) AS BIGINT) AS n_arm,
               CAST(sum(x) AS BIGINT) AS sxa,
               CAST(sum(y) AS BIGINT) AS sya
        FROM pu GROUP BY 1
    )
    SELECT CAST(arm AS BIGINT) AS arm, n_arm,
           round(sya * 1.0 / n_arm, 4) AS mean_y,
           round(sya * 1.0 / n_arm
                 - ((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx))
                   * (sxa * 1.0 / n_arm - sx * 1.0 / n), 4) AS mean_y_adj,
           round(((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx))
                 * ((n * sxy - sx * sy) * 1.0 / (n * syy - sy * sy)), 4)
               AS rho2
    FROM a, m
"""


@query("experiment_cuped_adjusted", _CUPED_SQL)
def experiment_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) on top of the
    hash-split experiment: each user's PRE-period spend (first half of
    the event-time range, whole dollars) is the covariate; the
    adjusted arm mean is ȳ_arm − θ·(x̄_arm − x̄) with θ = cov(X,Y)/var(X)
    pooled — mean-of-adjusted equals adjusted-of-means, so NO
    per-user float ever aggregates: arms and moments reduce to exact
    bigints (dollar units keep n·Σxx far inside int64 headroom at any
    plausible user count) and θ, the adjusted means, and the variance-
    reduction factor ρ² are final-step divisions of those pinned
    integers, rounded. ρ² is the fraction of metric variance the
    covariate removes — the sample-size multiplier CUPED buys.

    Scale shape: one scan → per-user conditional aggregate (user_id
    exchange), then a 2-row arm aggregate and a 1-row moment
    aggregate combined broadcast-side. Reference analog: the staff
    rate report (src/api/routes.py:104-136) reads point estimates;
    this is the estimator a measurement platform would swap in."""
    from qms_datawarehouse_spark.operators.hashsplit import hash_u32

    (events,) = tables(spark, sf_dir, "events")
    row = events.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).first()
    lo, hi = int(row["lo"]), int(row["hi"])
    cut = lo + (hi - lo) // 2

    dollars = F.expr(
        "CAST(floor(value * 100 + 0.5) AS BIGINT) div 100"
    )
    pre = F.unix_micros("ts") < F.lit(cut)
    pu = events.groupBy(
        "user_id", F.pmod(hash_u32(F.col("user_id")), F.lit(2)).alias("arm")
    ).agg(
        F.sum(F.when(pre, dollars).otherwise(0)).alias("x"),
        F.sum(F.when(pre, 0).otherwise(dollars)).alias("y"),
    )
    # second moments accumulate in decimal(38,0) (round-13 overflow
    # audit): per-user dollar totals square to ~1e10-1e12 per row, so
    # the long Σx²/Σxy/Σy² exceeds int64 past ~1e7-1e9 users and ANSI
    # aborts; DuckDB auto-promotes to HUGEINT. Internal only.
    dec_sq = lambda a, b: F.sum(  # noqa: E731
        F.col(a).cast("decimal(38,0)") * F.col(b)
    )
    m = pu.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        dec_sq("x", "x").alias("sxx"),
        dec_sq("x", "y").alias("sxy"),
        dec_sq("y", "y").alias("syy"),
    )
    a = pu.groupBy("arm").agg(
        F.count("*").cast("long").alias("n_arm"),
        F.sum("x").cast("long").alias("sxa"),
        F.sum("y").cast("long").alias("sya"),
    )
    # try_divide (round-13 audit): a CONSTANT covariate (n·Σxx = Σx²,
    # e.g. every user inactive pre-period) or constant metric zeroes a
    # variance denominator — the oracle's DuckDB division yields NULL
    # there, while Spark 4's default ANSI `/` would crash the readout.
    # n·sxy and sx·sy are decimal-promoted (sxy is decimal; sx casts)
    # — the long·long cross terms overflowed exactly like the moments
    sx_d = F.col("sx").cast("decimal(38,0)")
    sy_d = F.col("sy").cast("decimal(38,0)")
    theta = F.try_divide(
        (F.col("n") * F.col("sxy") - sx_d * F.col("sy")).cast("double"),
        (F.col("n") * F.col("sxx") - sx_d * F.col("sx")).cast("double"),
    )
    mean_y = F.try_divide(F.col("sya") * 1.0, F.col("n_arm"))
    return a.crossJoin(F.broadcast(m)).select(
        F.col("arm").cast("long").alias("arm"),
        "n_arm",
        F.round(mean_y, 4).alias("mean_y"),
        F.round(
            mean_y
            - theta
            * (
                F.try_divide(F.col("sxa") * 1.0, F.col("n_arm"))
                - F.try_divide(F.col("sx") * 1.0, F.col("n"))
            ),
            4,
        ).alias("mean_y_adj"),
        F.round(
            theta
            * F.try_divide(
                (F.col("n") * F.col("sxy") - sx_d * F.col("sy")).cast(
                    "double"
                ),
                (F.col("n") * F.col("syy") - sy_d * F.col("sy")).cast(
                    "double"
                ),
            ),
            4,
        ).alias("rho2"),
    )


# --------------------------------------------------------------------
# Rolling 7-day active users (WAU per day)
# --------------------------------------------------------------------


@query(
    "rolling_7d_active_users",
    """
    WITH du AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
               user_id
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT d.day,
           CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
    FROM days d
    JOIN du u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day
    """,
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAU: distinct users active in the trailing 7 days, per day —
    the growth metric a plain window can't express (DISTINCT over a
    RANGE frame isn't a window aggregate), built as day-grain distinct
    → bounded range join against the day list → distinct count.

    Scale shape: the corpus reduces to (day, user) distinct FIRST
    (partial-aggregated — the only pass over raw events); the range
    join then expands that reduced set at most 7× before the final
    keyed count. At 100 TB the same query over years of days should
    swap the exact distinct for mergeable HLL partials per day
    (rollup_hypertable's machinery) — this is the exact twin."""
    (events,) = tables(spark, sf_dir, "events")
    du = events.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        "user_id",
    ).distinct()
    days = du.select("day").distinct()
    d, u = days.alias("d"), du.alias("u")
    joined = d.join(
        u,
        (F.col("u.day") >= F.date_sub(F.col("d.day"), 6))
        & (F.col("u.day") <= F.col("d.day")),
    )
    return joined.groupBy(F.col("d.day").alias("day")).agg(
        F.countDistinct("u.user_id").cast("long").alias("wau")
    )


# --------------------------------------------------------------------
# Seasonality: day-of-week effect indexes
# --------------------------------------------------------------------


@query(
    "seasonality_dow_index",
    """
    WITH v AS (
        SELECT event_type, dayofweek(ts) AS dow,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    d AS (
        SELECT event_type, dow,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS sc
        FROM v GROUP BY event_type, dow
    ),
    t AS (
        SELECT event_type,
               CAST(sum(n) AS BIGINT) AS nt,
               CAST(sum(sc) AS BIGINT) AS sct
        FROM d GROUP BY event_type
    )
    SELECT d.event_type, CAST(d.dow AS BIGINT) AS dow, d.n, d.sc,
           CAST((d.sc * t.nt * 10000) // greatest(d.n * t.sct, 1)
                AS BIGINT) AS value_index_bp,
           CAST((d.n * 7 * 10000) // t.nt AS BIGINT) AS volume_index_bp
    FROM d JOIN t ON d.event_type = t.event_type
    """,
)
def seasonality_dow_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality indexes per event type: each weekday's
    mean value relative to the type's overall mean, and its share of
    volume relative to a flat week — both as exact integer basis
    points ((Σ_dow·n_total·10⁴) div (n_dow·Σ_total)), so the whole
    seasonal profile is oracle-hashable with zero float ops. The
    input every dashboard's "weekend effect" chart and every
    forecasting baseline (seasonal-naive) needs.

    Scale shape: two stacked keyed aggregations (dow grain → type
    grain), both partial-aggregated; O(types × 7) output. DuckDB's
    Sunday=0-based dayofweek matches Spark's dayofweek−1 — normalized
    below."""
    (events,) = tables(spark, sf_dir, "events")
    v = events.select(
        "event_type",
        # Spark dayofweek: Sunday=1; DuckDB dayofweek: Sunday=0
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias(
            "cents"
        ),
    )
    d = v.groupBy("event_type", "dow").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sc"),
    )
    t = d.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("sc").cast("long").alias("sct"),
    )
    return d.join(t, "event_type").select(
        "event_type",
        "dow",
        "n",
        "sc",
        F.expr(
            "CAST((sc * nt * 10000) div greatest(n * sct, 1) AS BIGINT)"
        ).alias("value_index_bp"),
        F.expr("CAST((n * 7 * 10000) div nt AS BIGINT)").alias(
            "volume_index_bp"
        ),
    )


# --------------------------------------------------------------------
# Funnel latency: time-to-convert distribution
# --------------------------------------------------------------------


@query(
    "funnel_time_to_convert",
    """
    WITH v AS (
        SELECT user_id, min(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= v.t_view
        GROUP BY e.user_id
    ),
    d AS (
        SELECT v.user_id,
               epoch_us(p.t_purchase) - epoch_us(v.t_view) AS dt_us
        FROM v JOIN p ON v.user_id = p.user_id
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_viewers,
           CAST(count(*) AS BIGINT) AS n_converted,
           CAST(quantile_disc(dt_us, 0.5) AS BIGINT) AS p50_us,
           CAST(quantile_disc(dt_us, 0.9) AS BIGINT) AS p90_us,
           CAST(sum(dt_us) // count(*) AS BIGINT) AS mean_us
    FROM d
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel LATENCY: the distribution of time from a user's first
    view to their first subsequent purchase — the companion to the
    count-based funnel (which says how many convert; this says how
    long conversion takes, the number activation and attribution
    windows are tuned against). Exact integer microseconds end to
    end: discrete quantiles and a floor-division mean, so the whole
    distribution summary is engine-identical.

    Scale shape: two per-user min-aggregations (partial-aggregated)
    joined on the user key, then one global aggregate over one row
    per converted user — events are scanned twice but never
    expanded."""
    (events,) = tables(spark, sf_dir, "events")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    d = v.join(p, "user_id").select(
        (
            F.unix_micros("t_purchase") - F.unix_micros("t_view")
        ).alias("dt_us")
    )
    n_viewers = v.agg(F.count("*").cast("long").alias("n_viewers"))
    return (
        d.agg(
            F.count("*").cast("long").alias("n_converted"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dt_us)")
            .cast("long")
            .alias("p50_us"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY dt_us)")
            .cast("long")
            .alias("p90_us"),
            F.expr("CAST(sum(dt_us) div count(*) AS BIGINT)").alias(
                "mean_us"
            ),
        )
        .crossJoin(F.broadcast(n_viewers))
        .select("n_viewers", "n_converted", "p50_us", "p90_us", "mean_us")
    )


# --------------------------------------------------------------------
# Position-weighted (U-shaped) multi-touch attribution
# --------------------------------------------------------------------

_UPOS_SQL = """
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS journey
        FROM events
    ),
    conv AS (
        SELECT DISTINCT user_id, journey
        FROM seq WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT s.user_id, s.journey, s.event_type, s.ts, s.event_id
        FROM seq s JOIN conv c
          ON s.user_id = c.user_id AND s.journey = c.journey
        WHERE s.event_type <> 'purchase'
    ),
    ranked AS (
        SELECT user_id, journey, event_type,
               row_number() OVER (PARTITION BY user_id, journey
                                  ORDER BY ts, event_id) AS pos,
               count(*) OVER (PARTITION BY user_id, journey) AS n
        FROM touches
    ),
    credited AS (
        SELECT event_type,
               CASE
                 WHEN n = 1 THEN 10000
                 WHEN n = 2 THEN 5000
                 WHEN pos = 1 THEN 4000
                 WHEN pos = n THEN 4000
                 ELSE 2000 // (n - 2)
                      + CASE WHEN pos = 2 THEN 2000 % (n - 2) ELSE 0 END
               END AS credit_bp
        FROM ranked
    )
    SELECT event_type AS channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(credit_bp) AS BIGINT) AS credit_bp
    FROM credited GROUP BY 1 ORDER BY 1
"""


@query("attribution_position_weighted", _UPOS_SQL)
def attribution_position_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-weighted) MULTI-touch attribution — the
    sibling of ``attribution_last_touch`` that credits the whole
    journey: each purchase closes a journey of the user's strictly
    prior non-purchase touches (since their previous purchase); the
    journey's first and last touch get 40% each and the middles split
    the remaining 20% evenly. Credit is exact integer basis points —
    10000 per converted journey, middles get 2000 div (n-2) with the
    remainder assigned to the earliest middle — so both engines sum
    identically (no float credit drift).

    Scale shape: one hash exchange on user_id for the running
    purchase-count window, one on (user_id, journey) for the
    position/size windows (same key prefix — Spark reuses the
    partitioning), then a tiny groupBy(channel). No reference
    counterpart; event_type stands in for the channel dimension."""
    (events,) = tables(spark, sf_dir, "events")
    return position_weighted_credits(events)


def position_weighted_credits(events: DataFrame) -> DataFrame:
    """The U-shape credit engine over ANY events frame carrying
    (user_id, ts, event_id, event_type) — ts/event_id only need a
    total order. Split out so the hypothesis property test can drive
    arbitrary journeys through the exact production plan
    (test_round6_invariants pins credit conservation; the property
    test pins per-channel credit against an independent model)."""
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_p = (F.col("event_type") == "purchase").cast("int")
    seq = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        (
            F.sum(is_p).over(
                wseq.rowsBetween(Window.unboundedPreceding, 0)
            )
            - is_p
        ).alias("journey"),
    )
    conv = (
        seq.filter(F.col("event_type") == "purchase")
        .select("user_id", "journey")
        .distinct()
    )
    touches = seq.join(conv, ["user_id", "journey"]).filter(
        F.col("event_type") != "purchase"
    )
    wj = Window.partitionBy("user_id", "journey")
    ranked = touches.select(
        "event_type",
        F.row_number().over(wj.orderBy("ts", "event_id")).alias("pos"),
        F.count("*").over(wj).alias("n"),
    )
    n, pos = F.col("n"), F.col("pos")
    credit = (
        F.when(n == 1, F.lit(10000))
        .when(n == 2, F.lit(5000))
        .when(pos == 1, F.lit(4000))
        .when(pos == n, F.lit(4000))
        .otherwise(
            F.expr("2000 div (n - 2)")
            + F.when(pos == 2, F.expr("2000 % (n - 2)")).otherwise(F.lit(0))
        )
    )
    return (
        ranked.select("event_type", credit.alias("credit_bp"))
        .groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.sum("credit_bp").cast("long").alias("credit_bp"),
        )
        .orderBy("channel")
    )
