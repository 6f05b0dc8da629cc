"""Hypertable-style hierarchical rollups with incremental maintenance.

Time-series warehouses (TimescaleDB continuous aggregates, Druid
rollup segments) keep pre-aggregated tables at coarsening resolutions
and maintain them incrementally as data lands. The reference's A6
"per-day rates" analytics are exactly this shape one level deep; here
the cascade is explicit and *incrementally maintainable*:

    events ──agg──▶ rollup_1h ──agg──▶ rollup_1d

- Each level stores MERGEABLE partial aggregates (count / sum / min /
  max — avg derives as sum/count at read time), so level N+1 computes
  from level N, never from raw events: a day re-aggregates 24 hourly
  rows, not 86M raw rows.
- Incremental update: a delta batch aggregates to per-bucket partials,
  then MERGES into the stored rollup by (bucket, key): existing and
  new partials combine with the same associative ops (count+count,
  sum+sum, min(min), max(max)). Replays are NOT idempotent for
  count/sum — exactly-once delivery comes from the sync engine's
  checkpointed delta (strict ``$gt``), same contract the reference
  relies on for its row counts.
- At 100 TB: the delta agg shuffles only the batch; the merge touches
  only the buckets the batch lands in (time-partitioned tables make
  this partition-pruned: recent buckets only).
- Both levels commit in ONE multi-table transaction (round 12):
  sequential per-table commits had a crash window between the hourly
  and daily pointer flips that diverged the cascade permanently —
  and because the partials are not replay-idempotent, no later batch
  could heal it. Staged versions + intent journal + roll-forward
  (operators/transaction.py) make the cascade all-or-nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qms_datawarehouse_spark.plans.registry import query, tables
from qms_datawarehouse_spark.session import inherit_local_properties
from qms_datawarehouse_spark.warehouse import ParquetWarehouse

PARTIALS = ("n", "value_sum", "value_min", "value_max")


def aggregate_to_bucket(events: DataFrame, bucket_len: str) -> DataFrame:
    """Raw events → partial aggregates per (window bucket, event_type)."""
    return (
        events.groupBy(
            F.window("ts", bucket_len).alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("value_sum"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
        )
        .select(F.col("w.start").alias("bucket"), "event_type", *PARTIALS)
    )


def coarsen(rollup: DataFrame, bucket_len: str) -> DataFrame:
    """Level N → level N+1: re-aggregate PARTIALS (associative ops
    only) into coarser buckets. Never touches raw events."""
    return (
        rollup.groupBy(
            F.window("bucket", bucket_len).alias("w"), "event_type"
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("value_sum").alias("value_sum"),
            F.min("value_min").alias("value_min"),
            F.max("value_max").alias("value_max"),
        )
        .select(F.col("w.start").alias("bucket"), "event_type", *PARTIALS)
    )


def merge_partials(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Combine two partial-aggregate tables by (bucket, event_type)
    with the partials' own associative ops — a full-outer merge, no
    recompute of untouched buckets."""
    e = existing.select(
        "bucket", "event_type", *[F.col(c).alias(f"e_{c}") for c in PARTIALS]
    )
    d = delta.select(
        "bucket", "event_type", *[F.col(c).alias(f"d_{c}") for c in PARTIALS]
    )
    j = e.join(d, ["bucket", "event_type"], "full_outer")
    return j.select(
        "bucket",
        "event_type",
        (F.coalesce("e_n", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias("n"),
        # null-aware add: a NULL partial means "all inputs NULL" (SQL
        # sum semantics), which contributes nothing when the other
        # side has a value but must stay NULL when BOTH sides are
        # NULL/absent — the blind coalesce-to-0 pair turned an
        # all-NULL bucket's sum into 0. Append-only partials never
        # cancel, so pairwise NULL-iff-both-NULL is exact without a
        # stored non-null count (contrast matview.py's subtractive
        # merge, which needs the (sum, nn) pair).
        F.when(
            F.col("e_value_sum").isNull() & F.col("d_value_sum").isNull(),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.coalesce("e_value_sum", F.lit(0.0))
            + F.coalesce("d_value_sum", F.lit(0.0))
        )
        .alias("value_sum"),
        F.least(
            F.coalesce("e_value_min", F.col("d_value_min")),
            F.coalesce("d_value_min", F.col("e_value_min")),
        ).alias("value_min"),
        F.greatest(
            F.coalesce("e_value_max", F.col("d_value_max")),
            F.coalesce("d_value_max", F.col("e_value_max")),
        ).alias("value_max"),
    )


DAY_COL = "_day"  # rollup tables' partition column (to_date(bucket))


def update_rollups(
    warehouse: ParquetWarehouse,
    delta_events: DataFrame,
    hourly_table: str = "rollup_1h",
    daily_table: str = "rollup_1d",
) -> list:
    """Incrementally fold a delta batch into the hourly and daily
    rollup tables. The daily delta derives from the hourly delta
    (cascade), so raw events are aggregated exactly once.

    Rollup tables are partitioned by event DAY, and an update is
    partial: only the days present in the delta are read (partition
    pruning), merged, and rewritten — every other day's directory is
    hardlink-inherited (``write_version_partial``). With
    time-correlated ingest a batch lands in one or two days, so
    maintenance cost is O(touched days), not O(retention window) —
    the same contract the keyed merge has, applied to the time axis.
    Pre-partitioned legacy tables (no day column) fall back to one
    full rewrite, which migrates them to the partitioned layout.

    Concurrency: the merge is a read-modify-write of the stored
    partials, so every staged level is pinned (``base_version`` /
    ``expect_base``) to the exact version it was read from — a rival
    updater committing in between surfaces ``ConcurrentWriteError``
    (the caller re-reads and retries) instead of silently re-merging
    against a superseded snapshot and losing the rival's counts.
    Empty deltas short-circuit before any commit (P6): a quiet
    micro-batch must not churn versions.

    Atomicity ACROSS levels: both tables commit in ONE multi-table
    transaction (T7 — staged versions, intent journal, pointer flips
    under sorted locks). Sequential per-table commits had a crash
    window between the hourly and daily flips that diverged the
    cascade PERMANENTLY: the batch's delta lands in one level and
    never reaches the other, and because additive partials are not
    replay-idempotent no later batch can heal it. Now a crash before
    the journal leaves both levels untouched; a crash after it rolls
    FORWARD at the next ``recover_transactions`` — the cascade is
    never visible half-updated."""
    from concurrent.futures import ThreadPoolExecutor

    from qms_datawarehouse_spark.operators.transaction import (
        MultiTableTransaction,
    )

    delta_1h = aggregate_to_bucket(delta_events, "1 hour").persist()
    try:
        # ONE action serves the empty short-circuit AND both levels'
        # touched-day lists (they are identical: the daily delta is
        # the hourly delta coarsened within the same days) — this
        # replaces an isEmpty plus a per-table distinct-collect, two
        # extra jobs per update. Bounded by distinct days in the
        # batch, never rows. The day list is also RETURNED so callers
        # (the replay row, sync drivers) can assert on the touched set
        # without a second pass over their delta.
        days = [
            r[0]
            for r in delta_1h.select(
                F.to_date("bucket").alias(DAY_COL)
            )
            .distinct()
            .collect()
        ]
        if not days:
            return []
        txn = MultiTableTransaction(warehouse)

        def _stage(item) -> None:
            table, delta = item
            base = warehouse.current_version_name(table)
            if base is not None:
                existing = warehouse.read(table, version=base)
                if DAY_COL not in existing.columns:
                    # legacy unpartitioned layout: migrate via full
                    # rewrite (still inside the transaction)
                    merged = merge_partials(existing, delta).withColumn(
                        DAY_COL, F.to_date("bucket")
                    )
                    txn.stage_write(
                        table, merged, partition_by=[DAY_COL], expect_base=base
                    )
                    return
                contested = existing.filter(F.col(DAY_COL).isin(days))
                delta = merge_partials(contested.drop(DAY_COL), delta)
            txn.stage_write_partial(
                table, delta.withColumn(DAY_COL, F.to_date("bucket")), days,
                partition_col=DAY_COL, base_version=base,
            )

        # abort() covers STAGING failures only: commit() cleans up its
        # own CAS aborts, and a failure after the commit point must
        # leave the staged dirs for journal roll-forward — an abort
        # there would delete the versions recovery repoints to.
        # The two levels touch DIFFERENT tables and both derive from
        # the persisted hourly delta, so their staging writes are
        # independent Spark jobs — submit both from a 2-thread pool
        # (guide §2.6): the daily job's tasks back-fill executors the
        # hourly job's write tail leaves idle. Atomicity is untouched:
        # staging only writes invisible version dirs; the single
        # commit() below still flips every pointer together.
        # Each task gets its own copy of the caller's Spark local
        # properties, so the staging jobs keep the caller's job group.
        try:
            with ThreadPoolExecutor(max_workers=2) as pool:
                futures = [
                    pool.submit(
                        inherit_local_properties(warehouse.spark, _stage),
                        item,
                    )
                    for item in (
                        (hourly_table, delta_1h),
                        (daily_table, coarsen(delta_1h, "1 day")),
                    )
                ]
            for f in futures:
                f.result()
        except BaseException:
            txn.abort()
            raise
        txn.commit()
        return days
    finally:
        delta_1h.unpersist()


@query(
    "rollup_hierarchy_1d",
    """
    WITH h AS (
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket, event_type,
               count(*) AS n,
               sum(CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)) AS sum_cents,
               min(CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)) AS min_cents,
               max(CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)) AS max_cents
        FROM events GROUP BY 1, 2
    )
    SELECT time_bucket(INTERVAL 1 DAY, bucket) AS day, event_type,
           CAST(sum(n) AS BIGINT) AS n,
           CAST(sum(sum_cents) AS BIGINT) AS sum_cents,
           CAST(sum(sum_cents) // sum(n) AS BIGINT) AS avg_cents,
           min(min_cents) AS min_cents,
           max(max_cents) AS max_cents
    FROM h GROUP BY 1, 2
    """,
)
def rollup_hierarchy_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily stats derived THROUGH the hourly rollup (the cascade's
    read path): avg reconstructed from sum/count partials — proof the
    partial-aggregate schema loses nothing the flat query had.

    Monetary partials carried as exact integer CENTS: double sums
    accumulate in engine-specific order, and round(avg, 4) split Spark
    vs DuckDB at a half-boundary; int64 sums and floor-div avg are
    bit-identical everywhere (same rationale as text_quality's basis
    points)."""
    (events,) = tables(spark, sf_dir, "events")
    # `value` is FLOAT32 in parquet: widen to double explicitly BEFORE
    # the ×100 — Spark auto-widens float×int to double while DuckDB
    # multiplies in single precision, so the implicit promotion rounds
    # differently per engine (r1 hash-fail root cause).
    cents = F.round(F.col("value").cast("double") * 100).cast("long")
    hourly = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents).alias("sum_cents"),
            F.min(cents).alias("min_cents"),
            F.max(cents).alias("max_cents"),
        )
        .select(F.col("w.start").alias("bucket"), "event_type", "n",
                "sum_cents", "min_cents", "max_cents")
    )
    return (
        hourly.groupBy(F.window("bucket", "1 day").alias("w"), "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_cents").alias("sum_cents"),
            F.min("min_cents").alias("min_cents"),
            F.max("max_cents").alias("max_cents"),
        )
        .select(
            F.col("w.start").alias("day"),
            "event_type",
            "n",
            "sum_cents",
            F.expr("sum_cents div n").alias("avg_cents"),
            "min_cents",
            "max_cents",
        )
    )


# --------------------------------------------------------------------
# Mergeable-sketch rollup: distinct users per grain via HLL partials
# --------------------------------------------------------------------


def hll_user_sketches(
    events: DataFrame, grain: str = "hour", col: str = "user_id"
) -> DataFrame:
    """Per-``grain`` HLL sketches of distinct ``col`` — the mergeable
    partial that makes distinct-count rollups incremental: a day (or
    month) estimate is ``hll_union_agg`` over stored finer sketches,
    never a re-scan of raw events. ``count(DISTINCT)`` partials don't
    merge (distinct sets must be re-unioned from raw); HLL partials DO
    (union is the sketch's native operation) — the same
    additive-partials discipline the numeric rollup cascade uses,
    extended to the one aggregate that isn't additive. Built on Spark
    4's Apache DataSketches functions (hll_sketch_agg), so the merged
    result is bit-identical to sketching raw events directly
    (pinned in tests/test_hll_rollup.py)."""
    return events.groupBy(
        F.date_trunc(grain, "ts").alias("bucket_start")
    ).agg(F.expr(f"hll_sketch_agg({col})").alias("user_sketch"))


def hll_rollup_estimate(
    sketches: DataFrame, grain: str = "day"
) -> DataFrame:
    """Coarser-grain distinct estimates by unioning stored sketches:
    O(buckets) rows in, O(coarser buckets) out, no raw-event I/O."""
    return (
        sketches.groupBy(
            F.date_trunc(grain, "bucket_start").alias("bucket_start")
        )
        .agg(
            F.expr(
                "hll_sketch_estimate(hll_union_agg(user_sketch))"
            ).alias("n_distinct_est")
        )
    )


_ROLLUP_REPLAY_SQL = """
    WITH src AS (
        SELECT ts, event_type,
               CASE WHEN event_type = 'error' THEN NULL
                    WHEN event_type = 'view'
                         AND ((event_id % 2) + 2) % 2 = 0 THEN NULL
                    ELSE CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)
               END AS cents
        FROM events
    )
    SELECT time_bucket(INTERVAL 1 DAY, ts) AS day, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM src GROUP BY 1, 2
"""


@query("rollup_incremental_replay", _ROLLUP_REPLAY_SQL)
def rollup_incremental_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PUSH-based rollup cascade through its REAL maintenance path
    (round 12; the matview_incremental_replay mold): two parity-split
    event chunks fold into the day-partitioned rollup tables via
    ``update_rollups`` — the second call exercises the contested-day
    partial merge (``merge_partials``) because both chunks land in
    every day — and the final rollup_1d state must hash-equal the
    oracle's one-shot daily aggregate. NULL semantics are the point:
    'error' events carry NULL values in BOTH chunks (the merged sum
    must stay NULL — the old coalesce-to-0 pair collapsed it to 0),
    and 'view' values are NULL exactly in the even chunk (the merge
    sees a NULL partial on one side and a value on the other). Values
    ride as integer cents in a double column, so partial sums are
    order-independent and hash-stable across engines.

    Scale shape: each update reads/rewrites only the delta's day
    partitions (partition-pruned; untouched days hardlink-inherit) —
    O(touched days), the time-axis twin of the keyed merge.

    Reference analog: none (the reference recomputes report aggregates
    per request, src/api/routes.py); this row pins the warehouse-side
    continuous-aggregate maintenance the hypertable docs describe."""
    import os
    import shutil

    from qms_datawarehouse_spark.tmputil import pid_scoped_dir

    (events,) = tables(spark, sf_dir, "events")
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    root = pid_scoped_dir("qms_rollup_replay", tag)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(spark, root)

    cents = F.round(F.col("value").cast("double") * 100).cast("long")
    src = events.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.when(F.col("event_type") == "error", F.lit(None))
        .when(
            (F.col("event_type") == "view")
            & (F.pmod(F.col("event_id"), F.lit(2)) == 0),
            F.lit(None),
        )
        .otherwise(cents)
        .cast("double")
        .alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    for parity in (0, 1):
        chunk = src.filter(F.pmod(F.col("event_id"), F.lit(2)) == parity)
        # evidence guard: both chunks must fold. The emptiness signal
        # rides update_rollups' own returned day list (zero hourly
        # groups ⟺ zero delta rows) — the old chunk.isEmpty() was an
        # extra full pass over events per chunk.
        if not update_rollups(wh, chunk):
            raise AssertionError(f"rollup replay chunk {parity} is empty")

    out = wh.read("rollup_1d").select(
        F.col("bucket").alias("day"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("value_sum").cast("long").alias("sum_cents"),
        F.col("value_min").cast("long").alias("min_cents"),
        F.col("value_max").cast("long").alias("max_cents"),
    )
    # evidence guards: the all-NULL class must come back NULL (not 0)
    # and the split-NULL class must come back valued — else this row
    # stopped testing the merge's NULL algebra
    probe = out.agg(
        F.sum(
            F.when(
                (F.col("event_type") == "error")
                & F.col("sum_cents").isNull(),
                1,
            ).otherwise(0)
        ).alias("all_null_groups"),
        F.sum(
            F.when(
                (F.col("event_type") == "view")
                & F.col("sum_cents").isNotNull(),
                1,
            ).otherwise(0)
        ).alias("split_null_groups"),
    ).first()
    if not probe["all_null_groups"] or not probe["split_null_groups"]:
        raise AssertionError(f"rollup NULL fixture degenerate: {probe}")
    return out
