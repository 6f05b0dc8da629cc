"""CDC apply: keyed change feeds with DELETES, sequenced and
out-of-order safe.

The reference's merge is upsert-only (``INSERT ... ON CONFLICT DO
UPDATE``, src/services/etl.py:17-87) — a document deleted at the
source lives in the warehouse forever. ``apply_changes`` is the
missing half: a change feed of ``(key, seq, op ∈ {upsert, delete},
payload…)`` rows applied so that, per key, the HIGHEST-sequence
operation wins — regardless of the order batches arrive in.

Out-of-order correctness needs memory of deletes: without it, a late
upsert (seq 3, delayed in transit) arriving after the delete that
superseded it (seq 5, already applied) would resurrect the row. So
every applied delete records ``(key, seq)`` in a TOMBSTONE table —
bucketed exactly like the main table — and an incoming upsert is
suppressed when a tombstone with an equal-or-higher sequence exists.
Tombstones are monotone (only the max delete-seq per key is kept, via
the standard keyed merge) and never block a genuine reinsert, because
the check is a sequence comparison, not key existence. They accrete
with deletes; vacuum by retention once every producer is past the
horizon (same policy discussion as version retention).

Cost shape = the merge's: winners resolve in one key-partitioned
window; the main table is read AND written only in the buckets the
batch's keys hash into (hardlink-inherited elsewhere); the tombstone
probe is pruned to the same buckets (same key, same bucket count ⇒
same dirs). Every apply stages the main table and (when the batch
deletes) the tombstones, then commits both in ONE journaled commit —
the first batch too, creating either table inside it — so a reader
never sees a delete applied but its tombstone missing (a crash
between the two would silently re-admit the late upsert).

Sequence ties are deterministic: delete beats upsert, then a stable
row hash — replaying a batch converges (T3), like every write path
here.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qms_datawarehouse_spark.operators.merge import (
    _merge_upsert_once,
    _pinned_target,
    _resolve_buckets,
    dedup_last_write_wins,
    with_bucket,
)
from qms_datawarehouse_spark.plans.registry import query, tables
from qms_datawarehouse_spark.warehouse import (
    BUCKET_COL,
    ConcurrentWriteError,
    ParquetWarehouse,
)

OP_UPSERT = "upsert"
OP_DELETE = "delete"


def tombstone_table(table: str) -> str:
    return f"{table}__tombstones"


@dataclass
class ApplyChangesStats:
    n_changes: int
    n_upserts: int  # upsert winners applied (incl. reinserts)
    n_deletes: int  # delete winners applied (incl. already-absent keys)
    n_suppressed: int  # late upserts blocked by a newer tombstone


def _winners(changes: DataFrame, key: str, seq_col: str, op_col: str) -> DataFrame:
    """One winning operation per key: highest sequence; ties prefer
    delete, then the shared last-write-wins resolution (stable row
    hash — deterministic replay). Delegates to merge's
    ``dedup_last_write_wins`` so the D1 determinism contract has ONE
    implementation."""
    return dedup_last_write_wins(
        changes, key, seq_col,
        tie_cols=[(F.col(op_col) == OP_DELETE).desc()],
    )


def _probe_tombstones(win: DataFrame, tombs: DataFrame, key: str) -> DataFrame:
    """Left-join the batch winners against the (bucket-pruned)
    tombstone probe. Deliberately NO join-strategy hint: the probe is
    usually vacuum-bounded and AQE will broadcast it from its runtime
    size, but a bulk-delete feed (compliance purge touching every
    bucket inside one retention window) can make it arbitrarily large
    — a forced broadcast would OOM exactly when CDC matters most.
    Pinned by test_tombstone_probe_not_force_broadcast."""
    return win.join(tombs, key, "left")


def vacuum_tombstones(
    warehouse: ParquetWarehouse, table: str, min_seq: int
) -> int:
    """Drop tombstones with ``seq < min_seq`` — safe once every
    producer's sequence horizon has passed ``min_seq``, because a
    tombstone only exists to suppress upserts OLDER than it, and no
    such upsert can still arrive. Returns tombstones removed.

    Full rewrite of the (small — rows ∝ deletes) tombstone table
    behind the usual atomic swap; run it on the same retention clock
    as version GC (maintenance runbook cadence)."""
    tomb = tombstone_table(table)
    if not warehouse.table_exists(tomb):
        return 0
    meta = warehouse.read_meta(tomb)
    seq_col = meta.get("order_col") or "_seq"
    # CAS against the version the filter was computed from: a
    # tombstone committed by a concurrent apply between this read and
    # the swap must fail the swap, not silently vanish
    last_exc: Exception | None = None
    for _ in range(3):
        base = warehouse.current_version_name(tomb)
        cur = warehouse.read(tomb, version=base)
        expired = cur.filter(F.col(seq_col) < min_seq).count()
        if not expired:
            return 0
        try:
            warehouse.write_version(
                tomb,
                cur.filter(F.col(seq_col) >= min_seq),
                partition_by=[BUCKET_COL],
                expect_base=base,
            )
            return int(expired)
        except ConcurrentWriteError as exc:
            last_exc = exc
    raise last_exc


def changes_as_feed(diff: DataFrame, seq: int) -> DataFrame:
    """Bridge a ``table_changes`` row-level diff (CDF produce) into an
    ``apply_changes`` feed (CDC apply): insert/update → upsert, delete
    → delete, all stamped with one monotone ``_seq`` per replication
    step (diffs are applied in version order, so a per-step sequence
    is a correct total order). Compose the two and a follower table
    replays a leader's history — the replication loop:

        diff = table_changes(wh, src, key, from_version=last_seen)
        apply_changes(wh, dst, changes_as_feed(diff, step), key=key)
    """
    return (
        diff.withColumn(
            "_op",
            F.when(F.col("_change_type") == "delete", F.lit(OP_DELETE))
            .otherwise(F.lit(OP_UPSERT)),
        )
        .withColumn("_seq", F.lit(int(seq)).cast("long"))
        .drop("_change_type")
    )


# --------------------------------------------------------------------
# Driver-verifiable form of the resolution math (stateless — the
# warehouse plumbing is pytest-covered in test_cdc.py, same pattern
# as dedup's ingest_gate_probe)
# --------------------------------------------------------------------

_PROBE_SQL = """
    WITH feed AS (
        SELECT user_id AS key, epoch_us(ts) AS seq_us,
               CASE WHEN event_type = 'purchase' THEN 'delete'
                    ELSE 'upsert' END AS op,
               event_id
        FROM events
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY key
            ORDER BY seq_us DESC,
                     (op = 'delete') DESC,
                     event_id DESC
        ) AS rn
        FROM feed
    )
    SELECT key, op AS final_op, seq_us, event_id
    FROM ranked WHERE rn = 1
"""


@query("cdc_resolution_probe", _PROBE_SQL)
def cdc_resolution_probe(spark, sf_dir: str) -> DataFrame:
    """The CDC winner-resolution math as a stateless, driver-verifiable
    query: events replayed as a change feed (purchases play deletes,
    everything else upserts; the timestamp is the sequence), resolved
    highest-seq-wins per user with the delete-beats-upsert /
    unique-id tie order. Output = each key's final operation — the
    per-key decision ``apply_changes`` commits. One keyed window, the
    same single-shuffle shape as the warehouse path."""
    (events,) = tables(spark, sf_dir, "events")
    feed = events.select(
        F.col("user_id").alias("key"),
        F.unix_micros("ts").alias("seq_us"),
        F.when(F.col("event_type") == "purchase", F.lit(OP_DELETE))
        .otherwise(F.lit(OP_UPSERT))
        .alias("op"),
        "event_id",
    )
    w = Window.partitionBy("key").orderBy(
        F.col("seq_us").desc(),
        (F.col("op") == OP_DELETE).desc(),
        F.col("event_id").desc(),
    )
    return (
        feed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("key", F.col("op").alias("final_op"), "seq_us", "event_id")
    )


_REPLAY_SQL = """
    WITH feed AS (
        SELECT user_id AS key, epoch_us(ts) AS seq_us,
               CASE WHEN event_type = 'purchase' THEN 'delete'
                    ELSE 'upsert' END AS op,
               event_id,
               CASE WHEN ts >= TIMESTAMP '2024-01-20 00:00:00'
                    THEN 1 ELSE 2 END AS epoch
        FROM events
    ),
    w1 AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY key
                ORDER BY seq_us DESC, (op = 'delete') DESC, event_id DESC
            ) AS rn
            FROM feed WHERE epoch = 1
        ) WHERE rn = 1
    ),
    state1 AS (SELECT key, seq_us, event_id FROM w1 WHERE op = 'upsert'),
    tomb1 AS (SELECT key, seq_us AS tomb_seq FROM w1 WHERE op = 'delete'),
    w2 AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY key
                ORDER BY seq_us DESC, (op = 'delete') DESC, event_id DESC
            ) AS rn
            FROM feed WHERE epoch = 2
        ) WHERE rn = 1
    ),
    w2t AS (
        SELECT w2.key, w2.seq_us, w2.op, w2.event_id,
               (w2.op = 'upsert' AND t.tomb_seq IS NOT NULL
                AND t.tomb_seq >= w2.seq_us) AS suppressed
        FROM w2 LEFT JOIN tomb1 t ON w2.key = t.key
    ),
    combined AS (
        SELECT key, seq_us, 'upsert' AS op, event_id, 0 AS prec FROM state1
        UNION ALL
        SELECT key, seq_us, op, event_id, 1 AS prec
        FROM w2t WHERE NOT suppressed
    ),
    resolved AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY key ORDER BY seq_us DESC, prec DESC
            ) AS rn
            FROM combined
        ) WHERE rn = 1
    ),
    supp AS (
        SELECT key, CAST(COUNT(*) AS BIGINT) AS n_late_suppressed
        FROM w2t WHERE suppressed GROUP BY key
    ),
    live AS (SELECT * FROM resolved WHERE op <> 'delete'),
    keys AS (SELECT DISTINCT key FROM feed)
    SELECT k.key, r.event_id AS final_event_id, r.seq_us,
           CAST(COALESCE(s.n_late_suppressed, 0) AS BIGINT)
               AS n_late_suppressed
    FROM keys k
    LEFT JOIN live r ON k.key = r.key
    LEFT JOIN supp s ON k.key = s.key
"""


@query("cdc_replay_two_epochs", _REPLAY_SQL)
def cdc_replay_two_epochs(spark, sf_dir: str) -> DataFrame:
    """The full feed→apply→read round trip as a stateless,
    value-checked query (VERDICT r3 item 6): events split into two
    apply epochs by wall-clock arrival — epoch 1 (ts ≥ cutoff) lands
    first and records tombstones for its delete winners; epoch 2
    carries the LATE data (older sequences, delivered second). The
    program replays exactly what two successive ``apply_changes``
    calls commit: epoch-1 winners become stored state + tombstones,
    epoch-2 upsert winners are suppressed where a tombstone holds an
    equal-or-newer sequence, survivors resolve against stored rows
    highest-seq-wins with incoming-beats-stored on ties. Output = the
    warehouse read after both applies, plus each key's suppressed
    late-upsert count — the tombstone math is IN the value hash."""
    (events,) = tables(spark, sf_dir, "events")
    feed = events.select(
        F.col("user_id").alias("key"),
        F.unix_micros("ts").alias("seq_us"),
        F.when(F.col("event_type") == "purchase", F.lit(OP_DELETE))
        .otherwise(F.lit(OP_UPSERT))
        .alias("op"),
        "event_id",
        F.when(
            F.col("ts") >= F.lit("2024-01-20 00:00:00").cast("timestamp"),
            F.lit(1),
        )
        .otherwise(F.lit(2))
        .alias("epoch"),
    )
    w = Window.partitionBy("key").orderBy(
        F.col("seq_us").desc(),
        (F.col("op") == OP_DELETE).desc(),
        F.col("event_id").desc(),
    )
    winners = (
        feed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    w1 = winners.filter(F.col("epoch") == 1)
    state1 = w1.filter(F.col("op") == OP_UPSERT).select(
        "key", "seq_us", "event_id"
    )
    tomb1 = w1.filter(F.col("op") == OP_DELETE).select(
        "key", F.col("seq_us").alias("tomb_seq")
    )
    # winners() is epoch-local: recompute over the epoch-2 slice alone
    w2 = (
        feed.filter(F.col("epoch") == 2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    w2t = _probe_tombstones(
        w2, tomb1, "key"
    ).withColumn(
        "suppressed",
        (F.col("op") == OP_UPSERT)
        & F.col("tomb_seq").isNotNull()
        & (F.col("tomb_seq") >= F.col("seq_us")),
    )
    combined = state1.select(
        "key", "seq_us", F.lit(OP_UPSERT).alias("op"), "event_id",
        F.lit(0).alias("prec"),
    ).unionByName(
        w2t.filter(~F.col("suppressed")).select(
            "key", "seq_us", "op", "event_id", F.lit(1).alias("prec")
        )
    )
    wr = Window.partitionBy("key").orderBy(
        F.col("seq_us").desc(), F.col("prec").desc()
    )
    resolved = (
        combined.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .filter(F.col("op") != OP_DELETE)
    )
    supp = (
        w2t.filter(F.col("suppressed"))
        .groupBy("key")
        .agg(F.count("*").alias("n_late_suppressed"))
    )
    # anchor on ALL feed keys: a deleted key must appear with a NULL
    # final state, or a suppressed-then-deleted key would vanish from
    # the output and take its suppression count out of the value hash
    keys = feed.select("key").distinct()
    return (
        keys.join(resolved.select("key", "event_id", "seq_us"), "key", "left")
        .join(supp, "key", "left")
        .select(
            "key",
            F.col("event_id").alias("final_event_id"),
            "seq_us",
            F.coalesce(F.col("n_late_suppressed"), F.lit(0))
            .cast("long")
            .alias("n_late_suppressed"),
        )
    )


def apply_changes(
    warehouse: ParquetWarehouse,
    table: str,
    changes: DataFrame,
    key: str = "_id",
    seq_col: str = "_seq",
    op_col: str = "_op",
    n_buckets: int | None = None,
    max_retries: int = 2,
) -> ApplyChangesStats:
    """Apply a sequenced change feed (upserts + deletes) to ``table``.

    The payload schema is ``changes`` minus ``op_col``; ``seq_col`` is
    stored with each row (it is the merge order column for every
    future comparison). Returns per-batch apply statistics.
    """
    last_exc: Exception | None = None
    for _ in range(max_retries + 1):
        try:
            return _apply_changes_once(
                warehouse, table, changes, key, seq_col, op_col, n_buckets
            )
        except ConcurrentWriteError as exc:
            last_exc = exc
    raise last_exc


def _apply_changes_once(
    warehouse: ParquetWarehouse,
    table: str,
    changes: DataFrame,
    key: str,
    seq_col: str,
    op_col: str,
    n_buckets: int | None,
) -> ApplyChangesStats:
    from qms_datawarehouse_spark.operators.transaction import (
        MultiTableTransaction,
    )

    if not changes.take(1):
        return ApplyChangesStats(0, 0, 0, 0)
    # NULL-safe: `~isin(...)` is NULL for a null op (three-valued
    # logic), which would slip past the filter, win its key's window,
    # and then be dropped by the `!= delete` filter — silently deleting
    # the stored row. A NULL sequence is equally poisonous downstream:
    # `__tomb_seq >= NULL` is NULL, so a null-seq upsert silently
    # vanishes at the suppression filter while the stats call it
    # applied, and a null-seq delete writes a tombstone that
    # `vacuum_tombstones` can never expire (`seq < min_seq` is NULL).
    # Both must fail validation loudly.
    bad = changes.filter(
        ~F.col(op_col).isin(OP_UPSERT, OP_DELETE)
        | F.col(op_col).isNull()
        | F.col(seq_col).isNull()
    )
    bad_row = bad.select(op_col, seq_col).take(1)
    if bad_row:
        raise ValueError(
            f"{op_col!r} must be '{OP_UPSERT}' or '{OP_DELETE}' and "
            f"{seq_col!r} must be non-null; got "
            f"(op={bad_row[0][0]!r}, seq={bad_row[0][1]!r})"
        )

    buckets = _resolve_buckets(warehouse, table, n_buckets)
    tomb = tombstone_table(table)

    win = with_bucket(_winners(changes, key, seq_col, op_col), key, buckets)
    win = win.persist()
    live = None
    try:
        # ONE driver action (pre-suppression) for the per-batch winner
        # stats AND the main table's bucket lists — the tombstone
        # probe's pruning and the touched set both derive from this
        # collect (a streaming epoch otherwise pays a job launch per
        # lookup). Suppression counts need the tombstone join, so the
        # tombstone probe pays exactly one more action below.
        stat_rows = win.groupBy(BUCKET_COL, op_col).count().collect()
        n_win = int(sum(r["count"] for r in stat_rows))
        n_del = int(
            sum(r["count"] for r in stat_rows if r[op_col] == OP_DELETE)
        )
        total_by_bucket: dict = {}
        for r in stat_rows:
            total_by_bucket[r[BUCKET_COL]] = (
                total_by_bucket.get(r[BUCKET_COL], 0) + r["count"]
            )
        touched_all = sorted(total_by_bucket)

        # ---- tombstone suppression of late upserts --------------------
        # Both bases are pinned before anything is read, the main one
        # first: a rival apply that commits a delete (main + tombstone
        # in one commit) after these reads fails the main table's CAS,
        # so this batch never resolves against a main version whose
        # tombstones its probe did not see. Probe only a tombstone
        # version holding rows (a directory listing, no job): absent
        # or emptied, it suppresses nothing.
        base, target = _pinned_target(warehouse, table, win.drop(op_col))
        tomb_base = warehouse.current_version_name(tomb)
        probe = tomb_base is not None and warehouse.has_data(tomb, tomb_base)
        if probe:
            # probe pruned to the batch's buckets (partition pruning at
            # the tombstone scan); no forced broadcast (_probe_tombstones)
            tombs = (
                warehouse.read(tomb, version=tomb_base)
                .filter(F.col(BUCKET_COL).isin(touched_all))
                .select(F.col(key), F.col(seq_col).alias("__tomb_seq"))
            )
            win_t = _probe_tombstones(win, tombs, key)
        else:
            win_t = win.withColumn("__tomb_seq", F.lit(None).cast("long"))
        suppressed = (F.col(op_col) == OP_UPSERT) & F.col(
            "__tomb_seq"
        ).isNotNull() & (F.col("__tomb_seq") >= F.col(seq_col))
        live = win_t.filter(~suppressed).drop("__tomb_seq").persist()

        supp_by_bucket: dict = {}
        if probe:
            # the tombstone path's one extra action: per-bucket
            # suppressed counts (deletes are never suppressed)
            for r in (
                win_t.filter(suppressed).groupBy(BUCKET_COL).count().collect()
            ):
                supp_by_bucket[r[BUCKET_COL]] = r["count"]
        n_suppressed = int(sum(supp_by_bucket.values()))
        n_up = n_win - n_del - n_suppressed
        touched = sorted(
            b
            for b, total in total_by_bucket.items()
            if total - supp_by_bucket.get(b, 0) > 0
        )
        stats = ApplyChangesStats(n_win, n_up, n_del, n_suppressed)
        if not touched:  # every upsert suppressed: nothing changes
            return stats

        # ---- resolve main table in its touched buckets ----------------
        contested = target.filter(F.col(BUCKET_COL).isin(touched))
        if seq_col not in contested.columns:
            # legacy rows without a sequence lose to any change
            contested = contested.withColumn(seq_col, F.lit(None).cast("long"))
        combined = contested.withColumn(op_col, F.lit(OP_UPSERT)).withColumn(
            "__prec", F.lit(0)
        ).unionByName(
            live.withColumn("__prec", F.lit(1)), allowMissingColumns=True
        )
        w = Window.partitionBy(key).orderBy(
            F.col(seq_col).desc_nulls_last(), F.col("__prec").desc()
        )
        resolved = (
            combined.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .filter(F.col(op_col) != OP_DELETE)  # winning delete ⇒ row gone
            .drop("__rn", "__prec", op_col)
        )

        # ---- main table + tombstones: one commit ----------------------
        # Tombstones are MONOTONE: the keyed merge ordered by seq_col
        # keeps the max delete sequence per key across stored ∪ batch,
        # so a redelivered OLDER delete cannot regress a tombstone and
        # re-admit a superseded upsert. Their commit CASes against the
        # version the probe read, not the one the merge staged on.
        txn = MultiTableTransaction(warehouse)
        try:
            txn.enlist(table, *warehouse._stage_version_partial(
                table, resolved, touched, base_version=base,
                table_meta={"n_buckets": buckets, "key": key, "order_col": seq_col},
            ))
            if n_del:
                version = _merge_upsert_once(
                    warehouse, tomb,
                    live.filter(F.col(op_col) == OP_DELETE).select(key, seq_col),
                    key, seq_col, buckets,
                )[2][0]
                txn.enlist(tomb, version, tomb_base)
        except BaseException:
            txn.abort()
            raise
        txn.commit()
        return stats
    finally:
        if live is not None:
            live.unpersist()
        win.unpersist()
