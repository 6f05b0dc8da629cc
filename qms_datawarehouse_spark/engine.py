"""Incremental sync engine — the reference's core lifecycle as one
lazy Spark plan.

Parity with ``sync_collection_streaming``
(/root/reference/src/services/etl.py:181-261):

    history STARTED row
    → checkpoint read                       (S8)
    → delta predicate updated_at > ckpt     (P1, pushed to the scan)
    → normalize (ids, nesting→JSON, lineage)
    → keyed upsert into warehouse table     (§2.10)
    → running-max(updated_at) checkpoint advance (A1)
    → history SUCCESS/FAILED row

Differences by design:
- the reference's async cursor + 5000-row buffers + thread offload
  (etl.py:226-240, 148-151) disappear — Spark's partitioned scan and
  executor parallelism own batching and overlap;
- the delta filter is *pushed down* by Catalyst (parquet min/max,
  connector predicates) exactly as the reference pushes ``$gt`` into
  MongoDB (etl.py:207-212) — verified in tests via PushedFilters;
- checkpoint advances only after the merge commits (swap completes),
  matching the at-least-once + idempotent-upsert story (T2/T3);
- ``delta_mode="ge_dedup"`` fixes the reference's lost-equal-timestamp
  edge (T5): re-read ``>=`` and let the keyed merge collapse replays;
- the bookkeeping (history rows, checkpoint marks) is O(collections)
  rows, so the driver writes it with pyarrow and it costs no Spark
  job; a multi-collection run writes one history file per phase
  (STARTED, then SUCCESS or FAILED), reads every mark once and
  commits every advanced mark as one checkpoint version — the Spark
  jobs of a sync cycle are its merges.
"""

from __future__ import annotations

import datetime as dt
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qms_datawarehouse_spark import observability
from qms_datawarehouse_spark.config import Settings
from qms_datawarehouse_spark.operators import checkpoint, history
from qms_datawarehouse_spark.operators.merge import merge_upsert_stats
from qms_datawarehouse_spark.transform import clean_records
from qms_datawarehouse_spark.warehouse import ParquetWarehouse


@dataclass
class SyncResult:
    source: str
    collection: str
    records_synced: int
    duration_sec: float
    message: str


def delta_filter(
    df: DataFrame, cursor_col: str, last_synced: dt.datetime | None, mode: str = "gt"
) -> DataFrame:
    """P1 temporal delta predicate. ``gt`` replicates the reference's
    strict ``$gt`` (etl.py:210-211); ``ge_dedup`` is the documented
    improvement (T5) — safe only in front of a keyed merge."""
    if last_synced is None:
        return df
    op = ">" if mode == "gt" else ">="
    return df.filter(F.expr(f"{cursor_col} {op} '{last_synced.isoformat()}'"))


def sync_dataframe(
    warehouse: ParquetWarehouse,
    source_df: DataFrame,
    source_name: str,
    collection: str,
    key: str = "_id",
    cursor_col: str = "updated_at",
    settings: Settings | None = None,
) -> SyncResult:
    """Run one incremental sync of ``source_df`` into warehouse table
    ``collection``. The reference's whole §3.1 lifecycle."""
    settings = settings or Settings()
    started = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    t0 = time.monotonic()
    history.record(warehouse, source_name, collection, "STARTED", started)
    try:
        last = checkpoint.get_last_synced(warehouse, source_name, collection)

        # JSON sources surface ISO-8601 cursors as strings (Spark's
        # JSON reader does not infer timestamps by default). The
        # checkpoint contract is temporal (reference db.py:43-50:
        # last_synced_at TIMESTAMP), so coerce once here — BEFORE the
        # delta filter, not after it (round-13 audit): filtering the
        # raw string column compared cursor values LEXICOGRAPHICALLY
        # against the checkpoint's isoformat, which silently LOSES
        # rows whose string order disagrees with their temporal order
        # — e.g. an offset cursor '2024-01-01T23:30:00-02:00'
        # (= 01:30 UTC next day) sorts before a '2024-01-02T00:00:00'
        # checkpoint and never syncs. Cast first and the comparison is
        # temporal; the merge's running max() then yields a datetime
        # and the stored table carries a typed timestamp like the
        # reference's column.
        from pyspark.sql import types as T

        src = source_df
        if cursor_col in src.columns and isinstance(
            src.schema[cursor_col].dataType, T.StringType
        ):
            src = src.withColumn(
                cursor_col, F.col(cursor_col).cast("timestamp")
            )

        delta = delta_filter(src, cursor_col, last, settings.delta_mode)
        cleaned = clean_records(delta, source_name=source_name)

        # The checkpoint contract REQUIRES the cursor column — fail
        # hard (etl.py:77-84: no silent fallback), leaving a FAILED
        # history row via the except path below.
        if cursor_col not in cleaned.columns:
            raise ValueError(
                f"cursor column {cursor_col!r} missing from delta for "
                f"{source_name}.{collection}"
            )

        # A1 rides the merge's own count aggregation (merge_upsert_stats)
        # — no separate max() pass over the delta.
        n, hwm = merge_upsert_stats(
            warehouse, collection, cleaned, key=key, order_col=cursor_col
        )

        if hwm is not None:
            checkpoint.set_last_synced(warehouse, source_name, collection, hwm)

        duration = time.monotonic() - t0
        msg = f"Synced {n} rows from {source_name}.{collection} in {duration:.2f}s"
        history.record(
            warehouse,
            source_name,
            collection,
            "SUCCESS",
            started,
            completed_at=dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
            records_synced=n,
            message=msg,
        )
        observability.record_sync_metrics(
            observability.METRICS, source_name, collection, "SUCCESS", n, duration
        )
        observability.log_event(
            "sync_success", source=source_name, collection=collection,
            records=n, duration_sec=round(duration, 3),
        )
        return SyncResult(source_name, collection, n, duration, msg)
    except Exception as exc:  # fail hard, but leave an audit trail
        history.record(
            warehouse,
            source_name,
            collection,
            "FAILED",
            started,
            completed_at=dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
            message=str(exc)[:500],
        )
        observability.record_sync_metrics(
            observability.METRICS, source_name, collection, "FAILED",
            0, time.monotonic() - t0,
        )
        observability.log_event(
            "sync_failed", source=source_name, collection=collection,
            error=str(exc)[:200],
        )
        raise


def sync_all(
    warehouse: ParquetWarehouse,
    sources: dict[str, DataFrame],
    collection: str,
    **kwargs,
) -> list[SyncResult]:
    """T7 multi-source fan-in: sequential per-source keyed upsert into
    one table, independent checkpoints per source name — with
    per-source exception ISOLATION (parity: src/main.py:40-43 — one
    failing source must not block the rest). Failures surface as
    zero-row results with a FAILED message; the audit trail already
    holds the FAILED history row from sync_dataframe's except path."""
    results = []
    for name, df in sources.items():
        try:
            results.append(
                sync_dataframe(warehouse, df, name, collection, **kwargs)
            )
        except Exception as exc:  # noqa: BLE001 — isolate per source
            results.append(
                SyncResult(
                    source=name,
                    collection=collection,
                    records_synced=0,
                    duration_sec=0.0,
                    message=f"FAILED: {exc}"[:500],
                )
            )
    return results


def reload_all_atomic(
    warehouse: ParquetWarehouse,
    frames: dict[str, DataFrame],
    source_name: str,
) -> list[SyncResult]:
    """D2 destructive reload across SEVERAL collections as ONE atomic
    unit: every table's fresh snapshot is staged invisibly, then all
    ``_CURRENT`` pointers flip together (operators/transaction.py).

    The reference reloads collections one Postgres table at a time
    (etl.py loops collections; dump.py:22-31 per-table if_exists=
    'replace'), so a crash mid-run serves reports that join a fresh
    tickets table against last night's staff table. Here that torn
    state is impossible: readers see all old tables or all new ones —
    and if a concurrent writer advanced any table mid-reload, the
    whole batch aborts with ``ConcurrentWriteError`` and NOTHING is
    replaced (the per-source isolation of ``sync_all`` is exactly
    wrong for reloads: half-applied is the failure mode, not the
    fallback).

    History rows land after the commit (one SUCCESS per table, or one
    FAILED per table on abort), keeping the audit trail consistent
    with what is actually visible."""
    from qms_datawarehouse_spark.operators.transaction import (
        MultiTableTransaction,
    )

    started = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    t0 = time.monotonic()
    txn = MultiTableTransaction(warehouse)
    counts: dict[str, int] = {}
    try:
        for table, df in sorted(frames.items()):
            counts[table] = df.count()
            txn.stage_write(table, df)
        txn.commit()
    except Exception as exc:  # noqa: BLE001 — abort is all-or-nothing
        txn.abort()
        _record_failed(warehouse, source_name, sorted(frames), started, exc)
        raise
    duration = time.monotonic() - t0
    results = [
        SyncResult(
            source=source_name,
            collection=table,
            records_synced=counts[table],
            duration_sec=duration,
            message=f"Atomically reloaded {counts[table]} rows",
        )
        for table in sorted(frames)
    ]
    _record_success(warehouse, results, started)
    return results


def _record_success(
    warehouse: ParquetWarehouse, results: list[SyncResult], started: dt.datetime
) -> None:
    """One SUCCESS history row per result, written as one file."""
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    history.append(
        warehouse,
        [
            history.entry(
                r.source, r.collection, "SUCCESS", started,
                completed_at=now, records_synced=r.records_synced,
                message=r.message,
            )
            for r in results
        ],
    )


def _record_failed(
    warehouse: ParquetWarehouse,
    source_name: str,
    tables: list[str],
    started: dt.datetime,
    exc: Exception,
) -> None:
    """One FAILED history row per table, written as one file."""
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    history.append(
        warehouse,
        [
            history.entry(
                source_name, table, "FAILED", started,
                completed_at=now, message=str(exc)[:500],
            )
            for table in tables
        ],
    )


def sync_collections_atomic(
    warehouse: ParquetWarehouse,
    frames: dict[str, DataFrame],
    source_name: str,
    key: str = "_id",
    cursor_col: str = "updated_at",
    settings: Settings | None = None,
) -> list[SyncResult]:
    """The reference's whole multi-collection run (etl.py loops
    collections, each upserting independently) as ONE atomic unit:
    per-collection checkpoint read → delta filter → normalize, then a
    cross-table transactional merge (merge_upsert_atomic) — every
    collection's batch becomes visible together. Checkpoints and
    history advance only AFTER the joint commit, so a crash replays
    all collections from their previous cursors into idempotent
    merges; a conflict aborts all collections unapplied.

    Use when downstream queries JOIN the synced collections (tickets ⋈
    staff ⋈ ratings — the flagship) and a half-applied run would serve
    cross-table nonsense; keep ``sync_all``'s per-source isolation for
    independent tables."""
    from qms_datawarehouse_spark.operators.merge import merge_upsert_atomic

    settings = settings or Settings()
    started = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    t0 = time.monotonic()
    from pyspark.sql import types as T

    tables = sorted(frames)
    history.append(
        warehouse,
        [history.entry(source_name, t, "STARTED", started) for t in tables],
    )
    try:
        marks = checkpoint.get_marks(warehouse, source_name)
        batches: dict[str, DataFrame] = {}
        for table in tables:
            delta = delta_filter(
                frames[table], cursor_col, marks.get(table),
                settings.delta_mode,
            )
            cleaned = clean_records(delta, source_name=source_name)
            if cursor_col not in cleaned.columns:
                raise ValueError(
                    f"cursor column {cursor_col!r} missing from delta for "
                    f"{source_name}.{table}"
                )
            if isinstance(cleaned.schema[cursor_col].dataType, T.StringType):
                cleaned = cleaned.withColumn(
                    cursor_col, F.col(cursor_col).cast("timestamp")
                )
            batches[table] = cleaned
        stats = merge_upsert_atomic(
            warehouse, batches, key=key, order_col=cursor_col
        )
    except Exception as exc:  # all-or-nothing: every table FAILED
        _record_failed(warehouse, source_name, tables, started, exc)
        raise

    duration = time.monotonic() - t0
    checkpoint.set_marks(
        warehouse,
        source_name,
        {t: hwm for t, (_, hwm) in stats.items() if hwm is not None},
    )
    results = [
        SyncResult(
            source_name, t, stats[t][0], duration,
            f"Atomically synced {stats[t][0]} rows from {source_name}.{t}",
        )
        for t in tables
    ]
    _record_success(warehouse, results, started)
    return results
