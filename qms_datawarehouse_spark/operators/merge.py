"""Keyed upsert (merge) — the reference's centerpiece operator.

Reference: staging-table upsert ``INSERT ... ON CONFLICT ("_id") DO
UPDATE SET col = EXCLUDED.col`` (/root/reference/src/services/etl.py:
17-87) — i.e. *last-write-wins by key*, create-table-on-first-write,
fail-hard on error.

Spark-first design (no transactional format in this image):

1. **In-batch dedup**: keep the newest row per key, deterministic
   tie-break (D1; the reference collapses replays onto the PK the same
   way, last statement wins).
2. **Create-on-first-write** (S11 parity, etl.py:31-49): first batch
   writes a bucketed version and persists ``n_buckets`` in the table's
   ``_META.json`` — later merges validate against it instead of
   trusting the caller (a mismatched bucket count re-hashes keys into
   different dirs and would strand stale rows). The commit records it
   under the table lock, so only the creator that wins writes it. A
   table written unbucketed (``stream_split_sync`` before it merged
   by key) is rebucketed whole by its next merge, in that commit.
3. **Partial merge**: the target is hash-bucketed on the key into
   ``_bucket`` partition dirs (see warehouse.py). Only buckets present
   in the update batch are read AND written:

       touched   = distinct _bucket of updates             (tiny)
       contested = target pruned to touched buckets        (partition
                                                            pruning)
       resolved  = last-write-wins over contested ∪ updates
       write touched-bucket dirs; every untouched bucket dir is
       inherited from the previous version by hardlink
       (warehouse._stage_version_partial); one journaled commit
       (warehouse._commit) swaps the pointer.

   An incremental batch therefore costs O(touched-bucket bytes) of
   I/O — read and write — plus O(n_buckets) filesystem-metadata ops.
   At 100 TB / 8192 buckets a 5k-row batch reads and rewrites only the
   ~dozens of buckets its keys hash into; the other ~8k dirs are
   linked, not copied.
4. **Schema evolution**: ``unionByName(allowMissingColumns=True)`` —
   new source columns appear as nulls on old rows (the improvement over
   the reference, which silently relies on frames matching the table —
   SURVEY.md §4 note 3). Versions record their full schema
   (``_SCHEMA.json``) so inherited pre-evolution files read as nulls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qms_datawarehouse_spark.session import inherit_local_properties
from qms_datawarehouse_spark.warehouse import (
    BUCKET_COL,
    ConcurrentWriteError,
    ParquetWarehouse,
)

DEFAULT_BUCKETS = 32  # local[32] testing; set ~8192 for a 100 TB table


def dedup_last_write_wins(
    updates: DataFrame, key: str, order_col: str | None, tie_cols=None
) -> DataFrame:
    """Keep one row per key: newest by ``order_col``; full ties (same
    key, same cursor, different payload) are broken by a stable hash of
    the whole row, so the winner is deterministic (D1) — replaying the
    same batch always collapses to the same row, never to whichever row
    a shuffle happened to order first.

    ``tie_cols``: optional ordering Columns inserted between the cursor
    and the row hash (e.g. CDC's delete-beats-upsert rule) — callers
    with domain tie rules extend THIS resolution instead of forking it.

    One shuffle on ``key`` — the same shuffle the merge join needs, so
    Catalyst/AQE reuses the partitioning downstream.
    """
    if order_col is None or order_col not in updates.columns:
        return updates.dropDuplicates([key])
    row_hash = F.xxhash64(F.struct(*[F.col(c) for c in updates.columns]))
    w = Window.partitionBy(key).orderBy(
        F.col(order_col).desc_nulls_last(), *(tie_cols or []), row_hash.asc()
    )
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def with_bucket(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    """Stable hash-bucket column for co-located merge partitioning.

    xxhash64 is a fixed, seed-stable function — the bucket of a key
    never changes across batches, which is what makes bucket-pruned
    merges sound.
    """
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)))


def _resolve_buckets(
    warehouse: ParquetWarehouse, table: str, n_buckets: int | None
) -> int:
    """The table's persisted bucket count wins; an explicit caller
    value may only agree with it. New tables adopt the caller's value
    (or the default) and persist it."""
    meta = warehouse.read_meta(table) if warehouse.table_exists(table) else {}
    persisted = meta.get("n_buckets")
    if persisted is not None:
        if n_buckets is not None and int(n_buckets) != int(persisted):
            raise ValueError(
                f"table {table!r} is bucketed with n_buckets={persisted}; "
                f"merge called with n_buckets={n_buckets}"
            )
        return int(persisted)
    return int(n_buckets) if n_buckets is not None else DEFAULT_BUCKETS


def _pinned_target(
    warehouse: ParquetWarehouse, table: str, like: DataFrame
) -> tuple[str | None, DataFrame]:
    """``(base, target)`` for a keyed merge: the current version and a
    read pinned to it, or — before the table's first commit — None and
    an empty frame shaped like ``like``.

    Capture the base BEFORE reading: the commit CASes against it, so a
    writer landing anywhere in between flips the CAS instead of being
    silently resolved away in the touched buckets (the
    read-current/commit-against-newer TOCTOU)."""
    base = warehouse.current_version_name(table)
    if base is None:
        return None, like.limit(0)
    return base, warehouse.read(table, version=base)


def merge_upsert(
    warehouse: ParquetWarehouse,
    table: str,
    updates: DataFrame,
    key: str = "_id",
    order_col: str | None = "updated_at",
    n_buckets: int | None = None,
) -> int:
    """Upsert ``updates`` into ``table`` by ``key``. Returns rows merged.

    Empty-batch short-circuit (P6 parity, etl.py:23-24); fail-hard on
    error — no silent append fallback (etl.py:77-84).
    """
    return merge_upsert_stats(
        warehouse, table, updates, key=key, order_col=order_col,
        n_buckets=n_buckets,
    )[0]


def merge_upsert_stats(
    warehouse: ParquetWarehouse,
    table: str,
    updates: DataFrame,
    key: str = "_id",
    order_col: str | None = "updated_at",
    n_buckets: int | None = None,
    max_retries: int = 2,
) -> tuple[int, object]:
    """``merge_upsert`` returning ``(rows_merged, cursor_high_water)``.

    The high-water mark (A1) rides the SAME aggregation as the row
    count (A2) over the cached batch — the sync engine needs both, and
    computing the max in its own pass would scan the delta twice.

    Concurrent writers: the commit is a compare-and-swap on the base
    version (see ``write_version_partial``); on conflict the merge is
    recomputed against the winner's version — safe because the
    resolution is deterministic and order-aware (replaying the same
    batch over newer state can never regress it, T3). After
    ``max_retries`` conflicts it surfaces ``ConcurrentWriteError``.
    """
    last_exc: Exception | None = None
    for _ in range(max_retries + 1):
        try:
            n, hwm, staged = _merge_upsert_once(
                warehouse, table, updates, key, order_col, n_buckets
            )
            if staged is not None:
                warehouse._commit({table: staged})
            return n, hwm
        except ConcurrentWriteError as exc:
            last_exc = exc
    raise last_exc


def _merge_upsert_once(
    warehouse: ParquetWarehouse,
    table: str,
    updates: DataFrame,
    key: str,
    order_col: str | None,
    n_buckets: int | None,
) -> tuple[int, object, tuple[str, str | None] | None]:
    """One merge attempt, staged but not committed: ``(rows, hwm,
    staged)``, where ``staged`` is the new version's ``(version,
    base)`` for the caller's commit, or None for an empty batch."""
    buckets = _resolve_buckets(warehouse, table, n_buckets)
    batch = dedup_last_write_wins(updates, key, order_col)
    # Persist BEFORE any action: the dedup window + bucket hash compute
    # once; the stats/touched-bucket agg and the version write both
    # read the cache. try/finally: a ConcurrentWriteError commit would
    # otherwise leak one cached DataFrame per retry.
    batch = with_bucket(batch, key, buckets).persist()
    try:
        # ONE per-bucket aggregate serves what used to be THREE driver
        # actions per commit (a take(1) empty guard, a global
        # count/max-cursor agg, and a distinct-touched-bucket collect):
        # rows merged = Σ per-bucket counts, cursor high-water = max of
        # per-bucket maxes (max ignores nulls on both levels), touched
        # buckets = the group keys, empty batch = zero groups. The
        # collect stays bounded by n_buckets, never the batch. The old
        # take(1)-not-isEmpty caveat (QUERY_ONLY_CORRUPT_RECORD_COLUMN
        # on raw JSON scans) does not bite here: the dedup window's
        # row hash references every column, so the scan schema is
        # never pruned to zero data columns.
        has_cursor = order_col is not None and order_col in batch.columns
        aggs = [F.count(F.lit(1)).alias("n")]
        if has_cursor:
            aggs.append(F.max(order_col).alias("hwm"))
        stats = batch.groupBy(BUCKET_COL).agg(*aggs).collect()
        if not stats:  # empty batch short-circuit (P6)
            return 0, None, None
        n = sum(int(r["n"]) for r in stats)
        hwm = (
            max((r["hwm"] for r in stats if r["hwm"] is not None), default=None)
            if has_cursor
            else None
        )
        touched = [r[BUCKET_COL] for r in stats]

        # Create-on-first-write (S11): the batch resolves against no
        # rows, and the commit expects no table — a racing creator
        # fails the CAS and the retry merges into its version instead
        # of clobbering it.
        base, target = _pinned_target(warehouse, table, batch)
        legacy = BUCKET_COL not in target.columns
        if legacy:  # unbucketed layout: every row is contested
            contested = with_bucket(target, key, buckets)
        else:
            contested = target.filter(F.col(BUCKET_COL).isin(touched))

        if has_cursor:
            # Order-aware resolution: the newest row by cursor wins
            # across target ∪ updates, so an at-least-once replay (or an
            # out-of-order late batch) can never regress newer state —
            # the T3 effectively-once contract. Ties prefer the update.
            combined = contested.withColumn("__prec", F.lit(0)).unionByName(
                batch.withColumn("__prec", F.lit(1)), allowMissingColumns=True
            )
            w = Window.partitionBy(key).orderBy(
                F.col(order_col).desc_nulls_last(), F.col("__prec").desc()
            )
            resolved = (
                combined.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__prec")
            )
        else:
            # No cursor column: updates win unconditionally (the
            # reference's ON CONFLICT DO UPDATE — last statement wins).
            # Updates side of an incremental batch is small → broadcast.
            survivors = contested.join(
                F.broadcast(batch.select(key)), on=key, how="left_anti"
            )
            resolved = survivors.unionByName(batch, allowMissingColumns=True)

        # the bucket count becomes a table fact, not a per-call opinion
        facts = {"n_buckets": buckets, "key": key, "order_col": order_col}
        if legacy:
            return n, hwm, (
                warehouse._stage_version(
                    table, resolved, [BUCKET_COL], table_meta=facts
                ),
                base,
            )
        # Only the touched buckets are materialized; untouched bucket
        # dirs are hardlink-inherited from the PINNED base version —
        # the step that makes incremental cost O(touched), not
        # O(table) — and the commit CASes against that same base.
        return n, hwm, warehouse._stage_version_partial(
            table, resolved, touched, base_version=base, table_meta=facts
        )
    finally:
        batch.unpersist()


def merge_upsert_atomic(
    warehouse: ParquetWarehouse,
    batches: dict[str, DataFrame],
    key: str = "_id",
    order_col: str | None = "updated_at",
    n_buckets: int | None = None,
    max_retries: int = 2,
) -> dict[str, tuple[int, object]]:
    """Keyed upsert into SEVERAL tables as one atomic commit: each
    table's merge resolution stages an O(touched-bucket) incremental
    version (hardlink-inherited remainder), then every pointer flips
    together through the intent-journal transaction. Readers joining
    the tables never see one table's batch without the others' — the
    cross-collection analog of the reference's per-collection upsert
    loop (etl.py), minus its torn window.

    Each table's merge is staged on its own pool thread (at most
    ``defaultParallelism`` of them): the tables are independent until
    the commit, so one table's Spark jobs fill the executor slots the
    others' tails leave idle. Pool threads inherit the caller's Spark
    local properties (job group, description), and the staged versions
    are enlisted in the transaction on the caller thread.

    Conflict behaviour: if ANY table's base advances mid-transaction,
    the whole batch aborts (nothing visible) and is recomputed against
    the winners — the same retry-by-recompute as merge_upsert_stats,
    but all-or-nothing per attempt. An absent table is created inside
    the same commit; a table whose batch is empty is left unchanged.
    Returns {table: (rows, hwm)}.
    """
    from concurrent.futures import ThreadPoolExecutor

    from qms_datawarehouse_spark.operators.transaction import (
        MultiTableTransaction,
    )

    spark = warehouse.spark
    workers = max(1, min(len(batches), spark.sparkContext.defaultParallelism))
    last_exc: Exception | None = None
    for _ in range(max_retries + 1):
        with ThreadPoolExecutor(max_workers=workers) as pool:
            futures = {
                table: pool.submit(
                    inherit_local_properties(spark, _merge_upsert_once),
                    warehouse, table, updates, key, order_col, n_buckets,
                )
                for table, updates in sorted(batches.items())
            }
        txn = MultiTableTransaction(warehouse)
        stats: dict[str, tuple[int, object]] = {}
        errors: list[Exception] = []
        for table, future in futures.items():
            try:
                n, hwm, staged = future.result()
            except Exception as exc:  # noqa: BLE001 — re-raised below
                errors.append(exc)
                continue
            stats[table] = (n, hwm)
            if staged is not None:
                txn.enlist(table, *staged)
        if errors:
            # a staging failure: drop what the other tables staged.
            # abort() stays out of the commit path below — after the
            # journal is written, recovery needs the staged dirs.
            txn.abort()
            if not isinstance(errors[0], ConcurrentWriteError):
                raise errors[0]
            last_exc = errors[0]
            continue
        if not txn.staged:  # every batch empty — nothing to flip
            return stats
        try:
            txn.commit()
        except ConcurrentWriteError as exc:
            last_exc = exc  # commit() already removed the staged dirs
            continue
        return stats
    raise last_exc
