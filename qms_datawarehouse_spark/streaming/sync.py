"""Structured Streaming variant of the incremental sync engine.

The reference's streaming loop (async cursor → 5000-doc buffers →
upsert per batch, /root/reference/src/services/etl.py:226-240) maps to
Structured Streaming micro-batches with a ``foreachBatch`` keyed merge
(T1-T7):

- **T1 micro-batching**: the stream source chunks files/offsets into
  micro-batches (``maxFilesPerTrigger`` as the batch-size knob);
- **T2 checkpoint/resume**: Spark's checkpointLocation replaces the
  hand-rolled ``sync_metadata`` high-water mark — offsets commit only
  after the batch's merge completes;
- **T3 effectively-once**: the merge is idempotent by key, so replayed
  micro-batches collapse — same story as the reference's ON CONFLICT
  upsert;
- **T5 late data**: unlike the reference's strict ``$gt`` (which loses
  equal-timestamp stragglers), a replayed or late row simply re-merges.

The transformation pipeline (normalize → lineage → merge) is shared
verbatim with the batch engine — one code path, two execution modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from qms_datawarehouse_spark.operators.merge import merge_upsert
from qms_datawarehouse_spark.transform import clean_records
from qms_datawarehouse_spark.warehouse import ParquetWarehouse

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _start(
    stream_df: DataFrame, process_batch, checkpoint_dir, available_now
) -> StreamingQuery:
    """Start ``process_batch`` as the ``foreachBatch`` sink of
    ``stream_df``: offsets commit only after it returns."""
    writer = stream_df.writeStream.foreachBatch(process_batch).outputMode(
        "update"
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_sync(
    spark: SparkSession,
    source_dir: str,
    warehouse: ParquetWarehouse,
    table: str,
    source_name: str = "stream",
    key: str = "event_id",
    cursor_col: str = "ts",
    checkpoint_dir: str | None = None,
    schema: T.StructType = EVENTS_SCHEMA,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Start a file-source stream that keeps ``table`` upserted.

    Each micro-batch runs the same normalize→lineage→merge pipeline as
    the batch engine; offsets commit after the merge's atomic swap, so
    a crash replays the batch into an idempotent sink (at-least-once
    delivery, effectively-once state).
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        cleaned = clean_records(batch_df, source_name=source_name)
        merge_upsert(warehouse, table, cleaned, key=key, order_col=cursor_col)

    return _start(stream, process_batch, checkpoint_dir, available_now=False)


def deduped_stream(
    spark: SparkSession,
    source_dir: str,
    key: str = "event_id",
    watermark: str = "1 hour",
    schema: T.StructType = EVENTS_SCHEMA,
) -> DataFrame:
    """Streaming exact dedup within the watermark horizon. This is
    the T5 fix the reference lacks: an equal-timestamp or replayed
    row inside the grace window collapses instead of duplicating —
    and state for keys older than the watermark is EVICTED, so memory
    is O(window), not O(stream).

    ``dropDuplicatesWithinWatermark``, not ``dropDuplicates``: with a
    plain ``dropDuplicates([key])`` the watermark only evicts state
    when the event-time column is part of the dedup key — on a
    key-only subset the state store grows forever (the classic
    unbounded-state trap). The WithinWatermark variant keys state on
    ``key`` alone AND expires each entry once the watermark passes
    its event time."""
    return (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark([key])
    )


def windowed_counts_stream(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "10 minutes",
    window_len: str = "1 hour",
    schema: T.StructType = EVENTS_SCHEMA,
) -> DataFrame:
    """Streaming tumbling-window aggregation with late-data handling
    (T9 + T5): watermark bounds state, windows finalize once the
    watermark passes — the grace period the reference lacks."""
    from pyspark.sql import functions as F

    return (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_ingest(
    stream_df: DataFrame,
    warehouse: ParquetWarehouse,
    kernel,
    id_col: str,
    payload_col: str,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    on_result=None,
) -> StreamingQuery:
    """Streaming ingestion through an admission gate: every
    micro-batch of ``stream_df`` (any streaming source carrying
    ``id_col`` and ``payload_col``) runs ``incremental_dedup.admit``
    with ``kernel`` — ``incremental_dedup.MINHASH_GATE``,
    ``phash_gate.IMAGE_GATE`` / ``AUDIO_GATE`` or
    ``semantic_gate.SEMANTIC_GATE``, other tables via
    ``dataclasses.replace``. ``id_col`` must be castable to long (the
    corpus key); an epoch carrying a non-numeric or NULL id fails
    loudly before any write.

    Delivery: at-least-once replay into convergent state. A replayed
    batch's rows are already stored; the probe skips self-pairs by id
    inequality and the commit replaces rows by id, so replays collapse
    (effectively-once, T3) exactly like the batch engine's sync.

    ``on_result(epoch_id, GateResult)`` observes per-epoch admission
    stats (accepted/rejected/pairs) without a second scan of anything.
    """
    from pyspark.sql import functions as F

    from qms_datawarehouse_spark.operators.incremental_dedup import admit

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # a non-numeric source id ('doc-1') would either throw an
        # opaque executor-side CAST_INVALID_INPUT (ANSI mode) or cast
        # to NULL and collapse every such row onto ONE NULL corpus key
        # (non-ANSI) — and a genuinely NULL source id collapses the
        # same way. try_cast of a NULL input yields NULL, so this one
        # probe catches both; the epoch fails before any write
        # (offsets don't commit, nothing is lost).
        bad_row = (
            batch_df.filter(F.col(id_col).try_cast("long").isNull())
            .select(id_col)
            .take(1)
        )
        if bad_row:
            raise ValueError(
                f"{kernel.op} requires numeric {id_col!r} values; "
                f"got {bad_row[0][0]!r} (epoch {epoch_id})"
            )
        res = admit(
            warehouse,
            kernel,
            batch_df.select(
                F.col(id_col).try_cast("long").alias(kernel.id_col),
                F.col(payload_col).alias(kernel.payload_col),
            ),
        )
        if on_result is not None:
            on_result(epoch_id, res)

    return _start(stream_df, process_batch, checkpoint_dir, available_now)


def stream_apply_changes(
    stream_df: DataFrame,
    warehouse: ParquetWarehouse,
    table: str,
    key: str = "_id",
    seq_col: str = "_seq",
    op_col: str = "_op",
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    on_stats=None,
) -> StreamingQuery:
    """Streaming CDC apply: every micro-batch of a sequenced change
    feed (upserts + deletes) resolves and commits through
    ``operators.cdc.apply_changes``. The T-contract carries over from
    stream_sync: offsets commit after the apply, and a replayed epoch
    converges (sequence comparison + tombstones make the apply
    idempotent AND out-of-order safe — a late epoch re-delivered
    around a delete cannot resurrect the row).

    ``on_stats(epoch_id, ApplyChangesStats)`` observes per-epoch
    apply counts (upserts/deletes/suppressed)."""
    from qms_datawarehouse_spark.operators.cdc import apply_changes

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        stats = apply_changes(
            warehouse, table, batch_df, key=key, seq_col=seq_col,
            op_col=op_col,
        )
        if on_stats is not None:
            on_stats(epoch_id, stats)

    return _start(stream_df, process_batch, checkpoint_dir, available_now)


def stream_split_sync(
    spark: SparkSession,
    source_dir: str,
    warehouse: ParquetWarehouse,
    accept_table: str,
    quarantine_table: str,
    accept_predicate: str,
    source_name: str = "stream",
    key: str = "event_id",
    cursor_col: str = "ts",
    checkpoint_dir: str | None = None,
    schema: T.StructType = EVENTS_SCHEMA,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Expectations-style split sync: every micro-batch routes rows
    passing ``accept_predicate`` (a SQL boolean expression) into
    ``accept_table`` and the rest into ``quarantine_table`` — and
    PUBLISHES BOTH ATOMICALLY, so a monitor joining accept-vs-quarantine
    counts never sees a batch half-applied (the DLT expectations
    pattern, with the cross-table torn-commit window closed).

    Each epoch is one ``merge_upsert_atomic`` call: the same
    order-aware keyed merge as stream_sync, into ``_bucket``-partitioned
    tables, with both tables' touched buckets staged against the
    versions they were resolved from and flipped in one commit (an
    absent table is created inside it). An epoch with no rows for a
    table leaves that table unchanged. A table written unpartitioned
    (no ``_bucket`` column — the layout of the earlier full-rewrite
    form of this sync) is rebucketed whole by the first epoch with
    rows for it, inside that epoch's commit. A replayed epoch
    re-merges idempotently (T3); offsets commit only after the
    commit, so a crash replays into idempotent state."""
    from pyspark.sql import functions as F

    from qms_datawarehouse_spark.operators.merge import merge_upsert_atomic

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        cleaned = clean_records(batch_df, source_name=source_name)
        ok = F.expr(accept_predicate)
        merge_upsert_atomic(
            warehouse,
            {
                accept_table: cleaned.filter(ok),
                quarantine_table: cleaned.filter(~ok),
            },
            key=key,
            order_col=cursor_col,
        )

    return _start(stream, process_batch, checkpoint_dir, available_now=False)
