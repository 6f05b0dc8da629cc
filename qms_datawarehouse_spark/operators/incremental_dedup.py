"""Admission gates: admit a NEW batch against the stored corpus
without rescanning it.

Full-corpus dedup (``dedup_minhash_lsh``) is a batch job; a live
pipeline needs the streaming form — "is this incoming document a
near-dup of anything we already accepted?" — at cost proportional to
the batch, not the corpus. ``admit`` is that form, written once for
every gate; a ``GateKernel`` holds what differs between them. The
gates: MinHash text (``ingest_dedup``, here), dHash image and audio
fingerprint (operators/phash_gate.py), SemDeDup embeddings
(operators/semantic_gate.py).

The band gates (MinHash, dHash, audio) share one storage design:

- a persistent **band index** table ``(doc_id, band_id, bv)``
  physically partitioned by ``pmod(xxhash64(bv), B)`` — the column
  the PROBE joins on;
- candidates = the batch's band rows (broadcast) ⋈ the index
  restricted to the batch's bv-partitions — partition-dir pruning
  means the probe READS O(batch) index buckets, never the corpus,
  and the index never shuffles;
- exact verify reads ONLY the candidate stored docs (semi-join fetch
  from the corpus table);
- in-batch near-dups resolve canonically (lowest doc_id wins) before
  the batch touches the corpus.

At 100 TB the index is the only thing probed per batch, and the probe
reads exactly the bv-partitions the batch's bands hash into — raise
``INDEX_BV_BUCKETS`` with corpus size to keep per-partition fan-in
bounded.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field, replace
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qms_datawarehouse_spark.operators.merge import _merge_upsert_once
from qms_datawarehouse_spark.operators.transaction import MultiTableTransaction
from qms_datawarehouse_spark.warehouse import BUCKET_COL, ParquetWarehouse

# NOTE: dedup kernels (_shingled, minhash_bands, JACCARD_THRESHOLD)
# import lazily inside functions — a module-level import here forms a
# cycle when a user imports operators.dedup directly (dedup → registry
# → plans/__init__ → this module → dedup, partially initialized).

CORPUS_TABLE = "corpus_docs"
INDEX_TABLE = "corpus_lsh"
BVB_COL = "_bvb"
INDEX_BV_BUCKETS = 64  # ≈ thousands at 100 TB (bounded probe fan-in)


@dataclass
class GateResult:
    n_batch: int
    n_accepted: int
    n_rejected: int
    # (new_id, matched_id[, score]) — report only, capped at
    # ``max_rejects`` pairs; the counts stay exact
    rejected: list = field(default_factory=list)
    rejects_truncated: bool = False
    # EXACT distinct rejected ids, sorted — O(batch) driver memory by
    # construction (ids, never pairs), so consumers filtering the
    # batch (the curate CLI) need not uncap the pair report
    rejected_ids: list = field(default_factory=list)


@dataclass(frozen=True)
class GateKernel:
    """What one admission gate adds to ``admit``.

    - ``project(batch)``: the batch columns the gate reads and stores;
      ``id_col`` keys them and ``payload_col`` carries the content.
    - ``features(rows, book)``: ``id_col`` + feature columns (``book``
      is the trained codebook for gates that keep one, else None).
    - ``keys(features)``: candidate-key rows ``(id_col, *key_cols)``;
      two rows sharing every key column are a candidate pair.
    - ``verify(cand, new, old)``: the (new_id, old_id[, score]) pairs
      of ``cand`` that are true near-dups.
    - ``part()``: a key row's partition of the probed table, stored in
      ``part_col``.

    With ``index_table`` the corpus is bucketed on ``_id`` and the
    key rows live in that index; without it the corpus is partitioned
    by ``part_col`` and probed directly. ``keep_payload``: the corpus
    stores the projected batch rows (features are re-derived from
    them); otherwise it stores the feature rows. ``book_table`` holds
    a codebook ``train(batch, n_batch)`` fits on the first batch."""

    op: str
    id_col: str
    payload_col: str
    noun: str
    project: Callable[[DataFrame], DataFrame]
    features: Callable[[DataFrame, DataFrame | None], DataFrame]
    keys: Callable[[DataFrame], DataFrame]
    key_cols: tuple[str, ...]
    part_col: str
    part: Callable[[], Column]
    verify: Callable[[DataFrame, DataFrame, DataFrame], DataFrame]
    corpus_table: str
    index_table: str | None = None
    keep_payload: bool = False
    book_table: str | None = None
    train: Callable[[DataFrame, int], DataFrame] | None = None


def _bounded_pair_report(df: DataFrame, room: int | None):
    """Bounded driver-side pair report: a deterministic (ordered)
    prefix of ``room`` (new_id, old_id, ...) rows plus a saw-more
    flag. Admission filters never read this — they stay anti-joins on
    the full DataFrame; only the human-facing report is capped."""
    if room is None:
        return [tuple(r) for r in df.collect()], False
    if room <= 0:
        return [], bool(df.take(1))
    rows = df.orderBy("new_id", "old_id").limit(room + 1).collect()
    return [tuple(r) for r in rows[:room]], len(rows) > room


def _candidates(
    k: GateKernel, new: DataFrame, old: DataFrame, id_rel
) -> DataFrame:
    """(new_id, old_id) for key rows sharing every key column whose
    ids satisfy ``id_rel(new_id, old_id)``. ``new`` holds the batch's
    key rows — tiny by contract, so they broadcast and ``old`` never
    shuffles."""
    n, o = F.col(f"n.{k.id_col}"), F.col(f"o.{k.id_col}")
    same_key = [F.col(f"n.{c}") == F.col(f"o.{c}") for c in k.key_cols]
    pairs = (
        old.alias("o")
        .join(F.broadcast(new).alias("n"), [*same_key, id_rel(n, o)])
        .select(n.alias("new_id"), o.alias("old_id"))
    )
    # an index holds several key rows per id, so one pair can match
    # more than once; rows of a corpus probed directly are one per id
    return pairs if k.index_table is None else pairs.distinct()


def admit(
    warehouse: ParquetWarehouse,
    kernel: GateKernel,
    batch: DataFrame,
    n_buckets: int = 64,
    max_rejects: int | None = 10_000,
) -> GateResult:
    """Admit the rows of ``batch`` that are not near-dups of the
    stored corpus or of a lower-id batch-mate; commit the admitted
    rows to every table the gate owns.

    Rejection rule (deterministic, every gate): a batch row is
    rejected iff a STORED row, or a LOWER-id batch row, shares a
    candidate key with it and passes ``verify``. Replay-safe: a
    re-sent admitted id pairs only with its own stored row, which the
    probe's id inequality skips, and the commit replaces rows by id —
    at-least-once delivery converges.

    Intra-batch id duplicates: byte-identical repeats of one row
    collapse BEFORE anything is hashed (at-least-once upstreams replay
    inside a micro-batch), so the counts speak in rows, not
    deliveries; the same id carrying DIFFERENT content in one batch
    has no deterministic winner and fails loudly before any write.

    ``max_rejects`` bounds the ``rejected`` pair REPORT riding back to
    the driver (a pathological all-dup batch otherwise collects one
    tuple per pair): the first ``max_rejects`` pairs in (new_id,
    old_id) order, with ``rejects_truncated`` set when there were
    more. ``n_accepted``, ``n_rejected`` and ``rejected_ids`` stay
    EXACT. ``None`` uncaps.

    Commit rule: every table the batch changes (corpus, index,
    codebook) is staged as a new version and all of them are
    published by ONE ``MultiTableTransaction`` commit, so readers and
    the next probe see the whole batch or none of it. A staging
    failure aborts the transaction (nothing visible); a crash inside
    the commit is rolled forward by ``recover_transactions``; a
    concurrent writer surfaces as ``ConcurrentWriteError`` with
    nothing visible, and a stream's replay re-runs the batch."""
    k, i = kernel, kernel.id_col
    batch = k.project(batch).dropDuplicates()
    # ONE aggregate serves the conflict gate AND the batch count; the
    # groupBy that names the offending id only runs on the rare
    # violation path
    stats = batch.agg(
        F.count(F.lit(1)).alias("n"),
        # count_distinct skips NULL ids; NULL-id rows form ONE group
        # under the groupBy gate, so add that group back before
        # comparing — a single NULL-id row must not trip the gate
        (
            F.count_distinct(F.col(i))
            + F.when(F.count(F.when(F.col(i).isNull(), 1)) > 0, 1).otherwise(0)
        ).alias("nd"),
    ).first()
    if stats["nd"] != stats["n"]:
        conflict = batch.groupBy(i).count().filter(F.col("count") > 1).take(1)
        raise ValueError(
            f"{k.op}: {i} {conflict[0][0]!r} appears in this batch with "
            f"more than one distinct {k.noun} — no deterministic winner; "
            "dedupe upstream"
        )
    n_batch = stats["n"]
    if n_batch == 0:
        return GateResult(0, 0, 0)

    cached: list[DataFrame] = []

    def cache(df: DataFrame) -> DataFrame:
        cached.append(df.persist())
        return df

    try:
        book = new_book = None
        if k.book_table is not None:
            if warehouse.table_exists(k.book_table):
                book = warehouse.read(k.book_table)
            else:
                book = new_book = cache(k.train(batch, n_batch))
        feat = cache(k.features(batch, book))
        keys = cache(k.keys(feat))
        # the batch is the small side by contract: every join against
        # its features broadcasts them, so the other side never shuffles
        small = F.broadcast(feat)

        # -- in-batch canonicalization: lowest id survives -------------
        in_batch = cache(
            k.verify(_candidates(k, keys, keys, operator.gt), small, small)
        )
        pairs, ids = in_batch, in_batch.select("new_id")

        # -- probe of the stored state ---------------------------------
        probe_table = k.index_table or k.corpus_table
        if warehouse.table_exists(probe_table):
            # the probed table is partitioned by a key-derived column:
            # filtering on it prunes whole directories, so the probe
            # READS only the partitions the batch's keys fall in —
            # O(batch), not O(corpus)
            touched = [
                r[0] for r in keys.select(k.part()).distinct().collect()
            ]
            probe = warehouse.read(probe_table).filter(
                F.col(k.part_col).isin(touched)
            )
            cand = _candidates(k, keys, probe, operator.ne)
            old = probe  # a corpus probed directly holds the features
            if k.index_table is not None:
                # exact verify reads ONLY the candidate stored rows
                old = warehouse.read(k.corpus_table).join(
                    F.broadcast(cand.select(F.col("old_id").alias(i)).distinct()),
                    i,
                    "left_semi",
                )
            if k.keep_payload:
                old = k.features(old, book)
            cross = cache(k.verify(cand, small, old))
            # an id rejected in-batch is reported under that pairing
            # only; the id set below still takes every rejection
            pairs = pairs.unionByName(cross.join(ids, "new_id", "left_anti"))
            ids = ids.unionByName(cross.select("new_id"))

        rejected, truncated = _bounded_pair_report(pairs, max_rejects)
        # cached: the commit's anti-joins read it again. One bounded
        # collect serves both the exact count and the exact id report
        # (ids are <= batch size — never the pair report's quadratic
        # worst case)
        ids = cache(ids.distinct().withColumnRenamed("new_id", i))
        rejected_ids = sorted(r[0] for r in ids.collect())
        n_accepted = n_batch - len(rejected_ids)
        if n_accepted or new_book is not None:
            _commit(
                warehouse, k, batch if k.keep_payload else feat, keys, ids,
                new_book, n_buckets,
            )
        return GateResult(
            n_batch, n_accepted, len(rejected_ids), sorted(rejected),
            truncated, rejected_ids,
        )
    finally:
        for df in cached:
            df.unpersist()


def _commit(
    warehouse: ParquetWarehouse,
    k: GateKernel,
    rows: DataFrame,
    keys: DataFrame,
    rejected: DataFrame,
    new_book: DataFrame | None,
    n_buckets: int,
) -> None:
    """Stage every table the batch changes, then publish them with one
    commit (the rule in ``admit``). ``abort`` covers staging failures
    only: once the journal is written, recovery needs the staged
    dirs."""
    rows = rows.join(rejected, k.id_col, "left_anti")
    txn = MultiTableTransaction(warehouse)
    try:
        if new_book is not None:
            txn.stage_write(k.book_table, new_book, expect_base=None)
        if k.index_table is None:
            _stage_replace(warehouse, txn, k, k.corpus_table, rows)
        else:
            stale = _stale_parts(warehouse, k, rows, n_buckets)
            _stage_corpus(warehouse, txn, k, rows, n_buckets)
            entries = keys.join(rejected, k.id_col, "left_anti")
            _stage_replace(
                warehouse, txn, k, k.index_table,
                entries.withColumn(k.part_col, k.part()), stale,
            )
    except BaseException:
        txn.abort()
        raise
    txn.commit()


def _stage_corpus(
    warehouse: ParquetWarehouse,
    txn: MultiTableTransaction,
    k: GateKernel,
    rows: DataFrame,
    n_buckets: int,
) -> None:
    """Keyed upsert of ``rows`` into the ``_id``-bucketed corpus
    (re-ingested ids replace their row), staged in ``txn``."""
    rows = rows.withColumn("_id", F.col(k.id_col).cast("string"))
    staged = _merge_upsert_once(
        warehouse, k.corpus_table, rows, "_id", None, n_buckets
    )[2]
    txn.enlist(k.corpus_table, *staged)


def _stale_parts(
    warehouse: ParquetWarehouse, k: GateKernel, rows: DataFrame, n_buckets: int
) -> DataFrame | None:
    """Index partitions of the replaced content of re-ingested ids.
    The corpus row of an accepted id already stored is about to be
    upserted, so its index rows — derived from the OLD content — must
    go, or near-dups of the new content probe stale keys (and
    near-dups of the replaced content keep matching it). The kernels
    are deterministic, so re-deriving the old keys from the stored
    rows pins exactly which partitions hold them. The corpus read is
    bucket-pruned to the accepted ids' buckets — O(batch), not
    O(corpus); with nothing re-ingested it yields zero rows."""
    if not warehouse.table_exists(k.corpus_table):
        return None
    buckets = int(warehouse.read_meta(k.corpus_table).get("n_buckets", n_buckets))
    acc_buckets = [
        r[0]
        for r in rows.select(
            F.pmod(F.xxhash64(F.col(k.id_col).cast("string")), F.lit(buckets))
        )
        .distinct()
        .collect()
    ]
    prior = (
        warehouse.read(k.corpus_table)
        .filter(F.col(BUCKET_COL).isin(acc_buckets))
        .join(rows.select(k.id_col), k.id_col, "left_semi")
    )
    if k.keep_payload:
        prior = k.features(prior, None)
    return k.keys(prior).select(k.part().alias(k.part_col))


def _stage_replace(
    warehouse: ParquetWarehouse,
    txn: MultiTableTransaction,
    k: GateKernel,
    table: str,
    rows: DataFrame,
    stale_parts: DataFrame | None = None,
) -> None:
    """Stage ``rows`` into ``table`` (partitioned by ``k.part_col``):
    every stored row of their ids in the touched partitions is
    replaced, so a replayed batch rewrites identical content. The
    partitions in ``stale_parts`` are touched too. Maintenance stays
    O(touched partitions): the rest is hardlink-inherited from the
    base version the commit CASes against."""
    parts = rows.select(k.part_col)
    if stale_parts is not None:
        parts = parts.unionByName(stale_parts)
    touched = [r[0] for r in parts.distinct().collect()]
    base = warehouse.current_version_name(table)
    if base is not None:
        rows = (
            warehouse.read(table, version=base)
            .filter(F.col(k.part_col).isin(touched))
            .join(rows.select(k.id_col), k.id_col, "left_anti")
            .unionByName(rows)
        )
    txn.stage_write_partial(
        table, rows, touched, partition_col=k.part_col, base_version=base
    )


# --------------------------------------------------------------------
# The MinHash gate
# --------------------------------------------------------------------


def _verify_pairs(
    cand: DataFrame, new_sh: DataFrame, old_sh: DataFrame
) -> DataFrame:
    """Exact Jaccard on shingle sets for candidate (new, old) pairs."""
    from qms_datawarehouse_spark.operators.dedup import JACCARD_THRESHOLD

    a = new_sh.select(F.col("doc_id").alias("new_id"), F.col("shingles").alias("sa"))
    b = old_sh.select(F.col("doc_id").alias("old_id"), F.col("shingles").alias("sb"))
    withsets = cand.join(a, "new_id").join(b, "old_id")
    c = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jacc = c * 1.0 / (F.size("sa") + F.size("sb") - c)
    return withsets.filter(jacc >= JACCARD_THRESHOLD).select(
        "new_id", "old_id", F.round(jacc, 4).alias("jaccard")
    )


def _shingles(docs: DataFrame, _book=None) -> DataFrame:
    from qms_datawarehouse_spark.operators.dedup import _shingled

    return _shingled(docs)


def _minhash_bands(sh: DataFrame) -> DataFrame:
    from qms_datawarehouse_spark.operators.dedup import minhash_bands

    return minhash_bands(sh)


def _bv_bucket(n: int = INDEX_BV_BUCKETS):
    """Physical partition for an index row: hash bucket of its band
    VALUE — the column the probe joins on, so probe reads prune to
    the batch's buckets."""
    return F.pmod(F.xxhash64(F.col("bv")), F.lit(n)).cast("int")


MINHASH_GATE = GateKernel(
    op="ingest_dedup",
    id_col="doc_id",
    payload_col="text",
    noun="row",
    project=lambda batch: batch,
    features=_shingles,
    keys=_minhash_bands,
    key_cols=("band_id", "bv"),
    part_col=BVB_COL,
    part=_bv_bucket,
    verify=_verify_pairs,
    corpus_table=CORPUS_TABLE,
    index_table=INDEX_TABLE,
    keep_payload=True,
)


def ingest_dedup(
    warehouse: ParquetWarehouse,
    batch: DataFrame,
    corpus_table: str = CORPUS_TABLE,
    index_table: str = INDEX_TABLE,
    n_buckets: int = 64,
    max_rejects: int | None = 10_000,
) -> GateResult:
    """Admit ``batch`` documents (``doc_id``, ``text``, …) that are
    not near-dups (shingle Jaccard >= 0.5 behind a MinHash band
    match) of the stored corpus or of a lower-id batch doc; the
    corpus keeps every batch column of the admitted rows. Contract
    and commit: ``admit``."""
    kernel = replace(MINHASH_GATE, corpus_table=corpus_table, index_table=index_table)
    return admit(warehouse, kernel, batch, n_buckets, max_rejects)
