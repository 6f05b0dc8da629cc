"""Perceptual-hash ingest gates: admit binary payloads that are not
image near-dups (dHash Hamming <= T) — or, with the audio kernel,
audio near-dups — of the stored corpus. The multimodal members of the
admission-gate family; ``incremental_dedup.admit`` runs them.

Storage layout mirrors the MinHash gate: a keyed corpus table holding
each payload's four 16-bit band integers (the hash IS the stored
state — payload bytes never persist here), plus a band-value index
physically partitioned by a bv-derived bucket so the per-batch probe
prunes to the batch's touched partitions — O(batch) reads at any
corpus size.

Reference capability analog: none (reference stores raw blobs in
Mongo, src/core/db.py:28-32; this is SURVEY §2.12's multimodal
dedup applied at ingest time).
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qms_datawarehouse_spark.operators.incremental_dedup import (
    BVB_COL,
    GateKernel,
    GateResult,
    _bv_bucket,
    admit,
)
from qms_datawarehouse_spark.warehouse import ParquetWarehouse

# NOTE: the dHash kernel imports lazily inside functions — a
# module-level import of operators.multimodal here forms a cycle when
# a user imports multimodal directly (multimodal → registry →
# plans/__init__ → this module → multimodal, partially initialized).

CORPUS_TABLE = "image_phash_corpus"
INDEX_TABLE = "image_phash_bands"
# the audio twin's state tables (same layout: four 16-bit band ints
# per payload + the bv-partitioned band index)
AUDIO_CORPUS_TABLE = "audio_fp_corpus"
AUDIO_INDEX_TABLE = "audio_fp_bands"


def _payloads(batch: DataFrame) -> DataFrame:
    """NULL content coalesces to b"" and both stub kernels are defined
    for empty payloads (all-zero bands — empty payloads are Hamming-0
    dups of each other), so every batch row is hashed,
    admitted-or-rejected, and counted — the EXACT-counts contract
    never silently drops a row."""
    return batch.select(
        "doc_id",
        F.coalesce(F.col("content").cast("binary"), F.lit(b"")).alias("content"),
    )


def _hash_with(kernel_name: str):
    """(doc_id, b0..b3) via an Arrow-batched banded-hash kernel of
    operators.multimodal — the same pluggable-decode seam the query
    rows use (stub byte-bigram grid / audio energy profile today, a
    real codec when the library exists)."""

    def features(payloads: DataFrame, _book=None) -> DataFrame:
        from qms_datawarehouse_spark.operators import multimodal

        return payloads.mapInPandas(
            getattr(multimodal, kernel_name), schema=multimodal.PHASH_SCHEMA
        )

    return features


def _band_rows(ph: DataFrame) -> DataFrame:
    """(doc_id, band_id, bv): four index rows per payload — the ONE
    shared band derivation (multimodal.band_rows), under the index
    column names every band gate uses."""
    from qms_datawarehouse_spark.operators.multimodal import band_rows

    return band_rows(ph, band_col="band_id", value_col="bv")


def _verify_hamming(cand: DataFrame, new_ph: DataFrame, old_ph: DataFrame) -> DataFrame:
    """Exact Hamming distance on the four band ints for candidate
    (new, old) pairs; keeps pairs at <= T. Banding is
    pigeonhole-lossless at T=3 (<= 3 differing bits leave >= 1 of 4
    bands exact), so the banded probe misses no true pair."""
    from qms_datawarehouse_spark.operators.multimodal import (
        _PHASH_BANDS,
        _PHASH_T,
    )

    a = new_ph.select(
        F.col("doc_id").alias("new_id"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(_PHASH_BANDS)],
    )
    b = old_ph.select(
        F.col("doc_id").alias("old_id"),
        *[F.col(f"b{i}").alias(f"c{i}") for i in range(_PHASH_BANDS)],
    )
    ham = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"c{i}")))
        for i in range(_PHASH_BANDS)
    )
    return (
        cand.join(a, "new_id")
        .join(b, "old_id")
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= _PHASH_T)
        .select("new_id", "old_id", "hamming")
    )


IMAGE_GATE = GateKernel(
    op="ingest_image_phash",
    id_col="doc_id",
    payload_col="content",
    noun="payload",
    project=_payloads,
    features=_hash_with("dhash_bands"),
    keys=_band_rows,
    key_cols=("band_id", "bv"),
    part_col=BVB_COL,
    part=_bv_bucket,
    verify=_verify_hamming,
    corpus_table=CORPUS_TABLE,
    index_table=INDEX_TABLE,
)
# chromaprint-style energy-delta bits (the dedup_audio_fingerprint
# row's fingerprint), packed as the same four 16-bit bands at T=3, so
# only the kernel and the tables differ
AUDIO_GATE = replace(
    IMAGE_GATE,
    op="ingest_audio_fingerprint",
    features=_hash_with("audio_fp_bands"),
    corpus_table=AUDIO_CORPUS_TABLE,
    index_table=AUDIO_INDEX_TABLE,
)


def ingest_image_phash(
    warehouse: ParquetWarehouse,
    batch: DataFrame,
    corpus_table: str = CORPUS_TABLE,
    index_table: str = INDEX_TABLE,
    n_buckets: int = 64,
    max_rejects: int | None = 10_000,
) -> GateResult:
    """Admit ``batch`` payloads (``doc_id``, ``content``) whose dHash
    is not within Hamming T of the stored corpus or of a lower-id
    batch-mate; upsert the admitted hashes and their index rows.
    Contract and commit: ``incremental_dedup.admit``."""
    kernel = replace(IMAGE_GATE, corpus_table=corpus_table, index_table=index_table)
    return admit(warehouse, kernel, batch, n_buckets, max_rejects)


def ingest_audio_fingerprint(
    warehouse: ParquetWarehouse,
    batch: DataFrame,
    corpus_table: str = AUDIO_CORPUS_TABLE,
    index_table: str = AUDIO_INDEX_TABLE,
    n_buckets: int = 64,
    max_rejects: int | None = 10_000,
) -> GateResult:
    """The AUDIO member of the banded-hash gate: ``ingest_image_phash``
    with the ``audio_fp_bands`` kernel and its own state tables."""
    kernel = replace(AUDIO_GATE, corpus_table=corpus_table, index_table=index_table)
    return admit(warehouse, kernel, batch, n_buckets, max_rejects)
