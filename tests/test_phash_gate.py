"""Perceptual-hash ingest gate: admission policy, keyed-upsert replay
convergence, stale-index rebuild on re-ingestion, and the streaming
twin ≡ sequential batch calls — the same contract suite the MinHash
(test_incremental_dedup) and SemDeDup (test_streaming_semantic) gates
carry, applied to the multimodal payload column."""

from __future__ import annotations

from pyspark.sql import functions as F

from qms_datawarehouse_spark.operators.multimodal import fake_image_grid
from qms_datawarehouse_spark.operators.phash_gate import (
    CORPUS_TABLE,
    INDEX_TABLE,
    ingest_image_phash,
)
from qms_datawarehouse_spark.warehouse import ParquetWarehouse

SF_DIR = "/root/testdata/sf0.001"


def _py_bands(payload: bytes) -> list[int]:
    g = fake_image_grid(payload)
    vals = [0, 0, 0, 0]
    for r in range(8):
        for c in range(8):
            bit = 1 if g[r * 9 + c] < g[r * 9 + c + 1] else 0
            vals[r // 2] |= bit << ((r % 2) * 8 + c)
    return vals


def _py_ham(a: bytes, b: bytes) -> int:
    return sum(
        bin(x ^ y).count("1") for x, y in zip(_py_bands(a), _py_bands(b))
    )


# pairwise-distant synthetic payloads (precondition-checked below):
# distinct word alphabets give distinct byte-bigram distributions
_T1 = ("ab cd ef " * 40).strip().encode()
_T3 = ("mn op qr st " * 30).strip().encode()
_T4 = ("uv wx yz " * 40).strip().encode()
_T5 = ("ag bh ci dj " * 30).strip().encode()


def test_fixture_payloads_are_pairwise_distant():
    """Precondition for every test below: the synthetic payloads sit
    beyond the gate's Hamming threshold of each other."""
    texts = [_T1, _T3, _T4, _T5]
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            assert _py_ham(texts[i], texts[j]) > 3, (i, j)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, content binary")


def test_empty_and_null_payloads_counted_exactly(spark, warehouse):
    """Empty/NULL content must not silently vanish from the counts:
    the stub grid is total (b'' hashes to all-zero bands), so empty
    payloads are Hamming-0 dups of EACH OTHER — lowest id admitted,
    the rest rejected, and corpus rows == n_accepted exactly."""
    rows = [(1, b""), (2, None), (3, _T1), (4, b"")]
    res = ingest_image_phash(
        warehouse,
        spark.createDataFrame(rows, "doc_id long, content binary"),
    )
    assert res.n_batch == 4
    # doc 1 (empty) admitted; 2 (NULL→empty) and 4 (empty) reject vs 1
    # (the PAIR report also names 4's match with its lower batch-mate
    # 2 — pair semantics, same as the MinHash gate; counts are per-id)
    assert (res.n_accepted, res.n_rejected) == (2, 2)
    assert res.rejected == [(2, 1, 0), (4, 1, 0), (4, 2, 0)]
    assert warehouse.read(CORPUS_TABLE).count() == res.n_accepted


def test_in_batch_dedup_lowest_id_wins(spark, warehouse):
    res = ingest_image_phash(
        warehouse, _batch(spark, [(1, _T1), (2, _T1), (3, _T3)])
    )
    assert (res.n_batch, res.n_accepted, res.n_rejected) == (3, 2, 1)
    assert res.rejected == [(2, 1, 0)]
    stored = sorted(
        r.doc_id for r in warehouse.read(CORPUS_TABLE).collect()
    )
    assert stored == [1, 3]
    # four index rows per stored payload
    assert warehouse.read(INDEX_TABLE).count() == 8


def test_cross_corpus_reject_and_replay_convergence(spark, warehouse):
    ingest_image_phash(warehouse, _batch(spark, [(1, _T1), (3, _T3)]))
    b2 = _batch(spark, [(10, _T1), (11, _T4)])
    res = ingest_image_phash(warehouse, b2)
    assert (res.n_accepted, res.n_rejected) == (1, 1)
    assert res.rejected == [(10, 1, 0)]

    # at-least-once replay of the SAME batch: identical stats, corpus
    # unchanged (keyed upsert; self-pairs skipped by id inequality)
    before = sorted(
        tuple(r) for r in warehouse.read(CORPUS_TABLE)
        .select("doc_id", "b0", "b1", "b2", "b3").collect()
    )
    replay = ingest_image_phash(warehouse, b2)
    assert (replay.n_accepted, replay.n_rejected) == (1, 1)
    assert replay.rejected == [(10, 1, 0)]
    after = sorted(
        tuple(r) for r in warehouse.read(CORPUS_TABLE)
        .select("doc_id", "b0", "b1", "b2", "b3").collect()
    )
    assert after == before
    assert warehouse.read(INDEX_TABLE).count() == 4 * len(before)


def test_reingestion_rebuilds_index(spark, warehouse):
    """Re-sent id with NEW content: the hash row upserts and the old
    band rows leave the index — probes against the old content stop
    matching, probes against the new content start."""
    ingest_image_phash(warehouse, _batch(spark, [(11, _T4)]))
    # 11 re-ingests with different content (no stored near-dup → admit)
    res = ingest_image_phash(warehouse, _batch(spark, [(11, _T5)]))
    assert (res.n_accepted, res.n_rejected) == (1, 0)
    assert warehouse.read(CORPUS_TABLE).count() == 1
    assert warehouse.read(INDEX_TABLE).count() == 4  # old rows gone

    # a near-dup of 11's OLD content is now admissible…
    res_old = ingest_image_phash(warehouse, _batch(spark, [(12, _T4)]))
    assert (res_old.n_accepted, res_old.n_rejected) == (1, 0)
    # …and a near-dup of the NEW content is rejected against 11
    res_new = ingest_image_phash(warehouse, _batch(spark, [(13, _T5)]))
    assert (res_new.n_accepted, res_new.n_rejected) == (0, 1)
    assert res_new.rejected == [(13, 11, 0)]


def test_gate_on_fixture_corpus_rejects_near_dups(spark, warehouse):
    """The documents fixture carries real phash near-dup structure
    (dedup_image_phash finds pairs at this sf) — the gate must reject
    across the even/odd split or in-batch, and the stored corpus must
    be exactly batch-sizes minus rejections."""
    from qms_datawarehouse_spark.operators.multimodal import (
        with_binary_content,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    payloads = with_binary_content(docs).select("doc_id", "content")
    p1 = payloads.filter(F.expr("pmod(doc_id, 2) = 0"))
    p2 = payloads.filter(F.expr("pmod(doc_id, 2) = 1"))
    r1 = ingest_image_phash(warehouse, p1)
    r2 = ingest_image_phash(warehouse, p2)
    assert r1.n_batch == p1.count() and r2.n_batch == p2.count()
    assert r1.n_rejected + r2.n_rejected > 0  # fixture is live
    assert (
        warehouse.read(CORPUS_TABLE).count()
        == r1.n_accepted + r2.n_accepted
    )
    # every rejection names a lower id or a stored id, at hamming <= 3
    for new_id, old_id, ham in r1.rejected + r2.rejected:
        assert ham <= 3
        assert old_id != new_id


def test_stream_gate_matches_sequential_batch_calls(spark, tmp_path):
    """availableNow micro-batches through stream_ingest (image kernel)
    must land the same corpus and per-epoch stats as sequential batch
    ingest_image_phash calls on the same split."""
    from qms_datawarehouse_spark.operators.multimodal import (
        with_binary_content,
    )
    from qms_datawarehouse_spark.operators.phash_gate import IMAGE_GATE
    from qms_datawarehouse_spark.streaming.sync import stream_ingest

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    payloads = with_binary_content(docs).select("doc_id", "content")
    p1 = payloads.filter(F.expr("pmod(doc_id, 2) = 0"))
    p2 = payloads.filter(F.expr("pmod(doc_id, 2) = 1"))

    wh_b = ParquetWarehouse(spark, str(tmp_path / "wh_batch"))
    r1 = ingest_image_phash(wh_b, p1)
    r2 = ingest_image_phash(wh_b, p2)

    feed = tmp_path / "feed"
    ckpt = str(tmp_path / "ckpt")
    wh_s = ParquetWarehouse(spark, str(tmp_path / "wh_stream"))
    results = []

    def run():
        q = stream_ingest(
            spark.readStream.schema(p1.schema).parquet(str(feed)),
            wh_s,
            IMAGE_GATE,
            "doc_id",
            "content",
            checkpoint_dir=ckpt,
            available_now=True,
            on_result=lambda epoch, res: results.append(res),
        )
        q.awaitTermination(120)

    p1.coalesce(1).write.mode("append").parquet(str(feed))
    run()
    p2.coalesce(1).write.mode("append").parquet(str(feed))
    run()

    assert [(r.n_batch, r.n_accepted, r.n_rejected) for r in results] == [
        (r1.n_batch, r1.n_accepted, r1.n_rejected),
        (r2.n_batch, r2.n_accepted, r2.n_rejected),
    ]
    assert [r.rejected for r in results] == [r1.rejected, r2.rejected]

    def state(wh):
        return sorted(
            tuple(r)
            for r in wh.read(CORPUS_TABLE)
            .select("doc_id", "b0", "b1", "b2", "b3")
            .collect()
        )

    assert state(wh_s) == state(wh_b)


def test_stream_gate_rejects_non_numeric_ids(spark, tmp_path):
    from qms_datawarehouse_spark.operators.phash_gate import IMAGE_GATE
    from qms_datawarehouse_spark.streaming.sync import stream_ingest

    feed = tmp_path / "feed"
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    spark.createDataFrame(
        [("not-a-number", b"payload bytes here")],
        "doc_id string, content binary",
    ).coalesce(1).write.mode("append").parquet(str(feed))
    q = stream_ingest(
        spark.readStream.schema("doc_id string, content binary").parquet(
            str(feed)
        ),
        wh,
        IMAGE_GATE,
        "doc_id",
        "content",
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    import pyspark.errors

    try:
        q.awaitTermination(120)
        raised = False
    except pyspark.errors.exceptions.captured.StreamingQueryException:
        raised = True
    assert raised


# --------------------------------------------------------------------
# Intra-batch id duplicates: collapse byte-identical, refuse conflicts
# --------------------------------------------------------------------


def test_intra_batch_duplicate_rows_collapse(spark, warehouse):
    """The same (doc_id, content) delivered twice inside one batch
    (at-least-once upstream) collapses to one payload BEFORE hashing:
    counts speak in payloads, and corpus rows == n_accepted holds."""
    res = ingest_image_phash(
        warehouse, _batch(spark, [(1, _T1), (1, _T1), (3, _T3)])
    )
    assert (res.n_batch, res.n_accepted, res.n_rejected) == (2, 2, 0)
    assert warehouse.read(CORPUS_TABLE).count() == 2


def test_intra_batch_conflicting_content_fails_loudly(spark, warehouse):
    """One doc_id, two DIFFERENT payloads in one batch: no
    deterministic winner exists — refuse before any write."""
    import pytest

    with pytest.raises(ValueError, match="more than one distinct payload"):
        ingest_image_phash(warehouse, _batch(spark, [(1, _T1), (1, _T3)]))
    assert not warehouse.table_exists(CORPUS_TABLE)


def test_rejected_ids_exact_under_capped_pair_report(spark, warehouse):
    """rejected_ids stays EXACT (distinct ids, O(batch)) even when the
    pair REPORT is capped to fewer entries than there are pairs."""
    rows = [(1, b""), (2, None), (3, _T1), (4, b"")]
    res = ingest_image_phash(
        warehouse,
        spark.createDataFrame(rows, "doc_id long, content binary"),
        max_rejects=1,
    )
    assert res.rejects_truncated
    assert len(res.rejected) == 1
    assert res.rejected_ids == [2, 4]
    assert res.n_rejected == 2


# --------------------------------------------------------------------
# Property: 4-band banding is LOSSLESS at the Hamming-3 threshold
# --------------------------------------------------------------------


def test_banding_lossless_at_threshold_property():
    """The pigeonhole claim every phash row rests on, pinned as a
    property: for ANY two 64-bit hashes within Hamming distance
    _PHASH_T (=3) of each other, at least one of the four 16-bit
    bands matches exactly — so the banded candidate join generates
    every true pair. Also witnesses the bound is TIGHT: 4 differing
    bits CAN touch all 4 bands."""
    import random

    from qms_datawarehouse_spark.operators.multimodal import (
        _PHASH_BANDS,
        _PHASH_T,
    )

    rng = random.Random(9)
    for _ in range(500):
        base = [rng.randrange(1 << 16) for _ in range(_PHASH_BANDS)]
        ham = rng.randint(0, _PHASH_T)
        flips = rng.sample(range(64), ham)
        other = list(base)
        for j in flips:
            other[j // 16] ^= 1 << (j % 16)
        assert any(a == b for a, b in zip(base, other)), (base, flips)
    # tightness witness: one flip per band defeats banding at ham=4
    base = [0, 0, 0, 0]
    other = [1, 1, 1, 1]
    assert not any(a == b for a, b in zip(base, other))
