"""Audio-fingerprint ingest gate: the banded-hash admission gate's
AUDIO member — shared core with the image gate (test_phash_gate), so
this suite pins the kernel-specific contract (energy-fingerprint
admission, state-table independence from the image gate) plus one
streaming-twin equivalence pass."""

from __future__ import annotations

import pytest

from qms_datawarehouse_spark.operators.multimodal import (
    fake_audio_energy_profile,
)
from qms_datawarehouse_spark.operators.phash_gate import (
    AUDIO_CORPUS_TABLE,
    AUDIO_INDEX_TABLE,
    CORPUS_TABLE,
    INDEX_TABLE,
    ingest_audio_fingerprint,
    ingest_image_phash,
)
from qms_datawarehouse_spark.warehouse import ParquetWarehouse

SF_DIR = "/root/testdata/sf0.001"


def _py_bands(payload: bytes) -> list[int]:
    p = fake_audio_energy_profile(payload)
    vals = [0, 0, 0, 0]
    for j in range(64):
        vals[j // 16] |= (1 if p[j] < p[j + 1] else 0) << (j % 16)
    return vals


def _py_ham(a: bytes, b: bytes) -> int:
    return sum(
        bin(x ^ y).count("1") for x, y in zip(_py_bands(a), _py_bands(b))
    )


# pairwise-distant synthetic clips (precondition-checked below):
# distinct word rhythms give distinct 3-byte window-energy profiles
_A1 = ("the quick brown fox jumps over the lazy dog " * 12).strip().encode()
_A2 = ("zebras graze quietly beneath ancient willow trees " * 10).strip().encode()
_A3 = ("kml pqw rst uvx 123 456 789 abc def ghi " * 12).strip().encode()
_A4 = ("every good boy deserves fudge and cookies today " * 10).strip().encode()
# a single-token edit of _A1 — lands at Hamming 0 under the energy
# fingerprint (a near-dup the gate must reject)
_A1_NEAR = _A1.replace(b"quick", b"quack", 1)


def test_fixture_clips_are_pairwise_distant_and_near_is_near():
    clips = [_A1, _A2, _A3, _A4]
    for i in range(len(clips)):
        for j in range(i + 1, len(clips)):
            assert _py_ham(clips[i], clips[j]) > 3, (i, j)
    assert _py_ham(_A1, _A1_NEAR) <= 3


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, content binary")


def test_admit_reject_and_replay(spark, warehouse):
    r1 = ingest_audio_fingerprint(
        warehouse, _batch(spark, [(1, _A1), (2, _A2)])
    )
    assert (r1.n_batch, r1.n_accepted, r1.n_rejected) == (2, 2, 0)
    assert warehouse.read(AUDIO_CORPUS_TABLE).count() == 2
    assert warehouse.read(AUDIO_INDEX_TABLE).count() == 8

    b2 = _batch(spark, [(10, _A1_NEAR), (11, _A3)])
    r2 = ingest_audio_fingerprint(warehouse, b2)
    assert (r2.n_accepted, r2.n_rejected) == (1, 1)
    assert r2.rejected[0][:2] == (10, 1)
    assert r2.rejected_ids == [10]

    # at-least-once replay converges (keyed upsert, self-pairs skipped)
    replay = ingest_audio_fingerprint(warehouse, b2)
    assert (replay.n_accepted, replay.n_rejected) == (1, 1)
    assert warehouse.read(AUDIO_CORPUS_TABLE).count() == 3


def test_in_batch_lowest_id_wins_and_conflict_refused(spark, warehouse):
    res = ingest_audio_fingerprint(
        warehouse, _batch(spark, [(5, _A1), (6, _A1_NEAR), (7, _A4)])
    )
    assert (res.n_accepted, res.n_rejected) == (2, 1)
    assert res.rejected_ids == [6]
    with pytest.raises(ValueError, match="ingest_audio_fingerprint"):
        ingest_audio_fingerprint(
            warehouse, _batch(spark, [(8, _A2), (8, _A3)])
        )


def test_image_and_audio_gate_state_is_independent(spark, warehouse):
    """The two gates keep separate corpus/index tables: a payload
    admitted by one is judged independently by the other (distinct
    kernels, distinct state), and neither touches the other's tables."""
    ingest_image_phash(warehouse, _batch(spark, [(1, _A1)]))
    res = ingest_audio_fingerprint(warehouse, _batch(spark, [(2, _A1)]))
    # audio corpus was empty, so the audio gate admits doc 2 even
    # though its payload is (image-)stored under doc 1
    assert (res.n_accepted, res.n_rejected) == (1, 0)
    assert warehouse.read(CORPUS_TABLE).count() == 1
    assert warehouse.read(AUDIO_CORPUS_TABLE).count() == 1
    assert {r.doc_id for r in warehouse.read(INDEX_TABLE).collect()} == {1}
    assert {
        r.doc_id for r in warehouse.read(AUDIO_INDEX_TABLE).collect()
    } == {2}


def test_stream_gate_matches_batch_call(spark, tmp_path):
    from qms_datawarehouse_spark.operators.phash_gate import AUDIO_GATE
    from qms_datawarehouse_spark.streaming.sync import stream_ingest

    rows = [(1, _A1), (2, _A2), (3, _A1_NEAR), (4, _A4)]
    schema = "doc_id long, content binary"

    wh_b = ParquetWarehouse(spark, str(tmp_path / "wh_batch"))
    rb = ingest_audio_fingerprint(
        warehouse=wh_b, batch=spark.createDataFrame(rows, schema)
    )

    feed = tmp_path / "feed"
    wh_s = ParquetWarehouse(spark, str(tmp_path / "wh_stream"))
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(feed))
    results = []
    q = stream_ingest(
        spark.readStream.schema(schema).parquet(str(feed)),
        wh_s,
        AUDIO_GATE,
        "doc_id",
        "content",
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
        on_result=lambda epoch, res: results.append(res),
    )
    q.awaitTermination(120)

    assert len(results) == 1
    rs = results[0]
    assert (rs.n_batch, rs.n_accepted, rs.n_rejected) == (
        rb.n_batch,
        rb.n_accepted,
        rb.n_rejected,
    )
    assert rs.rejected == rb.rejected

    def state(wh):
        return sorted(
            tuple(r)
            for r in wh.read(AUDIO_CORPUS_TABLE)
            .select("doc_id", "b0", "b1", "b2", "b3")
            .collect()
        )

    assert state(wh_s) == state(wh_b)
