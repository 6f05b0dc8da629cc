"""Streaming SemDeDup gate: stream_ingest ≡ sequential batch
ingest_semantic calls, with effectively-once replay convergence —
the same contract test_incremental_dedup proves for the MinHash gate."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from qms_datawarehouse_spark.operators.semantic_gate import (
    CORPUS_TABLE,
    SEMANTIC_GATE,
    ingest_semantic,
)
from qms_datawarehouse_spark.streaming.sync import stream_ingest
from qms_datawarehouse_spark.warehouse import ParquetWarehouse

SF_DIR = "/root/testdata/sf0.001"


def _corpus_state(wh):
    rows = wh.read(CORPUS_TABLE).select("vec_id", "cid").collect()
    return sorted((r.vec_id, r.cid) for r in rows)


def test_intra_batch_duplicate_rows_collapse(spark, tmp_path):
    """Gate-family contract: byte-identical (vec_id, embedding)
    repeats inside one batch collapse before scoring."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    v, w = [0.10] * 8, [-0.35] * 8
    batch = spark.createDataFrame(
        [(1, v), (1, v), (2, w)], "vec_id long, embedding array<double>"
    )
    res = ingest_semantic(wh, batch)
    assert res.n_batch == 2
    assert res.n_accepted + res.n_rejected == 2


def test_intra_batch_id_conflict_fails_loudly(spark, tmp_path):
    """Same vec_id, two different embeddings, one batch: the in-cell
    id-order probe would be nondeterministic — refuse before any
    write."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    batch = spark.createDataFrame(
        [(1, [0.10] * 8), (1, [0.20] * 8)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="more than one distinct embedding"):
        ingest_semantic(wh, batch)
    assert not wh.table_exists(CORPUS_TABLE)


def test_stream_gate_matches_sequential_batch_calls(spark, tmp_path):
    """Two availableNow micro-batch runs over a file stream must land
    the same corpus (ids + cells) and the same per-epoch admission
    stats as two real batch ingest_semantic calls on the same split."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    e1 = emb.filter(F.expr("pmod(vec_id, 2) = 0"))
    e2 = emb.filter(F.expr("pmod(vec_id, 2) = 1"))

    # the batch reference run
    wh_b = ParquetWarehouse(spark, str(tmp_path / "wh_batch"))
    r1 = ingest_semantic(wh_b, e1)
    r2 = ingest_semantic(wh_b, e2)
    assert r1.n_rejected > 0 and r2.n_rejected > 0  # fixture is live

    # the streaming run: one parquet drop per epoch, availableNow
    feed = tmp_path / "feed"
    ckpt = str(tmp_path / "ckpt")
    wh_s = ParquetWarehouse(spark, str(tmp_path / "wh_stream"))
    results = []

    def run():
        q = stream_ingest(
            spark.readStream.schema(emb.schema).parquet(str(feed)),
            wh_s,
            SEMANTIC_GATE,
            "vec_id",
            "embedding",
            checkpoint_dir=ckpt,
            available_now=True,
            on_result=lambda epoch, res: results.append(res),
        )
        q.awaitTermination(120)

    e1.coalesce(1).write.mode("append").parquet(str(feed))
    run()
    e2.coalesce(1).write.mode("append").parquet(str(feed))
    run()

    assert [(r.n_batch, r.n_accepted, r.n_rejected) for r in results] == [
        (r1.n_batch, r1.n_accepted, r1.n_rejected),
        (r2.n_batch, r2.n_accepted, r2.n_rejected),
    ]
    assert [r.rejected for r in results] == [r1.rejected, r2.rejected]
    assert _corpus_state(wh_s) == _corpus_state(wh_b)


def test_stream_gate_replay_converges(spark, tmp_path):
    """At-least-once delivery: wiping the checkpoint and re-running
    the SAME epoch must leave the corpus unchanged (no duplicate
    rows, no flip-flopped admissions) — the T3 effectively-once
    contract of the foreachBatch commit."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    e1 = emb.filter(F.expr("pmod(vec_id, 2) = 0"))

    feed = tmp_path / "feed"
    ckpt = tmp_path / "ckpt"
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    results = []

    def run():
        q = stream_ingest(
            spark.readStream.schema(emb.schema).parquet(str(feed)),
            wh,
            SEMANTIC_GATE,
            "vec_id",
            "embedding",
            checkpoint_dir=str(ckpt),
            available_now=True,
            on_result=lambda epoch, res: results.append(res),
        )
        q.awaitTermination(120)

    e1.coalesce(1).write.mode("append").parquet(str(feed))
    run()
    first = _corpus_state(wh)
    n_total = wh.read(CORPUS_TABLE).count()
    assert n_total == len(first)  # keys unique

    shutil.rmtree(ckpt)  # forget offsets → full replay
    run()
    assert _corpus_state(wh) == first
    assert wh.read(CORPUS_TABLE).count() == n_total
    # the replay epoch re-admits survivors (self-pairs id-skipped),
    # and the keyed commit collapses them
    assert results[-1].n_batch == results[0].n_batch


def test_stream_gate_rejects_non_numeric_ids(spark, tmp_path):
    """A non-castable id fails the epoch loudly before any write."""
    bad = spark.createDataFrame(
        [("x1", [0.1] * 64)], "vec_id string, embedding array<double>"
    )
    feed = tmp_path / "feed"
    bad.coalesce(1).write.parquet(str(feed))
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = stream_ingest(
        spark.readStream.schema(bad.schema).parquet(str(feed)),
        wh,
        SEMANTIC_GATE,
        "vec_id",
        "embedding",
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    with pytest.raises(Exception, match="numeric 'vec_id'"):
        q.awaitTermination(120)
        q.processAllAvailable()
    assert not wh.table_exists(CORPUS_TABLE)
