"""Ingestion-gate dedup: batches are admitted against the stored
corpus at batch-proportional cost, with in-batch canonicalization and
a persistent LSH index maintained by keyed merges."""

from __future__ import annotations

from qms_datawarehouse_spark.operators.incremental_dedup import (
    INDEX_TABLE,
    ingest_dedup,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill in the morning sun light"
)
NEAR = BASE.replace("morning", "evening")  # one-word edit → near-dup
OTHER = (
    "completely different content about spark shuffles partitions "
    "and broadcast joins in a distributed query engine at scale"
)
THIRD = (
    "yet another unrelated document discussing parquet row groups "
    "statistics pruning and columnar compression strategies today"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_first_batch_all_accepted_and_indexed(spark, warehouse):
    res = ingest_dedup(warehouse, _docs(spark, [(1, BASE), (2, OTHER)]))
    assert (res.n_batch, res.n_accepted, res.n_rejected) == (2, 2, 0)
    assert warehouse.read("corpus_docs").count() == 2
    assert warehouse.read(INDEX_TABLE).count() > 0


def test_near_dup_of_stored_doc_rejected(spark, warehouse):
    ingest_dedup(warehouse, _docs(spark, [(1, BASE), (2, OTHER)]))
    res = ingest_dedup(warehouse, _docs(spark, [(10, NEAR), (11, THIRD)]))
    assert res.n_accepted == 1 and res.n_rejected == 1
    assert res.rejected[0][0] == 10 and res.rejected[0][1] == 1
    # corpus holds only admitted docs
    ids = {r.doc_id for r in warehouse.read("corpus_docs").collect()}
    assert ids == {1, 2, 11}


def test_in_batch_dup_resolves_to_lowest_id(spark, warehouse):
    res = ingest_dedup(
        warehouse, _docs(spark, [(5, BASE), (6, NEAR), (7, OTHER)])
    )
    assert res.n_accepted == 2 and res.n_rejected == 1
    assert res.rejected[0][:2] == (6, 5)
    ids = {r.doc_id for r in warehouse.read("corpus_docs").collect()}
    assert ids == {5, 7}


def test_reingest_same_doc_id_is_upsert_not_dup(spark, warehouse):
    ingest_dedup(warehouse, _docs(spark, [(1, BASE)]))
    # same doc re-ingested (same id): self-pairs are excluded, the
    # merge upserts — no duplicate row, no rejection
    res = ingest_dedup(warehouse, _docs(spark, [(1, BASE)]))
    assert res.n_accepted == 1 and res.n_rejected == 0
    assert warehouse.read("corpus_docs").count() == 1


def test_intra_batch_duplicate_rows_collapse(spark, warehouse):
    """Byte-identical replays of one row inside a single batch
    (at-least-once upstream) collapse before hashing — counts speak
    in documents, not deliveries."""
    res = ingest_dedup(
        warehouse, _docs(spark, [(1, BASE), (1, BASE), (2, OTHER)])
    )
    assert (res.n_batch, res.n_accepted, res.n_rejected) == (2, 2, 0)
    assert warehouse.read("corpus_docs").count() == 2


def test_intra_batch_conflicting_rows_fail_loudly(spark, warehouse):
    """Same doc_id, different text, one batch: no deterministic
    winner — the gate refuses before any write."""
    import pytest

    with pytest.raises(ValueError, match="more than one distinct row"):
        ingest_dedup(warehouse, _docs(spark, [(1, BASE), (1, OTHER)]))
    assert not warehouse.table_exists("corpus_docs")


def test_single_null_id_row_does_not_trip_conflict_gate(spark, warehouse):
    """The folded conflict gate compares count_distinct(doc_id) + a
    NULL-group correction against the row count — a single NULL-id
    row (one group under the old groupBy gate) must pass through to
    the pipeline, not raise the multi-payload error."""
    res = ingest_dedup(warehouse, _docs(spark, [(None, BASE), (2, OTHER)]))
    assert res.n_batch == 2


def test_short_doc_without_shingles_is_admitted(spark, warehouse):
    ingest_dedup(warehouse, _docs(spark, [(1, BASE)]))
    res = ingest_dedup(warehouse, _docs(spark, [(2, "two words")]))
    assert res.n_accepted == 1 and res.n_rejected == 0


def test_streaming_ingestion_gate(spark, warehouse, tmp_path):
    """Composition: a docstore stream feeds the ingestion gate per
    micro-batch — the live-pipeline form (connector →
    stream_ingest → LSH-gated corpus), with per-epoch admission
    stats observed through the on_result hook."""
    import json

    from qms_datawarehouse_spark.sources.pyds import register_docstore
    from qms_datawarehouse_spark.operators.incremental_dedup import MINHASH_GATE
    from qms_datawarehouse_spark.streaming.sync import stream_ingest

    register_docstore(spark)
    log = str(tmp_path / "feed.jsonl")
    ckpt = str(tmp_path / "ckpt")

    def append(doc_id, text):
        with open(log, "a") as fh:
            fh.write(json.dumps(
                {"_id": str(doc_id), "payload": text,
                 "updated_at": "2024-01-01T00:00:00Z"}) + "\n")

    results = []

    def run():
        q = stream_ingest(
            spark.readStream.format("docstore").option("path", log).load(),
            warehouse,
            MINHASH_GATE,
            checkpoint_dir=ckpt,
            id_col="_id",
            payload_col="payload",
            available_now=True,
            on_result=lambda epoch, res: results.append(res),
        )
        q.awaitTermination(120)

    append(1, BASE)
    append(2, OTHER)
    run()
    # a later batch carrying a near-dup is gated out
    append(3, NEAR)
    append(4, THIRD)
    run()
    ids = {r.doc_id for r in warehouse.read("corpus_docs").collect()}
    assert ids == {1, 2, 4}
    # per-epoch admission stats surfaced without extra scans
    totals = (
        sum(r.n_accepted for r in results),
        sum(r.n_rejected for r in results),
    )
    assert totals == (3, 1)
    rejected = [p for r in results for p in r.rejected]
    assert rejected and rejected[0][:2] == (3, 1)


def test_index_is_bv_partitioned_and_probe_prunes(spark, warehouse):
    """The index's physical layout is bv-bucket partition dirs, and a
    probe plan carries the partition filter (the O(batch) read)."""
    import os

    from qms_datawarehouse_spark.operators.incremental_dedup import BVB_COL

    ingest_dedup(warehouse, _docs(spark, [(1, BASE), (2, OTHER)]))
    vdir = warehouse.current_version_dir(INDEX_TABLE)
    assert any(e.startswith(f"{BVB_COL}=") for e in os.listdir(vdir))
    # second ingest appends only into touched bv-buckets (partial write
    # inherits the rest) and still gates near-dups correctly
    res = ingest_dedup(warehouse, _docs(spark, [(10, NEAR), (11, THIRD)]))
    assert res.n_rejected == 1 and res.rejected[0][:2] == (10, 1)


def test_reingest_changed_text_rebuilds_index(spark, warehouse):
    """Re-ingesting a doc_id with NEW text upserts the corpus row; the
    LSH index must follow. Stale index rows caused two failures: a
    near-dup of the REPLACED text kept matching (candidate pairs
    against text the corpus no longer holds), and — worse — a
    near-dup of the CURRENT text found no candidates at all and was
    silently admitted."""
    ingest_dedup(warehouse, _docs(spark, [(1, BASE)]))
    # same id, completely different text → idempotent-upsert path
    res = ingest_dedup(warehouse, _docs(spark, [(1, OTHER)]))
    assert res.n_accepted == 1 and res.n_rejected == 0
    assert warehouse.read("corpus_docs").count() == 1

    # index reflects ONLY the new text's bands for doc 1
    from qms_datawarehouse_spark.operators.dedup import (
        _shingled,
        minhash_bands,
    )

    idx = {
        (r.band_id, r.bv)
        for r in warehouse.read(INDEX_TABLE)
        .filter("doc_id = 1").collect()
    }
    want = {
        (r.band_id, r.bv)
        for r in minhash_bands(
            _shingled(_docs(spark, [(1, OTHER)]))
        ).collect()
    }
    assert idx == want

    # near-dup of the CURRENT text is caught (missed with stale index)
    res = ingest_dedup(warehouse, _docs(spark, [(3, OTHER)]))
    assert res.n_rejected == 1 and res.rejected[0][:2] == (3, 1)

    # near-dup of the REPLACED text is admitted (doc 1 moved on)
    res = ingest_dedup(warehouse, _docs(spark, [(2, BASE)]))
    assert res.n_accepted == 1 and res.n_rejected == 0


def test_streaming_gate_rejects_non_numeric_ids(spark, warehouse, tmp_path):
    """A non-numeric source id casts to NULL long; before the fix all
    such rows silently collapsed onto one NULL doc_id corpus key. The
    epoch must fail loudly instead, before any write."""
    import json

    import pytest

    from qms_datawarehouse_spark.sources.pyds import register_docstore
    from qms_datawarehouse_spark.operators.incremental_dedup import MINHASH_GATE
    from qms_datawarehouse_spark.streaming.sync import stream_ingest

    register_docstore(spark)
    log = str(tmp_path / "feed.jsonl")
    with open(log, "a") as fh:
        for doc_id, text in [("doc-1", BASE), ("doc-2", OTHER)]:
            fh.write(json.dumps(
                {"_id": doc_id, "payload": text,
                 "updated_at": "2024-01-01T00:00:00Z"}) + "\n")

    q = stream_ingest(
        spark.readStream.format("docstore").option("path", log).load(),
        warehouse,
        MINHASH_GATE,
        checkpoint_dir=str(tmp_path / "ckpt"),
        id_col="_id",
        payload_col="payload",
        available_now=True,
    )
    with pytest.raises(Exception, match="numeric"):
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
    assert not warehouse.table_exists("corpus_docs")  # nothing written


def test_streaming_gate_rejects_null_ids(spark, warehouse, tmp_path):
    """A genuinely NULL source id passes an isNotNull-guarded probe,
    casts to NULL doc_id, and collapses onto one NULL corpus key — the
    r4-advice gap. NULL ids must fail the epoch exactly like
    non-numeric ones, before any write."""
    import json

    import pytest

    from qms_datawarehouse_spark.sources.pyds import register_docstore
    from qms_datawarehouse_spark.operators.incremental_dedup import MINHASH_GATE
    from qms_datawarehouse_spark.streaming.sync import stream_ingest

    register_docstore(spark)
    log = str(tmp_path / "feed.jsonl")
    with open(log, "a") as fh:
        fh.write(json.dumps(
            {"_id": "10", "payload": BASE,
             "updated_at": "2024-01-01T00:00:00Z"}) + "\n")
        fh.write(json.dumps(
            {"_id": None, "payload": OTHER,
             "updated_at": "2024-01-01T00:00:00Z"}) + "\n")

    q = stream_ingest(
        spark.readStream.format("docstore").option("path", log).load(),
        warehouse,
        MINHASH_GATE,
        checkpoint_dir=str(tmp_path / "ckpt"),
        id_col="_id",
        payload_col="payload",
        available_now=True,
    )
    with pytest.raises(Exception, match="numeric"):
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
    assert not warehouse.table_exists("corpus_docs")  # nothing written


def test_max_rejects_caps_report_but_not_counts(spark, warehouse):
    """The rejected-pairs REPORT is bounded by ``max_rejects`` (a
    pathological all-dup batch would otherwise collect one tuple per
    pair); the accept/reject COUNTS must stay exact because they come
    from DataFrame counts, not the capped list."""
    # five mutual near-dups in one batch: ids 21-25 all reject to 20
    variants = ["morning", "evening", "noon", "dusk", "dawn", "night"]
    rows = [(20 + i, BASE.replace("morning", v)) for i, v in enumerate(variants)]
    uncapped = ingest_dedup(warehouse, _docs(spark, rows), max_rejects=None)
    assert uncapped.n_accepted == 1 and uncapped.n_rejected == 5
    assert len(uncapped.rejected) >= 5 and not uncapped.rejects_truncated

    # a second, unrelated near-dup family (the first run's survivor is
    # already in the corpus — reusing BASE would reject all six)
    words = ["shuffles", "exchanges", "stages", "barriers", "scans", "sinks"]
    wh2_rows = [(120 + i, OTHER.replace("shuffles", v)) for i, v in enumerate(words)]
    capped = ingest_dedup(
        warehouse, _docs(spark, wh2_rows), max_rejects=2
    )
    assert capped.n_accepted == 1 and capped.n_rejected == 5  # exact
    assert len(capped.rejected) == 2 and capped.rejects_truncated
    # deterministic prefix: lowest (new_id, old_id) pairs
    assert capped.rejected == sorted(capped.rejected)


def test_max_rejects_zero_room_cross_corpus(spark, warehouse):
    """Cap already consumed by in-batch pairs: the cross-corpus report
    contributes nothing but still sets the truncation flag, and the
    admission outcome is unchanged."""
    ingest_dedup(warehouse, _docs(spark, [(1, BASE), (2, OTHER)]))
    batch = [(10, NEAR), (11, BASE.replace("morning", "midday")), (12, THIRD)]
    res = ingest_dedup(warehouse, _docs(spark, batch), max_rejects=1)
    # 10 and 11 both near-dup (in-batch pair 11->10? no: 10<11 so 11
    # rejects to 10 in-batch, and both match stored doc 1 cross-corpus)
    assert res.n_accepted == 1 and res.n_rejected == 2  # exact counts
    assert len(res.rejected) == 1 and res.rejects_truncated
    ids = {r.doc_id for r in warehouse.read("corpus_docs").collect()}
    assert ids == {1, 2, 12}


def test_replay_query_matches_two_real_gate_calls(spark, warehouse):
    """The driver-verified ``ingest_gate_replay_two_epochs`` query is
    the gate's admission math as a stateless program; pin it equal to
    TWO REAL ``ingest_dedup`` calls through a warehouse on the same
    parity split of the fixture corpus."""
    from conftest import SF_DIR
    from qms_datawarehouse_spark.operators.dedup import (
        ingest_gate_replay_two_epochs,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    e1 = docs.filter(F.col("doc_id") % 2 == 0)
    e2 = docs.filter(F.col("doc_id") % 2 == 1)
    r1 = ingest_dedup(warehouse, e1, max_rejects=None)
    r2 = ingest_dedup(warehouse, e2, max_rejects=None)

    rows = ingest_gate_replay_two_epochs(spark, SF_DIR).collect()
    got = {
        r["epoch"]: (
            r["n_batch"],
            r["n_accepted"],
            r["n_rejected"],
            r["rejected_ids_sum"],
        )
        for r in rows
    }
    want = {
        1: (
            r1.n_batch,
            r1.n_accepted,
            r1.n_rejected,
            sum({p[0] for p in r1.rejected}),
        ),
        2: (
            r2.n_batch,
            r2.n_accepted,
            r2.n_rejected,
            sum({p[0] for p in r2.rejected}),
        ),
    }
    assert got == want
    # the fixture corpus must exercise BOTH rejection paths
    assert got[1][2] > 0 and got[2][2] > 0
