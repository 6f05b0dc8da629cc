"""The admission-gate commit contract shared by every gate
(``incremental_dedup.admit``): one transaction publishes the corpus,
the index and the codebook together, so after any injected failure or
crash — followed by ``recover_transactions`` — the stored state holds
the whole batch or none of it; and a call leaves no cached frame
behind, whether it commits or fails."""

from __future__ import annotations

import os
from unittest import mock

import pytest

from qms_datawarehouse_spark.operators import incremental_dedup as inc
from qms_datawarehouse_spark.operators import phash_gate as pg
from qms_datawarehouse_spark.operators import semantic_gate as sg
from qms_datawarehouse_spark.operators.transaction import (
    MultiTableTransaction,
    SimulatedCrash,
    recover_transactions,
)

_TEXTS = [
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill in the morning sun light",
    "completely different content about spark shuffles partitions "
    "and broadcast joins in a distributed query engine at scale",
    "yet another unrelated document discussing parquet row groups "
    "statistics pruning and columnar compression strategies today",
    "a fourth text on garbage collection pauses heap regions and "
    "allocation rates observed in long running java services",
]
# pairwise beyond Hamming 3 (checked in test_phash_gate)
_PAYLOADS = [
    ("ab cd ef " * 40).strip().encode(),
    ("mn op qr st " * 30).strip().encode(),
    ("uv wx yz " * 40).strip().encode(),
    ("ag bh ci dj " * 30).strip().encode(),
]
# pairwise integer dot products <= 0: never cosine near-dups
_VECTORS = [
    [0.1] * 8,
    [-0.35] * 8,
    [0.2, -0.2] * 4,
    [0.3] * 4 + [-0.3] * 4,
]

GATES = {
    "minhash": (
        inc.ingest_dedup, inc.MINHASH_GATE, "doc_id long, text string",
        _TEXTS,
    ),
    "phash": (
        pg.ingest_image_phash, pg.IMAGE_GATE, "doc_id long, content binary",
        _PAYLOADS,
    ),
    "semantic": (
        sg.ingest_semantic, sg.SEMANTIC_GATE,
        "vec_id long, embedding array<double>", _VECTORS,
    ),
}


def _persistent_rdds(spark) -> set:
    # ids, not a count: Spark's context cleaner may unpersist RDDs that
    # earlier tests left behind at any moment
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("gate", sorted(GATES))
def test_gate_leaves_no_cached_frames(spark, warehouse, gate):
    """Every frame a gate call persists is unpersisted on the way out:
    after a commit, after a probe of a stored corpus, and after a
    commit that raises."""
    ingest, _, schema, content = GATES[gate]
    before = _persistent_rdds(spark)
    ingest(warehouse, spark.createDataFrame([(1, content[0]), (2, content[1])], schema))
    ingest(warehouse, spark.createDataFrame([(3, content[2])], schema))
    assert _persistent_rdds(spark) <= before
    with mock.patch.object(
        MultiTableTransaction, "commit", side_effect=RuntimeError("commit failed")
    ):
        with pytest.raises(RuntimeError, match="commit failed"):
            ingest(warehouse, spark.createDataFrame([(4, content[3])], schema))
    assert _persistent_rdds(spark) <= before


def _version_dirs(wh, table) -> set:
    tdir = wh.table_dir(table)
    if not os.path.isdir(tdir):
        return set()
    return {e for e in os.listdir(tdir) if e.startswith("v_")}


def _state(wh, kernel):
    tables = (kernel.corpus_table, kernel.index_table)
    corpus = (
        sorted(tuple(r) for r in wh.read(kernel.corpus_table).collect())
        if wh.table_exists(kernel.corpus_table)
        else None
    )
    return (
        [wh.current_version_name(t) for t in tables],
        [_version_dirs(wh, t) for t in tables],
        corpus,
    )


def _setup(spark, wh, gate, case):
    """The batch under test: id 7 with content 1 — a first ingest, or
    a re-ingestion of id 7 stored with content 0."""
    ingest, _, schema, content = GATES[gate]
    if case == "reingest":
        ingest(wh, spark.createDataFrame([(7, content[0])], schema))
    return spark.createDataFrame([(7, content[1])], schema)


@pytest.mark.parametrize("case", ["first", "reingest"])
@pytest.mark.parametrize("gate", ["minhash", "phash"])
def test_crash_mid_commit_rolls_forward_whole_batch(spark, warehouse, gate, case):
    """A crash after the first pointer flip: recovery rolls the whole
    batch forward, corpus and index alike — the index sees the new
    content and no longer sees the replaced content."""
    ingest, _, schema, content = GATES[gate]
    batch = _setup(spark, warehouse, gate, case)
    commit = MultiTableTransaction.commit
    with mock.patch.object(
        MultiTableTransaction,
        "commit",
        lambda self: commit(self, _crash_after_repoints=1),
    ):
        with pytest.raises(SimulatedCrash):
            ingest(warehouse, batch)
    assert len(recover_transactions(warehouse)) == 1

    near_new = ingest(warehouse, spark.createDataFrame([(8, content[1])], schema))
    assert (near_new.n_accepted, near_new.n_rejected) == (0, 1)
    assert near_new.rejected[0][:2] == (8, 7)
    if case == "reingest":
        near_old = ingest(
            warehouse, spark.createDataFrame([(9, content[0])], schema)
        )
        assert (near_old.n_accepted, near_old.n_rejected) == (1, 0)


@pytest.mark.parametrize("case", ["first", "reingest"])
@pytest.mark.parametrize("gate", ["minhash", "phash"])
def test_index_staging_failure_leaves_state_unchanged(
    spark, warehouse, gate, case
):
    """The index fails to stage after the corpus staged: the staged
    corpus version is dropped, and neither table's pointer, version
    dirs nor the corpus rows move."""
    ingest, kernel, _, _ = GATES[gate]
    batch = _setup(spark, warehouse, gate, case)
    before = _state(warehouse, kernel)

    def failing(method):
        def stage(self, table, *args, **kwargs):
            if table == kernel.index_table:
                raise RuntimeError("index staging failed")
            return method(self, table, *args, **kwargs)

        return stage

    with mock.patch.object(
        MultiTableTransaction, "stage_write",
        failing(MultiTableTransaction.stage_write),
    ), mock.patch.object(
        MultiTableTransaction, "stage_write_partial",
        failing(MultiTableTransaction.stage_write_partial),
    ):
        with pytest.raises(RuntimeError, match="index staging failed"):
            ingest(warehouse, batch)
    assert _state(warehouse, kernel) == before
    assert recover_transactions(warehouse) == []


def test_semantic_first_batch_corpus_failure_leaves_no_tables(spark, warehouse):
    """The first batch stages the centroids and the corpus together: a
    corpus staging failure leaves neither table (nor a staged centroid
    version)."""
    stage_write_partial = MultiTableTransaction.stage_write_partial

    def stage(self, table, *args, **kwargs):
        if table == sg.CORPUS_TABLE:
            raise RuntimeError("corpus staging failed")
        return stage_write_partial(self, table, *args, **kwargs)

    batch = spark.createDataFrame(
        [(i, v) for i, v in enumerate(_VECTORS)],
        "vec_id long, embedding array<double>",
    )
    with mock.patch.object(MultiTableTransaction, "stage_write_partial", stage):
        with pytest.raises(RuntimeError, match="corpus staging failed"):
            sg.ingest_semantic(warehouse, batch)
    assert not warehouse.table_exists(sg.CENTROID_TABLE)
    assert not warehouse.table_exists(sg.CORPUS_TABLE)
    assert _version_dirs(warehouse, sg.CENTROID_TABLE) == set()
