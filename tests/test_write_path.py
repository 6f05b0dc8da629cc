"""The warehouse's one write path: every writer stages through
``ParquetWarehouse._stage_version_partial``'s full-or-partial rule and
commits through the journaled ``ParquetWarehouse._commit``. These
tests pin what that buys: CDC's main and tombstone tables always flip
together, an atomic merge creates absent tables inside its commit, a
commit that cannot take its lock leaves nothing behind, and a partial
write's error reaches the MV refresh that caused it."""

from __future__ import annotations

import datetime as dt
import os
from unittest import mock

import pytest
from pyspark.sql import functions as F

from qms_datawarehouse_spark.operators.cdc import apply_changes, tombstone_table
from qms_datawarehouse_spark.operators.merge import merge_upsert, merge_upsert_atomic
from qms_datawarehouse_spark.operators.transaction import (
    MultiTableTransaction,
    SimulatedCrash,
    recover_transactions,
)
from qms_datawarehouse_spark.warehouse import LOCK_FILE, ParquetWarehouse

T0, T1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)


def _ch(spark, rows):
    return spark.createDataFrame(rows, "_id string, _seq long, _op string, v string")


def _rows(wh, table):
    return {r._id: (r._seq, r.v) for r in wh.read(table).collect()}


def _tombs(wh, table="t"):
    return {r._id: r._seq for r in wh.read(tombstone_table(table)).collect()}


def _crash_after_first_repoint():
    commit = MultiTableTransaction.commit
    return mock.patch.object(
        MultiTableTransaction,
        "commit",
        lambda self: commit(self, _crash_after_repoints=1),
    )


def test_lock_timeout_leaves_no_temp_pointer_or_staged_version(spark, warehouse):
    """A commit that cannot take the table lock fails before anything
    is visible, and removes its temp pointer and staged version."""
    warehouse.write_version("t", spark.range(3).toDF("x"))
    tdir = warehouse.table_dir("t")
    before = sorted(e for e in os.listdir(tdir) if e.startswith("v_"))
    lock = os.path.join(tdir, LOCK_FILE)
    with open(lock, "w") as f:
        f.write("1 0.0 rivalwritertoken")  # a fresh (not stale) lock
    try:
        with pytest.raises(TimeoutError):
            warehouse.write_version("t", spark.range(5).toDF("x"))
    finally:
        os.unlink(lock)
    entries = os.listdir(tdir)
    assert not [e for e in entries if e.startswith("_CURRENT.tmp.")]
    assert sorted(e for e in entries if e.startswith("v_")) == before
    assert warehouse.read("t").count() == 3


def test_cdc_first_batch_is_all_or_nothing(spark, warehouse):
    """The first batch creates the main table and the tombstone table
    in one commit: a crash after the first pointer flip rolls forward
    to both, and the recorded delete suppresses a late upsert."""
    batch = _ch(
        spark,
        [("a", 1, "upsert", "a1"), ("b", 1, "upsert", "b1"), ("c", 2, "delete", None)],
    )
    with _crash_after_first_repoint():
        with pytest.raises(SimulatedCrash):
            apply_changes(warehouse, "t", batch)
    assert len(recover_transactions(warehouse)) == 1
    assert _rows(warehouse, "t") == {"a": (1, "a1"), "b": (1, "b1")}
    assert _tombs(warehouse) == {"c": 2}
    late = apply_changes(warehouse, "t", _ch(spark, [("c", 1, "upsert", "c1")]))
    assert late.n_suppressed == 1
    assert set(_rows(warehouse, "t")) == {"a", "b"}


def test_cdc_delete_creates_tombstones_in_main_commit(spark, warehouse):
    """A delete batch against an existing main table and no tombstone
    table yet: the tombstone table is created inside the main table's
    commit, so recovery after a mid-commit crash lands both."""
    apply_changes(
        warehouse, "t", _ch(spark, [("a", 1, "upsert", "a1"), ("b", 1, "upsert", "b1")])
    )
    assert not warehouse.table_exists(tombstone_table("t"))
    with _crash_after_first_repoint():
        with pytest.raises(SimulatedCrash):
            apply_changes(warehouse, "t", _ch(spark, [("a", 2, "delete", None)]))
    assert len(recover_transactions(warehouse)) == 1
    assert _rows(warehouse, "t") == {"b": (1, "b1")}
    assert _tombs(warehouse) == {"a": 2}


@pytest.mark.parametrize("with_delete", [True, False], ids=["mixed", "upserts"])
def test_cdc_rival_delete_after_probe_keeps_late_upsert_suppressed(
    spark, warehouse, with_delete
):
    """A rival apply commits a delete of ``a`` (main table and
    tombstone in one commit) right after this batch read the tombstone
    version it probes: the batch's commit fails its CAS, and the retry
    suppresses its late upsert of ``a`` instead of bringing it back."""
    apply_changes(
        warehouse, "t",
        _ch(spark, [("a", 1, "upsert", "a1"), ("b", 1, "upsert", "b1"),
                    ("c", 1, "upsert", "c1")]),
    )
    apply_changes(warehouse, "t", _ch(spark, [("c", 2, "delete", None)]))
    tomb = tombstone_table("t")
    real = ParquetWarehouse.current_version_name
    fired = []

    def racing(self, table):
        out = real(self, table)
        if table == tomb and not fired:
            fired.append(table)
            apply_changes(self, "t", _ch(spark, [("a", 10, "delete", None)]))
        return out

    batch = [("a", 5, "upsert", "late")] + (
        [("b", 3, "delete", None)] if with_delete else []
    )
    with mock.patch.object(ParquetWarehouse, "current_version_name", racing):
        stats = apply_changes(warehouse, "t", _ch(spark, batch))
    assert fired == [tomb]
    assert stats.n_suppressed == 1
    assert _rows(warehouse, "t") == ({} if with_delete else {"b": (1, "b1")})
    assert _tombs(warehouse) == {"a": 10, "c": 2, **({"b": 3} if with_delete else {})}


def test_merge_upsert_atomic_creates_absent_table_in_joint_commit(spark, warehouse):
    def mk(ids, tag, ts):
        return spark.createDataFrame(
            [(str(i), tag, ts) for i in ids],
            "_id string, tag string, updated_at timestamp",
        )

    merge_upsert(warehouse, "present", mk([0, 1], "old", T0))
    commits = []
    commit = MultiTableTransaction.commit

    def spy(self, *args, **kwargs):
        commits.append(sorted(self.staged))
        return commit(self, *args, **kwargs)

    with mock.patch.object(MultiTableTransaction, "commit", spy):
        stats = merge_upsert_atomic(
            warehouse,
            {"present": mk([1, 2], "new", T1), "absent": mk([7], "new", T1)},
        )
    assert commits == [["absent", "present"]]
    assert stats == {"present": (2, T1), "absent": (1, T1)}
    assert {r._id: r.tag for r in warehouse.read("present").collect()} == {
        "0": "old", "1": "new", "2": "new",
    }
    assert {r._id: r.tag for r in warehouse.read("absent").collect()} == {"7": "new"}
    assert warehouse.read_meta("absent")["key"] == "_id"


def _matview(spark, wh):
    from qms_datawarehouse_spark.operators.matview import (
        create_matview,
        refresh_matview,
    )

    def batch(rows):
        return spark.createDataFrame(
            rows, "_id string, grp string, amount long, updated_at timestamp"
        )

    merge_upsert(
        wh, "fact", batch([(f"r{i}", f"g{i % 6}", i, T0) for i in range(30)]),
        n_buckets=4,
    )
    create_matview(wh, "mv", "fact", ["grp"], ["amount"], n_buckets=4)
    merge_upsert(wh, "fact", batch([("r1", "g1", 100, T1)]), n_buckets=4)
    return refresh_matview


def _join_matview(spark, wh):
    from qms_datawarehouse_spark.operators.join_matview import (
        create_join_matview,
        refresh_join_matview,
    )

    def rows(n, start=0):
        return spark.range(start, start + n).select(
            F.col("id").cast("string").alias("_id"),
            (F.col("id") % 5).alias("cust_id"),
            F.col("id").alias("cents"),
            F.lit(T0).alias("updated_at"),
        )

    dims = spark.range(5).select(
        F.col("id").cast("string").alias("_id"),
        F.col("id").alias("cust_id"),
        (F.col("id") % 2).alias("segment"),
        F.lit(T0).alias("updated_at"),
    )
    merge_upsert(wh, "facts", rows(30), n_buckets=4)
    merge_upsert(wh, "dims", dims, n_buckets=4)
    create_join_matview(
        wh, "mv", "facts", "dims", dim_key="cust_id", dim_cols=["segment"]
    )
    merge_upsert(wh, "facts", rows(2, start=100), n_buckets=4)
    return refresh_join_matview


@pytest.mark.parametrize("setup", [_matview, _join_matview], ids=["matview", "join_matview"])
def test_mv_refresh_propagates_partial_write_error(spark, warehouse, setup):
    """A ValueError from the partial write surfaces from the refresh
    instead of silently turning into a full recompute."""
    refresh = setup(spark, warehouse)
    before = warehouse.current_version_name("mv")
    with mock.patch.object(
        ParquetWarehouse, "write_version_partial",
        side_effect=ValueError("injected partial-write failure"),
    ):
        with pytest.raises(ValueError, match="injected partial-write failure"):
            refresh(warehouse, "mv")
    assert warehouse.current_version_name("mv") == before
