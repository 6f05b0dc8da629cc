"""Multi-writer safety: the version-pointer commit is a
compare-and-swap, so interleaved read-modify-write writers cannot
silently discard each other's rows. Interleaving is simulated by
committing a competing version between a writer's read of the base
and its commit (the window the CAS guards)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from qms_datawarehouse_spark.operators.merge import merge_upsert, with_bucket
from qms_datawarehouse_spark.warehouse import (
    BUCKET_COL,
    ConcurrentWriteError,
    ParquetWarehouse,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "_id string, v long, updated_at timestamp")


TS = dt.datetime(2024, 1, 1)
TS2 = dt.datetime(2024, 1, 2)


def test_partial_write_cas_rejects_stale_base(spark, warehouse):
    merge_upsert(warehouse, "t", _df(spark, [("a", 1, TS), ("b", 1, TS)]),
                 n_buckets=4)
    base = warehouse.current_version_name("t")

    # writer 2 commits first (full path, unchecked by design)
    w2 = with_bucket(_df(spark, [("a", 2, TS2), ("b", 2, TS2)]), "_id", 4)
    warehouse.write_version("t", w2, partition_by=[BUCKET_COL])

    # writer 1 commits against the OLD base: the CAS must refuse it
    w1 = with_bucket(_df(spark, [("a", 9, TS2)]), "_id", 4)
    with pytest.raises(ConcurrentWriteError):
        warehouse.write_version("t", w1, partition_by=[BUCKET_COL],
                                expect_base=base)
    # writer 2's state survived intact
    out = {r._id: r.v for r in warehouse.read("t").collect()}
    assert out == {"a": 2, "b": 2}


def test_merge_retries_and_converges_after_conflict(spark, warehouse):
    """A merge that loses the race recomputes against the winner and
    lands both writers' effects (order-aware resolution)."""
    merge_upsert(warehouse, "t", _df(spark, [("a", 1, TS), ("b", 1, TS)]),
                 n_buckets=4)

    real_partial = ParquetWarehouse._stage_version_partial
    fired = {"n": 0}

    def racing_partial(self, table, df, touched, **kw):
        if fired["n"] == 0:
            fired["n"] += 1
            # interleave: another writer advances 'b' before our commit
            other = with_bucket(
                _df(spark, [("a", 1, TS), ("b", 7, TS2)]), "_id", 4
            )
            real_full = ParquetWarehouse.write_version
            real_full(self, table, other, partition_by=[BUCKET_COL])
        return real_partial(self, table, df, touched, **kw)

    # merge writer updates 'a'; the interposed commit updates 'b'
    import unittest.mock as mock

    with mock.patch.object(ParquetWarehouse, "_stage_version_partial",
                           racing_partial):
        n = merge_upsert(
            warehouse, "t", _df(spark, [("a", 5, TS2)]), n_buckets=4
        )
    assert n == 1
    assert fired["n"] == 1  # the race actually happened
    out = {r._id: r.v for r in warehouse.read("t").collect()}
    # both effects present: no lost update in either direction
    assert out == {"a": 5, "b": 7}


def test_create_race_does_not_clobber(spark, warehouse):
    """Two writers both observe 'table absent'; the loser's CAS fails
    and its retry merges into the winner's table."""
    real_write = ParquetWarehouse.write_version
    real_stage = ParquetWarehouse._stage_version_partial
    fired = {"n": 0}

    def racing_create(self, table, df, touched, **kw):
        if fired["n"] == 0 and kw.get("base_version", "x") is None:
            fired["n"] += 1
            other = with_bucket(_df(spark, [("z", 1, TS)]), "_id", 4)
            real_write(self, table, other, partition_by=[BUCKET_COL])
            self.write_meta(table, {"n_buckets": 4, "key": "_id",
                                    "order_col": "updated_at"})
        return real_stage(self, table, df, touched, **kw)

    import unittest.mock as mock

    with mock.patch.object(
        ParquetWarehouse, "_stage_version_partial", racing_create
    ):
        merge_upsert(warehouse, "t", _df(spark, [("a", 1, TS)]), n_buckets=4)
    assert fired["n"] == 1
    out = {r._id: r.v for r in warehouse.read("t").collect()}
    assert out == {"a": 1, "z": 1}  # winner's row survived the race


def test_checkpoint_cas_preserves_other_collections(spark, warehouse):
    """set_last_synced loses the race to a different collection's
    advance and retries — neither mark is lost."""
    from qms_datawarehouse_spark.operators import checkpoint

    checkpoint.set_last_synced(warehouse, "s", "c1", TS)
    real_write = ParquetWarehouse.write_version
    fired = {"n": 0}

    def racing_write(self, table, df, partition_by=None, **kw):
        if fired["n"] == 0 and table == checkpoint.TABLE and \
                kw.get("expect_base", None) is not None:
            fired["n"] += 1
            # another sync advances c1 between our read and commit
            upd = self.spark.createDataFrame(
                [("s", "c1", TS2)], schema=checkpoint.SCHEMA
            )
            target = self.read(checkpoint.TABLE)
            survivors = target.join(
                upd.select("source_uri", "collection_name"),
                on=["source_uri", "collection_name"], how="left_anti",
            )
            real_write(self, checkpoint.TABLE, survivors.unionByName(upd))
        return real_write(self, table, df, partition_by=partition_by, **kw)

    import unittest.mock as mock

    with mock.patch.object(ParquetWarehouse, "write_version", racing_write):
        checkpoint.set_last_synced(warehouse, "s", "c2", TS)
    assert fired["n"] == 1
    assert checkpoint.get_last_synced(warehouse, "s", "c1") == TS2
    assert checkpoint.get_last_synced(warehouse, "s", "c2") == TS


def test_stale_lock_is_broken(spark, warehouse, tmp_path):
    import os
    import time

    merge_upsert(warehouse, "t", _df(spark, [("a", 1, TS)]), n_buckets=4)
    lock = os.path.join(warehouse.table_dir("t"), "_LOCK")
    with open(lock, "w") as f:
        f.write("99999 0")
    old = time.time() - 120
    os.utime(lock, (old, old))  # abandoned 2 minutes ago
    # next merge must break the stale lock and commit
    merge_upsert(warehouse, "t", _df(spark, [("a", 2, TS2)]), n_buckets=4)
    assert {r.v for r in warehouse.read("t").collect()} == {2}


def test_table_changes_between_versions(spark, warehouse):
    """CDF over time travel: insert/update/delete classification
    between two retained versions."""
    from qms_datawarehouse_spark.operators.changes import table_changes

    merge_upsert(
        warehouse, "t",
        _df(spark, [("a", 1, TS), ("b", 1, TS), ("c", 1, TS)]), n_buckets=4,
    )
    v1 = warehouse.current_version_name("t")
    # update a, insert d (merge never deletes; emulate a delete with a
    # destructive rewrite of the resolved state minus 'c')
    merge_upsert(
        warehouse, "t", _df(spark, [("a", 2, TS2), ("d", 1, TS2)]),
        n_buckets=4,
    )
    cur = warehouse.read("t").filter(F.col("_id") != "c")
    warehouse.write_version("t", cur, partition_by=[BUCKET_COL],
                            keep_versions=4)

    out = {
        r._id: r._change_type
        for r in table_changes(warehouse, "t", "_id", v1).collect()
    }
    assert out == {"a": "update", "c": "delete", "d": "insert"}
    # values come from the NEW side for upserts
    rows = {r._id: r.v for r in table_changes(
        warehouse, "t", "_id", v1).collect()}
    assert rows["a"] == 2 and rows["d"] == 1 and rows["c"] == 1


def test_merge_same_bucket_interleave_not_lost(spark, warehouse):
    """The lost-update TOCTOU: with n_buckets=1 every key shares one
    bucket, so an interleaved commit lands in a bucket our merge is
    about to rewrite. Before the pinned-base CAS, the interleaved
    row vanished silently (our resolution never saw it, the CAS
    compared against the NEWER current and passed); now the CAS flips
    and the retry re-resolves over the winner's version."""
    merge_upsert(warehouse, "t1b", _df(spark, [("a", 1, TS)]), n_buckets=1)

    real_partial = ParquetWarehouse._stage_version_partial
    fired = {"n": 0}

    def racing_partial(self, table, df, touched, **kw):
        if fired["n"] == 0:
            fired["n"] += 1
            # interleaved writer commits key 'b' into the SAME bucket
            other = with_bucket(
                _df(spark, [("a", 1, TS), ("b", 7, TS2)]), "_id", 1
            )
            ParquetWarehouse.write_version(
                self, table, other, partition_by=[BUCKET_COL]
            )
        return real_partial(self, table, df, touched, **kw)

    import unittest.mock as mock

    with mock.patch.object(
        ParquetWarehouse, "_stage_version_partial", racing_partial
    ):
        merge_upsert(warehouse, "t1b", _df(spark, [("a", 5, TS2)]),
                     n_buckets=1)
    assert fired["n"] == 1
    out = {r._id: r.v for r in warehouse.read("t1b").collect()}
    assert out == {"a": 5, "b": 7}  # the interleaved row survived


def test_release_lock_is_ownership_checked(spark, warehouse):
    """A pending release must not unlink a DIFFERENT writer's fresh
    lock (the stale-break cascade: two breakers, one unlinks the
    other's new lock and two writers enter the critical section)."""
    import os

    warehouse.write_meta("tl", {})  # materialize the table dir
    lock, token = warehouse._acquire_lock("tl")
    # simulate: our lock was broken as stale and another writer
    # acquired a fresh one at the same path
    os.unlink(lock)
    with open(lock, "w") as f:
        f.write("99999 0.0 someoneelsestoken")
    warehouse._release_lock(lock, token)
    assert os.path.exists(lock), "release removed a lock it did not own"
    os.unlink(lock)


def test_stale_lock_is_broken_and_acquired(spark, warehouse):
    import os
    import time as _time

    warehouse.write_meta("tl2", {})
    lock = warehouse.table_dir("tl2") + "/_LOCK"
    with open(lock, "w") as f:
        f.write("12345 0.0 deadwritertoken")
    old = _time.time() - 3600
    os.utime(lock, (old, old))
    got, token = warehouse._acquire_lock("tl2", timeout=2.0)
    with open(got) as f:
        assert token in f.read()  # the broken lock was replaced by ours
    warehouse._release_lock(got, token)


def test_break_stale_lock_restores_fresh_lock_on_content_mismatch(
    spark, warehouse
):
    """If the lock content changed between the staleness observation
    and the rename (stale holder released; live writer acquired), the
    breaker must hand the lock back, not destroy it."""
    import os

    warehouse.write_meta("tl3", {})
    lock = warehouse.table_dir("tl3") + "/_LOCK"
    with open(lock, "w") as f:
        f.write("777 123.0 livewritertoken")
    ParquetWarehouse._break_stale_lock(lock, "999 0.0 whatweobservedstale")
    assert os.path.exists(lock)
    with open(lock) as f:
        assert "livewritertoken" in f.read()
    os.unlink(lock)


def test_persist_not_leaked_across_conflict_retries(spark, warehouse):
    """Every retry of merge_upsert_stats used to leak one cached
    DataFrame (persist() without finally); the cache count must be
    flat after a merge that exhausts its retries."""
    from qms_datawarehouse_spark.operators.merge import merge_upsert_stats

    merge_upsert(warehouse, "tp", _df(spark, [("a", 1, TS)]), n_buckets=2)

    def always_conflict(self, table, df, touched, **kw):
        raise ConcurrentWriteError("injected")

    import unittest.mock as mock

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with mock.patch.object(
        ParquetWarehouse, "_stage_version_partial", always_conflict
    ):
        with pytest.raises(ConcurrentWriteError):
            merge_upsert_stats(
                warehouse, "tp", _df(spark, [("a", 2, TS2)]),
                n_buckets=2, max_retries=3,
            )
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after == before


def test_create_race_keeps_winner_bucket_count(spark, warehouse):
    """Two creators race with different bucket counts: the loser fails
    its CAS before its table facts are recorded, so the table keeps the
    winner's bucket count and the loser's retry refuses the mismatch
    instead of merging into buckets hashed another way."""
    import unittest.mock as mock

    real = ParquetWarehouse.current_version_name
    fired = []

    def racing(self, table):
        out = real(self, table)
        if table == "t" and not fired:
            fired.append(table)  # a default-bucketed creator wins
            merge_upsert(self, "t", _df(spark, [("z", 1, TS)]))
        return out

    with mock.patch.object(ParquetWarehouse, "current_version_name", racing):
        with pytest.raises(ValueError, match="n_buckets=32"):
            merge_upsert(warehouse, "t", _df(spark, [("a", 1, TS)]), n_buckets=4)
    assert fired == ["t"]
    assert warehouse.read_meta("t")["n_buckets"] == 32
    assert {r._id for r in warehouse.read("t").collect()} == {"z"}
