"""Multi-table atomic commit: happy path, conflict abort, crash
roll-forward, snapshot consistency, orphan vacuum."""

from __future__ import annotations

import os

import pytest

from qms_datawarehouse_spark.operators.transaction import (
    MultiTableTransaction,
    SimulatedCrash,
    recover_transactions,
    snapshot_versions,
    vacuum_orphans,
)
from qms_datawarehouse_spark.warehouse import ConcurrentWriteError


def _df(spark, n, tag):
    return spark.range(n).selectExpr("id", f"'{tag}' AS tag")


def test_commit_flips_all_tables(spark, warehouse):
    warehouse.write_version("a", _df(spark, 3, "old"))
    warehouse.write_version("b", _df(spark, 4, "old"))
    txn = MultiTableTransaction(warehouse)
    txn.stage_write("a", _df(spark, 5, "new"))
    txn.stage_write("b", _df(spark, 6, "new"))
    # staged ⇒ still invisible
    assert warehouse.read("a").count() == 3
    committed = txn.commit()
    assert set(committed) == {"a", "b"}
    assert warehouse.read("a").count() == 5
    assert warehouse.read("b").count() == 6
    # journal cleared
    assert snapshot_versions(warehouse, ["a", "b"]) == {
        "a": committed["a"],
        "b": committed["b"],
    }


def test_conflict_aborts_everything(spark, warehouse):
    warehouse.write_version("a", _df(spark, 3, "old"))
    warehouse.write_version("b", _df(spark, 3, "old"))
    txn = MultiTableTransaction(warehouse)
    txn.stage_write("a", _df(spark, 5, "new"))
    txn.stage_write("b", _df(spark, 5, "new"))
    # interleaved writer advances b
    warehouse.write_version("b", _df(spark, 9, "interleaved"))
    with pytest.raises(ConcurrentWriteError):
        txn.commit()
    # NOTHING committed — a untouched, b shows the interleaved write
    assert warehouse.read("a").count() == 3
    assert warehouse.read("b").count() == 9
    # staged dirs were removed
    a_versions = [v for v in os.listdir(warehouse.table_dir("a")) if v.startswith("v_")]
    assert len(a_versions) == 1
    # locks released: a fresh writer succeeds
    warehouse.write_version("a", _df(spark, 7, "after"))
    assert warehouse.read("a").count() == 7


def test_crash_mid_commit_rolls_forward(spark, warehouse):
    warehouse.write_version("a", _df(spark, 3, "old"))
    warehouse.write_version("b", _df(spark, 3, "old"))
    txn = MultiTableTransaction(warehouse)
    txn.stage_write("a", _df(spark, 5, "new"))
    txn.stage_write("b", _df(spark, 6, "new"))
    with pytest.raises(SimulatedCrash):
        txn.commit(_crash_after_repoints=1)
    # torn state: a flipped, b not yet
    assert warehouse.read("a").count() == 5
    assert warehouse.read("b").count() == 3
    recovered = recover_transactions(warehouse)
    assert len(recovered) == 1 and recovered[0]["txn_id"] == txn.txn_id
    assert warehouse.read("b").count() == 6
    # idempotent
    assert recover_transactions(warehouse) == []


def test_snapshot_waits_out_committing_window(spark, warehouse):
    warehouse.write_version("a", _df(spark, 3, "old"))
    txn = MultiTableTransaction(warehouse)
    txn.stage_write("a", _df(spark, 5, "new"))
    with pytest.raises(SimulatedCrash):
        txn.commit(_crash_after_repoints=1)
    # journal still present ⇒ snapshot refuses rather than mixing
    with pytest.raises(TimeoutError):
        snapshot_versions(warehouse, ["a"], timeout=0.2)
    recover_transactions(warehouse)
    snap = snapshot_versions(warehouse, ["a"])
    assert warehouse.read("a", version=snap["a"]).count() == 5


def test_vacuum_orphans_removes_abandoned_staging(spark, warehouse):
    warehouse.write_version("a", _df(spark, 3, "old"))
    txn = MultiTableTransaction(warehouse)
    txn.stage_write("a", _df(spark, 5, "new"))
    # abandoned (crash before journal): dir exists, never committed
    assert len([v for v in os.listdir(warehouse.table_dir("a")) if v.startswith("v_")]) == 2
    assert vacuum_orphans(warehouse, min_age_sec=3600) == []  # age guard
    removed = vacuum_orphans(warehouse, min_age_sec=0.0)
    assert removed == [f"a/{txn.staged['a']['version']}"]
    assert warehouse.read("a").count() == 3


def test_abort_cleans_up(spark, warehouse):
    warehouse.write_version("a", _df(spark, 3, "old"))
    txn = MultiTableTransaction(warehouse)
    txn.stage_write("a", _df(spark, 5, "new"))
    txn.abort()
    assert warehouse.read("a").count() == 3
    assert len([v for v in os.listdir(warehouse.table_dir("a")) if v.startswith("v_")]) == 1


def test_reload_all_atomic(spark, warehouse):
    from qms_datawarehouse_spark.engine import reload_all_atomic
    from qms_datawarehouse_spark.operators import history

    warehouse.write_version("t1", _df(spark, 3, "old"))
    warehouse.write_version("t2", _df(spark, 3, "old"))
    results = reload_all_atomic(
        warehouse, {"t1": _df(spark, 8, "new"), "t2": _df(spark, 9, "new")}, "nightly"
    )
    assert {r.collection: r.records_synced for r in results} == {"t1": 8, "t2": 9}
    assert warehouse.read("t1").count() == 8
    assert warehouse.read("t2").count() == 9
    rows = history.recent(warehouse, 10).collect()
    assert sum(1 for r in rows if r.status == "SUCCESS") >= 2


def test_reload_all_atomic_conflict_reloads_nothing(spark, warehouse):
    from qms_datawarehouse_spark.engine import reload_all_atomic

    warehouse.write_version("t1", _df(spark, 3, "old"))
    warehouse.write_version("t2", _df(spark, 3, "old"))
    txn_frames = {"t1": _df(spark, 8, "new"), "t2": _df(spark, 9, "new")}

    # interleave a writer between staging and commit via a wrapper:
    # simplest deterministic interleave — advance t2 BEFORE the call,
    # after the frames' bases would have been captured inside; so
    # instead stage manually
    from qms_datawarehouse_spark.operators.transaction import MultiTableTransaction
    txn = MultiTableTransaction(warehouse)
    txn.stage_write("t1", txn_frames["t1"])
    warehouse.write_version("t2", _df(spark, 5, "interleaved"))
    txn.stage_write("t2", txn_frames["t2"])
    # t2's base captured AFTER the interleave — now interleave again
    warehouse.write_version("t2", _df(spark, 6, "interleaved2"))
    with pytest.raises(ConcurrentWriteError):
        txn.commit()
    assert warehouse.read("t1").count() == 3
    assert warehouse.read("t2").count() == 6


def test_concurrent_recoverers_converge(spark, warehouse):
    """Two recover_transactions racing on the same crashed journal:
    both must finish without error, the flip happens exactly once."""
    import threading

    warehouse.write_version("a", _df(spark, 3, "old"))
    warehouse.write_version("b", _df(spark, 3, "old"))
    txn = MultiTableTransaction(warehouse)
    txn.stage_write("a", _df(spark, 5, "new"))
    txn.stage_write("b", _df(spark, 6, "new"))
    with pytest.raises(SimulatedCrash):
        txn.commit(_crash_after_repoints=1)

    errors = []

    def run():
        try:
            recover_transactions(warehouse)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=run) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert warehouse.read("a").count() == 5
    assert warehouse.read("b").count() == 6
    # each table got AT MOST one extra log entry from recovery
    assert len(warehouse.list_versions("b")) <= 3


def test_recovery_skips_journal_of_finished_commit(spark, warehouse):
    """recover_transactions reads a live commit's journal, then waits
    for the table lock while that commit finishes and a second commit
    lands: the second commit stays current instead of being repointed
    back to the first."""
    import threading
    from unittest import mock

    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    warehouse.write_version("a", _df(spark, 1, "v0"))
    real_acquire = ParquetWarehouse._acquire_lock
    real_flip = ParquetWarehouse._flip
    waiting, second_done = threading.Event(), threading.Event()
    state: dict = {}

    def acquire(self, table, *args, **kwargs):
        if threading.current_thread().name == "recoverer":
            waiting.set()  # the journal is read; hold off the lock
            second_done.wait(10)
        return real_acquire(self, table, *args, **kwargs)

    def recover():
        state["recovered"] = recover_transactions(warehouse)

    def flip(self, table, version, tmp):
        if "thread" not in state:  # the first commit, mid-flip
            state["thread"] = threading.Thread(target=recover, name="recoverer")
            state["thread"].start()
            assert waiting.wait(10)
        real_flip(self, table, version, tmp)

    with mock.patch.object(ParquetWarehouse, "_acquire_lock", acquire), \
            mock.patch.object(ParquetWarehouse, "_flip", flip):
        warehouse.write_version("a", _df(spark, 2, "v1"))
        warehouse.write_version("a", _df(spark, 3, "v2"))
        second_done.set()
        state["thread"].join(10)
    assert state["recovered"] == []
    assert warehouse.read("a").count() == 3


def _bucketed_df(spark, ids, tag):
    return spark.createDataFrame(
        [(i, tag, i % 4) for i in ids], "k long, tag string, _bucket int"
    )


def test_stage_write_partial_inherits_untouched_buckets(spark, warehouse):
    import glob
    import os

    base1 = _bucketed_df(spark, range(40), "old")
    base2 = _bucketed_df(spark, range(40), "old")
    warehouse.write_version("p1", base1, partition_by=["_bucket"])
    warehouse.write_version("p2", base2, partition_by=["_bucket"])

    # batch touches only bucket 0; per the partial-write contract the
    # staged frame is the RESOLVED content of that bucket (survivors +
    # updates — what the merge resolution produces)
    bucket0 = [i for i in range(40) if i % 4 == 0]
    def resolved(updated):
        return _bucketed_df(spark, updated, "new").unionByName(
            _bucketed_df(spark, [i for i in bucket0 if i not in updated], "old")
        )
    txn = MultiTableTransaction(warehouse)
    txn.stage_write_partial("p1", resolved([0, 4]), [0])
    txn.stage_write_partial("p2", resolved([8, 12]), [0])
    committed = txn.commit()

    for t in ("p1", "p2"):
        rows = {r.k: r.tag for r in warehouse.read(t).collect()}
        assert len(rows) == 40  # untouched buckets inherited, nothing lost
        vdir = os.path.join(warehouse.table_dir(t), committed[t])
        # untouched bucket files are HARDLINKS of the base (same inode)
        linked = glob.glob(os.path.join(vdir, "_bucket=1", "*.parquet"))
        assert linked and all(os.stat(f).st_nlink >= 2 for f in linked)
    assert {r.tag for r in warehouse.read("p1").filter("k in (0,4)").collect()} == {"new"}
    assert {r.tag for r in warehouse.read("p1").filter("k = 8").collect()} == {"old"}


def test_stage_write_partial_conflict_aborts_both(spark, warehouse):
    warehouse.write_version("p1", _bucketed_df(spark, range(8), "old"),
                            partition_by=["_bucket"])
    warehouse.write_version("p2", _bucketed_df(spark, range(8), "old"),
                            partition_by=["_bucket"])
    txn = MultiTableTransaction(warehouse)
    txn.stage_write_partial("p1", _bucketed_df(spark, [0], "new"), [0])
    txn.stage_write_partial("p2", _bucketed_df(spark, [1], "new"), [1])
    # interleaved writer advances p2 → its inherited dirs are stale
    warehouse.write_version("p2", _bucketed_df(spark, range(8), "interleaved"),
                            partition_by=["_bucket"])
    with pytest.raises(ConcurrentWriteError):
        txn.commit()
    assert {r.tag for r in warehouse.read("p1").collect()} == {"old"}
    assert {r.tag for r in warehouse.read("p2").collect()} == {"interleaved"}


def test_merge_upsert_atomic_cross_table(spark, warehouse):
    from qms_datawarehouse_spark.operators.merge import merge_upsert, merge_upsert_atomic

    def mk(ids, tag, ts):
        return spark.createDataFrame(
            [(str(i), tag, ts) for i in ids],
            "_id string, tag string, updated_at timestamp",
        )

    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 2, 1)
    merge_upsert(warehouse, "tickets", mk(range(10), "old", t0))
    merge_upsert(warehouse, "ratings", mk(range(5), "old", t0))

    stats = merge_upsert_atomic(
        warehouse,
        {"tickets": mk([0, 1, 10], "new", t1), "ratings": mk([0, 9], "new", t1)},
    )
    assert stats["tickets"][0] == 3 and stats["ratings"][0] == 2
    tickets = {r._id: r.tag for r in warehouse.read("tickets").collect()}
    ratings = {r._id: r.tag for r in warehouse.read("ratings").collect()}
    assert len(tickets) == 11 and tickets["0"] == "new" and tickets["5"] == "old"
    assert len(ratings) == 6 and ratings["9"] == "new"

    # empty batches: no-op, no dangling journal
    stats2 = merge_upsert_atomic(
        warehouse, {"tickets": mk([], "x", t1), "ratings": mk([], "x", t1)}
    )
    assert stats2 == {"tickets": (0, None), "ratings": (0, None)}


def test_merge_upsert_atomic_retries_conflict(spark, warehouse):
    """An interleaved single-table writer flips the CAS; the atomic
    merge recomputes against the winner and converges."""
    import datetime as dt

    from qms_datawarehouse_spark.operators.merge import merge_upsert, merge_upsert_atomic
    from qms_datawarehouse_spark.operators import transaction as txn_mod

    def mk(ids, tag, ts):
        return spark.createDataFrame(
            [(str(i), tag, ts) for i in ids],
            "_id string, tag string, updated_at timestamp",
        )

    t0, t1, t2 = (dt.datetime(2024, m, 1) for m in (1, 2, 3))
    merge_upsert(warehouse, "a1", mk(range(6), "old", t0))
    merge_upsert(warehouse, "b1", mk(range(6), "old", t0))

    orig_commit = txn_mod.MultiTableTransaction.commit
    fired = {"n": 0}

    def racing_commit(self, *a, **kw):
        if fired["n"] == 0:
            fired["n"] += 1
            merge_upsert(warehouse, "b1", mk([5], "interloper", t1))
        return orig_commit(self, *a, **kw)

    txn_mod.MultiTableTransaction.commit = racing_commit
    try:
        stats = merge_upsert_atomic(
            warehouse, {"a1": mk([0], "new", t2), "b1": mk([1], "new", t2)}
        )
    finally:
        txn_mod.MultiTableTransaction.commit = orig_commit

    assert stats["a1"][0] == 1
    b = {r._id: r.tag for r in warehouse.read("b1").collect()}
    assert b["5"] == "interloper" and b["1"] == "new"  # both writes survive
    a = {r._id: r.tag for r in warehouse.read("a1").collect()}
    assert a["0"] == "new"


def test_sync_collections_atomic_lifecycle(spark, warehouse):
    """Checkpoints advance only after the joint commit; a re-sync of
    the same frames is a zero-row no-op per collection."""
    import datetime as dt

    from qms_datawarehouse_spark.engine import sync_collections_atomic
    from qms_datawarehouse_spark.operators.merge import merge_upsert

    def mk(rows):
        return spark.createDataFrame(
            rows, "_id string, v string, updated_at timestamp"
        )

    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    merge_upsert(warehouse, "tix", mk([("1", "seed", t0)]))
    merge_upsert(warehouse, "usr", mk([("u1", "seed", t0)]))

    frames = {
        "tix": mk([("1", "v2", t1), ("2", "new", t1)]),
        "usr": mk([("u2", "new", t1)]),
    }
    res = sync_collections_atomic(warehouse, frames, "prod")
    assert {r.collection: r.records_synced for r in res} == {"tix": 2, "usr": 1}
    assert warehouse.read("tix").count() == 2
    assert {r._id for r in warehouse.read("usr").collect()} == {"u1", "u2"}

    # second run: checkpoints filter everything out
    res2 = sync_collections_atomic(warehouse, frames, "prod")
    assert all(r.records_synced == 0 for r in res2)


def _tagged(spark, ids, tag, ts):
    return spark.createDataFrame(
        [(str(i), tag, ts) for i in ids],
        "_id string, tag string, updated_at timestamp",
    )


def test_merge_upsert_atomic_staging_jobs_keep_caller_job_group(
    spark, warehouse, jobs_in_group
):
    """The per-table staging runs on pool threads; its Spark jobs must
    still carry the caller's job group."""
    import datetime as dt

    from qms_datawarehouse_spark.operators.merge import merge_upsert, merge_upsert_atomic

    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    for t in ("a1", "b1"):
        merge_upsert(warehouse, t, _tagged(spark, range(4), "old", t0))
    with jobs_in_group("g") as jobs:
        stats = merge_upsert_atomic(
            warehouse,
            {"a1": _tagged(spark, [0], "new", t1), "b1": _tagged(spark, [1], "new", t1)},
        )
    assert stats == {"a1": (1, t1), "b1": (1, t1)}
    # each table stages at least its stats aggregate and its write
    assert len(jobs) >= 4


def test_sync_collections_atomic_staging_failure_aborts_every_table(
    spark, warehouse
):
    """One collection's merge raises while the others stage
    concurrently: nothing stays staged, no pointer or mark moves, and
    every collection gets one FAILED history row."""
    import datetime as dt
    from collections import Counter

    from qms_datawarehouse_spark.engine import sync_collections_atomic
    from qms_datawarehouse_spark.operators import checkpoint, history

    t0, t1, t2 = (dt.datetime(2024, m, 1) for m in (1, 2, 3))
    from qms_datawarehouse_spark.operators.merge import merge_upsert

    seed = {t: _tagged(spark, [0], "seed", t0) for t in ("tix", "usr")}
    for t, df in seed.items():
        merge_upsert(warehouse, t, df)
    sync_collections_atomic(
        warehouse, {t: _tagged(spark, [1], "v1", t1) for t in seed}, "prod"
    )

    def version_dirs():
        return {
            t: sorted(
                v for v in os.listdir(warehouse.table_dir(t))
                if v.startswith("v_")
            )
            for t in seed
        }

    pointers = {t: warehouse.current_version_name(t) for t in seed}
    dirs = version_dirs()
    marks = checkpoint.get_marks(warehouse, "prod")
    assert marks == {"tix": t1, "usr": t1}

    from pyspark.errors import AnalysisException

    frames = {t: _tagged(spark, [2], "v2", t2) for t in seed}
    # a staging failure that fires before anything is written: the
    # merge key is missing from the frame
    frames["zz_absent"] = _tagged(spark, [2], "v2", t2).drop("_id")
    with pytest.raises(AnalysisException, match="_id"):
        sync_collections_atomic(warehouse, frames, "prod")

    assert {t: warehouse.current_version_name(t) for t in seed} == pointers
    assert version_dirs() == dirs
    assert not os.path.exists(warehouse.table_dir("zz_absent"))
    assert checkpoint.get_marks(warehouse, "prod") == marks
    failed = history.read_history(warehouse).filter("status = 'FAILED'")
    assert Counter(r.collection for r in failed.collect()) == {
        t: 1 for t in frames
    }
