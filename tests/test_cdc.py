"""CDC apply: sequenced upsert/delete feeds with tombstone-backed
out-of-order safety and atomic main+tombstone commits."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from qms_datawarehouse_spark.operators.cdc import (
    apply_changes,
    tombstone_table,
)

SCHEMA = "_id string, _seq long, _op string, v string"


def _ch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _state(wh, table="t"):
    return {r._id: (r._seq, r.v) for r in wh.read(table).collect()}


def test_mixed_batch_applies_upserts_and_deletes(spark, warehouse):
    apply_changes(
        warehouse, "t",
        _ch(spark, [("a", 1, "upsert", "a1"), ("b", 1, "upsert", "b1")]),
    )
    stats = apply_changes(
        warehouse, "t",
        _ch(spark, [("a", 2, "delete", None), ("c", 2, "upsert", "c1")]),
    )
    assert (stats.n_upserts, stats.n_deletes, stats.n_suppressed) == (1, 1, 0)
    assert _state(warehouse) == {"b": (1, "b1"), "c": (2, "c1")}


def test_in_batch_sequencing_delete_wins_when_newest(spark, warehouse):
    apply_changes(
        warehouse, "t",
        _ch(spark, [
            ("a", 1, "upsert", "a1"),
            ("a", 2, "delete", None),   # newest op for a → deleted
            ("b", 2, "delete", None),
            ("b", 3, "upsert", "b3"),   # newest op for b → lives
        ]),
    )
    assert _state(warehouse) == {"b": (3, "b3")}


def test_late_upsert_after_delete_is_suppressed(spark, warehouse):
    apply_changes(warehouse, "t", _ch(spark, [("a", 1, "upsert", "a1")]))
    apply_changes(warehouse, "t", _ch(spark, [("a", 5, "delete", None)]))
    # the delayed seq-3 update arrives AFTER the seq-5 delete
    stats = apply_changes(
        warehouse, "t", _ch(spark, [("a", 3, "upsert", "a3-late")])
    )
    assert stats.n_suppressed == 1 and stats.n_upserts == 0
    assert _state(warehouse) == {}


def test_reinsert_after_delete_applies(spark, warehouse):
    apply_changes(warehouse, "t", _ch(spark, [("a", 1, "upsert", "a1")]))
    apply_changes(warehouse, "t", _ch(spark, [("a", 5, "delete", None)]))
    stats = apply_changes(
        warehouse, "t", _ch(spark, [("a", 7, "upsert", "a7")])
    )
    assert stats.n_upserts == 1 and stats.n_suppressed == 0
    assert _state(warehouse) == {"a": (7, "a7")}


def test_late_delete_loses_to_newer_stored_row(spark, warehouse):
    apply_changes(warehouse, "t", _ch(spark, [("a", 5, "upsert", "a5")]))
    apply_changes(warehouse, "t", _ch(spark, [("a", 3, "delete", None)]))
    # the stored row is newer than the delete → survives; but the
    # tombstone still suppresses anything older than seq 3
    assert _state(warehouse) == {"a": (5, "a5")}
    apply_changes(warehouse, "t", _ch(spark, [("a", 2, "upsert", "a2-late")]))
    assert _state(warehouse) == {"a": (5, "a5")}


def test_delete_of_absent_key_is_noop_but_remembered(spark, warehouse):
    apply_changes(warehouse, "t", _ch(spark, [("x", 1, "upsert", "x1")]))
    apply_changes(warehouse, "t", _ch(spark, [("ghost", 9, "delete", None)]))
    assert _state(warehouse) == {"x": (1, "x1")}
    # a late upsert of the pre-deleted key stays dead
    apply_changes(warehouse, "t", _ch(spark, [("ghost", 4, "upsert", "g4")]))
    assert _state(warehouse) == {"x": (1, "x1")}


def test_replay_converges(spark, warehouse):
    batch = _ch(spark, [
        ("a", 1, "upsert", "a1"),
        ("b", 2, "delete", None),
        ("b", 1, "upsert", "b1"),
    ])
    s1 = apply_changes(warehouse, "t", batch)
    before = _state(warehouse)
    s2 = apply_changes(warehouse, "t", batch)  # at-least-once replay
    assert before == _state(warehouse) == {"a": (1, "a1")}
    assert (s1.n_upserts, s1.n_deletes) == (1, 1)
    # the replayed delete re-applies harmlessly; the upsert ties with
    # the stored seq and the resolution keeps one row either way
    assert s2.n_deletes == 1


def test_tombstones_bucketed_and_monotone(spark, warehouse):
    apply_changes(warehouse, "t", _ch(spark, [("a", 1, "upsert", "a1")]))
    apply_changes(warehouse, "t", _ch(spark, [("a", 4, "delete", None)]))
    apply_changes(warehouse, "t", _ch(spark, [("a", 6, "upsert", "a6")]))
    apply_changes(warehouse, "t", _ch(spark, [("a", 8, "delete", None)]))
    tombs = {
        r._id: r._seq for r in warehouse.read(tombstone_table("t")).collect()
    }
    assert tombs == {"a": 8}  # max delete-seq per key, one row
    meta = warehouse.read_meta(tombstone_table("t"))
    assert int(meta["n_buckets"]) == int(warehouse.read_meta("t")["n_buckets"])


def test_invalid_op_rejected(spark, warehouse):
    with pytest.raises(ValueError, match="_op"):
        apply_changes(
            warehouse, "t", _ch(spark, [("a", 1, "replace", "a1")])
        )


def test_main_and_tombstones_commit_atomically(spark, warehouse):
    """Deletes against an existing tombstone table go through the
    multi-table transaction: both pointers advance, and the journal
    leaves no stranded staging on success."""
    apply_changes(warehouse, "t", _ch(spark, [("a", 1, "upsert", "a1"),
                                              ("b", 1, "upsert", "b1")]))
    apply_changes(warehouse, "t", _ch(spark, [("a", 2, "delete", None)]))
    v_t = warehouse.current_version_name("t")
    v_tomb = warehouse.current_version_name(tombstone_table("t"))
    apply_changes(warehouse, "t", _ch(spark, [("b", 3, "delete", None)]))
    assert warehouse.current_version_name("t") != v_t
    assert warehouse.current_version_name(tombstone_table("t")) != v_tomb
    assert _state(warehouse) == {}


def test_cdf_to_cdc_replication_round_trip(spark, warehouse):
    """The produce and apply halves compose: replaying a leader
    table's row-level diffs (table_changes) through changes_as_feed →
    apply_changes keeps a follower table identical through inserts,
    updates, AND deletes."""
    from qms_datawarehouse_spark.operators.cdc import changes_as_feed
    from qms_datawarehouse_spark.operators.changes import table_changes
    from qms_datawarehouse_spark.operators.merge import merge_upsert

    def src_rows():
        return {
            r._id: r.v
            for r in warehouse.read("leader").select("_id", "v").collect()
        }

    def dst_rows():
        return {
            r._id: r.v
            for r in warehouse.read("follower").select("_id", "v").collect()
        }

    def replicate(from_version, step):
        diff = table_changes(warehouse, "leader", "_id", from_version)
        apply_changes(
            warehouse, "follower", changes_as_feed(diff, step), key="_id"
        )

    up = "_id string, v string, updated_at string"
    merge_upsert(
        warehouse, "leader",
        spark.createDataFrame(
            [("a", "a1", "t1"), ("b", "b1", "t1")], up
        ),
    )
    v1 = warehouse.current_version_name("leader")
    # bootstrap the follower from the full first state (step 0):
    # every row is an insert relative to the empty set
    apply_changes(
        warehouse, "follower",
        changes_as_feed(
            warehouse.read("leader").drop("_bucket")
            .withColumn("_change_type", F.lit("insert")),
            0,
        ),
        key="_id",
    )
    assert dst_rows() == src_rows() == {"a": "a1", "b": "b1"}

    # step 1: update + insert on the leader
    merge_upsert(
        warehouse, "leader",
        spark.createDataFrame(
            [("a", "a2", "t2"), ("c", "c1", "t2")], up
        ),
    )
    replicate(v1, 1)
    v2 = warehouse.current_version_name("leader")
    assert dst_rows() == src_rows() == {"a": "a2", "b": "b1", "c": "c1"}

    # step 2: delete on the leader (via CDC apply on the leader side)
    apply_changes(
        warehouse, "leader",
        spark.createDataFrame(
            [("b", 10, "delete", None, None)],
            "_id string, _seq long, _op string, v string, updated_at string",
        ),
        key="_id",
    )
    replicate(v2, 2)
    assert dst_rows() == src_rows() == {"a": "a2", "c": "c1"}


def test_stream_apply_changes_end_to_end(spark, warehouse, tmp_path):
    """Streaming CDC: file-source change feed → foreachBatch apply;
    a later epoch's delete removes the row, per-epoch stats surface
    through the hook, and restart-with-checkpoint reads only new
    files."""
    from pyspark.sql import types as T

    from qms_datawarehouse_spark.streaming.sync import stream_apply_changes

    schema = T.StructType([
        T.StructField("_id", T.StringType()),
        T.StructField("_seq", T.LongType()),
        T.StructField("_op", T.StringType()),
        T.StructField("v", T.StringType()),
    ])
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    stats = []

    def run():
        q = stream_apply_changes(
            spark.readStream.schema(schema).parquet(f"{src}/*"),
            warehouse, "t",
            checkpoint_dir=ck, available_now=True,
            on_stats=lambda e, s: stats.append(s),
        )
        q.awaitTermination(120)

    _ch(spark, [("a", 1, "upsert", "a1"), ("b", 1, "upsert", "b1")]) \
        .write.parquet(f"{src}/b1")
    run()
    assert _state(warehouse) == {"a": (1, "a1"), "b": (1, "b1")}
    _ch(spark, [("a", 2, "delete", None), ("c", 2, "upsert", "c1")]) \
        .write.parquet(f"{src}/b2")
    run()
    assert _state(warehouse) == {"b": (1, "b1"), "c": (2, "c1")}
    assert sum(s.n_deletes for s in stats) == 1
    assert sum(s.n_upserts for s in stats) == 3


def test_vacuum_tombstones_respects_horizon(spark, warehouse):
    from qms_datawarehouse_spark.operators.cdc import vacuum_tombstones

    apply_changes(warehouse, "t", _ch(spark, [
        ("a", 1, "upsert", "a1"), ("b", 1, "upsert", "b1"),
        ("c", 1, "upsert", "c1")]))
    apply_changes(warehouse, "t", _ch(spark, [("a", 3, "delete", None)]))
    apply_changes(warehouse, "t", _ch(spark, [("b", 9, "delete", None)]))
    # horizon 5: a's tombstone (seq 3) expires, b's (seq 9) stays
    assert vacuum_tombstones(warehouse, "t", min_seq=5) == 1
    tombs = {
        r._id: r._seq for r in warehouse.read(tombstone_table("t")).collect()
    }
    assert tombs == {"b": 9}
    # suppression still works past the vacuum for the kept tombstone
    apply_changes(warehouse, "t", _ch(spark, [("b", 7, "upsert", "late")]))
    assert "b" not in _state(warehouse)
    # nothing expired → no new version written
    v = warehouse.current_version_name(tombstone_table("t"))
    assert vacuum_tombstones(warehouse, "t", min_seq=5) == 0
    assert warehouse.current_version_name(tombstone_table("t")) == v


def test_apply_changes_retries_after_interleaved_commit(spark, warehouse):
    """An apply_changes losing the CAS race recomputes against the
    winner's version: both writers' effects land (no lost update in
    either direction), same contract as the merge."""
    import unittest.mock as mock

    from qms_datawarehouse_spark.operators.merge import with_bucket
    from qms_datawarehouse_spark.warehouse import BUCKET_COL, ParquetWarehouse

    apply_changes(
        warehouse, "t",
        _ch(spark, [("a", 1, "upsert", "a1"), ("b", 1, "upsert", "b1")]),
        n_buckets=4,
    )

    real_partial = ParquetWarehouse._stage_version_partial
    fired = {"n": 0}

    def racing_partial(self, table, df, touched, **kw):
        if table == "t" and fired["n"] == 0:
            fired["n"] += 1
            # interleave: another writer advances 'b' before our commit
            other = with_bucket(
                spark.createDataFrame(
                    [("a", 1, "a1"), ("b", 7, "b7")],
                    "_id string, _seq long, v string",
                ),
                "_id", 4,
            )
            ParquetWarehouse.write_version(
                self, table, other, partition_by=[BUCKET_COL]
            )
        return real_partial(self, table, df, touched, **kw)

    with mock.patch.object(
        ParquetWarehouse, "_stage_version_partial", racing_partial
    ):
        stats = apply_changes(
            warehouse, "t", _ch(spark, [("a", 5, "upsert", "a5")]),
            n_buckets=4,
        )
    assert fired["n"] == 1  # the race actually happened
    assert stats.n_upserts == 1
    assert _state(warehouse) == {"a": (5, "a5"), "b": (7, "b7")}


def test_redelivered_older_delete_cannot_regress_tombstone(spark, warehouse):
    """A tombstone is monotone: replaying an OLDER delete after a newer
    one must not lower the recorded sequence (an order-blind merge
    here would re-admit a superseded upsert)."""
    apply_changes(warehouse, "t", _ch(spark, [("a", 1, "upsert", "a1"),
                                              ("z", 1, "upsert", "z1")]))
    apply_changes(warehouse, "t", _ch(spark, [("a", 10, "delete", None)]))
    # at-least-once redelivery of an older, superseded delete
    apply_changes(warehouse, "t", _ch(spark, [("a", 3, "delete", None)]))
    tombs = {
        r._id: r._seq for r in warehouse.read(tombstone_table("t")).collect()
    }
    assert tombs["a"] == 10  # not regressed to 3
    # the upsert the seq-10 delete superseded stays suppressed
    apply_changes(warehouse, "t", _ch(spark, [("a", 5, "upsert", "a5-late")]))
    assert "a" not in _state(warehouse)


def test_deletes_after_full_tombstone_vacuum(spark, warehouse):
    """A vacuum that empties the tombstone table leaves a version with
    no bucket dirs; the next delete-carrying apply must still work
    (full stage, not a partial that cannot inherit)."""
    from qms_datawarehouse_spark.operators.cdc import vacuum_tombstones

    apply_changes(warehouse, "t", _ch(spark, [("a", 1, "upsert", "a1"),
                                              ("b", 1, "upsert", "b1")]))
    apply_changes(warehouse, "t", _ch(spark, [("a", 2, "delete", None)]))
    assert vacuum_tombstones(warehouse, "t", min_seq=100) == 1  # emptied
    # delete against the emptied tombstone table: must not raise
    stats = apply_changes(
        warehouse, "t", _ch(spark, [("b", 3, "delete", None)])
    )
    assert stats.n_deletes == 1
    assert _state(warehouse) == {}
    tombs = {
        r._id: r._seq for r in warehouse.read(tombstone_table("t")).collect()
    }
    assert tombs == {"b": 3}


def test_null_op_rejected_not_silent_delete(spark, warehouse):
    """Three-valued-logic regression: a NULL op must fail validation,
    not slip past `~isin(...)` and silently delete the stored row."""
    apply_changes(warehouse, "t", _ch(spark, [("a", 1, "upsert", "a1")]))
    with pytest.raises(ValueError, match="_op"):
        apply_changes(warehouse, "t", _ch(spark, [("a", 5, None, "x")]))
    assert _state(warehouse) == {"a": (1, "a1")}  # untouched


def test_null_seq_rejected_not_silent_drop(spark, warehouse):
    """A NULL sequence must fail validation loudly. Before the fix, a
    null-seq upsert for a tombstoned key hit `__tomb_seq >= NULL` =
    NULL, so the row silently vanished at the suppression filter while
    stats reported it applied; a null-seq delete wrote a (key, NULL)
    tombstone that vacuum could never expire."""
    apply_changes(warehouse, "t", _ch(spark, [("a", 1, "upsert", "a1")]))
    apply_changes(warehouse, "t", _ch(spark, [("a", 5, "delete", None)]))
    with pytest.raises(ValueError, match="_seq"):
        apply_changes(warehouse, "t", _ch(spark, [("a", None, "upsert", "x")]))
    with pytest.raises(ValueError, match="_seq"):
        apply_changes(warehouse, "t", _ch(spark, [("b", None, "delete", None)]))
    assert _state(warehouse) == {}  # untouched; no poison tombstone
    tombs = {
        r._id: r._seq for r in warehouse.read(tombstone_table("t")).collect()
    }
    assert tombs == {"a": 5}


def test_tombstone_probe_not_force_broadcast(spark, warehouse):
    """The tombstone probe must not carry a forced broadcast hint: a
    bulk-delete feed can make the probe side arbitrarily large inside
    one retention window. With autoBroadcastJoinThreshold=-1 the probe
    join must plan (and run) WITHOUT a broadcast exchange — proving
    the strategy is AQE's size-based choice, not a hardcoded hint —
    and the apply must stay correct on that plan."""
    from qms_datawarehouse_spark.operators.cdc import _probe_tombstones

    apply_changes(warehouse, "t", _ch(spark, [("a", 1, "upsert", "a1")]))
    apply_changes(
        warehouse, "t",
        _ch(spark, [("a", 5, "delete", None), ("b", 5, "delete", None)]),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # plan-level pin on the extracted probe join
        win = _ch(
            spark, [("a", 3, "upsert", "late"), ("c", 6, "upsert", "c6")]
        )
        tombs = warehouse.read(tombstone_table("t")).select(
            "_id", F.col("_seq").alias("__tomb_seq")
        )
        plan = (
            _probe_tombstones(win, tombs, "_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan
        # end-to-end: the full apply stays correct on the no-broadcast plan
        stats = apply_changes(
            warehouse, "t",
            _ch(spark, [("a", 3, "upsert", "late"), ("c", 6, "upsert", "c6")]),
        )
        assert (stats.n_upserts, stats.n_suppressed) == (1, 1)
        assert _state(warehouse) == {"c": (6, "c6")}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_replay_query_matches_real_apply(spark, warehouse):
    """cdc_replay_two_epochs (the driver-verifiable feed→apply→read
    program) must equal what TWO real apply_changes commits through a
    warehouse produce from the same split feed — the stateless driver
    row and the stateful operator are the same math."""
    from qms_datawarehouse_spark.operators.cdc import cdc_replay_two_epochs

    sf = "/root/testdata/sf0.001"
    from qms_datawarehouse_spark.plans.registry import tables

    (events,) = tables(spark, sf, "events")

    def as_feed(df):
        return df.select(
            F.col("user_id").cast("string").alias("_id"),
            F.unix_micros("ts").alias("_seq"),
            F.when(F.col("event_type") == "purchase", "delete")
            .otherwise("upsert").alias("_op"),
            "event_id",
        )

    cutoff = F.lit("2024-01-20 00:00:00").cast("timestamp")
    epoch1 = as_feed(events.filter(F.col("ts") >= cutoff))
    epoch2 = as_feed(events.filter(F.col("ts") < cutoff))
    apply_changes(warehouse, "replay", epoch1)
    apply_changes(warehouse, "replay", epoch2)
    stored = {
        (int(r._id), r._seq, r.event_id)
        for r in warehouse.read("replay").select(
            "_id", "_seq", "event_id"
        ).collect()
    }
    q = {
        (r.key, r.seq_us, r.final_event_id)
        for r in cdc_replay_two_epochs(spark, sf).collect()
        if r.final_event_id is not None
    }
    assert stored == q and len(stored) > 0


def test_table_changes_surfaces_new_null_values(spark, warehouse):
    """An update that sets a column to NULL must report the NEW null
    (round 12) — the old per-column coalesce resurrected the previous
    value, so a NULL-ing update replicated as a no-op downstream."""
    from qms_datawarehouse_spark.operators.changes import table_changes
    from qms_datawarehouse_spark.operators.merge import merge_upsert

    up = "_id string, v string, updated_at string"
    merge_upsert(
        warehouse, "leader",
        spark.createDataFrame([("a", "a1", "t1"), ("b", "b1", "t1")], up),
    )
    v1 = warehouse.current_version_name("leader")
    merge_upsert(
        warehouse, "leader",
        spark.createDataFrame([("a", None, "t2"), ("c", None, "t2")], up),
    )

    diff = {
        r["_id"]: (r["_change_type"], r["v"])
        for r in table_changes(warehouse, "leader", "_id", v1).collect()
    }
    assert diff["a"] == ("update", None), diff   # NOT the old "a1"
    assert diff["c"] == ("insert", None), diff
    assert "b" not in diff
