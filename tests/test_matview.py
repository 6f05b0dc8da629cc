"""Materialized views: staleness from version names, incremental
refresh limited to changed buckets, equivalence with full recompute,
and the GC fallback."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from qms_datawarehouse_spark.operators.matview import (
    create_matview,
    is_stale,
    refresh_matview,
)
from qms_datawarehouse_spark.operators.merge import merge_upsert

TS = dt.datetime(2024, 1, 1)
TS2 = dt.datetime(2024, 1, 2)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "_id string, grp string, amount long, updated_at timestamp"
    )


def _seed(spark, warehouse):
    merge_upsert(
        warehouse,
        "fact",
        _batch(spark, [
            ("a", "g1", 10, TS), ("b", "g1", 20, TS),
            ("c", "g2", 5, TS), ("d", "g3", 7, TS),
        ]),
        n_buckets=8,
    )


def _mv_state(warehouse):
    return {
        r.grp: (r._mv_n, r.amount_sum)
        for r in warehouse.read("mv_by_grp").collect()
    }


def test_create_and_freshness(spark, warehouse):
    _seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    assert not is_stale(warehouse, "mv_by_grp")
    assert refresh_matview(warehouse, "mv_by_grp") == "fresh"
    assert _mv_state(warehouse) == {"g1": (2, 30), "g2": (1, 5), "g3": (1, 7)}


def test_incremental_refresh_matches_full_recompute(spark, warehouse):
    _seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    # update b (g1: 20→25), insert e (new group g4)
    merge_upsert(
        warehouse, "fact",
        _batch(spark, [("b", "g1", 25, TS2), ("e", "g4", 3, TS2)]),
        n_buckets=8,
    )
    assert is_stale(warehouse, "mv_by_grp")
    mode = refresh_matview(warehouse, "mv_by_grp")
    assert mode == "incremental"
    assert _mv_state(warehouse) == {
        "g1": (2, 35), "g2": (1, 5), "g3": (1, 7), "g4": (1, 3),
    }
    assert not is_stale(warehouse, "mv_by_grp")
    # refreshing again is a no-op
    assert refresh_matview(warehouse, "mv_by_grp") == "fresh"


def test_group_disappears_when_count_hits_zero(spark, warehouse):
    _seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    # move d from g3 to g1: g3's only member leaves
    merge_upsert(
        warehouse, "fact", _batch(spark, [("d", "g1", 7, TS2)]), n_buckets=8,
    )
    assert refresh_matview(warehouse, "mv_by_grp") == "incremental"
    state = _mv_state(warehouse)
    assert "g3" not in state
    assert state["g1"] == (3, 37)


def test_full_fallback_when_base_version_gone(spark, warehouse):
    import shutil
    import os

    _seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    recorded = warehouse.read_version_meta("mv_by_grp")["mv_base_version"]
    merge_upsert(
        warehouse, "fact", _batch(spark, [("f", "g2", 100, TS2)]), n_buckets=8,
    )
    # simulate retention passing: the recorded base snapshot is gone
    shutil.rmtree(os.path.join(warehouse.table_dir("fact"), recorded),
                  ignore_errors=True)
    assert refresh_matview(warehouse, "mv_by_grp") == "full"
    assert _mv_state(warehouse)["g2"] == (2, 105)


def test_changed_partitions_prunes_cdf(spark, warehouse):
    """The inode detector: after a one-bucket merge, table_changes
    scans only the touched bucket (the diff still being exact)."""
    from qms_datawarehouse_spark.operators.changes import (
        changed_partitions,
        table_changes,
    )

    _seed(spark, warehouse)
    v1 = warehouse.current_version_name("fact")
    merge_upsert(
        warehouse, "fact", _batch(spark, [("a", "g1", 11, TS2)]), n_buckets=8,
    )
    changed = changed_partitions(warehouse, "fact", v1)
    assert changed is not None and 1 <= len(changed) <= 2  # a's bucket only
    diff = table_changes(warehouse, "fact", "_id", v1).collect()
    assert {(r._id, r._change_type) for r in diff} == {("a", "update")}


def test_matview_maintained_from_stream(spark, warehouse, tmp_path):
    """Composition: a stream of batches merges into the fact via
    foreachBatch, refreshing the MV after each commit — the MV tracks
    the fact exactly, incrementally, across micro-batches."""
    import json

    from qms_datawarehouse_spark.sources.pyds import register_docstore

    register_docstore(spark)
    log = str(tmp_path / "mv_feed.jsonl")
    ckpt = str(tmp_path / "mv_ckpt")

    def append(rows):
        with open(log, "a") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")

    def apply_batch(df, epoch):
        batch = df.selectExpr(
            "_id", "CAST(payload AS STRING) AS grp",
            "CAST(updated_at AS TIMESTAMP) AS updated_at",
        ).withColumn("amount", F.length("_id").cast("long"))
        merge_upsert(warehouse, "fact_s", batch, n_buckets=4)
        if warehouse.table_exists("mv_s"):
            refresh_matview(warehouse, "mv_s")

    def run():
        q = (
            spark.readStream.format("docstore").option("path", log).load()
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    append([{"_id": "aa", "payload": "g1", "updated_at": "2024-01-01T00:00:00Z"},
            {"_id": "bbb", "payload": "g2", "updated_at": "2024-01-01T00:00:00Z"}])
    run()
    create_matview(warehouse, "mv_s", "fact_s", ["grp"], ["amount"])

    append([{"_id": "cccc", "payload": "g1", "updated_at": "2024-01-02T00:00:00Z"},
            {"_id": "bbb", "payload": "g3", "updated_at": "2024-01-03T00:00:00Z"}])
    run()

    mv = {r.grp: (r._mv_n, r.amount_sum)
          for r in warehouse.read("mv_s").collect()}
    # g1: aa(2) + cccc(4); g2 emptied by bbb's move to g3; g3: bbb(3)
    assert mv == {"g1": (2, 6), "g3": (1, 3)}
    assert not is_stale(warehouse, "mv_s")


def test_create_matview_reads_pinned_snapshot(spark, warehouse):
    """A sync landing between the version capture and the base read
    must NOT leak into the stored aggregates — meta and data always
    name the same version, or the next incremental refresh
    double-counts the interleaved buckets."""
    import unittest.mock as mock

    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    _seed(spark, warehouse)

    real_read = ParquetWarehouse.read
    fired = {"n": 0}

    def racy_read(self, table, version=None):
        if fired["n"] == 0 and table == "fact":
            fired["n"] += 1
            # interleaved sync commits a new g1 row mid-create
            merge_upsert(
                self, "fact",
                _batch(spark, [("e", "g1", 100, TS2)]), n_buckets=8,
            )
        return real_read(self, table, version)

    with mock.patch.object(ParquetWarehouse, "read", racy_read):
        create_matview(warehouse, "mv_pin", "fact", ["grp"], ["amount"])
    assert fired["n"] == 1

    # stored aggregates reflect the RECORDED version (no 'e' row)
    state = {r.grp: (r._mv_n, r.amount_sum)
             for r in warehouse.read("mv_pin").collect()}
    assert state["g1"] == (2, 30)

    # the interleaved sync is visible as staleness; refresh folds it
    # in exactly once (no double count)
    assert is_stale(warehouse, "mv_pin")
    assert refresh_matview(warehouse, "mv_pin") == "incremental"
    state = {r.grp: (r._mv_n, r.amount_sum)
             for r in warehouse.read("mv_pin").collect()}
    assert state["g1"] == (3, 130)


# ---------------------------------------------------------------------
# Round 11: the data/meta crash window is closed — the base version
# commits INSIDE the MV version (one pointer swap). These injections
# kill the refresh at every point the old two-commit protocol was
# vulnerable and assert no state ever double-counts the delta.
# ---------------------------------------------------------------------


def test_crash_after_refresh_commit_cannot_double_count(spark, warehouse):
    """The old protocol's fatal point: data version committed, crash
    before the separate meta write → next refresh re-merged the same
    delta. Now the base version rides the same swap, so a completed
    write_version IS a completed refresh: any meta write after it
    (there is none — asserted here) can be lost harmlessly, and a
    re-refresh is a no-op with the correct (not doubled) values."""
    from unittest import mock

    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    _seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    merge_upsert(
        warehouse, "fact",
        _batch(spark, [("b", "g1", 25, TS2), ("e", "g4", 3, TS2)]),
        n_buckets=8,
    )

    # refresh must not depend on any post-swap table-meta write: make
    # one crash the process if attempted
    with mock.patch.object(
        ParquetWarehouse, "write_meta",
        side_effect=AssertionError("refresh wrote table meta after data"),
    ):
        assert refresh_matview(warehouse, "mv_by_grp") == "incremental"

    expected = {"g1": (2, 35), "g2": (1, 5), "g3": (1, 7), "g4": (1, 3)}
    assert _mv_state(warehouse) == expected
    # the would-be "lost meta" replay: refresh again — fresh, unchanged
    assert refresh_matview(warehouse, "mv_by_grp") == "fresh"
    assert _mv_state(warehouse) == expected


def test_crash_before_swap_leaves_old_consistent_pair(spark, warehouse):
    """Kill between staging the new version (data + version meta on
    disk) and the pointer swap: readers still resolve the OLD
    version with its OLD base meta — consistent — and a re-refresh
    recomputes the same delta once."""
    from unittest import mock

    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    _seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    base_v0 = warehouse.read_version_meta("mv_by_grp")["mv_base_version"]
    merge_upsert(
        warehouse, "fact",
        _batch(spark, [("b", "g1", 25, TS2), ("e", "g4", 3, TS2)]),
        n_buckets=8,
    )

    import pytest

    with mock.patch.object(
        ParquetWarehouse, "_commit",
        side_effect=RuntimeError("injected crash"),
    ):
        with pytest.raises(RuntimeError, match="injected crash"):
            refresh_matview(warehouse, "mv_by_grp")

    # old pair intact: old aggregates under the old recorded base
    assert _mv_state(warehouse) == {"g1": (2, 30), "g2": (1, 5), "g3": (1, 7)}
    assert warehouse.read_version_meta("mv_by_grp")["mv_base_version"] == base_v0
    assert is_stale(warehouse, "mv_by_grp")

    # recovery is just refresh again — delta applied exactly once
    assert refresh_matview(warehouse, "mv_by_grp") == "incremental"
    assert _mv_state(warehouse) == {
        "g1": (2, 35), "g2": (1, 5), "g3": (1, 7), "g4": (1, 3),
    }


def test_legacy_table_meta_mv_still_refreshes(spark, warehouse):
    """An MV written by the pre-round-11 protocol (base version only
    in the table-level meta, none in the version dir) must stay
    readable and refreshable — the lookup falls back to table meta,
    and the first refresh upgrades it to the single-swap protocol."""
    import os

    from qms_datawarehouse_spark.warehouse import VERSION_META_FILE

    _seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    # rewrite history into the legacy shape: strip the version meta,
    # put the base version in the table meta
    vdir = warehouse.current_version_dir("mv_by_grp")
    vmeta = warehouse.read_version_meta("mv_by_grp")
    os.unlink(os.path.join(vdir, VERSION_META_FILE))
    warehouse.write_meta(
        "mv_by_grp",
        {**warehouse.read_meta("mv_by_grp"),
         "mv_base_version": vmeta["mv_base_version"]},
    )

    assert not is_stale(warehouse, "mv_by_grp")
    merge_upsert(
        warehouse, "fact", _batch(spark, [("e", "g4", 3, TS2)]), n_buckets=8,
    )
    assert is_stale(warehouse, "mv_by_grp")
    assert refresh_matview(warehouse, "mv_by_grp") == "incremental"
    assert _mv_state(warehouse)["g4"] == (1, 3)
    # upgraded: the new version carries its own base meta
    assert warehouse.read_version_meta("mv_by_grp") is not None
    assert refresh_matview(warehouse, "mv_by_grp") == "fresh"


def test_concurrent_refresh_loser_gets_conflict(spark, warehouse):
    """The incremental merge is a read-modify-write of the stored
    partials; a refresh racing a committed writer must surface
    ConcurrentWriteError, not silently drop the other's merge."""
    from unittest import mock

    import pytest

    from qms_datawarehouse_spark.warehouse import (
        ConcurrentWriteError,
        ParquetWarehouse,
    )

    _seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    merge_upsert(
        warehouse, "fact", _batch(spark, [("e", "g4", 3, TS2)]), n_buckets=8,
    )

    real_write = ParquetWarehouse.write_version
    fired = {"done": False}

    def racing_write(self, table, df, **kw):
        # before OUR commit lands, a rival refresh completes
        if table == "mv_by_grp" and not fired["done"]:
            fired["done"] = True
            refresh_matview(warehouse, "mv_by_grp")
        return real_write(self, table, df, **kw)

    with mock.patch.object(ParquetWarehouse, "write_version", racing_write):
        with pytest.raises(ConcurrentWriteError):
            refresh_matview(warehouse, "mv_by_grp")

    # the rival's refresh is intact and the MV is current
    assert _mv_state(warehouse)["g4"] == (1, 3)
    assert refresh_matview(warehouse, "mv_by_grp") == "fresh"


# -- NULL-sum semantics (round 12): the (sum, non-null count) pair ----


def _null_seed(spark, warehouse):
    # gN: ALL amounts NULL (stored sum must be NULL);
    # gV: real values (stored sum 8); g1: the usual mixed control
    merge_upsert(
        warehouse,
        "fact",
        _batch(spark, [
            ("n1", "gN", None, TS), ("n2", "gN", None, TS),
            ("v1", "gV", 5, TS), ("v2", "gV", 3, TS),
            ("a", "g1", 10, TS),
        ]),
        n_buckets=8,
    )


def test_null_sum_group_gains_zero(spark, warehouse):
    """A group whose stored sum is NULL (all inputs NULL) that gains a
    0 must refresh to sum 0 — the count delta and the sum delta are
    both 0, so only the non-null-count term keeps the group in the
    netted delta; without it the stale NULL survived forever."""
    import pytest

    _null_seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    assert _mv_state(warehouse)["gN"] == (2, None)

    merge_upsert(
        warehouse, "fact", _batch(spark, [("n1", "gN", 0, TS2)]), n_buckets=8,
    )
    assert refresh_matview(warehouse, "mv_by_grp") == "incremental"
    state = _mv_state(warehouse)
    assert state["gN"] == (2, 0), state  # NULL → 0, not a stale NULL
    assert state["gV"] == (2, 8)


def test_sum_group_goes_all_null(spark, warehouse):
    """The reverse transition: a group whose every value flips to NULL
    must refresh to sum NULL, not 0 — the merged non-null count hits
    zero and the derivation restores SQL sum semantics."""
    _null_seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    merge_upsert(
        warehouse, "fact",
        _batch(spark, [("v1", "gV", None, TS2), ("v2", "gV", None, TS2)]),
        n_buckets=8,
    )
    assert refresh_matview(warehouse, "mv_by_grp") == "incremental"
    state = _mv_state(warehouse)
    assert state["gV"] == (2, None), state  # 8 → NULL, not 8 or 0
    assert state["gN"] == (2, None)


def test_null_transitions_bucketed_layout(spark, warehouse):
    """Both NULL transitions through the bucketed (partial-write)
    path: the nn term must also drive the touched-MV-bucket
    resolution, or the flipped groups' partitions hardlink-inherit
    stale partials."""
    _null_seed(spark, warehouse)
    create_matview(
        warehouse, "mv_by_grp", "fact", ["grp"], ["amount"], n_buckets=8
    )
    merge_upsert(
        warehouse, "fact",
        _batch(spark, [
            ("n1", "gN", 0, TS2),
            ("v1", "gV", None, TS2), ("v2", "gV", None, TS2),
        ]),
        n_buckets=8,
    )
    assert refresh_matview(warehouse, "mv_by_grp") == "incremental"
    state = _mv_state(warehouse)
    assert state["gN"] == (2, 0)
    assert state["gV"] == (2, None)
    # equivalence with a one-shot recompute over the final base
    expected = {
        r.grp: (r.n, r.s)
        for r in warehouse.read("fact")
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s"))
        .collect()
    }
    assert state == expected


def test_pre_nn_schema_mv_upgrades_via_full(spark, warehouse):
    """An MV stored before the (sum, non-null count) pair (no {c}_nn
    column) must take ONE full recompute — which writes the new
    schema — instead of an incremental merge that would fail on the
    missing column; the next refresh is incremental again."""
    _seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    # rewrite the stored MV into the legacy shape: drop the nn column
    legacy = warehouse.read("mv_by_grp").drop("amount_nn")
    warehouse.write_version(
        "mv_by_grp", legacy,
        extra_meta=warehouse.read_version_meta("mv_by_grp"),
    )

    merge_upsert(
        warehouse, "fact", _batch(spark, [("e", "g4", 3, TS2)]), n_buckets=8,
    )
    assert refresh_matview(warehouse, "mv_by_grp") == "full"
    assert _mv_state(warehouse)["g4"] == (1, 3)
    assert "amount_nn" in warehouse.read("mv_by_grp").columns
    merge_upsert(
        warehouse, "fact", _batch(spark, [("f", "g4", 4, TS2)]), n_buckets=8,
    )
    assert refresh_matview(warehouse, "mv_by_grp") == "incremental"
    assert _mv_state(warehouse)["g4"] == (2, 7)


# -- lineage durability + CAS (round 12) -------------------------------


def test_compact_preserves_mv_lineage(spark, warehouse):
    """compact() is a content-preserving rewrite: the new version must
    carry the reflected-base record forward. Before round 12 it
    dropped _VERSION_META.json, _recorded_base_version resolved to
    None, and the next refresh crashed joining None into a path."""
    _seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    recorded = warehouse.read_version_meta("mv_by_grp")["mv_base_version"]

    warehouse.compact("mv_by_grp")
    assert (
        warehouse.read_version_meta("mv_by_grp")["mv_base_version"]
        == recorded
    )
    assert not is_stale(warehouse, "mv_by_grp")
    assert refresh_matview(warehouse, "mv_by_grp") == "fresh"

    # and the MV still refreshes INCREMENTALLY after its compaction
    merge_upsert(
        warehouse, "fact", _batch(spark, [("e", "g4", 3, TS2)]), n_buckets=8,
    )
    assert refresh_matview(warehouse, "mv_by_grp") == "incremental"
    assert _mv_state(warehouse)["g4"] == (1, 3)


def test_partial_write_inherits_version_meta(spark, warehouse):
    """A partial write that states no extra_meta keeps the previous
    version's lineage (it inherits the content, it inherits the
    record) — the seam compact(only_fragmented=True) rides."""
    _seed(spark, warehouse)
    create_matview(
        warehouse, "mv_by_grp", "fact", ["grp"], ["amount"], n_buckets=8
    )
    from qms_datawarehouse_spark.operators.matview import MV_BUCKET_COL

    recorded = warehouse.read_version_meta("mv_by_grp")["mv_base_version"]
    mv = warehouse.read("mv_by_grp")
    some_bucket = mv.select(MV_BUCKET_COL).first()[0]
    sub = mv.filter(F.col(MV_BUCKET_COL) == some_bucket)
    warehouse.write_version_partial(
        "mv_by_grp", sub, [some_bucket], partition_col=MV_BUCKET_COL
    )
    assert (
        warehouse.read_version_meta("mv_by_grp")["mv_base_version"]
        == recorded
    )
    assert refresh_matview(warehouse, "mv_by_grp") == "fresh"


def test_refresh_full_when_lineage_lost(spark, warehouse):
    """Version meta gone AND no legacy table-meta record: the stored
    partials reflect an unknown base, so refresh must take the full
    branch (re-establishing lineage), never crash on a None path."""
    import os

    from qms_datawarehouse_spark.warehouse import VERSION_META_FILE

    _seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    vdir = warehouse.current_version_dir("mv_by_grp")
    os.unlink(os.path.join(vdir, VERSION_META_FILE))

    assert is_stale(warehouse, "mv_by_grp")
    assert refresh_matview(warehouse, "mv_by_grp") == "full"
    assert not is_stale(warehouse, "mv_by_grp")
    assert refresh_matview(warehouse, "mv_by_grp") == "fresh"
    assert _mv_state(warehouse)["g1"] == (2, 30)


def test_update_version_meta_cas(spark, warehouse):
    """warehouse-level CAS: an advance expecting a superseded version
    must raise, and the rival's meta must be untouched."""
    import pytest

    from qms_datawarehouse_spark.warehouse import ConcurrentWriteError

    _seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    stale_version = warehouse.current_version_name("mv_by_grp")
    rival_meta = {"mv_base_version": "rival"}
    warehouse.write_version(
        "mv_by_grp", warehouse.read("mv_by_grp"), extra_meta=rival_meta
    )

    with pytest.raises(ConcurrentWriteError):
        warehouse.update_version_meta(
            "mv_by_grp", {"mv_base_version": "mine"},
            expect_version=stale_version,
        )
    assert warehouse.read_version_meta("mv_by_grp") == rival_meta


def test_lineage_advance_loser_gets_conflict(spark, warehouse):
    """The verdict-ordered interleaving: a refresh on the LINEAGE-ONLY
    path (content-preserving base rewrite) races a rival that commits
    a real MV data version between our version resolve and the meta
    rename. The advance must surface ConcurrentWriteError — stamping
    our older base over the rival's newer version would make the next
    refresh re-merge a delta the stored partials already include."""
    from unittest import mock

    import pytest

    from qms_datawarehouse_spark.warehouse import (
        ConcurrentWriteError,
        ParquetWarehouse,
    )

    _seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    # content-preserving base rewrite → our refresh nets to zero and
    # takes the lineage-only advance
    warehouse.compact("fact", sort_col="_id")

    real_update = ParquetWarehouse.update_version_meta
    fired = {"done": False}

    def racing_update(self, table, meta, expect_version=None):
        if table == "mv_by_grp" and not fired["done"]:
            fired["done"] = True
            # rival: a REAL delta lands and a rival refresh commits a
            # new MV data version (with newer lineage) first
            merge_upsert(
                warehouse, "fact",
                _batch(spark, [("e", "g4", 3, TS2)]), n_buckets=8,
            )
            refresh_matview(warehouse, "mv_by_grp")
        return real_update(self, table, meta, expect_version=expect_version)

    with mock.patch.object(
        ParquetWarehouse, "update_version_meta", racing_update
    ):
        with pytest.raises(ConcurrentWriteError):
            refresh_matview(warehouse, "mv_by_grp")

    # the rival's merge is intact and its lineage was not regressed:
    # a plain re-read refresh finds everything current
    assert _mv_state(warehouse)["g4"] == (1, 3)
    assert refresh_matview(warehouse, "mv_by_grp") == "fresh"


def test_rival_during_lineage_read_surfaces_conflict(spark, warehouse):
    """The round-12 TOCTOU (ADVICE high): lineage used to be read
    from WHATEVER was current, with the CAS target (mv_version)
    resolved much later — a rival committing in between advanced the
    MV, the loser resolved mv_version to the RIVAL's version, merged
    its already-applied recorded→current delta into partials that
    included it, and the CAS passed: a silent double-count (g1 sum 40
    instead of 35), no ConcurrentWriteError. The earlier race tests
    only injected rivals AFTER mv_version resolution, so this window
    was untested. Fixed by pinning mv_version FIRST and reading
    lineage from that exact snapshot; this test fires the rival
    inside the lineage read itself — the earliest point a commit can
    land — and the loser must now surface the conflict."""
    from unittest import mock

    import pytest

    from qms_datawarehouse_spark.warehouse import (
        ConcurrentWriteError,
        ParquetWarehouse,
    )

    _seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    # the real delta our refresh will try to apply: b (g1: 20→25)
    merge_upsert(
        warehouse, "fact", _batch(spark, [("b", "g1", 25, TS2)]), n_buckets=8,
    )

    real_read = ParquetWarehouse.read_version_meta
    fired = {"done": False}

    def racing_read(self, table, version=None):
        out = real_read(self, table, version=version)
        if table == "mv_by_grp" and not fired["done"]:
            fired["done"] = True
            # rival refresh commits while WE are reading lineage —
            # its new MV version already contains the g1 delta
            with mock.patch.object(
                ParquetWarehouse, "read_version_meta", real_read
            ):
                assert refresh_matview(warehouse, "mv_by_grp") == (
                    "incremental"
                )
        return out

    with mock.patch.object(
        ParquetWarehouse, "read_version_meta", racing_read
    ):
        with pytest.raises(ConcurrentWriteError):
            refresh_matview(warehouse, "mv_by_grp")

    # the rival's merge is intact and applied exactly once — the
    # pre-fix behavior left g1 at (2, 40): the delta merged twice
    assert _mv_state(warehouse)["g1"] == (2, 35)
    assert refresh_matview(warehouse, "mv_by_grp") == "fresh"


def test_full_recompute_fallback_is_cased_too(spark, warehouse):
    """Round 13: the full-recompute fallback (lost lineage, GC'd base,
    legacy schema) used to commit UNCHECKED — a rival refreshing
    against a NEWER base in the same window was blind-overwritten,
    regressing both data and lineage. _full now CASes on the pinned
    MV version like every other commit in refresh_matview."""
    import os
    from unittest import mock

    import pytest

    from qms_datawarehouse_spark.warehouse import (
        ConcurrentWriteError,
        ParquetWarehouse,
    )

    _seed(spark, warehouse)
    create_matview(warehouse, "mv_by_grp", "fact", ["grp"], ["amount"])
    # manufacture lost lineage: no _VERSION_META.json, no table-meta
    # record -> the next refresh must take the _full path
    vdir = warehouse.current_version_dir("mv_by_grp")
    meta_path = os.path.join(vdir, "_VERSION_META.json")
    if os.path.exists(meta_path):
        os.remove(meta_path)
    warehouse.write_meta(
        "mv_by_grp",
        {k: v for k, v in warehouse.read_meta("mv_by_grp").items()
         if k != "mv_base_version"},
    )
    merge_upsert(
        warehouse, "fact", _batch(spark, [("e", "g4", 3, TS2)]), n_buckets=8,
    )

    real_write = ParquetWarehouse.write_version
    fired = {"done": False}

    def racing_write(self, table, df, **kw):
        if table == "mv_by_grp" and not fired["done"]:
            fired["done"] = True
            # rival full refresh commits first (lineage still lost,
            # so it also recomputes — and re-establishes lineage)
            assert refresh_matview(warehouse, "mv_by_grp") == "full"
        return real_write(self, table, df, **kw)

    with mock.patch.object(ParquetWarehouse, "write_version", racing_write):
        with pytest.raises(ConcurrentWriteError):
            refresh_matview(warehouse, "mv_by_grp")

    # the rival's recompute is intact and current
    assert _mv_state(warehouse)["g4"] == (1, 3)
    assert refresh_matview(warehouse, "mv_by_grp") == "fresh"
