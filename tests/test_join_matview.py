"""Join-MV maintenance: create ≡ direct join; fact deltas rewrite
only their buckets; dim deltas propagate by EXACT changed key (and
only rewrite the fact buckets holding those keys); dim-key removal
drops joined rows (inner-join semantics); degraded inputs fall back
to a correct full recompute."""

from __future__ import annotations

from pyspark.sql import functions as F

from qms_datawarehouse_spark import planaudit
from qms_datawarehouse_spark.operators.join_matview import (
    JoinRefreshResult,
    create_join_matview,
    is_join_stale,
    refresh_join_matview,
)
from qms_datawarehouse_spark.operators.merge import merge_upsert, with_bucket
from qms_datawarehouse_spark.warehouse import BUCKET_COL

N_BUCKETS = 8


def _seed(spark, wh, n_facts=200, n_dims=20):
    facts = spark.range(n_facts).select(
        F.col("id").cast("string").alias("_id"),
        (F.col("id") % n_dims).alias("cust_id"),
        (F.col("id") * 10).alias("cents"),
        F.lit("2024-01-01").cast("timestamp").alias("updated_at"),
    )
    dims = spark.range(n_dims).select(
        F.col("id").cast("string").alias("_id"),
        F.col("id").alias("cust_id"),
        (F.col("id") % 5).alias("segment"),
        F.lit("2024-01-01").cast("timestamp").alias("updated_at"),
    )
    merge_upsert(wh, "facts", facts, n_buckets=N_BUCKETS)
    merge_upsert(wh, "dims", dims, n_buckets=N_BUCKETS)
    create_join_matview(
        wh, "mv", "facts", "dims", dim_key="cust_id", dim_cols=["segment"]
    )


def _mv_rows(wh):
    return {
        (r["_id"], r["cust_id"], r["cents"], r["segment"])
        for r in wh.read("mv")
        .select("_id", "cust_id", "cents", "segment")
        .collect()
    }


def _expected(wh):
    return {
        (r["_id"], r["cust_id"], r["cents"], r["segment"])
        for r in wh.read("facts")
        .join(wh.read("dims").select("cust_id", "segment"), "cust_id")
        .select("_id", "cust_id", "cents", "segment")
        .collect()
    }


def test_create_equals_direct_join(spark, warehouse):
    _seed(spark, warehouse)
    assert _mv_rows(warehouse) == _expected(warehouse)
    assert not is_join_stale(warehouse, "mv")
    assert refresh_join_matview(warehouse, "mv").mode == "fresh"


def test_fact_delta_rewrites_only_its_buckets(spark, warehouse):
    _seed(spark, warehouse)
    # one updated + one inserted fact — at most 2 touched buckets
    batch = spark.createDataFrame(
        [("7", 7 % 20, 99999, "2024-02-01"), ("9000", 3, 11, "2024-02-01")],
        "`_id` string, cust_id long, cents long, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    merge_upsert(warehouse, "facts", batch, n_buckets=N_BUCKETS)
    assert is_join_stale(warehouse, "mv")
    res = refresh_join_matview(warehouse, "mv")
    assert res.mode == "incremental"
    assert 0 < res.touched_buckets <= 2 < res.total_buckets
    assert _mv_rows(warehouse) == _expected(warehouse)


def test_dim_delta_propagates_by_exact_key(spark, warehouse):
    _seed(spark, warehouse)
    # ONE dim key changes segment: only the fact buckets holding that
    # key's facts may be rewritten (10 facts of cust 13 over 8
    # buckets — strictly fewer than all when they cluster, and the
    # VALUES must move regardless)
    moved = spark.createDataFrame(
        [("13", 13, 77, "2024-02-01")],
        "`_id` string, cust_id long, segment long, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    merge_upsert(warehouse, "dims", moved, n_buckets=N_BUCKETS)
    res = refresh_join_matview(warehouse, "mv")
    assert res.mode == "incremental"
    # the touched set is the OWNING buckets of cust 13's facts, not
    # every bucket of the changed dim partition's other keys
    owning = {
        int(r[0])
        for r in warehouse.read("facts")
        .filter(F.col("cust_id") == 13)
        .select(BUCKET_COL)
        .distinct()
        .collect()
    }
    assert res.touched_buckets == len(owning)
    got = _mv_rows(warehouse)
    assert got == _expected(warehouse)
    assert all(seg == 77 for (_, c, _, seg) in got if c == 13)


def test_dim_key_removal_drops_joined_rows(spark, warehouse):
    _seed(spark, warehouse)
    # destructive dim rewrite WITHOUT key 5, keeping the bucket
    # layout: every dim bucket's inode changes, but the row diff
    # still isolates the ONE vanished key
    survivors = warehouse.read("dims").filter(F.col("cust_id") != 5)
    warehouse.write_version("dims", survivors, partition_by=[BUCKET_COL])
    res = refresh_join_matview(warehouse, "mv")
    assert res.mode == "incremental"
    got = _mv_rows(warehouse)
    assert got == _expected(warehouse)
    assert not any(c == 5 for (_, c, _, _) in got)


def test_both_sides_change_in_one_refresh(spark, warehouse):
    _seed(spark, warehouse)
    fact_batch = spark.createDataFrame(
        [("9001", 4, 1234, "2024-02-01")],
        "`_id` string, cust_id long, cents long, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    merge_upsert(warehouse, "facts", fact_batch, n_buckets=N_BUCKETS)
    moved = spark.createDataFrame(
        [("2", 2, 42, "2024-02-01")],
        "`_id` string, cust_id long, segment long, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    merge_upsert(warehouse, "dims", moved, n_buckets=N_BUCKETS)
    res = refresh_join_matview(warehouse, "mv")
    assert res.mode == "incremental"
    assert _mv_rows(warehouse) == _expected(warehouse)


def test_dim_layout_loss_falls_back_to_full(spark, warehouse):
    _seed(spark, warehouse)
    # a dim rewrite that DROPS the bucket layout: the inode diff is
    # impossible, refresh must recompute fully — and still be right
    flat = warehouse.read("dims").withColumn(
        "segment", F.col("segment") + 100
    )
    warehouse.write_version("dims", flat)  # no partition_by
    res = refresh_join_matview(warehouse, "mv")
    assert res.mode == "full"
    assert _mv_rows(warehouse) == _expected(warehouse)


def test_oversized_dim_diff_falls_back_to_full(spark, warehouse):
    _seed(spark, warehouse)
    moved = warehouse.read("dims").withColumn(
        "segment", F.col("segment") + 7
    )
    warehouse.write_version("dims", moved, partition_by=[BUCKET_COL])
    res = refresh_join_matview(warehouse, "mv", max_dim_keys=3)
    assert res.mode == "full"
    assert _mv_rows(warehouse) == _expected(warehouse)


def test_null_dim_attribute_not_reflagged(spark, warehouse):
    """A dim row with a NULL attribute must compare equal to itself
    across versions (exceptAll, not an anti-join on columns): after a
    dim rewrite that changes ONLY key 13, the null-attribute key 11
    must not be in the changed-key set — its facts' buckets stay
    untouched unless they overlap key 13's."""
    _seed(spark, warehouse)
    nulled = spark.createDataFrame(
        [("11", 11, None, "2024-01-15")],
        "`_id` string, cust_id long, segment long, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    merge_upsert(warehouse, "dims", nulled, n_buckets=N_BUCKETS)
    assert refresh_join_matview(warehouse, "mv").mode == "incremental"
    # now change ONLY key 13
    moved = spark.createDataFrame(
        [("13", 13, 88, "2024-02-01")],
        "`_id` string, cust_id long, segment long, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    merge_upsert(warehouse, "dims", moved, n_buckets=N_BUCKETS)
    res = refresh_join_matview(warehouse, "mv")
    assert res.mode == "incremental"
    owning_13 = {
        int(r[0])
        for r in warehouse.read("facts")
        .filter(F.col("cust_id") == 13)
        .select(BUCKET_COL)
        .distinct()
        .collect()
    }
    # exactly key 13's owning buckets — the null-attribute key 11
    # did not inflate the changed-key set
    assert res.touched_buckets == len(owning_13)
    assert _mv_rows(warehouse) == _expected(warehouse)


def test_refresh_result_shape():
    r = JoinRefreshResult("fresh", 0, 8)
    assert (r.mode, r.touched_buckets, r.total_buckets) == ("fresh", 0, 8)


# ---------------------------------------------------------------------
# Round 11: broadcast-semi dim probe (no driver round-trip for the
# changed-key set), zero-row MVs, and single-swap lineage.
# ---------------------------------------------------------------------


def test_dim_probe_is_broadcast_semi_join_column_pruned(spark, warehouse):
    """The changed-dim-key set must reach the fact scan as a
    broadcast left-semi probe over ONLY (dim_key, bucket) — never as
    driver-collected literals (the 10k-literal predicate cliff), and
    never widening the scan to full rows."""
    _seed(spark, warehouse)
    moved = spark.createDataFrame(
        [("13", 13, 77, "2024-02-01")],
        "`_id` string, cust_id long, segment long, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    merge_upsert(warehouse, "dims", moved, n_buckets=N_BUCKETS)
    with planaudit.capture() as plans:
        res = refresh_join_matview(warehouse, "mv")
    assert res.mode == "incremental"

    plan = plans["join_matview:dim_probe"]
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # column pruning: the fact side appears as a scan reading exactly
    # cust_id (+ the bucket partition value) — and NO scan anywhere in
    # the probe reads the fact payload columns (Location paths are
    # truncated in plan text, so scans are identified by schema)
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert any(
        "ReadSchema:struct<cust_id:bigint>" in ln.replace(" ", "")
        for ln in scans
    ), "no column-pruned (cust_id, bucket) fact scan in the probe plan"
    assert not any("cents" in ln for ln in scans), (
        "a probe scan reads fact payload columns"
    )


def test_dim_diff_reads_each_snapshot_once(spark, warehouse):
    """The changed-dim-key diff must be the single-pass signed
    multiset form: each snapshot's changed buckets scanned ONCE into
    one aggregate — not the two-exceptAll shape, which scanned each
    snapshot twice and shuffled twice (Spark lowers exceptAll through
    Generate replicaterows; its absence pins the shape)."""
    _seed(spark, warehouse)
    moved = spark.createDataFrame(
        [("13", 13, 77, "2024-02-01")],
        "`_id` string, cust_id long, segment long, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    merge_upsert(warehouse, "dims", moved, n_buckets=N_BUCKETS)
    with planaudit.capture() as plans:
        res = refresh_join_matview(warehouse, "mv")
    assert res.mode == "incremental"

    plan = plans["join_matview:dim_diff"]
    assert "replicaterows" not in plan, "exceptAll shape is back"
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert len(scans) == 2, (
        f"expected exactly one scan per dim snapshot, got {len(scans)}"
    )


def test_zero_row_mv_refreshes_incrementally(spark, warehouse):
    """A join MV whose create-time join produced ZERO rows has no
    partition dirs to inherit; its touched rows are its whole content,
    so the first real refresh stays incremental (the staging rule
    writes a full version) instead of dying in write_version_partial's
    loud no-partition-dirs guard."""
    facts = spark.range(50).select(
        F.col("id").cast("string").alias("_id"),
        (F.col("id") % 10 + 1000).alias("cust_id"),  # no dim match
        (F.col("id") * 10).alias("cents"),
        F.lit("2024-01-01").cast("timestamp").alias("updated_at"),
    )
    dims = spark.range(10).select(
        F.col("id").cast("string").alias("_id"),
        F.col("id").alias("cust_id"),
        (F.col("id") % 5).alias("segment"),
        F.lit("2024-01-01").cast("timestamp").alias("updated_at"),
    )
    merge_upsert(warehouse, "facts", facts, n_buckets=N_BUCKETS)
    merge_upsert(warehouse, "dims", dims, n_buckets=N_BUCKETS)
    create_join_matview(
        warehouse, "mv", "facts", "dims", dim_key="cust_id",
        dim_cols=["segment"],
    )
    assert warehouse.read("mv").count() == 0

    # epoch 2: facts that DO match -> non-empty touched set against a
    # partitionless MV version
    batch = spark.range(5).select(
        (F.col("id") + 9000).cast("string").alias("_id"),
        F.col("id").alias("cust_id"),
        F.lit(42).cast("long").alias("cents"),
        F.lit("2024-02-01").cast("timestamp").alias("updated_at"),
    )
    merge_upsert(warehouse, "facts", batch, n_buckets=N_BUCKETS)
    res = refresh_join_matview(warehouse, "mv")
    assert res.mode == "incremental"
    assert _mv_rows(warehouse) == _expected(warehouse)
    assert warehouse.read("mv").count() == 5


def test_refresh_commits_without_separate_meta_write(spark, warehouse):
    """Single-swap lineage: a refresh must not depend on any
    post-data table-meta write (the aggregate layer's old crash
    window) — kill write_meta during refresh and everything still
    lands, replays staying no-ops."""
    from unittest import mock

    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    _seed(spark, warehouse)
    batch = spark.createDataFrame(
        [("9100", 4, 7, "2024-02-01")],
        "`_id` string, cust_id long, cents long, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    merge_upsert(warehouse, "facts", batch, n_buckets=N_BUCKETS)

    with mock.patch.object(
        ParquetWarehouse, "write_meta",
        side_effect=AssertionError("refresh wrote table meta after data"),
    ):
        assert refresh_join_matview(warehouse, "mv").mode == "incremental"
    assert _mv_rows(warehouse) == _expected(warehouse)
    assert refresh_join_matview(warehouse, "mv").mode == "fresh"


def test_legacy_table_meta_jmv_still_refreshes(spark, warehouse):
    """A join MV written by the pre-round-11 protocol (base versions
    in table meta only) stays refreshable; the first refresh upgrades
    it to version-meta lineage."""
    import os

    from qms_datawarehouse_spark.warehouse import VERSION_META_FILE

    _seed(spark, warehouse)
    vmeta = warehouse.read_version_meta("mv")
    os.unlink(
        os.path.join(warehouse.current_version_dir("mv"), VERSION_META_FILE)
    )
    warehouse.write_meta("mv", {**warehouse.read_meta("mv"), **vmeta})

    assert not is_join_stale(warehouse, "mv")
    batch = spark.createDataFrame(
        [("9200", 3, 5, "2024-02-01")],
        "`_id` string, cust_id long, cents long, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    merge_upsert(warehouse, "facts", batch, n_buckets=N_BUCKETS)
    assert is_join_stale(warehouse, "mv")
    res = refresh_join_matview(warehouse, "mv")
    assert res.mode == "incremental"
    assert _mv_rows(warehouse) == _expected(warehouse)
    assert warehouse.read_version_meta("mv") is not None
    assert refresh_join_matview(warehouse, "mv").mode == "fresh"


def test_identical_dim_rewrite_advances_lineage_only(spark, warehouse):
    """A dim commit whose rows are byte-identical (version advanced,
    zero changed keys) must advance the MV's lineage WITHOUT writing a
    data version: the stored rows are already correct, so the refresh
    records the new base in place (update_version_meta) and a second
    refresh is fresh."""
    _seed(spark, warehouse)
    mv_version = warehouse.current_version_name("mv")

    # rewrite the dim with the SAME rows (new version, same content,
    # same bucket layout)
    same = warehouse.read("dims")
    warehouse.write_version("dims", same, partition_by=[BUCKET_COL])
    assert is_join_stale(warehouse, "mv")

    res = refresh_join_matview(warehouse, "mv")
    assert res.mode == "incremental"
    assert res.touched_buckets == 0
    # no new MV data version was written
    assert warehouse.current_version_name("mv") == mv_version
    # lineage advanced: now fresh, and values intact
    assert not is_join_stale(warehouse, "mv")
    assert refresh_join_matview(warehouse, "mv").mode == "fresh"
    assert _mv_rows(warehouse) == _expected(warehouse)


def test_join_refresh_full_when_lineage_lost(spark, warehouse):
    """Version meta gone AND no legacy table-meta record: the stored
    rows reflect an unknown base pair — refresh must take the full
    branch (re-establishing lineage), never crash on a None path."""
    import os

    from qms_datawarehouse_spark.warehouse import VERSION_META_FILE

    _seed(spark, warehouse)
    vdir = warehouse.current_version_dir("mv")
    os.unlink(os.path.join(vdir, VERSION_META_FILE))

    assert is_join_stale(warehouse, "mv")
    assert refresh_join_matview(warehouse, "mv").mode == "full"
    assert not is_join_stale(warehouse, "mv")
    assert refresh_join_matview(warehouse, "mv").mode == "fresh"
    assert _mv_rows(warehouse) == _expected(warehouse)


def test_compact_preserves_join_mv_lineage(spark, warehouse):
    """compact() of the join MV is a content-preserving rewrite: the
    reflected base versions must ride into the new version, keeping
    the MV fresh and later refreshes incremental."""
    _seed(spark, warehouse)
    recorded = warehouse.read_version_meta("mv")

    warehouse.compact("mv", sort_col="_id")
    assert warehouse.read_version_meta("mv") == recorded
    assert not is_join_stale(warehouse, "mv")
    assert refresh_join_matview(warehouse, "mv").mode == "fresh"

    # incremental maintenance still works on the compacted MV
    batch = spark.createDataFrame(
        [("7", 7 % 20, 55555, "2024-03-01")],
        "`_id` string, cust_id long, cents long, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    merge_upsert(warehouse, "facts", batch, n_buckets=N_BUCKETS)
    assert refresh_join_matview(warehouse, "mv").mode == "incremental"
    assert _mv_rows(warehouse) == _expected(warehouse)


def test_lineage_advance_race_retries_not_lost(spark, warehouse):
    """A lineage-only advance racing a rival's data commit must not
    stamp OLDER base versions over the rival's newer MV version (the
    CAS catches it) — this layer's absorbing contract re-reads and
    retries, ending with lineage that reflects the live state."""
    from unittest import mock

    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    _seed(spark, warehouse)
    # identical dim rewrite → zero changed keys → lineage-only path
    warehouse.write_version(
        "dims", warehouse.read("dims"), partition_by=[BUCKET_COL]
    )
    assert is_join_stale(warehouse, "mv")

    real_update = ParquetWarehouse.update_version_meta
    fired = {"done": False}

    def racing_update(self, table, meta, expect_version=None):
        if table == "mv" and not fired["done"]:
            fired["done"] = True
            # rival: a real fact delta lands and a rival refresh
            # commits a new MV data version with newer lineage
            batch = spark.createDataFrame(
                [("9100", 4, 77, "2024-03-01")],
                "`_id` string, cust_id long, cents long, updated_at string",
            ).withColumn(
                "updated_at", F.col("updated_at").cast("timestamp")
            )
            merge_upsert(warehouse, "facts", batch, n_buckets=N_BUCKETS)
            refresh_join_matview(warehouse, "mv")
        return real_update(self, table, meta, expect_version=expect_version)

    with mock.patch.object(
        ParquetWarehouse, "update_version_meta", racing_update
    ):
        res = refresh_join_matview(warehouse, "mv")

    # the retry observed the rival's state; nothing was lost — the MV
    # is current and value-correct, including the rival's insert
    assert res.mode == "fresh"
    assert not is_join_stale(warehouse, "mv")
    assert ("9100", 4, 77 * 1, None) not in _mv_rows(warehouse)  # shape guard
    assert _mv_rows(warehouse) == _expected(warehouse)
    assert any(r[0] == "9100" for r in _mv_rows(warehouse))


def test_partial_write_race_retries_against_rival(spark, warehouse):
    """ADVICE r13 (medium): a refresh losing the partial-write CAS
    used to fall back to _full() WITHOUT expect_base — blind-
    overwriting the rival refresh that just won, with data joined
    from base versions pinned before the rival's batch landed
    (transient rollback of committed rows). The fix retries the whole
    refresh against the rival's state; the end state must include
    BOTH writers' rows."""
    from unittest import mock

    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    _seed(spark, warehouse)
    # our delta: one fact insert -> the refresh takes the partial path
    ours = spark.createDataFrame(
        [("9200", 5, 55, "2024-03-01")],
        "`_id` string, cust_id long, cents long, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    merge_upsert(warehouse, "facts", ours, n_buckets=N_BUCKETS)
    assert is_join_stale(warehouse, "mv")

    real_partial = ParquetWarehouse.write_version_partial
    fired = {"done": False}

    def racing_partial(self, table, df, touched, **kw):
        if table == "mv" and not fired["done"]:
            fired["done"] = True
            # rival: lands its own fact batch AND refreshes the MV —
            # the MV version advances, so the outer caller's CAS fails
            batch = spark.createDataFrame(
                [("9300", 6, 66, "2024-03-02")],
                "`_id` string, cust_id long, cents long, updated_at string",
            ).withColumn(
                "updated_at", F.col("updated_at").cast("timestamp")
            )
            merge_upsert(warehouse, "facts", batch, n_buckets=N_BUCKETS)
            refresh_join_matview(warehouse, "mv")
        return real_partial(self, table, df, touched, **kw)

    with mock.patch.object(
        ParquetWarehouse, "write_version_partial", racing_partial
    ):
        res = refresh_join_matview(warehouse, "mv")

    # the rival's refresh already brought the MV current (it absorbed
    # both deltas); our retry must observe that, not overwrite it
    assert res.mode == "fresh"
    assert not is_join_stale(warehouse, "mv")
    rows = _mv_rows(warehouse)
    assert any(r[0] == "9200" for r in rows)  # our row
    assert any(r[0] == "9300" for r in rows)  # the rival's row survives
    assert rows == _expected(warehouse)
