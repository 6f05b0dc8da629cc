"""Pull-based materialized views with version-tracked staleness and
O(changed-bucket) incremental refresh.

The rollup cascade (``rollup_hypertable``) is push-based: the ingest
path hands it each delta. A consumer who does NOT own the ingest
pipeline still wants pre-aggregated tables that (a) know when they
are stale and (b) refresh in time proportional to what changed. This
layer provides that over any key-bucketed warehouse table:

- the MV's ``_META`` records the base table and the exact base
  VERSION the stored aggregates reflect — staleness is one string
  compare, no data read;
- refresh computes ``delta = agg(changed buckets @ new) − agg(changed
  buckets @ old)`` using the inode-level change detector
  (``changes.changed_partitions``): hardlink-inherited buckets are
  provably unchanged and never scanned. The stored partials merge
  with the delta by group key; groups whose count reaches zero drop;
- partials are ADDITIVE (count, and per sum column the (sum, non-null
  count) pair — mean derives at read time), so the merge is
  associative and the delta can be negative. The non-null count is
  what keeps SQL sum semantics exact under NULLs: an all-NULL group's
  sum is NULL, a zero-sum group's is 0, and only the pair can tell a
  delta that moved between those states from no change at all. min/max
  are NOT incrementally maintainable under deletes/updates and are
  deliberately excluded here (the rollup layer handles them for
  append-only feeds);
- if the recorded base version was garbage-collected (retention
  passed), refresh falls back to a full recompute — correct, just not
  incremental.

Commit protocol (round 11 — the crash window is CLOSED): the base
version the stored aggregates reflect is recorded INSIDE the MV
version directory (``warehouse.write_version(extra_meta=...)`` →
``_VERSION_META.json``), so data and lineage commit in ONE atomic
pointer swap. The round-7..10 design wrote the data version first and
repointed a separate table-level meta second; a crash between the two
left aggregates that already included the delta under a meta naming
the old base, and the next refresh merged the SAME delta again —
additive partials are not idempotent (unlike the join-MV layer's
absolute bucket rewrites, operators/join_matview.py). Now a crash
before the swap leaves the old version (old data + old base, both
consistent) and a crash after the swap leaves the new pair — there is
no state from which a double-count is reachable; the invariant is
pinned by crash-injection tests (tests/test_matview.py). MVs written
by the old protocol (base version only in table meta) are still
readable — the lookup falls back to the table meta.

At 100 TB: staleness checks are free; a sync that touched 40 of 8192
buckets makes the MV refresh read those 40 buckets twice (old + new
version — both retained snapshots) and shuffle only their group keys.

Round 11 adds the WRITE side of that asymptotic story: an MV created
with ``n_buckets`` is itself hash-partitioned on its group key
(``_mv_bucket``), and refresh rewrites ONLY the MV buckets holding
delta-touched groups — stored partials outside them are never read
(partition-pruned scan) and their dirs hardlink-inherit. Without it
every refresh rewrites the full MV, which is O(group cardinality): a
1-bucket base change against a billion-group MV would cost a full MV
rewrite. Unbucketed stays the default for small MVs (one file, no
layout overhead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qms_datawarehouse_spark.operators.changes import changed_partitions
from qms_datawarehouse_spark.plans.registry import query, tables
from qms_datawarehouse_spark.warehouse import (
    BUCKET_COL,
    ConcurrentWriteError,
    ParquetWarehouse,
)

# the MV's OWN partition column (hash of the group key), distinct from
# the base table's BUCKET_COL: base buckets shard ROWS by merge key,
# MV buckets shard GROUPS — the two layouts are unrelated
MV_BUCKET_COL = "_mv_bucket"


def _aggregate(df: DataFrame, group_cols: list[str], sum_cols: list[str],
               sign: int = 1) -> DataFrame:
    """Additive partials per group: row count, and per sum column the
    (sum, non-null count) PAIR. The pair — not the sum alone — is the
    sufficient statistic for SQL sum-with-NULL semantics under an
    additive merge: ``sum`` over partials treats an all-NULL partial
    as contributing nothing, which is indistinguishable from a partial
    whose true sum is 0; the non-null count disambiguates (the merged
    sum is NULL iff the merged non-null count is 0). Without it, a
    group whose stored sum was NULL and whose delta introduced a 0
    netted to "no change" and kept the stale NULL forever."""
    aggs = [F.sum(F.lit(sign)).cast("long").alias("_mv_n")]
    for c in sum_cols:
        aggs.append((F.sum(F.col(c)) * sign).alias(f"{c}_sum"))
        aggs.append(
            (F.count(F.col(c)) * sign).cast("long").alias(f"{c}_nn")
        )
    return df.groupBy(*group_cols).agg(*aggs)


def _with_mv_bucket(df: DataFrame, group_cols: list[str],
                    n_buckets: int) -> DataFrame:
    """Stable hash-bucket of the GROUP key (merge.with_bucket's
    convention — xxhash64 is seed-stable, so a group's MV bucket never
    changes across refreshes)."""
    return df.withColumn(
        MV_BUCKET_COL,
        F.pmod(F.xxhash64(*[F.col(c) for c in group_cols]), F.lit(n_buckets)),
    )


def _merge_partials(stored: DataFrame, delta: DataFrame,
                    group_cols: list[str], sum_cols: list[str]) -> DataFrame:
    merged = stored.unionByName(delta)
    aggs = [F.sum("_mv_n").cast("long").alias("_mv_n")]
    for c in sum_cols:
        # sum over partials ignores NULL partials — exactly right,
        # since a NULL partial is one with zero non-null inputs and
        # contributes nothing to the true sum
        aggs.append(F.sum(f"{c}_sum").alias(f"_raw_{c}_sum"))
        aggs.append(F.sum(f"{c}_nn").cast("long").alias(f"{c}_nn"))
    out = merged.groupBy(*group_cols).agg(*aggs).filter(F.col("_mv_n") > 0)
    # NULL-correct derivation: the merged sum is NULL iff no non-null
    # value survives (nn == 0); when nn > 0 at least one partial's sum
    # is non-null, so the raw sum is the true value (a 0 stays 0, it
    # does not collapse into NULL or vice versa)
    for c in sum_cols:
        out = out.withColumn(
            f"{c}_sum",
            F.when(F.col(f"{c}_nn") > 0, F.col(f"_raw_{c}_sum")),
        ).drop(f"_raw_{c}_sum")
    return out


def create_matview(
    warehouse: ParquetWarehouse,
    name: str,
    base_table: str,
    group_cols: list[str],
    sum_cols: list[str],
    n_buckets: int | None = None,
) -> None:
    """Materialize ``SELECT group_cols, count(*), sum(sum_cols…) FROM
    base_table GROUP BY group_cols`` and record the base version it
    reflects.

    ``n_buckets`` opts the MV into its own hash-bucketed layout
    (``_mv_bucket = pmod(xxhash64(group key), n)`` partition dirs).
    Without it, every refresh rewrites the whole MV — fine while the
    MV is small, O(group cardinality) when it is not. Bucketed,
    refresh rewrites ONLY the MV buckets holding groups the delta
    touched; every other partition hardlink-inherits — the refresh
    cost becomes O(delta groups + their bucket bytes), independent of
    total MV size. Size n_buckets like a merge table's: total MV bytes
    / target partition size."""
    base_version = warehouse.current_version_name(base_table)
    if base_version is None:
        raise FileNotFoundError(f"base table not found: {base_table}")
    # read the PINNED snapshot, not current: a sync committing between
    # the version capture above and this read would make the stored
    # aggregates newer than mv_base_version records, and the next
    # incremental refresh would double-count that window's buckets
    mv = _aggregate(
        warehouse.read(base_table, version=base_version), group_cols, sum_cols
    )
    # the reflected base version rides the SAME pointer swap as the
    # aggregates (extra_meta → _VERSION_META.json in the version dir);
    # the table meta keeps only the static definition
    if n_buckets:
        warehouse.write_version(
            name,
            _with_mv_bucket(mv, group_cols, n_buckets),
            partition_by=[MV_BUCKET_COL],
            extra_meta={"mv_base_version": base_version},
        )
    else:
        warehouse.write_version(
            name, mv, extra_meta={"mv_base_version": base_version}
        )
    warehouse.write_meta(
        name,
        {
            "mv_base": base_table,
            "mv_group_cols": group_cols,
            "mv_sum_cols": sum_cols,
            **({"mv_n_buckets": n_buckets} if n_buckets else {}),
        },
    )


def _recorded_base_version(warehouse: ParquetWarehouse, name: str,
                           meta: dict,
                           version: str | None = None) -> str | None:
    """The base version an MV version reflects: from that version's
    own meta (single-swap protocol), falling back to the table meta
    for MVs written before round 11. ``version=None`` reads whatever
    is current; refresh passes its PINNED version so lineage, stored
    partials, and the CAS target all name the same snapshot."""
    vmeta = warehouse.read_version_meta(name, version=version)
    if vmeta is not None and "mv_base_version" in vmeta:
        return vmeta["mv_base_version"]
    return meta.get("mv_base_version")


def is_stale(warehouse: ParquetWarehouse, name: str) -> bool:
    meta = warehouse.read_meta(name)
    recorded = _recorded_base_version(warehouse, name, meta)
    return warehouse.current_version_name(meta["mv_base"]) != recorded


def refresh_matview(warehouse: ParquetWarehouse, name: str) -> str:
    """Bring the MV up to the base's current version. Returns
    ``"fresh"`` (no-op), ``"incremental"``, or ``"full"`` (fallback
    when the recorded base version is no longer retained, the base
    lacks the bucket layout, lineage was lost entirely, or the stored
    partials predate the NULL-correct (sum, non-null count) schema).

    Concurrency contract (both layouts): a refresh racing a committed
    rival surfaces ``ConcurrentWriteError`` — every commit it makes,
    including the lineage-only advance, is a compare-and-swap on the
    MV version it read; the loser re-reads, it never overwrites."""
    import os

    meta = warehouse.read_meta(name)
    base = meta["mv_base"]
    group_cols = list(meta["mv_group_cols"])
    sum_cols = list(meta["mv_sum_cols"])
    # Pin the MV version FIRST and read lineage from that exact
    # snapshot. Reading lineage from "whatever is current" and pinning
    # the CAS target later opens a TOCTOU window: a rival committing
    # in between advances the MV, the loser resolves mv_version to the
    # RIVAL's version, merges its (already-applied) recorded→current
    # delta into partials that include it, and the CAS passes —
    # a silent double-count instead of the contractual
    # ConcurrentWriteError. With the pin first, a rival landing at any
    # later point makes every commit below (partial write, full
    # write_version expect_base, lineage-only advance) fail its CAS.
    mv_version = warehouse.current_version_name(name)
    recorded = _recorded_base_version(
        warehouse, name, meta, version=mv_version
    )
    current = warehouse.current_version_name(base)
    if current == recorded:
        return "fresh"

    # recorded is None when lineage was lost (an MV version committed
    # without _VERSION_META.json by a pre-round-12 maintenance rewrite
    # and no legacy table-meta record) — the stored partials reflect
    # an UNKNOWN base, so the only correct move is a full recompute
    # (which re-establishes lineage); joining None into a path crashed
    # here instead
    changed = None
    if recorded is not None:
        old_dir = os.path.join(warehouse.table_dir(base), recorded)
        # to_version pins the diff to the `current` captured above — a
        # sync landing mid-refresh must not widen the changed set past
        # the version the meta will record
        if os.path.isdir(old_dir):
            changed = changed_partitions(
                warehouse, base, recorded, to_version=current
            )
    n_buckets = meta.get("mv_n_buckets")

    def _full() -> str:
        # pinned to `current` captured above — the version meta and
        # data name the same base even if a sync lands mid-refresh,
        # and they commit in the same pointer swap; a bucketed MV
        # keeps its layout so later refreshes stay partial. CASed on
        # the pinned mv_version like every other commit in this
        # function: a rival may have refreshed against a base version
        # NEWER than `current`, so even a "full" recompute must not
        # blind-overwrite it (that would regress data AND lineage)
        mv = _aggregate(
            warehouse.read(base, version=current), group_cols, sum_cols
        )
        if n_buckets:
            warehouse.write_version(
                name,
                _with_mv_bucket(mv, group_cols, n_buckets),
                partition_by=[MV_BUCKET_COL],
                expect_base=mv_version,
                extra_meta={"mv_base_version": current},
            )
        else:
            warehouse.write_version(
                name, mv, expect_base=mv_version,
                extra_meta={"mv_base_version": current},
            )
        return "full"

    if changed is None:
        return _full()

    vals = [int(v) for v in changed]
    old_rows = warehouse.read(base, version=recorded).filter(
        F.col(BUCKET_COL).isin(vals)
    )
    new_rows = warehouse.read(base, version=current).filter(
        F.col(BUCKET_COL).isin(vals)
    )
    delta = _aggregate(new_rows, group_cols, sum_cols).unionByName(
        _aggregate(old_rows, group_cols, sum_cols, sign=-1)
    )
    # stored partials written before the (sum, non-null count) pair
    # lack the {c}_nn columns — one full recompute upgrades the MV to
    # the NULL-correct schema, then refreshes are incremental again
    stored_cols = set(warehouse.read(name, version=mv_version).columns)
    if any(f"{c}_nn" not in stored_cols for c in sum_cols):
        return _full()

    # NET the delta first — agg(changed@new) ∪ -agg(changed@old) names
    # EVERY group living in a changed base bucket, with cancelling
    # partials for the untouched ones; without netting, the bucketed
    # path's 'touched' balloons to all groups co-resident with the
    # change (measured: one updated row rewrote all 8 MV buckets), and
    # the unbucketed path can't tell a content-preserving base rewrite
    # (compaction, clustering) from a real delta — which turns every
    # maintenance pass into a pointless full-MV rewrite downstream
    net_aggs = [F.sum("_mv_n").cast("long").alias("_mv_n")]
    for c in sum_cols:
        net_aggs.append(F.sum(f"{c}_sum").alias(f"{c}_sum"))
        net_aggs.append(F.sum(f"{c}_nn").cast("long").alias(f"{c}_nn"))
    nonzero = F.col("_mv_n") != 0
    for c in sum_cols:
        # the nn term keeps pure NULL↔value transitions: a group whose
        # sum went all-NULL → 0 has count delta 0 and sum delta 0, but
        # its non-null count moved — dropping it left the stale NULL
        nonzero = nonzero | (F.coalesce(F.col(f"{c}_sum"), F.lit(0)) != 0)
        nonzero = nonzero | (F.col(f"{c}_nn") != 0)
    net = delta.groupBy(*group_cols).agg(*net_aggs).filter(nonzero).persist()
    try:
        if n_buckets:
            # O(delta) path: only the MV buckets holding delta-touched
            # groups are read (partition-pruned) and rewritten; the
            # collect is bounded by n_buckets
            delta_b = _with_mv_bucket(net, group_cols, n_buckets)
            touched = sorted(
                int(r[0])
                for r in delta_b.select(MV_BUCKET_COL).distinct().collect()
            )
            if not touched:
                # both snapshots aggregate identically — lineage-only
                # advance (atomic rename, idempotent on crash), CASed
                # on the MV version we resolved: a rival refresh
                # committing in between must surface as a conflict,
                # not have its newer lineage stamped over with ours
                warehouse.update_version_meta(
                    name,
                    {"mv_base_version": current},
                    expect_version=mv_version,
                )
                return "incremental"
            stored = warehouse.read(name, version=mv_version).filter(
                F.col(MV_BUCKET_COL).isin(touched)
            )
            merged = _with_mv_bucket(
                _merge_partials(
                    stored.drop(MV_BUCKET_COL),
                    net,
                    group_cols,
                    sum_cols,
                ),
                group_cols,
                n_buckets,
            )
            # a zero-row MV has nothing to inherit: its touched rows
            # are its whole content, and the staging rule writes them
            # as a full version
            warehouse.write_version_partial(
                name,
                merged,
                touched,
                partition_col=MV_BUCKET_COL,
                base_version=mv_version,
                extra_meta={"mv_base_version": current},
            )
            # ConcurrentWriteError propagates — the unbucketed
            # contract (loser gets the conflict): an un-CASed _full()
            # here would blind-overwrite the rival's committed (and
            # possibly newer-base) refresh
            return "incremental"

        if net.isEmpty():
            # content-preserving base rewrite: nothing to merge,
            # record the new base in place (CASed — see the bucketed
            # twin above)
            warehouse.update_version_meta(
                name, {"mv_base_version": current}, expect_version=mv_version
            )
            return "incremental"
        merged = _merge_partials(
            warehouse.read(name, version=mv_version), net, group_cols, sum_cols
        )
        warehouse.write_version(
            name,
            merged,
            expect_base=mv_version,
            extra_meta={"mv_base_version": current},
        )
        return "incremental"
    finally:
        net.unpersist()


# --------------------------------------------------------------------
# Driver row: incremental MV maintenance ≡ full recompute, through the
# REAL warehouse path
# --------------------------------------------------------------------

_MV_REPLAY_SQL = """
    WITH f AS (
        SELECT event_type,
               CASE WHEN ((event_id % 3) + 3) % 3 != 0
                         AND ((event_id % 5) + 5) % 5 = 0
                    THEN 2 * CAST(floor(value * 100 + 0.5) AS BIGINT)
                    ELSE CAST(floor(value * 100 + 0.5) AS BIGINT)
               END AS amount
        FROM events
        WHERE ((event_id % 2) + 2) % 2 = 0
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(amount) AS BIGINT) AS amount_sum
    FROM f GROUP BY 1
"""


@query("matview_incremental_replay", _MV_REPLAY_SQL)
def matview_incremental_replay(spark, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance pinned equal to the
    full recompute the oracle runs — through the REAL write path, not
    a stateless imitation: seed a bucketed warehouse table with epoch
    1 (event_id % 3 != 0), create the MV, merge epoch 2 (the % 3 == 0
    inserts plus % 5 == 0 updates with doubled amounts and a newer
    order column), then ``refresh_matview`` — which must take the
    INCREMENTAL branch (guarded in-query; a silent full-recompute
    fallback would still value-match, so the branch is asserted, not
    inferred). The final MV state must hash-equal the oracle's
    one-shot aggregate over the fully-updated event set: stored
    partials + (agg(changed@new) − agg(changed@old)) ≡ recompute.

    Scale shape: exactly the maintenance path's — the refresh reads
    the changed buckets at two retained versions and shuffles only
    their group keys; staleness is a version-name compare. The
    warehouse root is wiped per run so replays are deterministic
    (the fileskip/bucketed rows' rebuild-per-run convention).

    Reference analog: the reference keeps no derived aggregates —
    every report recomputes through Postgres (src/api/routes.py);
    this row is the warehouse-side upgrade that makes those reports
    O(changed buckets)."""
    import os
    import shutil

    from qms_datawarehouse_spark.operators.merge import merge_upsert

    (events,) = tables(spark, sf_dir, "events")
    # pid in the path (the rmtree + rebuild would race a concurrent
    # session replaying into one fixed warehouse root) with
    # stale-sibling cleanup — tmputil.pid_scoped_dir
    from qms_datawarehouse_spark.tmputil import pid_scoped_dir

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    root = pid_scoped_dir("qms_mv_replay", tag)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(spark, root)

    # even-id half of the corpus: the maintenance ALGEBRA being
    # verified is size-independent, and halving the rows halves the
    # four table writes this row pays per run (it was the bench's
    # most expensive entry at sf0.1 on full events)
    base = events.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0).select(
        F.col("event_id").cast("string").alias("_id"),
        F.pmod(F.col("event_id"), F.lit(3)).alias("m3"),
        F.pmod(F.col("event_id"), F.lit(5)).alias("m5"),
        F.col("event_type").alias("grp"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("amount"),
        F.col("ts").alias("updated_at"),
    )
    batch1 = base.filter(F.col("m3") != 0).drop("m3", "m5")
    merge_upsert(wh, "fact_events", batch1, n_buckets=16)
    create_matview(wh, "mv_events", "fact_events", ["grp"], ["amount"])

    inserts = base.filter(F.col("m3") == 0).drop("m3", "m5")
    updates = (
        base.filter((F.col("m3") != 0) & (F.col("m5") == 0))
        .withColumn("amount", F.col("amount") * 2)
        .withColumn(
            "updated_at", F.col("updated_at") + F.expr("INTERVAL 1 DAY")
        )
        .drop("m3", "m5")
    )
    merge_upsert(wh, "fact_events", inserts.unionByName(updates), n_buckets=16)

    mode = refresh_matview(wh, "mv_events")
    if mode != "incremental":  # the row's claim IS the delta-merge path
        raise AssertionError(
            f"matview refresh took the '{mode}' branch, not incremental"
        )
    return wh.read("mv_events").select(
        F.col("grp").alias("event_type"),
        F.col("_mv_n").cast("long").alias("n"),
        F.col("amount_sum").cast("long").alias("amount_sum"),
    )


_MV_BUCKETED_REPLAY_SQL = """
    WITH f AS (
        SELECT event_type,
               CASE WHEN ((event_id % 3) + 3) % 3 != 0
                         AND ((event_id % 5) + 5) % 5 = 0
                    THEN 2 * CAST(floor(value * 100 + 0.5) AS BIGINT)
                    ELSE CAST(floor(value * 100 + 0.5) AS BIGINT)
               END AS amount
        FROM events
        WHERE ((event_id % 2) + 2) % 2 = 1
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(amount) AS BIGINT) AS amount_sum
    FROM f GROUP BY 1
"""


@query("matview_bucketed_replay", _MV_BUCKETED_REPLAY_SQL)
def matview_bucketed_replay(spark, sf_dir: str) -> DataFrame:
    """The BUCKETED-layout twin of ``matview_incremental_replay`` (on
    the ODD event half so the two rows are distinct computations): the
    MV is created with ``n_buckets=16`` — hash-partitioned on its own
    group key — and the same two-epoch replay (inserts % 3 == 0,
    doubled-amount updates % 5 == 0) must refresh through the
    INCREMENTAL branch (asserted in-query) and hash-equal the oracle's
    one-shot recompute. What this adds over the unbucketed row: the
    delta-netting, touched-MV-bucket resolution, and partial-write
    commit all sit on the hot path being value-checked. The
    inode-level evidence that untouched MV partitions hardlink-inherit
    is deterministic only at fixed scale, so it lives in
    tests/test_matview_bucketed.py (the join-MV replay convention).

    Scale shape: refresh reads the changed BASE buckets at two
    retained versions, nets the delta to nonzero groups, reads ONLY
    the MV partitions holding them (partition-pruned), and rewrites
    only those dirs — O(delta), independent of group cardinality.

    Reference analog: none (the reference recomputes reports per
    request, src/api/routes.py); this is the derived-table layout that
    keeps a billion-group rollup maintainable."""
    import os
    import shutil

    from qms_datawarehouse_spark.operators.merge import merge_upsert
    from qms_datawarehouse_spark.tmputil import pid_scoped_dir

    (events,) = tables(spark, sf_dir, "events")
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    root = pid_scoped_dir("qms_mvb_replay", tag)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(spark, root)

    base = events.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1).select(
        F.col("event_id").cast("string").alias("_id"),
        F.pmod(F.col("event_id"), F.lit(3)).alias("m3"),
        F.pmod(F.col("event_id"), F.lit(5)).alias("m5"),
        F.col("event_type").alias("grp"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("amount"),
        F.col("ts").alias("updated_at"),
    )
    batch1 = base.filter(F.col("m3") != 0).drop("m3", "m5")
    merge_upsert(wh, "fact_events", batch1, n_buckets=16)
    create_matview(
        wh, "mv_events", "fact_events", ["grp"], ["amount"], n_buckets=16
    )

    inserts = base.filter(F.col("m3") == 0).drop("m3", "m5")
    updates = (
        base.filter((F.col("m3") != 0) & (F.col("m5") == 0))
        .withColumn("amount", F.col("amount") * 2)
        .withColumn(
            "updated_at", F.col("updated_at") + F.expr("INTERVAL 1 DAY")
        )
        .drop("m3", "m5")
    )
    epoch2 = inserts.unionByName(updates)
    # evidence guard rides the merge's own row count (merge_upsert
    # already aggregates it) — the former isEmpty was an extra job
    # over the epoch-2 scan; an empty fixture still fails loudly,
    # just after the merge's zero-group no-op instead of before it
    if merge_upsert(wh, "fact_events", epoch2, n_buckets=16) == 0:
        raise AssertionError("bucketed MV replay fixture produced no delta")

    mode = refresh_matview(wh, "mv_events")
    if mode != "incremental":  # the row's claim IS the delta-merge path
        raise AssertionError(
            f"bucketed matview refresh took the {mode!r} branch"
        )
    return wh.read("mv_events").select(
        F.col("grp").alias("event_type"),
        F.col("_mv_n").cast("long").alias("n"),
        F.col("amount_sum").cast("long").alias("amount_sum"),
    )


_MV_NULL_SUM_REPLAY_SQL = """
    WITH base AS (
        SELECT event_type || '#'
                   || CAST(((event_id % 7) + 7) % 7 AS VARCHAR) AS grp,
               ((event_id % 7) + 7) % 7 AS c7,
               ((event_id % 5) + 5) % 5 AS c5,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS raw
        FROM events
        WHERE ((event_id % 2) + 2) % 2 = 0
    ), final AS (
        SELECT grp,
               CASE
                   WHEN c7 = 3 THEN NULL
                   WHEN c5 = 0 AND c7 = 0 THEN 0
                   WHEN c5 = 0 AND c7 = 1 THEN NULL
                   WHEN c5 = 0 AND c7 = 2 THEN NULL
                   WHEN c5 = 0 THEN 2 * raw
                   WHEN c7 IN (0, 1) THEN NULL
                   ELSE raw
               END AS amount
        FROM base
    )
    SELECT grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(amount) AS BIGINT) AS amount_sum
    FROM final GROUP BY 1
"""


@query("matview_null_sum_replay", _MV_NULL_SUM_REPLAY_SQL)
def matview_null_sum_replay(spark, sf_dir: str) -> DataFrame:
    """NULL-transition torture replay for the incremental MV merge
    (round 12): groups are keyed by (event_type, event_id % 7) so that
    whole mod-7 classes flip together, and the two-epoch replay drives
    every NULL↔value transition SQL ``sum`` distinguishes —

    - class 0: stored sum NULL (all inputs NULL), epoch 2 introduces
      0s → the refreshed sum must be 0, not a stale NULL (the count
      delta AND the sum delta are both 0; only the non-null-count
      partial keeps the group in the netted delta);
    - class 3: stored sum real, epoch 2 flips EVERY row to NULL → the
      refreshed sum must be NULL, not 0 (the merged non-null count
      hits zero and the derivation restores sum-of-nothing = NULL);
    - class 1: all-NULL stays all-NULL (nets to zero — no rewrite);
    - class 2: partial value→NULL inside a group that keeps other
      values (the ordinary negative-delta path);
    - classes 4-6: plain doubled-amount updates (control).

    The refresh must take the INCREMENTAL branch (asserted in-query)
    and the final MV must hash-equal the oracle's one-shot recompute
    over the fully-updated set — ``sum`` partials alone cannot pass
    this row; the (sum, non-null count) pair can (matview.py's
    round-12 merge algebra).

    Scale shape: identical to matview_bucketed_replay — changed base
    buckets read at two retained versions, delta netted to nonzero
    groups, MV-partition-pruned stored read, partial rewrite.

    Reference analog: none (the reference recomputes reports per
    request, src/api/routes.py, and its Postgres aggregates get NULL
    semantics from the engine); this row pins that the incremental
    merge algebra preserves them."""
    import os
    import shutil

    from qms_datawarehouse_spark.operators.merge import merge_upsert
    from qms_datawarehouse_spark.tmputil import pid_scoped_dir

    (events,) = tables(spark, sf_dir, "events")
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    root = pid_scoped_dir("qms_mvnull_replay", tag)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(spark, root)

    base = events.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0).select(
        F.col("event_id").cast("string").alias("_id"),
        F.pmod(F.col("event_id"), F.lit(7)).alias("c7"),
        F.pmod(F.col("event_id"), F.lit(5)).alias("c5"),
        F.concat(
            F.col("event_type"),
            F.lit("#"),
            F.pmod(F.col("event_id"), F.lit(7)).cast("string"),
        ).alias("grp"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("raw"),
        F.col("ts").alias("updated_at"),
    )
    epoch1 = base.withColumn(
        "amount",
        F.when(F.col("c7").isin(0, 1), F.lit(None).cast("long")).otherwise(
            F.col("raw")
        ),
    )
    cols = ["_id", "grp", "amount", "updated_at"]
    merge_upsert(wh, "fact_events", epoch1.select(*cols), n_buckets=16)
    create_matview(
        wh, "mv_events", "fact_events", ["grp"], ["amount"], n_buckets=8
    )

    # epoch 2: class 3 flips wholesale to NULL; among the % 5 == 0
    # rows, class 0 gains a 0, classes 1-2 go NULL, the rest double
    upd_all_null = base.filter(F.col("c7") == 3).withColumn(
        "amount", F.lit(None).cast("long")
    )
    upd_five = base.filter(
        (F.col("c5") == 0) & (F.col("c7") != 3)
    ).withColumn(
        "amount",
        F.when(F.col("c7") == 0, F.lit(0))
        .when(F.col("c7").isin(1, 2), F.lit(None))
        .otherwise(F.col("raw") * 2)
        .cast("long"),
    )
    epoch2 = upd_all_null.unionByName(upd_five).withColumn(
        "updated_at", F.col("updated_at") + F.expr("INTERVAL 1 DAY")
    )
    # evidence guard: BOTH pure-NULL transitions must be present in
    # the delta, or the row stops testing what it claims
    flips = epoch2.agg(
        F.sum(F.when(F.col("c7") == 0, 1).otherwise(0)).alias("n_null_to_0"),
        F.sum(F.when(F.col("c7") == 3, 1).otherwise(0)).alias("n_to_null"),
    ).first()
    if not flips["n_null_to_0"] or not flips["n_to_null"]:
        raise AssertionError(
            f"null-transition fixture degenerate: {flips}"
        )
    merge_upsert(wh, "fact_events", epoch2.select(*cols), n_buckets=16)

    mode = refresh_matview(wh, "mv_events")
    if mode != "incremental":  # the claim IS the delta-merge path
        raise AssertionError(
            f"null-sum matview refresh took the {mode!r} branch"
        )
    return wh.read("mv_events").select(
        F.col("grp"),
        F.col("_mv_n").cast("long").alias("n"),
        F.col("amount_sum").cast("long").alias("amount_sum"),
    )
