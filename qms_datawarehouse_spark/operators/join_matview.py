"""Incrementally-maintained JOIN materialized views: a stored
fact ⋈ dim denormalization that refreshes in time proportional to
what changed on EITHER side.

The aggregate-MV layer (operators/matview.py) maintains additive
partials — it cannot store a denormalized join (its merge algebra is
count/sum, not rows). This layer completes the pair with the join
delta rule, specialized to the warehouse's physical layout:

- the MV stores ``fact INNER JOIN dim ON dim_key``, physically
  partitioned by the FACT table's own ``_bucket`` value (carried
  through the join, never re-hashed) — so MV bucket b is a pure
  function of fact bucket b and the whole dim;
- **fact-side delta**: ``changed_partitions`` (inode-level, O(1) per
  bucket) names the fact buckets a merge touched; only those MV
  buckets are recomputed — every other partition dir hardlink-inherits
  from the previous MV version;
- **dim-side delta**: the changed dim buckets are read at BOTH
  retained versions and row-diffed (two ``exceptAll``s) to the EXACT
  set of changed dim keys — bucket-level over-approximation is
  useless here, because one dim bucket's keys fan out across every
  fact bucket. The changed-key set stays a DataFrame end to end
  (never collected): it broadcast-left-semi-joins against a
  column-pruned scan of the fact's (dim_key, bucket) columns to find
  the fact buckets that actually hold those keys; only those buckets
  are rewritten, and only their VALUES (bounded by the bucket count)
  are ever collected. ``max_dim_keys`` is a count-based guard, not a
  collect cap. Keys that VANISHED from the dim drop their joined
  rows in the same rewrite (inner-join semantics, no special delete
  path);
- staleness is two version-name compares; if either recorded base
  version was garbage-collected, or a base lost its bucket layout, or
  the dim diff exceeds ``max_dim_keys``, refresh falls back to a full
  recompute — correct, just not incremental. A zero-row MV refreshes
  incrementally: its touched rows are its whole content;
- commit protocol (round 11, shared with the aggregate layer): the
  reflected base versions ride INSIDE the MV version
  (``extra_meta`` → one atomic pointer swap), so there is no
  data-before-meta window at all. Join refreshes were already
  idempotent under the old two-commit protocol (absolute bucket
  rewrites), so the single swap here removes a redundant-rewrite
  cost, not a correctness hazard; a refresh that touches ZERO buckets
  advances the lineage record in place
  (``update_version_meta`` — an atomic rename, idempotent on crash).

At 100 TB: a sync that touched 40 of 8192 fact buckets rewrites 40
MV partitions; a dim batch updating 200 keys reads the changed dim
buckets twice (both snapshots), then one column-pruned fact scan
(dim_key + _bucket only, probed by the broadcast changed-key frame —
Spark's runtime bloom/semi-join filtering applies where enabled)
names the buckets to rewrite. The join inside a bucket rewrite is fact-bucket ⋈
whole-dim — Catalyst broadcasts the dim when it is small (the normal
dimension-table case) and falls back to a shuffle join when it is
not; neither choice is forced here.

Reference capability analog: none — the reference recomputes every
report's joins in Postgres per request (src/api/routes.py); this is
the warehouse-side upgrade that makes a denormalized report table
O(changed buckets) to keep current.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qms_datawarehouse_spark.operators.changes import changed_partitions
from qms_datawarehouse_spark.planaudit import record
from qms_datawarehouse_spark.plans.registry import query, tables
from qms_datawarehouse_spark.session import inherit_local_properties
from qms_datawarehouse_spark.warehouse import (
    BUCKET_COL,
    ConcurrentWriteError,
    ParquetWarehouse,
)


@dataclass
class JoinRefreshResult:
    mode: str  # "fresh" | "incremental" | "full"
    touched_buckets: int  # buckets rewritten (incremental only)
    total_buckets: int


def _joined(fact: DataFrame, dim: DataFrame, dim_key: str,
            dim_cols: list[str]) -> DataFrame:
    """fact ⋈ dim, fact's bucket column carried through (the MV's
    partition value IS the fact's — never re-hashed)."""
    return fact.join(
        dim.select(dim_key, *dim_cols), dim_key, "inner"
    )


def create_join_matview(
    warehouse: ParquetWarehouse,
    name: str,
    fact_table: str,
    dim_table: str,
    dim_key: str,
    dim_cols: list[str],
) -> None:
    """Materialize ``fact INNER JOIN dim ON dim_key`` (keeping all
    fact columns plus ``dim_cols``) partitioned by the fact's bucket
    column, and record the exact base versions it reflects."""
    fact_version = warehouse.current_version_name(fact_table)
    dim_version = warehouse.current_version_name(dim_table)
    if fact_version is None or dim_version is None:
        raise FileNotFoundError(
            f"base table not found: {fact_table if fact_version is None else dim_table}"
        )
    # pinned snapshots, not current: a sync committing between the
    # version capture and this read would make the stored rows newer
    # than the recorded versions (the create_matview lesson)
    fact = warehouse.read(fact_table, version=fact_version)
    dim = warehouse.read(dim_table, version=dim_version)
    if BUCKET_COL not in fact.columns:
        raise ValueError(
            f"fact table {fact_table!r} has no {BUCKET_COL} layout — "
            "the join MV's partial refresh is bucket-addressed"
        )
    mv = _joined(fact, dim, dim_key, dim_cols)
    # reflected base versions ride the same pointer swap as the rows
    warehouse.write_version(
        name,
        mv,
        partition_by=[BUCKET_COL],
        extra_meta={
            "jmv_fact_version": fact_version,
            "jmv_dim_version": dim_version,
        },
    )
    warehouse.write_meta(
        name,
        {
            "jmv_fact": fact_table,
            "jmv_dim": dim_table,
            "jmv_dim_key": dim_key,
            "jmv_dim_cols": dim_cols,
        },
    )


def _recorded_versions(
    warehouse: ParquetWarehouse, name: str, meta: dict,
    version: str | None = None,
) -> tuple[str | None, str | None]:
    """(fact_version, dim_version) an MV version reflects: from that
    version's own meta (single-swap protocol), falling back to the
    table meta for MVs written before round 11. ``version=None``
    reads whatever is current; refresh passes its PINNED version so
    recorded lineage and the CAS target name the same snapshot."""
    vmeta = warehouse.read_version_meta(name, version=version)
    if vmeta is not None and "jmv_fact_version" in vmeta:
        return vmeta["jmv_fact_version"], vmeta["jmv_dim_version"]
    return meta.get("jmv_fact_version"), meta.get("jmv_dim_version")


def is_join_stale(warehouse: ParquetWarehouse, name: str) -> bool:
    meta = warehouse.read_meta(name)
    rec_fact, rec_dim = _recorded_versions(warehouse, name, meta)
    return (
        warehouse.current_version_name(meta["jmv_fact"]) != rec_fact
        or warehouse.current_version_name(meta["jmv_dim"]) != rec_dim
    )


def _changed_dim_keys(
    warehouse: ParquetWarehouse,
    dim_table: str,
    dim_key: str,
    old_version: str,
    new_version: str,
) -> DataFrame | None:
    """EXACT dim keys whose row changed / appeared / vanished between
    two retained versions, AS A DATAFRAME (one distinct key per row —
    never collected; the caller broadcast-joins it): inode-diff names
    the changed dim buckets, then ONLY those buckets are read at both
    snapshots and row-diffed. Returns None when the dim lacks the
    bucket layout at either version (caller falls back to full)."""
    changed = changed_partitions(
        warehouse, dim_table, old_version, to_version=new_version
    )
    if changed is None:
        return None
    vals = [int(v) for v in changed]
    old = warehouse.read(dim_table, version=old_version).filter(
        F.col(BUCKET_COL).isin(vals)
    )
    new = warehouse.read(dim_table, version=new_version).filter(
        F.col(BUCKET_COL).isin(vals)
    )
    # Single-pass multiset diff: tag each version ±1 and keep rows
    # whose signed multiplicity is nonzero — the exact key set the old
    # two-exceptAll form produced (a key changed ⟺ some full row's
    # multiplicity differs between snapshots), but each snapshot is
    # READ ONCE and there is ONE shuffle instead of two exceptAll
    # exchanges that each re-scanned both sides. groupBy, like
    # exceptAll, treats NULL attribute values as equal to themselves —
    # a dim row carrying a null must not re-flag as "changed" on every
    # refresh forever (which is also why this is not a column-list
    # anti-join).
    cols = sorted(set(old.columns) & set(new.columns))
    tagged = old.select(*cols).withColumn(
        "_jmv_side", F.lit(1)
    ).unionByName(new.select(*cols).withColumn("_jmv_side", F.lit(-1)))
    keys = (
        tagged.groupBy(*cols)
        .agg(F.sum("_jmv_side").alias("_jmv_d"))
        .filter(F.col("_jmv_d") != 0)
        .select(dim_key)
        .distinct()
    )
    # one scan per snapshot, one aggregate exchange — pinned by
    # tests/test_join_matview.py
    record("join_matview:dim_diff", keys)
    return keys


def refresh_join_matview(
    warehouse: ParquetWarehouse,
    name: str,
    max_dim_keys: int = 10_000,
    _retries: int = 2,
) -> JoinRefreshResult:
    """Bring the join MV up to both bases' current versions.

    Incremental rule: rewrite exactly the MV buckets that (a) the
    fact's inode diff marks changed, or (b) currently hold a fact row
    whose dim_key is in the exact changed-dim-key set; each rewritten
    bucket is ``fact-bucket@new ⋈ dim@new`` — inner-join semantics
    make dim-key deletions drop their joined rows with no special
    path. Every untouched MV partition hardlink-inherits.

    Falls back to a full recompute when either base's recorded
    version is gone, either lacks the bucket layout, the dim diff
    exceeds ``max_dim_keys`` (at that batch size the semi-joined
    fact scan stops being cheaper than the rewrite) — the fallback is
    always correct."""
    meta = warehouse.read_meta(name)
    fact_table, dim_table = meta["jmv_fact"], meta["jmv_dim"]
    dim_key = meta["jmv_dim_key"]
    dim_cols = list(meta["jmv_dim_cols"])
    # Pin the MV version FIRST and read recorded lineage from that
    # exact snapshot (same TOCTOU as matview.refresh_matview): a rival
    # committing between an unpinned lineage read and a later version
    # resolve would let our CAS pass while stamping lineage computed
    # against a superseded snapshot. Bucket rewrites here are absolute
    # (fact@cur ⋈ dim@cur) so the stale ordering cost wasted work, not
    # corruption — but the CAS discipline should mean what it says.
    mv_base = warehouse.current_version_name(name)
    rec_fact, rec_dim = _recorded_versions(
        warehouse, name, meta, version=mv_base
    )
    cur_fact = warehouse.current_version_name(fact_table)
    cur_dim = warehouse.current_version_name(dim_table)
    if cur_fact == rec_fact and cur_dim == rec_dim:
        return JoinRefreshResult("fresh", 0, _n_buckets(warehouse, name))

    lineage = {"jmv_fact_version": cur_fact, "jmv_dim_version": cur_dim}

    def _full() -> JoinRefreshResult:
        # CASed on the pinned mv_base like every other commit here
        # (the refresh_matview._full discipline): a rival refresh that
        # committed against NEWER base versions must not be
        # blind-overwritten with data joined from versions pinned
        # before it landed — that would transiently roll back its rows
        # AND its lineage. Entry paths where mv_base is simply what we
        # read (lost lineage, GC'd base, oversized dim diff) pass the
        # CAS untouched; a genuine rival flips it to
        # ConcurrentWriteError and the whole refresh retries against
        # the rival's state (bounded — same absorbing contract as the
        # partial-write and lineage-only paths).
        mv = _joined(
            warehouse.read(fact_table, version=cur_fact),
            warehouse.read(dim_table, version=cur_dim),
            dim_key,
            dim_cols,
        )
        try:
            warehouse.write_version(
                name, mv, partition_by=[BUCKET_COL], extra_meta=lineage,
                expect_base=mv_base,
            )
        except ConcurrentWriteError:
            if _retries <= 0:
                raise
            return refresh_join_matview(
                warehouse, name, max_dim_keys, _retries=_retries - 1
            )
        return JoinRefreshResult("full", 0, _n_buckets(warehouse, name))

    # lineage lost (an MV version committed without _VERSION_META.json
    # by a pre-round-12 maintenance rewrite, no legacy table-meta
    # record): the stored rows reflect an unknown base pair — full
    # recompute re-establishes it (joining None into a path crashed)
    if rec_fact is None or rec_dim is None:
        return _full()

    # -- fact-side: inode-level changed buckets ------------------------
    touched: set[int] = set()
    if cur_fact != rec_fact:
        old_dir = os.path.join(warehouse.table_dir(fact_table), rec_fact)
        if not os.path.isdir(old_dir):
            return _full()
        changed_f = changed_partitions(
            warehouse, fact_table, rec_fact, to_version=cur_fact
        )
        if changed_f is None:
            return _full()
        touched.update(int(v) for v in changed_f)

    # -- dim-side: exact changed keys -> owning fact buckets -----------
    if cur_dim != rec_dim:
        old_dir = os.path.join(warehouse.table_dir(dim_table), rec_dim)
        if not os.path.isdir(old_dir):
            return _full()
        keys = _changed_dim_keys(
            warehouse, dim_table, dim_key, rec_dim, cur_dim
        )
        if keys is None:
            return _full()
        keys = keys.persist()
        try:
            if keys.count() > max_dim_keys:
                return _full()
            # one column-pruned fact scan (dim_key, _bucket) probed by
            # the broadcast changed-key frame — the key set never
            # round-trips through the driver, so there is no
            # literal-predicate size cliff at the cap; only the
            # affected BUCKET VALUES are collected (≤ bucket count)
            probe = (
                warehouse.read(fact_table, version=cur_fact)
                .select(dim_key, BUCKET_COL)
                .join(F.broadcast(keys), dim_key, "left_semi")
                .select(BUCKET_COL)
                .distinct()
            )
            # the broadcast-semi probe shape is pinned by
            # tests/test_join_matview.py
            record("join_matview:dim_probe", probe)
            touched.update(int(r[0]) for r in probe.collect())
        finally:
            keys.unpersist()

    total = _n_buckets(warehouse, name)
    if not touched:
        # lineage-only advance: the stored rows are already correct
        # (e.g. a dim rewrite that changed zero keys); record the new
        # base versions in place — one atomic rename, idempotent —
        # CASed on the MV version whose rows we validated: a rival
        # refresh committing in between has NEWER lineage that ours
        # must not overwrite (this layer's absorbing contract: re-read
        # and retry against the rival's state instead of surfacing).
        # Retries are BOUNDED — each one observes a strictly newer MV
        # version, but under sustained rival churn the loser
        # eventually surfaces the conflict rather than spinning.
        try:
            warehouse.update_version_meta(
                name, lineage, expect_version=mv_base
            )
        except ConcurrentWriteError:
            if _retries <= 0:
                raise
            return refresh_join_matview(
                warehouse, name, max_dim_keys, _retries=_retries - 1
            )
        return JoinRefreshResult("incremental", 0, total)
    tl = sorted(touched)
    rows = _joined(
        warehouse.read(fact_table, version=cur_fact).filter(
            F.col(BUCKET_COL).isin(tl)
        ),
        warehouse.read(dim_table, version=cur_dim),
        dim_key,
        dim_cols,
    )
    try:
        # a zero-row MV has nothing to inherit: its touched rows are its
        # whole content, and the staging rule writes them as a full
        # version (still CASed on mv_base)
        warehouse.write_version_partial(
            name, rows, tl, base_version=mv_base, extra_meta=lineage
        )
    except ConcurrentWriteError:
        # the MV version advanced under us: a rival refresh committed
        # newer data/lineage. Retry the WHOLE refresh against the
        # rival's state (bounded, like the lineage-only path) — the
        # old fallback-to-_full here blind-overwrote the winner with
        # rows joined from base versions pinned before it landed.
        if _retries <= 0:
            raise
        return refresh_join_matview(
            warehouse, name, max_dim_keys, _retries=_retries - 1
        )
    return JoinRefreshResult("incremental", len(touched), total)


def _n_buckets(warehouse: ParquetWarehouse, name: str) -> int:
    vdir = warehouse.current_version_dir(name)
    if vdir is None:
        return 0
    return sum(
        1
        for d in os.listdir(vdir)
        if d.startswith(f"{BUCKET_COL}=")
    )


# --------------------------------------------------------------------
# Driver row: incremental join-MV maintenance ≡ full recompute,
# through the REAL warehouse path (the matview_incremental_replay mold)
# --------------------------------------------------------------------

_JMV_REPLAY_SQL = """
    WITH f AS (
        SELECT o_orderkey,
               o_custkey,
               CASE WHEN ((o_orderkey % 3) + 3) % 3 != 0
                         AND ((o_orderkey % 5) + 5) % 5 = 0
                    THEN 2 * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                    ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               END AS cents
        FROM orders
        WHERE ((o_orderkey % 4) + 4) % 4 = 0
    ),
    d AS (
        SELECT c_custkey,
               CASE WHEN ((c_custkey % 100) + 100) % 100 = 7
                    THEN (c_nationkey + 1) % 25
                    ELSE c_nationkey
               END AS nation_grp
        FROM customer
    )
    SELECT CAST(d.nation_grp AS BIGINT) AS nation_grp,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(f.cents) AS BIGINT) AS cents_sum
    FROM f JOIN d ON f.o_custkey = d.c_custkey
    GROUP BY 1
"""


@query("join_matview_incremental_replay", _JMV_REPLAY_SQL)
def join_matview_incremental_replay(spark, sf_dir: str) -> DataFrame:
    """Incremental JOIN-MV maintenance pinned equal to the full
    recompute the oracle runs — through the REAL write path: seed a
    bucketed fact (even orders, epoch 1 = orderkey % 3 != 0) and a
    bucketed customer dim, create the join MV, then land BOTH delta
    kinds — epoch-2 fact inserts (% 3 == 0) and updates (% 5 == 0,
    doubled cents) via keyed merge, AND a dim update batch (custkey
    % 100 == 7 moves to the next nation) — and ``refresh_join_
    matview``. The refresh must take the INCREMENTAL branch (guarded
    in-query, the matview replay's convention: a silent full-recompute
    fallback would still value-match). The final MV state, aggregated
    per nation group, must hash-equal the oracle's one-shot join over
    the fully-updated tables — which verifies both delta paths at
    once: the changed-fact-bucket rewrite AND the exact-dim-key
    propagation (moved customers' orders re-join under the NEW nation,
    so any missed bucket shows up as a count/sum mismatch).

    Scale shape: the refresh reads the fact's changed buckets at two
    retained versions via inode diff, row-diffs only the changed dim
    buckets to the exact moved-key set, and rewrites only the fact
    buckets holding those keys — untouched MV partitions hardlink-
    inherit. The final aggregate is one groupBy over the MV read.

    Reference analog: routes.py recomputes report joins per request;
    this row is the O(changed-buckets) derived-table upgrade."""
    from qms_datawarehouse_spark.operators.merge import merge_upsert
    from qms_datawarehouse_spark.tmputil import pid_scoped_dir

    (orders, customer) = tables(spark, sf_dir, "orders", "customer")

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    root = pid_scoped_dir("qms_jmv_replay", tag)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(spark, root)

    # quarter of the orders (the matview replay's cost convention,
    # one notch further: this row pays FIVE warehouse commits per run
    # and the maintenance algebra is size-independent — at the even-
    # half size it was the heaviest headline entry at 8.3 s warm)
    base = orders.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == 0).select(
        F.col("o_orderkey").cast("string").alias("_id"),
        F.pmod(F.col("o_orderkey"), F.lit(3)).alias("m3"),
        F.pmod(F.col("o_orderkey"), F.lit(5)).alias("m5"),
        F.col("o_custkey").alias("cust_id"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        F.col("o_orderdate").cast("timestamp").alias("updated_at"),
    )
    dim = customer.select(
        F.col("c_custkey").cast("string").alias("_id"),
        F.col("c_custkey").alias("cust_id"),
        F.col("c_nationkey").alias("nation_grp"),
        F.lit("2024-01-01").cast("timestamp").alias("updated_at"),
    )

    # The fact seed and the dim seed land in DIFFERENT tables with no
    # ordering dependency: submit both merges from a 2-thread pool so
    # the second job's tasks back-fill executors the first job's tail
    # leaves idle (guide §2.6 — actions are only sequential because
    # driver code calls them sequentially). Same for the two epoch-2
    # batches below. Commit safety is unchanged: each merge CASes its
    # own table. Each task inherits the caller's Spark local properties
    # (job group, description).
    from concurrent.futures import ThreadPoolExecutor

    batch1 = base.filter(F.col("m3") != 0).drop("m3", "m5")
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fact = pool.submit(
            inherit_local_properties(spark, merge_upsert),
            wh, "fact_orders", batch1, n_buckets=16,
        )
        f_dim = pool.submit(
            inherit_local_properties(spark, merge_upsert),
            wh, "dim_customer", dim, n_buckets=16,
        )
        f_fact.result()
        f_dim.result()
    create_join_matview(
        wh, "mv_orders_cust", "fact_orders", "dim_customer",
        dim_key="cust_id", dim_cols=["nation_grp"],
    )

    # epoch 2, fact side: inserts + doubled-cents updates
    inserts = base.filter(F.col("m3") == 0).drop("m3", "m5")
    updates = (
        base.filter((F.col("m3") != 0) & (F.col("m5") == 0))
        .withColumn("cents", F.col("cents") * 2)
        .withColumn(
            "updated_at", F.col("updated_at") + F.expr("INTERVAL 1 DAY")
        )
        .drop("m3", "m5")
    )

    # epoch 2, dim side: a SMALL key batch moves nation (% 100 == 7)
    moved = (
        dim.filter(F.pmod(F.col("cust_id"), F.lit(100)) == 7)
        .withColumn(
            "nation_grp", F.pmod(F.col("nation_grp") + 1, F.lit(25))
        )
        .withColumn("updated_at", F.lit("2024-02-01").cast("timestamp"))
    )
    # n_moved rides the merge's own return (rows merged after in-batch
    # dedup — equal to moved.count() because cust_id is unique per dim
    # row by construction), so the old standalone count() pass over
    # customer is gone. The two epoch-2 batches overlap (§2.6 again).
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fact = pool.submit(
            inherit_local_properties(spark, merge_upsert), wh, "fact_orders",
            inserts.unionByName(updates), n_buckets=16,
        )
        f_dim = pool.submit(
            inherit_local_properties(spark, merge_upsert),
            wh, "dim_customer", moved,
        )
        n_moved = f_dim.result()
        f_fact.result()

    # max_dim_keys sized to the fixture: the moved-key set grows with
    # the corpus (≈ n_customers/100), and above ~sf7 it would trip the
    # default 10k full-recompute guard — turning this row's asserted
    # incremental branch into a hard failure. The guard's job HERE is
    # branch determinism, not batch-size policy, so the cap tracks the
    # actual delta (2x headroom keeps the guard meaningful).
    res = refresh_join_matview(
        wh, "mv_orders_cust", max_dim_keys=max(10_000, 2 * n_moved)
    )
    if res.mode != "incremental":  # the row's claim IS the delta path
        raise AssertionError(
            f"join-MV refresh took the {res.mode!r} branch — this row "
            "exists to pin the incremental join-delta rule"
        )

    out = (
        wh.read("mv_orders_cust")
        .groupBy(F.col("nation_grp").cast("long").alias("nation_grp"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    return out
