"""Multi-table atomic commit for the versioned warehouse.

The reference's ETL fans IN several Mongo collections per run
(src/services/etl.py loops collections, writing each Postgres table
independently) — a crash mid-run leaves tables at mixed cursors, and
its report queries then join a fresh ``tickets`` against a stale
``staff``. The engine-level fix is a cross-table transaction: stage
every table's new version (full data written, nothing visible), then
flip all the ``_CURRENT`` pointers as one atomic unit.

POSIX cannot replace N files atomically, so atomicity comes from a
WRITE-AHEAD INTENT JOURNAL + roll-forward recovery (the same protocol
as Delta/Iceberg multi-partition commits, and databases generally).
Every commit in the warehouse — one table (``write_version``,
``merge_upsert``) or several (this class) — runs these six steps in
``ParquetWarehouse._commit``:

1. stage    — write each table's version dir (parquet + schema);
              pointers untouched; base version captured per table.
2. lock     — acquire every table's commit lock in SORTED order
              (total order ⇒ no deadlock between transactions).
3. validate — CAS check: every table's current version still equals
              the captured base; any conflict aborts BEFORE anything
              is visible. Temp pointers are written under the locks.
4. journal  — durably record {txn, table → new version} with state
              "committing" (tmp + rename + fsync). This is the commit
              point: after this instant the transaction WILL complete.
5. repoint  — os.replace each pointer (each individually atomic).
6. done     — journal removed; locks released; per-table GC.

Any failure before 4 removes the staged dirs and temp pointers; a
process that dies before 4 leaves inert staged dirs
(``vacuum_orphans`` removes them). Crash between 4 and 6 ⇒
``recover_transactions`` rolls FORWARD: any table whose pointer does
not yet name the journaled version is repointed (idempotent), then
the journal is cleared. Readers pin per-table snapshots via
``warehouse.read(table, version=)``; ``snapshot_versions`` returns a
cross-table-consistent set by refusing to read while a journal is in
the committing window.

Scale: the journal is O(tables) metadata; staging is the same
parallel parquet write as any version; locks are held only for the
pointer flips (milliseconds), never during data writes.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame

# SimulatedCrash is re-exported: crash tests import it from here
from qms_datawarehouse_spark.warehouse import (  # noqa: F401
    _AT_STAGE,
    TXN_DIR,
    VERSIONS_LOG,
    ParquetWarehouse,
    SimulatedCrash,
)


class MultiTableTransaction:
    """Stage writes to several tables, commit all-or-nothing.

    Usage::

        txn = MultiTableTransaction(wh)
        txn.stage_write("orders", orders_df)
        txn.stage_write("lineitem", lineitem_df)
        txn.commit()          # or txn.abort()
    """

    def __init__(self, warehouse: ParquetWarehouse):
        self.wh = warehouse
        self.txn_id = f"txn_{uuid.uuid4().hex[:12]}"
        # table -> {"version": staged version, "base": CAS base}
        self.staged: dict[str, dict] = {}
        self._done = False

    # -- staging -------------------------------------------------------

    def stage_write(
        self,
        table: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        expect_base=_AT_STAGE,
    ) -> str:
        """Write ``df`` as a staged (invisible) version of ``table``.
        One staged write per table per transaction.

        ``expect_base`` pins the CAS base. Callers whose ``df`` was
        COMPUTED from a specific version must pass that version (or
        None for expected-absent) — the default resolves the base at
        stage time, which is only sound when the staged content does
        not depend on prior table state (a commit landing between the
        caller's read and this call would otherwise be silently
        overwritten: the read-compute/stage TOCTOU the partial path
        closes with ``base_version``)."""
        self._check_stageable(table)
        base = (
            self.wh.current_version_name(table)
            if expect_base is _AT_STAGE
            else expect_base
        )
        version = self.wh._stage_version(table, df, partition_by)
        self.staged[table] = {"version": version, "base": base}
        return version

    def stage_write_partial(
        self,
        table: str,
        df: DataFrame,
        touched: list,
        partition_col: str = "_bucket",
        base_version=_AT_STAGE,
    ) -> str:
        """Stage an O(touched-bucket) incremental version: write only
        the ``touched`` partition values, hardlink-inherit the rest
        from the base (``warehouse._stage_version_partial``, whose rule
        also stages an absent or emptied table in full). The
        transaction's CAS then protects the inherited dirs exactly as
        the single-table partial write does — if any table's base
        advanced, the WHOLE transaction aborts before visibility.

        This is what makes cross-table transactional MERGE viable at
        100 TB: a multi-table batch touches a few dozen buckets per
        table; everything else is filesystem-metadata time."""
        self._check_stageable(table)
        version, base = self.wh._stage_version_partial(
            table, df, touched, partition_col=partition_col,
            base_version=base_version,
        )
        self.enlist(table, version, base)
        return version

    def enlist(self, table: str, version: str, base: str | None) -> None:
        """Adopt a version already staged (for instance by
        ``merge._merge_upsert_once`` on a worker thread): ``commit``
        CASes it against ``base``, ``abort`` removes it."""
        self._check_stageable(table)
        self.staged[table] = {"version": version, "base": base}

    def _check_stageable(self, table: str) -> None:
        if self._done:
            raise RuntimeError("transaction already finished")
        if table in self.staged:
            raise ValueError(f"table {table!r} already staged in {self.txn_id}")

    # -- commit / abort ------------------------------------------------

    def commit(
        self, keep_versions: int = 2, _crash_after_repoints: int | None = None
    ) -> dict[str, str]:
        """All-or-nothing pointer flip for every staged table, through
        ``ParquetWarehouse._commit``. A failure before the journal
        removes every staged version. ``_crash_after_repoints`` is a
        TEST-ONLY seam (see ``_commit``). Returns {table: committed
        version}."""
        if self._done:
            raise RuntimeError("transaction already finished")
        if not self.staged:
            raise ValueError("nothing staged")
        self._done = True
        self.wh._commit(
            {t: (s["version"], s["base"]) for t, s in self.staged.items()},
            keep_versions,
            self.txn_id,
            _crash_after_repoints,
        )
        return {t: s["version"] for t, s in sorted(self.staged.items())}

    def abort(self) -> None:
        """Drop every staged version; nothing was ever visible."""
        if self._done:
            return
        for t, s in self.staged.items():
            shutil.rmtree(
                os.path.join(self.wh.table_dir(t), s["version"]),
                ignore_errors=True,
            )
        self._done = True


# -- recovery ----------------------------------------------------------


def recover_transactions(wh: ParquetWarehouse) -> list[dict]:
    """Roll FORWARD every journaled transaction that crashed inside
    the committing window: under all of its tables' locks (sorted, as
    ``_commit`` takes them), repoint any table whose pointer does not
    yet name the journaled version (idempotent — already-swapped
    tables are left alone), then clear the journal. Run at warehouse
    open or on demand — also while writers are live: a journal gone
    once the locks are held belonged to a commit that finished (its
    committer, or another recoverer, unlinks it under the same locks),
    and repointing for it would undo whatever committed since. Returns
    the recovered journal payloads."""
    d = os.path.join(wh.root, TXN_DIR)
    if not os.path.isdir(d):
        return []
    recovered = []
    for fname in sorted(os.listdir(d)):
        if not fname.endswith(".json"):
            continue
        path = os.path.join(d, fname)
        try:
            with open(path) as f:
                payload = json.load(f)
        except FileNotFoundError:
            continue  # its commit finished meanwhile
        if payload.get("state") != "committing":
            _unlink_quiet(path)
            continue
        held: list[tuple[str, str]] = []
        try:
            for t in sorted(payload["tables"]):
                held.append(wh._acquire_lock(t))
            if not os.path.exists(path):
                continue
            for t, version in sorted(payload["tables"].items()):
                if wh.current_version_name(t) != version:
                    if not os.path.isdir(os.path.join(wh.table_dir(t), version)):
                        raise RuntimeError(
                            f"txn {payload['txn_id']}: staged version "
                            f"{version!r} of {t!r} lost — cannot roll forward"
                        )
                    wh._flip(t, version, wh._pointer_tmp(t, version))
            os.unlink(path)
        finally:
            for lock, token in held:
                wh._release_lock(lock, token)
        recovered.append(payload)
    return recovered


def _unlink_quiet(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass  # concurrent recoverer won the race — outcome identical


def snapshot_versions(
    wh: ParquetWarehouse, tables: list[str], timeout: float = 5.0
) -> dict[str, str]:
    """A cross-table-CONSISTENT version set: waits out any journal in
    its committing window (during which table pointers are mid-flip),
    then reads every pointer. Pass the result to
    ``wh.read(t, version=...)`` for joins that must not mix a fresh
    fact with a stale dim."""
    d = os.path.join(wh.root, TXN_DIR)
    deadline = time.monotonic() + timeout
    while True:
        active = (
            [f for f in os.listdir(d) if f.endswith(".json")]
            if os.path.isdir(d)
            else []
        )
        if not active:
            return {
                t: wh.current_version_name(t)
                for t in tables
            }
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"transactions still committing after {timeout}s: {active} "
                "(run recover_transactions if a writer crashed)"
            )
        time.sleep(0.02)


def vacuum_orphans(wh: ParquetWarehouse, min_age_sec: float = 3600.0) -> list[str]:
    """Remove version dirs that were staged but never committed (crash
    BEFORE the journal was written — inert but wasting space): any
    ``v_*`` dir absent from the table's version log and older than
    ``min_age_sec``. The age guard keeps in-flight stagings safe."""
    removed = []
    now = time.time()
    for table in wh.list_tables():
        tdir = wh.table_dir(table)
        logged: set[str] = set()
        log_path = os.path.join(tdir, VERSIONS_LOG)
        if os.path.exists(log_path):
            with open(log_path) as f:
                for line in f:
                    logged.add(json.loads(line)["version"])
        for entry in os.listdir(tdir):
            path = os.path.join(tdir, entry)
            if (
                entry.startswith("v_")
                and os.path.isdir(path)
                and entry not in logged
                and now - os.path.getmtime(path) >= min_age_sec
            ):
                shutil.rmtree(path, ignore_errors=True)
                removed.append(f"{table}/{entry}")
    return removed
