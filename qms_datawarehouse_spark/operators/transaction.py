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
as Delta/Iceberg multi-partition commits, and databases generally):

1. stage    — write each table's version dir (parquet + schema);
              pointers untouched; base version captured per table.
2. lock     — acquire every table's commit lock in SORTED order
              (total order ⇒ no deadlock between transactions).
3. validate — CAS check: every table's current version still equals
              the captured base; any conflict aborts BEFORE anything
              is visible (staged dirs removed).
4. journal  — durably record {txn, table → new version} with state
              "committing" (tmp + rename + fsync). This is the commit
              point: after this instant the transaction WILL complete.
5. repoint  — os.replace each pointer (each individually atomic).
6. done     — journal removed; locks released; per-table GC.

Crash before 4 ⇒ nothing visible; staged dirs are inert garbage
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

from qms_datawarehouse_spark.warehouse import (
    ConcurrentWriteError,
    ParquetWarehouse,
    VERSIONS_LOG,
)

TXN_DIR = "_TXN"


class SimulatedCrash(RuntimeError):
    """Raised by the test-only crash seam in ``commit``."""


def _txn_dir(wh: ParquetWarehouse) -> str:
    d = os.path.join(wh.root, TXN_DIR)
    os.makedirs(d, exist_ok=True)
    return d


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

    _BASE_AT_STAGE = object()  # sentinel: resolve the CAS base at stage time

    def stage_write(
        self,
        table: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        expect_base=_BASE_AT_STAGE,
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
            if expect_base is MultiTableTransaction._BASE_AT_STAGE
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
        base_version: str | None = None,
    ) -> str:
        """Stage an O(touched-bucket) incremental version: write only
        the ``touched`` partition values, hardlink-inherit the rest
        from the base (``warehouse.write_version_partial``'s staging
        half). The transaction's CAS then protects the inherited dirs
        exactly as the single-table partial write does — if any table's
        base advanced, the WHOLE transaction aborts before visibility.

        This is what makes cross-table transactional MERGE viable at
        100 TB: a multi-table batch touches a few dozen buckets per
        table; everything else is filesystem-metadata time."""
        self._check_stageable(table)
        version, base = self.wh._stage_version_partial(
            table, df, touched, partition_col, base_version
        )
        self.enlist(table, version, base)
        return version

    def enlist(self, table: str, version: str, base: str | None) -> None:
        """Adopt a version already staged by
        ``warehouse._stage_version_partial`` (for instance on a worker
        thread): ``commit`` CASes it against ``base``, ``abort`` removes
        it."""
        self._check_stageable(table)
        self.staged[table] = {"version": version, "base": base}

    def _check_stageable(self, table: str) -> None:
        if self._done:
            raise RuntimeError("transaction already finished")
        if table in self.staged:
            raise ValueError(f"table {table!r} already staged in {self.txn_id}")

    # -- journal -------------------------------------------------------

    def _journal_path(self) -> str:
        return os.path.join(_txn_dir(self.wh), f"{self.txn_id}.json")

    def _write_journal(self) -> None:
        payload = {
            "txn_id": self.txn_id,
            "state": "committing",
            "committed_at": time.time(),
            "tables": {
                t: s["version"] for t, s in sorted(self.staged.items())
            },
        }
        tmp = self._journal_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._journal_path())

    # -- commit / abort ------------------------------------------------

    def commit(
        self, keep_versions: int = 2, _crash_after_repoints: int | None = None
    ) -> dict[str, str]:
        """All-or-nothing pointer flip for every staged table.

        ``_crash_after_repoints`` is a TEST-ONLY seam: raise
        SimulatedCrash after that many pointer swaps, leaving the
        journal in the committing state for recovery tests.
        Returns {table: committed version}.
        """
        if self._done:
            raise RuntimeError("transaction already finished")
        if not self.staged:
            raise ValueError("nothing staged")
        tables = sorted(self.staged)
        held: list[tuple[str, str]] = []
        try:
            for t in tables:  # sorted ⇒ deadlock-free
                held.append(self.wh._acquire_lock(t))
            # CAS validation BEFORE anything becomes visible
            for t in tables:
                cur = self.wh.current_version_name(t)
                if cur != self.staged[t]["base"]:
                    raise ConcurrentWriteError(
                        f"table {t!r}: base advanced from "
                        f"{self.staged[t]['base']!r} to {cur!r} during the "
                        f"transaction"
                    )
            self._write_journal()  # commit point
            n = 0
            for t in tables:
                self.wh._repoint(t, self.staged[t]["version"])
                n += 1
                if (
                    _crash_after_repoints is not None
                    and n >= _crash_after_repoints
                ):
                    raise SimulatedCrash(
                        f"crashed after {n}/{len(tables)} repoints"
                    )
            os.unlink(self._journal_path())
            self._done = True
        except ConcurrentWriteError:
            self._cleanup_staged()
            self._done = True
            raise
        finally:
            for lock, token in held:
                self.wh._release_lock(lock, token)
        for t in tables:
            self.wh._gc_versions(t, keep=keep_versions)
        return {t: self.staged[t]["version"] for t in tables}

    def abort(self) -> None:
        """Drop every staged version; nothing was ever visible."""
        if self._done:
            return
        self._cleanup_staged()
        self._done = True

    def _cleanup_staged(self) -> None:
        for t, s in self.staged.items():
            shutil.rmtree(
                os.path.join(self.wh.table_dir(t), s["version"]),
                ignore_errors=True,
            )


# -- recovery ----------------------------------------------------------


def recover_transactions(wh: ParquetWarehouse) -> list[dict]:
    """Roll FORWARD every journaled transaction that crashed inside
    the committing window: repoint any table whose pointer does not
    yet name the journaled version (idempotent — already-swapped
    tables are left alone), then clear the journal. Run at warehouse
    open or on demand. Returns the recovered journal payloads."""
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
            continue  # a concurrent recoverer finished this journal
        if payload.get("state") != "committing":
            _unlink_quiet(path)
            continue
        for t, version in sorted(payload["tables"].items()):
            lock, token = wh._acquire_lock(t)
            try:
                cur = wh.current_version_name(t)
                if cur != version:
                    if not os.path.isdir(os.path.join(wh.table_dir(t), version)):
                        raise RuntimeError(
                            f"txn {payload['txn_id']}: staged version "
                            f"{version!r} of {t!r} lost — cannot roll forward"
                        )
                    wh._repoint(t, version)
            finally:
                wh._release_lock(lock, token)
        _unlink_quiet(path)
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
