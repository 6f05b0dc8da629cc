"""Parquet-backed warehouse tables with atomic version swap.

The reference's warehouse is Postgres: staging table + one set-based
``INSERT ... ON CONFLICT DO UPDATE`` per batch
(/root/reference/src/services/etl.py:26-87). On plain parquet (no
transactional table format in this image) the equivalent durability
story is **write-new-version-then-repoint**:

    {root}/{table}/v_{uuid}/...parquet     (immutable version dirs)
    {root}/{table}/v_{uuid}/_SCHEMA.json   (the version's full schema)
    {root}/{table}/_CURRENT                (text file naming the live one)
    {root}/{table}/_META.json              (table facts: n_buckets, key)
    {root}/{table}/v_{uuid}/_TABLE_META.json (the facts a version creates
                                            its table with; see _commit)

``_CURRENT`` is replaced with ``os.replace`` (atomic on POSIX), so a
reader always resolves a fully-written version — the parity of the
reference's transactional apply + temp-table drop (etl.py:52-87).

One write path. Every writer stages an invisible version, then
commits it through ``_commit`` — the only code that moves ``_CURRENT``
— which locks the tables in sorted order, compare-and-swaps each base,
writes an fsynced intent journal under ``_TXN/`` and repoints. A
one-table ``write_version`` and a multi-table transaction
(operators/transaction.py) are the same protocol, and
``recover_transactions`` rolls any journaled commit forward. Keyed and
partitioned writers stage through ``_stage_version_partial``, whose
one rule covers the first write, an emptied table and the incremental
case alike (see below).

Scale design: data tables are hash-bucketed on the merge key into
``_bucket=pmod(xxhash64(key), n_buckets)`` partition directories, and
an incremental merge produces its new version via
``write_version_partial``: ONLY the touched bucket dirs are written;
every untouched bucket dir is inherited from the previous version by
hardlinking its (immutable) parquet files — zero data copied, zero
data read. At 100 TB with n_buckets≈8192, a 5k-row batch costs
O(touched-bucket bytes) of I/O plus O(n_buckets) metadata ops, not
O(table). On an object store the hardlink step becomes manifest
entries pointing at inherited objects — same layout, same swap.

Schema evolution makes versions heterogeneous (inherited files can
predate newly-added columns), so each version records its full schema
in ``_SCHEMA.json`` and ``read`` applies it explicitly — missing
columns in old files surface as nulls, and no reader ever depends on
which file's footer Spark happens to sniff first.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.functions import col as F_col
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

CURRENT_POINTER = "_CURRENT"
BUCKET_COL = "_bucket"
META_FILE = "_META.json"
SCHEMA_FILE = "_SCHEMA.json"
VERSION_META_FILE = "_VERSION_META.json"
TABLE_META_FILE = "_TABLE_META.json"
VERSIONS_LOG = "_VERSIONS.jsonl"
LOCK_FILE = "_LOCK"
TXN_DIR = "_TXN"

# sentinels for a base version (None is a real value — it means
# "expect the table to have no committed version yet"):
# "don't check the base" and "the version current at staging time"
_UNCHECKED = object()
_AT_STAGE = object()

# a commit lock older than this is presumed abandoned (writer died
# between acquire and release) and is broken; the guarded critical
# section is a pointer read + rename — microseconds, not seconds
_LOCK_STALE_SEC = 30.0


class ConcurrentWriteError(RuntimeError):
    """The table's current version advanced after this writer read its
    base — committing would silently discard the other writer's rows.
    Recompute against the new current version and retry."""


class SimulatedCrash(RuntimeError):
    """Raised by the test-only crash seam of ``ParquetWarehouse._commit``."""


# P5 identifier safety (reference src/schemas/request.py:7,
# src/api/routes.py:82-87): table names become filesystem paths, so an
# unvalidated name like ``../evil`` escapes the warehouse root.
_VALID_TABLE = re.compile(r"^[A-Za-z0-9_][A-Za-z0-9_.-]*$")


def validate_table_name(table: str) -> str:
    if not _VALID_TABLE.fullmatch(table or "") or ".." in table:
        raise ValueError(f"invalid table name: {table!r}")
    return table


def _parse_partition_value(raw: str, dtype: T.DataType):
    """Directory-name partition value → the column's Python type (the
    inverse of Spark's partition-path encoding for the types used
    here)."""
    import datetime as _dt

    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(raw)
    if isinstance(dtype, T.DateType):
        return _dt.date.fromisoformat(raw)
    return raw


def arrow_table(rows: list[dict], schema: T.StructType) -> pa.Table:
    """Driver-side rows as an Arrow table that Spark reads back as
    ``schema`` (timestamps become UTC-adjusted micros, which Spark maps
    to ``TimestampType``). Aware datetimes are converted to naive UTC
    first: given an explicit timestamp type, pyarrow stores an aware
    value's wall clock and drops its offset."""
    ts_cols = [
        f.name for f in schema.fields if isinstance(f.dataType, T.TimestampType)
    ]

    def utc(v):
        if v is None or v.tzinfo is None:
            return v
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)

    rows = [{**r, **{c: utc(r.get(c)) for c in ts_cols}} for r in rows]
    return pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))


def _merge_schemas(base: T.StructType, extra: T.StructType) -> T.StructType:
    """unionByName-style schema merge: ``base`` field order, new fields
    from ``extra`` appended as nullable (schema evolution adds columns;
    it never retypes them)."""
    fields = list(base.fields)
    have = {f.name for f in fields}
    for f in extra.fields:
        if f.name not in have:
            fields.append(T.StructField(f.name, f.dataType, nullable=True))
    return T.StructType(fields)


class ParquetWarehouse:
    """Versioned parquet table store rooted at ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------

    def table_dir(self, table: str) -> str:
        return os.path.join(self.root, validate_table_name(table))

    def _pointer_path(self, table: str) -> str:
        return os.path.join(self.table_dir(table), CURRENT_POINTER)

    def current_version_dir(self, table: str) -> str | None:
        ptr = self._pointer_path(table)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            version = f.read().strip()
        path = os.path.join(self.table_dir(table), version)
        return path if os.path.exists(path) else None

    def current_version_name(self, table: str) -> str | None:
        """The committed version a writer must name as its CAS base."""
        path = self.current_version_dir(table)
        return os.path.basename(path) if path else None

    # -- catalog -------------------------------------------------------

    def table_exists(self, table: str) -> bool:
        """P3 existence predicate (parity: inspector.has_table,
        src/services/etl.py:32-33)."""
        return self.current_version_dir(table) is not None

    def list_tables(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.exists(os.path.join(self.root, d, CURRENT_POINTER))
        )

    def register_views(self, prefix: str = "") -> list[str]:
        """Expose every table as a temp view (``prefix`` + name), so
        plain ``spark.sql`` works over the warehouse — the SQL-client
        story for users coming from the reference's Postgres. Views
        resolve the version CURRENT AT REGISTRATION; re-register after
        syncs for fresh reads (a temp view pins the snapshot, which is
        also exactly what a consistent multi-statement report wants)."""
        names = []
        for t in self.list_tables():
            name = f"{prefix}{t}"
            self.read(t).createOrReplaceTempView(name)
            names.append(name)
        return names

    # -- table metadata --------------------------------------------------

    def read_meta(self, table: str) -> dict:
        path = os.path.join(self.table_dir(table), META_FILE)
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return json.load(f)

    def write_meta(self, table: str, meta: dict) -> None:
        """Merge ``meta`` into the table's persisted facts (atomic
        replace). Facts like ``n_buckets`` are written once at table
        creation and validated — never silently changed — by later
        merges (a different bucket count re-hashes keys to different
        dirs and would strand stale rows in 'untouched' buckets). The
        creating writer stages them with its version
        (``TABLE_META_FILE``) and ``_commit`` records them under the
        table lock, so a creator that loses the race never writes
        them."""
        tdir = self.table_dir(table)
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, META_FILE)
        merged = {**self.read_meta(table), **meta}
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(merged, f, indent=1, sort_keys=True)
        os.replace(tmp, path)

    # -- read ----------------------------------------------------------

    def read(self, table: str, version: str | None = None) -> DataFrame:
        """Read the current version, or — time travel — any retained
        older version by name (see ``list_versions``). Old versions
        are immutable snapshots; reading one is the audit/diff story
        after a bad sync (every row of the previous state, not just
        the ``sync_history`` summary the reference keeps)."""
        if version is not None:
            path = os.path.join(self.table_dir(table), version)
            if not os.path.isdir(path):
                raise FileNotFoundError(
                    f"version {version!r} of table {table!r} is not "
                    f"available (never committed, or garbage-collected "
                    f"past keep_versions)"
                )
        else:
            path = self.current_version_dir(table)
        if path is None:
            raise FileNotFoundError(f"warehouse table not found: {table}")
        schema_path = os.path.join(path, SCHEMA_FILE)
        if os.path.exists(schema_path):
            with open(schema_path) as f:
                schema = T.StructType.fromJson(json.load(f))
            # explicit schema: inherited pre-evolution files surface
            # missing columns as nulls; no footer sniffing.
            return self.spark.read.schema(schema).parquet(path)
        return self.spark.read.parquet(path)

    # -- write ---------------------------------------------------------

    def _new_version_dir(self, table: str) -> tuple[str, str]:
        tdir = self.table_dir(table)
        os.makedirs(tdir, exist_ok=True)
        version = f"v_{uuid.uuid4().hex[:12]}"
        return version, os.path.join(tdir, version)

    def _write_schema_file(self, vdir: str, schema: T.StructType) -> None:
        with open(os.path.join(vdir, SCHEMA_FILE), "w") as f:
            json.dump(schema.jsonValue(), f)

    def _acquire_lock(self, table: str, timeout: float = 5.0) -> tuple[str, str]:
        """Tiny mutual-exclusion window around the compare-and-swap:
        atomic O_CREAT|O_EXCL on ``_LOCK``. Returns ``(path, token)``;
        the unique token makes release ownership-checked. Stale locks
        (a writer that died inside the window) are broken after
        ``_LOCK_STALE_SEC`` via an atomic rename, so among N waiters
        exactly ONE breaks the lock — a blind ``unlink`` here would
        let a second waiter's pending unlink remove the first waiter's
        FRESH lock and admit two writers to the critical section."""
        lock = os.path.join(self.table_dir(table), LOCK_FILE)
        token = uuid.uuid4().hex
        deadline = time.monotonic() + timeout
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, f"{os.getpid()} {time.time()} {token}".encode())
                os.close(fd)
                return lock, token
            except FileExistsError:
                try:
                    with open(lock) as f:
                        observed = f.read()
                    age = time.time() - os.path.getmtime(lock)
                except OSError:
                    continue  # released between exists-check and stat
                if age > _LOCK_STALE_SEC:
                    self._break_stale_lock(lock, observed)
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"could not acquire commit lock for {table!r} "
                        f"within {timeout}s"
                    )
                time.sleep(0.01)

    @staticmethod
    def _break_stale_lock(lock: str, observed: str) -> None:
        """Break an abandoned lock such that exactly one breaker
        succeeds: rename to a unique tombstone (atomic — losers get
        ENOENT and re-enter the acquire loop). The tombstone's content
        is then verified against what was observed stale; if it
        differs, the stale holder released and a LIVE writer acquired
        between our stat and rename — hand the lock back via link
        (no-op if the slot was re-taken; the live writer's token check
        at release keeps any residue harmless)."""
        tomb = lock + f".tomb.{uuid.uuid4().hex[:8]}"
        try:
            os.rename(lock, tomb)
        except OSError:
            return  # another breaker (or the owner's release) won
        try:
            with open(tomb) as f:
                content = f.read()
        except OSError:
            content = observed
        if content != observed:
            try:
                os.link(tomb, lock)
            except OSError:
                pass
        try:
            os.unlink(tomb)
        except OSError:
            pass

    @staticmethod
    def _release_lock(lock: str, token: str) -> None:
        """Unlink only OUR lock: after a stale-break race the path may
        hold another writer's fresh lock, which a blind unlink would
        cascade-break."""
        try:
            with open(lock) as f:
                if token not in f.read():
                    return
            os.unlink(lock)
        except OSError:
            pass

    def _commit(
        self,
        staged: dict[str, tuple[str, object]],
        keep_versions: int = 2,
        txn_id: str | None = None,
        _crash_after_repoints: int | None = None,
    ) -> None:
        """The one commit routine: every commit, of one table or
        several, runs here, and nothing else moves ``_CURRENT``.
        ``staged`` maps table → ``(version, base)``; ``base`` is the
        CAS base (None: the table must not exist yet; ``_UNCHECKED``:
        no check). Steps 2–6 of operators/transaction.py: sorted
        locks, CAS, temp pointers written under the locks, the fsynced
        ``_TXN/`` journal (the commit point — ``recover_transactions``
        finishes a commit that dies after it), repoint + version log,
        release, GC. Any failure before the journal removes the temp
        pointers and the staged versions. A staged version carrying
        ``TABLE_META_FILE`` (it creates its table's layout) has those
        facts recorded by ``write_meta`` once its CAS has passed, under
        the lock. ``_crash_after_repoints`` is
        a test-only seam: raise ``SimulatedCrash`` after that many
        repoints, leaving the journal for recovery."""
        tables = sorted(staged)
        held: list[tuple[str, str]] = []
        tmps: list[str] = []
        try:
            try:
                for t in tables:
                    held.append(self._acquire_lock(t))
                for t in tables:
                    base = staged[t][1]
                    cur = self.current_version_name(t)
                    if base is not _UNCHECKED and cur != base:
                        raise ConcurrentWriteError(
                            f"table {t!r}: base advanced from {base!r} to "
                            f"{cur!r} during the write"
                        )
                for t in tables:
                    vdir = os.path.join(self.table_dir(t), staged[t][0])
                    facts = os.path.join(vdir, TABLE_META_FILE)
                    if os.path.exists(facts):
                        with open(facts) as f:
                            self.write_meta(t, json.load(f))
                    tmps.append(self._pointer_tmp(t, staged[t][0]))
                journal = self._write_journal(
                    txn_id or f"txn_{uuid.uuid4().hex[:12]}",
                    {t: staged[t][0] for t in tables},
                )
            except BaseException:
                for path in tmps:
                    os.unlink(path)
                for t in tables:
                    shutil.rmtree(
                        os.path.join(self.table_dir(t), staged[t][0]),
                        ignore_errors=True,
                    )
                raise
            for n, (t, tmp) in enumerate(zip(tables, tmps), 1):
                self._flip(t, staged[t][0], tmp)
                if _crash_after_repoints is not None and n >= _crash_after_repoints:
                    raise SimulatedCrash(f"crashed after {n}/{len(tables)} repoints")
            os.unlink(journal)
        finally:
            for lock, token in held:
                self._release_lock(lock, token)
        for t in tables:
            self._gc_versions(t, keep=keep_versions)

    def _pointer_tmp(self, table: str, version: str) -> str:
        tmp = self._pointer_path(table) + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(version)
        return tmp

    def _write_journal(self, txn_id: str, tables: dict[str, str]) -> str:
        txn_dir = os.path.join(self.root, TXN_DIR)
        os.makedirs(txn_dir, exist_ok=True)
        path = os.path.join(txn_dir, f"{txn_id}.json")
        payload = {
            "txn_id": txn_id,
            "state": "committing",
            "committed_at": time.time(),
            "tables": tables,
        }
        with open(path + ".tmp", "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(path + ".tmp", path)
        return path

    def _flip(self, table: str, version: str, tmp: str) -> None:
        """Rename the temp pointer ``tmp`` over ``_CURRENT`` (atomic on
        POSIX) and log the version. The caller holds the table lock;
        this is the only writer of ``_CURRENT``."""
        os.replace(tmp, self._pointer_path(table))
        # the version log gives time travel a commit ORDER (dir names
        # are uuids); appended under the table lock and after the
        # swap, so entries are totally ordered and each was live once
        entry = {"version": version, "committed_at": time.time()}
        with open(os.path.join(self.table_dir(table), VERSIONS_LOG), "a") as f:
            f.write(json.dumps(entry) + "\n")

    # -- time travel ---------------------------------------------------

    def list_versions(self, table: str) -> list[dict]:
        """Commit history, oldest → newest: ``{version, committed_at,
        available, is_current}``. Versions beyond ``keep_versions`` are
        GC'd — logged but no longer readable (``available=False``)."""
        log_path = os.path.join(self.table_dir(table), VERSIONS_LOG)
        if not os.path.exists(log_path):
            return []
        tdir = self.table_dir(table)
        current = os.path.basename(self.current_version_dir(table) or "")
        out = []
        with open(log_path) as f:
            for line in f:
                entry = json.loads(line)
                v = entry["version"]
                out.append(
                    {
                        **entry,
                        "available": os.path.isdir(os.path.join(tdir, v)),
                        "is_current": v == current,
                    }
                )
        return out

    def write_version(
        self,
        table: str,
        df: DataFrame | pa.Table,
        partition_by: list[str] | None = None,
        keep_versions: int = 2,
        expect_base=_UNCHECKED,
        cluster: bool = True,
        extra_meta: dict | None = None,
    ) -> str:
        """Write ``df`` as a fresh immutable version and atomically
        repoint ``_CURRENT`` at it. Returns the version dir.

        ``keep_versions`` old versions are retained for concurrent
        readers mid-scan, then garbage-collected (the reference drops
        its temp staging table at etl.py:87; here old versions are the
        staging residue).

        ``expect_base`` (a version name, or None for "table must not
        exist yet") makes the commit a compare-and-swap: if another
        writer committed first, ``ConcurrentWriteError`` is raised
        instead of silently discarding their rows. Unchecked by
        default — full rewrites (destructive reload) replace whatever
        is current by design; read-modify-write callers must pass the
        base they read.

        ``cluster=False`` skips the pre-write repartition for callers
        that already arranged their own physical layout (``compact``
        sorts within explicitly-sized partitions; time-partitioned
        writes range-cluster) — a blind re-shuffle here would destroy
        that clustering and silently force ~one file per dir.

        ``extra_meta`` commits a dict INSIDE the version dir
        (``_VERSION_META.json``) before the pointer swap — lineage
        that must be atomic with the data (e.g. a materialized view's
        base version) rides the same single pointer swap instead of a
        separate meta write with a crash window between the two.

        ``df`` may be a ``pyarrow.Table`` (see ``arrow_table``): tables
        of a few rows that the driver owns (sync checkpoints) are
        written as one parquet file with no Spark job; ``partition_by``
        and ``cluster`` apply to DataFrames only.
        """
        version = self._stage_version(
            table, df, partition_by, cluster=cluster, extra_meta=extra_meta
        )
        self._commit({table: (version, expect_base)}, keep_versions)
        return os.path.join(self.table_dir(table), version)

    def _stage_version(
        self,
        table: str,
        df: DataFrame | pa.Table,
        partition_by: list[str] | None = None,
        cluster: bool = True,
        extra_meta: dict | None = None,
        table_meta: dict | None = None,
    ) -> str:
        """``write_version`` without the pointer swap: returns the
        staged version's name for the caller's own commit.
        ``table_meta`` stages the facts this version creates its table
        with (recorded by ``_commit``)."""
        version, vdir = self._new_version_dir(table)
        if isinstance(df, pa.Table):
            os.makedirs(vdir)
            pq.write_table(df, os.path.join(vdir, "part-00000.parquet"))
            schema = from_arrow_schema(df.schema)
        else:
            if partition_by and cluster:
                # cluster rows by the partition key before the partitioned
                # write: without this, EVERY upstream task writes its own
                # file into every partition dir it holds rows for (32
                # tasks x N dirs of small files per commit — the classic
                # small-files problem, and most of the commit latency on
                # the write-heavy replay rows). One exchange of the
                # written rows buys ~one file per partition dir.
                df = df.repartition(*partition_by)
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(vdir)
            schema = df.schema
        self._write_schema_file(vdir, schema)
        if extra_meta is not None:
            self._write_version_meta(vdir, extra_meta)
        if table_meta is not None:
            with open(os.path.join(vdir, TABLE_META_FILE), "w") as f:
                json.dump(table_meta, f)
        return version

    @staticmethod
    def _write_version_meta(vdir: str, meta: dict) -> None:
        with open(os.path.join(vdir, VERSION_META_FILE), "w") as f:
            json.dump(meta, f)

    def read_version_meta(
        self, table: str, version: str | None = None
    ) -> dict | None:
        """The ``extra_meta`` committed with a version (current by
        default), or None if that version carries none. Because the
        file lands in the version dir BEFORE the pointer swap, a
        reader that resolves a version always sees its meta — there is
        no window where data is live but lineage is not."""
        if version is None:
            vdir = self.current_version_dir(table)
        else:
            vdir = os.path.join(self.table_dir(table), version)
        if vdir is None:
            return None
        path = os.path.join(vdir, VERSION_META_FILE)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def update_version_meta(
        self, table: str, meta: dict, expect_version: str | None = None
    ) -> None:
        """Atomically replace the CURRENT version's lineage meta
        without writing data — for refreshes that observe base-version
        churn which touched zero partitions (the stored content is
        byte-identical, only the reflected-base record advances). The
        os.replace is the whole commit; a crash before it leaves the
        old record, and redoing the no-op advance is idempotent.

        ``expect_version`` makes the advance a compare-and-swap, the
        same discipline as ``write_version(expect_base=…)``: the
        caller passes the version name it resolved its lineage
        against, and if a concurrent data commit repointed the table
        in between, ``ConcurrentWriteError`` is raised instead of
        silently stamping OLDER lineage onto the rival's NEWER
        version — for an aggregate MV that stale record would make
        the next refresh re-merge a delta the stored partials already
        include (the additive double-count the single-swap protocol
        exists to prevent). The check and the rename run under the
        table's commit lock — the same lock every pointer swap takes —
        so there is no window between compare and swap."""
        lock, lock_token = self._acquire_lock(table)
        try:
            cur = self.current_version_name(table)
            if cur is None:
                raise FileNotFoundError(
                    f"warehouse table not found: {table}"
                )
            if expect_version is not None and cur != expect_version:
                raise ConcurrentWriteError(
                    f"table {table!r}: version advanced from "
                    f"{expect_version!r} to {cur!r} since the caller "
                    "resolved it — re-read before advancing lineage"
                )
            vdir = os.path.join(self.table_dir(table), cur)
            tmp = os.path.join(
                vdir, VERSION_META_FILE + f".tmp.{uuid.uuid4().hex[:8]}"
            )
            with open(tmp, "w") as f:
                json.dump(meta, f)
            os.replace(tmp, os.path.join(vdir, VERSION_META_FILE))
        finally:
            self._release_lock(lock, lock_token)

    def write_version_partial(
        self,
        table: str,
        df: DataFrame,
        touched: list,
        partition_col: str = BUCKET_COL,
        keep_versions: int = 2,
        base_version=_AT_STAGE,
        cluster: bool = True,
        extra_meta: dict | None = None,
    ) -> str:
        """Incremental version: write ONLY the ``touched`` partition
        values of ``partition_col`` from ``df``; inherit every other
        partition dir from the base version by hardlinking its
        immutable parquet files (same inode — no data read or copied).

        This is what keeps a keyed merge O(touched-bucket bytes) at
        100 TB: a 5k-row batch writes the ~dozens of buckets its keys
        hash into and links the other ~8k dirs in filesystem-metadata
        time. Crash safety is unchanged — the pointer swaps only after
        the full version (written + linked) exists, and GC of an old
        version only unlinks names, never shared inodes.

        ``df`` must contain exactly the rows belonging to the touched
        partitions (the caller's contested-bucket resolution). Staging
        follows ``_stage_version_partial``'s rule, so an absent or
        emptied table gets a full version of ``df``.

        The commit is ALWAYS a compare-and-swap on the version whose
        partitions it inherits: if another writer commits in between,
        the hardlinked "untouched" dirs are stale and committing them
        would resurrect overwritten rows — ``ConcurrentWriteError``
        tells the caller to recompute from the new current version.

        ``base_version`` pins WHICH version is inherited and CASed
        against (None: the table must not exist yet): read-modify-write
        callers MUST pass the version they read (merge.py does). By
        default prev resolves to current at THIS call — a writer
        committing between the caller's read and this call would
        advance current, this write would inherit the newer version's
        untouched buckets, and the CAS would pass while the caller's
        resolution of the TOUCHED buckets silently dropped that
        writer's rows (the lost-update TOCTOU).
        """
        version, base = self._stage_version_partial(
            table, df, touched, partition_col, base_version, cluster, extra_meta
        )
        self._commit({table: (version, base)}, keep_versions)
        return os.path.join(self.table_dir(table), version)

    def _stage_version_partial(
        self,
        table: str,
        df: DataFrame,
        touched: list,
        partition_col: str = BUCKET_COL,
        base_version=_AT_STAGE,
        cluster: bool = True,
        extra_meta: dict | None = None,
        table_meta: dict | None = None,
    ) -> tuple[str, str | None]:
        """The one staging rule for keyed and partitioned writers:
        write ``df`` partitioned by ``partition_col`` as an invisible
        version and return ``(version, base)`` for ``_commit``. The
        base version's directory listing (no Spark job) decides what
        else the version holds:

        - no committed base, or a base holding no parquet file (an
          emptied table: a zero-row partitioned write leaves only
          ``_SUCCESS``) — nothing: ``df`` is the whole content;
        - data but no ``partition_col=`` dirs — ``ValueError``:
          inheriting nothing would drop every untouched row;
        - otherwise every untouched partition dir, hardlinked.

        A base's lineage meta (unless ``extra_meta`` is given) and its
        schema carry over: inherited files may lack new columns, and
        ``read`` null-fills them from the merged ``_SCHEMA.json``.
        ``table_meta`` (the table's facts, e.g. ``n_buckets``) is staged
        only when the version creates the table."""
        if base_version is _AT_STAGE:
            base_version = self.current_version_name(table)
        prev = None
        if base_version is not None:
            prev = os.path.join(self.table_dir(table), base_version)
            if not os.path.isdir(prev):
                cur = self.current_version_name(table)
                raise ConcurrentWriteError(
                    f"table {table!r}: pinned base {base_version!r} is no "
                    f"longer available (current is {cur!r}) — recompute "
                    "against the current version and retry"
                )
        prefix = f"{partition_col}="
        parts = [e for e in os.listdir(prev) if e.startswith(prefix)] if prev else []
        if not parts and prev and self.has_data(table, base_version):
            # loud failure beats silent loss: inheriting from a version
            # with no matching partition dirs would drop every
            # untouched row (e.g. after a layout-stripping rewrite)
            raise ValueError(
                f"table {table!r} current version has no "
                f"{partition_col}= partition dirs; partial write would "
                f"lose untouched data — write a full version instead"
            )
        # cluster=False for callers (compact's fragmented branch) that
        # already sized and sorted their partitions — re-shuffling
        # would undo their sortWithinPartitions clustering
        version = self._stage_version(
            table, df, [partition_col], cluster=cluster, extra_meta=extra_meta,
            table_meta=table_meta if prev is None else None,
        )
        if prev is None:
            return version, None
        vdir = os.path.join(self.table_dir(table), version)
        touched_dirs = {f"{prefix}{v}" for v in touched}
        for entry in parts:
            src = os.path.join(prev, entry)
            if entry in touched_dirs or not os.path.isdir(src):
                continue
            dst = os.path.join(vdir, entry)
            os.makedirs(dst, exist_ok=True)
            try:
                for fn in os.listdir(src):
                    if fn.endswith(".parquet"):
                        os.link(os.path.join(src, fn), os.path.join(dst, fn))
            except FileNotFoundError as exc:
                # another writer committed and GC collected our base
                # mid-inherit — same stale-base condition as the CAS
                shutil.rmtree(vdir, ignore_errors=True)
                raise ConcurrentWriteError(
                    f"table {table!r}: base version {base_version!r}"
                    " was garbage-collected during the partial write"
                ) from exc

        # lineage inherits with the content: without this, any
        # content-preserving maintenance rewrite of an MV — compact()
        # most of all — silently dropped the reflected-base record and
        # the next refresh crashed instead of staying incremental.
        prev_meta = os.path.join(prev, VERSION_META_FILE)
        if extra_meta is None and os.path.exists(prev_meta):
            shutil.copyfile(prev_meta, os.path.join(vdir, VERSION_META_FILE))
        prev_schema_path = os.path.join(prev, SCHEMA_FILE)
        if os.path.exists(prev_schema_path):
            with open(prev_schema_path) as f:
                prev_schema = T.StructType.fromJson(json.load(f))
        else:
            prev_schema = self.spark.read.parquet(prev).schema
        self._write_schema_file(vdir, _merge_schemas(prev_schema, df.schema))
        return version, base_version

    def has_data(self, table: str, version: str) -> bool:
        """Whether ``version`` of ``table`` holds rows: a parquet file
        or a ``col=value`` partition dir at its top level (Spark writes
        no dir for an empty partition). One ``os.listdir``, no Spark
        job."""
        vdir = os.path.join(self.table_dir(table), version)
        return any(e.endswith(".parquet") or "=" in e for e in os.listdir(vdir))

    def _gc_versions(self, table: str, keep: int) -> None:
        tdir = self.table_dir(table)
        current = os.path.basename(self.current_version_dir(table) or "")
        versions = sorted(
            (d for d in os.listdir(tdir) if d.startswith("v_") and d != current),
            key=lambda d: os.path.getmtime(os.path.join(tdir, d)),
        )
        for d in versions[: max(0, len(versions) - keep)]:
            shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)

    def drop(self, table: str) -> None:
        """D2 destructive reload (parity: delete_many({}),
        dump.py:187-194)."""
        shutil.rmtree(self.table_dir(table), ignore_errors=True)

    def write_time_partitioned(
        self,
        table: str,
        df: DataFrame,
        ts_col: str,
        grain: str = "day",
    ) -> str:
        """Write a time-series table partitioned by event date —
        the layout for append-mostly fact tables (events, tickets).

        Date-range predicates then prune whole partition directories
        (PartitionFilters in the scan, asserted in
        tests/test_plans_scale.py) — at 100 TB a one-day query reads
        1/retention of the table before any row is touched. Combine
        with bucket-partitioning only when a table needs BOTH keyed
        merges and time pruning (partitionBy(date, bucket)).

        Physical layout: rows are RANGE-clustered on (date, ts) —
        ``repartitionByRange`` samples the data and cuts
        ``spark.sql.shuffle.partitions`` contiguous spans, so a
        multi-day backfill writes with full configured parallelism (a
        hot day spans many tasks → many right-sized files; quiet days
        coalesce into shared tasks → ~one file each). Hashing on the
        date alone would serialize each day into a single task and a
        single potentially-huge file. The in-task sort makes every
        file's ts column monotone, so parquet row-group min/max stats
        give intra-day time-range skipping on top of the directory
        pruning.
        """
        from pyspark.sql import functions as F

        part = {"day": F.to_date(ts_col), "month": F.date_trunc("month", ts_col)}[
            grain
        ].cast("date")
        out = (
            df.withColumn("_event_date", part)
            .repartitionByRange(F_col("_event_date"), F_col(ts_col))
            .sortWithinPartitions("_event_date", ts_col)
        )
        return self.write_version(
            table,
            out,
            partition_by=["_event_date"],
            cluster=False,
        )

    # -- maintenance ---------------------------------------------------

    def table_stats(self, table: str, count_rows: bool = False) -> dict:
        """Operational snapshot of a table's CURRENT version from
        filesystem metadata alone: file/partition counts, total bytes,
        retained-version count, and the version name — the numbers a
        compaction or retention decision needs, gathered without
        reading any data. ``count_rows=True`` adds an exact row count
        (a full metadata-only parquet scan — cheap, but it does start
        a job)."""
        vdir = self.current_version_dir(table)
        if vdir is None:
            raise FileNotFoundError(f"warehouse table not found: {table}")
        n_files = 0
        n_bytes = 0
        partitions = set()
        for root, _dirs, files in os.walk(vdir):
            rel = os.path.relpath(root, vdir)
            if rel != "." and "=" in os.path.basename(root):
                partitions.add(os.path.basename(root))
            for fn in files:
                if fn.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(root, fn))
        retained = sum(
            1
            for d in os.listdir(self.table_dir(table))
            if d.startswith("v_")
            and os.path.isdir(os.path.join(self.table_dir(table), d))
        )
        out = {
            "table": table,
            "version": os.path.basename(vdir),
            "n_files": n_files,
            "n_bytes": n_bytes,
            "n_partitions": len(partitions),
            "retained_versions": retained,
        }
        if count_rows:
            out["n_rows"] = self.read(table).count()
        return out

    def fragmented_partitions(
        self, table: str, partition_col: str = BUCKET_COL, max_files: int = 1
    ) -> list:
        """Partition values whose directory holds more than
        ``max_files`` parquet files — the compaction work list.
        Pure directory metadata, no data read."""
        vdir = self.current_version_dir(table)
        if vdir is None:
            raise FileNotFoundError(f"warehouse table not found: {table}")
        out = []
        prefix = f"{partition_col}="
        for entry in os.listdir(vdir):
            if not entry.startswith(prefix):
                continue
            pdir = os.path.join(vdir, entry)
            n = sum(1 for f in os.listdir(pdir) if f.endswith(".parquet"))
            if n > max_files:
                out.append(entry[len(prefix):])
        return sorted(out)

    def partition_column(self, table: str) -> str | None:
        """The table's physical partition column, detected from the
        current version's directory layout (``col=value`` dirs) — the
        ground truth a maintenance rewrite must preserve."""
        vdir = self.current_version_dir(table)
        if vdir is None:
            return None
        for entry in os.listdir(vdir):
            if "=" in entry and os.path.isdir(os.path.join(vdir, entry)):
                return entry.split("=", 1)[0]
        return None

    def compact(
        self,
        table: str,
        sort_col: str | None = None,
        files_per_partition: int = 1,
        only_fragmented: bool = False,
    ) -> str:
        """Rewrite fragmented files into consolidated ones.

        Frequent small incremental merges accrete small files — the
        classic streaming-warehouse pathology (at 100 TB, scan cost is
        dominated by file-open overhead once files are ≪ the parquet
        row-group size). Compaction rewrites each bucket partition
        into ``files_per_partition`` files; with ``sort_col`` set,
        rows are sorted within files so parquet min/max stats give
        point lookups row-group skipping (poor-man's clustering).
        Readers are never blocked: this is just another atomic
        version swap.

        ``only_fragmented=True`` makes compaction itself incremental:
        only bucket dirs holding more than ``files_per_partition``
        files are rewritten; already-unit buckets hardlink-inherit
        (write_version_partial). At 100 TB this is the difference
        between a nightly compaction that touches the day's churned
        buckets and one that rewrites the table.

        Concurrency: compaction is a read-modify-write that must not
        clobber a writer landing mid-pass — both branches pin the
        version they read (``base_version`` / ``expect_base``) and
        surface ``ConcurrentWriteError`` on a race; maintenance just
        retries. Un-pinned, the rewrite would resurrect the pre-race
        rows (full branch) or mix two snapshots (partial branch).
        """
        # pin ONE version for the whole pass: the read, the lineage
        # carry, and the commit CAS must all name the same snapshot
        base = self.current_version_name(table)
        if base is None:
            raise FileNotFoundError(f"warehouse table not found: {table}")
        df = self.read(table, version=base)
        # preserve whatever partition layout the table actually has —
        # assuming _bucket here would strip e.g. a rollup table's day
        # partitioning, after which partial writes could not inherit
        part_col = self.partition_column(table)

        if only_fragmented and part_col is not None:
            frag = self.fragmented_partitions(
                table, part_col, max_files=files_per_partition
            )
            if not frag:
                return self.current_version_dir(table)  # nothing to do
            # dir names are strings; cast back through the column's
            # own type via the isin on the read column
            field = df.schema[part_col].dataType
            vals = [_parse_partition_value(v, field) for v in frag]
            sub = df.filter(F_col(part_col).isin(vals)).repartition(
                files_per_partition, part_col
            )
            if sort_col is not None:
                sub = sub.sortWithinPartitions(part_col, sort_col)
            # cluster=False: the repartition(files_per_partition, col)
            # + sortWithinPartitions above IS the layout being
            # committed — the write path must not re-shuffle it
            return self.write_version_partial(
                table, sub, vals, partition_col=part_col, cluster=False,
                base_version=base,
            )

        if part_col is not None:
            df = df.repartition(files_per_partition, part_col)
        else:
            df = df.coalesce(files_per_partition)
        if sort_col is not None:
            cols = ([part_col] if part_col else []) + [sort_col]
            df = df.sortWithinPartitions(*cols)
        # content-preserving rewrite: the new version holds the same
        # rows, so it reflects the same lineage — carry the version
        # meta through (the partial branch above inherits it inside
        # _stage_version_partial). Dropping it here turned an MV's
        # nightly compaction into a refresh crash: _recorded_*
        # resolved to None and the refresher joined None into a path.
        return self.write_version(
            table,
            df,
            partition_by=[part_col] if part_col else None,
            cluster=False,
            extra_meta=self.read_version_meta(table, version=base),
            expect_base=base,
        )
