"""High-water-mark checkpoint store (``sync_metadata``).

Parity: /root/reference/src/core/db.py:43-50 (table: source_uri,
collection_name, last_synced_at, PK(source_uri, collection_name)) and
/root/reference/src/services/etl.py:89-126 (read + upsert).

The table is tiny (one row per source×collection), so the driver owns
it: reads and writes go through pyarrow and launch no Spark job. Each
commit is one new single-file version through the warehouse's
``write_version`` compare-and-swap, so a reader resolving ``_CURRENT``
sees every mark of one commit or none of them, and Spark readers
(``warehouse.read``, ``register_views``) still see the declared
``TimestampType`` column. A read is one pyarrow scan of the current
version (S8); it also accepts versions Spark wrote, INT96 timestamps
included.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from qms_datawarehouse_spark.warehouse import (
    ConcurrentWriteError,
    ParquetWarehouse,
    arrow_table,
)

TABLE = "sync_metadata"

SCHEMA = T.StructType(
    [
        T.StructField("source_uri", T.StringType(), False),
        T.StructField("collection_name", T.StringType(), False),
        T.StructField("last_synced_at", T.TimestampType(), True),
    ]
)


def _read_marks(
    warehouse: ParquetWarehouse, version: str
) -> dict[tuple[str, str], dt.datetime | None]:
    """Every mark of one version, keyed (source_uri, collection_name),
    as naive UTC. The cast to the declared schema turns a Spark-written
    INT96 column (naive, UTC-based) into the same UTC type pyarrow
    writes."""
    vdir = os.path.join(warehouse.table_dir(TABLE), version)
    schema = to_arrow_schema(SCHEMA)
    rows = (
        pq.read_table(vdir, coerce_int96_timestamp_unit="us")
        .select(schema.names)
        .cast(schema)
        .to_pylist()
    )
    return {
        (r["source_uri"], r["collection_name"]): (
            r["last_synced_at"] and r["last_synced_at"].replace(tzinfo=None)
        )
        for r in rows
    }


def get_marks(
    warehouse: ParquetWarehouse, source_uri: str
) -> dict[str, dt.datetime | None]:
    """Every collection's mark for ``source_uri``, in one read.

    Values are naive UTC — the reference coerces with
    ``replace(tzinfo=UTC)`` on read (etl.py:97-99)."""
    base = warehouse.current_version_name(TABLE)
    if base is None:
        return {}
    return {
        coll: ts
        for (src, coll), ts in _read_marks(warehouse, base).items()
        if src == source_uri
    }


def get_last_synced(
    warehouse: ParquetWarehouse, source_uri: str, collection: str
) -> dt.datetime | None:
    """S8 point lookup by composite key (parity: etl.py:89-100)."""
    return get_marks(warehouse, source_uri).get(collection)


def set_marks(
    warehouse: ParquetWarehouse,
    source_uri: str,
    marks: dict[str, dt.datetime | str],
) -> None:
    """Composite-key upsert of several high-water marks as ONE
    checkpoint version (parity: etl.py:102-126 — same ON CONFLICT
    idiom as the data tables). No marks, no write.

    Accepts ISO-8601 strings for callers whose cursor column was never
    typed (raw string sources); stored as naive UTC, the same
    convention ``get_marks`` documents.
    """
    update = {
        (source_uri, coll): (
            dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))
            if isinstance(ts, str)
            else ts
        )
        for coll, ts in marks.items()
    }
    if not update:
        return
    # CAS + retry: concurrent syncs of DIFFERENT collections each
    # read-modify-write this one tiny table; an unchecked write would
    # drop the other sync's freshly-advanced mark.
    for _ in range(5):
        base = warehouse.current_version_name(TABLE)
        rows = {} if base is None else _read_marks(warehouse, base)
        rows.update(update)
        table = arrow_table(
            [
                {"source_uri": s, "collection_name": c, "last_synced_at": ts}
                for (s, c), ts in sorted(rows.items())
            ],
            SCHEMA,
        )
        try:
            warehouse.write_version(TABLE, table, expect_base=base)
            return
        except ConcurrentWriteError:
            continue  # another writer committed — merge into theirs
    raise ConcurrentWriteError(
        f"checkpoint upsert for {source_uri}.{sorted(marks)} kept losing "
        "the commit race"
    )


def set_last_synced(
    warehouse: ParquetWarehouse,
    source_uri: str,
    collection: str,
    ts: dt.datetime | str,
) -> None:
    """Upsert one collection's high-water mark (see ``set_marks``)."""
    set_marks(warehouse, source_uri, {collection: ts})
