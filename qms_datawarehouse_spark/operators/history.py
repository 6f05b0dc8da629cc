"""Append-only sync audit log (``sync_history``).

Parity: /root/reference/src/core/db.py:56-67 (schema) and
/root/reference/src/services/etl.py:153-179 (start/success/failed
rows). The driver writes each batch of rows as ONE parquet file with
pyarrow (no Spark job) under a dot-prefixed temporary name, then
renames it into the log dir with ``os.replace``. Spark's file listing
skips dot- and underscore-prefixed names, so a reader sees a batch
whole or not at all. The recent-runs view is the reference's
``ORDER BY started_at DESC LIMIT n`` (S9,
/root/reference/src/api/routes.py:114-126).
"""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qms_datawarehouse_spark.warehouse import ParquetWarehouse, arrow_table

TABLE = "sync_history"

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("source", T.StringType(), True),
        T.StructField("collection", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("started_at", T.TimestampType(), True),
        T.StructField("completed_at", T.TimestampType(), True),
        T.StructField("records_synced", T.IntegerType(), True),
        T.StructField("message", T.StringType(), True),
    ]
)


def _append_dir(warehouse: ParquetWarehouse) -> str:
    return os.path.join(warehouse.root, TABLE + "_log")


def entry(
    source: str,
    collection: str,
    status: str,
    started_at: dt.datetime,
    completed_at: dt.datetime | None = None,
    records_synced: int = 0,
    message: str | None = None,
) -> dict:
    """One audit row with a fresh UUID4 id (F9 parity: uuid4 history
    ids, etl.py:189)."""
    return {
        "id": str(uuid.uuid4()),
        "source": source,
        "collection": collection,
        "status": status,
        "started_at": started_at,
        "completed_at": completed_at,
        "records_synced": records_synced,
        "message": message,
    }


def append(warehouse: ParquetWarehouse, entries: list[dict]) -> None:
    """Append ``entries`` (see ``entry``) as one file, visible all at
    once."""
    log = _append_dir(warehouse)
    os.makedirs(log, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(log, f".{name}.tmp")
    try:
        pq.write_table(arrow_table(entries, SCHEMA), tmp)
        os.replace(tmp, os.path.join(log, name))
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def record(
    warehouse: ParquetWarehouse,
    source: str,
    collection: str,
    status: str,
    started_at: dt.datetime,
    completed_at: dt.datetime | None = None,
    records_synced: int = 0,
    message: str | None = None,
) -> str:
    """Append one audit row; returns its id."""
    row = entry(
        source, collection, status, started_at, completed_at,
        records_synced, message,
    )
    append(warehouse, [row])
    return row["id"]


def read_history(warehouse: ParquetWarehouse) -> DataFrame:
    path = _append_dir(warehouse)
    if not os.path.exists(path):
        return warehouse.spark.createDataFrame([], schema=SCHEMA)
    return warehouse.spark.read.schema(SCHEMA).parquet(path)


def recent(warehouse: ParquetWarehouse, limit: int = 50) -> DataFrame:
    """S9: sort desc + LIMIT (parity: routes.py:120-121). Spark plans
    this as TakeOrderedAndProject — a top-K, not a full sort."""
    return read_history(warehouse).orderBy(F.desc("started_at")).limit(limit)
