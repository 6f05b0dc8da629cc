"""Registry pairing each named query with its DuckDB oracle SQL.

Contract (driver): ``queries()[name](spark, sf_dir) -> DataFrame`` and
``oracle_sql()[name]`` = equivalent ANSI SQL over the same parquet
tables. Column names are aliased identically on both sides — the
driver sorts columns by name before hashing values. Queries without a
SQL-expressible oracle register ``sql=None`` (driver does a rows-only
check).

Determinism rules applied throughout the library:
- float aggregates rounded (absorbs summation-order ulp drift);
- timestamps surfaced as epoch micros (``unix_micros`` ↔ ``epoch_us``)
  or as DATE — never as raw engine-local timestamps;
- collected sets sorted + joined to a string;
- every LIMIT is preceded by a total order (ties broken by a key).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

REGISTRY: dict[str, "QueryDef"] = {}

# Names the driver should verify first (it checks the FIRST 50 entries
# of queries()). Populated by ``plans/__init__`` after all modules
# register; applied lazily in ``_ordered_names`` because eager
# reordering at import time races the package's circular imports
# (importing an operators module directly triggers ``plans/__init__``
# before that module's own @query decorators have run).
DRIVER_WINDOW: list[str] = []


def _ordered_names() -> list[str]:
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    if missing:  # loud: a typo would silently demote a query
        raise RuntimeError(f"DRIVER_WINDOW names unknown queries: {missing}")
    rest = [n for n in REGISTRY if n not in DRIVER_WINDOW]
    return [*DRIVER_WINDOW, *rest]


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None → rows-only check
    doc: str = ""


def query(name: str, sql: str | None):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under
    ``name`` with its oracle SQL."""

    def deco(fn):
        if name in REGISTRY:  # loud: a silent dict overwrite shipped
            # two shadowed queries in round 7 (q3/q15 re-registered
            # under existing names; the originals' driver history
            # would have pointed at replaced code)
            raise RuntimeError(
                f"query {name!r} is already registered by "
                f"{REGISTRY[name].fn.__module__}"
            )
        REGISTRY[name] = QueryDef(name, fn, sql, fn.__doc__ or "")
        return fn

    return deco


def queries_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql_map() -> dict[str, str]:
    return {
        name: REGISTRY[name].sql
        for name in _ordered_names()
        if REGISTRY[name].sql is not None
    }


def tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """Load fixture tables with the session pinned to UTC (the driver
    owns the session; the timezone must still be deterministic for
    timestamp semantics).

    Parquet timestamps without timezone arrive as TIMESTAMP_NTZ in
    Spark 4; cast them to session-TZ TimestampType (UTC → identical
    wall values, matching DuckDB's naive reading) so epoch extraction
    and interval arithmetic resolve.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.ts is INT64 TIMESTAMP(NANOS) parquet — illegal for the
    # vectorized reader unless read as raw nanos (PARQUET_TYPE_ILLEGAL).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    nanos_cols = {"events": ["ts"]}
    out = []
    for n in names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet"))
        for field in df.schema.fields:
            if isinstance(field.dataType, T.TimestampNTZType):
                df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
        for c in nanos_cols.get(n, []):
            if c in df.columns and isinstance(df.schema[c].dataType, T.LongType):
                # nanos → micros via integer division — `/` is double
                # division and epoch-nanos exceed double's exact-int
                # range (2^53), which shifts values by ±1 µs.
                df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        out.append(df)
    return out


def events_delta(spark: SparkSession, sf_dir: str, ts_gt: str | None = None):
    """Events with the incremental delta predicate applied on the RAW
    cursor column, *before* any type conversion.

    Conversions (timestamp_micros(), NTZ→TZ cast) are opaque to
    parquet filter pushdown — filtering the converted column leaves
    only IsNotNull at the scan. Filtering the raw column pushes
    GreaterThan into the scan, so row groups outside the delta window
    are skipped via min/max stats — the property that makes
    incremental sync O(delta) instead of O(table) at 100 TB.

    Schema-adaptive: fixture generations have shipped ``ts`` both as
    INT64 epoch-nanos (read raw via nanosAsLong) and as
    TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Both paths keep the
    predicate on the stored representation.
    """
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):  # INT64 TIMESTAMP(NANOS) parquet
        if ts_gt is not None:
            cut = dt.datetime.fromisoformat(ts_gt).replace(tzinfo=dt.timezone.utc)
            cut_ns = int(cut.timestamp()) * 1_000_000_000
            df = df.filter(F.col("ts") > F.lit(cut_ns))
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # TIMESTAMP(MICROS) parquet → TIMESTAMP_NTZ: compare against an NTZ
    # literal so the predicate stays on the stored column and pushes down.
    if ts_gt is not None:
        cut_lit = F.lit(dt.datetime.fromisoformat(ts_gt)).cast("timestamp_ntz")
        df = df.filter(F.col("ts") > cut_lit)
    return df.withColumn("ts", F.col("ts").cast("timestamp"))
