"""Sources: parquet fixtures + semi-structured JSON ingestion.

Reference parity:
- format sniffing (first non-space byte ``[`` → top-level JSON array,
  else NDJSON) mirrors /root/reference/dump.py:34-45 (S5);
- per-record error tolerance (bad lines logged + skipped,
  dump.py:125-143) becomes Spark PERMISSIVE mode with a
  ``_corrupt_record`` column (S4, S6);
- the giant-array streaming parse (ijson, dump.py:117-122) becomes
  ``multiLine`` JSON (S3) — Spark splits work per file; at 100 TB the
  data arrives as many files, so parallelism is per-file, and NDJSON
  (splittable within a file) is the preferred landing format.

All fixture tables are parquet (columnar scan, predicate pushdown,
column pruning — verified via ``.explain`` showing PushedFilters /
ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_fixture(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver fixture table (columnar parquet scan)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_fixtures(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or FIXTURE_TABLES
    return {n: load_fixture(spark, sf_dir, n) for n in names}


def detect_json_format(path: str) -> str:
    """Peek at the first non-whitespace byte: ``[`` → one top-level JSON
    array ("array"), anything else → line-delimited JSON ("lines").

    Parity: /root/reference/dump.py:34-45. Driver-side helper — it reads
    one byte, never data-sized content.
    """
    with open(path, "rb") as f:
        while True:
            chunk = f.read(4096)
            if not chunk:
                return "lines"
            for b in chunk:
                if b in b" \t\r\n":
                    continue
                return "array" if b == ord("[") else "lines"


def read_json_auto(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Read a JSON file of either shape with per-record error tolerance.

    PERMISSIVE mode routes malformed records into ``corrupt_col``
    instead of failing the scan — the Spark analog of the reference's
    "log first N errors, keep going" policy (dump.py:71-77, 105-112).
    Callers drop bad rows with :func:`valid_records`.
    """
    fmt = detect_json_format(path)
    reader = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    if fmt == "array":
        reader = reader.option("multiLine", "true")
    if schema is not None:
        if corrupt_col not in schema.fieldNames():
            schema = schema.add(T.StructField(corrupt_col, T.StringType(), True))
        reader = reader.schema(schema)
    return reader.json(path)


def valid_records(df: DataFrame, corrupt_col: str = "_corrupt_record") -> DataFrame:
    """Filter to well-formed records, dropping the corrupt column.

    Spark analog of the reference's isinstance(record, dict) validation
    filter (dump.py:73-76).
    """
    if corrupt_col in df.columns:
        df = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    return df


def corrupt_count(df: DataFrame, corrupt_col: str = "_corrupt_record") -> int:
    """Count malformed source records (reference logs an error summary,
    dump.py:105-112).

    Spark disallows queries that reference *only* the internal corrupt
    column of a raw JSON scan (UNSUPPORTED_FEATURE.QUERY_ONLY_
    CORRUPT_RECORD_COLUMN), so count over a cached parse instead.
    """
    if corrupt_col not in df.columns:
        return 0
    df = df.cache()
    try:
        return df.filter(F.col(corrupt_col).isNotNull()).count()
    finally:
        df.unpersist()


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star text corpus (doc_id, text, lang, source, n_chars)."""
    return load_fixture(spark, sf_dir, "documents")


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> list[str]:
    """Register every fixture table as a temp view so plain
    ``spark.sql`` works — the reference's users query the warehouse in
    raw SQL (PostgreSQL); this is the equivalent front door here.
    Views are lazy: registration reads only parquet footers.
    """
    from qms_datawarehouse_spark.plans.registry import tables as _load

    names = [
        f[: -len(".parquet")]
        for f in sorted(os.listdir(sf_dir))
        if f.endswith(".parquet")
    ]
    for n in names:
        (df,) = _load(spark, sf_dir, n)
        df.createOrReplaceTempView(prefix + n)
    return [prefix + n for n in names]
