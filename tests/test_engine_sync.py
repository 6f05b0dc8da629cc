"""E2E incremental-sync tests.

Mirrors the reference's e2e test intent
(/root/reference/tests/test_sync.py:10-46): seed docs incl. nulls and
a nested dict → sync → assert counts/checkpoint/values → re-sync delta
→ assert upsert, no dup, checkpoint advance. Containers are replaced
by local parquet.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from qms_datawarehouse_spark.engine import sync_dataframe
from qms_datawarehouse_spark.operators import checkpoint, history

EMPLOYEES_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("role", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
        T.StructField("updated_at", T.TimestampType()),
    ]
)


def _seed(spark):
    rows = [
        ("1", "Alice", "engineer", {"foo": "bar"}, dt.datetime(2024, 1, 1, 10)),
        ("2", "Bob", None, None, dt.datetime(2024, 1, 1, 11)),
        ("3", "Charlie", "manager", None, dt.datetime(2024, 1, 1, 11)),
    ]
    return spark.createDataFrame(rows, EMPLOYEES_SCHEMA)


def test_initial_sync(spark, warehouse):
    res = sync_dataframe(warehouse, _seed(spark), "mongo://a", "employees")
    assert res.records_synced == 3
    assert "Synced 3 rows" in res.message

    out = warehouse.read("employees")
    assert out.count() == 3
    # order-insensitive value check, same spirit as the reference's
    # sorted(names) == [...] (tests/test_sync.py:45-46)
    assert sorted(r["name"] for r in out.collect()) == ["Alice", "Bob", "Charlie"]
    # nested dict flattened to a JSON string column
    metas = {r["_id"]: r["meta"] for r in out.collect()}
    assert metas["1"] == '{"foo":"bar"}'
    assert metas["2"] is None
    # lineage columns exist
    assert {"_source", "_synced_at"} <= set(out.columns)
    # checkpoint row written
    assert checkpoint.get_last_synced(warehouse, "mongo://a", "employees") == dt.datetime(
        2024, 1, 1, 11
    )


def test_resync_is_noop_and_delta_upserts(spark, warehouse):
    sync_dataframe(warehouse, _seed(spark), "mongo://a", "employees")
    # strict $gt: same data again → nothing to do (T2/P1 parity)
    res2 = sync_dataframe(warehouse, _seed(spark), "mongo://a", "employees")
    assert res2.records_synced == 0
    assert warehouse.read("employees").count() == 3

    # delta batch: one update (same _id), one insert
    rows = [
        ("2", "Bob2", "lead", None, dt.datetime(2024, 1, 2, 9)),
        ("4", "Dana", None, {"x": "y"}, dt.datetime(2024, 1, 2, 9)),
    ]
    delta = spark.createDataFrame(rows, EMPLOYEES_SCHEMA)
    res3 = sync_dataframe(warehouse, delta, "mongo://a", "employees")
    assert res3.records_synced == 2

    out = {r["_id"]: r for r in warehouse.read("employees").collect()}
    assert len(out) == 4  # upsert: no duplicate _id=2
    assert out["2"]["name"] == "Bob2"
    assert checkpoint.get_last_synced(warehouse, "mongo://a", "employees") == dt.datetime(
        2024, 1, 2, 9
    )


def test_in_batch_dedup_last_write_wins(spark, warehouse):
    rows = [
        ("1", "old", None, None, dt.datetime(2024, 1, 1, 10)),
        ("1", "new", None, None, dt.datetime(2024, 1, 1, 12)),
    ]
    df = spark.createDataFrame(rows, EMPLOYEES_SCHEMA)
    sync_dataframe(warehouse, df, "src", "t")
    out = warehouse.read("t").collect()
    assert len(out) == 1
    assert out[0]["name"] == "new"


def test_schema_evolution_on_merge(spark, warehouse):
    sync_dataframe(warehouse, _seed(spark), "src", "t")
    evolved = T.StructType(
        EMPLOYEES_SCHEMA.fields + [T.StructField("badge", T.StringType())]
    )
    rows = [("5", "Eve", None, None, dt.datetime(2024, 2, 1), "B-5")]
    sync_dataframe(warehouse, spark.createDataFrame(rows, evolved), "src", "t")
    out = {r["_id"]: r for r in warehouse.read("t").collect()}
    assert out["5"]["badge"] == "B-5"
    assert out["1"]["badge"] is None  # old rows null-extended


def test_failure_leaves_failed_history(spark, warehouse):
    df = _seed(spark)
    with pytest.raises(Exception):
        # missing cursor column → hard failure (no silent fallback)
        sync_dataframe(warehouse, df.drop("updated_at"), "src", "t")
    statuses = [r["status"] for r in history.read_history(warehouse).collect()]
    assert "FAILED" in statuses


def test_multi_source_fan_in(spark, warehouse):
    from qms_datawarehouse_spark.engine import sync_all

    a = _seed(spark)
    rows = [("9", "Zed", None, None, dt.datetime(2024, 1, 5))]
    b = spark.createDataFrame(rows, EMPLOYEES_SCHEMA)
    results = sync_all(warehouse, {"src_a": a, "src_b": b}, "employees")
    assert [r.records_synced for r in results] == [3, 1]
    out = warehouse.read("employees")
    assert out.count() == 4
    # independent checkpoints per source (T7)
    assert checkpoint.get_last_synced(warehouse, "src_a", "employees") is not None
    assert checkpoint.get_last_synced(warehouse, "src_b", "employees") == dt.datetime(
        2024, 1, 5
    )


def test_ge_dedup_mode_recovers_equal_timestamp_straggler(spark, warehouse):
    """T5: strict $gt loses a row that lands with ts == checkpoint
    after the sync; ge_dedup re-reads the boundary and the keyed merge
    collapses the replay."""
    import datetime as dt

    from pyspark.sql import functions as F

    from qms_datawarehouse_spark.config import Settings
    from qms_datawarehouse_spark.engine import sync_dataframe

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    batch1 = spark.createDataFrame(
        [{"_id": "a", "v": 1}], "`_id` string, v long"
    ).withColumn("updated_at", F.lit(t).cast("timestamp"))
    sync_dataframe(warehouse, batch1, "s", "straggler")

    # a second row commits with the SAME timestamp after the first sync
    batch2 = spark.createDataFrame(
        [{"_id": "a", "v": 1}, {"_id": "b", "v": 2}], "`_id` string, v long"
    ).withColumn("updated_at", F.lit(t).cast("timestamp"))

    strict = sync_dataframe(warehouse, batch2, "s", "straggler")
    assert strict.records_synced == 0  # reference semantics: lost

    ge = sync_dataframe(
        warehouse, batch2, "s", "straggler", settings=Settings(delta_mode="ge_dedup")
    )
    assert ge.records_synced == 2  # boundary re-read
    rows = {r["_id"]: r["v"] for r in warehouse.read("straggler").collect()}
    assert rows == {"a": 1, "b": 2}  # replayed 'a' collapsed by the merge


def test_sync_all_isolates_per_source_failure(spark, warehouse):
    """T7: a failing source must not block the remaining sources
    (reference isolates per-pair exceptions, main.py:40-43)."""
    from qms_datawarehouse_spark.engine import sync_all

    good = _seed(spark)
    bad = good.drop("updated_at")  # cursor missing -> hard failure
    results = sync_all(
        warehouse, {"bad_src": bad, "good_src": good}, "iso"
    )
    assert len(results) == 2
    assert results[0].records_synced == 0
    assert results[0].message.startswith("FAILED")
    assert results[1].records_synced == good.count()
    assert warehouse.read("iso").count() == good.count()
    statuses = [r["status"] for r in history.read_history(warehouse).collect()]
    assert "FAILED" in statuses and "SUCCESS" in statuses


def test_string_cursor_column_is_coerced_to_timestamp(spark, warehouse):
    """JSON sources surface ISO-8601 cursors as strings (Spark's JSON
    reader does not infer timestamps). The sync path must coerce: the
    checkpoint is TimestampType and the stored table should carry a
    typed cursor like the reference's TIMESTAMP column."""
    schema = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("v", T.LongType()),
            T.StructField("updated_at", T.StringType()),
        ]
    )
    batch = spark.createDataFrame(
        [("a1", 1, "2024-01-01T00:00:00Z"), ("a2", 2, "2024-01-02T00:00:00Z")],
        schema,
    )
    res = sync_dataframe(warehouse, batch, "json://f", "t")
    assert res.records_synced == 2
    assert checkpoint.get_last_synced(warehouse, "json://f", "t") == dt.datetime(
        2024, 1, 2
    )
    stored = warehouse.read("t")
    assert isinstance(stored.schema["updated_at"].dataType, T.TimestampType)

    # delta batch updates a2 — no duplicate key, value replaced
    delta = spark.createDataFrame(
        [("a2", 99, "2024-01-03T00:00:00Z")], schema
    )
    sync_dataframe(warehouse, delta, "json://f", "t")
    out = warehouse.read("t")
    assert out.count() == 2
    assert out.filter("_id = 'a2'").first()["v"] == 99
    assert checkpoint.get_last_synced(warehouse, "json://f", "t") == dt.datetime(
        2024, 1, 3
    )


def test_offset_string_cursor_is_compared_temporally(spark, warehouse):
    """Round-13 audit: the cursor cast must happen BEFORE the delta
    filter. Filtering the raw string column compared cursors
    LEXICOGRAPHICALLY against the checkpoint's isoformat — an offset
    cursor '2024-01-01T23:30:00-02:00' (= 2024-01-02T01:30 UTC) sorts
    before a '2024-01-02T00:00:00' checkpoint string and the row was
    silently LOST. Temporal comparison must sync it."""
    schema = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("v", T.LongType()),
            T.StructField("updated_at", T.StringType()),
        ]
    )
    first = spark.createDataFrame(
        [("a1", 1, "2024-01-02T00:00:00Z")], schema
    )
    sync_dataframe(warehouse, first, "json://o", "t_off")
    assert checkpoint.get_last_synced(
        warehouse, "json://o", "t_off"
    ) == dt.datetime(2024, 1, 2)

    # temporally LATER than the checkpoint, lexicographically EARLIER
    delta = spark.createDataFrame(
        [("a2", 2, "2024-01-01T23:30:00-02:00")], schema
    )
    res = sync_dataframe(warehouse, delta, "json://o", "t_off")
    assert res.records_synced == 1, "offset-cursor row was lost"
    out = warehouse.read("t_off")
    assert out.count() == 2
    assert checkpoint.get_last_synced(
        warehouse, "json://o", "t_off"
    ) == dt.datetime(2024, 1, 2, 1, 30)


def test_set_last_synced_accepts_iso_string(spark, warehouse):
    checkpoint.set_last_synced(warehouse, "s", "c", "2024-05-06T07:08:09Z")
    assert checkpoint.get_last_synced(warehouse, "s", "c") == dt.datetime(
        2024, 5, 6, 7, 8, 9
    )


def test_register_views_enables_plain_sql(spark, warehouse):
    sync_dataframe(warehouse, _seed(spark), "mongo://a", "employees")
    names = warehouse.register_views()
    assert "employees" in names and "sync_metadata" in names
    n = spark.sql("SELECT count(*) AS n FROM employees").first()["n"]
    assert n == 3
    # joins across warehouse tables work in plain SQL
    joined = spark.sql(
        "SELECT e.name FROM employees e "
        "JOIN sync_metadata m ON m.collection_name = 'employees'"
    )
    assert joined.count() == 3


def test_bookkeeping_runs_no_spark_job_and_round_trips(
    spark, warehouse, jobs_in_group
):
    """History rows and checkpoint marks are written and read on the
    driver; Spark readers still see the declared timestamp columns,
    microsecond-exact, with NULL kept NULL."""
    started = dt.datetime(2024, 3, 4, 5, 6, 7, 891011)
    done = dt.datetime(2024, 3, 4, 5, 7, 0, 1)
    mark = dt.datetime(2024, 5, 6, 7, 8, 9, 123457)
    with jobs_in_group("bookkeeping") as jobs:
        history.record(warehouse, "s", "c", "STARTED", started)
        history.record(
            warehouse, "s", "c", "SUCCESS", started,
            completed_at=done, records_synced=7, message="ok",
        )
        checkpoint.set_last_synced(warehouse, "s", "c", mark)
        checkpoint.set_last_synced(
            warehouse, "s", "d", "2024-05-06T09:08:09.5+02:00"
        )
        assert checkpoint.get_last_synced(warehouse, "s", "c") == mark
        assert checkpoint.get_last_synced(warehouse, "s", "missing") is None
    assert jobs == []

    hist = history.read_history(warehouse)
    assert dict(hist.dtypes)["started_at"] == "timestamp"
    rows = {r.status: r for r in hist.collect()}
    assert rows["STARTED"].started_at == started
    assert rows["STARTED"].completed_at is None
    assert rows["SUCCESS"].completed_at == done
    assert (rows["SUCCESS"].records_synced, rows["SUCCESS"].message) == (7, "ok")

    ckpt = warehouse.read(checkpoint.TABLE)
    assert dict(ckpt.dtypes)["last_synced_at"] == "timestamp"
    assert {r.collection_name: r.last_synced_at for r in ckpt.collect()} == {
        "c": mark,
        "d": dt.datetime(2024, 5, 6, 7, 8, 9, 500000),
    }


def test_sync_collections_atomic_writes_one_bookkeeping_file_per_phase(
    spark, warehouse
):
    """Three collections: one STARTED file, one SUCCESS file, two rows
    per collection, and every advanced mark in one checkpoint version."""
    from qms_datawarehouse_spark.engine import sync_collections_atomic

    def mk(rows):
        return spark.createDataFrame(
            rows, "_id string, v string, updated_at timestamp"
        )

    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1, 0, 0, 0, 42)
    frames = {c: mk([(f"{c}-1", "v", t1)]) for c in ("rat", "tix", "usr")}
    for c in frames:
        sync_dataframe(warehouse, mk([(f"{c}-0", "seed", t0)]), "seed", c)
    log = os.path.join(warehouse.root, history.TABLE + "_log")
    files_before = len(os.listdir(log))
    versions_before = len(warehouse.list_versions(checkpoint.TABLE))

    sync_collections_atomic(warehouse, frames, "prod")

    assert len(os.listdir(log)) == files_before + 2
    new = history.read_history(warehouse).filter("source = 'prod'").collect()
    assert Counter((r.collection, r.status) for r in new) == {
        (c, s): 1 for c in frames for s in ("STARTED", "SUCCESS")
    }
    assert len(warehouse.list_versions(checkpoint.TABLE)) == versions_before + 1
    assert checkpoint.get_marks(warehouse, "prod") == {c: t1 for c in frames}


def test_checkpoint_reads_spark_written_int96_version(spark, warehouse):
    """A checkpoint version written by Spark (INT96 timestamps, Spark's
    parquet default) reads back the same marks through the driver-side
    reader, and a batched advance keeps the other collections' marks."""
    ts = [dt.datetime(2024, 1, 2, 3, 4, 5, 678901 + i) for i in range(5)]
    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        warehouse.write_version(
            checkpoint.TABLE,
            spark.createDataFrame(
                [("s", "c1", ts[0]), ("s", "c2", ts[1]), ("o", "c1", ts[2])],
                checkpoint.SCHEMA,
            ),
        )
    finally:
        spark.conf.set(key, old)
    vdir = warehouse.current_version_dir(checkpoint.TABLE)
    part = next(f for f in os.listdir(vdir) if f.endswith(".parquet"))
    col = pq.ParquetFile(os.path.join(vdir, part)).schema.column(2)
    assert col.physical_type == "INT96"

    assert checkpoint.get_marks(warehouse, "s") == {"c1": ts[0], "c2": ts[1]}
    checkpoint.set_marks(warehouse, "s", {"c2": ts[3], "c3": ts[4]})
    assert checkpoint.get_marks(warehouse, "s") == {
        "c1": ts[0], "c2": ts[3], "c3": ts[4],
    }
    assert checkpoint.get_marks(warehouse, "o") == {"c1": ts[2]}
    assert {
        (r.source_uri, r.collection_name): r.last_synced_at
        for r in warehouse.read(checkpoint.TABLE).collect()
    } == {
        ("s", "c1"): ts[0], ("s", "c2"): ts[3], ("s", "c3"): ts[4],
        ("o", "c1"): ts[2],
    }
