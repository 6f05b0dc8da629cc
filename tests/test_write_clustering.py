"""Physical-layout contracts of the warehouse write paths (round 11).

Round 10 added a blanket repartition(partition_key) before every
partitioned write to kill the small-files pathology. That re-shuffle,
applied unconditionally, silently destroyed the clustering of callers
that had already arranged their layout — ``compact(sort_col=...)``'s
sortWithinPartitions (the row-group min/max skipping story) and any
explicitly-sized partitioning. These tests pin the contracts:

- compact's sort_col ordering survives into the committed files
  (every parquet file's sort column is monotone);
- write_time_partitioned writes with parallelism independent of the
  number of distinct dates (a hot day spans multiple files) and each
  file's ts column is monotone (intra-day row-group time skipping).
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from qms_datawarehouse_spark.warehouse import BUCKET_COL


def _parquet_files(vdir: str) -> list[str]:
    return glob.glob(os.path.join(vdir, "**", "*.parquet"), recursive=True)


def _file_column(path: str, col: str) -> list:
    return pq.read_table(path, columns=[col]).column(col).to_pylist()


def test_compact_sort_clustering_survives_commit(spark, warehouse):
    """compact(sort_col=...) promises rows sorted WITHIN each
    committed file so parquet min/max stats skip row groups on point
    lookups. The write path must not re-shuffle the sorted layout
    (the round-10 blanket repartition did, invisibly)."""
    from qms_datawarehouse_spark.operators.merge import merge_upsert

    # shuffled ids across several merges -> fragmented, unsorted files
    for lo in range(0, 200, 40):
        df = spark.createDataFrame(
            [{"_id": f"k{(j * 37) % 200:03d}", "v": j} for j in range(lo, lo + 40)]
        ).withColumn("updated_at", F.current_timestamp())
        merge_upsert(warehouse, "t", df, n_buckets=4)

    warehouse.compact("t", sort_col="_id")
    vdir = warehouse.current_version_dir("t")
    files = _parquet_files(vdir)
    assert files
    for f in files:
        ids = _file_column(f, "_id")
        assert ids == sorted(ids), f"file {f} lost its sort_col clustering"
    # consolidation contract unchanged: ~one file per bucket dir
    assert len(files) <= 4


def test_compact_fragmented_branch_keeps_sort_clustering(spark, warehouse):
    """Same contract through the only_fragmented partial-write path
    (write_version_partial's own clustering repartition must also
    yield to the caller's layout)."""
    import shutil

    from qms_datawarehouse_spark.operators.merge import merge_upsert

    for lo in range(0, 120, 30):
        df = spark.createDataFrame(
            [{"_id": f"k{(j * 53) % 120:03d}", "v": j} for j in range(lo, lo + 30)]
        ).withColumn("updated_at", F.current_timestamp())
        merge_upsert(warehouse, "t", df, n_buckets=4)

    # commits are key-clustered since round 10 (one file per bucket
    # dir), so fragmentation is manufactured: split one bucket's rows
    # into two unsorted files by hand
    vdir = warehouse.current_version_dir("t")
    bdir = os.path.join(vdir, f"{BUCKET_COL}=0")
    rows = spark.read.parquet(bdir).persist()
    rows.count()  # materialize the cache before the source files go
    half = rows.filter(F.crc32(F.col("_id")) % 2 == 0)
    rest = rows.filter(F.crc32(F.col("_id")) % 2 == 1)
    for fn in os.listdir(bdir):
        if fn.endswith(".parquet"):
            os.remove(os.path.join(bdir, fn))
    for i, part in enumerate((half, rest)):
        tmp = os.path.join(vdir, f"_frag_{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        for fn in os.listdir(tmp):
            if fn.endswith(".parquet"):
                os.rename(
                    os.path.join(tmp, fn),
                    os.path.join(bdir, f"part-frag-{i}.parquet"),
                )
        shutil.rmtree(tmp, ignore_errors=True)
    rows.unpersist()
    assert warehouse.fragmented_partitions("t") == ["0"]

    warehouse.compact("t", sort_col="_id", only_fragmented=True)
    vdir = warehouse.current_version_dir("t")
    for f in _parquet_files(vdir):
        ids = _file_column(f, "_id")
        assert ids == sorted(ids), f"file {f} lost its sort_col clustering"


def test_time_partitioned_hot_day_spans_multiple_files(spark, warehouse):
    """A backfill's write parallelism must scale with data volume, not
    with the number of distinct dates: range-clustering on (date, ts)
    splits a hot day across tasks (AQE sizes the spans), where hashing
    on the date alone would serialize it into one task and one
    potentially huge file."""
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    try:
        n = 40_000
        df = spark.range(n).select(
            F.col("id"),
            (
                F.lit("2024-03-01 00:00:00").cast("timestamp")
                + F.make_interval(secs=F.col("id").cast("double"))
            ).alias("ts"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        warehouse.write_time_partitioned("hot", df, ts_col="ts")
    finally:
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")

    vdir = warehouse.current_version_dir("hot")
    day_dir = os.path.join(vdir, "_event_date=2024-03-01")
    assert os.path.isdir(day_dir)
    files = [f for f in os.listdir(day_dir) if f.endswith(".parquet")]
    assert len(files) > 1, (
        "single hot date collapsed to one file — write parallelism is "
        "bound to the date count again"
    )
    # range-clustered: each file's ts is monotone and file spans are
    # disjoint (the intra-day row-group time-skipping contract)
    spans = []
    for f in files:
        ts = _file_column(os.path.join(day_dir, f), "ts")
        assert ts == sorted(ts), f"file {f} ts column not monotone"
        spans.append((ts[0], ts[-1]))
    spans.sort()
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo, "file ts spans overlap — range clustering lost"
    assert warehouse.read("hot").count() == n


def test_time_partitioned_quiet_days_still_prune(spark, warehouse):
    """Many small dates: every date still gets its own partition dir
    (directory pruning intact) and total rows survive the range
    clustering."""
    df = spark.range(300).select(
        F.col("id"),
        (
            F.lit("2024-03-01 12:00:00").cast("timestamp")
            + F.make_interval(days=F.pmod(F.col("id"), F.lit(10)))
        ).alias("ts"),
    )
    warehouse.write_time_partitioned("quiet", df, ts_col="ts")
    vdir = warehouse.current_version_dir("quiet")
    dirs = [d for d in os.listdir(vdir) if d.startswith("_event_date=")]
    assert len(dirs) == 10
    assert warehouse.read("quiet").count() == 300


def test_version_meta_commits_with_the_swap(spark, warehouse):
    """extra_meta lands INSIDE the version dir before the pointer
    swap: whichever version a reader resolves, its lineage meta is
    already there (the MV single-pointer-swap commit rides this)."""
    df = spark.range(10).select(
        F.col("id"), F.pmod(F.col("id"), F.lit(2)).alias(BUCKET_COL)
    )
    warehouse.write_version(
        "m", df, partition_by=[BUCKET_COL], extra_meta={"base": "v_a"}
    )
    assert warehouse.read_version_meta("m") == {"base": "v_a"}

    # partial write: meta travels with the NEW version; the old
    # version keeps its own
    v1 = warehouse.current_version_name("m")
    warehouse.write_version_partial(
        "m",
        df.filter(F.col(BUCKET_COL) == 0),
        [0],
        extra_meta={"base": "v_b"},
    )
    assert warehouse.read_version_meta("m") == {"base": "v_b"}
    assert warehouse.read_version_meta("m", version=v1) == {"base": "v_a"}

    # a version committed without extra_meta carries none
    warehouse.write_version("m2", spark.range(3).toDF("x"))
    assert warehouse.read_version_meta("m2") is None


def test_version_meta_crash_before_swap_is_invisible(spark, warehouse):
    """If the writer dies after staging data+meta but before the
    pointer swap, readers never see the new meta — data and lineage
    are atomic under the single swap."""
    df = spark.range(4).toDF("x")
    warehouse.write_version("c", df, extra_meta={"epoch": 1})

    from unittest import mock

    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    with mock.patch.object(
        ParquetWarehouse, "_commit", side_effect=RuntimeError("crash")
    ):
        with pytest.raises(RuntimeError, match="crash"):
            warehouse.write_version("c", df, extra_meta={"epoch": 2})
    assert warehouse.read_version_meta("c") == {"epoch": 1}


def test_staged_partitioned_version_is_clustered(spark, warehouse):
    """A version staged in a transaction gets write_version's
    clustering: about one file per partition dir, not one per
    upstream task in every dir."""
    from qms_datawarehouse_spark.operators.transaction import (
        MultiTableTransaction,
    )

    df = spark.range(0, 640, numPartitions=32).select(
        F.col("id"), F.pmod(F.col("id"), F.lit(4)).alias(BUCKET_COL)
    )
    txn = MultiTableTransaction(warehouse)
    txn.stage_write("staged", df, partition_by=[BUCKET_COL])
    txn.commit()
    vdir = warehouse.current_version_dir("staged")
    dirs = [d for d in os.listdir(vdir) if d.startswith(f"{BUCKET_COL}=")]
    assert len(dirs) == 4
    for d in dirs:
        files = [
            f for f in os.listdir(os.path.join(vdir, d)) if f.endswith(".parquet")
        ]
        assert len(files) <= 1, (d, files)
    assert warehouse.read("staged").count() == 640
