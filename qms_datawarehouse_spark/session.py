"""SparkSession factory.

UTC session timezone is load-bearing: the reference coerces every naive
timestamp to UTC on both read and write
(/root/reference/src/services/etl.py:97-110), and the DuckDB oracle
compares naive-UTC values. AQE is on so skewed joins/aggregations
re-plan at runtime — the 100 TB posture is "declare the plan, let the
optimizer adapt".

``spread`` (input parallelism for CPU-bound stages) lives here because
this module imports only os and pyspark: any operator module can
import it at module top, inside the package's circular-import window.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

_TUNING = {
    # Runtime re-planning: partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Parity with reference UTC coercion; also required for oracle match.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas-UDF path (vectorized, not row-at-a-time).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: pushdown + vectorized reader are defaults; keep
    # file partitions large enough to amortize task overhead at scale.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast threshold: dims (nation/region/customer/supplier at
    # test SF) stay broadcast; at 100 TB, facts never broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def apply_session_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an existing session.

    Used when the caller (e.g. the verify driver) owns session
    construction — runtime confs like the session timezone still need
    to be pinned for deterministic timestamp semantics.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def get_spark(
    app_name: str = "qms_datawarehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in _TUNING.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def inherit_local_properties(spark: SparkSession, fn: Callable) -> Callable:
    """``fn`` as a target for a pool thread that takes a copy of the
    CALLING thread's Spark local properties (job group, description,
    tags), captured now. Without it, jobs launched from pool threads
    lose the caller's job group.

    The copy is applied by pyspark's ``inheritable_thread_target`` in a
    call that returns before ``fn`` starts. Wrapping ``fn`` itself would
    leave a pyspark frame at the bottom of the thread's stack, where
    pyspark's call-site walker stops: every job would then be stamped
    with the executor's frame instead of the package line that
    launched it. Wrap once per submitted task, so tasks do not share
    one properties object."""
    adopt = inheritable_thread_target(spark)(lambda: None)

    def run(*args, **kwargs):
        adopt()
        return fn(*args, **kwargs)

    return run


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to cluster parallelism when the source arrived in
    fewer partitions (single small parquet file → one partition → any
    CPU-bound per-row stage runs on ONE core). Moves only the raw rows
    and only when needed; a multi-file corpus at scale already has
    ≥ parallelism partitions and skips the shuffle entirely.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # Fast path: FilePartition.maxSplitBytes caps a split at
    # bytesPerCore = (bytes + files*openCost) / defaultParallelism, so
    # N >= target uniform files pack into >= target*N/(N+target) splits
    # whatever maxPartitionBytes/openCostInBytes say — a source of
    # >= 32*target files scans as ~target partitions already (>= 97%),
    # and the x32 margin absorbs uneven file sizes. This skips the
    # `.rdd` probe below, which forces a full analyzed-plan -> RDD
    # translation per call — cheap on a raw scan but a real cost (and
    # an AQE bypass hazard) if a caller ever hands in a derived frame.
    # At 100 TB any fact table clears this bound.
    try:
        if len(df.inputFiles()) >= 32 * target:
            return df
    except Exception:
        pass  # non-file source — fall through to the physical probe
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
