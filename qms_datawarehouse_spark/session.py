"""SparkSession factory.

UTC session timezone is load-bearing: the reference coerces every naive
timestamp to UTC on both read and write
(/root/reference/src/services/etl.py:97-110), and the DuckDB oracle
compares naive-UTC values. AQE is on so skewed joins/aggregations
re-plan at runtime — the 100 TB posture is "declare the plan, let the
optimizer adapt".
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import SparkSession
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
