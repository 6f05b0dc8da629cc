"""The event-log parser and the span-to-module attribution, on a tiny
traced run and on hand-made inputs."""

from __future__ import annotations

import pytest

from perfbench import eventlog
from perfbench.trace import Tracer, stamp_writer_call_sites


def test_module_of_call_site():
    site = "collect at /x/qms_datawarehouse_spark/operators/merge.py:195"
    assert eventlog.module_of_call_site(site) == "operators.merge"
    assert eventlog.module_of_call_site("save at /x/qms_datawarehouse_spark/warehouse.py:9") == "warehouse"
    assert eventlog.module_of_call_site("collect at /x/qms_datawarehouse_spark/plans/analytics.py:1") == "plans"
    assert eventlog.module_of_call_site("collect at /x/qms_datawarehouse_spark/operators/textops.py:1") == "other"
    assert eventlog.module_of_call_site("collect at /x/perfbench/sync.py:80") is None
    assert eventlog.module_of_call_site("save at NativeMethodAccessorImpl.java:0") is None


def test_covered_and_self_times():
    assert eventlog.covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    spans = [
        {"id": 0, "name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "child", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "child", "parent": 0, "start": 3.0, "end": 6.0},
    ]
    assert eventlog.self_times(spans) == pytest.approx({"op": 5.0, "child": 6.0})


def test_read_events_stops_at_a_cut_last_line(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text('{"Event": "A"}\n\n{"Event": "B"}\n{"Eve', encoding="utf-8")
    (app / "appstatus_local-1").write_text("", encoding="utf-8")
    assert [e["Event"] for e in eventlog.read_events(str(tmp_path))] == ["A", "B"]


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkContext._active_spark_context is not None:
        pytest.skip("needs its own SparkContext with the event log on")
    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(log_dir))
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    yield spark, str(log_dir)
    spark.stop()


def test_parser_reads_a_tiny_traced_run(traced_spark, tmp_path):
    from pyspark.sql import functions as F

    from qms_datawarehouse_spark.operators.merge import merge_upsert
    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    spark, log_dir = traced_spark
    tracer = Tracer(spark.sparkContext)
    stamp_writer_call_sites(spark.sparkContext)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    rows = spark.range(200).select(
        F.col("id").cast("string").alias("_id"), F.lit(1).alias("v"), F.current_timestamp().alias("updated_at")
    )
    with tracer.span("op.merge", op=0):
        with tracer.span("merge.upsert", module="operators.merge"):
            merge_upsert(wh, "t", rows, n_buckets=4)
    spark.range(10).collect()  # outside every span
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    spans = tracer.dump()
    jobs = eventlog.attribute(eventlog.parse_jobs(eventlog.read_events(log_dir)), spans)
    assert jobs and all(j.end >= j.start for j in jobs)
    in_span = [j for j in jobs if j.span == 1]
    assert in_span, "jobs launched inside the span carry its job group"
    assert {j.module for j in in_span} >= {"operators.merge", "warehouse"}
    assert sum(j.tasks for j in in_span) > 0 and sum(j.executor_s for j in in_span) > 0
    assert any(j.span is None for j in jobs), "the job outside every span stays unattributed"
