"""Structured Streaming tests: foreachBatch keyed merge (incremental
stream → warehouse upsert) and watermarked window aggregation, driven
synchronously via processAllAvailable on a file source."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from qms_datawarehouse_spark.streaming.sync import (
    EVENTS_SCHEMA,
    stream_sync,
    windowed_counts_stream,
)


def _events_df(spark, rows):
    return spark.createDataFrame(rows, EVENTS_SCHEMA)


@pytest.fixture()
def stream_dirs(tmp_path):
    src = tmp_path / "src"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    return str(src), str(ckpt)


def test_stream_sync_upserts_across_batches(spark, warehouse, stream_dirs):
    src, ckpt = stream_dirs
    t = dt.datetime(2024, 1, 1, 10, 0, 0)

    batch1 = [
        (1, t, 100, "click", 1.0, '{"k": 1}'),
        (2, t + dt.timedelta(minutes=1), 101, "view", 2.0, None),
    ]
    _events_df(spark, batch1).write.parquet(f"{src}/b1")

    q = stream_sync(spark, f"{src}/*", warehouse, "events_synced", checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
        out1 = warehouse.read("events_synced")
        assert out1.count() == 2
        assert {"_source", "_synced_at"} <= set(out1.columns)

        # batch 2: one update (same event_id, newer ts), one insert
        batch2 = [
            (2, t + dt.timedelta(hours=1), 101, "purchase", 9.0, None),
            (3, t + dt.timedelta(hours=1), 102, "click", 3.0, None),
        ]
        _events_df(spark, batch2).write.parquet(f"{src}/b2")
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r["event_id"]: r for r in warehouse.read("events_synced").collect()}
    assert len(rows) == 3  # upsert: no duplicate event_id=2
    assert rows[2]["event_type"] == "purchase"  # last write won


def test_stream_resume_from_checkpoint(spark, warehouse, stream_dirs):
    src, ckpt = stream_dirs
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    _events_df(spark, [(1, t, 100, "click", 1.0, None)]).write.parquet(f"{src}/b1")

    q = stream_sync(spark, f"{src}/*", warehouse, "ev", checkpoint_dir=ckpt)
    q.processAllAvailable()
    q.stop()
    assert warehouse.read("ev").count() == 1

    # restart: old file must NOT replay (offsets committed); new file lands
    _events_df(spark, [(2, t, 101, "view", 2.0, None)]).write.parquet(f"{src}/b2")
    q2 = stream_sync(spark, f"{src}/*", warehouse, "ev", checkpoint_dir=ckpt)
    q2.processAllAvailable()
    q2.stop()

    out = warehouse.read("ev")
    assert out.count() == 2
    # had b1 replayed, the idempotent merge would still keep count at 2
    # (effectively-once), but _synced_at of row 1 would have advanced —
    # checkpoint prevents even the replay work.


def test_windowed_counts_with_watermark(spark, stream_dirs, tmp_path):
    src, _ = stream_dirs
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, t, 100, "click", 1.0, None),
        (2, t + dt.timedelta(minutes=30), 100, "click", 2.0, None),
        (3, t + dt.timedelta(hours=1, minutes=5), 101, "view", 3.0, None),
    ]
    _events_df(spark, rows).write.parquet(f"{src}/b1")

    agg = windowed_counts_stream(spark, f"{src}/*")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .start()
    )
    try:
        q.processAllAvailable()
        out = {
            (r["window_start"], r["event_type"]): r["n"]
            for r in spark.sql("SELECT * FROM win_out").collect()
        }
    finally:
        q.stop()
    assert out[(t, "click")] == 2
    assert out[(t + dt.timedelta(hours=1), "view")] == 1


def test_stateful_running_totals_across_batches(spark, stream_dirs):
    from qms_datawarehouse_spark.streaming.stateful import running_user_totals

    src, ckpt = stream_dirs
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    _events_df(spark, [
        (1, t, 100, "click", 1.0, None),
        (2, t + dt.timedelta(minutes=1), 100, "view", 2.5, None),
        (3, t, 200, "click", 10.0, None),
    ]).write.parquet(f"{src}/b1")

    totals = running_user_totals(spark, f"{src}/*")
    q = (
        totals.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .format("memory")
        .queryName("state_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: user 100 returns — state must carry the earlier 2 events
        _events_df(spark, [
            (4, t + dt.timedelta(hours=2), 100, "purchase", 4.0, None),
        ]).write.parquet(f"{src}/b2")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM state_out").collect()
    finally:
        q.stop()

    # memory sink in update mode appends each emitted update; the last
    # row per user is the current state
    latest = {}
    for r in rows:
        latest[r["user_id"]] = r
    assert latest[100]["n_events"] == 3
    assert latest[100]["total_value"] == pytest.approx(7.5)
    assert latest[100]["last_ts_us"] == int(
        (t + dt.timedelta(hours=2)).replace(tzinfo=dt.timezone.utc).timestamp() * 1e6
    )
    assert latest[200]["n_events"] == 1


def test_streaming_dedup_within_watermark(spark, stream_dirs):
    from qms_datawarehouse_spark.streaming.sync import deduped_stream

    src, ckpt = stream_dirs
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    # duplicate event_id=1 inside one batch + a replay in batch 2
    _events_df(spark, [
        (1, t, 100, "click", 1.0, None),
        (1, t, 100, "click", 1.0, None),
        (2, t + dt.timedelta(minutes=1), 101, "view", 2.0, None),
    ]).write.parquet(f"{src}/b1")

    q = (
        deduped_stream(spark, f"{src}/*")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        _events_df(spark, [
            (1, t, 100, "click", 1.0, None),  # replay across batches
            (3, t + dt.timedelta(minutes=2), 102, "click", 3.0, None),
        ]).write.parquet(f"{src}/b2")
        q.processAllAvailable()
        ids = sorted(
            r["event_id"] for r in spark.sql("SELECT * FROM dedup_out").collect()
        )
    finally:
        q.stop()
    assert ids == [1, 2, 3]  # both the in-batch and cross-batch dup collapsed


def test_stream_stream_interval_join(spark, stream_dirs):
    from qms_datawarehouse_spark.streaming.joins import clicks_with_purchases

    src, ckpt = stream_dirs
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    _events_df(spark, [
        (1, t, 100, "click", 0.0, None),
        (2, t + dt.timedelta(minutes=20), 100, "purchase", 9.5, None),   # in window
        (3, t + dt.timedelta(hours=2), 100, "purchase", 1.0, None),      # too late
        (4, t + dt.timedelta(minutes=10), 200, "purchase", 5.0, None),   # other user
        (5, t + dt.timedelta(minutes=5), 300, "click", 0.0, None),       # no purchase
    ]).write.parquet(f"{src}/b1")

    joined = clicks_with_purchases(spark, f"{src}/*")
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("memory")
        .queryName("ssj_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM ssj_out").collect()
    finally:
        q.stop()

    assert len(rows) == 1
    assert rows[0]["click_id"] == 1
    assert rows[0]["purchase_id"] == 2
    assert rows[0]["purchase_value"] == pytest.approx(9.5)


def test_native_session_window_stream(spark, stream_dirs):
    """T9 session windows in STREAMING mode via F.session_window —
    dynamic gap-based windows with watermark-bounded state (the batch
    twin is t9_sessionization)."""
    src, ckpt = stream_dirs
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    _events_df(spark, [
        (1, t, 100, "click", 1.0, None),
        (2, t + dt.timedelta(minutes=3), 100, "click", 1.0, None),   # same session
        (3, t + dt.timedelta(minutes=30), 100, "click", 1.0, None),  # new session
        (4, t + dt.timedelta(minutes=1), 200, "view", 1.0, None),
    ]).write.parquet(f"{src}/b1")

    from qms_datawarehouse_spark.streaming.sync import EVENTS_SCHEMA

    sessions = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(f"{src}/*")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n_events",
        )
    )
    q = (
        sessions.writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            (r["user_id"], r["session_start"]): r["n_events"]
            for r in spark.sql("SELECT * FROM sess_out").collect()
        }
    finally:
        q.stop()

    assert rows[(100, t)] == 2  # events 3 min apart merged into one session
    assert rows[(100, t + dt.timedelta(minutes=30))] == 1
    assert rows[(200, t + dt.timedelta(minutes=1))] == 1


def test_curation_ops_are_streaming_compatible(spark, stream_dirs):
    """The curation map-side operators (stratified sample, PII redact)
    are stateless column transforms, so the SAME functions compose
    into a readStream→transform→writeStream pipeline and produce the
    batch answer — the property that lets a crawl be curated on
    arrival instead of in a nightly sweep."""
    import os

    from qms_datawarehouse_spark.operators.curation import (
        redact_pii,
        stratified_sample,
    )

    src, ckpt = stream_dirs
    rows = [
        (i, f"doc {i} mail u{i}@ex.com", "en" if i % 2 else "de")
        for i in range(200)
    ]
    schema = "doc_id long, text string, lang string"
    batch_df = spark.createDataFrame(rows, schema)
    batch_df.write.parquet(f"{src}/b1")

    rates = {"en": 6000, "de": 2000}
    stream = spark.readStream.schema(schema).parquet(f"{src}/*")
    out_dir = os.path.join(os.path.dirname(ckpt), "out")
    q = (
        redact_pii(stratified_sample(stream, rates))
        .select("doc_id", "lang", "n_emails", "redacted")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        r.doc_id: r for r in spark.read.parquet(out_dir).collect()
    }
    expected = {
        r.doc_id: r
        for r in redact_pii(stratified_sample(batch_df, rates))
        .select("doc_id", "lang", "n_emails", "redacted")
        .collect()
    }
    assert set(streamed) == set(expected) and len(streamed) > 0
    for k in expected:
        assert streamed[k] == expected[k]
    # every kept row was scrubbed
    for r in streamed.values():
        assert r.n_emails == 1 and "<EMAIL>" in r.redacted


def test_transform_with_state_processor_logic():
    """The transformWithStateInPandas processor logic, driven against
    fake typed-state primitives (the real wire protocol needs
    protobuf, absent in this image — the streaming e2e below skips
    there; the fold logic is fully testable without it)."""
    import pandas as pd

    from qms_datawarehouse_spark.streaming.stateful import DistinctTypeTotals

    class FakeValue:
        def __init__(self):
            self.v = None
        def exists(self):
            return self.v is not None
        def get(self):
            return self.v
        def update(self, v):
            self.v = v

    class FakeMap:
        def __init__(self):
            self.d = {}
        def containsKey(self, k):
            return k in self.d
        def getValue(self, k):
            return self.d[k]
        def updateValue(self, k, v):
            self.d[k] = v
        def keys(self):
            return iter(self.d)

    class FakeHandle:
        def __init__(self):
            self.states = {}
        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.states.setdefault(name, FakeValue())
        def getMapState(self, name, ks, vs, ttlDurationMs=None):
            return self.states.setdefault(name, FakeMap())

    proc = DistinctTypeTotals()
    proc.init(FakeHandle())
    b1 = pd.DataFrame({"event_type": ["click", "view", "click"]})
    (out1,) = list(proc.handleInputRows((100,), iter([b1]), None))
    assert out1.iloc[0]["n_events"] == 3
    assert out1.iloc[0]["n_distinct_types"] == 2
    # second batch: repeat + new type — state carries over
    b2 = pd.DataFrame({"event_type": ["click", "purchase"]})
    (out2,) = list(proc.handleInputRows((100,), iter([b2]), None))
    assert out2.iloc[0]["n_events"] == 5
    assert out2.iloc[0]["n_distinct_types"] == 3


def test_transform_with_state_typed_primitives(spark, stream_dirs):
    """transformWithStateInPandas: ValueState + MapState survive the
    micro-batch boundary; distinct-type counts grow only on NEW
    types. Skips where the protobuf wire dependency is absent."""
    pytest.importorskip("google.protobuf.descriptor")
    from qms_datawarehouse_spark.streaming.stateful import distinct_type_totals

    src, ckpt = stream_dirs
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    _events_df(spark, [
        (1, t, 100, "click", 1.0, None),
        (2, t, 100, "view", 2.0, None),
        (3, t, 200, "click", 3.0, None),
    ]).write.parquet(f"{src}/b1")

    totals = distinct_type_totals(spark, f"{src}/*")
    q = (
        totals.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .format("memory")
        .queryName("tws_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a repeat type and a new type for user 100
        _events_df(spark, [
            (4, t, 100, "click", 4.0, None),
            (5, t, 100, "purchase", 5.0, None),
        ]).write.parquet(f"{src}/b2")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM tws_out").collect()
    finally:
        q.stop()

    latest = {}
    for r in rows:
        latest[r["user_id"]] = r
    assert latest[100]["n_events"] == 4
    assert latest[100]["n_distinct_types"] == 3  # click, view, purchase
    assert latest[200]["n_events"] == 1
    assert latest[200]["n_distinct_types"] == 1


def test_stream_split_sync_atomic_quarantine(spark, warehouse, stream_dirs):
    """Expectations-style split: valid rows upsert into the accept
    table, invalid into quarantine — published atomically per epoch
    (snapshot_versions resolves immediately ⇒ no torn window left)."""
    from qms_datawarehouse_spark.operators.transaction import snapshot_versions
    from qms_datawarehouse_spark.streaming.sync import stream_split_sync

    src, ckpt = stream_dirs
    t = dt.datetime(2024, 1, 1, 10, 0, 0)

    batch1 = [
        (1, t, 100, "click", 1.0, None),
        (2, t, 101, "view", -5.0, None),      # negative → quarantine
        (3, t, 102, "click", 2.0, None),
    ]
    _events_df(spark, batch1).write.parquet(f"{src}/b1")

    q = stream_split_sync(
        spark, f"{src}/*", warehouse, "ev_ok", "ev_bad",
        accept_predicate="value >= 0", checkpoint_dir=ckpt,
    )
    try:
        q.processAllAvailable()
        assert warehouse.read("ev_ok").count() == 2
        assert warehouse.read("ev_bad").count() == 1

        # epoch 2: fix event 2 (re-emitted positive) + one new bad row
        batch2 = [
            (2, t + dt.timedelta(hours=1), 101, "view", 5.0, None),
            (4, t + dt.timedelta(hours=1), 103, "click", -1.0, None),
        ]
        _events_df(spark, batch2).write.parquet(f"{src}/b2")
        q.processAllAvailable()
    finally:
        q.stop()

    ok = {r["event_id"] for r in warehouse.read("ev_ok").collect()}
    bad = {r["event_id"] for r in warehouse.read("ev_bad").collect()}
    assert ok == {1, 2, 3}
    # event 2's old bad row remains in quarantine history; event 4 joined it
    assert bad == {2, 4}
    # both tables committed through transactions: journal dir is clean
    snap = snapshot_versions(warehouse, ["ev_ok", "ev_bad"], timeout=1.0)
    assert set(snap) == {"ev_ok", "ev_bad"}


def test_stream_split_sync_keeps_rival_commit(spark, warehouse, stream_dirs):
    """A rival commit to the accept table, landing right after the
    epoch read that table, survives the epoch: the epoch stages against
    the version it read, so its commit fails the CAS and the retry
    merges over the rival's row instead of rewriting it away."""
    from unittest import mock

    from qms_datawarehouse_spark.operators.merge import with_bucket
    from qms_datawarehouse_spark.streaming.sync import stream_split_sync
    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    src, ckpt = stream_dirs
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    _events_df(spark, [(1, t, 100, "click", 1.0, None)]).write.parquet(f"{src}/b1")
    real_read = ParquetWarehouse.read
    fired = []

    def racing_read(self, table, *args, **kwargs):
        df = real_read(self, table, *args, **kwargs)
        if table == "ev_ok" and not fired:
            fired.append(table)
            rival = df.filter("event_id = 1").withColumn(
                "event_id", F.lit(99).cast("long")
            )
            part = self.partition_column(table)
            if part:  # route the rival row to its key's bucket
                rival = with_bucket(
                    rival, "event_id", self.read_meta(table)["n_buckets"]
                )
            self.write_version(
                table, df.unionByName(rival),
                partition_by=[part] if part else None,
            )
        return df

    q = stream_split_sync(
        spark, f"{src}/*", warehouse, "ev_ok", "ev_bad",
        accept_predicate="value >= 0", checkpoint_dir=ckpt,
    )
    try:
        q.processAllAvailable()
        _events_df(
            spark, [(2, t + dt.timedelta(hours=1), 101, "view", 2.0, None)]
        ).write.parquet(f"{src}/b2")
        with mock.patch.object(ParquetWarehouse, "read", racing_read):
            q.processAllAvailable()
    finally:
        q.stop()

    assert fired == ["ev_ok"]
    assert {r["event_id"] for r in warehouse.read("ev_ok").collect()} == {1, 2, 99}


def test_stream_split_sync_rebuckets_unbucketed_tables(spark, warehouse, stream_dirs):
    """Split tables written unpartitioned (no ``_bucket`` column, no
    table meta — the layout stream_split_sync wrote before it merged
    by key) keep syncing: an epoch rebuckets each table it touches
    whole, inside its commit, and later epochs merge incrementally."""
    from qms_datawarehouse_spark.operators.merge import DEFAULT_BUCKETS
    from qms_datawarehouse_spark.streaming.sync import stream_split_sync
    from qms_datawarehouse_spark.transform import clean_records

    src, ckpt = stream_dirs
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    later = t + dt.timedelta(hours=1)
    for table, rows in (
        ("ev_ok", [(1, t, 100, "click", 1.0, None), (3, t, 102, "click", 2.0, None)]),
        ("ev_bad", [(2, t, 101, "view", -5.0, None)]),
    ):
        warehouse.write_version(
            table, clean_records(_events_df(spark, rows), source_name="stream")
        )
        assert warehouse.partition_column(table) is None
    _events_df(
        spark,
        [(1, later, 100, "view", 7.0, None), (4, later, 103, "click", -1.0, None)],
    ).write.parquet(f"{src}/b1")

    q = stream_split_sync(
        spark, f"{src}/*", warehouse, "ev_ok", "ev_bad",
        accept_predicate="value >= 0", checkpoint_dir=ckpt,
    )
    try:
        q.processAllAvailable()
        for table in ("ev_ok", "ev_bad"):
            assert warehouse.partition_column(table) == "_bucket"
            assert warehouse.read_meta(table)["n_buckets"] == DEFAULT_BUCKETS
        _events_df(spark, [(5, later, 104, "click", 3.0, None)]).write.parquet(
            f"{src}/b2"
        )
        q.processAllAvailable()
    finally:
        q.stop()

    ok = {r["event_id"]: r["event_type"] for r in warehouse.read("ev_ok").collect()}
    assert ok == {1: "view", 3: "click", 5: "click"}
    assert warehouse.read("ev_ok").count() == 3
    assert sorted(r["event_id"] for r in warehouse.read("ev_bad").collect()) == [2, 4]
