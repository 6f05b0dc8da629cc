"""~10x scale probe for the WRITE paths (the read-query twin is
tools/sf1_probe.py): seed warehouse state at 1x and ~10x fixture
scale, then time the SAME incremental write batch against both.

The claims under test (docs/SCALING.md):
- merge_upsert with a batch confined to one bucket is O(touched
  buckets). With the bucket count held fixed, a 10x corpus makes the
  one touched bucket 10x heavier (ratio ~10 is EXPECTED and still 64x
  cheaper than the all-bucket rewrite); with n_buckets scaled with
  the data (the production knob), per-bucket size is constant and the
  ratio should be ~1.
- apply_changes (CDC upserts + deletes) shares the bucket-pruned
  write path: same expectations.
- ingest_dedup with a fixed batch is O(batch): the index probe prunes
  to the batch's bv-buckets. Touched index partitions grow with the
  corpus, so mildly super-flat is acceptable; O(corpus) is not.
- refresh_bloom_index with ``touched`` recomputes only the touched
  buckets' bitmaps and must beat the full rebuild by ~n_buckets/
  touched at any scale.

Replica construction follows sf1_probe: key offsets keep joins and
bucket assignments consistent, document text is re-tokenized per
replica so the gate's near-dup structure scales linearly (shingle
counts invariant — see the r6 construction lesson).

Usage:
    python tools/write_probe.py [--factor 10] [--out FILE]
Prints one JSON line per op: {"op", "t_1x", "t_10x", "ratio"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
SEED_BUCKETS = 64
BATCH_ROWS = 200


def _orders(spark, sf_dir: str):
    from pyspark.sql import functions as F

    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        F.col("o_orderkey").alias("_id"),
        F.col("o_orderdate").cast("timestamp").alias("updated_at"),
        "o_custkey",
        "o_totalprice",
    )


def _docs(spark, sf_dir: str):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )


def _one_bucket_batch(orders, n_buckets: int):
    """BATCH_ROWS updated rows from the base replica, all hashing to
    bucket 0 of ``n_buckets`` — the clustered-delta shape incremental
    syncs produce."""
    from pyspark.sql import functions as F

    return (
        orders.filter(F.expr(f"pmod(xxhash64(_id), {n_buckets}) = 0"))
        .orderBy("_id")
        .limit(BATCH_ROWS)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1)
    )


def probe_merge(spark, sf_dir: str, n_buckets: int) -> float:
    import tempfile as tf

    from qms_datawarehouse_spark.operators.merge import merge_upsert
    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    root = tf.mkdtemp(prefix="wp_merge_")
    try:
        wh = ParquetWarehouse(spark, root)
        orders = _orders(spark, sf_dir)
        merge_upsert(wh, "t", orders, key="_id", n_buckets=n_buckets)
        batch = _one_bucket_batch(orders, n_buckets)
        batch.collect()  # materialize the batch outside the timer
        t0 = time.monotonic()
        merge_upsert(wh, "t", batch)
        return time.monotonic() - t0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def probe_apply_changes(spark, sf_dir: str, n_buckets: int) -> float:
    import tempfile as tf

    from pyspark.sql import functions as F

    from qms_datawarehouse_spark.operators.cdc import apply_changes
    from qms_datawarehouse_spark.operators.merge import merge_upsert
    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    root = tf.mkdtemp(prefix="wp_cdc_")
    try:
        wh = ParquetWarehouse(spark, root)
        orders = _orders(spark, sf_dir)
        merge_upsert(wh, "t", orders, key="_id", n_buckets=n_buckets)
        half = BATCH_ROWS // 2
        base = (
            orders.filter(F.expr(f"pmod(xxhash64(_id), {n_buckets}) = 0"))
            .orderBy("_id")
            .limit(BATCH_ROWS)
        )
        ups = base.limit(half).select(
            "_id",
            "updated_at",
            "o_custkey",
            (F.col("o_totalprice") + 1).alias("o_totalprice"),
            F.lit(1).cast("long").alias("_seq"),
            F.lit("upsert").alias("_op"),
        )
        dels = (
            base.subtract(base.limit(half))
            .select(
                "_id",
                "updated_at",
                "o_custkey",
                "o_totalprice",
                F.lit(1).cast("long").alias("_seq"),
                F.lit("delete").alias("_op"),
            )
        )
        changes = ups.unionByName(dels)
        changes.collect()
        t0 = time.monotonic()
        apply_changes(wh, "t", changes, key="_id")
        return time.monotonic() - t0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _probe_band_gate(spark, kernel, corpus, batch) -> float:
    """Seed a band gate's state directly from ``corpus`` (keyed corpus
    + bv-partitioned key index — identical to what batched admission
    leaves behind, without paying the untimed in-batch self-join),
    then time one fixed batch through the gate. The probe prunes to
    the batch's bv-partitions, so the claim under test is per-batch
    cost O(batch): touched index partitions grow mildly with the
    corpus; O(corpus) is not acceptable."""
    import tempfile as tf

    from pyspark.sql import functions as F

    from qms_datawarehouse_spark.operators.incremental_dedup import admit
    from qms_datawarehouse_spark.operators.merge import merge_upsert
    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    root = tf.mkdtemp(prefix="wp_gate_")
    try:
        wh = ParquetWarehouse(spark, root)
        corpus = kernel.project(corpus)
        feat = kernel.features(corpus, None)
        merge_upsert(
            wh,
            kernel.corpus_table,
            (corpus if kernel.keep_payload else feat).withColumn(
                "_id", F.col(kernel.id_col).cast("string")
            ),
            key="_id",
            order_col=None,
            n_buckets=SEED_BUCKETS,
        )
        wh.write_version(
            kernel.index_table,
            kernel.keys(feat).withColumn(kernel.part_col, kernel.part()),
            partition_by=[kernel.part_col],
        )
        batch.collect()
        t0 = time.monotonic()
        admit(wh, kernel, batch)
        return time.monotonic() - t0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _fresh_batch(spark, sf_dir: str, payload):
    """50 documents under new ids with ``payload(text)`` as content."""
    from pyspark.sql import functions as F

    return (
        _docs(spark, sf_dir)
        .orderBy("doc_id")
        .limit(50)
        .select((F.col("doc_id") + 10**12).alias("doc_id"), payload(F.col("text")))
    )


def probe_ingest(spark, sf_dir: str) -> float:
    """The MinHash gate; the fresh batch's novel token suffix means no
    near-dups, so every doc is admitted."""
    from pyspark.sql import functions as F

    from qms_datawarehouse_spark.operators.incremental_dedup import MINHASH_GATE

    batch = _fresh_batch(
        spark, sf_dir,
        lambda t: F.regexp_replace(t, r"(\S+)", "$1zz").alias("text"),
    )
    return _probe_band_gate(spark, MINHASH_GATE, _docs(spark, sf_dir), batch)


def _payloads(spark, sf_dir: str):
    from pyspark.sql import functions as F

    return _docs(spark, sf_dir).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("content")
    )


def probe_ingest_phash(spark, sf_dir: str) -> float:
    """The image-phash gate. The fresh batch's REVERSED text
    decorrelates the bigram bag (the hash (a*31+b)%256 does not
    commute with reversal), so it carries no constructed near-dups of
    its source docs."""
    from pyspark.sql import functions as F

    from qms_datawarehouse_spark.operators.phash_gate import IMAGE_GATE

    batch = _fresh_batch(
        spark, sf_dir,
        lambda t: F.encode(F.reverse(t), "UTF-8").alias("content"),
    )
    return _probe_band_gate(spark, IMAGE_GATE, _payloads(spark, sf_dir), batch)


def probe_ingest_audio(spark, sf_dir: str) -> float:
    """The phash probe under the AUDIO kernel (shared gate core,
    different fingerprint). Decorrelation transform differs from the
    image probe's REVERSAL because the 3-byte window SUM is
    commutative — a reversed payload has the IDENTICAL energy bag
    (Hamming 0, measured), so reversed batches would be 100%%
    constructed near-dups; a Caesar-13 letter rotation is non-linear
    on byte values (wrap) and measures min self-distance 13."""
    from pyspark.sql import functions as F

    from qms_datawarehouse_spark.operators.phash_gate import AUDIO_GATE

    alpha = "abcdefghijklmnopqrstuvwxyz"
    batch = _fresh_batch(
        spark, sf_dir,
        lambda t: F.encode(
            F.translate(t, alpha, alpha[13:] + alpha[:13]), "UTF-8"
        ).alias("content"),
    )
    return _probe_band_gate(spark, AUDIO_GATE, _payloads(spark, sf_dir), batch)


def probe_ingest_semantic(spark, sf_dir: str, k: int) -> float:
    """Seed the semantic-gate state (centroids + cell-partitioned
    corpus) directly — O(corpus), no untimed pair stage — then time
    one fixed 50-vector batch through ``ingest_semantic``. ``k`` is
    the cell count: held fixed, a 10x corpus makes every touched cell
    10x heavier (ratio ~10 EXPECTED — the documented fixed-K regime);
    scaled with the data (SemDeDup's own K ∝ N knob), per-cell volume
    is constant and the ratio should be ~flat."""
    import tempfile as tf

    from pyspark.sql import functions as F

    from qms_datawarehouse_spark.operators.kmeans_core import _km_quantized
    from qms_datawarehouse_spark.operators.semantic_gate import (
        CELL_COL,
        CENTROID_TABLE,
        CORPUS_TABLE,
        _cents_list,
        _members,
        ingest_semantic,
        train_semantic_centroids,
    )
    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    root = tf.mkdtemp(prefix="wp_semgate_")
    try:
        wh = ParquetWarehouse(spark, root)
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        q = _km_quantized(emb)
        cents = train_semantic_centroids(q, k=k)
        wh.write_version(CENTROID_TABLE, cents)
        mem = _members(emb, _cents_list(cents))
        wh.write_version(
            CORPUS_TABLE,
            mem.select(
                "vec_id", F.col("cid").alias(CELL_COL), "w", "nn"
            ),
            partition_by=[CELL_COL],
        )
        batch = (
            emb.orderBy("vec_id")
            .limit(50)
            .select(
                (F.col("vec_id") + 10**12).alias("vec_id"),
                F.reverse("embedding").alias("embedding"),
            )
        )
        batch.collect()
        t0 = time.monotonic()
        ingest_semantic(wh, batch)
        return time.monotonic() - t0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def probe_rollup_update(spark, sf_dir: str) -> float:
    """Time ONE fixed-batch update_rollups against a rollup state
    seeded from the full corpus — the O(touched days) maintenance
    claim. The REPLAY registry row's read-probe grows with the corpus
    by construction (it folds the whole corpus through the path); the
    scale property that matters is THIS one: a fixed delta's cost is
    independent of how much history the rollup already holds."""
    import tempfile as tf

    from pyspark.sql import functions as F

    from qms_datawarehouse_spark.operators.rollup_hypertable import (
        update_rollups,
    )
    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    root = tf.mkdtemp(prefix="wp_rollup_")
    try:
        wh = ParquetWarehouse(spark, root)
        events = spark.read.parquet(
            os.path.join(sf_dir, "events.parquet")
        ).select(
            "event_id", "ts", "user_id", "event_type",
            F.col("value").cast("double").alias("value"),
            F.col("props").cast("string").alias("props"),
        )
        update_rollups(wh, events)  # seed: the whole corpus's history
        # materialize the batch as LOCAL rows: the lazy orderBy+limit
        # plan scans the (scaled) corpus, and every action inside
        # update_rollups would re-execute it — timing the fixture,
        # not the maintenance path
        rows = events.orderBy("event_id").limit(BATCH_ROWS).collect()
        batch = spark.createDataFrame(rows, events.schema)
        t0 = time.monotonic()
        update_rollups(wh, batch)
        return time.monotonic() - t0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def probe_matview_refresh(spark, sf_dir: str, n_buckets: int,
                          mv_buckets: int | None = None) -> tuple[float, float]:
    """(incremental refresh sec, full recompute sec) after a
    one-bucket clustered update batch lands on the base table — the
    MV maintenance claim: refresh cost tracks TOUCHED buckets, the
    full recompute tracks the corpus."""
    import tempfile as tf

    from pyspark.sql import functions as F

    from qms_datawarehouse_spark.operators.matview import (
        create_matview,
        refresh_matview,
    )
    from qms_datawarehouse_spark.operators.merge import merge_upsert
    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    root = tf.mkdtemp(prefix="wp_mv_")
    try:
        wh = ParquetWarehouse(spark, root)
        base = spark.read.parquet(
            os.path.join(sf_dir, "events.parquet")
        ).select(
            F.col("event_id").cast("string").alias("_id"),
            F.col("event_type").alias("grp"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("amount"),
            F.col("ts").alias("updated_at"),
        )
        merge_upsert(wh, "f", base, n_buckets=n_buckets)
        create_matview(wh, "mv", "f", ["grp"], ["amount"],
                       n_buckets=mv_buckets)
        batch = (
            base.filter(F.expr(f"pmod(xxhash64(_id), {n_buckets}) = 0"))
            .orderBy("_id")
            .limit(BATCH_ROWS)
            .withColumn("amount", F.col("amount") + 1)
            .withColumn(
                "updated_at", F.col("updated_at") + F.expr("INTERVAL 1 DAY")
            )
        )
        batch.collect()  # materialize outside the timer
        merge_upsert(wh, "f", batch, n_buckets=n_buckets)
        t0 = time.monotonic()
        mode = refresh_matview(wh, "mv")
        t_inc = time.monotonic() - t0
        assert mode == "incremental", mode
        t0 = time.monotonic()
        create_matview(wh, "mv_full", "f", ["grp"], ["amount"])
        t_full = time.monotonic() - t0
        return t_inc, t_full
    finally:
        shutil.rmtree(root, ignore_errors=True)


def probe_bloom(spark, sf_dir: str) -> tuple[float, float]:
    """Returns (incremental_refresh_sec, full_rebuild_sec)."""
    import tempfile as tf

    from pyspark.sql import functions as F

    from qms_datawarehouse_spark.operators.merge import merge_upsert
    from qms_datawarehouse_spark.sources.bloomindex import (
        refresh_bloom_index,
    )
    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    root = tf.mkdtemp(prefix="wp_bloom_")
    try:
        wh = ParquetWarehouse(spark, root)
        orders = _orders(spark, sf_dir)
        merge_upsert(wh, "t", orders, key="_id", n_buckets=SEED_BUCKETS)
        t0 = time.monotonic()
        refresh_bloom_index(wh, "t", "_id")
        full = time.monotonic() - t0
        batch = _one_bucket_batch(orders, SEED_BUCKETS)
        merge_upsert(wh, "t", batch)
        t0 = time.monotonic()
        refresh_bloom_index(wh, "t", "_id", touched=[0])
        incr = time.monotonic() - t0
        return incr, full
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--out", default=None)
    ap.add_argument("--master", default="local[32]")
    ap.add_argument(
        "--ops",
        nargs="*",
        default=None,
        help="probe only these op names (default: all)",
    )
    args = ap.parse_args(argv)

    from qms_datawarehouse_spark.session import get_spark
    from tools.sf1_probe import build_scaled_dir

    spark = get_spark(
        "write-probe", master=args.master, shuffle_partitions=32
    )
    scaled = build_scaled_dir(spark, BASE, args.factor)

    results = []

    def wanted(op):
        return args.ops is None or op in args.ops

    def emit(op, t1, t10):
        row = {
            "op": op,
            "t_1x": round(t1, 2),
            f"t_{args.factor}x": round(t10, 2),
            "ratio": round(t10 / t1, 1) if t1 > 0 else None,
        }
        results.append(row)
        print(json.dumps(row), flush=True)

    try:
        if wanted("merge_partial_fixed_buckets"):
            emit(
                "merge_partial_fixed_buckets",
                probe_merge(spark, BASE, SEED_BUCKETS),
                probe_merge(spark, scaled, SEED_BUCKETS),
            )
        if wanted("merge_partial_scaled_buckets"):
            emit(
                "merge_partial_scaled_buckets",
                probe_merge(spark, BASE, SEED_BUCKETS),
                probe_merge(spark, scaled, SEED_BUCKETS * args.factor),
            )
        if wanted("apply_changes_one_bucket"):
            emit(
                "apply_changes_one_bucket",
                probe_apply_changes(spark, BASE, SEED_BUCKETS),
                probe_apply_changes(spark, scaled, SEED_BUCKETS),
            )
        if wanted("ingest_dedup_fixed_batch"):
            emit(
                "ingest_dedup_fixed_batch",
                probe_ingest(spark, BASE),
                probe_ingest(spark, scaled),
            )
        if wanted("matview_refresh_incremental") or wanted(
            "matview_full_recompute"
        ):
            mv1 = probe_matview_refresh(spark, BASE, SEED_BUCKETS)
            mv10 = probe_matview_refresh(spark, scaled, SEED_BUCKETS)
            emit("matview_refresh_incremental", mv1[0], mv10[0])
            emit("matview_full_recompute", mv1[1], mv10[1])
        if wanted("rollup_update_fixed_batch"):
            emit(
                "rollup_update_fixed_batch",
                probe_rollup_update(spark, BASE),
                probe_rollup_update(spark, scaled),
            )
        if wanted("matview_refresh_bucketed"):
            # round-11 layout: the MV itself is hash-partitioned on
            # its group key and refresh rewrites only delta-touched
            # MV buckets — for a fixed batch the cost must stay flat
            # as the corpus (and the MV's untouched majority) grows
            emit(
                "matview_refresh_bucketed",
                probe_matview_refresh(spark, BASE, SEED_BUCKETS,
                                      mv_buckets=32)[0],
                probe_matview_refresh(spark, scaled, SEED_BUCKETS,
                                      mv_buckets=32)[0],
            )
        if wanted("ingest_semantic_fixed_k"):
            emit(
                "ingest_semantic_fixed_k",
                probe_ingest_semantic(spark, BASE, 8),
                probe_ingest_semantic(spark, scaled, 8),
            )
        if wanted("ingest_semantic_scaled_k"):
            emit(
                "ingest_semantic_scaled_k",
                probe_ingest_semantic(spark, BASE, 8),
                probe_ingest_semantic(spark, scaled, 8 * args.factor),
            )
        if wanted("ingest_phash_fixed_batch"):
            emit(
                "ingest_phash_fixed_batch",
                probe_ingest_phash(spark, BASE),
                probe_ingest_phash(spark, scaled),
            )
        if wanted("ingest_audio_fixed_batch"):
            emit(
                "ingest_audio_fixed_batch",
                probe_ingest_audio(spark, BASE),
                probe_ingest_audio(spark, scaled),
            )
        if wanted("bloom_refresh_incremental") or wanted(
            "bloom_rebuild_full"
        ):
            i1, f1 = probe_bloom(spark, BASE)
            i10, f10 = probe_bloom(spark, scaled)
            emit("bloom_refresh_incremental", i1, i10)
            emit("bloom_rebuild_full", f1, f10)
    finally:
        shutil.rmtree(scaled, ignore_errors=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(
                {"factor": args.factor, "base": BASE, "results": results}, f
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
