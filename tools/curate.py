"""Corpus-curation CLI — the end-to-end training-data pipeline over a
documents table, composed from the verified kernels and written back
to the warehouse as versioned tables.

Stages (each optional, all map-side or single-shuffle — see
docs/SCALING.md "Curation layer"):

0. text normalization (``--normalize``; Unicode NFC + control strip +
   whitespace collapse — BEFORE anything hashes text, so
   equal-looking documents are byte-equal for the dedup stage)
1. stratified sample  (``--rates en=8000,de=5000``)
2. PII redaction      (``--redact``; text column replaced by the scrub)
3. exact dedup        (``--dedup``; lowest doc_id per content hash)
4. split assignment   (``--split``; deterministic 90/5/5)
5. sequence packing   (``--pack-budget 2048``; writes a second table
   ``{out}_sequences`` with the (shard, seq) → docs layout)
6. profile report     (``--profile``; one-scan column statistics of
   the published table, printed per column)
7. admission gates    (``--ingest-gate``: text MinHash near-dup gate;
   ``--phash-gate``: image perceptual-hash gate over the binary
   payload — both maintain their warehouse state tables and compose,
   phash filtering first)

Usage:
    python tools/curate.py --input /root/testdata/sf0.01/documents.parquet \
        --warehouse /tmp/wh --out curated \
        --rates en=8000,de=5000,es=2500,fr=2500,zh=1000 \
        --redact --dedup --split --pack-budget 2048
"""

from __future__ import annotations

import argparse
import sys

sys.path.insert(0, ".")


def main(argv: list[str] | None = None) -> int:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from qms_datawarehouse_spark.operators.curation import (
        _K_ANON,
        assign_split,
        pack_sequences,
        redact_pii,
        stratified_sample,
    )
    from qms_datawarehouse_spark.operators.incremental_dedup import ingest_dedup
    from qms_datawarehouse_spark.operators.phash_gate import (
        ingest_audio_fingerprint,
        ingest_image_phash,
    )
    from qms_datawarehouse_spark.session import get_spark
    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--warehouse", required=True, help="warehouse root dir")
    ap.add_argument("--out", default="curated", help="output table name")
    ap.add_argument("--rates", default=None, help="lang=bp,... sample rates")
    ap.add_argument(
        "--quality-sample",
        action="store_true",
        help="importance sampling: keep each doc with probability "
        "proportional to its (capped) length score — deterministic "
        "md5 acceptance, rerun-identical",
    )
    ap.add_argument(
        "--mix-plan",
        type=int,
        default=None,
        metavar="N",
        help="print the n^0.5 temperature-sampled per-source target "
        "counts for an N-document mixture (plan only, no filtering)",
    )
    ap.add_argument(
        "--k-anon",
        default=None,
        metavar="COLS",
        help="comma-separated quasi-identifier columns; audits "
        f"equivalence classes smaller than {_K_ANON} BEFORE publishing "
        "(warn-only unless --k-anon-enforce)",
    )
    ap.add_argument(
        "--k-anon-enforce",
        action="store_true",
        help="with --k-anon: refuse to publish (exit 2) when any "
        f"quasi-identifier class is below k={_K_ANON} — the release gate",
    )
    ap.add_argument(
        "--normalize",
        action="store_true",
        help="Unicode NFC + control strip + whitespace collapse on text",
    )
    ap.add_argument("--redact", action="store_true", help="scrub PII")
    ap.add_argument(
        "--profile",
        action="store_true",
        help="print one-scan column statistics of the published table",
    )
    ap.add_argument("--dedup", action="store_true", help="exact dedup")
    ap.add_argument("--split", action="store_true", help="train/val/test")
    ap.add_argument("--pack-budget", type=int, default=None, metavar="TOKENS")
    ap.add_argument(
        "--ingest-gate",
        action="store_true",
        help="admit via the LSH near-dup gate against the warehouse "
        "corpus (corpus_docs/corpus_lsh tables) instead of writing "
        "the batch unconditionally",
    )
    ap.add_argument(
        "--phash-gate",
        action="store_true",
        help="ALSO gate the binary payload through the image "
        "perceptual-hash near-dup gate (image_phash_corpus/_bands "
        "tables): payloads whose dHash is within Hamming 3 of the "
        "stored corpus (or a lower-id batch-mate) are dropped before "
        "publishing; composes with --ingest-gate (phash filters "
        "first, the text gate admits the remainder)",
    )
    ap.add_argument(
        "--audio-gate",
        action="store_true",
        help="ALSO gate the binary payload through the audio "
        "fingerprint near-dup gate (audio_fp_corpus/_bands tables) — "
        "the --phash-gate contract with the energy-fingerprint kernel",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    spark = get_spark("curate", master=args.master)
    wh = ParquetWarehouse(spark, args.warehouse)

    df = spark.read.parquet(args.input)
    n_in = df.count()

    if args.normalize:
        from qms_datawarehouse_spark.operators.textops import normalize_text

        df = df.withColumn("text", normalize_text(F.col("text")))

    if args.mix_plan:
        w = (
            df.groupBy("source")
            .agg(F.count("*").alias("n_docs"))
            .withColumn(
                "weight",
                F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("long"),
            )
        )
        t = w.agg(F.sum("weight").alias("tw")).first().tw
        if not t:
            # empty input (or every weight floored to 0): no plan to
            # print — a bare division would crash with TypeError/
            # ZeroDivisionError instead of saying why
            print("mix-plan: no rows (or zero total weight) — skipped")
            t = None
        for r in sorted(w.collect(), key=lambda r: r.source) if t else []:
            target = args.mix_plan * r.weight // t
            print(
                f"mix-plan {r.source}: n={r.n_docs} weight={r.weight} "
                f"target={target}"
                + (" (needs upsample)" if target > r.n_docs else "")
            )

    if args.rates:
        rates = {}
        for part in args.rates.split(","):
            lang, _, bp = part.partition("=")
            rates[lang.strip()] = int(bp)
        df = stratified_sample(df, rates)

    if args.quality_sample:
        from qms_datawarehouse_spark.operators.curation import _QW_CAP
        from qms_datawarehouse_spark.operators.hashsplit import hash_bp

        df = df.filter(
            hash_bp(F.col("doc_id"))
            < F.least(F.col("n_chars"), F.lit(_QW_CAP)) * 5
        )

    if args.redact:
        df = (
            redact_pii(df)
            .drop("text")
            .withColumnRenamed("redacted", "text")
        )

    if args.dedup:
        w = Window.partitionBy(
            F.md5(F.col("text").cast("binary"))
        ).orderBy("doc_id")
        df = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    if args.split:
        df = assign_split(df)

    if args.k_anon:
        # audit BEFORE anything is written: this is the release gate,
        # not a post-mortem. k comes from the operator module (imported
        # once at the top of main, interpolated into --help too) so the
        # CLI gate and the k_anonymity audit query can't drift.
        cols = [c.strip() for c in args.k_anon.split(",")]
        viol = (
            df.groupBy(*cols).count().filter(F.col("count") < _K_ANON).count()
        )
        print(
            f"k-anonymity({', '.join(cols)}): "
            + (
                f"WARNING {viol} classes below k={_K_ANON}"
                if viol
                else f"all classes >= {_K_ANON}"
            )
        )
        if viol and args.k_anon_enforce:
            print(f"refusing to publish {args.out} (--k-anon-enforce)")
            return 2

    def _payload_gate(frame, gate_fn, label, noun):
        # multimodal admission — placed AFTER the k-anon release gate
        # (like --ingest-gate below) so a refused publication writes
        # NOTHING, gate state included. Each gate maintains its own
        # hash-corpus + band-index tables and reports exact counts;
        # the exact rejected-id list is O(batch) by construction
        # (never the pair report, whose dup-clustered worst case is
        # quadratic) and drops rows via a broadcast anti-join.
        from qms_datawarehouse_spark.operators.multimodal import (
            with_binary_content,
        )

        payloads = with_binary_content(frame).select("doc_id", "content")
        res = gate_fn(wh, payloads)
        print(
            f"{label}: {res.n_batch} payloads, "
            f"{res.n_accepted} admitted, {res.n_rejected} {noun} near-dups"
        )
        if res.rejected_ids:
            rej_df = spark.createDataFrame(
                [(i,) for i in res.rejected_ids], "doc_id long"
            )
            frame = frame.join(F.broadcast(rej_df), "doc_id", "left_anti")
        return frame

    if args.phash_gate:
        df = _payload_gate(df, ingest_image_phash, "phash-gate", "image")

    if args.audio_gate:
        df = _payload_gate(
            df, ingest_audio_fingerprint, "audio-gate", "audio"
        )

    if args.ingest_gate:
        res = ingest_dedup(wh, df, corpus_table=args.out)
        print(
            f"ingest-gated {args.out}: {res.n_batch} in, "
            f"{res.n_accepted} admitted, {res.n_rejected} near-dups"
        )
    elif args.pack_budget:
        # corpus + its packed sequences publish as ONE atomic unit —
        # a crash between the two writes must not serve a fresh
        # corpus with last run's sequences (or vice versa)
        from qms_datawarehouse_spark.operators.transaction import (
            MultiTableTransaction,
        )

        txn = MultiTableTransaction(wh)
        txn.stage_write(args.out, df)
        txn.stage_write(
            f"{args.out}_sequences",
            pack_sequences(df, budget=args.pack_budget),
        )
        txn.commit()
    else:
        wh.write_version(args.out, df)
    n_out = wh.read(args.out).count()
    print(f"curated {args.out}: {n_in} -> {n_out} rows")

    if args.pack_budget:
        if args.ingest_gate:
            wh.write_version(
                f"{args.out}_sequences",
                pack_sequences(df, budget=args.pack_budget),
            )
        n_seq = (
            wh.read(f"{args.out}_sequences")
            .select("shard", "seq_id")
            .distinct()
            .count()
        )
        print(f"packed {args.out}_sequences: {n_seq} sequences")

    if args.profile:
        from qms_datawarehouse_spark.operators.profile import profile_table

        # exact=False: interactive report path (no multi-distinct
        # planning cost; HLL++ distincts)
        def _clip(v, n=40):
            return v if v is None or len(v) <= n else v[:n] + "…"

        for r in profile_table(wh.read(args.out), exact=False).collect():
            print(
                f"profile {args.out}.{r.col_name}: rows={r.n_rows} "
                f"nulls={r.n_nulls} distinct~{r.n_distinct} "
                f"min={_clip(r.min_value)} max={_clip(r.max_value)}"
            )

    return 0


if __name__ == "__main__":
    raise SystemExit(main())
