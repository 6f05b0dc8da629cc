"""``maintain``: derived-state upkeep after each landed batch.

Each round is one batch landing, handled by these ops in a fixed order:

1. ``merge_upsert`` of a time-clustered event batch into a bucketed
   fact table;
2. ``refresh_matview`` of a per-group aggregate over the fact;
3. every third round, a dimension change merged into the customer
   table, then ``refresh_join_matview`` of fact ⋈ customer;
4. ``update_rollups`` of the batch's raw events (hourly and daily);
5. ``apply_changes`` of a CDC feed with upserts and deletes;
6. 50-item admissions through ``ingest_dedup``, ``ingest_image_phash``
   and ``ingest_semantic``.

The check recomputes every derived table from scratch and compares:
the matview and join matview against aggregates and joins of their
bases, the daily rollup against one aggregate of every event fed, the
CDC target against a fold of every change, and each gate's corpus
against an independent replay of admission over every item offered
(``perfbench.gates``).
"""

from __future__ import annotations

import os
import statistics
import time
from typing import Callable

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen, gates
from perfbench.core import Context, Op

FACT_BUCKETS = 16
DIM_BUCKETS = 8
GATE_BATCH = 50
CDC_BATCH = 100
DIM_EVERY = 3
GATES = {"incremental_dedup": "gate_minhash", "phash_gate": "gate_phash", "semantic_gate": "gate_semantic"}


class Maintain:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.feed = datagen.MaintainFeed(ctx.seed)
        self.inputs = os.path.join(ctx.work, "maintain-inputs")
        self.events: list[str] = []  # every raw-event file fed to the rollups
        self.changes: list[str] = []
        self.offered: dict[str, list[str]] = {gate: [] for gate in GATES}  # every gate batch, in order
        self.layers: dict[str, list[float]] = {}
        self.n_files = 0
        # set-up inputs: generated here, outside the timed set-up
        self.dim = self._file(self.feed.customers())
        self.setup_ops = self._ops(self.feed.base_events(), cycle=0)

    def _file(self, table) -> str:
        self.n_files += 1
        path = os.path.join(self.inputs, f"{self.n_files:05d}.parquet")
        os.makedirs(self.inputs, exist_ok=True)
        pq.write_table(table, path)
        return path

    def _read(self, path: str):
        return self.ctx.spark.read.parquet(path)

    def _batch(self, events: dict):
        """Land one round's input files; returns their paths."""
        fact = self._file(self.feed.fact_rows(events))
        raw = self._file(self.feed.event_rows(events))
        self.events.append(raw)
        changes = self._file(self.feed.changes(CDC_BATCH if self.changes else 2 * CDC_BATCH))
        self.changes.append(changes)
        docs = self._file(self.feed.documents(GATE_BATCH))
        imgs = self._file(self.feed.images(GATE_BATCH))
        vecs = self._file(self.feed.vectors(GATE_BATCH))
        for gate, path in zip(GATES, (docs, imgs, vecs)):
            self.offered[gate].append(path)
        return fact, raw, changes, docs, imgs, vecs

    # -- the ops

    def _timed(self, name: str, fn, module: str):
        with self.ctx.tracer.span(name, module=module):
            t0 = time.perf_counter()
            out = fn()
            if self.ctx.tracer.enabled:
                self.layers.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    def _merge(self, path: str, table: str, buckets: int) -> None:
        from qms_datawarehouse_spark.operators.merge import merge_upsert

        self._timed("merge.upsert", lambda: merge_upsert(self.wh, table, self._read(path), n_buckets=buckets), "operators.merge")

    def _matview(self) -> None:
        from qms_datawarehouse_spark.operators.matview import refresh_matview

        mode = self._timed("matview.refresh_s", lambda: refresh_matview(self.wh, "mv_events"), "operators.matview")
        if self.ctx.tracer.enabled:
            self.layers.setdefault("matview.incremental_share", []).append(float(mode == "incremental"))

    def _join_matview(self) -> None:
        from qms_datawarehouse_spark.operators.join_matview import refresh_join_matview

        self._timed(
            "join_matview.refresh_s", lambda: refresh_join_matview(self.wh, "mv_fact_cust"), "operators.join_matview"
        )

    def _rollup(self, path: str) -> None:
        from qms_datawarehouse_spark.operators.rollup_hypertable import update_rollups

        self._timed(
            "rollup_hypertable.update_s", lambda: update_rollups(self.wh, self._read(path)), "operators.rollup_hypertable"
        )

    def _cdc(self, path: str) -> None:
        from qms_datawarehouse_spark.operators.cdc import apply_changes

        self._timed("cdc.apply_s", lambda: apply_changes(self.wh, "cdc_target", self._read(path)), "operators.cdc")

    def _gate(self, gate: str, path: str) -> None:
        from qms_datawarehouse_spark.operators.incremental_dedup import ingest_dedup
        from qms_datawarehouse_spark.operators.phash_gate import ingest_image_phash
        from qms_datawarehouse_spark.operators.semantic_gate import ingest_semantic

        fn = {"incremental_dedup": ingest_dedup, "phash_gate": ingest_image_phash, "semantic_gate": ingest_semantic}[gate]
        res = self._timed(f"{gate}.admit_s", lambda: fn(self.wh, self._read(path)), f"operators.{gate}")
        if self.ctx.tracer.enabled:
            self.layers.setdefault(f"{gate}.admit_ratio", []).append(res.n_accepted / max(1, res.n_batch))

    def _ops(self, events: dict, cycle: int) -> list[Op]:
        fact, raw, changes, docs, imgs, vecs = self._batch(events)
        ops = [
            Op("merge", lambda: self._merge(fact, "fact_events", FACT_BUCKETS)),
            Op("matview", self._matview),
        ]
        if cycle % DIM_EVERY == 1:
            dim = self._file(self.feed.customers(moved=5))
            ops.append(Op("dim_merge", lambda: self._merge(dim, "dim_customer", DIM_BUCKETS)))
        ops += [
            Op("join_matview", self._join_matview),
            Op("rollup", lambda: self._rollup(raw)),
            Op("cdc", lambda: self._cdc(changes)),
            Op("gate_minhash", lambda: self._gate("incremental_dedup", docs)),
            Op("gate_phash", lambda: self._gate("phash_gate", imgs)),
            Op("gate_semantic", lambda: self._gate("semantic_gate", vecs)),
        ]
        return ops

    def setup_steps(self) -> list[Callable[[], None]]:
        """Set-up as two steps over disjoint tables, which may run side by
        side: the fact and dimension tables with their views, rollups and
        CDC target; and the three gate corpora."""
        from qms_datawarehouse_spark.warehouse import ParquetWarehouse

        self.wh = ParquetWarehouse(self.ctx.spark, os.path.join(self.ctx.work, "maintain-warehouse"))
        gate_ops = [op for op in self.setup_ops if op.kind.startswith("gate_")]
        table_ops = [op for op in self.setup_ops if op not in gate_ops]

        def tables() -> None:
            from qms_datawarehouse_spark.operators.join_matview import create_join_matview
            from qms_datawarehouse_spark.operators.matview import create_matview

            self._merge(self.dim, "dim_customer", DIM_BUCKETS)
            for op in table_ops:
                op.fn()
                if op.kind == "merge":
                    create_matview(self.wh, "mv_events", "fact_events", ["grp"], ["amount"])
                    create_join_matview(
                        self.wh, "mv_fact_cust", "fact_events", "dim_customer", dim_key="cust_id", dim_cols=["nation_grp"]
                    )

        def corpora() -> None:
            for op in gate_ops:
                op.fn()

        return [tables, corpora]

    def rounds(self, i: int) -> list[Op]:
        return self._ops(self.feed.batch_events(), cycle=i + 1)

    def check(self) -> dict[str, str]:
        from pyspark.sql import functions as F

        from qms_datawarehouse_spark.operators.rollup_hypertable import PARTIALS, aggregate_to_bucket

        wh = self.wh
        failures = {}

        def differs(a, b) -> bool:
            b = b.select(*a.columns)
            return a.exceptAll(b).count() > 0 or b.exceptAll(a).count() > 0

        fact = wh.read("fact_events")
        full_mv = fact.groupBy("grp").agg(
            F.count(F.lit(1)).cast("long").alias("_mv_n"), F.sum("amount").cast("long").alias("amount_sum")
        )
        if differs(wh.read("mv_events").select("grp", "_mv_n", "amount_sum"), full_mv):
            failures["matview"] = "mv_events differs from its full recompute"
        full_jmv = (
            fact.select("_id", "cust_id")
            .join(wh.read("dim_customer").select("cust_id", "nation_grp"), "cust_id")
            .select("_id", "cust_id", "nation_grp")
        )
        if differs(wh.read("mv_fact_cust").select("_id", "cust_id", "nation_grp"), full_jmv):
            failures["join_matview"] = "mv_fact_cust differs from fact ⋈ dim"
        cols = ["bucket", "event_type", *PARTIALS]
        full_1d = aggregate_to_bucket(self.ctx.spark.read.parquet(*self.events), "1 day").select(*cols)
        if differs(wh.read("rollup_1d").select(*cols), full_1d):
            failures["rollup"] = "rollup_1d differs from one aggregate of every event"
        if self._cdc_state() != {r["_id"]: (r["_seq"], r["v"]) for r in wh.read("cdc_target").collect()}:
            failures["cdc"] = "cdc_target differs from the fold of every change"
        for gate, kind in GATES.items():
            problem = self._check_gate(gate)
            if problem:
                failures[kind] = problem
        return failures

    def _offered(self, gate: str) -> tuple[list[list[tuple[int, object]]], Callable]:
        """Every batch offered to ``gate`` as (id, item) pairs in the
        replay's terms, and the gate's near-duplicate test."""
        tables = [pq.read_table(path).to_pydict() for path in self.offered[gate]]
        if gate == "incremental_dedup":
            return [list(zip(t["doc_id"], map(gates.doc, t["text"]))) for t in tables], gates.doc_dup
        if gate == "phash_gate":
            return [list(zip(t["doc_id"], map(gates.image, t["content"]))) for t in tables], gates.image_dup
        cents = gates.centroids(tables[0]["vec_id"], np.asarray(tables[0]["embedding"], dtype=np.float32))
        return [
            list(zip(t["vec_id"], gates.vecs(np.asarray(t["embedding"], dtype=np.float32), cents))) for t in tables
        ], gates.vec_dup

    def _check_gate(self, gate: str) -> str | None:
        """The corpus holds exactly the ids the replay admits, and no two
        of its items are near-duplicates."""
        import importlib

        module = importlib.import_module(f"qms_datawarehouse_spark.operators.{gate}")
        batches, is_dup = self._offered(gate)
        want = gates.replay(batches, is_dup)
        corpus = self.wh.read(module.CORPUS_TABLE)
        id_col = "vec_id" if "vec_id" in corpus.columns else "doc_id"
        got = sorted(r[0] for r in corpus.select(id_col).collect())
        items = dict(item for batch in batches for item in batch)
        dups = gates.duplicate_pairs([(k, items[k]) for k in got if k in items], is_dup)
        problems = []
        if got != want:
            problems.append(
                f"{len(set(got) - set(want))} ids stored that the replay rejects, "
                f"{len(set(want) - set(got))} admitted by the replay but not stored"
            )
        if dups:
            problems.append(f"{len(dups)} near-duplicate pairs stored, e.g. {dups[0]}")
        return f"{module.CORPUS_TABLE}: " + "; ".join(problems) if problems else None

    def _cdc_state(self) -> dict:
        """Fold every change batch: the highest sequence per key wins; a
        winning delete removes the key."""
        latest: dict[str, tuple] = {}
        for path in self.changes:
            for r in pq.read_table(path).to_pylist():
                if r["_id"] not in latest or r["_seq"] > latest[r["_id"]][0]:
                    latest[r["_id"]] = (r["_seq"], r["_op"], r["v"])
        return {k: (seq, v) for k, (seq, op, v) in latest.items() if op != "delete"}

    def layer_metrics(self, spans, jobs, n_ops) -> dict:
        return {k: statistics.fmean(v) for k, v in self.layers.items() if k != "merge.upsert"}
