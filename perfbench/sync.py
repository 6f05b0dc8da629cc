"""``sync``: the reference's core loop on QMS-shaped documents.

Set-up lands the seed documents and loads each collection through
``engine.sync_dataframe``. Each op is one sync cycle: a delta per
collection has landed as a JSON-lines file; the cycle reads it with
``sources.readers.read_json_auto`` and ``valid_records``, commits all
three collections with ``engine.sync_collections_atomic``, then builds
a fresh staff report over ``ParquetWarehouse.read`` (tickets ⋈ users ⋈
ratings: per-staff ticket count, service time min/avg/max, average
rating). The op's latency therefore covers delta landed → commit
visible → report served.

There is no warm-up cycle: it would add set-up time to every run, and
runs are budgeted. A run's measured cycle is the process's first
``sync_collections_atomic`` call, after the seed load has run the
same reader, delta filter, record cleaning, checkpoint and history
code.

The check folds every landed file independently in DuckDB
(``perfbench.fold``) and compares the final tables, the checkpoints,
the history rows and the last report.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import datagen, fold, files
from perfbench.core import Context, Op


def schemas():
    from pyspark.sql import types as T

    ts, s = T.TimestampType(), T.StringType()
    f = T.StructField
    return {
        "tickets": T.StructType(
            [
                f("_id", s), f("ticketNumber", s), f("sequentialNumber", T.LongType()),
                f("companyId", s), f("roomId", s), f("staffId", s), f("serviceName", s),
                f("date", ts), f("calledAt", ts), f("servedDate", ts), f("served", T.BooleanType()),
                f("meta", T.StructType([f("priority", T.LongType()), f("channel", s), f("tags", T.ArrayType(s))])),
                f("updated_at", ts),
            ]
        ),
        "users": T.StructType(
            [
                f("_id", s), f("username", s), f("email", s), f("role", s),
                f("assignedRooms", T.ArrayType(s)),
                f("meta", T.StructType([f("lang", s), f("shift", s)])),
                f("updated_at", ts),
            ]
        ),
        "ratings": T.StructType(
            [
                f("_id", s), f("ticketId", s), f("userId", s), f("stars", T.LongType()),
                f("companyName", s), f("comment", s), f("updated_at", ts),
            ]
        ),
    }


def staff_report(wh):
    """The fresh report analysts read after a sync."""
    from pyspark.sql import functions as F

    tickets = wh.read("tickets").filter(F.col("served"))
    users = wh.read("users").select(F.col("_id").alias("staffId"), "username")
    ratings = wh.read("ratings").select(F.col("ticketId").alias("_id"), "stars")
    ms = F.unix_millis("servedDate") - F.unix_millis("calledAt")
    return (
        tickets.join(users, "staffId")
        .join(ratings, "_id", "left")
        .groupBy("username")
        .agg(
            F.count(F.lit(1)).alias("tickets"),
            F.min(ms).alias("min_service_ms"),
            F.round(F.avg(ms), 3).alias("avg_service_ms"),
            F.max(ms).alias("max_service_ms"),
            F.round(F.avg("stars"), 3).alias("avg_stars"),
        )
    )


class Sync:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.feed = datagen.QmsFeed(ctx.seed)
        self.landing = os.path.join(ctx.work, "landing")
        self.landed: list[dict[str, str]] = [
            datagen.write_landing(os.path.join(self.landing, "c0000"), self.feed.seed_docs())
        ]
        self.report_rows = None
        self.layers: dict[str, list[float]] = {}

    def _frames(self, paths: dict[str, str]):
        from qms_datawarehouse_spark.sources.readers import read_json_auto, valid_records

        sch = schemas()
        with self.ctx.tracer.span("sources.read", module="sources.readers"):
            return {c: valid_records(read_json_auto(self.ctx.spark, p, sch[c])) for c, p in paths.items()}

    def setup(self) -> None:
        from qms_datawarehouse_spark.engine import sync_dataframe
        from qms_datawarehouse_spark.warehouse import ParquetWarehouse

        self.wh = ParquetWarehouse(self.ctx.spark, os.path.join(self.ctx.work, "warehouse"))
        for coll, df in self._frames(self.landed[0]).items():
            sync_dataframe(self.wh, df, datagen.SOURCE, coll)

    def _land(self) -> dict[str, str]:
        c = len(self.landed)
        paths = datagen.write_landing(os.path.join(self.landing, f"c{c:04d}"), self.feed.cycle(c))
        self.landed.append(paths)
        return paths

    def _cycle(self, paths: dict[str, str]) -> None:
        from qms_datawarehouse_spark.engine import sync_collections_atomic

        tracer = self.ctx.tracer
        with tracer.cost():
            before = files.snapshot(self.wh) if tracer.enabled else None
        t0 = time.perf_counter()
        frames = self._frames(paths)
        with tracer.span("engine.sync", module="engine"):
            results = sync_collections_atomic(self.wh, frames, datagen.SOURCE)
        t1 = time.perf_counter()
        with tracer.span("sync.fresh_report", module="warehouse"):
            self.report_rows = staff_report(self.wh).collect()
        t2 = time.perf_counter()
        if tracer.enabled:
            rows = sum(r.records_synced for r in results)
            self._layer("sync.commit_s", t1 - t0)
            self._layer("sync.fresh_report_s", t2 - t1)
            self._layer("merge.rows", rows)
            with tracer.cost():
                stats = files.commit_stats(self.wh, before, rows)
            for k, v in stats.items():
                self._layer(k, v)

    def _layer(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)

    def rounds(self, i: int) -> list[Op]:
        paths = self._land()
        return [Op("cycle", lambda: self._cycle(paths))]

    def check(self) -> dict[str, str]:
        problems = fold.check_sync(self.ctx.spark, self.wh, self.landed, staff_report_sql(), self.report_rows)
        return {"cycle": "; ".join(problems)} if problems else {}

    def layer_metrics(self, spans, jobs, n_ops) -> dict:
        from perfbench.eventlog import covered

        out = {k: statistics.fmean(v) for k, v in self.layers.items()}
        sync_spans = [s for s in spans if s["name"] == "engine.sync"]
        if sync_spans:
            in_jobs = [(j.start, j.end) for j in jobs]
            total = sum(s["end"] - s["start"] for s in sync_spans)
            inside = sum(covered(in_jobs, s["start"], s["end"]) for s in sync_spans)
            out["engine.sync_s"] = total / len(sync_spans)
            out["engine.driver_s"] = (total - inside) / len(sync_spans)
        out.update(files.table_stats(self.wh))
        return out


def staff_report_sql() -> str:
    """``staff_report`` over the folded tables, for DuckDB."""
    return """
        SELECT u.username,
               CAST(count(*) AS BIGINT) AS tickets,
               min(epoch_ms(t.servedDate) - epoch_ms(t.calledAt)) AS min_service_ms,
               round(avg(epoch_ms(t.servedDate) - epoch_ms(t.calledAt)), 3) AS avg_service_ms,
               max(epoch_ms(t.servedDate) - epoch_ms(t.calledAt)) AS max_service_ms,
               round(avg(r.stars), 3) AS avg_stars
        FROM tickets t
        JOIN users u ON t.staffId = u._id
        LEFT JOIN ratings r ON r.ticketId = t._id
        WHERE t.served
        GROUP BY u.username
    """
