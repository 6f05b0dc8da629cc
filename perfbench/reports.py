"""``reports``: read-only analyst traffic over registered queries.

Each round runs the query set once in a seeded shuffled order. Every
query is built with its registered function and materialised through
the ``noop`` sink, so every column it computes is computed (a
``.count()`` would let Catalyst prune them). Set-up runs each query
once, three at a time, collecting its rows; those rows are checked
against the query's DuckDB oracle SQL with the normalisation of
``tests/oracle_harness.py``.
"""

from __future__ import annotations

import importlib.util
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import datagen
from perfbench.core import Context, Op
from perfbench.eventlog import layer_of

# A cut of bench.COMMON_22 plus the rows the roadmap names (pagerank,
# the quality model, two staff aggregates): every plan family the
# frozen set covers, sized so a run completes whole rounds. Three light
# and four heavy queries, so the median op falls among the heavy ones
# rather than in the gap between the two groups.
QUERIES = (
    "flagship_staff_report",
    "dedup_minhash_lsh",
    "q5_region_revenue",
    "graph_pagerank_2iter",
    "quality_model_score",
    "a5_per_staff_totals",
    "a7_service_duration",
)
SF = 0.01


def oracle_harness():
    """``tests/oracle_harness.py``, imported by path (tests/ is not a
    package)."""
    from perfbench.core import ROOT

    path = os.path.join(ROOT, "tests", "oracle_harness.py")
    spec = importlib.util.spec_from_file_location("oracle_harness", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class Reports:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.sf_dir = datagen.write_star_tables(os.path.join(ctx.work, "sf"), ctx.seed, SF)
        self.order = random.Random(ctx.seed)
        self.results: dict[str, list] = {}
        self.split: dict[str, list[float]] = {"build": [], "plan": [], "exec": []}

    def setup(self) -> None:
        from qms_datawarehouse_spark.plans import queries_map

        self.registry = queries_map()

        def first(name: str) -> None:
            df = self.registry[name](self.ctx.spark, self.sf_dir)
            self.results[name] = (list(df.columns), [tuple(r) for r in df.collect()])

        # first executions are mostly JVM warm-up; overlap a few of them
        with ThreadPoolExecutor(max_workers=3) as pool:
            for done in [pool.submit(first, name) for name in QUERIES]:
                done.result()

    def _run(self, name: str) -> None:
        fn = self.registry[name]
        tracer = self.ctx.tracer
        module = layer_of(fn.__module__)
        module = "plans" if module == "other" else module
        with tracer.span(f"reports.{name}", module=module):
            if not tracer.enabled:
                fn(self.ctx.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
                return
            t0 = time.perf_counter()
            df = fn(self.ctx.spark, self.sf_dir)
            t1 = time.perf_counter()
            with tracer.cost():  # the write plans the query again
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        self.split["build"].append(t1 - t0)
        self.split["plan"].append(t2 - t1)
        self.split["exec"].append(t3 - t2)

    def rounds(self, i: int) -> list[Op]:
        names = list(QUERIES)
        self.order.shuffle(names)
        return [Op(name, lambda n=name: self._run(n)) for name in names]

    def check(self) -> dict[str, str]:
        """Failures by op kind: each query's set-up rows against its
        DuckDB oracle."""
        import duckdb

        from qms_datawarehouse_spark.plans import oracle_sql_map

        harness = oracle_harness()
        oracles = oracle_sql_map()
        con = duckdb.connect()
        try:
            for table in harness.TABLES:
                path = os.path.join(self.sf_dir, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            failures = {}
            for name, (cols, rows) in self.results.items():
                res = con.execute(oracles[name])
                duck_cols = [d[0] for d in res.description]
                if sorted(cols) != sorted(duck_cols):
                    failures[name] = f"columns {sorted(cols)} != {sorted(duck_cols)}"
                    continue
                ours = harness._rows_multiset(cols, rows)
                theirs = harness._rows_multiset(duck_cols, res.fetchall())
                if ours != theirs:
                    failures[name] = (
                        f"{sum((ours - theirs).values())} rows only in Spark, "
                        f"{sum((theirs - ours).values())} only in DuckDB"
                    )
            return failures
        finally:
            con.close()

    def layer_metrics(self, spans, jobs, n_ops) -> dict:
        return {f"plans.{k}_s": statistics.fmean(v) for k, v in self.split.items() if v}
