"""QMS warehouse benchmark: one command, two workloads.

    python3 perfbench/run.py --workload reports|sync_maintain \
        --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed, starts the program's
Spark session, runs the program's set-up, then drives a closed loop
(one client, each op waits for the previous one) for ``--seconds``,
checks the outputs, and prints one JSON object as the last line:

    {"correct": …, "attempted": …, "failed": …, "metrics": {…}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` enables the
Spark event log, records spans and reports the per-layer metrics (see
README.md for which end-to-end metric each one moves). Everything the
run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import core  # noqa: E402
from perfbench.eventlog import (  # noqa: E402
    MODULES,
    attribute,
    covered,
    parse_jobs,
    read_events,
    self_times,
)
from perfbench.trace import Tracer, stamp_writer_call_sites  # noqa: E402

WORKLOADS = ("reports", "sync_maintain")


class SyncMaintain:
    """One ingest cycle of the warehouse service per round: a sync cycle
    (``sync.py``), then the derived-state upkeep after that batch
    (``maintain.py``). One workload rather than two, because each run
    pays a cold JVM and a set-up of its own. The set-up steps touch
    disjoint tables, so they run side by side: the sync half, the
    upkeep tables and the gate corpora."""

    def __init__(self, ctx: core.Context):
        from perfbench.maintain import Maintain
        from perfbench.sync import Sync

        self.parts = (Sync(ctx), Maintain(ctx))

    def setup(self) -> None:
        sync, maintain = self.parts
        steps = [sync.setup, *maintain.setup_steps()]
        with ThreadPoolExecutor(max_workers=len(steps)) as pool:
            for done in [pool.submit(step) for step in steps]:
                done.result()

    def rounds(self, i: int) -> list[core.Op]:
        return [op for part in self.parts for op in part.rounds(i)]

    def check(self) -> dict[str, str]:
        return {k: v for part in self.parts for k, v in part.check().items()}

    def layer_metrics(self, spans, jobs, n_ops) -> dict:
        return {k: v for part in self.parts for k, v in part.layer_metrics(spans, jobs, n_ops).items()}


def _workload(name: str, ctx: core.Context):
    if name == "reports":
        from perfbench.reports import Reports

        return Reports(ctx)
    return SyncMaintain(ctx)


def per_layer(ctx: core.Context, tracer: Tracer, workload, samples: list[core.Sample], wall: float):
    """Per-layer metrics of the traced loop, normalised per op, and the
    detail written beside them (self time per span)."""
    spans = tracer.dump()
    jobs = attribute(parse_jobs(read_events(os.path.join(ctx.work, "eventlog"))), spans)
    n = max(1, len(samples))
    op_spans = [s for s in spans if s["parent"] is None]
    in_ops = [j for j in jobs if j.span is not None]
    out: dict = {}
    for module in MODULES:
        mine = [j for j in in_ops if j.module == module]
        out[f"{module}.jobs"] = len(mine) / n
        out[f"{module}.job_s"] = sum(j.duration for j in mine) / n
        out[f"{module}.executor_s"] = sum(j.executor_s for j in mine) / n
        out[f"{module}.shuffle_bytes"] = sum(j.shuffle_bytes for j in mine) / n
        out[f"{module}.spill_bytes"] = sum(j.spill_bytes for j in mine) / n
    op_time = sum(s["end"] - s["start"] for s in op_spans)
    intervals = [(j.start, j.end) for j in in_ops]
    outside = op_time - sum(covered(intervals, s["start"], s["end"]) for s in op_spans)
    out["spark.jobs"] = len(in_ops) / n
    out["spark.tasks"] = sum(j.tasks for j in in_ops) / n
    out["spark.executor_busy_share"] = sum(j.executor_s for j in in_ops) / max(
        1e-9, op_time * core.cpus()
    )
    out["spark.gc_s"] = sum(j.gc_s for j in in_ops) / n
    out["spark.driver_outside_jobs_s"] = outside / n
    # the benchmark's own instrumentation; the event log is on for the
    # whole process, so its cost shows only against an untraced run
    out["trace.overhead_share"] = tracer.overhead_s / wall
    out.update(workload.layer_metrics(spans, jobs, n))
    detail = {
        "self_time_s": self_times(spans),
        "jobs_unattributed": sum(1 for j in jobs if j.span is None),
    }
    return out, detail


def metric_units(trace: bool) -> dict[str, str]:
    """Name → unit of every metric the run must print, from
    BENCHMARK.json: end-to-end metrics untraced, per-layer traced."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(HERE, ".work", "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    core.pin_environment(work, bool(args.trace))
    import bench  # host context helpers; reads the pinned env

    ctx = core.Context(work=work, seed=args.seed, trace=bool(args.trace))
    host = {"load_start": bench._host_load()}
    t0 = time.perf_counter()
    workload = _workload(args.workload, ctx)  # input generation: not timed
    phases = {"generate_s": time.perf_counter() - t0}

    t0 = time.perf_counter()
    ctx.spark = core.start_session()
    session_s = time.perf_counter() - t0
    tracer = Tracer(ctx.spark.sparkContext if ctx.trace else None)
    if ctx.trace:
        stamp_writer_call_sites(ctx.spark.sparkContext)
    try:
        t0 = time.perf_counter()
        workload.setup()
        setup_s = session_s + time.perf_counter() - t0
        t0 = time.perf_counter()
        samples, wall = core.closed_loop(ctx, workload.rounds, args.seconds, tracer)
        rss = core.peak_rss_mb(ctx.spark)
        t1 = time.perf_counter()
        failures = workload.check()
        phases.update(session_s=session_s, setup_s=setup_s, loop_s=t1 - t0, check_s=time.perf_counter() - t1)
        e2e = core.end_to_end(samples, wall, setup_s)
        if ctx.trace:
            ctx.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            metrics, detail = per_layer(ctx, tracer, workload, samples, wall)
            metrics["process.peak_rss_mb"] = rss
            detail["end_to_end"] = e2e  # to compare with an untraced run
            host["calibration"] = bench._calibration(ctx.spark)
        else:
            metrics, detail = e2e, {}
    finally:
        host["load_end"] = bench._host_load()
        core.stop_session(ctx.spark)

    failed = sum(1 for s in samples if not s.ok or s.kind in failures)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "phases": phases,
        "ops": len(samples),
        "latency_s_by_kind": {
            k: [round(s.seconds, 3) for s in samples if s.kind == k] for k in sorted({s.kind for s in samples})
        },
        "check_failures": failures,
        "metrics": metrics,
        **detail,
    }
    with open(os.path.join(HERE, ".work", f"{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps({"host": host, "phases": phases, "check_failures": failures}), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": not failures and failed == 0,
        "attempted": len(samples),
        "failed": failed,
        # a layer the workload never enters reads 0
        "metrics": {
            name: {"value": metrics.get(name, 0.0), "unit": unit}
            for name, unit in metric_units(ctx.trace).items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
