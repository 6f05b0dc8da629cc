"""Run context, environment pinning, the closed loop and its metrics.

One process, one client thread, ``local[<cores>]``. A workload yields
rounds of ops; the loop runs whole rounds, one op at a time, until the
measured time reaches ``--seconds``, so every run sees the same op mix.
"""

from __future__ import annotations

import math
import os
import resource
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field
from typing import Callable

from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpus() -> int:
    """What ``nproc`` prints: the cores this process may run on."""
    return len(os.sched_getaffinity(0))


def pin_environment(work: str, trace: bool) -> None:
    """Pin what the package reads from the environment before the JVM
    starts. The package defaults (32 cores, a 16g driver, /tmp scratch)
    do not fit a small box, and Python workers must import the package
    from the checkout. A traced run also turns on the Spark event log,
    uncompressed so the parser needs no zstd module."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()
    # confs get_spark does not set: keep every file Spark and the JVMs
    # write inside the work directory (-UsePerfData: no /tmp/hsperfdata)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    confs = [
        f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        f"'spark.driver.extraJavaOptions={java_opts}'",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([f"--conf {c}" for c in confs] + ["pyspark-shell"])


def start_session():
    """The program's own session factory, on every core of the box."""
    from qms_datawarehouse_spark.session import get_spark

    n = cpus()
    return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n)


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit: closing the gateway's stdin ends the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


@dataclass
class Op:
    """One closed-loop request: ``fn`` runs the call into the program."""

    kind: str
    fn: Callable[[], object]


@dataclass
class Sample:
    kind: str
    seconds: float
    ok: bool


@dataclass
class Context:
    work: str
    seed: int
    trace: bool
    spark: object = None
    tracer: Tracer = field(default_factory=Tracer)


def closed_loop(ctx: Context, rounds, seconds: float, tracer: Tracer) -> tuple[list[Sample], float]:
    """Run whole rounds until ``seconds`` of measured time have passed
    (one round at least). ``rounds(i)`` generates and lands round i's
    inputs; that time is not measured. Spans go to ``tracer``."""
    samples: list[Sample] = []
    off, ctx.tracer = ctx.tracer, tracer
    t0 = time.perf_counter()
    generating = 0.0
    i = 0
    while i == 0 or time.perf_counter() - t0 - generating < seconds:
        g0 = time.perf_counter()
        ops = rounds(i)
        generating += time.perf_counter() - g0
        for op in ops:
            start = time.perf_counter()
            try:
                with ctx.tracer.span(f"op.{op.kind}", op=len(samples)):
                    op.fn()
                ok = True
            except Exception as exc:  # noqa: BLE001 - a failed op is a measured outcome
                print(f"op {op.kind} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
                ok = False
            samples.append(Sample(op.kind, time.perf_counter() - start, ok))
        i += 1
    ctx.tracer = off
    return samples, time.perf_counter() - t0 - generating


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def end_to_end(samples: list[Sample], wall: float, setup_s: float) -> dict:
    # Means over quarters of the sorted latencies, not ranks: a run has
    # 7-10 ops of unlike kinds, each once, so a rank is one op's single
    # sample, or jumps between kinds from run to run.
    lat = sorted(s.seconds for s in samples)
    n = len(lat)
    return {
        "setup_s": setup_s,
        "op_iqm_s": statistics.fmean(lat[n // 4 : n - n // 4]),
        "op_tail_s": statistics.fmean(lat[-math.ceil(n / 4) :]),
        "ops_per_s": len(samples) / wall,
    }
