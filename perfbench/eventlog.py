"""Spark event-log parser and job-to-module attribution.

Reads the uncompressed JSON event log a traced run writes, builds one
record per job (wall interval, tasks, executor time, GC, shuffle and
spill) and attributes each job to

- a span: the job group ``span-<id>`` set by ``trace.Tracer``, or,
  for jobs launched from threads that carry no group, the innermost
  span whose interval holds the job's start;
- a package module: the call site Spark stamps on the job
  (``collect at .../qms_datawarehouse_spark/operators/merge.py:195``).
  Jobs launched from the benchmark's own code (the ``noop`` sink of a
  report, the fresh staff report) take the module of their span.

Module names are collapsed to the layers the benchmark reports
(``MODULES``); every ``plans`` submodule is one layer and package
modules outside the list fall into ``other``.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

PACKAGE = "qms_datawarehouse_spark"

MODULES = (
    "plans",
    "operators.graph",
    "operators.dedup",
    "sources.readers",
    "operators.merge",
    "warehouse",
    "operators.transaction",
    "operators.checkpoint",
    "operators.history",
    "operators.matview",
    "operators.join_matview",
    "operators.rollup_hypertable",
    "operators.cdc",
    "operators.incremental_dedup",
    "operators.phash_gate",
    "operators.semantic_gate",
    "other",
)

_CALL_SITE = re.compile(r" at (.+?):(\d+)$")


def layer_of(module: str | None) -> str | None:
    """Collapse a dotted package module name (with or without the
    package prefix) to one of ``MODULES``."""
    if not module:
        return None
    if module.startswith(PACKAGE + "."):
        module = module[len(PACKAGE) + 1 :]
    if module == "plans" or module.startswith("plans."):
        return "plans"
    return module if module in MODULES else "other"


def module_of_call_site(call_site: str | None) -> str | None:
    """``'collect at /x/qms_datawarehouse_spark/operators/merge.py:195'``
    → ``'operators.merge'``; None when the site is outside the package."""
    if not call_site:
        return None
    m = _CALL_SITE.search(call_site)
    if not m:
        return None
    path = m.group(1).replace(os.sep, "/")
    marker = f"/{PACKAGE}/"
    if marker not in path or not path.endswith(".py"):
        return None
    rel = path.rsplit(marker, 1)[1][: -len(".py")]
    if rel.endswith("/__init__"):
        rel = rel[: -len("/__init__")]
    return layer_of(rel.replace("/", "."))


@dataclass
class Job:
    id: int
    group: str | None
    call_site: str | None
    start: float  # epoch seconds
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    executor_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    span: int | None = None
    module: str | None = None

    @property
    def duration(self) -> float:
        return max(0.0, self.end - self.start)


def log_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` in write order. Spark 4 writes a
    directory per application (``eventlog_v2_<app>/events_<n>_<app>``);
    older versions write one file per application."""
    found = []
    for dirpath, _, names in os.walk(log_dir):
        for name in names:
            if name.startswith(".") or name.startswith("appstatus") or name.endswith(".crc"):
                continue
            path = os.path.join(dirpath, name)
            m = re.match(r"events_(\d+)_", name)
            found.append((dirpath, int(m.group(1)) if m else 0, path))
    return [p for _, _, p in sorted(found)]


def read_events(log_dir: str):
    """Events of a log that may still be open: an unterminated last line
    is the writer's buffer cut mid-event, not a complete event."""
    for path in log_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if not line.endswith("\n"):
                    break
                if line.strip():
                    yield json.loads(line)


def parse_jobs(events) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            stages = [s["Stage ID"] for s in e.get("Stage Infos", [])]
            site = props.get("callSite.short")
            if not site and e.get("Stage Infos"):
                site = e["Stage Infos"][-1].get("Stage Name")
            job = Job(
                id=e["Job ID"],
                group=props.get("spark.jobGroup.id"),
                call_site=site,
                start=e["Submission Time"] / 1000.0,
                stages=stages,
            )
            jobs[job.id] = job
            for s in stages:
                stage_job.setdefault(s, job.id)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e.get("Stage ID")))
            metrics = e.get("Task Metrics")
            if job is None or not metrics:
                continue
            job.tasks += 1
            job.executor_s += metrics.get("Executor Run Time", 0) / 1000.0
            job.gc_s += metrics.get("JVM GC Time", 0) / 1000.0
            job.shuffle_bytes += (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            job.spill_bytes += metrics.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.id)


def attribute(jobs: list[Job], spans: list[dict]) -> list[Job]:
    """Fill ``Job.span`` and ``Job.module`` from the span list (dicts as
    written by ``Tracer.dump``)."""
    by_id = {s["id"]: s for s in spans}
    for job in jobs:
        span = None
        if job.group and job.group.startswith("span-"):
            span = by_id.get(int(job.group[len("span-") :]))
        if span is None:
            holding = [s for s in spans if s["start"] <= job.start <= s["end"]]
            if holding:
                span = max(holding, key=lambda s: s["start"])
        job.span = span["id"] if span else None
        job.module = module_of_call_site(job.call_site)
        if job.module is None:
            job.module = layer_of(span["module"]) if span and span["module"] else "other"
    return jobs


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            total += b - a
            cursor = b
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of
    its interval its child spans cover, summed by name."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - covered(children.get(s["id"], []), s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
