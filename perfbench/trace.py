"""Spans recorded from the benchmark's own code.

A span wraps one call from the benchmark into the package: its name,
start, end, parent span and op id, plus the package module it calls
into. Spans stay in memory and are written out when the run ends.

When tracing is on, entering a span also tags every Spark job the call
launches with ``SparkContext.setJobGroup`` (group ``span-<id>``), and
DataFrameWriter actions stamp the Python call site on their jobs the
way PySpark's own actions do (writes otherwise carry the call site of
the previous action). The event-log parser uses both to attribute each
job to a span and to the package module that launched it.

Time spent on instrumentation alone (span bookkeeping and job-group
calls here, and whatever callers wrap in ``cost``) adds up in
``overhead_s``. When tracing is off, ``span`` and ``cost`` are no-op
context managers.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time
import traceback
from dataclasses import asdict, dataclass

_PYSPARK_DIR = None


@dataclass
class Span:
    id: int
    name: str
    module: str | None
    op: int | None
    parent: int | None
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0


class Tracer:
    def __init__(self, sc=None):
        """``sc`` is the SparkContext whose jobs to tag; None disables
        tracing entirely."""
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextlib.contextmanager
    def span(self, name: str, module: str | None = None, op: int | None = None):
        if self.sc is None:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            module=module,
            op=op if op is not None else (parent.op if parent else None),
            parent=parent.id if parent else None,
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"span-{s.id}", name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            s.end = time.time()
            with self.cost():
                self._stack.pop()
                if parent is not None:
                    self.sc.setJobGroup(f"span-{parent.id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def cost(self):
        """Count the enclosed time as instrumentation overhead."""
        if self.sc is None:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def _user_call_site() -> str:
    """``<function> at <file>:<line>`` of the innermost frame outside
    PySpark and this module — the caller of the DataFrameWriter."""
    here = os.path.abspath(__file__)
    for frame in reversed(traceback.extract_stack()[:-2]):
        path = os.path.abspath(frame.filename)
        if path == here or path.startswith(_PYSPARK_DIR):
            continue
        return f"{frame.name} at {path}:{frame.lineno}"
    return "unknown"


def stamp_writer_call_sites(sc) -> None:
    """Make DataFrameWriter actions set the job call site, as
    ``collect``/``count`` already do through PySpark's SCCallSiteSync.
    Process-wide; used only by traced runs."""
    global _PYSPARK_DIR
    import pyspark
    from pyspark.sql.readwriter import DataFrameWriter

    _PYSPARK_DIR = os.path.dirname(os.path.abspath(pyspark.__file__))
    for name in ("save", "parquet", "json", "csv", "text", "orc", "saveAsTable", "insertInto"):
        original = getattr(DataFrameWriter, name)
        if getattr(original, "_call_site_stamped", False):
            continue

        @functools.wraps(original)
        def wrapper(self, *args, __original=original, **kwargs):
            sc._jsc.setCallSite(_user_call_site())
            try:
                return __original(self, *args, **kwargs)
            finally:
                sc._jsc.setCallSite(None)

        wrapper._call_site_stamped = True
        setattr(DataFrameWriter, name, wrapper)
