"""Opt-in physical-plan capture, and the plan-shape counts that
PLAN_SHAPES.json ledgers.

``record`` builds a plan string only inside ``capture()``, the seam
tests and ``tools/plan_shapes.py`` open; a production call records
nothing. ``checkpoint_result`` records a query's real plan before its
eager checkpoint, whose ``Scan ExistingRDD`` plan would pass every
plan assertion vacuously.

Leaf module (no registry imports) — safe to import from any operator
module during the package's circular-import window.
"""

from __future__ import annotations

import contextlib
import re
from typing import Callable, Iterator

from pyspark.sql import DataFrame

# the open capture's dict, or None. Module-level, not thread-local:
# join-MV side captures run on pool threads.
_sink: dict[str, str] | None = None


def record(name: str, df: DataFrame) -> None:
    """Store ``df``'s executed-plan string under ``name`` when a
    capture is open (with AQE this is the initial plan,
    isFinalPlan=false); a no-op otherwise."""
    if _sink is not None:
        _sink[name] = df._jdf.queryExecution().executedPlan().toString()


@contextlib.contextmanager
def capture() -> Iterator[dict[str, str]]:
    """``with capture() as plans:`` — every ``record`` made inside the
    block lands in ``plans``; the enclosing capture (if any) resumes
    on exit."""
    global _sink
    outer, _sink = _sink, {}
    try:
        yield _sink
    finally:
        _sink = outer


def checkpoint_result(name: str, out: DataFrame, *caches: DataFrame) -> DataFrame:
    """Record ``out``'s physical plan under ``name``, eagerly
    checkpoint it (materializing the small result), then unpersist
    the big intermediate ``caches`` it no longer needs."""
    record(name, out)
    out = out.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    return out


def row_plans(name: str, build: Callable[[], DataFrame]) -> dict[str, str]:
    """Plans of one registry row: ``name`` -> the plan of the frame
    ``build()`` returns (the pre-checkpoint plan when the row
    checkpoints), ``name/side`` -> each other plan it recorded."""
    with capture() as plans:
        df = build()
        if name not in plans:
            record(name, df)
    return {k if k == name else f"{name}/{k}": v for k, v in plans.items()}


# the plan nodes the ledger counts, keyed by name as the plan prints
# it; an Exchange counts under its partitioning (a ReusedExchange is a
# reuse, not a new exchange)
SHAPE_KEYS = (
    *(f"Exchange {p}" for p in ("hashpartitioning", "rangepartitioning",
                                "SinglePartition", "RoundRobinPartitioning")),
    "BroadcastExchange", "FileScan", "BroadcastHashJoin", "SortMergeJoin",
    "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas",
)
# a node line: tree drawing (":- ", "+- ", "|  "), an optional codegen
# stage id ("*(3) "), then the node name — with its partitioning for
# an Exchange
_NODE = re.compile(r"[\s:|+\-]*(?:\*\(\d+\)\s*)?(Exchange \w+|\w*)")


def shape(plan_text: str) -> dict[str, int]:
    """Count each ``SHAPE_KEYS`` node in one executed-plan string, as
    planned. Only node names are matched, so a name inside an
    expression is not counted.

    A cached frame that already ran prints its AQE runtime plan under
    "== Final Plan ==" (or "== Current Plan ==") before its
    "== Initial Plan ==". The runtime plan depends on which query
    stage finished first (a shuffle join turned broadcast, or not),
    so only the initial plan is counted; the pairs nest."""
    counts = dict.fromkeys(SHAPE_KEYS, 0)
    runtime = 0  # depth inside runtime-plan sections
    for line in plan_text.splitlines():
        if "== Initial Plan ==" in line:
            runtime = max(0, runtime - 1)
        elif "== Final Plan ==" in line or "== Current Plan ==" in line:
            runtime += 1
        elif not runtime and (key := _NODE.match(line)[1]) in counts:
            counts[key] += 1
    return counts
