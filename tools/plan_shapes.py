"""Regenerate PLAN_SHAPES.json, the plan-shape ledger, or print plans.

With no arguments: build every registered query at the tier-1 test
scale (``tests/conftest.py``'s ``SF_DIR``, sf0.001) inside
``planaudit.capture()`` and write, per row (``query`` and each
``query/side`` capture), the node counts of ``planaudit.shape`` — the
plan as Catalyst planned it, without AQE's timing-dependent runtime
re-plans of cached frames.
The build runs at ``local[2]`` and at ``local[4]`` (the test
session's size), each in a fresh process; a count that differs
between the two is written as ``null`` — the ratchet in
tests/test_plans_scale.py skips it. Jobs per query are not counted:
they need execution.

With query names: print each row's plan text (and its side
captures) at ``local[4]`` instead.

Usage:
    python tools/plan_shapes.py
    python tools/plan_shapes.py <query> [...]

tests/test_plans_scale.py::test_plan_shapes_do_not_grow fails when a
count grows past its ledger entry; a count that shrinks is locked in
by regenerating the ledger.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
# Python workers (the decode/feature UDF rows) import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from conftest import SF_DIR  # noqa: E402  (the tier-1 test scale)

LEDGER = os.path.join(ROOT, "PLAN_SHAPES.json")
CORES = (2, 4)


def _spark(cores: int):
    from qms_datawarehouse_spark.session import get_spark

    return get_spark(
        "qms-plan-shapes", master=f"local[{cores}]", shuffle_partitions=cores
    )


def _row_plans(spark, names) -> dict[str, str]:
    from qms_datawarehouse_spark.planaudit import row_plans
    from qms_datawarehouse_spark.plans.registry import REGISTRY

    plans: dict[str, str] = {}
    for name in names:
        plans.update(row_plans(name, lambda: REGISTRY[name].fn(spark, SF_DIR)))
    return plans


def _shapes(cores: int) -> dict[str, dict[str, int]]:
    from qms_datawarehouse_spark.planaudit import shape
    from qms_datawarehouse_spark.plans.registry import REGISTRY

    spark = _spark(cores)
    try:
        plans = _row_plans(spark, sorted(REGISTRY))
    finally:
        spark.stop()
    return {row: shape(p) for row, p in plans.items()}


def main() -> None:
    names = sys.argv[1:]
    if names:
        for row, text in _row_plans(_spark(4), names).items():
            print(f"== {row} ==\n{text}\n")
        return
    # one fresh process (and JVM) per core count, one at a time
    ctx = multiprocessing.get_context("spawn")
    builds = []
    for cores in CORES:
        with ctx.Pool(1) as pool:
            builds.append(pool.apply(_shapes, (cores,)))
    first, *rest = builds
    if any(b.keys() != first.keys() for b in rest):
        raise SystemExit("row sets differ between core counts")
    ledger = {
        row: {
            k: (v if all(b[row][k] == v for b in rest) else None)
            for k, v in counts.items()
        }
        for row, counts in first.items()
    }
    with open(LEDGER, "w") as f:
        f.write(
            "{\n"
            + ",\n".join(
                f"{json.dumps(row)}: {json.dumps(ledger[row], sort_keys=True)}"
                for row in sorted(ledger)
            )
            + "\n}\n"
        )
    print(f"wrote {len(ledger)} rows to {LEDGER}")


if __name__ == "__main__":
    main()
