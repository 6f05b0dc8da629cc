"""Independent expected state for ``sync``, computed in DuckDB.

The landing files are parsed with ``json`` (a line that does not parse
is malformed and dropped, as the program's PERMISSIVE reader drops it)
and folded last-write-wins in SQL: in each cycle a collection accepts
only rows whose cursor is strictly greater than the highest cursor of
every earlier cycle (the reference's ``$gt`` checkpoint rule), and the
newest accepted row per key wins. The wall-clock ``_synced_at`` column
is left out of the comparison.
"""

from __future__ import annotations

import json
from collections import Counter

import duckdb
import pandas as pd

from perfbench.datagen import COLLECTIONS, EPOCH, SOURCE, parse_iso_us

TIMESTAMPS = {"date", "calledAt", "servedDate", "updated_at"}
NESTED = {"meta", "assignedRooms"}

FOLD_SQL = """
WITH per_cycle AS (
    SELECT coll, cycle, max(cur) AS top FROM landed GROUP BY coll, cycle
), checkpoint AS (
    SELECT coll, cycle,
           max(top) OVER (PARTITION BY coll ORDER BY cycle
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ckpt
    FROM per_cycle
), accepted AS (
    SELECT l.* FROM landed l JOIN checkpoint c USING (coll, cycle)
    WHERE c.ckpt IS NULL OR l.cur > c.ckpt
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY coll, _id ORDER BY cur DESC, doc) AS rn
    FROM accepted
)
SELECT coll, _id, doc FROM ranked WHERE rn = 1
"""


def parse_landing(landed: list[dict[str, str]]) -> pd.DataFrame:
    """One row per well-formed line: coll, cycle, _id, cursor (µs), doc."""
    rows = []
    for cycle, paths in enumerate(landed):
        for coll, path in paths.items():
            with open(path, encoding="utf-8") as f:
                for line in f:
                    try:
                        doc = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    if not isinstance(doc, dict):
                        continue
                    rows.append((coll, cycle, doc["_id"], parse_iso_us(doc["updated_at"]), line.strip()))
    return pd.DataFrame(rows, columns=["coll", "cycle", "_id", "cur", "doc"])


def fold(landed: list[dict[str, str]], con=None) -> tuple[dict[str, list[dict]], dict[str, int]]:
    """Expected rows per collection and expected checkpoint (µs)."""
    frame = parse_landing(landed)
    con = con or duckdb.connect()
    con.register("landed", frame)
    expected: dict[str, list[dict]] = {c: [] for c in COLLECTIONS}
    for coll, _, doc in con.execute(FOLD_SQL).fetchall():
        expected[coll].append(json.loads(doc))
    hwm = {c: int(v) for c, v in con.execute("SELECT coll, max(cur) FROM landed GROUP BY coll").fetchall()}
    return expected, hwm


def _drop_nulls(value):
    if isinstance(value, dict):
        return {k: _drop_nulls(v) for k, v in value.items() if v is not None}
    if isinstance(value, list):
        return [_drop_nulls(v) for v in value]
    return value


def canonical(doc: dict) -> tuple:
    """A document as the warehouse stores it: timestamps as µs, nested
    values as JSON (NULL fields omitted, as ``to_json`` writes them)."""
    out = {}
    for k, v in doc.items():
        if k in TIMESTAMPS:
            v = None if v is None else parse_iso_us(v)
        elif k in NESTED:
            v = None if v is None else json.dumps(_drop_nulls(v), sort_keys=True, ensure_ascii=False)
        out[k] = v
    out["_source"] = SOURCE
    return tuple(sorted(out.items()))


def stored_rows(wh, coll: str) -> list[tuple]:
    from pyspark.sql import functions as F

    df = wh.read(coll)
    cols = []
    for name in df.columns:
        if name in ("_synced_at",) or name.startswith("_bucket"):
            continue
        cols.append(F.unix_micros(F.col(name)).alias(name) if name in TIMESTAMPS else F.col(name))
    out = []
    for row in df.select(*cols).collect():
        d = row.asDict()
        for k in NESTED & d.keys():
            if d[k] is not None:
                d[k] = json.dumps(json.loads(d[k]), sort_keys=True, ensure_ascii=False)
        out.append(tuple(sorted(d.items())))
    return out


def check_sync(spark, wh, landed, report_sql: str, report_rows) -> list[str]:
    """Problems found in the final warehouse state; empty when correct."""
    import datetime as dt

    from qms_datawarehouse_spark.operators import checkpoint, history

    from perfbench.reports import oracle_harness

    problems = []
    con = duckdb.connect()
    try:
        expected, hwm = fold(landed, con)
        for coll in COLLECTIONS:
            want = Counter(canonical(d) for d in expected[coll])
            got = Counter(stored_rows(wh, coll))
            if want != got:
                problems.append(
                    f"{coll}: {sum((got - want).values())} stored rows unexpected, "
                    f"{sum((want - got).values())} expected rows missing"
                )
            ckpt = checkpoint.get_last_synced(wh, SOURCE, coll)
            want_ckpt = EPOCH + dt.timedelta(microseconds=hwm[coll])
            if ckpt != want_ckpt:
                problems.append(f"{coll}: checkpoint {ckpt} != max cursor {want_ckpt}")
        counts = {r["collection"]: r["count"] for r in history.read_history(wh).groupBy("collection").count().collect()}
        for coll in COLLECTIONS:
            if counts.get(coll) != 2 * len(landed):
                problems.append(f"{coll}: {counts.get(coll)} history rows, want {2 * len(landed)}")

        def table(coll, cols):
            docs = [{c: d.get(c) for c in cols} for d in expected[coll]]
            frame = pd.DataFrame(docs, columns=cols)
            for c in TIMESTAMPS & set(cols):
                frame[c] = pd.to_datetime(frame[c], format="%Y-%m-%dT%H:%M:%S.%fZ")
            con.register(coll, frame)

        table("tickets", ["_id", "staffId", "served", "calledAt", "servedDate"])
        table("users", ["_id", "username"])
        table("ratings", ["ticketId", "stars"])
        res = con.execute(report_sql)
        harness = oracle_harness()
        cols = [d[0] for d in res.description]
        want = harness._rows_multiset(cols, res.fetchall())
        got = harness._rows_multiset(list(report_rows[0].asDict()) if report_rows else cols, [tuple(r) for r in report_rows or []])
        if want != got:
            problems.append(
                f"staff report: {sum((got - want).values())} rows unexpected, {sum((want - got).values())} missing"
            )
    finally:
        con.close()
    return problems
