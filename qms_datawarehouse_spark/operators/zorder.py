"""Z-order (Morton-curve) data layout for multi-dimensional file skipping.

Single-column sort gives perfect min/max file pruning on ONE column and
none on any other. Interleaving the bits of several columns' rank codes
orders rows along a space-filling curve, so every file covers a narrow
range of EVERY participating column — a filter on any of them prunes
most files by parquet footer min/max stats. This is the standard
lakehouse layout trick (Delta/Iceberg `OPTIMIZE ZORDER BY`) re-expressed
with plain DataFrame ops; no reference counterpart (the reference
delegates physical layout to Postgres indexes).

Scale shape:
- Per-column quantile cut points come from ``approx_percentile`` — one
  JVM aggregate, driver receives ≤ ``2**bits`` doubles per column
  (bounded metadata, never data).
- Rank-code assignment is a fold over that small broadcast-literal
  array (``aggregate``; interpreted-lambda cost is bits·rows ≈ fine for
  a one-time load job — the hot read path never pays it).
- Bit interleave is pure codegen arithmetic (``shiftleft``/``|``).
- ``repartitionByRange(n_files, z)`` is the one shuffle (range
  exchange with a sampled boundary pass), then files are written
  z-contiguous. At 100 TB: n_files ≈ table_bytes / 512 MB; the shuffle
  is the same cost as any full-table sort and amortizes over every
  subsequent pruned read.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from qms_datawarehouse_spark.planaudit import record
from qms_datawarehouse_spark.plans.registry import query, tables
from qms_datawarehouse_spark.session import spread


def _rank_code(col: Column, cuts: list[float], bits: int) -> Column:
    """Map a value to its quantile bucket in [0, 2**bits) by counting
    how many cut points it exceeds (fold over a small literal array)."""
    # one expr string, not 2**bits F.lit py4j round-trips per column
    # (repr round-trips the exact doubles; D = Spark double literal)
    cuts_arr = F.expr(
        "array(" + ",".join(f"{float(c)!r}D" for c in cuts) + ")"
    )
    counted = F.aggregate(
        cuts_arr,
        F.lit(0),
        lambda acc, c: acc + F.when(col > c, F.lit(1)).otherwise(F.lit(0)),
    )
    return F.least(counted, F.lit(2**bits - 1))


def _interleave(codes: list[Column], bits: int) -> Column:
    """Morton-interleave ``bits``-wide codes: bit b of column i lands at
    position b*len(codes)+i. Pure integer codegen, no UDF."""
    n = len(codes)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, code in enumerate(codes):
            bit = F.shiftright(code, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit.cast("long"), b * n + i))
    return z


def _as_double(df: DataFrame, c: str) -> Column:
    """Numeric view of a column; timestamps (tz or ntz) become epoch
    micros so they order and bucket like any other number."""
    dtype = dict(df.dtypes)[c]
    col = F.col(c)
    if dtype.startswith("timestamp"):
        col = F.unix_micros(col.cast("timestamp"))
    elif dtype == "date":
        col = F.datediff(col, F.lit("1970-01-01"))
    return col.cast("double")


def zorder_cuts(df: DataFrame, cols: list[str], bits: int = 8) -> list:
    """Per-column ``approx_percentile`` cut points (2**bits − 1 doubles
    per column) in ONE aggregate pass — exposed so callers that already
    run a stats pass over ``df`` can fuse this into it and hand the
    result to ``zorder_code(cuts=...)`` / ``zorder_write(cuts=...)``."""
    num_cols = [_as_double(df, c) for c in cols]
    pcts = F.expr(
        "array("
        + ",".join(f"{i / (2**bits)!r}D" for i in range(1, 2**bits))
        + ")"
    )
    cuts_row = df.select(
        *[
            F.percentile_approx(nc, pcts, F.lit(10000)).alias(f"c{i}")
            for i, nc in enumerate(num_cols)
        ]
    ).first()
    return [list(cuts_row[i]) for i in range(len(cols))]


def zorder_code(
    df: DataFrame, cols: list[str], bits: int = 8, cuts: list | None = None
) -> Column:
    """The z-value column for ``cols`` (numeric/timestamp/date), using
    per-column ``approx_percentile`` cut points from ``df`` itself —
    or the caller's precomputed ``cuts`` (``zorder_cuts`` shape), which
    skips the stats pass entirely."""
    num_cols = [_as_double(df, c) for c in cols]
    if cuts is None:
        cuts = zorder_cuts(df, cols, bits)
    codes = [
        _rank_code(nc, cuts[i], bits) for i, nc in enumerate(num_cols)
    ]
    return _interleave(codes, bits)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 64,
    bits: int = 8,
    cuts: list | None = None,
) -> None:
    """Write ``df`` as (up to) ``n_files`` flat parquet files laid out
    along the z-curve of ``cols``: each file holds exactly one
    CONTIGUOUS z-value slice, so its footer min/max covers a narrow
    range of every z-ordered column.

    The slice a row belongs to is computed directly from its z-value
    (``z div step`` — rank codes are quantile-uniform by construction,
    so the slices carry ~equal mass), which makes the write ONE hash
    exchange. The previous ``repartitionByRange(n_files, z)`` form
    cost an extra full pass: the range partitioner's boundary-sampling
    job re-evaluated the per-row rank-code fold over the whole input
    before the exchange evaluated it again. Slice-per-file comes from
    a dynamic-partition write into a staging dir whose files are then
    moved (filesystem metadata only) into ``path`` flat — two slices
    hash-colliding into one task still land in separate files, and the
    footer-stats contract (one narrow slice per file) holds exactly.
    Whatever was at ``path`` is replaced.
    """
    # single-file sources read as ONE partition: the percentile pass
    # and the rank-code projection would run on one core, and the
    # clustering shuffle that follows pays for the spread anyway
    df = spread(df)
    z = zorder_code(df, cols, bits, cuts=cuts)
    span = 2 ** (bits * len(cols))
    step = max(1, span // n_files)
    staging = path.rstrip("/") + ".__zstage__"
    shutil.rmtree(staging, ignore_errors=True)
    staged = (
        df.withColumn("_z", z)
        .withColumn("_zf", F.expr(f"_z div {step}"))
        .repartition(n_files, "_zf")
        .sortWithinPartitions("_zf", "_z")
        .drop("_z")
    )
    # ONE hash exchange on the slice id — the old rangepartitioning
    # exchange carried a boundary-sampling pre-pass over the full
    # rank-code projection
    record("zorder_write", staged)
    staged.write.mode("overwrite").partitionBy("_zf").parquet(staging)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    try:
        for entry in sorted(os.listdir(staging)):
            if not entry.startswith("_zf="):
                continue
            slice_tag = entry.split("=", 1)[1]
            pdir = os.path.join(staging, entry)
            for fn in os.listdir(pdir):
                if fn.endswith(".parquet"):
                    os.replace(
                        os.path.join(pdir, fn),
                        os.path.join(path, f"zf{slice_tag}-{fn}"),
                    )
    finally:
        shutil.rmtree(staging, ignore_errors=True)


# --------------------------------------------------------------------
# Driver row: z-order-routed two-predicate scan, value-equal to the
# plain filter
# --------------------------------------------------------------------

_ZROUTE_FILES = 16

_ZROUTE_SQL = """
    WITH r AS (
        SELECT min(user_id) AS ulo, max(user_id) AS uhi,
               CAST(min(value) AS DOUBLE) AS vlo,
               CAST(max(value) AS DOUBLE) AS vhi
        FROM events
    ),
    sel AS (
        SELECT e.* FROM events e, r
        WHERE e.user_id >= r.ulo
          AND e.user_id <= r.ulo + (r.uhi - r.ulo) // 4
          AND CAST(e.value AS DOUBLE) >= r.vlo + (r.vhi - r.vlo) / 2
          AND CAST(e.value AS DOUBLE) <= r.vhi
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents,
           CAST(min(user_id) AS BIGINT) AS min_user,
           CAST(max(user_id) AS BIGINT) AS max_user
    FROM sel GROUP BY 1
"""


@query("zorder_routed_scan", _ZROUTE_SQL)
def zorder_routed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A TWO-predicate selective scan routed through a z-ordered
    layout, value-equal to the plain conjunctive filter (the oracle):
    lay ``events`` out along the (user_id, value) Morton curve
    (16 files — each file's footer covers a narrow slice of BOTH
    columns), harvest the per-file min/max manifest from footers
    only, prune CONJUNCTIVELY (`prune_files_df_multi` — a file
    survives only if every predicate overlaps), re-apply the exact
    predicate on the survivors. The sibling of `fileskip_routed_scan`
    for the case a single sort column cannot serve: a bottom-quarter
    user_id slice AND a top-half value slice each kill files the
    other keeps.

    The equality IS the contract: z-order pruning may keep extra
    files, never drop a matching row. An in-query guard additionally
    asserts the prune kept strictly fewer than all files — a
    degenerate keep-all layout fails loudly instead of silently
    passing as a full scan.

    Determinism: the user_id cut is integer floor-division (Spark
    `div` ≡ DuckDB `//` on non-negative ids); the value cut is the
    same IEEE expression vlo + (vhi − vlo)/2 evaluated on identical
    doubles in both engines — the oracle casts the FLOAT32 `value`
    column to DOUBLE in both the min/max CTE and the comparison
    (DuckDB otherwise evaluates the whole boundary in FLOAT, which
    rounds the cut differently from the Spark/Python float64 path
    and keeps/drops boundary rows data-dependently; float32→float64
    promotion itself is exact, so casting first makes both engines
    bit-identical).

    Scale shape: layout write amortized per-ingest (rebuilt per run
    like the bloom/fileskip rows); manifest I/O is footer-only; the
    data read opens only multi-predicate-surviving files. At 100 TB
    this is the Delta/Iceberg Z-ORDER read path on plain parquet."""
    from qms_datawarehouse_spark.sources.fileskip import (
        file_manifest_df,
        prune_files_df_multi,
    )

    (events,) = tables(spark, sf_dir, "events")
    events = spread(events)  # single-file source: one-partition scan
    # ONE stats pass serves the oracle's exact min/max cuts AND the
    # z-layout's per-column quantile cut points (previously two full
    # scans: this agg, then zorder_code's percentile pass inside
    # zorder_write)
    _zbits = 6
    _zpcts = F.expr(
        "array("
        + ",".join(f"{i / (2**_zbits)!r}D" for i in range(1, 2**_zbits))
        + ")"
    )
    row = events.agg(
        F.min("user_id").alias("ulo"),
        F.max("user_id").alias("uhi"),
        F.min("value").alias("vlo"),
        F.max("value").alias("vhi"),
        F.percentile_approx(
            F.col("user_id").cast("double"), _zpcts, F.lit(10000)
        ).alias("ucuts"),
        F.percentile_approx(
            F.col("value").cast("double"), _zpcts, F.lit(10000)
        ).alias("vcuts"),
    ).first()
    ulo, uhi = int(row["ulo"]), int(row["uhi"])
    vlo, vhi = float(row["vlo"]), float(row["vhi"])
    cuts = [list(row["ucuts"]), list(row["vcuts"])]
    u_cut = ulo + (uhi - ulo) // 4
    v_cut = vlo + (vhi - vlo) / 2

    # per-PROCESS layout dir (race isolation) with stale-sibling
    # cleanup (leak control) — see tmputil.pid_scoped_dir
    from qms_datawarehouse_spark.tmputil import pid_scoped_dir

    path = pid_scoped_dir(
        "qms_zorder_routed",
        os.path.basename(os.path.normpath(sf_dir)),
        "events",
    )
    zorder_write(
        events, path, ["user_id", "value"],
        n_files=_ZROUTE_FILES, bits=_zbits, cuts=cuts,
    )
    manifest = file_manifest_df(spark, path, ["user_id", "value"])
    files = prune_files_df_multi(
        manifest, {"user_id": (ulo, u_cut), "value": (v_cut, vhi)}
    )
    # compare against the files the layout ACTUALLY produced, not the
    # requested count: repartitionByRange can emit fewer than
    # n_files, and a keep-all prune of that smaller set must still
    # fail the claim
    n_layout = manifest.count()
    if len(files) >= n_layout:  # the row's claim IS the skip
        raise AssertionError(
            f"z-order prune kept all {n_layout} files — layout degenerate"
        )
    kept = spark.read.parquet(*files).filter(
        (F.col("user_id") >= ulo)
        & (F.col("user_id") <= u_cut)
        & (F.col("value") >= v_cut)
        & (F.col("value") <= vhi)
    )
    return kept.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("value_cents"),
        F.min("user_id").cast("long").alias("min_user"),
        F.max("user_id").cast("long").alias("max_user"),
    )
