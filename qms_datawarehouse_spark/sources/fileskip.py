"""Footer-stats file skipping: manifest-pruned reads over plain parquet.

Table formats (Delta/Iceberg) keep per-file column min/max in a
manifest so a selective read opens only overlapping files. Plain
parquet directories have the same statistics — in every file's FOOTER —
but Spark only exploits them per-row-group *after* scheduling a task
per file. This module lifts them into an explicit manifest:

- ``build_file_manifest``: per (file, column) min/max harvested from
  parquet footers via pyarrow — METADATA-ONLY I/O (a footer is a few
  KB; no data pages are read). Driver-side loop here because the
  fixture has dozens of files; at 100 TB-scale file counts, distribute
  the same footer read over the file list with ``spark.read`` +
  ``mapInPandas`` (each task opens only footers) and persist the
  manifest as a table — the code path per file is identical.
- ``read_pruned``: plan a read over ONLY the files whose [min, max]
  overlaps the predicate range, then re-apply the predicate for
  row-level exactness.

Pairs with the z-order layout (operators/zorder.py): the curve makes
per-file ranges narrow on every curve column, which is what makes this
manifest selective. On a ts-sorted layout the same manifest prunes ts
but nothing else.

No reference counterpart (Postgres indexes own this there); this is
lakehouse physical design on Spark primitives.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from qms_datawarehouse_spark.plans.registry import query, tables


def build_file_manifest(path: str, cols: list[str]) -> list[dict]:
    """Per-file min/max for ``cols`` from parquet footers only.

    Returns ``[{"file": f, "<col>_min": v, "<col>_max": v, ...}, ...]``
    — row-group stats folded per file. Files lacking stats for a
    column get ``None`` bounds (never pruned — safe by construction).
    """
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        fpath = os.path.join(path, name)
        md = pq.ParquetFile(fpath).metadata
        schema_names = md.schema.names
        entry: dict = {"file": fpath}
        for col in cols:
            try:
                ci = schema_names.index(col)
            except ValueError:
                entry[f"{col}_min"] = None
                entry[f"{col}_max"] = None
                continue
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    mins, maxs = [], []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            entry[f"{col}_min"] = min(mins) if mins else None
            entry[f"{col}_max"] = max(maxs) if maxs else None
        out.append(entry)
    return out


def prune_files(
    manifest: list[dict], col: str, lo, hi
) -> tuple[list[str], int]:
    """Files whose [min, max] for ``col`` overlaps [lo, hi] (files
    without stats are conservatively kept). Returns (files, total)."""
    keep = []
    for e in manifest:
        mn, mx = e.get(f"{col}_min"), e.get(f"{col}_max")
        if mn is None or mx is None or (mx >= lo and mn <= hi):
            keep.append(e["file"])
    return keep, len(manifest)


def read_pruned(
    spark: SparkSession,
    manifest: list[dict],
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Read only the manifest files overlapping [lo, hi] on ``col``,
    with the exact range predicate re-applied (footer pruning is
    file-granular; the filter restores row-level semantics)."""
    from pyspark.sql import functions as F

    files, _ = prune_files(manifest, col, lo, hi)
    if not files:
        raise ValueError(
            "no files overlap the range — check column and bounds"
        )
    return (
        spark.read.parquet(*files)
        .filter((F.col(col) >= lo) & (F.col(col) <= hi))
    )


def file_manifest_df(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """The 100 TB form of ``build_file_manifest``: the file list is
    parallelized and each task opens ONLY the footers of its slice
    (same few-KB metadata reads, now cluster-wide). Returns the
    manifest AS A DATAFRAME with stat columns cast to their native
    parquet types (one O(1) driver-side footer read supplies the
    types) — so pruning stays a DataFrame ``filter`` and only the
    SURVIVING file paths are ever collected (``prune_files_df``).
    At O(10⁶) files the full manifest never rides to the driver;
    persist this DataFrame as a warehouse table and re-filter per
    query, exactly like a table format's manifest."""
    import pandas as pd

    files = sorted(
        os.path.join(path, n)
        for n in os.listdir(path)
        if n.endswith(".parquet")
    )
    cols_tuple = tuple(cols)

    def harvest(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        def as_str(v):
            # repr round-trips floats exactly; bytes are decoded (str()
            # would stringify as "b'...'", breaking any comparison);
            # str covers int/timestamp/date/decimal
            if isinstance(v, float):
                return repr(v)
            if isinstance(v, (bytes, bytearray)):
                return v.decode("utf-8", errors="replace")
            return str(v)

        for pdf in batches:
            rows = []
            for fpath in pdf["file"]:
                pf = pq.ParquetFile(fpath)
                md = pf.metadata
                sch = pf.schema_arrow
                names = md.schema.names
                entry = {"file": fpath}
                for col in cols_tuple:
                    mins, maxs = [], []
                    # raw-binary stats don't survive the string
                    # transport order-faithfully (utf-8 decode is
                    # lossy, lexicographic != bytewise); emit NULL
                    # bounds so such files are conservatively kept.
                    # `col in sch.names` too: parquet leaf paths
                    # include dotted NESTED leaves ('s.x') that are
                    # not arrow top-level fields — sch.field would
                    # raise and fail the whole manifest build; such
                    # columns degrade to NULL bounds instead
                    harvestable = (
                        col in names
                        and col in sch.names
                        and not (
                            pa.types.is_binary(t := sch.field(col).type)
                            or pa.types.is_large_binary(t)
                            or pa.types.is_fixed_size_binary(t)
                        )
                    )
                    if harvestable:
                        ci = names.index(col)
                        for rg in range(md.num_row_groups):
                            st = md.row_group(rg).column(ci).statistics
                            try:
                                ok = st is not None and st.has_min_max
                                if ok:
                                    mins.append(st.min)
                                    maxs.append(st.max)
                            except Exception:
                                # pyarrow can't decode min/max for some
                                # physical types (e.g. FIXED_LEN_BYTE_
                                # ARRAY decimals) — degrade to NULL
                                # bounds, never crash the manifest build
                                ok = False
                            if not ok:
                                mins, maxs = [], []
                                break
                    entry[f"{col}_min"] = as_str(min(mins)) if mins else None
                    entry[f"{col}_max"] = as_str(max(maxs)) if maxs else None
                rows.append(entry)
            yield pd.DataFrame(
                rows,
                columns=["file"]
                + [f"{c}_{s}" for c in cols_tuple for s in ("min", "max")],
                dtype=object,
            )

    file_df = spark.createDataFrame([(f,) for f in files], "file string")
    stat_fields = ", ".join(
        f"`{c}_min` string, `{c}_max` string" for c in cols
    )
    # stats travel as strings (Arrow's int/double/timestamp -> string
    # casts are round-trippable), so one schema serves every stat
    # column type; native python values are restored below from the
    # parquet schema
    out_df = file_df.repartition(min(len(files), 64)).mapInPandas(
        harvest, schema=f"file string, {stat_fields}"
    )
    # restore native types from the parquet schema (strings came back
    # from the Arrow transport) as DataFrame casts; one O(1) footer
    # read on the driver supplies the types
    if files and cols:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql import functions as F

        sch = pq.ParquetFile(files[0]).schema_arrow
        casts = []
        for c in cols:
            spark_t = None
            if c in sch.names:
                typ = sch.field(c).type
                if pa.types.is_boolean(typ):
                    spark_t = "boolean"
                elif pa.types.is_integer(typ):
                    spark_t = "long"
                elif pa.types.is_floating(typ):
                    spark_t = "double"
                elif pa.types.is_timestamp(typ):
                    spark_t = "timestamp"
                elif pa.types.is_date(typ):
                    spark_t = "date"
                elif pa.types.is_decimal(typ):
                    spark_t = f"decimal({typ.precision},{typ.scale})"
                # string/large_string stay string: lexicographic IS the
                # native order. Binary stats were nulled at harvest.
            for k in (f"{c}_min", f"{c}_max"):
                # backtick-quote: a dotted NESTED leaf name ('s.x_min')
                # would otherwise parse as a struct-field reference
                ref = F.col(f"`{k}`")
                casts.append(
                    ref.cast(spark_t).alias(k) if spark_t else ref.alias(k)
                )
        out_df = out_df.select("file", *casts)
    return out_df


def _overlap_condition(manifest_df, col: str, lo, hi):
    """Range-overlap filter column for one stat pair, or ``None`` when
    the manifest's stat type can't be compared against the probe
    bounds (the two-directional restore guard): string stats with a
    typed probe lexicographically mis-compare; typed stats with
    string bounds coerce to double and compare approximately past
    2^53. A None emits ``fileskip.prune_disabled`` so a stale
    manifest is noticed. NULL bounds conservatively keep the file."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from qms_datawarehouse_spark.observability import log_event

    mn_field = manifest_df.schema[f"{col}_min"]
    is_str_col = isinstance(mn_field.dataType, T.StringType)
    str_bounds = isinstance(lo, str), isinstance(hi, str)
    if (is_str_col and not all(str_bounds)) or (
        not is_str_col and any(str_bounds)
    ):
        log_event(
            "fileskip.prune_disabled",
            col=col,
            manifest_type=mn_field.dataType.simpleString(),
            probe_types=[type(lo).__name__, type(hi).__name__],
            reason="manifest stat type does not match probe bound type; "
            "this predicate prunes nothing — re-harvest the manifest",
        )
        return None
    mn, mx = F.col(f"`{col}_min`"), F.col(f"`{col}_max`")
    return mn.isNull() | mx.isNull() | ((mx >= F.lit(lo)) & (mn <= F.lit(hi)))


def prune_files_df(
    manifest_df: DataFrame, col: str, lo, hi
) -> list[str]:
    """DataFrame-native prune over a ``file_manifest_df`` manifest:
    the overlap predicate runs as a ``filter`` wherever the manifest
    lives (executor memory, a warehouse table, a parquet scan) and
    ONLY the surviving file paths are collected — the driver budget
    is O(files that will be read), never O(all files). Files without
    stats are conservatively kept, matching ``prune_files``. A
    type-mismatched probe (see ``_overlap_condition``) conservatively
    keeps ALL files — a wrong-results risk otherwise, not a perf
    one — and logs ``fileskip.prune_disabled``."""
    return prune_files_df_multi(manifest_df, {col: (lo, hi)})


def prune_files_df_multi(
    manifest_df: DataFrame, preds: dict
) -> list[str]:
    """CONJUNCTIVE prune: a file survives only if EVERY ``{col: (lo,
    hi)}`` predicate's range overlaps its stats — the read path the
    z-order layout exists for (a multi-column z-curve clusters every
    listed column, so the intersection of per-column overlaps prunes
    far harder than any single column; see test_fileskip's
    two-predicate z-layout case). A predicate whose stat type is
    degraded (``_overlap_condition`` → None) contributes no
    constraint — the OTHER predicates still prune, and only if every
    predicate degrades does the prune fall back to keep-all."""
    from pyspark.sql import functions as F

    cond = None
    for col, (lo, hi) in preds.items():
        c = _overlap_condition(manifest_df, col, lo, hi)
        if c is not None:
            cond = c if cond is None else cond & c
    if cond is None:  # every predicate degraded: conservative keep-all
        return sorted(r[0] for r in manifest_df.select("file").collect())
    kept = manifest_df.filter(cond)
    return sorted(r[0] for r in kept.select("file").collect())


def read_pruned_distributed(
    spark: SparkSession, manifest_df: DataFrame, col: str, lo, hi
) -> DataFrame:
    """``read_pruned`` over a DataFrame manifest: prune executor-side,
    collect only surviving paths, re-apply the exact predicate."""
    from pyspark.sql import functions as F

    files = prune_files_df(manifest_df, col, lo, hi)
    if not files:
        raise ValueError(
            "no files overlap the range — check column and bounds"
        )
    return (
        spark.read.parquet(*files)
        .filter((F.col(col) >= lo) & (F.col(col) <= hi))
    )


def build_file_manifest_distributed(
    spark: SparkSession, path: str, cols: list[str]
) -> list[dict]:
    """Collected form of ``file_manifest_df`` (one dict per file,
    native-typed stats — identical to the driver-side harvest, pinned
    in tests/test_fileskip.py). The collect here is O(ALL files) by
    construction: use it when the file count is manifest-sized; at
    large file counts keep the DataFrame form and prune with
    ``prune_files_df`` instead."""
    rows = file_manifest_df(spark, path, cols).collect()
    out = []
    for r in rows:
        e = r.asDict()
        for c in cols:
            for k in (f"{c}_min", f"{c}_max"):
                if hasattr(e.get(k), "to_pydatetime"):
                    e[k] = e[k].to_pydatetime()
        out.append(e)
    return sorted(out, key=lambda e: e["file"])


# --------------------------------------------------------------------
# Driver row: manifest-pruned read, value-equal to the plain filter
# --------------------------------------------------------------------

_ROUTED_FILES = 16


_FSKIP_SQL = """
    WITH r AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi
               FROM orders),
    sel AS (
        SELECT o.* FROM orders o, r
        WHERE o.o_orderkey >= r.lo
          AND o.o_orderkey <= r.lo + (r.hi - r.lo) // 8
    )
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM sel GROUP BY 1
"""


@query("fileskip_routed_scan", _FSKIP_SQL)
def fileskip_routed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A selective range scan routed through the footer-stats file
    manifest, value-equal to the plain range filter (the oracle):
    lay ``orders`` out range-partitioned + sorted on ``o_orderkey``
    (16 files, narrow per-file key ranges), harvest the per-file
    min/max manifest from parquet FOOTERS only, prune to the files
    overlapping the bottom eighth of the key domain, and re-apply
    the exact predicate on the surviving files. The equality IS the
    contract under driver verification: manifest pruning may keep
    extra files, never drop a matching row (the bloom row's
    no-false-negative argument, manifest edition).

    Scale shape: the layout write is the once-per-ingest cost a real
    table amortizes (here rebuilt per run, like the bloom row builds
    its index per run); the manifest is metadata-only I/O (KBs per
    file), pruning is a DataFrame filter collecting ONLY surviving
    paths (O(files read), never O(all files)), and the data read
    opens ~2 of 16 files for a 1/8th-domain predicate. At 100 TB the
    manifest persists as a table and this query is: filter manifest,
    read survivors — the Delta/Iceberg read path on plain parquet."""

    from pyspark.sql import functions as F

    (orders,) = tables(spark, sf_dir, "orders")
    row = orders.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).first()
    lo, hi = int(row["lo"]), int(row["hi"])
    cut = lo + (hi - lo) // 8
    # per-process per-sf layout dir (race isolation; the files must
    # outlive this call — the returned frame is lazy) with
    # stale-sibling cleanup (leak control) — tmputil.pid_scoped_dir
    from qms_datawarehouse_spark.tmputil import pid_scoped_dir

    path = pid_scoped_dir(
        "qms_fileskip_routed",
        os.path.basename(os.path.normpath(sf_dir)),
        "orders",
    )
    (
        orders.repartitionByRange(_ROUTED_FILES, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    manifest = file_manifest_df(spark, path, ["o_orderkey"])
    files = prune_files_df(manifest, "o_orderkey", lo, cut)
    kept = spark.read.parquet(*files).filter(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= cut)
    )
    return kept.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("total_cents"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )
