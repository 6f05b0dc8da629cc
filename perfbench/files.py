"""Warehouse file counters, read from outside by walking table dirs.

A commit's new version directory holds files it wrote (new inodes) and
files it inherited from the base version by hardlink (inodes the base
already had). Counting both per commit, and the bytes and rows of the
written ones, gives the write cost; walking every retained version
gives the space the table occupies against what a reader scans.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

BUCKET_PREFIX = "_bucket="


def _data_files(vdir: str | None) -> dict[str, os.stat_result]:
    out = {}
    if vdir is None:
        return out
    for dirpath, _, names in os.walk(vdir):
        for name in names:
            if name.endswith(".parquet"):
                path = os.path.join(dirpath, name)
                out[path] = os.stat(path)
    return out


def snapshot(wh) -> dict[str, set[int]]:
    """Inodes of every table's current version, before a commit."""
    return {
        t: {st.st_ino for st in _data_files(wh.current_version_dir(t)).values()}
        for t in wh.list_tables()
    }


def commit_stats(wh, before: dict[str, set[int]], rows_merged: int) -> dict[str, float]:
    """Files written / linked by the commits since ``before``, the bytes
    and rows written, rows written per row merged, and the share of the
    largest table's buckets the commit rewrote."""
    written = linked = nbytes = nrows = 0
    share, largest = 0.0, -1
    for table in wh.list_tables():
        base = before.get(table, set())
        files = _data_files(wh.current_version_dir(table))
        if base and {st.st_ino for st in files.values()} == base:
            continue  # no new version
        touched, buckets = set(), set()
        for path, st in files.items():
            bucket = os.path.basename(os.path.dirname(path))
            buckets.add(bucket)
            if st.st_ino in base:
                linked += 1
                continue
            written += 1
            nbytes += st.st_size
            nrows += pq.ParquetFile(path).metadata.num_rows
            touched.add(bucket)
        if len(files) > largest and all(b.startswith(BUCKET_PREFIX) for b in buckets):
            largest = len(files)
            share = len(touched) / max(1, len(buckets))
    return {
        "warehouse.files_written": written,
        "warehouse.files_linked": linked,
        "warehouse.bytes_written": nbytes,
        "warehouse.write_amp": nrows / max(1, rows_merged),
        "merge.touched_bucket_share": share,
    }


def table_stats(wh) -> dict[str, float]:
    """Data files a reader of the current versions opens, and bytes held
    on disk (every retained version, each inode once) per byte read."""
    current_files = current_bytes = held = 0
    for table in wh.list_tables():
        files = _data_files(wh.current_version_dir(table))
        current_files += len(files)
        current_bytes += sum(st.st_size for st in files.values())
        inodes = {}
        for st in _data_files(wh.table_dir(table)).values():
            inodes[st.st_ino] = st.st_size
        held += sum(inodes.values())
    return {
        "warehouse.table_files": current_files,
        "warehouse.space_amp": held / max(1, current_bytes),
    }
