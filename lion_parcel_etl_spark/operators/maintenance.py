"""Table maintenance: small-file compaction and sorted layout rewrite.

The reference never needs this (Postgres tables, ≤20 rows —
SURVEY.md §6), but any parquet warehouse fed by incremental merges
(operators/merge_upsert.py) accretes small files: at 100 TB a table touched hourly for a year is ~10^4 commits,
and a scan pays an open/footer-parse per file. Compaction rewrites a
table to ~target-sized files; the optional sort column rewrites the
layout so parquet row-group min/max stats turn point/range predicates
into file- and row-group-level skips (poor man's Z-order on one key).

Both paths go through ``Warehouse.overwrite``'s tmp-write-and-swap, so
readers never observe a half-compacted table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from lion_parcel_etl_spark.catalog import ORPHAN_NAME, Warehouse

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def table_file_stats(wh: Warehouse, name: str) -> tuple[int, int]:
    """(parquet file count, total bytes) for a warehouse table."""
    root = wh.table_path(name)
    n = 0
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(dirpath, f))
    return n, total


def compact(
    spark: SparkSession,
    wh: Warehouse,
    name: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    sort_by: str | None = None,
    partition_by: list[str] | None = None,
) -> dict:
    """Rewrite ``name`` into ~``target_file_bytes`` files.

    File count = ceil(current_bytes / target). Without ``sort_by`` the
    rewrite is a shuffle-free coalesce read+write. With ``sort_by`` it
    is one range-partitioning exchange (``repartitionByRange``) +
    within-partition sort, giving globally range-clustered files whose
    min/max footer stats are disjoint — the scan-time pruning win that
    pays for the one-off sort. Returns before/after stats so callers
    (and tests) can assert the rewrite did what it claimed.
    """
    files_before, bytes_before = table_file_stats(wh, name)
    n_out = max(1, -(-bytes_before // max(1, target_file_bytes)))
    df: DataFrame = wh.read(spark, name)
    if sort_by is not None:
        df = df.repartitionByRange(n_out, sort_by).sortWithinPartitions(sort_by)
    else:
        df = df.coalesce(n_out)
    wh.overwrite(df, name, partition_by=partition_by)
    files_after, bytes_after = table_file_stats(wh, name)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes_before": bytes_before,
        "bytes_after": bytes_after,
        "target_files": n_out,
    }


def vacuum(wh: Warehouse, min_age_seconds: float = 3600.0) -> list[str]:
    """Clean up ``.__tmp__*`` / ``.__old__*`` directories left by a
    writer that crashed between its write and its swap (the suffix
    grammar is ``catalog.ORPHAN_NAME``).

    Crash-recovery rule first, deletion second: a swap renames
    ``base -> .base.__old__x`` and then ``tmp -> base``; a crash between
    the two leaves the COMMITTED data only in ``__old__`` with no
    ``base``. Such an ``__old__`` is RESTORED (renamed back to
    ``base``), never deleted — deleting it would turn a recoverable
    crash into permanent data loss. Only debris whose base path exists
    (i.e. genuinely superseded or uncommitted) is removed.

    Age check: a directory counts as stale only when the NEWEST mtime
    in its whole tree is older than ``min_age_seconds`` — a live
    long-running write keeps touching files deep inside its tmp dir,
    so it can never look stale no matter how long the job runs (the
    top-level mtime alone is set at job start and would).

    Returns the removed paths (restores are not in the list).
    """
    import shutil
    import time

    def newest_mtime(path: str) -> float:
        newest = os.path.getmtime(path)
        for dp, dns, fns in os.walk(path):
            for entry in dns + fns:
                try:
                    newest = max(newest, os.path.getmtime(os.path.join(dp, entry)))
                except OSError:
                    continue
        return newest

    removed: list[str] = []
    cutoff = time.time() - min_age_seconds
    for dirpath, dirnames, _files in os.walk(wh.root):
        for d in list(dirnames):
            m = ORPHAN_NAME.match(d)
            if not m:
                continue
            full = os.path.join(dirpath, d)
            base = os.path.join(dirpath, m.group("base"))
            try:
                stale = newest_mtime(full) <= cutoff
                if m.group("marker") == "__old__" and not os.path.exists(base):
                    # Interrupted swap: this is the only committed copy.
                    # Restore ONLY when stale — a baseless __old__ also
                    # exists for microseconds inside a LIVE swap (between
                    # its two renames), and restoring then would make the
                    # writer's tmp->final rename collide and crash it.
                    if stale:
                        os.rename(full, base)
                        dirnames.remove(d)
                    continue
                if stale:
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(full)
                    dirnames.remove(d)
            except OSError:
                continue
    return removed
