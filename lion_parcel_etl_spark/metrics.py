"""Structured run metrics: rows/bytes/files written per table per task.

The reference logs row counts from Postgres command tags — ``MERGE 20``,
``INSERT 0 13`` (reference ``dags/retail_hourly_etl.py`` task logs) —
and sizes via ``df.info(memory_usage='deep')`` (reference
``public/source_transaction_lion_parcel.py:79-83``). The engine analog
records, for every warehouse write, the written table's row count and
on-disk bytes as structured data the runner attaches to its per-task
report. Each write is tagged with the task running on the writing
thread (see :meth:`RunMetrics.running`), so the attribution holds while
independent tasks run side by side.

Counting is free of recompute: rows come from the parquet FOOTERS of
the files just written (pyarrow metadata read — no second action over
the DataFrame, which would re-execute the whole plan), bytes from file
sizes. Both are O(files) local metadata operations, the same cost as
the directory swap that precedes them.
"""

from __future__ import annotations

import contextlib
import os
import threading
from dataclasses import dataclass, field


@dataclass
class WriteMetrics:
    table: str
    rows: int
    bytes: int
    files: int
    task: str | None = None

    def as_dict(self) -> dict:
        return {
            "table": self.table,
            "rows": self.rows,
            "bytes": self.bytes,
            "files": self.files,
        }


def scan_parquet_dir(path: str) -> tuple[int, int, int]:
    """(rows, bytes, files) for every parquet file under ``path``,
    read from footers/stat — never from data pages."""
    import pyarrow.parquet as pq

    rows = size = files = 0
    for dirpath, _dirnames, filenames in os.walk(path):
        for f in filenames:
            if not f.endswith(".parquet"):
                continue
            fp = os.path.join(dirpath, f)
            rows += pq.ParquetFile(fp).metadata.num_rows
            size += os.path.getsize(fp)
            files += 1
    return rows, size, files


@dataclass
class RunMetrics:
    """Accumulates WriteMetrics, each tagged with the task running on
    the writing thread; the runner filters the list per task."""

    writes: list[WriteMetrics] = field(default_factory=list)
    _current: threading.local = field(
        default_factory=threading.local, repr=False, compare=False
    )

    @contextlib.contextmanager
    def running(self, task: str):
        """Tag every write this thread records inside the block with
        ``task`` (the runner wraps each task's attempts in it)."""
        prev = getattr(self._current, "task", None)
        self._current.task = task
        try:
            yield
        finally:
            self._current.task = prev

    def record_write(self, table: str, path: str) -> WriteMetrics:
        """One WriteMetrics over the table directory a write
        installed."""
        task = getattr(self._current, "task", None)
        wm = WriteMetrics(table, *scan_parquet_dir(path), task)
        self.writes.append(wm)
        return wm

    def mark(self) -> int:
        """Position marker; writes[mark:] are the ones since (for
        serial callers — concurrent tasks filter on ``task``)."""
        return len(self.writes)
