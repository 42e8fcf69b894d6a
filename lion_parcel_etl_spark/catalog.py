"""Parquet-backed warehouse with one atomic write path.

Replaces the reference's Postgres schemas/tables (``CREATE SCHEMA IF NOT
EXISTS`` at ``public/lion_parcell_bonus_test_stg.py:269-270``,
truncate-reload at ``public/source_transaction_lion_parcel.py:50-68``).

A table is a directory of parquet files. A DataFrame becomes a table
directory in one place: :meth:`Warehouse.publish` writes it into
``staging_dir(<table>)`` and installs it with :func:`swap_dir`, at the
table or at one of its partition directories. This is the
non-transactional stand-in for Postgres MERGE atomicity documented in
SURVEY.md §7 hard part 4 — on a real deployment you'd back this with a
table format (Delta/Iceberg) instead, but the engine API stays the same.

The suffix grammar of the debris a crashed write leaves is defined here
too: ``<path>.__tmp__<8hex>`` (staged, never installed) and
``<path>.__old__<8hex>`` (demoted by a swap; next to the table for a
micro-batch dir). :data:`ORPHAN_NAME` parses it for
operators/maintenance.vacuum.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

ORPHAN_NAME = re.compile(r"^(?P<base>.+)\.(?P<marker>__tmp__|__old__)[0-9a-f]{8}$")
BATCH_ID = "__batch_id"


def staging_dir(path: str) -> str:
    """A fresh ``<path>.__tmp__<8hex>`` sibling of ``path`` to stage a
    write in. Staging next to the table, never inside it, keeps an
    unfinished write out of every reader's partition discovery."""
    return f"{path}.__tmp__{uuid.uuid4().hex[:8]}"


def swap_dir(tmp: str, dst: str) -> None:
    """Install ``tmp`` at ``dst`` with the crash-recoverable rename
    protocol every materializer shares. Its callers are
    Warehouse.publish and the two writers that stage their own output:
    the bucketed SCD2 first load and ``rebucket`` (via
    ``scd2._stage_buckets``), and merge_upsert_partitioned's
    per-partition loop. It demotes any existing ``dst`` to a
    ``.__old__<uuid8>`` sibling, renames ``tmp`` in and drops the old
    copy. Same-filesystem renames; a crash leaves either a ``__tmp__``
    (unfinished, discard) or ``__old__`` (already superseded) orphan for
    recovery.

    A micro-batch directory (``<table>/__batch_id=<id>``) is demoted
    next to its TABLE instead. In the table, ``__batch_id=N.__old__x``
    contains ``=``, so partition discovery would read it as one more
    batch: readers would count batch N twice until the old copy is
    gone, and for good after a crash before that. The stream replays an
    uncommitted batch, so the demoted copy never needs restoring and
    vacuum removes it."""
    parent, leaf = os.path.split(dst)
    near = parent if leaf.startswith(f"{BATCH_ID}=") else dst
    old = f"{near}.__old__{uuid.uuid4().hex[:8]}"
    if os.path.exists(dst):
        os.rename(dst, old)
    os.rename(tmp, dst)
    if os.path.exists(old):
        shutil.rmtree(old)


class Warehouse:
    """A directory of databases, each a directory of parquet tables.

    Pass a :class:`~lion_parcel_etl_spark.metrics.RunMetrics` as
    ``metrics`` to get structured rows/bytes per write (the reference's
    ``MERGE 20`` / ``INSERT 0 13`` log lines as data); collection reads
    parquet footers only — no recompute of the written DataFrame.
    """

    def __init__(self, root: str, metrics=None):
        self.root = root
        self.metrics = metrics
        os.makedirs(root, exist_ok=True)

    def create_database(self, name: str) -> None:
        os.makedirs(os.path.join(self.root, name), exist_ok=True)

    def table_path(self, name: str) -> str:
        """``db.table`` or bare ``table`` (default db)."""
        parts = name.split(".")
        if len(parts) == 1:
            parts = ["default", parts[0]]
        return os.path.join(self.root, *parts)

    def exists(self, name: str) -> bool:
        """True when the table directory holds any parquet data —
        including under partition subdirectories (day=…, __batch_id=…),
        which a top-level-only listing would miss. os.walk short-
        circuits on the first data file, so this is O(dirs-until-hit),
        not a full-tree scan."""
        path = self.table_path(name)
        if not os.path.isdir(path):
            return False
        for _dirpath, _dirs, files in os.walk(path):
            if any(f.endswith(".parquet") or f == "_SUCCESS" for f in files):
                return True
        return False

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(self.table_path(name))

    def publish(
        self,
        df: DataFrame,
        name: str,
        dst: str | None = None,
        partition_by: list[str] | None = None,
    ) -> str:
        """Write ``df`` into a staging dir next to table ``name`` and
        swap it in at ``dst`` (default: the table dir; may be one of its
        partition directories). A concurrent reader sees the old or the
        new directory, never a partial write. Returns ``dst``."""
        table = self.table_path(name)
        dst = dst or table
        tmp = staging_dir(table)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        swap_dir(tmp, dst)
        return dst

    def record(self, name: str, *paths: str) -> None:
        """Attribute the directories a write installed to ``name`` in
        ``metrics`` (a no-op without one)."""
        if self.metrics is not None:
            self.metrics.record_write(name, *paths)

    def overwrite(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
    ) -> None:
        """Atomic full-replace (reference K1/K2 truncate-reload semantics)."""
        self.record(name, self.publish(df, name, partition_by=partition_by))

    def append_batch(self, df: DataFrame, name: str, batch_id: int | str) -> None:
        """Idempotent append for checkpointed micro-batch writers: the
        batch is published to a ``__batch_id=<id>`` partition directory,
        so a checkpoint REPLAY of the same batch rewrites its own
        directory instead of duplicating rows — the plain-parquet
        stand-in for a table format's transactional append. Readers see
        ``__batch_id`` as a partition column; select explicit columns
        (or drop it) downstream.

        Neither the staged batch (:func:`staging_dir`) nor the committed
        copy a replay demotes (:func:`swap_dir`) is ever inside the
        table: a name like ``__batch_id=N.__tmp__x`` contains ``=``, so
        partition discovery would read it as a real partition and
        double-count batch N for every reader. A crash anywhere in the
        write leaves readers on committed batches only (batch N is
        missing after a crash between the swap's two renames); the
        stream recovers by checkpoint REPLAY, and vacuum removes the
        debris next to the table.
        """
        dst = os.path.join(self.table_path(name), f"{BATCH_ID}={batch_id}")
        self.record(name, self.publish(df, name, dst))

    def drop(self, name: str) -> None:
        path = self.table_path(name)
        if os.path.exists(path):
            shutil.rmtree(path)


def write_csv(df: DataFrame, path: str) -> None:
    """Single-file CSV with header (reference K4 golden/audit outputs,
    ``public/lion_parcell_bonus_test_stg.py:313-314``). coalesce(1) is
    deliberate and ONLY for small golden outputs — never for data-scale
    tables, where it would serialize the job onto one task."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
