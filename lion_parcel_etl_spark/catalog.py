"""Parquet-backed warehouse with one atomic write path.

Replaces the reference's Postgres schemas/tables (``CREATE SCHEMA IF NOT
EXISTS`` at ``public/lion_parcell_bonus_test_stg.py:269-270``,
truncate-reload at ``public/source_transaction_lion_parcel.py:50-68``).

A table is a directory of parquet files plus a ``_schema.json`` file at
its root holding the table's Spark schema. A DataFrame becomes a table
directory in one place: :meth:`Warehouse.publish` writes it into
``staging_dir(<table>)`` and installs it at the table root with
:func:`swap_dir`. No other module stages or swaps a directory. This is
the non-transactional stand-in for Postgres MERGE atomicity documented in
SURVEY.md §7 hard part 4 — on a real deployment you'd back this with a
table format (Delta/Iceberg) instead, but the engine API stays the same.

The schema file plays the role of Postgres's catalog (or a Hive
metastore, or a Delta log): :meth:`Warehouse.read` hands it to
``spark.read.schema``, so a read runs no schema-inference job and
partition columns keep their written types (a boolean partition reads
back as a boolean, not a string). Every publish stages it with the
data. The registry's session stores (``plans/queries._session_store``)
are tables of a per-session warehouse, so they get theirs the same way.
Spark, pyarrow and :func:`~lion_parcel_etl_spark.metrics.scan_parquet_dir`
all skip the ``_``-prefixed file. A directory without it (written before
schema files existed, or by hand) is read by inference.

The suffix grammar of the debris a crashed write leaves is defined here
too: ``<path>.__tmp__<8hex>`` (staged next to the table, never
installed) and ``.<leaf>.__old__<8hex>`` (demoted by a swap, in the
same directory; the ``.`` prefix keeps a demoted directory out of
every reader's listing). :data:`ORPHAN_NAME` parses both for
operators/maintenance.vacuum, which also still clears the debris older
layouts left: undotted ``<table>.__old__<8hex>`` siblings and in-table
dirs (``state=…``, ``bucket-N``, ``day=…``).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

ORPHAN_NAME = re.compile(r"^\.?(?P<base>.+)\.(?P<marker>__tmp__|__old__)[0-9a-f]{8}$")
SCHEMA_FILE = "_schema.json"


def staging_dir(path: str) -> str:
    """A fresh ``<path>.__tmp__<8hex>`` sibling of ``path`` to stage a
    write in. Staging next to the table, never inside it, keeps an
    unfinished write out of every reader's partition discovery."""
    return f"{path}.__tmp__{uuid.uuid4().hex[:8]}"


def swap_dir(tmp: str, dst: str) -> None:
    """Install ``tmp`` at ``dst`` with the crash-recoverable rename
    protocol; its only caller is Warehouse.publish, so ``dst`` is a
    table root. It demotes any existing ``dst`` to a
    ``.<leaf>.__old__<uuid8>`` sibling, renames ``tmp`` in and drops the
    old copy. Same-filesystem renames; a crash leaves either a
    ``__tmp__`` (unfinished, discard) or ``__old__`` (already superseded,
    or the only committed copy when the crash fell between the renames)
    orphan for recovery.

    Spark and pyarrow skip the ``.``-prefixed demoted name, so no
    reader of the database dir mistakes it for data."""
    parent, leaf = os.path.split(dst)
    old = os.path.join(parent, f".{leaf}.__old__{uuid.uuid4().hex[:8]}")
    if os.path.exists(dst):
        os.rename(dst, old)
    os.rename(tmp, dst)
    if os.path.exists(old):
        shutil.rmtree(old)


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable: the schema
    Spark's parquet inference reports for the data ``dt`` describes."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _table_schema(df: DataFrame, partition_by: list[str] | None = None) -> T.StructType:
    """The schema a read of ``df`` written with ``partition_by`` reports:
    partition columns last, in ``partition_by`` order and their written
    types; every field nullable."""
    parts = [p.lower() for p in partition_by or []]
    data = [f for f in df.schema if f.name.lower() not in parts]
    last = [f for p in parts for f in df.schema if f.name.lower() == p]
    return _as_nullable(T.StructType(data + last))


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

    def table_path(self, name: str) -> str:
        """``db.table`` or bare ``table`` (default db)."""
        parts = name.split(".")
        if len(parts) == 1:
            parts = ["default", parts[0]]
        return os.path.join(self.root, *parts)

    def exists(self, name: str) -> bool:
        """True when the table directory holds parquet data, at its root
        or in a partition dir (os.walk stops at the first hit).
        Raises when the table is absent but its demoted copy
        ``.<leaf>.__old__<8hex>`` is not: a swap crashed between its
        renames, and "no table" would send an incremental writer down its
        first-load branch, losing history. vacuum restores it (not done
        here: a live swap passes through the same state)."""
        path = self.table_path(name)
        if not os.path.isdir(path):
            db, leaf = os.path.split(path)
            for d in os.listdir(db) if os.path.isdir(db) else []:
                m = ORPHAN_NAME.match(d)
                if d.startswith(".") and m and m["marker"] == "__old__" and m["base"] == leaf:
                    raise RuntimeError(
                        f"table {name!r} survives only as {os.path.join(db, d)!r}; restore "
                        "it with operators.maintenance.vacuum(wh, min_age_seconds=0)"
                    )
            return False
        for _dirpath, _dirs, files in os.walk(path):
            if any(f.endswith(".parquet") or f == "_SUCCESS" for f in files):
                return True
        return False

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """The table, typed by its ``_schema.json`` (no Spark job), or by
        parquet schema inference when the table has none (a table
        written before schema files existed)."""
        path = self.table_path(name)
        try:
            with open(os.path.join(path, SCHEMA_FILE)) as f:
                schema = T.StructType.fromJson(json.load(f))
        except FileNotFoundError:
            return spark.read.parquet(path)
        return spark.read.schema(schema).parquet(path)

    def publish(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
    ) -> str:
        """Write ``df`` into a staging dir next to table ``name`` and
        swap it in at the table dir. A concurrent reader sees the old or
        the new directory, never a partial write. Returns the installed
        directory.

        The table's ``_schema.json`` is staged with the data, so both
        swap in together. Spark refreshes cached plans only over the
        path it wrote (the staging dir), so the install refreshes every
        cached plan over the table path: a pinned read of the replaced
        table would otherwise keep serving its old rows."""
        table = self.table_path(name)
        tmp = staging_dir(table)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        with open(os.path.join(tmp, SCHEMA_FILE), "w") as f:
            f.write(_table_schema(df, partition_by).json())
        swap_dir(tmp, table)
        df.sparkSession.catalog.refreshByPath(table)
        return table

    def record(self, name: str, path: str) -> None:
        """Attribute the directory a write installed to ``name`` in
        ``metrics`` (a no-op without one)."""
        if self.metrics is not None:
            self.metrics.record_write(name, path)

    def overwrite(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
    ) -> None:
        """Atomic full-replace (reference K1/K2 truncate-reload semantics)."""
        self.record(name, self.publish(df, name, partition_by=partition_by))

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
