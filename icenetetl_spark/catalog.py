"""Parquet-backed table layer with upsert discipline.

Stands in for the reference's PostgreSQL storage: ``append_missing`` ≙
``INSERT ... ON CONFLICT DO NOTHING`` (processor.py:249-256, 326-333),
``upsert`` ≙ ``ON CONFLICT DO UPDATE`` (processor.py:395-401), ``overwrite``
≙ materialized-view refresh (processor.py:444-448).

Delta/Iceberg are not present in this environment, so merge semantics are
implemented as anti-join/union plans materialized via an atomic
staging-directory swap. On a production cluster the same call sites map 1:1
onto ``MERGE INTO`` against Delta/Iceberg tables (table-transactional,
concurrent-writer-safe) — this class is the seam where that swap happens.

Scale notes:
- ``append_missing`` reads only the key columns of the existing side
  (projection pushdown) and lets AQE broadcast the smaller side of the anti
  join. It anti-joins against the WHOLE existing table: no caller
  pre-filters it to the partitions the batch touches, so the key scan
  grows with history (pruning it is an open ROADMAP item).
- Tables are written ``partitionBy`` the columns declared in
  ``PARTITIONING`` — date + hemisphere, mirroring the reference's B-tree
  read-path indexes (processor.py:286-288) with layout instead of indexes.
- Every catalog write stores the table's read schema next to its data
  (``SCHEMA_FILE``), the way Postgres keeps a table's schema in its
  catalog. ``read`` hands it to ``spark.read.schema``, so opening a table
  launches no footer-reading inference job.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from icenetetl_spark.operators.relational import insert_missing, upsert as upsert_plan

PARTITIONING: dict[str, list[str]] = {
    "forecasts": ["hemisphere", "date_forecast_generated"],
    "cells": ["hemisphere"],
}

# Written into each table directory. The leading underscore makes Spark's
# file index and pyarrow's dataset discovery skip it.
SCHEMA_FILE = "_schema.json"


def _read_schema(df: DataFrame, partition_by: Sequence[str]) -> StructType:
    """The schema a Parquet read returns for ``df`` written with
    ``partitionBy(*partition_by)``: data columns in order, then the
    partition columns. (Spark reads every file-source column as nullable
    whatever the schema says, so nullability needs no adjusting.)"""
    fields = [f for f in df.schema if f.name not in partition_by]
    return StructType(fields + [df.schema[c] for c in partition_by])


def _writer(df: DataFrame, mode: str, partition_by: Sequence[str]):
    w = df.write.mode(mode)
    return w.partitionBy(*partition_by) if partition_by else w


class ParquetCatalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def exists(self, name: str) -> bool:
        """True iff the table directory holds at least one parquet data file
        (possibly nested under hive partition dirs). A dir containing only
        _SUCCESS markers or abandoned staging dirs is NOT a readable table."""
        p = self.path(name)
        if not os.path.isdir(p):
            return False
        for _root, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self, name: str) -> DataFrame:
        """The table, under its stored schema when it has one (no inference
        job); a directory without ``SCHEMA_FILE`` is read by inference."""
        path = self.path(name)
        try:
            with open(os.path.join(path, SCHEMA_FILE)) as f:
                schema = StructType.fromJson(json.load(f))
        except FileNotFoundError:
            return self.spark.read.parquet(path)
        return self.spark.read.schema(schema).parquet(path)

    def read_pruned(
        self, name: str, branches: Sequence[Sequence[tuple[str, str, object]]]
    ) -> DataFrame:
        """Read restricted to an OR of predicate conjunctions (each branch a
        list of ``(col, op, value)``): one scan with the literal disjunction
        pushed into it — Catalyst turns equality branches on layout columns
        into hive PartitionFilters, so only matching partition directories
        are listed. Shared seam with TxnParquetCatalog.read_pruned (which
        prunes at the manifest level instead), letting plan code like the
        latest-snapshot recompute stay catalog-agnostic."""
        from pyspark.sql import functions as F

        from icenetetl_spark.operators.relational import PRED_OPS

        disj = F.lit(False)
        for branch in branches:
            conj = F.lit(True)
            for col, op, value in branch:
                conj = conj & PRED_OPS[op](F.col(col), F.lit(value))
            disj = disj | conj
        return self.read(name).filter(disj)

    def _create(self, df: DataFrame, path: str, partition_by: Sequence[str]) -> None:
        """Write ``df`` as a whole table at ``path`` and store its read
        schema beside the data."""
        _writer(df, "overwrite", partition_by).parquet(path)
        with open(os.path.join(path, SCHEMA_FILE), "w") as f:
            f.write(_read_schema(df, partition_by).json())

    def _swap(self, name: str, df: DataFrame, partition_by: Sequence[str]) -> None:
        """Staged write + directory swap, so a plan reading the old table
        can finish materializing before the old files disappear."""
        staging = self.path(f".staging-{name}-{uuid.uuid4().hex[:8]}")
        self._create(df, staging, partition_by)
        target = self.path(name)
        if os.path.isdir(target):
            shutil.rmtree(target)
        os.rename(staging, target)

    def overwrite(self, name: str, df: DataFrame) -> None:
        """CREATE OR REPLACE TABLE AS SELECT — matview refresh semantics."""
        self._swap(name, df, PARTITIONING.get(name, ()))

    def append(self, name: str, df: DataFrame) -> None:
        _writer(df, "append", PARTITIONING.get(name, ())).parquet(self.path(name))

    def append_missing(self, name: str, df: DataFrame, keys: Sequence[str]) -> int:
        """INSERT ... ON CONFLICT DO NOTHING. Returns rows appended.
        Idempotent: replaying the same batch appends nothing."""
        if not self.exists(name):
            self._create(df, self.path(name), PARTITIONING.get(name, ()))
            return -1
        # The anti join puts the keys first; restore the table's column
        # order so every data file of the table has the same layout. The
        # checkpoint is eager: once it returns, `fresh` no longer reads the
        # target table lazily, so appending to those files is safe.
        fresh = (
            insert_missing(df, self.read(name), keys)
            .select(*df.columns)
            .localCheckpoint()
        )
        n = fresh.count()
        if n:
            self.append(name, fresh)
        return n

    def upsert(self, name: str, df: DataFrame, keys: Sequence[str]) -> None:
        """INSERT ... ON CONFLICT DO UPDATE (last-writer-wins on key)."""
        if not self.exists(name):
            self._create(df, self.path(name), PARTITIONING.get(name, ()))
            return
        merged = upsert_plan(df, self.read(name), keys)
        self.overwrite(name, merged)

    def cluster_by(
        self,
        name: str,
        cols: Sequence[str],
        num_files: int | None = None,
        zorder: bool = False,
    ) -> None:
        """Rewrite the table clustered on ``cols`` so parquet min/max footer
        stats let filtered scans skip whole files/row-groups (this engine's
        replacement for the reference's secondary B-tree read-path indexes
        on date_forecast_for / cell_id, processor.py:286-288).

        ``zorder=False``: range-partition + sort — each file covers a
        disjoint range of the LEADING column (perfect skipping on it,
        nothing on the others). ``zorder=True`` (exactly 2 cols): cluster on
        the Morton-interleaved key (operators/scale.zorder_key) — Delta's
        OPTIMIZE ZORDER — so every file covers a small rectangle of BOTH
        dimensions and filters on either column skip files."""
        df = self.read(name)
        if num_files is None:
            num_files = max(8, df.rdd.getNumPartitions())
        if zorder:
            from icenetetl_spark.operators.scale import zorder_key

            key = zorder_key(df, cols).alias("__z")
            clustered = (
                df.withColumn("__z", key)
                .repartitionByRange(num_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            clustered = df.repartitionByRange(num_files, *cols).sortWithinPartitions(
                *cols
            )
        # plain (non-hive-partitioned) layout: clustering replaces
        # partitioning for high-cardinality columns
        self._swap(name, clustered, ())

    def compact(self, name: str, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Rewrite the table into ~target-sized files.

        Per-file micro-batch appends (streaming ingest: one file per trigger)
        accumulate small files, degrading scan parallelism and footer
        overhead — the lakehouse equivalent of index bloat. This is Delta's
        OPTIMIZE; here: size the partition count from on-disk bytes and
        rewrite through the atomic staging swap. Returns the file count
        after compaction.
        """
        total = 0
        for root, _dirs, files in os.walk(self.path(name)):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
        n_parts = max(1, -(-total // target_file_bytes))  # ceil
        df = self.read(name).repartition(n_parts)
        self.overwrite(name, df)
        return sum(
            1
            for root, _d, files in os.walk(self.path(name))
            for f in files
            if f.endswith(".parquet")
        )
