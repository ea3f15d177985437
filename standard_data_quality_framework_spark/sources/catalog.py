"""Partitioned-parquet table catalog — the warehouse layer of the runner.

``ParquetCatalog`` gives the runner its commit semantics on plain
parquet: partitioned layout (``warc_date=.../``), an append-only
lineage table via unique-file append (parquet part files with a
run-scoped name → atomic visibility on rename-capable filesystems),
idempotent per-partition overwrite via Spark's dynamic
partitionOverwriteMode — used for pages_filtered AND the
metrics/dropped_by_rule tables (keyed by stage × partition_key) so
crash replays replace rather than double-count — and a whole-table
``replace`` by directory swap (dup_clusters).

Layout contract: every write goes through one writer, ``_write``. It
rebalances rows by the partition columns before the write
(``df.hint("rebalance", ...)``, Iceberg's ``distribution-mode=hash``),
so each partition gets one file per write instead of one per input
task — AQE coalesces the small partitions into few tasks and splits a
partition larger than its advisory size
(``spark.sql.adaptive.advisoryPartitionSizeInBytes``) into several
files, so a huge day never lands in one task. Every file is
zstd-compressed parquet.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


class ParquetCatalog:
    """Hive-style partitioned parquet tables under a warehouse dir."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        for root, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    @staticmethod
    def _write(df: DataFrame, path: str, mode: str,
               partition_by: list[str] | None = None) -> None:
        """The one parquet writer (see the module docstring's layout
        contract). An overwrite is dynamic: it replaces only the
        partitions ``df`` has rows for."""
        if partition_by:
            df = df.hint("rebalance", *partition_by)
        w = (df.write.mode(mode).option("compression", "zstd")
             .option("partitionOverwriteMode", "dynamic"))
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def append(self, df: DataFrame, table: str,
               partition_by: list[str] | None = None) -> None:
        self._write(df, self.path(table), "append", partition_by)

    def overwrite_partitions(self, df: DataFrame, table: str,
                             partition_by: list[str]) -> None:
        """Idempotent per-partition overwrite (retry-safe commits)."""
        self._write(df, self.path(table), "overwrite", partition_by)

    def replace(self, df: DataFrame, table: str) -> None:
        """Replace the whole table with ``df``, which may read the table
        itself: write ``<table>.stage.<tag>``, rename the live table to
        ``<table>.old.<tag>``, rename the stage into place, remove the
        old one. The table is written once and never read back.

        A failed write or first rename leaves the live table as it was
        (the stage is removed). A crash between the two renames leaves
        no table at ``<table>``: a caller that takes the table as its
        own commit (``run_global_dedup``) sees no table on the next run
        and rebuilds it from scratch.

        The catalog has one writer per table, so every
        ``<table>.stage.*``/``<table>.old.*`` sibling found before the
        write is a crash's leftover and is removed. That includes a
        stage found while the live table is missing: it is deleted, not
        swapped in, because a stage left by a killed write looks the
        same — the caller's full rebuild is the recovery. No leading
        underscore in those names: Spark treats ``_``-prefixed paths as
        hidden."""
        live = self.path(table)
        for stray in (glob.glob(f"{glob.escape(live)}.stage.*")
                      + glob.glob(f"{glob.escape(live)}.old.*")):
            shutil.rmtree(stray, ignore_errors=True)
        tag = uuid.uuid4().hex[:12]
        stage, old = f"{live}.stage.{tag}", f"{live}.old.{tag}"
        try:
            self._write(df, stage, "overwrite")
            if os.path.isdir(live):
                os.rename(live, old)
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise
        os.rename(stage, live)
        shutil.rmtree(old, ignore_errors=True)
