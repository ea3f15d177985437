"""Partitioned-parquet table catalog — the warehouse layer of the runner.

``ParquetCatalog`` gives the runner its commit semantics on plain
parquet: partitioned layout (``warc_date=.../``), an append-only
lineage table via unique-file append (parquet part files with a
run-scoped name → atomic visibility on rename-capable filesystems),
and idempotent per-partition overwrite via Spark's dynamic
partitionOverwriteMode — used for pages_filtered AND the
metrics/dropped_by_rule tables (keyed by stage × partition_key) so
crash replays replace rather than double-count.
"""

from __future__ import annotations

import os

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

    def append(self, df: DataFrame, table: str,
               partition_by: list[str] | None = None) -> None:
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def overwrite_partitions(self, df: DataFrame, table: str,
                             partition_by: list[str]) -> None:
        """Idempotent per-partition overwrite (retry-safe commits)."""
        (df.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(*partition_by)
         .parquet(self.path(table)))
