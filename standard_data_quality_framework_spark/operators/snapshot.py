"""Snapshot-diff / SCD2 operators over crawl tables.

A Common-Crawl-style warehouse re-crawls the same url set every cycle;
the natural Iceberg-era questions are "what changed between snapshot
N-1 and N?" (crawl_diff) and "what is the full validity history of
each url's content?" (scd2_history — slowly-changing-dimension type 2
ranges). Both recast the reference's duplicate/consistency checks
(/root/reference/src/quality_checks.py:245-275 duplicate rows,
uc3_timeseries_quality_checks.py stage consistency) into the
cross-snapshot axis.

Scale shape: crawl_diff is ONE full-outer hash join on the uniform
key (url); scd2_history is lag/lead windows partitioned by url — both
shuffle exactly once on a uniform key, no skew handling needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def crawl_diff(prev: DataFrame, curr: DataFrame, key_col: str,
               content_col: str) -> DataFrame:
    """(key, status, prev_hash, curr_hash) — full-outer content diff
    of two snapshots: status ∈ added | removed | changed | unchanged
    by md5 content hash. One hash join on the uniform key."""
    # md5(NULL) is NULL, which would misread a present-but-null row as
    # side-missing ("added"/"removed"); hash the empty string instead.
    nz = F.md5(F.coalesce(F.col(content_col), F.lit("")))
    a = prev.select(F.col(key_col).alias("key"), nz.alias("prev_hash"))
    b = curr.select(F.col(key_col).alias("key"), nz.alias("curr_hash"))
    status = (F.when(F.col("prev_hash").isNull(), "added")
              .when(F.col("curr_hash").isNull(), "removed")
              .when(F.col("prev_hash") == F.col("curr_hash"), "unchanged")
              .otherwise("changed"))
    return (a.join(b, "key", "full_outer")
            .select("key", status.alias("status"),
                    "prev_hash", "curr_hash"))


def scd2_history(snapshots: DataFrame, key_col: str, ts_col: str,
                 content_col: str) -> DataFrame:
    """SCD2 validity ranges: one row per (key, contiguous content run)
    with (key, content_hash, version, effective_from, effective_to,
    is_current). effective_to = the next run's effective_from (half-
    open range), null for the current version.

    Two windows partitioned by the uniform key: lag() marks content
    changes, a running sum numbers the runs, lead() closes each range.
    Re-appearing content (A → B → A) opens a NEW version — type-2
    history, not distinct-value dedup."""
    d = snapshots.select(F.col(key_col).alias("key"),
                         F.col(ts_col).alias("ts"),
                         # null-safe: md5(NULL) would make `_prev !=
                         # content_hash` NULL and break version numbering
                         F.md5(F.coalesce(F.col(content_col), F.lit("")))
                         .alias("content_hash"))
    w = Window.partitionBy("key").orderBy("ts")
    d = (d.withColumn("_prev", F.lag("content_hash").over(w))
         .withColumn("_chg",
                     (F.col("_prev").isNull()
                      | (F.col("_prev") != F.col("content_hash")))
                     .cast("int"))
         .withColumn("version", F.sum("_chg").over(w)))
    runs = (d.groupBy("key", "version", "content_hash")
            .agg(F.min("ts").alias("effective_from")))
    w2 = Window.partitionBy("key").orderBy("version")
    return (runs.withColumn("effective_to",
                            F.lead("effective_from").over(w2))
            .select("key", "content_hash", "version",
                    "effective_from", "effective_to",
                    F.col("effective_to").isNull().alias("is_current")))
