"""Scale-adaptive scan fan-out for CPU-heavy row-local operators.

The guide's §2 assumption — "zero-shuffle row-local work is free to
parallelize" — only holds when the SCAN yields enough splits. A
parquet file is splittable at ROW-GROUP granularity, and the driver
testdata ships one row group per table, so every shuffle-free text
operator (winnowing, shingle hashing, DSIR features, quality scores)
was executing its md5-heavy projection chain on ONE core of 32
(measured: winnowing_fingerprints 31.5 s at sf1.0 ≈ 12.5M interpreted
md5s single-threaded).

``fan_out`` plants one round-robin repartition of the raw rows ONLY
when the input is a narrow scan-rooted plan whose actual partition
count is below the session's default parallelism — on a well-split
production scan (100 TB over thousands of row groups) it is a no-op,
so this is not a local-mode constant but a derive-from-input rule
(guide §2: "make partitioning scale-adaptive"). The shuffle moves
each text byte once, which is orders of magnitude cheaper than
leaving 31/32 cores idle through the per-row CPU that follows. An
explicit partition count is used so AQE's coalescing (advisory sizes
tuned for shuffle-bound stages) cannot fold the small-but-CPU-dense
partitions back together.

Wide plans (joins/aggregates/windows upstream) pass through
untouched, for two reasons: their parallelism is already set by the
shuffle that produced them, and — measured — calling
``df.rdd.getNumPartitions()`` on an AQE plan with query stages
EXECUTES those stages during planning (an extra hidden run of the
whole upstream subtree; this regressed curation_pipeline by ~1.4 s
before the guard). The wide-plan test reads the ANALYZED logical
plan, which triggers no execution.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_WIDE_NODE = re.compile(
    r"(?m)^[\s+:*()\d-]*(Join\b|Aggregate\b|Window\b|Sort\b|"
    r"RepartitionByExpression\b|Repartition\b|RebalancePartitions\b|"
    r"Deduplicate\b|CoGroup\b|FlatMapGroups|MapGroups|GlobalLimit\b)")


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism iff it
    is a narrow scan-rooted frame with fewer partitions — a no-op on
    well-split or already-shuffled inputs."""
    target = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().analyzed().toString()
    if _WIDE_NODE.search(plan):
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
