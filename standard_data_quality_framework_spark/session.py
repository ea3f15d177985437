"""SparkSession factory tuned for the quality-filter workload.

Local mode for tests/bench; the same config block is what we'd ship in
spark-defaults for a real cluster (AQE, Arrow, sensible shuffle sizing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sdqf_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` → ``local[*]``. ``shuffle_partitions`` defaults to the
    core count — on a real cluster this would be ~2-3× total executor
    cores; AQE coalescing makes the exact number non-critical.
    """
    cores_s = "*" if cores is None else str(cores)
    n_shuffle = shuffle_partitions or (os.cpu_count() if cores is None else cores)
    b = (
        SparkSession.builder.master(f"local[{cores_s}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Byte-bound the Arrow batches that pandas UDFs and
        # applyInPandas exchange with Python workers (Spark 4 knob;
        # createDataFrame/toPandas batching ignores it): multi-KB
        # text rows would otherwise ship ~40 MB batches (10k records)
        # to the process_page workers — measured on the 600k-page
        # pipeline at 32 cores, clamping to 8 MB (~2k text rows/batch)
        # cut the median ~10% and removed a 2-3× long-tail of memory-
        # spike runs, while narrow numeric UDF traffic (embedding
        # verify) stays at the 10k-record bound. Row-size-dependent,
        # not data-size-dependent.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "8388608")
        .config("spark.driver.memory", os.environ.get("SDQF_DRIVER_MEM", "16g"))
        # JIT flags, kept by measurement: HotSpot leaves methods over
        # 8000 bytecodes in the interpreter by default, and Spark's
        # generated code can exceed that. A/B on a 4-core VM, 5
        # interleaved perfbench pairs per workload, medians with vs
        # without the flags: filter_batch run_s 15.6 s vs 16.4 s and
        # setup_s 8.1 s vs 8.8 s (flags faster in 5 of 5 pairs);
        # ingest_day run_s 24.0 s vs 24.7 s, setup_s level (8.1 s vs
        # 8.0 s). The run_s gaps sit inside the run-to-run spread. The
        # executor setting matters on a cluster; in local mode one JVM
        # runs the tasks.
        .config("spark.driver.extraJavaOptions",
                "-XX:-DontCompileHugeMethods "
                "-XX:ReservedCodeCacheSize=512m")
        .config("spark.executor.extraJavaOptions",
                "-XX:-DontCompileHugeMethods "
                "-XX:ReservedCodeCacheSize=512m")
        .config("spark.ui.enabled", "false")
        # parquet split sizing: at 100 TB this keeps scan tasks ~128 MB
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
