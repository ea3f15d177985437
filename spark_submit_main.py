"""spark-submit entry point for the quality-filter job.

Cluster usage:
    python make_pyfiles.py   # → dist/sdqf_spark.zip
    spark-submit --master yarn --deploy-mode cluster \\
        --py-files dist/sdqf_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.adaptive.skewJoin.enabled=true \\
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \\
        spark_submit_main.py --input <pages table/path> \\
        --warehouse <warehouse uri> [--run-id r42] [--streaming]

Local smoke:
    python spark_submit_main.py --input /tmp/pages.parquet \\
        --warehouse /tmp/wh --cores 8
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="SDQF-Spark quality filter")
    p.add_argument("--input", required=True,
                   help="pages parquet path / Iceberg table")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--run-id", default=None)
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] cores (omit on a real cluster)")
    p.add_argument("--streaming", action="store_true",
                   help="incremental mode via Structured Streaming, "
                        "into the warehouse's own pages_filtered_stream "
                        "table (batch_id × warc_date), not the batch "
                        "run's pages_filtered")
    p.add_argument("--global-dedup", action="store_true",
                   help="cross-day near-dup clustering over the "
                        "warehouse's pages_filtered → dup_clusters")
    p.add_argument("--dedup-threshold", type=float, default=0.85)
    p.add_argument("--full-dedup", action="store_true",
                   help="force a from-scratch global dedup instead of "
                        "the incremental delta vs prior canonicals")
    p.add_argument("--max-bucket-size", type=int, default=500,
                   help="LSH hot-bucket candidate cap (identical docs "
                        "still cluster via exact-hash star edges)")
    args = p.parse_args(argv)

    from standard_data_quality_framework_spark.session import get_spark
    spark = get_spark("sdqf_quality_filter", cores=args.cores)

    if args.streaming:
        from standard_data_quality_framework_spark.streaming.quality_stream \
            import run_streaming_filter
        q = run_streaming_filter(
            spark, args.input, f"{args.warehouse}/pages_filtered_stream",
            f"{args.warehouse}/_checkpoints", trigger_once=True)
        q.awaitTermination()
        print(json.dumps({"mode": "streaming", "status": "done"}))
        return 0

    if args.global_dedup:
        from standard_data_quality_framework_spark.runner import (
            run_global_dedup)
        summary = run_global_dedup(spark, args.warehouse,
                                   run_id=args.run_id,
                                   threshold=args.dedup_threshold,
                                   max_bucket_size=args.max_bucket_size,
                                   incremental=not args.full_dedup)
        print(json.dumps(summary))
        return 0

    from standard_data_quality_framework_spark.runner import run
    pages = spark.read.parquet(args.input)
    summary = run(spark, pages, args.warehouse, run_id=args.run_id)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
