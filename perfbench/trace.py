"""Traced run: each layer timed from outside, by calling its public
functions under a Spark job group of its own (``probes.Groups``), over
the same pages the workload's operation processes."""

from __future__ import annotations

import inspect
import os
import statistics
import time

from probes import Groups, fs_bytes_written


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _data_files(root: str) -> set[str]:
    return {os.path.join(r, f) for r, _d, fs in os.walk(root)
            for f in fs if f.endswith(".parquet")}


def _arrow_bytes(col, dtype):
    """Value bytes of one Arrow column (offsets and validity excluded)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    if isinstance(dtype, (T.StringType, T.BinaryType)):
        return F.coalesce(F.octet_length(col), F.lit(0))
    width = {T.BooleanType: 1, T.IntegerType: 4, T.FloatType: 4,
             T.LongType: 8, T.DoubleType: 8}[type(dtype)]
    return F.when(col.isNotNull(), F.lit(width)).otherwise(0)


def layer_metrics(spark, wl, groups: Groups) -> tuple[dict, list[str]]:
    """Per-layer metrics of one workload (times in seconds)."""
    from pyspark.sql import functions as F

    from standard_data_quality_framework_spark.functions.udfs import (
        make_udfs)
    from standard_data_quality_framework_spark.metrics import (
        dimension_metrics, dropped_by_rule, lineage_rows)
    from standard_data_quality_framework_spark.pipeline import (
        run_quality_filter, with_partition_cols, with_verdict)
    from standard_data_quality_framework_spark.runner import (
        STAGE, pending_dates)
    from standard_data_quality_framework_spark.sources.catalog import (
        ParquetCatalog)

    m: dict[str, float] = {}
    notes: list[str] = []
    sec = groups.seconds
    pages = spark.read.parquet(wl.inp.pages_dir)

    catalog = ParquetCatalog(spark, wl.fresh_warehouse())
    with groups.span("runner.pending_dates"):
        todo = pending_dates(catalog, pages)
        todo.count()
    m["runner.pending_dates_s"] = sec["runner.pending_dates"]
    # the runner's own restriction of the input to pending days
    pages_todo = (with_partition_cols(pages)
                  .join(F.broadcast(todo), "warc_date", "left_semi")
                  .drop("warc_date", "url_bucket"))

    with groups.span("sources.scan"):
        noop(pages)
    m["sources.scan_s"] = sec["sources.scan"]
    m["sources.input_bytes"] = wl.inp.input_bytes

    train = []
    for _ in range(3):
        with groups.span("models.train"):
            udfs = make_udfs(spark)
        train.append(sec["models.train"])
    m["models.train_s"] = statistics.median(train)

    out = run_quality_filter(spark, pages_todo, udfs)
    with groups.span("udfs.signals"):
        noop(out.signals)
    m["udfs.signals_s"] = sec["udfs.signals"]

    m["udfs.bytes_to_python"] = m["udfs.bytes_from_python"] = 0
    if "process_page" in udfs:
        payload = F.coalesce(F.col("html"), F.encode(
            F.coalesce(F.col("text"), F.lit("")), "UTF-8"))
        p = pages_todo.select(
            payload.alias("payload"),
            udfs["process_page"](payload, F.col("html").isNotNull())
            .alias("r"))
        rtype = p.schema["r"].dataType
        row = p.agg(
            F.sum(F.octet_length("payload") + 1).alias("to_py"),
            F.sum(sum(_arrow_bytes(F.col(f"r.{f.name}"), f.dataType)
                      for f in rtype.fields)).alias("from_py")).first()
        m["udfs.bytes_to_python"] = row.to_py
        m["udfs.bytes_from_python"] = row.from_py
    else:
        notes.append("udfs.bytes_*: make_udfs() has no 'process_page' "
                     "UDF to project, reported as 0")

    sig = out.signals.localCheckpoint(eager=True)
    with groups.span("pipeline.verdict"):
        noop(with_verdict(sig))
    m["pipeline.verdict_s"] = sec["pipeline.verdict"]

    verdicts = out.verdicts.persist()
    verdicts.count()
    with groups.span("metrics"):
        noop(dimension_metrics(verdicts))
        noop(dropped_by_rule(verdicts))
        noop(lineage_rows(verdicts, "trace", STAGE))
    m["metrics.s"] = sec["metrics"]

    # the runner's four sink frames, materialized so that only the
    # writes are timed
    tag = [F.lit("trace").alias("run_id"), F.lit(STAGE).alias("stage")]
    kept = (verdicts.filter(F.col("keep"))
            .select("url", "warc_ts", F.col("scrubbed_text").alias("text"),
                    F.col("lang_pred").alias("lang"), "warc_date",
                    "url_bucket"))
    sinks = [(kept, "pages_filtered", ["warc_date"]),
             (dimension_metrics(verdicts).select("*", *tag), "metrics",
              ["stage", "partition_key"]),
             (dropped_by_rule(verdicts).select("*", *tag), "dropped_by_rule",
              ["stage", "partition_key"]),
             (lineage_rows(verdicts, "trace", STAGE), "lineage", None)]
    sinks = [(df.localCheckpoint(eager=True), t, p) for df, t, p in sinks]
    verdicts.unpersist()
    catalog = ParquetCatalog(spark, wl.fresh_warehouse())
    files0 = _data_files(catalog.warehouse)
    b0 = fs_bytes_written(spark)
    with groups.span("catalog.write"):
        for df, table, parts in sinks:
            if parts:
                catalog.overwrite_partitions(df, table, parts)
            else:
                catalog.append(df, table)
    m["catalog.write_s"] = sec["catalog.write"]
    m["catalog.bytes_written"] = fs_bytes_written(spark) - b0
    m["catalog.files_written"] = len(_data_files(catalog.warehouse) - files0)

    names = ("dedup.lsh_s", "dedup.cc_s", "dedup.cc_jobs",
             "dedup.pool_per_new_doc")
    if wl.dedup:
        m.update(_dedup_layers(spark, catalog, wl, groups))
    else:
        m.update(dict.fromkeys(names, 0))
        notes.append(f"{', '.join(names)}: reported as 0 — this workload's "
                     "operation does not run run_global_dedup")
    return m, notes


def _dedup_layers(spark, catalog, wl, groups: Groups) -> dict:
    """The delta global dedup's two layers, through the runner's own
    helpers, over the warehouse as the filter run leaves it: near-dup
    edges over the pool (new day ∪ prior canonicals), then connected
    components. Only the pool is built here; its size must equal the
    ``lsh_docs`` the traced operation's ``run_global_dedup`` reported,
    or the layers would time another algorithm than the runner's."""
    from pyspark.sql import functions as F

    from standard_data_quality_framework_spark.runner import (
        _labels_for, _neardup_edges, run_global_dedup)

    arg = {k: p.default for k, p in
           inspect.signature(run_global_dedup).parameters.items()}
    summary = wl.last_summary
    if summary.get("mode") != "delta-approx" or arg["delta_member_sample"]:
        raise RuntimeError(
            "the traced run_global_dedup is not a plain delta run "
            f"({summary}); the dedup layers would time another pool")
    docs = catalog.read("pages_filtered").select(
        F.col("url").alias("id"), "text", "warc_date")
    prior = catalog.read("dup_clusters")
    canon = prior.filter("is_canonical").select(F.col("url").alias("id"))
    new = docs.filter(F.col("warc_date").cast("string") == wl.inp.new_day)
    pool = (new.select("id", "text")
            .unionByName(docs.select("id", "text")
                         .join(canon, "id", "left_semi"))
            .dropDuplicates(["id", "text"])
            .localCheckpoint(eager=True))
    n_pool, n_new = pool.count(), new.count()
    if n_pool != summary["lsh_docs"]:
        raise RuntimeError(f"dedup pool has {n_pool} docs, the runner's "
                           f"had {summary['lsh_docs']}")

    with groups.span("dedup.lsh"):
        edges = _neardup_edges(
            pool, arg["n"], arg["num_hashes"], arg["bands"],
            arg["threshold"], arg["max_bucket_size"]
        ).localCheckpoint(eager=True)
    star = (prior.filter(F.col("url") != F.col("cluster_id"))
            .select(F.col("cluster_id").alias("id_a"),
                    F.col("url").alias("id_b")))
    edges = edges.unionByName(star).distinct().localCheckpoint(eager=True)
    all_ids = docs.select("id").distinct()
    with groups.span("dedup.cc"):
        noop(_labels_for(all_ids, edges))
    return {"dedup.lsh_s": groups.seconds["dedup.lsh"],
            "dedup.cc_s": groups.seconds["dedup.cc"],
            "dedup.cc_jobs": groups.jobs("dedup.cc"),
            "dedup.pool_per_new_doc": n_pool / max(n_new, 1)}


def kernel_profile(inp, n: int = 256, passes: int = 3) -> dict:
    """Pure-Python µs/doc of each fused-kernel step over the first ``n``
    pages the operation processes (median of ``passes``)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from standard_data_quality_framework_spark.functions.textpure import (
        extract_text, repetition_signals, scrub)
    from standard_data_quality_framework_spark.models.langid import (
        train_langid)
    from standard_data_quality_framework_spark.models.perplexity import (
        train_perplexity)

    t = ds.dataset(inp.pages_dir).to_table(columns=["warc_ts", "html",
                                                    "text"])
    if inp.new_day:
        day = pc.strftime(t.column("warc_ts"), format="%Y-%m-%d")
        t = t.filter(pc.equal(day, inp.new_day))
    t = t.slice(0, n)
    html, text = t.column("html").to_pylist(), t.column("text").to_pylist()
    lid, lm = train_langid(), train_perplexity()

    def extract():
        return [extract_text(h) if h is not None else (x or "")
                for h, x in zip(html, text)]

    ets = extract()
    steps = {
        "extract": extract,
        "langid": lambda: [lid.predict_one(e) for e in ets],
        "perplexity": lambda: [lm.perplexity(e) for e in ets],
        "repetition": lambda: [repetition_signals(e) for e in ets],
        "scrub": lambda: [scrub(e) for e in ets],
    }
    out = {}
    for name, fn in steps.items():
        times = []
        for _ in range(passes):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        out[f"kernel.{name}_us"] = statistics.median(times) / len(ets) * 1e6
    return out
