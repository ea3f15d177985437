"""Checkpoint-resumable job runner.

One "run" = quality-filter the pages table into the warehouse:

  tables written:
    pages_filtered   (partitioned by warc_date)            — dynamic overwrite
    metrics          (partitioned by stage × partition_key) — dynamic overwrite
    dropped_by_rule  (partitioned by stage × partition_key) — dynamic overwrite
    lineage          (append, one row per warc_date; commit LAST)

Resume contract: lineage is committed only after the data/metrics
writes for the covered partitions succeed, and EVERY data/metrics
write is an idempotent per-partition overwrite — a replayed partition
replaces its own previous rows instead of appending next to them, so
a crash after the metrics write but before the lineage commit cannot
double-count. On restart we anti-join the input's warc_dates against
completed lineage rows for this stage and re-process only the
remainder. (Duplicate 'done' lineage rows from a crash mid-append are
harmless: pending_dates reads the distinct partition_key set.) A page
without a warc_ts is filtered, counted and resumed under
``pipeline.crawl_day()``'s sentinel day 1970-01-01. The run's counters
come from the persisted day summary that the three summary sinks read.
"""

from __future__ import annotations

import hashlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .metrics import (_day_summary, dimension_metrics, dropped_by_rule,
                      lineage_rows)
from .operators.dedup import connected_components
from .pipeline import crawl_day, kept_pages, run_quality_filter
from .sources.catalog import ParquetCatalog

STAGE = "quality_filter"
GLOBAL_DEDUP_STAGE = "global_dedup"


def _done_keys(catalog: ParquetCatalog, stage: str) -> DataFrame:
    """Distinct ``partition_key`` of the stage's done lineage rows; before
    the first commit an empty relation the optimizer folds away."""
    if not catalog.exists("lineage"):
        return catalog.spark.sql(
            "SELECT CAST(NULL AS STRING) AS partition_key WHERE false")
    return (catalog.read("lineage")
            .filter((F.col("stage") == stage) & (F.col("status") == "done"))
            .select("partition_key").distinct())


def pending_dates(catalog: ParquetCatalog, pages: DataFrame) -> DataFrame:
    """Distinct input warc_dates minus already-completed lineage rows."""
    done = _done_keys(catalog, STAGE).select(
        F.col("partition_key").cast("date").alias("warc_date"))
    return (pages.select(crawl_day().alias("warc_date")).distinct()
            .join(done, "warc_date", "left_anti"))


def run(spark: SparkSession, pages: DataFrame, warehouse: str,
        run_id: str | None = None) -> dict:
    """Execute (or resume) the quality-filter run. Returns summary."""
    run_id = run_id or uuid.uuid4().hex[:12]
    catalog = ParquetCatalog(spark, warehouse)

    # schema-presence check against the use-case contract
    # (config.EXPECTED_PAGE_COLUMNS) — a set difference, no Spark job
    from .config import EXPECTED_PAGE_COLUMNS as expected
    missing = [c for c in expected if c not in pages.columns]
    if missing:
        raise ValueError(
            f"input is missing expected columns: {','.join(missing)} "
            f"(schema presence {round(1 - len(missing) / len(expected), 6)})")

    dates = [r.warc_date for r in pending_dates(catalog, pages).collect()]
    if not dates:
        return {"run_id": run_id, "dates_processed": 0, "resumed": True,
                "schema_presence": 1.0}

    out = run_quality_filter(spark, pages.filter(crawl_day().isin(dates)))
    # one materialization of the verdicts feeds all four sinks, one of the
    # day summary the three builders (the cache manager matches its plan)
    verdicts = out.verdicts.persist()
    summary = _day_summary(verdicts).persist()
    try:
        catalog.overwrite_partitions(kept_pages(verdicts), "pages_filtered",
                                     ["warc_date"])

        # per-partition overwrite (NOT append): a replay of a partition
        # whose lineage never committed replaces its own rows — resume
        # cannot double-count metrics
        mets = dimension_metrics(verdicts).withColumn(
            "run_id", F.lit(run_id)).withColumn("stage", F.lit(STAGE))
        catalog.overwrite_partitions(mets, "metrics",
                                     ["stage", "partition_key"])

        dbr = dropped_by_rule(verdicts).withColumn(
            "run_id", F.lit(run_id)).withColumn("stage", F.lit(STAGE))
        catalog.overwrite_partitions(dbr, "dropped_by_rule",
                                     ["stage", "partition_key"])

        # lineage commit LAST — the resume barrier — as one file: the
        # cached summary keeps one partition per shuffle partition
        lin = lineage_rows(verdicts, run_id, STAGE).coalesce(1)
        catalog.append(lin, "lineage")

        counters = summary.filter("_day = 1").selectExpr(
            "sum(docs_scanned) AS docs_scanned", "sum(docs_kept) AS docs_kept",
            "sum(scrub_edit_count) AS scrub_edits").first().asDict()
    finally:
        summary.unpersist()
        verdicts.unpersist()
    return {"run_id": run_id, "dates_processed": len(dates),
            "rows_in": counters["docs_scanned"],
            "rows_kept": counters["docs_kept"], "resumed": False,
            "observed": counters,
            "schema_presence": 1.0}


def _neardup_edges(docs: DataFrame, n: int, num_hashes: int, bands: int,
                   threshold: float, max_bucket_size: int | None) -> DataFrame:
    """(id_a, id_b) near-dup edges = MinHash-LSH verified pairs ∪
    exact-duplicate star edges; a pair found by both may repeat.

    The exact-hash union is the hot-bucket cap's other half: the cap
    drops band buckets above ``max_bucket_size`` from LSH candidate
    generation (a 10^5-doc template cluster would alone emit ~5·10^9
    candidate pairs), and the exact path guarantees byte-identical
    template docs still cluster — B identical docs cost B−1 star
    edges, never B²/2 pairs, from exact_duplicates' skew-safe
    aggregate + join (dedup._first_per_key)."""
    from .operators.dedup import exact_duplicates, minhash_lsh_pairs
    lsh = (minhash_lsh_pairs(docs, "id", "text", n=n,
                             num_hashes=num_hashes, bands=bands,
                             threshold=threshold,
                             max_bucket_size=max_bucket_size)
           .select("id_a", "id_b"))
    exact = (exact_duplicates(docs, "id", "text")
             .filter(F.col("is_dup"))
             .select(F.col("kept_id").alias("id_a"),
                     F.col("id").alias("id_b")))
    return lsh.unionByName(exact)


# perfbench/trace.py times the CC layer under this name
_labels_for = connected_components


def run_global_dedup(spark: SparkSession, warehouse: str,
                     run_id: str | None = None, n: int = 5,
                     num_hashes: int = 16, bands: int = 4,
                     threshold: float = 0.85,
                     max_bucket_size: int | None = 500,
                     incremental: bool = True,
                     delta_member_sample: int = 0) -> dict:
    """Cross-day near-duplicate clustering over the whole
    ``pages_filtered`` warehouse table → ``dup_clusters``.

    The in-pipeline exact-dup verdict is deliberately scoped to one
    crawl day (pipeline.py with_verdict); this job supplies the
    reference's DATASET-GLOBAL duplicate semantics
    (/root/reference/src/quality_checks.py:245-275,
    uc1_image_quality_checks.py:589-659) across all days at once:
    MinHash-LSH + exact-hash edges on the kept text, verified Jaccard
    ≥ threshold, then connected components → one cluster id (the min
    url) per near-dup group.

    Incremental (delta) mode — the 10^12-doc continuous-ingest path:
    when the existing ``dup_clusters`` covers a strict subset of the
    current day set, only the NEW days' docs are paired — against
    themselves and against one representative (the canonical url) of
    every prior cluster — and the new edges are merged with the prior
    clusters' star edges (member → canonical) before a CC pass over
    the affected subgraph.
    Every prior singleton is its own canonical, so the pool shrinks
    only by history's duplicates: with few of them it is O(history),
    not O(new day). This is an APPROXIMATION of a from-scratch run
    (reported as mode='delta-approx'): a new doc within threshold of
    a prior NON-canonical member but not of that cluster's canonical
    is missed, and two prior clusters merge only if a new doc (or
    their canonicals) links them — near-dup similarity is not
    transitive, so labels CAN diverge from a full rebuild. For
    near-clique LSH clusters (threshold ≥ 0.85) the canonical is
    usually an ε-cover of its cluster and the labels coincide (the
    warehouse tests exercise that benign case), but it is a
    heuristic, not a guarantee. ``delta_member_sample=k`` narrows the
    drift by also pairing new docs against up to k deterministically-
    sampled non-canonical members per prior cluster;
    ``incremental=False`` (``spark_submit_main.py --full-dedup``)
    rebuilds from scratch.

    Resume contract: the table is the commit. The unit of work is the
    day set of pages_filtered; ``catalog.replace`` only ever swaps in
    a complete dup_clusters, so the days dup_clusters holds are the
    days it covers. Equal day sets: the run is a no-op (``resumed``).
    A strict subset: delta (when ``incremental``). Anything else,
    including no table: full. The dup_clusters write is a whole-table
    replace — any new day can merge old clusters and move canonicals,
    so per-partition carry-over would be wrong; the rewrite is one
    linear pass, the saved work is the quadratic part. A crash between
    replace's two renames leaves no dup_clusters, so the next run is
    ``full``. The lineage row (stage=global_dedup, ``partition_key`` =
    md5 prefix of the sorted day set, reported as ``snapshot``) is a
    run record appended after the replace and never read back: a lost
    append leaves the run committed, and the next run is ``resumed``.

    Output table dup_clusters: (url, warc_date, cluster_id,
    is_canonical, cluster_size). ``clusters`` in the summary counts
    DISTINCT cluster ids (a canonical url kept on multiple days is
    one cluster, not one per day). No kept page: nothing is written.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    catalog = ParquetCatalog(spark, warehouse)
    if not catalog.exists("pages_filtered"):
        return {"run_id": run_id, "resumed": False,
                "rows": 0, "clusters": 0, "dup_rows": 0}
    pages = catalog.read("pages_filtered")

    def _days(frame: DataFrame) -> list[str]:
        return sorted(str(r[0]) for r in
                      frame.select("warc_date").distinct().collect())

    # the table is its own commit (see the resume contract)
    days = _days(pages)
    prior = (catalog.read("dup_clusters")
             if catalog.exists("dup_clusters") else None)
    prior_days = _days(prior) if prior is not None else []
    snap = hashlib.md5(",".join(days).encode()).hexdigest()[:16]
    if prior_days == days:
        return {"run_id": run_id, "snapshot": snap, "resumed": True}

    docs = pages.select(F.col("url").alias("id"), "text", "warc_date")
    all_ids = docs.select("id").distinct()

    mode = ("delta" if incremental and prior_days
            and set(prior_days) < set(days) else "full")
    if mode == "delta":
        new_days = sorted(set(days) - set(prior_days))
        canon_ids = prior.filter("is_canonical").selectExpr("url AS id")
        pair_ids = canon_ids
        if delta_member_sample > 0:
            # bounded sample of NON-canonical members per prior cluster
            # (deterministic: best k by url hash) — narrows the
            # "similar to a member but not the canonical" miss window
            # at O(k · clusters) extra LSH work
            from pyspark.sql import Window
            wm = (Window.partitionBy("cluster_id")
                  .orderBy(F.xxhash64("url"), "url"))
            member_ids = (prior.filter(~F.col("is_canonical"))
                          .select("url", "cluster_id").distinct()
                          .withColumn("_rk", F.row_number().over(wm))
                          .filter(F.col("_rk") <= delta_member_sample)
                          .select(F.col("url").alias("id")))
            pair_ids = canon_ids.unionByName(member_ids)
        pool = (docs.filter(F.col("warc_date").cast("string")
                            .isin(new_days))
                .select("id", "text")
                .unionByName(docs.select("id", "text")
                             .join(pair_ids, "id", "left_semi"))
                .dropDuplicates(["id", "text"])
                # built once: the count, the LSH and the exact-hash
                # edges all read this barrier
                .localCheckpoint())
        lsh_docs = pool.count()
        new_edges = _neardup_edges(pool, n, num_hashes, bands,
                                   threshold, max_bucket_size)
        prior_star = (prior.filter(F.col("url") != F.col("cluster_id"))
                      .select(F.col("cluster_id").alias("id_a"),
                              F.col("url").alias("id_b")))
        edges = new_edges.unionByName(prior_star)
    else:
        lsh_docs = all_ids.count()
        edges = _neardup_edges(docs, n, num_hashes, bands,
                               threshold, max_bucket_size)

    labels = connected_components(all_ids, edges)
    csize = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    clusters = (docs.select("id", "warc_date")
                .join(labels, "id")
                .join(csize, "label")
                .select(F.col("id").alias("url"), "warc_date",
                        F.col("label").alias("cluster_id"),
                        (F.col("id") == F.col("label"))
                        .alias("is_canonical"),
                        "cluster_size"))
    # In delta mode `clusters` reads the dup_clusters it replaces;
    # replace() writes a stage dir and swaps it in by rename, so the
    # self-read is never overwritten and nothing is copied twice
    catalog.replace(clusters, "dup_clusters")

    stats = catalog.read("dup_clusters").agg(
        F.count("*").alias("rows"),
        F.count_distinct("cluster_id").alias("clusters"),
        F.count(F.when(F.col("is_canonical"), 1)).alias("canonical")).first()
    n_rows, n_clusters = stats["rows"], stats["clusters"]
    lin = spark.createDataFrame(
        [(run_id, GLOBAL_DEDUP_STAGE, snap, "done", n_rows, n_clusters)],
        "run_id string, stage string, partition_key string, "
        "status string, rows_in long, rows_out long") \
        .withColumn("finished_ts", F.current_timestamp())
    # the run record: written after the commit, never read back
    catalog.append(lin, "lineage")
    return {"run_id": run_id, "snapshot": snap, "resumed": False,
            # 'delta-approx', not 'delta': labels can diverge from a
            # from-scratch rebuild (see docstring)
            "mode": "delta-approx" if mode == "delta" else mode,
            "lsh_docs": lsh_docs,
            "rows": n_rows, "clusters": n_clusters,
            "dup_rows": n_rows - stats["canonical"]}
