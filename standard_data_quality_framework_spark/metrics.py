"""Per-stage quality-dimension metrics — the reference's dataset-level
scores recast as an aggregation query over the verdicts frame.

Reference parity:
  * the seven dimensions of /root/reference/src/quality_checks.py:360-380
  * score→rating bucketing of /root/reference/src/rating.py:4-27
  * overall = mean of per-dimension ratings (/root/reference/src/rating.py:49-54)

Formulas (per partition group = warc_date):
  completeness      = non-missing cells / total cells over
                      (url, warc_ts, text, lang)        [A7]
  accuracy          = docs passing all range rules / docs [A8]
  coherence         = docs whose text decodes/parses cleanly / docs [A9]
  semantic_coherence= 1 − exact-dup docs / docs          [A12]
  relational_cons.  = distinct urls / docs               [A10]
  pop_representativity = 1 − Σ_c |p_c − 1/k| / (2(1−1/k)) over lang_pred [A3]
  metadata_granularity = docs with (url, warc_ts, lang) all present / docs [A16]

Everything is ONE hash aggregation per group (+ one small per-class
count collected into one array per group for representativity) —
map-side partial aggregation applies, no skew (dates are the
partition key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DIMENSIONS
from .functions.rating import bucket_rating

_RANGE_RULES = ["min_words", "max_words", "mean_word_len",
                "symbol_to_word", "nonalnum_frac", "perplexity"]


def _flag(c) -> F.Column:
    return F.when(c, 1).otherwise(0)


_META_COLS = ["url", "warc_ts", "text", "lang"]


def _partition_key() -> F.Column:
    return F.col("warc_date").cast("string").alias("partition_key")


def dimension_metrics(verdicts: DataFrame) -> DataFrame:
    """Long-format metrics: one row per (group, dimension) + overall.

    Output: (partition_key string, dimension string, score double,
             rating int, docs_scanned long, docs_dropped long,
             scrub_edit_count long, explanation string,
             details map<string,string>)

    ``details`` completes the reference's (score, explanation, details)
    3-tuple contract (rating.py:35-39): per-column missing counts for
    completeness (quality_checks.py:215-242), per-rule flagged counts
    for accuracy, per-class proportions for representativity
    (uc4_tabular_quality_checks.py:193-291), and the raw counters
    behind each ratio score.
    """
    g = _partition_key()
    # ONE coherence predicate shared by the score and its detail
    # counter (null etext → not coherent on BOTH sides; a bare
    # `length(etext) > 0` is null for null etext, which _flag would
    # count as clean in the detail while the score counts it bad)
    _etext = F.coalesce(F.col("etext"), F.lit(""))
    coherent = (F.length(_etext) > 0) & ~_etext.contains("�")
    presence = {
        "url": F.col("url").isNotNull(),
        "warc_ts": F.col("warc_ts").isNotNull(),
        "text": F.col("etext").isNotNull() & (F.length("etext") > 0),
        "lang": F.col("lang").isNotNull() & (F.length("lang") > 0),
    }
    # ONE metadata predicate shared by the score and its counter
    meta_ok = (F.col("url").isNotNull() & F.col("warc_ts").isNotNull()
               & presence["lang"])
    base = verdicts.groupBy(g).agg(
        F.count("*").alias("docs_scanned"),
        F.sum(_flag(~F.col("keep"))).alias("docs_dropped"),
        F.sum(F.col("scrub_edits").cast("long")).alias("scrub_edit_count"),
        (F.sum(sum(_flag(p) for p in presence.values()))
         / (F.count("*") * len(presence))).alias("completeness"),
        (F.sum(_flag(~F.arrays_overlap(
            "drop_reasons",
            F.array(*[F.lit(r) for r in _RANGE_RULES]))))
         / F.count("*")).alias("accuracy"),
        (F.sum(_flag(coherent)) / F.count("*")).alias("coherence"),
        (F.lit(1.0) - F.sum(_flag(F.array_contains(
            "drop_reasons", "exact_dup"))) / F.count("*"))
        .alias("semantic_coherence"),
        (F.count_distinct("url") / F.count("*"))
        .alias("relational_consistency"),
        (F.sum(_flag(meta_ok)) / F.count("*"))
        .alias("metadata_granularity"),
        # detail counters (one pass — same aggregation, more columns)
        *[F.sum(_flag(~p)).alias(f"_missing_{c}")
          for c, p in presence.items()],
        *[F.sum(_flag(F.array_contains("drop_reasons", r)))
          .alias(f"_flag_{r}") for r in _RANGE_RULES],
        F.sum(_flag(F.array_contains("drop_reasons", "exact_dup")))
        .alias("_n_exact_dup"),
        F.sum(_flag(~coherent)).alias("_n_bad_decode"),
        F.count_distinct("url").alias("_n_distinct_urls"),
        F.sum(_flag(meta_ok)).alias("_n_meta_ok"),
    )

    # population representativity (A3, total-deviation) over lang_pred
    # — nulls dropped BEFORE counting classes, matching the reference's
    # remove-NA step (quality_checks.py valid_data): null is missing
    # data (a completeness problem), not a population class. One row
    # per group holds its classes as a class-sorted array of
    # (lang_pred, n); k, total, the deviation and the details map are
    # folded from it, so the deviation sums in class order, not in
    # arrival order.
    cls = (verdicts.filter(F.col("lang_pred").isNotNull())
           .groupBy(g, "lang_pred")
           .agg(F.count("*").alias("n"))
           .groupBy("partition_key")
           .agg(F.array_sort(F.collect_list(F.struct("lang_pred", "n")))
                .alias("_cls"))
           .select("partition_key", "_cls", F.size("_cls").alias("k"),
                   F.aggregate("_cls", F.lit(0).cast("long"),
                               lambda acc, x: acc + x["n"]).alias("total")))
    k, total = F.col("k"), F.col("total")
    total_dev = F.aggregate(
        "_cls", F.lit(0.0),
        lambda acc, x: acc + F.abs(x["n"] / total - 1.0 / k))
    rep = cls.select(
        "partition_key",
        # k<=1 → 0.0: reference parity (quality_checks.py:25-29, single
        # class is maximally unrepresentative)
        F.when(k <= 1, F.lit(0.0)).otherwise(
            F.lit(1.0) - total_dev / (2.0 * (1.0 - 1.0 / k)))
        .alias("population_representativity"),
        # per-class proportion map (uc4:193-291 per-class details),
        # entries in class order for a deterministic layout
        F.map_from_entries(F.transform("_cls", lambda x: F.struct(
            x["lang_pred"].alias("key"),
            F.round(x["n"] / total, 6).cast("string").alias("value"))))
        .alias("_rep_details"))

    # a group whose lang_pred is ALL null has no rep row at all —
    # score 0.0 (nothing representable), empty details
    empty_map = F.map_from_entries(
        F.array().cast("array<struct<key:string,value:string>>"))
    wide = (base.join(rep, "partition_key", "left")
            .withColumn("population_representativity",
                        F.coalesce("population_representativity",
                                   F.lit(0.0)))
            .withColumn("_rep_details",
                        F.coalesce("_rep_details", empty_map)))

    def _m(*pairs) -> F.Column:
        kv = []
        for k, v in pairs:
            kv += [F.lit(k), v.cast("string")]
        return F.create_map(*kv)

    detail_exprs = {
        "completeness": _m(*[(f"missing_{c}", F.col(f"_missing_{c}"))
                             for c in _META_COLS]),
        "accuracy": _m(*[(f"flagged_{r}", F.col(f"_flag_{r}"))
                         for r in _RANGE_RULES]),
        "coherence": _m(("bad_decode", F.col("_n_bad_decode"))),
        "semantic_coherence": _m(("exact_dup_docs",
                                  F.col("_n_exact_dup"))),
        "relational_consistency": _m(("distinct_urls",
                                      F.col("_n_distinct_urls"))),
        "population_representativity": F.col("_rep_details"),
        "metadata_granularity": _m(("meta_complete_docs",
                                    F.col("_n_meta_ok"))),
    }

    # ONE wide row per group → explode into the long format. (A union
    # of per-dimension selects re-aggregates the verdicts frame once
    # per dimension — 9 full passes over the data at scale; this is a
    # single aggregation + an 9-element array explode.)
    def _entry(dim: str) -> F.Column:
        # explanations are part of the reference's check contract —
        # every (score, explanation) tuple, e.g. quality_checks.py:54-57
        expl = F.format_string(
            "%s score %.4f over %d docs (%d dropped)",
            F.lit(dim), F.col(dim).cast("double"),
            F.col("docs_scanned"), F.col("docs_dropped"))
        return F.struct(
            F.lit(dim).alias("dimension"),
            F.col(dim).cast("double").alias("score"),
            bucket_rating(F.col(dim)).alias("rating"),
            expl.alias("explanation"),
            detail_exprs.get(dim, empty_map).alias("details"))

    n_dims = len(DIMENSIONS)
    overall_score = sum(F.col(d).cast("double")
                        for d in DIMENSIONS) / n_dims
    overall_rating = F.round(
        sum(bucket_rating(F.col(d)).cast("double")
            for d in DIMENSIONS) / n_dims).cast("int")
    overall = F.struct(
        F.lit("overall").alias("dimension"),
        overall_score.alias("score"),
        overall_rating.alias("rating"),
        F.lit(f"overall: mean of {n_dims} dimension ratings")
        .alias("explanation"),
        empty_map.alias("details"))

    entries = F.array(*[_entry(d) for d in DIMENSIONS], overall)
    return (wide.select("partition_key", "docs_scanned", "docs_dropped",
                        "scrub_edit_count", F.explode(entries).alias("e"))
            .select("partition_key",
                    F.col("e.dimension").alias("dimension"),
                    F.col("e.score").alias("score"),
                    F.col("e.rating").alias("rating"),
                    "docs_scanned", "docs_dropped", "scrub_edit_count",
                    F.col("e.explanation").alias("explanation"),
                    F.col("e.details").alias("details")))


def dropped_by_rule(verdicts: DataFrame) -> DataFrame:
    """(partition_key, rule, n_dropped) — per-rule drop counts."""
    return (verdicts
            .select(_partition_key(),
                    F.explode("drop_reasons").alias("rule"))
            .groupBy("partition_key", "rule")
            .agg(F.count("*").alias("n_dropped")))


def lineage_rows(verdicts: DataFrame, run_id: str,
                 stage: str) -> DataFrame:
    """Per-partition lineage bookkeeping for checkpoint/resume."""
    return (verdicts.groupBy(_partition_key())
        .agg(F.count("*").alias("rows_in"),
             F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("rows_out"))
        .select(F.lit(run_id).alias("run_id"), F.lit(stage).alias("stage"),
                "partition_key", F.lit("done").alias("status"),
                "rows_in", "rows_out",
                F.current_timestamp().alias("finished_ts")))
