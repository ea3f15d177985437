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

All three per-partition sinks (metrics, dropped_by_rule, lineage) are
projections of ONE aggregate, ``_day_summary``: GROUPING SETS
((partition_key, lang_pred), (partition_key)) over the verdicts. The
day row holds every counter once — the additive ones and the one
non-additive one, count(DISTINCT url) — and the (day, lang_pred) rows
hold the per-class doc counts that representativity folds. Each
builder scans the verdicts once and joins nothing; map-side partial
aggregation applies, no skew (dates are the partition key). The runner
persists the summary next to the verdicts, so its three writes (and
its run counters) evaluate the aggregate once: Spark's cache manager
serves each builder's identical ``_day_summary`` plan from it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DIMENSIONS, RULE_ORDER
from .functions.rating import bucket_rating

_RANGE_RULES = ["min_words", "max_words", "mean_word_len",
                "symbol_to_word", "nonalnum_frac", "perplexity"]


# The metrics frame is built from SQL text (``F.expr``/``selectExpr``):
# every Column-API node is a py4j round trip. Built from Columns, the
# frame cost ~6,100 of them, ~0.7 s of driver time per runner.run at any
# row count; from SQL text ~320, ~0.2 s (4-core VM).
def _sql_map(pairs: list[tuple[str, str]]) -> str:
    """map<string,string> of literal keys over column expressions."""
    return "map(" + ", ".join(f"'{k}', CAST({c} AS STRING)"
                              for k, c in pairs) + ")"


# completeness cells: one presence predicate per metadata column
_PRESENCE = {
    "url": "url IS NOT NULL",
    "warc_ts": "warc_ts IS NOT NULL",
    "text": "(etext IS NOT NULL AND length(etext) > 0)",
    "lang": "(lang IS NOT NULL AND length(lang) > 0)",
}
# null etext → not coherent; the coalesces keep the predicate non-NULL
_COHERENT = ("(length(coalesce(etext, '')) > 0 "
             "AND NOT contains(coalesce(etext, ''), '\ufffd'))")
_META_OK = f"(url IS NOT NULL AND warc_ts IS NOT NULL AND {_PRESENCE['lang']})"
_EMPTY_MAP = ("map_from_entries(CAST(array() AS "
              "ARRAY<STRUCT<key: STRING, value: STRING>>))")

# The day summary's counters. The presence and coherence predicates are
# never NULL, so missing_<c> and bad_decode are docs_scanned minus them.
_COUNTERS = {
    "docs_scanned": "count(1)",
    # summed flags, not count_if: metrics.docs_dropped and
    # lineage.rows_out are nullable columns of the written files
    "docs_dropped": "sum(CASE WHEN NOT keep THEN 1 ELSE 0 END)",
    "docs_kept": "sum(CASE WHEN keep THEN 1 ELSE 0 END)",
    "scrub_edit_count": "sum(CAST(scrub_edits AS BIGINT))",
    **{f"present_{c}": f"count_if({p})" for c, p in _PRESENCE.items()},
    "range_ok": "count_if(NOT arrays_overlap(drop_reasons, array({})))"
                .format(", ".join(f"'{r}'" for r in _RANGE_RULES)),
    "coherent": f"count_if({_COHERENT})",
    "meta_ok": f"count_if({_META_OK})",
    # day rows only (class rows count NULL): each url shuffled once a day
    "distinct_urls": "count(DISTINCT CASE WHEN grouping(lang_pred) = 1 "
                     "THEN url END)",
    # rule ids are static: one drop counter per rule, no explode
    **{f"n_{r}": f"count_if(array_contains(drop_reasons, '{r}'))"
       for r in RULE_ORDER},
}


def _day_summary(verdicts: DataFrame) -> DataFrame:
    """The one aggregate behind every sink: ``_COUNTERS`` per
    (partition_key, lang_pred) and per partition_key. ``_day = 1``
    marks the day row (its lang_pred is the rolled-up NULL, told apart
    from a NULL class by ``grouping``)."""
    return (verdicts
            .withColumn("partition_key", F.expr("CAST(warc_date AS STRING)"))
            .groupingSets([["partition_key", "lang_pred"],
                           ["partition_key"]], "partition_key", "lang_pred")
            .agg(F.expr("grouping(lang_pred) AS _day"),
                 *[F.expr(f"{e} AS {n}") for n, e in _COUNTERS.items()]))


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
    # population representativity (A3, total-deviation) over lang_pred
    # — null classes dropped BEFORE counting classes, matching the
    # reference's remove-NA step (quality_checks.py valid_data): null
    # is missing data (a completeness problem), not a population
    # class. The day's class rows are folded onto its day row (whose
    # own lang_pred is NULL) as a class-sorted array of (lang_pred, n),
    # so the deviation sums in class order, not in arrival order. A
    # group whose lang_pred is ALL null gets k = 0: score 0.0 (nothing
    # representable), empty details.
    w = "OVER (PARTITION BY partition_key)"
    folded = _day_summary(verdicts).selectExpr(
        "*",
        "array_sort(collect_list(CASE WHEN lang_pred IS NOT NULL THEN "
        "named_struct('lang_pred', lang_pred, 'n', docs_scanned) END) "
        f"{w}) AS _cls",
        f"count(lang_pred) {w} AS k",
        "sum(CASE WHEN lang_pred IS NOT NULL THEN docs_scanned END) "
        f"{w} AS total").filter("_day = 1")

    scores = {
        "completeness": "({}) / (docs_scanned * {})".format(
            " + ".join(f"present_{c}" for c in _PRESENCE), len(_PRESENCE)),
        "accuracy": "range_ok / docs_scanned",
        "coherence": "coherent / docs_scanned",
        "semantic_coherence": "1.0D - n_exact_dup / docs_scanned",
        "relational_consistency": "distinct_urls / docs_scanned",
        # k<=1 → 0.0: reference parity (quality_checks.py:25-29, single
        # class is maximally unrepresentative)
        "population_representativity":
            "CASE WHEN k <= 1 THEN 0.0D ELSE 1.0D - aggregate(_cls, 0.0D, "
            "(acc, x) -> acc + abs(x.n / total - 1.0D / k)) "
            "/ (2.0D * (1.0D - 1.0D / k)) END",
        "metadata_granularity": "meta_ok / docs_scanned",
    }
    # each rating is computed once: its entry and `overall` read _r_<dim>
    wide = (folded.selectExpr("*", *[f"{e} AS {d}"
                                     for d, e in scores.items()])
            .withColumns({f"_r_{d}": bucket_rating(d) for d in DIMENSIONS}))

    details = {
        "completeness": _sql_map([(f"missing_{c}",
                                   f"docs_scanned - present_{c}")
                                  for c in _PRESENCE]),
        "accuracy": _sql_map([(f"flagged_{r}", f"n_{r}")
                              for r in _RANGE_RULES]),
        "coherence": _sql_map([("bad_decode", "docs_scanned - coherent")]),
        "semantic_coherence": _sql_map([("exact_dup_docs", "n_exact_dup")]),
        "relational_consistency": _sql_map([("distinct_urls",
                                             "distinct_urls")]),
        # per-class proportion map (uc4:193-291 per-class details),
        # entries in class order for a deterministic layout
        "population_representativity":
            "map_from_entries(transform(_cls, x -> named_struct("
            "'key', x.lang_pred, 'value', "
            "CAST(round(x.n / total, 6) AS STRING))))",
        "metadata_granularity": _sql_map([("meta_complete_docs",
                                           "meta_ok")]),
    }

    # ONE wide row per group → explode into the long format (an
    # 8-element array, not a union of per-dimension selects)
    def _entry(dim: str, score: str, rating: str, expl: str,
               details: str) -> str:
        return (f"named_struct('dimension', '{dim}', 'score', {score}, "
                f"'rating', {rating}, 'docs_scanned', docs_scanned, "
                "'docs_dropped', docs_dropped, "
                "'scrub_edit_count', scrub_edit_count, "
                f"'explanation', {expl}, 'details', {details})")

    # explanations are part of the reference's check contract — every
    # (score, explanation) tuple, e.g. quality_checks.py:54-57
    entries = [_entry(d, d, f"_r_{d}", "format_string('%s score %.4f over "
                      f"%d docs (%d dropped)', '{d}', {d}, docs_scanned, "
                      "docs_dropped)", details[d])
               for d in DIMENSIONS]
    n_dims = len(DIMENSIONS)
    entries.append(_entry(
        "overall",
        "(" + " + ".join(DIMENSIONS) + f") / {n_dims}",
        "CAST(round((" + " + ".join(f"CAST(_r_{d} AS DOUBLE)"
                                    for d in DIMENSIONS)
        + f") / {n_dims}) AS INT)",
        f"'overall: mean of {n_dims} dimension ratings'", _EMPTY_MAP))
    return wide.selectExpr("partition_key",
                           f"inline(array({', '.join(entries)}))")


def dropped_by_rule(verdicts: DataFrame) -> DataFrame:
    """(partition_key, rule, n_dropped) — per-rule drop counts: the day
    summary's rule counters unpivoted, keeping n > 0 rows (the rules
    that dropped something that day)."""
    return (_day_summary(verdicts).filter("_day = 1")
            .selectExpr("partition_key",
                        *[f"n_{r} AS {r}" for r in RULE_ORDER])
            .unpivot("partition_key", RULE_ORDER, "rule", "n_dropped")
            .filter("n_dropped > 0"))


def lineage_rows(verdicts: DataFrame, run_id: str,
                 stage: str) -> DataFrame:
    """Per-partition lineage bookkeeping for checkpoint/resume."""
    return _day_summary(verdicts).filter("_day = 1").select(
        F.lit(run_id).alias("run_id"), F.lit(stage).alias("stage"),
        "partition_key", F.lit("done").alias("status"),
        F.col("docs_scanned").alias("rows_in"),
        F.col("docs_kept").alias("rows_out"),
        F.current_timestamp().alias("finished_ts"))
