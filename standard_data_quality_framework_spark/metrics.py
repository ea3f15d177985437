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


# The metrics frame is built from SQL text (``F.expr``/``selectExpr``):
# every Column-API node is a py4j round trip. Built from Columns, the
# frame cost ~6,100 of them, ~0.7 s of driver time per runner.run at any
# row count; from SQL text ~320, ~0.2 s (4-core VM).
def _flag(p: str) -> str:
    return f"CASE WHEN {p} THEN 1 ELSE 0 END"


def _ratio(p: str) -> str:
    """Share of the group's docs for which ``p`` holds."""
    return f"sum({_flag(p)}) / count(1)"


def _sql_map(pairs: list[tuple[str, str]]) -> str:
    """map<string,string> of literal keys over column names."""
    return "map(" + ", ".join(f"'{k}', CAST({c} AS STRING)"
                              for k, c in pairs) + ")"


# completeness cells: one presence predicate per metadata column
_PRESENCE = {
    "url": "url IS NOT NULL",
    "warc_ts": "warc_ts IS NOT NULL",
    "text": "(etext IS NOT NULL AND length(etext) > 0)",
    "lang": "(lang IS NOT NULL AND length(lang) > 0)",
}
# ONE coherence predicate shared by the score and its detail counter
# (null etext → not coherent on BOTH sides; a bare `length(etext) > 0`
# is null for null etext, which _flag would count as clean in the
# detail while the score counts it bad)
_COHERENT = ("(length(coalesce(etext, '')) > 0 "
             "AND NOT contains(coalesce(etext, ''), '\ufffd'))")
# ONE metadata predicate shared by the score and its counter
_META_OK = f"(url IS NOT NULL AND warc_ts IS NOT NULL AND {_PRESENCE['lang']})"
_EXACT_DUP = "array_contains(drop_reasons, 'exact_dup')"
_EMPTY_MAP = ("map_from_entries(CAST(array() AS "
              "ARRAY<STRUCT<key: STRING, value: STRING>>))")


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
    range_rules = ", ".join(f"'{r}'" for r in _RANGE_RULES)
    aggs = {
        "docs_scanned": "count(1)",
        "docs_dropped": f"sum({_flag('NOT keep')})",
        "scrub_edit_count": "sum(CAST(scrub_edits AS BIGINT))",
        "completeness": "sum({}) / (count(1) * {})".format(
            " + ".join(_flag(p) for p in _PRESENCE.values()),
            len(_PRESENCE)),
        "accuracy": _ratio(f"NOT arrays_overlap(drop_reasons, "
                           f"array({range_rules}))"),
        "coherence": _ratio(_COHERENT),
        "semantic_coherence": f"1.0D - {_ratio(_EXACT_DUP)}",
        "relational_consistency": "count(DISTINCT url) / count(1)",
        "metadata_granularity": _ratio(_META_OK),
        # detail counters (one pass — same aggregation, more columns)
        **{f"_missing_{c}": f"sum({_flag(f'NOT {p}')})"
           for c, p in _PRESENCE.items()},
        **{f"_flag_{r}":
           f"sum({_flag(f'array_contains(drop_reasons, {r!r})')})"
           for r in _RANGE_RULES},
        "_n_exact_dup": f"sum({_flag(_EXACT_DUP)})",
        "_n_bad_decode": f"sum({_flag(f'NOT {_COHERENT}')})",
        "_n_distinct_urls": "count(DISTINCT url)",
        "_n_meta_ok": f"sum({_flag(_META_OK)})",
    }
    base = verdicts.groupBy(_partition_key()).agg(
        *[F.expr(f"{e} AS {name}") for name, e in aggs.items()])

    # population representativity (A3, total-deviation) over lang_pred
    # — nulls dropped BEFORE counting classes, matching the reference's
    # remove-NA step (quality_checks.py valid_data): null is missing
    # data (a completeness problem), not a population class. One row
    # per group holds its classes as a class-sorted array of
    # (lang_pred, n); the deviation and the details map are folded
    # from it, so the deviation sums in class order, not in arrival
    # order. A group whose lang_pred is ALL null gets k = 0: score 0.0
    # (nothing representable), empty details.
    rep = (verdicts.groupBy(_partition_key(), "lang_pred")
           .agg(F.expr("count(1) AS n"))
           .groupBy("partition_key")
           .agg(F.expr("array_sort(collect_list(struct(lang_pred, n)) "
                       "FILTER (WHERE lang_pred IS NOT NULL)) AS _cls"),
                F.expr("count(lang_pred) AS k"),
                F.expr("sum(n) FILTER (WHERE lang_pred IS NOT NULL) "
                       "AS total"))
           .selectExpr(
               "partition_key",
               # k<=1 → 0.0: reference parity (quality_checks.py:25-29,
               # single class is maximally unrepresentative)
               "CASE WHEN k <= 1 THEN 0.0D ELSE 1.0D - aggregate(_cls, "
               "0.0D, (acc, x) -> acc + abs(x.n / total - 1.0D / k)) "
               "/ (2.0D * (1.0D - 1.0D / k)) END "
               "AS population_representativity",
               # per-class proportion map (uc4:193-291 per-class
               # details), entries in class order for a deterministic
               # layout
               "map_from_entries(transform(_cls, x -> named_struct("
               "'key', x.lang_pred, 'value', "
               "CAST(round(x.n / total, 6) AS STRING)))) AS _rep_details"))

    # each rating is computed once: its entry and `overall` read _r_<dim>
    wide = (base.join(rep, "partition_key")
            .withColumns({f"_r_{d}": bucket_rating(d)
                          for d in DIMENSIONS}))

    details = {
        "completeness": _sql_map([(f"missing_{c}", f"_missing_{c}")
                                  for c in _PRESENCE]),
        "accuracy": _sql_map([(f"flagged_{r}", f"_flag_{r}")
                              for r in _RANGE_RULES]),
        "coherence": _sql_map([("bad_decode", "_n_bad_decode")]),
        "semantic_coherence": _sql_map([("exact_dup_docs",
                                         "_n_exact_dup")]),
        "relational_consistency": _sql_map([("distinct_urls",
                                             "_n_distinct_urls")]),
        "population_representativity": "_rep_details",
        "metadata_granularity": _sql_map([("meta_complete_docs",
                                           "_n_meta_ok")]),
    }

    # ONE wide row per group → explode into the long format. (A union
    # of per-dimension selects re-aggregates the verdicts frame once
    # per dimension; this is a single aggregation + an 8-element
    # array explode.)
    def _entry(dim: str, score: str, rating: str, expl: str,
               details: str) -> str:
        return (f"named_struct('dimension', '{dim}', 'score', {score}, "
                f"'rating', {rating}, 'docs_scanned', docs_scanned, "
                "'docs_dropped', docs_dropped, "
                "'scrub_edit_count', scrub_edit_count, "
                f"'explanation', {expl}, 'details', {details})")

    # explanations are part of the reference's check contract — every
    # (score, explanation) tuple, e.g. quality_checks.py:54-57
    entries = [_entry(d, f"CAST({d} AS DOUBLE)", f"_r_{d}",
                      "format_string('%s score %.4f over %d docs "
                      f"(%d dropped)', '{d}', CAST({d} AS DOUBLE), "
                      "docs_scanned, docs_dropped)", details[d])
               for d in DIMENSIONS]
    n_dims = len(DIMENSIONS)
    entries.append(_entry(
        "overall",
        "(" + " + ".join(f"CAST({d} AS DOUBLE)" for d in DIMENSIONS)
        + f") / {n_dims}",
        "CAST(round((" + " + ".join(f"CAST(_r_{d} AS DOUBLE)"
                                    for d in DIMENSIONS)
        + f") / {n_dims}) AS INT)",
        f"'overall: mean of {n_dims} dimension ratings'", _EMPTY_MAP))
    return wide.selectExpr("partition_key",
                           f"inline(array({', '.join(entries)}))")


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
