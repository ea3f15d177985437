"""The end-to-end quality-filter pipeline: one declarative DataFrame DAG.

    pages ─ fused UDF (extract+langid+ppl+repetition+scrub)
          ─ native signals ─ verdict (per-day min-url dedup agg+join)
          ─┬─ kept pages sink (url, warc_ts, scrubbed text, lang)
           └─ metrics sink

Design notes (scale-first):
  * ONE pass: every per-document signal is computed in a single
    ``select`` — Catalyst fuses the projections into one whole-stage-
    codegen span plus exactly one Arrow round-trip for the fused
    pandas UDF. (The reference re-scans the dataset once per check —
    /root/reference/src/quality_checks.py:360-380 — we do not.)
  * The only full-row shuffle before the sinks is the exact-duplicate
    exchange (hash-partition by (crawl day, md5(text))) — the skew-
    safe aggregate + join of operators/dedup.py::_first_per_key, never
    a window sort; see with_verdict.
  * Native expressions everywhere except the one fused UDF
    (functions/udfs.py). No row-at-a-time Python UDFs, no collect().

Heuristic semantics recast the reference's checks per SURVEY.md §0;
rule ids and thresholds live in config.RULES / config.RULE_ORDER.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import N_URL_BUCKETS, RULES, STOPWORD_PATTERN
from .functions.udfs import make_udfs
from .operators.dedup import _first_per_key


# ---------------------------------------------------------------------------
# Native signals
# ---------------------------------------------------------------------------

_TOKEN = r"[^ \t\n\x0B\f\r]+"
_SYM = r"#|\.\.\."
# char-class COUNTS go through translate() — a char-map delete, ~7×
# faster than the regex engine on this workload (measured 8.2s → 1.2s
# for 60k docs); regex stays only where runs/alternations are needed
_WS_CHARS = " \t\n\x0b\f\r"
_ALNUM_WS_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    + _WS_CHARS)


def with_native_signals(df: DataFrame, text_col: str = "etext") -> DataFrame:
    """All heuristic signals as pure regexp COUNTS over the raw text.

    Mirrored exactly by textpure.native_signals (parity-tested).
    Deliberately no split/transform/filter: materializing a ~300-
    element token array per doc (plus a lowered copy, plus an isin
    scan) costs ~10× more than six C-speed regex passes — measured
    10.8s → ~1s for 60k docs on 32 cores. At 10^12 docs this is the
    hottest native stage, so it stays allocation-free.
    """
    t = F.col(text_col)
    n_words_raw = F.regexp_count(t, F.lit(_TOKEN))
    df = df.withColumn("n_words", n_words_raw)
    n_words = F.col("n_words")
    tok_chars = F.length(F.translate(t, _WS_CHARS, ""))
    stops = F.regexp_extract_all(F.lower(t), F.lit(STOPWORD_PATTERN), 1)
    df = (
        df.withColumn("n_chars", F.length(t))
        .withColumn(
            "mean_word_len",
            F.when(n_words > 0, tok_chars / n_words).otherwise(F.lit(0.0)))
        .withColumn(
            "symbol_to_word",
            F.when(n_words > 0,
                   F.regexp_count(t, F.lit(_SYM)) / n_words)
            .otherwise(F.lit(0.0)))
        .withColumn("_stops", stops)
        .withColumn(
            "stopword_frac",
            F.when(n_words > 0, F.size("_stops") / n_words)
            .otherwise(F.lit(0.0)))
        .withColumn("distinct_stopwords",
                    F.size(F.array_distinct("_stops")))
        .withColumn(
            "nonalnum_frac",
            F.when(F.length(t) > 0,
                   F.length(F.translate(t, _ALNUM_WS_CHARS, ""))
                   / F.length(t))
            .otherwise(F.lit(0.0)))
        .drop("_stops")
    )
    return df


# ---------------------------------------------------------------------------
# Verdict
# ---------------------------------------------------------------------------

def with_verdict(df: DataFrame) -> DataFrame:
    """drop_reasons array (in RULE_ORDER) + keep flag.

    Per-document rules are pure column expressions; the cross-document
    exact-dup rule keeps the first occurrence BY (url, warc_ts) within
    a (crawl day, content hash) group — a row is a duplicate iff its
    (url, warc_ts) differs from the group's minimum. Scoping
    dedup to the crawl day keeps the verdict deterministic under ANY
    batching of whole days (the checkpoint/resume unit); cross-day
    dedup is a separate offline operator (operators/dedup.py).

    The keep-first decision is dedup._first_per_key (aggregate + join,
    never a window: a mega-duplicated page is a hot key). The lazy
    localCheckpoint is the single-execution barrier: the frame feeds
    two consumers (aggregate + join), and without a materialization
    point Catalyst's column pruning diverges the two subplans so the
    expensive upstream UDF stage would execute twice (measured: two
    ArrowEvalPython nodes). Checkpoint blocks are executor-local
    (MEMORY_AND_DISK) and auto-cleaned by the ContextCleaner when the
    frame is garbage-collected.
    """
    R = RULES
    per_doc = [
        ("empty_text", F.col("n_words") == 0),
        ("min_words", (F.col("n_words") > 0)
         & (F.col("n_words") < R["min_words"])),
        ("max_words", F.col("n_words") > R["max_words"]),
        ("mean_word_len", (F.col("n_words") > 0) & (
            (F.col("mean_word_len") < R["min_mean_word_len"])
            | (F.col("mean_word_len") > R["max_mean_word_len"]))),
        ("symbol_to_word", F.col("symbol_to_word") > R["max_symbol_to_word"]),
        ("stopword_frac", (F.col("n_words") > 0) & (
            (F.col("stopword_frac") < R["min_stopword_frac"])
            | (F.col("distinct_stopwords") < R["min_distinct_stopwords"]))),
        ("nonalnum_frac", F.col("nonalnum_frac") > R["max_nonalnum_frac"]),
        ("dup_line_frac", F.col("dup_line_frac") > R["max_dup_line_frac"]),
        ("top2gram_frac", F.col("top2gram_frac") > R["max_top2gram_frac"]),
        ("dup5gram_frac", F.col("dup5gram_frac") > R["max_dup5gram_frac"]),
        ("langid_conf", F.col("lang_conf") < R["min_langid_conf"]),
        ("lang_mismatch", F.col("lang").isNotNull()
         & (F.col("lang_pred") != F.col("lang"))),
        ("perplexity", F.col("perplexity") > R["max_perplexity"]),
    ]
    reasons = F.array_compact(F.array(
        *[F.when(cond, F.lit(rid)).otherwise(F.lit(None))
          for rid, cond in per_doc]))
    df = df.withColumn("_reasons_pd", reasons)

    # coalesce guards: _first_per_key needs total keys.
    # NULL etext gets its own sentinel hash group (r5 ADVICE #2): a
    # failed extraction is not "the same page" as an empty one. (Dead
    # on the standard paths, where etext is already coalesced
    # non-null, but with_verdict is callable on any signals frame.)
    df = (df.withColumn("_vday", crawl_day())
            .withColumn("_vhash", F.md5(F.coalesce(F.col("etext"),
                                                   F.lit("\x00<null>"))))
            .localCheckpoint(eager=False))
    # kept key = min(struct(url, warc_ts)) — r5 ADVICE #1: with the
    # bare min(url), two same-day fetches of the SAME url with
    # identical content both compared equal to the kept url and
    # neither was flagged. The full (url, warc_ts) key flags every row
    # that differs from the kept one; rows identical in url AND ts AND
    # content are indistinguishable without a synthetic row id (which
    # would break retry determinism) and stay unflagged — documented
    # residual. Unique-url inputs (all declared queries/fixtures) are
    # byte-identical under both keys.
    df = df.withColumn("_vkey", F.struct("url", "warc_ts"))
    df = _first_per_key(df, ["_vday", "_vhash"], "_vkey")
    df = df.withColumn(
        "drop_reasons",
        F.when(~F.col("_vkey").eqNullSafe(F.col("_first")),
               F.concat(F.col("_reasons_pd"),
                        F.array(F.lit("exact_dup"))))
        .otherwise(F.col("_reasons_pd")),
    ).drop("_reasons_pd", "_vday", "_vhash", "_vkey", "_first")
    return df.withColumn("keep", F.size("drop_reasons") == 0)


# ---------------------------------------------------------------------------
# Partitioning / skew helpers
# ---------------------------------------------------------------------------

def crawl_day() -> Column:
    """A page's crawl day: the date of ``warc_ts``, or the sentinel
    1970-01-01 when it is NULL (verdict groups, sinks, resume)."""
    return F.coalesce(F.to_date(F.col("warc_ts")),
                      F.to_date(F.lit("1970-01-01")))


def with_partition_cols(df: DataFrame) -> DataFrame:
    """Iceberg-style partition transform columns: ``crawl_day()`` (days
    of warc_ts, 1970-01-01 when NULL) + bucket(N, url). The sinks
    partition by ``warc_date`` only; ``url_bucket`` is a data column."""
    return (df.withColumn("warc_date", crawl_day())
              .withColumn("url_bucket",
                          F.pmod(F.xxhash64("url"), F.lit(N_URL_BUCKETS))
                          .cast("int")))


# ---------------------------------------------------------------------------
# Full pipeline
# ---------------------------------------------------------------------------

def kept_pages(verdicts: DataFrame) -> DataFrame:
    """The kept-pages sink frame of a verdicts frame: (url, warc_ts,
    text=scrubbed, lang=lang_pred, warc_date, url_bucket) per kept
    row — no html: the sink contract is verdict + scrubbed text per
    doc."""
    return (verdicts.filter(F.col("keep"))
            .select("url", "warc_ts",
                    F.col("scrubbed_text").alias("text"),
                    F.col("lang_pred").alias("lang"),
                    "warc_date", "url_bucket"))


@dataclass
class PipelineOutput:
    verdicts: DataFrame  # full per-doc frame (signals + verdict + scrub)
    kept: DataFrame      # kept_pages(verdicts)
    signals: DataFrame | None = None  # pre-verdict frame (before the
    #                       dedup checkpoint barrier) — the plan audit
    #                       asserts the single fused ArrowEvalPython
    #                       node here, since the verdict plan reads the
    #                       checkpointed RDD and hides the UDF stage


def run_quality_filter(spark: SparkSession, pages: DataFrame,
                       udfs: dict | None = None) -> PipelineOutput:
    """Build the full lazy DAG. No actions are triggered here.

    ``udfs`` is a ``make_udfs(spark)`` result, passed in to reuse its
    broadcast models across calls; None trains them here. The UDF
    stage runs at the scan's parallelism: an input that yields too few
    splits wants a smaller ``spark.sql.files.maxPartitionBytes``, not a
    repartition of the raw html+text bytes (measured 2.2× slower on a
    1M-page input, 133 s vs 59 s at 16 cores).
    """
    udfs = udfs or make_udfs(spark)
    # ONE Python eval node for the whole pipeline (extract + langid +
    # perplexity + repetition + scrub): workers == tasks, one Arrow
    # round trip per batch.
    payload = F.coalesce(F.col("html"),
                         F.encode(F.coalesce(F.col("text"), F.lit("")),
                                  "UTF-8"))
    df = pages.withColumn(
        "_p", udfs["process_page"](payload, F.col("html").isNotNull()))
    # Shuffle-width budget for the dedup exchange (the pipeline's ONE
    # wide exchange): exactly one text copy per row crosses it —
    #   * html/raw text are consumed by the UDF payload and dropped
    #     here (the kept sink re-emits scrubbed text, not html);
    #   * etext comes back over Arrow only for html rows (else it
    #     byte-equals `text` — coalesced natively, zero copy);
    #   * scrubbed_text rides as a mostly-null `_scrub_opt` column
    #     (non-null only when the scrubber edited) and is coalesced
    #     against etext AFTER the verdict's aggregate+join.
    df = df.select(
        "url", "warc_ts", "lang",
        F.coalesce(F.col("_p.etext"), F.col("text"), F.lit(""))
        .alias("etext"),
        F.col("_p.lang_pred").alias("lang_pred"),
        F.col("_p.lang_conf").alias("lang_conf"),
        F.col("_p.perplexity").alias("perplexity"),
        F.col("_p.dup_line_frac").alias("dup_line_frac"),
        F.col("_p.top2gram_frac").alias("top2gram_frac"),
        F.col("_p.dup5gram_frac").alias("dup5gram_frac"),
        F.col("_p.scrubbed_text").alias("_scrub_opt"),
        F.col("_p.scrub_edits").alias("scrub_edits"))
    sig = with_native_signals(df)
    df = with_verdict(sig)
    df = (df.withColumn("scrubbed_text",
                        F.coalesce(F.col("_scrub_opt"), F.col("etext")))
          .drop("_scrub_opt"))
    df = with_partition_cols(df)
    return PipelineOutput(verdicts=df, kept=kept_pages(df), signals=sig)
