"""The metrics, dropped_by_rule and lineage sinks on a hand-built
verdicts frame: every row checked against values computed in pandas,
and the plan shape of each builder."""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
import pytest

from standard_data_quality_framework_spark.config import DIMENSIONS
from standard_data_quality_framework_spark.metrics import (dimension_metrics,
                                                           dropped_by_rule,
                                                           lineage_rows)

_RANGE = ["min_words", "max_words", "mean_word_len", "symbol_to_word",
          "nonalnum_frac", "perplexity"]
_SCHEMA = ("url string, warc_ts timestamp, etext string, lang string, "
           "lang_pred string, keep boolean, scrub_edits int, "
           "drop_reasons array<string>, warc_date date")


def _rows():
    """(url, day, etext, lang, lang_pred, scrub_edits, drop_reasons)."""
    return [
        # day 1: mixed languages, one NULL lang_pred, a url repeated
        # within the day, a NULL etext, a U+FFFD etext, a NULL url, an
        # empty lang, several range rules plus exact_dup on one row
        ("a1", 1, "hello world", "en", "en", 0, []),
        ("a1", 1, "hello world", "en", "en", 0, ["exact_dup"]),
        ("a3", 1, "bonjour \ufffd monde", "fr", "fr", 2,
         ["min_words", "mean_word_len", "symbol_to_word", "perplexity",
          "exact_dup"]),
        ("a4", 1, None, "de", None, None, ["empty_text"]),
        ("a5", 1, "guten tag", "de", "de", 1, []),
        (None, 1, "salut", "", "fr", 0, ["lang_mismatch"]),
        ("a7", 1, "", "en", "en", 0, ["empty_text", "max_words"]),
        # day 2: every lang_pred NULL (k = 0)
        ("b1", 2, "x y z", "en", None, 0, ["langid_conf"]),
        ("b2", 2, "x y", "en", None, 3, ["langid_conf", "nonalnum_frac"]),
        ("b3", 2, "z", None, None, 0, []),
        # day 3: a single class (k = 1)
        ("c1", 3, "one two", "en", "en", 0, ["max_words"]),
        ("c2", 3, "three four", "en", "en", 0, []),
        # day 4: no drops
        ("d1", 4, "uno dos", "es", "es", 0, []),
        ("d2", 4, "one", "en", "en", 1, []),
        ("d3", 4, "two", "en", "en", 0, []),
    ]


def _records() -> list[tuple]:
    """The verdicts rows in ``_SCHEMA`` order."""
    return [(url, dt.datetime(2024, 3, day, 12), etext, lang, pred,
             not reasons, edits, reasons, dt.date(2024, 3, day))
            for url, day, etext, lang, pred, edits, reasons in _rows()]


def _pdf() -> pd.DataFrame:
    return pd.DataFrame(_records(), columns=[
        c.split()[0] for c in _SCHEMA.split(", ")])


@pytest.fixture(scope="module")
def verdicts(spark):
    df = spark.createDataFrame(_records(), _SCHEMA).persist()
    df.count()
    yield df
    df.unpersist()


def _rating(s: float) -> int:
    s = min(max(s, 0.0), 1.0)
    return next((r for r, hi in enumerate([0.2, 0.4, 0.6, 0.8], 1)
                 if s <= hi), 5)


def _spark_str(x: float) -> str:
    """CAST(round(x, 6) AS STRING) for the proportions used here."""
    return repr(float(Decimal(repr(x)).quantize(Decimal("1e-6"),
                                                ROUND_HALF_UP)))


def _expected_metrics(pdf: pd.DataFrame) -> list[tuple]:
    out = []
    for day, g in pdf.groupby("warc_date"):
        n = len(g)
        dropped = int((~g["keep"]).sum())
        edits = int(g["scrub_edits"].fillna(0).sum())
        present = {
            "url": g["url"].notna(),
            "warc_ts": g["warc_ts"].notna(),
            "text": g["etext"].map(lambda t: t is not None and len(t) > 0),
            "lang": g["lang"].map(lambda t: t is not None and len(t) > 0),
        }
        has = g["drop_reasons"].map(set)
        range_ok = int(has.map(lambda s: not (s & set(_RANGE))).sum())
        coherent = int(g["etext"].map(
            lambda t: bool(t) and "\ufffd" not in t).sum())
        n_dup = int(has.map(lambda s: "exact_dup" in s).sum())
        meta_ok = int((present["url"] & present["warc_ts"]
                       & present["lang"]).sum())
        urls = g["url"].dropna().nunique()
        cls = g["lang_pred"].dropna().value_counts().sort_index()
        k, total = len(cls), int(cls.sum())
        if k <= 1:
            rep = 0.0
        else:
            acc = 0.0
            for c in cls:
                acc += abs(c / total - 1.0 / k)
            rep = 1.0 - acc / (2.0 * (1.0 - 1.0 / k))
        scores = {
            "completeness": sum(int(p.sum()) for p in present.values())
            / (n * 4),
            "accuracy": range_ok / n,
            "coherence": coherent / n,
            "semantic_coherence": 1.0 - n_dup / n,
            "relational_consistency": urls / n,
            "population_representativity": rep,
            "metadata_granularity": meta_ok / n,
        }
        details = {
            "completeness": {f"missing_{c}": str(int((~p).sum()))
                             for c, p in present.items()},
            "accuracy": {f"flagged_{r}": str(int(has.map(
                lambda s, r=r: r in s).sum())) for r in _RANGE},
            "coherence": {"bad_decode": str(n - coherent)},
            "semantic_coherence": {"exact_dup_docs": str(n_dup)},
            "relational_consistency": {"distinct_urls": str(urls)},
            "population_representativity": {
                c: _spark_str(v / total) for c, v in cls.items()},
            "metadata_granularity": {"meta_complete_docs": str(meta_ok)},
        }
        key = str(day)
        for d in DIMENSIONS:
            out.append((key, d, scores[d], _rating(scores[d]), n, dropped,
                        edits, f"{d} score {scores[d]:.4f} over {n} docs "
                        f"({dropped} dropped)", details[d]))
        overall = 0.0
        for d in DIMENSIONS:
            overall += scores[d]
        mean_r = sum(_rating(scores[d]) for d in DIMENSIONS) / len(DIMENSIONS)
        out.append((key, "overall", overall / len(DIMENSIONS),
                    math.floor(mean_r + 0.5), n, dropped, edits,
                    f"overall: mean of {len(DIMENSIONS)} dimension ratings",
                    {}))
    return sorted(out, key=lambda r: r[:2])


def test_metrics_rows_match_pandas(verdicts):
    got = sorted((tuple(r) for r in dimension_metrics(verdicts).collect()),
                 key=lambda r: r[:2])
    exp = _expected_metrics(_pdf())
    assert len(got) == len(exp) == 4 * (len(DIMENSIONS) + 1)
    for g, e in zip(got, exp):
        # scores compared for bit equality, not within a tolerance
        assert g == e, (g, e)
    rep = {r[0]: r for r in got if r[1] == "population_representativity"}
    assert rep["2024-03-02"][2] == 0.0 and rep["2024-03-02"][8] == {}
    assert rep["2024-03-03"][2] == 0.0 and rep["2024-03-03"][8] == {
        "en": "1.0"}


def test_dropped_by_rule_and_lineage_match_pandas(verdicts):
    pdf = _pdf()
    exp_dbr = sorted((str(day), rule, n)
                     for day, g in pdf.groupby("warc_date")
                     for rule, n in Counter(
                         r for rs in g["drop_reasons"] for r in rs).items())
    got_dbr = sorted(tuple(r) for r in dropped_by_rule(verdicts).collect())
    assert got_dbr == exp_dbr
    assert "2024-03-04" not in {r[0] for r in got_dbr}

    exp_lin = sorted(("r9", "stage_x", str(day), "done", len(g),
                      int(g["keep"].sum()))
                     for day, g in pdf.groupby("warc_date"))
    lin = lineage_rows(verdicts, "r9", "stage_x").collect()
    assert sorted(tuple(r)[:-1] for r in lin) == exp_lin
    assert all(r.finished_ts is not None for r in lin)


def _final_plan(df) -> str:
    """The executed physical plan after a run (AQE's final plan)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize("build", [
    dimension_metrics, dropped_by_rule, lambda v: lineage_rows(v, "r", "s")],
    ids=["metrics", "dropped_by_rule", "lineage"])
def test_each_sink_scans_the_verdicts_once(verdicts, build):
    """Every sink is a projection of one aggregate over the persisted
    verdicts: one scan of the cache, no join, and no explode of
    drop_reasons."""
    plan = _final_plan(build(verdicts))
    assert plan.count("InMemoryTableScan") == 1, plan
    assert "Join" not in plan, plan
    if build is dropped_by_rule:
        assert "Generate" not in plan, plan
