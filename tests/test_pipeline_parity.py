"""Pipeline vs pure-pandas reference labeler parity.

The driver contract (BASELINE.json): keep/drop F1 ≥ 0.99 vs reference
labels, byte-identical extracted + scrubbed text per url. We assert
exact agreement (F1 = 1.0) — anything less is a bug.
"""

from __future__ import annotations

import math

import pytest

from standard_data_quality_framework_spark.pipeline import (
    run_quality_filter)


@pytest.fixture(scope="module")
def result(spark, pages_df):
    out = run_quality_filter(spark, pages_df)
    pdf = out.verdicts.select(
        "url", "etext", "lang_pred", "lang_conf", "perplexity",
        "n_words", "mean_word_len", "symbol_to_word", "stopword_frac",
        "distinct_stopwords", "nonalnum_frac", "dup_line_frac",
        "top2gram_frac", "dup5gram_frac", "drop_reasons", "keep",
        "scrubbed_text", "scrub_edits").toPandas()
    return pdf.set_index("url").sort_index()


@pytest.fixture(scope="module")
def gold(golden):
    return golden.set_index("url").sort_index()


def test_row_coverage(result, gold):
    assert list(result.index) == list(gold.index)


def test_extracted_text_byte_identical(result, gold):
    mismatches = (result["etext"] != gold["etext"]).sum()
    assert mismatches == 0


def test_scrubbed_text_byte_identical(result, gold):
    mismatches = (result["scrubbed_text"] != gold["scrubbed_text"]).sum()
    assert mismatches == 0
    assert (result["scrub_edits"] == gold["scrub_edits"]).all()


def test_native_signal_parity(result, gold):
    for col in ("n_words", "distinct_stopwords"):
        assert (result[col] == gold[col]).all(), col
    for col in ("mean_word_len", "symbol_to_word", "stopword_frac",
                "nonalnum_frac", "dup_line_frac", "top2gram_frac",
                "dup5gram_frac", "perplexity", "lang_conf"):
        diffs = [
            (u, a, b) for u, a, b in
            zip(result.index, result[col], gold[col])
            if not math.isclose(a, b, rel_tol=0, abs_tol=0)
        ]
        assert not diffs, (col, diffs[:3])


def test_langid_parity(result, gold):
    assert (result["lang_pred"] == gold["lang_pred"]).all()


def test_verdict_exact_match(result, gold):
    same_reasons = [
        list(a) == list(b)
        for a, b in zip(result["drop_reasons"], gold["drop_reasons"])
    ]
    bad = [u for u, ok in zip(result.index, same_reasons) if not ok]
    assert not bad, bad[:5]
    assert (result["keep"] == gold["keep"]).all()


def test_f1_and_class_mix(result, gold):
    tp = int((result["keep"] & gold["keep"]).sum())
    fp = int((result["keep"] & ~gold["keep"]).sum())
    fn = int((~result["keep"] & gold["keep"]).sum())
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99
    # fixture sanity: both classes well-represented
    kept_frac = gold["keep"].mean()
    assert 0.2 < kept_frac < 0.9, kept_frac


def test_determinism_across_parallelism(spark, pages_df):
    """SURVEY §5.5: identical verdicts under different partitioning."""
    a = run_quality_filter(spark, pages_df.repartition(3)).verdicts \
        .select("url", "keep", "drop_reasons", "scrubbed_text") \
        .toPandas().sort_values("url").reset_index(drop=True)
    b = run_quality_filter(spark, pages_df.repartition(13)).verdicts \
        .select("url", "keep", "drop_reasons", "scrubbed_text") \
        .toPandas().sort_values("url").reset_index(drop=True)
    assert (a["url"] == b["url"]).all()
    assert (a["keep"] == b["keep"]).all()
    assert (a["scrubbed_text"] == b["scrubbed_text"]).all()
    assert all(list(x) == list(y)
               for x, y in zip(a["drop_reasons"], b["drop_reasons"]))
