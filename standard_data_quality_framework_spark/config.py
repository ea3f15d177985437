"""Declarative rule configuration for the quality filter.

Mirrors the reference's pattern of a static config interpreted by the
check runner (/root/reference/config/use_case_config.py:1-213 drives
/root/reference/src/quality_checks.py:360-380): thresholds and ranges
live HERE, in one place, and are interpreted into Spark ``Column``
expressions (pipeline.py) and into pandas expressions (tests/oracle.py).
Never hardcode a threshold twice.

Rule families (public C4 / Gopher heuristics, recast from the
reference's accuracy/completeness checks — quality_checks.py:77-133,
215-242):
"""

from __future__ import annotations

# --- heuristic rule thresholds (C4/Gopher-style) ---------------------------
RULES: dict[str, float] = {
    "min_words": 20,            # Gopher: drop docs with too few words
    "max_words": 100_000,       # and absurdly long ones
    "min_mean_word_len": 2.0,   # Gopher: mean word length in [2, 12]
    "max_mean_word_len": 12.0,
    "max_symbol_to_word": 0.10,  # Gopher: '#' or '...' per word
    "min_stopword_frac": 0.04,   # Gopher: stop-word fraction floor
    "min_distinct_stopwords": 2,
    "max_nonalnum_frac": 0.30,   # symbol-heavy docs
    "max_dup_line_frac": 0.30,   # Gopher repetition: duplicate lines
    "max_top2gram_frac": 0.20,   # fraction of chars in most common 2-gram
    "max_dup5gram_frac": 0.30,   # fraction of chars in duplicated 5-grams
    "min_langid_conf": 0.60,     # language-ID confidence floor
    "max_perplexity": 1200.0,    # n-gram LM perplexity ceiling
}

# Ordered rule ids — the order is part of the verdict contract: the
# drop_reasons array lists failed rules in exactly this order.
RULE_ORDER: list[str] = [
    "empty_text",
    "min_words",
    "max_words",
    "mean_word_len",
    "symbol_to_word",
    "stopword_frac",
    "nonalnum_frac",
    "dup_line_frac",
    "top2gram_frac",
    "dup5gram_frac",
    "langid_conf",
    "lang_mismatch",
    "perplexity",
    "exact_dup",
]

# --- stop words ------------------------------------------------------------
# Per-language stop-word lists for the synthetic fixture languages. The
# langid model and the stop-word fraction rule both key off these.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "to", "and", "in", "is", "that", "it", "was",
           "for", "on", "are", "as", "with", "at", "by", "be", "this", "or"],
    "fr": ["le", "la", "de", "et", "un", "une", "que", "pour", "dans", "est",
           "les", "des", "du", "il", "au", "sur", "ne", "pas", "se", "qui"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit",
           "von", "auf", "den", "im", "nicht", "sich", "des", "dem", "auch"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "es", "los",
           "se", "del", "las", "por", "con", "para", "no", "su", "al", "lo"],
}
ALL_STOPWORDS: list[str] = sorted({w for ws in STOPWORDS.values() for w in ws})

# Stop-word hits are counted with ONE regex pass (no token-array
# materialization — ~10× cheaper in codegen than split+filter+isin).
# Longest-first alternation ordering makes Java and Python regex agree
# (both are leftmost-FIRST engines, so a prefix word must come last).
STOPWORD_PATTERN: str = (
    r"\b(" + "|".join(sorted(ALL_STOPWORDS, key=lambda w: (-len(w), w)))
    + r")\b")

# --- PII / toxicity scrub rules --------------------------------------------
# Ordered (rule_id, pattern, replacement). Applied strictly in this order
# with this exact (Python `re` / pandas Series.str.replace) dialect in BOTH
# the Spark pandas-UDF and the reference labeler — that is what makes the
# scrubbed text byte-identical (SURVEY.md §7.4 risk register).
# ASCII-safe subset so the same patterns are valid Java regex too.
SCRUB_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9]{1,3}[-. ]\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}",
     "<PHONE>"),
    ("ipv4",
     r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
]

# Toxicity word list (synthetic placeholder tokens injected by the fixture
# generator; a production deployment swaps in a real list via config).
TOXICITY_WORDS: list[str] = ["badword1", "badword2", "slurword3", "vileword4"]

# --- metrics dimensions (reference parity) ----------------------------------
# The seven SDQF dimensions (quality_checks.py:360-380), reported per run
# in the metrics table with the reference's bucket rating (rating.py:4-27).
DIMENSIONS: list[str] = [
    "completeness",
    "accuracy",
    "coherence",
    "semantic_coherence",
    "relational_consistency",
    "population_representativity",
    "metadata_granularity",
]

# --- schema contract ---------------------------------------------------------
# Expected input columns for the quality-filter use case — the scored
# schema-presence check (reference: config/use_case_config.py:7-18
# expected_columns per use case). runner.run() rejects an input frame
# missing any of them (a set difference on its columns, no Spark job)
# and reports schema_presence in the run summary.
EXPECTED_PAGE_COLUMNS: list[str] = ["url", "warc_ts", "html", "text", "lang"]

# --- partitioning / scale knobs ---------------------------------------------
N_URL_BUCKETS = 64        # bucket(N, xxhash64(url)) — co-locates per-url ops
SALT_BUCKETS = 16         # salting factor for skewed-domain aggregations
LANGS: list[str] = ["en", "fr", "de", "es"]
