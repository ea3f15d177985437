"""Deterministic synthetic multilingual corpus generator.

Provides the vocabulary + sentence generator used BOTH by the fixture
pages-table generator (fixtures.py) and by the model trainers
(langid.py / perplexity.py seed corpora). Four synthetic "languages"
with deliberately distinct character-n-gram signatures so a char-n-gram
language classifier is actually learnable. All randomness goes through
``random.Random(seed)`` — fully reproducible, no wall-clock, no numpy
global state.
"""

from __future__ import annotations

import random

from ..config import LANGS, STOPWORDS

# Language-flavored syllable inventories → distinct char distributions.
_SYLLABLES: dict[str, list[str]] = {
    "en": ["ing", "er", "tion", "ment", "ly", "ck", "th", "st", "wor",
           "ket", "ran", "dom", "ple", "sys", "tem", "net", "hub", "lock"],
    "fr": ["eau", "oux", "ais", "eur", "oir", "çon", "ére", "lle", "que",
           "mon", "vou", "soi", "nui", "plu", "jou", "née", "tre", "eux"],
    "de": ["sch", "ung", "keit", "über", "ein", "zwei", "haus", "berg",
           "wald", "zeug", "chen", "lich", "gross", "statt", "bahn", "frei"],
    "es": ["ción", "illo", "aña", "ado", "iza", "nte", "oso", "era", "mar",
           "sol", "rio", "cam", "paz", "vid", "lum", "bre", "dor", "ita"],
}
_VOCAB_SIZE = 120


def content_vocab(lang: str) -> list[str]:
    """Deterministic content-word vocabulary for a language."""
    syl = _SYLLABLES[lang]
    rng = random.Random(f"vocab-{lang}")
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < _VOCAB_SIZE:
        w = "".join(rng.choice(syl) for _ in range(rng.randint(2, 3)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def gen_sentence(lang: str, rng: random.Random, min_w: int = 6,
                 max_w: int = 14, stopword_rate: float = 0.35) -> str:
    """One sentence: mix of stop words and content words."""
    vocab = _VOCABS[lang]
    stops = STOPWORDS[lang]
    n = rng.randint(min_w, max_w)
    out = []
    for _ in range(n):
        if rng.random() < stopword_rate:
            out.append(rng.choice(stops))
        else:
            out.append(rng.choice(vocab))
    return " ".join(out)


def seed_corpus(lang: str, n_sentences: int = 400,
                seed: str = "seed-corpus") -> list[str]:
    """Deterministic training corpus for the model builders."""
    rng = random.Random(f"{seed}-{lang}")
    return [gen_sentence(lang, rng) for _ in range(n_sentences)]


def gibberish_sentence(rng: random.Random, n: int = 10) -> str:
    """High-perplexity junk: uniform random letter strings."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    return " ".join(
        "".join(rng.choice(letters) for _ in range(rng.randint(4, 12)))
        for _ in range(n)
    )


_VOCABS: dict[str, list[str]] = {lang: content_vocab(lang) for lang in LANGS}
