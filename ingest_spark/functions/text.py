"""Text-analysis columns for web-scale corpora (documents table).

Everything here returns Spark *Column expressions* where possible —
whole-stage-codegen'd, shuffle-free, and oracle-checkable in ANSI SQL.
Python appears only in the rolling-fingerprint kernel (vectorized).

Ops (training-data pipeline requirements):
- token counting: whitespace tokens + a BPE-ish regex token count
- quality scoring: length / punctuation / digit / upper / stopword /
  mean-word-length signals composed into one score
- language ID: stopword-hit voting over a small per-language lexicon
  (deterministic n-gram-free heuristic; ties → 'und')
- fingerprinting: md5 (exact, oracle-able) + 64-bit polynomial rolling
  hash (Karp-Rabin style, pandas UDF)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.types import LongType

# Small deterministic stopword lexicons (top function words).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "was", "with", "are"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein", "eine", "zu"),
    "fr": ("le", "la", "les", "et", "des", "est", "dans", "que", "une", "pour", "pas", "sur"),
    "es": ("el", "la", "los", "las", "de", "que", "es", "en", "una", "por", "con", "para"),
    "pt": ("o", "a", "os", "as", "de", "que", "em", "uma", "para", "com", "nao", "por"),
    "it": ("il", "la", "di", "che", "e", "un", "una", "per", "non", "sono", "con", "del"),
}

# BPE-ish token regex: word pieces, numbers, or single non-space symbols
# (public GPT-2-style pre-tokenizer shape, simplified to be portable to
# ANSI SQL regex engines)
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def ws_token_count(text: Column) -> Column:
    """Whitespace token count; '' → 0."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Count of BPE-ish pre-tokens (regexp_count is JVM-side)."""
    return F.regexp_count(text, F.lit(BPE_ISH_RE))


def _char_class_count(text: Column, cls: str) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, cls, ""))


def punct_ratio(text: Column) -> Column:
    return _char_class_count(text, r"[.,;:!?'\"()\[\]{}-]") / F.greatest(
        F.length(text), F.lit(1)
    )


def digit_ratio(text: Column) -> Column:
    return _char_class_count(text, r"[0-9]") / F.greatest(F.length(text), F.lit(1))


def _word_array(text: Column) -> Column:
    """Lower-cased letter-word array (shared by stopword ops)."""
    cleaned = F.regexp_replace(F.lower(text), r"[^a-z]+", " ")
    t = F.trim(cleaned)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    words = _word_array(text)
    hits = F.size(
        F.filter(words, lambda w: w.isin(*STOPWORDS[lang]))
    )
    return hits / F.greatest(F.size(words), F.lit(1))


def mean_word_len(text: Column) -> Column:
    words = _word_array(text)
    total = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    return total / F.greatest(F.size(words), F.lit(1))


def quality_score(text: Column, lang: str = "en") -> Column:
    """Composite [0,1] quality: length band + healthy word length +
    stopword presence − punctuation/digit noise. Deterministic,
    SQL-portable (used by both queries() and the DuckDB oracle)."""
    length_ok = F.when(
        (F.length(text) >= 100) & (F.length(text) <= 20000), F.lit(0.25)
    ).otherwise(F.lit(0.0))
    wordlen = mean_word_len(text)
    wordlen_ok = F.when((wordlen >= 3.0) & (wordlen <= 10.0), F.lit(0.25)).otherwise(
        F.lit(0.0)
    )
    stop_ok = F.when(stopword_ratio(text, lang) >= 0.05, F.lit(0.25)).otherwise(F.lit(0.0))
    noise_ok = F.when(
        (punct_ratio(text) <= 0.2) & (digit_ratio(text) <= 0.3), F.lit(0.25)
    ).otherwise(F.lit(0.0))
    return length_ok + wordlen_ok + stop_ok + noise_ok


def lang_id(text: Column) -> Column:
    """Stopword-vote language ID over the lexicons; ties and zero
    evidence → 'und'. Pure Column expression (no UDF): one pass builds
    the word array, then per-language hit counts + argmax via
    greatest()."""
    words = _word_array(text)

    def _hits(sw):
        # closure (not a default arg): higher-order-function lambdas must
        # be unary — Spark passes (element, index) to 2-ary lambdas
        return lambda w: w.isin(*sw)

    counts = {lang: F.size(F.filter(words, _hits(sw))) for lang, sw in STOPWORDS.items()}
    best = F.greatest(*counts.values())
    # deterministic tiebreak: first language in alphabetical order wins,
    # so build the when-chain from last to first
    result = F.lit("und")
    for lang in sorted(counts, reverse=True):
        result = F.when((best > 0) & (counts[lang] == best), F.lit(lang)).otherwise(result)
    return result


def md5_fingerprint(text: Column) -> Column:
    """Exact content fingerprint (md5 hex) — identical in DuckDB."""
    return F.md5(F.encode(text, "UTF-8"))


_FP_BASE = np.uint64(1000003)
_FP_MOD_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


@F.pandas_udf(LongType())
def rolling_fingerprint(text: pd.Series) -> pd.Series:
    """64-bit Karp-Rabin polynomial rolling hash of the utf-8 bytes
    (document fingerprint robust to storage encoding; vectorized with
    numpy per batch)."""
    out = np.zeros(len(text), dtype=np.uint64)
    for i, t in enumerate(text):
        if t is None:
            continue
        b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
        n = len(b)
        if n:
            # closed form of Horner: sum c_i · B^(n-1-i) mod 2^64
            # (uint64 multiply wraps, which IS the modulus)
            powers = np.concatenate(
                ([np.uint64(1)], np.cumprod(np.full(n - 1, _FP_BASE, dtype=np.uint64)))
            )
            out[i] = np.sum(b * powers[::-1], dtype=np.uint64)
    return pd.Series(out.view(np.int64))
