"""Text-analysis functions for the training-data-pipeline surface.

All native Column expressions (JVM-side, codegen'd) — no Python in the
hot path. Operates on the ``documents`` table (doc_id, text, lang,
source, n_chars) but the functions are column-generic.

Components: tokenization, token counting, quality scoring
(length/punctuation/stopword ratios), language-ID via stopword-hit
heuristic, and document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokenization: split on whitespace runs; drop empties. A BPE-ish
# variant additionally splits off punctuation.
_WS = r"\s+"
_BPE_ISH = r"[^\w']+"  # split on any run of non-word chars (keeps apostrophes)

# Tiny per-language stopword lists for the heuristic language ID.
# Deliberately small + deterministic so the oracle SQL can replicate.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "dans", "pour", "que"],
    "es": ["el", "los", "las", "y", "es", "no", "una", "en", "por", "para"],
}


def tokens(c: Column) -> Column:
    """Whitespace tokens, empties removed."""
    return F.filter(F.split(F.trim(c), _WS), lambda x: x != "")


def bpe_ish_tokens(c: Column) -> Column:
    """Punctuation-aware tokens (lowercased), a cheap BPE-ish proxy."""
    return F.filter(F.split(F.lower(c), _BPE_ISH), lambda x: x != "")


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


def punct_ratio(c: Column) -> Column:
    """Fraction of characters that are not word chars or whitespace."""
    stripped = F.regexp_replace(c, r"[\w\s]", "")
    return F.when(
        F.length(c) > 0, F.length(stripped) / F.length(c)
    ).otherwise(F.lit(0.0))


def stopword_hits_from(toks: Column, lang: str) -> Column:
    """Stopword-hit count of ``lang`` over a pre-tokenized column."""
    return F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS[lang])))


def detected_lang_from(toks: Column) -> Column:
    """Language-ID cascade over a pre-tokenized column.

    Callers on wide data should materialize the token array as its own
    projected column and pass it here: the cascade references tokens
    8× and higher-order functions don't get codegen CSE, so inlining
    the tokenizer would re-split the text 8× per row. (Catalyst keeps
    a multiply-referenced non-cheap projection materialized.)
    """
    langs = list(STOPWORDS)
    result = F.lit("und")
    best = F.lit(0)
    # Build a strictly-greater cascade in reverse so earlier languages
    # win ties (first language with the max hit count is chosen).
    for lang in reversed(langs):
        hits = stopword_hits_from(toks, lang)
        result = F.when(hits >= best, F.lit(lang)).otherwise(result)
        best = F.when(hits >= best, hits).otherwise(best)
    # A zero best-score means undetermined.
    return F.when(best > 0, result).otherwise(F.lit("und"))


def detected_lang(c: Column) -> Column:
    """Heuristic language ID: argmax of stopword hits across languages;
    'und' (undetermined) when no list scores > 0. Ties break by the
    fixed language order en, de, fr, es (deterministic)."""
    return detected_lang_from(bpe_ish_tokens(c))


def quality_score_from(ws_toks: Column, bpe_toks: Column, c: Column) -> Column:
    """Quality score over pre-tokenized columns (see detected_lang_from
    for why callers on wide data should materialize token arrays)."""
    n = F.size(ws_toks)
    length_term = F.least(n / F.lit(100.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    hits = F.size(F.filter(bpe_toks, lambda x: x.isin(*STOPWORDS["en"])))
    stop = F.when(F.size(bpe_toks) > 0, hits / F.size(bpe_toks)).otherwise(
        F.lit(0.0)
    )
    stop_term = F.lit(1.0) - F.least(F.abs(stop - F.lit(0.4)) * 2.0, F.lit(1.0))
    return F.round((length_term + punct_term + stop_term) / 3.0, 6)


def fingerprint(c: Column) -> Column:
    """Document fingerprint: 64-bit hash of the normalized text
    (lowercase, whitespace-collapsed). xxhash64 — stable across runs
    and partitions, JVM-side."""
    normalized = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return F.xxhash64(normalized)


def content_hash(c: Column) -> Column:
    """MD5 of the raw text — exact-dedup key, replicable in any oracle."""
    return F.md5(c)


# ---------------------------------------------------------------------------
# PII redaction — training-corpus scrubbing. All chained JVM-side
# regexp_replace (no UDF): runs inside whole-stage codegen, so it
# composes with filters/pushdown at 100 TB. Patterns are deliberately
# conservative (precision over recall) — the standard posture for
# corpus scrubbing, where a false positive destroys real text.
# ---------------------------------------------------------------------------

_PII_PATTERNS = [
    # emails
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # US-style phone numbers: optional +1 / (area), separators -. or space
    (
        r"(?<!\d)(?:\+?1[-. ]?)?(?:\(\d{3}\)[-. ]?|\d{3}[-. ])\d{3}[-. ]\d{4}(?!\d)",
        "<PHONE>",
    ),
    # SSN-shaped 3-2-4 digit groups
    (r"(?<!\d)\d{3}-\d{2}-\d{4}(?!\d)", "<SSN>"),
    # IPv4 addresses
    (r"(?<!\d)(?:\d{1,3}\.){3}\d{1,3}(?!\d)", "<IP>"),
    # 13-19 digit runs with optional group separators (card-shaped)
    (r"(?<!\d)\d(?:[-, ]?\d){12,18}(?!\d)", "<CARD>"),
]


def redact_pii(c: Column) -> Column:
    """Replace email / phone / SSN / IPv4 / card-shaped substrings with
    typed placeholder tokens. Order matters: emails first (their local
    parts can contain digit runs), card-shaped digit runs last (the
    narrower SSN/phone/IP shapes must win first)."""
    out = c
    for pat, token in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_hit_count(c: Column) -> Column:
    """How many PII placeholders redact_pii would emit for this text —
    the audit/reporting twin of redact_pii."""
    redacted = redact_pii(c)
    return F.size(
        F.regexp_extract_all(
            redacted, F.lit(r"<(EMAIL|PHONE|SSN|IP|CARD)>"), 0
        )
    )
