"""Text-analysis column expressions (Layer B [EXT]).

Language-ID, quality scoring, token counting, and document fingerprinting over
the ``documents`` table — all built-in-function expressions (regexp/length/
split/md5), so they stay inside whole-stage codegen at any scale. No model
downloads: lang-ID is a stopword-profile heuristic, token counting is
whitespace plus a BPE-ish word/digit/punct regex.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny high-frequency stopword profiles; enough signal to separate the
# languages present in the synthetic corpus. Word-boundary matched.
_LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "sich", "auf"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "pour", "dans", "pas"),
    "es": ("el", "la", "los", "que", "es", "una", "por", "con", "para", "del"),
    "it": ("il", "la", "che", "di", "non", "una", "per", "sono", "con", "del"),
}

# GPT-2-flavored pre-tokenizer shape: word runs, digit runs, punct singles.
_BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def _profile_hits(text_lower: Column, words: tuple[str, ...]) -> Column:
    """Count stopword occurrences for one language profile."""
    pattern = r"\b(?:" + "|".join(words) + r")\b"
    return F.regexp_count(text_lower, F.lit(pattern))


def lang_id_expr(text: Column) -> Column:
    """Best-guess language code by stopword-profile argmax; 'und' when no
    profile matches at all."""
    lowered = F.lower(text)
    scored = F.array(
        *[
            F.struct(
                _profile_hits(lowered, words).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(_LANG_PROFILES.items())
        ]
    )
    best = F.array_max(scored)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def whitespace_token_count(text: Column) -> Column:
    """Number of whitespace-delimited tokens; 0 for empty/blank text."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(F.size(F.split(trimmed, r"\s+")))


def bpe_ish_token_count(text: Column) -> Column:
    """Token count under a BPE-ish pre-tokenizer regex (word runs / single
    digits / single punctuation marks)."""
    return F.size(F.regexp_extract_all(text, F.lit(_BPE_ISH_PATTERN), 0))


def alpha_ratio(text: Column) -> Column:
    """Fraction of characters that are alphabetic."""
    n = F.length(text)
    return F.when(n > 0, F.regexp_count(text, F.lit(r"[A-Za-z]")) / n).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation."""
    n = F.length(text)
    return F.when(n > 0, F.regexp_count(text, F.lit(r"[^\w\s]")) / n).otherwise(F.lit(0.0))


def stopword_ratio(text: Column) -> Column:
    """English stopword tokens / whitespace tokens (a classic quality signal)."""
    tokens = whitespace_token_count(text)
    hits = _profile_hits(F.lower(text), _LANG_PROFILES["en"])
    return F.when(tokens > 0, hits / tokens).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + alpha ratio + stopword
    presence + low punctuation noise. Weights are arbitrary but fixed."""
    n = F.length(text)
    length_band = F.when((n >= 50) & (n <= 20000), F.lit(1.0)).when(n > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    score = (
        0.35 * length_band
        + 0.30 * F.least(alpha_ratio(text) * 1.25, F.lit(1.0))
        + 0.20 * F.least(stopword_ratio(text) * 4.0, F.lit(1.0))
        + 0.15 * (1.0 - F.least(punct_ratio(text) * 4.0, F.lit(1.0)))
    )
    # the score is a rational of character/token counts — it CAN sit on a
    # 4-decimal half boundary, where round(double) diverges across engines
    # on the same double; floor(x*1e4 + 0.5) is the engine-stable half-up
    # over the bit-identical deterministic input (oracle mirrors verbatim)
    return F.floor(score * 10000.0 + 0.5) / 10000.0


def chargram_min_fingerprint(text: Column, k: int = 8) -> Column:
    """Rolling-window document fingerprint: minimum md5 over all overlapping
    character k-grams of the whitespace-normalized text (the min-hash of the
    char-shingle set, i.e. winnowing with a single global window).

    One overlapping-match regex pass (lookahead capture, zero-width advance)
    plus one md5 per gram — O(len) per row, no per-gram re-evaluation of the
    normalization. Texts shorter than k fall back to hashing the whole
    normalized text. md5 so a SQL oracle reproduces it bit-for-bit.
    """
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    grams = F.regexp_extract_all(norm, F.lit(f"(?=(.{{{k}}}))"), 1)
    return F.coalesce(F.array_min(F.transform(grams, F.md5)), F.md5(norm))


#: pattern set for PII scrubbing; each entry is (label, java-regex). The
#: patterns deliberately stick to syntax shared by Java regex and RE2 so a
#: SQL engine can replay the scrub (no backrefs, no possessive quantifiers).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?\d[\d\- ]{7,14}\d"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("url", r"https?://[^\s]+"),
)


def redact_pii(text: Column, patterns: tuple[tuple[str, str], ...] = PII_PATTERNS) -> Column:
    """Scrub PII-shaped substrings, replacing each match with ``<LABEL>``.

    One chained ``regexp_replace`` per pattern — all JVM-side, codegen'd, no
    UDF. Order matters: URLs are redacted after emails so an address inside
    a query string is already masked when the URL collapses.
    """
    out = text
    for label, pat in patterns:
        out = F.regexp_replace(out, pat, f"<{label.upper()}>")
    return out


def pii_counts(text: Column, patterns: tuple[tuple[str, str], ...] = PII_PATTERNS) -> Column:
    """Per-row map of pattern label -> match count (``regexp_count``), for
    audit dashboards that track how much was scrubbed per source."""
    return F.map_from_arrays(
        F.array(*[F.lit(label) for label, _ in patterns]),
        F.array(*[F.regexp_count(text, F.lit(pat)) for _, pat in patterns]),
    )
