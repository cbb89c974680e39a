"""Text analysis operators (BASELINE.json extension surface).

Language-ID (stopword-hit heuristic), quality scoring, token counting,
document fingerprinting, shingling. Everything is a composition of built-in
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd, no Python in
the data path — so at 100 TB these run at scan speed and stay embarrassingly
parallel (no shuffle: all operators here are per-row).

Design note: each operator has an exact ANSI-SQL twin (used by the DuckDB
oracle in __spark_entry__.py); expressions deliberately stick to portable
constructs (regexp_replace, lambdas over arrays, md5) so the twin stays a
transliteration, not a re-implementation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small, fixed stopword lists per language — enough signal for n-gram-free
# heuristic language ID on web-ish text. Deliberately tiny: the operator's
# value is the *shape* (argmax over per-language token-hit counts), swap in
# bigger lists freely.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"],
    "fr": ["le", "la", "les", "et", "est", "que", "pour", "dans", "une", "pas"],
    "es": ["el", "la", "los", "que", "de", "es", "para", "una", "con", "por"],
}

WORD_SPLIT_RE = "[^a-z0-9]+"
PUNCT_RE = r"[.,;:!?()\[\]{}\"']"


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Lowercase word tokens; empty strings filtered out."""
    return F.filter(F.split(F.lower(col), WORD_SPLIT_RE), lambda t: t != F.lit(""))


def token_count(col: Column) -> Column:
    """Whitespace-ish token count — the cheap LLM-budget estimator."""
    return F.size(tokens(col))


def char_count(col: Column) -> Column:
    return F.length(col)


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are punctuation (quality signal)."""
    stripped = F.regexp_replace(col, PUNCT_RE, "")
    return (F.length(col) - F.length(stripped)) / F.greatest(F.length(col), F.lit(1))


def stopword_hits(col: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of `lang` (occurrences, not distinct)."""
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(col), lambda t: t.isin(*words)))


def stopword_ratio(col: Column, lang: str) -> Column:
    return stopword_hits(col, lang) / F.greatest(token_count(col), F.lit(1))


def mean_word_length(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length sweet-spot, low punctuation
    noise, natural English stopword density. Mirrors the shape of public web-corpus
    quality filters (length/punct/stopword ratios)."""
    n_tok = token_count(col)
    length_ok = F.when((n_tok >= 5) & (n_tok <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(col) < 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(col, "en") > 0.05, F.lit(1.0)).otherwise(F.lit(0.0))
    return (length_ok + punct_ok + stop_ok) / F.lit(3.0)


def lang_id(col: Column) -> Column:
    """Heuristic language ID: argmax over per-language stopword-hit counts.

    Deterministic tie-break: first language in STOPWORDS order wins;
    all-zero scores -> 'und' (undetermined)."""
    toks = tokens(col)
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words)))
        for lang, words in STOPWORDS.items()
    }
    langs = list(STOPWORDS)
    expr = F.lit("und")
    # build the CASE from last to first so earlier languages take precedence
    best = F.greatest(*scores.values())
    for lang in reversed(langs):
        expr = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


# BPE-ish pre-tokenization split (the GPT-2 pattern family, simplified to
# the subset whose semantics are identical in Java regex and RE2): word
# pieces, contractions, digit runs capped at 3 (BPE-style), single
# non-alnum glyphs. Counting these approximates LLM token budgets far
# better than whitespace counting (punctuation & digits tokenize apart).
BPE_SPLIT_RE = r"'[a-z]+|[a-z]+|[0-9]{1,3}|[^\sa-z0-9]"


def bpe_tokens(col: Column) -> Column:
    """BPE-ish pre-tokens of the lowercased text (regexp_extract_all —
    row-local, codegen'd, no Python)."""
    return F.regexp_extract_all(F.lower(col), F.lit(BPE_SPLIT_RE), 0)


def bpe_token_count(col: Column) -> Column:
    """LLM-budget token estimate: count of BPE-ish pre-tokens."""
    return F.size(bpe_tokens(col))


def fingerprint(col: Column) -> Column:
    """Stable document fingerprint: md5 of the normalized text. Identical
    results in any engine with md5 — the exact-dedup key."""
    return F.md5(normalize_text(col))


def char_shingles_of_norm(norm: Column) -> Column:
    """Distinct character 5-grams of an ALREADY-normalized string column.

    Pass a materialized column (``.withColumn("norm", normalize_text(...))``
    in a separate projection) rather than the normalize expression itself:
    higher-order-function lambdas are interpreted, so an inlined expression
    tree would re-run the regexp normalization once per shingle element."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(norm) - 4, F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(norm, i, 5)))


def word_shingles(col: Column) -> Column:
    """Distinct word 4-grams (joined by single spaces)."""
    toks = tokens(col)
    count = F.greatest(F.size(toks) - 3, F.lit(1))
    idx = F.sequence(F.lit(1), count)
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 4)))
    )
