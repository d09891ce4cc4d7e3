"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristic, document fingerprinting. All native
column expressions (JVM, codegen) — these run over every document at
100 TB, so no Python in the path.

These generalize the reference's text handling (title/summary string
ops across the crawlers) to corpus-curation operators; each has a
DuckDB-expressible oracle in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deterministic and cheap — the operator contract is the formula, not a
# model: argmax of marker hits, 'und' when nothing matches.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to"],
    "es": ["el", "la", "los", "de", "que"],
    "de": ["der", "die", "das", "und", "nicht"],
    "fr": ["le", "la", "les", "et", "que"],
}


def tokens_expr(text: Column) -> Column:
    r"""Whitespace tokenization (training-token accounting baseline)."""
    return F.filter(F.split(text, r"\s+"), lambda x: x != "")


def uwords_expr(text: Column) -> Column:
    r"""**Unicode** word extraction — runs of ``[\p{L}\p{N}_]`` — matching
    Python's ``\b\w+\b`` on Hangul/CJK where Java-regex ``\W`` (ASCII)
    drops every non-ASCII char. The word-set substrate for relevance,
    dedup word sets, and language-ID."""
    return F.filter(
        F.regexp_extract_all(text, F.lit(r"[\p{L}\p{N}_]+"), F.lit(0)),
        lambda x: x != "",
    )


def token_count_expr(text: Column) -> Column:
    return F.size(tokens_expr(text))


def bpe_ish_count_expr(text: Column) -> Column:
    """BPE-ish sub-token count: alpha runs, digit runs, and isolated
    non-space symbols — the cheap proxy for tokenizer-cost estimation."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)))


def type_token_ratio_expr(text: Column) -> Column:
    toks = tokens_expr(F.lower(text))
    return F.round(
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast("double"), 6
    )


def quality_score_expr(text: Column) -> Column:
    """Composite quality heuristic: length band + lexical diversity —
    the length/stopword-ratio family of corpus filters. Deterministic,
    oracle-expressible; returns [0, 1] rounded to 6. Built from the
    UNROUNDED ratio (rounding an already-rounded value lands on .5
    boundaries where engines' rounding modes disagree)."""
    toks = tokens_expr(F.lower(text))
    n = F.size(toks).cast("double")
    ttr_raw = F.size(F.array_distinct(toks)).cast("double") / n
    len_score = F.least(n / F.lit(200.0), F.lit(1.0))
    return F.round((len_score + ttr_raw) / F.lit(2.0), 6)


def lang_id_expr(text: Column) -> Column:
    """Marker-hit argmax language ID; ties broken by language-code order,
    'und' when no marker hits. Unicode word extraction so punctuation-
    attached markers still count."""
    toks = F.array_distinct(uwords_expr(F.lower(text)))
    hits = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in ms])))
        for lang, ms in sorted(LANG_MARKERS.items())
    }
    best = F.greatest(*hits.values())
    pred = F.lit("und")
    # reverse order so earlier language codes win ties via later .when
    for lang in sorted(hits, reverse=True):
        pred = F.when(hits[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best == 0, F.lit("und")).otherwise(pred)


def fingerprint_expr(text: Column) -> Column:
    r"""Document fingerprint: md5 of the whitespace-normalized lowercase
    text — the exact-dedup key that survives formatting noise."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))
