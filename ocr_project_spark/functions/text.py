"""Text-analysis column expressions: tokenization, quality scoring,
language ID, fingerprinting, span derivation from flat text.

These are the flat-text analogs of the reference's per-image quality
kernel K1 (/root/reference/src/advanced_ocr/preprocessing/
quality_analyzer.py:51-119): cheap per-document statistics that drive
routing (K3, quality_analyzer.py:306-313).  All built-in expressions —
JVM-side, codegen-friendly, no Python crossing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_WS = r"\s+"

# Small English stopword list for the language-ID heuristic.  Public
# knowledge; intentionally tiny so the DuckDB oracle can inline it.
EN_STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "for"]


def tokens(text: Column) -> Column:
    """Whitespace tokens (Python str.split semantics)."""
    return F.array_remove(F.split(F.coalesce(text, F.lit("")), _WS), "")


def word_tokens(text: Column) -> Column:
    """BPE-ish pre-tokenization: split on any non-alphanumeric run.

    The scalar analog of C2/C4 (engine_manager.py:320-321,
    tesseract.py:319-326).
    """
    return F.array_remove(
        F.split(F.lower(F.coalesce(text, F.lit(""))), r"[^a-z0-9]+"), ""
    )


def chunk_tokens(toks: Column, k: int = 10) -> Column:
    """Consecutive k-token chunk strings over a token-array column.

    Callers should MATERIALIZE the token array in a projection first
    and pass the column reference: the chunking lambda references the
    array once per chunk, so an inline ``tokens(text)`` expression
    re-tokenizes the document per chunk (measured 1.8x slower on the
    sf0.1 corpus), while a projected column is computed once per row
    (CollapseProject keeps multi-referenced non-cheap projections)."""
    n_chunks = F.ceil(F.size(toks) / F.lit(k)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks, F.lit(1)) - 1),
        lambda i: F.array_join(F.slice(toks, i * k + 1, k), " "),
    )


def quality_score(text: Column, link_token: str = "a") -> Column:
    """Weighted document quality score — the C11 analog
    (quality_analyzer.py:261-281 weights 0.30/0.25/0.25/0.20).

    Components (each in [0,1]):
      length_score    min(1, n_tokens / 100)
      diversity_score distinct tokens / tokens
      word_score      fraction of alphanumeric-only tokens
      link_penalty    1 - link_density(link_token)
    """
    toks = tokens(text)
    n = F.size(toks)
    length_score = F.least(F.lit(1.0), n / F.lit(100.0))
    diversity = F.when(n > 0, F.size(F.array_distinct(toks)) / n).otherwise(0.0)
    alnum = F.when(
        n > 0,
        F.size(F.filter(toks, lambda t: t.rlike("^[A-Za-z0-9]+$"))) / n,
    ).otherwise(0.0)
    link_pen = F.lit(1.0) - F.when(
        n > 0, F.size(F.filter(toks, lambda t: t == F.lit(link_token))) / n
    ).otherwise(0.0)
    return (
        F.lit(0.30) * length_score
        + F.lit(0.25) * diversity
        + F.lit(0.25) * alnum
        + F.lit(0.20) * link_pen
    )


def quality_level(score: Column) -> Column:
    """Score -> level bucketing — C10 (quality_analyzer.py:283-294)."""
    return (
        F.when(score >= 0.8, "excellent")
        .when(score >= 0.6, "good")
        .when(score >= 0.4, "fair")
        .when(score >= 0.2, "poor")
        .otherwise("unusable")
    )


def strategy(score: Column) -> Column:
    """Score -> processing strategy — K3 (quality_analyzer.py:306-313)."""
    return (
        F.when(score >= 0.8, "minimal")
        .when(score >= 0.4, "balanced")
        .otherwise("enhanced")
    )


def stopword_ratio(text: Column) -> Column:
    toks = word_tokens(text)
    n = F.size(toks)
    sw = F.size(
        F.filter(toks, lambda t: F.array_contains(F.array(*[F.lit(s) for s in EN_STOPWORDS]), t))
    )
    return F.when(n > 0, sw / n).otherwise(F.lit(0.0))


def lang_guess(text: Column, threshold: float = 0.05) -> Column:
    """N-gram-free language ID heuristic: stopword ratio >= threshold
    -> 'en', else 'unk'.  (The driver corpus is synthetic vocab text,
    so most docs genuinely classify 'unk' — the point is the operator.)
    """
    return F.when(stopword_ratio(text) >= F.lit(threshold), "en").otherwise("unk")


def fingerprint(text: Column) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash of
    token lengths + first-char codes, mod 2^31-1.  Deterministic and
    expressible identically in DuckDB (list_reduce) for the oracle.
    """
    toks = tokens(text)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (
            acc * 31 + F.length(t) * 7 + F.ascii(F.substring(t, 1, 1))
        )
        % F.lit(2147483647),
    )


def distinct_token_count(df, text_col: str = "text", approximate: bool = True,
                         rsd: float = 0.02):
    """Corpus-wide distinct-token count (A-tier vocabulary statistic).

    ``approximate=True`` (the default, and the only sane choice at
    corpus scale) uses HyperLogLog++ (approx_count_distinct): a
    fixed-size sketch per partition merged on the driver — no shuffle
    of the token universe.  ``approximate=False`` is the exact
    countDistinct used as the small-SF oracle: it shuffles EVERY
    distinct token to a single aggregation and must not be run on a
    10^12-doc corpus (SURVEY.md section 2.4).
    """
    from pyspark.sql import functions as _F

    # explode_outer: avoids the optimizer duplicating the tokenizer
    # into a pushed size>0 filter; both aggregates ignore the null row
    # an empty token array contributes.
    toks = df.select(
        _F.explode_outer(word_tokens(_F.col(text_col))).alias("tok")
    )
    agg = (
        _F.approx_count_distinct("tok", rsd=rsd)
        if approximate
        else _F.countDistinct("tok")
    )
    return toks.agg(agg.alias("n_distinct_tokens"))
