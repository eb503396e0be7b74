"""Span classification as native Column expressions (JVM-side).

The new engine's stand-in for the reference's recognizer kernels
(K9-K10, /root/reference/src/advanced_ocr/engines/tesseract.py:90-208):
a Boilerpipe-style text-density + link-density block scorer, built from
built-in functions so it runs in the JVM with no Python crossing in the
hot path (SURVEY.md section 4 mandate).

``operators/extract.assemble_expr`` evaluates ``is_content_expr`` inside
a ``filter`` lambda.  Higher-order functions are ``CodegenFallback``:
their lambda bodies are interpreted per element, with no common-
subexpression elimination, so a per-span value referenced twice is
computed twice.  Bind such a value once (see ``is_content_expr``).

The rule (rules.py): content iff n_tokens >= CONTENT_MIN_TOKENS and
link_density < MAX_LINK_DENSITY.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ocr_project_spark import rules

# Exactly the characters Python's str.isspace() accepts: Unicode
# White_Space ((?U) makes Java's \s mean that) plus the \x1c-\x1f
# separators.  Plain Java \s is ASCII-only and would miscount tokens
# against rules.py's str.split().
_WS = r"(?U)[\s\x1c-\x1f]+"


def tokens_expr(text: Column) -> Column:
    """Whitespace tokens, matching Python ``str.split()`` semantics
    (no empty tokens from leading/trailing whitespace)."""
    return F.array_remove(F.split(F.coalesce(text, F.lit("")), _WS), "")


def n_tokens_expr(text: Column) -> Column:
    return F.size(tokens_expr(text))


def link_count_expr(toks: Column) -> Column:
    """Link-marker tokens in a token array (no per-token lambda)."""
    return F.size(toks) - F.size(F.array_remove(toks, rules.LINK_TOKEN))


def link_density_expr(text: Column) -> Column:
    n = n_tokens_expr(text)
    return F.when(n > 0, link_count_expr(tokens_expr(text)) / n).otherwise(
        F.lit(0.0)
    )


def is_content_expr(text: Column) -> Column:
    """Boolean: the span survives boilerplate stripping."""

    def rule(toks: Column) -> Column:
        n = F.size(toks)
        # n >= stays the left operand: its short-circuit keeps the link
        # density from dividing by zero under ANSI mode.
        return (n >= F.lit(rules.CONTENT_MIN_TOKENS)) & (
            link_count_expr(toks) / n < F.lit(rules.MAX_LINK_DENSITY)
        )

    # Tokenize once: the one-element exists binds the token array to
    # ``toks``.  Inside assemble_expr's filter lambda nothing is
    # codegen'd or common-subexpression-eliminated, so writing the rule
    # over tokens_expr(text) directly would split the text three times.
    return F.exists(F.array(tokens_expr(text)), rule)


def word_set_expr(text: Column) -> Column:
    """Lowercased distinct word set — engine_manager.py:320-321."""
    return F.array_distinct(
        F.array_remove(F.split(F.lower(F.coalesce(text, F.lit(""))), _WS), "")
    )


def jaccard_expr(a: Column, b: Column) -> Column:
    """Word-set Jaccard similarity — engine_manager.py:314-329.

    Assumes both sides non-blank (callers gate on validity first); the
    blank branches of the reference return 0.0 / equality-test which we
    reproduce with explicit whens.
    """
    w1, w2 = word_set_expr(a), word_set_expr(b)
    inter = F.size(F.array_intersect(w1, w2))
    union = F.size(F.array_union(w1, w2))
    return (
        F.when(
            (F.coalesce(a, F.lit("")) == "") | (F.coalesce(b, F.lit("")) == ""),
            F.lit(0.0),
        )
        .when(
            (F.size(w1) == 0) | (F.size(w2) == 0),
            # a side with no words is all whitespace, so the reference's
            # a.strip() == b.strip() holds iff the other side has none too
            # (Spark's trim strips only spaces, so it cannot be used here)
            F.when(F.size(w1) == F.size(w2), F.lit(1.0)).otherwise(F.lit(0.0)),
        )
        .otherwise(inter / union)
    )
