"""Composed end-to-end pipeline builder — the §3 lifecycle of SURVEY.md
as one function: validate -> classify/strip -> fuse -> assemble
[-> normalize].

Mirrors the reference's orchestration
(/root/reference/src/advanced_ocr/pipeline.py:63-96) with the
enhancement stage (K4-K6, image_enhancer.py:121-295) transposed to the
span domain: the normalization tier cleans the OUTPUT text of every
kept span (whitespace collapse, control-char strip, newline-run
collapse, zero-width/punctuation squeeze per tier) — applied after
classification so the boilerplate decision is taken on raw input,
matching oracle.extract_corpus(..., normalize=tier).

All stages remain JVM-side column expressions (the per-span ones are
higher-order functions, interpreted per element); composing the
normalizer adds zero shuffles and zero Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_project_spark.functions import cleanup
from ocr_project_spark.operators.extract import extract

_TIERS = {
    "minimal": cleanup.normalize_minimal,
    "balanced": cleanup.normalize_balanced,
    "enhanced": cleanup.normalize_enhanced,
}


def _normalize_spans(spans: Column, tier: str) -> Column:
    fn = _TIERS[tier]
    return F.transform(
        spans,
        lambda s: F.struct(
            s["kind"].alias("kind"),
            fn(s["text"]).alias("text"),
            s["media_ref"].alias("media_ref"),
            s["order"].alias("order"),
        ),
    )


def scrub_spans(spans: Column, patterns: dict[str, str] | None = None) -> Column:
    """Rewrite every span's text through the PII scrubber
    (functions/cleanup.scrub_pii_text), preserving kind/media_ref/order
    and NULL text.  A pure post-transform on the output span array —
    composes with every pipeline mode (normalize tiers, retry fusion,
    mega-doc chunking) because it reads nothing but the final text."""
    return F.transform(
        spans,
        lambda s: F.struct(
            s["kind"].alias("kind"),
            cleanup.scrub_pii_text(s["text"], patterns).alias("text"),
            s["media_ref"].alias("media_ref"),
            s["order"].alias("order"),
        ),
    )


def run_pipeline(
    docs: DataFrame,
    candidates: DataFrame | None = None,
    normalize: str | None = None,
    measure_improvement: bool = False,
    scrub_pii: bool = False,
) -> DataFrame:
    """Full composed pipeline.  ``normalize`` in {None, 'minimal',
    'balanced', 'enhanced', 'auto'} selects the K4-K6 output-cleanup
    tier; 'auto' routes each document through the tier its K1-K3
    quality score recommends (features on RAW input spans, the way the
    reference analyzes the raw image before enhancement).

    ``measure_improvement`` adds a K7 lineage column ``improvement``
    struct(q_before, q_after, q_delta): the quality score of the
    extracted spans before vs after normalization
    (functions/features.improvement_expr; reference
    image_enhancer.py:297-334).  Requires a normalize tier.

    ``scrub_pii`` redacts emails/IPv4s/phone numbers in every OUTPUT
    span's text (cleanup.PII_PATTERNS) as the last stage — after
    normalization, so a tier cannot reassemble a redacted token, and
    after improvement measurement, so K7 scores the pre-redaction text
    (the corpus-level counting form is operators/curate.scrub_pii).
    """
    if scrub_pii:
        inner = run_pipeline(
            docs,
            candidates,
            normalize=normalize,
            measure_improvement=measure_improvement,
        )
        scrubbed = [
            scrub_spans(F.col(c)).alias(c) if c == "spans" else c
            for c in inner.columns
        ]
        return inner.select(*scrubbed)
    if normalize is None:
        if measure_improvement:
            raise ValueError("measure_improvement requires a normalize tier")
        return extract(docs, candidates)

    from ocr_project_spark.functions import features as FT

    def _finish(out: DataFrame, normalized) -> DataFrame:
        cols = ["doc_id", normalized.alias("spans"), "status"]
        if measure_improvement:
            cols.append(
                FT.improvement_expr(F.col("spans"), normalized).alias("improvement")
            )
        return out.select(*cols)

    if normalize == "auto":
        staged = docs.withColumn(
            "_strategy",
            FT.strategy_expr(FT.quality_score_expr(FT.doc_features_expr(F.col("spans")))),
        )
        out = extract(staged, candidates, passthrough=["_strategy"])
        normalized = F.transform(
            F.col("spans"),
            lambda s: F.struct(
                s["kind"].alias("kind"),
                cleanup.normalize_for_strategy(s["text"], F.col("_strategy")).alias("text"),
                s["media_ref"].alias("media_ref"),
                s["order"].alias("order"),
            ),
        )
        return _finish(out, normalized)
    if normalize not in _TIERS:
        raise ValueError(f"unknown normalize tier: {normalize!r}")
    out = extract(docs, candidates)
    return _finish(out, _normalize_spans(F.col("spans"), normalize))
