"""The extraction pipeline's custom-classifier path: one Arrow crossing.

Same semantics as operators/extract.py (the built-in-HOF plan), but
the boilerplate classifier is a Python batch function — a learned
model, a tokenizer — run as a vectorized pandas kernel, the shape the
reference's recognizer engines take in the new architecture (SURVEY.md
section 2.9): Arrow batches of many documents in, batches out,
heavyweight classifier state initialized per python worker (the
lazy-init pattern of tesseract.py:96-98).  The built-in "density"
classifier never crosses: it is expression-expressible, so it runs as
extract() itself.

CLASSIFIER-ONLY CROSSING: the only thing that crosses Arrow is what
the Python classifier actually needs — one ``array<string>`` column
of media-resolved span texts in (resolved JVM-side with the exact
expression the HOF path uses), one ``array<boolean>`` keep mask out,
as a scalar Arrow-batched ``pandas_udf``.  Sort, keep-gather, dense
re-rank, media resolution, and the never-fail status all stay in the
JVM: the mask is swapped into extract.assemble_expr as its keep
predicate.  Nothing wider crosses because the conversion is the cost:
nested span structs spent >50% of wall time becoming Python dicts, and
parallel primitive arrays in and out ran ~2x the HOF plan.

Inside the kernel everything is flat-array vectorized: one
np.concatenate over the Arrow batch's list cells, one classifier call
over the flat text array, one np.split back to per-doc masks — no
per-row pandas indexing and no per-document Python round trips.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_project_spark.operators.extract import (
    SPAN_ARRAY_TYPE,
    _plan_exprs,
    _with_fused_map,
    assemble_expr,
    extract,
    resolved_text,
)


def _is_null_cell(x) -> bool:
    """Arrow->pandas renders a NULL list cell as None or NaN depending
    on the batch; treat both as the absent-payload case."""
    return x is None or (isinstance(x, float) and x != x)


def _keep_mask_udf(classifier_ref):
    """Build the scalar Arrow-batched keep-mask UDF around a classifier
    reference: ``array<string>`` resolved span texts per doc in,
    ``array<boolean>`` content mask (storage order) per doc out.

    A name resolves lazily per worker against the module-level registry
    (classifiers registered at import time); a callable ships in the
    task closure via cloudpickle.  Mirrors the reference's name-based
    discovery with instance registration fallback
    (engine_manager.py:379-407 vs :55-64).

    Per batch: one np.concatenate flatten over the list cells, ONE
    classifier call over the flat text array (the vectorization the
    classifier contract promises), one np.split back to per-doc masks.
    A null texts cell (doc with null spans) maps to a null mask — the
    caller's status gate never consults it."""

    def _mask(texts: pd.Series) -> pd.Series:
        # Lazy per-worker init (the reference's lazy engine init,
        # tesseract.py:96-98): resolve once per batch, a dict lookup.
        if callable(classifier_ref):
            classify = classifier_ref
        else:
            from ocr_project_spark.functions.engine_udfs import get_classifier

            classify = get_classifier(classifier_ref)

        cells = texts.to_numpy(dtype=object)
        n = len(cells)
        null_cell = np.fromiter(
            (_is_null_cell(c) for c in cells), dtype=bool, count=n
        )
        counts = np.fromiter(
            (0 if null_cell[i] else len(cells[i]) for i in range(n)),
            dtype=np.int64,
            count=n,
        )
        total = int(counts.sum())
        if total:
            flat = np.concatenate(
                [
                    np.asarray(cells[i], dtype=object)
                    for i in np.flatnonzero(counts)
                ]
            )
            content = np.asarray(classify(pd.Series(flat)), dtype=bool)
            parts = np.split(content, np.cumsum(counts)[:-1])
        else:
            parts = [np.array([], dtype=bool)] * n
        out = pd.Series(parts, dtype=object)
        if null_cell.any():
            out[null_cell] = None
        return out

    return F.pandas_udf(_mask, "array<boolean>")


def extract_pandas_engine(
    docs: DataFrame,
    candidates: DataFrame | None = None,
    classifier="density",
) -> DataFrame:
    """(doc_id, spans) [+ candidates] -> (doc_id, spans out, status)
    with a pluggable boilerplate classifier.  Invalid docs surface as
    status.ok=false rows with empty spans (never-fail contract), in
    lockstep with operators/extract.extract.

    ``classifier`` is a registered name (functions/engine_udfs) or a
    ``pandas.Series[str] -> bool array`` callable.  The built-in
    "density" name is extract(docs, candidates) itself, no Python
    crossing; anything else — a callable density_classifier included —
    runs through the classifier-only pandas_udf crossing (module
    docstring).  Both are row-identical for the density rule (pinned
    by tests/test_extract_pandas and the shared extraction oracle)."""
    if classifier == "density":
        return extract(docs, candidates)

    prepped = _with_fused_map(
        docs.withColumn("status", _plan_exprs().status), candidates
    )
    fm = F.col("fused_map")
    # The ONLY column that crosses into Python: each doc's
    # media-resolved texts, in storage order.
    resolved_texts = F.transform("spans", lambda s: resolved_text(s, fm))
    # Each span carries its mask element (storage index) into
    # assemble_expr; the keep gate is (media | mask) like the built-in
    # (media | is_content), a null element gating to not-kept.  The
    # output struct projects kind/text/media_ref/order only, so the
    # tag drops out.  The tagged array is its own projection: inlined
    # into assemble_expr's gather lambda it would be rebuilt once per
    # span.
    tagged = prepped.withColumn(
        "_keep", _keep_mask_udf(classifier)(resolved_texts)
    ).withColumn(
        "spans",
        F.transform(
            "spans",
            lambda s, i: s.withField("_k", F.element_at(F.col("_keep"), i + 1)),
        ),
    )
    assembled = assemble_expr(
        F.col("spans"),
        fm,
        lambda s: (s["kind"] == F.lit("media"))
        | F.coalesce(s["_k"], F.lit(False)),
    )
    return tagged.select(
        "doc_id",
        F.when(F.col("status.ok"), assembled)
        .otherwise(F.array().cast(SPAN_ARRAY_TYPE))
        .alias("spans"),
        "status",
    )
