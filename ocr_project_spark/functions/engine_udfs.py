"""Vectorized pandas-UDF classifier engine with a pluggable registry.

The reference's extension point is an engine registry with an abstract
scalar contract (`BaseOCREngine.extract_text`, /root/reference/src/
advanced_ocr/core/base_engine.py:43-82; registration at
core/engine_manager.py:55-64; lazy init inside the call at
engines/tesseract.py:96-98).  The Spark-native analog:

  * a CLASSIFIERS registry of *batch* functions
    (pandas.Series of span texts) -> (boolean content mask)
  * resolved lazily on the python worker inside the scalar
    Arrow-batched pandas_udf that crosses only texts in and a keep
    mask out — see operators/extract_pandas.py.

Classifiers must agree with rules.is_content for the default density
rule; tests enforce engine-path equality against the HOF plan.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd

from ocr_project_spark import rules

Classifier = Callable[[pd.Series], np.ndarray]

CLASSIFIERS: dict[str, Classifier] = {}


def register_classifier(name: str, fn: Classifier) -> None:
    """Analog of EngineManager.register_engine (engine_manager.py:55-64)."""
    if not callable(fn):
        raise TypeError(f"classifier {name!r} is not callable")
    CLASSIFIERS[name] = fn


def get_classifier(name: str) -> Classifier:
    try:
        return CLASSIFIERS[name]
    except KeyError:
        from ocr_project_spark.errors import ClassifierNotAvailableError

        raise ClassifierNotAvailableError(
            f"unknown classifier {name!r}; available: {sorted(CLASSIFIERS)}"
        ) from None


def density_classifier(texts: pd.Series) -> np.ndarray:
    """Boilerpipe-style density rule, vectorized over an Arrow batch.

    Semantics identical to rules.is_content (and the HOF expression in
    functions/classify.py): content iff n_tokens >= CONTENT_MIN_TOKENS
    and link_density < MAX_LINK_DENSITY.
    """
    toks = texts.fillna("").str.split()
    n = toks.str.len().to_numpy()
    links = np.fromiter(
        (t.count(rules.LINK_TOKEN) for t in toks), dtype=np.int64, count=len(toks)
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        density = np.where(n > 0, links / np.maximum(n, 1), 0.0)
    return (n >= rules.CONTENT_MIN_TOKENS) & (density < rules.MAX_LINK_DENSITY)


register_classifier("density", density_classifier)
