"""Engine-path equivalence: pandas_udf classifier crossing vs HOF plan.

The two physical strategies (built-in expressions vs Arrow-batched
pandas classifier) must produce byte-identical span sequences — the analog
of the reference's single- vs multi-engine golden outputs agreeing
(/root/reference/results/01_simple_ocr.txt vs 02_multi_engine_ocr.txt).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ocr_project_spark.functions.engine_udfs import (
    CLASSIFIERS,
    density_classifier,
    get_classifier,
    register_classifier,
)
from ocr_project_spark.operators.extract import extract
from ocr_project_spark.operators.extract_pandas import extract_pandas_engine
from ocr_project_spark import rules


def to_dict(df):
    return {
        r["doc_id"]: [tuple(s) for s in (r["spans"] or [])] for r in df.collect()
    }


def test_pandas_engine_matches_hof(corpus_dfs):
    docs_df, cands_df = corpus_dfs
    hof = to_dict(extract(docs_df, cands_df))
    eng = to_dict(
        extract_pandas_engine(docs_df, cands_df, classifier=density_classifier)
    )
    assert set(hof) == set(eng)
    bad = [k for k in hof if hof[k] != eng[k]]
    assert not bad, f"{len(bad)} docs differ; first: {bad[0]}: {hof[bad[0]][:3]} vs {eng[bad[0]][:3]}"


def test_pandas_engine_no_candidates(corpus_dfs):
    docs_df, _ = corpus_dfs
    hof = to_dict(extract(docs_df, None))
    eng = to_dict(
        extract_pandas_engine(docs_df, None, classifier=density_classifier)
    )
    assert hof == eng


def _python_nodes(df) -> dict[str, int]:
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        node: len(re.findall(rf"\b{node}\b", plan))
        for node in (
            "ArrowEvalPython",
            "BatchEvalPython",
            "MapInArrow",
            "PythonMapInArrow",
        )
    }


def test_builtin_classifier_is_the_hof_plan(corpus_dfs):
    """The built-in classifier runs as extract() itself — same rows, no
    Python node in the plan; a callable classifier crosses once, as
    one ArrowEvalPython."""
    docs_df, cands_df = corpus_dfs
    default = extract_pandas_engine(docs_df, cands_df)
    assert to_dict(default) == to_dict(extract(docs_df, cands_df))
    # a fresh plan: AQE prints initial and final plans once executed
    builtin = _python_nodes(extract_pandas_engine(docs_df, cands_df))
    assert sum(builtin.values()) == 0, builtin

    crossing = _python_nodes(
        extract_pandas_engine(docs_df, cands_df, classifier=density_classifier)
    )
    assert crossing == {
        "ArrowEvalPython": 1,
        "BatchEvalPython": 0,
        "MapInArrow": 0,
        "PythonMapInArrow": 0,
    }


def test_density_classifier_matches_rules():
    texts = pd.Series(
        [
            "one two three four five six seven eight nine ten",
            "short",
            None,
            "",
            "<a> <a> <a> <a> <a> one two three four five",
            "w1 w2 w3 w4 w5 w6 w7 w8",
        ]
    )
    mask = density_classifier(texts)
    expected = np.array([rules.is_content(t) for t in texts])
    assert (mask == expected).all()


def test_registry_roundtrip():
    def always_true(s: pd.Series) -> np.ndarray:
        return np.ones(len(s), dtype=bool)

    register_classifier("always_true", always_true)
    assert get_classifier("always_true") is always_true
    assert "density" in CLASSIFIERS
    with pytest.raises(KeyError):
        get_classifier("nope")
    with pytest.raises(TypeError):
        register_classifier("bad", 42)  # type: ignore[arg-type]


def test_custom_classifier_changes_output(corpus_dfs):
    """A keep-everything classifier must retain boilerplate spans —
    proves the engine path actually consults the plugged classifier.
    Passed as a callable: driver-side registrations don't exist in the
    worker registry, so callables ship via the task closure."""

    def keep_all(s: pd.Series) -> np.ndarray:
        return np.ones(len(s), dtype=bool)

    docs_df, _ = corpus_dfs
    default = extract_pandas_engine(docs_df, None)
    keepall = extract_pandas_engine(docs_df, None, classifier=keep_all)
    n_default = default.selectExpr("sum(size(spans))").first()[0]
    n_keepall = keepall.selectExpr("sum(size(spans))").first()[0]
    assert n_keepall > n_default
