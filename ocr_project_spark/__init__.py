"""PySpark-native interleaved-document extraction engine.

A from-scratch re-expression of the capabilities of the reference
``adarsh7892368289-ai/OCR-Project`` (a single-process detect -> recognize ->
fuse OCR library) as declarative Spark DataFrame stages over tables of
interleaved text+media documents::

    (doc_id: string, spans: array<struct<kind, text, media_ref, offset>>)

Design (see SURVEY.md):
  * DataFrame / Catalyst-first — classification, fusion, assembly are
    built-in column expressions & higher-order functions wherever
    expressible (whole-stage codegen, no Python in the hot path).
  * A vectorized Arrow/pandas-UDF engine path mirrors the reference's
    pluggable recognizer registry for kernels Spark can't express.
  * Explicit hash(doc_id) partitioning + salting for skewed mega-docs,
    AQE on, resumable checkpoints with per-partition watermarks.
"""

__version__ = "0.2.0"

from ocr_project_spark.session import get_spark  # noqa: F401


def extract_documents(
    docs,
    candidates=None,
    spark=None,
    normalize: str | None = None,
    measure_improvement: bool = False,
):
    """One-call extraction — the engine's analog of the reference's
    ``extract_text(path)`` convenience (reference __init__.py:55-64),
    corpus-shaped: parquet path or DataFrame in, extracted-spans
    DataFrame out (lazy; nothing executes until an action).

    * ``docs`` / ``candidates``: parquet path strings or DataFrames.
    * ``normalize``: K4-K6 tier or 'auto' (per-doc quality routing).
    * ``measure_improvement``: add the K7 q_before/q_after/q_delta
      lineage column (requires a tier).
    """
    from pyspark.sql import DataFrame

    if spark is None:
        spark = get_spark()
    if isinstance(docs, str):
        docs = spark.read.parquet(docs)
    if isinstance(candidates, str):
        candidates = spark.read.parquet(candidates)
    if not isinstance(docs, DataFrame):
        raise TypeError("docs must be a parquet path or a DataFrame")

    if normalize is None and not measure_improvement:
        from ocr_project_spark.operators.extract import extract

        return extract(docs, candidates)
    from ocr_project_spark.pipeline import run_pipeline

    return run_pipeline(
        docs,
        candidates,
        normalize=normalize,
        measure_improvement=measure_improvement,
    )
