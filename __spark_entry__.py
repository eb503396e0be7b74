"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship extraction on sf0.001.
queries()     — the 50 driver records of harness.QUERIES, in registry
                order: callables covering the implemented operators
                (SURVEY.md §2); every one has an oracle.  The other
                records (standalone forms of driver rows, queries with
                no SQL oracle by design) stay verified by
                tools/compare_oracle.py + pytest.
oracle_sql()  — matching DuckDB SQL strings (one per query).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ocr_project_spark import harness  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: boilerplate-strip extraction over derived spans of the
    sf0.001 documents table (the span-domain pipeline itself is
    exercised by pytest against the synthetic interleaved corpus)."""
    return harness.q_extract_clean_spans(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: q.build for n, q in harness.QUERIES.items() if q.driver}


def oracle_sql() -> dict[str, str]:
    return {n: q.oracle for n, q in harness.QUERIES.items() if q.driver}
