"""Batch k-NN join tiers (operators/similarity.py): exact two-phase
top-k equivalence with a brute-force window baseline, per-query row
budgets, the LSH tier's subset-of-exact precision and recall floor.
(The reference engine has no vector ops — this extends the corpus-side
similarity tier; see SURVEY.md §2 "LLM-data-pipeline" operators.)"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from ocr_project_spark.operators.similarity import (
    cosine_expr,
    knn_join,
    knn_join_lsh,
    random_planes,
)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()


def _brute_force(queries, corpus, k):
    """Window-baseline oracle: full cross product + row_number."""
    q = queries.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = corpus.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    scored = q.crossJoin(c).select(
        "qid", "id", cosine_expr(F.col("qv"), F.col("v")).alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("id").asc())
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def test_exact_matches_window_baseline(spark, emb):
    queries = emb.where(F.col("vec_id") < 5)
    corpus = emb.where(F.col("vec_id") >= 5)
    got = {
        (r["qid"], r["id"], round(r["cosine"], 9))
        for r in knn_join(queries, corpus, k=7, q_id="vec_id").collect()
    }
    want = {
        (r["qid"], r["id"], round(r["cosine"], 9))
        for r in _brute_force(queries, corpus, 7).collect()
    }
    assert got == want
    assert len(got) == 5 * 7


def test_exact_k_exceeds_corpus(spark, emb):
    """k larger than the corpus returns every corpus row per query."""
    queries = emb.where(F.col("vec_id") < 2)
    corpus = emb.where((F.col("vec_id") >= 2) & (F.col("vec_id") < 6))
    rows = knn_join(queries, corpus, k=50, q_id="vec_id").collect()
    assert len(rows) == 2 * 4
    per_q = {r["qid"] for r in rows}
    assert per_q == {0, 1}


def test_lsh_rows_subset_of_exact_scores(spark, emb):
    """Every LSH row is a TRUE (query, corpus) cosine (precision is
    exact) and per-query output stays within the k budget."""
    queries = emb.where(F.col("vec_id") < 5)
    corpus = emb.where(F.col("vec_id") >= 5)
    planes = random_planes(16, len(emb.first()["embedding"]))
    approx = knn_join_lsh(queries, corpus, k=7, planes=planes, q_id="vec_id")
    rows = approx.collect()
    full = {
        (r["qid"], r["id"]): r["cosine"]
        for r in _brute_force(queries, corpus, 10**9).collect()
    }
    for r in rows:
        assert abs(full[(r["qid"], r["id"])] - r["cosine"]) < 1e-9
    from collections import Counter

    per_q = Counter(r["qid"] for r in rows)
    assert all(n <= 7 for n in per_q.values()), per_q


def test_lsh_recall_floor_on_defaults(spark, emb):
    """Recall is tunable by band width: r = planes/bands bits per band
    gives 2^r values per band (bucket selectivity) and candidate
    recall ~ 1-(1-s^r)^bands.  knn_join_lsh DEFAULTS to 24 planes /
    8 bands (8 values per band — still a real bucket join, not a
    cross join), so retrieval callers get ~0.9 recall of the true
    top-k out of the box; 16/4 (measured 0.46 here) remains the
    explicit dup-pair tier configuration."""
    queries = emb.where(F.col("vec_id") < 10)
    corpus = emb.where(F.col("vec_id") >= 10)
    k = 5
    exact = {
        (r["qid"], r["id"])
        for r in knn_join(queries, corpus, k=k, q_id="vec_id").collect()
    }
    approx = {
        (r["qid"], r["id"])
        for r in knn_join_lsh(queries, corpus, k=k, q_id="vec_id").collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, recall


def test_driver_query_shape(spark):
    from ocr_project_spark import harness

    df = harness.QUERIES["knn_join"].build(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert df.columns == ["qid", "vec_id", "cosine"]
    assert rows and all(r["qid"] in (0, 1, 2) for r in rows)
