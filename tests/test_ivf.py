"""IVF ANN tier: determinism, partition-pruned probing, recall vs the
exact brute-force baseline (operators/similarity.py)."""

from __future__ import annotations

import pytest

from ocr_project_spark.operators.similarity import cosine_topk, ivf_build, ivf_topk


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()


def test_ivf_deterministic(spark, emb):
    a_assigned, a_cent = ivf_build(emb, n_centroids=8, seed=42)
    b_assigned, b_cent = ivf_build(emb, n_centroids=8, seed=42)
    assert a_cent == b_cent
    a = {r["vec_id"]: r["cluster"] for r in a_assigned.collect()}
    b = {r["vec_id"]: r["cluster"] for r in b_assigned.collect()}
    assert a == b


def test_ivf_recall_vs_brute_force(spark, emb):
    """recall@10 against the exact tier over 10 queries, at the
    defaults of ivf_build/ivf_topk (8 centroids, n_probe=2; measured
    0.55, where probing a random quarter of the clusters gives ~0.25)
    and with half the clusters probed (n_probe=4; measured 0.81)."""
    assigned, centroids = ivf_build(emb)
    n_queries, k = 10, 10
    queries = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.where(emb.vec_id < n_queries).collect()
    }
    probes = {"default": {}, "half": {"n_probe": 4}}
    recalls = {name: [] for name in probes}
    for qid, qv in queries.items():
        rest = emb.where(emb.vec_id != qid)
        exact = {r["vec_id"] for r in cosine_topk(rest, qv, k=k).collect()}
        for name, kw in probes.items():
            approx = {
                r["vec_id"]
                for r in ivf_topk(
                    assigned.where(assigned.vec_id != qid), centroids, qv,
                    k=k, **kw,
                ).collect()
            }
            recalls[name].append(len(exact & approx) / k)
    mean = {name: sum(r) / len(r) for name, r in recalls.items()}
    # brute-force remains the exact tier, IVF is the pruned scale path
    assert mean["default"] >= 0.45, recalls
    assert mean["half"] >= 0.7, recalls


def test_ivf_probe_prunes(spark, emb):
    assigned, centroids = ivf_build(emb, n_centroids=8, seed=42)
    qv = [float(x) for x in emb.first()["embedding"]]
    probed = ivf_topk(assigned, centroids, qv, k=5, n_probe=2)
    # candidate set is a strict subset of the corpus
    n_cand = assigned.where(
        assigned.cluster.isin(
            [r["cluster"] for r in probed.join(assigned, "vec_id").select("cluster").distinct().collect()]
        )
    ).count()
    assert n_cand < assigned.count()
