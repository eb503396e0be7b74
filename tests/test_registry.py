"""Driver-contract registry invariants (no Spark session needed).

The correctness driver samples the first 50 queries() entries in dict
order, so the registry must hold exactly 50 entries, every one
oracle-bearing; the folded-out demos live in LOCAL_QUERIES and must
not collide with driver keys.
"""

from __future__ import annotations

from ocr_project_spark import harness


def test_driver_registry_within_cap_and_fully_oracled():
    assert len(harness.SPARK_QUERIES) == 50
    assert set(harness.ORACLE_SQL) == set(harness.SPARK_QUERIES)
    assert all(callable(f) for f in harness.SPARK_QUERIES.values())
    assert all(
        isinstance(s, str) and "SELECT" in s.upper()
        for s in harness.ORACLE_SQL.values()
    )


def test_local_registry_disjoint_and_consistent():
    overlap = set(harness.LOCAL_QUERIES) & set(harness.SPARK_QUERIES)
    assert not overlap, overlap
    # every local oracle belongs to a local query
    assert set(harness.LOCAL_ORACLE_SQL) <= set(harness.LOCAL_QUERIES)


def test_entry_module_exposes_driver_contract():
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    assert set(qs) == set(harness.SPARK_QUERIES)
    assert set(osql) == set(harness.ORACLE_SQL)
    # ordering is the sampling contract: never-checked/new entries first
    # (round-5 continuation: the new broadcast scrub tier leads, then
    # the round-5 rotation block, then the round-4 curation/scoring
    # block)
    assert list(qs)[:17] == [
        "scrub_passages_broadcast",
        "corpus_funnel", "duplicate_passages", "shuffle_shards",
        "tfidf_top_terms",
        "lm_perplexity", "bm25_topk", "dsir_weights", "scrub_passages",
        "rrf_hybrid", "semdedup", "mix_corpus", "clean_lines",
        "gopher_rules", "scrub_pii", "source_cap", "dedup_lines",
    ]
