"""Query-registry invariants (no Spark session needed).

The correctness driver samples the first 50 queries() entries in dict
order, so harness.QUERIES must lead with exactly 50 driver records,
every one oracle-bearing, in a pinned order; every other record is
checked locally (tools/compare_oracle.py, tests/test_local_oracles.py).
"""

from __future__ import annotations

from ocr_project_spark import harness

DRIVER_ORDER = [
    "scrub_passages_broadcast", "corpus_funnel", "duplicate_passages",
    "shuffle_shards", "tfidf_top_terms", "lm_perplexity", "bm25_topk",
    "dsir_weights", "scrub_passages", "rrf_hybrid", "semdedup",
    "mix_corpus", "clean_lines", "gopher_rules", "scrub_pii", "source_cap",
    "dedup_lines", "knn_join", "decontaminate", "hash_sample",
    "pack_sequences", "repetition_stats", "curate_corpus", "retry_routing",
    "engine_lang_filter", "media_byte_stats", "ivf_exhaustive_topk",
    "asof_join", "interval_join", "normalize_text", "reading_order",
    "text_profile", "extract_clean_spans", "window_docs",
    "fuse_candidates", "fusion_routing", "session_stats", "top1_per_group",
    "batch_stats", "consensus_boost", "left_join_fallback", "exact_dedup",
    "dedup_then_extract", "minhash_lsh_pairs", "ann_lsh_topk",
    "quality_scores", "strategy_routing", "xy_cut", "simhash64_pairs",
    "embedding_near_dup",
]


def test_names_unique_and_derived_from_builders():
    builders = [q.build for q in harness.QUERIES.values()]
    # a duplicate name would silently overwrite an earlier record
    assert len(set(builders)) == len(builders) == 79
    for name, q in harness.QUERIES.items():
        assert name == q.name == q.build.__name__[2:]
        assert q.build.__name__.startswith("q_")


def test_driver_registry_within_cap_and_fully_oracled():
    names = list(harness.QUERIES)
    driver = [n for n, q in harness.QUERIES.items() if q.driver]
    assert driver == DRIVER_ORDER
    assert names[: len(driver)] == driver
    for n in driver:
        oracle = harness.QUERIES[n].oracle
        assert isinstance(oracle, str) and "SELECT" in oracle.upper(), n


def test_local_registry_disjoint_and_consistent():
    local = {n: q for n, q in harness.QUERIES.items() if not q.driver}
    assert len(local) == 29
    no_oracle = {n for n, q in local.items() if q.oracle is None}
    assert no_oracle == {
        "bpe_tokens", "ivf_topk", "media_decode", "quality_classifier",
        "span_pipeline",
    }


def test_entry_module_exposes_driver_contract():
    import __spark_entry__ as e

    driver = {n: q for n, q in harness.QUERIES.items() if q.driver}
    qs, osql = e.queries(), e.oracle_sql()
    assert list(qs.items()) == [(n, q.build) for n, q in driver.items()]
    assert list(osql.items()) == [(n, q.oracle) for n, q in driver.items()]
