"""Span-sequence equality: Spark pipeline vs pure-Python oracle.

The BASELINE.json per-row invariant: for every document, the extracted
(kind, text, media_ref, order) sequence must match the reference
extractor exactly.  The oracle (ocr_project_spark/oracle.py) implements
the reference semantics with naive loops; this test runs the distributed
pipeline on the same fixture corpus and compares per doc_id.
"""

from __future__ import annotations

from ocr_project_spark import oracle
from ocr_project_spark.operators.extract import extract


def spark_extract_to_dict(docs_df, cands_df):
    rows = extract(docs_df, cands_df).collect()
    return {
        r["doc_id"]: [
            dict(kind=s["kind"], text=s["text"], media_ref=s["media_ref"], order=s["order"])
            for s in (r["spans"] or [])
        ]
        for r in rows
    }


def test_span_sequence_equality(corpus, corpus_dfs):
    docs, cands = corpus
    docs_df, cands_df = corpus_dfs
    expected = oracle.extract_corpus(docs, cands)
    actual = spark_extract_to_dict(docs_df, cands_df)

    assert set(actual) == set(expected)
    mismatches = []
    for doc_id in sorted(expected):
        if actual[doc_id] != expected[doc_id]:
            mismatches.append((doc_id, expected[doc_id], actual[doc_id]))
    assert not mismatches, (
        f"{len(mismatches)} docs mismatch; first: {mismatches[0]}"
    )


def test_edge_docs_present(corpus):
    """The fixture corpus must include the FIXTURES.md edge cases."""
    docs, _ = corpus
    by_len = {len(d["spans"]) for d in docs}
    assert 0 in by_len, "empty doc"
    assert 1 in by_len, "single-span doc"
    assert 400 in by_len, "mega-doc"


def test_all_boilerplate_doc_empty_output(corpus):
    docs, cands = corpus
    expected = oracle.extract_corpus(docs, cands)
    # at least one non-empty doc extracts to an empty sequence
    assert any(
        len(d["spans"]) > 0 and expected[d["doc_id"]] == [] for d in docs
    )


def test_extract_without_candidates(spark, corpus_dfs):
    """Media spans keep their caption when no candidate table given."""
    docs_df, _ = corpus_dfs
    out = extract(docs_df, None)
    row = (
        out.selectExpr("doc_id", "filter(spans, s -> s.kind = 'media') m")
        .where("size(m) > 0")
        .first()
    )
    assert row is not None
    assert all(s["text"] is not None for s in row["m"])


def test_repeated_extract_reuses_plan_columns(monkeypatch, corpus_dfs):
    """extract()'s input-independent Columns are built once per JVM: a
    second call in the same session issues a fraction of the first
    plan's Py4J commands (building them costs ~1,500) and returns the
    same rows."""
    from py4j.clientserver import JavaClient

    docs_df, cands_df = corpus_dfs
    first = extract(docs_df, cands_df)

    sent = [0]
    send = JavaClient.send_command

    def counting(self, *args, **kwargs):
        sent[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(JavaClient, "send_command", counting)
    second = extract(docs_df, cands_df)
    monkeypatch.undo()

    assert sent[0] <= 250, sent[0]
    assert sorted(first.collect()) == sorted(second.collect())
