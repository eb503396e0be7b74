"""Never-fail contract: invalid documents surface as status rows, not
dropped rows (reference pipeline.py:286-309 / engine_manager.py:132-142
turn per-item errors into error results; a batch never dies).

All three physical paths (HOF plan, chunked plan, pandas classifier
crossing) and the pure-Python oracle must agree doc-for-doc on
(ok, reason, spans) — including on a null span *element*, which every
path must classify as malformed_span rather than crash.
"""

from __future__ import annotations

import pytest

from ocr_project_spark import oracle, schema
from ocr_project_spark.functions.engine_udfs import density_classifier
from ocr_project_spark.operators.extract import extract, extract_chunked
from ocr_project_spark.operators.extract_pandas import extract_pandas_engine


@pytest.fixture(scope="module")
def bad_corpus(spark):
    docs = [
        (None, [("text", "a b c d e f g h i", None, 0)]),          # null_doc_id
        ("d_null_spans", None),                                    # null_spans
        ("d_bad_offset", [("text", "x y z w q r s t", None, None)]),  # malformed
        ("d_bad_kind", [(None, "x y z w q r s t", None, 0)]),      # malformed
        ("d_null_elem", [None]),                                   # malformed
        ("d_ok", [("text", "one two three four five six seven eight", None, 0)]),
        ("d_empty", []),                                           # ok, empty out
    ]
    return spark.createDataFrame(docs, schema.DOCUMENTS_SPANS)


def collect_status(df):
    return {
        r["doc_id"]: (
            r["status"]["ok"],
            r["status"]["reason"],
            [tuple(s) for s in (r["spans"] or [])],
        )
        for r in df.collect()
    }


EXPECTED = {
    None: (False, "null_doc_id", []),
    "d_null_spans": (False, "null_spans", []),
    "d_bad_offset": (False, "malformed_span", []),
    "d_bad_kind": (False, "malformed_span", []),
    "d_null_elem": (False, "malformed_span", []),
    "d_ok": (
        True,
        None,
        [("text", "one two three four five six seven eight", None, 0)],
    ),
    "d_empty": (True, None, []),
}


def test_hof_path_emits_status_rows(bad_corpus):
    got = collect_status(extract(bad_corpus, None))
    assert got == EXPECTED


def test_chunked_path_emits_status_rows(bad_corpus):
    got = collect_status(extract_chunked(bad_corpus, None, max_spans_per_chunk=2))
    assert got == EXPECTED


def test_pandas_path_emits_status_rows(bad_corpus):
    got = collect_status(
        extract_pandas_engine(bad_corpus, None, classifier=density_classifier)
    )
    assert got == EXPECTED


def test_python_oracle_statuses_agree(bad_corpus):
    rows = [
        dict(
            doc_id=r["doc_id"],
            spans=None
            if r["spans"] is None
            else [
                None
                if s is None
                else dict(kind=s["kind"], text=s["text"],
                          media_ref=s["media_ref"], offset=s["offset"])
                for s in r["spans"]
            ],
        )
        for r in bad_corpus.collect()
    ]
    for doc in rows:
        out = oracle.extract_document(doc)
        ok, reason = out["status"]
        spans = [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in out["spans"]
        ]
        assert (ok, reason, spans) == EXPECTED[doc["doc_id"]]


def test_checkpoint_metrics_count_errors(spark, bad_corpus, tmp_path):
    from ocr_project_spark.plans import checkpoint

    out_dir = str(tmp_path / "ck")
    checkpoint.run(spark, bad_corpus, out_dir, "err-run", n_buckets=2,
                   bucket_batch_size=2)
    met = checkpoint.read_metrics(spark, out_dir)
    total_err = met.groupBy().sum("errors").collect()[0][0]
    assert total_err == 5  # the five invalid fixture docs

    # and the observe()-based counters see them too
    from ocr_project_spark.plans import metrics

    observed_out, obs = metrics.observed(extract(bad_corpus, None))
    observed_out.write.format("noop").mode("overwrite").save()
    assert obs.get["error_docs"] == 5
    assert obs.get["docs"] == 7


def test_resume_with_changed_buckets_rejected(spark, bad_corpus, tmp_path):
    """bucket = pmod(hash(doc_id), n) changes meaning with n: resuming
    a run with a different n_buckets must fail loudly, not silently
    skip the wrong documents."""
    import pytest

    from ocr_project_spark.errors import CheckpointConflictError
    from ocr_project_spark.plans import checkpoint

    out_dir = str(tmp_path / "ck2")
    checkpoint.run(spark, bad_corpus, out_dir, "run-x", n_buckets=4,
                   bucket_batch_size=4)
    with pytest.raises(CheckpointConflictError, match="n_buckets"):
        checkpoint.run(spark, bad_corpus, out_dir, "run-x", n_buckets=8)
    # same config resumes fine (no-op: all buckets committed)
    checkpoint.run(spark, bad_corpus, out_dir, "run-x", n_buckets=4)
    # a different run_id at the same root is its own config
    checkpoint.run(spark, bad_corpus, out_dir, "run-y", n_buckets=8)
