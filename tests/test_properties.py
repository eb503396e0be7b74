"""Property-based invariants (SURVEY.md section 5 item 3):

* rules.py (the oracle's classification) and functions/classify.py (the
  Spark expressions) agree on arbitrary text — the two implementations
  cannot drift (section 7.5 item 5).
* extraction is invariant to storage permutation of the span array and
  to the partition count, and its three physical paths (HOF plan,
  chunked plan, pandas classifier crossing) agree on generated span
  arrays.
"""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ocr_project_spark import rules
from ocr_project_spark.functions.classify import (
    is_content_expr,
    jaccard_expr,
    link_density_expr,
    n_tokens_expr,
)
from ocr_project_spark.operators.extract import extract

token = st.one_of(
    st.sampled_from(["the", "data", "<a>", "nav", "a", "x" * 12, "café", "1", ""]),
    # \x0b \x1c \x85 \xa0 \u2028 \u3000: whitespace to str.split() but
    # not to a plain Java \s
    st.text(alphabet="ab <>\t\n©\x0b\x1c\x85\xa0\u2028\u3000", max_size=8),
)
texts = st.lists(token, max_size=30).map(" ".join)


@settings(max_examples=60, deadline=None)
@given(st.lists(texts, min_size=1, max_size=40))
# blank texts of different whitespace (Jaccard's no-words branch) and a
# span that only the Unicode-aware tokenizer gives 8 tokens
@example(["\t", "\u3000 \x85", "one\x1ctwo three four five six seven eight"])
def test_rules_match_spark_exprs(spark_batch_texts):
    # collect one Spark evaluation per hypothesis batch
    from ocr_project_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    # each text is also paired with its neighbour: a Jaccard pair, and a
    # two-element array that the rule filters inside a lambda, as
    # extract.assemble_expr runs it
    pairs = list(
        zip(spark_batch_texts, spark_batch_texts[1:] + spark_batch_texts[:1])
    )
    df = s.createDataFrame(
        [(t, o, [t, o]) for t, o in pairs],
        "text string, other string, both array<string>",
    )
    got = df.select(
        n_tokens_expr(F.col("text")).alias("n"),
        F.round(link_density_expr(F.col("text")), 9).alias("ld"),
        is_content_expr(F.col("text")).alias("c"),
        F.round(jaccard_expr(F.col("text"), F.col("other")), 9).alias("j"),
        F.filter("both", is_content_expr).alias("kept"),
    ).collect()
    for (t, o), r in zip(pairs, got):
        assert r["n"] == rules.n_tokens(t), t
        assert abs(r["ld"] - rules.link_density(t)) < 1e-9, t
        assert r["c"] == rules.is_content(t), t
        assert abs(r["j"] - rules.jaccard_words(t, o)) < 1e-9, (t, o)
        assert r["kept"] == [x for x in (t, o) if rules.is_content(x)], (t, o)


def test_is_content_tokenizes_once(spark):
    """HOF lambdas are interpreted without common-subexpression
    elimination, so the classifier must split each text exactly once."""
    df = spark.createDataFrame([("x",)], "text string")
    plan = df.select(is_content_expr(F.col("text")).alias("c"))._jdf
    analyzed = plan.queryExecution().analyzed().toString()
    assert analyzed.count("split(") == 1, analyzed


def test_unicode_separator_span_matches_oracle(spark):
    r"""\x1c is whitespace to str.split() (8 tokens, content) but not to a
    plain Java \s (7 tokens); extract() must keep the span like the oracle."""
    from ocr_project_spark import oracle, schema

    doc = dict(
        doc_id="sep",
        spans=[
            dict(kind="text", text="one\x1ctwo three four five six seven eight",
                 media_ref=None, offset=0),
        ],
    )
    docs = spark.createDataFrame(
        [(doc["doc_id"], [tuple(sp.values()) for sp in doc["spans"]])],
        schema.DOCUMENTS_SPANS,
    )
    cands = spark.createDataFrame([], schema.MEDIA_CANDIDATES)
    (row,) = extract(docs, cands).collect()
    want = oracle.extract_document(doc)["spans"]
    assert len(want) == 1
    assert [s.asDict() for s in row["spans"]] == want


def _extract_dict(docs_df, cands_df):
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in (r["spans"] or [])
        ]
        for r in extract(docs_df, cands_df).collect()
    }


def test_extract_invariant_to_storage_permutation(spark, corpus, corpus_dfs):
    docs_df, cands_df = corpus_dfs
    base = _extract_dict(docs_df, cands_df)

    # re-shuffle every span array with a different permutation than the
    # generator used (deterministic but distinct seed)
    rng = np.random.default_rng(777)
    docs, _ = corpus
    reshuffled = []
    tied_docs = set()
    for d in docs:
        spans = list(d["spans"])
        offsets = [s["offset"] for s in spans]
        if len(offsets) != len(set(offsets)):
            # duplicate-offset docs resolve ties by STORAGE order (the
            # documented stable-sort choice) — permutation sensitivity
            # is their specified behavior, so keep them unpermuted.
            tied_docs.add(d["doc_id"])
            reshuffled.append(d)
            continue
        order = rng.permutation(len(spans)) if spans else []
        reshuffled.append(
            dict(doc_id=d["doc_id"], spans=[spans[int(j)] for j in order])
        )
    assert tied_docs  # the fixture must exercise the tie case
    from ocr_project_spark import schema

    df2 = spark.createDataFrame(
        [
            (d["doc_id"], [tuple(s.values()) for s in d["spans"]])
            for d in reshuffled
        ],
        schema.DOCUMENTS_SPANS,
    )
    assert _extract_dict(df2, cands_df) == base


def test_extract_invariant_to_partition_count(spark, corpus_dfs):
    docs_df, cands_df = corpus_dfs
    a = _extract_dict(docs_df.repartition(1), cands_df.repartition(1))
    b = _extract_dict(docs_df.repartition(16), cands_df.repartition(16))
    assert a == b


# Span arrays for the extraction-path property.  Offsets repeat (range
# 0..6); a null kind or offset (malformed span) is rare, so most
# documents assemble; text straddles the 8-token content floor and the
# 0.4 link-density cap.
_words = st.lists(st.sampled_from(["w", "data", "<a>", "nav"]), max_size=12)
_span_text = st.one_of(
    _words.map(" ".join), st.sampled_from([None, "", " \t\n"])
)
_span = st.tuples(
    st.integers(0, 60).map(
        lambda k: None if k == 60 else ("media" if k % 3 == 0 else "text")
    ),
    _span_text,
    st.sampled_from(["m", None]),
    st.integers(0, 60).map(lambda o: None if o == 60 else o % 7),
)
_spans = st.tuples(st.integers(0, 9), st.lists(_span, max_size=8)).map(
    lambda t: None if t[0] == 0 else t[1]
)
_cand = st.tuples(
    st.integers(0, 24),
    st.integers(0, 6),
    st.sampled_from(["rec_a", "rec_b", "rec_c", "rec_d"]),
    _span_text,
    st.sampled_from([0.0, 0.05, 0.3, 0.9, 0.9, 1.0]),
)
# Every example carries these alongside the generated documents: a null
# doc_id, null and empty spans, duplicate offsets on text and media
# spans, and media spans with and without candidates (offsets 1 and 2
# of "anchor_media" get candidates below, 5 does not).
_ANCHOR_DOCS = [
    (None, [("text", "w w w w w w w w", None, 0)]),
    ("anchor_null_spans", None),
    ("anchor_empty", []),
    (
        "anchor_media",
        [
            ("media", "caption 2", "m", 2),
            ("text", "data data data data data data data data", None, 1),
            ("media", "caption 1", "m", 1),
            ("media", "caption 5", "m", 5),
            ("text", "w <a> w w w w w w w", None, 1),
            ("media", "caption 2 again", "m", 2),
        ],
    ),
]
_ANCHOR_CANDS = [
    ("anchor_media", 1, "rec_a", "fused one", 0.9),
    ("anchor_media", 2, "rec_b", "fused two", 0.3),
    ("anchor_media", 2, "rec_a", None, 0.3),
]


@settings(max_examples=10, deadline=None)
@given(st.lists(_spans, min_size=1, max_size=25), st.lists(_cand, max_size=40))
def test_extraction_paths_agree_on_generated_spans(spark, span_arrays, cand_rows):
    """extract, extract_chunked (2 spans per chunk, so every document
    with 3+ spans crosses chunk boundaries) and the pandas classifier
    crossing give the same (doc_id, status, spans) rows."""
    from ocr_project_spark import schema
    from ocr_project_spark.functions.engine_udfs import density_classifier
    from ocr_project_spark.operators.extract import extract_chunked
    from ocr_project_spark.operators.extract_pandas import extract_pandas_engine

    docs = spark.createDataFrame(
        _ANCHOR_DOCS + [(f"d{i}", spans) for i, spans in enumerate(span_arrays)],
        schema.DOCUMENTS_SPANS,
    )
    cands = spark.createDataFrame(
        _ANCHOR_CANDS + [(f"d{i}", *rest) for i, *rest in cand_rows],
        schema.MEDIA_CANDIDATES,
    )

    def rows(df):
        return sorted(
            (
                (
                    r["doc_id"] or "",
                    tuple(r["status"]),
                    [tuple(s) for s in r["spans"]],
                )
                for r in df.collect()
            ),
            key=repr,
        )

    want = rows(extract(docs, cands))
    assert len(want) == len(_ANCHOR_DOCS) + len(span_arrays)
    assert rows(extract_chunked(docs, cands, max_spans_per_chunk=2)) == want
    assert (
        rows(extract_pandas_engine(docs, cands, classifier=density_classifier))
        == want
    )


# dirtier alphabet for the normalizer lockstep property: control chars,
# CR/LF, zero-width, punctuation runs
dirty_token = st.text(
    alphabet="ab .!?\t\n\r\x07\x0b\x0c​ ", max_size=10
)
dirty_texts = st.lists(dirty_token, max_size=12).map(" ".join)


@settings(max_examples=40, deadline=None)
@given(st.lists(dirty_texts, min_size=1, max_size=30))
def test_normalizers_lockstep_and_idempotent(spark_batch_dirty):
    """Property: for every tier, the Spark expression and the pure
    Python mirror normalize byte-identically (the round-1 drift was
    exactly here: \\s vs str.strip vs trim), and each tier is
    idempotent — normalizing twice changes nothing."""
    from ocr_project_spark.functions import cleanup
    from ocr_project_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)

    batch = spark_batch_dirty
    df = spark.createDataFrame([(t,) for t in batch], "t string")
    out = df.select(
        cleanup.normalize_minimal(F.col("t")).alias("m"),
        cleanup.normalize_balanced(F.col("t")).alias("b"),
        cleanup.normalize_enhanced(F.col("t")).alias("e"),
        cleanup.normalize_minimal(cleanup.normalize_minimal(F.col("t"))).alias("mm"),
        cleanup.normalize_balanced(cleanup.normalize_balanced(F.col("t"))).alias("bb"),
        cleanup.normalize_enhanced(cleanup.normalize_enhanced(F.col("t"))).alias("ee"),
    ).collect()
    for t, r in zip(batch, out):
        assert r["m"] == rules.normalize_minimal(t), (t.encode(), r["m"])
        assert r["b"] == rules.normalize_balanced(t), (t.encode(), r["b"])
        assert r["e"] == rules.normalize_enhanced(t), (t.encode(), r["e"])
        assert r["mm"] == r["m"] and r["bb"] == r["b"] and r["ee"] == r["e"]


def test_duplicate_passages_invariant_to_partitioning(spark, corpus_dfs):
    """The duplicated-passage aggregate is a pure function of the
    corpus SET: repartitioning and row order must not change the
    flagged passages or their witness ids (the scale-correctness
    property of the one-aggregate plan shape)."""
    from pyspark.sql import functions as F

    from ocr_project_spark.operators.dedup import duplicate_passages

    docs_df, _ = corpus_dfs
    flat = docs_df.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.coalesce(F.col("spans"), F.array()),
                lambda s: F.coalesce(s["text"], F.lit("")),
            ),
            " ",
        ).alias("text"),
        # cap the 400-span mega-doc: its shingle set alone dominates
        # runtime and adds nothing to the invariance property
    ).where(F.length("text") < 3000)

    def snap(df):
        return {
            r["passage"]: (r["n_docs"], r["min_doc_id"], r["max_doc_id"])
            for r in duplicate_passages(df, n=5).collect()
        }

    base = snap(flat)
    assert base  # fixture corpus contains duplicated passages
    assert snap(flat.repartition(17)) == base
    assert snap(flat.orderBy(F.col("doc_id").desc())) == base


# Adversarial fusion inputs: null keys, null/empty text, null confidence
_rc_doc = st.sampled_from([None, "da", "db", "dc"])
_rc_off = st.sampled_from([None, 0, 1])
_rc_engine = st.sampled_from(["rec_a", "rec_b", "rec_new"])
_rc_text = st.sampled_from([None, "", "x y", "x y z", "q"])
_rc_conf = st.sampled_from([None, 0.05, 0.2, 0.5, 0.95])
_rc_row = st.tuples(_rc_doc, _rc_off, _rc_engine, _rc_text, _rc_conf)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(_rc_row, min_size=1, max_size=10),
    st.lists(_rc_row, max_size=6),
)
def test_fuse_with_retry_conserves_keys(cand_rows, retry_rows):
    """Property: fuse_with_retry emits EXACTLY one row per fused span
    key — never dropping a key (the null-confidence complementary-split
    bug class) and never duplicating one (the null-key anti-join bug
    class) — and keys without retry candidates pass through identical
    to single-pass fusion, for arbitrary null-riddled inputs."""
    from ocr_project_spark.functions.fuse import (
        fuse_media_candidates,
        fuse_with_retry,
    )
    from ocr_project_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    schema = (
        "doc_id string, offset int, engine string, text string, "
        "confidence double"
    )
    cands = spark.createDataFrame(cand_rows, schema)
    retry = spark.createDataFrame(retry_rows, schema) if retry_rows else (
        spark.createDataFrame([], schema)
    )

    p1 = {
        (r["doc_id"], r["offset"]): r.asDict()
        for r in fuse_media_candidates(cands).collect()
    }
    out_rows = fuse_with_retry(cands, retry, threshold=0.3).collect()
    out_keys = [(r["doc_id"], r["offset"]) for r in out_rows]
    # one output row per span key: no drops, no duplicates
    assert sorted(out_keys, key=str) == sorted(p1.keys(), key=str), (
        cand_rows, retry_rows
    )
    retry_keys = {(r[0], r[1]) for r in retry_rows}
    for r in out_rows:
        k = (r["doc_id"], r["offset"])
        if k not in retry_keys:
            # untouched by the retry pass: identical to single-pass
            assert r.asDict() == p1[k], (k, r.asDict(), p1[k])
        elif r["method"].startswith("retry_"):
            # a retry win implies retry rows existed for the key
            assert k in retry_keys


def test_corpus_scorers_invariant_to_partition_count(spark):
    """lm_score / bm25_topk / dsir_weights round their float
    aggregates BEFORE any ranking or comparison, so the emitted rows
    must be identical under different parallelism — the property that
    makes the scores trustworthy across cluster sizes."""
    from ocr_project_spark.operators.curate import dsir_weights, lm_score
    from ocr_project_spark.operators.similarity import bm25_topk

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "lang")
    q = spark.createDataFrame(
        [(0, "table scan hash"), (1, "window sort")],
        "query_id long, query_text string",
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for build in (
        lambda d: lm_score(d, cutoffs=(3.4, 3.5)),
        lambda d: bm25_topk(d, q, top_n=5),
        lambda d: dsir_weights(d, d.where("lang = 'en'"), n_buckets=128),
    ):
        a = rows(build(docs.repartition(1)))
        b = rows(build(docs.repartition(16)))
        assert a == b
        assert len(a) > 0


@settings(max_examples=20, deadline=None)
@given(
    st.lists(texts, min_size=1, max_size=12),
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=9),
)
def test_window_documents_properties(batch_texts, window, raw_stride):
    """Fuzzed invariants for the strided chunker: exactly
    1+max(0,ceil((n-W)/S)) windows per doc; window i starts at i*S and
    carries min(W, n-i*S) tokens; stride-stepped reconstruction equals
    the normalized token stream; no window empty unless the doc is."""
    stride = min(raw_stride, window)  # operator enforces stride <= window
    import math

    from ocr_project_spark.operators.pack import window_documents
    from ocr_project_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    df = s.createDataFrame(
        [(i, t) for i, t in enumerate(batch_texts)], "doc_id long, text string"
    )
    rows = window_documents(df, window=window, stride=stride).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.win_id] = r
    import re

    for i, t in enumerate(batch_texts):
        toks = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        n = len(toks)
        n_win = 1 + max(0, math.ceil((n - window) / stride))
        wins = by_doc[i]
        assert set(wins) == set(range(n_win))
        rebuilt = []
        for j in range(n_win):
            r = wins[j]
            expect = toks[j * stride : j * stride + window]
            assert r.start == j * stride
            assert r.n_tokens == len(expect)
            assert r.text == " ".join(expect)
            rebuilt.extend(expect if j == n_win - 1 else expect[:stride])
        assert rebuilt[: len(toks)] == toks


def test_window_documents_rejects_stride_above_window(spark):
    """stride > window would skip the tokens between windows, so the
    operator refuses it up front rather than emitting lossy windows."""
    import pytest

    from ocr_project_spark.operators.pack import window_documents

    df = spark.createDataFrame([(0, "a b c d e f")], "doc_id long, text string")
    with pytest.raises(ValueError, match="stride must be <= window"):
        window_documents(df, window=3, stride=4)
    assert window_documents(df, window=3, stride=3).count() == 2
