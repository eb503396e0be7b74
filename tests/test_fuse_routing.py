"""Confidence early-termination (reference types.py:181-182,
advanced_usage.py:200-220): the filter-split -> union plan, the
single-pass conditional plan, and the python mirror must agree
row-for-row; with the gate off, behavior is byte-identical to plain
fusion."""

from __future__ import annotations

from collections import defaultdict

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_project_spark import oracle
from ocr_project_spark.functions.fuse import (
    fuse_media_candidates,
    fuse_media_candidates_routed,
)

THRESH = 0.5  # fixture confidences straddle this: both routes populate


def to_dict(df):
    return {
        (r["doc_id"], r["offset"]): (
            r["text"],
            round(r["confidence"], 9),
            r["method"],
            r["n_consensus"],
        )
        for r in df.collect()
    }


def test_routed_equals_single_pass_gate(corpus_dfs):
    _, cands_df = corpus_dfs
    routed = to_dict(fuse_media_candidates_routed(cands_df, THRESH))
    gated = to_dict(fuse_media_candidates(cands_df, early_termination=THRESH))
    assert routed == gated
    methods = {v[2] for v in routed.values()}
    assert "early_termination" in methods      # the split actually routes
    assert methods - {"early_termination"}     # ...and the full path runs too


def test_gate_off_is_plain_fusion(corpus_dfs):
    _, cands_df = corpus_dfs
    plain = to_dict(fuse_media_candidates(cands_df))
    gated = to_dict(fuse_media_candidates(cands_df, early_termination=None))
    assert plain == gated
    assert "early_termination" not in {v[2] for v in plain.values()}


def test_matches_python_mirror(corpus, corpus_dfs):
    _, cands = corpus
    _, cands_df = corpus_dfs
    by_key = defaultdict(list)
    for c in cands:
        by_key[(c["doc_id"], c["offset"])].append(c)
    want = {}
    for key, group in by_key.items():
        f = oracle.fuse_candidates(group, early_termination=THRESH)
        want[key] = (
            f["text"],
            round(f["confidence"], 9),
            f["method"],
            f["n_consensus"],
        )
    got = to_dict(fuse_media_candidates_routed(cands_df, THRESH))
    assert got == want


def test_routed_null_keys_not_duplicated(spark):
    """A candidate group keyed by null doc_id/offset that clears the
    early gate must emit ONCE: groupBy places null keys in a real
    group, so the rest-side anti-join has to be null-safe or the same
    rows are fused a second time."""
    rows = [
        (None, None, "rec_a", "null key winner", 0.99),
        (None, None, "rec_b", "null key loser", 0.20),
        ("d1", 0, "rec_a", "normal early", 0.98),
        ("d2", None, "rec_a", "null offset slow", 0.30),
        ("d2", None, "rec_b", "null offset slow", 0.25),
    ]
    cands = spark.createDataFrame(
        rows, "doc_id string, offset int, engine string, text string, "
              "confidence double"
    )
    routed = fuse_media_candidates_routed(cands, 0.5)
    gated = fuse_media_candidates(cands, early_termination=0.5)
    assert to_dict(routed) == to_dict(gated)
    assert routed.count() == 3  # one row per key group — no dupes


def test_unknown_engines_pass_filter(spark):
    """Engines absent from the config map (and bool-form yaml values)
    must not lose data: only explicitly disabled engines are dropped."""
    from ocr_project_spark.config import load_config
    from ocr_project_spark.functions.fuse import (
        disabled_engines,
        enabled_engines,
        filter_enabled_candidates,
    )

    cands = spark.createDataFrame(
        [("d1", 0, "rec_a", "a", 0.9),
         ("d1", 0, "rec_exotic", "x", 0.8),
         ("d1", 0, "rec_b", "b", 0.7)],
        "doc_id string, offset int, engine string, text string, "
        "confidence double",
    )
    cfg = load_config(overrides=["engines.rec_b=false"])  # bool form
    kept = {r["engine"] for r in filter_enabled_candidates(cands, cfg).collect()}
    assert kept == {"rec_a", "rec_exotic"}
    assert disabled_engines(cfg) == ["rec_b"]
    assert "rec_b" not in enabled_engines(cfg)
    # no disabled engines -> identity (unknown engines untouched)
    cfg_all = load_config()
    assert filter_enabled_candidates(cands, cfg_all) is cands


def test_engine_availability_filter(corpus, corpus_dfs):
    """F6/F7: candidates from config-disabled engines never reach
    fusion — equivalent to fusing the python-filtered candidate set."""
    from ocr_project_spark.config import load_config
    from ocr_project_spark.functions.fuse import filter_enabled_candidates

    _, cands = corpus
    _, cands_df = corpus_dfs
    cfg = load_config(overrides=["engines.rec_b.enabled=false"])

    got = to_dict(
        fuse_media_candidates(filter_enabled_candidates(cands_df, cfg))
    )

    by_key = defaultdict(list)
    for c in cands:
        if c["engine"] != "rec_b":
            by_key[(c["doc_id"], c["offset"])].append(c)
    want = {}
    for key, group in by_key.items():
        f = oracle.fuse_candidates(group)
        want[key] = (f["text"], round(f["confidence"], 9), f["method"],
                     f["n_consensus"])
    assert got == want
    assert got != to_dict(fuse_media_candidates(cands_df))  # filter matters


def test_availability_filter_pushes_to_scan(spark, corpus_dfs, tmp_path):
    from ocr_project_spark.config import load_config
    from ocr_project_spark.functions.fuse import filter_enabled_candidates

    _, cands_df = corpus_dfs
    cfg = load_config(overrides=["engines.rec_c.enabled=false"])
    plan = (
        filter_enabled_candidates(cands_df, cfg)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "engine" in plan, plan


def test_retry_matches_python_mirror(corpus, corpus_dfs, spark):
    """fuse_with_retry == python two-pass mirror: pass 1 fuse, re-fuse
    the retry candidates for spans whose pass-1 confidence < threshold,
    keep the retry result iff strictly more confident (reference
    tesseract.py:111-143 PSM fallback)."""
    from ocr_project_spark.functions.fuse import fuse_with_retry

    _, cands = corpus
    _, cands_df = corpus_dfs
    THRESH_R = 0.6

    # deterministic alternative-configuration pass: one candidate per key
    by_key = defaultdict(list)
    for c in cands:
        by_key[(c["doc_id"], c["offset"])].append(c)
    retry_rows = []
    for (doc_id, offset), group in sorted(by_key.items()):
        t = group[0]["text"] or ""
        conf = ((len(t) * 13 + (offset or 0) * 7) % 90) / 100.0 + 0.05
        retry_rows.append((doc_id, offset, "rec_retry", t, conf))
    retry_df = spark.createDataFrame(
        retry_rows,
        "doc_id string, offset int, engine string, text string, "
        "confidence double",
    )

    got = to_dict(fuse_with_retry(cands_df, retry_df, threshold=THRESH_R))

    want = {}
    retried = 0
    for i, (key, group) in enumerate(sorted(by_key.items())):
        p1 = oracle.fuse_candidates(group)
        res = p1
        if (
            p1["confidence"] < THRESH_R
            or p1["method"] == "fallback_best_of_failed"
        ):
            p2 = oracle.fuse_candidates([dict(
                doc_id=key[0], offset=key[1], engine="rec_retry",
                text=retry_rows[i][3], confidence=retry_rows[i][4],
            )])
            if p2["confidence"] > p1["confidence"] or (
                p1["method"] == "fallback_best_of_failed"
                and p2["method"] != "fallback_best_of_failed"
            ):
                res = dict(p2, method="retry_" + p2["method"])
                retried += 1
        want[key] = (
            res["text"],
            round(res["confidence"], 9),
            res["method"],
            res["n_consensus"],
        )
    assert got == want
    assert retried > 0                      # the gate actually routed
    assert any(v[2].startswith("retry_") for v in got.values())
    assert any(not v[2].startswith("retry_") for v in got.values())


def test_language_filter_matches_python(spark):
    """filter_candidates_by_language drops exactly the
    (engine has a languages list) AND (doc lang known) AND (lang not
    listed) rows; everything uncertain passes through."""
    from ocr_project_spark.functions.fuse import filter_candidates_by_language

    cands_rows = [
        ("d_en", 0, "rec_a", "x", 0.9),     # en in rec_a list -> keep
        ("d_en", 0, "rec_c", "x", 0.9),     # en not in rec_c list -> drop
        ("d_fr", 0, "rec_a", "x", 0.9),     # fr not in rec_a list -> drop
        ("d_fr", 0, "rec_b", "x", 0.9),     # rec_b unconstrained -> keep
        ("d_fr", 0, "rec_new", "x", 0.9),   # engine not in config -> keep
        ("d_nolang", 0, "rec_a", "x", 0.9), # no lang row -> keep
        ("d_null", 0, "rec_c", "x", 0.9),   # null lang guess -> keep
    ]
    cands = spark.createDataFrame(
        cands_rows,
        "doc_id string, offset int, engine string, text string, "
        "confidence double",
    )
    doc_langs = spark.createDataFrame(
        [("d_en", "en"), ("d_fr", "fr"), ("d_null", None)],
        "doc_id string, lang_guess string",
    )
    cfg = {
        "engines": {
            "rec_a": {"languages": ["en"]},
            "rec_b": {"enabled": True},           # no languages key
            "rec_c": {"languages": ["de", "nl"]},
        }
    }
    out = filter_candidates_by_language(cands, doc_langs, cfg)
    assert sorted(out.columns) == sorted(cands.columns)
    got = {(r["doc_id"], r["engine"]) for r in out.collect()}
    assert got == {
        ("d_en", "rec_a"),
        ("d_fr", "rec_b"),
        ("d_fr", "rec_new"),
        ("d_nolang", "rec_a"),
        ("d_null", "rec_c"),
    }
    # no language constraints anywhere -> identity
    assert filter_candidates_by_language(
        cands, doc_langs, {"engines": {"rec_a": {"enabled": True}}}
    ) is cands


def test_extract_with_retry_pipeline(corpus_dfs, spark):
    """extract(retry_candidates=...) resolves media spans with the
    two-pass fused text: every media span in the output must carry
    exactly fuse_with_retry's winner for its (doc_id, offset)."""
    from pyspark.sql import functions as F

    from ocr_project_spark.functions.fuse import fuse_with_retry
    from ocr_project_spark.operators.extract import extract

    docs_df, cands_df = corpus_dfs
    retry_df = cands_df.groupBy("doc_id", "offset").agg(
        F.lit("rec_retry").alias("engine"),
        F.concat(F.lit("retry:"), F.min("text")).alias("text"),
        F.lit(0.93).alias("confidence"),
    ).select("doc_id", "offset", "engine", "text", "confidence")

    want = {
        (r["doc_id"], r["offset"]): r["text"]
        for r in fuse_with_retry(cands_df, retry_df, threshold=0.6).collect()
    }
    # expected per-doc ordered media texts, derived from INPUT spans
    # (the fused map keys on the span's offset column, and the output
    # preserves the stable (offset, storage idx) order)
    expected: dict[str, list[str]] = {}
    for r in docs_df.collect():
        spans = sorted(
            enumerate(r["spans"] or []), key=lambda p: (p[1]["offset"], p[0])
        )
        expected[r["doc_id"]] = [
            want.get((r["doc_id"], s["offset"]), s["text"])
            for _, s in spans
            if s["kind"] == "media"
        ]
    out = extract(docs_df, cands_df, retry_candidates=retry_df,
                  retry_threshold=0.6)
    checked = 0
    for r in out.collect():
        got = [s["text"] for s in (r["spans"] or []) if s["kind"] == "media"]
        assert got == expected.get(r["doc_id"], []), r["doc_id"]
        checked += len(got)
    assert checked > 0
    # some span must actually have taken the retry text
    assert any(t is not None and t.startswith("retry:") for t in want.values())


def test_checkpointed_retry_matches_single_pass(spark, corpus_dfs, tmp_path):
    """checkpoint.run(retry_candidates=...) == extract(retry_candidates=...)
    doc-for-doc: the per-bucket second pass changes the schedule, not
    the result."""
    from pyspark.sql import functions as F

    from ocr_project_spark.operators.extract import extract
    from ocr_project_spark.plans import checkpoint

    docs_df, cands_df = corpus_dfs
    retry_df = cands_df.groupBy("doc_id", "offset").agg(
        F.lit("rec_retry").alias("engine"),
        F.concat(F.lit("retry:"), F.min("text")).alias("text"),
        F.lit(0.93).alias("confidence"),
    ).select("doc_id", "offset", "engine", "text", "confidence")

    def key(df):
        return {
            r["doc_id"]: [tuple(s) for s in (r["spans"] or [])]
            for r in df.collect()
        }

    want = key(extract(docs_df, cands_df, retry_candidates=retry_df,
                       retry_threshold=0.6))
    out = checkpoint.run(
        spark, docs_df, str(tmp_path / "ck_retry"), "retry-run",
        candidates=cands_df, n_buckets=4, bucket_batch_size=2,
        retry_candidates=retry_df, retry_threshold=0.6,
    )
    assert key(out.drop("bucket")) == want


def test_retry_null_confidence_not_dropped(spark):
    """NULL pass-1 fused confidence routes to the RETRY branch, never
    out of existence: `conf < t` and `~(conf < t)` are both NULL for a
    NULL confidence, so a naive complementary split would emit the span
    from neither branch."""
    from ocr_project_spark.functions.fuse import fuse_with_retry

    schema = (
        "doc_id string, offset int, engine string, text string, "
        "confidence double"
    )
    cands = spark.createDataFrame(
        [
            # every candidate's confidence NULL -> fused confidence NULL
            ("d_null", 0, "rec_a", "garbled", None),
            ("d_null", 0, "rec_b", "garbled2", None),
            ("d_low", 0, "rec_a", "meh", 0.2),
            ("d_high", 0, "rec_a", "good", 0.9),
            # blank text at HIGH confidence: fallback_best_of_failed
            # with conf 0.9 — the reference's no-regions arm, which a
            # pure `< threshold` gate would wrongly skip
            ("d_blank", 0, "rec_a", "", 0.9),
            ("d_blank", 0, "rec_b", "   ", 0.8),
        ],
        schema,
    )
    retry = spark.createDataFrame(
        [
            ("d_null", 0, "rec_retry", "rescued", 0.5),
            ("d_low", 0, "rec_retry", "rescued_low", 0.5),
            ("d_high", 0, "rec_retry", "ignored", 0.5),
            ("d_blank", 0, "rec_retry", "rescued_blank", 0.5),
        ],
        schema,
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in fuse_with_retry(cands, retry, threshold=0.3).collect()
    }
    assert set(out) == {"d_null", "d_low", "d_high", "d_blank"}  # no drops
    # a retry result with ANY confidence beats a NULL pass-1 confidence
    assert out["d_null"]["text"] == "rescued"
    assert out["d_null"]["method"].startswith("retry_")
    assert out["d_low"]["text"] == "rescued_low"
    assert out["d_high"]["text"] == "good"
    assert not out["d_high"]["method"].startswith("retry_")
    # a VALID retry beats an invalid winner despite its 0.9 confidence
    assert out["d_blank"]["text"] == "rescued_blank"
    assert out["d_blank"]["method"] == "retry_single_valid"


def test_language_filter_scalar_languages_value(spark):
    """yaml scalar form `languages: en` means ['en'] — iterating the
    string would yield ['e','n'] and silently drop every candidate of
    that engine for 'en' docs."""
    from ocr_project_spark.functions.fuse import (
        engine_languages,
        filter_candidates_by_language,
    )

    assert engine_languages({"engines": {"rec_a": {"languages": "en"}}}) == {
        "rec_a": ["en"]
    }
    cands = spark.createDataFrame(
        [("d_en", 0, "rec_a", "x", 0.9), ("d_fr", 0, "rec_a", "x", 0.9)],
        "doc_id string, offset int, engine string, text string, "
        "confidence double",
    )
    doc_langs = spark.createDataFrame(
        [("d_en", "en"), ("d_fr", "fr")], "doc_id string, lang_guess string"
    )
    cfg = {"engines": {"rec_a": {"languages": "en"}}}
    got = {
        r["doc_id"]
        for r in filter_candidates_by_language(cands, doc_langs, cfg).collect()
    }
    assert got == {"d_en"}  # en kept, fr dropped


def test_language_filter_duplicate_doc_langs_no_fanout(spark):
    """A doc_langs table with repeated doc_id rows must not duplicate
    candidate rows through the left join (duplicates would inflate
    fusion's consensus counts downstream)."""
    from ocr_project_spark.functions.fuse import filter_candidates_by_language

    cands = spark.createDataFrame(
        [("d1", 0, "rec_a", "x", 0.9), ("d1", 1, "rec_a", "y", 0.8)],
        "doc_id string, offset int, engine string, text string, "
        "confidence double",
    )
    doc_langs = spark.createDataFrame(
        [("d1", "en"), ("d1", "en"), ("d1", "en")],
        "doc_id string, lang_guess string",
    )
    cfg = {"engines": {"rec_a": {"languages": ["en"]}}}
    out = filter_candidates_by_language(cands, doc_langs, cfg)
    assert out.count() == 2


def test_doc_langs_from_spans_unknown_is_null(spark):
    """The doc_langs derivation maps 'unk' guesses to NULL so that
    uncertain docs PASS the language filter (conservative contract) —
    only a confidently-detected, unsupported language drops rows."""
    from ocr_project_spark.functions.fuse import (
        doc_langs_from_spans,
        filter_candidates_by_language,
    )

    docs = spark.createDataFrame(
        [
            # stopword-dense -> confidently 'en'
            ("d_en", [("text", "the and is of to in that it was for", "", 0)]),
            # synthetic vocab -> 'unk' -> NULL
            ("d_unk", [("text", "fusion shard quorum raft gossip", "", 0)]),
            ("d_empty", None),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    langs = {r["doc_id"]: r["lang_guess"] for r in doc_langs_from_spans(docs).collect()}
    assert langs == {"d_en": "en", "d_unk": None, "d_empty": None}

    cands = spark.createDataFrame(
        [("d_en", 0, "rec_fr", "x", 0.9), ("d_unk", 0, "rec_fr", "y", 0.9)],
        "doc_id string, offset int, engine string, text string, "
        "confidence double",
    )
    cfg = {"engines": {"rec_fr": {"languages": ["fr"]}}}
    kept = {
        r["doc_id"]
        for r in filter_candidates_by_language(
            cands, doc_langs_from_spans(docs), cfg
        ).collect()
    }
    # the confidently-English doc loses its fr-only candidate; the
    # unknown-language doc keeps it
    assert kept == {"d_unk"}


def test_engine_languages_tolerates_scalar_shapes():
    """Unintelligible `languages` shapes (bool/int) mean unconstrained,
    matching the module's conservative-on-uncertainty convention; only
    the string-scalar form is interpreted as a one-language list."""
    from ocr_project_spark.functions.fuse import engine_languages

    assert engine_languages({"engines": {"a": {"languages": "en"}}}) == {
        "a": ["en"]
    }
    assert engine_languages({"engines": {"a": {"languages": True}}}) == {
        "a": None
    }
    assert engine_languages({"engines": {"a": {"languages": 5}}}) == {
        "a": None
    }


# --- winner-only fusion inside extract() --------------------------------
#
# extract() builds its per-document map from min_by(..., fusion_order_key())
# per span instead of the full window fusion; the winner must be the row
# fuse_media_candidates ranks first, NaN/null/tied confidences included.
# The reference here is the Spark fusion, not oracle.fuse_candidates,
# which cannot sort a None confidence.

_CAND_SCHEMA = (
    "doc_id string, offset int, engine string, text string, confidence double"
)
_candidate = st.tuples(
    st.sampled_from(["d0", "d1", "d2"]),
    st.integers(min_value=0, max_value=3),
    st.sampled_from(["rec_a", "rec_b", "rec_c", "rec_d", "rec_zz", None]),
    st.sampled_from([None, "", "   ", "alpha", "alpha beta", "beta", "gamma"]),
    st.one_of(
        st.none(),
        st.just(float("nan")),
        st.sampled_from([0.0, -0.0, 0.05, 0.1, 0.5, 0.9, 0.95, 1.0]),
        st.floats(min_value=0.0, max_value=1.0),
    ),
)


def _same_winner_text(got, want) -> bool:
    # The window's last key is coalesce(text, ''), so a NULL-text row
    # and a ''-text row with equal confidence and engine tie exactly:
    # either is a first-ranked row.  Any other pair of tied rows has
    # the same text.
    return got == want or {got, want} <= {None, ""}


@settings(max_examples=25, deadline=None)
@given(
    st.lists(_candidate, min_size=1, max_size=14),
    st.lists(st.integers(min_value=0, max_value=13), max_size=4),
    st.sampled_from([0.5, 0.9, 0.95]),
)
def test_winner_map_equals_fused_text(spark, rows, dup_idx, threshold):
    from pyspark.sql import functions as F

    from ocr_project_spark.operators.extract import _with_fused_map, extract

    rows = rows + [rows[i] for i in dup_idx if i < len(rows)]  # exact dupes
    cands = spark.createDataFrame(rows, _CAND_SCHEMA)
    media = [
        {"kind": "media", "text": f"caption {o}", "media_ref": f"m{o}", "offset": o}
        for o in range(4)
    ]
    docs = spark.createDataFrame(
        [(d, media) for d in ("d0", "d1", "d2", "d3")],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )

    got = {
        (r["doc_id"], r["offset"]): r["w"]["t"]
        for r in _with_fused_map(docs, cands)
        .select("doc_id", F.explode("fused_map").alias("offset", "w"))
        .collect()
    }
    want = {
        (r["doc_id"], r["offset"]): r["text"]
        for r in fuse_media_candidates(cands).collect()
    }
    assert got.keys() == want.keys()
    for key, text in want.items():
        assert _same_winner_text(got[key], text), (key, got[key], text)

    routed = {
        (r["doc_id"], r["offset"]): r["text"]
        for r in fuse_media_candidates_routed(cands, threshold).collect()
    }
    assert routed.keys() == want.keys()
    for key, text in want.items():
        assert _same_winner_text(routed[key], text), (key, routed[key], text)

    def spans(df):
        return {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in df.collect()}

    plain = spans(extract(docs, cands))
    for d, out in plain.items():
        for _, text, ref, o in out:
            assert o == int(ref[1:])
            if (d, o) in want:
                assert _same_winner_text(text, want[(d, o)])
            else:
                assert text == f"caption {o}"


def test_extract_plan_has_no_window(corpus_dfs):
    """extract() without retry candidates ranks no candidates: no
    Window operator, where the retry path keeps the full fusion."""
    from ocr_project_spark.operators.extract import extract

    docs_df, cands_df = corpus_dfs

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "Window" not in plan(extract(docs_df, cands_df))
    assert "Window" in plan(extract(docs_df, cands_df, retry_candidates=cands_df))
