"""curate_corpus: disposition/witness contract on a crafted corpus
(every arm incl. exact_dup, which the synthetic documents table cannot
produce) + corpus invariants on the sf0.001 parquet."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ocr_project_spark.operators.curate import (
    DISPOSITIONS,
    curate_corpus,
    curated_keepers,
)

GOOD_A = (
    "the quick brown fox jumps over one lazy dog while the calm river "
    "bends north past granite cliffs and tall pines under amber light "
    "carrying distant thunder toward the quiet valley floor below"
)
# word-order permutation of GOOD_A: identical distinct-token SET (so
# SimHash hamming = 0 -> near-dup) but different token SEQUENCE (so the
# exact normalized-text hash differs)
GOOD_A_PERM = (
    "the lazy brown fox jumps over one quick dog while the calm river "
    "bends north past granite cliffs and tall pines under amber light "
    "carrying distant thunder toward the quiet valley floor below"
)
GOOD_B = (
    "an old harbor town wakes early as fishing boats drift out through "
    "grey morning fog and gulls wheel above salted ropes while vendors "
    "stack crates of silver mackerel along the worn stone quay"
)
NON_EN = (
    "zefir kalu morin taveki sulan porvek nidra helmo quastir belonak "
    "virento saldu makrin tepolu gandor wesel finarko dulemi rovash "
    "kuneti plasor varnik holespa trigun mosavel drikon"
)
# short + low diversity + zero alnum tokens: score ~0.27, under the 0.4
# floor ("zz zz ..." would still score 0.515 via the alnum feature)
LOW_Q = "!! ?? !! ?? !!"


@pytest.fixture(scope="module")
def crafted(spark):
    rows = [
        (1, GOOD_A),        # kept (keeper of its exact/near family)
        (2, GOOD_A),        # exact_dup, witness 1
        (3, GOOD_A_PERM),   # near_dup, witness 1 (hamming 0, set-equal)
        (4, LOW_Q),         # low_quality
        (5, NON_EN),        # lang
        (6, GOOD_B),        # kept
        (7, None),          # null text -> low_quality, never crashes
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return curate_corpus(docs, min_quality=0.4, languages=("en",))


def test_crafted_dispositions(crafted):
    got = {r["doc_id"]: (r["disposition"], r["witness_id"]) for r in crafted.collect()}
    assert got == {
        1: ("kept", None),
        2: ("exact_dup", 1),
        3: ("near_dup", 1),
        4: ("low_quality", None),
        5: ("lang", None),
        6: ("kept", None),
        7: ("low_quality", None),
    }


def test_crafted_row_contract(crafted):
    rows = crafted.collect()
    assert {r["disposition"] for r in rows} <= set(DISPOSITIONS)
    for r in rows:
        if r["disposition"] in ("exact_dup", "near_dup"):
            assert r["witness_id"] is not None and r["witness_id"] < r["doc_id"]
        else:
            assert r["witness_id"] is None
        assert r["quality"] is not None and r["lang_guess"] in ("en", "unk")


def test_curated_keepers_selects_kept(crafted):
    assert {r["doc_id"] for r in curated_keepers(crafted).collect()} == {1, 6}


def test_corpus_invariants_sf0001(spark):
    """On real parquet: one row per input doc, and the kept set is
    pairwise clean — no two kept docs share a normalized-text hash or
    sit within max_hamming SimHash bits (brute-force verified)."""
    from ocr_project_spark.operators.dedup import (
        hamming_words_expr,
        normalized_text,
        simhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cur = curate_corpus(docs, min_quality=0.7, languages=("en",))
    assert cur.count() == docs.count()
    by_disp = {
        r["disposition"]: r["n"]
        for r in cur.groupBy("disposition").agg(F.count("*").alias("n")).collect()
    }
    assert by_disp.get("kept", 0) > 0
    assert by_disp.get("near_dup", 0) > 0  # shared-vocab corpus is simhash-dense

    kept_docs = docs.join(
        curated_keepers(cur), "doc_id", "left_semi"
    ).select("doc_id", "text")
    # exact: all normalized hashes distinct
    n_kept = kept_docs.count()
    n_hash = (
        kept_docs.select(F.md5(normalized_text(F.col("text"))).alias("h"))
        .distinct()
        .count()
    )
    assert n_hash == n_kept
    # near: brute-force all kept pairs, none within hamming <= 3
    sigs = simhash_signatures(kept_docs)
    a, b = sigs.alias("a"), sigs.alias("b")
    n_close = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .where(hamming_words_expr(F.col("a.sig"), F.col("b.sig"), 64) <= 3)
        .count()
    )
    assert n_close == 0


def test_pigeonhole_guard():
    with pytest.raises(ValueError):
        curate_corpus(None, max_hamming=8, bands=8)


def test_decontaminate_counts_match_python_reference(spark):
    from ocr_project_spark.operators.curate import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words here entirely different"),
            (3, None),                      # null text -> 0 hits
            (4, "quick brown fox"),         # single shingle, hit
            (5, "xy"),                      # < n tokens, no real shingle
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a quick brown fox jumps into view"), (101, "")],
        "doc_id long, text string",
    )

    def sh3(t):
        toks = [w for w in __import__("re").split(r"[^a-z0-9]+", (t or "").lower()) if w]
        if len(toks) >= 3:
            return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)} - {""}

    bset = set().union(*(sh3(t) for _, t in bench.collect()))
    want = {
        r["doc_id"]: len(sh3(r["text"]) & bset) for r in docs.collect()
    }
    got = {
        r["doc_id"]: r["bench_hits"]
        for r in decontaminate(docs, bench, n=3, min_hits=2).collect()
    }
    assert got == want
    flags = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate(docs, bench, n=3, min_hits=2).collect()
    }
    assert flags == {i: want[i] >= 2 for i in want}
    # every input doc keeps a row, including null/short/zero-hit ones
    assert set(got) == {1, 2, 3, 4, 5}


def test_decontaminate_empty_docs_never_match_empty_benchmark(spark):
    """The degenerate '' shingle must not create cross-contamination
    between token-less documents and token-less benchmark lines."""
    from ocr_project_spark.operators.curate import decontaminate

    docs = spark.createDataFrame([(1, ""), (2, "!!!")], "doc_id long, text string")
    bench = spark.createDataFrame([(9, "???")], "doc_id long, text string")
    rows = decontaminate(docs, bench, min_hits=1).collect()
    assert all(r["bench_hits"] == 0 and not r["contaminated"] for r in rows)


def test_decontaminate_shuffled_join_parity(spark):
    """broadcast_benchmark=False (corpus-sized benchmark fallback)
    returns identical rows."""
    from ocr_project_spark.operators.curate import decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = decontaminate(docs, docs.limit(5), min_hits=3).collect()
    b = decontaminate(
        docs, docs.limit(5), min_hits=3, broadcast_benchmark=False
    ).collect()
    key = lambda rows: {(r["doc_id"], r["bench_hits"], r["contaminated"]) for r in rows}
    assert key(a) == key(b)


def test_hash_sample_rate_and_determinism(spark):
    from ocr_project_spark.operators.curate import hash_sample

    docs = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    kept = hash_sample(docs, rate=0.25, key_col="doc_id")
    n = kept.count()
    # binomial(20000, .25): sd ~ 61; allow 5 sd
    assert abs(n - 5000) < 310, n
    # deterministic: same ids every run, invariant under repartitioning
    a = {r["doc_id"] for r in kept.collect()}
    b = {r["doc_id"] for r in hash_sample(docs.repartition(17), rate=0.25).collect()}
    assert a == b
    # nested property: sample(0.1) is a subset of sample(0.25)
    c = {r["doc_id"] for r in hash_sample(docs, rate=0.1).collect()}
    assert c <= a


def test_hash_sample_salts_draw_independent_samples(spark):
    from ocr_project_spark.operators.curate import hash_sample

    docs = spark.range(0, 10000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in hash_sample(docs, rate=0.2, salt="train").collect()}
    b = {r["doc_id"] for r in hash_sample(docs, rate=0.2, salt="eval").collect()}
    overlap = len(a & b) / (0.2 * 10000)
    # independent draws overlap ~rate (0.2); identical draws would be 1.0
    assert 0.05 < overlap < 0.4, overlap


def test_hash_sample_stratified_rates(spark):
    from ocr_project_spark.operators.curate import hash_sample

    docs = spark.range(0, 30000).selectExpr(
        "id AS doc_id", "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'de' ELSE 'fr' END AS lang"
    )
    kept = hash_sample(
        docs, strata_col="lang", rates={"en": 0.5, "de": 0.1}, default_rate=0.0
    )
    counts = {r["lang"]: r["count"] for r in kept.groupBy("lang").count().collect()}
    assert abs(counts["en"] - 5000) < 350
    assert abs(counts["de"] - 1000) < 200
    assert "fr" not in counts  # unknown stratum drops by default


def test_hash_sample_edges_and_errors(spark):
    import pytest as _pytest

    from ocr_project_spark.operators.curate import hash_sample

    docs = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    assert hash_sample(docs, rate=1.0).count() == 100
    assert hash_sample(docs, rate=0.0).count() == 0
    with _pytest.raises(ValueError):
        hash_sample(docs)
    with _pytest.raises(ValueError):
        hash_sample(docs, rate=0.5, rates={"en": 0.1}, strata_col="lang")
    with _pytest.raises(ValueError):
        hash_sample(docs, rates={"en": 0.1})


def test_hash_sample_filter_reaches_scan(spark, tmp_path):
    """The sample predicate is a narrow filter the scan evaluates —
    no shuffle, no sampling pass (scan-level Filter; md5 is not a
    parquet-pushable predicate but must sit directly on the scan)."""
    import contextlib
    import io

    from ocr_project_spark.operators.curate import hash_sample

    p = str(tmp_path / "docs")
    spark.range(0, 1000).withColumnRenamed("id", "doc_id").write.parquet(p)
    q = hash_sample(spark.read.parquet(p), rate=0.5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "Filter" in plan and "md5" in plan


def test_hash_sample_null_keys_keep_deterministic_verdict(spark):
    """NULL keys must not vanish from every sample: they hash a
    sentinel, so rate=1.0 keeps them and the verdict is stable."""
    from ocr_project_spark.operators.curate import hash_sample

    docs = spark.createDataFrame(
        [(1,), (None,), (None,)], "doc_id long"
    )
    assert hash_sample(docs, rate=1.0).count() == 3
    assert hash_sample(docs, rate=0.0).count() == 0
    a = hash_sample(docs, rate=0.5).count()
    assert a == hash_sample(docs, rate=0.5).count()


def test_repetition_stats_python_reference(spark):
    from collections import Counter

    from ocr_project_spark.operators.curate import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),            # one dominant bigram
            (2, "w x y z"),                # all distinct
            (3, None),                      # null text -> zeros
            (4, "solo"),                    # < n tokens -> zeros
            (5, "p q p q r r r"),
        ],
        "doc_id long, text string",
    )

    def ref(t):
        toks = [w for w in __import__("re").split(r"[^a-z0-9]+", (t or "").lower()) if w]
        grams = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        if not grams:
            return (0, 0, 0, 0.0, 0.0)
        c = Counter(grams)
        ng, dg, tg = len(grams), len(c), max(c.values())
        return (ng, dg, tg, round((ng - dg) / ng, 3), round(tg / ng, 3))

    want = {r["doc_id"]: ref(r["text"]) for r in docs.collect()}
    got = {
        r["doc_id"]: (
            r["n_grams"], r["distinct_grams"], r["top_gram_n"],
            r["dup_gram_frac"], r["top_gram_frac"],
        )
        for r in repetition_stats(docs, n=2).collect()
    }
    assert got == want
    # spot-check the dominant-bigram doc: 5 slots, 2 distinct, top 3
    assert got[1] == (5, 2, 3, 0.6, 0.6)


def test_repetition_stats_trigram_and_conservation(spark):
    from ocr_project_spark.operators.curate import repetition_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = repetition_stats(docs, n=3)
    rows = out.collect()
    assert {r["doc_id"] for r in rows} == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }
    for r in rows:
        assert 0.0 <= r["dup_gram_frac"] <= 1.0
        assert 0.0 <= r["top_gram_frac"] <= 1.0
        assert r["distinct_grams"] <= r["n_grams"]
        assert r["top_gram_n"] <= r["n_grams"]


def test_hash_threshold_properties():
    """_hash_threshold is monotone in rate and lands in the hex-string
    order it is compared under — pure python, hypothesis-fuzzed."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ocr_project_spark.operators.curate import _hash_threshold

    @settings(max_examples=300, deadline=None)
    @given(st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
           st.floats(min_value=0.0, max_value=1.0, allow_nan=False))
    def check(a, b):
        ta, tb = _hash_threshold(a), _hash_threshold(b)
        if a <= b:
            # 'g' sorts above every 8-hex string; equal-length hex
            # compares numerically
            assert ta <= tb or tb == "g"
        if 0.0 < a < 1.0:
            assert len(ta) == 8 and all(c in "0123456789abcdef" for c in ta)

    check()


# ------------------------------------------------------------------
# mix_corpus: target-mixture downsampling
# ------------------------------------------------------------------
def _mix_docs(spark, per_domain: dict[str, int]):
    rows, i = [], 0
    for d, n in per_domain.items():
        for _ in range(n):
            rows.append((i, d))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_mix_corpus_max_feasible_mixture(spark):
    from ocr_project_spark.operators.curate import mix_corpus

    docs = _mix_docs(spark, {"en": 8000, "de": 1000, "zh": 4000})
    sampled, rates = mix_corpus(
        docs, {"en": 0.5, "de": 0.25, "zh": 0.25}, salt="t"
    )
    # binding domain: de needs 1000/0.25 -> s=4000; en target 2000
    # (rate .25), zh target 1000 (rate .25), de rate 1.0
    assert rates["de"] == 1.0
    assert abs(rates["en"] - 0.25) < 1e-12
    assert abs(rates["zh"] - 0.25) < 1e-12
    got = sampled.groupBy("lang").count().collect()
    n = {r["lang"]: r["count"] for r in got}
    assert n["de"] == 1000  # rate 1.0 keeps everything
    assert abs(n["en"] - 2000) < 250  # ~5 sd of binomial(8000, .25)
    assert abs(n["zh"] - 1000) < 200
    # mixture achieved within sampling noise: en ~ 2x de ~ 2x zh
    assert abs(n["en"] / (n["en"] + n["de"] + n["zh"]) - 0.5) < 0.05


def test_mix_corpus_budget_form_and_infeasible(spark):
    from ocr_project_spark.operators.curate import mix_corpus

    docs = _mix_docs(spark, {"en": 8000, "de": 1000})
    sampled, rates = mix_corpus(docs, {"en": 1.0, "de": 1.0}, budget=1000)
    assert abs(rates["en"] - 500 / 8000) < 1e-12
    assert abs(rates["de"] - 0.5) < 1e-12
    total = sampled.count()
    assert abs(total - 1000) < 150
    with pytest.raises(ValueError, match="infeasible"):
        mix_corpus(docs, {"en": 1.0, "de": 1.0}, budget=3000)  # de needs 1500


def test_mix_corpus_drops_unlisted_and_validates(spark):
    from ocr_project_spark.operators.curate import mix_corpus

    docs = _mix_docs(spark, {"en": 500, "de": 500, "xx": 500})
    sampled, _ = mix_corpus(docs, {"en": 1.0, "de": 1.0})
    assert sampled.where(F.col("lang") == "xx").count() == 0
    assert sampled.count() == 1000  # equal counts, equal weights: all kept
    with pytest.raises(ValueError, match="no rows"):
        mix_corpus(docs, {"en": 1.0, "fr": 1.0})
    with pytest.raises(ValueError, match="> 0"):
        mix_corpus(docs, {"en": 0.0})
    with pytest.raises(ValueError, match="at least one"):
        mix_corpus(docs, {})


def test_mix_corpus_is_stratified_hash_sample(spark):
    """The sample IS hash_sample with the derived rates — same salt,
    same rows; and it stays deterministic under repartitioning."""
    from ocr_project_spark.operators.curate import hash_sample, mix_corpus

    docs = _mix_docs(spark, {"en": 3000, "de": 700})
    sampled, rates = mix_corpus(docs, {"en": 0.6, "de": 0.4}, salt="m")
    direct = hash_sample(
        docs, strata_col="lang", rates=rates, key_col="doc_id", salt="m"
    )
    a = {r["doc_id"] for r in sampled.collect()}
    assert a == {r["doc_id"] for r in direct.collect()}
    again, _ = mix_corpus(
        docs.repartition(13), {"en": 0.6, "de": 0.4}, salt="m"
    )
    assert a == {r["doc_id"] for r in again.collect()}


# ------------------------------------------------------------------
# clean_lines: C4-style line-level cleaning
# ------------------------------------------------------------------
def test_clean_lines_rules(spark):
    from ocr_project_spark.operators.curate import clean_lines

    docs = spark.createDataFrame(
        [
            # kept line, short line, no-terminal line, blocklisted line
            (1, "the quick brown fox jumps.\nno.\nthis line never ends\n"
                "click here javascript required."),
            # whitespace-only and empty lines vanish before counting
            (2, "   \n\none good sentence stays here.\n   "),
            (3, None),
            (4, ""),
            # terminal quote counts; exactly min_words boundary
            (5, 'he said "stop right there!"\na b c.\na b.'),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in clean_lines(docs, min_words=3, min_lines=1).collect()
    }
    assert out[1]["clean_text"] == "the quick brown fox jumps."
    assert out[1]["n_lines_in"] == 4 and out[1]["n_lines_kept"] == 1
    assert out[1]["keep"]
    assert out[2]["clean_text"] == "one good sentence stays here."
    assert out[2]["n_lines_in"] == 1
    # null/empty docs: never-fail rows with keep=False
    for i in (3, 4):
        assert out[i]["clean_text"] == ""
        assert out[i]["n_lines_in"] == 0 and not out[i]["keep"]
    # quote terminal kept; "a b c." exactly 3 words kept; "a b." dropped
    assert out[5]["clean_text"] == 'he said "stop right there!"\na b c.'
    assert out[5]["n_lines_kept"] == 2


def test_clean_lines_knobs(spark):
    from ocr_project_spark.operators.curate import clean_lines

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma\ndelta epsilon zeta.")],
        "doc_id long, text string",
    )
    # require_terminal=False admits the unpunctuated line
    out = clean_lines(docs, require_terminal=False, min_lines=2).collect()[0]
    assert out["n_lines_kept"] == 2 and out["keep"]
    # blocklist is case-insensitive
    docs2 = spark.createDataFrame(
        [(1, "this mentions JavaScript somewhere bad.\nthis one is fine.")],
        "doc_id long, text string",
    )
    out2 = clean_lines(docs2).collect()[0]
    assert out2["clean_text"] == "this one is fine."
    # min_lines gates the document verdict
    out3 = clean_lines(docs2, min_lines=2).collect()[0]
    assert not out3["keep"] and out3["n_lines_kept"] == 1


# ------------------------------------------------------------------
# scrub_pii: regex PII redaction with audit counts
# ------------------------------------------------------------------
def test_scrub_pii_patterns(spark):
    from ocr_project_spark.operators.curate import scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "mail bob@example.com or sue.jones+x@sub.domain.org now"),
            (2, "from 10.0.0.1 to 255.255.255.255 end"),
            (3, "call +14155550123 today"),
            (4, "all three: a@b.io 1.2.3.4 +491234567"),
            (5, "nothing to redact here"),
            (6, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert out[1]["clean_text"] == "mail <EMAIL> or <EMAIL> now"
    assert out[1]["n_email"] == 2 and out[1]["n_pii"] == 2
    assert out[2]["clean_text"] == "from <IPV4> to <IPV4> end"
    assert out[2]["n_ipv4"] == 2
    assert out[3]["clean_text"] == "call <PHONE> today"
    assert out[3]["n_phone"] == 1
    assert out[4]["clean_text"] == "all three: <EMAIL> <IPV4> <PHONE>"
    assert out[4]["n_pii"] == 3
    assert out[5]["clean_text"] == "nothing to redact here"
    assert out[5]["n_pii"] == 0
    # null text: never-fail empty row
    assert out[6]["clean_text"] == "" and out[6]["n_pii"] == 0


def test_scrub_pii_sequential_order(spark):
    from ocr_project_spark.operators.curate import scrub_pii

    # custom patterns: the second pattern must see the FIRST one's
    # replacement output (sequential fold), so 'aa' -> X then 'X b'
    # -> Y composes; counts reflect each stage's own input.
    docs = spark.createDataFrame([(1, "aa b")], "doc_id long, text string")
    out = scrub_pii(
        docs, patterns={"first": "aa", "second": "<FIRST> b"}
    ).collect()[0]
    assert out["n_first"] == 1 and out["n_second"] == 1
    assert out["clean_text"] == "<SECOND>"


# ------------------------------------------------------------------
# gopher_rules: Gopher document-level quality gates
# ------------------------------------------------------------------
def test_gopher_rules_gates(spark):
    from ocr_project_spark.operators.curate import gopher_rules

    good = "the quick brown fox and the lazy dog ran with vigor " * 5
    docs = spark.createDataFrame(
        [
            (1, good),                                # passes everything
            (2, "the of and"),                        # too few words
            (3, ("## # ## # ## the of " + "word " * 50)),  # symbol ratio
            (4, ("1 2 3 4 5 6 7 8 9 0 " * 6 + "the of")),  # alpha frac
            (5, ("zz yy xx ww vv uu tt ss rr qq " * 6)),   # no stopwords
            (6, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in gopher_rules(docs, min_words=10).collect()
    }
    assert out[1]["keep"]
    assert out[1]["n_stop"] == 3  # distinct: the, and, with
    assert not out[2]["keep"] and out[2]["n_words"] == 3
    assert not out[3]["keep"] and out[3]["symbol_ratio"] > 0.1
    assert not out[4]["keep"] and out[4]["alpha_frac"] < 0.8
    assert not out[5]["keep"] and out[5]["n_stop"] == 0
    assert not out[6]["keep"] and out[6]["n_words"] == 0


def test_gopher_rules_metrics_exact(spark):
    from ocr_project_spark.operators.curate import gopher_rules

    docs = spark.createDataFrame(
        [(1, "the cat... sat #on the mat")],
        "doc_id long, text string",
    )
    out = gopher_rules(docs, min_words=1).collect()[0]
    # words: the cat... sat #on the mat -> 6 words
    assert out["n_words"] == 6
    # chars: 3+6+3+3+3+3 = 21 -> 3.5
    assert out["mean_word_len"] == 3.5
    # one '#' + one '...' over 6 words
    assert out["symbol_ratio"] == round(2 / 6, 4)
    # '#on' contains alpha; all 6 words alpha
    assert out["alpha_frac"] == 1.0
    # distinct stopwords present: 'the' only ('mat'/'cat' not in set)
    assert out["n_stop"] == 1


def test_corpus_funnel_monotone(spark):
    """The composed pretraining ladder (harness.q_corpus_funnel) emits
    one row per stage with monotonically non-increasing doc counts, and
    the PII-scrub stage never drops documents."""
    from ocr_project_spark import harness

    rows = {
        r["stage"]: r
        for r in harness.QUERIES["corpus_funnel"].build(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert sorted(rows) == [
        "00_input", "10_line_clean", "20_gopher",
        "30_pii_scrub", "40_exact_dedup",
    ]
    order = sorted(rows)
    for a, b in zip(order, order[1:]):
        assert rows[b]["n_docs"] <= rows[a]["n_docs"]
        assert rows[b]["n_tokens"] <= rows[a]["n_tokens"]
    assert rows["30_pii_scrub"]["n_docs"] == rows["20_gopher"]["n_docs"]
    assert rows["00_input"]["n_docs"] > rows["40_exact_dedup"]["n_docs"]


# ------------------------------------------------------------------
# shuffle_shards: deterministic training-order shuffle
# ------------------------------------------------------------------
def test_shuffle_shards_contract(spark):
    from ocr_project_spark.operators.curate import shuffle_shards

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id")
    out = shuffle_shards(docs, n_shards=5, salt="e0")
    rows = out.collect()
    assert len(rows) == docs.count()
    by_shard = {}
    for r in rows:
        assert 0 <= r["shard"] < 5
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    # every shard's positions are exactly 0..len-1 (dense, total order)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # uniform-ish deal: no shard takes more than half the corpus
    assert max(len(v) for v in by_shard.values()) < len(rows) / 2

    # reproducible across repartitionings; different salt -> different deal
    again = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in shuffle_shards(docs.repartition(13), 5, salt="e0").collect()
    }
    assert again == {(r["doc_id"], r["shard"], r["pos"]) for r in rows}
    other = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in shuffle_shards(docs, 5, salt="e1").collect()
    }
    assert other != again


def test_shuffle_shards_null_keys_and_guard(spark):
    import pytest as _pytest
    from ocr_project_spark.operators.curate import shuffle_shards

    docs = spark.createDataFrame(
        [(None,), (None,), (1,)], "doc_id long"
    )
    rows = shuffle_shards(docs, 3).collect()
    # null keys share the sentinel digest: same shard, adjacent pos
    nulls = [r for r in rows if r["doc_id"] is None]
    assert len(nulls) == 2 and nulls[0]["shard"] == nulls[1]["shard"]
    p = sorted(n["pos"] for n in nulls)
    assert p == [p[0], p[0] + 1]  # consecutive slots in the shard
    with _pytest.raises(ValueError):
        shuffle_shards(docs, 0)


# ------------------------------------------------------------ tfidf
def test_tfidf_top_terms_contract(spark):
    from ocr_project_spark.operators.curate import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            # "alpha" appears in every doc (low idf); "zed"/"qux" are
            # rare (high idf); d3 has a tf=3 term that must win
            ("d1", "alpha alpha zed beta"),
            ("d2", "alpha beta qux qux"),
            ("d3", "alpha gamma gamma gamma zed"),
            ("d4", None),  # null text: no terms, no rows, counts in N
        ],
        "doc_id string, text string",
    )
    out = tfidf_top_terms(docs, k=2, min_df=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # null-text doc emits nothing, others exactly k=2 (>=2 terms each)
    assert set(by_doc) == {"d1", "d2", "d3"}
    assert all(len(v) == 2 for v in by_doc.values())
    # ranks are 1..k and scores non-increasing within a doc
    for rows in by_doc.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2]
        assert rows[0].tfidf >= rows[1].tfidf
    # tf=3 rare-ish term dominates its doc
    assert by_doc["d3"][0].term == "gamma"
    # deterministic tie-break: in d2, beta (df=3) loses to qux (tf=2);
    # rank-2 is then alpha vs beta — equal tf=1, beta has smaller df
    # (higher idf) so beta wins on score, not on the name tiebreak
    assert by_doc["d2"][0].term == "qux"
    assert by_doc["d2"][1].term == "beta"
    # n_docs pass-through must reproduce the computed-N result exactly
    out2 = tfidf_top_terms(docs, k=2, min_df=1, n_docs=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_tfidf_score_tie_breaks_on_term(spark):
    from ocr_project_spark.operators.curate import tfidf_top_terms

    # two terms with IDENTICAL (tf, df) in the same doc -> identical
    # score doubles -> rank order must be term-ascending
    docs = spark.createDataFrame(
        [("d1", "zeta apple zeta apple"), ("d2", "zeta apple")],
        "doc_id string, text string",
    )
    rows = tfidf_top_terms(docs, k=2, min_df=1).where("doc_id = 'd1'").collect()
    rows.sort(key=lambda r: r.rank)
    assert [r.term for r in rows] == ["apple", "zeta"]
    assert rows[0].tfidf == rows[1].tfidf


def test_dedup_lines_cross_corpus(spark):
    from ocr_project_spark.operators.curate import dedup_lines

    # "shared footer" appears in docs 1,2,3 (>= min_docs=2 distinct
    # docs); "unique one/two" appear once; doc 3 is ONLY boilerplate;
    # doc 2 repeats the footer twice INSIDE itself (intra-doc repeats
    # count one distinct doc but both occurrences are blocked)
    docs = spark.createDataFrame(
        [
            (1, "unique one.\nshared footer\nmiddle line one."),
            (2, "shared footer\nunique two.\n  shared footer  "),
            (3, "shared footer"),
            (4, None),
            (5, "   \n\n  "),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs, min_docs=2).collect()}
    assert out[1]["clean_text"] == "unique one.\nmiddle line one."
    assert out[1]["n_lines_in"] == 3 and out[1]["n_lines_kept"] == 2
    # trimming: "  shared footer  " matches the blocklist too
    assert out[2]["clean_text"] == "unique two."
    assert out[2]["n_lines_in"] == 3 and out[2]["n_lines_kept"] == 1
    assert out[3]["clean_text"] == "" and out[3]["n_lines_kept"] == 0
    # null / whitespace-only docs: never-fail zero rows
    for i in (4, 5):
        assert out[i]["clean_text"] == ""
        assert out[i]["n_lines_in"] == 0 and out[i]["n_lines_kept"] == 0


def test_dedup_lines_keep_first_and_shuffled_join(spark):
    from ocr_project_spark.operators.curate import dedup_lines

    docs = spark.createDataFrame(
        [
            (10, "common line\nalpha."),
            (20, "common line\nbeta."),
            (30, "gamma.\ncommon line"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup_lines(docs, min_docs=2, keep_first=True).collect()
    }
    # witness convention: the min-id doc retains the blocked line
    assert out[10]["clean_text"] == "common line\nalpha."
    assert out[20]["clean_text"] == "beta."
    assert out[30]["clean_text"] == "gamma."
    # the shuffled-join fallback is row-identical to the broadcast path
    a = sorted(map(tuple, dedup_lines(docs, min_docs=2).collect()))
    b = sorted(
        map(
            tuple,
            dedup_lines(docs, min_docs=2, broadcast_blocklist=False).collect(),
        )
    )
    assert a == b
    with __import__("pytest").raises(ValueError):
        dedup_lines(docs, min_docs=1)


# ------------------------------------------------------------ lm_score
def test_lm_score_hand_computed(spark):
    import math

    from ocr_project_spark.operators.curate import lm_score

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat ran"), (3, "zz"), (4, None)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in lm_score(docs, cutoffs=(1.0, 2.0)).collect()}
    # <2-token and null docs produce no row
    assert set(rows) == {1, 2}
    # corpus bigram counts: c2(the,cat)=2, c2(cat,ran)=1; contexts
    # c1(the)=3, c1(cat)=2; V=7 distinct tokens
    p1 = (2 + 0.5) / (3 + 0.5 * 7)
    p2 = (1 + 0.5) / (2 + 0.5 * 7)
    nll = round((round(-math.log(p1), 6) + round(-math.log(p2), 6)) / 2, 4)
    r2 = rows[2]
    assert r2.n_bigrams == 2
    assert r2.avg_nll == pytest.approx(nll, abs=1e-9)
    assert r2.ppl == pytest.approx(round(math.exp(nll), 4), abs=1e-9)
    assert r2.band == ("head" if nll <= 1.0 else "middle" if nll <= 2.0 else "tail")


def test_lm_score_train_split_unseen_fallbacks(spark):
    import math

    from ocr_project_spark.operators.curate import lm_score

    train = spark.createDataFrame(
        [(10, "alpha beta gamma alpha beta")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        # (alpha, beta) seen; (beta, zeta) unseen pair with seen context;
        # (zeta, eta) unseen context entirely
        [(20, "alpha beta zeta eta")],
        "doc_id long, text string",
    )
    out = lm_score(score, train_docs=train).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_bigrams == 3
    V = 3  # train vocabulary: alpha beta gamma
    # train bigrams: (alpha,beta)x2 (beta,gamma) (gamma,alpha)
    p_seen = (2 + 0.5) / (2 + 0.5 * V)     # c2=2, c1(alpha)=2
    p_pair = (0 + 0.5) / (1 + 0.5 * V)     # unseen pair, c1(beta)=1
    p_ctx = (0 + 0.5) / (0 + 0.5 * V)      # unseen context -> 1/V
    exp = round(
        sum(round(-math.log(p), 6) for p in (p_seen, p_pair, p_ctx)) / 3, 4
    )
    assert r.avg_nll == pytest.approx(exp, abs=1e-9)
    # no band column when cutoffs omitted
    assert "band" not in out[0].asDict()


def test_lm_score_min_count_prunes_to_smoothing_floor(spark):
    from ocr_project_spark.operators.curate import lm_score

    docs = spark.createDataFrame(
        # doc 1's bigrams (a,b)x2 and (b,a)x2 all reach min_count=2;
        # doc 2's (c,d) is hapax and gets pruned
        [(1, "a b a b a"), (2, "c d")], "doc_id long, text string"
    )
    full = {r.doc_id: r.avg_nll for r in lm_score(docs).collect()}
    pruned = {r.doc_id: r.avg_nll for r in lm_score(docs, min_count=2).collect()}
    # every doc-1 bigram survives pruning -> score unchanged
    assert pruned[1] == full[1]
    # (c,d) pruned -> doc 2 falls to the unseen-pair smoothing floor
    assert pruned[2] > full[2]


def test_lm_score_vocab_size_passthrough(spark):
    from ocr_project_spark.operators.curate import lm_score

    docs = spark.createDataFrame(
        [(1, "u v w u v"), (2, "w u")], "doc_id long, text string"
    )
    auto = sorted(lm_score(docs).collect())
    pinned = sorted(lm_score(docs, vocab_size=3).collect())
    assert auto == pinned


# ------------------------------------------------------------ dsir
def _dsir_reference(raw_texts, tgt_texts, n_buckets, k=0.5):
    """Pure-python replica of dsir_weights for tiny corpora."""
    import hashlib
    import math
    import re

    def feats(text):
        toks = [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]
        out = []
        for a, b in zip(toks, toks[1:]):
            h = hashlib.md5(f"{a}|{b}".encode()).hexdigest()[:8]
            out.append(int(h, 16) % n_buckets)
        return out

    ct, cr = {}, {}
    nt = nr = 0
    for t in tgt_texts:
        for f in feats(t):
            ct[f] = ct.get(f, 0) + 1
            nt += 1
    raw_feats = {i: feats(t) for i, t in raw_texts}
    for fs in raw_feats.values():
        for f in fs:
            cr[f] = cr.get(f, 0) + 1
            nr += 1
    out = {}
    for i, fs in raw_feats.items():
        s = 0.0
        for f in fs:
            s += round(
                math.log((ct.get(f, 0) + k) / (nt + k * n_buckets)), 6
            ) - round(math.log((cr.get(f, 0) + k) / (nr + k * n_buckets)), 6)
        out[i] = (len(fs), round(s, 4))
    return out


def test_dsir_weights_match_reference_and_keep_all(spark):
    from ocr_project_spark.operators.curate import dsir_weights

    raw_rows = [
        (1, "alpha beta alpha beta gamma"),
        (2, "delta epsilon delta"),
        (3, "alpha beta"),
        (4, "qq"),
        (5, None),
    ]
    tgt_rows = [(100, "alpha beta alpha"), (101, "beta gamma")]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    tgt = spark.createDataFrame(tgt_rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_feats, r.log_w)
        for r in dsir_weights(raw, tgt, n_buckets=32).collect()
    }
    exp = _dsir_reference(
        [(i, t) for i, t in raw_rows], [t for _, t in tgt_rows], 32
    )
    for i in (1, 2, 3):
        assert got[i][0] == exp[i][0]
        assert got[i][1] == pytest.approx(exp[i][1], abs=1e-9)
    # keep-all: featureless docs present with the empty-product weight
    assert got[4] == (0, 0.0)
    assert got[5] == (0, 0.0)
    # directionality: target-like docs outweigh off-target docs
    assert got[1][1] > got[2][1]
    assert got[3][1] > got[2][1]


def test_dsir_sample_deterministic_and_seeded(spark):
    from ocr_project_spark.operators.curate import dsir_sample

    raw = spark.createDataFrame(
        [(i, f"alpha beta tok{i} gamma delta") for i in range(20)],
        "doc_id long, text string",
    )
    tgt = spark.createDataFrame(
        [(100, "alpha beta gamma")], "doc_id long, text string"
    )
    a = [(r.doc_id, r.key) for r in dsir_sample(raw, tgt, 5, n_buckets=64).collect()]
    b = [(r.doc_id, r.key) for r in dsir_sample(raw, tgt, 5, n_buckets=64).collect()]
    assert a == b
    assert len(a) == 5
    # keys arrive ranked descending
    assert [k for _, k in a] == sorted((k for _, k in a), reverse=True)
    c = {
        r.doc_id
        for r in dsir_sample(raw, tgt, 5, n_buckets=64, seed="ep1").collect()
    }
    # a different seed draws an independent permutation; with 20 docs
    # choose 5 the two samples are overwhelmingly unlikely to coincide
    assert c != {i for i, _ in a}


def test_dsir_null_id_doc_keeps_its_weight(spark):
    from ocr_project_spark.operators.curate import dsir_weights

    raw = spark.createDataFrame(
        [(None, "alpha beta alpha beta"), (2, "gamma delta gamma")],
        "doc_id long, text string",
    )
    tgt = spark.createDataFrame(
        [(100, "alpha beta alpha")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in dsir_weights(raw, tgt, n_buckets=32).collect()}
    # the null-id doc's features must come back through the null-safe
    # join, not silently zero out
    assert got[None].n_feats == 3
    assert got[None].log_w != 0.0
    assert got[None].log_w > got[2].log_w


def test_lm_score_empty_train_raises(spark):
    from ocr_project_spark.operators.curate import lm_score

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    empty = spark.createDataFrame([(9, "")], "doc_id long, text string")
    with pytest.raises(ValueError):
        lm_score(docs, train_docs=empty)
    with pytest.raises(ValueError):
        lm_score(docs, vocab_size=0)


# ---------------------------------------------------------------- cap


def test_cap_per_source_respects_cap_and_keeps_small_groups(spark):
    from ocr_project_spark.operators.curate import cap_per_source

    rows = [(i, f"src{i % 3}", f"text {i}") for i in range(20)]
    rows.append((99, "lonely", "solo doc"))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = cap_per_source(df, cap=4).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    # hot keys capped exactly, small key untouched
    assert all(len(v) == 4 for k, v in by_src.items() if k.startswith("src"))
    assert len(by_src["lonely"]) == 1
    # keep_rank is dense 1..n within each key
    for v in by_src.values():
        assert sorted(r.keep_rank for r in v) == list(range(1, len(v) + 1))
    # original columns survive
    assert all(r.text is not None for r in out)


def test_cap_per_source_deterministic_across_partitionings_and_salts(spark):
    from ocr_project_spark.operators.curate import cap_per_source

    rows = [(i, f"s{i % 2}", "t") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    def kept(frame, salt=""):
        return sorted(
            (r.doc_id, r.keep_rank)
            for r in cap_per_source(frame, cap=5, salt=salt).collect()
        )

    a = kept(df)
    b = kept(df.repartition(13))
    c = kept(df.coalesce(1))
    assert a == b == c  # verdicts never ride on partitioning
    # a different salt draws a genuinely different lottery
    assert {d for d, _ in kept(df)} != {d for d, _ in kept(df, salt="other")}


def test_cap_per_source_null_key_group_and_bad_cap(spark):
    import pytest as _pytest

    from ocr_project_spark.operators.curate import cap_per_source

    rows = [(1, None, "a"), (2, None, "b"), (3, None, "c"), (4, "s", "d")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = cap_per_source(df, cap=2).collect()
    null_group = [r for r in out if r.source is None]
    assert len(null_group) == 2  # NULL keys form one capped group
    assert len([r for r in out if r.source == "s"]) == 1
    with _pytest.raises(ValueError):
        cap_per_source(df, cap=0)


def test_micro_sum_scores_sit_exactly_on_the_1e4_grid(spark):
    """lm_score / dsir_weights round their per-doc float aggregates via
    exact-integer micro arithmetic (the sf1 oracle gate caught Spark
    and DuckDB rounding opposite ways at the .00005 boundary when the
    sum was a float) — every emitted score must therefore sit exactly
    on the 1e-4 grid, at any corpus size or partitioning."""
    import pyspark.sql.functions as F

    from ocr_project_spark.operators.curate import dsir_weights, lm_score

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{(i * j) % 23}" for j in range(1, 40)))
            for i in range(200)
        ],
        "doc_id long, text string",
    ).repartition(7)
    lm = lm_score(docs).collect()
    assert len(lm) == 200
    for r in lm:
        assert abs(r.avg_nll * 1e4 - round(r.avg_nll * 1e4)) < 1e-6, r
    tgt = docs.where(F.col("doc_id") % 5 == 0)
    for r in dsir_weights(docs, tgt, n_buckets=64).collect():
        assert abs(r.log_w * 1e4 - round(r.log_w * 1e4)) < 1e-6, r


def test_repetition_stats_plan_is_exchange_free(spark):
    """The metrics are per-document, so the plan must never shuffle:
    one projection chain (tokenize -> hash windows -> sort -> fold),
    zero Exchange nodes at any parallelism."""
    from ocr_project_spark.operators.curate import repetition_stats

    docs = spark.createDataFrame(
        [(f"d{i}", "a b a b c " * (i % 4 + 1)) for i in range(50)],
        "doc_id string, text string",
    ).repartition(5)
    out = repetition_stats(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the input repartition above is the only permitted exchange
    assert plan.count("Exchange") <= 1, plan[:2000]
    r = {x.doc_id: x for x in out.collect()}
    assert len(r) == 50
    # d0: "a b a b c " -> bigrams ab,ba,ab,bc -> 4 grams, 3 distinct,
    # top multiplicity 2
    assert (r["d0"].n_grams, r["d0"].distinct_grams, r["d0"].top_gram_n) == (
        4,
        3,
        2,
    )


def test_split_corpus_disjoint_exhaustive_deterministic(spark):
    """split_corpus: every row exactly one label; fractions approx;
    same (splits, salt) reproduces the assignment across
    repartitionings; different salt draws a different partition;
    null keys get one deterministic verdict; bad fractions raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from ocr_project_spark.operators.curate import split_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = split_corpus(docs, splits, salt="s1")
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    n = docs.count()
    assert sum(counts.values()) == n            # exhaustive
    assert set(counts) <= set(splits)
    assert abs(counts.get("train", 0) / n - 0.8) < 0.06
    # deterministic across partitionings
    again = split_corpus(docs.repartition(7), splits, salt="s1")
    assert out.exceptAll(again).count() == 0
    # a different salt reshuffles the bands
    other = split_corpus(docs, splits, salt="s2")
    assert out.exceptAll(other).count() > 0
    # null keys: one deterministic label, never dropped
    null_df = spark.createDataFrame([(None, "x")], "doc_id string, text string")
    lbl = split_corpus(null_df, splits, salt="s1").collect()
    assert len(lbl) == 1 and lbl[0]["split"] in splits
    with _pytest.raises(ValueError):
        split_corpus(docs, {"train": 0.5, "val": 0.2})
    # narrow plan: no exchange
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
