"""Physical-plan layer tests: bucketing, salting, mega-doc chunking,
checkpoint/resume, metrics (plans/*, SURVEY.md section 7.3 items 5-7).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_project_spark import oracle
from ocr_project_spark.operators.extract import extract, extract_chunked
from ocr_project_spark.plans import checkpoint, metrics, partitioning


def to_dict(df):
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in (r["spans"] or [])
        ]
        for r in df.collect()
    }


# ------------------------------------------------------------------ buckets
def test_bucket_stable_and_in_range(spark):
    df = spark.range(500).select(F.concat(F.lit("doc-"), "id").alias("doc_id"))
    a = {r["doc_id"]: r["b"] for r in df.select("doc_id", partitioning.bucket_expr("doc_id", 16).alias("b")).collect()}
    b = {r["doc_id"]: r["b"] for r in df.select("doc_id", partitioning.bucket_expr("doc_id", 16).alias("b")).collect()}
    assert a == b
    assert all(0 <= v < 16 for v in a.values())
    # reasonable spread: no bucket gets more than 3x the mean
    from collections import Counter

    counts = Counter(a.values())
    assert max(counts.values()) < 3 * (500 / 16)


# ------------------------------------------------------------------ salting
def _hot_mega_docs(spark, n_rows=64, n_spans=400):
    span = F.struct(
        F.lit("text").alias("kind"),
        F.lit("w " * 20).alias("text"),
        F.lit("").alias("media_ref"),
        F.col("i").cast("int").alias("offset"),
    )
    return (
        spark.range(n_rows)
        .select(F.lit("doc-hot").alias("doc_id"))
        .withColumn(
            "spans",
            F.transform(F.sequence(F.lit(0), F.lit(n_spans - 1)), lambda i: F.struct(
                F.lit("text").alias("kind"),
                F.lit("w " * 20).alias("text"),
                F.lit("").alias("media_ref"),
                i.cast("int").alias("offset"),
            )),
        )
    )


def test_salting_spreads_hot_mega_key(spark):
    docs = _hot_mega_docs(spark)
    unsalted = docs.repartition(8, F.col("doc_id"))
    salted = partitioning.repartition_for_extract(docs, 8, threshold=256)
    r_un = metrics.skew_report(unsalted)
    r_sa = metrics.skew_report(salted)
    # all 64 clones of the hot mega-doc collapse to one partition unsalted
    assert r_un["n_partitions"] == 1 or r_un["max_docs"] == 64
    # salted: spread over several partitions, max well below total
    assert r_sa["n_partitions"] >= 4
    assert r_sa["max_docs"] <= 32


def test_salting_leaves_normal_docs_unsplit(spark):
    # below-threshold docs get salt 0: same doc_id -> same partition
    span = F.transform(F.sequence(F.lit(0), F.lit(4)), lambda i: F.struct(
        F.lit("text").alias("kind"), F.lit("x").alias("text"),
        F.lit("").alias("media_ref"), i.cast("int").alias("offset")))
    docs = (
        spark.range(200)
        .select(F.concat(F.lit("d"), (F.col("id") % 10)).alias("doc_id"))
        .withColumn("spans", span)
    )
    parted = partitioning.repartition_for_extract(docs, 8, threshold=256)
    per_key = (
        parted.withColumn("pid", F.spark_partition_id())
        .groupBy("doc_id")
        .agg(F.countDistinct("pid").alias("nparts"))
        .collect()
    )
    assert all(r["nparts"] == 1 for r in per_key)


# ------------------------------------------------------------------ chunking
def test_chunked_extract_equals_plain(corpus_dfs):
    docs_df, cands_df = corpus_dfs
    plain = to_dict(extract(docs_df, cands_df))
    chunked = to_dict(extract_chunked(docs_df, cands_df, max_spans_per_chunk=32))
    assert chunked == plain


def test_chunk_reassemble_roundtrip_no_candidates(corpus_dfs):
    docs_df, _ = corpus_dfs
    plain = to_dict(extract(docs_df))
    chunked = to_dict(extract_chunked(docs_df, max_spans_per_chunk=7))
    assert chunked == plain


def test_mega_corpus_fixture_chunked_equals_plain(spark, tmp_path):
    """The crossover-bench fixture (one big doc built columnar in
    arrow, sources/generate.write_mega_corpus_parquet) produces the
    same extraction under both plans — the correctness side of the
    PLANS.md "mega-doc crossover bench" performance pair — and is
    deterministic for a given seed."""
    from ocr_project_spark.sources.generate import write_mega_corpus_parquet

    d1, c1 = write_mega_corpus_parquet(
        str(tmp_path / "a"), mega_span_count=5000, n_regular=10
    )
    d2, _ = write_mega_corpus_parquet(
        str(tmp_path / "b"), mega_span_count=5000, n_regular=10
    )
    import pyarrow.parquet as pq

    assert pq.read_table(d1).equals(pq.read_table(d2))  # determinism

    docs_df = spark.read.parquet(d1)
    cands_df = spark.read.parquet(c1)
    assert docs_df.count() == 11
    mega = [r for r in docs_df.collect() if len(r["spans"] or []) == 5000]
    assert len(mega) == 1
    plain = to_dict(extract(docs_df, cands_df))
    chunked = to_dict(extract_chunked(docs_df, cands_df, max_spans_per_chunk=512))
    assert chunked == plain


# ------------------------------------------------------------------ checkpoint
def test_checkpoint_run_matches_direct(spark, corpus, corpus_dfs, tmp_path):
    docs_df, cands_df = corpus_dfs
    out = checkpoint.run(
        spark, docs_df, str(tmp_path / "ck1"), "r1", candidates=cands_df,
        n_buckets=8, bucket_batch_size=3,
    )
    docs, cands = corpus
    expected = {
        k: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in v]
        for k, v in oracle.extract_corpus(docs, cands).items()
    }
    assert to_dict(out) == expected

    wm = checkpoint.read_watermarks(spark, str(tmp_path / "ck1"))
    assert wm.where(F.col("status") == "committed").select("bucket").distinct().count() == 8
    met = checkpoint.read_metrics(spark, str(tmp_path / "ck1"))
    assert met.count() == 8
    assert met.where(F.col("elapsed_ms") < 0).count() == 0


def test_checkpoint_resume_after_crash(spark, corpus, corpus_dfs, tmp_path):
    docs_df, cands_df = corpus_dfs
    ck = str(tmp_path / "ck2")
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpoint.run(
            spark, docs_df, ck, "r2", candidates=cands_df,
            n_buckets=8, bucket_batch_size=2, fail_after_batches=2,
        )
    done_before = checkpoint.completed_buckets(spark, ck, "r2")
    assert 0 < len(done_before) < 8

    out = checkpoint.run(
        spark, docs_df, ck, "r2", candidates=cands_df,
        n_buckets=8, bucket_batch_size=2,
    )
    docs, cands = corpus
    expected = {
        k: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in v]
        for k, v in oracle.extract_corpus(docs, cands).items()
    }
    got = to_dict(out)
    assert got == expected  # no gaps
    # no duplicate doc_ids in the committed table
    raw = spark.read.parquet(f"{ck}/{checkpoint.OUTPUT_TABLE}")
    assert raw.count() == raw.select("doc_id").distinct().count()
    # resumed run did not re-commit finished buckets
    wm = checkpoint.read_watermarks(spark, ck)
    per_bucket = wm.groupBy("bucket").count().collect()
    assert all(r["count"] == 1 for r in per_bucket)


def test_checkpoint_interleaved_commit_converges(
    spark, corpus, corpus_dfs, tmp_path, monkeypatch
):
    """Writer A crashes INSIDE the data-write -> watermark-append gap
    (the window the module docstring's crash-atomicity argument is
    about); writer B takes over and commits everything; then A's
    delayed watermark append lands late — the stale double-commit an
    Iceberg-style snapshot log must tolerate.  The committed table must
    show no gaps and no duplicate documents, and resume must treat the
    duplicated watermark rows as one commit."""
    from ocr_project_spark import schema

    docs_df, cands_df = corpus_dfs
    ck = str(tmp_path / "ck_ic")
    orig_append = checkpoint._append
    fired = {"done": False}

    def crash_before_watermark(df, path):
        if path.endswith(checkpoint.WATERMARK_TABLE) and not fired["done"]:
            fired["done"] = True
            raise RuntimeError("crash between data write and watermark commit")
        return orig_append(df, path)

    monkeypatch.setattr(checkpoint, "_append", crash_before_watermark)
    with pytest.raises(RuntimeError, match="between data write"):
        checkpoint.run(
            spark, docs_df, ck, "ric", candidates=cands_df,
            n_buckets=8, bucket_batch_size=2,
        )
    monkeypatch.setattr(checkpoint, "_append", orig_append)

    # the batch's data is orphaned-but-uncommitted: no watermark exists
    assert checkpoint.completed_buckets(spark, ck, "ric") == set()

    # writer B runs the whole job (replays the orphaned buckets —
    # idempotent via dynamic partition overwrite + determinism)
    checkpoint.run(
        spark, docs_df, ck, "ric", candidates=cands_df,
        n_buckets=8, bucket_batch_size=2,
    )

    # writer A's delayed watermark append lands AFTER B's commits
    import time as _time

    stale = [("ric", b, "committed", 0, _time.time_ns(), None) for b in (0, 1)]
    orig_append(
        spark.createDataFrame(stale, schema.WATERMARKS),
        f"{ck}/{checkpoint.WATERMARK_TABLE}",
    )

    docs, cands = corpus
    expected = {
        k: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in v]
        for k, v in oracle.extract_corpus(docs, cands).items()
    }
    raw = spark.read.parquet(f"{ck}/{checkpoint.OUTPUT_TABLE}")
    assert to_dict(raw.drop("bucket")) == expected  # no gaps
    assert raw.count() == raw.select("doc_id").distinct().count()  # no dupes

    # duplicated watermark rows collapse to one commit per bucket
    assert checkpoint.completed_buckets(spark, ck, "ric") == set(range(8))

    # a fresh resume is a no-op: nothing pending, no new commits
    wm_rows_before = checkpoint.read_watermarks(spark, ck).count()
    checkpoint.run(
        spark, docs_df, ck, "ric", candidates=cands_df,
        n_buckets=8, bucket_batch_size=2,
    )
    assert checkpoint.read_watermarks(spark, ck).count() == wm_rows_before


# ------------------------------------------------------------------ metrics
def test_observed_counts(spark, corpus, corpus_dfs):
    docs_df, cands_df = corpus_dfs
    out, obs = metrics.observed(extract(docs_df, cands_df))
    out.write.format("noop").mode("overwrite").save()
    docs, cands = corpus
    expected = oracle.extract_corpus(docs, cands)
    vals = obs.get
    assert vals["docs"] == len(expected)
    assert vals["spans"] == sum(len(v) for v in expected.values())
    assert vals["empty_docs"] == sum(1 for v in expected.values() if not v)


def test_checkpoint_chunked_matches(spark, corpus, corpus_dfs, tmp_path):
    docs_df, cands_df = corpus_dfs
    out = checkpoint.run(
        spark, docs_df, str(tmp_path / "ck3"), "r3", candidates=cands_df,
        n_buckets=4, bucket_batch_size=2, chunk_mega_docs=48,
    )
    docs, cands = corpus
    expected = {
        k: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in v]
        for k, v in oracle.extract_corpus(docs, cands).items()
    }
    assert to_dict(out) == expected


def test_read_as_of_snapshot(spark, corpus_dfs, tmp_path):
    docs_df, cands_df = corpus_dfs
    ck = str(tmp_path / "ck4")
    with pytest.raises(RuntimeError):
        checkpoint.run(
            spark, docs_df, ck, "r4", candidates=cands_df,
            n_buckets=8, bucket_batch_size=2, fail_after_batches=2,
        )
    mid_ticks = checkpoint.read_watermarks(spark, ck).agg(
        F.max("committed_at_ticks")
    ).collect()[0][0]
    mid_docs = checkpoint.read_as_of(spark, ck, "r4").count()
    assert 0 < mid_docs

    checkpoint.run(
        spark, docs_df, ck, "r4", candidates=cands_df,
        n_buckets=8, bucket_batch_size=2,
    )
    full = checkpoint.read_as_of(spark, ck, "r4").count()
    assert full == docs_df.count()
    # pinned to the pre-crash tick: still sees only the first commits
    assert checkpoint.read_as_of(spark, ck, "r4", as_of_ticks=mid_ticks).count() == mid_docs


def test_flatten_plan_no_inferred_assembly_filter(spark):
    """Regression pin for the Generate-inferred-filter fix: flattening
    extract() output must NOT duplicate the HOF assembly expression
    into a pushed size>0 Filter (plain explode did: 15 transform()
    occurrences in the physical plan and a 5.6x slowdown; explode_outer
    + isNotNull keeps it at ~5)."""
    import os

    from ocr_project_spark import harness
    from ocr_project_spark.operators.extract import extract

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        import pytest

        pytest.skip("testdata missing")
    flat = harness._spans_out_flat(
        extract(harness._derived_span_docs(spark, sf), None)
    )
    plan = flat._jdf.queryExecution().executedPlan().toString()
    n = plan.count("transform(")
    assert n <= 8, f"assembly expression duplicated in plan ({n} transforms)"


def test_checkpoint_pins_retry_config(spark, corpus_dfs, tmp_path):
    """The run manifest pins the fusion mode: resuming a crashed
    retry-fusion run without --retry-candidates (or with a moved
    threshold) must fail loudly instead of appending plain-fusion
    buckets next to retry-fused ones."""
    import pytest
    from pyspark.sql import functions as F

    from ocr_project_spark.errors import CheckpointConflictError
    from ocr_project_spark.plans import checkpoint

    docs_df, cands_df = corpus_dfs
    retry_df = cands_df.groupBy("doc_id", "offset").agg(
        F.lit("rec_retry").alias("engine"),
        F.concat(F.lit("retry:"), F.min("text")).alias("text"),
        F.lit(0.93).alias("confidence"),
    ).select("doc_id", "offset", "engine", "text", "confidence")

    out_dir = str(tmp_path / "ck_retry_pin")
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpoint.run(
            spark, docs_df, out_dir, "pin-run",
            candidates=cands_df, n_buckets=4, bucket_batch_size=2,
            retry_candidates=retry_df, retry_threshold=0.6,
            fail_after_batches=1,
        )
    # resume WITHOUT the retry pass -> refused
    with pytest.raises(CheckpointConflictError, match="fusion"):
        checkpoint.run(
            spark, docs_df, out_dir, "pin-run",
            candidates=cands_df, n_buckets=4, bucket_batch_size=2,
        )
    # resume with a DIFFERENT threshold -> refused
    with pytest.raises(CheckpointConflictError, match="fusion"):
        checkpoint.run(
            spark, docs_df, out_dir, "pin-run",
            candidates=cands_df, n_buckets=4, bucket_batch_size=2,
            retry_candidates=retry_df, retry_threshold=0.3,
        )
    # resume with the SAME fusion config -> converges to the direct run
    from ocr_project_spark.operators.extract import extract

    out = checkpoint.run(
        spark, docs_df, out_dir, "pin-run",
        candidates=cands_df, n_buckets=4, bucket_batch_size=2,
        retry_candidates=retry_df, retry_threshold=0.6,
    )
    want = {
        r["doc_id"]: [tuple(s) for s in (r["spans"] or [])]
        for r in extract(
            docs_df, cands_df, retry_candidates=retry_df, retry_threshold=0.6
        ).collect()
    }
    got = {
        r["doc_id"]: [tuple(s) for s in (r["spans"] or [])]
        for r in out.drop("bucket").collect()
    }
    assert got == want


def test_checkpoint_normalize_matches_pipeline(spark, corpus_dfs, tmp_path):
    """checkpoint.run(normalize=...) == run_pipeline(normalize=...)
    doc-for-doc (the K4-K6 tier is per-document, so per-batch
    normalization is batch-invariant), and the manifest pins the tier
    against drifting resumes."""
    import pytest

    from ocr_project_spark.errors import CheckpointConflictError
    from ocr_project_spark.pipeline import run_pipeline
    from ocr_project_spark.plans import checkpoint

    docs_df, cands_df = corpus_dfs

    def key(df):
        return {
            r["doc_id"]: [tuple(s) for s in (r["spans"] or [])]
            for r in df.collect()
        }

    want = key(run_pipeline(docs_df, cands_df, normalize="balanced"))
    out_dir = str(tmp_path / "ck_norm")
    out = checkpoint.run(
        spark, docs_df, out_dir, "norm-run",
        candidates=cands_df, n_buckets=4, bucket_batch_size=2,
        normalize="balanced",
    )
    assert key(out.drop("bucket")) == want
    # a resume that flips the tier (or drops it) is refused
    with pytest.raises(CheckpointConflictError, match="normalize"):
        checkpoint.run(
            spark, docs_df, out_dir, "norm-run",
            candidates=cands_df, n_buckets=4, bucket_batch_size=2,
            normalize="enhanced",
        )
    with pytest.raises(CheckpointConflictError, match="normalize"):
        checkpoint.run(
            spark, docs_df, out_dir, "norm-run",
            candidates=cands_df, n_buckets=4, bucket_batch_size=2,
        )


def test_checkpoint_old_manifest_still_resumes(tmp_path):
    """Forward compatibility: a manifest written by an older build
    (fewer pinned switches) must not spuriously conflict under a newer
    build — stored keys are compared, new switches are only enforced
    for runs that recorded them."""
    import json
    import os

    import pytest

    from ocr_project_spark.errors import CheckpointConflictError
    from ocr_project_spark.plans.checkpoint import _check_run_config

    out_dir = str(tmp_path / "ck_old")
    meta_dir = os.path.join(out_dir, "_run_meta")
    os.makedirs(meta_dir)
    with open(os.path.join(meta_dir, "r1.json"), "w") as f:
        json.dump(
            {"run_id": "r1", "n_buckets": 4,
             "fusion": {"has_retry": False, "retry_threshold": None}},
            f,
        )
    # newer build pins more switches; stored keys match -> resume OK
    _check_run_config(out_dir, "r1", 4, semantics={
        "has_retry": False, "retry_threshold": None,
        "normalize": None, "lang_filter": False,
    })
    # a stored key that drifts still refuses
    with pytest.raises(CheckpointConflictError, match="has_retry"):
        _check_run_config(out_dir, "r1", 4, semantics={
            "has_retry": True, "retry_threshold": 0.3,
            "normalize": None, "lang_filter": False,
        })
    # a switch ACTIVE now but absent from the stored pin refuses too:
    # the committed buckets demonstrably ran without the feature
    with pytest.raises(CheckpointConflictError, match="sample_rate"):
        _check_run_config(out_dir, "r1", 4, semantics={
            "has_retry": False, "retry_threshold": None,
            "normalize": None, "lang_filter": False,
            "sample_rate": 0.5, "sample_salt": "s",
        })
    # ...while inactive (falsy) new switches stay forward-compatible
    _check_run_config(out_dir, "r1", 4, semantics={
        "has_retry": False, "retry_threshold": None,
        "normalize": None, "lang_filter": False,
        "sample_rate": None, "sample_salt": None,
        "disabled_engines": [],
    })


def test_checkpoint_lang_filter_matches_upstream(spark, corpus_dfs, tmp_path):
    """Per-bucket-batch language filtering == filtering the whole
    candidate table upstream (doc language is a per-doc function and
    candidates bucket with their docs), and the manifest pins the
    EFFECTIVE per-engine lists, not an on/off flag."""
    import pytest

    from ocr_project_spark.errors import CheckpointConflictError
    from ocr_project_spark.functions.fuse import (
        doc_langs_from_spans,
        filter_candidates_by_language,
    )
    from ocr_project_spark.operators.extract import extract
    from ocr_project_spark.plans import checkpoint

    docs_df, cands_df = corpus_dfs
    cfg = {"engines": {"rec_a": {"languages": ["fr"]}}}

    def key(df):
        return {
            r["doc_id"]: [tuple(s) for s in (r["spans"] or [])]
            for r in df.collect()
        }

    out_dir = str(tmp_path / "ck_lang")
    out = checkpoint.run(
        spark, docs_df, out_dir, "lang-run",
        candidates=cands_df, n_buckets=4, bucket_batch_size=2,
        lang_filter_cfg=cfg,
    )
    want = key(extract(
        docs_df,
        filter_candidates_by_language(
            cands_df, doc_langs_from_spans(docs_df), cfg
        ),
    ))
    got = key(out.drop("bucket"))
    assert got == want
    assert want != key(extract(docs_df, cands_df))  # the filter bites

    # resume with CHANGED language lists -> refused (flag-only pinning
    # would let this through)
    with pytest.raises(CheckpointConflictError, match="lang_filter"):
        checkpoint.run(
            spark, docs_df, out_dir, "lang-run",
            candidates=cands_df, n_buckets=4, bucket_batch_size=2,
            lang_filter_cfg={"engines": {"rec_a": {"languages": ["en"]}}},
        )
    with pytest.raises(CheckpointConflictError, match="lang_filter"):
        checkpoint.run(
            spark, docs_df, out_dir, "lang-run",
            candidates=cands_df, n_buckets=4, bucket_batch_size=2,
        )


def test_checkpoint_refused_combo_leaves_no_manifest(spark, corpus_dfs, tmp_path):
    """A refused parameter combination must not write the run manifest:
    the corrected re-invocation would otherwise hit a spurious
    conflict on a run that never committed anything."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from ocr_project_spark.plans import checkpoint

    docs_df, cands_df = corpus_dfs
    retry_df = cands_df.limit(5).select(
        "doc_id", "offset", F.lit("rec_retry").alias("engine"),
        "text", "confidence",
    )
    out_dir = str(tmp_path / "ck_poison")
    with pytest.raises(ValueError, match="requires candidates"):
        checkpoint.run(
            spark, docs_df, out_dir, "bad-run",
            retry_candidates=retry_df, n_buckets=4,
        )
    assert not os.path.exists(
        os.path.join(out_dir, "_run_meta", "bad-run.json")
    )
    # the corrected invocation proceeds with no manual cleanup
    out = checkpoint.run(
        spark, docs_df, out_dir, "bad-run",
        candidates=cands_df, retry_candidates=retry_df,
        n_buckets=4, bucket_batch_size=4,
    )
    assert out.count() == docs_df.count()


def test_checkpoint_lang_filter_with_retry_matches_upstream(
    spark, corpus_dfs, tmp_path
):
    """The combined per-batch path (language filter + retry fusion)
    equals filtering both candidate tables upstream and running the
    single-pass two-pass pipeline."""
    from pyspark.sql import functions as F

    from ocr_project_spark.functions.fuse import (
        doc_langs_from_spans,
        filter_candidates_by_language,
    )
    from ocr_project_spark.operators.extract import extract
    from ocr_project_spark.plans import checkpoint

    docs_df, cands_df = corpus_dfs
    cfg = {"engines": {"rec_a": {"languages": ["fr"]}}}
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

    out = checkpoint.run(
        spark, docs_df, str(tmp_path / "ck_lang_retry"), "lr-run",
        candidates=cands_df, n_buckets=4, bucket_batch_size=2,
        retry_candidates=retry_df, retry_threshold=0.6,
        lang_filter_cfg=cfg,
    )
    dl = doc_langs_from_spans(docs_df)
    want = key(extract(
        docs_df,
        filter_candidates_by_language(cands_df, dl, cfg),
        retry_candidates=filter_candidates_by_language(retry_df, dl, cfg),
        retry_threshold=0.6,
    ))
    assert key(out.drop("bucket")) == want


def test_checkpoint_lang_filter_crash_resume_converges(
    spark, corpus_dfs, tmp_path
):
    """Crash-resume with the per-batch language filter: the filter is
    deterministic (min lang guess), so the resumed buckets converge to
    exactly the upstream-filtered single-pass result."""
    import pytest

    from ocr_project_spark.functions.fuse import (
        doc_langs_from_spans,
        filter_candidates_by_language,
    )
    from ocr_project_spark.operators.extract import extract
    from ocr_project_spark.plans import checkpoint

    docs_df, cands_df = corpus_dfs
    cfg = {"engines": {"rec_a": {"languages": ["fr"]}}}
    out_dir = str(tmp_path / "ck_lang_crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpoint.run(
            spark, docs_df, out_dir, "lang-crash",
            candidates=cands_df, n_buckets=4, bucket_batch_size=2,
            lang_filter_cfg=cfg, fail_after_batches=1,
        )
    out = checkpoint.run(
        spark, docs_df, out_dir, "lang-crash",
        candidates=cands_df, n_buckets=4, bucket_batch_size=2,
        lang_filter_cfg=cfg,
    )
    want = {
        r["doc_id"]: [tuple(s) for s in (r["spans"] or [])]
        for r in extract(
            docs_df,
            filter_candidates_by_language(
                cands_df, doc_langs_from_spans(docs_df), cfg
            ),
        ).collect()
    }
    got = {
        r["doc_id"]: [tuple(s) for s in (r["spans"] or [])]
        for r in out.drop("bucket").collect()
    }
    assert got == want


def test_checkpoint_scrub_pii_matches_pipeline_and_pins(spark, corpus_dfs, tmp_path):
    """checkpoint.run(scrub_pii=True) == run_pipeline(scrub_pii=True)
    doc-for-doc (scrub is a per-document post-transform, so per-batch
    application is batch-invariant); the manifest pins the switch so a
    resume that flips it — mixing redacted and raw buckets — refuses."""
    import pytest

    from ocr_project_spark.errors import CheckpointConflictError
    from ocr_project_spark.pipeline import run_pipeline
    from ocr_project_spark.plans import checkpoint

    docs_df, cands_df = corpus_dfs

    def key(df):
        return {
            r["doc_id"]: [tuple(s) for s in (r["spans"] or [])]
            for r in df.collect()
        }

    want = key(run_pipeline(docs_df, cands_df, scrub_pii=True))
    out_dir = str(tmp_path / "ck_scrub")
    out = checkpoint.run(
        spark, docs_df, out_dir, "scrub-run",
        candidates=cands_df, n_buckets=4, bucket_batch_size=2,
        scrub_pii=True,
    )
    assert key(out.drop("bucket")) == want
    with pytest.raises(CheckpointConflictError, match="scrub_pii"):
        checkpoint.run(
            spark, docs_df, out_dir, "scrub-run",
            candidates=cands_df, n_buckets=4, bucket_batch_size=2,
        )
