"""curate_job.py CLI: the full flag-selected curation ladder run
in-process against the sf0.001 corpus — funnel monotonicity, output
contract, flag validation."""

from __future__ import annotations

import json
import os

import pytest


@pytest.fixture(scope="module")
def ladder_out(spark, tmp_path_factory):
    from ocr_project_spark.curate_job import main

    out = str(tmp_path_factory.mktemp("curate_out"))
    rc = main(
        [
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", out,
            "--run-id", "t1",
            # gopher with corpus-appropriate thresholds (the synthetic
            # vocabulary has one distinct stopword); clean_lines is off
            # because the corpus is single-line with short fragments
            "--gopher", "--gopher-set", "min_stopwords=1",
            "--gopher-set", "min_words=25",
            "--scrub-passages", "5",
            "--exact-dedup",
            "--lm-cutoffs", "3.0,3.6", "--lm-keep", "head,middle",
            "--bpe-merges", "30", "--pack-budget", "1024",
            "--shards", "4",
        ]
    )
    assert rc == 0
    return os.path.join(out, "t1")


def test_ladder_funnel_monotone_and_stages(ladder_out):
    funnel = json.load(open(os.path.join(ladder_out, "funnel.json")))["funnel"]
    stages = [f["stage"] for f in funnel]
    assert stages == [
        "00_input", "20_gopher", "40_scrub_passages",
        "50_exact_dedup", "60_lm_filter", "90_written",
    ]
    docs = [f["n_docs"] for f in funnel]
    toks = [f["n_tokens"] for f in funnel]
    # every stage can only shrink the corpus
    assert all(a >= b for a, b in zip(docs, docs[1:]))
    assert all(a >= b for a, b in zip(toks, toks[1:]))
    assert docs[0] == 500 and docs[-1] > 0
    # the gopher gate and the passage scrub both genuinely fired
    assert docs[1] < docs[0]
    assert toks[2] < toks[1]


def test_ladder_output_contract(spark, ladder_out):
    df = spark.read.parquet(os.path.join(ladder_out, "corpus.parquet"))
    assert set(df.columns) == {
        "doc_id", "text", "n_bpe_tokens", "pack_id", "shard", "pos",
    }
    rows = df.collect()
    n = len(rows)
    funnel = json.load(open(os.path.join(ladder_out, "funnel.json")))["funnel"]
    assert funnel[-1]["n_docs"] == n
    assert all(r.n_bpe_tokens > 0 for r in rows)
    assert {r.shard for r in rows} <= set(range(4))
    # pack budget respected for multi-doc packs
    from collections import defaultdict

    packs = defaultdict(list)
    for r in rows:
        packs[r.pack_id].append(r.n_bpe_tokens)
    for members in packs.values():
        if len(members) > 1:
            assert sum(members) <= 1024


def test_flag_validation():
    from ocr_project_spark.curate_job import main

    for argv in (
        ["--input", "x", "--output", "y", "--run-id", "r", "--dsir-n", "5"],
        ["--input", "x", "--output", "y", "--run-id", "r", "--bpe-merges", "5"],
        ["--input", "x", "--output", "y", "--run-id", "r",
         "--lm-cutoffs", "oops"],
        ["--input", "x", "--output", "y", "--run-id", "r",
         "--lm-cutoffs", "1,2", "--lm-keep", "bogus"],
        ["--input", "x", "--output", "y", "--run-id", "r",
         "--gopher", "--gopher-set", "min_words"],
    ):
        with pytest.raises(SystemExit):
            main(argv)


def test_dsir_stage_selects_subset(spark, tmp_path):
    from ocr_project_spark.curate_job import main

    out = str(tmp_path / "o")
    rc = main(
        [
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", out,
            "--run-id", "t2",
            "--dsir-target", "/root/testdata/sf0.001/documents.parquet",
            "--dsir-n", "50",
        ]
    )
    assert rc == 0
    df = spark.read.parquet(os.path.join(out, "t2", "corpus.parquet"))
    assert df.count() == 50


def test_cap_per_source_stage(tmp_path):
    """--cap-per-source N caps every source to N docs (sf0.001: 20
    sources x 25 docs -> exactly 20*N survive) and records its funnel
    stage first, before any text-shaping stage."""
    from ocr_project_spark.curate_job import main

    out = str(tmp_path / "cap_out")
    rc = main(
        [
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", out,
            "--run-id", "tc",
            "--cap-per-source", "2",
        ]
    )
    assert rc == 0
    funnel = json.load(open(os.path.join(out, "tc", "funnel.json")))["funnel"]
    assert [f["stage"] for f in funnel] == [
        "00_input", "05_source_cap", "90_written",
    ]
    docs = [f["n_docs"] for f in funnel]
    assert docs == [500, 40, 40]


def test_observe_funnel_matches_persist(spark, tmp_path):
    """--funnel observe (single fused write action, counts via
    df.observe) must produce byte-identical funnel.json numbers and
    the same corpus row set as the default per-stage persist ladder —
    including through every stage kind: cap and gopher (row filters),
    scrub-passages (dual-scan cache), exact-dedup (window), lm filter
    and dsir (corpus-model joins), shards (window over the rows)."""
    from ocr_project_spark.curate_job import main

    argv_common = [
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--run-id", "p",
        "--cap-per-source", "20",
        "--gopher", "--gopher-set", "min_stopwords=1",
        "--gopher-set", "min_words=25",
        "--scrub-passages", "5",
        "--exact-dedup",
        "--lm-cutoffs", "3.0,3.6", "--lm-keep", "head,middle",
        "--dsir-target", "/root/testdata/sf0.001/documents.parquet",
        "--dsir-n", "100",
        "--shards", "4",
    ]
    funnels, frames = {}, {}
    for mode in ("persist", "observe"):
        out = str(tmp_path / mode)
        rc = main(argv_common + ["--output", out, "--funnel", mode])
        assert rc == 0
        funnels[mode] = json.load(
            open(os.path.join(out, "p", "funnel.json"))
        )["funnel"]
        frames[mode] = spark.read.parquet(
            os.path.join(out, "p", "corpus.parquet")
        )
    assert funnels["observe"] == funnels["persist"]
    a, b = frames["persist"], frames["observe"]
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_funnel_report_metrics(tmp_path):
    """funnel.json carries throughput lineage: total wall + docs/sec
    in both modes, per-stage action walls only in persist mode (observe
    fuses all stages into the single write action by design)."""
    from ocr_project_spark.curate_job import main

    reports = {}
    for mode in ("persist", "observe"):
        out = str(tmp_path / mode)
        rc = main(
            [
                "--input", "/root/testdata/sf0.001/documents.parquet",
                "--output", out, "--run-id", "m", "--funnel", mode,
                "--scrub-pii", "--exact-dedup",
            ]
        )
        assert rc == 0
        reports[mode] = json.load(open(os.path.join(out, "m", "funnel.json")))
    for mode, r in reports.items():
        assert r["wall_s"] > 0 and r["docs_per_sec"] > 0
        assert r["funnel_mode"] == mode
    assert set(reports["persist"]["stage_wall_s"]) == {
        "00_input", "30_scrub_pii", "50_exact_dedup",
    }
    assert "stage_wall_s" not in reports["observe"]


def test_repartition_input_repairs_low_parallelism(spark, tmp_path):
    """--repartition-input N must (a) actually widen the partitioning
    the ladder's first lineage cut freezes — the single-file sf0.001
    fixture scans as 1 task without it — and (b) leave the output row
    set identical to the unrepartitioned run (repartition is a
    row-preserving shuffle)."""
    from ocr_project_spark.curate_job import main

    outs = {}
    for tag, extra in [("plain", []), ("rep", ["--repartition-input", "6"])]:
        out = str(tmp_path / tag)
        rc = main(
            [
                "--input", "/root/testdata/sf0.001/documents.parquet",
                "--output", out,
                "--run-id", "r",
                "--scrub-pii", "--exact-dedup",
            ]
            + extra
        )
        assert rc == 0
        outs[tag] = os.path.join(out, "r", "corpus.parquet")
    plain = spark.read.parquet(outs["plain"])
    rep = spark.read.parquet(outs["rep"])
    # (a) the write inherits the repaired partitioning (dedup's
    # aggregate re-shuffles, so compare the parallel file counts of
    # a projection-only run instead: scrub-pii alone)
    # (b) row-set equality through the full pii+dedup ladder
    assert plain.count() == rep.count()
    assert (
        plain.exceptAll(rep).count() == 0 and rep.exceptAll(plain).count() == 0
    )
    # projection-only run: partition repair must survive to the writer
    for tag, extra, want in [
        ("p1", [], 1),
        ("p6", ["--repartition-input", "6"], 6),
    ]:
        out = str(tmp_path / ("pii_" + tag))
        rc = main(
            [
                "--input", "/root/testdata/sf0.001/documents.parquet",
                "--output", out,
                "--run-id", "r",
                "--scrub-pii",
            ]
            + extra
        )
        assert rc == 0
        n_files = len(
            [
                f
                for f in os.listdir(os.path.join(out, "r", "corpus.parquet"))
                if f.startswith("part-")
            ]
        )
        assert n_files == want, (tag, n_files)


# the fan-out ladder of test_observe_funnel_matches_persist: every
# stage kind, DSIR included -- the deepest plan the ladder can build
FANOUT_ARGV = [
    "--input", "/root/testdata/sf0.001/documents.parquet",
    "--cap-per-source", "20",
    "--gopher", "--gopher-set", "min_stopwords=1",
    "--gopher-set", "min_words=25",
    "--scrub-passages", "5",
    "--exact-dedup",
    "--lm-cutoffs", "3.0,3.6", "--lm-keep", "head,middle",
    "--dsir-target", "/root/testdata/sf0.001/documents.parquet",
    "--dsir-n", "100",
    "--shards", "4",
]
# a cheaper persist-mode ladder: four cuts (00/20/30/50) and the shard stage
SHORT_ARGV = [
    "--input", "/root/testdata/sf0.001/documents.parquet",
    "--gopher", "--gopher-set", "min_stopwords=1",
    "--gopher-set", "min_words=25",
    "--scrub-pii", "--exact-dedup", "--shards", "4",
]


def _sql_executions_since(spark, mark: int) -> list:
    """SQL executions with an id above ``mark``, from the in-process
    status store.  Ids, not store offsets: the store evicts its oldest
    executions past spark.sql.ui.retainedExecutions, which a long test
    session reaches."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = int(store.executionsCount())
    k = min(n, 200)
    if k == 0:
        return []
    tail = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        store.executionsList(n - k, k)
    )
    return [
        e for e in (tail.get(i) for i in range(tail.size()))
        if e.executionId() > mark
    ]


def _last_job_id(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(), default=-1)


def _cached_rdd_ids(spark) -> set:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_ladder_plans_stay_bounded(spark, tmp_path):
    """Every stage plans from a lineage cut, not from the whole ladder:
    no SQL execution of the fan-out ladder carries a physical plan over
    100k characters (the uncut ladder's final write reached 93.5M in
    observe mode and 177M in persist mode), and the cuts add no Spark
    job over the uncut ladder (59 observe, 65 persist)."""
    from ocr_project_spark.curate_job import main

    max_jobs = {"persist": 65, "observe": 59}
    for mode in ("persist", "observe"):
        execs = _sql_executions_since(spark, -1)
        mark = execs[-1].executionId() if execs else -1
        job_mark = _last_job_id(spark)
        rc = main(
            FANOUT_ARGV
            + ["--run-id", "b", "--output", str(tmp_path / mode), "--funnel", mode]
        )
        assert rc == 0
        execs = _sql_executions_since(spark, mark)
        assert execs, mode
        plan_chars = max(len(e.physicalPlanDescription()) for e in execs)
        assert plan_chars < 100_000, (mode, plan_chars)
        n_jobs = _last_job_id(spark) - job_mark
        assert 0 < n_jobs <= max_jobs[mode], (mode, n_jobs)


def test_repeated_ladder_reuses_generated_classes(spark, tmp_path):
    """The session's codegen cache holds the deepest ladder: at Spark's
    default of 100 entries the fan-out ladder's ~157 classes evict each
    other, and an identical second pass in the same driver recompiled
    ~147 of them.  A second pass may still compile a few: AQE numbers
    the codegen stages of concurrently materialized query stages in
    either order, and the stage id is part of the class body (4-5
    classes in 2 of 6 passes measured)."""
    from ocr_project_spark.curate_job import main

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    added = []
    for rep in range(2):
        before = compiles.METRIC_COMPILATION_TIME().getCount()
        rc = main(
            FANOUT_ARGV
            + ["--run-id", "g", "--output", str(tmp_path / str(rep)),
               "--funnel", "observe"]
        )
        assert rc == 0
        added.append(compiles.METRIC_COMPILATION_TIME().getCount() - before)
    assert added[1] <= 8, added


def test_cuts_released_at_most_two_resident(spark, tmp_path, monkeypatch):
    """DataFrame.unpersist() is a no-op on a checkpointed frame, so the
    ladder releases each cut through its RDD: at most two cuts are ever
    resident, and after main() returns no block of the run is left."""
    from ocr_project_spark import curate_job

    real_cut = curate_job.cut_lineage
    cut_ids: list[int] = []
    resident_before: list[int] = []

    def spy(df, resident):
        # the new cut is filled before earlier ones are released, so
        # the peak is whatever was resident before the call plus one
        resident_before.append(len(_cached_rdd_ids(spark) & set(cut_ids)))
        out = real_cut(df, resident)
        cut_ids.append(out._jdf.queryExecution().analyzed().rdd().id())
        return out

    monkeypatch.setattr(curate_job, "cut_lineage", spy)
    before = _cached_rdd_ids(spark)
    rc = curate_job.main(SHORT_ARGV + ["--run-id", "k", "--output", str(tmp_path)])
    assert rc == 0
    assert len(cut_ids) == 4
    assert max(resident_before) <= 1, resident_before
    assert _cached_rdd_ids(spark) <= before


def test_lost_cut_fails_loudly_and_rerun_converges(spark, tmp_path, monkeypatch):
    """A cut's blocks cannot be recomputed: a run that loses one
    mid-ladder (blocks dropped, as when the executor holding them dies)
    raises instead of silently re-running or short-counting the
    lineage, writes no funnel and leaves no block behind; a rerun with
    the same --run-id and --output converges to the clean run's funnel,
    byte for byte, and the same corpus rows."""
    from ocr_project_spark import curate_job

    argv = SHORT_ARGV + ["--run-id", "rr", "--output", str(tmp_path)]
    funnel_path = os.path.join(str(tmp_path), "rr", "funnel.json")
    corpus_path = os.path.join(str(tmp_path), "rr", "corpus.parquet")

    def run() -> tuple[str, list]:
        assert curate_job.main(argv) == 0
        funnel = json.load(open(funnel_path))["funnel"]
        return json.dumps(funnel), sorted(spark.read.parquet(corpus_path).collect())

    clean = run()
    os.remove(funnel_path)

    real_cut = curate_job.cut_lineage

    def lose_blocks(df, resident):
        curate_job.release_cuts(resident, blocking=True)
        return real_cut(df, resident)

    monkeypatch.setattr(curate_job, "cut_lineage", lose_blocks)
    before = _cached_rdd_ids(spark)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        curate_job.main(argv)
    assert not os.path.exists(funnel_path)
    assert _cached_rdd_ids(spark) <= before
    monkeypatch.setattr(curate_job, "cut_lineage", real_cut)

    assert run() == clean


def _words(tag: str, n: int = 30) -> str:
    """A text that passes the ladders' gopher thresholds (>= 25 words,
    one stopword), made distinct by ``tag``."""
    vocab = ["the", "river", "carries", "bright", "stones", "toward", "quiet"]
    return " ".join(vocab[i % len(vocab)] for i in range(n)) + f" {tag}"


def _own_bpe_counts(spark, rows, n_merges):
    """{(doc_id, text): n_bpe_tokens} with merges learned from ``rows``
    and each row counted by its own text."""
    from ocr_project_spark.functions.bpe import apply_bpe, learn_bpe

    df = spark.createDataFrame(rows, "doc_id long, text string")
    counted = apply_bpe(df, learn_bpe(df, n_merges=n_merges), carry_cols=("text",))
    return {(r.doc_id, r.text): r.n_bpe_tokens for r in counted.collect()}


def test_duplicate_ids_one_row_per_surviving_row(spark, tmp_path):
    """The per-row stages (cap, gopher, BPE packing, shards) judge each
    row by its own text: rows sharing a doc_id are neither multiplied
    nor kept for a sibling's verdict, each keeps its own BPE count, and
    a null id does not survive the ladder.  Two rows share id 1 and one
    of them is too short for gopher; two rows share id 2 and both pass;
    one row has a null id."""
    from ocr_project_spark.curate_job import main

    short = "the short row"
    rows = [
        (1, _words("alpha"), "s1"),
        (1, short, "s1"),
        (2, _words("beta"), "s2"),
        (2, _words("gamma"), "s2"),
        (None, _words("delta"), "s3"),
        (3, _words("epsilon"), "s4"),
    ]
    inp = str(tmp_path / "dup_ids.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).coalesce(1).write.parquet(inp)
    want = sorted((i, t) for i, t, _ in rows if i is not None and t != short)
    bpe = ["--bpe-merges", "5", "--pack-budget", "1024"]
    gopher_counts = _own_bpe_counts(spark, want, 5)
    argv = [
        "--input", inp, "--run-id", "d",
        "--gopher", "--gopher-set", "min_stopwords=1",
        "--gopher-set", "min_words=25", "--shards", "2",
    ]
    for tag, extra in [
        ("persist", ["--funnel", "persist"]),
        ("observe", ["--funnel", "observe"]),
        ("cap", ["--funnel", "observe", "--cap-per-source", "2"]),
        ("bpe", ["--funnel", "observe", *bpe]),
    ]:
        out = str(tmp_path / tag)
        assert main(argv + extra + ["--output", out]) == 0
        funnel = json.load(open(os.path.join(out, "d", "funnel.json")))["funnel"]
        docs = [f["n_docs"] for f in funnel]
        assert all(a >= b for a, b in zip(docs, docs[1:])), (tag, funnel)
        got = spark.read.parquet(os.path.join(out, "d", "corpus.parquet")).collect()
        assert sorted((r.doc_id, r.text) for r in got) == want, tag
        assert docs[-1] == len(want), (tag, funnel)
        by_shard: dict[int, list[int]] = {}
        for r in got:
            by_shard.setdefault(r.shard, []).append(r.pos)
        for shard, pos in by_shard.items():
            assert sorted(pos) == list(range(len(pos))), (tag, shard, pos)
        if tag == "bpe":
            got_counts = {(r.doc_id, r.text): r.n_bpe_tokens for r in got}
            assert got_counts == gopher_counts

    # BPE packing alone, persist mode: id 1's long and short rows each
    # keep their own count; the null-id row takes a pack slot only
    out = str(tmp_path / "bpe_alone")
    assert main(
        ["--input", inp, "--run-id", "d", "--output", out,
         "--funnel", "persist", *bpe]
    ) == 0
    got = spark.read.parquet(os.path.join(out, "d", "corpus.parquet")).collect()
    with_id = [(i, t) for i, t, _ in rows if i is not None]
    assert sorted((r.doc_id, r.text) for r in got) == sorted(with_id)
    want_counts = _own_bpe_counts(spark, [(i, t) for i, t, _ in rows], 5)
    assert {(r.doc_id, r.text): r.n_bpe_tokens for r in got} == {
        k: v for k, v in want_counts.items() if k[0] is not None
    }
    assert all(r.pack_id for r in got)

    # a cap of one row per source keeps one of id 1's two rows, not both
    out = str(tmp_path / "cap1")
    assert main(
        ["--input", inp, "--run-id", "d", "--output", out, "--cap-per-source", "1"]
    ) == 0
    funnel = json.load(open(os.path.join(out, "d", "funnel.json")))["funnel"]
    assert [(f["stage"], f["n_docs"]) for f in funnel] == [
        ("00_input", 6), ("05_source_cap", 3), ("90_written", 3),
    ]


def test_observe_cuts_only_corpus_model_stages(spark, tmp_path, monkeypatch):
    """Observe mode cuts the lineage only ahead of the stages that build
    a model or key set from their input (scrub-passages, lm, dsir):
    gopher and shards apply to the rows in place and need no cut."""
    from ocr_project_spark import curate_job

    real_cut = curate_job.cut_lineage
    n_cuts = [0]

    def spy(df, resident):
        n_cuts[0] += 1
        return real_cut(df, resident)

    monkeypatch.setattr(curate_job, "cut_lineage", spy)
    bench_argv = [
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--gopher", "--gopher-set", "min_stopwords=1",
        "--gopher-set", "min_words=25",
        "--scrub-pii", "--scrub-passages", "8", "--scrub-broadcast",
        "--exact-dedup", "--lm-cutoffs", "3.0,3.6", "--shards", "8",
    ]
    for tag, argv, want in [("bench", bench_argv, 2), ("fanout", FANOUT_ARGV, 3)]:
        n_cuts[0] = 0
        rc = curate_job.main(
            argv + ["--run-id", "c", "--output", str(tmp_path / tag),
                    "--funnel", "observe"]
        )
        assert rc == 0
        assert n_cuts[0] == want, (tag, n_cuts[0])


def test_lm_filter_on_emptied_corpus_writes_empty_corpus(spark, tmp_path):
    """--lm-cutoffs self-scores the corpus that reaches it; when an
    earlier stage emptied it there is nothing to score and the ladder
    writes an empty corpus instead of failing to fit the LM."""
    from ocr_project_spark.curate_job import main

    inp = str(tmp_path / "no_terminal.parquet")
    spark.createDataFrame(
        [(i, f"a line without terminal punctuation {i}") for i in range(3)],
        "doc_id long, text string",
    ).write.parquet(inp)
    out = str(tmp_path / "o")
    rc = main(
        ["--input", inp, "--output", out, "--run-id", "e",
         "--clean-lines", "--lm-cutoffs", "3.0,3.6"]
    )
    assert rc == 0
    funnel = json.load(open(os.path.join(out, "e", "funnel.json")))["funnel"]
    assert [(f["stage"], f["n_docs"]) for f in funnel] == [
        ("00_input", 3), ("10_clean_lines", 0),
        ("60_lm_filter", 0), ("90_written", 0),
    ]
