"""spark-submit entry point for the corpus-curation ladder — the
training-data companion to job.py's extraction job.

Runs a fixed-order, flag-selected pipeline over a (doc_id, text)
parquet table and writes the surviving corpus plus a per-stage funnel
report (docs and whitespace tokens remaining after each stage):

    cap_per_source -> clean_lines -> gopher_rules -> scrub_pii
    -> scrub_passages -> exact_dedup -> lm_score band filter
    -> DSIR selection -> BPE token counts + pack_sequences
    -> shuffle_shards

Stage order is scale-driven, same reasoning as operators/curate.py:
projection-only filters first (they shrink every later shuffle),
passage/exact dedup next, corpus-model stages (LM, DSIR) after the
corpus is clean, and packing/sharding last because they must see the
final survivor set.

The per-row stages (cap, clean-lines, gopher, PII scrub, exact dedup,
shards) apply to the rows in place: one input row, at most one output
row.  Only scrub-passages, LM, DSIR and BPE build a model or key set
from the rows and join it back.

Packaged like job.py for `spark-submit --py-files` (tools/
make_pyfiles.py); every stage is also reachable as a library call —
this CLI only composes public operators.

Usage (all stages optional; omitted stages pass through):

    spark-submit --py-files dist/pkg.zip \
        --conf spark.driver.defaultJavaOptions=-XX:+UseParallelGC \
        ocr_project_spark/curate_job.py \
        --input docs.parquet --output /out --run-id r1 \
        --funnel observe --scrub-broadcast \
        --clean-lines --gopher --gopher-set min_stopwords=1 \
        --scrub-pii --scrub-passages 5 --exact-dedup \
        --lm-cutoffs 3.4,3.5 --lm-keep head,middle \
        --dsir-target seed.parquet --dsir-n 100000 \
        --bpe-merges 200 --pack-budget 2048 --shards 64

The ``--conf`` puts the driver JVM, which runs the tasks of a
``local[N]`` submit, on the engine's collector: it starts before
``get_spark`` (session.py) can choose one.

Outputs: <output>/<run_id>/corpus.parquet, <output>/<run_id>/funnel.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _write_text_file(spark, path: str, content: str) -> None:
    """Write a small text file through the Hadoop FileSystem API, so
    --output may be any Hadoop-supported URI (hdfs://, s3a://,
    file:...) — a driver-local ``open()`` would crash on a remote
    scheme (or silently write the funnel to the driver's disk while
    the corpus lands remotely)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def cut_lineage(df, resident: list):
    """Materialize ``df`` once and return a frame whose plan starts at
    the materialized rows: an eager local checkpoint, filled by ONE
    action, so every observe() node upstream fires exactly once and
    every later stage plans from a small leaf instead of re-analyzing
    the whole ladder (the plan text otherwise grows to 10^8 characters
    on a ten-stage ladder).  The cuts in ``resident`` are released once
    this one is filled -- the new cut is the only way later stages reach
    them -- so at most two are ever resident; ``df`` is appended.

    The trade against a cache: checkpoint blocks cannot be recomputed.
    Losing an executor that holds them fails the job loudly (a rerun
    with the same --run-id converges) where a cache would recompute.
    The leaf also reports the source plan's *estimated* size, not the
    materialized one, so small joins downstream of a cut are broadcast
    only at runtime by AQE, not at planning time.
    MEMORY_AND_DISK: a stage bigger than storage memory spills."""
    from pyspark import StorageLevel

    df = df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    release_cuts(resident)
    resident.append(df)
    return df


def release_cuts(resident: list, blocking: bool = False) -> None:
    """Drop the blocks of every cut in ``resident`` (emptied).
    ``DataFrame.unpersist()`` is a no-op on a checkpointed frame: the
    blocks belong to the RDD under its LogicalRDD leaf."""
    while resident:
        resident.pop()._jdf.queryExecution().analyzed().rdd().unpersist(blocking)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="(doc_id, text) parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument(
        "--repartition-input", type=int, default=None, metavar="N",
        help="repartition the input to N partitions before stage 0. "
        "Use when the input parquet carries fewer row groups than the "
        "cluster has cores: row groups are the atomic scan-split unit, "
        "so a low-row-group file caps scan parallelism no matter what "
        "maxPartitionBytes says, and the ladder's per-stage lineage "
        "cuts freeze that cap into EVERY stage (measured: a 5-row-group "
        "500k-doc input ran the whole ladder ~serial on a 32-core "
        "cluster — BASELINE.md, curation-ladder scaling). Costs one "
        "up-front shuffle of the raw corpus; prefer fixing the "
        "ingest writer's rows-per-file when you own it.",
    )
    p.add_argument("--master", default=None, help="override master (tests)")
    p.add_argument("--parallelism", type=int, default=None)
    p.add_argument(
        "--funnel", choices=("persist", "observe"), default="persist",
        help="funnel accounting mode. Both modes count each stage's "
        "(docs, tokens) with df.observe() metrics and materialize with "
        "eager local checkpoints (lineage cuts, at most two resident), "
        "so no stage re-plans the ladder above it. 'persist' (default) "
        "cuts after EVERY stage: each stage's cost is attributable in "
        "isolation (stage_wall_s), but the whole corpus is materialized "
        "once PER stage. 'observe' fuses the ladder into one write "
        "action and cuts only the input of stages whose construction "
        "fans out over it (scrub-passages/lm/dsir/bpe build a model "
        "or key set from the same rows they then filter) "
        "-- the corpus streams ONCE.  At 10^12-doc scale 'observe' is "
        "the production mode: per-stage materialization multiplies "
        "corpus I/O by the ladder depth, which a memory-bandwidth-bound "
        "host cannot hide (BASELINE.md, curation-ladder scaling); "
        "funnel.json is identical either way.  A cut is not a cache: "
        "its blocks cannot be recomputed, so losing an executor that "
        "holds one fails the run (rerun with the same --run-id; on "
        "dynamic allocation, spark.dynamicAllocation."
        "cachedExecutorIdleTimeout keeps such executors alive).",
    )
    p.add_argument(
        "--cap-per-source", type=int, default=None, metavar="N",
        help="keep at most N docs per source column value "
        "(deterministic salted-hash lottery; input must carry 'source')",
    )
    p.add_argument("--clean-lines", action="store_true")
    p.add_argument("--gopher", action="store_true")
    p.add_argument(
        "--gopher-set", action="append", default=[],
        help="gopher threshold override k=v (repeatable)",
    )
    p.add_argument("--scrub-pii", action="store_true")
    p.add_argument(
        "--scrub-passages", type=int, default=None, metavar="N",
        help="remove cross-document duplicated word N-grams (witness kept)",
    )
    p.add_argument(
        "--scrub-broadcast", action="store_true",
        help="broadcast the scrub stage's duplicate-side artifacts "
        "(flagged vocabulary + blocked-starts) instead of shuffle-"
        "joining them: removes both corpus-scale exchanges (the window "
        "stream and the token arrays stop shuffling; only the global "
        "flag aggregate remains).  Use when duplication is sparse "
        "(flagged set a few %% of the corpus); the default shuffle "
        "path degrades gracefully when it is not.",
    )
    p.add_argument(
        "--exact-dedup", action="store_true",
        help="drop exact duplicates by normalized text, keeping the "
        "smallest non-null doc_id's row.  Where rows share a doc_id it "
        "keeps one row per distinct normalized text, whereas "
        "operators.dedup.exact_dedup() keeps every row carrying the "
        "keeper id",
    )
    p.add_argument(
        "--lm-cutoffs", default=None, metavar="T1,T2",
        help="bigram-LM avg_nll band cutoffs (corpus self-trained)",
    )
    p.add_argument(
        "--lm-keep", default="head,middle",
        help="bands kept when --lm-cutoffs is set",
    )
    p.add_argument("--dsir-target", default=None, help="target-corpus parquet")
    p.add_argument("--dsir-n", type=int, default=None)
    p.add_argument("--bpe-merges", type=int, default=None)
    p.add_argument("--pack-budget", type=int, default=None)
    p.add_argument("--shards", type=int, default=None)
    p.add_argument("--shard-salt", default="")
    return p


def _num(v: str):
    try:
        return int(v)
    except ValueError:
        return float(v)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if (args.dsir_target is None) != (args.dsir_n is None):
        build_parser().error("--dsir-target and --dsir-n go together")
    if (args.bpe_merges is None) != (args.pack_budget is None):
        build_parser().error("--bpe-merges and --pack-budget go together")
    if args.lm_cutoffs is not None:
        try:
            t1, t2 = (float(x) for x in args.lm_cutoffs.split(","))
        except ValueError:
            build_parser().error("--lm-cutoffs must be T1,T2 floats")
        keep_bands = [b.strip() for b in args.lm_keep.split(",") if b.strip()]
        bad = set(keep_bands) - {"head", "middle", "tail"}
        if bad or not keep_bands:
            build_parser().error(f"--lm-keep invalid bands: {sorted(bad)}")
    gk = {}
    for kv in args.gopher_set:
        if "=" not in kv:
            build_parser().error(f"--gopher-set expects k=v, got {kv!r}")
        k, v = kv.split("=", 1)
        gk[k] = _num(v)

    from pyspark.sql import functions as F

    from ocr_project_spark.session import get_spark

    spark = get_spark(
        app_name=f"curate-{args.run_id}",
        master=args.master,
        shuffle_partitions=args.parallelism,
    )

    def ntok(c):
        return F.size(F.array_remove(F.split(F.coalesce(c, F.lit("")), r"\s+"), ""))

    import time as _time

    funnel: list[dict] = []
    _cuts: list = []  # resident lineage cuts (at most two)
    _observed: list = []  # (stage, Observation) in ladder order
    _stage_wall: dict[str, float] = {}  # persist mode: per-stage action wall
    _t_start = _time.monotonic()

    # the funnel's two aggregates, built once: every record() and the
    # read-back reuse them (each Column build is Py4J round trips)
    funnel_aggs = (
        F.count(F.lit(1)).alias("d"),
        F.coalesce(F.sum(ntok(F.col("text"))), F.lit(0)).alias("t"),
    )

    def record(df, stage):
        # attach a named metrics node: whichever action first streams
        # the rows past it fires it, exactly once.  Counts are read
        # after the write, in ladder order.
        from pyspark.sql import Observation

        obs = Observation(f"funnel_{stage}")
        df = df.observe(obs, *funnel_aggs)
        _observed.append((stage, obs))
        if args.funnel == "observe":
            return df
        # persist mode: cut here, so the stage's one eager action
        # fills the cut and fires the observation, and its wall IS the
        # stage's incremental cost -- a per-stage attribution observe
        # mode cannot give (stages fuse into one action by design)
        t0 = _time.monotonic()
        df = cut_lineage(df, _cuts)
        _stage_wall[stage] = round(_time.monotonic() - t0, 3)
        return df

    def fanout_input(df):
        # observe mode only (persist mode cut at the last record()): a
        # stage that reads its input in two subtrees (model or key-set
        # build + the join back onto the same rows) would run the fused
        # upstream once per subtree, CONCURRENTLY, and every observe()
        # node above double-fires (measured on the standalone cluster:
        # 00_input counted 656k docs of a 500k corpus).  One eager cut
        # fires each upstream observation once; both subtrees read it.
        if args.funnel != "observe":
            return df
        return cut_lineage(df, _cuts)

    from ocr_project_spark import caching

    try:
        # source rides along only for the cap, which drops it again
        extra = ["source"] if args.cap_per_source is not None else []
        cur = spark.read.parquet(args.input).select("doc_id", "text", *extra)
        if args.repartition_input is not None:
            # before record(): a lineage cut freezes partitioning for the
            # whole ladder, so the repair must precede the first cut
            cur = cur.repartition(args.repartition_input)
        cur = record(cur, "00_input")

        if args.cap_per_source is not None:
            from ocr_project_spark.operators.curate import cap_per_source

            # cap first: it shrinks every later stage.  Null-id rows
            # take cap slots but, as at every id-keyed stage, do not survive
            cur = cap_per_source(
                cur, cap=args.cap_per_source, salt=args.run_id
            ).where(F.col("doc_id").isNotNull()).select("doc_id", "text")
            cur = record(cur, "05_source_cap")

        if args.clean_lines:
            from ocr_project_spark.operators.curate import clean_lines

            cur = (
                clean_lines(cur)
                .where("keep")
                .select("doc_id", F.col("clean_text").alias("text"))
            )
            cur = record(cur, "10_clean_lines")

        if args.gopher:
            from ocr_project_spark.operators.curate import gopher_columns

            # each row judged by its own text: a filter, not a key set
            keep = gopher_columns(F.col("text"), **gk)["keep"]
            cur = cur.where(keep & F.col("doc_id").isNotNull())
            cur = record(cur, "20_gopher")

        if args.scrub_pii:
            from ocr_project_spark.operators.curate import scrub_pii

            cur = scrub_pii(cur).select("doc_id", F.col("clean_text").alias("text"))
            cur = record(cur, "30_scrub_pii")

        if args.scrub_passages is not None:
            from ocr_project_spark.operators.dedup import scrub_passages

            # scrub consumes its input twice: the window-hash cache build
            # and the rebuild join both derive from the tokenized input
            cur = fanout_input(cur)
            cur = scrub_passages(
                cur,
                n=args.scrub_passages,
                broadcast_artifacts=args.scrub_broadcast,
            ).select("doc_id", F.col("clean_text").alias("text"))
            cur = record(cur, "40_scrub_passages")

        if args.exact_dedup:
            from pyspark.sql import Window

            from ocr_project_spark.operators.dedup import normalized_text

            # window-rank form of exact_dedup's keeper election: ONE
            # exchange on the text hash and no join back onto the corpus.
            # The min-non-null-id row per normalized text survives and
            # null-id rows never do; where rows share a doc_id it keeps
            # one row per distinct normalized text, whereas the operator
            # exact_dedup() keeps every row carrying the keeper id.
            w = Window.partitionBy("_th").orderBy(F.asc_nulls_last("doc_id"))
            cur = (
                cur.withColumn("_th", F.md5(normalized_text(F.col("text"))))
                .withColumn("_rn", F.row_number().over(w))
                .where((F.col("_rn") == 1) & F.col("doc_id").isNotNull())
                .drop("_rn", "_th")
            )
            cur = record(cur, "50_exact_dedup")

        if args.lm_cutoffs is not None:
            from ocr_project_spark.operators.curate import lm_score

            cur = fanout_input(cur)
            bands = lm_score(cur, cutoffs=(t1, t2)).where(
                F.col("band").isin(keep_bands)
            ).select("doc_id")
            # left_semi keeps <2-token docs OUT (they have no LM row) —
            # deliberate: unscoreable fragments fail a perplexity filter
            cur = cur.join(bands, "doc_id", "left_semi")
            cur = record(cur, "60_lm_filter")

        if args.dsir_target is not None:
            from ocr_project_spark.operators.curate import dsir_sample

            cur = fanout_input(cur)
            target = spark.read.parquet(args.dsir_target).select("doc_id", "text")
            sel = dsir_sample(
                cur, target, args.dsir_n, seed=args.run_id
            ).select("doc_id")
            cur = cur.join(sel, "doc_id", "left_semi")
            cur = record(cur, "70_dsir_select")

        extra_cols = []
        if args.bpe_merges is not None:
            from ocr_project_spark.functions.bpe import apply_bpe, learn_bpe
            from ocr_project_spark.operators.pack import pack_sequences

            # learn_bpe is an action (driver-side merge training): in
            # observe mode it reads the cut, so the fused upstream runs
            # once here and the final write reads the cut too.  The
            # counts and packs join back on a row key taken on the cut
            # (persist mode is cut at its last record()), not on
            # doc_id: rows that share an id each keep their own count.
            # Null-id rows take pack slots but, as at every id-keyed
            # stage, do not survive
            cur = fanout_input(cur).withColumn(
                "_row", F.monotonically_increasing_id()
            )
            merges = learn_bpe(cur, n_merges=args.bpe_merges)
            counts = apply_bpe(cur, merges, carry_cols=("_row",))
            packed = pack_sequences(
                counts,
                budget=args.pack_budget,
                tokens_col="n_bpe_tokens",
                carry_cols=("_row",),
            ).select("_row", F.col("n_tokens").alias("n_bpe_tokens"), "pack_id")
            cur = (
                cur.join(packed, "_row")
                .where(F.col("doc_id").isNotNull())
                .drop("_row")
            )
            extra_cols += ["n_bpe_tokens", "pack_id"]

        if args.shards is not None:
            from ocr_project_spark.operators.curate import shuffle_shards

            # the window deals the full rows in its one exchange on shard
            cur = shuffle_shards(
                cur.where(F.col("doc_id").isNotNull()),
                n_shards=args.shards,
                salt=args.shard_salt,
            )
            extra_cols += ["shard", "pos"]

        # posixpath-style join, not os.path.join: the output root may be a
        # remote URI and these paths are consumed by Spark/Hadoop, which
        # use '/' on every platform
        out_dir = f"{args.output.rstrip('/')}/{args.run_id}"
        corpus_path = f"{out_dir}/corpus.parquet"
        cur.select("doc_id", "text", *extra_cols).write.mode(
            "overwrite"
        ).parquet(corpus_path)
        # every stage has fired by now (at its cut or in the write):
        # harvest the per-stage counts in ladder order
        for stage, obs in _observed:
            m = obs.get
            funnel.append(
                {"stage": stage, "n_docs": int(m["d"]), "n_tokens": int(m["t"])}
            )
        row = spark.read.parquet(corpus_path).agg(*funnel_aggs).collect()[0]
        funnel.append(
            {"stage": "90_written", "n_docs": int(row["d"]), "n_tokens": int(row["t"])}
        )
    finally:
        # the written corpus is the only result: drop the cuts and
        # every tracked operator cache (the stages register theirs
        # with the caching module), also when a stage failed
        release_cuts(_cuts)
        caching.release_all()

    # throughput/lineage metrics alongside the funnel (the `funnel`
    # key stays byte-identical across --funnel modes; timings live in
    # their own keys): total wall + docs/sec always, per-stage action
    # walls in persist mode only (observe fuses stages into one action)
    wall_s = round(_time.monotonic() - _t_start, 3)
    report = {
        "run_id": args.run_id,
        "funnel": funnel,
        "wall_s": wall_s,
        "docs_per_sec": round(funnel[0]["n_docs"] / wall_s, 1) if wall_s else None,
        "funnel_mode": args.funnel,
    }
    if _stage_wall:
        report["stage_wall_s"] = _stage_wall
    _write_text_file(spark, f"{out_dir}/funnel.json", json.dumps(report, indent=1))
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
