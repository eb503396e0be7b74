"""spark-submit entrypoint for the extraction pipeline.

North_rule clause: "run via spark-submit --py-files on a multi-executor
cluster".  Packaging:

    python tools/make_pyfiles.py                  # -> dist/ocr_project_spark.zip
    spark-submit --py-files dist/ocr_project_spark.zip \
        --conf spark.driver.defaultJavaOptions=-XX:+UseParallelGC \
        ocr_project_spark/job.py \
        --input  /data/documents_spans \
        --candidates /data/media_candidates \
        --output /data/out --run-id run1 \
        --buckets 256 --parallelism 512

The driver JVM of a spark-submit is running before ``get_spark`` is
called, so the engine's collector (session.py) reaches it only through
the ``--conf`` above; that is the JVM that runs the tasks of a
``local[N]`` submit.  Executors of a cluster get it from ``get_spark``.

The module is import-safe (no side effects); ``main`` builds the
session, runs the checkpointed extraction, prints a one-line JSON
summary.  Re-invoking with the same --output/--run-id resumes from the
committed watermarks.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_parser(cfg=None) -> argparse.ArgumentParser:
    """CLI parser; when a layered Config (ocr_project_spark/config.py)
    is given, its values become the flag DEFAULTS — so precedence is
    engine defaults < default.yaml < engines.yaml < --config file <
    --set overrides < explicit CLI flags, mirroring the reference's
    config fallback chain (utils/config.py:63-185)."""

    def c(dotted, fallback):
        return cfg.get(dotted, fallback) if cfg is not None else fallback

    p = argparse.ArgumentParser(description="ocr_project_spark extraction job")
    p.add_argument("--config-dir", default=None,
                   help="directory holding default.yaml / engines.yaml layers")
    p.add_argument("--config", default=None,
                   help="explicit yaml/json config file (layered above --config-dir)")
    p.add_argument("--set", action="append", dest="overrides", default=None,
                   metavar="KEY.PATH=VALUE",
                   help="dotted config override (highest config layer)")
    p.add_argument("--input", default=None,
                   help="documents_spans path (or use --bucketed-location)")
    p.add_argument("--input-format", default="parquet",
                   choices=["parquet", "jsonl", "orc"],
                   help="--input encoding; jsonl/orc read the pinned "
                        "DOCUMENTS_SPANS schema via sources/formats.py "
                        "(jsonl is DROPMALFORMED: broken lines are skipped)")
    p.add_argument("--candidates", default=None, help="media_candidates parquet path")
    p.add_argument("--output", required=True, help="output root (tables written under it)")
    p.add_argument("--run-id", required=True)
    p.add_argument("--buckets", type=int, default=c("partitioning.n_buckets", 64))
    p.add_argument("--bucket-batch-size", type=int,
                   default=c("partitioning.bucket_batch_size", 8))
    p.add_argument("--parallelism", type=int, default=None,
                   help="explicit repartition width; default 2x default parallelism")
    p.add_argument("--chunk-mega-docs", action="store_true",
                   default=bool(c("extract.chunk_mega_docs", False)),
                   help="split span arrays > threshold into chunks (intra-doc parallelism)")
    p.add_argument("--mega-span-threshold", type=int,
                   default=c("extract.mega_span_threshold", 256),
                   help="span count above which a doc is salted across "
                        "partitions (task-balance lever)")
    p.add_argument("--chunk-width", type=int,
                   default=c("extract.chunk_width", 65536),
                   help="max spans per chunk for --chunk-mega-docs; "
                        "default 65536 sits just under the measured "
                        "~1e5 spans/doc crossover (PLANS.md)")
    p.add_argument("--master", default=None, help="override master (tests)")
    p.add_argument("--no-checkpoint", action="store_true",
                   help="single-pass run without watermark commits (benchmarking)")
    p.add_argument("--bucketed-location", default=None,
                   help="read input from bucketed tables at this root "
                        "(sources/bucketed.py; zero-Exchange plan) instead of "
                        "--input/--candidates parquet paths")
    p.add_argument("--bucketed-n", type=int, default=64,
                   help="bucket count of the bucketed tables")
    p.add_argument("--no-candidates", action="store_true",
                   help="run fusion-less extraction (ignore the bucketed "
                        "candidates table / omit --candidates)")
    p.add_argument("--normalize", default=c("extract.normalize", None),
                   choices=["minimal", "balanced", "enhanced", "auto"],
                   help="K4-K6 output-cleanup tier; 'auto' routes per-doc "
                        "by the K1-K3 quality strategy")
    p.add_argument("--scrub-pii", action="store_true",
                   default=bool(c("extract.scrub_pii", False)),
                   help="redact emails/IPv4s/phone numbers in every "
                        "output span's text (cleanup.PII_PATTERNS); "
                        "composes with every mode and is pinned in the "
                        "checkpoint manifest")
    p.add_argument("--retry-candidates", default=None,
                   help="parquet path of an alternative-configuration "
                        "recognition pass: media fusion runs the two-pass "
                        "PSM-retry analog (functions/fuse.fuse_with_retry) — "
                        "spans fused below --retry-threshold are re-fused "
                        "over these candidates and the better result wins")
    p.add_argument("--retry-threshold", type=float,
                   default=c("extract.retry_threshold", 0.3))
    p.add_argument("--lang-filter", action="store_true",
                   default=bool(c("extract.lang_filter", False)),
                   help="drop candidates whose engine does not list the "
                        "document's detected language (per-engine "
                        "`languages` lists in the engines config; "
                        "conservative — unknown languages and "
                        "unconstrained engines pass through)")
    p.add_argument("--sample-rate", type=float,
                   default=c("extract.sample_rate", None),
                   help="deterministic doc_id hash sample of the corpus "
                        "before extraction (operators/curate.hash_sample: "
                        "reproducible across runs/cluster sizes, a narrow "
                        "scan filter)")
    p.add_argument("--sample-salt", default=c("extract.sample_salt", ""),
                   help="salt for --sample-rate; different salts draw "
                        "independent samples")
    return p


def main(argv: list[str] | None = None) -> int:
    from ocr_project_spark.config import load_config

    pre = argparse.ArgumentParser(add_help=False)
    pre.add_argument("--config-dir", default=None)
    pre.add_argument("--config", default=None)
    pre.add_argument("--set", action="append", dest="overrides", default=None)
    pre_args, _ = pre.parse_known_args(argv)
    cfg = load_config(pre_args.config_dir, pre_args.config, pre_args.overrides)

    args = build_parser(cfg).parse_args(argv)
    if not args.input and not args.bucketed_location:
        build_parser().error("one of --input / --bucketed-location is required")
    if args.bucketed_location and args.candidates:
        # --candidates is a parquet path for the non-bucketed mode; in
        # bucketed mode candidates come from the bucketed tables, so a
        # path here would be silently ignored — refuse instead.
        build_parser().error(
            "--candidates is for --input mode; in --bucketed-location mode "
            "candidates come from the bucketed tables (use --no-candidates "
            "to skip fusion)"
        )
    # flag-combination checks BEFORE the session spins up: a bad
    # combination should fail in milliseconds, not after a JVM start
    has_cands = not args.no_candidates and bool(
        args.candidates or args.bucketed_location
    )
    if args.retry_candidates and not has_cands:
        build_parser().error("--retry-candidates requires a candidates input")
    if args.retry_candidates and args.chunk_mega_docs:
        build_parser().error(
            "--retry-candidates and --chunk-mega-docs are not combinable yet"
        )
    if args.retry_candidates and args.normalize:
        build_parser().error(
            "--retry-candidates and --normalize are not combinable yet"
        )
    if args.normalize and args.chunk_mega_docs:
        build_parser().error(
            "--normalize and --chunk-mega-docs are not combinable yet"
        )
    if args.lang_filter and not has_cands:
        build_parser().error(
            "--lang-filter requires a candidates input (it gates which "
            "engine candidates reach fusion)"
        )
    if args.sample_rate is not None and not (0.0 < args.sample_rate <= 1.0):
        build_parser().error(
            f"--sample-rate must be in (0, 1], got {args.sample_rate}"
        )

    from pyspark.sql import functions as F

    from ocr_project_spark.operators.extract import extract, extract_chunked
    from ocr_project_spark.plans import checkpoint, metrics, partitioning
    from ocr_project_spark.session import get_spark

    spark = get_spark(
        app_name=f"ocr-extract-{args.run_id}",
        master=args.master,
        extra_conf=cfg.spark_conf(),
    )
    t0 = time.monotonic()
    if args.bucketed_location:
        # Bucketed storage IS the partitioning (hash(doc_id) at write
        # time): no runtime repartition, no exchanges anywhere.
        from ocr_project_spark.sources.bucketed import read_bucketed

        docs, cands = read_bucketed(
            spark, args.bucketed_location, n_buckets=args.bucketed_n
        )
        if args.no_candidates:
            cands = None
    else:
        if args.input_format == "jsonl":
            from ocr_project_spark.sources.formats import read_documents_jsonl

            docs = read_documents_jsonl(spark, args.input)
        elif args.input_format == "orc":
            from ocr_project_spark.sources.formats import read_documents_orc

            docs = read_documents_orc(spark, args.input)
        else:
            docs = spark.read.parquet(args.input)
        cands = (
            spark.read.parquet(args.candidates)
            if args.candidates and not args.no_candidates
            else None
        )
        par = args.parallelism or 2 * spark.sparkContext.defaultParallelism
        docs = partitioning.repartition_for_extract(
            docs, par, threshold=args.mega_span_threshold
        )

    if args.sample_rate is not None:
        # deterministic corpus sample BEFORE any expensive stage: a
        # pure per-row hash filter (batch-invariant, so it composes
        # with checkpointed mode), pushed to the document scan;
        # candidates of dropped docs never match the fusion join
        from ocr_project_spark.operators.curate import hash_sample

        docs = hash_sample(
            docs, rate=args.sample_rate, key_col="doc_id",
            salt=args.sample_salt,
        )

    from ocr_project_spark.functions.fuse import disabled_engines

    _disabled = disabled_engines(cfg)
    if cands is not None:
        # F6/F7 availability filter: candidates from config-disabled
        # engines never reach fusion (pushes to the candidate scan)
        from ocr_project_spark.functions.fuse import filter_enabled_candidates

        cands = filter_enabled_candidates(cands, cfg)

    doc_langs = None
    if args.lang_filter and cands is not None and args.no_checkpoint:
        # per-engine language support (reference base_engine.py:43-82):
        # candidates whose engine does not list the doc's detected
        # language never reach fusion.  Single-pass mode filters here;
        # checkpointed mode passes the config through so the filter
        # runs PER BUCKET BATCH (an upstream corpus-wide doc_langs
        # would be rescanned once per batch).
        from ocr_project_spark.functions.fuse import (
            doc_langs_from_spans,
            filter_candidates_by_language,
        )

        doc_langs = doc_langs_from_spans(docs)
        cands = filter_candidates_by_language(cands, doc_langs, cfg)

    retry_cands = (
        spark.read.parquet(args.retry_candidates)
        if args.retry_candidates
        else None
    )
    if retry_cands is not None:
        # same F6/F7 availability + language filters as the primary
        # candidates: a config-disabled or language-unsupported engine
        # must not re-enter through the retry pass
        from ocr_project_spark.functions.fuse import (
            filter_candidates_by_language,
            filter_enabled_candidates,
        )

        retry_cands = filter_enabled_candidates(retry_cands, cfg)
        if doc_langs is not None:
            retry_cands = filter_candidates_by_language(
                retry_cands, doc_langs, cfg
            )

    if args.no_checkpoint:
        if args.normalize:
            from ocr_project_spark.pipeline import run_pipeline

            out = run_pipeline(docs, cands, normalize=args.normalize)
        elif retry_cands is not None:
            out = extract(
                docs,
                cands,
                retry_candidates=retry_cands,
                retry_threshold=args.retry_threshold,
            )
        else:
            out = (
                extract_chunked(docs, cands, args.chunk_width)
                if args.chunk_mega_docs
                else extract(docs, cands)
            )
        if args.scrub_pii:
            from ocr_project_spark.pipeline import scrub_spans

            out = out.withColumn("spans", scrub_spans(F.col("spans")))
        observed_out, obs = metrics.observed(out)
        observed_out.write.mode("overwrite").parquet(
            f"{args.output}/{checkpoint.OUTPUT_TABLE}"
        )
        stats = dict(obs.get)
    else:
        out = checkpoint.run(
            spark,
            docs,
            args.output,
            args.run_id,
            candidates=cands,
            n_buckets=args.buckets,
            bucket_batch_size=args.bucket_batch_size,
            chunk_mega_docs=(
                args.chunk_width if args.chunk_mega_docs else None
            ),
            retry_candidates=retry_cands,
            retry_threshold=args.retry_threshold,
            normalize=args.normalize,
            scrub_pii=args.scrub_pii,
            lang_filter_cfg=(
                cfg if (args.lang_filter and cands is not None) else None
            ),
            extra_pins={
                "disabled_engines": sorted(_disabled),
                # a resumed run with a different sample would silently
                # mix corpora across buckets — pin it like normalize;
                # the salt only matters while sampling is on (same
                # normalization as retry_threshold vs has_retry)
                "sample_rate": args.sample_rate,
                "sample_salt": (
                    args.sample_salt if args.sample_rate is not None else None
                ),
            },
        )
        row = out.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.size(F.coalesce(F.col("spans"), F.array()))).alias("spans"),
        ).collect()[0]
        stats = {"docs": row["docs"], "spans": row["spans"]}

    elapsed = time.monotonic() - t0
    docs_n = int(stats.get("docs") or 0)
    print(
        json.dumps(
            {
                "run_id": args.run_id,
                "docs": docs_n,
                "spans": int(stats.get("spans") or 0),
                "elapsed_sec": round(elapsed, 3),
                "docs_per_sec": round(docs_n / elapsed, 2) if elapsed > 0 else None,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
