"""The benchmark's workloads: one timed pass each, its output check, and
the traced probes that split a pass into the repo's layers.

A workload object is built once per process over its seeded inputs.
``prepare`` (untimed) isolates the next pass, ``run_pass`` is the timed
part, ``check`` (untimed) compares the pass's output with the reference
and returns an error string or None, and ``trace`` returns the per-layer
metrics of the layers this workload runs.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import statistics
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import ledger as L
from ocr_project_spark.plans.writer import TableWriter

CHUNK_WIDTH = 65536
MB = 1024.0 * 1024.0


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest_cols():
    """Order-insensitive digest of an extraction output: row count and
    the sum of a per-row hash (decimal, so the sum cannot wrap)."""
    return (
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64("doc_id", "spans", "status").cast("decimal(38,0)")
        ).alias("h"),
    )


def as_digest(row) -> tuple[int, str]:
    return int(row["n"]), str(row["h"])


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def scan_metrics(spark, led: L.SqlLedger, paths: list[str], meta_tables: list[dict]):
    """sources.*: the input tables read into a noop sink."""
    mark = led.mark()
    t = sum(timed(lambda p=p: noop(spark.read.parquet(p))) for p in paths)
    nodes, stages = led.nodes_since(mark), led.stages_since(mark)
    return {
        "sources.scan_s": t,
        "sources.scan_tasks": sum(
            s.tasks for s in stages if any(x.startswith("Scan") for x in s.scopes)
        ),
        "sources.bytes_read": L.total(nodes, "size of files read", name="Scan"),
        "sources.row_groups": sum(m["row_groups"] for m in meta_tables),
        "sources.input_bytes": sum(m["bytes"] for m in meta_tables),
    }


def fusion_aggregate(nodes: list[L.PlanNode]) -> tuple[L.PlanNode, list[L.PlanNode]]:
    """The document join and the per-document fused-map aggregate it
    builds its hash table from, found by their place in the plan: the
    ShuffledHashJoin nearest the root and the aggregates (final and
    partial) heading its build side."""
    join = L.topmost(nodes, "ShuffledHashJoin")
    aggs = [n for n in L.aggregate_chain(L.join_build_side(join)) if "Aggregate" in n.name]
    if not aggs:
        raise LookupError("no aggregate heads the document join's build side")
    return join, aggs


def extract_action_metrics(nodes: list[L.PlanNode], stages: list[L.StageRun]):
    """extract.*: read from the SQL metrics of one full extract action."""
    join, aggs = fusion_aggregate(nodes)
    agg_stages = {id(s): s for s in (L.stage_running(a, stages) for a in aggs)}
    return {
        "extract.fusion_agg_build_ms": L.total(aggs, "time in aggregation build"),
        "extract.fusion_agg_peak_mem_mb": sum(
            s.peak_exec_mem for s in agg_stages.values()
        ) / MB,
        "extract.join_build_ms": join.metrics.get("time to build hash map", 0.0),
        "extract.exchange_bytes": L.exchange_bytes(nodes),
        "extract.spill_bytes": L.spill_bytes(nodes),
        "extract.codegen_ms": L.codegen_ms(nodes),
    }


def checkpoint_metrics(spark, docs, cands, out_dir: str, expected, n_docs: int):
    """plans.checkpoint / plans.writer: one checkpoint.run (16 buckets,
    batches of 4, as job.py runs it) into a fresh directory through a
    timing writer, then the checks a committed run must pass."""
    from ocr_project_spark.plans import checkpoint
    from ocr_project_spark.plans.writer import ParquetDirWriter

    n_buckets, run_id = 16, "bench"
    shutil.rmtree(out_dir, ignore_errors=True)
    writer = TimingWriter(ParquetDirWriter(out_dir))
    result = checkpoint.run(
        spark, docs, out_dir, run_id, candidates=cands,
        n_buckets=n_buckets, bucket_batch_size=4, writer=writer,
    )
    out = writer.metrics()
    out["writer.files_written"], out["writer.bytes_written"] = _files_under(out_dir)
    got = as_digest(result.agg(*digest_cols()).collect()[0])
    wm = (
        checkpoint.read_watermarks(spark, out_dir)
        .where(F.col("run_id") == run_id).select("bucket").distinct().count()
    )
    docs_in_metrics = checkpoint.read_metrics(spark, out_dir).agg(
        F.sum("docs")).collect()[0][0]
    shutil.rmtree(out_dir, ignore_errors=True)
    if got != expected:
        raise RuntimeError(f"checkpoint output digest {got} != {expected}")
    if wm != n_buckets:
        raise RuntimeError(f"{wm} committed watermarks, expected {n_buckets}")
    if docs_in_metrics != n_docs:
        raise RuntimeError(f"metrics rows count {docs_in_metrics} docs, input has {n_docs}")
    return out


def partitioning_metrics(spark, led: L.SqlLedger, tracer: L.Tracer,
                         mega_dir: str, expected) -> dict:
    """plans.partitioning: chunk_documents alone, plain extract as the
    reference, and extract_chunked with its redistribution and
    reassembly exchanges, over the mega-document table (one mega
    document next to inputs.MEGA_NEIGHBOURS regular ones)."""
    from ocr_project_spark.operators.extract import extract, extract_chunked
    from ocr_project_spark.plans.partitioning import chunk_documents

    docs = spark.read.parquet(os.path.join(mega_dir, "documents.parquet"))
    cands = spark.read.parquet(os.path.join(mega_dir, "candidates.parquet"))
    out = {}
    with tracer.span("plans.partitioning.chunk"):
        obs = Observation("chunks")
        out["partitioning.chunk_s"] = timed(lambda: noop(
            chunk_documents(docs, CHUNK_WIDTH).observe(
                obs, F.count(F.lit(1)).alias("n"))
        ))
        out["partitioning.chunks"] = obs.get["n"]
    with tracer.span("operators.extract.mega_plain"):
        out["extract.mega_plain_s"] = timed(lambda: noop(extract(docs, cands)))
    with tracer.span("plans.partitioning.extract_chunked"):
        mark = led.mark()
        obs = Observation("chunked_digest")
        out["partitioning.chunked_s"] = timed(lambda: noop(
            extract_chunked(docs, cands, CHUNK_WIDTH).observe(obs, *digest_cols())
        ))
        nodes, stages = led.nodes_since(mark), led.stages_since(mark)
    if as_digest(obs.get) != expected:
        raise RuntimeError(f"extract_chunked digest {as_digest(obs.get)} != {expected}")
    # by position: the reassembly aggregate nearest the root, its
    # exchange and partial half; the partial half runs in the assembly
    # stage, right above the (doc_id, chunk_id) redistribution exchange
    reassembly = L.aggregate_chain(L.topmost(nodes, "Aggregate"))
    partial = [n for n in reassembly if "Aggregate" in n.name][-1]
    redistribution = L.below(partial, "Exchange")
    out["partitioning.exchange_bytes"] = L.exchange_bytes(reassembly + [redistribution])
    assembly = L.stage_running(partial, stages)
    out["partitioning.task_skew"] = assembly.task_max_ms / max(1.0, assembly.task_med_ms)
    return out


class ExtractFused:
    """extract(docs, cands) into a noop sink, digest observed in-line."""

    name = "extract_fused"

    def __init__(self, spark, inp_dir: str, meta: dict, expected, work_dir: str):
        self.spark, self.meta, self.expected = spark, meta, expected
        self.work_dir = work_dir
        self.paths = [
            os.path.join(inp_dir, "documents.parquet"),
            os.path.join(inp_dir, "candidates.parquet"),
        ]
        self.docs = spark.read.parquet(self.paths[0])
        self.cands = spark.read.parquet(self.paths[1])
        self.n_docs = meta["n_docs"]
        self.n_spans = meta["n_spans"]

    def prepare(self) -> None:
        self._obs = Observation("digest")

    def run_pass(self) -> None:
        from ocr_project_spark.operators.extract import extract

        noop(extract(self.docs, self.cands).observe(self._obs, *digest_cols()))

    def check(self) -> str | None:
        got = as_digest(self._obs.get)
        return None if got == self.expected else f"digest {got} != {self.expected}"

    def trace(self, led: L.SqlLedger, tracer: L.Tracer, timed_pass, mega) -> dict:
        """Per-layer metrics.  ``timed_pass(traced)`` runs one checked
        pass of the workload; ``mega`` is (input dir, expected digest) of
        the mega-document table the partitioning probes run on."""
        from ocr_project_spark.functions.fuse import fuse_media_candidates
        from ocr_project_spark.operators.extract import assemble_expr

        timed_pass(traced=False)
        out = {}
        with tracer.span("sources"):
            out.update(scan_metrics(
                self.spark, led, self.paths,
                [self.meta["documents"], self.meta["candidates"]],
            ))
        with tracer.span("functions.fuse"):
            obs = Observation("fused")
            mark = led.mark()
            out["fuse.wall_s"] = timed(lambda: noop(
                fuse_media_candidates(self.cands).observe(obs, F.count(F.lit(1)).alias("n"))
            ))
            out["fuse.candidates_in"] = self.meta["n_candidates"]
            out["fuse.winners_out"] = obs.get["n"]
            out["fuse.winners_per_candidate"] = (
                out["fuse.winners_out"] / max(1, out["fuse.candidates_in"])
            )
            out["fuse.exchange_bytes"] = L.exchange_bytes(led.nodes_since(mark))
        with tracer.span("operators.extract.assemble"):
            null_map = F.lit(None).cast("map<int,struct<t:string,c:double>>")
            out["extract.assemble_s"] = timed(lambda: noop(
                self.docs.select(assemble_expr(F.col("spans"), null_map))
            ))
        mark = led.mark()
        with tracer.span("operators.extract"):
            timed_pass(traced=True)
        out.update(extract_action_metrics(led.nodes_since(mark), led.stages_since(mark)))
        with tracer.span("plans.checkpoint"):
            out.update(checkpoint_metrics(
                self.spark, self.docs, self.cands,
                os.path.join(self.work_dir, "checkpoint"), self.expected, self.n_docs,
            ))
        out.update(partitioning_metrics(self.spark, led, tracer, *mega))
        return out


class TimingWriter(TableWriter):
    """A TableWriter that times each call into the wrapped
    ParquetDirWriter: the public seam checkpoint.run(writer=...) offers."""

    def __init__(self, inner: TableWriter):
        self.inner = inner
        self.t_start = time.perf_counter()
        self.calls: list[tuple[str, float, float]] = []

    def _timed(self, kind, fn, *args):
        t0 = time.perf_counter()
        result = fn(*args)
        self.calls.append((kind, t0, time.perf_counter()))
        return result

    def overwrite_partitions(self, df, table, partition_col):
        return self._timed("overwrite", self.inner.overwrite_partitions,
                           df, table, partition_col)

    def append(self, df, table):
        return self._timed("append", self.inner.append, df, table)

    def read(self, spark, table):
        return self.inner.read(spark, table)

    def metrics(self) -> dict:
        """Per batch, the overwrite commits the data (and runs that
        batch's extraction); the gap until the first append is the
        lineage-stats re-read of the committed output."""
        batches: list[list[tuple[str, float, float]]] = []
        for call in self.calls:
            if call[0] == "overwrite":
                batches.append([])
            batches[-1].append(call)
        batch_s, stats_s, prev_end = [], 0.0, self.t_start
        for b in batches:
            appends = [c for c in b if c[0] == "append"]
            stats_s += appends[0][1] - b[0][2]
            batch_s.append(b[-1][2] - prev_end)
            prev_end = b[-1][2]
        dur = {k: sum(c[2] - c[1] for c in self.calls if c[0] == k)
               for k in ("overwrite", "append")}
        return {
            "checkpoint.batches": len(batches),
            "checkpoint.batch_s": statistics.median(batch_s),
            "checkpoint.stats_s": stats_s,
            "writer.overwrite_s": dur["overwrite"],
            "writer.append_s": dur["append"],
        }


def _files_under(root: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, fn))
    return n, size


CURATE_STAGES = (
    "00_input", "20_gopher", "30_scrub_pii", "40_scrub_passages",
    "50_exact_dedup", "60_lm_filter",
)
CURATE_ARGS = [
    "--gopher", "--gopher-set", "min_stopwords=1", "--gopher-set", "min_words=25",
    "--scrub-pii", "--scrub-passages", "8", "--scrub-broadcast",
    "--exact-dedup", "--lm-cutoffs", "3.0,3.6", "--shards", "8",
]


class CurateLadder:
    """curate_job.main in-process, --funnel observe, over the generated
    documents; a fresh run id per pass and every tracked cache released
    before the next one."""

    name = "curate_ladder"

    def __init__(self, spark, inp_dir: str, meta: dict, work_dir: str, master: str):
        self.spark, self.meta, self.work_dir = spark, meta, work_dir
        self.path = os.path.join(inp_dir, "documents.parquet")
        self.master = master
        self.n_docs = meta["n_docs"]
        self.n_spans = meta["n_tokens"]
        self.pass_no = 0
        self.funnel = None
        self.mode = "observe"

    def prepare(self) -> None:
        from ocr_project_spark import caching

        self.cleanup()
        caching.release_all(blocking=True)
        self.pass_no += 1
        self.run_id = f"bench-{self.pass_no}"

    def cleanup(self) -> None:
        if self.pass_no:
            shutil.rmtree(os.path.join(self.work_dir, self.run_id), ignore_errors=True)

    def run_pass(self) -> None:
        from ocr_project_spark import curate_job

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            curate_job.main([
                "--input", self.path, "--output", self.work_dir,
                "--run-id", self.run_id, "--master", self.master,
                "--funnel", self.mode, *CURATE_ARGS,
            ])
        self.report = json.loads(buf.getvalue().strip().splitlines()[-1])

    def check(self) -> str | None:
        funnel = [(s["stage"], s["n_docs"]) for s in self.report["funnel"]]
        counts = [n for _, n in funnel]
        if any(b > a for a, b in zip(counts, counts[1:])):
            return f"funnel increases: {funnel}"
        corpus = self.spark.read.parquet(
            os.path.join(self.work_dir, self.run_id, "corpus.parquet"))
        row = corpus.agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("text").alias("u")
        ).collect()[0]
        if funnel[-1] != ("90_written", row["n"]):
            return f"90_written {funnel[-1]} != {row['n']} rows read back"
        if row["u"] != row["n"]:
            return f"{row['n'] - row['u']} survivors share a text"
        if self.funnel is None:
            self.funnel = funnel
        elif funnel != self.funnel:
            return f"funnel {funnel} differs from first pass {self.funnel}"
        return None

    def trace(self, led: L.SqlLedger, tracer: L.Tracer, timed_pass, mega=None) -> dict:
        """Per-layer metrics.  The persist-mode run comes first, cold like
        the timed pass, so its stage walls split what that pass pays."""
        out = {}
        with tracer.span("curate_job.persist"):
            self.mode = "persist"
            self.prepare()
            self.run_pass()
            self.mode = "observe"
            err = self.check()
            if err is not None:
                raise RuntimeError(f"persist-mode run: {err}")
            for stage in CURATE_STAGES:
                out[f"curate.stage_s.{stage}"] = self.report["stage_wall_s"][stage]
        timed_pass(traced=False)
        with tracer.span("sources"):
            out.update(scan_metrics(self.spark, led, [self.path], [self.meta["documents"]]))
        mark = led.mark()
        cached = L.cached_bytes_sampler(self.spark)
        try:
            with tracer.span("curate_job"), cached:
                timed_pass(traced=True)
        finally:
            cached.close()
        nodes = led.nodes_since(mark)
        docs = dict((s["stage"], s["n_docs"]) for s in self.report["funnel"])
        for prev, stage in zip(CURATE_STAGES, CURATE_STAGES[1:]):
            out[f"curate.keep_ratio.{stage}"] = docs[stage] / max(1, docs[prev])
        out["curate.exchange_bytes"] = L.exchange_bytes(nodes)
        out["curate.spill_bytes"] = L.spill_bytes(nodes)
        out["curate.broadcast_rows"] = L.total(
            nodes, "number of output rows", name="BroadcastExchange")
        out["caching.peak_cached_mb"] = cached.peak / MB
        return out
