"""The repo benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload extract_fused --seed 1 --seconds 8 --trace 0

Run from the repository root.  The process makes (or reuses) its seeded
inputs, starts one Spark session on local[<cores>] and runs checked
passes back to back -- one Spark action in flight at a time, each pass
starting after the previous one finished.  A workload timed warm runs
untimed warm-up passes first, then timed ones until ``--seconds`` have
elapsed; a workload timed cold times its first pass only.  Every timed pass is checked against the
reference; a pass that raises or fails its check counts as failed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics instead, taken from a separate traced pass and from
probes into each layer's public functions.  The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
Workloads, metrics and layer predictions are described in README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

import ledger  # noqa: E402  (stdlib only; the package is imported later)

# inputs per workload; sizes are fixed, only the seed varies
SIZES = {
    "extract_fused": {"n_docs": 5000},
    "curate_ladder": {"n_docs": 1500},
}
# the mega-document table the traced extract_fused run chunks: one
# write_mega_corpus_parquet document above the ~10^5-span crossover, next
# to inputs.MEGA_NEIGHBOURS regular ones
MEGA_SPANS = 250_000
# curate_ladder is timed cold: exactly one pass, the first in the
# session, as every spark-submit of curate_job pays it.  extract_fused
# is timed warm: WARMUP_PASSES untimed passes let its codegen and JIT
# settle, then checked passes run until --seconds have elapsed.
COLD = {"curate_ladder"}
WARMUP_PASSES = 4
DRIVER_MEM = "2g"
# per-layer metric prefixes each workload's traced run measures; the
# other layers do no work on that workload and report 0
LAYERS = {
    "extract_fused": ("session.", "sources.", "fuse.", "extract.", "partitioning.",
                      "checkpoint.", "writer.", "trace_overhead_s"),
    "curate_ladder": ("session.", "sources.", "curate.", "caching.", "trace_overhead_s"),
}
# every other measured per-layer metric must read above 0: a 0 means the
# layer did no work or a probe lost track of its operator in the plan
MAY_BE_ZERO = {"extract.spill_bytes", "curate.spill_bytes", "trace_overhead_s"}

# End-to-end metrics are CPU seconds of the process tree less the JVM's
# JIT compiler threads, not wall time: on the reference host (4 vCPUs,
# shared) hypervisor steal ran at 0-25%, and over ten seeds the median
# pass wall spread 38% against 15% for CPU.  JIT compilation is left out
# because how much of it lands in a pass depends on timing: it was 58% of
# a cold curate_ladder pass and still 1-4 s of a 5-8 s extract_fused pass
# after four passes.  Wall and JIT times per pass go to stderr and the
# trace file.
END_TO_END = {
    "cpu_s": "s", "docs_per_cpu_s": "1/s", "spans_per_cpu_s": "1/s",
    "setup_s": "s", "peak_rss_mb": "MB",
}


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def make_inputs(kind: str, seed: int) -> tuple[str, dict]:
    """The seeded inputs of a workload, or of the "mega" table."""
    import inputs

    if kind == "mega":
        size, make = MEGA_SPANS, inputs.mega_inputs
    elif kind == "curate_ladder":
        size, make = SIZES[kind]["n_docs"], inputs.curate_inputs
    else:
        size, make = SIZES[kind]["n_docs"], inputs.corpus_inputs
    # the cache key carries the size; delete .perfbench_work after
    # changing a generator
    out = os.path.join(WORK, "inputs", f"{kind}-{seed}-{size}")
    return out, make(out, seed, size)


def pyfiles_zip() -> str:
    """The package zipped for addPyFile, as spark-submit --py-files ships it."""
    import zipfile

    pkg = os.path.join(ROOT, "ocr_project_spark")
    out = os.path.join(WORK, "ocr_project_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, dirnames, files in os.walk(pkg):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, ROOT))
    return out


def start_session(tracer) -> tuple[object, dict]:
    """Session, shipped py-files and one warm-up action: what every
    spark-submit of this program pays before its first real action."""
    from ocr_project_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    times = {}
    with tracer.span("session.start") as s:
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores()}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                # static JIT compiler threads, so their CPU time stays
                # readable (ledger.jit_cpu_s)
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
            },
        )
    times["session.start_s"] = s["seconds"]
    with tracer.span("session.pyfiles") as s:
        spark.sparkContext.addPyFile(pyfiles_zip())
    times["session.pyfiles_s"] = s["seconds"]
    with tracer.span("session.warmup") as s:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
    times["session.warmup_s"] = s["seconds"]
    return spark, times


def jvm_pid() -> int:
    """The driver JVM that the session's gateway launched."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as f:
        if f.read().strip() != "java":
            raise RuntimeError(f"gateway process {pid} is not the JVM")
    return pid


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def expected_digest(spark, inp_dir: str) -> tuple[int, str]:
    """The reference extractor's output digest, computed once per seed
    with the same expression the timed passes observe."""
    import workloads

    path = os.path.join(inp_dir, "digest.json")
    if os.path.exists(path):
        with open(path) as f:
            return tuple(json.load(f))
    oracle = spark.read.parquet(os.path.join(inp_dir, "oracle.parquet"))
    got = workloads.as_digest(oracle.agg(*workloads.digest_cols()).collect()[0])
    with open(path, "w") as f:
        json.dump(list(got), f)
    return got


def build_workload(name: str, spark, inp_dir: str, meta: dict):
    import workloads

    work = os.path.join(WORK, "out", name)
    os.makedirs(work, exist_ok=True)
    if name == "extract_fused":
        return workloads.ExtractFused(
            spark, inp_dir, meta, expected_digest(spark, inp_dir), work)
    return workloads.CurateLadder(spark, inp_dir, meta, work, f"local[{cores()}]")


class Loop:
    """Closed loop of checked passes; times only run_pass()."""

    def __init__(self, wl, jvm_pid: int):
        self.wl, self.jvm_pid = wl, jvm_pid
        self.times: list[float] = []
        self.cpu: list[float] = []
        self.jit: list[float] = []
        self.attempted = self.failed = 0

    def one(self, record: bool = True) -> float | None:
        self.wl.prepare()
        try:
            jit0 = ledger.jit_cpu_s(self.jvm_pid)
            cpu0, t0 = ledger.work_cpu_s(self.jvm_pid), time.perf_counter()
            self.wl.run_pass()
            dt = time.perf_counter() - t0
            cpu = ledger.work_cpu_s(self.jvm_pid) - cpu0
            jit = ledger.jit_cpu_s(self.jvm_pid) - jit0
            err = self.wl.check()
        except Exception:  # a failed pass is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            dt, err = None, "raised"
        if err is not None:
            print(f"pass failed: {err}", file=sys.stderr)
        if record:
            self.attempted += 1
            if err is not None:
                self.failed += 1
            else:
                self.times.append(dt)
                self.cpu.append(cpu)
                self.jit.append(jit)
        return dt if err is None else None

    def warmup(self, passes: int) -> None:
        """Untimed passes that fill the codegen cache and let the JIT
        settle; a failing warm-up aborts the run."""
        for _ in range(passes):
            if self.one(record=False) is None:
                raise RuntimeError("warm-up pass failed")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(LAYERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    age0 = process_age_s()
    # the checkout's program, found before any input worker or JVM starts
    spec = importlib.util.find_spec("ocr_project_spark")
    if spec is None or not os.path.abspath(spec.origin or "").startswith(ROOT + os.sep):
        raise SystemExit(f"no ocr_project_spark package under {ROOT}")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # the session layer's heap knob (default 8g).  With 8g, G1 grows the
    # heap at will and the tree's peak RSS ranged 2.7-4.0 GB between
    # identical runs; a 2g cap makes peak_rss_mb measure the program.
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM

    cpu_inputs = ledger.tree_cpu_s()
    inp_dir, meta = make_inputs(args.workload, args.seed)
    mega_dir = None
    if args.trace and args.workload == "extract_fused":
        mega_dir, mega_meta = make_inputs("mega", args.seed)
        meta = {**meta, "mega": mega_meta}
    cpu_inputs = ledger.tree_cpu_s() - cpu_inputs
    log(f"inputs ready at {process_age_s():.1f} s")
    tracer = ledger.Tracer(args.workload, args.seed)
    t_setup = time.perf_counter()
    spark, session_times = start_session(tracer)
    jvm = jvm_pid()
    # set-up CPU: everything the tree spent since process start, less
    # JIT compilation and the (cached per seed) input generation
    setup_s = ledger.work_cpu_s(jvm) - cpu_inputs
    setup_wall = age0 + (time.perf_counter() - t_setup)
    log(f"setup {setup_s:.1f} CPU s, {setup_wall:.1f} s wall; "
        f"session ready at {process_age_s():.1f} s")

    rss = ledger.rss_sampler()
    try:
        wl = build_workload(args.workload, spark, inp_dir, meta)
        loop = Loop(wl, jvm)
        cold = args.workload in COLD
        if not cold:
            loop.warmup(WARMUP_PASSES)
            log(f"warm-up done at {process_age_s():.1f} s")
        if args.trace:
            mega = mega_dir and (mega_dir, expected_digest(spark, mega_dir))
            metrics = traced_run(spark, loop, tracer, session_times, mega)
        else:
            t_end = time.perf_counter() + args.seconds
            with rss:
                loop.one()
                while not cold and time.perf_counter() < t_end:
                    loop.one()
            cpu = statistics.median(loop.cpu)
            metrics = {
                "cpu_s": cpu,
                "docs_per_cpu_s": wl.n_docs / cpu,
                "spans_per_cpu_s": wl.n_spans / cpu,
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak / (1024.0 * 1024.0),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        wl_cleanup = getattr(wl, "cleanup", None)
        if wl_cleanup:
            wl_cleanup()
    finally:
        rss.close()
        stop_session(spark)
    with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump({"inputs": meta, "setup_wall_s": setup_wall, "pass_wall_s": loop.times,
                   "pass_cpu_s": loop.cpu, "pass_jit_cpu_s": loop.jit,
                   "spans": tracer.spans}, f, indent=1)
    log(f"pass wall {[round(t, 3) for t in loop.times]} s, "
        f"CPU {[round(t, 2) for t in loop.cpu]} s, "
        f"JIT {[round(t, 2) for t in loop.jit]} s; exit at {process_age_s():.1f} s")
    result = {
        "correct": loop.failed == 0 and bool(loop.times),
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


def traced_run(spark, loop: Loop, tracer, session_times: dict, mega) -> dict:
    led = ledger.SqlLedger(spark)
    passes: dict[str, float | None] = {}

    def timed_pass(traced: bool) -> None:
        passes["traced" if traced else "untraced"] = loop.one()

    layer = loop.wl.trace(led, tracer, timed_pass, mega)
    overhead = (
        passes["traced"] - passes["untraced"] if None not in passes.values() else 0.0
    )
    values = {**session_times, **layer, "trace_overhead_s": overhead}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    measured = measured_names(loop.wl.name, units)
    missing = set(measured) - set(values)
    if missing:
        raise RuntimeError(f"traced run did not measure {sorted(missing)}")
    zero = [n for n in measured if n not in MAY_BE_ZERO and not values[n] > 0]
    if zero:
        raise RuntimeError(f"traced run read 0 for {zero}")
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in units.items()
    }


def measured_names(workload: str, names) -> list[str]:
    return [n for n in names if n.startswith(LAYERS[workload])]


if __name__ == "__main__":
    sys.exit(main())
