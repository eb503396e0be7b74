"""Two-parallelism scaling probe on the TILED DATA tables (the
sf100-decade complement to tools/scaling_bench.py, which measures the
fixed synthetic extraction corpus).

north_rule: throughput scaling efficiency >= 0.8 from N to 4N
executors.  The measured jobs are the three scale-critical shapes
over the documents table, chosen to cover the plans that dominate the
sf100 bench: repetition_stats (zero-Exchange linear scan + per-row
aggregate), exact_dedup (corpus-wide hash-shuffle groupBy), and
dedup_then_extract (shuffle + HOF re-assembly).  Throughput is
documents/sec per job; per-job AND aggregate efficiency are printed:

    efficiency = throughput_4N / (4 * throughput_N)

CAVEAT — this tool's local[8] -> local[32] pair UNDER-reads the
north-rule quantity, because the 4N arm packs all 32 task threads
into ONE JVM heap: allocation/GC contention that a real 4-executor
cluster (4 separate heaps) never sees.  Measured at sf100
(BASELINE.md "Round-5 data-table scaling"): this tool reads 0.33-0.54
per job, while the SAME jobs on the SAME host in separate-JVM
protocols read 0.84 (4x concurrent local[8] JVMs) and 0.91-0.93
total / 0.85-1.3 marginal (standalone cluster, 1 -> 4 executor JVMs,
tools/data_cluster_bench.sh — the honest emulation; use that one).
Kept as the contrast datapoint and the fast smoke-probe.

Usage:
    python tools/data_scaling_bench.py [sf_dir]          # default /tmp/sf100
    SPARK_GRAFT_SCALE_MASTERS='local[8],local[32]' ...   # override arms
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOBS = ["repetition_stats", "exact_dedup", "dedup_then_extract"]
REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2"))

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {root!r})
# heap scales with the arm's core count (1.5 GB/core, bench.py's
# ratio): on a real cluster every executor brings its own memory, so
# a fixed heap across arms would bias AGAINST the wide arm via GC
# pressure rather than measure the plan
os.environ.setdefault("SPARK_DRIVER_MEM", "%dg" % max(8, int(1.5 * {cores})))
from ocr_project_spark.session import get_spark
from ocr_project_spark import harness, caching

sf_dir = {sf_dir!r}
# Split the scan finer than the default 128m: make_sf tiles each table
# into ONE parquet file (644 MB documents at sf100 = ~6 default splits),
# which caps scan parallelism at 6 tasks on BOTH arms and flatlines the
# zero-shuffle jobs.  8m matches bench.py and yields ~80 splits — the
# multi-file layout a real 100 TB corpus has natively.
spark = get_spark(app_name="data_scaling", master={master!r},
                  shuffle_partitions={shuf},
                  extra_conf={{"spark.sql.files.maxPartitionBytes": "8m"}})
n_docs = spark.read.parquet(f"{{sf_dir}}/documents.parquet").count()
out = {{}}
for name in {jobs!r}:
    best = None
    for _ in range({reps}):
        caching.release_all(blocking=True)
        t0 = time.monotonic()
        # noop sink: full evaluation, rows never cross to Python
        harness.QUERIES[name].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.monotonic() - t0
        best = dt if best is None or dt < best else best
    out[name] = best
print("CHILD_RESULT " + json.dumps({{"n_docs": n_docs, "times": out}}))
"""


def run_arm(master: str, sf_dir: str) -> dict:
    cores = int(master.split("[")[1].rstrip("]*") or "32")
    code = _CHILD.format(root=ROOT, sf_dir=sf_dir, master=master,
                         shuf=max(16, 2 * cores), jobs=JOBS, reps=REPS,
                         cores=cores)
    proc = subprocess.run([sys.executable, "-c", code],
                          capture_output=True, text=True)
    for line in proc.stdout.splitlines():
        if line.startswith("CHILD_RESULT "):
            return json.loads(line[len("CHILD_RESULT "):])
    raise SystemExit(
        f"arm {master} produced no result:\n{proc.stdout[-2000:]}\n"
        f"{proc.stderr[-2000:]}")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/tmp/sf100")
    lo, hi = os.environ.get(
        "SPARK_GRAFT_SCALE_MASTERS", "local[8],local[32]").split(",")
    scale = (int(hi.split("[")[1].rstrip("]"))
             / int(lo.split("[")[1].rstrip("]")))
    a = run_arm(lo, sf_dir)
    b = run_arm(hi, sf_dir)
    n = a["n_docs"]
    jobs = {}
    for q in JOBS:
        t_lo, t_hi = a["times"][q], b["times"][q]
        eff = (n / t_hi) / (scale * (n / t_lo))
        jobs[q] = {"n_lo_sec": round(t_lo, 3), "n_hi_sec": round(t_hi, 3),
                   "docs_per_sec_lo": round(n / t_lo, 1),
                   "docs_per_sec_hi": round(n / t_hi, 1),
                   "efficiency": round(eff, 3)}
    tot_lo = sum(a["times"].values())
    tot_hi = sum(b["times"].values())
    print(json.dumps({
        "metric": "data-table scaling efficiency (N -> %.0fN cores)" % scale,
        "sf_dir": sf_dir, "n_docs": n, "masters": [lo, hi], "reps": REPS,
        "jobs": jobs,
        "aggregate_efficiency": round((n / tot_hi) / (scale * (n / tot_lo)), 3),
    }))


if __name__ == "__main__":
    main()
