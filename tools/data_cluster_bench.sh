#!/usr/bin/env bash
# Standalone-cluster scaling evidence on the TILED DATA tables — the
# sf100-decade complement to tools/cluster_bench.sh (which measures
# the fixed synthetic extraction corpus).
#
# north_rule: throughput scaling efficiency >= 0.8 from N to 4N
# executors.  Arms: spark.cores.max=8 (1 executor JVM) vs 32 (4
# executor JVMs, 8 cores / 12 GB each) against the same standalone
# master — each executor a SEPARATE JVM with its own heap and GC, and
# the dedup shuffles crossing executor boundaries for real.  This is
# the honest emulation of "N-executor and 4N-executor clusters": the
# single-process local[8]->local[32] pair measured with
# tools/data_scaling_bench.py under-reads efficiency (~0.4) because
# ONE shared JVM heap serves all 32 task threads — allocation/GC
# contention that a real cluster never sees (each executor brings its
# own heap).  The 4x-concurrent-local[8] probe pins this: four
# separate 8-core JVMs sustain ~0.84 aggregate efficiency on the same
# host (BASELINE.md, "Round-5 data-table scaling").
#
# Each arm measures every job at TWO corpus sizes (sf10 = 500k docs,
# sf100 = 5M docs) so the report can quote MARGINAL efficiency —
# (t_sf100 - t_sf10) isolates the scalable per-document work from the
# per-job fixed floor (scheduler, scan setup, AQE planning), which
# otherwise dominates the short dedup jobs (a 12 s job cannot show a
# 4x speedup through a ~2 s floor).  Same decomposition as the
# round-4 cold spark-submit bench (BASELINE.md).
#
# Usage:  bash tools/data_cluster_bench.sh [sf_small sf_big]
set -euo pipefail

SF_SMALL="${1:-/tmp/sf10}"
SF_BIG="${2:-/tmp/sf100}"
export SPARK_LOG_DIR=/tmp/spark-logs SPARK_PID_DIR=/tmp/spark-pids
mkdir -p "$SPARK_LOG_DIR" "$SPARK_PID_DIR"

/opt/spark/sbin/start-master.sh --host 127.0.0.1 --port 7077 --webui-port 8090
sleep 5
for i in 1 2 3 4; do
  SPARK_WORKER_DIR=/tmp/spark-work-$i SPARK_IDENT_STRING=w$i \
    /opt/spark/sbin/start-worker.sh spark://127.0.0.1:7077 \
    --cores 8 --memory 13g --webui-port $((8100 + i))
done
sleep 8

ROOT="$(cd "$(dirname "$0")/.." && pwd)"
RESULTS=$(mktemp /tmp/data_cluster_results.XXXX)
for CORES in 8 32; do
  PYTHONPATH="$ROOT" SPARK_DRIVER_MEM=8g SF_SMALL="$SF_SMALL" SF_BIG="$SF_BIG" \
    python - "$CORES" <<'EOF'
import sys, os, time, json
from ocr_project_spark.session import get_spark
from ocr_project_spark import harness, caching

cores = int(sys.argv[1])
spark = get_spark(app_name=f"data-cluster-{cores}", master="spark://127.0.0.1:7077",
                  shuffle_partitions=2 * cores,
                  extra_conf={
                      "spark.cores.max": str(cores),
                      "spark.executor.cores": "8",
                      "spark.executor.memory": "12g",
                      # 8m splits ~= the multi-file layout a real
                      # 100 TB corpus has natively (644 MB/table-file
                      # here; default 128m would cap the scan at ~6
                      # tasks on BOTH arms)
                      "spark.sql.files.maxPartitionBytes": "8m",
                  })
out = {}
for sf_dir in [os.environ["SF_SMALL"], os.environ["SF_BIG"]]:
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    times = {}
    for name in ["repetition_stats", "exact_dedup", "dedup_then_extract"]:
        best = None
        for _ in range(2):
            caching.release_all(blocking=True)
            t0 = time.monotonic()
            harness.QUERIES[name].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            best = dt if best is None or dt < best else best
        times[name] = round(best, 3)
    out[sf_dir] = {"n_docs": n, "times": times}
print("ARM_RESULT " + json.dumps({"executors": cores // 8, "sizes": out}))
spark.stop()
EOF
done | tee "$RESULTS"

for i in 1 2 3 4; do SPARK_IDENT_STRING=w$i /opt/spark/sbin/stop-worker.sh; done
/opt/spark/sbin/stop-master.sh

python - "$RESULTS" <<'EOF'
import json, sys

arms = {}
for line in open(sys.argv[1]):
    if line.startswith("ARM_RESULT "):
        r = json.loads(line[len("ARM_RESULT "):])
        arms[r["executors"]] = r["sizes"]
lo, hi = arms[1], arms[4]
(small, big) = sorted(lo, key=lambda d: lo[d]["n_docs"])
dn = lo[big]["n_docs"] - lo[small]["n_docs"]
jobs = {}
for q in lo[big]["times"]:
    t_lo, t_hi = lo[big]["times"][q], hi[big]["times"][q]
    m_lo = lo[big]["times"][q] - lo[small]["times"][q]
    m_hi = hi[big]["times"][q] - hi[small]["times"][q]
    jobs[q] = {
        "sf_big_lo_sec": t_lo, "sf_big_hi_sec": t_hi,
        "total_efficiency": round((1 / t_hi) / (4 / t_lo), 3),
        # marginal: per-extra-document rate between the two corpus
        # sizes — the fixed job floor (scheduler, scan setup, AQE
        # planning) cancels in the subtraction
        "marginal_docs_per_sec_lo": round(dn / m_lo, 1),
        "marginal_docs_per_sec_hi": round(dn / m_hi, 1),
        "marginal_efficiency": round((dn / m_hi) / (4 * dn / m_lo), 3),
    }
print(json.dumps({
    "metric": "data-table standalone-cluster scaling (1 -> 4 executors, 8 cores each)",
    "marginal_docs": dn, "jobs": jobs,
}, indent=1))
EOF
