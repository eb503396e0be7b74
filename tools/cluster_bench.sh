#!/usr/bin/env bash
# Standalone-cluster scaling evidence: N=1 executor vs 4N=4 executors,
# each executor a separate JVM with fixed resources (2 cores, 3 GB,
# parallel GC) — the closest sandbox emulation of the north_rule's
# "N-executor and 4N-executor clusters".  Results recorded in
# BASELINE.md ("Scaling evidence").
#
# Usage:  bash tools/cluster_bench.sh   (input prepared by
#         `python tools/scaling_bench.py` first — reuses its bucketed
#         576k-doc corpus at /tmp/ocr_scaling_bench_r384)
set -euo pipefail

export SPARK_LOG_DIR=/tmp/spark-logs SPARK_PID_DIR=/tmp/spark-pids
mkdir -p "$SPARK_LOG_DIR" "$SPARK_PID_DIR"

/opt/spark/sbin/start-master.sh --host 127.0.0.1 --port 7077 --webui-port 8090
sleep 5
for i in 1 2 3 4; do
  SPARK_WORKER_DIR=/tmp/spark-work-$i SPARK_IDENT_STRING=w$i \
    /opt/spark/sbin/start-worker.sh spark://127.0.0.1:7077 \
    --cores 2 --memory 4g --webui-port $((8100 + i))
done
sleep 8

ROOT="$(cd "$(dirname "$0")/.." && pwd)"
for CORES in 2 8; do
  PYTHONPATH="$ROOT" SPARK_DRIVER_MEM=4g python - "$CORES" <<'EOF'
import sys, time, json, statistics
from ocr_project_spark.session import get_spark
from ocr_project_spark.operators.extract import extract
from ocr_project_spark.sources.bucketed import read_bucketed
cores = int(sys.argv[1])
spark = get_spark(app_name=f"cluster-scale-{cores}", master="spark://127.0.0.1:7077",
                  shuffle_partitions=2*cores,
                  extra_conf={
                      "spark.cores.max": str(cores),
                      "spark.executor.cores": "2",
                      "spark.executor.memory": "3g",
                      "spark.sql.files.maxPartitionBytes": "4m",
                  })
docs, cands = read_bucketed(spark, "/tmp/ocr_scaling_bench_r384/bucketed", n_buckets=64)
n = docs.count()
times = []
for i in range(8):
    t0 = time.monotonic()
    extract(docs, cands).write.format("noop").mode("overwrite").save()
    times.append(round(time.monotonic() - t0, 3))
timed = times[1:]
print(json.dumps({"executors": cores // 2, "n_docs": n, "times": times,
                  "best": min(timed), "median": round(statistics.median(timed), 3),
                  "docs_per_sec_best": round(n / min(timed), 1)}))
spark.stop()
EOF
done

for i in 1 2 3 4; do SPARK_IDENT_STRING=w$i /opt/spark/sbin/stop-worker.sh; done
/opt/spark/sbin/stop-master.sh
