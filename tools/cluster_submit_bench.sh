#!/usr/bin/env bash
# The north_rule's packaging + scaling clauses measured TOGETHER:
# `spark-submit --py-files <zip> ocr_project_spark/job.py` against a
# standalone cluster (separate executor JVMs of 2 cores / 3 GB) at
# N=1 executor and 4N=4 executors, same bucketed input, efficiency =
# docs_per_sec_4N / (4 x docs_per_sec_N) from the job's OWN summary
# line (in-job wall time, so spark-submit/JVM startup is excluded).
#
# Prereq: `python tools/scaling_bench.py` once (prepares the 576k-doc
# bucketed corpus at /tmp/ocr_scaling_bench_r384).  Results recorded
# in BASELINE.md ("Scaling evidence").
set -euo pipefail

ROOT="$(cd "$(dirname "$0")/.." && pwd)"
# Default corpus: 5x the scaling_bench one (2.88M docs) so the
# single-pass job's fixed cold costs (JIT, scan setup, commit — ~18 s
# per arm, identical at both cluster sizes) amortize below the noise
# floor; with the 576k corpus a cold single pass measures ~0.59 purely
# from that fixed term (decomposition in BASELINE.md).
CORPUS=${SPARK_GRAFT_SUBMIT_DIR:-/tmp/ocr_submit_bench_x5}
[ -f "$CORPUS/_READY" ] || { echo "prepare the corpus first (see BASELINE.md round-4 submit bench)" >&2; exit 1; }

export SPARK_LOG_DIR=/tmp/spark-logs SPARK_PID_DIR=/tmp/spark-pids
mkdir -p "$SPARK_LOG_DIR" "$SPARK_PID_DIR"

ZIP=$(python "$ROOT/tools/make_pyfiles.py" | tail -1)

/opt/spark/sbin/start-master.sh --host 127.0.0.1 --port 7077 --webui-port 8090
sleep 5
for i in 1 2 3 4; do
  SPARK_WORKER_DIR=/tmp/spark-work-$i SPARK_IDENT_STRING=w$i \
    /opt/spark/sbin/start-worker.sh spark://127.0.0.1:7077 \
    --cores 2 --memory 4g --webui-port $((8100 + i))
done
sleep 8

cleanup() {
  for i in 1 2 3 4; do SPARK_IDENT_STRING=w$i /opt/spark/sbin/stop-worker.sh || true; done
  /opt/spark/sbin/stop-master.sh || true
}
trap cleanup EXIT

for CORES in 2 8; do
  OUT=/tmp/submit_bench_out_$CORES
  rm -rf "$OUT"
  /opt/spark/bin/spark-submit \
    --master spark://127.0.0.1:7077 \
    --py-files "$ZIP" \
    --conf spark.ui.enabled=false \
    --conf spark.cores.max=$CORES \
    --conf spark.executor.cores=2 \
    --conf spark.executor.memory=3g \
    --conf spark.sql.files.maxPartitionBytes=4m \
    --conf spark.sql.shuffle.partitions=$((2 * CORES)) \
    "$ROOT/ocr_project_spark/job.py" \
    --bucketed-location "$CORPUS/bucketed" --bucketed-n 64 \
    --output "$OUT" --run-id "submit-$CORES" --no-checkpoint \
    2>/dev/null | grep '"docs_per_sec"' | tail -1
done
