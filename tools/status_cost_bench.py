"""Attribute the cost of the never-fail status column in the bucketed
extraction pipeline (round-2 verdict follow-up: driver bench moved
1.08s -> 1.39s after the column landed; measure how much is the status
work vs VM noise).

Times three plans over the same bucketed 20k-doc corpus, best-of-N in
one JVM (fused no-exchange plans JIT over two passes):

  with_status     extract() as shipped (status + conditional assembly)
  no_status       identical plan minus the status machinery: assemble
                  unconditionally, status emitted as a literal
  status_only     scan + status column + count (isolates the three
                  null checks + exists() HOF without assembly)

Usage: python tools/status_cost_bench.py [reps]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "20000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import bench
    from ocr_project_spark.operators.extract import (
        _with_fused_map,
        assemble_expr,
        doc_status_expr,
        extract,
    )
    from ocr_project_spark.session import get_spark
    from ocr_project_spark.sources.bucketed import read_bucketed

    corpus_dir = bench.bench_corpus_path()
    os.environ.setdefault("SPARK_DRIVER_MEM", f"{max(8, int(1.5 * cpus))}g")
    spark = get_spark(
        app_name="status_cost_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={"spark.sql.files.maxPartitionBytes": "8m"},
    )
    bkt_root = f"{corpus_dir}/bucketed"
    if not os.path.exists(f"{bkt_root}/_DONE"):
        docs = spark.read.parquet(f"{corpus_dir}/documents_spans.parquet")
        cands = spark.read.parquet(f"{corpus_dir}/media_candidates.parquet")
        from ocr_project_spark.sources.bucketed import write_bucketed

        write_bucketed(spark, docs, cands, bkt_root, n_buckets=2 * cpus)
        open(f"{bkt_root}/_DONE", "w").write("ok")
    docs_b, cands_b = read_bucketed(spark, bkt_root, n_buckets=2 * cpus)

    def no_status_extract():
        prepped = _with_fused_map(docs_b, cands_b)
        return prepped.select(
            "doc_id",
            assemble_expr(F.col("spans"), F.col("fused_map")).alias("spans"),
            F.struct(
                F.lit(True).alias("ok"),
                F.lit(None).cast("string").alias("reason"),
            ).alias("status"),
        )

    def status_only():
        return docs_b.select("doc_id", doc_status_expr().alias("status"))

    plans = {
        "with_status": lambda: extract(docs_b, cands_b),
        "no_status": no_status_extract,
        "status_only": status_only,
    }
    spark.range(1000000).selectExpr("sum(id)").collect()

    results: dict[str, dict] = {}
    for name, build in plans.items():
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
        best = min(times)
        results[name] = {
            "times": times,
            "best": best,
            "docs_per_sec": round(n_docs / best, 1),
        }

    delta = round(
        results["with_status"]["best"] - results["no_status"]["best"], 3
    )
    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "cpus": cpus,
                "plans": results,
                "status_cost_sec_best": delta,
                "status_cost_pct": round(
                    100.0 * delta / results["no_status"]["best"], 1
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
