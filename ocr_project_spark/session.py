"""SparkSession factory with the engine's standard configuration.

The reference initializes its engines once per process
(/root/reference/src/advanced_ocr/pipeline.py:50-61); our analog is a
single SparkSession configured for Arrow-vectorized Python crossings,
AQE (runtime re-planning, skew-join splitting) and a shuffle width
sized to the machine rather than the default 200.

``get_spark`` is also the one home of the engine's JVM runtime policy.
Every JVM it launches runs the throughput collector (``GC_POLICY``):
the driver through ``spark.driver.defaultJavaOptions`` and executors
through ``spark.executor.defaultJavaOptions``, each prepended to any
value already there, so a caller's own ``extraJavaOptions`` still
apply.  The extraction plan is interpreted higher-order functions
(``CodegenFallback``) that store a reference for every element they
build; G1's write barriers tax each of those stores, and ParallelGC
cut warm ``extract()`` CPU time by 9% on a 4-core host.  The trade:
ParallelGC's full collections stop the world, which grows long on
very large executor heaps.  To opt back into G1, put
``-XX:+UseG1GC`` in ``spark.driver.extraJavaOptions`` /
``spark.executor.extraJavaOptions``: a role whose Java options
already select a collector gets nothing added (the JVM refuses to
start with two), whether the value comes from ``extra_conf``, the
config layers' ``spark`` subtree, the JVM's environment or, under
spark-submit, the submitted SparkConf.  A spark-submit driver JVM is
running before ``get_spark`` is called, so its collector is set on
the command line: ``--conf spark.driver.defaultJavaOptions=
-XX:+UseParallelGC`` (what matters for ``local[N]`` submits, whose
executors live in the driver JVM).
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterable, Mapping

from pyspark.sql import SparkSession

GC_POLICY = "-XX:+UseParallelGC"

# a flag that selects a collector; any second one stops the JVM at
# start ("Multiple garbage collectors selected")
_SELECTS_COLLECTOR = re.compile(
    r"-XX:\+Use(?:Serial|Parallel|ParallelOld|G1|Z|Shenandoah|Epsilon"
    r"|ConcMarkSweep)GC\b"
)

# Java options every JVM reads from its environment, ahead of or after
# the command line
_JVM_ENV_OPTIONS = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")

# spark.sql.codegen.cache.maxEntries (static; Spark's default is 100).
# One cold curation ladder compiles 106 classes, so at 100 every
# repeated ladder in one driver (streaming micro-batches, a test
# session) recompiles about half of them.  The deepest tested ladder
# (every stage kind, DSIR included) compiles about 157; 512 holds three
# of it.
CODEGEN_CACHE_ENTRIES = 512


def runtime_java_options(
    seen: Mapping[str, str],
    roles: Iterable[str] = ("driver", "executor"),
    env_options: str = "",
) -> dict[str, str]:
    """The ``spark.<role>.defaultJavaOptions`` values that put each
    role's JVMs on ``GC_POLICY``, given the Java options already in
    ``seen``: the policy flag is prepended to an existing
    defaultJavaOptions value, never replacing it, and a role whose
    default or extra options already select a collector gets no entry.
    ``env_options`` (what the driver JVM reads from its environment)
    counts for the driver role only."""
    out = {}
    for role in roles:
        default = seen.get(f"spark.{role}.defaultJavaOptions", "")
        chosen = f"{default} {seen.get(f'spark.{role}.extraJavaOptions', '')}"
        if role == "driver":
            chosen += f" {env_options}"
        if not _SELECTS_COLLECTOR.search(chosen):
            out[f"spark.{role}.defaultJavaOptions"] = f"{GC_POLICY} {default}".strip()
    return out


def _submitted_java_options() -> dict[str, str]:
    """The Java options of the SparkConf spark-submit gave the running
    driver JVM."""
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return {k: v for k, v in SparkConf().getAll() if k.endswith("JavaOptions")}


def get_spark(
    app_name: str = "ocr_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Only force a master when one was explicitly requested (argument
    # or env).  Under `spark-submit --master spark://...` the submit
    # args already carry the cluster master, and calling .master()
    # here would silently override it back to local[*] — the job would
    # "run" while the cluster sat idle (caught by
    # tools/cluster_submit_bench.sh: both cluster sizes measured
    # identical throughput because neither was actually used).
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not submitted:
        # PYSPARK_GATEWAY_PORT marks a spark-submit-owned JVM gateway,
        # whose SparkConf already carries the submitted master
        master = "local[*]"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        # ~2x cores: enough tasks for AQE to coalesce, few enough that
        # small-SF local runs are not dominated by task dispatch.
        shuffle_partitions = max(8, 2 * cpus)

    b = (
        SparkSession.builder.appName(app_name)
        # Arrow batches for every pandas UDF / toPandas crossing.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # AQE: runtime partition coalescing + skew-join splitting — the
        # declarative replacement for the reference's hand-rolled
        # strategy heuristics (SURVEY.md section 4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Parquet NTZ timestamps must mean the same instant as DuckDB's
        # epoch() for the oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if master is not None:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    seen, roles = dict(extra_conf or {}), ("driver", "executor")
    if submitted:
        # the driver JVM already runs: only executors are still to
        # launch, and the builder's conf lands on the submitted one
        seen, roles = {**_submitted_java_options(), **seen}, ("executor",)
    env_options = " ".join(os.environ.get(k, "") for k in _JVM_ENV_OPTIONS)
    for k, v in runtime_java_options(seen, roles, env_options).items():
        b = b.config(k, v)
    try:
        spark = b.getOrCreate()
    except Exception as e:
        if master is None and "master" in str(e).lower():
            # A gateway JVM was detected (PYSPARK_GATEWAY_PORT) but its
            # SparkConf carries no master — an unusual embedder or a
            # hand-rolled gateway.  We deliberately do NOT fall back to
            # local[*] here: under spark-submit that silently benches
            # the driver machine while the cluster idles (the round-4
            # deploy bug).  Point at the explicit escape hatch instead.
            raise RuntimeError(
                "no Spark master: the detected gateway JVM carries no "
                "master in its SparkConf; set SPARK_GRAFT_MASTER (or "
                "pass master=) to choose one explicitly"
            ) from e
        raise
    spark.sparkContext.setLogLevel("ERROR")
    return spark
