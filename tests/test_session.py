"""session.get_spark's JVM runtime policy: every JVM it launches runs
the throughput collector, unless a Java-options value it can see
already selects one (the JVM refuses to start with two collectors)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from ocr_project_spark.session import GC_POLICY, runtime_java_options

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PARALLEL_BEANS = {"PS Scavenge", "PS MarkSweep"}


def collector_beans(jvm) -> set[str]:
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return {beans.get(i).getName() for i in range(beans.size())}


def test_session_runs_parallel_collector(spark):
    assert collector_beans(spark._jvm) == PARALLEL_BEANS


def test_policy_prepends_to_default_java_options():
    assert runtime_java_options({}) == {
        "spark.driver.defaultJavaOptions": GC_POLICY,
        "spark.executor.defaultJavaOptions": GC_POLICY,
    }
    got = runtime_java_options({
        "spark.driver.defaultJavaOptions": "-Da=1",
        "spark.driver.extraJavaOptions": "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.executor.defaultJavaOptions": "-XX:+UseStringDeduplication",
        "spark.executor.extraJavaOptions": "-XX:+UseGCOverheadLimit",
    })
    assert got == {
        "spark.driver.defaultJavaOptions": f"{GC_POLICY} -Da=1",
        "spark.executor.defaultJavaOptions": f"{GC_POLICY} -XX:+UseStringDeduplication",
    }


def test_caller_collector_wins():
    # a collector in either option of a role leaves that role alone
    assert runtime_java_options({
        "spark.driver.extraJavaOptions": "-Xss4m -XX:+UseG1GC",
        "spark.executor.defaultJavaOptions": "-XX:+UseZGC -Da=1",
    }) == {}
    assert runtime_java_options(
        {"spark.executor.extraJavaOptions": "-XX:+UseSerialGC"}
    ) == {"spark.driver.defaultJavaOptions": GC_POLICY}
    # the JVM's environment counts for the driver only
    assert runtime_java_options({}, env_options=" -XX:+UseShenandoahGC ") == {
        "spark.executor.defaultJavaOptions": GC_POLICY,
    }
    # under spark-submit only the executors are still to launch
    assert runtime_java_options({}, roles=("executor",)) == {
        "spark.executor.defaultJavaOptions": GC_POLICY,
    }


@pytest.mark.slow
def test_session_with_g1_in_extra_conf_starts_on_g1(tmp_path):
    code = (
        "from ocr_project_spark.session import get_spark\n"
        "s = get_spark(master='local[1]', extra_conf="
        "{'spark.driver.extraJavaOptions': '-XX:+UseG1GC'})\n"
        "b = s._jvm.java.lang.management.ManagementFactory"
        ".getGarbageCollectorMXBeans()\n"
        "print(sorted(b.get(i).getName() for i in range(b.size())))\n"
        "s.stop()\n"
    )
    env = {**os.environ, "PYTHONPATH": ROOT, "SPARK_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=300, env=env, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().splitlines()[-1] == str(
        ["G1 Old Generation", "G1 Young Generation"]
    )
