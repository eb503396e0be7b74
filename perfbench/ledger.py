"""Measurement plumbing: Spark's own SQL metrics, trace spans and the
resident memory of the benchmark's process tree.

``SqlLedger`` reads the in-process SQL status store
(``sharedState().statusStore()``: ``executionsList``, ``planGraph``,
``executionMetrics``), which is populated with ``spark.ui.enabled=false``.
Metric values arrive as display strings such as
``total (min, med, max (stageId: taskId))\\n5.8 s (1.3 s, 1.5 s, 1.6 s (stage 9.0: task 7))``;
``parse_metric`` turns one into its total in base units (bytes,
milliseconds, rows).
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time
from dataclasses import dataclass, field

_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4, "ms": 1.0, "s": 1000.0, "m": 60_000.0,
    "min": 60_000.0, "h": 3_600_000.0,
}
_VALUE = re.compile(r"(-?[\d,]*\.?\d+)\s*(KiB|MiB|GiB|TiB|B|ms|min|s|m|h)?")


def parse_metric(text: str) -> float:
    """Display string -> its total in base units (the first value on
    the last line; the per-task min/med/max that may follow is dropped)."""
    m = _VALUE.search(text.split("\n")[-1])
    return float(m[1].replace(",", "")) * _UNITS[m[2] or "B"] if m else 0.0


@dataclass
class PlanNode:
    name: str
    desc: str
    metrics: dict[str, float] = field(default_factory=dict)  # totals
    inputs: list[PlanNode] = field(default_factory=list)  # child operators
    outputs: list[PlanNode] = field(default_factory=list)  # parent operators
    cluster: str | None = None  # enclosing "WholeStageCodegen (n)", if any


@dataclass
class StageRun:
    scopes: list[str]  # operator scopes of the stage's RDD graph
    tasks: int
    task_med_ms: float
    task_max_ms: float
    peak_exec_mem: float  # bytes, summed over tasks


class SqlLedger:
    """Plan nodes, metric totals and completed stages of the SQL
    executions that ran after a mark.  Collections are flattened to
    strings in the JVM where possible: every py4j element access is a
    round trip."""

    def __init__(self, spark):
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def mark(self) -> int:
        return int(self._store.executionsCount())

    def _list(self, seq) -> list:
        """A Scala Seq as a Python list.  Indexed access: iterating a
        py4j collection ends in a Java exception that costs dozens of
        round trips to convert."""
        jlist = self._conv.asJava(seq)
        return [jlist.get(i) for i in range(jlist.size())]

    def _since(self, mark: int):
        count = int(self._store.executionsCount())
        return self._list(self._store.executionsList(mark, count - mark))

    def nodes_since(self, mark: int) -> list[PlanNode]:
        out: list[PlanNode] = []
        for e in self._since(mark):
            eid = e.executionId()
            graph = self._store.planGraph(eid)
            values = dict(
                kv.split(" -> ", 1)
                for kv in self._store.executionMetrics(eid).mkString("\u0001").split("\u0001")
                if " -> " in kv
            )
            by_id: dict[int, PlanNode] = {}
            self._walk(graph.nodes(), values, by_id)
            for edge in self._list(graph.edges()):
                parent, child = by_id.get(edge.toId()), by_id.get(edge.fromId())
                if parent is not None and child is not None:
                    parent.inputs.append(child)
                    child.outputs.append(parent)
            out.extend(by_id.values())
        return out

    def _walk(self, nodes, values: dict[str, str], by_id,
              cluster: str | None = None) -> None:
        for n in self._list(nodes):
            node = PlanNode(n.name(), n.desc(), cluster=cluster)
            for m in self._list(n.metrics()):
                raw = values.get(str(m.accumulatorId()))
                if raw is not None:
                    node.metrics[m.name()] = parse_metric(raw)
            by_id[int(n.id())] = node
            if n.getClass().getSimpleName() == "SparkPlanGraphCluster":
                # WholeStageCodegen members
                self._walk(n.nodes(), values, by_id, cluster=n.name())

    def stages_since(self, mark: int) -> list[StageRun]:
        ids = sorted({
            int(sid)
            for e in self._since(mark)
            for sid in str(e.stages().mkString(",")).split(",")
            if sid
        })
        quantiles = self._spark.sparkContext._gateway.new_array(
            self._spark._jvm.double, 2
        )
        quantiles[0], quantiles[1] = 0.5, 1.0
        out = []
        for sid in ids:
            st = self._app.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            summary = self._app.taskSummary(sid, st.attemptId(), quantiles)
            med = mx = 0.0
            if summary.isDefined():
                med, mx = (
                    float(v) for v in
                    str(summary.get().executorRunTime().mkString(",")).split(",")
                )
            out.append(StageRun(
                self._scope_names(self._app.operationGraphForStage(sid).rootCluster()),
                int(st.numTasks()), med, mx,
                float(st.peakExecutionMemory()),
            ))
        return out

    def _scope_names(self, cluster) -> list[str]:
        names = [cluster.name()]
        for child in self._list(cluster.childClusters()):
            names += self._scope_names(child)
        return names


def total(nodes: list[PlanNode], metric: str, name: str | None = None) -> float:
    """Sum of ``metric`` totals over nodes, optionally restricted to a
    node name prefix."""
    return sum(
        n.metrics.get(metric, 0.0)
        for n in nodes
        if name is None or n.name.startswith(name)
    )


def topmost(nodes: list[PlanNode], name: str) -> PlanNode:
    """The node whose name contains ``name`` closest to the plan's root
    (breadth-first from the nodes without a parent)."""
    level = [n for n in nodes if not n.outputs and n.cluster is None]
    seen: set[int] = set()
    while level:
        for n in level:
            if name in n.name:
                return n
        seen.update(id(n) for n in level)
        level = [c for n in level for c in n.inputs if id(c) not in seen]
    raise LookupError(f"no {name} node in the plan")


def join_build_side(join: PlanNode) -> PlanNode:
    """The input a hash join builds its table from (BuildLeft/BuildRight)."""
    return join.inputs[0] if "BuildLeft" in join.desc else join.inputs[-1]


SHUFFLE = ("Exchange", "AQEShuffleRead")


def aggregate_chain(node: PlanNode) -> list[PlanNode]:
    """``node`` and the nodes below it (first input) while they are
    aggregates or shuffles: one aggregate's final and partial halves
    with the exchange between them, by position and not by expression."""
    out = []
    while "Aggregate" in node.name or node.name.startswith(SHUFFLE):
        out.append(node)
        if not node.inputs:
            break
        node = node.inputs[0]
    return out


def below(node: PlanNode, name: str) -> PlanNode:
    """The first node named ``name`` down ``node``'s first-input path."""
    while node.inputs:
        node = node.inputs[0]
        if node.name.startswith(name):
            return node
    raise LookupError(f"no {name} below {node.name}")


def stage_running(node: PlanNode, stages: list[StageRun]) -> StageRun:
    """The completed stage that runs ``node``.  A stage's operator
    scopes are the names of the operators between the exchanges around
    it (a codegen'd operator under its "WholeStageCodegen (n)" name), so
    the stage is the one whose scopes hold every operator of the node's
    exchange-bounded segment; ties go to the stage with fewest others."""
    segment, todo, seen = set(), [node], set()
    while todo:
        n = todo.pop()
        if id(n) in seen or n.name.startswith("Exchange"):
            continue
        seen.add(id(n))
        segment.add(n.cluster or n.name)
        todo += n.inputs + n.outputs
    # plan-only wrappers (AdaptiveSparkPlan, the write command) have no scope
    segment &= {name for s in stages for name in s.scopes}
    fits = [s for s in stages if segment <= set(s.scopes)]
    if not segment or not fits:
        raise LookupError(f"no stage runs {sorted(segment)}")
    return min(fits, key=lambda s: len(s.scopes))


def exchange_bytes(nodes: list[PlanNode]) -> float:
    return total(nodes, "shuffle bytes written", name="Exchange")


def spill_bytes(nodes: list[PlanNode]) -> float:
    return total(nodes, "spill size")


def codegen_ms(nodes: list[PlanNode]) -> float:
    return total(nodes, "duration", name="WholeStageCodegen")


class Tracer:
    """Spans (name, start, end, parent, workload, seed) kept in memory
    and written out once, when the benchmark ends."""

    def __init__(self, workload: str, seed: int):
        self.workload, self.seed = workload, seed
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Times the block; the yielded dict carries ``seconds`` after it."""
        rec = {"name": name, "start": time.perf_counter(),
               "parent": self._stack[-1] if self._stack else None,
               "workload": self.workload, "seed": self.seed}
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["seconds"] = rec["end"] - rec["start"]
            self.spans.append(rec)


def _tree_stats(root: int) -> tuple[int, float]:
    """(resident bytes, CPU seconds) of ``root`` and its descendants.
    CPU includes reaped children (cutime/cstime), so Python workers
    that exited still count.  Steal time is not charged to a process."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(entry)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry))
    page, tick = os.sysconf("SC_PAGE_SIZE"), os.sysconf("SC_CLK_TCK")
    rss, cpu, todo = 0, 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        f = stats.get(pid)
        if f is not None:
            rss += int(f[21]) * page
            cpu += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return rss, cpu / tick


def tree_cpu_s() -> float:
    return _tree_stats(os.getpid())[1]


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads ("C1/C2 CompilerThreadN")
    have spent.  Exact only while those threads never exit, hence
    -XX:-UseDynamicNumberOfCompilerThreads on the JVM."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
            fields = stat.rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def work_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the process tree, less JIT compilation."""
    return tree_cpu_s() - jit_cpu_s(jvm_pid)


class Sampler:
    """Background thread sampling ``probe()`` every ``interval`` seconds
    while active; keeps the peak.  Used for the process tree's resident
    memory and for Spark's cached-block bytes."""

    def __init__(self, probe, interval: float = 0.1):
        self._probe, self._interval = probe, interval
        self.peak = 0.0
        self._lock = threading.Lock()
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.wait(self._interval) and not self._stop.is_set():
                self._sample()
                self._stop.wait(self._interval)

    def _sample(self) -> None:
        value = float(self._probe())
        with self._lock:
            self.peak = max(self.peak, value)

    def __enter__(self):
        self._active.set()
        return self

    def __exit__(self, *exc):
        self._active.clear()
        self._sample()
        return False

    def close(self) -> None:
        self._stop.set()
        self._active.set()
        self._thread.join(timeout=5)


def rss_sampler() -> Sampler:
    pid = os.getpid()
    return Sampler(lambda: _tree_stats(pid)[0], interval=0.25)


def cached_bytes_sampler(spark) -> Sampler:
    sc = spark.sparkContext._jsc.sc()

    def probe() -> float:
        return sum(
            float(i.memSize()) + float(i.diskSize())
            for i in sc.getRDDStorageInfo()
        )

    return Sampler(probe, interval=0.2)
