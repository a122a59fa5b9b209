"""Per-layer counters for one span of driver work, read from Spark's own
status stores.

A span is one call into a layer of the program (``QuerySpec.spark``, the
noop-sink action, ``run_pipeline``, ``write_dataset``).  The span runs
under its own job group; when it ends, the tracer reads

- the core status store (``statusStore().lastStageAttempt``) for jobs,
  stages, tasks, task time, scan input, shuffle bytes and spill;
- the SQL status store for every SQL execution that started inside the
  span (not only the final plan: checkpoints and stream drains run their
  own executions), giving shuffle exchanges, Python plan nodes and the
  Python-worker SQL metrics "time to run Python workers" and "data sent
  to/returned from Python workers".

"Time to run" is, per task, the time from the JVM starting a Python node's
runner to the worker finishing, so it includes the node's wait for its
input.  Chained Python nodes of one stage each report the whole chain, so
a stage counts the largest of its nodes' values, not their sum; it then
stays within the stage's task time.  Spark names the stage only when more
than one task reported; a single-task value is grouped with the other
single-task values of its execution.  "Time to start/initialize Python
workers" are left out: they are timestamp differences that, for a worker
reused from the pool, include the time it sat idle since its previous
task (a 0.4 s task read 126 s), so they say nothing about the program.

Both stores work with ``spark.ui.enabled=false``.  Streaming micro-batches
set their own job group (the query's run id), so their jobs are found
through the SQL executions of the span instead of through the group.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

COUNTERS = (
    "s",
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "scan_tasks",
    "input_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "sql_executions",
    "exchanges",
    "python_nodes",
    "python_run_s",
    "arrow_bytes",
    "stream_batches",
    "stream_batch_s",
)

_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
_UNIT = {
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}
_PY_RUN = "time to run Python workers"
_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)\)")
_ARROW = ("data sent to Python workers", "data returned from Python workers")


def metric_total(text: str) -> float:
    """Total of one formatted SQL metric: ``'2.1 MiB'`` or
    ``'total (min, med, max ...)\\n12.2 s (2.9 s, ...)'`` → bytes / seconds."""
    head = text.rsplit("\n", 1)[-1].split(" (", 1)[0].split()
    if len(head) == 1:
        return float(head[0].replace(",", ""))
    return float(head[0].replace(",", "")) * _UNIT[head[1]]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _status_kb(pid, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM (``VmHWM``) plus this Python
    process, in MiB.  The JVM part follows the collector's heap sizing more
    than the program's data: identical 15 s runs of one workload on 4 cores
    read from 2.3 to 3.9 GiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_status_kb(pid, "VmHWM") + _status_kb("self", "VmHWM")) / 1024.0


def retained_mb(spark) -> float:
    """Driver memory the program still holds: JVM heap in use after a full
    collection (cached and checkpointed blocks, memory-sink tables, plan
    and status state) plus this Python process's resident memory, in MiB."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = heap.getHeapMemoryUsage().getUsed()
    return used / 2**20 + _status_kb("self", "VmRSS") / 1024.0


class Tracer:
    """Opens spans and turns each into a dict of ``COUNTERS``.

    Spans must not overlap: the benchmark is a closed loop with one query
    or export at a time, so every SQL execution and stage created between
    a span's start and end belongs to it.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.core = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._dag = self.sc._jsc.sc().dagScheduler()
        self._n = 0

    def _last_execution_id(self) -> int:
        n = self.sql.executionsCount()
        if n == 0:
            return -1
        return self.sql.executionsList(n - 1, 1).apply(0).executionId()

    def _new_executions(self) -> list:
        """SQL executions with an id above the floor, oldest first."""
        n = self.sql.executionsCount()
        k = 16
        while True:
            batch = _seq(self.sql.executionsList(max(0, n - k), k))
            if not batch or batch[0].executionId() <= self._exec_floor or k >= n:
                return [e for e in batch if e.executionId() > self._exec_floor]
            k *= 4

    @contextmanager
    def span(self, name: str):
        """Time the block under its own job group; the yielded dict is
        filled with the span's counters when the block exits."""
        self._n += 1
        group = f"perfbench-{self._n}-{name}"[:120]
        rec: dict = {"name": name}
        # everything registered before the span starts belongs to others
        self._bus.waitUntilEmpty(30_000)
        self._exec_floor = self._last_execution_id()
        self._stage_floor = self._dag.nextStageId() - 1
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._collect(group, rec)

    def _collect(self, group: str, rec: dict) -> None:
        # status stores are fed by the listener bus; drain it so the
        # span's last stages and executions are complete before reading
        self._bus.waitUntilEmpty(30_000)
        for key in COUNTERS[1:]:
            rec[key] = 0
        jobs = set(self.sc.statusTracker().getJobIdsForGroup(group))
        execs = self._new_executions()
        # a nested execution repeats its root's plan and carries the jobs
        # and metric values, so a root with nested ones is not counted twice
        wrappers = {
            e.rootExecutionId() for e in execs if e.rootExecutionId() != e.executionId()
        }
        python_run: dict = {}
        for e in execs:
            rec["sql_executions"] += 1
            it = e.jobs().keys().iterator()
            while it.hasNext():
                jobs.add(int(it.next()))
            if e.rootExecutionId() in (e.executionId(), -1):
                self._add_batch(e, rec)
            if e.executionId() not in wrappers:
                self._add_plan(e, rec, python_run)
        rec["python_run_s"] = sum(python_run.values())
        stages: set[int] = set()
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        rec["jobs"] = len(jobs)
        for sid in sorted(s for s in stages if s > self._stage_floor):
            self._add_stage(sid, rec)

    def _add_stage(self, sid: int, rec: dict) -> None:
        try:
            sd = self.core.lastStageAttempt(sid)
        except Exception:  # py4j: NoSuchElementException for evicted stages
            return
        if sd.status().toString() == "SKIPPED":
            return
        rec["stages"] += 1
        rec["tasks"] += sd.numTasks()
        rec["task_s"] += sd.executorRunTime() / 1000.0
        if sd.inputBytes() > 0:
            rec["scan_tasks"] += sd.numTasks()
            rec["input_bytes"] += sd.inputBytes()
        rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        rec["shuffle_read_bytes"] += sd.shuffleReadBytes()
        rec["spill_bytes"] += sd.diskBytesSpilled()

    @staticmethod
    def _add_batch(e, rec: dict) -> None:
        """A streaming micro-batch runs as a root SQL execution whose
        description carries the query's run id and the batch number."""
        desc = e.description() or ""
        if "runId = " in desc and "\nbatch = " in desc:
            rec["stream_batches"] += 1
            done = e.completionTime()
            if done.isDefined():
                rec["stream_batch_s"] += (done.get().getTime() - e.submissionTime()) / 1000.0

    def _add_plan(self, e, rec: dict, python_run: dict) -> None:
        """Plan nodes and Python-worker metrics of one execution;
        ``python_run`` keeps the largest "time to run" per stage."""
        eid = e.executionId()
        for node in _seq(self.sql.planGraph(eid).allNodes()):
            nm = node.name()
            if nm == "Exchange":
                rec["exchanges"] += 1
            elif _PYTHON_NODE.search(nm):
                rec["python_nodes"] += 1
        names = {}
        for m in _seq(e.metrics()):
            names[m.accumulatorId()] = m.name()
        values = self.sql.executionMetrics(eid)
        it = values.iterator()
        while it.hasNext():
            kv = it.next()
            nm = names.get(kv._1())
            if nm == _PY_RUN:
                stage = _STAGE.search(kv._2())
                key = int(stage.group(1)) if stage else ("single", eid)
                python_run[key] = max(python_run.get(key, 0.0), metric_total(kv._2()))
            elif nm in _ARROW:
                rec["arrow_bytes"] += metric_total(kv._2())
