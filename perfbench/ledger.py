"""Spans around calls into the program, and the per-layer numbers Spark
already keeps for them.

Each span runs its Spark jobs under its own job group.  When the run ends,
the jobs, stages and SQL executions of every span are read back from the
session's status store (the store behind the Spark UI, which is kept even
with the UI disabled).  Nothing in the program under test is instrumented.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

_PY_STAGE = re.compile(r"\b(MapInArrow|MapInPandas|FlatMapGroupsInPandas|ArrowEvalPython|BatchEvalPython|FlatMapGroupsInArrow)\b")
_JOIN = re.compile(r"\b(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)\b")
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt(scala_opt):
    return scala_opt.get() if scala_opt.isDefined() else None


def parse_metric(text: str) -> float:
    """A formatted SQL metric value ('1,234', '12.3 MiB', 'total (min, med,
    max ...)\\n1.2 s (...)') as a plain number: bytes, seconds or a count."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1))


@dataclass
class Span:
    name: str
    parent: str | None
    group: str
    start: float
    end: float = 0.0
    spark: dict | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Ledger:
    """Spans kept in memory; Spark's metrics for them read back on demand."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        group = f"perfbench.{len(self.spans)}.{name}"
        self.sc.setJobGroup(group, group)
        s = Span(name, parent, group, time.perf_counter())
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    def _store(self):
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        return jsc.statusStore()

    def spark_metrics(self, s: Span) -> dict:
        """Jobs, stages and SQL operator metrics of one span, read once and
        kept on the span."""
        if s.spark is not None:
            return s.spark
        store = self._store()
        jobs = [j for j in _seq(store.jobsList(None)) if _opt(j.jobGroup()) == s.group]
        intervals = []
        stage_ids = set()
        for j in jobs:
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            if sub is not None and done is not None:
                intervals.append((sub.getTime() / 1000.0, done.getTime() / 1000.0))
            stage_ids.update(int(x) for x in _seq(j.stageIds()))
        out = {
            "jobs": len(jobs),
            "stages": 0,
            "tasks": 0,
            "busy_s": _union_length(intervals),
            "run_s": 0.0,
            "shuffle_write_bytes": 0,
            "fetch_wait_s": 0.0,
            "task_skew": 0.0,
            "stage_tasks": {},
        }
        longest = None
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # never submitted (skipped): nothing to add
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["stage_tasks"][sid] = st.numCompleteTasks()
            out["run_s"] += st.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1000.0
            if longest is None or st.executorRunTime() > longest.executorRunTime():
                longest = st
        if longest is not None:
            out["task_skew"] = _task_skew(store, longest)
        out["nodes"], out["plans"] = self._sql(s)
        s.spark = out
        return out

    def _sql(self, s: Span):
        """Every executed plan node of the span's SQL executions with its
        metrics, and the plans' text."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        nodes, plans = [], []
        for e in _seq(sql.executionsList()):
            if e.description() != s.group:
                continue
            eid = e.executionId()
            plans.append(e.physicalPlanDescription())
            values = {kv._1(): kv._2() for kv in _seq(sql.executionMetrics(eid))}
            for node in _seq(sql.planGraph(eid).allNodes()):
                metrics = {m.name(): parse_metric(values[m.accumulatorId()])
                           for m in _seq(node.metrics()) if m.accumulatorId() in values}
                nodes.append((node.name(), metrics))
        return nodes, plans


def node_sum(m: dict, metric: str, prefixes: tuple[str, ...] = ("",)) -> float:
    """Sum of ``metric`` over a span's plan nodes whose name starts with
    one of ``prefixes``."""
    return sum(ms.get(metric, 0.0) for name, ms in m["nodes"] if name.startswith(prefixes))


def _task_skew(store, st) -> float:
    """max / median task run time of one stage."""
    times = sorted(
        t.taskMetrics().get().executorRunTime()
        for t in _seq(store.taskList(st.stageId(), st.attemptId(), 100_000))
        if t.taskMetrics().isDefined()
    )
    if not times:
        return 0.0
    med = times[len(times) // 2]
    return times[-1] / max(med, 1)


def _union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def plan_shape(m: dict, min_bytes: float) -> dict:
    """Plan shape of one span as counts: exchanges that moved at least
    ``min_bytes``, Python stages that received data, and joins by strategy
    in the executed (final adaptive) plans."""
    shape = {
        "exchanges": sum(1 for name, ms in m["nodes"]
                         if name == "Exchange" and ms.get("shuffle bytes written", 0) >= min_bytes),
        "python_stages": sum(1 for name, ms in m["nodes"]
                             if _PY_STAGE.fullmatch(name) and ms.get("data sent to Python workers", 0) > 0),
    }
    for j in _JOIN.findall("\n".join(_final_plans(m["plans"]))):
        shape[f"join.{j}"] = shape.get(f"join.{j}", 0) + 1
    return shape


def _final_plans(plans: list[str]) -> list[str]:
    """The node tree of each plan: the '== Final Plan ==' section under
    adaptive execution, else the whole tree (before the node details)."""
    out = []
    for p in plans:
        tree = p.split("\n\n", 1)[0]
        if "== Final Plan ==" in tree:
            tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
        out.append(tree)
    return out


class RssSampler:
    """Peak memory of this process and all its descendants (the JVM and
    its Python workers), sampled on a background thread.

    The Python workers are forked from one daemon and share pages with it,
    so they count their proportional set size.  This process and the JVM
    share nothing with the others and count their resident set: the
    kernel's proportional count walks every page of the JVM's heap, which
    would take tens of milliseconds per sample and slow the JVM down.  A
    child the JVM has forked but not yet turned into another program (it
    still runs its parent's command line) shares all of the JVM's pages and
    counts nothing."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self.worker_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    def reset(self) -> None:
        self.peak_mb = 0.0
        self.worker_peak_mb = 0.0

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def _sample(self) -> None:
        total = workers = 0
        cmds = {}
        for pid, parent in _tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = cmds[pid] = f.read()
                if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                    with open(f"/proc/{pid}/smaps_rollup") as f:
                        kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
                    workers += kb
                elif cmd == cmds.get(parent):
                    continue
                else:
                    with open(f"/proc/{pid}/statm") as f:
                        kb = int(f.read().split()[1]) * self._page_kb
            except (OSError, StopIteration):  # the process ended while being read
                continue
            total += kb
        self.peak_mb = max(self.peak_mb, total / 1024)
        self.worker_peak_mb = max(self.worker_peak_mb, workers / 1024)


def _tree(root: int) -> list[tuple[int, int | None]]:
    """(pid, parent pid) of ``root`` and its descendants, parents first."""
    seen, todo = [], [(root, None)]
    while todo:
        pid, parent = todo.pop()
        seen.append((pid, parent))
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend((int(c), pid) for c in f.read().split())
        except OSError:
            continue
    return seen
