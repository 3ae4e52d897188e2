"""Trace-side instruments: spans and counts, Spark plan and stage
metrics, and a /proc sampler for PySpark worker memory.

Everything here observes the engine from outside: the plan walker reads
the SQL metrics Spark already keeps on each executed plan node, the
stage reader queries the application status store (populated with the
UI disabled), and the RSS sampler reads ``/proc``. Nothing inside
``webextract`` is instrumented.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, run id) and counts,
    written as one JSON document when the run ends."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] += n

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, "counts": self.counts}, f)


# -- SQL plan metrics ---------------------------------------------------------


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _plan_children(node) -> list:
    """Children of an executed plan node, looking through the adaptive
    wrapper, query stages, reused exchanges and cached relations."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()]
    return list(_iter(node.children()))


def plan_metrics(plan) -> dict[int, tuple[str, str, int]]:
    """Walk an executed plan; ``{accumulator id: (node name, metric
    name, value)}``. Keyed by accumulator id so a node reached twice
    (a cached plan read by two jobs) counts once."""
    out: dict[int, tuple[str, str, int]] = {}
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        for kv in _iter(node.metrics()):
            m = kv._2()
            out[m.id()] = (name, kv._1(), m.value())
        todo.extend(_plan_children(node))
    return out


class PlanMetricsListener:
    """A ``QueryExecutionListener`` (a py4j callback) that harvests the
    SQL metrics of every query execution that succeeds while it is
    registered."""

    def __init__(self) -> None:
        self.metrics: dict[int, tuple[str, str, int]] = {}
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        try:
            found = plan_metrics(qe.executedPlan())
        except Exception as e:  # a failed harvest must not break the listener bus
            with self._lock:
                self.errors.append(repr(e))
            return
        with self._lock:
            self.metrics.update(found)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java interface)
        with self._lock:
            self.errors.append(f"{func_name} failed")

    def take(self) -> dict[tuple[str, str], int]:
        """Sum of harvested metric values by (node name, metric name),
        then reset."""
        with self._lock:
            found, self.metrics = self.metrics, {}
        agg: dict[tuple[str, str], int] = defaultdict(int)
        for node, metric, value in found.values():
            agg[(node, metric)] += value
        return dict(agg)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


@contextmanager
def plan_listener(spark):
    """Register a :class:`PlanMetricsListener` for the duration of the
    block (starting the py4j callback server it needs)."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = PlanMetricsListener()
    manager = spark._jsparkSession.listenerManager()
    manager.register(listener)
    try:
        yield listener
    finally:
        drain_listener_bus(spark)
        manager.unregister(listener)


def drain_listener_bus(spark) -> None:
    """Wait until Spark's listener bus has delivered every pending event
    (the status store and query listeners are fed asynchronously)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def node_metric(agg: dict[tuple[str, str], int], node_prefix: str, metric: str) -> int:
    return sum(v for (n, m), v in agg.items() if n.startswith(node_prefix) and m == metric)


# -- stage and task metrics from the status store -----------------------------


def stage_summary(spark, group: str) -> dict:
    """Stage and task metrics of every job run under job group
    ``group``, read from the status store. Stages skipped by adaptive
    execution (reused exchanges) have no attempt and are left out."""
    from py4j.protocol import Py4JJavaError

    drain_listener_bus(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stage_ids = sorted(
        {s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds}
    )
    out = defaultdict(float)
    task_ms: list[float] = []
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # NoSuchElementException: the stage never ran
            continue
        if str(sd.status()) != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["run_ms"] += sd.executorRunTime()
        out["gc_ms"] += sd.jvmGcTime()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        for td in _iter(store.taskList(sid, sd.attemptId(), 1 << 30)):
            tm = td.taskMetrics()
            if tm.isDefined():
                task_ms.append(float(tm.get().executorRunTime()))
    out["task_ms"] = task_ms
    return dict(out)


def summarize_tasks(task_ms: list[float]) -> dict:
    if not task_ms:
        return {"task_ms_p50": 0.0, "task_ms_max": 0.0, "skew": 0.0}
    p50 = statistics.median(task_ms)
    mx = max(task_ms)
    return {"task_ms_p50": p50, "task_ms_max": mx, "skew": mx / p50 if p50 else 0.0}


# -- PySpark worker memory ----------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while listing
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _is_pyspark_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def _peak_rss_kb(pid: int) -> int:
    """max(VmHWM, VmRSS) of ``pid`` in KiB, 0 if it has ended."""
    peak = 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(("VmHWM:", "VmRSS:")):
                    peak = max(peak, int(line.split()[1]))
    except OSError:
        return 0
    return peak


class WorkerRssSampler:
    """Background thread sampling the peak RSS of every PySpark Python
    worker descended from this process (there is no psutil here)."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler")

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval_s)

    def sample(self, root: int) -> None:
        for pid in descendants(root):
            if _is_pyspark_worker(pid):
                self.peak_kb = max(self.peak_kb, _peak_rss_kb(pid))

    def __enter__(self) -> "WorkerRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
