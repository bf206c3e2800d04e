"""Readers for per-layer counters, all taken from outside the engine.

- ``ProcTree``: CPU time and peak resident memory of this process and
  every descendant (the JVM, the PySpark worker daemon and its forks,
  the data-source planner workers), read from ``/proc``.
- ``StatusReader``: Spark's own status stores, which stay populated with
  the UI disabled: stage and job records from ``AppStatusStore`` and
  per-operator SQL metrics from ``SQLAppStatusStore``.
- ``StreamingProgress``: ``StreamingQueryProgress`` events from a
  streaming-query listener (registered only in traced runs).

The readers go through PySpark's private ``_jsc``/``_jsparkSession``
handles because PySpark exposes no public API for these stores.
"""

from __future__ import annotations

import os
import re
import threading

from spans import covered

_CLK_TCK = os.sysconf("SC_CLK_TCK")

# Spark SQL metric names of every Python-evaluation operator
# (ArrowEvalPython, BatchEvalPython, MapInPandas, FlatMapGroupsInPandas,
# Python UDTFs and Python data sources share these). Their start,
# initialize and run times are not read: the connector's data sources and
# the sink leave them unset, and no declared workload has a Python eval
# node, so they would read 0 on every declared workload.
PY_METRICS = {
    "data sent to Python workers": "functions.py_bytes_sent",
    "data returned from Python workers": "functions.py_bytes_received",
}

# every metric ``Probe`` reports for a traced operation
PROBE_METRICS = (
    "operators.jobs", "operators.tasks", "operators.executor_run_s",
    "operators.executor_cpu_s", "operators.gc_s", "operators.input_bytes",
    "operators.shuffle_write_bytes", "operators.shuffle_read_bytes",
    "operators.shuffle_fetch_wait_s", "operators.spill_bytes",
    "queries.driver_gap_s", "queries.planning_s",
    *PY_METRICS.values(), "functions.py_worker_cpu_s",
    "sources.partitions", "sources.rows_fetched", "blocks.pinned_bytes",
    "streaming.batches", "streaming.batch_s", "streaming.state_rows",
    "streaming.state_bytes", "streaming.state_commit_s",
)

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE = re.compile(r"^\s*(-?[0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Numeric total of a formatted SQL metric. Multi-task metrics read
    ``"total (min, med, max ...)\\n<total> (<min>, ...)"``; single values
    read ``"<number> <unit>"``. Times come back in seconds, sizes in
    bytes, plain sums unchanged."""
    line = text.strip().split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsable metric: {text!r}")
    number = float(m.group(1).replace(",", ""))
    return number * _UNITS.get(m.group(2), 1)


# ------------------------------------------------------------- /proc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses; fields follow
    # the last ')' (field 3 onward)
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """This process and all its descendants."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                fields = _stat(int(entry))
                if fields:
                    children.setdefault(int(fields[1]), []).append(int(entry))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    @staticmethod
    def _cpu(pid: int) -> float:
        fields = _stat(pid)
        if not fields:
            return 0.0
        # utime, stime, cutime, cstime: own time plus reaped children's
        return sum(int(x) for x in fields[11:15]) / _CLK_TCK

    @staticmethod
    def _comm(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/comm") as f:
                return f.read().strip()
        except OSError:
            return ""

    def cpu_s(self) -> float:
        """CPU seconds used so far by the whole tree."""
        return sum(self._cpu(p) for p in self.pids())

    def python_worker_cpu_s(self) -> float:
        """CPU seconds of the Python processes Spark started (workers,
        the worker daemon and planner processes), excluding this one."""
        return sum(
            self._cpu(p) for p in self.pids()
            if p != self.root and self._comm(p).startswith("python")
        )

    def reset_peak_rss(self) -> None:
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")  # resets VmHWM to the current RSS
            except OSError:
                pass

    def peak_rss_mb(self) -> float:
        """Sum over the tree of each process's peak resident set since
        the last ``reset_peak_rss``."""
        total_kb = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                pass
        return total_kb / 1024.0


# ------------------------------------------------------ status stores


def _items(seq) -> list:
    out, it = [], seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _millis(option) -> float | None:
    return option.get().getTime() / 1000.0 if option.isDefined() else None


class StatusReader:
    """Per-operation deltas from Spark's status stores. Call ``mark``
    before an operation and ``collect`` after it."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._app = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gw = spark.sparkContext._gateway
        self._last_stage = -1
        self._last_job = -1
        self._exec_count = 0
        self.mark()  # everything before the first traced operation

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def mark(self) -> None:
        self.collect()

    def _stage_seq(self):
        empty = self._gw.new_array(self._gw.jvm.double, 0)
        return self._app.stageList(None, False, False, empty, None)

    @staticmethod
    def _new(seq, last: int, key) -> list:
        """Entries of a newest-first store listing with key > ``last``."""
        out, it = [], seq.iterator()
        while it.hasNext():
            item = it.next()
            if key(item) <= last:
                break
            out.append(item)
        return out

    def collect(self) -> tuple[dict[str, float], list[tuple[float, float, int]], list]:
        """Layer counters of everything that ran since ``mark``, each
        stage's wall-clock interval and task count, and the new SQL
        executions."""
        self.drain()
        stages = self._new(self._stage_seq(), self._last_stage, lambda s: s.stageId())
        jobs = self._new(self._app.jobsList(None), self._last_job, lambda j: j.jobId())
        m = {k: 0.0 for k in PROBE_METRICS if k.startswith("operators.")}
        m["operators.jobs"] = float(len(jobs))
        intervals = []
        for s in stages:
            m["operators.tasks"] += s.numCompleteTasks()
            m["operators.executor_run_s"] += s.executorRunTime() / 1e3
            m["operators.executor_cpu_s"] += s.executorCpuTime() / 1e9
            m["operators.gc_s"] += s.jvmGcTime() / 1e3
            m["operators.input_bytes"] += s.inputBytes()
            m["operators.shuffle_write_bytes"] += s.shuffleWriteBytes()
            m["operators.shuffle_read_bytes"] += s.shuffleReadBytes()
            m["operators.shuffle_fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
            m["operators.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            start, end = _millis(s.submissionTime()), _millis(s.completionTime())
            if start is not None and end is not None:
                intervals.append((start, end, s.numCompleteTasks()))
        count = self._sql.executionsCount()
        executions = (
            _items(self._sql.executionsList(self._exec_count, count - self._exec_count))
            if count > self._exec_count else []
        )
        if stages:
            self._last_stage = max(s.stageId() for s in stages)
        if jobs:
            self._last_job = max(j.jobId() for j in jobs)
        self._exec_count = count
        return m, intervals, executions

    def node_metrics(self, executions: list, node_filter) -> dict[str, float]:
        """Sum of each metric, by metric name, over the plan nodes
        ``node_filter(name)`` accepts, across ``executions``."""
        out: dict[str, float] = {}
        for e in executions:
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            it = nodes.iterator()
            while it.hasNext():
                node = it.next()
                if not node_filter(node.name()):
                    continue
                mit = node.metrics().iterator()
                while mit.hasNext():
                    metric = mit.next()
                    value = values.get(metric.accumulatorId())
                    if not value.isDefined():
                        continue
                    try:
                        v = parse_metric(value.get())
                    except ValueError:
                        continue
                    out[metric.name()] = out.get(metric.name(), 0.0) + v
        return out

    def pinned_bytes(self) -> float:
        """Storage held by persisted RDDs (checkpoints, caches)."""
        return float(sum(i.memSize() + i.diskSize() for i in self._sc.getRDDStorageInfo()))


def planning_s(df) -> float:
    """Catalyst phase time (analysis, optimization, planning) recorded
    by the DataFrame's query-execution tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    it = phases.values().iterator()
    while it.hasNext():
        p = it.next()
        total += (p.endTimeMs() - p.startTimeMs()) / 1e3
    return total


# --------------------------------------------------------- streaming


class StreamingProgress:
    """Collects ``StreamingQueryProgress`` events. Events arrive on the
    py4j callback thread, hence the lock."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self._lock = threading.Lock()
        self._events: list = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with outer._lock:
                    outer._events.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def take(self) -> dict[str, float]:
        """Counters of the progress events received since the last call."""
        with self._lock:
            events, self._events = self._events, []
        m = {
            "streaming.batches": float(len(events)),
            "streaming.batch_s": 0.0,
            "streaming.state_rows": 0.0,
            "streaming.state_bytes": 0.0,
            "streaming.state_commit_s": 0.0,
        }
        last_per_query = {}
        for p in events:
            m["streaming.batch_s"] += p.durationMs.get("triggerExecution", 0) / 1e3
            for op in p.stateOperators:
                m["streaming.state_commit_s"] += op.commitTimeMs / 1e3
            last_per_query[str(p.id)] = p
        for p in last_per_query.values():
            for op in p.stateOperators:
                m["streaming.state_rows"] += op.numRowsTotal
                m["streaming.state_bytes"] += op.memoryUsedBytes
        return m

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


# ------------------------------------------------------------ probe


class Probe:
    """Per-operation layer reads for traced operations. The workload
    calls ``begin`` before the operation, ``after_work`` in the pause
    after its terminal action, ``before_release`` at the end of that
    pause and ``after_release`` once the operation is over."""

    def __init__(self, spark, tree: ProcTree):
        self.status = StatusReader(spark)
        self.stream = StreamingProgress(spark)
        self.tree = tree

    def begin(self) -> None:
        self.status.mark()
        self.stream.take()
        self._py_cpu = self.tree.python_worker_cpu_s()

    def after_work(self, windows: dict[str, tuple[float, float]], df) -> dict[str, float]:
        m, stages, executions = self.status.collect()
        exec0, exec1 = windows["exec"]
        busy = covered(
            (max(a, exec0), min(b, exec1)) for a, b, _ in stages if min(b, exec1) > max(a, exec0)
        )
        m["queries.driver_gap_s"] = max(0.0, (exec1 - exec0) - busy)
        m["queries.planning_s"] = planning_s(df)
        py = self.status.node_metrics(executions, _is_python_node)
        for metric, key in PY_METRICS.items():
            m[key] = py.get(metric, 0.0)
        m["sources.partitions"] = m["sources.rows_fetched"] = 0.0
        self.status_rows = 0.0
        if "fetch" in windows:
            f0, f1 = windows["fetch"]
            m["sources.partitions"] = float(
                sum(tasks for a, _, tasks in stages if f0 <= a <= f1)
            )
            fetch_execs = [
                e for e in executions if f0 <= e.submissionTime() / 1e3 <= f1
            ]
            for e in fetch_execs:
                rows = self.status.node_metrics([e], _is_source_scan).get(
                    "number of output rows", 0.0
                )
                m["sources.rows_fetched"] += rows
                # the status entity's scan is the one whose output holds
                # the wire field dateTime
                if "dateTime#" in e.physicalPlanDescription():
                    self.status_rows += rows
        m["blocks.pinned_bytes"] = self.status.pinned_bytes()
        return m

    def before_release(self) -> None:
        # jobs the benchmark's own output check ran are not the operation's
        self.status.mark()

    def after_release(self) -> dict[str, float]:
        m = self.stream.take()
        m["functions.py_worker_cpu_s"] = self.tree.python_worker_cpu_s() - self._py_cpu
        return m

    def close(self) -> None:
        self.stream.close()


def _is_python_node(name: str) -> bool:
    # Python UDF nodes, Python data-source scans and the Python sink
    return any(
        k in name for k in ("Python", "Pandas", "Arrow", "UDTF", "BatchScan", "AppendData")
    )


def _is_source_scan(name: str) -> bool:
    return name.startswith("BatchScan")
