"""Run-time plumbing shared by the workloads: the Spark session, spans,
Spark job and task counters, and SQL metrics from executed plans.

Nothing here reaches into the engine: spans wrap the benchmark's own
calls into the package's public functions, and every counter comes from
Spark itself (the status tracker and the AQE final plan of the
operation's own ``queryExecution``).
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import subprocess
import time

# plan nodes whose SQL metrics feed the per-layer numbers
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInArrow")
JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")
STAGE_WRAPPERS = ("ResultQueryStage", "BroadcastQueryStage",
                  "ShuffleQueryStage", "TableCacheQueryStage")


class Tracer:
    """Spans kept in memory and written as JSON when the run ends.

    A span is (name, start, end, parent, op); ``start``/``end`` are
    seconds since the run began.  With ``enabled`` false every call is a
    no-op apart from the timing the caller asks for, so the untraced run
    pays nothing for it."""

    def __init__(self, enabled: bool, t0: float):
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, op: str | None = None):
        return _Span(self, name, op)

    def write(self, path: str, ops) -> None:
        """Write the spans, and each operation's latency and counters."""
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "ops": [{"name": o.name, "latency_s": o.latency,
                                "failed": o.failed, **o.layer} for o in ops]},
                      f, default=str)


class _Span:
    def __init__(self, tracer: Tracer, name: str, op: str | None):
        self.tracer, self.name, self.op = tracer, name, op
        self.seconds = 0.0

    def __enter__(self):
        self.start = time.perf_counter()
        tr = self.tracer
        if tr.enabled:
            self.index = len(tr.spans)
            tr.spans.append({
                "name": self.name, "op": self.op,
                "parent": tr._stack[-1] if tr._stack else None,
                "start": self.start - tr.t0, "end": None})
            tr._stack.append(self.index)
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.seconds = end - self.start
        tr = self.tracer
        if tr.enabled:
            tr._stack.pop()
            tr.spans[self.index]["end"] = end - tr.t0
        return False


def start_session(cpus: int):
    """Spark session on ``local[cpus]`` with the engine's defaults."""
    from sedona_db_spark.session import get_spark
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM process it launched has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()        # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Jobs:
    """Spark job accounting by job group (the UI is off, so the status
    tracker is the only source)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.groups: list[str] = []
        self._n = 0

    def group(self, label: str) -> str:
        """Tag every job started from now on with a fresh group id."""
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        self.groups.append(gid)
        return gid

    def count(self, gid: str) -> int:
        return len(self.tracker.getJobIdsForGroup(gid) or [])

    def failed_tasks(self) -> int:
        """Failed task attempts plus retried stage attempts, over every job
        of every group this object created."""
        seen, failed = set(), 0
        for gid in self.groups:
            for job in self.tracker.getJobIdsForGroup(gid) or []:
                info = self.tracker.getJobInfo(job)
                for sid in (info.stageIds if info else []):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:
                        failed += st.numFailedTasks + st.currentAttemptId
        return failed


def plan_metrics(df) -> dict:
    """Sum SQL metrics over the executed plan of ``df``'s own
    queryExecution; call after ``df`` was collected.  Walks into AQE query
    stages through ``.plan()`` and into the final plan of nested adaptive
    plans."""
    out = {"python_s": 0.0, "python_rows": 0, "python_bytes_sent": 0,
           "broadcast_bytes": 0, "shuffle_write_bytes": 0,
           "candidate_rows": 0}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if name.startswith(STAGE_WRAPPERS):
            stack.append(node.plan())
            continue
        if name.startswith("ReusedExchange"):
            continue                  # its metrics belong to the original

        m = _metrics_of(node)
        if name.startswith(PYTHON_NODES):
            out["python_s"] += m.get("pythonTotalTime", 0) / 1000.0
            out["python_rows"] += m.get("pythonNumRowsReceived", 0)
            out["python_bytes_sent"] += m.get("pythonDataSent", 0)
        if name.startswith("BroadcastExchange"):
            out["broadcast_bytes"] += m.get("dataSize", 0)
        if name == "Exchange":                # ShuffleExchangeExec's name
            out["shuffle_write_bytes"] += m.get("shuffleBytesWritten", 0)
        if name.startswith(JOIN_NODES):
            # the cell join emits the most rows; later joins only attach
            # payload columns to confirmed pairs
            out["candidate_rows"] = max(out["candidate_rows"],
                                        m.get("numOutputRows", 0))
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return out


def _metrics_of(node) -> dict:
    res = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        res[kv._1()] = kv._2().value()
    return res


def peak_rss_mb() -> float:
    """Peak resident set size of this (driver) process, in MiB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every live descendant
    (the JVM and its Python workers), with the reaped children each one
    has waited for.  The kernel charges a tick the hypervisor stole to
    steal time, not to the process; contention for shared cores and
    caches still shows here."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue                        # exited while we looked
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(v) for v in fields[11:15])
    tree, frontier = set(), [os.getpid()]
    while frontier:
        pid = frontier.pop()
        tree.add(pid)
        frontier += [c for c, pp in parent.items() if pp == pid and c not in tree]
    return sum(ticks.get(p, 0) for p in tree) / _TICK


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
