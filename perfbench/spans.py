"""Measurement plumbing: spans, Spark's status store, /proc readers.

Spans are recorded from the benchmark's own files around calls into
`beats_spark`, kept in memory and written out at exit. Each span notes the
Spark SQL executions and jobs that ran inside it; their metrics are read
from Spark's status store, which stays populated with the UI disabled.
"""

from __future__ import annotations

import os
import statistics
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")

# Spark's formatted metric units (Utils.msDurationToString, bytesToString)
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
    "TiB": 2.0 ** 40,
}


def parse_metric(text: str) -> float | None:
    """A formatted SQL metric ("10,000", "6.2 s", "1211.4 KiB", or a
    "total (min, med, max ...)" block) as seconds, bytes or a count."""
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    if not head:
        return None
    try:
        value = float(head[0].replace(",", ""))
    except ValueError:
        return None
    if len(head) > 1:
        if head[1] not in _UNITS:
            return None
        value *= _UNITS[head[1]]
    return value


def _seq(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


class StatusStore:
    """Read SQL plan metrics and stage/task data of a live SparkSession."""

    def __init__(self, spark):
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()

    def mark(self) -> tuple[int, int]:
        """(last SQL execution id, last job id) seen so far."""
        eids = [e.executionId() for e in _seq(self._sql.executionsList())]
        jids = [j.jobId() for j in _seq(self._app.jobsList(None))]
        return max(eids, default=-1), max(jids, default=-1)

    def window(self, before: tuple[int, int], after: tuple[int, int]) -> "Window":
        return Window(self, before, after)


class Window:
    """The executions, jobs and stages that ran between two marks."""

    def __init__(self, store: StatusStore, before, after):
        sql, app = store._sql, store._app
        self.nodes: list[tuple[str, dict[str, float]]] = []
        for e in _seq(sql.executionsList()):
            eid = e.executionId()
            if not before[0] < eid <= after[0]:
                continue
            values = {kv._1(): kv._2() for kv in _seq(sql.executionMetrics(eid))}
            for node in _seq(sql.planGraph(eid).allNodes()):
                metrics = {}
                for m in _seq(node.metrics()):
                    raw = values.get(m.accumulatorId())
                    parsed = parse_metric(raw) if raw is not None else None
                    if parsed is not None:
                        metrics[m.name()] = parsed
                self.nodes.append((node.name(), metrics))
        self.jobs = sorted(
            j.jobId() for j in _seq(app.jobsList(None))
            if before[1] < j.jobId() <= after[1]
        )
        stage_ids = set()
        for j in _seq(app.jobsList(None)):
            if before[1] < j.jobId() <= after[1]:
                stage_ids.update(_seq(j.stageIds()))
        self.stages = []
        for sid in sorted(stage_ids):
            st = app.lastStageAttempt(sid)
            if st.numCompleteTasks() == 0:
                continue  # skipped: its output was reused
            durations = [
                t.duration().get() / 1e3
                for t in _seq(app.taskList(sid, st.attemptId(), 100_000))
                if t.duration().isDefined()
            ]
            self.stages.append({
                "id": sid,
                "tasks": st.numCompleteTasks(),
                "run_s": st.executorRunTime() / 1e3,
                "gc_s": st.jvmGcTime() / 1e3,
                "shuffle_bytes": float(st.shuffleWriteBytes()),
                "spill_bytes": float(st.memoryBytesSpilled() + st.diskBytesSpilled()),
                "task_s": durations,
            })

    def node_sum(self, metric: str, name_prefix: str = "") -> float:
        return sum(
            m.get(metric, 0.0) for n, m in self.nodes if n.startswith(name_prefix)
        )

    def node_max(self, metric: str, name_prefix: str = "") -> float:
        return max(
            (m[metric] for n, m in self.nodes
             if n.startswith(name_prefix) and metric in m),
            default=0.0,
        )

    def stage_sum(self, key: str) -> float:
        return sum(s[key] for s in self.stages)

    def python_metrics(self) -> dict[str, float]:
        """ArrowEvalPython: worker start/init/run time, bytes each way."""
        p = "ArrowEvalPython"
        return {
            "py_start_s": self.node_sum("time to start Python workers", p),
            "py_init_s": self.node_sum("time to initialize Python workers", p),
            "py_run_s": self.node_sum("time to run Python workers", p),
            "bytes_to_py": self.node_sum("data sent to Python workers", p),
            "bytes_from_py": self.node_sum("data returned from Python workers", p),
        }

    def spark_totals(self) -> dict[str, float]:
        return {
            "spark.jobs": float(len(self.jobs)),
            "spark.tasks": float(self.stage_sum("tasks")),
            "spark.gc_s": self.stage_sum("gc_s"),
            "spark.shuffle_bytes": self.stage_sum("shuffle_bytes"),
            "spark.spill_bytes": self.stage_sum("spill_bytes"),
        }


class Tracer:
    """In-memory spans around calls into the program's layers."""

    def __init__(self, store: StatusStore):
        self.store = store
        self.spans: list[dict] = []

    def span(self, name: str, fn):
        """Run fn(), record its span, return (result, Window of its work)."""
        before = self.store.mark()
        t0 = time.perf_counter()
        result = fn()
        t1 = time.perf_counter()
        after = self.store.mark()
        self.spans.append({
            "name": name, "start": t0, "end": t1,
            "wall_s": t1 - t0, "executions": [before[0] + 1, after[0]],
            "jobs": [before[1] + 1, after[1]],
        })
        return result, self.store.window(before, after)


# -- /proc readers ----------------------------------------------------------


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_tree(root: int) -> list[int]:
    """root and every live descendant."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                ppid = int(_stat_fields(int(d))[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in process_tree(root):
        try:
            f = _stat_fields(pid)
        except (OSError, IndexError):
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK_TCK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_pct(before: list[int], after: list[int]) -> dict[str, float]:
    """steal and iowait as a percentage of all jiffies between two reads."""
    dt = sum(after) - sum(before)
    if dt <= 0:
        return {"host.steal_pct": 0.0, "host.iowait_pct": 0.0}
    return {
        "host.steal_pct": 100.0 * (after[7] - before[7]) / dt,
        "host.iowait_pct": 100.0 * (after[4] - before[4]) / dt,
    }


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; the single value for one sample."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]
