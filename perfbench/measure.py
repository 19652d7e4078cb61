"""Host-side measurements: the process tree from /proc, a probe of the
host's current speed, and Spark's own status store (the data behind the
Spark UI and its REST API, read over py4j so the benchmark needs no UI
port).
"""

from __future__ import annotations

import os
import re
import statistics
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name sits in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def since_process_start() -> float:
    """Seconds since this process started, from the kernel's record."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / CLK_TCK


def process_tree(root: int | None = None) -> list[int]:
    """root and all its live descendants (driver, JVM, Python workers)."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid = int(_stat_fields(int(name))[1])
            except (OSError, ValueError):
                continue  # exited while listing
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """user+sys CPU seconds of the processes, including children they
    have reaped."""
    total = 0
    for pid in pids:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def tree_peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the processes, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def host_probe_ms(reps: int = 7) -> float:
    """Median wall time, in ms, of a fixed pure-Python loop on one core:
    how fast this host runs just now. On a shared host it moves with
    the other tenants' load (~1.5x between quiet and busy spells), and
    docs_per_s moves with it; print it so a run can be read against it."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        s = 0
        for i in range(200_000):
            s += i * i % 7
        times.append(time.perf_counter() - t)
    return statistics.median(times) * 1000


def host_ram_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_sql_metric(text: str) -> float:
    """A SQL-node metric as the status store formats it, e.g. '12,000',
    '450 ms' or 'total (min, med, max ...)\\n3.6 MiB (897.7 KiB, ...)',
    as seconds, bytes or a count."""
    line = text.strip().splitlines()[-1].split(" (")[0].strip()
    m = re.fullmatch(r"([0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class StatusStore:
    """Stage, job and SQL-node metrics recorded by this SparkContext."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.app = self.sc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def settle(self) -> None:
        """Wait until every listener event has reached the store."""
        self.sc.listenerBus().waitUntilEmpty(30_000)

    def mark(self) -> dict:
        """A point to diff against: the jobs, stages and SQL executions
        seen so far."""
        self.settle()
        return {"jobs": self.app.jobsList(None).size(),
                "stages": {k for k, _ in self._stages()},
                "sql": self._last_execution()}

    def _stages(self):
        gw = self.spark.sparkContext._gateway
        seq = self.app.stageList(None, False, False,
                                 gw.new_array(gw.jvm.double, 0), None)
        for i in range(seq.size()):
            s = seq.apply(i)
            yield (s.stageId(), s.attemptId()), s

    def _last_execution(self) -> int:
        ex = self.sql.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())),
                   default=-1)

    def task_totals(self, since: dict) -> dict:
        """Task metrics summed over the complete stages since a mark,
        plus the widest stage's max / median task run time."""
        self.settle()
        out = {"jobs": self.app.jobsList(None).size() - since["jobs"],
               "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
               "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        widest = None
        for key, s in self._stages():
            if key in since["stages"] or s.status().toString() != "COMPLETE":
                continue
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += (s.memoryBytesSpilled()
                                   + s.diskBytesSpilled())
            rank = (s.numCompleteTasks(), s.executorRunTime())
            if widest is None or rank > widest[0]:
                widest = (rank, key)
        out["task_skew"] = self._skew(*widest[1]) if widest else 0.0
        return out

    def _skew(self, stage_id: int, attempt: int) -> float:
        gw = self.spark.sparkContext._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.app.taskSummary(stage_id, attempt, q)
        if not summary.isDefined():
            return 0.0
        run_ms = summary.get().executorRunTime()
        med, top = run_ms.apply(0), run_ms.apply(1)
        return top / max(med, 1.0)  # run times are whole ms

    def sql_nodes(self, since: dict, node_name: str) -> list[dict]:
        """Metrics of every plan node whose name starts with node_name
        in the SQL executions since a mark, one dict per node."""
        self.settle()
        ex = self.sql.executionsList()
        nodes = []
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            if eid <= since["sql"]:
                continue
            values = self.sql.executionMetrics(eid)
            graph = self.sql.planGraph(eid).allNodes()
            for j in range(graph.size()):
                node = graph.apply(j)
                if not node.name().startswith(node_name):
                    continue
                metrics = {}
                seq = node.metrics()
                for k in range(seq.size()):
                    m = seq.apply(k)
                    v = values.get(m.accumulatorId())
                    metrics[m.name()] = (parse_sql_metric(v.get())
                                         if v.isDefined() else 0.0)
                nodes.append(metrics)
        return nodes
