"""Measurement helpers for the benchmark:

- ``ProcTree``: CPU seconds (and the JVM's JIT compiler threads' part of
  them) and peak memory of this process and all its descendants (the JVM
  and its Python workers), read from ``/proc``;
- ``Tracer``: in-memory spans (name, start, end, parent, op id), written
  out once at the end of a run;
- ``SparkStats``: per-action counters harvested through py4j from Spark's
  SQL status store (operator metrics per execution) and the application
  status store (stage metrics), which work with the UI disabled.

Timestamps are ``time.perf_counter()``, which on Linux reads the
monotonic clock shared by every process, so spans written by Python
workers line up with the driver's.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
from collections import Counter

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _jit_ticks(pid: int) -> int:
    """utime+stime of the JIT compiler threads of JVM ``pid``."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:  # exited
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        if raw[raw.index("(") + 1 :].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = raw[raw.rindex(")") + 2 :].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


class ProcTree:
    """This process and its descendants."""

    def __init__(self):
        self.root = os.getpid()

    def _stats(self) -> dict[int, tuple[int, str, list[str]]]:
        out = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    raw = fh.read()
            except OSError:  # exited while listing
                continue
            comm = raw[raw.index("(") + 1 : raw.rindex(")")]
            fields = raw[raw.rindex(")") + 2 :].split()
            out[int(name)] = (int(fields[1]), comm, fields)
        return out

    def members(self) -> dict[int, tuple[str, list[str]]]:
        stats = self._stats()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _c, _f) in stats.items():
            children.setdefault(ppid, []).append(pid)
        found, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                found[pid] = stats[pid][1:]
                todo += children.get(pid, [])
        return found

    def cpu_s(self) -> tuple[float, float]:
        """(CPU seconds, of which JIT) so far: utime+stime of every live
        member plus what each has reaped (cutime+cstime), so exited Python
        workers still count; and the utime+stime of the JVM's JIT compiler
        threads, which the JVM keeps for its whole life when started with
        ``-XX:-UseDynamicNumberOfCompilerThreads``."""
        ticks = jit = 0
        for pid, (comm, f) in self.members().items():
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
            if comm == "java":
                jit += _jit_ticks(pid)
        return ticks / _CLK_TCK, jit / _CLK_TCK

    def peak_rss_mb(self) -> float:
        """VmHWM of this process plus the JVM."""
        total = 0
        for pid, (comm, _f) in self.members().items():
            if pid != self.root and comm != "java":
                continue
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
            except OSError:
                continue
        return total / 1024.0


class Tracer:
    """Spans kept in memory; disabled, ``span`` costs one generator step."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self.op}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, **extra) -> None:
        """A span recorded elsewhere (a Python worker); its parent is the
        innermost driver span that contains it."""
        parent = None
        for rec in self.spans:
            if rec["end"] is not None and rec["start"] <= start and end <= rec["end"]:
                if parent is None or rec["start"] >= self.spans[parent]["start"]:
                    parent = rec["id"]
        self.spans.append({"id": len(self.spans), "name": name, "start": start, "end": end,
                           "parent": parent, "op": self.spans[parent]["op"] if parent is not None else None,
                           **extra})

    def total(self, name: str, since: int = 0) -> float:
        return sum(s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name)

    def count(self, name: str, since: int = 0) -> int:
        return sum(1 for s in self.spans[since:] if s["name"] == name)

    def self_time(self, name: str, since: int = 0) -> float:
        """Duration of ``name`` spans minus the time their child spans cover."""
        child: Counter = Counter()
        for s in self.spans[since:]:
            if s["parent"] is not None and s["end"] is not None and "pid" not in s:
                child[s["parent"]] += s["end"] - s["start"]
        return sum(s["end"] - s["start"] - child[s["id"]]
                   for s in self.spans[since:] if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


_VALUE = re.compile(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_SCALE = {"": 1, "ms": 1e-3, "s": 1, "m": 60, "min": 60, "h": 3600, "ns": 1e-9,
          "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_NODE = re.compile(r'label="(?:<br>)?<b>([^<]*)</b><br><br>([^"]*)"')
_CLUSTER = re.compile(r'label="(WholeStageCodegen[^"\\]*)\\n \\n([^"]*)"')


def metric_value(text: str) -> float:
    """'2.6 s' -> 2.6, '64.0 MiB' -> 67108864.0, '1,200' -> 1200.0;
    a multi-task summary ('total (min, med, max)\\n...') reads its total."""
    m = _VALUE.match(text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1)


def plan_metrics(dot: str) -> list[tuple[str, dict[str, float]]]:
    """(node name, {metric: value}) for each node of a rendered plan graph."""
    out = []
    for name, body in _NODE.findall(dot):
        out.append((name.strip(), _pairs(body.split("<br>"))))
    for name, body in _CLUSTER.findall(dot):
        out.append((name.strip(), _pairs(body.split("\\n"))))
    return out


def _pairs(items: list[str]) -> dict[str, float]:
    vals = {}
    for item in items:
        key, sep, val = item.rpartition(": ")
        if sep:
            vals[key.strip()] = metric_value(val)
    return vals


_PY_START, _PY_INIT, _PY_RUN = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)
_PY_SENT, _PY_BACK = "data sent to Python workers", "data returned from Python workers"


class SparkStats:
    """Counters for everything Spark ran since the previous ``harvest``."""

    FIELDS = (
        "executions", "jobs", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "scan_nodes",
        "scan_time_s", "codegen_s", "broadcast_collect_s", "py_start_s", "py_init_s",
        "py_run_s", "py_bytes_sent", "py_bytes_returned", "py_eval_nodes",
    )

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gw = sc._gateway
        self._tracker = sc.statusTracker()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._jsc.statusStore()
        self._sync()
        self._exec = self._last_execution()
        self._stage = self._last_stage()
        self._job = self._last_job()

    def _sync(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _last_execution(self) -> int:
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def _last_stage(self) -> int:
        stages = self._stages()
        return stages.apply(0).stageId() if stages.size() else -1

    def _last_job(self) -> int:
        return max(self._tracker.getJobIdsForGroup(None) or [-1])

    def _stages(self):
        gw = self._gw
        return self._app.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)

    def harvest(self) -> dict[str, float]:
        self._sync()
        out = dict.fromkeys(self.FIELDS, 0.0)
        last_job = self._last_job()
        out["jobs"] = last_job - self._job
        self._job = last_job
        # SQL executions, listed oldest first; an eager builder starts several
        n = self._sql.executionsCount()
        recent = self._sql.executionsList(max(0, n - 256), 256)
        newest = self._exec
        for i in reversed(range(recent.size())):
            eid = recent.apply(i).executionId()
            if eid <= self._exec:
                break
            newest = max(newest, eid)
            out["executions"] += 1
            self._add_plan(out, eid)
        self._exec = newest
        # stages are listed newest first
        stages = self._stages()
        newest = self._stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._stage:
                break
            newest = max(newest, sid)
            out["tasks"] += s.numCompleteTasks()
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self._stage = newest
        return out

    def _add_plan(self, out: dict[str, float], eid: int) -> None:
        graph = self._sql.planGraph(eid)
        dot = graph.makeDotFile(self._sql.executionMetrics(eid))
        for name, vals in plan_metrics(dot):
            if name.startswith("Scan "):
                out["scan_nodes"] += 1
                out["scan_time_s"] += vals.get("scan time", 0.0)
            if name.startswith("WholeStageCodegen"):
                out["codegen_s"] += vals.get("duration", 0.0)
            out["broadcast_collect_s"] += vals.get("time to collect", 0.0)
            if _PY_RUN in vals or _PY_SENT in vals:
                out["py_eval_nodes"] += 1
                out["py_start_s"] += vals.get(_PY_START, 0.0)
                out["py_init_s"] += vals.get(_PY_INIT, 0.0)
                out["py_run_s"] += vals.get(_PY_RUN, 0.0)
                out["py_bytes_sent"] += vals.get(_PY_SENT, 0.0)
                out["py_bytes_returned"] += vals.get(_PY_BACK, 0.0)
