"""Spans and per-layer counters, recorded from outside the library.

Spans are kept in memory (name, start, end, parent, op id) and written
out when the run ends. A layer's self time is its span's duration minus
the time its child spans cover. Job, stage and task counts come from
``setJobGroup`` + ``statusTracker()``; shuffle, spill and input bytes
come from the Spark event log, which only traced runs enable; GC time
from the JVM's collector beans.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


def _stat_fields(path: str) -> list[str]:
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``pid`` (this
    process by default) and every process below it, reaped children
    included: the Python client, the JVM with its JIT and GC threads,
    and Spark's Python workers. Linux accounts the time the hypervisor
    gives to other guests as steal, not to the process, so the figure
    does not grow with the host's load the way wall time does."""
    ticks = 0
    stack = [pid or os.getpid()]
    while stack:
        p = stack.pop()
        try:
            ticks += sum(int(x) for x in _stat_fields(f"/proc/{p}/stat")[11:15])  # utime stime cutime cstime
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    stack += [int(c) for c in fh.read().split()]
        except (OSError, ValueError):
            continue  # the process ended meanwhile
    return ticks / os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[dict]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [
            {
                "op": s["op"],
                "name": s["name"],
                "self_s": (s["end"] - s["start"]) - child[s["id"]],
            }
            for s in self.spans
        ]

    def layer_totals(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.self_times():
            out[s["name"]] += s["self_s"]
        return dict(out)


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stages = tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            s = st.getStageInfo(sid)
            if s is None or s.numTasks == 0:
                continue
            stages += 1
            tasks += s.numCompletedTasks + s.numFailedTasks
            failed += s.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def storage_used_mb(sc) -> float:
    """Memory and disk held by cached / checkpointed RDD blocks."""
    total = 0
    for info in sc._jsc.sc().getRDDStorageInfo():
        total += info.memSize() + info.diskSize()
    return total / 2**20


def jvm_gc_ms(sc) -> int:
    """Collection time of the JVM so far, over all collectors. In local
    mode this one JVM runs the whole application, executors included."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


def catalyst_phases_ms(df) -> dict[str, float]:
    """Force the physical plan, then read QueryPlanningTracker phases."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {
        k: float(phases.apply(k).durationMs()) if phases.contains(k) else 0.0
        for k in ("analysis", "optimization", "planning")
    }


def event_log_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics from the event log per job group."""
    stage_group: dict[int, str] = {}
    sums: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    g = sums[group]
                    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return {k: dict(v) for k, v in sums.items()}


def _java_pid(pid: int) -> int | None:
    """``pid`` or its first descendant whose command is java."""
    todo = [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().strip() == "java":
                    return p
            with open(f"/proc/{p}/task/{p}/children") as fh:
                todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return None


def jvm_peak_rss_mb(gateway_proc) -> float:
    """VmHWM of the gateway JVM (Linux /proc)."""
    pid = _java_pid(gateway_proc.pid) if gateway_proc is not None else None
    if pid is None:
        return float("nan")
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )
