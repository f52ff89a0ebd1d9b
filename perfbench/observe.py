"""What the benchmark observes from outside the program: spans around its
own calls, process-tree memory and CPU from ``/proc``, box context, and the
per-stage table parsed from Spark's JSON event log."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Spans:
    """In-memory spans (name, start, end, parent); written out at the end."""

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        row = {"id": len(self.rows), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.rows.append(row)
        self._stack.append(row["id"])
        t0 = time.perf_counter()
        try:
            yield row
        finally:
            row["secs"] = time.perf_counter() - t0
            row["end"] = time.time()
            self._stack.pop()


# ---------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()  # fields from 'state' on


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime (+ reaped children) of ``root`` and its descendants."""
    ticks = 0
    for pid in [root, *descendants(root)]:
        st = _stat_fields(pid)
        if st:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _CLK_TCK


def tree_pss_mb(root: int) -> tuple[float, int]:
    """Summed proportional set size (PSS) of the descendants of ``root``
    (the driver JVM and its Python workers; the benchmark process itself
    is excluded), and how many processes that is. PSS is RSS with each
    shared page divided among the processes sharing it, so the sum counts
    memory once: a JVM that forks a helper process, or a daemon's forked
    workers, would be counted twice or more by summed RSS."""
    kb = n = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            n += 1
        except (OSError, StopIteration):
            pass
    return kb / 1024, n


class PssSampler:
    """Background thread sampling the process-tree PSS; ``peak_mb`` is the
    largest sum seen while the sampler ran, ``peak_procs`` the number of
    processes in that sum."""

    def __init__(self, root: int, period: float = 0.25) -> None:
        self.root, self.period = root, period
        self.peak_mb, self.peak_procs = 0.0, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        mb, n = tree_pss_mb(self.root)
        if mb > self.peak_mb:
            self.peak_mb, self.peak_procs = mb, n

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def box_context() -> dict:
    """nproc, load average and cumulative steal ticks: what else ran."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {
        "time": time.time(),
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": load,
        "steal_ticks": int(cpu[8]) if len(cpu) > 8 else 0,
        "total_ticks": sum(int(x) for x in cpu[1:]),
    }


# ----------------------------------------------------------- event log

STAGE_GROUPS = ("prepass", "scan", "exchange", "kernel", "write", "manifest", "other")


def _group(scopes: set[str], call_site: str) -> str:
    """Map a Spark stage onto the job's logical steps, by the call site
    that submitted it and the physical operators (RDD scopes) it ran."""
    if "extract_job.py" in call_site or "partitioning.py" in call_site:
        return "prepass"
    if "MapInPandas" in scopes:
        return "kernel"
    if "WriteFiles" in scopes:
        return "manifest" if "ObjectHashAggregate" in scopes else "write"
    if any(s.startswith("Scan ") for s in scopes):
        return "manifest" if "ObjectHashAggregate" in scopes else "scan"
    if "AQEShuffleRead" in scopes:
        return "exchange"
    return "other"


def read_event_log(path: str) -> list[dict]:
    """One row per completed stage: group, wall window, task durations,
    executor run/CPU/GC seconds, spill and shuffle bytes."""
    stages: dict[tuple[int, int], dict] = {}
    call_sites: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                site = (ev.get("Properties") or {}).get("callSite.short") or ""
                for sid in ev.get("Stage IDs", []):
                    call_sites[sid] = site
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                info = ev["Task Info"]
                stages.setdefault(key, {"tasks": []})["tasks"].append(
                    (info["Finish Time"] - info["Launch Time"]) / 1000)
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                key = (si["Stage ID"], si["Stage Attempt ID"])
                scopes = set()
                for rdd in si.get("RDD Info", []):
                    if rdd.get("Scope"):
                        scopes.add(json.loads(rdd["Scope"])["name"])
                acc = {a["Name"]: a.get("Value") for a in si.get("Accumulables", [])}

                def metric(name: str) -> float:
                    return float(acc.get(f"internal.metrics.{name}", 0) or 0)

                stages.setdefault(key, {"tasks": []}).update(
                    stage_id=si["Stage ID"],
                    group=_group(scopes, call_sites.get(si["Stage ID"], si["Stage Name"])),
                    submitted=si.get("Submission Time", 0) / 1000,
                    completed=si.get("Completion Time", 0) / 1000,
                    executor_run_s=metric("executorRunTime") / 1000,
                    executor_cpu_s=metric("executorCpuTime") / 1e9,
                    gc_s=metric("jvmGCTime") / 1000,
                    spill_mb=(metric("memoryBytesSpilled") + metric("diskBytesSpilled")) / 1e6,
                    shuffle_write_mb=metric("shuffle.write.bytesWritten") / 1e6,
                    output_mb=metric("output.bytesWritten") / 1e6,
                )
    return [s for s in stages.values() if "group" in s]


def stages_in(stages: list[dict], start: float, end: float) -> list[dict]:
    """Stages submitted inside the wall-clock window [start, end]."""
    return [s for s in stages if start - 0.05 <= s["submitted"] <= end + 0.05]


def max_over_median(xs: list[float]) -> float:
    med = statistics.median(xs) if xs else 0.0
    return max(xs) / med if med > 0 else 0.0


def stage_table(stages: list[dict]) -> dict[str, dict[str, float]]:
    """Per logical group: executor run, max/median task time, spill, GC."""
    out = {}
    for g in STAGE_GROUPS:
        rows = [s for s in stages if s["group"] == g]
        out[g] = {
            "executor_run_s": sum(s["executor_run_s"] for s in rows),
            "task_s_max_over_median": max_over_median([t for s in rows for t in s["tasks"]]),
            "spill_mb": sum(s["spill_mb"] for s in rows),
            "gc_s": sum(s["gc_s"] for s in rows),
        }
    return out
