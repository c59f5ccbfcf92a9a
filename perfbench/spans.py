"""Measurement from outside the engine: spans, Spark's event log, host noise.

Spans are recorded by the benchmark around its calls into each layer and
every action it issues. A span names a Spark job group when it is entered, so
the event log's task metrics can be folded per layer afterwards.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans of one run. While disabled, ``span`` records nothing
    and sets no job group, so untraced iterations pay for neither."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.iteration = None
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "iteration": self.iteration,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["name"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def seconds(self, name: str) -> float:
        """Summed duration of every span with this name."""
        return sum(self.durations(name))


def fold_event_log(path: str) -> tuple[dict, dict]:
    """Fold an uncompressed Spark event log into per-job task totals,
    {job id: {"group", "submit" (epoch s), "tasks", "run_ms", ...}}, and the
    SQL executions, {execution id: {"start", "end" (epoch s), "plan"}}.

    ``files_read_b`` is the scan node's "size of files read" SQL metric of
    the job's SQL execution (the tasks' input metrics report only a few KB
    for a full scan here); the scan fills it in while it is planned, not in
    tasks, so it
    arrives as an accumulator update event keyed by the id the plan names.
    """
    jobs, stage_job, exec_jobs, execs = {}, {}, {}, {}
    size_ids, exec_bytes = set(), {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = jobs[ev["Job ID"]] = _empty()
                job["group"] = props.get("spark.jobGroup.id")
                job["submit"] = ev["Submission Time"] / 1e3
                job["jobs"] = 1
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = job
                if "spark.sql.execution.id" in props:
                    exec_jobs.setdefault(int(props["spark.sql.execution.id"]), []).append(job)
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                job, m = stage_job[ev["Stage ID"]], ev["Task Metrics"]
                shuffle_read = m["Shuffle Read Metrics"]
                job["tasks"] += 1
                job["run_ms"].append(m["Executor Run Time"])
                if shuffle_read["Remote Bytes Read"] + shuffle_read["Local Bytes Read"]:
                    job["shuffle_read_run_ms"].append(m["Executor Run Time"])
                job["cpu_ns"] += m["Executor CPU Time"]
                job["gc_ms"] += m["JVM GC Time"]
                job["shuffle_write_b"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                job["spill_b"] += m["Disk Bytes Spilled"]
            elif "sparkPlanInfo" in ev:  # SQL execution start / adaptive update
                size_ids.update(_metric_ids(ev["sparkPlanInfo"], "size of files read"))
                if kind.endswith("SparkListenerSQLExecutionStart"):
                    execs[ev["executionId"]] = {
                        "start": ev["time"] / 1e3,
                        "end": None,
                        "plan": ev["physicalPlanDescription"],
                    }
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                execs[ev["executionId"]]["end"] = ev["time"] / 1e3
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    if acc_id in size_ids:
                        exec_bytes[ev["executionId"]] = exec_bytes.get(ev["executionId"], 0) + value
    for exec_id, b in exec_bytes.items():
        first, *_ = exec_jobs.get(exec_id, [None])
        if first is not None:
            first["files_read_b"] += b
    return jobs, execs


def _metric_ids(plan: dict, name: str):
    for m in plan.get("metrics", []):
        if m["name"] == name:
            yield m["accumulatorId"]
    for child in plan.get("children", []):
        yield from _metric_ids(child, name)


_TOTALS = ("jobs", "tasks", "run_ms", "shuffle_read_run_ms", "cpu_ns", "gc_ms",
           "shuffle_write_b", "spill_b", "files_read_b")


def _empty() -> dict:
    return {k: [] if k.endswith("run_ms") else 0 for k in _TOTALS}


def totals(jobs: dict, keep) -> dict:
    """Summed totals of the jobs for which ``keep(job)`` holds."""
    out = _empty()
    for job in jobs.values():
        if keep(job):
            for k in _TOTALS:
                out[k] = out[k] + job[k]
    return out


def task_skew(run_ms: list[int]) -> float:
    """max ÷ median task time (1.0 for a single task)."""
    if not run_ms:
        return 1.0
    med = statistics.median(run_ms)
    return max(run_ms) / med if med else 1.0


def event_log_file(log_dir: str) -> str:
    """The one finished application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {names}")
    return os.path.join(log_dir, names[0])


# -- host -------------------------------------------------------------------

def _cpu_ticks(pid: int | str) -> int:
    """utime+stime (+ reaped children) of one process, in clock ticks."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15])


def host_sample(pids: list[int]) -> dict:
    """A /proc snapshot: system-wide CPU ticks by kind and our processes' ticks."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:9]]
    ours = 0
    for pid in pids:
        try:
            ours += _cpu_ticks(pid)
        except FileNotFoundError:
            pass
    return {"cpu": cpu, "ours": ours}


def host_noise(a: dict, b: dict) -> dict:
    """CPU steal, and the share of all CPU time between two samples that was
    not charged to the sampled processes (other processes, their children,
    kernel threads such as writeback)."""
    d = [y - x for x, y in zip(a["cpu"], b["cpu"])]
    total = sum(d) or 1
    busy = total - d[3] - d[4]  # minus idle and iowait
    return {
        "steal_pct": 100.0 * d[7] / total,
        "other_cpu_pct": 100.0 * max(busy - d[7] - (b["ours"] - a["ours"]), 0) / total,
    }


def jvm_memory_mb(spark) -> dict:
    """The driver JVM's memory as its management beans report it: the summed
    peak use of the heap pools (an upper bound on the peak heap in use, as
    pools peak at different times) and the non-heap memory in use now."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap_peak = sum(
        pool.getPeakUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().toString() == "Heap memory"
    )
    non_heap = mf.getMemoryMXBean().getNonHeapMemoryUsage().getUsed()
    return {"heap_peak_mb": heap_peak / 2**20, "non_heap_mb": non_heap / 2**20}


def peak_rss_mb(pid: int) -> float:
    """VmHWM of one process."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
