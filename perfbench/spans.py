"""Spans around calls into the engine's layers, and the parser that
joins them with Spark's event log.

A span is (name, start, end, JVM CPU at start and end, counters). In the
traced run each span tags its jobs with ``setJobGroup(name)`` and forces
the layer's output with an eager ``localCheckpoint`` so the layer's work
falls inside its span. Spans stay in memory and are written out when the
run ends. Untraced, a span only returns its body's result: no job group,
no forcing, no clock reads.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_cpu_s(pid: int) -> float:
    """utime + stime of a process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid() if enabled else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {"name": name, "counters": {}}
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        rec["jvm_cpu0"] = _proc_cpu_s(self.jvm_pid)
        rec["start_ms"] = time.time() * 1000.0
        try:
            yield rec["counters"]
        finally:
            rec["end_ms"] = time.time() * 1000.0
            rec["jvm_cpu1"] = _proc_cpu_s(self.jvm_pid)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def force(self, df):
        """Materialize a layer's output inside the current span."""
        return df.localCheckpoint(eager=True) if self.enabled else df


# ---------------------------------------------------------------- event log

def _events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def _plan_scan_metrics(plan: dict, out: dict) -> None:
    """accumulator id -> metric name, for the scan nodes of a plan."""
    if plan.get("nodeName", "").startswith("Scan"):
        for m in plan.get("metrics", []):
            if m["name"] in ("number of files read", "number of output rows"):
                out[m["accumulatorId"]] = m["name"]
    for ch in plan.get("children", []):
        _plan_scan_metrics(ch, out)


def parse_event_log(path: str) -> dict:
    """Jobs, stages (with task sums) and scan metrics from one
    uncompressed event log file."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    scan_ids: dict[int, str] = {}
    exec_scan: dict[int, dict] = {}
    acc_exec: dict[int, int] = {}
    for ev in _events(path):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "submit": ev["Submission Time"],
                "group": props.get("spark.jobGroup.id"),
                "exec": props.get("spark.sql.execution.id"),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            st = stages.setdefault(sid, _new_stage())
            st["submit"] = info.get("Submission Time")
            st["end"] = info.get("Completion Time")
            st["tasks"] = info.get("Number of Tasks", 0)
            st["job"] = stage_job.get(sid)
            for acc in info.get("Accumulables", []):
                aid = acc.get("ID")
                if aid in scan_ids:
                    st["scan"][scan_ids[aid]] = st["scan"].get(scan_ids[aid], 0) + int(acc.get("Value", 0))
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = stages.setdefault(sid, _new_stage())
            m = ev.get("Task Metrics") or {}
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["spill"] += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle"] += sw.get("Shuffle Bytes Written", 0)
            st["ntask"] += 1
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            ids: dict[int, str] = {}
            _plan_scan_metrics(ev.get("sparkPlanInfo", {}), ids)
            scan_ids.update(ids)
            for aid in ids:
                acc_exec[aid] = ev["executionId"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, val in ev.get("accumUpdates", []):
                if aid in scan_ids:
                    d = exec_scan.setdefault(ev["executionId"], {})
                    d[scan_ids[aid]] = d.get(scan_ids[aid], 0) + int(val)
    return {"jobs": jobs, "stages": stages, "exec_scan": exec_scan}


def _new_stage() -> dict:
    return {"run_ms": 0, "cpu_ns": 0, "spill": 0, "shuffle": 0, "ntask": 0, "scan": {}}


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute(spans: list[dict], log: dict) -> dict[str, dict]:
    """Per span name: wall, jobs, tasks, task time, task CPU, shuffle,
    spill, stage-free gap, JVM CPU and scan counts, summed over every
    span of that name. A job belongs to the span whose job group it
    carries; jobs without one (the streaming gate's micro-batches run on
    the stream's own thread) belong to the span whose interval holds
    their submission time."""
    out: dict[str, dict] = {}
    for s in spans:
        agg = out.setdefault(
            s["name"],
            {"wall_s": 0.0, "jobs": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
             "shuffle_bytes": 0, "spill_bytes": 0, "gap_s": 0.0, "jvm_cpu_s": 0.0,
             "files_read": 0, "scan_rows": 0, "calls": 0, "counters": {}},
        )
        agg["wall_s"] += (s["end_ms"] - s["start_ms"]) / 1000.0
        agg["jvm_cpu_s"] += s["jvm_cpu1"] - s["jvm_cpu0"]
        agg["calls"] += 1
        for k, v in s["counters"].items():
            agg["counters"][k] = agg["counters"].get(k, 0) + v

    def owner(job: dict):
        for s in spans:
            if job.get("group") == s["name"] and s["start_ms"] <= job["submit"] <= s["end_ms"] + 1:
                return s
        for s in spans:
            if s["start_ms"] <= job["submit"] <= s["end_ms"]:
                return s
        return None

    job_span = {jid: owner(j) for jid, j in log["jobs"].items()}
    per_span_intervals: dict[int, list] = {}
    seen_exec: dict[int, set] = {}
    for jid, s in job_span.items():
        if s is None:
            continue
        agg = out[s["name"]]
        agg["jobs"] += 1
        ex = log["jobs"][jid].get("exec")
        if ex is not None:
            seen_exec.setdefault(id(s), set()).add(int(ex))
    for sid, st in log["stages"].items():
        s = job_span.get(st.get("job"))
        if s is None or st.get("submit") is None:
            continue
        agg = out[s["name"]]
        agg["tasks"] += st["ntask"]
        agg["task_run_s"] += st["run_ms"] / 1000.0
        agg["task_cpu_s"] += st["cpu_ns"] / 1e9
        agg["shuffle_bytes"] += st["shuffle"]
        agg["spill_bytes"] += st["spill"]
        agg["scan_rows"] += st["scan"].get("number of output rows", 0)
        per_span_intervals.setdefault(id(s), []).append((st["submit"], st["end"] or st["submit"]))
    for s in spans:
        agg = out[s["name"]]
        covered = _covered_ms(per_span_intervals.get(id(s), []), s["start_ms"], s["end_ms"])
        agg["gap_s"] += ((s["end_ms"] - s["start_ms"]) - covered) / 1000.0
        for ex in seen_exec.get(id(s), ()):
            agg["files_read"] += log["exec_scan"].get(ex, {}).get("number of files read", 0)
    return out


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
