"""Per-layer table and metrics of a traced run."""

from __future__ import annotations

import json
import os

import spans

# Every span any workload records, in pipeline order. A span a workload
# does not run reports zero calls.
SPANS = (
    "sources.read", "pipelines.clean", "pipelines.sale_report", "reshape.pivot",
    "merge", "writers.publish", "query.build", "query.exec", "streaming.gate",
    "textstats.filter", "dedup.exact", "dedup.pairs", "dedup.cc", "export.write",
)
# counters a workload adds to its spans: (span, counter, metric, unit)
COUNTERS = (
    ("sources.read", "read_rows", "sources.read_rows", "count"),
    ("pipelines.clean", "clean_rows", "pipelines.clean_rows", "count"),
    ("merge", "rows_in", "merge.rows_in", "count"),
    ("merge", "rows_changed", "merge.rows_changed", "count"),
    ("writers.publish", "bytes", "writers.bytes", "B"),
    ("writers.publish", "files", "writers.files", "count"),
    ("streaming.gate", "epochs", "streaming.epochs", "count"),
    ("dedup.pairs", "pairs", "dedup.pairs", "count"),
    ("export.write", "bytes", "export.bytes", "B"),
)


def _row(name: str, r: dict, wall: float) -> str:
    return (f"{name:<22}{r['calls']:>6}{r['wall_s']:>9.3f}{100 * r['wall_s'] / wall:>7.1f}"
            f"{r['jobs']:>6}{r['tasks']:>7}{r['task_cpu_s']:>8.2f}"
            f"{r['task_run_s'] / max(r['wall_s'], 1e-9):>6.2f}{r['gap_s']:>8.3f}"
            f"{r['shuffle_bytes'] / 1e6:>8.2f}{r['spill_bytes'] / 1e6:>8.2f}{r['jvm_cpu_s']:>8.2f}")


def per_layer(work: str, traced: dict, untraced: dict, setup_trace, start_s: float,
              warmup_s: float) -> dict:
    """Print the per-layer table; return the per-layer metrics.

    A traced run has one or two segments: the set-up import when the
    workload has one (traced on its first, cold pass) and the timed
    phase. Each span's share is of its own segment's wall time; spans
    plus the time outside them add up to the segment."""
    segments = [("timed phase", traced["tracer"], traced["wall_s"])]
    if setup_trace is not None:
        segments.insert(0, ("set-up import", setup_trace[0], setup_trace[1]))
    log = spans.parse_event_log(spans.find_event_log(os.path.join(work, "eventlog")))
    by = spans.attribute([s for _, tr, _ in segments for s in tr.spans], log)
    os.makedirs(os.path.join(work, "..", "traces"), exist_ok=True)
    with open(os.path.join(work, "..", "traces", "spans.json"), "w") as f:
        json.dump({seg: tr.spans for seg, tr, _ in segments}, f)

    empty = {"wall_s": 0.0, "jobs": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
             "shuffle_bytes": 0, "spill_bytes": 0, "gap_s": 0.0, "jvm_cpu_s": 0.0,
             "files_read": 0, "scan_rows": 0, "calls": 0, "counters": {}}
    rows = {name: by.get(name, empty) for name in SPANS}
    seg_wall = {}
    head = (f"{'span':<22}{'calls':>6}{'wall_s':>9}{'%':>7}{'jobs':>6}{'tasks':>7}"
            f"{'cpu_s':>8}{'par':>6}{'gap_s':>8}{'shufMB':>8}{'spillMB':>8}{'jvm_s':>8}")
    for seg, tr, wall in segments:
        names = [n for n in SPANS if any(s["name"] == n for s in tr.spans)]
        seg_wall.update({n: wall for n in names})
        seg_rows = [rows[n] for n in names]
        total = {k: sum(r[k] for r in seg_rows) for k in empty if k != "counters"}
        total["calls"] = ""
        print(f"-- {seg}")
        print(head)
        for n in names:
            print(_row(n, rows[n], wall))
        other = wall - total["wall_s"]
        print(f"{'(outside spans)':<22}{'':>6}{other:>9.3f}{100 * other / wall:>7.1f}")
        total["wall_s"] = wall
        print(_row(seg, total, wall))
        if seg == "timed phase":
            phase = dict(total, other=other)
    overhead = (traced["wall_s"] / untraced["wall_s"] - 1.0) * 100.0
    print(f"timed phase untraced {untraced['wall_s']:.3f} s, traced {traced['wall_s']:.3f} s: "
          f"tracing overhead {overhead:+.1f}% (forced layer outputs break cross-layer fusion)")
    print(f"session start {start_s:.3f} s, rest of set-up {warmup_s:.3f} s")

    wall = traced["wall_s"]
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "trace.overhead_pct": (overhead, "%"),
        "phase.wall_s": (wall, "s"),
        "phase.other_pct": (100.0 * phase["other"] / wall, "%"),
        "phase.gap_pct": (100.0 * phase["gap_s"] / wall, "%"),
        "phase.parallelism": (phase["task_run_s"] / wall, "x"),
        "phase.task_cpu_s": (phase["task_cpu_s"], "s"),
        "phase.jvm_cpu_s": (phase["jvm_cpu_s"], "s"),
        "phase.jobs": (phase["jobs"], "count"),
        "phase.tasks": (phase["tasks"], "count"),
        "phase.shuffle_bytes": (phase["shuffle_bytes"], "B"),
        "phase.spill_bytes": (phase["spill_bytes"], "B"),
    }
    for name, r in rows.items():
        w = r["wall_s"]
        m[f"{name}.pct"] = (100.0 * w / seg_wall[name] if name in seg_wall else 0.0, "%")
        m[f"{name}.jobs"] = (r["jobs"], "count")
        m[f"{name}.tasks"] = (r["tasks"], "count")
        m[f"{name}.parallelism"] = (r["task_run_s"] / w if w else 0.0, "x")
        m[f"{name}.gap_pct"] = (100.0 * r["gap_s"] / w if w else 0.0, "%")
        m[f"{name}.shuffle_bytes"] = (r["shuffle_bytes"], "B")
    for span, counter, metric, unit in COUNTERS:
        m[metric] = (rows[span]["counters"].get(counter, 0), unit)
    q = rows["query.exec"]
    lookups = q["calls"]
    returned = q["counters"].get("rows", 0)
    m["query.files_scanned"] = (q["files_read"] / lookups if lookups else 0.0, "count")
    m["query.rows_scanned_per_row"] = (q["scan_rows"] / returned if returned else 0.0, "count")
    g = rows["streaming.gate"]["counters"]
    m["streaming.admitted_ratio"] = (g.get("admitted", 0) / g["docs"] if g.get("docs") else 0.0, "ratio")
    return m
