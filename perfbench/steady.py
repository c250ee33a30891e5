"""Steadiness command: repeat one workload over several seeds, each in
its own process, and print every metric's median, quartiles and spread
(the distance between the quartiles as a share of the median), with
each run's wall time and the peak RSS of its largest process (the JVM).

    python3 perfbench/steady.py --workload statement_lookups,corpus_curation --seeds 1-10

Run from the repository root. With several workloads, each seed runs
every workload in turn, so slow drift of the host reaches all of them
alike. Every run's result line is appended to ``--out`` (JSON lines) so
two sets can be compared later.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t = time.perf_counter()
    steal0, total0 = _cpu_ticks()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    steal1, total1 = _cpu_ticks()
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    jvm = [float(x.split()[3]) for x in lines if x.startswith("jvm peak RSS:")]
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return {"workload": workload, "seed": seed, "exit": proc.returncode, "wall_s": wall,
            "jvm_peak_rss_mb": jvm[0] if jvm else float("nan"), "result": result,
            "steal_pct": 100.0 * (steal1 - steal0) / max(total1 - total0, 1),
            "stderr_tail": proc.stderr[-4000:]
            if result is None or result["failed"] or not result["correct"] else ""}


def summarize(runs: list[dict]) -> None:
    names = sorted({k for r in runs if r["result"] for k in r["result"]["metrics"]})
    print(f"{'metric':<28}{'unit':>7}{'q1':>14}{'median':>14}{'q3':>14}{'spread':>9}")
    for n in names:
        vals = [r["result"]["metrics"][n]["value"] for r in runs
                if r["result"] and n in r["result"]["metrics"]]
        unit = next(r["result"]["metrics"][n]["unit"] for r in runs
                    if r["result"] and n in r["result"]["metrics"])
        if len(vals) >= 2:
            q1, med, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = med = q3 = vals[0]
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{n:<28}{unit:>7}{q1:>14.4f}{med:>14.4f}{q3:>14.4f}{spread:>9.3f}")
    ok = [r for r in runs if r["result"]]
    fails = {r["seed"]: r["exit"] for r in runs if not r["result"] or not r["result"]["correct"]}
    att = sum(r["result"]["attempted"] for r in ok)
    fai = sum(r["result"]["failed"] for r in ok)
    print(f"runs {len(runs)}, without a result or incorrect: {fails or 'none'}; "
          f"operations attempted {att}, failed {fai}")
    walls = [r["wall_s"] for r in runs]
    rss = [r["jvm_peak_rss_mb"] for r in runs]
    print(f"run wall time: min {min(walls):.1f} s, median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s; JVM peak RSS: min {min(rss):.0f} MB, max {max(rss):.0f} MB")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="one workload, or several joined by commas")
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,9")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=None, help="append each run as a JSON line")
    args = ap.parse_args(argv)
    workloads = args.workload.split(",")
    runs = []
    for seed in _seeds(args.seeds):
        for wl in workloads:
            r = run_once(wl, seed, args.seconds, args.trace)
            runs.append(r)
            status = "ok" if r["result"] and r["result"]["correct"] else f"FAILED (exit {r['exit']})"
            print(f"{wl} seed {seed}: {status}, {r['wall_s']:.1f} s, "
                  f"CPU steal {r['steal_pct']:.1f}%", flush=True)
            if r["stderr_tail"]:
                print(r["stderr_tail"], file=sys.stderr)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(r) + "\n")
    for wl in workloads:
        print(f"-- {wl}")
        summarize([r for r in runs if r["workload"] == wl])
    return 0 if all(r["result"] and r["result"]["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
