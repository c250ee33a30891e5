"""Engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload statement_lookups --seed 1 --seconds 8 --trace 0

Run from the repository root. Inputs are generated from the seed before
the set-up clock starts; the engine only sees the generated files. With
``--trace 0`` the last line of standard output is the JSON result with
the end-to-end metrics; with ``--trace 1`` the run first repeats the
untraced timed phase, then runs the same rounds traced, prints the
per-layer table and ends with the per-layer metrics. Any failed output
check makes ``correct`` false. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

import common

WORKLOADS = ("statement_lookups", "corpus_curation")


def _load(name: str):
    if name == "statement_lookups":
        import wl_lookups as mod
    else:
        import wl_curation as mod
    return mod


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine is imported from the checkout the command runs in
    sys.path.insert(1, os.getcwd())
    work = os.path.abspath(os.path.join(common.WORK_ROOT, "run"))
    common.fresh_dir(work)
    common.configure_process(work)
    try:
        import pyspark  # noqa: F401

        import etl_script_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
        return 2

    mod = _load(args.workload)
    wl = mod.Workload(args.seed, work)
    t_gen = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t_gen

    t0 = time.perf_counter()
    spark = common.start_session(work, event_log=bool(args.trace))
    start_s = time.perf_counter() - t0
    try:
        wl.setup(spark, traced=bool(args.trace))
        setup_s = time.perf_counter() - t0
        warmup_s = setup_s - start_s
        phase = wl.timed_phase(spark, args.seconds, traced=False)
        if args.trace:
            # the first phase may include first-use costs; the overhead
            # compares the same rounds again, untraced and then traced
            untraced = wl.timed_phase(spark, None, traced=False, rounds=phase["rounds"])
            traced = wl.timed_phase(spark, None, traced=True, rounds=phase["rounds"])
        t_check = time.perf_counter()
        errors = wl.check()
        print(f"generate {gen_s:.1f} s, check {time.perf_counter() - t_check:.1f} s")
        print(f"jvm peak RSS: {common.jvm_peak_rss_mb(spark):.0f} MB")
    finally:
        common.stop_session(spark)

    correct = not errors
    for e in errors[:20]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    if args.trace:
        import report

        metrics = report.per_layer(work, traced, untraced, wl.setup_trace, start_s, warmup_s)
        metrics.update(common.op_latency(phase))
        common.emit(correct, traced["attempted"], traced["failed"], metrics)
    else:
        metrics = common.end_to_end(phase, setup_s)
        common.emit(correct, phase["attempted"], phase["failed"], metrics)
    shutil.rmtree(os.path.join(work, "tables"), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
