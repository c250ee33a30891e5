"""Process shape, work directory, session start and result printing
shared by the workloads."""

from __future__ import annotations

import json
import os
import shutil
import time

# Scratch space for generated inputs, published tables, Spark local
# dirs and the event log. It lives in the working directory (the
# checkout root) so a run reads and writes nothing outside it.
WORK_ROOT = ".bench_work"


def cores() -> int:
    """N for local[N]: every core the process may run on, at most 4.

    More task slots than cores only adds context switches; the inputs
    are sized so four slots are busy in the heavy stages."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def configure_process(work: str) -> int:
    """Set the engine's knobs and every temp location before pyspark
    is imported. Returns N."""
    n = cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers (mapInPandas) import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.getcwd(), os.environ.get("PYTHONPATH")) if p)
    # pandas/arrow workers and the generator stay single-threaded
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    import tempfile

    tempfile.tempdir = tmp
    return n


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def start_session(work: str, event_log: bool):
    """get_spark with every scratch path inside ``work``; the event log
    is on only for the traced run."""
    from etl_script_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    extra = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = fresh_dir(os.path.join(work, "eventlog"))
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="perfbench", extra_conf=extra)


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, from /proc."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def more_rounds(n: int, t0: float, seconds: float | None, rounds: int | None) -> bool:
    """Whole rounds until ``seconds`` have passed (at least one), or
    exactly ``rounds`` when given."""
    if rounds is not None:
        return n < rounds
    return n == 0 or time.perf_counter() - t0 < seconds


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(phase: dict, setup_s: float) -> dict:
    """The end-to-end metrics of an untraced timed phase."""
    return {
        "setup_s": (setup_s, "s"),
        "units_per_s": (phase["units"] / phase["wall_s"], "1/s"),
        "stored_bytes_per_row": (phase["bytes_per_row"], "B"),
    }


def op_latency(phase: dict) -> dict:
    """Median operation time of an untraced timed phase (a lookup, or a
    whole curation round); reported with the per-layer metrics. No
    higher percentile: a run holds too few operations for a tail."""
    return {"phase.op_ms_p50": (quantile(phase["ops_ms"], 0.5), "ms")}


def stop_session(spark) -> None:
    """Stop the session, then the JVM the Python process started, and
    wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The result line: the last line of standard output."""
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
        },
    }
    print(json.dumps(out), flush=True)
