"""Parallelism-shape helpers shared across operator families.

The one recurring local pathology these fix: a compute-heavy narrow
stage (regex cascades, shingling, hashing) whose INPUT BYTES are tiny.
Spark's size-based file split hands such a stage one partition, so a
64-hash signature pass or a 600k-line regex parse runs single-threaded
no matter how many cores exist. At 100 TB the same scan arrives
thousands of partitions wide and needs no help — so every helper here
is conditional on the input being narrower than the cluster.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame

_log = logging.getLogger(__name__)


def fan_out(df: DataFrame, *by: Column | str) -> DataFrame:
    """Spread a CPU-bound narrow stage across all cores — ONLY when the
    input has fewer partitions than ``defaultParallelism``. A wide scan
    passes through untouched: an unconditional repartition would
    shuffle the whole corpus AND collapse it down to
    ``defaultParallelism``.

    With ``by`` columns the spread is hash-partitioned on those
    columns instead of round-robin, which lets a downstream
    ``groupBy(*by)`` reuse the distribution (no second shuffle) while
    still buying the parallelism.

    Cost note: the width check reads ``df.rdd.getNumPartitions()``,
    which converts the plan to an RDD eagerly on the driver. For
    SCAN-ROOTED inputs — every call site in this repo — that builds
    the physical plan (milliseconds) and runs no job. Do NOT wrap a
    plan that already contains exchanges: under AQE, the RDD
    conversion SUBMITS the upstream shuffle stages at
    plan-construction time (and the count read is then the
    AQE-coalesced final-stage width, not the pre-AQE one).
    """
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    if by:
        return df.repartition(sc.defaultParallelism, *by)
    return df.repartition(sc.defaultParallelism)


def keyed_width(df: DataFrame) -> int:
    """Partition count for an EXPLICIT keyed repartition in front of a
    CPU-dense stage (pair self-joins, quadratic windows): the cluster
    width or the session's shuffle width, whichever is LARGER — an
    explicit repartition is immune to AQE's size-based coalescing (the
    point of using it), so it must never silently cap a stage below
    what the session's shuffle.partitions would have given it (r11;
    a plain defaultParallelism target did exactly that on clusters
    configured with shuffle.partitions > cores). On a session left at
    Spark's stock shuffle.partitions=200 this pins 200 partitions —
    the same width every implicit exchange (join/groupBy) on that
    session already gets, so the empty-task overhead is bounded by
    what the session's own shuffles pay; the project session sizes
    shuffle.partitions to the core count.

    A shuffle.partitions of ``'auto'`` (platforms that size shuffles
    themselves) falls back to the cluster width and logs that it did;
    any other non-integer value raises ``ValueError``."""
    sc = df.sparkSession.sparkContext
    conf = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    if conf == "auto":
        _log.warning(
            "keyed_width: spark.sql.shuffle.partitions is 'auto'; "
            "using defaultParallelism=%d", sc.defaultParallelism,
        )
        return sc.defaultParallelism
    try:
        shuffle = int(conf)
    except (TypeError, ValueError):
        raise ValueError(
            f"spark.sql.shuffle.partitions must be an integer or 'auto', got {conf!r}"
        ) from None
    return max(sc.defaultParallelism, shuffle)
