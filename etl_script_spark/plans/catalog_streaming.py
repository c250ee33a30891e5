"""Declared queries for the streaming surface (SURVEY.md §2.10).

Two flavors:
- Batch-checkable window plans (tumbling/sliding/session) built with
  the same helpers streaming jobs use — the oracle states the window
  algebra in portable SQL (epoch arithmetic, gaps-and-islands).
- REAL Structured Streaming executions (``st_stream_*``): readStream →
  stateful op → Trigger.AvailableNow → memory sink, returned as a
  batch DataFrame. Deterministic because AvailableNow drains a static
  input, so even these carry a full SQL oracle.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_script_spark.plans.catalog import dsum, register, t
from etl_script_spark.streaming import ingest, windows


def _tag(sf_dir: str) -> str:
    return re.sub(r"[^0-9a-zA-Z]", "_", sf_dir.strip("/"))


@register(
    "st_tumbling_window",
    """
    SELECT make_timestamp(CAST(floor(epoch(ts)/3600) AS BIGINT) * 3600 * 1000000)
               AS win_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    ("streaming-window",),
)
def st_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type (same plan runs under
    readStream with a watermark — see st_stream_tumbling)."""
    e = t(spark, sf_dir, "events")
    out = windows.tumbling_agg(
        e,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        ],
    )
    return out.select("win_start", "event_type", "n_events", "total_value")


@register(
    "st_sliding_window",
    """
    SELECT make_timestamp((CAST(floor(epoch(ts)/1800) AS BIGINT) - s.s)
                          * 1800 * 1000000) AS win_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS s) s
    GROUP BY 1
    """,
    ("streaming-window",),
)
def st_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes — each event lands in
    exactly two windows; the oracle expands the same membership with a
    series join."""
    e = t(spark, sf_dir, "events")
    out = windows.sliding_agg(
        e,
        "ts",
        "1 hour",
        "30 minutes",
        [],
        [
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        ],
    )
    return out.select("win_start", "n_events", "total_value")


@register(
    "st_session_window",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    ("streaming-window",),
)
def st_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap —
    Spark's native session_window vs the oracle's gaps-and-islands."""
    e = t(spark, sf_dir, "events")
    out = windows.session_agg(
        e,
        "ts",
        "30 minutes",
        ["user_id"],
        [F.count(F.lit(1)).alias("n_events")],
    )
    return out.select("user_id", "session_start", "session_end", "n_events")


@register(
    "st_stream_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    ("streaming-dedup", "D1", "J7"),
)
def st_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run: readStream(events) → watermark +
    dropDuplicates(user_id, event_type) → AvailableNow → memory sink.
    The reference's duplicate-skip import (ImportOldInvoices.php:
    188-195) as an exactly-once streaming pipeline."""
    sdf = ingest.stream_events(spark, sf_dir)
    deduped = windows.dedup_events(
        sdf.select("ts", "user_id", "event_type"),
        "ts",
        ["user_id", "event_type"],
        delay="365 days",
    ).select("user_id", "event_type")
    return ingest.run_available_now(
        deduped,
        f"st_stream_dedup_{_tag(sf_dir)}",
        output_mode="append",
        state_partitions=ingest.adaptive_state_partitions(spark, sf_dir),
    )


@register(
    "st_stream_tumbling",
    """
    SELECT make_timestamp(CAST(floor(epoch(ts)/3600) AS BIGINT) * 3600 * 1000000)
               AS win_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    ("streaming-window",),
)
def st_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of the tumbling-window aggregation (complete
    output mode drains every window, so the result equals the batch
    plan exactly)."""
    sdf = ingest.stream_events(spark, sf_dir)
    agg = windows.tumbling_agg(
        windows.watermarked(sdf, "ts", "1 hour"),
        "ts",
        "1 hour",
        ["event_type"],
        [F.count(F.lit(1)).alias("n_events")],
    ).select(
        F.col("win_start").cast("timestamp_ntz").alias("win_start"),
        "event_type",
        "n_events",
    )
    return ingest.run_available_now(
        agg,
        f"st_stream_tumbling_{_tag(sf_dir)}",
        output_mode="complete",
        state_partitions=ingest.adaptive_state_partitions(spark, sf_dir),
    )


@register(
    "st_stateful_anomalies",
    """
    SELECT user_id, event_id,
           CAST(trunc(value * 100) AS BIGINT) AS value_cents,
           CAST(COALESCE(SUM(CAST(trunc(value * 100) AS BIGINT)) OVER w, 0)
                AS BIGINT) AS prev_total_cents,
           COUNT(*) OVER w AS n_prev,
           COALESCE(CAST(trunc(value * 100) AS BIGINT) * (COUNT(*) OVER w)
                    > 2 * SUM(CAST(trunc(value * 100) AS BIGINT)) OVER w,
                    FALSE) AS is_anomaly
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    """,
    ("streaming-stateful",),
)
def st_stateful_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of the custom applyInPandasWithState
    operator: per-user running-mean anomaly flags, state carried in
    explicit GroupState. Exact-integer design makes even this
    Python-stateful operator fully oracle-checkable."""
    from etl_script_spark.streaming import stateful

    sdf = ingest.stream_events(spark, sf_dir)
    flagged = stateful.running_mean_anomalies(sdf, factor_num=2, factor_den=1)
    # Python-stateful op: per-partition cost is Arrow transfer + Python
    # compute, not state-store I/O, so it wants ~4x the parallelism per
    # byte of the JVM-stateful entries (r10 sweep at sf0.1: 16 parts
    # 1.9 s, 4 parts 2.7 s, 32 parts 2.4 s warm).
    return ingest.run_available_now(
        flagged,
        f"st_stateful_anomalies_{_tag(sf_dir)}",
        output_mode="append",
        state_partitions=ingest.adaptive_state_partitions(
            spark, sf_dir, target_bytes=128 * 1024
        ),
    )


@register(
    "anomalies_running_mean_jvm",
    """
    SELECT user_id, event_id,
           CAST(trunc(value * 100) AS BIGINT) AS value_cents,
           CAST(COALESCE(SUM(CAST(trunc(value * 100) AS BIGINT)) OVER w, 0)
                AS BIGINT) AS prev_total_cents,
           COUNT(*) OVER w AS n_prev,
           COALESCE(CAST(trunc(value * 100) AS BIGINT) * (COUNT(*) OVER w)
                    > 2 * SUM(CAST(trunc(value * 100) AS BIGINT)) OVER w,
                    FALSE) AS is_anomaly
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    """,
    ("streaming-stateful",),
)
def anomalies_running_mean_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEFAULT (batch/backfill) path for per-user running-mean
    anomaly flags: a cumulative row window — whole-stage codegen, one
    exchange on user_id, zero Python workers. Same output schema and
    exact-integer semantics as the streaming Python-state twin
    (st_stateful_anomalies), which remains the unbounded-stream
    escape hatch."""
    from etl_script_spark.streaming import stateful

    e = t(spark, sf_dir, "events")
    return stateful.running_mean_anomalies_jvm(e, factor_num=2, factor_den=1)


@register(
    "st_stream_upsert_latest",
    """
    SELECT user_id, event_id, ts, value FROM (
      SELECT user_id, event_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    ("streaming-window", "J6"),
)
def st_stream_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming foreachBatch upsert: each micro-batch merges
    into an accumulated last-write-wins snapshot (one row per user,
    the event with max (ts, event_id)). Keep-latest is associative, so
    the final state is identical however the stream is micro-batched —
    which is what makes an exact oracle possible. In production the
    accumulator is a MERGE into the gold table; the keep-extreme
    aggregate is the same.

    Ref: the updateOrCreate ingestion loops (ImportDbdFinancial
    .php:196-212) re-expressed as stream → snapshot."""
    import tempfile
    import uuid

    from etl_script_spark.operators.merge import dedupe_last

    sdf = ingest.stream_events(spark, sf_dir).select(
        "user_id", "event_id", "ts", "value"
    )
    acc: list[DataFrame] = []

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.withColumn("__ord", F.struct("ts", "event_id"))
        u = acc[0].unionByName(b) if acc else b
        latest = dedupe_last(u, ["user_id"], order_col="__ord")
        acc[:] = [latest.localCheckpoint()]

    ckpt = tempfile.mkdtemp(prefix=f"ckpt_upsert_{uuid.uuid4().hex[:6]}_")
    q = (
        sdf.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300) or not acc:
        q.stop()
        raise TimeoutError(
            "st_stream_upsert_latest: stream did not drain within 300 s; "
            "refusing to return a partial snapshot"
        )
    return acc[0].select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "value",
    )


@register(
    "st_stream_static_enrich",
    """
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    ("streaming-enrich",),
)
def st_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of a stream-static enrichment: readStream
    (events) → broadcast hash join against the static customer dim →
    AvailableNow → memory sink. The canonical streaming-ETL shape —
    stateless, so no watermark needed, and the dim is broadcast so a
    100 TB/day stream never shuffles; the static side is re-read per
    micro-batch which is what keeps slowly-changing dims fresh."""
    sdf = ingest.stream_events(spark, sf_dir).select(
        "event_id", "user_id", "value"
    )
    dim = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    joined = sdf.join(
        F.broadcast(dim), sdf["user_id"] == dim["c_custkey"], "inner"
    ).select("event_id", "user_id", "c_name", "c_mktsegment", "value")
    return ingest.run_available_now(
        joined, f"st_stream_static_enrich_{_tag(sf_dir)}"
    )


@register(
    "st_stream_stream_join",
    """
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id, a.ts AS click_ts, b.ts AS purchase_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
    ("streaming-join",),
)
def st_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream join: clicks joined to purchases by the same
    user within the following hour, both sides watermarked — the
    attribution-join shape. The event-time range condition is what
    BOUNDS the join state: with it, Spark can evict a click's state
    one hour (+ watermark) after its timestamp; without it the state
    store grows forever. AvailableNow drains the static fixture, so
    the result equals the batch interval-join exactly."""
    base = ingest.stream_events(spark, sf_dir)
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
    )
    return ingest.run_available_now(
        joined,
        f"st_stream_stream_join_{_tag(sf_dir)}",
        state_partitions=ingest.adaptive_state_partitions(spark, sf_dir),
    )


@register(
    "st_stream_cdc_apply",
    """
    WITH feed AS (
      SELECT o_orderkey AS k, 1 AS seq, 'I' AS op,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders WHERE o_orderkey <= 4000
      UNION ALL
      SELECT o_orderkey, 2, 'U',
             (CAST(ROUND(o_totalprice * 100) AS BIGINT) * 11) // 10
      FROM orders WHERE o_orderkey <= 4000 AND o_orderkey % 3 <> 0
      UNION ALL
      SELECT o_orderkey, 3, 'D', CAST(NULL AS BIGINT)
      FROM orders WHERE o_orderkey <= 4000 AND o_orderkey % 5 = 0
    ),
    latest AS (
      SELECT k, seq, op, price_cents,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC, op ASC)
               AS rn
      FROM feed
    )
    SELECT k AS o_orderkey, price_cents, seq AS last_seq, op AS last_op
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
    ("streaming-cdc", "J6"),
)
def st_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming CDC apply: the cdc_apply_changes feed is split
    into three parquet files (one per seq epoch), streamed with
    maxFilesPerTrigger=1 so each micro-batch carries one epoch, and a
    foreachBatch sink applies each batch INCREMENTALLY — collapse the
    batch to its per-key latest change, anti-join those keys out of
    the accumulated state, union the non-delete survivors back in.
    The oracle replays the whole feed as ONE batch apply, so the
    green row proves incremental-equals-global: the per-batch
    apply-then-override composition reconstructs exactly the window-
    over-everything result, provided batch order respects the feed's
    sequence order (which a CDC log guarantees by construction).
    State per micro-batch is one anti-join + union on the key —
    foreachBatch MERGE shape, no full recompute."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 4000)
    o = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c0"),
    )
    feed_dir = tempfile.mkdtemp(prefix=f"cdc_feed_{uuid.uuid4().hex[:6]}_")
    batches = [
        o.select(
            "k", F.lit(1).alias("seq"), F.lit("I").alias("op"),
            F.col("c0").alias("price_cents"),
        ),
        o.filter(F.col("k") % 3 != 0).select(
            "k", F.lit(2).alias("seq"), F.lit("U").alias("op"),
            F.expr("(c0 * 11) div 10").alias("price_cents"),
        ),
        o.filter(F.col("k") % 5 == 0).select(
            "k", F.lit(3).alias("seq"), F.lit("D").alias("op"),
            F.lit(None).cast("long").alias("price_cents"),
        ),
    ]
    for i, b in enumerate(batches):
        path = os.path.join(feed_dir, f"seq_{i + 1}")
        b.coalesce(1).write.mode("overwrite").parquet(path)
        # FileStreamSource orders by modification time: pin strictly
        # increasing mtimes so epoch files arrive in sequence order
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (1_000_000 + i, 1_000_000 + i))

    schema = "k bigint, seq int, op string, price_cents bigint"
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(feed_dir)
    )
    acc: list[DataFrame] = []
    w = Window.partitionBy("k").orderBy(F.col("seq").desc(), F.col("op").asc())

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        survivors = latest.filter(F.col("op") != "D")
        if acc:
            kept = acc[0].join(latest.select("k"), "k", "left_anti")
            state = kept.unionByName(survivors)
        else:
            state = survivors
        acc[:] = [state.localCheckpoint()]

    ckpt = tempfile.mkdtemp(prefix=f"ckpt_cdc_{uuid.uuid4().hex[:6]}_")
    q = (
        sdf.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        # timeout: the query is still running — returning the partial
        # accumulator would surface as a baffling oracle mismatch, so
        # stop it and fail loudly instead
        q.stop()
        raise TimeoutError("st_stream_cdc_apply: stream did not finish in 300s")
    final = acc[0] if acc else spark.createDataFrame([], schema)
    return final.select(
        F.col("k").alias("o_orderkey"),
        "price_cents",
        F.col("seq").alias("last_seq"),
        F.col("op").alias("last_op"),
    )


_NDG_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@register(
    "st_stream_neardup_gate",
    f"""
    WITH src AS (
      SELECT b.doc_id,
             CASE WHEN b.doc_id % 20 = 18 THEN b.doc_id - 4
                  WHEN b.doc_id % 10 = 1 THEN b.doc_id - 1
                  ELSE b.doc_id END AS src_id,
             b.doc_id % 4 AS ep
      FROM documents b
    ),
    tx AS (
      SELECT s.doc_id, s.ep, d.text
      FROM src s JOIN documents d ON d.doc_id = s.src_id
    ),
    f AS (SELECT doc_id, ep, md5({_NDG_NORM}) AS fp FROM tx),
    store0 AS (SELECT DISTINCT fp FROM f WHERE ep = 0),
    e1 AS (SELECT doc_id, fp FROM (
             SELECT doc_id, fp,
                    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) rn
             FROM f WHERE ep = 1) WHERE rn = 1),
    a1 AS (SELECT doc_id, fp FROM e1
           WHERE fp NOT IN (SELECT fp FROM store0)),
    store1 AS (SELECT fp FROM store0 UNION SELECT fp FROM a1),
    e2 AS (SELECT doc_id, fp FROM (
             SELECT doc_id, fp,
                    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) rn
             FROM f WHERE ep = 2) WHERE rn = 1),
    a2 AS (SELECT doc_id, fp FROM e2
           WHERE fp NOT IN (SELECT fp FROM store1)),
    store2 AS (SELECT fp FROM store1 UNION SELECT fp FROM a2),
    e3 AS (SELECT doc_id, fp FROM (
             SELECT doc_id, fp,
                    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) rn
             FROM f WHERE ep = 3) WHERE rn = 1),
    a3 AS (SELECT doc_id, fp FROM e3
           WHERE fp NOT IN (SELECT fp FROM store2))
    SELECT doc_id, fp FROM a1
    UNION ALL SELECT doc_id, fp FROM a2
    UNION ALL SELECT doc_id, fp FROM a3
    """,
    ("streaming-cdc", "LLM-dedup"),
)
def st_stream_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming duplicate-ingest gate: the corpus is split into
    an initial store (doc_id%4==0) and three epoch files, which one
    AvailableNow trigger drains as ONE micro-batch; per fingerprint the
    gate keeps the first row in feed order (file mtime, path, id) and
    anti-joins it against the fingerprint store. Cross-epoch
    duplicates are planted (doc_id%10==1 copies the previous doc,
    which lives in the previous epoch; doc_id%20==18 copies a
    same-epoch doc), so the oracle — the epoch-by-epoch chain unrolled
    as CTEs — proves that ranking by file order equals chaining the
    store through the epochs, including drops caused by an earlier
    epoch's ADMITTED doc (not just the initial store). Chaining the
    store across real triggers (one file per micro-batch) is pinned by
    tests/test_streaming.py::test_neardup_gate_exact_result_independent_of_batching.
    Exact-md5 mode; the simhash banded mode of the same gate (hamming<=k
    vs the store via pigeonhole bands) has no SQL-expressible truth and
    is covered by planted-near-dup tests (tests/test_streaming.py).
    Store holds fingerprints only — 16 bytes/doc at 100 TB, and the
    per-batch work is one aggregate and one hash anti-join."""
    from etl_script_spark.streaming import neardup

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    src = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 20 == 18, F.col("doc_id") - 4)
        .when(F.col("doc_id") % 10 == 1, F.col("doc_id") - 1)
        .otherwise(F.col("doc_id"))
        .alias("src_id"),
        (F.col("doc_id") % 4).alias("ep"),
    )
    tx = src.join(
        d.select(F.col("doc_id").alias("src_id"), "text"), "src_id"
    ).select("doc_id", "ep", "text")
    store = tx.filter(F.col("ep") == 0).select("doc_id", "text")
    epochs = [
        tx.filter(F.col("ep") == i).select("doc_id", "text") for i in (1, 2, 3)
    ]
    feed = neardup.write_epoch_feed(epochs, prefix=f"ndg_{_tag(sf_dir)}")
    return neardup.stream_neardup_gate(
        spark, feed, "doc_id bigint, text string", store, mode="exact"
    )


@register(
    "st_stream_drift_monitor",
    """
    WITH bucketed AS (
      SELECT make_timestamp(CAST(floor(epoch(ts)/86400) AS BIGINT)
                            * 86400 * 1000000) AS win_start,
             CAST(floor(value / 50) * 50 AS BIGINT) AS bucket
      FROM events
    ),
    wc AS (SELECT win_start, bucket, COUNT(*) AS n FROM bucketed
           GROUP BY 1, 2),
    base AS (SELECT bucket, COUNT(*) AS bc FROM bucketed GROUP BY 1),
    grid AS (
      SELECT w.win_start, b.bucket, b.bc, COALESCE(wc.n, 0) AS wcn
      FROM (SELECT DISTINCT win_start FROM wc) w
      CROSS JOIN base b
      LEFT JOIN wc ON wc.win_start = w.win_start AND wc.bucket = b.bucket
    ),
    tot AS (
      SELECT win_start, bucket, wcn, bc,
             SUM(wcn) OVER (PARTITION BY win_start) AS wn,
             COUNT(*) OVER (PARTITION BY win_start) AS nb,
             SUM(bc) OVER (PARTITION BY win_start) AS bn
      FROM grid
    )
    SELECT win_start, bucket, CAST(wcn AS BIGINT) AS n_events,
           CAST(ROUND((CAST(wcn + 1 AS DOUBLE) / (wn + nb)
                       - CAST(bc + 1 AS DOUBLE) / (bn + nb))
                      * ln((CAST(wcn + 1 AS DOUBLE) / (wn + nb))
                           / (CAST(bc + 1 AS DOUBLE) / (bn + nb)))
                      * 1000000.0) AS BIGINT) AS psi_term_micro
    FROM tot
    """,
    ("streaming-window", "LLM-curation"),
)
def st_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming distribution-drift monitor: the value-bucket
    histogram aggregates per 1-day tumbling window INSIDE the stream
    (watermark + complete mode, AvailableNow drain), then each drained
    window's distribution scores a Laplace-smoothed PSI against the
    static whole-corpus baseline — the alert a production feed raises
    when today's traffic stops looking like the training distribution.
    The stream only carries (window, bucket, count) state — bucket
    cardinality x windows rows, never events; the PSI arithmetic runs
    batch-side on the tiny drained frame (same quantized-micro
    formula as corpusstats.psi_drift)."""
    from pyspark.sql import Window as W

    sdf = ingest.stream_events(spark, sf_dir)
    bucket = (F.floor(F.col("value") / 50) * 50).cast("long")
    counts = windows.tumbling_agg(
        windows.watermarked(sdf, "ts", "1 hour").withColumn(
            "bucket", bucket
        ),
        "ts",
        "1 day",
        ["bucket"],
        [F.count(F.lit(1)).alias("n")],
    ).select(
        F.col("win_start").cast("timestamp_ntz").alias("win_start"),
        "bucket",
        "n",
    )
    drained = ingest.run_available_now(
        counts,
        f"st_stream_drift_{_tag(sf_dir)}",
        output_mode="complete",
        state_partitions=ingest.adaptive_state_partitions(spark, sf_dir),
    )
    e = t(spark, sf_dir, "events")
    base = e.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("bc")
    )
    # rename on the distinct side: the grid joins back to its own
    # ancestor (drained), and shared attribute ids make the equi-join
    # ambiguous otherwise
    wins = drained.select(F.col("win_start").alias("ws")).distinct()
    dr = drained.select(
        F.col("win_start").alias("dws"),
        F.col("bucket").alias("dbucket"),
        "n",
    )
    grid = (
        wins.crossJoin(F.broadcast(base))
        .join(
            dr,
            (F.col("ws") == F.col("dws"))
            & (F.col("bucket") == F.col("dbucket")),
            "left",
        )
        .withColumn("wcn", F.coalesce(F.col("n"), F.lit(0)))
        .withColumnRenamed("ws", "win_start")
        .drop("dws", "dbucket", "n")
    )
    ww = W.partitionBy("win_start")
    tot = (
        grid.withColumn("wn", F.sum("wcn").over(ww))
        .withColumn("nb", F.count(F.lit(1)).over(ww))
        .withColumn("bn", F.sum("bc").over(ww))
    )
    pa = (F.col("wcn") + 1).cast("double") / (F.col("wn") + F.col("nb"))
    pb = (F.col("bc") + 1).cast("double") / (F.col("bn") + F.col("nb"))
    return tot.select(
        "win_start",
        "bucket",
        F.col("wcn").cast("long").alias("n_events"),
        F.round((pa - pb) * F.log(pa / pb) * 1e6)
        .cast("long")
        .alias("psi_term_micro"),
    )


@register(
    "st_stream_quota_gate",
    f"""
    WITH toks AS (
      SELECT doc_id, source, doc_id % 3 AS ep,
             CAST(len(list_filter(string_split({_NDG_NORM}, ' '),
                                  w -> w != '')) AS BIGINT) AS n_tok
      FROM documents
    ),
    cum AS (
      SELECT doc_id, source, n_tok,
             CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY ep, doc_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tok
      FROM toks
    )
    SELECT doc_id, source, n_tok, cum_tok
    FROM cum WHERE cum_tok <= 800
    """,
    ("streaming-cdc", "LLM-curation"),
)
def st_stream_quota_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming per-source token-quota gate
    (streaming/quota.py:stream_quota_gate): the corpus streams as
    three epoch files (doc_id%3), which one AvailableNow trigger drains
    as ONE micro-batch; a source's documents are admitted while its
    cumulative token count in feed order (file mtime, path, id) stays
    within quota. State advances by every token SEEN, so admission is
    a prefix of the global (epoch, id) stream and the whole run
    unrolls to ONE window cumsum in the oracle. Chaining the
    per-source counters across real triggers (one file per
    micro-batch) is pinned by
    tests/test_streaming.py::test_stream_quota_gate_result_independent_of_batching.
    State is one counter per source and micro-batch; per-batch work is
    a window over the batch plus a broadcast join against the
    counters."""
    from etl_script_spark.streaming import quota

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    epochs = [
        d.filter(F.col("doc_id") % 3 == i).select("doc_id", "source", "text")
        for i in (0, 1, 2)
    ]
    feed = quota.write_epoch_feed(epochs, prefix=f"qg_{_tag(sf_dir)}")
    return quota.stream_quota_gate(
        spark,
        feed,
        "doc_id bigint, source string, text string",
        quota_tokens=800,
    )


@register(
    "st_stream_ohlc",
    """
    WITH b AS (
      SELECT event_type,
             make_timestamp(CAST(floor(epoch(ts)/3600) AS BIGINT)
                            * 3600 * 1000000) AS win_start,
             ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type,
                                floor(epoch(ts)/3600)
                                ORDER BY ts, event_id) AS ra,
             ROW_NUMBER() OVER (PARTITION BY event_type,
                                floor(epoch(ts)/3600)
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM events
    )
    SELECT event_type, win_start,
           MAX(CASE WHEN ra = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rd = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM b GROUP BY event_type, win_start
    """,
    ("streaming-window", "X-timeseries"),
)
def st_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of the OHLC bar aggregation: open/close are
    min/max over (ts, event_id, value) STRUCTS — plain typed min/max
    aggregates, so the selection works inside a streaming tumbling
    window with no window-function machinery; high/low are order
    statistics; no value arithmetic anywhere, so the streamed doubles
    hash identically to the batch oracle. Complete mode drains every
    window (same contract as st_stream_tumbling)."""
    sdf = ingest.stream_events(spark, sf_dir)
    agg = windows.tumbling_agg(
        windows.watermarked(sdf, "ts", "1 hour"),
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.min(F.struct("ts", "event_id", "value"))["value"]
            .alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("ts", "event_id", "value"))["value"]
            .alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        ],
    ).select(
        "event_type",
        F.col("win_start").cast("timestamp_ntz").alias("win_start"),
        "open", "high", "low", "close", "n_events",
    )
    return ingest.run_available_now(
        agg,
        f"st_stream_ohlc_{_tag(sf_dir)}",
        output_mode="complete",
        state_partitions=ingest.adaptive_state_partitions(spark, sf_dir),
    )


@register(
    "st_stream_fingerprint",
    """
    WITH h AS (
      SELECT event_type AS "group",
             ('0x' || substr(md5(
                COALESCE(CAST(event_id AS VARCHAR), chr(1)) || chr(0) ||
                COALESCE(CAST(user_id AS VARCHAR), chr(1)) || chr(0) ||
                COALESCE(CAST(CAST(ROUND(value * 1000000) AS BIGINT)
                              AS VARCHAR), chr(1))), 1, 15))::BIGINT AS hh
      FROM events
    )
    SELECT "group", CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(hh AS HUGEINT)) % 4611686018427387904
                AS BIGINT) AS fingerprint
    FROM h GROUP BY 1
    """,
    ("ST-streaming", "X-governance"),
)
def st_stream_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental dataset fingerprint: the modular-sum
    checksum is a commutative monoid, so Structured Streaming
    maintains it per event type as plain aggregation state — each
    micro-batch folds its rows in, no retraction, no window, and the
    drained result equals the batch fingerprint over the same rows
    bit-for-bit (the oracle). The publish/verify audit primitive
    running ON the ingest feed: a consumer compares this against the
    producer's claimed checksum without ever re-reading the corpus.
    The value rides as micro-quantized integer (double->string
    formatting differs across engines; integers don't)."""
    from etl_script_spark.operators import governance
    from etl_script_spark.streaming import ingest

    sdf = ingest.stream_events(spark, sf_dir).withColumn(
        "vmic", F.expr("CAST(ROUND(value * 1000000) AS BIGINT)")
    )
    fp = governance.dataset_fingerprint(
        sdf, "event_type", ["event_id", "user_id", "vmic"]
    )
    return ingest.run_available_now(
        fp,
        f"st_fp_{_tag(sf_dir)}",
        output_mode="complete",
        state_partitions=ingest.adaptive_state_partitions(spark, sf_dir),
    )
