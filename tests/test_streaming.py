"""Streaming unit tests (SURVEY.md §5.2 item 5): incremental file
drops with Trigger.AvailableNow + checkpoint resume, and the
foreachBatch insert-dedup sink."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_script_spark.streaming import ingest


def _write_drop(spark, path, rows):
    spark.createDataFrame(rows, ["k", "v"]).coalesce(1).write.mode("append").parquet(
        path
    )


def test_available_now_incremental_with_checkpoint(spark, tmp_path):
    """Two file drops; the second run processes ONLY the new file
    (checkpointed offsets), and the insert-dedup sink skips keys
    already accepted — the reference's monthly importer loop."""
    drop_dir = str(tmp_path / "drops")
    ckpt = str(tmp_path / "ckpt")
    _write_drop(spark, drop_dir, [(1, "a"), (2, "b"), (2, "b2")])

    acc: list = []
    sink = ingest.foreach_batch_insert_dedup(acc, ["k"])

    def run_once():
        sdf = spark.readStream.schema("k long, v string").parquet(drop_dir)
        q = (
            sdf.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got1 = sorted((r["k"], r["v"]) for r in acc[0].collect())
    assert [k for k, _ in got1] == [1, 2]  # in-batch dup on k=2 collapsed

    # second drop: k=2 is a duplicate (skipped), k=3 is new
    _write_drop(spark, drop_dir, [(2, "late-dup"), (3, "c")])
    run_once()
    got2 = sorted((r["k"], r["v"]) for r in acc[0].collect())
    assert [k for k, _ in got2] == [1, 2, 3]
    assert ("2", "late-dup") not in got2


def test_batch_stream_window_parity(spark, sf_dir):
    """The tumbling plan produces identical rows in batch mode and in
    a real streaming execution over the same static input."""
    from etl_script_spark.plans.catalog import CATALOG

    batch = CATALOG["st_tumbling_window"].spark(spark, sf_dir)
    stream = CATALOG["st_stream_tumbling"].spark(spark, sf_dir)
    b = {
        (r["win_start"], r["event_type"]): r["n_events"] for r in batch.collect()
    }
    s = {
        (r["win_start"], r["event_type"]): r["n_events"] for r in stream.collect()
    }
    assert b == s


def test_stream_to_atomic_snapshot(spark, tmp_path):
    """Incremental drops → foreachBatch insert-dedup → atomic parquet
    snapshot: readers always see a complete gold table, and the second
    drop's duplicates are skipped on disk too."""
    from etl_script_spark.sources import writers as w

    drop_dir = str(tmp_path / "drops")
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "gold")
    acc: list = []
    base_sink = ingest.foreach_batch_insert_dedup(acc, ["k"])

    def sink(batch_df, batch_id):
        base_sink(batch_df, batch_id)
        w.atomic_overwrite_parquet(acc[0], table)

    def run_once():
        sdf = spark.readStream.schema("k long, v string").parquet(drop_dir)
        q = (
            sdf.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write_drop(spark, drop_dir, [(1, "a"), (2, "b")])
    run_once()
    assert spark.read.parquet(f"{table}/current").count() == 2

    _write_drop(spark, drop_dir, [(2, "dup"), (3, "c")])
    run_once()
    got = {
        (r["k"], r["v"])
        for r in spark.read.parquet(f"{table}/current").collect()
    }
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_jvm_anomaly_twin_matches_python_state(spark, sf_dir):
    """The JVM window path and the Python-state streaming operator
    must produce identical rows (same exact-integer semantics), and
    the JVM plan must contain no Python eval nodes and exactly one
    exchange — it is the batch/backfill default; Python state is the
    unbounded-stream escape hatch."""
    from etl_script_spark.plans.catalog import t
    from etl_script_spark.streaming import ingest, stateful

    e = t(spark, sf_dir, "events")
    jvm = stateful.running_mean_anomalies_jvm(e)
    plan = jvm._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1

    sdf = ingest.stream_events(spark, sf_dir)
    py = ingest.run_available_now(
        stateful.running_mean_anomalies(sdf),
        "jvm_twin_parity",
        output_mode="append",
    )
    cols = ["user_id", "event_id", "value_cents", "prev_total_cents",
            "n_prev", "is_anomaly"]
    a = {tuple(r) for r in jvm.select(cols).collect()}
    b = {tuple(r) for r in py.select(cols).collect()}
    assert a == b


def test_tws_twin_gated_or_matches_python_state(spark):
    """transformWithStateInPandas twin: runs (and must agree with the
    applyInPandasWithState path) where protobuf exists; raises the
    documented gate error where it doesn't."""
    import pytest

    from etl_script_spark.streaming import ingest, stateful

    sdf = ingest.stream_events(spark, "/root/testdata/sf0.001")
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="protobuf"):
            stateful.running_mean_anomalies_tws(sdf)
        return
    got = ingest.run_available_now(
        stateful.running_mean_anomalies_tws(sdf), "tws_test"
    )
    ref = ingest.run_available_now(
        stateful.running_mean_anomalies(sdf), "aipws_test"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_available_now_resumes_exactly_once(spark, tmp_path):
    """Checkpointed AvailableNow ingest into a FILE sink: a second run
    over the same drop directory (same checkpoint) appends ONLY files
    that landed since — the reference's 'rerun the importer monthly'
    loop without re-reading or double-counting history. (A file sink,
    not memory: only durable sinks support checkpoint recovery.)"""
    import shutil

    from pyspark.sql import functions as F

    drop = tmp_path / "drop"
    drop.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def run_pass():
        src = spark.readStream.schema("k long, v long").parquet(str(drop))
        q = (
            src.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return spark.read.parquet(sink).collect()

    spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b1"))
    for f in (tmp_path / "b1").glob("*.parquet"):
        shutil.copy(f, drop / "batch1.parquet")
    first = run_pass()
    assert sorted(r["k"] for r in first) == list(range(10))

    spark.range(10, 15).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b2"))
    for f in (tmp_path / "b2").glob("*.parquet"):
        shutil.copy(f, drop / "batch2.parquet")
    second = run_pass()
    # batch1 rows exactly once, batch2 appended once — no replay
    assert sorted(r["k"] for r in second) == list(range(15))


def test_watermark_drops_late_events_across_batches(spark, tmp_path):
    """Windowed count with a 10-minute watermark over two file-drop
    micro-batches: an event arriving in batch 2 whose timestamp falls
    in a window the advanced watermark already closed is DROPPED —
    the bound that keeps streaming state finite at 100 TB/day.
    (Parquet sink: append-mode finalized windows + checkpoint
    recovery across the two passes.)"""
    from pyspark.sql import functions as F

    drop = tmp_path / "drop"
    drop.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, rows):
        df = spark.createDataFrame(rows, "k long, ts timestamp")
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        import shutil

        for f in (tmp_path / name).glob("*.parquet"):
            shutil.copy(f, drop / f"{name}.parquet")

    sink = str(tmp_path / "sink")

    def run_pass(tag):
        src = spark.readStream.schema("k long, ts timestamp").parquet(str(drop))
        agg = (
            src.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return {
            str(r["w"]["start"]): r["n"]
            for r in spark.read.parquet(sink).collect()
        }

    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    write_batch("b1", [(1, t(5)), (2, t(35))])
    run_pass("p1")  # watermark advances to 00:25 -> window [00:00,00:10) closes
    write_batch("b2", [(3, t(6)), (4, t(45))])  # t(6) is LATE
    final = run_pass("p2")
    # the [00:00, 00:10) window finalized with ONE event; the late
    # arrival neither reopened it nor appeared anywhere
    assert final.get("2024-01-01 00:00:00") == 1
    assert sum(final.values()) <= 3


# ---------------------------------------------------------------------------
# Streaming near-dup ingest gate (streaming/neardup.py)
# ---------------------------------------------------------------------------


def test_neardup_gate_simhash_drops_planted_near_dups(spark):
    """Simhash mode: epoch-2 docs that are one-word edits of epoch-1
    admitted docs (hamming 2-7 on word-vote fingerprints for these
    fixtures) must be rejected at max_hamming=7/8 bands; genuinely
    distinct docs (hamming ~32 between random vocabularies) must be
    admitted."""
    from pyspark.sql import functions as F

    from etl_script_spark.streaming import neardup

    base = [
        (i, " ".join(f"tok{(i * 13 + j) % 97}" for j in range(30)))
        for i in range(10)
    ]
    store = spark.createDataFrame(base, "doc_id long, text string")
    # epoch 1: 5 fresh docs (disjoint vocab region)
    e1 = spark.createDataFrame(
        [
            (100 + i, " ".join(f"fresh{(i * 17 + j) % 89}" for j in range(30)))
            for i in range(5)
        ],
        "doc_id long, text string",
    )
    e1_rows = {r.doc_id: r.text for r in e1.collect()}
    # epoch 2: near-copies of epoch-1 docs (one word changed) + 2 fresh
    near = [
        (200 + i, e1_rows[100 + i].replace(f"fresh{(i * 17) % 89}", "zzz", 1))
        for i in range(3)
    ]
    fresh2 = [
        (300 + i, " ".join(f"other{(i * 31 + j) % 83}" for j in range(30)))
        for i in range(2)
    ]
    e2 = spark.createDataFrame(near + fresh2, "doc_id long, text string")
    feed = neardup.write_epoch_feed([e1, e2], prefix="ndg_test")
    out = neardup.stream_neardup_gate(
        spark, feed, "doc_id bigint, text string", store, mode="simhash",
        max_hamming=7, bands=8,
    )
    got = {r.doc_id for r in out.collect()}
    assert {100, 101, 102, 103, 104} <= got          # epoch 1 all admitted
    assert got.isdisjoint({200, 201, 202})           # near-dups rejected
    assert {300, 301} <= got                         # fresh epoch-2 admitted


def test_neardup_gate_exact_within_batch_keeps_min_id(spark):
    from etl_script_spark.streaming import neardup

    store = spark.createDataFrame([(0, "seed doc")], "doc_id long, text string")
    e1 = spark.createDataFrame(
        [(5, "same text here"), (3, "same text here"), (7, "Other Text")],
        "doc_id long, text string",
    )
    feed = neardup.write_epoch_feed([e1], prefix="ndg_min")
    out = neardup.stream_neardup_gate(
        spark, feed, "doc_id bigint, text string", store, mode="exact"
    )
    got = {r.doc_id for r in out.collect()}
    assert got == {3, 7}


def test_neardup_gate_validation(spark):
    import pytest

    from etl_script_spark.streaming import neardup

    store = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        neardup.stream_neardup_gate(spark, "/tmp/x", "s", store, mode="bogus")
    with pytest.raises(ValueError):
        neardup.stream_neardup_gate(
            spark, "/tmp/x", "s", store, mode="simhash", max_hamming=3, bands=2
        )


def test_neardup_gate_empty_feed_schema_matches_mode(spark):
    # ADVICE r6: an empty feed must return fp with the same type the
    # non-empty path produces — md5 hex STRING in exact mode, 64-bit
    # BIGINT fingerprint in simhash mode.
    from etl_script_spark.streaming import neardup

    store = spark.createDataFrame([(0, "seed doc")], "doc_id long, text string")
    for mode, want in (("exact", "string"), ("simhash", "bigint")):
        feed = neardup.write_epoch_feed([], prefix=f"ndg_empty_{mode}")
        out = neardup.stream_neardup_gate(
            spark, feed, "doc_id bigint, text string", store, mode=mode,
            max_hamming=7, bands=8,
        )
        assert out.count() == 0
        got = dict(out.dtypes)["fp"]
        assert got == want, f"mode={mode}: fp dtype {got}, want {want}"


def _spy_drain_feed(monkeypatch, module, **force):
    """Wrap ``module._drain_feed``: record the files_per_trigger each
    call asks for and count the micro-batches its sink sees. With
    ``files_per_trigger=n`` given, every call runs with that value."""
    real = module._drain_feed
    seen = {"asked": [], "batches": 0}

    def wrapper(*args, files_per_trigger=None):
        seen["asked"].append(files_per_trigger)
        *head, sink, empty_schema, timeout = args

        def counting_sink(df):
            seen["batches"] += 1
            return sink(df)

        fpt = force.get("files_per_trigger", files_per_trigger)
        return real(*head, counting_sink, empty_schema, timeout,
                    files_per_trigger=fpt)

    monkeypatch.setattr(module, "_drain_feed", wrapper)
    return seen


def _gate_feed(spark, rows_by_epoch, schema):
    from etl_script_spark.streaming import neardup

    return neardup.write_epoch_feed(
        [spark.createDataFrame(rows, schema) for rows in rows_by_epoch],
        prefix="gate_batching",
    )


def test_neardup_gate_exact_result_independent_of_batching(spark, monkeypatch):
    """Exact mode admits the first row in feed order (file mtime, path,
    id) of every fingerprint the store lacks, so one micro-batch per
    file and one for the whole feed give the same rows. The per-file
    run also chains the store across four triggers."""
    from etl_script_spark.streaming import neardup

    schema = "doc_id long, text string"
    store = spark.createDataFrame([(1, "Stored  doc")], schema)
    epochs = [
        # in-file duplicates with ids out of order; two null texts
        [(15, "dup a"), (12, "DUP a"), (14, "dup  a"), (30, "order text"),
         (17, None), (16, None), (40, "stored doc")],
        # cross-epoch repeat; a later copy with a SMALLER id than the
        # earlier one (file order wins); one null text
        [(20, "dup a"), (3, "order text"), (25, None), (50, "fresh two")],
        [],  # an empty epoch
        [(60, "fresh two"), (2, "stored doc"), (61, "fresh four")],
    ]
    feed = _gate_feed(spark, epochs, schema)

    def run(fpt):
        with monkeypatch.context() as m:
            seen = _spy_drain_feed(m, neardup, files_per_trigger=fpt)
            out = neardup.stream_neardup_gate(spark, feed, schema, store)
            rows = sorted(tuple(r) for r in out.collect())
        return rows, seen["batches"]

    per_file, n_per_file = run(1)
    one, n_one = run(None)
    assert n_per_file == 4 and n_one == 1
    assert one == per_file
    # each file keeps its first null-text row: 16 (epoch 1), 25 (epoch 2)
    assert [r[0] for r in one] == [12, 16, 25, 30, 50, 61]


def test_stream_quota_gate_result_independent_of_batching(spark, monkeypatch):
    """The quota gate's state advances by every token seen, so admission
    is a prefix of the feed order (file mtime, path, id) per source and
    does not depend on micro-batch boundaries."""
    from etl_script_spark.streaming import quota

    schema = "doc_id long, source string, text string"
    epochs = [
        [(15, "a", "w w"), (12, "a", "w"), (14, "b", "w w w"),
         (13, "a", None), (5, "c", "w w w")],
        [(20, "a", "w w"), (3, "a", "w"), (4, "b", "w w"), (21, "b", "w")],
        [],
        # source c comes back after two micro-batches without it
        [(2, "a", "w"), (1, "b", "w w w w w"), (6, "c", "w w w w")],
    ]
    feed = _gate_feed(spark, epochs, schema)

    def run(fpt):
        with monkeypatch.context() as m:
            seen = _spy_drain_feed(m, quota, files_per_trigger=fpt)
            out = quota.stream_quota_gate(spark, feed, schema, quota_tokens=6)
            rows = sorted(tuple(r) for r in out.collect())
        return rows, seen["batches"]

    per_file, n_per_file = run(1)
    one, n_one = run(None)
    assert n_per_file == 4 and n_one == 1
    assert one == per_file
    # plain-Python replay: per source, cumsum in (epoch, id) order; a
    # null text has no token count and adds nothing
    want, cum = [], {}
    for rows in epochs:
        for doc_id, src, text in sorted(rows):
            n = len(text.split()) if text is not None else None
            cum[src] = cum.get(src, 0) + (n or 0)
            if cum[src] <= 6:
                want.append((doc_id, src, n, cum[src]))
    assert one == sorted(want)


def test_exact_gates_drain_feed_in_one_micro_batch(spark, monkeypatch):
    from etl_script_spark.streaming import neardup, quota

    rows = [[(i * 10 + j, "s", f"doc {i} {j}") for j in range(3)] for i in range(4)]
    schema = "doc_id long, source string, text string"
    feed = _gate_feed(spark, rows, schema)
    store = spark.createDataFrame([], "doc_id long, text string")
    nd = _spy_drain_feed(monkeypatch, neardup)
    qg = _spy_drain_feed(monkeypatch, quota)
    assert neardup.stream_neardup_gate(spark, feed, schema, store).count() == 12
    assert quota.stream_quota_gate(spark, feed, schema, 100).count() == 12
    assert (nd["asked"], nd["batches"]) == ([None], 1)
    assert (qg["asked"], qg["batches"]) == ([None], 1)


def test_neardup_gate_runs_no_job_before_its_stream(spark, monkeypatch):
    """The initial store is checkpointed by the first micro-batch that
    reads it, not before the stream starts, and a store that repeats a
    fingerprint admits what its distinct rows would."""
    import uuid

    from etl_script_spark.streaming import neardup

    schema = "doc_id long, text string"
    feed = _gate_feed(spark, [[(10, "stored doc"), (11, "new doc")],
                              [(12, "new  doc"), (13, "other")]], schema)
    sc = spark.sparkContext
    group = f"ndg-{uuid.uuid4().hex}"
    jobs_at_start = []
    real = neardup._drain_feed

    def wrapper(*args, **kwargs):
        jobs_at_start.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return real(*args, **kwargs)

    monkeypatch.setattr(neardup, "_drain_feed", wrapper)
    stores = {
        "empty": ([], [10, 11, 13]),
        "repeated": ([(1, "Stored doc"), (2, "stored  doc"), (3, "STORED doc")], [11, 13]),
    }
    for name, (store_rows, want) in stores.items():
        store = spark.createDataFrame(store_rows, schema)
        sc.setJobGroup(group, "neardup gate")
        try:
            out = neardup.stream_neardup_gate(spark, feed, schema, store)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs_at_start.pop() == 0, name
        assert sorted(r["doc_id"] for r in out.collect()) == want, name


def test_gates_remove_their_checkpoint_dirs(spark, monkeypatch, tmp_path):
    """Neither gate leaves a checkpoint directory behind, also when the
    stream times out."""
    import tempfile

    import pytest

    from etl_script_spark.streaming import neardup, quota

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    schema = "doc_id long, source string, text string"
    feed = _gate_feed(spark, [[(1, "s", "a b")], [(2, "s", "c d")]], schema)
    store = spark.createDataFrame([], "doc_id long, text string")

    def leftovers():
        return sorted(p.name for p in tmp_path.iterdir()
                      if p.name.startswith(("ckpt_ndg_", "ckpt_qg_")))

    for mode in ("exact", "simhash"):
        neardup.stream_neardup_gate(spark, feed, schema, store, mode=mode).count()
    quota.stream_quota_gate(spark, feed, schema, 10).count()
    assert leftovers() == []
    with pytest.raises(TimeoutError):
        neardup.stream_neardup_gate(spark, feed, schema, store, timeout=0.001)
    with pytest.raises(TimeoutError):
        quota.stream_quota_gate(spark, feed, schema, 10, timeout=0.001)
    assert leftovers() == []


def test_adaptive_state_partitions_size_derivation(spark, tmp_path):
    """r10 optimization: state-partition count derives from input
    bytes (~1 per 512 KB), clamped to [2, defaultParallelism] — a tiny
    drain gets a handful of state stores, a huge one gets full width,
    and a missing file falls back to full width rather than guessing."""
    dp = spark.sparkContext.defaultParallelism
    small = tmp_path / "small.parquet"
    small.write_bytes(b"x" * 1000)  # <2*512KB -> clamp floor
    assert ingest.adaptive_state_partitions(
        spark, str(tmp_path), filename="small.parquet"
    ) == 2
    big = tmp_path / "big.parquet"
    big.write_bytes(b"x" * (3 * 512 * 1024 + 1))  # ceil -> 4 (if dp >= 4)
    assert ingest.adaptive_state_partitions(
        spark, str(tmp_path), filename="big.parquet"
    ) == min(4, dp)
    # per-byte target is tunable (Python-stateful ops want more width)
    assert ingest.adaptive_state_partitions(
        spark, str(tmp_path), filename="big.parquet", target_bytes=128 * 1024
    ) == min(13, dp)
    # missing file: fall back to cluster width, never raise
    assert ingest.adaptive_state_partitions(
        spark, str(tmp_path), filename="nope.parquet"
    ) == dp


def test_run_available_now_state_partitions_restores_conf(spark, tmp_path):
    """The pinned shuffle.partitions must apply to the stream and be
    restored on the session afterwards."""
    drop_dir = str(tmp_path / "drops_sp")
    _write_drop(spark, drop_dir, [(1, "a"), (2, "b"), (1, "a2")])
    before = spark.conf.get("spark.sql.shuffle.partitions")
    sdf = spark.readStream.schema("k long, v string").parquet(drop_dir)
    agg = sdf.groupBy("k").count()
    out = ingest.run_available_now(
        agg, "sp_restore", output_mode="complete", state_partitions=3
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert sorted((r["k"], r["count"]) for r in out.collect()) == [(1, 2), (2, 1)]
