"""Round-11 optimization pins: operator internals changed for
performance must keep their declared semantics bit-identical."""

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# containment_pairs packed rollup (operators/dedup.py, r11)
# ---------------------------------------------------------------------------


def test_containment_packed_rollup_order_matches_struct_order(spark):
    """The r11 rollup collects (df << 32) + g packed longs and
    sort_arrays them; the prefix slice is only lossless if that order
    is EXACTLY the (df asc, g asc) struct order the operator used
    before. Adversarial fixture: g values at the 32-bit extremes
    (0, 1, 2^32-1), df ties broken by g, g ties impossible per doc."""
    rows = [
        # (id, g, df) — g spans [0, 2^32), df has ties
        (1, 0, 3),
        (1, (1 << 32) - 1, 1),
        (1, 7, 1),
        (1, (1 << 31), 2),
        (1, 123456789, 3),
        (2, 1, 1),
        (2, (1 << 32) - 2, 1),
    ]
    df = spark.createDataFrame(rows, "id long, g long, __df long")
    packed = (
        df.select("id", (F.shiftleft("__df", 32) + F.col("g")).alias("__pk"))
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("__pk")).alias("__gs"))
        .withColumn(
            "__gs",
            F.transform("__gs", lambda x: x.bitwiseAND(F.lit((1 << 32) - 1))),
        )
    )
    struct_form = df.groupBy("id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("__df", "g"))),
            lambda s: s["g"],
        ).alias("__gs")
    )
    got = {r["id"]: r["__gs"] for r in packed.collect()}
    want = {r["id"]: r["__gs"] for r in struct_form.collect()}
    assert got == want


def test_containment_pairs_output_identical_to_unpacked_reference(spark):
    """End-to-end pin on a corpus with repeated grams across docs (so
    document frequencies differ and the prefix slice actually
    selects): the packed-rollup operator must emit exactly the pairs
    a brute-force containment over the same word 8-grams emits."""
    from etl_script_spark.operators import dedup as dd
    from etl_script_spark.operators.dedup import normalize_text

    docs = []
    base = [f"w{i}" for i in range(30)]
    docs.append((1, " ".join(base)))                      # container
    docs.append((2, " ".join(base[:12])))                 # contained prefix
    docs.append((3, " ".join(base[10:26])))               # contained middle
    docs.append((4, " ".join(f"x{i}" for i in range(20))))  # unrelated
    docs.append((5, " ".join(base)))                      # exact dup of 1
    df = spark.createDataFrame(docs, "doc_id long, text string")

    out = dd.containment_pairs(df, "text", "doc_id", n=8,
                               threshold_ppm=500_000)
    got = {
        (r["contained_id"], r["container_id"]):
            (r["n_grams_a"], r["n_common"], r["containment_ppm"])
        for r in out.collect()
    }
    out.unpersist()

    # brute force over the same normalized word 8-grams
    norm = df.select(
        "doc_id",
        F.filter(F.split(normalize_text(F.col("text")), " "),
                 lambda x: x != "").alias("ws"),
    ).collect()
    grams = {}
    for r in norm:
        ws = r["ws"]
        gs = {" ".join(ws[i:i + 8]) for i in range(len(ws) - 7)} \
            if len(ws) >= 8 else set()
        grams[r["doc_id"]] = gs
    want = {}
    for a, ga in grams.items():
        for b, gb in grams.items():
            if a == b or not ga:
                continue
            inter = len(ga & gb)
            ppm = inter * 1_000_000 // len(ga)
            if ppm >= 500_000:
                want[(a, b)] = (len(ga), inter, ppm)
    assert got == want


def test_containment_pairs_lazy_when_not_eager(spark):
    """eager=False must be a plain lazy plan: no construction-time
    jobs, no cache-manager entries, no persisted RDDs left behind."""
    from etl_script_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h")],
        "doc_id long, text string",
    )
    jcm = spark._jsparkSession.sharedState().cacheManager()
    before_rdds = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    before_cached = jcm.cachedData().size()
    out = dd.containment_pairs(df, "text", "doc_id", n=3, eager=False)
    after_rdds = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    assert after_rdds == before_rdds, "eager=False persisted something"
    # delta, not absolute emptiness: the shared test session may carry
    # entries from earlier tests in the run
    assert jcm.cachedData().size() == before_cached, (
        "eager=False added a cache-manager entry"
    )
    assert out.columns == [
        "contained_id", "container_id", "n_grams_a", "n_common",
        "containment_ppm",
    ]


# ---------------------------------------------------------------------------
# keyed_width on a non-numeric spark.sql.shuffle.partitions
# (operators/partitioning.py)
# ---------------------------------------------------------------------------


def _frame_with_shuffle_conf(value):
    """Stand-in DataFrame: stock Spark refuses a non-integer
    shuffle.partitions, so the conf value is served by a stub."""
    from types import SimpleNamespace

    session = SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=4),
        conf=SimpleNamespace(get=lambda key: value),
    )
    return SimpleNamespace(sparkSession=session)


def test_keyed_width_auto_shuffle_partitions_logs_fallback(caplog):
    import logging

    from etl_script_spark.operators.partitioning import keyed_width

    with caplog.at_level(logging.WARNING, "etl_script_spark.operators.partitioning"):
        assert keyed_width(_frame_with_shuffle_conf("auto")) == 4
    assert "'auto'" in caplog.text
    assert keyed_width(_frame_with_shuffle_conf("16")) == 16


def test_keyed_width_rejects_non_numeric_shuffle_partitions():
    import pytest

    from etl_script_spark.operators.partitioning import keyed_width

    with pytest.raises(ValueError, match="integer or 'auto'"):
        keyed_width(_frame_with_shuffle_conf("lots"))


# ---------------------------------------------------------------------------
# session default driver heap (session.py)
# ---------------------------------------------------------------------------


def test_default_driver_memory_capped_at_half_of_physical(monkeypatch):
    import os

    from etl_script_spark import session

    pages = {"SC_PAGE_SIZE": 4096}

    def fake_sysconf(name):
        if name not in pages:
            raise ValueError(f"unrecognized configuration name {name}")
        return pages[name]

    monkeypatch.setattr(os, "sysconf", fake_sysconf)
    pages["SC_PHYS_PAGES"] = 16 * 1024 * 1024 * 1024 // 4096
    assert session.default_driver_memory() == "8192m"
    pages["SC_PHYS_PAGES"] = 256 * 1024 * 1024 * 1024 // 4096
    assert session.default_driver_memory() == "49152m"
    del pages["SC_PHYS_PAGES"]
    assert session.default_driver_memory() == "49152m"
