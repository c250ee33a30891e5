"""The DBD lookup endpoints (``company_financial`` and
``company_financial_all_years``) on published gold snapshots, against
a plain-Python reference: pinned to a driver-side copy (the default
for small tables) and served from the scan with pinning off
(``spark.sql.autoBroadcastJoinThreshold=-1``) or with the table above
the pin bound."""

from __future__ import annotations

import contextlib
import gc
import logging
import os
import uuid
import weakref

import pytest
from pyspark.sql import functions as F

from etl_script_spark.pipelines import dbd_financial
from etl_script_spark.sources import writers

# names a Column parser would split or reject; the last is a bigint
COLS = ["total_assets", "current assets", "net.profit", "odd`name"]
SCHEMA = (
    "tax_id string, fiscal_year int, total_assets double, "
    "`current assets` double, `net.profit` double, `odd``name` bigint"
)
ROWS = [
    ("A", 2019, 1.5, None, -2.0, 7),
    ("A", 2020, 2.5, 3.0, None, None),
    ("A", 2021, 10.0, 11.0, 12.0, 13),
    ("A", 2021, 20.0, None, 22.0, 23),  # duplicate (tax_id, year)
    ("A", 2022, None, None, None, None),
    ("A", 2023, 4.0, 5.0, 6.0, 8),
    ("B", 2020, 0.0, -1.0, 1.0, 0),
]
LOGGER = "etl_script_spark.pipelines.dbd_financial"


def _publish(spark, table_dir, rows):
    """Publish ``rows`` as a new gold snapshot and return a fresh
    handle on ``current``."""
    df = spark.createDataFrame(rows, SCHEMA).repartition(2)
    res = writers.write_audit_publish(
        df, table_dir, {"rows": F.count(F.lit(1))}, lambda m: True)
    assert res["published"]
    return spark.read.parquet(os.path.join(table_dir, "current"))


def _as_double(v):
    return None if v is None else float(v)


def _ref_point(rows, tax_id, year):
    return sorted(
        ((r[0], r[1], *[_as_double(v) for v in r[2:]])
         for r in rows if r[0] == tax_id and r[1] == year),
        key=repr,
    )


def _ref_years(rows, tax_id, lo, hi):
    """year → every row that year may answer with (duplicates keep
    an arbitrary one)."""
    out: dict[str, list[dict]] = {}
    for r in rows:
        if r[0] == tax_id and lo <= r[1] <= hi:
            out.setdefault(str(r[1]), []).append(
                dict(zip(COLS, [_as_double(v) for v in r[2:]])))
    return out


def _check(gold, rows, tax_id, year, lo, hi):
    got = dbd_financial.company_financial(gold, tax_id, year, COLS).collect()
    assert sorted(map(tuple, got), key=repr) == _ref_point(rows, tax_id, year)
    assert got == [] or got[0].__fields__ == ["tax_id", "fiscal_year", *COLS]

    got = dbd_financial.company_financial_all_years(gold, tax_id, lo, hi, COLS).collect()
    want = _ref_years(rows, tax_id, lo, hi)
    if not want:
        assert got == []
        return
    assert len(got) == 1 and got[0]["tax_id"] == tax_id
    years = {y: v.asDict() for y, v in got[0]["years"].items()}
    assert years.keys() == want.keys()
    for y, v in years.items():
        assert v in want[y], (y, v)


@contextlib.contextmanager
def _threshold(spark, value):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"lookup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("threshold", [None, "-1"], ids=["pinned", "unpinned"])
def test_lookups_match_python_reference(spark, tmp_path, threshold):
    """Duplicate (tax_id, year) rows, nulls, inclusive year bounds, an
    unknown tax_id and awkward column names, on both serving paths."""
    with _threshold(spark, threshold) if threshold else contextlib.nullcontext():
        gold = _publish(spark, str(tmp_path / "gold"), ROWS)
        for tax_id, year, lo, hi in [
            ("A", 2021, 2019, 2023),  # duplicate year inside the range
            ("A", 2022, 2020, 2022),  # all-null row; both bounds are kept
            ("A", 2019, 2019, 2019),  # a one-year range
            ("A", 2023, 2024, 2030),  # a range with no rows
            ("B", 2020, 2000, 2100),
            ("Z", 2021, 2019, 2023),  # unknown tax_id
        ]:
            _check(gold, ROWS, tax_id, year, lo, hi)


def test_pinned_handle_job_counts(spark, tmp_path):
    """The first call on a small handle collects it once; after that a
    point lookup runs no job and a year map one."""
    gold = _publish(spark, str(tmp_path / "gold"), ROWS)
    _, pin = _jobs(spark, lambda: dbd_financial.company_financial(gold, "A", 2021, COLS))
    assert pin == 1
    for _ in range(2):
        rows, n = _jobs(spark, lambda: dbd_financial.company_financial(
            gold, "A", 2021, COLS).collect())
        assert len(rows) == 2 and n == 0
        rows, n = _jobs(spark, lambda: dbd_financial.company_financial_all_years(
            gold, "A", 2019, 2023, COLS).collect())
        assert len(rows[0]["years"]) == 5 and n == 1


def test_threshold_off_never_collects(spark, tmp_path):
    """With spark.sql.autoBroadcastJoinThreshold=-1 building a lookup
    runs no job, on the first call or any later one."""
    with _threshold(spark, "-1"):
        gold = _publish(spark, str(tmp_path / "gold"), ROWS)
        for _ in range(2):
            _, n = _jobs(spark, lambda: dbd_financial.company_financial(gold, "A", 2021, COLS))
            assert n == 0
            _, n = _jobs(spark, lambda: dbd_financial.company_financial_all_years(
                gold, "A", 2019, 2023, COLS))
            assert n == 0


def test_table_above_pin_bound_is_never_collected(spark, tmp_path, monkeypatch):
    """A table estimated above ``_PIN_MAX_BYTES`` is queried as it is,
    even under the broadcast threshold: no collect job on any call."""
    gold = _publish(spark, str(tmp_path / "gold"), ROWS)
    size = int(gold._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert size <= spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    monkeypatch.setattr(dbd_financial, "_PIN_MAX_BYTES", size - 1)
    for _ in range(2):
        _, n = _jobs(spark, lambda: dbd_financial.company_financial(gold, "A", 2021, COLS))
        assert n == 0
        rows, n = _jobs(spark, lambda: dbd_financial.company_financial_all_years(
            gold, "A", 2019, 2023, COLS).collect())
        assert len(rows[0]["years"]) == 5 and n >= 1
    _check(gold, ROWS, "A", 2021, 2019, 2023)


def test_pin_decision_logged_once_per_handle(spark, tmp_path, caplog):
    gold = _publish(spark, str(tmp_path / "gold"), ROWS)
    with caplog.at_level(logging.INFO, logger=LOGGER):
        for _ in range(2):
            dbd_financial.company_financial(gold, "A", 2021, COLS)
            dbd_financial.company_financial_all_years(gold, "A", 2019, 2023, COLS)
    msgs = [r.getMessage() for r in caplog.records if r.name == LOGGER]
    assert len(msgs) == 1 and msgs[0].startswith(f"lookup serving: pinned {len(ROWS)} rows")

    caplog.clear()
    with _threshold(spark, "-1"), caplog.at_level(logging.INFO, logger=LOGGER):
        off = spark.read.parquet(str(tmp_path / "gold" / "current"))
        for _ in range(2):
            dbd_financial.company_financial(off, "A", 2021, COLS)
    msgs = [r.getMessage() for r in caplog.records if r.name == LOGGER]
    assert len(msgs) == 1 and msgs[0].startswith("lookup serving: not pinned, estimated ")
    assert msgs[0].endswith("spark.sql.autoBroadcastJoinThreshold=-1")


@pytest.mark.parametrize("threshold", [None, "-1"], ids=["pinned", "unpinned"])
def test_serving_decision_does_not_keep_the_handle_alive(spark, tmp_path, threshold):
    with _threshold(spark, threshold) if threshold else contextlib.nullcontext():
        gold = _publish(spark, str(tmp_path / "gold"), ROWS)
        dbd_financial.company_financial(gold, "A", 2021, COLS)
    ref = weakref.ref(gold)
    del gold
    gc.collect()
    assert ref() is None


def test_snapshot_freshness(spark, tmp_path):
    """After a second publish, a fresh read of ``current`` answers from
    the new snapshot and the old, pinned handle from its own."""
    table = str(tmp_path / "gold")
    old = _publish(spark, table, ROWS)
    _check(old, ROWS, "A", 2023, 2019, 2023)
    restated = [r for r in ROWS if r[0] != "A"] + [
        ("A", 2023, 40.0, 50.0, 60.0, 80), ("C", 2021, 1.0, 2.0, 3.0, 4)]
    new = _publish(spark, table, restated)
    for tax_id in ("A", "B", "C"):
        _check(new, restated, tax_id, 2023 if tax_id == "A" else 2021, 2019, 2023)
        _check(old, ROWS, tax_id, 2023 if tax_id == "A" else 2021, 2019, 2023)
