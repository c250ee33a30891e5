"""DBD financial-statement pipeline (SURVEY.md §3.1, the flagship).

bronze (wide Excel shape, all strings) → silver (long typed rows per
(tax_id, fiscal_year, item_en)) → gold (pivoted per-year tables,
upsert-merged) → query surface (point lookup / all-years map).

Scale: silver derivation is narrow (no shuffle — unpivot + expressions
fan out per input row); the only shuffles are the gold pivot's groupBy
(keyed on (tax_id, fiscal_year) — high cardinality, even) and the
upsert anti-join.

Serving: the two lookup endpoints are called many times on one gold
handle, so a fixed per-query Spark cost dominates them, not the scan.
A handle whose optimizer size estimate is at most ``_PIN_MAX_BYTES``
(512 KiB, measured below; ``spark.sql.autoBroadcastJoinThreshold``
lowers it, and ``-1`` turns pinning off) is collected ONCE, on the
first call, into a driver-side LocalRelation, and later calls query
that copy: Spark folds the keyed filter and projection into the
relation, so a point lookup runs no job and a year map runs one
single-stage job. Larger handles are queried as they are. The copy is
only sound if the handle's files never change: pass a snapshot handle,
such as a ``spark.read`` of a ``write_audit_publish`` table's
``current``. Such a handle keeps the file listing it was created with,
and ``write_audit_publish`` never rewrites a published snapshot's
files; a new snapshot is new files, seen by a new handle. A handle
over files that are overwritten in place (e.g. a dynamic partition
overwrite) would keep answering from its old copy once pinned.

Ref: script_read_dbd_balance.py:225-285 (silver),
ImportDbdFinancial.php:185-288 (gold), PublicApiController.php:779-985
(queries).
"""

from __future__ import annotations

import logging
import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_script_spark.functions import dates, numerics, strings
from etl_script_spark.functions.exprs import sql_ident
from etl_script_spark.operators import merge as merge_ops
from etl_script_spark.operators import reshape, rowfilters

_log = logging.getLogger(__name__)

# Representative TH→EN item map (the contract is the *mapping
# operation*; the reference hard-codes a 12-item balance map at
# script_read_dbd_balance.py:28-41 and income/ratio maps at
# script_read_dbd_income.py:109-128, script_read_dbd_ratios.py:89-105).
TH_TO_EN_BALANCE = {
    "สินทรัพย์หมุนเวียน": "current_assets",
    "สินทรัพย์รวม": "total_assets",
    "หนี้สินหมุนเวียน": "current_liabilities",
    "หนี้สินรวม": "total_liabilities",
    "ส่วนของผู้ถือหุ้น": "shareholders_equity",
}
TH_TO_EN_INCOME = {
    "รายได้รวม": "total_revenue",
    "ต้นทุนขาย": "cost_of_sales",
    "กำไรขาดทุน ขั้นต้น": "gross_profit",
    "กำไรขาดทุน สุทธิ": "net_profit",
}

BALANCE_ITEMS = list(TH_TO_EN_BALANCE.values())
INCOME_ITEMS = list(TH_TO_EN_INCOME.values())


def silver_from_wide(
    wide: DataFrame,
    year_pairs: dict[str, str],
    th_to_en: dict[str, str],
    item_col: str = "item_th",
    file_col: str = "_file",
    zero_coerce: bool = True,
) -> DataFrame:
    """Wide per-year statement → long silver rows.

    Steps (all narrow): P11 noise-label drop → R1 year-pair unpivot →
    F26 tax_id from filename → F1 BE year → CE → F10 accounting
    numeric clean → F16 label normalization → TH→EN mapping → F15
    zero-coercion (balance policy) or all-null-drop (income policy).
    """
    base = rowfilters.drop_noise_labels(wide, item_col)

    long = reshape.unpivot_year_pairs(
        base.select(
            item_col,
            file_col,
            *[
                numerics.clean_numeric_accounting(F.col(c)).alias(c)
                for pair in year_pairs.items()
                for c in pair
                if c
            ],
        ),
        [item_col, file_col],
        year_pairs,
    )

    mapping = F.create_map(
        *[F.lit(x) for th, en in th_to_en.items() for x in (th, en)]
    )
    item_norm = strings.norm_ws(F.col(item_col))
    out = long.select(
        strings.filename_extract(
            F.col(file_col), r"(\d{13})_[a-z]+\.(xlsx?|xls)$"
        ).alias("tax_id"),
        dates.be_to_ce_year(F.col("year")).alias("fiscal_year"),
        F.coalesce(mapping[item_norm], item_norm).alias("item_en"),
        F.col("amount"),
        F.col("pct_change"),
    )
    if zero_coerce:  # balance policy: null amounts → 0.0
        out = out.withColumn("amount", numerics.zero_if_null(F.col("amount")))
    else:  # income policy: rows with no amount at all drop
        out = out.filter(F.col("amount").isNotNull())
    return out


def gold_pivot(silver: DataFrame, items: list[str]) -> DataFrame:
    """R2: silver long rows → one gold row per (tax_id, fiscal_year)
    with declared item columns (last wins on duplicates)."""
    return reshape.pivot_items(
        silver, ["tax_id", "fiscal_year"], "item_en", "amount", items
    )


def merge_gold(target: DataFrame, incoming: DataFrame) -> DataFrame:
    """J6: upsert the new batch's (tax_id, fiscal_year) rows into the
    stored gold table."""
    return merge_ops.upsert(target, incoming, ["tax_id", "fiscal_year"])


def import_gate(
    financial: DataFrame, company_parent: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """J2: only statements whose tax_id exists in the company parent
    import; the rest become the skip report."""
    ok = merge_ops.exists_in(financial, company_parent, {"tax_id": "registered_no"})
    skipped = merge_ops.missing_parent(
        financial, company_parent, {"tax_id": "registered_no"}
    )
    return ok, skipped


# Largest size estimate (compressed parquet bytes) pinned. Measured
# per call on a sorted 4-file gold of 9 double columns, local[4] on a
# 4-core Xeon VM, 4 GB driver, median of 25 calls, scan → pinned:
#   estimate  rows   reused point  reused year map  fresh handle point
#     37 KB     315    70 → 19 ms      164 → 81 ms       162 → 146 ms
#    263 KB   3 500    68 → 20 ms      160 → 78 ms       139 → 144 ms
#    499 KB   7 000    57 → 24 ms      135 → 81 ms       136 → 140 ms
#    987 KB  14 000    51 → 24 ms      118 → 78 ms       106 → 148 ms
#    1.5 MB  21 000    56 → 31 ms      133 → 92 ms       107 → 207 ms
#     24 MB 350 000    70 → 416 ms     152 → 517 ms      168 → 1465 ms (15 calls)
# A pinned lookup filters every pinned row in the driver's optimizer and
# a fresh handle pays the collect on its first call, so both grow with
# the table while the scan stays flat. Up to ~500 KB a reused handle
# answers 2.4x+ faster and a single-use one costs within 4 % of a scan.
_PIN_MAX_BYTES = 512 * 1024

# Serving copy per gold handle: its pinned LocalRelation, or None when
# the handle is served as it is. None, never the handle itself: a value
# that refers to its weak key would keep that key alive.
_SERVING: "weakref.WeakKeyDictionary[DataFrame, DataFrame | None]" = (
    weakref.WeakKeyDictionary()
)


def _serving(df: DataFrame) -> DataFrame:
    """The frame the lookup endpoints query in place of ``df``: a
    driver-side LocalRelation copy when ``df`` is a deterministic batch
    plan estimated at most ``_PIN_MAX_BYTES`` and
    ``spark.sql.autoBroadcastJoinThreshold`` bytes, else ``df`` itself.
    Decided, and logged, once per handle; pinning runs one collect
    job."""
    try:
        pinned = _SERVING[df]
    except KeyError:
        pinned = _SERVING[df] = _pin(df)
    return df if pinned is None else pinned


def _pin(df: DataFrame) -> DataFrame | None:
    spark = df.sparkSession
    jdf = df._jdf
    qe = jdf.queryExecution()
    if df.isStreaming or not qe.analyzed().deterministic():
        _log.info("lookup serving: not pinned, not a deterministic batch plan")
        return None
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    size = int(qe.optimizedPlan().stats().sizeInBytes())
    if threshold < 0 or size > min(threshold, _PIN_MAX_BYTES):
        _log.info(
            "lookup serving: not pinned, estimated %d bytes against the "
            "pin bound %d and spark.sql.autoBroadcastJoinThreshold=%d",
            size, _PIN_MAX_BYTES, threshold,
        )
        return None
    # built inside the JVM: exact Catalyst types, no Arrow/pickle trip
    rows = jdf.collectAsList()
    pinned = DataFrame(spark._jsparkSession.createDataFrame(rows, jdf.schema()), spark)
    _log.info(
        "lookup serving: pinned %d rows, estimated %d bytes", rows.size(), size
    )
    return pinned


def company_financial(
    gold: DataFrame, tax_id: str, fiscal_year: int, cols: list[str]
) -> DataFrame:
    """P12/P13: the point-lookup query — keyed filter + fixed float
    projection (PublicApiController.php:799-854).

    ``gold`` must be a snapshot handle whose files never change (see
    the module docstring). The first call on a small handle runs one
    collect job to pin it; later calls on it run none."""
    return _serving(gold).filter(
        (F.col("tax_id") == tax_id) & (F.col("fiscal_year") == fiscal_year)
    ).selectExpr(
        "tax_id",
        "fiscal_year",
        *[f"CAST({q} AS DOUBLE) AS {q}" for q in map(sql_ident, cols)],
    )


def company_financial_all_years(
    gold: DataFrame, tax_id: str, year_from: int, year_to: int, cols: list[str]
) -> DataFrame:
    """R3: per-year map response for the all-years endpoint
    (PublicApiController.php:884-985).

    ``gold`` must be a snapshot handle whose files never change (see
    the module docstring). The first call on a small handle runs one
    collect job to pin it; on a pinned handle the map is then one
    single-stage job."""
    served = _serving(gold)
    ranged = served.filter(
        (F.col("tax_id") == tax_id)
        & (F.col("fiscal_year") >= year_from)
        & (F.col("fiscal_year") <= year_to)
    )
    if served is not gold:
        # one partition satisfies both the dedupe's and the aggregate's
        # clustering, so the plan has no Exchange; an unpinned handle
        # keeps its scan parallel
        ranged = ranged.coalesce(1)
    return reshape.pivoted_year_map(ranged, "tax_id", "fiscal_year", cols)
