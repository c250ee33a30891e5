"""Row-level filter operators (SURVEY.md §2.2 P5-P11).

All are expressed as Catalyst predicates so they push down / fuse into
scans. The one genuinely order-dependent operator (P7 trailing trim)
requires an explicit order column — Spark DataFrames have no row
order, so bronze ingest must stamp one (SURVEY §4.3-1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# P6: total/summary-row vocabulary (Thai + EN).
# Ref: pdf_ocr_inv_to_json.py:178-189, read_po_csv_to_json.py:242-263.
TOTAL_ROW_PATTERN = r"(?i)(grand\s*total|sub\s*total|total|รวมทั้งสิ้น|รวมยอดทั้งหมด|ยอดรวม|รวม)"

# P11: noise labels dropped by the ratios/balance readers.
# Ref: script_read_dbd_ratios.py:246-248, script_read_dbd_balance.py:42.
NOISE_LABEL_PATTERN = r"^(หน่วย|หมายเหตุ)"


def is_total_row(*cols: Column) -> Column:
    """P6 predicate: any of the given columns matches the total-row
    vocabulary."""
    hit = F.lit(False)
    for c in cols:
        hit = hit | F.coalesce(c.cast("string").rlike(TOTAL_ROW_PATTERN), F.lit(False))
    return hit


def drop_total_rows(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """P6: drop rows containing total/grand-total/รวม… markers."""
    cols = cols or df.columns
    return df.filter(~is_total_row(*[F.col(c) for c in cols]))


def header_row_predicate(expected: dict[str, str], min_matches: int = 3) -> Column:
    """P5 predicate: a row is a stray header if >= min_matches of its
    values equal their own column's expected header label
    (case/space-insensitive).

    Ref: pdf_ocr_inv_to_json.py:173-194, ImportInvoiceReport.php:297-317.
    """
    matches = [
        F.when(
            F.lower(F.trim(F.col(c).cast("string"))) == label.strip().lower(), 1
        ).otherwise(0)
        for c, label in expected.items()
    ]
    total = matches[0]
    for m in matches[1:]:
        total = total + m
    return total >= min_matches


def drop_header_rows(df: DataFrame, expected: dict[str, str], min_matches: int = 3) -> DataFrame:
    """P5: drop rows that are repeated header lines."""
    return df.filter(~header_row_predicate(expected, min_matches))


def drop_noise_labels(df: DataFrame, label_col: str, pattern: str = NOISE_LABEL_PATTERN) -> DataFrame:
    """P11: drop rows whose label matches the noise vocabulary."""
    return df.filter(
        ~F.coalesce(F.col(label_col).cast("string").rlike(pattern), F.lit(False))
    )


def drop_all_null_rows(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """P8: pandas dropna(how='all') — drop rows where every value is
    NULL (or blank). Ref: script_read_dbd_balance.py:167."""
    cols = cols or df.columns
    any_set = F.lit(False)
    for c in cols:
        s = F.trim(F.col(c).cast("string"))
        any_set = any_set | (s.isNotNull() & (s != ""))
    return df.filter(any_set)


def trim_trailing(df: DataFrame, order_col: str, junk: Column) -> DataFrame:
    """P7: remove only the trailing run of junk rows (totals/empties),
    preserving interior ones — order-dependent.

    Implementation: last "good" position per file via one aggregate
    over max(order where not junk); rows after it are dropped. This is
    a single window/agg, no driver collect, so it scales: the window
    is per input file when ``order_col`` is stamped per file.

    Ref: read_po_csv_to_json.py:266-279, pdf_ocr_inv_to_json.py:412-419.
    """
    w = Window.partitionBy()  # caller may pre-partition by file
    last_good = F.max(F.when(~junk, F.col(order_col))).over(w)
    return (
        df.withColumn("__last_good", last_good)
        .filter(F.col(order_col) <= F.col("__last_good"))
        .drop("__last_good")
    )


def trim_trailing_per_file(df: DataFrame, file_col: str, order_col: str, junk: Column) -> DataFrame:
    """P7 partitioned variant: trailing trim within each source file —
    the scale-safe form (window keyed by file, shuffles once by file)."""
    w = Window.partitionBy(file_col)
    last_good = F.max(F.when(~junk, F.col(order_col))).over(w)
    return (
        df.withColumn("__last_good", last_good)
        .filter(F.col(order_col) <= F.col("__last_good"))
        .drop("__last_good")
    )


def strict_mode_filter(
    df: DataFrame, invoice_col: str, supplier_col: str
) -> DataFrame:
    """P10: strict-mode regex row filter — keep only rows whose invoice
    number is ``^[A-Za-z]+\\d+$`` and supplier code is all digits.

    Ref: pdf_ocr_inv_to_json.py:231-232,263-295.
    """
    return df.filter(
        F.col(invoice_col).cast("string").rlike(r"^[A-Za-z]+\d+$")
        & F.col(supplier_col).cast("string").rlike(r"^\d+$")
    )


def first_failed_rule(rules: dict[str, Column]) -> Column:
    """The name of the FIRST rule in ``rules`` (reason-name → predicate
    that must hold) that a row fails, or NULL when it passes them all;
    a NULL predicate counts as failed."""
    reason = F.lit(None).cast("string")
    # build reversed so the first rule listed wins
    for name, pred in reversed(list(rules.items())):
        reason = F.when(~F.coalesce(pred, F.lit(False)), F.lit(name)).otherwise(reason)
    return reason


def validation_split(
    df: DataFrame, rules: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """P9: per-row rule validation → (valid, invalid-with-reason).

    ``rules`` maps reason-name → predicate that must hold. Invalid rows
    carry the FIRST failing reason (mirroring the reference's failure
    taxonomy). Both sides derive from one projection — Catalyst reuses
    the scan. Ref: ImportInvoiceReport.php:169-190,261-291.
    """
    tagged = df.withColumn("__fail_reason", first_failed_rule(rules))
    valid = tagged.filter(F.col("__fail_reason").isNull()).drop("__fail_reason")
    invalid = tagged.filter(F.col("__fail_reason").isNotNull()).withColumnRenamed(
        "__fail_reason", "fail_reason"
    )
    return valid, invalid
