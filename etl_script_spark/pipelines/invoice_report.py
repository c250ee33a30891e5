"""Invoice detail-report import pipeline (SURVEY.md §3.2).

raw extracted records (all strings, messy) → canonical keys → cleaned
typed columns → header/trailing-junk removal → validation split →
duplicate-skip insert → import metrics. Mirrors
pdf_ocr_inv_to_json.py:234-295 (extract-side transform) +
ImportInvoiceReport.php:81-291 (import-side), in one distributed pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_script_spark.functions import dates, numerics, strings
from etl_script_spark.operators import merge as merge_ops
from etl_script_spark.operators import rowfilters
from etl_script_spark.operators.canonicalize import fuzzy_rename_columns

# canon-folded key → canonical column (pdf_ocr_inv_to_json.py:141-170)
CANON_MAP = {
    "no": "no",
    "invoiceno": "invoice_no",
    "suppliercode": "supplier_code",
    "suppliername": "supplier_name",
    "invoicedate": "invoice_date",
    "invoicereceiveddate": "invoice_received_date",
    "relateddocument": "related_document",
    "amount": "amount",
    "status": "status",
}

HEADER_EXPECTED = {
    "no": "no",
    "invoice_no": "invoice no.",
    "supplier_code": "supplier code",
    "amount": "amount",
}

DATE_FORMATS = ("dd/MM/yyyy", "yyyy-MM-dd", "dd-MM-yyyy")


def clean_invoice_records(raw: DataFrame) -> DataFrame:
    """Extract-side transform (lenient mode): key canonicalization
    (P2), OCR invoice-no repair (F18), digit-run PO extraction (F20),
    BE-aware date cascade (F1+F3), AM/PM + swapped-month datetime
    repair (F4+F5, with the swap FLAGGED for metrics), amount cleaning
    (F13+F9), whitespace normalization (F16)."""
    df = fuzzy_rename_columns(raw, CANON_MAP)
    ts = dates.strip_bogus_ampm(F.col("invoice_received_date"))
    parsed_ts = dates.parse_timestamp_cascade(ts)
    fixed_ts = dates.fix_swapped_month_day(ts)
    return df.select(
        F.col("no"),
        strings.ocr_repair_tail_digits(F.col("invoice_no")).alias("invoice_no"),
        F.col("supplier_code"),
        strings.norm_ws(F.col("supplier_name")).alias("supplier_name"),
        dates.be_date_fix(
            dates.parse_date_cascade(F.col("invoice_date"), formats=DATE_FORMATS)
        ).alias("invoice_date"),
        F.coalesce(fixed_ts, parsed_ts).alias("invoice_received_date"),
        dates.was_swapped_month_day(ts).alias("date_was_swapped"),
        strings.extract_digit_run(F.col("related_document")).alias("po_no"),
        numerics.clean_numeric_basic(
            numerics.repair_multi_dot(F.col("amount"))
        ).alias("amount"),
        F.col("status"),
    )


def import_invoices(
    existing: DataFrame, cleaned: DataFrame
) -> tuple[DataFrame, DataFrame, dict]:
    """Import-side: header-row skip (P5 on the raw strings is done
    upstream; here the `no`=='no' echo rows drop), validation (P9),
    duplicate-skip insert (J7), and the reference's summary metrics
    (A2): total, failed_validation and fixed_dates in one aggregation
    pass over the tagged rows, inserted in one more over the insert.
    Those two actions each run ``cleaned``'s plan; cache it first if
    that plan is costly.

    Returns (new_table, rejected_rows, metrics_dict)."""
    data = cleaned.filter(
        F.coalesce(F.lower(F.col("no")) != "no", F.lit(True))
    )
    rules = {
        "missing_invoice_no": F.col("invoice_no").isNotNull()
        & (F.col("invoice_no") != ""),
        "bad_date": F.col("invoice_date").isNotNull(),
        "bad_amount": F.col("amount").isNotNull(),
    }
    valid, invalid = rowfilters.validation_split(data, rules)
    new_rows, _ = merge_ops.insert_dedup(existing, valid, ["invoice_no"])
    tally = data.agg(
        F.count(F.lit(1)).alias("total"),
        F.count(rowfilters.first_failed_rule(rules)).alias("failed_validation"),
        F.count_if(F.col("date_was_swapped")).alias("fixed_dates"),
    ).first()
    counts = {
        "total": tally["total"],
        "inserted": new_rows.count(),
        "failed_validation": tally["failed_validation"],
        "fixed_dates": tally["fixed_dates"],
    }
    counts["failed_duplicate"] = (
        counts["total"] - counts["inserted"] - counts["failed_validation"]
    )
    table = existing.unionByName(
        new_rows.drop("date_was_swapped"), allowMissingColumns=True
    )
    return table, invalid, counts
