"""The reference's monthly import job, one drop at a time, and the
checks of its results against the generator's truth.

Per drop: read (CSV, JSON, the DBD sheets, the sale-report HTML) →
clean (invoice cleaner, wide-sheet silver, company mapping, the
statement gate) → sale-report parse → pivot → merge (upsert,
insert_dedup, replace_children) → write_audit_publish + vacuum_snapshots
of the five tables.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from etl_script_spark.operators import merge as merge_ops
from etl_script_spark.pipelines import company, dbd_financial, invoice_report, sale_report
from etl_script_spark.sources import excel, readers, writers

import gen_import

TABLE_KEYS = {
    "companies": "registered_no",
    "directors": "registered_no",
    "gold": "tax_id",
    "invoices": "invoice_no",
    "sales": "doc_no",
}
GOLD_ITEMS = dbd_financial.BALANCE_ITEMS + dbd_financial.INCOME_ITEMS
PUBLISH_FILES = 4
SHEET_SCHEMA = StructType(
    [StructField(c, StringType()) for c in gen_import.SHEET_COLS + ["source_file"]]
)


def _current(spark, tables: str, name: str, like: DataFrame) -> DataFrame:
    path = os.path.join(tables, name, "current")
    if os.path.exists(path):
        return spark.read.parquet(path)
    return spark.createDataFrame([], like.schema)


def _publish(df: DataFrame, table_dir: str, key: str) -> int:
    # range-partitioned and sorted on the lookup key: a keyed lookup
    # reads only the row groups whose min/max statistics hold its key
    res = writers.write_audit_publish(
        df.repartitionByRange(PUBLISH_FILES, key).sortWithinPartitions(key),
        table_dir,
        {
            "rows": F.count(F.lit(1)),
            "null_keys": F.sum(F.col(key).isNull().cast("long")),
        },
        lambda m: m["null_keys"] == 0 or f"{m['null_keys']} null keys",
    )
    if not res["published"]:
        raise RuntimeError(f"audit refused {table_dir}: {res['reason']}")
    writers.vacuum_snapshots(table_dir, keep=2)
    return int(res["metrics"]["rows"])


def import_month(spark, mdir: str, tables: str, tr) -> dict:
    """Import one drop into the tables under ``tables``; return the
    import report (invoice counts, gate skips, sale rows inserted, live
    rows)."""
    with tr.span("sources.read") as read_c:
        payload = tr.force(readers.read_json_records(spark, os.path.join(mdir, "companies.json")))
        sheets = {
            kind: tr.force(excel.read_excel_distributed(
                spark, os.path.join(mdir, "dbd", f"*_{kind}.xlsx"), SHEET_SCHEMA,
            ).withColumnRenamed("source_file", "_file"))
            for kind in ("balance", "income")
        }
        inv_raw = tr.force(readers.read_csv_fallback(
            spark, os.path.join(mdir, "invoice_report.csv"), header=True))
        html = tr.force(readers.read_files_with_meta(
            spark, os.path.join(mdir, "sale", "*.html")).select(
            F.col("path").alias("doc_path"), F.col("content").cast("string").alias("html")))

    with tr.span("pipelines.clean") as clean_c:
        entities = tr.force(company.map_company_entity(payload))
        silver = dbd_financial.silver_from_wide(
            sheets["balance"], gen_import.YEAR_PAIRS, dbd_financial.TH_TO_EN_BALANCE
        ).unionByName(dbd_financial.silver_from_wide(
            sheets["income"], gen_import.YEAR_PAIRS, dbd_financial.TH_TO_EN_INCOME,
            zero_coerce=False,
        ))
        comp_cur = _current(spark, tables, "companies", entities)
        parent = comp_cur.select("registered_no").unionByName(entities.select("registered_no"))
        ok, skipped = dbd_financial.import_gate(silver, parent)
        ok = tr.force(ok)
        n_skipped = skipped.select("tax_id", "fiscal_year").distinct().count()
        cleaned = tr.force(invoice_report.clean_invoice_records(inv_raw))

    with tr.span("pipelines.sale_report"):
        sale_rows = tr.force(sale_report.sale_invoice_db_rows(
            sale_report.sale_invoice_records(html, "html", ["doc_path"])))

    with tr.span("reshape.pivot"):
        gold_in = tr.force(dbd_financial.gold_pivot(ok, GOLD_ITEMS))

    with tr.span("merge") as merge_c:
        dir_in = company.directors_long(entities)
        invoices_new, _rejected, counts = invoice_report.import_invoices(
            _current(spark, tables, "invoices", cleaned.drop("date_was_swapped")), cleaned)
        sales_cur = _current(spark, tables, "sales", sale_rows)
        new_sales, _ = merge_ops.insert_dedup(sales_cur, sale_rows, ["doc_no"])
        out = {
            "gold": dbd_financial.merge_gold(_current(spark, tables, "gold", gold_in), gold_in),
            "companies": company.upsert_companies(comp_cur, entities),
            "directors": company.sync_directors(_current(spark, tables, "directors", dir_in), dir_in),
            "invoices": invoices_new,
            "sales": sales_cur.unionByName(new_sales),
        }
        out = {name: tr.force(df) for name, df in out.items()}

    sales_before = sales_cur.count()
    with tr.span("writers.publish") as pub_c:
        rows = {name: _publish(df, os.path.join(tables, name), TABLE_KEYS[name])
                for name, df in out.items()}
    sale_inserted = rows["sales"] - sales_before
    if tr.enabled:  # counts of the forced outputs, outside every span
        n_gold, n_ent, n_dir = gold_in.count(), entities.count(), dir_in.count()
        read_c["read_rows"] = (payload.count() + sheets["balance"].count()
                               + sheets["income"].count() + inv_raw.count() + html.count())
        clean_c["clean_rows"] = counts["total"] + n_ent + ok.count()
        merge_c["rows_in"] = n_gold + n_ent + n_dir + counts["total"] + sale_rows.count()
        merge_c["rows_changed"] = n_gold + n_ent + n_dir + counts["inserted"] + sale_inserted
        pub_c["bytes"], pub_c["files"] = disk_usage([os.path.join(tables, n) for n in out])
    return {**counts, "gate_skipped": n_skipped, "sale_inserted": sale_inserted,
            "live_rows": sum(rows.values())}


def disk_usage(dirs: list[str]) -> tuple[int, int]:
    """Bytes and data files under the given table directories."""
    total = files = 0
    for d in dirs:
        for root, _dirs, names in os.walk(d):
            for n in names:
                if n.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(root, n))
                    files += 1
    return total, files


# ------------------------------------------------------------------ checks

def _read(tables: str, name: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.realpath(os.path.join(tables, name, "current"))).to_pylist()


def _eq(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and float(a) == float(b)
    if isinstance(a, dt.datetime) and isinstance(b, dt.datetime):
        return a.replace(tzinfo=None) == b.replace(tzinfo=None)
    return a == b


def _norm_ws(s: str) -> str:
    return " ".join(s.split())


def check_counts(got: dict, want: dict) -> list[str]:
    keys = ("total", "inserted", "failed_validation", "failed_duplicate", "fixed_dates",
            "gate_skipped", "sale_inserted")
    return [f"{k}: got {got.get(k)} want {want[k]}" for k in keys if got.get(k) != want[k]]


def check_tables(tables: str, truth: gen_import.ImportTruth) -> list[str]:
    """Compare the published tables with the truth; return mismatches."""
    errs: list[str] = []

    def cmp(table: str, got: dict, want: dict) -> None:
        if set(got) != set(want):
            errs.append(f"{table}: keys differ ({len(got)} vs {len(want)})")
            return
        for k, w in want.items():
            g = got[k]
            for col, wv in w.items():
                if not _eq(g.get(col), wv):
                    errs.append(f"{table}[{k}].{col}: got {g.get(col)!r} want {wv!r}")
                    return

    got = {(r["tax_id"], r["fiscal_year"]): r for r in _read(tables, "gold")}
    cmp("gold", got, truth.gold)

    got = {r["registered_no"]: r for r in _read(tables, "companies")}
    want = {
        t: {
            "entity_type": c["entity_type"], "status": c["status"],
            "registered_capital_baht": float(c["capital"]), "address": c["address"],
            "business_section_latest": {"code": c["section"][0], "description": c["section"][1]},
            "financial_filing_years": [y - 543 for y in c["filing"]],
            "num_director": len(c["directors"]),
            "directors": [{"name": d["name"], "no": d["no"]} for d in c["directors"]],
        }
        for t, c in truth.companies.items()
    }
    for r in got.values():
        r["directors"] = [{"name": d["name"], "no": d["no"]} for d in r["directors"]]
    cmp("companies", got, want)

    got = sorted(
        (r["registered_no"], r["director_no"] or 0, r["prefix"] or "", r["first_name"], r["last_name"])
        for r in _read(tables, "directors")
    )
    want = sorted(
        (t, d["no"] or 0, d["split"][0] or "", d["split"][1], d["split"][2])
        for t, c in truth.companies.items() for d in c["directors"]
    )
    if got != want:
        errs.append(f"directors: {len(got)} rows differ from {len(want)} expected")

    got = {r["invoice_no"]: r for r in _read(tables, "invoices")}
    want = {
        n: {
            "no": str(r["line_no"]), "supplier_code": r["supplier_code"],
            "supplier_name": _norm_ws(r["supplier_name"]), "invoice_date": r["invoice_date"],
            "invoice_received_date": r["received"], "po_no": r["po_no"],
            "amount": r["amount"], "status": r["status"],
        }
        for n, r in truth.invoices.items()
    }
    cmp("invoices", got, want)

    got = {r["doc_no"]: r for r in _read(tables, "sales")}
    cmp("sales", got, truth.sales)
    return errs
