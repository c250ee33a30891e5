"""End-to-end pipeline fixtures (SURVEY.md §5.2 item 3): miniature
B-fixture-shaped inputs → silver → gold → query, asserting golden
outputs, and import-metrics golden checks (item 4)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from etl_script_spark.pipelines import bol_sync, dbd_financial, invoice_report, remittance


# ---------------------------------------------------------------- DBD

def _wide_balance(spark):
    """B1 shape: BE year pair columns, accounting dirt, noise rows."""
    cols = ["item_th", "y2566_amount", "y2566_pct", "y2567_amount", "y2567_pct", "_file"]
    f = "1234567890123_balance.xlsx"
    rows = [
        ("สินทรัพย์รวม", "1,234.50", "5.0", "(2,000.00)", "-10.0", f),
        ("หนี้สินรวม", "-", "", "500.25", "1.5", f),
        ("หน่วย : บาท", "", "", "", "", f),  # noise row (P11)
        ("ส่วนของผู้ถือหุ้น", "734.50", "", "‒1,000", "", f),
    ]
    return spark.createDataFrame(rows, cols)


def test_dbd_silver_gold_query(spark):
    wide = _wide_balance(spark)
    silver = dbd_financial.silver_from_wide(
        wide,
        {"y2566_amount": "y2566_pct", "y2567_amount": "y2567_pct"},
        dbd_financial.TH_TO_EN_BALANCE,
    )
    got = {
        (r["fiscal_year"], r["item_en"]): (r["amount"], r["pct_change"])
        for r in silver.collect()
    }
    assert len(got) == 6  # 3 items × 2 years (noise row dropped, P11)
    assert all(r["tax_id"] == "1234567890123" for r in silver.collect())  # F26
    # BE years in column names → CE (F1); F10 accounting cleans
    assert got[(2023, "total_assets")] == (1234.5, 5.0)
    assert got[(2024, "total_assets")] == (-2000.0, -10.0)   # parens negative
    assert got[(2023, "total_liabilities")][0] == 0.0        # '-' → 0 (F15)


def test_dbd_year_pair_years_from_headers(spark):
    """Year-pair unpivot keyed by ACTUAL BE year headers → CE years."""
    f = "9999999999999_balance.xls"
    wide = spark.createDataFrame(
        [("สินทรัพย์รวม", "100", "1.0", "200", "2.0", f)],
        ["item_th", "2566", "pct_2566", "2567", "pct_2567"] + ["_file"],
    )
    silver = dbd_financial.silver_from_wide(
        wide, {"2566": "pct_2566", "2567": "pct_2567"}, dbd_financial.TH_TO_EN_BALANCE
    )
    got = {r["fiscal_year"]: r["amount"] for r in silver.collect()}
    assert got == {2023: 100.0, 2024: 200.0}

    gold = dbd_financial.gold_pivot(silver, dbd_financial.BALANCE_ITEMS)
    row = gold.filter(F.col("fiscal_year") == 2023).first()
    assert row["total_assets"] == 100.0 and row["current_assets"] is None

    q = dbd_financial.company_financial(
        gold, "9999999999999", 2024, ["total_assets", "total_liabilities"]
    )
    r = q.first()
    assert r["total_assets"] == 200.0 and r["total_liabilities"] is None


def test_dbd_merge_and_gate(spark):
    gold_t = spark.createDataFrame(
        [("111", 2023, 1.0), ("111", 2024, 2.0)],
        ["tax_id", "fiscal_year", "total_assets"],
    )
    incoming = spark.createDataFrame(
        [("111", 2024, 99.0), ("222", 2024, 5.0)],
        ["tax_id", "fiscal_year", "total_assets"],
    )
    merged = dbd_financial.merge_gold(gold_t, incoming)
    got = {(r["tax_id"], r["fiscal_year"]): r["total_assets"] for r in merged.collect()}
    assert got == {("111", 2023): 1.0, ("111", 2024): 99.0, ("222", 2024): 5.0}

    parent = spark.createDataFrame([("111",)], ["registered_no"])
    ok, skipped = dbd_financial.import_gate(incoming, parent)
    assert [r["tax_id"] for r in ok.collect()] == ["111"]
    assert [r["tax_id"] for r in skipped.collect()] == ["222"]


# ------------------------------------------------------------ invoice

def _raw_invoices(spark):
    cols = [
        "No", "Invoice No.", "Supplier Code", "Supplier Name", "Invoice Date",
        "Invoice Received Date", "Related Document", "Amount", "Status",
    ]
    rows = [
        ("1", "BLl23O45", "1001", "ACME  CO", "25/12/2568",
         "2025-03-26 14:00:00", "PO:1013090869", "1,234.56", "Open"),
        ("2", "IV100", "1002", "Beta Ltd", "2024-01-15",
         "2025-26-03 15:30:00", "ref 12345678", "1.234.567", "Closed"),
        ("No", "Invoice No.", "Supplier Code", "Supplier Name", "Invoice Date",
         "Invoice Received Date", "Related Document", "Amount", "Status"),
        ("3", "IV101", "1003", "Gamma", "bad-date",
         "2025-05-01 09:00:00", "", "10", "Open"),
        ("4", "IV100", "1004", "DupKey", "01/02/2025",
         "2025-05-02 10:00:00", "", "20", "Open"),
    ]
    return spark.createDataFrame(rows, cols)


def test_invoice_pipeline_clean_and_metrics(spark):
    cleaned = invoice_report.clean_invoice_records(_raw_invoices(spark))
    by_no = {r["no"]: r for r in cleaned.collect()}

    r1 = by_no["1"]
    # F18: greedy alpha prefix kept verbatim-uppercased, lookalikes
    # fixed in the tail only (pdf_ocr_inv_to_json.py:196-220)
    assert r1["invoice_no"] == "BLL23045"
    assert r1["invoice_date"] == dt.date(2025, 12, 25)  # F1 BE year
    assert r1["po_no"] == "1013090869"              # F20 digit run
    assert r1["amount"] == 1234.56                  # F9 comma clean
    assert r1["supplier_name"] == "ACME CO"         # F16 ws collapse

    r2 = by_no["2"]
    assert r2["invoice_received_date"] == dt.datetime(2025, 3, 26, 15, 30)  # F5 swap
    assert r2["date_was_swapped"] is True
    assert r2["amount"] == 1234.567                 # F13 multi-dot repair

    existing = spark.createDataFrame([("IV100",)], ["invoice_no"])
    table, rejected, m = invoice_report.import_invoices(existing, cleaned)
    assert m["total"] == 4          # header echo row dropped
    assert m["failed_validation"] == 1  # the bad-date row (IV101)
    assert m["inserted"] == 1       # BLL23045 only
    assert m["failed_duplicate"] == 2   # both IV100 rows hit the existing key
    assert m["fixed_dates"] == 1
    assert rejected.first()["fail_reason"] == "bad_date"
    assert table.count() == 2       # 1 existing + 1 new


def test_invoice_import_counts_in_two_actions(spark):
    """The import metrics cost two actions, not one per metric: the
    tally aggregate (2 jobs under AQE: its shuffle stage and the
    result) and the insert count (5 jobs: the keep-first aggregate,
    the anti-join and the count). Four separate counts ran 11."""
    cleaned = invoice_report.clean_invoice_records(_raw_invoices(spark))
    existing = spark.createDataFrame([("IV100",)], ["invoice_no"])
    sc = spark.sparkContext
    group = "invoice-import-counts"
    sc.setJobGroup(group, "import_invoices metrics")
    try:
        _, _, m = invoice_report.import_invoices(existing, cleaned)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 7
    assert m == {"total": 4, "inserted": 1, "failed_validation": 1,
                 "fixed_dates": 1, "failed_duplicate": 2}


# --------------------------------------------------------- remittance

def _rm_pages(spark):
    page1 = "\n".join([
        "วันที่จ่ายเงิน: 01/10/2568",
        "01/10/2568 FC1 IV DOC001 REF001 1,000.50",
        "01/10/2568 IV DOC002 REF002 (250.25)",
        "GRAND TOTAL Amount 750.25",
    ])
    page2 = "\n".join([
        "01/10/2568 FC1 IV DOC001 REF001 1,000.50",  # dup across pages
        "02/10/2568 W901 CN DOC003 REF003 500.00",
        "GRAND TOTAL Amount 500.00",
    ])
    return spark.createDataFrame(
        [(1, page1), (2, page2)], ["page_number", "text"]
    )


def test_remittance_parse_dedup_reconcile(spark):
    tx = remittance.parse_remittance_lines(_rm_pages(spark))
    rows = {r["doc_no"]: r for r in tx.collect()}
    assert set(rows) == {"DOC001", "DOC002", "DOC003"}  # D1 cross-page dedup
    assert rows["DOC001"]["branch"] == "FC01"           # F19 repair
    assert rows["DOC001"]["amount"] == 1000.5
    assert rows["DOC002"]["branch"] == "0000"           # no-branch default
    assert rows["DOC002"]["amount"] == -250.25          # F10 parens negative

    rec = remittance.reconcile(_rm_pages(spark))
    ok = {r["page_number"]: r["ok"] for r in rec.collect()}
    assert ok == {1: True, 2: True}


def test_repair_branch_token_semantics(spark):
    """F19 token-level cases straight from the reference's rules
    (pdf_ocr_rm_to_json.py:126-161)."""
    df = spark.createDataFrame(
        [("F C 1",), ("F C 12",), ("W 9 0 1",), ("OOOO",), ("AB-7",)], ["b"]
    )
    got = [r["out"] for r in df.select(
        remittance.repair_branch(F.col("b")).alias("out")
    ).collect()]
    assert got == ["FC01", "FC12", "W901", "0000", "AB7"]


# ---------------------------------------------------------------- BOL

def test_bol_company_and_directors_sync(spark):
    payload = spark.createDataFrame(
        [("0105561177671", "100000 - 500000", "15/03/2562")],
        ["registrationNo", "companyCredit", "registeredDate"],
    )
    c = bol_sync.clean_company(payload).first()
    assert c["credit_min"] == 100000.0 and c["credit_max"] == 500000.0  # F23
    assert c["registered_date"] == dt.date(2019, 3, 15)                 # F1

    incoming_raw = spark.createDataFrame(
        [("A", "นางสาวสมศรี ใจดี"), ("A", "Mr. John Smith")],
        ["registration_no", "name"],
    )
    incoming = bol_sync.clean_directors(incoming_raw)
    got = {(r["prefix"], r["first_name"], r["last_name"]) for r in incoming.collect()}
    assert ("นางสาว", "สมศรี", "ใจดี") in got   # F22 longest-prefix-first
    assert ("Mr.", "John", "Smith") in got

    current = spark.createDataFrame(
        [("A", "นาย", "เก่า", "ออกแล้ว"), ("B", "นาง", "อื่น", "คงอยู่")],
        ["registration_no", "prefix", "first_name", "last_name"],
    )
    synced = bol_sync.sync_directors(current, incoming)
    by_co = {}
    for r in synced.collect():
        by_co.setdefault(r["registration_no"], set()).add(r["first_name"])
    assert by_co["A"] == {"สมศรี", "John"}   # old A director deleted (J4)
    assert by_co["B"] == {"อื่น"}            # untouched company survives


def test_bol_financial_year_replace(spark):
    current = spark.createDataFrame(
        [("A", 2021, 1.0), ("A", 2022, 2.0), ("B", 2022, 9.0)],
        ["registration_no", "fiscal_year", "revenue"],
    )
    incoming = spark.createDataFrame(
        [("A", 2022, 20.0), ("A", 2023, 30.0)],
        ["registration_no", "fiscal_year", "revenue"],
    )
    out = bol_sync.sync_financials(current, incoming)
    got = {(r["registration_no"], r["fiscal_year"]): r["revenue"] for r in out.collect()}
    # A's 2021 deleted (not re-sent, J5), 2022 updated, 2023 added; B kept
    assert got == {("A", 2022): 20.0, ("A", 2023): 30.0, ("B", 2022): 9.0}


def test_docref_token_semantics(spark):
    """F19 doc/ref token cases straight from the reference rules
    (pdf_ocr_rm_to_json.py:164-254)."""
    from etl_script_spark.pipelines.remittance import (
        extract_best_token,
        normalize_docref_token,
        repair_ref_from_doc,
    )

    df = spark.createDataFrame(
        [("C0NS1GN-00",), ("CONS1GN",), ("1V68071",), ("IV680O1",), ("AB-12",)],
        ["t"],
    )
    got = [r["o"] for r in df.select(normalize_docref_token(F.col("t")).alias("o")).collect()]
    # row 4: I→1 damages the IV prefix to 1V, then the ^1V repair
    # restores it — the reference applies the 1V check to the FIXED
    # string (pdf_ocr_rm_to_json.py:190-195)
    assert got == ["CONSIGN-00", "CONSIGN", "IV68071", "IV68001", "AB-12"]

    noisy = spark.createDataFrame([("เน?NV68071",), ("?!",)], ["t"])
    best = [r["o"] for r in noisy.select(extract_best_token(F.col("t")).alias("o")).collect()]
    assert best == ["NV68071", None]

    pairs = spark.createDataFrame(
        [("IV250001-XYZ", "IV2500"), ("IV250001", "CN999999"), ("DOC1", None)],
        ["d", "r"],
    )
    fixed = [
        r["o"]
        for r in pairs.select(
            repair_ref_from_doc(F.col("d"), F.col("r")).alias("o")
        ).collect()
    ]
    assert fixed == ["IV250001-XYZ", "CN999999", "DOC1"]


def test_crossdock_folding(spark):
    from etl_script_spark.pipelines.remittance import normalize_crossdock_pair

    df = spark.createDataFrame(
        [
            ("CROSSDOCK", "x"),
            ("CROSS", "DOCK"),
            ("DOCK", "CROSS"),
            ("CROSS", None),
            ("IV1", "RF1"),
        ],
        ["d", "r"],
    )
    out = df.select(normalize_crossdock_pair(F.col("d"), F.col("r")).alias("p")).collect()
    got = [(r["p"]["doc_no"], r["p"]["ref_no"]) for r in out]
    assert got[:4] == [("CROSS DOCK", "Crossdock")] * 4
    assert got[4] == ("IV1", "RF1")


# ------------------------------------------------------------- BS/IC

def test_bs_pipeline_end_to_end(spark, tmp_path):
    """§3.3: headerless CSV exports → one typed row per (company,
    year); years from row 0, values from the fixed block, junk → 0."""
    from etl_script_spark.pipelines import bs_ic

    h = ["total_assets", "total_liabilities", "equity"]
    f1 = tmp_path / "BS_1001_AcmeCo.csv"
    f1.write_text(
        ",,,Year 2022,Year 2023\n"      # row 0: years at cols 3,4
        "junk,,,x,y\n"
        "junk,,,x,y\n"
        "Total assets,,,\"1,500.5\",2000\n"   # block row 0
        "Total liabilities,,,500,abc\n"        # block row 1 (abc→0)
        "Equity,,,1000.5,2000\n",              # block row 2
        encoding="latin1",
    )
    f2 = tmp_path / "BS_1002_BetaLtd.csv"
    f2.write_text(
        ",,,2021\njunk,,,x\njunk,,,x\nA,,,10\nB,,,20\nC,,,30\n",
        encoding="cp1252",
    )
    rows = bs_ic.csv_rows_with_order(spark, [str(f1), str(f2)])
    out = bs_ic.process_statements(rows, h)
    got = {
        (r["company_id"], r["year"]): (
            r["total_assets"], r["total_liabilities"], r["equity"]
        )
        for r in out.collect()
    }
    assert got == {
        ("1001", 2022): (1500.5, 500.0, 1000.5),
        ("1001", 2023): (2000.0, 0.0, 2000.0),   # 'abc' coerced to 0
        ("1002", 2021): (10.0, 20.0, 30.0),
    }
    names = {r["company_id"]: r["company_name"] for r in out.collect()}
    assert names == {"1001": "AcmeCo", "1002": "BetaLtd"}


# ------------------------------------------------------------------ PO

def test_po_old_pipeline(spark):
    """B5: legacy PO cleanup — F8 date forms, F25 derived measure."""
    from etl_script_spark.pipelines import po_report

    raw = spark.createDataFrame(
        [
            ("Acme", "P1", "1/2/68", "0", "7", "107", "30"),
            ("Beta", "P2", "2568-02-01", "100", "7", "107", "45"),
            ("Gamma", "P3", "01.02.2568", "50", "3.5", "53.5", None),
        ],
        ["# Supplier Name", "PO No.", "PO Date", "PO Amount (Exclude VAT)",
         "PO VAT Amount", "PO Net Amount (Include VAT)", "PO Payment Term"],
    )
    out = {r["po_no"]: r for r in po_report.clean_po_old_records(raw).collect()}
    # '1/2/68' → 2000+68=2068, below the 2400 BE bar → stays 2068
    # (reference normalize_th_date rule; FIXTURES.md's '→2025' gloss
    # contradicts the cited code, and the code wins)
    assert str(out["P1"]["po_date"]) == "2068-02-01"
    assert str(out["P2"]["po_date"]) == "2025-02-01"   # BE 2568 → CE
    assert str(out["P3"]["po_date"]) == "2025-02-01"   # dotted BE form
    assert out["P1"]["amount_excl_vat"] == 100.0       # F25: 107-7
    assert out["P2"]["amount_excl_vat"] == 100.0       # nonzero kept
    assert out["P1"]["payment_term"] == 30


def test_po_report_pipeline(spark):
    """B4: header-echo drop, 12h AM/PM repair incl. 12 AM → 00."""
    from etl_script_spark.pipelines import po_report

    raw = spark.createDataFrame(
        [
            ("PO No.", "B", "S", "Order Date", "Send Date", "Amount (PO Include VAT)", "St"),
            ("P10", "B1", "S1", "15/03/2568", "3/20/2025 12:05:00 AM", "1,000", "Open"),
            ("P11", "B1", "S2", "01/04/2568", "4/2/2025 02:30:00 PM", "2,500.50", "Closed"),
        ],
        ["PO No.", "Buyer Code", "Supplier Code", "Order Date", "Send Date",
         "Amount (PO Include VAT)", "Status"],
    )
    out = {r["po_no"]: r for r in po_report.clean_po_records(raw).collect()}
    assert set(out) == {"P10", "P11"}                   # header echo dropped
    assert str(out["P10"]["order_date"]) == "2025-03-15"
    assert str(out["P10"]["send_date"]) == "2025-03-20 00:05:00"  # 12 AM → 00
    assert str(out["P11"]["send_date"]) == "2025-04-02 14:30:00"
    assert out["P11"]["amount_incl_vat"] == 2500.5


# ------------------------------------------------------- rm report

def test_rm_report_fixed_format(spark):
    """B7: fixed-format remittance advice — one-line and two-line
    records, glued 10-digit prefix, '16:18:12 PM' time kept verbatim
    minus the suffix (pdf_ocr_rm_report_to_json.py:80-158)."""
    from etl_script_spark.pipelines import rm_report

    page = "\n".join([
        "REMITTANCE ADVICE REPORT",
        # one-line record, name+branch
        "1234567890 Acme Trading FC01 01/10/2025 02/10/2025 16:18:12 PM 1,500.25 Open 7 72195 03/10/2025",
        # two-line record (name wraps), glued prefix
        "2345678901Banana Society",
        "W901 05/10/2025 06/10/2025 09:05:00 AM 250.00 Closed 8 81000 07/10/2025",
        "999 not a record",
    ])
    out = rm_report.parse_rm_report(
        spark.createDataFrame([(1, page)], ["page_number", "text"])
    )
    rows = {r["remittance_no"]: r for r in out.collect()}
    assert set(rows) == {"1234567890", "2345678901"}

    r1 = rows["1234567890"]
    assert r1["supplier_name"] == "Acme Trading"
    assert r1["branch"] == "FC01"
    assert r1["remittance_date"] == "2025-10-01"
    assert r1["sent_date"] == "2025-10-02 16:18:12"   # PM suffix dropped
    assert r1["amount"] == 1500.25
    assert r1["sequence"] == 7
    assert r1["supplier_code"] == "72195"
    assert r1["pay_date"] == "2025-10-03"

    r2 = rows["2345678901"]                            # two-line merge
    assert r2["supplier_name"] == "Banana Society"
    assert r2["branch"] == "W901"
    assert r2["sent_date"] == "2025-10-06 09:05:00"


# ------------------------------------------------------------ company

def test_company_structured_pipeline(spark):
    """B9/§3.1 step 3: nested company JSON → entity row + title-card
    enrichment + directors replace-sync."""
    from etl_script_spark.pipelines import company

    payload = spark.createDataFrame(
        [
            (
                "105561177671",  # 12 digits → left-pad to 13 (F21)
                "บริษัทจำกัด",
                "ยังดำเนินกิจการอยู่",
                "5000000",
                None,  # address missing → filled from title card
                ("46443", "ขายส่ง"),
                ["2565", "2566"],
                [(1, "นายสมชาย ใจดี"), (2, "นางสาวสมศรี รักไทย")],
            )
        ],
        "registration_number string, entity_type string, status string, "
        "registered_capital_baht string, address string, "
        "business_section_latest struct<code:string,description:string>, "
        "financial_filing_years_th array<string>, "
        "directors array<struct<no:int,name:string>>",
    )
    ent = company.map_company_entity(payload)
    r = ent.first()
    assert r["registered_no"] == "0105561177671"       # F21 pad
    assert r["financial_filing_years"] == [2022, 2023]  # F1
    assert r["num_director"] == 2                       # A4

    titles = spark.createDataFrame(
        [("0105561177671", "99 Main Rd, Bangkok")], ["registered_no", "address"]
    )
    enriched = company.enrich_with_title_card(ent, titles, ["address"])
    assert enriched.first()["address"] == "99 Main Rd, Bangkok"  # J1 fill

    longd = company.directors_long(ent)
    got = {(x["director_no"], x["prefix"], x["first_name"], x["last_name"])
           for x in longd.collect()}
    assert got == {(1, "นาย", "สมชาย", "ใจดี"), (2, "นางสาว", "สมศรี", "รักไทย")}

    current = spark.createDataFrame(
        [("0105561177671", 9, None, "เก่า", "ออก"), ("OTHER", 1, None, "คน", "อื่น")],
        "registered_no string, director_no int, prefix string, "
        "first_name string, last_name string",
    )
    synced = company.sync_directors(current, longd)
    by_co = {}
    for x in synced.collect():
        by_co.setdefault(x["registered_no"], set()).add(x["first_name"])
    assert by_co["0105561177671"] == {"สมชาย", "สมศรี"}  # J3 replace
    assert by_co["OTHER"] == {"คน"}                      # untouched


# ----------------------------------------------------------- supplier

def test_supplier_master_dual_calendar(spark):
    """B8: BOTH calendar policies on one sheet — registration serials
    decode with the BE-subtracting variant, effective dates use the
    strict >2500 string policy (supplier_processor.py:53-97)."""
    from etl_script_spark.pipelines import supplier_master

    # the reference subtracts 543 from the DECODED year (its serials
    # came from BE-calendar spreadsheets); assert that exact shift
    serial_2024 = (dt.date(2024, 3, 15) - dt.date(1899, 12, 30)).days
    raw = spark.createDataFrame(
        [
            ("S1", "Acme", "123", str(serial_2024), "01/02/2568", "50000"),
            ("S2", "Beta", "456", str(serial_2024), str(serial_2024), ""),
        ],
        ["รหัสผู้ขาย", "ชื่อผู้ขาย", "เลขประจำตัวผู้เสียภาษี",
         "วันที่จดทะเบียน", "วันที่เริ่มใช้", "วงเงินเครดิต"],
    )
    out = {r["supplier_code"]: r for r in
           supplier_master.clean_supplier_master(raw).collect()}
    # BE-adjust variant: decoded 2024 → minus 543 → 1481
    assert str(out["S1"]["registration_date"]) == "1481-03-15"
    # strict string policy: BE 2568 → 2025 (d/m/Y)
    assert str(out["S1"]["start_effective_date"]) == "2025-02-01"
    # serial branch of the mixed policy: plain decode, no BE shift
    assert str(out["S2"]["start_effective_date"]) == "2024-03-15"
    assert out["S1"]["credit_limit"] == 50000.0
    assert out["S2"]["credit_limit"] is None


def test_pivot_items_null_semantics_match_across_modes(spark):
    """ADVICE r3: a later NULL duplicate must not clobber an earlier
    real value in the ordered mode — both modes skip NULLs."""
    from etl_script_spark.operators.reshape import pivot_items

    df = spark.createDataFrame(
        [("c1", "rev", 10.0, 1), ("c1", "rev", None, 2), ("c1", "cost", None, 1)],
        "k string, item string, v double, ord long",
    )
    ordered = pivot_items(df, ["k"], "item", "v", ["rev", "cost"], order_col="ord")
    r = ordered.collect()[0]
    assert r["rev"] == 10.0 and r["cost"] is None
    unordered = pivot_items(df, ["k"], "item", "v", ["rev", "cost"])
    r2 = unordered.collect()[0]
    assert r2["rev"] == 10.0 and r2["cost"] is None
