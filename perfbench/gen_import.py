"""Seeded monthly drops for the import side, with their clean truth.

A drop holds the reference's export shapes:

- ``invoice_report.csv``: the invoice detail report with its dirt
  (header echo rows, OCR lookalikes in invoice numbers, Buddhist-era
  dates, day/month-swapped timestamps, bogus AM/PM, multi-dot and
  comma amounts, doubled spaces, exact duplicate lines, rows that fail
  validation);
- ``dbd/<tax_id>_balance.xlsx`` and ``dbd/<tax_id>_income.xlsx``: the
  DBD wide statement sheets (BE year-pair columns, noise label rows,
  accounting numerals, dashes);
- ``companies.json``: company payloads with their director arrays;
- ``sale/<doc>.html``: LLM-OCR sale reports (metadata text plus one
  table with a total line and a blank line).

Later months repeat earlier data at fixed shares: companies are resent
with new director lists and restated statements, invoice numbers from
earlier months come again, and one sale report is sent twice. The truth
is built by replaying those rules in plain Python: last month wins for
companies, directors and statements, first valid row wins for invoices
and sale rows.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random
from dataclasses import dataclass

from etl_script_spark.sources.excel import write_xlsx_simple

BALANCE_TH = {
    "สินทรัพย์หมุนเวียน": "current_assets",
    "สินทรัพย์รวม": "total_assets",
    "หนี้สินหมุนเวียน": "current_liabilities",
    "หนี้สินรวม": "total_liabilities",
    "ส่วนของผู้ถือหุ้น": "shareholders_equity",
}
INCOME_TH = {
    "รายได้รวม": "total_revenue",
    "ต้นทุนขาย": "cost_of_sales",
    "กำไรขาดทุน ขั้นต้น": "gross_profit",
    "กำไรขาดทุน สุทธิ": "net_profit",
}
BE_YEARS = (2565, 2566, 2567)
YEAR_PAIRS = {f"y{y}_amount": f"y{y}_pct" for y in BE_YEARS}
SHEET_COLS = ["item_th"] + [c for y in BE_YEARS for c in (f"y{y}_amount", f"y{y}_pct")]
INVOICE_HEADER = [
    "No", "Invoice No.", "Supplier Code", "Supplier Name", "Invoice Date",
    "Invoice Received Date", "Related Document", "Amount", "Status",
]
SALE_HEADER = [
    "ลำดับที่", "เลขที่เอกสาร", "Invoice no.", "วันที่เอกสาร", "PO no.",
    "CN. Ref. Doc.", "Assignment", "จำนวนเงิน", "ภาษี", "จำนวนเงินสุทธิ",
]
TH_MONTHS = [
    "มกราคม", "กุมภาพันธ์", "มีนาคม", "เมษายน", "พฤษภาคม", "มิถุนายน",
    "กรกฎาคม", "สิงหาคม", "กันยายน", "ตุลาคม", "พฤศจิกายน", "ธันวาคม",
]
PREFIXES = ("นาย", "นาง", "นางสาว", "Mr.", "Ms.")
FIRST = ("สมชาย", "สมศรี", "วิชัย", "ประยุทธ", "กมล", "อรุณ", "ชัยวัฒน์", "ธนา",
         "John", "Anna", "Peter", "Mali", "Kanya", "Somsak", "Preeda")
LAST = ("ใจดี", "รักไทย", "ศรีสุข", "มั่นคง", "ทองดี", "Smith", "Wong",
        "Chaiyo", "Boonmee", "Sukjai")


@dataclass(frozen=True)
class ImportSpec:
    months: int = 2
    invoices: int = 400           # data lines per invoice report
    companies: int = 60           # company payloads per month
    resend_share: float = 0.25    # of a later month's companies
    big_board_share: float = 0.06  # of a month's new companies: 55-70 directors
    orphan_share: float = 0.15    # statements with no company payload
    invoice_repeat_share: float = 0.08
    duplicate_line_share: float = 0.02
    missing_no_share: float = 0.01
    bad_date_share: float = 0.02
    swapped_share: float = 0.05
    header_echoes: int = 2
    sale_docs: int = 2
    sale_rows: int = 20


def _money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def _accounting(rng: random.Random, v: float) -> str:
    s = f"{abs(v):,.2f}" if rng.random() < 0.6 else f"{abs(v):.2f}"
    if v < 0:
        return f"({s})" if rng.random() < 0.5 else "-" + s
    return s


def new_tax_id(rng: random.Random, used: set) -> str:
    while True:
        t = "0" + "".join(rng.choice("0123456789") for _ in range(12))
        if t not in used:
            used.add(t)
            return t


def _render_tax_id(rng: random.Random, t: str) -> str:
    r = rng.random()
    if r < 0.2:
        return t[1:]  # leading zero lost, as in the reference's exports
    if r < 0.35:
        return f"{t[0]}-{t[1:5]}-{t[5:10]}-{t[10:12]}-{t[12]}"
    return t


def _directors(rng: random.Random, big: bool) -> list[dict]:
    n = rng.randint(55, 70) if big else rng.randint(1, 8)
    out = []
    for i in range(n):
        p = rng.choice(PREFIXES + (None,))
        first, last = rng.choice(FIRST), rng.choice(LAST)
        if p is None:
            name = f"{first} {last}"
        elif p.endswith("."):
            name = f"{p} {first}  {last}"
        else:
            name = f"{p}{first} {last}"
        no = None if rng.random() < 0.05 else i + 1
        out.append({"no": no, "name": name, "split": (p, first, last)})
    return out


def _company(rng: random.Random, tax_id: str, big: bool) -> dict:
    return {
        "tax_id": tax_id,
        "entity_type": rng.choice(["บริษัทจำกัด", "ห้างหุ้นส่วนจำกัด"]),
        "status": rng.choice(["ยังดำเนินกิจการอยู่", "เลิกกิจการ"]),
        "capital": rng.randrange(1, 500) * 100000,
        "address": f"{rng.randint(1, 999)} Moo {rng.randint(1, 12)} Bangkok",
        "section": (f"{rng.randint(10000, 99999)}", rng.choice(["ขายส่ง", "ขายปลีก", "ผลิต"])),
        "filing": sorted(rng.sample(BE_YEARS, rng.randint(1, 3))),
        "directors": _directors(rng, big),
    }


def _company_json(rng: random.Random, c: dict) -> dict:
    return {
        "registration_number": _render_tax_id(rng, c["tax_id"]),
        "entity_type": c["entity_type"],
        "status": c["status"],
        "registered_capital_baht": str(c["capital"]),
        "address": c["address"],
        "business_section_latest": {"code": c["section"][0], "description": c["section"][1]},
        "financial_filing_years_th": [str(y) for y in c["filing"]],
        "directors": [{"no": d["no"], "name": d["name"]} for d in c["directors"]],
    }


def _statements(rng: random.Random, tax_id: str, out_dir: str) -> dict:
    """Write both wide sheets of one company; return the gold truth
    {(tax_id, fiscal_year): {item: value}}."""
    gold: dict = {}
    for kind, labels, zero_policy in (
        ("balance", BALANCE_TH, True),
        ("income", INCOME_TH, False),
    ):
        rows = [SHEET_COLS, ["หน่วย : บาท"] + [None] * (2 * len(BE_YEARS))]
        for th, en in labels.items():
            label = th.replace(" ", "  ") if rng.random() < 0.2 else th
            row = [label]
            for y in BE_YEARS:
                key = (tax_id, y - 543)
                r = rng.random()
                if r < 0.08:
                    cell, val = "-", (0.0 if zero_policy else None)
                elif r < 0.12:
                    cell, val = None, (0.0 if zero_policy else None)
                else:
                    v = _money(rng, -5e6, 5e7) if en.endswith("profit") else _money(rng, 0, 5e7)
                    cell, val = _accounting(rng, v), v
                row += [cell, f"{rng.uniform(-20, 20):.1f}"]
                gold.setdefault(key, {})[en] = val
            rows.append(row)
        rows.append(["หมายเหตุ ข้อมูลจากกรมพัฒนาธุรกิจการค้า"] + [None] * (2 * len(BE_YEARS)))
        write_xlsx_simple(rows, os.path.join(out_dir, f"{tax_id}_{kind}.xlsx"))
    return gold


def _invoice_no_dirty(rng: random.Random, clean: str) -> str:
    prefix, tail = clean[:2], clean[2:]
    if rng.random() < 0.15:
        look = {"0": "O", "1": "l"}
        tail = tail[0] + "".join(
            look[ch] if ch in look and rng.random() < 0.5 else ch for ch in tail[1:]
        )
    if rng.random() < 0.1:
        prefix = prefix.lower()
    return prefix + tail


def _invoice_row(rng: random.Random, inv_no: str, spec: ImportSpec) -> dict:
    r = rng.random()
    d = dt.date(rng.choice((2024, 2025)), rng.randint(1, 12), rng.randint(1, 28))
    fault = None
    if r < spec.missing_no_share:
        fault = "missing_invoice_no"
    elif r < spec.missing_no_share + spec.bad_date_share:
        fault = "bad_date"
    if fault == "bad_date":
        date_s = rng.choice(["bad-date", "-", "31/31/2568"])
    else:
        f = rng.random()
        if f < 0.4:
            date_s = f"{d.day:02d}/{d.month:02d}/{d.year + 543}"
        elif f < 0.8:
            date_s = d.isoformat()
        else:
            date_s = f"{d.day:02d}-{d.month:02d}-{d.year}"
    swapped = rng.random() < spec.swapped_share
    day = rng.randint(13, 28) if swapped else rng.randint(1, 28)
    ts = dt.datetime(2025, rng.randint(1, 12), day, rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59))
    if swapped:
        ts_s = f"{ts.year}-{ts.day:02d}-{ts.month:02d} {ts:%H:%M:%S}"
    else:
        ts_s = f"{ts:%Y-%m-%d %H:%M:%S}"
        if ts.hour >= 13 and rng.random() < 0.3:
            ts_s += " PM"
    k = rng.random()
    if k < 0.5:
        po = "".join(rng.choice("0123456789") for _ in range(10))
        rel = f"PO:{po}"
    elif k < 0.7:
        po = "".join(rng.choice("0123456789") for _ in range(8))
        rel = f"ref {po}"
    else:
        po, rel = None, ""
    a = rng.random()
    if a < 0.05:
        amount, amount_s = 0.0, "-"
    elif a < 0.15:
        amount = round(rng.uniform(1000, 999999), 3)
        whole, frac = f"{amount:.3f}".split(".")
        groups = []
        while whole:
            groups.insert(0, whole[-3:])
            whole = whole[:-3]
        amount_s = ".".join(groups) + "." + frac
    else:
        amount = _money(rng, 1, 999999)
        amount_s = f"{amount:,.2f}" if a < 0.6 else f"{amount:.2f}"
    name = f"{rng.choice(['ACME', 'Beta', 'Gamma', 'Siam', 'Delta'])} {rng.choice(['Co', 'Ltd', 'Supply'])}"
    return {
        "invoice_no": None if fault == "missing_invoice_no" else inv_no,
        "raw_no": "" if fault == "missing_invoice_no" else _invoice_no_dirty(rng, inv_no),
        "supplier_code": f"S{rng.randint(100, 999)}",
        "supplier_name": name,
        "raw_name": name.replace(" ", "  ") if rng.random() < 0.2 else name,
        "invoice_date": None if fault else d,
        "date_s": date_s,
        "received": ts,
        "ts_s": ts_s,
        "swapped": swapped,
        "po_no": po,
        "related": rel,
        "amount": amount,
        "amount_s": amount_s,
        "status": rng.choice(["Open", "Closed"]),
        "fault": fault,
    }


def _sale_doc(rng: random.Random, doc_id: int, n_rows: int) -> tuple[str, list[dict]]:
    vendor_num = str(rng.randint(1000, 9999))
    vendor = f"{rng.choice(['ACME', 'SIAM', 'THAI'])} {rng.choice(['SUPPLY', 'TRADING', 'FOODS'])}"
    month = rng.randint(1, 12)
    be_year = rng.choice((2567, 2568))
    d1, d2 = 1, rng.randint(14, 28)
    meta = {
        "supplier_name": vendor,
        "supplier_code": vendor_num,
        "start_round_date": dt.date(be_year - 543, month, d1),
        "end_round_date": dt.date(be_year - 543, month, d2),
    }
    head = "".join(f"<th>{h}</th>" for h in SALE_HEADER)
    trs = [f"<tr>{head}</tr>"]
    rows = []
    for i in range(1, n_rows + 1):
        d = dt.date(be_year - 543, month, rng.randint(1, 28))
        amount = _money(rng, 10, 99999)
        vat = round(amount * 0.07, 2)
        net = round(amount + vat, 2)
        cn = str(rng.randint(10000, 99999)) if rng.random() < 0.3 else None
        rec = {
            "doc_no": f"SD{doc_id:05d}{i:03d}",
            "invoice_no": f"INV{doc_id:05d}{i:03d}",
            "invoice_date": d,
            "po_no": "".join(rng.choice("0123456789") for _ in range(10)),
            "cn_ref_doc": cn,
            "assignment": f"ASG{rng.randint(100, 999)}",
            "amount": amount,
            "vat": vat,
            "net_amount": net,
            **meta,
        }
        cells = [
            str(i), rec["doc_no"], rec["invoice_no"],
            f"{d.day:02d}.{d.month:02d}.{be_year}", rec["po_no"],
            f"{cn}.0" if cn else "", rec["assignment"],
            f"{amount:,.2f}", f"{vat:,.2f}", f"{net:,.2f}",
        ]
        trs.append("<tr>" + "".join(f"<td>{c}</td>" for c in cells) + "</tr>")
        rows.append(rec)
    trs.append("<tr>" + "<td></td>" * len(SALE_HEADER) + "</tr>")
    total = sum(r["net_amount"] for r in rows)
    trs.append(f"<tr><td>รวมยอดทั้งหมด</td><td></td><td>{total:,.2f}</td></tr>")
    html = (
        "<html><body>\n<p>รายงานการขายสินค้า - แยกตาม Invoice</p>\n"
        f"<p>รอบวันที่ {d1} - {d2} {TH_MONTHS[month - 1]} {be_year}</p>\n"
        f"<p>#Vendor {vendor_num} / {vendor} (1)</p>\n"
        "<table>\n" + "\n".join(trs) + "\n</table>\n</body></html>\n"
    )
    return html, rows


class ImportTruth:
    """The clean end state after every month, built by plain-Python
    replay of the import rules, plus per-month planted counts."""

    def __init__(self) -> None:
        self.invoices: dict[str, dict] = {}
        self.gold: dict[tuple, dict] = {}
        self.companies: dict[str, dict] = {}
        self.sales: dict[str, dict] = {}
        self.month_counts: list[dict] = []


def generate_round(seed: int, spec: ImportSpec, out_dir: str) -> tuple[list[str], ImportTruth]:
    """Write ``spec.months`` drops under ``out_dir``; return the month
    directories in import order and the truth."""
    rng = random.Random(seed)
    truth = ImportTruth()
    used_tax: set = set()
    sent: list[str] = []          # tax ids whose payload came already
    big_board: set = set()
    next_invoice = 1
    issued: list[str] = []        # invoice numbers of earlier months
    next_doc = 1
    sale_docs: list[tuple[str, list[dict]]] = []
    month_dirs = []
    for m in range(1, spec.months + 1):
        mdir = os.path.join(out_dir, f"month_{m:02d}")
        os.makedirs(os.path.join(mdir, "dbd"), exist_ok=True)
        os.makedirs(os.path.join(mdir, "sale"), exist_ok=True)

        # companies: new ones plus resends with new director lists
        n_resend = 0 if m == 1 else int(spec.companies * spec.resend_share)
        resend = rng.sample(sent, n_resend)
        new = [new_tax_id(rng, used_tax) for _ in range(spec.companies - n_resend)]
        # an exact count, and a resent company keeps its board's size, so
        # the directors table has the same size class for every seed
        big_board.update(rng.sample(new, round(spec.big_board_share * len(new))))
        payloads = []
        for t in resend + new:
            c = _company(rng, t, t in big_board)
            truth.companies[t] = c
            payloads.append(_company_json(rng, c))
        rng.shuffle(payloads)
        sent += new
        with open(os.path.join(mdir, "companies.json"), "w", encoding="utf-8") as f:
            json.dump(payloads, f, ensure_ascii=False)

        # statements of this month's companies plus orphans
        orphans = [new_tax_id(rng, used_tax) for _ in range(int(spec.companies * spec.orphan_share))]
        skipped = 0
        for t in resend + new + orphans:
            gold = _statements(rng, t, os.path.join(mdir, "dbd"))
            if t in truth.companies:
                truth.gold.update(gold)
            else:
                skipped += len(gold)

        # invoice report
        n_repeat = 0 if m == 1 else int(spec.invoices * spec.invoice_repeat_share)
        n_dup = int(spec.invoices * spec.duplicate_line_share)
        numbers = rng.sample(issued, n_repeat)
        for _ in range(spec.invoices - n_repeat - n_dup - spec.header_echoes):
            numbers.append(f"IV{next_invoice:07d}")
            next_invoice += 1
        rows = [_invoice_row(rng, n, spec) for n in numbers]
        for i, r in enumerate(rows):
            r["line_no"] = i + 1
        issued += numbers[n_repeat:]
        rows += [dict(r) for r in rng.sample(rows, n_dup)]
        rng.shuffle(rows)
        counts = {"total": len(rows), "failed_validation": 0, "fixed_dates": 0, "inserted": 0}
        batch_new: dict[str, dict] = {}
        for r in rows:
            counts["fixed_dates"] += r["swapped"]
            if r["fault"]:
                counts["failed_validation"] += 1
            elif r["invoice_no"] not in truth.invoices and r["invoice_no"] not in batch_new:
                batch_new[r["invoice_no"]] = r
        counts["inserted"] = len(batch_new)
        counts["failed_duplicate"] = counts["total"] - counts["inserted"] - counts["failed_validation"]
        counts["gate_skipped"] = skipped
        truth.invoices.update(batch_new)
        with open(os.path.join(mdir, "invoice_report.csv"), "w", encoding="utf-8", newline="") as f:
            w = csv.writer(f)
            w.writerow(INVOICE_HEADER)
            echo_at = sorted(rng.sample(range(len(rows)), spec.header_echoes))
            for i, r in enumerate(rows):
                if i in echo_at:
                    w.writerow(INVOICE_HEADER)
                w.writerow([
                    str(r["line_no"]), r["raw_no"], r["supplier_code"], r["raw_name"],
                    r["date_s"], r["ts_s"], r["related"], r["amount_s"], r["status"],
                ])

        # sale reports: new documents, and from month 2 one resend
        docs = []
        for _ in range(spec.sale_docs - (1 if m > 1 else 0)):
            docs.append(_sale_doc(rng, next_doc, spec.sale_rows))
            next_doc += 1
        if m > 1:
            docs.append(rng.choice(sale_docs))
        sale_docs += docs
        sale_new = 0
        for i, (html, recs) in enumerate(docs):
            with open(os.path.join(mdir, "sale", f"report_{i:02d}.html"), "w", encoding="utf-8") as f:
                f.write(html)
            for rec in recs:
                if rec["doc_no"] not in truth.sales:
                    truth.sales[rec["doc_no"]] = rec
                    sale_new += 1
        counts["sale_inserted"] = sale_new

        truth.month_counts.append(counts)
        month_dirs.append(mdir)
    return month_dirs, truth
