"""statement_lookups: the monthly import, then the read side on the
tables it published.

Set-up runs the reference's monthly job in a fresh session: ``SPEC.months``
generated drops go through the full import (``monthly.import_month``) into
empty tables, with later months restating statements, repeating invoice
numbers and resending companies with new director lists. It counts in
setup_s, and every table and per-month count is checked. Then one
closed-loop client issues a seeded sequence of endpoint calls, each
collected to rows: ``company_financial`` point lookups,
``company_financial_all_years`` range maps, and a page of 50 directors
ordered by director_no with nulls last. tax_ids are Zipf-skewed over the
imported companies; a fixed share are unknown (statements the import
gate skipped, and ids never sent), so those calls return nothing. The
timed phase repeats the whole sequence.
"""

from __future__ import annotations

import os
import random
import time
import traceback

from pyspark.sql import functions as F

from etl_script_spark.pipelines import dbd_financial

import common
import gen_import
import monthly
from spans import Tracer

LOOKUPS = 40             # calls in one round: enough draws that a seed's key mix averages out
MIX = (("point", 0.5), ("range", 0.3), ("directors", 0.2))
MISS_SHARE = 0.1
WARMUP_ROUNDS = 1
ZIPF_S = 1.1
PAGE = 50
YEARS = tuple(y - 543 for y in gen_import.BE_YEARS)
SPEC = gen_import.ImportSpec()


def _call_sequence(seed: int, known: list[str], unknown: list[str]) -> list[tuple]:
    """One round of calls: the mix and the miss count are exact, so
    every seed times the same kinds of call; the order, the tax_ids
    (Zipf over the known companies) and the years vary with the seed."""
    rng = random.Random(seed * 7919 + 17)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(known))]
    order = known[:]
    rng.shuffle(order)
    kinds = [k for k, share in MIX for _ in range(round(share * LOOKUPS))]
    misses = set(rng.sample(range(LOOKUPS), round(MISS_SHARE * LOOKUPS)))
    rng.shuffle(kinds)
    calls = []
    for i, kind in enumerate(kinds):
        t = rng.choice(unknown) if i in misses else rng.choices(order, weights)[0]
        calls.append((kind, t, rng.choice(YEARS)))
    return calls


class Workload:
    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.tables = os.path.join(work, "tables", "published")
        self.responses: list[tuple[tuple, object]] = []

    def generate(self) -> None:
        self.months, self.truth = gen_import.generate_round(
            self.seed, SPEC, os.path.join(self.work, "inputs"))
        known = sorted(self.truth.companies)
        rng = random.Random(self.seed)
        used = set(known)
        skipped = sorted({t for m in self.months for t, _ in _statement_keys(m)} - used)
        never = [gen_import.new_tax_id(rng, used) for _ in range(8)]
        self.calls = _call_sequence(self.seed, known, skipped + never)

    def setup(self, spark, traced: bool) -> None:
        """The monthly import (traced in the traced run), then one
        untimed round of calls."""
        tr = Tracer(spark, traced)
        t0 = time.perf_counter()
        self.reports = [monthly.import_month(spark, m, self.tables, tr) for m in self.months]
        self.setup_trace = (tr, time.perf_counter() - t0)
        tr = Tracer(spark, False)
        self.gold = spark.read.parquet(os.path.join(self.tables, "gold", "current"))
        self.directors = spark.read.parquet(os.path.join(self.tables, "directors", "current"))
        self.cols = dbd_financial.BALANCE_ITEMS + dbd_financial.INCOME_ITEMS
        for _ in range(WARMUP_ROUNDS):
            self._run(tr, self.calls)
        self.responses.clear()

    def _query(self, kind: str, tax_id: str, year: int):
        if kind == "point":
            return dbd_financial.company_financial(self.gold, tax_id, year, self.cols)
        if kind == "range":
            return dbd_financial.company_financial_all_years(
                self.gold, tax_id, min(YEARS), max(YEARS), self.cols)
        return (
            self.directors.filter(F.col("registered_no") == tax_id)
            .orderBy(F.col("director_no").asc_nulls_last(), "first_name", "last_name",
                     F.col("prefix").asc_nulls_first())
            .limit(PAGE)
        )

    def _run(self, tr, calls) -> tuple[list[float], int]:
        ms, failed = [], 0
        for call in calls:
            t = time.perf_counter()
            try:
                with tr.span("query.build"):
                    df = self._query(*call)
                with tr.span("query.exec") as c:
                    rows = df.collect()
                    c["rows"] = len(rows)
                self.responses.append((call, rows))
            except Exception:  # a failed call is counted, the loop goes on
                traceback.print_exc()
                failed += 1
            ms.append((time.perf_counter() - t) * 1000.0)
        return ms, failed

    def timed_phase(self, spark, seconds, traced: bool, rounds: int | None = None) -> dict:
        tr = Tracer(spark, traced)
        ops, failed, n = [], 0, 0
        t0 = time.perf_counter()
        while common.more_rounds(n, t0, seconds, rounds):
            ms, f = self._run(tr, self.calls)
            ops += ms
            failed += f
            n += 1
        wall = time.perf_counter() - t0
        nbytes, _ = monthly.disk_usage([self.tables])
        return {
            "rounds": n, "attempted": len(ops), "failed": failed, "wall_s": wall,
            "ops_ms": ops, "units": len(ops), "tracer": tr,
            "bytes_per_row": nbytes / max(self.reports[-1]["live_rows"], 1),
        }

    def check(self) -> list[str]:
        errs = [f"import month {m}: {e}"
                for m, (got, want) in enumerate(zip(self.reports, self.truth.month_counts), 1)
                for e in monthly.check_counts(got, want)]
        errs += [f"published tables: {e}" for e in monthly.check_tables(self.tables, self.truth)]
        expected = {}
        for call, rows in self.responses:
            if call not in expected:
                expected[call] = self._truth(*call)
            got = self._as_plain(call[0], rows)
            if got != expected[call]:
                errs.append(f"{call}: got {got!r:.200} want {expected[call]!r:.200}")
        if not self.responses:
            errs.append("no lookup answered")
        return errs

    def _as_plain(self, kind: str, rows) -> list:
        if kind == "point":
            return [tuple(r) for r in rows]
        if kind == "range":
            return [(r["tax_id"], {y: v.asDict() for y, v in r["years"].items()}) for r in rows]
        return [(r["director_no"], r["prefix"], r["first_name"], r["last_name"]) for r in rows]

    def _truth(self, kind: str, tax_id: str, year: int) -> list:
        gold = self.truth.gold
        if kind == "point":
            rec = gold.get((tax_id, year))
            return [] if rec is None else [(tax_id, year, *[rec[c] for c in self.cols])]
        if kind == "range":
            years = {str(y): {c: gold[(tax_id, y)][c] for c in self.cols}
                     for y in YEARS if (tax_id, y) in gold}
            return [(tax_id, years)] if years else []
        c = self.truth.companies.get(tax_id)
        if c is None:
            return []
        ds = [(d["no"], d["split"][0], d["split"][1], d["split"][2]) for d in c["directors"]]
        ds.sort(key=lambda d: (d[0] is None, d[0] or 0, d[2], d[3], d[1] is not None, d[1] or ""))
        return ds[:PAGE]


def _statement_keys(drop: str):
    """(tax_id, kind) of every statement sheet in a drop."""
    for name in os.listdir(os.path.join(drop, "dbd")):
        tax_id, kind = name.split(".")[0].split("_")
        yield tax_id, kind
