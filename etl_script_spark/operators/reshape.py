"""Pivot / unpivot reshape operators (SURVEY.md §2.5 R1-R5) — the
reference's signature transformation (wide DBD year-column statements
⇄ long item rows).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_script_spark.functions.exprs import sql_ident


def detect_year_columns(columns: list[str], be_ok: bool = True) -> list[str]:
    """R1 helper: columns whose name is a plausible CE/BE year.

    Ref: detect_year_pairs script_read_dbd_balance.py:171-194.
    """
    out = []
    for c in columns:
        m = re.fullmatch(r"\s*(\d{4})(\.0)?\s*", str(c))
        if not m:
            continue
        y = int(m.group(1))
        if 1900 <= y <= 2200 or (be_ok and 2400 <= y <= 2700):
            out.append(c)
    return out


def unpivot_years(
    df: DataFrame,
    id_cols: list[str],
    year_cols: list[str] | None = None,
    var_name: str = "year",
    value_name: str = "amount",
) -> DataFrame:
    """R1: wide→long unpivot of year columns.

    Uses the native ``unpivot`` (Spark 3.4+) — a zero-shuffle narrow
    transform; each input row fans out locally, so it scales linearly.

    Ref: script_read_dbd_balance.py:225-265.
    """
    year_cols = year_cols or detect_year_columns(df.columns)
    out = df.unpivot(
        [F.col(c) for c in id_cols],
        [F.col(c).cast("double").alias(c) for c in year_cols],
        var_name,
        value_name,
    )
    return out


def unpivot_year_pairs(
    df: DataFrame,
    id_cols: list[str],
    pairs: dict[str, str],
    year_name: str = "year",
    amount_name: str = "amount",
    pct_name: str = "pct_change",
) -> DataFrame:
    """R1 paired variant: each year column has a paired %change column
    (``pairs`` maps year-col → pct-col). Emitted as one long frame via
    a stack of (year, amount, pct) structs — single projection, no
    join (the reference's two-frame melt+merge collapses to one pass).

    Ref: detect_year_pairs script_read_dbd_balance.py:171-194.
    """
    import re as _re

    def _year_of(col_name: str) -> str:
        # 'y2566_amount' / '2566' / 'y1996' → the 4-digit year; other
        # names pass through verbatim
        m = _re.search(r"(\d{4})", str(col_name))
        return m.group(1) if m else str(col_name).strip()

    structs = [
        F.struct(
            F.lit(_year_of(y)).alias(year_name),
            F.col(y).cast("double").alias(amount_name),
            (F.col(p).cast("double") if p else F.lit(None).cast("double")).alias(pct_name),
        )
        for y, p in pairs.items()
    ]
    return (
        df.select(*id_cols, F.explode(F.array(*structs)).alias("__yr"))
        .select(*id_cols, f"__yr.{year_name}", f"__yr.{amount_name}", f"__yr.{pct_name}")
    )


def pivot_items(
    df: DataFrame,
    key_cols: list[str],
    item_col: str,
    value_col: str,
    items: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """R2: long→wide pivot — item rows → columns restricted to the
    declared column list. With ``order_col`` (a stamped ingest
    ordinal) duplicates resolve last-write-wins DETERMINISTICALLY
    (max_by); without it, ``F.last`` picks whichever duplicate its
    partition order delivers — fine only when (keys, item) is unique,
    which is why call sites that can carry an ordinal should.

    NULL duplicates are skipped in BOTH modes: the ordered path only
    ranks rows whose value is non-null (a later NULL never clobbers an
    earlier real value), matching ``last(ignorenulls=True)`` on the
    unordered path — so adding an ordinal to a call site changes
    determinism only, never NULL semantics.

    Passing the explicit ``items`` list skips Spark's extra
    distinct-values job — at 100 TB that's one full scan saved.

    Ref: ImportDbdFinancial.php:185-288 (overwrite-on-duplicate).
    """
    agg = (
        # null ordering keys are ignored by max_by, so masking the
        # ordinal on null-valued rows == "rank non-null rows only"
        F.max_by(
            F.col(value_col),
            F.when(F.col(value_col).isNotNull(), F.col(order_col)),
        )
        if order_col
        else F.last(F.col(value_col), ignorenulls=True)
    )
    return df.groupBy(*key_cols).pivot(item_col, items).agg(agg)


def pivoted_year_map(
    df: DataFrame,
    key_col: str,
    year_col: str,
    value_cols: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """R3: per-key map year→struct(projected cols) — the all-years
    financial response shape.

    Duplicate (key, year) rows are collapsed BEFORE the map is built:
    map_from_entries throws DUPLICATE_MAP_KEY at runtime otherwise
    (default mapKeyDedupPolicy=EXCEPTION). With ``order_col`` the
    winner is last-write-wins deterministic; without it the pick is
    arbitrary (dropDuplicates) — never a crash.

    The map aggregate is built as one SQL expression (one JVM call),
    not as per-column Column builders: on a lookup-sized input the
    builders cost more than running the plan.

    Ref: PublicApiController.php:910-975.
    """
    from etl_script_spark.operators.merge import dedupe_last

    deduped = dedupe_last(df, [key_col, year_col], order_col)
    fields = ", ".join(f"CAST({q} AS DOUBLE) AS {q}" for q in map(sql_ident, value_cols))
    years = F.expr(
        "map_from_entries(sort_array(collect_list(struct("
        f"CAST({sql_ident(year_col)} AS STRING) AS key, struct({fields}) AS value))))"
    )
    return deduped.groupBy(key_col).agg(years.alias("years"))


def positional_extract(
    df: DataFrame, ord_col: str, row_map: dict[int, str], value_col: str
) -> DataFrame:
    """R4: fixed positional extraction — row N of a block is header H
    (BS rows 3..52 → 50 named headers). Produces (header, value) rows
    via an ordinal lookup; order comes from the stamped ``ord_col``.

    Ref: bs_processor.py:87-112, ic_processor.py:54-75.
    """
    mapping = F.create_map(*[F.lit(x) for kv in row_map.items() for x in kv])
    return (
        df.withColumn("item", mapping[F.col(ord_col)])
        .filter(F.col("item").isNotNull())
        .select("item", F.col(value_col).alias("value"))
    )


def ffill(
    df: DataFrame,
    col: str,
    order_col: str,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """R5: forward-fill merged-cell labels down rows (pandas ffill) —
    ``last(col, ignorenulls)`` over an unbounded-preceding window.

    Partition by source file for scale: an unpartitioned window is a
    single-task sort at 100 TB.

    Ref: script_read_dbd_ratios.py:241-243.
    """
    w = (
        Window.partitionBy(*(partition_cols or []))
        .orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(col, F.last(F.col(col), ignorenulls=True).over(w))


def collect_by_year(
    df: DataFrame, year_col: str, ord_col: str, payload_cols: list[str]
) -> DataFrame:
    """A5/O5: group rows by year preserving source order — the
    year-keyed JSON dict shape {"<year>": [rows…]}.

    Order is preserved by sorting the collected structs on the stamped
    ordinal (collect_list order is otherwise nondeterministic under
    parallel execution — SURVEY §4.3-1).

    Ref: script_read_dbd_balance.py:235-263, script_read_dbd_income.py:349-385.
    """
    entry = F.struct(
        F.col(ord_col).alias("__ord"), *[F.col(c) for c in payload_cols]
    )
    rows = F.transform(
        F.array_sort(F.collect_list(entry)),
        lambda s: F.struct(*[s[c].alias(c) for c in payload_cols]),
    )
    return df.groupBy(year_col).agg(rows.alias("rows"))
