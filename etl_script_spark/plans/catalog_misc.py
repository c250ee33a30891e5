"""Declared queries closing out the remaining SURVEY.md §2 inventory:
fuzzy canonicalization (P2), strict-mode filter (P10), formatting
functions (F14/F17), fixed-cell broadcast (F27), line-parse cascade
(F31) and two-line merge (F32), OCR-pass dedup (D3), last-wins pivot
(A6), and the multimodal plumbing (image features, frame sampling)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_script_spark.functions import numerics, strings
from etl_script_spark.operators import asof, lineparse, multimodal, rowfilters
from etl_script_spark.operators import merge as merge_ops
from etl_script_spark.operators.canonicalize import fuzzy_rename_columns
from etl_script_spark.operators.partitioning import fan_out
from etl_script_spark.plans.catalog import register, t


@register(
    "p2_fuzzy_canonicalize",
    """
    SELECT n_nationkey, n_name FROM nation
    """,
    ("P2", "P1"),
)
def p2_fuzzy_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: punctuation/space/case-insensitive column-key folding — the
    variant spellings 'N Nation-Key' and 'N.Name' resolve to canonical
    names (pdf_ocr_inv_to_json.py:141-170 _canon_key)."""
    dirty = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("N Nation-Key"),
        F.col("n_name").alias("N.Name"),
    )
    out = fuzzy_rename_columns(
        dirty, {"nnationkey": "n_nationkey", "nname": "n_name"}
    )
    return out.select("n_nationkey", "n_name")


@register(
    "p10_strict_mode_filter",
    """
    SELECT o_orderkey,
           'INV' || CAST(o_orderkey AS VARCHAR) AS invoice_no,
           CAST(o_custkey AS VARCHAR) AS supplier_code
    FROM orders WHERE o_orderkey % 3 = 0
    """,
    ("P10",),
)
def p10_strict_mode_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: strict-mode row filter — alpha-prefix+digits invoice
    numbers and all-digit supplier codes survive; OCR junk drops."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 3
    inv = (
        F.when(k == 0, F.concat(F.lit("INV"), F.col("o_orderkey").cast("string")))
        .when(k == 1, F.concat(F.lit("#"), F.col("o_orderkey").cast("string")))
        .otherwise(F.lit("no-digits"))
    )
    sup = F.when(k == 2, F.lit("12a45")).otherwise(
        F.col("o_custkey").cast("string")
    )
    df = o.select(
        "o_orderkey", inv.alias("invoice_no"), sup.alias("supplier_code")
    )
    return rowfilters.strict_mode_filter(df, "invoice_no", "supplier_code")


@register(
    "f14_int_if_integral",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 2 = 0 THEN CAST(o_orderkey * 5 AS VARCHAR)
                ELSE CAST(o_orderkey * 5 AS VARCHAR) || '.5' END AS rendered
    FROM orders
    """,
    ("F14",),
)
def f14_int_if_integral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: integral doubles render without '.0' (JSON cosmetics)."""
    o = t(spark, sf_dir, "orders")
    v = F.when(
        F.col("o_orderkey") % 2 == 0, F.col("o_orderkey") * 5.0
    ).otherwise(F.col("o_orderkey") * 5.0 + 0.5)
    return o.select("o_orderkey", numerics.int_if_integral(v).alias("rendered"))


@register(
    "f17_combining_rejoin",
    """
    SELECT doc_id, 'บริษัท' || ' จำกัด' AS fixed FROM documents
    """,
    ("F17",),
)
def f17_combining_rejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17: a newline OCR-inserted before a Thai combining mark is
    removed so the mark reattaches (บริษ\\nัท → บริษัท)."""
    d = t(spark, sf_dir, "documents")
    broken = F.lit("บริษ\nัท จำกัด")
    return d.select(
        "doc_id", strings.rejoin_combining_lines(broken).alias("fixed")
    )


@register(
    "f27_fixed_cell_broadcast",
    """
    SELECT r_regionkey, r_name,
           'BUYER_' || CAST(r_regionkey % 2 AS VARCHAR) AS buyer
    FROM region
    """,
    ("F27",),
)
def f27_fixed_cell_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F27: per-file scalar header metadata (the B2 buyer cell)
    broadcast onto every row of its file."""
    r = t(spark, sf_dir, "region").withColumn(
        "source_file",
        F.concat(F.lit("file_"), (F.col("r_regionkey") % 2).cast("string")),
    )
    meta = {
        "file_0": {"buyer": "BUYER_0"},
        "file_1": {"buyer": "BUYER_1"},
    }
    out = lineparse.broadcast_file_metadata(r, "source_file", meta)
    return out.select("r_regionkey", "r_name", "buyer")


@register(
    "f31_line_parse_cascade",
    """
    SELECT o_orderkey, 0 AS line_no,
           'DOC' || CAST(o_orderkey AS VARCHAR) AS doc_no,
           'BR01' AS branch,
           CAST(o_orderkey % 1000 AS VARCHAR) || '.25' AS amount
    FROM orders
    UNION ALL
    SELECT o_orderkey, 1,
           'DOC' || CAST(o_orderkey + 1 AS VARCHAR),
           '0000',
           CAST(o_orderkey % 997 AS VARCHAR) || '.50'
    FROM orders
    """,
    ("F31",),
)
def f31_line_parse_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F31: ordered regex cascade over exploded page lines — strict
    (with branch) → no-branch (branch defaults '0000'); garbage lines
    fall out unmatched (pdf_ocr_rm_to_json.py:257-283 tiers)."""
    # regex cascade over exploded lines from a narrow scan: spread it
    o = fan_out(t(spark, sf_dir, "orders"))
    key = F.col("o_orderkey").cast("string")
    l0 = F.concat(
        F.lit("01/02/2024 BR01 PAY DOC"), key, F.lit(" REF"), key,
        F.lit(" "), (F.col("o_orderkey") % 1000).cast("string"), F.lit(".25"),
    )
    l1 = F.concat(
        F.lit("03/04/2024 PAY DOC"), (F.col("o_orderkey") + 1).cast("string"),
        F.lit(" "), (F.col("o_orderkey") % 997).cast("string"), F.lit(".50"),
    )
    l2 = F.lit("หมายเหตุ: unparseable garbage ***")
    pages = o.select("o_orderkey", F.concat_ws("\n", l0, l1, l2).alias("page_text"))
    lines = lineparse.explode_lines(pages, "page_text", ["o_orderkey"])
    parsed = lineparse.parse_line_cascade(
        F.col("line"),
        [
            (
                r"^(\d{2}/\d{2}/\d{4}) (BR\d+) ([A-Z]+) (DOC\d+) (REF\d+) ([0-9.]+)$",
                ["date", "branch", "type", "doc_no", "ref_no", "amount"],
            ),
            (
                r"^(\d{2}/\d{2}/\d{4}) ([A-Z]+) (DOC\d+) ([0-9.]+)$",
                ["date", "type", "doc_no", "amount"],
            ),
        ],
    )
    return (
        lines.withColumn("p", parsed)
        .filter(F.col("p").isNotNull())
        .select(
            "o_orderkey",
            "line_no",
            F.col("p.doc_no").alias("doc_no"),
            F.coalesce(F.col("p.branch"), F.lit("0000")).alias("branch"),
            F.col("p.amount").alias("amount"),
        )
    )


@register(
    "f32_two_line_merge",
    """
    SELECT o_orderkey, 'REC' || CAST(o_orderkey AS VARCHAR)
           || ' A +' || CAST(o_orderkey % 100 AS VARCHAR) AS line
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'REC' || CAST(o_orderkey AS VARCHAR) || ' B solo'
    FROM orders
    """,
    ("F32",),
)
def f32_two_line_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F32: records spanning two physical lines — a record-start line
    absorbs a following continuation line (lead() over the stamped
    line order); standalone record lines pass through."""
    o = t(spark, sf_dir, "orders")
    key = F.col("o_orderkey").cast("string")
    l0 = F.concat(F.lit("REC"), key, F.lit(" A"))
    l1 = F.concat(F.lit("+"), (F.col("o_orderkey") % 100).cast("string"))
    l2 = F.concat(F.lit("REC"), key, F.lit(" B solo"))
    pages = o.select("o_orderkey", F.concat_ws("\n", l0, l1, l2).alias("page_text"))
    lines = lineparse.explode_lines(pages, "page_text", ["o_orderkey"])
    merged = lineparse.merge_continuation_lines(
        lines, ["o_orderkey"], start_pattern=r"^REC\d+", continuation_pattern=r"^\+"
    )
    return merged.select("o_orderkey", "line")


@register(
    "d3_multipass_text_dedup",
    """
    SELECT doc_id, 2 AS n_passes,
           CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS n_unique
    FROM documents
    """,
    ("D3",),
)
def d3_multipass_text_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: identical OCR passes of a page merge once
    (array_distinct on collected pass texts)."""
    d = t(spark, sf_dir, "documents")
    passes = F.when(
        F.col("doc_id") % 2 == 0, F.array(F.col("text"), F.col("text"))
    ).otherwise(F.array(F.col("text"), F.concat(F.col("text"), F.lit(" v2"))))
    return d.select(
        "doc_id",
        F.size(passes).alias("n_passes"),
        F.size(F.array_distinct(passes)).alias("n_unique"),
    )


@register(
    "a6_last_wins_pivot",
    """
    WITH long AS (
      SELECT l_orderkey,
             CASE WHEN l_linenumber % 2 = 0 THEN 'even' ELSE 'odd' END AS item,
             CAST(l_quantity AS DOUBLE) AS amount,
             l_linenumber,
             ROW_NUMBER() OVER (
               PARTITION BY l_orderkey, l_linenumber % 2
               ORDER BY l_linenumber DESC, l_quantity DESC) AS rn
      FROM lineitem
    )
    SELECT l_orderkey,
           MAX(CASE WHEN item = 'even' AND rn = 1 THEN amount END) AS even,
           MAX(CASE WHEN item = 'odd'  AND rn = 1 THEN amount END) AS odd
    FROM long GROUP BY l_orderkey
    """,
    ("A6", "R2"),
)
def a6_last_wins_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: duplicate item rows overwrite — LAST in stamped order wins
    — then pivot to declared columns (ImportDbdFinancial.php:196-204)."""
    l = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.when(F.col("l_linenumber") % 2 == 0, F.lit("even"))
        .otherwise(F.lit("odd"))
        .alias("item"),
        F.col("l_quantity").cast("double").alias("amount"),
        "l_linenumber",
    )
    # the testdata carries duplicate (orderkey, linenumber) pairs —
    # tiebreak on amount so "last" is deterministic on both engines
    l = l.withColumn("__ord", F.struct("l_linenumber", "amount"))
    last = merge_ops.dedupe_last(l, ["l_orderkey", "item"], order_col="__ord").drop(
        "__ord"
    )
    return (
        last.groupBy("l_orderkey")
        .pivot("item", ["even", "odd"])
        .agg(F.first("amount"))
    )


@register(
    "j4_diff_sync_soft_delete",
    """
    WITH target AS (
      SELECT c_custkey AS k, c_name AS v,
             CASE WHEN c_custkey % 5 = 0
                  THEN TIMESTAMP '2020-01-01 00:00:00' END AS deleted_at
      FROM customer
    ), source AS (
      SELECT c_custkey AS k, c_mktsegment AS v
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT s.k, s.v, CAST(NULL AS TIMESTAMP) AS deleted_at FROM source s
    UNION ALL
    SELECT t.k, t.v, COALESCE(t.deleted_at, TIMESTAMP '2024-06-01 00:00:00')
    FROM target t WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.k = t.k)
    """,
    ("J4",),
)
def j4_diff_sync_soft_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 with the reference's soft-delete fidelity: payload rows are
    upserted AND restored (deleted_at → NULL, even if previously
    soft-deleted); target rows missing from the payload are soft-
    deleted with a stamp, preserving an earlier stamp
    (BolApiController.php:201-249)."""
    c = t(spark, sf_dir, "customer")
    target = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("v"),
        F.when(
            F.col("c_custkey") % 5 == 0,
            F.lit("2020-01-01 00:00:00").cast("timestamp_ntz"),
        ).alias("deleted_at"),
    )
    source = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("k"), F.col("c_mktsegment").alias("v")
    )
    return merge_ops.diff_sync(
        target,
        source,
        ["k"],
        soft_delete_col="deleted_at",
        delete_stamp=F.lit("2024-06-01 00:00:00").cast("timestamp_ntz"),
    )


@register(
    "mm_frame_sample",
    """
    SELECT doc_id AS media_id,
           CAST(UNNEST(generate_series(0, CAST(doc_id % 60 AS INT), 5)) AS BIGINT)
               AS frame_ts
    FROM documents
    """,
    ("LLM-multimodal",),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: video frame-sampling plan — one row per frame
    timestamp to decode (explode keeps per-task memory flat; the
    decode itself is the stubbed step)."""
    d = t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit(None).cast("binary").alias("content"),
        F.lit("video/mp4").alias("mime"),
        F.create_map(
            F.lit("duration_s"), (F.col("doc_id") % 60).cast("string")
        ).alias("meta"),
    )
    out = multimodal.frame_sample_plan(media, every_n_seconds=5)
    return out.select("media_id", F.col("frame_ts").cast("long").alias("frame_ts"))


@register(
    "mm_image_features",
    """
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           substr(sha256(text), 1, 16) AS sha_prefix
    FROM documents
    """,
    ("LLM-multimodal",),
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: binary image column → Arrow-batched feature
    extraction (mapInPandas). Decode is the documented deterministic
    stub; schema/batching/partitioning are the real contract. The
    driver query projects the byte-derived features (n_bytes,
    sha_prefix) that an oracle can recompute — DuckDB sha256 over the
    same UTF-8 bytes; stub width/height/luma stay unit-test-covered."""
    d = t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.lit("image/png").alias("mime"),
        F.create_map(F.lit("src"), F.col("source")).alias("meta"),
    )
    return multimodal.extract_image_features(media).select(
        "media_id", "n_bytes", "sha_prefix"
    )

@register(
    "j_asof_last_purchase",
    """
    SELECT l.event_id, l.user_id, l.event_type,
           r.value AS last_purchase_value, r.ts AS last_purchase_ts
    FROM events l ASOF LEFT JOIN (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ) r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    ("X-asof-join",),
)
def j_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event annotated with the user's most recent
    purchase at-or-before its timestamp (tag+union+window — one
    shuffle, no range cross-join). Oracle = DuckDB's native ASOF
    LEFT JOIN."""
    e = t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof.asof_join(
        e.select("event_id", "user_id", "event_type", "ts"),
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        payload={"value": "last_purchase_value"},
        matched_ts="last_purchase_ts",
    ).drop("ts")

@register(
    "sessionize_events",
    """
    SELECT event_id, user_id,
           CAST(SUM(is_start) OVER (
             PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                      > INTERVAL 1800 SECOND
                  THEN 1 ELSE 0 END AS is_start
      FROM events)
    """,
    ("X-sessionize",),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 30-minute-gap session ordinals per user
    (lag + running-sum in ONE window pass; the batch twin of the
    streaming session_window query)."""
    e = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return asof.sessionize(e, key="user_id", ts="ts", gap_seconds=1800).drop("ts")

_BANDS_SQL = """bands AS (
      SELECT n_nationkey AS band_id,
             CAST(800 + n_nationkey * 50 AS DOUBLE) AS lo,
             CAST(920 + n_nationkey * 50 AS DOUBLE) AS hi
      FROM nation)"""

_RANGE_ORACLE = f"""
    WITH {_BANDS_SQL}
    SELECT p.p_partkey, b.band_id, p.p_retailprice
    FROM part p JOIN bands b
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    """


def _price_bands(spark: SparkSession, sf_dir: str):
    n = t(spark, sf_dir, "nation")
    return n.select(
        F.col("n_nationkey").alias("band_id"),
        (F.lit(800) + F.col("n_nationkey") * 50).cast("double").alias("lo"),
        (F.lit(920) + F.col("n_nationkey") * 50).cast("double").alias("hi"),
    )


@register("j_range_price_bands", _RANGE_ORACLE, ("X-range-join",))
def j_range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join, broadcast shape: parts matched to every overlapping
    price band (lo <= price < hi). The band dimension broadcasts; the
    fact side never shuffles (BroadcastNestedLoopJoin is the right
    plan for a tiny interval side)."""
    p = t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    out = asof.range_join_broadcast(
        p, _price_bands(spark, sf_dir), "p_retailprice", "lo", "hi"
    )
    return out.select("p_partkey", "band_id", "p_retailprice")


@register("j_range_bucketed", _RANGE_ORACLE, ("X-range-join",))
def j_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join, large-large shape: both sides quantized to 120-wide
    grid cells, equi-join on cell id (the only shuffle), exact
    predicate refined in-cell. Same result set as the broadcast shape
    — the same oracle checks both."""
    p = t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    out = asof.range_join_bucketed(
        p, _price_bands(spark, sf_dir), "p_retailprice", "lo", "hi",
        bucket_width=120.0,
    )
    return out.select("p_partkey", "band_id", "p_retailprice")


@register(
    "skew_salted_join",
    """
    SELECT o_orderkey, o_custkey, c_nationkey
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    ("skew",),
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew tooling, driver-checked: the explicit salted equi-join —
    the skewed (fact) side salts on a per-row hash, the dim side
    explodes into every salt, the join key becomes (key, salt) so one
    hot customer spreads over n_salts reducers. Semantically identical
    to the plain join (the oracle), by construction.

    The mitigation for the hot-key layouts AQE can't re-plan
    (SURVEY §4 scale posture)."""
    from etl_script_spark.operators import skew

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    return skew.salted_join(o, c, "o_custkey", n_salts=8, how="inner")


@register(
    "skew_two_phase_agg",
    """
    SELECT o_custkey,
           COUNT(*) AS cnt_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders GROUP BY o_custkey
    """,
    ("skew",),
)
def skew_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew tooling, driver-checked: hot-key aggregation in two phases
    — partial aggregate on (key, salt) spreads each hot key over
    n_salts reducers, final combine on the key. Exact integer cents so
    the two-phase result is bitwise-equal to the single-phase oracle."""
    from etl_script_spark.operators import skew
    from etl_script_spark.plans.catalog import cents

    o = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    return skew.two_phase_agg(
        o,
        ["o_custkey"],
        {
            "cnt_orders": F.count(F.lit(1)),
            "sum_cents": F.sum(cents(F.col("o_totalprice"))),
        },
        n_salts=8,
    )


@register(
    "bucketed_join_zero_shuffle",
    """
    SELECT o.o_orderkey, o.o_custkey, c.c_nationkey
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    ("bucketing",),
)
def bucketed_join_zero_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-at-rest join, driver-checked: both sides are persisted
    bucketed by the join key, then joined from the saved tables — the
    sort-merge join reads both sides pre-partitioned, no Exchange on
    either side (asserted in tests/test_skew.py). The at-rest answer
    to repeated merges on the same key at 100 TB."""
    import re as _re

    from etl_script_spark.sources import writers as w

    tag = _re.sub(r"[^0-9a-zA-Z]", "_", sf_dir.strip("/"))
    ot, ct = f"bkt_orders_{tag}", f"bkt_customer_{tag}"
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    # a managed table's location can survive from a previous session
    # whose catalog is gone — drop both layers before rewriting
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    wh = _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for name in (ot, ct):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        _shutil.rmtree(f"{wh}/{name}", ignore_errors=True)
    w.write_bucketed_table(o, ot, ["o_custkey"], n_buckets=8)
    w.write_bucketed_table(c, ct, ["c_custkey"], n_buckets=8)
    bo, bc = spark.table(ot), spark.table(ct)
    # force sort-merge: at bench scale the planner would pick broadcast
    # (disabling bucketed reads) and the zero-shuffle claim would go
    # untested; MERGE is what a 100 TB fact-fact merge runs anyway
    return (
        bo.hint("merge")
        .join(bc, bo["o_custkey"] == bc["c_custkey"])
        .select("o_orderkey", "o_custkey", "c_nationkey")
    )


@register(
    "mm_audio_chunks",
    """
    SELECT d.doc_id AS media_id,
           g.g AS start_ms,
           least(g.g + 10000, d.dur) AS end_ms,
           (least(g.g + 10000, d.dur) - g.g) * 16 AS n_samples
    FROM (SELECT doc_id, (doc_id % 300 + 1) * 1000 AS dur FROM documents) d
    CROSS JOIN LATERAL (
      SELECT unnest(generate_series(0, d.dur - 1, 10000)) AS g
    ) g
    """,
    ("LLM-multimodal",),
)
def mm_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: audio chunking plan — each (fake) audio document
    expands into fixed 10 s chunk descriptors with expected sample
    counts at 16 kHz; the decode stays a stub, the explode shape and
    chunk math are the real, oracle-checked contract."""
    d = t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.create_map(
            F.lit("duration_ms"),
            ((F.col("doc_id") % 300 + 1) * 1000).cast("string"),
        ).alias("meta"),
    )
    return multimodal.audio_chunk_plan(media, chunk_ms=10_000, sample_rate=16_000)


@register(
    "ts_gap_fill_hourly",
    """
    WITH agg AS (
      SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
      FROM agg GROUP BY 1
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
      FROM bounds
    )
    SELECT g.user_id, g.bucket, COALESCE(a.n_events, 0) AS n_events
    FROM grid g LEFT JOIN agg a USING (user_id, bucket)
    """,
    ("X-timeseries",),
)
def ts_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: hourly per-user event counts with
    every silent hour inside the user's own active span emitted as an
    explicit zero row — the gap-fill operator Spark lacks natively
    (sequence+explode grid, co-partitioned fill join; see
    operators/asof.py:gap_fill for the scale shape)."""
    from etl_script_spark.operators import asof as asof_ops

    e = t(spark, sf_dir, "events")
    agg = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return asof_ops.gap_fill(
        agg, ["user_id"], "bucket", "1 HOUR", fill={"n_events": 0}
    )


@register(
    "j_interval_overlap",
    """
    WITH l AS (
      SELECT o_orderkey AS l_id,
             CAST(epoch(o_orderdate) / 86400 AS BIGINT) AS l_lo,
             CAST(epoch(o_orderdate) / 86400 AS BIGINT)
               + CAST(o_orderkey % 5 AS BIGINT) AS l_hi
      FROM orders WHERE o_orderkey % 100 = 0
    ),
    r AS (
      SELECT o_orderkey AS r_id,
             CAST(epoch(o_orderdate) / 86400 AS BIGINT) AS r_lo,
             CAST(epoch(o_orderdate) / 86400 AS BIGINT)
               + CAST(o_orderkey % 7 AS BIGINT) AS r_hi
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT l_id, r_id FROM l JOIN r
    ON l.l_lo <= r.r_hi AND r.r_lo <= l.l_hi
    """,
    ("X-interval-join",),
)
def j_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join on the weekly grid: a sampled set of
    order validity windows paired with every overlapping window from a
    denser set. The grid-bucket equi-join shape keeps this a single
    long-key shuffle (the oracle is the plain theta join it must
    equal)."""
    from etl_script_spark.operators import asof as asof_ops

    o = t(spark, sf_dir, "orders")
    days = (F.unix_timestamp("o_orderdate") / 86400).cast("long")
    left = o.filter(F.col("o_orderkey") % 100 == 0).select(
        F.col("o_orderkey").alias("l_id"),
        days.alias("l_lo"),
        (days + F.col("o_orderkey") % 5).alias("l_hi"),
    )
    right = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("r_id"),
        days.alias("r_lo"),
        (days + F.col("o_orderkey") % 7).alias("r_hi"),
    )
    out = asof_ops.interval_overlap_join(
        left, right, ("l_lo", "l_hi"), ("r_lo", "r_hi"), bucket_width=7.0
    )
    return out.select("l_id", "r_id")


@register(
    "pipeline_skew_hot_company_e2e",
    """
    WITH f AS (
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 7 ELSE o_custkey END
               AS company_id,
             o_totalprice
      FROM orders
    )
    SELECT f.company_id, c.c_nationkey,
           COUNT(*) AS cnt_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM f JOIN customer c ON f.company_id = c.c_custkey
    GROUP BY f.company_id, c.c_nationkey
    """,
    ("skew", "pipeline"),
)
def pipeline_skew_hot_company_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew machinery inside one e2e pipeline (VERDICT r3 #8): company
    7 is synthetically assigned HALF of all orders — the documented
    100 TB pathology (one conglomerate holding most invoices) — then
    the pipeline chains BOTH mitigations: salted_join to enrich the
    hot fact side against the customer dim (hot key spreads over 8
    salted reducers instead of melting one), and two_phase_agg for the
    per-company totals (partial on (key, salt), final combine on key).
    Exact integer cents, so the result is bitwise-equal to the plain
    join+group-by oracle. The salt spread is plan-asserted in
    tests/test_skew.py."""
    from etl_script_spark.operators import skew
    from etl_script_spark.plans.catalog import cents

    o = t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 2 == 0, F.lit(7).cast("long"))
        .otherwise(F.col("o_custkey"))
        .alias("company_id"),
        "o_totalprice",
    )
    dim = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("company_id"), "c_nationkey"
    )
    enriched = skew.salted_join(o, dim, "company_id", n_salts=8, how="inner")
    return skew.two_phase_agg(
        enriched,
        ["company_id", "c_nationkey"],
        {
            "cnt_orders": F.count(F.lit(1)),
            "sum_cents": F.sum(cents(F.col("o_totalprice"))),
        },
        n_salts=8,
    )


@register(
    "inc_agg_maintenance",
    """
    SELECT o_orderpriority, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS o_totalprice_sum,
           MIN(o_totalprice) AS o_totalprice_min,
           MAX(o_totalprice) AS o_totalprice_max,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*) AS o_totalprice_avg
    FROM orders GROUP BY o_orderpriority
    """,
    ("X-incremental",),
)
def inc_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: per-priority totals maintained
    as MERGEABLE partial states. Three disjoint date slices of orders
    are aggregated independently (as three daily/monthly batches
    would be), merged state-to-state, and finalized — and the result
    is BITWISE equal to the from-scratch aggregation the oracle
    computes, avg included (carried as sum+count, divided only at
    finalize). At 100 TB the per-batch cost is the batch scan plus a
    key-cardinality state merge; history is never rescanned.
    """
    from etl_script_spark.operators import incremental as inc

    o = t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    slices = [
        o.filter(F.col("o_orderdate") < F.lit("1994-01-01").cast("date")),
        o.filter(
            (F.col("o_orderdate") >= F.lit("1994-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-06-01").cast("date"))
        ),
        o.filter(F.col("o_orderdate") >= F.lit("1996-06-01").cast("date")),
    ]
    keys, measures = ["o_orderpriority"], ["o_totalprice"]
    states = [inc.partial_state(s, keys, measures) for s in slices]
    return inc.finalize(inc.merge_states(states, keys, measures), keys, measures)


@register(
    "scd2_dimension_history",
    """
    WITH base AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer)
    SELECT c_custkey, c_mktsegment, c_acctbal,
           '2024-01-01 00:00:00' AS valid_from,
           CASE WHEN c_custkey % 6 = 0 THEN '2024-02-01 00:00:00'
                ELSE '9999-12-31 00:00:00' END AS valid_to,
           c_custkey % 6 <> 0 AS is_current
    FROM base
    UNION ALL
    SELECT c_custkey, 'CHANGED', c_acctbal + 100,
           '2024-02-01 00:00:00', '9999-12-31 00:00:00', TRUE
    FROM base WHERE c_custkey % 6 = 0
    UNION ALL
    SELECT c_custkey + 1000000, 'NEW', 0.0,
           '2024-02-01 00:00:00', '9999-12-31 00:00:00', TRUE
    FROM base WHERE c_custkey % 7 = 0
    """,
    ("J6", "X-scd2"),
)
def scd2_dimension_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance: init a customer dim at T0,
    then merge a change batch at T1 that (a) rewrites the segment and
    balance for every sixth customer, (b) re-states unchanged attrs
    for the other even customers (must pass through without a new
    version), and (c) introduces brand-new keys. The oracle restates
    the exact expected version set: changed keys carry a closed
    original row + an open changed row, unchanged keys one open row,
    new keys one open row — the 'what did we believe when we scored
    it' shape the Type-1 reference masters cannot answer
    (ImportDbdFinancial.php updateOrCreate overwrites history)."""
    from etl_script_spark.operators import scd

    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    dim = scd.scd2_init(c, "2024-01-01 00:00:00")
    k = F.col("c_custkey")
    batch = (
        c.filter(k % 2 == 0)
        .select(
            "c_custkey",
            F.when(k % 6 == 0, F.lit("CHANGED")).otherwise(
                F.col("c_mktsegment")
            ).alias("c_mktsegment"),
            F.when(k % 6 == 0, F.col("c_acctbal") + 100).otherwise(
                F.col("c_acctbal")
            ).alias("c_acctbal"),
        )
        .unionByName(
            c.filter(k % 7 == 0).select(
                (k + 1000000).alias("c_custkey"),
                F.lit("NEW").alias("c_mktsegment"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    out = scd.scd2_apply(
        dim, batch, ["c_custkey"], ["c_mktsegment", "c_acctbal"],
        "2024-02-01 00:00:00",
    )
    return out.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
        "is_current",
    )


@register(
    "fuzzy_name_match",
    """
    WITH dirty AS (
      SELECT s_suppkey AS d_id,
             lower(substr(s_name, 1, (s_suppkey % 9) + 9) || 'z'
                   || substr(s_name, (s_suppkey % 9) + 11)) AS d_name
      FROM supplier
    )
    SELECT d.d_id, d.d_name, s.s_suppkey AS c_id,
           lower(s.s_name) AS c_name,
           levenshtein(d.d_name, lower(s.s_name)) AS dist
    FROM dirty d JOIN supplier s
      ON levenshtein(d.d_name, lower(s.s_name)) <= 1
    """,
    ("X-fuzzy-join", "P2"),
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 entity match: supplier names with one injected
    character substitution joined back to the clean master via
    PassJoin segment blocking (pigeonhole-complete equi-join
    candidates + exact levenshtein verify) — including the ambiguous
    cases where a corrupted trailing digit legitimately matches ten
    suppliers. The oracle is the naive cross levenshtein join, so the
    hash check proves the blocked join loses nothing."""
    from etl_script_spark.operators import fuzzy

    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    pos = (F.col("s_suppkey") % 9) + 10  # 1-based, inside the digits
    dirty = s.select(
        F.col("s_suppkey").alias("d_id"),
        F.concat(
            F.substring(F.col("s_name"), 1, pos - 1),
            F.lit("z"),
            F.substring(F.col("s_name"), pos + 1, F.lit(1000000)),
        ).alias("d_name"),
    )
    return fuzzy.fuzzy_join(
        dirty, s, "d_name", "s_name", "d_id", "s_suppkey", k=1
    )


@register(
    "graph_pagerank",
    """
    WITH e AS (
      SELECT s_suppkey AS src, (s_suppkey * 7 + 1) % 100 AS dst FROM supplier
      WHERE s_suppkey < 100
      UNION ALL
      SELECT s_suppkey, (s_suppkey * 13 + 2) % 100 FROM supplier
      WHERE s_suppkey < 100
      UNION ALL
      SELECT s_suppkey, (s_suppkey * 3) % 100 FROM supplier
      WHERE s_suppkey < 100
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
    ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
    v AS (SELECT DISTINCT src AS vertex FROM e
          UNION SELECT DISTINCT dst FROM e),
    r0 AS (SELECT vertex, CAST(1000000000 AS BIGINT) AS rank_nano FROM v),
    r1 AS (
      SELECT v.vertex, 150000000 + COALESCE(m.s, 0) AS rank_nano
      FROM v LEFT JOIN (
        SELECT ed.dst AS vertex,
               SUM(CAST((CAST(r0.rank_nano AS HUGEINT) * 85) // (100 * ed.outdeg) AS BIGINT)) AS s
        FROM ed JOIN r0 ON ed.src = r0.vertex GROUP BY ed.dst
      ) m ON v.vertex = m.vertex
    ),
    r2 AS (
      SELECT v.vertex, 150000000 + COALESCE(m.s, 0) AS rank_nano
      FROM v LEFT JOIN (
        SELECT ed.dst AS vertex,
               SUM(CAST((CAST(r1.rank_nano AS HUGEINT) * 85) // (100 * ed.outdeg) AS BIGINT)) AS s
        FROM ed JOIN r1 ON ed.src = r1.vertex GROUP BY ed.dst
      ) m ON v.vertex = m.vertex
    ),
    r3 AS (
      SELECT v.vertex, 150000000 + COALESCE(m.s, 0) AS rank_nano
      FROM v LEFT JOIN (
        SELECT ed.dst AS vertex,
               SUM(CAST((CAST(r2.rank_nano AS HUGEINT) * 85) // (100 * ed.outdeg) AS BIGINT)) AS s
        FROM ed JOIN r2 ON ed.src = r2.vertex GROUP BY ed.dst
      ) m ON v.vertex = m.vertex
    )
    SELECT vertex, CAST(rank_nano AS BIGINT) AS rank_nano,
           rank_nano / 1000000000 AS rank
    FROM r3
    """,
    ("X-graph",),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-iteration PageRank over a deterministic 100-vertex
    3-out-regular graph derived from supplier keys. Ranks propagate
    in integer nano-units with floor-division contributions, so the
    unrolled recursive SQL oracle replays the arithmetic bit-for-bit
    — the iterative-graph counterpart of connected_components' star
    path, same lazy-localCheckpoint per-round discipline, no
    driver-side graph."""
    from etl_script_spark.operators import graph

    s = t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") < 100).select(
        "s_suppkey"
    )
    k = F.col("s_suppkey")
    edges = (
        s.select(k.alias("src"), ((k * 7 + 1) % 100).alias("dst"))
        .unionByName(s.select(k.alias("src"), ((k * 13 + 2) % 100).alias("dst")))
        .unionByName(s.select(k.alias("src"), ((k * 3) % 100).alias("dst")))
    )
    return graph.pagerank(edges, "src", "dst", iters=3)


# =====================================================================
# CDC apply / incremental join maintenance / triangle counting
# =====================================================================

from etl_script_spark.operators import cdc as cdc_ops  # noqa: E402
from etl_script_spark.operators import incremental as inc_ops  # noqa: E402

# Deterministic synthetic CDC feed over orders: every key gets an 'I'
# at seq 1 (the original price in exact cents); keys not divisible by
# 3 get a 'U' at seq 2 repricing to +10% (integer cents, floor); keys
# divisible by 5 get a 'D' at seq 3. Both engines synthesize the SAME
# feed, so the apply result is exactly checkable.
_CDC_FEED = """
      SELECT o_orderkey AS k, 1 AS seq, 'I' AS op,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
      UNION ALL
      SELECT o_orderkey, 2, 'U',
             (CAST(ROUND(o_totalprice * 100) AS BIGINT) * 11) // 10
      FROM orders WHERE o_orderkey % 3 <> 0
      UNION ALL
      SELECT o_orderkey, 3, 'D', CAST(NULL AS BIGINT)
      FROM orders WHERE o_orderkey % 5 = 0
"""


@register(
    "cdc_apply_changes",
    f"""
    WITH feed AS ({_CDC_FEED}),
    latest AS (
      SELECT k, seq, op, price_cents,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC, op ASC)
               AS rn
      FROM feed
    )
    SELECT k AS o_orderkey, price_cents, seq AS last_seq, op AS last_op
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
    ("J6", "CDC"),
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium-style ordered change feed collapsed to final state
    (operators/cdc.apply_changes): latest change per key wins, deletes
    drop the key — ONE window shuffle instead of the reference's
    per-record ORM save loop (smf-api UPDATE-then-INSERT per row).
    The feed is synthesized deterministically from orders on both
    engines; the apply arithmetic is integer cents throughout."""
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c0"),
    )
    feed = (
        o.select(
            "k", F.lit(1).alias("seq"), F.lit("I").alias("op"),
            F.col("c0").alias("price_cents"),
        )
        .unionByName(
            o.filter(F.col("k") % 3 != 0).select(
                "k", F.lit(2).alias("seq"), F.lit("U").alias("op"),
                F.expr("(c0 * 11) div 10").alias("price_cents"),
            )
        )
        .unionByName(
            o.filter(F.col("k") % 5 == 0).select(
                "k", F.lit(3).alias("seq"), F.lit("D").alias("op"),
                F.lit(None).cast("long").alias("price_cents"),
            )
        )
    )
    return cdc_ops.apply_changes(feed, ["k"], "seq", "op").select(
        F.col("k").alias("o_orderkey"),
        "price_cents",
        F.col("seq").alias("last_seq"),
        F.col("op").alias("last_op"),
    )


@register(
    "inc_join_maintenance",
    """
    SELECT c.c_nationkey, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS o_totalprice_sum,
           MIN(o.o_totalprice) AS o_totalprice_min,
           MAX(o.o_totalprice) AS o_totalprice_max,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(o.o_totalprice) AS o_totalprice_avg
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
    ("IVM", "A1"),
)
def inc_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN-then-AGGREGATE materialized
    view: the per-nation revenue rollup is maintained as
    partial_state(base ⋈ dim) MERGED with partial_state(Δ ⋈ dim) —
    the delta (orders on/after the 1997-07-01 watermark) never touches
    the base orders again, and the merge shuffles state (key
    cardinality), not data. The oracle recomputes from scratch, so a
    green row PROVES the incremental path is bitwise equal to full
    recomputation — the IVM contract itself, extended from
    inc_agg_maintenance (single table) to the join case (ΔA ⋈ B)."""
    split = "1997-07-01"
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    base = o.filter(F.col("o_orderdate") < split).join(
        F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")
    )
    delta = o.filter(F.col("o_orderdate") >= split).join(
        F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")
    )
    keys, measures = ["c_nationkey"], ["o_totalprice"]
    merged = inc_ops.merge_states(
        [
            inc_ops.partial_state(base, keys, measures),
            inc_ops.partial_state(delta, keys, measures),
        ],
        keys,
        measures,
    )
    return inc_ops.finalize(merged, keys, measures)


@register(
    "inc_agg_join_maintenance",
    """
    SELECT c.c_nationkey, o.o_orderstatus, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS o_totalprice_sum,
           MIN(o.o_totalprice) AS o_totalprice_min,
           MAX(o.o_totalprice) AS o_totalprice_max,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(o.o_totalprice) AS o_totalprice_avg
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey, o.o_orderstatus
    """,
    ("IVM", "A1"),
)
def inc_agg_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full materialized-view maintenance loop
    (operators/incremental.maintain_join_agg): the per-(nation,
    status) revenue view is built by folding FOUR uneven fact batches
    (orders split at 1995-01-01 / 1996-07-01 / 1997-07-01) through
    state' = merge(state, partial_state(Δ ⋈ dim)) — each batch one
    Δ-sized broadcast join plus a state-sized merge; the base is
    never re-read. The oracle recomputes from scratch, so the green
    row IS the IVM contract: any batching split finalizes bitwise
    equal to full recomputation (batching-independence is separately
    pinned across 1/2/4-way splits in tests/test_incremental.py)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cuts = ["1995-01-01", "1996-07-01", "1997-07-01"]
    d = F.col("o_orderdate")
    batches = [
        o.filter(d < cuts[0]),
        o.filter((d >= cuts[0]) & (d < cuts[1])),
        o.filter((d >= cuts[1]) & (d < cuts[2])),
        o.filter(d >= cuts[2]),
    ]
    keys, measures = ["c_nationkey", "o_orderstatus"], ["o_totalprice"]
    state = None
    for b in batches:
        state = inc_ops.maintain_join_agg(
            state, b, c, F.col("o_custkey") == F.col("c_custkey"),
            keys, measures,
        )
    return inc_ops.finalize(state, keys, measures)


@register(
    "inc_agg_join_retract",
    """
    SELECT c.c_nationkey, o.o_orderstatus, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS o_totalprice_sum,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(o.o_totalprice) AS o_totalprice_avg
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey % 7 <> 0
    GROUP BY c.c_nationkey, o.o_orderstatus
    """,
    ("IVM", "A1"),
)
def inc_agg_join_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRACTABLE view maintenance
    (operators/incremental.maintain_join_agg_retractable): all orders
    are folded in as +1 inserts (two batches), then every 7th order is
    RETRACTED by a -1 batch carrying its CDC delete image — the base
    is never re-read, deleted contributions are subtracted from the
    signed sum/count state, and groups that empty out vanish at
    finalize. The oracle recomputes over the surviving rows only, so
    the green row proves insert+delete maintenance lands bitwise on
    the from-scratch answer (min/max are excluded by construction —
    they are not retractable without a re-scan)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    keys, measures = ["c_nationkey", "o_orderstatus"], ["o_totalprice"]
    on = F.col("o_custkey") == F.col("c_custkey")
    ins1 = o.filter(F.col("o_orderdate") < "1996-01-01").withColumn(
        "sign", F.lit(1)
    )
    ins2 = o.filter(F.col("o_orderdate") >= "1996-01-01").withColumn(
        "sign", F.lit(1)
    )
    dels = o.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "sign", F.lit(-1)
    )
    state = None
    for batch in (ins1, ins2, dels):
        state = inc_ops.maintain_join_agg_retractable(
            state, batch, c, on, keys, measures, "sign"
        )
    return inc_ops.finalize_signed(state, keys, measures)


@register(
    "graph_triangle_count",
    """
    WITH e AS (
      SELECT s_suppkey AS src, (s_suppkey * 7 + 1) % 100 AS dst FROM supplier
      WHERE s_suppkey < 100
      UNION ALL
      SELECT s_suppkey, (s_suppkey * 13 + 2) % 100 FROM supplier
      WHERE s_suppkey < 100
      UNION ALL
      SELECT s_suppkey, (s_suppkey * 3) % 100 FROM supplier
      WHERE s_suppkey < 100
    ),
    und AS (
      SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM e
      WHERE src <> dst GROUP BY 1, 2
    ),
    verts AS (SELECT u AS x FROM und UNION SELECT v FROM und)
    SELECT (SELECT COUNT(*) FROM verts) AS n_vertices,
           (SELECT COUNT(*) FROM und) AS n_edges,
           (SELECT COUNT(*)
            FROM und e1 JOIN und e2 ON e1.v = e2.u
                        JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v)
             AS n_triangles
    """,
    ("graph",),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census over the same deterministic supplier
    graph PageRank uses (operators/graph.triangle_count). The Spark
    path runs the degree-ordered compact-forward orientation (hub-safe
    wedge fan-out, the 100 TB-correct plan); the oracle counts via the
    naive id-ordered three-way join — the counts agree by symmetry,
    so the green row certifies the oriented algorithm against the
    textbook definition."""
    from etl_script_spark.operators import graph

    s = t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") < 100).select(
        "s_suppkey"
    )
    k = F.col("s_suppkey")
    edges = (
        s.select(k.alias("src"), ((k * 7 + 1) % 100).alias("dst"))
        .unionByName(s.select(k.alias("src"), ((k * 13 + 2) % 100).alias("dst")))
        .unionByName(s.select(k.alias("src"), ((k * 3) % 100).alias("dst")))
    )
    return graph.triangle_count(edges, "src", "dst")


@register(
    "link_fellegi_sunter",
    """
    WITH dirty AS (
      SELECT c_custkey AS d_id,
             substr(lower(c_name), 1, 15 + (c_custkey % 3)) || 'z'
               || substr(lower(c_name), 17 + (c_custkey % 3)) AS d_name,
             CASE WHEN c_custkey % 7 = 0 THEN 'XX'
                  ELSE c_mktsegment END AS d_seg,
             c_acctbal + (c_custkey % 11) / 10.0e0 AS d_bal,
             c_nationkey AS d_nation,
             substr(lower(c_name), 14, 2) AS d_block
      FROM customer
    ),
    cand AS (
      SELECT d.d_id, c.c_custkey AS c_id,
             levenshtein(d.d_name, lower(c.c_name)) <= 1 AS agree_name,
             d.d_seg = c.c_mktsegment AS agree_segment,
             abs(d.d_bal - c.c_acctbal) < 1.0e0 AS agree_balance
      FROM dirty d JOIN customer c
        ON d.d_nation = c.c_nationkey
       AND d.d_block = substr(lower(c.c_name), 14, 2)
    )
    SELECT d_id, c_id, agree_name, agree_segment, agree_balance,
           (CASE WHEN agree_name THEN 24 ELSE -8 END
            + CASE WHEN agree_segment THEN 8 ELSE -4 END
            + CASE WHEN agree_balance THEN 4 ELSE -2 END) AS score
    FROM cand
    WHERE (CASE WHEN agree_name THEN 24 ELSE -8 END
           + CASE WHEN agree_segment THEN 8 ELSE -4 END
           + CASE WHEN agree_balance THEN 4 ELSE -2 END) >= 20
    """,
    ("X-fuzzy-join", "linkage"),
)
def link_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field probabilistic record linkage
    (operators/linkage.link): customers with one injected name
    substitution, a corrupted market segment every 7th key, and a
    drifted balance every key, re-linked to the clean master.
    Blocking = (nation, a stable name fragment) — selective AND
    perturbation-proof; scoring = Fellegi-Sunter integer log-odds
    (name +24/-8 via levenshtein<=1, segment +8/-4, balance-within-1
    +4/-2, threshold 20). The deliberate classification edges are in
    the output: keys where segment AND balance both disagree fall
    below threshold (FS 'possible' band), and same-block customers
    whose numbers differ only at the perturbed digit produce
    deterministic high-scoring cross matches — the ambiguity the
    framework exists to manage."""
    from etl_script_spark.operators import linkage

    c = t(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    cut = F.lit(15) + (key % 3)
    name = F.lower(F.col("c_name"))
    dirty = c.select(
        key.alias("d_id"),
        F.concat(
            F.expr("substr(lower(c_name), 1, 15 + (c_custkey % 3))"),
            F.lit("z"),
            F.expr("substr(lower(c_name), 17 + (c_custkey % 3))"),
        ).alias("d_name"),
        F.when(key % 7 == 0, F.lit("XX"))
        .otherwise(F.col("c_mktsegment"))
        .alias("d_seg"),
        (F.col("c_acctbal") + (key % 11) / F.lit(10.0)).alias("d_bal"),
        F.col("c_nationkey").alias("d_nation"),
        F.substring(name, 14, 2).alias("d_block"),
    )
    clean = c.select(
        F.col("c_custkey").alias("c_id"),
        F.lower(F.col("c_name")).alias("c_name_l"),
        "c_mktsegment",
        "c_acctbal",
        "c_nationkey",
        F.substring(F.lower(F.col("c_name")), 14, 2).alias("c_block"),
    )
    linked = linkage.link(
        dirty,
        clean,
        block_on=[
            (F.col("d_nation"), F.col("c_nationkey")),
            (F.col("d_block"), F.col("c_block")),
        ],
        comparators=[
            linkage.Comparator(
                "name",
                F.levenshtein(F.col("d_name"), F.col("c_name_l")) <= 1,
                24,
                -8,
            ),
            linkage.Comparator(
                "segment", F.col("d_seg") == F.col("c_mktsegment"), 8, -4
            ),
            linkage.Comparator(
                "balance",
                F.abs(F.col("d_bal") - F.col("c_acctbal")) < F.lit(1.0),
                4,
                -2,
            ),
        ],
        threshold=20,
    )
    return linked.select(
        "d_id", "c_id", "agree_name", "agree_segment", "agree_balance", "score"
    )


# ---------------------------------------------------------------------
# Fellegi-Sunter EM weight fit (operators/linkage.em_fit_weights)
# ---------------------------------------------------------------------

def _em_estep_sql(out: str, src: str, m: list[str], u: list[str], p: str) -> str:
    """One unrolled E-step CTE: per-pattern match/non-match likelihood
    products in FIXED field order, posterior quantized to ppb BIGINT
    (the integer that makes the M-step sums exact in both engines)."""
    prod_m = " * ".join(
        f"((CASE WHEN g{i+1} THEN {m[i]} ELSE 1000000000 - {m[i]} END)/1.0e9)"
        for i in range(len(m))
    )
    prod_u = " * ".join(
        f"((CASE WHEN g{i+1} THEN {u[i]} ELSE 1000000000 - {u[i]} END)/1.0e9)"
        for i in range(len(u))
    )
    gcols = ", ".join(f"g{i+1}" for i in range(len(m)))
    return f"""{out} AS (
      SELECT {gcols}, n,
             CAST(floor(1.0e9 * pm / (pm + pu) + 0.5) AS BIGINT) AS wq
      FROM (
        SELECT {gcols}, n,
               ({p}/1.0e9) * {prod_m} AS pm,
               ((1000000000 - {p})/1.0e9) * {prod_u} AS pu
        FROM {src})
    )"""


def _em_mstep_sql(out: str, src: str, nf: int) -> str:
    """One unrolled M-step CTE: m/u/p updates as double divisions of
    int64-exact sums, ppb-quantized and clamped to [1, 1e9-1]."""

    def q(num: str, den: str, scale: str) -> str:
        return (
            f"LEAST(GREATEST(CAST(floor(CAST(CAST({num} AS BIGINT) AS DOUBLE)"
            f" / CAST(CAST({den} AS BIGINT) AS DOUBLE){scale} + 0.5)"
            f" AS BIGINT), 1), 999999999)"
        )

    cols = []
    for i in range(1, nf + 1):
        cols.append(
            q(f"SUM(CASE WHEN g{i} THEN n*wq ELSE 0 END)", "SUM(n*wq)",
              " * 1.0e9") + f" AS m{i}"
        )
    for i in range(1, nf + 1):
        cols.append(
            q(f"SUM(CASE WHEN g{i} THEN n*(1000000000-wq) ELSE 0 END)",
              "SUM(n*(1000000000-wq))", " * 1.0e9") + f" AS u{i}"
        )
    cols.append(q("SUM(n*wq)", "SUM(n)", "") + " AS p")
    body = ",\n             ".join(cols)
    return f"""{out} AS (
      SELECT {body}
      FROM {src}
    )"""


_EM_FIELDS = ["name", "segment", "balance"]
_EM_INIT_M = ["900000000"] * 3
_EM_INIT_U = ["100000000"] * 3

_EM_SQL = f"""
    WITH dirty AS (
      SELECT c_custkey AS d_id,
             substr(lower(c_name), 1, 15 + (c_custkey % 3)) || 'z'
               || substr(lower(c_name), 17 + (c_custkey % 3)) AS d_name,
             CASE WHEN c_custkey % 7 = 0 THEN 'XX'
                  ELSE c_mktsegment END AS d_seg,
             c_acctbal + (c_custkey % 11) / 10.0e0 AS d_bal,
             c_nationkey AS d_nation,
             substr(lower(c_name), 14, 2) AS d_block
      FROM customer
    ),
    cand AS (
      SELECT COALESCE(levenshtein(d.d_name, lower(c.c_name)) <= 1, FALSE) AS g1,
             COALESCE(d.d_seg = c.c_mktsegment, FALSE) AS g2,
             COALESCE(abs(d.d_bal - c.c_acctbal) < 1.0e0, FALSE) AS g3
      FROM dirty d JOIN customer c
        ON d.d_nation = c.c_nationkey
       AND d.d_block = substr(lower(c.c_name), 14, 2)
    ),
    pat AS (SELECT g1, g2, g3, CAST(COUNT(*) AS BIGINT) AS n
            FROM cand GROUP BY 1, 2, 3),
    {_em_estep_sql("it1", "pat", _EM_INIT_M, _EM_INIT_U, "500000000")},
    {_em_mstep_sql("par1", "it1", 3)},
    {_em_estep_sql("it2", "pat CROSS JOIN par1",
                   ["par1.m1", "par1.m2", "par1.m3"],
                   ["par1.u1", "par1.u2", "par1.u3"], "par1.p")},
    {_em_mstep_sql("par2", "it2", 3)}
    SELECT field, m_ppb, u_ppb, prior_ppb,
           CAST(floor(1.0e6 * log2(CAST(m_ppb AS DOUBLE)
                / CAST(u_ppb AS DOUBLE)) + 0.5) AS BIGINT) AS w_agree,
           CAST(floor(1.0e6 * log2(CAST(1000000000 - m_ppb AS DOUBLE)
                / CAST(1000000000 - u_ppb AS DOUBLE)) + 0.5) AS BIGINT)
             AS w_disagree
    FROM (
      SELECT 'name' AS field, m1 AS m_ppb, u1 AS u_ppb, p AS prior_ppb FROM par2
      UNION ALL
      SELECT 'segment', m2, u2, p FROM par2
      UNION ALL
      SELECT 'balance', m3, u3, p FROM par2
    )
"""


@register("link_fs_em_weights", _EM_SQL, ("linkage",))
def link_fs_em_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter m/u weights fitted FROM THE DATA by two EM
    iterations (operators/linkage.em_fit_weights) over the same
    blocked dirty-vs-master candidates as link_fellegi_sunter — the
    latent match population (same custkey, perturbed fields) and the
    in-block cross pairs separate cleanly, so the fitted agreement
    weights land near the hand-set constants that entry uses. The
    corpus-sized work is ONE distributed aggregation (the ≤2^3
    agreement-pattern histogram); EM runs over the histogram with
    every probability ppb-integer-quantized between steps, so the
    oracle — the same two iterations unrolled into SQL CTEs — lands
    on identical integers."""
    from etl_script_spark.operators import linkage

    c = t(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    dirty = c.select(
        key.alias("d_id"),
        F.concat(
            F.expr("substr(lower(c_name), 1, 15 + (c_custkey % 3))"),
            F.lit("z"),
            F.expr("substr(lower(c_name), 17 + (c_custkey % 3))"),
        ).alias("d_name"),
        F.when(key % 7 == 0, F.lit("XX"))
        .otherwise(F.col("c_mktsegment"))
        .alias("d_seg"),
        (F.col("c_acctbal") + (key % 11) / F.lit(10.0)).alias("d_bal"),
        F.col("c_nationkey").alias("d_nation"),
        F.substring(F.lower(F.col("c_name")), 14, 2).alias("d_block"),
    )
    clean = c.select(
        F.col("c_custkey").alias("c_id"),
        F.lower(F.col("c_name")).alias("c_name_l"),
        "c_mktsegment",
        "c_acctbal",
        "c_nationkey",
        F.substring(F.lower(F.col("c_name")), 14, 2).alias("c_block"),
    )
    cand = dirty.join(
        clean,
        (F.col("d_nation") == F.col("c_nationkey"))
        & (F.col("d_block") == F.col("c_block")),
    )
    comps = [
        linkage.Comparator(
            "name", F.levenshtein(F.col("d_name"), F.col("c_name_l")) <= 1, 1, -1
        ),
        linkage.Comparator(
            "segment", F.col("d_seg") == F.col("c_mktsegment"), 1, -1
        ),
        linkage.Comparator(
            "balance",
            F.abs(F.col("d_bal") - F.col("c_acctbal")) < F.lit(1.0),
            1,
            -1,
        ),
    ]
    return linkage.em_fit_weights(cand, comps, iters=2)


_KCORE_EDGES = """
      SELECT s_suppkey AS src, (s_suppkey * 7 + 1) % 100 AS dst FROM supplier
      WHERE s_suppkey < 100
      UNION ALL
      SELECT s_suppkey, (s_suppkey * 13 + 2) % 100 FROM supplier
      WHERE s_suppkey < 100
      UNION ALL
      SELECT s_suppkey, (s_suppkey * 3) % 100 FROM supplier
      WHERE s_suppkey < 100
"""


@register(
    "graph_kcore",
    f"""
    WITH e AS ({_KCORE_EDGES}),
    e0 AS (SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM e
           WHERE src <> dst GROUP BY 1, 2),
    d0 AS (SELECT x, COUNT(*) AS deg FROM
           (SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0) GROUP BY x),
    k0 AS (SELECT x FROM d0 WHERE deg >= 3),
    e1 AS (SELECT u, v FROM e0 WHERE u IN (SELECT x FROM k0)
                                 AND v IN (SELECT x FROM k0)),
    d1 AS (SELECT x, COUNT(*) AS deg FROM
           (SELECT u AS x FROM e1 UNION ALL SELECT v FROM e1) GROUP BY x),
    k1 AS (SELECT x FROM d1 WHERE deg >= 3),
    e2 AS (SELECT u, v FROM e1 WHERE u IN (SELECT x FROM k1)
                                 AND v IN (SELECT x FROM k1)),
    d2 AS (SELECT x, COUNT(*) AS deg FROM
           (SELECT u AS x FROM e2 UNION ALL SELECT v FROM e2) GROUP BY x),
    k2 AS (SELECT x FROM d2 WHERE deg >= 3),
    e3 AS (SELECT u, v FROM e2 WHERE u IN (SELECT x FROM k2)
                                 AND v IN (SELECT x FROM k2))
    SELECT x AS vertex, COUNT(*) AS deg FROM
    (SELECT u AS x FROM e3 UNION ALL SELECT v FROM e3) GROUP BY x
    """,
    ("graph",),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded 3-core peeling over the deterministic supplier graph
    (operators/graph.kcore_peel, 3 rounds): each round drops every
    vertex below degree 3 together with its edges — the standard
    crawl-graph densification/community-seed step. The oracle unrolls
    the identical three peels as CTEs, so the hash check certifies
    every intermediate degree table. Fixed rounds are the declared
    contract; production loops to fixpoint with an edge-count probe
    (the CC convergence pattern)."""
    from etl_script_spark.operators import graph

    s = t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") < 100).select(
        "s_suppkey"
    )
    k = F.col("s_suppkey")
    edges = (
        s.select(k.alias("src"), ((k * 7 + 1) % 100).alias("dst"))
        .unionByName(s.select(k.alias("src"), ((k * 13 + 2) % 100).alias("dst")))
        .unionByName(s.select(k.alias("src"), ((k * 3) % 100).alias("dst")))
    )
    return graph.kcore_peel(edges, k=3, rounds=3)


@register(
    "mm_binary_simhash_neardup",
    """
    SELECT doc_id AS media_a, doc_id + 1000000 AS media_b, TRUE AS found
    FROM documents WHERE doc_id < 50
    """,
    ("LLM-multimodal", "LLM-dedup"),
)
def mm_binary_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup detection over OPAQUE BINARY payloads — no
    decoder required: hex-encode the bytes, SimHash over byte-level
    4-hex-char shingles (2-byte windows), pigeonhole-banded hamming
    join. This is the media-dedup primitive for environments where
    the decode library is absent or payloads are undecodable — a
    copy sharing almost all byte windows lands a few bits away while
    unrelated media are ~32 bits away. Driver invariant (the
    dedup_simhash shape, scale-independent): an exact binary copy of
    each of the first 50 payloads yields an IDENTICAL fingerprint, so
    identity closure must connect every planted pair end-to-end
    through hex, vote aggregation, collapse, and the banded join.
    Near-miss recovery (trailer-perturbed copies at small hamming) has
    no scale-independent truth — short payloads flip low-margin vote
    bits — and is covered by the recall-rate pytest
    (tests/test_corpusstats.py). Everything is JVM-side: hex(),
    xxhash64 votes, banded equi-join
    (operators/dedup.py:simhash_near_dups); binary payloads never
    shuffle — only 8-byte fingerprints do, which is the whole 100 TB
    story for media dedup."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    planted = d.filter(F.col("doc_id") < 50)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    ).unionByName(
        planted.select(
            (F.col("doc_id") + 1000000).alias("media_id"),
            F.encode(F.col("text"), "utf-8").alias("content"),
        )
    )
    hx = media.select(
        "media_id", F.hex(F.col("content")).alias("hx")
    )
    pairs = multimodal.binary_simhash_near_dups(hx, "media_id", "hx")
    # membership up to identity closure (the dedup_minhash_lsh
    # pattern): under identity collapse a member's pair is represented
    # by its hub's pair, so map both sides through the identity map —
    # same-hub pairs are connected by construction, distinct-hub pairs
    # must appear as the hub pair.
    idm = pairs._identity_map
    expected = (
        planted.select(
            F.col("doc_id").alias("media_a"),
            (F.col("doc_id") + 1000000).alias("media_b"),
        )
        .join(
            idm.select(F.col("id").alias("media_a"), F.col("hub").alias("hub_a")),
            "media_a",
        )
        .join(
            idm.select(F.col("id").alias("media_b"), F.col("hub").alias("hub_b")),
            "media_b",
        )
    )
    ckeys = pairs.select(
        F.col("id_a").alias("ka"), F.col("id_b").alias("kb")
    ).withColumn("__hit", F.lit(True))
    out = (
        expected.withColumn("ka", F.least("hub_a", "hub_b"))
        .withColumn("kb", F.greatest("hub_a", "hub_b"))
        .join(ckeys, ["ka", "kb"], "left")
        .select(
            "media_a",
            "media_b",
            (
                (F.col("hub_a") == F.col("hub_b"))
                | F.coalesce(F.col("__hit"), F.lit(False))
            ).alias("found"),
        )
        .localCheckpoint(eager=True)
    )
    pairs.unpersist()
    return out


@register(
    "scd2_point_in_time_join",
    """
    WITH base AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
    dim AS (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
             CASE WHEN c_custkey % 6 = 0 THEN TIMESTAMP '2024-02-01 00:00:00'
                  ELSE TIMESTAMP '9999-12-31 00:00:00' END AS valid_to
      FROM base
      UNION ALL
      SELECT c_custkey, 'CHANGED', c_acctbal + 100,
             TIMESTAMP '2024-02-01 00:00:00',
             TIMESTAMP '9999-12-31 00:00:00'
      FROM base WHERE c_custkey % 6 = 0
    ),
    facts AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 2 = 0
                  THEN TIMESTAMP '2024-01-15 00:00:00'
                  ELSE TIMESTAMP '2024-02-15 00:00:00' END AS fact_ts
      FROM orders
    )
    SELECT f.o_orderkey, f.o_custkey,
           CAST(f.fact_ts AS VARCHAR) AS fact_ts,
           d.c_mktsegment AS seg_at_ts,
           CAST(d.c_acctbal AS DOUBLE) AS bal_at_ts,
           CAST(d.valid_from AS VARCHAR) AS valid_from
    FROM facts f LEFT JOIN dim d
      ON d.c_custkey = f.o_custkey
     AND d.valid_from <= f.fact_ts AND d.valid_to > f.fact_ts
    """,
    ("X-scd2", "J1"),
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal fact enrichment (operators/scd.py:point_in_time_join):
    every order joins the customer-dimension VERSION live at the
    order's own timestamp — half the orders dated before the T1
    change batch see the original segment, half see CHANGED where it
    applies; the 'what did we believe when the fact happened' query
    the Type-1 reference importers cannot answer
    (ImportDbdFinancial.php overwrites in place). Equi-join on the
    natural key with the validity interval as residual predicate —
    the shuffle is keyed on the customer key alone, and the residual
    scan per key is bounded by that key's CHANGE COUNT, not the fact
    count, which is why this shape needs no range-join machinery at
    any scale."""
    from etl_script_spark.operators import scd

    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    dim = scd.scd2_init(c, "2024-01-01 00:00:00")
    k = F.col("c_custkey")
    batch = c.filter(k % 6 == 0).select(
        "c_custkey",
        F.lit("CHANGED").alias("c_mktsegment"),
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
    )
    dim = scd.scd2_apply(
        dim, batch, ["c_custkey"], ["c_mktsegment", "c_acctbal"],
        "2024-02-01 00:00:00",
    )
    o = t(spark, sf_dir, "orders")
    facts = o.select(
        "o_orderkey",
        "o_custkey",
        F.when(
            F.col("o_orderkey") % 2 == 0,
            F.lit("2024-01-15 00:00:00"),
        )
        .otherwise(F.lit("2024-02-15 00:00:00"))
        .cast("timestamp_ntz")
        .alias("fact_ts"),
    )
    out = scd.point_in_time_join(
        facts,
        dim.withColumnRenamed("c_custkey", "o_custkey"),
        ["o_custkey"],
        "fact_ts",
    )
    return out.select(
        "o_orderkey",
        "o_custkey",
        F.col("fact_ts").cast("string").alias("fact_ts"),
        F.col("c_mktsegment").alias("seg_at_ts"),
        F.col("c_acctbal").cast("double").alias("bal_at_ts"),
        F.col("valid_from").cast("string").alias("valid_from"),
    )


@register(
    "hier_flatten_paths",
    """
    WITH RECURSIVE n AS (
      SELECT doc_id + 1 AS node,
             CASE WHEN doc_id + 1 = 1 THEN 1
                  ELSE (doc_id + 1) // 2 END AS parent
      FROM documents
    ),
    r(node, cur, depth, psum) AS (
      SELECT node, node, 0, node FROM n
      UNION ALL
      SELECT r.node, p.parent, r.depth + 1, r.psum + p.parent
      FROM r JOIN n p ON p.node = r.cur
      WHERE r.cur <> 1
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(psum) AS BIGINT) AS path_checksum,
           CAST(SUM(node) AS BIGINT) AS node_checksum
    FROM r WHERE cur = 1
    GROUP BY depth
    """,
    ("X-graph", "X-iterative"),
)
def hier_flatten_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parent-pointer hierarchy flattened by POINTER JUMPING
    (graph.flatten_hierarchy): the documents table induces a binary
    tree (node = doc_id+1, parent = node DIV 2, root 1 — depth of
    node is floor(log2 node), independently checkable), and the
    operator resolves every node's (root, depth, path id-sum) in
    ceil(log2 64) = 6 self-join rounds — O(log depth) shuffles where
    the naive walk is O(depth) (the DuckDB oracle IS that naive walk,
    via WITH RECURSIVE). Output folds to per-depth counts +
    path-sum checksums, which pin every node's full ancestor chain
    without emitting per-node rows."""
    from etl_script_spark.operators import graph

    d = t(spark, sf_dir, "documents")
    nodes = d.select(
        (F.col("doc_id") + 1).alias("node"),
        F.when(F.col("doc_id") + 1 == 1, F.lit(1).cast("long"))
        .otherwise(F.expr("(doc_id + 1) DIV 2")).alias("parent"),
    )
    flat = graph.flatten_hierarchy(nodes, "node", "parent", max_depth=64)
    return flat.groupBy(F.col("depth").cast("long").alias("depth")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("path_sum").cast("long").alias("path_checksum"),
        F.sum("node").cast("long").alias("node_checksum"),
    )


@register(
    "basket_part_pairs_lift",
    """
    WITH it AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS N FROM it),
    ci AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS c FROM it GROUP BY i),
    p AS (
      SELECT a.i AS item_a, b2.i AS item_b,
             CAST(COUNT(*) AS BIGINT) AS pair_count
      FROM it a JOIN it b2 ON a.b = b2.b AND a.i < b2.i
      GROUP BY a.i, b2.i HAVING COUNT(*) >= 2
    )
    SELECT item_a, item_b, pair_count,
           CAST((pair_count * 1000000) // N AS BIGINT) AS support_ppm,
           CAST((pair_count * 1000000) // ca.c AS BIGINT)
             AS confidence_ppm,
           CAST((pair_count * N * 1000) // (ca.c * cb.c) AS BIGINT)
             AS lift_milli
    FROM p
    JOIN ci ca ON p.item_a = ca.i
    JOIN ci cb ON p.item_b = cb.i
    CROSS JOIN nb
    ORDER BY lift_milli DESC, item_a, item_b LIMIT 100
    """,
    ("X-association", "A1"),
)
def basket_part_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association over order line items
    (basket.pair_associations; Agrawal-Srikant support/confidence/
    lift): which parts co-occur in orders more than chance. Pair
    candidates come from the basket-key self-join (bounded by
    items-per-order squared, never catalog size), measures are exact
    integer ratios, and the top-100 runs as TakeOrdered, not a
    global sort."""
    from etl_script_spark.operators import basket

    li = t(spark, sf_dir, "lineitem")
    return basket.pair_associations(
        li, "l_orderkey", "l_partkey", min_pair_count=2, k=100
    )


@register(
    "mm_video_scene_segments",
    """
    WITH fr AS (
      SELECT doc_id % 40 AS video_id, doc_id // 40 AS frame_idx,
             [ (('0x' || substr(md5('v_' || CAST(doc_id % 40 AS VARCHAR)
                   || '_' || CAST((doc_id // 40) // 4 AS VARCHAR)
                   || '_' || CAST(j AS VARCHAR)), 1, 4))::BIGINT % 200)
                 * 10
               + (('0x' || substr(md5('f_' || CAST(doc_id % 40 AS VARCHAR)
                   || '_' || CAST(doc_id // 40 AS VARCHAR)
                   || '_' || CAST(j AS VARCHAR)), 1, 4))::BIGINT % 5)
               for j in range(0, 8) ] AS feat
      FROM documents
    ),
    d AS (
      SELECT video_id, frame_idx, feat,
             lag(feat) OVER (PARTITION BY video_id ORDER BY frame_idx)
               AS pf
      FROM fr
    ),
    c AS (
      SELECT video_id, frame_idx,
             CASE WHEN pf IS NULL THEN 1
                  WHEN list_sum([abs(feat[j] - pf[j])
                                 for j in range(1, 9)]) > 100 THEN 1
                  ELSE 0 END AS cut
      FROM d
    ),
    s AS (
      SELECT video_id, frame_idx,
             SUM(cut) OVER (PARTITION BY video_id ORDER BY frame_idx
                            ROWS UNBOUNDED PRECEDING) AS scene_id
      FROM c
    )
    SELECT video_id, CAST(scene_id AS BIGINT) AS scene_id,
           CAST(MIN(frame_idx) AS BIGINT) AS start_frame,
           CAST(MAX(frame_idx) AS BIGINT) AS end_frame,
           CAST(COUNT(*) AS BIGINT) AS n_frames
    FROM s GROUP BY video_id, scene_id
    """,
    ("LLM-multimodal",),
)
def mm_video_scene_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video shot-boundary segmentation (multimodal.scene_segments):
    per-frame INTEGER feature vectors (the decode sidecar's quantized
    output — here derived deterministically from ids so both engines
    replay the same 'decoded' frames, piecewise-constant per scene
    block with sub-threshold jitter), L1 cut detection, running-sum
    scene ids, one row per scene. One shuffle (the per-video window),
    one aggregation."""
    d = t(spark, sf_dir, "documents")
    v = (F.col("doc_id") % 40).alias("video_id")
    fidx = F.expr("doc_id DIV 40").alias("frame_idx")
    vstr = (F.col("doc_id") % 40).cast("string")
    fstr = F.expr("doc_id DIV 40").cast("string")
    bstr = F.expr("(doc_id DIV 40) DIV 4").cast("string")
    feat = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda j: (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("_", F.lit("v"), vstr, bstr,
                                      j.cast("string"))),
                    1, 4,
                ), 16, 10,
            ).cast("long") % 200
        ) * 10
        + F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.lit("f"), vstr, fstr,
                                  j.cast("string"))),
                1, 4,
            ), 16, 10,
        ).cast("long") % 5,
    ).alias("feat")
    frames = d.select(v, fidx, feat)
    return multimodal.scene_segments(frames, threshold=100)


@register(
    "part_abc_by_brand",
    """
    WITH r AS (
      SELECT p.p_brand AS grp, l.l_partkey AS item,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS v
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    c AS (
      SELECT grp, item, v,
             SUM(v) OVER (PARTITION BY grp ORDER BY v DESC, item ASC
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(v) OVER (PARTITION BY grp) AS tot
      FROM r
    )
    SELECT grp AS "group", item, v AS value,
           CAST((cum * 1000000) // greatest(tot, 1) AS BIGINT) AS cum_ppm,
           CASE WHEN (cum * 1000000) // greatest(tot, 1) <= 800000
                  THEN 'A'
                WHEN (cum * 1000000) // greatest(tot, 1) <= 950000
                  THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
    """,
    ("X-pareto", "A1"),
)
def part_abc_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification of parts within each
    brand by lineitem revenue (features.abc_classification): class A
    carries the first 80% of cumulative brand revenue, B through 95%,
    C the tail — boundaries decided on exact integer ppm shares.
    Revenue pre-aggregates per (brand, part) before the single
    cumulative-window shuffle."""
    from etl_script_spark.operators import features
    from etl_script_spark.plans.catalog import cents

    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("grp"),
            F.col("l_partkey").alias("item"),
        )
        .agg(F.sum(cents(F.col("l_extendedprice"))).cast("long").alias("v"))
    )
    return features.abc_classification(rev, "grp", "item", "v")


@register(
    "dwh_early_fact_retry",
    """
    WITH dim_full AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 5 <> 4
    ),
    dim_epoch1 AS (
      SELECT c_custkey FROM dim_full WHERE c_custkey % 3 <> 0
    ),
    e1 AS (
      SELECT o.o_orderkey, o.o_custkey,
             d.c_custkey IS NOT NULL AS hit
      FROM orders o LEFT JOIN dim_epoch1 d ON o.o_custkey = d.c_custkey
    ),
    retry AS (
      SELECT e.o_orderkey, e.o_custkey,
             d.c_custkey IS NOT NULL AS hit
      FROM e1 e LEFT JOIN dim_full d ON e.o_custkey = d.c_custkey
      WHERE NOT e.hit
    )
    SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
    FROM (
      SELECT 'enriched_epoch1' AS stage, o_orderkey FROM e1 WHERE hit
      UNION ALL
      SELECT 'enriched_epoch2_retry', o_orderkey FROM retry WHERE hit
      UNION ALL
      SELECT 'dead_letter', o_orderkey FROM retry WHERE NOT hit
    ) GROUP BY stage
    """,
    ("X-dwh", "J1"),
)
def dwh_early_fact_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Early-arriving-fact handling, the DWH pattern the reference's
    importers face when a fact lands before its dimension row: epoch-1
    facts enrich against the partial dimension; misses PARK (never
    drop); when the fuller dimension arrives, parked facts RETRY; keys
    the dimension will never carry land in the dead-letter stage for
    audit. Two broadcast-dim left joins + one summary aggregation
    with order-free key checksums pinning exact stage membership."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    dim_full = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 5 != 4)
        .select("c_custkey")
    )
    dim_e1 = dim_full.filter(F.col("c_custkey") % 3 != 0)
    e1 = o.join(
        F.broadcast(dim_e1), o.o_custkey == dim_e1.c_custkey, "left"
    ).select("o_orderkey", "o_custkey", F.col("c_custkey").isNotNull().alias("hit"))
    parked = e1.filter(~F.col("hit")).drop("hit")
    retry = parked.join(
        F.broadcast(dim_full), parked.o_custkey == dim_full.c_custkey, "left"
    ).select("o_orderkey", F.col("c_custkey").isNotNull().alias("hit"))
    staged = (
        e1.filter(F.col("hit"))
        .select(F.lit("enriched_epoch1").alias("stage"), "o_orderkey")
        .unionByName(
            retry.filter(F.col("hit")).select(
                F.lit("enriched_epoch2_retry").alias("stage"), "o_orderkey"
            )
        )
        .unionByName(
            retry.filter(~F.col("hit")).select(
                F.lit("dead_letter").alias("stage"), "o_orderkey"
            )
        )
    )
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    )


@register(
    "li_ship_latency_hist",
    """
    SELECT o.o_orderpriority,
           CAST(date_diff('day', o.o_orderdate, l.l_shipdate) // 7
                AS BIGINT) AS week_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(date_diff('day', o.o_orderdate, l.l_shipdate))
                AS BIGINT) AS min_days,
           CAST(MAX(date_diff('day', o.o_orderdate, l.l_shipdate))
                AS BIGINT) AS max_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
    ("X-latency", "A1", "J8"),
)
def li_ship_latency_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per priority: the SLA
    histogram (weekly buckets, exact integer datediff DIV) from the
    lineitem-orders fact-fact join — one shuffle join on the order
    key, one aggregation over bucket-cardinality keys."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("__d"),
    )
    return j.groupBy(
        "o_orderpriority",
        F.expr("CAST(__d DIV 7 AS BIGINT)").alias("week_bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("__d").cast("long").alias("min_days"),
        F.max("__d").cast("long").alias("max_days"),
    )


@register(
    "ts_linear_interpolate",
    """
    WITH agg AS (
      SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
               AS v
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
      FROM agg GROUP BY 1
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
      FROM bounds
    ),
    g AS (
      SELECT grid.user_id, grid.bucket, a.v,
             CAST(epoch(grid.bucket) AS BIGINT) // 3600 AS t
      FROM grid LEFT JOIN agg a USING (user_id, bucket)
    ),
    w AS (
      SELECT user_id, bucket, v, t,
             last_value(v IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY t
                ROWS UNBOUNDED PRECEDING) AS vp,
             last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY t
                     ROWS UNBOUNDED PRECEDING) AS tp,
             first_value(v IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY t
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
             first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY t
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS tn
      FROM g
    )
    SELECT user_id, bucket,
           CAST(CASE WHEN v IS NOT NULL THEN v
                WHEN vp IS NOT NULL AND vn IS NOT NULL THEN
                  vp + CASE WHEN (CAST(vn AS HUGEINT) - vp) * (t - tp) < 0
                            THEN -(abs((CAST(vn AS HUGEINT) - vp)
                                       * (t - tp)) // (tn - tp))
                            ELSE (abs((CAST(vn AS HUGEINT) - vp)
                                      * (t - tp)) // (tn - tp))
                       END
                ELSE COALESCE(vp, vn) END AS BIGINT) AS v,
           (v IS NULL) AS interpolated
    FROM w
    """,
    ("X-timeseries",),
)
def ts_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the densified hourly per-user value
    series (timeseries.interpolate_linear): silent hours inside each
    user's active span get the straight line between the flanking
    observations, evaluated in exact integer micro-units with
    magnitude-DIV-then-sign (a falling series makes the slope
    numerator negative, where truncate-vs-floor diverges across
    engines); hours outside the observed range clamp to the nearest
    observation. The step past ts_gap_fill_hourly's zero-fill —
    what a sensor/metrics backfill actually wants."""
    from etl_script_spark.operators import timeseries as ts_ops

    e = t(spark, sf_dir, "events")
    agg = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.sum(
            (F.col("value").cast("decimal(18,6)") * 1000000).cast("long")
        ).alias("v")
    )
    return ts_ops.interpolate_linear(
        agg, ["user_id"], "bucket", "v", "1 HOUR", 3600
    )


def _bfs_oracle(max_hops: int) -> str:
    head = """
    WITH e AS (
      SELECT s_suppkey AS src, (s_suppkey * 11 + 3) % 100 AS dst
      FROM supplier WHERE s_suppkey < 100
      UNION ALL
      SELECT s_suppkey, (s_suppkey * 17 + 5) % 100
      FROM supplier WHERE s_suppkey < 100
    ),
    v AS (SELECT DISTINCT src AS vertex FROM e
          UNION SELECT DISTINCT dst FROM e),
    d0 AS (SELECT vertex,
                  CASE WHEN vertex % 25 = 0 THEN 0 END AS hops
           FROM v)"""
    iters = []
    for i in range(1, max_hops + 1):
        p = f"d{i - 1}"
        iters.append(f"""
    d{i} AS (
      SELECT v.vertex,
             CASE WHEN p.hops IS NULL THEN m.c
                  WHEN m.c IS NULL THEN p.hops
                  WHEN p.hops < m.c THEN p.hops ELSE m.c END AS hops
      FROM v
      JOIN {p} p ON v.vertex = p.vertex
      LEFT JOIN (SELECT e.dst AS vertex, MIN(p2.hops) + 1 AS c
                 FROM e JOIN {p} p2 ON e.src = p2.vertex
                 WHERE p2.hops IS NOT NULL
                 GROUP BY e.dst) m ON v.vertex = m.vertex
    )""")
    return (
        head + "," + ",".join(iters)
        + f"\n    SELECT vertex, CAST(hops AS INTEGER) AS hops"
          f" FROM d{max_hops}"
    )


@register("graph_bfs_hops", _bfs_oracle(4), ("X-graph",))
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance (graph.bfs_hops) over a
    deterministic 2-out-regular supplier graph, sources = every
    vertex ≡ 0 (mod 25), capped at 4 hops — the blast-radius
    primitive. One frontier join + min-aggregation per round with
    per-round lineage truncation; min is order-free so the unrolled
    4-CTE oracle replays it exactly, including NULLs for vertices
    the frontier never reaches."""
    from etl_script_spark.operators import graph

    s = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") < 100)
        .select("s_suppkey")
    )
    k = F.col("s_suppkey")
    edges = s.select(
        k.alias("src"), ((k * 11 + 3) % 100).alias("dst")
    ).unionByName(
        s.select(k.alias("src"), ((k * 17 + 5) % 100).alias("dst"))
    )
    verts = (
        edges.select(F.col("src").alias("vertex"))
        .unionByName(edges.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    sources = verts.filter(F.col("vertex") % 25 == 0)
    return graph.bfs_hops(edges, sources, max_hops=4).select(
        "vertex", F.col("hops").cast("int").alias("hops")
    )


def _lpa_oracle(iters: int) -> str:
    head = """
    WITH fwd AS (
      SELECT s_suppkey AS a, (s_suppkey * 7 + 1) % 100 AS b
      FROM supplier WHERE s_suppkey < 100
      UNION ALL
      SELECT s_suppkey, (s_suppkey * 13 + 2) % 100
      FROM supplier WHERE s_suppkey < 100
    ),
    und AS (
      SELECT DISTINCT a, b FROM (
        SELECT a, b FROM fwd UNION ALL SELECT b, a FROM fwd
      ) WHERE a <> b
    ),
    v AS (SELECT DISTINCT a AS vertex FROM und),
    l0 AS (SELECT vertex, vertex AS label FROM v)"""
    rounds = []
    for i in range(1, iters + 1):
        p = f"l{i - 1}"
        rounds.append(f"""
    l{i} AS (
      SELECT v.vertex, COALESCE(w.label, v.vertex) AS label
      FROM v LEFT JOIN (
        SELECT a, label FROM (
          SELECT u.a, p.label,
                 ROW_NUMBER() OVER (PARTITION BY u.a
                                    ORDER BY COUNT(*) DESC, p.label ASC)
                   AS rn
          FROM und u JOIN {p} p ON u.b = p.vertex
          GROUP BY u.a, p.label
        ) q WHERE rn = 1
      ) w ON v.vertex = w.a
    )""")
    return (
        head + "," + ",".join(rounds)
        + f"\n    SELECT vertex, label FROM l{iters}"
    )


@register("graph_label_propagation", _lpa_oracle(3), ("X-graph",))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation
    (graph.label_propagation) over the undirected supplier graph, 3
    rounds: each vertex adopts its neighbors' modal label, ties to
    the smallest (vanilla LPA's random tie-break is useless under an
    oracle contract). Distinct from connected components: the
    mode-vote keeps dense communities apart across bridge edges.
    Per round one join + one count + one struct-max argmax, all
    map-side combinable; the oracle unrolls the rounds as
    ROW_NUMBER-over-count CTEs."""
    from etl_script_spark.operators import graph

    s = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") < 100)
        .select("s_suppkey")
    )
    k = F.col("s_suppkey")
    edges = s.select(
        k.alias("src"), ((k * 7 + 1) % 100).alias("dst")
    ).unionByName(
        s.select(k.alias("src"), ((k * 13 + 2) % 100).alias("dst"))
    )
    return graph.label_propagation(edges, iters=3)


@register(
    "graph_common_neighbors",
    """
    WITH e AS (
      SELECT s_suppkey AS src, (s_suppkey * 7 + 1) % 200 AS dst
      FROM supplier WHERE s_suppkey < 200
      UNION ALL
      SELECT s_suppkey, (s_suppkey * 13 + 2) % 200
      FROM supplier WHERE s_suppkey < 200
      UNION ALL
      SELECT s_suppkey, (s_suppkey * 3) % 200
      FROM supplier WHERE s_suppkey < 200
    ),
    und AS (
      SELECT DISTINCT a, b FROM (
        SELECT src AS a, dst AS b FROM e
        UNION ALL SELECT dst, src FROM e
      ) WHERE a <> b
    ),
    deg AS (SELECT a AS v, CAST(COUNT(*) AS BIGINT) AS d
            FROM und GROUP BY 1),
    centers AS (
      SELECT u.a AS n, u.b AS x, deg.d AS dn
      FROM und u JOIN deg ON u.a = deg.v WHERE d <= 1000
    ),
    w AS (
      SELECT l.x AS x, r.x AS y, CAST(COUNT(*) AS BIGINT) AS common,
             CAST(SUM(1000000 // l.dn) AS BIGINT) AS ra_ppm
      FROM centers l JOIN centers r ON l.n = r.n AND l.x < r.x
      GROUP BY 1, 2
    ),
    nonadj AS (
      SELECT w.* FROM w
      LEFT JOIN und ON w.x = und.a AND w.y = und.b
      WHERE und.a IS NULL
    )
    SELECT x, y, common,
           CAST((CAST(common AS HUGEINT) * 1000000)
                // (dx.d + dy.d - common) AS BIGINT) AS jaccard_ppm,
           ra_ppm
    FROM nonadj
    JOIN deg dx ON nonadj.x = dx.v
    JOIN deg dy ON nonadj.y = dy.v
    ORDER BY jaccard_ppm DESC, x, y
    LIMIT 100
    """,
    ("X-graph",),
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the 200-vertex 3-out supplier graph
    (graph.common_neighbor_scores): non-adjacent pairs ranked by
    neighbor-set Jaccard in exact ppm (plus the log-free
    resource-allocation index), wedges enumerated through
    deg-capped centers so join volume is bounded by cap·|E| (hub
    evidence is weak anyway), existing edges anti-joined out, top-100
    by the deterministic (jaccard desc, x, y) order."""
    from etl_script_spark.operators import graph

    s = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") < 200)
        .select("s_suppkey")
    )
    k = F.col("s_suppkey")
    edges = (
        s.select(k.alias("src"), ((k * 7 + 1) % 200).alias("dst"))
        .unionByName(s.select(k.alias("src"), ((k * 13 + 2) % 200).alias("dst")))
        .unionByName(s.select(k.alias("src"), ((k * 3) % 200).alias("dst")))
    )
    return graph.common_neighbor_scores(edges, deg_cap=1000, k=100)


@register(
    "link_sorted_neighborhood",
    """
    WITH base AS (
      SELECT c_custkey AS id, c_mktsegment || '|' || c_name AS k
      FROM customer
      WHERE c_mktsegment || '|' || c_name IS NOT NULL
    ),
    pos AS (
      SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY k, id) AS BIGINT) AS pos
      FROM base
    )
    SELECT a.id AS id_a, b.id AS id_b, a.pos AS pos_a, b.pos AS pos_b
    FROM pos a JOIN pos b ON b.pos - a.pos BETWEEN 1 AND 2
    """,
    ("X-linkage",),
)
def link_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez-Stolfo): candidate
    pairs are records within window 3 of each other in the
    (segment|name) sort order — the typo-tolerant complement to the
    Fellegi-Sunter equi-join blocks. The global position never sees a
    single-partition window: prefix buckets give broadcastable
    offsets, within-bucket ranks partition by prefix, and pairing is
    one equi-join on the position (linkage.sorted_neighborhood_pairs).
    """
    from etl_script_spark.operators import linkage

    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(
            F.col("c_mktsegment"), F.lit("|"), F.col("c_name")
        ).alias("blockkey"),
    )
    return linkage.sorted_neighborhood_pairs(
        c, "c_custkey", "blockkey", window=3, prefix_len=2
    ).select(
        F.col("id_a"), F.col("id_b"),
        F.col("pos_a").cast("long").alias("pos_a"),
        F.col("pos_b").cast("long").alias("pos_b"),
    )


@register(
    "j_asof_tolerance",
    """
    WITH clicks AS (
      SELECT user_id, ts, MIN(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    m AS (
      SELECT l.event_id, l.user_id, r.click_id,
             datediff('microsecond', r.ts, l.ts) AS g
      FROM (SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase') l
      ASOF LEFT JOIN clicks r
        ON l.user_id = r.user_id AND l.ts >= r.ts
    )
    SELECT event_id, user_id,
           CASE WHEN g IS NOT NULL AND g <= 1800000000
                THEN click_id END AS click_id,
           CASE WHEN g IS NOT NULL AND g <= 1800000000
                THEN CAST(g AS BIGINT) END AS gap_us
    FROM m
    """,
    ("X-asof-join",),
)
def j_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE (asof.asof_join_tolerance): every
    purchase matched to the user's most recent click, but the match is
    voided when it is more than 30 minutes stale — merge_asof's
    tolerance semantics, same tag+union+one-window scale shape as the
    plain as-of. The gap rides along in exact microseconds (the
    granularity both engines diff identically)."""
    from etl_script_spark.operators import asof as asof_ops

    e = t(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("click_id"))
    )
    return (
        asof_ops.asof_join_tolerance(
            left,
            clicks,
            on="user_id",
            left_ts="ts",
            right_ts="ts",
            payload={"click_id": "click_id"},
            tolerance_sec=1800,
            direction="backward",
        )
        .withColumnRenamed("__gap_us", "gap_us")
        .drop("ts")
    )


@register(
    "graph_adamic_adar",
    """
    WITH e AS (
      SELECT s_suppkey AS src, (s_suppkey * 7 + 1) % 200 AS dst
      FROM supplier WHERE s_suppkey < 200
      UNION ALL
      SELECT s_suppkey, (s_suppkey * 13 + 2) % 200
      FROM supplier WHERE s_suppkey < 200
      UNION ALL
      SELECT s_suppkey, (s_suppkey * 3) % 200
      FROM supplier WHERE s_suppkey < 200
    ),
    und AS (
      SELECT DISTINCT a, b FROM (
        SELECT src AS a, dst AS b FROM e
        UNION ALL SELECT dst, src FROM e
      ) WHERE a <> b
    ),
    deg AS (SELECT a AS v, CAST(COUNT(*) AS BIGINT) AS d
            FROM und GROUP BY 1),
    centers AS (
      SELECT u.a AS n, u.b AS x, deg.d AS dn
      FROM und u JOIN deg ON u.a = deg.v WHERE d <= 1000
    ),
    w AS (
      SELECT l.x AS x, r.x AS y, CAST(COUNT(*) AS BIGINT) AS common,
             CAST(SUM(1000000000000
                      // CAST(ROUND(ln(CAST(l.dn AS DOUBLE)) * 1000000)
                              AS BIGINT)) AS BIGINT) AS aa_micro
      FROM centers l JOIN centers r ON l.n = r.n AND l.x < r.x
      GROUP BY 1, 2
    )
    SELECT w.x, w.y, common, aa_micro FROM w
    LEFT JOIN und ON w.x = und.a AND w.y = und.b
    WHERE und.a IS NULL
    ORDER BY aa_micro DESC, x, y
    LIMIT 100
    """,
    ("X-graph",),
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the 200-vertex 3-out supplier
    graph (graph.adamic_adar_scores): Σ 1/ln(deg) over common
    neighbors — the log-damped missing-edge score next to
    graph_common_neighbors' Jaccard/RA. ln micro-quantized (the one
    float boundary), wedges deg-capped, top-100 deterministic."""
    from etl_script_spark.operators import graph

    s = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") < 200)
        .select("s_suppkey")
    )
    k = F.col("s_suppkey")
    edges = (
        s.select(k.alias("src"), ((k * 7 + 1) % 200).alias("dst"))
        .unionByName(s.select(k.alias("src"), ((k * 13 + 2) % 200).alias("dst")))
        .unionByName(s.select(k.alias("src"), ((k * 3) % 200).alias("dst")))
    )
    return graph.adamic_adar_scores(edges, deg_cap=1000, k=100)


@register(
    "dq_referential_integrity",
    """
    WITH rel AS (
      SELECT 'lineitem.l_orderkey->orders' AS relation,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_nulls,
             CAST(SUM(CASE WHEN l.l_orderkey IS NOT NULL
                            AND o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_orphans
      FROM lineitem l
      LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'lineitem.l_partkey->part',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN l.l_partkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT),
             CAST(SUM(CASE WHEN l.l_partkey IS NOT NULL
                            AND p.p_partkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM lineitem l
      LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
        ON l.l_partkey = p.p_partkey
      UNION ALL
      SELECT 'orders.o_custkey->customer',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT),
             CAST(SUM(CASE WHEN o.o_custkey IS NOT NULL
                            AND c.c_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM orders o
      LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON o.o_custkey = c.c_custkey
    )
    SELECT relation, n_rows, n_nulls, n_orphans,
           CAST((n_orphans * 1000000)
                // NULLIF(n_rows - n_nulls, 0) AS BIGINT) AS orphan_ppm
    FROM rel ORDER BY relation
    """,
    ("X-data-quality",),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema orphan audit (expectations.
    referential_integrity_report): for each foreign key, how many
    fact rows reference a missing dimension row — counted from one
    broadcast left join of the dim's distinct keys per relation,
    orphan rate in exact ppm over the non-null rows. The
    before-publish contract check: an orphan fact silently drops from
    every downstream inner join."""
    from etl_script_spark.operators.expectations import (
        referential_integrity_report,
    )

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    p = t(spark, sf_dir, "part")
    c = t(spark, sf_dir, "customer")
    return referential_integrity_report([
        ("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        ("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"),
        ("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
    ])
