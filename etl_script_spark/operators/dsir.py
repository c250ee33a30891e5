"""DSIR-style data selection via importance resampling.

Selects raw-corpus documents that look like a TARGET domain by the
log-likelihood ratio of hashed n-gram features under the target vs
raw distributions (Xie et al., "Data Selection for Language Models
via Importance Resampling", NeurIPS 2023 — public method). The
reference pipeline filters rows by static predicates
(`credit-prepare-api/inv_old_processor.py` quality gates); this is
the corpus-level analogue a pretraining mix needs: "give me the 10 %
of Common Crawl that looks most like Wikipedia".

Shape (and why it scales to 100 TB):

- **Hashed features, not a vocabulary.** Every unigram and bigram is
  hashed into a FIXED number of buckets (`n_buckets`, default 4096)
  via md5 — the distribution tables are bounded by construction, so
  the bucket->log-ratio table is always broadcastable no matter how
  large the corpus is (contrast the unbounded vocab join in
  ``textstats.unigram_nll_scores``, which must stay AQE-decided).
  The hint here is therefore a SAFE hard broadcast.
- **Two aggregations + one bounded join.** Pass 1: explode grams,
  count per bucket with the target flag counted alongside (ONE
  map-side-combined aggregation computes both the raw and target
  histograms). Pass 2: re-explode, join each gram against the
  broadcast bucket table, sum per document. No corpus-sized shuffle
  other than the per-document integer sum.
- **Deterministic across engines and cluster sizes.** Bucket ids come
  from md5 (same bytes in Spark and DuckDB); per-bucket log-ratios
  are quantized to 1e-6 (``round(lr * 1e6) -> int64``) BEFORE the
  per-document sum, so document weights are exact integers — no
  float-summation-order drift (same discipline as
  ``unigram_nll_scores``; the sf0.1 oracle sweep exists because raw
  double sums DO drift).
- **Top-n selection is sort+limit** — Spark executes it as
  TakeOrdered (per-partition top-n heaps + driver merge of n*P
  rows), never a full global sort.

Smoothing: add-alpha on both distributions over the SAME bucket
space: p_t(b) = (tc_b + a) / (T_t + a*B), p_r(b) likewise. Buckets
never seen in the target get a uniform floor, so a raw-only gram
penalizes rather than NaNs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_script_spark.operators.textstats import words

__all__ = ["gram_buckets", "dsir_weights", "dsir_select"]


def gram_buckets(text: Column, n_buckets: int = 4096, seed: str = "dsir") -> Column:
    """array<bigint> of hashed unigram+bigram buckets for one document
    (duplicates kept — counts matter). Bucket = first 8 hex chars of
    md5(seed ‖ gram) as an integer, mod n_buckets; the DuckDB twin is
    ``('0x' || substr(md5(seed || gram), 1, 8))::BIGINT % B``. Pure
    per-row projection — runs inside the scan stage."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    ws = F.filter(words(text), lambda w: w != "")
    bigrams = F.when(F.size(ws) >= 2, F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )).otherwise(F.array().cast("array<string>"))
    grams = F.concat(ws, bigrams)
    return F.transform(
        grams,
        lambda g: F.conv(
            F.substring(F.md5(F.concat(F.lit(seed), g)), 1, 8), 16, 10
        ).cast("long")
        % n_buckets,
    )


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    n_buckets: int = 4096,
    alpha: float = 0.5,
    seed: str = "dsir",
) -> DataFrame:
    """Per-document DSIR importance weight: the quantized-integer sum
    of per-gram log-likelihood ratios ln(p_target/p_raw) over hashed
    gram buckets. ``target`` is a boolean Column over ``df`` rows
    marking the target-domain subset (target ⊂ raw, the standard DSIR
    setup). Returns (id_col, n_grams, weight_q) — weight_q is the
    1e-6-quantized integer sum; divide by 1e6 * n_grams for a mean
    log-ratio. Documents with no grams produce no row.

    ``df`` must be a scan-rooted plan (no join/aggregate/repartition
    upstream): ``fan_out`` reads its partition count while the plan is
    built, and on a plan with exchanges that runs the upstream shuffle
    stages right then (see ``fan_out``'s cost note)."""
    # _fan_out: the gram explode (normalize + split + md5 per gram) is
    # the dominant CPU of both legs and otherwise runs at the SCAN's
    # width (a single small parquet file = 1 task; r11 — 2.5 s wall at
    # 3.8 JVM-CPU-s, i.e. two serial single-task explodes). Hash-spread
    # on the doc id so the final per-document sum reuses the
    # distribution (no exchange after the broadcast join).
    from etl_script_spark.operators.partitioning import fan_out

    exploded = fan_out(df, id_col).select(
        F.col(id_col),
        target.alias("__is_target"),
        F.explode(gram_buckets(F.col(text_col), n_buckets, seed)).alias("bucket"),
    )
    hist = exploded.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("rc"),
        F.sum(F.when(F.col("__is_target"), 1).otherwise(0)).alias("tc"),
    )
    totals = hist.agg(
        F.sum("rc").alias("rt"), F.sum("tc").alias("tt")
    )
    a = float(alpha)
    ab = a * n_buckets
    lr_q = F.round(
        (
            F.log((F.col("tc") + F.lit(a)) / (F.col("tt") + F.lit(ab)))
            - F.log((F.col("rc") + F.lit(a)) / (F.col("rt") + F.lit(ab)))
        )
        * 1e6
    ).cast("long")
    # bucket table is <= n_buckets rows BY CONSTRUCTION -> hard
    # broadcast is safe at any corpus size (see module docstring)
    table = F.broadcast(
        hist.crossJoin(F.broadcast(totals)).select(
            "bucket", lr_q.alias("lr_q")
        )
    )
    return (
        exploded.join(table, "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lr_q").alias("weight_q"),
        )
    )


def dsir_select(weights: DataFrame, id_col: str, n: int) -> DataFrame:
    """Keep the n documents with the highest importance weight
    (deterministic tie-break on id). sort+limit => TakeOrdered:
    per-partition top-n heaps, driver merges n * n_partitions rows —
    no global sort shuffle at 100 TB. For the Gumbel-resampling
    variant of the paper, perturb weight_q with a per-id md5 draw
    before calling this; selection stays deterministic either way."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    return weights.orderBy(
        F.col("weight_q").desc(), F.col(id_col).asc()
    ).limit(n)
