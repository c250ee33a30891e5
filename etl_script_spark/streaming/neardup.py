"""Streaming near-duplicate ingest gate.

The crawl-firehose shape of ``dedup.dedup_incremental_ingest``: new
documents arrive as micro-batches and each batch is admitted against
a growing FINGERPRINT STORE of everything already accepted — the
store is fingerprints only (8–16 bytes/doc), never text, so the gate
scales to a 100 TB-ingested corpus with a store that fits the same
order as a dedup index. Per micro-batch:

1. within-batch exact dedup: one aggregate keeps, per fingerprint,
   the first row in feed order (file mtime, file path, id),
2. anti-match the batch against the store (mode-dependent, below),
3. ``localCheckpoint`` the admitted rows; their fingerprints, distinct
   and new to the store, join it as one more leaf.

Modes:

- ``exact``: fingerprint = md5 of normalized text; match is hash
  equality (one anti-join). The admitted set — the first row in feed
  order of every fingerprint the store does not hold — does not
  depend on how files are grouped into micro-batches, so the whole
  feed drains in ONE micro-batch. A null text has no fingerprint and
  matches nothing: each file admits its first null-text row. The
  catalog entry's DuckDB oracle replays the epoch chain as CTEs.
- ``simhash``: fingerprint = 64-bit SimHash; match is "any store
  fingerprint within hamming <= k", found via the same
  pigeonhole-band equi-join as ``dedup.simhash_near_dups`` (a
  hamming<=k pair shares at least one of k+1 bands) and verified
  with bit_count(xor). xxhash64 bit votes are not SQL-expressible,
  so this mode's recall is covered by planted-near-dup pytest
  properties instead of the oracle (house rule, same as
  dedup_simhash).

Batch granularity caveat (simhash only, deliberate): within one
micro-batch only EXACT duplicates collapse; two near-but-not-identical
documents in the same batch both survive (and both enter the store),
so simhash mode reads one file per micro-batch. A crawl gate that
must near-dedup within the epoch runs the batch variant
(``simhash_near_dups``) on the epoch first; chaining the two is a
composition, not a new operator.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_script_spark.operators.dedup import simhash_fingerprints
from etl_script_spark.operators.textstats import normalize_text

__all__ = ["write_epoch_feed", "stream_neardup_gate"]


def write_epoch_feed(batches: list[DataFrame], prefix: str = "ndg_feed") -> str:
    """Write each batch as one parquet directory with strictly
    increasing mtimes, so FileStreamSource (which orders by
    modification time) and the gates' (mtime, path) ranking both see
    the epochs in list order. Returns the feed directory."""
    feed_dir = tempfile.mkdtemp(prefix=f"{prefix}_{uuid.uuid4().hex[:6]}_")
    for i, b in enumerate(batches):
        path = os.path.join(feed_dir, f"epoch_{i + 1}")
        b.coalesce(1).write.mode("overwrite").parquet(path)
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (1_000_000 + i, 1_000_000 + i))
    return feed_dir


def _drain_feed(
    spark: SparkSession, tag: str, feed_dir: str, schema: str,
    sink: Callable[[DataFrame], DataFrame], empty_schema: str,
    timeout: float, files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the parquet files under ``feed_dir`` through ``sink`` with
    foreachBatch and one AvailableNow trigger, and return the union of
    the frames ``sink`` returns (empty if it never ran). Each row
    carries its file's ``__mtime`` and ``__path``, the feed order a
    sink ranks by. ``files_per_trigger`` caps the files per
    micro-batch; None reads the whole feed as one. The checkpoint
    directory is removed on every exit, a timeout included."""
    reader = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
    )
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    sdf = reader.parquet(feed_dir).select(
        "*",
        F.col("_metadata.file_modification_time").alias("__mtime"),
        F.col("_metadata.file_path").alias("__path"),
    )
    out: list[DataFrame] = []
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{tag}_")
    try:
        q = (
            sdf.writeStream.foreachBatch(lambda df, _id: out.append(sink(df)))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout):
            q.stop()
            raise TimeoutError(f"{feed_dir}: stream did not finish in {timeout}s")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    if not out:
        return spark.createDataFrame([], empty_schema)
    return reduce(DataFrame.unionByName, out)


def _exact_fp(text_col: str) -> F.Column:
    return F.md5(normalize_text(F.col(text_col)))


def _simhash_bands(fp_df: DataFrame, bands: int) -> DataFrame:
    width = 64 // bands
    mask = (1 << width) - 1
    return fp_df.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("fp", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bv"),
    ).select("id", "fp", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))


def stream_neardup_gate(
    spark: SparkSession,
    feed_dir: str,
    schema: str,
    store_init: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "exact",
    max_hamming: int = 3,
    bands: int = 4,
    timeout: int = 300,
) -> DataFrame:
    """Run the gate over an epoch feed (see ``write_epoch_feed``) with
    AvailableNow and return every ADMITTED document as (id_col, fp).
    Exact mode: fp is the md5 hex string, and the whole feed is one
    micro-batch. Simhash mode: fp is the 64-bit fingerprint, and each
    file is one micro-batch. ``store_init`` holds the already-ingested
    corpus as (id_col, text_col) rows; only its fingerprints are kept."""
    if mode not in ("exact", "simhash"):
        raise ValueError(f"mode must be 'exact' or 'simhash', got {mode!r}")
    if mode == "simhash" and bands < max_hamming + 1:
        raise ValueError(
            f"bands={bands} < max_hamming+1={max_hamming + 1}: pigeonhole "
            "recall guarantee would silently fail"
        )

    def fingerprint(df: DataFrame) -> DataFrame:
        if mode == "exact":
            return df.select(
                F.col(id_col).alias("id"), _exact_fp(text_col).alias("fp")
            )
        return simhash_fingerprints(df, id_col, text_col)

    # the store: checkpointed fingerprint leaves, one per micro-batch
    store = [fingerprint(store_init).select("fp").distinct().localCheckpoint()]

    def _sink(batch_df: DataFrame) -> DataFrame:
        known = reduce(DataFrame.unionByName, store)
        if mode == "exact":
            rank = F.struct("__mtime", "__path", F.col(id_col).alias("id"))
            fps = batch_df.select(
                _exact_fp(text_col).alias("fp"), "__path", rank.alias("r"))
            # a null fingerprint keys nothing: null texts group per file
            null_file = F.when(F.col("fp").isNull(), F.col("__path"))
            fresh = (
                fps.groupBy("fp", null_file.alias("__null_file"))
                .agg(F.min("r").alias("r"))
                .select(F.col("r.id").alias("id"), "fp")
                .join(known, "fp", "left_anti")
            )
        else:
            # one file per micro-batch, so feed order is id order
            first = fingerprint(batch_df).groupBy("fp").agg(F.min("id").alias("id"))
            bb = _simhash_bands(first, bands)
            sb = _simhash_bands(known.select(F.lit(-1).alias("id"), "fp"), bands)
            sb = sb.select("band", "val", F.col("fp").alias("sfp"))
            hits = (
                bb.hint("shuffle_hash")
                .join(sb, ["band", "val"])
                .filter(F.bit_count(F.col("fp").bitwiseXOR(F.col("sfp"))) <= max_hamming)
                .select("id")
                .distinct()
            )
            fresh = first.join(hits, "id", "left_anti")
        fresh = fresh.localCheckpoint()
        store.append(fresh.select("fp"))
        return fresh

    # the empty feed's schema must agree with the non-empty case: exact
    # mode carries fp as the md5 hex STRING, simhash mode as the
    # 64-bit BIGINT fingerprint
    empty = f"id long, fp {'string' if mode == 'exact' else 'bigint'}"
    out = _drain_feed(spark, "ndg", feed_dir, schema, _sink, empty, timeout,
                      files_per_trigger=None if mode == "exact" else 1)
    return out.select(F.col("id").alias(id_col), "fp")
