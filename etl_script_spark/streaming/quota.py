"""Streaming per-source token-quota gate.

An ingest pipeline mixing many sources needs per-source budget
enforcement AT INGEST TIME: once a source has contributed its token
quota to the training mix, further documents from it are rejected —
without stopping the stream (other sources keep flowing) and without
a full-corpus recount per batch. The batch analogue is
``textstats.token_budget_select``; this is the streaming form, with
the consumed-token counter as the only carried state (one row per
source — bytes of state per source, unbounded stream).

Admission contract (deterministic, engine-replayable): a source's
documents are considered in feed order — file mtime, then file path,
then id; a document is admitted iff the source's cumulative token
count THROUGH THIS DOCUMENT (the document's own tokens included)
stays <= quota. Cumulative sums are monotone, so admission per source
is a PREFIX of the ordered stream — once one document overflows,
everything later from that source is rejected, which makes the whole
multi-epoch run replayable as one window cumsum over (epoch, id) per
source: exactly the SQL any engine can run, and the driver oracle
does. Because of that, the result does not depend on how files are
grouped into micro-batches, and one trigger drains the whole feed in
one micro-batch.

Shape: per micro-batch, one window cumsum partitioned by source (the
same shuffle any per-source aggregation pays) plus a broadcast join
against the per-source state table. The next state is checkpointed
lazily, so a feed that fits one micro-batch never computes it. The
feed harness is ``streaming.neardup._drain_feed``, shared with the
near-duplicate gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_script_spark.operators.textstats import words
from etl_script_spark.streaming.neardup import _drain_feed
from etl_script_spark.streaming.neardup import write_epoch_feed  # noqa: F401


def stream_quota_gate(
    spark: SparkSession,
    feed_dir: str,
    schema: str,
    quota_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    timeout: int = 300,
) -> DataFrame:
    """Run the quota gate over an epoch feed with AvailableNow and
    return every ADMITTED document as (id_col, source_col, n_tok,
    cum_tok) where cum_tok is the source's cumulative token count
    through this document — the audit column an oracle recomputes.

    ``quota_tokens`` applies independently to every source value.
    """
    if quota_tokens < 1:
        raise ValueError(f"quota_tokens must be >= 1, got {quota_tokens}")

    # state: (source, used) — one row per source, tiny by construction
    state = [spark.createDataFrame([], "source string, used long")]

    def _sink(batch_df: DataFrame) -> DataFrame:
        toks = batch_df.select(
            "__mtime",
            "__path",
            F.col(id_col).alias("id"),
            F.col(source_col).alias("source"),
            F.size(
                F.filter(words(F.col(text_col)), lambda w: w != "")
            ).cast("long").alias("n_tok"),
        )
        w = (
            Window.partitionBy("source")
            .orderBy("__mtime", "__path", "id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        joined = (
            toks.withColumn("__cum_batch", F.sum("n_tok").over(w))
            .join(F.broadcast(state[0]), "source", "left")
            .select(
                "id",
                "source",
                "n_tok",
                (F.coalesce(F.col("used"), F.lit(0)) + F.col("__cum_batch"))
                .alias("cum_tok"),
            )
            .localCheckpoint()
        )
        # state advances by EVERY token seen (admitted or not): the
        # admission predicate is then exactly "global cumsum through
        # this doc <= quota", which one window cumsum over the whole
        # feed replays — advancing only by admitted tokens would
        # re-open the budget after an overflow and break the prefix
        # contract (and the oracle)
        new = joined.groupBy("source").agg(F.max("cum_tok").alias("used"))
        state[0] = (
            state[0].join(new, "source", "left_anti").unionByName(new)
            .localCheckpoint(eager=False)
        )
        return joined.filter(F.col("cum_tok") <= quota_tokens)

    out = _drain_feed(spark, "qg", feed_dir, schema, _sink,
                      "id long, source string, n_tok long, cum_tok long", timeout)
    return out.select(F.col("id").alias(id_col), "source", "n_tok", "cum_tok")
