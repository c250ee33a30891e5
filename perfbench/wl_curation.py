"""corpus_curation: the LLM-data side.

A round: the crawl's epochs pass the exact-mode
``streaming.neardup.stream_neardup_gate``; the admitted documents go
through the quality and language filter (``textstats.quality_score``,
``detect_language``), ``dedup.exact_dedup``, ``ngram_jaccard_pairs`` →
``near_dup_canonical``, and ``export.write_train_shards``. The timed
phase repeats whole rounds.
"""

from __future__ import annotations

import os
import time
import traceback

from pyspark.sql import functions as F

from etl_script_spark.operators import dedup, export, textstats
from etl_script_spark.streaming import neardup

import common
import gen_corpus
from spans import Tracer

QUALITY_MIN = 0.88
SHARDS = 4
SCHEMA = "doc_id long, text string"
STAGES = ("gate", "filter", "exact", "pairs", "canonical", "export")


def _exported_ids(path: str) -> set[int]:
    """doc_ids in the written shards, read with pyarrow."""
    import pyarrow.dataset as ds

    ids = ds.dataset(path, format="parquet").to_table(columns=["doc_id"]).column("doc_id")
    return set(ids.to_pylist())


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names if n.endswith(".parquet"))
    return total


class Workload:
    spec = gen_corpus.CorpusSpec()

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.feed = os.path.join(work, "inputs", "feed")
        self.results: list[dict] = []
        self.n_round = 0

    def generate(self) -> None:
        self.truth = gen_corpus.generate(self.seed, self.spec, self.feed)
        self.want = gen_corpus.expected(self.truth)

    def curate(self, spark, tr, feed: str) -> dict:
        """One round, gate through export; returns what the checks need."""
        self.n_round += 1
        out_dir = os.path.join(self.work, "tables", f"shards_{self.n_round:03d}")
        empty = spark.createDataFrame([], SCHEMA)
        with tr.span("streaming.gate") as c:
            admitted = tr.force(neardup.stream_neardup_gate(spark, feed, SCHEMA, empty))
            c["epochs"] = self.spec.epochs
        corpus = spark.read.schema(SCHEMA).option("recursiveFileLookup", "true").parquet(feed)
        docs = corpus.join(admitted.select("doc_id"), "doc_id", "left_semi")
        with tr.span("textstats.filter"):
            kept = tr.force(docs.filter(
                (textstats.quality_score(F.col("text")) >= QUALITY_MIN)
                & (textstats.detect_language(F.col("text")) == "en")))
        with tr.span("dedup.exact"):
            unique = tr.force(dedup.exact_dedup(kept, "text", "doc_id").drop("dup_count"))
        with tr.span("dedup.pairs") as pc:
            # the pair list is small: collect it once, for the check and
            # for the clustering, instead of computing it twice
            pair_rows = dedup.ngram_jaccard_pairs(
                unique, "doc_id", "text", n=3, threshold=gen_corpus.THRESHOLD).collect()
        pairs = spark.createDataFrame(pair_rows, "id_a long, id_b long, jaccard double")
        with tr.span("dedup.cc"):
            survivors = tr.force(dedup.near_dup_canonical(unique, pairs, "doc_id"))
        with tr.span("export.write") as ec:
            manifest = export.write_train_shards(survivors, out_dir, "doc_id", "text", SHARDS).collect()
        res = {
            "admitted": {r["doc_id"] for r in admitted.select("doc_id").collect()},
            "pairs": {(r["id_a"], r["id_b"]) for r in pair_rows},
            "shards": out_dir,
            "manifest_docs": sum(r["n_docs"] for r in manifest),
            "bytes": _dir_bytes(out_dir),
        }
        if tr.enabled:
            c["docs"] = len(self.truth.docs)
            c["admitted"] = len(res["admitted"])
            pc["pairs"] = len(pair_rows)
            ec["bytes"] = res["bytes"]
        return res

    def setup(self, spark, traced: bool) -> None:
        """One untimed round on the same crawl: the first round of a
        session pays codegen, class loading and the stream source's
        start-up, and its time varies far more from run to run than the
        rounds after it."""
        self.setup_trace = None
        self.curate(spark, Tracer(spark, False), self.feed)

    def timed_phase(self, spark, seconds, traced: bool, rounds: int | None = None) -> dict:
        tr = Tracer(spark, traced)
        ops, failed, n = [], 0, 0
        t0 = time.perf_counter()
        while common.more_rounds(n, t0, seconds, rounds):
            t = time.perf_counter()
            try:
                self.results.append(self.curate(spark, tr, self.feed))
            except Exception:  # a failed round counts every epoch and stage
                traceback.print_exc()
                failed += self.spec.epochs + len(STAGES)
            ops.append((time.perf_counter() - t) * 1000.0)
            n += 1
        wall = time.perf_counter() - t0
        last = self.results[-1] if self.results else {"bytes": 0, "manifest_docs": 0}
        return {
            "rounds": n, "attempted": n * (self.spec.epochs + len(STAGES)), "failed": failed,
            "wall_s": wall, "ops_ms": ops, "units": n * len(self.truth.docs), "tracer": tr,
            "bytes_per_row": last["bytes"] / max(last["manifest_docs"], 1),
        }

    def check(self) -> list[str]:
        want = self.want
        errs = []
        if not self.results:
            errs.append("no round completed")
        for i, got in enumerate(self.results, 1):
            survivors = _exported_ids(got["shards"])
            if got["admitted"] != want["admitted"]:
                errs.append(f"round {i}: gate admitted {len(got['admitted'])} docs, "
                            f"want the {len(want['admitted'])} first copies")
            for a, b in sorted(got["pairs"]):
                j = gen_corpus.jaccard(want["shingles"][a], want["shingles"][b]) \
                    if a in want["shingles"] and b in want["shingles"] else -1.0
                if j < gen_corpus.THRESHOLD:
                    errs.append(f"round {i}: reported pair {(a, b)} has Jaccard {j:.3f}")
                    break
            missing = want["pairs"] - got["pairs"]
            if missing:
                errs.append(f"round {i}: {len(missing)} planted pairs above the threshold "
                            f"not reported, e.g. {sorted(missing)[:3]}")
            if survivors != want["survivors"]:
                errs.append(f"round {i}: {len(survivors)} docs exported, "
                            f"union-find keeps {len(want['survivors'])}")
            if got["manifest_docs"] != len(survivors):
                errs.append(f"round {i}: manifest counts {got['manifest_docs']} docs, "
                            f"{len(survivors)} exported")
        return errs
