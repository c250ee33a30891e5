#!/usr/bin/env python
"""Scale-posture stress run: generate a synthetic corpus ~20-40x the
sf0.1 fixture (100k docs, with the pathologies a real crawl has —
exact duplicates, a hot boilerplate template, empty docs, one
mega-document) and push the heavy curation operators through it.
This is the "would the plan survive a scale-up" experiment the bench
fixtures are too small to exercise. Run from the repo root:

    python tools/stress_curation.py [n_docs]

Prints per-op wall clock + output sanity. Writes nothing outside
/tmp.
"""

from __future__ import annotations

import shutil
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from etl_script_spark.operators import dedup as dedup_ops  # noqa: E402
from etl_script_spark.operators import similarity, textstats  # noqa: E402
from etl_script_spark.session import get_spark  # noqa: E402

_ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
N = int(_ARGS[0]) if _ARGS else 100_000
OUT = f"/tmp/etl_script_spark_io/stress_{N}"


def build(spark, n=None, out=None):
    """Deterministic synthetic corpus with crawl pathologies:
    - 60-word salad from a 500-word vocab (seeded by doc_id — no rand())
    - 5% exact duplicates of doc (id - id%20)
    - 30% carry a shared 25-word boilerplate suffix (hot template)
    - 2% empty docs; one 50k-word mega-doc
    """
    n = n if n is not None else N
    out = out if out is not None else OUT
    tmpl = " ".join(f"boiler{i}" for i in range(25))
    base = (
        spark.range(n)
        .withColumn("grp", (F.col("id") - F.col("id") % 20))
        .withColumn(
            "seed",
            F.when(F.col("id") % 20 < 2, F.col("grp")).otherwise(F.col("id")),
        )
    )
    # 60-word salad regenerated from `seed` so dup groups share text
    salad = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(59)),
            lambda i: F.format_string(
                "w%03d", (F.xxhash64(i, F.col("seed")) % 500 + 500) % 500
            ),
        ),
        " ",
    )
    text = F.when(F.col("id") % 50 == 49, F.lit("")).otherwise(
        F.concat(
            salad,
            F.when(F.col("id") % 10 < 3, F.lit(" " + tmpl)).otherwise(
                F.lit("")
            ),
        )
    )
    mega = F.array_join(
        F.transform(F.sequence(F.lit(0), F.lit(49_999)),
                    lambda i: F.format_string("m%d", i % 700)), " ")
    df = base.select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 7, mega).otherwise(text).alias("text"),
        F.format_string("src%d", F.col("id") % 20).alias("source"),
    )
    shutil.rmtree(out, ignore_errors=True)
    df.repartition(32).write.parquet(out)
    return spark.read.parquet(out)


def main():
    spark = get_spark(app_name="stress-curation")
    t0 = time.time()
    d = build(spark)
    n = d.count()
    print(f"build: {time.time()-t0:.1f}s  ({n} docs)")

    def run(name, fn):
        t0 = time.time()
        out = fn()
        cnt = out.count() if hasattr(out, "count") else out
        print(f"{name}: {time.time()-t0:.1f}s  -> {cnt} rows")

    run("repetition_metrics", lambda: textstats.repetition_metrics(d, "text", "doc_id"))
    run("exact_dedup", lambda: dedup_ops.exact_dedup(d, "text", "doc_id"))
    run("repeated_spans(n=20,min_docs=2)",
        lambda: dedup_ops.repeated_spans(d, "text", "doc_id", 20, 2))
    run("minhash_lsh_candidates",
        lambda: dedup_ops.minhash_lsh_candidates(d, "doc_id", "text"))
    run("chunk_text(256/32)",
        lambda: textstats.chunk_text(d, "text", "doc_id", 256, 32))
    run("unigram_nll", lambda: textstats.unigram_nll_scores(d, "text", "doc_id"))
    run("token_vocab", lambda: textstats.token_vocab(d, "text", min_count=2))
    run("simhash_near_dups", lambda: dedup_ops.simhash_near_dups(d, "doc_id", "text"))

    # full near-dup chain over the pathological corpus: the hot
    # template forms one dense ~2k-doc component — the worst case for
    # both candidate generation and CC contraction
    t0 = time.time()
    pairs = dedup_ops.minhash_lsh_candidates(d, "doc_id", "text")
    cc = dedup_ops.connected_components(
        pairs.select("id_a", "id_b"), "id_a", "id_b"
    )
    n, k = cc.count(), cc.select("cluster_id").distinct().count()
    print(f"minhash->CC chain: {time.time()-t0:.1f}s -> {n} nodes, {k} clusters")

    # distributed k-means over synthetic 64-dim vectors (16 planted modes)
    vec = spark.range(N).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (
                (F.xxhash64(i, F.col("id") % 16) % 1000) / 1000.0
                + (F.xxhash64(i, F.col("id")) % 100) / 1000.0
            ),
        ).alias("embedding"),
    )
    vec.write.mode("overwrite").parquet(OUT + "_vec")
    vec = spark.read.parquet(OUT + "_vec")
    t0 = time.time()
    _, assigned = similarity.kmeans_lloyd(vec, "vec_id", "embedding", k=16, iters=3)
    print(f"kmeans {N}x64 k=16 x3: {time.time()-t0:.1f}s -> {assigned.count()} assigned")

    # --- round-4 families under the same pathologies ------------------
    from etl_script_spark.operators import bpe, expectations, search, sketches

    run(
        "bm25_topk(3 terms, k=20)",
        lambda: search.bm25_topk(
            d, "text", "doc_id", ["w001", "boiler0", "m5"], k=20
        ),
    )
    t0 = time.time()
    merges = bpe.train_bpe(bpe.word_frequencies(d, "text", limit=4096), 200)
    enc = bpe.tokenize(d, "text", "doc_id", merges)
    bad = enc.filter(~F.col("roundtrip_ok")).count()
    print(
        f"bpe train(4096w,200m)+apply: {time.time()-t0:.1f}s -> "
        f"{enc.count()} docs, {bad} roundtrip failures"
    )

    # bloom prune at 10M fact rows against a 5k-key dim
    fact = spark.range(10_000_000).select((F.col("id") % 1_000_000).alias("fk"))
    dim = spark.range(5_000).select((F.col("id") * 7).alias("dk"))
    t0 = time.time()
    cnt = sketches.bloom_pruned_join(fact, dim, "fk", "dk").count()
    print(f"bloom_pruned_join 10M x 5k: {time.time()-t0:.1f}s -> {cnt} rows")

    # expectations: 5-rule suite over 10M rows in one pass
    wide = spark.range(10_000_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 1000).cast("double").alias("amount"),
        F.when(F.col("id") % 97 == 0, F.lit(None)).otherwise(
            F.lit("OK")
        ).alias("status"),
    )
    rules = [
        expectations.not_null("k"),
        expectations.not_null("status"),
        expectations.in_range("amount", 0.0, 998.0),
        expectations.matches("status", "^OK$"),
        expectations.in_set("status", ["OK"]),
    ]
    t0 = time.time()
    m = {r["rule_name"]: r["violations"] for r in expectations.evaluate(wide, rules).collect()}
    print(f"expectations 5 rules x 10M: {time.time()-t0:.1f}s -> {m}")

    stress_round4_families(spark, d)
    stress_round5_families(spark, d)
    spark.stop()




def stress_round5_families(spark, d):
    """Round-5 additions: tf-idf all-pairs with a hot template,
    skew-hub triangle counting, SemDeDup clustering, CDC apply,
    blocked record linkage — each op's documented scale risk driven
    at 20-1000x the bench fixture."""
    from etl_script_spark.operators import cdc, graph, linkage, vsm
    from etl_script_spark.operators.similarity import semantic_dedup_pairs

    # --- tfidf cosine join over the 100k pathological corpus ---------
    # the 30% hot-template suffix passes the 0.5 RATIO cap: without an
    # absolute df cap its shingles alone would generate (0.3N)^2 pairs.
    # max_df=2000 bounds join fan-out at sum(df^2) <= 2000*|index|.
    t0 = time.time()
    pairs = vsm.tfidf_cosine_join(
        d, "doc_id", "text", threshold=0.8, max_df=2000
    )
    cnt = pairs.count()
    print(f"tfidf_cosine_join {N} docs (max_df=2000): "
          f"{time.time()-t0:.1f}s -> {cnt} pairs")

    # --- triangle count: 200k random edges + a 20k-degree hub --------
    # degree-ordered orientation gives the hub ZERO out-edges, so the
    # wedge join never fans out through it; id-ordering would build
    # ~hub_deg^2/2 = 200M wedges at the hub alone.
    rnd = spark.range(200_000).select(
        (F.xxhash64("id") % 50_000).alias("src"),
        (F.xxhash64("id", F.lit(1)) % 50_000).alias("dst"),
    ).select(F.abs("src").alias("src"), F.abs("dst").alias("dst"))
    hub = spark.range(20_000).select(
        F.lit(99_999).alias("src"), F.col("id").alias("dst")
    )
    t0 = time.time()
    row = graph.triangle_count(rnd.unionByName(hub)).collect()[0]
    print(f"triangle_count 220k edges + 20k-deg hub: {time.time()-t0:.1f}s "
          f"-> v={row['n_vertices']} e={row['n_edges']} "
          f"tri={row['n_triangles']}")

    # --- SemDeDup: 50k x 64-dim, k=256 clusters ----------------------
    # pair space n^2/k ~ 9.8M exact-cosine verifies; the paper-scale
    # contract is k ~ n/target_cluster_size keeping this linear-ish
    vecs = spark.range(50_000).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: ((F.xxhash64(i, F.col("id")) % 1000) / 500.0 - 1.0
                       ).cast("float"),
        ).alias("embedding"),
    )
    # plant 500 exact copies so the run also proves recall at scale
    vecs = vecs.unionByName(
        vecs.filter(F.col("vec_id") % 100 == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
    )
    t0 = time.time()
    sd = semantic_dedup_pairs(vecs, "vec_id", "embedding",
                              threshold=0.999, k=256, iters=1, impl="arrow")
    planted = sd.filter(F.col("id_b") == F.col("id_a") + 1_000_000).count()
    cnt = sd.count()
    print(f"semantic_dedup 50k x64 k=256 (arrow): {time.time()-t0:.1f}s "
          f"-> {cnt} pairs, planted recall {planted}/500")

    # --- CDC apply: 2M-change feed over 1M keys ----------------------
    feed = spark.range(2_000_000).select(
        (F.col("id") % 1_000_000).alias("k"),
        F.expr("id div 1000000 + 1").cast("int").alias("seq"),
        F.when((F.expr("id div 1000000") > 0) & (F.col("id") % 7 == 0),
               F.lit("D")).otherwise(F.lit("U")).alias("op"),
        (F.col("id") * 3).alias("v"),
    )
    t0 = time.time()
    cnt = cdc.apply_changes(feed, ["k"], "seq", "op").count()
    print(f"cdc_apply 2M changes / 1M keys: {time.time()-t0:.1f}s -> {cnt} rows")

    # --- blocked linkage: 100k x 100k, 5000 blocks -------------------
    # 20 rows/block/side -> ~4M scored candidates, levenshtein verify
    left = spark.range(N).select(
        F.col("id").alias("l_id"), (F.col("id") % 5000).alias("l_blk"),
        F.format_string("entity %07d corp", F.col("id")).alias("l_name"),
    )
    right = spark.range(N).select(
        F.col("id").alias("r_id"), (F.col("id") % 5000).alias("r_blk"),
        F.format_string("entity %07d corp",
                        F.col("id") + (F.col("id") % 3)).alias("r_name"),
    )
    t0 = time.time()
    linked = linkage.link(
        left, right,
        block_on=[(F.col("l_blk"), F.col("r_blk"))],
        comparators=[
            linkage.Comparator(
                "name",
                F.levenshtein(F.col("l_name"), F.col("r_name")) <= 1, 24, -8),
        ],
        threshold=20,
    )
    cnt = linked.count()
    print(f"linkage {N}x{N} 5000 blocks: {time.time()-t0:.1f}s -> {cnt} links")



def stress_round4_families(spark, d):
    """Round-5 additions (VERDICT r4 #5): fuzzy join fan-out, SCD2
    many-batch chains, partition-scoped merge breadth."""
    import glob
    import os

    from etl_script_spark.operators import fuzzy, scd
    from etl_script_spark.sources import writers

    # --- fuzzy_join: 100k dirty x 10k clean at k=2 --------------------
    # the documented risk is probe fan-out (2k+1 segments x deletions);
    # names ~24 chars, 20% of dirty rows are genuine <=2-edit variants
    clean = spark.range(10_000).select(
        F.col("id").alias("c_id"),
        F.format_string("company %05d holdings ltd", F.col("id")).alias("c_name"),
    )
    dirty = spark.range(N).select(
        F.col("id").alias("d_id"),
        F.when(
            F.col("id") % 5 == 0,
            # planted variant of clean id%10000: drop one char + case noise
            F.concat(
                F.lit("compny "),
                F.format_string("%05d", F.col("id") % 10_000),
                F.lit(" holdings ltd"),
            ),
        ).otherwise(
            F.format_string("unrelated vendor %07d inc", F.col("id"))
        ).alias("d_name"),
    )
    t0 = time.time()
    m = fuzzy.fuzzy_join(dirty, clean, "d_name", "c_name", "d_id", "c_id", k=2)
    cnt = m.count()
    print(f"fuzzy_join {N}x10k k=2: {time.time()-t0:.1f}s -> {cnt} matches")

    # --- scd2: 12-batch chain over a 100k-key dimension ---------------
    # storage-write emulation: localCheckpoint between batches (the
    # deployed loop writes each merged dim to the lake); the assertion
    # is FLAT per-batch wall - unbounded plan nesting would show as
    # superlinear batch times
    dim0 = spark.range(N).select(
        F.col("id").alias("k"),
        F.format_string("attr%d", F.col("id") % 97).alias("v"),
    )
    dim = scd.scd2_init(dim0, "2026-01-01 00:00:00").localCheckpoint()
    times = []
    for i in range(1, 13):
        batch = (
            spark.range(N)
            .filter(F.col("id") % 20 == i % 20)  # 5% of keys change
            .select(
                F.col("id").alias("k"),
                F.format_string("attr%d", (F.col("id") + i) % 97).alias("v"),
            )
        )
        t0 = time.time()
        dim = scd.scd2_apply(
            dim, batch, ["k"], ["v"], f"2026-01-{i+1:02d} 00:00:00"
        ).localCheckpoint()
        times.append(time.time() - t0)
    rows = dim.count()
    cur = dim.filter(F.col("is_current")).count()
    print(
        f"scd2 12-batch chain on {N} keys: total {sum(times):.1f}s "
        f"(first {times[0]:.1f}s, last {times[-1]:.1f}s) -> {rows} rows, "
        f"{cur} current"
    )

    # --- merge_into_partitioned: 2M-row/200-partition table, 10-part batch
    tbl = OUT + "_mtbl"
    shutil.rmtree(tbl, ignore_errors=True)
    base = spark.range(2_000_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 200).alias("p"),
        F.lit("orig").alias("val"),
    )
    base.write.partitionBy("p").parquet(tbl)
    # keys spread across EXACTLY partitions 0..9: k = 200*(id//10) +
    # (id%10), so k % 200 = id % 10 (an earlier *40+3 variant
    # collapsed every key into p=3 — one rewritten partition proves
    # nothing about per-partition merge breadth)
    batch = spark.range(50_000).select(
        (F.floor(F.col("id") / 10) * 200 + F.col("id") % 10).alias("k")
    ).select(
        "k",
        (F.col("k") % 200).alias("p"),
        F.lit("new").alias("val"),
    )
    t0 = time.time()
    touched = writers.merge_into_partitioned(
        spark, tbl, batch, ["k"], "p"
    )
    after = spark.read.parquet(tbl)
    print(
        f"merge_into_partitioned 2Mx200parts, 10-part batch: "
        f"{time.time()-t0:.1f}s -> rewrote {len(touched)} partitions, "
        f"{after.count()} rows, "
        f"{after.filter(F.col('val') == 'new').count()} updated"
    )


def stress_round6_decade(spark):
    """Round-6 decade push (VERDICT r5 #7): the heavy dedup/similarity
    families at 1M docs and the maintenance/entity families at 20M
    rows — one decade past the round-5 sweep, looking for the next
    superlinear wall. Run standalone:
    ``python tools/stress_curation.py --round6``."""
    from etl_script_spark.operators import cdc, governance, linkage, vsm
    from etl_script_spark.operators import incremental as inc
    from etl_script_spark.operators.similarity import (
        kmeans_lloyd, semantic_dedup_pairs,
    )

    M = 1_000_000
    t0 = time.time()
    d = build(spark, n=M, out=f"/tmp/etl_script_spark_io/stress_{M}")
    print(f"build 1M corpus: {time.time()-t0:.1f}s ({d.count()} docs)")

    t0 = time.time()
    pairs = dedup_ops.minhash_lsh_candidates(d, "doc_id", "text")
    cnt = pairs.count()
    print(f"minhash_lsh_candidates 1M: {time.time()-t0:.1f}s -> {cnt} pairs")

    # CC over the VERIFIED pairs (est >= 0.7) — the deployed near-dup
    # shape. Clustering the raw candidate stream is a pipeline bug at
    # this scale: the 30% hot template emits ~3e8 j~0.2 collisions
    # that the agreement filter exists to discard (the first round-6
    # attempt ran CC on them and GC-killed the driver JVM).
    t0 = time.time()
    good = pairs.filter(F.col("est_jaccard") >= 0.7)
    ng = good.count()
    cc = dedup_ops.connected_components(
        good.select("id_a", "id_b"), "id_a", "id_b"
    )
    n, k = cc.count(), cc.select("cluster_id").distinct().count()
    print(f"minhash(est>=0.7)->CC chain 1M: {time.time()-t0:.1f}s -> "
          f"{ng} verified pairs, {n} nodes, {k} clusters")
    pairs.unpersist()

    # the documented boilerplate knob: 4-row bands cut low-j collision
    # mass ~5x at j~0.2 (p 0.104 -> 0.021) for ~2e-4 recall loss at
    # j=0.8
    t0 = time.time()
    cnt = dedup_ops.minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=48, bands=12
    ).count()
    print(f"minhash 48x12 (4-row bands) 1M: {time.time()-t0:.1f}s -> {cnt} pairs")

    t0 = time.time()
    cnt = dedup_ops.simhash_near_dups(d, "doc_id", "text").count()
    print(f"simhash_near_dups 1M: {time.time()-t0:.1f}s -> {cnt} pairs")

    # Mixed-vocab corpus for the 1M tf-idf row: the shared `build()`
    # salad draws from a 500-word vocab, so at 1M docs EVERY term's
    # df exceeds the absolute cap and the join measures only prune
    # cost (that behavior is pinned at 100k in stress_round5_families).
    # Here each doc carries 40 rare terms (vocab 2M, df ~ 20) plus 20
    # hot terms (vocab 200, df ~ 100k, pruned) and a 5% dup class, so
    # the decade run exercises the real index join + verify path and
    # must recover the planted dups through the cap.
    tf_docs = (
        spark.range(M)
        .withColumn(
            "seed",
            F.when(F.col("id") % 20 < 2, F.col("id") - F.col("id") % 20
                   ).otherwise(F.col("id")),
        )
        .select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(39)),
                        lambda i: F.format_string(
                            "r%d",
                            F.pmod(F.xxhash64(i, F.col("seed")), F.lit(2_000_000)),
                        ),
                    ),
                    " ",
                ),
                F.lit(" "),
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(19)),
                        lambda i: F.format_string(
                            "h%d",
                            F.pmod(F.xxhash64(i, F.col("seed"), F.lit(1)),
                                   F.lit(200)),
                        ),
                    ),
                    " ",
                ),
            ).alias("text"),
        )
    )
    t0 = time.time()
    tf_pairs = vsm.tfidf_cosine_join(
        tf_docs, "doc_id", "text", threshold=0.8, max_df=2000
    )
    planted_tf = tf_pairs.filter(
        (F.col("id_b") - F.col("id_a") == 1) & (F.col("id_a") % 20 == 0)
    ).count()
    cnt = tf_pairs.count()
    print(f"tfidf_cosine_join 1M mixed-vocab (max_df=2000): "
          f"{time.time()-t0:.1f}s -> {cnt} pairs, planted dups "
          f"{planted_tf}/50000")

    # SemDeDup at 1M x 64-dim, k=4096 (cluster size ~244, same as the
    # 50k/k=256 round-5 run — the contract is k ~ n/target_size)
    vecs = spark.range(M).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: ((F.xxhash64(i, F.col("id")) % 1000) / 500.0 - 1.0
                       ).cast("float"),
        ).alias("embedding"),
    )
    vecs = vecs.unionByName(
        vecs.filter(F.col("vec_id") % 2000 == 0).select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
        )
    )
    t0 = time.time()
    sd = semantic_dedup_pairs(vecs, "vec_id", "embedding",
                              threshold=0.999, k=4096, iters=1, impl="arrow")
    planted = sd.filter(F.col("id_b") == F.col("id_a") + 10_000_000).count()
    cnt = sd.count()
    print(f"semantic_dedup 1M x64 k=4096 (arrow): {time.time()-t0:.1f}s "
          f"-> {cnt} pairs, planted recall {planted}/500")

    # --- cdc: 20M-change feed over 10M keys --------------------------
    feed = spark.range(20_000_000).select(
        (F.col("id") % 10_000_000).alias("k"),
        F.expr("id div 10000000 + 1").cast("int").alias("seq"),
        F.when((F.expr("id div 10000000") > 0) & (F.col("id") % 7 == 0),
               F.lit("D")).otherwise(F.lit("U")).alias("op"),
        (F.col("id") * 3).alias("v"),
    )
    t0 = time.time()
    cnt = cdc.apply_changes(feed, ["k"], "seq", "op").count()
    print(f"cdc_apply 20M changes / 10M keys: {time.time()-t0:.1f}s -> {cnt} rows")

    # --- linkage: 10M x 10M sides, 2M blocks -> ~50M candidates ------
    left = spark.range(10_000_000).select(
        F.col("id").alias("l_id"), (F.col("id") % 2_000_000).alias("l_blk"),
        F.format_string("entity %07d corp", F.col("id")).alias("l_name"),
    )
    right = spark.range(10_000_000).select(
        F.col("id").alias("r_id"), (F.col("id") % 2_000_000).alias("r_blk"),
        F.format_string("entity %07d corp",
                        F.col("id") + (F.col("id") % 3)).alias("r_name"),
    )
    comps = [linkage.Comparator(
        "name", F.levenshtein(F.col("l_name"), F.col("r_name")) <= 1, 24, -8)]
    t0 = time.time()
    cnt = linkage.link(
        left, right, block_on=[(F.col("l_blk"), F.col("r_blk"))],
        comparators=comps, threshold=20,
    ).count()
    print(f"linkage 10Mx10M 2M blocks: {time.time()-t0:.1f}s -> {cnt} links")

    # EM weight fit over the same blocked candidates: the corpus-sized
    # work is one histogram aggregation; EM itself is driver-bounded
    cand = left.join(right, F.col("l_blk") == F.col("r_blk"))
    t0 = time.time()
    w = linkage.em_fit_weights(cand, comps, iters=2).collect()
    print(f"em_fit_weights 50M candidates: {time.time()-t0:.1f}s -> "
          f"{[(r['field'], r['m_ppb'], r['u_ppb']) for r in w]}")

    # --- governance: k-anonymity over 20M rows -----------------------
    rows = spark.range(20_000_000).select(
        (F.col("id") % 97).alias("age_band"),
        (F.col("id") % 1013).alias("zip3"),
        (F.col("id") % 7).alias("diagnosis"),
    )
    t0 = time.time()
    prof = governance.k_anonymity_report(
        rows, ["age_band", "zip3"], F.col("diagnosis"), k_threshold=5
    )
    row = prof.collect()[0]
    print(f"k_anonymity 20M rows: {time.time()-t0:.1f}s -> "
          f"{row['n_groups']} groups, k={row['k_anonymity']}, "
          f"l={row['l_diversity']}")

    # --- IVM: maintain_join_agg, 4 x 2M-row delta batches ------------
    dim = spark.range(100_000).select(
        F.col("id").alias("dk"), (F.col("id") % 1000).alias("grp"))
    state = None
    walls = []
    for b in range(4):
        t0 = time.time()
        delta = spark.range(b * 2_000_000, (b + 1) * 2_000_000).select(
            (F.col("id") % 100_000).alias("fk"),
            ((F.col("id") * 7919) % 10_000).cast("double").alias("amt"))
        state = inc.maintain_join_agg(
            state, delta, dim, F.col("fk") == F.col("dk"), ["grp"], ["amt"])
        state = state.localCheckpoint()  # deployed loop persists per batch
        walls.append(time.time() - t0)
    out = inc.finalize(state, ["grp"], ["amt"])
    print(f"maintain_join_agg 4x2M batches: "
          f"{' '.join(f'{w:.2f}s' for w in walls)} -> {out.count()} groups")


def stress_round6b_newops(spark):
    """Scale rows for the round-6 additions: DSIR and the NB
    classifier at 1M docs, IVF-PQ over 1M synthetic 64-dim vectors.
    Run standalone: ``python tools/stress_curation.py --round6b``."""
    from etl_script_spark.operators import classify, dsir, similarity

    M = 1_000_000
    t0 = time.time()
    d = build(spark, n=M, out=f"/tmp/etl_script_spark_io/stress_{M}")
    print(f"build 1M corpus: {time.time()-t0:.1f}s ({d.count()} docs)")

    t0 = time.time()
    w = dsir.dsir_weights(
        d, "doc_id", "text",
        F.col("source").isin("src0", "src1", "src2", "src3"),
        n_buckets=4096,
    )
    sel = dsir.dsir_select(w, "doc_id", 10_000).count()
    print(f"dsir_weights+select 1M: {time.time()-t0:.1f}s -> {sel} kept")

    t0 = time.time()
    scored = classify.nb_train_score(
        d, "doc_id", "text",
        F.col("source").isin("src0", "src1", "src2", "src3"),
        F.col("doc_id") % 10 < 8,
    ).count()
    print(f"nb_train_score 1M (80/20): {time.time()-t0:.1f}s -> {scored} scored")

    # 1M x 64 deterministic embeddings (no rand()): clustered around
    # 16 latent centers so IVF cells are data-adapted, plus per-dim
    # hash jitter
    emb = spark.range(M).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (
                F.pmod(F.xxhash64(F.col("id") % 16, i), F.lit(1000)).cast("double")
                / 500.0
                + F.pmod(F.xxhash64(F.col("id"), i), F.lit(200)).cast("double")
                / 1000.0
            ),
        ).alias("embedding"),
    )
    emb.write.mode("overwrite").parquet("/tmp/etl_script_spark_io/stress_emb_1m")
    emb = spark.read.parquet("/tmp/etl_script_spark_io/stress_emb_1m")
    q = emb.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # the production split: index build is a one-time amortized cost,
    # serve is what repeats per query batch (64 queries here — the
    # regime the index exists for; brute force scales linearly in
    # queries, the served path in queries·nprobe/n_centroids)
    t0 = time.time()
    index, model = similarity.build_ivfpq_index(
        emb, n_centroids=16, m=8, ksub=32, dim=64
    )
    ipath = "/tmp/etl_script_spark_io/stress_ivfpq_index"
    index.write.mode("overwrite").parquet(ipath)
    print(f"ivfpq index build+write 1Mx64: {time.time()-t0:.1f}s")
    index = spark.read.parquet(ipath)
    t0 = time.time()
    pq = similarity.ivfpq_topk(
        emb, q, k=10, n_centroids=16, nprobe=4, m=8, ksub=32, dim=64,
        refine=8, index=index, model=model,
    ).count()
    print(f"ivfpq_topk serve 1Mx64, 64 queries (nprobe 4/16): "
          f"{time.time()-t0:.1f}s -> {pq} rows")
    t0 = time.time()
    bf = similarity.brute_force_topk(emb, q, k=10).count()
    print(f"brute_force_topk 1Mx64, 64 queries (comparison): "
          f"{time.time()-t0:.1f}s -> {bf} rows")


def stress_round6c_textops(spark):
    """Scale rows for the late round-6 text operators at 1M docs:
    exact-substring span removal (the 5%-dup + 30%-boilerplate
    pathological corpus is its natural prey), unigram-LM tokenize,
    and positional phrase search. Run standalone:
    ``python tools/stress_curation.py --round6c``."""
    from etl_script_spark.operators import unigram_tok
    from etl_script_spark.operators.search import phrase_occurrences

    M = 1_000_000
    t0 = time.time()
    d = build(spark, n=M, out=f"/tmp/etl_script_spark_io/stress_{M}")
    print(f"build 1M corpus: {time.time()-t0:.1f}s ({d.count()} docs)")

    t0 = time.time()
    out = dedup_ops.remove_duplicate_spans(d, "text", "doc_id", n=8)
    stats = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_removed").alias("rm"),
        F.sum(F.when(F.col("clean_text") == "", 1).otherwise(0)).alias("cut"),
    ).collect()[0]
    print(f"remove_duplicate_spans 1M: {time.time()-t0:.1f}s -> "
          f"{stats['n']} docs, {stats['rm']} tokens cut, "
          f"{stats['cut']} fully-cut")

    t0 = time.time()
    vocab = unigram_tok.train_unigram(
        unigram_tok.word_frequencies(d, "text", limit=4096), vocab_size=512
    )
    fit_s = time.time() - t0
    t0 = time.time()
    n = unigram_tok.tokenize_unigram(d, "text", "doc_id", vocab).count()
    print(f"unigram fit {fit_s:.1f}s + tokenize 1M: {time.time()-t0:.1f}s "
          f"-> {n} docs")

    t0 = time.time()
    hits = phrase_occurrences(
        d, "text", "doc_id", ["boiler0", "boiler1", "boiler2"]
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("n_matches").alias("m")).collect()[0]
    print(f"phrase_occurrences 1M (3-gram, 30% hit rate): "
          f"{time.time()-t0:.1f}s -> {hits['n']} docs, {hits['m']} matches")


def stress_round6d_corpusops(spark):
    """Scale rows for the corpus-diagnostics / sampling / curation
    batch: KS + PSI + Zipf + budget-select + calibration +
    preference pairs at 10-20M rows, binary SimHash at 200k payloads.
    Run standalone: ``python tools/stress_curation.py --round6d``."""
    from etl_script_spark.operators import (
        conversations,
        corpusstats,
        multimodal,
        quality as quality_ops,
    )

    def run(name, fn):
        # evaluate through the noop SINK, not count(): count() lets the
        # optimizer prune projected columns that feed no filter, so an
        # expression-level bug (or its cost) in the output columns is
        # silently skipped — rank_calibrate's pr_ppm INT overflow hid
        # behind exactly this until the review caught it
        t0 = time.time()
        out = fn()
        if hasattr(out, "write"):
            out.write.mode("overwrite").format("noop").save()
            wall = time.time() - t0
            cnt = out.count()
        else:
            wall = time.time() - t0
            cnt = out
        print(f"{name}: {wall:.1f}s  -> {cnt} rows")

    M10, M20 = 10_000_000, 20_000_000
    # 10M synthetic rows: integer value with ~100k distinct values
    # (the KS reduced frame), 2-sided split, 37-grade score, token count
    rows = spark.range(M10).select(
        F.col("id"),
        F.pmod(F.xxhash64("id"), F.lit(100_000)).alias("v"),
        (F.col("id") % 3 == 0).alias("is_a"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(37)).alias("grade"),
        (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(900)) + 100).alias("n_tok"),
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(20)).alias("src"),
    )
    rows.write.mode("overwrite").parquet("/tmp/etl_script_spark_io/stress_rows_10m")
    rows = spark.read.parquet("/tmp/etl_script_spark_io/stress_rows_10m")

    run("ks_two_sample 10M (100k distinct)", lambda: corpusstats.ks_two_sample(
        rows, "v", F.col("is_a")))
    run("psi_drift 10M (500 buckets)", lambda: corpusstats.psi_drift(
        rows, F.col("v") % 500, F.col("is_a")))
    run("token_budget_select 10M (37 grades, 30% budget)",
        lambda: textstats.token_budget_select(
            rows, "id", F.col("grade"), F.col("n_tok"),
            budget=int(M10 * 550 * 0.3)))
    run("rank_calibrate 10M (20 strata)", lambda: quality_ops.rank_calibrate(
        rows, "id", "src", F.col("n_tok")))
    run("stratified_exact_sample 10M (20 strata x 1000)",
        lambda: textstats.stratified_exact_sample(rows, "id", "src", 1000))
    run("weighted_sample_topk 10M (n=10k)", lambda: textstats.weighted_sample_topk(
        rows, "id", F.col("n_tok") + 1, n=10_000))

    prefs = spark.range(M20).select(
        F.pmod(F.xxhash64("id"), F.lit(2_000_000)).alias("grp"),
        F.col("id").alias("rid"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1000)).alias("score"),
    )
    run("preference_pairs 20M (2M groups)", lambda: conversations.preference_pairs(
        prefs, "grp", "rid", F.col("score")))

    # Zipf over the 1M-doc pathological corpus (rebuilds if absent)
    t0 = time.time()
    d = build(spark, n=1_000_000, out="/tmp/etl_script_spark_io/stress_1000000")
    print(f"build 1M corpus: {time.time()-t0:.1f}s")
    run("zipf_slope 1M docs (60M tokens)", lambda: corpusstats.zipf_slope(
        d, "text", top_k=1000, min_rank=10))

    # binary SimHash near-dup over 200k payloads (2x100k: half exact
    # copies) — fingerprint cost dominates (hex doubles the bytes)
    media = build(
        spark, n=100_000, out="/tmp/etl_script_spark_io/stress_100000"
    ).select("doc_id", F.hex(F.encode("text", "utf-8")).alias("hx"))
    both = media.unionByName(
        media.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "hx")
    )
    def _mm():
        p = multimodal.binary_simhash_near_dups(both, "doc_id", "hx")
        n = p.count()
        p.unpersist()
        return n
    run("binary_simhash_near_dups 200k payloads", _mm)


def stress_round6e_augment(spark):
    """Scale rows for the augmentation / diagnostics closers: MLM mask
    and span corruption at 1 M docs (60 M tokens), Heaps curve at 1 M,
    in-batch negatives at 10 M ids, Bloom decontam at 1 M corpus vs a
    50k-gram benchmark. Run: ``python tools/stress_curation.py
    --round6e``."""
    from etl_script_spark.operators import corpusstats, decontam, similarity

    def run(name, fn):
        t0 = time.time()
        out = fn()
        if hasattr(out, "write"):
            out.write.mode("overwrite").format("noop").save()
            wall = time.time() - t0
            cnt = out.count()
        else:
            wall = time.time() - t0
            cnt = out
        print(f"{name}: {wall:.1f}s  -> {cnt} rows")

    d = build(spark, n=1_000_000, out="/tmp/etl_script_spark_io/stress_1000000")
    print(f"corpus ready ({d.count()} docs)")

    run("mlm_mask 1M docs", lambda: textstats.mlm_mask(d, "text", "doc_id"))
    run("span_corrupt 1M docs", lambda: textstats.span_corrupt(
        d, "text", "doc_id"))
    run("heaps_curve 1M docs", lambda: corpusstats.heaps_curve(
        d, "text", "doc_id", n_points=8))
    ids = spark.range(10_000_000).select(F.col("id").alias("vid"))
    run("inbatch_negatives 10M (k=4, 64k batches)",
        lambda: similarity.inbatch_negatives(ids, "vid", k=4, n_batches=65536))
    bench = d.filter(F.col("doc_id") % 97 == 3).select("text")
    run("contamination_report_bloom 1M corpus vs ~10k-doc bench",
        lambda: decontam.contamination_report_bloom(
            d.select("doc_id", "text"), bench, "text", "doc_id",
            n=8, m_bits=1 << 22))




def stress_round7_decade(spark):
    """Round-7 decade push for the round-6 closers: the augmentation
    pair at 10 M docs (600 M tokens — one decade past round-6e) and
    the streaming near-dup gate at 128 epochs (two decades past the
    3-epoch fixture). Run: ``python tools/stress_curation.py
    --round7``."""
    from etl_script_spark.streaming import neardup

    def run(name, fn):
        t0 = time.time()
        out = fn()
        if hasattr(out, "write"):
            out.write.mode("overwrite").format("noop").save()
            wall = time.time() - t0
            cnt = out.count()
        else:
            wall = time.time() - t0
            cnt = out
        print(f"{name}: {wall:.1f}s  -> {cnt} rows")

    M = 10_000_000
    t0 = time.time()
    d = build(spark, n=M, out=f"/tmp/etl_script_spark_io/stress_{M}")
    print(f"build 10M corpus: {time.time()-t0:.1f}s ({d.count()} docs)")

    run("mlm_mask 10M docs", lambda: textstats.mlm_mask(d, "text", "doc_id"))
    run("span_corrupt 10M docs", lambda: textstats.span_corrupt(
        d, "text", "doc_id"))

    # 128-epoch gate: each epoch carries 1k fresh docs + 500 repeats
    # of an earlier epoch's text (cross-epoch near-dups the store must
    # reject). Exact mode drains the feed in one micro-batch ranked by
    # file order, so the admitted count checks that ranking across all
    # 128 files.
    epochs = []
    for e in range(128):
        fresh = spark.range(e * 1500, e * 1500 + 1000).select(
            F.col("id").alias("doc_id"),
            F.format_string("fresh doc %d epoch " + str(e), F.col("id"))
            .alias("text"),
        )
        rep_src = max(0, e - 1)
        rep = spark.range(e * 1500 + 1000, e * 1500 + 1500).select(
            F.col("id").alias("doc_id"),
            F.format_string(
                "fresh doc %d epoch " + str(rep_src),
                F.lit(rep_src * 1500) + F.pmod(F.col("id"), F.lit(1000)),
            ).alias("text"),
        )
        epochs.append(fresh.unionByName(rep))
    t0 = time.time()
    feed = neardup.write_epoch_feed(epochs, prefix="ndg_128")
    print(f"write 128-epoch feed: {time.time()-t0:.1f}s")
    store = spark.createDataFrame([], "doc_id long, text string")
    t0 = time.time()
    out = neardup.stream_neardup_gate(
        spark, feed, "doc_id bigint, text string", store, mode="exact",
        timeout=1200,
    )
    n = out.count()
    wall = time.time() - t0
    # epoch 0: 1000 fresh + 500 repeats of itself -> repeats collide
    # in-batch with their source (same text, higher id) and are
    # rejected; epochs 1+: the 500 repeats duplicate the PREVIOUS
    # epoch's admitted texts -> rejected by the store
    print(f"neardup gate 128 epochs (192k docs): {wall:.1f}s -> "
          f"{n} admitted ({wall / 128:.2f}s/epoch)")


def stress_round7c_newops(spark):
    """Decade push for the round-7 operator batch: IVF-PQ at 1 M x
    64-dim vectors (the verdict-asked decade), exact prefix-filtered
    Jaccard at 1 M docs, point-in-time join at 10 M facts x 500 k dim
    versions, weighted quantile at 10 M rows, MaxSim rerank at 50 k
    docs x 4 vectors. Run: ``python tools/stress_curation.py
    --round7c``."""
    from etl_script_spark.operators import features, scd

    def run(name, fn):
        t0 = time.time()
        out = fn()
        out.write.mode("overwrite").format("noop").save()
        wall = time.time() - t0
        print(f"{name}: {wall:.1f}s -> {out.count()} rows")

    # --- 1 M x 64-dim vectors (deterministic hash floats in [-1, 1])
    vec_path = "/tmp/etl_script_spark_io/stress_vec_1m"
    t0 = time.time()
    vecs = spark.range(1_000_000).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (
                (F.xxhash64(i, F.col("id")) % 1000).cast("double") / 500.0
            ),
        ).alias("embedding"),
    )
    shutil.rmtree(vec_path, ignore_errors=True)
    vecs.repartition(32).write.parquet(vec_path)
    vecs = spark.read.parquet(vec_path)
    print(f"build 1M x 64 vectors: {time.time()-t0:.1f}s")

    queries = spark.range(16).select(
        F.col("id").alias("query_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (
                (F.xxhash64(i, F.col("id") + 7_777_777) % 1000)
                .cast("double") / 500.0
            ),
        ).alias("query_vec"),
    )
    t0 = time.time()
    index, model = similarity.build_ivfpq_index(
        vecs, "vec_id", "embedding", n_centroids=16, m=8, ksub=16, dim=64
    )
    index = index.persist()
    n_ix = index.count()
    print(f"ivfpq index build 1M x 64: {time.time()-t0:.1f}s "
          f"({n_ix} compressed rows)")
    run("ivfpq serve 16 queries @1M", lambda: similarity.ivfpq_topk(
        vecs, queries, k=10, n_centroids=16, nprobe=4, m=8, ksub=16,
        dim=64, refine=4, index=index, model=model))
    index.unpersist(blocking=False)

    # --- exact prefix-filtered Jaccard at 1 M docs
    import os

    corpus_path = "/tmp/etl_script_spark_io/stress_1000000"
    if not os.path.exists(corpus_path + "/_SUCCESS"):
        t0 = time.time()
        build(spark, n=1_000_000, out=corpus_path)
        print(f"build 1M corpus: {time.time()-t0:.1f}s")
    d = spark.read.parquet(corpus_path)
    # collapse_identical: without it this corpus' 20k identical empty
    # docs alone emit C(20k,2) = 200M J=1 rows (measured: 541.8s /
    # 200,040,000 pairs) — the identical-class output bomb
    run("jaccard_prefix_filter 1M docs (collapsed)", lambda:
        dedup_ops.jaccard_pairs_prefix_filtered(
            d, "text", "doc_id", threshold_ppm=500_000,
            collapse_identical=True))

    # --- point-in-time join: 10 M facts x 100 k keys x 5 versions
    dim = spark.range(500_000).select(
        (F.col("id") % 100_000).alias("k"),
        F.expr("id DIV 100000").alias("ver"),
        F.format_string("attr%d", F.col("id")).alias("attr"),
    ).select(
        "k", "attr",
        F.timestamp_seconds(F.col("ver") * 86_400 * 30).cast(
            "timestamp_ntz").alias("valid_from"),
        F.when(
            F.col("ver") < 4,
            F.timestamp_seconds((F.col("ver") + 1) * 86_400 * 30),
        ).otherwise(F.lit("9999-12-31 00:00:00")).cast(
            "timestamp_ntz").alias("valid_to"),
    )
    facts = spark.range(10_000_000).select(
        F.col("id").alias("fid"),
        (F.col("id") % 100_000).alias("k"),
        F.timestamp_seconds(
            (F.xxhash64("id") % (86_400 * 150) + 86_400 * 150)
            % (86_400 * 150)
        ).cast("timestamp_ntz").alias("ts"),
    )
    run("point_in_time_join 10M facts x 500k vers", lambda:
        scd.point_in_time_join(facts, dim, ["k"], "ts"))

    # --- weighted quantile: 10 M rows, 25 groups, heavy ties
    wq = spark.range(10_000_000).select(
        (F.col("id") % 25).alias("grp"),
        ((F.xxhash64("id") % 1000 + 1000) % 1000).cast("double")
        .alias("v"),
        ((F.xxhash64("id", F.lit(1)) % 7 + 7) % 7 + 1).alias("w"),
    )
    run("weighted_quantile 10M rows x 25 grps", lambda:
        features.weighted_quantile_groups(wq, ["grp"], "v", "w"))

    # --- MaxSim rerank: 50 k docs x 4 vecs vs 16 queries x 4 vecs
    dv = spark.range(200_000).select(
        F.expr("id DIV 4").alias("doc_id"),
        (F.col("id") % 4).alias("vec_idx"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (
                (F.xxhash64(i, F.col("id")) % 1000).cast("double") / 500.0
            ),
        ).alias("embedding"),
    )
    qv = spark.range(64).select(
        F.expr("id DIV 4").alias("query_id"),
        (F.col("id") % 4).alias("vec_idx"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (
                (F.xxhash64(i, F.col("id") + 99) % 1000).cast("double")
                / 500.0
            ),
        ).alias("embedding"),
    )
    run("maxsim rerank 50k docs x 4 vecs, 16 q", lambda:
        similarity.maxsim_topk(dv, qv, k=10))


def stress_round7g_textstats(spark):
    """Decade push for the round-7 batch 4-10 operators with corpus-
    or fact-scale inputs: trigram stupid backoff and tf-idf keyword
    extraction at 1 M docs (58 M tokens), CUSUM / quantile
    normalization at 10 M rows, basket pairs at 10 M order lines.
    Run: ``python tools/stress_curation.py --round7g``."""
    import os

    from etl_script_spark.operators import basket, features, timeseries

    def run(name, fn):
        t0 = time.time()
        out = fn()
        out.write.mode("overwrite").format("noop").save()
        print(f"{name}: {time.time()-t0:.1f}s -> {out.count()} rows")

    corpus_path = "/tmp/etl_script_spark_io/stress_1000000"
    if not os.path.exists(corpus_path + "/_SUCCESS"):
        build(spark, n=1_000_000, out=corpus_path)
    d = spark.read.parquet(corpus_path)

    run("stupid_backoff 1M docs", lambda:
        textstats.stupid_backoff_scores(d, "text", "doc_id"))
    run("top_keywords 1M docs", lambda:
        textstats.top_keywords(d, "text", "doc_id", k=5))

    ev = spark.range(10_000_000).select(
        F.format_string("t%d", F.col("id") % 50).alias("key"),
        F.timestamp_seconds(F.col("id") % 2_000_000).alias("ts"),
        F.col("id").alias("eid"),
        ((F.xxhash64("id") % 10000 + 10000) % 10000 + 1).alias("v"),
    )
    run("cusum 10M rows x 50 keys", lambda:
        timeseries.cusum_changepoints(ev, "key", "ts", "v", "eid"))

    qn = spark.range(10_000_000).select(
        F.format_string("s%d", F.col("id") % 8).alias("src"),
        ((F.xxhash64("id") % 100000 + 100000) % 100000).alias("v"),
        F.col("id").alias("k"),
    )
    run("quantile_normalize 10M rows x 8 groups", lambda:
        features.quantile_normalize(qn, "src", "v", "k"))

    lines = spark.range(10_000_000).select(
        (F.col("id") % 2_500_000).alias("order_id"),
        ((F.xxhash64("id") % 200_000 + 200_000) % 200_000).alias("part_id"),
    )
    run("basket pairs 10M lines x 2.5M baskets", lambda:
        basket.pair_associations(lines, "order_id", "part_id",
                                 min_pair_count=2, k=100))


def stress_round7h_rankstats(spark):
    """Decade push for the round-7b batch: rank statistics with a
    NEAR-UNIQUE score column at 20 M rows (the case the two-phase
    bucketed prefix sum exists for — a naive global-window rank would
    sort 20 M distinct values on one partition), Cohen's kappa at
    20 M rows, linear interpolation over a 10 M-point sparse grid,
    and PMI collocations at 1 M docs (57 M bigrams).
    Run: ``python tools/stress_curation.py --round7h``."""
    import os

    from etl_script_spark.operators import stats, timeseries

    def run(name, fn):
        t0 = time.time()
        out = fn()
        out.write.mode("overwrite").format("noop").save()
        print(f"{name}: {time.time()-t0:.1f}s -> {out.count()} rows")

    # near-unique integer scores: xxhash64 over 20 M ids
    scored = spark.range(20_000_000).select(
        (F.xxhash64("id") % 1_000_000_000_000).alias("score"),
        (F.col("id") % 3 == 0).alias("y"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
    )
    run("roc_auc 20M near-unique scores", lambda:
        stats.roc_auc(scored, "y", "score"))
    run("mann_whitney 20M near-unique scores", lambda:
        stats.mann_whitney_u(scored, "g", "score", "a", "b"))

    raters = spark.range(20_000_000).select(
        F.format_string("c%d", F.xxhash64("id") % 5).alias("a"),
        F.format_string("c%d", F.xxhash64("id", F.lit(1)) % 5).alias("b"),
    )
    run("cohens_kappa 20M rows x 5 cats", lambda:
        stats.cohens_kappa(raters, "a", "b"))

    # 100k keys x ~100-hour spans, 30% of hours observed
    obs = spark.range(10_000_000).filter(
        (F.xxhash64("id") % 10) < 3
    ).select(
        (F.col("id") % 100_000).alias("k"),
        F.timestamp_seconds(F.expr("(id DIV 100000) * 3600")).alias("bucket"),
        (F.xxhash64("id", F.lit(2)) % 1_000_000).alias("v"),
    )
    run("interpolate_linear 100k keys x 100h grid", lambda:
        timeseries.interpolate_linear(
            obs, ["k"], "bucket", "v", "1 HOUR", 3600))

    corpus_path = "/tmp/etl_script_spark_io/stress_1000000"
    if not os.path.exists(corpus_path + "/_SUCCESS"):
        build(spark, n=1_000_000, out=corpus_path)
    d = spark.read.parquet(corpus_path)
    run("pmi_collocations 1M docs", lambda:
        textstats.pmi_collocations(d, "text", min_count=5, k=100))



def stress_round7i_newops(spark):
    """Decade push for the round-7c batch: Spearman with a 20 M-row
    NEAR-UNIQUE axis (pair histogram and rank tables at fact
    cardinality — the worst case for the rank joins), ACF at 10 M
    rows x 100 k keys, BFS + LPA on a 1 M-vertex 2-out-regular graph,
    t-closeness at 10 M rows x 100 k quasi-groups, and LOO target
    encoding at 20 M rows x 1 M categories.
    Run: ``python tools/stress_curation.py --round7i``."""
    from etl_script_spark.operators import features, governance, graph
    from etl_script_spark.operators import stats, timeseries

    def run(name, fn):
        t0 = time.time()
        out = fn()
        out.write.mode("overwrite").format("noop").save()
        print(f"{name}: {time.time()-t0:.1f}s -> {out.count()} rows")

    # y loosely tracks x (monotone component + hash noise) so the
    # result is a mid-range rho, not a degenerate 0/1
    xy = spark.range(20_000_000).select(
        F.abs(F.xxhash64("id") % 1_000_000_000).alias("x"),
        (
            F.abs(F.xxhash64("id") % 1_000_000_000)
            + F.abs(F.xxhash64("id", F.lit(1)) % 2_000_000_000)
        ).alias("y"),
    )
    run("spearman 20M near-unique pairs", lambda:
        stats.spearman_rho(xy, "x", "y"))

    series = spark.range(10_000_000).select(
        (F.col("id") % 100_000).alias("k"),
        (F.col("id") / F.lit(100_000)).cast("long").alias("i"),
        (F.abs(F.xxhash64("id")) % 10_000
         + ((F.col("id") / F.lit(100_000)).cast("long") % 7) * 3_000
         ).alias("v"),
    )
    run("acf_lags 10M rows x 100k keys x 3 lags", lambda:
        timeseries.acf_lags(series, ["k"], ["i"], "v", max_lag=3))

    n_v = 1_000_000
    base = spark.range(n_v)
    edges = base.select(
        F.col("id").alias("src"),
        ((F.col("id") * 1_000_003 + 7) % n_v).alias("dst"),
    ).unionByName(base.select(
        F.col("id").alias("src"),
        ((F.col("id") * 733 + 13) % n_v).alias("dst"),
    ))
    sources = base.filter(F.col("id") % 100_000 == 0).select(
        F.col("id").alias("vertex")
    )
    run("bfs_hops 1M vertices x 4 hops", lambda:
        graph.bfs_hops(edges, sources, max_hops=4))
    run("label_propagation 1M vertices x 3 iters", lambda:
        graph.label_propagation(edges, iters=3))

    qd = spark.range(10_000_000).select(
        (F.col("id") % 100_000).alias("g"),
        (F.abs(F.xxhash64("id", F.lit(3))) % 20).alias("s"),
    )
    run("t_closeness 10M rows x 100k groups x 20 cats", lambda:
        governance.t_closeness_report(qd, ["g"], "s", 300000))

    te = spark.range(20_000_000).select(
        (F.abs(F.xxhash64("id", F.lit(4))) % 1_000_000).alias("c"),
        (F.col("id") % 5 == 0).cast("int").alias("t"),
    )
    run("target_encode_loo 20M rows x 1M cats", lambda:
        features.target_encode_loo(te, "c", "t"))



def stress_round7j_newops(spark):
    """Decade push for the round-7d batch: WordPiece over the 1 M-doc
    corpus (distinct-word amortization is the thing under test — the
    unrolled scan must run on |V|, not corpus tokens), the
    randomization test at 5 M rows x 49 reps (245 M exploded rows,
    one map-side-combined aggregation), continuation pairs at 1 M
    docs with a 30% shared-footer class (the df-cap guard), and
    common-neighbor link prediction on a 1 M-vertex graph.
    Run: ``python tools/stress_curation.py --round7j``."""
    import os

    from etl_script_spark.operators import dedup as ddp
    from etl_script_spark.operators import graph, stats, wordpiece

    def run(name, fn):
        t0 = time.time()
        out = fn()
        out.write.mode("overwrite").format("noop").save()
        print(f"{name}: {time.time()-t0:.1f}s -> {out.count()} rows")

    corpus_path = "/tmp/etl_script_spark_io/stress_1000000"
    if not os.path.exists(corpus_path + "/_SUCCESS"):
        build(spark, n=1_000_000, out=corpus_path)
    d = spark.read.parquet(corpus_path)
    run("wordpiece 1M docs", lambda:
        wordpiece.tokenize_wordpiece(d, "text", "doc_id"))

    rt = spark.range(5_000_000).select(
        F.col("id").cast("string").alias("rid"),
        (F.col("id") % 2 == 0).alias("ga"),
        (F.abs(F.xxhash64("id")) % 1000).alias("v"),
    )
    run("randomization_test 5M rows x 49 reps", lambda:
        stats.randomization_test_mean_diff(
            rt, "rid", "ga", "v", True, False, reps=49))

    # 30% of docs share one footer (df-cap must drop it); 5% get a
    # planted unique continuation boundary
    d2 = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 20 == 0,
            F.concat(F.col("text"), F.lit(" cont seg "),
                     F.col("doc_id").cast("string"), F.lit(" alpha beta")),
        ).when(
            F.col("doc_id") % 20 == 1,
            F.concat(F.lit("cont seg "),
                     (F.col("doc_id") - 1).cast("string"),
                     F.lit(" alpha beta "), F.col("text")),
        ).when(
            F.col("doc_id") % 10 >= 7,
            F.concat(F.col("text"),
                     F.lit(" shared footer boilerplate legal text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    run("continuation_pairs 1M docs, 30% shared footer", lambda:
        ddp.continuation_pairs(d2, "text", "doc_id", k=5, df_cap=100))

    n_v = 1_000_000
    base = spark.range(n_v)
    edges = base.select(
        F.col("id").alias("src"),
        ((F.col("id") * 1_000_003 + 7) % n_v).alias("dst"),
    ).unionByName(base.select(
        F.col("id").alias("src"),
        ((F.col("id") * 733 + 13) % n_v).alias("dst"),
    ))
    run("common_neighbors 1M vertices", lambda:
        graph.common_neighbor_scores(edges, deg_cap=1000, k=100))



def stress_round7k_newops(spark):
    """Decade push for the round-7e batch: Kneser-Ney over the 1 M-doc
    corpus (57 M bigrams — four count aggregations + vocabulary
    joins), SoftDeDup weights and the hashing trick at corpus scale,
    and the trimmed mean over a 20 M-row NEAR-UNIQUE value column
    (fact-cardinality histogram — the case the bucketed prefix sum
    exists for). Run: ``python tools/stress_curation.py --round7k``."""
    import os

    from etl_script_spark.operators import dedup as ddp
    from etl_script_spark.operators import features, stats, textstats

    def run(name, fn):
        t0 = time.time()
        out = fn()
        out.write.mode("overwrite").format("noop").save()
        print(f"{name}: {time.time()-t0:.1f}s -> {out.count()} rows")

    corpus_path = "/tmp/etl_script_spark_io/stress_1000000"
    if not os.path.exists(corpus_path + "/_SUCCESS"):
        build(spark, n=1_000_000, out=corpus_path)
    d = spark.read.parquet(corpus_path)
    run("kneser_ney 1M docs", lambda:
        textstats.kneser_ney_bigrams(d, "text", k=100, min_count=5))
    run("soft_dedup_weights 1M docs", lambda:
        ddp.soft_dedup_weights(d, "text", "doc_id"))

    big = spark.range(20_000_000).select(
        "id",
        F.abs(F.xxhash64("id") % 1_000_000_000).alias("v"),
        (F.col("id") % 1000).cast("string").alias("c1"),
        (F.col("id") % 77).cast("string").alias("c2"),
    )
    run("trimmed_mean 20M near-unique values", lambda:
        stats.trimmed_mean(big, "v", 10, 90))
    run("hashed_feature_buckets 20M rows", lambda:
        features.hashed_feature_buckets(big, ["c1", "c2"], 4096))



def stress_round7l_second_decade(spark):
    """Second decade for the cheapest-to-generate round-7 families:
    ACF at 100 M rows x 1 M keys, BFS and LPA at 10 M vertices,
    t-closeness at 100 M rows — an order of magnitude past round-7i.
    Run: ``python tools/stress_curation.py --round7l``."""
    from etl_script_spark.operators import governance, graph, timeseries

    def run(name, fn):
        t0 = time.time()
        out = fn()
        out.write.mode("overwrite").format("noop").save()
        print(f"{name}: {time.time()-t0:.1f}s -> {out.count()} rows")

    series = spark.range(100_000_000).select(
        (F.col("id") % 1_000_000).alias("k"),
        (F.col("id") / F.lit(1_000_000)).cast("long").alias("i"),
        (F.abs(F.xxhash64("id")) % 10_000
         + ((F.col("id") / F.lit(1_000_000)).cast("long") % 7) * 3_000
         ).alias("v"),
    )
    run("acf_lags 100M rows x 1M keys x 3 lags", lambda:
        timeseries.acf_lags(series, ["k"], ["i"], "v", max_lag=3))

    n_v = 10_000_000
    base = spark.range(n_v)
    edges = base.select(
        F.col("id").alias("src"),
        ((F.col("id") * 10_000_019 + 7) % n_v).alias("dst"),
    ).unionByName(base.select(
        F.col("id").alias("src"),
        ((F.col("id") * 733 + 13) % n_v).alias("dst"),
    ))
    sources = base.filter(F.col("id") % 1_000_000 == 0).select(
        F.col("id").alias("vertex")
    )
    run("bfs_hops 10M vertices x 4 hops", lambda:
        graph.bfs_hops(edges, sources, max_hops=4))
    run("label_propagation 10M vertices x 3 iters", lambda:
        graph.label_propagation(edges, iters=3))

    qd = spark.range(100_000_000).select(
        (F.col("id") % 1_000_000).alias("g"),
        (F.abs(F.xxhash64("id", F.lit(3))) % 20).alias("s"),
    )
    run("t_closeness 100M rows x 1M groups x 20 cats", lambda:
        governance.t_closeness_report(qd, ["g"], "s", 300000))



def stress_round7m_newops(spark):
    """Decade push for the round-7f batch: sorted-neighborhood at
    10 M records, tolerance as-of at 10 M left x 10 M right, bootstrap
    CI at 10 M rows x 64 replicates (640 M weight draws through the
    map-side combine), Theil-Sen at 50 M pairs (10 k groups x ~100
    rows), LTTB at 100 M points, KMV at 10 M keys a side.
    Run: ``python tools/stress_curation.py --round7m``."""
    from etl_script_spark.operators import linkage, sketches, stats
    from etl_script_spark.operators import timeseries as ts_ops

    def run(name, fn):
        t0 = time.time()
        out = fn()
        out.write.mode("overwrite").format("noop").save()
        print(f"{name}: {time.time()-t0:.1f}s -> {out.count()} rows")

    rec = spark.range(10_000_000).select(
        F.col("id"),
        F.concat(
            F.conv(F.abs(F.xxhash64("id")) % 36**6, 10, 36),
            F.lit("-"),
            F.col("id").cast("string"),
        ).alias("k"),
    )
    run("sorted_neighborhood 10M recs w=3", lambda:
        linkage.sorted_neighborhood_pairs(rec, "id", "k", window=3,
                                          prefix_len=2))

    lts = spark.range(10_000_000).select(
        F.col("id").alias("lid"),
        (F.col("id") % 100_000).alias("k"),
        F.timestamp_micros(
            F.lit(1_600_000_000_000_000) + F.col("id") * 977
        ).alias("ts"),
    )
    rts = spark.range(10_000_000).select(
        (F.col("id") % 100_000).alias("k"),
        F.timestamp_micros(
            F.lit(1_600_000_000_000_000) + F.col("id") * 1013
        ).alias("ts"),
        F.col("id").alias("pay"),
    )
    from etl_script_spark.operators.asof import asof_join_tolerance
    run("asof_tolerance 10Mx10M 100k keys", lambda:
        asof_join_tolerance(lts, rts, "k", "ts", "ts",
                            {"pay": "pay"}, tolerance_sec=3600))

    vals = spark.range(10_000_000).select(
        F.col("id"), (F.abs(F.xxhash64("id")) % 100_000).alias("x"))
    run("bootstrap_ci 10M rows x 64 reps", lambda:
        stats.bootstrap_ci_mean(vals, "id", "x", n_boot=64))

    pan = spark.range(1_000_000).select(
        (F.col("id") % 10_000).cast("string").alias("g"),
        (F.col("id") / 10_000).alias("x"),
        (F.abs(F.xxhash64("id")) % 1_000_000).alias("y"),
    )
    run("theil_sen 1M rows, 10k groups (~50M pairs)", lambda:
        stats.theil_sen_groups(pan, "g", "x", "y"))

    series = spark.range(100_000_000).select(
        F.col("id").alias("t"),
        (F.abs(F.xxhash64("id")) % 1_000_000).alias("v"),
    )
    run("lttb 100M points -> 1000 buckets", lambda:
        ts_ops.lttb_downsample(series, "t", "v", n_buckets=1000))

    ka = spark.range(10_000_000).select(
        F.col("id").cast("string").alias("w"))
    kb = spark.range(5_000_000, 15_000_000).select(
        F.col("id").cast("string").alias("w"))
    run("kmv_jaccard 10M keys/side k=256", lambda:
        sketches.kmv_jaccard(ka, "w", kb, "w", k=256))


def stress_round7o_newops(spark):
    """Decade push for the round-7n batch: dataset fingerprint and
    Welch/DiD sufficient-statistic aggregations at 100 M rows, the
    Hilbert key chain at 100 M points, autocomplete over the 1 M-doc
    corpus, mutual-kNN over a 10 M-edge neighbor list.
    Run: ``python tools/stress_curation.py --round7o``."""
    import os

    from etl_script_spark.operators import governance, search, similarity, stats
    from etl_script_spark.sources import layout

    def run(name, fn):
        t0 = time.time()
        out = fn()
        out.write.mode("overwrite").format("noop").save()
        print(f"{name}: {time.time()-t0:.1f}s -> {out.count()} rows")

    big = spark.range(100_000_000).select(
        "id",
        (F.col("id") % 20).cast("string").alias("g"),
        F.abs(F.xxhash64("id") % 1_000_000).alias("v"),
        (F.col("id") % 2 == 0).alias("tr"),
        (F.col("id") % 3 == 0).alias("po"),
    )
    run("dataset_fingerprint 100M rows x 20 groups", lambda:
        governance.dataset_fingerprint(big, "g", ["id", "v"]))
    run("welch_ttest 100M rows", lambda:
        stats.welch_ttest(big, "g", "v", "1", "2"))
    run("diff_in_diff 100M rows x 20 groups", lambda:
        stats.diff_in_diff(big, "g", F.col("tr"), F.col("po"), F.col("v")))

    pts = spark.range(100_000_000).select(
        (F.abs(F.xxhash64("id")) % 65536).alias("x"),
        (F.abs(F.xxhash64("id", F.lit(1))) % 65536).alias("y"),
    )
    run("hilbert_key 100M points (16-bit grid)", lambda:
        layout.with_hilbert_key(pts, "x", "y", bits=16, out_col="h")
        .groupBy((F.col("h") % 64).alias("b"))
        .agg(F.count(F.lit(1)).alias("n")))

    corpus_path = "/tmp/etl_script_spark_io/stress_1000000"
    if os.path.exists(corpus_path + "/_SUCCESS"):
        d = spark.read.parquet(corpus_path)
        run("autocomplete 1M docs", lambda:
            search.autocomplete_prefix_topk(d, "text", 3, 5, 5))

    edges = spark.range(10_000_000).select(
        (F.col("id") % 1_000_000).alias("query_id"),
        F.abs(F.xxhash64("id") % 1_000_000).alias("vec_id"),
    )
    run("mutual_knn 10M-edge neighbor list", lambda:
        similarity.mutual_knn_pairs(edges))


def stress_round8_newops(spark):
    """Round-8 decade push for the last unswept round-7 operators:
    mutual-kNN CANDIDATE GENERATION at 10 M vectors through the LSH
    bucket path (round 7o covered only the edge-list filter),
    WordPiece and Kneser-Ney at 10 M docs, the streaming fingerprint
    across 128 micro-batch epochs (bit-equal to batch), and the
    re-measure of the fan_out'd randomization test.
    Run: ``python tools/stress_curation.py --round8``."""
    import os
    import shutil

    from pyspark.sql import Window

    from etl_script_spark.operators import (
        governance, similarity, stats, textstats, wordpiece,
    )

    def run(name, fn):
        t0 = time.time()
        out = fn()
        out.write.mode("overwrite").format("noop").save()
        print(f"{name}: {time.time()-t0:.1f}s -> {out.count()} rows")

    # --- mutual-kNN at 10 M x 16-dim vectors, LSH-bucketed ---------
    # 26 hyperplanes. Candidate volume = n^2 * sum_b p_b^2, and each
    # extra plane multiplies sum p_b^2 by q^2+(1-q)^2 where q is that
    # bit's split — MEASURED 0.68 here (biased bits: bounded integer
    # components concentrate hyperplane sums), NOT the 0.5 of ideal
    # bits. Probes: 18 planes -> 4.8e9 pairs at 10 M (run sat >13 min
    # in the join), 22 planes -> 1.04e9 (measured 60 s count), 26 ->
    # ~2e8. Lesson for the operator docs: the plane count must grow
    # with log(n) x measured bit quality, not ideal-bit math; the
    # plane count IS the candidate-volume knob (all-pairs is 1e14).
    # pmod, NOT %: the sign-following % gives [-3,1] with mean -1 —
    # every vector then shares one LSH orthant and the bucket join
    # degenerates quadratic (caught live: the first run sat >13 min
    # in the join). Uniform [-1,1] keeps the 2^18 buckets balanced.
    dim = 16
    vecs = spark.range(10_000_000).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (
                F.pmod(F.xxhash64(F.col("id"), i), F.lit(2001)) / 1000.0
                - 1.0
            ).cast("float"),
        ).alias("embedding"),
    )
    planes = similarity.random_hyperplanes(dim, 26, seed=8)

    def mknn():
        b = vecs.withColumn(
            "__bucket", similarity.lsh_bucket("embedding", planes)
        ).withColumn("__n", similarity.l2_norm(F.col("embedding")))
        q = b.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            "__bucket",
            F.col("__n").alias("__qn"),
        )
        cand = b.join(q, "__bucket").filter(
            F.col("vec_id") != F.col("query_id")
        )
        scored = cand.select(
            "query_id", "vec_id",
            (similarity.dot(F.col("embedding"), F.col("qvec"))
             / (F.col("__n") * F.col("__qn"))).alias("cs"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cs").desc(), F.col("vec_id").asc()
        )
        top5 = scored.withColumn("__r", F.row_number().over(w)).filter(
            F.col("__r") <= 5
        )
        return similarity.mutual_knn_pairs(top5, "query_id", "vec_id")

    run("mutual_knn 10M vectors via 26-plane LSH", mknn)

    # --- WordPiece + Kneser-Ney at 10 M docs -----------------------
    corpus_path = "/tmp/etl_script_spark_io/stress_10000000"
    if os.path.exists(corpus_path + "/_SUCCESS"):
        d = spark.read.parquet(corpus_path)
    else:
        t0 = time.time()
        d = build(spark, n=10_000_000, out=corpus_path)
        print(f"build 10M corpus: {time.time()-t0:.1f}s")
    run("wordpiece 10M docs", lambda: wordpiece.tokenize_wordpiece(
        d, "text", "doc_id"))
    run("kneser_ney_bigrams 10M docs", lambda:
        textstats.kneser_ney_bigrams(d, "text", k=100, min_count=5))

    # --- randomization test re-measure (fan_out fix, VERDICT #2) ---
    fact = spark.range(20_000_000).select(
        "id",
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
        F.abs(F.xxhash64("id") % 100_000).alias("v"),
    )
    run("randomization_test 20M rows x 49 reps", lambda:
        stats.randomization_test_mean_diff(fact, "id", "g", "v", "a", "b"))

    # --- streaming fingerprint across 128 epochs -------------------
    feed = "/tmp/etl_script_spark_io/stress_fp_feed"
    shutil.rmtree(feed, ignore_errors=True)
    for e in range(128):
        spark.range(e * 10_000, (e + 1) * 10_000).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 7).cast("string").alias("grp"),
            F.abs(F.xxhash64("id")).alias("v"),
        ).coalesce(1).write.mode("append").parquet(feed)
    batch = spark.read.parquet(feed)
    want = {
        r["group"]: (r["n_rows"], r["fingerprint"])
        for r in governance.dataset_fingerprint(
            batch, "grp", ["event_id", "v"]).collect()
    }
    sdf = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    fp = governance.dataset_fingerprint(sdf, "grp", ["event_id", "v"])
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="ckpt_fp128_")
    t0 = time.time()
    q = (
        fp.writeStream.format("memory").queryName("fp128")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(1200), "fp stream did not drain"
    n_batches = (q.lastProgress or {}).get("batchId", -1) + 1
    got = {
        r["group"]: (r["n_rows"], r["fingerprint"])
        for r in spark.table("fp128").collect()
    }
    wall = time.time() - t0
    assert got == want, (got, want)
    print(f"streaming fingerprint 128 epochs (1.28M rows): {wall:.1f}s, "
          f"{n_batches} micro-batches, bit-equal to batch: True")


def stress_round8b_newops(spark):
    """Decade push for the round-8 operator batch: Kruskal-Wallis at
    100 M rows (histogram + bucketed prefix sum — ranks never
    materialize), Brown-Forsythe at 100 M, CUPED at 100 M units,
    Kendall tau-b at 2 k-row groups x 500 groups (5e8 pairs through
    the group-keyed join), curriculum interleave + batch planner at
    100 M docs, char entropy + JS divergence + token dropout at the
    10 M-doc corpus. Run: ``python tools/stress_curation.py
    --round8b``."""
    import os

    from etl_script_spark.operators import search, stats, textstats

    def run(name, fn):
        t0 = time.time()
        out = fn()
        out.write.mode("overwrite").format("noop").save()
        print(f"{name}: {time.time()-t0:.1f}s -> {out.count()} rows")

    big = spark.range(100_000_000).select(
        "id",
        (F.col("id") % 5).cast("string").alias("g"),
        F.abs(F.xxhash64("id") % 100_000).alias("v"),
    )
    run("kruskal_wallis 100M rows x 5 groups", lambda:
        stats.kruskal_wallis(big, "g", "v"))
    run("brown_forsythe 100M rows x 5 groups", lambda:
        stats.brown_forsythe(big, "g", "v"))

    units = spark.range(100_000_000).select(
        (F.col("id") % 2).cast("string").alias("variant"),
        F.abs(F.xxhash64("id") % 10_000).alias("x"),
        (F.abs(F.xxhash64("id") % 10_000)
         + F.abs(F.xxhash64("id", F.lit(1)) % 1_000)).alias("y"),
    )
    run("cuped 100M units", lambda:
        stats.cuped_adjusted_means(units, "variant", "x", "y"))

    pair_groups = spark.range(1_000_000).select(
        (F.col("id") % 500).alias("g"),
        F.abs(F.xxhash64("id") % 100_000).alias("x"),
        F.abs(F.xxhash64("id", F.lit(1)) % 100_000).alias("y"),
    )
    run("kendall_tau 2k-row groups x 500 (1e9 pairs)", lambda:
        stats.kendall_tau_groups(pair_groups, "g", "x", "y"))

    docs100m = spark.range(100_000_000).select(
        F.col("id"),
        (10 + F.abs(F.xxhash64("id")) % 4000).alias("n_tok"),
    )
    run("batch_by_token_budget 100M docs", lambda:
        textstats.batch_by_token_budget(docs100m, "id", "n_tok",
                                        budget=8192))
    run("curriculum_interleave 100M docs", lambda:
        textstats.curriculum_interleave(docs100m, "id", "n_tok",
                                        n_strata=10))

    corpus_path = "/tmp/etl_script_spark_io/stress_10000000"
    if os.path.exists(corpus_path + "/_SUCCESS"):
        d = spark.read.parquet(corpus_path)
        run("char_entropy 10M docs", lambda:
            textstats.char_entropy(d, "text", "doc_id"))
        run("js_divergence 10M docs (split by doc parity)", lambda:
            textstats.js_divergence_tokens(
                d, "text", F.col("doc_id") % 2 == 0))
        run("token_dropout 10M docs", lambda:
            textstats.token_dropout(d, "text", "doc_id"))
        run("snippet_best_window 10M docs", lambda:
            search.snippet_best_window(
                d, "text", "doc_id", ["w001", "w002"], window_tokens=10))


def stress_round9_newops(spark):
    """Decade push for the round-9 batch + the round-8 long tail the
    VERDICT asked for: SymSpell at 1 M / 4 M vocabulary (deletion-key
    index is |V|·(len+1) — the join's candidate volume is the thing
    to watch), the snippet picker under hostile hit density (every
    token a query term), pack-efficiency + the batch planner at
    100 M docs, js_divergence at 100 M short docs (1.2e9 tokens, 2x
    the r8b token volume), the rewritten char_entropy at 10 M docs
    (was 232.6 s exploded), Holt at 10 M series x 20 points, Cohen's
    d / Levene-mean / McNemar / Cochran Q at 100 M rows, Friedman at
    1 M blocks, Adamic-Adar on a 1 M-vertex 4-out graph, burstiness +
    OOV at the 10 M-doc corpus. Run:
    ``python tools/stress_curation.py --round9``."""
    import os

    from etl_script_spark.operators import corpusstats  # noqa: F401
    from etl_script_spark.operators import graph as graph_ops
    from etl_script_spark.operators import search, stats, textstats
    from etl_script_spark.operators import timeseries as ts_ops

    def run(name, fn):
        t0 = time.time()
        out = fn()
        out.write.mode("overwrite").format("noop").save()
        print(f"{name}: {time.time()-t0:.1f}s -> {out.count()} rows")

    # --- SymSpell vocabulary decades -------------------------------
    def vocab_df(v):
        return spark.range(v).select(
            F.concat(
                F.lit("wd"),
                F.conv(
                    F.abs(F.xxhash64("id")).cast("string"), 10, 36
                ),
            ).alias("word"),
            (F.abs(F.xxhash64("id", F.lit(7))) % 100000 + 1).alias("cnt"),
        ).groupBy("word").agg(
            F.max("cnt").alias("cnt")
        )

    def queries_df(v, nq):
        # queries = vocab words with the 3rd char dropped (real ed-1)
        return (
            spark.range(nq)
            .select((F.abs(F.xxhash64("id", F.lit(3))) % v).alias("k"))
            .join(
                vocab_df(v).withColumn(
                    "k", F.abs(F.xxhash64(F.col("word"))) % v
                ),
                "k",
            )
            .select(
                F.concat(
                    F.substring("word", 1, 2), F.expr("substring(word, 4)")
                ).alias("q")
            )
            .distinct()
        )

    for v in (1_000_000, 4_000_000):
        vd, qd = vocab_df(v), queries_df(v, 10_000)
        run(f"symspell_suggest vocab={v//1_000_000}M, ~10k queries",
            lambda vd=vd, qd=qd: search.symspell_suggest(
                vd, qd, "word", "cnt", "q", k=3))

    # --- round-8 tail at the next decade ---------------------------
    corpus_path = "/tmp/etl_script_spark_io/stress_10000000"
    if os.path.exists(corpus_path + "/_SUCCESS"):
        d = spark.read.parquet(corpus_path)
        run("char_entropy 10M docs (per-row rewrite; was 232.6s)",
            lambda: textstats.char_entropy(d, "text", "doc_id"))
        # hostile snippet: EVERY token is a query term (the 500-word
        # salad vocab) -> hit count == token count in every doc
        terms = [f"w{i:03d}" for i in range(500)]
        run("snippet_best_window 10M docs, all-hit density",
            lambda: search.snippet_best_window(
                d, "text", "doc_id", terms, window_tokens=10))
        run("burstiness_fano 10M docs", lambda:
            corpusstats.burstiness_fano(d, "text", "doc_id",
                                        min_docs=5, k=50))
        vocab_ref = spark.range(300).select(
            F.format_string("w%03d", F.col("id")).alias("token"))
        run("oov_rate 10M docs vs 300-word vocab", lambda:
            textstats.oov_rate(d, "text", "doc_id", vocab_ref, "token"))

    docs100m = spark.range(100_000_000).select(
        F.col("id"),
        (10 + F.abs(F.xxhash64("id")) % 4000).alias("n_tok"),
    )

    def pack_eff():
        plan = textstats.batch_by_token_budget(
            docs100m, "id", "n_tok", budget=8192)
        batches = plan.groupBy("band", "batch_id").agg(
            F.sum("n_tokens").alias("toks"),
            F.count(F.lit(1)).cast("long").alias("n_docs"))
        return batches.groupBy(
            F.least(F.expr("(toks * 10) DIV 8192"), F.lit(10))
            .cast("int").alias("fill_decile")
        ).agg(F.count(F.lit(1)).cast("long").alias("n_batches"),
              F.sum("n_docs").cast("long").alias("n_docs"),
              F.sum("toks").cast("long").alias("n_tokens"))

    run("pack_efficiency rollup 100M docs", pack_eff)

    docs_txt_100m = spark.range(100_000_000).select(
        "id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(11)),
                lambda i: F.format_string(
                    "w%03d",
                    (F.xxhash64(i, F.col("id")) % 500 + 500) % 500),
            ), " ").alias("text"),
    )
    run("js_divergence 100M x 12-word docs (1.2e9 tokens)", lambda:
        textstats.js_divergence_tokens(
            docs_txt_100m, "text", F.col("id") % 2 == 0))

    # --- round-9 operators at their own decades --------------------
    big = spark.range(100_000_000).select(
        "id",
        (F.col("id") % 5).cast("string").alias("g"),
        F.abs(F.xxhash64("id") % 100_000).alias("v"),
    )
    run("levene_center_mean 100M rows x 5 groups", lambda:
        stats.levene_center_mean(big, "g", "v"))
    run("cohens_d 100M rows x 5 segments", lambda:
        stats.cohens_d_groups(
            big.withColumn("grp", F.col("id") % 2 == 0),
            "g", "grp", "v"))
    run("mcnemar 100M pairs", lambda:
        stats.mcnemar_test(
            big.select((F.col("v") > 50_000).alias("a"),
                       (F.xxhash64("id") % 3 == 0).alias("b")),
            "a", "b"))
    run("cochran_q 20M blocks x 5 treatments (100M cells)", lambda:
        stats.cochran_q(
            spark.range(100_000_000).select(
                (F.col("id") % 20_000_000).alias("blk"),
                F.expr("id DIV 20000000").alias("trt"),
                (F.xxhash64("id") % 4 == 0).alias("s")),
            "blk", "trt", "s"))
    run("friedman 1M blocks x 5 treatments", lambda:
        stats.friedman_test(
            spark.range(5_000_000).select(
                (F.col("id") % 1_000_000).alias("blk"),
                F.expr("id DIV 1000000").cast("string").alias("trt"),
                F.abs(F.xxhash64("id")).alias("v")),
            "blk", "trt", "v"))
    run("holt_linear 10M series x 20 points (200M rows)", lambda:
        ts_ops.holt_linear_smooth(
            spark.range(200_000_000).select(
                (F.col("id") % 10_000_000).alias("srs"),
                F.expr("id DIV 10000000").alias("t"),
                (F.xxhash64("id") % 10_000).alias("x")),
            "srs", "t", "x"))
    edges = spark.range(4_000_000).select(
        (F.col("id") % 1_000_000).alias("src"),
        (F.abs(F.xxhash64("id")) % 1_000_000).alias("dst"))
    run("adamic_adar 1M vertices, 4M edges, k=100", lambda:
        graph_ops.adamic_adar_scores(edges, deg_cap=64, k=100))


def stress_round10_newops(spark):
    """Round-10 decade push, per the r9 VERDICT asks: the Avro source
    at 1.5k shards (one task per shard — watching for a driver listing
    bottleneck), the lakehouse commit log at 10k commits (checkpointed
    replay must stay O(interval), and a real parquet-backed table at
    100 commits must read in constant commit-file opens), Adamic-Adar
    at 10 M vertices / 40 M edges, Holt at 1 M series x 200 points
    (the long-series shape; r9 did 10 M x 20), and corpus burstiness
    at the 100 M-doc decade. Run:
    ``python tools/stress_curation.py --round10``."""
    import os
    import shutil
    from decimal import Decimal

    from etl_script_spark.operators import corpusstats
    from etl_script_spark.operators import graph as graph_ops
    from etl_script_spark.operators import timeseries as ts_ops
    from etl_script_spark.sources import avro_io, lakelog

    def run(name, fn):
        t0 = time.time()
        out = fn()
        if hasattr(out, "write"):
            out.write.mode("overwrite").format("noop").save()
            cnt = out.count()
        else:
            cnt = out
        print(f"{name}: {time.time()-t0:.1f}s -> {cnt}", flush=True)

    # --- Avro at 1.5k shards ---------------------------------------
    d = "/tmp/etl_script_spark_io/stress_r10_avro"
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    dec_t = {"type": "bytes", "logicalType": "decimal",
             "precision": 15, "scale": 2}
    schema = {"type": "record", "name": "m", "fields": [
        {"name": "k", "type": "long"},
        {"name": "amt", "type": dec_t},
        {"name": "s", "type": "string"},
    ]}
    t0 = time.time()
    for sh in range(1500):
        recs = [
            {"k": sh * 200 + i, "amt": Decimal(sh * 200 + i).scaleb(-2),
             "s": f"row{sh}_{i}"}
            for i in range(200)
        ]
        avro_io.write_avro(f"{d}/p{sh:05d}.avro", schema, recs,
                           codec="deflate")
    print(f"avro write 1500 shards x 200 recs: {time.time()-t0:.1f}s",
          flush=True)
    run("avro distributed read 1500 shards (300k recs)", lambda:
        avro_io.read_avro_distributed(
            spark, f"{d}/p*.avro",
            "k long, amt decimal(15,2), s string"))

    # --- lakelog at 10k commits ------------------------------------
    tbl = "/tmp/etl_script_spark_io/stress_r10_lakelog"
    shutil.rmtree(tbl, ignore_errors=True)
    t0 = time.time()
    for v in range(1, 10_001):
        entry = {"version": v, "parent": v - 1, "action": "append",
                 "files": [f"data/x{v}.parquet"],
                 "schema": {"columns": [["k", "bigint"]],
                            "fingerprint": "f"}}
        assert lakelog._try_commit(tbl, v, entry)
        lakelog._maybe_checkpoint(tbl, v)
    print(f"lakelog 10k commits (+1k checkpoints): {time.time()-t0:.1f}s",
          flush=True)
    t0 = time.time()
    head = lakelog.latest_version(tbl)
    files = lakelog.snapshot_files(tbl)
    print(f"lakelog snapshot at head {head}: {time.time()-t0:.3f}s"
          f" -> {len(files)} files", flush=True)
    t0 = time.time()
    old = lakelog.snapshot_files(tbl, 5_005)
    print(f"lakelog time travel to v5005: {time.time()-t0:.3f}s"
          f" -> {len(old)} files", flush=True)

    # real parquet-backed table: 100 appends then one snapshot read
    tbl2 = "/tmp/etl_script_spark_io/stress_r10_laketbl"
    shutil.rmtree(tbl2, ignore_errors=True)
    t0 = time.time()
    for i in range(100):
        lakelog.write_table(
            spark.range(i * 1000, (i + 1) * 1000).select(
                F.col("id").alias("k")),
            tbl2)
    print(f"lakelog 100 real appends: {time.time()-t0:.1f}s", flush=True)
    run("lakelog read at 100-commit head (100k rows)", lambda:
        lakelog.read_table(spark, tbl2))

    # one transactional upsert against the 100-commit table
    run("lakelog upsert_table 10k-row batch into 100k-row table",
        lambda: (
            lakelog.upsert_table(
                spark,
                spark.range(50_000, 60_000).select(
                    F.col("id").alias("k")),
                tbl2, keys=["k"]),
        )[0])

    # --- Adamic-Adar at 10M vertices / 40M edges -------------------
    edges = spark.range(40_000_000).select(
        (F.col("id") % 10_000_000).alias("src"),
        (F.abs(F.xxhash64("id")) % 10_000_000).alias("dst"))
    run("adamic_adar 10M vertices, 40M edges, k=100", lambda:
        graph_ops.adamic_adar_scores(edges, deg_cap=64, k=100))

    # --- Holt at 1M series x 200 points ----------------------------
    run("holt_linear 1M series x 200 points (200M rows)", lambda:
        ts_ops.holt_linear_smooth(
            spark.range(200_000_000).select(
                (F.col("id") % 1_000_000).alias("srs"),
                F.expr("id DIV 1000000").alias("t"),
                (F.xxhash64("id") % 10_000).alias("x")),
            "srs", "t", "x"))

    # --- burstiness at 100M docs (1.2e9 tokens) --------------------
    docs = spark.range(100_000_000).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(11)),
                lambda i: F.format_string(
                    "w%03d",
                    (F.xxhash64(i, F.col("id")) % 500 + 500) % 500),
            ), " ").alias("text"),
    )
    run("burstiness_fano 100M x 12-word docs", lambda:
        corpusstats.burstiness_fano(docs, "text", "doc_id",
                                    min_docs=5, k=50))


if __name__ == "__main__":
    if "--round10" in sys.argv:
        spark = get_spark(app_name="stress-round10")
        stress_round10_newops(spark)
        spark.stop()
    elif "--round9" in sys.argv:
        spark = get_spark(app_name="stress-round9")
        stress_round9_newops(spark)
        spark.stop()
    elif "--round8b" in sys.argv:
        spark = get_spark(app_name="stress-round8b")
        stress_round8b_newops(spark)
        spark.stop()
    elif "--round8" in sys.argv:
        spark = get_spark(app_name="stress-round8")
        stress_round8_newops(spark)
        spark.stop()
    elif "--round6" in sys.argv:
        spark = get_spark(app_name="stress-round6")
        stress_round6_decade(spark)
        spark.stop()
    elif "--round6c" in sys.argv:
        spark = get_spark(app_name="stress-round6c")
        stress_round6c_textops(spark)
        spark.stop()
    elif "--round6b" in sys.argv:
        spark = get_spark(app_name="stress-round6b")
        stress_round6b_newops(spark)
        spark.stop()
    elif "--round6e" in sys.argv:
        spark = get_spark(app_name="stress-round6e")
        stress_round6e_augment(spark)
        spark.stop()
    elif "--round7o" in sys.argv:
        spark = get_spark(app_name="stress-round7o")
        stress_round7o_newops(spark)
        spark.stop()
    elif "--round7m" in sys.argv:
        spark = get_spark(app_name="stress-round7m")
        stress_round7m_newops(spark)
        spark.stop()
    elif "--round7l" in sys.argv:
        spark = get_spark(app_name="stress-round7l")
        stress_round7l_second_decade(spark)
        spark.stop()
    elif "--round7k" in sys.argv:
        spark = get_spark(app_name="stress-round7k")
        stress_round7k_newops(spark)
        spark.stop()
    elif "--round7j" in sys.argv:
        spark = get_spark(app_name="stress-round7j")
        stress_round7j_newops(spark)
        spark.stop()
    elif "--round7i" in sys.argv:
        spark = get_spark(app_name="stress-round7i")
        stress_round7i_newops(spark)
        spark.stop()
    elif "--round7h" in sys.argv:
        spark = get_spark(app_name="stress-round7h")
        stress_round7h_rankstats(spark)
        spark.stop()
    elif "--round7g" in sys.argv:
        spark = get_spark(app_name="stress-round7g")
        stress_round7g_textstats(spark)
        spark.stop()
    elif "--round7c" in sys.argv:
        spark = get_spark(app_name="stress-round7c")
        stress_round7c_newops(spark)
        spark.stop()
    elif "--round7" in sys.argv:
        spark = get_spark(app_name="stress-round7")
        stress_round7_decade(spark)
        spark.stop()
    elif "--round6d" in sys.argv:
        spark = get_spark(app_name="stress-round6d")
        stress_round6d_corpusops(spark)
        spark.stop()
    else:
        main()
