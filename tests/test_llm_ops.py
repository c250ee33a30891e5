"""Recall checks for the approximate similarity paths vs the exact
brute-force baseline (the correctness contract an ANN operator has)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_script_spark.operators import similarity


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["vec_id"])
    return out


def _recall(approx, exact):
    per_q = [
        len(approx.get(q, set()) & hits) / len(hits) for q, hits in exact.items()
    ]
    return sum(per_q) / len(per_q)


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = _topk_sets(similarity.brute_force_topk(e, queries, k=10))

    lsh4 = _topk_sets(similarity.lsh_topk(e, queries, dim=64, k=10, n_planes=4))
    lsh2 = _topk_sets(similarity.lsh_topk(e, queries, dim=64, k=10, n_planes=2))
    ivf = _topk_sets(
        similarity.ivf_topk(e, queries, k=10, n_centroids=8, nprobe=3)
    )
    # self-match must always survive (query vectors are corpus rows)
    for q, hits in exact.items():
        assert q in lsh4.get(q, set())
        assert q in ivf.get(q, set())
    # random-plane recall on near-isotropic data ≈ (1-θ/π)^planes — low
    # in absolute terms; the contract is non-zero recall AND the
    # documented tunability: fewer planes ⇒ bigger buckets ⇒ recall up
    assert _recall(lsh4, exact) >= 0.1
    assert _recall(lsh2, exact) > _recall(lsh4, exact)
    assert _recall(ivf, exact) >= 0.4  # data-adapted cells beat random planes


def test_embedding_near_dups_planted(spark, sf_dir):
    """The synthetic corpus is isotropic noise (max pairwise cosine
    ~0.48), so zero near-dups is the RIGHT answer there. Plant scaled
    twins (cosine exactly 1.0, identical hyperplane signs → same LSH
    bucket in every band, so recall is guaranteed) and the operator
    must find every planted pair and nothing above threshold besides
    them."""
    e = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < 20)
        .select("vec_id", "embedding")
    )
    twins = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    dups = similarity.embedding_near_dups(
        e.unionByName(twins), threshold=0.999, dim=64
    )
    got = {(r["id_a"], r["id_b"]) for r in dups.collect()}
    assert got == {(i, i + 100000) for i in range(20)}


def test_embedding_near_dups_recall_at_threshold(spark, sf_dir):
    """VERDICT r3 #1: recall AT the advertised threshold, not just for
    0.999-cosine twins. Plant pairs at cosine ~= 0.951 (barely above
    the 0.95 threshold — exactly the pairs a single all-planes bucket
    finds less than half of) and require recall >= 0.95; banding (8x4
    OR-across-bands) puts the miss probability per pair at ~2e-4."""
    import numpy as np

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < 20)
        .select("vec_id", "embedding")
        .collect()
    )
    rng = np.random.default_rng(7)
    cos_target = 0.951
    data = []
    for r in rows:
        v = np.asarray(list(map(float, r["embedding"])))
        vn = v / np.linalg.norm(v)
        g = rng.standard_normal(len(v))
        u = g - (g @ vn) * vn
        u /= np.linalg.norm(u)
        w = cos_target * vn + np.sqrt(1.0 - cos_target**2) * u
        data.append((int(r["vec_id"]), [float(x) for x in v]))
        data.append((int(r["vec_id"]) + 100000, [float(x) for x in w]))
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    dups = similarity.embedding_near_dups(df, threshold=0.95, dim=64)
    got = {(r["id_a"], r["id_b"]) for r in dups.collect()}
    planted = {(i, i + 100000) for i in range(20)}
    found = len(got & planted)
    assert found / len(planted) >= 0.95
    # and nothing spurious: non-planted pairs are isotropic noise
    assert got <= planted


# CC_LOCAL_MAX_PAIRS values that force each connected_components path
CC_PATHS = {"local": 10**9, "star": 0}


def test_connected_components_shapes(spark, monkeypatch):
    """Chain, clique, and isolated pair must each collapse to their
    min id on both paths; singletons (no pairs) never appear in the
    label table."""
    from etl_script_spark.operators import dedup

    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (transitive), clique 10-11-12, pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    for bound in CC_PATHS.values():
        monkeypatch.setattr(dedup, "CC_LOCAL_MAX_PAIRS", bound)
        got = {
            (r["id"], r["cluster_id"])
            for r in dedup.connected_components(pairs).collect()
        }
        assert got == {
            (1, 1), (2, 1), (3, 1), (4, 1),
            (10, 10), (11, 10), (12, 10),
            (20, 20), (21, 20),
        }, bound
        assert dedup.connected_components(pairs.limit(0)).count() == 0, bound


@pytest.mark.parametrize("path", sorted(CC_PATHS))
def test_cc_self_pairs_and_null_ids(spark, monkeypatch, path):
    """A self-pair (a, a) labels a as its own cluster; a null id gets
    one (null, null) row and links nothing, so 3 in (3, null) stays a
    singleton; duplicate and reversed pairs change nothing."""
    from etl_script_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_LOCAL_MAX_PAIRS", CC_PATHS[path])
    pairs = spark.createDataFrame(
        [(7, 7), (1, 2), (2, 1), (1, 2), (3, None), (None, 4), (4, 5)],
        "id_a long, id_b long",
    )
    got = sorted(
        (tuple(r) for r in dedup.connected_components(pairs).collect()),
        key=str,
    )
    assert got == sorted(
        [(1, 1), (2, 1), (3, 3), (4, 4), (5, 4), (7, 7), (None, None)], key=str
    )


def test_cc_above_bound_never_collected(spark, monkeypatch):
    """A pair list one over CC_LOCAL_MAX_PAIRS stays distributed: the
    driver union-find never runs, and no collect brings more than one
    row (the star rounds' fingerprints) to the driver."""
    from etl_script_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    monkeypatch.setattr(dedup, "CC_LOCAL_MAX_PAIRS", 9)
    local_calls, collected = [], []
    # the session's concrete DataFrame class defines collect
    frame = type(pairs)
    real_collect = frame.collect

    def spy_local(rows):
        local_calls.append(len(rows))

    def spy_collect(df):
        rows = real_collect(df)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(dedup, "_local_components", spy_local)
    monkeypatch.setattr(frame, "collect", spy_collect)
    cc = dedup.connected_components(pairs)
    assert not local_calls
    assert collected and max(collected) == 1, collected
    monkeypatch.undo()
    assert {tuple(r) for r in cc.collect()} == {(i, 0) for i in range(11)}


@pytest.mark.parametrize(
    "name",
    ["dedup_cc_alternating", "dedup_cc_clusters", "dedup_keep_best_quality",
     "dedup_near_canonical"],
)
def test_cc_oracle_entries_on_both_paths(spark, sf_dir, monkeypatch, name):
    """The catalog entries built on connected_components give the same
    rows on the star path as on the driver path, which their pair
    count selects by default — the path test_oracle holds to the
    DuckDB oracle (whose recursive closure takes ~50 s per entry, so
    it is not re-run here)."""
    from unittest import mock

    from etl_script_spark.operators import dedup
    from etl_script_spark.plans.catalog import CATALOG
    from tests.oracle_utils import canon_rows

    def rows():
        df = CATALOG[name].spark(spark, sf_dir)
        return canon_rows(df.columns, df.collect())

    with mock.patch.object(
        dedup, "_local_components", side_effect=dedup._local_components
    ) as spy:
        local = rows()
    assert spy.called
    monkeypatch.setattr(dedup, "CC_LOCAL_MAX_PAIRS", 0)
    assert rows() == local
    assert local, "fixture should hold near-dup clusters"


def test_near_dup_canonical_keeps_one_per_cluster(spark):
    from etl_script_spark.operators.dedup import near_dup_canonical

    docs = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 5), (6, 7)], "id_a long, id_b long"
    )
    kept = sorted(
        r["doc_id"] for r in near_dup_canonical(docs, pairs, "doc_id").collect()
    )
    # cluster {1,2,5} -> keep 1; cluster {6,7} -> keep 6; 0,3,4 untouched
    assert kept == [0, 1, 3, 4, 6]


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cache_discipline_minhash_simhash_cc(spark, sf_dir, monkeypatch):
    """Eager operators must leave NO cache-manager entry behind except
    the returned (documented) result, released by .unpersist() — a
    catalog sweep must not accumulate dead signature/fingerprint
    caches (round-2 verdict item 6)."""
    from etl_script_spark.operators import dedup as dedup_ops

    spark.catalog.clearCache()
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    mh = dedup_ops.minhash_lsh_candidates(d, "doc_id", "text")
    assert mh.count() >= 0
    mh.unpersist()
    assert _cache_manager_empty(spark), "minhash left dead cache"

    sh = dedup_ops.simhash_near_dups(d, "doc_id", "text")
    assert sh.count() >= 0
    sh.unpersist()
    assert _cache_manager_empty(spark), "simhash left dead cache"

    cp = dedup_ops.containment_pairs(d, "text", "doc_id")
    assert cp.count() >= 0
    cp.unpersist()
    assert _cache_manager_empty(spark), "containment left dead cache"

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    for bound in CC_PATHS.values():
        monkeypatch.setattr(dedup_ops, "CC_LOCAL_MAX_PAIRS", bound)
        cc = dedup_ops.connected_components(pairs)
        assert cc.count() == 5
        assert _cache_manager_empty(spark), f"connected_components left dead cache ({bound})"


def test_catalog_containment_entries_leave_no_cache(spark, sf_dir):
    """The catalog entries built on the r10-eager containment_pairs
    must re-home the persisted pair table to a localCheckpoint and
    release it — a 384-entry sweep must not accumulate cache-manager
    entries (round-2 verdict item 6, the dedup_minhash_lsh pattern)."""
    from etl_script_spark.plans.catalog import CATALOG

    spark.catalog.clearCache()
    for name in ("dedup_containment_pairs", "pipeline_r7_curation_e2e"):
        assert CATALOG[name].spark(spark, sf_dir).count() >= 0
        assert _cache_manager_empty(spark), f"{name} left dead cache"


def test_cc_high_diameter_flat_planning(spark, monkeypatch):
    """A 51-hop path graph gets its full labelling on both paths with
    the default max_iter — no path's round count follows the diameter
    — and the star path's per-round checkpoints keep planning time
    flat (round-2 verdict item 7)."""
    import time

    from etl_script_spark.operators import dedup

    n = 52
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    for bound in CC_PATHS.values():
        monkeypatch.setattr(dedup, "CC_LOCAL_MAX_PAIRS", bound)
        start = time.perf_counter()
        got = dedup.connected_components(pairs).collect()
        elapsed = time.perf_counter() - start
        assert {(r["id"], r["cluster_id"]) for r in got} == {
            (i, 0) for i in range(n)
        }, bound
        # ~8 star rounds measured at 8.5s standalone; headroom for
        # shared sessions under load
        assert elapsed < 120, f"CC on 51-edge path took {elapsed:.1f}s"


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    """MinHash(64, two-hash xor-rotate family) candidates at
    est>=0.5 must recover >=90% of the exact n-gram Jaccard>=0.5
    pairs with accurate estimates — guards the hash-family quality
    (a degenerate family would pass rows-only checks silently)."""
    from etl_script_spark.operators import dedup as dedup_ops

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ex = dedup_ops.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ex.collect()}
    ex.unpersist()
    assert len(exact) >= 10, "fixture should contain planted near-dups"
    mh = dedup_ops.minhash_lsh_candidates(d, "doc_id", "text")
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in mh.filter(F.col("est_jaccard") >= 0.5).collect()
    }
    mh.unpersist()
    hits = [k for k in exact if k in got]
    assert len(hits) / len(exact) >= 0.9, (len(hits), len(exact))
    errs = [abs(got[k] - exact[k]) for k in hits]
    assert sum(errs) / len(errs) < 0.1, "estimates drifted"


def test_cc_alternating_path_graph_log_rounds(spark, monkeypatch):
    """On the star path a 52-node path converges in O(log n) rounds."""
    import time

    from etl_script_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_LOCAL_MAX_PAIRS", 0)
    n = 52
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    start = time.perf_counter()
    got = dedup.connected_components(path).collect()
    elapsed = time.perf_counter() - start
    assert {(r["id"], r["cluster_id"]) for r in got} == {
        (i, 0) for i in range(n)
    }
    # ~8 rounds of star ops (measured 8.5s standalone); generous
    # bound for loaded shared sessions
    assert elapsed < 60, f"alternating CC took {elapsed:.1f}s"


def test_char_shingles_catch_thai_near_dups(spark):
    """Word shingling goes blind on scripts without word delimiters;
    character shingles must still surface the planted Thai near-dup
    pair (docs 1 and 2 share all but the last word)."""
    from etl_script_spark.operators import dedup as dedup_ops

    thai = spark.createDataFrame(
        [
            (1, "บริษัทจำกัดมหาชนแห่งประเทศไทยดำเนินกิจการค้าปลีก"),
            (2, "บริษัทจำกัดมหาชนแห่งประเทศไทยดำเนินกิจการค้าส่ง"),
            (3, "ร้านอาหารริมทางกรุงเทพมหานครเปิดทุกวัน"),
        ],
        "doc_id long, text string",
    )
    char_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup_ops.ngram_jaccard_pairs(
            thai, "doc_id", "text", n=5, threshold=0.5, unit="char"
        ).collect()
    }
    word_pairs = dedup_ops.ngram_jaccard_pairs(
        thai, "doc_id", "text", n=3, threshold=0.5, unit="word"
    ).collect()
    assert char_pairs == {(1, 2)}
    assert word_pairs == []


def test_char_unit_minhash_thai(spark):
    """MinHash with unit='char' recovers the Thai near-dup pair with
    an accurate estimate (exact char-5-gram Jaccard is 0.85)."""
    from etl_script_spark.operators import dedup as dedup_ops

    thai = spark.createDataFrame(
        [
            (1, "บริษัทจำกัดมหาชนแห่งประเทศไทยดำเนินกิจการค้าปลีก"),
            (2, "บริษัทจำกัดมหาชนแห่งประเทศไทยดำเนินกิจการค้าส่ง"),
            (3, "ร้านอาหารริมทางกรุงเทพมหานครเปิดทุกวัน"),
        ],
        "doc_id long, text string",
    )
    mh = dedup_ops.minhash_lsh_candidates(
        thai, "doc_id", "text", shingle_n=5, unit="char"
    )
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in mh.filter(F.col("est_jaccard") >= 0.5).collect()
    }
    mh.unpersist()
    assert set(got) == {(1, 2)}
    assert abs(got[(1, 2)] - 0.85) < 0.15


def test_cc_alternating_raises_on_non_convergence(spark, monkeypatch):
    """ADVICE r3: on the star path, exhausting max_iter before the edge
    fixpoint must raise, not silently extract labels from a
    half-contracted graph."""
    from etl_script_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_LOCAL_MAX_PAIRS", 0)
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not reach"):
        dedup.connected_components(path, max_iter=1).collect()


def test_ivf_fit_sample_unbiased_under_adversarial_ids(spark):
    """VERDICT r3 #5: ids assigned sorted-by-cluster (the adversarial
    ingest-order case) must not bias the IVF fit — the hash-ordered
    sample sees both blobs, so queries from the HIGH-id blob still
    recall well. A lowest-id sample would fit every centroid inside
    blob 1 (ids 0..1499 < sample_size cover only blob 1)."""
    import numpy as np

    rng = np.random.default_rng(3)
    c1, c2 = rng.standard_normal(64) * 5, rng.standard_normal(64) * 5
    data = [
        (i, (c1 + rng.standard_normal(64)).tolist()) for i in range(1500)
    ] + [
        (1500 + i, (c2 + rng.standard_normal(64)).tolist())
        for i in range(1500)
    ]
    e = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    queries = e.filter(F.col("vec_id") >= 2995).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = _topk_sets(similarity.brute_force_topk(e, queries, k=10))
    ivf = _topk_sets(
        similarity.ivf_topk(e, queries, k=10, n_centroids=8, nprobe=3)
    )
    assert _recall(ivf, exact) >= 0.5


def test_quantize_int8_roundtrip_bound(spark):
    from pyspark.sql import functions as F

    from etl_script_spark.operators import similarity

    vec = spark.range(200).select(
        F.col("id").alias("vid"),
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: (F.xxhash64(i, F.col("id")) % 2000 - 1000).cast("double")
            / 500.0,
        ).alias("emb"),
    )
    # plant an all-zero vector
    vec = vec.withColumn(
        "emb",
        F.when(
            F.col("vid") == 7,
            F.transform(F.sequence(F.lit(0), F.lit(15)), lambda i: F.lit(0.0)),
        ).otherwise(F.col("emb")),
    )
    out = similarity.quantize_int8(vec, "vid", "emb")
    rows = out.join(
        vec.select(F.col("vid").alias("id"), "emb"), "id"
    ).collect()
    assert len(rows) == 200
    for r in rows:
        if r["scale"] == 0.0:
            assert all(q == 0 for q in r["q"])
            continue
        assert all(abs(q) <= 127 for q in r["q"])
        for x, q in zip(r["emb"], r["q"]):
            assert abs(x - q * r["scale"]) <= r["scale"] / 2 + 1e-12
