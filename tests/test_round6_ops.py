"""Round-6 operator tests: Fellegi-Sunter EM weight fit vs a pure
float EM reference, plus its guard rails. Seeded random (not
hypothesis) — one Spark job per example is the cost model."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from etl_script_spark.operators import linkage


def _em_reference(vectors, iters, m0=0.9, u0=0.1, p0=0.5):
    """Unquantized per-pair float EM — independent of the engine's
    histogram-collapsed, ppb-quantized implementation."""
    nf = len(vectors[0])
    m, u, p = [m0] * nf, [u0] * nf, p0
    for _ in range(iters):
        sw, swg, sug = 0.0, [0.0] * nf, [0.0] * nf
        for g in vectors:
            pm, pu = p, 1.0 - p
            for f in range(nf):
                pm *= m[f] if g[f] else 1.0 - m[f]
                pu *= u[f] if g[f] else 1.0 - u[f]
            w = pm / (pm + pu)
            sw += w
            for f in range(nf):
                if g[f]:
                    swg[f] += w
                    sug[f] += 1.0 - w
        su = len(vectors) - sw
        m = [swg[f] / sw for f in range(nf)]
        u = [sug[f] / su for f in range(nf)]
        p = sw / len(vectors)
    return m, u, p


def _comparators():
    return [
        linkage.Comparator("f1", F.col("a1") == F.col("b1"), 1, -1),
        linkage.Comparator("f2", F.col("a2") == F.col("b2"), 1, -1),
        linkage.Comparator("f3", F.col("a3") == F.col("b3"), 1, -1),
    ]


def _pairs_df(spark, vectors):
    # encode each agreement vector as a pair row whose field equality
    # reproduces it (equal values agree, distinct values disagree)
    rows = []
    for i, g in enumerate(vectors):
        rows.append(
            tuple(
                [i]
                + [1 if g[f] else 0 for f in range(3)]
                + [1 if g[f] else 2 for f in range(3)]
            )
        )
    return spark.createDataFrame(
        rows, "pid long, a1 int, a2 int, a3 int, b1 int, b2 int, b3 int"
    )


def test_em_fit_matches_float_reference_on_random_patterns(spark):
    """ppb-quantized histogram EM == unquantized per-pair float EM to
    well inside the quantization error budget, across three seeded
    mixtures of planted match / non-match populations."""
    for seed in (7, 41, 97):
        rng = random.Random(seed)
        vectors = []
        for _ in range(400):
            if rng.random() < 0.3:  # latent match: fields mostly agree
                g = tuple(rng.random() < 0.9 for _ in range(3))
            else:  # latent non-match: fields mostly disagree
                g = tuple(rng.random() < 0.15 for _ in range(3))
            vectors.append(g)
        fitted = {
            r["field"]: r
            for r in linkage.em_fit_weights(
                _pairs_df(spark, vectors), _comparators(), iters=3
            ).collect()
        }
        m_ref, u_ref, p_ref = _em_reference(vectors, iters=3)
        for f, name in enumerate(["f1", "f2", "f3"]):
            row = fitted[name]
            assert abs(row["m_ppb"] / 1e9 - m_ref[f]) < 1e-5, (seed, name)
            assert abs(row["u_ppb"] / 1e9 - u_ref[f]) < 1e-5, (seed, name)
            assert abs(row["prior_ppb"] / 1e9 - p_ref) < 1e-5, (seed, name)
            # a separating field must yield positive agreement weight
            # and negative disagreement weight
            assert row["w_agree"] > 0 > row["w_disagree"], (seed, name)


def test_em_fitted_weights_feed_back_into_link(spark):
    """The fit's output plugs straight into Comparator weights and the
    resulting link() keeps the planted matches."""
    vectors = [(True, True, True)] * 50 + [(False, False, False)] * 150
    pairs = _pairs_df(spark, vectors)
    fitted = {
        r["field"]: r
        for r in linkage.em_fit_weights(pairs, _comparators(), iters=2).collect()
    }
    comps = [
        linkage.Comparator(
            c.name, c.agree, fitted[c.name]["w_agree"], fitted[c.name]["w_disagree"]
        )
        for c in _comparators()
    ]
    scored = linkage.score_candidates(pairs, comps)
    hi = scored.filter(F.col("score") > 0).count()
    assert hi == 50  # exactly the planted all-agree population


def test_em_fit_empty_comparators_raises(spark):
    with pytest.raises(ValueError):
        linkage.em_fit_weights(spark.range(1), [], iters=1)


def test_score_candidates_empty_comparators_raises(spark):
    with pytest.raises(ValueError):
        linkage.score_candidates(spark.range(1), [])


def test_minhash_identity_collapse_preserves_clusters(spark):
    """A 40-doc byte-identical class emits a 39-pair hub star instead
    of the 780-pair clique; non-identical near-dups keep the full
    enumeration; connected components are IDENTICAL to exhaustive
    mode."""
    from etl_script_spark.operators import dedup as dd

    rows = (
        # 40-doc byte-identical class -> one signature-identity group
        [(i, "every page of this site is the same boilerplate text")
         for i in range(40)]
        # 3 near-identical but DISTINCT docs (one word varies):
        # signatures differ, so no collapse — full pair enumeration
        + [(100, "the quick brown fox jumps over the lazy dog tonight"),
           (101, "the quick brown fox jumps over the lazy cat tonight"),
           (102, "the quick brown fox jumps over the lazy pig tonight")]
        # singletons
        + [(200 + i, f"unique document number {i} about topic {i * 7}")
           for i in range(5)]
    )
    d = spark.createDataFrame(rows, "doc_id long, text string")

    star = dd.minhash_lsh_candidates(d, "doc_id", "text")
    full = dd.minhash_lsh_candidates(
        d, "doc_id", "text", collapse_identical=False
    )
    star_pairs = {(r["id_a"], r["id_b"]) for r in star.collect()}
    full_pairs = {(r["id_a"], r["id_b"]) for r in full.collect()}
    dense_star = {p for p in star_pairs if p[1] < 100}
    dense_full = {p for p in full_pairs if p[1] < 100}
    assert dense_star == {(0, i) for i in range(1, 40)}
    assert len(dense_full) == 780
    # the distinct near-dup docs are NOT collapsed: both modes emit
    # the same (banding-found) pairs among them
    assert {p for p in star_pairs if p[0] >= 100} == {
        p for p in full_pairs if p[0] >= 100
    }
    # star pairs carry est_jaccard 1.0 (identical signatures)
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in star.collect()}
    assert all(est[p] == 1.0 for p in dense_star)
    # identical connected components
    cc_star = {
        (r["id"], r["cluster_id"])
        for r in dd.connected_components(
            star.select("id_a", "id_b"), "id_a", "id_b"
        ).collect()
    }
    cc_full = {
        (r["id"], r["cluster_id"])
        for r in dd.connected_components(
            full.select("id_a", "id_b"), "id_a", "id_b"
        ).collect()
    }
    assert cc_star == cc_full
    star.unpersist()
    full.unpersist()


# ---------------------------------------------------------------------------
# DSIR importance resampling (operators/dsir.py)
# ---------------------------------------------------------------------------


def _dsir_corpus(spark, n_noise=30):
    # target-domain docs (science-ish vocabulary) + distinctive
    # candidates: two science-flavored, the rest cooking-flavored
    rows = []
    for i in range(10):
        rows.append((i, f"the quantum field theory of particle {i} physics", True))
    rows.append((100, "quantum physics of the field and particle decay", False))
    rows.append((101, "field theory explains quantum particle states", False))
    for i in range(n_noise):
        rows.append((200 + i, f"chop the onion {i} and simmer the garlic broth", False))
    return spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")


def test_dsir_science_docs_outrank_cooking(spark):
    from etl_script_spark.operators import dsir

    d = _dsir_corpus(spark)
    w = dsir.dsir_weights(d, "doc_id", "text", F.col("is_t"), n_buckets=512)
    picked = {
        r.doc_id
        for r in dsir.dsir_select(w, "doc_id", 12).collect()
    }
    # the two held-out science docs must be selected ahead of cooking noise
    assert {100, 101} <= picked
    assert not any(i >= 200 for i in picked)


def test_dsir_weights_invariant_under_partitioning(spark):
    from etl_script_spark.operators import dsir

    d = _dsir_corpus(spark)
    base = {
        r.doc_id: (r.n_grams, r.weight_q)
        for r in dsir.dsir_weights(
            d.coalesce(1), "doc_id", "text", F.col("is_t"), n_buckets=512
        ).collect()
    }
    shuffled = {
        r.doc_id: (r.n_grams, r.weight_q)
        for r in dsir.dsir_weights(
            d.repartition(7), "doc_id", "text", F.col("is_t"), n_buckets=512
        ).collect()
    }
    assert base == shuffled  # quantized-integer sums: bit-equal


def test_dsir_empty_docs_produce_no_rows(spark):
    from etl_script_spark.operators import dsir

    d = spark.createDataFrame(
        [(1, "hello world", True), (2, "", False), (3, None, False)],
        "doc_id long, text string, is_t boolean",
    )
    got = dsir.dsir_weights(d, "doc_id", "text", F.col("is_t")).collect()
    assert {r.doc_id for r in got} == {1}
    # unigrams (2) + bigram (1)
    assert got[0].n_grams == 3


def test_dsir_weights_scan_rooted_input_runs_no_job_while_built(spark, tmp_path):
    """The documented input contract: on a scan-rooted plan, building
    dsir_weights (fan_out's partition-count read included) submits no
    Spark job; only the action does."""
    from etl_script_spark.operators import dsir

    _dsir_corpus(spark).write.parquet(str(tmp_path / "docs"))
    d = spark.read.parquet(str(tmp_path / "docs"))
    sc = spark.sparkContext
    group = "dsir-scan-rooted-build"
    sc.setJobGroup(group, "dsir_weights plan construction")
    try:
        w = dsir.dsir_weights(d, "doc_id", "text", F.col("is_t"), n_buckets=512)
        built = list(sc.statusTracker().getJobIdsForGroup(group))
        assert w.count() > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert built == []


def test_dsir_validation():
    from etl_script_spark.operators import dsir

    with pytest.raises(ValueError):
        dsir.gram_buckets(F.col("text"), n_buckets=0)
    with pytest.raises(ValueError):
        dsir.dsir_select(None, "doc_id", 0)


# ---------------------------------------------------------------------------
# Product quantization / IVF-PQ (operators/similarity.py)
# ---------------------------------------------------------------------------


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_pq_codes_in_range_and_partition_invariant(spark):
    from etl_script_spark.operators import similarity

    e = _emb(spark)
    books = similarity.pq_fit(e, dim=64, m=8, ksub=16)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
    codes1 = {
        r.vec_id: r.codes
        for r in e.coalesce(1)
        .select("vec_id", similarity.pq_encode("embedding", books).alias("codes"))
        .collect()
    }
    codes2 = {
        r.vec_id: r.codes
        for r in e.repartition(5)
        .select("vec_id", similarity.pq_encode("embedding", books).alias("codes"))
        .collect()
    }
    assert codes1 == codes2
    for c in codes1.values():
        assert len(c) == 8 and all(0 <= v < 16 for v in c)


def test_pq_adc_tracks_exact_cosine(spark):
    from etl_script_spark.operators import similarity
    from pyspark.sql import functions as SF

    e = _emb(spark)
    books = similarity.pq_fit(e, dim=64, m=8, ksub=32)
    qrow = e.filter(SF.col("vec_id") == 0).first()
    q = [float(v) for v in qrow.embedding]
    qlit = (
        "array(" + ",".join(f"CAST('{v!r}' AS DOUBLE)" for v in q) + ")"
    )
    coded = e.select(
        "vec_id",
        "embedding",
        similarity.pq_encode("embedding", books).alias("__codes"),
    )
    both = coded.select(
        "vec_id",
        similarity.pq_adc_score("__codes", qlit, books).alias("adc"),
        (
            similarity.dot(SF.col("embedding"), SF.expr(qlit))
            / (
                similarity.l2_norm(SF.col("embedding"))
                * similarity.l2_norm(SF.expr(qlit))
            )
        ).alias("exact"),
    ).collect()
    err = sum(abs(r.adc - r.exact) for r in both) / len(both)
    assert err < 0.08, err  # ADC is approximate but must track closely


def test_pq_fit_validation(spark):
    from etl_script_spark.operators import similarity

    e = _emb(spark)
    with pytest.raises(ValueError):
        similarity.pq_fit(e, dim=64, m=7)
    with pytest.raises(ValueError):
        similarity.pq_fit(e, dim=64, m=8, ksub=0)


def test_ivfpq_plan_no_python_no_cartesian(spark):
    from etl_script_spark.plans.catalog import CATALOG

    df = CATALOG["ann_ivfpq_topk"].spark(spark, "/root/testdata/sf0.001")
    df.write.mode("overwrite").format("noop").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "ArrowEval" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Naive Bayes classifier (operators/classify.py)
# ---------------------------------------------------------------------------


def test_nb_learns_separable_classes(spark):
    from etl_script_spark.operators import classify

    rows = []
    for i in range(40):
        rows.append((i, f"alpha beta gamma delta token{i % 5}", True))
        rows.append((100 + i, f"uno dos tres cuatro token{i % 5}", False))
    d = spark.createDataFrame(rows, "doc_id long, text string, y boolean")
    got = classify.nb_train_score(
        d, "doc_id", "text", F.col("y"), F.col("doc_id") % 10 < 8
    ).collect()
    assert len(got) > 0
    for r in got:
        assert r.predicted == (r.doc_id < 100), r


def test_nb_scores_partition_invariant(spark):
    from etl_script_spark.operators import classify

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lbl = F.coalesce(F.col("lang") == "en", F.lit(False))
    split = F.col("doc_id") % 10 < 8
    a = {
        r.doc_id: (r.n_tokens, r.score_q, r.predicted)
        for r in classify.nb_train_score(
            d.coalesce(1), "doc_id", "text", lbl, split
        ).collect()
    }
    b = {
        r.doc_id: (r.n_tokens, r.score_q, r.predicted)
        for r in classify.nb_train_score(
            d.repartition(7), "doc_id", "text", lbl, split
        ).collect()
    }
    assert a == b


def test_nb_holdout_coverage_and_score_shape(spark):
    """On the fixture corpus the lang label is INDEPENDENT of the
    token distribution (all langs draw from the same 31-word
    vocabulary), so accuracy there is chance by construction — the
    catalog entry is a cross-engine mechanics contract, and
    learnability is asserted on the separable corpus above. Here:
    every held-out doc with >= 1 in-vocab token gets exactly one
    scored row, and predicted == (score_q > 0)."""
    from etl_script_spark.operators import classify
    from etl_script_spark.operators.export import shard_id

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lbl = F.coalesce(F.col("lang") == "en", F.lit(False))
    split = shard_id(F.col("doc_id"), 10, seed="nb") < 8
    scored = classify.nb_train_score(d, "doc_id", "text", lbl, split).collect()
    n_holdout = d.filter(~split).count()
    assert 0 < len(scored) <= n_holdout
    assert len({r.doc_id for r in scored}) == len(scored)
    for r in scored:
        assert r.predicted == (r.score_q > 0)


def test_nb_score_join_not_broadcast(spark):
    """The held-out token explode must never be a broadcast build
    (corpus-sized at scale; the planner's estimate through the
    md5-split filter is garbage) — the score join is pinned MERGE."""
    from etl_script_spark.plans.catalog import CATALOG

    df = CATALOG["quality_nb_classifier"].spark(spark, "/root/testdata/sf0.001")
    df.write.mode("overwrite").format("noop").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    # token-keyed joins must be SortMergeJoin; the only broadcasts
    # left are the one-row stats/prior scalars (IdentityBroadcastMode)
    assert "SortMergeJoin" in plan
    for mode in re.findall(r"BroadcastExchange (\w+)", plan):
        assert mode == "IdentityBroadcastMode", plan


# ---------------------------------------------------------------------------
# Exact-substring span removal (operators/dedup.py)
# ---------------------------------------------------------------------------


def test_substring_remove_cuts_cross_doc_spans_only(spark):
    from etl_script_spark.operators import dedup as dd

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x y z a b c d e f g h i j q r"),  # embeds doc 1 verbatim
        (3, "completely different words only here present"),
        (4, "a b c d e f g h i j"),            # exact copy -> fully cut
        (5, "p q r s p q r s p q r s"),        # WITHIN-doc repeat: kept
        (6, "tiny doc"),                        # shorter than n: verbatim
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed)
        for r in dd.remove_duplicate_spans(d, "text", "doc_id", n=5).collect()
    }
    assert got[1] == ("a b c d e f g h i j", 10, 0)
    assert got[2] == ("x y z q r", 15, 10)
    assert got[3] == ("completely different words only here present", 6, 0)
    assert got[4] == ("", 10, 10)
    assert got[5] == ("p q r s p q r s p q r s", 12, 0)
    assert got[6] == ("tiny doc", 2, 0)


def test_substring_remove_partition_invariant_and_validates(spark):
    from etl_script_spark.operators import dedup as dd

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in dd.remove_duplicate_spans(
            d.coalesce(1), "text", "doc_id", n=8
        ).collect()
    }
    b = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in dd.remove_duplicate_spans(
            d.repartition(7), "text", "doc_id", n=8
        ).collect()
    }
    assert a == b
    with pytest.raises(ValueError):
        dd.remove_duplicate_spans(d, "text", "doc_id", n=1)


# ---------------------------------------------------------------------------
# PCA fit / projection (operators/similarity.py)
# ---------------------------------------------------------------------------


def test_pca_components_orthonormal_and_ordered(spark):
    import numpy as np

    from etl_script_spark.operators import similarity

    e = _emb(spark)
    m = similarity.pca_fit(e, dim=64, k=16)
    C = np.asarray(m["components"])
    assert np.allclose(C @ C.T, np.eye(16), atol=1e-9)
    ev = m["eigvals"]
    assert all(ev[i] >= ev[i + 1] - 1e-12 for i in range(len(ev) - 1))
    assert sum(ev) <= m["total_var"] + 1e-9


def test_pca_projection_partition_invariant_and_whiten(spark):
    from etl_script_spark.operators import similarity

    e = _emb(spark)
    m = similarity.pca_fit(e, dim=64, k=8)
    a = {
        r.vec_id: tuple(r.p)
        for r in e.coalesce(1)
        .select("vec_id", similarity.pca_project("embedding", m).alias("p"))
        .collect()
    }
    b = {
        r.vec_id: tuple(r.p)
        for r in e.repartition(5)
        .select("vec_id", similarity.pca_project("embedding", m).alias("p"))
        .collect()
    }
    assert a == b  # literal-model projection: bit-equal anywhere
    w = {
        r.vec_id: r.p
        for r in e.select(
            "vec_id",
            similarity.pca_project("embedding", m, whiten=True).alias("p"),
        ).collect()
    }
    # whitened scores = plain scores / sqrt(eigval), componentwise
    import math

    for vid, plain in list(a.items())[:20]:
        for j in range(8):
            exp = plain[j] / math.sqrt(max(m["eigvals"][j], 1e-12))
            assert abs(w[vid][j] - exp) < 1e-9


def test_pca_fit_validation(spark):
    from etl_script_spark.operators import similarity

    with pytest.raises(ValueError):
        similarity.pca_fit(_emb(spark), dim=64, k=0)
    with pytest.raises(ValueError):
        similarity.pca_fit(_emb(spark), dim=64, k=65)


# ---------------------------------------------------------------------------
# HTML main-content extraction (operators/htmlextract.py)
# ---------------------------------------------------------------------------


def test_html_extract_density_and_length_rules(spark):
    from etl_script_spark.operators import htmlextract

    long_txt = "this is a long enough paragraph of genuine running text"
    pages = [
        # nav + content + footer: only content survives
        (1, f'<div><a href="/">home</a> <a>about</a></div><p>{long_txt}</p>'
            '<div class="footer">copyright <a>terms</a></div>'),
        # link farm: long but pure anchor text -> dropped
        (2, f'<div><a href="#">{"spam link text " * 6}</a></div>'),
        # mixed block: long text with one small link -> kept
        (3, f'<p>{long_txt} see <a href="x">here</a></p>'),
        # script containing fake markup must not leak
        (4, f"<script>var a = '<p>{long_txt}</p>';</script><p>{long_txt}</p>"),
        (5, None),
        (6, "<p>short</p>"),
    ]
    d = spark.createDataFrame(pages, "doc_id long, html string")
    got = {
        r.doc_id: r.main_text
        for r in htmlextract.extract_main_text(d, "html", "doc_id").collect()
    }
    assert got[1] == long_txt
    assert got[2] == ""
    assert got[3] == f"{long_txt} see here"
    assert got[4] == long_txt
    assert got[5] == ""
    assert got[6] == ""


def test_html_extract_validation(spark):
    from etl_script_spark.operators import htmlextract

    d = spark.createDataFrame([(1, "<p>x</p>")], "doc_id long, html string")
    with pytest.raises(ValueError):
        htmlextract.extract_main_text(d, "html", "doc_id", min_len=0)
    with pytest.raises(ValueError):
        htmlextract.extract_main_text(d, "html", "doc_id", max_link_density=2.0)


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (operators/unigram_tok.py)
# ---------------------------------------------------------------------------


def _brute_best(word, nll_q):
    # enumerate all segmentations (word short), same tie-break as
    # viterbi: (cost, start-of-last-piece asc == longer last, piece)
    best = None
    oov = max(nll_q.values(), default=0) + 10_000_000

    def rec(i, acc, cost):
        nonlocal best
        if i == len(word):
            key = (cost, tuple(acc))
            if best is None or cost < best[0]:
                best = (cost, list(acc))
            return
        for j in range(i + 1, len(word) + 1):
            p = word[i:j]
            c = nll_q.get(p)
            if c is None:
                if j - i > 1:
                    continue
                c = oov
            rec(j, acc + [p], cost + c)

    rec(0, [], 0)
    return best[0]


def test_unigram_viterbi_optimal_and_lossless():
    import random

    from etl_script_spark.operators import unigram_tok as ut

    rng = random.Random(11)
    alphabet = "abc"
    for _ in range(60):
        word = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 9)))
        vocab = {c: rng.randint(1, 50) * 1000 for c in alphabet}
        for _ in range(6):
            i = rng.randrange(len(word))
            j = rng.randint(i + 1, min(i + 4, len(word)))
            vocab[word[i:j]] = rng.randint(1, 80) * 1000
        seg = ut.viterbi_segment(word, vocab)
        assert "".join(seg) == word  # lossless always
        cost = sum(
            vocab.get(p, max(vocab.values()) + 10_000_000) for p in seg
        )
        assert cost == _brute_best(word, vocab)  # optimal always


def test_unigram_train_learns_repeated_substrings_and_is_deterministic():
    from etl_script_spark.operators import unigram_tok as ut

    freqs = [("internationalization", 50), ("internationalist", 40),
             ("nationalize", 30), ("rationalize", 20), ("zebra", 5)]
    v1 = ut.train_unigram(freqs, vocab_size=40, max_piece_len=8)
    v2 = ut.train_unigram(list(reversed(freqs)), vocab_size=40,
                          max_piece_len=8)
    assert v1 == v2  # order of the frequency table must not matter
    # the shared stem must surface as a multi-char piece and be USED
    seg = ut.viterbi_segment("internationalization", v1)
    assert "".join(seg) == "internationalization"
    assert len(seg) < len("internationalization")  # compresses
    assert any(len(p) >= 4 for p in seg)
    # unseen characters fall back to per-char OOV, never fail
    seg_oov = ut.viterbi_segment("zebraqqq", v1)
    assert "".join(seg_oov) == "zebraqqq"


def test_unigram_tokenize_mass_checks(spark):
    from etl_script_spark.operators import unigram_tok as ut

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vocab = ut.train_unigram(
        ut.word_frequencies(d, "text", limit=1024), vocab_size=256
    )
    out = {r.id: r for r in ut.tokenize_unigram(
        d, "text", "doc_id", vocab
    ).collect()}
    from pyspark.sql import functions as SF

    exp = {
        r.doc_id: (r.nw, r.nc)
        for r in d.select(
            "doc_id",
            SF.size(SF.filter(
                SF.split(SF.trim(SF.regexp_replace(SF.lower("text"), r"\s+", " ")), " "),
                lambda w: w != "",
            )).alias("nw"),
            SF.aggregate(
                SF.filter(
                    SF.split(SF.trim(SF.regexp_replace(SF.lower("text"), r"\s+", " ")), " "),
                    lambda w: w != "",
                ),
                SF.lit(0),
                lambda a, w: a + SF.length(w),
            ).alias("nc"),
        ).collect()
    }
    for did, r in out.items():
        assert (r.n_words, r.n_chars) == exp[did], did
        assert r.n_tokens <= r.n_chars  # never more pieces than chars
        if r.n_words:
            assert r.n_tokens >= r.n_words  # at least one piece per word


# ---------------------------------------------------------------------------
# Positional phrase search (operators/search.py)
# ---------------------------------------------------------------------------


def test_phrase_search_order_sensitive_and_overlapping(spark):
    from etl_script_spark.operators.search import phrase_occurrences

    d = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps the quick brown fox"),
            (2, "quick brown the fox"),            # words present, order wrong
            (3, "The  Quick   BROWN fox"),          # case/ws normalization
            (4, "a a a a"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.n_matches
        for r in phrase_occurrences(
            d, "text", "doc_id", ["quick", "brown", "fox"]
        ).collect()
    }
    assert got == {1: 2, 3: 1}
    # repeated-token phrase: overlapping matches all count
    rep = {
        r.doc_id: r.n_matches
        for r in phrase_occurrences(d, "text", "doc_id", ["a", "a"]).collect()
    }
    assert rep == {4: 3}
    with pytest.raises(ValueError):
        phrase_occurrences(d, "text", "doc_id", [])


# ---------------------------------------------------------------------------
# Distribution-matched sampling (operators/textstats.py)
# ---------------------------------------------------------------------------


def test_match_distribution_proportional_and_deterministic(spark):
    from etl_script_spark.operators import textstats as ts

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    bucket = (F.floor(F.col("n_chars") / 100) * 100).cast("long")
    kept = ts.sample_match_distribution(d, "doc_id", bucket, F.col("lang") == "en")
    kh = {r["__bucket"]: r["count"] for r in kept.groupBy("__bucket").count().collect()}
    th = {
        r["b"]: r["count"]
        for r in d.filter(F.col("lang") == "en")
        .groupBy(bucket.alias("b"))
        .count()
        .collect()
    }
    # kept/target ratio must be (nearly) constant across buckets:
    # every bucket within 35% of the overall ratio (hash sampling is
    # multinomial; fixture buckets hold 30-300 docs)
    overall = sum(kh.values()) / sum(th.values())
    for b, tcount in th.items():
        assert b in kh, b
        assert abs(kh[b] / tcount - overall) <= 0.35 * overall, (b, kh[b], tcount)
    # deterministic: same call, same rows
    ids1 = {r.doc_id for r in kept.select("doc_id").collect()}
    ids2 = {
        r.doc_id
        for r in ts.sample_match_distribution(
            d.repartition(7), "doc_id", bucket, F.col("lang") == "en"
        ).select("doc_id").collect()
    }
    assert ids1 == ids2


# ---------------------------------------------------------------------------
# Exact-size weighted sampling without replacement (A-Res / Gumbel top-k)
# ---------------------------------------------------------------------------


def test_weighted_topk_exact_size_and_partition_invariant(spark):
    from etl_script_spark.operators import textstats as ts

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    w = F.col("n_chars") + 1
    out = ts.weighted_sample_topk(d, "doc_id", w, n=50)
    rows = out.collect()
    assert len(rows) == 50
    assert len({r.doc_id for r in rows}) == 50  # without replacement
    # same sample regardless of physical partitioning
    ids2 = {
        r.doc_id
        for r in ts.weighted_sample_topk(d.repartition(13), "doc_id", w, n=50)
        .select("doc_id")
        .collect()
    }
    assert {r.doc_id for r in rows} == ids2
    # zero/negative weights are never selected; n > population returns all
    small = d.limit(20).withColumn(
        "w2", F.when(F.col("doc_id") % 2 == 0, F.lit(0)).otherwise(F.lit(5))
    )
    sel = ts.weighted_sample_topk(small, "doc_id", F.col("w2"), n=100).collect()
    assert all(r.doc_id % 2 == 1 for r in sel)
    assert len(sel) == small.filter("w2 > 0").count()
    with pytest.raises(ValueError):
        ts.weighted_sample_topk(d, "doc_id", w, n=0)


def test_weighted_topk_favors_heavy_rows(spark):
    """Statistical pull: with 100 rows where 10 carry 100x the weight of
    the rest, a 20-row sample must contain far more heavy rows than the
    2 expected under uniform sampling (heavy selection prob ~1 each)."""
    from etl_script_spark.operators import textstats as ts

    rows = [(i, 1000 if i < 10 else 10) for i in range(100)]
    d = spark.createDataFrame(rows, "id long, w long")
    heavy = sum(
        1
        for r in ts.weighted_sample_topk(d, "id", F.col("w"), n=20).collect()
        if r.id < 10
    )
    assert heavy >= 7, heavy


def test_match_distribution_quotient_is_exact_integer_div(spark):
    # ADVICE r6: decimal '/' + F.floor rounds the quotient HALF_UP to
    # 6 fractional digits BEFORE floor, so a true quotient within
    # ~5e-7 below an integer floors one higher than DuckDB's exact
    # '//'. Pin the DIV form on the adversarial boundary: t=2999992,
    # c=3000001 gives t*10^12 = k*c - 1 (quotient k - 1/c with
    # 1/c ≈ 3.3e-7 < 5e-7), where the broken form yields k.
    t, c, want = 2_999_992, 3_000_001, 999_997_000_000
    row = spark.createDataFrame([(t, c)], "t long, c long")
    div_form = row.select(
        F.expr(
            "(CAST(t AS DECIMAL(38,0)) * 1000000000000) "
            "DIV CAST(c AS DECIMAL(38,0))"
        ).alias("q")
    ).collect()[0]["q"]
    assert int(div_form) == want
    broken = row.select(
        F.floor(
            (F.col("t").cast("decimal(20,0)") * F.lit(10**12))
            / F.col("c").cast("decimal(20,0)")
        ).alias("q")
    ).collect()[0]["q"]
    assert int(broken) == want + 1  # documents WHY the DIV form is required
