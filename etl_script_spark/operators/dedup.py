"""Deduplication operators.

Two families:

1. The reference's dedup semantics (SURVEY.md §2.7 D1-D3) —
   composite-key keep-first, ordered first-seen, multi-pass text dedup.
2. LLM-training-data near-dup detection at scale: exact (hash),
   MinHash+LSH, SimHash, n-gram Jaccard — the operators a 100 TB
   document corpus needs. All are shuffle-aware: candidate generation
   via band/bucket equi-joins (never an O(n²) cross join), verification
   only within buckets.

Hashing is deterministic (xxhash64/md5 with fixed seeds) so results
are stable across runs and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_script_spark.operators.merge import dedupe_first  # noqa: F401  (D1)

# shared across operator families; see partitioning.fan_out for the
# why (narrow input + CPU-heavy stage = single-threaded without it)
from etl_script_spark.operators.partitioning import fan_out as _fan_out


def dedupe_ordered(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """D2: unique by key preserving FIRST-seen order.

    Implemented as a ``min_by`` hash aggregate rather than a
    row_number window: the aggregate gets map-side partial combine
    (shuffle carries at most one row per key per mapper) and skips the
    per-key sort — the shape that survives 100 TB, and measurably
    faster at bench scale. Ties on order_col pick an arbitrary row,
    same as a non-unique window sort.

    Ref: dedupe_list_str pdf_ocr_rm_to_json.py:447-452.
    """
    from etl_script_spark.operators.merge import _keep_extreme

    return _keep_extreme(df, key_cols, order_col, last=False)


def normalize_text(c: Column) -> Column:
    """Shared text normalization for dedup: lowercase, collapse
    whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(c.cast("string")), r"\s+", " "))


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, normalize: bool = True
) -> DataFrame:
    """Exact dedup: group identical (normalized) text, keep the row
    with the smallest id. One shuffle on a 128-bit content hash —
    never on the raw text (at 100 TB the shuffle key must be tiny).

    Returns the surviving rows with ``dup_count``.
    """
    from etl_script_spark.operators.merge import _contains_map

    t = normalize_text(F.col(text_col)) if normalize else F.col(text_col)
    hashed = df.withColumn("__h", F.md5(t))
    # one hash aggregation: min(struct(id, payload)) keeps the
    # smallest-id row, count rides along — map-side combine collapses
    # duplicate groups before the shuffle (vs a sort window's full-row
    # shuffle + per-key sort). Struct min needs orderable fields; a
    # map-typed payload column (anywhere in the nesting) routes to
    # min_by keyed on the id alone instead of failing analysis.
    payload = [c for c in df.columns if c != id_col]
    orderable = not any(
        _contains_map(f.dataType) for f in df.schema.fields if f.name in payload
    )
    keeper = (
        F.min(F.struct(F.col(id_col), *[F.col(c) for c in payload]))
        if orderable
        else F.min_by(
            F.struct(F.col(id_col), *[F.col(c) for c in payload]),
            F.col(id_col),
        )
    )
    agg = hashed.groupBy("__h").agg(
        keeper.alias("__first"),
        F.count(F.lit(1)).alias("dup_count"),
    )
    return agg.select(
        *[F.col(f"__first.{c}").alias(c) for c in df.columns], "dup_count"
    )


def shingles(c: Column, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingle set of a text column (array<string>,
    distinct by default; ``distinct=False`` keeps the multiset for
    frequency-weighted consumers like tf-idf). Built with
    sequence+transform — no UDF.

    The token array is let-BOUND, never inlined: a raw ``words``
    subtree inside the transform lambda is re-evaluated per element
    when the expression lands in an interpreted context (and rules
    like InferFiltersFromGenerate clone shingle expressions into
    Filters below every explode) — per-document cost goes QUADRATIC
    in length; one 50k-word document measured 433 s before the bind,
    0.2 s after. Same lesson as ``let``'s docstring, new spelling."""
    from etl_script_spark.functions.exprs import let

    def build(words: Column) -> Column:
        k = F.size(words) - F.lit(n - 1)
        grams = F.when(
            k > 0,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.array_join(F.slice(words, i, n), " "),
            ),
        ).otherwise(F.array(F.array_join(words, " ")))
        return F.array_distinct(grams) if distinct else grams

    return let(F.split(normalize_text(c), " "), build)


def char_shingles(c: Column, n: int = 5, stride: int = 1) -> Column:
    """Character n-gram shingle set (array<string>, distinct) of the
    normalized text. The unit for scripts that do not delimit words
    with whitespace (Thai, CJK) — word shingles over such text
    degenerate to one giant token and near-dup detection goes blind.
    Character positions, not bytes, so multibyte scripts are safe.

    Built from a let-bound single-character array with O(1)
    ``element_at`` indexing — NOT per-position ``substr``: UTF8String
    substring re-scans from the head to find the codepoint boundary,
    so windowed substr is O(len^2) per document (invisible on
    sentence-length CJK, 30x wall on the round-6 200k x 700-char
    hex-payload stress; this build is O(len*n) and emits the identical
    shingle values, so fingerprints are unchanged)."""
    from etl_script_spark.functions.exprs import let

    def build(chars: Column) -> Column:
        k = F.size(chars) - F.lit(n - 1)
        grams = F.when(
            k > 0,
            F.transform(
                F.sequence(F.lit(1), k, F.lit(stride)),
                lambda i: F.concat(
                    *[F.element_at(chars, i + F.lit(j)) for j in range(n)]
                ),
            ),
        ).otherwise(F.array(F.array_join(chars, "")))
        return F.array_distinct(grams)

    return let(
        F.filter(F.split(normalize_text(c), ""), lambda x: x != ""), build
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 48,
    shingle_n: int = 3,
    unit: str = "word",
) -> DataFrame:
    """MinHash signatures as (id, sig array<bigint>[k]).

    Shape: explode shingles to rows, then ONE hash aggregation with k
    ``min`` aggregates over a k-column projection. The shingle set is
    computed exactly once per document (an inline array-of-k-transforms
    version gets its shingle expression re-inlined k times by
    CollapseProject — measured 70× slower), the partial mins combine
    map-side, and the work parallelizes across the shuffle. No UDF.

    Hash family: the two-hash trick — only TWO full string hashes per
    shingle (``xxhash64(sh)`` and a seeded variant), then k derived
    functions ``h1 XOR rotl(h2, s)``; rotate+xor instead of the
    classic ``h1 + s·h2`` because long add/multiply overflow THROWS
    under ANSI mode, while shifts/xor wrap silently. Per shingle row
    that is O(k) single-cycle long ops instead of O(k) string hashes —
    the dominant cost of signature generation at corpus scale. Codegen
    subexpression elimination evaluates the two shared xxhash64 calls
    once per row (verified: doubling k does not re-hash)."""
    if not 1 <= num_hashes <= 64:
        raise ValueError(
            f"num_hashes={num_hashes}: the two-hash rotate family has 64 "
            "distinct members; k>64 would silently repeat functions "
            "(s % 64) and carry no extra information"
        )
    shingle_fn = char_shingles if unit == "char" else shingles
    ex = _fan_out(df).select(
        F.col(id_col).alias("id"),
        F.explode(shingle_fn(F.col(text_col), shingle_n)).alias("__sh"),
    )
    h1 = F.xxhash64("__sh")
    h2 = F.xxhash64("__sh", F.lit(-1640531527))  # golden-ratio seed

    def _rotl(c: Column, r: int) -> Column:
        if r == 0:
            return c
        return F.shiftleft(c, r).bitwiseOR(F.shiftrightunsigned(c, 64 - r))

    proj = ex.select(
        "id",
        *[
            h1.bitwiseXOR(_rotl(h2, s % 64)).alias(f"__x{s}")
            for s in range(num_hashes)
        ],
    )
    aggs = [F.min(f"__x{s}").alias(f"__h{s}") for s in range(num_hashes)]
    return proj.groupBy("id").agg(*aggs).select(
        "id", F.array(*[F.col(f"__h{s}") for s in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 48,
    bands: int = 16,
    shingle_n: int = 3,
    eager: bool = True,
    unit: str = "word",
    collapse_identical: bool = True,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs. ``unit='char'``
    switches to character shingles for undelimited scripts (Thai,
    CJK) — see ``char_shingles``.

    shingle → minhash signature → split into ``bands`` bands of
    ``num_hashes/bands`` rows → hash each band → equi-join on
    (band_idx, band_hash). The join is the ONLY shuffle and its key
    is a 64-bit hash — this is the scale path (no pairwise compare
    outside shared buckets).

    Default 48×16 (3-row bands), not the classic 64×16: shorter
    bands DOMINATE the wider signature on recall at every jaccard
    level (miss at j=0.8: (1−0.8³)¹⁶ ≈ 1e-5 vs (1−0.8⁴)¹⁶ ≈ 2e-4;
    at j=0.5: 12% vs 35%) while the signature aggregate is 25%
    narrower — measured ~2× faster end-to-end (the k-column min
    aggregate's codegen and row width are the dominant signature
    cost). The price is more low-jaccard candidates per bucket,
    which the cheap agreement rejoin filters.

    Returns distinct candidate pairs (id_a < id_b) with their
    estimated Jaccard (signature agreement ratio).

    ``collapse_identical`` (default True): documents with IDENTICAL
    signatures (byte-identical or same-shingle-set texts — empty
    docs, mirrored boilerplate pages) are collapsed to one
    representative before the banded join, and each identity group is
    emitted as a hub→member star. A k-document identical class would
    otherwise enumerate Θ(k²) pairs through every band — the round-6
    decade sweep's 1M-doc corpus has a 20k-doc empty class, 3.2B
    pre-dedup join rows in exhaustive mode. The collapse is LOSSLESS
    for any downstream est_jaccard threshold: star pairs carry
    est_jaccard 1.0 (identical signatures agree everywhere), and any
    cross pair the exhaustive join would emit has the same agreement
    as its representatives' pair — so the thresholded candidate graph
    has identical connected components / canonical selection. Only
    the redundant clique enumeration inside identity groups is
    skipped; pass False to force it.

    Exchange economy: the signature table feeds THREE consumers
    (banding + both sides of the agreement rejoin) — it is persisted
    so the explode+k-aggregate signature pipeline runs exactly once
    (recomputing it 3× at 100 TB is days of cluster time). The banded
    self-join is hinted MERGE (sort-merge): both sides reuse ONE
    exchange, and the join spills instead of dying when AQE coalesces
    the small banded exchange into partitions whose shuffle-hash
    build relation would exceed task memory — the round-6 1M sweep
    killed the shuffle_hash variant exactly that way (hot template
    band-buckets × coalesced partitions → 1 GB un-spillable build);
    pair dedup stays a dropDuplicates so its partial aggregate
    collapses the ≤bands duplicate occurrences per pair MAP-SIDE
    before the exchange (an explicit repartition(id_a) that saves the
    dedup exchange measured 10× worse — it shuffles the full
    duplicated pair stream); the agreement rejoins hint shuffle_hash
    on the SIG side (per-partition build is |corpus|/partitions
    signature rows — bounded; hinting the pairs side builds the
    candidate stream into memory, which is exactly what must never
    happen at scale), and AQE stage reuse collapses the two sig
    shuffles into one.

    ``eager=True`` (default) materializes the (small) pair table into
    the returned persisted DataFrame and unpersists the signature
    intermediate before returning — a catalog sweep leaves no dead
    cache behind. Call ``.unpersist()`` on the result when done. With
    ``eager=False`` the pair DAG stays lazy (the signature cache is
    still materialized at build time — see the inline note: concurrent
    consumer stages would otherwise race the empty cache and recompute
    the signature pipeline) and the cache must be released by the
    caller via the ``_sig_cache`` attribute on the returned DataFrame
    (or ``spark.catalog.clearCache()``).
    """
    if not 1 <= bands <= num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}: "
            "bands > num_hashes makes every band hash the EMPTY slice "
            "(all documents collide in every bucket — a full cross "
            "join); a non-divisor silently drops the trailing hashes"
        )
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, unit=unit
    ).persist()
    # Materialize the cache NOW, before any consumer subtree is built:
    # four consumers (banding, star grouping, both agreement rejoins)
    # otherwise land in ONE job whose concurrent stages race to read
    # the still-empty cache, each recomputing the explode+k-aggregate
    # signature pipeline for the partitions it touches (the lazy runs
    # log "Block rdd_N already exists on this machine; not re-adding
    # it" — two stages computed the same cached partition; r10 sf0.1
    # A/B across the family: simhash 7.66 -> 6.53 s wall, binary
    # simhash 70.2 -> 54.4 JVM CPU-s. At corpus scale the signature
    # pass is the dominant cost, so a 2-4x recompute of it is days of
    # cluster time). The extra materialization job is one scan of the
    # persisted aggregate.
    sig.count()
    # banded carries ONLY (id, band, bucket): the candidate self-join
    # shuffles 3 small columns, not the 64-long signatures
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # hash the band slice as an ARRAY — xxhash64
                        # folds complex types natively; the previous
                        # cast-to-string + array_join built a 48-char
                        # string per band per doc (measured ~15% of
                        # the fixture wall)
                        F.xxhash64(
                            F.slice("sig", b * rows_per_band + 1, rows_per_band)
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    if collapse_identical:
        # Identity collapse (the round-6 decade sweep's finding): a
        # k-document identical class collides in EVERY band and would
        # enumerate Θ(k²) pairs — 20k byte-identical docs (2% of a 1M
        # crawl corpus being empty) alone make 3.2B pre-dedup join
        # rows. Group docs by full-signature hash, band only the
        # min-id representative of each identity group, and emit the
        # group itself as a hub→member star (est_jaccard 1.0 by
        # construction, still verified by the agreement rejoin).
        # Lossless at any downstream threshold — see the docstring.
        sigkey = F.xxhash64("sig")
        keyed = sig.select("id", sigkey.alias("sigkey"))
        groups = keyed.groupBy("sigkey").agg(F.min("id").alias("hub"))
        star_pairs = (
            keyed.hint("shuffle_hash")
            .join(groups, "sigkey")
            .filter(F.col("id") != F.col("hub"))
            .select(F.col("hub").alias("id_a"), F.col("id").alias("id_b"))
        )
        reps = groups.select(F.col("hub").alias("id"))
        banded = banded.hint("shuffle_hash").join(reps, "id")
        pairs_reps = (
            banded.alias("a")
            .hint("merge")
            .join(
                banded.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        )
        pairs = pairs_reps.unionByName(star_pairs).dropDuplicates(
            ["id_a", "id_b"]
        )
        identity_map = keyed.join(groups, "sigkey").select("id", "hub")
    else:
        identity_map = None
        pairs = (
            banded.alias("a")
            .hint("merge")
            .join(
                banded.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            # dropDuplicates' partial aggregate dedups candidate pairs
            # map-side BEFORE the exchange — a pair appears once per
            # agreeing band (≤16×), so pre-shuffle combining beats
            # saving an exchange with repartition(id_a) (measured 10×
            # worse: the full duplicated pair stream shuffles and the
            # aggregate loses its map-side combine)
            .dropDuplicates(["id_a", "id_b"])
        )
    # agreement rejoins keep the persisted sig subtree intact on the
    # build side (rename AFTER the join) so ReuseExchange collapses
    # the two sig shuffles into one
    j1 = (
        pairs.join(sig.hint("shuffle_hash"), pairs["id_a"] == sig["id"])
        .select("id_a", "id_b", F.col("sig").alias("sig_a"))
    )
    scored = (
        j1.join(sig.hint("shuffle_hash"), j1["id_b"] == sig["id"])
        .select("id_a", "id_b", "sig_a", F.col("sig").alias("sig_b"))
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    out = scored.select(
        "id_a", "id_b", (agree / F.lit(num_hashes)).alias("est_jaccard")
    )
    if eager:
        out = out.persist()
        out.count()
        sig.unpersist()
    else:
        out._sig_cache = sig  # release handle for lazy consumers
    # identity groups (id → hub) for recall checks / cluster mapping
    # under collapse: a cross pair of group members is represented by
    # its hubs' pair, so pair-membership questions must map through
    # this (lazy, |docs|-sized) frame. None when collapse is off.
    out._identity_map = identity_map
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 1000,
    unit: str = "word",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a PREFIX-FILTERED
    shingle inverted index (Chaudhuri SSJoin / Bayardo AllPairs):
    only each document's ``|X| − ⌈t·|X|⌉ + 1`` globally RAREST
    shingles enter the candidate self-join — LOSSLESS for the given
    threshold (two sets with Jaccard ≥ t overlap in ≥ ⌈t·|A|⌉
    elements, so under any global shingle order their prefixes must
    intersect) — and the surviving candidate pairs are verified
    exactly with one array-intersect over the full per-doc shingle
    arrays. ``unit='word'`` (default) shingles on word n-grams;
    ``unit='char'`` on character n-grams — required for scripts
    without word delimiters (Thai, CJK), where word shingling goes
    blind.

    Scale shape: at t=0.8 the inverted index carries ~20% of the
    shingle rows and the join output shrinks ~quadratically in that
    fraction; the global order is (document frequency asc, hash), so
    the prefix join keys are the RAREST shingles — exactly the ones
    with the fewest collisions. Hot shingles (stopword runs,
    boilerplate) are additionally pre-filtered with ``max_df`` —
    without a cap ONE boilerplate sentence shared by 1M docs yields
    10¹² pairs even prefix-filtered at the tail. The default (1000)
    keeps the blowup bounded; pass ``max_df=None`` ONLY for corpora
    known to have no hot shingles. Dropping a shingle from ALL docs
    that share it shifts Jaccard identically on both sides, so
    near-dup pairs still surface. A size filter (t·|A| ≤ |B| ≤
    |A|/t) rides the candidate join for free. The verify step joins
    the per-doc sorted shingle-hash arrays to the (small) candidate
    pair table — the arrays shuffle once, keyed by id, only into the
    verify stage; the candidate join itself moves 3 fixed-width
    columns per prefix row.
    """
    shingle_fn = char_shingles if unit == "char" else shingles
    sh = (
        _fan_out(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(shingle_fn(F.col(text_col), n)).alias("shingle"),
        )
        .withColumn("shingle", F.xxhash64("shingle"))
        .withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
    )
    if max_df is not None:
        sh = sh.filter(F.col("__df") <= max_df)
    # per-doc set size AFTER any df-filter, so jaccard stays
    # consistent; prefix rank orders by (global df asc, hash) — a
    # total order, identical on every replica of the row
    sh = sh.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("id"))
    ).withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("id").orderBy("__df", "shingle")
        ),
    )
    # epsilon guards: every float comparison errs toward KEEPING a
    # row — 0.8*5 is 4.0000000000000002 in IEEE double and a bare
    # ceil would silently shrink the prefix (lossless becomes lossy)
    eps = 1e-9
    prefix = sh.filter(
        F.col("__rn")
        <= F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(eps))
        + 1
    ).select("id", "shingle", "n_sh")
    a = prefix.alias("a").hint("shuffle_hash")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            # size filter: J >= t forces t·|A| <= |B| <= |A|/t
            & (F.col("b.n_sh") >= F.lit(threshold) * F.col("a.n_sh") - F.lit(eps))
            & (F.col("b.n_sh") <= F.col("a.n_sh") / F.lit(threshold) + F.lit(eps)),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    docs = sh.groupBy("id").agg(
        F.sort_array(F.collect_list("shingle")).alias("__arr")
    )
    verified = (
        cand.hint("shuffle_hash")
        .join(docs, cand["id_a"] == docs["id"])
        .select("id_a", "id_b", F.col("__arr").alias("__aa"))
        .hint("shuffle_hash")
        .join(docs, F.col("id_b") == docs["id"])
        .select("id_a", "id_b", "__aa", F.col("__arr").alias("__ab"))
    )
    inter = F.size(F.array_intersect("__aa", "__ab"))
    jac = (
        inter / (F.size("__aa") + F.size("__ab") - inter)
    ).alias("jaccard")
    return verified.select("id_a", "id_b", jac).filter(
        F.col("jaccard") >= threshold
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64,
    unit: str = "word",
) -> DataFrame:
    """SimHash fingerprints as (id, fp bigint).

    Per feature w with hash h: for each bit position, +1 if set else
    -1; fingerprint bit = sign of the vote sum. Shape: explode
    features to rows, ONE hash aggregation, then assemble the
    fingerprint from the votes. Same rationale as minhash_signatures —
    the feature array is computed once (an inline per-bit
    array-aggregate version re-inlines the tokenization ``bits``
    times), partials combine map-side, work spreads across cores.
    O(features × bits) cheap bit ops, no UDF.

    r10: each per-bit vote is ``sum((h >> i) & 1)`` (set-bit COUNT)
    plus one shared row count n, with the sign recovered as
    ``2*S_i > n`` (votes_i = 2*S_i - n, so sign(votes_i) > 0 iff
    2*S_i > n — exact, no overflow: S_i <= n <= int64 range/2). The
    previous form summed ``when(h & (1<<i) != 0, 1).otherwise(-1)``
    — 64 branchy CASE WHEN aggregates per row vs 64 two-instruction
    shift-mask adds; measured sf0.1: word 4.59 -> 3.08 s, byte-hex
    2.41 -> 2.10 s, fingerprints bit-identical (guide §4/§1: keep the
    single codegen'd hash aggregate, shrink per-row instruction
    count).

    ``unit='word'`` (default) votes over whitespace words;
    ``unit='char'`` over character 4-grams for undelimited scripts
    (Thai, CJK); ``unit='byte-hex'`` over BYTE-ALIGNED 2-byte windows
    of a hex-encoded binary payload (4 hex chars at stride 2 — half
    the features of sliding char grams, and each feature is a real
    byte pair, which is the unit container/trailer edits move in).
    """
    feats = (
        char_shingles(F.col(text_col), 4)
        if unit == "char"
        else char_shingles(F.col(text_col), 4, stride=2)
        if unit == "byte-hex"
        else F.split(normalize_text(F.col(text_col)), " ")
    )
    ex = _fan_out(df).select(
        F.col(id_col).alias("id"), F.explode(feats).alias("__w")
    ).withColumn("__h", F.xxhash64("__w"))
    sums = [
        F.sum(
            F.shiftrightunsigned("__h", i).bitwiseAND(F.lit(1).cast("long"))
        ).alias(f"__s{i}")
        for i in range(bits)
    ]
    agg = ex.groupBy("id").agg(*sums, F.count(F.lit(1)).alias("__n"))
    fp = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp.bitwiseOR(
            F.when(
                2 * F.col(f"__s{i}") > F.col("__n"),
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
        )
    return agg.select("id", fp.alias("fp"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    eager: bool = True,
    unit: str = "word",
    collapse_identical: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit fingerprint into
    ``bands`` chunks (pigeonhole: hamming<=k pairs share at least one
    of k+1 bands), equi-join per band, verify exact hamming distance.

    The fingerprint table feeds both sides of the banded self-join —
    persisted so the explode+64-vote pipeline runs exactly once, and
    the join is hinted MERGE so both sides reuse ONE exchange and the
    join spills under AQE-coalesced partitions (same round-6 lesson as
    minhash_lsh_candidates; an un-hinted plan broadcasts one side and
    recomputes the full fingerprint plan for each). The join shuffles
    four 8-byte columns per banded row.

    ``eager=True`` (default) materializes the (small) pair table into
    the returned persisted DataFrame and unpersists the fingerprint
    intermediate — no dead cache after a catalog sweep; call
    ``.unpersist()`` on the result when done.

    ``collapse_identical`` (default True): documents with an IDENTICAL
    64-bit fingerprint collapse to one representative before the
    banded join and are emitted as a hub→member star (hamming 0, so
    every star pair passes any threshold). A k-document identical
    class (empty docs, mirrored pages) would otherwise enumerate
    Θ(k²) pairs through every band — the same decade-sweep blowup as
    minhash_lsh_candidates, same losslessness argument: a cross pair
    of group members has exactly its representatives' hamming, so the
    thresholded candidate graph keeps identical connected components.
    The returned frame carries ``_identity_map`` (id → hub) for
    pair-membership questions under collapse.
    """
    if bands < max_hamming + 1:
        raise ValueError(
            f"bands={bands} < max_hamming+1={max_hamming + 1}: the "
            "pigeonhole guarantee (a hamming<=k pair shares at least "
            "one of k+1 bands) would silently fail — pairs within the "
            "threshold could be missed"
        )
    if 64 % bands != 0 or bands < 2:
        raise ValueError(
            f"bands={bands} must divide 64 and be >= 2: a non-divisor "
            "leaves trailing fingerprint bits unbanded (silent recall "
            "loss); bands=1 is a full cross join"
        )
    fp = simhash_fingerprints(df, id_col, text_col, unit=unit).persist()
    # materialize before consumers are built: the grouping, identity
    # map, banding and hamming verify otherwise race the empty cache
    # in one job and recompute the fingerprint pipeline per stage
    # (same finding as minhash_lsh_candidates' sig cache, r10)
    fp.count()
    identity_map = None
    star_pairs = None
    if collapse_identical:
        groups = fp.groupBy("fp").agg(F.min("id").alias("hub"))
        identity_map = fp.join(groups, "fp").select("id", "hub")
        star_pairs = identity_map.filter(F.col("id") != F.col("hub")).select(
            F.col("hub").alias("id_a"),
            F.col("id").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
        fp_join = fp.hint("shuffle_hash").join(
            groups.select(F.col("hub").alias("id")), "id"
        )
    else:
        fp_join = fp
    width = 64 // bands
    banded = fp_join.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("fp", i * width)
                        .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                        .alias("chunk"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "fp", "bb.band", "bb.chunk")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.hint("merge")
        .join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    out = cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
    if star_pairs is not None:
        out = out.unionByName(star_pairs).dropDuplicates(["id_a", "id_b"])
    if eager:
        out = out.persist()
        out.count()
        fp.unpersist()
    out._identity_map = identity_map
    return out


def _require_numeric_ids(pairs: DataFrame, id_a: str, id_b: str) -> None:
    """Connected components cast ids to long; a string id column would
    throw CAST_INVALID_INPUT under ANSI (or silently become NULL and
    no-op the whole clustering without it). Fail fast with guidance."""
    from pyspark.sql.types import NumericType

    for c in (id_a, id_b):
        if not isinstance(pairs.schema[c].dataType, NumericType):
            raise TypeError(
                f"connected components need numeric ids; column {c!r} is "
                f"{pairs.schema[c].dataType.simpleString()} — derive a "
                "numeric id first (e.g. xxhash64(id)) and map back after"
            )


# Pair count at or below which connected_components collects the pair
# list and labels it with a driver union-find; above it the graph stays
# distributed (alternating star contraction). Measured on local[4], 4
# vCPUs, on chains of 2 pairs / 3 nodes with ids below 2^62 (the 1M-doc
# stress shape: 70k pairs, 120k nodes), count of the result included:
#   pairs   driver  star    collected rows (peak with union-find)
#   130     0.6 s   3.1 s   0.0 MB
#   10k     0.4 s   2.5 s   3.2 MB (4.1 MB)
#   70k     1.1 s   3.7 s   22 MB (30 MB)
#   100k    1.4 s   3.0 s   32 MB (40 MB)
#   200k    3.2 s   5.2 s   64 MB (79 MB)
#   500k    7.8 s   8.1 s   160 MB (220 MB)
# The driver path stays ahead to ~500k pairs, but the bound is set by
# driver memory: ~330 B of Python objects per collected pair.
CC_LOCAL_MAX_PAIRS = 100_000


def _local_components(pairs) -> tuple[list, list]:
    """Union-find over collected (a, b) pairs: path halving, and the
    smaller root always becomes the parent, so every root is its
    component's min id. Returns (ids, their roots). A null id is a node
    of its own that links nothing — the same labelling the star path
    gives it."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    ids = list(parent)
    return ids, [find(x) for x in ids]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over near-dup candidate pairs:
    (id, cluster_id) where cluster_id is the MIN id in the component.

    Every id that appears in a pair gets one row; a self-pair (a, a)
    yields (a, a), and a null id yields (null, null) and links nothing.

    The pair list is materialized once (lazy localCheckpoint) and
    counted; the count picks the path:

    - at most ``CC_LOCAL_MAX_PAIRS`` pairs: the pairs are collected and
      labelled by a union-find on the driver (one count and one
      collect, whatever the diameter);
    - more: alternating large-star/small-star contraction (Kiveris et
      al., "Connected Components in MapReduce and Beyond", SoCC'14) as
      DataFrame groupBy/join rounds — O(log n) rounds on any graph
      shape, no driver-side graph. It raises ``RuntimeError`` when it
      has not converged within ``max_iter`` rounds instead of returning
      a partial labelling.

    The result holds no cache-manager entry (checkpoint blocks are
    freed by the ContextCleaner once the result is garbage-collected).
    """
    _require_numeric_ids(pairs, id_a, id_b)
    # materialize the pair list ONCE: the star path reads it for node
    # extraction, sizing and round 0, and would otherwise re-run every
    # post-exchange stage of the upstream pair plan (windows, candidate
    # join, exact verify) for each of them. Lazy checkpoint: the sizing
    # count below is the action that runs the pair plan.
    e = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    ).localCheckpoint(eager=False)
    n_pairs = e.count()
    if n_pairs <= CC_LOCAL_MAX_PAIRS:
        import pyarrow as pa

        ids, roots = _local_components(e.collect())
        # from an Arrow table, not a row list: that plans as a
        # LocalRelation of known size, so a join against the labels
        # broadcasts them instead of shuffling the other side, and no
        # action re-runs a Python worker to unpickle the rows
        table = pa.table({"id": pa.array(ids, pa.int64()),
                          "cluster_id": pa.array(roots, pa.int64())})
        return pairs.sparkSession.createDataFrame(table, "id long, cluster_id long")
    return _star_components(e, n_pairs, max_iter)


def near_dup_canonical(
    df: DataFrame, pairs: DataFrame, id_col: str, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Keep ONE document per near-duplicate cluster (the min-id
    member) plus every unclustered document — the final step of a
    training-data dedup pipeline (pairs from minhash/simhash/ngram/
    embedding candidates, grouped transitively by
    connected_components — a driver union-find up to
    ``CC_LOCAL_MAX_PAIRS`` pairs, star contraction above).

    The non-canonical member set is an anti-join key list — tiny
    relative to the corpus (only docs in some near-dup pair), so AQE
    broadcasts it and the corpus never shuffles.
    """
    cc = connected_components(pairs, id_a, id_b)
    losers = cc.filter(F.col("cluster_id") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def _dedup_edges(e: DataFrame) -> DataFrame:
    return e.where(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: every neighbor LARGER than u links to u's minimum
    (of u and its neighborhood). Strictly decreases large-to-small
    path lengths; keeps the edge count bounded by the input's.
    The input pair list is interpreted as UNDIRECTED — symmetrized
    here so each node sees its full neighborhood."""
    e2 = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = e2.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.select("src", F.least("mn", F.col("src")).alias("mn"))
    return _dedup_edges(
        e2.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: direct each edge large→small, then link every small
    neighbor (and u itself) to the minimum of u's small neighborhood."""
    d = _dedup_edges(
        e.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
    )
    mins = d.groupBy("src").agg(F.min("dst").alias("mn"))
    relink = d.join(mins, "src").select(
        F.col("dst").alias("src"), F.col("mn").alias("dst")
    )
    self_link = mins.select("src", F.col("mn").alias("dst"))
    return _dedup_edges(relink.unionByName(self_link))


def _star_components(e: DataFrame, n_pairs: int, max_iter: int) -> DataFrame:
    """The large-graph path of ``connected_components``: alternating
    large-star/small-star rounds over the materialized pair list ``e``
    (src, dst).

    Per round: two aggregate+join pairs over the (shrinking) edge
    list; fixpoint detected with an order-independent edge fingerprint
    (count + BIT_XOR of per-edge hashes — no sum overflow under ANSI).
    Each round is localCheckpoint-ed, so the logical plan stays flat."""
    # size the rounds to the graph, not the session default: a near-dup
    # edge list is a tiny fraction of the corpus, and a handful of rows
    # spread over 32+ shuffle partitions makes every round pay dozens of
    # empty-task overheads
    sc = e.sparkSession.sparkContext
    nparts = max(1, min(sc.defaultParallelism, n_pairs // 100_000 + 1))
    edges = _dedup_edges(e).repartition(nparts, "src").localCheckpoint(eager=False)
    # from the raw pairs, so self-pairs and null ids keep their row;
    # lazy: reads the pair checkpoint when the final labelling join
    # runs, and holding the plan reference keeps those blocks alive
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )

    def _fingerprint(g: DataFrame) -> tuple:
        row = g.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("x"),
        ).collect()[0]
        return (row["n"], row["x"])

    prev = _fingerprint(edges)
    converged = False
    for _ in range(max_iter):
        # LAZY checkpoint: the fingerprint collect right below is the
        # action that materializes it — one job per round, not two
        # (eager-checkpoint + collect), halving the fixed per-round
        # overhead that dominates at small scale
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        cur = _fingerprint(nxt)
        edges = nxt
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # the greatest/least star extraction below is only valid on a
        # CONVERGED star graph — silently extracting labels from a
        # partially contracted graph returns wrong cluster ids
        raise RuntimeError(
            f"connected_components did not reach the edge-set fixpoint "
            f"within max_iter={max_iter} rounds; raise max_iter "
            f"(rounds needed grow O(log n) in the largest component)"
        )
    # converged star graph: every non-min node points at its component
    # min; component mins appear only as dst (or are isolated after
    # contraction) and label themselves
    stars = edges.select(F.greatest("src", "dst").alias("id"),
                         F.least("src", "dst").alias("cluster_id"))
    out = (
        nodes.join(stars, "id", "left")
        .select("id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id"))
    )
    return out.localCheckpoint(eager=True)


def repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-span audit (the signal behind exact
    substring dedup, Lee et al. 2022: verbatim spans of ~50+ tokens
    shared across documents are boilerplate/license/template text the
    model memorizes). A full suffix array does not distribute; the
    standard corpus-scale approximation is fixed-length n-gram spans:
    a span repeated across >= min_docs documents is reported with its
    document count and one witness doc per span.

    Shape: shingle explode -> count-distinct-docs per 64-bit span
    hash (map-side combined). The shuffle carries (hash, doc_id) —
    never the text; the span string rides only on the surviving
    groups via min(). Output: (span, n_docs, witness_id), one row
    per repeated span.
    """
    grams = _fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("__doc"),
        F.explode(shingles(F.col(text_col), n)).alias("span"),
    )
    return (
        grams.groupBy(F.xxhash64("span").alias("__h"))
        .agg(
            F.count_distinct("__doc").alias("n_docs"),
            F.min("span").alias("span"),
            F.min("__doc").alias("witness_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select("span", "n_docs", "witness_id")
    )


def dedup_paragraphs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n\n",
    join_sep: str | None = None,
) -> DataFrame:
    """Corpus-wide EXACT paragraph dedup (the C4/RefinedWeb line-level
    rule, at paragraph granularity): every repeated paragraph keeps
    only its FIRST occurrence — ordered by (document id, paragraph
    index) — and every other instance is dropped, including repeats
    WITHIN a document; documents are then reassembled in original
    paragraph order. Boilerplate (cookie banners, nav footers,
    license blocks) disappears from every document but the first one
    that carried it.

    Returns (id, n_paras, n_kept, text) with ``text`` rebuilt from
    the surviving paragraphs (empty string when nothing survives —
    the row is kept so the caller decides the drop policy).

    Shape at 100 TB: posexplode paragraphs → ONE shuffle on the
    128-bit paragraph hash (first-occurrence selection is min_by over
    the hash groups — map-side combined, no window sort) → broadcast
    the (tiny) winners? No: winners are paragraph-cardinality, so
    they rejoin the exploded stream on the hash — a second keyed
    shuffle — then regroup by document. Raw paragraph text never
    shuffles twice: the winner table carries only (hash, doc, idx).

    ``sep`` is a Java regex (F.split); ``join_sep`` is the LITERAL
    string used to reassemble survivors and defaults to ``sep`` —
    pass it explicitly whenever ``sep`` is a non-literal pattern
    (``dedup_sentences`` does).
    """
    if join_sep is None:
        join_sep = sep
    paras = (
        _fan_out(df)
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), sep)).alias("idx", "p"),
        )
        .filter(F.trim(F.col("p")) != "")
        .withColumn("__h", F.xxhash64("p"))
    )
    # first occurrence per paragraph hash: lexicographic min of
    # (id, idx) as a struct — one map-side-combined aggregate
    winners = paras.groupBy("__h").agg(
        F.min(F.struct("id", "idx")).alias("__w")
    ).select("__h", F.col("__w.id").alias("__wid"), F.col("__w.idx").alias("__widx"))
    # winners is paragraph-cardinality and rebuilt is doc-cardinality —
    # both corpus-derived aggregates, so both rejoins are hinted MERGE
    # (the planner's size estimate through explode+aggregate is
    # garbage and otherwise broadcasts a corpus-sized build side)
    kept = paras.join(winners.hint("merge"), "__h").filter(
        (F.col("id") == F.col("__wid")) & (F.col("idx") == F.col("__widx"))
    )
    rebuilt = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "p"))),
                lambda s: s["p"],
            ),
            join_sep,
        ).alias("text"),
    )
    # totals come from the CORPUS, not the exploded frame: a document
    # whose paragraphs are all blank has no paras rows and would
    # otherwise vanish from the output — the contract keeps every row
    # (n_paras 0, text '') so the caller decides the drop policy
    totals = df.select(
        F.col(id_col).alias("id"),
        F.size(
            F.filter(
                F.split(F.col(text_col), sep), lambda p: F.trim(p) != ""
            )
        ).alias("n_paras"),
    )
    return (
        totals.join(rebuilt.hint("merge"), "id", "left")
        .select(
            "id",
            "n_paras",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 50,
) -> DataFrame:
    """Cross-document duplicate-span REMOVAL — the cutting half of
    exact substring dedup (Lee et al. 2022: don't drop the whole
    document, cut the verbatim span and keep the rest). Where
    ``repeated_spans`` audits, this rewrites: every n-word window
    whose md5 also occurs in a LOWER-id document is cut from the
    higher-id document (first occurrence wins, the C4/paragraph-dedup
    convention); surviving words are reassembled in order.

    Distributed shape (a full suffix array does not distribute;
    fixed-length n-gram anchors are the standard corpus-scale
    approximation):
    1. window explode: (id, pos, md5(n-gram)) — positions over the
       normalized word array, computed once per doc;
    2. one map-side-combined aggregation: span -> (min(id) owner,
       max(id)) — grams whose every occurrence sits in ONE document
       (max == min: unique grams, which dominate any real corpus, and
       within-doc repeats) can never satisfy owner < id, so they are
       dropped from the owner table BEFORE the rejoin (1M stress
       corpus: 50.7M distinct grams -> 3.0M cross-doc duplicated);
    3. rejoin windows to the duplicated-gram owners, UNHINTED: the
       static plan is SortMergeJoin (the planner's estimate through
       explode+aggregate is conservatively large, verified at 1M),
       and AQE re-decides from the MEASURED post-aggregation size —
       a real corpus's dup-gram table collapses to a broadcast join
       and the window side never shuffles; a pathological boilerplate
       corpus keeps the sort-merge. (A round-7 A/B killed two fancier
       shapes: an eager count + Bloom-bitmap prefilter of the window
       side costs a full extra explode+agg action that local shuffle
       savings never repay — 106 s vs 60 s at 1M — and a forced merge
       hint blocks the AQE broadcast downgrade that makes the
       fixture-scale rejoin free);
    4. duplicated window STARTS (never the n-fold token fan-out)
       aggregate per document and fold into disjoint merged [s, e]
       intervals — a boilerplate run is ONE interval however long;
    5. the interval table LEFT-joins the corpus once and the cleaned
       text is rebuilt by pure array expressions in that projection
       (filter positions outside every interval, re-join words) —
       no token explode, no ordered re-collect shuffle; fully-cut
       documents surface with clean_text = ''.

    Within-document repeats are NOT cut (self-windows share their
    own id; only strictly-lower owners trigger removal) — matching
    the audit's cross-document contract. Documents shorter than n
    words pass through verbatim. md5 (not xxhash64) keys the spans so
    the DuckDB oracle replays ownership exactly.

    Returns (id_col, clean_text, n_tokens, n_removed).
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    # _fan_out: the md5-per-window explode below is the dominant CPU
    # cost and otherwise runs at the SCAN's width (a single small
    # parquet file = 1-2 tasks); hash-spread on the id so the final
    # corpus-side interval join reuses the distribution (r10, measured
    # sf0.1: 3.2-3.9 -> 1.4-1.7 s, rows identical by construction —
    # md5 ownership is order-independent)
    base = _fan_out(
        df.select(
            F.col(id_col).alias("id"),
            F.filter(
                F.split(normalize_text(F.col(text_col)), " "),
                lambda w: w != "",
            ).alias("ws"),
        ),
        "id",
    )
    # (empty/whitespace-only docs stay in `base` — they take the
    # no-intervals branch below and pass through as clean_text '',
    # keeping output cardinality equal to input)
    # sequence(1, 0) DESCENDS in Spark ([1, 0]) — docs shorter than n
    # must take the empty-array branch, not a clamped upper bound
    wins = base.filter(F.size("ws") >= n).select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - n + 1),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(
                        F.array_join(F.slice(F.col("ws"), i, n), " ")
                    ).alias("g"),
                ),
            )
        ).alias("w"),
    ).select("id", F.col("w.pos").alias("pos"), F.col("w.g").alias("g"))
    owners = (
        wins.groupBy("g")
        .agg(F.min("id").alias("owner"), F.max("id").alias("__mx"))
        .filter(F.col("__mx") > F.col("owner"))
        .select("g", "owner")
    )
    # duplicated WINDOW STARTS only — the n-fold token fan-out never
    # happens; coverage is reconstructed as intervals below
    dup_start = (
        wins.join(owners, "g")
        .filter(F.col("owner") < F.col("id"))
        .select("id", "pos")
        .distinct()
    )
    # Removal is applied as MERGED INTERVALS, array-natively: the
    # duplicated window starts collapse to disjoint [s, e] token
    # intervals per document (boilerplate runs -> ONE interval), the
    # interval table joins the corpus ONCE, and the cleaned text is
    # rebuilt by pure array expressions in the same projection. Two
    # earlier shapes lost to this at the 1M stress: exploding every
    # token through an anti-join + ordered re-collect (96 s — the
    # rebuild shuffle carried 60M tokens, mostly for unchanged docs),
    # and a touched/untouched split (145-229 s — every branch
    # re-shuffled the fat ws-array corpus rows through its own
    # sort-merge join). This shape: 77 s — the residual wall is the
    # window-explode md5 itself (53M windows, the oracle's hash
    # contract), with one thin corpus join and no token shuffle.
    ivs = (
        dup_start.groupBy("id")
        .agg(F.array_sort(F.collect_set("pos")).alias("__ps"))
        .select(
            "id",
            F.aggregate(
                "__ps",
                F.array().cast("array<struct<s:int,e:int>>"),
                lambda acc, p: F.when(
                    (F.size(acc) > 0)
                    & (p <= F.element_at(acc, -1)["e"] + 1),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(
                            F.struct(
                                F.element_at(acc, -1)["s"].alias("s"),
                                F.greatest(
                                    F.element_at(acc, -1)["e"],
                                    (p + n - 1).cast("int"),
                                ).alias("e"),
                            )
                        ),
                    ),
                ).otherwise(
                    F.concat(
                        acc,
                        F.array(
                            F.struct(
                                p.cast("int").alias("s"),
                                (p + n - 1).cast("int").alias("e"),
                            )
                        ),
                    )
                ),
            ).alias("__ivs"),
        )
    )
    joined = base.join(ivs, "id", "left")
    kept_pos = F.when(F.col("__ivs").isNull(), None).otherwise(
        F.filter(
            F.sequence(F.lit(1), F.size("ws")),
            lambda t: ~F.exists(
                F.col("__ivs"), lambda iv: (iv["s"] <= t) & (t <= iv["e"])
            ),
        )
    )
    return joined.select(
        F.col("id").alias(id_col),
        F.when(
            F.col("__ivs").isNull(), F.array_join("ws", " ")
        )
        .otherwise(
            F.array_join(
                F.transform(kept_pos, lambda t: F.element_at("ws", t)), " "
            )
        )
        .alias("clean_text"),
        F.size("ws").alias("n_tokens"),
        F.when(F.col("__ivs").isNull(), F.lit(0))
        .otherwise(F.size("ws") - F.size(kept_pos))
        .cast("long")
        .alias("n_removed"),
    )


def dedup_sentences(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Corpus-wide exact SENTENCE dedup — ``dedup_paragraphs`` one
    granularity finer (the C4 line-level rule applied to terminal-
    punctuation segments). Sentences are the segments produced by
    splitting NORMALIZED text on runs of ``. ! ?`` followed by
    optional whitespace; terminal punctuation is consumed by the
    split (lookbehind would keep it, but RE2 — the oracle engine's
    regex — has no lookbehind, and the segment text is what the
    dedup keys on anyway). Survivors reassemble joined by ``'. '``.

    Same first-occurrence-wins contract and two-keyed-shuffle shape
    as the paragraph form; returns (id, n_paras, n_kept, text) with
    n_paras counting the document's non-blank sentences.
    """
    normed = df.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("__sent_norm")
    )
    return dedup_paragraphs(
        normed, "__sent_norm", id_col, sep="[.!?]+\\s*", join_sep=". "
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold_ppm: int = 800_000,
    eager: bool = True,
) -> DataFrame:
    """Asymmetric near-duplicate detection: EXACT n-gram containment
    C(A in B) = |grams(A) ∩ grams(B)| / |grams(A)| — the measure
    Jaccard misses. A short document quoted whole inside a long one
    has near-total containment but tiny Jaccard (the union is
    dominated by B), so symmetric dedup keeps both; containment
    flags A as subsumed. Broder's resemblance-vs-containment
    distinction (SEQUENCES 1997) — this is the containment half.

    Candidates come from the ASYMMETRIC PREFIX FILTER (the
    overlap-join bound of Chaudhuri ICDE'06 / Xiao WWW'08, containment
    form): C(A in B) >= t forces |A ∩ B| >= ceil(t*|A|), so by
    pigeonhole at least one of A's ``|A| - ceil(t*|A|) + 1`` RAREST
    grams (global (df, hash) order — a local sort, no rank window)
    must appear in B — candidates are A's prefix joined against the
    FULL gram index, never the full-x-full self-join. That replaces
    the Sum(df^2) candidate blowup with Sum_over_prefix_grams(df):
    hot boilerplate grams sit in nobody's prefix and index nothing
    (the full self-join form measured 353 s on the sf0.1 low-entropy
    fixture; this form, 4 s, byte-identical output). Verification is
    exact: candidate pairs join both docs' full hash ARRAYS and
    ``size(array_intersect)`` recovers |A ∩ B| without a second
    corpus-wide shuffle. Containment is exact integer ppm (DIV — both
    engines floor). Pairs are emitted DIRECTED for every ordered pair
    with containment >= threshold_ppm and a != b.

    Returns (contained_id, container_id, n_grams_a, n_common,
    containment_ppm).

    Exchange economy (r10): the exploded gram table is the expensive
    subtree (normalize + md5 per gram) and used to feed THREE
    consumers (df-count, the docs rollup, and the full inverted
    index), each re-running the explode. It is now persisted and
    materialized once (minhash_lsh_candidates' sig-cache finding),
    the per-doc sorted gram table ``docs`` is persisted and
    materialized (it feeds the prefix, the full index — derived by
    re-exploding ``__gs``, same distinct grams — and both verify
    sides), and the gram cache is released as soon as ``docs`` is
    solid. ``eager=True`` (default) materializes the (small) pair
    table and unpersists ``docs`` — no dead cache after a catalog
    sweep; ``eager=False`` (r11) returns a PLAIN LAZY PLAN — no
    persists, no construction-time jobs — for plan-only composition
    (executing an eager=False plan recomputes the gram explode per
    consumer subtree; use the default for real runs).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # LET-BIND the word array behind a projection boundary before the
    # window lambda references it: a raw normalize+split subtree inside
    # the transform is re-evaluated PER WINDOW in the interpreted HOF
    # (the shingles() docstring lesson) — the whole document re-lowered
    # and re-split for every gram. Measured at 100k docs of the 1M
    # stress corpus: 290 -> 70 JVM-CPU-s / 10.6 -> 2.6 s wall for the
    # gram explode, grams bit-identical (r10).
    ws_expr = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda x: x != ""
    )
    bound = df.select(F.col(id_col).alias("id"), ws_expr.alias("__ws"))
    ws = F.col("__ws")
    grams_arr = F.when(
        F.size(ws) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - n + 1),
                lambda i: F.conv(
                    F.substring(
                        F.md5(F.array_join(F.slice(ws, i, n), " ")), 1, 8
                    ),
                    16,
                    10,
                ).cast("long"),
            )
        ),
    ).otherwise(F.array().cast("array<long>"))
    # _fan_out: the md5-per-gram explode is the dominant CPU cost and
    # otherwise runs at the SCAN's width (a single small parquet file
    # = 1-2 tasks; the theil_sen r10 finding). Hash-spread on the id
    # so one doc's grams stay together for the per-doc rollup.
    g = _fan_out(bound, "id").select(
        "id",
        F.explode(grams_arr).alias("g"),
    )
    if eager:
        # persist AND materialize before consumers are built (the
        # empty-cache race: concurrent stages of one job would each
        # recompute the explode). eager=False keeps the whole operator
        # a plain lazy plan — no caches, no construction-time jobs —
        # for plan-only composition; executing callers should use
        # eager=True, where the scan-side explode is shared via the
        # cache (no post-shuffle exchange exists for ReuseExchange to
        # share here, unlike ngram_jaccard_pairs).
        g = g.persist()
        g.count()
    dfreq = g.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
    # r11: the rarest-first rollup collects PACKED LONGS — document
    # frequency in the high bits, the 32-bit gram hash in the low 32
    # (g = conv of 8 md5 hex chars, so 0 <= g < 2^32) — instead of
    # (df, g) structs. sort_array then compares primitive longs
    # (identical order: the pack is lexicographic in (df, g) while
    # df < 2^31, i.e. under ~2.1e9 documents sharing one gram), the
    # collect buffers longs instead of struct rows, and the unpack
    # transform disappears entirely: df is a FUNCTION of g (one global
    # frequency per gram value), so the pack is injective in g — the
    # prefix/index equi-join and the verify array_intersect operate on
    # packed values with identical match semantics, and no gram value
    # escapes the operator (output is ids + counts + ppm only). The
    # struct form measured ~2267 JVM-CPU-s of ObjectHashAggregate at
    # the 1 M-doc stress (r10 attribution).
    docs = (
        g.join(dfreq, "g")
        # explicit width on the CPU-heavy rollup (sort_array over every
        # doc's gram list): the join output's small byte size lets
        # AQE coalesce it to ~2 partitions otherwise
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism, "id"
        )
        .select(
            "id", (F.shiftleft("__df", 32) + F.col("g")).alias("__pk")
        )
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("__pk")).alias("__gs"))
        .withColumn("n_g", F.size("__gs"))
        .withColumn(
            "__p",
            F.expr(
                f"CAST(n_g - (n_g * {threshold_ppm} + 999999)"
                f" DIV 1000000 + 1 AS INT)"
            ),
        )
    )
    if eager:
        docs = docs.persist()
        docs.count()
        g.unpersist()
    prefix = docs.select(
        F.col("id").alias("contained_id"),
        F.explode(F.slice("__gs", 1, F.col("__p"))).alias("g"),
    )
    # the full inverted index re-explodes the per-doc distinct PACKED
    # gram list — same distinct keys as ``g`` under the injective pack
    # (grams_arr is array_distinct'd), read from the docs cache
    # instead of a third explode
    full = docs.select(
        F.col("id").alias("container_id"), F.explode("__gs").alias("g")
    )
    cands = (
        prefix.join(full, "g")
        .filter(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id")
        .distinct()
    )
    da = docs.select(
        F.col("id").alias("contained_id"), F.col("__gs").alias("__ga"),
        F.col("n_g").alias("n_grams_a"),
    )
    db = docs.select(
        F.col("id").alias("container_id"), F.col("__gs").alias("__gb")
    )
    pairs = (
        cands.join(da, "contained_id")
        .join(db, "container_id")
        .withColumn(
            "n_common",
            F.size(F.array_intersect("__ga", "__gb")).cast("long"),
        )
        .withColumn(
            "containment_ppm",
            F.expr("(n_common * CAST(1000000 AS BIGINT)) DIV n_grams_a"),
        )
        .filter(F.col("containment_ppm") >= F.lit(threshold_ppm))
    )
    out = pairs.select(
        "contained_id", "container_id", "n_grams_a", "n_common",
        "containment_ppm",
    )
    if eager:
        out = out.persist()
        out.count()
        docs.unpersist()
    return out


def jaccard_pairs_prefix_filtered(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_ppm: int = 500_000,
    shingle_n: int = 3,
    collapse_identical: bool = False,
) -> DataFrame:
    """EXACT all-pairs Jaccard >= t via PREFIX FILTERING (the
    PPJoin/All-Pairs candidate bound — Chaudhuri et al. ICDE 2006,
    Bayardo WWW 2007, Xiao WWW 2008): identical output to the naive
    inverted-index join on EVERY shingle, but candidates are
    generated only from each document's PREFIX — its
    ``|A| - ceil(t*|A|) + 1`` globally-RAREST shingles. The principle:
    two sets with J >= t overlap in more than |A| - t*|A| elements,
    so under any global token order they must share a token within
    those prefixes; ordering by ascending document frequency makes
    the indexed tokens the rare ones, which is what collapses the
    candidate fan-out (a stop-word shingle indexes nobody's prefix).

    Stages: (1) distinct shingle 64-bit hashes per doc; (2) document
    frequency per shingle — one aggregation; NO global rank window:
    the prefix principle needs only a TOTAL ORDER, and the pair
    (df, hash) already is one, so per-doc ordering is a local
    sort_array over (df, hash) structs (a dense global rank would be
    a single-partition sort over every distinct shingle — the exact
    bottleneck this operator exists to avoid); (3) per-doc
    rarest-first array, prefix slice of ``|A| - ceil(t*|A|) + 1``;
    (4) candidate pairs from the prefix inverted index (id_a < id_b,
    distinct); (5) EXACT verification: candidates join the two docs'
    full hash arrays and the true intersection is
    ``size(array_intersect)`` — no second corpus-wide shuffle, the
    arrays ride the candidate join. Jaccard is exact integer ppm:
    1e6*inter DIV (|A|+|B|-inter). (64-bit shingle hashing: a
    collision would merge two shingles — ~n^2/2^64, the same accepted
    risk as every xxhash64-keyed operator in this module.)

    Returns (id_a, id_b, jaccard_ppm). The MinHash family stays the
    sub-candidate-generation path at extreme scale; this is the exact
    form with the exact form's best-known candidate bound.

    ``collapse_identical=True`` is the SCALE guard against the
    identical-class output bomb: a class of m byte-identical (or
    same-shingle-set) documents has Theta(m^2) J=1 pairs — the
    round-7 1 M stress corpus' 20 k empty docs alone were 200 M of
    its 200.04 M output rows (the same failure mode the round-6 LSH
    identity collapse killed). With the flag, documents collapse to
    one min-id representative per DISTINCT SHINGLE SET before
    pairing, intra-class pairs are NOT emitted (identity is
    ``exact_dedup``'s job), and the output gains the class sizes:
    (id_a, id_b, jaccard_ppm, n_docs_a, n_docs_b) — pair weight for
    downstream clustering without the quadratic expansion.
    """
    if not 0 < threshold_ppm <= 1_000_000:
        raise ValueError(f"threshold_ppm out of (0, 1e6]: {threshold_ppm}")
    sh = (
        _fan_out(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select(
            "id",
            F.explode(shingles(F.col(text_col), shingle_n)).alias("s"),
        )
        .select("id", F.xxhash64("s").alias("g"))
        .distinct()
    )
    dfreq = sh.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
    # per-doc shingle hashes in (df, hash) order — rarest first under
    # a total order both engines can replay
    docs = (
        sh.join(dfreq, "g")
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__df", "g"))),
                lambda s: s["g"],
            ).alias("__gs")
        )
        .withColumn("__n", F.size("__gs"))
        .withColumn(
            "__plen",
            F.col("__n")
            - F.ceil(F.col("__n") * threshold_ppm / 1_000_000.0).cast("int")
            + 1,
        )
    )
    if collapse_identical:
        # one min-id representative per distinct shingle SET; class
        # size rides along (set fingerprint = hash of the sorted hash
        # array — engine-internal only, never oracle-visible)
        classes = (
            docs.withColumn("__fp", F.xxhash64("__gs"))
            .groupBy("__fp")
            .agg(
                F.min("id").alias("__rep"),
                F.count(F.lit(1)).cast("long").alias("__m"),
            )
        )
        docs = docs.join(
            classes.select(F.col("__rep").alias("id"), "__m"), "id"
        )
    prefix = docs.select(
        "id", F.explode(F.slice("__gs", 1, F.col("__plen"))).alias("g")
    )
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "g")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .distinct()
    )
    if collapse_identical:
        da = docs.select(
            F.col("id").alias("id_a"), F.col("__gs").alias("__ga"),
            F.col("__n").alias("__na"), F.col("__m").alias("n_docs_a"),
        )
        db = docs.select(
            F.col("id").alias("id_b"), F.col("__gs").alias("__gb"),
            F.col("__n").alias("__nb"), F.col("__m").alias("n_docs_b"),
        )
    else:
        da = docs.select(
            F.col("id").alias("id_a"), F.col("__gs").alias("__ga"),
            F.col("__n").alias("__na"),
        )
        db = docs.select(
            F.col("id").alias("id_b"), F.col("__gs").alias("__gb"),
            F.col("__n").alias("__nb"),
        )
    verified = (
        cands.join(da, "id_a")
        .join(db, "id_b")
        .withColumn(
            "__inter", F.size(F.array_intersect("__ga", "__gb"))
        )
        .withColumn(
            "jaccard_ppm",
            F.expr(
                "(CAST(__inter AS BIGINT) * 1000000) "
                "DIV (__na + __nb - __inter)"
            ),
        )
        .filter(F.col("jaccard_ppm") >= threshold_ppm)
    )
    if collapse_identical:
        return verified.select(
            "id_a", "id_b", "jaccard_ppm", "n_docs_a", "n_docs_b"
        )
    return verified.select("id_a", "id_b", "jaccard_ppm")


def continuation_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    df_cap: int = 100,
) -> DataFrame:
    """Suffix→prefix continuation detection: directed pairs (prev,
    next) where prev's LAST ``k`` words equal next's FIRST ``k``
    words — the scraped-pagination signature (page 2 starts with the
    overlap page 1 ended on) that whole-document and near-dup passes
    both miss, because the documents differ everywhere else. A
    curation pass stitches or deduplicates the boundary from these
    pairs.

    Shape: one pass computes each document's head and tail k-gram
    (array slice + join — scan-stage), then a single equi-join of
    tail-grams against head-grams. Grams occurring in more than
    ``df_cap`` documents on either side are dropped FIRST (boilerplate
    headers/footers would otherwise explode the join quadratically —
    the same df-cap discipline as the tf-idf and containment joins);
    the cap is part of the operator's contract and the oracle replays
    it. Self-pairs are excluded; documents whose tail equals another
    document's head pair directionally, so a doc that starts and ends
    with the same gram pairs both ways with its duplicates.

    Returns (prev_id, next_id, gram).
    """
    from etl_script_spark.operators.textstats import words

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = df.select(
        F.col(id_col).alias("__id"),
        F.filter(words(F.col(text_col)), lambda w: w != "").alias("__ws"),
    ).filter(F.size("__ws") >= k)
    tails = base.select(
        F.col("__id").alias("prev_id"),
        F.concat_ws(
            " ", F.slice(F.col("__ws"), F.size("__ws") - (k - 1), k)
        ).alias("gram"),
    )
    heads = base.select(
        F.col("__id").alias("next_id"),
        F.concat_ws(" ", F.slice(F.col("__ws"), 1, k)).alias("gram"),
    )
    wt = Window.partitionBy("gram")
    tails = tails.withColumn("__c", F.count(F.lit(1)).over(wt)).filter(
        F.col("__c") <= df_cap
    ).drop("__c")
    heads = heads.withColumn("__c", F.count(F.lit(1)).over(wt)).filter(
        F.col("__c") <= df_cap
    ).drop("__c")
    return (
        tails.join(heads, "gram")
        .filter(F.col("prev_id") != F.col("next_id"))
        .select("prev_id", "next_id", "gram")
    )


def soft_dedup_weights(
    df: DataFrame, text_col: str, id_col: str, normalize: bool = True
) -> DataFrame:
    """SoftDeDup: instead of dropping exact duplicates, DOWN-WEIGHT
    them — every document gets sampling weight 1/|cluster| in exact
    ppm, so a class of k identical documents contributes one
    document's worth of expected mass while keeping all k rows
    available (common-crawl reality: duplication count is itself a
    quality signal, and hard dedup erases it; cf. SoftDeDup, Xia et
    al. 2024). Feed the weight to the A-Res/Gumbel weighted samplers
    or the epoch mixer.

    One aggregation on the text fingerprint + one join back keyed the
    same way — at 100 TB both shuffle on md5(text), the minimum any
    exact-duplicate pass needs. Returns (id, cluster_size,
    weight_ppm) for every input row.
    """
    key = F.md5(
        normalize_text(F.col(text_col)) if normalize
        else F.col(text_col).cast("string")
    )
    keyed = df.select(F.col(id_col).alias("id"), key.alias("__fp"))
    sizes = keyed.groupBy("__fp").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return keyed.join(sizes, "__fp").select(
        "id",
        "cluster_size",
        F.expr("CAST(1000000 DIV cluster_size AS BIGINT)").alias(
            "weight_ppm"
        ),
    )
