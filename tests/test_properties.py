"""Property-based tests (hypothesis) for the scalar cleaning library:
for ANY value in the supported domain, formatting → cleaning must
round-trip. One Spark job per property (values batched into a single
DataFrame) keeps runtime sane."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from etl_script_spark.functions import dates, numerics

AMOUNTS = st.integers(min_value=-(10**12), max_value=10**12)  # cents
DATES = st.dates(min_value=dt.date(1950, 1, 2), max_value=dt.date(2099, 12, 31))


def _run(spark, pairs, expr):
    """pairs: [(dirty_string, expected)] → list of (got, expected)."""
    df = spark.createDataFrame(pairs, ["dirty", "expected"])
    return [(r["got"], r["expected"]) for r in df.select(
        expr(F.col("dirty")).alias("got"), "expected"
    ).collect()]


@settings(max_examples=1, deadline=None)
@given(st.lists(AMOUNTS, min_size=30, max_size=30, unique=True))
def test_numeric_basic_roundtrip(spark, cents_list):
    """'1,234.56' grouping of any cent value parses back exactly."""
    pairs = []
    for c in cents_list:
        v = c / 100
        pairs.append((f"{v:,.2f}", v))
    for got, exp in _run(spark, pairs, numerics.clean_numeric_basic):
        assert got == exp


@settings(max_examples=1, deadline=None)
@given(st.lists(AMOUNTS.filter(lambda c: c >= 0), min_size=30, max_size=30, unique=True))
def test_numeric_accounting_parens(spark, cents_list):
    """'(1,234.56)' always parses to the negative of the bare value."""
    pairs = [(f"({c / 100:,.2f})", -(c / 100)) for c in cents_list]
    for got, exp in _run(spark, pairs, numerics.clean_numeric_accounting):
        assert got == exp


@settings(max_examples=1, deadline=None)
@given(st.lists(AMOUNTS.filter(lambda c: abs(c) >= 10**5), min_size=30, max_size=30, unique=True))
def test_numeric_locale_european(spark, cents_list):
    """European '1.234.567,89' form of any value parses back exactly."""
    pairs = []
    for c in cents_list:
        v = c / 100
        eu = f"{abs(v):,.2f}".replace(",", "_").replace(".", ",").replace("_", ".")
        if v < 0:
            eu = "-" + eu
        pairs.append((eu, v))
    for got, exp in _run(spark, pairs, numerics.clean_numeric_locale):
        assert got == exp


@settings(max_examples=1, deadline=None)
@given(st.lists(DATES, min_size=30, max_size=30, unique=True))
def test_date_cascade_all_formats(spark, date_list):
    """Every supported format of every date parses to that date."""
    fmts = ["%d/%m/%Y", "%Y-%m-%d", "%d-%m-%Y", "%d.%m.%Y"]
    pairs = []
    for i, d in enumerate(date_list):
        pairs.append((d.strftime(fmts[i % len(fmts)]), d))
    df = spark.createDataFrame(pairs, ["dirty", "expected"])
    got = df.select(
        dates.parse_date_cascade(F.col("dirty")).alias("got"), "expected"
    ).collect()
    for r in got:
        assert r["got"] == r["expected"]


@settings(max_examples=1, deadline=None)
@given(st.lists(DATES, min_size=30, max_size=30, unique=True))
def test_excel_serial_roundtrip(spark, date_list):
    """date → Excel serial → date round-trips (origin 1899-12-30)."""
    origin = dt.date(1899, 12, 30)
    pairs = [((d - origin).days, d) for d in date_list if 0 < (d - origin).days <= 60000]
    df = spark.createDataFrame(pairs, ["serial", "expected"])
    got = df.select(
        dates.excel_serial_to_date(F.col("serial")).alias("got"), "expected"
    ).collect()
    for r in got:
        assert r["got"] == r["expected"]


# --------------------------------------------------------------------
# S8 HTML table parse: for ANY ragged cell grid, table_records must
# promote the header, pad to the max width, and preserve row indices.
# --------------------------------------------------------------------

_CELL_TEXT = st.text(
    alphabet=st.characters(
        codec="utf-8",
        exclude_characters="<>& ",
        exclude_categories=("Cs", "Cc", "Zs", "Zl", "Zp"),
    ),
    max_size=8,
).filter(
    # cells the pipeline would transform are excluded: this property
    # pins the STRUCTURAL contract (header/pad/index), the repair
    # semantics have their own example tests
    lambda s: "total" not in s.lower()
    and s.strip() == s
    and "รวมยอดทั้งหมด" not in s
)

_GRID = st.lists(
    st.lists(_CELL_TEXT, min_size=1, max_size=5),
    min_size=1,
    max_size=6,
)


@settings(max_examples=5, deadline=None)
@given(_GRID)
def test_table_records_structural(spark, grid):
    """Header = row 0 (empty names become col_<i>), every surviving
    data row is padded to the grid's max width, and row_index is the
    original table position regardless of dropped rows."""
    from etl_script_spark.pipelines import sale_report

    html = "<table>" + "".join(
        "<tr>" + "".join(f"<td>{c}</td>" for c in row) + "</tr>" for row in grid
    ) + "</table>"
    docs = spark.createDataFrame([(1, html)], ["doc_key", "html"])
    recs = sale_report.html_table_records(docs, "html", ["doc_key"]).collect()

    width = max(len(r) for r in grid)
    header = grid[0] + [""] * (width - len(grid[0]))
    named = [h if h != "" else f"col_{i + 1}" for i, h in enumerate(header)]
    # a duplicate header name would make map_from_arrays throw; the
    # strategy rarely generates one — skip those draws
    if len(set(named)) != len(named):
        return

    expected = {}
    for idx, row in enumerate(grid[1:], start=1):
        if all(c == "" for c in row):
            continue  # blank-row filter
        padded = row + [""] * (width - len(row))
        fields = dict(zip(named, padded))
        seq = fields.get("ลำดับที่")
        if seq is not None and seq.strip() == "":
            continue  # empty-sequence filter
        expected[idx] = fields

    got = {r["row_index"]: dict(r["fields"]) for r in recs}
    # _clean_cell may rewrite two-number cells; compare only cells it
    # passes through untouched
    for idx, fields in expected.items():
        assert idx in got, f"row {idx} missing"
        for k, v in fields.items():
            import re
            if re.search(r"\d+(?:\.\d+)?\s+\d+(?:\.\d+)?", v):
                continue
            assert got[idx][k] == v, (idx, k, v, got[idx][k])
    assert set(got) == set(expected)


def _bfs_component_labels(edges) -> set[tuple[int, int]]:
    """Reference: components by BFS over the adjacency lists, each node
    labelled with its component's min id."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out: set[tuple[int, int]] = set()
    seen: set[int] = set()
    for start in adj:
        if start in seen:
            continue
        comp, todo = [], [start]
        seen.add(start)
        while todo:
            x = todo.pop()
            comp.append(x)
            for y in adj[x] - seen:
                seen.add(y)
                todo.append(y)
        out |= {(x, min(comp)) for x in comp}
    return out


# one component: (shape, node count); chains reach depth 50
CC_COMPONENT = st.one_of(
    st.tuples(st.just("star"), st.integers(min_value=2, max_value=12)),
    st.tuples(st.just("chain"), st.integers(min_value=2, max_value=51)),
    st.tuples(st.just("clique"), st.integers(min_value=2, max_value=7)),
)


@settings(max_examples=2, deadline=None)
@given(
    st.lists(CC_COMPONENT, min_size=1, max_size=6),
    st.sampled_from([0, 2**62 - 1000, 2**62]),
    st.randoms(use_true_random=False),
)
def test_cc_algorithms_agree(spark, components, base, rnd):
    """For ANY mix of stars, chains and cliques (ids shuffled, near
    2^62 or not, pairs in random order and orientation), both
    connected_components paths give the BFS reference's
    (id -> component-min) labelling — with CC_LOCAL_MAX_PAIRS at 0, at
    a large value, exactly at the pair count and one pair below it."""
    from unittest import mock

    from etl_script_spark.operators import dedup

    edges, next_id = [], base
    for shape, k in components:
        ids = list(range(next_id, next_id + k))
        next_id += k
        rnd.shuffle(ids)
        if shape == "star":
            edges += [(ids[0], x) for x in ids[1:]]
        elif shape == "chain":
            edges += list(zip(ids, ids[1:]))
        else:
            edges += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
    edges = [(b, a) if rnd.random() < 0.5 else (a, b) for a, b in edges]
    rnd.shuffle(edges)
    want = _bfs_component_labels(edges)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    n = len(edges)
    real_local = dedup._local_components
    for bound, local in ((0, False), (10**9, True), (n, True), (n - 1, False)):
        with mock.patch.object(dedup, "CC_LOCAL_MAX_PAIRS", bound), \
                mock.patch.object(dedup, "_local_components",
                                  side_effect=real_local) as spy:
            got = {tuple(r) for r in dedup.connected_components(pairs).collect()}
        assert spy.called == local, (bound, n)
        assert got == want, (bound, n)


TOKENS = st.text(
    alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789- ",
    min_size=0,
    max_size=18,
)


@settings(max_examples=1, deadline=None)
@given(st.lists(TOKENS, min_size=30, max_size=30, unique=True))
def test_docref_normalize_idempotent(spark, tokens):
    """F19 token normalization is idempotent: repairing an
    already-repaired doc/ref token changes nothing (O→0/I→1 folding,
    1V→IV, CONSIGN family are all fixpoints of themselves)."""
    from etl_script_spark.pipelines.remittance import normalize_docref_token

    df = spark.createDataFrame([(v,) for v in tokens], ["tok"])
    out = df.select(
        normalize_docref_token(F.col("tok")).alias("once"),
        normalize_docref_token(
            normalize_docref_token(F.col("tok"))
        ).alias("twice"),
    ).collect()
    for r in out:
        assert r["once"] == r["twice"], (r["once"], r["twice"])


@settings(max_examples=1, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 20), st.integers(0, 10**6)),
             min_size=10, max_size=80)
)
def test_salted_join_equals_plain_join(spark, rows):
    """salted_join is semantically invisible: for ANY fact table (with
    hot keys by construction) the salted inner join equals the plain
    inner join."""
    from etl_script_spark.operators.skew import salted_join

    facts = spark.createDataFrame(
        [(k, v) for k, v in rows], "k long, payload long"
    )
    dim = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(0, 21, 2)], "k long, name string"
    )
    got = {
        tuple(r)
        for r in salted_join(facts, dim, "k", n_salts=4).collect()
    }
    exp = {tuple(r) for r in facts.join(dim, "k").collect()}
    assert got == exp


# ---------------------------------------------------------------------------
# Curation-operator laws (round 4)
# ---------------------------------------------------------------------------

_URL_CHARS = st.text(
    alphabet="abcXYZ019-._~/?&=#%: ", min_size=0, max_size=40
)
_TEXTS = st.text(
    alphabet="abc xyz 019 .,!@-\n\t", min_size=0, max_size=200
)


@settings(max_examples=1, deadline=None)
@given(st.lists(_URL_CHARS, min_size=40, max_size=40))
def test_canonicalize_url_idempotent(spark, tails):
    """canon(canon(u)) == canon(u) — a canonical form must be a fixed
    point, else downstream dedup keys drift depending on how many
    times a URL passed through the pipeline."""
    from etl_script_spark.operators import urls

    values = [f"HTTP://Ex.COM:80/{t}" for t in tails] + tails  # + schemeless
    df = spark.createDataFrame([(v,) for v in values], ["u"])
    out = df.select(
        urls.canonicalize_url(F.col("u")).alias("once"),
    ).select(
        "once", urls.canonicalize_url(F.col("once")).alias("twice")
    )
    for r in out.collect():
        assert r["once"] == r["twice"], r


@settings(max_examples=1, deadline=None)
@given(st.lists(_TEXTS, min_size=30, max_size=30))
def test_redact_idempotent_and_clean(spark, texts):
    """redact(redact(t)) == redact(t), and a redacted text has zero
    remaining PII matches — masking must never construct a new match
    (e.g. [PHONE] digits bleeding into an adjacent number)."""
    from etl_script_spark.operators import redact

    salted = [
        t + " a@b.co 081-234-5678 1-2345-67890-12-3 10.0.0.1" for t in texts
    ]
    df = spark.createDataFrame([(v,) for v in salted], ["t"])
    once = df.select(redact.redact(F.col("t")).alias("once"))
    rows = once.select(
        "once",
        redact.redact(F.col("once")).alias("twice"),
        redact.pii_report(F.col("once")).alias("left"),
    ).collect()
    for r in rows:
        assert r["once"] == r["twice"]
        assert r["left"]["total"] == 0, r["once"]


@settings(max_examples=1, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=120), min_size=20, max_size=20))
def test_chunk_text_covers_document(spark, lengths):
    """Chunks must tile the normalized document exactly: stripping
    each chunk's leading overlap and concatenating reproduces the
    full token stream — no token lost, none duplicated."""
    from etl_script_spark.operators import textstats

    docs = [
        (i, " ".join(f"t{i}x{j}" for j in range(n)))
        for i, n in enumerate(lengths)
    ]
    df = spark.createDataFrame(docs, ["id", "t"])
    chunk, overlap = 16, 4
    out = textstats.chunk_text(df, "t", "id", chunk, overlap)
    got = {}
    for r in sorted(out.collect(), key=lambda r: (r["id"], r["chunk_idx"])):
        toks = r["chunk_text"].split(" ") if r["chunk_text"] else [""]
        prev = got.get(r["id"])
        if prev is None:
            got[r["id"]] = list(toks)
        else:
            # overlap region must match the tail of what we have
            k = min(overlap, len(toks))
            assert prev[-k:] == toks[:k], (r["id"], r["chunk_idx"])
            got[r["id"]].extend(toks[k:])
    for i, n in enumerate(lengths):
        expected = [f"t{i}x{j}" for j in range(n)] or [""]
        assert got[i] == expected, i


# ---------------------------------------------------------------------------
# Prefix-filtered exact Jaccard: losslessness property (round 5)
# ---------------------------------------------------------------------------

_VOCAB = [f"w{i}" for i in range(12)]
_DOC = st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=15).map(" ".join)


def _brute_jaccard_pairs(texts, n, threshold):
    """Pure-Python replay of ngram_jaccard_pairs' semantics (max_df
    off): normalized word n-gram shingle SETS, all-pairs jaccard."""
    def sh(t):
        ws = " ".join(t.lower().split()).split(" ")
        ws = [w for w in ws if w != ""] or [""]
        if len(ws) >= n:
            grams = {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}
        else:
            grams = {" ".join(ws)}
        return grams

    sets = {i: sh(t) for i, t in enumerate(texts)}
    out = set()
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if union and inter / union >= threshold:
                    out.add((a, b))
    return out


@settings(max_examples=3, deadline=None)
@given(
    st.lists(_DOC, min_size=4, max_size=14),
    st.sampled_from([0.5, 0.8]),
)
def test_prefix_filtered_jaccard_is_lossless(spark, texts, threshold):
    """The AllPairs prefix filter must return EXACTLY the brute-force
    pair set at the given threshold — losslessness is the entire
    contract (a float-rounding slip in the prefix length or the size
    filter silently drops boundary pairs; the epsilon guards exist
    for this test to validate). max_df=None so the hot-shingle cap
    (a documented semantic change) stays out of the property."""
    from etl_script_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=2, threshold=threshold, max_df=None
        ).collect()
    }
    assert got == _brute_jaccard_pairs(texts, 2, threshold)
