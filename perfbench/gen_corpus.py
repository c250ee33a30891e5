"""Seeded crawl for corpus_curation, written as parquet epochs.

Every document is planted with a known fate:

- ``copy``: an exact copy of an earlier document (case and whitespace
  changed, which normalisation undoes);
- ``near``: an earlier original English document with k words
  replaced, so its 3-gram Jaccard to the original sits at a known level
  (the Jaccard actually realised is recomputed here, apart from the
  engine); these clusters are stars around their original;
- chains: a fixed number of English documents of the first epoch each
  get one variant per later epoch, made from the previous variant
  (``CHAIN_EDITS`` words replaced per hop), so every chain is a path of
  exactly ``epochs - 1`` hops: each hop is above the threshold and
  every longer jump below it. The clustering's propagation rounds
  follow the longest such path, and it is the same for every seed;
- ``repetitive`` / ``short``: low quality;
- language ``en`` (kept), ``de`` or ``th`` (filtered out).

The epochs are written with pyarrow, one file each, with increasing
mtimes so a file stream delivers them in order.
"""

from __future__ import annotations

import os
import random
import re
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

STOP = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "von", "zu", "den", "mit", "ist", "des"],
}
ALL_STOP = {w for ws in STOP.values() for w in ws} | {
    "el", "la", "de", "que", "y", "en", "un", "los", "del", "por", "le", "et",
    "les", "des", "une", "du", "est",
}
THAI = "กขคงจฉชซญดตถทธนบปผพฟมยรลวสหอะาำิีึืุูเแโใไ่้๊๋"
NEAR_EDITS = (1, 2, 3, 4, 6, 10, 16)   # words replaced in a ~120-word doc
CHAIN_EDITS = 3   # per hop: one hop ≈ 0.86 Jaccard, two hops ≈ 0.74
THRESHOLD = 0.8


@dataclass(frozen=True)
class CorpusSpec:
    epochs: int = 4
    docs_per_epoch: int = 300
    words: int = 120
    copy_share: float = 0.10
    near_share: float = 0.14
    repetitive_share: float = 0.05
    short_share: float = 0.05
    de_share: float = 0.07
    th_share: float = 0.07
    chains: int = 8


def normalize(text: str) -> str:
    """The engine's dedup normalisation, restated: lowercase, collapse
    ASCII whitespace runs, trim spaces."""
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ")


def shingles(text: str, n: int = 3) -> set[str]:
    ws = normalize(text).split(" ")
    if len(ws) - (n - 1) <= 0:
        return {" ".join(ws)}
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def _vocab(rng: random.Random, n: int) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(4, 9)))
        if w not in ALL_STOP:
            out.add(w)
    return sorted(out)


def _sentence_text(words: list[str]) -> str:
    out = []
    for i, w in enumerate(words):
        out.append(w)
        if i % 14 == 13:
            out[-1] += "."
    return " ".join(out)


def _latin_doc(rng: random.Random, vocab: list[str], lang: str, n: int) -> list[str]:
    return [rng.choice(STOP[lang]) if rng.random() < 0.3 else rng.choice(vocab) for _ in range(n)]


def _thai_doc(rng: random.Random, n: int) -> str:
    return " ".join("".join(rng.choice(THAI) for _ in range(rng.randint(3, 8))) for _ in range(n))


def _respell(rng: random.Random, text: str) -> str:
    """Change case and spacing only: the normalised text is unchanged."""
    ws = text.split(" ")
    ws = [w.upper() if rng.random() < 0.2 else w for w in ws]
    return ("  " if rng.random() < 0.5 else " ").join(ws) + ("   " if rng.random() < 0.5 else "")


class CorpusTruth:
    def __init__(self) -> None:
        self.docs: dict[int, str] = {}
        self.fate: dict[int, str] = {}
        self.lang: dict[int, str] = {}
        self.base_of: dict[int, int] = {}   # near-dup variant -> its source
        self.chains: list[list[int]] = []

    def root(self, doc_id: int) -> int:
        while doc_id in self.base_of:
            doc_id = self.base_of[doc_id]
        return doc_id


def _chain_hop(rng: random.Random, vocab: list[str], text: str, positions: list[int]) -> str:
    ws = normalize(text).split(" ")
    for pos in positions:
        w = rng.choice(vocab)
        while w == ws[pos]:
            w = rng.choice(vocab)
        ws[pos] = w
    return " ".join(ws)


def _check_chain(truth: CorpusTruth, chain: list[int]) -> None:
    """Each hop at or above the threshold, every longer jump below it."""
    sh = [shingles(truth.docs[d]) for d in chain]
    for i in range(len(chain)):
        for j in range(i + 1, len(chain)):
            if (jaccard(sh[i], sh[j]) >= THRESHOLD) != (j == i + 1):
                raise AssertionError(f"chain {chain}: docs {chain[i]}, {chain[j]} "
                                     f"have Jaccard {jaccard(sh[i], sh[j]):.3f}")


def generate(seed: int, spec: CorpusSpec, feed_dir: str) -> CorpusTruth:
    rng = random.Random(seed)
    vocab = _vocab(rng, 6000)
    truth = CorpusTruth()
    originals: list[int] = []   # new English documents of good quality
    next_id = 1
    os.makedirs(feed_dir, exist_ok=True)
    # edit positions three words apart, so the shingles each edit
    # changes are disjoint from those of every other edit of its chain
    grid = list(range(3, spec.words - 3, 3))
    chain_edits = [rng.sample(grid, CHAIN_EDITS * (spec.epochs - 1)) for _ in range(spec.chains)]
    for e in range(spec.epochs):
        ids, texts = [], []
        chain_at = dict(zip(sorted(rng.sample(range(spec.docs_per_epoch), spec.chains)),
                            range(spec.chains)))
        for slot in range(spec.docs_per_epoch):
            doc_id = next_id
            next_id += 1
            r = rng.random()
            lang, fate = "en", "new"
            if slot in chain_at and e == 0:
                # a chain's root: a new English document, never a star's centre
                text = _sentence_text(_latin_doc(rng, vocab, "en", spec.words))
                truth.chains.append([doc_id])
            elif slot in chain_at:
                chain = truth.chains[chain_at[slot]]
                hop = chain_edits[chain_at[slot]][CHAIN_EDITS * (e - 1):CHAIN_EDITS * e]
                text, fate = _chain_hop(rng, vocab, truth.docs[chain[-1]], hop), "near"
                truth.base_of[doc_id] = chain[-1]
                chain.append(doc_id)
            elif truth.docs and r < spec.copy_share:
                src = rng.choice(sorted(truth.docs))
                text, fate, lang = _respell(rng, truth.docs[src]), "copy", truth.lang[src]
            elif originals and r < spec.copy_share + spec.near_share:
                src = rng.choice(originals)
                ws = normalize(truth.docs[src]).split(" ")
                for pos in rng.sample(range(len(ws)), rng.choice(NEAR_EDITS)):
                    ws[pos] = rng.choice(vocab)
                text, fate = " ".join(ws), "near"
                truth.base_of[doc_id] = src
            else:
                r2 = rng.random()
                cut = spec.repetitive_share
                if r2 < cut:
                    few = rng.sample(vocab, 3)
                    text, fate = " ".join(rng.choice(few) for _ in range(spec.words)), "repetitive"
                elif r2 < cut + spec.short_share:
                    text, fate = " ".join(rng.sample(vocab, 3)), "short"
                elif r2 < cut + spec.short_share + spec.de_share:
                    text, lang = _sentence_text(_latin_doc(rng, vocab, "de", spec.words)), "de"
                elif r2 < cut + spec.short_share + spec.de_share + spec.th_share:
                    text, lang = _thai_doc(rng, spec.words), "th"
                else:
                    text = _sentence_text(_latin_doc(rng, vocab, "en", spec.words))
            truth.docs[doc_id] = text
            truth.fate[doc_id] = fate
            truth.lang[doc_id] = lang
            if fate == "new" and lang == "en" and slot not in chain_at:
                originals.append(doc_id)
            ids.append(doc_id)
            texts.append(text)
        path = os.path.join(feed_dir, f"epoch_{e + 1}")
        os.makedirs(path, exist_ok=True)
        f = os.path.join(path, "part-00000.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), f)
        os.utime(f, (1_000_000 + e, 1_000_000 + e))
    for chain in truth.chains:
        _check_chain(truth, chain)
    return truth


def expected(truth: CorpusTruth) -> dict:
    """What a correct curation keeps, computed in plain Python."""
    first: dict[str, int] = {}
    for doc_id in sorted(truth.docs):
        first.setdefault(normalize(truth.docs[doc_id]), doc_id)
    admitted = set(first.values())

    # exact copies never get past the gate, so only first copies are
    # judged on their planted quality and language
    kept = {d for d in admitted if truth.lang[d] == "en" and truth.fate[d] in ("new", "near")}
    sh = {d: shingles(truth.docs[d]) for d in kept}
    clusters: dict[int, list[int]] = {}
    for d in kept:
        clusters.setdefault(truth.root(d), []).append(d)
    pairs = set()
    for members in clusters.values():
        members.sort()
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                if jaccard(sh[a], sh[b]) >= THRESHOLD:
                    pairs.add((a, b))
    parent = {d: d for d in kept}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    survivors = {d for d in kept if find(d) == d}
    return {"admitted": admitted, "kept": kept, "pairs": pairs, "survivors": survivors,
            "shingles": sh}

