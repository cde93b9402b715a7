"""Seeded document generator with planted near-duplicate clusters, and the
plain-Python answers the curation pipeline must give for it.

Documents are prose over a pseudo-word vocabulary.  A share of them is
built to fail a Gopher rule by a wide margin (too few tokens, symbol-heavy,
no stop word, overlong tokens), and the rest to pass every rule by a wide
margin, so the expected keep/drop label is known by construction.  Among
the passing documents, clusters of near-duplicates are planted: copies of
a root document with one or two words replaced, or exact copies.

The near-duplicate answer exists twice.  ``Corpus.planted`` is the
generator's own record; ``expected_curation`` re-runs the engine's MinHash
LSH rule exactly (md5 shingle hash, the same universal permutations, the
same bands and threshold) in plain Python/NumPy and joins the pairs with a
union-find.  The run checks Spark against the second, which is exact; the
tests check that the second recovers the first.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

import numpy as np

STOPWORDS = ["the", "and", "of", "to", "is"]
MINHASH_PRIME = 4294967291
NUM_PERM = 16
BANDS = 4
SHINGLE_K = 8
THRESHOLD = 0.5
PACK_CAPACITY = 256


@dataclass
class Corpus:
    """Generated documents and what the generator planted in them."""

    texts: list[str]  # index = doc_id
    passes: list[bool]
    planted: list[list[int]]  # clusters of passing near-duplicates, ≥ 2 ids


def _vocab(rng: random.Random, n: int, lo: int, hi: int) -> list[str]:
    letters = "abcdefghijklmnoprstuvwy"
    out: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(lo, hi)))
        if w not in STOPWORDS:
            out.add(w)
    return sorted(out)


def _prose(rng: random.Random, vocab: list[str], n_tokens: int) -> list[str]:
    toks = []
    for i in range(n_tokens):
        w = rng.choice(STOPWORDS) if rng.random() < 0.06 else rng.choice(vocab)
        toks.append(w + "." if i % 12 == 11 else w)
    if not any(t.rstrip(".") in STOPWORDS for t in toks):
        toks[0] = "the"
    return toks


def generate_corpus(seed: int, n_docs: int) -> Corpus:
    """About ``n_docs`` documents; the same seed gives the same corpus."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000, 3, 9)
    long_vocab = _vocab(rng, 300, 15, 18)
    docs: list[tuple[str, bool, int]] = []  # (text, passes, cluster root or -1)
    while len(docs) < n_docs:
        r = rng.random()
        if r < 0.12:
            kind = rng.randrange(4)
            if kind == 0:  # too_few_tokens
                toks = _prose(rng, vocab, rng.randint(3, 7))
            elif kind == 1:  # symbol_heavy
                toks = [f"{w}#$%&*" for w in _prose(rng, vocab, rng.randint(40, 90))]
            elif kind == 2:  # no_stopword
                toks = [rng.choice(vocab) for _ in range(rng.randint(40, 90))]
            else:  # mean_token_len_high
                toks = [
                    rng.choice(STOPWORDS) if rng.random() < 0.15 else rng.choice(long_vocab)
                    for _ in range(rng.randint(40, 90))
                ]
            docs.append((" ".join(toks), False, -1))
            continue
        toks = _prose(rng, vocab, rng.randint(60, 140))
        root = len(docs)
        docs.append((" ".join(toks), True, -1))
        if r < 0.22:
            for _ in range(rng.randint(1, 3)):
                copy = list(toks)
                if rng.random() < 0.8:
                    for _ in range(rng.randint(1, 2)):
                        at = rng.randrange(len(copy))
                        if copy[at] not in STOPWORDS:  # keep a stop word
                            copy[at] = rng.choice(vocab)
                docs.append((" ".join(copy), True, root))
    order = list(range(len(docs)))
    rng.shuffle(order)
    new_id = {old: new for new, old in enumerate(order)}
    texts = [docs[old][0] for old in order]
    passes = [docs[old][1] for old in order]
    clusters: dict[int, list[int]] = {}
    for old, (_, _, root) in enumerate(docs):
        if root >= 0:
            clusters.setdefault(new_id[root], [new_id[root]]).append(new_id[old])
    planted = sorted(sorted(c) for c in clusters.values())
    return Corpus(texts, passes, planted)


# ------------------------------------------------------------ ground truth


def _shingle_hashes(text: str, cache: dict[str, int]) -> np.ndarray:
    n = max(len(text) - (SHINGLE_K - 1), 1)
    out = []
    for p in range(n):
        sh = text[p : p + SHINGLE_K]
        h = cache.get(sh)
        if h is None:
            # engine: conv(substring(md5("0:" || shingle), 1, 15), 16, 10)
            h = int(hashlib.md5(("0:" + sh).encode()).hexdigest()[:15], 16)
            cache[sh] = h
        out.append(h)
    return np.array(out, dtype=np.int64)


def minhash_signature(text: str, cache: dict[str, int]) -> list[int]:
    """The engine's ``minhash_signatures`` row for one document."""
    m = _shingle_hashes(text, cache) % MINHASH_PRIME
    p = np.arange(NUM_PERM, dtype=np.int64)
    a = (2 * p + 1)[:, None]
    b = (10007 * p + 12345)[:, None]
    return ((a * m[None, :] + b) % MINHASH_PRIME).min(axis=1).tolist()


def expected_pairs(texts: dict[int, str]) -> list[tuple[int, int]]:
    """``minhash_near_duplicates`` pairs (id_a < id_b) over ``texts``."""
    cache: dict[str, int] = {}
    sigs = {i: minhash_signature(t, cache) for i, t in texts.items()}
    rows = NUM_PERM // BANDS
    buckets: dict[tuple[int, str], list[int]] = {}
    for i, sig in sigs.items():
        for b in range(BANDS):
            key = "_".join(str(v) for v in sig[b * rows : (b + 1) * rows])
            buckets.setdefault((b, key), []).append(i)
    pairs = set()
    for ids in buckets.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, c = min(ids[x], ids[y]), max(ids[x], ids[y])
                agree = sum(u == v for u, v in zip(sigs[a], sigs[c]))
                if agree / NUM_PERM >= THRESHOLD:
                    pairs.add((a, c))
    return sorted(pairs)


def clusters_from_pairs(ids: list[int], pairs: list[tuple[int, int]]) -> dict[int, int]:
    """doc_id → smallest doc_id of its connected component."""
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def expected_packing(texts: dict[int, str], capacity: int = PACK_CAPACITY) -> list[tuple]:
    """``pack_sequences`` rows (seq_id, n_docs, n_tokens, first_doc,
    last_doc) for documents laid end to end in doc_id order."""
    seqs: dict[int, list[int]] = {}
    start = 0
    for doc_id in sorted(texts):
        w = len(texts[doc_id].split())
        if w == 0:
            continue
        for s in range(start // capacity, (start + w - 1) // capacity + 1):
            contrib = min(start + w, (s + 1) * capacity) - max(start, s * capacity)
            acc = seqs.get(s)
            if acc is None:
                seqs[s] = [1, contrib, doc_id, doc_id]
            else:
                acc[0] += 1
                acc[1] += contrib
                acc[3] = doc_id
        start += w
    return [(s, *acc) for s, acc in sorted(seqs.items())]


@dataclass
class CurationTruth:
    passes: dict[int, bool]
    cluster: dict[int, int]  # passing doc_id → cluster id
    packed: list[tuple]


def expected_curation(corpus: Corpus) -> CurationTruth:
    kept = {i: t for i, t in enumerate(corpus.texts) if corpus.passes[i]}
    pairs = expected_pairs(kept)
    cluster = clusters_from_pairs(sorted(kept), pairs)
    canonical = {i: t for i, t in kept.items() if cluster[i] == i}
    return CurationTruth(
        passes=dict(enumerate(corpus.passes)),
        cluster=cluster,
        packed=expected_packing(canonical),
    )
