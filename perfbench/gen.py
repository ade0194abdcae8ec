"""Seeded input generator: corpora and query lists.

Everything is derived from ``(seed, stream)`` through ``random.Random``
string seeding, so the same seed always yields byte-identical inputs.
The engine only ever sees the files written here (text files plus a
manifest in the reference's ``<count>\\n<path>...`` format, and a
``(doc_id, text)`` parquet file for the serving layout).
"""

from __future__ import annotations

import os
import random
import string
from bisect import bisect
from dataclasses import dataclass
from itertools import accumulate

import pyarrow as pa
import pyarrow.parquet as pq

from . import twins

VOCAB_SIZE = 50_000
ZIPF_S = 1.07
LINE_TOKENS = 14

# query mix of the serve workload (shares of the list, sum 100)
QUERY_MIX = (
    ("term", 30),
    ("boolean", 20),
    ("bm25", 20),
    ("phrase", 15),
    ("prefix", 8),
    ("fuzzy", 5),
    ("mlt", 2),
)


def rng(seed: int, stream: str) -> random.Random:
    """An independent deterministic stream per (seed, purpose)."""
    return random.Random(f"perfbench:{seed}:{stream}")


@dataclass
class Vocab:
    words: list[str]
    cum: list[float]

    def sample(self, r: random.Random, k: int) -> list[str]:
        return r.choices(self.words, cum_weights=self.cum, k=k)


def make_vocab(seed: int, size: int = VOCAB_SIZE) -> Vocab:
    """``size`` distinct lowercase words, Zipf(``ZIPF_S``)-weighted by rank."""
    r = rng(seed, "vocab")
    seen: set[str] = set()
    words: list[str] = []
    letters = string.ascii_lowercase
    while len(words) < size:
        w = "".join(r.choices(letters, k=r.randint(3, 10)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    cum = list(accumulate(1.0 / (rank**ZIPF_S) for rank in range(1, size + 1)))
    return Vocab(words, cum)


_PUNCT = ",.;:!?"


def _noisy(tokens: list[str], r: random.Random) -> list[str]:
    """Case, punctuation and digit noise the tokenizer must normalize
    away: capitalized / upper-cased words, trailing punctuation, quoted
    words, pure-digit tokens (dropped), alphanumerics and hyphenated
    joins (both collapse to a new letters-only word)."""
    out: list[str] = []
    i = 0
    n = len(tokens)
    while i < n:
        w = tokens[i]
        x = r.random()
        if x < 0.10:
            w = w.capitalize()
        elif x < 0.12:
            w = w.upper()
        elif x < 0.20:
            w = w + _PUNCT[int(x * 1000) % len(_PUNCT)]
        elif x < 0.22:
            w = f'"{w}"'
        elif x < 0.235:
            out.append(str(int(x * 100_000) % 3000))
        elif x < 0.245:
            w = f"{w}{int(x * 10_000) % 100}"
        elif x < 0.255 and i + 1 < n:
            w = f"{w}-{tokens[i + 1]}"
            i += 1
        out.append(w)
        i += 1
    return out


def make_docs(
    vocab: Vocab, seed: int, stream: str, n_docs: int, mean_tokens: int
) -> list[tuple[int, str]]:
    """``n_docs`` (doc_id, text) pairs with ids ``1..n_docs``; lengths
    uniform in [mean/2, 3*mean/2], drawn in pairs that sum to twice the
    mean so every seed yields the same number of raw tokens;
    ``LINE_TOKENS`` tokens per line."""
    r = rng(seed, stream)
    docs = []
    n = mean_tokens
    for k in range(n_docs):
        n = r.randint(mean_tokens // 2, mean_tokens * 3 // 2) if k % 2 == 0 else 2 * mean_tokens - n
        toks = _noisy(vocab.sample(r, n), r)
        lines = [
            " ".join(toks[j : j + LINE_TOKENS]) for j in range(0, len(toks), LINE_TOKENS)
        ]
        docs.append((k + 1, "\n".join(lines)))
    return docs


def write_text_corpus(docs: list[tuple[int, str]], root: str) -> str:
    """One text file per document plus the manifest; returns the
    manifest path. Manifest order is doc_id order, so the reference's
    1-based manifest ids equal the doc ids."""
    os.makedirs(os.path.join(root, "files"), exist_ok=True)
    rel = []
    for doc_id, text in docs:
        p = f"files/d{doc_id:06d}.txt"
        with open(os.path.join(root, p), "w", encoding="utf-8") as fh:
            fh.write(text + "\n")
        rel.append(p)
    manifest = os.path.join(root, "manifest.txt")
    with open(manifest, "w", encoding="utf-8") as fh:
        fh.write(f"{len(rel)}\n" + "\n".join(rel) + "\n")
    return manifest


def write_parquet(docs: list[tuple[int, str]], path: str) -> str:
    table = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
        }
    )
    pq.write_table(table, path)
    return path


def _edit(word: str, r: random.Random) -> str:
    """One random substitution, deletion or insertion (a typo)."""
    i = r.randrange(len(word))
    kind = r.randrange(3)
    c = r.choice(string.ascii_lowercase)
    if kind == 0:
        return word[:i] + c + word[i + 1 :]
    if kind == 1 and len(word) > 2:
        return word[:i] + word[i + 1 :]
    return word[:i] + c + word[i:]


def make_queries(
    vocab: Vocab,
    docs: list[tuple[int, str]],
    seed: int,
    stream: str,
    n: int,
    mix: tuple[tuple[str, int], ...] = QUERY_MIX,
) -> list[tuple]:
    """``n`` queries whose kinds follow the ``mix`` proportions in a
    smooth weighted round-robin order, so every whole list carries the
    exact mix.

    Terms are Zipf-weighted vocabulary draws, stratified per kind (the
    k-th of m draws falls in the k-th of m equal-probability slices of
    the Zipf distribution, slices shuffled), so every seed gets the same
    spread of head and tail terms. Phrases start at a drawn term that
    occurs in the corpus and take the token that follows it there.
    Prefixes are the 3-letter heads of drawn terms; fuzzy terms are one
    random edit away from a drawn term; more-like-this targets are
    documents of middling length. BM25 queries alternate 2 and 3
    terms."""
    r = rng(seed, stream)
    kinds = smooth_order(mix, n)
    count = {kind: kinds.count(kind) for kind, _ in mix}
    toks = {doc_id: twins.tokenize(text) for doc_id, text in docs}
    follows: dict[str, list[tuple[int, int]]] = {}
    for d, t in toks.items():
        for j in range(len(t) - 1):
            follows.setdefault(t[j], []).append((d, j))
    n_bm25 = [2 + k % 2 for k in range(count.get("bm25", 0))]
    draws = {
        kind: iter(stratified(vocab, r, m))
        for kind, m in (
            ("term", count.get("term", 0)),
            ("boolean", 2 * count.get("boolean", 0)),
            ("bm25", sum(n_bm25)),
            ("phrase", count.get("phrase", 0)),
            ("prefix", count.get("prefix", 0)),
            ("fuzzy", count.get("fuzzy", 0)),
        )
    }
    bm25_sizes = iter(n_bm25)
    by_len = sorted((len(t), d) for d, t in toks.items() if len(t) >= 2)
    middling = [d for _, d in by_len[len(by_len) // 4 : max(1, 3 * len(by_len) // 4)]]
    out: list[tuple] = []
    for kind in kinds:
        if kind == "term":
            out.append(("term", vocab.words[next(draws[kind])]))
        elif kind == "boolean":
            out.append(("boolean", vocab.words[next(draws[kind])], vocab.words[next(draws[kind])]))
        elif kind == "bm25":
            out.append(("bm25", " ".join(vocab.words[next(draws[kind])] for _ in range(next(bm25_sizes)))))
        elif kind == "phrase":
            i = next(draws[kind])
            while i > 0 and vocab.words[i] not in follows:  # toward the head
                i -= 1
            d, j = r.choice(follows.get(vocab.words[i]) or [p for ps in follows.values() for p in ps])
            out.append(("phrase", f"{toks[d][j]} {toks[d][j + 1]}"))
        elif kind == "prefix":
            i = next(draws[kind])
            while len(vocab.words[i]) < 4:
                i += 1
            out.append(("prefix", vocab.words[i][:3]))
        elif kind == "fuzzy":
            out.append(("fuzzy", _edit(vocab.words[next(draws[kind])], r)))
        elif kind == "mlt":
            out.append(("mlt", r.choice(middling)))
    return out


def stratified(vocab: Vocab, r: random.Random, m: int) -> list[int]:
    """``m`` Zipf-weighted vocabulary ranks, one per equal-probability
    slice of the distribution, in random order."""
    slices = list(range(m))
    r.shuffle(slices)
    total = vocab.cum[-1]
    return [
        min(len(vocab.words) - 1, bisect(vocab.cum, (k + r.random()) / m * total))
        for k in slices
    ]


def smooth_order(mix: tuple[tuple[str, int], ...], n: int) -> list[str]:
    """Smooth weighted round-robin: ``n`` kinds, each kind's count
    within one of its share at every prefix of the list."""
    total = sum(w for _, w in mix)
    credit = {kind: 0 for kind, _ in mix}
    out = []
    for _ in range(n):
        for kind, w in mix:
            credit[kind] += w
        best = max(credit, key=credit.get)
        credit[best] -= total
        out.append(best)
    return out
