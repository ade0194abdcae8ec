"""Pure-Python twins of the engine's answers, used to check every result.

The tokenization rule is the paper's: split on ASCII whitespace, lower
case, delete every byte outside ``[a-z]``, drop empty tokens. Document
ids in postings are distinct and ascending; positions are 0-based over
the normalized token stream of the whole document.

BM25 follows the engine's documented formula exactly: idf is
``round(ln(1 + (N - df + 0.5) / (df + 0.5)), 9)``, each term score is
rounded to 9 places, per-document scores are decimal sums, the top k
are ordered by score descending then ``doc_id``, and the rendered
score is the sum rounded half-up to 6 places. Spark's ``round`` on a
double rounds the decimal string of the double half-up, which is what
``_round_half_up`` does.
"""

from __future__ import annotations

import math
import re
import string
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

_WS = re.compile("[ \t\n\x0b\f\r]+")
_STRIP = re.compile("[^a-z \t\n\x0b\f\r]")
LETTERS = string.ascii_lowercase


def tokenize(text: str) -> list[str]:
    return [w for w in _WS.split(_STRIP.sub("", text.lower())) if w]


class Index:
    """Positional inverted index over ``(doc_id, text)`` documents."""

    def __init__(self, docs: list[tuple[int, str]] = ()) -> None:
        self.pos: dict[str, dict[int, list[int]]] = defaultdict(dict)
        self.dl: dict[int, int] = {}
        self.n_docs = 0
        self.add(docs)

    def add(self, docs: list[tuple[int, str]]) -> None:
        for doc_id, text in docs:
            toks = tokenize(text)
            self.n_docs += 1
            if toks:
                self.dl[doc_id] = len(toks)
            for i, w in enumerate(toks):
                self.pos[w].setdefault(doc_id, []).append(i)

    def postings(self, word: str) -> list[int]:
        return sorted(self.pos.get(word, ()))

    # ---- reference output ----------------------------------------------

    def reference_files(self) -> dict[str, bytes]:
        """The paper's 26 files: per letter, ``word:[id1 id2 ...]`` lines
        ordered by df descending then word ascending; empty letters get
        an empty file."""
        per: dict[str, list[tuple[int, str]]] = {c: [] for c in LETTERS}
        for w, by_doc in self.pos.items():
            per[w[0]].append((-len(by_doc), w))
        out = {}
        for c in LETTERS:
            lines = [
                f"{w}:[{' '.join(map(str, self.postings(w)))}]\n"
                for _, w in sorted(per[c])
            ]
            out[f"{c}.txt"] = "".join(lines).encode()
        return out

    # ---- stored query twins --------------------------------------------

    def _entries(self, words) -> list[tuple]:
        return sorted((w, len(self.pos[w]), self.postings(w)) for w in words if w in self.pos)

    def term(self, t: str) -> list[tuple]:
        return self._entries([t])

    def boolean(self, t1: str, t2: str) -> list[tuple]:
        if t1 not in self.pos or t2 not in self.pos:
            return []
        a, b = set(self.pos[t1]), set(self.pos[t2])
        return sorted(
            [
                ("and", t1, t2, sorted(a & b)),
                ("or", t1, t2, sorted(a | b)),
                ("not", t1, t2, sorted(a - b)),
            ]
        )

    def phrase(self, phrase: str) -> list[tuple]:
        words = tokenize(phrase)
        if any(w not in self.pos for w in words):
            return []
        docs = set.intersection(*(set(self.pos[w]) for w in words))
        out = []
        for d in docs:
            sets = [set(self.pos[w][d]) for w in words]
            hits = [p for p in self.pos[words[0]][d] if all(p + i in sets[i] for i in range(1, len(words)))]
            if hits:
                out.append((d, hits))
        return sorted(out)

    def prefix(self, p: str) -> list[tuple]:
        return self._entries(w for w in self.pos if w.startswith(p))

    def fuzzy(self, q: str) -> list[tuple]:
        return self._entries(w for w in self.pos if within_one_edit(w, q))

    def bm25(self, query: str, k: int = 10, k1: float = 1.2, b: float = 0.75) -> list[tuple]:
        words = sorted(set(tokenize(query)))
        avgdl = (sum(self.dl.values()) / len(self.dl)) if self.dl else 1.0
        scores: dict[int, Decimal] = defaultdict(Decimal)
        for w in words:
            by_doc = self.pos.get(w)
            if not by_doc:
                continue
            df = len(by_doc)
            idf = _round_half_up(math.log(1.0 + (float(self.n_docs) - df + 0.5) / (df + 0.5)), 9)
            for d, ps in by_doc.items():
                tf = len(ps)
                s = idf * (tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * self.dl[d] / avgdl)))
                scores[d] += Decimal(repr(_round_half_up(s, 9)))
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return [
            (d, str(s.quantize(Decimal("0.000001"), ROUND_HALF_UP)), r)
            for r, (d, s) in enumerate(top, start=1)
        ]


def _round_half_up(x: float, places: int) -> float:
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def within_one_edit(a: str, b: str) -> bool:
    """Levenshtein(a, b) <= 1."""
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) <= 1
    if la > lb:
        a, b = b, a
    i = 0
    while i < len(a) and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1 :]
