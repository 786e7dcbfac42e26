"""Independent BM25 reference and result comparison for the checks.

Implements the engine's documented scoring (``operators/bm25.py``,
``config.BM25_K1``/``BM25_B``) from the raw texts with NumPy, sharing no
code with the engine: lower-case whitespace tokens minus the stopwords;
``idf = ln(N / (df + 1))``; ``avgdl`` over documents with at least one
token; per-document score rounded to 6 decimals; ties broken by
``doc_id`` ascending.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

K1 = 1.2
B = 0.75
STOPWORDS = frozenset(("the", "a"))
TOL = 1e-5


class ShadowIndex:
    """The live document set, kept in step with every write the benchmark
    sends to the engine, with postings for reference scoring."""

    def __init__(self, texts: dict[int, str]):
        self.tf: dict[int, Counter] = {}
        self.text_bytes: dict[int, int] = {}
        self.postings: dict[str, dict[int, int]] = {}
        for doc_id, text in texts.items():
            self.put(doc_id, text)

    def put(self, doc_id: int, text: str) -> None:
        self.delete(doc_id)
        tf = Counter(w for w in text.lower().split() if w not in STOPWORDS)
        self.tf[doc_id] = tf
        self.text_bytes[doc_id] = len(text.encode())
        for w, c in tf.items():
            self.postings.setdefault(w, {})[doc_id] = c

    def delete(self, doc_id: int) -> None:
        old = self.tf.pop(doc_id, None)
        self.text_bytes.pop(doc_id, None)
        for w in old or ():
            del self.postings[w][doc_id]

    def scores(self, terms) -> dict[int, float]:
        n = len(self.tf)
        lens = np.fromiter((sum(c.values()) for c in self.tf.values()), float, n)
        avgdl = lens[lens > 0].mean()
        out: dict[int, float] = {}
        for t in set(terms):
            docs = self.postings.get(t, {})
            if not docs:
                continue
            idf = np.log(n / (len(docs) + 1))
            ids = np.fromiter(docs.keys(), np.int64, len(docs))
            tf = np.fromiter(docs.values(), float, len(docs))
            dl = np.fromiter((sum(self.tf[i].values()) for i in ids), float, len(ids))
            contrib = idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))
            for i, c in zip(ids.tolist(), contrib.tolist()):
                out[i] = out.get(i, 0.0) + c
        return {i: round(s, 6) for i, s in out.items()}


def topk_matches(rows: list[tuple[int, float]], ref: dict[int, float], k: int) -> bool:
    """``rows`` = the engine's ``(doc_id, score)`` top-k in rank order.

    Accepts exactly the rankings the reference allows: every returned
    score matches the reference, scores are non-increasing, the row count
    is ``min(k, matching docs)``, and no unreturned doc outscores the
    lowest returned one (ties within tolerance may break either way)."""
    if len(rows) != min(k, len(ref)):
        return False
    for (doc, score), nxt in zip(rows, rows[1:] + [None]):
        if doc not in ref or abs(ref[doc] - score) > TOL:
            return False
        if nxt is not None and nxt[1] > score + TOL:
            return False
    if not rows:
        return True
    returned = {d for d, _ in rows}
    floor = rows[-1][1]
    return all(s <= floor + TOL for d, s in ref.items() if d not in returned)


def normalized(rows, cols) -> list[tuple]:
    """Order- and column-order-insensitive form of a result, floats
    rounded to 6 places — the driver contract's comparison."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, bool):
                v = int(v)
            elif isinstance(v, float):
                v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)
