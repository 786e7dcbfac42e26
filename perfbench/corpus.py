"""Seeded corpus generator for the benchmark.

Everything the engine sees is generated here from ``--seed``: the same
seed and shape give byte-identical rows.  The generator also returns the
ground truth the checks need (the planted near-duplicate pairs; the
serve workload's shadow doc set is the ``texts`` dict it returns).

Documents follow the fixture schema ``(doc_id, text, lang, source,
n_chars)``.  Words are pronounceable syllable strings drawn from a Zipf
law over a vocabulary of ``vocab`` terms, so the top ranks are genuinely
hot (``hot_terms``) while the tail stays sparse; document lengths are
log-normal.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_CONS = "bcdfghjklmnprstvz"
_VOWS = "aeiou"
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.5, 0.2, 0.15, 0.1, 0.05)


def word(i: int) -> str:
    """The i-th vocabulary word: two or more consonant-vowel syllables,
    distinct for distinct i and never a stopword."""
    base = len(_CONS) * len(_VOWS)
    sylls = []
    i += base  # at least two syllables
    while i:
        i, r = divmod(i, base)
        sylls.append(_CONS[r // len(_VOWS)] + _VOWS[r % len(_VOWS)])
    return "".join(sylls)


@dataclass
class Shape:
    docs: int
    vocab: int
    zipf_s: float = 1.05
    len_mu: float = 4.0  # log-normal mean of tokens per doc (e^4 ~ 55)
    len_sigma: float = 0.5
    max_len: int = 400
    line_words: int = 0  # >0: break text into lines of this many words
    boilerplate_share: float = 0.0
    near_dup_pairs: int = 0


@dataclass
class Corpus:
    texts: dict[int, str]
    langs: dict[int, str]
    planted_pairs: list[tuple[int, int]] = field(default_factory=list)
    hot_terms: list[str] = field(default_factory=list)
    n_tokens: int = 0

    def write(self, path: str) -> int:
        """Write ``documents.parquet`` under ``path``; returns its bytes."""
        os.makedirs(path, exist_ok=True)
        ids = sorted(self.texts)
        table = pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": [self.texts[i] for i in ids],
                "lang": [self.langs[i] for i in ids],
                "source": [f"src{i % 5}" for i in ids],
                "n_chars": pa.array(
                    [len(self.texts[i]) for i in ids], pa.int64()
                ),
            }
        )
        out = os.path.join(path, "documents.parquet")
        pq.write_table(table, out)
        return os.path.getsize(out)


class WordSampler:
    """Zipf-distributed word draws over a fixed vocabulary."""

    def __init__(self, rng: np.random.Generator, vocab: int, s: float):
        w = 1.0 / np.arange(1, vocab + 1) ** s
        self.cdf = np.cumsum(w / w.sum())
        self.rng = rng
        self.words = [word(i) for i in range(vocab)]

    def draw(self, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        idx = np.minimum(idx, len(self.words) - 1)
        return [self.words[i] for i in idx]


def _lines(tokens: list[str], width: int) -> list[str]:
    return [" ".join(tokens[i : i + width]) for i in range(0, len(tokens), width)]


def generate(seed: int, shape: Shape, first_id: int = 0) -> Corpus:
    rng = np.random.default_rng(seed)
    sampler = WordSampler(rng, shape.vocab, shape.zipf_s)
    lengths = np.clip(
        rng.lognormal(shape.len_mu, shape.len_sigma, shape.docs).astype(int),
        4,
        shape.max_len,
    )
    langs = rng.choice(len(LANGS), size=shape.docs, p=LANG_P)
    boiler = [" ".join(sampler.draw(8)) + " all rights reserved" for _ in range(6)]
    texts: dict[int, str] = {}
    lang_of: dict[int, str] = {}
    for k in range(shape.docs):
        doc_id = first_id + k
        toks = sampler.draw(int(lengths[k]))
        if shape.line_words:
            lines = _lines(toks, shape.line_words)
            if rng.random() < shape.boilerplate_share:
                lines.append(boiler[int(rng.integers(len(boiler)))])
            text = "\n".join(lines)
        else:
            text = " ".join(toks)
        texts[doc_id] = text
        lang_of[doc_id] = LANGS[langs[k]]
    corpus = Corpus(texts, lang_of, hot_terms=sampler.words[:8])
    _plant_near_dups(rng, corpus, shape.near_dup_pairs, sampler)
    corpus.n_tokens = sum(len(t.split()) for t in corpus.texts.values())
    return corpus


def _plant_near_dups(rng, corpus: Corpus, n_pairs: int, sampler):
    """Overwrite doc ``b`` with a one-word edit of doc ``a`` for ``n_pairs``
    disjoint pairs of docs with at least 40 words, so every planted pair
    has word-3-shingle Jaccard well above 0.8."""
    if not n_pairs:
        return
    long_ids = [i for i, t in corpus.texts.items() if len(t.split()) >= 40]
    picked = rng.choice(len(long_ids), size=2 * n_pairs, replace=False)
    for j in range(n_pairs):
        a, b = long_ids[picked[2 * j]], long_ids[picked[2 * j + 1]]
        lines = corpus.texts[a].split("\n")
        last = lines[-1].split(" ")
        last[-1] = sampler.draw(1)[0] + "x"  # a word outside the vocabulary
        lines[-1] = " ".join(last)
        corpus.texts[b] = "\n".join(lines)
        corpus.langs[b] = corpus.langs[a]
        corpus.planted_pairs.append((min(a, b), max(a, b)))
