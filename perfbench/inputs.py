"""Seeded inputs. One ``--seed`` fixes the corpus and every query mix; the
program under test only ever sees what is generated here.

The corpus is the pages synthesizer's (``sources.pages``) for ``seed``.
Its per-doc term lists are recomputed with ``doc_terms`` (the same
stateless generator), which gives the expected corpus statistics and the
vocabulary without asking the program.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from urllib.parse import urlencode

import numpy as np

from sifter_mrc_search_engine_spark.sources.pages import (
    VOCAB,
    VOCAB_SIZE,
    ZIPF_S,
    doc_terms,
)

_ZIPF_W = 1.0 / np.power(np.arange(1, VOCAB_SIZE + 1, dtype=np.float64), ZIPF_S)
_ZIPF_P = _ZIPF_W / _ZIPF_W.sum()
#: ranks below this are head terms (stop-word-like df)
HEAD_RANKS = 20


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


@dataclass
class Corpus:
    seed: int
    n_docs: int
    terms: list = field(repr=False)
    vocab: set = field(repr=False)
    text_bytes: int
    avgdl: float


def corpus(seed: int, n_docs: int) -> Corpus:
    terms = [doc_terms(d, seed) for d in range(n_docs)]
    vocab = set().union(*terms)
    text_bytes = sum(len(" ".join(t).encode("utf-8")) for t in terms)
    avgdl = sum(map(len, terms)) / n_docs
    return Corpus(seed, n_docs, terms, vocab, text_bytes, avgdl)


def synthesize(c: Corpus, path: str, files: int) -> None:
    """Write the corpus as ``(doc_id long, text string)`` parquet: ``files``
    files ``part-<k>.parquet`` of contiguous doc-id ranges, in doc-id order.
    Rows come from ``sources.pages.synthesize_pages_pdf``, the driver-side
    twin of ``synthesize_pages`` (same rows, no Spark job)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sifter_mrc_search_engine_spark.sources.pages import synthesize_pages_pdf

    pdf = synthesize_pages_pdf(c.n_docs, seed=c.seed)
    table = pa.table({
        "doc_id": pa.array(pdf["url"].str.rsplit("/", n=1).str[1].astype("int64")),
        "text": pa.array(pdf["text"], type=pa.string()),
    })
    os.makedirs(path)
    for k in range(files):
        lo, hi = file_range(c.n_docs, files, k)
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{k}.parquet"))


def file_range(n_docs: int, files: int, k: int) -> tuple[int, int]:
    """Doc ids ``[lo, hi)`` of corpus file ``k``."""
    return k * n_docs // files, (k + 1) * n_docs // files


def _term(r: np.random.Generator) -> str:
    """Half Zipf draws (the corpus's own head-heavy law), half uniform
    over the vocabulary (tail terms WAND can prune hard)."""
    if r.random() < 0.5:
        return VOCAB[int(r.choice(VOCAB_SIZE, p=_ZIPF_P))]
    return VOCAB[int(r.integers(HEAD_RANKS, VOCAB_SIZE))]


def free_text(r: np.random.Generator, max_terms: int = 4) -> str:
    return " ".join(_term(r) for _ in range(int(r.integers(1, max_terms + 1))))


@dataclass(frozen=True)
class Request:
    path: str  # GET path with query string
    question: str
    expect: int  # expected HTTP status


def request_path(question: str) -> str:
    return "/inference?" + urlencode({"question": question})


def _request(question: str, vocab: set, status: int | None = None) -> Request:
    from sifter_mrc_search_engine_spark.functions.analyzer import analyze

    if status is None:
        status = 200 if any(t in vocab for t in analyze(question)) else 404
    return Request(request_path(question), question, status)


#: empty or blank -> 400 (validation); punctuation only passes validation,
#: analyzes to no terms and so finds no documents -> 404
INVALID = (("", 400), ("   ", 400), ("?!", 404), ("...", 404))


#: size of the pool of popular (repeating) questions
POPULAR = 16


def inference_mix(seed: int, c: Corpus, n: int):
    """``(requests, checked)``: ``n`` GET /inference requests and the
    distinct questions whose top-k is checked against brute force.

    Mix: ~30% repeats of a popular pool (Zipf over the pool), ~5% zero-hit
    questions (out-of-vocabulary tokens), ~1% empty or punctuation-only,
    the rest fresh 1-4-term questions."""
    r = _rng(seed, "inference")
    pool = [free_text(r) for _ in range(POPULAR)]
    pool_p = 1.0 / np.arange(1, POPULAR + 1)
    pool_p /= pool_p.sum()
    out = []
    for _ in range(n):
        u = r.random()
        if u < 0.05:
            out.append(_request(f"zq{int(r.integers(10**6))} xv{int(r.integers(10**6))}", c.vocab))
        elif u < 0.06:
            q, status = INVALID[int(r.integers(len(INVALID)))]
            out.append(_request(q, c.vocab, status))
        elif u < 0.36:
            out.append(_request(pool[int(r.choice(POPULAR, p=pool_p))], c.vocab))
        else:
            out.append(_request(free_text(r), c.vocab))
    hits = [q for q in pool if _request(q, c.vocab).expect == 200]
    checked = hits[:2] + [
        q.question for q in out if q.expect == 200 and q.question not in pool
    ][:2]
    return out, checked


def structured_mix(seed: int, c: Corpus) -> list[tuple[str, dict]]:
    """One request per structured type, ``(type, JSON body)``.

    Each type draws its terms from a fixed band of Zipf ranks, so its cost
    class is the same for every seed: the head phrase joins two of the
    four stop-word-like terms; tail phrases and slop pairs are cut from a
    seeded document, at a position whose terms are outside the head, so
    they match."""
    r = _rng(seed, "structured")
    rank = {t: i for i, t in enumerate(VOCAB)}

    def cut(gap: int, min_rank: int) -> str:
        while True:
            t = c.terms[int(r.integers(c.n_docs))]
            spots = [i for i in range(len(t) - gap)
                     if rank[t[i]] >= min_rank and rank[t[i + gap]] >= min_rank]
            if spots:
                i = spots[int(r.integers(len(spots)))]
                return f"{t[i]} {t[i + gap]}"

    head = [VOCAB[int(i)] for i in r.choice(4, size=2, replace=False)]
    mid = [VOCAB[int(i)] for i in r.choice(np.arange(50, 250), size=4, replace=False)]
    word = mid[1]
    j = int(r.integers(len(word)))
    fuzzy = word[:j] + ("z" if word[j] != "z" else "y") + word[j + 1:]
    return [
        ("phrase_head", {"type": "phrase", "phrase": " ".join(head)}),
        ("phrase_tail", {"type": "phrase", "phrase": cut(1, 200)}),
        ("slop", {"type": "slop", "phrase": cut(3, HEAD_RANKS), "slop": 2}),
        ("prefix", {"type": "prefix", "prefix": mid[0][:3]}),
        ("fuzzy", {"type": "fuzzy", "term": fuzzy, "max_edits": 1}),
        ("bool", {"type": "bool", "must": [head[0]], "should": [mid[2]],
                  "must_not": [mid[3]]}),
    ]


def query_batch(seed: int, c: Corpus, n: int) -> list[str]:
    """Fixed batch of 1-3-term questions that all match the corpus."""
    r = _rng(seed, "batch")
    out = []
    while len(out) < n:
        q = free_text(r, 3)
        if any(t in c.vocab for t in q.split()):
            out.append(q)
    return out
