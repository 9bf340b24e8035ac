"""Seeded inputs: corpora and query logs.

Everything here is a pure function of the seed, so the same seed gives
the same documents and the same queries.  The engine under test only
ever sees the generated rows and requests.
"""

from __future__ import annotations

import copy
import random
from dataclasses import dataclass

from wiser_spark.functions.tokenize import tokenize_text
from wiser_spark.sources.corpus import make_corpus

# One block of the query mix, drawn in shuffled order and repeated: 1-4
# conjunctive terms at about the AOL log's length shares (37/25/17/10 %),
# one phrase and one query with an absent term.  Every 12 consecutive
# queries (one log stream) hold the same shapes, so run-to-run spread
# comes from the terms, not from how many long queries a run drew.
BLOCK = (1, 1, 1, 1, 2, 2, 2, 3, 3, 4, "phrase", "absent")
# df bands over the built vocabulary: "head" terms occur in at least
# this share of the documents, the rest form the tail band.
HEAD_DF_SHARE = 0.02


def corpus(n_docs: int, seed: int, rare_per_doc: int = 0) -> list[str]:
    """Document bodies in doc-id order.  ``rare_per_doc`` appends that
    many seeded df-1 identifiers to every document: they widen the
    vocabulary past the engine's driver dictionary cache without
    building a bigger corpus."""
    docs = [r["content"] for r in make_corpus(n_docs, seed)]
    if rare_per_doc:
        for i, body in enumerate(docs):
            rng = random.Random(f"rare:{seed}:{i}")
            rare = " ".join(
                f"r{rng.getrandbits(48):012x}" for _ in range(rare_per_doc)
            )
            docs[i] = f"{body}\n{rare}"
    return docs


def url_of(i: int) -> str:
    """Zero-padded sequence url: the indexer orders a batch by url, so
    doc-id order equals insertion order."""
    return f"doc{i:09d}"


@dataclass(frozen=True)
class Query:
    terms: tuple[str, ...]
    is_phrase: bool
    absent: bool

    def request(self, **extra) -> dict:
        return {"terms": list(self.terms), "is_phrase": self.is_phrase,
                "n_results": 10, **extra}


class QueryLog:
    """Queries sampled from the vocabulary of ``docs``, in the shapes of
    ``BLOCK``.

    Conjunctions take their terms from one random document, so most
    have a non-empty answer; each term is drawn from the head or the
    tail df band with even odds.  Phrases are real adjacent token runs
    of a document.  Absent-term queries add one term no document has."""

    def __init__(self, docs: list[str], seed: int):
        self.seed = seed
        self.rng = random.Random(f"queries:{seed}")
        self.tokens = [tokenize_text(d) for d in docs]
        df: dict[str, int] = {}
        for toks in self.tokens:
            for t in set(toks):
                df[t] = df.get(t, 0) + 1
        self.df = df
        head_min = max(2, int(HEAD_DF_SHARE * len(docs)))
        self.head = {t for t, n in df.items() if n >= head_min}
        self._block: list = []

    def phase(self, name: str) -> "QueryLog":
        """A second log over the same vocabulary with its own stream of
        queries, so that the measured queries of a seed do not depend
        on how many a warm-up used."""
        other = copy.copy(self)
        other.rng = random.Random(f"queries:{self.seed}:{name}")
        other._block = []
        return other

    def _conjunction(self, n_terms: int) -> tuple[str, ...]:
        rng = self.rng
        while True:
            toks = sorted(set(self.tokens[rng.randrange(len(self.tokens))]))
            head = [t for t in toks if t in self.head]
            tail = [t for t in toks if t not in self.head]
            if len(toks) < n_terms:
                continue
            out: list[str] = []
            while len(out) < n_terms:
                use_head = (rng.random() < 0.5 and head) or not tail
                band = head if use_head else tail
                t = rng.choice(band)
                if t not in out:
                    out.append(t)
            return tuple(out)

    def _phrase(self) -> tuple[str, ...]:
        rng = self.rng
        n = rng.choice((2, 2, 3))
        while True:
            toks = self.tokens[rng.randrange(len(self.tokens))]
            if len(toks) > n:
                p = rng.randrange(len(toks) - n + 1)
                return tuple(toks[p:p + n])

    def _absent_term(self) -> str:
        while True:
            t = f"zq{self.rng.getrandbits(32):08x}"
            if t not in self.df:
                return t

    def next(self) -> Query:
        if not self._block:
            self._block = list(BLOCK)
            self.rng.shuffle(self._block)
        shape = self._block.pop()
        if shape == "phrase":
            return Query(self._phrase(), True, False)
        if shape == "absent":
            terms = list(self._conjunction(self.rng.choice((1, 2))))
            terms.insert(self.rng.randrange(len(terms) + 1),
                         self._absent_term())
            return Query(tuple(terms), False, True)
        return Query(self._conjunction(shape), False, False)

    def take(self, n: int) -> list[Query]:
        return [self.next() for _ in range(n)]
