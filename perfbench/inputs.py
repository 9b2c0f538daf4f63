"""Seeded inputs for the benchmark: the transcript corpus and the
query streams.  Everything here is a pure function of the seed; the
engine only ever sees the generated turns and query texts."""

from __future__ import annotations

import datetime
from dataclasses import dataclass

import numpy as np

from sotohp_spark.generator import (
    VOCAB_SIZE,
    ZIPF_S,
    _vocab,
    _zipf_probs,
    generate_transcripts_pdf,
)
from sotohp_spark.index.query import Bool

# Tokenizer-edge and absent terms mixed into free-text queries, as in
# generator.reference_queries: camelCase compounds, numbers, stop
# words, and words no document contains.
EDGE_TERMS = ("retryTimeout", "toolCallError", "parseJSON", "42", "I am with")
ABSENT_TERMS = ("zzqx", "qqqabsent", "xyzzy", "plughnone")

# The generator spreads conversation starts over 90 days of 2025.
MONTHS = (
    (datetime.datetime(2025, 1, 1), datetime.datetime(2025, 1, 31, 23, 59, 59)),
    (datetime.datetime(2025, 2, 1), datetime.datetime(2025, 2, 28, 23, 59, 59)),
    (datetime.datetime(2025, 3, 1), datetime.datetime(2025, 3, 31, 23, 59, 59)),
)


def corpus(n_convs: int, seed: int):
    """Turns of ``n_convs`` conversations, ordered by (conv_id, turn_idx)."""
    return generate_transcripts_pdf(n_convs / 1000.0, seed)


def split_conversations(turns, first: int, batch: int):
    """The first ``first`` conversations, then equal batches of the rest
    (conversation ids sort in generation order)."""
    ids = np.array(sorted(turns["conv_id"].unique()))
    base = turns[turns["conv_id"].isin(set(ids[:first]))]
    batches = [
        turns[turns["conv_id"].isin(set(ids[i:i + batch]))]
        for i in range(first, len(ids) - batch + 1, batch)
    ]
    return base, batches


@dataclass(frozen=True)
class Search:
    """One search-box request.  ``kind`` is free, window, qs or bool;
    free and window run through top_k, qs through top_k_query_string,
    bool through top_k_bool."""

    kind: str
    text: str
    ts_min: object = None
    ts_max: object = None
    bool_query: Bool | None = None

    def run(self, engine, k: int, with_docs: bool):
        if self.kind == "qs":
            return engine.top_k_query_string(self.text, k, with_docs=with_docs)
        if self.kind == "bool":
            return engine.top_k_bool(self.bool_query, k, with_docs=with_docs)
        return engine.top_k(
            self.text, k, with_docs=with_docs,
            ts_min=self.ts_min, ts_max=self.ts_max,
        )


class _Terms:
    def __init__(self, rng):
        self.rng = rng
        self.vocab = _vocab()
        self.p = _zipf_probs(VOCAB_SIZE, ZIPF_S)

    def zipf(self, n: int) -> list:
        return [str(t) for t in self.vocab[self.rng.choice(VOCAB_SIZE, size=n, p=self.p)]]

    def free_text(self) -> str:
        terms = self.zipf(int(self.rng.integers(1, 5)))
        r = self.rng.random()
        if r < 0.08:
            terms[-1] = ABSENT_TERMS[int(self.rng.integers(len(ABSENT_TERMS)))]
        elif r < 0.16:
            terms[-1] = EDGE_TERMS[int(self.rng.integers(len(EDGE_TERMS)))]
        return " ".join(terms)


# The search-box mix, as a fixed cycle so every run, however short,
# samples the same proportions: 7 free-text, 1 month window, 1 query
# string, 1 bool query with must_not.
MIX = ("free", "free", "window", "free", "qs", "free", "free", "bool", "free", "free")


def interactive_stream(seed: int, n: int) -> list:
    """The single search-box client's requests."""
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    terms = _Terms(rng)
    out = []
    for i in range(n):
        kind = MIX[i % len(MIX)]
        if kind == "free":
            out.append(Search("free", terms.free_text()))
        elif kind == "window":
            lo, hi = MONTHS[int(rng.integers(len(MONTHS)))]
            out.append(Search("window", terms.free_text(), ts_min=lo, ts_max=hi))
        elif kind == "qs":
            a, b, c = terms.zipf(3)
            out.append(Search("qs", f"+{a} {b} -{c}"))
        else:
            a, b, c, d = terms.zipf(4)
            out.append(Search(
                "bool", f"{a} {b} {c} -{d}",
                bool_query=Bool(must=(a,), should=(b, c), must_not=(d,)),
            ))
    return out


def retrieve_stream(seed: int, client: int, n: int) -> list:
    """Free-text queries of one id-only retrieval client."""
    rng = np.random.Generator(np.random.PCG64([seed, 2, client]))
    terms = _Terms(rng)
    return [terms.free_text() for _ in range(n)]


def oracle_sample(seed: int, n: int) -> list:
    """Free-text queries checked against the BM25 oracle."""
    rng = np.random.Generator(np.random.PCG64([seed, 3]))
    terms = _Terms(rng)
    return [terms.free_text() for _ in range(n)]
