"""Seeded inputs for one benchmark run, built with the package fixtures
before anything is timed: the corpus (base index + one micro-batch per
round), the query pool and the Zipf query stream, phrase queries cut
from indexed pages, the WAND batches, and the pages of the cleaning pass.

Everything is a pure function of (workload, seed, rounds), so the same
arguments give the same inputs and the same fingerprint.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from semantic_search_engine_spark.fixtures.webtext import ZIPF_S, _doc_fields, generate_queries
from semantic_search_engine_spark.functions.tokenizer import tokenize

from .harness import fingerprint

ROUND_S = 10  # nominal wall time of one round: --seconds // ROUND_S rounds
POOL_QUERIES = 8000  # pool term set > the probe's 4096-term LRU
# Query popularity is Zipf-like in web search logs (Xie & O'Hallaron,
# INFOCOM 2002; Baeza-Yates et al., SIGIR 2007), with exponents that
# differ from log to log. With no log of its own, the stream takes the
# exponent the webtext fixture documents for term popularity (ZIPF_S,
# s=1.07) rather than a second, unmeasured one.
# The counts below set sample sizes, not a traffic model: 90 single
# queries and a phrase query after every 2nd give query_p75_ms 270 and
# phrase_p50_ms 135 samples in a 3-round run. Medians over a few dozen
# queries moved with the queries drawn as much as with the engine.
SINGLES_PER_ROUND = 90
PHRASE_EVERY = 2  # one phrase query after every n single queries
FRESH_QUERIES = 32  # fixed set a fresh probe answers after every micro-batch
NARROW, WIDE = 50, 1024  # either side of the 512-query kernel switch
# the WAND batches of one round, after the first and the second third of
# its query stream, so batch timings are spread over the whole run
BATCHES = ("narrow", "wide")
CLEAN_PAGES = 4  # one per Spark partition
# repetition_stats' cost grows super-linearly with page length, so the
# cleaning pages come from one fixed token band (and their own doc range)
CLEAN_TOKENS = (32, 36)
CLEAN_DOC_BASE = 10_000_000


@dataclass(frozen=True)
class Mix:
    """One workload's traffic mix."""

    base_docs: int
    batch_docs: int  # pages per micro-batch, the same in every round


@dataclass
class Round:
    """One micro-batch, then a stream of single and phrase queries with
    the WAND batches (``BATCHES``) between its thirds."""

    batch: list[int]  # doc indexes of the micro-batch
    # (kind, idx): a pool query, a phrase in ``phrases`` or a batch in ``batches``
    stream: list[tuple[str, int]] = field(default_factory=list)
    phrases: list[str] = field(default_factory=list)
    batches: list[list[int]] = field(default_factory=list)  # pool indexes per batch


@dataclass
class Inputs:
    docs: list[tuple[str, str]]  # (url, text) by doc index
    base: list[int]
    pool: list[dict]
    fresh: list[int]
    rounds: list[Round]
    clean: list[str]
    fingerprint: str


def _zipf(rng, n: int, size: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** ZIPF_S
    return rng.choice(n, size=size, p=p / p.sum())


def make_inputs(workload: str, mix: Mix, seed: int, rounds: int) -> Inputs:
    rng = np.random.default_rng([seed, 7919])
    n_docs = mix.base_docs + rounds * mix.batch_docs
    docs = [(r[0], r[3]) for r in (_doc_fields(i, seed) for i in range(n_docs))]

    pool = generate_queries(seed=seed, n_queries=POOL_QUERIES)
    pool_terms = {t for q in pool for t in tokenize(q["query"])}
    if len(pool_terms) <= 4096:
        raise ValueError(f"query pool holds {len(pool_terms)} terms; the LRU holds 4096")
    order = rng.permutation(len(pool))  # Zipf ranks over a seeded permutation
    fresh = [int(i) for i in rng.choice(len(pool), size=FRESH_QUERIES, replace=False)]

    out_rounds, next_doc = [], mix.base_docs
    part = SINGLES_PER_ROUND // (len(BATCHES) + 1)  # singles between two batches
    for _ in range(rounds):
        rd = Round(batch=list(range(next_doc, next_doc + mix.batch_docs)))
        next_doc += mix.batch_docs
        for i, qi in enumerate(order[_zipf(rng, len(pool), SINGLES_PER_ROUND)]):
            rd.stream.append(("single", int(qi)))
            if (i + 1) % PHRASE_EVERY == 0:
                # 2-3 adjacent tokens of a page indexed by this round
                while True:
                    toks = tokenize(docs[int(rng.integers(0, next_doc))][1])
                    n = int(rng.integers(2, 4))
                    if len(toks) >= n:
                        break
                j = int(rng.integers(0, len(toks) - n + 1))
                rd.stream.append(("phrase", len(rd.phrases)))
                rd.phrases.append(" ".join(toks[j : j + n]))
            if (i + 1) % part == 0 and len(rd.batches) < len(BATCHES):
                kind = BATCHES[len(rd.batches)]
                size = NARROW if kind == "narrow" else WIDE
                rd.stream.append((kind, len(rd.batches)))
                rd.batches.append([int(q) for q in rng.choice(len(pool), size=size,
                                                              replace=False)])
        out_rounds.append(rd)

    clean, i = [], CLEAN_DOC_BASE
    while len(clean) < CLEAN_PAGES:
        text = _doc_fields(i, seed)[3]
        if CLEAN_TOKENS[0] <= len(tokenize(text)) <= CLEAN_TOKENS[1]:
            clean.append(text)
        i += 1

    fp = fingerprint({
        "workload": workload, "mix": mix.__dict__, "seed": seed, "rounds": rounds,
        "docs": fingerprint(docs), "pool": fingerprint(pool), "fresh": fresh,
        "rounds_detail": fingerprint([rd.__dict__ for rd in out_rounds]),
        "clean": fingerprint(clean),
    })
    return Inputs(docs, list(range(mix.base_docs)), pool, fresh, out_rounds, clean, fp)
