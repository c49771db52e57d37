"""Seeded inputs: corpora, query term lists, DSL bodies and delete sets.

Everything here is a pure function of the workload seed. The engine only
ever receives the generated DataFrames, term lists and query bodies.
"""

from __future__ import annotations

import random

VOCAB_SIZE = 100_000
#: the corpus shape of tools/latency_bench.py (Zipf vocabulary, varied doc
#: lengths, bursty within-doc repetition)
CORPUS_KW = dict(tokens_per_turn=48, min_tokens=6, burstiness=0.15, vocab_size=VOCAB_SIZE)
TURNS_PER_CONV = 10


def corpus(spark, turns: int, seed: int, partitions: int):
    """Transcripts DataFrame of `turns` rows, a pure function of `seed`."""
    from neural_search_spark.data import synthesize_transcripts

    return synthesize_transcripts(
        spark, n_convs=turns // TURNS_PER_CONV, turns_per_conv=TURNS_PER_CONV,
        seed=seed, partitions=partitions, **CORPUS_KW,
    )


def _rng(seed: int, purpose: str) -> random.Random:
    return random.Random(f"perfbench:{seed}:{purpose}")


def _w(rank: int) -> str:
    return f"w{rank}"


def make_queries(seed: int, nq: int = 24, vocab_size: int = VOCAB_SIZE) -> list[list[str]]:
    """Mixed-selectivity term lists in the tools/latency_bench.py mix, with
    ranks drawn from the seed: head+mid pairs, mid triples, rare singles and
    head+mid+rare triples (w1 is the most frequent term)."""
    rng = _rng(seed, "queries")
    V = vocab_size

    def head() -> str:
        return _w(rng.randint(1, 11))

    def mid() -> str:
        return _w(rng.randint(V // 500, V // 50))

    def rare() -> str:
        return _w(rng.randint(V // 50, V // 10))

    out = []
    for i in range(nq):
        kind = i % 4
        if kind == 0:
            terms = [head(), mid()]
        elif kind == 1:
            terms = [mid(), mid(), mid()]
        elif kind == 2:
            terms = [rare()]
        else:
            terms = [head(), mid(), rare()]
        out.append(sorted(set(terms)))
    return out


def make_dsl(seed: int, vocab_size: int = VOCAB_SIZE) -> dict[str, dict]:
    """One body per DSL kind the workload times, keyed by kind."""
    rng = _rng(seed, "dsl")
    V = vocab_size

    def mid() -> str:
        return _w(rng.randint(V // 500, V // 50))

    def match(*terms: str) -> dict:
        return {"match": {"text": {"query": " ".join(terms)}}}

    return {
        "match": match(mid(), mid()),
        "bool": {"bool": {"must": [match(mid())],
                          "should": [match(mid(), mid())],
                          "must_not": [match(_w(rng.randint(20, 60)))],
                          "filter": [{"eq": ["role", "user"]}]}},
        "hybrid": {"hybrid": {"queries": [match(_w(rng.randint(2, 30)), mid()), match(mid())],
                              "normalization": "min_max",
                              "combination": "arithmetic_mean"}},
    }


def make_msearch(seed: int, n: int = 32, vocab_size: int = VOCAB_SIZE) -> list[dict]:
    """`n` lexical match bodies for one msearch call."""
    rng = _rng(seed, "msearch")
    V = vocab_size
    return [
        {"match": {"text": {"query": " ".join(
            _w(rng.randint(V // 500, V // 20)) for _ in range(rng.randint(1, 2)))}}}
        for _ in range(n)
    ]


def delete_ids(seed: int, cycle: int, live: list[int], n: int) -> list[int]:
    """`n` distinct docIDs drawn from the `live` ones."""
    return sorted(_rng(seed, f"delete:{cycle}").sample(sorted(live), n))
