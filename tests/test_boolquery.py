"""Lucene BooleanQuery semantics (must/should/must_not/minimum_should_match)
vs a pure-Python oracle; fused single-scan path vs the generic composed
path."""

from __future__ import annotations

import dataclasses

import pytest

from neural_search_spark.analysis.tokenizer import tokenize_py
from neural_search_spark.query.boolquery import (
    compose_bool_scores,
    default_min_should_match,
    fused_bool_scores,
)
from neural_search_spark.query.dsl import QueryEngine

from tests import oracle


def _corpus(transcripts) -> dict[int, str]:
    return {r["docID"]: r["text"] for r in transcripts.select("docID", "text").collect()}


def _clause_matches(text_toks: set[str], weights: dict[str, float]) -> bool:
    return any(t in text_toks for t in weights)


def _bool_expected(
    docs: dict[int, str],
    musts: list[dict[str, float]],
    shoulds: list[dict[str, float]],
    must_nots: list[dict[str, float]],
    msm: int,
) -> dict[int, float]:
    """Lucene model: sum of matching must+should clause scores; doc must
    match every must, >= msm shoulds, no must_not."""
    out: dict[int, float] = {}
    # per-clause BM25 over the whole corpus (global stats)
    clause_scores = [oracle.bm25_scores(docs, w) for w in musts + shoulds]
    for d, text in docs.items():
        toks = set(tokenize_py(text))
        if not all(_clause_matches(toks, w) for w in musts):
            continue
        if any(_clause_matches(toks, w) for w in must_nots):
            continue
        n_should = sum(1 for w in shoulds if _clause_matches(toks, w))
        if n_should < msm:
            continue
        s = 0.0
        for cs in clause_scores:
            s += cs.get(d, 0.0)
        if musts or n_should:
            out[d] = s
    return out


def _collect(df) -> dict[int, float]:
    return {r["docID"]: r["score"] for r in df.collect()}


MUSTS = [{"merge": 1.0, "sort": 1.0}]          # clause: merge OR sort
SHOULDS = [{"heap": 2.0}, {"data": 1.0}]
NOTS = [{"stack": 1.0}]


def test_default_min_should_match():
    assert default_min_should_match(0, 0, None) == 1
    assert default_min_should_match(1, 0, None) == 0
    assert default_min_should_match(0, 2, None) == 0
    assert default_min_should_match(0, 0, 2) == 2


def test_fused_bool_matches_python_oracle(transcripts, index_tables):
    docs = _corpus(transcripts)
    expected = _bool_expected(docs, MUSTS, SHOULDS, NOTS, 0)
    assert expected
    got = _collect(
        fused_bool_scores(
            index_tables.postings, index_tables.doclens, index_tables.term_stats,
            index_tables.meta, MUSTS, SHOULDS, NOTS, min_should_match=0,
        )
    )
    assert set(got) == set(expected)
    for d, s in expected.items():
        assert got[d] == pytest.approx(s, rel=1e-9)


def test_fused_bool_min_should_match(transcripts, index_tables):
    docs = _corpus(transcripts)
    expected = _bool_expected(docs, [], SHOULDS, [], 2)
    loose = _bool_expected(docs, [], SHOULDS, [], 1)
    assert expected and len(expected) < len(loose)
    got = _collect(
        fused_bool_scores(
            index_tables.postings, index_tables.doclens, index_tables.term_stats,
            index_tables.meta, [], SHOULDS, [], min_should_match=2,
        )
    )
    assert set(got) == set(expected)
    for d, s in expected.items():
        assert got[d] == pytest.approx(s, rel=1e-9)


def test_fused_equals_composed(transcripts, index_tables):
    from neural_search_spark.query.bm25 import bm25_score_all

    fused = _collect(
        fused_bool_scores(
            index_tables.postings, index_tables.doclens, index_tables.term_stats,
            index_tables.meta, MUSTS, SHOULDS, NOTS, min_should_match=0,
        )
    )
    t = index_tables

    def clause(w):
        return bm25_score_all(t.postings, t.doclens, t.term_stats, t.meta, w)

    composed = _collect(
        compose_bool_scores(
            [clause(w) for w in MUSTS],
            [clause(w) for w in SHOULDS],
            [clause(w).select("docID") for w in NOTS],
            min_should_match=0,
        )
    )
    assert fused == pytest.approx(composed)


def test_compose_pure_must_not(transcripts, index_tables):
    from neural_search_spark.query.bm25 import bm25_score_all

    docs = _corpus(transcripts)
    t = index_tables
    excluded = bm25_score_all(t.postings, t.doclens, t.term_stats, t.meta, NOTS[0])
    universe = transcripts.selectExpr("docID")
    got = _collect(compose_bool_scores([], [], [excluded.select("docID")], universe=universe))
    expected = {
        d: 0.0 for d, text in docs.items()
        if not _clause_matches(set(tokenize_py(text)), NOTS[0])
    }
    assert got == expected


# ---------------------------------------------------------------------------
# DSL integration
# ---------------------------------------------------------------------------


def test_dsl_bool_full_shape(engine, transcripts, index_tables):
    docs = _corpus(transcripts)
    q = {"bool": {
        "must": [{"match": {"text": {"query": "merge sort"}}}],
        "should": [{"term": {"text": {"value": "heap", "boost": 2.0}}},
                   {"match": {"text": {"query": "data"}}}],
        "must_not": [{"term": {"text": {"value": "stack"}}}],
    }}
    expected = _bool_expected(docs, MUSTS, SHOULDS, NOTS, 0)
    hits = engine.search(q, k=len(docs)).collect()
    got = {r["docID"]: r["score"] for r in hits}
    assert set(got) == set(expected)
    for d, s in expected.items():
        assert got[d] == pytest.approx(s, rel=1e-9)

    # postings without the inline dl column (term, docID, tf): every
    # lexical route joins doclens for dl and returns the same hits
    bare = QueryEngine(
        tables=dataclasses.replace(
            index_tables, postings=index_tables.postings.select("term", "docID", "tf")
        ),
        docs=transcripts,
    )
    hybrid = {"hybrid": {"queries": [
        {"match": {"text": "merge sort"}}, {"term": {"text": {"value": "heap"}}},
    ]}}
    for query in (q, {"match": {"text": "merge heap data"}}, hybrid):
        want = {r["docID"]: r["score"] for r in engine.search(query, k=len(docs)).collect()}
        have = {r["docID"]: r["score"] for r in bare.search(query, k=len(docs)).collect()}
        assert want and set(have) == set(want), query
        assert have == pytest.approx(want, rel=1e-12), query
    reqs = [{"match": {"text": "merge sort"}}, {"term": {"text": {"value": "heap"}}}]
    want = {(r["query_id"], r["docID"]): r["score"] for r in engine.msearch(reqs, k=len(docs)).collect()}
    have = {(r["query_id"], r["docID"]): r["score"] for r in bare.msearch(reqs, k=len(docs)).collect()}
    assert want and set(have) == set(want)
    assert have == pytest.approx(want, rel=1e-12)


def test_dsl_bool_generic_path_with_fuzzy_clause(engine, transcripts):
    # a fuzzy clause can't express as a weight dict → generic composed path;
    # fuzzy 'dat' f=1 matches the corpus term 'data' at constant score 1.0
    docs = _corpus(transcripts)
    q = {"bool": {
        "must": [{"match": {"text": {"query": "merge sort"}}}],
        "should": [{"fuzzy": {"text": {"value": "dat", "fuzziness": 1}}}],
        "must_not": [{"term": {"text": {"value": "stack"}}}],
    }}
    must_scores = oracle.bm25_scores(docs, {"merge": 1.0, "sort": 1.0})
    expected = {}
    for d, text in docs.items():
        toks = set(tokenize_py(text))
        if not ({"merge", "sort"} & toks) or "stack" in toks:
            continue
        expected[d] = must_scores[d] + (1.0 if "data" in toks else 0.0)
    hits = engine.search(q, k=len(docs)).collect()
    got = {r["docID"]: r["score"] for r in hits}
    assert set(got) == set(expected)
    for d, s in expected.items():
        assert got[d] == pytest.approx(s, rel=1e-9)


def test_dsl_bool_back_compat_single_must_and_filter(engine, transcripts):
    # the original shape {"must": q, "filter": [...]} must keep working
    q = {"bool": {"must": {"match": {"text": {"query": "merge"}}},
                  "filter": [{"eq": ["role", "user"]}]}}
    hits = engine.search(q, k=1000).collect()
    docs = {r["docID"]: (r["text"], r["role"])
            for r in transcripts.select("docID", "text", "role").collect()}
    scores = oracle.bm25_scores({d: t for d, (t, _) in docs.items()}, {"merge": 1.0})
    expected = {d: s for d, s in scores.items() if docs[d][1] == "user"}
    got = {r["docID"]: r["score"] for r in hits}
    assert set(got) == set(expected)


def test_dsl_bool_in_hybrid_subquery(engine, transcripts):
    # bool (with should/must_not) composes as a hybrid sub-query
    q = {"hybrid": {"queries": [
        {"bool": {"must": [{"match": {"text": {"query": "merge sort"}}}],
                  "must_not": [{"term": {"text": {"value": "stack"}}}]}},
        {"match": {"text": {"query": "heap"}}},
    ], "normalization": "min_max", "combination": "arithmetic_mean"}}
    out = engine.search(q, k=10).collect()
    assert 0 < len(out) <= 10
    assert all(r["score"] is not None for r in out)
