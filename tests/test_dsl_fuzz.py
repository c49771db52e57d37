"""DSL robustness fuzz: random/malformed query dicts must either execute
or raise QueryValidationError/ValueError — never leak a raw KeyError/
TypeError/AttributeError to the caller (fromXContent rejects malformed
JSON with a parse error; this is the engine-side equivalent)."""

from __future__ import annotations

import random

import pytest

from neural_search_spark.index.build import build_index_tables
from neural_search_spark.query.dsl import QUERY_KINDS, QueryEngine, QueryValidationError

DOCS = [(i, f"alpha beta gamma tok{i}") for i in range(8)]

# every kind the dispatch table knows, plus one it does not
KINDS = sorted(QUERY_KINDS) + ["nonsense_kind"]
VALUES = [None, 1, "alpha", [], {}, [1, 2], {"query": "alpha"},
          {"value": "alpha"}, {"field": "text"}, {"terms": ["alpha"]},
          {"like": [0]}, {"groups": [["alpha"]]}, {"queries": []},
          {"query": {"term": {"text": "alpha"}}},
          {"queries": [{"match": {"text": "alpha"}}], "tie_breaker": 2},
          {"positive": {"match": {"text": "alpha"}}},
          {"filter": {"match": {"text": "alpha"}}},
          {"text": {"terms": ["alpha"], "minimum_should_match_field": "nope"}},
          {"field": "text", "saturation": {"pivot": -1}},
          # transform dict present but the required inner key absent —
          # must raise QueryValidationError, never a raw KeyError
          {"field": "text", "saturation": {}},
          {"field": "text", "log": {}},
          {"field": "text", "sigmoid": {}},
          {"field": "text", "sigmoid": {"pivot": 1.0}},
          {"query": "+alpha -beta g*", "default_operator": "nand"}]


@pytest.fixture(scope="module")
def fuzz_engine(spark):
    docs = spark.createDataFrame(DOCS, "docID long, text string")
    return QueryEngine(tables=build_index_tables(docs), docs=docs)


def test_dsl_never_leaks_raw_errors(fuzz_engine):
    rng = random.Random(17)
    from py4j.protocol import Py4JError  # Spark-side analysis errors allowed? no
    allowed = (QueryValidationError, ValueError, KeyError, TypeError)
    # KeyError/TypeError ARE the raw leaks we measure; count them
    leaks = []
    for trial in range(120):
        kind = rng.choice(KINDS)
        body = rng.choice(VALUES)
        q = {kind: body}
        try:
            df = fuzz_engine.search(q, k=3)
            df.collect()
        except QueryValidationError:
            pass
        except ValueError:
            pass  # explicit validation in sub-modules
        except (KeyError, TypeError, AttributeError) as e:
            leaks.append((q, type(e).__name__, str(e)[:60]))
        except Py4JError as e:  # pragma: no cover
            leaks.append((q, "Py4J", str(e)[:60]))
    # a soft budget: malformed input should overwhelmingly map to the
    # validation error; raw leaks indicate missing parse guards
    assert not leaks, leaks[:5]

    # values that fail int()/float() parsing: a raw ValueError is a leak too
    for q in (
        {"match": {"text": {"query": "alpha", "boost": "x"}}},
        {"match": {"text": {"query": "alpha", "minimum_should_match": "75%"}}},
        {"term": {"text": {"value": "alpha", "boost": "x"}}},
    ):
        with pytest.raises(QueryValidationError):
            fuzz_engine.search(q, k=3).collect()
        with pytest.raises(QueryValidationError):
            fuzz_engine.msearch([q], k=3).collect()


def test_top_hits_score_decimals_validated(fuzz_engine):
    q = {"match": {"text": "alpha"}}
    for dec in (-1, 1.5, "2", True):
        aggs = {"t": {"top_hits": {"group_by": "text", "score_decimals": dec}}}
        with pytest.raises(QueryValidationError, match="score_decimals"):
            fuzz_engine.search_with_aggs(q, aggs)
    aggs = {"t": {"top_hits": {"group_by": "text", "score_decimals": 2}}}
    _, out = fuzz_engine.search_with_aggs(q, aggs)
    assert out["t"].count() == 8


def test_malformed_aggregations_raise_validation(fuzz_engine):
    """A malformed aggregation spec is a parse error at the aggregation
    table's lookup, like a malformed query: never a raw ValueError,
    AttributeError or Spark AnalysisException."""
    q = {"match": {"text": "alpha"}}
    for aggs in (
        {"x": {"terms": {"field": "lang"}, "avg": {"field": "docID"}}},  # two kinds
        {"x": {"terms": "lang"}},  # body not an object
        {"x": "terms"},  # spec not an object
        ["terms"],  # aggs not an object
        {"x": {"terms": {"field": "nope"}}},  # no such docs column
        {"x": {"histogram": {"field": "docID", "interval": "wide"}}},  # not a number
    ):
        with pytest.raises(QueryValidationError):
            fuzz_engine.search_with_aggs(q, aggs)
