from __future__ import annotations

import pytest

from neural_search_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("nss-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def transcripts(spark):
    from neural_search_spark.data import assign_doc_ids, synthesize_transcripts

    df = synthesize_transcripts(spark, n_convs=20, turns_per_conv=10, seed=42)
    return assign_doc_ids(df).persist()


@pytest.fixture(scope="session")
def index_tables(transcripts):
    from neural_search_spark.index import build_index_tables

    t = build_index_tables(transcripts)
    t.postings = t.postings.persist()
    t.doclens = t.doclens.persist()
    t.term_stats = t.term_stats.persist()
    return t


@pytest.fixture(scope="session")
def engine(transcripts, index_tables):
    from neural_search_spark.query.dsl import QueryEngine

    return QueryEngine(tables=index_tables, docs=transcripts)


PYTHON_OPERATORS = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython")


@pytest.fixture(scope="session")
def python_operators(spark):
    """fn → the Python-eval operators (PYTHON_OPERATORS) named in the
    executed physical plans of every SQL execution `fn` runs, read from
    the SQL status store."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    status = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty(30_000)
        xs = status.executionsList()
        return [xs.apply(i) for i in range(xs.size())]

    def run(fn) -> set[str]:
        seen = {x.executionId() for x in executions()}
        fn()
        new = [x for x in executions() if x.executionId() not in seen]
        assert new, "fn ran no SQL execution"
        return {op for x in new for op in PYTHON_OPERATORS if op in x.physicalPlanDescription()}

    return run
