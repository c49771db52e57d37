"""Tests of the benchmark's own code: input generation, the oracle and the
metric names. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen, metrics
from perfbench.oracle import Oracle, check_ranked, weights_of

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_query_generator_is_deterministic_per_seed():
    assert gen.make_queries(7) == gen.make_queries(7)
    assert gen.make_dsl(7) == gen.make_dsl(7)
    assert gen.make_msearch(7) == gen.make_msearch(7)
    assert gen.delete_ids(7, 0, list(range(1000)), 50) == gen.delete_ids(7, 0, list(range(1000)), 50)
    assert gen.make_queries(7) != gen.make_queries(8)
    assert gen.make_msearch(7) != gen.make_msearch(8)


def test_query_mix():
    qs = gen.make_queries(3, nq=24)
    assert len(qs) == 24
    assert all(len(qs[i]) == 1 for i in range(2, 24, 4))  # rare singles
    # head+mid pairs and head+mid+rare triples carry a head term (rank <= 11)
    assert all(min(int(t[1:]) for t in q) <= 11 for q in qs[0::4] + qs[3::4])
    assert all(t.startswith("w") for q in qs for t in q)


def test_metric_names_are_valid_and_match_benchmark_json():
    names = [m[0] for m in metrics.END_TO_END] + [m[0] for m in metrics.PER_LAYER]
    assert len(names) == len(set(names))
    for name in names:
        assert metrics.NAME.fullmatch(name), name
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == [
        (n, u, b, bd) for n, u, b, bd, _ in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (n, u, b) for n, u, b, _ in metrics.PER_LAYER]


def test_check_ranked_accepts_ties_in_any_order_and_rejects_wrong_docs():
    full = {1: 2.0, 2: 1.5, 3: 1.5, 4: 1.0, 5: 1.0}
    want = [(1, 2.0), (2, 1.5), (3, 1.5), (4, 1.0)]
    assert check_ranked([(1, 2.0), (3, 1.5), (2, 1.5), (5, 1.0)], want, full) is None
    assert check_ranked([(1, 2.0), (2, 1.5), (4, 1.5), (3, 1.0)], want, full) is not None
    assert check_ranked([(1, 2.0 + 1e-3), (2, 1.5), (3, 1.5), (4, 1.0)], want, full) is not None
    assert check_ranked(want[:3], want, full) is not None


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from neural_search_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
    })
    yield s
    s.stop()


def test_oracle_agrees_with_relational_topk(spark, tmp_path):
    from neural_search_spark.index.store import IndexStore, build_index
    from neural_search_spark.query.segment_search import wand_topk

    idx = str(tmp_path / "idx")
    build_index(spark, gen.corpus(spark, 300, seed=5, partitions=2), idx,
                source_fingerprint="perfbench-test", resume=False)
    store = IndexStore(spark, idx)
    oracle = Oracle(idx)
    for terms in gen.make_queries(5, nq=8, vocab_size=2_000) + [["w1", "w2", "w3"]]:
        rows = store.topk(terms, k=10, strategy="relational").collect()
        got = [(r["docID"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]
        want, full = oracle.topk(weights_of(terms), 10)
        assert check_ranked(got, want, full) is None, terms
        # the pruned segment kernel, as the traced runs probe it
        rows = wand_topk(store.segments, store.term_stats, n_docs=store.meta["N"],
                         avgdl=store.meta["avgdl"], terms=terms, k=10,
                         no_prune_blocks=0).collect()
        got = [(r["docID"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]
        assert check_ranked(got, want, full) is None, terms
    # deleted docs: the oracle keeps whole-index stats and drops the docs
    top = [d for d, _ in oracle.topk(weights_of(["w1"]), 10)[0]]
    store.delete_docs(top[:3])
    rows = store.topk(["w1"], k=10).collect()
    got = [(r["docID"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]
    want, full = oracle.topk(weights_of(["w1"]), 10, exclude=top[:3])
    assert check_ranked(got, want, full) is None
