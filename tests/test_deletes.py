"""Tombstone deletes + compaction (index/store.py, Lucene liveDocs
semantics: deletes exclude docs from results immediately, stats stay
whole-index until compact)."""

from __future__ import annotations

import json
import os

from neural_search_spark.data import synthesize_transcripts
from neural_search_spark.index.store import IndexStore, build_index

QUERY = ["the", "data", "spark"]


def _build(spark, path, n_convs=12):
    tr = synthesize_transcripts(spark, n_convs=n_convs, turns_per_conv=6, seed=5)
    build_index(spark, tr, path, source_fingerprint=f"synth:{n_convs}x6:5",
                postings_per_salt=50)
    return IndexStore(spark, path)


def test_delete_excludes_but_keeps_stats(spark, tmp_path):
    store = _build(spark, str(tmp_path / "idx"))
    full = {r["docID"]: r["score"] for r in store.topk(QUERY, k=1000).collect()}
    victims = sorted(full)[:3]
    assert store.delete_docs(victims) == 3
    live = {r["docID"]: r["score"] for r in store.topk(QUERY, k=1000).collect()}
    # deleted docs gone; every survivor's score UNCHANGED (df/avgdl still
    # count the deleted docs — Lucene docFreq-ignores-deletes semantics)
    assert set(live) == set(full) - set(victims)
    for d, s in live.items():
        assert s == full[d]
    # idempotent: re-deleting is a no-op
    assert store.delete_docs(victims) == 0
    # DataFrame input form
    more = spark.createDataFrame([(sorted(full)[3],)], "docID long")
    assert store.delete_docs(more) == 1


def test_compact_refreshes_stats_and_clears_tombstones(spark, tmp_path):
    store = _build(spark, str(tmp_path / "idx"))
    n0 = store.meta["N"]
    full = {r["docID"] for r in store.topk(QUERY, k=1000).collect()}
    victims = sorted(full)[:4]
    store.delete_docs(victims)
    res = store.compact()
    assert res["deleted"] == 4 and res["N"] == n0 - 4
    assert store.tombstones is None
    assert not os.path.isdir(os.path.join(store.path, "_manifests"))
    # meta.json rewritten
    with open(os.path.join(store.path, "meta.json")) as f:
        assert json.load(f)["N"] == n0 - 4
    # compacted store equals a FRESH build over the filtered corpus:
    # same postings content and same topk (scores now use the new stats)
    tr = synthesize_transcripts(spark, n_convs=12, turns_per_conv=6, seed=5)
    from neural_search_spark.data import assign_doc_ids

    fresh_dir = str(tmp_path / "fresh")
    fresh_docs = assign_doc_ids(tr)
    keep = fresh_docs.where(~fresh_docs.docID.isin([int(v) for v in victims]))
    # rebuild via the staged pipeline on the kept docs (docIDs preserved by
    # writing postings straight from the filtered docs frame)
    from neural_search_spark.index.build import build_postings

    exp_postings = sorted(
        (r["term"], r["docID"], r["tf"]) for r in build_postings(keep).collect()
    )
    got_postings = sorted(
        (r["term"], r["docID"], r["tf"])
        for r in store.postings.select("term", "docID", "tf").collect()
    )
    assert got_postings == exp_postings
    # both physical paths run and agree on the compacted store
    rel = [(r["docID"], r["score"]) for r in store.topk(QUERY, k=5, strategy="relational").collect()]
    seg = [(r["docID"], r["score"]) for r in store.topk(QUERY, k=5, strategy="segments").collect()]
    assert [d for d, _ in rel] == [d for d, _ in seg]
    for (_, a), (_, b) in zip(rel, seg):
        assert abs(a - b) < 1e-9
    # the same store object reads the swapped stages, not handles opened on
    # the swapped-out files: fetch and the DSL answer from the compacted index
    fetched = store.fetch(store.topk(QUERY, k=5)).collect()
    assert [(f["rank"], f["docID"]) for f in fetched] == [
        (i + 1, d) for i, (d, _) in enumerate(seg)
    ]
    for f, (_, score) in zip(fetched, seg):
        assert abs(f["score"] - score) < 1e-9 and f["text"]
    assert not {f["docID"] for f in fetched} & set(victims)
    dsl = store.query_engine().search({"match": {"text": " ".join(QUERY)}}, k=5).collect()
    assert [r["docID"] for r in dsl] == [d for d, _ in rel]
    for r, (_, score) in zip(dsl, rel):
        assert abs(r["score"] - score) < 1e-9
    # compacting with nothing deleted is a no-op
    res2 = store.compact()
    assert res2["deleted"] == 0 and res2["N"] == n0 - 4


def test_store_stats(spark, tmp_path):
    store = _build(spark, str(tmp_path / "idx"), n_convs=8)
    st = store.stats()
    assert st["docs"] == 48 and st["deleted"] == 0
    assert st["vocabulary"] > 0 and st["postings"] > 0
    assert st["posting_blocks"] >= st["shards"] >= 1
    assert all(st["bytes"][s] > 0 for s in st["bytes"])
    store.delete_docs([0, 1])
    assert store.stats()["deleted"] == 2


def test_store_query_engine_bridge(spark, tmp_path):
    store = _build(spark, str(tmp_path / "idx"), n_convs=8)
    eng = store.query_engine(positional=True)
    # DSL over the on-disk index agrees with the store's own topk
    got = [(r.docID, r.score) for r in eng.search({"match": {"text": " ".join(QUERY)}}, k=5).collect()]
    ref = [(r["docID"], r["score"]) for r in store.topk(QUERY, k=5, strategy="relational").collect()]
    assert [d for d, _ in got] == [d for d, _ in ref]
    for (_, a), (_, b) in zip(got, ref):
        assert abs(a - b) < 1e-9
    # positional kinds work against the stored docs
    assert eng.search({"match_phrase": {"text": "the data"}}, k=3).count() >= 0
    aggs_hits, aggs = eng.search_with_aggs(
        {"match": {"text": "data"}}, {"by_role": {"terms": {"field": "role"}}}
    )
    assert aggs["by_role"].count() > 0


def test_meta_follows_another_stores_compact(spark, tmp_path):
    """A store whose index another store compacts scores with the new
    N/avgdl: meta.json is re-read with the parquet handles."""
    path = str(tmp_path / "idx")
    a = _build(spark, path)
    b = IndexStore(spark, path)
    a.topk(QUERY, k=3).collect()  # a's handles, meta and plan cache are warm
    b.delete_docs(range(20))
    b.compact()
    assert a.meta == b.meta
    got = [(r["docID"], r["score"]) for r in a.topk(QUERY, k=3).collect()]
    exp = [(r["docID"], r["score"]) for r in b.topk(QUERY, k=3).collect()]
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, x), (_, y) in zip(got, exp):
        assert abs(x - y) < 1e-9
