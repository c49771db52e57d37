"""Segment build, block-max WAND query path, and checkpoint-resume."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from neural_search_spark.index.segments import BLOCK_SIZE, build_segments
from neural_search_spark.index.store import IndexStore, build_index
from neural_search_spark.query.bm25 import bm25_topk
from neural_search_spark.query.segment_search import wand_topk

from tests import oracle


@pytest.fixture(scope="module")
def pdl(index_tables):
    return index_tables.postings  # (term, docID, tf, dl) — dl inline


@pytest.fixture(scope="module")
def segments(spark, index_tables, pdl):
    m = index_tables.meta.first()
    seg = build_segments(
        pdl,
        avgdl=float(m["avgdl"]),
        max_doc_id=int(m["N"]) - 1,
        block_size=16,  # small blocks → multi-block lists in the fixture
        postings_per_salt=50,  # head terms (df>50) get salted
        term_stats=index_tables.term_stats,
    ).persist()
    seg.count()
    return seg


def test_segment_invariants(segments, index_tables):
    rows = segments.collect()
    assert rows, "no segments built"
    # every block: strictly increasing docIDs, max_score_component correct
    m = index_tables.meta.first()
    avgdl = float(m["avgdl"])

    salted = set()
    for r in rows:
        ids = np.array(r["docids"], dtype=np.int64)
        assert len(ids) == len(r["tfs"]) == len(r["dls"]) == r["n"]
        assert (np.diff(ids) > 0).all() if len(ids) > 1 else True
        assert ids[0] == r["first_docID"] and ids[-1] == r["last_docID"]
        tf = np.array(r["tfs"], dtype=np.float64)
        dl = np.array(r["dls"], dtype=np.float64)
        comp = tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        assert abs(comp.max() - r["max_score_component"]) < 1e-6
        assert r["n"] <= 16
        if r["salt"] > 0:
            salted.add(r["term"])
    assert salted, "expected salted head terms with postings_per_salt=50"
    # a term's blocks cover disjoint docID ranges (salts included): the
    # pruned wand_topk bounds each docID interval by the one block of each
    # term that covers it
    by_term: dict = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append((r["first_docID"], r["last_docID"]))
    for t, spans in by_term.items():
        spans.sort()
        assert all(a[1] < b[0] for a, b in zip(spans, spans[1:])), t
    # postings conservation: total decoded postings == postings rows
    total = sum(r["n"] for r in rows)
    assert total == index_tables.postings.count()


@pytest.mark.parametrize(
    "terms",
    [
        ["the", "spark", "query"],
        {"data": 2.0, "index": 1.0, "zzz_missing": 3.0},
        ["tok5"],
        ["cache", "heap", "scan", "the", "a", "of"],
    ],
)
def test_wand_topk_matches_relational_and_oracle(
    spark, transcripts, index_tables, segments, terms
):
    m = index_tables.meta.first()
    docs = {r["docID"]: r["text"] for r in transcripts.select("docID", "text").collect()}
    exp = oracle.topk(oracle.bm25_scores(docs, terms), 10)

    # an unreachable threshold decodes every block; 0 plans the pruned decode
    for no_prune_blocks in (10**9, 0):
        got = wand_topk(
            segments,
            index_tables.term_stats,
            n_docs=int(m["N"]),
            avgdl=float(m["avgdl"]),
            terms=terms,
            k=10,
            no_prune_blocks=no_prune_blocks,
        ).collect()
        assert [r["docID"] for r in got] == [d for d, _ in exp], no_prune_blocks
        for r, (_, s) in zip(got, exp):
            assert r["score"] == pytest.approx(s, rel=1e-9)

    rel = bm25_topk(
        index_tables.postings, index_tables.doclens, index_tables.term_stats,
        index_tables.meta, terms, k=10,
    ).collect()
    got = wand_topk(
        segments, index_tables.term_stats, int(m["N"]), float(m["avgdl"]), terms, k=10
    ).collect()
    assert [(r["docID"], pytest.approx(r["score"], rel=1e-9)) for r in got] == [
        (r["docID"], r["score"]) for r in rel
    ]


def test_store_build_and_resume(spark, tmp_path):
    from neural_search_spark.data import synthesize_transcripts

    tr = synthesize_transcripts(spark, n_convs=15, turns_per_conv=8, seed=42)
    out = str(tmp_path / "idx")

    r1 = build_index(spark, tr, out, source_fingerprint="synth:15x8:42", postings_per_salt=50)
    assert [s.skipped for s in r1] == [False] * 5

    store = IndexStore(spark, out)
    docs = {r["docID"]: r["text"] for r in store.docs.select("docID", "text").collect()}
    exp = oracle.topk(oracle.bm25_scores(docs, ["the", "data", "spark"]), 5)
    got = store.topk(["the", "data", "spark"], k=5).collect()
    assert [r["docID"] for r in got] == [d for d, _ in exp]
    # fetch joins hits back to turns
    fetched = store.fetch(store.topk(["the", "data", "spark"], k=5)).collect()
    assert len(fetched) == 5 and all(f["text"] for f in fetched)

    # full resume: everything skipped
    r2 = build_index(spark, tr, out, source_fingerprint="synth:15x8:42", postings_per_salt=50)
    assert [s.skipped for s in r2] == [True] * 5

    # kill-simulation: drop the segments manifest → only segments rebuilds,
    # and the rebuilt index is content-identical
    import os

    seg_manifest = os.path.join(out, "_manifests", "segments.json")
    before = sorted(
        (r["term"], r["salt"], r["blockID"], tuple(r["docids"]))
        for r in store.segments.collect()
    )
    os.remove(seg_manifest)
    r3 = build_index(spark, tr, out, source_fingerprint="synth:15x8:42", postings_per_salt=50)
    assert [s.skipped for s in r3] == [True, True, True, True, False]
    after = sorted(
        (r["term"], r["salt"], r["blockID"], tuple(r["docids"]))
        for r in IndexStore(spark, out).segments.collect()
    )
    assert before == after

    # changed source fingerprint invalidates every stage
    r4 = build_index(spark, tr, out, source_fingerprint="synth:OTHER")
    assert [s.skipped for s in r4] == [False] * 5


def test_wand_pruning_actually_prunes(spark, transcripts, index_tables, segments):
    """On the Zipf-skewed corpus, a head-term query with small k must skip
    blocks and stay exact."""
    m = index_tables.meta.first()
    docs = {r["docID"]: r["text"] for r in transcripts.select("docID", "text").collect()}
    # single-term, k=1: θ equals the best score, so only blocks whose
    # max-score bound reaches it survive — the sharpest pruning case
    terms = ["the"]
    stats: dict = {}
    # no_prune_blocks=0 plans the pruned decode even on this tiny fixture
    # (the production default skips pruning below 512 blocks — cheaper to
    # decode than to plan)
    got = wand_topk(
        segments, index_tables.term_stats, int(m["N"]), float(m["avgdl"]),
        terms, k=1, no_prune_blocks=0, stats_out=stats,
    ).collect()
    exp = oracle.topk(oracle.bm25_scores(docs, terms), 1)
    assert [r["docID"] for r in got] == [d for d, _ in exp]
    assert stats["blocks_total"] > 0
    assert stats["blocks_surviving"] < stats["blocks_total"], stats
    assert stats["theta"] > 0


def test_xxhash64_py_matches_spark(spark):
    """Driver-side XXH64 mirror (segments.xxhash64_py / shard_of) must agree
    with F.xxhash64 bit-for-bit so query-time shard pruning computed in
    Python targets exactly the directories the writer produced."""
    from pyspark.sql import functions as F

    from neural_search_spark.index.segments import shard_col, shard_of, xxhash64_py

    terms = [
        "", "a", "the", "spark", "tok0", "tok999999",
        "x" * 7, "y" * 8, "z" * 31, "w" * 32, "q" * 33, "m" * 100,
        "ünïcödé-term", "w12345",
    ]
    df = spark.createDataFrame([(t,) for t in terms], "t string").select(
        "t", F.xxhash64("t").alias("h"), shard_col(F.col("t")).alias("s")
    )
    for r in df.collect():
        assert xxhash64_py(r["t"].encode("utf-8")) == r["h"], r["t"]
        assert shard_of(r["t"]) == r["s"], r["t"]


def test_store_topk_auto_strategy(spark, tmp_path, python_operators):
    """strategy='auto' must return the same ranking as both forced paths
    and take the segment path, which picks the early exit or the pruned
    decode by its block count. The segment reads, early exit and pruned
    alike, run no Python operator."""
    from neural_search_spark.data import synthesize_transcripts
    from neural_search_spark.index.store import IndexStore, build_index

    tr = synthesize_transcripts(spark, n_convs=15, turns_per_conv=8, seed=42)
    out = str(tmp_path / "idx")
    build_index(spark, tr, out, source_fingerprint="auto-test", postings_per_salt=50)
    store = IndexStore(spark, out)

    for terms in (["tok5"], ["the", "data", "spark"]):
        rows = {}
        for strat in ("segments", "relational", "auto"):
            got = store.topk(terms, k=5, strategy=strat).collect()
            rows[strat] = [(r["docID"], round(r["score"], 9)) for r in got]
        assert rows["segments"] == rows["relational"] == rows["auto"], terms
    import pytest as _pytest

    with _pytest.raises(ValueError, match="strategy"):
        store.topk(["the"], strategy="bogus")

    # session plan cache: built once, reused (identity), router telemetry
    # recorded, wand's df aggregate skipped on the warm path
    c1 = store.plan_cache()
    c2 = store.plan_cache()
    assert c1 is c2 and c1["terms"], "cache must be reused within an epoch"
    so: dict = {}
    got = store.topk(["tok5"], k=5, strategy="auto", stats_out=so).collect()
    assert so["router"]["plan_cache_hit"] is True
    assert so["router"]["strategy"] == "segments"  # rare term → early-exit
    assert so.get("plan_cache_hit") is True  # wand skipped its df aggregate
    assert [(r["docID"], round(r["score"], 9)) for r in got] == rows_ref(store, ["tok5"])

    from neural_search_spark.query.segment_search import wand_topk as _wand

    assert python_operators(lambda: store.topk(["tok5"], k=5).collect()) == set()
    assert python_operators(lambda: _wand(
        store.segments, store.term_stats, store.meta["N"], store.meta["avgdl"],
        {"the": 1.0, "a": 1.0, "tok5": 8.0}, k=5, no_prune_blocks=0,
    ).collect()) == set()

    # invalidation: a delete changes the epoch → cache rebuilt
    victim = got[0]["docID"]
    store.delete_docs([victim])
    c3 = store.plan_cache()
    assert c3 is not c1


def rows_ref(store, terms):
    got = store.topk(terms, k=5, strategy="relational").collect()
    return [(r["docID"], round(r["score"], 9)) for r in got]


def _block_spans(segments, term):
    return [(r["first_docID"], r["last_docID"]) for r in segments.where(F.col("term") == term)
            .select("first_docID", "last_docID").collect()]


def _docids(segments, term):
    return {d for r in segments.where(F.col("term") == term).select("docids").collect()
            for d in r["docids"]}


def test_wand_prunes_head_only_intervals(spark, transcripts, index_tables, segments):
    """A query mixing dense head terms with an upweighted rare term: θ rises
    above what the heads alone can score, so every docID interval that only
    head blocks cover is pruned (MAXSCORE's essential-term split, subsumed
    by the interval bound). A head block is decoded only if its docID range
    holds a rare-term posting, and the answer stays rank- and
    score-identical to the unpruned decode and the brute-force oracle."""
    m = index_tables.meta.first()
    docs = {r["docID"]: r["text"] for r in transcripts.select("docID", "text").collect()}
    # heavy weight on a rare term held by at least k docs drives θ far above
    # the heads' bounds
    terms = {"the": 1.0, "a": 1.0, "span": 8.0}
    rare = _docids(segments, "span")
    assert len(rare) >= 5, "fixture: the rare term must seed θ on its own"
    exp = oracle.topk(oracle.bm25_scores(docs, terms), 5)

    stats: dict = {}
    got = wand_topk(
        segments, index_tables.term_stats, int(m["N"]), float(m["avgdl"]),
        terms, k=5, no_prune_blocks=0, stats_out=stats,
    ).collect()
    assert [r["docID"] for r in got] == [d for d, _ in exp]
    for r, (_, s) in zip(got, exp):
        assert r["score"] == pytest.approx(s, rel=1e-9)

    head = _block_spans(segments, "the") + _block_spans(segments, "a")
    with_rare = sum(any(lo <= d <= hi for d in rare) for lo, hi in head)
    assert with_rare < len(head), "fixture: every head block holds a rare-term doc"
    assert stats["blocks_surviving"] <= len(_block_spans(segments, "span")) + with_rare, stats
    assert stats["theta"] > 0

    unpruned = wand_topk(
        segments, index_tables.term_stats, int(m["N"]), float(m["avgdl"]),
        terms, k=5, no_prune_blocks=10**9,
    ).collect()
    assert [(r["docID"], round(r["score"], 9)) for r in got] == [
        (r["docID"], round(r["score"], 9)) for r in unpruned
    ]


def test_wand_rare_term_bound_prunes(spark, transcripts, index_tables, segments):
    """Head+rare query: the rare term's one block spans most of the docID
    space, so with block bounds alone every block of this query survives.
    Decoded whole in the θ seed, the rare term adds its exact part only at
    the docs that hold it, so head blocks far from those docs are pruned,
    and the answer stays rank- and score-identical to the oracle and the
    unpruned decode."""
    m = index_tables.meta.first()
    docs = {r["docID"]: r["text"] for r in transcripts.select("docID", "text").collect()}
    terms = ["token", "page"]
    assert len(_block_spans(segments, "page")) == 1 and len(_block_spans(segments, "token")) > 1
    exp = oracle.topk(oracle.bm25_scores(docs, terms), 10)

    stats: dict = {}
    got = wand_topk(
        segments, None, int(m["N"]), float(m["avgdl"]), terms, k=10,
        no_prune_blocks=0, stats_out=stats,
    ).collect()
    assert stats["blocks_surviving"] < stats["blocks_total"], stats
    assert [r["docID"] for r in got] == [d for d, _ in exp]
    for r, (_, s) in zip(got, exp):
        assert r["score"] == pytest.approx(s, rel=1e-9)
    unpruned = wand_topk(
        segments, None, int(m["N"]), float(m["avgdl"]), terms, k=10, no_prune_blocks=10**9,
    ).collect()
    assert [(r["docID"], r["score"]) for r in got] == [
        (r["docID"], pytest.approx(r["score"], rel=1e-9)) for r in unpruned
    ]


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None, derandomize=True)
@given(
    data=st.data(),
)
def test_wand_randomized_rank_identity(spark, index_tables, segments, data):
    """Property: for random query-term subsets, weights and k, the pruned
    block-max path (forced with no_prune_blocks=0) is rank- and
    score-identical to the relational join-agg.
    Derandomized so the driver's pytest run is reproducible."""
    from neural_search_spark.data.transcripts import VOCAB

    m = index_tables.meta.first()
    n_terms = data.draw(st.integers(min_value=1, max_value=5), label="n_terms")
    terms = {}
    for i in range(n_terms):
        t = data.draw(st.sampled_from(sorted(VOCAB)), label=f"term{i}")
        w = data.draw(
            st.floats(min_value=0.25, max_value=8.0, allow_nan=False, width=32),
            label=f"w{i}",
        )
        terms[t] = float(w)
    k = data.draw(st.integers(min_value=1, max_value=10), label="k")

    rel = bm25_topk(
        index_tables.postings, index_tables.doclens, index_tables.term_stats,
        index_tables.meta, terms, k=k,
    ).collect()
    got = wand_topk(
        segments, index_tables.term_stats, int(m["N"]), float(m["avgdl"]),
        terms, k=k, no_prune_blocks=0,
    ).collect()
    assert [r["docID"] for r in got] == [r["docID"] for r in rel], terms
    for g, r in zip(got, rel):
        assert g["score"] == pytest.approx(r["score"], rel=1e-9), terms


def test_store_snapshot_and_restore(spark, tmp_path):
    from neural_search_spark.data import synthesize_transcripts

    tr = synthesize_transcripts(spark, n_convs=10, turns_per_conv=6, seed=9)
    out = str(tmp_path / "idx_snap")
    build_index(spark, tr, out, source_fingerprint="synth:10x6:9", postings_per_salt=50)
    store = IndexStore(spark, out)
    before = store.topk(["the", "data", "spark"], k=5).collect()

    snaps = str(tmp_path / "snaps")
    m1 = store.snapshot(snaps, name="s1")
    assert m1["copied"] > 0 and m1["skipped"] == 0
    # incremental: an unchanged index re-snapshots with zero copies
    m2 = store.snapshot(snaps, name="s1")
    assert m2["copied"] == 0 and m2["skipped"] == len(m2["files"])

    restored = IndexStore.restore(
        spark, str(tmp_path / "snaps" / "s1"), str(tmp_path / "idx_restored")
    )
    after = restored.topk(["the", "data", "spark"], k=5).collect()
    assert [(r["docID"], r["score"]) for r in after] == [
        (r["docID"], r["score"]) for r in before
    ]
    assert restored.meta == store.meta
    # a torn snapshot (missing file) fails loudly before restoring anything
    import json as _json
    import os as _os

    sdir = str(tmp_path / "snaps" / "s1")
    with open(_os.path.join(sdir, "snapshot.json")) as f:
        manifest = _json.load(f)
    victim = next(e["path"] for e in manifest["files"] if e["path"].endswith(".parquet"))
    _os.remove(_os.path.join(sdir, victim))
    with pytest.raises(ValueError, match="incomplete"):
        IndexStore.restore(spark, sdir, str(tmp_path / "idx_restored2"))
    assert not _os.path.exists(str(tmp_path / "idx_restored2"))


def test_snapshot_copies_same_size_rewrite(spark, tmp_path):
    """A file rewritten in place with the same size and a new mtime_ns is
    copied again: the skip check compares st_mtime_ns exactly."""
    import json as _json
    import os as _os

    src = tmp_path / "idx"
    (src / "docs").mkdir(parents=True)
    (src / "meta.json").write_text(_json.dumps({"N": 1, "avgdl": 1.0}))
    part = src / "docs" / "part-0.parquet"
    part.write_bytes(b"aaaa")
    store = IndexStore(spark, str(src))
    m1 = store.snapshot(str(tmp_path / "snaps"), name="s")
    assert m1["copied"] == 2
    mtime_ns = _os.stat(part).st_mtime_ns
    part.write_bytes(b"bbbb")
    _os.utime(part, ns=(mtime_ns, mtime_ns + 500))  # 0.5 µs later: a float compare misses it
    m2 = store.snapshot(str(tmp_path / "snaps"), name="s")
    assert (m2["copied"], m2["skipped"]) == (1, 1)
    assert (tmp_path / "snaps" / "s" / "docs" / "part-0.parquet").read_bytes() == b"bbbb"
