"""Lucene int4 norm quantization parity and hierarchical segment merge."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from neural_search_spark.analysis.lucene_norms import (
    int4_quantize_col,
    int4_quantize_np,
    int4_quantize_py,
)
from neural_search_spark.query.bm25 import bm25_topk

from tests import oracle


@given(st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=300, deadline=None)
def test_int4_properties(n):
    q = int4_quantize_py(n)
    # monotone round-down with ≤1/8 relative error; exact below 24
    # (SmallFloat reserves NUM_FREE_VALUES=24 exact low codes)
    assert q <= n
    if n < 24:
        assert q == n
    else:
        assert n - q < n / 8
    assert int4_quantize_py(q) == q  # idempotent


# -- pure-Python port of Lucene SmallFloat intToByte4/byte4ToInt, written
# from the public format description, as the parity oracle ------------------


def _long_to_int4(i: int) -> int:
    num_bits = i.bit_length()
    if num_bits < 4:
        return i
    shift = num_bits - 4
    encoded = (i >> shift) & 0x07  # clear the implicit leading bit
    return encoded | ((shift + 1) << 3)


def _int4_to_long(b: int) -> int:
    bits = b & 0x07
    shift = (b >> 3) - 1
    if shift == -1:
        return bits  # subnormal
    return (bits | 0x08) << shift


_NUM_FREE = 255 - _long_to_int4(2**31 - 1)  # = 24


def _small_float_roundtrip(n: int) -> int:
    if n < _NUM_FREE:
        return n
    return _int4_to_long(_long_to_int4(n - _NUM_FREE)) + _NUM_FREE


def test_int4_matches_smallfloat_port():
    assert _NUM_FREE == 24
    # the ADVICE.md counter-examples plus a dense sweep
    assert int4_quantize_py(17) == 17
    assert int4_quantize_py(25) == 25
    assert int4_quantize_py(45) == 44
    assert int4_quantize_py(100) == 96
    for n in list(range(0, 4096)) + [10_000, 123_456, 2**20, 2**31 - 1]:
        assert int4_quantize_py(n) == _small_float_roundtrip(n), n


@given(st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=300, deadline=None)
def test_int4_matches_smallfloat_port_prop(n):
    assert int4_quantize_py(n) == _small_float_roundtrip(n)


def test_int4_np_and_col_match_py(spark):
    vals = [0, 1, 7, 8, 9, 15, 16, 100, 384, 1000, 123456, 2**31]
    exp = [int4_quantize_py(v) for v in vals]
    assert int4_quantize_np(np.array(vals)).tolist() == exp
    df = spark.createDataFrame([(v,) for v in vals], "n long")
    got = [r["q"] for r in df.select(int4_quantize_col(F.col("n")).alias("q")).collect()]
    assert got == exp


def test_bm25_lucene_norms_mode_matches_oracle(spark, transcripts, index_tables):
    docs = {r["docID"]: r["text"] for r in transcripts.select("docID", "text").collect()}
    terms = ["the", "spark", "data"]
    exp = oracle.topk(oracle.bm25_scores(docs, terms, lucene_norms=True), 10)
    from neural_search_spark.query.bm25 import bm25_score_all, topk

    got = topk(
        bm25_score_all(
            index_tables.postings, index_tables.doclens, index_tables.term_stats,
            index_tables.meta, terms, lucene_norms=True,
        ),
        10,
    ).collect()
    assert [r["docID"] for r in got] == [d for d, _ in exp]
    for r, (_, s) in zip(got, exp):
        assert r["score"] == pytest.approx(s, rel=1e-9)


def test_merge_segments_disjoint_ranges(spark, tmp_path):
    """Incremental ingest: two runs over disjoint docID ranges merge by
    concatenation + renumbering, and the merged index answers queries
    identically to an index built over the union."""
    from neural_search_spark.data import synthesize_transcripts, assign_doc_ids
    from neural_search_spark.index.build import build_index_tables
    from neural_search_spark.index.segments import build_segments, merge_segments, write_segments
    from neural_search_spark.query.segment_search import wand_topk

    tr = assign_doc_ids(synthesize_transcripts(spark, 20, 10, seed=7))
    full = build_index_tables(tr)
    m = full.meta.first()
    avgdl, n_docs = float(m["avgdl"]), int(m["N"])

    # two disjoint docID halves, segment-built separately with SHARED global
    # stats (the incremental-ingest contract: stats refresh, postings append)
    paths = []
    for i, cond in enumerate([F.col("docID") < 100, F.col("docID") >= 100]):
        part = full.postings.where(cond)
        segs = build_segments(part, avgdl=avgdl, max_doc_id=n_docs - 1, block_size=16,
                              term_stats=full.term_stats)
        p = str(tmp_path / f"run{i}")
        write_segments(segs, p)
        paths.append(p)

    merged_path = str(tmp_path / "merged")
    merge_segments(spark, paths, merged_path)
    merged = spark.read.parquet(merged_path)

    # salt groups from different runs never collide: (term, salt, blockID)
    # stays unique, and within each (term, salt) blockIDs are ordered by
    # docID (append mode never renumbers, never windows by term)
    assert (
        merged.groupBy("term", "salt", "blockID").count().where(F.col("count") > 1).count() == 0
    )

    docs = {r["docID"]: r["text"] for r in tr.select("docID", "text").collect()}
    exp = oracle.topk(oracle.bm25_scores(docs, ["the", "data", "spark"]), 10)
    # unpruned, then pruned: merged runs keep each term's blocks disjoint
    for no_prune_blocks in (10**9, 0):
        got = wand_topk(merged, full.term_stats, n_docs, avgdl, ["the", "data", "spark"], k=10,
                        no_prune_blocks=no_prune_blocks).collect()
        assert [r["docID"] for r in got] == [d for d, _ in exp], no_prune_blocks

    # overlapping runs must be rejected in append mode
    with pytest.raises(ValueError, match="overlapping"):
        merge_segments(spark, [paths[0], paths[0]], str(tmp_path / "bad"))


def test_merge_rebuild_overlapping_head_term(spark, tmp_path, python_operators):
    """Rebuild merge: a head term spans two runs over INTERLEAVED docID
    ranges with more total postings than postings_per_salt — append mode
    must refuse; rebuild mode decodes, re-salts the head term, and answers
    queries identically to a from-scratch index."""
    from neural_search_spark.data import assign_doc_ids, synthesize_transcripts
    from neural_search_spark.index.build import build_index_tables
    from neural_search_spark.index.segments import (
        build_segments,
        decode_segments,
        merge_segments,
        write_segments,
    )
    from neural_search_spark.query.segment_search import wand_topk

    tr = assign_doc_ids(synthesize_transcripts(spark, 30, 10, seed=13))
    full = build_index_tables(tr)
    m = full.meta.first()
    avgdl, n_docs = float(m["avgdl"]), int(m["N"])
    pdl = full.postings

    # interleave docIDs (even/odd) so per-term ranges overlap across runs
    paths = []
    for i, cond in enumerate([F.col("docID") % 2 == 0, F.col("docID") % 2 == 1]):
        segs = build_segments(
            pdl.where(cond), avgdl=avgdl, max_doc_id=n_docs - 1, block_size=16,
            term_stats=full.term_stats,
        )
        p = str(tmp_path / f"run{i}")
        write_segments(segs, p)
        paths.append(p)

    with pytest.raises(ValueError, match="overlapping"):
        merge_segments(spark, paths, str(tmp_path / "bad"))

    merged_path = str(tmp_path / "rebuilt")
    # tiny postings_per_salt forces head-term re-salting in the rebuild;
    # decode and rebuild run without a Python operator
    assert python_operators(lambda: merge_segments(
        spark, paths, merged_path, mode="rebuild",
        block_size=16, postings_per_salt=64, avgdl=avgdl,
    )) == set()
    merged = spark.read.parquet(merged_path)

    # the head term ('the' appears in nearly every doc) got salted
    head_salts = (
        merged.groupBy("term").agg(F.countDistinct("salt").alias("s"))
        .where(F.col("s") > 1).count()
    )
    assert head_salts > 0, "expected at least one re-salted head term"

    # round-trip identity: decoded postings equal the originals
    dec = decode_segments(merged).select("term", "docID", "tf")
    assert dec.exceptAll(full.postings.select("term", "docID", "tf")).count() == 0
    assert full.postings.select("term", "docID", "tf").exceptAll(dec).count() == 0

    docs = {r["docID"]: r["text"] for r in tr.select("docID", "text").collect()}
    exp = oracle.topk(oracle.bm25_scores(docs, ["the", "data", "spark"]), 10)
    for no_prune_blocks in (10**9, 0):
        got = wand_topk(merged, full.term_stats, n_docs, avgdl, ["the", "data", "spark"], k=10,
                        no_prune_blocks=no_prune_blocks).collect()
        assert [r["docID"] for r in got] == [d for d, _ in exp], no_prune_blocks
        for r, (_, s) in zip(got, exp):
            assert r["score"] == pytest.approx(s, rel=1e-9)
