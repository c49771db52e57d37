"""Structured-Streaming incremental ingest: arrival-order docIDs, per-batch
segment runs, global-stats queries, idempotent replay, compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from neural_search_spark.data import synthesize_transcripts
from neural_search_spark.data.transcripts import TRANSCRIPTS_SCHEMA
from neural_search_spark.streaming import StreamingIndexer

from tests import oracle


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    """Drop two waves of transcript files into a watched directory, run the
    stream to completion after each wave."""
    root = tmp_path_factory.mktemp("stream")
    in_dir, idx_dir, cp = str(root / "in"), str(root / "idx"), str(root / "cp")
    os.makedirs(in_dir)

    wave1 = synthesize_transcripts(spark, 12, 10, seed=1)
    wave2 = synthesize_transcripts(spark, 8, 10, seed=2)
    indexer = StreamingIndexer(spark, idx_dir, block_size=16, postings_per_salt=64)

    def run_wave(df, name):
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(in_dir, name))
        stream = (
            spark.readStream.schema(TRANSCRIPTS_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(in_dir)
        )
        q = indexer.sink(stream, cp, availableNow=True)
        q.awaitTermination(120)

    run_wave(wave1, "wave1")
    run_wave(wave2, "wave2")
    return indexer, wave1.unionByName(wave2)


def test_streaming_docids_disjoint_and_complete(spark, streamed):
    indexer, all_rows = streamed
    docs = indexer.docs()
    n = all_rows.count()
    ids = [r["docID"] for r in docs.select("docID").collect()]
    assert len(ids) == n
    assert sorted(ids) == list(range(n))  # contiguous arrival-order ids
    # per-turn text equality under each batch's stable (conv_id, turn_idx)
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in docs.collect()}
    exp = {(r["conv_id"], r["turn_idx"]): r["text"] for r in all_rows.collect()}
    assert got == exp


def test_streaming_query_matches_batch_oracle(spark, streamed):
    """BM25 over the streamed index (global stats over the run union) must
    equal the pure-Python oracle over the union corpus."""
    from neural_search_spark.query.bm25 import bm25_topk

    indexer, _ = streamed
    t = indexer.index_tables()
    docs = {r["docID"]: r["text"] for r in indexer.docs().select("docID", "text").collect()}
    terms = ["the", "data", "spark"]
    exp = oracle.topk(oracle.bm25_scores(docs, terms), 10)
    got = bm25_topk(t.postings, t.doclens, t.term_stats, t.meta, terms, k=10).collect()
    assert [r["docID"] for r in got] == [d for d, _ in exp]
    for r, (_, s) in zip(got, exp):
        assert r["score"] == pytest.approx(s, rel=1e-9)


def test_streaming_replay_idempotent(spark, streamed):
    """Re-delivering a processed batch must not change the index (crash
    replay of foreachBatch)."""
    indexer, _ = streamed
    before = sorted(
        (r["term"], r["docID"], r["tf"]) for r in indexer.postings().collect()
    )
    runs = indexer._run_dirs()
    batch_id = int(os.path.basename(runs[0]).split("=")[1])
    replay = spark.read.parquet(os.path.join(runs[0], "docs")).drop("docID")
    indexer.process_batch(replay, batch_id)
    after = sorted(
        (r["term"], r["docID"], r["tf"]) for r in indexer.postings().collect()
    )
    assert after == before


def test_streaming_compact_and_wand(spark, streamed):
    """Compaction rebuilds one segment table under global avgdl; WAND over
    it, pruned and unpruned, is rank-identical to the oracle."""
    from neural_search_spark.query.segment_search import wand_topk

    indexer, _ = streamed
    t = indexer.index_tables()
    m = t.meta.first()
    merged = spark.read.parquet(indexer.compact())
    docs = {r["docID"]: r["text"] for r in indexer.docs().select("docID", "text").collect()}
    terms = ["the", "data"]
    exp = oracle.topk(oracle.bm25_scores(docs, terms), 10)
    for no_prune_blocks in (10**9, 0):
        got = wand_topk(
            merged, t.term_stats, int(m["N"]), float(m["avgdl"]), terms, k=10,
            no_prune_blocks=no_prune_blocks,
        ).collect()
        assert [r["docID"] for r in got] == [d for d, _ in exp], no_prune_blocks


def test_streaming_percolate_matches_batch(spark, tmp_path_factory):
    """percolate_stream: the same stateless transform runs on a streaming
    and a batch frame with identical results, matches the relational
    percolator, and stays append-mode (no state store, no shuffle)."""
    from neural_search_spark.data import assign_doc_ids
    from neural_search_spark.query.percolate import percolate, register_queries
    from neural_search_spark.streaming.percolate import percolate_stream

    root = tmp_path_factory.mktemp("perc")
    in_dir, cp = str(root / "in"), str(root / "cp")
    docs = assign_doc_ids(synthesize_transcripts(spark, 15, 8, seed=7))
    docs.write.parquet(in_dir)

    qdefs = {
        1: {"terms": ["spark", "query"]},                  # conjunction
        2: {"terms": ["data", "pipeline", "batch"], "min_match": 1},
        3: {"terms": ["the"], "min_match": 1},
    }

    # streaming leg: file source -> percolate_stream -> memory sink
    stream = spark.readStream.schema(docs.schema).parquet(in_dir)
    out = percolate_stream(stream, qdefs)
    q = (
        out.writeStream.format("memory").queryName("perc_alerts")
        .option("checkpointLocation", cp).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r["id"], r["query_id"]) for r in spark.sql("select * from perc_alerts").collect()}

    # batch leg: identical transform on the batch frame
    batch = {(r["id"], r["query_id"])
             for r in percolate_stream(spark.read.parquet(in_dir), qdefs).collect()}
    assert got == batch

    # relational percolator agreement
    rel = {(r["id"], r["query_id"])
           for r in percolate(spark.read.parquet(in_dir), register_queries(spark, qdefs)).collect()}
    assert got == rel
    assert got, "fixture matched no rules — strengthen the rule set"

    # validation parity with register_queries
    with pytest.raises(ValueError, match="min_match"):
        percolate_stream(docs, {9: {"terms": ["a"], "min_match": 2}})
