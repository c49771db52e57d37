"""Codec policy of the index files: every parquet file an index writes goes
through index/segments.py write_stage, so every column chunk is zstd, and
term_stats files are sorted by term. Checked on the files themselves, so a
writer that bypasses write_stage fails here."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from neural_search_spark.data import synthesize_transcripts
from neural_search_spark.index.store import IndexStore, build_index
from neural_search_spark.streaming import StreamingIndexer


def parquet_files(root: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    )


def assert_zstd(root: str) -> None:
    files = parquet_files(root)
    assert files, f"no parquet under {root}"
    chunks = 0
    for path in files:
        md = pq.ParquetFile(path).metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(g).column(c)
                assert col.compression == "ZSTD", (path, col.path_in_schema, col.compression)
                chunks += 1
    assert chunks


def assert_term_stats_sorted(root: str) -> None:
    files = parquet_files(os.path.join(root, "term_stats"))
    assert files
    for path in files:
        terms = pq.read_table(path, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms), path


def test_store_files_are_zstd_and_term_stats_sorted(spark, tmp_path):
    path = str(tmp_path / "idx")
    tr = synthesize_transcripts(spark, n_convs=10, turns_per_conv=6, seed=3)
    build_index(spark, tr, path, source_fingerprint="synth:10x6:3", postings_per_salt=50)
    assert_zstd(path)
    assert_term_stats_sorted(path)
    store = IndexStore(spark, path)
    assert store.delete_docs([0, 1, 2]) == 3
    assert parquet_files(os.path.join(path, "tombstones"))
    assert_zstd(path)
    store.compact()
    assert_zstd(path)
    assert_term_stats_sorted(path)


def test_streaming_run_files_are_zstd(spark, tmp_path):
    idx_dir = str(tmp_path / "stream")
    indexer = StreamingIndexer(spark, idx_dir, block_size=16, postings_per_salt=64)
    batch = synthesize_transcripts(spark, n_convs=4, turns_per_conv=5, seed=9)
    indexer.process_batch(batch, 0)
    run = os.path.join(idx_dir, "runs", "batch=0")
    for stage in ("docs", "postings", "doclens", "segments"):
        assert parquet_files(os.path.join(run, stage)), stage
    assert_zstd(run)
    merged = indexer.compact()
    assert_zstd(merged)
