"""Structured-Streaming incremental ingest: micro-batches → disjoint-docID
segment runs → append merge.

The reference's ingest is an online per-document pipeline (bulk + ingest
processors, processor/InferenceProcessor.java subBatchExecute batching);
Lucene assigns docIDs in ARRIVAL order per segment and merges segments in
the background. This module is the Spark-idiomatic equivalent:

- `readStream` over a transcripts directory (or any streaming source),
  `foreachBatch` sink;
- each micro-batch gets a contiguous docID range starting past every
  previous batch (arrival-order docIDs — Lucene semantics; WITHIN a batch
  docIDs follow stable (conv_id, turn_idx) order via the keys-first
  prefix-sum, so replays of the same batch are deterministic);
- the batch builds its own segment run (the full salted/
  block-max build) plus postings/doclens run files, all under
  `runs/batch=<id>/` — runs therefore cover disjoint docID ranges by
  construction, exactly the `merge_segments(mode='append')` contract;
- `compact()` merges every run into one segment table (salt-offset union,
  no decode) and refreshes the global stats tables;
- queries can run at any time from the run union (`segments()`,
  `index_tables()`) — collection stats are always recomputed globally, so
  BM25 scores match a from-scratch batch build over the same rows
  (verified in tests), modulo the documented docID numbering difference.

Exactly-once: foreachBatch may re-deliver a batch after a crash; the run
directory is keyed by batch_id and rewritten atomically (overwrite), and
`_state.json` records the docID base per batch so a replay reuses its
original base — re-running a batch is idempotent.

Late data / watermarks: the index is append-only and order-free (stats are
recomputed from the union), so late rows simply land in a later run; no
watermark is required — matching the reference, which has no event-time
semantics either (SURVEY.md §2.9).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neural_search_spark.data.docids import assign_doc_ids
from neural_search_spark.index.build import (
    build_doclens_from_postings,
    build_postings,
    build_term_stats,
)
from neural_search_spark.index.segments import (
    build_segments,
    merge_segments,
    write_segments,
    write_stage,
)


class StreamingIndexer:
    """Incremental index over a stream of transcript micro-batches."""

    def __init__(self, spark: SparkSession, index_dir: str, block_size: int = 128,
                 postings_per_salt: int = 250_000):
        self.spark = spark
        self.index_dir = index_dir
        self.block_size = block_size
        self.postings_per_salt = postings_per_salt
        os.makedirs(os.path.join(index_dir, "runs"), exist_ok=True)

    # -- state: docID base per batch (tiny JSON; atomic replace) -----------
    @property
    def _state_path(self) -> str:
        return os.path.join(self.index_dir, "_state.json")

    def _load_state(self) -> dict:
        if os.path.exists(self._state_path):
            with open(self._state_path) as f:
                return json.load(f)
        return {"batches": {}, "next_base": 0}

    def _save_state(self, state: dict) -> None:
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=2, sort_keys=True)
        os.replace(tmp, self._state_path)

    # -- foreachBatch sink --------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Build one segment run from a micro-batch. Idempotent on replay:
        a batch re-run reuses its recorded docID base and overwrites its own
        run directory only."""
        n = batch_df.count()
        if n == 0:
            return
        state = self._load_state()
        key = str(batch_id)
        if key in state["batches"]:
            base = state["batches"][key]["base"]
        else:
            base = state["next_base"]
            state["batches"][key] = {"base": base, "rows": n}
            state["next_base"] = base + n
            self._save_state(state)

        run_dir = os.path.join(self.index_dir, "runs", f"batch={batch_id}")
        # batch-local stable ids (keys-first prefix sum), offset to the
        # batch's reserved range → globally disjoint, arrival-ordered
        docs = assign_doc_ids(batch_df).withColumn(
            "docID", (F.col("docID") + F.lit(base)).cast("long")
        )
        write_stage(docs, os.path.join(run_dir, "docs"))
        docs = self.spark.read.parquet(os.path.join(run_dir, "docs"))
        postings = build_postings(docs)
        write_stage(postings, os.path.join(run_dir, "postings"))
        postings = self.spark.read.parquet(os.path.join(run_dir, "postings"))
        doclens = build_doclens_from_postings(postings, docs=docs)
        write_stage(doclens, os.path.join(run_dir, "doclens"))
        doclens = self.spark.read.parquet(os.path.join(run_dir, "doclens"))
        avgdl = float(doclens.agg(F.avg("dl")).first()[0])
        segs = build_segments(
            postings,  # dl rides on the posting rows — no docID shuffle join
            avgdl=avgdl,  # per-run avgdl only shapes this run's block maxima
            max_doc_id=base + n - 1,
            block_size=self.block_size,
            postings_per_salt=self.postings_per_salt,
        )
        write_segments(segs, os.path.join(run_dir, "segments"))

    def sink(self, stream_df: DataFrame, checkpoint: str, **trigger_kwargs):
        """Attach the indexer as a foreachBatch sink; returns the query.
        e.g. `indexer.sink(df, cp, availableNow=True).awaitTermination()`.
        """
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(**(trigger_kwargs or {"availableNow": True}))
            .start()
        )

    # -- query-side views ---------------------------------------------------
    def _run_dirs(self) -> list[str]:
        root = os.path.join(self.index_dir, "runs")
        return sorted(
            os.path.join(root, d) for d in os.listdir(root) if d.startswith("batch=")
        )

    def _union(self, sub: str) -> DataFrame:
        paths = [os.path.join(r, sub) for r in self._run_dirs()]
        df = self.spark.read.parquet(paths[0])
        for p in paths[1:]:
            df = df.unionByName(self.spark.read.parquet(p))
        return df

    def docs(self) -> DataFrame:
        return self._union("docs")

    def postings(self) -> DataFrame:
        return self._union("postings")

    def doclens(self) -> DataFrame:
        return self._union("doclens")

    def index_tables(self):
        """Global relational view: stats recomputed over the run union, so
        BM25 scoring matches a monolithic build over the same rows."""
        from neural_search_spark.index.build import IndexTables, collection_meta

        postings = self.postings()
        doclens = self.doclens()
        return IndexTables(
            postings=postings,
            doclens=doclens,
            term_stats=build_term_stats(postings),
            meta=collection_meta(doclens),
        )

    def compact(self, out: str | None = None) -> str:
        """Merge every run's segments into one table with block maxima
        recomputed under the GLOBAL avgdl (rebuild mode — decode, re-salt,
        rebuild, like a Lucene segment merge rewrites). Each run was
        built with its own avgdl, so an append-mode union would leave
        block-max bounds inconsistent with global-stats scoring (unsound
        WAND pruning); the cheap append merge is reserved for runs built
        with shared stats (index/store.py incremental case). Returns the
        merged segment path."""
        out = out or os.path.join(self.index_dir, "segments_merged")
        avgdl = float(self.doclens().agg(F.avg("dl")).first()[0])
        merge_segments(
            self.spark,
            [os.path.join(r, "segments") for r in self._run_dirs()],
            out,
            mode="rebuild",
            block_size=self.block_size,
            postings_per_salt=self.postings_per_salt,
            avgdl=avgdl,
        )
        return out
