"""Persistent sharded index store: staged build with per-stage lineage
manifests and checkpoint-resume.

Layout under `out_dir/`, every parquet file zstd-compressed (one writer,
index/segments.py write_stage):
    docs/           parquet — transcripts + stable docID (fetch-phase source)
    postings/       parquet — (term, docID, tf, dl)
    doclens/        parquet — (docID, dl)
    term_stats/     parquet — (term, df) exact, each file sorted by term
    segments/       parquet, dir-partitioned by shard — posting blocks with
                    docids/tfs/dls array columns (index/segments.py)
    tombstones/     parquet — (docID) of deleted docs, until compact()
    meta.json       {N, avgdl, tokenizer_hash, codec_version, source_fingerprint}
    _manifests/{stage}.json

Resume contract (north rule "resumable from checkpoint with per-partition
lineage"): each stage writes its parquet output, then atomically writes a
manifest recording its input fingerprint — a hash chain over
(source_fingerprint, tokenizer_hash, codec_version, upstream manifest
fingerprints) — plus row count, content checksum and wall seconds. A re-run
skips any stage whose manifest fingerprint matches the recomputed
expectation AND whose output exists; a kill between stages therefore resumes
exactly where it stopped, and a changed tokenizer/codec/source invalidates
every downstream stage automatically. The reference has no equivalent
(Lucene ingest is transactional per-shard); this is the Spark-idiomatic
replacement for its ingest durability.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neural_search_spark.analysis.tokenizer import tokenizer_hash
from neural_search_spark.data.docids import assign_doc_ids
from neural_search_spark.index.build import (
    build_doclens_from_postings,
    build_postings,
    build_term_stats,
)
from neural_search_spark.index.segments import (
    CODEC_VERSION,
    build_segments,
    write_segments,
    write_stage,
)
from neural_search_spark.session import local_frame

STAGES = ["docs", "postings", "doclens", "term_stats", "segments"]


def _clustered_term_stats(postings: DataFrame) -> DataFrame:
    """term_stats sorted by term within each file, with no shuffle: the
    row-group min/max stats then skip row groups on `term IN (…)`, and the
    sorted strings compress better."""
    return build_term_stats(postings).sortWithinPartitions("term")


def _write_with_metrics(df: DataFrame, path: str, write=write_stage) -> tuple[int, str]:
    """Write a stage's parquet with `write(df, path)` and collect its
    lineage metrics (row count + order-insensitive checksum) IN the write
    job via `observe` — no second read-back pass per stage. The per-stage
    metric job was measured as a real serial-latency tax between stages
    (cores idle while one extra scan per stage runs)."""
    from pyspark.sql import Observation

    cols = [F.col(c).cast("string") for c in df.columns]
    obs = Observation()
    observed = df.observe(
        obs,
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),  # no long overflow (ANSI)
        F.count(F.lit(1)).alias("n"),
    )
    write(observed, path)
    m = obs.get
    return int(m["n"]), f"{m['h']}:{m['n']}"


@dataclass
class StageResult:
    stage: str
    skipped: bool
    rows: int
    wall_sec: float


class IndexStore:
    #: vocabulary bound above which the session plan cache is disabled — a
    #: driver-side dict over 10⁷+ terms is the wrong trade; wand_topk's
    #: per-query aggregate stays bounded by |query| instead (plan_cache()).
    PLAN_CACHE_MAX_TERMS = 5_000_000

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._plan_cache: dict | None = None
        self._handles: dict[str, DataFrame] = {}
        self._handles_epoch: tuple | None = None
        self._meta: dict = {}
        self._sync()

    def _epoch(self) -> tuple:
        """Cheap invalidation key for the plan cache and the parquet
        handles: (name, mtime_ns, size) of every file in `_manifests/` and
        `tombstones/`, plus meta.json. A build stage rewrite, delete_docs and
        compact() each touch at least one of these. A StreamingIndexer
        append writes its own directory (`runs/`, `_state.json`), which is
        not statted: it does not change this store's tables."""
        entries = []
        for sub in ("_manifests", "tombstones"):
            d = os.path.join(self.path, sub)
            if os.path.isdir(d):
                for fn in sorted(os.listdir(d)):
                    st = os.stat(os.path.join(d, fn))
                    entries.append((f"{sub}/{fn}", st.st_mtime_ns, st.st_size))
        st = os.stat(os.path.join(self.path, "meta.json"))
        entries.append(("meta.json", st.st_mtime_ns, st.st_size))
        return tuple(entries)

    def _sync(self) -> tuple:
        """The current _epoch(). When it moved (this or another store
        rebuilt, deleted or compacted), drop the parquet handles and reload
        meta.json, so N/avgdl always belong to the files being read."""
        epoch = self._epoch()
        if epoch != self._handles_epoch:
            self._handles, self._handles_epoch = {}, epoch
            with open(os.path.join(self.path, "meta.json")) as f:
                self._meta = json.load(f)
        return epoch

    @property
    def meta(self) -> dict:
        """meta.json of the current epoch: {N, avgdl, tokenizer_hash,
        codec_version, source_fingerprint}."""
        self._sync()
        return self._meta

    def plan_cache(self) -> dict | None:
        """Session-cached per-term block counts, {"epoch", "terms": {term:
        {df, nblocks}}}, built once per index epoch over ALL terms in one
        Arrow collect. segment_search.wand_topk takes df and block counts
        from it in place of a per-query aggregate job. Invalidated whenever
        _epoch() changes (delete/compact/rebuild/append). Returns None when
        the vocabulary exceeds PLAN_CACHE_MAX_TERMS: at 10⁸-term scale the
        right lookup is the per-query aggregate (bounded by |q|), not a
        driver dict.
        """
        epoch = self._sync()
        c = self._plan_cache
        if c is not None and c["epoch"] == epoch:
            return c if c.get("terms") is not None else None
        # one Arrow collect, capped one row past the bound: the cap both
        # detects an oversized vocabulary and keeps it off the driver
        agg = (
            self.segments.groupBy("term")
            .agg(F.sum("n").alias("df"), F.count("*").alias("nblocks"))
            .limit(self.PLAN_CACHE_MAX_TERMS + 1)
            .toArrow()
        )
        terms = None
        if agg.num_rows <= self.PLAN_CACHE_MAX_TERMS:
            terms = {r.pop("term"): r for r in agg.to_pylist()}
        self._plan_cache = {"epoch": epoch, "terms": terms}
        return self._plan_cache if terms is not None else None

    # --- open-time accessors (lazy scans; segments scan prunes by shard) --
    def _table(self, stage: str) -> DataFrame:
        """The parquet handle of `stage`, opened once per _epoch().
        `spark.read.parquet` runs a 1-task schema-inference job and lists
        the stage's files; a handle keeps both, so it is only valid while
        the files it listed exist — compact() drops the handles on every
        stage swap, before the epoch moves."""
        self._sync()
        h = self._handles.get(stage)
        if h is None:
            h = self._handles[stage] = self.spark.read.parquet(os.path.join(self.path, stage))
        return h

    @property
    def docs(self) -> DataFrame:
        return self._table("docs")

    @property
    def postings(self) -> DataFrame:
        return self._table("postings")

    @property
    def doclens(self) -> DataFrame:
        return self._table("doclens")

    @property
    def term_stats(self) -> DataFrame:
        return self._table("term_stats")

    @property
    def segments(self) -> DataFrame:
        return self._table("segments")

    def _meta_frame(self) -> DataFrame:
        """One-row (N, avgdl) frame of meta.json, read without a Spark job."""
        return local_frame(
            self.spark, [(self.meta["N"], self.meta["avgdl"])], "N long, avgdl double"
        )

    # --- deletes: Lucene liveDocs semantics -------------------------------
    # deleted docs are tombstoned, excluded from results immediately, but
    # df/avgdl stay computed over the whole index until compact() — exactly
    # Lucene's deleted-but-unmerged behavior (docFreq ignores deletes until
    # segments merge). update = delete + streaming append (streaming/
    # ingest.py adds per-batch segment runs with fresh docIDs).

    @property
    def _tombstone_path(self) -> str:
        return os.path.join(self.path, "tombstones")

    @property
    def tombstones(self) -> DataFrame | None:
        """(docID) frame of deleted docs, or None when nothing is deleted."""
        p = self._tombstone_path
        if not os.path.isdir(p) or not any(
            f.endswith(".parquet") for f in os.listdir(p)
        ):
            return None
        return self._table("tombstones").select("docID").distinct()

    def delete_docs(self, doc_ids) -> int:
        """Tombstone docs by id list or (docID) DataFrame; idempotent
        (re-deleting is a no-op at read time — tombstones dedupe on scan).
        Returns the number of live docs actually deleted by this call."""
        if isinstance(doc_ids, DataFrame):
            ids = doc_ids.select(F.col(doc_ids.columns[0]).cast("long").alias("docID"))
        else:
            ids = local_frame(self.spark, [(int(d),) for d in doc_ids], "docID long")
        # count only genuinely-live deletions (bounded: one aggregate job)
        prev = self.tombstones
        new = ids.distinct()
        if prev is not None:
            new = new.join(prev, "docID", "left_anti")
        n_new = new.count()
        if n_new:
            write_stage(new.coalesce(1), self._tombstone_path, mode="append")
        return n_new

    def compact(self) -> dict:
        """Physically remove tombstoned docs: rewrite postings/doclens/
        term_stats/segments/docs without them, refresh meta (N, avgdl) —
        the Lucene forceMerge/expungeDeletes analog. Stats change here and
        only here. Clears stage manifests (the store's content no longer
        corresponds to any build-stage fingerprint chain) and tombstones.

        Swap protocol: each stage writes to `<stage>__compact` then renames
        over the old dir — safe on a real cluster too when `path` is a
        filesystem with atomic dir rename (HDFS); on S3-style stores use a
        manifest pointer instead (documented, not needed for this store)."""
        import shutil

        tombs = self.tombstones
        if tombs is None:
            return {"deleted": 0, "N": self.meta["N"], "avgdl": self.meta["avgdl"]}
        tombs = tombs.persist()
        n_del = tombs.count()

        def swap(stage: str, df: DataFrame, write=write_stage):
            tmp = os.path.join(self.path, f"{stage}__compact")
            write(df, tmp)
            old = os.path.join(self.path, stage)
            # the epoch moves only once meta.json is rewritten: drop the
            # handles now, or the next read opens the swapped-out files
            self._handles.clear()
            shutil.rmtree(old, ignore_errors=True)
            os.replace(tmp, old)

        live_postings = self.postings.join(tombs, "docID", "left_anti")
        swap("postings", live_postings)
        postings = self.postings  # re-scan the rewritten parquet
        swap("doclens", self.doclens.join(tombs, "docID", "left_anti"))
        swap("term_stats", _clustered_term_stats(postings))
        swap("docs", self.docs.join(tombs, "docID", "left_anti"))
        doclens = self.doclens
        m = doclens.agg(F.count("*").alias("N"), F.avg("dl").alias("avgdl")).first()
        n_docs, avgdl = int(m["N"]), float(m["avgdl"] or 0.0)
        pdl = postings if "dl" in postings.columns else postings.join(doclens, "docID")
        segs = build_segments(
            pdl, avgdl=avgdl, max_doc_id=max(n_docs - 1, 0), term_stats=self.term_stats
        )
        swap("segments", segs, write_segments)
        _write_json(os.path.join(self.path, "meta.json"), dict(self.meta, N=n_docs, avgdl=avgdl))
        shutil.rmtree(self._tombstone_path, ignore_errors=True)
        shutil.rmtree(os.path.join(self.path, "_manifests"), ignore_errors=True)
        tombs.unpersist()
        return {"deleted": n_del, "N": n_docs, "avgdl": avgdl}

    def topk(
        self,
        terms,
        k: int = 10,
        strategy: str = "auto",
        stats_out: dict | None = None,
    ) -> DataFrame:
        """Top-k BM25 over the store.

        strategy='auto' takes the segment path, wand_topk with the session
        plan cache: its own block threshold (no_prune_blocks) picks the
        early exit or the driver-planned prune, and the cache spares it the
        per-query block count. With tombstones present every strategy takes
        the relational path (below). The decision (strategy, plan-cache
        hit) is recorded in `stats_out["router"]` when given.
        'segments'/'relational' force a path."""
        from neural_search_spark.query.segment_search import wand_topk

        if strategy not in ("auto", "segments", "relational"):
            raise ValueError(f"unknown strategy: {strategy}")
        tombs = self.tombstones
        if tombs is not None:
            # tombstones present: the segment path's θ seed would be
            # computed from decoded candidates that may be deleted, and a
            # θ inflated by a deleted doc can prune blocks holding LIVE
            # top-k docs — route to the relational path with an anti-join
            # on the matched postings (stats stay whole-index, Lucene
            # liveDocs semantics) until compact() clears the tombstones
            from neural_search_spark.query.bm25 import bm25_score_all, topk as _topk

            scored = bm25_score_all(
                self.postings, self.doclens, self.term_stats, self._meta_frame(), terms,
                exclude=tombs,
            )
            return _topk(scored, k)
        if strategy == "relational":
            from neural_search_spark.query.bm25 import bm25_topk

            return bm25_topk(
                self.postings, self.doclens, self.term_stats, self._meta_frame(), terms, k=k
            )
        plan_cache = self.plan_cache()
        if strategy == "auto" and stats_out is not None:
            stats_out["router"] = {"strategy": "segments", "plan_cache_hit": plan_cache is not None}
        return wand_topk(
            self.segments,
            None,  # never scanned: opening it would cost a schema job
            n_docs=self.meta["N"],
            avgdl=self.meta["avgdl"],
            terms=terms,
            k=k,
            stats_out=stats_out,
            plan_cache=plan_cache,
        )

    def query_engine(self, positional: bool = False, **kwargs):
        """Bridge to the full query DSL: a QueryEngine over the store's
        persisted tables (match/term/bool/hybrid/span_near/synonym/
        more_like_this/aggs/… all work against the on-disk index).
        Tombstones, if any, ride in as a DSL-level exclusion the caller
        applies via store.topk for BM25; the DSL engine itself reflects
        deletes only after compact() (documented: one engine, one stats
        epoch). `positional=True` additionally builds positional postings
        from the stored docs (needed by match_phrase/span_near)."""
        from neural_search_spark.index.build import IndexTables
        from neural_search_spark.query.dsl import QueryEngine

        tables = IndexTables(
            postings=self.postings, doclens=self.doclens,
            term_stats=self.term_stats, meta=self._meta_frame(),
        )
        pos = None
        if positional:
            from neural_search_spark.query.phrase import build_positional_postings

            pos = build_positional_postings(self.docs)
        return QueryEngine(tables=tables, docs=self.docs, positional=pos, **kwargs)

    def stats(self) -> dict:
        """Index telemetry — the _stats / _segments API analog: doc count,
        deleted-doc count, vocabulary size, posting/block counts, per-stage
        on-disk bytes, shard count. One small Spark job per table aggregate
        plus an os.walk for bytes; nothing doc-sized reaches the driver."""
        tombs = self.tombstones
        seg = self.segments
        seg_row = seg.agg(
            F.count("*").alias("blocks"),
            F.sum("n").alias("postings"),
            F.count_distinct("shard").alias("shards"),
        ).first()
        vocab = self.term_stats.count()

        def dir_bytes(stage: str) -> int:
            total = 0
            for root, _, files in os.walk(os.path.join(self.path, stage)):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            return total

        return {
            "docs": int(self.meta["N"]),
            "deleted": int(tombs.count()) if tombs is not None else 0,
            "avgdl": float(self.meta["avgdl"]),
            "vocabulary": int(vocab),
            "posting_blocks": int(seg_row["blocks"]),
            "postings": int(seg_row["postings"] or 0),
            "shards": int(seg_row["shards"]),
            "bytes": {s: dir_bytes(s) for s in STAGES},
            "codec_version": self.meta.get("codec_version"),
            "tokenizer_hash": self.meta.get("tokenizer_hash"),
        }

    def fetch(self, topk: DataFrame) -> DataFrame:
        """Top-k hits with their source turns (fetch phase — reference
        NormalizationProcessorWorkflow.java:180-229): (docID, the other docs
        columns, the other top-k columns), in rank order.

        Collects the ≤k hit rows, then reads `docs` with their docIDs pushed
        into the parquet scan as an IN-list — docIDs are assigned in
        contiguous per-partition ranges, so row-group min/max stats skip
        the row groups that hold no hit — and adds rank and score as
        literal docID-keyed map columns. That is one Spark job for the fetch and no
        join or global sort. The k rows come back as an Arrow-backed local
        relation sorted by rank, so reading the result fires no job."""
        hits = {int(r["docID"]): r for r in topk.collect()}
        docs = self.docs
        cols = [F.col("docID")] + [F.col(c) for c in docs.columns if c != "docID"]
        for f in topk.schema.fields:
            if f.name != "docID":
                pairs = [x for d, r in hits.items() for x in (F.lit(d), F.lit(r[f.name]))]
                value = F.create_map(*pairs)[F.col("docID")] if pairs else F.lit(None)
                cols.append(value.cast(f.dataType).alias(f.name))
        found = docs.where(F.col("docID").isin(sorted(hits))).select(*cols)
        return self.spark.createDataFrame(found.toArrow().sort_by("rank"), schema=found.schema)

    # --- snapshot / restore (the _snapshot API analog) --------------------

    def snapshot(self, dest_dir: str, name: str = "snap") -> dict:
        """Snapshot the store into ``dest_dir/name/`` — the OpenSearch
        _snapshot API analog, INCREMENTAL the same way: every stage output
        is an immutable parquet file (stages swap whole directories, never
        rewrite in place), so a file already present in the snapshot with
        the same size is skipped, and re-snapshotting an unchanged index
        copies nothing. A ``snapshot.json`` manifest records the file list
        with sizes plus the store meta; restore verifies against it.

        Uses driver-side file copies — correct for this sandbox's local
        FS; on a real deployment the same immutable-file layout maps to
        object-store server-side copy (or hard links), which is what makes
        snapshots O(changed bytes) at 100 TB. Returns the manifest dict.
        """
        import hashlib
        import shutil

        target = os.path.join(dest_dir, name)
        os.makedirs(target, exist_ok=True)
        prior_md5: dict[str, str] = {}
        prior_manifest = os.path.join(target, "snapshot.json")
        if os.path.exists(prior_manifest):
            with open(prior_manifest) as f:
                prior_md5 = {
                    e["path"]: e["md5"]
                    for e in json.load(f).get("files", [])
                    if "md5" in e
                }
        files: list[dict] = []
        copied = skipped = 0
        for root, _, names in os.walk(self.path):
            for fname in sorted(names):
                src = os.path.join(root, fname)
                rel = os.path.relpath(src, self.path)
                st = os.stat(src)
                size = st.st_size
                dst = os.path.join(target, rel)
                # skip only when size AND mtime match (copy2 preserved the
                # mtime on the earlier copy) AND the prior manifest carries
                # the file's hash — a same-size in-place rewrite (e.g. a
                # small JSON manifest) must NOT leave stale snapshot bytes
                if (
                    rel in prior_md5
                    and os.path.exists(dst)
                    and os.path.getsize(dst) == size
                    and os.stat(dst).st_mtime_ns == st.st_mtime_ns
                ):
                    skipped += 1
                    digest = prior_md5[rel]
                else:
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    shutil.copy2(src, dst)
                    copied += 1
                    with open(src, "rb") as fh:
                        digest = hashlib.md5(fh.read()).hexdigest()
                files.append({"path": rel, "bytes": size, "md5": digest})
        manifest = {
            "name": name,
            "source_path": self.path,
            "meta": self.meta,
            "files": files,
            "copied": copied,
            "skipped": skipped,
        }
        tmp = os.path.join(target, "snapshot.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, os.path.join(target, "snapshot.json"))
        return manifest

    @classmethod
    def restore(
        cls, spark: SparkSession, snapshot_path: str, dest_path: str
    ) -> "IndexStore":
        """Restore a snapshot into ``dest_path`` and open it. Every file in
        the snapshot manifest must exist with its recorded size and content
        hash (a torn or tampered snapshot fails loudly BEFORE any file
        lands in ``dest_path``); extra files in the snapshot dir are
        ignored."""
        import hashlib
        import shutil

        with open(os.path.join(snapshot_path, "snapshot.json")) as f:
            manifest = json.load(f)
        for entry in manifest["files"]:
            src = os.path.join(snapshot_path, entry["path"])
            if not os.path.isfile(src) or os.path.getsize(src) != entry["bytes"]:
                raise ValueError(
                    f"snapshot {manifest['name']!r} is incomplete: "
                    f"{entry['path']} missing or size-mismatched"
                )
            if "md5" in entry:
                with open(src, "rb") as fh:
                    if hashlib.md5(fh.read()).hexdigest() != entry["md5"]:
                        raise ValueError(
                            f"snapshot {manifest['name']!r} is corrupt: "
                            f"{entry['path']} content-hash mismatch"
                        )
        for entry in manifest["files"]:
            src = os.path.join(snapshot_path, entry["path"])
            dst = os.path.join(dest_path, entry["path"])
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(src, dst)
        return cls(spark, dest_path)


def _manifest_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, "_manifests", f"{stage}.json")


def _read_manifest(out_dir: str, stage: str) -> dict | None:
    p = _manifest_path(out_dir, stage)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_json(path: str, payload: dict) -> None:
    """Replace `path` atomically: a store that reads it as its epoch moves
    never sees it half-written."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=2, sort_keys=True)
    os.replace(tmp, path)


def _write_manifest(out_dir: str, stage: str, payload: dict) -> None:
    os.makedirs(os.path.join(out_dir, "_manifests"), exist_ok=True)
    _write_json(_manifest_path(out_dir, stage), payload)


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    source_fingerprint: str,
    postings_per_salt: int | None = None,
    resume: bool = True,
) -> list[StageResult]:
    """Staged, resumable index build. Returns per-stage results (with
    skipped=True for stages satisfied by a valid manifest)."""
    results: list[StageResult] = []
    base = hashlib.sha256(
        json.dumps(
            {
                "source": source_fingerprint,
                "tokenizer": tokenizer_hash(),
                "codec": CODEC_VERSION,
            },
            sort_keys=True,
        ).encode()
    ).hexdigest()

    def run_stage(stage: str, producer, upstream: list[str]) -> tuple[StageResult, str]:
        # fingerprint covers the full config hash AND every upstream stage's
        # content checksum — a config change invalidates all stages, an
        # upstream content change invalidates everything downstream
        fingerprint = hashlib.sha256(
            f"{base}:{stage}:{':'.join(upstream)}".encode()
        ).hexdigest()
        man = _read_manifest(out_dir, stage) if resume else None
        out_path = os.path.join(out_dir, stage)
        if man and man.get("fingerprint") == fingerprint and os.path.exists(out_path):
            return StageResult(stage, True, man["rows"], 0.0), man["checksum"]
        t0 = time.time()
        rows, checksum = producer(out_path)
        _write_manifest(
            out_dir,
            stage,
            {
                "stage": stage,
                "fingerprint": fingerprint,
                "rows": rows,
                "checksum": checksum,
                "codec_version": CODEC_VERSION,
                "tokenizer_hash": tokenizer_hash(),
                "wall_sec": round(time.time() - t0, 3),
            },
        )
        return StageResult(stage, False, rows, time.time() - t0), checksum

    def produce_docs(out_path: str):
        return _write_with_metrics(assign_doc_ids(transcripts), out_path)

    r, c_docs = run_stage("docs", produce_docs, [])
    results.append(r)
    docs = spark.read.parquet(os.path.join(out_dir, "docs"))

    def produce_postings(out_path: str):
        # one tokenize+explode+groupBy pass, materialized; term_stats and
        # segments read THIS parquet instead of re-deriving from raw text
        return _write_with_metrics(build_postings(docs), out_path)

    r, c_post = run_stage("postings", produce_postings, [c_docs])
    results.append(r)
    postings = spark.read.parquet(os.path.join(out_dir, "postings"))

    def produce_doclens(out_path: str):
        # derive dl = Σ tf from the postings parquet (plus a pruned id scan
        # of docs for empty-doc completion) — the corpus is tokenized only
        # once, in the postings stage
        return _write_with_metrics(build_doclens_from_postings(postings, docs=docs), out_path)

    def produce_term_stats(out_path: str):
        return _write_with_metrics(_clustered_term_stats(postings), out_path)

    # doclens and term_stats both derive from the postings parquet only —
    # submit their Spark jobs from two threads so the scheduler overlaps
    # them (two small stages were pure serial latency back-to-back; the
    # driver-side stage barrier is a constant cost that otherwise caps
    # small-input scaling efficiency)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        f_dl = pool.submit(run_stage, "doclens", produce_doclens, [c_docs, c_post])
        f_ts = pool.submit(run_stage, "term_stats", produce_term_stats, [c_docs, c_post])
        r_dl, c_dl = f_dl.result()
        r_ts, c_ts = f_ts.result()
    results.extend([r_dl, r_ts])
    doclens = spark.read.parquet(os.path.join(out_dir, "doclens"))
    term_stats = spark.read.parquet(os.path.join(out_dir, "term_stats"))

    m = doclens.agg(F.count("*").alias("N"), F.avg("dl").alias("avgdl")).first()
    n_docs, avgdl = int(m["N"]), float(m["avgdl"])

    def produce_segments(out_path: str):
        # postings rows carry dl inline (build_postings) — no doclens join,
        # i.e. no second full shuffle of the posting stream on docID
        pdl = postings if "dl" in postings.columns else postings.join(doclens, "docID")
        kwargs = {}
        if postings_per_salt is not None:
            kwargs["postings_per_salt"] = postings_per_salt
        segs = build_segments(pdl, avgdl=avgdl, max_doc_id=n_docs - 1, term_stats=term_stats, **kwargs)
        return _write_with_metrics(segs, out_path, write_segments)

    r, _ = run_stage("segments", produce_segments, [c_docs, c_post, c_dl, c_ts])
    results.append(r)

    _write_json(
        os.path.join(out_dir, "meta.json"),
        {
            "N": n_docs,
            "avgdl": avgdl,
            "tokenizer_hash": tokenizer_hash(),
            "codec_version": CODEC_VERSION,
            "source_fingerprint": source_fingerprint,
        },
    )
    return results
