"""The two workloads: closed loops of public engine calls, one client.

Both build one index in set-up (build_index over a seeded 10k-turn corpus).
interactive then runs a fixed warm-up of its read kinds; ingest, whose run
budget has no room for one, times its session's first writes.

interactive  the timed loop runs passes of warm IndexStore.topk+fetch calls
             (three kinds of query of the mix), QueryEngine.search bodies
             (bool, hybrid) and a 32-query msearch. Plan-cache hits, the
             router's segment early exit, relational DSL scoring and the
             batch path.
ingest       the timed loop runs cycles of delete_docs, a query over the
             tombstones, compact and the first query after it (cold plan
             cache). Writes beside reads, and the cache invalidation every
             compact causes.

Every pass, and every cycle, runs the same ops with the same queries, so a
run that fits more of them in its time measures the same mix.

At 10k turns no query reaches 512 blocks, so IndexStore's router always
takes the segment early exit. Traced runs therefore also call the pruned
segment kernel directly (Topk strategy 'wand'), and a StreamingIndexer
micro-batch append (docIDs, postings and segments of the batch), as probes:
timed, the append would add about 6 s to each ingest run, which the
benchmark's run budget could not carry.

Each op is a function that makes the public calls and returns a check; the
op's wall covers the calls only, the check runs after it.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

import pyarrow.dataset as ds

from perfbench import gen
from perfbench.oracle import Oracle, check_ranked, check_same, weights_of

K = 10
STAGE_SPANS = {"docs": "data.assign_doc_ids", "postings": "index.build.postings",
               "doclens": "index.build.doclens", "term_stats": "index.build.term_stats",
               "segments": "index.segments.encode_write"}


class Ctx:
    """Run state shared by a workload and the run loop."""

    def __init__(self, spark, tracer, seed: int, workdir: str, slots: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.workdir = workdir
        self.slots = slots
        self.samples: list[dict] = []
        self.failures: list[dict] = []
        self.attempted = 0
        self.timed_ops: set[int] = set()
        self.warmup_ops: set[int] = set()
        self.trace_overhead: list[float] = []
        self._next_op = 0

    def run(self, kind: str, fn, phase: str, read: bool = False, twin: bool = False) -> None:
        """Run one op: `fn()` makes the calls and returns `check() -> error|None`.

        phase is "timed", "warmup" or "probe" (traced-only extra calls).
        `twin`: in a traced run, first run the same op untraced, so the
        difference is the tracing overhead (only for repeatable reads)."""
        op_id = self._next_op
        self._next_op += 1
        {"timed": self.timed_ops, "warmup": self.warmup_ops}.get(phase, set()).add(op_id)
        untraced = None
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if twin and self.tracer.enabled:
                self.tracer.enabled = False
                try:
                    fn()
                finally:
                    self.tracer.enabled = True
                untraced = time.perf_counter() - t0
                t0 = time.perf_counter()
            with self.tracer.op(kind, op_id):
                check = fn()
            wall = time.perf_counter() - t0
            err = check()
        except Exception as e:  # an op that raises is a failed op; the run goes on
            wall = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
            err = f"{type(e).__name__}: {e}"
        if err:
            print(f"perfbench: op {kind} failed: {err}", file=sys.stderr)
            self.failures.append({"op": kind, "phase": phase, "error": str(err)[:500]})
        elif phase == "timed":
            self.samples.append({"kind": kind, "wall": wall, "read": read})
        if untraced is not None and not err:
            self.trace_overhead.append(wall - untraced)


# -- shared calls ----------------------------------------------------------

def build(ctx: Ctx, df, out_dir: str, fingerprint: str):
    """build_index over a corpus DataFrame, then open the store. Build
    stages become child spans, placed from their manifests (end = manifest
    mtime, start = end - the stage wall the engine recorded)."""
    from neural_search_spark.index.store import IndexStore, build_index

    with ctx.tracer.span("index.store.build_index") as sp:
        build_index(ctx.spark, df, out_dir, source_fingerprint=fingerprint, resume=False)
    if sp is not None:
        for stage, name in STAGE_SPANS.items():
            path = os.path.join(out_dir, "_manifests", f"{stage}.json")
            with open(path) as f:
                wall = json.load(f)["wall_sec"]
            end = os.stat(path).st_mtime_ns / 1e9
            ctx.tracer.add(name, end - wall, end, sp, path=os.path.join(out_dir, stage))
    with ctx.tracer.span("index.store.open"):
        return IndexStore(ctx.spark, out_dir)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def bytes_per_posting(index_dir: str) -> tuple[float, float]:
    """On-disk bytes per posting of the whole index and of its segments."""
    with open(os.path.join(index_dir, "_manifests", "postings.json")) as f:
        n = int(json.load(f)["rows"])
    return dir_bytes(index_dir) / n, dir_bytes(os.path.join(index_dir, "segments")) / n


def hits(rows) -> list[tuple[int, float]]:
    """(docID, score) of result rows, in rank order."""
    return [(int(r["docID"]), float(r["score"])) for r in sorted(rows, key=lambda r: r["rank"])]


#: the span of each top-k path of Topk
TOPK_SPANS = {"auto": "index.store.topk", "relational": "query.bm25.bm25_topk",
              "wand": "query.segment_search.wand_topk"}


class Topk:
    """A top-k read followed by fetch, checked against the oracle.

    strategy 'auto' and 'relational' call IndexStore.topk. 'wand' calls
    segment_search.wand_topk on the store's segments with no_prune_blocks=0,
    so its theta seed, MAXSCORE split and zone pruning run: IndexStore's
    router sends a query of at most 512 blocks to the segment early exit,
    which decodes every block, and every query of this benchmark's index is
    that small. topk returns a lazy DataFrame, so the scoring runs in the
    fetch's collect; one span covers both.

    `stats` passes the engine's stats_out (router decision, block counts)
    and keeps it in self.stats. A 'wand' call with stats runs extra
    telemetry jobs, so it gets no layer span: its work stays on its op.
    self.wall is the wall of the last call."""

    def __init__(self, ctx: Ctx, store, terms: list[str], expect, strategy="auto",
                 stats=False, exclude=(), cold=False):
        self.ctx, self.store, self.terms, self.expect = ctx, store, terms, expect
        self.strategy, self.want_stats = strategy, stats
        self.exclude, self.cold = set(exclude), cold
        self.stats: dict = {}
        self.wall = 0.0

    def _top(self, so):
        store = self.store
        if self.strategy == "wand":
            from neural_search_spark.query.segment_search import wand_topk

            return wand_topk(store.segments, store.term_stats, n_docs=store.meta["N"],
                             avgdl=store.meta["avgdl"], terms=self.terms, k=K,
                             no_prune_blocks=0, stats_out=so, plan_cache=store.plan_cache())
        return store.topk(self.terms, k=K, strategy=self.strategy, stats_out=so)

    def __call__(self):
        ctx, store = self.ctx, self.store
        so = {} if self.want_stats else None
        if self.cold:
            # what topk does first on a cold store, as its own span
            with ctx.tracer.span("index.store.plan_cache"):
                store.plan_cache()
        layer = (nullcontext() if self.want_stats and self.strategy == "wand"
                 else ctx.tracer.span(TOPK_SPANS[self.strategy]))
        t0 = time.perf_counter()
        with layer:
            rows = store.fetch(self._top(so)).collect()
        self.wall = time.perf_counter() - t0
        self.stats = so or {}

        def check():
            got = hits(rows)
            bad = [d for d, _ in got if d in self.exclude]
            if bad:
                return f"deleted docIDs {bad[:5]} returned"
            return check_ranked(got, *self.expect())
        return check


# -- workloads -------------------------------------------------------------

class Workload:
    """State and ops shared by both workloads: one index built in set-up,
    its oracle, and one method per op kind. Each workload times its own op
    kinds; a traced run then calls the other workload's kinds once as
    probes, so every layer is measured in every traced run."""

    TURNS = 10_000
    DELETES = 500
    APPEND_TURNS = 1_000

    def setup(self, ctx: Ctx) -> None:
        self.idx = os.path.join(ctx.workdir, "index")
        self.sdir = os.path.join(ctx.workdir, "stream")
        self.store = build(ctx, gen.corpus(ctx.spark, self.TURNS, ctx.seed, ctx.slots), self.idx,
                           f"perfbench-{ctx.seed}")
        self.bytes_per_posting, self.segment_bytes_per_posting = bytes_per_posting(self.idx)
        self.queries = gen.make_queries(ctx.seed)
        self.dsl = gen.make_dsl(ctx.seed)
        self.msearch_bodies = gen.make_msearch(ctx.seed)
        self.oracle = Oracle(self.idx)
        self.engine = None
        self.gone: set[int] = set()  # tombstoned and not yet compacted
        self.removed: set[int] = set()  # removed by the last compact
        self.recorded: dict[str, list] = {}
        self.router: list[str] = []  # the auto router's picks
        self.probes: list[dict] = []  # per probed query: walls per path, blocks
        self.batches = 0

    def _engine(self, ctx: Ctx):
        """The QueryEngine over the store, made again after each compact."""
        if self.engine is None:
            with ctx.tracer.span("index.store.query_engine"):
                self.engine = self.store.query_engine()
        return self.engine

    def _live(self) -> tuple[list[int], list[int]]:
        """(docID, dl) lists of the docs neither compacted away nor deleted."""
        dl = ds.dataset(os.path.join(self.idx, "doclens"), format="parquet").to_table(
            columns=["docID", "dl"]).to_pydict()
        keep = [i for i, d in enumerate(dl["docID"]) if d not in self.gone]
        return [dl["docID"][i] for i in keep], [dl["dl"][i] for i in keep]

    # -- reads --
    def topk(self, ctx: Ctx, kind: str, terms: list[str], phase: str, cold=False,
             twin=False, probes=False) -> None:
        """topk+fetch of `terms` with strategy='auto'. With `probes` (traced
        runs), the same query then runs once per other path: relational,
        the pruned segment kernel, and that kernel again with block counts."""
        weights, gone = weights_of(terms), self.gone | self.removed

        def expect():
            return self.oracle.topk(weights, K, exclude=gone)

        def call(kind, phase, twin=False, **kw):
            op = Topk(ctx, self.store, terms, expect, exclude=gone, **kw)
            ctx.run(kind, op, phase, read=True, twin=twin)
            return op
        op = call(kind, phase, twin, cold=cold, stats=ctx.tracer.enabled)
        router = op.stats.get("router", {}).get("strategy")
        if router:
            self.router.append(router)
        if probes:
            walls = {s: call(f"probe_{s}", "probe", strategy=s).wall
                     for s in ("relational", "wand")}
            blocks = call("probe_wand_stats", "probe", strategy="wand", stats=True).stats
            self.probes.append({"auto": op.wall, "router": router, **walls,
                                "blocks_total": blocks.get("blocks_total", 0),
                                "blocks_surviving": blocks.get("blocks_surviving", 0)})

    def search(self, ctx: Ctx, kind: str, phase: str) -> None:
        """QueryEngine.search of the seed's `kind` body (match, bool, hybrid).
        match is checked against the oracle; bool and hybrid against their
        first answer in the run, so every repeat must be identical."""
        body = self.dsl[kind]

        def fn():
            engine = self._engine(ctx)
            with ctx.tracer.span(f"query.dsl.search.{kind}"):
                rows = engine.search(body, k=K).collect()

            def check():
                got = hits(rows)
                if kind == "match":
                    return check_ranked(got, *self.oracle.topk(
                        weights_of(body["match"]["text"]["query"]), K))
                return check_same(got, self.recorded.setdefault(kind, got))
            return check
        ctx.run(kind, fn, phase, read=True)

    def msearch(self, ctx: Ctx, phase: str) -> None:
        """QueryEngine.msearch of 32 match bodies, each checked against the oracle."""
        def fn():
            engine = self._engine(ctx)
            with ctx.tracer.span("query.batch.msearch"):
                rows = engine.msearch(self.msearch_bodies, k=K).collect()

            def check():
                by_q = defaultdict(list)
                for r in rows:
                    by_q[int(r["query_id"])].append(r)
                for qid, body in enumerate(self.msearch_bodies):
                    err = check_ranked(hits(by_q.get(qid, [])), *self.oracle.topk(
                        weights_of(body["match"]["text"]["query"]), K))
                    if err:
                        return f"query {qid}: {err}"
                return None
            return check
        ctx.run("msearch", fn, phase)

    # -- writes --
    def delete(self, ctx: Ctx, ids: list[int], phase: str) -> None:
        def fn():
            with ctx.tracer.span("index.store.delete_docs"):
                n = self.store.delete_docs(ids)
            return lambda: None if n == len(ids) else f"deleted {n}, expected {len(ids)}"
        ctx.run("delete", fn, phase)
        self.gone |= set(ids)

    def compact(self, ctx: Ctx, phase: str) -> None:
        """compact(); then meta.json's N and avgdl must match the live docs."""
        _, live = self._live()

        def fn():
            with ctx.tracer.span("index.store.compact"):
                self.store.compact()

            def check():
                with open(os.path.join(self.idx, "meta.json")) as f:
                    meta = json.load(f)
                avgdl = sum(live) / len(live)
                if meta["N"] != len(live) or abs(meta["avgdl"] - avgdl) > 1e-9 * avgdl:
                    return (f"meta N={meta['N']} avgdl={meta['avgdl']}, "
                            f"live docs give {len(live)}, {avgdl}")
                return None
            return check
        ctx.run("compact", fn, phase)
        # compact rewrote postings, stats and docs
        self.removed, self.gone = self.gone, set()
        self.oracle = Oracle(self.idx)
        self.engine = None

    def append(self, ctx: Ctx, corpus_seed: int, phase: str) -> None:
        """StreamingIndexer.process_batch of a seeded micro-batch into a
        streaming index beside the store."""
        from neural_search_spark.streaming.ingest import StreamingIndexer

        batch_id = self.batches
        self.batches += 1
        batch = gen.corpus(ctx.spark, self.APPEND_TURNS, corpus_seed, ctx.slots)

        def fn():
            with ctx.tracer.span("streaming.ingest.process_batch"):
                StreamingIndexer(ctx.spark, self.sdir).process_batch(batch, batch_id)

            def check():
                run = os.path.join(self.sdir, "runs", f"batch={batch_id}", "docs")
                n = ds.dataset(run, format="parquet").count_rows()
                return None if n == self.APPEND_TURNS else f"{n} docs appended"
            return check
        ctx.run("append", fn, phase)

    def extra_metrics(self) -> dict[str, float]:
        """Router and pruning metrics of the probed queries. A query agrees
        when auto's wall is at most 1.2x that of the path it did not pick:
        relational, or the pruned segment kernel (the segment path IndexStore
        takes above 512 blocks)."""
        out = {"index.segments.bytes_per_posting": self.segment_bytes_per_posting}
        if self.router:
            out["index.store.router_segments_share"] = (
                self.router.count("segments") / len(self.router))
        probed = [p for p in self.probes if p["router"]]
        if probed:
            out["index.store.router_agreement"] = sum(
                p["auto"] <= 1.2 * p["relational" if p["router"] == "segments" else "wand"]
                for p in probed) / len(probed)
        total = sum(p["blocks_total"] for p in self.probes)
        if total:
            out["query.segment_search.blocks_decoded_share"] = sum(
                p["blocks_surviving"] for p in self.probes) / total
        return out

    def blocks(self, ctx: Ctx):
        """Whole blocks (a pass or a cycle), so every run measures whole ones."""
        b = 0
        while True:
            yield lambda b=b: self.block(ctx, b)
            b += 1


class Interactive(Workload):
    name = "interactive"
    #: one pass of the timed loop, the same in every pass: topk+fetch of
    #: queries 0-2 (a head+mid pair, a mid triple, a rare single; ingest
    #: times query 3, the head+mid+rare triple) between the DSL bodies and
    #: the msearch
    PATTERN = (("topk", 0), ("bool", None), ("topk", 1), ("hybrid", None), ("topk", 2),
               ("msearch", None))
    #: the warm-up's topk query: a head+mid pair, like query 0
    WARMUP_QUERY = 4
    #: the query a traced run probes: the head+mid pair, whose blocks the
    #: pruned kernel can skip
    PROBED = 0

    def setup(self, ctx: Ctx) -> None:
        super().setup(ctx)
        with ctx.tracer.span("index.store.plan_cache"):
            self.store.plan_cache()
        self._engine(ctx)

    def warmup(self, ctx: Ctx) -> None:
        """topk, bool and hybrid once, the same work in every run with this
        seed; the bool and hybrid answers here are the reference for their
        timed repeats. msearch is left out to keep the run short: it scores
        through the same relational leaf path that bool and hybrid warm, and
        its first call after them measured as fast as its second."""
        self.topk(ctx, "topk", self.queries[self.WARMUP_QUERY], "warmup")
        for kind in ("bool", "hybrid"):
            self.search(ctx, kind, "warmup")

    def block(self, ctx: Ctx, p: int) -> None:
        # in its first pass, a traced run probes the other paths of one
        # query and measures the tracing overhead on an untraced twin of
        # the second topk
        first = ctx.tracer.enabled and p == 0
        for kind, qi in self.PATTERN:
            if kind == "topk":
                self.topk(ctx, "topk", self.queries[qi], "timed", twin=first and qi == 1,
                          probes=first and qi == self.PROBED)
            elif kind == "msearch":
                self.msearch(ctx, "timed")
            else:
                self.search(ctx, kind, "timed")

    def probe_layers(self, ctx: Ctx) -> None:
        """Traced runs only: a DSL match (the relational leaf path that bool
        and hybrid time) and the write layers, once, after the timed passes."""
        self.search(ctx, "match", "probe")
        ids, _ = self._live()
        self.delete(ctx, gen.delete_ids(ctx.seed, 0, ids, self.DELETES), "probe")
        self.compact(ctx, "probe")
        self.append(ctx, ctx.seed * 100 + 99, "probe")


class Ingest(Workload):
    name = "ingest"
    #: the query of every cycle: head+mid+rare
    QUERY = 3

    def warmup(self, ctx: Ctx) -> None:
        """None: a warm-up cycle would add about a quarter to each run, which
        the benchmark's run budget could not carry. The first cycle of a session
        was measured 24-36% slower per op than the second; that cost is the
        same work in every run, and an ingest run times one cycle."""

    def block(self, ctx: Ctx, c: int) -> None:
        """One cycle: delete, query over the tombstones, compact, first
        query after it (cold plan cache). Every cycle deletes other docs and
        asks the same query."""
        terms = self.queries[self.QUERY]
        ids, _ = self._live()
        self.delete(ctx, gen.delete_ids(ctx.seed, c, ids, self.DELETES), "timed")
        self.topk(ctx, "topk_deleted", terms, "timed")
        self.compact(ctx, "timed")
        self.topk(ctx, "topk_compacted", terms, "timed", cold=True)
        if ctx.tracer.enabled:
            # the tracing overhead, on a warm repeat of the query: the timed
            # queries each run first in their index state and cannot repeat
            self.topk(ctx, "probe_warm", terms, "probe", twin=True)

    def probe_layers(self, ctx: Ctx) -> None:
        """Traced runs only: the read layers and a micro-batch append, once,
        after the timed cycles."""
        self.topk(ctx, "probe_topk", self.queries[0], "probe", probes=True)
        for kind in ("match", "bool", "hybrid"):
            self.search(ctx, kind, "probe")
        self.msearch(ctx, "probe")
        self.append(ctx, ctx.seed * 100 + 50, "probe")


WORKLOADS = {w.name: w for w in (Interactive, Ingest)}
