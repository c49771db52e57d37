"""Metric definitions and their computation from a run's samples and spans.

End-to-end metrics are measured with tracing off and are emitted by every
workload. Per-layer metrics come from a traced run only; each names the
end-to-end metric and workload it should move (`moves`), so that a change
claiming a gain on one layer can cite where the gain should appear.
"""

from __future__ import annotations

import re
import statistics

from perfbench.tracing import LAYERS, Span, Tracer, covered

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

#: (name, unit, better, bound, definition)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25,
     "wall from process start to the first timed op: Spark session start, index "
     "build, store open, plan cache and the fixed warm-up"),
    ("query_mean_s", "s", "lower", 0.24,
     "mean wall of the timed read calls (IndexStore.topk+fetch, QueryEngine.search; "
     "msearch excluded); a pass has 5 of them, of 5 kinds, too few for a stable median"),
    ("ops_per_s", "1/s", "higher", 0.24,
     "timed ops completed per second of op wall (closed loop, one client; answer "
     "checks between ops excluded)"),
    ("index_bytes_per_posting", "B", "lower", 0.05,
     "on-disk bytes of every index stage right after build_index, per posting"),
    ("peak_rss_mb", "MB", "lower", 0.1,
     "sum of VmHWM over the client, the Spark JVM and its Python workers"),
]

_COUNTERS = ("jobs", "tasks", "task_run_s", "task_cpu_s", "input_rows",
             "shuffle_read_bytes", "shuffle_write_bytes", "python_bytes")
_UNITS = {"jobs": "count", "tasks": "count", "input_rows": "count", "task_run_s": "s",
          "task_cpu_s": "s", "shuffle_read_bytes": "B",
          "shuffle_write_bytes": "B", "python_bytes": "B"}


def _call(span: str, counters: tuple[str, ...], moves: str) -> list[tuple]:
    """`<span>_s` (median wall per call) plus `<span>.<counter>` per call."""
    out = [(f"{span}_s", "s", "lower", moves)]
    out += [(f"{span}.{c}", _UNITS[c], "lower", moves) for c in counters]
    return out


_BUILD = "setup_s on both"
#: (name, unit, better, moves)
PER_LAYER = (
    _call("data.assign_doc_ids", ("jobs", "shuffle_write_bytes"), _BUILD)
    + _call("index.build.postings",
            ("jobs", "task_cpu_s", "input_rows", "shuffle_write_bytes"), _BUILD)
    + _call("index.build.doclens",
            ("jobs", "task_cpu_s", "input_rows", "shuffle_write_bytes"), _BUILD)
    + _call("index.build.term_stats",
            ("jobs", "task_cpu_s", "input_rows", "shuffle_write_bytes"), _BUILD)
    + _call("index.segments.encode_write", ("jobs", "task_run_s", "python_bytes"),
            "setup_s and index_bytes_per_posting on both")
    + [("index.segments.bytes_per_posting", "B", "lower",
        "index_bytes_per_posting on both workloads")]
    + _call("index.store.build_index", ("jobs",), "setup_s on both")
    + _call("index.store.open", (), "setup_s on both")
    + _call("index.store.plan_cache", ("jobs",),
            "query_mean_s on ingest (first query after compact); setup_s on interactive")
    + _call("index.store.topk", ("jobs", "task_cpu_s"),
            "query_mean_s on both (topk with strategy='auto' and its fetch, one span: "
            "topk is lazy, its scoring runs in the fetch's collect)")
    + [("index.store.router_segments_share", "ratio", "higher",
        "query_mean_s on interactive (1.0 at this index size: every query takes the "
        "segment early exit)"),
       ("index.store.router_agreement", "ratio", "higher",
        "query_mean_s on interactive: share of probed queries whose auto wall is at "
        "most 1.2x the forced wall of the path the router did not pick")]
    + _call("index.store.delete_docs", ("jobs",), "ops_per_s on ingest")
    + _call("index.store.compact", ("jobs", "task_cpu_s"), "ops_per_s on ingest")
    + _call("query.segment_search.wand_topk",
            ("jobs", "tasks", "task_run_s", "task_cpu_s", "input_rows", "python_bytes"),
            "query_mean_s on interactive once queries exceed the router's 512-block "
            "early exit: a traced-only probe of the pruned kernel (theta seed, MAXSCORE, "
            "zones) plus fetch")
    + [("query.segment_search.blocks_decoded_share", "ratio", "lower",
        "as wand_topk: blocks the pruned kernel decodes / blocks of the query terms")]
    + _call("query.bm25.bm25_topk", ("jobs", "input_rows", "shuffle_read_bytes"),
            "query_mean_s on ingest (deleted-doc queries route here)")
    + _call("query.dsl.search.match", ("jobs", "task_cpu_s"),
            "query_mean_s on interactive (the leaf path of bool and hybrid)")
    + _call("query.dsl.search.bool", ("jobs", "task_cpu_s"), "query_mean_s on interactive")
    + _call("query.dsl.search.hybrid", ("jobs", "task_cpu_s"), "query_mean_s on interactive")
    + _call("query.batch.msearch", ("jobs", "input_rows", "shuffle_read_bytes"),
            "ops_per_s on interactive")
    + _call("streaming.ingest.process_batch", ("jobs", "task_cpu_s"),
            "no end-to-end metric: a traced-only probe (see workloads.py)")
    + [("spark.jobs_per_op", "count", "lower", "every latency metric"),
       ("spark.tasks_per_op", "count", "lower", "every latency metric"),
       ("spark.task_run_share", "ratio", "higher",
        "every latency metric: low means driver planning and scheduling, not tasks"),
       ("spark.gc_s", "s", "lower",
        "every latency metric: JVM garbage-collection seconds per timed op")]
    + [(f"{ly}.self_s", "s", "lower",
        "the metrics of the ops that call it: the layer's self time summed over the run")
       for ly in LAYERS if ly != "op"]
    + [("bench.span_coverage", "ratio", "higher", "none: share of op wall inside layer spans"),
       ("bench.overhead_s", "s", "lower", "none: op wall outside layer spans, per op"),
       ("bench.trace_overhead_s", "s", "lower",
        "none: traced minus untraced wall of the same repeatable read op")]
)


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(samples: list[dict], setup_s: float, bytes_per_posting: float,
               rss_mb: float) -> dict[str, float]:
    """`samples`: the timed ops, each {"kind", "wall", "read"}."""
    reads = [s["wall"] for s in samples if s["read"]]
    busy = sum(s["wall"] for s in samples)
    return {
        "setup_s": setup_s,
        "query_mean_s": sum(reads) / len(reads) if reads else 0.0,
        "ops_per_s": len(samples) / busy if busy else 0.0,
        "index_bytes_per_posting": bytes_per_posting,
        "peak_rss_mb": rss_mb,
    }


def per_layer(tracer: Tracer, timed_ops: set[int], warmup_ops: set[int], slots: int,
              extra: dict[str, float]) -> dict[str, float]:
    """Every PER_LAYER metric (0 where the workload does not reach the layer).

    Per-call metrics are medians, and self times sums, over every call
    outside the warm-up (set-up, timed and probe calls); per-op metrics are
    over the timed ops. `extra` carries the metrics computed elsewhere
    (router, blocks, bytes, GC, tracing overhead)."""
    spans = [s for s in tracer.spans if s.op not in warmup_ops]
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    roots = [s for s in spans if s.op in timed_ops and s.parent is None]
    op_spans: dict[int, list[Span]] = {}
    for s in spans:
        if s.op in timed_ops:
            op_spans.setdefault(s.op, []).append(s)

    out: dict[str, float] = {}
    for name, _unit, _better, _moves in PER_LAYER:
        if name in extra:
            out[name] = float(extra[name])
        elif name.endswith("_s") and name[:-2] in by_name:
            out[name] = _median(s.wall for s in by_name[name[:-2]])
        elif "." in name and name.rsplit(".", 1)[0] in by_name \
                and name.rsplit(".", 1)[1] in _COUNTERS:
            call, counter = name.rsplit(".", 1)
            out[name] = _median(s.counters.get(counter, 0.0) for s in by_name[call])
        else:
            out[name] = 0.0
    for ly in LAYERS:
        if ly != "op":
            out[f"{ly}.self_s"] = sum(tracer.self_time(s) for s in spans if s.layer == ly)

    def op_total(op: int, counter: str) -> float:
        return sum(s.counters.get(counter, 0.0) for s in op_spans.get(op, []))

    out["spark.jobs_per_op"] = _median(op_total(r.op, "jobs") for r in roots)
    out["spark.tasks_per_op"] = _median(op_total(r.op, "tasks") for r in roots)
    wall_slots = sum(r.wall for r in roots) * slots
    out["spark.task_run_share"] = (
        sum(op_total(r.op, "task_run_s") for r in roots) / wall_slots if wall_slots else 0.0
    )
    cov = [covered(r, tracer.children(r)) for r in roots]
    out["bench.span_coverage"] = (
        min(c / r.wall for c, r in zip(cov, roots)) if roots else 0.0
    )
    out["bench.overhead_s"] = _median(r.wall - c for c, r in zip(cov, roots))
    return out
