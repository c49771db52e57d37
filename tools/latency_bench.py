"""Query-latency percentiles at two parallelism levels (BASELINE.md §4.4).

Builds the synthetic transcripts index ONCE (a subprocess at local[32]
writes it to tmpfs), then measures per-query latency for a fixed
mixed-selectivity query set at local[N] and local[4N], INTERLEAVED
(N, 4N, N, 4N, …) so host drift hits both levels equally — the same
protocol as tools/scaling_bench.py. Each level runs BOTH physical paths
per query:

  relational : one postings scan + join-agg top-k (bm25_topk)
  segments   : compressed block segments + block-max WAND/MAXSCORE pruning

and asserts rank identity between them per query. Reports per-path
p50/p95 latency and q/s (sequential, 1 in-flight query — the per-query
latency number; batch throughput is perfbench's msearch op).

Usage: python tools/latency_bench.py [--turns 2000000] [--n 8] [--nq 24]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys


def make_queries(nq: int, vocab_size: int) -> dict[int, list[str]]:
    """Deterministic mixed-selectivity query set over the Zipf vocabulary
    (w1 is the most frequent term): head+mid pairs, mid triples, rare
    singletons, head+mid+rare triples — the mix perfbench/gen.py
    make_queries draws from a seed, as term lists."""
    V = vocab_size
    qdefs: dict[int, list[str]] = {}
    for i in range(nq):
        if i % 4 == 0:
            qdefs[i] = [f"w{1 + i % 7}", f"w{V // 200 + i}"]
        elif i % 4 == 1:
            qdefs[i] = [f"w{V // 100 + i}", f"w{V // 50 + i}", f"w{V // 20 + i}"]
        elif i % 4 == 2:
            qdefs[i] = [f"w{V // 10 + i}"]
        else:
            qdefs[i] = [f"w{2 + i % 11}", f"w{V // 500 + i}", f"w{V // 25 + i}"]
    return qdefs


BUILD_CHILD = r"""
import os, sys
sys.path.insert(0, {repo!r})
idx, turns, cpus = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
vocab = int(sys.argv[4])
from neural_search_spark.session import get_spark
from neural_search_spark.data import synthesize_transcripts
from neural_search_spark.index.store import build_index
spark = get_spark("latency-build", master="local[%d]" % cpus, shuffle_partitions=cpus)
tr = synthesize_transcripts(spark, n_convs=turns // 10, turns_per_conv=10,
                            partitions=cpus, tokens_per_turn=48, min_tokens=6,
                            burstiness=0.15, vocab_size=vocab)
build_index(spark, tr, idx, source_fingerprint="latency-bench", resume=False)
print("BUILD_OK")
"""

QUERY_CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
cpus, idx, nq, trials, vocab = (int(sys.argv[1]), sys.argv[2], int(sys.argv[3]),
                                int(sys.argv[4]), int(sys.argv[5]))
import importlib.util
spec = importlib.util.spec_from_file_location(
    "latency_bench", {repo!r} + "/tools/latency_bench.py")
mod = importlib.util.module_from_spec(spec); spec.loader.exec_module(mod)
qdefs = mod.make_queries(nq, vocab)

from neural_search_spark.session import get_spark
from neural_search_spark.index.store import IndexStore
spark = get_spark("latency-q", master="local[%d]" % cpus, shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
store = IndexStore(spark, idx)

store.plan_cache()  # session per-term block counts: warm queries skip the df aggregate

PATHS = ("relational", "segments", "auto")
router_pick = {{}}
def run(terms, path, qid=None):
    so = {{}}
    t0 = time.time()
    rows = store.topk(terms, k=10, strategy=path, stats_out=so).collect()
    w = time.time() - t0
    if path == "auto" and qid is not None and "router" in so:
        router_pick[qid] = so["router"]["strategy"]
    return w, [(r["docID"], round(r["score"], 6)) for r in rows]

# full warm pass (JVM JIT, python workers, page cache), rank identity checked
# (docIDs + scores at 6dp; the pytest suite pins the two paths at 1e-9)
for qid, terms in qdefs.items():
    got = {{p: run(terms, p, qid)[1] for p in PATHS}}
    assert got["relational"] == got["segments"] == got["auto"], (qid, terms)

walls = {{p: {{qid: [] for qid in qdefs}} for p in PATHS}}
for _ in range(trials):
    for qid, terms in qdefs.items():
        for p in PATHS:
            w, _rows = run(terms, p, qid)
            walls[p][qid].append(round(w, 4))
print(json.dumps({{"cpus": cpus, "walls": {{p: {{str(q): v for q, v in d.items()}}
                 for p, d in walls.items()}},
                 "router_pick": {{str(q): s for q, s in router_pick.items()}}}}))
"""


def pctl(vals: list[float], q: float) -> float:
    s = sorted(vals)
    i = max(0, min(len(s) - 1, int(round(q * (len(s) - 1)))))
    return s[i]


def run_child(script: str, argv: list[str], cpus: int, repo: str, timeout: int = 3600) -> str:
    env = dict(os.environ)
    env.update({
        "MALLOC_TRIM_THRESHOLD_": "-1",
        "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
        "SPARK_GRAFT_LOCAL_DIR": "/dev/shm/spark-local",
    })
    pin = ["taskset", "-c", f"0-{cpus - 1}"]
    out = subprocess.run(
        pin + [sys.executable, "-c", script.format(repo=repo)] + argv,
        capture_output=True, text=True, timeout=timeout, env=env,
    )
    if out.returncode != 0:
        print(out.stderr[-4000:], file=sys.stderr)
        raise RuntimeError(f"child failed (cpus={cpus})")
    return out.stdout.strip().splitlines()[-1]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=2_000_000)
    ap.add_argument("--n", type=int, default=8, help="small level N (big = 4N)")
    ap.add_argument("--nq", type=int, default=24)
    ap.add_argument("--rounds", type=int, default=2, help="interleaved child rounds per level")
    ap.add_argument("--trials", type=int, default=1, help="timed reps per query inside a child")
    ap.add_argument("--vocab-size", type=int, default=100_000)
    args = ap.parse_args()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    idx = "/dev/shm/latency_bench/idx"

    if not os.path.exists(os.path.join(idx, "meta.json")):
        print(f"building {args.turns}-turn index at {idx} ...", file=sys.stderr)
        run_child(BUILD_CHILD, [idx, str(args.turns), "32", str(args.vocab_size)], 32, repo)
    else:
        print(f"reusing index at {idx}", file=sys.stderr)

    levels = (args.n, args.n * 4)
    paths = ("relational", "segments", "auto")
    # per (level, path, qid): min wall across rounds×trials
    acc: dict[int, dict[str, dict[int, list[float]]]] = {
        lv: {p: {} for p in paths} for lv in levels
    }
    router_pick: dict[int, str] = {}
    for rnd in range(args.rounds):
        for lv in levels:
            rep = json.loads(run_child(
                QUERY_CHILD, [str(lv), idx, str(args.nq), str(args.trials), str(args.vocab_size)],
                lv, repo,
            ))
            for path, d in rep["walls"].items():
                for qid, ws in d.items():
                    acc[lv][path].setdefault(int(qid), []).extend(ws)
            for qid, s in rep.get("router_pick", {}).items():
                router_pick[int(qid)] = s
            print(f"round {rnd} local[{lv}] done", file=sys.stderr)

    report: dict = {"turns": args.turns, "n_queries": args.nq,
                    "rounds": args.rounds, "trials_per_round": args.trials}
    for lv in levels:
        for path in paths:
            mins = [min(ws) for _, ws in sorted(acc[lv][path].items())]
            report[f"local[{lv}]_{path}"] = {
                "p50_sec": round(pctl(mins, 0.50), 3),
                "p95_sec": round(pctl(mins, 0.95), 3),
                "mean_sec": round(sum(mins) / len(mins), 3),
                "qps_sequential": round(len(mins) / sum(mins), 2),
                "per_query_min": [round(w, 3) for w in mins],
            }
        # router quality at this level: did auto pick the measured winner?
        agree = 0
        for qid in sorted(acc[lv]["relational"]):
            wr = min(acc[lv]["relational"][qid])
            ws = min(acc[lv]["segments"][qid])
            winner = "relational" if wr < ws else "segments"
            picked = router_pick.get(qid)
            # a pick within 20% of the winner's wall counts as correct —
            # sub-floor-noise differences are not routable information
            wall = {"relational": wr, "segments": ws}
            if picked and wall.get(picked, 1e9) <= 1.2 * min(wr, ws):
                agree += 1
        report[f"local[{lv}]_router_agreement"] = round(
            agree / max(1, len(acc[lv]["relational"])), 3
        )
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
