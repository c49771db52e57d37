"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload interactive|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. The run starts one Spark session
(local[n], n = min(4, nproc)), builds its inputs from the seed, runs the
workload's fixed warm-up, then runs its closed loop for at least `--seconds`,
in whole passes (interactive) or cycles (ingest), each the same ops on the
same queries, checking every answer. A traced run then calls the other
workload's op kinds once, so that every layer is measured.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics (metrics.END_TO_END), with --trace 1 the
per-layer metrics (metrics.PER_LAYER) of a traced run. The line before it
is the run record (seed, contention, versions, sample counts), and the
record plus the spans are also written to .perfbench_out/ in the checkout.
Scratch data lives in .perfbench_work/ and is removed at exit.
"""

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_SLOTS = 4


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("interactive", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(workdir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `workdir`;
    must run before pyspark starts the JVM."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(workdir, "spark-local")
    # heap max = the engine's fixed -Xms4g floor, so the heap never grows
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def jvm_gc_s(spark) -> float:
    """Garbage-collection seconds of the Spark JVM so far (driver and, in
    local mode, executors)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def stop_spark(spark, tree: list[int]) -> None:
    """Stop the session and the JVM, then wait until every process of the
    run's tree (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    others = [p for p in tree if p != os.getpid()]

    def alive() -> list[int]:
        return [p for p in others if os.path.exists(f"/proc/{p}")]

    deadline = time.time() + 30
    while alive() and time.time() < deadline:
        time.sleep(0.2)
    for pid in alive():
        os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "neural_search_spark")):
        print("perfbench: the engine package neural_search_spark is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    outdir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(outdir, exist_ok=True)
    prepare_env(workdir)
    try:
        return run(args, workdir, outdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def run(args, workdir: str, outdir: str) -> int:
    import pyspark

    from neural_search_spark.session import get_spark
    from perfbench import hostinfo, metrics
    from perfbench.tracing import Tracer, attribute_spark_work
    from perfbench.workloads import WORKLOADS, Ctx

    nproc = os.cpu_count() or 1
    slots = min(MAX_SLOTS, nproc)
    t_session = time.time()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{slots}]",
                      shuffle_partitions=slots, extra_conf={
                          "spark.ui.showConsoleProgress": "false",
                          "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
                      })
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - t_session
    tree = hostinfo.process_tree()
    try:
        tracer = Tracer(enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, args.seed, workdir, slots)
        wl = WORKLOADS[args.workload]()
        wl.setup(ctx)
        t_warm = time.time()
        wl.warmup(ctx)
        warmup_s = time.time() - t_warm
        setup_s = time.time() - T0

        window = hostinfo.Window()
        gc0_s = jvm_gc_s(spark)
        t_start = time.perf_counter()
        for block in wl.blocks(ctx):
            block()
            if time.perf_counter() - t_start >= args.seconds:
                break
        timed_s = time.perf_counter() - t_start
        contention = window.close()
        tree = hostinfo.process_tree()

        if args.trace:
            gc_s = jvm_gc_s(spark) - gc0_s
            wl.probe_layers(ctx)
            attribute_spark_work(spark, tracer)
            extra = wl.extra_metrics()
            extra["spark.gc_s"] = gc_s / max(1, len(ctx.timed_ops))
            if ctx.trace_overhead:
                extra["bench.trace_overhead_s"] = sorted(ctx.trace_overhead)[
                    len(ctx.trace_overhead) // 2]
            values = metrics.per_layer(tracer, ctx.timed_ops, ctx.warmup_ops, slots, extra)
            units = {n: u for n, u, _, _ in metrics.PER_LAYER}
        else:
            values = metrics.end_to_end(ctx.samples, setup_s, wl.bytes_per_posting,
                                        hostinfo.vm_hwm_mb(tree))
            units = {n: u for n, u, _, _, _ in metrics.END_TO_END}
        java = spark._jvm.java.lang.System.getProperty("java.version")
    finally:
        stop_spark(spark, tree)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "slots": slots,
        "pyspark": pyspark.__version__, "java": java,
        "session_start_s": session_s, "warmup_s": warmup_s, "setup_s": setup_s,
        "timed_s": timed_s, "contention": contention,
        "samples": ctx.samples, "failures": ctx.failures,
        "attempted": ctx.attempted, "failed": len(ctx.failures),
        "error_rate": len(ctx.failures) / max(1, ctx.attempted),
        "metrics": values,
    }
    stem = os.path.join(outdir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(stem + ".spans.json", "w") as f:
            json.dump([s.to_json() for s in tracer.spans], f)
    print(json.dumps({k: record[k] for k in (
        "workload", "seed", "trace", "nproc", "slots", "pyspark", "java", "session_start_s",
        "warmup_s", "timed_s", "contention", "error_rate")}))
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
