"""SparkSession factory tuned for the local[32] sandbox.

At cluster scale the same settings apply except master/memory come from
spark-submit; AQE handles runtime skew/coalesce re-planning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _default_driver_mem() -> str:
    """48g, capped at 60% of physical memory (never below the -Xms4g floor).
    G1 grows the heap toward its max before collecting hard, so a max
    above physical memory lets a long session's JVM outgrow the host: the
    pytest JVM on a 16 GB host reached 15 GB RSS and was OOM-killed."""
    try:
        total_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 20
    except (AttributeError, OSError, ValueError):
        return "48g"
    return f"{max(4096, min(48 * 1024, int(total_mb * 0.6)))}m"


def get_spark(
    app_name: str = "neural_search_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # pyarrow's bundled jemalloc memory pool collapses under many concurrent
    # Python workers on this kernel (madvise/huge-page churn: a 32-worker
    # stage ran 232s wall / 3400s kernel-time with jemalloc vs 23s / 500s
    # with the system allocator). Must be in the env BEFORE the JVM starts
    # so forked pyspark workers inherit it.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    # glibc page retention in the python workers: first-touch page faults
    # are catastrophically slow on this virtualized host (4GB of fresh
    # anon memory measured at 59s to fault across 8 procs cold; ~1s once
    # host-backed) and 32 workers faulting concurrently collapse into
    # kernel zone-lock/memcg contention. Disabling arena trimming and
    # raising the mmap threshold makes each long-lived worker fault its
    # working set ONCE and keep the pages — the same behavior long-lived
    # cluster executors exhibit naturally.
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    split_mb = int(os.environ.get("SPARK_GRAFT_SPLIT_MB", "4"))
    if shuffle_partitions is None:
        # match core count in local mode; a real cluster would size this to
        # 2-3x total executor cores (or rely on AQE coalescing).
        inner = master.split("[")[-1].rstrip("]")
        shuffle_partitions = 32 if inner in ("*", "") else max(8, int(inner))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # force the sort-based shuffle writer: the bypass-merge writer opens
        # maps×reducers files per shuffle (4096 at 64×64), which at high
        # local parallelism turns into a kernel-time storm (measured 34% sys
        # → 4%); on a real cluster with wide shuffles sort-based is the norm
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.shuffle.file.buffer", "1m")
        # v2 output commit: per-task rename into place instead of a serial
        # driver-side move of every file at job commit — stage-commit time
        # was measured as part of the constant serial latency limiting
        # small-input scaling efficiency
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # bigger Arrow batches: fewer pandas frames + concat boundaries in
        # the vectorized encode/decode UDFs
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Spark 4's default maxBytesPerBatch (64MB) makes the JVM→Python
        # Arrow writer call ArrowWriter.sizeInBytes() — a recursive
        # struct-vector buffer walk that allocates iterators — for EVERY
        # input row (BatchedPythonArrowInput.writeSizedBatch only skips the
        # check when the limit is exactly Int.MaxValue). jstack-sampling the
        # segment encode showed ~40% of RUNNABLE JVM samples inside that
        # walk. Batch size stays bounded by maxRecordsPerBatch (65536 rows
        # of fixed-width posting columns ≈ 2.4MB), so the byte limit adds
        # nothing here — disable it by pinning the sentinel value.
        # ASSUMPTION (session-global): every Arrow/pandas UDF hot path in
        # this engine moves fixed-width or short-string batches; with the
        # sentinel, a UDF carrying full document text is bounded only by
        # row count (65536 rows × ~1KB docs ≈ 64MB/batch — fine; 65536 ×
        # 1MB docs would not be). For sessions feeding very wide
        # variable-width columns through Python, restore a byte cap via
        # SPARK_GRAFT_ARROW_MAXBYTES_MB (re-enables the per-row size walk
        # for THAT session only).
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(int(os.environ["SPARK_GRAFT_ARROW_MAXBYTES_MB"]) * 1024 * 1024)
            if os.environ.get("SPARK_GRAFT_ARROW_MAXBYTES_MB")
            else str((1 << 31) - 1),
        )
        # Finer splits/partitions for CPU-dense stages. Tokenize +
        # tf-counting over a parquet checkpoint costs ~10-100× the per-byte
        # CPU of a plain scan, so byte-sized defaults tuned for thin scans
        # (128MB splits, 64MB AQE advisory, 128MB row groups) starve the
        # cores: measured on a 32-core build, AQE coalesced the docs
        # checkpoint to TWO files, each one row group — the unit below
        # which maxPartitionBytes cannot split — and jstack showed all but
        # 2 executor threads parked in getTask while 2 did every tokenize.
        # 4MB splits / advisory / row groups keep every stage of a small
        # run as wide as the core count; at 100 TB every stage has
        # thousands of splits regardless and the only cost is slightly
        # smaller row groups in intermediate checkpoints (the final segment
        # store is dir-partitioned + sorted, unaffected). Override via
        # SPARK_GRAFT_SPLIT_MB for pure-scan workloads.
        .config("spark.sql.files.maxPartitionBytes", str(split_mb * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(split_mb * 1024 * 1024))
        .config("spark.hadoop.parquet.block.size", str(split_mb * 1024 * 1024))
    )
    # THP for the JVM heap (madvise mode is enabled on this kernel): 2MB
    # pages cut heap-growth fault counts 512×; combined with an -Xms floor
    # the heap is host-backed early instead of fault-expanding mid-job.
    # SPARK_GRAFT_JAVA_OPTS appends/overrides (e.g. -Xms16g
    # -XX:+AlwaysPreTouch for benchmarks that pre-fault the full heap).
    java_opts = "-XX:+UseTransparentHugePages -Xms4g"
    extra_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
    if extra_opts:
        java_opts = f"{java_opts} {extra_opts}"
    builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small frame built in Python on the query path (query terms,
    N/avgdl, top-k hits, an id list) as an Arrow-backed local relation.
    `schema` is a DDL string.

    `spark.createDataFrame(list)` is an RDD of pickled rows: a one-row
    `.first()` on it fires 2 Spark jobs, and a broadcast of it ships it
    through the executors. An Arrow table below the local-relation
    threshold plans as a LocalTableScan that Spark reads in-process —
    `.first()` fires no job — with the column types fixed by `schema`,
    not inferred."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=struct)
