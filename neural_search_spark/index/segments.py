"""Posting segments: salted build, block-max metadata, merge.

Output table (one row per posting block; parquet, directory-partitioned by
`shard` for query-time file pruning):

    shard: int            pmod(xxhash64(term), n_shards) — partition column
    term: string
    salt: int             range-salt bucket (see below), 0 for tail terms
    blockID: int          ordinal within (term, salt)
    first_docID: long     min docID in block   (block-level zone map)
    last_docID: long      max docID in block
    n: int                postings in block (≤ block_size)
    max_score_component: double
                          max over block of tf/(tf + k1·(1-b+b·dl/avgdl)),
                          computed by the scorer's own expression
                          (query.bm25.bm25_score_col), so it is an exact
                          per-block BM25 upper-bound factor; query UB
                          = w_q·idf(t)·max_score_component (block-max WAND,
                          the set-at-a-time analog of the reference's
                          HybridScoreBlockBoundaryPropagator.java:39-98)
    docids: array<long>   ascending docIDs of the block
    tfs: array<int>       term frequencies, aligned with docids
    dls: array<int>       doc lengths, aligned with docids — carried IN the
                          segment so query-time scoring needs no doclens
                          shuffle join

The arrays are Spark's own columnar layout, built and read only by Spark
expressions (collect_list at build, inline(arrays_zip(...)) at query and
merge time), so no posting crosses into Python. write_segments stores them
with parquet's v2 writer and no dictionary, which delta-encodes the sorted
docID lists (DELTA_BINARY_PACKED), and compresses the pages with zstd, like
every other index file (write_stage).

Skew handling (the reference shards by document and never partitions by term
— term skew is specific to our term-major layout): head terms whose df
exceeds `postings_per_salt` are split into `s_t = ceil(df/postings_per_salt)`
*contiguous docID ranges* (salt = docID div ceil((maxDoc+1)/s_t)).  Range
salting (vs hash salting) keeps each salted sub-list sorted AND globally
ordered across salts, so the hierarchical merge of salted sub-segments is
pure concatenation — no k-way interleave.  Tail terms (the vast majority)
get salt 0 and hash-partition by term alone.

Physical build: a row_number over (term, salt) ordered by docID assigns
each posting its block, then one groupBy(term, salt, blockID) aggregates the
block row. The window's (term, salt) exchange also serves the groupBy, so
the build is one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from neural_search_spark.query.bm25 import bm25_score_col

#: recorded in manifests and meta.json; a resumed build rebuilds every stage
#: written under another version
CODEC_VERSION = "arrays-v1"

BLOCK_SIZE = 128
POSTINGS_PER_SALT = 250_000
N_SHARDS = 32


def shard_col(term_col) -> F.Column:
    return F.pmod(F.xxhash64(term_col), F.lit(N_SHARDS)).cast("int")


# -- driver-side shard computation (no Spark job) ---------------------------
# Pure-Python XXH64 (public reference algorithm, seed 42 = Spark's
# xxhash64 default) so query planning can turn a term list into a shard
# IN-list without launching a tiny Spark job per query. Parity with
# F.xxhash64 is pinned by tests/test_segments.py.

_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxhash64_py(data: bytes, seed: int = 42) -> int:
    """XXH64(data, seed) as a SIGNED 64-bit int, matching F.xxhash64 on a
    string's UTF-8 bytes."""
    n, i = len(data), 0
    if n >= 32:
        v1, v2 = (seed + _P1 + _P2) & _M64, (seed + _P2) & _M64
        v3, v4 = seed & _M64, (seed - _P1) & _M64
        while i <= n - 32:
            for j, v in enumerate((v1, v2, v3, v4)):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v = (_rotl((v + lane * _P2) & _M64, 31) * _P1) & _M64
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((_rotl((v * _P2) & _M64, 31) * _P1) & _M64)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl((k * _P2) & _M64, 31) * _P1) & _M64
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def shard_of(term: str) -> int:
    """Driver-side mirror of shard_col (python % matches Spark pmod for
    negative hashes)."""
    return xxhash64_py(term.encode("utf-8")) % N_SHARDS


def build_segments(
    postings_with_dl: DataFrame,
    avgdl: float,
    max_doc_id: int,
    postings_per_salt: int = POSTINGS_PER_SALT,
    block_size: int = BLOCK_SIZE,
    term_stats: DataFrame | None = None,
) -> DataFrame:
    """postings_with_dl: (term, docID, tf, dl) → segment block table.

    `term_stats` (term, df) supplies the head-term list; only terms with
    df > postings_per_salt enter the (small, broadcast) salt map.
    """
    if term_stats is None:
        term_stats = postings_with_dl.groupBy("term").agg(F.count("*").alias("df"))
    head = term_stats.filter(F.col("df") > postings_per_salt).select(
        "term",
        F.ceil(F.col("df") / postings_per_salt).cast("int").alias("n_salts"),
    )
    df = postings_with_dl.join(F.broadcast(head), "term", "left").withColumn(
        "n_salts", F.coalesce(F.col("n_salts"), F.lit(1))
    )
    width = F.greatest(F.ceil(F.lit(max_doc_id + 1) / F.col("n_salts")), F.lit(1))
    df = df.withColumn("salt", (F.col("docID") / width).cast("int"))

    rn = F.row_number().over(Window.partitionBy("term", "salt").orderBy("docID"))
    p = df.select(
        "term", "salt",
        ((rn - 1) / block_size).cast("int").alias("blockID"),
        F.col("docID").cast("long").alias("docID"),
        F.col("tf").cast("int").alias("tf"),
        F.col("dl").cast("int").alias("dl"),
    )
    # collect_list gathers in no fixed order: array_sort on the struct
    # orders each block by docID (its first field)
    blocks = p.groupBy("term", "salt", "blockID").agg(
        F.min("docID").alias("first_docID"),
        F.max("docID").alias("last_docID"),
        F.count("*").cast("int").alias("n"),
        F.max(bm25_score_col(F.col("tf"), F.col("dl"), F.lit(avgdl))).alias("max_score_component"),
        F.array_sort(F.collect_list(F.struct("docID", "tf", "dl"))).alias("_p"),
    )
    return blocks.select(
        "term", "salt", "blockID", "first_docID", "last_docID", "n", "max_score_component",
        F.col("_p.docID").alias("docids"),
        F.col("_p.tf").alias("tfs"),
        F.col("_p.dl").alias("dls"),
    )


#: every parquet file of an index is written zstd. Parquet records the codec
#: per column chunk, so an index or a resumed build written with another
#: codec stays readable. Set per write, not per session, so user-data
#: writers keep their own codec
_STAGE_OPTIONS = {"compression": "zstd"}

#: v2 pages with no dictionary delta-encode the sorted docID lists; with
#: parquet's defaults (v1 pages, dictionary on) the segments of a 10k-turn
#: index take 1.7x the bytes, and the whole index 25% more (measured with
#: snappy pages)
_SEGMENT_OPTIONS = {"parquet.writer.version": "v2", "parquet.enable.dictionary": "false"}


def write_stage(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: str | None = None,
    options: dict | None = None,
) -> None:
    """The one parquet writer of every index file: build stages, compact
    rewrites, tombstones, streaming runs and segment merges."""
    w = df.write.mode(mode).options(**_STAGE_OPTIONS, **(options or {}))
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def write_segments(segments: DataFrame, path: str) -> None:
    """The one segment writer. Sharded posting files: directory-partitioned
    by shard(term) so a query touching m terms scans at most m shard
    directories (partition pruning), with term-level row-group skipping
    inside via min/max stats. Written through write_stage (zstd) with v2
    pages and no dictionary on top."""
    write_stage(
        segments.withColumn("shard", shard_col(F.col("term")))
        .repartition("shard")
        .sortWithinPartitions("term", "salt", "blockID"),
        path,
        partition_by="shard",
        options=_SEGMENT_OPTIONS,
    )


def decode_segments(segments: DataFrame) -> DataFrame:
    """Segment blocks → relational postings (term, docID, tf, dl), used by
    the rebuild merge path."""
    return segments.select("term", F.inline(F.arrays_zip("docids", "tfs", "dls"))).select(
        "term",
        F.col("docids").alias("docID"),
        F.col("tfs").alias("tf"),
        F.col("dls").alias("dl"),
    )


def merge_segments(
    spark,
    paths: list[str],
    out_path: str,
    mode: str = "append",
    block_size: int = BLOCK_SIZE,
    postings_per_salt: int = POSTINGS_PER_SALT,
    avgdl: float | None = None,
) -> None:
    """Hierarchical merge of segment runs.

    mode='append' — runs cover *disjoint global docID ranges* (the
    incremental-ingest case: each run indexes a new docID range, built with
    shared global stats). Fully distributed, shuffle-light, and skew-free:
    no per-term window anywhere. Disjointness is checked on the per-run
    global [min first_docID, max last_docID] envelope (len(paths) driver
    values — if the envelopes are disjoint, every term's ranges are).
    Salts are PRESERVED: each run's salt ids are offset by the cumulative
    max-salt of earlier runs (ordered by docID range) so (term, salt)
    groups never collide across runs; blockIDs within a group are
    untouched. Query correctness needs no global block numbering — blocks
    carry absolute [first_docID, last_docID] ranges, and a term's ranges
    stay disjoint across runs, which the pruned wand_topk's bound needs.

    mode='rebuild' — for overlapping runs (e.g. a head term split across
    separately-built runs over interleaved docID ranges): decode every run
    back to postings (decode_segments), re-derive doclens/avgdl/max docID from
    the union, and re-run the salted segment build — head terms whose
    merged df exceeds `postings_per_salt` get re-split. Runs must not
    duplicate a (term, docID) posting.
    """
    dfs = [spark.read.parquet(p).drop("shard") for p in paths]
    allseg = dfs[0]
    for d in dfs[1:]:
        allseg = allseg.unionByName(d)

    if mode == "rebuild":
        postings = decode_segments(allseg)
        doclens = postings.select("docID", "dl").distinct()
        m = doclens.agg(
            F.avg("dl").alias("avgdl"), F.max("docID").alias("max_id")
        ).first()
        segs = build_segments(
            postings,
            avgdl=float(avgdl if avgdl is not None else m["avgdl"]),
            max_doc_id=int(m["max_id"]),
            postings_per_salt=postings_per_salt,
            block_size=block_size,
        )
        write_segments(segs, out_path)
        return
    if mode != "append":
        raise ValueError(f"unknown merge mode: {mode}")

    stats = [
        d.agg(
            F.min("first_docID").alias("lo"),
            F.max("last_docID").alias("hi"),
            F.max("salt").alias("max_salt"),
        ).first()
        for d in dfs
    ]
    order = sorted(range(len(dfs)), key=lambda i: stats[i]["lo"])
    prev_hi = None
    for i in order:
        if prev_hi is not None and stats[i]["lo"] <= prev_hi:
            raise ValueError(
                "merge_segments: overlapping docID ranges — use mode='rebuild'"
            )
        prev_hi = stats[i]["hi"]

    offset = 0
    remapped = []
    for i in order:
        remapped.append(dfs[i].withColumn("salt", (F.col("salt") + F.lit(offset)).cast("int")))
        offset += int(stats[i]["max_salt"]) + 1
    merged = remapped[0]
    for d in remapped[1:]:
        merged = merged.unionByName(d)
    write_segments(merged, out_path)
