"""Scalable global docID assignment under stable (conv_id, turn_idx) order.

The reference's docIDs are per-segment Lucene ints plus a per-segment docBase
offset (reference: search/collector/HybridTopScoreDocCollector.java:34,51,128).
We mirror the docBase idea distributively: range-partition by the ordering
key, count rows per partition (tiny driver-side collect of P integers),
compute exclusive prefix sums, and add each partition's base to its local
row_number. No global single-partition sort — this is the standard
zipWithIndex pattern expressed in DataFrame operations, and it holds at
10^12 rows (the only driver-side state is one long per partition).

The input is persisted before the two passes so the sampled range boundaries
are identical in both jobs (in the production pipeline the docID stage writes
a parquet checkpoint, which guarantees the same thing across restarts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _with_doc_ids(ranged: DataFrame, order_cols: list[str], id_col: str) -> DataFrame:
    counts = {r["_pid"]: r["cnt"] for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    bases, acc = {}, 0
    for pid in sorted(counts):
        bases[pid] = acc
        acc += counts[pid]
    # the (pid → base) map is a tiny broadcast-joined DataFrame, NOT a
    # literal map expression: at the 10^5 partitions this module targets a
    # map_from_arrays literal would be a ~200k-term codegen expression
    # (janino 64KB-method risk); a broadcast hash join stays O(1) in
    # generated code regardless of partition count
    base_df = ranged.sparkSession.createDataFrame(
        [(int(p), int(bases[p])) for p in sorted(counts)], "_pid int, _base long"
    )
    w = Window.partitionBy("_pid").orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        ranged.withColumn("_local", F.row_number().over(w))
        .join(F.broadcast(base_df), "_pid")
        .withColumn(id_col, (F.col("_local") - 1 + F.col("_base")).cast("long"))
        .drop("_pid", "_local", "_base")
    )


def _ranged(df: DataFrame, order_cols: list[str], num_partitions: int) -> DataFrame:
    from pyspark import StorageLevel

    return (
        df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        # serialized persist: deserialized MemoryStore caching of wide text
        # rows is lock/bandwidth-contended at high task parallelism
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _key_mapping(
    df: DataFrame, order_cols: list[str], num_partitions: int, id_col: str
) -> DataFrame:
    """Keys-first docID mapping: (order_cols..., docID), eagerly
    checkpointed. Only the ordering-key COLUMNS flow through the range
    shuffle, the persist, and the window sort — column pruning keeps the
    wide text out of all three (for a parquet source the sampling scan
    reads just the key columns; for the generated source the text
    expression is never evaluated). The full rows are touched exactly once,
    by the caller's mapping join."""
    keys = df.select(*[F.col(c) for c in order_cols])
    ranged = _ranged(keys, order_cols, num_partitions)
    try:
        return _with_doc_ids(ranged, order_cols, id_col).localCheckpoint(eager=True)
    finally:
        ranged.unpersist()


def _mapping_join(df: DataFrame, mapping: DataFrame, order_cols: list[str]) -> DataFrame:
    """Join the (keys → docID) mapping back to the full rows as a SHUFFLE
    hash join with the mapping as build side — never let the planner pick
    the strategy here. Generated / in-memory sources carry near-zero size
    estimates, and Catalyst was observed broadcasting the CORPUS side (a
    272MB broadcast of the wide text rows for a 400k-turn fixture) while
    the output inherited the checkpointed mapping's AQE-coalesced 2
    partitions — serializing every downstream stage. The hint pins the
    physically sane plan at every scale: corpus rows stream through one
    exchange on the ordering key, mapping hashed per partition."""
    return df.join(mapping.hint("shuffle_hash"), order_cols)


def assign_doc_ids(
    df: DataFrame,
    order_cols: list[str] | None = None,
    num_partitions: int | None = None,
    id_col: str = "docID",
    method: str = "keys",
) -> DataFrame:
    """Stable global docIDs under (order_cols) ordering.

    method='keys' (default): two-pass prefix-sum over the ordering KEYS
    only, then one hash-join of the tiny (keys, docID) mapping back to the
    full rows — the wide text crosses the wire once. Requires the ordering
    key to uniquely identify rows (the transcripts contract: one turn per
    (conv_id, turn_idx); duplicated keys would share a docID and fan out
    the join).

    method='range': the original full-row variant (range-shuffle + persist
    + window over complete rows) — no key-uniqueness requirement.
    """
    order_cols = order_cols or ["conv_id", "turn_idx"]
    num_partitions = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    if method == "keys":
        mapping = _key_mapping(df, order_cols, num_partitions, id_col)
        return _mapping_join(df, mapping, order_cols)
    ranged = _ranged(df, order_cols, num_partitions)
    try:
        # materialize while `ranged` is still cached; callers get a plain DF
        out = _with_doc_ids(ranged, order_cols, id_col).localCheckpoint(eager=True)
    finally:
        ranged.unpersist()
    return out

