"""Batch multi-query retrieval: score MANY queries in one corpus pass —
BM25 (bm25_*_batch), sparse/neural_sparse (sparse_*_batch), and full
hybrid normalization+combination pipelines (hybrid_topk_batch).

The reference executes one query per request (per-shard collectors —
search/query/HybridCollectorManager.java); a Spark engine can amortize the
corpus scan across an arbitrarily large query set instead. This is the
offline shape a 100 TB training-data pipeline actually needs: relevance
eval sets, hard-negative mining for retrieval training, and bulk
re-scoring all present as "10³–10⁶ queries × 10¹²-doc index", where
per-query execution would re-scan the postings once per query.

Plan shape: bm25_score_batch and fused_subquery_scores_batch are the
bm25.bm25_parts kernel (one postings scan, the batch's terms pushed down
as an IN-list while they fit) summed per (query_id[, subquery_idx],
docID), then a two-level per-query top-k (bounded heaps per partition,
then coordinator-scale final rank — never a global sort).

Scoring is identical to query/bm25.py (Lucene BM25Similarity defaults,
k1 = 1.2, b = 0.75, tie-break score desc / docID asc —
processor/combination/ScoreCombiner.java:37-50).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from neural_search_spark.query.bm25 import _inlist_pruned, bm25_parts


def per_query_topk(
    scores: DataFrame, k: int, key: str | list[str] = "query_id", order: list | None = None
) -> DataFrame:
    """Bound each query's result list to its own top-k, adding `rank`.
    Rows rank by `order` (default score desc, docID asc) within `key` — a
    column name or a list of them, e.g. [query_id, subquery_idx] for batch
    hybrid.

    Two-level window, the bounded-heap analog of the reference's per-shard
    HitQueue + coordinator merge (search/collector/
    HybridTopScoreDocCollector.java:126-133): level 1 ranks within each
    (key, spark partition) and keeps ≤ k rows per partition, level 2 ranks
    the ≤ n_partitions·k survivors per key. No per-query global sort; a
    head query over 10¹² docs never funnels its full match set through one
    reducer."""
    keys = [key] if isinstance(key, str) else list(key)
    order = order or [F.col("score").desc(), F.col("docID").asc()]
    w_local = Window.partitionBy(*keys, "_pid").orderBy(*order)
    local = (
        scores.withColumn("_pid", F.spark_partition_id())
        .withColumn("_r", F.row_number().over(w_local))
        .where(F.col("_r") <= k)
        .drop("_pid")
    )
    w_global = Window.partitionBy(*keys).orderBy(*order)
    return (
        local.withColumn("_r", F.row_number().over(w_global))
        .where(F.col("_r") <= k)
        .withColumnRenamed("_r", "rank")
    )


def bm25_score_batch(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    queries: DataFrame,
) -> DataFrame:
    """(query_id, docID, score) for EVERY matching (query, doc) pair.

    `queries` is (query_id, term, weight) — one row per query term; any
    number of queries."""
    q = queries.select(
        F.col("term").alias("q_term"), F.col("weight").cast("double").alias("q_weight"), "query_id"
    )
    return (
        bm25_parts(postings, doclens, term_stats, meta, q)
        .groupBy("query_id", "docID")
        .agg(F.sum("part").alias("score"))
    )


def bm25_topk_batch(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """(query_id, rank, docID, score) — per-query top-k over the whole
    query batch in one postings pass."""
    scores = bm25_score_batch(postings, doclens, term_stats, meta, queries)
    return per_query_topk(scores, k).select("query_id", "rank", "docID", "score")


def sparse_score_batch(
    doc_weights: DataFrame,
    queries: DataFrame,
    weight_col: str = "weight",
    quantize: bool = True,
) -> DataFrame:
    """(query_id, docID, score) for a whole batch of sparse (neural_sparse)
    queries in ONE pass over the (docID, term, weight) table.

    `queries` is (query_id, term, weight); score(q, d) =
    Σ_{t∈q∩d} w_q(t)·[quantize16] w_d(t) — identical per query to
    query/sparse.py sparse_scores (NeuralSparseQueryBuilder.java:364-376),
    but the document-weight scan and its quantization run once for the
    batch instead of once per query."""
    from neural_search_spark.query.sparse import quantize16

    q = queries.select(
        "query_id", "term", F.col("weight").cast("double").alias("q_weight")
    )
    w_d = F.col(weight_col).cast("float")
    if quantize:
        w_d = quantize16(w_d)
    cand = _inlist_pruned(doc_weights, q).join(q, "term")
    return (
        cand.select("query_id", "docID", (F.col("q_weight") * w_d.cast("double")).alias("part"))
        .groupBy("query_id", "docID")
        .agg(F.sum("part").alias("score"))
    )


def sparse_topk_batch(
    doc_weights: DataFrame,
    queries: DataFrame,
    k: int = 10,
    weight_col: str = "weight",
    quantize: bool = True,
) -> DataFrame:
    """(query_id, rank, docID, score) — per-query sparse top-k over the
    batch in one doc-weight pass."""
    scores = sparse_score_batch(doc_weights, queries, weight_col, quantize)
    return per_query_topk(scores, k).select("query_id", "rank", "docID", "score")


def fused_subquery_scores_batch(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    queries: DataFrame,
) -> DataFrame:
    """(query_id, subquery_idx, docID, score): every BM25 sub-query of every
    hybrid query in a batch, scored in ONE postings pass.

    `queries` is (query_id, subquery_idx, term, weight). The batch analog of
    hybrid.fused_bm25_subquery_scores: the kernel's key grows a query_id
    column; the scan and the (query_id, subquery_idx, docID) exchange stay
    single."""
    q = queries.select(
        F.col("term").alias("q_term"),
        F.col("weight").cast("double").alias("q_weight"),
        "query_id",
        "subquery_idx",
    )
    return (
        bm25_parts(postings, doclens, term_stats, meta, q)
        .groupBy("query_id", "subquery_idx", "docID")
        .agg(F.sum("part").alias("score"))
    )


def hybrid_topk_batch(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    queries: DataFrame,
    n_subqueries: int,
    k: int = 10,
    normalization: str = "min_max",
    combination: str = "arithmetic_mean",
    weights: list[float] | None = None,
    subquery_k: int | None = None,
) -> DataFrame:
    """(query_id, rank, docID, score) — per-query hybrid top-k for a batch
    of hybrid queries, one postings scan total.

    Pipeline: fused batch scan → two-level per-(query, sub-query) top-k →
    per-(query, sub-query) window normalization → per-(query, doc) pivot
    combination → per-query final rank. Every query in the batch must carry
    exactly `n_subqueries` sub-queries (0..n_subqueries-1); the pivot
    zero-fill assumes a uniform width (pad a narrower query with a
    match_none sub-query, or run it in its own batch)."""
    from neural_search_spark.query.hybrid import (
        combine_scores,
        normalize_scores,
        rrf_combine,
    )

    scores = fused_subquery_scores_batch(postings, doclens, term_stats, meta, queries)
    bounded = per_query_topk(
        scores, subquery_k or k, key=["query_id", "subquery_idx"]
    ).drop("rank")
    if combination == "rrf":
        # rank fusion skips score normalization by construction
        combined = rrf_combine(
            bounded, n_subqueries, weights=weights,
            group_cols=("query_id", "docID"),
            partition_cols=("query_id", "subquery_idx"),
        )
    else:
        normalized = normalize_scores(
            bounded, normalization, partition_cols=("query_id", "subquery_idx")
        )
        combined = combine_scores(
            normalized, n_subqueries, combination, weights,
            group_cols=("query_id", "docID"),
        )
    return per_query_topk(combined, k).select("query_id", "rank", "docID", "score")
