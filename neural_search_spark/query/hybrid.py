"""Hybrid multi-sub-query fusion: per-sub-query top-k → score normalization
→ weighted combination → final top-k.

Reference semantics reproduced exactly:
- ≤5 sub-queries, each keeps its own top-k
  (query/HybridQueryBuilder.java:56; search/collector/
  HybridTopScoreDocCollector.java:96-134);
- min_max normalization with MIN_SCORE=0.001 clamp for a 0-normalized score
  and 1.0 for the single-result (max==min==score) edge case
  (processor/normalization/MinMaxScoreNormalizationTechnique.java:26-27,
  108-115);
- l2: score/√Σscore², 0 when the norm is 0
  (processor/normalization/L2ScoreNormalizationTechnique.java:53-97);
- combination over the per-doc score vector where a doc missing from a
  sub-query's list contributes 0.0 (ScoreCombiner.java:265-279):
  arithmetic mean includes 0-scores (weight counted,
  ArithmeticMeanScoreCombinationTechnique.java:43-56), geometric/harmonic
  skip s≤0 (GeometricMean…java:41-56, HarmonicMean…java:39-53);
  absent weights default to 1.0 per sub-query (ScoreCombinationUtil.java:87);
- final ordering score desc, docID asc (ScoreCombiner.java:37-50).

Plan shape: all lexical sub-queries are scored by one bm25.bm25_parts
scan keyed on subquery_idx; each sub-query's top-k is bounded;
normalization stats are a per-subquery groupBy over ≤5k rows broadcast back;
the pivot/combination runs on ≤ 5·k rows — everything after the sub-query
scans is effectively driver-scale, matching the reference's coordinator
fusion stage, but stays in DataFrame land so it composes with further ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from neural_search_spark.index.build import IndexTables
from neural_search_spark.query.batch import per_query_topk
from neural_search_spark.query.bm25 import bm25_parts, topk
from neural_search_spark.session import local_frame

MIN_SCORE = 0.001  # MinMaxScoreNormalizationTechnique.java:26
MAX_SUBQUERIES = 5  # HybridQueryBuilder.java:56


def per_subquery_topk(scores: DataFrame, k: int, order: list | None = None) -> DataFrame:
    """Bound each sub-query's result list to its own top-k — the two-level
    batch.per_query_topk keyed on subquery_idx, without the rank column.
    A custom `order` (sort-field columns) is the
    HybridTopFieldDocSortCollector analog: with a search sort, each
    sub-query's bounded heap competes on the SORT criteria, not the score
    (FieldValueHitQueue, search/collector/HybridTopFieldDocSortCollector
    .java:198-242).

    Callers that hold the per-sub-query frames separately should prefer
    `orderBy().limit(k)` per frame before the union (TakeOrderedAndProject);
    this function covers the already-unioned shape.
    """
    return per_query_topk(scores, k, key="subquery_idx", order=order).drop("rank")


def bounded_subquery_union(per: list[DataFrame], k: int) -> DataFrame:
    """Per-sub-query bounded top-k BEFORE the union: each frame compiles to
    TakeOrderedAndProject (per-partition bounded heaps + driver merge), so no
    sub-query ever materializes more than k rows past its scan. `per` frames
    must carry (subquery_idx, docID, score)."""
    bounded = [
        p.orderBy(F.col("score").desc(), F.col("docID").asc()).limit(k) for p in per
    ]
    union = bounded[0]
    for p in bounded[1:]:
        union = union.unionByName(p)
    return union


def fused_bm25_subquery_scores(
    index: IndexTables,
    subqueries: list[dict[str, float] | list[str]],
) -> DataFrame:
    """Score every BM25 sub-query in ONE pass over the postings table:
    (subquery_idx, docID, score).

    Calling bm25_score_all per sub-query scans the postings once per
    sub-query — n full scans at corpus scale (a broadcast join does not
    prune the probe side). Here all sub-queries' terms share one
    bm25_parts scan keyed on subquery_idx; the per-(subquery, doc)
    aggregation is one shuffle keyed on (subquery_idx, docID). Collection
    stats stay global per the reference (query/HybridQuery.java:43-60)."""
    return (
        fused_bm25_subquery_parts(index, subqueries)
        .groupBy("subquery_idx", "docID")
        .agg(F.sum("part").alias("score"))
    )


def fused_bm25_subquery_parts(
    index: IndexTables,
    subqueries: list[dict[str, float] | list[str]],
) -> DataFrame:
    """Pre-aggregation variant of fused_bm25_subquery_scores: the same ONE
    postings scan, returning per-posting (subquery_idx, docID, part) rows
    BEFORE any exchange. Callers that combine sub-query scores per doc
    (dis_max) can aggregate these with per-subquery conditional sums in a
    single docID-keyed groupBy — one exchange total instead of
    (subquery_idx, docID) + docID chained exchanges."""
    rows = []
    for idx, terms in enumerate(subqueries):
        pairs = (
            sorted(terms.items()) if isinstance(terms, dict) else [(t, 1.0) for t in sorted(set(terms))]
        )
        rows.extend((t, float(w), idx) for t, w in pairs)
    q = local_frame(
        index.postings.sparkSession, rows, "q_term string, q_weight double, subquery_idx int"
    )
    return bm25_parts(
        index.postings, index.doclens, index.term_stats, index.meta, q,
        terms=[t for t, _, _ in rows],
    )


def normalize_scores(
    scores: DataFrame,
    technique: str = "min_max",
    partition_cols: tuple[str, ...] = ("subquery_idx",),
) -> DataFrame:
    """(subquery_idx, docID, score) → adds `nscore`. Stats are computed per
    sub-query over the (already top-k-bounded) result lists.

    Stats come from an unbounded WINDOW over subquery_idx, not a
    groupBy-then-self-join: a self-join references the input subtree twice,
    and Spark plans the whole upstream pipeline (the postings scan
    included) once per reference — the window keeps the fused hybrid plan
    at exactly ONE postings scan. The windowed input is the bounded
    ≤ n_subqueries·k rows, so the single-partition-per-subquery window is
    coordinator-scale by construction.

    `partition_cols` lets batch callers normalize per (query_id,
    subquery_idx) instead — same plan shape, one window."""
    w = Window.partitionBy(*partition_cols)
    if technique == "min_max":
        mn = F.min("score").over(w)
        mx = F.max("score").over(w)
        raw = (F.col("score") - mn) / (mx - mn)
        nscore = (
            F.when((mx == mn) & (mx == F.col("score")), F.lit(1.0))
            .when(raw == 0.0, F.lit(MIN_SCORE))
            .otherwise(raw)
        )
    elif technique == "l2":
        l2 = F.sqrt(F.sum(F.col("score") * F.col("score")).over(w))
        nscore = F.when(l2 == 0.0, F.lit(0.0)).otherwise(F.col("score") / l2)
    else:
        raise ValueError(f"unknown normalization technique: {technique}")
    return scores.withColumn("nscore", nscore)


def combine_scores(
    normalized: DataFrame,
    n_subqueries: int,
    technique: str = "arithmetic_mean",
    weights: list[float] | None = None,
    group_cols: tuple[str, ...] = ("docID",),
) -> DataFrame:
    """(subquery_idx, docID, nscore) → (docID, score) combined. Missing
    sub-query scores are 0.0 (ScoreCombiner.java:271 zero-init).

    `group_cols` lets batch callers combine per (query_id, docID); every
    query in such a batch must carry exactly `n_subqueries` sub-queries
    (the zero-fill for absent pivot columns assumes a uniform width)."""
    if weights is not None:
        if len(weights) != n_subqueries:
            raise ValueError("number of weights must match number of sub-queries")
        if any(not 0.0 <= w <= 1.0 for w in weights) or abs(sum(weights) - 1.0) > 0.01:
            raise ValueError("weights must be in [0,1] and sum to 1.0 (ScoreCombinationUtil.java:119-140)")
        ws = weights
    else:
        ws = [1.0] * n_subqueries

    pivoted = (
        normalized.groupBy(*group_cols)
        .pivot("subquery_idx", list(range(n_subqueries)))
        .agg(F.first("nscore"))
    )
    cols = [F.coalesce(F.col(str(j)), F.lit(0.0)) for j in range(n_subqueries)]

    if technique == "arithmetic_mean":
        num = sum((F.lit(ws[j]) * cols[j] for j in range(n_subqueries)), F.lit(0.0))
        den = sum((F.when(cols[j] >= 0.0, F.lit(ws[j])).otherwise(F.lit(0.0)) for j in range(n_subqueries)), F.lit(0.0))
        combined = F.when(den == 0.0, F.lit(0.0)).otherwise(num / den)
    elif technique == "geometric_mean":
        num = sum((F.when(cols[j] > 0.0, F.lit(ws[j]) * F.log(cols[j])).otherwise(F.lit(0.0)) for j in range(n_subqueries)), F.lit(0.0))
        den = sum((F.when(cols[j] > 0.0, F.lit(ws[j])).otherwise(F.lit(0.0)) for j in range(n_subqueries)), F.lit(0.0))
        combined = F.when(den == 0.0, F.lit(0.0)).otherwise(F.exp(num / den))
    elif technique == "harmonic_mean":
        num = sum((F.when(cols[j] > 0.0, F.lit(ws[j])).otherwise(F.lit(0.0)) for j in range(n_subqueries)), F.lit(0.0))
        den = sum((F.when(cols[j] > 0.0, F.lit(ws[j]) / cols[j]).otherwise(F.lit(0.0)) for j in range(n_subqueries)), F.lit(0.0))
        combined = F.when(den > 0.0, num / den).otherwise(F.lit(0.0))
    else:
        raise ValueError(f"unknown combination technique: {technique}")

    return pivoted.select(*group_cols, combined.alias("score"))


def rrf_combine(
    bounded: DataFrame,
    n_subqueries: int,
    rank_constant: int = 60,
    weights: list[float] | None = None,
    group_cols: tuple[str, ...] = ("docID",),
    partition_cols: tuple[str, ...] = ("subquery_idx",),
) -> DataFrame:
    """Reciprocal rank fusion over per-sub-query bounded result lists:
    score(d) = Σ_j w_j / (rank_constant + rank_j(d)), docs absent from a
    sub-query's list contribute 0 for that j.

    The reference snapshot predates OpenSearch's RRF processor and ships
    score-based normalization only; this is the standard public RRF
    (Cormack/Clarke/Büttcher, SIGIR'09 — rank_constant default 60 from the
    paper) offered as an extra combination technique because rank fusion is
    insensitive to incomparable score scales (BM25 vs cosine), the usual
    reason hybrid users pick it.

    Plan shape: ranks come from a window over the already-bounded
    ≤ n_subqueries·k rows (coordinator-scale, same as normalize_scores);
    the fusion itself is one groupBy-sum on `group_cols`. Batch callers
    pass group_cols=("query_id","docID") / partition_cols=("query_id",
    "subquery_idx")."""
    if weights is not None and len(weights) != n_subqueries:
        raise ValueError("number of weights must match number of sub-queries")
    ws = weights or [1.0] * n_subqueries
    w = Window.partitionBy(*partition_cols).orderBy(
        F.col("score").desc(), F.col("docID").asc()
    )
    wmap = F.create_map(
        *[x for j in range(n_subqueries) for x in (F.lit(j), F.lit(float(ws[j])))]
    )
    part = wmap[F.col("subquery_idx")] / (
        F.lit(float(rank_constant)) + F.row_number().over(w)
    )
    return (
        bounded.withColumn("_rrf", part)
        .groupBy(*group_cols)
        .agg(F.sum("_rrf").alias("score"))
    )


def hybrid_rrf_topk(
    index: IndexTables,
    subqueries: list[dict[str, float] | list[str]],
    k: int = 10,
    rank_constant: int = 60,
    weights: list[float] | None = None,
    subquery_k: int | None = None,
) -> DataFrame:
    """Hybrid pipeline with RRF fusion instead of normalize+combine —
    same ONE-postings-scan sub-query scoring, rank-based reduction."""
    if not 1 <= len(subqueries) <= MAX_SUBQUERIES:
        raise ValueError(f"hybrid query accepts 1..{MAX_SUBQUERIES} sub-queries (HybridQueryBuilder.java:56)")
    subquery_k = subquery_k or k
    scores = fused_bm25_subquery_scores(index, subqueries)
    bounded = per_subquery_topk(scores, subquery_k)
    return topk(rrf_combine(bounded, len(subqueries), rank_constant, weights), k)


def hybrid_topk(
    index: IndexTables,
    subqueries: list[dict[str, float] | list[str]],
    k: int = 10,
    normalization: str = "min_max",
    combination: str = "arithmetic_mean",
    weights: list[float] | None = None,
    subquery_k: int | None = None,
) -> DataFrame:
    """Full hybrid pipeline over BM25 sub-queries → (rank, docID, score)."""
    if not 1 <= len(subqueries) <= MAX_SUBQUERIES:
        raise ValueError(f"hybrid query accepts 1..{MAX_SUBQUERIES} sub-queries (HybridQueryBuilder.java:56)")
    subquery_k = subquery_k or k
    scores = fused_bm25_subquery_scores(index, subqueries)
    bounded = per_subquery_topk(scores, subquery_k)
    normalized = normalize_scores(bounded, normalization)
    return topk(combine_scores(normalized, len(subqueries), combination, weights), k)
