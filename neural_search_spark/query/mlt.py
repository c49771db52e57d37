"""more_like_this — find documents similar to example docs.

OpenSearch's MLT query (inherited by the reference plugin's index surface)
selects the "most interesting" terms from the example documents and runs
them as a disjunction. We mirror the selection pipeline of Lucene's
MoreLikeThis with set-at-a-time algebra:

  1. source term freqs: postings rows of the example docIDs (docID IN-list
     pushes into the scan — reads a handful of rows at any corpus size);
     tf summed across examples.
  2. gates: min_term_freq (default 2), min_doc_freq (default 5),
     max_doc_freq (optional) — MoreLikeThis.java's interestingness gates.
  3. interestingness = tf · idf, top max_query_terms (default 25), ties
     broken by term asc for determinism (Lucene's priority queue breaks
     ties arbitrarily — documented divergence; our idf is the engine's
     BM25 idf, where Lucene MLT uses its classic idf — rank-equivalent
     gates, different absolute interestingness values).
  4. the selected terms run as an unboosted BM25 OR query
     (boost_terms=0, the OpenSearch default); example docs are excluded
     from results unless include=True (OpenSearch include=false default).

The driver-side collect is bounded by max_query_terms rows — the same
"resolve query stats up front" shape as every other query path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neural_search_spark.query.bm25 import bm25_score_all, idf_col, topk


def mlt_select_terms(
    postings: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    doc_ids: list[int],
    max_query_terms: int = 25,
    min_term_freq: int = 2,
    min_doc_freq: int = 5,
    max_doc_freq: int | None = None,
) -> list[str]:
    """The example docs' most interesting terms (tf·idf, gated), sorted by
    interestingness desc / term asc, ≤ max_query_terms."""
    if not doc_ids:
        raise ValueError("more_like_this needs at least one example doc")
    n_docs = meta.first()["N"]
    src = (
        postings.where(F.col("docID").isin([int(d) for d in doc_ids]))
        .groupBy("term")
        .agg(F.sum("tf").alias("tf"))
        .where(F.col("tf") >= F.lit(int(min_term_freq)))
    )
    gated = src.join(term_stats.select("term", "df"), "term").where(
        F.col("df") >= F.lit(int(min_doc_freq))
    )
    if max_doc_freq is not None:
        gated = gated.where(F.col("df") <= F.lit(int(max_doc_freq)))
    sel = (
        gated.select(
            "term", (F.col("tf") * idf_col(F.col("df"), F.lit(n_docs))).alias("interest")
        )
        .orderBy(F.col("interest").desc(), F.col("term").asc())
        .limit(int(max_query_terms))
    )
    return [r["term"] for r in sel.collect()]


def mlt_score_all(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    doc_ids: list[int],
    max_query_terms: int = 25,
    min_term_freq: int = 2,
    min_doc_freq: int = 5,
    max_doc_freq: int | None = None,
    include: bool = False,
    boost: float = 1.0,
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """(docID, score): BM25 over the examples' selected terms; example docs
    excluded unless include=True."""
    terms = mlt_select_terms(
        postings, term_stats, meta, doc_ids,
        max_query_terms=max_query_terms, min_term_freq=min_term_freq,
        min_doc_freq=min_doc_freq, max_doc_freq=max_doc_freq,
    )
    if not terms:
        return postings.sparkSession.createDataFrame([], "docID long, score double")
    scored = bm25_score_all(
        postings, doclens, term_stats, meta,
        {t: float(boost) for t in terms}, prefilter=prefilter,
    )
    if not include:
        scored = scored.where(~F.col("docID").isin([int(d) for d in doc_ids]))
    return scored


def mlt_topk(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    doc_ids: list[int],
    k: int = 10,
    **kwargs,
) -> DataFrame:
    """(rank, docID, score) — top-k more_like_this."""
    return topk(
        mlt_score_all(postings, doclens, term_stats, meta, doc_ids, **kwargs), k
    )
