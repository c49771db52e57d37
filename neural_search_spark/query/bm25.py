"""BM25 top-k over the relational postings tables.

Scoring matches Lucene/OpenSearch BM25Similarity defaults, which score the
reference's lexical (term/match) sub-queries (exercised by
src/test/.../query/HybridQueryIT.java:138-145):

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d,q) = Σ_{t ∈ q ∩ d} w_q(t) · idf(t) · tf / (tf + k1·(1 - b + b·dl/avgdl))

with k1 = 1.2, b = 0.75.  Lucene ≥ 8 drops the classic (k1+1) numerator
constant (rank-preserving); we follow Lucene.  Divergence (documented):
Lucene quantizes dl to a 1-byte SmallFloat norm; our default mode keeps the
exact dl (see query/lucene_norms.py for the parity mode).

Tie-break: score desc, docID asc — reference
processor/combination/ScoreCombiner.java:37-50.

Every relational lexical scorer (bm25_score_all here, bool, hybrid,
dis_max and the batch scorers) aggregates over one kernel, `bm25_parts`:
the stats join, the IN-list-pushed postings scan and the per-posting BM25
part are written once, there. The final top-k compiles to
TakeOrderedAndProject (bounded per-partition heaps + driver merge — no
global sort materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from neural_search_spark import B, K1
from neural_search_spark.session import local_frame


def idf_col(df_col, n_col) -> F.Column:
    return F.log(F.lit(1.0) + (n_col - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)))


def bm25_score_col(tf, dl, avgdl, k1: float = K1, b: float = B) -> F.Column:
    """Per-(term, doc) score component excluding idf/weight."""
    return tf / (tf + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * dl / avgdl))


def query_terms_df(
    spark: SparkSession,
    terms: dict[str, float] | list[str],
    clause_counts: dict[str, int] | None = None,
) -> DataFrame:
    """Literal query terms → 1-row-per-term DataFrame (broadcastable; an
    Arrow-backed local relation, see session.local_frame).

    `clause_counts` records how many SHOULD clauses each distinct term
    stands for (a duplicated query term is multiple Lucene clauses); used
    by minimum_should_match accounting. Defaults to 1 per term.
    """
    counts = clause_counts or {}
    if isinstance(terms, dict):
        rows = [(t, float(terms[t]), int(counts.get(t, 1))) for t in sorted(terms)]
    else:
        rows = [(t, 1.0, int(counts.get(t, 1))) for t in sorted(set(terms))]
    return local_frame(spark, rows, "q_term string, q_weight double, q_clauses int")


MAX_INLIST_TERMS = 10_000


def _inlist_pruned(table: DataFrame, queries: DataFrame) -> DataFrame:
    """Collect the distinct `term`s of a query DataFrame and push them into
    `table`'s scan as a literal IN-list (row-group skipping). Above
    MAX_INLIST_TERMS the scan stays full — correct for huge batches, whose
    vocabulary approaches the corpus vocabulary anyway."""
    distinct_terms = [
        r["term"] for r in queries.select("term").distinct().limit(MAX_INLIST_TERMS + 1).collect()
    ]
    if len(distinct_terms) <= MAX_INLIST_TERMS:
        return table.where(F.col("term").isin(sorted(distinct_terms)))
    return table


def bm25_parts(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    q: DataFrame,
    terms: list[str] | None = None,
    lucene_norms: bool = False,
) -> DataFrame:
    """The relational BM25 kernel every lexical scorer aggregates over.

    `q` is a query frame (q_term, q_weight, *keys). The result has one row
    per matching (query row, posting): (*keys, docID, part), where
    part = q_weight · idf(term) · tf-norm(tf, dl). Callers sum `part` per
    (*keys, docID) and add their own match conditions.

    The query terms are pushed into the postings scan as a literal IN-list
    placed BEFORE the join with the w_idf frame (a broadcast hash join does
    not push its build-side keys into the probe-side scan), so the parquet
    scan carries PushedFilters: In(term, […]).
    - `terms` given (a query frame built on the driver): that list is the
      IN-list and the w_idf frame is broadcast.
    - `terms` None (a query DataFrame of any size): _inlist_pruned collects
      the terms and Catalyst/AQE picks the join — broadcast for small
      batches, shuffle-hash on `term` for huge ones.
    Postings without an inline `dl` column get it from `doclens`.

    `lucene_norms=True` quantizes dl with Lucene's SmallFloat int4 scheme
    (1-byte norms) for rank-identity with a real Lucene BM25; the default
    keeps exact dl (documented divergence, see analysis/lucene_norms.py).
    avgdl stays the exact average, as Lucene's avgFieldLength is also
    computed from sumTotalTermFreq, not from decoded norms.
    """
    m = meta.first()
    n_docs, avgdl = m["N"], float(m["avgdl"])
    keys = [c for c in q.columns if c not in ("q_term", "q_weight")]
    scored_terms = q.join(term_stats, q.q_term == term_stats.term).select(
        "term",
        *keys,
        (F.col("q_weight") * idf_col(F.col("df"), F.lit(n_docs))).alias("w_idf"),
    )
    if terms is None:
        cand = _inlist_pruned(postings, q.select(F.col("q_term").alias("term")))
    else:
        cand = postings.where(F.col("term").isin(sorted(set(terms))))
        scored_terms = F.broadcast(scored_terms)
    cand = cand.join(scored_terms, "term")
    if "dl" not in cand.columns:
        cand = cand.join(doclens, "docID")
    dl_col = F.col("dl")
    if lucene_norms:
        from neural_search_spark.analysis.lucene_norms import int4_quantize_col

        dl_col = int4_quantize_col(dl_col)
    part = F.col("w_idf") * bm25_score_col(F.col("tf"), dl_col, F.lit(avgdl))
    return cand.select(*keys, "docID", part.alias("part"))


def bm25_score_all(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    terms: dict[str, float] | list[str],
    prefilter: DataFrame | None = None,
    lucene_norms: bool = False,
    min_should_match: int = 0,
    clause_counts: dict[str, int] | None = None,
    exclude: DataFrame | None = None,
    min_match_per_doc: DataFrame | None = None,
) -> DataFrame:
    """All matching docs with exact BM25 scores: (docID, score) — the
    bm25_parts sum per doc, keyed on each term's clause count.

    `prefilter`, if given, is a (docID) DataFrame; candidates are restricted
    *before* scoring via left-semi join, but collection statistics stay
    global — matching the reference, where FILTER clauses restrict matches
    but BM25 stats come from the whole index (query/HybridQuery.java:43-60).

    `exclude` is the tombstone analog of Lucene's liveDocs: a (docID) frame
    whose docs are dropped from the CANDIDATES via anti-join while df/avgdl
    stay computed over the whole index — exactly Lucene's semantics for
    deleted-but-unmerged docs (docFreq ignores deletes until segments
    merge; see IndexStore.delete_docs / compact).

    `min_should_match` > 1 keeps only docs matching at least that many
    SHOULD clauses (Lucene BooleanQuery minimumNumberShouldMatch); a
    duplicated query term counts as multiple clauses via `clause_counts`
    (term → clause multiplicity, default 1). The threshold is enforced in
    the same map-side-combinable aggregation that sums the score — no
    extra pass or shuffle.

    `min_match_per_doc` is a (docID, min_match) frame giving a PER-DOC
    should-clause threshold — Lucene CoveringQuery's LongValuesSource
    (the terms_set query): a doc survives iff its matched-clause count ≥
    greatest(its min_match, 1). NULL/absent min_match behaves as 1. One
    docID-keyed join against the (query-bounded) matched-docs frame; the
    threshold check rides the same aggregation output, no extra pass.

    `lucene_norms`: see bm25_parts.
    """
    q = query_terms_df(postings.sparkSession, terms, clause_counts=clause_counts)
    if prefilter is not None:
        postings = postings.join(prefilter.select("docID"), "docID", "left_semi")
    if exclude is not None:
        postings = postings.join(exclude.select("docID"), "docID", "left_anti")
    parts = bm25_parts(
        postings, doclens, term_stats, meta, q, terms=list(terms), lucene_norms=lucene_norms
    )
    scores = parts.groupBy("docID").agg(
        F.sum("part").alias("score"), F.sum("q_clauses").alias("_matched_clauses")
    )
    if min_should_match > 1:
        scores = scores.where(F.col("_matched_clauses") >= F.lit(min_should_match))
    if min_match_per_doc is not None:
        thresholds = min_match_per_doc.select(
            "docID", F.col("min_match").cast("long").alias("_min_match")
        )
        scores = (
            scores.join(thresholds, "docID", "left")
            .where(
                F.col("_matched_clauses")
                >= F.greatest(F.coalesce(F.col("_min_match"), F.lit(1)), F.lit(1))
            )
            .drop("_min_match")
        )
    return scores.drop("_matched_clauses")


def explain_terms(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    terms: dict[str, float] | list[str],
    doc_id: int,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Per-term score breakdown for one document — the Lucene Explanation
    analog (searcher.explain()): one row per matching query term with every
    factor of the BM25 product, so Σ contribution == bm25_score_all's score
    for that doc. Plan: docID + term IN-list both push into the postings
    scan, so this reads a handful of rows regardless of corpus size."""
    if not isinstance(terms, dict):
        terms = {t: 1.0 for t in terms}
    spark = postings.sparkSession
    q = query_terms_df(spark, terms)
    m = meta.first()
    n_docs, avgdl = m["N"], float(m["avgdl"])
    cand = postings.where(
        (F.col("docID") == F.lit(doc_id)) & F.col("term").isin(sorted(terms))
    ).join(F.broadcast(q), F.col("term") == F.col("q_term"))
    if "dl" not in postings.columns:
        cand = cand.join(doclens, "docID")
    cand = cand.join(F.broadcast(term_stats.where(F.col("term").isin(sorted(terms)))), "term")
    idf = idf_col(F.col("df"), F.lit(n_docs))
    tf_norm = bm25_score_col(F.col("tf"), F.col("dl"), F.lit(avgdl), k1, b)
    return cand.select(
        "term",
        F.col("q_weight"),
        F.col("df").cast("long").alias("df"),
        idf.alias("idf"),
        F.col("tf").cast("long").alias("tf"),
        F.col("dl").cast("long").alias("dl"),
        F.lit(avgdl).alias("avgdl"),
        tf_norm.alias("tf_norm"),
        (F.col("q_weight") * idf * tf_norm).alias("contribution"),
    ).orderBy("term")


def topk(scores: DataFrame, k: int, score_col: str = "score") -> DataFrame:
    """score desc, docID asc, limit k; adds 1-based rank.

    orderBy().limit(k) compiles to TakeOrderedAndProject — per-partition
    bounded heaps, only k rows cross to the driver-side merge; this is the
    Spark analog of the reference's per-shard HitQueue + coordinator merge
    (search/collector/HybridTopScoreDocCollector.java:126-133).
    """
    out = scores.orderBy(F.col(score_col).desc(), F.col("docID").asc()).limit(k)
    # rank assignment over k rows only (k is small; this is post-limit)
    w = Window.orderBy(F.col(score_col).desc(), F.col("docID").asc())
    return out.withColumn("rank", F.row_number().over(w)).select("rank", "docID", score_col)


def bm25_topk(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    terms: dict[str, float] | list[str],
    k: int = 10,
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """(rank, docID, score) — top-k BM25."""
    return topk(bm25_score_all(postings, doclens, term_stats, meta, terms, prefilter), k)
