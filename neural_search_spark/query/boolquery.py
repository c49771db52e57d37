"""Full Lucene BooleanQuery semantics: must / should / must_not +
bool-level minimum_should_match.

The reference's hybrid sub-queries are arbitrary OpenSearch core queries
(query/HybridQueryBuilder.java parses any inner builder), and bool is the
workhorse of that surface. Lucene scoring model implemented here:

- a doc MATCHES iff it matches every `must` clause, matches at least
  `minimum_should_match` `should` clauses (default: 1 when there are no
  must/filter clauses, else 0), and matches no `must_not` clause;
- its score is the SUM of the scores of the matching must and should
  clauses (non-matching should clauses contribute nothing; must_not and
  filter clauses never score).

Two physical strategies:

``fused_bool_scores`` — when every clause is a plain lexical disjunction
(match/term: a weight dict), the whole bool collapses to ONE postings
scan: the bm25.bm25_parts kernel over per-term rows that carry (summed
weight, clause-membership bitmask). A single groupBy computes Σ score AND
the bit_or of matched-clause bits, so must coverage (`mask & M == M`),
should counting (`bit_count(mask & S) >= msm`) and must_not exclusion
(`mask & N == 0`) are all decided in the same map-side-combinable
aggregation — no join per clause, no second scan. Clause count ≤ 63
(single long mask); score
weights of a term shared by several scoring clauses sum, which matches
Lucene because idf·tf-norm factors out: Σ_c w_c·idf·tfn = (Σ_c w_c)·idf·tfn.

``QueryEngine._bool`` (dsl.py's bool handler in QUERY_KINDS) routes
all-lexical bools here and composes everything else (neural/phrase/
multiterm clauses) with the generic per-clause join plan.

The fused path has the same plan as a plain BM25 query (one exchange on
docID) regardless of clause count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neural_search_spark.query.bm25 import bm25_parts
from neural_search_spark.session import local_frame

MAX_BOOL_CLAUSES = 63  # single int64 bitmask; Lucene's own cap is 1024


def default_min_should_match(
    n_must: int, n_filter: int, explicit: int | None
) -> int:
    """Lucene/OpenSearch default: should clauses are required (msm=1) only
    when nothing else constrains the match set."""
    if explicit is not None:
        return int(explicit)
    return 0 if (n_must or n_filter) else 1


def fused_bool_scores(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    must_weights: list[dict[str, float]],
    should_weights: list[dict[str, float]],
    must_not_weights: list[dict[str, float]],
    min_should_match: int = 0,
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """(docID, score) for an all-lexical bool query in ONE postings scan.

    Each weights dict is one clause (a match/term disjunction: the clause
    matches a doc iff ≥1 of its terms occurs). `min_should_match` is the
    resolved bool-level threshold (see default_min_should_match).
    """
    clauses = (
        [("scoring", w) for w in must_weights]
        + [("scoring", w) for w in should_weights]
        + [("excluded", w) for w in must_not_weights]
    )
    n = len(clauses)
    if n > MAX_BOOL_CLAUSES:
        raise ValueError(f"bool supports at most {MAX_BOOL_CLAUSES} clauses, got {n}")
    nm, ns = len(must_weights), len(should_weights)
    must_mask = (1 << nm) - 1
    should_mask = ((1 << ns) - 1) << nm
    not_mask = ((1 << len(must_not_weights)) - 1) << (nm + ns)

    # term → (summed scoring weight, OR of clause bits)
    weight: dict[str, float] = {}
    mask: dict[str, int] = {}
    for i, (role, w) in enumerate(clauses):
        for t, wt in w.items():
            if role == "scoring":
                weight[t] = weight.get(t, 0.0) + float(wt)
            mask[t] = mask.get(t, 0) | (1 << i)
    spark = postings.sparkSession
    if not mask:
        return local_frame(spark, [], "docID long, score double")

    qrows = [(t, weight.get(t, 0.0), mask[t]) for t in sorted(mask)]
    q = local_frame(spark, qrows, "q_term string, q_weight double, q_mask long")
    if prefilter is not None:
        postings = postings.join(prefilter.select("docID"), "docID", "left_semi")
    parts = bm25_parts(postings, doclens, term_stats, meta, q, terms=list(mask))
    per_doc = parts.groupBy("docID").agg(
        F.sum("part").alias("score"), F.bit_or("q_mask").alias("mask")
    )
    cond = F.lit(True)
    if must_mask:
        cond = cond & (F.col("mask").bitwiseAND(F.lit(must_mask)) == F.lit(must_mask))
    if not_mask:
        cond = cond & (F.col("mask").bitwiseAND(F.lit(not_mask)) == F.lit(0))
    if min_should_match > 0:
        cond = cond & (
            F.bit_count(F.col("mask").bitwiseAND(F.lit(should_mask)))
            >= F.lit(min_should_match)
        )
    return per_doc.where(cond).select("docID", "score")


def compose_bool_scores(
    musts: list[DataFrame],
    shoulds: list[DataFrame],
    must_not_sets: list[DataFrame],
    min_should_match: int = 0,
    universe: DataFrame | None = None,
) -> DataFrame:
    """Generic bool composition over pre-scored clause frames.

    Each input is a (docID, score) DataFrame (must_not_sets need only
    docID). Used when some clause is not a plain lexical disjunction
    (neural / match_phrase / multiterm / nested bool): must clauses
    inner-join on docID (scores summed), should clauses left-join (missing
    → +0, matched-clause counter for min_should_match), must_not
    anti-joins. With no must clause the shoulds union-aggregate instead —
    Σ scores + clause count in one groupBy.

    `universe` (a docID frame) is required only for the degenerate
    pure-must_not bool, which matches everything else at score 0.
    """
    base: DataFrame | None = None
    for i, s in enumerate(musts):
        s = s.select("docID", F.col("score").alias(f"_m{i}"))
        base = s if base is None else base.join(s, "docID")
    if base is not None:
        base = base.select(
            "docID",
            sum((F.col(f"_m{i}") for i in range(1, len(musts))), F.col("_m0")).alias("score"),
        )
        for j, s in enumerate(shoulds):
            s = s.select("docID", F.col("score").alias(f"_s{j}"))
            base = base.join(s, "docID", "left")
        if shoulds:
            matched = sum(
                (F.when(F.col(f"_s{j}").isNotNull(), 1).otherwise(0) for j in range(len(shoulds))),
                F.lit(0),
            )
            total = sum(
                (F.coalesce(F.col(f"_s{j}"), F.lit(0.0)) for j in range(len(shoulds))),
                F.col("score"),
            )
            base = base.select("docID", total.alias("score"), matched.alias("_nsm"))
            if min_should_match > 0:
                base = base.where(F.col("_nsm") >= F.lit(min_should_match))
            base = base.select("docID", "score")
    elif shoulds:
        tagged = None
        for s in shoulds:
            s = s.select("docID", "score")
            tagged = s if tagged is None else tagged.unionByName(s)
        base = tagged.groupBy("docID").agg(
            F.sum("score").alias("score"), F.count("*").alias("_nsm")
        )
        if min_should_match > 0:
            base = base.where(F.col("_nsm") >= F.lit(min_should_match))
        base = base.select("docID", "score")
    else:
        if universe is None:
            raise ValueError("bool with only must_not clauses needs a doc universe")
        base = universe.select("docID").withColumn("score", F.lit(0.0))
    for s in must_not_sets:
        base = base.join(s.select("docID"), "docID", "left_anti")
    return base
