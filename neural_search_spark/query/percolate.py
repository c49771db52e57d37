"""Percolate — reverse search: registered queries matched against docs.

The OpenSearch percolator inverts retrieval: queries are indexed, and each
incoming document returns the set of queries it satisfies — the shape used
for alerting, routing, and (in a training-data pipeline) bulk rule-tagging
of documents at corpus scale.

This engine registers BOOLEAN TERM queries (the percolator's common core):
each query is a set of terms plus a minimum_should_match (m = n_terms ⇒
conjunction, m = 1 ⇒ disjunction). Matching is one relational pass:

    docs → tokenize → DISTINCT (docID, term)      [doc-local, no shuffle]
         ⋈ broadcast(query terms)                 [registered set is small]
         → groupBy (docID, query_id) count        [map-side combinable]
         → keep count ≥ min_match

Scale: the only exchange is the (docID, query_id) aggregation, whose input
is bounded by Σ per-doc DISTINCT matching terms — the same rows a Lucene
percolator's candidate-term pre-selection visits. Registered queries ride
a broadcast; a million-rule set is still only a few hundred MB of terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neural_search_spark.analysis.tokenizer import tokenize_col


def register_queries(spark: SparkSession, qdefs: dict[int, dict]) -> DataFrame:
    """{query_id: {"terms": [...], "min_match": m?}} → (query_id, term,
    min_match) frame. min_match defaults to ALL terms (conjunction);
    duplicate terms within a query collapse (sets, like Lucene's
    TermsQuery); min_match > n_distinct_terms is unsatisfiable and raises.
    """
    rows = []
    for qid, spec in sorted(qdefs.items()):
        terms = sorted(set(spec["terms"]))
        if not terms:
            raise ValueError(f"percolate query {qid} needs at least one term")
        m = int(spec.get("min_match", len(terms)))
        if not 1 <= m <= len(terms):
            raise ValueError(
                f"percolate query {qid}: min_match {m} outside 1..{len(terms)}"
            )
        rows.extend((int(qid), t, m) for t in terms)
    return spark.createDataFrame(rows, "query_id long, term string, min_match int")


def percolate(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "docID",
    tokenizer: str = "standard",
    broadcast_rules: bool = True,
) -> DataFrame:
    """(id, query_id): every (document, registered query) match pair.

    `broadcast_rules`: the registered rule table rides a broadcast by
    default (a million 4-term rules is tens of MB of strings — fine for
    the executor broadcast budget; measured at 2 M docs, BENCH.md §9).
    Pass False when the rule-term table outgrows the broadcast budget
    (10⁸+ rule terms): the join becomes a shuffle hash join on `term` —
    one extra exchange of the (small relative to the corpus) rule table,
    identical downstream aggregation; AQE splits skewed head-term
    partitions. Either way the whole match is ONE pass over the docs —
    never a per-rule job."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokenize_col(text_col, tokenizer))).alias("term"),
    )
    # shuffle_hash hint (not sort-merge): the rule table is the small side
    # and per-partition hash build beats sorting the exploded corpus tokens
    rules = F.broadcast(queries) if broadcast_rules else queries.hint("shuffle_hash")
    hits = toks.join(rules, "term")
    return (
        hits.groupBy("id", "query_id")
        .agg(
            F.count("*").cast("int").alias("_n"),
            F.first("min_match").alias("_m"),
        )
        .where(F.col("_n") >= F.col("_m"))
        .select("id", "query_id")
    )
