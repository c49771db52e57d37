"""Reranking of final results, mirroring the reference's rerank processors
(processor/rerank/ByFieldRerankProcessor.java — re-score hits by a document
field, keep the previous score; processor/rerank/RerankProcessor interface).

The ML cross-encoder reranker (MLOpenSearchRerankProcessor) needs a model
RPC, which this package does not provide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rerank_by_field(
    results: DataFrame,
    docs: DataFrame,
    target_field: str,
    id_col: str = "docID",
    keep_previous_score: bool = True,
    ascending: bool = False,
) -> DataFrame:
    """Re-rank a (rank, docID, score) result set by `target_field` from the
    docs table. New score = the field value (cast to double); ties break by
    docID asc. k is small → the results side is broadcast."""
    field_df = docs.select(F.col(id_col).alias("docID"), F.col(target_field))
    joined = field_df.join(F.broadcast(results), "docID")
    order = [
        F.col(target_field).asc() if ascending else F.col(target_field).desc(),
        F.col("docID").asc(),
    ]
    w = Window.orderBy(*order)
    out = joined.withColumn("new_rank", F.row_number().over(w))
    cols = [
        F.col("new_rank").alias("rank"),
        F.col("docID"),
        F.col(target_field).cast("double").alias("score"),
    ]
    if keep_previous_score:
        cols.append(F.col("score").alias("previous_score"))
    return out.select(*cols).orderBy("rank")

