"""neural_search_spark — a from-scratch PySpark-native inverted-index + BM25
query engine with the query semantics of the OpenSearch neural-search plugin
(reference: /root/reference, studied for behaviour only — no code ported).

Subpackages
-----------
analysis   tokenization / normalization (vectorized, reproducible)
data       deterministic transcripts synthesizer + scalable docID assignment
index      posting-list construction, salted segment build (posting blocks
           as docids/tfs/dls Spark arrays, block-max metadata), manifests +
           checkpoint-resume
query      BM25 top-k, block-max WAND pruning, sparse linear scoring,
           two-phase pruning, hybrid normalization + combination, paging
ops        chunking, rerank, dedup (exact/minhash/simhash/jaccard/embedding),
           similarity search, text analysis, multimodal plumbing
"""

__version__ = "0.1.0"

K1 = 1.2
B = 0.75
