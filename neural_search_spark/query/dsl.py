"""Dict-based query DSL → executable Spark plans; the analog of the
reference's JSON query parsing surface (query/HybridQueryBuilder.fromXContent
:149-223, query/NeuralSparseQueryBuilder.fromXContent:220-278, and the
term/match lexical queries its tests exercise, HybridQueryIT.java:138-145).

Dispatch is two tables keyed by name, like the reference's query factories
(plugin/NeuralSearch.java:121-133): QUERY_KINDS maps a query kind to the
QueryEngine method that compiles it, AGG_KINDS an aggregation kind to the
method that builds it. Every handler of a table has one signature, an
unknown kind fails at the table lookup, and malformed bodies raise
QueryValidationError there. A new kind is one method and one table entry.

Supported query dicts::

    {"match":        {FIELD: {"query": "free text", "boost": 1.0,
                              "minimum_should_match": 2}}}   # optional
    {"match_phrase": {FIELD: {"query": "exact phrase", "boost": 1.0,
                              "slop": 0}}}  # slop>0 → in-order span match
    {"match_phrase_prefix": {FIELD: {"query": "phrase pre", "boost": 1.0,
                              "max_expansions": 50}}}  # last term = prefix
    {"span_near":    {"field": FIELD, "terms": [t, ...], "slop": 0,
                      "in_order": True, "boost": 1.0}}  # SpanNearQuery
    {"term":         {FIELD: {"value": "token", "boost": 1.0}}}
    {"synonym":      {"field": FIELD, "groups": [[t, ...], ...],
                      "boosts": [w, ...], "boost": 1.0}}  # SynonymQuery
    {"more_like_this": {"field": FIELD, "like": [docID, ...],
                      "max_query_terms": 25, "min_term_freq": 2,
                      "min_doc_freq": 5, "include": False}}
    {"function_score": {"query": q, "boost_mode": "multiply",
                      "field_value_factor": {...} |
                      "gauss"/"exp"/"linear": {FIELD: {...}}}}
    {"prefix":       {FIELD: {"value": "pre", "boost": 1.0,
                              "rewrite": "constant_score" | "scoring_boolean"}}}
    {"wildcard":     {FIELD: {"value": "pa*er?", "boost": 1.0, "rewrite": ...}}}
    {"fuzzy":        {FIELD: {"value": "tokn", "fuzziness": "AUTO" | 0 | 1 | 2,
                              "prefix_length": 0, "boost": 1.0, "rewrite": ...}}}
    {"regexp":       {FIELD: {"value": "s(o|pa)r[tk]", "boost": 1.0,
                              "rewrite": ...}}}  # anchored over the term
    {"neural_sparse": {FIELD: {"query_tokens": {tok: w}, "boost": 1.0,
                              "two_phase": {"prune_ratio": 0.4,
                                            "expansion_rate": 5.0,
                                            "max_window_size": 10000}}}}
    {"neural":       {FIELD: {"query_vector": [f, ...],  # literal vector
                              "k": 10,                    # OR one radial:
                              "min_score": s, "max_distance": d,
                              "filter": pred, "boost": 1.0}}}
    {"hybrid":       {"queries": [q, ...],            # 1..5, no boost
                      "normalization": "min_max" | "l2",
                      "combination": "arithmetic_mean" | "geometric_mean"
                                   | "harmonic_mean",
                      "weights": [w, ...]}}           # optional
    {"bool":         {"must": q | [q, ...], "should": [q, ...],
                      "must_not": [q, ...], "filter": [pred, ...],
                      "minimum_should_match": m}}   # Lucene BooleanQuery
    {"simple_query_string": {"query": '+spark "merge sort" -dup pre*',
                      "default_operator": "or" | "and"}}  # mini language
    {"rank_feature": {"field": col, "boost": 1.0,
                      "saturation": {"pivot": p} | "log": {"scaling_factor": s}
                      | "sigmoid": {"pivot": p, "exponent": e}}}
    {"terms_set":    {FIELD: {"terms": [t, ...],
                      "minimum_should_match_field": col |
                      "minimum_should_match": n}}}  # CoveringQuery
    {"dis_max":      {"queries": [q, ...], "tie_breaker": 0.0,
                      "boost": 1.0}}   # best sub-score + tie_breaker × rest
    {"boosting":     {"positive": q, "negative": q,
                      "negative_boost": 0.5}}  # demote negative matches
    {"constant_score": {"filter": q, "boost": 1.0}}  # filter context
    {"ids":          {"values": [docID, ...]}}     # constant-score membership
    {"exists":       {"field": column}}            # non-null field
    {"range":        {FIELD: {"gte"/"gt"/"lte"/"lt": v, "boost": b}}}
    {"terms":        {FIELD: [v, ...], "boost": b}}  # constant-score set
    {"match_all": {}} / {"match_none": {}}

Filter predicates (reference: FILTER clauses pushed into each sub-query,
HybridQuery.java:43-60 — candidates restricted BEFORE scoring, collection
stats stay global)::

    {"eq": [column, value]}  {"in": [column, [v, ...]]}
    {"range": {"column": c, "gte": v, "lte": v, "gt": v, "lt": v}}

Semantics notes:
- `match` analyzes the text with the engine analyzer; a term occurring m
  times in the query contributes weight m×boost (Lucene sums duplicated
  SHOULD term clauses the same way).
- `term` skips analysis (exact token), like Lucene's TermQuery.
- hybrid rejects boost and nested hybrid (HybridQueryBuilder.java:64-66,
  HybridQueryPhaseSearcher.java:123-148) and allows at most 5 sub-queries.
"""

from __future__ import annotations

import functools
import math
from collections import Counter
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from neural_search_spark.analysis.tokenizer import tokenize_py
from neural_search_spark.index.build import IndexTables
from neural_search_spark.query import hybrid as hybrid_mod
from neural_search_spark.query.bm25 import bm25_parts, bm25_score_all, explain_terms, topk
from neural_search_spark.query.boolquery import (
    MAX_BOOL_CLAUSES,
    compose_bool_scores,
    default_min_should_match,
    fused_bool_scores,
)
from neural_search_spark.query.collapse import collapse_topk
from neural_search_spark.query.grouping import group_topk
from neural_search_spark.query.mlt import mlt_score_all
from neural_search_spark.query.multiterm import multiterm_score_all
from neural_search_spark.query.phrase import (
    phrase_prefix_scores,
    phrase_scores,
    span_near_scores,
)
from neural_search_spark.query.querystring import parse_simple_query_string
from neural_search_spark.query.sparse import (
    sparse_scores,
    split_query_tokens,
    EXPANSION_RATE,
    MAX_WINDOW_SIZE,
    PRUNE_RATIO,
)
from neural_search_spark.query.synonym import synonym_score_all
from neural_search_spark.session import local_frame

MAX_SUBQUERIES = 5


class QueryValidationError(ValueError):
    pass


# the errors a handler raises on a malformed body (a missing key, a value
# of the wrong type, a number that does not parse); the table lookups map
# them to QueryValidationError, the fromXContent parse-error contract
_MALFORMED = (KeyError, TypeError, AttributeError, ValueError)


def filter_condition(pred: dict) -> Column:
    if "eq" in pred:
        col, val = pred["eq"]
        return F.col(col) == F.lit(val)
    if "in" in pred:
        col, vals = pred["in"]
        return F.col(col).isin(*vals)
    if "range" in pred:
        spec = dict(pred["range"])
        col = F.col(spec.pop("column"))
        cond = F.lit(True)
        for key, val in spec.items():
            if key == "gte":
                cond = cond & (col >= F.lit(val))
            elif key == "lte":
                cond = cond & (col <= F.lit(val))
            elif key == "gt":
                cond = cond & (col > F.lit(val))
            elif key == "lt":
                cond = cond & (col < F.lit(val))
            else:
                raise QueryValidationError(f"unknown range op: {key}")
        return cond
    raise QueryValidationError(f"unknown filter predicate: {pred}")


def _req(body: dict, key: str, ctx: str):
    """Fetch a required key, raising QueryValidationError (not KeyError) when
    absent — malformed bodies must fail the repo's fuzz invariant cleanly."""
    if not isinstance(body, dict) or key not in body:
        raise QueryValidationError(f"{ctx} requires '{key}'")
    return body[key]


def _one_kind(spec, what: str) -> str:
    """Shape validation shared by both tables: a query or aggregation is a
    one-key dict whose body is an object (fromXContent contract)."""
    if not isinstance(spec, dict) or len(spec) != 1:
        raise QueryValidationError(
            f"{what} dict must have exactly one key, got "
            + (str(sorted(spec)) if isinstance(spec, dict) else type(spec).__name__)
        )
    (kind,) = spec.keys()
    if not isinstance(spec[kind], dict):
        raise QueryValidationError(
            f"{kind} {what} body must be an object, got {type(spec[kind]).__name__}"
        )
    return kind


def _single_field(spec: dict, kind: str) -> tuple[str, dict]:
    if len(spec) != 1:
        raise QueryValidationError(f"{kind} query must target exactly one field")
    ((field, body),) = spec.items()
    if not isinstance(body, dict):
        body = {"query": body} if kind in ("match", "match_phrase") else {"value": body}
    return field, body


def _lexical_parse(kind: str, body: dict) -> tuple[dict[str, float], Counter, int]:
    """(BM25 term weights, per-term clause counts, minimum_should_match) of
    a `match` or `term` body. match analyzes its text, and a term occurring
    m times in it weighs m×boost and counts as m SHOULD clauses; term takes
    its value verbatim."""
    _, spec = _single_field(body, kind)
    boost = float(spec.get("boost", 1.0))
    if kind == "term":
        return {str(spec["value"]): boost}, Counter(), 0
    counts = Counter(tokenize_py(spec["query"]))
    weights = {t: float(m) * boost for t, m in counts.items()}
    return weights, counts, int(spec.get("minimum_should_match", 0))


def _count_if(cond: Column) -> Column:
    """Number of rows where `cond` holds, as a sum that folds into the
    aggregation pass beside its siblings (no per-condition scan)."""
    return F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).cast("long")


def _unpivot(row: DataFrame, pairs: list[str], names: str) -> DataFrame:
    """stack() one aggregated row into a row per (SQL expression pair),
    engine-side."""
    return row.select(F.expr(f"stack({len(pairs)}, {', '.join(pairs)}) as ({names})"))


def _min_doc_count(
    buckets: DataFrame, key: str, mdc: int, step: Column | None = None,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """OpenSearch min_doc_count over (key, doc_count) buckets: above 1 it
    drops the smaller buckets; at 0 (the default) it returns the empty
    buckets between the lowest and highest key (widened to `bounds`), from
    one tiny agg and a generated sequence() of keys `step` apart."""
    if mdc > 1:
        return buckets.where(F.col("doc_count") >= mdc)
    if mdc != 0:
        return buckets
    span = buckets.agg(F.min(key).alias("lo"), F.max(key).alias("hi"))
    if bounds is not None:
        span = span.select(
            F.least(F.col("lo"), F.lit(bounds[0])).alias("lo"),
            F.greatest(F.col("hi"), F.lit(bounds[1])).alias("hi"),
        )
    keys = F.sequence("lo", "hi") if step is None else F.sequence("lo", "hi", step)
    return span.select(F.explode(keys).alias(key)).join(buckets, key, "left").select(
        key, F.coalesce("doc_count", F.lit(0)).cast("long").alias("doc_count")
    )


_COMBINE = {
    "multiply": lambda a, b: a * b,
    "sum": lambda a, b: a + b,
    "total": lambda a, b: a + b,
    "avg": lambda a, b: (a + b) / F.lit(2.0),
    "max": F.greatest,
    "min": F.least,
    "replace": lambda a, b: b,
}


def _combine(mode: str, modes: tuple[str, ...], a: Column, b: Column, what: str) -> Column:
    """Two scores combined by `mode`, one of `modes` (function_score's
    boost_mode, rescore's score_mode)."""
    if mode not in modes:
        raise QueryValidationError(f"unknown {what}: {mode}")
    return _COMBINE[mode](a, b)


def _sort_order(sort: list[tuple[str, str]]) -> list[Column]:
    """Sort keys in their directions, docID asc as the final tie-break."""
    return [
        (F.col(c).desc() if d == "desc" else F.col(c).asc()) for c, d in sort
    ] + [F.col("docID").asc()]


def _union(frames: list[DataFrame]) -> DataFrame:
    return functools.reduce(DataFrame.unionByName, frames)


class _Matched(NamedTuple):
    """What an aggregation runs over: the query's full match set as docs
    rows and as a (docID) frame, plus the query and k top_hits re-scores."""

    docs: DataFrame
    ids: DataFrame
    query: dict
    k: int


# aggregation kinds whose body names no top-level 'field'
_FIELDLESS_AGGS = frozenset(
    {"filters", "adjacency_matrix", "top_hits", "composite", "weighted_avg", "global"}
)


@dataclass
class QueryEngine:
    """Executable query surface over index tables + the source docs table.

    `docs` carries the filterable metadata columns (role, tool, ts, …) and
    the display fields for fetch; `tables` are the inverted-index tables.
    `embeddings` (id, vector) enables the dense `neural` query kind — the
    engine analog of the knn_vector field the reference's NeuralQueryBuilder
    targets (query/NeuralQueryBuilder.java:311-325 rewrite to
    KNNQueryBuilder). Scores are cosine similarity; `max_distance` is
    cosine distance 1 − cos (documented divergence: the reference delegates
    the space type to the k-NN plugin's index mapping).
    """

    tables: IndexTables
    docs: DataFrame
    id_col: str = "docID"
    embeddings: DataFrame | None = None
    emb_id_col: str = "docID"
    emb_vec_col: str = "embedding"
    # optional positional index (query/phrase.py build_positional_postings);
    # required only by match_phrase — every other kind ignores it
    positional: DataFrame | None = None
    # optional model registry (query/models.py): lets neural / neural_sparse
    # clauses carry (query_text, model_id) instead of a literal vector /
    # token map, the reference's query-time inference rewrite
    # (NeuralQueryBuilder.java:311-325, NeuralSparseQueryBuilder.java:364-376).
    # Encoding is one driver-side call per request — never per row.
    models: "object | None" = None

    # -- shared pieces of the handlers --------------------------------------
    def _column(self, field, what: str):
        """`field`, if it names a docs column; else QueryValidationError
        listing the columns there are."""
        if field not in self.docs.columns:
            raise QueryValidationError(
                f"unknown {what} field {field!r}; available: {sorted(self.docs.columns)}"
            )
        return field

    def _positional(self, kind: str) -> DataFrame:
        if self.positional is None:
            raise QueryValidationError(
                f"{kind} requires a positional index — construct the engine "
                "with positional=build_positional_postings(docs)"
            )
        return self.positional

    def _empty(self) -> DataFrame:
        return self.docs.sparkSession.createDataFrame([], "docID long, score double")

    def _doc_scores(
        self, cond: Column | None, score: Column, prefilter: DataFrame | None
    ) -> DataFrame:
        """(docID, score) of the docs where `cond` holds (every doc when
        None), each scored by `score`: the constant-score and doc-value
        leaves, whose condition pushes into the docs scan."""
        docs = self.docs if cond is None else self.docs.where(cond)
        base = docs.select(F.col(self.id_col).alias("docID"), score.alias("score"))
        if prefilter is not None:
            base = base.join(prefilter, "docID", "left_semi")
        return base

    def _score(
        self, q: dict, prefilter: DataFrame | None, in_hybrid: bool = False, k: int = 10
    ) -> DataFrame:
        """Parse + compile one query dict → (docID, score) through
        QUERY_KINDS. Malformed input maps to QueryValidationError — the
        fromXContent contract: a query body that is not an object, is
        missing required fields, or carries wrong-typed values is a PARSE
        error, never a raw KeyError/TypeError/AttributeError/ValueError
        escaping to the caller (pinned by tests/test_dsl_fuzz.py)."""
        kind = _one_kind(q, "query")
        handler = QUERY_KINDS.get(kind)
        if handler is None:
            raise QueryValidationError(f"unknown query kind: {kind}")
        try:
            return handler(self, kind, q[kind], prefilter, in_hybrid, k)
        except QueryValidationError:
            raise
        except _MALFORMED as e:
            raise QueryValidationError(
                f"malformed {kind} query: {type(e).__name__}: {e}"
            ) from e

    # -- query handlers: (self, kind, body, prefilter, in_hybrid, k) ---------
    def _match_all(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        return self._doc_scores(None, F.lit(1.0), prefilter)

    def _match_none(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        return self._empty()

    def _ids(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # constant-score membership (OpenSearch IdsQueryBuilder): the
        # literal id list pushes into the docs scan as an In filter
        values = [int(v) for v in body["values"]]
        return self._doc_scores(F.col(self.id_col).isin(values), F.lit(1.0), prefilter)

    def _range(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # top-level range query (OpenSearch RangeQueryBuilder): filter
        # context, constant score × boost. DSL shape
        # {"range": {FIELD: {"gte"/"gt"/"lte"/"lt": v, "boost": b}}}
        field, spec = _single_field(body, "range")
        spec = dict(spec)
        boost = float(spec.pop("boost", 1.0))
        self._column(field, "range")
        cond = filter_condition({"range": {"column": field, **spec}})
        return self._doc_scores(cond, F.lit(boost), prefilter)

    def _terms(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # top-level terms query (TermsQueryBuilder): field → value list,
        # filter context, constant score × boost
        spec = dict(body)
        boost = float(spec.pop("boost", 1.0))
        if len(spec) != 1:
            raise QueryValidationError("terms query must target exactly one field")
        ((field, vals),) = spec.items()
        if not isinstance(vals, (list, tuple)) or not vals:
            raise QueryValidationError("terms query needs a non-empty list of values")
        self._column(field, "terms")
        return self._doc_scores(F.col(field).isin(*list(vals)), F.lit(boost), prefilter)

    def _exists(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # docs with a non-null value for the field (constant score)
        field = self._column(body["field"], "exists")
        return self._doc_scores(F.col(field).isNotNull(), F.lit(1.0), prefilter)

    def _rank_feature(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # Lucene FeatureField queries (OpenSearch rank_feature): score a
        # positive numeric per-doc feature through a monotone transform.
        #   saturation: boost · v/(v + pivot)
        #   log:        boost · ln(scaling_factor + v)
        #   sigmoid:    boost · v^exp/(v^exp + pivot^exp)
        # Docs WITHOUT the feature (NULL or ≤ 0) do not match — like
        # rank_feature, which only matches docs carrying the field.
        field = self._column(body.get("field"), "rank_feature")
        boost = float(body.get("boost", 1.0))
        fns = [f for f in ("saturation", "log", "sigmoid") if f in body]
        if len(fns) != 1:
            raise QueryValidationError(
                "rank_feature needs exactly one of saturation/log/sigmoid"
            )
        v = F.col(field).cast("double")
        if fns[0] == "saturation":
            pivot = float(_req(body["saturation"], "pivot", "rank_feature saturation"))
            if pivot <= 0:
                raise QueryValidationError("saturation pivot must be > 0")
            s = v / (v + F.lit(pivot))
        elif fns[0] == "log":
            sf_ = float(_req(body["log"], "scaling_factor", "rank_feature log"))
            if sf_ < 1:
                raise QueryValidationError("log scaling_factor must be >= 1")
            s = F.log(v + F.lit(sf_))
        else:
            sg = body["sigmoid"]
            pivot = float(_req(sg, "pivot", "rank_feature sigmoid"))
            exp = float(_req(sg, "exponent", "rank_feature sigmoid"))
            if pivot <= 0 or exp <= 0:
                raise QueryValidationError("sigmoid needs pivot > 0 and exponent > 0")
            vp = F.pow(v, F.lit(exp))
            s = vp / (vp + F.lit(pivot**exp))
        return self._doc_scores(v.isNotNull() & (v > 0), F.lit(boost) * s, prefilter)

    def _bool(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        """Lucene BooleanQuery: must/should/must_not/filter +
        minimum_should_match (see query/boolquery.py for the scoring
        model). `must` accepts a single query dict (back-compat) or a
        list; `should`/`must_not` are lists. All-lexical bools run as ONE
        fused postings scan; any other clause mix composes per-clause."""

        def listify(x):
            if x is None:
                return []
            return x if isinstance(x, list) else [x]

        musts = listify(body.get("must"))
        shoulds = listify(body.get("should"))
        must_nots = listify(body.get("must_not"))
        filters = body.get("filter", [])
        cond = None
        for p in filters:
            c = filter_condition(p)
            cond = c if cond is None else cond & c
        fdf = None
        if cond is not None:
            fdf = self.docs.where(cond).select(F.col(self.id_col).alias("docID"))
        if prefilter is not None:
            fdf = prefilter if fdf is None else fdf.join(prefilter, "docID", "left_semi")

        if not musts and not shoulds and not must_nots:
            # filter-only / empty bool: every (filtered) doc matches —
            # back-compat with the previous {"must": match_all} default
            return self._doc_scores(None, F.lit(1.0), fdf)

        msm = default_min_should_match(
            len(musts), len(filters) + (1 if prefilter is not None else 0),
            body.get("minimum_should_match"),
        )
        if msm > len(shoulds):
            # unsatisfiable threshold matches nothing (Lucene semantics)
            return self._empty()

        clause_w = [self._lexical_weights(q) for q in musts + shoulds + must_nots]
        if all(w is not None for w in clause_w) and len(clause_w) <= MAX_BOOL_CLAUSES:
            nm, ns = len(musts), len(shoulds)
            return fused_bool_scores(
                self.tables.postings, self.tables.doclens, self.tables.term_stats,
                self.tables.meta,
                clause_w[:nm], clause_w[nm:nm + ns], clause_w[nm + ns:],
                min_should_match=msm, prefilter=fdf,
            )

        universe = None
        if not musts and not shoulds:
            universe = (
                fdf if fdf is not None
                else self.docs.select(F.col(self.id_col).alias("docID"))
            )
        return compose_bool_scores(
            [self._score(q, fdf, in_hybrid=in_hybrid, k=k) for q in musts],
            [self._score(q, fdf, in_hybrid=in_hybrid, k=k) for q in shoulds],
            [self._score(q, None, in_hybrid=in_hybrid, k=k).select("docID") for q in must_nots],
            min_should_match=msm,
            universe=universe,
        )

    def _lexical(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # match / term: one BM25 scan over the query's term weights.
        # minimum_should_match counts SHOULD clauses, so a term duplicated
        # m times in the query contributes m toward the threshold (Lucene
        # BooleanQuery keeps duplicate clauses)
        weights, counts, msm = _lexical_parse(kind, body)
        return bm25_score_all(
            self.tables.postings, self.tables.doclens, self.tables.term_stats,
            self.tables.meta, weights, prefilter=prefilter,
            min_should_match=msm,
            clause_counts=dict(counts) if msm > 1 else None,
        )

    def _multiterm(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # prefix / wildcard / fuzzy / regexp: expand over the vocabulary
        field, spec = _single_field(body, kind)
        return multiterm_score_all(
            self.tables.postings, self.tables.doclens, self.tables.term_stats,
            self.tables.meta, kind, str(spec["value"]),
            boost=float(spec.get("boost", 1.0)),
            rewrite=spec.get("rewrite", "constant_score"),
            fuzziness=spec.get("fuzziness"),
            prefix_length=int(spec.get("prefix_length", 0)),
            prefilter=prefilter,
        )

    def _match_phrase(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        field, spec = _single_field(body, kind)
        boost = float(spec.get("boost", 1.0))
        slop = int(spec.get("slop", 0))
        terms = tokenize_py(spec["query"])  # ordered, duplicates kept
        if not terms:
            return self._empty()
        positional = self._positional(kind)
        if slop > 0:
            # slop>0 routes to the in-order span matcher (set semantics;
            # Lucene's SloppyPhraseMatcher additionally allows
            # transpositions at cost 2 and weights matches 1/(1+slop) —
            # documented divergence, see query/phrase.py docstring)
            return span_near_scores(
                positional, self.tables.term_stats, self.tables.meta,
                terms, slop=slop, in_order=True, boost=boost, prefilter=prefilter,
            )
        return phrase_scores(
            positional, self.tables.term_stats, self.tables.meta,
            terms, boost=boost, prefilter=prefilter,
        )

    def _match_phrase_prefix(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # {"match_phrase_prefix": {FIELD: {"query": "...", "boost": 1.0,
        #                                  "max_expansions": 50}}}
        # last analyzed token is a prefix (MultiPhraseQuery rewrite)
        field, spec = _single_field(body, kind)
        boost = float(spec.get("boost", 1.0))
        max_exp = int(spec.get("max_expansions", 50))
        terms = tokenize_py(spec["query"])
        if not terms:
            return self._empty()
        positional = self._positional(kind)
        if max_exp < 1:
            raise QueryValidationError("max_expansions must be >= 1")
        return phrase_prefix_scores(
            positional, self.tables.term_stats, self.tables.meta,
            terms, max_expansions=max_exp, boost=boost, prefilter=prefilter,
        )

    def _span_near(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # Lucene SpanNearQuery shape: terms within a slop-bounded window,
        # ordered or unordered. {"span_near": {"field": f, "terms": [...],
        # "slop": n, "in_order": true, "boost": 1.0}}
        positional = self._positional(kind)
        terms = [str(t) for t in body["terms"]]
        if not terms:
            return self._empty()
        return span_near_scores(
            positional, self.tables.term_stats, self.tables.meta,
            terms,
            slop=int(body.get("slop", 0)),
            in_order=bool(body.get("in_order", True)),
            boost=float(body.get("boost", 1.0)),
            prefilter=prefilter,
        )

    def _synonym(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # Lucene SynonymQuery: each group scores as ONE pseudo-term with
        # blended stats (df = max member df, tf = Σ member tf).
        # {"synonym": {"field": f, "groups": [[t, ...], ...],
        #              "boosts": [w, ...], "boost": 1.0}}
        groups = [[str(t) for t in g] for g in body["groups"]]
        outer = float(body.get("boost", 1.0))
        boosts = [float(w) * outer for w in body.get("boosts", [1.0] * len(groups))]
        return synonym_score_all(
            self.tables.postings, self.tables.doclens, self.tables.term_stats,
            self.tables.meta, groups, boosts=boosts, prefilter=prefilter,
        )

    def _function_score(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # OpenSearch function_score with ONE function (the common case;
        # multi-function score_mode composition is out of scope):
        # {"function_score": {"query": q,
        #    "field_value_factor": {"field": f, "factor": 1.0,
        #        "modifier": "none|log1p|ln1p|sqrt|square|reciprocal",
        #        "missing": 1.0},
        #    OR "gauss"|"exp"|"linear": {FIELD: {"origin": x, "scale": s,
        #        "offset": 0, "decay": 0.5}},   # numeric or timestamp
        #    "boost_mode": "multiply|sum|avg|max|min|replace"}}
        base = self._score(body["query"], prefilter, k=k)
        fns = [f for f in ("field_value_factor", "gauss", "exp", "linear") if f in body]
        if len(fns) != 1:
            raise QueryValidationError(
                "function_score needs exactly one of field_value_factor/"
                "gauss/exp/linear"
            )
        fn = fns[0]
        if fn == "field_value_factor":
            spec = body[fn]
            col = F.col(spec["field"]).cast("double")
            missing = float(spec.get("missing", 1.0))
            v = F.coalesce(col, F.lit(missing)) * F.lit(float(spec.get("factor", 1.0)))
            modifier = spec.get("modifier", "none")
            mods = {
                "none": v,
                "log1p": F.log10(v + F.lit(1.0)),
                "ln1p": F.log(v + F.lit(1.0)),
                "sqrt": F.sqrt(v),
                "square": v * v,
                "reciprocal": F.lit(1.0) / v,
            }
            if modifier not in mods:
                raise QueryValidationError(f"unknown modifier: {modifier}")
            fcol = mods[modifier]
        else:
            ((field, spec),) = body[fn].items()
            scale = float(spec["scale"])
            offset = float(spec.get("offset", 0.0))
            decay = float(spec.get("decay", 0.5))
            if scale <= 0 or not 0 < decay < 1:
                raise QueryValidationError("decay needs scale > 0 and 0 < decay < 1")
            col = F.col(field)
            if dict(self.docs.dtypes).get(field) == "timestamp":
                # origin as ISO string/timestamp; distances in seconds
                col = F.unix_timestamp(col).cast("double")
                origin = F.unix_timestamp(F.to_timestamp(F.lit(spec["origin"]))).cast("double")
            else:
                col = col.cast("double")
                origin = F.lit(float(spec["origin"]))
            dist = F.greatest(F.abs(col - origin) - F.lit(offset), F.lit(0.0))
            if fn == "gauss":
                sigma2 = -(scale * scale) / (2.0 * math.log(decay))
                fcol = F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
            elif fn == "exp":
                lam = math.log(decay) / scale
                fcol = F.exp(F.lit(lam) * dist)
            else:  # linear
                s = scale / (1.0 - decay)
                fcol = F.greatest((F.lit(s) - dist) / F.lit(s), F.lit(0.0))
        fields = self.docs.select(F.col(self.id_col).alias("docID"), fcol.alias("_f"))
        j = base.join(fields, "docID")
        score = _combine(
            body.get("boost_mode", "multiply"),
            ("multiply", "sum", "avg", "max", "min", "replace"),
            F.col("score"), F.col("_f"), "boost_mode",
        )
        return j.select("docID", score.alias("score"))

    def _more_like_this(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # {"more_like_this": {"field": f, "like": [docID, ...],
        #   "max_query_terms": 25, "min_term_freq": 2, "min_doc_freq": 5,
        #   "max_doc_freq": N, "include": false, "boost": 1.0}}
        return mlt_score_all(
            self.tables.postings, self.tables.doclens, self.tables.term_stats,
            self.tables.meta, [int(d) for d in body["like"]],
            max_query_terms=int(body.get("max_query_terms", 25)),
            min_term_freq=int(body.get("min_term_freq", 2)),
            min_doc_freq=int(body.get("min_doc_freq", 5)),
            max_doc_freq=body.get("max_doc_freq"),
            include=bool(body.get("include", False)),
            boost=float(body.get("boost", 1.0)),
            prefilter=prefilter,
        )

    def _simple_query_string(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # {"simple_query_string": {"query": '+spark "merge sort" -dup pre*',
        #                          "default_operator": "or"}}
        # parsed to a bool over existing kinds (query/querystring.py);
        # the lexical parts keep the fused single-scan bool plan
        if "query" not in body:
            raise QueryValidationError("simple_query_string needs a 'query' string")
        op = body.get("default_operator", "or")
        if op not in ("or", "and"):
            raise QueryValidationError(f"default_operator must be 'or' or 'and', got {op!r}")
        compiled = parse_simple_query_string(str(body["query"]), op)
        return self._score(compiled, prefilter, in_hybrid=in_hybrid, k=k)

    def _terms_set(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # OpenSearch TermsSetQueryBuilder → Lucene CoveringQuery: a doc
        # matches iff it contains ≥ msm(doc) of the query terms, where
        # msm comes from a PER-DOC field (minimum_should_match_field)
        # or a constant (minimum_should_match); score = Σ BM25 of the
        # matched terms (CoveringQuery sums its matching sub-scorers).
        # msm > |terms| can never match; NULL/≤0 msm behaves as 1.
        field, spec = _single_field(body, "terms_set")
        ts_terms = spec.get("terms")
        if not isinstance(ts_terms, (list, tuple)) or not ts_terms:
            raise QueryValidationError("terms_set needs a non-empty 'terms' list")
        boost = float(spec.get("boost", 1.0))
        msm_field = spec.get("minimum_should_match_field")
        msm_const = spec.get("minimum_should_match")
        if (msm_field is None) == (msm_const is None):
            raise QueryValidationError(
                "terms_set needs exactly one of minimum_should_match_field "
                "or minimum_should_match"
            )
        weights = {str(t): boost for t in ts_terms}
        t = self.tables
        if msm_field is not None:
            self._column(msm_field, "terms_set minimum_should_match")
            per_doc = self.docs.select(
                F.col(self.id_col).alias("docID"), F.col(msm_field).alias("min_match")
            )
            return bm25_score_all(
                t.postings, t.doclens, t.term_stats, t.meta, weights,
                prefilter=prefilter, min_match_per_doc=per_doc,
            )
        return bm25_score_all(
            t.postings, t.doclens, t.term_stats, t.meta, weights,
            prefilter=prefilter, min_should_match=max(int(msm_const), 1),
        )

    def _constant_score(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # Lucene ConstantScoreQuery: wrap any query in filter context —
        # every matching doc scores exactly `boost`, regardless of the
        # inner query's scores (OpenSearch ConstantScoreQueryBuilder)
        if "filter" not in body:
            raise QueryValidationError("constant_score needs a 'filter' query")
        boost = float(body.get("boost", 1.0))
        inner = self._score(body["filter"], prefilter, in_hybrid=in_hybrid, k=k)
        return inner.select("docID").distinct().withColumn("score", F.lit(boost))

    def _dis_max(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # Lucene DisjunctionMaxQuery: per doc, the BEST sub-query score
        # wins, plus tie_breaker × (sum of the others) — the classic
        # multi-field "pick the best field" combiner.
        # {"dis_max": {"queries": [q, ...], "tie_breaker": 0.0,
        #              "boost": 1.0}}
        subs = body.get("queries")
        if not isinstance(subs, list) or not subs:
            raise QueryValidationError("dis_max needs a non-empty 'queries' list")
        tie = float(body.get("tie_breaker", 0.0))
        if not 0.0 <= tie <= 1.0:
            raise QueryValidationError(f"tie_breaker must be in [0, 1], got {tie}")
        boost = float(body.get("boost", 1.0))
        weights = [self._lexical_weights(q) for q in subs]
        if prefilter is None and len(subs) >= 2 and all(w is not None for w in weights):
            # all-lexical disjunction: ONE fused postings scan AND one
            # docID-keyed exchange — per-subquery sums as conditional
            # aggregates (map-side combinable) over the pre-aggregation
            # parts frame, then greatest/sum ACROSS the n columns.
            # A doc not matching sub-query i leaves _s{i} NULL, which
            # greatest() skips — exactly "max over matching sub-scores".
            parts = hybrid_mod.fused_bm25_subquery_parts(self.tables, weights)
            n_subs = len(subs)
            sums = parts.groupBy("docID").agg(
                *[
                    F.sum(F.when(F.col("subquery_idx") == i, F.col("part"))).alias(f"_s{i}")
                    for i in range(n_subs)
                ]
            )
            sub_cols = [F.col(f"_s{i}") for i in range(n_subs)]
            mx = F.greatest(*sub_cols) if n_subs > 1 else sub_cols[0]
            total = sum((F.coalesce(c, F.lit(0.0)) for c in sub_cols), F.lit(0.0))
            return sums.select(
                "docID", ((mx + F.lit(tie) * (total - mx)) * F.lit(boost)).alias("score")
            )
        union = _union([self._score(q, prefilter, in_hybrid=in_hybrid, k=k) for q in subs])
        # each sub-query contributes ≤1 row per doc, so max/sum per
        # docID is exactly DisjunctionMaxQuery's combiner; one shuffle
        agg = union.groupBy("docID").agg(
            F.max("score").alias("_mx"), F.sum("score").alias("_sm")
        )
        return agg.select(
            "docID",
            (
                (F.col("_mx") + F.lit(tie) * (F.col("_sm") - F.col("_mx")))
                * F.lit(boost)
            ).alias("score"),
        )

    def _boosting(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        # Lucene BoostingQuery (OpenSearch BoostingQueryBuilder):
        # positive matches keep their score; docs ALSO matching the
        # negative query are demoted by × negative_boost. The negative
        # query is filter context — only its match SET matters.
        if "positive" not in body or "negative" not in body:
            raise QueryValidationError("boosting needs 'positive' and 'negative' queries")
        nb = float(body.get("negative_boost", 0.5))
        if nb < 0:
            raise QueryValidationError("negative_boost must be >= 0")
        pos = self._score(body["positive"], prefilter, in_hybrid=in_hybrid, k=k)
        neg = (
            self._score(body["negative"], None, in_hybrid=in_hybrid, k=k)
            .select("docID")
            .distinct()
            .withColumn("_neg", F.lit(True))
        )
        j = pos.join(neg, "docID", "left")
        return j.select(
            "docID",
            F.when(F.col("_neg").isNotNull(), F.col("score") * F.lit(nb))
            .otherwise(F.col("score"))
            .alias("score"),
        )

    def _neural_sparse(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        field, spec = _single_field(body, "neural_sparse")
        boost = float(spec.get("boost", 1.0))
        raw_tokens = spec.get("query_tokens")
        if raw_tokens is None:
            # query-time inference: (query_text, model_id) → token weights
            # via the registry (NeuralSparseQueryBuilder.java:364-376)
            if self.models is None or "query_text" not in spec or not spec.get("model_id"):
                raise QueryValidationError(
                    "neural_sparse needs query_tokens, or query_text + "
                    "model_id with a model registry on the engine "
                    "(QueryEngine(models=...))"
                )
            raw_tokens = self.models.encode_sparse(spec["model_id"], spec["query_text"])
        tokens = {t: float(w) * boost for t, w in raw_tokens.items()}
        weights_df = self.tables.postings.select(
            "term", "docID", F.col("tf").cast("double").alias("weight")
        )
        if prefilter is not None:
            weights_df = weights_df.join(prefilter, "docID", "left_semi")
        if "two_phase" in spec:
            tp = spec["two_phase"] or {}
            high, low = split_query_tokens(tokens, tp.get("prune_ratio", PRUNE_RATIO))
            # window = k × expansion_rate, capped (NeuralSparseTwoPhase
            # Processor.java:212-231: size × 5.0, max 10 000)
            window = min(
                int(k * tp.get("expansion_rate", EXPANSION_RATE)),
                tp.get("max_window_size", MAX_WINDOW_SIZE),
            )
            p1 = sparse_scores(weights_df, high, quantize=True)
            win = p1.orderBy(F.col("score").desc(), F.col("docID").asc()).limit(window)
            if low:
                lows = sparse_scores(
                    weights_df.join(win.select("docID"), "docID", "left_semi"), low, quantize=True
                ).withColumnRenamed("score", "low_score")
                return win.join(lows, "docID", "left").select(
                    "docID",
                    (F.col("score") + F.coalesce(F.col("low_score"), F.lit(0.0))).alias("score"),
                )
            return win
        return sparse_scores(weights_df, tokens, quantize=True)

    def _neural(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        """Dense `neural` query → (docID, score). Reference semantics
        (query/NeuralQueryBuilder.java:86,300-354): k defaults to 10 and is
        mutually exclusive with the radial params max_distance / min_score;
        an attached `filter` restricts candidates during the vector search
        (filtered kNN), not after it. The scan is a JVM-side codegen'd
        cosine fold over the embeddings table (ops.similarity), bounded by
        TakeOrderedAndProject in k-mode; at scale swap the embeddings input
        for an lsh_index-bucketed table and pre-filter with probe_buckets.

        `rescore` (k-mode only) is the reference's rescoreContext
        oversampling knob (query/NeuralQueryBuilder.java:106-107,300-354):
        the ANN stage retrieves k × oversample_factor candidates from the
        LSH probe set (the `bucket` column built by ops.similarity
        .lsh_index, or computed on the fly), then the final exact cosine
        re-rank keeps k. At scale the probe is an IN-list partition filter
        over the bucketed table, so the exact fold touches only the
        oversampled window — not the corpus.
        """
        from neural_search_spark.ops.similarity import _dot, _norm

        field, spec = _single_field(body, "neural")
        if self.embeddings is None:
            raise QueryValidationError(
                "neural query requires an embeddings table on the engine "
                "(QueryEngine(embeddings=...))"
            )
        qv = spec.get("query_vector")
        if qv is None:
            # query-time inference: (query_text, model_id) → dense vector via
            # the registry (NeuralQueryBuilder.java:311-325 rewrite)
            if self.models is None or "query_text" not in spec or not spec.get("model_id"):
                raise QueryValidationError(
                    "neural query needs a literal query_vector, or query_text "
                    "+ model_id with a model registry on the engine "
                    "(QueryEngine(models=...))"
                )
            qv = self.models.encode_dense(spec["model_id"], spec["query_text"])
        boost = float(spec.get("boost", 1.0))
        modes = [p for p in ("k", "max_distance", "min_score") if p in spec]
        if len(modes) > 1:
            raise QueryValidationError(
                "only one of k, max_distance, min_score is allowed "
                "(NeuralQueryBuilder.java:300-354)"
            )
        emb = self.embeddings.select(
            F.col(self.emb_id_col).alias("docID"), F.col(self.emb_vec_col).alias("_vec")
        )
        if "filter" in spec:
            fdf = self.docs.where(filter_condition(spec["filter"])).select(
                F.col(self.id_col).alias("docID")
            )
            emb = emb.join(fdf, "docID", "left_semi")
        if prefilter is not None:
            emb = emb.join(prefilter, "docID", "left_semi")
        if "rescore" in spec:
            if modes and "k" not in spec:
                raise QueryValidationError(
                    "rescore requires k-mode (radial search has no candidate window)"
                )
            kk = int(spec.get("k", 10))
            return self._neural_rescore(emb, qv, spec["rescore"], kk, boost)
        q = F.array(*[F.lit(float(x)) for x in qv])
        cos = _dot(F.col("_vec"), q) / (_norm(F.col("_vec")) * _norm(q))
        scored = emb.select("docID", cos.alias("_cos"))
        if "min_score" in spec:
            scored = scored.where(F.col("_cos") >= float(spec["min_score"]))
        elif "max_distance" in spec:
            scored = scored.where((F.lit(1.0) - F.col("_cos")) <= float(spec["max_distance"]))
        out = scored.select("docID", (F.col("_cos") * F.lit(boost)).alias("score"))
        if not modes or "k" in spec:
            kk = int(spec.get("k", 10))  # DEFAULT_K (NeuralQueryBuilder.java:86)
            out = out.orderBy(F.col("score").desc(), F.col("docID").asc()).limit(kk)
        return out

    def _hybrid(self, kind, body, prefilter, in_hybrid, k) -> DataFrame:
        if in_hybrid:
            raise QueryValidationError(
                "hybrid query must be top-level (HybridQueryPhaseSearcher.java:123-148)"
            )
        raise QueryValidationError("use search() for hybrid queries")

    def _neural_rescore(
        self, emb: DataFrame, qv: list, rescore: dict, k: int, boost: float
    ) -> DataFrame:
        """Oversample-then-exact-re-rank ANN (rescoreContext analog):
        stage 1 probes the sign-LSH buckets within `probe_hamming` bit
        flips of the query bucket and keeps the k × oversample_factor
        coarsest-ranked candidates (bucket hamming asc, docID asc — the
        cheap approximate ordering; at scale the probe is a partition
        IN-list over a pre-bucketed table); stage 2 computes the exact
        cosine only on that window and keeps k. oversample_factor bounds
        follow the reference (RescoreContext 1.0..100.0)."""
        from neural_search_spark.ops.similarity import (
            _dot,
            _norm,
            lsh_bucket_col,
            probe_buckets,
            query_bucket,
        )

        over = float(rescore.get("oversample_factor", 1.0))
        if not 1.0 <= over <= 100.0:
            raise QueryValidationError(
                "oversample_factor must be in [1.0, 100.0] (RescoreContext bounds)"
            )
        n_planes = int(rescore.get("n_planes", 8))
        probe_hamming = int(rescore.get("probe_hamming", 2))
        window = max(math.ceil(k * over), k)
        qb = query_bucket([float(x) for x in qv], n_planes)
        bucket = (
            F.col("bucket")
            if "bucket" in emb.columns
            else lsh_bucket_col(F.col("_vec"), len(qv), n_planes)
        )
        probes = probe_buckets(qb, n_planes, probe_hamming)
        cand = (
            emb.withColumn("_b", bucket)
            .where(F.col("_b").isin(probes))
            .withColumn(
                "_ham", F.bit_count(F.col("_b").cast("long").bitwiseXOR(F.lit(qb).cast("long")))
            )
        )
        windowed = cand.orderBy(F.col("_ham").asc(), F.col("docID").asc()).limit(window)
        q = F.array(*[F.lit(float(x)) for x in qv])
        cos = _dot(F.col("_vec"), q) / (_norm(F.col("_vec")) * _norm(q))
        exact = windowed.select("docID", (cos * F.lit(boost)).alias("score"))
        return exact.orderBy(F.col("score").desc(), F.col("docID").asc()).limit(k)

    def score(self, query: dict, k: int = 10) -> DataFrame:
        """Public unranked scoring surface → (docID, score): validates and
        scores a non-hybrid DSL query WITHOUT top-k truncation or rank
        assignment — the radial-search return shape (a `neural` query in
        min_score / max_distance mode returns every doc past the threshold,
        unranked and unbounded; NeuralQueryBuilder.java:300-354). For
        ranked retrieval use search(); for hybrid use search() (hybrid has
        no unranked form — its scores only exist after normalization)."""
        kind = _one_kind(query, "query")
        if kind == "hybrid":
            raise QueryValidationError(
                "hybrid has no unranked scoring surface — use search()"
            )
        return self._score(query, None, k=k)

    def _validate_hybrid(self, body: dict) -> list[dict]:
        subs = body.get("queries", [])
        if not 1 <= len(subs) <= MAX_SUBQUERIES:
            raise QueryValidationError(
                f"hybrid supports 1..{MAX_SUBQUERIES} sub-queries (HybridQueryBuilder.java:56)"
            )
        if "boost" in body and float(body["boost"]) != 1.0:
            raise QueryValidationError(
                "hybrid query does not support boost (HybridQueryBuilder.java:64-66)"
            )
        for sub in subs:
            if next(iter(sub)) == "hybrid":
                raise QueryValidationError("hybrid cannot nest hybrid")
        return subs

    @staticmethod
    def _lexical_weights(sub: dict) -> dict[str, float] | None:
        """If `sub` is a plain lexical query (match/term, no bool wrapper),
        its BM25 term-weight dict; else None. Used to route all-lexical
        bools, hybrids, dis_max and msearch through the fused single-scan
        scorers. A malformed `sub` is not lexical: it takes the generic
        path, whose parse reports the error."""
        if not isinstance(sub, dict) or len(sub) != 1:
            return None
        (kind,) = sub.keys()
        if kind not in ("match", "term"):
            return None
        try:
            weights, _, msm = _lexical_parse(kind, sub[kind])
        except _MALFORMED:  # incl. QueryValidationError
            return None
        # msm is a per-doc clause-count constraint the weight-sum fusion
        # cannot express — generic path
        return None if msm > 1 else weights

    def _validate_sort(self, sort) -> None:
        """Sort-criteria validation (FieldSortBuilder parse-time analog):
        reject unknown fields and bad directions up front instead of a late
        AnalysisException from the metadata join."""
        for c, d in sort:
            if d not in ("asc", "desc"):
                raise QueryValidationError(
                    f"sort direction must be 'asc' or 'desc', got {d!r} for field {c!r}"
                )
            if c != self.id_col:
                self._column(c, "sort")

    @staticmethod
    def _cursor_condition(sort, search_after):
        """Lexicographic (sortkeys[, docID]) > cursor — PagingFieldCollector
        .java:88-95: when every sort key ties, skip only docs <= the cursor
        doc, so rows tied on the sort keys but with a later docID stay
        eligible."""
        if len(search_after) not in (len(sort), len(sort) + 1):
            raise QueryValidationError(
                "search_after cursor must carry one value per sort key, "
                "plus optionally the cursor docID as the final element"
            )
        cond = None
        prev_eq = F.lit(True)
        for (c, d), cur in zip(sort, search_after):
            this = (F.col(c) < F.lit(cur)) if d == "desc" else (F.col(c) > F.lit(cur))
            step = prev_eq & this
            cond = step if cond is None else cond | step
            prev_eq = prev_eq & (F.col(c) == F.lit(cur))
        if len(search_after) == len(sort) + 1:
            cond = cond | (prev_eq & (F.col("docID") > F.lit(search_after[-1])))
        return cond

    def _hybrid_subquery_scores(
        self,
        body: dict,
        k: int,
        sort: list[tuple[str, str]] | None = None,
        search_after: list | None = None,
    ) -> DataFrame:
        """(subquery_idx, docID, score) for every hybrid sub-query.

        All-lexical hybrids take the FUSED path: one IN-list-pushed postings
        scan + one (subquery_idx, docID) shuffle scores every sub-query
        (hybrid.fused_bm25_subquery_scores) — n separate bm25_score_all
        calls would scan the postings n times at corpus scale. Mixed
        lexical/neural hybrids score each non-lexical sub-query on its own
        source; the lexical subset still shares one fused scan.

        With `sort`, each sub-query's bounded window competes on the SORT
        criteria instead of the score (HybridTopFieldDocSortCollector's
        FieldValueHitQueue; ScoreCombiner.java:100-103 then merges
        TopFieldDocs by the sort) — a low-scoring match with a winning sort
        key MUST enter the window. A `search_after` cursor filters each
        sub-query's matches BEFORE the bound (PagingFieldCollector skips
        pre-cursor docs at collect time), so page n+1 draws fresh docs into
        every window rather than paging within page 1's windows."""
        subs = self._validate_hybrid(body)
        sub_k = body.get("subquery_k", k)
        lex = [(idx, self._lexical_weights(sub)) for idx, sub in enumerate(subs)]
        fused_idx = [(idx, w) for idx, w in lex if w is not None]
        by_sort = bool(sort)
        per = []
        if len(fused_idx) >= 2:
            fused = hybrid_mod.fused_bm25_subquery_scores(
                self.tables, [w for _, w in fused_idx]
            )
            # remap positional fused indexes back to the sub-query slots
            mapping = F.array(*[F.lit(idx) for idx, _ in fused_idx])
            fused = fused.select(
                F.element_at(mapping, F.col("subquery_idx") + 1).alias("subquery_idx"),
                "docID",
                "score",
            )
            per.append(fused if by_sort else hybrid_mod.per_subquery_topk(fused, sub_k))
            rest = [(idx, sub) for idx, sub in enumerate(subs) if lex[idx][1] is None]
        else:
            rest = list(enumerate(subs))
        for idx, sub in rest:
            s = self._score(sub, None, in_hybrid=True, k=sub_k)
            tagged = s.select(F.lit(idx).alias("subquery_idx"), "docID", "score")
            per.append(
                tagged if by_sort else hybrid_mod.bounded_subquery_union([tagged], sub_k)
            )
        union = _union(per)
        if not by_sort:
            return union
        self._validate_sort(sort)
        fields = [c for c, _ in sort if c != self.id_col]
        meta = self.docs.select(F.col(self.id_col).alias("docID"), *fields)
        joined = union.join(meta, "docID")
        if search_after is not None:
            joined = joined.where(self._cursor_condition(sort, search_after))
        return hybrid_mod.per_subquery_topk(joined, sub_k, order=_sort_order(sort)).select(
            "subquery_idx", "docID", "score"
        )

    def search(
        self,
        query: dict,
        k: int = 10,
        post_filter: dict | None = None,
        sort: list[tuple[str, str]] | None = None,
        search_after: list | None = None,
        from_: int = 0,
        collapse: str | None = None,
        inner_hits: int = 1,
        rescore: dict | None = None,
    ) -> DataFrame:
        """Execute a DSL query → (rank, docID, score).

        `post_filter` restricts the CANDIDATES, not the result list: scores
        and collection stats are computed globally, then non-passing docs are
        dropped BEFORE top-k selection, so the caller gets k *passing* hits
        whose scores are identical to an unfiltered run — FilteredCollector
        wraps the collector, non-passing docs are never collected
        (search/query/HybridCollectorManager.java:121-127).

        `sort` is a list of (docs-column, 'asc'|'desc'); `search_after` a
        cursor of sort-key values, optionally followed by a final docID
        element. The reference's PagingFieldCollector skips doc <= afterDoc
        only when every sort key ties (PagingFieldCollector.java:88-95), so
        a cursor that includes the docID pages through sort-key ties instead
        of silently skipping them.

        `from_` is the offset analog; the reference REJECTS nonzero from
        for hybrid queries (HybridQueryPhaseSearcher.java:51-73) and so do
        we; for non-hybrid queries the first `from_` ranked hits are
        skipped (ranks renumber from 1, as a paging client expects).

        `collapse` names a docs column: one best hit per distinct value
        (CollapsingTopDocsCollector), `inner_hits` top hits kept per group;
        incompatible with sort/search_after/from_, like OpenSearch.

        `rescore` re-ranks the top `window_size` primary hits with a
        second query (Lucene QueryRescorer):
        {"window_size": 50, "query": dsl, "query_weight": 1.0,
         "rescore_query_weight": 1.0, "score_mode": "total"} — modes
        total/multiply/avg/max/min over the weighted scores; a window doc
        the rescore query does not match keeps primary·query_weight
        (QueryRescorer.combine). The secondary query sees only the window
        docs (prefilter), so its postings work is window-bounded.
        Incompatible with sort, like OpenSearch; requires k ≤ window."""
        kind = _one_kind(query, "query")
        if from_ < 0:
            raise QueryValidationError("from_ must be >= 0")
        if kind == "hybrid":
            if from_ != 0:
                raise QueryValidationError(
                    "hybrid query does not support nonzero from "
                    "(HybridQueryPhaseSearcher.java:51-73) — use search_after"
                )
            body = query[kind]
            # per-sub-query results bounded by top-k BEFORE the union — the
            # reference's per-sub-query bounded heap (HybridTopScoreDoc
            # Collector.java:126-133); all-lexical sub-queries share ONE
            # fused postings scan (see _hybrid_subquery_scores)
            bounded = self._hybrid_subquery_scores(
                body, k, sort=sort, search_after=search_after
            )
            normalized = hybrid_mod.normalize_scores(bounded, body.get("normalization", "min_max"))
            scored = hybrid_mod.combine_scores(
                normalized,
                len(body.get("queries", [])),
                body.get("combination", "arithmetic_mean"),
                body.get("weights"),
            )
        else:
            scored = self._score(query, None, k=k)

        if post_filter is not None:
            # candidate restriction BEFORE top-k: scores/stats stay global,
            # non-passing docs never enter the collector
            # (FilteredCollector, HybridCollectorManager.java:121-127)
            keep = self.docs.where(filter_condition(post_filter)).select(
                F.col(self.id_col).alias("docID")
            )
            scored = scored.join(keep, "docID", "left_semi")

        if rescore is not None:
            if sort:
                raise QueryValidationError("rescore is incompatible with sort")
            window_size = int(rescore.get("window_size", max(k, 10)))
            if k > window_size:
                raise QueryValidationError(
                    f"k={k} exceeds rescore window_size={window_size}"
                )
            qw = float(rescore.get("query_weight", 1.0))
            rqw = float(rescore.get("rescore_query_weight", 1.0))
            window = (
                scored.orderBy(F.col("score").desc(), F.col("docID").asc())
                .limit(window_size)
                .select("docID", (F.col("score") * F.lit(qw)).alias("_p"))
            )
            sec = self._score(
                rescore["query"], window.select("docID"), k=window_size
            ).select("docID", (F.col("score") * F.lit(rqw)).alias("_s"))
            j = window.join(sec, "docID", "left")
            p, s = F.col("_p"), F.col("_s")
            combined = _combine(
                rescore.get("score_mode", "total"),
                ("total", "multiply", "avg", "max", "min"),
                p, s, "rescore score_mode",
            )
            # QueryRescorer.combine: a window doc the rescore query does
            # not match keeps primary·query_weight unchanged
            scored = j.select("docID", F.when(s.isNull(), p).otherwise(combined).alias("score"))

        if collapse is not None:
            if sort or search_after or from_:
                raise QueryValidationError(
                    "collapse is incompatible with sort/search_after/from_"
                )
            self._column(collapse, "collapse")
            return collapse_topk(
                scored, self.docs, collapse, k=k, inner_hits=inner_hits,
                id_col=self.id_col,
            )

        if sort:
            self._validate_sort(sort)
            meta_cols = self.docs.withColumnRenamed(self.id_col, "_did")
            joined = scored.join(meta_cols, scored.docID == F.col("_did"))
            order = _sort_order(sort)
            if search_after is not None:
                joined = joined.where(self._cursor_condition(sort, search_after))
            w = Window.orderBy(*order)
            result = (
                joined.orderBy(*order).limit(from_ + k)
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") > from_)
                .withColumn("rank", F.col("rank") - F.lit(from_))
                .select("rank", "docID", "score", *[c for c, _ in sort])
            )
        else:
            result = topk(scored, from_ + k)
            if from_:
                result = result.where(F.col("rank") > from_).withColumn(
                    "rank", F.col("rank") - F.lit(from_)
                )
        return result

    def search_groups(
        self,
        query: dict,
        by: str,
        k: int = 10,
        score_mode: str = "max",
        inner_hits: int = 0,
    ) -> DataFrame:
        """Group-level retrieval (query/grouping.py): rank GROUPS of docs —
        conversations for transcripts (`by='conv_id'`) — by their members'
        combined scores under ToParentBlockJoinQuery ScoreMode semantics
        (max/sum/avg/min/none). `inner_hits` > 0 adds the best members per
        winning group. Not defined for hybrid queries (whose normalized
        scores are rank fusions, not member scores)."""
        kind = _one_kind(query, "query")
        if kind == "hybrid":
            raise QueryValidationError(
                "search_groups does not accept hybrid queries — group the "
                "combined result yourself if rank-fusion grouping is intended"
            )
        self._column(by, "group")
        try:
            return group_topk(
                self._score(query, None, k=k), self.docs, by, k=k,
                score_mode=score_mode, inner_hits=inner_hits,
                id_col=self.id_col,
            )
        except ValueError as e:
            raise QueryValidationError(str(e)) from e

    def msearch(self, queries: list[dict], k: int = 10) -> DataFrame:
        """Multi-search — the _msearch API analog, returning
        (query_id, rank, docID, score) for the whole request list.

        Routing: when EVERY query is a plain lexical match/term (no
        minimum_should_match > 1), the batch compiles to ONE postings scan
        — the bm25_parts kernel over the driver-built query rows, then
        batch.per_query_topk (the 8×-amortization path — §5 of BENCH.md);
        anything else falls back to per-query search() unioned
        with its query_id, which is what the reference does for every
        request anyway (one query per request, HybridQueryExecutor)."""
        if not queries:
            raise QueryValidationError("msearch needs at least one query")

        parsed = [self._lexical_weights(q) for q in queries]
        if all(p is not None for p in parsed):
            from neural_search_spark.query.batch import per_query_topk

            rows = [
                (t, w, qid)
                for qid, weights in enumerate(parsed)
                for t, w in sorted(weights.items())
            ]
            q = local_frame(
                self.docs.sparkSession, rows, "q_term string, q_weight double, query_id long"
            )
            t = self.tables
            parts = bm25_parts(
                t.postings, t.doclens, t.term_stats, t.meta, q, terms=[r[0] for r in rows]
            )
            scores = parts.groupBy("query_id", "docID").agg(F.sum("part").alias("score"))
            return per_query_topk(scores, k).select("query_id", "rank", "docID", "score")
        out = _union([
            self.search(q, k=k).withColumn("query_id", F.lit(qid).cast("long"))
            for qid, q in enumerate(queries)
        ])
        return out.select("query_id", "rank", "docID", "score")

    def search_json(self, query_json: str, **kwargs) -> DataFrame:
        """JSON-string query surface — the fromXContent analog
        (query/HybridQueryBuilder.java:149-223 etc.): parse, validate, and
        execute. `kwargs` pass through to search()."""
        import json

        try:
            query = json.loads(query_json)
        except json.JSONDecodeError as e:
            raise QueryValidationError(f"malformed query JSON: {e}") from e
        if not isinstance(query, dict):
            raise QueryValidationError("query JSON must be an object")
        return self.search(query, **kwargs)

    def _match_set(self, query: dict) -> DataFrame:
        """(docID) distinct match set of a query — the doc set aggregations
        and total-hit counting run over (HybridAggregationProcessor.java:
        31-65: aggs see the query's FULL match set, not the top-k).

        For a hybrid query the match set is the UNION of the sub-queries'
        match sets. All-lexical hybrids need only ONE postings scan: a doc
        matches some sub-query iff it contains ≥1 term of the combined
        term set, so the union collapses to a single IN-list-pushed scan +
        distinct — no per-sub-query scoring at all. Mixed hybrids union
        each non-lexical sub-query's scored doc set on top."""
        kind = _one_kind(query, "query")
        if kind != "hybrid":
            return self._score(query, None).select("docID")
        subs = self._validate_hybrid(query[kind])
        lex = [(idx, self._lexical_weights(sub)) for idx, sub in enumerate(subs)]
        parts = []
        all_terms = sorted({t for _, w in lex if w is not None for t in w})
        if all_terms:
            parts.append(
                self.tables.postings.where(F.col("term").isin(all_terms)).select("docID")
            )
        for idx, sub in enumerate(subs):
            if lex[idx][1] is None:
                parts.append(self._score(sub, None, in_hybrid=True).select("docID"))
        return _union(parts).distinct()

    def count_hits(self, query: dict, track_total_hits: int = 10_000) -> tuple[int, str]:
        """Total-hit counting with a threshold relation — the deterministic
        analog of the reference's early-terminated counting
        (search/HitsThresholdChecker.java:17-40,
        HybridTopScoreDocCollector.java:109-125): exact (n, 'eq') while n ≤
        track_total_hits, else (track_total_hits, 'gte'). The scan is
        bounded by limit(threshold+1) — Catalyst pushes the limit, so the
        count never materializes more than threshold+1 rows per partition.
        Composes with hybrid queries (counts the union of sub-query match
        sets, matching the reference's hybrid total-hits semantics)."""
        if track_total_hits < 0:
            raise QueryValidationError("track_total_hits must be >= 0")
        matched = self._match_set(query)
        n = matched.limit(track_total_hits + 1).count()
        if n > track_total_hits:
            return track_total_hits, "gte"
        return n, "eq"

    def search_with_aggs(
        self,
        query: dict,
        aggs: dict,
        k: int = 10,
        post_filter: dict | None = None,
    ) -> tuple[DataFrame, dict[str, DataFrame]]:
        """Search + aggregations in one request — the
        HybridAggregationProcessor composition (search/query/
        HybridAggregationProcessor.java:31-65): aggregations run over the
        query's FULL match set, NOT the top-k, and post_filter does not
        affect them (it only filters the hit list) — matching OpenSearch's
        post_filter/agg contract.

        `aggs` spec (a subset of the reference surface)::

            {"by_lang": {"terms": {"field": "lang"}},
             "mean_len": {"avg": {"field": "n_chars"}},
             "total":    {"sum"|"min"|"max"|"count": {"field": c}},
             "by_hour":  {"date_histogram": {"field": "ts",
                                             "calendar_interval": "hour",
                                             "min_doc_count": 0}},
             "len_rng":  {"range": {"field": "n_chars", "ranges": [
                             {"to": 100}, {"from": 100, "to": 200},
                             {"from": 200}]}},
             "len_hist": {"histogram": {"field": "n_chars", "interval": 50,
                             "offset": 0, "min_doc_count": 0,
                             "extended_bounds": {"min": 0, "max": 400}}},
             "kinds":    {"filters": {"filters": {
                             "short": {"range": {"column": "n_chars", "lt": 100}},
                             "en": {"eq": ["lang", "en"]}}}},
             "best":     {"top_hits": {"group_by": "source", "size": 2}},
             "adj":      {"adjacency_matrix": {"filters": {...}}},
             "dr":       {"date_range": {"field": "ts", "ranges": [
                             {"to": "2024-01-01 06:00:00"}, ...]}},
             "miss":     {"missing": {"field": c}},
             "wavg":     {"weighted_avg": {"value": {"field": v},
                                           "weight": {"field": w}}},
             "page":     {"composite": {"sources": [
                             {"src": {"terms": {"field": "source"}}},
                             {"lg": {"terms": {"field": "lang"}}}],
                             "size": 10, "after": {"src": "a", "lg": "en"}}}}

        Each kind is built by its AGG_KINDS handler. The spec shape and the
        'field' (a docs column) are checked at that lookup, and a malformed
        body raises QueryValidationError, as a malformed query does.

        date_histogram buckets by date_trunc; with min_doc_count=0 (the
        OpenSearch default) empty buckets between the observed min and max
        keys are filled via a generated sequence — no driver-side loop.
        range buckets follow OpenSearch: `from` inclusive, `to` exclusive,
        overlapping ranges each count the doc, keys formatted
        "from-to"/"*-to"/"from-*"; one conditional-sum pass, no join.

        Returns (hits, {agg_name: DataFrame}). Each agg is a native
        Catalyst hash-agg over matching docs (partial + final).

        Composes with HYBRID queries — the HybridAggregationProcessor case:
        aggs run over the union of the sub-queries' match sets (one fused
        postings scan for the lexical subset, see _match_set), while the
        hit list is the normalized/combined hybrid top-k.
        """
        out = self._aggregate(query, aggs, k)
        return self.search(query, k=k, post_filter=post_filter), out

    def _aggregate(self, query: dict, aggs: dict, k: int) -> dict[str, DataFrame]:
        """{agg_name: DataFrame} of `aggs` over the match set of `query`,
        each built by its AGG_KINDS handler."""
        if not isinstance(aggs, dict):
            raise QueryValidationError(
                f"aggs must be an object of {{name: {{kind: body}}}}, got {type(aggs).__name__}"
            )
        matched = self._match_set(query)
        match_docs = self.docs.join(
            matched.select(F.col("docID").alias("_match_id")),
            self.docs[self.id_col] == F.col("_match_id"),
            "left_semi",
        )
        on = _Matched(match_docs, matched, query, k)
        out: dict[str, DataFrame] = {}
        for name, spec in aggs.items():
            kind = _one_kind(spec, f"aggregation {name!r}")
            handler = AGG_KINDS.get(kind)
            if handler is None:
                raise QueryValidationError(f"unknown aggregation kind: {kind}")
            body = spec[kind]
            field = body.get("field")
            if kind not in _FIELDLESS_AGGS:
                if field is None:
                    raise QueryValidationError(f"{kind} aggregation needs a 'field'")
                self._column(field, f"{kind} aggregation")
            try:
                out[name] = handler(self, kind, body, field, on)
            except QueryValidationError:
                raise
            except _MALFORMED as e:
                raise QueryValidationError(
                    f"malformed {kind} aggregation {name!r}: {type(e).__name__}: {e}"
                ) from e
        return out

    # -- aggregation handlers: (self, kind, body, field, on) -----------------
    def _agg_terms(self, kind, body, field, on: _Matched) -> DataFrame:
        # OpenSearch terms agg: `size` bounds the bucket list (default:
        # unbounded here — callers wanting the full list omit size),
        # ordered by doc_count desc / key asc (`order` accepts "count" |
        # "key"); `missing` buckets NULL keys under a stand-in value
        # instead of dropping them
        missing = body.get("missing")
        key_col = F.col(field)
        if missing is not None:
            key_col = F.coalesce(key_col, F.lit(missing))
        buckets = on.docs.groupBy(key_col.alias("key")).agg(
            F.count("*").cast("long").alias("doc_count")
        )
        if missing is None:
            buckets = buckets.where(F.col("key").isNotNull())
        size = body.get("size")
        if size is not None:
            order = body.get("order", "count")
            if order == "count":
                ordering = [F.col("doc_count").desc(), F.col("key").asc()]
            elif order == "key":
                ordering = [F.col("key").asc()]
            else:
                raise QueryValidationError(
                    f"terms agg order must be 'count' or 'key', got {order!r}"
                )
            buckets = buckets.orderBy(*ordering).limit(int(size))
        return buckets

    def _agg_metric(self, kind, body, field, on: _Matched) -> DataFrame:
        # avg / sum / min / max / count of the field over the match set
        fn = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max, "count": F.count}[kind]
        return on.docs.agg(fn(field).alias("value"))

    def _agg_date_histogram(self, kind, body, field, on: _Matched) -> DataFrame:
        interval = body.get("calendar_interval", "hour")
        if interval not in ("hour", "day", "week", "month", "year", "minute"):
            raise QueryValidationError(f"unsupported calendar_interval: {interval}")
        buckets = on.docs.groupBy(F.date_trunc(interval, F.col(field)).alias("key")).agg(
            F.count("*").cast("long").alias("doc_count")
        )
        return _min_doc_count(
            buckets, "key", int(body.get("min_doc_count", 0)),
            step=F.expr(f"INTERVAL 1 {interval}"),
        )

    def _agg_range(self, kind, body, field, on: _Matched) -> DataFrame:
        # date_range = range over a timestamp field with ISO-string
        # bounds (from inclusive, to exclusive, same one-pass
        # conditional counting); keys render the given strings
        ranges = _req(body, "ranges", f"{kind} agg")
        if not ranges:
            raise QueryValidationError(f"{kind} agg needs at least one range")
        is_date = kind == "date_range"
        if is_date and dict(self.docs.dtypes).get(field) != "timestamp":
            raise QueryValidationError(f"date_range field {field!r} must be a timestamp column")

        def bound(v):
            return F.to_timestamp(F.lit(v)) if is_date else F.lit(v)

        cols, keys = [], []
        for r in ranges:
            lo, hi = r.get("from"), r.get("to")
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(field) >= bound(lo))
            if hi is not None:
                cond = cond & (F.col(field) < bound(hi))
            keys.append(f"{lo if lo is not None else '*'}-{hi if hi is not None else '*'}")
            cols.append(_count_if(cond).alias(f"_r{len(cols)}"))
        return _unpivot(
            on.docs.agg(*cols), [f"'{k}', _r{i}" for i, k in enumerate(keys)], "key, doc_count"
        )

    def _agg_cardinality(self, kind, body, field, on: _Matched) -> DataFrame:
        # OpenSearch's cardinality is HLL-approximate; we return the
        # EXACT distinct count by default (documented divergence —
        # exactness is checkable against the oracle) and expose the
        # approximate variant via precision_threshold=0 → Spark's
        # HLL++ (approx_count_distinct), the true OpenSearch analog
        if int(body.get("precision_threshold", -1)) == 0:
            return on.docs.agg(F.approx_count_distinct(field).cast("long").alias("value"))
        return on.docs.agg(F.count_distinct(field).cast("long").alias("value"))

    def _agg_percentiles(self, kind, body, field, on: _Matched) -> DataFrame:
        # exact continuous percentiles (linear interpolation — the
        # same definition as DuckDB quantile_cont); OpenSearch uses
        # t-digest approximation (documented divergence). percents
        # default mirrors OpenSearch: 1, 5, 25, 50, 75, 95, 99.
        percents = [float(p) for p in body.get("percents", [1, 5, 25, 50, 75, 95, 99])]
        if not percents or any(p < 0 or p > 100 for p in percents):
            raise QueryValidationError("percents must be within [0, 100]")
        row = on.docs.agg(
            *[
                F.percentile(F.col(field), F.lit(p / 100.0)).alias(f"_p{i}")
                for i, p in enumerate(percents)
            ]
        )
        return _unpivot(row, [f"{p!r}D, _p{i}" for i, p in enumerate(percents)], "percent, value")

    def _agg_significant_terms(self, kind, body, field, on: _Matched) -> DataFrame:
        # OpenSearch significant_terms with the JLH heuristic:
        # terms over-represented in the query's match set (foreground)
        # vs the whole index (background). score = (fg% − bg%) ·
        # (fg% / bg%); only fg% > bg% terms qualify. field equal to
        # the indexed text column analyzes against the POSTINGS
        # (term-level significance); any other field compares the
        # docs column's value distributions. Everything stays lazy:
        # foreground/background totals ride in as 1-row crossJoins.
        size = int(body.get("size", 10))
        fg_total = on.ids.agg(F.count("*").alias("_fgN"))
        if field == body.get("text_field", "text"):
            fg = (
                self.tables.postings.join(on.ids.select("docID"), "docID", "left_semi")
                .groupBy(F.col("term").alias("key"))
                .agg(F.count("*").cast("long").alias("doc_count"))
            )
            bg = self.tables.term_stats.select(F.col("term").alias("key"), F.col("df").alias("_bg"))
            bg_total = self.tables.meta.select(F.col("N").alias("_bgN"))
        else:
            fg = on.docs.groupBy(F.col(field).alias("key")).agg(
                F.count("*").cast("long").alias("doc_count")
            )
            bg = self.docs.groupBy(F.col(field).alias("key")).agg(
                F.count("*").cast("long").alias("_bg")
            )
            bg_total = self.docs.agg(F.count("*").alias("_bgN"))
        joined = fg.join(bg, "key").crossJoin(F.broadcast(fg_total)).crossJoin(F.broadcast(bg_total))
        fg_rate = F.col("doc_count") / F.col("_fgN")
        bg_rate = F.col("_bg") / F.col("_bgN")
        scored_terms = joined.where(fg_rate > bg_rate).select(
            "key",
            "doc_count",
            F.col("_bg").cast("long").alias("bg_count"),
            ((fg_rate - bg_rate) * (fg_rate / bg_rate)).alias("score"),
        )
        return scored_terms.orderBy(F.col("score").desc(), F.col("key").asc()).limit(size)

    def _agg_stats(self, kind, body, field, on: _Matched) -> DataFrame:
        # the OpenSearch stats agg: count/min/max/avg/sum in one pass
        return on.docs.agg(
            F.count(field).cast("long").alias("count"),
            F.min(field).alias("min"),
            F.max(field).alias("max"),
            F.avg(field).alias("avg"),
            F.sum(field).alias("sum"),
        )

    def _agg_global(self, kind, body, field, on: _Matched) -> DataFrame:
        # OpenSearch global agg: the inner agg runs over ALL docs,
        # ignoring the query — the "compare my match set to the
        # whole corpus" denominator. Evaluated by re-entering with
        # match_all.
        inner = body.get("agg")
        if not isinstance(inner, dict) or len(inner) != 1:
            raise QueryValidationError("global aggregation needs exactly one inner 'agg'")
        if next(iter(inner)) == "global":
            # unbounded recursion guard: global-in-global is
            # meaningless (the outer already ignores the query)
            raise QueryValidationError("global aggregation cannot nest another 'global'")
        return self._aggregate({"match_all": {}}, {"global": inner}, 1)["global"]

    def _agg_percentile_ranks(self, kind, body, field, on: _Matched) -> DataFrame:
        # inverse of percentiles: for each given value, the percent
        # of matched docs with field ≤ value — one conditional-sum
        # pass (CDF evaluation), no sort
        values = body.get("values")
        if not isinstance(values, (list, tuple)) or not values:
            raise QueryValidationError("percentile_ranks needs a non-empty 'values' list")
        vcol = F.col(field).cast("double")
        row = on.docs.where(vcol.isNotNull()).agg(
            F.count("*").alias("_n"),
            *[_count_if(vcol <= F.lit(float(v))).alias(f"_v{i}") for i, v in enumerate(values)],
        )
        # 100D: a plain 100.0 literal is DecimalType in Spark SQL
        # and would poison the division into decimal arithmetic
        return _unpivot(
            row, [f"{float(v)!r}D, _v{i} * 100D / _n" for i, v in enumerate(values)],
            "value, percent",
        )

    def _agg_missing(self, kind, body, field, on: _Matched) -> DataFrame:
        # count of matched docs WITHOUT a value for the field
        return on.docs.agg(_count_if(F.col(field).isNull()).alias("doc_count"))

    def _agg_weighted_avg(self, kind, body, field, on: _Matched) -> DataFrame:
        # {"weighted_avg": {"value": {"field": v}, "weight":
        #  {"field": w}}} — Σ v·w / Σ w over docs with a value;
        # a missing weight counts as 1 (OpenSearch semantics)
        if not isinstance(body.get("value"), dict) or not isinstance(body.get("weight"), dict):
            raise QueryValidationError("weighted_avg needs value.field and weight.field")
        vf = self._column(body["value"]["field"], "weighted_avg")
        wf = self._column(body["weight"]["field"], "weighted_avg")
        vv = F.col(vf).cast("double")
        ww = F.coalesce(F.col(wf).cast("double"), F.lit(1.0))
        return on.docs.where(vv.isNotNull()).agg((F.sum(vv * ww) / F.sum(ww)).alias("value"))

    def _agg_histogram(self, kind, body, field, on: _Matched) -> DataFrame:
        # numeric histogram: key = ⌊(v − offset)/interval⌋·interval
        # + offset; min_doc_count=0 gap-fills between the observed
        # (or extended_bounds) min/max via a generated sequence of
        # BUCKET INDEXES (long arithmetic — no float accumulation)
        interval = float(_req(body, "interval", "histogram agg"))
        if interval <= 0:
            raise QueryValidationError("histogram interval must be > 0")
        offset = float(body.get("offset", 0.0))
        v = F.col(field).cast("double")
        buckets = (
            on.docs.where(v.isNotNull())
            .groupBy(F.floor((v - F.lit(offset)) / F.lit(interval)).alias("_idx"))
            .agg(F.count("*").cast("long").alias("doc_count"))
        )
        mdc = int(body.get("min_doc_count", 0))
        eb = body.get("extended_bounds") if mdc == 0 else None
        bounds = None
        if eb is not None:
            bounds = (
                int(math.floor((float(eb["min"]) - offset) / interval)),
                int(math.floor((float(eb["max"]) - offset) / interval)),
            )
        buckets = _min_doc_count(buckets, "_idx", mdc, bounds=bounds)
        return buckets.select(
            (F.col("_idx") * F.lit(interval) + F.lit(offset)).alias("key"), "doc_count"
        )

    def _agg_filters(self, kind, body, field, on: _Matched) -> DataFrame:
        # named filter buckets in ONE conditional-count pass over the
        # match set (no per-bucket scan); stack() unpivots the single
        # aggregated row into (key, doc_count) engine-side
        named = body.get("filters")
        if not isinstance(named, dict) or not named:
            raise QueryValidationError("filters aggregation needs a non-empty 'filters' dict")
        counts = on.docs.agg(
            *[_count_if(filter_condition(p)).alias(f"_f{i}") for i, p in enumerate(named.values())]
        )
        return _unpivot(counts, [f"'{k}', _f{i}" for i, k in enumerate(named)], "key, doc_count")

    def _agg_adjacency_matrix(self, kind, body, field, on: _Matched) -> DataFrame:
        # filters-family completion: one bucket per named filter and
        # per pair intersection ("a&b", names sorted), zero-doc
        # buckets omitted (OpenSearch semantics). Still ONE
        # conditional-count pass: n + n(n−1)/2 sums over the match
        # set, stack() unpivot, no joins.
        named = body.get("filters")
        if not isinstance(named, dict) or not named:
            raise QueryValidationError("adjacency_matrix needs a non-empty 'filters' dict")
        keys = sorted(named)
        conds = {kk: filter_condition(named[kk]) for kk in keys}
        cells = [(kk, conds[kk]) for kk in keys] + [
            (f"{a}&{b}", conds[a] & conds[b])
            for i, a in enumerate(keys)
            for b in keys[i + 1:]
        ]
        counts = on.docs.agg(*[_count_if(c).alias(f"_c{i}") for i, (_, c) in enumerate(cells)])
        return _unpivot(
            counts, [f"'{kk}', _c{i}" for i, (kk, _) in enumerate(cells)], "key, doc_count"
        ).where(F.col("doc_count") > 0)

    def _agg_top_hits(self, kind, body, field, on: _Matched) -> DataFrame:
        # top_hits under a terms grouping (the OpenSearch sub-agg
        # shape, flattened): per group_by value, the `size` best
        # hits by query score (docID-asc ties) — a bounded window
        # per group, never a global sort
        group_by = self._column(body.get("group_by"), "top_hits group_by")
        size = int(body.get("size", 3))
        # score_decimals: rank ties at a fixed decimal granularity
        # instead of raw double ULPs. Distributed double summation
        # is order-dependent in ANY engine (Spark and an oracle
        # alike), so two docs with mathematically equal scores can
        # differ in the last ULP and flip the docID tie-break
        # non-deterministically at scale; ranking on the rounded
        # score makes the tie-break reproducible (Lucene scores are
        # float32 — coarser than 6dp — so this is closer to
        # reference behavior than double-ULP ordering).
        dec = body.get("score_decimals")
        if dec is not None and (isinstance(dec, bool) or not isinstance(dec, int) or dec < 0):
            raise QueryValidationError(
                f"top_hits score_decimals must be a non-negative integer, got {dec!r}"
            )
        scored_all = self._score(on.query, None, k=on.k)
        meta_cols = self.docs.select(
            F.col(self.id_col).alias("docID"), F.col(group_by).alias("key")
        )
        j = scored_all.join(meta_cols, "docID")
        rank_score = F.round(F.col("score"), dec) if dec is not None else F.col("score")
        w = Window.partitionBy("key").orderBy(rank_score.desc(), F.col("docID").asc())
        return (
            j.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= size)
            .select("key", "rank", "docID", "score")
        )

    def _agg_composite(self, kind, body, field, on: _Matched) -> DataFrame:
        # composite agg: paging through UNBOUNDED bucket cardinality
        # in deterministic key order with an `after` cursor — the
        # OpenSearch answer to "terms agg with a million buckets",
        # and the right shape at 100 TB (each page is one bounded
        # groupBy + top-`size`, never a full materialized bucket
        # list). Sources: terms-on-field only (the common case).
        sources = body.get("sources")
        if not isinstance(sources, list) or not sources:
            raise QueryValidationError("composite aggregation needs a 'sources' list")
        fields = []
        for src in sources:
            if not isinstance(src, dict) or len(src) != 1:
                raise QueryValidationError(
                    "each composite source is {name: {'terms': {'field': f}}}"
                )
            ((sname, sbody),) = src.items()
            f_ = self._column(sbody.get("terms", {}).get("field"), f"composite source {sname!r}")
            fields.append((sname, f_))
        size = int(body.get("size", 10))
        buckets = on.docs.groupBy(*[F.col(f_).alias(sname) for sname, f_ in fields]).agg(
            F.count("*").cast("long").alias("doc_count")
        )
        after = body.get("after")
        if after is not None:
            # strict tuple-> comparison on the source keys: the
            # cursor bucket itself is excluded, like OpenSearch
            cond = None
            eqs = None
            for sname, _ in fields:
                if sname not in after:
                    raise QueryValidationError(f"after cursor missing source {sname!r}")
                gt = F.col(sname) > F.lit(after[sname])
                this = gt if eqs is None else eqs & gt
                cond = this if cond is None else cond | this
                eq = F.col(sname) == F.lit(after[sname])
                eqs = eq if eqs is None else eqs & eq
            buckets = buckets.where(cond)
        return buckets.orderBy(*[F.col(sname).asc() for sname, _ in fields]).limit(size)

    def explain(self, query: dict, doc_id: int) -> DataFrame:
        """Per-term score breakdown for one document — the _explain API
        analog (Lucene Explanation): one row per matching query term with
        (term, q_weight, df, idf, tf, dl, avgdl, tf_norm, contribution);
        Σ contribution equals search()'s score for `doc_id`. Supported for
        the BM25-scored lexical kinds (match / term); other kinds raise."""
        kind = _one_kind(query, "query")
        if kind not in ("match", "term"):
            raise QueryValidationError(f"explain supports match/term queries, not {kind}")
        weights, _, _ = _lexical_parse(kind, query[kind])
        return explain_terms(
            self.tables.postings, self.tables.doclens, self.tables.term_stats,
            self.tables.meta, weights, doc_id,
        )


# query kind → handler(self, kind, body, prefilter, in_hybrid, k) → (docID, score)
QUERY_KINDS = {
    "match_all": QueryEngine._match_all,
    "match_none": QueryEngine._match_none,
    "ids": QueryEngine._ids,
    "range": QueryEngine._range,
    "terms": QueryEngine._terms,
    "exists": QueryEngine._exists,
    "rank_feature": QueryEngine._rank_feature,
    "bool": QueryEngine._bool,
    "match": QueryEngine._lexical,
    "term": QueryEngine._lexical,
    "prefix": QueryEngine._multiterm,
    "wildcard": QueryEngine._multiterm,
    "fuzzy": QueryEngine._multiterm,
    "regexp": QueryEngine._multiterm,
    "match_phrase": QueryEngine._match_phrase,
    "match_phrase_prefix": QueryEngine._match_phrase_prefix,
    "span_near": QueryEngine._span_near,
    "synonym": QueryEngine._synonym,
    "function_score": QueryEngine._function_score,
    "more_like_this": QueryEngine._more_like_this,
    "simple_query_string": QueryEngine._simple_query_string,
    "terms_set": QueryEngine._terms_set,
    "constant_score": QueryEngine._constant_score,
    "dis_max": QueryEngine._dis_max,
    "boosting": QueryEngine._boosting,
    "neural_sparse": QueryEngine._neural_sparse,
    "neural": QueryEngine._neural,
    "hybrid": QueryEngine._hybrid,
}

# aggregation kind → handler(self, kind, body, field, on: _Matched) → DataFrame
AGG_KINDS = {
    "terms": QueryEngine._agg_terms,
    "avg": QueryEngine._agg_metric,
    "sum": QueryEngine._agg_metric,
    "min": QueryEngine._agg_metric,
    "max": QueryEngine._agg_metric,
    "count": QueryEngine._agg_metric,
    "date_histogram": QueryEngine._agg_date_histogram,
    "range": QueryEngine._agg_range,
    "date_range": QueryEngine._agg_range,
    "cardinality": QueryEngine._agg_cardinality,
    "percentiles": QueryEngine._agg_percentiles,
    "significant_terms": QueryEngine._agg_significant_terms,
    "stats": QueryEngine._agg_stats,
    "global": QueryEngine._agg_global,
    "percentile_ranks": QueryEngine._agg_percentile_ranks,
    "missing": QueryEngine._agg_missing,
    "weighted_avg": QueryEngine._agg_weighted_avg,
    "histogram": QueryEngine._agg_histogram,
    "filters": QueryEngine._agg_filters,
    "adjacency_matrix": QueryEngine._agg_adjacency_matrix,
    "top_hits": QueryEngine._agg_top_hits,
    "composite": QueryEngine._agg_composite,
}
