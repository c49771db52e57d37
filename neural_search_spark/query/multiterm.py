"""Multi-term queries — prefix / wildcard / fuzzy / regexp — over the term
dictionary.

The reference plugin composes with OpenSearch core's lexical query surface
(its hybrid sub-queries accept any core query; HybridQueryBuilder.java
accepts arbitrary inner builders via fromXContent), so a reference user
expects Lucene's MultiTermQuery family to work. Semantics follow Lucene:

- expansion runs against the TERM DICTIONARY (here: `term_stats`, one row
  per distinct term — orders of magnitude smaller than postings), never
  against the postings themselves;
- default rewrite is ``constant_score``: every matching doc scores
  ``boost`` (Lucene CONSTANT_SCORE_BLENDED/REWRITE for prefix/wildcard);
- ``scoring_boolean`` rewrite expands to a BM25 disjunction over the
  matched terms, each with weight ``boost``, and fails above
  ``max_clauses`` matched terms (Lucene's BooleanQuery.TooManyClauses,
  default indices limit 1024);
- fuzzy matching is classic Levenshtein edit distance — i.e. OpenSearch
  ``fuzzy_transpositions: false`` (documented divergence from the
  transposition-counting default; Spark and DuckDB both ship classic
  Levenshtein, so the oracle and the engine agree exactly);
- ``fuzziness="AUTO"`` follows OpenSearch: query length 0-2 → 0 edits,
  3-5 → 1, ≥6 → 2;
- ``regexp`` anchors the pattern over the whole term (Lucene RegexpQuery);
  syntax is Java regex (Spark ``rlike``), not Lucene's own dialect — the
  common operator subset agrees, ``~``/``&``/``<n-m>`` are not offered.

Scale shape (100 TB): expansion is a filter over the term dictionary —
``startswith`` and length bounds push into the dictionary scan
(PushedFilters: StringStartsWith), the Levenshtein residual runs JVM-side
on the (small) dictionary survivors only. The postings scan is pruned the
same way the relational BM25 path prunes: a literal IN-list when the
expansion is small enough to collect (≤ ``inlist_limit``, same 10k bound
as query/batch.py — parquet row-group skipping), else a pushable
``startswith`` prefix filter plus a left-semi join against the matched
terms (AQE picks broadcast vs shuffle-hash by runtime size). Nothing
unbounded ever reaches the driver: the IN-list collect is capped and falls
back to the distributed join.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from neural_search_spark.query.bm25 import bm25_score_all

MAX_CLAUSES = 1024  # Lucene indices.query.bool.max_clause_count default
INLIST_LIMIT = 10_000  # same scan-pushdown bound as query/batch.py


class TooManyClauses(ValueError):
    """scoring_boolean expansion exceeded max_clauses (Lucene analog)."""


def wildcard_to_regex(pattern: str) -> str:
    """Lucene WildcardQuery pattern → anchored Java regex.

    ``*`` matches any run (including empty), ``?`` exactly one char; every
    other char is literal (regex metachars escaped).
    """
    parts = []
    for ch in pattern:
        if ch == "*":
            parts.append(".*")
        elif ch == "?":
            parts.append(".")
        else:
            parts.append(re.escape(ch))
    return "^" + "".join(parts) + "$"


def literal_prefix(pattern: str) -> str:
    """Longest literal prefix of a wildcard pattern (pushdown handle)."""
    out = []
    for ch in pattern:
        if ch in "*?":
            break
        out.append(ch)
    return "".join(out)


def _has_top_level_alternation(pattern: str) -> bool:
    """True if the pattern has an unescaped ``|`` at paren/class depth 0.

    A top-level alternation means NO literal prefix is required of every
    match (``sort|spark`` matches strings starting with either branch), so
    prefix pushdown must be disabled entirely.
    """
    depth = 0
    in_class = False
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth = max(0, depth - 1)
        elif c == "|" and depth == 0:
            return True
        i += 1
    return False


def regex_literal_prefix(pattern: str) -> str:
    """Longest literal prefix of a regex pattern (pushdown handle).

    Conservative: stops at the first metachar, class shorthand, or
    alternation; a char immediately followed by a quantifier is excluded
    (in ``abc*`` only ``ab`` is guaranteed). Escaped punctuation
    (``\\.``) counts as literal. A top-level alternation anywhere in the
    pattern (``sort|spark``) disables pushdown completely — the collected
    prefix is only required of the FIRST branch, so filtering on it would
    silently drop every match from the other branches.
    """
    if _has_top_level_alternation(pattern):
        return ""
    meta = set(".?*+|(){}[]^$")
    out: list[str] = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            if i + 1 >= len(pattern) or pattern[i + 1].isalnum():
                break  # class shorthand (\d, \w, …) or dangling escape
            if i + 2 < len(pattern) and pattern[i + 2] in "?*+{":
                break
            out.append(pattern[i + 1])
            i += 2
            continue
        if c in meta:
            break
        if i + 1 < len(pattern) and pattern[i + 1] in "?*+{":
            break
        out.append(c)
        i += 1
    return "".join(out)


def auto_fuzziness(value: str) -> int:
    n = len(value)
    return 0 if n <= 2 else (1 if n <= 5 else 2)


def term_conditions(
    kind: str,
    value: str,
    fuzziness: int | str | None = None,
    prefix_length: int = 0,
) -> tuple[Column | None, Column | None]:
    """(pushable, residual) conditions on ``F.col("term")``.

    ``pushable`` reaches the parquet scan (StringStartsWith / length via
    stats); ``residual`` needs expression evaluation (regex / Levenshtein)
    and runs on scan survivors. Either may be None.
    """
    term = F.col("term")
    if kind == "prefix":
        return term.startswith(value), None
    if kind == "wildcard":
        lit = literal_prefix(value)
        pushable = term.startswith(lit) if lit else None
        return pushable, term.rlike(wildcard_to_regex(value))
    if kind == "regexp":
        # Lucene RegexpQuery matches the ENTIRE term — anchor the pattern.
        # Divergence note: we accept Java regex syntax (Spark rlike), not
        # Lucene's own regexp dialect (no ~ complement / & intersection /
        # <n-m> intervals); the common operator subset (literals, classes,
        # alternation, quantifiers) behaves identically.
        lit = regex_literal_prefix(value)
        pushable = term.startswith(lit) if lit else None
        return pushable, term.rlike("^(?:" + value + ")$")
    if kind == "fuzzy":
        f = auto_fuzziness(value) if fuzziness in (None, "AUTO") else int(fuzziness)
        conds = [F.length(term).between(len(value) - f, len(value) + f)]
        if prefix_length > 0:
            conds.append(term.startswith(value[:prefix_length]))
        pushable = conds[0]
        for c in conds[1:]:
            pushable = pushable & c
        residual = F.levenshtein(term, F.lit(value)) <= F.lit(f)
        return pushable, residual
    raise ValueError(f"unknown multi-term kind: {kind}")


def expand_terms(
    term_stats: DataFrame,
    kind: str,
    value: str,
    fuzziness: int | str | None = None,
    prefix_length: int = 0,
) -> DataFrame:
    """Matching terms from the dictionary: 1-column (term) DataFrame."""
    pushable, residual = term_conditions(kind, value, fuzziness, prefix_length)
    out = term_stats
    if pushable is not None:
        out = out.where(pushable)
    if residual is not None:
        out = out.where(residual)
    return out.select("term")


def _pruned_postings(
    postings: DataFrame,
    matched: DataFrame,
    pushable: Column | None,
    inlist_limit: int,
) -> DataFrame:
    """Postings restricted to matched terms, with maximal scan pruning.

    Collects the expansion ONLY if it fits ``inlist_limit`` (bounded driver
    memory, parquet In-pushdown); above that the pushable prefix filter
    still prunes the scan and a left-semi join enforces exactness.
    """
    rows = matched.limit(inlist_limit + 1).collect()
    if len(rows) <= inlist_limit:
        terms = sorted(r["term"] for r in rows)
        return postings.where(F.col("term").isin(terms))
    cand = postings
    if pushable is not None:
        cand = cand.where(pushable)
    return cand.join(matched, "term", "left_semi")


def multiterm_score_all(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    kind: str,
    value: str,
    boost: float = 1.0,
    rewrite: str = "constant_score",
    fuzziness: int | str | None = None,
    prefix_length: int = 0,
    max_clauses: int = MAX_CLAUSES,
    inlist_limit: int = INLIST_LIMIT,
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """All matching docs for a prefix/wildcard/fuzzy query: (docID, score).

    ``constant_score`` (default): score = boost for every doc containing ≥1
    matched term. ``scoring_boolean``: BM25 over the expansion (each term
    weight = boost), raising TooManyClauses above ``max_clauses``.
    """
    matched = expand_terms(term_stats, kind, value, fuzziness, prefix_length)
    pushable, _ = term_conditions(kind, value, fuzziness, prefix_length)

    if rewrite == "scoring_boolean":
        rows = matched.limit(max_clauses + 1).collect()
        if len(rows) > max_clauses:
            raise TooManyClauses(
                f"{kind} '{value}' expands past max_clauses={max_clauses}; "
                "use rewrite='constant_score'"
            )
        weights = {r["term"]: boost for r in rows}
        if not weights:
            return postings.sparkSession.createDataFrame([], "docID long, score double")
        return bm25_score_all(
            postings, doclens, term_stats, meta, weights,
            prefilter=prefilter,
        )

    if rewrite != "constant_score":
        raise ValueError(f"unknown rewrite: {rewrite}")
    cand = _pruned_postings(postings, matched, pushable, inlist_limit)
    if prefilter is not None:
        cand = cand.join(prefilter.select("docID"), "docID", "left_semi")
    return cand.select("docID").distinct().withColumn("score", F.lit(float(boost)))
