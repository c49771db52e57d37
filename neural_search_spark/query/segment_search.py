"""Top-k BM25 over posting segments with block-max WAND pruning.

The set-at-a-time analog of the reference's WAND machinery (the two-phase
NeuralSparseTwoPhaseProcessor; query/HybridScoreBlockBoundaryPropagator.java:
39-98 block boundaries): instead of advancing doc-at-a-time iterators past
non-competitive blocks, the driver plans which blocks to decode before
anything is decoded.

Algorithm (provably exact top-k):
 1. Read the query terms' block metadata (term, block key, first/last docID,
    max_score_component) in one Arrow read of the shard- and term-filtered
    segments. Per block, ub = w_q(t)·idf(t)·max_score_component, an exact
    upper bound: the component was stored by the scorer's own expression.
 2. Seed θ: decode the SEED_BLOCKS highest-ub blocks of each term in one job
    and collect their (docID, part) rows. θ = the k-th best partial score of
    those docs, a lower bound of the true k-th best score. A term with at
    most SEED_BLOCKS blocks (a rare term) is decoded whole, and every
    decoded block's exact per-doc parts replace its bound: the term adds its
    real part at the docs it holds and nothing between them.
 3. Cut the docID space at every block and posting boundary. Each
    elementary interval is bounded by Σ over terms of the ub of the one
    block (or decoded posting) of that term covering it. An interval that
    only non-essential terms cover has a bound below θ, so this also
    subsumes MAXSCORE's essential-term split (Turtle & Flood).
 4. Decode only the blocks that overlap an interval whose bound reaches θ,
    selected by a literal (term, salt·2^32+blockID) filter, or by term
    alone when all of a term's blocks survive. A doc in a surviving interval
    has all its blocks decoded, so its sum is its exact score; a doc that
    leaks in from a pruned interval scores below θ and cannot displace the
    true top-k.
 5. Exact score = Σ decoded parts per doc; top-k, ties by docID asc
    (ScoreCombiner.java:37-50 semantics).

Planning is numpy on the driver; decoding is inline(arrays_zip(...)) over
the block arrays and scoring a Column expression, so no posting is decoded
in Python. The segment scan prunes by `shard` directory (partition column
= hash(term) % N_SHARDS) and pushes the term IN-list into parquet row
groups, so a q-term query touches ≤ q shard directories.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from neural_search_spark.query.bm25 import bm25_score_col
from neural_search_spark.session import local_frame

#: blocks per term decoded to seed θ; a term with at most this many blocks
#: is decoded whole in the seed, and its exact postings replace its bound
SEED_BLOCKS = 32
#: metadata rows above which a query is decoded outright rather than
#: planned, so driver memory stays bounded whatever the terms' df
MAX_PLAN_BLOCKS = 1_000_000
#: relative slack on θ: bounds are summed in numpy and scores in Spark, in
#: different orders, so a doc tied with θ may differ from it by a few ulps
_THETA_SLACK = 1e-9
#: a block's key within its term, as SQL
_KEY = "(shiftleft(cast(salt AS bigint), 32) + blockID)"


def _parts(blocks: DataFrame, w_idf: dict[str, float], avgdl: float, *keep: str) -> DataFrame:
    """Segment blocks → (*keep, docID, part): one row per posting, scored by
    the expression that built the blocks' max_score_component. w_idf rides
    as a literal term-keyed map, so no join splits the decode from the
    aggregate that follows it."""
    widf = F.create_map(*[x for t in sorted(w_idf) for x in (F.lit(t), F.lit(w_idf[t]))])
    postings = blocks.select(
        *keep, widf[F.col("term")].alias("w_idf"), F.inline(F.arrays_zip("docids", "tfs", "dls"))
    )
    return postings.select(
        *keep,
        F.col("docids").alias("docID"),
        (F.col("w_idf") * bm25_score_col(F.col("tfs"), F.col("dls"), F.lit(avgdl))).alias("part"),
    )


def _block_filter(keys: dict[str, np.ndarray], nblocks: dict[str, int]) -> Column:
    """Blocks whose key is listed under their term: by term alone when every
    block of the term is listed, else by a literal key IN-list. The list is
    parsed from one SQL string: Column.isin makes a JVM call per literal,
    which cost 0.4-0.6 s for ~1,000 keys on a 4-core host."""
    whole = sorted(t for t, ks in keys.items() if len(ks) == nblocks[t])
    cond = F.col("term").isin(whole)
    for t in sorted(keys):
        if 0 < len(keys[t]) < nblocks[t]:
            listed = ",".join(map(str, keys[t].tolist()))
            cond = cond | ((F.col("term") == t) & F.expr(f"{_KEY} IN ({listed})"))
    return cond


def _plan(segments: DataFrame, w_idf: dict[str, float], avgdl: float, k: int):
    """(block filter, θ, surviving block count) of the pruned decode, planned
    on the driver in two Spark jobs: the metadata read and the θ seed."""
    meta = segments.select(
        "term", F.expr(_KEY).alias("key"), "first_docID", "last_docID", "max_score_component"
    ).toArrow()
    term = meta.column("term").to_numpy(zero_copy_only=False)
    key, lo, hi, msc = (meta.column(c).to_numpy() for c in meta.column_names[1:])
    blocks = {}
    for t in w_idf:
        m = term == t
        blocks[t] = (key[m], lo[m], hi[m], w_idf[t] * msc[m])
    nblocks = {t: len(b[0]) for t, b in blocks.items()}

    # θ seed: the highest-ub blocks of each term (all blocks of a rare term)
    seed = {t: bk[np.lexsort((bk, -bub))[:SEED_BLOCKS]] for t, (bk, _, _, bub) in blocks.items()}
    seeded = segments.where(_block_filter(seed, nblocks)).withColumn("key", F.expr(_KEY))
    rows = _parts(seeded, w_idf, avgdl, "term", "key").toArrow()
    s_term = rows.column("term").to_numpy(zero_copy_only=False)
    s_key, s_doc, s_part = (rows.column(c).to_numpy() for c in ("key", "docID", "part"))
    _, inv = np.unique(s_doc, return_inverse=True)
    partial = np.bincount(inv, weights=s_part)
    theta = float(np.partition(partial, -k)[-k]) if len(partial) >= k else 0.0

    # each term's pieces: its undecoded blocks, plus the decoded postings as
    # one-doc pieces bounded by their exact part. A term's blocks cover
    # disjoint docID ranges: the blocks of one (term, salt) are consecutive
    # runs of its docID-sorted postings, range salts cut the docID space into
    # disjoint ranges, and an append merge joins only runs with disjoint
    # docID ranges (merge_segments checks it). So at most one piece of a term
    # covers a doc, and searchsorted over the pieces' sorted starts finds it.
    pieces = {}
    for t, (bk, blo, bhi, bub) in blocks.items():
        rest, mine = ~np.isin(bk, seed[t]), s_term == t
        pk, plo, phi, pub = (
            np.concatenate([a[rest], b[mine]])
            for a, b in ((bk, s_key), (blo, s_doc), (bhi, s_doc), (bub, s_part))
        )
        order = np.argsort(plo, kind="stable")
        pieces[t] = (pk[order], plo[order], phi[order], pub[order])
    # elementary intervals [starts[i], starts[i+1]): every piece starts and
    # ends on a cut, so each term's covering piece is constant inside one
    starts = np.unique(np.concatenate([np.concatenate([p[1], p[2] + 1]) for p in pieces.values()]))
    bound = np.zeros(len(starts))
    for _, plo, phi, pub in pieces.values():
        j = np.searchsorted(plo, starts, side="right") - 1
        c = np.maximum(j, 0)
        bound += np.where((j >= 0) & (phi[c] >= starts), pub[c], 0.0)
    alive = np.concatenate([[0], np.cumsum(bound >= theta * (1.0 - _THETA_SLACK))])
    keep = {}
    for t, (pk, plo, phi, _) in pieces.items():
        hit = alive[np.searchsorted(starts, phi + 1)] > alive[np.searchsorted(starts, plo)]
        keep[t] = np.unique(pk[hit])
    return _block_filter(keep, nblocks), theta, sum(len(v) for v in keep.values())


def wand_topk(
    segments: DataFrame,
    term_stats: DataFrame | None,
    n_docs: int,
    avgdl: float,
    terms: dict[str, float] | list[str],
    k: int = 10,
    no_prune_blocks: int = 512,
    stats_out: dict | None = None,
    plan_cache: dict | None = None,
) -> DataFrame:
    """(rank, docID, score) exact BM25 top-k over the segment table.

    When the query's blocks number at most `no_prune_blocks` (or more than
    MAX_PLAN_BLOCKS), every block of its terms is decoded outright: the
    early exit, whose top-k is one lazy decode→aggregate→rank plan. Above
    it, the block filter is planned on the driver first (the module
    docstring's steps 1-4, two Spark jobs), and the same plan then decodes
    only the surviving blocks. Pass a huge `no_prune_blocks` for the
    unpruned baseline. Pruning assumes positive weights; a query with a
    non-positive one is decoded outright.

    Per-term df and block counts come from `plan_cache` (from
    IndexStore.plan_cache(): {"terms": {term: {df, nblocks}}}) when given,
    else from one aggregate over the query terms' blocks. `term_stats` is
    accepted for API compatibility but never scanned; None is fine.

    `stats_out`, if given, is filled with numbers the driver already
    holds, at no extra Spark job: blocks_total, blocks_surviving (blocks
    decoded), theta (0.0 when nothing was planned) and plan_cache_hit."""
    spark = segments.sparkSession
    if not isinstance(terms, dict):
        terms = {t: 1.0 for t in sorted(set(terms))}
    q_terms = sorted(terms)

    # explicit scan predicates: filter term IN (…) for row-group skipping
    # and, when the table carries the shard partition column, shard IN (…)
    # for directory pruning (shard = hash(term) % N_SHARDS, computed
    # driver-side by the pure-Python XXH64 mirror, with no Spark job)
    scan_filter = F.col("term").isin(q_terms)
    if "shard" in segments.columns:
        from neural_search_spark.index.segments import shard_of

        scan_filter = scan_filter & F.col("shard").isin(sorted({shard_of(t) for t in q_terms}))
    segments = segments.where(scan_filter)

    if plan_cache is not None:
        ct = plan_cache["terms"]
        counts = {t: (ct[t]["df"], ct[t]["nblocks"]) for t in q_terms if t in ct}
    else:
        # df per term is exact: each posting sits in exactly one block
        counts = {
            r["term"]: (int(r["df"]), int(r["nblocks"]))
            for r in segments.groupBy("term")
            .agg(F.sum("n").alias("df"), F.count("*").alias("nblocks"))
            .collect()
        }
    w_idf = {
        t: terms[t] * math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        for t, (df, _) in counts.items()
    }
    if not w_idf:
        return local_frame(spark, [], "rank long, docID long, score double")
    n_total = sum(nb for _, nb in counts.values())
    stats = {"plan_cache_hit": plan_cache is not None, "blocks_total": n_total,
             "blocks_surviving": n_total, "theta": 0.0}
    if no_prune_blocks < n_total <= MAX_PLAN_BLOCKS and min(w_idf.values()) > 0:
        block_filter, stats["theta"], stats["blocks_surviving"] = _plan(segments, w_idf, avgdl, k)
        segments = segments.where(block_filter)
    if stats_out is not None:
        stats_out.update(stats)
    return _ranked(_parts(segments, w_idf, avgdl).groupBy("docID").agg(F.sum("part").alias("score")), k)


def _ranked(scores: DataFrame, k: int) -> DataFrame:
    top = scores.orderBy(F.col("score").desc(), F.col("docID").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("docID").asc())
    return top.withColumn("rank", F.row_number().over(w)).select("rank", "docID", "score")
