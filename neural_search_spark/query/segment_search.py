"""Top-k BM25 over posting segments with block-max WAND pruning.

The set-at-a-time analog of the reference's WAND/MAXSCORE machinery
(query/HybridQueryScorer.java:161-171 setMinCompetitiveScore;
query/HybridScoreBlockBoundaryPropagator.java:39-98 block boundaries):
instead of advancing doc-at-a-time iterators past non-competitive blocks, we
*filter the block table* before decoding anything.

Algorithm (provably exact top-k; zone-aligned block-max — the
set-at-a-time analog of BMW's aligned block boundaries):
 1. For each query term t: w_idf(t) = w_q(t)·idf(t); per-block upper bound
    ub(t, blk) = w_idf(t) · max_score_component(blk) (stored at build time
    by the scorer's own expression, so it is an exact upper bound).
 2. Seed θ: decode the `seed_blocks` highest-ub blocks per term, score
    those docs on their seed contributions; θ = k-th best partial score —
    a lower bound of the true k-th best score.
 3. Zone bounds: cut the docID space into fixed zones (`zone_width` ids).
    Any doc in zone z scores ≤ ztot(z) = Σ_t (max ub of t's blocks
    overlapping z) — each doc sits in exactly one block per term. Blocks
    spanning ≥ `wide_cap` zones (rare terms: few blocks, huge docID span)
    are never exploded: they are always decoded and enter every zone's
    bound via the per-term constant gmax.
 4. Prune zones with ztot < θ; decode the wide blocks plus every narrow
    block overlapping a surviving zone. A doc in a surviving zone has ALL
    its blocks in the decode set, so its aggregate is its exact score — no
    rescue phase exists. Docs from pruned zones that leak in via block
    overlap carry (possibly partial) scores < θ and cannot displace the
    true top-k.
 5. MAXSCORE essential-term split (Turtle & Flood; the reference's
    doc-at-a-time counterpart is minCompetitiveScore,
    query/HybridQueryScorer.java:161-171): terms whose global upper
    bounds sum to < θ are NON-ESSENTIAL — no doc can reach θ on them
    alone, so candidates come from essential postings only. Candidate
    zones (a DataFrame, never collected) prune the non-essential (dense
    head) blocks, and their decoded parts are left-semi-joined against the
    candidate docIDs before the score exchange, so non-candidate head-term
    postings never reach the final aggregation.
 6. Exact score = Σ decoded contributions per doc; top-k, ties by docID
    asc (ScoreCombiner.java:37-50 semantics).

Everything is DataFrame dataflow; decoding is inline(arrays_zip(...)) over
the block arrays and scoring a Column expression, so no posting leaves the
JVM. The segment scan prunes by `shard` directory (partition column
= hash(term) % N_SHARDS) and pushes the term IN-list into parquet row
groups, so a q-term query touches ≤ q shard directories.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from neural_search_spark.query.bm25 import bm25_score_col
from neural_search_spark.session import local_frame

def _decode_and_score(blocks: DataFrame, avgdl: float) -> DataFrame:
    """blocks: (w_idf, docids, tfs, dls) → (docID, part) partial scores:
    one row per posting, scored by the same expression that built the
    blocks' max_score_component."""
    postings = blocks.select("w_idf", F.inline(F.arrays_zip("docids", "tfs", "dls")))
    return postings.select(
        F.col("docids").alias("docID"),
        (F.col("w_idf") * bm25_score_col(F.col("tfs"), F.col("dls"), F.lit(avgdl))).alias("part"),
    )


def wand_topk(
    segments: DataFrame,
    term_stats: DataFrame | None,
    n_docs: int,
    avgdl: float,
    terms: dict[str, float] | list[str],
    k: int = 10,
    prune: bool = True,
    seed_blocks: int = 32,
    zone_width: int = 1024,
    wide_cap: int = 64,
    no_prune_blocks: int = 512,
    stats_out: dict | None = None,
    plan_cache: dict | None = None,
) -> DataFrame:
    """(rank, docID, score) exact BM25 top-k over the segment table.

    `prune=False` decodes every block of every query term (the correctness
    baseline the pruned path is asserted against). `stats_out`, if given, is
    filled with pruning telemetry: total/surviving block counts and the
    seeded θ.

    Fixed-floor design (the part that dominates at query time): the whole
    plan runs in THREE Spark jobs — (A) one tiny aggregate over the
    persisted block metadata that yields per-term df (Σ n over the term's
    blocks — exact, no term_stats scan), total block count, per-term
    global max (the MAXSCORE UB_t) and the wide-block gmax constants in a
    single collect; (B) the θ-seed decode+top-k; (C) the final
    prune→decode→score→top-k. Shard partition values are computed
    driver-side (segments.shard_of, a pure-Python XXH64) — no Spark job.
    When the query's total block count is ≤ `no_prune_blocks`, the θ/zone
    machinery is skipped entirely and the blocks are decoded outright
    (2 jobs) — pruning a handful of blocks costs more in job latency than
    the decode it saves. When the MAXSCORE split activates (≥1
    non-essential term) the candidate filter is a pair of semi-joins in
    job C; candidates never reach the driver. `term_stats` is accepted for
    API compatibility but never scanned; None is fine.

    `plan_cache` (optional, from IndexStore.plan_cache()): a per-term
    snapshot of exactly what job A aggregates ({term: {df, nblocks,
    nwide, wide_max, tmax, …}}, plus the zone_width/wide_cap it was built
    at). When present and parameter-compatible, job A is skipped entirely
    — warm queries drop to 1-2 jobs (the round-5 interactive-latency
    lever). A cache built at different zone parameters is ignored."""
    import time as _time

    spark = segments.sparkSession
    if not isinstance(terms, dict):
        terms = {t: 1.0 for t in sorted(set(terms))}
    phases: dict[str, float] = {}
    if stats_out is not None:
        stats_out["phase_sec"] = phases
    q_terms = sorted(terms)

    # explicit scan predicates: a broadcast join does NOT push its keys into
    # the parquet reader, so filter term IN (…) for row-group skipping and —
    # when the table carries the shard partition column — shard IN (…) for
    # directory-level partition pruning (shard = hash(term) % N_SHARDS,
    # computed DRIVER-side via the pure-Python XXH64 mirror so it matches
    # the writer exactly without a Spark job)
    scan_filter = F.col("term").isin(q_terms)
    if "shard" in segments.columns:
        from neural_search_spark.index.segments import shard_of

        shard_vals = sorted({shard_of(t) for t in q_terms})
        scan_filter = scan_filter & F.col("shard").isin(shard_vals)
    segments = segments.where(scan_filter)

    meta_cols = ["term", "salt", "blockID", "first_docID", "last_docID", "n", "max_score_component"]
    qmeta = segments.select(*meta_cols)
    zlo_c = (F.col("first_docID") / zone_width).cast("long")
    zhi_c = (F.col("last_docID") / zone_width).cast("long")
    wide_c = (zhi_c - zlo_c) >= wide_cap
    _t0 = _time.time()
    cache_ok = (
        plan_cache is not None
        and plan_cache.get("zone_width") == zone_width
        and plan_cache.get("wide_cap") == wide_cap
    )
    if cache_ok:
        # job A skipped: the session-level per-term aggregate already
        # holds df/nblocks/nwide/wide_max/tmax for every term of the
        # index epoch. Terms absent from the cache have no postings.
        ct = plan_cache["terms"]
        agg_rows = [dict(ct[t], term=t) for t in q_terms if t in ct]
    else:
        # job A: df per term (exact: each posting sits in exactly one
        # block of its term), block counts, and the wide-block max
        # score component — ONE collect replaces the old df-lookup
        # scan, blocks_total count, and gmax collect
        agg_rows = (
            qmeta.groupBy("term")
            .agg(
                F.sum("n").alias("df"),
                F.count("*").alias("nblocks"),
                F.count(F.when(wide_c, F.lit(1))).alias("nwide"),
                F.max(F.when(wide_c, F.col("max_score_component"))).alias("wide_max"),
                F.max("max_score_component").alias("tmax"),
            )
            .collect()
        )
    phases["plan_agg"] = round(_time.time() - _t0, 3)
    if stats_out is not None:
        stats_out["plan_cache_hit"] = bool(cache_ok)
    dfs = {r["term"]: int(r["df"]) for r in agg_rows}
    w_idf = {
        t: terms[t] * math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
        for t in q_terms
        if t in dfs
    }
    if not w_idf:
        return local_frame(spark, [], "rank long, docID long, score double")
    n_total = sum(int(r["nblocks"]) for r in agg_rows)
    n_wide = sum(int(r["nwide"]) for r in agg_rows)

    if not prune or n_total <= no_prune_blocks:
        # w_idf rides as a literal term-keyed map: no broadcast join, so the
        # decode and the partial aggregate run in the same job
        widf_map = F.create_map(*[x for t in sorted(w_idf) for x in (F.lit(t), F.lit(w_idf[t]))])
        scored = _decode_and_score(
            segments.where(F.col("term").isin(sorted(w_idf))).select(
                widf_map[F.col("term")].alias("w_idf"), "docids", "tfs", "dls"
            ),
            avgdl,
        )
        if stats_out is not None:
            stats_out.update(
                {
                    "theta": 0.0,
                    "blocks_total": n_total,
                    "blocks_surviving": n_total,
                    "blocks_wide": n_wide,
                    "zones_total": 0,
                    "zones_surviving": 0,
                    "blocks_rescued": 0,
                    "rescue_candidates": 0,
                    "pruning_skipped": True,
                }
            )
        return _ranked(scored.groupBy("docID").agg(F.sum("part").alias("score")), k)

    # the prune path reads the block metadata several times: persist only
    # its columns — the posting arrays are re-read lazily by whichever
    # decode actually runs
    qmeta = qmeta.persist()
    try:
        gmax = {
            r["term"]: w_idf[r["term"]] * float(r["wide_max"])
            for r in agg_rows
            if r["wide_max"] is not None
        }
        # per-term global upper bound UB_t = w_idf·max component over ALL
        # of t's blocks (MAXSCORE term bound)
        ub = {r["term"]: w_idf[r["term"]] * float(r["tmax"]) for r in agg_rows if r["term"] in w_idf}

        widf_df = F.broadcast(
            local_frame(spark, sorted(w_idf.items()), "term string, w_idf double")
        )
        qblocks = segments.join(widf_df, "term").withColumn(
            "ub", F.col("w_idf") * F.col("max_score_component")
        )

        # seed θ from the `seed_blocks` highest-ub blocks of each term: the
        # k-th best score among their docs lower-bounds the true k-th best,
        # and decoding S·q blocks (~S·q·block_size postings) is noise next
        # to the full scan it saves. One block (the classic seed) puts θ at
        # ~the 92nd percentile of the score distribution — too weak to
        # prune anything; 32 blocks of tf-heavy docs put it near the top.
        w_seed = Window.partitionBy("term").orderBy(F.col("ub").desc(), F.col("blockID").asc())
        seed_set = qblocks.withColumn("_r", F.row_number().over(w_seed)).where(
            F.col("_r") <= seed_blocks
        )
        _t0 = _time.time()
        seed_scores = (
            _decode_and_score(seed_set.select("w_idf", "docids", "tfs", "dls"), avgdl)
            .groupBy("docID")
            .agg(F.sum("part").alias("score"))
            .orderBy(F.col("score").desc(), F.col("docID").asc())
            .limit(k)
            .collect()
        )
        theta = seed_scores[-1]["score"] if len(seed_scores) >= k else 0.0
        phases["theta_seed"] = round(_time.time() - _t0, 3)

        # --- MAXSCORE essential-term split -------------------------------
        # Sort terms ascending by UB_t and peel off a maximal NON-ESSENTIAL
        # prefix with Σ UB strictly < θ: any doc scoring ≥ θ must carry at
        # least one posting of the remaining ESSENTIAL terms. Candidates
        # therefore come from essential postings only; non-essential
        # (typically dense head) terms contribute scores but never
        # nominate candidates — their decoded postings are semi-joined to
        # the candidate set, so a head term's millions of postings never
        # reach the score exchange. This is
        # the set-at-a-time MAXSCORE of Turtle & Flood; the reference's
        # doc-at-a-time counterpart is the minCompetitiveScore machinery
        # (query/HybridQueryScorer.java:161-171).
        ne_terms: list[str] = []
        cum_ne = 0.0
        if theta > 0.0:
            for t in sorted(w_idf, key=lambda s: (ub[s], s)):
                if len(ne_terms) >= len(w_idf) - 1 or cum_ne + ub[t] >= theta:
                    break
                ne_terms.append(t)
                cum_ne += ub[t]
        ne_set = set(ne_terms)
        e_terms = [t for t in sorted(w_idf) if t not in ne_set]

        # --- zone-aligned block-max pruning (set-at-a-time BMW analog) ---
        # The docID space is cut into fixed zones of `zone_width` ids. For
        # every zone, an upper bound of any CANDIDATE doc's total score:
        #   ztot(z) = Σ_{t∈E} max-ub of t's blocks overlapping z + Σ_{t∈NE} UB_t
        # (a doc's per-term contribution is bounded by the max of the one
        # block that holds it; non-essential terms enter as the constant
        # Σ UB < θ). Zones with ztot < θ cannot contain a top-k doc; every
        # candidate in a surviving zone has ALL its blocks inside the
        # decoded set, so scores are exact and NO rescue phase exists.
        # Blocks spanning more than `wide_cap` zones (rare terms — few
        # blocks, wide docID span) are not exploded: they are always
        # decoded, and their per-term max enters every zone's bound via
        # the constant G. default zone_width 1024 ≈ 8 head-term blocks per
        # zone. gmax/UB were already computed driver-side in job A; qmeta
        # re-derives per-block ub by the broadcast w_idf join
        # (metadata-only rows — payloads never enter the zone machinery)
        classified = (
            qmeta.join(widf_df, "term")
            .withColumn("ub", F.col("w_idf") * F.col("max_score_component"))
            .withColumn("_zlo", zlo_c)
            .withColumn("_zhi", zhi_c)
            .withColumn("_wide", (F.col("_zhi") - F.col("_zlo")) >= wide_cap)
        )
        cls_e = classified.where(F.col("term").isin(e_terms)) if ne_terms else classified
        wide = cls_e.where(F.col("_wide"))
        narrow = cls_e.where(~F.col("_wide"))
        g_const_e = sum(v for t, v in gmax.items() if t not in ne_set)
        gmax_df = F.broadcast(
            local_frame(spark, [(t, gmax.get(t, 0.0)) for t in e_terms], "term string, gmx double")
        )
        zstats = (
            narrow.select("term", F.explode(F.sequence("_zlo", "_zhi")).alias("zone"), "ub")
            .groupBy("term", "zone")
            .agg(F.max("ub").alias("zmax"))
            .join(gmax_df, "term")
            # Σ_t max(zmax, gmx) = G + Σ_present max(zmax − gmx, 0); terms
            # with no narrow block in the zone contribute exactly gmx via G
            .groupBy("zone")
            .agg(F.sum(F.greatest(F.col("zmax") - F.col("gmx"), F.lit(0.0))).alias("excess"))
        )
        surviving_zones = zstats.where(
            F.col("excess") + F.lit(g_const_e + cum_ne) >= F.lit(theta)
        ).select("zone")

        narrow_keep = (
            narrow.select("term", "salt", "blockID", F.explode(F.sequence("_zlo", "_zhi")).alias("zone"))
            .join(surviving_zones, "zone", "left_semi")
            .select("term", "salt", "blockID")
            .distinct()
        )
        keep_keys = narrow_keep.unionByName(wide.select("term", "salt", "blockID"))
        decode_set = qblocks.join(keep_keys, ["term", "salt", "blockID"], "left_semi")

        e_parts = _decode_and_score(decode_set.select("w_idf", "docids", "tfs", "dls"), avgdl)
        ne_keys_df = None
        if not ne_terms:
            total = e_parts.groupBy("docID").agg(F.sum("part").alias("score"))
            _t0 = _time.time()
            rows = _ranked(total, k).collect()
            phases["prune_decode_score"] = round(_time.time() - _t0, 3)
        else:
            ne_cls = classified.where(F.col("term").isin(ne_terms))
            e_parts = e_parts.persist()
            try:
                # (a) NE narrow blocks are zone-pruned: candidate zones come
                # from e_parts as a DataFrame (≤ docID-space/zone_width rows,
                # tiny even at 10^12 docs) via left-semi, never collected;
                # (b) candidacy is enforced by left-semi-joining decoded NE
                # parts against the candidate docIDs BEFORE the score
                # exchange (AQE picks broadcast vs shuffle-hash for the semi
                # joins by runtime size). A doc is a candidate iff it carries
                # ≥1 essential posting.
                cand_zones_df = e_parts.select(
                    (F.col("docID") / zone_width).cast("long").alias("zone")
                ).distinct()
                ne_narrow_keep = (
                    ne_cls.where(~F.col("_wide"))
                    .select(
                        "term", "salt", "blockID",
                        F.explode(F.sequence("_zlo", "_zhi")).alias("zone"),
                    )
                    .join(cand_zones_df, "zone", "left_semi")
                    .select("term", "salt", "blockID")
                    .distinct()
                )
                ne_keys_df = ne_narrow_keep.unionByName(
                    ne_cls.where(F.col("_wide")).select("term", "salt", "blockID")
                )
                ne_decode = qblocks.join(ne_keys_df, ["term", "salt", "blockID"], "left_semi")
                ne_parts = _decode_and_score(ne_decode.select("w_idf", "docids", "tfs", "dls"), avgdl)
                ne_kept = ne_parts.join(e_parts.select("docID").distinct(), "docID", "left_semi")
                total = (
                    e_parts.unionByName(ne_kept)
                    .groupBy("docID")
                    .agg(F.sum("part").alias("score"))
                )
                _t0 = _time.time()
                rows = _ranked(total, k).collect()
                phases["prune_decode_score"] = round(_time.time() - _t0, 3)
            finally:
                e_parts.unpersist()
        if stats_out is not None:
            _t0 = _time.time()
            n_zones = zstats.count()
            n_zones_surv = surviving_zones.count()
            n_decoded = keep_keys.count()
            n_ne_decoded = ne_keys_df.count() if ne_keys_df is not None else 0
            phases["telemetry_counts"] = round(_time.time() - _t0, 3)
            stats_out.update(
                {
                    "theta": theta,
                    "blocks_total": n_total,
                    "blocks_surviving": n_decoded + n_ne_decoded,
                    "blocks_essential": n_decoded,
                    "blocks_ne_decoded": n_ne_decoded,
                    "blocks_wide": n_wide,
                    "zones_total": n_zones,
                    "zones_surviving": n_zones_surv,
                    "essential_terms": e_terms,
                    "nonessential_terms": ne_terms,
                    "ne_ub_sum": cum_ne,
                    # kept for older callers: the zone design has no rescue
                    "blocks_rescued": 0,
                    "rescue_candidates": 0,
                }
            )
        return local_frame(spark, rows, "rank int, docID long, score double")
    finally:
        qmeta.unpersist()


def _ranked(scores: DataFrame, k: int) -> DataFrame:
    top = scores.orderBy(F.col("score").desc(), F.col("docID").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("docID").asc())
    return top.withColumn("rank", F.row_number().over(w)).select("rank", "docID", "score")
