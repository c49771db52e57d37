"""Unit tests: hybrid normalization/combination edge cases (reference
semantics), DSL queries, sparse quantization, rerank, multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from neural_search_spark.query import hybrid as H
from neural_search_spark.query.dsl import QueryEngine, QueryValidationError
from neural_search_spark.query.sparse import sparse_topk, two_phase_sparse_topk

from tests import oracle


# ---------------------------------------------------------------------------
# normalization / combination edge cases (hand-computed per reference code)
# ---------------------------------------------------------------------------


def _scores_df(spark, rows):
    return spark.createDataFrame(rows, "subquery_idx int, docID long, score double")


def test_minmax_single_result_and_clamp(spark):
    # subquery 0: single result → 1.0 (max==min==score)
    # subquery 1: doc 20 is at min → raw 0 → clamped to 0.001
    df = _scores_df(spark, [(0, 10, 2.5), (1, 20, 1.0), (1, 21, 3.0)])
    out = {(r["subquery_idx"], r["docID"]): r["nscore"] for r in H.normalize_scores(df, "min_max").collect()}
    assert out[(0, 10)] == 1.0
    assert out[(1, 20)] == 0.001
    assert out[(1, 21)] == 1.0  # (3-1)/(3-1)


def test_l2_normalization(spark):
    df = _scores_df(spark, [(0, 1, 3.0), (0, 2, 4.0)])
    out = {r["docID"]: r["nscore"] for r in H.normalize_scores(df, "l2").collect()}
    assert out[1] == pytest.approx(3.0 / 5.0)
    assert out[2] == pytest.approx(4.0 / 5.0)


def test_l2_zero_norm(spark):
    df = _scores_df(spark, [(0, 1, 0.0), (0, 2, 0.0)])
    out = {r["docID"]: r["nscore"] for r in H.normalize_scores(df, "l2").collect()}
    assert out == {1: 0.0, 2: 0.0}


def _norm_df(spark, rows):
    return spark.createDataFrame(rows, "subquery_idx int, docID long, nscore double")


def test_arithmetic_mean_counts_missing_as_zero(spark):
    # doc 1 only in subquery 0 with nscore 0.8: combined = (0.8+0.0)/2
    df = _norm_df(spark, [(0, 1, 0.8), (0, 2, 0.4), (1, 2, 0.6)])
    out = {r["docID"]: r["score"] for r in H.combine_scores(df, 2, "arithmetic_mean").collect()}
    assert out[1] == pytest.approx(0.4)
    assert out[2] == pytest.approx(0.5)


def test_geometric_mean_skips_nonpositive(spark):
    df = _norm_df(spark, [(0, 1, 0.8), (0, 2, 0.4), (1, 2, 0.6)])
    out = {r["docID"]: r["score"] for r in H.combine_scores(df, 2, "geometric_mean").collect()}
    assert out[1] == pytest.approx(0.8)  # single positive → itself
    assert out[2] == pytest.approx(math.exp((math.log(0.4) + math.log(0.6)) / 2))


def test_harmonic_mean_skips_nonpositive(spark):
    df = _norm_df(spark, [(0, 1, 0.8), (0, 2, 0.4), (1, 2, 0.6)])
    out = {r["docID"]: r["score"] for r in H.combine_scores(df, 2, "harmonic_mean").collect()}
    assert out[1] == pytest.approx(0.8)
    assert out[2] == pytest.approx(2 / (1 / 0.4 + 1 / 0.6))


def test_weighted_arithmetic(spark):
    df = _norm_df(spark, [(0, 1, 1.0), (1, 1, 0.5)])
    out = {r["docID"]: r["score"] for r in H.combine_scores(df, 2, "arithmetic_mean", [0.7, 0.3]).collect()}
    assert out[1] == pytest.approx(0.7 * 1.0 + 0.3 * 0.5)


def test_weights_validation(spark):
    df = _norm_df(spark, [(0, 1, 1.0)])
    with pytest.raises(ValueError, match="sum to 1.0"):
        H.combine_scores(df, 1, "arithmetic_mean", [0.5])
    with pytest.raises(ValueError, match="match number"):
        H.combine_scores(df, 1, "arithmetic_mean", [0.5, 0.5])


def test_rrf_combine_hand_computed(spark):
    # sq0: doc1 r1, doc2 r2; sq1: doc2 r1, doc3 r2; constant 60
    df = _scores_df(spark, [(0, 1, 5.0), (0, 2, 3.0), (1, 2, 10.0), (1, 3, 1.0)])
    out = {r["docID"]: r["score"] for r in H.rrf_combine(df, 2).collect()}
    assert out[1] == pytest.approx(1 / 61)
    assert out[2] == pytest.approx(1 / 61 + 1 / 62)
    assert out[3] == pytest.approx(1 / 62)


def test_rrf_combine_weighted_and_ties(spark):
    # tie inside sq0 (same score) breaks by docID asc → doc1 r1, doc2 r2
    df = _scores_df(spark, [(0, 1, 5.0), (0, 2, 5.0), (1, 2, 1.0)])
    out = {
        r["docID"]: r["score"]
        for r in H.rrf_combine(df, 2, rank_constant=10, weights=[2.0, 1.0]).collect()
    }
    assert out[1] == pytest.approx(2 / 11)
    assert out[2] == pytest.approx(2 / 12 + 1 / 11)


def test_hybrid_rrf_topk_e2e(spark, index_tables):
    from neural_search_spark.query.hybrid import hybrid_rrf_topk

    out = hybrid_rrf_topk(index_tables, [["spark", "data"], ["cache", "heap"]], k=10).collect()
    assert 0 < len(out) <= 10
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    # every fused score is a sum of reciprocals bounded by 2/(60+1)
    assert all(0 < s <= 2 / 61 for s in scores)


# ---------------------------------------------------------------------------
# sparse quantization
# ---------------------------------------------------------------------------


def test_quantize16_matches_reference_bit_twiddle(spark):
    vals = [0.1, 1.0, 3.75, 123.456, 0.0009765625, 7.0, 1e-8]
    df = spark.createDataFrame([(float(v),) for v in vals], "x float")
    from neural_search_spark.query.sparse import quantize16

    got = [r["q"] for r in df.select(quantize16(F.col("x")).alias("q")).collect()]
    exp = [oracle.quantize16(v) for v in vals]
    assert got == pytest.approx(exp, abs=0)


def test_sparse_topk_quantized_matches_oracle(spark, transcripts, index_tables):
    postings = {
        (r["term"], r["docID"]): r["tf"] for r in index_tables.postings.collect()
    }
    doc_weights = {}
    for (t, d), tf in postings.items():
        doc_weights.setdefault(d, {})[t] = float(tf)
    q = {"the": 1.5, "data": 0.7, "spark": 2.0}
    exp = sorted(
        oracle.sparse_linear_scores(doc_weights, q).items(), key=lambda kv: (-kv[1], kv[0])
    )[:10]
    weights_df = index_tables.postings.select(
        "term", "docID", F.col("tf").cast("double").alias("weight")
    )
    got = sparse_topk(weights_df, q, k=10, quantize=True).collect()
    assert [r["docID"] for r in got] == [d for d, _ in exp]
    for r, (_, s) in zip(got, exp):
        assert r["score"] == pytest.approx(s, rel=1e-6)


def test_two_phase_topk_equals_full_topk(spark, index_tables):
    """Window = k×5 covers enough that two-phase top-k must equal the exact
    one (the reference guarantee for returned hits)."""
    weights_df = index_tables.postings.select(
        "term", "docID", F.col("tf").cast("double").alias("weight")
    )
    q = {"the": 2.0, "data": 1.0, "spark": 0.3, "cache": 0.2}
    full = sparse_topk(weights_df, q, k=10, quantize=False).collect()
    two = two_phase_sparse_topk(weights_df, q, k=10, quantize=False).collect()
    assert [r["docID"] for r in two] == [r["docID"] for r in full]
    for a, b in zip(two, full):
        # high+low grouping associates float additions differently — the
        # reference's rescore adds the same way (phase1 + phase2 parts)
        assert a["score"] == pytest.approx(b["score"], rel=1e-12)


# ---------------------------------------------------------------------------
# DSL
# ---------------------------------------------------------------------------


def _oracle_docs(transcripts):
    return {r["docID"]: r["text"] for r in transcripts.select("docID", "text").collect()}


def test_dsl_match_counts_duplicate_terms(spark, transcripts, engine):
    docs = _oracle_docs(transcripts)
    # "data data spark" → data weight 2, spark weight 1
    exp = oracle.topk(oracle.bm25_scores(docs, {"data": 2.0, "spark": 1.0}), 10)
    got = engine.search({"match": {"text": {"query": "data data spark"}}}, k=10).collect()
    assert [r["docID"] for r in got] == [d for d, _ in exp]


def test_dsl_term_with_boost(spark, transcripts, engine):
    docs = _oracle_docs(transcripts)
    exp = oracle.topk(oracle.bm25_scores(docs, {"cache": 3.0}), 10)
    got = engine.search({"term": {"text": {"value": "cache", "boost": 3.0}}}, k=10).collect()
    assert [r["docID"] for r in got] == [d for d, _ in exp]
    for r, (_, s) in zip(got, exp):
        assert r["score"] == pytest.approx(s, rel=1e-9)


def test_dsl_bool_filter_keeps_global_stats(spark, transcripts, engine):
    docs = _oracle_docs(transcripts)
    roles = {r["docID"]: r["role"] for r in transcripts.select("docID", "role").collect()}
    exp_all = oracle.bm25_scores(docs, ["the", "data"])
    exp = oracle.topk({d: s for d, s in exp_all.items() if roles[d] == "user"}, 10)
    got = engine.search(
        {"bool": {"must": {"match": {"text": {"query": "the data"}}},
                  "filter": [{"eq": ["role", "user"]}]}},
        k=10,
    ).collect()
    assert [r["docID"] for r in got] == [d for d, _ in exp]


def test_dsl_hybrid_end_to_end(spark, transcripts, engine, index_tables):
    from neural_search_spark.query.hybrid import hybrid_topk

    direct = hybrid_topk(index_tables, [["spark", "data"], ["cache", "heap"]], k=10).collect()
    via_dsl = engine.search(
        {"hybrid": {"queries": [
            {"match": {"text": {"query": "spark data"}}},
            {"match": {"text": {"query": "cache heap"}}},
        ]}},
        k=10,
    ).collect()
    assert [(r["docID"], r["score"]) for r in via_dsl] == [(r["docID"], r["score"]) for r in direct]


def test_dsl_validation_errors(engine):
    with pytest.raises(QueryValidationError, match="1..5 sub-queries"):
        engine.search({"hybrid": {"queries": []}})
    with pytest.raises(QueryValidationError, match="nest"):
        engine.search({"hybrid": {"queries": [{"hybrid": {"queries": []}}]}})
    with pytest.raises(QueryValidationError, match="boost"):
        engine.search({"hybrid": {"queries": [{"match": {"text": "x"}}], "boost": 2.0}})
    with pytest.raises(QueryValidationError, match="unknown query kind"):
        engine.search({"wat": {}})


def test_dsl_sort_and_search_after(spark, transcripts, engine):
    rows = engine.search(
        {"match_all": {}}, k=5, sort=[("conv_id", "asc"), ("turn_idx", "asc")]
    ).collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
    assert keys == sorted(keys)
    # paging resumes strictly after the cursor
    cursor = [rows[-1]["conv_id"], rows[-1]["turn_idx"]]
    page2 = engine.search(
        {"match_all": {}}, k=5, sort=[("conv_id", "asc"), ("turn_idx", "asc")],
        search_after=cursor,
    ).collect()
    keys2 = [(r["conv_id"], r["turn_idx"]) for r in page2]
    assert keys2 == sorted(keys2)
    assert all(k2 > tuple(cursor) for k2 in keys2)
    # sort-criteria validation: unknown field / bad direction rejected at
    # parse time, not as a late AnalysisException
    with pytest.raises(QueryValidationError, match="unknown sort field"):
        engine.search({"match_all": {}}, k=5, sort=[("no_such_col", "asc")])
    with pytest.raises(QueryValidationError, match="direction"):
        engine.search({"match_all": {}}, k=5, sort=[("conv_id", "ascending")])


def test_hybrid_sort_windows_bound_by_sort_field(spark, transcripts, engine):
    """HybridTopFieldDocSortCollector semantics: with a field sort, each
    sub-query's bounded window competes on the SORT criteria, not the score
    (FieldValueHitQueue; ScoreCombiner.java:100-103 merges TopFieldDocs by
    the sort). A low-scoring match with a winning sort key must appear."""
    q = {"hybrid": {"queries": [
        {"match": {"text": {"query": "spark query"}}},
        {"match": {"text": {"query": "data pipeline"}}},
    ]}}
    k = 5
    sort = [("turn_idx", "desc")]
    got = engine.search(q, k=k, sort=sort).collect()

    # python oracle: per-subquery MATCH SETS → per-subquery top-k by
    # (turn_idx desc, docID asc) → union → order by the same keys, limit k
    meta = {r["docID"]: r["turn_idx"] for r in transcripts.select("docID", "turn_idx").collect()}
    windows = set()
    for sub in q["hybrid"]["queries"]:
        matches = [r["docID"] for r in engine._score(sub, None).collect()]
        matches.sort(key=lambda d: (-meta[d], d))
        windows.update(matches[:k])
    exp = sorted(windows, key=lambda d: (-meta[d], d))[:k]
    assert [r["docID"] for r in got] == exp
    assert [r["rank"] for r in got] == list(range(1, k + 1))

    # the old (wrong) window: per-subquery top-k by SCORE then field sort —
    # prove the fixture actually distinguishes the two semantics
    score_windows = set()
    for sub in q["hybrid"]["queries"]:
        rows = engine._score(sub, None).collect()
        rows.sort(key=lambda r: (-r["score"], r["docID"]))
        score_windows.update(r["docID"] for r in rows[:k])
    exp_old = sorted(score_windows, key=lambda d: (-meta[d], d))[:k]
    assert exp_old != exp, "fixture does not separate field- vs score-bounded windows"


def test_hybrid_sort_search_after_draws_fresh_docs(spark, transcripts, engine):
    """Paging a sorted hybrid applies the cursor BEFORE the per-sub-query
    bound (PagingFieldCollector skips pre-cursor docs at collect time), so
    later pages surface docs that were outside page 1's windows."""
    q = {"hybrid": {"queries": [
        {"match": {"text": {"query": "spark query"}}},
        {"match": {"text": {"query": "data pipeline"}}},
    ]}}
    k = 5
    sort = [("turn_idx", "desc")]
    meta = {r["docID"]: r["turn_idx"] for r in transcripts.select("docID", "turn_idx").collect()}

    # full expected page sequence from the python oracle, page by page
    def pages(expected_total):
        cursor, seen = None, []
        while True:
            rows = engine.search(q, k=k, sort=sort, search_after=cursor).collect()
            if not rows:
                break
            seen.extend(r["docID"] for r in rows)
            cursor = [meta[rows[-1]["docID"]], rows[-1]["docID"]]
            if len(seen) > expected_total:
                break
        return seen

    # union of ALL matches = what paging must eventually enumerate
    all_matches = set()
    for sub in q["hybrid"]["queries"]:
        all_matches.update(r["docID"] for r in engine._score(sub, None).collect())
    seen = pages(len(all_matches))
    assert len(seen) == len(set(seen)), "a doc was repeated across pages"
    assert set(seen) == all_matches, "paging missed docs outside page-1 windows"
    order = sorted(all_matches, key=lambda d: (-meta[d], d))
    assert seen == order, "global page sequence must follow the sort"


def test_dsl_search_after_docid_tiebreak(spark, transcripts, engine):
    """PagingFieldCollector.java:88-95: when sort keys tie at the cursor,
    only docs <= the cursor doc are skipped — paging a heavily-tied sort key
    with a (key, docID) cursor visits every doc exactly once."""
    n_docs = transcripts.count()
    sort = [("role", "asc")]  # few distinct values → massive ties
    seen: list[int] = []
    cursor = None
    for _ in range(1000):
        rows = engine.search(
            {"match_all": {}}, k=7, sort=sort,
            search_after=cursor,
        ).collect()
        if not rows:
            break
        seen.extend(r["docID"] for r in rows)
        cursor = [rows[-1]["role"], rows[-1]["docID"]]
    assert len(seen) == n_docs
    assert len(set(seen)) == n_docs  # no doc skipped or repeated

    from neural_search_spark.query.dsl import QueryValidationError

    with pytest.raises(QueryValidationError, match="cursor"):
        engine.search({"match_all": {}}, k=5, sort=sort, search_after=[1, 2, 3])


def test_dsl_post_filter_filtered_collector_semantics(spark, transcripts, engine):
    """FilteredCollector (HybridCollectorManager.java:121-127): post_filter
    restricts candidates BEFORE top-k — the caller gets k *passing* hits
    whose scores are identical to the unfiltered run (stats stay global)."""
    q = {"match": {"text": {"query": "the data"}}}
    full = {r["docID"]: r["score"] for r in engine.search(q, k=100_000).collect()}
    k = 5
    filtered = engine.search(q, k=k, post_filter={"eq": ["role", "tool"]}).collect()
    roles = {r["docID"]: r["role"] for r in transcripts.select("docID", "role").collect()}
    passing = sorted(
        ((d, s) for d, s in full.items() if roles[d] == "tool"),
        key=lambda x: (-x[1], x[0]),
    )
    assert len(passing) >= k, "fixture must have >= k passing docs"
    # exactly k passing hits — matching docs beyond unfiltered rank k are kept
    assert [r["docID"] for r in filtered] == [d for d, _ in passing[:k]]
    # scores unaffected by the filter
    for r in filtered:
        assert r["score"] == pytest.approx(full[r["docID"]], rel=1e-12)


# ---------------------------------------------------------------------------
# rerank + multimodal
# ---------------------------------------------------------------------------


def test_rerank_by_field(spark, transcripts, engine):
    from neural_search_spark.ops.rerank import rerank_by_field

    top = engine.search({"match": {"text": {"query": "the data"}}}, k=10)
    rr = rerank_by_field(top, transcripts, "turn_idx").collect()
    vals = [r["score"] for r in rr]
    assert vals == sorted(vals, reverse=True)
    assert all("previous_score" in r.asDict() for r in rr)
    assert {r["docID"] for r in rr} == {r["docID"] for r in top.collect()}


def test_multimodal_fake_features(spark):
    from neural_search_spark.ops.multimodal import (
        deterministic_fake_features,
        extract_features,
        real_decode_stub,
        synthesize_media,
    )

    media = synthesize_media(spark, n=60).repartition(4)
    feats = extract_features(media, kernel=deterministic_fake_features, batch_kind="image").collect()
    assert len(feats) == 20  # every 3rd row is an image
    assert all(len(f["feature"]) == 16 for f in feats)
    # deterministic: same media_id → same feature across runs/partitionings
    feats2 = extract_features(media.repartition(7), kernel=deterministic_fake_features,
                              batch_kind="image").collect()
    assert {f["media_id"]: f["feature"] for f in feats} == {
        f["media_id"]: f["feature"] for f in feats2
    }
    with pytest.raises(NotImplementedError):
        real_decode_stub(b"x", "image/png")


def test_wav_parse_and_features():
    """Pure-numpy WAV decode: synthesized sine tones round-trip through
    parse_wav with the expected signal statistics, across bit depths and
    channel counts."""
    import numpy as np

    from neural_search_spark.ops.multimodal import make_wav_bytes, parse_wav, wav_features

    payload = make_wav_bytes(freq_hz=440.0, duration_s=0.25, sample_rate=8000)
    sr, x = parse_wav(payload)
    assert sr == 8000 and len(x) == 2000
    f = wav_features(payload)
    assert f.dtype == np.float32 and len(f) == 8
    dur, rms, zcr, peak = float(f[0]), float(f[1]), float(f[2]), float(f[3])
    assert dur == pytest.approx(0.25, abs=1e-3)
    assert rms == pytest.approx(0.5 / np.sqrt(2), rel=0.01)  # sine RMS = A/√2
    assert zcr == pytest.approx(2 * 440.0 / 8000, rel=0.05)  # 2 crossings/cycle
    assert peak == pytest.approx(0.5, rel=0.01)
    assert sum(float(b) for b in f[4:]) == pytest.approx(1.0, abs=1e-3)

    # stereo 16-bit and mono 8-bit decode to (approximately) the same signal
    _, x2 = parse_wav(make_wav_bytes(n_channels=2))
    assert np.allclose(x, x2, atol=1e-4)
    _, x8 = parse_wav(make_wav_bytes(bits=8))
    # 8-bit quantization (±0.5/128) + the 127-vs-128 scale convention
    assert np.allclose(x, x8, atol=1 / 100.0)

    with pytest.raises(ValueError):
        parse_wav(b"not a wav")
    with pytest.raises(ValueError):
        parse_wav(make_wav_bytes()[:20])  # truncated: chunk walk finds no data


def test_multimodal_wav_e2e(spark):
    """The real decode path end-to-end through the Arrow-batched
    extract_features plumbing: WAV rows produce real features, a corrupt
    payload is skipped (not a task failure) under skip_malformed, and
    non-WAV mimes still take the declared stub path."""
    from neural_search_spark.ops.multimodal import (
        WAV_FEATURE_DIM,
        extract_features,
        make_wav_bytes,
        media_decode_features,
    )

    rows = [
        (0, "audio", "audio/wav", bytearray(make_wav_bytes(freq_hz=200.0))),
        (1, "audio", "audio/wav", bytearray(make_wav_bytes(freq_hz=1200.0))),
        (2, "audio", "audio/wav", bytearray(b"corrupt-not-riff")),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, mime string, payload binary"
    ).repartition(3)
    got = {
        r["media_id"]: r["feature"]
        for r in extract_features(
            media, kernel=media_decode_features, batch_kind="audio", skip_malformed=True
        ).collect()
    }
    assert set(got) == {0, 1}
    assert all(len(v) == WAV_FEATURE_DIM for v in got.values())
    # higher tone → more energy in higher bands (band index shifts up)
    import numpy as np

    assert int(np.argmax(got[1][4:])) >= int(np.argmax(got[0][4:]))
    with pytest.raises(NotImplementedError):
        media_decode_features(b"\x89PNG", "image/png")
    # without skip_malformed the corrupt row is a hard error
    with pytest.raises(Exception):
        extract_features(media, kernel=media_decode_features, batch_kind="audio").collect()


def test_lsh_cosine_recall_and_determinism(spark):
    """Sign-LSH ANN: with probe_hamming == n_planes the candidate set is
    exhaustive so results equal exact cosine; at the default probe radius
    recall@10 against exact must be substantial on random vectors."""
    import numpy as np
    from neural_search_spark.ops.similarity import cosine_topk, lsh_cosine_topk

    rng = np.random.RandomState(3)
    vecs = rng.normal(size=(400, 16)).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    ).repartition(4)
    q = [float(x) for x in vecs[7]]
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    exhaustive = [
        r["vec_id"]
        for r in lsh_cosine_topk(emb, q, k=10, n_planes=8, probe_hamming=8).collect()
    ]
    assert exhaustive == exact
    approx = [
        r["vec_id"] for r in lsh_cosine_topk(emb, q, k=10, n_planes=8, probe_hamming=2).collect()
    ]
    recall = len(set(approx) & set(exact)) / 10
    assert recall >= 0.5, f"recall@10 {recall}"
    assert approx[0] == 7  # the query vector itself always lands in-bucket


@pytest.fixture(scope="module")
def neural_engine(spark, transcripts, index_tables):
    """Engine with a deterministic embeddings table keyed by docID."""
    import numpy as np

    from neural_search_spark.query.dsl import QueryEngine

    n = transcripts.count()
    rng = np.random.RandomState(5)
    vecs = rng.normal(size=(n, 8)).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "docID long, embedding array<float>",
    ).persist()
    return QueryEngine(tables=index_tables, docs=transcripts, embeddings=emb), vecs


def test_dsl_neural_k_mode(spark, neural_engine):
    import numpy as np

    eng, vecs = neural_engine
    q = [float(x) for x in vecs[3]]
    got = eng.search({"neural": {"embedding": {"query_vector": q, "k": 10}}}, k=10).collect()
    # numpy oracle: cosine desc, docID asc
    v = vecs.astype(np.float64)
    qv = np.asarray(q)
    cos = (v @ qv) / (np.linalg.norm(v, axis=1) * np.linalg.norm(qv))
    exp = sorted(range(len(v)), key=lambda i: (-cos[i], i))[:10]
    assert [r["docID"] for r in got] == exp
    assert got[0]["docID"] == 3 and got[0]["score"] == pytest.approx(1.0)
    for r in got:
        assert r["score"] == pytest.approx(cos[r["docID"]], rel=1e-9)


def test_dsl_neural_radial_and_filter(spark, transcripts, neural_engine):
    import numpy as np

    eng, vecs = neural_engine
    q = [float(x) for x in vecs[3]]
    v = vecs.astype(np.float64)
    qv = np.asarray(q)
    cos = (v @ qv) / (np.linalg.norm(v, axis=1) * np.linalg.norm(qv))

    # min_score radial: every doc above the threshold, no limit
    got = eng._score({"neural": {"embedding": {"query_vector": q, "min_score": 0.3}}}, None)
    assert {r["docID"] for r in got.collect()} == {int(i) for i in np.flatnonzero(cos >= 0.3)}

    # max_distance radial (cosine distance 1 − cos)
    got2 = eng._score({"neural": {"embedding": {"query_vector": q, "max_distance": 0.7}}}, None)
    assert {r["docID"] for r in got2.collect()} == {int(i) for i in np.flatnonzero(1 - cos <= 0.7)}

    # filtered kNN: filter applies during search, k passing hits
    roles = {r["docID"]: r["role"] for r in transcripts.select("docID", "role").collect()}
    got3 = eng.search(
        {"neural": {"embedding": {"query_vector": q, "k": 5, "filter": {"eq": ["role", "user"]}}}},
        k=5,
    ).collect()
    passing = sorted(
        (i for i in range(len(v)) if roles[i] == "user"), key=lambda i: (-cos[i], i)
    )[:5]
    assert [r["docID"] for r in got3] == passing


def test_dsl_neural_in_hybrid(spark, neural_engine):
    """The reference's headline combo: lexical + neural sub-queries fused
    by the hybrid pipeline (HybridQueryIT.java)."""
    eng, vecs = neural_engine
    q = [float(x) for x in vecs[3]]
    res = eng.search(
        {"hybrid": {"queries": [
            {"match": {"text": "the data"}},
            {"neural": {"embedding": {"query_vector": q, "k": 10}}},
        ], "normalization": "min_max", "combination": "arithmetic_mean"}},
        k=10,
    ).collect()
    assert len(res) == 10
    # doc 3 (cos=1 → minmax 1.0) must be present in the fused top-10
    assert 3 in {r["docID"] for r in res}
    scores = [r["score"] for r in res]
    assert scores == sorted(scores, reverse=True)


def test_dsl_neural_validation(spark, transcripts, index_tables, neural_engine):
    from neural_search_spark.query.dsl import QueryEngine

    eng, vecs = neural_engine
    q = [float(x) for x in vecs[0]]
    with pytest.raises(QueryValidationError, match="only one of"):
        eng.search({"neural": {"embedding": {"query_vector": q, "k": 5, "min_score": 0.3}}})
    with pytest.raises(QueryValidationError, match="query_vector"):
        eng.search({"neural": {"embedding": {"k": 5}}})
    bare = QueryEngine(tables=index_tables, docs=transcripts)
    with pytest.raises(QueryValidationError, match="embeddings"):
        bare.search({"neural": {"embedding": {"query_vector": q}}})


def test_ivf_trained_recall_and_partition_pruning(spark, tmp_path):
    """IVF with the trained spherical-k-means quantizer: exhaustive probe
    equals exact cosine; default nprobe gives substantial recall; the
    pre-clustered path is identical to on-the-fly and partition-prunes."""
    import numpy as np
    from neural_search_spark.ops.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        ivf_index,
        ivf_train_centroids,
    )

    rng = np.random.RandomState(21)
    vecs = rng.normal(size=(400, 16)).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    ).repartition(4)
    cents = ivf_train_centroids(emb, dim=16, n_clusters=8, sample=256, iters=4)
    assert cents.shape == (8, 16)
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0)

    q = [float(x) for x in vecs[5]]
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    exhaustive = [
        r["vec_id"] for r in ivf_cosine_topk(emb, q, cents, k=10, nprobe=8).collect()
    ]
    assert exhaustive == exact  # probing every cluster == exact
    approx = [r["vec_id"] for r in ivf_cosine_topk(emb, q, cents, k=10, nprobe=3).collect()]
    assert len(set(approx) & set(exact)) / 10 >= 0.5
    assert approx[0] == 5  # the query vector's own cluster is always probed

    # pre-clustered + partitionBy: same result, partition filters on cluster
    path = str(tmp_path / "emb_ivf")
    ivf_index(emb, cents).write.partitionBy("cluster").parquet(path)
    stored = spark.read.parquet(path)
    pre = [r["vec_id"] for r in ivf_cosine_topk(stored, q, cents, k=10, nprobe=3).collect()]
    assert pre == approx
    plan = (
        ivf_cosine_topk(stored, q, cents, k=10, nprobe=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "cluster" in plan


def test_lsh_prebucketed_partition_pruning(spark, tmp_path):
    """Index-time bucketing (lsh_index + partitionBy('bucket')): the probe
    is an IN-list filter on the partition column — identical results to the
    on-the-fly path, and the scan's partition filters prune on `bucket`."""
    import numpy as np
    from neural_search_spark.ops.similarity import (
        lsh_cosine_topk,
        lsh_index,
        probe_buckets,
        query_bucket,
    )

    rng = np.random.RandomState(11)
    vecs = rng.normal(size=(300, 16)).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    ).repartition(4)
    path = str(tmp_path / "emb_bucketed")
    lsh_index(emb, dim=16, n_planes=8).write.partitionBy("bucket").parquet(path)
    stored = spark.read.parquet(path)

    q = [float(x) for x in vecs[3]]
    fly = [(r["vec_id"], r["cosine"]) for r in lsh_cosine_topk(emb, q, k=10).collect()]
    pre = [(r["vec_id"], r["cosine"]) for r in lsh_cosine_topk(stored, q, k=10).collect()]
    assert pre == fly

    # the probe reaches the scan as a partition filter on bucket
    plan = (
        lsh_cosine_topk(stored, q, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "bucket" in plan

    # multi-probe set size: C(8,0)+C(8,1)+C(8,2) = 37 buckets
    probes = probe_buckets(query_bucket(q, 8), 8, 2)
    assert len(probes) == 37 and len(set(probes)) == 37


def test_dsl_hybrid_fused_equals_per_subquery(spark, transcripts, engine, index_tables):
    """All-lexical hybrids route through fused_bm25_subquery_scores (one
    postings scan); the result must be identical to scoring each sub-query
    separately and unioning (the pre-fusion construction)."""
    from neural_search_spark.query import bm25, hybrid as hybrid_mod

    body = {
        "queries": [
            {"match": {"text": "the data"}},
            {"match": {"text": "spark model"}},
            {"term": {"text": {"value": "user", "boost": 2.0}}},
        ],
        "normalization": "min_max",
        "combination": "arithmetic_mean",
    }
    got = engine.search({"hybrid": body}, k=10).collect()

    per = []
    for idx, tokens in enumerate(
        [{"the": 1.0, "data": 1.0}, {"spark": 1.0, "model": 1.0}, {"user": 2.0}]
    ):
        s = bm25.bm25_score_all(
            index_tables.postings, index_tables.doclens, index_tables.term_stats,
            index_tables.meta, tokens,
        )
        per.append(s.select(F.lit(idx).alias("subquery_idx"), "docID", "score"))
    bounded = hybrid_mod.bounded_subquery_union(per, 10)
    normalized = hybrid_mod.normalize_scores(bounded, "min_max")
    combined = hybrid_mod.combine_scores(normalized, 3, "arithmetic_mean")
    exp = (
        combined.orderBy(F.col("score").desc(), F.col("docID").asc()).limit(10).collect()
    )
    assert [r["docID"] for r in got] == [r["docID"] for r in exp]
    for g, e in zip(got, exp):
        assert g["score"] == pytest.approx(e["score"], rel=1e-12)


def test_dsl_hybrid_aggs_and_count(spark, transcripts, engine):
    """Aggs + total-hit counting compose with HYBRID queries
    (HybridAggregationProcessor.java:31-65): the agg runs over the UNION of
    the sub-queries' match sets, and post_filter does not affect it."""
    from neural_search_spark.query.dsl import QueryValidationError

    q = {"hybrid": {"queries": [
        {"match": {"text": "the data"}},
        {"match": {"text": "spark"}},
    ]}}
    match_a = {r["docID"] for r in engine._score({"match": {"text": "the data"}}, None).collect()}
    match_b = {r["docID"] for r in engine._score({"match": {"text": "spark"}}, None).collect()}
    exp_ids = match_a | match_b
    assert len(exp_ids) > 10

    hits, aggs = engine.search_with_aggs(q, {"by_role": {"terms": {"field": "role"}}}, k=10)
    assert hits.count() == 10
    roles = {r["docID"]: r["role"] for r in transcripts.select("docID", "role").collect()}
    exp = {}
    for d in exp_ids:
        exp[roles[d]] = exp.get(roles[d], 0) + 1
    got = {r["key"]: r["doc_count"] for r in aggs["by_role"].collect()}
    assert got == exp

    # post_filter must not change hybrid aggs
    _, aggs_f = engine.search_with_aggs(
        q, {"by_role": {"terms": {"field": "role"}}}, post_filter={"eq": ["role", "tool"]}
    )
    got_f = {r["key"]: r["doc_count"] for r in aggs_f["by_role"].collect()}
    assert got_f == got

    # count_hits over hybrid = |union of match sets| with threshold relation
    n, rel = engine.count_hits(q, track_total_hits=100_000)
    assert (n, rel) == (len(exp_ids), "eq")
    n2, rel2 = engine.count_hits(q, track_total_hits=5)
    assert (n2, rel2) == (5, "gte")


def test_dsl_from_pagination(spark, engine):
    """Nonzero `from_` pages non-hybrid results (ranks renumber from 1);
    hybrid rejects it (HybridQueryPhaseSearcher.java:51-73)."""
    from neural_search_spark.query.dsl import QueryValidationError

    q = {"match": {"text": {"query": "the data"}}}
    full = engine.search(q, k=20).collect()
    page2 = engine.search(q, k=10, from_=10).collect()
    assert [r["docID"] for r in page2] == [r["docID"] for r in full[10:20]]
    assert [r["rank"] for r in page2] == list(range(1, 11))
    with pytest.raises(QueryValidationError, match="from"):
        engine.search(
            {"hybrid": {"queries": [{"match": {"text": "the"}}]}}, k=10, from_=5
        )
    with pytest.raises(QueryValidationError, match="from_"):
        engine.search(q, k=10, from_=-1)


def test_dsl_public_score_radial(spark, neural_engine):
    """score() is the public unranked surface (no private _score use)."""
    import numpy as np

    eng, vecs = neural_engine
    q = [float(x) for x in vecs[3]]
    v = vecs.astype(np.float64)
    qv = np.asarray(q)
    cos = (v @ qv) / (np.linalg.norm(v, axis=1) * np.linalg.norm(qv))
    got = eng.score({"neural": {"embedding": {"query_vector": q, "min_score": 0.3}}})
    assert {r["docID"] for r in got.collect()} == {int(i) for i in np.flatnonzero(cos >= 0.3)}
    with pytest.raises(QueryValidationError, match="hybrid"):
        eng.score({"hybrid": {"queries": [{"match": {"text": "the"}}]}})


def test_dsl_neural_rescore(spark, neural_engine):
    """rescore = oversample-then-exact-re-rank (rescoreContext analog): at a
    recall-sufficient window (probe covers every bucket, window ≥ corpus)
    the rescored ANN result is EXACTLY the full-scan top-k."""
    import numpy as np

    eng, vecs = neural_engine
    q = [float(x) for x in vecs[3]]
    v = vecs.astype(np.float64)
    qv = np.asarray(q)
    cos = (v @ qv) / (np.linalg.norm(v, axis=1) * np.linalg.norm(qv))
    exp = sorted(range(len(v)), key=lambda i: (-cos[i], i))[:10]

    got = eng.search(
        {"neural": {"embedding": {"query_vector": q, "k": 10, "rescore": {
            "oversample_factor": 20.0, "n_planes": 8, "probe_hamming": 8}}}},
        k=10,
    ).collect()
    assert [r["docID"] for r in got] == exp
    for r in got:
        assert r["score"] == pytest.approx(cos[r["docID"]], rel=1e-9)

    # default probe: the query's own vector (bucket hamming 0) is always found
    approx = eng.search(
        {"neural": {"embedding": {"query_vector": q, "k": 10, "rescore": {
            "oversample_factor": 4.0}}}},
        k=10,
    ).collect()
    assert approx[0]["docID"] == 3

    with pytest.raises(QueryValidationError, match="oversample_factor"):
        eng.search({"neural": {"embedding": {"query_vector": q, "k": 5, "rescore": {
            "oversample_factor": 200.0}}}})
    with pytest.raises(QueryValidationError, match="k-mode"):
        eng.search({"neural": {"embedding": {"query_vector": q, "min_score": 0.1,
                                             "rescore": {"oversample_factor": 2.0}}}})


def test_dsl_hybrid_fused_single_postings_scan(spark, transcripts, index_tables, tmp_path):
    """Plan-shape lock: every all-lexical DSL route (match, fused bool,
    hybrid, dis_max, msearch) must compile to exactly ONE scan of the
    postings table, with the query terms pushed into it as an In(term, …)
    filter (fused sub-query scoring + window-based normalization; a
    groupBy-self-join normalization would plan the scan once per
    reference)."""
    from neural_search_spark.index.build import IndexTables
    from neural_search_spark.query.dsl import QueryEngine

    p = str(tmp_path / "postings")
    index_tables.postings.write.parquet(p)
    t2 = IndexTables(
        postings=spark.read.parquet(p),
        doclens=index_tables.doclens,
        term_stats=index_tables.term_stats,
        meta=index_tables.meta,
    )
    eng = QueryEngine(tables=t2, docs=transcripts)

    def postings_scans(res):
        plan = res._jdf.queryExecution().executedPlan().toString()
        # count data scans only: Spark's InjectRuntimeFilter may add
        # term-only bloom-builder Subquery scans — those are an optimization
        # artifact, not a second pass over the posting payload
        return [ln for ln in plan.splitlines() if "FileScan parquet" in ln and "docID" in ln], plan

    two = [{"match": {"text": "the data"}}, {"match": {"text": "spark model"}}]
    reads = {
        "match": eng.search({"match": {"text": "the data spark"}}, k=10),
        "bool": eng.search({"bool": {
            "must": [two[0]], "should": [two[1]],
            "must_not": [{"term": {"text": {"value": "index"}}}],
            "filter": [{"eq": ["role", "user"]}]}}, k=10),
        "hybrid": eng.search({"hybrid": {"queries": two + [
            {"term": {"text": {"value": "user"}}}]}}, k=10),
        "dis_max": eng.search({"dis_max": {"queries": two, "tie_breaker": 0.3}}, k=10),
        "msearch": eng.msearch(two + [{"term": {"text": {"value": "user"}}}], k=10),
    }
    for name, res in reads.items():
        scans, plan = postings_scans(res)
        assert len(scans) == 1, (name, plan)
        assert "PushedFilters: [In(term, [" in scans[0], (name, scans[0])
        assert res.count() > 0, name
    assert reads["hybrid"].count() == 10

    # SORTED hybrid keeps the same single fused scan: the sort-key join and
    # field-bounded windows must not re-plan the postings pass
    res2 = eng.search({"hybrid": {"queries": two}}, k=10, sort=[("turn_idx", "desc")])
    scans2, plan2 = postings_scans(res2)
    assert len(scans2) == 1, plan2
    assert res2.count() == 10


def test_bm25_batch_matches_per_query(spark, index_tables):
    """Batch multi-query top-k (one postings pass for the whole query set)
    must equal running bm25_topk once per query, including weights and
    docID tie-breaks; every query_id present, ranks 1..k dense."""
    from neural_search_spark.query.batch import bm25_topk_batch
    from neural_search_spark.query.bm25 import bm25_topk

    t = index_tables
    qdefs = {
        101: {"the": 1.0, "spark": 1.0, "query": 1.0},
        102: {"data": 2.0, "index": 1.0},
        103: {"tok5": 1.0},
        104: {"zzz_missing": 1.0, "cache": 1.0},
    }
    qrows = [(qid, term, w) for qid, terms in qdefs.items() for term, w in sorted(terms.items())]
    queries = spark.createDataFrame(qrows, "query_id long, term string, weight double")

    got = bm25_topk_batch(
        t.postings, t.doclens, t.term_stats, t.meta, queries, k=5
    ).collect()
    by_q: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)

    for qid, terms in qdefs.items():
        exp = bm25_topk(t.postings, t.doclens, t.term_stats, t.meta, terms, k=5).collect()
        rows = by_q.get(qid, [])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1)), qid
        assert [(r["docID"], round(r["score"], 9)) for r in rows] == [
            (r["docID"], round(r["score"], 9)) for r in exp
        ], qid


def test_sparse_batch_matches_per_query(spark, index_tables):
    """Batch sparse top-k (one doc-weight pass for the whole query set)
    must equal sparse_topk run once per query, quantization included."""
    from neural_search_spark.query.batch import sparse_topk_batch
    from neural_search_spark.query.sparse import sparse_topk

    t = index_tables
    weights = t.postings.select(
        "term", "docID", F.col("tf").cast("double").alias("weight")
    )
    qdefs = {
        201: {"the": 1.5, "spark": 0.4},
        202: {"data": 1.0, "index": 2.0, "cache": 0.3},
        203: {"zzz_missing": 1.0},
    }
    qrows = [(qid, term, w) for qid, terms in qdefs.items() for term, w in sorted(terms.items())]
    queries = spark.createDataFrame(qrows, "query_id long, term string, weight double")

    got = sparse_topk_batch(weights, queries, k=5, quantize=True).collect()
    by_q: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, terms in qdefs.items():
        exp = sparse_topk(weights, terms, k=5, quantize=True).collect()
        rows = by_q.get(qid, [])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1)), qid
        assert [(r["docID"], round(r["score"], 9)) for r in rows] == [
            (r["docID"], round(r["score"], 9)) for r in exp
        ], qid


def test_hybrid_batch_matches_per_query(spark, index_tables):
    """Batch hybrid top-k (one postings scan for every sub-query of every
    query; normalize/combine keyed by (query_id, subquery_idx)) must equal
    hybrid_topk run once per query."""
    from neural_search_spark.query.batch import hybrid_topk_batch
    from neural_search_spark.query.hybrid import hybrid_topk

    t = index_tables
    qdefs = {
        301: [{"the": 1.0, "spark": 1.0}, {"data": 1.0}],
        302: [{"index": 2.0}, {"cache": 1.0, "query": 1.0}],
    }
    qrows = [
        (qid, si, term, w)
        for qid, subs in qdefs.items()
        for si, sub in enumerate(subs)
        for term, w in sorted(sub.items())
    ]
    queries = spark.createDataFrame(
        qrows, "query_id long, subquery_idx int, term string, weight double"
    )
    got = hybrid_topk_batch(
        t.postings, t.doclens, t.term_stats, t.meta, queries,
        n_subqueries=2, k=5, normalization="min_max", combination="arithmetic_mean",
    ).collect()
    by_q: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, subs in qdefs.items():
        exp = hybrid_topk(t, subs, k=5).collect()
        rows = by_q.get(qid, [])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1)), qid
        assert [(r["docID"], round(r["score"], 9)) for r in rows] == [
            (r["docID"], round(r["score"], 9)) for r in exp
        ], qid


def test_hybrid_batch_rrf_matches_per_query(spark, index_tables):
    """Batch RRF fusion must equal hybrid_rrf_topk run once per query."""
    from neural_search_spark.query.batch import hybrid_topk_batch
    from neural_search_spark.query.hybrid import hybrid_rrf_topk

    t = index_tables
    qdefs = {
        401: [{"the": 1.0, "spark": 1.0}, {"data": 1.0}],
        402: [{"index": 2.0}, {"cache": 1.0, "query": 1.0}],
    }
    qrows = [
        (qid, si, term, w)
        for qid, subs in qdefs.items()
        for si, sub in enumerate(subs)
        for term, w in sorted(sub.items())
    ]
    queries = spark.createDataFrame(
        qrows, "query_id long, subquery_idx int, term string, weight double"
    )
    got = hybrid_topk_batch(
        t.postings, t.doclens, t.term_stats, t.meta, queries,
        n_subqueries=2, k=5, combination="rrf", weights=[1.0, 2.0],
    ).collect()
    by_q: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, subs in qdefs.items():
        exp = hybrid_rrf_topk(t, subs, k=5, weights=[1.0, 2.0]).collect()
        rows = by_q.get(qid, [])
        assert [(r["docID"], round(r["score"], 9)) for r in rows] == [
            (r["docID"], round(r["score"], 9)) for r in exp
        ], qid


def test_int8_quantized_cosine(spark):
    """Int8 symmetric quantization: codes match the python mirror exactly,
    quantized cosine tracks exact cosine (≤ ~1% error on random vectors),
    and recall@10 vs exact is high."""
    import math

    import numpy as np

    from neural_search_spark.ops.similarity import (
        cosine_int8_topk,
        cosine_topk,
        quantize_embeddings_int8,
    )

    rng = np.random.RandomState(11)
    vecs = rng.normal(size=(300, 16)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(4)
    qz = quantize_embeddings_int8(emb).persist()

    got = {r["vec_id"]: (list(r["codes"]), r["scale"]) for r in qz.collect()}
    for i, v in rows[:50]:
        absmax = max(abs(x) for x in v)
        scale = absmax / 127.0 if absmax > 0 else 1.0
        codes = [math.floor(x / scale + 0.5) for x in v]
        assert got[i][0] == codes, i
        assert got[i][1] == pytest.approx(scale, rel=1e-12)
        assert all(-127 <= c <= 127 for c in codes)

    q = rows[3][1]
    exact = {r["vec_id"]: r["cosine"] for r in cosine_topk(emb, q, k=20).collect()}
    quant = {r["vec_id"]: r["cosine"] for r in cosine_int8_topk(qz, q, k=20).collect()}
    # top hit is the query vector itself in both
    assert max(quant, key=quant.get) == 3
    recall = len(set(list(exact)[:10]) & set(list(quant)[:10]))
    overlap = len(set(exact) & set(quant))
    for vid in set(exact) & set(quant):
        assert quant[vid] == pytest.approx(exact[vid], abs=0.01)
    assert overlap >= 16  # 20-lists nearly identical

    # zero vector quantizes to zero codes with scale 1 and never errors
    z = spark.createDataFrame(
        [(0, [0.0] * 4)], "vec_id long, embedding array<float>"
    )
    r = quantize_embeddings_int8(z).first()
    assert list(r["codes"]) == [0, 0, 0, 0] and r["scale"] == 1.0
