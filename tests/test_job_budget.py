"""Spark job budget per public read op.

At interactive scale a read's latency is its job count, not its work: each
job pays scheduling, and with AQE each shuffle stage is a job of its own.
This test warms each op once (plan cache, parquet handles, Python workers)
and then counts the jobs of one more call through a job group, so a change
that adds a job to a warm read fails here, not only in a benchmark."""

from __future__ import annotations

import pytest

from neural_search_spark.data import synthesize_transcripts
from neural_search_spark.index.store import IndexStore, build_index
from neural_search_spark.query.segment_search import wand_topk

QUERY = ["the", "data", "spark"]


def match(text: str) -> dict:
    return {"match": {"text": {"query": text}}}


#: op → (call, job budget)
OPS = {
    "topk+fetch": (lambda store, eng: store.fetch(store.topk(QUERY, k=5)).collect(), 3),
    "match": (lambda store, eng: eng.search(match("data spark"), k=5).collect(), 4),
    "bool": (lambda store, eng: eng.search({"bool": {
        "must": [match("data")], "should": [match("spark query")],
        "must_not": [match("index")], "filter": [{"eq": ["role", "user"]}]}}, k=5).collect(), 5),
    "hybrid": (lambda store, eng: eng.search({"hybrid": {
        "queries": [match("the data"), match("spark")],
        "normalization": "min_max", "combination": "arithmetic_mean"}}, k=5).collect(), 7),
    "msearch": (lambda store, eng: eng.msearch(
        [match("data"), match("spark query"), match("the index")], k=5).collect(), 6),
}


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("budget") / "idx")
    tr = synthesize_transcripts(spark, n_convs=12, turns_per_conv=6, seed=5)
    build_index(spark, tr, path, source_fingerprint="synth:12x6:5", postings_per_salt=50)
    return IndexStore(spark, path)


def count_jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, "job budget")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("op", list(OPS))
def test_warm_read_job_budget(spark, store, op):
    call, budget = OPS[op]
    engine = store.query_engine()
    call(store, engine)  # warm: plan cache, parquet handles, Python workers
    jobs = count_jobs(spark, f"job-budget-{op}", lambda: call(store, engine))
    assert jobs <= budget, f"{op}: {jobs} Spark jobs, budget {budget}"


def test_cold_plan_cache_after_compact_job_budget(spark, tmp_path):
    """The first plan_cache() after compact() opens the rewritten segments
    and aggregates them in one Arrow collect: at most 3 jobs."""
    path = str(tmp_path / "idx")
    tr = synthesize_transcripts(spark, n_convs=8, turns_per_conv=6, seed=5)
    build_index(spark, tr, path, source_fingerprint="synth:8x6:5", postings_per_salt=50)
    store = IndexStore(spark, path)
    store.topk(QUERY, k=5).collect()  # warm: plan cache and handles of the old epoch
    store.delete_docs([0, 1])
    store.compact()
    jobs = count_jobs(spark, "job-budget-cold-plan-cache", store.plan_cache)
    assert store.plan_cache()["terms"]
    assert jobs <= 3, f"cold plan_cache: {jobs} Spark jobs, budget 3"


@pytest.mark.parametrize("cached,budget", [(True, 4), (False, 6)], ids=["plan-cache", "no-plan-cache"])
def test_pruned_wand_job_budget(spark, store, cached, budget):
    """A warm pruned wand_topk plans on the driver: the metadata read, the θ
    seed and the decode+score; without a plan cache, a per-term df
    aggregate (one shuffle) comes first. Its stats_out holds numbers the
    driver already has, so passing it adds no job."""

    def call(stats_out=None):
        return wand_topk(
            store.segments, None, store.meta["N"], store.meta["avgdl"], QUERY, k=5,
            no_prune_blocks=0, stats_out=stats_out,
            plan_cache=store.plan_cache() if cached else None,
        ).collect()

    call()  # warm
    jobs = count_jobs(spark, f"job-budget-wand-{cached}", call)
    so: dict = {}
    with_stats = count_jobs(spark, f"job-budget-wand-stats-{cached}", lambda: call(so))
    assert jobs <= budget, f"pruned wand_topk: {jobs} Spark jobs, budget {budget}"
    assert with_stats == jobs, f"stats_out added {with_stats - jobs} Spark jobs"
    assert 0 < so["blocks_surviving"] <= so["blocks_total"], so
