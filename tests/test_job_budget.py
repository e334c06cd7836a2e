"""Spark-job budget of in-memory requests.

A warm in-memory text request runs the same three Spark jobs as a facet
request: the facets + total pass (a shuffle: two jobs) and the page (one
job). Each job scores the query inside its own plan over the postings
cache, and joins the docs cache partition by partition (both are
hash-partitioned by ``_docid``), so no request cache is built or left
behind. Hits whose recomputation would re-run a Python task — a
callback ``filter`` — are still materialized once per request. Jobs are
counted as the difference of the DAG scheduler's next job id."""

from __future__ import annotations

import pytest

from itemsjs_spark.data.transcripts import transcripts_df
from itemsjs_spark.engine import itemsjs_spark

CFG = {
    "aggregations": {
        "role": {"size": 10},
        "tool": {"size": 10, "conjunction": False},
    },
    "searchableFields": ["text"],
}

TEXT_REQUESTS = [
    {"query": "error"},
    {"query": "spark shuffle"},
    {"query": "sp"},  # prefix expansion
    {"query": "error", "filters": {"role": ["assistant"]}},
    {"query": "error", "page": 2, "per_page": 5},
    {"filters": {"role": ["tool"]}, "range_filters": {"turn_idx": [0, 3]}},
]
FACET_REQUESTS = [
    {"filters": {"role": ["tool"]}},
    {"not_filters": {"role": ["user"]}},
    {"page": 2},
]


@pytest.fixture(scope="module")
def engine(spark):
    tdf = transcripts_df(spark, n_turns=600, n_convs=60, seed=9)
    eng = itemsjs_spark(spark, tdf, CFG, order_by=["conv_id", "turn_idx"])
    eng.materialize()
    # fill the driver-side term dictionary and facet dimension
    eng.search({"query": "error"})
    return eng


def _jobs(spark, fn):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    out = fn()
    return dag.nextJobId() - j0, out


def _cached_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


@pytest.mark.parametrize("req", TEXT_REQUESTS)
def test_warm_text_request_runs_three_jobs(spark, engine, req):
    n, resp = _jobs(spark, lambda: engine.search(dict(req)))
    assert n <= 3, req
    assert resp["pagination"]["total"] >= 0


@pytest.mark.parametrize("req", FACET_REQUESTS)
def test_facet_request_runs_three_jobs(spark, engine, req):
    n, _ = _jobs(spark, lambda: engine.search(dict(req)))
    assert n == 3, req


def test_text_request_leaves_no_cache(spark, engine):
    before = _cached_rdds(spark)
    for req in TEXT_REQUESTS:
        engine.search(dict(req))
    assert _cached_rdds(spark) == before


def test_text_page_equals_the_cached_plan(spark, engine, monkeypatch):
    """Scoring inside each plan answers exactly as materializing the
    hits once does (the plan kept for costly hits)."""
    for req in TEXT_REQUESTS:
        want = engine.search(dict(req))
        orig = type(engine)._candidates
        monkeypatch.setattr(
            type(engine), "_candidates",
            lambda self, inp: (orig(self, inp)[0], True),  # always cache
        )
        got = engine.search(dict(req))
        monkeypatch.undo()
        assert got["data"] == want["data"], req
        assert got["pagination"] == want["pagination"], req


def test_callback_filter_runs_once_over_the_corpus(spark, engine):
    calls = spark.sparkContext.accumulator(0)

    def flt(item):
        calls.add(1)
        return item.get("role") == "assistant"

    resp = engine.search({"query": "error", "filter": flt})
    assert calls.value == engine.index.n_docs
    assert all(it["role"] == "assistant" for it in resp["data"]["items"])
