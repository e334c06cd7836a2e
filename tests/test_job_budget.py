"""Spark-job budget of in-memory requests.

A warm in-memory text request runs the same three Spark jobs as a facet
request: the facets + total pass (a shuffle: two jobs) and the page (one
job). Each job scores the query inside its own plan over the postings
cache, and joins the docs cache partition by partition (both are
hash-partitioned by ``_docid``), so no request cache is built or left
behind. Hits whose recomputation would re-run a Python task — a
callback ``filter`` — are still materialized once per request. Jobs are
counted as the difference of the DAG scheduler's next job id.

A reopened block store whose docid ranges all fit one WAND batch serves
a query + filters request (``wand_filtered``) in 7 jobs and a query
request on a facetless store (``wand_topk``) in 4: no bound query, the
page sliced from WAND's driver list and fetched by docid, and no
request cache. A store with more ranges than one batch still walks its
bounds."""

from __future__ import annotations

from unittest import mock

import pytest
from pyspark.sql import functions as F

from itemsjs_spark.data.transcripts import transcripts_df
from itemsjs_spark.engine import Index, SearchEngine, itemsjs_spark
from itemsjs_spark.engine import wand

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


# --------------------------------------------------------------------------
# block store
# --------------------------------------------------------------------------
BLOCK_REQUESTS = {
    "wand_filtered": (
        "facets",
        [
            {"query": "spark", "filters": {"role": ["assistant"]}},
            {"query": "error", "filters": {"role": ["user"]}, "per_page": 5, "page": 2},
            {"query": "spark", "filters": {"tool": ["bash", "grep"]}},
        ],
        7,
    ),
    "wand_topk": (
        "plain",
        [{"query": "spark"}, {"query": "shuffle partition", "per_page": 5, "page": 3}],
        4,
    ),
}


def _reopen(spark, tmp_path_factory, cfg, **layout):
    tdf = transcripts_df(spark, n_turns=600, n_convs=60, seed=9)
    eng = itemsjs_spark(spark, tdf, cfg, order_by=["conv_id", "turn_idx"])
    path = str(tmp_path_factory.mktemp("budget") / "store")
    eng.index.write_blocks(path, n_buckets=2, block_size=64, **layout)
    eng.index.unpersist()
    disk = SearchEngine(Index.read(spark, path))
    disk.ROUTER_FORCE = "blocks"  # tiny corpus: pin the block routes
    return disk


@pytest.fixture(scope="module")
def block_engines(spark, tmp_path_factory):
    """Reopened stores with the default range_size: one docid range."""
    engines = {
        "facets": _reopen(spark, tmp_path_factory, CFG),
        "plain": _reopen(spark, tmp_path_factory, {"searchableFields": ["text"]}),
    }
    engines["facets"].search({"query": "error", "filters": {"role": ["user"]}})
    engines["plain"].search({"query": "error"})
    return engines


@pytest.mark.parametrize("route", sorted(BLOCK_REQUESTS))
def test_warm_block_store_request_job_budget(spark, block_engines, route):
    name, reqs, budget = BLOCK_REQUESTS[route]
    eng = block_engines[name]
    before = _cached_rdds(spark)
    for req in reqs:
        assert eng.explain_search(dict(req))["route"] == route
        n, resp = _jobs(spark, lambda: eng.search(dict(req)))
        assert n == budget, req
        assert resp["data"]["items"], req  # the page fetch ran
    assert _cached_rdds(spark) == before


def _bound_queries(fn):
    """``fn()`` and the number of WAND bound queries it ran (each builds
    one ``term, w`` weight relation)."""
    with mock.patch.object(
        wand, "local_relation", wraps=wand.local_relation
    ) as spy:
        out = fn()
    return out, sum(
        c.args[2].startswith("term string") for c in spy.call_args_list
    )


def _exact_topk(eng, query, k):
    return [
        tuple(r)
        for r in eng.fulltext_hits(query)
        .orderBy(F.col("__score").desc(), F.col("_docid").cast("string").asc())
        .limit(k)
        .collect()
    ]


def test_one_batch_store_skips_the_bound_query(block_engines):
    eng = block_engines["plain"]
    got, n = _bound_queries(lambda: eng.fulltext_topk("spark shuffle", 10).collect())
    assert n == 0
    assert [tuple(r) for r in got] == _exact_topk(eng, "spark shuffle", 10)


def test_many_range_store_walks_its_bounds(spark, tmp_path_factory):
    # range_size 8 over 600 docids: 76 ranges > batch_ranges (64)
    eng = _reopen(
        spark, tmp_path_factory, {"searchableFields": ["text"]}, range_size=8
    )
    for query, k in (("spark", 10), ("shuffle partition", 15), ("s", 20)):
        got, n = _bound_queries(lambda: eng.fulltext_topk(query, k).collect())
        assert n == 1, query
        assert [tuple(r) for r in got] == _exact_topk(eng, query, k), query
