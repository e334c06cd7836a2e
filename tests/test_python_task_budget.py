"""Python-task budget of block-store requests.

Every PySpark task pays a fixed start-up cost whatever rows it gets, so
the block-store request path must not start Python workers it does not
need: driver-side relations are JVM ``LocalTableScan``s (never
``spark.createDataFrame(<python list>)``, a Python-RDD scan), and a
selective block decode runs in as many tasks as its posting-count
estimate asks for, not one per file split. The route a request takes
is the one ``explain_search`` reports for it."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from itemsjs_spark.data.transcripts import transcripts_df
from itemsjs_spark.engine import Index, SearchEngine, blocks, itemsjs_spark
from itemsjs_spark.engine.facetblocks import SEP, BlockSetAlgebra
from itemsjs_spark.engine.query import EngineError
from itemsjs_spark.engine.relations import local_relation

CFG = {
    "aggregations": {
        "role": {"size": 10},
        "tool": {"size": 10, "conjunction": False},
    },
    "searchableFields": ["text"],
}


def _store(spark, tmp_path_factory, cfg, name):
    tdf = transcripts_df(spark, n_turns=2000, n_convs=200, seed=9)
    mem = itemsjs_spark(spark, tdf, cfg, order_by=["conv_id", "turn_idx"])
    path = str(tmp_path_factory.mktemp(name) / "artifacts")
    mem.index.write_blocks(path, n_buckets=4, range_size=512, block_size=64)
    disk = SearchEngine(Index.read(spark, path))
    disk.ROUTER_FORCE = "blocks"  # tiny corpus: pin the block routes
    return mem, disk


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    return _store(spark, tmp_path_factory, CFG, "budget")


@pytest.fixture(scope="module")
def facetless(spark, tmp_path_factory):
    return _store(
        spark, tmp_path_factory, {"searchableFields": ["text"]}, "budget_nf"
    )


@pytest.fixture
def list_relations(monkeypatch):
    """Records every SparkSession.createDataFrame call given a Python list."""
    calls = []
    orig = SparkSession.createDataFrame

    def spy(self, data, *args, **kwargs):
        if isinstance(data, list):
            calls.append((len(data), args))
        return orig(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    return calls


def _same_response(a, b):
    assert a["pagination"] == b["pagination"]
    assert [i["_id"] for i in a["data"]["items"]] == [
        i["_id"] for i in b["data"]["items"]
    ]
    assert a["data"]["aggregations"] == b["data"]["aggregations"]


ROUTED = [
    ("wand_filtered", {"query": "spark", "filters": {"role": ["assistant"]}}),
    (
        "wand_filtered",
        {"query": "zzznope", "filters": {"role": ["user"]}, "per_page": 3},
    ),
    ("facet_blocks", {"filters": {"role": ["user"], "tool": ["bash", "grep"]}}),
    ("standard_scan", {"query": "shuffle partition", "per_page": 5}),
]


@pytest.mark.parametrize("route,input", ROUTED)
def test_block_routes_build_no_python_list_relation(
    engines, list_relations, route, input
):
    mem, disk = engines
    assert disk.explain_search(dict(input))["route"] == route
    b = disk.search(dict(input))
    assert list_relations == [], route
    _same_response(mem.search(dict(input)), b)


def test_wand_topk_route_builds_no_python_list_relation(facetless, list_relations):
    mem, disk = facetless
    for input in ({"query": "spark", "per_page": 7}, {"query": "zzznope"}):
        assert disk.explain_search(dict(input))["route"] == "wand_topk"
        b = disk.search(dict(input))
        assert list_relations == [], input
        _same_response(mem.search(dict(input)), b)


ROUTE_METHODS = {
    "_search_wand": "wand_topk",
    "_search_wand_filtered": "wand_filtered",
    "_search_facetblocks": "facet_blocks",
    "_search_standard": "standard_scan",
}

NATIVE_OFF = {"native_search_enabled": False}

AGREEMENT = [
    *[("disk", "blocks", {}, input) for _route, input in ROUTED],
    ("disk", "blocks", {}, {"filters": {"role": ["assistant"]}}),
    (
        "disk",
        "blocks",
        {},
        {"query": "spark", "filters": {"role": ["assistant"]}},
    ),
    # quoted phrase: both WAND routes decline
    (
        "disk",
        "blocks",
        {},
        {"query": '"spark shuffle"', "filters": {"role": ["assistant"]}},
    ),
    # unforced router: the tiny corpus declines blocks on cost
    ("disk", None, {}, {"filters": {"role": ["assistant"]}}),
    ("mem", None, {}, {"query": "spark"}),
    ("facetless", "blocks", {}, {"query": "spark", "per_page": 7}),
    # refused before any route: explain must refuse it too
    ("disk", "blocks", NATIVE_OFF, {"query": "spark"}),
]


@pytest.mark.parametrize("which,force,cfg,input", AGREEMENT)
def test_search_takes_the_route_explain_reports(
    engines, facetless, monkeypatch, which, force, cfg, input
):
    eng = {"mem": engines[0], "disk": engines[1], "facetless": facetless[1]}[
        which
    ]
    monkeypatch.setattr(eng, "ROUTER_FORCE", force)
    for key, value in cfg.items():
        monkeypatch.setitem(eng.configuration, key, value)
    ran = []
    for name, route in ROUTE_METHODS.items():
        orig = getattr(eng, name)

        def spy(*args, _orig=orig, _route=route):
            ran.append(_route)
            return _orig(*args)

        monkeypatch.setattr(eng, name, spy)
    try:
        want = [eng.explain_search(dict(input))["route"]]
    except EngineError:
        want = []
        with pytest.raises(EngineError):
            eng.search(dict(input))
    else:
        eng.search(dict(input))
    assert ran == want, input
    assert cfg != NATIVE_OFF or want == []


def test_local_relation_is_a_jvm_local_scan(spark):
    for rows in ([("a", 0.5), ("b", 2)], []):
        df = local_relation(spark, rows, "term string, w double")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.startswith("LocalTableScan"), plan
        assert "ExistingRDD" not in plan
        assert [tuple(r) for r in df.collect()] == [
            (t, float(w)) for t, w in rows
        ]
    with pytest.raises(ValueError):
        local_relation(spark, [(1,)], "a long, b long")


def test_large_tombstone_set_is_a_local_relation(spark, engines):
    _mem, disk = engines
    eng = SearchEngine(disk.index)
    eng.delete_docids(range(1, eng.TOMBSTONE_ISIN_MAX + 3))
    live = eng._live(eng.index.docs.select("_docid"))
    plan = live._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan
    assert live.count() == disk.index.n_docs - (eng.TOMBSTONE_ISIN_MAX + 2)


def _hot_term(disk):
    terms, _idf, dfs = disk._term_dictionary()
    i = max(range(len(terms)), key=lambda j: dfs[j])
    return terms[i], int(dfs[i])


def test_selective_decode_is_coalesced_to_the_estimate(engines):
    _mem, disk = engines
    term, df = _hot_term(disk)
    scan = disk.index.posting_blocks.filter(F.col("term").isin([term]))
    n_in = scan.rdd.getNumPartitions()
    assert n_in > 1  # a multi-file store: one split per file
    sized = blocks.postings_from_blocks(scan, est=df)
    want = min(n_in, math.ceil(df / blocks.POSTINGS_PER_DECODE_TASK))
    assert sized.rdd.getNumPartitions() == want == 1
    plain = blocks.postings_from_blocks(scan)
    assert plain.rdd.getNumPartitions() == n_in
    assert sorted(map(tuple, sized.collect())) == sorted(
        map(tuple, plain.collect())
    )
    assert sized.count() == df
    # the engine sizes the query-term decode from the dictionary's df
    assert disk._postings_estimate([term, "zzznope"]) == df


def test_large_estimate_keeps_parallel_decode(engines, monkeypatch):
    _mem, disk = engines
    monkeypatch.setattr(blocks, "POSTINGS_PER_DECODE_TASK", 64)
    term, df = _hot_term(disk)
    scan = disk.index.posting_blocks.filter(F.col("term").isin([term]))
    n_in = scan.rdd.getNumPartitions()
    sized = blocks.postings_from_blocks(scan, est=df)
    assert math.ceil(df / 64) > 1
    assert sized.rdd.getNumPartitions() == min(n_in, math.ceil(df / 64)) > 1
    assert sized.count() == df


def test_contains_leaf_decode_sized_from_value_count(engines):
    _mem, disk = engines
    disk._facet_dim_cache()
    glob = disk._facet_global
    alg = BlockSetAlgebra(disk.index, disk.index.facet_posting_blocks, glob)
    leaf = alg.docids(("contains", "role", "user"))
    assert leaf.rdd.getNumPartitions() == 1
    assert leaf.count() == glob["role"]["user"]
    # no count known for the value: the scan keeps its partitioning
    bare = BlockSetAlgebra(disk.index, disk.index.facet_posting_blocks)
    n_in = disk.index.facet_posting_blocks.filter(
        F.col("term") == "role" + SEP + "user"
    ).rdd.getNumPartitions()
    assert bare.docids(("contains", "role", "user")).rdd.getNumPartitions() == n_in


def test_inner_sets_persist_first(engines):
    """An outer set cached before its inner set would decode the inner
    value again for the inner set's own count job."""
    _mem, disk = engines
    alg = BlockSetAlgebra(disk.index, disk.index.facet_posting_blocks)
    inner = ("contains", "role", "user")
    outer = ("and", [inner, ("contains", "tool", "bash")])
    persisted = alg.persist([outer, inner, outer])
    try:
        assert len(persisted) == 2
        assert persisted[0] is alg.docids(inner)
        assert persisted[1] is alg.docids(outer)
        plan = alg.docids(outer)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryRelation") == 2, plan  # reads inner's cache
    finally:
        for df in persisted:
            df.unpersist()
