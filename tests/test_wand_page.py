"""The block-max WAND routes page their best-first top-k on the driver:
the page is sliced from WAND's list in ``_order``'s relevance order
(score descending, then ``str(_docid)`` ascending) and its docs are
fetched by docid. These tests hold that page to the scan route's on
score ties whose docids cross a digit boundary (9/10, 99/100 — where
the string tie-break differs from the numeric one), with and without
driver-set tombstones (the k + |deleted| over-fetch), and on a store
with more docid ranges than one WAND batch.

They also pin the page parameters to the reference's ``parseInt``
coercion (the oracle's ``js_parse_int``)."""

from __future__ import annotations

import json

import pytest

from itemsjs_spark.engine import EngineError, Index, SearchEngine, itemsjs_spark
from itemsjs_spark.oracle.itemsjs_oracle import ItemsJSOracle

FACET_CFG = {
    "aggregations": {
        "role": {"size": 10},
        "tool": {"size": 10, "conjunction": False},
    },
    "searchableFields": ["text"],
}
PLAIN_CFG = {"searchableFields": ["text"]}


def _text(i: int) -> str:
    if i in (3, 50, 120):
        return "alpha alpha"
    if i in (5, 25, 77, 105):
        return "alpha beta"
    if i % 6 == 0:
        return "gamma"
    return "alpha"  # one tie group: 9/10 and 99/100 among them


ITEMS = [
    {
        "text": _text(i),
        "role": "a" if i % 2 else "b",
        "tool": "y" if i % 7 == 0 else "x",
    }
    for i in range(1, 131)
]
DEAD = [1, 3, 9, 10, 99, 100, 101]


def _open(spark, tmp_path_factory, cfg, range_size):
    mem = itemsjs_spark(spark, [dict(it) for it in ITEMS], cfg)
    path = str(tmp_path_factory.mktemp("wandpage") / "store")
    mem.index.write_blocks(path, n_buckets=2, range_size=range_size, block_size=8)
    return mem.index, Index.read(spark, path)


# range_size 1: one range per docid (131 > batch_ranges), so WAND walks
# its bounds in batches; the default range_size is one range, one batch
@pytest.fixture(scope="module", params=[1 << 20, 1], ids=["one_range", "ranges"])
def stores(request, spark, tmp_path_factory):
    return {
        "wand_filtered": _open(spark, tmp_path_factory, FACET_CFG, request.param),
        "wand_topk": _open(spark, tmp_path_factory, PLAIN_CFG, request.param),
    }


def _engines(stores, route, dead):
    mem_index, disk_index = stores[route]
    mem, disk = SearchEngine(mem_index), SearchEngine(disk_index)
    disk.ROUTER_FORCE = "blocks"  # tiny corpus: pin the block routes
    for eng in (mem, disk):
        eng.delete_docids(dead)
    return mem, disk


def _request(route, page, per_page):
    req = {"query": "alpha", "page": page, "per_page": per_page}
    if route == "wand_filtered":
        req["filters"] = {"tool": ["x"]}
    return req


@pytest.mark.parametrize("dead", [[], DEAD], ids=["live", "tombstones"])
@pytest.mark.parametrize("route", ["wand_filtered", "wand_topk"])
def test_driver_page_equals_scan_page(stores, route, dead):
    mem, disk = _engines(stores, route, dead)
    for per_page in (0, 1, 7):
        for page in (1, 2, 3):
            req = _request(route, page, per_page)
            assert disk.explain_search(dict(req))["route"] == route
            assert mem.explain_search(dict(req))["route"] == "standard_scan"
            want, got = mem.search(dict(req)), disk.search(dict(req))
            assert got["data"]["items"] == want["data"]["items"], req
            assert got["pagination"] == want["pagination"], req
    # non-vacuous: the tie group's string order puts 10 before 9
    ids = _ids(mem.search(_request(route, 1, 200)))
    if not dead:
        assert ids.index(10) < ids.index(9) and ids.index(100) < ids.index(11)


# --------------------------------------------------------------------------
# page parameters: the reference's parseInt
# --------------------------------------------------------------------------
PAGING = [
    {"per_page": "5.5"},
    {"per_page": "10px", "page": "2"},
    {"per_page": 2.9, "page": " 3"},
]


@pytest.fixture(scope="module")
def oracle():
    return ItemsJSOracle([dict(it) for it in ITEMS], json.loads(json.dumps(FACET_CFG)))


def _ids(resp):
    return [it["_id"] for it in resp["data"]["items"]]


@pytest.mark.parametrize("paging", PAGING)
def test_paging_parses_as_parse_int(stores, oracle, paging):
    mem, disk = _engines(stores, "wand_filtered", [])
    for req, eng, route in (
        ({"query": "alpha", **paging}, mem, "standard_scan"),
        ({"query": "alpha", "filters": {"tool": ["x"]}, **paging}, disk, "wand_filtered"),
    ):
        assert eng.explain_search(dict(req))["route"] == route
        want, got = oracle.search(dict(req)), eng.search(dict(req))
        assert got["pagination"] == want["pagination"], req
        assert _ids(got) == _ids(want), req


@pytest.mark.parametrize("bad", [{"per_page": True}, {"page": "x"}])
def test_unparsable_paging_raises_on_every_route(stores, oracle, bad):
    mem, fdisk = _engines(stores, "wand_filtered", [])
    _, qdisk = _engines(stores, "wand_topk", [])
    cases = [
        ({"query": "alpha"}, mem, "standard_scan"),
        ({"query": "alpha", "filters": {"tool": ["x"]}}, fdisk, "wand_filtered"),
        ({"filters": {"tool": ["x"]}}, fdisk, "facet_blocks"),
        ({"query": "alpha"}, qdisk, "wand_topk"),
    ]
    for req, eng, route in cases:
        req = {**req, **bad}
        assert eng.explain_search(dict(req))["route"] == route
        with pytest.raises(ValueError):
            oracle.search(dict(req))
        with pytest.raises(EngineError):
            eng.search(dict(req))
