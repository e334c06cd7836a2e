"""Disk-backed index path: write → read → query parity, and pushdown
proof — the persisted term-sorted postings scan must receive the query's
term predicate (PushedFilters), so prefix/term lookups prune row groups
instead of reading the whole postings table."""

from __future__ import annotations

import io
import contextlib
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from itemsjs_spark.data.transcripts import transcripts_df
from itemsjs_spark.engine import Index, SearchEngine, itemsjs_spark


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    tdf = transcripts_df(spark, n_turns=2000, n_convs=200, seed=9)
    cfg = {
        "aggregations": {"role": {"size": 10}, "tool": {"size": 10}},
        "searchableFields": ["text"],
    }
    mem = itemsjs_spark(spark, tdf, cfg, order_by=["conv_id", "turn_idx"])
    path = str(tmp_path_factory.mktemp("idx") / "artifacts")
    mem.index.write(path)
    disk = SearchEngine(Index.read(spark, path))
    return mem, disk, path


SEARCHES = [
    {"query": "spark"},
    {"query": "shuffle partition", "per_page": 5},
    {"query": "s", "filters": {"role": ["assistant"]}},
    {"filters": {"tool": ["bash"]}},
    {"not_filters": {"role": ["system"]}, "per_page": 7, "page": 2},
]


@pytest.mark.parametrize("idx", range(len(SEARCHES)))
def test_disk_engine_matches_memory_engine(engines, idx):
    mem, disk, _path = engines
    a = mem.search(dict(SEARCHES[idx]))
    b = disk.search(dict(SEARCHES[idx]))
    assert a["pagination"] == b["pagination"]
    assert [i["_id"] for i in a["data"]["items"]] == [
        i["_id"] for i in b["data"]["items"]
    ]
    for fld, entry in a["data"]["aggregations"].items():
        assert entry["buckets"] == b["data"]["aggregations"][fld]["buckets"], fld


def test_term_predicate_reaches_parquet_scan(engines, spark, tmp_path):
    mem, _disk, _path = engines
    plan = io.StringIO()
    # a path of its own: Spark's CacheManager substitutes the persisted
    # InMemoryRelation for ANY scan of an already-cached path, which
    # would hide the parquet pushdown we're asserting
    path2 = str(tmp_path / "artifacts2")
    mem.index.write(path2)
    disk2 = SearchEngine(Index.read(spark, path2))
    disk2._ft_materialized = True  # keep postings as a parquet scan
    df = disk2.fulltext_hits("spark")
    with contextlib.redirect_stdout(plan):
        df.explain(mode="formatted")
    text = plan.getvalue()
    assert "PushedFilters" in text
    # the spark term (stemmed 'spark') must appear inside a pushed In/EqualTo
    pushed = [ln for ln in text.splitlines() if "PushedFilters" in ln and "term" in ln]
    assert any("spark" in ln for ln in pushed), pushed


# ---------------------------------------------------------------------------
# compressed block-store layout (Index.write_blocks → Index.read)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def block_engines(spark, tmp_path_factory):
    tdf = transcripts_df(spark, n_turns=2000, n_convs=200, seed=9)
    cfg = {
        "aggregations": {"role": {"size": 10}, "tool": {"size": 10}},
        "searchableFields": ["text"],
    }
    mem = itemsjs_spark(spark, tdf, cfg, order_by=["conv_id", "turn_idx"])
    path = str(tmp_path_factory.mktemp("blockidx") / "artifacts")
    report = mem.index.write_blocks(path, n_buckets=4, range_size=512, block_size=64)
    disk = SearchEngine(Index.read(spark, path))
    return mem, disk, report


@pytest.mark.parametrize("idx", range(len(SEARCHES)))
def test_block_engine_matches_memory_engine(block_engines, idx):
    """Full search() parity through the decoded compressed block store."""
    mem, disk, _report = block_engines
    a = mem.search(dict(SEARCHES[idx]))
    b = disk.search(dict(SEARCHES[idx]))
    assert a["pagination"] == b["pagination"]
    assert [i["_id"] for i in a["data"]["items"]] == [
        i["_id"] for i in b["data"]["items"]
    ]
    for fld, entry in a["data"]["aggregations"].items():
        assert entry["buckets"] == b["data"]["aggregations"][fld]["buckets"], fld


def test_block_engine_scores_bit_identical(block_engines):
    mem, disk, _ = block_engines
    for q in ("spark", "shuffle partition", "s"):
        a = sorted(map(tuple, mem.fulltext_hits(q).collect()))
        b = sorted(map(tuple, disk.fulltext_hits(q).collect()))
        assert a == b, q


def test_block_engine_wand_default_blocks(block_engines):
    """fulltext_topk with NO blocks arg uses the index's own store and
    matches the exact scorer's top-k."""
    mem, disk, _ = block_engines
    exact = mem.fulltext_hits("spark")
    from pyspark.sql import functions as FF
    top = sorted(
        map(tuple, exact.orderBy(
            FF.col("__score").desc(), FF.col("_docid").cast("string").asc()
        ).limit(10).collect())
    )
    wand = sorted(map(tuple, disk.fulltext_topk("spark", 10).collect()))
    assert wand == top


def test_block_engine_checkpoint_report(block_engines):
    _mem, _disk, report = block_engines
    assert sorted(report["built"]) == [0, 1, 2, 3]
    assert all(m["rows"] >= 0 and m["bytes"] > 0 for m in report["manifests"])


def test_term_predicate_reaches_block_scan(block_engines, spark, tmp_path):
    """The exact scorer over a block store must push the term predicate
    into the COMPRESSED parquet scan (only matching blocks decode)."""
    mem, _disk, _ = block_engines
    path2 = str(tmp_path / "blockidx2")
    mem.index.write_blocks(path2, n_buckets=4, range_size=512, block_size=64)
    disk2 = SearchEngine(Index.read(spark, path2))
    plan = io.StringIO()
    df = disk2.fulltext_hits("spark")
    with contextlib.redirect_stdout(plan):
        df.explain(mode="formatted")
    text = plan.getvalue()
    pushed = [ln for ln in text.splitlines() if "PushedFilters" in ln and "term" in ln]
    assert any("spark" in ln for ln in pushed), text


def test_wand_search_fast_path_matches_full_engine(spark, tmp_path):
    """Facetless block-backed search() routes through WAND + membership
    count — response-identical to the full scoring path."""
    tdf = transcripts_df(spark, n_turns=2000, n_convs=200, seed=9)
    cfg = {"searchableFields": ["text"]}
    mem = itemsjs_spark(spark, tdf, cfg, order_by=["conv_id", "turn_idx"])
    path = str(tmp_path / "nofacet")
    mem.index.write_blocks(path, n_buckets=4, range_size=512, block_size=64)
    disk = SearchEngine(Index.read(spark, path))
    assert disk._wand_search_applies({"query": "spark"})
    assert not mem._wand_search_applies({"query": "spark"})
    for inp in (
        {"query": "spark", "per_page": 7},
        {"query": "shuffle partition", "per_page": 5, "page": 2},
        {"query": "zzznope"},
        {"query": "s", "per_page": 3},
    ):
        a = mem.search(dict(inp))
        b = disk.search(dict(inp))
        assert b["pagination"] == a["pagination"], inp
        assert [i["_id"] for i in b["data"]["items"]] == [
            i["_id"] for i in a["data"]["items"]
        ], inp
        assert b["data"]["aggregations"] == a["data"]["aggregations"] == {}


def test_facetblock_search_path_matches_scan_path(spark, block_engines):
    """Filter-only search() on a block-backed index routes through the
    facet-posting-block set algebra — response-identical to the scan
    path, including zero buckets, selected flags and the missing-value
    quirks (both paths share the IR compiler)."""
    mem, disk, _report = block_engines
    assert disk.index.facet_posting_blocks is not None
    # cost-based router: at this tiny corpus the fixture filters are
    # UNSELECTIVE (role=assistant ≈ 40%), so the default threshold sends
    # them to the scan path; force-route to blocks to test the path
    assert not disk._facetblock_search_applies(
        {"filters": {"role": ["assistant"]}}
    )
    disk.ROUTER_FORCE = "blocks"  # tiny corpus: pin the route for parity testing
    assert disk._facetblock_search_applies({"filters": {"tool": ["bash"]}})
    assert disk._facetblock_search_applies(
        {"filters": {"tool": ["bash"]}, "not_filters": {"role": ["user"]}}
    )
    # negative-only / DNF-only inputs have corpus-sized candidates: scan
    assert not disk._facetblock_search_applies(
        {"not_filters": {"role": ["user"]}}
    )
    assert not mem._facetblock_search_applies({"filters": {"tool": ["bash"]}})
    # query present / callback filter keep the standard path
    assert not disk._facetblock_search_applies(
        {"query": "spark", "filters": {"tool": ["bash"]}}
    )
    assert not disk._facetblock_search_applies(
        {"filters": {"tool": ["bash"]}, "filter": lambda it: True}
    )
    for inp in (
        {"filters": {"tool": ["bash"]}},
        {"filters": {"role": ["assistant"]}, "per_page": 5, "page": 2},
        {"filters": {"role": ["assistant"], "tool": ["grep"]}},
        {"filters": {"role": ["nope-not-a-role"]}},
        {"filters": {"role": ["user"]}, "sort": None, "per_page": 3},
        {"not_filters": {"role": ["system"]}, "per_page": 7, "page": 2},
        {"filters": {"tool": ["bash"]}, "not_filters": {"role": ["user"]}},
        {"filters_query": "role:assistant OR tool:bash", "per_page": 6},
        {
            "filters_query": "(role:assistant AND tool:bash) OR role:system",
            "filters": {"role": ["assistant"]},
        },
    ):
        a = mem.search(dict(inp))
        b = disk.search(dict(inp))
        assert b["pagination"] == a["pagination"], inp
        assert [i["_id"] for i in b["data"]["items"]] == [
            i["_id"] for i in a["data"]["items"]
        ], inp
        for fld, entry in a["data"]["aggregations"].items():
            assert (
                b["data"]["aggregations"][fld]["buckets"] == entry["buckets"]
            ), (inp, fld)


@pytest.fixture(scope="module")
def block_engines_disj(spark, tmp_path_factory):
    """Block-backed engine with a DISJUNCTIVE facet — exercises the
    per-field self-exclusion sets in the block algebra."""
    tdf = transcripts_df(spark, n_turns=1500, n_convs=150, seed=11)
    cfg = {
        "aggregations": {
            "role": {"size": 10, "conjunction": False},
            "tool": {"size": 10},
        },
        "searchableFields": ["text"],
    }
    mem = itemsjs_spark(spark, tdf, cfg, order_by=["conv_id", "turn_idx"])
    path = str(tmp_path_factory.mktemp("blockidxdisj") / "artifacts")
    mem.index.write_blocks(path, n_buckets=4, range_size=512, block_size=64)
    disk = SearchEngine(Index.read(spark, path))
    disk.ROUTER_FORCE = "blocks"  # tiny corpus: pin the route for parity testing
    return mem, disk


def test_facetblock_disjunctive_self_exclusion_parity(block_engines_disj):
    """Disjunctive fields count buckets with their OWN filter excluded
    (helpers.ts:240-247); the block algebra must reproduce that via
    per-field filter sets, not one global intersection."""
    mem, disk = block_engines_disj
    for inp in (
        {"filters": {"role": ["assistant", "system"]}},
        {"filters": {"role": ["assistant"], "tool": ["bash"]}},
        {
            "filters": {"role": ["user", "assistant"]},
            "not_filters": {"tool": ["grep"]},
            "per_page": 5,
        },
        {"filters": {"role": ["assistant"]}, "page": 2, "per_page": 4},
    ):
        assert disk._facetblock_search_applies(dict(inp))
        a = mem.search(dict(inp))
        b = disk.search(dict(inp))
        assert b["pagination"] == a["pagination"], inp
        assert [i["_id"] for i in b["data"]["items"]] == [
            i["_id"] for i in a["data"]["items"]
        ], inp
        for fld, entry in a["data"]["aggregations"].items():
            assert (
                b["data"]["aggregations"][fld]["buckets"] == entry["buckets"]
            ), (inp, fld)


def test_facet_term_predicate_reaches_facet_block_scan(spark, tmp_path):
    """The block algebra's `contains` leaf must push its field␟key term
    predicate into the compressed facet-block parquet scan — only the
    filter value's own blocks are read, never the whole facet store."""
    tdf = transcripts_df(spark, n_turns=2000, n_convs=200, seed=9)
    cfg = {
        "aggregations": {"role": {"size": 10}, "tool": {"size": 10}},
        "searchableFields": ["text"],
    }
    mem = itemsjs_spark(spark, tdf, cfg, order_by=["conv_id", "turn_idx"])
    path = str(tmp_path / "fbpush")
    mem.index.write_blocks(path, n_buckets=4, range_size=512, block_size=64)
    disk = SearchEngine(Index.read(spark, path))
    from itemsjs_spark.engine.facetblocks import SEP, BlockSetAlgebra

    alg = BlockSetAlgebra(disk.index, disk.index.facet_posting_blocks)
    docids = alg.docids(("contains", "tool", "bash"))
    plan = io.StringIO()
    with contextlib.redirect_stdout(plan):
        docids.explain(mode="formatted")
    text = plan.getvalue()
    pushed = [
        ln for ln in text.splitlines() if "PushedFilters" in ln and "term" in ln
    ]
    assert any("tool" + SEP + "bash" in ln for ln in pushed), text


def test_facetblock_get_buckets_and_aggregation_match_scan(spark, block_engines):
    """get_buckets / the aggregation endpoint take the block counting
    path under the same router — identical buckets to the scan path."""
    mem, disk, _report = block_engines
    disk.ROUTER_FORCE = "blocks"  # tiny corpus: pin the route for parity testing
    for inp in (
        {"filters": {"tool": ["bash"]}},
        {"filters": {"role": ["assistant"]}, "not_filters": {"tool": ["grep"]}},
    ):
        a = mem.get_buckets(dict(inp))
        b = disk.get_buckets(dict(inp))
        for fld, entry in a.items():
            assert b[fld]["buckets"] == entry["buckets"], (inp, fld)
    agg_inp = {"name": "role", "filters": {"tool": ["bash"]}, "per_page": 10}
    a = mem.aggregation(dict(agg_inp))
    b = disk.aggregation(dict(agg_inp))
    assert a["data"]["buckets"] == b["data"]["buckets"]
    assert a["pagination"] == b["pagination"]


def test_point_lookup_pushdown_on_id_ordered_docs(spark, tmp_path):
    """Index.write orders docs by the external id and similar_df's
    anchor predicate stays type-native, so the point lookup reaches the
    parquet scan as a pushed filter (row-group pruning at scale, not a
    corpus scan)."""
    rows = [(i, f"n{i}", ["a", "b"] if i % 2 else ["a"]) for i in range(1, 201)]
    df = spark.createDataFrame(rows, "id long, name string, tags array<string>")
    cfg = {"aggregations": {"tags": {"size": 10}}}
    eng = itemsjs_spark(spark, df, cfg, docid_col="id")
    path = str(tmp_path / "idx")
    eng.index.write(path)
    disk = SearchEngine(Index.read(spark, path))

    plan = (
        disk.index.docs.filter(F.col("id") == F.lit(42))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "EqualTo(id,42)" in plan, plan

    got = disk.similar(42, {"field": "tags", "minimum": 1})
    assert got["data"]["items"], got
    # string-typed external ids still resolve via the JS-coerced compare
    got2 = disk.similar("42", {"field": "tags", "minimum": 1})
    assert [i["id"] for i in got2["data"]["items"]] == [
        i["id"] for i in got["data"]["items"]
    ]


def test_reopened_block_store_decodes_in_a_fresh_process(spark, tmp_path):
    """A block store reopened by a process launched outside the repo,
    with no build before it, ships the package itself: its first block
    decode imports itemsjs_spark on the Python workers. The child finds
    the repo through its own sys.path only — PYTHONPATH would reach the
    workers too and hide a missing ship."""
    tdf = transcripts_df(spark, n_turns=300, n_convs=30, seed=3)
    mem = itemsjs_spark(
        spark, tdf, {"searchableFields": ["text"]},
        order_by=["conv_id", "turn_idx"],
    )
    path = str(tmp_path / "artifacts")
    mem.index.write_blocks(path, n_buckets=2, range_size=256, block_size=64)
    want = mem.search({"query": "spark"})["pagination"]["total"]
    assert want > 0
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession
        from itemsjs_spark.engine import Index, SearchEngine

        spark = (
            SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        eng = SearchEngine(Index.read(spark, {path!r}))
        assert eng.explain_search({{"query": "spark"}})["route"] == "wand_topk"
        print(eng.search({{"query": "spark"}})["pagination"]["total"])
        spark.stop()
        """
    )
    cwd = tmp_path / "elsewhere"
    cwd.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert int(out.stdout.split()[-1]) == want
