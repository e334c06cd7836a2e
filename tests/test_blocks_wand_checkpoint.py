"""Scale-path artifacts: array-typed posting blocks, block-max WAND
top-k (rank- and score-identical to the exact scorer), resumable
checkpointed builds with per-partition lineage manifests."""

from __future__ import annotations

import copy
import math
import os
from collections import Counter
from unittest import mock

import pytest
from pyspark.sql import functions as F

from itemsjs_spark.data.transcripts import transcripts_df
from itemsjs_spark.engine import Index, SearchEngine, itemsjs_spark
from itemsjs_spark.engine import query as query_mod
from itemsjs_spark.engine.blocks import (
    build_posting_blocks,
    postings_from_blocks,
    shift_blocks,
)
from itemsjs_spark.engine.checkpoint import (
    MANIFEST,
    build_blocks_checkpointed,
    read_blocks,
)
from itemsjs_spark.engine.indexer import DOCID
from itemsjs_spark.engine.relations import local_relation

POSTING_SCHEMA = f"term string, {DOCID} long, tf double"


def _postings(df):
    return Counter(map(tuple, df.select("term", DOCID, "tf").collect()))


def _check_block_invariants(rows, block_size):
    """Every block: ascending docids, metadata equal to the arrays'
    first/last/max values, at most ``block_size`` postings."""
    assert rows
    for r in rows:
        ids, tfs = r["docids"], r["tfs"]
        assert r["n"] == len(ids) == len(tfs) <= block_size
        assert all(a < b for a, b in zip(ids, ids[1:]))
        assert (r["docid_min"], r["docid_max"]) == (ids[0], ids[-1])
        assert r["max_tf"] == max(tfs)


def test_blocks_explode_to_their_postings(tx_engine, blocks_df):
    """Decoding the blocks gives back the input postings as a multiset."""
    postings = tx_engine.index.postings
    assert _postings(postings_from_blocks(blocks_df)) == _postings(postings)


@pytest.fixture(scope="module")
def tx_engine(spark):
    tdf = transcripts_df(spark, n_turns=3000, n_convs=300, seed=7)
    cfg = {"aggregations": {"role": {}}, "searchableFields": ["text"]}
    eng = itemsjs_spark(spark, tdf, cfg, order_by=["conv_id", "turn_idx"])
    eng._ensure_fulltext_materialized()
    return eng


@pytest.fixture(scope="module")
def blocks_df(spark, tx_engine):
    # small range_size so several ranges exist → pruning loop is exercised
    b = build_posting_blocks(
        tx_engine.index.postings, range_size=512, block_size=256
    ).persist()
    b.count()
    return b


@pytest.mark.parametrize("query,k", [
    ("spark", 10),
    ("shuffle partition", 15),
    ("s", 20),          # prefix expansion across many terms
    ("broadcast join", 25),
])
def test_wand_topk_matches_exact_scorer(spark, tx_engine, blocks_df, query, k):
    exact = (
        tx_engine.fulltext_hits(query)
        .orderBy(F.col("__score").desc(), F.col(DOCID).cast("string").asc())
        .limit(k)
        .collect()
    )
    wand = (
        tx_engine.fulltext_topk(query, k, blocks_df)
        .orderBy(F.col("__score").desc(), F.col(DOCID).cast("string").asc())
        .collect()
    )
    # WAND scores each admitted batch with the exact scorer's own plan
    assert [tuple(r) for r in wand] == [tuple(r) for r in exact]


def test_wand_prunes_by_metadata(spark, tx_engine, blocks_df):
    # tiny batch size forces multiple admit rounds; result must not change
    q = "checkpoint lineage"
    a = sorted(
        map(tuple, tx_engine.fulltext_topk(q, 10, blocks_df, batch_ranges=1).collect())
    )
    b = sorted(
        map(tuple, tx_engine.fulltext_topk(q, 10, blocks_df, batch_ranges=64).collect())
    )
    assert a == b


def test_block_metadata_consistency(tx_engine, blocks_df):
    _check_block_invariants(blocks_df.collect(), 256)
    # a term's postings in one range split into ceil(df / block_size)
    # blocks (block_size 32: the corpus' common terms fill several)
    postings = tx_engine.index.postings
    small = build_posting_blocks(postings, range_size=512, block_size=32)
    rows = small.collect()
    _check_block_invariants(rows, 32)
    per_range = Counter(
        (r["term"], r[DOCID] // 512)
        for r in postings.select("term", DOCID).collect()
    )
    blocks = Counter((r["term"], r["range_id"]) for r in rows)
    assert blocks == {key: math.ceil(df / 32) for key, df in per_range.items()}
    assert max(blocks.values()) > 1  # non-vacuous: some term splits


def test_shift_blocks_moves_docids_only(blocks_df):
    """shift_blocks adds ``offset`` to every docid, its range and its
    block bounds; tfs and block numbering stay as they are."""
    key = ["term", "range_id", "block_id"]
    before = {tuple(r[c] for c in key): r for r in blocks_df.collect()}
    shifted = shift_blocks(blocks_df, 3 * 512, 512).collect()
    assert len(shifted) == len(before)
    for r in shifted:
        b = before[(r["term"], r["range_id"] - 3, r["block_id"])]
        assert r["docids"] == [d + 3 * 512 for d in b["docids"]]
        assert (r["docid_min"], r["docid_max"]) == (
            b["docid_min"] + 3 * 512,
            b["docid_max"] + 3 * 512,
        )
        assert (r["n"], r["max_tf"], r["tfs"]) == (b["n"], b["max_tf"], b["tfs"])
    with pytest.raises(ValueError):
        shift_blocks(blocks_df, 100, 512)


def test_checkpointed_build_resume(spark, tx_engine, tmp_path):
    out = str(tmp_path / "blocks")
    postings = tx_engine.index.postings
    rep1 = build_blocks_checkpointed(postings, out, n_buckets=4, range_size=512)
    assert sorted(rep1["built"]) == [0, 1, 2, 3] and rep1["resumed"] == []
    full = sorted(
        map(tuple, read_blocks(spark, out).select("term", "range_id", "block_id", "n").collect())
    )
    # simulate a crash: bucket 2's checkpoint is lost
    os.remove(os.path.join(out, "bucket=2", MANIFEST))
    rep2 = build_blocks_checkpointed(postings, out, n_buckets=4, range_size=512)
    assert rep2["built"] == [2] and sorted(rep2["resumed"]) == [0, 1, 3]
    m2 = [m for m in rep2["manifests"] if m["bucket"] == 2][0]
    assert m2["attempt"] >= 1 and m2["rows"] > 0 and m2["bytes"] > 0
    again = sorted(
        map(tuple, read_blocks(spark, out).select("term", "range_id", "block_id", "n").collect())
    )
    assert again == full
    # lineage fields present on every manifest
    for m in rep2["manifests"]:
        for key in ("input_fingerprint", "duration_s", "rows", "finished_at_epoch"):
            assert key in m


def test_wide_sum_route_bit_equals_struct_fold(spark, tx_engine):
    """The plain-sum score aggregation (WIDE_SUM_MAX_TERMS path) must be
    bit-identical to the sorted-struct-array fold — at most two
    non-negative addends per doc, whose sum is order-free. Forcing the
    cap to 0 routes everything through the struct fold; the wildcard
    patterns cover the term-set union scorer (1, 2 and 3 terms)."""
    queries = ["spark", "shuffle partition", "s", "the", "broadcast join"]
    patterns = ["spar*", "sc*", "st*"]
    wide_single = {
        q: {r[DOCID]: r["__score"] for r in tx_engine.fulltext_hits(q).collect()}
        for q in queries
    }
    wide_batch = sorted(map(tuple, tx_engine.fulltext_hits_batch(queries).collect()))
    wide_wild = {
        p: {r[DOCID]: r["__score"] for r in tx_engine.wildcard_hits(p).collect()}
        for p in patterns
    }
    old_cap = tx_engine.WIDE_SUM_MAX_TERMS
    tx_engine.WIDE_SUM_MAX_TERMS = 0
    try:
        for q in queries:
            struct_single = {
                r[DOCID]: r["__score"] for r in tx_engine.fulltext_hits(q).collect()
            }
            assert struct_single == wide_single[q], q
        assert wide_single["spark"]  # non-vacuous
        struct_batch = sorted(
            map(tuple, tx_engine.fulltext_hits_batch(queries).collect())
        )
        assert struct_batch == wide_batch and wide_batch
        for p in patterns:
            struct_wild = {
                r[DOCID]: r["__score"]
                for r in tx_engine.wildcard_hits(p).collect()
            }
            assert struct_wild == wide_wild[p] and struct_wild, p
    finally:
        tx_engine.WIDE_SUM_MAX_TERMS = old_cap


def test_fulltext_batch_matches_single(spark, tx_engine):
    """Batched multi-query scoring (one job) must equal per-query runs."""
    queries = ["spark", "shuffle partition", "s", "zzzqqq", "the", "broadcast join"]
    batch = tx_engine.fulltext_hits_batch(queries).collect()
    by_qid = {}
    for r in batch:
        by_qid.setdefault(r["qid"], {})[r[DOCID]] = r["__score"]
    for qid, q in enumerate(queries):
        single = {r[DOCID]: r["__score"] for r in tx_engine.fulltext_hits(q).collect()}
        assert by_qid.get(qid, {}) == single, q


def test_hot_term_salted_across_ranges(spark):
    """Skew story: with stopwords kept, 'the' appears in ~every doc; its
    posting list must split across (range_id, block) groups — no single
    task ever holds the whole hot-term list (north_star salting)."""
    tdf = transcripts_df(spark, n_turns=4000, n_convs=400, seed=5)
    eng = itemsjs_spark(
        spark,
        tdf,
        {"aggregations": {}, "searchableFields": ["text"],
         "removeStopWordFilter": True},
        order_by=["conv_id", "turn_idx"],
    )
    eng._ensure_fulltext_materialized()
    blocks = build_posting_blocks(
        eng.index.postings, range_size=256, block_size=128
    )
    hot = blocks.filter(F.col("term") == "the").collect()
    n_hot = eng.index.postings.filter(F.col("term") == "the").count()
    assert n_hot > 1000  # genuinely hot (~27% of docs)
    assert len(hot) >= 10  # split across many independent groups
    assert max(r["n"] for r in hot) <= 128  # bounded per block
    assert sum(r["n"] for r in hot) == n_hot  # lossless


def test_checkpoint_invalidated_by_content_change(spark, tx_engine, tmp_path):
    """A row-level input change that PRESERVES count+schema must
    invalidate every bucket (content digest in the fingerprint)."""
    out = str(tmp_path / "blocks_digest")
    postings = tx_engine.index.postings
    rep1 = build_blocks_checkpointed(postings, out, n_buckets=2, range_size=512)
    assert rep1["resumed"] == []
    # same cardinality + schema, different rows: every tf doubled
    mutated = postings.withColumn("tf", F.col("tf") * 2.0)
    rep2 = build_blocks_checkpointed(mutated, out, n_buckets=2, range_size=512)
    assert rep2["resumed"] == [] and sorted(rep2["built"]) == [0, 1]


def test_distributed_expansion_matches_driver_path(spark, tx_engine):
    """Oversized prefix expansions spill to the fully distributed query
    vector — same ranks, scores equal to float rounding."""
    eng = tx_engine
    cases = ["s", "pa", "shuffle part", "s br"]
    refs = {q: sorted(map(tuple, eng.fulltext_hits(q).collect())) for q in cases}
    assert all(refs[q] for q in cases)
    eng.MAX_DRIVER_EXPANSION = 2  # force the spill for every prefix query
    try:
        for q in cases:
            got = sorted(map(tuple, eng.fulltext_hits(q).collect()))
            assert [g[0] for g in got] == [r[0] for r in refs[q]], q
            for (gd, gs), (rd, rs) in zip(got, refs[q]):
                assert gs == pytest.approx(rs, rel=1e-9), (q, gd)
        # a token with no expansion empties the conjunctive AND
        assert eng.fulltext_hits("s zzzqqq").count() == 0
        # WAND + batch refuse loudly instead of collecting the expansion
        from itemsjs_spark.engine.query import EngineError
        with pytest.raises(EngineError, match="driver capacity"):
            eng.fulltext_hits_batch(["s"]).count()
    finally:
        del eng.MAX_DRIVER_EXPANSION


def test_block_layout_roundtrip_property(spark):
    """Property: for any posting set, block size and range size the
    blocks keep the layout invariants and explode back to the postings
    (hypothesis-driven; covers ranges and blocks split mid-list)."""
    from hypothesis import given, settings, strategies as st

    # docids past 32 bits; range_id = docid // range_size must fit an int
    posting = st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.integers(0, 200) | st.integers(2**32, 2**32 + 200),
        st.floats(min_value=0.0, max_value=1.0),
    )

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(posting, min_size=1, max_size=60, unique_by=lambda p: p[:2]),
        st.integers(min_value=1, max_value=8),
        st.sampled_from([16, 2**12, 2**34]),
    )
    def check(rows, block_size, range_size):
        postings = local_relation(spark, rows, POSTING_SCHEMA)
        blocks = build_posting_blocks(
            postings, range_size=range_size, block_size=block_size
        ).persist()
        try:
            _check_block_invariants(blocks.collect(), block_size)
            assert _postings(postings_from_blocks(blocks)) == Counter(rows)
        finally:
            blocks.unpersist()

    check()


def test_varint_store_is_rejected_at_open(spark, tx_engine, tmp_path):
    """A store written with the varint layout (docids binary) fails at
    open time with the rebuild instruction, on every reader."""
    old = spark.createDataFrame(
        [("spark", 0, 0, 1, 3, 3, 1.0, bytearray(b"\x03"), bytearray(8))],
        "term string, range_id int, block_id int, n int, docid_min long, "
        "docid_max long, max_tf double, docids binary, tfs binary",
    )
    path = str(tmp_path / "store")
    copy.copy(tx_engine.index).write_blocks(path, n_buckets=2, range_size=512)
    Index.read(spark, path)  # the array layout opens
    old.write.mode("overwrite").parquet(os.path.join(path, "facet_blocks"))
    with pytest.raises(ValueError, match="rebuild it with Index.write_blocks"):
        Index.read(spark, path)
    for b in range(2):
        old.write.mode("overwrite").parquet(
            os.path.join(path, "posting_blocks", f"bucket={b}")
        )
    with pytest.raises(ValueError, match="rebuild it with Index.write_blocks"):
        read_blocks(spark, os.path.join(path, "posting_blocks"))


def test_term_dictionary_cap_falls_back_to_scan_job(spark, tx_engine):
    """Vocabularies over MAX_DRIVER_TERM_DICT are not pinned on the
    driver; query analysis falls back to the dictionary-scan job with
    identical results (scores AND ranks)."""
    eng = tx_engine
    cases = ["spark", "shuffle part", "pa"]
    refs = {q: sorted(map(tuple, eng.fulltext_hits(q).collect())) for q in cases}
    assert all(refs[q] for q in cases)
    # fresh engine over the same index, dictionary disabled via the cap
    from itemsjs_spark.engine import SearchEngine

    scan_eng = SearchEngine(eng.index)
    scan_eng.MAX_DRIVER_TERM_DICT = 0
    assert scan_eng._term_dictionary() is None
    for q in cases:
        got = sorted(map(tuple, scan_eng.fulltext_hits(q).collect()))
        assert got == refs[q], q
    b = sorted(
        map(tuple, scan_eng.fulltext_hits_batch(["spark", "pa"]).collect())
    )
    assert b == sorted(
        map(tuple, eng.fulltext_hits_batch(["spark", "pa"]).collect())
    )


@pytest.fixture(scope="module")
def store_path(tx_engine, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "store")
    copy.copy(tx_engine.index).write_blocks(path, n_buckets=2, range_size=512)
    return path


def test_reopened_store_binds_listed_buckets(
    spark, tx_engine, store_path, monkeypatch
):
    """Index.read binds each bucket directory by name, never a glob path
    (Spark probes a literal ``bucket=*`` path for a metadata directory
    and logs a FileNotFoundException on every read), and reads back the
    written postings."""
    from pyspark.sql.readwriter import DataFrameReader

    bound = []
    orig = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        bound.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    idx = Index.read(spark, store_path)
    monkeypatch.undo()
    assert any("/posting_blocks/bucket=" in p for p in bound)
    assert not any("*" in p for p in bound), bound
    assert _postings(postings_from_blocks(idx.posting_blocks)) == _postings(
        tx_engine.index.postings
    )


BINDING_CALLERS = {
    "fulltext_hits": lambda e: e.fulltext_hits("pa"),
    "wildcard_hits": lambda e: e.wildcard_hits("pa*"),
    "explain_hits": lambda e: e.explain_hits("spark shuffle", k_docs=5),
    "more_like_this": lambda e: e.more_like_this(3, k=5),
    "prf_hits": lambda e: e.prf_hits("spark", k=10),
    "bm25_topk": lambda e: e.bm25_topk("spark shuffle partition", k=10),
}


@pytest.mark.parametrize(
    "caller", sorted(BINDING_CALLERS) + ["_query_membership"]
)
def test_broadcast_term_binding_equals_literals(
    spark, tx_engine, store_path, caller
):
    """Above MAX_MAP_LITERAL_TERMS a query's per-term numbers bind by a
    broadcast join instead of map literals; every scorer answers the
    same either way. ``_query_membership`` is reached through search()
    on a reopened store (the filtered-WAND route's total and facets)."""
    if caller == "_query_membership":
        index = Index.read(spark, store_path)
        req = {"query": "pa", "filters": {"role": ["assistant"]}}

        def run(e):
            resp = e.search(dict(req))
            return resp["data"], resp["pagination"]
    else:
        index = tx_engine.index

        def run(e):
            return sorted(map(tuple, BINDING_CALLERS[caller](e).collect()))

    engines = [SearchEngine(index), SearchEngine(index)]
    for e in engines:
        e.ROUTER_FORCE = "blocks"
    literal, wide = engines
    wide.MAX_MAP_LITERAL_TERMS = 1
    if caller == "_query_membership":
        assert wide.explain_search(dict(req))["route"] == "wand_filtered"
    want = run(literal)
    with mock.patch.object(
        query_mod, "local_relation", wraps=query_mod.local_relation
    ) as spy:
        got = run(wide)
    assert want and got == want
    bound = [
        c.args[2] for c in spy.call_args_list
        if c.args[2].startswith("term string, ") and len(c.args[1]) > 1
    ]
    assert bound, "no broadcast term binding ran"
    for e in engines:
        e.release_bm25()
