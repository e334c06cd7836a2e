"""Scale-path artifacts: varint posting blocks, block-max WAND top-k
(rank- and score-identical to the exact scorer), resumable checkpointed
builds with per-partition lineage manifests."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from itemsjs_spark.data.transcripts import transcripts_df
from itemsjs_spark.engine import itemsjs_spark
from itemsjs_spark.engine.blocks import (
    build_posting_blocks,
    decode_varint_deltas,
    encode_varint_deltas,
)
from itemsjs_spark.engine.checkpoint import (
    MANIFEST,
    build_blocks_checkpointed,
    read_blocks,
)
from itemsjs_spark.engine.indexer import DOCID


def test_varint_roundtrip():
    for arr in [
        np.array([0], dtype=np.int64),
        np.array([1, 2, 3], dtype=np.int64),
        np.array([5, 5 + 127, 5 + 128, 10**12, 10**12 + (1 << 40)], dtype=np.int64),
        np.arange(0, 5000, 7, dtype=np.int64),
    ]:
        blob = encode_varint_deltas(arr)
        out = decode_varint_deltas(blob, len(arr))
        assert np.array_equal(out, arr)
    # compression sanity: dense ascending ids ≈ 1 byte/posting
    dense = np.arange(10**6, 10**6 + 4096, dtype=np.int64)
    assert len(encode_varint_deltas(dense)) < 4096 * 1.1


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
    assert [r[DOCID] for r in wand] == [r[DOCID] for r in exact]
    for w, e in zip(wand, exact):
        assert w["__score"] == pytest.approx(e["__score"], abs=1e-12)


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


def test_block_metadata_consistency(blocks_df):
    rows = blocks_df.collect()
    assert rows
    for r in rows:
        ids = decode_varint_deltas(bytes(r["docids"]), r["n"])
        assert ids[0] == r["docid_min"] and ids[-1] == r["docid_max"]
        assert np.all(np.diff(ids) > 0)
        tfs = np.frombuffer(bytes(r["tfs"]), dtype=np.float64)
        assert len(tfs) == r["n"]
        assert float(tfs.max()) == pytest.approx(r["max_tf"])


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


def test_varint_roundtrip_property():
    """Property: encode∘decode is identity for any ascending docid list
    (hypothesis-driven; covers 1-byte through multi-byte varint spans)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=2**40), min_size=1, max_size=200
        )
    )
    def check(deltas):
        ids = np.cumsum(np.array(sorted(deltas), dtype=np.int64))
        ids = np.unique(ids)
        out = decode_varint_deltas(encode_varint_deltas(ids), len(ids))
        assert np.array_equal(out, ids)

    check()


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
