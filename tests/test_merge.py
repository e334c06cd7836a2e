"""Segment merge (indexer.merge_indexes / SearchEngine.merge_with):
two prebuilt shard indexes combine into one engine that is
query-identical to a single build over the union corpus — docids, tf,
df, idf, facet dims and scores all coincide when shard A's order keys
sort before shard B's (the snapshot-append contract)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from itemsjs_spark.data.transcripts import transcripts_df
from itemsjs_spark.engine import SearchEngine, itemsjs_spark
from itemsjs_spark.engine.indexer import merge_indexes
from itemsjs_spark.engine.query import EngineError

CFG = {
    "aggregations": {"role": {"size": 10}, "tool": {"size": 10}},
    "searchableFields": ["text"],
}


@pytest.fixture(scope="module")
def corpus(spark):
    df = transcripts_df(spark, n_turns=1000, n_convs=100, seed=31).persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def engines(spark, corpus):
    # split on conv_id: A's order keys all sort before B's
    cut = "c000050"
    a_df = corpus.filter(F.col("conv_id") < cut)
    b_df = corpus.filter(F.col("conv_id") >= cut)
    a = itemsjs_spark(spark, a_df, CFG, order_by=["conv_id", "turn_idx"])
    b = itemsjs_spark(spark, b_df, CFG, order_by=["conv_id", "turn_idx"])
    full = itemsjs_spark(spark, corpus, CFG, order_by=["conv_id", "turn_idx"])
    merged = a.merge_with(b)
    return a, b, full, merged


def test_merge_scores_equal_full_build(engines):
    _a, _b, full, merged = engines
    for q in ("spark", "shuffle partition", "s"):
        want = {
            (r["_docid"], r["__score"])
            for r in full.fulltext_hits(q).collect()
        }
        got = {
            (r["_docid"], r["__score"])
            for r in merged.fulltext_hits(q).collect()
        }
        assert got == want, q  # docids AND float64 scores bit-equal


def test_merge_terms_and_dims_equal_full_build(engines):
    _a, _b, full, merged = engines
    wt = {
        r["term"]: (r["df"], r["idf"]) for r in full.index.terms.collect()
    }
    gt = {
        r["term"]: (r["df"], r["idf"]) for r in merged.index.terms.collect()
    }
    assert gt == wt
    wd = sorted(map(tuple, full.index.facet_values.collect()))
    gd = sorted(map(tuple, merged.index.facet_values.collect()))
    assert gd == wd  # doc_count AND enum_rank


def test_merge_search_endpoint_equal_full_build(engines):
    _a, _b, full, merged = engines
    inp = {
        "query": "spark",
        "filters": {"role": ["assistant"]},
        "per_page": 7,
        "page": 2,
    }
    want = full.search(dict(inp))
    got = merged.search(dict(inp))
    assert got["pagination"] == want["pagination"]
    assert [i["_id"] for i in got["data"]["items"]] == [
        i["_id"] for i in want["data"]["items"]
    ]
    assert got["data"]["aggregations"] == want["data"]["aggregations"]


def test_merge_carries_tombstones_and_offsets(spark, engines):
    a, b, _full, _merged = engines
    a2 = a.reconfigured(a.configuration)
    b2 = b.reconfigured(b.configuration)
    va = a2.index.docs.select("_docid").orderBy("_docid").first()[0]
    vb = b2.index.docs.select("_docid").orderBy("_docid").first()[0]
    a2.delete_docids([va])
    b2.delete_docids([vb])
    m = a2.merge_with(b2)
    assert m._tombstone_docids == {va, vb + a2.index.n_docs}
    assert (
        m.search({})["pagination"]["total"]
        == a2.index.n_docs + b2.index.n_docs - 2
    )


def test_merge_validates_fields_and_bulk_tombstones(spark, engines, corpus):
    a, b, _full, _merged = engines
    other_cfg = {"aggregations": {"tool": {"size": 5}}, "searchableFields": ["text"]}
    c = itemsjs_spark(
        spark,
        corpus.limit(50),
        other_cfg,
        order_by=["conv_id", "turn_idx"],
    )
    with pytest.raises(ValueError, match="same"):
        merge_indexes(a.index, c.index)
    a3 = a.reconfigured(a.configuration)
    a3._tombstone_df = a3.index.docs.select("_docid").limit(1)
    with pytest.raises(EngineError, match="save_tombstones"):
        a3.merge_with(b)


def test_merge_no_tokenizer_in_plan(engines):
    """The merged postings plan must not contain an Arrow tokenizer
    stage — merge never re-reads corpus text."""
    _a, _b, _full, merged = engines
    plan = merged.index.postings._jdf.queryExecution().toString()
    # both shards' postings are cached artifacts (InMemoryRelation);
    # a re-tokenize would surface as a fresh MapInPandas over docs
    assert "InMemoryTableScan" in plan or "MapInPandas" not in plan


@pytest.fixture(scope="module")
def block_stores(spark, corpus, tmp_path_factory):
    """Shards A and B (A's order keys first) written as block stores
    with range_size=128."""
    cut = "c000050"
    root = tmp_path_factory.mktemp("mergeblocks")
    pa, pb = str(root / "a"), str(root / "b")
    for path, df in (
        (pa, corpus.filter(F.col("conv_id") < cut)),
        (pb, corpus.filter(F.col("conv_id") >= cut)),
    ):
        itemsjs_spark(
            spark, df, CFG, order_by=["conv_id", "turn_idx"]
        ).index.write_blocks(path, n_buckets=2, range_size=128, block_size=64)
    return pa, pb


def test_block_store_merge_no_decode(spark, corpus, block_stores):
    """Disk-store segment merge: two write_blocks stores combine by
    shifting B's blocks one varint at a time — scores equal a full
    build (per external turn identity), WAND equals the exact scorer,
    and the sparse docid space is recorded for later appends."""
    from itemsjs_spark.engine import Index

    pa, pb = block_stores
    ia, ib = Index.read(spark, pa), Index.read(spark, pb)
    assert ia.postings is None and ia.posting_blocks is not None
    assert ia.block_meta["range_size"] == 128

    merged = SearchEngine(merge_indexes(ia, ib))
    n_a, n_b = ia.n_docs, ib.n_docs
    off = ((n_a + 127) // 128) * 128
    assert merged.index.docid_ceiling == off + n_b

    full = itemsjs_spark(spark, corpus, CFG, order_by=["conv_id", "turn_idx"])

    def keyed(eng, q):
        hits = eng.fulltext_hits(q)
        j = eng.index.docs.select("_docid", "conv_id", "turn_idx").join(
            hits, "_docid"
        )
        return {
            (r["conv_id"], r["turn_idx"]): r["__score"] for r in j.collect()
        }

    for q in ("spark", "shuffle partition"):
        assert keyed(merged, q) == keyed(full, q), q

    # WAND over the merged (shifted) blocks == merged exact scorer
    exact = {
        (r["_docid"], round(r["__score"], 9))
        for r in merged.fulltext_hits("spark shuffle").collect()
    }
    k = len(exact)
    wand = {
        (r["_docid"], round(r["__score"], 9))
        for r in merged.fulltext_topk("spark shuffle", k).collect()
    }
    assert wand == exact

    # facet blocks carried: the block search route still applies
    assert merged.index.facet_posting_blocks is not None

    # a later append continues past the sparse ceiling — no collision
    delta = transcripts_df(spark, n_turns=30, n_convs=3, seed=33).withColumn(
        "conv_id", F.concat(F.lit("d"), F.substring("conv_id", 2, 10))
    )
    # append needs row-level postings: decode the merged store once
    from itemsjs_spark.engine.blocks import postings_from_blocks

    import dataclasses

    rowlevel = dataclasses.replace(
        merged.index,
        postings=postings_from_blocks(merged.index.posting_blocks),
        posting_blocks=None,
    )
    eng2 = SearchEngine(rowlevel).append(delta, order_by=["conv_id", "turn_idx"])
    new_min = (
        eng2.index.docs.filter(F.col("conv_id") >= "d")
        .agg(F.min("_docid"))
        .first()[0]
    )
    assert new_min > merged.index.docid_ceiling


def test_merge_with_shifts_tombstones_by_the_block_offset(spark, block_stores):
    """merge_with shifts the other engine's driver-set tombstones by the
    offset its docids actually moved — for block stores A's docid base
    rounded up to a range boundary, not A's doc count."""
    from itemsjs_spark.engine import Index

    pa, pb = block_stores
    a = SearchEngine(Index.read(spark, pa))
    b = SearchEngine(Index.read(spark, pb))
    first = b.index.docs.agg(F.min("_docid")).first()[0]
    b.delete_docids([first])
    off = ((a.index.n_docs + 127) // 128) * 128
    assert off != a.index.n_docs  # the two offsets must differ here
    m = a.merge_with(b)
    assert m._tombstone_docids == {first + off}
    assert (
        m.search({})["pagination"]["total"]
        == a.index.n_docs + b.index.n_docs - 1
    )


def test_append_after_caller_docid_merge_reuses_no_docid(spark):
    """merge_indexes(offset_b=False) trusts the caller's docids, which
    may be sparse: the merged space ends at the larger side's largest
    docid, and an order_by append continues past it."""
    cfg = {"aggregations": {"color": {"size": 10}}, "native_search_enabled": False}

    def build(rows):
        df = spark.createDataFrame(rows, "id long, color string")
        return itemsjs_spark(spark, df, cfg, docid_col="id")

    a = build([(10, "red"), (20, "blue"), (30, "red")])
    b = build([(40, "blue"), (50, "green")])
    merged = SearchEngine(merge_indexes(a.index, b.index, offset_b=False))
    assert merged.index.next_docid_base == 50
    delta = spark.createDataFrame(
        [(1000 + i, "green") for i in range(12)], "id long, color string"
    )
    eng = merged.append(delta, order_by=["id"])
    docids = [r["_docid"] for r in eng.index.docs.select("_docid").collect()]
    assert len(docids) == len(set(docids)) == 17
    assert sorted(docids)[5:] == list(range(51, 63))
