"""Incremental reindex (snapshot append): only the delta is tokenized,
and when delta order keys sort after the base corpus the appended index
is query-identical to a full rebuild (docids, tf, df, idf all coincide).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from itemsjs_spark.data.transcripts import transcripts_df
from itemsjs_spark.engine import Index, SearchEngine, itemsjs_spark
from itemsjs_spark.engine.checkpoint import (
    append_blocks_checkpointed,
    build_blocks_checkpointed,
    read_blocks,
)

CFG = {
    "aggregations": {"role": {"size": 10}, "tool": {"size": 10}},
    "searchableFields": ["text"],
}


@pytest.fixture(scope="module")
def corpora(spark):
    base = transcripts_df(spark, n_turns=1500, n_convs=150, seed=5).persist()
    # delta conversations sort AFTER every base conv_id ("d…" > "c…"):
    # the snapshot-append contract under which append == full rebuild
    delta = (
        transcripts_df(spark, n_turns=500, n_convs=50, seed=6)
        .withColumn(
            "conv_id", F.concat(F.lit("d"), F.substring("conv_id", 2, 10))
        )
        .persist()
    )
    return base, delta


@pytest.fixture(scope="module")
def engines(spark, corpora, tmp_path_factory):
    base, delta = corpora
    path = str(tmp_path_factory.mktemp("appendidx") / "base")
    itemsjs_spark(spark, base, CFG, order_by=["conv_id", "turn_idx"]).index.write(
        path
    )
    # base re-opened from DISK: its postings plan is a parquet scan, so
    # the only tokenizer anywhere is the delta's
    base_disk = SearchEngine(Index.read(spark, path))
    appended = base_disk.append(delta, order_by=["conv_id", "turn_idx"])
    full = itemsjs_spark(
        spark,
        base.unionByName(delta),
        CFG,
        order_by=["conv_id", "turn_idx"],
    )
    return appended, full


def test_append_scores_equal_full_rebuild(engines):
    appended, full = engines
    for q in ("spark", "shuffle partition", "s"):
        a = sorted(map(tuple, appended.fulltext_hits(q).collect()))
        b = sorted(map(tuple, full.fulltext_hits(q).collect()))
        assert a == b, q


def test_append_search_equal_full_rebuild(engines):
    appended, full = engines
    for inp in (
        {"query": "broadcast", "per_page": 8},
        {"filters": {"role": ["assistant"]}},
        {"not_filters": {"tool": ["bash"]}, "page": 2, "per_page": 5},
    ):
        a = appended.search(dict(inp))
        b = full.search(dict(inp))
        assert a["pagination"] == b["pagination"], inp
        assert [i["_id"] for i in a["data"]["items"]] == [
            i["_id"] for i in b["data"]["items"]
        ], inp
        for fld, entry in b["data"]["aggregations"].items():
            assert (
                a["data"]["aggregations"][fld]["buckets"] == entry["buckets"]
            ), (inp, fld)


def test_append_tokenizes_only_the_delta(spark, corpora, tmp_path):
    base, delta = corpora
    path = str(tmp_path / "base2")
    itemsjs_spark(spark, base, CFG, order_by=["conv_id", "turn_idx"]).index.write(
        path
    )
    appended = SearchEngine(Index.read(spark, path)).append(
        delta, order_by=["conv_id", "turn_idx"]
    )
    text = appended.index.postings._jdf.queryExecution().optimizedPlan().toString()
    # one Arrow tokenizer (the delta); the base side is a parquet scan
    assert text.count("MapInPandas") == 1, text
    assert "parquet" in text, text


def test_append_facet_dimension_merge(spark):
    base = spark.createDataFrame(
        [(1, "red"), (2, "blue"), (3, "red")], "id long, color string"
    )
    delta = spark.createDataFrame(
        [(4, "green"), (5, "blue")], "id long, color string"
    )
    cfg = {"aggregations": {"color": {"size": 10}}, "native_search_enabled": False}
    eng = itemsjs_spark(spark, base, cfg, docid_col="id").append(
        delta, docid_col="id"
    )
    rows = {
        r["key"]: (r["doc_count"], r["enum_rank"])
        for r in eng.index.facet_values.collect()
    }
    # counts merged; old keys keep their relative enum order, new key after
    assert rows["red"] == (2, 1)
    assert rows["blue"] == (2, 2)
    assert rows["green"][0] == 1 and rows["green"][1] == 3


def test_combined_dims_and_terms_equal_single_build(spark):
    """Every index-combination path — append by order_by and by
    docid_col, merge_with, purge_deleted — yields the facet dimension
    (doc_count AND enum_rank) and the terms table (df, idf bit-equal)
    of one build over the combined corpus. Keys cover canonical ints,
    non-canonical int-like strings ("01", "007"), strings on both
    sides or one side only, array-valued fields and nulls."""
    cfg = {
        "aggregations": {"tags": {}, "color": {}, "size": {}},
        "searchableFields": ["text"],
    }
    schema = (
        "id long, name string, text string, tags array<string>, "
        "color string, size long"
    )
    base, delta, purged = (
        spark.createDataFrame(rows, schema)
        for rows in (
            [
                (1, "alpha", "spark shuffle", ["b", "7", "01"], "red", 3),
                (2, "beta", "shuffle join", ["a", "007", "2"], None, None),
                (3, "gamma", "join broadcast", None, "blue", 10),
            ],
            [
                (4, "delta", "spark spark", ["z", "a", "10", "01"], "green", 3),
                (5, "eps", "window join", ["b", "y", "007"], "red", None),
            ],
            [
                (0, "zeta", "purged words", ["x", "a", "4"], "purple", 99),
                (6, "eta", "shuffle", ["2", "q"], "red", 3),
            ],
        )
    )

    def build(df, **kw):
        return itemsjs_spark(spark, df, cfg, **kw)

    def parts(eng):
        return (
            sorted(map(tuple, eng.index.facet_values.select(
                "field", "key", "doc_count", "enum_rank").collect())),
            sorted(map(tuple, eng.index.terms.select(
                "term", "df", "idf").collect())),
        )

    by_id = {"order_by": ["id"]}
    want = parts(build(base.unionByName(delta), **by_id))
    with_extra = build(base.unionByName(purged).unionByName(delta), **by_id)
    with_extra.delete([0, 6])
    got = {
        "append order_by": build(base, **by_id).append(delta, **by_id),
        "append docid_col": build(base, docid_col="id").append(
            delta, docid_col="id"
        ),
        "merge_with": build(base, **by_id).merge_with(build(delta, **by_id)),
        "purge_deleted": with_extra.purge_deleted(),
    }
    for name, eng in got.items():
        assert parts(eng) == want, name


def test_block_store_snapshot_append(spark, corpora, tmp_path):
    base, delta = corpora
    out = str(tmp_path / "blocks")
    base_eng = itemsjs_spark(spark, base, CFG, order_by=["conv_id", "turn_idx"])
    base_eng._ensure_fulltext_materialized()
    build_blocks_checkpointed(
        base_eng.index.postings, out, n_buckets=4, range_size=512, block_size=64
    )
    appended = base_eng.append(delta, order_by=["conv_id", "turn_idx"])
    delta_postings = appended.index.postings.subtract(base_eng.index.postings)
    delta_postings = delta_postings.persist()
    rep = append_blocks_checkpointed(
        delta_postings, out, snapshot="s2", n_buckets=4, range_size=512, block_size=64
    )
    assert sorted(rep["built"]) == [0, 1, 2, 3]
    # resume: second run skips every bucket
    rep2 = append_blocks_checkpointed(
        delta_postings, out, snapshot="s2", n_buckets=4, range_size=512, block_size=64
    )
    assert rep2["built"] == [] and sorted(rep2["resumed"]) == [0, 1, 2, 3]
    # the merged store serves WAND with scores equal to the full corpus
    blocks = read_blocks(spark, out)
    full = itemsjs_spark(
        spark, base.unionByName(delta), CFG, order_by=["conv_id", "turn_idx"]
    )
    exact = full.fulltext_hits("spark")
    top = sorted(
        map(tuple, exact.orderBy(
            F.col("__score").desc(), F.col("_docid").cast("string").asc()
        ).limit(10).collect())
    )
    wand = sorted(map(tuple, appended.fulltext_topk("spark", 10, blocks).collect()))
    assert wand == top


def test_block_store_compaction(spark, corpora, tmp_path):
    """Compaction folds snap-* deltas into one packed block set per
    bucket, preserving exact + WAND results."""
    from itemsjs_spark.engine.checkpoint import _HadoopFS, compact_blocks

    base, delta = corpora
    out = str(tmp_path / "blocks")
    base_eng = itemsjs_spark(spark, base, CFG, order_by=["conv_id", "turn_idx"])
    base_eng._ensure_fulltext_materialized()
    build_blocks_checkpointed(
        base_eng.index.postings, out, n_buckets=4, range_size=512, block_size=64
    )
    appended = base_eng.append(delta, order_by=["conv_id", "turn_idx"])
    delta_postings = appended.index.postings.subtract(base_eng.index.postings).persist()
    append_blocks_checkpointed(
        delta_postings, out, snapshot="s2", n_buckets=4, range_size=512, block_size=64
    )
    fs = _HadoopFS(spark, out)
    before = sum(len(fs.list_parquet(f"{out}/bucket={b}")) for b in range(4))
    wand_before = sorted(
        map(tuple, appended.fulltext_topk("spark", 10, read_blocks(spark, out)).collect())
    )
    rep = compact_blocks(spark, out, n_buckets=4, range_size=512, block_size=64)
    assert sorted(rep["compacted"]) == [0, 1, 2, 3]
    after_files = [fs.list_parquet(f"{out}/bucket={b}") for b in range(4)]
    assert sum(len(f) for f in after_files) <= before
    assert not any(fn.startswith("snap-") for fns in after_files for fn in fns)
    wand_after = sorted(
        map(tuple, appended.fulltext_topk("spark", 10, read_blocks(spark, out)).collect())
    )
    assert wand_after == wand_before
    # decoded contents identical to the pre-compaction postings multiset
    from itemsjs_spark.engine.blocks import postings_from_blocks
    merged = sorted(map(tuple, postings_from_blocks(read_blocks(spark, out)).collect()))
    expect = sorted(map(tuple, appended.index.postings.collect()))
    assert merged == expect


def test_append_replay_after_compaction_is_folded(spark, corpora, tmp_path):
    """Compaction records folded snapshot ids: replaying an already-
    folded append must be a no-op (no duplicate postings)."""
    from itemsjs_spark.engine.blocks import postings_from_blocks
    from itemsjs_spark.engine.checkpoint import compact_blocks

    base, delta = corpora
    out = str(tmp_path / "blocks")
    base_eng = itemsjs_spark(spark, base, CFG, order_by=["conv_id", "turn_idx"])
    base_eng._ensure_fulltext_materialized()
    build_blocks_checkpointed(
        base_eng.index.postings, out, n_buckets=2, range_size=512, block_size=64
    )
    appended = base_eng.append(delta, order_by=["conv_id", "turn_idx"])
    delta_postings = appended.index.postings.subtract(
        base_eng.index.postings
    ).persist()
    append_blocks_checkpointed(
        delta_postings, out, snapshot="s2", n_buckets=2, range_size=512, block_size=64
    )
    compact_blocks(spark, out, n_buckets=2, range_size=512, block_size=64)
    before = read_blocks(spark, out).agg(F.sum("n")).collect()[0][0]
    rep = append_blocks_checkpointed(
        delta_postings, out, snapshot="s2", n_buckets=2, range_size=512, block_size=64
    )
    assert rep["built"] == [] and sorted(rep["resumed"]) == [0, 1]
    after = read_blocks(spark, out).agg(F.sum("n")).collect()[0][0]
    assert after == before
    # and the merged store still equals the appended postings multiset
    merged = sorted(map(tuple, postings_from_blocks(read_blocks(spark, out)).collect()))
    expect = sorted(map(tuple, appended.index.postings.collect()))
    assert merged == expect


def test_compaction_crash_windows_recovered_at_read(spark, corpora, tmp_path):
    """A compaction swap that dies mid-flight must never make read_blocks
    serve the store minus a bucket (r2 ADVICE): every crash window —
    staged-but-not-promoted, partial encode, set-aside dir left behind —
    is completed or rolled back at READ time, before the glob binds."""
    import posixpath

    from itemsjs_spark.engine.blocks import postings_from_blocks
    from itemsjs_spark.engine.checkpoint import _HadoopFS, read_blocks

    base, _ = corpora
    out = str(tmp_path / "blocks")
    eng = itemsjs_spark(spark, base, CFG, order_by=["conv_id", "turn_idx"])
    eng._ensure_fulltext_materialized()
    build_blocks_checkpointed(
        eng.index.postings, out, n_buckets=2, range_size=512, block_size=64
    )
    expect = sorted(
        map(tuple, postings_from_blocks(read_blocks(spark, out)).collect())
    )
    fs = _HadoopFS(spark, out)
    staging = posixpath.join(out, "_compacting")

    from itemsjs_spark.engine.checkpoint import recover_compaction

    def assert_readable():
        """Read-time contract: the store is COMPLETE (promote-only
        liveness restore; readers never delete anything)."""
        got = sorted(
            map(tuple, postings_from_blocks(read_blocks(spark, out)).collect())
        )
        assert got == expect

    def assert_writer_cleans():
        """Writer-side contract: recovery also clears staging leftovers."""
        recover_compaction(spark, out)
        assert_readable()
        assert not fs.exists(staging)

    # window 1 — the old code's fatal window: live dir gone, completed
    # staging (with manifest) not yet promoted. Readers promote it.
    fs.mkdirs(staging)
    fs._fs.rename(
        fs._path(f"{out}/bucket=0"), fs._path(f"{staging}/bucket=0")
    )
    assert_readable()
    assert_writer_cleans()

    # window 2 — crash mid-encode: staging exists WITHOUT a manifest;
    # the live dir is intact. Readers serve the live store untouched;
    # the next WRITER drops the partial encode.
    fs.write_text(posixpath.join(staging, "bucket=1", "part-junk.txt"), "x")
    assert_readable()
    assert fs.exists(posixpath.join(staging, "bucket=1"))  # reader left it
    assert_writer_cleans()

    # window 3 — crash between promote and cleanup: a set-aside .old
    # dir remains next to a healthy live dir (writer cleans it). And
    # the defensive inverse: live dir missing with only .old present —
    # readers roll back from it.
    fs.write_text(posixpath.join(staging, "bucket=1.old", "stale.txt"), "x")
    assert_readable()
    assert_writer_cleans()
    fs.mkdirs(staging)
    fs._fs.rename(
        fs._path(f"{out}/bucket=1"), fs._path(f"{staging}/bucket=1.old")
    )
    assert_readable()
    assert_writer_cleans()


def test_stale_staging_never_clobbers_post_crash_appends(spark, corpora, tmp_path):
    """A compaction that crashed AFTER writing its completed staging but
    BEFORE the swap must not be adopted later: the live bucket may have
    received snap-* deltas since, and adopting the stale staging would
    silently delete them (round-3 review finding). Writers discard the
    stale staging and recompact from live state instead."""
    import posixpath

    from itemsjs_spark.engine.blocks import postings_from_blocks
    from itemsjs_spark.engine.checkpoint import (
        _HadoopFS,
        compact_blocks,
        read_blocks,
    )

    base, delta = corpora
    out = str(tmp_path / "blocks")
    eng = itemsjs_spark(spark, base, CFG, order_by=["conv_id", "turn_idx"])
    eng._ensure_fulltext_materialized()
    build_blocks_checkpointed(
        eng.index.postings, out, n_buckets=2, range_size=512, block_size=64
    )
    fs = _HadoopFS(spark, out)
    staging = posixpath.join(out, "_compacting")

    # simulate: compaction staged a COMPLETED copy of bucket 0 (manifest
    # included) and crashed before the swap — live dirs untouched
    import subprocess

    fs.mkdirs(staging)
    subprocess.run(
        ["cp", "-r", f"{out}/bucket=0", f"{staging}/bucket=0"], check=True
    )

    # post-crash life goes on: a snapshot APPEND lands in the live store
    delta_eng = itemsjs_spark(spark, delta, CFG, order_by=["conv_id", "turn_idx"])
    delta_eng._ensure_fulltext_materialized()
    from itemsjs_spark.engine.checkpoint import append_blocks_checkpointed

    append_blocks_checkpointed(
        delta_eng.index.postings.withColumn(
            "_docid", F.col("_docid") + F.lit(1500)
        ),
        out,
        snapshot="e1",
        n_buckets=2,
        range_size=512,
        block_size=64,
    )
    expect = sorted(
        map(tuple, postings_from_blocks(read_blocks(spark, out)).collect())
    )
    assert len(expect) > 0

    # the next compaction must NOT adopt the stale staging (which lacks
    # the appended snapshot) — postings must be unchanged after it
    compact_blocks(spark, out, n_buckets=2, range_size=512, block_size=64)
    got = sorted(
        map(tuple, postings_from_blocks(read_blocks(spark, out)).collect())
    )
    assert got == expect
    assert not fs.exists(staging)


def test_append_delta_missing_column_raises_contract_error(spark, corpora):
    """A delta lacking a facet column fails with the contract ValueError
    BEFORE facet-key derivation (r2 ADVICE: it used to surface as a raw
    AnalysisException out of facet_keys_col)."""
    base, delta = corpora
    eng = itemsjs_spark(spark, base, CFG, order_by=["conv_id", "turn_idx"])
    bad = delta.drop("role")
    with pytest.raises(ValueError, match=r"append delta lacks columns.*role"):
        eng.append(bad, order_by=["conv_id", "turn_idx"])


def test_append_aligns_raw_sidecar_columns(spark):
    """__raw_ sidecars are per-snapshot: each side carries one only for
    fields ITS items lossily collapsed. Appending must pad the missing
    side with NULL, not reject the delta (clean→lossy) and not silently
    drop the delta's sidecars (lossy→clean) — the appended items keep
    their ORIGINAL scalars."""
    from pyspark.sql import functions as SF

    from itemsjs_spark.engine import items_to_df

    cfg = {"aggregations": {"price": {"size": 10}}}
    lossy = [{"name": "a", "price": 1}, {"name": "b", "price": "7"}]
    clean = [{"name": "c", "price": 3}, {"name": "d", "price": 4}]

    def delta_df(items, offset):
        df = items_to_df(spark, items)
        return df.withColumn(
            "__input_order", SF.col("__input_order") + SF.lit(offset)
        )

    # lossy base + clean delta: delta legitimately has no __raw_price
    eng = itemsjs_spark(spark, list(lossy), cfg)
    app = eng.append(delta_df(clean, 2), docid_col="__input_order")
    by_name = {
        it["name"]: it for it in app.search({"per_page": 10})["data"]["items"]
    }
    assert by_name["b"]["price"] == "7" and isinstance(by_name["b"]["price"], str)
    assert by_name["c"]["price"] == 3

    # clean base + lossy delta: the delta's sidecar must survive the merge
    eng2 = itemsjs_spark(spark, list(clean), cfg)
    app2 = eng2.append(delta_df(lossy, 2), docid_col="__input_order")
    by_name2 = {
        it["name"]: it for it in app2.search({"per_page": 10})["data"]["items"]
    }
    assert by_name2["b"]["price"] == "7" and isinstance(
        by_name2["b"]["price"], str
    )
    assert by_name2["a"]["price"] == 1 and isinstance(by_name2["a"]["price"], int)
    assert by_name2["c"]["price"] == 3


def _colors(spark, rows):
    return spark.createDataFrame(rows, "id long, color string")


def _assert_docids_unique(eng, above: int, n_new: int) -> None:
    docids = [r["_docid"] for r in eng.index.docs.select("_docid").collect()]
    assert len(docids) == len(set(docids))
    assert sum(d > above for d in docids) == n_new


def test_order_by_append_after_caller_docids_reuses_no_docid(spark):
    """Caller-owned docids (docid_col, build or append) may be sparse
    and exceed the doc count; a later order_by append continues past
    the largest one instead of from the doc count."""
    cfg = {"aggregations": {"color": {"size": 10}}, "native_search_enabled": False}
    eng = itemsjs_spark(
        spark, _colors(spark, [(10, "red"), (20, "blue"), (30, "red")]), cfg,
        docid_col="id",
    )
    assert eng.index.next_docid_base == 30
    eng = eng.append(_colors(spark, [(100, "red"), (200, "blue")]), docid_col="id")
    assert eng.index.next_docid_base == 200
    delta = _colors(spark, [(1000 + i, "green") for i in range(12)])
    eng = eng.append(delta, order_by=["id"])
    _assert_docids_unique(eng, 200, 12)


def test_order_by_append_after_purge_reuses_no_docid(spark):
    """purge_deleted keeps docids stable, so the purged space keeps its
    largest docid: an append after it must not reuse a live docid."""
    cfg = {"aggregations": {"color": {"size": 10}}, "native_search_enabled": False}
    eng = itemsjs_spark(
        spark, _colors(spark, [(i, "red") for i in range(1, 6)]), cfg,
        order_by=["id"],
    )
    eng.delete_docids([2])
    purged = eng.purge_deleted()
    assert purged.index.next_docid_base == 5
    eng = purged.append(_colors(spark, [(10, "blue"), (11, "blue")]), order_by=["id"])
    _assert_docids_unique(eng, 5, 2)
