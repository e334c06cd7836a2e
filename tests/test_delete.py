"""Tombstone deletes (extension — Lucene live-docs semantics).

The reference has no delete; at 10^12 turns a full rebuild per deletion
is prohibitive, so SearchEngine.delete/delete_where tombstone docids:
index artifacts stay STALE (idf/df unchanged — surviving docs keep
bit-identical scores), every document-returning path filters the
tombstones out, and purge_deleted() is the physical merge (idf
recomputed, docids stable).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from itemsjs_spark.data.transcripts import transcripts_df
from itemsjs_spark.engine import SearchEngine, itemsjs_spark
from itemsjs_spark.engine.query import EngineError

CFG = {
    "aggregations": {"role": {"size": 10}, "tool": {"size": 10}},
    "searchableFields": ["text"],
}


@pytest.fixture(scope="module")
def base_eng(spark):
    df = transcripts_df(spark, n_turns=1200, n_convs=120, seed=11).withColumn(
        "id",
        F.concat(F.col("conv_id"), F.lit(":"), F.col("turn_idx").cast("string")),
    )
    eng = itemsjs_spark(spark, df, CFG, order_by=["conv_id", "turn_idx"])
    eng.materialize()
    return eng


@pytest.fixture()
def eng(base_eng):
    # fresh tombstone state per test over the shared (cached) index
    return base_eng.reconfigured(base_eng.configuration)


def _page_ids(eng, inp):
    return [it["_id"] for it in eng.search(inp)["data"]["items"]]


def test_delete_removes_from_search_page_and_total(eng):
    res = eng.search({"query": "spark", "per_page": 5})
    ids = [it["_id"] for it in res["data"]["items"]]
    total = res["pagination"]["total"]
    assert eng.delete_docids(ids[:2]) == 2
    res2 = eng.search({"query": "spark", "per_page": 5})
    ids2 = [it["_id"] for it in res2["data"]["items"]]
    assert not set(ids[:2]) & set(ids2)
    assert res2["pagination"]["total"] == total - 2


def test_surviving_scores_are_stale_identical(eng):
    before = {
        r["_docid"]: r["__score"]
        for r in eng.fulltext_hits("spark shuffle").collect()
    }
    victims = sorted(before)[:3]
    eng.delete_docids(victims)
    after = {
        r["_docid"]: r["__score"]
        for r in eng.fulltext_hits("spark shuffle").collect()
    }
    assert set(after) == set(before) - set(victims)
    for d, s in after.items():
        assert s == before[d]  # idf untouched until purge


def test_batch_and_dis_max_hits_exclude_deleted(eng):
    queries = ["spark", "shuffle partition"]
    hits = {
        q: {r["_docid"] for r in eng.fulltext_hits(q).collect()}
        for q in queries
    }
    victim = min(hits["spark"])
    assert eng.delete_docids([victim]) == 1
    for qid, q in enumerate(queries):
        live = hits[q] - {victim}
        assert {r["_docid"] for r in eng.fulltext_hits(q).collect()} == live
        batch = eng.fulltext_hits_batch(queries).filter(F.col("qid") == qid)
        assert {r["_docid"] for r in batch.collect()} == live, q
    dm = eng.dis_max_hits(["spark"], k=len(hits["spark"]) + 5).collect()
    assert {r["_id"] for r in dm} == hits["spark"] - {victim}


def test_delete_by_external_id_and_idempotence(eng):
    row = eng.index.docs.select("_docid", "id").orderBy("_docid").first()
    assert eng.delete([row["id"]]) == 1
    assert eng.delete([row["id"]]) == 0  # already deleted
    assert eng.delete(["no-such-id"]) == 0
    assert eng.search({"ids": [row["id"]]})["pagination"]["total"] == 0
    assert eng.deleted_count() == 1


def test_bucket_counts_exclude_deleted(eng):
    res = eng.search({})
    user_count = next(
        b["doc_count"]
        for b in res["data"]["aggregations"]["role"]["buckets"]
        if b["key"] == "user"
    )
    victims = [
        r["_docid"]
        for r in eng.index.docs.filter(F.col("role") == "user")
        .select("_docid")
        .limit(4)
        .collect()
    ]
    eng.delete_docids(victims)
    res2 = eng.search({})
    assert res2["pagination"]["total"] == res["pagination"]["total"] - 4
    user2 = next(
        b["doc_count"]
        for b in res2["data"]["aggregations"]["role"]["buckets"]
        if b["key"] == "user"
    )
    assert user2 == user_count - 4


def test_delete_where_driver_and_df_paths(eng):
    n_match = eng.index.docs.filter("turn_idx % 3 = 0").count()
    eng.delete_where("turn_idx % 3 = 0")
    assert eng.deleted_count() == n_match
    assert eng.search({})["pagination"]["total"] == 1200 - n_match
    # force the DataFrame (bulk) path on a fresh copy
    eng2 = eng.reconfigured(eng.configuration)
    eng2._tombstone_docids = set()
    old_cap = SearchEngine.TOMBSTONE_DRIVER_MAX
    SearchEngine.TOMBSTONE_DRIVER_MAX = 10
    try:
        eng2.delete_where(F.col("turn_idx") % 3 == 0)
    finally:
        SearchEngine.TOMBSTONE_DRIVER_MAX = old_cap
    assert eng2._tombstone_df is not None
    assert eng2.deleted_count() == n_match
    assert eng2.search({})["pagination"]["total"] == 1200 - n_match
    with pytest.raises(EngineError, match="purge_deleted"):
        eng2._wand_k_with_tombstones(5)
    eng2._tombstone_df.unpersist()


def test_large_set_uses_anti_join_not_isin(eng):
    old = SearchEngine.TOMBSTONE_ISIN_MAX
    SearchEngine.TOMBSTONE_ISIN_MAX = 3
    try:
        eng.delete_docids([1, 2, 3, 4, 5])
        plan = eng._live(eng.index.docs)._jdf.queryExecution().toString()
        assert "LeftAnti" in plan
        assert eng.search({})["pagination"]["total"] == 1200 - 5
    finally:
        SearchEngine.TOMBSTONE_ISIN_MAX = old


def test_phrase_and_snippet_exclude_deleted(eng):
    hits = eng.phrase_hits("spark join").select("_docid").collect()
    if not hits:
        pytest.skip("fixture has no phrase hits")
    victim = hits[0][0]
    eng.delete_docids([victim])
    assert victim not in {
        r[0] for r in eng.phrase_hits("spark join").select("_docid").collect()
    }
    assert victim not in {
        r["_docid"] for r in eng.snippet_hits("spark join").collect()
    }


def test_positional_phrase_excludes_deleted(eng):
    eng.enable_positions()
    try:
        hits = (
            eng.phrase_hits("spark join", use_positions=True)
            .select("_docid")
            .collect()
        )
        if not hits:
            pytest.skip("fixture has no phrase hits")
        victim = hits[0][0]
        eng.delete_docids([victim])
        assert victim not in {
            r[0]
            for r in eng.phrase_hits("spark join", use_positions=True)
            .select("_docid")
            .collect()
        }
    finally:
        eng.release_positions()


def test_callback_similar_mlt_exclude_deleted(eng):
    victim = eng.index.docs.select("_docid").orderBy("_docid").first()[0]
    eng.delete_docids([victim])
    kept = {r[0] for r in eng._callback_filter_docids(lambda it: True).collect()}
    assert victim not in kept and len(kept) == 1199
    assert eng.more_like_this(victim, k=3).count() == 0  # deleted source
    mlt_ids = {r[0] for r in eng.more_like_this(victim + 1, k=50).collect()}
    assert victim not in mlt_ids


def test_append_carries_tombstones(spark, eng):
    victim = eng.index.docs.select("_docid").orderBy("_docid").first()[0]
    eng.delete_docids([victim])
    delta = transcripts_df(spark, n_turns=40, n_convs=4, seed=12).withColumn(
        "conv_id", F.concat(F.lit("d"), F.substring("conv_id", 2, 10))
    ).withColumn(
        "id",
        F.concat(F.col("conv_id"), F.lit(":"), F.col("turn_idx").cast("string")),
    )
    eng2 = eng.append(delta, order_by=["conv_id", "turn_idx"])
    assert eng2._tombstone_docids == {victim}
    assert eng2.search({})["pagination"]["total"] == 1200 - 1 + 40


def test_purge_rebuilds_with_stable_docids_and_fresh_idf(eng):
    before = {
        r["_docid"]: r["__score"]
        for r in eng.fulltext_hits("spark").collect()
    }
    victims = sorted(before)[:5]
    eng.delete_docids(victims)
    purged = eng.purge_deleted()
    assert not purged._tombstones_active()
    assert purged.index.docs.count() == 1200 - 5
    # docids stable: the surviving hit set is unchanged...
    after = {
        r["_docid"]: r["__score"]
        for r in purged.fulltext_hits("spark").collect()
    }
    assert set(after) == set(before) - set(victims)
    # ...but idf/df were recomputed over the smaller corpus
    n_old = eng.index.terms.filter(F.col("term") == "spark").first()
    n_new = purged.index.terms.filter(F.col("term") == "spark").first()
    assert n_new["df"] <= n_old["df"]
    # internal columns stayed internal
    assert "__keep_docid" not in purged.index.docs.columns
    res = purged.search({"per_page": 2})
    assert "__keep_docid" not in res["data"]["items"][0]


def test_wand_topk_overfetch_matches_exact_path(spark, tmp_path):
    df = transcripts_df(spark, n_turns=600, n_convs=60, seed=13)
    eng = itemsjs_spark(
        spark, df, {"searchableFields": ["text"]}, order_by=["conv_id", "turn_idx"]
    )
    path = str(tmp_path / "idx")
    eng.index.write_blocks(path)
    from itemsjs_spark.engine import Index

    deng = SearchEngine(Index.read(spark, path))
    exact = deng.fulltext_hits("spark shuffle")
    top = exact.orderBy(
        F.col("__score").desc(), F.col("_docid").cast("string").asc()
    ).limit(8).collect()
    victims = [r["_docid"] for r in top[:3]]
    deng.delete_docids(victims)
    wand = {
        r["_docid"]: r["__score"]
        for r in deng.fulltext_topk("spark shuffle", 5).collect()
    }
    expect = {r["_docid"]: r["__score"] for r in top[3:8]}
    assert wand == expect
    # search() KEEPS the WAND route under driver-set tombstones
    # (over-fetch + live-filtered membership) and stays correct
    assert deng._wand_search_applies({"query": "spark shuffle"})
    res = deng.search({"query": "spark shuffle", "per_page": 5})
    assert [it["_id"] for it in res["data"]["items"]] == [
        r["_docid"] for r in top[3:8]
    ]
    n_match = deng.fulltext_hits("spark shuffle").count()
    assert res["pagination"]["total"] == n_match  # live-filtered count
    # bulk DataFrame tombstones decline the route
    deng._tombstone_df = deng.index.docs.select("_docid").limit(1)
    assert not deng._wand_search_applies({"query": "spark shuffle"})
    deng._tombstone_df = None


def test_tombstones_survive_index_reopen(spark, tmp_path):
    from itemsjs_spark.engine import Index

    df = transcripts_df(spark, n_turns=400, n_convs=40, seed=14)
    eng = itemsjs_spark(spark, df, CFG, order_by=["conv_id", "turn_idx"])
    path = str(tmp_path / "store")
    eng.index.write(path)

    opened = SearchEngine(Index.read(spark, path))
    victims = [
        r["_docid"]
        for r in opened.index.docs.select("_docid").orderBy("_docid").limit(3).collect()
    ]
    opened.delete_docids(victims)
    opened.delete_where("turn_idx = 7")
    n_del = opened.deleted_count()
    opened.save_tombstones(path)

    # a FRESH engine over the reopened store starts with deletes applied
    eng2 = SearchEngine(Index.read(spark, path))
    assert eng2._tombstones_active()
    assert eng2.deleted_count() == n_del
    assert eng2.search({})["pagination"]["total"] == 400 - n_del
    for v in victims:
        assert v not in {
            r[0] for r in eng2._callback_filter_docids(lambda it: True).collect()
        }

    # save again with MORE deletes: the swap replaces, never appends dupes
    eng2.delete_docids([victims[0]])  # already deleted: no-op
    extra = eng2.index.docs.filter("turn_idx = 9").select("_docid").first()[0]
    eng2.delete_docids([extra])
    eng2.save_tombstones(path)
    eng3 = SearchEngine(Index.read(spark, path))
    assert eng3.deleted_count() == n_del + 1

    # purge clears; saving the purged engine removes the stored table
    purged = eng3.purge_deleted()
    purged.save_tombstones(path)
    eng4 = SearchEngine(Index.read(spark, path))
    assert not eng4._tombstones_active()


def test_tombstone_save_crash_recovery(spark, tmp_path):
    """A crash between delete(final) and rename leaves only the
    completed tombstones.new — Index.read adopts it."""
    import shutil

    from itemsjs_spark.engine import Index

    df = transcripts_df(spark, n_turns=200, n_convs=20, seed=15)
    eng = itemsjs_spark(spark, df, CFG, order_by=["conv_id", "turn_idx"])
    path = str(tmp_path / "store")
    eng.index.write(path)
    opened = SearchEngine(Index.read(spark, path))
    opened.delete_docids([1, 2])
    opened.save_tombstones(path)
    # simulate the crash window: final dir deleted, .new completed
    shutil.move(f"{path}/tombstones", f"{path}/tombstones.new")
    eng2 = SearchEngine(Index.read(spark, path))
    assert eng2.deleted_count() == 2
    assert eng2.search({})["pagination"]["total"] == 198


def test_upsert_replaces_and_inserts(spark, eng):
    # replace 2 existing turns with new text; insert 1 brand-new id
    upd = (
        eng.index.docs.filter("turn_idx = 5")
        .limit(2)
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "id")
        .withColumn("text", F.concat(F.lit("zebra quux "), F.col("text")))
    )
    new_row = (
        eng.index.docs.limit(1)
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .withColumn("conv_id", F.lit("cNEW"))
        .withColumn("turn_idx", F.lit(0))
        .withColumn("text", F.lit("zebra quux fresh turn"))
        .withColumn("id", F.lit("cNEW:0"))
    )
    delta = upd.unionByName(new_row)
    old_ids = [r["id"] for r in upd.select("id").collect()]

    eng2 = eng.upsert(delta, order_by=["id"])
    # totals: 2 replaced (no growth) + 1 inserted
    assert eng2.search({})["pagination"]["total"] == 1200 + 1
    # old versions are gone; new text matches
    res = eng2.search({"query": "zebra quux", "per_page": 10})
    assert res["pagination"]["total"] == 3
    got_ids = {it["id"] for it in res["data"]["items"]}
    assert got_ids == set(old_ids) | {"cNEW:0"}
    # the replaced docids are tombstoned, the new docids are past the base
    assert eng2.deleted_count() == 2
    for it in res["data"]["items"]:
        assert it["_id"] > 1200 or it["id"] == "cNEW:0"
    # idempotent re-upsert of the same delta: still 3 matches, same total
    eng3 = eng2.upsert(delta, order_by=["id"])
    assert eng3.search({"query": "zebra quux"})["pagination"]["total"] == 3
    assert eng3.search({})["pagination"]["total"] == 1201 + 1 - 1  # 3 old gone


def test_purge_no_tokenizer_and_equals_full_rebuild(spark, base_eng, eng):
    """The fast purge must (a) never re-tokenize — postings derive from
    the cached artifacts via a live filter — and (b) be score-identical
    to a from-scratch build over the live corpus."""
    victims = [
        r["_docid"]
        for r in eng.index.docs.select("_docid").orderBy("_docid").limit(7).collect()
    ]
    victim_ids = {
        r["id"]
        for r in eng.index.docs.filter(F.col("_docid").isin(victims))
        .select("id")
        .collect()
    }
    eng.delete_docids(victims)
    purged = eng.purge_deleted()
    plan = purged.index.postings._jdf.queryExecution().toString()
    assert "InMemoryTableScan" in plan or "MapInPandas" not in plan

    live_src = base_eng.index.docs.filter(
        ~F.col("id").isin(list(victim_ids))
    ).drop(*[c for c in base_eng.index.docs.columns if c.startswith("__fk_")]
    ).drop("_docid")
    rebuilt = itemsjs_spark(
        spark, live_src, CFG, order_by=["conv_id", "turn_idx"]
    )

    def keyed(e, q):
        return {
            r["id"]: r["__score"]
            for r in e.index.docs.select("_docid", "id")
            .join(e.fulltext_hits(q), "_docid")
            .collect()
        }

    for q in ("spark", "shuffle partition"):
        assert keyed(purged, q) == keyed(rebuilt, q), q
