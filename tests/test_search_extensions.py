"""Search-surface extensions beyond the reference (Elasticsearch/Lucene
analogs): regexp term query, field collapsing with inner hits,
per-bucket top_hits, boosting (negative-demote) query, and query
rescoring — all over the lunr-parity scorer."""

from __future__ import annotations

import math

import pytest

from itemsjs_spark.engine import SearchEngine, itemsjs_spark
from itemsjs_spark.engine.query import EngineError


@pytest.fixture(scope="module")
def eng(spark):
    items = [
        {"id": 1, "grp": "a", "text": "zebra yak zebra"},
        {"id": 2, "grp": "a", "text": "zebra yak walrus"},
        {"id": 3, "grp": "b", "text": "zebra lion lion"},
        {"id": 4, "grp": "b", "text": "lion tiger puma"},
        {"id": 5, "grp": "c", "text": "yak yak yak"},
        {"id": 6, "grp": "c", "text": "zebra walrus tiger"},
    ]
    return itemsjs_spark(
        spark,
        items,
        {
            "searchableFields": ["text"],
            "custom_id_field": "id",
            "aggregations": {"grp": {}},
        },
    )


def _hits(df):
    return {r["_docid"]: r["__score"] for r in df.collect()}


# --- regexp term query -------------------------------------------------


def test_regexp_anchored_whole_term(eng):
    # 'zebr.' matches zebra only; 'zeb' alone matches nothing (anchored)
    assert set(_hits(eng.regexp_hits("zebr."))) == {1, 2, 3, 6}
    assert eng.regexp_hits("zebr").count() == 0


def test_regexp_matches_wildcard_equivalent(eng):
    assert _hits(eng.regexp_hits("z.bra")) == _hits(eng.wildcard_hits("z?bra"))
    assert _hits(eng.regexp_hits("z.*")) == _hits(eng.wildcard_hits("z*"))


def test_regexp_alternation_unions_scores(eng):
    got = _hits(eng.regexp_hits("(lion|puma)"))
    assert set(got) == {3, 4}
    idf_lion, idf_puma = 1 + math.log(6 / 2), 1 + math.log(6 / 1)
    assert got[4] == pytest.approx((1 / 3) * idf_lion + (1 / 3) * idf_puma)
    assert got[3] == pytest.approx((2 / 3) * idf_lion)


def test_regexp_char_class_and_quantifier_prefix_prune(eng):
    # leading literal run 'ya' prunes; 'k+' quantifier governs the k
    assert set(_hits(eng.regexp_hits("yak+"))) == {1, 2, 5}
    # quantifier right after the literal run: prune must drop that char
    assert set(_hits(eng.regexp_hits("yak*"))) == {1, 2, 5}
    assert set(_hits(eng.regexp_hits("ya?k"))) == {1, 2, 5}


def test_regexp_expansion_cap_refuses(eng):
    with pytest.raises(EngineError, match="expands past"):
        eng.regexp_hits(".*", max_expansion=2)
    assert eng.regexp_hits("").count() == 0


# --- field collapsing ---------------------------------------------------


def test_collapse_one_per_group_page_order(eng):
    rows = eng.collapse_hits("zebra", "grp", k=10, inner_k=1).collect()
    # best of a: doc 1 (tf 2/3); of b: doc 3; of c: doc 6
    assert [(r["grp"], r["_docid"], r["rank_in_group"]) for r in rows] == [
        ("a", 1, 1),
        ("b", 3, 1),
        ("c", 6, 1),
    ]
    full = _hits(eng.fulltext_hits("zebra"))
    for r in rows:
        assert r["__score"] == full[r["_docid"]]


def test_collapse_k_limits_groups(eng):
    rows = eng.collapse_hits("zebra", "grp", k=2, inner_k=1).collect()
    assert [r["grp"] for r in rows] == ["a", "b"]


def test_collapse_inner_hits(eng):
    rows = eng.collapse_hits("zebra", "grp", k=2, inner_k=3).collect()
    got = sorted((r["grp"], r["rank_in_group"], r["_docid"]) for r in rows)
    assert got == [("a", 1, 1), ("a", 2, 2), ("b", 1, 3)]


def test_collapse_tie_breaks_on_docid_string(eng):
    # 'walrus': docs 2 and 6 tie exactly (tf 1/3, same idf), different grp
    rows = eng.collapse_hits("walrus", "grp", k=10).collect()
    assert [r["_docid"] for r in rows] == [2, 6]


# --- top_hits per bucket ------------------------------------------------


def test_top_hits_keeps_every_bucket(eng):
    rows = eng.top_hits_per_bucket("zebra", "grp", n=2).collect()
    got = sorted((r["grp"], r["rank"], r["_docid"]) for r in rows)
    assert got == [
        ("a", 1, 1),
        ("a", 2, 2),
        ("b", 1, 3),
        ("c", 1, 6),
    ]


def test_top_hits_salting_invariant(eng):
    base = sorted(
        (r["grp"], r["rank"], r["_docid"], r["__score"])
        for r in eng.top_hits_per_bucket("zebra", "grp", n=2).collect()
    )
    for buckets in (1, 3, 64):
        alt = sorted(
            (r["grp"], r["rank"], r["_docid"], r["__score"])
            for r in eng.top_hits_per_bucket(
                "zebra", "grp", n=2, salt_buckets=buckets
            ).collect()
        )
        assert alt == base


# --- boosting query -----------------------------------------------------


def test_boosting_demotes_but_keeps(eng):
    plain = _hits(eng.fulltext_hits("zebra"))
    got = _hits(eng.boosting_hits("zebra", "lion", negative_boost=0.25))
    assert set(got) == set(plain)
    for d, s in got.items():
        expect = plain[d] * (0.25 if d == 3 else 1.0)
        assert s == pytest.approx(expect)


def test_boosting_no_negative_matches_is_identity(eng):
    assert _hits(eng.boosting_hits("zebra", "qqqq")) == _hits(
        eng.fulltext_hits("zebra")
    )


# --- Rocchio pseudo-relevance feedback ----------------------------------


def test_prf_keeps_candidates_boosts_cooccurring(eng):
    base = _hits(eng.fulltext_hits("zebra"))
    got = _hits(eng.prf_hits("zebra", fb_docs=2, fb_terms=2, beta=1.0))
    # candidate set unchanged — feedback only re-weights
    assert set(got) == set(base)
    # fb docs are 1 and 2 (top-2); their non-query terms: yak, walrus;
    # both fb terms boost docs containing them
    for d in got:
        assert got[d] >= base[d] - 1e-12
    assert got[2] > base[2]   # doc 2 has yak AND walrus
    # a doc with no fb terms keeps ~alpha*base
    assert got[3] == pytest.approx(base[3])


def test_prf_zero_beta_is_base_ranking(eng):
    base = _hits(eng.fulltext_hits("zebra"))
    got = _hits(eng.prf_hits("zebra", fb_docs=2, fb_terms=2, beta=0.0))
    for d, s in got.items():
        assert s == pytest.approx(base[d])
    assert eng.prf_hits("qqqq").count() == 0


# --- rescore ------------------------------------------------------------


def test_rescore_combines_scores(eng):
    base = _hits(eng.fulltext_hits("zebra"))
    sec = _hits(eng.fulltext_hits("yak"))
    got = _hits(eng.rescore_hits("zebra", "yak", window_size=10))
    assert set(got) == set(base)
    for d, s in got.items():
        assert s == pytest.approx(base[d] + sec.get(d, 0.0))


def test_rescore_window_and_weights(eng):
    got = _hits(
        eng.rescore_hits(
            "zebra", "yak", window_size=2, query_weight=2.0,
            rescore_weight=0.5,
        )
    )
    base = _hits(eng.fulltext_hits("zebra"))
    sec = _hits(eng.fulltext_hits("yak"))
    # window keeps the top-2 base docs: 1 (tf 2/3), then the 2/3/6 tie
    # breaks on str(docid) asc → 2
    assert set(got) == {1, 2}
    for d in got:
        assert got[d] == pytest.approx(2.0 * base[d] + 0.5 * sec.get(d, 0.0))


def test_has_child_counts_scores_and_filter_only(eng):
    """has_child parents own >= min_children matching children; the
    reported score is the best child's rounded score; a filter-only
    input ranks by child count with NULL scores."""
    import pyspark.sql.functions as F

    out = eng.has_child_hits(
        "grp", {"query": "zebra"}, min_children=1, k=100
    ).collect()
    got = {r["parent"]: (r["n_children"], r["__score"]) for r in out}
    hits = eng.fulltext_hits("zebra")
    kids = (
        hits.join(eng.index.docs.select("_docid", "grp"), "_docid")
        .select("grp", F.round("__score", 6).alias("s"))
        .collect()
    )
    want = {}
    for r in kids:
        n, s = want.get(r["grp"], (0, None))
        want[r["grp"]] = (n + 1, max(s if s is not None else -1e9, r["s"]))
    assert got == want
    assert set(got) == {"a", "b", "c"}
    assert got["a"][0] == 2  # ids 1 and 2 both contain zebra
    # min_children prunes to the multi-child parent only
    out2 = eng.has_child_hits(
        "grp", {"query": "zebra"}, min_children=2, k=100
    ).collect()
    assert [r["parent"] for r in out2] == ["a"]
    # filter-only: NULL scores, ordered by child count then parent
    out3 = eng.has_child_hits(
        "grp", {"filters": {"grp": ["a"]}}, min_children=1, k=5
    ).collect()
    assert all(r["__score"] is None for r in out3)
    assert {r["parent"]: r["n_children"] for r in out3} == {"a": 2}
    # conjunctive itemsjs filters: two values on a scalar field => empty
    assert (
        eng.has_child_hits(
            "grp", {"filters": {"grp": ["a", "b"]}}, min_children=1, k=5
        ).count()
        == 0
    )


def test_has_parent_children_carry_parent_best_score(eng):
    """has_parent: children of groups with >=1 'zebra' match, each
    carrying the group's best rounded score; child_input narrows the
    returned children without touching scores."""
    import pyspark.sql.functions as F

    out = eng.has_parent_hits("grp", {"query": "zebra"}, k=100).collect()
    hits = eng.fulltext_hits("zebra")
    kids = (
        hits.join(eng.index.docs.select("_docid", "grp"), "_docid")
        .select("grp", F.round("__score", 6).alias("s"))
        .collect()
    )
    best = {}
    for r in kids:
        best[r["grp"]] = max(best.get(r["grp"], -1e9), r["s"])
    # every doc belongs to a matching group here (a, b, c all match)
    assert {r["_docid"]: r["__score"] for r in out} == {
        i: best[g]
        for i, g in [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c"), (6, "c")]
    }
    # child filter narrows the result set, scores unchanged
    out2 = eng.has_parent_hits(
        "grp", {"query": "zebra"}, {"filters": {"grp": ["b"]}}, k=100
    ).collect()
    assert {r["_docid"]: r["__score"] for r in out2} == {
        3: best["b"], 4: best["b"]
    }
    # filter-only parent input: NULL scores, membership still enforced
    out3 = eng.has_parent_hits(
        "grp", {"filters": {"grp": ["a"]}}, k=100
    ).collect()
    assert {r["_docid"] for r in out3} == {1, 2}
    assert all(r["__score"] is None for r in out3)


def test_field_value_factor_boost_and_modifiers(eng):
    """field_value_factor: boosted = round(round(score,6) *
    mod(factor*v), 6); modifier changes ranking but never the base
    score; unknown modifier/field raise."""
    import math

    import pyspark.sql.functions as F
    import pytest as _pytest

    # give the engine a numeric field via reconfig-free access: grp len
    # is constant, so use the docs' own _docid as the value field proxy
    # by boosting on a field that exists: none here — documents engines
    # are exercised in the driver row; unit-test the math on a fresh
    # engine with a numeric column
    from itemsjs_spark.engine import itemsjs_spark

    items = [
        {"id": 1, "n": 1.0, "text": "zebra yak"},
        {"id": 2, "n": 100.0, "text": "zebra yak"},
        {"id": 3, "n": 25.0, "text": "zebra walrus"},
    ]
    e2 = itemsjs_spark(
        eng.spark, items,
        {"searchableFields": ["text"], "custom_id_field": "id"},
    )
    out = {r["_id"]: r for r in e2.field_value_boosted_topk(
        "zebra", "n", factor=4.0, modifier="sqrt", k=10
    ).collect()}
    base = {r["_docid"]: round(r["__score"], 6) for r in e2.fulltext_hits("zebra").collect()}
    for i, r in out.items():
        assert r["score"] == base[i]
        assert r["boosted"] == round(base[i] * math.sqrt(4.0 * items[i - 1]["n"]), 6)
    # docs 1 and 2 score equally on relevance; the boost must separate
    assert out[2]["boosted"] > out[1]["boosted"]
    with _pytest.raises(Exception, match="modifier"):
        e2.field_value_boosted_topk("zebra", "n", modifier="cube")
    with _pytest.raises(Exception, match="boost field"):
        e2.field_value_boosted_topk("zebra", "missing")


def test_span_first_filters_by_start_position(eng):
    """span_first: only docs whose phrase match starts before
    max_start survive; first_pos is the earliest start."""
    from itemsjs_spark.engine import itemsjs_spark

    items = [
        {"id": 1, "text": "zebra yak lion tiger"},      # starts at 0
        {"id": 2, "text": "lion tiger zebra yak"},      # starts at 2
        {"id": 3, "text": "lion zebra yak zebra yak"},  # starts at 1 (and 3)
        {"id": 4, "text": "zebra lion yak"},            # no adjacency
    ]
    e2 = itemsjs_spark(
        eng.spark, items,
        {"searchableFields": ["text"], "custom_id_field": "id"},
    )
    got = {
        r["_docid"]: r["first_pos"]
        for r in e2.span_first_hits("zebra yak", max_start=2).collect()
    }
    assert got == {1: 0, 3: 1}
    all4 = {
        r["_docid"]: r["first_pos"]
        for r in e2.span_first_hits("zebra yak", max_start=99).collect()
    }
    assert all4 == {1: 0, 2: 2, 3: 1}


def test_dis_max_combines_best_plus_tiebreak(eng):
    """dis_max: per-doc best sub-query score + tb * sum(others) over
    rounded scores; tb=0 is pure max, tb=1 is plain sum."""
    qs = ["zebra", "yak", "walrus"]
    per = {}
    for i, q in enumerate(qs):
        for r in eng.fulltext_hits(q).collect():
            per.setdefault(r["_docid"], {})[i] = round(r["__score"], 6)
    got = {r["_id"]: r["score"] for r in eng.dis_max_hits(qs, 0.3, k=100).collect()}
    want = {}
    for d, m in per.items():
        vals = [m.get(i, 0.0) for i in range(3)]
        best = max(vals[0], max(vals[1], vals[2]))
        want[d] = round(best + 0.3 * ((vals[0] + vals[1] + vals[2]) - best), 6)
    assert got == want
    mx = {r["_id"]: r["score"] for r in eng.dis_max_hits(qs, 0.0, k=100).collect()}
    for d in mx:
        vals = [per[d].get(i, 0.0) for i in range(3)]
        assert mx[d] == round(max(vals), 6)
    assert eng.dis_max_hits([], k=5).count() == 0


def test_pinned_promotes_in_list_order_and_fills_organically(eng):
    """pinned: listed ids first (list order, missing skipped, NULL
    scores), organic hits fill the tail excluding pinned docs."""
    out = eng.pinned_hits([5, 999, 3], "zebra", k=5).collect()
    rows = [(r["pos"], r["_id"], r["pinned"], r["score"]) for r in out]
    # doc 5 then doc 3 pinned (999 missing), NULL scores
    assert rows[0][:3] == (1, 5, True) and rows[0][3] is None
    assert rows[1][:3] == (2, 3, True) and rows[1][3] is None
    organic = {r["_docid"] for r in eng.fulltext_hits("zebra").collect()}
    tail = rows[2:]
    assert all(not p for _, _, p, _ in tail)
    assert all(i in organic and i not in (5, 3) for _, i, _, _ in tail)
    # organic tail ordered by rounded score desc, id-string asc
    scores = [s for _, _, _, s in tail]
    assert scores == sorted(scores, reverse=True)
    # k caps the union: pinned-only when k <= pinned count
    top1 = eng.pinned_hits([5, 3], "zebra", k=1).collect()
    assert [(r["pos"], r["_id"]) for r in top1] == [(1, 5)]


def _persistent_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_opt_in_caches_release(spark, eng):
    """Each opt-in cache (trigrams, positions, BM25) unpersists through
    its release method: the session's persistent RDDs return to their
    count before the enable calls."""
    e = SearchEngine(eng.index)
    e._ensure_fulltext_materialized()
    before = _persistent_rdds(spark)
    e.enable_trigrams().count()
    e.enable_positions().count()
    e.enable_bm25()
    assert _persistent_rdds(spark) > before
    e.release_trigrams()
    e.release_positions()
    e.release_bm25()
    assert _persistent_rdds(spark) == before


def test_recency_boost_rejects_unknown_field_before_scoring(spark, eng):
    """An unknown ``ts_field`` raises before the query is scored: on the
    distributed-expansion path scoring would pin a term-vector cache
    that only the next search() releases."""
    e = SearchEngine(eng.index)
    e.MAX_DRIVER_EXPANSION = 0  # every expansion takes the distributed path
    e._ensure_fulltext_materialized()
    before = _persistent_rdds(spark)
    with pytest.raises(EngineError, match="unknown timestamp field"):
        e.recency_boosted_topk("zebra", "no_such_field", tau_s=60.0)
    assert e._expansion_caches == []
    assert _persistent_rdds(spark) == before
