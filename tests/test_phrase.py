"""Phrase search (extension): postings-intersection prune + Arrow
adjacency verify. Covers stopword-squeezed adjacency, stemming,
overlapping occurrences, the present-but-not-adjacent case the pruning
stage alone cannot decide, and field selection."""

from __future__ import annotations

import pytest

from itemsjs_spark.engine import itemsjs_spark


@pytest.fixture(scope="module")
def eng(spark):
    items = [
        {"id": 1, "text": "alpha beta gamma"},
        {"id": 2, "text": "beta alpha beta"},          # not adjacent as "alpha beta"? (alpha beta at 1-2)
        {"id": 3, "text": "alpha the beta"},            # stopword squeezed -> adjacent
        {"id": 4, "text": "beta gamma alpha"},          # both present, NOT adjacent
        {"id": 5, "text": "alpha beta alpha beta"},     # two occurrences
        {"id": 6, "text": "running quickly"},           # stems to "run quickli"
        {"id": 7, "text": "gamma gamma gamma"},         # overlap: "gamma gamma" x2
        {"id": 8, "text": "alpha"},                     # missing a term
    ]
    return itemsjs_spark(
        spark, items, {"searchableFields": ["text"], "custom_id_field": "id"}
    )


def _got(eng, phrase, **kw):
    return {
        r["_docid"]: r["n_occurrences"]
        for r in eng.phrase_hits(phrase, **kw).collect()
    }


def test_phrase_adjacency_and_counts(eng):
    # docid == id here (custom_id_field dense 1..8 maps via assign order)
    got = _got(eng, "alpha beta")
    # doc 4 has both terms but not adjacent: pruning passes it, the
    # verify stage must reject it
    assert set(got) == {1, 2, 3, 5}
    assert got[5] == 2 and got[1] == 1 and got[2] == 1
    # stopword squeeze: "alpha the beta" matches "alpha beta"
    assert got[3] == 1


def test_phrase_stopwords_in_query_are_squeezed(eng):
    assert _got(eng, "alpha the beta") == _got(eng, "alpha beta")


def test_phrase_overlapping_occurrences(eng):
    assert _got(eng, "gamma gamma") == {7: 2}


def test_phrase_is_stemmed(eng):
    # "runs" -> "run", "quickly" -> "quickli": both sides stem
    assert set(_got(eng, "runs quickly")) == {6}


def test_phrase_single_term_counts_occurrences(eng):
    got = _got(eng, "gamma")
    assert got == {1: 1, 4: 1, 7: 3}


def test_phrase_no_match_and_empty(eng):
    assert _got(eng, "beta delta") == {}
    assert _got(eng, "the a") == {}  # all stopwords -> empty analysis
    assert _got(eng, "") == {}


def test_phrase_slop_widens_the_match_window(eng):
    # doc 4 "beta gamma alpha": "beta alpha" not adjacent (slop 0) but
    # within one intervening token (slop 1); doc 2 "beta alpha beta"
    # matches at slop 0 already
    # doc 5 "alpha beta alpha beta" also holds "beta alpha" at 2-3
    assert set(_got(eng, "beta alpha")) == {2, 5}
    got = _got(eng, "beta alpha", slop=1)
    assert set(got) == {2, 4, 5} and got[4] == 1
    # order still matters under slop: "gamma alpha" exists in doc 4,
    # "alpha gamma" only via doc 1's adjacency
    assert set(_got(eng, "alpha gamma", slop=1)) == {1}


def test_phrase_slop_greedy_counts_per_start(eng):
    # doc 5 "alpha beta alpha beta": starts at tokens 1 and 3 both
    # complete under any slop; greedy binds each to the nearest beta
    assert _got(eng, "alpha beta", slop=2)[5] == 2


def test_phrase_slop_zero_equals_consecutive(eng):
    for q in ("alpha beta", "gamma gamma"):
        assert _got(eng, q) == _got(eng, q, slop=0)


@pytest.fixture(scope="module")
def eng3(spark):
    """Corpus for m>2 chains: cases where greedy nearest binding and a
    lazy (backtracking) binding DISAGREE, pinning the greedy semantics
    the DuckDB oracle replicates."""
    items = [
        # greedy binds beta@1, gamma then misses its slop-1 window
        # (a lazy binder would pick beta@3 and succeed via gamma@4)
        {"id": 1, "text": "alpha beta x beta gamma"},
        # window arithmetic along the chain: beta@2, gamma@6
        {"id": 2, "text": "alpha x beta x x x gamma"},
        # duplicate-term m=3 phrase, consecutive
        {"id": 3, "text": "beta gamma beta"},
    ]
    return itemsjs_spark(
        spark, items, {"searchableFields": ["text"], "custom_id_field": "id"}
    )


def test_phrase_m3_greedy_binding_is_pinned(eng3):
    # slop 1: greedy fails on doc 1 (no backtracking), nothing else has
    # the chain within window
    assert _got(eng3, "alpha beta gamma", slop=1) == {}
    # slop 2: greedy beta@1 -> gamma@4 completes on doc 1
    assert _got(eng3, "alpha beta gamma", slop=2) == {1: 1}
    # slop 3: doc 2's wider gaps come in too
    assert _got(eng3, "alpha beta gamma", slop=3) == {1: 1, 2: 1}


def test_phrase_m3_duplicate_term(eng3):
    assert _got(eng3, "beta gamma beta") == {3: 1}
    assert _got(eng3, "beta gamma beta", slop=1) == {3: 1}


def test_phrase_join_route_matches_isin_route(eng):
    # force the common-phrase fallback (join against the candidate
    # DataFrame) and prove it returns exactly what the point-lookup
    # route returns
    want = _got(eng, "alpha beta")
    eng.PHRASE_ISIN_MAX = 0  # instance override shadows the class attr
    try:
        assert _got(eng, "alpha beta") == want and want
    finally:
        del eng.PHRASE_ISIN_MAX


def test_phrase_unknown_field_raises(eng):
    from itemsjs_spark.engine.query import EngineError

    with pytest.raises(EngineError):
        eng.phrase_hits("alpha beta", field="nope")


# --- quoted-phrase syntax in search({query}) ---


def test_search_quoted_phrase_restricts_and_scores(eng):
    # pure quoted query: bag (conjunctive, lunr 1.x) over the phrase
    # words restricted to the actual phrase matchers
    res = eng.search({"query": '"alpha beta"', "per_page": 10})
    ids = [it["id"] for it in res["data"]["items"]]
    assert set(ids) == {1, 2, 3, 5}  # adjacency rejects doc 4
    assert res["pagination"]["total"] == 4
    # order equals the plain bag search's order restricted to the set
    bag = eng.search({"query": "alpha beta", "per_page": 10})
    keep = [it["id"] for it in bag["data"]["items"] if it["id"] in {1, 2, 3, 5}]
    assert ids == keep
    # loose terms still participate in the (conjunctive) bag: adding
    # gamma narrows to docs holding all three AND the phrase
    res2 = eng.search({"query": 'gamma "alpha beta"', "per_page": 10})
    assert [it["id"] for it in res2["data"]["items"]] == [1]
    assert res2["pagination"]["total"] == 1


def test_search_quoted_stopword_only_is_vacuous(eng):
    got = eng.search({"query": 'alpha "the"', "per_page": 10})
    want = eng.search({"query": "alpha the", "per_page": 10})
    assert [i["id"] for i in got["data"]["items"]] == [
        i["id"] for i in want["data"]["items"]
    ]
    assert got["pagination"]["total"] == want["pagination"]["total"]


def test_search_quoted_no_match_is_empty(eng):
    res = eng.search({"query": '"beta delta"', "per_page": 10})
    assert res["data"]["items"] == []
    assert res["pagination"]["total"] == 0


def test_aggregation_quoted_query(spark):
    """The aggregation endpoint delegates to search(), so quoted-phrase
    constraints flow into facet bucket counts too."""
    items = [
        {"id": 1, "text": "alpha beta", "tag": "x"},
        {"id": 2, "text": "beta alpha", "tag": "x"},
        {"id": 3, "text": "alpha beta", "tag": "y"},
    ]
    e = itemsjs_spark(
        spark,
        items,
        {
            "searchableFields": ["text"],
            "aggregations": {"tag": {"size": 10}},
            "custom_id_field": "id",
        },
    )
    res = e.aggregation({"name": "tag", "query": '"alpha beta"'})
    buckets = {b["key"]: b["doc_count"] for b in res["data"]["buckets"]}
    assert buckets.get("x") == 1 and buckets.get("y") == 1  # doc 2 rejected


def test_search_quoted_query_composes_with_filters(spark):
    items = [
        {"id": 1, "text": "alpha beta", "tag": "x"},
        {"id": 2, "text": "alpha beta", "tag": "y"},
        {"id": 3, "text": "beta alpha", "tag": "x"},
    ]
    e = itemsjs_spark(
        spark,
        items,
        {
            "searchableFields": ["text"],
            "aggregations": {"tag": {"size": 10}},
            "custom_id_field": "id",
        },
    )
    res = e.search(
        {"query": '"alpha beta"', "filters": {"tag": ["x"]}, "per_page": 10}
    )
    assert [it["id"] for it in res["data"]["items"]] == [1]
    assert res["pagination"]["total"] == 1


def test_quoted_query_declines_wand_gate(eng):
    # a block-backed engine must NOT route quoted queries through WAND
    # (the phrase constraint lives outside the block scorer)
    import dataclasses

    from itemsjs_spark.engine import SearchEngine

    e2 = SearchEngine(
        dataclasses.replace(eng.index, posting_blocks=eng.index.docs)
    )
    assert e2._wand_search_applies({"query": "alpha"})
    assert not e2._wand_search_applies({"query": '"alpha beta"'})


def _got_pos(e, phrase, **kw):
    return {
        r["_docid"]: list(r["match_positions"])
        for r in e.phrase_hits(phrase, with_positions=True, **kw).collect()
    }


def test_phrase_match_positions(eng):
    # doc 5 "alpha beta alpha beta": starts at analyzed tokens 0 and 2;
    # doc 3 "alpha the beta": stopword squeezes, start at 0
    got = _got_pos(eng, "alpha beta", use_positions=False)
    assert got[5] == [0, 2] and got[3] == [0] and got[1] == [0]
    assert got[2] == [1]  # "beta alpha beta"
    # overlap: "gamma gamma" in doc 7 starts at 0 and 1
    assert _got_pos(eng, "gamma gamma", use_positions=False) == {7: [0, 1]}


def test_phrase_match_positions_routes_agree(eng):
    eng.enable_positions()
    try:
        for phrase, slop in PHRASE_CASES:
            assert _got_pos(
                eng, phrase, slop=slop, use_positions=True
            ) == _got_pos(eng, phrase, slop=slop, use_positions=False), (
                phrase,
                slop,
            )
    finally:
        eng.release_positions()


# --- positional route (enable_positions): index-only phrase matching ---

PHRASE_CASES = [
    ("alpha beta", 0),
    ("alpha beta", 2),
    ("beta alpha", 1),
    ("gamma gamma", 0),
    ("gamma", 0),
    ("runs quickly", 0),
    ("beta delta", 0),
    ("alpha gamma", 1),
]


def test_positional_route_matches_text_route(eng):
    eng.enable_positions()
    try:
        for phrase, slop in PHRASE_CASES:
            text = _got(eng, phrase, slop=slop, use_positions=False)
            positional = _got(eng, phrase, slop=slop, use_positions=True)
            assert positional == text, (phrase, slop)
        # auto-routing: once built, the default routes positionally
        assert _got(eng, "alpha beta") == _got(
            eng, "alpha beta", use_positions=False
        )
    finally:
        eng.release_positions()


def test_positional_route_m3_greedy(eng3):
    eng3.enable_positions()
    try:
        for phrase, slop in [
            ("alpha beta gamma", 1),
            ("alpha beta gamma", 2),
            ("alpha beta gamma", 3),
            ("beta gamma beta", 0),
            ("beta gamma beta", 1),
        ]:
            assert _got(eng3, phrase, slop=slop, use_positions=True) == _got(
                eng3, phrase, slop=slop, use_positions=False
            ), (phrase, slop)
    finally:
        eng3.release_positions()


def test_positional_route_is_index_only(eng):
    """Runtime proof the positional plan never touches corpus text:
    poison the docs text column with raise_error — the positional route
    still answers (it never evaluates the column), the text route
    fails."""
    from pyspark.sql import functions as F

    want = _got(eng, "alpha beta", use_positions=False)
    eng.enable_positions()
    real_docs = eng.index.docs
    eng.index.docs = real_docs.withColumn(
        "text", F.raise_error(F.lit("corpus text was read")).cast("string")
    )
    try:
        assert _got(eng, "alpha beta", use_positions=True) == want and want
        with pytest.raises(Exception, match="corpus text was read"):
            _got(eng, "alpha beta", use_positions=False)
    finally:
        eng.index.docs = real_docs
        eng.release_positions()


def test_positional_survives_index_write_read(spark, tmp_path):
    """enable_positions attaches the artifact to the index; write/read
    round-trips it and phrase queries on the reopened index auto-route
    positionally — without re-tokenizing (poison-proven) and with
    results equal to the original engine's."""
    from pyspark.sql import functions as F

    from itemsjs_spark.engine import SearchEngine
    from itemsjs_spark.engine.indexer import Index

    items = [
        {"id": 1, "text": "alpha beta gamma"},
        {"id": 2, "text": "beta alpha beta"},
        {"id": 3, "text": "alpha the beta"},
        {"id": 4, "text": "beta gamma alpha"},
    ]
    e = itemsjs_spark(
        spark, items, {"searchableFields": ["text"], "custom_id_field": "id"}
    )
    e.enable_positions()
    want = _got(e, "alpha beta", use_positions=True)
    want_slop = _got(e, "beta alpha", slop=1, use_positions=True)
    path = str(tmp_path / "idx_pos")
    e.index.write(path)
    e.release_positions()

    idx2 = Index.read(spark, path)
    assert idx2.positional_fields == ["text"]
    e2 = SearchEngine(idx2)
    # poison the reopened corpus text: auto-routing must go positional
    idx2.docs = idx2.docs.withColumn(
        "text", F.raise_error(F.lit("corpus text was read")).cast("string")
    )
    assert _got(e2, "alpha beta") == want and want
    assert _got(e2, "beta alpha", slop=1) == want_slop and want_slop


def test_positional_survives_append(spark):
    """Snapshot append extends the positional artifact by tokenizing
    ONLY the delta; phrase results on the appended engine (positional
    auto-route) equal a full rebuild's text route."""
    base = [
        {"id": 1, "text": "alpha beta gamma"},
        {"id": 2, "text": "beta gamma alpha"},
    ]
    delta = [
        {"id": 3, "text": "alpha beta alpha beta"},
        {"id": 4, "text": "gamma gamma"},
    ]
    cfg = {"searchableFields": ["text"], "custom_id_field": "id"}
    e = itemsjs_spark(spark, base, cfg, docid_col="id")
    e.enable_positions()
    delta_df = spark.createDataFrame(
        [(d["id"], d["text"]) for d in delta], "id long, text string"
    )
    appended = e.append(delta_df, docid_col="id")
    assert appended.index.positional_fields == ["text"]
    full = itemsjs_spark(spark, base + delta, cfg, docid_col="id")
    for phrase, slop in [("alpha beta", 0), ("gamma gamma", 0), ("beta alpha", 1)]:
        got = _got(appended, phrase, slop=slop)  # auto-routes positional
        want = _got(full, phrase, slop=slop, use_positions=False)
        assert got == want, (phrase, slop)


def test_positional_random_differential(spark):
    """Random token streams x random phrases x slop 0..2: the positional
    kernel, the text verifier and snippet_hits implement one semantics —
    same docs, same occurrence counts, and the snippet starts at the
    first match position (no stopwords here, so raw == analyzed
    indices)."""
    import random

    rng = random.Random(31)
    vocab = ["alpha", "beta", "gamma", "delta"]
    items = [
        {
            "id": i + 1,
            "text": " ".join(
                rng.choice(vocab) for _ in range(rng.randrange(0, 12))
            ),
        }
        for i in range(60)
    ]
    e = itemsjs_spark(
        spark, items, {"searchableFields": ["text"], "custom_id_field": "id"}
    )
    e.enable_positions()
    try:
        for _ in range(8):
            m = rng.choice([1, 2, 3, 4])
            phrase = " ".join(rng.choice(vocab) for _ in range(m))
            for slop in (0, 1, 2):
                pos, text = (
                    {
                        r["_docid"]: (r["n_occurrences"], list(r["match_positions"]))
                        for r in e.phrase_hits(
                            phrase, slop=slop, use_positions=use,
                            with_positions=True,
                        ).collect()
                    }
                    for use in (True, False)
                )
                assert pos == text, (phrase, slop)
                snip = {
                    r["_docid"]: (r["n_occurrences"], r["hl_from"])
                    for r in e.snippet_hits(phrase, slop=slop).collect()
                }
                assert snip == {
                    d: (n, starts[0]) for d, (n, starts) in text.items()
                }, (phrase, slop)
    finally:
        e.release_positions()
