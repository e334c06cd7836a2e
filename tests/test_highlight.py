"""search({query, highlight}) decoration: raw-token match spans +
context snippets on the page items (driver-side post-pass, any route).

Pins: prefix-expansion matching (lunr semantics), quoted-phrase
preference over bag tokens (with the same span as ``snippet_hits``),
multi-field decoration with per-field absence, stopword raw-span
behavior, window defaults/clamping, and that the decoration composes
with filters and pagination."""

from __future__ import annotations

import pytest

from itemsjs_spark.engine import itemsjs_spark


@pytest.fixture(scope="module")
def eng(spark):
    items = [
        {"id": 1, "name": "alpha beta", "desc": "gamma delta epsilon",
         "kind": "x"},
        {"id": 2, "name": "unrelated words", "desc": "betamax tape here",
         "kind": "x"},
        {"id": 3, "name": "the beta", "desc": "alpha the beta now",
         "kind": "y"},
        {"id": 4, "name": "nothing here", "desc": "nor here", "kind": "y"},
        {"id": 5, "name": "alpha the beta now", "desc": "beta last",
         "kind": "x"},
    ]
    return itemsjs_spark(
        spark,
        items,
        {
            "searchableFields": ["name", "desc"],
            "aggregations": {"kind": {"size": 10}},
            "custom_id_field": "id",
        },
    )


def _items(res):
    return {it["id"]: it for it in res["data"]["items"]}


def test_highlight_prefix_match_and_multifield(eng):
    res = eng.search({"query": "beta", "highlight": True})
    got = _items(res)
    # doc 1: name token 1 matches exactly
    assert got[1]["_highlight"]["name"] == {
        "hl_from": 1, "hl_to": 1, "snippet": "alpha beta"
    }
    # doc 1 desc has no beta* token -> no desc entry
    assert "desc" not in got[1]["_highlight"]
    # doc 2: prefix expansion — "betamax" matches query token "beta"
    assert got[2]["_highlight"]["desc"]["hl_from"] == 0
    assert got[2]["_highlight"]["desc"]["snippet"] == "betamax tape here"
    # doc 3: both fields match; raw index skips nothing ("the" is raw
    # position 0, match at raw 1)
    assert got[3]["_highlight"]["name"] == {
        "hl_from": 1, "hl_to": 1, "snippet": "the beta"
    }
    assert got[3]["_highlight"]["desc"]["hl_from"] == 2
    # unmatched doc 4 never appears in a conjunctive query result
    assert 4 not in got


def test_highlight_quoted_phrase_preferred(eng):
    # phrase constraints run over the FIRST searchable field (name); the
    # stopword squeeze makes the analyzed phrase (alpha, beta), so doc 1
    # ("alpha beta") and doc 5 ("alpha the beta now") both satisfy it
    res = eng.search({"query": '"alpha the beta"', "highlight": True})
    got = _items(res)
    assert set(got) == {1, 5}
    # phrase occurrence preferred over the first bag-token match: doc 5's
    # name highlights the full raw span with the stopword inside it
    assert got[5]["_highlight"]["name"] == {
        "hl_from": 0, "hl_to": 2, "snippet": "alpha the beta now"
    }
    assert got[1]["_highlight"]["name"] == {
        "hl_from": 0, "hl_to": 1, "snippet": "alpha beta"
    }
    # a field without the phrase falls back to the bag tokens
    assert got[5]["_highlight"]["desc"] == {
        "hl_from": 0, "hl_to": 0, "snippet": "beta last"
    }
    # the highlight span is snippet_hits' span for the same phrase
    snip = {
        r["_docid"]: (r["hl_from"], r["hl_to"])
        for r in eng.snippet_hits("alpha the beta").collect()
    }
    assert snip == {
        d: (got[d]["_highlight"]["name"]["hl_from"],
            got[d]["_highlight"]["name"]["hl_to"])
        for d in (1, 5)
    }


def test_highlight_phrase_keeps_punctuation_only_token(spark):
    # without the stopword filter '...' analyzes to a kept '' token: the
    # index, search's phrase constraint and snippet_hits all treat it as
    # a phrase term, so the highlight must span the whole phrase too
    # rather than fall back to the first bag token
    e = itemsjs_spark(
        spark,
        [{"id": 1, "name": "foo ... bar"}, {"id": 2, "name": "foo bar"}],
        {"searchableFields": ["name"], "isExactSearch": True,
         "custom_id_field": "id"},
    )
    got = _items(e.search({"query": '"foo ... bar"', "highlight": True}))
    assert set(got) == {1}
    assert got[1]["_highlight"]["name"] == {
        "hl_from": 0, "hl_to": 2, "snippet": "foo ... bar"
    }
    assert [
        (r["_docid"], r["hl_from"], r["hl_to"])
        for r in e.snippet_hits("foo ... bar").collect()
    ] == [(1, 0, 2)]


def test_highlight_window_and_fields_opts(eng):
    res = eng.search({
        "query": "epsilon",
        "highlight": {"before": 1, "after": 0, "fields": ["desc"]},
    })
    got = _items(res)
    assert got[1]["_highlight"] == {
        "desc": {"hl_from": 2, "hl_to": 2, "snippet": "delta epsilon"}
    }


def test_highlight_composes_with_filters_and_paging(eng):
    res = eng.search({
        "query": "beta",
        "filters": {"kind": ["y"]},
        "per_page": 1,
        "highlight": True,
    })
    got = _items(res)
    assert len(got) == 1 and 3 in got
    assert got[3]["_highlight"]["name"]["hl_from"] == 1
    assert res["pagination"]["total"] == 1


def test_no_highlight_key_when_not_requested(eng):
    res = eng.search({"query": "beta"})
    assert all("_highlight" not in it for it in res["data"]["items"])
    # highlight without a query is a no-op, not an error
    res2 = eng.search({"highlight": True})
    assert all("_highlight" not in it for it in res2["data"]["items"])
