"""The lunr analysis flags × the three postings artifacts.

For each pipeline setting (default, ``isExactSearch``,
``removeStopWordFilter``) over rows with stopwords, punctuation-only
tokens, hyphens, array fields, numbers, None and NaN, the Arrow
tokenizer's output equals the driver-side chain:

* ``tokenize_postings`` tf == ``scoring.doc_tf`` over the registered
  fields (a duplicate registration and an absent column included);
* ``bm25_postings`` (c, dl) == a ``Counter`` over the fields' analyzed
  streams concatenated in order;
* ``tokenize_position_postings`` == ``enumerate`` over one field's
  analyzed stream;

and a batch whose rows analyze to no tokens yields no rows."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from itemsjs_spark.analysis.lunr_analysis import build_pipeline, tokenize
from itemsjs_spark.core import scoring
from itemsjs_spark.engine.indexer import (
    DOCID,
    bm25_postings,
    tokenize_position_postings,
    tokenize_postings,
)

ROWS = [
    (1, "The quick-brown fox ... jumps!", "a -- b ... c's over the lazy dog",
     ["Hello World", "Foo-Bar", None], 3.0, 1999),
    (2, "", None, None, float("nan"), None),
    (3, "   ", "running runs ran — ... ?!", [], 2.5, 2000),
    (4, "if and or but", "  leading  and trailing  ", ["The", "a", "..."],
     42.0, None),
    (5, "don't stop-words: the THE The", "x - y -- z", ["x"], None, 7),
    (6, "12 monkeys 12", "... ... ...", ["12", "twelve"], -1.0, 12),
]
SCHEMA = (
    f"{DOCID} long, name string, body string, tags array<string>, "
    "n double, year long"
)
FIELDS = ["name", "body", "tags", "n", "year"]
# `name` registered twice (boost 10 and 1) and one absent column
TEXT_FIELDS = [
    ("name", 10.0), ("body", 1.0), ("tags", 1.0), ("n", 1.0),
    ("year", 1.0), ("absent", 1.0), ("name", 1.0),
]
SETTINGS = {
    "default": {},
    "exact": {"isExactSearch": True},
    "no_stopwords": {"removeStopWordFilter": True},
}


@pytest.fixture(scope="module")
def docs(spark):
    # one partition, so the outcome does not depend on how many rows
    # each Arrow batch gets (batches without tokens are pinned below)
    return spark.createDataFrame(ROWS, SCHEMA).coalesce(1).cache()


def _value(v):
    return None if isinstance(v, float) and math.isnan(v) else v


@pytest.mark.parametrize("setting", sorted(SETTINGS))
def test_postings_artifacts_match_driver_chain(docs, setting):
    cfg = SETTINGS[setting]
    pipeline = build_pipeline(
        is_exact_search=bool(cfg.get("isExactSearch")),
        remove_stop_word_filter=bool(cfg.get("removeStopWordFilter")),
    )
    analyzed = {
        row[0]: {
            f: pipeline(tokenize(_value(v))) for f, v in zip(FIELDS, row[1:])
        }
        for row in ROWS
    }

    want_tf = {
        (term, did): tf
        for did, toks in analyzed.items()
        for term, tf in scoring.doc_tf(
            [(toks.get(f, []), boost) for f, boost in TEXT_FIELDS]
        ).items()
    }
    got_tf = {
        (r["term"], r[DOCID]): r["tf"]
        for r in tokenize_postings(docs, TEXT_FIELDS, cfg).collect()
    }
    assert got_tf == want_tf

    want_bm25 = {}
    for did, toks in analyzed.items():
        stream = [t for f in FIELDS for t in toks[f]]
        for term, c in Counter(stream).items():
            want_bm25[(term, did)] = (c, len(stream))
    got_bm25 = {
        (r["term"], r[DOCID]): (r["c"], r["dl"])
        for r in bm25_postings(docs, TEXT_FIELDS, cfg).collect()
    }
    assert got_bm25 == want_bm25

    for field in ("body", "tags"):
        want_pos = {}
        for did, toks in analyzed.items():
            for i, term in enumerate(toks[field]):
                want_pos.setdefault((term, did), []).append(i)
        got_pos = {
            (r["term"], r[DOCID]): list(r["positions"])
            for r in tokenize_position_postings(docs, field, cfg).collect()
        }
        assert got_pos == want_pos, field

    # the settings really differ on these rows: '' survives without the
    # stopword filter, and stemming is off only under exact search
    terms = {t for t, _ in got_tf}
    assert ("" in terms) == (setting != "default")
    assert ("the" in terms) == (setting != "default")
    assert ("run" in terms) == (setting != "exact")


def test_batch_without_tokens(spark):
    # every row of the batch analyzes to nothing: no postings, no error
    # (an empty positions batch once failed Arrow's array<int> cast)
    docs = spark.createDataFrame(
        [(1, None), (2, "the ..."), (3, "")], f"{DOCID} long, body string"
    ).coalesce(1)
    fields = [("body", 1.0)]
    assert tokenize_postings(docs, fields, {}).collect() == []
    assert bm25_postings(docs, fields, {}).collect() == []
    assert tokenize_position_postings(docs, "body", {}).collect() == []
