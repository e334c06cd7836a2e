"""RRF fusion: rank-only combination of bounded candidate lists."""

from __future__ import annotations

import warnings

import pytest

from itemsjs_spark.ops.hybrid import rrf_fuse


def _df(spark, rows):
    return spark.createDataFrame(rows, "_id long, score double")


def test_rrf_hand_computed_fusion(spark):
    a = _df(spark, [(1, 3.0), (2, 2.0), (3, 1.0)])
    b = _df(spark, [(2, 9.0), (3, 8.0), (4, 7.0)])
    got = rrf_fuse([(a, "score"), (b, "score")], k=10).collect()
    rows = {r["_id"]: (r["rrf_score"], r["n_lists"]) for r in got}
    assert rows[2] == (pytest.approx(round(1 / 62 + 1 / 61, 6)), 2)
    assert rows[3] == (pytest.approx(round(1 / 63 + 1 / 62, 6)), 2)
    assert rows[1] == (pytest.approx(round(1 / 61, 6)), 1)
    assert rows[4] == (pytest.approx(round(1 / 63, 6)), 1)
    # agreement outranks any single-list rank
    assert [r["_id"] for r in got] == [2, 3, 1, 4]


def test_rrf_rank_ties_break_on_id_string(spark):
    # identical scores inside a list: rank order = CAST(id AS STRING) ASC
    a = _df(spark, [(10, 1.0), (2, 1.0)])
    got = rrf_fuse([(a, "score")], k=2).collect()
    # '10' < '2' lexicographically, so 10 takes rank 1
    assert [r["_id"] for r in got] == [10, 2]
    assert got[0]["rrf_score"] > got[1]["rrf_score"]


def test_rrf_k_truncates_after_fusion(spark):
    a = _df(spark, [(i, float(100 - i)) for i in range(20)])
    got = rrf_fuse([(a, "score")], k=5).collect()
    assert len(got) == 5
    assert [r["_id"] for r in got] == [0, 1, 2, 3, 4]


def test_rrf_rejects_empty_input(spark):
    with pytest.raises(ValueError):
        rrf_fuse([], k=5)


def test_rrf_list_cap_bounds_rank_window(spark):
    # a caller handing a full scoring frame gets its list truncated to
    # the top max_list_size rows by the SAME ordering the rank uses —
    # ranks for surviving rows are unchanged, the window input is
    # bounded, and the fused top-k over high ranks is identical
    a = _df(spark, [(i, float(1000 - i)) for i in range(200)])
    with pytest.warns(UserWarning, match="max_list_size=50"):
        capped = rrf_fuse([(a, "score")], k=5, max_list_size=50).collect()
    full = rrf_fuse([(a, "score")], k=5, max_list_size=10_000).collect()
    assert [tuple(r) for r in capped] == [tuple(r) for r in full]
    # rows cut by the cap cannot appear even for large k
    with pytest.warns(UserWarning, match="ranked list 0"):
        got = rrf_fuse([(a, "score")], k=100, max_list_size=50).collect()
    assert len(got) == 50 and max(r["_id"] for r in got) == 49


def test_rrf_warns_only_when_the_cap_cuts(spark):
    a = _df(spark, [(i, float(100 - i)) for i in range(50)])
    b = _df(spark, [(i, float(i)) for i in range(51)])
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)  # AT the cap: no cut
        at_cap = rrf_fuse([(a, "score")], k=5, max_list_size=50).collect()
    assert [r["_id"] for r in at_cap] == [0, 1, 2, 3, 4]
    with pytest.warns(UserWarning, match="ranked list 1 has more than"):
        rrf_fuse([(a, "score"), (b, "score")], k=5, max_list_size=50)
