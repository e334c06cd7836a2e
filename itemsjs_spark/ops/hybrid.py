"""Hybrid retrieval: fuse ranked candidate lists with Reciprocal Rank
Fusion (RRF, Cormack/Clarke/Buettcher SIGIR 2009).

The canonical LLM-retrieval composition: a lexical BM25/lunr top-N list
(block-max WAND at scale) and a vector cosine top-N list (IVF/LSH at
scale) are fused by summing ``1 / (c + rank)`` contributions per
document — no score calibration across retrievers needed, only ranks.

Scale shape: each input is already a TOP-N candidate list (bounded by
its producer — WAND top-k, ANN probe+rerank), so the fusion operates on
``n_lists * N`` rows regardless of corpus size. The per-list rank
window is a single-partition sort of N rows — deliberate and bounded;
the fusion groupBy shuffles the same bounded set. Nothing here touches
the corpus; at 10^12 turns the cost lives entirely in the candidate
generators, which have their own scale paths.

Determinism: ranks tie-break on ``CAST(id AS STRING) ASC`` (the
engine-wide cursor convention); RRF contributions are IEEE doubles
summed per doc (n_lists ≤ a handful, and float addition over the same
tiny multiset is order-insensitive here because every sum is rounded to
6 decimals only after aggregation — with 2 lists a+b == b+a bitwise).
"""

from __future__ import annotations

import warnings
from typing import Sequence, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rrf_fuse(
    ranked: Sequence[Tuple[DataFrame, str]],
    id_col: str = "_id",
    k: int = 10,
    c: int = 60,
    max_list_size: int = 10_000,
) -> DataFrame:
    """Fuse ranked candidate lists into an RRF top-k.

    ``ranked`` is a sequence of ``(df, score_col)`` pairs; each ``df``
    holds one candidate list with an id column ``id_col`` and a numeric
    ``score_col`` (higher = better). Returns
    ``(_id, rrf_score, n_lists)`` ordered by fused score — ``n_lists``
    is how many input lists contained the doc (a useful
    agreement signal, and extra oracle surface).

    Each list is truncated to its top ``max_list_size`` rows (same
    ordering the rank uses) BEFORE the global rank window: RRF is
    defined over top-N candidate lists, and the truncation — a
    distributed TakeOrdered, not a sort — is what keeps the
    single-partition rank window bounded even if a caller hands this a
    full scoring DataFrame instead of a candidate list. Rows beyond
    the cap would each contribute < 1/(c + max_list_size) ≈ 0, and
    every intended caller (WAND top-k, ANN shortlists) is far below it.
    A list that the cap cuts raises a ``UserWarning`` (one bounded
    count job per list decides it); the result is the same either way.
    """
    if not ranked:
        raise ValueError("rrf_fuse: need at least one ranked list")
    parts = []
    for i, (df, score_col) in enumerate(ranked):
        if df.limit(int(max_list_size) + 1).count() > max_list_size:
            warnings.warn(
                f"rrf_fuse: ranked list {i} has more than max_list_size="
                f"{max_list_size} rows; only its top {max_list_size} are "
                "fused",
                stacklevel=2,
            )
        order = [
            F.col(score_col).desc(), F.col(id_col).cast("string").asc()
        ]
        w = Window.orderBy(*order)
        parts.append(
            df.orderBy(*order)
            .limit(int(max_list_size))
            .select(
                F.col(id_col).alias("_id"),
                (
                    F.lit(1.0)
                    / (F.lit(float(c)) + F.row_number().over(w).cast("double"))
                ).alias("contrib"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("_id").agg(
        F.round(F.sum("contrib"), 6).alias("rrf_score"),
        F.count("*").alias("n_lists"),
    )
    return (
        fused.orderBy(
            F.col("rrf_score").desc(), F.col("_id").cast("string").asc()
        )
        .limit(k)
        .select("_id", "rrf_score", "n_lists")
    )
