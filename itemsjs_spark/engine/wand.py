"""Block-max WAND top-k over posting blocks.

Scale path for ranked full-text retrieval (north_star): instead of
scoring every candidate (fulltext_hits does, and stays the parity
oracle), prune whole docid ranges whose best-possible score cannot
enter the top-k.

Physical shape:
* per-range upper bounds come from block *metadata only*
  (``max_tf``), aggregated in one tiny metadata query; no posting of a
  pruned range is ever read.
* the driver admits ranges in upper-bound-descending batches and stops
  when the current k-th score ≥ the best remaining bound — classic
  block-max WAND at range granularity, executed as a handful of
  DataFrame jobs.
* the first batch is admitted unconditionally (no k-th score yet), so
  when the caller knows every range fits in it (``max_ranges`` ≤
  ``batch_ranges``) the bound query is skipped and one batch scores
  all the query terms' blocks: the bounds could prune nothing.
* an admitted batch is scored by the caller's exact-scorer plan over
  the batch's decoded postings (blocks.postings_from_blocks), so WAND
  scores equal ``SearchEngine.fulltext_hits``' bit for bit.
* the result is the driver's heap — a best-first list — so a caller
  pages it without another Spark job.
"""

from __future__ import annotations

import math
from typing import Callable, Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .blocks import postings_from_blocks
from .relations import local_relation


def wand_topk(
    spark: SparkSession,
    blocks: DataFrame,
    term_weights: Dict[str, float],
    magnitude: float,
    k: int,
    score: Callable[[DataFrame], DataFrame],
    batch_ranges: int = 64,
    filter_blocks: Optional[DataFrame] = None,
    filter_fields: Optional[Dict[str, List[str]]] = None,
    filter_groups: Optional[List[List[str]]] = None,
    max_ranges: Optional[int] = None,
) -> List[Tuple[int, float]]:
    """Top-k ``(_docid, __score)`` for an analyzed query, best first
    (score descending, then ``str(_docid)`` ascending).

    term_weights: term -> w (query weight already multiplied by idf, as
    in SearchEngine.fulltext_hits); a posting contributes at most
    w * max_tf / magnitude to a score, which bounds each range.
    score: postings (term, _docid, tf) of the admitted ranges → their
    admitted docs (_docid, __score) — the exact scorer's plan.
    max_ranges: an upper bound on the number of docid ranges in
    ``blocks`` (None: unknown). At most ``batch_ranges`` means one
    batch over every range and no bound query; a bound too low only
    costs the pruning, never exactness.

    Filtered WAND: ``filter_blocks`` is a facet-posting block table
    (facetblocks.py; terms = ``field␟key``) built with the SAME
    range_size as ``blocks``. The filter is a CNF over facet terms:
    ``filter_groups`` is a list of groups of facet-term strings — OR
    within a group, AND across groups (the general shape: a conjunctive
    facet value is its own group; a disjunctive field's values share
    one). ``filter_fields`` (field → accepted keys, OR within a field,
    AND across fields) is the convenience dict form, translated to one
    group per field. Each group is a left-semi join of the batch's hits
    with the group's facet postings in the same ranges; pruning bounds
    stay admissible (filtering only removes candidates)."""
    terms = sorted(term_weights)
    if not terms or magnitude == 0.0 or k <= 0:
        return []

    if filter_groups is None and filter_fields:
        from .facetblocks import SEP

        filter_groups = [
            [f + SEP + key for key in keys]
            for f, keys in filter_fields.items()
        ]
    if filter_blocks is None:
        filter_groups = None

    tblocks = blocks.filter(F.col("term").isin(terms))

    def batch_top(in_batch: Optional[Column]) -> List[Tuple[int, float]]:
        """The batch's top-k; ``in_batch`` None: every range."""

        def of_batch(df: DataFrame) -> DataFrame:
            return df if in_batch is None else df.filter(in_batch)

        hits = score(postings_from_blocks(of_batch(tblocks)))
        for group in filter_groups or []:
            allowed = postings_from_blocks(
                of_batch(filter_blocks.filter(F.col("term").isin(group)))
            )
            hits = hits.join(allowed.select("_docid"), "_docid", "left_semi")
        rows = hits.orderBy(
            F.col("__score").desc(), F.col("_docid").cast("string").asc()
        ).limit(k).collect()
        return [(r["_docid"], r["__score"]) for r in rows]

    def best_first(pairs: List[Tuple[int, float]]) -> List[Tuple[int, float]]:
        return sorted(pairs, key=lambda p: (-p[1], str(p[0])))[:k]

    if max_ranges is not None and max_ranges <= batch_ranges:
        return best_first(batch_top(None))

    # ---- phase 1: per-range upper bounds from metadata only ----------
    w_rows = [(t, float(term_weights[t])) for t in terms]
    wdf = local_relation(spark, w_rows, "term string, w double")
    ub_rows = (
        tblocks.groupBy("range_id", "term")
        .agg(F.max("max_tf").alias("mtf"))
        .join(F.broadcast(wdf), "term")
        .groupBy("range_id")
        .agg(F.sum(F.col("mtf") * F.col("w")).alias("ub"))
        .collect()
    )
    ranges = sorted(ub_rows, key=lambda r: -r["ub"])

    heap: List[Tuple[int, float]] = []  # best-k so far, best first
    i = 0
    while i < len(ranges):
        theta = heap[k - 1][1] if len(heap) >= k else -math.inf
        # block-max pruning: everything STRICTLY below the current k-th
        # score (bounds are sorted descending, so we can stop outright).
        # Strict `<`: a range whose bound EQUALS theta may hold a doc
        # tied on score that wins the str(docid)-ascending tie-break —
        # skipping it would break exact rank parity with fulltext_hits.
        if ranges[i]["ub"] / magnitude < theta:
            break
        in_batch = F.col("range_id").isin(
            [r["range_id"] for r in ranges[i : i + batch_ranges]]
        )
        i += batch_ranges
        heap = best_first(heap + batch_top(in_batch))
    return heap
