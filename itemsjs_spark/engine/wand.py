"""Block-max WAND top-k over compressed posting blocks.

Scale path for ranked full-text retrieval (north_star): instead of
scoring every candidate (fulltext_hits does, and stays the parity
oracle), prune whole docid ranges whose best-possible score cannot
enter the top-k.

Physical shape:
* blocks are co-located by ``range_id`` (see blocks.py), so scoring one
  range is a single Arrow batch group — no shuffle during scoring.
* per-range upper bounds come from block *metadata only*
  (``max_tf``), aggregated in one tiny metadata query; no posting
  decode happens for pruned ranges.
* the driver admits ranges in upper-bound-descending batches and stops
  when the current k-th score ≥ the best remaining bound — classic
  block-max WAND at range granularity, executed as a handful of
  DataFrame jobs.

Scores are bit-identical to ``SearchEngine.fulltext_hits`` (same float64
tf, same sorted-term accumulation order), so rank parity carries over.
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .blocks import decode_varint_deltas
from .relations import local_relation


def wand_topk(
    spark: SparkSession,
    blocks: DataFrame,
    term_weights: Dict[str, float],
    term_masks: Dict[str, int],
    full_mask: int,
    magnitude: float,
    k: int,
    batch_ranges: int = 64,
    filter_blocks: Optional[DataFrame] = None,
    filter_fields: Optional[Dict[str, List[str]]] = None,
    filter_groups: Optional[List[List[str]]] = None,
) -> DataFrame:
    """Top-k (_docid, __score) for an analyzed query.

    term_weights: term -> w (query weight already multiplied by idf, as
    in SearchEngine.fulltext_hits); contribution of a posting = w * tf.
    term_masks: term -> bitmask of query-token indexes it expands.
    full_mask: all query tokens — a doc must cover it (conjunctive AND).

    Filtered WAND: ``filter_blocks`` is a facet-posting block table
    (facetblocks.py; terms = ``field␟key``) built with the SAME
    range_size as ``blocks``. The filter is a CNF over facet terms:
    ``filter_groups`` is a list of groups of facet-term strings — OR
    within a group, AND across groups (the general shape: a conjunctive
    facet value is its own group; a disjunctive field's values share
    one). ``filter_fields`` (field → accepted keys, OR within a field,
    AND across fields) is the convenience dict form, translated to one
    group per field. Because facet and fulltext blocks share docid
    ranges, each admitted range's facet postings co-locate with its
    query postings in the same applyInPandas group — the filter
    intersection is evaluated locally during scoring, shuffle-free, and
    pruning bounds stay admissible (filtering only removes candidates)."""
    terms = sorted(term_weights)
    if not terms or magnitude == 0.0:
        return local_relation(spark, [], "_docid long, __score double")

    if filter_groups is None and filter_fields:
        from .facetblocks import SEP

        filter_groups = [
            [f + SEP + key for key in keys]
            for f, keys in filter_fields.items()
        ]

    # canonical block columns: the checkpointed store adds a `bucket`
    # partition column that a freshly-built in-memory block table lacks —
    # project both union sides to the core layout (the term predicate is
    # applied first, so pushdown/partition pruning still sees it)
    _BLOCK_COLS = [
        "term", "range_id", "block_id", "n",
        "docid_min", "docid_max", "max_tf", "docids", "tfs",
    ]
    tblocks = blocks.filter(F.col("term").isin(terms)).select(*_BLOCK_COLS)
    n_groups = 0
    group_of: Dict[str, List[int]] = {}
    if filter_blocks is not None and filter_groups:
        n_groups = len(filter_groups)
        for gid, group in enumerate(filter_groups):
            for t in group:
                group_of.setdefault(t, []).append(gid)
        fterms = sorted(group_of)
        tblocks = tblocks.unionByName(
            filter_blocks.filter(F.col("term").isin(fterms)).select(
                *_BLOCK_COLS
            )
        )

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

    tw = dict(term_weights)
    tm = dict(term_masks)

    def score_range(pdf: pd.DataFrame) -> pd.DataFrame:
        # decode all blocks of this range, accumulate per-doc
        # (score, token-mask); conjunctive + facet filter; local top-k
        per_term: Dict[str, List[Tuple[np.ndarray, np.ndarray]]] = {}
        per_group: Dict[int, List[np.ndarray]] = {}
        for term, n, blob, tf_blob in zip(
            pdf["term"], pdf["n"], pdf["docids"], pdf["tfs"]
        ):
            d = decode_varint_deltas(bytes(blob), int(n))
            gids = group_of.get(term)
            if gids is not None:  # facet-posting block: filter side
                for gid in gids:
                    per_group.setdefault(gid, []).append(d)
                continue
            t = np.frombuffer(bytes(tf_blob), dtype=np.float64)
            per_term.setdefault(term, []).append((d, t))
        if not per_term:
            return pd.DataFrame({"_docid": [], "__score": []}).astype(
                {"_docid": "int64", "__score": "float64"}
            )
        allowed: Optional[np.ndarray] = None
        if n_groups:
            if len(per_group) < n_groups:
                # some required group has no values in this range
                return pd.DataFrame({"_docid": [], "__score": []}).astype(
                    {"_docid": "int64", "__score": "float64"}
                )
            for parts in per_group.values():
                ids = np.unique(np.concatenate(parts))  # OR within group
                allowed = ids if allowed is None else np.intersect1d(
                    allowed, ids, assume_unique=True
                )
        all_ids = np.concatenate(
            [d for parts in per_term.values() for d, _ in parts]
        )
        uniq = np.unique(all_ids)
        score = np.zeros(len(uniq), dtype=np.float64)
        mask = np.zeros(len(uniq), dtype=np.int64)
        for term in sorted(per_term):  # fixed reduction order = parity
            w = tw[term]
            m = tm[term]
            for d, t in per_term[term]:
                idx = np.searchsorted(uniq, d)
                score[idx] += w * t
                mask[idx] |= m
        ok = mask == full_mask
        if allowed is not None:
            ok &= np.isin(uniq, allowed, assume_unique=True)
        ids, sc = uniq[ok], score[ok]
        if len(ids) > k:
            # top-k by (score desc, str(docid) asc) — lexicographic ref
            order = np.lexsort((np.array([str(i) for i in ids]), -sc))[:k]
            ids, sc = ids[order], sc[order]
        return pd.DataFrame({"_docid": ids, "__score": sc / magnitude})

    out_parts: List[DataFrame] = []
    heap: List[Tuple[float, str, int]] = []  # (score, str_id, id) best-k
    i = 0
    while i < len(ranges):
        theta = heap[k - 1][0] if len(heap) >= k else -math.inf
        # block-max pruning: everything STRICTLY below the current k-th
        # score (bounds are sorted descending, so we can stop outright).
        # Strict `<`: a range whose bound EQUALS theta may hold a doc
        # tied on score that wins the str(docid)-ascending tie-break —
        # skipping it would break exact rank parity with fulltext_hits.
        if ranges[i]["ub"] / magnitude < theta:
            break
        batch = [r["range_id"] for r in ranges[i : i + batch_ranges]]
        i += batch_ranges
        part = (
            tblocks.filter(F.col("range_id").isin(batch))
            .groupBy("range_id")
            .applyInPandas(score_range, schema="_docid long, __score double")
        )
        rows = part.orderBy(
            F.col("__score").desc(), F.col("_docid").cast("string").asc()
        ).limit(k).collect()
        for r in rows:
            heap.append((r["__score"], str(r["_docid"]), r["_docid"]))
        heap.sort(key=lambda x: (-x[0], x[1]))
        heap = heap[:k]

    return local_relation(
        spark, [(h[2], h[0]) for h in heap], "_docid long, __score double"
    )
