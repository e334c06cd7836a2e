"""Facet-value posting blocks: index-side set algebra for facet filters.

The scan path (``__fk_*`` array predicates over the corpus) re-reads
every document per query; at 10^12 turns a selective filter should touch
only ITS OWN posting lists, the way the reference intersects per-value
bitmaps (src/helpers.ts bitset algebra). This module stores each facet
value's docid set in the SAME block store (blocks.py array layout) as
the fulltext postings — the synthetic term is ``field ␟ key`` — so
facet filters get term-pruned block scans, per-range co-location,
snapshot appends and compaction without any storage code of their own.
A value's docid set is its blocks exploded (``postings_from_blocks``),
so the set algebra below is Spark joins end to end: no Python task.

Operations provided (each a bounded relational plan, never a corpus
scan):

* ``BlockSetAlgebra``    — evaluates the compiled facet predicate IR
  (core/facetir.py: contains/hasvalue/and/or/not) as docid-set algebra:
  contains → one value's decoded posting list, AND → left-semi join
  chain, OR → distinct union, NOT inside AND → left-anti join. This is
  the block-store analog of the reference's bitmap AND/OR/sub
  (src/helpers.ts:147-253) and serves conjunctive, disjunctive
  (self-exclusion), negative and DNF ``filters_query`` searches alike.
* ``docids_for_values``  — one facet field's filter as a docid set:
  conjunctive (docid matches ALL values: one groupBy counting distinct
  matched values) or disjunctive (distinct union).
* ``intersect_all``      — AND across fields via successive left-semi
  joins on docid (the bitmap-AND analog).
* ``crossed_bucket_counts`` — (key, doc_count) for one field against a
  docid filter-set: its OWN postings semi-joined with the filter, then
  one groupBy; zero-count keys restored from the facet dimension.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .blocks import (
    DEFAULT_BLOCK_SIZE,
    build_posting_blocks,
    postings_from_blocks,
)
from .indexer import DOCID, FK_PREFIX, Index
from .relations import local_relation

SEP = "\x1f"  # unit separator: cannot appear in JS-coerced facet keys


def facet_postings_for_docs(
    docs: DataFrame, facet_fields: Sequence[str]
) -> DataFrame:
    """(term=field␟key, _docid, tf=1.0) rows for every facet assignment
    in ``docs`` (normalized ``__fk_*`` columns present) — the row-level
    form the block encoder consumes. Works on an epoch delta as well as
    a full corpus."""
    parts: List[DataFrame] = []
    for fld in facet_fields:
        parts.append(
            docs.select(
                F.col(DOCID),
                F.explode(F.array_distinct(FK_PREFIX + fld)).alias("key"),
            ).select(
                F.concat(F.lit(fld + SEP), F.col("key")).alias("term"),
                F.col(DOCID),
                F.lit(1.0).alias("tf"),
            )
        )
    if not parts:
        return local_relation(
            docs.sparkSession, [], f"term string, {DOCID} long, tf double"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def facet_postings(index: Index) -> DataFrame:
    """Facet postings for a built Index (see facet_postings_for_docs)."""
    return facet_postings_for_docs(index.docs, index.facet_fields)


def build_facet_blocks(
    index: Index,
    range_size: int = 1 << 20,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """Compressed facet-posting blocks (blocks.py layout; same docid
    ranges as the fulltext blocks so future combined ops co-locate)."""
    return build_posting_blocks(
        facet_postings(index), range_size=range_size, block_size=block_size
    )


def _subset(
    fblocks: DataFrame, terms: Sequence[str], est: Optional[int] = None
) -> DataFrame:
    """Decode only the requested values' blocks (term predicate lands on
    the block scan); ``est`` sizes the decode (postings_from_blocks)."""
    return postings_from_blocks(
        fblocks.filter(F.col("term").isin(list(terms))), est=est
    )


def _dedup(preds):
    """Unique IR nodes, first occurrence wins (order-preserving)."""
    seen = set()
    out = []
    for p in preds:
        k = _freeze(p)
        if k not in seen:
            seen.add(k)
            out.append(p)
    return out


def _freeze(pred: tuple):
    """Hashable CANONICAL form of a facetir IR node: AND/OR children are
    deduped and order-normalized (∧/∨ are idempotent and commutative over
    sets), so semantically-equal predicates — e.g. the compiler's
    result_pred branches AND(v, common) that reduce to common itself —
    share one memo entry and therefore ONE evaluated DataFrame."""
    op = pred[0]
    if op in ("and", "or"):
        ch = sorted({_freeze(p) for p in pred[1]}, key=repr)
        if len(ch) == 1:
            return ch[0]
        return (op, tuple(ch))
    if op == "not":
        return ("not", _freeze(pred[1]))
    return pred


class BlockSetAlgebra:
    """Facet predicate IR → docid-set DataFrames over facet posting blocks.

    ``docids(pred)`` returns ``True`` (every document), ``False`` (no
    document), or a DataFrame of one ``_docid`` column. Leaves decode
    only their own value's blocks (term predicate pushed into the
    block scan); AND chains left-semi joins, OR unions distinct,
    and a NOT child inside an AND becomes a left-anti join — so a
    negative filter never materializes a complement. A bare NOT (only
    reachable through OR-of-NOT inputs) anti-joins against the docs
    docid column, the one place the universe is touched.

    Results are memoized per instance by IR shape, so the shared
    conjunctive+negative core of per-field bucket predicates
    (helpers.ts:147-253) is planned once per request.

    ``value_counts`` (field → key → global doc count, the engine's
    cached facet dimension) sizes each contains leaf's decode: a value's
    doc count is its posting count. Leaves of values it lacks decode
    with the scan's own partitioning.
    """

    def __init__(
        self,
        index: Index,
        fblocks: DataFrame,
        value_counts: Optional[Dict[str, Dict[str, int]]] = None,
    ):
        self.index = index
        self.fblocks = fblocks
        self.value_counts = value_counts or {}
        self._memo: dict = {}

    def universe(self) -> DataFrame:
        return self.index.docs.select(DOCID)

    def as_df(self, res) -> DataFrame:
        if res is True:
            return self.universe()
        if res is False:
            return self.universe().limit(0)
        return res

    def docids(self, pred: tuple):
        key = _freeze(pred)
        if key not in self._memo:
            self._memo[key] = self._eval(pred)
        return self._memo[key]

    def persist(self, preds: Iterable[tuple]) -> List[DataFrame]:
        """Persist the docid sets of ``preds``, inner sets first, and
        return them (the caller unpersists). A cached set's plan reads
        only the caches that exist when it is persisted; with the inner
        sets persisted first, the first action through an outer set
        fills every inner cache too, so no posting list decodes twice."""
        uniq = {_freeze(p): p for p in preds}
        out: List[DataFrame] = []
        # an inner set's canonical key is part of its outer sets' keys
        for key in sorted(uniq, key=lambda k: len(repr(k))):
            s = self.docids(uniq[key])
            if not isinstance(s, bool):
                out.append(s.persist())
        return out

    def _eval(self, pred: tuple):
        op = pred[0]
        if op == "true":
            return True
        if op == "false":
            return False
        if op == "contains":
            est = self.value_counts.get(pred[1], {}).get(pred[2])
            return _subset(
                self.fblocks, [pred[1] + SEP + pred[2]], est=est
            ).select(DOCID)
        if op == "hasvalue":
            return (
                postings_from_blocks(
                    self.fblocks.filter(F.col("term").startswith(pred[1] + SEP))
                )
                .select(DOCID)
                .distinct()
            )
        if op == "not":
            inner = self.docids(pred[1])
            if isinstance(inner, bool):
                return not inner
            return self.universe().join(inner, DOCID, "left_anti")
        if op == "and":
            # dedup repeated conjuncts (the compiler's result_pred repeats
            # the filter atoms inside each OR branch — idempotent ∧, and
            # deduping makes the memo collapse equal sets to ONE plan);
            # order contains-leaves first, hasvalue (field-sized) last,
            # so the semi-join chain starts from the smallest sets
            def _and_rank(p):
                return {"contains": 0, "hasvalue": 2}.get(p[0], 1)

            pos, neg = [], []
            for p in _dedup(sorted(pred[1], key=_and_rank)):
                if p[0] == "not":
                    neg.append(self.docids(p[1]))
                else:
                    pos.append(self.docids(p))
            if any(s is False for s in pos) or any(s is True for s in neg):
                return False
            pos = [s for s in pos if s is not True]
            neg = [s for s in neg if s is not False]
            if not pos and not neg:
                return True
            out = pos[0] if pos else self.universe()
            for s in pos[1:]:
                out = out.join(s, DOCID, "left_semi")
            for s in neg:
                out = out.join(s, DOCID, "left_anti")
            return out
        if op == "or":
            parts = [self.docids(p) for p in _dedup(pred[1])]
            if any(s is True for s in parts):
                return True
            parts = [s for s in parts if s is not False]
            if not parts:
                return False
            out = parts[0]
            for s in parts[1:]:
                out = out.unionByName(s)
            return out.distinct() if len(parts) > 1 else out
        raise ValueError(f"unsupported IR node for block algebra: {pred!r}")


def docids_for_values(
    fblocks: DataFrame,
    field: str,
    keys: Sequence[str],
    conjunctive: bool = True,
) -> DataFrame:
    """Docid set for ``field`` filtered to ``keys`` — AND across values
    (reference default) or OR (``conjunction: false``)."""
    terms = [field + SEP + k for k in keys]
    p = _subset(fblocks, terms)
    if not terms:
        return p.select(DOCID).limit(0)
    if conjunctive and len(terms) > 1:
        return (
            p.groupBy(DOCID)
            .agg(F.countDistinct("term").alias("__n"))
            .filter(F.col("__n") == len(set(terms)))
            .select(DOCID)
        )
    return p.select(DOCID).distinct()


def intersect_all(sets: Iterable[DataFrame]) -> Optional[DataFrame]:
    """AND across fields: successive left-semi joins on docid."""
    out: Optional[DataFrame] = None
    for s in sets:
        out = s if out is None else out.join(s, DOCID, "left_semi")
    return out


def crossed_bucket_counts(
    index: Index,
    fblocks: DataFrame,
    field: str,
    filter_docids: Optional[DataFrame],
) -> DataFrame:
    """(key, doc_count) for ``field`` crossed with a filter docid set —
    reads only this field's postings plus the (tiny) filter set; zero
    counts restored from the facet dimension."""
    own = postings_from_blocks(
        fblocks.filter(F.col("term").startswith(field + SEP))
    ).select(
        F.expr(f"substring(term, {len(field) + 2})").alias("key"), F.col(DOCID)
    )
    if filter_docids is not None:
        own = own.join(filter_docids, DOCID, "left_semi")
    counted = own.groupBy("key").agg(F.count("*").alias("doc_count"))
    dim = index.facet_values.filter(F.col("field") == field).select("key")
    return (
        dim.join(counted, "key", "left")
        .withColumn("doc_count", F.coalesce("doc_count", F.lit(0)))
        .select("key", "doc_count")
    )
