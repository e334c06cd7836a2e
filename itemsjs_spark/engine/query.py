"""Query execution: compiles itemsjs requests to declarative DataFrame
plans over the index artifacts.

Everything stays JVM-side (whole-stage codegen) except the user-supplied
``filter`` callback (reference O6), which runs Arrow-batched.

Plan shapes (scale rationale):
* facet predicates -> boolean ``array_contains`` expressions over the
  normalized ``__fk_*`` columns; Catalyst pushes them into the scan.
* full-text -> driver-side query analysis (tiny), one pruned range scan of
  ``terms`` for prefix expansion, then broadcast-join the (small) expanded
  term list against ``postings``, aggregate per docid, deterministic-order
  dot product; ordering is ``ORDER BY score DESC, ref ASC`` which Spark
  executes as TakeOrderedAndProject under a LIMIT.
* buckets -> per facet field one groupBy over exploded keys right-joined
  with the facet dimension (keeps zero-count buckets), window-free until
  the final per-field top-size sort.
"""

from __future__ import annotations

import contextlib
import functools
import math
import re
import time
from typing import (
    Any,
    Callable,
    Dict,
    Iterable,
    Iterator,
    List,
    Optional,
    Sequence,
    Tuple,
)

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analysis.lunr_analysis import build_pipeline, tokenize
from ..core import facetir, scoring
from ..jsutil import humanize, js_key
from .indexer import DOCID, FK_PREFIX, RAW_PREFIX, Index
from .relations import local_relation

IN_QUERY = "__in_query"
SCORE = "__score"
QRANK = "__qrank"

# explain_search's account of each physical route
_ROUTE_WHY = {
    "wand_topk": (
        "relevance-ordered query page: block-max WAND top-k over "
        "the compressed posting store"
    ),
    "wand_filtered": (
        "query + facet filters: filtered block-max WAND page, "
        "buckets from one mask-only corpus pass (falls back to "
        "the standard path if the request declines mid-flight)"
    ),
    "facet_blocks": (
        "filter-only search: per-value posting-block set algebra "
        "predicted cheaper than the corpus scan"
    ),
    "standard_scan": "corpus-scan plan (every faster route declined — see trace)",
}


class EngineError(ValueError):
    pass


class _ExpansionTooLarge(Exception):
    """Internal: a prefix expansion exceeded MAX_DRIVER_EXPANSION."""


def _js_truthy(v: Any) -> bool:
    return not (
        v is None
        or v is False
        or v == 0
        or v == ""
        or (isinstance(v, float) and math.isnan(v))
    )


def _phrase_out_schema(with_positions: bool) -> T.StructType:
    from .indexer import DOCID as _docid

    fields = [
        T.StructField(_docid, T.LongType()),
        T.StructField("n_occurrences", T.LongType()),
    ]
    if with_positions:
        fields.append(
            T.StructField("match_positions", T.ArrayType(T.IntegerType()))
        )
    return T.StructType(fields)


def _phrase_out_pdf(ids, occ, mp, with_positions: bool) -> pd.DataFrame:
    from .indexer import DOCID as _docid

    data = {
        _docid: pd.Series(ids, dtype="int64"),
        "n_occurrences": pd.Series(occ, dtype="int64"),
    }
    if with_positions:
        data["match_positions"] = pd.Series(mp, dtype="object")
    return pd.DataFrame(data)


# snippet_hits output: raw-token highlight span + the snippet text
_SNIPPET_SCHEMA = (
    f"{DOCID} long, n_occurrences long, hl_from int, hl_to int, "
    "snippet string"
)


_QUOTED_RE = re.compile(r'"([^"]*)"')


def parse_quoted_query(query: str) -> Tuple[str, List[str]]:
    """Extension syntax for ``search({query})``: double-quoted segments
    are PHRASE CONSTRAINTS (must appear in order/adjacent, phrase_hits
    semantics) while every word — quoted or not — still scores in the
    usual lunr bag. Returns (query with the quote characters stripped,
    list of non-empty quoted segments). An unbalanced trailing quote is
    lenient: the tail reads as unquoted text."""
    phrases = [p.strip() for p in _QUOTED_RE.findall(query)]
    return query.replace('"', " "), [p for p in phrases if p]


_QS_CLAUSE_RE = re.compile(r'[+\-]?"[^"]*"|\S+')
_QS_FIELD_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*):(.+)$")


class QueryStringSpec:
    """Parsed Lucene-style query string (see ``parse_query_string``)."""

    def __init__(self) -> None:
        # scoring words in appearance order, each tagged 'm' (must) or
        # 's' (should); phrase words are must — a phrase can't match
        # without its words, so tagging them must keeps admission and
        # the adjacency constraint consistent
        self.units: List[Tuple[str, str]] = []
        self.not_words: List[str] = []
        self.must_phrases: List[str] = []
        self.not_phrases: List[str] = []
        self.filters: Dict[str, List[str]] = {}
        self.not_filters: Dict[str, List[str]] = {}


def parse_query_string(
    query: str,
    facet_fields: Sequence[str] = (),
    default_operator: str = "or",
) -> QueryStringSpec:
    """Parse the Lucene/ES ``query_string`` subset this engine executes
    (extension — itemsjs's query is a plain token bag, reference
    src/search.ts):

    * bare ``word`` — SHOULD clause (``default_operator="or"``, the ES
      default) or MUST (``"and"``); at least one should must match when
      any exist.
    * ``+word`` / ``-word`` — MUST / MUST_NOT. Prohibited words exclude
      every doc matching the analyzed token under the engine's standard
      prefix-expansion semantics.
    * ``"quoted phrase"`` — adjacency CONSTRAINT whose words also score
      (the repo's quoted-query semantics); ``-"quoted phrase"`` excludes
      phrase matches.
    * ``field:value`` — when ``field`` names a facet field: a
      conjunctive facet filter (OR within a repeated field, AND across
      fields — itemsjs filter semantics); ``-field:value`` a negative
      filter. Non-facet prefixes fall back to plain words (lenient,
      JS-flavored like the rest of the input handling).

    Out of scope (documented): parens / AND OR NOT keywords (the
    boolean algebra lives in ``filters_query``'s DNF compiler), per-term
    boosts ``^n`` (field boosts are index config), and per-field text
    search (``multifield`` engines score all configured fields).
    """
    spec = QueryStringSpec()
    fieldset = {str(f) for f in facet_fields}
    should_kl = "m" if default_operator == "and" else "s"
    for raw in _QS_CLAUSE_RE.findall(query or ""):
        kl = "s"
        if raw[0] in "+-":
            kl = "m" if raw[0] == "+" else "n"
            raw = raw[1:]
        if not raw:
            continue
        if raw.startswith('"'):
            phrase = raw.strip('"').strip()
            if not phrase:
                continue
            if kl == "n":
                spec.not_phrases.append(phrase)
            else:
                spec.must_phrases.append(phrase)
                spec.units.extend((w, "m") for w in phrase.split())
            continue
        fm = _QS_FIELD_RE.match(raw)
        if fm and fm.group(1) in fieldset:
            target = spec.not_filters if kl == "n" else spec.filters
            target.setdefault(fm.group(1), []).append(fm.group(2))
            continue
        if kl == "n":
            spec.not_words.append(raw)
        else:
            spec.units.append((raw, "m" if kl == "m" else should_kl))
    return spec


def _parse_paging(input: Dict[str, Any]) -> Tuple[int, int]:
    per_page = input.get("per_page")
    page = input.get("page")
    per_page = int(per_page if _js_truthy(per_page) else 12)
    page = int(page if _js_truthy(page) else 1)
    return per_page, page


def _timed(fn: Callable, *args) -> Tuple[Any, float]:
    """``fn(*args)`` and the seconds it took."""
    t = time.time()
    return fn(*args), time.time() - t


def _collect_items(df: DataFrame, keep: Sequence[str]) -> List[Dict[str, Any]]:
    """Collect ``df``'s ``keep`` columns as response items (``_id`` =
    the docid)."""
    return [
        _row_to_item(r)
        for r in df.select(*keep).withColumnRenamed(DOCID, "_id").collect()
    ]


def _response(
    per_page: int,
    page: int,
    total: int,
    t0: float,
    search_s: float,
    facets_s: float,
    sorting_s: float,
    items: List[Dict[str, Any]],
    all_items: Optional[List[Dict[str, Any]]] = None,
    aggregations: Optional[Dict[str, Any]] = None,
) -> Dict[str, Any]:
    """The search response (lib.ts:145-168) every route answers with:
    phase seconds become whole-millisecond timings, ``total`` timed
    from ``t0``."""
    return {
        "pagination": {"per_page": per_page, "page": page, "total": total},
        "timings": {
            "total": int((time.time() - t0) * 1000),
            "facets": int(facets_s * 1000),
            "search": int(search_s * 1000),
            "sorting": int(sorting_s * 1000),
        },
        "data": {
            "items": items,
            "allFilteredItems": all_items,
            "aggregations": {} if aggregations is None else aggregations,
        },
    }


def _tagged_keys(fld: str) -> Column:
    """``fld``'s distinct facet keys as (field, key) structs: stacked
    for several fields, one groupBy counts them all."""
    # NB: a 2-arg lambda would make F.transform pass (elem, index)
    return F.transform(
        F.array_distinct(F.col(FK_PREFIX + fld)),
        lambda k: F.struct(F.lit(fld).alias("field"), k.alias("key")),
    )


def ir_to_column(pred: tuple, has_query_col: bool) -> Column:
    op = pred[0]
    if op == "true":
        return F.lit(True)
    if op == "false":
        return F.lit(False)
    if op == "and":
        col = ir_to_column(pred[1][0], has_query_col)
        for p in pred[1][1:]:
            col = col & ir_to_column(p, has_query_col)
        return col
    if op == "or":
        col = ir_to_column(pred[1][0], has_query_col)
        for p in pred[1][1:]:
            col = col | ir_to_column(p, has_query_col)
        return col
    if op == "not":
        return ~ir_to_column(pred[1], has_query_col)
    if op == "contains":
        return F.array_contains(F.col(FK_PREFIX + pred[1]), pred[2])
    if op == "hasvalue":
        return F.size(F.col(FK_PREFIX + pred[1])) > 0
    if op == "query":
        return F.col(IN_QUERY) if has_query_col else F.lit(True)
    raise ValueError(f"unknown IR node {pred!r}")


class SearchEngine:
    """itemsjs API over a built Index (see indexer.build_index)."""

    # facet dimensions up to this many total values are cached driver-side,
    # which turns existence probes + zero-count bucket fill into lookups;
    # beyond it, per-query probe jobs and distributed bucket top-k are used.
    MAX_DRIVER_FACET_DIM = 200_000
    # expanded query terms up to this count ship as map literals in the
    # scoring projection (no per-query BroadcastExchange); larger prefix
    # expansions fall back to a broadcast join
    MAX_MAP_LITERAL_TERMS = 256
    # score aggregation sums the w·tf contributions with a plain SUM up
    # to this many query terms; wider expansions fold a sorted (term,
    # contribution) struct array so the reduction order is fixed (see
    # _dot_fold). Must stay <= 2 for exactness: a doc then gets at most
    # two non-negative addends, and IEEE-754 addition of two values is
    # commutative; a third addend makes the sum order-dependent.
    WIDE_SUM_MAX_TERMS = 2
    # reference-mandated allFilteredItems collect refuses above this
    # many rows (the driver is not a sink for a corpus-sized result)
    ALL_FILTERED_MAX_ITEMS = 200_000
    # phrase candidates up to this count collect to the driver and push
    # into the corpus scan as an IN filter (point lookups with row-group
    # pruning on a disk-backed corpus); above it the verify stage joins
    # against the candidate DataFrame instead. Measured: a multi-
    # thousand-literal In expression costs seconds in plan handling
    # (5.8k ids: 4.3 s vs 0.7 s for the join at 60k turns), so the
    # pushdown route is reserved for genuinely rare phrases
    PHRASE_ISIN_MAX = 256
    # prefix expansions beyond this never reach the driver: fulltext_hits
    # switches to the fully distributed expansion (a 1-char query against
    # a 10^12-turn vocabulary would otherwise collect millions of rows)
    MAX_DRIVER_EXPANSION = 100_000
    # --- cost-based routing for filter searches (model v2) -----------
    # The block path's row work scales with the FILTER VALUES' posting
    # lists (estimated from the cached global dimension counts); the
    # scan path's with the corpus. But each path also pays a FIXED cost
    # per Spark action, and the block path runs more actions (one
    # docid-set count pass per filtered field + final + page vs the
    # scan's stacked-counts pass + page) — at small corpora that fixed
    # cost dominates and the scan wins even for selective filters
    # (measured: 60k docs, selective filter → blocks 1.0 s vs scan
    # 0.25 s). Routing compares predicted seconds:
    #     t_scan  = 2j + n_docs / R_SCAN
    #     t_block = (n_filtered + 5) j + est / R_BLOCK
    # Constants measured by scripts/calibrate_router.py on the dev box
    # (local[16], 60k vs 600k transcript corpora): j = 0.15 s/action,
    # scan ≈ 1.5 M rows/s (unselective 60k→600k delta), block ≈ 268 k
    # postings/s (est 87→276 k delta at 600 k docs); the block path's
    # measured fixed cost ≈ 6 j (docid-set derivation + final count +
    # count pass + page), hence n_filtered + 5. Only the RATIOS steer
    # the decision, so host-speed drift cancels. R_BLOCK < R_SCAN
    # (block decode + docid joins cost more per row than a columnar
    # corpus scan), which yields the asymptotic selectivity threshold
    # est/n_docs < R_BLOCK/R_SCAN ≈ 1/6 at large corpora, while the j
    # terms gate the block path off below ~1 M docs — measured
    # crossover: scan still wins the selective filter at 600 k
    # (0.30 s vs 0.85 s) on fixed cost alone.
    ROUTER_JOB_SECONDS = 0.15
    ROUTER_SCAN_ROWS_PER_SEC = 1_500_000.0
    ROUTER_BLOCK_ROWS_PER_SEC = 250_000.0
    # tests / operators may pin the route: "blocks" | "scan" | None
    ROUTER_FORCE: Optional[str] = None
    # tombstone sets up to this size filter as a NOT IN literal (cheap
    # plan, row-group pruning stays intact); larger driver-side sets
    # become a broadcast anti-join (large In literals cost seconds in
    # plan handling — same measurement as PHRASE_ISIN_MAX)
    TOMBSTONE_ISIN_MAX = 256
    # delete_where matches beyond this count never collect: the
    # tombstones stay a DataFrame and every live filter is an anti-join
    TOMBSTONE_DRIVER_MAX = 100_000

    def __init__(self, index: Index):
        self.index = index
        self.spark = index.spark
        self.configuration = index.configuration
        self.aggregations: Dict[str, dict] = (
            self.configuration.get("aggregations") or {}
        )
        self.pipeline = build_pipeline(
            is_exact_search=bool(self.configuration.get("isExactSearch")),
            remove_stop_word_filter=bool(self.configuration.get("removeStopWordFilter")),
        )
        self._facet_dim: Optional[Dict[str, List[Tuple[str, int]]]] = None
        # field -> {key: global doc_count} (same collect as _facet_dim):
        # an UNCROSSED facet's bucket counts are exactly the dimension's
        # global counts — no job needed
        self._facet_global: Optional[Dict[str, Dict[str, int]]] = None
        self._facet_dim_checked = False
        self._ft_materialized = False
        # term-vector caches pinned by the distributed-expansion path
        # (one per oversized prefix query); released once the consumer
        # materialized — see release_expansion_caches
        self._expansion_caches: List[DataFrame] = []
        # driver-side sorted terms dictionary (see _term_dictionary)
        self._term_dict_data: Optional[
            Tuple[List[str], List[float], Optional[List[int]]]
        ] = None
        self._term_dict_checked = False
        # opt-in positional postings (enable_positions): field ->
        # DataFrame(term, _docid, positions) cached hash-partitioned by
        # _docid so the phrase conjunction+verify aggregate needs no
        # exchange
        self._positions: Dict[str, DataFrame] = {}
        # opt-in char-trigram postings (enable_trigrams): field ->
        # DataFrame(gram, _docid) — the pg_trgm-style substring-search
        # index; same docid partitioning for an exchange-free
        # conjunction aggregate
        self._trigrams: Dict[str, DataFrame] = {}
        # tombstoned (deleted) docids — Lucene live-docs semantics: the
        # index artifacts (postings/terms/blocks/facet dim) stay STALE
        # until purge_deleted(); every document-returning path filters
        # through _live(). Small sets stay driver-side; delete_where
        # bulk deletes beyond TOMBSTONE_DRIVER_MAX keep a DataFrame.
        self._tombstone_docids: set = set()
        self._tombstone_setdf: Optional[DataFrame] = None  # lazy, keyed to set
        self._tombstone_setdf_n: int = 0
        # a persisted store's live-docs table (Index.read) is adopted:
        # deletes saved by save_tombstones survive restarts
        self._tombstone_df: Optional[DataFrame] = index.tombstones

    def release_expansion_caches(self) -> None:
        """Unpersist the distributed-expansion term-vector caches created
        by oversized prefix queries (each would otherwise pin a
        vocabulary-sized cache for the session). Safe once the consumer
        has materialized its result (search() calls this in its finally;
        direct fulltext_hits callers may call it between queries —
        unpersisting only makes later reuse recompute lazily)."""
        while self._expansion_caches:
            self._expansion_caches.pop().unpersist()

    def materialize(self) -> "SearchEngine":
        """Materialize every index artifact, submitting the independent
        jobs CONCURRENTLY (Spark schedules jobs from multiple driver
        threads onto the same executors): the facet-dimension aggregate
        and the Arrow tokenizer scan overlap instead of serializing —
        on a wide cluster this is the difference between paying the
        slowest stage and paying the sum of stages."""
        from concurrent.futures import ThreadPoolExecutor

        idx = self.index
        jobs = [idx.docs, idx.facet_values]
        if idx.postings is not None and not self._ft_materialized:
            n_part = max(self.spark.sparkContext.defaultParallelism, 1)
            idx.postings = idx.postings.repartition(
                n_part, F.col(DOCID)
            ).persist()
            jobs.append(idx.postings)
        idx.facet_values = idx.facet_values.persist()
        with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
            list(ex.map(lambda df: df.count(), jobs))
        if idx.terms is not None and not self._ft_materialized:
            idx.terms = idx.terms.persist()
            idx.terms.count()  # after postings: reuses the fresh cache
        self._ft_materialized = idx.postings is not None
        return self

    def _ensure_fulltext_materialized(self) -> None:
        """Cache postings/terms once: the tokenizing mapInPandas scan must
        not rerun per query (in a deployment these are persisted parquet
        tables, see Index.write). On a block-backed index there is
        nothing to pin — postings stay on disk as compressed blocks and
        every query reads only its terms' blocks (that's the point)."""
        if self._ft_materialized or self.index.terms is None:
            return
        if self.index.postings is not None:
            # cache hash-partitioned by _docid: the per-doc scoring
            # aggregate (groupBy _docid) then needs NO exchange — every
            # query's scoring job is single-stage (HashPartitioning on
            # _docid satisfies the agg's clustering requirement, also
            # for the batch scorer's (qid, _docid) grouping)
            n_part = max(self.spark.sparkContext.defaultParallelism, 1)
            self.index.postings = self.index.postings.repartition(
                n_part, F.col(DOCID)
            ).persist()
            self.index.postings.count()
        self.index.terms = self.index.terms.persist()
        self.index.terms.count()
        self._ft_materialized = True

    def reindex(self, items_or_df, docid_col=None, order_by=None) -> "SearchEngine":
        """O23 (reference src/index.ts:82-86): replace the corpus and
        rebuild every index artifact under the same configuration. The
        old engine's caches are released; in a deployment this is an
        Iceberg-style snapshot replace (write new artifacts, swap refs) —
        resumable via checkpoint.build_blocks_checkpointed."""
        from . import itemsjs_spark as _factory

        self.index.unpersist()
        return _factory(
            self.spark,
            items_or_df,
            self.configuration,
            docid_col=docid_col,
            order_by=order_by,
        )

    def append(
        self, new_df: DataFrame, docid_col=None, order_by=None
    ) -> "SearchEngine":
        """Snapshot append (scale extension beyond the reference's
        full-rebuild reindex): only the delta is tokenized; see
        indexer.append_index for the merge semantics."""
        from .indexer import append_index

        eng = SearchEngine(
            append_index(self.index, new_df, docid_col=docid_col, order_by=order_by)
        )
        # appended docids extend past the old max — tombstones stay valid
        self._copy_tombstones_into(eng)
        return eng

    def merge_with(
        self, other: "SearchEngine", offset_other: bool = True
    ) -> "SearchEngine":
        """Segment merge (see indexer.merge_indexes): one engine over
        both corpora without re-tokenizing either — the shard-build plan
        for huge corpora. Driver-set tombstones carry from both sides
        (the other engine's shifted with its docids); bulk DataFrame
        tombstones must be made durable first (save_tombstones +
        reopen) so the merge can shift them at the Index level."""
        from .indexer import merge_indexes

        for e, side in ((self, "self"), (other, "other")):
            if (
                e._tombstone_df is not None
                and e._tombstone_df is not e.index.tombstones
            ):
                raise EngineError(
                    f"merge_with: {side} engine holds in-memory bulk "
                    "tombstones — save_tombstones() and reopen first"
                )
        eng = SearchEngine(
            merge_indexes(self.index, other.index, offset_b=offset_other)
        )
        off = self.index.n_docs if offset_other else 0
        eng._tombstone_docids = set(self._tombstone_docids) | {
            d + off for d in other._tombstone_docids
        }
        return eng

    def reconfigured(self, configuration: Dict[str, Any]) -> "SearchEngine":
        """New engine over the SAME index artifacts with different
        query-time configuration (sort specs, sizes, titles...). The new
        config must keep the same facet fields and text-analysis flags —
        those are baked into the artifacts."""
        import dataclasses

        new_index = dataclasses.replace(self.index, configuration=configuration)
        eng = SearchEngine(new_index)
        eng._facet_dim = self._facet_dim
        eng._facet_dim_checked = self._facet_dim_checked
        eng._ft_materialized = self._ft_materialized
        eng._term_dict_data = self._term_dict_data
        eng._term_dict_checked = self._term_dict_checked
        self._copy_tombstones_into(eng)
        return eng

    # ------------------------------------------------------------------
    # deletes (extension — Lucene live-docs semantics)
    # ------------------------------------------------------------------
    # The reference has no delete; at 10^12 turns a full rebuild per
    # deletion is prohibitive, so deletes are TOMBSTONES: the index
    # artifacts (postings, terms/idf, blocks, facet dimension) stay
    # untouched and every document-returning path — search/aggregation
    # pages, totals and bucket counts, fulltext/phrase/snippet hits,
    # similar, more_like_this, hit_context, grouped_topk, histograms,
    # callback filters, ids lookups — filters deleted docs out via
    # _live(). Scores of surviving docs are UNCHANGED (stale idf, like
    # Lucene before a merge). Store-level introspection (suggest,
    # did_you_mean, related_terms, top_terms, index_stats) reads the
    # store and reflects deletes only after purge_deleted(), which
    # physically rebuilds from the live corpus (recomputing idf) while
    # keeping docids stable.

    def _tombstones_active(self) -> bool:
        return bool(self._tombstone_docids) or self._tombstone_df is not None

    def _wand_k_with_tombstones(self, k: int) -> int:
        """WAND under driver-side tombstones: over-fetch k + |deleted|
        (removing tombstoned hits only promotes lower ranks, so the
        filtered over-fetch IS the live top-k). DataFrame tombstones
        have no driver-known bound — purge first."""
        if not self._tombstone_docids and self._tombstone_df is None:
            return k
        if self._tombstone_df is not None:
            raise EngineError(
                "WAND top-k with bulk (DataFrame) tombstones is not "
                "supported — purge_deleted() first or use fulltext_hits"
            )
        return k + len(self._tombstone_docids)

    def _copy_tombstones_into(self, eng: "SearchEngine") -> None:
        eng._tombstone_docids = set(self._tombstone_docids)
        eng._tombstone_setdf = self._tombstone_setdf
        eng._tombstone_setdf_n = self._tombstone_setdf_n
        eng._tombstone_df = self._tombstone_df

    def _guard_all_filtered_collect(self, total) -> None:
        """Reference-mandated allFilteredItems is an opt-in full-result
        collect; above the cap refuse clearly instead of shipping a
        corpus-sized result to the driver."""
        if total is not None and total > self.ALL_FILTERED_MAX_ITEMS:
            raise EngineError(
                "is_all_filtered_items would collect "
                f"{total} rows to the driver (cap "
                f"{self.ALL_FILTERED_MAX_ITEMS}); page through "
                "search() / search_after instead"
            )

    def _live(self, df: DataFrame) -> DataFrame:
        """Filter a docid-bearing DataFrame down to live (undeleted)
        rows. No-op when nothing is deleted."""
        t = self._tombstone_docids
        if t:
            if len(t) <= self.TOMBSTONE_ISIN_MAX:
                df = df.filter(~F.col(DOCID).isin(sorted(t)))
            else:
                if (
                    self._tombstone_setdf is None
                    or self._tombstone_setdf_n != len(t)
                ):
                    self._tombstone_setdf = local_relation(
                        self.spark,
                        [(int(d),) for d in sorted(t)],
                        f"{DOCID} long",
                    )
                    self._tombstone_setdf_n = len(t)
                df = df.join(
                    F.broadcast(self._tombstone_setdf), DOCID, "left_anti"
                )
        if self._tombstone_df is not None:
            df = df.join(self._tombstone_df, DOCID, "left_anti")
        return df

    def delete(self, ids: Sequence[Any]) -> int:
        """Tombstone documents by EXTERNAL id (``custom_id_field``,
        default ``id``). Returns how many documents were newly deleted
        (already-deleted and unknown ids are ignored). One bounded job:
        the id list is driver-provided, so the docid resolution is an
        isin-pruned point lookup."""
        id_field = self.configuration.get("custom_id_field", "id")
        if id_field not in self.index.docs.columns:
            raise EngineError(f"delete needs an {id_field!r} column")
        keys = [k for k in (js_key(v) for v in ids) if k is not None]
        if not keys:
            return 0
        rows = (
            self._live(self.index.docs)
            .select(DOCID, F.col(id_field).cast("string").alias("k"))
            .filter(F.col("k").isin(keys))
            .collect()
        )
        return self.delete_docids([r[DOCID] for r in rows])

    def delete_docids(self, docids: Sequence[int]) -> int:
        """Tombstone documents by internal ``_docid``. Returns the count
        of newly deleted docids."""
        new = {int(d) for d in docids} - self._tombstone_docids
        self._tombstone_docids |= new
        return len(new)

    def delete_where(self, predicate) -> None:
        """Bulk tombstone: delete every live document matching
        ``predicate`` (a Column, or a SQL string passed to
        ``F.expr``). Small match sets (≤ TOMBSTONE_DRIVER_MAX) collect
        to the driver set; larger ones stay a persisted docid DataFrame
        and every live filter becomes an anti-join — the 100 TB path
        never materializes the tombstones on the driver."""
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        self._absorb_tombstones(
            self._live(self.index.docs).filter(pred).select(DOCID)
        )

    def _absorb_tombstones(self, matched: DataFrame) -> None:
        """Tombstone a (_docid) DataFrame: one bounded probe decides
        whether it fits the driver set; larger sets stay distributed."""
        probe = matched.limit(self.TOMBSTONE_DRIVER_MAX + 1).collect()
        if len(probe) <= self.TOMBSTONE_DRIVER_MAX:
            self.delete_docids([r[0] for r in probe])
            return
        tomb = matched.persist()
        tomb.count()
        if self._tombstone_df is not None:
            old = self._tombstone_df
            tomb = old.unionByName(tomb).distinct().persist()
            tomb.count()
            old.unpersist()
        self._tombstone_df = tomb

    def upsert(
        self, new_df: DataFrame, order_by: Optional[Sequence[str]] = None
    ) -> "SearchEngine":
        """Replace-or-insert by EXTERNAL id (``custom_id_field``): the
        new rows snapshot-append with fresh docids (delta-only tokenize,
        see append_index) and every existing live document sharing an id
        with the delta is tombstoned — the Lucene updateDocument flow
        (delete + add), never a rebuild. Stale-artifact semantics as
        with delete: superseded versions stop matching immediately but
        keep contributing to df/idf until ``purge_deleted``. Ids within
        ``new_df`` should be unique (every delta row is inserted).

        The old-version lookup is a semi-join of the corpus against the
        delta's ids — distributed, AQE broadcasts the delta side when it
        fits; nothing driver-sized is assumed about the delta."""
        id_field = self.configuration.get("custom_id_field", "id")
        if id_field not in self.index.docs.columns:
            raise EngineError(f"upsert needs an {id_field!r} column")
        if id_field not in new_df.columns:
            raise EngineError(f"upsert delta lacks {id_field!r}")
        eng = self.append(new_df, order_by=list(order_by or [id_field]))
        old = (
            self._live(self.index.docs)
            .withColumn("__k", F.col(id_field).cast("string"))
            .join(
                new_df.select(
                    F.col(id_field).cast("string").alias("__k")
                ).distinct(),
                "__k",
                "left_semi",
            )
            .select(DOCID)
        )
        eng._absorb_tombstones(old)
        return eng

    def save_tombstones(self, path: str) -> None:
        """Make the current tombstones DURABLE next to a persisted index
        (the Lucene live-docs file analog): the full deleted-docid set —
        driver set ∪ any bulk DataFrame — is written as one parquet
        table and swapped in (write to ``tombstones.new``, delete the
        old dir, rename). ``Index.read`` adopts it, so a reopened engine
        starts with the deletes applied and NO index artifact needed
        rewriting. Crash windows leave either the old ``tombstones`` or
        the completed ``.new`` (Index.read checks both). With nothing
        deleted, any stored live-docs table is removed."""
        import os as _os

        from .checkpoint import _HadoopFS

        fs = _HadoopFS(self.spark, path)
        final = _os.path.join(path, "tombstones")
        tmp = final + ".new"
        if not self._tombstones_active():
            fs.delete(final)
            fs.delete(tmp)
            return
        tomb = local_relation(
            self.spark,
            [(int(d),) for d in sorted(self._tombstone_docids)],
            f"{DOCID} long",
        )
        if self._tombstone_df is not None:
            tomb = tomb.unionByName(
                self._tombstone_df.select(DOCID)
            ).distinct()
        tomb.write.mode("overwrite").parquet(tmp)
        fs.rename(tmp, final)  # deletes the old dir, then moves

    def deleted_count(self) -> int:
        """Number of tombstoned documents (one count job only when a
        DataFrame tombstone set exists)."""
        n = len(self._tombstone_docids)
        if self._tombstone_df is not None:
            n += self._tombstone_df.count()
        return n

    def purge_deleted(self) -> "SearchEngine":
        """Physically drop tombstoned documents — the Lucene merge
        analog, WITHOUT re-tokenizing anything: postings filter by the
        live set (per-doc tf is unchanged by other docs' deletion), the
        terms table recounts df over the surviving postings with idf
        recomputed for the live corpus size, and the facet dimension
        rebuilds from the live docs' already-derived facet-key columns
        (one corpus pass, no text analysis). Docids stay STABLE,
        external ids unchanged; the result is row-identical to a full
        rebuild over the live corpus. A block-backed store is decoded
        once (the compaction cost); write_blocks re-encodes the purged
        postings. Returns a new engine with no tombstones."""
        import dataclasses

        from .indexer import _facet_dim_counts, _rank_facet_dim

        idx = self.index
        live = self._live(idx.docs)
        live = live.persist()
        n_live = live.count()

        postings = idx.postings
        if postings is None and idx.posting_blocks is not None:
            from .blocks import postings_from_blocks

            postings = postings_from_blocks(idx.posting_blocks)
        new_postings = new_terms = None
        if postings is not None:
            new_postings = self._live(postings)
            new_terms = (
                new_postings.groupBy("term")
                .agg(F.count("*").alias("df"))
                .withColumn(
                    "idf",
                    F.lit(1.0)
                    + F.log(
                        F.lit(float(n_live)) / F.col("df").cast("double")
                    ),
                )
            )

        if idx.facet_fields:
            fv = _facet_dim_counts(live, idx.facet_fields)
            facet_values = _rank_facet_dim(fv).persist()
        else:
            facet_values = idx.facet_values

        positional = None
        if idx.positional is not None:
            positional = self._live(idx.positional)

        new_index = dataclasses.replace(
            idx,
            docs=live,
            facet_values=facet_values,
            postings=new_postings,
            terms=new_terms,
            n_docs=n_live,
            posting_blocks=None,
            facet_posting_blocks=None,
            positional=positional,
            tombstones=None,
            # docids unchanged: a sparse space stays sparse
            docid_ceiling=idx.docid_ceiling,
        )
        return SearchEngine(new_index)

    def _facet_dim_cache(self) -> Optional[Dict[str, List[Tuple[str, int]]]]:
        """field -> [(key, enum_rank)] in enum order, or None if too big."""
        if self._facet_dim_checked:
            return self._facet_dim
        self._facet_dim_checked = True
        n = self.index.facet_values.limit(self.MAX_DRIVER_FACET_DIM + 1).count()
        if n > self.MAX_DRIVER_FACET_DIM:
            self._facet_dim = None
            return None
        rows = self.index.facet_values.collect()
        dim: Dict[str, List[Tuple[str, int]]] = {
            f: [] for f in self.index.facet_fields
        }
        glob: Dict[str, Dict[str, int]] = {f: {} for f in self.index.facet_fields}
        for r in rows:
            dim[r["field"]].append((r["key"], r["enum_rank"]))
            glob[r["field"]][r["key"]] = int(r["doc_count"])
        for f in dim:
            dim[f].sort(key=lambda kr: kr[1])
        self._facet_dim = dim
        self._facet_global = glob
        return dim

    # ------------------------------------------------------------------
    # facet-value existence probing (tiny per-query lookup job)
    # ------------------------------------------------------------------
    def _collect_probe_pairs(self, input: Dict[str, Any]) -> set:
        pairs = set()
        for fld, values in (input.get("filters") or {}).items():
            for v in values or []:
                k = js_key(v)
                if k is not None:
                    pairs.add((fld, k))
        for fld, values in (input.get("not_filters") or {}).items():
            for v in values or []:
                k = js_key(v)
                if k is not None:
                    pairs.add((fld, k))
        if input.get("filters_query"):
            for path in facetir.parse_boolean_query(input["filters_query"]):
                for term in path:
                    if len(term) >= 2:
                        k = js_key(term[1])
                        if k is not None:
                            pairs.add((term[0], k))
        return pairs

    def _exists_fn(self, input: Dict[str, Any]) -> Callable[[str, str], bool]:
        dim = self._facet_dim_cache()
        if dim is not None:
            sets = {f: {k for k, _ in pairs} for f, pairs in dim.items()}
            return lambda f, k: k in sets.get(f, ())
        pairs = self._collect_probe_pairs(input)
        if not pairs:
            return lambda f, k: False
        tagged = [f + "\x00" + k for f, k in pairs]
        found = set(
            r[0]
            for r in self.index.facet_values.select(
                F.concat_ws("\x00", "field", "key").alias("fk")
            )
            .filter(F.col("fk").isin(tagged))
            .distinct()
            .collect()
        )
        return lambda f, k: (f + "\x00" + k) in found

    # ------------------------------------------------------------------
    # full-text
    # ------------------------------------------------------------------
    # dictionary rows above this are not pinned on the driver (strings
    # alone would be ~100 MB); expansion then falls back to the per-query
    # dictionary-scan job
    MAX_DRIVER_TERM_DICT = 1_000_000

    def _term_dictionary(
        self,
    ) -> Optional[Tuple[List[str], List[float], Optional[List[int]]]]:
        """(sorted term list, aligned idf list, aligned df list or None
        when the terms table has no df), collected ONCE and cached on
        the driver — or None for vocabularies over
        ``MAX_DRIVER_TERM_DICT``. This is the reference's own structure
        (its index is a driver-resident trie, src/fulltext.ts); holding
        the ≤~50 MB dictionary removes one Spark job from EVERY query's
        analysis path — the dominant fixed cost of short queries. Over
        the cap (10^12-turn vocabularies) every path still works via
        the dictionary-scan job / distributed expansion."""
        if self._term_dict_checked:
            return self._term_dict_data
        self._term_dict_checked = True
        idx = self.index
        if idx.terms is None:
            return None
        self._ensure_fulltext_materialized()
        # ONE bounded job: collect cap+1 rows via Arrow and decide
        # over/under from the row count (a separate limit().count() probe
        # would scan the terms table twice).
        has_df = "df" in idx.terms.columns
        pdf = (
            idx.terms.select("term", "idf", *(["df"] if has_df else []))
            .limit(self.MAX_DRIVER_TERM_DICT + 1)
            .toPandas()
        )
        if len(pdf) > self.MAX_DRIVER_TERM_DICT:
            return None
        pdf = pdf.sort_values("term", kind="mergesort")  # Python ordering
        self._term_dict_data = (
            pdf["term"].tolist(),
            pdf["idf"].tolist(),
            pdf["df"].tolist() if has_df else None,
        )
        return self._term_dict_data

    def _postings_estimate(self, terms: Iterable[str]) -> Optional[int]:
        """Summed df of ``terms`` from the cached dictionary — the
        posting count a decode of their blocks yields, sizing it
        (blocks.postings_from_blocks). None when the dictionary is not
        held or lacks df; never runs a job."""
        if not self._term_dict_checked or self._term_dict_data is None:
            return None
        import bisect

        keys, _, dfs = self._term_dict_data
        if dfs is None:
            return None
        est = 0
        for t in terms:
            i = bisect.bisect_left(keys, t)
            if i < len(keys) and keys[i] == t:
                est += int(dfs[i])
        return est

    def _expand_tokens_driver(
        self, distinct_tokens: Sequence[str]
    ) -> Optional[Tuple[Dict[str, float], Dict[str, List[str]]]]:
        """Prefix-expand via the cached dictionary: (idf_map, token →
        sorted expanded terms). None when the dictionary is too big to
        pin (caller falls back to the scan job); _ExpansionTooLarge
        beyond MAX_DRIVER_EXPANSION distinct terms — identical overflow
        semantics to the scan path."""
        d = self._term_dictionary()
        if d is None:
            return None
        import bisect

        terms, idfs, _ = d
        idf_map: Dict[str, float] = {}
        by_token: Dict[str, List[str]] = {}
        cap = self.MAX_DRIVER_EXPANSION
        for tok in distinct_tokens:
            lo = bisect.bisect_left(terms, tok)
            # exact prefix range: walk to the first non-prefix term (a
            # sentinel like tok+MAXCHAR can exclude terms that CONTAIN
            # the max codepoint right after the prefix — scan-path
            # startswith semantics must hold bit-for-bit). The walk is
            # bounded by the expansion cap, which also bounds its cost.
            hi = lo
            n = len(terms)
            while hi < n and terms[hi].startswith(tok):
                hi += 1
                if hi - lo > cap:
                    raise _ExpansionTooLarge(" ".join(distinct_tokens))
            by_token[tok] = terms[lo:hi]
            for i in range(lo, hi):
                idf_map[terms[i]] = idfs[i]
            if len(idf_map) > cap:
                raise _ExpansionTooLarge(" ".join(distinct_tokens))
        return idf_map, by_token

    def _query_vector(
        self,
        query: str,
        fuzzy: bool = False,
        synonyms: Optional[Dict[str, Sequence[str]]] = None,
        require_all_tokens: bool = True,
    ) -> Optional[Tuple[scoring.QueryVector, Dict[str, float]]]:
        """Analyze a query against the terms dictionary: tokenize →
        pipeline → prefix-expand → lunr query vector. Driver-side and
        tiny (|expanded terms| rows); shared by the exact scorer and the
        block-max WAND path. Returns None when the query can't match.
        ``fuzzy`` rewrites dictionary-missing tokens to their nearest
        term first (`_fuzzy_rewrite`); ``synonyms`` then rewrites
        configured tokens to their expansion lists
        (`_synonym_rewrite`). ``require_all_tokens=False`` (the
        min_should_match OR path) keeps the vector even when some
        tokens have no prefix expansion — those tokens simply can
        never match, which the popcount admission accounts for."""
        idx = self.index
        if idx.terms is None:
            return None
        self._ensure_fulltext_materialized()
        tokens = self.pipeline(tokenize(query))
        if not tokens:
            return None
        if fuzzy:
            tokens = self._fuzzy_rewrite(tokens)
        if synonyms:
            tokens = self._synonym_rewrite(tokens, synonyms)
            if not tokens:
                return None

        distinct_tokens = sorted(set(tokens))
        exp = self._expand_tokens_driver(distinct_tokens)
        if exp is not None:
            idf_map, by_token = exp
        else:
            cond = None
            for tok in distinct_tokens:
                c = F.col("term").startswith(tok)
                cond = c if cond is None else (cond | c)
            expanded = (
                idx.terms.filter(cond)
                .select("term", "idf")
                .limit(self.MAX_DRIVER_EXPANSION + 1)
                .collect()
            )
            if len(expanded) > self.MAX_DRIVER_EXPANSION:
                raise _ExpansionTooLarge(query)
            term_rows = sorted(expanded, key=lambda r: r["term"])
            by_token = {
                tok: [r["term"] for r in term_rows if r["term"].startswith(tok)]
                for tok in distinct_tokens
            }
            idf_map = {r["term"]: r["idf"] for r in term_rows}

        qv = scoring.build_query_vector(
            tokens,
            n_fields=len(idx.text_fields),
            boosts_sum=sum(b for _, b in idx.text_fields),
            expand=lambda tok: by_token[tok],
            idf_of=lambda t: idf_map[t],
        )
        if not qv.has_some_token:
            return None
        if require_all_tokens and not qv.all_tokens_expandable:
            # a token with no trie path empties the conjunctive intersection
            return None
        if not qv.weights:
            # OR path with zero expandable tokens: nothing can match
            return None
        return qv, idf_map

    def fulltext_topk(
        self,
        query: str,
        k: int,
        blocks: Optional[DataFrame] = None,
        batch_ranges: int = 64,
        _analyzed=None,
    ) -> DataFrame:
        """Block-max WAND top-k over a compressed posting-block table
        (blocks.py layout; defaults to the index's own block store).
        Scale path: prunes docid ranges by metadata upper bounds; scores
        are bit-identical to ``fulltext_hits``."""
        from .wand import wand_topk

        if blocks is None:
            blocks = self.index.posting_blocks
        if blocks is None:
            raise ValueError(
                "fulltext_topk needs a posting-block table: pass one or "
                "open the index via Index.read over a write_blocks store"
            )
        try:
            analyzed = _analyzed if _analyzed is not None else self._query_vector(query)
        except _ExpansionTooLarge:
            raise EngineError(
                "prefix expansion exceeds driver capacity; WAND needs the "
                "driver-side query vector — use fulltext_hits, whose "
                "distributed-expansion path handles this query"
            )
        empty = local_relation(self.spark, [], f"{DOCID} long, {SCORE} double")
        if analyzed is None:
            return empty
        qv, idf_map = analyzed
        term_weights = {t: qv.weights[t] * idf_map[t] for t in qv.weights}
        term_masks = {
            t: sum(1 << i for i in qv.term_tokens[t]) for t in qv.weights
        }
        full_mask = (1 << qv.n_tokens) - 1
        k_eff = self._wand_k_with_tombstones(k)
        out = wand_topk(
            self.spark,
            blocks,
            term_weights,
            term_masks,
            full_mask,
            qv.magnitude,
            k_eff,
            batch_ranges=batch_ranges,
        ).withColumnRenamed("_docid", DOCID).withColumnRenamed("__score", SCORE)
        if k_eff != k:
            # removing tombstoned hits only promotes lower ranks, so the
            # live top-k is exactly the filtered over-fetched top-k_eff
            out = (
                self._live(out)
                .orderBy(
                    F.col(SCORE).desc(), F.col(DOCID).cast("string").asc()
                )
                .limit(k)
            )
        return out

    def fulltext_topk_filtered(
        self,
        query: str,
        k: int,
        filters: Optional[Dict[str, Sequence[Any]]] = None,
        blocks: Optional[DataFrame] = None,
        facet_blocks: Optional[DataFrame] = None,
        batch_ranges: int = 64,
        filter_groups: Optional[List[List[str]]] = None,
        _analyzed=None,
    ) -> DataFrame:
        """Filtered block-max WAND: top-k among docs matching the query
        AND a facet selection — the filter intersection happens INSIDE
        each range's scoring group (facet-posting blocks co-locate with
        the query's posting blocks by docid range), so selective filters
        never materialize an unfiltered candidate set.

        The filter is either ``filters`` (field → values; OR within a
        field, AND across fields) or ``filter_groups`` (CNF over
        ``field␟key`` facet terms — OR within a group, AND across; the
        shape search() compiles conjunctive/disjunctive filters to).

        ``facet_blocks`` must be built with the same range_size as
        ``blocks`` (facetblocks.build_facet_blocks; defaults to the
        index's own store)."""
        from .wand import wand_topk

        if blocks is None:
            blocks = self.index.posting_blocks
        if facet_blocks is None:
            facet_blocks = self.index.facet_posting_blocks
        if blocks is None or facet_blocks is None:
            raise ValueError(
                "fulltext_topk_filtered needs posting AND facet block tables"
            )
        try:
            analyzed = _analyzed if _analyzed is not None else self._query_vector(query)
        except _ExpansionTooLarge:
            raise EngineError(
                "prefix expansion exceeds driver capacity; use fulltext_hits"
            )
        empty = local_relation(self.spark, [], f"{DOCID} long, {SCORE} double")
        if analyzed is None:
            return empty
        qv, idf_map = analyzed
        term_weights = {t: qv.weights[t] * idf_map[t] for t in qv.weights}
        term_masks = {
            t: sum(1 << i for i in qv.term_tokens[t]) for t in qv.weights
        }
        filter_fields = None
        if filter_groups is None:
            filter_fields = {
                fld: [x for x in (js_key(v) for v in vals or []) if x is not None]
                for fld, vals in (filters or {}).items()
            }
        k_eff = self._wand_k_with_tombstones(k)
        out = wand_topk(
            self.spark,
            blocks,
            term_weights,
            term_masks,
            (1 << qv.n_tokens) - 1,
            qv.magnitude,
            k_eff,
            batch_ranges=batch_ranges,
            filter_blocks=facet_blocks,
            filter_fields=filter_fields,
            filter_groups=filter_groups,
        ).withColumnRenamed("_docid", DOCID).withColumnRenamed("__score", SCORE)
        if k_eff != k:
            out = (
                self._live(out)
                .orderBy(
                    F.col(SCORE).desc(), F.col(DOCID).cast("string").asc()
                )
                .limit(k)
            )
        return out

    def fulltext_hits_batch(self, queries: Sequence[str]) -> DataFrame:
        """Score MANY queries in ONE Spark job: (qid, _docid, __score).

        The scalable shape for offline workloads (eval sets, reranker
        training, alert backfills): per-query driver latency is paid
        once — a single terms-dictionary scan analyzes every query, one
        broadcast join + one exchange scores them all. Scores are
        identical to ``fulltext_hits`` (same weights, same sorted-term
        reduction order)."""
        idx = self.index
        empty = local_relation(
            self.spark, [], f"qid long, {DOCID} long, {SCORE} double"
        )
        if idx.terms is None or not queries:
            return empty
        self._ensure_fulltext_materialized()

        analyzed = []
        all_tokens = set()
        for qid, q in enumerate(queries):
            tokens = self.pipeline(tokenize(q))
            analyzed.append((qid, tokens))
            all_tokens.update(tokens)
        if not all_tokens:
            return empty

        # ONE expansion for every query: the cached driver dictionary
        # when it fits (zero Spark jobs), else one dictionary-scan job
        try:
            exp = self._expand_tokens_driver(sorted(all_tokens))
        except _ExpansionTooLarge:
            raise EngineError(
                "combined prefix expansion exceeds driver capacity; run the "
                "oversized queries individually through fulltext_hits"
            )
        if exp is not None:
            idf_map, by_token = exp
        else:
            cond = None
            for tok in sorted(all_tokens):
                c = F.col("term").startswith(tok)
                cond = c if cond is None else (cond | c)
            rows_raw = (
                idx.terms.filter(cond)
                .select("term", "idf")
                .limit(self.MAX_DRIVER_EXPANSION + 1)
                .collect()
            )
            if len(rows_raw) > self.MAX_DRIVER_EXPANSION:
                raise EngineError(
                    "combined prefix expansion exceeds driver capacity; run "
                    "the oversized queries individually through fulltext_hits"
                )
            term_rows = sorted(rows_raw, key=lambda r: r["term"])
            idf_map = {r["term"]: r["idf"] for r in term_rows}
            by_token = {
                tok: [r["term"] for r in term_rows if r["term"].startswith(tok)]
                for tok in all_tokens
            }

        rows = []
        for qid, tokens in analyzed:
            if not tokens:
                continue
            qv = scoring.build_query_vector(
                tokens,
                n_fields=len(idx.text_fields),
                boosts_sum=sum(b for _, b in idx.text_fields),
                expand=lambda tok: by_token[tok],
                idf_of=lambda t: idf_map[t],
            )
            if not qv.has_some_token or not qv.all_tokens_expandable:
                continue
            fmask = (1 << qv.n_tokens) - 1
            for term, w in qv.weights.items():
                rows.append(
                    (
                        qid,
                        term,
                        float(w * idf_map[term]),
                        sum(1 << i for i in qv.term_tokens[term]),
                        float(qv.magnitude),
                        fmask,
                    )
                )
        if not rows:
            return empty
        all_terms = sorted({r[1] for r in rows})

        # per-qid constants (mag, fmask) stay out of the aggregation when
        # the batch is small enough for driver-side literal maps (applied
        # after it); huge batches carry them through first()
        by_qid: Dict[int, List[tuple]] = {}
        for r in rows:
            by_qid.setdefault(r[0], []).append(r)
        width = max(len(qrows) for qrows in by_qid.values())
        qdf = local_relation(
            self.spark,
            rows,
            "qid long, term string, w double, mask long, mag double, fmask long",
        )
        joined = idx.postings_subset(all_terms).join(F.broadcast(qdf), "term")
        keys = ["qid", DOCID]
        mask = F.bit_or("mask").alias("mask")
        if len(by_qid) <= 2048:
            per, dot = self._dot_fold(joined, keys, width, mask)
            mags = {q: qrows[0][4] for q, qrows in by_qid.items()}
            fmasks = {q: qrows[0][5] for q, qrows in by_qid.items()}
            qmag = F.create_map(
                *[x for q, m in mags.items() for x in (F.lit(q), F.lit(m))]
            )[F.col("qid")]
            qfmask = F.create_map(
                *[x for q, m in fmasks.items() for x in (F.lit(q), F.lit(m))]
            )[F.col("qid")]
        else:
            per, dot = self._dot_fold(
                joined,
                keys,
                width,
                mask,
                F.first("mag").alias("mag"),
                F.first("fmask").alias("fmask"),
            )
            qmag, qfmask = F.col("mag"), F.col("fmask")
        return self._live(
            per.filter(F.col("mask") == qfmask)
            .withColumn(SCORE, dot / qmag)
            .select("qid", DOCID, SCORE)
        )

    def fulltext_hits(
        self,
        query: str,
        fuzzy: bool = False,
        synonyms: Optional[Dict[str, Sequence[str]]] = None,
        min_should_match: Optional[int] = None,
    ) -> DataFrame:
        """DataFrame (_docid, __score) of lunr-ranked hits; ordering is a
        property of the consumer (ORDER BY __score DESC, str(_docid) ASC).
        ``fuzzy`` corrects dictionary-missing tokens before scoring
        (driver-vector path only: an expansion too large for the driver
        means every token already matches plenty, so the distributed
        fallback has nothing to correct). ``synonyms`` rewrites
        configured tokens to their expansion lists before scoring
        (`_synonym_rewrite`); both rewrites are driver-side token-list
        transforms, so every downstream plan (expansion, scoring,
        co-partitioned aggregate) is unchanged.

        ``min_should_match`` (extension beyond the reference — the
        reference's multi-token queries are strictly conjunctive,
        SURVEY.md §2.4) switches admission to OR-mode: a doc qualifies
        when it matches at least ``m`` of the query's token positions
        (clamped to [1, n_tokens]; m == n_tokens ≡ conjunctive). Scores
        are the identical lunr dot product over the matched terms only —
        the admission mask is already aggregated per doc, so the switch
        is one popcount predicate on the same plan (no extra shuffle)."""
        idx = self.index
        empty = local_relation(self.spark, [], f"{DOCID} long, {SCORE} double")
        try:
            analyzed = self._query_vector(
                query,
                fuzzy=fuzzy,
                synonyms=synonyms,
                require_all_tokens=min_should_match is None,
            )
        except _ExpansionTooLarge:
            if synonyms:
                # the distributed fallback re-analyzes from raw text and
                # would silently drop the rewrite — refuse instead
                raise EngineError(
                    "synonym rewrite requires the driver expansion path; "
                    "this query's prefix expansion exceeds driver capacity"
                )
            return self._live(
                self._fulltext_hits_distributed_expansion(
                    query, min_should_match=min_should_match
                )
            )
        if analyzed is None:
            return empty
        qv, idf_map = analyzed
        per_doc, score = self._scored_per_doc(qv, idf_map)
        full_mask = (1 << qv.n_tokens) - 1
        keep = self._admission_pred(full_mask, qv.n_tokens, min_should_match)
        return self._live(
            per_doc.filter(keep).withColumn(SCORE, score).select(DOCID, SCORE)
        )

    def _scored_per_doc(
        self, qv: "scoring.QueryVector", idf_map: Dict[str, float]
    ) -> Tuple[DataFrame, Column]:
        """The shared lunr scoring plan: per-doc aggregated token mask +
        the deterministic score column, BEFORE any admission predicate —
        ``fulltext_hits`` applies conjunctive/popcount admission,
        ``query_string_hits`` a per-class (+must/should) mask predicate.
        One co-partitioned aggregate either way; see ``fulltext_hits``
        for the plan rationale."""
        idx = self.index
        rows = [
            (term, float(qv.weights[term] * idf_map[term]),
             sum(1 << i for i in qv.term_tokens[term]))
            for term in qv.weights
        ]

        # term subset BEFORE weighting: against a persisted term-sorted
        # postings table this pushes an In(term, ...) filter into the
        # parquet scan (row-group min/max pruning); on a block-backed
        # index only the matching compressed blocks are decoded; on the
        # cached path it just narrows the join input
        subset = idx.postings_subset(
            list(qv.weights), est=self._postings_estimate(qv.weights)
        )
        if len(rows) <= self.MAX_MAP_LITERAL_TERMS:
            # small expansions (the common case): weights/masks as MAP
            # literals — a pure projection, no BroadcastExchange job per
            # query (measured ~0.3 s/query at 1M postings in local mode)
            wmap = F.create_map(
                *[x for t, w, _m in rows for x in (F.lit(t), F.lit(w))]
            )
            mmap = F.create_map(
                *[x for t, _w, m in rows for x in (F.lit(t), F.lit(m))]
            )
            joined = subset.withColumn("w", wmap[F.col("term")]).withColumn(
                "mask", mmap[F.col("term")]
            )
        else:
            expanded_df = local_relation(
                self.spark, rows, "term string, w double, mask long"
            )
            joined = subset.join(F.broadcast(expanded_df), "term")
        per_doc, dot = self._dot_fold(
            joined, [DOCID], len(rows), F.bit_or("mask").alias("mask")
        )
        return per_doc, dot / F.lit(qv.magnitude)

    def _dot_fold(
        self,
        joined: DataFrame,
        keys: Sequence[str],
        n_terms: int,
        *aggs: Column,
    ) -> Tuple[DataFrame, Column]:
        """Group weighted postings (``term``, ``w``, ``tf``, ...) by
        ``keys`` next to ``aggs``; returns the grouped rows and the
        column Σ w·tf over each group's ``n_terms`` (at most) query
        terms. Scores must equal the oracle bit for bit, so the sum runs
        in sorted-term order: the wide fold sorts each group's (term,
        contribution) structs before adding them up. Up to
        ``WIDE_SUM_MAX_TERMS`` terms a plain SUM is the same value with
        no per-doc struct array in the shuffle: a group then has at most
        two addends, each >= +0.0 (lunr idf >= 1), and IEEE-754 addition
        of two values is commutative."""
        c = F.col("w") * F.col("tf")
        if n_terms <= self.WIDE_SUM_MAX_TERMS:
            per = joined.groupBy(*keys).agg(*aggs, F.sum(c).alias("_dot"))
            return per, F.col("_dot")
        per = joined.groupBy(*keys).agg(
            *aggs,
            F.sort_array(
                F.collect_list(F.struct(F.col("term"), c.alias("c")))
            ).alias("contribs"),
        )
        return per, F.aggregate(
            "contribs", F.lit(0.0), lambda acc, x: acc + x["c"]
        )

    @staticmethod
    def _admission_pred(
        full_mask: int, n_tokens: int, min_should_match: Optional[int]
    ) -> Column:
        """Doc-admission predicate over the aggregated token mask:
        conjunctive equality by default, popcount ≥ m in OR-mode."""
        if min_should_match is None:
            return F.col("mask") == full_mask
        m = max(1, min(int(min_should_match), n_tokens))
        return F.bit_count("mask") >= m

    def _prefix_match_docids(self, toks: Sequence[str]) -> DataFrame:
        """Distinct docids whose postings contain ANY term completing
        one of ``toks`` — the MUST_NOT exclusion set. Pure index-side:
        a StartsWith disjunction on the term column (pushed into the
        term-sorted parquet scan / block store exactly like the prefix
        query path), then one distinct. Never driver-bounded — the
        excluded set may be huge and stays distributed."""
        idx = self.index
        cond = None
        for t in toks:
            c = F.col("term").startswith(t)
            cond = c if cond is None else (cond | c)
        if idx.postings is not None:
            return idx.postings.filter(cond).select(DOCID).distinct()
        if idx.posting_blocks is None:
            raise ValueError("index has no fulltext postings")
        from .blocks import postings_from_blocks

        return (
            postings_from_blocks(idx.posting_blocks.filter(cond))
            .select(DOCID)
            .distinct()
        )

    def query_string_hits(
        self, query: str, default_operator: str = "or"
    ) -> DataFrame:
        """Lucene-style ``query_string`` execution (extension; syntax and
        scope on ``parse_query_string``): (_docid, __score) where

        * admission = every MUST token position matched AND (when any
          SHOULD clauses exist) at least one SHOULD position matched AND
          no MUST_NOT token matches AND every quoted phrase matches
          adjacently AND the facet clauses hold;
        * score = the IDENTICAL lunr dot product over the matched
          must/should/phrase terms (prohibited clauses and facet
          filters never touch the score — Lucene filter-context
          semantics).

        Physical plan: ONE scoring aggregate (the shared
        ``_scored_per_doc`` plan — the admission is a bitmask predicate
        on the already-aggregated token mask, exactly like
        min_should_match), plus per-constraint semi/anti joins that are
        each index-pruned: MUST_NOT is a StartsWith-pushed postings
        distinct, phrases ride ``phrase_hits`` (rarest-term-bounded or
        positional), facet clauses are one predicate scan of the docs
        table. Nothing corpus-quadratic, nothing driver-side."""
        idx = self.index
        spec = parse_query_string(
            query, facet_fields=idx.facet_fields,
            default_operator=default_operator,
        )
        empty = local_relation(self.spark, [], f"{DOCID} long, {SCORE} double")
        if not spec.units:
            raise EngineError(
                "query_string needs at least one scoring term; filter-only "
                "inputs go through search({filters}/{not_filters})"
            )
        klasses: List[str] = []
        for w, kl in spec.units:
            klasses.extend(kl for _ in self.pipeline(tokenize(w)))
        if not klasses:
            return empty
        scoring_text = " ".join(w for w, _ in spec.units)
        try:
            analyzed = self._query_vector(
                scoring_text, require_all_tokens=False
            )
        except _ExpansionTooLarge:
            raise EngineError(
                "query_string requires the driver expansion path; this "
                "query's prefix expansion exceeds driver capacity"
            )
        if analyzed is None:
            return empty
        qv, idf_map = analyzed
        if qv.n_tokens != len(klasses):  # pragma: no cover - invariant
            raise EngineError("query_string token/class misalignment")
        must_mask = sum(1 << i for i, k in enumerate(klasses) if k == "m")
        should_mask = sum(1 << i for i, k in enumerate(klasses) if k == "s")
        covered = 0
        for t in qv.weights:
            covered |= sum(1 << i for i in qv.term_tokens[t])
        if must_mask & ~covered:
            # a MUST token with no dictionary completion can never match
            return empty
        per_doc, score = self._scored_per_doc(qv, idf_map)
        keep = (
            F.col("mask").bitwiseAND(F.lit(must_mask)) == F.lit(must_mask)
        )
        if should_mask:
            keep = keep & (
                F.col("mask").bitwiseAND(F.lit(should_mask)) != F.lit(0)
            )
        hits = per_doc.filter(keep).withColumn(SCORE, score).select(
            DOCID, SCORE
        )
        not_toks = sorted(
            {t for w in spec.not_words for t in self.pipeline(tokenize(w))}
        )
        if not_toks:
            hits = hits.join(
                self._prefix_match_docids(not_toks), DOCID, "left_anti"
            )
        for p in spec.must_phrases:
            hits = hits.join(
                self.phrase_hits(p).select(DOCID), DOCID, "left_semi"
            )
        for p in spec.not_phrases:
            hits = hits.join(
                self.phrase_hits(p).select(DOCID), DOCID, "left_anti"
            )
        if spec.filters or spec.not_filters:
            compiled = self.compile(
                {"filters": spec.filters, "not_filters": spec.not_filters},
                has_query=False,
            )
            allowed = (
                self._live(idx.docs)
                .filter(ir_to_column(compiled.final_pred, False))
                .select(DOCID)
            )
            hits = hits.join(allowed, DOCID, "left_semi")
        return self._live(hits)

    def _phrase_field(self, field: Optional[str]) -> Optional[str]:
        """Resolve the text field a phrase query runs over (first
        registered searchable field by default, as documented on
        ``phrase_hits``); None when the index has no text field."""
        idx = self.index
        if field is None:
            present = [f for f, _ in idx.text_fields if f in idx.docs.columns]
            return present[0] if present else None
        if field not in idx.docs.columns:
            raise EngineError(f"unknown phrase field {field!r}")
        return field

    def enable_positions(self, field: Optional[str] = None) -> DataFrame:
        """Build (once) and pin the positional posting cache for
        ``field`` — the opt-in scale path for phrase-HEAVY workloads.
        The default plan re-analyzes candidate docs' text per phrase
        query (cost ∝ candidate text bytes, right when phrases are
        rare); with positions built, phrase cost is ∝ the phrase
        terms' posting sizes and never touches the corpus. The cache is
        hash-partitioned by ``_docid`` like the scoring postings, so
        the phrase aggregate runs exchange-free; in a deployment this
        is a persisted parquet table partitioned the same way."""
        field = self._phrase_field(field)
        if field is None:
            raise EngineError("index has no text field for positions")
        cached = self._positions.get(field)
        if cached is not None:
            return cached
        idx = self.index
        n_part = max(self.spark.sparkContext.defaultParallelism, 1)
        if idx.positional is not None and field in idx.positional_fields:
            # a persisted index already carries the artifact: pin the
            # field's slice instead of re-tokenizing the corpus
            pos = idx.positional.filter(F.col("field") == field).drop("field")
        else:
            from .indexer import tokenize_position_postings

            pos = tokenize_position_postings(idx.docs, field, self.configuration)
        pos = pos.repartition(n_part, F.col(DOCID)).persist()
        pos.count()
        if field not in idx.positional_fields:
            # attach the MATERIALIZED frame to the index so Index.write
            # persists positions without re-running the tokenizer
            tagged = pos.select(
                F.lit(field).alias("field"), "term", DOCID, "positions"
            )
            idx.positional = (
                tagged
                if idx.positional is None
                else idx.positional.unionByName(tagged)
            )
            idx.positional_fields = [*idx.positional_fields, field]
        self._positions[field] = pos
        return pos

    def release_positions(self) -> None:
        """Unpersist every positional cache built by enable_positions."""
        for df in self._positions.values():
            df.unpersist()
        self._positions.clear()

    def enable_trigrams(self, field: Optional[str] = None) -> DataFrame:
        """Build (once) and pin the char-trigram posting cache for
        ``field`` — the pg_trgm-style substring index: one DISTINCT
        (gram, _docid) row per 3-char window of the LOWERCASED raw
        field text. Entirely JVM expressions (sequence/transform/
        array_distinct/explode — no Python in the build), one map +
        one distinct, hash-partitioned by ``_docid`` like the scoring
        postings so the query-time conjunction aggregate runs
        exchange-free. In a deployment this is a persisted parquet
        table partitioned the same way.

        Extension beyond the reference (itemsjs/lunr match whole
        analyzed tokens; src/fulltext.ts has no substring operator);
        transcript search needs infix matching ("find the turns
        containing this error-code fragment") without a corpus scan
        per query."""
        field = self._phrase_field(field)
        if field is None:
            raise EngineError("index has no text field for trigrams")
        cached = self._trigrams.get(field)
        if cached is not None:
            return cached
        idx = self.index
        n_part = max(self.spark.sparkContext.defaultParallelism, 1)
        if idx.trigram is not None and field in idx.trigram_fields:
            # a persisted index already carries the artifact: pin the
            # field's slice instead of re-deriving from the corpus
            grams = idx.trigram.filter(F.col("field") == field).drop("field")
        else:
            from .indexer import trigram_postings

            grams = trigram_postings(idx.docs, field)
        grams = grams.repartition(n_part, F.col(DOCID)).persist()
        grams.count()
        if field not in idx.trigram_fields:
            # attach the MATERIALIZED frame to the index so Index.write
            # persists the trigram table without re-deriving it
            tagged = grams.select(F.lit(field).alias("field"), "gram", DOCID)
            idx.trigram = (
                tagged
                if idx.trigram is None
                else idx.trigram.unionByName(tagged)
            )
            idx.trigram_fields = [*idx.trigram_fields, field]
        self._trigrams[field] = grams
        return grams

    def release_trigrams(self) -> None:
        """Unpersist every trigram cache built by enable_trigrams."""
        for df in self._trigrams.values():
            df.unpersist()
        self._trigrams.clear()

    def contains_hits(
        self,
        needle: str,
        field: Optional[str] = None,
        use_trigrams: Optional[bool] = None,
    ) -> DataFrame:
        """DataFrame (_docid, n_occurrences) of live docs whose raw
        ``field`` text contains ``needle`` case-insensitively —
        substring (infix) match, not token match. ``n_occurrences``
        counts NON-overlapping occurrences (string-replace semantics,
        restated identically in the SQL oracles).

        Two physical routes with identical semantics:

        * default (no trigram cache): one corpus-projection scan with a
          JVM ``contains`` filter — Catalyst prunes the ReadSchema to
          (docid, field).
        * with ``enable_trigrams``: the needle's distinct trigrams
          prune index-side first (docs containing ALL of them — one
          exchange-free aggregate over the gram-pruned, docid-
          partitioned cache with ``gram IN (...)`` pushdown), then ONLY
          the candidates' text is fetched (driver-bounded probe routes
          docid-IN point lookups vs a projection join, shared with the
          phrase machinery) and verified with the same JVM predicate.
          At 10^12 turns the cost is the rarest trigram's posting size,
          never a corpus scan. Needles shorter than 3 chars have no
          trigram and always take the scan route.
        """
        idx = self.index
        field = self._phrase_field(field)
        if field is None:
            return local_relation(
                self.spark,
                [],
                T.StructType([
                    T.StructField(DOCID, T.LongType()),
                    T.StructField("n_occurrences", T.IntegerType()),
                ])
            )
        needle_l = needle.lower()
        lt = F.lower(F.col(field))
        n_occ = (
            (F.length(lt) - F.length(F.replace(lt, F.lit(needle_l))))
            / F.lit(len(needle_l))
        ).cast("int").alias("n_occurrences")
        pred = F.contains(lt, F.lit(needle_l))

        cache = self._trigrams.get(field)
        if cache is None and idx.trigram is not None and (
            field in idx.trigram_fields
        ):
            # disk-backed store, used lazily: the gram-isin selection
            # below prunes the (field, gram)-sorted parquet row groups
            cache = idx.trigram.filter(F.col("field") == field).drop("field")
        if use_trigrams is None:
            use_trigrams = cache is not None and len(needle_l) >= 3
        if use_trigrams and len(needle_l) < 3:
            raise EngineError(
                "needle shorter than 3 chars has no trigram route"
            )
        if not use_trigrams or not needle_l:
            rows = self._live(idx.docs).select(DOCID, field)
            return rows.filter(pred).select(DOCID, n_occ)
        if cache is None:
            cache = self.enable_trigrams(field)
        grams = sorted(
            {needle_l[i : i + 3] for i in range(len(needle_l) - 2)}
        )
        cand = (
            cache.filter(F.col("gram").isin(grams))
            .groupBy(DOCID)
            .agg(F.count("*").alias("__ng"))
            .filter(F.col("__ng") == len(grams))
            .select(DOCID)
        )
        rows = self._fetch_candidate_text(cand, field)
        if rows is None:
            return local_relation(
                self.spark,
                [],
                T.StructType([
                    T.StructField(DOCID, T.LongType()),
                    T.StructField("n_occurrences", T.IntegerType()),
                ])
            )
        return rows.filter(pred).select(DOCID, n_occ)

    def _phrase_hits_positional(
        self,
        pos_df: DataFrame,
        terms: Sequence[str],
        slop: int,
        with_positions: bool = False,
    ) -> DataFrame:
        """Index-only phrase matching from positional postings: ONE
        aggregation over the selected terms' position rows does the
        conjunctive prune (all distinct terms present) AND gathers each
        candidate's per-term position lists; a bisect-chain Arrow
        kernel then replays the exact greedy semantics of the text
        verifier. No corpus read, no second job — at 10^12 turns the
        cost is the phrase terms' posting sizes, full stop."""
        distinct = sorted(set(terms))
        sel = self._live(pos_df.filter(F.col("term").isin(list(distinct))))
        grouped = (
            sel.groupBy(DOCID)
            .agg(F.collect_list(F.struct("term", "positions")).alias("tp"))
            .filter(F.size("tp") == len(distinct))
            .select(
                DOCID,
                F.col("tp.term").alias("ts"),
                F.col("tp.positions").alias("ps"),
            )
        )
        phrase_terms = tuple(terms)
        win = int(slop)
        with_pos = bool(with_positions)
        out_schema = _phrase_out_schema(with_pos)

        def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bisect import bisect_right

            first = phrase_terms[0]
            rest = phrase_terms[1:]
            for pdf in batches:
                ids: List[int] = []
                occ: List[int] = []
                mp: List[List[int]] = []
                for did, ts, ps in zip(pdf[DOCID], pdf["ts"], pdf["ps"]):
                    posmap = {t: p for t, p in zip(ts, ps)}
                    starts = posmap.get(first)
                    if starts is None:
                        continue
                    matched: List[int] = []
                    for i in starts:
                        pos = int(i)
                        complete = True
                        for t in rest:
                            lst = posmap.get(t)
                            if lst is None:
                                complete = False
                                break
                            # greedy nearest binding: smallest position
                            # strictly after pos, within the slop window
                            k = bisect_right(lst, pos)
                            if k < len(lst) and int(lst[k]) <= pos + 1 + win:
                                pos = int(lst[k])
                            else:
                                complete = False
                                break
                        if complete:
                            matched.append(int(i))
                    if matched:
                        ids.append(int(did))
                        occ.append(len(matched))
                        if with_pos:
                            mp.append(matched)
                yield _phrase_out_pdf(ids, occ, mp, with_pos)

        return grouped.mapInPandas(verify, schema=out_schema)

    def phrase_hits(
        self,
        phrase: str,
        field: Optional[str] = None,
        slop: int = 0,
        use_positions: Optional[bool] = None,
        with_positions: bool = False,
    ) -> DataFrame:
        """DataFrame (_docid, n_occurrences[, match_positions when
        ``with_positions`` — the ascending 0-based start token indices,
        the highlight/snippet primitive]) of docs whose analyzed token
        stream contains the phrase's analyzed terms CONSECUTIVELY — or,
        with ``slop`` > 0, IN ORDER with at most ``slop`` other tokens
        between consecutive phrase terms (greedy nearest match: each
        next term binds to its smallest admissible position; an
        occurrence is counted per start position that completes).

        Extension beyond the reference (itemsjs/lunr 1.x has no phrase
        operator — src/search.ts tokenizes to a bag); transcript corpora
        need it ("exact error message", "tool invocation string").

        Physical plan for 10^12 turns: (1) the EXISTING inverted index
        prunes to docs containing ALL phrase terms — ``postings_subset``
        pushes ``term IN (...)`` into the compressed-block/parquet scan
        and the conjunctive check is one index-side aggregate; (2) ONLY
        the candidate rows' text is re-analyzed in an Arrow batch to
        verify adjacency — fetched as docid point lookups (IN filter,
        row-group pruning) for rare phrases, or as a two-column
        projection joined against the candidate set for common ones.
        No positional index by default (a 3-5x postings blowup paid by
        every build, phrase query or not) and no corpus-wide
        re-analysis: phrase cost scales with the rarest term's document
        frequency, the right trade when phrase queries are rare
        relative to corpus size. Phrase-HEAVY workloads can opt into
        ``enable_positions`` instead — then matching is index-only
        (``_phrase_hits_positional``) and never fetches candidate text.
        Both routes implement identical semantics (equality-tested).
        Adjacency is defined over the FILTERED token sequence
        (post stopword/stemming) — the standard semantics when the
        index stores no stopword positions; overlapping occurrences
        each count.
        """
        idx = self.index
        empty = local_relation(
            self.spark, [], _phrase_out_schema(bool(with_positions))
        )
        terms = self.pipeline(tokenize(phrase))
        if not terms:
            return empty
        field = self._phrase_field(field)
        if field is None:
            return empty

        # positional route: auto when the field's positional cache was
        # built (enable_positions) or a persisted index carries the
        # artifact; forceable either way for tests/A-B
        pos_df = self._positions.get(field)
        if pos_df is None and idx.positional is not None and (
            field in idx.positional_fields
        ):
            # disk-backed store, used lazily: the term-isin selection
            # below prunes the (field, term)-sorted parquet row groups
            pos_df = idx.positional.filter(F.col("field") == field).drop(
                "field"
            )
        if use_positions is None:
            use_positions = pos_df is not None
        if use_positions:
            if pos_df is None:
                pos_df = self.enable_positions(field)
            return self._phrase_hits_positional(
                pos_df, terms, slop, with_positions=with_positions
            )

        joined = self._phrase_candidate_rows(terms, field)
        if joined is None:
            return empty

        flags = dict(
            is_exact_search=bool(self.configuration.get("isExactSearch")),
            remove_stop_word_filter=bool(
                self.configuration.get("removeStopWordFilter")
            ),
        )
        phrase_terms = tuple(terms)
        fld = field
        win = int(slop)
        with_pos = bool(with_positions)
        out_schema = _phrase_out_schema(with_pos)

        def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            pipeline = build_pipeline(**flags)
            m = len(phrase_terms)
            first = phrase_terms[0]
            rest = phrase_terms[1:]

            def occurrence_starts(toks: List[str]) -> List[int]:
                starts: List[int] = []
                if win == 0:
                    for i in range(len(toks) - m + 1):
                        if (
                            toks[i] == first
                            and tuple(toks[i : i + m]) == phrase_terms
                        ):
                            starts.append(i)
                    return starts
                L = len(toks)
                for i in range(L - m + 1):
                    if toks[i] != first:
                        continue
                    pos = i
                    for t in rest:
                        nxt = -1
                        for k in range(pos + 1, min(pos + 2 + win, L)):
                            if toks[k] == t:
                                nxt = k
                                break
                        if nxt < 0:
                            break
                        pos = nxt
                    else:
                        starts.append(i)
                return starts

            for pdf in batches:
                ids: List[int] = []
                occ: List[int] = []
                mp: List[List[int]] = []
                for did, v in zip(pdf[DOCID], pdf[fld]):
                    starts = occurrence_starts(pipeline(tokenize(v)))
                    if starts:
                        ids.append(int(did))
                        occ.append(len(starts))
                        if with_pos:
                            mp.append(starts)
                yield _phrase_out_pdf(ids, occ, mp, with_pos)

        return joined.mapInPandas(verify, schema=out_schema)

    def _phrase_candidate_rows(
        self, terms: Sequence[str], field: str
    ) -> Optional[DataFrame]:
        """(docid, field text) rows for docs containing ALL of
        ``terms`` — the index-conjunction prune + candidate-text fetch
        shared by ``phrase_hits`` and ``snippet_hits``. None when no doc
        can match.

        (term, _docid) is unique in postings, so count(*) == n distinct
        terms present; the full-phrase conjunction never leaves the
        index. The fetch routes by candidate count with ONE bounded job:
        a rare phrase (the common case — phrase df ≤ min term df)
        becomes driver-side docids pushed INTO the corpus scan as an IN
        filter (row-group min/max pruning on the docid-ordered corpus:
        point lookups, no corpus-wide read); a common phrase falls back
        to a join of the two-column corpus projection against the
        candidate set (AQE broadcasts the small side when it fits)."""
        idx = self.index
        self._ensure_fulltext_materialized()
        distinct = sorted(set(terms))
        cand = (
            idx.postings_subset(distinct)
            .groupBy(DOCID)
            .agg(F.count("*").alias("__nt"))
            .filter(F.col("__nt") == len(distinct))
            .select(DOCID)
        )
        return self._fetch_candidate_text(cand, field)

    def _fetch_candidate_text(
        self, cand: DataFrame, field: str
    ) -> Optional[DataFrame]:
        """(docid, field text) rows for a candidate-docid set — the
        bounded-probe fetch router shared by the phrase and substring
        verifiers: ≤PHRASE_ISIN_MAX candidates become driver-side
        docids pushed INTO the corpus scan as an IN filter (row-group
        min/max point lookups); larger sets join the two-column corpus
        projection (AQE broadcasts the small side when it fits). None
        when the candidate set is empty."""
        idx = self.index
        probe = cand.limit(self.PHRASE_ISIN_MAX + 1).collect()
        if len(probe) <= self.PHRASE_ISIN_MAX:
            if not probe:
                return None
            return self._live(idx.docs).select(DOCID, field).filter(
                F.col(DOCID).isin([r[0] for r in probe])
            )
        return self._live(idx.docs).select(DOCID, field).join(cand, DOCID)

    def snippet_hits(
        self,
        phrase: str,
        field: Optional[str] = None,
        slop: int = 0,
        before: int = 3,
        after: int = 3,
    ) -> DataFrame:
        """Highlight/snippet extraction for a phrase query: DataFrame
        (_docid, n_occurrences, hl_from, hl_to, snippet) where hl_from /
        hl_to are 0-based indices INTO THE RAW TOKEN STREAM (lunr
        tokenizer output, before stopword/stem filtering) of the first
        occurrence's first and last phrase word, and ``snippet`` is the
        raw tokens from ``before`` tokens left of the match through
        ``after`` tokens right of it, space-joined. Slop > 0 follows
        ``phrase_hits``'s greedy proximity semantics; the highlight span
        then runs to the position the chain's last term bound to.

        Extension beyond the reference (itemsjs returns whole items
        only); search UIs need match context, and a transcript corpus
        needs it around tool-call/error strings.

        Physical plan: same two stages as ``phrase_hits``'s prune+verify
        route — the inverted index prunes to docs containing ALL phrase
        terms, then ONE Arrow pass over only those rows re-analyzes the
        text keeping raw-token indices (``build_token_transform``: the
        exact per-token chain the index build ran) and assembles the
        snippet in the same pass. Snippets inherently need the matched
        documents' text, so the positional-postings route cannot serve
        them; cost at 10^12 turns is bounded by the PHRASE's document
        frequency, not the corpus (point lookups for rare phrases). No
        second pass, no driver-side text."""
        empty = local_relation(self.spark, [], _SNIPPET_SCHEMA)
        terms = self.pipeline(tokenize(phrase))
        if not terms:
            return empty
        field = self._phrase_field(field)
        if field is None:
            return empty
        joined = self._phrase_candidate_rows(terms, field)
        if joined is None:
            return empty

        flags = dict(
            is_exact_search=bool(self.configuration.get("isExactSearch")),
            remove_stop_word_filter=bool(
                self.configuration.get("removeStopWordFilter")
            ),
        )
        phrase_terms = tuple(terms)
        fld = field
        win = int(slop)
        n_before = max(int(before), 0)
        n_after = max(int(after), 0)

        def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from ..analysis.lunr_analysis import build_token_transform

            tr = build_token_transform(**flags)
            m = len(phrase_terms)
            first = phrase_terms[0]
            rest = phrase_terms[1:]

            def occurrences(toks: List[str]) -> List[Tuple[int, int]]:
                """(start, end) index pairs in analyzed-token space —
                same greedy nearest-binding semantics as phrase_hits."""
                out: List[Tuple[int, int]] = []
                L = len(toks)
                if win == 0:
                    for i in range(L - m + 1):
                        if (
                            toks[i] == first
                            and tuple(toks[i : i + m]) == phrase_terms
                        ):
                            out.append((i, i + m - 1))
                    return out
                for i in range(L - m + 1):
                    if toks[i] != first:
                        continue
                    pos = i
                    for t in rest:
                        nxt = -1
                        for k in range(pos + 1, min(pos + 2 + win, L)):
                            if toks[k] == t:
                                nxt = k
                                break
                        if nxt < 0:
                            break
                        pos = nxt
                    else:
                        out.append((i, pos))
                return out

            for pdf in batches:
                ids: List[int] = []
                occ: List[int] = []
                frm: List[int] = []
                to: List[int] = []
                snip: List[str] = []
                for did, v in zip(pdf[DOCID], pdf[fld]):
                    raw = tokenize(v)
                    toks: List[str] = []
                    rawidx: List[int] = []
                    for i, t in enumerate(raw):
                        w = tr(t)
                        if w is not None:
                            toks.append(w)
                            rawidx.append(i)
                    found = occurrences(toks)
                    if not found:
                        continue
                    s, e = found[0]
                    rs, re_ = rawidx[s], rawidx[e]
                    ids.append(int(did))
                    occ.append(len(found))
                    frm.append(rs)
                    to.append(re_)
                    snip.append(
                        " ".join(raw[max(0, rs - n_before) : re_ + 1 + n_after])
                    )
                yield pd.DataFrame(
                    {
                        DOCID: pd.Series(ids, dtype="int64"),
                        "n_occurrences": pd.Series(occ, dtype="int64"),
                        "hl_from": pd.Series(frm, dtype="int32"),
                        "hl_to": pd.Series(to, dtype="int32"),
                        "snippet": pd.Series(snip, dtype="object"),
                    }
                )

        return joined.mapInPandas(extract, schema=_SNIPPET_SCHEMA)

    def hit_context(
        self,
        query: str,
        group_field: str,
        order_field: str,
        k: int = 20,
        before: int = 1,
        after: int = 1,
        fields: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """Context-window retrieval around the top-k fulltext hits: for
        each of the ``k`` best-scoring docs, the rows of the SAME
        ``group_field`` group (e.g. conversation) whose ``order_field``
        (e.g. turn index) lies within [hit-before, hit+after] — the
        "show the surrounding turns" operator a transcript search UI
        needs. Output: (hit_id, hit_score, offset, *fields) with one row
        per (hit, context row); offset = ctx order - hit order.

        Physical plan at 10^12 turns: the hit list is top-k —
        driver-bounded by construction — so its (group, order) keys
        collect in two bounded jobs (the key fetch pushes a docid IN
        filter into the docid-ordered corpus scan: point lookups). The
        context fetch then pushes the ≤k group values into the corpus
        scan as an IN filter (partition/row-group pruning on the group
        column) and broadcast-joins the key literals with the order-range
        predicate — cost scales with k·window, never with corpus size.
        Extension beyond the reference (itemsjs returns whole items)."""
        docs = self._live(self.index.docs)
        if fields is None:
            cols = [
                c for c in docs.columns
                if c != DOCID and not c.startswith("__")
            ]
        else:
            cols = list(fields)
        by_name = {f.name: f.dataType for f in docs.schema.fields}
        out_schema = T.StructType(
            [
                T.StructField("hit_id", T.LongType()),
                T.StructField("hit_score", T.DoubleType()),
                T.StructField("offset", T.IntegerType()),
            ]
            + [T.StructField(c, by_name[c]) for c in cols]
        )
        empty = local_relation(self.spark, [], out_schema)

        hits = self.fulltext_hits(query)
        s = F.round(F.col(SCORE), 6)
        top = (
            hits.orderBy(s.desc(), F.col(DOCID).cast("string").asc())
            .limit(int(k))
            .select(F.col(DOCID), s.alias("hit_score"))
        )
        trows = top.collect()
        if not trows:
            return empty
        score_by_id = {int(r[DOCID]): float(r["hit_score"]) for r in trows}
        krows = (
            docs.select(DOCID, group_field, order_field)
            .filter(F.col(DOCID).isin(list(score_by_id)))
            .collect()
        )
        key_schema = T.StructType(
            [
                T.StructField("hit_id", T.LongType()),
                T.StructField("hit_score", T.DoubleType()),
                T.StructField("__g", by_name[group_field]),
                T.StructField("__o", by_name[order_field]),
            ]
        )
        key_df = self.spark.createDataFrame(
            [
                (
                    int(r[DOCID]),
                    score_by_id[int(r[DOCID])],
                    r[group_field],
                    r[order_field],
                )
                for r in krows
            ],
            key_schema,
        )
        groups = sorted({r[group_field] for r in krows})
        ctx = docs.filter(F.col(group_field).isin(groups))
        joined = ctx.join(
            F.broadcast(key_df),
            (ctx[group_field] == key_df["__g"])
            & (ctx[order_field] >= key_df["__o"] - F.lit(int(before)))
            & (ctx[order_field] <= key_df["__o"] + F.lit(int(after))),
        )
        return joined.select(
            "hit_id",
            "hit_score",
            (ctx[order_field] - key_df["__o"]).cast("int").alias("offset"),
            *[ctx[c] for c in cols],
        )

    def grouped_topk(
        self, query: str, group_field: str, n_groups: int = 10
    ) -> DataFrame:
        """Best-matching doc PER GROUP (e.g. the best turn of each
        conversation), then the top ``n_groups`` groups by that best
        score: (group_field, best_score, best_id). Ties: higher score
        first, then lower docid within a group; across groups,
        ``group_field`` ascending.

        Physical plan: one hash join (hits → group key) and ONE
        aggregation — ``max(struct(score, -docid))`` is an algebraic
        max, so Spark computes map-side partials before the single
        group-key shuffle; no window function (windows can't partial-
        aggregate), so a hot group never concentrates its raw hits on
        one task beyond the final combine. Extension beyond the
        reference."""
        docs = self._live(self.index.docs)
        hits = self.fulltext_hits(query)
        s = F.round(F.col(SCORE), 6)
        joined = hits.select(F.col(DOCID), s.alias("__s")).join(
            docs.select(DOCID, group_field), DOCID
        )
        agg = joined.groupBy(group_field).agg(
            F.max(
                F.struct(
                    F.col("__s").alias("s"),
                    (-F.col(DOCID)).alias("nid"),
                )
            ).alias("m")
        )
        return (
            agg.select(
                F.col(group_field),
                F.col("m.s").alias("best_score"),
                (-F.col("m.nid")).cast("long").alias("best_id"),
            )
            .orderBy(
                F.col("best_score").desc(), F.col(group_field).asc()
            )
            .limit(int(n_groups))
        )

    def collapse_hits(
        self,
        query: str,
        collapse_field: str,
        k: int = 10,
        inner_k: int = 1,
    ) -> DataFrame:
        """Field collapsing (extension; the Elasticsearch ``collapse``
        request): the relevance page deduplicated to ONE document per
        ``collapse_field`` group — each group is represented by its
        best hit (score desc, then str(docid) asc, the engine's
        relevance tie-break), the page holds the top ``k`` groups
        ordered by their representative, and ``inner_k`` > 1 appends
        each paged group's next-best hits ("inner hits"). Returns
        (collapse_field, rank_in_group 1-based, _docid, __score) —
        rank 1 rows are the collapsed page itself.

        Physical plan: score once; the representative per group is ONE
        algebraic min(struct(-score, docid_str, ...)) aggregation
        (map-side partials before the single group-key shuffle — a
        hot conversation never serializes its raw hits onto one task);
        the page is TakeOrderedAndProject over group-count rows; inner
        hits re-rank ONLY the k paged groups' hits (broadcast semi-join
        on k keys, then a window bounded to those groups)."""
        docs = self._live(self.index.docs)
        hits = self.fulltext_hits(query)
        s6 = F.round(F.col(SCORE), 6)
        ds = F.col(DOCID).cast("string")
        joined = hits.select(
            F.col(DOCID), F.col(SCORE), s6.alias("__s6"), ds.alias("__ds")
        ).join(docs.select(DOCID, collapse_field), DOCID)
        rep = joined.groupBy(collapse_field).agg(
            F.min(
                F.struct(
                    (-F.col("__s6")).alias("ns"),
                    F.col("__ds").alias("ds"),
                    F.col(DOCID).alias("id"),
                    F.col(SCORE).alias("s"),
                )
            ).alias("m")
        )
        page = rep.orderBy(
            F.col("m.ns").asc(), F.col("m.ds").asc()
        ).limit(int(k))
        if inner_k <= 1:
            return page.select(
                F.col(collapse_field),
                F.lit(1).alias("rank_in_group"),
                F.col("m.id").alias(DOCID),
                F.col("m.s").alias(SCORE),
            )
        w = Window.partitionBy(collapse_field).orderBy(
            F.col("__s6").desc(), F.col("__ds").asc()
        )
        return (
            joined.join(
                F.broadcast(page.select(collapse_field)), collapse_field
            )
            .withColumn("rank_in_group", F.row_number().over(w))
            .filter(F.col("rank_in_group") <= int(inner_k))
            .select(collapse_field, "rank_in_group", DOCID, SCORE)
        )

    def top_hits_per_bucket(
        self,
        query: str,
        bucket_field: str,
        n: int = 3,
        salt_buckets: int = 16,
    ) -> DataFrame:
        """Per-bucket top hits (extension; the Elasticsearch
        ``top_hits`` sub-aggregation): for EVERY value of
        ``bucket_field``, the ``n`` best-scoring docs matching the
        query — (bucket_field, rank 1-based, _docid, __score), ranked
        score desc then str(docid) asc within each bucket. Unlike
        ``collapse_hits`` no bucket is dropped: this is the
        aggregation-side view (what does the best content per language
        / per source look like), not a result page.

        Physical plan — the salted two-phase top-n (same shape as
        ``sampling.stratified_sample``): hits first rank within
        (bucket, pmod(xxhash64(docid), salt_buckets)) so a hot bucket
        (one language owning 90% of the corpus) is bounded to
        ~1/salt_buckets per window partition; the ≤ salt_buckets·n
        survivors per bucket rank once more. No stage ever sorts a
        whole hot bucket on one task."""
        docs = self._live(self.index.docs)
        hits = self.fulltext_hits(query)
        s6 = F.round(F.col(SCORE), 6)
        ds = F.col(DOCID).cast("string")
        joined = hits.select(
            F.col(DOCID), F.col(SCORE), s6.alias("__s6"), ds.alias("__ds")
        ).join(docs.select(DOCID, bucket_field), DOCID)
        salt = F.pmod(F.xxhash64(F.col("__ds")), F.lit(int(salt_buckets)))
        w_local = Window.partitionBy(F.col(bucket_field), salt).orderBy(
            F.col("__s6").desc(), F.col("__ds").asc()
        )
        survivors = (
            joined.withColumn("__rn", F.row_number().over(w_local))
            .filter(F.col("__rn") <= int(n))
            .drop("__rn")
        )
        w_bucket = Window.partitionBy(bucket_field).orderBy(
            F.col("__s6").desc(), F.col("__ds").asc()
        )
        return (
            survivors.withColumn("rank", F.row_number().over(w_bucket))
            .filter(F.col("rank") <= int(n))
            .select(bucket_field, "rank", DOCID, SCORE)
        )

    def has_child_hits(
        self,
        parent_field: str,
        child_input: Optional[Dict[str, Any]] = None,
        min_children: int = 1,
        k: int = 10,
    ) -> DataFrame:
        """Parent/child search (extension; the Elasticsearch
        ``has_child`` query over a join field): parents — the values of
        ``parent_field``, e.g. the transcript corpus's conv_id — owning
        at least ``min_children`` child documents that match
        ``child_input`` (any standard search input: query, filters,
        filters_query and range_filters all compose). Returns the top-k
        ``(parent, n_children, __score)`` where ``__score`` is the best
        child's relevance rounded to 6 (score_mode=max; NULL for
        filter-only inputs, which then rank by child count), ordered
        score desc → n_children desc → str(parent) asc.

        Physical plan: ONE child result-set derivation (the exact
        candidates/compile machinery every endpoint uses — nothing
        re-implemented), a slim (docid, parent) projection, one
        map-side-combined groupBy(parent) carrying count + max only
        (a hot conversation bounds its own aggregate; state is two
        scalars per parent), and a TakeOrdered top-k — never a full
        sort, nothing corpus-sized past the aggregate."""
        input = child_input or {}
        hits, _ = self._candidates(input)
        compiled = self.compile(input, has_query=hits is not None)
        base = self._docs_with_query_flag(hits)
        flt = base.filter(
            ir_to_column(compiled.final_pred, hits is not None)
        )
        kids = flt.select(F.col(DOCID), F.col(parent_field).alias("parent"))
        if hits is not None:
            s = hits.select(
                F.col(DOCID), F.round(F.col(SCORE), 6).alias("__s6")
            )
            kids = kids.join(s, DOCID, "left")
        else:
            kids = kids.withColumn("__s6", F.lit(None).cast("double"))
        agg = (
            kids.groupBy("parent")
            .agg(
                F.count("*").cast("long").alias("n_children"),
                F.max("__s6").alias(SCORE),
            )
            .filter(F.col("n_children") >= int(min_children))
        )
        return agg.orderBy(
            F.col(SCORE).desc_nulls_last(),
            F.col("n_children").desc(),
            F.col("parent").cast("string").asc(),
        ).limit(int(k))

    def has_parent_hits(
        self,
        parent_field: str,
        parent_input: Optional[Dict[str, Any]] = None,
        child_input: Optional[Dict[str, Any]] = None,
        k: int = 10,
    ) -> DataFrame:
        """The ``has_parent`` mirror of :meth:`has_child_hits`
        (extension; Elasticsearch's other join-field direction): return
        CHILD documents whose parent group — the shared
        ``parent_field`` value, e.g. conv_id — contains at least one
        document matching ``parent_input``. Children may themselves be
        narrowed by ``child_input`` (any standard search input).
        Returns the top-k ``(_docid, parent, __score)`` where
        ``__score`` is the parent group's best matching score rounded
        to 6 (ES ``has_parent`` with ``score: true``; NULL for
        filter-only parent inputs), ordered score desc →
        str(docid) asc.

        Physical plan: TWO result-set derivations through the same
        candidates/compile machinery (parent and child sides), a
        group-bounded count/max aggregate on the parent side, and ONE
        shuffle join on the parent key — the parent set is
        group-cardinality-sized (≤ |conversations|), never turns-sized,
        and no side is collected. Hot parents skew only the join, which
        AQE splits."""
        pin = parent_input or {}
        phits, _ = self._candidates(pin)
        pcompiled = self.compile(pin, has_query=phits is not None)
        pbase = self._docs_with_query_flag(phits)
        pflt = pbase.filter(
            ir_to_column(pcompiled.final_pred, phits is not None)
        )
        pk = pflt.select(F.col(DOCID), F.col(parent_field).alias("parent"))
        if phits is not None:
            s = phits.select(
                F.col(DOCID), F.round(F.col(SCORE), 6).alias("__s6")
            )
            pk = pk.join(s, DOCID, "left")
        else:
            pk = pk.withColumn("__s6", F.lit(None).cast("double"))
        parents = pk.groupBy("parent").agg(F.max("__s6").alias("__ps"))
        cin = child_input or {}
        chits, _ = self._candidates(cin)
        ccompiled = self.compile(cin, has_query=chits is not None)
        cbase = self._docs_with_query_flag(chits)
        cflt = cbase.filter(
            ir_to_column(ccompiled.final_pred, chits is not None)
        )
        kids = cflt.select(F.col(DOCID), F.col(parent_field).alias("parent"))
        return (
            kids.join(parents, "parent")
            .select(DOCID, "parent", F.col("__ps").alias(SCORE))
            .orderBy(
                F.col(SCORE).desc_nulls_last(),
                F.col(DOCID).cast("string").asc(),
            )
            .limit(int(k))
        )

    def boosting_hits(
        self, positive: str, negative: str, negative_boost: float = 0.5
    ) -> DataFrame:
        """Boosting query (extension; the Elasticsearch/Lucene
        ``boosting`` query): docs matching the ``positive`` query keep
        their relevance score, DEMOTED by ``negative_boost`` when they
        also match the ``negative`` query — unlike a NOT filter the
        demoted docs stay in the result, just ranked down. Returns
        (_docid, __score).

        Physical plan: two independent scoring passes; the negative
        side collapses to a docid membership set (its scores are never
        used — Lucene semantics) and left-semi-shapes into a flag via a
        left join on docid, map-only multiply after. Both sides are
        hit-set-sized; no corpus re-scan."""
        pos = self.fulltext_hits(positive)
        neg = self.fulltext_hits(negative).select(
            F.col(DOCID), F.lit(True).alias("__neg")
        )
        return (
            pos.join(neg, DOCID, "left")
            .withColumn(
                SCORE,
                F.when(
                    F.col("__neg"),
                    F.col(SCORE) * F.lit(float(negative_boost)),
                ).otherwise(F.col(SCORE)),
            )
            .select(DOCID, SCORE)
        )

    def rescore_hits(
        self,
        query: str,
        rescore_query: str,
        window_size: int = 50,
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
    ) -> DataFrame:
        """Query rescoring (extension; the Elasticsearch ``rescore``
        request): the top ``window_size`` docs by the base query are
        re-ranked by ``query_weight·base + rescore_weight·secondary``
        (secondary contributes 0 where it misses — ES ``total``
        score_mode); docs outside the window are not returned (the
        caller pages within the window, the standard use). Returns
        (_docid, __score) with the combined score.

        Physical plan: the base top-window comes from the normal
        scorer's TakeOrderedAndProject; the secondary query scores
        independently and left-joins onto the window-sized (driver-k)
        set — the expensive second query never rescans beyond its own
        hit set, and the join's left side is window_size rows."""
        s6 = F.round(F.col(SCORE), 6)
        base = (
            self.fulltext_hits(query)
            .orderBy(s6.desc(), F.col(DOCID).cast("string").asc())
            .limit(int(window_size))
            .select(F.col(DOCID), F.col(SCORE).alias("__base"))
        )
        sec = self.fulltext_hits(rescore_query).select(
            F.col(DOCID), F.col(SCORE).alias("__sec")
        )
        return base.join(sec, DOCID, "left").select(
            F.col(DOCID),
            (
                F.lit(float(query_weight)) * F.col("__base")
                + F.lit(float(rescore_weight))
                * F.coalesce(F.col("__sec"), F.lit(0.0))
            ).alias(SCORE),
        )

    def more_like_this(
        self, id: Any, k: int = 10, max_terms: int = 25
    ) -> DataFrame:
        """Content-based similar items (extension; the reference's
        ``similar`` is attribute-overlap — lib.ts similar): the source
        doc's top ``max_terms`` terms by tf·idf become a DISJUNCTIVE
        query weighted by that tf·idf, scored as
        score(d) = Σ_t qw(t) · idf(t) · tf_d(t), source excluded,
        relevance-ordered top-k as (_docid, __score).

        Physical plan: the source doc's term vector comes from
        re-tokenizing ITS row alone with the index build's exact Arrow
        closure (one docid point lookup + a 1-row Arrow pass — never a
        postings scan by docid); idf for that bounded vocabulary is one
        `isin`-pruned terms lookup; scoring is a postings_subset over
        ≤max_terms terms (term-pruned scan / block decode) with weights
        as map literals, one groupBy(_docid) sum — the same shape as
        fulltext_hits, disjunctive instead of conjunctive."""
        from .indexer import tokenize_postings

        idx = self.index
        self._ensure_fulltext_materialized()
        empty = local_relation(self.spark, [], f"{DOCID} long, {SCORE} double")
        src_rows = tokenize_postings(
            self._live(idx.docs).filter(F.col(DOCID) == id),
            idx.text_fields,
            self.configuration,
        ).collect()
        if not src_rows:
            return empty
        tfs = {r["term"]: float(r["tf"]) for r in src_rows}
        idf = {
            r["term"]: float(r["idf"])
            for r in idx.terms.filter(
                F.col("term").isin(list(tfs))
            ).collect()
        }
        ranked = sorted(
            ((tfs[t] * idf[t], t) for t in tfs if t in idf),
            key=lambda x: (-x[0], x[1]),
        )[: max(int(max_terms), 1)]
        if not ranked:
            return empty
        wmap = F.create_map(
            *[x for qw, t in ranked for x in (F.lit(t), F.lit(float(qw)))]
        )
        imap = F.create_map(
            *[x for _qw, t in ranked for x in (F.lit(t), F.lit(idf[t]))]
        )
        sub = self._live(
            idx.postings_subset([t for _qw, t in ranked]).filter(
                F.col(DOCID) != id
            )
        )
        scored = (
            sub.withColumn(
                "__c", wmap[F.col("term")] * imap[F.col("term")] * F.col("tf")
            )
            .groupBy(DOCID)
            .agg(F.sum("__c").alias(SCORE))
        )
        s = F.round(F.col(SCORE), 6)
        return (
            scored.orderBy(s.desc(), F.col(DOCID).cast("string").asc())
            .limit(int(k))
            .select(F.col(DOCID), s.alias(SCORE))
        )

    def prf_hits(
        self,
        query: str,
        fb_docs: int = 5,
        fb_terms: int = 10,
        alpha: float = 1.0,
        beta: float = 0.75,
        k: int = 50,
    ) -> DataFrame:
        """Rocchio pseudo-relevance feedback (extension; SMART/classic
        IR): assume the top ``fb_docs`` hits are relevant, build the
        feedback vector w_fb(t) = mean over those docs of tf·idf, keep
        the ``fb_terms`` heaviest terms NOT in the analyzed query, and
        re-rank the ORIGINAL candidate set by
        α·lunr_score + β·Σ_t w_fb(t)·idf(t)·tf_d(t) — feedback boosts
        and reorders, it never changes what matches (the conjunctive
        contract stays). Returns relevance-ordered (_docid, __score)
        top-k under the combined score.

        Determinism contract: feedback-term selection ranks on w_fb
        ROUNDED to 6 decimals (ties → term asc) — the same decision
        grid as k-means/MMR, so an independent engine reproduces the
        selected expansion exactly.

        Plan: base top-fb_docs from the normal scorer; their term
        vectors re-tokenize fb_docs ROWS with the index build's Arrow
        closure (point lookups — never a postings scan by docid); idf
        for that bounded vocabulary is one isin-pruned terms lookup;
        the boost is an MLT-shaped term-pruned postings_subset sum over
        ≤fb_terms terms joined onto the base hit set. Cost ∝ fb_docs ×
        doc length + fb_terms postings — never a corpus rescan."""
        from .indexer import tokenize_postings

        idx = self.index
        self._ensure_fulltext_materialized()
        base = self.fulltext_hits(query)
        s6 = F.round(F.col(SCORE), 6)
        top = (
            base.orderBy(s6.desc(), F.col(DOCID).cast("string").asc())
            .limit(int(fb_docs))
            .select(DOCID)
            .collect()
        )
        if not top:
            return base.limit(0)
        fb_ids = [r[DOCID] for r in top]
        fb_rows = tokenize_postings(
            self._live(idx.docs).filter(F.col(DOCID).isin(fb_ids)),
            idx.text_fields,
            self.configuration,
        ).collect()
        qtoks = set(self.pipeline(tokenize(query)))
        sums: Dict[str, float] = {}
        for r in sorted(fb_rows, key=lambda r: (r["term"], r[DOCID])):
            if r["term"] not in qtoks:
                sums[r["term"]] = sums.get(r["term"], 0.0) + float(r["tf"])
        idf_map = {
            r["term"]: float(r["idf"])
            for r in idx.terms.filter(F.col("term").isin(list(sums))).collect()
        }
        ranked = sorted(
            (
                (round(sums[t] * idf_map[t] / len(fb_ids), 6), t)
                for t in sums
                if t in idf_map
            ),
            key=lambda x: (-x[0], x[1]),
        )[: max(int(fb_terms), 1)]
        out_s = F.round(F.col(SCORE), 6)
        if not ranked:
            combined = base.select(
                DOCID, (F.lit(float(alpha)) * F.col(SCORE)).alias(SCORE)
            )
        else:
            wmap = F.create_map(
                *[x for w, t in ranked for x in (F.lit(t), F.lit(float(w)))]
            )
            imap = F.create_map(
                *[x for _w, t in ranked for x in (F.lit(t), F.lit(idf_map[t]))]
            )
            boost = (
                idx.postings_subset([t for _w, t in ranked])
                .withColumn(
                    "__c",
                    wmap[F.col("term")] * imap[F.col("term")] * F.col("tf"),
                )
                .groupBy(DOCID)
                .agg(F.sum("__c").alias("__fb"))
            )
            combined = base.join(boost, DOCID, "left").select(
                F.col(DOCID),
                (
                    F.lit(float(alpha)) * F.col(SCORE)
                    + F.lit(float(beta))
                    * F.coalesce(F.col("__fb"), F.lit(0.0))
                ).alias(SCORE),
            )
        return (
            combined.orderBy(
                out_s.desc(), F.col(DOCID).cast("string").asc()
            )
            .limit(int(k))
            .select(DOCID, SCORE)
        )

    def percolate(self, saved: Sequence[Dict[str, Any]]) -> DataFrame:
        """Reverse search (extension; Elasticsearch-percolator-style):
        match a dimension-sized table of SAVED queries against the
        indexed corpus, returning ``(query_id, _docid)`` pairs — the
        alerting/routing primitive of a streaming ingest pipeline (which
        stored alerts does each incoming batch trigger?).

        Each saved query is ``{"id", "query"?, "filters"?}``. Semantics:
        the doc must contain EVERY analyzed token of ``query`` as an
        exact term (term-level conjunction — no prefix expansion: alert
        rules want exact analyzed matching, and an expansion per rule ×
        10^12 turns would be unbounded), and for every ``filters`` field
        at least one listed value (OR within field, AND across fields,
        the reference's conjunctive-filter semantics). A rule with
        neither tokens nor filters matches nothing.

        Plan: rules are analyzed driver-side into requirement units —
        one unit per distinct term, one per filter field. Term units
        join the pruned postings subset (term-IN pushdown); filter units
        join the exploded ``__fk_`` keys of ONLY the involved fields.
        One union + one (query_id, docid) aggregation whose distinct-
        unit count must equal the rule's arity: two broadcast joins and
        a single shuffle regardless of rule count."""
        idx = self.index
        term_rows: List[Tuple[str, str, int]] = []  # (qid, term, unit id)
        facet_rows: List[Tuple[str, str, str, int]] = []  # (qid, fld, key, uid)
        n_units: Dict[str, int] = {}
        for rule in saved:
            qid = str(rule["id"])
            units = 0
            for tok in sorted(set(self.pipeline(tokenize(rule.get("query") or "")))):
                term_rows.append((qid, tok, units))
                units += 1
            for fld, values in (rule.get("filters") or {}).items():
                if fld not in idx.facet_fields:
                    raise EngineError(
                        "Panic. The key does not exist in facets lists."
                    )
                for k in dict.fromkeys(js_key(v) for v in values):
                    facet_rows.append((qid, fld, k, units))
                units += 1
            if units:
                n_units[qid] = units
        spark = self.spark
        empty = local_relation(spark, [], f"query_id string, {DOCID} long")
        if not n_units:
            return empty
        sats: List[DataFrame] = []
        if term_rows:
            tr = local_relation(
                spark, term_rows, "query_id string, term string, unit int"
            )
            subset = idx.postings_subset(sorted({t for _, t, _ in term_rows}))
            sats.append(
                subset.join(F.broadcast(tr), "term").select(
                    "query_id", DOCID, "unit"
                )
            )
        if facet_rows:
            fr = local_relation(
                spark,
                facet_rows,
                "query_id string, field string, key string, unit int",
            )
            fields = sorted({f for _, f, _, _ in facet_rows})
            pairs = [
                self._live(idx.docs)
                .select(
                    F.col(DOCID),
                    F.lit(fld).alias("field"),
                    F.explode(FK_PREFIX + fld).alias("key"),
                )
                for fld in fields
            ]
            doc_keys = pairs[0]
            for p in pairs[1:]:
                doc_keys = doc_keys.unionByName(p)
            fsat = doc_keys.join(F.broadcast(fr), ["field", "key"]).select(
                "query_id", DOCID, "unit"
            )
            # a doc can satisfy one filter unit through several values
            # only on a MULTI-valued facet field — scalar fields emit at
            # most one key per doc, so the dedup exchange is skipped
            dtypes = dict(idx.docs.dtypes)
            if any(
                dtypes.get(f, "").startswith("array") for f in fields
            ):
                fsat = fsat.distinct()
            sats.append(fsat)
        sat = sats[0]
        for s in sats[1:]:
            sat = sat.unionByName(s)
        arity = F.create_map(
            *[x for q, n in sorted(n_units.items()) for x in (F.lit(q), F.lit(n))]
        )
        # every branch emits at most ONE row per (rule, doc, unit) — the
        # term side because (term, docid) is unique in postings and a
        # rule's term list is distinct, the facet side via .distinct()
        # (a doc can match several values of one filter field) — so the
        # arity check is a plain count, no distinct-aggregate machinery
        matched = (
            sat.groupBy("query_id", DOCID)
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") == arity[F.col("query_id")])
            .select("query_id", DOCID)
        )
        return self._live(matched)

    def facet_histogram(
        self,
        field: str,
        interval: float,
        input: Optional[Dict[str, Any]] = None,
        origin: float = 0,
    ) -> DataFrame:
        """Date/numeric histogram facet (extension; itemsjs buckets are
        categorical): (bucket, doc_count) where bucket is the inclusive
        lower bound of each ``interval``-wide bin (anchored at
        ``origin``), counting the docs of the SAME result set a search
        with this ``input`` would page — query, categorical filters,
        range_filters and filters_query all compose. Timestamp fields
        bin by epoch seconds. Empty bins are omitted (sparse histogram
        — at 10^12 turns a dense fill would materialize the time axis).

        Physical plan: the standard candidates/compile machinery derives
        the result-set predicate, then ONE groupBy on the computed bin
        key with map-side partial counts; the bin expression is pure JVM
        so the corpus scan stays pruned by the same pushed filters."""
        input = input or {}
        if field not in self.index.docs.columns:
            raise EngineError(f"unknown histogram field {field!r}")
        hits, _ = self._candidates(input)
        compiled = self.compile(input, has_query=hits is not None)
        base = self._docs_with_query_flag(hits)
        flt = base.filter(
            ir_to_column(compiled.final_pred, hits is not None)
        )
        col = F.col(field)
        dt = dict(self.index.docs.dtypes).get(field, "")
        is_time = dt.startswith("timestamp") or dt == "date"
        if isinstance(interval, str):
            # calendar intervals (month/week/...): fixed-width epoch
            # arithmetic can't express them (months vary); date_trunc
            # is still one pure-JVM expression, same plan shape. The
            # bucket is the truncated boundary's epoch seconds.
            # Truncation happens in the session timezone (UTC in every
            # deployment of this repo; oracles assume the same).
            unit = interval.lower()
            if unit not in ("year", "quarter", "month", "week", "day",
                            "hour", "minute"):
                raise EngineError(
                    f"unknown calendar interval {interval!r}"
                )
            if not is_time:
                raise EngineError(
                    f"calendar interval {interval!r} needs a timestamp/"
                    f"date field (got {dt})"
                )
            bucket = F.date_trunc(unit, col.cast("timestamp")).cast(
                "long"
            )
        else:
            if is_time:
                col = col.cast("timestamp").cast("long")  # epoch seconds
            elif not any(
                dt.startswith(p)
                for p in ("int", "bigint", "smallint", "tinyint",
                          "float", "double", "decimal", "long")
            ):
                raise EngineError(
                    f"histogram field {field!r} must be numeric/timestamp/"
                    f"date (got {dt}; items-built engines coerce mixed "
                    "values to strings — index a typed DataFrame column)"
                )
            bucket = (
                F.floor((col - F.lit(origin)) / F.lit(interval))
                * F.lit(interval)
                + F.lit(origin)
            ).cast("long" if float(interval).is_integer() else "double")
        return (
            flt.select(bucket.alias("bucket"))
            .filter(F.col("bucket").isNotNull())
            .groupBy("bucket")
            .agg(F.count("*").alias("doc_count"))
        )

    def facet_ranges(
        self,
        field: str,
        ranges: Sequence[Dict[str, Any]],
        input: Optional[Dict[str, Any]] = None,
    ) -> DataFrame:
        """Named-range aggregation (extension; the Elasticsearch
        ``range``/``date_range`` agg): each entry of ``ranges`` is
        ``{"key": name, "from": lo?, "to": hi?}`` — half-open
        ``[from, to)`` per ES semantics, either bound omittable, ranges
        may overlap — counting the docs of the SAME result set a search
        with ``input`` would page. Returns one ``(bucket, doc_count)``
        row per requested range, zero-count ranges included (ES reports
        every requested bucket). Timestamp fields compare by epoch
        seconds.

        Physical plan: the standard result-set derivation, then ONE
        aggregate over the corpus computing every range as a
        conditional sum (map-side combined, one pass regardless of how
        many ranges — overlap costs nothing because ranges are columns,
        not join keys), unpivoted to rows by a bounded stack."""
        input = input or {}
        if field not in self.index.docs.columns:
            raise EngineError(f"unknown range field {field!r}")
        if not ranges:
            raise EngineError("facet_ranges needs at least one range")
        hits, _ = self._candidates(input)
        compiled = self.compile(input, has_query=hits is not None)
        base = self._docs_with_query_flag(hits)
        flt = base.filter(
            ir_to_column(compiled.final_pred, hits is not None)
        )
        col = F.col(field)
        dt = dict(self.index.docs.dtypes).get(field, "")
        if dt.startswith("timestamp") or dt == "date":
            col = col.cast("timestamp").cast("long")
        aggs = []
        keys = []
        for i, r in enumerate(ranges):
            key = str(r.get("key", f"range_{i}"))
            keys.append(key)
            cond = col.isNotNull()
            if r.get("from") is not None:
                cond = cond & (col >= F.lit(r["from"]))
            if r.get("to") is not None:
                cond = cond & (col < F.lit(r["to"]))
            aggs.append(
                F.sum(F.when(cond, 1).otherwise(0))
                .cast("long")
                .alias(f"__r{i}")
            )
        one = flt.agg(*aggs)
        pairs = F.array(
            *[
                F.struct(
                    F.lit(k).alias("bucket"),
                    F.col(f"__r{i}").alias("doc_count"),
                )
                for i, k in enumerate(keys)
            ]
        )
        return one.select(F.explode(pairs).alias("p")).select(
            F.col("p.bucket").alias("bucket"),
            F.col("p.doc_count").alias("doc_count"),
        )

    def wildcard_hits(
        self, pattern: str, max_expansion: int = 1024
    ) -> DataFrame:
        """Wildcard TERM search (extension; the Lucene WildcardQuery):
        ``*`` = any run, ``?`` = one char, matched against the analyzed
        term dictionary (terms are post-pipeline, i.e. stemmed — like
        Lucene, wildcard patterns skip analysis). Docs containing any
        matching term are returned with score = Σ tf·idf over their
        matching terms (a wildcard is one token whose expansion is the
        match set, so expansion union — not conjunction — applies;
        scoring is the extension's own, there is no lunr wildcard to be
        parity with).

        Scale: the literal prefix before the first wildcard prunes the
        term-sorted dictionary to a range scan (the FST-walk analog);
        the match set is driver-bounded by ``max_expansion`` (a pattern
        like ``*`` is refused, not silently truncated), then the usual
        pruned postings-subset join + one aggregation."""
        empty = local_relation(self.spark, [], f"{DOCID} long, {SCORE} double")
        if self.index.terms is None:
            return empty
        self._ensure_fulltext_materialized()
        pat = pattern.strip().lower()
        if not pat:
            return empty
        like = (
            pat.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
            .replace("*", "%").replace("?", "_")
        )
        prefix = re.split(r"[*?]", pat, maxsplit=1)[0]
        rows = self._dictionary_matches(
            F.col("term").like(like), prefix, max_expansion,
            f"wildcard {pattern!r}",
        )
        return self._termset_union_hits(rows)

    def regexp_hits(
        self, pattern: str, max_expansion: int = 1024
    ) -> DataFrame:
        """Regexp TERM search (extension; the Lucene RegexpQuery): the
        pattern is implicitly anchored to the WHOLE analyzed term —
        ``sp[a-z]*k`` matches ``spark`` but not ``sparkle`` — and, like
        Lucene, skips analysis (the dictionary holds post-pipeline,
        i.e. stemmed, terms). Docs containing any matching term score
        Σ tf·idf over their matching terms, exactly like
        ``wildcard_hits`` (a regexp is one token whose expansion is the
        match set → union semantics).

        Scale: the pattern's leading literal run (chars before the
        first metachar, dropping a char that a following quantifier
        governs) prunes the term-sorted dictionary to a range scan —
        the FST-intersect analog; matching runs JVM-side (`rlike`)
        over only that range; the match set is driver-bounded by
        ``max_expansion`` (``.*`` is refused, not truncated); then the
        shared pruned postings-subset union scorer."""
        empty = local_relation(self.spark, [], f"{DOCID} long, {SCORE} double")
        if self.index.terms is None:
            return empty
        self._ensure_fulltext_materialized()
        pat = pattern.strip()
        if not pat:
            return empty
        lit = re.match(r"[a-z0-9]*", pat).group(0)
        if len(lit) < len(pat) and pat[len(lit) : len(lit) + 1] in "*+?{":
            lit = lit[:-1]
        rows = self._dictionary_matches(
            F.col("term").rlike(f"^(?:{pat})$"), lit, max_expansion,
            f"regexp {pattern!r}",
        )
        return self._termset_union_hits(rows)

    def _dictionary_matches(
        self, pred, prefix: str, max_expansion: int, what: str
    ) -> List[Tuple[str, float]]:
        """Match the analyzed term dictionary against a JVM predicate,
        range-pruned by a literal ``prefix`` when one exists; returns
        the driver-bounded sorted (term, idf) match set or refuses past
        ``max_expansion``."""
        terms = self.index.terms
        if prefix:
            terms = terms.filter(
                (F.col("term") >= prefix) & (F.col("term") < prefix + "￿")
            )
        matched = (
            terms.filter(pred)
            .select("term", "idf")
            .limit(max_expansion + 1)
            .collect()
        )
        if len(matched) > max_expansion:
            raise EngineError(
                f"{what} expands past {max_expansion} terms; "
                "narrow the pattern (or raise max_expansion)"
            )
        return sorted((r["term"], float(r["idf"])) for r in matched)

    def _termset_union_hits(
        self, rows: List[Tuple[str, float]]
    ) -> DataFrame:
        """Shared union scorer for term-set queries (wildcard/regexp):
        score(doc) = Σ tf·idf over the doc's terms in the set, via a
        term-pruned postings subset + ONE aggregation (``_dot_fold``)."""
        empty = local_relation(self.spark, [], f"{DOCID} long, {SCORE} double")
        if not rows:
            return empty
        subset = self.index.postings_subset([t for t, _ in rows])
        if len(rows) <= self.MAX_MAP_LITERAL_TERMS:
            wmap = F.create_map(
                *[x for t, w in rows for x in (F.lit(t), F.lit(w))]
            )
            joined = subset.withColumn("w", wmap[F.col("term")])
        else:
            wdf = local_relation(self.spark, rows, "term string, w double")
            joined = subset.join(F.broadcast(wdf), "term")
        per_doc, dot = self._dot_fold(joined, [DOCID], len(rows))
        return self._live(per_doc.withColumn(SCORE, dot).select(DOCID, SCORE))

    def explain_hits(self, query: str, k_docs: int = 10) -> DataFrame:
        """Per-(doc, term) relevance breakdown for a query's top-k docs
        — the Lucene ``explain`` analog (extension): ``contribution`` =
        query_weight(term) × idf(term) × tf(doc, term) / |q|, and a
        doc's contributions sum to its ``fulltext_hits`` score (before
        the final display rounding). Plan: the normal scorer picks the
        top-k docids, then one more term-pruned postings-subset scan
        joins that k-row broadcast — cost ∝ k × expanded terms, never
        the hit set."""
        empty = local_relation(
            self.spark, [], f"{DOCID} long, term string, contribution double"
        )
        try:
            analyzed = self._query_vector(query)
        except _ExpansionTooLarge:
            raise EngineError(
                "explain needs the driver-side query vector; this "
                "query's prefix expansion exceeds driver capacity"
            )
        if analyzed is None:
            return empty
        qv, idf_map = analyzed
        top = (
            self.fulltext_hits(query)
            .orderBy(
                F.round(F.col(SCORE), 6).desc(),
                F.col(DOCID).cast("string").asc(),
            )
            .limit(int(k_docs))
            .select(DOCID)
        )
        rows = sorted(
            (t, float(qv.weights[t] * idf_map[t])) for t in qv.weights
        )
        subset = self.index.postings_subset([t for t, _ in rows])
        if len(rows) <= self.MAX_MAP_LITERAL_TERMS:
            wmap = F.create_map(
                *[x for t, w in rows for x in (F.lit(t), F.lit(w))]
            )
            joined = subset.withColumn("w", wmap[F.col("term")])
        else:
            wdf = local_relation(self.spark, rows, "term string, w double")
            joined = subset.join(F.broadcast(wdf), "term")
        contribution = F.round(
            F.col("w") * F.col("tf") / F.lit(qv.magnitude), 6
        )
        return (
            joined.join(F.broadcast(top), DOCID)
            .select(DOCID, "term", contribution.alias("contribution"))
        )

    def enable_bm25(self) -> None:
        """Materialize the BM25 scoring artifacts (opt-in, same pattern
        as enable_positions/enable_trigrams): raw-count postings
        (term, _docid, c, dl) via `indexer.bm25_postings` — lunr's
        normalized tf folds the doc length away, so BM25 needs its own
        pass — plus the per-term document frequencies and the corpus
        average length. One tokenization job + one dimension aggregate,
        cached for the engine's lifetime."""
        if getattr(self, "_bm25cache", None) is not None:
            return
        from .indexer import bm25_postings

        idx = self.index
        if idx.bm25 is not None:
            # disk-backed artifact (Index.read adoption): term-sorted
            # parquet, so the per-query term-IN filter prunes row groups
            counts = idx.bm25.persist()
        else:
            counts = bm25_postings(
                idx.docs, idx.text_fields, idx.configuration
            ).persist()
            idx.bm25 = counts  # Index.write persists it from here on
        dfs = counts.groupBy("term").agg(F.count("*").alias("df")).persist()
        total_dl = (
            counts.select(DOCID, "dl")
            .groupBy(DOCID)
            .agg(F.max("dl").alias("dl"))
            .agg(F.sum("dl"))
            .collect()[0][0]
        ) or 0
        # Lucene avgdl: total stream tokens / ALL docs (empty docs count)
        avgdl = float(total_dl) / max(idx.n_docs, 1)
        self._bm25cache = (counts, dfs, avgdl)

    def release_bm25(self) -> None:
        cache = getattr(self, "_bm25cache", None)
        if cache is not None:
            cache[0].unpersist()
            cache[1].unpersist()
            self._bm25cache = None

    def bm25_topk(
        self,
        query: str,
        k: int,
        k1: float = 1.2,
        b: float = 0.75,
        min_should_match: int = 1,
    ) -> DataFrame:
        """True BM25 top-k (extension; SURVEY.md §2.4 — the PARITY
        scorer is lunr 1.0.0 TF-IDF, this is the standard-IR mode a
        production deployment would add): Robertson/Lucene BM25 with
        idf = ln(1 + (N - df + 0.5)/(df + 0.5)) and length-normalized
        tf saturation, exact analyzed terms (no prefix expansion —
        BM25 engines match whole terms), OR-mode admission with
        ``min_should_match`` (Lucene's default 1). Duplicate query
        tokens collapse (qtf = 1). Plan: term-IN pruned scan of the
        raw-count postings, map-literal weights, ONE aggregation with
        the deterministic fixed-term-order fold. Returns
        (_docid, __score) like the lunr scorer."""
        empty = local_relation(self.spark, [], f"{DOCID} long, {SCORE} double")
        tokens = sorted(set(self.pipeline(tokenize(query))))
        if not tokens:
            return empty
        self.enable_bm25()
        counts, dfs, avgdl = self._bm25cache
        n = self.index.n_docs
        df_map = {
            r["term"]: int(r["df"])
            for r in dfs.filter(F.col("term").isin(tokens)).collect()
        }
        present = [t for t in tokens if t in df_map]
        if not present:
            return empty
        m = max(1, min(int(min_should_match), len(tokens)))
        idf = {
            t: math.log(
                1.0 + (n - df_map[t] + 0.5) / (df_map[t] + 0.5)
            )
            for t in present
        }
        wmap = F.create_map(
            *[x for t in present for x in (F.lit(t), F.lit(idf[t]))]
        )
        mmap = F.create_map(
            *[
                x
                for i, t in enumerate(present)
                for x in (F.lit(t), F.lit(1 << i))
            ]
        )
        tidmap = F.create_map(
            *[x for i, t in enumerate(present) for x in (F.lit(t), F.lit(i))]
        )
        subset = counts.filter(F.col("term").isin(present))
        joined = (
            subset.withColumn("w", wmap[F.col("term")])
            .withColumn("mask", mmap[F.col("term")])
            .withColumn("tid", tidmap[F.col("term")])
        )
        c = F.col("c").cast("double")
        denom = c + F.lit(k1) * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl)
        )
        contrib = F.col("w") * (c * F.lit(k1 + 1.0)) / denom
        per_doc = joined.groupBy(DOCID).agg(
            F.bit_or("mask").alias("mask"),
            *[
                F.sum(F.when(F.col("tid") == i, contrib)).alias(f"_c{i}")
                for i in range(len(present))
            ],
        )
        score = F.lit(0.0)
        for i in range(len(present)):
            score = score + F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
        out = (
            self._live(
                per_doc.filter(F.bit_count("mask") >= m)
                .withColumn(SCORE, score)
                .select(DOCID, SCORE)
            )
            .orderBy(
                F.round(F.col(SCORE), 6).desc(),
                F.col(DOCID).cast("string").asc(),
            )
            .limit(int(k))
        )
        return out

    def composite_buckets(
        self,
        fields: Sequence[str],
        size: int = 10,
        after: Optional[Sequence[str]] = None,
        input: Optional[Dict[str, Any]] = None,
    ) -> DataFrame:
        """Composite aggregation (extension; the Elasticsearch composite
        agg): multi-field buckets — one per combination of the given
        facet fields' values co-occurring on a document of the filtered
        result set — ordered by the key tuple ascending, paged by
        ``after`` (resume strictly past that key tuple). The after-key
        is a pure filter predicate below the top-``size``, so walking
        all buckets of a 10^12-turn corpus never offset-scans: page N
        costs page 1. Multi-valued facet fields contribute one bucket
        per value combination, matching the reference's explode-at-index
        semantics. Returns (*fields, doc_count)."""
        idx = self.index
        for f in fields:
            if f not in idx.facet_fields:
                raise EngineError(
                    "Panic. The key does not exist in facets lists."
                )
        if after is not None and len(after) != len(fields):
            raise EngineError("after key arity must match fields")
        input = input or {}
        hits, _ = self._candidates(input)
        compiled = self.compile(input, has_query=hits is not None)
        base = self._docs_with_query_flag(hits)
        flt = base.filter(
            ir_to_column(compiled.final_pred, hits is not None)
        )
        # chained explodes: a map-only generator pipeline (one bucket per
        # per-doc value combination), then ONE groupBy shuffle
        cross = flt.select(*[F.col(FK_PREFIX + f) for f in fields])
        for f in fields:
            cross = cross.select("*", F.explode(FK_PREFIX + f).alias(f)).drop(
                FK_PREFIX + f
            )
        out = cross.groupBy(*fields).agg(F.count("*").alias("doc_count"))
        if after is not None:
            # strict lexicographic "greater than the after tuple"
            pred = F.lit(False)
            eqs = F.lit(True)
            for f, a in zip(fields, after):
                pred = pred | (eqs & (F.col(f) > F.lit(str(a))))
                eqs = eqs & (F.col(f) == F.lit(str(a)))
            out = out.filter(pred)
        return out.orderBy(*[F.col(f).asc() for f in fields]).limit(
            int(size)
        )

    def facet_rollup(
        self,
        fields: Sequence[str],
        input: Optional[Dict[str, Any]] = None,
    ) -> DataFrame:
        """Hierarchical facet rollup (extension; the reference has no
        grouping sets — SURVEY.md §2.2): doc counts at every prefix
        level of the given facet fields — (f1, f2, ...), (f1,), () —
        in ONE pass (Catalyst's Expand operator under ``rollup()``, one
        shuffle for all levels; N separate groupBys would rescan the
        result set N times). ``level`` counts the non-aggregated
        fields, so a NULL-valued facet key can't masquerade as a
        subtotal row. Composes with query/filters like every bucket
        surface. Returns (*fields, level, doc_count)."""
        idx = self.index
        for f in fields:
            if f not in idx.facet_fields:
                raise EngineError(
                    "Panic. The key does not exist in facets lists."
                )
        input = input or {}
        hits, _ = self._candidates(input)
        compiled = self.compile(input, has_query=hits is not None)
        base = self._docs_with_query_flag(hits)
        flt = base.filter(
            ir_to_column(compiled.final_pred, hits is not None)
        )
        cross = flt.select(*[F.col(FK_PREFIX + f) for f in fields])
        for f in fields:
            cross = cross.select("*", F.explode(FK_PREFIX + f).alias(f)).drop(
                FK_PREFIX + f
            )
        n = len(fields)
        return (
            cross.rollup(*fields)
            .agg(
                F.count("*").alias("doc_count"),
                F.grouping_id().alias("__gid"),
            )
            .select(
                *fields,
                (F.lit(n) - F.bit_count("__gid")).cast("int").alias("level"),
                "doc_count",
            )
        )

    def facet_value_suggest(
        self, field: str, prefix: str, k: int = 10
    ) -> DataFrame:
        """Autocomplete over a facet field's VALUES (extension; the
        terms analog is ``suggest``): top-k keys of ``field`` completing
        the case-insensitive ``prefix``, ordered by global doc_count
        desc then key asc — (key, doc_count). One filter + top-k on the
        dimension-sized facet_values table (StartsWith row-group pruning
        on the key-sorted store); never touches the corpus, so the cost
        is dimension cardinality at any corpus size."""
        if field not in self.index.facet_fields:
            raise EngineError(f"unknown facet field: {field}")
        pl = str(prefix).lower()
        fv = self.index.facet_values.filter(
            (F.col("field") == field)
            & F.lower(F.col("key")).startswith(pl)
        )
        return (
            fv.select(
                "key", F.col("doc_count").cast("long").alias("doc_count")
            )
            .orderBy(F.col("doc_count").desc(), F.col("key").asc())
            .limit(int(k))
        )

    def suggest(self, prefix: str, k: int = 10) -> DataFrame:
        """Autocomplete (extension): the top-k ANALYZED index terms
        completing ``prefix``, ordered by document frequency desc then
        term asc — (term, df). The prefix is analyzed like a query token
        (lunr pipeline), so 'Runn' suggests completions of 'runn'.

        Physical plan: one filter + top-k over the dimension-sized terms
        table; on a term-sorted persisted store the StartsWith predicate
        prunes row groups. Never touches postings or the corpus."""
        idx = self.index
        empty = local_relation(self.spark, [], "term string, df long")
        if idx.terms is None:
            return empty
        toks = self.pipeline(tokenize(prefix))
        if not toks:
            return empty
        p = toks[0]
        return (
            idx.terms.filter(F.col("term").startswith(p))
            .orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(int(k))
            .select("term", F.col("df").cast("long").alias("df"))
        )

    def did_you_mean(
        self, word: str, k: int = 5, max_edits: int = 2
    ) -> DataFrame:
        """Spelling suggestion (extension; the reference's lunr 0.7 has
        no fuzzy matching): the top-k ANALYZED index terms within
        ``max_edits`` Levenshtein edits of ``word``, ordered by
        (distance asc, document frequency desc, term asc) —
        (term, df, dist). The word is analyzed like a query token
        first, so an exact vocabulary word suggests itself at dist 0.

        Physical plan: ONE dimension-sized scan of the terms table —
        a cheap length band ``|len(term) - len(w)| <= max_edits``
        prunes most of the vocabulary before the threshold-banded
        Levenshtein (`F.levenshtein(..., threshold)` runs the banded
        DP, O(len·max_edits) per term instead of O(len²)), then a
        TakeOrderedAndProject top-k. Never touches postings or the
        corpus; at a 10^12-turn vocabulary this stays bounded by
        distinct-term count, not corpus size."""
        idx = self.index
        empty = local_relation(self.spark, [], "term string, df long, dist int")
        if idx.terms is None:
            return empty
        toks = self.pipeline(tokenize(word))
        if not toks:
            return empty
        return self._nearest_terms_df(toks[0], int(k), int(max_edits))

    def _nearest_terms_df(self, w: str, k: int, e: int) -> DataFrame:
        """Top-k ANALYZED terms within ``e`` edits of the ANALYZED token
        ``w`` — the shared plan behind ``did_you_mean`` and the fuzzy
        query rewrite (one length-banded scan of the dimension-sized
        terms table, threshold-banded Levenshtein DP, top-k)."""
        idx = self.index
        dist = F.levenshtein(F.col("term"), F.lit(w), e)
        return (
            idx.terms.filter(
                F.abs(F.length("term") - F.lit(len(w))) <= F.lit(e)
            )
            .select(
                "term",
                F.col("df").cast("long").alias("df"),
                dist.alias("dist"),
            )
            .filter(F.col("dist") >= 0)  # threshold form returns -1 over e
            .orderBy(
                F.col("dist").asc(), F.col("df").desc(), F.col("term").asc()
            )
            .limit(int(k))
        )

    def _token_known(self, tok: str) -> bool:
        """Does the ANALYZED token reach any dictionary term as a prefix
        (lunr's trie-walk semantics — an exact term is the trivial
        case)? Driver-dictionary bisect when cached (zero jobs), else
        one row-bounded scan job."""
        d = self._term_dictionary()
        if d is not None:
            import bisect

            terms = d[0]
            i = bisect.bisect_left(terms, tok)
            return i < len(terms) and terms[i].startswith(tok)
        self._ensure_fulltext_materialized()
        return (
            len(
                self.index.terms.filter(F.col("term").startswith(tok))
                .select("term")
                .take(1)
            )
            > 0
        )

    def _fuzzy_rewrite(
        self, tokens: List[str], max_edits: int = 2
    ) -> List[str]:
        """Fuzzy query rewrite (extension; lunr 0.7 has no fuzzy
        matching): every analyzed token that matches NOTHING in the
        dictionary (no prefix completion) is replaced by its nearest
        term — (edit distance asc, df desc, term asc), ``max_edits``
        budget. Known tokens are never touched, so fuzzy search scores
        exactly like the plain query whenever the user spelled every
        word right; an uncorrectable token stays and empties the
        conjunctive intersection (honest zero-hit response).

        Cost: known-checks are driver-side against the cached
        dictionary; each UNKNOWN token (rare) costs one bounded
        dimension-table scan job (`_nearest_terms_df`)."""
        corr: Dict[str, str] = {}
        for tok in dict.fromkeys(tokens):
            if self._token_known(tok):
                continue
            rows = self._nearest_terms_df(tok, 1, int(max_edits)).collect()
            if rows:
                corr[tok] = rows[0]["term"]
        return [corr.get(t, t) for t in tokens]

    def _synonym_rewrite(
        self, tokens: List[str], synonyms: Dict[str, Sequence[str]]
    ) -> List[str]:
        """Synonym query rewrite (extension; lunr 0.7 has no synonym
        filter — semantics modeled on Elasticsearch's query-time
        synonym_graph): each PIPELINE token present in ``synonyms`` is
        REPLACED by its configured expansion list, every replacement
        word normalized through the same analysis pipeline; tokens not
        in the map pass through. Scoring then treats the rewritten
        list exactly as if the user typed it — per-position qtf,
        prefix expansion, and lunr's conjunctive intersection all
        apply to the rewritten positions (so an expansion keeps the
        original word only if the map lists it). A replacement that
        normalizes to nothing (stopword) drops out. Driver-side only:
        the map is query config, like the query text itself."""
        out: List[str] = []
        for t in tokens:
            reps = synonyms.get(t)
            if reps is None:
                out.append(t)
                continue
            for r in reps:
                out.extend(self.pipeline(tokenize(r)))
        return out

    def related_terms(
        self, word: str, k: int = 10, min_co_df: int = 2
    ) -> DataFrame:
        """Related searches (extension): terms co-occurring with
        ``word`` across documents, ranked by pointwise mutual
        information — (term, co_df, pmi) where
        pmi = ln(co_df · N / (df_word · df_term)). High-pmi terms
        appear together far more than chance; ``min_co_df`` suppresses
        one-off noise pairs.

        Physical plan: the seed term's postings (term-pruned scan —
        isin pushdown on the postings/blocks store) semi-drive a join
        back into postings on _docid (the postings cache is hash-
        partitioned by _docid, so the co-occurrence pass is exchange-
        free on the big side), ONE map-side-combined groupBy(term), a
        dimension-sized join for df, a broadcast 1-row crossJoin for
        df_word, then top-k. Cost is proportional to the postings of
        the seed term's documents — never all-pairs, never corpus-
        squared."""
        idx = self.index
        empty = local_relation(
            self.spark, [], "term string, co_df long, pmi double"
        )
        if idx.terms is None:
            return empty
        toks = self.pipeline(tokenize(word))
        if not toks:
            return empty
        t = toks[0]
        if idx.postings is None:
            raise EngineError(
                "related_terms needs row-level postings (blocks-only "
                "indexes would decode the full store; reopen with postings)"
            )
        self._ensure_fulltext_materialized()
        seed_docs = idx.postings_subset([t]).select(DOCID)
        co = (
            idx.postings.join(seed_docs, DOCID)
            .groupBy("term")
            .agg(F.count("*").cast("long").alias("co_df"))
        )
        dt = F.broadcast(
            idx.terms.filter(F.col("term") == t).select(
                F.col("df").alias("__df_t")
            )
        )
        n = float(max(idx.n_docs, 1))
        pmi = F.round(
            F.log(
                F.col("co_df").cast("double")
                * F.lit(n)
                / (F.col("__df_t").cast("double") * F.col("df").cast("double"))
            ),
            6,
        )
        return (
            co.join(idx.terms.select("term", "df"), "term")
            .crossJoin(dt)
            .filter(
                (F.col("term") != t) & (F.col("co_df") >= int(min_co_df))
            )
            .select("term", "co_df", pmi.alias("pmi"))
            .orderBy(F.col("pmi").desc(), F.col("term").asc())
            .limit(int(k))
        )

    def top_terms(self, group_field: str, k: int = 5) -> DataFrame:
        """Keyword extraction (extension): the top-k terms per group
        (e.g. per conversation) by summed tf·idf over the group's docs —
        (group_field, term, weight). The weight is Σ_docs tf(doc, term)
        · idf(term) with the index's own lunr tf/idf, so keywords are
        corpus-contrastive (stopword-ish terms sink via idf).

        Physical plan: postings ⨝ docs' slim (docid, group) projection
        on _docid (the postings cache is already hash-partitioned by
        _docid, so only the slim projection shuffles), ONE
        map-side-combined groupBy (group, term), a broadcast join
        against the dimension-sized terms table for idf, then a per-
        group top-k window — partition state bounded by the group's own
        vocabulary, never corpus size."""
        idx = self.index
        if idx.postings is None:
            raise EngineError(
                "top_terms needs row-level postings (blocks-only indexes "
                "would decode the full store; reopen with postings)"
            )
        if group_field not in idx.docs.columns:
            raise EngineError(f"unknown group field {group_field!r}")
        self._ensure_fulltext_materialized()
        groups = idx.docs.select(DOCID, F.col(group_field))
        g = (
            idx.postings.join(groups, DOCID)
            .groupBy(group_field, "term")
            .agg(F.sum("tf").alias("__tf_sum"))
        )
        w = g.join(F.broadcast(idx.terms.select("term", "idf")), "term")
        weight = F.round(F.col("__tf_sum") * F.col("idf"), 6)
        ranked = w.select(
            group_field, "term", weight.alias("weight")
        ).withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(group_field).orderBy(
                    F.col("weight").desc(), F.col("term").asc()
                )
            ),
        )
        return ranked.filter(F.col("__rn") <= int(k)).drop("__rn")

    def significant_terms(
        self,
        input: Optional[Dict[str, Any]] = None,
        k: int = 10,
        min_fg: int = 2,
    ) -> DataFrame:
        """Significant terms (extension; the ES `significant_terms`
        aggregation): terms overrepresented in a filtered result set
        versus the whole corpus — ``(term, fg_df, bg_df, lift)`` with
        lift = (fg_df·N) / (fg_total·bg_df), ordered by (lift desc,
        fg_df desc, term asc). ``input`` is the same payload `search`
        takes (filters / query / range_filters); ``min_fg`` suppresses
        one-off terms.

        Physical plan: the foreground docid set derives exactly like
        `result_df` (compiled predicate on the docs scan — pushable
        columns, no join), then semi-drives ONE join into the postings
        cache on `_docid` (hash-partitioned by `_docid`: the big side
        never shuffles), one map-side-combined groupBy(term), a
        dimension-sized terms join for bg_df, TakeOrdered top-k. Cost ∝
        the foreground documents' postings — never corpus-squared. The
        lift's numerator/denominator are exact integer products in
        doubles, so both engines divide identical values."""
        idx = self.index
        if idx.postings is None:
            raise EngineError(
                "significant_terms needs row-level postings (blocks-only "
                "indexes would decode the full store; reopen with postings)"
            )
        input = dict(input or {})
        hits, _ = self._candidates(input)
        compiled = self.compile(input, has_query=hits is not None)
        base = self._docs_with_query_flag(hits)
        fg_docs = base.filter(
            ir_to_column(compiled.final_pred, hits is not None)
        ).select(DOCID)
        fg_total = fg_docs.count()
        if fg_total == 0:
            return local_relation(
                self.spark, [], "term string, fg_df long, bg_df long, lift double"
            )
        self._ensure_fulltext_materialized()
        fg = (
            idx.postings.join(fg_docs, DOCID)
            .groupBy("term")
            .agg(F.count("*").cast("long").alias("fg_df"))
        )
        lift = F.round(
            (F.col("fg_df").cast("double") * F.lit(float(idx.n_docs)))
            / (F.lit(float(fg_total)) * F.col("df").cast("double")),
            6,
        )
        return (
            fg.join(idx.terms.select("term", "df"), "term")
            .filter(F.col("fg_df") >= int(min_fg))
            .select(
                "term",
                "fg_df",
                F.col("df").cast("long").alias("bg_df"),
                lift.alias("lift"),
            )
            .orderBy(
                F.col("lift").desc(),
                F.col("fg_df").desc(),
                F.col("term").asc(),
            )
            .limit(int(k))
        )

    def trending_terms(
        self,
        ts_field: str,
        split_epoch: int,
        k: int = 10,
        min_recent: int = 1,
    ) -> DataFrame:
        """Trending terms (extension): which index terms gained document
        frequency after ``split_epoch``? Compares each term's
        distinct-document count in the recent window (``ts >= split``)
        against the prior window (``ts < split``) and ranks by the
        add-one-smoothed growth ratio ``(recent+1)/(prior+1)`` —
        ``(term, recent_docs, prior_docs, growth)``, ties broken on
        recent count then term. ``min_recent`` suppresses noise terms
        that barely occur in the recent window.

        Physical plan: the postings cache (one row per (term, docid),
        already hash-partitioned by ``_docid``) joins the slim
        (docid, epoch) projection — only the slim side shuffles — then
        ONE map-side-combined groupBy(term) with conditional counts and
        a TakeOrdered top-k. Per-partition state is bounded by
        vocabulary, never corpus size; no window function, no second
        corpus pass."""
        idx = self.index
        if idx.postings is None:
            raise EngineError(
                "trending_terms needs row-level postings (blocks-only "
                "indexes would decode the full store; reopen with "
                "postings)"
            )
        if ts_field not in idx.docs.columns:
            raise EngineError(f"unknown timestamp field {ts_field!r}")
        self._ensure_fulltext_materialized()
        epoch = F.col(ts_field).cast("timestamp").cast("long")
        slim = idx.docs.select(DOCID, epoch.alias("__ep"))
        split = int(split_epoch)
        g = (
            idx.postings.select("term", DOCID)
            .join(slim, DOCID)
            .groupBy("term")
            .agg(
                F.count(
                    F.when(F.col("__ep") >= split, True)
                ).alias("recent_docs"),
                F.count(
                    F.when(F.col("__ep") < split, True)
                ).alias("prior_docs"),
            )
        )
        growth = F.round(
            (F.col("recent_docs") + F.lit(1.0))
            / (F.col("prior_docs") + F.lit(1.0)),
            6,
        )
        return (
            g.filter(F.col("recent_docs") >= int(min_recent))
            .select("term", "recent_docs", "prior_docs", growth.alias("growth"))
            .orderBy(
                F.col("growth").desc(),
                F.col("recent_docs").desc(),
                F.col("term").asc(),
            )
            .limit(int(k))
        )

    def recency_boosted_topk(
        self,
        query: str,
        ts_field: str,
        tau_s: float,
        ref_epoch: Optional[int] = None,
        k: int = 10,
    ) -> DataFrame:
        """Function-score search (extension): lunr relevance multiplied
        by an exponential time decay — ``boosted = round(round(score,6)
        * exp((ts_epoch - ref_epoch) / tau_s), 6)`` — so fresh turns
        outrank equally-relevant stale ones. Returns the top-k
        ``(_id, score, boosted)`` ordered by the boosted score.

        The decay re-ranks the FULL scored set, not a top-k prefix: a
        low-BM25 recent document can legitimately beat a high-BM25 old
        one, so pruning before the boost would be wrong. The scored set
        is |matching docs| (never the corpus); the join against the slim
        (docid, epoch) projection reuses the postings partitioning and
        the final top-k is a TakeOrdered, so nothing here materializes
        beyond the hit set. Block-max WAND cannot serve this query as-is
        (its per-block score bounds don't carry a per-doc decay factor);
        a scale path would store per-block max-decay alongside max-score
        — deliberately out of scope, the standard scoring route is
        already hit-set-bounded."""
        hits = self.fulltext_hits(query)
        epoch = F.col(ts_field).cast("timestamp").cast("long")
        if ts_field not in self.index.docs.columns:
            raise EngineError(f"unknown timestamp field {ts_field!r}")
        slim = self.index.docs.select(DOCID, epoch.alias("__ep"))
        if ref_epoch is None:
            # anchor the decay at the corpus max ("freshness from now"):
            # (ts - ref) <= 0 keeps decay in (0, 1] and boosted scores
            # O(score) — a far-past anchor blows exp() up to 1e9+ where
            # the 6-decimal grid sits on double-precision ulps and two
            # engines legitimately disagree on the last digit (observed
            # at sf0.1). One dimension-cheap aggregate.
            ref_epoch = slim.agg(F.max("__ep")).collect()[0][0] or 0
        base = F.round(F.col(SCORE), 6)
        decay = F.exp(
            (F.col("__ep").cast("double") - F.lit(float(ref_epoch)))
            / F.lit(float(tau_s))
        )
        boosted = F.round(base * decay, 6)
        return (
            hits.join(slim, DOCID)
            .select(
                F.col(DOCID).alias("_id"),
                base.alias("score"),
                boosted.alias("boosted"),
            )
            .orderBy(
                F.col("boosted").desc(), F.col("_id").cast("string").asc()
            )
            .limit(int(k))
        )

    def pinned_hits(
        self,
        ids: Sequence[Any],
        query: str,
        k: int = 10,
    ) -> DataFrame:
        """ES ``pinned`` query (extension): the listed EXTERNAL ids come
        first — in list order, skipping ids that don't exist (or are
        tombstoned) — then organic relevance hits for ``query`` fill
        the remaining positions, pinned docs excluded from the organic
        tail. Returns ``(pos, _id, pinned, score)`` with NULL score on
        pinned rows (ES pins by an artificial sort value, not a
        relevance score).

        The pinned set resolves through the same loose-equality ids
        path every endpoint uses (``_candidates``); the union the final
        window orders is ≤ ``len(ids) + k`` rows — promotion cost is
        list-sized, never corpus-sized."""
        pinned_df, _ = self._candidates({"ids": list(ids)})
        pin = (
            pinned_df.select(
                F.col(DOCID), F.col(QRANK).cast("long").alias("__r")
            )
            .withColumn("pinned", F.lit(True))
            .withColumn("__s", F.lit(None).cast("double"))
        )
        org = self.fulltext_hits(query).join(
            pinned_df.select(DOCID), DOCID, "left_anti"
        )
        s6 = F.round(F.col(SCORE), 6)
        orgk = (
            org.orderBy(s6.desc(), F.col(DOCID).cast("string").asc())
            .limit(int(k))
            .select(
                F.col(DOCID),
                F.lit(None).cast("long").alias("__r"),
                F.lit(False).alias("pinned"),
                s6.alias("__s"),
            )
        )
        u = pin.unionByName(orgk)
        w = Window.orderBy(
            F.col("pinned").desc(),
            F.col("__r").asc_nulls_last(),
            F.col("__s").desc_nulls_last(),
            F.col(DOCID).cast("string").asc(),
        )
        return (
            u.withColumn("pos", F.row_number().over(w))
            .filter(F.col("pos") <= int(k))
            .select(
                "pos",
                F.col(DOCID).alias("_id"),
                "pinned",
                F.col("__s").alias("score"),
            )
        )

    def dis_max_hits(
        self,
        queries: Sequence[str],
        tie_breaker: float = 0.0,
        k: int = 10,
    ) -> DataFrame:
        """Lucene/ES ``dis_max`` (extension): a doc matching ANY of the
        sub-queries scores ``best + tie_breaker * (sum_others)`` over
        the per-query rounded scores — the standard way to search
        alternative phrasings without letting coordinate matches
        dominate (``tie_breaker=0``: pure max; ``=1``: plain sum).
        Returns the top-k ``(_id, score)``.

        ONE Spark job regardless of sub-query count: the batch scorer
        (``fulltext_hits_batch``) scores all sub-queries in a single
        broadcast join + aggregate; the combine folds per-query
        conditional sums IN QUERY-INDEX ORDER (each (qid, doc) cell is
        a singleton), so float addition order is engine-deterministic
        and the oracle matches bit-for-bit."""
        qs = list(queries)
        empty = local_relation(self.spark, [], "_id long, score double")
        if not qs:
            return empty
        b = self.fulltext_hits_batch(qs)
        s6 = F.round(F.col(SCORE), 6)
        per = b.groupBy(DOCID).agg(
            *[
                F.sum(F.when(F.col("qid") == i, s6)).alias(f"_q{i}")
                for i in range(len(qs))
            ]
        )
        cols = [F.coalesce(F.col(f"_q{i}"), F.lit(0.0)) for i in range(len(qs))]
        best = cols[0]
        for c in cols[1:]:
            best = F.greatest(best, c)
        total = cols[0]
        for c in cols[1:]:
            total = total + c
        combined = F.round(
            best + F.lit(float(tie_breaker)) * (total - best), 6
        )
        return (
            per.select(F.col(DOCID).alias("_id"), combined.alias("score"))
            .orderBy(
                F.col("score").desc(), F.col("_id").cast("string").asc()
            )
            .limit(int(k))
        )

    def field_value_boosted_topk(
        self,
        query: str,
        field: str,
        factor: float = 1.0,
        modifier: str = "sqrt",
        k: int = 10,
    ) -> DataFrame:
        """Function-score ``field_value_factor`` (extension; the other
        standard ES score function next to the decay in
        ``recency_boosted_topk``): lunr relevance multiplied by
        ``modifier(factor * doc[field])`` — ``sqrt`` (default; IEEE
        sqrt is correctly rounded, so the boosted grid is bit-identical
        across engines), ``log1p`` or ``none``. Returns the top-k
        ``(_id, score, boosted)`` ordered by the boosted score,
        ``boosted = round(round(score, 6) * mod(factor * v), 6)``.

        Same shape and scale argument as the decay boost: the full
        scored set (|matching docs|, never the corpus) joins one slim
        (docid, field) projection, TakeOrdered top-k; WAND declines
        (block score bounds don't carry per-doc factors)."""
        if field not in self.index.docs.columns:
            raise EngineError(f"unknown boost field {field!r}")
        mods = {
            "sqrt": F.sqrt,
            "log1p": F.log1p,
            "none": lambda c: c,
        }
        if modifier not in mods:
            raise EngineError(f"unknown field_value_factor modifier {modifier!r}")
        hits = self.fulltext_hits(query)
        slim = self.index.docs.select(
            DOCID, F.col(field).cast("double").alias("__fv")
        )
        base = F.round(F.col(SCORE), 6)
        boosted = F.round(
            base * mods[modifier](F.lit(float(factor)) * F.col("__fv")), 6
        )
        return (
            hits.join(slim, DOCID)
            .select(
                F.col(DOCID).alias("_id"),
                base.alias("score"),
                boosted.alias("boosted"),
            )
            .orderBy(
                F.col("boosted").desc(), F.col("_id").cast("string").asc()
            )
            .limit(int(k))
        )

    def span_first_hits(
        self,
        phrase: str,
        max_start: int,
        field: Optional[str] = None,
        slop: int = 0,
    ) -> DataFrame:
        """Lucene/ES ``span_first`` (extension): docs whose phrase match
        STARTS within the first ``max_start`` analyzed token positions —
        "error in the opening line", "title mentions X". Returns
        ``(_docid, first_pos)`` where ``first_pos`` is the earliest
        matching start (0-based, analyzed-token space).

        Pure composition: ``phrase_hits(with_positions=True)`` already
        returns every ascending start position (either physical route),
        so span_first is one filter on its output — same index-pruned
        cost, no new scan."""
        ph = self.phrase_hits(
            phrase, field=field, slop=slop, with_positions=True
        )
        first = F.element_at("match_positions", 1)
        return ph.filter(first < int(max_start)).select(
            DOCID, first.alias("first_pos")
        )

    def doc_vectors(self) -> DataFrame:
        """Sparse tf-idf feature export from the inverted index:
        (<custom_id_field>, term, weight) with weight = round(tf·idf, 6)
        under the index's own lunr tf/idf — the bridge from the search
        index to downstream ML (clustering, classifiers, dedup on
        lexical features) without re-tokenizing the corpus.

        Physical plan: postings ⨝ broadcast terms(idf) ⨝ the slim
        (docid, id) projection on _docid (postings are already
        hash-partitioned by _docid, so only the slim projection
        shuffles). Output rows = |postings| — the export IS the index,
        streamed, nothing driver-side."""
        idx = self.index
        if idx.postings is None:
            raise EngineError(
                "doc_vectors needs row-level postings (blocks-only "
                "indexes would decode the full store; reopen with "
                "postings)"
            )
        self._ensure_fulltext_materialized()
        id_field = self.configuration.get("custom_id_field", "id")
        if id_field not in idx.docs.columns:
            raise EngineError(f"unknown id field {id_field!r}")
        ids = idx.docs.select(DOCID, F.col(id_field))
        return (
            idx.postings.join(
                F.broadcast(idx.terms.select("term", "idf")), "term"
            )
            .join(ids, DOCID)
            .select(
                F.col(id_field),
                "term",
                F.round(F.col("tf") * F.col("idf"), 6).alias("weight"),
            )
        )

    def index_stats(self) -> DataFrame:
        """One-row index introspection: (n_docs, n_terms, n_postings) —
        corpus size, distinct vocabulary, inverted-index entries.
        n_postings = Σ df over the terms table ((term, _docid) is unique
        in postings), so the stats never touch the postings/blocks store
        — two dimension-sized aggregates crossJoined."""
        idx = self.index
        d = idx.docs.agg(F.count("*").alias("n_docs"))
        if idx.terms is not None:
            p = idx.terms.agg(
                F.count("*").alias("n_terms"),
                F.sum("df").cast("long").alias("n_postings"),
            )
        else:
            p = local_relation(self.spark, [(0, 0)], "n_terms long, n_postings long")
        return d.crossJoin(p).select("n_docs", "n_terms", "n_postings")

    def _fulltext_hits_distributed_expansion(
        self, query: str, min_should_match: Optional[int] = None
    ) -> DataFrame:
        """Scale path for prefix expansions too large for the driver
        (e.g. a 1-char query against a 10^12-turn vocabulary): the whole
        lunr query vector — expansion, similarity boosts, magnitude,
        token masks — is computed as DataFrame aggregates; no term list
        ever reaches the driver.

        Scores equal the driver path's to float rounding (the |q|²
        reduction order is non-deterministic here, so the last ulps can
        differ — the driver path, which covers every expansion a human
        query produces, stays bit-exact to the oracle)."""
        idx = self.index
        empty = local_relation(self.spark, [], f"{DOCID} long, {SCORE} double")
        tokens = self.pipeline(tokenize(query))
        if not tokens or idx.terms is None:
            return empty
        self._ensure_fulltext_materialized()
        n_fields = len(idx.text_fields)
        boosts_sum = sum(b for _, b in idx.text_fields)
        qtf = (1.0 / len(tokens)) * n_fields * boosts_sum

        tokdf = local_relation(
            self.spark, list(enumerate(tokens)), "tok_idx int, tok string"
        )
        # broadcast theta-join: every (token position, expanded term) pair
        exp = idx.terms.join(
            F.broadcast(tokdf), F.col("term").startswith(F.col("tok"))
        )
        sim = F.when(F.col("term") == F.col("tok"), F.lit(1.0)).otherwise(
            F.lit(1.0)
            / F.log(
                F.greatest(
                    F.lit(3.0),
                    (F.length("term") - F.length("tok")).cast("double"),
                )
            )
        )
        exp = exp.select(
            "term",
            "tok_idx",
            "idf",
            (F.lit(qtf) * F.col("idf") * sim).alias("val"),
        ).persist()

        # the expansion cache never outlives this call, whatever fails
        try:
            stats = exp.agg(
                F.sum(F.col("val") * F.col("val")).alias("ss"),
                F.count_distinct("tok_idx").alias("nt"),
            ).collect()[0]
            n_distinct = len(set(tokens))
            if not stats["nt"] or not stats["ss"]:
                return empty
            if min_should_match is None and stats["nt"] < n_distinct:
                # some token has no expansion → conjunctive AND is empty
                return empty
            magnitude = math.sqrt(float(stats["ss"]))

            termvec = exp.groupBy("term").agg(
                # lunr.Vector insert: the FIRST query token (by position)
                # expanding to a term owns its dot-product weight
                F.min(F.struct("tok_idx", "val")).alias("__fw"),
                F.max("idf").alias("__idf"),  # constant within a term
                F.bit_or(F.expr("shiftleft(1L, tok_idx)")).alias("mask"),
            ).select(
                # contribution per posting = qweight × doc-side idf × tf
                "term",
                (F.col("__fw.val") * F.col("__idf")).alias("w"),
                "mask",
            ).persist()
            # tracked on the engine: released by release_expansion_caches
            # after the consumer materializes (search()'s finally)
            self._expansion_caches.append(termvec)
            termvec.count()
        finally:
            exp.unpersist()  # the expansion table is folded into termvec

        if idx.postings is not None:
            postings = idx.postings
        else:
            from .blocks import postings_from_blocks

            postings = postings_from_blocks(idx.posting_blocks)
        joined = postings.join(termvec, "term")
        full_mask = (1 << len(tokens)) - 1
        per_doc = joined.groupBy(DOCID).agg(
            F.bit_or("mask").alias("mask"),
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("term"), (F.col("w") * F.col("tf")).alias("c"))
                )
            ).alias("contribs"),
        )
        score = F.aggregate(
            "contribs", F.lit(0.0), lambda acc, x: acc + x["c"]
        ) / F.lit(magnitude)
        keep = self._admission_pred(full_mask, len(tokens), min_should_match)
        return (
            per_doc.filter(keep).withColumn(SCORE, score).select(DOCID, SCORE)
        )

    def _candidates(
        self, input: Dict[str, Any]
    ) -> Tuple[Optional[DataFrame], bool]:
        """Returns (hits df with _docid, __score?, __qrank?, or None) and
        whether relevance ordering applies."""
        idx = self.index
        if input.get("_ids") is not None:
            ids = list(input["_ids"])
            rows = [(int(v), i) for i, v in enumerate(ids)]
            hits = local_relation(self.spark, rows, f"{DOCID} long, {QRANK} long")
            return hits, True
        if input.get("ids") is not None:
            id_field = self.configuration.get("custom_id_field", "id")
            wanted = [js_key(v) for v in input["ids"]]
            found = {
                r["k"]: r[DOCID]
                for r in self._live(idx.docs).select(
                    F.col(DOCID), F.col(id_field).cast("string").alias("k")
                )
                .filter(F.col("k").isin([w for w in wanted if w is not None]))
                .collect()
            }
            rows = []
            for i, k in enumerate(wanted):
                if k in found:
                    rows.append((int(found[k]), i))
            hits = local_relation(self.spark, rows, f"{DOCID} long, {QRANK} long")
            return hits, True
        if self.configuration.get("native_search_enabled") is False and (
            input.get("query") or input.get("filter")
        ):
            raise EngineError(
                '"query" and "filter" options are not working once native search is disabled'
            )
        rf = input.get("range_filters") or None
        cn = input.get("contains") or None
        if input.get("query") or input.get("filter") or rf or cn:
            if input.get("query"):
                qtext = str(input["query"])
                phrases: List[str] = []
                if '"' in qtext:
                    qtext, phrases = parse_quoted_query(qtext)
                hits = self.fulltext_hits(
                    qtext,
                    fuzzy=bool(input.get("fuzzy")),
                    synonyms=input.get("synonyms") or None,
                )
                for ph in phrases:
                    if not self.pipeline(tokenize(ph)):
                        continue  # stopword-only quote: vacuous
                    hits = hits.join(
                        self.phrase_hits(ph).select(DOCID), DOCID, "left_semi"
                    )
                if rf:
                    # pure-JVM predicate, pushed into the docs scan
                    # (partition/row-group pruning on e.g. a ts column)
                    hits = hits.join(
                        idx.docs.filter(
                            self._range_filter_pred(rf)
                        ).select(DOCID),
                        DOCID,
                        "left_semi",
                    )
            else:
                # filter-only: reference keeps input order (fulltext.search
                # without query returns items in input order). A pure
                # range filter folds into the same scan — no self-join.
                base_docs = idx.docs
                if rf:
                    base_docs = base_docs.filter(
                        self._range_filter_pred(rf)
                    )
                hits = base_docs.select(DOCID).withColumn(
                    QRANK, F.col(DOCID)
                )
            if cn:
                # substring constraint (extension): the trigram-pruned
                # (or scan) docid set restricts the candidates, so facet
                # buckets / totals cross with it exactly like the query
                hits = hits.join(self._contains_docids(cn), DOCID, "left_semi")
            if callable(input.get("filter")):
                flt = input["filter"]
                passing = self._callback_filter_docids(flt)
                hits = hits.join(passing, DOCID, "left_semi")
            return hits, True
        return None, False

    def _contains_docids(self, cn: Any) -> DataFrame:
        """Docid set for the ``contains`` search option (extension):
        a plain string needle matches the default text field; a
        {field: needle} dict conjoins substring constraints across
        fields. Each needle routes through ``contains_hits`` (trigram
        prune when the cache/artifact exists, projection scan
        otherwise) — the result is a driver-opaque docid DataFrame the
        candidate set semi-joins against."""
        pairs = (
            [(None, cn)] if isinstance(cn, str) else list(cn.items())
        )
        out: Optional[DataFrame] = None
        for fld, needle in pairs:
            d = self.contains_hits(str(needle), field=fld).select(DOCID)
            out = d if out is None else out.join(d, DOCID, "left_semi")
        return out

    def _range_filter_pred(self, rf: Dict[str, Any]) -> Column:
        """``range_filters`` (extension; itemsjs filters are categorical):
        per-field inclusive ``[lo, hi]`` bounds (None = open end) or a
        ``{"gt"|"gte"|"lt"|"lte": value}`` dict, conjoined across fields.
        Pure Column expressions — Catalyst pushes them into the corpus
        scan (min/max row-group pruning on ordered columns like ts), and
        they compose with facets exactly like the query set (the range
        predicate restricts every bucket)."""
        docs = self.index.docs
        pred = F.lit(True)
        for fld, spec in rf.items():
            if fld not in docs.columns:
                raise EngineError(f"unknown range filter field {fld!r}")
            c = F.col(fld)
            if isinstance(spec, dict):
                ops = {
                    "gte": lambda v, c=c: c >= F.lit(v),
                    "gt": lambda v, c=c: c > F.lit(v),
                    "lte": lambda v, c=c: c <= F.lit(v),
                    "lt": lambda v, c=c: c < F.lit(v),
                }
                for k, v in spec.items():
                    if k not in ops:
                        raise EngineError(
                            f"unknown range filter op {k!r} for {fld!r}"
                        )
                    pred = pred & ops[k](v)
            else:
                lo, hi = spec
                if lo is not None:
                    pred = pred & (c >= F.lit(lo))
                if hi is not None:
                    pred = pred & (c <= F.lit(hi))
        return pred

    def _callback_filter_docids(self, flt: Callable) -> DataFrame:
        cols = [c for c in self.index.docs.columns if not c.startswith(FK_PREFIX)]
        schema = f"{DOCID} long"

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import json

            for pdf in batches:
                keep = []
                records = pdf.to_dict("records")
                for rec in records:
                    item = {
                        k: (v.tolist() if hasattr(v, "tolist") else v)
                        for k, v in rec.items()
                        if k != DOCID and not _is_missing(v)
                    }
                    # the user callback sees ORIGINAL values of mixed-type
                    # fields (JSON sidecars), same as returned items
                    for rk in [k for k in item if k.startswith(RAW_PREFIX)]:
                        raw = item.pop(rk)
                        base = rk[len(RAW_PREFIX):]
                        if base in item and raw is not None:
                            item[base] = json.loads(raw)
                    item["_id"] = int(rec[DOCID])
                    if flt(item):
                        keep.append(int(rec[DOCID]))
                yield pd.DataFrame({DOCID: keep})

        return (
            self._live(self.index.docs)
            .select(*cols)
            .mapInPandas(run, schema=schema)
        )

    # ------------------------------------------------------------------
    # search
    # ------------------------------------------------------------------
    def compile(self, input: Dict[str, Any], has_query: bool):
        exists = self._exists_fn(input)
        try:
            return facetir.compile_search(
                input, self.aggregations, exists, has_query=has_query
            )
        except facetir.FacetPanicError as e:
            raise EngineError(str(e)) from e

    def _page_keep(
        self, columns: Sequence[str], input: Dict[str, Any], extra_drop=()
    ) -> List[str]:
        """Page-item projection. Internal columns always drop; with
        ``input["fields"]`` (extension — itemsjs returns whole items)
        only the requested fields survive, plus ``_id`` and the
        requested fields' ``__raw_`` sidecars. The projection is applied
        BEFORE the page collect, so Catalyst prunes the corpus scan to
        the requested columns — on a wide corpus a 2-field page never
        reads the other columns' bytes. Unknown names are ignored (JS
        property-access semantics)."""
        keep = [
            c
            for c in columns
            if not c.startswith(FK_PREFIX) and c not in extra_drop
        ]
        fields = input.get("fields")
        if fields is not None:
            want = {str(f) for f in fields}
            keep = [
                c
                for c in keep
                if c == DOCID
                or c in want
                or (
                    c.startswith(RAW_PREFIX)
                    and c[len(RAW_PREFIX):] in want
                )
            ]
        return keep

    def _docs_with_query_flag(self, hits: Optional[DataFrame]) -> DataFrame:
        docs = self._live(self.index.docs)
        if hits is None:
            return docs
        marked = hits.select(DOCID).withColumn(IN_QUERY, F.lit(True))
        return docs.join(marked, DOCID, "left").withColumn(
            IN_QUERY, F.coalesce(F.col(IN_QUERY), F.lit(False))
        )

    def result_df(self, input: Optional[Dict[str, Any]] = None) -> DataFrame:
        """Filtered + ordered result items as a DataFrame (pre-pagination),
        ``_id`` included. This is the scale-path API; ``search`` collects a
        page of it."""
        input = input or {}
        hits, _ = self._candidates(input)
        compiled = self.compile(input, has_query=hits is not None)
        base = self._docs_with_query_flag(hits)
        flt = base.filter(ir_to_column(compiled.final_pred, hits is not None))
        ordered = self._order(flt, input, hits)
        drop = [
            c
            for c in ordered.columns
            if c.startswith(FK_PREFIX) or c.startswith(RAW_PREFIX)
        ] + [c for c in (IN_QUERY,) if c in ordered.columns]
        out = ordered.drop(*drop).withColumnRenamed(DOCID, "_id")
        if input.get("fields") is not None:
            want = {str(f) for f in input["fields"]}
            out = out.select(
                "_id", *[c for c in out.columns if c in want and c != "_id"]
            )
        return out

    def _order(
        self, df: DataFrame, input: Dict[str, Any], hits: Optional[DataFrame]
    ) -> DataFrame:
        sort = input.get("sort")
        if sort:
            spec = sort
            sortings = self.configuration.get("sortings") or {}
            if isinstance(spec, str):
                spec = sortings.get(spec)
            if isinstance(spec, dict) and spec.get("field"):
                fields = spec["field"]
                orders = spec.get("order") or "asc"
                if not isinstance(fields, list):
                    fields = [fields]
                if not isinstance(orders, list):
                    orders = [orders]
                cols = []
                for i, fld in enumerate(fields):
                    o = orders[i] if i < len(orders) else "asc"
                    cols.append(
                        F.col(fld).desc() if o == "desc" else F.col(fld).asc()
                    )
                cols.append(F.col(DOCID).asc())  # lodash orderBy stability
                return df.orderBy(*cols)
            return df.orderBy(F.col(DOCID).asc())
        if hits is not None:
            if QRANK in hits.columns:
                return df.join(hits.select(DOCID, QRANK), DOCID).orderBy(
                    F.col(QRANK).asc()
                ).drop(QRANK)
            if SCORE in hits.columns:
                return df.join(hits.select(DOCID, SCORE), DOCID).orderBy(
                    F.col(SCORE).desc(), F.col(DOCID).cast("string").asc()
                ).drop(SCORE)
        return df.orderBy(F.col(DOCID).asc())

    def search(self, input: Optional[Dict[str, Any]] = None) -> Dict[str, Any]:
        """Full reference response shape (lib.ts:145-168); collects one page
        of items plus bucket heads. With ``highlight`` (extension), the
        page items are decorated with match spans/snippets — a pure
        driver-side post-pass over the already-collected page (the items
        carry the searchable text; zero extra Spark jobs, any route)."""
        input = input or {}
        resp = self._search_dispatch(input)
        if input.get("highlight") and input.get("query"):
            self._decorate_highlights(resp, input)
        return resp

    def _decorate_highlights(
        self, resp: Dict[str, Any], input: Dict[str, Any]
    ) -> None:
        """Attach ``_highlight`` to each page item: per searchable field,
        the first match's raw-token span (same raw-vs-analyzed contract
        as ``snippet_hits``) plus a ``before``/``after`` context snippet.
        Quoted query segments highlight their first phrase occurrence;
        otherwise the first token any analyzed query token prefix-matches
        (mirroring lunr's prefix expansion). Cost is O(page · doc len) on
        the driver — the page is bounded and already collected."""
        from ..analysis.lunr_analysis import build_token_transform

        opts = input.get("highlight")
        opts = opts if isinstance(opts, dict) else {}
        before = max(int(opts.get("before", 3)), 0)
        after = max(int(opts.get("after", 3)), 0)
        fields = list(
            opts.get("fields")
            or self.configuration.get("searchableFields")
            or []
        )
        q = str(input.get("query") or "")
        tr = build_token_transform(
            is_exact_search=bool(self.configuration.get("isExactSearch")),
            remove_stop_word_filter=bool(
                self.configuration.get("removeStopWordFilter")
            ),
        )
        phrases: List[Tuple[str, ...]] = []
        for seg in _QUOTED_RE.findall(q):
            terms = tuple(w for w in (tr(t) for t in tokenize(seg)) if w)
            if terms:
                phrases.append(terms)
        # quoted words still score in the bag (parse_quoted_query), so
        # they also participate in the bag-token fallback — only the
        # quote characters drop
        qtoks = tuple(
            w for w in (tr(t) for t in tokenize(q.replace('"', " "))) if w
        )

        def span(raw: List[str]) -> Optional[Tuple[int, int]]:
            toks: List[str] = []
            rawidx: List[int] = []
            for i, t in enumerate(raw):
                w = tr(t)
                if w is not None:
                    toks.append(w)
                    rawidx.append(i)
            for ph in phrases:
                m = len(ph)
                for i in range(len(toks) - m + 1):
                    if tuple(toks[i : i + m]) == ph:
                        return rawidx[i], rawidx[i + m - 1]
            for i, w in enumerate(toks):
                if any(w.startswith(qt) for qt in qtoks):
                    return rawidx[i], rawidx[i]
            return None

        for it in resp.get("data", {}).get("items") or []:
            hl: Dict[str, Any] = {}
            for fld in fields:
                raw = tokenize(it.get(fld))
                got = span(raw)
                if got is None:
                    continue
                lo, hi = got
                hl[fld] = {
                    "hl_from": lo,
                    "hl_to": hi,
                    "snippet": " ".join(
                        raw[max(0, lo - before) : hi + 1 + after]
                    ),
                }
            if hl:
                it["_highlight"] = hl

    def explain_search(
        self, input: Optional[Dict[str, Any]] = None
    ) -> Dict[str, Any]:
        """Route introspection: which physical route ``search()`` takes
        for this input, with the cost model's predicted seconds and the
        reason each faster route declined — no Spark jobs run. The route
        comes from ``_select_route``, the selector ``_search_dispatch``
        calls, so the answer is the dispatcher's answer (production
        observability for the r2 mis-route class of surprises: ask the
        engine, don't guess from timings)."""
        input = input or {}
        trace: List[str] = []
        exp: Dict[str, Any] = {
            "n_docs": int(self.index.n_docs),
            "tombstones_active": bool(self._tombstones_active()),
            "has_facet_blocks": self.index.facet_posting_blocks is not None,
            "trace": trace,
        }
        exp["route"] = self._select_route(input, trace)
        exp["why"] = _ROUTE_WHY[exp["route"]]
        return exp

    def _select_route(
        self, input: Dict[str, Any], trace: Optional[List[str]] = None
    ) -> str:
        """The physical route that serves ``input`` — the one owner of
        the route decision (``_search_dispatch`` and ``explain_search``
        both ask here). ``trace`` collects the reason each faster route
        declined."""
        if self.configuration.get("native_search_enabled") is False and (
            input.get("query") or input.get("filter")
        ):
            raise EngineError(
                '"query" and "filter" options are not working once native search is disabled'
            )
        if self._wand_search_applies(input):
            return "wand_topk"
        if trace is not None:
            trace.append("wand_topk: input shape not a pure relevance query page")
        if self._wand_filtered_search_applies(input):
            return "wand_filtered"
        if trace is not None:
            trace.append("wand_filtered: input shape not a filtered query page")
        if self._facetblock_search_applies(input, trace):
            return "facet_blocks"
        return "standard_scan"

    def _search_dispatch(self, input: Dict[str, Any]) -> Dict[str, Any]:
        t0 = time.time()
        per_page, page = _parse_paging(input)
        fast = {
            "wand_topk": self._search_wand,
            "wand_filtered": self._search_wand_filtered,
            "facet_blocks": self._search_facetblocks,
        }.get(self._select_route(input))
        if fast is not None:
            # a fast route that declines mid-flight (an oversized prefix
            # expansion, or filters that don't reduce to WAND groups)
            # falls through to the scan, exactly: the fast routes' shapes
            # exclude one another (wand_topk needs no ``filters``,
            # wand_filtered needs ``filters``, facet_blocks needs no
            # ``query``), so no other fast route could have applied
            try:
                resp = fast(input)
                if resp is not None:
                    return resp
            except _ExpansionTooLarge:
                pass  # oversized prefix: the standard path spills distributed
        with self._request_caches(release_expansions=True) as persisted:
            return self._search_standard(input, per_page, page, t0, persisted)

    @contextlib.contextmanager
    def _request_caches(
        self, release_expansions: bool = False
    ) -> Iterator[List[DataFrame]]:
        """Owner of a request's caches: the request appends every
        DataFrame it persists to the yielded list, and each is
        unpersisted when the block exits — also when a bad sort spec, a
        callback-filter failure or a collect error escapes mid-flight.
        ``release_expansions`` also drops the distributed
        prefix-expansion caches (the routes that expand a query)."""
        persisted: List[DataFrame] = []
        try:
            yield persisted
        finally:
            for df in persisted:
                df.unpersist()
            if release_expansions:
                self.release_expansion_caches()

    def _search_standard(
        self,
        input: Dict[str, Any],
        per_page: int,
        page: int,
        t0: float,
        persisted: List[DataFrame],
    ) -> Dict[str, Any]:
        from concurrent.futures import ThreadPoolExecutor

        t_search = time.time()
        hits, _ = self._candidates(input)
        if hits is not None:
            # materialize the scored candidates ONCE; the facets and
            # page jobs below both read this cache
            hits = hits.persist()
            persisted.append(hits)
            hits.count()
        compiled = self.compile(input, has_query=hits is not None)
        base = self._docs_with_query_flag(hits)
        if hits is not None:
            base = base.persist()
            persisted.append(base)
        flt = base.filter(ir_to_column(compiled.final_pred, hits is not None))
        search_time = time.time() - t_search

        t_par = time.time()
        sa = input.get("search_after")
        if sa is not None:
            # keyset ("cursor") pagination — the scale-native alternative
            # to deep offset paging (offset N scans and discards N rows;
            # the keyset predicate is a pure filter Catalyst pushes below
            # the top-k, so page 10^6 costs the same as page 1).
            # Contract (extension): relevance mode only; pages are ordered
            # by (round(score, 6) DESC, str(_id) ASC) — the rounded score
            # IS the cursor key, so the (score, _id) pair each item
            # carries back in ``_score`` resumes exactly after itself.
            if input.get("sort") or hits is None or SCORE not in hits.columns:
                raise EngineError(
                    "search_after requires a relevance-ordered query "
                    "(query present, no sort, no _ids/ids)"
                )
            try:
                s_cur, id_cur = round(float(sa[0]), 6), str(sa[1])
            except (TypeError, ValueError, IndexError):
                raise EngineError(
                    "search_after must be [last_score, last_id]"
                )
            sc = F.round(F.col(SCORE), 6)
            pred = (sc < F.lit(s_cur)) | (
                (sc == F.lit(s_cur))
                & (F.col(DOCID).cast("string") > F.lit(id_cur))
            )
            ordered = (
                flt.join(hits.select(DOCID, SCORE), DOCID)
                .filter(pred)
                .withColumn("_score", sc)
                .orderBy(
                    F.col("_score").desc(),
                    F.col(DOCID).cast("string").asc(),
                )
                .drop(SCORE)
            )
            page_df = ordered.limit(per_page)  # page number is moot
        else:
            ordered = self._order(flt, input, hits)
            page_df = ordered.offset((page - 1) * per_page).limit(per_page)
        keep = self._page_keep(
            page_df.columns, input, (IN_QUERY, QRANK, SCORE)
        )

        # facets pass and page collect are independent given the cached
        # hits — submit them from two driver threads so Spark overlaps
        # the jobs (both pure JVM; on a cluster this hides the smaller
        # job entirely, in local mode the tasks interleave). The facets
        # pass is one corpus pass: all facet buckets + the result total.
        with ThreadPoolExecutor(max_workers=2) as ex:
            f_facets = ex.submit(
                self._get_buckets_impl,
                input,
                compiled,
                base,
                hits is not None,
                with_total=True,
            )
            f_page = ex.submit(_timed, _collect_items, page_df, keep)
            aggregations, total = f_facets.result()
            items, page_s = f_page.result()
        facets_time = time.time() - t_par
        if total is None:  # no facet fields configured → plain count
            total = flt.count()
        t_s = time.time()
        all_filtered_items = None
        if input.get("is_all_filtered_items") and not (
            input.get("sort") is None and hits is not None
        ):
            self._guard_all_filtered_collect(total)
            all_filtered_items = _collect_items(ordered, keep)
        sorting_time = page_s + (time.time() - t_s)
        return _response(
            per_page, page, total, t0, search_time, facets_time,
            sorting_time, items, all_filtered_items, aggregations,
        )

    # ------------------------------------------------------------------
    # WAND-accelerated search (block-backed, facetless configs)
    # ------------------------------------------------------------------
    def _wand_eligible(self, input: Dict[str, Any]) -> bool:
        """The input shape both block-max WAND routes serve: a
        relevance-ordered query page over the posting blocks with no
        constraint WAND's range walk cannot see."""
        return bool(
            input.get("query")
            # quoted segments add phrase constraints WAND can't see
            and '"' not in str(input.get("query"))
            # fuzzy rewrite / keyset cursors live in the standard path
            and not input.get("fuzzy")
            and input.get("search_after") is None
            # driver-set tombstones keep the WAND routes: the page
            # over-fetches k+|deleted| (bounded, see fulltext_topk) and
            # the total / buckets are live-filtered; bulk DataFrame
            # tombstones have no driver-known bound — standard path
            and self._tombstone_df is None
            and len(self._tombstone_docids) <= 10_000
            and self.index.posting_blocks is not None
            and not input.get("sort")
            and not callable(input.get("filter"))
            and input.get("_ids") is None
            and input.get("ids") is None
            and not input.get("not_filters")
            and not input.get("filters_query")
            and not input.get("range_filters")
            # substring constraints prune via the trigram set — a
            # docid semi-join WAND's range walk can't see
            and not input.get("contains")
            and not input.get("is_all_filtered_items")
        )

    def _wand_search_applies(self, input: Dict[str, Any]) -> bool:
        """Relevance-ordered search with nothing to cross — the page is
        exactly the WAND top-k over the block store, and the total is a
        membership count (no per-doc score materialization anywhere)."""
        return (
            self._wand_eligible(input)
            and not self.index.facet_fields
            and not input.get("filters")
        )

    def _ranked_page(
        self, topk: DataFrame, page: int, per_page: int, input: Dict[str, Any]
    ) -> List[Dict[str, Any]]:
        """Collect the items of page ``page`` from a (_docid, __score)
        top-k in relevance order: offset/limit over the ranked top-k,
        one broadcast join to the docs, re-ordered for the page."""
        by_rank = (F.col(SCORE).desc(), F.col(DOCID).cast("string").asc())
        ranked = (
            topk.orderBy(*by_rank)
            .offset((page - 1) * per_page)
            .limit(per_page)
        )
        page_docs = self.index.docs.join(
            F.broadcast(ranked.select(DOCID, SCORE)), DOCID
        ).orderBy(*by_rank)
        keep = self._page_keep(page_docs.columns, input, (SCORE,))
        return _collect_items(page_docs, keep)

    def _search_wand(self, input: Dict[str, Any]) -> Dict[str, Any]:
        t0 = time.time()
        per_page, page = _parse_paging(input)
        query = input["query"]

        t_s = time.time()
        analyzed = self._query_vector(
            query, synonyms=input.get("synonyms") or None
        )
        search_time = time.time() - t_s
        if analyzed is None:
            return _response(per_page, page, 0, t0, search_time, 0, 0, [])

        # total = conjunctive membership count: mask-only aggregate over
        # the query terms' decoded blocks — no contribution collection
        # (live-filtered: tombstoned matches don't count)
        total = self._live(self._query_membership(analyzed)).count()

        t_p = time.time()
        topk = self.fulltext_topk(query, page * per_page, _analyzed=analyzed)
        items = self._ranked_page(topk, page, per_page, input)
        return _response(
            per_page, page, total, t0, search_time, 0, time.time() - t_p, items
        )

    def _query_membership(self, analyzed) -> DataFrame:
        """Docids matching the analyzed query conjunctively — a mask-only
        aggregate over the query terms' postings. No contribution
        collection, no score materialization: the cheap form of query
        membership for totals and bucket crossing."""
        qv, _idf = analyzed
        full_mask = (1 << qv.n_tokens) - 1
        mrows = [
            (t, sum(1 << i for i in qv.term_tokens[t])) for t in qv.weights
        ]
        subset = self.index.postings_subset(
            list(qv.weights), est=self._postings_estimate(qv.weights)
        )
        if len(mrows) <= self.MAX_MAP_LITERAL_TERMS:
            mmap = F.create_map(
                *[x for t, m_ in mrows for x in (F.lit(t), F.lit(m_))]
            )
            masked = subset.withColumn("mask", mmap[F.col("term")])
        else:  # big prefix expansion: broadcast join, not a giant literal
            mdf = local_relation(self.spark, mrows, "term string, mask long")
            masked = subset.join(F.broadcast(mdf), "term")
        return (
            masked.groupBy(DOCID)
            .agg(F.bit_or("mask").alias("mask"))
            .filter(F.col("mask") == full_mask)
            .select(DOCID)
        )

    # ------------------------------------------------------------------
    # filtered-WAND search (query + filters over block-backed configs)
    # ------------------------------------------------------------------
    def _filters_to_wand_groups(
        self, input: Dict[str, Any]
    ) -> Optional[List[List[str]]]:
        """compile_search's final_pred for a plain ``filters`` input,
        re-expressed as CNF groups of facet terms (``field␟key``; OR
        within a group, AND across groups): a conjunctive facet value is
        its own group, a disjunctive field's values share one. Returns
        None when the shape doesn't reduce (unknown field — the caller's
        compile raises the contract error).

        Reproduces the reference's missing-key quirks exactly
        (helpers.ts:171-194, facets.ts:141-150): a conjunctive value
        missing from the dimension BEFORE any present one is ignored;
        one missing AFTER any present one empties the result; a
        disjunctive field whose values are ALL missing empties the
        result; if NO filter value exists at all, the result is empty.
        'Empty result' is encoded as one term-less group (matches
        nothing in every docid range)."""
        from .facetblocks import SEP

        exists = self._exists_fn(input)
        groups: List[List[str]] = []
        started = False  # the conjunctive fold has a defined state
        poisoned = False
        any_ok = False
        n_vals = 0
        # same iteration order as facetir.input_to_facet_filters
        for fld, values in (input.get("filters") or {}).items():
            if values is None or len(values) == 0:
                continue
            agg = self.aggregations.get(fld)
            if agg is None:
                return None
            if agg.get("conjunction") is not False:
                for raw in values:
                    n_vals += 1
                    key = js_key(raw)
                    if key is not None and exists(fld, key):
                        groups.append([fld + SEP + key])
                        started = True
                        any_ok = True
                    elif started:
                        poisoned = True  # conj fold -> FALSE
            else:
                union = []
                for raw in values:
                    n_vals += 1
                    key = js_key(raw)
                    if key is not None and exists(fld, key):
                        union.append(fld + SEP + key)
                if union:
                    any_ok = True
                    groups.append(union)
                else:
                    poisoned = True  # all-missing disjunctive union = FALSE
        if poisoned or (n_vals > 0 and not any_ok):
            return [[]]
        return groups

    def _wand_filtered_search_applies(self, input: Dict[str, Any]) -> bool:
        """Query + plain conjunctive/disjunctive filters over an index
        with BOTH block stores and a selective filter set: the page and
        its scores come from filtered block-max WAND instead of scoring
        every query candidate (the reference's commonest request shape,
        tests/search.spec.ts:105-170). Bucket counts and the total still
        need query membership, but only as a mask aggregate — never the
        per-doc contribution lists."""
        filters = input.get("filters") or {}
        if not (
            self._wand_eligible(input)
            and filters
            and self.index.facet_posting_blocks is not None
        ):
            return False
        fieldset = set(self.index.facet_fields)
        if any(fld not in fieldset for fld in filters):
            return False
        if self._facet_dim_cache() is None:
            return False
        # the WAND filter decodes every filter value's posting blocks
        per_field = self._filter_value_counts(filters)
        if not per_field:
            return False
        return self._route_block_cost(sum(per_field), len(filters))

    def _search_wand_filtered(
        self, input: Dict[str, Any]
    ) -> Optional[Dict[str, Any]]:
        """search({query, filters}) without materializing scores for the
        full candidate set: the page + scores come from FILTERED
        block-max WAND (the facet intersection runs inside each admitted
        range's scoring group), the total + bucket counts from ONE
        corpus pass over a mask-only query-membership set. The response
        is bit-identical to the standard path (battery-proven). Returns
        None to decline (caller falls through to the standard path)."""
        from concurrent.futures import ThreadPoolExecutor

        t0 = time.time()
        per_page, page = _parse_paging(input)
        query = input["query"]

        t_s = time.time()
        analyzed = self._query_vector(  # _ExpansionTooLarge → caller
            query, synonyms=input.get("synonyms") or None
        )
        groups = self._filters_to_wand_groups(input)
        if groups is None:
            return None

        def run_page():
            if per_page == 0 or analyzed is None:
                return []
            topk = self.fulltext_topk_filtered(
                query,
                page * per_page,
                filter_groups=groups,
                _analyzed=analyzed,
            )
            return self._ranked_page(topk, page, per_page, input)

        with self._request_caches(release_expansions=True) as persisted:
            if analyzed is None:
                membership = local_relation(self.spark, [], f"{DOCID} long")
            else:
                membership = self._query_membership(analyzed)
            membership = membership.persist()
            persisted.append(membership)
            membership.count()
            compiled = self.compile(input, has_query=True)
            base = self._docs_with_query_flag(membership).persist()
            persisted.append(base)
            search_time = time.time() - t_s

            # one corpus pass for all facet buckets + the result total,
            # next to the page
            t_par = time.time()
            with ThreadPoolExecutor(max_workers=2) as ex:
                f_facets = ex.submit(
                    self._get_buckets_impl,
                    input,
                    compiled,
                    base,
                    True,
                    with_total=True,
                )
                f_page = ex.submit(_timed, run_page)
                aggregations, total = f_facets.result()
                items, page_s = f_page.result()
            facets_time = time.time() - t_par
            if total is None:  # defensive: this path requires facet fields
                total = base.filter(
                    ir_to_column(compiled.final_pred, True)
                ).count()
            return _response(
                per_page, page, total, t0, search_time, facets_time,
                page_s, items, None, aggregations,
            )

    # ------------------------------------------------------------------
    # facet-block search (index-side set algebra, block-backed configs)
    # ------------------------------------------------------------------
    def _facetblock_search_applies(
        self, input: Dict[str, Any], trace: Optional[List[str]] = None
    ) -> bool:
        """Filter-algebra search over an index with facet posting blocks:
        candidates and per-field bucket filter sets come from per-value
        docid posting lists (the reference's bitmap algebra,
        helpers.ts:147-253), never a corpus predicate scan. Covers
        conjunctive, disjunctive (self-exclusion), negative and DNF
        ``filters_query`` inputs — the exists-probe / missing-value
        quirks live in the shared IR compiler, so parity is inherited.
        Queries, _ids/ids and callback filters keep the standard path.
        ``trace`` (explain_search) collects the reason for each decline."""

        def no(reason: str) -> bool:
            if trace is not None:
                trace.append(reason)
            return False

        if self.index.facet_posting_blocks is None:
            return no("no facet posting blocks on this index")
        if self._tombstones_active():
            # the block algebra derives candidates from the STALE store;
            # the scan path applies the live filter at the docs choke
            return no("tombstones active: block store is stale")
        if not (
            input.get("filters")
            or input.get("not_filters")
            or input.get("filters_query")
        ):
            # unfiltered search: the scan path is one pass
            return no("no filters: the scan path is one pass")
        if (
            input.get("query")
            or input.get("_ids") is not None
            or input.get("ids") is not None
            or callable(input.get("filter"))
            or input.get("range_filters")
            or input.get("contains")
        ):
            return no(
                "query/ids/callback/range/contains input keeps the scan path"
            )
        # the driver-side dim cache backs exists-probes and bucket
        # assembly; huge dims use their dedicated distributed path
        if self._facet_dim_cache() is None:
            return no("huge dimension: dedicated distributed path")
        # cost estimate from the cached global counts: the block path
        # decodes EVERY filter value's posting list and joins them, so
        # its row work is the SUM of the values' doc counts; the scan
        # path's is the corpus. Negative/DNF-only inputs have
        # corpus-sized candidates — scan wins there outright.
        per_field = self._filter_value_counts(input.get("filters") or {})
        if not per_field:
            return no("negative/DNF-only input: candidates are corpus-sized")
        chose = self._route_block_cost(sum(per_field), len(per_field), trace)
        if not chose and trace is not None and self.ROUTER_FORCE is None:
            trace.append("cost model picked the scan")
        return chose

    def _filter_value_counts(self, filters: Dict[str, Any]) -> List[int]:
        """Per filtered field (an empty value list skips the field), the
        summed cached global doc counts of its values: the posting rows
        a block route decodes for that field."""
        glob = self._facet_global or {}
        return [
            sum(glob.get(fld, {}).get(js_key(v) or "", 0) for v in vals)
            for fld, vals in filters.items()
            if vals
        ]

    def _route_block_cost(
        self, est: int, n_filtered: int, trace: Optional[List[str]] = None
    ) -> bool:
        """Predicted-seconds comparison for the block-vs-scan route (see
        the ROUTER_* constants for the model and its calibration).
        ``est`` = summed global doc counts of the filter values;
        ``n_filtered`` = filtered field count (one docid-set count pass
        each). Ties go to the scan: a mis-route is only a perf cliff,
        and the scan path is the simpler plan."""
        if self.ROUTER_FORCE is not None:
            if trace is not None:
                trace.append(f"ROUTER_FORCE={self.ROUTER_FORCE!r}")
            return self.ROUTER_FORCE == "blocks"
        j = self.ROUTER_JOB_SECONDS
        t_scan = 2 * j + max(self.index.n_docs, 1) / self.ROUTER_SCAN_ROWS_PER_SEC
        t_block = (n_filtered + 5) * j + est / self.ROUTER_BLOCK_ROWS_PER_SEC
        if trace is not None:
            trace.append(
                f"predicted scan {t_scan:.4f}s vs blocks {t_block:.4f}s "
                f"(est_posting_rows={est}, n_filtered_fields={n_filtered})"
            )
        return t_block < t_scan

    def _search_facetblocks(self, input: Dict[str, Any]) -> Dict[str, Any]:
        from concurrent.futures import ThreadPoolExecutor

        from .facetblocks import BlockSetAlgebra

        t0 = time.time()
        per_page, page = _parse_paging(input)
        compiled = self.compile(input, has_query=False)
        alg = BlockSetAlgebra(
            self.index, self.index.facet_posting_blocks, self._facet_global
        )
        with self._request_caches() as persisted:
            # the final-set job below materializes the bucket sets'
            # caches as it reads through them (result_pred is built from
            # the same conjuncts), so the count jobs reuse them
            counts, count_jobs = self._facetblock_count_plan(
                alg, compiled, persisted, [compiled.final_pred]
            )
            t_s = time.time()
            final = alg.docids(compiled.final_pred)
            total = self._block_set_size(final)
            search_time = time.time() - t_s

            t_f = time.time()
            flt = (
                self.index.docs
                if final is True
                else self.index.docs.join(alg.as_df(final), DOCID, "left_semi")
            )
            ordered = self._order(flt, input, None)
            page_df = ordered.offset((page - 1) * per_page).limit(per_page)
            keep = self._page_keep(page_df.columns, input)
            with ThreadPoolExecutor(max_workers=len(count_jobs) + 1) as ex:
                f_page = ex.submit(_timed, _collect_items, page_df, keep)
                futures = [ex.submit(job) for job in count_jobs]
                for f in futures:
                    counts.update(f.result())
                items, page_s = f_page.result()
            aggregations = self._assemble_buckets(
                input, counts, self._facet_dim_cache()
            )
            facets_time = time.time() - t_f

            all_filtered_items = None
            if input.get("is_all_filtered_items"):
                self._guard_all_filtered_collect(total)
                all_filtered_items = _collect_items(ordered, keep)
            return _response(
                per_page, page, total, t0, search_time, facets_time,
                page_s, items, all_filtered_items, aggregations,
            )

    def _facetblock_count_plan(
        self,
        alg,
        compiled,
        persisted: List[DataFrame],
        also: Sequence[tuple] = (),
    ) -> Tuple[Dict[str, Dict[str, int]], List[Callable[[], Dict]]]:
        """Bucket counts from the facet-block set algebra, planned. Fields
        are grouped by bucket-predicate shape (they differ only by
        disjunctive self-exclusion) and each shape is evaluated ONCE:
          TRUE  → the dimension's cached global counts, zero jobs;
          FALSE → all-zero counts, zero jobs;
          a set → one forward-index pass over docs semi-joined with the
                  (small) docid set, stacked for all fields of the
                  shape — work scales with the FILTER SET, never the
                  per-field posting lists (at 10^12 docs a selective
                  filter search touches its own posting blocks plus
                  |result| rows of the forward index, period).
        The bucket sets (and the sets of ``also``) are persisted into
        ``persisted``, inner sets first, BEFORE any action, so the first
        job through a set fills its cache. Returns the zero-job counts
        and one callable per set-shaped group that runs its count job
        and returns that group's counts."""
        from .facetblocks import _freeze

        groups: Dict[tuple, List[str]] = {}
        gset: Dict[tuple, Any] = {}
        for fld in self.index.facet_fields:
            key = _freeze(compiled.bucket_pred[fld])
            if key not in groups:
                groups[key] = []
                gset[key] = alg.docids(compiled.bucket_pred[fld])
            groups[key].append(fld)
        persisted.extend(
            alg.persist(
                [compiled.bucket_pred[f] for f in self.index.facet_fields]
                + list(also)
            )
        )
        glob = self._facet_global or {}
        counts: Dict[str, Dict[str, int]] = {}
        jobs: List[Callable[[], Dict]] = []
        for key, flds in groups.items():
            s = gset[key]
            if s is False:
                counts.update({f: {} for f in flds})
            elif s is True:
                counts.update({f: dict(glob.get(f, {})) for f in flds})
            else:
                jobs.append(
                    functools.partial(self._stacked_field_counts, s, flds)
                )
        return counts, jobs

    def _block_set_size(self, s) -> int:
        """Doc count of a facet-block docid set (True: every doc)."""
        if s is True:
            return self.index.docs.count()
        return 0 if s is False else s.count()

    # ------------------------------------------------------------------
    # buckets (helpers.ts:388-520)
    # ------------------------------------------------------------------
    def bucket_counts_df(
        self,
        field: str,
        input: Optional[Dict[str, Any]] = None,
    ) -> DataFrame:
        """(key, doc_count) for one facet under the request's crossing —
        zero-count keys preserved. Scale path for a single facet."""
        input = input or {}
        hits, _ = self._candidates(input)
        compiled = self.compile(input, has_query=hits is not None)
        base = self._docs_with_query_flag(hits)
        return self._field_counts(base, field, compiled, hits is not None)

    def facet_rare_terms(
        self,
        field: str,
        max_doc_count: int = 1,
        input: Optional[Dict[str, Any]] = None,
    ) -> DataFrame:
        """ES ``rare_terms`` aggregation (extension): the LONG-TAIL
        inverse of a terms agg — facet keys whose doc_count under the
        request's result set is in (0, ``max_doc_count``], ordered
        doc_count ASC, key ASC. ES computes this approximately with a
        CuckooFilter; over a counted facet dimension the exact answer
        is one filter over the same single-pass bucket counts that
        every facet query already runs (zero extra shuffles), so the
        engine is exact AND oracle-checkable. Zero-count keys are not
        'rare' — they're absent, matching ES."""
        counts = self.bucket_counts_df(field, input)
        return counts.filter(
            (F.col("doc_count") > 0)
            & (F.col("doc_count") <= int(max_doc_count))
        ).orderBy(F.col("doc_count").asc(), F.col("key").asc())

    def bucket_heads_df(
        self,
        field: str,
        input: Optional[Dict[str, Any]] = None,
        size: int = 10,
    ) -> DataFrame:
        """Distributed bucket top-``size`` for ONE facet — the scale path
        for huge facet dimensions (e.g. conv_id at 10^9 conversations)
        where ``get_buckets``'s driver-side assembly would not fit: the
        default itemsjs ordering (doc_count desc, key asc) runs as a
        window over the counted buckets, so only ``size`` rows reach the
        driver. Zero-count buckets are not represented (they can never
        enter a doc_count-descending head unless fewer than ``size``
        buckets are nonzero — callers needing exact reference parity on
        zero-padding use get_buckets)."""
        input = input or {}
        hits, _ = self._candidates(input)
        compiled = self.compile(input, has_query=hits is not None)
        base = self._docs_with_query_flag(hits)
        pred = ir_to_column(compiled.bucket_pred[field], hits is not None)
        counted = (
            base.filter(pred)
            .select(F.explode(F.array_distinct(FK_PREFIX + field)).alias("key"))
            .groupBy("key")
            .agg(F.count("*").alias("doc_count"))
        )
        # orderBy+limit → TakeOrderedAndProject: per-partition top-k
        # heaps merged on the driver; no global sort, no single-partition
        # window — this is what survives a 10^9-key dimension
        return counted.orderBy(
            F.col("doc_count").desc(), F.col("key").asc()
        ).limit(size)

    def _field_counts(
        self, base: DataFrame, field: str, compiled, has_query: bool
    ) -> DataFrame:
        pred = ir_to_column(compiled.bucket_pred[field], has_query)
        counted = (
            base.filter(pred)
            .select(F.explode(F.array_distinct(FK_PREFIX + field)).alias("key"))
            .groupBy("key")
            .agg(F.count("*").alias("doc_count"))
        )
        dim = self.index.facet_values.filter(F.col("field") == field).select(
            "key", "enum_rank"
        )
        return (
            dim.join(counted, "key", "left")
            .withColumn("doc_count", F.coalesce("doc_count", F.lit(0)))
            .select("key", "doc_count", "enum_rank")
        )

    # pseudo-field tag carrying the result-set count through the same
    # aggregation as the facet buckets (not a legal facet field name)
    TOTAL_FIELD = "\x00total"

    def _all_field_counts(
        self,
        base: DataFrame,
        compiled,
        has_query: bool,
        with_total: bool = False,
    ) -> DataFrame:
        """One shuffle for every facet AND (optionally) the result-set
        total: stack (field, key) pairs from all facet columns, gated by
        each field's bucket predicate, plus a pseudo-entry gated by the
        final result predicate. Returns (field, key, doc_count) for
        non-zero groups only — a search() costs ONE corpus pass for all
        of its counting."""
        struct_t = "array<struct<field:string,key:string>>"
        arrays = []
        for fld in self.index.facet_fields:
            pred = ir_to_column(compiled.bucket_pred[fld], has_query)
            arrays.append(
                F.when(pred, _tagged_keys(fld)).otherwise(
                    F.lit(None).cast(struct_t)
                )
            )
        if with_total:
            total_pred = ir_to_column(compiled.final_pred, has_query)
            arrays.append(
                F.when(
                    total_pred,
                    F.array(
                        F.struct(
                            F.lit(self.TOTAL_FIELD).alias("field"),
                            F.lit("").alias("key"),
                        )
                    ),
                ).otherwise(F.lit(None).cast(struct_t))
            )
        stacked = base.select(
            F.explode(F.flatten(F.filter(F.array(*arrays), lambda a: a.isNotNull()))).alias("fk")
        ).select("fk.field", "fk.key")
        return stacked.groupBy("field", "key").agg(
            F.count("*").alias("doc_count")
        )

    def _facetblock_buckets(self, input: Dict[str, Any], with_total: bool):
        """Bucket counts (+ optional result total) from the facet-block
        set algebra — the counting core of ``_search_facetblocks`` for
        callers that need no item page (get_buckets / aggregation)."""
        from .facetblocks import BlockSetAlgebra

        compiled = self.compile(input, has_query=False)
        alg = BlockSetAlgebra(
            self.index, self.index.facet_posting_blocks, self._facet_global
        )
        with self._request_caches() as persisted:
            counts, count_jobs = self._facetblock_count_plan(
                alg, compiled, persisted
            )
            for job in count_jobs:
                counts.update(job())
            total = None
            if with_total:
                total = self._block_set_size(alg.docids(compiled.final_pred))
            return (
                self._assemble_buckets(input, counts, self._facet_dim_cache()),
                total,
            )

    def _stacked_field_counts(
        self, docids: DataFrame, fields: Sequence[str]
    ) -> Dict[str, Dict[str, int]]:
        """Per-field bucket counts of ``fields`` over the docs in
        ``docids``, with no predicate gating — the forward-index count
        pass used when the crossing is already applied as a docid
        semi-join (facet-block search). One explode + one shuffle + one
        collect for the whole field group."""
        base = self.index.docs.join(docids, DOCID, "left_semi")
        arrays = [_tagged_keys(f) for f in fields]
        rows = (
            base.select(F.explode(F.flatten(F.array(*arrays))).alias("fk"))
            .select("fk.field", "fk.key")
            .groupBy("field", "key")
            .agg(F.count("*").alias("doc_count"))
            .collect()
        )
        out: Dict[str, Dict[str, int]] = {f: {} for f in fields}
        for r in rows:
            out[r["field"]][r["key"]] = r["doc_count"]
        return out

    def get_buckets(
        self,
        input: Dict[str, Any],
        compiled=None,
        base: Optional[DataFrame] = None,
        has_query: bool = False,
    ) -> Dict[str, Any]:
        out, _total = self._get_buckets_impl(
            input, compiled, base, has_query, with_total=False
        )
        return out

    def _get_buckets_impl(
        self,
        input: Dict[str, Any],
        compiled=None,
        base: Optional[DataFrame] = None,
        has_query: bool = False,
        with_total: bool = False,
    ):
        """Reference getBuckets (helpers.ts:388-520): one distributed count
        pass (optionally carrying the result-set total as a pseudo-field —
        search() then needs no separate count job), then driver-side
        assembly against the cached facet dimension (zero-count fill,
        selected flags, lodash ordering, facet_stats)."""
        # standalone bucket requests (get_buckets / aggregation endpoint)
        # take the facet-block counting path under the same cost-based
        # routing as search(); callers that already computed candidates
        # (compiled is not None) stay on their scan plan
        if compiled is None and self._facetblock_search_applies(input or {}):
            return self._facetblock_buckets(input or {}, with_total)
        if compiled is None:
            hits, _ = self._candidates(input)
            has_query = hits is not None
            compiled = self.compile(input, has_query=has_query)
            base = self._docs_with_query_flag(hits)

        if not self.index.facet_fields:
            return {}, None

        dim = self._facet_dim_cache()
        if dim is None:
            # facet dimension too large for driver-side assembly: the
            # distributed head path (never collects a dimension)
            return self._get_buckets_huge(
                input, compiled, base, has_query, with_total
            )

        counts_rows = self._all_field_counts(
            base, compiled, has_query, with_total=with_total
        ).collect()
        total: Optional[int] = 0 if with_total else None
        counts: Dict[str, Dict[str, int]] = {f: {} for f in self.index.facet_fields}
        for r in counts_rows:
            if r["field"] == self.TOTAL_FIELD:
                total = r["doc_count"]
                continue
            counts[r["field"]][r["key"]] = r["doc_count"]
        return self._assemble_buckets(input, counts, dim), total

    def _assemble_buckets(
        self,
        input: Dict[str, Any],
        counts: Dict[str, Dict[str, int]],
        dim: Dict[str, List[Tuple[str, int]]],
    ) -> Dict[str, Any]:
        """Driver-side reference-parity bucket assembly (zero-count fill,
        selected flags, lodash ordering, facet_stats) from per-field
        count maps — shared by the scan path and the facet-block path."""
        from ..core.ordering import bucket_sort_spec, order_by
        from ..jsutil import js_is_nan_str, js_parse_int

        out: Dict[str, Any] = {}
        position = 1
        for fld in self.index.facet_fields:
            agg = self.aggregations.get(fld) or {}
            raw_filters = (input.get("filters") or {}).get(fld) or []
            hide_zero = agg.get("hide_zero_doc_count") or False

            buckets = []
            for key, _rank in dim.get(fld, []):
                doc_count = counts[fld].get(key, 0)
                selected = any(
                    isinstance(rv, str) and rv == key for rv in raw_filters
                )
                if hide_zero and doc_count == 0 and not selected:
                    continue
                buckets.append(
                    {"key": key, "doc_count": doc_count, "selected": selected}
                )

            iteratees, sort_orders = bucket_sort_spec(agg)
            buckets = order_by(buckets, iteratees, sort_orders)
            buckets = buckets[: (agg.get("size") or 10)]

            entry: Dict[str, Any] = {
                "name": fld,
                "title": agg.get("title") or humanize(fld),
                "position": position,
                "buckets": buckets,
            }
            position += 1

            if agg.get("show_facet_stats"):
                vals: List[float] = []
                for key, _rank in dim.get(fld, []):
                    if js_is_nan_str(key):
                        raise EngineError(
                            "You cant use chars to calculate the facet_stats."
                        )
                    c = counts[fld].get(key, 0)
                    if c > 0:
                        vals.extend([js_parse_int(key)] * c)
                entry["facet_stats"] = {
                    "min": min(vals) if vals else None,
                    "max": max(vals) if vals else None,
                    "avg": (sum(vals) / len(vals)) if vals else float("nan"),
                    "sum": sum(vals),
                }
            out[fld] = entry
        return out

    def _get_buckets_huge(
        self,
        input: Dict[str, Any],
        compiled,
        base: DataFrame,
        has_query: bool,
        with_total: bool,
    ):
        """Bucket assembly for facet dimensions above
        MAX_DRIVER_FACET_DIM (e.g. conv_id over 10^9 conversations):
        per field one distributed count + TakeOrderedAndProject head —
        only ``size`` rows ever reach the driver; facet_stats runs as a
        distributed aggregate.

        Documented parity caveat vs the reference's in-memory assembly:
        zero-count buckets are not represented (they can only enter a
        head when fewer than ``size`` buckets are nonzero), and bucket
        ordering uses Spark's string ordering (ASCII == lodash; exotic
        UTF-16 surrogate keys may order differently).

        The per-field count jobs (plus the total) are independent Spark
        actions — they are submitted from driver threads so the cluster
        pipelines them instead of running N facet fields serially."""
        from concurrent.futures import ThreadPoolExecutor

        fields = list(self.index.facet_fields)
        with ThreadPoolExecutor(max_workers=min(8, len(fields) + 1)) as ex:
            f_total = (
                ex.submit(
                    lambda: base.filter(
                        ir_to_column(compiled.final_pred, has_query)
                    ).count()
                )
                if with_total
                else None
            )
            f_fields = [
                ex.submit(
                    self._huge_field_entry, input, compiled, base, has_query, fld
                )
                for fld in fields
            ]
            entries = [f.result() for f in f_fields]
            total: Optional[int] = f_total.result() if f_total else None

        out: Dict[str, Any] = {}
        for position, entry in enumerate(entries, start=1):
            entry["position"] = position
            out[entry["name"]] = entry
        return out, total

    def _huge_field_entry(
        self, input, compiled, base: DataFrame, has_query: bool, fld: str
    ) -> Dict[str, Any]:
        """One facet field's bucket head (+ optional facet_stats) for
        _get_buckets_huge — runs on a driver thread; ``position`` is
        stamped by the caller in field order."""
        from ..core.ordering import bucket_sort_spec

        agg = self.aggregations.get(fld) or {}
        raw_filters = (input.get("filters") or {}).get(fld) or []
        selected_keys = [rv for rv in raw_filters if isinstance(rv, str)]
        size = agg.get("size") or 10

        pred = ir_to_column(compiled.bucket_pred[fld], has_query)
        counted = (
            base.filter(pred)
            .select(F.explode(F.array_distinct(FK_PREFIX + fld)).alias("key"))
            .groupBy("key")
            .agg(F.count("*").alias("doc_count"))
            .withColumn(
                "selected",
                F.col("key").isin(selected_keys)
                if selected_keys
                else F.lit(False),
            )
        )

        iteratees, orders = bucket_sort_spec(agg)
        sort_cols = []
        for i, it in enumerate(iteratees):
            o = orders[i] if i < len(orders) else "asc"
            c = F.col(it) if it in ("key", "doc_count", "selected") else F.col("key")
            sort_cols.append(c.desc() if o == "desc" else c.asc())
        sort_cols.append(F.col("key").asc())  # stability tie-break
        # orderBy+limit → per-partition top-k heaps, no global sort
        head = counted.orderBy(*sort_cols).limit(size).collect()
        buckets = [
            {
                "key": r["key"],
                "doc_count": r["doc_count"],
                "selected": bool(r["selected"]),
            }
            for r in head
        ]

        entry: Dict[str, Any] = {
            "name": fld,
            "title": agg.get("title") or humanize(fld),
            "buckets": buckets,
        }

        if agg.get("show_facet_stats"):
            # any non-numeric key in the DIMENSION is an error
            # (reference parity) — checked distributedly
            dim_keys = self.index.facet_values.filter(
                F.col("field") == fld
            ).select("key")
            n_nan = dim_keys.filter(
                ~F.col("key").rlike(r"^\s*[+-]?[0-9]")
                & ~F.trim("key").isin("Infinity", "-Infinity", "+Infinity", "")
            ).limit(1).count()
            if n_nan:
                raise EngineError(
                    "You cant use chars to calculate the facet_stats."
                )
            intval = F.regexp_extract("key", r"^\s*([+-]?[0-9]+)", 1).cast(
                "double"
            )
            srow = counted.select(
                F.col("doc_count"), intval.alias("v")
            ).agg(
                F.min(F.when(F.col("doc_count") > 0, F.col("v"))).alias("mn"),
                F.max(F.when(F.col("doc_count") > 0, F.col("v"))).alias("mx"),
                F.sum(F.col("v") * F.col("doc_count")).alias("sm"),
                F.sum("doc_count").alias("cnt"),
            ).collect()[0]
            cnt = srow["cnt"] or 0
            entry["facet_stats"] = {
                "min": srow["mn"],
                "max": srow["mx"],
                "avg": (srow["sm"] / cnt) if cnt else float("nan"),
                "sum": srow["sm"] or 0,
            }
        return entry

    # ------------------------------------------------------------------
    # aggregation endpoint (lib.ts:253-299)
    # ------------------------------------------------------------------
    def aggregation(self, input: Dict[str, Any]) -> Dict[str, Any]:
        per_page = input.get("per_page") or 10
        page = input.get("page") or 1
        name = input.get("name")
        if name and name not in self.aggregations:
            raise EngineError(f'Please define aggregation "{name}" in config')
        if not name:
            raise EngineError("field name is required")
        # reference mutates config permanently (lib.ts:283-284)
        self.aggregations[name]["size"] = 10000
        search_input = dict(input)
        search_input["page"] = 1
        search_input["per_page"] = 0
        result = self.search(search_input)
        buckets = result["data"]["aggregations"][name]["buckets"]
        return {
            "pagination": {
                "per_page": per_page,
                "page": page,
                "total": len(buckets),
            },
            "data": {"buckets": buckets[(page - 1) * per_page : page * per_page]},
        }

    # ------------------------------------------------------------------
    # similar endpoint (lib.ts:198-247): a broadcast set-overlap self-join
    # ------------------------------------------------------------------
    def similar_df(self, id: Any, options: Dict[str, Any]) -> DataFrame:
        if not options.get("field"):
            raise EngineError("Please define field in options")
        field = options["field"]
        minimum = options.get("minimum") or 0
        docs = self._live(self.index.docs)
        key = js_key(id)
        # type-native anchor predicate where possible: comparing
        # cast(id as string) would defeat parquet pushdown/min-max
        # pruning on a disk-backed corpus (the docs table is written
        # id-ordered for exactly this point lookup)
        id_type = docs.schema["id"].dataType if "id" in docs.columns else None
        if isinstance(
            id_type, (T.LongType, T.IntegerType, T.ShortType, T.DoubleType)
        ) and isinstance(id, (int, float)) and not isinstance(id, bool):
            anchor_pred = F.col("id") == F.lit(id)
        else:
            anchor_pred = F.col("id").cast("string") == key
        anchor_rows = docs.filter(anchor_pred).limit(1).collect()
        if not anchor_rows:
            raise EngineError(f"item with id {id!r} not found")
        anchor = anchor_rows[0]
        vals = anchor[field] if field in anchor.__fields__ else None
        if hasattr(vals, "tolist"):
            vals = vals.tolist()
        anchor_list = list(vals) if isinstance(vals, (list, tuple)) else []

        field_type = docs.schema[field].dataType
        if isinstance(field_type, T.ArrayType) and anchor_list:
            inter = F.size(
                F.array_intersect(
                    F.coalesce(F.col(field), F.array().cast(field_type)),
                    F.lit(anchor_list).cast(field_type),
                )
            )
        else:
            # lodash intersection with a non-array arg -> []
            inter = F.lit(0)
        out = (
            docs.filter(F.col(DOCID) != anchor[DOCID])
            .withColumn("intersection_length", inter)
            .filter(F.col("intersection_length") >= minimum)
            .orderBy(F.col("intersection_length").desc(), F.col(DOCID).asc())
        )
        drop = [c for c in out.columns if c.startswith(FK_PREFIX)]
        return out.drop(*drop).withColumnRenamed(DOCID, "_id")

    def similar(self, id: Any, options: Dict[str, Any]) -> Dict[str, Any]:
        per_page = options.get("per_page") or 10
        page = options.get("page") or 1
        df = self.similar_df(id, options)
        total = df.count()
        rows = df.offset((page - 1) * per_page).limit(per_page).collect()
        return {
            "pagination": {"per_page": per_page, "page": page, "total": total},
            "data": {"items": [_row_to_item(r) for r in rows]},
        }


def _is_missing(v) -> bool:
    if v is None:
        return True
    if isinstance(v, float) and math.isnan(v):
        return True
    return False


def _row_to_item(row) -> Dict[str, Any]:
    import json

    d = row.asDict(recursive=True)
    out = {}
    raws = {}
    for k, v in d.items():
        if k.startswith(RAW_PREFIX):
            if v is not None:
                raws[k[len(RAW_PREFIX):]] = v
            continue
        if _is_missing(v):
            continue
        out[k] = v
    # restore original (pre-schema-coercion) values of mixed-type fields
    # (items_to_df JSON sidecars) — items come back exactly as passed in
    for k, raw in raws.items():
        if k in out:
            out[k] = json.loads(raw)
    return out
