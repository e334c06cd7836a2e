"""Distributed index build.

Produces the three index artifacts the query engine consumes, all as
DataFrames (materializable as Iceberg-layout parquet tables):

* ``docs``       — documents + ``_docid`` + one normalized
                   ``__fk_<field>: array<string>`` column per facet field
                   (JS object-key coercion applied once at build time, so
                   query predicates are pure JVM ``array_contains``).
* ``facet_values`` — (field, key, doc_count, enum_rank): the facet
                   dimension. ``enum_rank`` reproduces JS object key
                   enumeration order (canonical integer keys ascending,
                   then first-occurrence order), the reference's bucket
                   tie-break (/root/reference/src/helpers.ts:421-424 via
                   object key order).
* ``postings`` / ``terms`` — inverted index with lunr-1.0.0 tf
                   (/root/reference/src/fulltext.ts:17-65 semantics): term,
                   docid, tf; and per-term df/idf.

Scale design (10^12 turns):
* docid assignment is a two-phase range-partition + per-partition
  row_number + broadcast prefix-sum offsets — no global single-partition
  window.
* tokenization runs in ``mapInPandas`` (Arrow-batched; no row-at-a-time
  Python UDF plan nodes).
* postings/terms group by ``term`` — hot terms are handled by AQE skew
  splitting for the build aggregation; the persisted layout sorts by term
  so query-time prefix expansion becomes a parquet range scan.
* ``write``/``read`` persist each artifact with per-partition lineage and
  resumable checkpoints (see checkpoint.py).
"""

from __future__ import annotations

import json
import math
import os
from collections import Counter
from dataclasses import dataclass, field as dc_field
from typing import (
    Any, Callable, Dict, Iterator, List, Optional, Sequence, Tuple,
)

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analysis.lunr_analysis import (
    build_pipeline, pipeline_flags, term_positions, tokenize,
)
from ..core import scoring
from .blocks import DEFAULT_BLOCK_SIZE, check_block_layout
from .relations import local_relation

FK_PREFIX = "__fk_"
DOCID = "_docid"
# sidecar column prefix carrying the ORIGINAL (pre-coercion) value of a
# lossy-collapsed item field as JSON (items_to_df); _row_to_item restores
# it so returned items keep the reference's raw scalars
RAW_PREFIX = "__raw_"

# Spark->JS key normalization for facet values is type-directed; see js_key
# in jsutil.py for the scalar contract being reproduced.


def _js_key_col(col, dtype: T.DataType):
    if isinstance(dtype, T.BooleanType):
        return F.when(col, F.lit("true")).otherwise(F.lit("false"))
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        as_long = col.cast("long")
        return F.when(
            col.isNotNull() & (col == as_long.cast(dtype)),
            as_long.cast("string"),
        ).otherwise(col.cast("string"))
    if isinstance(dtype, T.StringType):
        return col
    return col.cast("string")


def facet_keys_col(df: DataFrame, fld: str):
    """array<string> of JS-coerced facet keys for one document column."""
    dtype = df.schema[fld].dataType
    col = F.col(fld)
    if isinstance(dtype, T.ArrayType):
        mapped = F.transform(col, lambda x: _js_key_col(x, dtype.elementType))
        return F.coalesce(
            F.filter(mapped, lambda x: x.isNotNull()), F.array().cast("array<string>")
        )
    scalar = _js_key_col(col, dtype)
    return F.when(scalar.isNotNull(), F.array(scalar)).otherwise(
        F.array().cast("array<string>")
    )


# below this estimated input size the distributed prefix sum's fixed
# job overhead (counts job + range-sampling job + totals job, ~3 s on
# the bench host) exceeds what it saves: route small inputs to the
# one-materialization plan whose only non-parallel step is a window
# over the GROUP table (≤ one row per conversation — bounded by the
# same threshold). Interleaved A/B at 60k turns: 15.9 s -> ~12 s build.
DOCID_DISTRIBUTED_MIN_BYTES = int(
    os.environ.get("SPARK_GRAFT_DOCID_DISTRIBUTED_MIN_BYTES", str(64 << 20))
)
# map-only docid fast path: when every group's last-key values are a
# dense unique integer range (the canonical transcript shape — turn_idx
# 0..n-1 per conversation) and the group-offset table fits a broadcast,
# docid = group offset + (last - min) + 1 needs NO corpus shuffle and
# NO window — the corpus is touched by one broadcast-hash join only.
# Above this group count the offsets stay too big to ship to every
# executor and the shuffle+window path runs instead.
DOCID_BROADCAST_MAX_GROUPS = int(
    os.environ.get("SPARK_GRAFT_DOCID_BROADCAST_MAX_GROUPS", str(2_000_000))
)


def _estimated_input_bytes(df: DataFrame) -> int:
    """Catalyst's plan-time size estimate (file size for file sources;
    ``spark.sql.defaultSizeInBytes`` — effectively infinite — when
    unknown, which safely routes unknown inputs to the distributed
    path)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # estimation must never break the build
        return 1 << 62


def _assign_docids_small(df: DataFrame, keys: List[str], gkeys: List[str]) -> DataFrame:
    """Small-input plan: per-group counts -> global-window prefix sum
    over the GROUP table (single-partition, but ≤ |groups| rows — only
    routed here when the whole input is under
    ``DOCID_DISTRIBUTED_MIN_BYTES``) -> per-group row_number. One lazy
    plan, one materialization job in the caller, no interim caches."""
    counts = df.groupBy(*gkeys).agg(F.count("*").alias("__cnt"))
    wg = (
        Window.orderBy(*[F.col(c) for c in gkeys])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(wg), F.lit(0))
    ).drop("__cnt")
    wr = Window.partitionBy(*gkeys).orderBy(*[F.col(c) for c in keys])
    return (
        df.join(offs, gkeys)
        .withColumn(DOCID, (F.col("__off") + F.row_number().over(wr)).cast("long"))
        .drop("__off")
    )


def assign_docids(
    df: DataFrame,
    order_by: Sequence[str],
    num_partitions: Optional[int] = None,
    distributed: Optional[bool] = None,
) -> DataFrame:
    """1-based dense ``_docid`` under a total ordering, without a global
    single-partition window over the CORPUS anywhere (reference
    semantics: _id = input position, src/fulltext.ts:56-58).

    Cost-routed: inputs whose plan-time size estimate is under
    ``DOCID_DISTRIBUTED_MIN_BYTES`` take ``_assign_docids_small`` (one
    lazy plan — the global window there touches only the group table,
    which the size gate bounds); larger or unknown-size inputs take the
    distributed prefix sum below. Both plans are pure functions of row
    values and produce IDENTICAL assignments (tested), so the route is
    a physical choice only. ``distributed=True/False`` overrides.

    Three-level distributed prefix sum:

    1. per-group counts (group = all order keys but the last, e.g.
       ``conv_id``) — one corpus shuffle, map-side combined;
    2. the *group* table is range-partitioned on the group keys and
       sorted within partitions; per-range totals are one tiny job
       (``num_partitions`` rows to the driver), turned into per-range
       base offsets by a driver-side cumulative sum — the classic
       two-level scan, so no task ever sees more than |groups|/P rows;
    3. group offset = range base + a per-RANGE window prefix sum
       (partitioned by range id → parallel), then per-row ``row_number``
       windowed *within* each group (parallel across groups) — UNLESS
       every group's last-key values form a dense unique integer range
       (detected in the same counts aggregate) and the group table fits
       a broadcast (``DOCID_BROADCAST_MAX_GROUPS``): then the corpus
       side is ONE broadcast hash join + arithmetic (docid = offset +
       last − min + 1) with no shuffle, sort, or window at all — the
       canonical transcript shape (turn_idx 0..n−1 per conversation).

    Determinism contract: range boundaries are SAMPLED once by
    ``repartitionByRange``; the ranged group table is persisted and
    materialized immediately (the totals job), pinning the range→offset
    mapping before any consumer runs. Re-executed/speculative tasks
    re-read that pinned shuffle, so assignments are stable. Callers
    should materialize the result promptly (build_index persists docs
    right after) — the persisted group table stays referenced by the
    result plan either way."""
    keys = list(order_by)
    gkeys = keys[:-1] if len(keys) > 1 else keys
    if distributed is None:
        distributed = _estimated_input_bytes(df) >= DOCID_DISTRIBUTED_MIN_BYTES
    if not distributed:
        return _assign_docids_small(df, keys, gkeys)
    spark = df.sparkSession
    n_part = num_partitions or max(spark.sparkContext.defaultParallelism, 1)

    # pin the (group-count-sized) table BEFORE the range exchange:
    # repartitionByRange runs a boundary-SAMPLING job that would
    # otherwise re-execute the corpus aggregate a second time (measured
    # ~2x the factory cost at 60k turns) — with the persist, sampling
    # and the exchange both read the cache, so the corpus is scanned
    # exactly once here
    last = keys[-1]
    last_numeric = len(keys) > 1 and isinstance(
        df.schema[last].dataType,
        (T.LongType, T.IntegerType, T.ShortType, T.ByteType),
    )
    aggs = [F.count("*").alias("__cnt")]
    if last_numeric:
        # dense-range detection for the map-only fast path: unique
        # (count_distinct == count) AND gapless (max-min+1 == count).
        # The single count_distinct costs one Expand over the SLIM
        # (gkeys, last) projection — never the full rows.
        aggs += [
            F.min(F.col(last)).cast("long").alias("__mn"),
            (
                (F.max(F.col(last)) - F.min(F.col(last)) + 1)
                == F.count("*")
            ).alias("__gapless"),
            (F.count_distinct(F.col(last)) == F.count("*")).alias("__uniq"),
        ]
    else:
        # single order key (group == key): dense ⇔ one row per group
        aggs += [
            F.lit(0).cast("long").alias("__mn"),
            (F.count("*") == 1).alias("__gapless"),
            F.lit(True).alias("__uniq"),
        ]
    counts = df.groupBy(*gkeys).agg(*aggs).persist()
    ranged = (
        counts.repartitionByRange(n_part, *[F.col(c) for c in gkeys])
        .sortWithinPartitions(*gkeys)
        .withColumn("__rid", F.spark_partition_id())
        .persist()
    )
    # one tiny job: per-range totals (≤ n_part rows), pinning the cache
    totals = ranged.groupBy("__rid").agg(
        F.sum("__cnt").alias("__t"),
        F.count("*").alias("__g"),
        F.min(F.col("__gapless") & F.col("__uniq")).alias("__dense"),
    ).collect()
    counts.unpersist()  # folded into the pinned ranged cache now
    base = 0
    bases = []
    n_groups = 0
    all_dense = bool(totals)
    for r in sorted(totals, key=lambda r: r["__rid"]):
        bases.append((int(r["__rid"]), base))
        base += int(r["__t"])
        n_groups += int(r["__g"])
        all_dense = all_dense and bool(r["__dense"])
    if not bases:
        bases = [(0, 0)]
    base_df = local_relation(spark, bases, "__rid int, __base long")

    w_range = (
        Window.partitionBy("__rid")
        .orderBy(*[F.col(c) for c in gkeys])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        ranged.join(F.broadcast(base_df), "__rid")
        .withColumn(
            "__off",
            F.col("__base") + F.coalesce(F.sum("__cnt").over(w_range), F.lit(0)),
        )
        .select(*gkeys, "__off", "__mn")
    )
    if all_dense and n_groups <= DOCID_BROADCAST_MAX_GROUPS:
        # map-only fast path: every group's last-key values are the
        # dense unique range [mn, mn+cnt) (or the group is a single
        # row), so docid = off + (last - mn) + 1 — the prefix sum stays
        # distributed (above), and the CORPUS side is one broadcast
        # hash join + arithmetic: no shuffle, no sort, no window. This
        # is the canonical transcript shape (turn_idx 0..n-1 per
        # conversation); at group counts beyond the broadcast cap the
        # shuffle+window path below handles it.
        last_term = (
            (F.col(last).cast("long") - F.col("__mn"))
            if last_numeric
            else F.lit(0).cast("long")
        )
        out = (
            df.join(F.broadcast(offs), gkeys)
            .withColumn(
                DOCID, (F.col("__off") + last_term + 1).cast("long")
            )
            .drop("__off", "__mn")
        )
        # map-only: the output keeps the INPUT's partitioning — callers
        # that cache it should re-balance coarse scans (build_index does)
    else:
        wr = Window.partitionBy(*gkeys).orderBy(*[F.col(c) for c in keys])
        out = (
            df.join(offs.drop("__mn"), gkeys)
            .withColumn(
                DOCID, (F.col("__off") + F.row_number().over(wr)).cast("long")
            )
            .drop("__off")
        )
    # the pinned group table is conversation-count sized (potentially
    # 10^9 rows); callers that materialize the result should release it
    # (build_index does, right after docs.count()). Recompute after
    # release stays stable: the shuffle files / partitioner instance of
    # the frozen lineage are reused, not resampled.
    out._interim_caches = [ranged]
    return out


_INT_KEY_RE = r"^(0|[1-9][0-9]{0,9})$"  # canonical array-index keys


@dataclass
class Index:
    spark: SparkSession
    docs: DataFrame
    facet_values: DataFrame
    postings: Optional[DataFrame]
    terms: Optional[DataFrame]
    n_docs: int
    facet_fields: List[str]
    text_fields: List[Tuple[str, float]]
    configuration: Dict[str, Any] = dc_field(default_factory=dict)
    # posting-block store (blocks.py array layout); when set it
    # is the postings source of record — `postings` may be None and the
    # exact scorer decodes only the query terms' blocks
    posting_blocks: Optional[DataFrame] = None
    # facet-value posting blocks (facetblocks.py; terms = field␟key):
    # when set, conjunctive facet filters can run as index-side set
    # algebra instead of corpus scans
    facet_posting_blocks: Optional[DataFrame] = None
    # opt-in positional postings (field, term, _docid, positions) for
    # phrase-heavy deployments (SearchEngine.enable_positions); written
    # sorted by (field, term) so phrase-term selection prunes row
    # groups. positional_fields mirrors the stored fields so readers
    # know coverage without a job
    positional: Optional[DataFrame] = None
    positional_fields: List[str] = dc_field(default_factory=list)
    # opt-in char-trigram postings (field, gram, _docid) for substring
    # search (SearchEngine.enable_trigrams); written sorted by
    # (field, gram) so needle-gram selection prunes row groups.
    # trigram_fields mirrors the stored fields (same contract as
    # positional_fields)
    trigram: Optional[DataFrame] = None
    trigram_fields: List[str] = dc_field(default_factory=list)
    # opt-in BM25 raw-count postings (term, _docid, c, dl) — see
    # `bm25_postings` / `SearchEngine.enable_bm25`; written term-sorted
    # so query-term selection prunes row groups
    bm25: Optional[DataFrame] = None
    # durable tombstones (SearchEngine.save_tombstones): a (_docid)
    # table of deleted docs — Lucene's persisted live-docs analog. A
    # reopened engine adopts it, so deletes survive restarts without
    # rewriting any index artifact
    tombstones: Optional[DataFrame] = None
    # largest assigned docid when it exceeds n_docs (caller-owned
    # docid_col docids, block-store segment merges that round the shard
    # offset up to a range boundary, purged deletes). None = n_docs is
    # past every docid. Appends/merges offset from this, so sparse
    # spaces never collide
    docid_ceiling: Optional[int] = None
    # block-store parameters (range_size/block_size/n_buckets) recorded
    # by write_blocks; merges and appends must match them
    block_meta: Dict[str, int] = dc_field(default_factory=dict)
    # docs is cached hash-partitioned by _docid into defaultParallelism
    # partitions (build_index), the layout SearchEngine.materialize gives
    # the postings cache: a request then joins docs with its scored hits
    # partition by partition. False for unions (append/merge) and
    # reopened stores
    docs_copartitioned: bool = False

    @property
    def next_docid_base(self) -> int:
        """Offset base for appends/merges: past every assigned docid."""
        return self.docid_ceiling if self.docid_ceiling is not None else self.n_docs

    def postings_subset(
        self, terms: Sequence[str], est: Optional[int] = None
    ) -> DataFrame:
        """Row-level postings restricted to ``terms`` — THE read API for
        scorers. On a block-backed index the term predicate lands on the
        block parquet scan (PushedFilters + row-group pruning on the
        term-sorted layout) and only matching blocks are decoded,
        the decode sized by ``est`` (the terms' summed df, see
        blocks.postings_from_blocks); on a row-level index it narrows
        the postings scan the same way."""
        term_list = list(terms)
        if self.postings is not None:
            return self.postings.filter(F.col("term").isin(term_list))
        if self.posting_blocks is None:
            raise ValueError("index has no fulltext postings")
        from .blocks import postings_from_blocks

        return postings_from_blocks(
            self.posting_blocks.filter(F.col("term").isin(term_list)), est=est
        )

    @property
    def has_fulltext(self) -> bool:
        return self.terms is not None

    def persist(self) -> "Index":
        self.docs = self.docs.persist()
        self.facet_values = self.facet_values.persist()
        if self.postings is not None:
            self.postings = self.postings.persist()
            self.terms = self.terms.persist()
        return self

    def unpersist(self) -> None:
        for df in (self.docs, self.facet_values, self.postings, self.terms):
            if df is not None:
                df.unpersist()

    # -- storage -----------------------------------------------------------
    def write(self, path: str) -> None:
        """Iceberg-layout parquet: postings sorted by term so query-time
        prefix expansion prunes row groups / files (min-max stats); docs
        range-partitioned + sorted by the external ``id`` when present,
        so point lookups (``similar``, ``ids``) prune to one file/row
        group instead of scanning the corpus."""
        docs_out = self.docs
        if "id" in docs_out.columns:
            docs_out = docs_out.repartitionByRange(
                max(self.spark.sparkContext.defaultParallelism, 1), "id"
            ).sortWithinPartitions("id")
        docs_out.write.mode("overwrite").parquet(os.path.join(path, "docs"))
        self.facet_values.write.mode("overwrite").parquet(
            os.path.join(path, "facet_values")
        )
        if self.postings is not None:
            (
                self.postings.repartitionByRange(
                    max(self.spark.sparkContext.defaultParallelism, 1), "term"
                )
                .sortWithinPartitions("term", DOCID)
                .write.mode("overwrite")
                .parquet(os.path.join(path, "postings"))
            )
            self.terms.repartitionByRange(
                max(self.spark.sparkContext.defaultParallelism, 1), "term"
            ).sortWithinPartitions("term").write.mode("overwrite").parquet(
                os.path.join(path, "terms")
            )
        if self.positional is not None:
            (
                self.positional.repartitionByRange(
                    max(self.spark.sparkContext.defaultParallelism, 1),
                    "field",
                    "term",
                )
                .sortWithinPartitions("field", "term", DOCID)
                .write.mode("overwrite")
                .parquet(os.path.join(path, "positional"))
            )
        if self.trigram is not None:
            (
                self.trigram.repartitionByRange(
                    max(self.spark.sparkContext.defaultParallelism, 1),
                    "field",
                    "gram",
                )
                .sortWithinPartitions("field", "gram", DOCID)
                .write.mode("overwrite")
                .parquet(os.path.join(path, "trigram"))
            )
        if self.bm25 is not None:
            (
                self.bm25.repartitionByRange(
                    max(self.spark.sparkContext.defaultParallelism, 1),
                    "term",
                )
                .sortWithinPartitions("term", DOCID)
                .write.mode("overwrite")
                .parquet(os.path.join(path, "bm25"))
            )
        if self.tombstones is not None:
            self.tombstones.write.mode("overwrite").parquet(
                os.path.join(path, "tombstones")
            )
        self._write_meta(path)

    def _write_meta(self, path: str) -> None:
        from .checkpoint import _HadoopFS

        meta = {
            "n_docs": self.n_docs,
            "facet_fields": self.facet_fields,
            "text_fields": self.text_fields,
            "configuration": _json_safe(self.configuration),
            "positional_fields": self.positional_fields,
            "trigram_fields": self.trigram_fields,
            "docid_ceiling": self.docid_ceiling,
            "block_meta": self.block_meta,
        }
        _HadoopFS(self.spark, path).write_text(
            os.path.join(path, "meta.json"), json.dumps(meta)
        )

    def write_blocks(
        self,
        path: str,
        n_buckets: int = 32,
        range_size: int = 1 << 20,
        block_size: int = DEFAULT_BLOCK_SIZE,
    ) -> Dict[str, Any]:
        """Persist with postings as the CHECKPOINTED posting-block
        store (array layout, per-bucket manifests with lineage/metrics —
        checkpoint.py) instead of row-level parquet. The production
        layout: resumable build, term-pruned block scans, and the
        same files serve both the exact scorer and block-max WAND.
        Returns the checkpoint build report."""
        from .checkpoint import build_blocks_checkpointed

        n_files = max(self.spark.sparkContext.defaultParallelism, 1)
        # docid-ranged files: a conversation's turns stay together, and a
        # page fetch (``_docid IN (...)``) skips files by their min/max
        self.docs.repartitionByRange(n_files, DOCID).sortWithinPartitions(
            DOCID
        ).write.mode("overwrite").parquet(os.path.join(path, "docs"))
        self.facet_values.write.mode("overwrite").parquet(
            os.path.join(path, "facet_values")
        )
        if self.postings is None:
            raise ValueError("write_blocks needs row-level postings to encode")
        # the checkpointed build scans postings once per bucket (plus the
        # fingerprint pass); an unmaterialized tokenizer plan would re-run
        # the Arrow tokenizer ~n_buckets times over the corpus — pin it
        postings = self.postings
        pinned_here = postings.storageLevel.useMemory is False and (
            postings.storageLevel.useDisk is False
        )
        if pinned_here:
            postings = postings.persist()
            postings.count()
        report = build_blocks_checkpointed(
            postings,
            os.path.join(path, "posting_blocks"),
            n_buckets=n_buckets,
            range_size=range_size,
            block_size=block_size,
        )
        if pinned_here:
            postings.unpersist()
        self.terms.repartitionByRange(n_files, "term").sortWithinPartitions(
            "term"
        ).write.mode("overwrite").parquet(
            os.path.join(path, "terms")
        )
        if self.facet_fields:
            from .facetblocks import build_facet_blocks

            build_facet_blocks(
                self, range_size=range_size, block_size=block_size
            ).repartitionByRange(n_files, "term").sortWithinPartitions(
                "term"
            ).write.mode("overwrite").parquet(
                os.path.join(path, "facet_blocks")
            )
        if self.tombstones is not None:
            self.tombstones.write.mode("overwrite").parquet(
                os.path.join(path, "tombstones")
            )
        self.block_meta = {
            "n_buckets": n_buckets,
            "range_size": range_size,
            "block_size": block_size,
        }
        self._write_meta(path)
        return report

    @staticmethod
    def read(spark: SparkSession, path: str) -> "Index":
        """Open a persisted index — either layout: row-level postings
        (``write``) or the checkpointed block store (``write_blocks``)."""
        from .checkpoint import _HadoopFS, read_blocks
        from .packaging import ensure_shipped

        # block reads are JVM plans, but phrase verification, snippets
        # and callback filters run Python closures that import this
        # package on executors: a store reopened in a fresh process must
        # ship it too
        ensure_shipped(spark)
        fs = _HadoopFS(spark, path)
        meta = json.loads(fs.read_text(os.path.join(path, "meta.json")))
        postings = terms = blocks = fblocks = None
        if fs.exists(os.path.join(path, "terms")):
            terms = spark.read.parquet(os.path.join(path, "terms"))
        if fs.exists(os.path.join(path, "postings")):
            postings = spark.read.parquet(os.path.join(path, "postings"))
        elif fs.exists(os.path.join(path, "posting_blocks")):
            blocks = read_blocks(spark, os.path.join(path, "posting_blocks"))
        if fs.exists(os.path.join(path, "facet_blocks")):
            fbdir = os.path.join(path, "facet_blocks")
            fblocks = check_block_layout(spark.read.parquet(fbdir), fbdir)
        positional = None
        if fs.exists(os.path.join(path, "positional")):
            positional = spark.read.parquet(os.path.join(path, "positional"))
        trigram = None
        if fs.exists(os.path.join(path, "trigram")):
            trigram = spark.read.parquet(os.path.join(path, "trigram"))
        bm25 = None
        if fs.exists(os.path.join(path, "bm25")):
            bm25 = spark.read.parquet(os.path.join(path, "bm25"))
        tombstones = None
        # "tombstones.new": a save_tombstones crash between delete and
        # rename leaves only the completed .new dir — adopt it (same
        # recovery rule as the control files' .tmp)
        for cand in ("tombstones", "tombstones.new"):
            if fs.exists(os.path.join(path, cand)):
                tombstones = spark.read.parquet(os.path.join(path, cand))
                break
        return Index(
            spark=spark,
            docs=spark.read.parquet(os.path.join(path, "docs")),
            facet_values=spark.read.parquet(os.path.join(path, "facet_values")),
            postings=postings,
            terms=terms,
            n_docs=meta["n_docs"],
            facet_fields=meta["facet_fields"],
            text_fields=[tuple(t) for t in meta["text_fields"]],
            configuration=meta["configuration"],
            posting_blocks=blocks,
            facet_posting_blocks=fblocks,
            positional=positional,
            positional_fields=list(meta.get("positional_fields") or []),
            trigram=trigram,
            trigram_fields=list(meta.get("trigram_fields") or []),
            bm25=bm25,
            tombstones=tombstones,
            docid_ceiling=meta.get("docid_ceiling"),
            block_meta=dict(meta.get("block_meta") or {}),
        )


def _json_safe(obj):
    try:
        json.dumps(obj)
        return obj
    except TypeError:
        return {}


def _facet_dim_counts(
    docs: DataFrame, facet_fields: Sequence[str], per_doc: bool = False
) -> Optional[DataFrame]:
    """(field, key, doc_count, __first=(docid,pos)) per facet value —
    the unranked facet dimension; None when no facet fields.
    ``per_doc=True`` stops before the aggregate: one row per document
    and DISTINCT value (``array_distinct`` keeps the values' first-
    position order within the row) with doc_count 1 — an append
    delta's partials, summed by the merge's aggregate alone.

    All fields in ONE corpus pass: each __fk_ array is tagged with its
    field name via ``transform`` and the concatenated array exploded
    once, so the dimension costs a single scan + single map-combined
    shuffle regardless of facet-field count (a per-field
    posexplode+groupBy union scanned the docs cache once PER FIELD —
    measured 3x the data movement at 3 fields on a 2M-turn corpus).
    Null fk columns coalesce to empty arrays (posexplode's skip
    semantics); the aggregate is unchanged, so the output is
    row-identical to the per-field plan."""
    if not facet_fields:
        return None

    def _tag(fld: str):
        # closure factory: the HOF lambda must take exactly (x, i)
        keys = F.coalesce(F.col(FK_PREFIX + fld), F.array())
        return F.transform(
            F.array_distinct(keys) if per_doc else keys,
            lambda x, i: F.struct(
                F.lit(fld).alias("field"),
                i.alias("__pos"),
                x.alias("key"),
            ),
        )

    tagged = [_tag(fld) for fld in facet_fields]
    stacked = tagged[0] if len(tagged) == 1 else F.concat(*tagged)
    exploded = docs.select(
        F.col(DOCID), F.explode(stacked).alias("__e")
    ).select(DOCID, "__e.field", "__e.__pos", "__e.key")
    if per_doc:
        return exploded.select(
            "field", "key", F.lit(1).cast("long").alias("doc_count"),
            F.struct(DOCID, "__pos").alias("__first"),
        )
    return (
        exploded.groupBy("field", "key")
        .agg(
            F.countDistinct(DOCID).alias("doc_count"),
            F.min(F.struct(DOCID, "__pos")).alias("__first"),
        )
        .select("key", "doc_count", "__first", "field")
    )


def _facet_dimension(docs: DataFrame, facet_fields: Sequence[str]) -> DataFrame:
    """The ranked facet dimension of ``docs`` (one corpus pass), pinned;
    an empty dimension when there are no facet fields."""
    fv = _facet_dim_counts(docs, facet_fields)
    if fv is None:
        return local_relation(
            docs.sparkSession, [],
            "field string, key string, doc_count long, enum_rank int",
        )
    return _rank_facet_dim(fv).persist()  # small dimension


def _dim_partials(fv: DataFrame, seg: int) -> DataFrame:
    """Part ``seg`` of a combine as unranked dimension rows whose
    ``__first = (seg, order, pos)`` sorts every key of an earlier part
    before the keys new in a later one. A prebuilt part orders by its
    own enum_rank; an append delta (per-document ``_facet_dim_counts``
    rows) by first occurrence (docid, pos)."""
    if "enum_rank" in fv.columns:
        order, pos = F.col("enum_rank").cast("long"), F.lit(0)
    else:
        order, pos = F.col("__first." + DOCID), F.col("__first.__pos")
    return fv.select(
        "field", "key", "doc_count",
        F.struct(
            F.lit(seg).alias("__seg"), order.alias("__ord"), pos.alias("__pos")
        ).alias("__first"),
    )


def _merge_facet_dims(parts: Sequence[DataFrame]) -> DataFrame:
    """THE facet-dimension merge (append, merge, streaming read): union
    the parts' unranked (field, key, doc_count, __first) rows, sum the
    counts, keep the least ``__first`` (any struct whose order is the
    first-occurrence order) and rank once — a rebuild's enum order."""
    merged = _union([p.select("field", "key", "doc_count", "__first") for p in parts])
    return _rank_facet_dim(
        merged.groupBy("field", "key").agg(
            F.sum("doc_count").alias("doc_count"),
            F.min("__first").alias("__first"),
        )
    ).persist()


def _rank_facet_dim(fv: DataFrame) -> DataFrame:
    """enum_rank over an unranked dimension: canonical integer keys
    ascending, then first-occurrence order (``__first``'s fields in
    turn) — JS object key enumeration semantics.

    Distributed two-level rank (same scheme as assign_docids): a naive
    ``Window.partitionBy(field)`` puts one ENTIRE field's dimension in a
    single task — a 10^9-conversation facet would serialize (and with a
    single facet field Catalyst constant-folds the partition key away,
    making it a global single-partition window). Instead the dimension
    is range-partitioned on (field, enum order); per-(range, field)
    counts (≤ ranges × fields rows) become base offsets driver-side and
    the per-row rank is a window inside each (range, field) slice."""
    is_int = F.col("key").rlike(_INT_KEY_RE)
    fv = fv.withColumn("__is_int", is_int).withColumn(
        "__int_val", F.when(is_int, F.col("key").cast("long"))
    )
    order = [F.desc("__is_int"), F.asc_nulls_last("__int_val")] + [
        F.col("__first." + f).asc() for f in fv.schema["__first"].dataType.names
    ]

    spark = fv.sparkSession
    n_part = max(spark.sparkContext.defaultParallelism, 1)
    # pin the dimension before the range exchange: the boundary-sampling
    # job would otherwise re-run the per-field dimension aggregates
    # (one docs-cache pass per facet field) a second time
    fv = fv.persist()
    rep = (
        fv.repartitionByRange(n_part, F.col("field"), *order)
        .sortWithinPartitions(F.col("field"), *order)
        .withColumn("__rid", F.spark_partition_id())
        .persist()
    )
    cnts = rep.groupBy("__rid", "field").agg(F.count("*").alias("__c")).collect()
    fv.unpersist()  # folded into the pinned ranged cache now
    if not cnts:
        return rep.withColumn("enum_rank", F.lit(0)).select(
            "field", "key", "doc_count", "enum_rank"
        )
    run: Dict[str, int] = {}
    rows = []
    for r in sorted(cnts, key=lambda r: r["__rid"]):
        base = run.get(r["field"], 0)
        rows.append((int(r["__rid"]), r["field"], base))
        run[r["field"]] = base + int(r["__c"])
    odf = local_relation(spark, rows, "__rid int, field string, __base long")
    w = Window.partitionBy("__rid", "field").orderBy(*order)
    return (
        rep.join(F.broadcast(odf), ["__rid", "field"])
        .withColumn(
            "enum_rank", (F.col("__base") + F.row_number().over(w)).cast("int")
        )
        .select("field", "key", "doc_count", "enum_rank")
    )


def _analyzed_map(
    docs: DataFrame,
    fields: Sequence[str],
    configuration: Dict[str, Any],
    out_schema: T.StructType,
    reduce_row: Callable[[int, List[List[str]], Tuple[List[Any], ...]], None],
) -> DataFrame:
    """The Arrow tokenizer driver behind the three postings artifacts:
    ``mapInPandas`` over ``docs.select(_docid, *fields)`` that runs each
    row's field values through the lunr chain (``tokenize`` +
    ``build_pipeline`` with the configuration's flags). Per row,
    ``reduce_row(docid, token_lists, cols)`` gets one analyzed token
    list per field and appends the row's output to ``cols``, one list
    per ``out_schema`` column. The full build, incremental append and
    the term-vector lookups all tokenize through here, so snapshots and
    artifacts agree on what a token is."""
    flags = pipeline_flags(configuration)
    names = out_schema.names

    def analyze_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        pipeline = build_pipeline(**flags)
        for pdf in batches:
            cols = tuple([] for _ in names)
            values = [pdf[f].tolist() for f in fields]
            for did, *row in zip(pdf[DOCID].tolist(), *values):
                token_lists = []
                for v in row:
                    # Arrow hands array cells over as ndarrays and null
                    # doubles as NaN
                    if isinstance(v, np.ndarray):
                        v = v.tolist()
                    elif isinstance(v, float) and math.isnan(v):
                        v = None
                    token_lists.append(pipeline(tokenize(v)))
                reduce_row(int(did), token_lists, cols)
            # a batch that emits nothing would type its columns float64,
            # which Arrow cannot convert to array<int> positions
            if cols[0]:
                yield pd.DataFrame(dict(zip(names, cols)))

    return docs.select(DOCID, *fields).mapInPandas(
        analyze_partition, schema=out_schema
    )


def tokenize_postings(
    docs: DataFrame,
    text_fields: Sequence[Tuple[str, float]],
    configuration: Dict[str, Any],
) -> DataFrame:
    """Arrow-batched lunr tokenization of ``docs`` (must carry _docid) →
    (term, _docid, tf), tf being the lunr ``scoring.doc_tf`` fold over
    the searchable fields in registration order."""
    fields_spec = list(text_fields)
    # fields_spec may register the same column twice (the reference
    # hardcodes `name` boost 10 AND counts it again if listed in
    # searchableFields — SURVEY.md §2.4); analyze each physical column
    # ONCE and fan the token list out to every registration.
    unique_present = list(
        dict.fromkeys(f for f, _ in fields_spec if f in docs.columns)
    )
    slots = [
        (unique_present.index(f) if f in unique_present else None, boost)
        for f, boost in fields_spec
    ]
    empty_tokens: List[str] = []

    def fold_tf(did, token_lists, cols):
        terms, ids, tfs = cols
        field_tokens = [
            (empty_tokens if i is None else token_lists[i], boost)
            for i, boost in slots
        ]
        for term, tf in scoring.doc_tf(field_tokens).items():
            terms.append(term)
            ids.append(did)
            tfs.append(tf)

    out_schema = T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField(DOCID, T.LongType()),
            T.StructField("tf", T.DoubleType()),
        ]
    )
    return _analyzed_map(docs, unique_present, configuration, out_schema, fold_tf)


def bm25_postings(
    docs: DataFrame,
    text_fields: Sequence[Tuple[str, float]],
    configuration: Dict[str, Any],
) -> DataFrame:
    """Raw-count postings for the BM25 scoring mode (opt-in; see
    ``SearchEngine.enable_bm25``): (term, _docid, c, dl) where ``c`` is
    the term's occurrence count across all searchable fields treated as
    ONE unboosted stream and ``dl`` that stream's post-pipeline token
    count. Same tokenizer driver as ``tokenize_postings``, so BM25 and
    lunr modes agree on what a token is. lunr's normalized tf cannot
    recover these (tf = c/len folds the length away), hence the separate
    artifact — same opt-in pattern as positional/trigram postings."""
    unique_present = list(
        dict.fromkeys(f for f, _ in text_fields if f in docs.columns)
    )

    def count_terms(did, token_lists, cols):
        terms, ids, cs, dls = cols
        stream = [t for toks in token_lists for t in toks]
        dl = len(stream)
        for term, c in Counter(stream).items():
            terms.append(term)
            ids.append(did)
            cs.append(c)
            dls.append(dl)

    out_schema = T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField(DOCID, T.LongType()),
            T.StructField("c", T.LongType()),
            T.StructField("dl", T.LongType()),
        ]
    )
    return _analyzed_map(
        docs, unique_present, configuration, out_schema, count_terms
    )


def trigram_postings(docs: DataFrame, field: str) -> DataFrame:
    """DISTINCT (gram, _docid) char-trigram rows of the LOWERCASED raw
    ``field`` text — the substring-search index artifact (pg_trgm
    analog; see ``SearchEngine.enable_trigrams``). Entirely JVM
    expressions (sequence/transform/array_distinct/explode), one
    map-only pass over the corpus — no Python, no shuffle."""
    return (
        docs.select(F.col(DOCID), F.lower(F.col(field)).alias("__lt"))
        .filter(F.length("__lt") >= 3)
        .select(
            DOCID,
            F.explode(
                F.expr(
                    "array_distinct(transform("
                    "sequence(1, length(__lt) - 2), "
                    "i -> substring(__lt, i, 3)))"
                )
            ).alias("gram"),
        )
    )


def tokenize_position_postings(
    docs: DataFrame,
    field: str,
    configuration: Dict[str, Any],
) -> DataFrame:
    """Positional postings for ONE text field: (term, _docid,
    positions array<int>) where ``positions`` are the ascending 0-based
    indices of ``term`` in the field's ANALYZED token stream (same
    tokenizer driver as ``tokenize_postings``, so stopword squeeze /
    stemming line up with the bag-of-words index and the phrase
    verifier).

    Opt-in scale path for phrase-heavy workloads (see
    ``SearchEngine.enable_positions``): the standard phrase plan
    re-analyzes candidate rows' TEXT, whose cost scales with candidate
    document length; this artifact makes phrase matching index-only —
    cost scales with the phrase terms' posting sizes instead. The
    positions blowup is paid only by builds that ask for it."""

    def positions(did, token_lists, cols):
        terms, ids, pos = cols
        for term, p in term_positions(token_lists[0]).items():
            terms.append(term)
            ids.append(did)
            pos.append(p)

    out_schema = T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField(DOCID, T.LongType()),
            T.StructField("positions", T.ArrayType(T.IntegerType())),
        ]
    )
    return _analyzed_map(docs, [field], configuration, out_schema, positions)


def _with_idf(terms: DataFrame, n_docs: int) -> DataFrame:
    """(term, df) rows + lunr idf ``1 + ln(N/df)`` for a corpus of
    ``n_docs`` — the one idf expression."""
    return terms.withColumn(
        "idf",
        F.lit(1.0) + F.log(F.lit(float(n_docs)) / F.col("df").cast("double")),
    )


def terms_from_postings(postings: DataFrame, n_docs: int) -> DataFrame:
    return _with_idf(postings.groupBy("term").agg(F.count("*").alias("df")), n_docs)


def _merge_terms(parts: Sequence[DataFrame], n_docs: int) -> DataFrame:
    """THE df/idf merge: union the parts' (term, df) rows, sum df per
    term, idf for the combined corpus size — a terms-table-sized job."""
    merged = _union([p.select("term", "df") for p in parts])
    return _with_idf(
        merged.groupBy("term").agg(F.sum("df").alias("df")), n_docs
    )


def _union(frames: Sequence[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def index_text_fields(configuration: Dict[str, Any]) -> List[Tuple[str, float]]:
    """The indexed text fields with their lunr boosts: ``name`` (10)
    then every ``searchableFields`` entry (1)."""
    searchable = configuration.get("searchableFields") or []
    return [("name", 10.0)] + [(f, 1.0) for f in searchable]


def build_index(
    spark: SparkSession,
    df: DataFrame,
    configuration: Optional[Dict[str, Any]] = None,
    docid_col: Optional[str] = None,
    order_by: Optional[Sequence[str]] = None,
    build_fulltext: Optional[bool] = None,
) -> Index:
    """Build all index artifacts for ``df`` under ``configuration``
    (itemsjs Configuration: aggregations / searchableFields / flags)."""
    from .packaging import ensure_shipped

    # the tokenizer/filter UDF closures import this package on executors;
    # ship the source zip so the engine works from any launch directory
    # (spark-submit --py-files deployments already have it — idempotent)
    ensure_shipped(spark)
    configuration = dict(configuration or {})
    aggregations = configuration.get("aggregations") or {}
    facet_fields = [f for f in aggregations.keys() if f in df.columns]

    interim: List[DataFrame] = []
    if docid_col:
        docs = df.withColumn(DOCID, F.col(docid_col).cast("long"))
    elif order_by:
        docs = assign_docids(df, order_by)
        interim = getattr(docs, "_interim_caches", [])
    else:
        raise ValueError("need docid_col or order_by for stable _docid")

    for fld in facet_fields:
        docs = docs.withColumn(FK_PREFIX + fld, facet_keys_col(docs, fld))

    # ONE cache pass, hash-partitioned by _docid into defaultParallelism
    # partitions — the layout materialize() gives the postings cache, so
    # a request joins docs with its scored hits partition by partition
    # (no exchange, no broadcast, no per-request cache; see
    # SearchEngine._docs_with_query_flag). The same shuffle is the
    # partitioning floor: AQE would coalesce a small corpus to ONE
    # partition and the map-only dense-broadcast docid route keeps the
    # scan's (possibly few, fat) splits, either of which serializes the
    # Arrow-batched tokenizer. The count job also records the largest
    # docid: caller-owned docids (docid_col) may be sparse.
    n_part = max(spark.sparkContext.defaultParallelism, 1)
    docs = docs.repartition(n_part, F.col(DOCID)).persist()
    n_docs, max_docid = docs.agg(F.count("*"), F.max(DOCID)).first()
    for c in interim:  # docid group table: baked into the docs cache now
        c.unpersist()

    facet_values = _facet_dimension(docs, facet_fields)

    # fulltext postings
    postings = terms = None
    want_ft = (
        build_fulltext
        if build_fulltext is not None
        else configuration.get("native_search_enabled") is not False
    )
    text_fields: List[Tuple[str, float]] = []
    if want_ft:
        text_fields = index_text_fields(configuration)
        postings = tokenize_postings(docs, text_fields, configuration)
        terms = terms_from_postings(postings, n_docs)

    return Index(
        spark=spark,
        docs=docs,
        facet_values=facet_values,
        postings=postings,
        terms=terms,
        n_docs=n_docs,
        facet_fields=facet_fields,
        text_fields=text_fields,
        configuration=configuration,
        docid_ceiling=_ceiling(max_docid, n_docs),
        docs_copartitioned=True,
    )


def _ceiling(max_docid: Optional[int], n_docs: int) -> Optional[int]:
    """``docid_ceiling`` for a docid space whose largest docid is
    ``max_docid``: None while ``n_docs`` is not below it (the dense
    1..n_docs space, or caller-owned docids such as 0..n_docs-1), so
    appends keep continuing from the doc count there."""
    if max_docid is None or max_docid <= n_docs:
        return None
    return int(max_docid)


def _align_appended_schema(
    old_docs: DataFrame, new_docs: DataFrame
) -> Tuple[DataFrame, DataFrame]:
    """Schema alignment for snapshot append (both directions).

    Two per-snapshot artifacts can disagree: (a) ``__raw_<f>`` sidecars
    exist only for fields THAT snapshot's items lossily collapsed, and
    (b) a field's column dtype reflects only that snapshot's values
    (``price`` long in one, string-collapsed in the other). Merging:

    * shared scalar columns with differing dtypes converge on the JS
      collapse (string via ``_js_key_col``; long+double widen to
      double), and every side whose values are CAST gains/els fills a
      ``__raw_<f>`` sidecar from the pre-cast values (JSON literal — a
      plain string cast for numerics/booleans, exactly what
      ``items_to_df`` would have written), so returned items keep
      original scalars;
    * sidecar columns missing on one side are padded with NULL ("no
      coercion recorded");
    * non-scalar dtype conflicts (array element mismatch etc.) raise
      the contract error — there is no JS-faithful merge for them.
    """

    def _plain(df):
        return {
            c: df.schema[c].dataType
            for c in df.columns
            if not c.startswith((FK_PREFIX, RAW_PREFIX)) and c != DOCID
        }

    old_t, new_t = _plain(old_docs), _plain(new_docs)
    numeric = (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
               T.DoubleType, T.FloatType)

    def _collapse(df, col, dtype, target, raw_col):
        """Cast ``col`` to ``target``, recording pre-cast values in the
        sidecar (keeping any existing sidecar values)."""
        raw_literal = F.col(col).cast("string")  # JSON literal for
        # numerics/booleans; string columns are never cast here
        existing = (
            F.col(raw_col) if raw_col in df.columns
            else F.lit(None).cast("string")
        )
        new_raw = F.when(
            F.col(col).isNotNull(), F.coalesce(existing, raw_literal)
        ).otherwise(existing)
        out = df.withColumn(raw_col, new_raw)
        if isinstance(target, T.StringType):
            return out.withColumn(col, _js_key_col(F.col(col), dtype))
        return out.withColumn(col, F.col(col).cast(target))

    for c in set(old_t) & set(new_t):
        ot, nt = old_t[c], new_t[c]
        if ot == nt:
            continue
        scalar = isinstance(ot, numeric + (T.StringType, T.BooleanType)) and \
            isinstance(nt, numeric + (T.StringType, T.BooleanType))
        if not scalar:
            raise ValueError(
                f"append delta column '{c}' has incompatible type "
                f"{nt.simpleString()} vs index {ot.simpleString()}"
            )
        both_numeric = isinstance(ot, numeric) and isinstance(nt, numeric)
        target = T.DoubleType() if both_numeric else T.StringType()
        raw_col = RAW_PREFIX + c
        # a side already at the target dtype round-trips natively and is
        # left alone; only the CAST side needs the sidecar
        if type(ot) is not type(target):
            old_docs = _collapse(old_docs, c, ot, target, raw_col)
        if type(nt) is not type(target):
            new_docs = _collapse(new_docs, c, nt, target, raw_col)

    # sidecar padding: each side gets NULL for the other's sidecars
    for c in old_docs.columns:
        if c.startswith(RAW_PREFIX) and c not in new_docs.columns:
            new_docs = new_docs.withColumn(c, F.lit(None).cast("string"))
    for c in new_docs.columns:
        if c.startswith(RAW_PREFIX) and c not in old_docs.columns:
            old_docs = old_docs.withColumn(c, F.lit(None).cast("string"))
    return old_docs, new_docs


def append_index(
    index: Index,
    new_df: DataFrame,
    docid_col: Optional[str] = None,
    order_by: Optional[Sequence[str]] = None,
) -> Index:
    """Iceberg-style snapshot append: incorporate ``new_df`` WITHOUT
    re-tokenizing the existing corpus. The delta becomes a segment
    (its own docs cache, postings, (term, df) partials and unranked
    facet counts) that the shared combine core merges exactly like
    ``merge_indexes`` merges a prebuilt index:

    * new docids continue after the current snapshot (``order_by`` ranks
      the delta internally; the core offsets it past
      ``index.next_docid_base``); with ``docid_col`` the caller owns
      uniqueness across snapshots;
    * ONLY the delta passes through the Arrow tokenizer — merged
      postings = old postings (parquet scan / cache, no tokenizer in
      its plan) ∪ delta postings;
    * terms and the facet dimension merge as partials (summed df and
      doc counts, idf and enum ranks computed once for the combined
      corpus — see ``merge_indexes``).

    Query parity: identical to a full rebuild whenever the delta's
    order keys sort after the existing corpus (the snapshot-append
    contract); docids, tf, df and idf then all coincide.
    """
    interim: List[DataFrame] = []
    if docid_col:
        new_docs = new_df.withColumn(DOCID, F.col(docid_col).cast("long"))
    elif order_by:
        new_docs = assign_docids(new_df, order_by)
        interim = getattr(new_docs, "_interim_caches", [])
    else:
        raise ValueError("need docid_col or order_by for stable _docid")
    # validate the delta's columns BEFORE deriving facet-key columns —
    # a delta lacking a facet column must fail with the contract error,
    # not an AnalysisException out of facet_keys_col. Derived columns
    # (__fk_ facet keys, __raw_ lossy-value sidecars) are index-internal
    # and never required of a delta.
    missing = [
        c
        for c in index.docs.columns
        if not c.startswith((FK_PREFIX, RAW_PREFIX))
        and c not in new_docs.columns
    ]
    if missing:
        raise ValueError(f"append delta lacks columns {missing}")
    for fld in index.facet_fields:
        new_docs = new_docs.withColumn(
            FK_PREFIX + fld, facet_keys_col(new_docs, fld)
        )
    new_docs = new_docs.persist()
    n_new, max_new = new_docs.agg(F.count("*"), F.max(DOCID)).first()
    for c in interim:
        c.unpersist()

    configuration = index.configuration
    postings = terms = positional = trigram = None
    if index.terms is not None:
        postings = tokenize_postings(new_docs, index.text_fields, configuration)
        terms = terms_from_postings(postings, n_new)
    # positions and grams are per-document: only the delta is analyzed
    if index.positional is not None:
        positional = _union([
            tokenize_position_postings(new_docs, fld, configuration).select(
                F.lit(fld).alias("field"), "term", DOCID, "positions"
            )
            for fld in index.positional_fields
        ])
    if index.trigram is not None:
        trigram = _union([
            trigram_postings(new_docs, fld).select(
                F.lit(fld).alias("field"), "gram", DOCID
            )
            for fld in index.trigram_fields
        ])
    delta = Index(
        spark=index.spark,
        docs=new_docs,
        facet_values=_facet_dim_counts(
            new_docs, index.facet_fields, per_doc=True
        ),
        postings=postings,
        terms=terms,
        n_docs=n_new,
        facet_fields=index.facet_fields,
        text_fields=index.text_fields,
        configuration=configuration,
        positional=positional,
        positional_fields=list(index.positional_fields),
        trigram=trigram,
        trigram_fields=list(index.trigram_fields),
        docid_ceiling=_ceiling(max_new, n_new),
    )
    return _combine(index, delta, offset_b=not docid_col)[0]


def merge_indexes(a: Index, b: Index, offset_b: bool = True) -> Index:
    """Segment merge (the Lucene merge analog, and the north-star
    shard-build plan): combine two PREBUILT indexes into one WITHOUT
    re-tokenizing either corpus. At 10^12 turns the build parallelizes
    as independent per-shard index builds (each a bounded job over its
    slice) followed by this merge — a postings union whose term->docID
    lists the block writer then re-sorts by (term, docid range); no
    corpus text is ever read here. ``append_index`` runs the same core
    with a freshly tokenized delta segment as B.

    * both indexes must be built under the same facet/text fields (the
      artifacts bake them in);
    * ``offset_b=True`` shifts B's docids past A's snapshot;
      ``offset_b=False`` trusts the caller's docid disjointness
      (``docid_col`` builds over naturally disjoint key ranges);
    * terms merge as df_a + df_b with idf recomputed for the merged
      corpus size — a terms-table-sized job;
    * facet dimension: counts sum; A's enum ranks are preserved; B-only
      keys interleave canonically (integer keys numerically, string
      keys by B's own enum order — JS object-key semantics), which IS a
      full rebuild's order whenever A's rows precede B's;
    * parity: identical to one build over A's∪B's corpus whenever A's
      order keys sort before B's (the snapshot-append contract,
      tests/test_merge.py proves score/df/idf/dim equality);
    * durable tombstones carry from both sides (B's shifted with its
      docids).

    Reference reindex (src/index.ts:82-86) rebuilds from scratch;
    merging prebuilt shards is the scale extension."""
    return _combine(a, b, offset_b)[0]


def _combine(a: Index, b: Index, offset_b: bool) -> Tuple[Index, int]:
    """The one index-combination core behind ``merge_indexes`` and
    ``append_index``: B (a prebuilt index, or an append's delta segment
    whose ``facet_values`` are per-document ``_facet_dim_counts`` rows)
    joins A as a second part.
    Returns the combined index and the docid offset B was shifted by."""
    if a.facet_fields != b.facet_fields or a.text_fields != b.text_fields:
        raise ValueError(
            "merge_indexes needs indexes built under the same "
            "facet/text fields"
        )
    if (a.terms is None) != (b.terms is None):
        raise ValueError("merge needs BOTH indexes fulltext or NEITHER")

    # disk-store merge: when BOTH sides are block-backed (no row-level
    # postings), the merge never decodes a posting list — B's blocks
    # shift by a range-aligned offset (shift_blocks transforms one array
    # per block), so the cost is O(number of blocks), not O(postings)
    block_backed = (
        a.terms is not None
        and a.postings is None
        and b.postings is None
        and a.posting_blocks is not None
        and b.posting_blocks is not None
    )
    rs = 0
    if block_backed:
        rs = int(a.block_meta.get("range_size") or (1 << 20))
        rs_b = int(b.block_meta.get("range_size") or (1 << 20))
        if rs != rs_b:
            raise ValueError(
                "block-store merge needs equal range_size on both stores"
            )
        if not offset_b:
            raise ValueError(
                "block-store merge requires offset_b=True — shard "
                "ranges must not interleave"
            )
    base = a.next_docid_base
    if offset_b:
        # block stores round the offset UP to a range boundary so B's
        # blocks land in fresh ranges; the docid space goes sparse and
        # docid_ceiling records it for later appends/merges
        off = ((base + rs - 1) // rs) * rs if block_backed else base
    else:
        off = 0

    def shift(df: DataFrame) -> DataFrame:
        return df.withColumn(DOCID, F.col(DOCID) + F.lit(off)) if off else df

    old_docs, b_docs = _align_appended_schema(a.docs, shift(b.docs))
    docs = old_docs.unionByName(b_docs.select(*old_docs.columns))
    n_docs = a.n_docs + b.n_docs

    facet_values = a.facet_values
    if a.facet_fields:
        facet_values = _merge_facet_dims([
            _dim_partials(a.facet_values, 0), _dim_partials(b.facet_values, 1)
        ])

    postings = terms = posting_blocks = facet_posting_blocks = None
    if a.terms is not None:
        if block_backed:
            from .blocks import BLOCK_COLUMNS as cols, shift_blocks

            # checkpointed stores carry a `bucket` partition column —
            # a storage detail; normalize to the canonical block columns
            posting_blocks = a.posting_blocks.select(*cols).unionByName(
                shift_blocks(b.posting_blocks.select(*cols), off, rs)
            )
            if (
                a.facet_posting_blocks is not None
                and b.facet_posting_blocks is not None
            ):
                fa = a.facet_posting_blocks.select(*cols)
                fb = b.facet_posting_blocks.select(*cols)
                facet_posting_blocks = fa.unionByName(
                    shift_blocks(fb, off, rs)
                )
        elif a.postings is None or b.postings is None:
            raise ValueError(
                "combining indexes needs row-level postings "
                "(Index.postings) on both sides, or BOTH sides "
                "block-backed (posting_blocks without postings) for the "
                "no-decode disk merge"
            )
        else:
            postings = a.postings.unionByName(shift(b.postings))
        terms = _merge_terms([a.terms, b.terms], n_docs)

    positional = None
    positional_fields: List[str] = []
    if (
        a.positional is not None
        and b.positional is not None
        and a.positional_fields == b.positional_fields
    ):
        positional = a.positional.unionByName(shift(b.positional))
        positional_fields = list(a.positional_fields)

    trigram = None
    trigram_fields: List[str] = []
    if (
        a.trigram is not None
        and b.trigram is not None
        and a.trigram_fields == b.trigram_fields
    ):
        trigram = a.trigram.unionByName(shift(b.trigram))
        trigram_fields = list(a.trigram_fields)

    parts = [t for t in (
        a.tombstones,
        shift(b.tombstones) if b.tombstones is not None else None,
    ) if t is not None]
    tombstones = None
    if parts:
        tombstones = parts[0] if len(parts) == 1 else _union(parts).distinct()

    # B's docids end at off + its own ceiling; caller-owned (unshifted)
    # docids may end below A's
    ceiling = _ceiling(max(a.next_docid_base, off + b.next_docid_base), n_docs)
    combined = Index(
        spark=a.spark,
        docs=docs,
        facet_values=facet_values,
        postings=postings,
        terms=terms,
        n_docs=n_docs,
        facet_fields=list(a.facet_fields),
        text_fields=list(a.text_fields),
        configuration=a.configuration,
        posting_blocks=posting_blocks,
        facet_posting_blocks=facet_posting_blocks,
        positional=positional,
        positional_fields=positional_fields,
        trigram=trigram,
        trigram_fields=trigram_fields,
        tombstones=tombstones,
        docid_ceiling=ceiling,
        block_meta=dict(a.block_meta),
    )
    return combined, off
