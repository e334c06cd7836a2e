"""Structured Streaming ingest: micro-batches append to a persisted
index snapshot store.

Shape: ``readStream`` source → ``writeStream.foreachBatch`` →
:class:`StreamingIndexWriter.process_batch`. Each epoch becomes one
immutable snapshot:

* ``docs/epoch=N``          — the delta's documents (+ ``_docid`` +
                              ``__fk_*``), docids continuing after the
                              previous snapshot (append contract);
* ``posting_blocks/…``      — the delta's posting blocks merged
                              per-bucket via
                              :func:`checkpoint.append_blocks_checkpointed`
                              (snapshot id = ``e<N>``, resumable);
* ``term_counts/epoch=N``   — per-epoch term document frequencies
                              (merged at read; idf needs the global doc
                              count, so it is a read-time computation);
* ``facet_counts/epoch=N``  — per-epoch facet-dimension counts + first
                              occurrences (merged + enum-ranked at read);
* ``facet_blocks/…``        — the delta's facet-value posting blocks
                              (facetblocks.py), appended per-bucket like
                              the fulltext blocks so streamed stores
                              serve index-side facet filter algebra;
* ``meta.json``             — the commit record: total docs + applied
                              epoch list, written LAST.

Exactly-once across retries: Structured Streaming replays a failed
epoch with the same ``epoch_id``; every write above is idempotent for a
fixed epoch (deterministic paths written in overwrite mode, per-bucket
manifests keyed by snapshot + input fingerprint), and an epoch already
recorded in ``meta.json`` is skipped outright.

Scale: per micro-batch work is proportional to the DELTA only — the
tokenizer never re-reads old snapshots, and block appends rewrite no
existing files (north-rule incremental reindex, driven by a stream).
"""

from __future__ import annotations

import json
import posixpath
from typing import Any, Dict, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.checkpoint import _HadoopFS, append_blocks_checkpointed, read_blocks
from ..engine.indexer import (
    DOCID,
    FK_PREFIX,
    Index,
    _facet_dim_counts,
    _merge_facet_dims,
    _merge_terms,
    assign_docids,
    facet_keys_col,
    index_text_fields,
    tokenize_postings,
)
from ..engine.relations import local_relation

META = "meta.json"


class StreamingIndexWriter:
    """foreachBatch sink appending each micro-batch to the index store.

    ``configuration`` is the usual itemsjs Configuration;
    ``order_by`` ranks rows WITHIN an epoch (epochs themselves are
    ordered by arrival — the snapshot-append docid contract).

    ``compact_every``: every N doc-contributing epochs, fold the block
    stores' accumulated ``snap-*`` delta files back into one optimally
    packed block set per bucket (``compact_blocks`` — restores WAND's
    per-range bound tightness and keeps file counts flat as the stream
    runs). The swap is crash-safe and readable mid-flight (read-time
    recovery), so maintenance needs no reader quiescence; a replayed
    epoch never double-folds (snapshot ids are recorded as folded)."""

    def __init__(
        self,
        out_path: str,
        configuration: Dict[str, Any],
        order_by: Sequence[str],
        n_buckets: int = 32,
        range_size: int = 1 << 20,
        block_size: int = 1 << 14,
        compact_every: Optional[int] = None,
    ):
        self.out_path = out_path
        self.configuration = dict(configuration)
        self.order_by = list(order_by)
        self.n_buckets = n_buckets
        self.range_size = range_size
        self.block_size = block_size
        self.compact_every = compact_every
        aggs = self.configuration.get("aggregations") or {}
        self.facet_fields = list(aggs.keys())
        self.text_fields = index_text_fields(self.configuration)

    # -- meta ------------------------------------------------------------
    def _read_meta(self, fs: _HadoopFS) -> Dict[str, Any]:
        text = fs.read_text(posixpath.join(self.out_path, META))
        if text is None:
            return {"n_docs": 0, "epochs": []}
        return json.loads(text)

    def _write_meta(self, fs: _HadoopFS, meta: Dict[str, Any]) -> None:
        fs.write_text(posixpath.join(self.out_path, META), json.dumps(meta))

    # -- the foreachBatch hook --------------------------------------------
    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        fs = _HadoopFS(spark, self.out_path)
        fs.mkdirs(self.out_path)
        meta = self._read_meta(fs)
        if int(epoch_id) in meta["epochs"]:
            return  # replayed epoch: already committed

        ranked = assign_docids(batch_df, self.order_by)
        interim = getattr(ranked, "_interim_caches", [])
        delta = ranked.withColumn(DOCID, F.col(DOCID) + F.lit(int(meta["n_docs"])))
        for fld in self.facet_fields:
            if fld in batch_df.columns:
                delta = delta.withColumn(FK_PREFIX + fld, facet_keys_col(delta, fld))
        delta = delta.persist()
        n_new = delta.count()
        for c in interim:
            c.unpersist()
        if n_new == 0:
            delta.unpersist()
            meta["epochs"].append(int(epoch_id))
            self._write_meta(fs, meta)
            return

        edir = f"epoch={int(epoch_id)}"
        delta.write.mode("overwrite").parquet(
            posixpath.join(self.out_path, "docs", edir)
        )

        present_facets = [
            f for f in self.facet_fields if FK_PREFIX + f in delta.columns
        ]
        fv = _facet_dim_counts(delta, present_facets)
        if fv is not None:
            fv.write.mode("overwrite").parquet(
                posixpath.join(self.out_path, "facet_counts", edir)
            )
        fb_written = False
        if present_facets:
            # facet-value posting blocks, appended per epoch exactly like
            # the fulltext blocks — streamed stores get the index-side
            # filter set algebra too (facetblocks.py)
            from ..engine.facetblocks import facet_postings_for_docs

            append_blocks_checkpointed(
                facet_postings_for_docs(delta, present_facets),
                posixpath.join(self.out_path, "facet_blocks"),
                snapshot=f"e{int(epoch_id)}",
                n_buckets=self.n_buckets,
                range_size=self.range_size,
                block_size=self.block_size,
            )
            fb_written = True

        if self.configuration.get("native_search_enabled") is not False:
            postings = tokenize_postings(
                delta, self.text_fields, self.configuration
            ).persist()
            append_blocks_checkpointed(
                postings,
                posixpath.join(self.out_path, "posting_blocks"),
                snapshot=f"e{int(epoch_id)}",
                n_buckets=self.n_buckets,
                range_size=self.range_size,
                block_size=self.block_size,
            )
            postings.groupBy("term").agg(
                F.count("*").alias("df")
            ).write.mode("overwrite").parquet(
                posixpath.join(self.out_path, "term_counts", edir)
            )
            postings.unpersist()

        delta.unpersist()
        # commit point: the epoch becomes visible atomically via meta.
        # doc_epochs/fb_epochs track facet-block COVERAGE: the read path
        # serves the block store only when every doc-contributing epoch
        # also appended facet blocks (a store whose early epochs predate
        # the feature must fall back to the scan path, not silently
        # serve filters from a partial block store)
        meta["n_docs"] = int(meta["n_docs"]) + n_new
        meta["epochs"].append(int(epoch_id))
        meta.setdefault("doc_epochs", []).append(int(epoch_id))
        if fb_written:
            meta.setdefault("fb_epochs", []).append(int(epoch_id))
        self._write_meta(fs, meta)
        if self.compact_every:
            self._maybe_compact(spark, fs, meta)

    def _maybe_compact(self, spark, fs: _HadoopFS, meta: Dict[str, Any]) -> None:
        """Every-``compact_every`` doc-contributing epochs, compact both
        block stores. Runs AFTER the epoch's meta commit: a crash during
        maintenance loses only the maintenance (the next epoch re-trips
        the threshold and compact_blocks recovers any half-swap)."""
        done = len(meta.get("doc_epochs", []))
        last = int(meta.get("compacted_at_n_epochs", 0))
        if done - last < self.compact_every:
            return
        from ..engine.checkpoint import compact_blocks

        for sub in ("posting_blocks", "facet_blocks"):
            d = posixpath.join(self.out_path, sub)
            if fs.exists(d):
                compact_blocks(
                    spark,
                    d,
                    n_buckets=self.n_buckets,
                    range_size=self.range_size,
                    block_size=self.block_size,
                )
        meta["compacted_at_n_epochs"] = done
        self._write_meta(fs, meta)

    def attach(
        self,
        stream_df: DataFrame,
        checkpoint_location: str,
        available_now: bool = True,
    ):
        """Wire onto a streaming DataFrame: returns the started query."""
        writer = (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_location)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def read_stream_index(
    spark: SparkSession, out_path: str, configuration: Dict[str, Any]
) -> Index:
    """Open the streaming snapshot store as a queryable Index: docs are
    the union of epoch deltas, postings serve from the merged block
    store, terms/facet dimension merge the per-epoch counts (idf and
    enum ranks are global properties, computed here at open time from
    dimension-sized tables — never a corpus rescan)."""
    fs = _HadoopFS(spark, out_path)
    meta_text = fs.read_text(posixpath.join(out_path, META))
    if meta_text is None:
        raise ValueError(f"no streaming index at {out_path}")
    meta = json.loads(meta_text)
    n_docs = int(meta["n_docs"])

    docs = spark.read.option("basePath", posixpath.join(out_path, "docs")).parquet(
        posixpath.join(out_path, "docs", "epoch=*")
    ).drop("epoch")

    aggs = configuration.get("aggregations") or {}
    facet_fields = [f for f in aggs.keys() if FK_PREFIX + f in docs.columns]

    fdir = posixpath.join(out_path, "facet_counts")
    if facet_fields and fs.exists(fdir):
        # epochs share one docid space: their (docid, pos) first
        # occurrences already order globally
        facet_values = _merge_facet_dims([
            spark.read.option("basePath", fdir).parquet(
                posixpath.join(fdir, "epoch=*")
            )
        ])
    else:
        facet_values = local_relation(
            spark, [], "field string, key string, doc_count long, enum_rank int"
        )

    terms = blocks = None
    tdir = posixpath.join(out_path, "term_counts")
    if fs.exists(tdir):
        tc = spark.read.option("basePath", tdir).parquet(
            posixpath.join(tdir, "epoch=*")
        )
        terms = _merge_terms([tc], n_docs)
        blocks = read_blocks(spark, posixpath.join(out_path, "posting_blocks"))

    # serve facet blocks only when they cover EVERY doc-contributing
    # epoch; a store written partly by a pre-facet-block writer (or with
    # unknown coverage — no doc_epochs record) falls back to the scan
    # path rather than returning filter results from a partial store
    fbdir = posixpath.join(out_path, "facet_blocks")
    doc_epochs = meta.get("doc_epochs")
    fb_covers = doc_epochs is not None and set(doc_epochs) <= set(
        meta.get("fb_epochs", [])
    )
    fblocks = (
        read_blocks(spark, fbdir) if fb_covers and fs.exists(fbdir) else None
    )

    return Index(
        spark=spark,
        docs=docs,
        facet_values=facet_values,
        postings=None,
        terms=terms,
        n_docs=n_docs,
        facet_fields=facet_fields,
        text_fields=index_text_fields(configuration),
        configuration=dict(configuration),
        posting_blocks=blocks,
        facet_posting_blocks=fblocks,
    )
