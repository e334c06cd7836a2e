"""Compressed posting-block storage: delta + varint docid blocks with
per-block metadata (min/max docid, max tf) for block-max pruning.

Layout (the scale path for 10^12-turn postings; north_star):

``posting_blocks(term string, range_id int, block_id int, n int,
docid_min long, docid_max long, max_tf double, docids binary, tfs binary)``

* ``docids``: delta + LEB128-varint encoded ascending docids.
* ``tfs``: float64 array — keeps WAND scores bit-identical to the
  uncompressed scorer (rank parity is a hard requirement; docid varints
  are where the compression win lives, tf bytes are a minor term).
* ``range_id``: docid-range bucket (docid // range_size). All terms'
  blocks for one docid range co-locate, so per-range WAND top-k runs
  shuffle-free and the global top-k is a union of tiny per-range heaps.
* hot terms are split across blocks of ``block_size`` postings inside a
  range — a term's postings never have to fit in one task's memory.

Pure-python codec kept allocation-light; executed inside Arrow-batched
``applyInPandas`` / ``mapInPandas`` (per (term, range) groups, or per
batch of block rows), never per-row Python.

Python tasks on the request path. Every PySpark task pays a fixed CPU
cost to start (about 200 ms on a 4-core x86 host, most of it the
worker's per-task import-cache reset), whether it gets 0 rows or 10k.
So a request that serves from the block store follows two rules:

* **Decode sizing.** A decode sized by a posting-count estimate runs in
  ``ceil(est / POSTINGS_PER_DECODE_TASK)`` tasks (never more than the
  block scan has splits): the term-filtered scan is coalesced before
  ``mapInPandas``, so empty file splits never start a Python worker and
  a hot term still decodes in parallel. Decodes without an estimate
  keep the scan's own partitioning.
* **No Python-RDD relations.** Small driver-side relations (term
  weights, top-k heaps, tombstone sets, empty results) are built with
  ``relations.local_relation`` — a JVM ``LocalTableScan`` — never with
  ``spark.createDataFrame(<python list>)``, whose ``Scan ExistingRDD``
  starts ``defaultParallelism`` Python tasks every time it is read.
"""

from __future__ import annotations

import math
from typing import Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BLOCK_SIZE = 1 << 14  # postings per block

# postings one sized decode task handles: 64 full blocks. The varint
# decode costs ~3 ms per full block on a 4-core x86 host, so one task's
# decode work is about its ~200 ms fixed start-up cost
POSTINGS_PER_DECODE_TASK = 64 * DEFAULT_BLOCK_SIZE

BLOCK_SCHEMA = (
    "term string, range_id int, block_id int, n int, docid_min long, "
    "docid_max long, max_tf double, docids binary, tfs binary"
)


def encode_varint_deltas(docids: np.ndarray) -> bytes:
    """LEB128 varint of consecutive deltas (first value absolute)."""
    out = bytearray()
    prev = 0
    for v in docids.tolist():
        d = v - prev
        if d < 0:  # unsorted/overflowed input would loop forever below
            raise ValueError("docids must be ascending for delta encoding")
        prev = v
        while True:
            b = d & 0x7F
            d >>= 7
            if d:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


def decode_varint_deltas(blob: bytes, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.int64)
    acc = 0
    shift = 0
    cur = 0
    i = 0
    for byte in blob:
        cur |= (byte & 0x7F) << shift
        if byte & 0x80:
            shift += 7
        else:
            acc += cur
            out[i] = acc
            i += 1
            cur = 0
            shift = 0
    assert i == n, f"varint block decoded {i} values, expected {n}"
    return out


def build_posting_blocks(
    postings: DataFrame,
    range_size: int = 1 << 20,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """postings(term, _docid, tf) -> compressed block table.

    Shuffle shape: one hash exchange on (term, range_id). Hot terms
    ("the"-class, df ~ corpus size) are *naturally salted* by range_id —
    a term with 10^9 postings becomes 10^9/range_size independent
    groups, so no single task sees the whole posting list.
    """
    from .indexer import DOCID

    with_range = postings.withColumn(
        "range_id", (F.col(DOCID) / F.lit(range_size)).cast("int")
    )

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(DOCID)
        term = pdf["term"].iloc[0]
        range_id = int(pdf["range_id"].iloc[0])
        docids = pdf[DOCID].to_numpy(dtype=np.int64)
        tfs = pdf["tf"].to_numpy(dtype=np.float64)
        rows: List[Tuple] = []
        for b, start in enumerate(range(0, len(docids), block_size)):
            dd = docids[start : start + block_size]
            tt = tfs[start : start + block_size]
            rows.append(
                (
                    term,
                    range_id,
                    b,
                    len(dd),
                    int(dd[0]),
                    int(dd[-1]),
                    float(tt.max()),
                    encode_varint_deltas(dd),
                    tt.tobytes(),
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "term", "range_id", "block_id", "n", "docid_min",
                "docid_max", "max_tf", "docids", "tfs",
            ],
        )

    return with_range.groupBy("term", "range_id").applyInPandas(
        encode, schema=BLOCK_SCHEMA
    )


def decode_block(row) -> Tuple[np.ndarray, np.ndarray]:
    docids = decode_varint_deltas(bytes(row["docids"]), int(row["n"]))
    tfs = np.frombuffer(bytes(row["tfs"]), dtype=np.float64)
    return docids, tfs


def postings_from_blocks(
    blocks: DataFrame, est: Optional[int] = None
) -> DataFrame:
    """Decode a (filtered) block table back to row-level postings
    (term, _docid, tf) — Arrow-batched, one pass, no shuffle.

    Callers MUST filter ``blocks`` by term BEFORE this call (the filter
    is then a parquet-scan predicate on the compressed table; row-group
    min/max on the term-sorted layout prunes IO). A filter applied to
    the returned frame would instead decode everything first — Catalyst
    cannot push predicates through mapInPandas.

    ``est`` is the caller's estimate of the postings the filter keeps,
    from counts the driver already holds (a facet value's global doc
    count, a term's df). When given, the filtered scan is coalesced to
    ``ceil(est / POSTINGS_PER_DECODE_TASK)`` partitions before the
    decode, so a selective decode starts one Python task instead of one
    per file split. Without it the scan's own partitioning stays (the
    right shape for whole-store decodes: compaction, checkpoints)."""
    from .indexer import DOCID

    if est is not None:
        blocks = blocks.coalesce(
            max(1, math.ceil(est / POSTINGS_PER_DECODE_TASK))
        )

    def decode(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            if pdf.empty:
                continue
            terms: List[np.ndarray] = []
            ids: List[np.ndarray] = []
            tfs: List[np.ndarray] = []
            for term, n, blob, tf_blob in zip(
                pdf["term"], pdf["n"], pdf["docids"], pdf["tfs"]
            ):
                d = decode_varint_deltas(bytes(blob), int(n))
                t = np.frombuffer(bytes(tf_blob), dtype=np.float64)
                terms.append(np.repeat(term, len(d)))
                ids.append(d)
                tfs.append(t)
            yield pd.DataFrame(
                {
                    "term": np.concatenate(terms),
                    DOCID: np.concatenate(ids),
                    "tf": np.concatenate(tfs),
                }
            )

    return blocks.select("term", "n", "docids", "tfs").mapInPandas(
        decode, schema=f"term string, {DOCID} long, tf double"
    )


def shift_blocks(blocks: DataFrame, offset: int, range_size: int) -> DataFrame:
    """Shift every docid in a block store by ``offset`` WITHOUT decoding
    any posting list — the segment-merge primitive for disk stores.

    ``offset`` must be a multiple of ``range_size``: every docid then
    moves a whole number of ranges, so range membership shifts uniformly
    (``range_id += offset/range_size``) and the intra-range delta chain
    is untouched. Only each block's FIRST varint (the absolute base
    docid) is rewritten — O(1) bytes per block, the rest of the blob is
    copied verbatim. Arrow-batched; cost ∝ number of blocks, never
    number of postings."""
    if offset % range_size:
        raise ValueError("offset must be a multiple of range_size")
    if offset == 0:
        return blocks
    shift_ranges = offset // range_size

    def rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_blobs = []
            for blob in pdf["docids"]:
                b = bytes(blob)
                val = 0
                sh = 0
                i = 0
                for byte in b:  # decode the first (absolute) varint
                    i += 1
                    val |= (byte & 0x7F) << sh
                    if byte & 0x80:
                        sh += 7
                    else:
                        break
                d = val + offset  # re-encode shifted base
                enc = bytearray()
                while True:
                    x = d & 0x7F
                    d >>= 7
                    if d:
                        enc.append(x | 0x80)
                    else:
                        enc.append(x)
                        break
                out_blobs.append(bytes(enc) + b[i:])
            yield pdf.assign(
                range_id=pdf["range_id"] + shift_ranges,
                docid_min=pdf["docid_min"] + offset,
                docid_max=pdf["docid_max"] + offset,
                docids=out_blobs,
            )

    return blocks.mapInPandas(rewrite, schema=BLOCK_SCHEMA)
