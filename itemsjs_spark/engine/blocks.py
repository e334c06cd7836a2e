"""Posting-block storage: docid blocks as Spark arrays with per-block
metadata (min/max docid, max tf) for block-max pruning.

Layout (the scale path for 10^12-turn postings; north_star):

``posting_blocks(term string, range_id int, block_id int, n int,
docid_min long, docid_max long, max_tf double, docids array<bigint>,
tfs array<double>)``

* ``docids``: the block's ascending docids. Parquet's own encodings of
  the array column do the compression, so no codec of ours runs on a
  read or a write.
* ``tfs``: float64, parallel to ``docids`` — keeps WAND scores
  bit-identical to the row-level scorer (rank parity is a hard
  requirement).
* ``range_id``: docid-range bucket (docid // range_size). All terms'
  blocks for one docid range co-locate, so WAND admits and scores whole
  ranges and prunes the rest from metadata alone.
* hot terms are split across blocks of ``block_size`` postings inside a
  range — a term's postings never have to fit in one task's memory.

Encode, decode and shift are Spark plans (window + aggregate,
``explode``, ``transform``): the block-store path starts no Python task.
Small driver-side relations (term weights, top-k heaps, tombstone sets,
empty results) are built with ``relations.local_relation`` — a JVM
``LocalTableScan`` — never with ``spark.createDataFrame(<python
list>)``, whose ``Scan ExistingRDD`` starts ``defaultParallelism``
Python tasks every time it is read (about 200 ms CPU each).
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_BLOCK_SIZE = 1 << 14  # postings per block

# postings one sized decode task handles: 64 full blocks. A decode is a
# JVM explode, but each file split of the block scan is still a task, and
# a limit() collect over more splits can take more than one job: on the
# 10k-turn perfbench deploy store, unsized decodes took the disk requests
# from 23.3 to 38.3 tasks and from 11.2 to 13.0 jobs each. Selective
# decodes fit one task; a hot term's still runs in parallel
POSTINGS_PER_DECODE_TASK = 64 * DEFAULT_BLOCK_SIZE

BLOCK_COLUMNS = [
    "term", "range_id", "block_id", "n",
    "docid_min", "docid_max", "max_tf", "docids", "tfs",
]


def check_block_layout(blocks: DataFrame, where: str) -> DataFrame:
    """Raise ``ValueError`` unless ``blocks`` has the array layout above;
    returns ``blocks``. Stores written before the array layout keep their
    docids as a varint ``binary`` blob that nothing here can read."""
    dt = {f.name: f.dataType for f in blocks.schema.fields}.get("docids")
    if not (isinstance(dt, T.ArrayType) and dt.elementType == T.LongType()):
        raise ValueError(
            f"block store at {where} has docids of type "
            f"{dt.simpleString() if dt else 'none'}, not array<bigint>: it "
            "predates the array block layout; rebuild it with "
            "Index.write_blocks"
        )
    return blocks


def build_posting_blocks(
    postings: DataFrame,
    range_size: int = 1 << 20,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """postings(term, _docid, tf) -> block table.

    Shuffle shape: one hash exchange on (term, range_id) serves both the
    block numbering window and the per-block aggregate. Hot terms
    ("the"-class, df ~ corpus size) are *naturally salted* by range_id —
    a term with 10^9 postings becomes 10^9/range_size independent
    groups, so no single task sees the whole posting list."""
    from .indexer import DOCID

    rank = Window.partitionBy("term", "range_id").orderBy(DOCID)
    grouped = (
        postings.withColumn(
            "range_id", (F.col(DOCID) / F.lit(range_size)).cast("int")
        )
        .withColumn(
            "block_id",
            ((F.row_number().over(rank) - 1) / F.lit(block_size)).cast("int"),
        )
        .groupBy("term", "range_id", "block_id")
        .agg(F.sort_array(F.collect_list(F.struct(DOCID, "tf"))).alias("p"))
    )
    docids = F.col("p")[DOCID]
    return grouped.select(
        "term",
        "range_id",
        "block_id",
        F.size("p").alias("n"),
        docids[0].alias("docid_min"),
        F.element_at(docids, -1).alias("docid_max"),
        F.array_max(F.col("p.tf")).alias("max_tf"),
        docids.alias("docids"),
        F.col("p.tf").alias("tfs"),
    )


def postings_from_blocks(
    blocks: DataFrame, est: Optional[int] = None
) -> DataFrame:
    """Decode a (filtered) block table back to row-level postings
    (term, _docid, tf): one ``explode``, no shuffle.

    Filter ``blocks`` by term BEFORE this call: the filter is then a
    parquet-scan predicate on the block table (row-group min/max on the
    term-sorted layout prunes IO).

    ``est`` is the caller's estimate of the postings the filter keeps,
    from counts the driver already holds (a facet value's global doc
    count, a term's df). When given, the filtered scan is coalesced to
    ``ceil(est / POSTINGS_PER_DECODE_TASK)`` partitions, so a selective
    decode runs in one task instead of one per file split. Without it
    the scan's own partitioning stays (the right shape for whole-store
    decodes: compaction, checkpoints)."""
    from .indexer import DOCID

    if est is not None:
        blocks = blocks.coalesce(
            max(1, math.ceil(est / POSTINGS_PER_DECODE_TASK))
        )
    return blocks.select(
        "term", F.explode(F.arrays_zip("docids", "tfs")).alias("p")
    ).select(
        "term", F.col("p.docids").alias(DOCID), F.col("p.tfs").alias("tf")
    )


def shift_blocks(blocks: DataFrame, offset: int, range_size: int) -> DataFrame:
    """Shift every docid in a block store by ``offset`` without turning
    blocks back into postings — the segment-merge primitive for disk
    stores.

    ``offset`` must be a multiple of ``range_size``: every docid then
    moves a whole number of ranges, so range membership shifts uniformly
    (``range_id += offset/range_size``) and block boundaries stay put.
    Cost ∝ number of blocks (one array ``transform`` each), never a
    shuffle."""
    if offset % range_size:
        raise ValueError("offset must be a multiple of range_size")
    if offset == 0:
        return blocks
    off = F.lit(offset)
    return (
        blocks.withColumn("range_id", F.col("range_id") + offset // range_size)
        .withColumn("docid_min", F.col("docid_min") + off)
        .withColumn("docid_max", F.col("docid_max") + off)
        .withColumn("docids", F.transform("docids", lambda x: x + off))
    )
