"""Resumable index builds: per-partition checkpoints with lineage + metrics.

North-rule requirement: "index builds are resumable from per-partition
checkpoints with lineage and build metrics recorded per partition".

Unit of resumption = a *term-hash bucket*: postings are split by
``pmod(xxhash64(term), n_buckets)`` and each bucket's compressed posting
blocks are written as an independent parquet directory plus a manifest
JSON. A re-run (after a crash, a lost executor batch, or a deliberate
kill) skips every bucket whose manifest validates and recomputes only
the missing ones. Hot terms don't defeat the bucketing because blocks.py
already splits a term by docid range *inside* the bucket.

Manifest per bucket (the lineage/metrics record):
  {bucket, n_buckets, rows, blocks, bytes, duration_s, attempt,
   input_fingerprint, finished_at_epoch}

``input_fingerprint`` ties the checkpoint to its input snapshot: row
count + schema + an order-independent content digest (bit_xor of
xxhash64 over every (term, _docid, tf) row, computed in the same pass
as the count). A row-level change — even one preserving cardinality —
changes the digest, so resume can never silently mix snapshots.

All manifest/listing I/O goes through the Hadoop FileSystem API of the
SparkSession that owns the postings frame, so checkpoints work wherever
the block data lands (HDFS, S3A, file://) — not only on the driver's
local disk.
"""

from __future__ import annotations

import hashlib
import json
import posixpath
import re
import time
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .blocks import DEFAULT_BLOCK_SIZE, build_posting_blocks

# underscore prefix: invisible to Spark's file index (like _SUCCESS),
# so the manifest can live next to the data it describes
MANIFEST = "_manifest.json"


class _HadoopFS:
    """Thin wrapper over org.apache.hadoop.fs.FileSystem for the small
    driver-side control files (manifests) and listings. Uses the same
    filesystem resolution as Spark's own writers, so ``out_path`` may be
    hdfs://, s3a://, file:// or a bare local path."""

    def __init__(self, spark: SparkSession, base: str):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._path(base).getFileSystem(self._conf)

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._path(p))

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._path(p)))

    def write_text(self, p: str, text: str) -> None:
        """Crash-safe overwrite: write to a sibling .tmp, then swap. The
        final rename is atomic; if a crash lands between the delete and
        the rename, read_text recovers from the completed .tmp — the
        control file (manifest / commit record) is never half-written."""
        tmp = p + ".tmp"
        out = self._fs.create(self._path(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        self.delete(p)
        self._fs.rename(self._path(tmp), self._path(p))

    def read_text(self, p: str) -> Optional[str]:
        for cand in (p, p + ".tmp"):  # .tmp: crash between delete+rename
            path = self._path(cand)
            if not self._fs.exists(path):
                continue
            stream = self._fs.open(path)
            try:
                return self._jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            finally:
                stream.close()
        return None

    def delete(self, p: str) -> None:
        path = self._path(p)
        if self._fs.exists(path):
            self._fs.delete(path, True)

    def rename(self, src: str, dst: str) -> None:
        """Move src over dst (dst replaced if present) — per-file atomic
        on HDFS; the commit primitive for snapshot appends."""
        self.delete(dst)
        self._fs.rename(self._path(src), self._path(dst))

    def try_rename(self, src: str, dst: str) -> bool:
        """Race-tolerant atomic move for swap/recovery PROMOTION: False
        instead of an exception when another promoter won (source
        vanished / destination appeared). HDFS signals both by returning
        false, but Hadoop's LocalFileSystem RAISES FileNotFoundException
        for a missing source — proven by the reader-promotes-first race
        test — so the exception is part of the benign-loss contract, not
        an error."""
        try:
            return bool(self._fs.rename(self._path(src), self._path(dst)))
        except Exception:
            return False

    def list_parquet(self, p: str):
        return [n for n in self.list_names(p) if n.endswith(".parquet")]

    def list_names(self, p: str):
        names = []
        it = self._fs.listFiles(self._path(p), False)
        while it.hasNext():
            names.append(it.next().getPath().getName())
        return sorted(names)

    def list_dirs(self, p: str):
        """Immediate child DIRECTORY names of ``p`` (listFiles only
        yields files)."""
        if not self.exists(p):
            return []
        return sorted(
            st.getPath().getName()
            for st in self._fs.listStatus(self._path(p))
            if st.isDirectory()
        )

    def parquet_sizes(self, p: str):
        """(n_files, total_bytes) over *.parquet under ``p`` (recursive)."""
        n_files = 0
        n_bytes = 0
        it = self._fs.listFiles(self._path(p), True)
        while it.hasNext():
            st = it.next()
            if st.getPath().getName().endswith(".parquet"):
                n_files += 1
                n_bytes += st.getLen()
        return n_files, n_bytes


def input_fingerprint(postings: DataFrame) -> str:
    """Snapshot identity of a postings frame: (rows, schema, content
    digest) in ONE aggregation pass. The digest is bit_xor of xxhash64
    over full rows — order-independent (the frame has no defined order)
    but sensitive to any row-level change."""
    from .indexer import DOCID

    row = postings.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("term", DOCID, "tf")).alias("digest"),
    ).collect()[0]
    schema = ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in postings.schema)
    key = f"{row['n']}|{row['digest']}|{schema}"
    return hashlib.sha256(key.encode()).hexdigest()[:16]


def _bucket_dir(path: str, bucket: int) -> str:
    return posixpath.join(path, f"bucket={bucket}")


def _read_manifest(fs: _HadoopFS, path: str, bucket: int) -> Optional[dict]:
    text = fs.read_text(posixpath.join(_bucket_dir(path, bucket), MANIFEST))
    if text is None:
        return None
    try:
        return json.loads(text)
    except json.JSONDecodeError:
        return None


def build_blocks_checkpointed(
    postings: DataFrame,
    out_path: str,
    n_buckets: int = 32,
    range_size: int = 1 << 20,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> Dict[str, object]:
    """Build the compressed posting-block table under ``out_path``,
    bucket by bucket, skipping buckets whose checkpoint already exists.

    Returns a build report {resumed: [...], built: [...], manifests}.
    """
    spark = postings.sparkSession
    fs = _HadoopFS(spark, out_path)
    fs.mkdirs(out_path)
    fp = input_fingerprint(postings)

    resumed: List[int] = []
    built: List[int] = []
    manifests: List[dict] = []
    bucketed = postings.withColumn(
        "__bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    )
    for b in range(n_buckets):
        m = _read_manifest(fs, out_path, b)
        if m and m.get("input_fingerprint") == fp:
            resumed.append(b)
            manifests.append(m)
            continue
        t0 = time.time()
        part = bucketed.filter(F.col("__bucket") == b).drop("__bucket")
        blocks = build_posting_blocks(
            part, range_size=range_size, block_size=block_size
        )
        bdir = _bucket_dir(out_path, b)
        blocks.write.mode("overwrite").parquet(bdir)
        stats = (
            part.agg(F.count("*").alias("rows")).collect()[0]
        )
        n_blocks, n_bytes = fs.parquet_sizes(bdir)
        attempt = (m.get("attempt", 0) + 1) if m else 1
        manifest = {
            "bucket": b,
            "n_buckets": n_buckets,
            "rows": stats["rows"],
            "blocks": n_blocks,
            "bytes": n_bytes,
            "duration_s": round(time.time() - t0, 3),
            "attempt": attempt,
            "input_fingerprint": fp,
            "finished_at_epoch": int(time.time()),
        }
        fs.write_text(posixpath.join(bdir, MANIFEST), json.dumps(manifest))
        built.append(b)
        manifests.append(manifest)
    return {"resumed": resumed, "built": built, "manifests": manifests}


def append_blocks_checkpointed(
    delta_postings: DataFrame,
    out_path: str,
    snapshot: str,
    n_buckets: int = 32,
    range_size: int = 1 << 20,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> Dict[str, object]:
    """Per-bucket snapshot APPEND to an existing block store: encode the
    delta's blocks and move them into each bucket directory under
    deterministic ``snap-<snapshot>-*`` names — existing bucket files are
    never rewritten (the per-bucket merge the north rule's incremental
    reindex wants). Resumable per (bucket, snapshot) via sidecar
    manifests ``_manifest.<snapshot>.json``; a crashed attempt re-runs
    idempotently because the rename targets are deterministic.

    ``n_buckets``/``range_size``/``block_size`` must match the base
    build. Readers need no changes: read_blocks globs every parquet file
    per bucket, and both WAND and the exact scorer already merge
    multiple blocks per (term, range)."""
    spark = delta_postings.sparkSession
    fs = _HadoopFS(spark, out_path)
    # appends are WRITERS: restore bucket liveness from any crashed
    # compaction first, so a delta is never written into a bucket dir
    # that a mid-swap crash left missing (which would create a dir
    # holding ONLY the delta and strand the main postings in staging)
    if fs.exists(posixpath.join(out_path, "_compacting")):
        _recover_compaction_fs(fs, out_path, writer=True)
    fp = input_fingerprint(delta_postings)
    manifest_name = f"_manifest.{snapshot}.json"

    resumed: List[int] = []
    built: List[int] = []
    manifests: List[dict] = []
    bucketed = delta_postings.withColumn(
        "__bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    )
    for b in range(n_buckets):
        bdir = _bucket_dir(out_path, b)
        mtext = fs.read_text(posixpath.join(bdir, manifest_name))
        m = None
        if mtext is not None:
            try:
                m = json.loads(mtext)
            except json.JSONDecodeError:
                m = None
        if m and m.get("input_fingerprint") == fp:
            resumed.append(b)
            manifests.append(m)
            continue
        # a compaction may have folded this snapshot into the base —
        # re-appending it would silently duplicate postings
        base = _read_manifest(fs, out_path, b)
        if base and str(snapshot) in base.get("folded_snapshots", []):
            resumed.append(b)
            manifests.append(
                {"bucket": b, "snapshot": snapshot, "folded": True}
            )
            continue
        t0 = time.time()
        part = bucketed.filter(F.col("__bucket") == b).drop("__bucket")
        blocks = build_posting_blocks(
            part, range_size=range_size, block_size=block_size
        )
        tmp = posixpath.join(out_path, f"_tmp_snap_{snapshot}", f"bucket={b}")
        blocks.write.mode("overwrite").parquet(tmp)
        n_rows = part.agg(F.count("*")).collect()[0][0]
        fs.mkdirs(bdir)  # first snapshot into a fresh bucket dir
        # a crashed earlier attempt may have renamed in MORE files than
        # this attempt produces (partition counts can differ) — clear
        # this snapshot's files first so the append is truly idempotent
        if fs.exists(bdir):
            for fn in fs.list_parquet(bdir):
                if fn.startswith(f"snap-{snapshot}-"):
                    fs.delete(posixpath.join(bdir, fn))
        moved = 0
        for i, fn in enumerate(fs.list_parquet(tmp)):
            fs.rename(
                posixpath.join(tmp, fn),
                posixpath.join(bdir, f"snap-{snapshot}-{i:05d}.parquet"),
            )
            moved += 1
        fs.delete(posixpath.join(out_path, f"_tmp_snap_{snapshot}"))
        attempt = (m.get("attempt", 0) + 1) if m else 1
        manifest = {
            "bucket": b,
            "snapshot": snapshot,
            "n_buckets": n_buckets,
            "rows": n_rows,
            "blocks": moved,
            "duration_s": round(time.time() - t0, 3),
            "attempt": attempt,
            "input_fingerprint": fp,
            "finished_at_epoch": int(time.time()),
        }
        fs.write_text(posixpath.join(bdir, manifest_name), json.dumps(manifest))
        built.append(b)
        manifests.append(manifest)
    return {"resumed": resumed, "built": built, "manifests": manifests}


def compact_blocks(
    spark: SparkSession,
    out_path: str,
    n_buckets: int,
    range_size: int = 1 << 20,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> Dict[str, object]:
    """Offline maintenance: fold every snapshot's ``snap-*`` delta files
    back into one optimally-packed block set per bucket (many small
    appended blocks per (term, range) → one, restoring WAND's per-range
    upper-bound tightness and minimal file counts).

    Per bucket: decode → re-encode → write to a hidden staging dir
    (its manifest is the completion marker) → rename the live bucket
    dir ASIDE (never delete-first: a reader arriving mid-swap must be
    able to recover a complete store) → atomic rename staging → live →
    drop the set-aside dir. Any crash window is recovered both here and
    at READ time (``read_blocks`` → ``recover_compaction``), so the
    store is never silently partial. Snapshot sidecar manifests are
    superseded by a fresh base manifest whose fingerprint matches the
    merged contents."""
    from .blocks import build_posting_blocks, postings_from_blocks

    fs = _HadoopFS(spark, out_path)
    staging_root = posixpath.join(out_path, "_compacting")
    # writer-side recovery: restore liveness, then DISCARD any prior
    # crash's staging leftovers — the live dirs are authoritative (they
    # may hold snap-* deltas appended after the crash), so every bucket
    # below recompacts from current live state; nothing stale is adopted
    _recover_compaction_fs(fs, out_path, writer=True)

    report: List[dict] = []
    for b in range(n_buckets):
        bdir = _bucket_dir(out_path, b)
        tmp = posixpath.join(staging_root, f"bucket={b}")
        if not fs.exists(bdir):
            continue
        t0 = time.time()
        # snapshots being folded in: their sidecar manifests are about
        # to disappear, so record their ids — append_blocks_checkpointed
        # treats folded snapshots as already applied (no duplicates on a
        # replayed append-then-compact pipeline)
        folded = set()
        old_base = _read_manifest(fs, out_path, b) or {}
        folded.update(str(s) for s in old_base.get("folded_snapshots", []))
        for name in fs.list_names(bdir):
            if name.startswith("_manifest.") and name.endswith(".json"):
                snap = name[len("_manifest."):-len(".json")]
                if snap:
                    folded.add(snap.removesuffix(".tmp"))
        postings = postings_from_blocks(spark.read.parquet(bdir)).persist()
        fp = input_fingerprint(postings)
        blocks = build_posting_blocks(
            postings, range_size=range_size, block_size=block_size
        )
        blocks.write.mode("overwrite").parquet(tmp)
        n_rows = postings.count()
        postings.unpersist()
        n_files, n_bytes = fs.parquet_sizes(tmp)
        manifest = {
            "bucket": b,
            "n_buckets": n_buckets,
            "rows": n_rows,
            "blocks": n_files,
            "bytes": n_bytes,
            "duration_s": round(time.time() - t0, 3),
            "attempt": 1,
            "compacted": True,
            "folded_snapshots": sorted(folded),
            "input_fingerprint": fp,
            "finished_at_epoch": int(time.time()),
        }
        fs.write_text(posixpath.join(tmp, MANIFEST), json.dumps(manifest))
        # swap: set the live dir aside (atomic rename, NOT delete — a
        # reader landing in this window still finds a complete store via
        # recover_compaction), promote staging, then drop the old copy
        old = tmp + ".old"
        fs.delete(old)
        fs._fs.rename(fs._path(bdir), fs._path(old))
        # a concurrent reader's promote-only recovery may legally win
        # this exact rename (it saw the live dir missing); losing is
        # benign as long as SOMEONE made the bucket live again
        if not fs.try_rename(tmp, bdir) and not fs.exists(bdir):
            raise RuntimeError(
                f"compaction swap for bucket {b}: promote lost but no "
                f"live dir appeared at {bdir}"
            )
        fs.delete(old)
        report.append(manifest)
    fs.delete(staging_root)
    return {"compacted": [m["bucket"] for m in report], "manifests": report}


def recover_compaction(spark: SparkSession, out_path: str) -> List[int]:
    """WRITER-side recovery of a compaction that died mid-flight (run by
    maintenance jobs — ``compact_blocks`` / ``append_blocks_checkpointed``
    — under the store's single-writer assumption). Returns the bucket
    ids whose liveness had to be restored.

    Per staged bucket (``_compacting/bucket=N[.old]``):

    * live dir MISSING → the crash hit between the two swap renames;
      restore liveness by promoting staging (its manifest is the
      completion marker) or, defensively, the set-aside ``.old`` copy.
    * live dir present → it is authoritative: it may contain ``snap-*``
      deltas appended AFTER the crashed compaction, so a stale staging
      dir must never replace it. ALL leftovers (partial or completed
      staging, set-aside copies) are discarded; the caller recompacts
      from the live state if it wants the fold.
    """
    return _recover_compaction_fs(
        _HadoopFS(spark, out_path), out_path, writer=True
    )


def _recover_compaction_fs(
    fs: _HadoopFS, out_path: str, writer: bool
) -> List[int]:
    """Shared recovery walk. ``writer=False`` is the READ-time mode: it
    only restores liveness (promote-style renames when the live dir is
    missing) and NEVER deletes anything — a reader racing a live
    compaction writer must not be able to destroy the bucket the writer
    is just promoting (each rename here is benign if it loses the race:
    Hadoop rename onto an existing destination returns false and the
    writer's freshly promoted live dir wins). Leftover staging dirs are
    garbage-collected by the next WRITER, whose single-writer contract
    makes deletion safe."""
    staging_root = posixpath.join(out_path, "_compacting")
    if not fs.exists(staging_root):
        return []
    restored: List[int] = []
    for name in fs.list_dirs(staging_root):
        base = name.removesuffix(".old")
        if not base.startswith("bucket="):
            continue
        try:
            b = int(base[len("bucket="):])
        except ValueError:
            continue
        bdir = _bucket_dir(out_path, b)
        tmp = posixpath.join(staging_root, f"bucket={b}")
        old = tmp + ".old"
        if not fs.exists(bdir):
            # crash (or a live writer) between the swap renames: restore
            # liveness from the completed staging, else the set-aside
            # copy. try_rename: the writer (or another reader) may win
            # the same promote between our exists() probe and the rename
            # — losing is benign, the bucket is live either way
            if fs.exists(posixpath.join(tmp, MANIFEST)):
                if fs.try_rename(tmp, bdir):
                    restored.append(b)
            elif name.endswith(".old") and fs.exists(old):
                if fs.try_rename(old, bdir):
                    restored.append(b)
        if writer and fs.exists(bdir):
            # live dir is authoritative (it may hold post-crash snap-*
            # deltas); stale staging must never replace it
            fs.delete(tmp)
            fs.delete(old)
    if writer and not fs.list_dirs(staging_root):
        fs.delete(staging_root)
    return restored


def _staged_bucket_ids(fs: _HadoopFS, out_path: str) -> set:
    staging_root = posixpath.join(out_path, "_compacting")
    ids = set()
    for name in fs.list_dirs(staging_root):
        base = name.removesuffix(".old")
        if base.startswith("bucket="):
            try:
                ids.add(int(base[len("bucket="):]))
            except ValueError:
                pass
    return ids


def read_blocks(spark: SparkSession, out_path: str) -> DataFrame:
    # a store with an in-progress compaction swap has its bucket
    # liveness restored BEFORE the glob below binds, so a crash mid-swap
    # can never serve the store minus a bucket's postings (one exists()
    # probe on the common path). Read-time recovery is PROMOTE-ONLY
    # (writer=False): it never deletes, so a reader racing a live
    # compaction writer cannot destroy the bucket the writer is
    # promoting; staging leftovers are cleaned by the next writer.
    #
    # A LIVE writer can also set a bucket aside BETWEEN our recovery
    # walk and the glob binding below (the swap is two renames, and the
    # reader cannot freeze the store). Every bucket a writer may touch
    # has a staging entry, so after binding we check the file index
    # actually caught every staged bucket (driver-side inputFiles — no
    # job) and rebind if the glob hit the swap window. Bounded retry:
    # each pass either finds the store complete or re-promotes liveness.
    #
    # Read contract under a LIVE compaction (single-writer store, no
    # table format): a DataFrame BOUND here can still fail LOUDLY at
    # execution time (FAILED_READ_FILE) if the writer swaps its bucket
    # between binding and the scan — the old files move away. It can
    # never be silently wrong: every bound file set is a complete
    # consistent store snapshot (the race-proof above), so the failure
    # mode is an exception to retry, never a short count. Closing that
    # last window needs generation-tracked files + deferred GC (what
    # Iceberg/Delta manifests provide) — out of scope for a
    # directory-swap store.
    fs = _HadoopFS(spark, out_path)
    glob = posixpath.join(out_path, "bucket=*")
    staging_root = posixpath.join(out_path, "_compacting")
    last_missing: set = set()
    for _ in range(5):
        staged: set = set()
        if fs.exists(staging_root):
            _recover_compaction_fs(fs, out_path, writer=False)
            staged = _staged_bucket_ids(fs, out_path)
        df = spark.read.option("basePath", out_path).parquet(glob)
        if not staged:
            return df
        seen = set()
        for f in df.inputFiles():
            m = re.search(r"/bucket=(\d+)/", f)
            if m:
                seen.add(int(m.group(1)))
        # every staged bucket must be visible in the bound index: a live
        # writer only ever touches staged buckets, and a staged bucket
        # whose live dir is currently absent gets promoted by the next
        # pass's recovery walk (or by the writer itself, whichever wins)
        last_missing = staged - seen
        if not last_missing:
            return df
    raise RuntimeError(
        f"read_blocks: store at {out_path} kept a torn compaction swap "
        f"across retries (buckets {sorted(last_missing)} live but unbound)"
    )
