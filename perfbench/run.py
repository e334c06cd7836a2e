#!/usr/bin/env python3
"""Benchmark of the faceted-search engine (itemsjs_spark.engine + analysis
+ core), run from the root of a checkout:

    python3 perfbench/run.py --workload {deploy,search} --seed N \
        --seconds S --trace {0,1}

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records a span
around every call into a layer, attaches Spark counters, runs one probe of
each layer and prints the per-layer metrics. Both check outputs and exit 1
when a check fails. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from typing import Any, Callable, Dict, List, Optional

import inputs
from check import Digest, first_difference, norm
from cpu import CpuClock
from spans import Tracer

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

# corpus size (turns). Small on purpose: on a 4-core host a request costs
# ~10 Spark jobs whatever the corpus size, and a whole run (JVM start and
# warm-up included) has to stay near one minute.
CORPUS_TURNS = 10_000
CORPUS_FILES = 8        # parquet files per stored corpus
N_BUCKETS = 2           # write_blocks buckets
DISK_PASSES = 3         # disk mixes (fresh parameters each) per deploy cycle
# leading disk mixes kept out of the samples: on a freshly opened engine
# they fill its lazy caches while the JIT compiles the block read path,
# and in some runs cost up to 1.4x what the later ones do
WARM_DISK_MIXES = 1
# untimed blocks after search's oracle gate: the JIT's optimizing compiler
# is still compiling the query path, and its threads compete with the
# requests for the cores meanwhile
WARM_BLOCKS = 1
INGEST_ROUNDS = 2       # appends per ingest probe (traced run)
DELTA_TURNS = 200       # turns per append delta
DELETES_PER_ROUND = 5
ORDER_BY = ["conv_id", "turn_idx"]
ROUTES = ["wand_topk", "wand_filtered", "facet_blocks", "standard_scan"]
DRIVER_MEMORY = "3g"


def metric_units(trace: bool) -> Dict[str, str]:
    """Name -> unit of the metrics a run prints, as BENCHMARK.json lists
    them (end-to-end for an untraced run, per-layer for a traced one)."""
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROCESS:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def median(xs: List[float]) -> float:
    return float(statistics.median(xs)) if xs else math.nan


def mean(xs: List[float]) -> float:
    return statistics.fmean(xs) if xs else math.nan


def quantile(xs: List[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    if not xs:
        return math.nan
    s = sorted(xs)
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# Spark session (pinned configuration)
# ---------------------------------------------------------------------------

def spark_conf(cores: int, tmp: str) -> Dict[str, str]:
    return {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }


def start_spark(conf: Dict[str, str]):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("perfbench")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# Run context
# ---------------------------------------------------------------------------

class Run:
    def __init__(self, args, spark, work: str, tracer, cpu: CpuClock):
        self.args = args
        self.seed = args.seed
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.clock = cpu
        self.attempted = 0
        self.failed = 0
        self.errors: List[str] = []
        self.lat: Dict[str, List[float]] = {"text": [], "facet": []}
        # family -> request kind -> CPU seconds of each sample
        self.cpu: Dict[str, Dict[str, List[float]]] = {"text": {}, "facet": {}}
        self.timings: Dict[str, Dict[str, List[float]]] = {
            f: {"search": [], "facets": [], "sorting": []} for f in ("text", "facet")
        }
        self.build_s: List[float] = []
        self.build_cpu_s: List[float] = []
        self.input_bytes = 0
        self.values: Dict[str, Any] = {}   # per-layer samples and values
        self.routes: Dict[str, Dict[str, int]] = {
            "search": dict.fromkeys(ROUTES, 0), "disk": dict.fromkeys(ROUTES, 0)
        }

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        log(f"FAILED: {what}")

    def attempt(self, what: str, fn: Callable[[], Any]) -> Any:
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 — a failed operation is a result
            self.fail(f"{what}\n{traceback.format_exc()}")
            return None

    def span(self, name: str, **attrs: Any):
        return self.tracer.span(name, **attrs)


def call(eng, kind: str, req: Dict[str, Any]) -> Dict[str, Any]:
    if kind == "aggregation":
        return eng.aggregation(dict(req))
    return eng.search(dict(req))


def corpus_frame(run: Run, cols: Dict[str, list]):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.LongType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.LongType()),
    ])
    rows = list(zip(*[cols[c] for c in inputs.COLUMNS]))
    return run.spark.createDataFrame(rows, schema)


def store_corpus(run: Run, cols: Dict[str, list]):
    """Write the corpus as a parquet table and return a scan of it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(run.work, "corpus")
    os.makedirs(path)
    table = pa.table({c: cols[c] for c in inputs.COLUMNS}, schema=pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int64()),
        ("role", pa.string()), ("text", pa.string()),
        ("tool", pa.string()), ("ts", pa.int64()),
    ]))
    n = table.num_rows
    for k in range(CORPUS_FILES):
        lo, hi = k * n // CORPUS_FILES, (k + 1) * n // CORPUS_FILES
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{k:03d}.parquet"))
    run.input_bytes = dir_bytes(path)
    return run.spark.read.parquet(path)


def cache_bytes(spark) -> int:
    info = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(r.memSize() + r.diskSize() for r in info))


def build_engine(run: Run, df, cfg):
    from itemsjs_spark.engine import itemsjs_spark

    before = cache_bytes(run.spark) if run.tracer.enabled else 0
    c0 = run.clock.mark()
    t0 = time.perf_counter()
    with run.span("build"):
        with run.span("itemsjs_spark"):
            eng = itemsjs_spark(run.spark, df, cfg, order_by=ORDER_BY)
        with run.span("SearchEngine.materialize"):
            eng.materialize()
    run.build_s.append(time.perf_counter() - t0)
    run.build_cpu_s.append(run.clock.since(c0))
    if run.tracer.enabled and "index.cache_bytes_per_input_byte" not in run.values:
        run.values["index.cache_bytes_per_input_byte"] = (
            (cache_bytes(run.spark) - before) / run.input_bytes
        )
    return eng


def serve(run: Run, eng, family: str, kind: str, req: Dict[str, Any],
          engine: str, record: bool = True) -> Optional[Dict[str, Any]]:
    """One timed request. ``record`` adds its latency to the family's
    end-to-end samples."""
    run.attempted += 1
    c0 = run.clock.mark()
    with run.span("SearchEngine.search", family=family, kind=kind,
                  engine=engine, request=req) as sp:
        t0 = time.perf_counter()
        try:
            res = call(eng, kind, req)
        except Exception:  # noqa: BLE001
            run.fail(f"{engine} {kind} {req}\n{traceback.format_exc()}")
            return None
        dt = time.perf_counter() - t0
    cpu = run.clock.since(c0)
    if sp is not None:
        sp["latency_s"] = dt
        sp["attrs"]["sampled"] = record
    if record:
        run.lat[family].append(dt)
        run.cpu[family].setdefault(kind, []).append(cpu)
    tm = res.get("timings")
    if tm and record:
        for k in ("search", "facets", "sorting"):
            run.timings[family][k].append(float(tm.get(k, 0)))
    if run.tracer.enabled and kind != "aggregation" and engine in ("memory", "disk"):
        route = eng.explain_search(dict(req))["route"]
        run.routes["disk" if engine == "disk" else "search"][route] += 1
        if sp is not None:
            sp["route"] = route
    return res


# ---------------------------------------------------------------------------
# Warm-up and output checks
# ---------------------------------------------------------------------------

def warm_up(run: Run, df):
    """The first build in the JVM, over the workload's own corpus, before
    anything is timed: JVM start-up, JIT and the Python workers land in
    set-up. A smaller corpus would not be cheaper: a cold build costs about
    the same whatever its size, and ``search`` serves from this engine."""
    from itemsjs_spark.engine import itemsjs_spark

    with run.span("warm_up"):
        eng = itemsjs_spark(run.spark, df, inputs.config(), order_by=ORDER_BY)
        eng.materialize()
    return eng


def answer(run: Run, eng, kind: str, req: Dict[str, Any]) -> Any:
    """Normalized response, or the exception the call raised (untimed)."""
    run.attempted += 1
    try:
        return norm(kind, call(eng, kind, req))
    except Exception as e:  # noqa: BLE001 — compared for raise parity
        return e


def compare(run: Run, what: str, req: Dict[str, Any], want: Any, got: Any) -> None:
    """Both sides must answer alike after normalization, or both raise."""
    want_exc, got_exc = isinstance(want, Exception), isinstance(got, Exception)
    if want_exc != got_exc:
        run.fail(f"{what} raise parity {req}: want={want!r} got={got!r}")
    elif not got_exc and want != got:
        run.fail(f"{what} {req}: {first_difference(want, got)}")


def oracle_gate(run: Run, cols, served) -> None:
    """Correctness gate 1: every ``(kind, request, response)`` in
    ``served`` must equal ``ItemsJSOracle``'s answer over the same corpus."""
    from itemsjs_spark.oracle.itemsjs_oracle import ItemsJSOracle

    oracle = ItemsJSOracle(inputs.items(cols), inputs.config())
    for kind, req, got in served:
        compare(run, "oracle gate", req, answer(run, oracle, kind, req), got)


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

def persist_and_reopen(run: Run, eng, store: str):
    from itemsjs_spark.engine import Index, SearchEngine

    t0 = time.perf_counter()
    with run.span("Index.write_blocks"):
        eng.index.write_blocks(store, n_buckets=N_BUCKETS)
    run.values.setdefault("persist_s", []).append(time.perf_counter() - t0)
    if run.tracer.enabled and "index.disk_bytes_per_input_byte" not in run.values:
        run.values["index.disk_bytes_per_input_byte"] = (
            dir_bytes(store) / run.input_bytes
        )
    with run.span("Index.read+SearchEngine"):
        disk = SearchEngine(Index.read(run.spark, store))
    # at this corpus size the router's cost model picks the corpus scan
    # for every request; pin the block routes, as an operator serving
    # from a block store can, so that block decode and WAND do the work
    disk.ROUTER_FORCE = "blocks"
    return disk


def serve_from_disk(run: Run, disk, requests, warm: int):
    """Serve ``(family, kind, request)`` triples from the reopened block
    store; the first ``warm`` are kept out of the samples. Returns
    ``(kind, request, response)`` for every request that succeeded.

    The first request on a freshly opened engine also fills its lazy
    driver-side caches. It is timed on its own (``disk.first_search_ms``)."""
    served = []
    for i, (family, kind, req) in enumerate(requests):
        t0 = time.perf_counter()
        res = serve(run, disk, family, kind, req, "disk", record=i >= warm)
        if i == 0:
            run.values.setdefault("disk.first_search_ms", []).append(
                (time.perf_counter() - t0) * 1000)
        if res is not None:
            served.append((kind, req, norm(kind, res)))
    return served


def workload_deploy(run: Run, cols, df, digest, t_setup: float):
    """Timed: build + materialize, write_blocks, reopen, serve from disk.
    Whole cycles until --seconds of them have passed (at least one).

    After each cycle (untimed), correctness gate 2: every disk response
    must equal the in-memory engine's; and gate 1: the oracle's."""
    # Spark's cache is keyed by plan: the measured build would reuse the
    # warm-up engine's cached data, so that is dropped first
    warm_up(run, df).index.unpersist()
    log("warm-up build done")
    run.values["setup_s"] = time.perf_counter() - t_setup
    gen = inputs.RequestGen(run.seed, cols, "deploy")
    timed = 0.0
    cycle = 0
    eng = None
    while cycle == 0 or timed < run.args.seconds:
        if eng is not None:
            eng.index.unpersist()
        t0 = time.perf_counter()
        eng = build_engine(run, df, inputs.config())
        disk = persist_and_reopen(run, eng, os.path.join(run.work, f"store-{cycle}"))
        mixes = [gen.disk_mix() for _ in range(DISK_PASSES)]
        served = serve_from_disk(
            run, disk, [r for mix in mixes for r in mix],
            warm=sum(len(mix) for mix in mixes[:WARM_DISK_MIXES]))
        timed += time.perf_counter() - t0
        for kind, req, got in served:
            compare(run, "disk != memory", req, answer(run, eng, kind, req), got)
            if cycle == 0:
                digest.add(got)
        oracle_gate(run, cols, served)
        cycle += 1
        log(f"cycle {cycle} done; timed {timed:.1f}s")
    return eng, timed


def workload_search(run: Run, cols, df, digest, t_setup: float):
    """Set-up: a warm-up build, the measured build of the served engine,
    then the oracle gate's block on it, which fills the engine's lazy
    driver-side caches as a user's first requests would, and
    ``WARM_BLOCKS`` more blocks while the JIT finishes. Timed: blocks of alternating text and facet requests until
    --seconds have passed (whole blocks)."""
    # Spark's cache is keyed by plan: the measured build would reuse the
    # warm-up engine's cached data, so that is dropped first
    warm_up(run, df).index.unpersist()
    eng = build_engine(run, df, inputs.config())
    log(f"built in {run.build_s[-1]:.1f}s")
    gate = []
    for family, kind, req in inputs.RequestGen(run.seed, cols, "oracle").block():
        got = answer(run, eng, kind, req)
        gate.append((kind, req, got))
        if not isinstance(got, Exception):
            digest.add(got)
    oracle_gate(run, cols, gate)
    log(f"oracle gate done: {run.failed} failed of {run.attempted}")
    warm = inputs.RequestGen(run.seed, cols, "warm-up")
    for _ in range(WARM_BLOCKS):
        for family, kind, req in warm.block():
            if isinstance(answer(run, eng, kind, req), Exception):
                run.fail(f"warm-up {kind} {req}")
    run.values["setup_s"] = time.perf_counter() - t_setup
    gen = inputs.RequestGen(run.seed, cols, "search")
    t_start = time.perf_counter()
    n_block = 0
    while n_block == 0 or time.perf_counter() - t_start < run.args.seconds:
        for family, kind, req in gen.block():
            res = serve(run, eng, family, kind, req, "memory")
            if res is not None and n_block == 0:
                digest.add(norm(kind, res))
        n_block += 1
        log(f"block {n_block} done")
    return eng, time.perf_counter() - t_start


WORKLOADS = {"deploy": workload_deploy, "search": workload_search}


# ---------------------------------------------------------------------------
# Layer probes (traced run only)
# ---------------------------------------------------------------------------

def probe_layers(run: Run, eng, df, cols) -> None:
    """Call each layer's public function once over this run's corpus and
    engine, so every per-layer metric exists in every traced run."""
    from itemsjs_spark.analysis.lunr_analysis import build_pipeline, tokenize
    from itemsjs_spark.engine.checkpoint import build_blocks_checkpointed
    from itemsjs_spark.engine.facetblocks import build_facet_blocks
    from itemsjs_spark.engine.indexer import (
        assign_docids, terms_from_postings, tokenize_postings,
    )

    idx = eng.index
    v = run.values

    sample = cols["text"][:4000]
    with run.span("analysis.tokenize+pipeline"):
        t0 = time.perf_counter()
        pipeline = build_pipeline()
        n_tokens = 0
        for text in sample:
            toks = tokenize(text)
            n_tokens += len(toks)
            pipeline(toks)
        v["analysis.tokens_per_s"] = n_tokens / (time.perf_counter() - t0)

    def timed(name: str, key: str, fn: Callable[[], Any]) -> Any:
        with run.span(name):
            t0 = time.perf_counter()
            out = run.attempt(name, fn)
            v[key] = time.perf_counter() - t0
        return out

    def docids():
        out = assign_docids(df, ORDER_BY)
        out.count()
        for c in getattr(out, "_interim_caches", []):
            c.unpersist()

    timed("indexer.assign_docids", "indexer.assign_docids_s", docids)
    timed("indexer.tokenize_postings", "indexer.tokenize_postings_s",
          lambda: tokenize_postings(idx.docs, idx.text_fields,
                                    idx.configuration).count())
    timed("indexer.terms_from_postings", "indexer.terms_s",
          lambda: terms_from_postings(idx.postings, idx.n_docs).count())
    timed("facetblocks.build_facet_blocks", "facetblocks.build_s",
          lambda: build_facet_blocks(idx).count())
    timed("checkpoint.build_blocks_checkpointed", "checkpoint.build_blocks_s",
          lambda: build_blocks_checkpointed(
              idx.postings, os.path.join(run.work, "probe-blocks"),
              n_buckets=N_BUCKETS))

    if not run.tracer.find("Index.write_blocks"):
        disk = persist_and_reopen(run, eng, os.path.join(run.work, "probe-store"))
        # the first request fills the engine's lazy caches; the second
        # is the sample
        served = serve_from_disk(
            run, disk, inputs.RequestGen(run.seed, cols, "probe-disk").disk_mix()[:2],
            warm=1)
        for kind, req, got in served:
            compare(run, "disk != memory", req, answer(run, eng, kind, req), got)

    for family, kind, req in inputs.RequestGen(run.seed, cols, "probe").block()[:3]:
        has_q = bool(req.get("query"))
        per_page = int(req.get("per_page") or 12)
        with run.span("SearchEngine.compile"):
            run.attempt("compile", lambda: eng.compile(dict(req), has_query=has_q))
        if has_q:
            with run.span("SearchEngine.fulltext_hits"):
                run.attempt("fulltext_hits",
                            lambda: eng.fulltext_hits(req["query"]).count())
        with run.span("SearchEngine.bucket_counts_df"):
            run.attempt("bucket_counts_df",
                        lambda: eng.bucket_counts_df("role", dict(req)).count())
        with run.span("SearchEngine.result_df"):
            run.attempt("result_df",
                        lambda: eng.result_df(dict(req)).limit(per_page).collect())

    probe_ingest(run, eng, df, cols)


def probe_ingest(run: Run, base, df, cols) -> None:
    """Append rounds onto the workload's in-memory engine, then correctness
    gate 3: the final engine must answer like one rebuilt over
    base ∪ deltas with the same deletes."""
    import random

    from itemsjs_spark.engine import itemsjs_spark

    rng = random.Random(f"deletes/{run.seed}")
    gen = inputs.RequestGen(run.seed, cols, "ingest")
    cur = base
    deleted: List[int] = []
    union = df
    growth: List[float] = []
    for r in range(INGEST_ROUNDS):
        ddf = corpus_frame(run, inputs.delta(run.seed, r, DELTA_TURNS))
        union = union.unionByName(ddf)
        before = cache_bytes(run.spark)
        fam, kind, req = ("text",) + gen.text()
        with run.span("ingest.round", round=r):
            t0 = time.perf_counter()
            with run.span("SearchEngine.append"):
                nxt = run.attempt("append", lambda: cur.append(ddf, order_by=ORDER_BY))
            if nxt is None:
                return
            with run.span("ingest.first_search"):
                t1 = time.perf_counter()
                serve(run, nxt, fam, kind, req, "ingest-first", record=False)
                run.values.setdefault("ingest.first_search_ms", []).append(
                    (time.perf_counter() - t1) * 1000)
            run.values.setdefault("append_p50_s", []).append(time.perf_counter() - t0)
            ids = sorted(rng.sample(range(1, nxt.index.n_docs + 1), DELETES_PER_ROUND))
            deleted += ids
            with run.span("SearchEngine.delete_docids"):
                t1 = time.perf_counter()
                nxt.delete_docids(ids)
                run.values.setdefault("ingest.delete_ms", []).append(
                    (time.perf_counter() - t1) * 1000)
            t1 = time.perf_counter()
            if serve(run, nxt, "facet", *gen.facet(), "ingest", record=False) is not None:
                run.values.setdefault("ingest_search_p50_ms", []).append(
                    (time.perf_counter() - t1) * 1000)
        growth.append(cache_bytes(run.spark) - before)
        cur = nxt
    run.values["ingest.cache_bytes_growth_per_round"] = growth

    with run.span("ingest.rebuild"):
        rebuilt = run.attempt("rebuild", lambda: itemsjs_spark(
            run.spark, union, inputs.config(), order_by=ORDER_BY))
    if rebuilt is None:
        return
    rebuilt.delete_docids(deleted)
    for family, kind, req in inputs.RequestGen(run.seed, cols, "ingest-check").block()[:2]:
        compare(run, "appended != rebuilt", req,
                answer(run, rebuilt, kind, req), answer(run, cur, kind, req))


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------

def per_request_cpu_ms(by_kind: Dict[str, List[float]]) -> float:
    """Mean over request kinds of each kind's median CPU time. Kinds cost
    up to 3x one another, so a plain median would jump between kinds; a
    median per kind keeps one slow sample from moving the figure."""
    return mean([median(xs) for xs in by_kind.values()]) * 1000


def end_to_end(run: Run) -> Dict[str, float]:
    return {
        "setup_s": run.values["setup_s"],
        "build_cpu_s": median(run.build_cpu_s),
        "text_search_cpu_ms": per_request_cpu_ms(run.cpu["text"]),
        "facet_search_cpu_ms": per_request_cpu_ms(run.cpu["facet"]),
    }


def per_layer(run: Run, traced_wall_s: float) -> Dict[str, float]:
    tr = run.tracer
    v = run.values
    out: Dict[str, float] = {}

    def counters(spans, key):
        return [s["counters"][key] for s in spans]

    def med_counter(spans, key, scale=1.0):
        return median(counters(spans, key)) * scale

    build = tr.find("build")
    out["build_s"] = median(run.build_s)
    out["build.jobs"] = med_counter(build, "jobs")
    out["build.tasks"] = med_counter(build, "tasks")
    out["build.executor_cpu_s"] = med_counter(build, "executor_cpu_ms", 1e-3)
    out["build.shuffle_write_bytes"] = med_counter(build, "shuffle_write_bytes")
    out["build.spill_bytes"] = med_counter(build, "spill_bytes")
    out["query.materialize_s"] = median(
        [s["dur_s"] for s in tr.find("SearchEngine.materialize")])
    for key in ("indexer.assign_docids_s", "indexer.tokenize_postings_s",
                "indexer.terms_s", "facetblocks.build_s",
                "checkpoint.build_blocks_s", "analysis.tokens_per_s",
                "index.cache_bytes_per_input_byte",
                "index.disk_bytes_per_input_byte"):
        out[key] = v[key]

    persist = tr.find("Index.write_blocks")
    out["persist_s"] = median(v["persist_s"])
    out["persist.jobs"] = med_counter(persist, "jobs")
    out["persist.tasks"] = med_counter(persist, "tasks")
    out["persist.executor_cpu_s"] = med_counter(persist, "executor_cpu_ms", 1e-3)

    disk = tr.find("SearchEngine.search", engine="disk", sampled=True)
    out["disk.first_search_ms"] = median(v["disk.first_search_ms"])
    out["disk_search_p50_ms"] = median([s["latency_s"] for s in disk]) * 1000
    out["disk.jobs_per_req"] = mean(counters(disk, "jobs"))
    out["disk.tasks_per_req"] = mean(counters(disk, "tasks"))
    for r in ROUTES:
        out[f"disk.route.{r}"] = run.routes["disk"][r]

    for key, name in (("query.compile_ms", "SearchEngine.compile"),
                      ("query.fulltext_hits_ms", "SearchEngine.fulltext_hits"),
                      ("query.bucket_counts_ms", "SearchEngine.bucket_counts_df"),
                      ("query.page_fetch_ms", "SearchEngine.result_df")):
        out[key] = median([s["dur_s"] for s in tr.find(name)]) * 1000

    serving = "disk" if run.args.workload == "deploy" else "memory"
    lat_all = run.lat["text"] + run.lat["facet"]
    out["search_rps"] = len(lat_all) / sum(lat_all) if lat_all else math.nan
    for fam in ("text", "facet"):
        out[f"{fam}_search_p50_ms"] = median(run.lat[fam]) * 1000
        out[f"{fam}_search_p90_ms"] = quantile(run.lat[fam], 0.9) * 1000
        for k in ("search", "facets", "sorting"):
            out[f"{fam}.timings_{k}_ms"] = median(run.timings[fam][k])
        spans = tr.find("SearchEngine.search", family=fam, engine=serving,
                        sampled=True)
        for key in ("jobs", "stages", "tasks"):
            out[f"{fam}.{key}_per_req"] = mean(counters(spans, key))
        out[f"{fam}.executor_cpu_ms_per_req"] = mean(counters(spans, "executor_cpu_ms"))
        out[f"{fam}.shuffle_bytes_per_req"] = mean([
            s["counters"]["shuffle_read_bytes"] + s["counters"]["shuffle_write_bytes"]
            for s in spans])
        out[f"{fam}.no_job_ms_per_req"] = mean([
            s["latency_s"] * 1000 - s["counters"]["job_ms"] for s in spans])
    for r in ROUTES:
        out[f"search.route.{r}"] = run.routes["search"][r]

    appends = tr.find("SearchEngine.append")
    out["append_p50_s"] = median(v["append_p50_s"])
    out["ingest.jobs_per_append"] = med_counter(appends, "jobs")
    out["ingest.tasks_per_append"] = med_counter(appends, "tasks")
    out["ingest.first_search_ms"] = median(v["ingest.first_search_ms"])
    out["ingest.cache_bytes_growth_per_round"] = median(
        v["ingest.cache_bytes_growth_per_round"])
    out["ingest.delete_ms"] = median(v["ingest.delete_ms"])
    out["ingest_search_p50_ms"] = median(v["ingest_search_p50_ms"])

    out["error_rate"] = run.failed / max(run.attempted, 1)
    out["trace.spans"] = len(tr.spans)
    out["trace.overhead_share"] = tr.overhead_s / traced_wall_s
    return out


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------

def parse_args(argv: List[str]):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: List[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "itemsjs_spark", "engine", "__init__.py")):
        print("perfbench: run from the root of a checkout that holds "
              "itemsjs_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    units = metric_units(bool(args.trace))

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp  # would override spark.local.dir
    # every JVM started from here (the Spark launcher too) keeps its temp
    # files in the run's directory and writes no /tmp/hsperfdata_* file.
    # JIT compiler threads live as long as the JVM, so that the CPU clock
    # can leave all their time out (cpu.py)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        "-XX:-UseDynamicNumberOfCompilerThreads")
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")
    cores = len(os.sched_getaffinity(0))
    conf = spark_conf(cores, tmp)
    spark = None
    try:
        t_setup = T_PROCESS
        spark = start_spark(conf)
        tracer = Tracer(spark, bool(args.trace))
        from pyspark import SparkContext

        run = Run(args, spark, work, tracer,
                  CpuClock(SparkContext._gateway.proc.pid))
        env = {k: conf[k] for k in (
            "spark.master", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
            "spark.sql.execution.arrow.pyspark.enabled", "spark.driver.memory")}
        env.update(nproc=cores, spark=spark.version, python=sys.version.split()[0])
        print("env " + json.dumps(env, sort_keys=True))
        log(f"session up; workload={args.workload} seed={args.seed}")

        digest = Digest()
        cols = inputs.corpus(args.seed, CORPUS_TURNS)
        gen = inputs.RequestGen(args.seed, cols, args.workload)
        print("inputs " + inputs.fingerprint(
            cols, gen.block(), gen.disk_mix(), inputs.delta(args.seed, 0, DELTA_TURNS)))
        df = store_corpus(run, cols)
        t_traced = time.perf_counter()
        eng, loop_s = WORKLOADS[args.workload](run, cols, df, digest, t_setup)
        log(f"timed part {loop_s:.1f}s; {len(run.lat['text'])} text + "
            f"{len(run.lat['facet'])} facet requests; builds {run.build_s}")
        print(f"digest {args.workload} {digest.hexdigest()} ({digest.count} responses)")

        if args.trace:
            probe_layers(run, eng, df, cols)
            metrics = per_layer(run, time.perf_counter() - t_traced)
            os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
            tracer.write(os.path.join(
                HERE, ".traces", f"{args.workload}-{args.seed}.json"))
        else:
            metrics = end_to_end(run)
        if set(metrics) != set(units):
            raise RuntimeError("metrics differ from BENCHMARK.json: "
                               f"{sorted(set(metrics) ^ set(units))}")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in run.errors:
        print("error: " + e.splitlines()[0], file=sys.stderr)
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        # a metric left without samples by a failed operation reads 0;
        # the run is already marked incorrect
        "metrics": {k: {"value": float(val) if math.isfinite(val) else 0.0,
                        "unit": units[k]}
                    for k, val in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
