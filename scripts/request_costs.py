#!/usr/bin/env python3
"""Attribute the fixed cost of warm search requests, per request kind.

Serves perfbench's seeded requests (``perfbench/inputs.py``) to a warm
engine and prints, per request kind, the median of four counters per
request:

* ``cpu_ms``: CPU time of the whole process tree (driver, JVM, Python
  workers), JIT compiler threads left out (``perfbench/cpu.py``);
* ``jobs``: Spark jobs (the DAG scheduler's next job id);
* ``compiles``: Janino compiles of generated code
  (``CodegenMetrics.METRIC_COMPILATION_TIME``'s count);
* ``py4j``: Py4J round trips from the driver to the JVM (a counting
  wrapper on ``send_command``).

Each kind is measured twice: with ``fresh`` parameters (the requests
perfbench times) and ``repeated`` (the same requests again), which
separates per-plan costs (compiles, analysis) from per-request ones.

``--by-caller`` also prints, per kind and mode, each request's Spark
jobs counted by Python call site: the name of each job's final stage,
which Spark sets to the frame that called into PySpark (``collect at
itemsjs_spark/engine/query.py:5523``), read through the status tracker
once the listener bus has drained. Paths are relative to the checkout,
so two checkouts can be diffed with line numbers stripped. In this mode
every action carries a call site (``thread_call_sites``), which can add
a few Py4J round trips to a request.

Workloads, as perfbench's:

* ``search``: an in-memory engine over the 10k-turn corpus, two warm
  blocks of alternating text and facet requests, then the measured
  blocks;
* ``deploy``: ``write_blocks`` of that engine, reopened with the block
  routes pinned (``ROUTER_FORCE = "blocks"``), one warm disk mix, then
  the measured mixes.

Run from the root of a checkout (one Spark JVM, ~1-2 minutes):

    python3 scripts/request_costs.py --workload deploy --seed 7 [--by-caller]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import traceback
from collections import Counter
from typing import Any, Callable, Dict, List

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import inputs  # noqa: E402  perfbench/inputs.py
from cpu import CpuClock  # noqa: E402  perfbench/cpu.py

CORPUS_TURNS = 10_000
ORDER_BY = ["conv_id", "turn_idx"]
COUNTERS = ("cpu_ms", "jobs", "compiles", "py4j")


class Py4jCounter:
    """Counts driver → JVM commands by wrapping the Py4J connections'
    ``send_command`` (client-server mode, PySpark's default, and the
    classic gateway)."""

    def __init__(self) -> None:
        self.n = 0
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **kw):
                self.n += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = send_command


def thread_call_sites() -> None:
    """Give every engine job a Python call site. PySpark counts its
    call-site scopes in one process-wide depth, so a job the engine
    submits from its second pool thread while the first is inside a
    scope gets none; count per driver thread instead. ``count`` and
    ``toPandas`` open no scope at all; open one naming the innermost
    frame outside PySpark. Jobs without a scope are named after a JVM
    frame (``count at NativeMethodAccessorImpl.java:0``)."""
    import pyspark
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.traceback_utils import SCCallSiteSync

    depth = threading.local()

    def enter(self):
        n = getattr(depth, "n", 0)
        if n == 0:
            self._context._jsc.setCallSite(self._call_site)
        depth.n = n + 1

    def exit_(self, *exc):
        depth.n -= 1
        if depth.n == 0:
            self._context._jsc.setCallSite(None)

    SCCallSiteSync.__enter__ = enter
    SCCallSiteSync.__exit__ = exit_

    pyspark_dir = os.path.dirname(pyspark.__file__)

    def scoped(action):
        def run(self, *a, **kw):
            f = next(
                f for f in reversed(traceback.extract_stack()[:-1])
                if not f.filename.startswith(pyspark_dir)
            )
            site = SCCallSiteSync(self._sc)
            site._call_site = f"{action.__name__} at {f.filename}:{f.lineno}"
            with site:
                return action(self, *a, **kw)

        return run

    for name in ("count", "toPandas"):
        setattr(DataFrame, name, scoped(getattr(DataFrame, name)))


def start_spark(cores: int, tmp: str):
    from pyspark.sql import SparkSession

    # the JIT compiler threads live as long as the JVM, so that
    # CpuClock can leave all their time out
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    spark = (
        SparkSession.builder.appName("request_costs")
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "3g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def corpus_frame(spark, cols: Dict[str, list]):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.LongType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.LongType()),
    ])
    return spark.createDataFrame(list(zip(*[cols[c] for c in inputs.COLUMNS])), schema)


def call(eng, kind: str, req: Dict[str, Any]) -> Any:
    if kind == "aggregation":
        return eng.aggregation(dict(req))
    return eng.search(dict(req))


class Meter:
    """Reads the four counters around one request; with ``by_caller``
    also the call site of each of its jobs (read after the counters)."""

    def __init__(self, spark, by_caller: bool = False) -> None:
        from pyspark import SparkContext

        self.clock = CpuClock(SparkContext._gateway.proc.pid)
        self.py4j = Py4jCounter()
        self.by_caller = by_caller
        jvm = spark.sparkContext._jvm
        self._tracker = spark.sparkContext.statusTracker()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._compile = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )

    def measure(self, fn: Callable[[], Any]) -> Dict[str, float]:
        j0, c0 = self._dag.nextJobId(), self._compile.getCount()
        p0 = self.py4j.n
        mark = self.clock.mark()
        fn()
        cpu = self.clock.since(mark)
        p1 = self.py4j.n
        j1 = self._dag.nextJobId()
        out: Dict[str, Any] = {
            "cpu_ms": cpu * 1000,
            "jobs": j1 - j0,
            "compiles": self._compile.getCount() - c0,
            "py4j": p1 - p0,
        }
        if self.by_caller:
            out["sites"] = self.call_sites(j0, j1)
        return out

    def call_sites(self, j0: int, j1: int) -> List[str]:
        """The call site of each job in ``[j0, j1)``: its final stage's
        name, with this checkout's path prefix dropped."""
        self._bus.waitUntilEmpty()
        sites = []
        for j in range(j0, j1):
            job = self._tracker.getJobInfo(j)
            stage = (
                self._tracker.getStageInfo(max(job.stageIds))
                if job is not None and job.stageIds
                else None
            )
            name = stage.name if stage is not None else "?"
            sites.append(name.replace(ROOT + os.sep, ""))
        return sites


def serve(meter: Meter, eng, requests, out: Dict[str, Dict[str, List[Dict]]], mode: str):
    for kind, req in requests:
        out.setdefault(kind, {}).setdefault(mode, []).append(
            meter.measure(lambda: call(eng, kind, req))
        )


def search_workload(spark, df, cols, seed: int):
    from itemsjs_spark.engine import itemsjs_spark

    eng = itemsjs_spark(spark, df, inputs.config(), order_by=ORDER_BY)
    eng.materialize()
    warm = inputs.RequestGen(seed, cols, "warm-up")
    for _ in range(2):
        for _family, kind, req in warm.block():
            call(eng, kind, req)
    gen = inputs.RequestGen(seed, cols, "search")
    reqs = [(kind, req) for _ in range(2) for _f, kind, req in gen.block()]
    return eng, reqs


def deploy_workload(spark, df, cols, seed: int, work: str):
    from itemsjs_spark.engine import Index, SearchEngine, itemsjs_spark

    eng = itemsjs_spark(spark, df, inputs.config(), order_by=ORDER_BY)
    eng.materialize()
    store = os.path.join(work, "store")
    eng.index.write_blocks(store, n_buckets=2)
    disk = SearchEngine(Index.read(spark, store))
    disk.ROUTER_FORCE = "blocks"
    gen = inputs.RequestGen(seed, cols, "deploy")
    for _family, kind, req in gen.disk_mix():  # warm: fills lazy caches
        call(disk, kind, req)
    reqs = [(kind, req) for _ in range(4) for _f, kind, req in gen.disk_mix()]
    return disk, reqs


def print_callers(out: Dict[str, Dict[str, List[Dict]]]) -> None:
    """Per kind and mode: each distinct set of job call sites (the
    facets and page jobs of one request interleave, so the order is
    left out) and the number of requests that ran it."""
    for kind in sorted(out):
        for mode, samples in out[kind].items():
            sets = Counter(
                tuple(sorted(Counter(s["sites"]).items())) for s in samples
            )
            for sites, n in sets.most_common():
                jobs = sum(k for _, k in sites)
                print(f"{kind} {mode} x{n}: {jobs} jobs")
                for site, k in sites:
                    print(f"    {k} x {site}")


def report(out: Dict[str, Dict[str, List[Dict]]]) -> Dict[str, Any]:
    table = {}
    for kind, modes in out.items():
        table[kind] = {
            mode: {
                "n": len(samples),
                **{c: statistics.median(s[c] for s in samples) for c in COUNTERS},
            }
            for mode, samples in modes.items()
        }
    return table


def main(argv: List[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("deploy", "search"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument(
        "--by-caller", action="store_true",
        help="also print each request's Spark jobs by Python call site",
    )
    args = p.parse_args(argv)

    if args.by_caller:
        thread_call_sites()
    work = tempfile.mkdtemp(prefix="request_costs-")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYARROW_IGNORE_TIMEZONE"] = "1"
    spark = start_spark(len(os.sched_getaffinity(0)), tmp)
    try:
        meter = Meter(spark, by_caller=args.by_caller)
        cols = inputs.corpus(args.seed, CORPUS_TURNS)
        df = corpus_frame(spark, cols)
        if args.workload == "search":
            eng, reqs = search_workload(spark, df, cols, args.seed)
        else:
            eng, reqs = deploy_workload(spark, df, cols, args.seed, work)
        out: Dict[str, Dict[str, List[Dict]]] = {}
        serve(meter, eng, reqs, out, "fresh")
        serve(meter, eng, reqs, out, "repeated")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    if args.by_caller:
        print_callers(out)
    table = report(out)
    print(f"{'kind':<14} {'mode':<9} {'n':>3} " + " ".join(f"{c:>9}" for c in COUNTERS))
    for kind in sorted(table):
        for mode, row in table[kind].items():
            print(
                f"{kind:<14} {mode:<9} {row['n']:>3} "
                + " ".join(f"{row[c]:>9.0f}" for c in COUNTERS)
            )
    print(json.dumps({"workload": args.workload, "seed": args.seed, "kinds": table}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
