"""Steady-state probe of ``__spark_entry__`` ops.

Each op runs N times after one untimed warm-up sweep, and every run
materializes all its rows through ``perfbench.digest.digest_frame``. A
run is split into three phases:

  build  the op's DataFrame construction, with any eager jobs it runs;
  plan   physical planning of the digest plan;
  exec   the digest action.

Per run the probe records wall seconds, JVM GC and JIT milliseconds,
generated classes compiled and their compile milliseconds, and, from
``perfbench.trace.Tracer`` spans, Spark jobs, stages, executor run time,
input, shuffle and spill bytes. ``--phases`` keeps the per-phase split in
the record. Sequential runs follow bench.py's hygiene: caches dropped, a
GC and a 1 s settle before each. Each timed pass is bracketed by the
box's CPU steal and the CPU time of this process tree
(``perfbench.box``), settles included.

Without ``--arm`` every pass runs in the active session (or one new
``get_spark`` session). Each ``--arm NAME:k=v[,k=v]`` instead gets a fresh
session per pass (the active one is stopped) with its settings as
``extra_conf``, and the arms alternate pass by pass, so drift of the box
hits every arm alike. ``--concurrency C`` submits a pass's ops from C
threads; the pass's wall and GC milliseconds are then measured over the
whole pass, not summed over its runs, and the runs are untraced. A
driver-heap comparison is two runs with different ``FTMCS_DRIVER_MEMORY``.

    python tools/probe.py [-n N] [--sf DIR] [--arm NAME:k=v[,k=v]]...
                          [--concurrency C] [--phases] [op ...]

With no op named, the probe runs ``bench.HEADLINE``. It prints one JSON
line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from perfbench import box  # noqa: E402
from perfbench.digest import digest_frame  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

#: span counts kept per run (see ``perfbench.trace``)
COUNTS = ("jobs", "stages", "run_ms", "input_bytes", "shuffle_read_bytes",
          "shuffle_write_bytes", "spill_bytes")
#: tables a fresh session reads once before any op, as bench.py does
WARM_TABLES = ("lineitem", "orders", "customer", "documents", "embeddings")


def parse_arm(text: str) -> tuple[str, dict[str, str]]:
    name, _, pairs = text.partition(":")
    conf = {}
    for pair in pairs.split(","):
        key, eq, value = pair.partition("=")
        if not (name and key and eq):
            raise argparse.ArgumentTypeError(
                f"expected NAME:k=v[,k=v], got {text!r}")
        conf[key] = value
    return name, conf


def open_session(sf: str, conf: dict[str, str] | None):
    """The active session when ``conf`` is None; otherwise a fresh session
    with ``conf`` over ``get_spark``'s settings."""
    from pyspark.sql import SparkSession

    from ftm_columnstore_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if conf is None and active is not None:
        return active
    if active is not None:
        active.stop()
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or box.nproc()
    spark = get_spark("ftmcs-probe", master=f"local[{cpus}]",
                      extra_conf={"spark.ui.enabled": "false", **(conf or {})})
    for t in WARM_TABLES:
        spark.read.parquet(f"{sf}/{t}.parquet").count()
    return spark


class Meter:
    """JVM counters of one session, read before and after each phase."""

    def __init__(self, spark):
        jvm = spark._jvm
        self.mf = jvm.java.lang.management.ManagementFactory
        self.compiles = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                         .METRIC_COMPILATION_TIME())
        self.codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def read(self) -> dict:
        return {
            "s": time.perf_counter(),
            "gc_ms": sum(b.getCollectionTime()
                         for b in self.mf.getGarbageCollectorMXBeans()),
            "jit_ms": self.mf.getCompilationMXBean().getTotalCompilationTime(),
            "compiles": self.compiles.getCount(),
            "compile_ms": self.codegen.compileTime() / 1e6,  # nanoseconds
        }


def run_op(spark, sf: str, fn, tracer: Tracer, meter: Meter):
    """One digest-materialized run: its per-phase records and its digest."""
    phases: dict[str, dict] = {}

    @contextmanager
    def phase(name: str):
        m0 = meter.read()
        with tracer.span(name) as rec:
            yield
        m1 = meter.read()
        phases[name] = {k: round(m1[k] - m0[k], 3) for k in m0}
        phases[name].update({k: rec[k] for k in COUNTS if k in rec})

    with phase("build"):
        df = digest_frame(fn(spark, sf))
    with phase("plan"):
        df._jdf.queryExecution().executedPlan()
    with phase("exec"):
        row = df.collect()[0]
    return phases, f"{row['rows']}:{row['hash_sum']}"


def settle(spark) -> None:
    """bench.py's hygiene between runs: drop caches, collect, let the
    cleaner finish."""
    spark.catalog.clearCache()
    spark._jvm.System.gc()
    time.sleep(1.0)


def timed_pass(spark, sf: str, ops: list[str], tracer: Tracer, meter: Meter,
               concurrency: int, keep_phases: bool) -> tuple[list, dict]:
    """One run of every op, and the pass's wall seconds and GC
    milliseconds: sequential traced runs with a settle before each (the
    pass sums its runs), or runs from ``concurrency`` threads, untraced
    since the tracer keeps one span stack, not one per thread (the pass
    is measured whole)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    tracer.enabled = concurrency == 1

    def one(name: str) -> tuple[dict, str]:
        with tracer.span(name):
            phases, digest = run_op(spark, sf, qs[name], tracer, meter)
        sample = {k: round(sum(p.get(k, 0) for p in phases.values()), 3)
                  for k in phases["build"]}
        if keep_phases:
            sample["phases"] = phases
        return sample, digest

    if concurrency == 1:
        runs = []
        for name in ops:
            settle(spark)
            runs.append(one(name))
        return runs, {k: round(sum(sample[k] for sample, _ in runs), 3)
                      for k in ("s", "gc_ms")}
    settle(spark)
    m0 = meter.read()
    with ThreadPoolExecutor(max_workers=concurrency) as pool:
        runs = list(pool.map(one, ops))
    m1 = meter.read()
    return runs, {k: round(m1[k] - m0[k], 3) for k in ("s", "gc_ms")}


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("-n", type=int, default=4, help="timed passes")
    ap.add_argument("--sf", default=bench.SF_DIR, help="scale-factor directory")
    ap.add_argument("--arm", type=parse_arm, action="append", default=[],
                    help="NAME:k=v[,k=v], a fresh session per pass")
    ap.add_argument("--concurrency", type=int, default=1)
    ap.add_argument("--phases", action="store_true",
                    help="keep the build/plan/exec split of every run")
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args(argv)
    import __spark_entry__ as entry

    ops = args.ops or list(bench.HEADLINE)
    unknown = sorted(set(ops) - set(entry.queries()))
    if unknown:
        ap.error(f"unknown ops: {' '.join(unknown)}")
    if args.n < 1 or args.concurrency < 1:
        ap.error("-n and --concurrency must be at least 1")
    if args.phases and args.concurrency > 1:
        ap.error("--phases needs sequential runs (--concurrency 1)")
    arms = args.arm or [("default", None)]

    record: dict = {"sf": args.sf, "n": args.n, "concurrency": args.concurrency,
                    "ops": ops, "arms": {a: c or {} for a, c in arms},
                    "passes": [], "results": {a: {} for a, _ in arms}}
    spark = None
    for p in range(args.n):
        for arm, conf in arms:
            if conf is not None or spark is None:
                spark = open_session(args.sf, conf)
                # Tracer names its job groups from pb-1 up: one per session
                tracer, meter = Tracer(spark, enabled=True), Meter(spark)
                timed_pass(spark, args.sf, ops, tracer, meter, args.concurrency,
                           False)
            steal0, cpu0, t0 = box.steal_ticks(), box.tree_cpu_s(), time.perf_counter()
            runs, totals = timed_pass(spark, args.sf, ops, tracer, meter,
                                      args.concurrency, args.phases)
            steal = box.steal_ticks() - steal0
            record["passes"].append({
                "arm": arm, "pass": p, "wall_s": totals["s"],
                "gc_ms": totals["gc_ms"],
                "cpu_s": round(box.tree_cpu_s() - cpu0, 3),
                "steal_ticks": steal,
                "contaminated": box.contaminated(steal, time.perf_counter() - t0),
            })
            for name, (sample, digest) in zip(ops, runs):
                op = record["results"][arm].setdefault(name, {"samples": []})
                op["samples"].append(sample)
                op["min_s"] = min(s["s"] for s in op["samples"])
                op["digest"] = digest
    record["master"] = spark.sparkContext.master
    return record


if __name__ == "__main__":
    print(json.dumps(main()))
