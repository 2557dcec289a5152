"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --trace 0

Builds nothing: it imports ``ftm_columnstore_spark``, ``bench`` and
``__spark_entry__`` from the checkout that holds this directory, starts one
Spark session on ``local[nproc]`` with a driver heap sized to the machine,
sets the workload up (counted in ``setup_s``, warm-up passes included), then
times the workload's fixed number of passes, and more until ``--seconds``
have passed (default: the ``run_seconds`` of ``BENCHMARK.json``, 1 s, so
the pass count rules: a count that followed the box's speed would mix
runs of one pass with runs of two). Every output is checked against
the generator's answers or the recorded digests.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (every end-to-end metric of ``BENCHMARK.json``
with ``--trace 0``, every per-layer metric with ``--trace 1``). A full
record of the run (machine, Spark settings, corpus sizes, samples, all
metrics, spans) goes to ``.perfbench/runs/`` in the checkout. The exit
code is 1 when an output check failed. Before it exits, on every path, the
run stops the Spark JVM and waits until every process it started has ended.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOAD_NAMES = ("serve", "operators")


def _spec() -> dict:
    """``BENCHMARK.json``: the metric names and units, and the run length."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _args(argv, run_seconds: int):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=run_seconds)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(scratch: str, tables: str) -> dict:
    """Process environment for the session; must precede the JVM launch."""
    from perfbench import box

    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    # Spark's Python workers import the package from the checkout
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    settings = {
        "nproc": box.nproc(),
        "mem_total_mb": box.mem_total_mb(),
        "driver_heap_mb": box.driver_heap_mb(),
    }
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(settings["nproc"]),
        # the package's own sizing rule: 2-3x the cores that run tasks
        "FTMCS_SHUFFLE_PARTITIONS": str(2 * settings["nproc"]),
        "FTMCS_DRIVER_MEMORY": f"{settings['driver_heap_mb']}m",
        "FTMCS_STORE_URI": os.path.join(scratch, "store"),
        # bench.py's calibration probe reads lineitem from here
        "SPARK_GRAFT_SF_DIR": tables,
    })
    return settings


def _geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def _end_to_end(run, setup_s: float) -> dict:
    """The workload-neutral metrics, from untraced unit calls. A pass is
    one of each kind of call, so a pass's cost sums the kinds' medians; a
    geometric mean weighs cheap and costly kinds alike.

    The end-to-end metrics are CPU seconds, and set-up seconds, at a
    reference box speed: each is scaled by ``box.PROBE_NOMINAL_S`` over the
    median of the speed probe taken before every call of the run. On a
    shared box, time stolen by neighbours moves wall times by a third from
    run to run, which CPU time leaves out; but the box's speed moves CPU
    time too, by up to 1.8x between runs, and the probe follows it (across
    thirteen serve runs the correlation was 0.92). The unscaled forms, and
    the wall-time forms, are reported with the per-layer metrics."""
    from perfbench import box
    from perfbench.workloads import kind_medians

    wall = list(kind_medians(run).values())
    cpu = list(kind_medians(run, "cpu_s").values())
    probe_s = statistics.median(run.probes)
    scale = box.PROBE_NOMINAL_S / probe_s
    return {
        "setup_s": setup_s * scale,
        "pass_cpu_s": sum(cpu) * scale,
        "call_cpu_geomean_s": _geomean(cpu) * scale,
        "setup_raw_s": setup_s,
        "pass_cpu_raw_s": sum(cpu),
        "call_cpu_geomean_raw_s": _geomean(cpu),
        "pass_s": sum(wall),
        "call_p50_s": statistics.median(run.untraced()),
        "call_geomean_s": _geomean(wall),
        "box.probe_s": probe_s,
    }


def main(argv=None) -> int:
    needed = ("BENCHMARK.json", "ftm_columnstore_spark/__init__.py", "bench.py",
              "__spark_entry__.py")
    missing = [f for f in needed if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not in a checkout of the package: missing {missing}",
              file=sys.stderr)
        return 2
    spec = _spec()
    args = _args(argv, spec["run_seconds"])
    sys.path.insert(0, ROOT)
    from perfbench import box, tables
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Run

    scratch = os.path.join(WORK, "scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    table_dir = os.path.join(scratch, "tables")
    settings = _environment(scratch, table_dir)

    t_setup = time.perf_counter()
    from ftm_columnstore_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{settings['nproc']}]",
        extra_conf={
            "spark.local.dir": os.environ["TMPDIR"],
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            # a fixed set of JIT compiler threads, whose CPU time
            # box.tree_cpu_s leaves out, so none ends with its time in it
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
                                             " -XX:-UseDynamicNumberOfCompilerThreads",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_setup
    import bench

    try:
        parts = {"session_s": session_s}
        t = time.perf_counter()
        table_rows = tables.build(table_dir)
        tracer = Tracer(spark, enabled=False)
        run = Run(spark, tracer, args.seed, scratch, table_dir, bool(args.trace))
        run.facts["table_rows"] = table_rows
        wl = WORKLOADS[args.workload]()
        wl.setup(run)
        parts["build_s"] = time.perf_counter() - t
        t = time.perf_counter()
        for _ in range(wl.warmups):  # JIT, codegen and caches; outputs checked
            wl.cycle(run)
        parts["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup

        calib = [bench._calibration(spark)]
        steal0 = box.steal_ticks()
        run.recording = True
        cycles: dict[bool, list[float]] = {False: [], True: []}
        t0 = time.perf_counter()
        while True:
            # a traced run alternates untraced and traced passes, so the
            # tracing overhead is measured within one process
            tracer.enabled = bool(args.trace) and len(cycles[False]) > len(cycles[True])
            c0 = time.perf_counter()
            wl.cycle(run)
            cycles[tracer.enabled].append(time.perf_counter() - c0)
            if time.perf_counter() - t0 >= args.seconds and len(cycles[False]) >= wl.passes and (
                    not args.trace or len(cycles[True]) >= wl.passes):
                break
        timed_s = time.perf_counter() - t0
        tracer.enabled = False
        steal = box.steal_ticks() - steal0
        calib.append(bench._calibration(spark))
        rss = box.peak_rss_mb(run.jvm_pid)
        conf = {k: spark.conf.get(k) for k in (
            "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.scheduler.mode")}
    finally:
        spark.stop()

    e2e = _end_to_end(run, setup_s)
    units_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    contaminated = box.contaminated(steal, timed_s)
    extra = {
        **{k: v for k, v in e2e.items() if k not in units_e2e},
        **wl.metrics(run),
        "failed_frac": run.failed / run.attempted,
        "peak_rss_mb": rss,
        "session.start_s": session_s,
        "box.steal_ticks": steal,
        "box.calib_s": statistics.median(calib),
        "box.contaminated": int(contaminated),
    }
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    layers = {}
    if args.trace:
        layers = {name: 0.0 for name in units}
        layers.update(extra)
        layers.update(wl.layers(run))
        layers["trace.overhead_frac"] = (
            statistics.median(cycles[True]) / statistics.median(cycles[False]) - 1)
        unknown = set(layers) - set(units)
        if unknown:
            raise KeyError(f"per-layer metrics not in BENCHMARK.json: {sorted(unknown)}")
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "settings": {**settings, **conf},
        "facts": run.facts, "setup_parts": parts, "end_to_end": e2e,
        "workload_metrics": extra, "per_layer": layers, "cycles": cycles,
        "timed_s": timed_s, "calls": [c._asdict() for c in run.calls], "calib_s": calib,
        "contaminated": contaminated,
        "attempted": run.attempted, "failed": run.failed,
    }
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        tracer.dump(stem + ".spans.json")
    for name, value in (layers or extra).items():
        print(f"{name:45s} {value:14.4f} {units[name]}", file=sys.stderr)
    if contaminated:
        print(f"perfbench: contaminated run: {steal} steal ticks in "
              f"{timed_s:.1f}s", file=sys.stderr)
    if args.trace:
        chosen = layers
    else:
        units, chosen = units_e2e, e2e
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
    }))
    return 1 if run.failed else 0


def _stop_jvm() -> None:
    """End the gateway JVM that ``spark.stop()`` leaves running for reuse:
    it exits when its stdin closes. ``box.reap`` then waits for it and its
    Python workers."""
    context = sys.modules.get("pyspark") and sys.modules["pyspark"].SparkContext
    gateway = context and context._gateway
    if gateway is None:
        return
    context._gateway = context._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench import box

    # a SIGTERM unwinds through the finally below instead of killing only us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    box.become_subreaper()
    code = 1
    try:
        code = main()
    finally:
        _stop_jvm()
        left = box.reap()
        if left:
            print(f"perfbench: processes left running: {left}", file=sys.stderr)
            code = code or 1
    sys.exit(code)
