"""Phase decomposition for headline queries (optimization round r08).

For each named query, split wall time into:
  build   — Python DataFrame construction (includes any eager work the
            operator does: collect()s for centroid seeds, eager
            localCheckpoints, persists triggered during build);
  plan    — analysis + optimization + physical planning of the final
            DataFrame (df._jdf.queryExecution().executedPlan());
  exec    — the bench's row-digest materialization action.

Also records the number of Spark jobs each phase launched (status
tracker deltas): serial sub-jobs inside build are invisible in a plan
but serialize the query's critical path. And per phase, the generated
classes Janino compiled and the milliseconds it took (deltas of
``CodegenMetrics.METRIC_COMPILATION_TIME`` and ``CodeGenerator.compileTime``):
a warm phase that still compiles is missing the codegen class cache.

Usage: python tools/profile_phases.py [query ...]   (default: top-N by
the last BENCH_FULL solo times)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    from pyspark.sql import functions as F

    from ftm_columnstore_spark.session import get_spark

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    names = sys.argv[1:]
    if not names:
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        full = json.load(open(os.path.join(here, "BENCH_FULL.json")))
        ranked = sorted(
            full["queries"].items(), key=lambda kv: -kv[1]["solo"]
        )
        names = [k for k, _ in ranked[:30]]

    spark = get_spark(
        "ftmcs-profile",
        master=f"local[{CPUS}]",
        extra_conf={"spark.ui.enabled": "false"},
    )
    for t in ["lineitem", "orders", "customer", "documents", "embeddings"]:
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()

    tracker = spark.sparkContext.statusTracker()

    def n_jobs() -> int:
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    jvm = spark._jvm
    compilations = (
        jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def mark() -> tuple[float, int, int, int]:
        return (
            time.perf_counter(),
            n_jobs(),
            compilations.getCount(),
            codegen.compileTime(),
        )

    def one(name: str) -> dict:
        spark.catalog.clearCache()
        jvm.System.gc()
        time.sleep(0.5)
        m0 = mark()
        df = qs[name](spark, SF_DIR)
        m1 = mark()
        digest = df.select(
            F.xxhash64(F.struct(*df.columns)).alias("h")
        ).groupBy().agg(F.count("h"), F.try_sum("h"))
        # physical planning of the digest plan (pre-AQE-execution)
        digest._jdf.queryExecution().executedPlan()
        m2 = mark()
        digest.collect()
        m3 = mark()
        rec = {"total": round(m3[0] - m0[0], 3)}
        for phase, (a, b) in zip(
            ("build", "plan", "exec"), ((m0, m1), (m1, m2), (m2, m3))
        ):
            rec[phase] = round(b[0] - a[0], 3)
            rec[f"jobs_{phase}"] = b[1] - a[1]
            rec[f"compiles_{phase}"] = b[2] - a[2]
            rec[f"compile_ms_{phase}"] = round((b[3] - a[3]) / 1e6, 1)
        return rec

    results: dict[str, dict] = {}
    for name in names:
        # best of 2 per phase (steady state; first run pays codegen)
        a = one(name)
        b = one(name)
        best = min((a, b), key=lambda r: r["total"])
        results[name] = best
        print(
            f"{name:32s} total {best['total']:7.3f}  "
            + "  ".join(
                f"{p} {best[p]:6.3f} (jobs {best[f'jobs_{p}']:2d}, "
                f"compiles {best[f'compiles_{p}']:3d} / "
                f"{best[f'compile_ms_{p}']:6.1f} ms)"
                for p in ("build", "plan", "exec")
            ),
            flush=True,
        )
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r08",
        "profile_phases.json",
    )
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
