"""Capture .explain("formatted") for headline queries into plans/r<N>/.

Usage: python tools/capture_plans.py --round N before|after [query ...]
Defaults to every headline query in bench.py. Output:
plans/r<NN>/<query>_<tag>.txt (N zero-padded to two digits)
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("tag", choices=("before", "after"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    rnd = f"r{args.round:02d}"

    from ftm_columnstore_spark.lifecycle import scope
    from ftm_columnstore_spark.session import get_spark

    import __spark_entry__ as entry_mod
    import bench

    qs = entry_mod.queries()
    names = args.names or list(bench.HEADLINE)

    spark = get_spark(
        f"ftmcs-plans-{rnd}",
        master=f"local[{CPUS}]",
        extra_conf={"spark.ui.enabled": "false"},
    )
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        # the scope releases anything the operator persisted during build
        with scope():
            df = qs[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
