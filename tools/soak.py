"""Scale soak of ``__spark_entry__`` ops over salted replicas of the
corpus tables.

For each scale k the soak writes ``documents`` and ``events`` k times
over into a temporary sf directory and links the other tables there
unchanged. Replica r (0 to k-1) offsets ``doc_id`` and ``event_id`` by
r times the table's id span, appends " rep<r>" to the text of every
document of replicas r > 0, and shifts event times by r hours, so scale 1
is the source data itself. Each op then runs once per scale, its rows
materialized through ``perfbench.digest.digest_frame`` inside a lifecycle
scope. Rows that grow k-fold with wall time that grows about k-fold mean
the op's plan holds its shape at scale.

    python tools/soak.py [--sf DIR] --scales 1,10,100 op ...

Prints one JSON line per (op, scale): ``op``, ``scale``, ``wall_s``,
``rows``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from perfbench import box  # noqa: E402
from perfbench.digest import digest_frame  # noqa: E402

def replicate(spark, sf: str, out: str, scale: int) -> None:
    """Write the salted ``scale``-fold replica of ``sf`` into ``out``."""
    from pyspark.sql import functions as F

    reps = spark.range(scale).select(F.col("id").alias("rep"))
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    events = spark.read.parquet(f"{sf}/events.parquet")
    doc_span = docs.agg(F.max("doc_id")).first()[0] + 1
    event_span = events.agg(F.max("event_id")).first()[0] + 1
    salted = {
        "documents": docs.crossJoin(reps).withColumns({
            "doc_id": F.col("doc_id") + F.col("rep") * doc_span,
            "text": F.when(F.col("rep") == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit(" rep"), F.col("rep").cast("string"))),
        }).drop("rep"),
        "events": events.crossJoin(reps).withColumns({
            "event_id": F.col("event_id") + F.col("rep") * event_span,
            "ts": F.col("ts") + F.make_interval(hours=F.col("rep").cast("int")),
        }).drop("rep"),
    }
    for name in os.listdir(sf):
        table = name.removesuffix(".parquet")
        if table in salted:
            salted[table].write.parquet(os.path.join(out, name))
        else:
            os.symlink(os.path.join(os.path.abspath(sf), name), os.path.join(out, name))


def main(argv: list[str] | None = None) -> list[dict]:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=bench.SF_DIR, help="scale-factor directory")
    ap.add_argument("--scales", required=True,
                    help="comma-separated replication factors, e.g. 1,10,100")
    ap.add_argument("ops", nargs="+")
    args = ap.parse_args(argv)
    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    from ftm_columnstore_spark.lifecycle import scope
    from ftm_columnstore_spark.session import get_spark

    qs = entry.queries()
    unknown = sorted(set(args.ops) - set(qs))
    if unknown:
        ap.error(f"unknown ops: {' '.join(unknown)}")
    try:
        scales = [int(s) for s in args.scales.split(",")]
    except ValueError:
        ap.error(f"--scales takes integers, got {args.scales!r}")
    if min(scales) < 1:
        ap.error("every scale must be at least 1")

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or box.nproc()
    spark = SparkSession.getActiveSession() or get_spark(
        "ftmcs-soak", master=f"local[{cpus}]",
        extra_conf={"spark.ui.enabled": "false"})
    records = []
    for scale in scales:
        with tempfile.TemporaryDirectory(prefix=f"soak-x{scale}-") as sf:
            replicate(spark, args.sf, sf, scale)
            for name in args.ops:
                t0 = time.perf_counter()
                with scope():
                    row = digest_frame(qs[name](spark, sf)).collect()[0]
                rec = {"op": name, "scale": scale,
                       "wall_s": round(time.perf_counter() - t0, 3),
                       "rows": row["rows"]}
                print(json.dumps(rec), flush=True)
                records.append(rec)
    return records


if __name__ == "__main__":
    main()
