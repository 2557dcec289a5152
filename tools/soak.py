"""Scale soaks: of ``__spark_entry__`` ops over salted replicas of the
corpus tables, or (``--store``) of the statement store's own path.

Op mode: for each scale k the soak writes ``documents`` and ``events`` k
times over into a temporary sf directory and links the other tables there
unchanged. Replica r (0 to k-1) offsets ``doc_id`` and ``event_id`` by
r times the table's id span, appends " rep<r>" to the text of every
document of replicas r > 0, and shifts event times by r hours, so scale 1
is the source data itself. Each op then runs once per scale, its rows
materialized through ``perfbench.digest.digest_frame`` inside a lifecycle
scope. Rows that grow k-fold with wall time that grows about k-fold mean
the op's plan holds its shape at scale.

Store mode: for each scale k, the benchmark's serve workload
(``perfbench.workloads.Serve``) over its seeded corpus with every count
and name pool of ``Serve.spec`` times k. Scaling the pools with the
counts keeps blocking's blocks as wide, so candidate pairs grow about
k-fold, not k², up to the pools' limits: the generator draws at most
484 distinct words (two syllables), so past 4x the word blocks of
company and organisation names widen. Its set-up (write, upsert, ``optimize()``, value index,
xref, connected components, resolver) and one pass run traced, then
three store paths the workload leaves out, each its own span: a sliced
``optimize(slices=4)``, a pass served from the bucketed table, and a
streaming-ingest drain of the corpus into a second store. Every output
is checked against the corpus's answers.

    python tools/soak.py [--sf DIR] --scales 1,10,100 op ...
    python tools/soak.py --store --scales 1,10

Op mode prints one JSON line per (op, scale): ``op``, ``scale``,
``wall_s``, ``rows``. Store mode prints one JSON line per (scale, span
name) with the summed ``dur``, ``jobs``, ``stages``,
``shuffle_write_bytes`` and ``spill_bytes`` of the spans of that name,
and their ``rows`` where the spans count them; it exits 1 when a check
failed.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import math
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from perfbench import box, corpus  # noqa: E402
from perfbench.digest import digest_frame  # noqa: E402

#: hash slices of the store mode's extra compaction
SLICES = 4
BUCKETED = "soak_statements_bucketed"
SPAN_FIELDS = ("dur", "jobs", "stages", "shuffle_write_bytes", "spill_bytes")
#: distinct values ``corpus.generate`` can draw per pool (names have three
#: syllables, words two): a larger pool would never fill
POOL_LIMITS = {"first_pool": len(corpus.SYLLABLES) ** 3,
               "last_pool": len(corpus.SYLLABLES) ** 3,
               "word_pool": len(corpus.SYLLABLES) ** 2}


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


def scaled(spec, k: int):
    """``spec`` with every count and pool size times ``k``, each pool up
    to its limit."""
    return dataclasses.replace(spec, **{
        f.name: min(getattr(spec, f.name) * k, POOL_LIMITS.get(f.name, math.inf))
        for f in dataclasses.fields(spec) if isinstance(getattr(spec, f.name), int)})


def soak_ops(spark, qs, sf: str, scales: list[int], ops: list[str]) -> None:
    from ftm_columnstore_spark.lifecycle import scope

    for scale in scales:
        with tempfile.TemporaryDirectory(prefix=f"soak-x{scale}-") as out:
            replicate(spark, sf, out, scale)
            for name in ops:
                t0 = time.perf_counter()
                with scope():
                    row = digest_frame(qs[name](spark, out)).collect()[0]
                print(json.dumps({"op": name, "scale": scale,
                                  "wall_s": round(time.perf_counter() - t0, 3),
                                  "rows": row["rows"]}), flush=True)


def soak_store(spark, scales: list[int]) -> int:
    """Store mode; returns the number of failed checks."""
    from perfbench import workloads
    from perfbench.trace import Tracer

    # one tracer for all scales: a second one on this SparkContext would
    # reuse the first one's job group names and count its jobs
    tracer = Tracer(spark, enabled=False)
    failed = 0
    for scale in scales:
        first = len(tracer.spans)
        with tempfile.TemporaryDirectory(prefix=f"soak-store-x{scale}-") as work:
            run = workloads.Run(spark, tracer, 1, work, work, trace=True)
            serve = workloads.Serve()
            serve.spec = scaled(workloads.Serve.spec, scale)
            serve.setup(run)
            tracer.enabled = True
            try:
                serve.cycle(run)
                _store_paths(run, serve)
            finally:
                tracer.enabled = False
        run.check(spark._jsparkSession.sharedState().cacheManager().isEmpty(),
                  "CacheManager empty")
        for line in _span_lines(tracer.spans[first:]):
            print(json.dumps({"scale": scale, **line}), flush=True)
        failed += run.failed
    return failed


def _store_paths(run, serve) -> None:
    """The store paths the serve workload leaves out, one span each."""
    from ftm_columnstore_spark import Store
    from ftm_columnstore_spark.operators.assembly import assemble_entities
    from ftm_columnstore_spark.streaming.ingest import stream_statements_to_store

    spark, store, want, t = run.spark, serve.store, serve.answers, run.tracer
    with t.span("store.optimize.sliced") as rec:
        store.optimize(slices=SLICES)
        rec["rows"] = store.statements(deduped=False).count()
    run.check(rec["rows"] == want.statements and store.is_compacted(),
              f"optimize(slices={SLICES}): {rec['rows']} rows, want "
              f"{want.statements}, compaction marker {store.is_compacted()}")

    with t.span("store.bucketed"):
        store.to_bucketed_table(
            BUCKETED, int(spark.conf.get("spark.sql.shuffle.partitions")))
        store.use_bucketed(BUCKETED)
        try:
            plan = assemble_entities(store.statements())._jdf.queryExecution()
            run.check("Exchange" not in plan.executedPlan().toString(),
                      "assembly over the bucketed table plans no Exchange")
            # the pass's calls open no spans: their jobs count in this one
            t.enabled = False
            serve.cycle(run)
        finally:
            t.enabled = True
            store.use_bucketed(enabled=False)
            spark.sql(f"DROP TABLE IF EXISTS {BUCKETED}")

    # the corpus's first batch is the whole corpus (the second, the upsert)
    with t.span("store.stream") as rec:
        src = os.path.join(run.workdir, "stream-input")
        corpus.write_batches(want.entities, src, len(want.entities))
        uri = os.path.join(run.workdir, "stream-store")
        # the stream's jobs run under the query's own job group
        stream_statements_to_store(
            spark, src, uri, os.path.join(run.workdir, "stream-checkpoint"),
            available_now=True).awaitTermination()
        rec["rows"] = Store(spark, uri).statements().count()
    run.check(rec["rows"] == want.statements,
              f"streamed store: {rec['rows']} statements, want {want.statements}")


def _span_lines(spans: list[dict]) -> list[dict]:
    """One record per span name, in first-seen order, its spans summed."""
    lines: dict[str, dict] = {}
    for s in spans:
        line = lines.setdefault(s["name"], dict.fromkeys(SPAN_FIELDS, 0))
        for f in SPAN_FIELDS:
            line[f] += s[f]
        if "rows" in s:
            line["rows"] = line.get("rows", 0) + s["rows"]
    return [{"span": name, **line, "dur": round(line["dur"], 3)}
            for name, line in lines.items()]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=bench.SF_DIR, help="scale-factor directory")
    ap.add_argument("--scales", required=True,
                    help="comma-separated scale factors, e.g. 1,10,100")
    ap.add_argument("--store", action="store_true",
                    help="soak the statement store's path in place of entry ops")
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args(argv)
    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    from ftm_columnstore_spark.session import get_spark

    qs = entry.queries()
    if args.store == bool(args.ops):
        ap.error("name ops, or pass --store and no ops")
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
    # the store mode's Tracer reads every stage of a span's jobs from the
    # status store, which past spark.ui.retainedStages drops old ones
    spark = SparkSession.getActiveSession() or get_spark(
        "ftmcs-soak", master=f"local[{cpus}]",
        extra_conf={"spark.ui.enabled": "false",
                    "spark.ui.retainedStages": "100000"})
    if args.store:
        return int(soak_store(spark, scales) > 0)
    soak_ops(spark, qs, args.sf, scales, args.ops)
    return 0


if __name__ == "__main__":
    sys.exit(main())
