"""SparkSession factory with scale-aware defaults.

Single place where execution knobs live so tests, bench and the CLI share
one config. Tuned for local[N] verification but chosen to survive a
1000-executor cluster: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), adaptive broadcast, Arrow for the few pandas-UDF
operators, and parquet filter pushdown left enabled so scans prune.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ftm_columnstore_spark import settings


def get_spark(
    app_name: str = "ftm-columnstore-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    builder = (
        SparkSession.builder.appName(app_name)
        # --- shuffle & adaptivity -----------------------------------------
        # AQE re-plans at runtime: coalesces tiny post-shuffle partitions,
        # splits skewed ones, and converts sort-merge→broadcast when a side
        # turns out small. This is the main 100TB survival mechanism.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelism-first coalescing (the Spark DEFAULT, restored in
        # r08): the r07 override (`false` + 64m advisory) coalesced
        # every sub-64MB exchange to ONE partition, which serializes
        # compute-heavy stages whose cost is NOT proportional to their
        # shuffle bytes (measured r08: d19's posting-join stage ran 1
        # task / 4.0s CPU under `false`, 2+ tasks under `true`; top-16
        # mini-battery sum 56→53s). Advisory size still bounds
        # partition bloat on genuinely large exchanges; `true` only
        # stops merging below the cluster's parallelism — exactly the
        # scale-adaptive behavior guide §2.2 asks for.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # coalesce floor 1m → 256k: the floor only binds on exchanges
        # whose TOTAL bytes are a few MB — the "small relation, dense
        # compute" regime (posting-list joins, vote aggregations, pair
        # verifies) where per-row work, not bytes, is the cost. Under
        # the 1m floor those stages collapsed to 1-2 tasks (d4's vote
        # stage: 1 task / 1.9s CPU on a 1.6MB exchange). Measured r08:
        # 8-op battery per-op min improved on EVERY op (sum 30.1→24.2s).
        # Data-proportional stages never see this floor.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # FAIR job scheduling (guide §2.6): the engine's serving shape
        # is many concurrent independent queries; FIFO lets a long
        # job's wide stages head-of-line-block short queries sharing
        # the application. Measured r09 on the full 111-op battery,
        # 8-way concurrent, steal-quiet box, arms alternated per pass:
        # FIFO walls [30.2, 28.1, 34.1, 32.4] vs FAIR [23.1, 27.1,
        # 28.0, 26.1] s (-16% mean; per-op concurrent tails shrink,
        # e.g. d4 8-10s -> 6-7s). Workload-shape, not core-count,
        # dependent: single-job sessions are unaffected (one job is
        # trivially fair), and on a cluster the same config governs
        # multi-tenant drivers. Override via extra_conf if a caller
        # wants strict FIFO. No allocation file is needed: on pyspark
        # 4.1.2 the `default` pool's own schedulingMode is FAIR too.
        # Mixed latency classes on a shared cluster would want named
        # pools (spark.scheduler.pool per submitting thread).
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.autoBroadcastJoinThreshold", "32m")
        .config(
            "spark.sql.shuffle.partitions", str(settings.SHUFFLE_PARTITIONS)
        )
        # --- python/arrow --------------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- IO ------------------------------------------------------------
        # 128MB split targets keep scan tasks balanced at any SF.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Statement ids are high-cardinality strings; dictionary encoding is
        # still right for the LowCardinality-equivalent columns (prop,
        # schema, dataset) and parquet enables it per-column automatically.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # --- misc ----------------------------------------------------------
        # moments_stats' exact decimal half-up division contract
        # (sketches.py) relies on the decimal(38,0)/decimal(38,0)
        # quotient adjusting to decimal(38,6); that is the Spark
        # default, pinned here so digit-identical oracle parity can't
        # be broken by a session flipping allowPrecisionLoss.
        .config("spark.sql.decimal.operations.allowPrecisionLoss", "true")
        # Generated-code class cache, LRU (Spark default 100 entries).
        # A warm session re-runs the same plans, so a miss recompiles a
        # class with Janino. Working sets measured at local[4]:
        # - perfbench serve pass: about 120 classes; 93-96 recompiles
        #   per warm pass at 100 entries, 0 at 4096;
        # - perfbench operators pass: 83 classes, no recompiles either way;
        # - bench.py's 111 HEADLINE ops at sf0.01: 1,737 classes; a second
        #   pass recompiled 2,637 at 100 entries, 61 unbounded.
        # 4096 is over twice the largest. JVM Metaspace did not grow
        # (after two battery passes: 220 MB at 100 entries, 193 MB now).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # The class cache is keyed by generated source, and by default
        # that source names the whole-stage codegen stage id. AQE hands
        # out the ids as it re-plans, in an order that depends on which
        # query stage finished first, so the same code can come back
        # under a new name and recompile: 4-8 classes per warm View mix
        # over the test fixture (the two branches of a grouped
        # aggregation's union), 0 with the ids left out; 61 classes on a
        # second battery pass, 8 with them left out.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{settings.CPUS}]")
    # local mode runs executors inside the driver JVM: the 1g default heap
    # starves 32 task threads. Only effective for the process's FIRST
    # session (JVM already up otherwise).
    if SparkSession.getActiveSession() is None:
        builder = builder.config(
            "spark.driver.memory", settings.DRIVER_MEMORY
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
