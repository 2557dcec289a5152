"""Dataset-splitting and sampling operators for training-data pipelines
(north-star extension; grades alongside SURVEY §2).

A 100 TB training corpus needs three sampling primitives the reference
never had (its corpus fits in one ClickHouse node; cite: reference scale
constants `settings.py:15`, fixtures ~625 entities):

- **hash split** (train/val/test): assignment must be a pure function of
  the document id — stable across reruns, cluster sizes, and partitioning,
  and exactly reproducible by any other engine. We take the first 8 hex
  chars of ``md5(seed || id)`` and compare them against cumulative-weight
  thresholds AS STRINGS — lowercase-hex order is numeric order, so no
  engine-specific hex→int conversion enters the contract.
- **exact stratified sample**: k rows per stratum, chosen by a
  deterministic hash order (not ``ORDER BY random()``), as a per-stratum
  window top-k — Spark plans it as WindowGroupLimit, so each partition
  discards beyond-k rows before the shuffle.
- **deterministic shuffle**: global reshuffle of training examples where
  the order is a function of (seed, id) only. Implemented scale-correctly
  as ``repartitionByRange`` + ``sortWithinPartitions`` on the hash key:
  total order across partition boundaries without a single-partition
  global sort.

All pure-column expressions; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ftm_columnstore_spark.lifecycle import persisting


def hash_key_col(id_col: Column | str, seed: str = "") -> Column:
    """First 8 lowercase-hex chars of md5(seed || id) — a uniform
    deterministic key in ['00000000', 'ffffffff'] whose STRING order is
    its numeric order. Any engine with md5 reproduces it bit-for-bit."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(F.md5(F.concat(F.lit(seed), c.cast("string"))), 1, 8)


def _hex_threshold(frac: float) -> str:
    """Cumulative fraction → 8-hex-char threshold (floor(frac * 2^32))."""
    return format(min(int(frac * 2**32), 2**32 - 1), "08x")


def split_by_hash(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "",
) -> DataFrame:
    """Adds a ``split`` column assigning each row to a named split with
    probability proportional to its weight — deterministically, from the
    id alone. ``weights`` e.g. {"train": 0.9, "val": 0.05, "test": 0.05}
    (normalized internally; iteration order fixes bucket layout)."""
    total = sum(weights.values())
    key = hash_key_col(id_col, seed)
    expr: Column | None = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = key < F.lit(_hex_threshold(acc))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1])
        if expr is None
        else expr.otherwise(names[-1])
    )
    return df.withColumn("split", expr)


def stratified_sample_exact(
    df: DataFrame,
    strata_cols: list[str],
    k: int,
    id_col: str = "doc_id",
    seed: str = "",
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, selected by the
    deterministic hash order of the id (unbiased w.r.t. any attribute
    correlated with id assignment, reproducible everywhere). Window top-k
    → WindowGroupLimit: executors drop rows beyond k per stratum before
    the final shuffle, so output ~ |strata|·k regardless of input size."""
    w = Window.partitionBy(*strata_cols).orderBy(
        hash_key_col(id_col, seed), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global order-by-hash reshuffle: iterating the result partition by
    partition yields the same sequence on any cluster size. Range
    repartition + within-partition sort = total order WITHOUT a
    single-partition global sort (each executor sorts only its range)."""
    out = df.withColumn("__shuffle_key", hash_key_col(id_col, seed))
    if num_partitions:
        out = out.repartitionByRange(num_partitions, "__shuffle_key", id_col)
    else:
        out = out.repartitionByRange("__shuffle_key", id_col)
    return out.sortWithinPartitions("__shuffle_key", id_col)


def mixture_by_temperature(
    df: DataFrame,
    alpha: float = 0.5,
    total: int | None = None,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "",
    max_strata: int = 10_000,
) -> DataFrame:
    """Temperature-smoothed mixture sampling (the multilingual
    up/down-weighting of Lample-Conneau'19 / XLM-R): target share of
    stratum s is n_s^alpha / Σ_t n_t^alpha, so alpha < 1 upsamples
    small sources relative to their natural share. ``total`` is the
    target output size (default: half the corpus); per-stratum keep
    rate is clamp(total · share_s / n_s, 0, 1), decided by the same
    md5-threshold contract as :func:`sample_mixture` — deterministic,
    stateless, engine-portable.

    The stratum counts are ONE aggregation collected to the driver,
    bounded by ``max_strata`` (the house bounded-collect rule: the
    threshold IS the contract — a high-cardinality stratum_col such as
    a URL domain raises instead of collecting millions of rows); the
    keep pass is a narrow filter. Rows whose stratum is NULL are
    EXCLUDED from the mixture (they belong to no source, and the keep
    pass's ``default_rate=0.0`` drops them anyway). alpha=0.5
    uses sqrt (correctly-rounded IEEE, so the oracle's rates are
    bit-identical); other alphas go through pow (documented ≤1-ulp
    cross-engine wobble on the rate, washed out by the floor to a
    32-bit threshold)."""
    import math

    rows = (
        df.groupBy(stratum_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .limit(int(max_strata) + 1)
        .collect()
    )
    if len(rows) > max_strata:
        raise ValueError(
            f"stratum_col={stratum_col!r} has more than "
            f"max_strata={max_strata} distinct values: the per-stratum "
            "count collect would no longer be driver-bounded. Use a "
            "coarser stratum column, or raise max_strata if the "
            "cardinality is a conscious choice."
        )
    counts = {r[0]: r[1] for r in rows if r[0] is not None}
    if not counts:
        return df.filter(F.col(stratum_col).isNotNull())
    n_total = sum(counts.values())
    if total is None:
        total = n_total // 2
    # fixed iteration order (stratum name) so the float share sum is
    # reproducible in the oracle
    names = sorted(counts)
    weights = [
        math.sqrt(float(counts[s]))
        if alpha == 0.5
        else float(counts[s]) ** alpha
        for s in names
    ]
    wsum = 0.0
    for w in weights:
        wsum += w
    rates = {
        s: min(1.0, max(0.0, float(total) * (w / wsum) / float(counts[s])))
        for s, w in zip(names, weights)
    }
    return sample_mixture(
        df, rates, stratum_col=stratum_col, id_col=id_col, seed=seed,
        default_rate=0.0,
    )


def sample_mixture(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "",
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic mixture re-weighting: per-stratum Bernoulli keep
    rates (e.g. up/down-weighting sources in a training mix), decided by
    the document's hash key alone — so the sampled corpus is stable
    across reruns and engines, and composable with `split_by_hash` (use
    different seeds: the keep decision and the split must be
    independent). Strata not listed in ``rates`` keep ``default_rate``.
    One narrow filter; no shuffle, no RNG state."""
    key = hash_key_col(id_col, seed)
    s = F.col(stratum_col)
    expr: Column | None = None
    for name, rate in rates.items():
        cond = key < F.lit(_hex_threshold(rate))
        expr = (
            F.when(s == name, cond)
            if expr is None
            else expr.when(s == name, cond)
        )
    keep = (
        F.lit(default_rate >= 1.0)
        if expr is None
        else expr.otherwise(key < F.lit(_hex_threshold(default_rate)))
    )
    return df.filter(keep)


def pack_sequences(
    df: DataFrame,
    budget: int,
    size_col: str = "n_tokens",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Sequence packing: assign each document to a training sequence so
    that per-sequence token sums stay ≤ ``budget`` (documents larger than
    the budget get a singleton sequence — truncation is the caller's
    policy). Output: input columns + ``seq_id`` (globally unique string).

    Exact global bin packing is NP-hard AND inherently sequential — a
    single-node loop over 100 TB of metadata is the real blocker. Instead:
    deterministic hash partitioning spreads documents uniformly, then each
    partition packs independently (mapInPandas with state carried across
    Arrow batches — one Python pass per partition, no shuffle after the
    repartition). Per partition: best-fit-decreasing via bisect over the
    sorted remaining-capacity list — O(n log bins), with the classic
    ≤ 11/9·OPT + O(1) waste bound (Johnson'73 analysis family).
    Partitions don't coordinate, so the whole operator is one shuffle +
    one narrow pass at any scale. Determinism: partition assignment is a
    pure function of the id, and each partition packs in (size desc, id)
    order."""
    import bisect

    import pandas as pd

    # seq_id as string: "<partition>-<bin>" is stable and avoids
    # coordinating a global numeric sequence across executors
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("seq_id", T.StringType(), False)]
    )

    n_parts = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    packed_input = df.repartition(int(n_parts), F.crc32(F.col(id_col).cast("string"))).sortWithinPartitions(
        F.col(size_col).desc(), F.col(id_col)
    )

    def pack(batches):
        pid = None
        caps: list[int] = []  # open-bin remaining capacities, ascending
        ids: list[int] = []  # parallel bin ids
        n_bins = 0
        for pdf in batches:
            if pdf.empty:
                continue
            if pid is None:
                from pyspark import TaskContext

                pid = TaskContext.get().partitionId()
            seq_ids = []
            for size in pdf[size_col]:
                s = int(min(size, budget))
                # best fit: the SMALLEST remaining capacity that still
                # holds s (bisect on the sorted capacity list)
                i = bisect.bisect_left(caps, s)
                if i < len(caps):
                    cap, bid = caps.pop(i), ids.pop(i)
                    ncap = cap - s
                else:
                    bid, n_bins = n_bins, n_bins + 1
                    ncap = budget - s
                j = bisect.bisect_left(caps, ncap)
                caps.insert(j, ncap)
                ids.insert(j, bid)
                seq_ids.append(f"{pid}-{bid}")
            out = pdf.copy()
            out["seq_id"] = pd.Series(seq_ids, index=pdf.index, dtype="string")
            yield out

    return packed_input.mapInPandas(pack, schema=out_schema)


def ngram_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ≥ ``min_hits``
    distinct word n-grams with any benchmark document (the containment
    direction Jaccard misses: a benchmark answer pasted into a 10k-token
    page has tiny Jaccard but total containment).

    Plan shape: both sides shingle narrowly (zero shuffles), the join is
    one equi-shuffle on the n-gram hash — the benchmark side is tiny and
    AQE broadcasts it, so at corpus scale this degenerates to a map-side
    hash probe of a broadcast benchmark index. Output:
    (corpus id, benchmark id, n_shared_ngrams)."""
    from ftm_columnstore_spark.functions.text import shingle_sets

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        return shingle_sets(df, text_col, id_col, n).select(
            F.col("id").alias(out_id), F.explode("sh_arr").alias("__gram")
        )

    hits = grams(corpus, "corpus_id").join(
        grams(benchmark, "benchmark_id"), on="__gram"
    )
    return (
        hits.groupBy("corpus_id", "benchmark_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .filter(F.col("n_shared_ngrams") >= min_hits)
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    rate: float = 1.0,
    id_col: str = "doc_id",
    seed: str = "",
) -> DataFrame:
    """Deterministic weighted Bernoulli sampling: keep each row with
    probability ``clamp(weight · rate, 0, 1)``, decided by the md5
    uniform of the id alone — the quality-proportional downsampling pass
    (keep high-quality documents with higher probability) used when a
    corpus must shrink without uniform thinning.

    Same md5-threshold contract as :func:`split_by_hash`: no RNG state,
    reproducible in any engine, and stable under task retries (a Spark
    ``rand()`` sample is NOT — retried tasks redraw). The uniform is the
    8-hex md5 prefix as an integer in [0, 2³²); keep iff
    ``u < p · 2³²`` — both sides exact IEEE doubles, so the decision is
    bit-identical everywhere. One narrow filter, zero shuffles."""
    u = F.conv(hash_key_col(id_col, seed), 16, 10).cast("double")
    p = F.least(
        F.greatest(F.col(weight_col) * F.lit(float(rate)), F.lit(0.0)),
        F.lit(1.0),
    )
    return df.where(u < p * F.lit(float(2**32)))


def shard_assignment_col(
    id_col: Column | str, n_shards: int, seed: str = ""
) -> Column:
    """Deterministic shard id in [0, n_shards): the md5-uniform key
    (same family as :func:`hash_key_col`) mod the shard count — any
    engine reproduces the assignment from the id alone."""
    key = F.conv(hash_key_col(id_col, seed), 16, 10).cast("long")
    return (key % n_shards).cast("int").alias("shard")


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str | None = "text",
    seed: str = "",
) -> DataFrame:
    """Export a prepared corpus as ``n_shards`` deterministic,
    size-balanced training shards — the sink at the end of
    :func:`~ftm_columnstore_spark.operators.pipeline.
    prepare_training_data`: ``{path}/shard=N/*.parquet`` with rows
    hash-assigned by id (engine-reproducible, append/retry-stable) and
    sorted by the same hash WITHIN each shard, so readers streaming a
    shard see a deterministic, well-shuffled order (the
    :func:`deterministic_shuffle` contract applied per shard).

    One shuffle total: repartition on the shard id, write with
    ``partitionBy`` so each shard is a self-contained directory an
    independent trainer/data-loader can claim. At 100 TB pick
    ``n_shards`` >= cluster cores for write parallelism; hash balance
    keeps shard sizes within sampling noise of equal.

    Returns the manifest (shard, n_rows[, n_tokens]) — computed from
    the WRITTEN files, so it doubles as a readback audit.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    shard = shard_assignment_col(id_col, n_shards, seed)
    out = df.withColumn("shard", shard).withColumn(
        "__ord", hash_key_col(id_col, seed)
    )
    (
        out.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "__ord", id_col)
        .drop("__ord")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    written = df.sparkSession.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if text_col is not None and text_col in written.columns:
        from ftm_columnstore_spark.functions.text import word_tokens_col

        # token count projected before the agg — the tokenize would
        # otherwise run interpreted inside the aggregate (see
        # operators/dedup.py minhash_signature)
        written = written.withColumn(
            "__ntok", F.size(word_tokens_col(text_col))
        )
        aggs.append(F.sum("__ntok").alias("n_tokens"))
    return written.groupBy("shard").agg(*aggs).orderBy("shard")


def pack_sequences_portable(
    df: DataFrame,
    budget: int,
    size_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_buckets: int = 8,
    seed: str = "",
) -> DataFrame:
    """ENGINE-PORTABLE sequence packing: documents hash into
    ``n_buckets`` md5 buckets (the :func:`shard_assignment_col`
    contract); each bucket packs independently by NEXT-fit-decreasing —
    items in (size DESC, id) order, a new bin whenever the current one
    cannot take the next item, oversized items alone in their bin.
    Unlike :func:`pack_sequences`' best-fit (whose bisect state resists
    SQL replay), the next-fit fill is a single sequential recurrence a
    recursive CTE replays row-for-row — the price is the weaker 2·OPT
    (vs 11/9·OPT) waste bound; use the best-fit path when cross-engine
    audit of the assignment is not required.

    Scale shape identical to :func:`pack_sequences`: one shuffle on the
    bucket, one deterministic per-group pass (applyInPandas), no
    coordination between buckets.

    Output: (id, size, bucket, bin_no, bin_fill) — ``bin_fill`` the
    running fill after placing the item (audit column).
    """
    import pandas as pd

    if budget <= 0:
        raise ValueError(f"budget must be > 0, got {budget}")
    # ids keep their NATIVE dtype (string entity ids work like numeric
    # doc ids; a long cast would null them out and break determinism)
    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("size", T.LongType()),
            T.StructField("bucket", T.IntegerType()),
            T.StructField("bin_no", T.LongType()),
            T.StructField("bin_fill", T.LongType()),
        ]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["size", "id"], ascending=[False, True]
        ).reset_index(drop=True)
        bins, fills = [], []
        bin_no, fill = 0, 0
        first = True
        for s in pdf["size"]:
            s = int(s)
            if first:
                bin_no, fill, first = 0, s, False
            elif fill + s <= budget:
                fill += s
            else:
                bin_no += 1
                fill = s
            bins.append(bin_no)
            fills.append(fill)
        pdf["bin_no"] = pd.Series(bins, dtype="int64")
        pdf["bin_fill"] = pd.Series(fills, dtype="int64")
        return pdf[["id", "size", "bucket", "bin_no", "bin_fill"]]

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(size_col).cast("long").alias("size"),
        shard_assignment_col(id_col, n_buckets, seed).alias("bucket"),
    )
    return base.groupBy("bucket").applyInPandas(pack, out_schema)


def sample_quantiles(
    df: DataFrame,
    col: str,
    probs: list[float],
    rate: float = 1.0,
    id_col: str = "doc_id",
    seed: str = "",
    max_sample_rows: int = 5_000_000,
) -> DataFrame:
    """Deterministic sample-based quantiles — the scale path for
    distribution profiling: exact quantiles need a global sort of the
    full column; at 100 TB you sort a *deterministic md5 sample*
    instead (same `hash_key_col` threshold contract as
    :func:`split_by_hash`, so the sample — and therefore every quantile
    — is bit-reproducible across engines and reruns; no RNG state).

    Quantile rule: type-1 / lower nearest-rank — the value at row
    ``max(1, ceil(p·n))`` of the sample ordered by (value, hash-key) —
    pure integer rank arithmetic, no interpolation, hence replayable in
    any SQL engine verbatim. Sampling error ~ O(1/sqrt(rate·N)).

    Reducer bound: the rank window is ONE sort of the sample through a
    single partition — fine exactly because the sample is bounded.
    ``rate=1.0`` (exact type-1 quantiles) therefore only runs when the
    input fits ``max_sample_rows`` (one count job checks); a larger
    input raises with the rate to pass instead — an exact answer that
    funnels 100 TB through one reducer is the failure mode
    :func:`take_budget` exists to avoid, and this operator refuses to
    reproduce it silently. With ``rate < 1.0`` the caller owns the
    bound: expected sample = rate·N (no count job is spent policing
    it). For a one-pass mergeable alternative at unbounded scale use
    ``percentile_approx``.

    Plan shape: threshold filter (map-only) → one sort of the sample
    (bounded as above) → rank filter. Output: (prob, value), one row
    per requested quantile."""
    if not probs:
        raise ValueError("probs must be non-empty")
    if not all(0.0 < p <= 1.0 for p in probs):
        raise ValueError(f"probs must be in (0, 1], got {probs}")
    if not 0.0 < rate <= 1.0:
        raise ValueError(f"rate must be in (0, 1], got {rate}")
    if max_sample_rows < 1:
        raise ValueError(
            f"max_sample_rows must be >= 1, got {max_sample_rows}"
        )
    from pyspark.sql import Window

    key = hash_key_col(id_col, seed)
    sample = df.where(F.col(col).isNotNull()).select(
        F.col(col).alias("value"), key.alias("__k")
    )
    if rate < 1.0:
        sample = sample.where(F.col("__k") < F.lit(_hex_threshold(rate)))
    else:
        n_in = sample.count()
        if n_in > max_sample_rows:
            raise ValueError(
                f"rate=1.0 would sort {n_in} rows through one reducer "
                f"(max_sample_rows={max_sample_rows}); pass rate<="
                f"{max_sample_rows / n_in:.6f} for sampled quantiles "
                "or use percentile_approx for a mergeable exact-ish "
                "sketch"
            )
    w = Window.orderBy(F.col("value"), F.col("__k"))
    ranked = sample.select(
        "value",
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__n"),
    )
    spark = df.sparkSession
    pdf = spark.createDataFrame(
        [(float(p),) for p in sorted(probs)], "prob double"
    )
    # rank arithmetic in LONG: ceil(p·n) cast to int overflows past
    # ~2.1B sample rows and silently empties the result
    target = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.col("prob") * F.col("__n")).cast("long"),
    )
    return (
        ranked.crossJoin(F.broadcast(pdf))
        .where(F.col("__r") == target)
        .select("prob", "value")
        .orderBy("prob")
    )


def take_budget(
    df: DataFrame,
    cost_col: str,
    budget: int | float,
    id_col: str = "doc_id",
    seed: str = "",
    n_buckets: int = 256,
) -> DataFrame:
    """Deterministic budgeted prefix: walk the corpus in md5-hash order
    (the :func:`split_by_hash` contract — a stable, engine-reproducible
    shuffle) and keep documents while the running ``cost_col`` total
    stays ≤ ``budget`` — "give me 10B training tokens" as one operator.

    The running total is a DISTRIBUTED PREFIX SUM, not a global sort:
    rows land in ``n_buckets`` hash-prefix buckets (2-hex-char ranges),
    per-bucket subtotals (one tiny agg, ``n_buckets`` rows) become
    driver-side cumulative offsets broadcast back, and each bucket
    computes its within-bucket cumsum in parallel (window PARTITIONED
    by bucket) + its offset. No single-partition global window ever
    materializes the corpus order — the classic two-pass scan shape
    that survives 100 TB.

    Keep rule: a document is kept iff its cumulative total (inclusive)
    is ≤ budget — the output's total cost never exceeds the budget.
    Output: the surviving rows of ``df``, original columns."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if not 1 <= n_buckets <= 65536:
        raise ValueError(f"n_buckets must be in [1, 65536], got {n_buckets}")
    from pyspark.sql import Window

    key = hash_key_col(id_col, seed)
    # bucket = the key's position scaled into n_buckets ranges — order
    # by (bucket, key) is exactly order by key
    bucket = F.floor(
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long")
        * n_buckets
        / F.lit(2**32)
    ).cast("int")
    base = df.withColumn("__k", key).withColumn("__b", bucket)
    sums = (
        base.groupBy("__b")
        .agg(F.sum(F.col(cost_col)).alias("__s"))
        .collect()
    )
    by_bucket = {r["__b"]: r["__s"] or 0 for r in sums}
    offsets, acc = {}, 0
    for b in sorted(by_bucket):
        offsets[b] = acc
        acc += by_bucket[b]
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        [(b, o) for b, o in offsets.items()], "__b int, __off bigint"
    )
    w = (
        Window.partitionBy("__b")
        .orderBy("__k", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.join(F.broadcast(off_df), on="__b")
        .withColumn("__cum", F.sum(F.col(cost_col)).over(w) + F.col("__off"))
        .where(F.col("__cum") <= budget)
        .drop("__k", "__b", "__off", "__cum")
    )


@persisting
def split_by_cluster(
    df: DataFrame,
    clusters: DataFrame | None,
    weights: dict[str, float],
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    seed: str = "",
    text_col: str = "text",
) -> DataFrame:
    """Leakage-free train/val/test split: hash the near-dup CLUSTER id
    instead of the document id, so every member of a duplicate cluster
    lands in the SAME split — per-document hashing leaks near-copies of
    training documents into the test set, silently inflating eval
    (the contamination mode ExactSubstr/decontamination papers warn
    about *inside* one corpus). ``clusters`` is an (id, cluster) label
    relation, e.g. from
    :func:`~ftm_columnstore_spark.operators.dedup.minhash_clusters`;
    documents without a label fall back to their own id (singleton =
    its own cluster). Same md5-threshold contract as
    :func:`split_by_hash` — deterministic, engine-reproducible; one
    co-partitioned join on the id.

    Pass the cluster relation you already computed (the pipeline's d16
    output — ``persist()`` it if both dedup and this split consume it,
    so LSH+CC runs ONCE); ``clusters=None`` computes default
    ``minhash_clusters(df)`` labels over ``text_col`` as a
    convenience."""
    if clusters is None:
        from ftm_columnstore_spark.operators.dedup import minhash_clusters

        clusters = minhash_clusters(
            df.select(id_col, text_col), text_col=text_col, id_col=id_col
        )
    labeled = df.join(
        clusters.select(
            F.col(id_col), F.col(cluster_col).alias("__cluster")
        ),
        on=id_col,
        how="left",
    ).withColumn(
        "__split_key",
        F.coalesce(F.col("__cluster").cast("string"), F.col(id_col).cast("string")),
    )
    return split_by_hash(
        labeled, weights, id_col="__split_key", seed=seed
    ).drop("__cluster", "__split_key")


def top_fraction_by_stratum(
    df: DataFrame,
    fraction: float,
    score_col: str,
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality pruning: keep the top ``fraction`` of each stratum by
    ``score_col`` — the standard per-source quality cut of web-corpus
    pipelines (a classifier scores everything, the top X% per domain
    survives; cf. the quality-filter stage of C4/FineWeb-style
    pipelines). Rows with a NULL score are dropped (unscorable ≠ good).

    Selection is by PERCENT_RANK within the stratum over the total
    order (score DESC, id ASC) — rank ties are impossible, so the kept
    set is exact and engine-portable (the oracle replays the same
    window), and the kept count per stratum is
    ``1 + floor(fraction · (n-1))`` for non-empty strata (percent_rank
    of the best row is 0, so at least one row always survives — the
    conventional semantics of a "top X%" cut).

    Scale: ONE shuffle keyed by the stratum, per-partition sort — the
    same Window.partitionBy shape as w2; no driver state, no collect,
    strata process independently so skew is bounded by the largest
    stratum (salt upstream if one domain dominates)."""
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    w = Window.partitionBy(stratum_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        df.where(F.col(score_col).isNotNull())
        .withColumn("__pr", F.percent_rank().over(w))
        .where(F.col("__pr") <= F.lit(float(fraction)))
        .drop("__pr")
    )


def weighted_reservoir_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: str = "",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — exactly
    ``k`` rows, inclusion probability proportional to weight
    (Efraimidis & Spirakis 2006, algorithm A-ES): every row draws the
    rank key u^(1/w) from a uniform u and the top-k keys win. The
    exact-k counterpart of :func:`weighted_sample` (Bernoulli, random
    size): "give me exactly 100k docs, quality-weighted".

    Determinism: u is the md5-uniform of (id, seed) — the
    split_by_hash contract, no RNG state, retry-stable. The key is
    compared in log space (ln(u)/w is a strictly monotone transform of
    u^(1/w) for w > 0 — both sides of any comparison flip sign
    together), with ln(u) rounded to 12 dp (the t32 libm rule) and ONE
    IEEE division per row; ties break by id. u is offset to
    (u+0.5)/2³² so ln never sees 0. Rows with NULL or non-positive
    weight are excluded (they have zero inclusion probability in the
    A-ES model).

    Scale shape: one narrow map computes keys; the top-k is a
    TakeOrderedAndProject (per-partition heap + driver merge of k·P
    candidates) — no global sort, no window. k rows land on the
    driver-side merge, so k is the bound (the house rule: the
    threshold IS the contract).

    Output: the sampled rows, original columns plus ``sample_key``
    (rounded 6 dp) for audit."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    u = (
        F.conv(hash_key_col(id_col, seed), 16, 10).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    w = F.col(weight_col).cast("double")
    key = F.round(F.log(u), 12) / w
    return (
        df.where(w.isNotNull() & (w > 0))
        .withColumn("__sk", key)
        .orderBy(F.col("__sk").desc(), F.col(id_col))
        .limit(int(k))
        .withColumn("sample_key", F.round(F.col("__sk"), 6))
        .drop("__sk")
    )


def weighted_reservoir_by_stratum(
    df: DataFrame,
    weight_col: str,
    k: int,
    stratum_col: str,
    id_col: str = "doc_id",
    seed: str = "",
) -> DataFrame:
    """Per-stratum exact-k weighted sampling without replacement —
    :func:`weighted_reservoir_sample`'s A-ES rank keys, top-k within
    EVERY stratum ("exactly 100k docs per language, quality-weighted"):
    the balanced-corpus builder that Bernoulli per-stratum rates
    (t28's mixture) can't pin to an exact size.

    Same determinism contract (md5 uniform of (id, seed), ln rounded
    12 dp, one IEEE division, ties by id); the per-stratum cut is ONE
    row_number window PARTITIONED by the stratum (the t33/w2 shape —
    a keyed shuffle, never a global sort; skew bounded by the largest
    stratum). NULL strata and non-positive weights are excluded.

    Output: the sampled rows plus ``sample_key`` (6 dp)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    u = (
        F.conv(hash_key_col(id_col, seed), 16, 10).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    w = F.col(weight_col).cast("double")
    win = Window.partitionBy(stratum_col).orderBy(
        (F.round(F.log(u), 12) / w).desc(), F.col(id_col)
    )
    return (
        df.where(
            F.col(stratum_col).isNotNull() & w.isNotNull() & (w > 0)
        )
        .withColumn("__rn", F.row_number().over(win))
        .where(F.col("__rn") <= int(k))
        .withColumn("sample_key", F.round(F.round(F.log(u), 12) / w, 6))
        .drop("__rn")
    )
