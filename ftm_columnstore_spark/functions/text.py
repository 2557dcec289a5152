"""Text primitives — tokenization, shingles (SURVEY §2.9 X2/X7/X8; north-star
text-analysis extensions).

All pure-column expressions (whole-stage codegen, no Python in the hot
path). These are the building blocks for the documents-table operators in
``operators.text`` and the near-dup machinery in ``operators.dedup``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: token pattern: runs of anything that isn't a lowercase letter or digit.
NON_ALNUM = "[^a-z0-9]+"


def _conf_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ("134217728", "128m", "1g")."""
    v = v.strip().lower()
    if v.endswith("b"):
        v = v[:-1]
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    if v and v[-1] in units:
        return int(float(v[:-1]) * units[v[-1]])
    return int(v)


def fan_out(df):
    """Repartition up to the cluster's slot count when the input has
    fewer partitions (small local files) so per-row Arrow/Python work
    parallelizes — a no-op on real multi-split scans.

    The exact partition probe (``df.rdd.getNumPartitions()``) forces a
    physical-planning pass — and, under AQE, can materialize upstream
    query stages — on every call (VERDICT r8 #3). It is gated behind
    the optimizer's logical size estimate: when the plan's estimated
    bytes already guarantee at least a slot-count split
    (>= defaultParallelism × maxPartitionBytes), a fan-out could never
    fire, so the probe is skipped outright and no RDD conversion
    happens on the scale path. Small inputs (the only ones a fan-out
    can help) still pay the exact probe, where planning is cheap. The
    estimate read costs one optimizer pass of the subtree — strictly
    less than the physical planning + RDD conversion it replaces.

    Estimates at or beyond the unknown-stats sentinel (relations with
    no statistics — e.g. LogicalRDD from createDataFrame — default to
    Long.MaxValue) are treated as UNKNOWN, not huge, and take the
    exact probe; no real scan-rooted estimate gets near 2^62.

    Caveat: the gate trusts bytes, not splits — a single unsplittable
    file, or a coalesced or cached upstream relation, passes it and is
    NOT fanned out; repartition such inputs before calling."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        est = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        max_split = _conf_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        if target * max_split <= est < (1 << 62):
            return df
    except Exception:  # estimate unavailable: fall back to the exact probe
        pass
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def word_tokens_col(col: Column | str) -> Column:
    """Lowercased alphanumeric tokens, empties dropped."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(c), NON_ALNUM), lambda x: x != F.lit("")
    )


def clean_tokens_col(col: Column | str) -> Column:
    """Sorted distinct tokens — the set form used by fingerprints/jaccard."""
    return F.array_sort(F.array_distinct(word_tokens_col(col)))


def shingles_col(col: Column | str, k: int = 5) -> Column:
    """k-word shingles as space-joined strings (distinct).

    Documents shorter than k tokens yield a single whole-document shingle
    so they still participate in dedup.

    NOTE: expression-level shingling re-evaluates the tokenizer inside the
    ``transform`` lambda (HOF interiors defeat subexpression reuse) — fine
    for ad-hoc column use, but bulk operators should use the relational
    ``shingle_rows`` below, which tokenizes each document exactly once.
    """
    tokens = word_tokens_col(col)
    n = F.size(tokens)
    starts = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    shingle = lambda i: F.array_join(F.slice(tokens, i + 1, k), " ")  # noqa: E731
    return F.when(n <= k, F.array(F.array_join(tokens, " "))).otherwise(
        F.array_distinct(F.transform(starts, shingle))
    )


def shingle_sets(df, text_col: str = "text", id_col: str = "doc_id", k: int = 5):
    """(id, sh_arr) — per-document distinct shingle arrays, ZERO shuffles.

    Implemented as an Arrow-batched ``mapInPandas`` pass, NOT column
    expressions — a deliberate, measured exception to the stay-JVM-side
    rule: Spark evaluates higher-order-function lambdas (``transform``/
    ``slice``/``array_join``) on the interpreted expression path, outside
    whole-stage codegen, and the per-shingle interpretation overhead
    makes the expression form ~5-6× SLOWER than batched Python doing the
    same work (measured: 4.7s vs 0.8s for 4900 sf0.1 documents at
    k∈{5,8}). Shingles are built in O(tokens) per document by slicing a
    single space-joined string at precomputed token offsets (no O(k) join
    per shingle). Output is bit-identical to the old expression form:
    same tokenizer (lower → split ``[^a-z0-9]+`` → drop empties), short
    docs yield the whole-doc shingle, dedup keeps first-occurrence order
    (``dict.fromkeys`` = ``array_distinct`` semantics), tokenless docs
    are dropped.

    Still the scale path: one narrow pass pipelining out of the scan.
    One exception: when the input has fewer partitions than the cluster
    has slots (small local files), fan out first so per-doc work
    parallelizes — a no-op on real multi-split scans."""
    import re as _re

    import pandas as pd
    from pyspark.sql import types as T

    df = fan_out(df)

    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("sh_arr", T.ArrayType(T.StringType()), False),
        ]
    )
    pat = _re.compile(NON_ALNUM)

    def gen(batches):
        for pdf in batches:
            ids, outs = [], []
            for doc_id, txt in zip(pdf["id"], pdf["__text"]):
                if not isinstance(txt, str):
                    continue
                toks = [t for t in pat.split(txt.lower()) if t]
                if not toks:
                    continue
                if len(toks) <= k:
                    sh = [" ".join(toks)]
                else:
                    joined = " ".join(toks)
                    offs = [0]
                    for t in toks:
                        offs.append(offs[-1] + len(t) + 1)
                    sh = list(
                        dict.fromkeys(
                            joined[offs[i] : offs[i + k] - 1]
                            for i in range(len(toks) - k + 1)
                        )
                    )
                ids.append(doc_id)
                outs.append(sh)
            if ids:
                # an unguarded empty frame defaults every column to
                # float64, which Arrow cannot convert to list<string>
                yield pd.DataFrame({"id": ids, "sh_arr": outs})

    narrow = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    return narrow.mapInPandas(gen, schema=out_schema)


def shingle_rows(df, text_col: str = "text", id_col: str = "doc_id", k: int = 5):
    """(id, shingle) rows — relational shingling for bulk operators.
    Explode of :func:`shingle_sets`; still zero shuffles (narrow)."""
    return shingle_sets(df, text_col, id_col, k).select(
        "id", F.explode("sh_arr").alias("shingle")
    )
