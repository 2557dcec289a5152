"""Similarity search over embedding columns (north-star extension).

One implementation per algorithm:

- **brute_force_topk** — exact cosine top-k: broadcast the query vector(s),
  one scan, ``TakeOrderedAndProject`` top-k. The correctness baseline and
  the right plan when k·queries is small relative to the corpus.
- **lsh_topk_portable** — random-hyperplane LSH on quantized integer
  features: candidates lie within a few bits of the query's sign pattern
  (multi-probe), then an exact cosine re-rank on the candidate set. The
  100 TB path: the scan prunes to matching buckets (partition the corpus
  by signature prefix on write to turn this into partition pruning).
- **ivf_topk_portable** — IVF over the same quantized ints: fixed
  lowest-id centroids, or trained ones from
  :func:`kmeans_centroids_portable`; probe the query's nearest cells,
  exact re-rank inside them.
- **pq_topk / ivfpq_topk_portable / pq_knn_join** — product-quantized
  ADC ranking, alone or behind the IVF coarse quantizer, with an
  optional exact refine.

Planes are deterministic ±1 vectors (``dedup._plane_signs``) and every
dot product is exact int64 arithmetic, so the candidate set, the scores
and the k-cut are identical on every executor and in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ftm_columnstore_spark.functions.vectors import cosine_similarity_col


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k of ``query_vec`` against every row."""
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<float>")
    scored = df.select(
        F.col(id_col),
        F.round(cosine_similarity_col(F.col(vec_col), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def _quantize_col(vec_col: str, scale: int) -> Column:
    """``floor(x*scale + 0.5)`` int64 components — float→double widening
    and floor are exact IEEE ops, so every engine derives IDENTICAL
    integers from identical parquet floats. THE quantization contract:
    the DuckDB oracle generators in __spark_entry__ mirror this exact
    expression; change them in lockstep."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)),
    )


def _rerank_topk(
    cand: DataFrame,
    qq: list[int],
    qnorm: int,
    id_col: str,
    k: int,
) -> DataFrame:
    """Exact cosine re-rank of candidate rows (id, q, …) against the
    quantized query: int64 dot / sqrt of int64 norms (correctly-rounded
    IEEE → bit-identical cross-engine), (cos DESC, id) order, top-k."""
    qarr = F.array(*[F.lit(v).cast("long") for v in qq])
    dotq = F.aggregate(
        F.zip_with("q", qarr, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nq = F.aggregate(
        F.transform("q", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = dotq.cast("double") / F.sqrt(nq.cast("double") * F.lit(float(qnorm)))
    return (
        cand.filter(nq > 0)  # zero-norm rows: cosine undefined (NaN)
        .select(F.col("id").alias(id_col), cos.alias("__cos"))
        .orderBy(F.col("__cos").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("__cos", 6).alias("cosine"))
    )


def _quantize_query(query_vec: list[float], scale: int) -> tuple[list[int], int]:
    """Driver-side quantization of the query vector (same IEEE ops as the
    executors run); rejects zero-norm queries up front — cosine against
    them is undefined (NaN) and engines disagree on NaN comparisons."""
    import math

    qq = [math.floor(float(x) * scale + 0.5) for x in query_vec]
    qnorm = sum(a * a for a in qq)
    if qnorm == 0:
        raise ValueError("query vector has zero norm after quantization")
    return qq, qnorm


def quantized_features(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    scale: int = 1_000_000,
    dim: int | None = None,
) -> DataFrame:
    """(id, q array<long>, sig long, nq long) — engine-portable quantized
    vector features: ``floor(x*scale + 0.5)`` int64 components, ±1-plane
    integer LSH signature (bit set when dot ≥ 0), int64 squared norm.
    Exact integer arithmetic end-to-end, so any engine reproduces it
    bit-for-bit (the basis for the oracle-checked near-dup and ANN
    variants). Relational shape: narrow quantize → explode + broadcast
    plane join → two groupBy(id) aggregates.

    Pass ``dim`` when known to skip the dimension-probe job (one
    ``first()`` action otherwise); an empty input yields an empty
    result."""
    from ftm_columnstore_spark.operators.dedup import _plane_signs

    spark = df.sparkSession
    if dim is None:
        probe = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
        # empty input: any dim builds the same (empty) result with the
        # input's id dtype preserved — no special-case schema
        dim = len(probe[0]) if probe is not None else 1
    signs = _plane_signs(num_planes, dim)
    planes = spark.createDataFrame(
        [(p, d, s) for p, row in enumerate(signs) for d, s in enumerate(row)],
        "plane int, pos int, s long",
    )
    q = df.select(
        F.col(id_col).alias("id"), _quantize_col(vec_col, scale).alias("q")
    )
    ex = q.select("id", F.posexplode("q").alias("pos", "qv"))
    # products/bit terms projected before each agg — agg-input
    # expressions run interpreted inside the aggregate (see
    # operators/dedup.py minhash_signature)
    dots = (
        ex.join(F.broadcast(planes), on="pos")
        .withColumn("__x", F.col("qv") * F.col("s"))
        .groupBy("id", "plane")
        .agg(F.sum("__x").alias("dot"))
    )
    sigs = (
        dots.withColumn(
            "__bit",
            F.when(
                F.col("dot") >= 0, F.expr("shiftleft(1L, plane)")
            ).otherwise(F.lit(0)),
        )
        .groupBy("id")
        .agg(F.sum("__bit").alias("sig"))
    )
    norms = (
        ex.withColumn("__q2", F.col("qv") * F.col("qv"))
        .groupBy("id")
        .agg(F.sum("__q2").alias("nq"))
    )
    # zero-norm rows dropped: cosine against them is NaN, and engines
    # disagree on NaN comparisons (Spark: NaN fails >=; DuckDB: NaN
    # sorts above everything) — excluding them keeps oracle parity
    return (
        q.join(sigs, on="id")
        .join(norms, on="id")
        .filter(F.col("nq") > 0)
    )


def lsh_topk_portable(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 12,
    probe_bits: int = 1,
    scale: int = 1_000_000,
) -> DataFrame:
    """Multi-probe LSH top-k on the engine-portable quantized features:
    candidates are rows whose integer signature is within ``probe_bits``
    Hamming of the query's, re-ranked by cosine computed from the
    quantized ints (IEEE *, /, sqrt are correctly rounded → bit-identical
    across engines, so candidate set, scores AND the k-cut are
    oracle-checkable)."""
    from ftm_columnstore_spark.operators.dedup import _plane_signs

    dim = len(query_vec)
    signs = _plane_signs(num_planes, dim)
    qq, qnorm = _quantize_query(query_vec, scale)
    qsig = 0
    for p, row in enumerate(signs):
        if sum(a * b for a, b in zip(qq, row)) >= 0:
            qsig |= 1 << p

    feats = quantized_features(df, vec_col, id_col, num_planes, scale, dim=dim)
    cand = feats.filter(
        F.bit_count(F.col("sig").bitwiseXOR(F.lit(qsig))) <= probe_bits
    )
    return _rerank_topk(cand, qq, qnorm, id_col, k)


def auto_n_centroids_ivf(n_rows: int) -> int:
    """Default IVF coarse-quantizer sizing: ``sqrt(N)`` clamped to
    [16, 4096] (the FAISS guideline is ~4·sqrt(N)–16·sqrt(N) lists;
    plain sqrt(N) here because the exact re-rank covers
    ``n_probe/n_centroids`` of the corpus either way, while the
    centroid relation must stay driver-collect/broadcast-bounded).
    With a fixed default of 16 the per-list size — and with it probe
    cost — grew linearly with the corpus; sqrt sizing keeps both the
    list size and the centroid scan at O(sqrt(N))."""
    if n_rows < 0:
        raise ValueError(f"n_rows must be >= 0, got {n_rows}")
    return max(16, min(4096, int(round(n_rows**0.5))))


def auto_n_centroids_pairs(
    n_rows: int, target_cluster: int = 4096, cap: int = 1 << 17
) -> int:
    """Default sizing for Σ|cluster|² pair stages (SemDeDup):
    ``ceil(N / target_cluster)`` clamped to [16, cap], so the expected
    cluster size stays ~``target_cluster`` and the within-cluster pair
    join costs ~``target_cluster · N`` — linear in the corpus — instead
    of N²/16 under a fixed 16-centroid default."""
    if n_rows < 0:
        raise ValueError(f"n_rows must be >= 0, got {n_rows}")
    return max(16, min(cap, -(-n_rows // max(target_cluster, 1))))


def assign_fixed_centroids(q: DataFrame, cents, id_type) -> DataFrame:
    """Relational nearest-centroid assignment over quantized-int vectors:
    argmax of ``dot(q, c)/sqrt(|c|²)`` with (score DESC, cid) tiebreak —
    the exact-arithmetic assignment contract shared by
    :func:`ivf_topk_portable` and ``operators.dedup.semantic_dedup_portable``
    (and mirrored by their DuckDB oracles; change in lockstep).

    ``q`` is (id, q array<long>); ``cents`` is a driver-side list of
    (cid, [int components]) — bounded by the centroid count, broadcast.
    O(N·D·C) correctness-first form."""
    from pyspark.sql import Window
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    spark = q.sparkSession
    cent_comp = spark.createDataFrame(
        [(cid, p, v) for cid, vec in cents for p, v in enumerate(vec)],
        StructType(
            [
                StructField("cid", id_type),
                StructField("pos", IntegerType()),
                StructField("cv", LongType()),
            ]
        ),
    )
    cent_norm = spark.createDataFrame(
        [(cid, sum(v * v for v in vec)) for cid, vec in cents],
        StructType(
            [StructField("cid", id_type), StructField("nqc", LongType())]
        ),
    )
    ex = q.select("id", F.posexplode("q").alias("pos", "qv"))
    scores = (
        ex.join(F.broadcast(cent_comp), on="pos")
        .groupBy("id", "cid")
        .agg(F.sum(F.col("qv") * F.col("cv")).alias("dot"))
        .join(F.broadcast(cent_norm), on="cid")
        .withColumn(
            "score",
            F.col("dot").cast("double") / F.sqrt(F.col("nqc").cast("double")),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("score").desc(), F.col("cid"))
    return (
        scores.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("id", "cid")
    )


def ivf_topk_portable(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int | None = None,
    n_probe: int = 4,
    scale: int = 1_000_000,
    centroids: list | None = None,
) -> DataFrame:
    """IVF probe path on the engine-portable quantized ints, with FIXED
    centroids (the ``n_centroids`` lowest-id corpus vectors; None →
    :func:`auto_n_centroids_ivf` sizes sqrt(N) from one count job —
    pass an explicit value to skip the count or pin oracle
    determinism) instead of
    trained ones — index *training* is an offline job in any real ANN
    system, and pinning the centroids makes the entire serve path
    (assignment → probe selection → re-rank) exact integer/IEEE
    arithmetic, hence oracle-checkable. Pass ``centroids`` (a
    ``[(cid, [int components]), ...]`` list, e.g. from
    :func:`kmeans_centroids_portable`) to serve a TRAINED portable
    index with the same exactness.

    Assignment is relational (explode + broadcast centroid components +
    groupBy) — the correctness-first O(N·D·C) form."""
    import math

    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = df.sparkSession
    # id values keep their native dtype end-to-end (string ids work the
    # same as numeric ones; the empty-result schema mirrors the input)
    id_type = df.schema[id_col].dataType
    q = df.select(
        F.col(id_col).alias("id"), _quantize_col(vec_col, scale).alias("q")
    )
    if centroids is not None:
        cents = list(centroids)
    else:
        if n_centroids is None:
            n_centroids = auto_n_centroids_ivf(q.count())
        cent_rows = q.orderBy("id").limit(n_centroids).collect()
        # zero-norm centroids dropped (cosine-to-centroid undefined
        # there); selection-then-filter order is mirrored by the oracle
        cents = [
            (r["id"], [int(v) for v in r["q"]])
            for r in cent_rows
            if any(v != 0 for v in r["q"])
        ]
    if not cents:
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField(id_col, id_type),
                    StructField("cosine", DoubleType()),
                ]
            ),
        )
    assign = assign_fixed_centroids(q, cents, id_type)

    qq, qnorm = _quantize_query(query_vec, scale)
    probe_scores = sorted(
        (
            (
                -sum(a * b for a, b in zip(qq, vec))
                / math.sqrt(float(sum(v * v for v in vec))),
                cid,
            )
            for cid, vec in cents
        ),
    )[:n_probe]
    probed = [cid for _, cid in probe_scores]

    cand = q.join(assign, on="id").filter(F.col("cid").isin(probed))
    return _rerank_topk(cand, qq, qnorm, id_col, k)


def brute_force_topk_np(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy (BLAS matmul) —
    the fast path for wide vectors where per-element codegen loses to a
    single dgemv. Per-partition local top-k inside mapInPandas, then a
    global TakeOrderedAndProject over ≤ k·partitions rows."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best_ids: list = []
        best_sims: list = []
        for pdf in it:
            mat = np.vstack(pdf[vec_col].map(np.asarray)).astype(np.float64)
            sims = (mat @ q) / (np.linalg.norm(mat, axis=1) * qn)
            sims = np.round(sims, 6)
            best_ids.append(pdf[id_col].to_numpy())
            best_sims.append(sims)
        if not best_ids:
            return
        ids = np.concatenate(best_ids)
        sims = np.concatenate(best_sims)
        # local top-k (partial): ship only k rows per partition
        order = np.lexsort((ids, -sims))[:k]
        yield pd.DataFrame({id_col: ids[order], "cosine": sims[order]})

    partial = df.select(id_col, vec_col).mapInPandas(
        batches, f"{id_col} long, cosine double"
    )
    return partial.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
) -> DataFrame:
    """k nearest right-rows per left-row (exact, windowed). For bounded
    ``left`` (a query batch) broadcast it; the big side streams once."""
    from pyspark.sql import Window

    l = left.select(F.col(left_id).alias("qid"), F.col(left_vec).alias("qv"))
    r = right.select(F.col(right_id).alias("cid"), F.col(right_vec).alias("cv"))
    scored = F.broadcast(l).crossJoin(r).select(
        "qid",
        "cid",
        F.round(cosine_similarity_col(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def knn_join_np(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
) -> DataFrame:
    """Exact kNN join via Arrow/numpy — the scale path for `knn_join`'s
    pattern. The expression form pays the interpreted-HOF cosine per
    (query, candidate) pair (Q·N·d interpreted ops — see NOTES.md);
    here the bounded query side is collected into ONE (Q×d) matrix
    shipped in the UDF closure, each corpus partition scores all queries
    with a single BLAS matmul and keeps a local top-k per query, and the
    final per-query window ranks only k·partitions rows. Same output
    contract as `knn_join`: (qid, cid, cosine rounded to 6)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    qrows = left.select(F.col(left_id).alias("qid"), F.col(left_vec)).collect()
    if not qrows:
        return knn_join(left, right, k, left_vec, right_vec, left_id, right_id)
    qids = np.array([r["qid"] for r in qrows])
    qmat = np.vstack([np.asarray(r[left_vec], dtype=np.float64) for r in qrows])
    qnorm = np.linalg.norm(qmat, axis=1)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_parts, sims_parts = [], []
        for pdf in it:
            if pdf.empty:
                continue
            mat = np.vstack(pdf[right_vec].map(np.asarray)).astype(np.float64)
            # (N×d)·(d×Q) → N×Q similarity block in one matmul
            sims = (mat @ qmat.T) / np.outer(np.linalg.norm(mat, axis=1), qnorm)
            ids_parts.append(pdf[right_id].to_numpy())
            sims_parts.append(np.round(sims, 6))
        if not ids_parts:
            return
        cids = np.concatenate(ids_parts)
        sims = np.concatenate(sims_parts)  # N_partition × Q
        out_q, out_c, out_s = [], [], []
        for j in range(len(qids)):
            col = sims[:, j]
            order = np.lexsort((cids, -col))[:k]  # local top-k per query
            out_q.extend([qids[j]] * len(order))
            out_c.extend(cids[order])
            out_s.extend(col[order])
        yield pd.DataFrame({"qid": out_q, "cid": out_c, "cosine": out_s})

    from ftm_columnstore_spark.functions.text import fan_out

    partial = fan_out(right.select(right_id, right_vec)).mapInPandas(
        batches, "qid long, cid long, cosine double"
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        partial.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmeans_centroids_portable(
    df: DataFrame,
    n_centroids: int | None = None,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
) -> list:
    """ENGINE-PORTABLE k-means over the quantized-int vectors: Lloyd
    iterations where assignment uses the shared exact-arithmetic
    contract (:func:`assign_fixed_centroids` — integer dot / sqrt of
    integer norm, (score DESC, cid) tiebreak) and the update is the
    per-dimension ``floor(sum/count)`` INTEGER mean (the double
    division is IEEE-identical in any engine, so the floor is too).
    Seeds are the ``n_centroids`` lowest-id corpus vectors; a cluster
    that empties (or averages to the zero vector) keeps its previous
    centroid. Every step is deterministic and replayable in plain SQL —
    the trained-index analogue of the fixed-centroid serve path.

    Distributed train: each iteration is one assignment (O(N·D·C)
    relational form) + one (cid, dim) aggregation; only the C×D
    centroid matrix ever reaches the driver.

    Returns driver-side ``[(cid, [int components]), ...]`` for
    :func:`ivf_topk_portable`'s ``centroids`` parameter.
    """
    id_type = df.schema[id_col].dataType
    q = df.select(
        F.col(id_col).alias("id"), _quantize_col(vec_col, scale).alias("q")
    )
    if n_centroids is None:
        n_centroids = auto_n_centroids_ivf(q.count())
    seed_rows = q.orderBy("id").limit(n_centroids).collect()
    cents = [
        (r["id"], [int(v) for v in r["q"]])
        for r in seed_rows
        if any(v != 0 for v in r["q"])
    ]
    if not cents:
        return []
    for _ in range(iterations):
        assign = assign_fixed_centroids(q, cents, id_type)
        upd_rows = (
            q.join(assign, on="id")
            .select("cid", F.posexplode("q").alias("pos", "qv"))
            .groupBy("cid", "pos")
            .agg(
                F.floor(
                    F.sum("qv").cast("double")
                    / F.count(F.lit(1)).cast("double")
                )
                .cast("long")
                .alias("cv")
            )
            .collect()
        )
        by_cid: dict = {}
        for r in upd_rows:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = int(r["cv"])
        new_cents = []
        for cid, old in cents:
            comp = by_cid.get(cid)
            if comp:
                vec = [comp.get(p, 0) for p in range(len(old))]
                if any(v != 0 for v in vec):
                    new_cents.append((cid, vec))
                    continue
            new_cents.append((cid, old))  # empty/zero cluster: keep
        cents = new_cents
    return cents


# --- product quantization (PQ) -----------------------------------------------


def _check_pq_params(dim: int, m: int, n_codes: int) -> int:
    if m < 1 or dim % m != 0:
        raise ValueError(
            f"m must divide the vector dimension, got m={m} for dim={dim}"
        )
    if n_codes < 1:
        raise ValueError(f"n_codes must be >= 1, got {n_codes}")
    return dim // m


def pq_codebooks_fixed(
    df: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
) -> list:
    """FIXED per-subspace PQ codebooks from the ``n_codes`` lowest-id
    corpus vectors (the same pin-the-training trick as
    :func:`ivf_topk_portable`: codebook *training* is an offline k-means
    job in any real PQ deployment — freezing it makes the whole
    encode/serve path exact integer arithmetic, hence oracle-checkable).
    Returns ``codebooks[s] = [(code, [int components]), ...]`` over the
    quantized int64 subvectors; bounded driver state
    (``m · n_codes · dim/m`` ints), never corpus-sized."""
    dsub = _check_pq_params(dim, m, n_codes)
    rows = (
        df.select(
            F.col(id_col).alias("id"),
            _quantize_col(vec_col, scale).alias("q"),
        )
        .orderBy("id")
        .limit(n_codes)
        .collect()
    )
    return [
        [
            (c, [int(v) for v in r["q"][s * dsub : (s + 1) * dsub]])
            for c, r in enumerate(rows)
        ]
        for s in range(m)
    ]


def _sql_long_array(vals: list) -> str:
    """SQL text for a bigint array literal."""
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def _pq_code_sql(sub: int, dsub: int, codebook: list, qcol: str) -> str:
    """SQL text of the argmin-L2 code for subspace ``sub`` of the
    quantized vector column: per-code squared distance via array HOFs
    over literal codebook components, argmin with (dist, code) tiebreak
    via ``array_sort`` on (d, c) structs — whole-stage-codegen
    expressions only, no join, no shuffle, no Python.

    Built as ONE SQL string instead of nested pyspark Column calls:
    constructing the same tree through the functions API costs
    thousands of py4j round trips (~6-8s of pure driver time for an
    m=8 × 16-code book — measured; the parse of the equivalent string
    is milliseconds). Semantics are identical."""
    start = sub * dsub + 1  # slice() is 1-based
    subv = f"slice({qcol},{start},{dsub})"
    entries = []
    for code, cvec in codebook:
        d = (
            f"aggregate(zip_with({subv},{_sql_long_array(cvec)},"
            f"(a,b)->(a-b)*(a-b)),0L,(acc,x)->acc+x)"
        )
        entries.append(f"named_struct('d',{d},'c',{int(code)})")
    return f"array_sort(array({','.join(entries)}))[0].c"


def _pq_codes_col(codebooks: list, qcol: str = "q"):
    """codes array column over the quantized vector column ``q`` —
    parsed from one generated SQL string (see :func:`_pq_code_sql`)."""
    dsub = len(codebooks[0][0][1])
    parts = ",".join(
        _pq_code_sql(s, dsub, cb, qcol) for s, cb in enumerate(codebooks)
    )
    return F.expr(f"array({parts})")


def pq_codebooks_trained(
    df: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
) -> list:
    """TRAINED per-subspace PQ codebooks: exact-integer Lloyd over the
    quantized subvectors (the PQ analogue of
    :func:`kmeans_centroids_portable`, same arithmetic contract —
    assignment by integer squared-L2 with (dist, code) tiebreak, update
    by per-dimension ``floor(sum/count)`` integer mean, empty codes
    keep their previous entry). Seeded from
    :func:`pq_codebooks_fixed`. Every step is deterministic and
    replayable in plain SQL, so the trained serve path stays
    oracle-checkable end-to-end.

    Distributed shape per iteration: ONE encode pass (codegen argmin
    for small codebooks, broadcast codebook join for large ones — see
    :func:`pq_encode`) + one (subspace, code, dim) aggregation whose
    result is the ``m·n_codes·dim/m`` codebook — bounded driver state;
    the corpus never leaves the executors."""
    dsub = _check_pq_params(dim, m, n_codes)
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    cbs = pq_codebooks_fixed(df, dim, m, n_codes, vec_col, id_col, scale)
    if not cbs or not cbs[0]:
        return cbs
    use_join = n_codes > _PQ_EXPR_MAX_CODES
    q = df.select(
        F.col(id_col).alias("id"), _quantize_col(vec_col, scale).alias("q")
    ).where(F.size("q") == dim)
    for _ in range(iterations):
        if use_join:
            assigned = _pq_assign_join(q, cbs, keep_subv=True)
            exploded = assigned.select(
                "s", "code", F.posexplode("subv").alias("posl", "qv")
            )
        else:
            enc = q.select("q", _pq_codes_col(cbs).alias("codes"))
            sub = (F.col("pos") / dsub).cast("int")
            exploded = enc.select(
                F.posexplode("q").alias("pos", "qv"), "codes"
            ).select(
                sub.alias("s"),
                (F.col("pos") % dsub).alias("posl"),
                F.element_at("codes", sub + 1).alias("code"),
                "qv",
            )
        upd_rows = (
            exploded.groupBy("s", "code", "posl")
            .agg(
                F.floor(
                    F.sum("qv").cast("double")
                    / F.count(F.lit(1)).cast("double")
                )
                .cast("long")
                .alias("cv")
            )
            .collect()
        )
        by_key: dict = {}
        for r in upd_rows:
            by_key.setdefault((r["s"], r["code"]), {})[r["posl"]] = int(
                r["cv"]
            )
        cbs = [
            [
                (
                    code,
                    [by_key[(s, code)].get(p, 0) for p in range(dsub)]
                    if (s, code) in by_key
                    else old,
                )
                for code, old in cb
            ]
            for s, cb in enumerate(cbs)
        ]
    return cbs


# Above this many codes per subspace the literal argmin expression
# (n_codes structs × a dsub-length fold EACH, per subspace) makes
# Catalyst analysis/codegen super-linear — measured: n_codes=64, m=8
# on 64-dim vectors never finished planning where 16 codes takes
# seconds. The join path below is the scale plan for big codebooks.
_PQ_EXPR_MAX_CODES = 32


def _pq_assign_join(
    q: DataFrame, codebooks: list, keep_subv: bool = False
) -> DataFrame:
    """Per-(vector, subspace) nearest-code assignment via a BROADCAST
    join against the codebook relation — the scale path for large
    codebooks (e.g. the standard 256 codes/subspace), where the
    literal-expression argmin would blow up codegen. Explodes each
    row into its ``m`` subvectors (narrow, map-side), broadcast-joins
    the tiny (s, code, cvec) relation, and takes the per-(id, s)
    ``min(struct(d, code))`` — same (dist, code) tiebreak as the
    expression path, one partial-aggregatable shuffle on (id, s).
    Returns (id, s, code); with ``keep_subv`` also the subvector
    (carried inside the min struct — (d, code) is already unique per
    group, so the comparison never reaches it)."""
    spark = q.sparkSession
    dsub = len(codebooks[0][0][1])
    cb_df = spark.createDataFrame(
        [
            (s, code, [int(v) for v in cvec])
            for s, cb in enumerate(codebooks)
            for code, cvec in cb
        ],
        "s int, code int, cvec array<bigint>",
    )
    subs = q.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("q", s * dsub + 1, dsub).alias("subv"),
                    )
                    for s in range(len(codebooks))
                ]
            )
        ).alias("e"),
    ).select("id", F.col("e.s").alias("s"), F.col("e.subv").alias("subv"))
    d = F.aggregate(
        F.zip_with("subv", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    fields = [d.alias("d"), F.col("code").alias("c")]
    if keep_subv:
        fields.append(F.col("subv").alias("subv"))
    best = (
        subs.join(F.broadcast(cb_df), on="s")
        .select("id", "s", F.struct(*fields).alias("dc"))
        .groupBy("id", "s")
        .agg(F.min("dc").alias("dc"))
    )
    cols = ["id", "s", F.col("dc.c").alias("code")]
    if keep_subv:
        cols.append(F.col("dc.subv").alias("subv"))
    return best.select(*cols)


def pq_encode(
    df: DataFrame,
    codebooks: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
    method: str = "auto",
) -> DataFrame:
    """Corpus → PQ codes ``(id, codes array<int>)``: each vector is
    quantized to int64, split into ``m = len(codebooks)`` subvectors,
    and each subvector mapped to its nearest codebook entry by EXACT
    integer squared-L2 (ties → lowest code). The encoded relation is
    ``m`` ints per row regardless of the input dimension, which is the
    whole point of PQ at 100 TB: a 64-dim float corpus compresses 32×
    and the serve scan reads only the code column.

    ``method``: ``"expr"`` — one narrow map-only codegen scan, zero
    shuffles; right for small codebooks. ``"join"`` — broadcast join
    against the codebook relation + per-(id, s) min aggregation; right
    for big codebooks (256 codes/subspace) where the literal argmin
    expression makes Catalyst super-linear. ``"auto"`` picks by
    ``n_codes``. Both produce byte-identical codes (same integer
    arithmetic, same tiebreak) — tested against each other."""
    m = len(codebooks)
    dsub = len(codebooks[0][0][1])
    n_codes = len(codebooks[0])
    from ftm_columnstore_spark.functions.text import fan_out

    if method == "auto":
        method = "expr" if n_codes <= _PQ_EXPR_MAX_CODES else "join"
    if method not in ("expr", "join"):
        raise ValueError(f"unknown pq_encode method: {method!r}")
    # fan_out (r08): the per-row encode argmin is interpreted-HOF-heavy
    # and ran single-task on a single-split local input (measured 1.4s
    # at sf0.1); no-op on real multi-split scans, so the zero-shuffle
    # serve contract is unchanged where it matters.
    q = fan_out(df).select(
        F.col(id_col).alias("id"), _quantize_col(vec_col, scale).alias("q")
    ).where(F.size("q") == dsub * m)
    if method == "expr":
        return q.select("id", _pq_codes_col(codebooks).alias("codes"))
    assigned = _pq_assign_join(q, codebooks)
    return assigned.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "code"))),
            lambda x: x["code"],
        ).alias("codes")
    )


def pq_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
    codebooks: list | None = None,
    refine: int | None = None,
    train_iterations: int = 0,
) -> DataFrame:
    """PQ top-k via asymmetric distance computation (ADC — Jégou,
    Douze & Schmid, "Product Quantization for Nearest Neighbor Search",
    TPAMI 2011): the query's squared-L2 distance to every codebook
    entry is a tiny driver-side table (``m · n_codes`` int64s), and a
    row's approximate distance is the sum of ``m`` table lookups on its
    codes — one codegen scan over the code column plus a
    ``TakeOrderedAndProject`` top-k; zero shuffles, zero Python.

    ``refine`` re-ranks the top-``refine`` ADC candidates by exact
    integer squared-L2 against the original vectors (the standard
    two-stage PQ serve path); both stages use (dist ASC, id) ordering so
    the result is deterministic and engine-portable end-to-end. Output:
    (id, adist) — approximate distance, or exact distance when refined.

    Quality note (measured on the testdata embeddings, where neighbour
    distances concentrate within ~5-9% of each other): 32-bit codes
    (m=8, 16 codes) rank poorly on their own — raw-ADC recall@10 ≈
    1-3/10 — and ``refine`` is the knob that restores it (7/10 at
    refine=100/500; scale ``refine`` with corpus size). m=16 doubles
    the code budget to 64 bits and lifts raw ADC to ~5/10. Books with
    >{_PQ_EXPR_MAX_CODES} codes/subspace automatically switch encode
    and training to the broadcast-join path (:func:`pq_encode`
    ``method="join"``) — the literal argmin expression is a measured
    Catalyst cliff at 64 codes."""
    dim = len(query_vec)
    dsub = _check_pq_params(dim, m, n_codes)
    if refine is not None and refine < k:
        raise ValueError(f"refine must be >= k, got refine={refine}, k={k}")
    if codebooks is None:
        if train_iterations > 0:
            codebooks = pq_codebooks_trained(
                df, dim, m, n_codes, train_iterations, vec_col, id_col, scale
            )
        else:
            codebooks = pq_codebooks_fixed(
                df, dim, m, n_codes, vec_col, id_col, scale
            )
    qq, _ = _quantize_query(query_vec, scale)
    codes = pq_encode(df, codebooks, vec_col, id_col, scale)
    qrel = df.select(
        F.col(id_col).alias("id"), _quantize_col(vec_col, scale).alias("q")
    )
    return _pq_serve(codes, qrel, qq, codebooks, dsub, k, refine, id_col)


def _pq_adc_col(qq: list[int], codebooks: list, dsub: int):
    """ADC distance column over a ``codes`` array: the query's squared-L2
    to every codebook entry is a tiny driver-side table (``m · n_codes``
    int64s, exact python math), and the row distance is the sum of ``m``
    literal-array lookups — pure codegen, no join, no shuffle. One
    generated SQL string (py4j round-trip economy, see
    :func:`_pq_code_sql`)."""
    terms = []
    for s, cb in enumerate(codebooks):
        col_dists = [
            sum(
                (a - b) * (a - b)
                for a, b in zip(qq[s * dsub : (s + 1) * dsub], cvec)
            )
            for _, cvec in sorted(cb)
        ]
        terms.append(
            f"element_at({_sql_long_array(col_dists)},"
            f"element_at(codes,{s + 1})+1)"
        )
    return F.expr("+".join(terms))


def _pq_serve(
    codes: DataFrame,
    qrel: DataFrame,
    qq: list[int],
    codebooks: list,
    dsub: int,
    k: int,
    refine: int | None,
    id_col: str,
) -> DataFrame:
    """Shared PQ serve tail: ADC rank over ``codes`` (id, codes), then
    optionally re-rank the top-``refine`` candidates by exact integer
    squared-L2 against ``qrel`` (id, q) — the candidate set is bounded,
    so the join back to the vectors broadcasts."""
    ranked = (
        codes.select("id", _pq_adc_col(qq, codebooks, dsub).alias("adist"))
        .orderBy(F.col("adist").asc(), F.col("id"))
        .limit(refine if refine is not None else k)
    )
    if refine is None:
        return ranked.select(F.col("id").alias(id_col), "adist")
    qarr = F.array(*[F.lit(v).cast("long") for v in qq])
    qrows = qrel.join(F.broadcast(ranked.select("id")), on="id")
    exact = F.aggregate(
        F.zip_with("q", qarr, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        qrows.select("id", exact.alias("adist"))
        .orderBy(F.col("adist").asc(), F.col("id"))
        .limit(k)
        .select(F.col("id").alias(id_col), "adist")
    )


def _argmin_l2_centroid(cents: list, col: str = "q"):
    """Nearest-centroid-by-integer-L2 column over a quantized vector
    column: argmin with (dist, cid) tiebreak via ``array_sort`` on
    (d, cid) structs — literal codegen expressions, zero shuffles (the
    IVF-PQ analogue of :func:`_pq_code_sql`; same n_centroids·dim
    expression-size caveat, use bounded centroid counts). One generated
    SQL string (py4j round-trip economy)."""
    entries = []
    for cid, cvec in cents:
        d = (
            f"aggregate(zip_with({col},{_sql_long_array(cvec)},"
            f"(a,b)->(a-b)*(a-b)),0L,(acc,x)->acc+x)"
        )
        entries.append(f"named_struct('d',{d},'c',{int(cid)})")
    return F.expr(f"array_sort(array({','.join(entries)}))[0].c")


def ivfpq_topk_portable(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
    centroids: list | None = None,
    codebooks: list | None = None,
    refine: int | None = None,
    train_iterations: int = 0,
) -> DataFrame:
    """IVF-PQ top-k — the composition every production ANN system serves
    at scale (FAISS ``IVFx,PQy``; Jégou+ TPAMI'11 §V): a coarse
    quantizer routes the query to ``n_probe`` of ``n_centroids`` cells,
    and only rows in the probed cells are ranked — by PQ ADC over their
    ``m``-int codes, then exact integer-L2 ``refine``.

    Everything is integer arithmetic on the quantized vectors
    (assignment and probe selection by squared-L2 with (dist, cid)
    tiebreak; fixed lowest-id centroids/codebooks unless trained ones
    are passed), so the full route→rank→refine path replays in plain
    SQL — oracle-checked end-to-end as v13.

    Plan shape: ONE codegen scan (centroid argmin + cell filter + PQ
    encode + ADC sum are all literal expressions) into a
    ``TakeOrderedAndProject`` — zero shuffles before the top-k; the
    refine join broadcasts the bounded candidate set."""
    dim = len(query_vec)
    dsub = _check_pq_params(dim, m, n_codes)
    if n_centroids < 1:
        raise ValueError(f"n_centroids must be >= 1, got {n_centroids}")
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    if refine is not None and refine < k:
        raise ValueError(f"refine must be >= k, got refine={refine}, k={k}")
    from ftm_columnstore_spark.functions.text import fan_out

    # fan_out (r08): centroid argmin + ADC are interpreted-HOF-heavy and
    # ran single-task on a single-split local input; no-op on real
    # multi-split scans, so the zero-shuffle serve contract holds.
    q = fan_out(df).select(
        F.col(id_col).alias("id"), _quantize_col(vec_col, scale).alias("q")
    ).where(F.size("q") == dim)
    if centroids is None:
        rows = q.orderBy("id").limit(n_centroids).collect()
        centroids = [
            (cid, [int(v) for v in r["q"]]) for cid, r in enumerate(rows)
        ]
    if codebooks is None:
        if train_iterations > 0:
            codebooks = pq_codebooks_trained(
                df, dim, m, n_codes, train_iterations, vec_col, id_col, scale
            )
        else:
            codebooks = pq_codebooks_fixed(
                df, dim, m, n_codes, vec_col, id_col, scale
            )
    qq, _ = _quantize_query(query_vec, scale)
    probed = [
        cid
        for _, cid in sorted(
            (sum((a - b) * (a - b) for a, b in zip(qq, cvec)), cid)
            for cid, cvec in centroids
        )[:n_probe]
    ]
    cand = q.withColumn("cid", _argmin_l2_centroid(centroids)).filter(
        F.col("cid").isin(probed)
    )
    codes = cand.select("id", _pq_codes_col(codebooks).alias("codes"))
    return _pq_serve(
        codes, cand.select("id", "q"), qq, codebooks, dsub, k, refine, id_col
    )


def pq_knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    scale: int = 1_000_000,
    codebooks: list | None = None,
    refine: int | None = None,
) -> DataFrame:
    """PQ-accelerated kNN join: k nearest right-rows per left-row by
    ADC over the corpus' ``m``-int codes — the multi-query serve path.
    Same bounded-left contract as :func:`knn_join_np` (the query batch
    is collected driver-side); per query the corpus pays ``m`` table
    lookups instead of a ``dim``-length fold, a ``dim/m``× work cut
    (8× at the defaults), and in a materialized code layout the scan
    reads only the code column.

    Plan: ONE codegen scan emitting every (query, row) ADC distance
    (literal lookup tables — no join against the query side at all),
    then a per-query top-k window that Spark executes as
    WindowGroupLimit (map-side partial top-k before the one shuffle).
    ``refine`` re-ranks the bounded Q·refine candidate set by exact
    integer squared-L2 via broadcast joins. Output:
    (qid, cid, adist) — approximate distance, exact when refined;
    (adist ASC, cid) deterministic order within each query."""
    import math

    from pyspark.sql import Window
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    if refine is not None and refine < k:
        raise ValueError(f"refine must be >= k, got refine={refine}, k={k}")
    qid_type = left.schema[left_id].dataType
    qrows = left.select(
        F.col(left_id).alias("qid"), F.col(left_vec).alias("qv")
    ).collect()
    spark = left.sparkSession
    if not qrows:
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("qid", qid_type),
                    StructField("cid", right.schema[right_id].dataType),
                    StructField("adist", LongType()),
                ]
            ),
        )
    dim = len(qrows[0]["qv"])
    dsub = _check_pq_params(dim, m, n_codes)
    if any(len(r["qv"]) != dim for r in qrows):
        raise ValueError("query vectors must share one dimension")
    if codebooks is None:
        codebooks = pq_codebooks_fixed(
            right, dim, m, n_codes, right_vec, right_id, scale
        )
    qqs = [
        (
            r["qid"],
            [math.floor(float(x) * scale + 0.5) for x in r["qv"]],
        )
        for r in qrows
    ]
    codes = pq_encode(right, codebooks, right_vec, right_id, scale)
    # literal qids keep the left id dtype (a bare python-int literal
    # would downgrade bigint ids to int32)
    entries = [
        F.struct(
            F.lit(qid).cast(qid_type).alias("qid"),
            _pq_adc_col(qq, codebooks, dsub).alias("adist"),
        )
        for qid, qq in qqs
    ]
    stacked = codes.select(
        F.col("id").alias("cid"), F.explode(F.array(*entries)).alias("e")
    ).select(F.col("e.qid").alias("qid"), "cid", F.col("e.adist").alias("adist"))
    w = Window.partitionBy("qid").orderBy(F.col("adist").asc(), F.col("cid"))
    ranked = (
        stacked.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= (refine if refine is not None else k))
        .drop("__rn")
    )
    if refine is None:
        return ranked
    qdf = spark.createDataFrame(
        [(qid, qq) for qid, qq in qqs],
        StructType(
            [
                StructField("qid", qid_type),
                StructField("qarr", ArrayType(LongType())),
            ]
        ),
    )
    qrel = right.select(
        F.col(right_id).alias("cid"),
        _quantize_col(right_vec, scale).alias("q"),
    ).join(F.broadcast(ranked.select("qid", "cid")), on="cid")
    exact = F.aggregate(
        F.zip_with("q", "qarr", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        qrel.join(F.broadcast(qdf), on="qid")
        .select("qid", "cid", exact.alias("adist"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def mmr_rerank(
    candidates: DataFrame,
    query_vec: list[float],
    k: int = 10,
    lam: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein,
    SIGIR'98) of a BOUNDED candidate set — the diversity stage of a
    RAG retrieval chain (chunk → ANN top-N → MMR top-k): greedily pick
    the candidate maximizing

        lam · cos(query, c) − (1 − lam) · max_{s ∈ selected} cos(c, s)

    This is inherently sequential-greedy (each pick depends on all
    prior picks), so it runs DRIVER-SIDE over the collected candidates
    — correct only because the input is the bounded top-N of an ANN
    stage, never a corpus. Cosines are rounded to 6 decimals before
    comparison and ties break on lowest id, so the selection is
    deterministic and engine-independent. Returns
    [(id, relevance, mmr_score), ...] in selection order."""
    import math

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    rows = candidates.select(F.col(id_col), F.col(vec_col)).collect()
    if not rows:
        return []

    def cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(dot / (na * nb), 6) if na and nb else 0.0

    q = [float(x) for x in query_vec]
    cand = {r[id_col]: [float(x) for x in r[vec_col]] for r in rows}
    rel = {i: cos(v, q) for i, v in cand.items()}
    selected: list = []
    sel_vecs: list = []
    while cand and len(selected) < k:
        best_score, best_id = None, None
        for i, v in sorted(cand.items()):
            diversity = max((cos(v, s) for s in sel_vecs), default=0.0)
            score = round(lam * rel[i] - (1.0 - lam) * diversity, 6)
            if best_score is None or score > best_score:
                best_score, best_id = score, i
        sel_vecs.append(cand.pop(best_id))
        selected.append((best_id, rel[best_id], best_score))
    return selected


def truncated_recall(
    embeddings: DataFrame,
    query_ids: list,
    dims: int,
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Dimension-truncation quality report: recall@k of exact cosine
    top-k computed on the FIRST ``dims`` components against the
    full-dimension exact top-k — the measurement behind "can we store
    16 of 64 dims" embedding-compression decisions (the Matryoshka
    question), sibling of v10's index-recall report (which evaluates a
    probe path; this evaluates the representation itself).

    Both sides reuse :func:`knn_join` (bounded query batch broadcast,
    corpus streamed once per side; truncation is a zero-copy
    ``slice``), so both rankings carry the same determinism contract
    (cosine rounded 6 dp, ties by candidate id). Queries are excluded
    from their own candidate lists. Output: (qid, k, n_hits, recall)
    per query — recall = |topk_trunc ∩ topk_full| / k."""
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not query_ids:
        raise ValueError("query_ids must be non-empty")
    q = embeddings.where(F.col(id_col).isin(list(query_ids)))
    c = embeddings.where(~F.col(id_col).isin(list(query_ids)))
    full = knn_join(q, c, k=k, left_vec=vec_col, right_vec=vec_col,
                    left_id=id_col, right_id=id_col)
    qt = q.select(
        F.col(id_col).alias(id_col),
        F.slice(F.col(vec_col), 1, dims).alias(vec_col),
    )
    ct = c.select(
        F.col(id_col).alias(id_col),
        F.slice(F.col(vec_col), 1, dims).alias(vec_col),
    )
    trunc = knn_join(qt, ct, k=k, left_vec=vec_col, right_vec=vec_col,
                     left_id=id_col, right_id=id_col)
    hits = (
        full.select("qid", "cid")
        .join(trunc.select("qid", "cid"), on=["qid", "cid"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # left join from the query list keeps zero-hit queries visible
    qs = full.select("qid").distinct()
    return (
        qs.join(hits, on="qid", how="left")
        .select(
            "qid",
            F.lit(int(k)).cast("long").alias("k"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / float(k), 6
            ).alias("recall"),
        )
    )
