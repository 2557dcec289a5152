"""Deduplication operators for large-scale document corpora (north-star
extension; grades alongside SURVEY §2). Four families:

- **exact**: hash-groupBy on content digest — one shuffle on the digest;
- **MinHash + LSH**: shingle → minhash signature → band-bucket join —
  near-dup candidates without the O(n²) cross join; the only shuffles are
  on (band, bucket-hash) keys;
- **SimHash**: 64-bit token-vote hash from an md5 token hash; near-dups
  share bands of bits;
- **n-gram Jaccard**: exact Jaccard on shingle sets for candidate pairs
  (inverted-index self-join, prefix-filtered).

Hot paths are codegen'd column expressions and JVM-side joins and
aggregates, with every value reproducible in plain SQL (the DuckDB
oracle). At 100 TB the pattern per family is scan → narrow derive → one
keyed shuffle → grouped reduce.

Background (public literature): banded MinHash-LSH per Broder'97 /
Leskovec-Rajaraman-Ullman (MMDS ch.3); SimHash per Charikar'02 as used in
Manku et al., WWW'07 near-dup detection; prefix filtering for set-
similarity joins per Chaudhuri et al. ICDE'06 / PPJoin (Xiao et al.,
WWW'08).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ftm_columnstore_spark.functions.text import shingles_col
from ftm_columnstore_spark.lifecycle import persist, persisting


# --- exact -------------------------------------------------------------------

def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical texts: (content digest, representative id,
    group size). Representative = min id (deterministic)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per identical text (min id wins)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --- MinHash + LSH -----------------------------------------------------------

# Portable permutation family: h(shingle) = 60-bit int from the md5 hex
# prefix (both Spark `conv(substr(md5(x),1,15),16,10)` and DuckDB
# `('0x'||substr(md5(x),1,15))::BIGINT` compute it bit-identically), then
# h_i = (a_i*hi + b_i*lo + c_i) mod (2^31-1) where hi/lo split h at 2^30.
# Every product stays < 2^61, so the whole family is exact int64
# arithmetic in ANY engine — the property that makes MinHash output
# oracle-checkable instead of rows-only.
_MERSENNE31 = (1 << 31) - 1
_SPLIT = 1 << 30


def _perm_constants(num_hashes: int, seed: int = 0x5EED) -> list[tuple[int, int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (
            rng.randrange(1, _MERSENNE31),
            rng.randrange(1, _MERSENNE31),
            rng.randrange(0, _MERSENNE31),
        )
        for _ in range(num_hashes)
    ]


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 5,
    hash_family: str = "portable",
) -> DataFrame:
    """(id, signature array<bigint>) — min over per-permutation hashes of the
    shingle set.

    Deliberately *relational*, not nested higher-order lambdas: shingle
    rows → hash each string ONCE → groupBy(id) with ``num_hashes`` cheap
    long-hash min-aggregates. Nested HOF lambdas defeat both codegen and
    common-subexpression elimination (the shingle expression would be
    re-evaluated per seed per join side — measured 100× slower); the
    grouped form is one codegen'd partial+final aggregation whose only
    shuffle key is the doc id.

    ``hash_family="portable"`` (default) uses the md5-based engine-portable
    permutation family above, so results are reproducible outside Spark
    (DuckDB oracle, offline audits). ``"fast"`` uses xxhash64 mixing —
    same candidate-pair geometry, marginally cheaper per shingle."""
    from ftm_columnstore_spark.functions.text import shingle_rows

    if hash_family not in ("portable", "fast"):
        raise ValueError(
            f"hash_family must be 'portable' or 'fast', got {hash_family!r}"
        )
    shingled = shingle_rows(df, text_col, id_col, shingle_k)
    # per-permutation hashes are PROJECTED before the aggregation and
    # min() runs over plain columns: agg-input expressions evaluate on
    # the interpreted path inside the aggregate, measured 4× slower
    # than the projected form at 50k docs (same finding as the LM
    # scoring avg — see operators/text.py bigram_lm_scores)
    if hash_family == "fast":
        hashed = shingled.select("id", F.xxhash64("shingle").alias("__h"))
        hashed = hashed.select(
            "id",
            *[
                F.xxhash64("__h", F.lit(i)).alias(f"__p{i}")
                for i in range(num_hashes)
            ],
        )
    else:
        h = F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
        hashed = shingled.select(
            "id",
            F.shiftrightunsigned(h, 30).alias("__hi"),
            (h % F.lit(_SPLIT)).alias("__lo"),
        )
        hashed = hashed.select(
            "id",
            *[
                (
                    (
                        F.lit(a) * F.col("__hi")
                        + F.lit(b) * F.col("__lo")
                        + F.lit(c)
                    )
                    % F.lit(_MERSENNE31)
                ).alias(f"__p{i}")
                for i, (a, b, c) in enumerate(_perm_constants(num_hashes))
            ],
        )
    aggs = [
        F.min(f"__p{i}").alias(f"__m{i}") for i in range(num_hashes)
    ]
    return (
        hashed.groupBy("id")
        .agg(*aggs)
        .select(
            "id",
            F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias(
                "signature"
            ),
        )
    )


def _band_relation(signatures: DataFrame, num_bands: int) -> DataFrame:
    """(id, signature, band, bucket) — LSH banding of minhash signatures.

    Band structs via a Python loop over the (small, fixed) band count,
    NOT transform()-over-sequence(): lambda HOFs run on Spark's
    interpreted expression path, while this unrolled form is plain
    slice/cast/hash — whole-stage codegen. Bucket key = the band's
    values spelled out (not a hash of them): same shuffle-key cost
    class, but bucket equality is then EXACTLY set equality — no
    cross-band hash collisions, and the candidate set is reproducible
    in any engine (oracle parity)."""
    n = F.size("signature")
    rows_per_band = (n / num_bands).cast("int")
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    F.slice(
                        "signature",
                        (F.lit(b) * rows_per_band + 1).cast("int"),
                        rows_per_band,
                    ).cast("array<string>"),
                ).alias("bucket"),
            )
            for b in range(num_bands)
        ]
    )
    return signatures.select(
        "id", "signature", F.explode(band_structs).alias("bb")
    ).select("id", "signature", "bb.band", "bb.bucket")


@persisting
def minhash_lsh_pairs(
    signatures: DataFrame,
    num_bands: int = 16,
    min_jaccard_est: float = 0.0,
) -> DataFrame:
    """Candidate near-dup pairs from banded LSH: docs sharing ≥1 band bucket.
    Output: (left_id, right_id, jaccard_est) with left < right.

    jaccard_est = fraction of agreeing signature positions (unbiased MinHash
    estimator). The band join shuffles on (band, band-hash); bucket skew
    (boilerplate shingles) is handled by AQE skew-join splitting.

    Scale shape: only (id, band, bucket) rides the self-join and the
    pair distinct — 16-byte pair rows. The signatures (num_hashes longs
    each) join back AFTER the distinct, so a duplicate-heavy corpus —
    clusters of c near-copies emit O(c² · bands) raw band matches —
    shuffles narrow rows where a signature-carrying join would move
    ~60× the bytes through the dedup aggregate (measured: the wide form
    OOMed a 500k-doc soak whose clusters had c≈100; this form runs it).
    """
    # persist + EAGER materialize: the self-join reads the banded
    # relation twice and the signature join-back twice more. persist()
    # alone is lazy — all four consumers are separate stages of ONE job,
    # so they race to compute the uncached signature lineage
    # concurrently (measured 4-5x wall blowup at sf0.1); one count()
    # populates the cache once before the fan-out.
    banded = persist(_band_relation(signatures, num_bands))
    banded.count()

    slim = banded.select("id", "band", "bucket")
    cand = (
        slim.alias("l")
        .join(
            slim.alias("r"),
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bucket") == F.col("r.bucket"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(
            F.col("l.id").alias("left_id"),
            F.col("r.id").alias("right_id"),
        )
        .distinct()
    )
    # one row per id, read from the persisted banded relation (band 0
    # always exists) — no recompute, no extra aggregation
    sigs = banded.where(F.col("band") == 0).select("id", "signature")
    pairs = cand.join(
        sigs.select(
            F.col("id").alias("left_id"), F.col("signature").alias("ls")
        ),
        on="left_id",
    ).join(
        sigs.select(
            F.col("id").alias("right_id"), F.col("signature").alias("rs")
        ),
        on="right_id",
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("ls", "rs", lambda a, b: a == b),
                lambda x: x,
            )
        )
        / F.size("ls")
    )
    out = pairs.select(
        "left_id", "right_id", F.round(est, 6).alias("jaccard_est")
    )
    if min_jaccard_est > 0:
        out = out.filter(F.col("jaccard_est") >= min_jaccard_est)
    return out


@persisting
def minhash_lsh_pairs_cross(
    new_signatures: DataFrame,
    corpus_signatures: DataFrame,
    num_bands: int = 16,
    min_jaccard_est: float = 0.0,
) -> DataFrame:
    """Incremental / cross-corpus near-dedup: candidate pairs between a
    NEW batch and an EXISTING corpus (docs sharing ≥1 LSH band bucket) —
    the "dedup today's crawl against the training set" pass. Produces NO
    new-vs-new or corpus-vs-corpus pairs (use :func:`minhash_lsh_pairs`
    for within-set dedup). Output: (new_id, corpus_id, jaccard_est).

    Scale shape: each side bands once; the join shuffles on
    (band, bucket) only. The corpus side's banded relation is exactly
    what a persisted dedup index stores — feed previously-computed
    signatures to skip recomputing the corpus at every batch."""
    # eager materialize before the fan-out (see minhash_lsh_pairs).
    # The two sides are INDEPENDENT jobs — submit them from a small
    # thread pool so the second side's tasks back-fill the first's
    # stage tails (guide §2.6) instead of serializing two sub-second
    # tails; measured r08 on d12: build phase ~0.5s faster at sf0.1,
    # and the win grows with per-side skew at scale.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    nb = persist(_band_relation(new_signatures, num_bands))
    cb = persist(_band_relation(corpus_signatures, num_bands))
    # inheritable_thread_target copies the caller's JVM thread-local
    # properties (job description/group — the bench and probe labels)
    # into the pool threads, the documented semantics for driver-side
    # concurrency (ADVICE r8)
    with ThreadPoolExecutor(max_workers=2) as pool:
        list(
            pool.map(
                inheritable_thread_target(lambda df: df.count()),
                (nb, cb),
            )
        )
    return cross_pairs_from_banded(nb, cb, min_jaccard_est)


def cross_pairs_from_banded(
    new_banded: DataFrame,
    corpus_banded: DataFrame,
    min_jaccard_est: float = 0.0,
) -> DataFrame:
    """Pair stage of :func:`minhash_lsh_pairs_cross` over PRE-BANDED
    relations (from :func:`_band_relation`) — the entry point for callers
    that band the corpus once and reuse it (the near-dup stage of
    ``streaming/clean.py``, once per micro-batch).

    Same narrow-pairing shape as :func:`minhash_lsh_pairs`: ids-only
    band join and distinct, signatures joined back afterwards."""
    slim_l = new_banded.select("id", "band", "bucket")
    slim_r = corpus_banded.select("id", "band", "bucket")
    cand = (
        slim_l.alias("l")
        .join(
            slim_r.alias("r"),
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bucket") == F.col("r.bucket"),
            ],
        )
        .select(
            F.col("l.id").alias("new_id"),
            F.col("r.id").alias("corpus_id"),
        )
        .distinct()
    )
    new_sigs = new_banded.where(F.col("band") == 0).select("id", "signature")
    corpus_sigs = corpus_banded.where(F.col("band") == 0).select(
        "id", "signature"
    )
    pairs = cand.join(
        new_sigs.select(
            F.col("id").alias("new_id"), F.col("signature").alias("ls")
        ),
        on="new_id",
    ).join(
        corpus_sigs.select(
            F.col("id").alias("corpus_id"), F.col("signature").alias("rs")
        ),
        on="corpus_id",
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("ls", "rs", lambda a, b: a == b),
                lambda x: x,
            )
        )
        / F.size("ls")
    )
    out = pairs.select(
        "new_id", "corpus_id", F.round(est, 6).alias("jaccard_est")
    )
    if min_jaccard_est > 0:
        out = out.filter(F.col("jaccard_est") >= min_jaccard_est)
    return out


@persisting
def minhash_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.8,
    shingle_k: int = 5,
    hash_family: str = "portable",
) -> DataFrame:
    """(id, cluster_id) for EVERY input row: near-dup cluster labels —
    the LSH pairs at ``jaccard_est >= threshold`` form the edge set,
    large-star/small-star connected components label each member with
    its component's minimum id, and docs in no pair (including
    null-text docs, which produce no signature) are singletons labeled
    by their own id. Where :func:`minhash_dedup` DROPS near-dups, this
    keeps everything and exposes the grouping — the shape needed for
    cluster-aware sampling, review queues, or keep-best selection.

    Scale: pair stage is the narrow banded join (see
    :func:`minhash_lsh_pairs`); CC is O(log² n) rounds over the pair
    graph only — the corpus never enters the iteration."""
    from ftm_columnstore_spark.operators.blocking import (
        connected_components,
    )

    sigs = minhash_signature(
        df, text_col, id_col, num_hashes, shingle_k, hash_family
    )
    pairs = minhash_lsh_pairs(sigs, num_bands, threshold)
    # LSH pairs are distinct with left_id < right_id by construction —
    # skip CC's defensive dedup shuffle (r09, guide §2.4)
    cmap = connected_components(
        pairs.select("left_id", "right_id"), edges_deduped=True
    )
    id_type = df.schema[id_col].dataType
    return (
        df.select(F.col(id_col).alias("id"))
        .join(
            cmap.select(
                F.col("entity_id").cast(id_type).alias("id"),
                F.col("canonical_id").cast(id_type).alias("__cid"),
            ),
            on="id",
            how="left",
        )
        .select(
            F.col("id").alias(id_col),
            F.coalesce("__cid", "id").alias("cluster_id"),
        )
    )


@persisting
def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """End-to-end near-dedup: LSH pairs above threshold → union-find via
    min-id propagation (small number of iterations; candidate graph is
    sparse) → keep cluster representatives."""
    sigs = minhash_signature(df, text_col, id_col, num_hashes)
    pairs = minhash_lsh_pairs(sigs, num_bands, threshold)
    # star-contract: every right_id maps to min(left_id) over its pairs
    mapping = pairs.groupBy("right_id").agg(F.min("left_id").alias("root"))
    drop = mapping.select(F.col("right_id").alias(id_col))
    return df.join(drop, on=id_col, how="left_anti")


# --- SimHash ------------------------------------------------------------------

def _check_simhash_params(bands: int, max_hamming: int | None = None) -> None:
    """Guard the pigeonhole contract: the 64 bits must split evenly into
    ``bands`` chunks (otherwise high bits silently drop out of the
    Hamming distance), and ``max_hamming`` must stay below ``bands``
    (otherwise a pair can differ in every chunk and the banding recall
    guarantee is void)."""
    if bands <= 0 or 64 % bands != 0:
        raise ValueError(
            f"bands must evenly divide 64, got {bands}"
        )
    if max_hamming is not None and max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}) for "
            "the pigeonhole guarantee to hold"
        )


def simhash_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
) -> DataFrame:
    """(id, c0..c{bands-1}) — the 64-bit SimHash packed as ``bands``
    unsigned chunks, computed with the engine-portable md5 token hash
    (two 32-bit halves of the md5 hex prefix), so the whole derivation is
    exact integer arithmetic reproducible in any SQL engine (oracle
    parity).

    Relational two-aggregation shape: token rows → groupBy(id, token)
    occurrence counts (collapses repeated tokens BEFORE the expensive
    stages — md5 runs once per distinct (doc, token), and the 64-way
    vote aggregation reads ~10× fewer rows on natural-language token
    distributions) → ONE groupBy(id) with 64 codegen'd sum(cnt·±1)
    vote aggregates → chunk packing. Identical votes to the
    per-occurrence form; both shuffles are keyed by the doc id."""
    from ftm_columnstore_spark.functions.text import fan_out, word_tokens_col

    _check_simhash_params(bands)
    width = 64 // bands
    # fan_out (r08): tokenize+explode+map-side (id, token) combine ran
    # single-task on a single-split local input; no-op on real scans,
    # and every downstream agg is keyed by (id[, token]) — partitioning
    # -invariant.
    tok = (
        fan_out(df).filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.explode(word_tokens_col(text_col)).alias("__t"),
        )
        .groupBy("id", "__t")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    hi = F.conv(F.substring(F.md5("__t"), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5("__t"), 9, 8), 16, 10).cast("long")
    hashed = tok.select("id", "__cnt", hi.alias("__hi"), lo.alias("__lo"))

    def bit(j: int) -> F.Column:
        src, off = ("__lo", j) if j < 32 else ("__hi", j - 32)
        return F.shiftright(F.col(src), off).bitwiseAND(F.lit(1))

    # Plain 64-column vote sums. A lane-packed variant (3×21-bit lanes
    # per long, agg width 64 → 23) was tried in round 5 and REVERTED on
    # measurement: the packed-term projection (shift+mult+sum per lane
    # group, per input row) cost more than the narrower aggregate saved
    # — bench solo regressed 3.3 → 5.8s at sf0.1 while the plain form
    # holds 3.3s. 64 trivial sums stay fully inside codegen'd partial
    # aggregation; width is not the bottleneck here. Vote terms are
    # projected before the agg — agg-input expressions run interpreted
    # inside the aggregate (see minhash_signature).
    voted = hashed.select(
        "id",
        *[
            (F.col("__cnt") * (bit(j) * 2 - F.lit(1))).alias(f"__t{j}")
            for j in range(64)
        ],
    )
    votes = voted.groupBy("id").agg(
        *[F.sum(f"__t{j}").alias(f"__v{j}") for j in range(64)]
    )
    chunk_cols = [
        sum(
            (
                F.when(F.col(f"__v{b * width + t}") > 0, F.lit(1 << t)).otherwise(
                    F.lit(0)
                )
                for t in range(width)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias(f"c{b}")
        for b in range(bands)
    ]
    return votes.select("id", *chunk_cols)


@persisting
def simhash_pairs_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int = 1024,
) -> DataFrame:
    """Near-dup pairs by SimHash (:func:`simhash_chunks`): band the 64
    bits into ``bands`` chunks — any pair within ``max_hamming``
    (< ``bands``) shares ≥1 exact chunk (pigeonhole). ``max_bucket``
    skips degenerate hot buckets (boilerplate/identical docs — run
    `dedup_exact` first, see NOTES.md pipeline order): a bucket of m docs
    emits m² pairs, so oversized buckets are dropped whole (no partial
    sample), keeping the output deterministic. Every value is
    reproducible outside Spark; oracle-checked as d4."""
    _check_simhash_params(bands, max_hamming)
    # persist + eager materialize — the bucket-size agg and both join
    # sides consume it; lazy persist lets those stages race to compute
    # the lineage concurrently (see minhash_lsh_pairs).
    chunks = persist(simhash_chunks(df, text_col, id_col, bands))
    chunks.count()
    return hamming_pairs_from_chunks(chunks, bands, max_hamming, max_bucket)


def hamming_pairs_from_chunks(
    chunks: DataFrame,
    bands: int,
    max_hamming: int,
    max_bucket: int = 1024,
) -> DataFrame:
    """Pigeonhole Hamming pairing over ANY chunked fingerprint relation
    ``(id, c0..c{bands-1})`` — the machinery behind
    :func:`simhash_pairs_portable`, factored out so other fingerprint
    families (e.g. image aHash in ``operators/multimodal.py``) reuse the
    identical banded-join/bucket-cap/verify contract. Any pair within
    ``max_hamming`` < ``bands`` shares an exact chunk; oversized buckets
    are dropped whole, deterministically. Output:
    (left_id, right_id, hamming)."""
    banded = chunks.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"c{b}").alias("chunk")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bc"),
    ).select("bc.band", "bc.chunk", *(["id"] + [f"c{b}" for b in range(bands)]))
    sizes = (
        banded.groupBy("band", "chunk")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter((F.col("__n") > 1) & (F.col("__n") <= max_bucket))
        .select("band", "chunk")
    )
    # NOT materialized: the self-join's two `eligible` sides look like a
    # repeated expensive subtree, but the executed plan already shares
    # them — Spark's exchange reuse turns the second side's banded
    # explode and `sizes` aggregation into ReusedExchange nodes (plan-
    # asserted in test_dedup). Forcing materialization here was measured
    # SLOWER (solo 3.3 → 5.1s checkpoint / 5.9s persist+count at sf0.1):
    # it splits one pipelined job into two sequential ones and defeats
    # AQE's runtime broadcast of `sizes`.
    eligible = banded.join(sizes, on=["band", "chunk"])
    l, r = eligible.alias("l"), eligible.alias("r")
    hamming = sum(
        (
            F.bit_count(
                F.col(f"l.c{b}").bitwiseXOR(F.col(f"r.c{b}"))
            )
            for b in range(bands)
        ),
        F.lit(0),
    )
    out = (
        l.join(
            r,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.chunk") == F.col("r.chunk"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(
            F.col("l.id").alias("left_id"),
            F.col("r.id").alias("right_id"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["left_id", "right_id"])
    )
    return out


# --- n-gram Jaccard ------------------------------------------------------------

@persisting
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard ≥ τ over k-word shingle sets, with prefix filtering
    (PPJoin-style, no false negatives):

    1. a canonical global total order over shingles by global frequency,
       rarest first (one groupBy + join; prefixes then hold the most
       selective shingles, measured ~5× fewer candidate pairs than hash
       order on skewed corpora);
    2. each doc indexes only its first ``|s| - ⌈τ·|s|⌉ + 1`` shingles in
       that order — any pair with J ≥ τ must collide inside these
       prefixes (pigeonhole on the canonical order);
    3. length filter ``τ·|l| ≤ |r| ≤ |l|/τ`` prunes further;
    4. candidates verified exactly via full-set ``array_intersect``.

    5. positional filter (PPJoin): per candidate pair, prefix collisions
       are counted and the LAST collision's positions bound the residual
       overlap — any non-collision common element must order after the
       last collision in BOTH arrays (else it would itself be a prefix
       collision), so ``overlap ≤ c + min(|l| - maxpos_l, |r| - maxpos_r)``;
       pairs whose bound misses ``α = τ·(|l|+|r|)/(1+τ)`` are pruned
       before the (expensive) full verify.

    Shuffle budget: shingling is narrow (zero shuffles); frequency agg
    (small output) broadcast-joined back; one groupBy(id) builds sets;
    one self-join on prefix shingles; one pair-groupBy; the verify joins
    are AQE-broadcastable (the surviving-set side is tiny relative to the
    corpus). Output (left_id, right_id, jaccard)."""
    from ftm_columnstore_spark.functions.text import shingle_sets

    tall = shingle_sets(df, text_col, id_col, shingle_k).select(
        "id", F.explode("sh_arr").alias("shingle")
    )
    # no broadcast hint: the freq table is one row per DISTINCT
    # shingle — small at test scale (AQE still picks BHJ there) but
    # unboundedly large at corpus scale, where this must be a
    # shuffle join on the shingle key
    freq = tall.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    tall = tall.join(freq, on="shingle")

    # one aggregation yields the full set AND its canonical-order prefix.
    # The (freq, shingle) sort key is ENCODED into one sortable string
    # (zero-padded hex freq + separator + shingle) so the whole pipeline
    # is native array_sort/slice/array_intersect — no transform() lambda,
    # which Spark would evaluate on the interpreted path per shingle per
    # doc. The encoding is injective, so set sizes, prefix collisions and
    # intersection cardinalities are unchanged; only the (opaque) element
    # spelling differs on both sides equally.
    ordered = F.array_sort(
        F.collect_list(
            F.concat_ws(
                "|", F.lpad(F.hex(F.col("freq")), 16, "0"), F.col("shingle")
            )
        )
    )
    sets = persist(
        tall.groupBy("id")
        .agg(
            ordered.alias("sh"),
        )
        .select(
            "id",
            "sh",
            F.size("sh").alias("setsize"),
            F.slice(
                "sh",
                1,
                (
                    F.size("sh")
                    - F.ceil(F.lit(min_jaccard) * F.size("sh"))
                    + F.lit(1)
                ).cast("int"),
            ).alias("pref"),
        )
    )
    # eager materialize: the prefix self-join and both set join-backs
    # are four concurrent consumers — lazy persist lets them race to
    # compute the shingle+freq+collect lineage (see minhash_lsh_pairs)
    sets.count()
    prefix = sets.select(
        "id",
        "setsize",
        F.posexplode("pref").alias("pos0", "shingle"),
    ).select("id", "setsize", F.col("shingle"), (F.col("pos0") + 1).alias("pos"))

    l, r = prefix.alias("l"), prefix.alias("r")
    cand = (
        l.join(
            r,
            on=[
                F.col("l.shingle") == F.col("r.shingle"),
                F.col("l.id") < F.col("r.id"),
                F.col("r.setsize") >= F.lit(min_jaccard) * F.col("l.setsize"),
                F.col("l.setsize") >= F.lit(min_jaccard) * F.col("r.setsize"),
            ],
        )
        .groupBy(
            F.col("l.id").alias("left_id"),
            F.col("r.id").alias("right_id"),
            F.col("l.setsize").alias("ls"),
            F.col("r.setsize").alias("rs"),
        )
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max("l.pos").alias("maxpl"),
            F.max("r.pos").alias("maxpr"),
        )
    )
    # positional bound: required overlap α with a float-safety epsilon
    # (only loosens the filter — soundness preserved)
    alpha = (
        F.lit(min_jaccard / (1.0 + min_jaccard)) * (F.col("ls") + F.col("rs"))
        - F.lit(1e-9)
    )
    bound = F.col("c") + F.least(
        F.col("ls") - F.col("maxpl"), F.col("rs") - F.col("maxpr")
    )
    surv = cand.filter(bound >= alpha).select("left_id", "right_id", "ls", "rs")

    lsets = sets.select(F.col("id").alias("left_id"), F.col("sh").alias("lsh"))
    rsets = sets.select(F.col("id").alias("right_id"), F.col("sh").alias("rsh"))
    verified = (
        surv.join(lsets, on="left_id")
        .join(rsets, on="right_id")
        .withColumn("inter", F.size(F.array_intersect("lsh", "rsh")))
    )
    jac = F.col("inter") / (F.col("ls") + F.col("rs") - F.col("inter"))
    return verified.select(
        "left_id", "right_id", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= min_jaccard)


@persisting
def jaccard_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact near-dedup: drop every doc that appears as the RIGHT side of
    an exact-Jaccard pair ≥ τ (left < right, so the smallest id of each
    near-dup cluster survives). Deterministic and oracle-checkable, unlike
    the MinHash estimate path."""
    pairs = ngram_jaccard_pairs(df, text_col, id_col, shingle_k, min_jaccard)
    drop = pairs.select(F.col("right_id").alias(id_col)).distinct()
    return df.join(drop, on=id_col, how="left_anti")


# --- embedding near-dup ---------------------------------------------------------

def _plane_signs(num_planes: int, dim: int, seed: int = 0xB5) -> list[list[int]]:
    """Deterministic ±1 (Rademacher) hyperplane components, shared with the
    DuckDB oracle generator — random-hyperplane LSH only needs symmetric
    sign vectors, and ±1 keeps every dot product in exact int64."""
    import random

    rng = random.Random(seed)
    return [
        [1 if rng.random() < 0.5 else -1 for _ in range(dim)]
        for _ in range(num_planes)
    ]


@persisting
def embedding_dup_pairs_portable(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.9,
    num_planes: int = 8,
    scale: int = 1_000_000,
) -> DataFrame:
    """Embedding-cosine near-dup, engine-portable (oracle-checkable):

    1. quantize each component to int64 via ``floor(x*scale + 0.5)`` —
       float→double widening and floor are exact IEEE ops, so both
       engines hold IDENTICAL integers from identical parquet floats;
    2. LSH signature = sign pattern of ±1-hyperplane dot products over
       the quantized ints (exact integer arithmetic, no float-order
       ambiguity in the candidate set);
    3. verify: cosine from the quantized ints — int64 dot / sqrt of
       int64 norms; IEEE *, /, sqrt are correctly rounded, so the float
       result is bit-identical cross-engine and the ≥ τ cut is exact.

    Relational shape (100 TB path): quantize is narrow; dots/norms are
    one explode + broadcast-join(512-row plane table) + groupBy(id);
    the only wide op is the signature-bucket self-join."""
    from ftm_columnstore_spark.operators.similarity import quantized_features

    # persist + eager materialize: the self-join references feats twice —
    # without the persist the whole quantize+signature lineage is inlined
    # into BOTH sides, and without the count the two sides race to
    # compute it concurrently (same lesson as the banded MinHash relation)
    feats = persist(quantized_features(df, vec_col, id_col, num_planes, scale))
    feats.count()
    l, r = feats.alias("l"), feats.alias("r")
    dotq = F.aggregate(
        F.zip_with("l.q", "r.q", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = dotq.cast("double") / F.sqrt(
        F.col("l.nq").cast("double") * F.col("r.nq").cast("double")
    )
    return (
        l.join(
            r,
            on=[F.col("l.sig") == F.col("r.sig"), F.col("l.id") < F.col("r.id")],
        )
        .select(
            F.col("l.id").alias("left_id"),
            F.col("r.id").alias("right_id"),
            cos.alias("__cos"),
        )
        .filter(F.col("__cos") >= min_cosine)
        .select(
            "left_id", "right_id", F.round("__cos", 6).alias("cosine")
        )
    )


@persisting
def embedding_clusters(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.9,
    num_planes: int = 8,
    scale: int = 1_000_000,
) -> DataFrame:
    """(id, cluster_id) for EVERY input vector: embedding-cosine
    near-dup cluster labels — the :func:`embedding_dup_pairs_portable`
    pairs at ``cosine >= min_cosine`` form the edge set, large-star/
    small-star connected components label members with the component
    minimum, vectors in no pair keep their own id. The embedding
    counterpart of :func:`minhash_clusters` — the grouping shape
    semantic-dedup review queues and cluster-aware splits consume.

    Scale: pair stage is the signature-bucketed self-join (narrow,
    exact-integer verify); CC iterates over the PAIR graph only —
    the embedding table never enters the loop."""
    from ftm_columnstore_spark.operators.blocking import (
        connected_components,
    )

    pairs = embedding_dup_pairs_portable(
        df, vec_col, id_col, min_cosine, num_planes, scale
    )
    # signature-bucket pairs are distinct with left_id < right_id by
    # construction (one feats row per id) — skip CC's dedup shuffle
    cmap = connected_components(
        pairs.select("left_id", "right_id"), edges_deduped=True
    )
    id_type = df.schema[id_col].dataType
    return (
        df.select(F.col(id_col).alias("id"))
        .join(
            cmap.select(
                F.col("entity_id").cast(id_type).alias("id"),
                F.col("canonical_id").cast(id_type).alias("__cid"),
            ),
            on="id",
            how="left",
        )
        .select(
            F.col("id").alias(id_col),
            F.coalesce("__cid", "id").alias("cluster_id"),
        )
    )


@persisting
def line_dedup(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    keep_order_col: str | None = None,
):
    """Corpus-wide line/paragraph-level exact dedup — the C4 / CCNet
    cleanup pass (Raffel et al. 2020 §2.2 dedup lines across documents;
    CCNet paragraph-hash dedup): every occurrence of a line except the
    globally-first one is removed, and each document's surviving lines
    are reassembled in their original order.

    "Globally first" = the occurrence with the smallest
    ``(order_key, id, position)`` where ``order_key`` is
    ``keep_order_col`` (default: the id column) — deterministic under
    any partitioning, even when the order column has duplicate values.

    Scale shape: one explode (narrow) → one map-side-combinable
    ``groupBy(line_hash).agg(min(struct(order,pos)))`` — hot lines
    (empty strings, boilerplate headers: exactly what this pass exists
    to remove) collapse map-side, so the hash agg sees no reducer skew —
    → one join back on the hash (AQE skew-join handles hot probe keys)
    → one per-document reassembly agg. Whitespace-only lines are always
    dropped. No Python anywhere.

    Output: (id, n_lines, n_kept, text) with ``text`` the cleaned
    document (empty string when nothing survives).
    """
    from ftm_columnstore_spark.functions.text import fan_out

    order = F.col(keep_order_col if keep_order_col else id_col)
    # \Q…\E so sep is a LITERAL for the split, matching its literal use
    # in the reassembly join below (sep='.' would otherwise split on
    # every character and silently empty all documents)
    # fan_out + persist (r08): the exploded relation feeds TWO
    # aggregations (kept and counts); without a cache each consumer
    # re-ran the full split+explode+trim pass, and on a single-split
    # local input that pass ran on ONE core (measured: 2×~4s
    # single-task stages at sf0.1 — the whole query's cost). Fan-out
    # parallelizes the explode (no-op on real multi-split scans) and
    # the persist makes the second consumer a cache read. Every
    # downstream agg is keyed (min-struct / count / array_sort), so
    # results are partitioning-invariant.
    lines = fan_out(df).select(
        F.col(id_col).alias("id"),
        order.alias("__ord"),
        F.posexplode(F.split(F.col(text_col), "\\Q" + sep + "\\E")).alias(
            "pos", "line"
        ),
    ).where(F.trim("line") != "").transform(persist)
    keyed = lines.withColumn("h", F.md5(F.col("line")))
    # id is the struct's tie-break so a non-unique order column still
    # keeps exactly ONE occurrence per line. The agg carries the line
    # text itself (any_value: all lines under one md5 are equal), so no
    # join back to the exploded relation is needed — one shuffle fewer
    # (measured 6.5s -> 2.9s at sf0.1 with full row materialization).
    kept = (
        keyed.withColumn("__s", F.struct("__ord", "id", "pos"))
        .groupBy("h")
        .agg(
            F.min("__s").alias("__first"),
            F.any_value("line").alias("line"),
        )
        .select(
            F.col("__first.id").alias("id"),
            F.col("__first.pos").alias("pos"),
            "line",
        )
    )
    counts = lines.groupBy("id").agg(F.count(F.lit(1)).alias("n_lines"))
    rebuilt = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("text"),
    )
    return (
        counts.join(rebuilt, on="id", how="left")
        .select(
            "id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text", F.lit("")).alias("text"),
        )
    )


def semantic_dedup_portable(
    df,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int | None = None,
    threshold: float = 0.8,
    scale: int = 1_000_000,
):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus
    embeddings, then inside each cluster drop every item whose embedding
    is cosine-similar (``round(cos,6) >= threshold``) to a LOWER-ID item
    of the same cluster. This is the one-pass "similar to any earlier
    item" variant of the paper's greedy exemplar scan — the sequential
    greedy keep-set needs iteration; the relational form can only
    over-drop in chains (A~B, B~C, A!~C drops both B and C where greedy
    would keep C), which is the conservative direction for dedup.

    Portability/scale: clustering uses FIXED lowest-id centroids and the
    exact integer-arithmetic assignment shared with
    :func:`~ftm_columnstore_spark.operators.similarity.ivf_topk_portable`.
    The pairwise stage self-joins ON THE CLUSTER ID, so cost is
    sum(|cluster|²) — tuned by ``n_centroids``; the ``None`` default
    auto-sizes ``ceil(N/4096)`` centroids from one count job
    (:func:`~ftm_columnstore_spark.operators.similarity.
    auto_n_centroids_pairs`), keeping expected cluster size ~4096 and
    the pair stage ~linear in the corpus (pass an explicit value for
    oracle determinism or to skip the count) — never corpus²; pair
    cosines are quantized-int dots (IEEE-exact cross-engine). Zero-norm
    vectors have undefined cosine: they join no pairs and are kept.

    Returns (id, cid, is_dup) for every input row with a non-null
    embedding; NULL-embedding rows are excluded up front (no vector →
    no cluster, mirrored by the oracle's ``WHERE embedding IS NOT
    NULL``)."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    from ftm_columnstore_spark.operators.similarity import (
        _quantize_col,
        assign_fixed_centroids,
    )

    spark = df.sparkSession
    id_type = df.schema[id_col].dataType
    nq = F.aggregate(
        F.transform("q", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # checkpoint BEFORE the centroid collect: the collect, the
    # assignment, and the pair join would otherwise each re-run the
    # quantization scan
    q = (
        df.where(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            _quantize_col(vec_col, scale).alias("q"),
        )
        .withColumn("nq", nq)
        .localCheckpoint(eager=True)
    )
    if n_centroids is None:
        from ftm_columnstore_spark.operators.similarity import (
            auto_n_centroids_pairs,
        )

        # counting the checkpointed relation is cheap (no recompute)
        n_centroids = auto_n_centroids_pairs(q.count())
    cent_rows = q.orderBy("id").limit(n_centroids).collect()
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
                    StructField("cid", id_type),
                    StructField("is_dup", BooleanType(), False),
                ]
            ),
        )
    assign = assign_fixed_centroids(q, cents, id_type)
    qa = q.join(assign, on="id").where(F.col("nq") > 0)
    left = qa.select(
        "cid",
        F.col("id").alias("__lid"),
        F.col("q").alias("__lq"),
        F.col("nq").alias("__ln"),
    )
    right = qa.select(
        "cid",
        F.col("id").alias("__rid"),
        F.col("q").alias("__rq"),
        F.col("nq").alias("__rn"),
    )
    dot = F.aggregate(
        F.zip_with("__lq", "__rq", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = dot.cast("double") / F.sqrt(
        F.col("__ln").cast("double") * F.col("__rn").cast("double")
    )
    dups = (
        left.join(right, on="cid")
        .where(F.col("__lid") < F.col("__rid"))
        .where(F.round(cos, 6) >= threshold)
        .select(F.col("__rid").alias("id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        assign.join(dups, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            "cid",
            F.coalesce("__dup", F.lit(False)).alias("is_dup"),
        )
    )


def dedup_keep_best(
    components: DataFrame,
    scores: DataFrame,
    id_col: str = "entity_id",
    canonical_col: str = "canonical_id",
    score_col: str = "score",
) -> DataFrame:
    """Exemplar selection with a QUALITY criterion: given duplicate-
    cluster assignments (e.g. :func:`~ftm_columnstore_spark.operators.
    blocking.connected_components` over accepted near-dup edges) and a
    per-item score, keep the best-scoring member of each cluster (ties →
    smallest id) — the C4/SemDeDup "keep one per duplicate cluster" step
    upgraded from keep-min-id to keep-best (drop the short/boilerplate
    copy, keep the richest one).

    Skew-proof shape: TWO map-side-combinable aggregations (per-cluster
    max score; then min id among the max-scorers) plus one join back —
    no window, so a pathological all-duplicates cluster (the case this
    op exists for) costs partial aggregation, never a single-reducer
    sort. Items absent from ``components`` are untouched (inner join);
    feed singletons explicitly if they should appear.

    Output: (canonical, keep_id, n_members, best_score)."""
    j = components.select(
        F.col(id_col).alias("__id"), F.col(canonical_col).alias("canonical")
    ).join(
        scores.select(
            F.col(id_col).alias("__id"), F.col(score_col).alias("__score")
        ),
        on="__id",
    )
    best = j.groupBy("canonical").agg(
        F.max("__score").alias("best_score"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return (
        j.join(best, on="canonical")
        .where(F.col("__score") == F.col("best_score"))
        .groupBy("canonical", "n_members", "best_score")
        .agg(F.min("__id").alias("keep_id"))
        .select("canonical", "keep_id", "n_members", "best_score")
    )


# --- exact substring (span-level) dedup --------------------------------------

# alternating run decomposition: every char lands in exactly one run, so
# concat(segs) reconstructs the original text byte-for-byte
_SEG_RE = "[A-Za-z0-9]+|[^A-Za-z0-9]+"
_TOK_HEAD = "^[A-Za-z0-9]"


def _tokenized_docs(df, text_col: str, id_col: str, order_col: str | None):
    """(id, __ord, text, toks): ``text`` is the ORIGINAL text (null ->
    ''), ``toks`` the lowercased ASCII-alnum token runs. For ASCII text
    ``toks`` equals ``word_tokens_col``; they diverge only on exotic
    code points whose case-fold changes alphanumeric membership (e.g.
    KELVIN SIGN -> k), because case-folding applies per ASCII-alnum run
    and can never create or destroy a token boundary — which is what
    lets :func:`_cut_dup_spans` cut spans out of the original text
    instead of a lossily re-normalized one.

    The full alternating run decomposition (``_SEG_RE``) is NOT
    computed here: only documents that actually carry duplicated spans
    pay for it (inside :func:`_cut_dup_spans`) — r03 ran the segs
    regex corpus-wide in every consumer's lineage, which was most of
    the d14/d15 solo regression (measured: see NOTES round 4)."""
    from ftm_columnstore_spark.functions.text import fan_out

    order = F.col(order_col if order_col else id_col)
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.transform(
        F.regexp_extract_all(txt, F.lit("[A-Za-z0-9]+"), F.lit(0)), F.lower
    )
    # fan_out (r08): every consumer (_doc_grams posexplode+md5 per token
    # offset) inherits the scan's split count; a single-split local input
    # serialized that CPU on one core. No-op on multi-split scans.
    return fan_out(df).select(
        F.col(id_col).alias("id"),
        order.alias("__ord"),
        txt.alias("text"),
        toks.alias("toks"),
    )


def _doc_grams(docs: DataFrame, k: int) -> DataFrame:
    """(id, __ord, pos, h): md5 k-gram hash at every token offset — a
    narrow array-HOF derive + posexplode, no text explode. md5 of the
    space-joined tokens is engine-portable and shuffle-uniform."""
    n = F.size(F.col("toks"))
    return docs.where(n >= k).select(
        "id",
        "__ord",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.md5(
                    F.array_join(F.slice(F.col("toks"), i + 1, k), " ")
                ),
            )
        ).alias("pos", "h"),
    )


def _cut_dup_spans(docs: DataFrame, occ: DataFrame, k: int) -> DataFrame:
    """Merge redundant gram occurrences (id, pos) into maximal spans
    per document (gaps-and-islands; window partitioned BY DOCUMENT) and
    cut them out of the ORIGINAL text via the run decomposition: a
    token run is cut when its token index lies inside a span, a
    separator run only when it sits strictly INSIDE one span (between
    two cut tokens of the same island) — so documents with zero
    duplicated spans reassemble byte-for-byte identical to the input,
    and cut documents keep their surrounding case/punctuation intact.

    Scale shape: both windows and the final group partition BY
    DOCUMENT, and they follow the (id)-keyed span join, so Catalyst
    reuses that hash partitioning — the segment pass adds per-partition
    sorts, not Exchanges. Output (id, n_tokens, n_removed, text)."""
    occ = occ.select("id", "pos", (F.col("pos") + (k - 1)).alias("end"))
    w = Window.partitionBy("id").orderBy("pos")
    occ = occ.withColumn(
        "__prev_end",
        F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1)),
    )
    occ = occ.withColumn(
        "__new",
        F.when(
            F.col("__prev_end").isNull()
            | (F.col("pos") > F.col("__prev_end")),
            1,
        ).otherwise(0),
    )
    occ = occ.withColumn("__island", F.sum("__new").over(w))
    spans = occ.groupBy("id", "__island").agg(
        F.min("pos").alias("start"), F.max("end").alias("end")
    )
    # one row per document WITH duplicated spans — bounded by the dup
    # fraction of the corpus; checkpointed because both branches below
    # consume it (the anti join and the cut join would otherwise each
    # re-run the gram aggregation lineage)
    doc_spans = (
        spans.groupBy("id")
        .agg(F.collect_list(F.struct("start", "end")).alias("spans"))
        .localCheckpoint(eager=True)
    )
    # untouched documents (the common case on real corpora) short-
    # circuit: their ORIGINAL bytes pass straight through — no run
    # decomposition, no segment explode/window
    untouched = docs.join(doc_spans, on="id", how="left_anti").select(
        "id",
        F.size("toks").alias("n_tokens"),
        F.lit(0).alias("n_removed"),
        "text",
    )
    # the run decomposition is computed HERE, for span-carrying docs
    # only (concat(segs) == text byte-for-byte by construction of the
    # alternating pattern)
    joined = docs.join(doc_spans, on="id")
    segs = F.regexp_extract_all(F.col("text"), F.lit(_SEG_RE), F.lit(0))
    seg_rows = joined.select(
        "id",
        F.size("toks").alias("n_tokens"),
        "spans",
        F.posexplode_outer(segs).alias("si", "seg"),
    )
    istok = F.col("seg").rlike(_TOK_HEAD)
    sw = Window.partitionBy("id").orderBy("si")
    # running token count: a token run's own index is ntok-1; a
    # separator run sits between token indices ntok-1 and ntok, so its
    # cut test [lo, hi] = [ntok-1, ntok] is inside-one-span exactly
    # when both neighbouring tokens are cut by the same island (the
    # leading/trailing separators of a doc fall outside every span)
    seg_rows = seg_rows.withColumn(
        "__ntok", F.sum(istok.cast("int")).over(sw)
    )
    lo = F.col("__ntok") - 1
    hi = F.when(istok, lo).otherwise(F.col("__ntok"))
    seg_rows = seg_rows.withColumn(
        "__cut",
        F.coalesce(
            F.exists(
                F.col("spans"),
                lambda s: (s["start"] <= lo) & (hi <= s["end"]),
            ),
            F.lit(False),
        ),
    )
    # agg inputs projected first (interpreted-path rule — see
    # minhash_signature): the removed-token flag and the kept-segment
    # struct become plain columns before the aggregate
    cut_docs = (
        seg_rows.withColumn(
            "__rm", F.when(istok & F.col("__cut"), 1).otherwise(0)
        )
        .withColumn(
            "__keep",
            F.when(
                ~F.col("__cut") & F.col("seg").isNotNull(),
                F.struct("si", "seg"),
            ),
        )
        .groupBy("id", "n_tokens")
        .agg(
            F.sum("__rm").cast("int").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("__keep")),
                    lambda x: x["seg"],
                ),
                "",
            ).alias("text"),
        )
        .select("id", "n_tokens", "n_removed", "text")
    )
    return cut_docs.unionByName(untouched)


@persisting
def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    keep_order_col: str | None = None,
) -> DataFrame:
    """Exact duplicated-SUBSTRING removal — the ExactSubstr pass of Lee
    et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), at token k-gram granularity. Where doc-level dedup
    (:func:`dedup_exact`/:func:`minhash_dedup`) drops whole documents
    and :func:`line_dedup` needs line boundaries, this removes the
    duplicated SPANS themselves: any run of >= ``k`` tokens that occurs
    more than once anywhere in the corpus is cut out of every occurrence
    except the globally-first one, and each document's surviving tokens
    are reassembled in order.

    Equivalence to the suffix-array formulation: a duplicated substring
    of length >= k contains a duplicated k-gram starting at every offset,
    so the union of duplicated k-gram windows [pos, pos+k-1] reconstructs
    exactly the maximal duplicated spans (the paper's suffix array finds
    the same spans; k-grams trade its global sort for one hash shuffle).

    "Globally first" = smallest ``(order_key, id, pos)`` per gram, where
    ``order_key`` defaults to the id column — deterministic under any
    partitioning (same convention as :func:`line_dedup`). A second
    occurrence INSIDE the first document is still removed.

    Scale shape (the suffix array itself does not distribute; this
    does): narrow gram derive (array HOF over the token array, no
    explode of text) -> posexplode of gram hashes -> ONE map-side-
    combinable ``groupBy(gram).agg(count, min(struct))`` — boilerplate
    grams (the dedup targets) collapse map-side, so the reducer sees no
    skew -> join back on the gram hash (AQE skew-join covers hot probe
    keys) -> per-document island merge (window partitioned BY DOCUMENT,
    never global) -> span cut over the run decomposition of the
    ORIGINAL text (doc-partitioned window + group reusing the span
    join's hash partitioning). No Python anywhere. The
    gram relation is |tokens| rows — the same working set the
    suffix-array build scans, but shuffled once on a uniform md5 key.
    Run :func:`dedup_exact` first at scale: whole-doc copies otherwise
    pay the span machinery for spans covering the entire document.

    Why agg+join and not one window over the gram partition (which
    would be a single shuffle): a corpus-scale hot gram — one sentence
    shared by millions of documents, exactly the thing this pass
    removes — lands every occurrence on one reducer under a window,
    with no remedy; the aggregation collapses it map-side and AQE
    skew-join splits the probe. One extra shuffle buys unbounded-skew
    safety.

    Output: (id, n_tokens, n_removed, text) with ``text`` the cleaned
    document: the ORIGINAL text minus the duplicated spans (and the
    separators strictly inside them) — untouched documents come back
    byte-for-byte identical, cut documents keep the case/punctuation of
    everything that survives. Null text -> ''.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    docs = _tokenized_docs(df, text_col, id_col, keep_order_col)
    # the gram relation feeds BOTH sides of the firsts join (the agg
    # build and the occurrence probe) — persist so the explode+md5
    # derive runs once, not twice (measured ~2s of d14's sf0.1 solo).
    # Materializing |tokens| rows is the same working set the
    # suffix-array formulation writes to disk, so the scale posture is
    # unchanged.
    grams = persist(_doc_grams(docs, k))
    # struct projected before the agg (agg-input expressions run
    # interpreted inside the aggregate — see minhash_signature)
    firsts = (
        grams.withColumn("__s", F.struct("__ord", "id", "pos"))
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min("__s").alias("__first"),
        )
    )
    dup = grams.join(firsts, on="h").where(
        (F.col("__cnt") >= 2)
        & ~(
            (F.col("__ord") == F.col("__first.__ord"))
            & (F.col("id") == F.col("__first.id"))
            & (F.col("pos") == F.col("__first.pos"))
        )
    )
    return _cut_dup_spans(docs, dup.select("id", "pos"), k)


def corpus_gram_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Distinct k-gram hashes of an existing corpus — the reusable
    index side of :func:`exact_substring_dedup_cross`. Build once,
    ``persist()``, and probe every incremental batch (or micro-batch)
    against the SAME relation — the d12/minhash pattern applied to
    span-level dedup."""
    docs = _tokenized_docs(corpus, text_col, id_col, None)
    return _doc_grams(docs, k).select("h").distinct()


@persisting
def exact_substring_dedup_cross(
    batch: DataFrame,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    corpus_grams: DataFrame | None = None,
    within_batch: bool = True,
    keep_order_col: str | None = None,
) -> DataFrame:
    """Incremental ExactSubstr: cut from BATCH documents every run of
    >= ``k`` tokens that already exists in an indexed CORPUS — plus,
    with ``within_batch=True``, runs duplicated inside the batch itself
    (keep-first, same convention as :func:`exact_substring_dedup`).
    The ingest-time counterpart of the batch op: corpus text is never
    rewritten, so the index side reduces to a distinct hash set.

    Pass either ``corpus`` (index built here) or a prebuilt
    ``corpus_grams`` from :func:`corpus_gram_index` — persist the
    latter to amortize the index across incremental batches; a
    foreachBatch loop reuses the SAME persisted relation every
    micro-batch (only the small batch side is new work).

    Scale shape: batch grams LEFT SEMI-ish join the corpus hash set
    (broadcast when the index is small, hash join otherwise; probe side
    is only the batch) + the within-batch groupBy — the corpus is never
    rescanned per batch when the index is persisted. Output (id,
    n_tokens, n_removed, text) for batch documents only.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if (corpus is None) == (corpus_grams is None):
        raise ValueError("pass exactly one of corpus / corpus_grams")
    if corpus_grams is None:
        corpus_grams = corpus_gram_index(corpus, text_col, id_col, k)
    docs = _tokenized_docs(batch, text_col, id_col, keep_order_col)
    # persisted for the same reason as exact_substring_dedup: the
    # batch gram relation feeds the corpus probe AND (with
    # within_batch) both sides of the firsts join
    grams = persist(_doc_grams(docs, k))
    # no .distinct() on the index side: corpus_gram_index is already
    # distinct, and leftsemi is set-semantics anyway — a redundant
    # distinct would re-shuffle the ENTIRE persisted index every
    # micro-batch
    in_corpus = grams.join(
        corpus_grams.select("h"), on="h", how="leftsemi"
    ).select("id", "pos")
    if not within_batch:
        return _cut_dup_spans(docs, in_corpus, k)
    # struct projected before the agg (agg-input expressions run
    # interpreted inside the aggregate — see minhash_signature)
    firsts = (
        grams.withColumn("__s", F.struct("__ord", "id", "pos"))
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min("__s").alias("__first"),
        )
    )
    batch_dup = (
        grams.join(firsts, on="h")
        .where(
            (F.col("__cnt") >= 2)
            & ~(
                (F.col("__ord") == F.col("__first.__ord"))
                & (F.col("id") == F.col("__first.id"))
                & (F.col("pos") == F.col("__first.pos"))
            )
        )
        .select("id", "pos")
    )
    return _cut_dup_spans(docs, in_corpus.unionAll(batch_dup).distinct(), k)


def rewrite_cut_text(
    df: DataFrame,
    cut: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fold a span-cut result back into the source rows: keep a
    document unless spans consumed ALL of a non-empty token stream
    (zero-token docs had nothing duplicated and stay), and replace its
    text with the cleaned version. The ONE keep/rebuild contract shared
    by the batch pipeline and the streaming clean — change it here,
    both paths follow."""
    kept = cut.where(
        (F.col("n_tokens") > F.col("n_removed"))
        | (F.col("n_removed") == 0)
    )
    return df.drop(text_col).join(
        kept.select(
            F.col("id").alias(id_col), F.col("text").alias(text_col)
        ),
        on=id_col,
    )


@persisting
def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    min_containment: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-duplicate detection: directed pairs where the
    left doc's shingle set is ≥ ``min_containment`` contained in the
    right doc's — C(A,B) = |S(A) ∩ S(B)| / |S(A)| (Broder, "On the
    resemblance and containment of documents", SEQUENCES'97 — the
    *other* estimator in the paper everyone cites for resemblance).
    Catches what Jaccard structurally misses: a short doc quoted
    wholesale inside a much longer one has tiny resemblance but
    containment ≈ 1 — the quote/boilerplate/subset case an LLM-data
    pipeline dedups by keeping the superset doc.

    Plan: one shingle pass (Arrow-batched, zero shuffles) → tall
    (id, shingle) relation → self-join on shingle → pair groupBy counts
    the overlap → join per-doc set sizes → exact integer threshold
    ``overlap ≥ ceil(τ·|S(A)|)`` (no float comparison; the reported
    containment is one correctly-rounded division, 6 dp).

    Containment admits NO prefix filter (the contained side's rarest
    shingles need not appear in any fixed prefix of the container), so
    the expansion bound at 100 TB is ``max_df``: shingles occurring in
    more than ``max_df`` docs are dropped from the join (boilerplate
    guard — a shingle in 10k docs contributes 10k² pair rows and zero
    dedup signal). Dropping frequent shingles only LOWERS measured
    containment, so the guard admits false negatives on boilerplate-only
    overlap, never false positives; max_df=None keeps the join exact
    and is for bounded corpora only. Sizes are counted BEFORE the df
    cut (containment stays relative to the true set size).

    Output: (left_id, right_id, overlap, left_size, containment) —
    directed, both directions reported when both clear their own
    threshold."""
    if not (0.0 < min_containment <= 1.0):
        raise ValueError(
            f"min_containment must be in (0, 1], got {min_containment}"
        )
    if max_df is not None and max_df < 2:
        raise ValueError(f"max_df must be >= 2, got {max_df}")
    from ftm_columnstore_spark.functions.text import shingle_rows

    # persist: the tall shingle relation feeds sizes, the df guard and
    # both self-join sides — without it the Arrow shingling pass runs
    # up to four times (the d14 rebuilt-relation lesson)
    tall = persist(
        shingle_rows(df, text_col, id_col, shingle_k).select("id", "shingle")
    )
    sizes = tall.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    joinable = tall
    if max_df is not None:
        # guard as an ANTI-join against only the HOT shingles (df >
        # max_df) — in natural corpora that set is tiny (boilerplate),
        # so AQE broadcasts it and the guard is a map-side filter; the
        # first cut inner-joined the full |vocab| frequency relation
        # (a corpus-sized SMJ before the guard even applied). No
        # forced broadcast: on adversarial inputs where most shingles
        # are hot, AQE keeps it a shuffled join (the apply_bpe lesson).
        hot = (
            tall.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_df)
            .select("shingle")
        )
        joinable = persist(tall.join(hot, on="shingle", how="left_anti"))
    left = joinable.select(
        F.col("id").alias("left_id"), "shingle"
    )
    right = joinable.select(
        F.col("id").alias("right_id"), "shingle"
    )
    overlaps = (
        left.join(right, on="shingle")
        .where(F.col("left_id") != F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    out = overlaps.join(
        sizes.select(
            F.col("id").alias("left_id"),
            F.col("set_size").alias("left_size"),
        ),
        on="left_id",
    ).where(
        # overlap ≥ ceil(τ·size) without floats: overlap·1 ≥ τ·size
        # ⇔ overlap ≥ size·τ; with τ as an exact decimal literal the
        # product is exact and the comparison integer-safe.
        F.col("overlap").cast("decimal(20,6)")
        >= F.col("left_size").cast("decimal(20,6)")
        * F.lit(min_containment).cast("decimal(10,6)")
    )
    return out.select(
        "left_id",
        "right_id",
        "overlap",
        "left_size",
        F.round(
            F.col("overlap").cast("double")
            / F.col("left_size").cast("double"),
            6,
        ).alias("containment"),
    )


@persisting
def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = 1,
    max_df: int = 1000,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity join — every document pair whose
    IDF-weighted term vectors have cosine ≥ ``threshold`` (Salton's
    vector-space model over an inverted index; the weighting-aware
    complement of d5's set Jaccard and d17's containment: two docs
    sharing RARE vocabulary score far above two sharing stopwords, so
    topical near-dups surface even when token overlap is modest).

    Term space: ``n=1`` uses word unigrams with tf = occurrence counts;
    ``n>=2`` uses distinct word n-gram shingles with tf = 1 (set
    semantics — the SpotSigs/near-dup form, sharper on adversarial
    small-vocab corpora where every unigram is hot). Terms with
    document frequency > ``max_df`` are removed from the vector space
    BEFORE vectorization (stopword cut — standard in sparse-cosine
    joins, and the 100 TB expansion bound: a term in k docs emits k²
    pair contributions, so max_df² bounds the per-term join fanout;
    there is no prefix filter for dot products the way there is for
    Jaccard overlap). Norms are computed in the PRUNED space, so
    cosines are exact in that space, never estimates.

    Plan: ONE term pass (tokenize / Arrow shingle) persisted; document
    frequency + the hot-term cut reduce it; idf joins back keyed on
    term; per-doc norms are one keyed aggregation; the pair join is
    posting-list self-join on term with id_a < id_b, then ONE pair
    aggregation. Determinism (the _dsum rule): idf = ln(N/df) rounded
    12 dp; per-term norm and dot contributions rounded 12 dp and summed
    as DECIMAL(38,12) (partition-order-independent); the final cosine
    is one IEEE division + sqrt per pair, rounded 6 dp.

    Output: (id_a, id_b, cos) — undirected, id_a < id_b."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if max_df < 2:
        raise ValueError(f"max_df must be >= 2, got {max_df}")
    from ftm_columnstore_spark.functions.text import (
        shingle_rows,
        word_tokens_col,
    )

    if n == 1:
        terms = (
            df.where(F.col(text_col).isNotNull())
            .select(
                F.col(id_col).alias("id"),
                F.explode(word_tokens_col(text_col)).alias("term"),
            )
            .groupBy("id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
    else:
        terms = shingle_rows(df, text_col, id_col, n).select(
            "id", F.col("shingle").alias("term"), F.lit(1).alias("tf")
        )
    terms = persist(terms)
    n_docs = terms.select(F.countDistinct("id").alias("n_docs"))
    dfreq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    idf = (
        dfreq.where(F.col("__df") <= max_df)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.round(
                F.log(
                    F.col("n_docs").cast("double")
                    / F.col("__df").cast("double")
                ),
                12,
            ).alias("idf"),
        )
    )
    # weighted postings over the pruned space, persisted: feeds the
    # norm aggregation AND both sides of the pair join
    w = persist(
        terms.join(idf, on="term").select(
            "id",
            "term",
            (F.col("tf").cast("double") * F.col("idf")).alias("w"),
        )
    )
    norms = (
        w.groupBy("id")
        .agg(
            F.sum(
                F.round(F.col("w") * F.col("w"), 12).cast("decimal(38,12)")
            ).alias("nsq")
        )
        .where(F.col("nsq") > 0)
        .select("id", F.sqrt(F.col("nsq").cast("double")).alias("norm"))
    )
    u = w.join(norms, on="id").select(
        "term", "id", (F.col("w") / F.col("norm")).alias("u")
    )
    pa = u.select(F.col("id").alias("id_a"), "term", F.col("u").alias("ua"))
    pb = u.select(F.col("id").alias("id_b"), "term", F.col("u").alias("ub"))
    return (
        pa.join(pb, on="term")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(
                F.round(F.col("ua") * F.col("ub"), 12).cast(
                    "decimal(38,12)"
                )
            ).alias("__dot")
        )
        .select(
            "id_a",
            "id_b",
            F.round(F.col("__dot").cast("double"), 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )
