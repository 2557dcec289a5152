"""Engine-portable probabilistic sketches: HyperLogLog cardinality and
Count-Min heavy hitters (north-star extension).

Spark ships `approx_count_distinct` (HLL++) and `count_min_sketch`, but
their hash functions and register encodings are engine-private — the
estimates can't be replayed by another engine, so they can't be
oracle-checked and can't be shared with non-Spark consumers. These
implementations trade a constant factor for *portability*: every hash is
the repo's md5-60bit family (`conv(substr(md5(x),1,15),16,10)` — exact
in any engine with md5, see NOTES.md "Engine-portable hash families"),
every register update is integer max/sum, and the only floating-point
steps are one IEEE division (correctly rounded everywhere) and — in
HLL's small-range branch — one `ln` whose ≤1-ulp library variance is
absorbed by rounding the final estimate to an integer.

100 TB shape: both sketches are classic one-pass, bounded-state
streaming summaries. HLL is two cascaded map-side-combinable
aggregations (per-register max, then a sum over ≤2^p registers per
group); CMS build is one aggregation over d·w cells; heavy-hitter
probing broadcasts the d·w-cell table. Nothing is corpus-sized on the
driver, nothing shuffles more than the register/cell keyspace.

References: Flajolet, Fusy, Gandouet & Meunier, "HyperLogLog: the
analysis of a near-optimal cardinality estimation algorithm" (AofA
2007); Cormode & Muthukrishnan, "An improved data stream summary: the
count-min sketch and its applications" (J. Algorithms 2005).

Reference parity: the reference engine exposes count-distinct stats
(reference: ftm_columnstore/query.py aggregation paths) exactly; these
sketches are the approximate, scale-first siblings for cardinalities
where exact distinct would shuffle the full keyspace.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ftm_columnstore_spark.lifecycle import persist, persisting

#: md5-60bit hash family (shared contract with operators/dedup.py —
#: DuckDB mirror: ``('0x'||substr(md5(x),1,15))::BIGINT``)
_HASH_BITS = 60


def _md5_60bit(col: Column) -> Column:
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
    ).cast("long")


def _hll_alpha(m: int) -> float:
    """Bias-correction constant from Flajolet+ 2007, Fig. 3."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    col: str,
    p: int = 6,
    group_by: list[str] | None = None,
) -> DataFrame:
    """The HLL register relation for ``col``: (``group_by`` columns,
    ``reg_idx``, ``reg_rho``) with ≤ 2^p rows per group — THE mergeable
    sketch state. Register index = low ``p`` bits of the 60-bit md5
    hash; rank = leading zeros of the remaining ``60-p`` bits + 1,
    computed as ``(60-p) - length(bin(w)) + 1`` — ``bin()`` exists with
    identical semantics in Spark and DuckDB, so the rank is exact
    integer arithmetic (no float log2, whose double rounding misassigns
    ranks near powers of two).

    One partial-aggregatable groupBy; streaming-compatible (a windowed
    ``group_by`` turns this into per-window register state — see
    ``tests/test_sketches.py``). Materialize it as the incremental
    summary (per day / per shard / per source) and combine with
    :func:`hll_merge` + :func:`hll_estimate_from_registers`: max-merge
    is exactly how a 1000-executor rollup avoids ever re-scanning
    history."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    g = list(group_by or [])
    m = 1 << p
    maxbits = _HASH_BITS - p
    h = _md5_60bit(F.col(col))
    # w = h DIV m via SQL integer division — a double division would
    # lose bits above 2^53
    base = (
        df.where(F.col(col).isNotNull())
        .select(*g, h.alias("__h"))
        .select(
            *g,
            F.pmod(F.col("__h"), F.lit(m)).alias("reg_idx"),
            F.expr(f"__h DIV {m}").alias("__w"),
        )
    )
    rho = F.when(
        F.col("__w") > 0, F.lit(maxbits) - F.length(F.bin("__w")) + 1
    ).otherwise(F.lit(maxbits + 1))
    return (
        base.select(*g, "reg_idx", rho.alias("reg_rho"))
        .groupBy(*g, "reg_idx")
        .agg(F.max("reg_rho").alias("reg_rho"))
    )


def hll_merge(*regs: DataFrame, group_by: list[str] | None = None) -> DataFrame:
    """Combine register relations (from :func:`hll_registers`, possibly
    different days/shards/streams): union + per-register max — the
    lossless HLL merge (the merged sketch equals the sketch of the
    concatenated inputs, exactly; asserted in tests)."""
    if not regs:
        raise ValueError("hll_merge needs at least one register relation")
    g = list(group_by or [])
    u = regs[0]
    for r in regs[1:]:
        u = u.unionByName(r)
    return u.groupBy(*g, "reg_idx").agg(F.max("reg_rho").alias("reg_rho"))


def hll_estimate_from_registers(
    regs: DataFrame,
    p: int,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Estimate from a register relation. The indicator sum Σ2^(-rho)
    is scaled by 2^(60-p+1) into an exact int64 (max 2^62, no overflow
    for p ≥ 4), leaving exactly ONE floating-point division for the raw
    estimate. The small-range branch (raw ≤ 2.5m with empty registers)
    uses linear counting ``m·ln(m/V)`` per Flajolet+ 2007; the final
    estimate is rounded to a bigint, absorbing ≤1-ulp ``ln`` library
    variance. Output: ``group_by`` columns + ``n_distinct_est``."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    g = list(group_by or [])
    m = 1 << p
    maxbits = _HASH_BITS - p
    scale_pow = maxbits + 1  # Σ 2^(scale_pow - reg_rho) is exact int64
    alpha_num = _hll_alpha(m) * m * m * float(1 << scale_pow)
    agg = regs.groupBy(*g).agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {scale_pow} - reg_rho)")
        ).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    # empty registers contribute 2^-0 = 1 each (scaled: 2^scale_pow)
    s_total = F.col("__s") + (F.lit(m) - F.col("__n")) * F.lit(
        1 << scale_pow
    ).cast("long")
    v_empty = (F.lit(m) - F.col("__n")).cast("double")
    raw = F.lit(alpha_num) / s_total.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v_empty > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty),
    ).otherwise(raw)
    return agg.select(
        *g, F.floor(est + F.lit(0.5)).cast("long").alias("n_distinct_est")
    )


def hll_cardinality(
    df: DataFrame,
    col: str,
    p: int = 6,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Distinct-count estimate for ``col`` (optionally per group) with
    2^p registers — relative error ≈ 1.04/sqrt(2^p) (p=6 → ~13%,
    p=12 → ~1.6%). Composition of :func:`hll_registers` →
    :func:`hll_estimate_from_registers`: two cascaded
    partial-aggregatable groupBys — register state is ≤ 2^p rows per
    group, never corpus-sized."""
    return hll_estimate_from_registers(
        hll_registers(df, col, p, group_by), p, group_by
    )


def _cms_cell(col: Column, j: int, w: int) -> Column:
    """Row-j CMS cell for a key: md5-60bit of ``j|key`` mod w."""
    return F.pmod(
        _md5_60bit(F.concat(F.lit(f"{j}|"), col.cast("string"))), F.lit(w)
    )


def cms_build(
    df: DataFrame,
    col: str,
    d: int = 4,
    w: int = 1024,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch of ``col``: ``d`` independent md5-salted hash
    rows × ``w`` cells, cell value = (weighted) occurrence count.
    Returns the bounded (j, cell, cnt) relation — ≤ d·w rows total, one
    partial-aggregatable shuffle to build regardless of input size.
    ``weight_col`` values must be non-negative — the CMS
    never-underestimates guarantee assumes monotone cell updates."""
    if d < 1 or w < 1:
        raise ValueError(f"d and w must be >= 1, got d={d}, w={w}")
    c = F.col(col)
    wt = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    return (
        df.where(c.isNotNull())
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            _cms_cell(c, j, w).alias("cell"),
                        )
                        for j in range(d)
                    ]
                )
            ).alias("e"),
            wt.alias("__wt"),
        )
        .groupBy(F.col("e.j").alias("j"), F.col("e.cell").alias("cell"))
        .agg(F.sum("__wt").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Combine CMS relations built with the SAME (d, w): union +
    per-cell sum — the lossless CMS merge (cell counts are linear)."""
    if not sketches:
        raise ValueError("cms_merge needs at least one sketch")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("j", "cell").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    col: str,
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """Point estimates for every key row: est = min over the d probed
    cells — never under the true count (Cormode-Muthukrishnan), over by
    at most ε·N with probability 1-δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉.
    ``cms`` is broadcast (≤ d·w rows). Output: (col, est_count)."""
    c = F.col(col)
    probes = keys.where(c.isNotNull()).select(
        c,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), _cms_cell(c, j, w).alias("cell")
                    )
                    for j in range(d)
                ]
            )
        ).alias("e"),
    ).select(col, F.col("e.j").alias("j"), F.col("e.cell").alias("cell"))
    return (
        probes.join(F.broadcast(cms), on=["j", "cell"], how="left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    col: str,
    threshold: int,
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """Keys whose CMS estimate is ≥ ``threshold`` with their estimates —
    superset of the true heavy hitters (CMS never underestimates, so no
    false negatives; false positives bounded by the sketch width).

    The input is scanned ONCE into a (key, count) relation
    (checkpointed — both the sketch build and the probe read it); the
    sketch is then built WEIGHTED over distinct keys, which is
    cell-for-cell identical to hashing every occurrence (CMS cells are
    linear sums) while the md5 work drops from per-occurrence to
    per-distinct-key — vocabulary-bounded under Heaps' law, the same
    posture as the BPE trainer (measured on a23: ~1.8 → 1.1s solo at
    sf0.1). The probe side reuses the counted relation, replacing the
    former second scan + distinct shuffle."""
    if threshold < 1:
        raise ValueError(f"threshold must be >= 1, got {threshold}")
    counted = (
        df.where(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("__occ"))
        .localCheckpoint(eager=True)
    )
    cms = cms_build(counted, col, d, w, weight_col="__occ")
    return cms_estimate(cms, counted.select(col), col, d, w).filter(
        F.col("est_count") >= threshold
    )


def profile_cardinalities(
    df: DataFrame,
    cols: list[str] | None = None,
    p: int = 8,
) -> DataFrame:
    """One-pass distinct-cardinality profile: HLL estimate per column
    (the first question against any unfamiliar 100 TB table — which
    columns are keys, which are categories — answered without one
    count-distinct shuffle per column). Columns are stacked into
    (column, value) pairs map-side, then a single grouped register
    aggregation covers all of them; state is ≤ len(cols)·2^p rows.
    Output: (column, n_distinct_est), one row per profiled column."""
    from ftm_columnstore_spark.functions.text import fan_out

    names = cols if cols is not None else df.columns
    if not names:
        raise ValueError("profile_cardinalities needs at least one column")
    # the stacked explode multiplies rows by len(cols) and md5-hashes
    # every value; on a single-split local input that all ran on ONE
    # core (measured r08: 3.6s of single-task CPU at sf0.1). fan_out
    # parallelizes the map side; no-op on real multi-split scans, and
    # the register aggregation is keyed — partitioning-invariant.
    stacked = fan_out(df).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in names
                ]
            )
        ).alias("e")
    ).select(F.col("e.column").alias("column"), F.col("e.value").alias("value"))
    return hll_cardinality(stacked, "value", p=p, group_by=["column"])


def profile_columns(
    df: DataFrame,
    cols: list[str] | None = None,
    p: int = 8,
) -> DataFrame:
    """Full one-pass column profile: (column, n_values, n_nulls,
    n_distinct_est, min_value, max_value) for every profiled column
    from a SINGLE stacked scan + one register aggregation — nulls ride
    along as a sentinel register (idx = -1) carrying their count, so
    null statistics cost no extra pass and never pollute the HLL
    estimate; min/max ride the registers too (min of per-register
    minima is the exact global min). Values are compared as STRINGS
    (the stacked representation), so numeric columns get lexicographic
    bounds — exact-typed extrema belong to a per-column agg. The
    Deequ-style table profile at 100 TB: one map-only scan, state ≤
    len(cols)·(2^p + 1) rows."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    names = cols if cols is not None else df.columns
    if not names:
        raise ValueError("profile_columns needs at least one column")
    from ftm_columnstore_spark.functions.text import fan_out

    m = 1 << p
    maxbits = _HASH_BITS - p
    scale_pow = maxbits + 1
    alpha_num = _hll_alpha(m) * m * m * float(1 << scale_pow)
    # same single-split parallelization as profile_cardinalities: the
    # len(cols)x stacked explode + per-value md5 is the scan-side cost
    stacked = fan_out(df).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in names
                ]
            )
        ).alias("e")
    ).select("e.column", "e.value")
    h = _md5_60bit(F.col("value"))
    keyed = stacked.select(
        "column",
        "value",
        F.when(F.col("value").isNull(), F.lit(-1))
        .otherwise(F.pmod(h, F.lit(m)))
        .alias("reg_idx"),
        F.when(F.col("value").isNull(), F.lit(0))
        .otherwise(
            F.when(
                F.expr(
                    f"CAST(conv(substr(md5(value),1,15),16,10) AS BIGINT)"
                    f" DIV {m}"
                )
                > 0,
                F.lit(maxbits)
                - F.length(
                    F.bin(
                        F.expr(
                            f"CAST(conv(substr(md5(value),1,15),16,10)"
                            f" AS BIGINT) DIV {m}"
                        )
                    )
                )
                + 1,
            ).otherwise(F.lit(maxbits + 1))
        )
        .alias("reg_rho"),
    )
    regs = keyed.groupBy("column", "reg_idx").agg(
        F.max("reg_rho").alias("reg_rho"),
        F.count(F.lit(1)).alias("cnt"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    nonnull = F.col("reg_idx") >= 0
    agg = regs.groupBy("column").agg(
        F.sum(
            F.when(
                nonnull,
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), {scale_pow} - reg_rho)"
                ),
            )
        ).alias("__s"),
        F.count(F.when(nonnull, F.lit(1))).alias("__n"),
        F.coalesce(
            F.sum(F.when(~nonnull, F.col("cnt"))), F.lit(0)
        ).alias("n_nulls"),
        F.coalesce(
            F.sum(F.when(nonnull, F.col("cnt"))), F.lit(0)
        ).alias("n_values"),
        F.min(F.when(nonnull, F.col("vmin"))).alias("min_value"),
        F.max(F.when(nonnull, F.col("vmax"))).alias("max_value"),
    )
    s_total = F.coalesce(F.col("__s"), F.lit(0)) + (
        F.lit(m) - F.col("__n")
    ) * F.lit(1 << scale_pow).cast("long")
    v_empty = (F.lit(m) - F.col("__n")).cast("double")
    raw = F.lit(alpha_num) / s_total.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v_empty > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty),
    ).otherwise(raw)
    return agg.select(
        "column",
        "n_values",
        "n_nulls",
        F.when(
            F.col("n_values") == 0, F.lit(0)
        )
        .otherwise(F.floor(est + F.lit(0.5)))
        .cast("long")
        .alias("n_distinct_est"),
        "min_value",
        "max_value",
    )


# --- Bloom filter (portable) ---------------------------------------------

#: Probe-side broadcast bound: the bloom word table is m_bits/64 rows of
#: two longs; past this the broadcast that makes probing map-only stops
#: being free. The threshold IS the contract (house rule) — raise it
#: consciously or shard the key space across several filters.
MAX_BLOOM_BITS = 1 << 28  # 256 Mbit = 8M 32-bit words ≈ 128 MB broadcast


def _bloom_pos(col: Column, j: int, m_bits: int) -> Column:
    """Probe-j bit position for a key: md5-60bit of ``j|key`` mod m —
    the same salted family as the CMS cells (DuckDB mirror:
    ``('0x'||substr(md5(j||'|'||key),1,15))::BIGINT % m``)."""
    return F.pmod(
        _md5_60bit(F.concat(F.lit(f"{j}|"), col.cast("string"))),
        F.lit(m_bits),
    )


def _check_bloom_params(m_bits: int, k: int) -> None:
    if m_bits < 32 or m_bits % 32 != 0:
        raise ValueError(
            f"m_bits must be a positive multiple of 32, got {m_bits}"
        )
    if m_bits > MAX_BLOOM_BITS:
        raise ValueError(
            f"m_bits={m_bits} exceeds MAX_BLOOM_BITS={MAX_BLOOM_BITS}: the "
            "word table is broadcast on probe, so the bound is the "
            "broadcast budget. Shard keys across several filters, or pass "
            "a larger bound consciously."
        )
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")


def bloom_build(
    df: DataFrame, col: str, m_bits: int = 1 << 16, k: int = 4
) -> DataFrame:
    """Bloom filter (Bloom, CACM 1970) of ``col``: ``k`` md5-salted bit
    positions per key over an ``m_bits``-bit array, packed as 32-bit
    words (32, not 64: engines differ on shifting into the sign bit —
    DuckDB raises on ``1::BIGINT << 63`` — so the portable lane stays
    below it). Returns the bounded (word_idx, bits) relation —
    ≤ m_bits/32 rows, one distinct + one sum shuffle to build
    regardless of input size (the OR of distinct single-bit values is
    an exact integer sum).

    No false negatives ever; false-positive rate ≈ (1−e^{−kn/m})^k.
    Like the HLL/CMS siblings the hash family is engine-portable, so
    the filter can be built by one engine and probed by another."""
    _check_bloom_params(m_bits, k)
    c = F.col(col)
    pos = (
        df.where(c.isNotNull())
        .select(
            F.explode(
                F.array(*[_bloom_pos(c, j, m_bits) for j in range(k)])
            ).alias("pos")
        )
        .select(
            (F.col("pos") / 32).cast("long").alias("word_idx"),
            F.pmod(F.col("pos"), F.lit(32)).alias("bit"),
        )
        .distinct()
    )
    return pos.groupBy("word_idx").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")).alias(
            "bits"
        )
    )


def bloom_merge(*blooms: DataFrame) -> DataFrame:
    """Combine word tables built with the SAME (m_bits, k): union +
    per-word bitwise OR — the lossless Bloom merge (the merged filter
    equals the filter of the concatenated inputs, exactly; asserted in
    tests). ``bit_or`` is a native aggregate in both Spark and DuckDB,
    so merged filters stay engine-portable. This is how per-shard /
    per-day filters roll up without re-scanning history — same
    pattern as :func:`hll_merge` (max) and :func:`cms_merge` (sum)."""
    if not blooms:
        raise ValueError("bloom_merge needs at least one word table")
    u = blooms[0]
    for b in blooms[1:]:
        u = u.unionByName(b)
    return u.groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))


def bloom_might_contain(
    bloom: DataFrame,
    keys: DataFrame,
    col: str,
    m_bits: int,
    k: int = 4,
) -> DataFrame:
    """Membership probe for every DISTINCT key: (col, might_contain).
    ``might_contain`` false is definitive (no false negatives); true is
    probabilistic per the filter's fp rate. The word table (≤ m_bits/32
    rows) is broadcast, so the probe is one map-side join + a
    per-key AND over the k probes — no corpus-sized shuffle."""
    _check_bloom_params(m_bits, k)
    c = F.col(col)
    probes = (
        keys.where(c.isNotNull())
        .select(c.alias("__key"))
        .distinct()
        .select(
            "__key",
            F.explode(
                F.array(
                    *[_bloom_pos(F.col("__key"), j, m_bits) for j in range(k)]
                )
            ).alias("pos"),
        )
        .select(
            "__key",
            (F.col("pos") / 32).cast("long").alias("word_idx"),
            F.pmod(F.col("pos"), F.lit(32)).alias("bit"),
        )
    )
    hit = (
        F.coalesce(F.col("bits"), F.lit(0))
        .bitwiseAND(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"))
        != 0
    ).cast("int")
    return (
        probes.join(F.broadcast(bloom), on="word_idx", how="left")
        .select("__key", hit.alias("__hit"))
        .groupBy("__key")
        .agg((F.min("__hit") == 1).alias("might_contain"))
        .select(F.col("__key").alias(col), "might_contain")
    )


def word_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str | None = None,
    n: int = 3,
) -> DataFrame:
    """Word n-grams as space-joined strings — (gram) or (id, gram) rows,
    per-document DISTINCT. Rides the Arrow-batched ``shingle_rows``
    pass: higher-order ``transform``/``slice``/``array_join`` lambdas
    run on Spark's interpreted expression path, and the HOF form of
    this derivation measured 4.0s for a 258k-gram corpus vs ~0.8s
    batched (the same 5-6× cliff ``shingle_sets`` documents). Docs with
    fewer than ``n`` tokens yield nothing — the input is pre-filtered
    (cheap codegen'd size check) so shingle_rows' whole-document-
    shingle convention for short docs never fires; at exactly ``n``
    tokens the whole-doc shingle IS the single n-gram. Still narrow:
    zero shuffles."""
    from ftm_columnstore_spark.functions.text import (
        shingle_rows,
        word_tokens_col,
    )

    eligible = df.where(F.col(text_col).isNotNull()).where(
        F.size(word_tokens_col(text_col)) >= n
    )
    if id_col:
        return shingle_rows(eligible, text_col, id_col, n).select(
            "id", F.col("shingle").alias("gram")
        )
    rows = shingle_rows(
        eligible.withColumn("__wid", F.monotonically_increasing_id()),
        text_col,
        "__wid",
        n,
    )
    return rows.select(F.col("shingle").alias("gram"))


@persisting
def bloom_ngram_hits(
    corpus: DataFrame,
    bloom: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    m_bits: int = 1 << 16,
    k: int = 2,
) -> DataFrame:
    """Per-document contamination report against a PREBUILT bench-gram
    Bloom filter (built once via :func:`bloom_build` over
    :func:`word_ngrams` — the streaming ingest path persists it across
    micro-batches). Output and semantics identical to
    :func:`bloom_ngram_decontaminate`, which is this plus the build."""
    # persist + eager materialize: BOTH the probe side and the per-doc
    # join consume doc_grams — without it Catalyst re-runs the corpus
    # gram pass on each side. (id, gram) is already distinct — the
    # Arrow pass dedups within each document — so no extra shuffle
    # here.
    doc_grams = persist(word_ngrams(corpus, text_col, id_col, n))
    doc_grams.count()
    # one probe per DISTINCT gram (vocabulary-bounded), joined back to
    # the (id, gram) pairs — the md5 probe work never scales with
    # per-doc repetition
    flags = bloom_might_contain(
        bloom, doc_grams.select("gram"), "gram", m_bits, k
    )
    per_doc = (
        doc_grams.join(flags, on="gram")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("might_contain").cast("long")).alias("n_hits"),
        )
    )
    return per_doc.where(F.col("n_hits") > 0).select(
        "id",
        "n_grams",
        "n_hits",
        F.round(
            F.col("n_hits").cast("double") / F.col("n_grams").cast("double"),
            6,
        ).alias("hit_rate"),
    )


def bloom_ngram_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    m_bits: int = 1 << 16,
    k: int = 2,
) -> DataFrame:
    """Benchmark decontamination via a Bloom sketch of the bench set's
    word n-grams: per corpus document, how many of its DISTINCT
    n-grams (maybe-)appear in the benchmark. Output: (id, n_grams,
    n_hits, hit_rate) for documents with at least one hit; hit_rate
    rounded to 6 dp. No false negatives — a clean report is exact; hits
    are a superset bounded by the filter's fp rate.

    This is the scale path next to the exact-join decontamination
    (``operators/sampling.py:ngram_overlap``): when the bench set is
    too large to shuffle against the corpus, its n-grams collapse into
    an m_bits-bit broadcast and the corpus side stays map-local —
    probing costs one distinct over corpus n-grams (vocabulary-bounded)
    + doc-keyed aggregation, never a bench×corpus shuffle. Composition
    of :func:`bloom_build` over :func:`word_ngrams` +
    :func:`bloom_ngram_hits`; streaming ingest builds the filter once
    and calls the hits probe per micro-batch."""
    bloom = bloom_build(
        word_ngrams(bench, text_col, None, n), "gram", m_bits, k
    )
    return bloom_ngram_hits(corpus, bloom, text_col, id_col, n, m_bits, k)


# --- KMV (k-minimum-values) sketch ---------------------------------------


def kmv_sketch(df: DataFrame, col: str, k: int = 1024) -> DataFrame:
    """KMV distinct-value sketch (Bar-Yossef+ RANDOM'02; Beyer+
    SIGMOD'07): the ``k`` smallest DISTINCT md5-60bit hash values of
    ``col``, as a bounded (hv) relation — ≤ k rows. Unlike HLL it
    supports SET OPERATIONS: the union sketch is the k smallest of the
    concatenated sketches, and the shared fraction of the union's
    k-minima estimates Jaccard (:func:`kmv_jaccard`) — the
    corpus-diagnostic "how much vocabulary do these two sources share?"
    question answered from two k-row artifacts, no corpus join.

    Deterministic end-to-end: the hash family is the repo's portable
    md5-60bit, the k-cut is an ORDER BY hash LIMIT k
    (TakeOrderedAndProject — partial top-k per partition), so any
    engine reproduces the sketch bit-for-bit."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    c = F.col(col)
    return (
        df.where(c.isNotNull())
        .select(_md5_60bit(c).alias("hv"))
        .distinct()
        .orderBy("hv")
        .limit(int(k))
    )


def kmv_distinct_estimate(sketch: DataFrame, k: int = 1024) -> DataFrame:
    """Distinct-count estimate from a KMV sketch: when the sketch holds
    fewer than ``k`` values the count is EXACT (every distinct hash is
    present); otherwise est = (k−1) / θ with θ = h_(k)/2^60 (the
    classic KMV estimator), computed as one correctly-rounded double
    division — (k−1)·2^60 and h_(k) are both exactly representable —
    and rounded to a bigint. Output: ONE row (n_distinct_est)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    agg = sketch.agg(
        F.count(F.lit(1)).alias("__n"), F.max("hv").alias("__hk")
    )
    est = F.when(F.col("__n") < k, F.col("__n").cast("double")).otherwise(
        F.lit(float((k - 1) * (1 << _HASH_BITS)))
        / F.col("__hk").cast("double")
    )
    return agg.select(
        F.floor(est + F.lit(0.5)).cast("long").alias("n_distinct_est")
    )


def kmv_jaccard(
    a: DataFrame, b: DataFrame, k: int = 1024
) -> DataFrame:
    """Jaccard similarity + overlap estimates of two DISTINCT-value
    sets from their KMV sketches (Beyer+ SIGMOD'07 §4): take the union
    sketch U = k smallest of A ∪ B (when the union holds fewer than k
    hashes the result is EXACT — the sketches ARE the sets); the
    fraction of U's minima present in BOTH sketches estimates J, and
    J × |A ∪ B|-estimate gives the intersection size. Output: ONE row
    (n_shared, n_union_minima, jaccard_est, union_est,
    intersection_est) — jaccard_est = n_shared/n_union_minima is one
    exact IEEE division rounded to 6 dp.

    Every relation in sight is ≤ k rows, so the joins are trivial at
    any corpus scale — the heavy lifting happened in the two sketch
    builds (one scan each, ever)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    ua = a.select(F.col("hv"), F.lit(1).alias("__a"))
    ub = b.select(F.col("hv"), F.lit(1).alias("__b"))
    both = (
        ua.join(ub, on="hv", how="full_outer")
        .select(
            "hv",
            (F.coalesce(F.col("__a"), F.lit(0)) == 1).alias("in_a"),
            (F.coalesce(F.col("__b"), F.lit(0)) == 1).alias("in_b"),
        )
        .orderBy("hv")
        .limit(int(k))
    )
    agg = both.agg(
        F.count(F.lit(1)).alias("n_union_minima"),
        F.sum((F.col("in_a") & F.col("in_b")).cast("long")).alias(
            "n_shared"
        ),
        F.max("hv").alias("__hk"),
    )
    union_est = F.when(
        F.col("n_union_minima") < k,
        F.col("n_union_minima").cast("double"),
    ).otherwise(
        F.lit(float((k - 1) * (1 << _HASH_BITS)))
        / F.col("__hk").cast("double")
    )
    j = F.col("n_shared").cast("double") / F.col(
        "n_union_minima"
    ).cast("double")
    return agg.select(
        "n_shared",
        "n_union_minima",
        F.round(j, 6).alias("jaccard_est"),
        F.floor(union_est + F.lit(0.5)).cast("long").alias("union_est"),
        F.floor(j * union_est + F.lit(0.5))
        .cast("long")
        .alias("intersection_est"),
    )


# ---------------------------------------------------------------------------
# log2 histogram: a mergeable quantile sketch with EXACT bucket math
# ---------------------------------------------------------------------------


def log2_bucket(col: Column | str) -> Column:
    """Exact log2 bucket of a non-negative integer: 0 for 0, else
    floor(log2(x)) + 1 = the value's bit length, computed as
    ``length(bin(x))`` — pure string/integer ops, no floating-point
    log, so every engine agrees at every power-of-two boundary (the
    place float log2 is famously one ulp off). Negative values map to
    bucket -1 (callers decide whether that is an error).

    DuckDB mirror: ``CASE WHEN x < 0 THEN -1 WHEN x = 0 THEN 0
    ELSE length(bin(x)) END`` (both engines print minimal binary
    digits for non-negative integers)."""
    c = F.col(col) if isinstance(col, str) else col
    b = c.cast("long")
    return (
        F.when(b < 0, F.lit(-1))
        .when(b == 0, F.lit(0))
        .otherwise(F.length(F.bin(b)))
        .cast("int")
    )


def log2_histogram(
    df: DataFrame, col: str, group_by: list[str] | None = None
) -> DataFrame:
    """Mergeable log-scale histogram (the integer-exact cousin of
    DDSketch with gamma=2 — Masson, Rim & Lee, VLDB'19): one hash
    aggregation over ≤ 66 buckets per group, so the sketch is
    map-side-combinable, losslessly mergeable (counts add), and
    byte-identical in any engine — the bucket function is string
    length of the binary representation, not a float log.

    Relative error of any quantile read off the sketch is bounded by
    the bucket width (value within [2^(b-1), 2^b-1] — a factor of 2);
    tighter needs more buckets, which this deliberately does not do:
    the point is a ~66-row artifact per group that survives merging
    across 100k partitions/days/sources without renormalization.

    100 TB shape: groupBy(group_by + bucket).count() — partial
    aggregation does almost all the work map-side (the reduce keyspace
    is |groups| × 66). NULLs are dropped (they carry no magnitude).

    Output: group_by columns + (bucket int, cnt long)."""
    keys = list(group_by or [])
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(*keys, log2_bucket(col).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def log2_histogram_merge(
    *hists: DataFrame, group_by: list[str] | None = None
) -> DataFrame:
    """Lossless merge of log2 histograms: counts add per (group,
    bucket). Merging N sketches then reading a quantile is EXACTLY the
    sketch of the concatenated input — the property that makes the
    per-shard/per-day artifacts composable."""
    if not hists:
        raise ValueError("need at least one histogram")
    keys = list(group_by or [])
    out = hists[0]
    for h in hists[1:]:
        out = out.unionByName(h)
    return out.groupBy(*keys, "bucket").agg(
        F.sum("cnt").alias("cnt")
    )


def log2_histogram_quantile(
    hist: DataFrame,
    probs: list[float],
    group_by: list[str] | None = None,
) -> DataFrame:
    """Quantile read-off from a log2 histogram: per group and
    probability p, the smallest bucket whose cumulative count covers p
    (rule: min bucket with cum/n >= p; both sides of the comparison
    are correctly-rounded doubles of exact integers, so every IEEE
    engine picks the same bucket). Returns the bucket plus its EXACT
    value bounds lo = 2^(b-1), hi = 2^b - 1 (b=0 -> [0,0]).

    The histogram is ≤ 66 rows per group, so the window cumsum and the
    probs cross-join are driver-trivial at any corpus scale — the cost
    lives in the one build scan.

    Output: group_by + (prob double, bucket int, lo long, hi long)."""
    if not probs:
        raise ValueError("probs must be non-empty")
    for p in probs:
        if not (0.0 < p <= 1.0):
            raise ValueError(f"prob out of (0, 1]: {p}")
    keys = list(group_by or [])
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys).orderBy("bucket")
        if keys
        else Window.partitionBy().orderBy("bucket")
    )
    # cum/cnt windows run over the ≤66-bucket relation per group —
    # the no-partition variant (ungrouped sketch) is bounded by
    # construction, honoring the with_rank house contract.
    cum = hist.select(
        *keys,
        "bucket",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt")
        .over(
            Window.partitionBy(*keys)
            if keys
            else Window.partitionBy()
        )
        .alias("n"),
    )
    pl = F.explode(
        F.array(*[F.lit(float(p)) for p in probs])
    ).alias("prob")
    hit = (
        cum.select(*keys, "bucket", "cum", "n", pl)
        .where(
            F.col("cum").cast("double") / F.col("n").cast("double")
            >= F.col("prob")
        )
        .groupBy(*keys, "prob")
        .agg(F.min("bucket").alias("bucket"))
    )
    # SQL-expression shifts: the pyspark shiftleft() wrapper takes a
    # literal int shift amount, not a Column
    lo = F.when(F.col("bucket") <= 0, F.lit(0)).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)")
    )
    hi = F.when(F.col("bucket") <= 0, F.lit(0)).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), bucket)") - 1
    )
    return hit.select(
        *keys,
        "prob",
        "bucket",
        lo.cast("long").alias("lo"),
        hi.cast("long").alias("hi"),
    )


# ---------------------------------------------------------------------------
# moments sketch: exact integer power sums, mergeable by addition
# ---------------------------------------------------------------------------

#: decimal type wide enough that power sums never overflow at 100 TB
#: (38 digits; int64 inputs cubed are ≤ 57 digits ONLY for pathological
#: full-range values — callers with >12-digit inputs should pre-scale)
_MOM_DEC = "decimal(38,0)"


def moments_sketch(
    df: DataFrame, col: str, group_by: list[str] | None = None
) -> DataFrame:
    """Power-sum moments sketch over an integer column (the exact
    spine of the Moments sketch of Gan, Ding, Tai, Sharan & Bailis,
    VLDB'18): per group, (m0=count, m1=Σx, m2=Σx², m3=Σx³) with the
    sums carried as DECIMAL(38,0) — EXACT integers, so merging is
    plain addition and every engine reproduces the sketch
    bit-for-bit. Mean/variance/skew derive from the moments at read
    time (:func:`moments_stats`); the sketch itself never touches a
    float.

    100 TB shape: one map-side-combinable aggregation; state is 4
    numbers per group. NULLs dropped.

    Output: group_by + (m0 long, m1, m2, m3 decimal(38,0))."""
    keys = list(group_by or [])
    x = F.col(col).cast(_MOM_DEC)
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("m0"),
            F.sum(x).cast(_MOM_DEC).alias("m1"),
            F.sum(x * F.col(col).cast("long")).cast(_MOM_DEC).alias("m2"),
            F.sum(
                x
                * F.col(col).cast("long")
                * F.col(col).cast("long")
            )
            .cast(_MOM_DEC)
            .alias("m3"),
        )
    )


def moments_merge(
    *sketches: DataFrame, group_by: list[str] | None = None
) -> DataFrame:
    """Lossless moments merge: component-wise sum per group — the
    merged sketch equals the sketch of the concatenated input
    exactly (integer addition is associative; no renormalization)."""
    if not sketches:
        raise ValueError("need at least one sketch")
    keys = list(group_by or [])
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*keys).agg(
        F.sum("m0").alias("m0"),
        F.sum("m1").cast(_MOM_DEC).alias("m1"),
        F.sum("m2").cast(_MOM_DEC).alias("m2"),
        F.sum("m3").cast(_MOM_DEC).alias("m3"),
    )


def moments_stats(sketch: DataFrame) -> DataFrame:
    """Mean / variance / skewness read-off from a moments sketch.
    Mean and variance are computed ENTIRELY in decimal — one exact
    half-up division each, engine-portable to the digit. Skewness is
    the one stat that needs a sqrt; its tail is the established IEEE
    chain (exact products, correctly-rounded divisions, identical op
    order in the oracle — a 6-dp boundary can still differ by one ulp
    across engines, tolerance-pinned in tests). Population variance:
    var = (m0·m2 − m1²) / m0²; skew = (m0²·m3 − 3·m0·m1·m2 + 2·m1³)
    / (m0³·sd³).

    Output: group keys + m0 + (mean, variance, skewness) doubles
    rounded to 6 dp (skewness NULL when variance is 0)."""
    keys = [c for c in sketch.columns if c not in ("m0", "m1", "m2", "m3")]
    m0 = F.col("m0").cast(_MOM_DEC)
    m1, m2, m3 = F.col("m1"), F.col("m2"), F.col("m3")
    # mean and variance are RATIONAL in the power sums, so their 6-dp
    # read-off is ONE exact decimal division each (Spark rounds the
    # exact quotient HALF_UP to the result scale — no double enters, so
    # any engine with exact integer arithmetic reproduces the digits;
    # the oracle replays it as HUGEINT floor((2e6*num + den)/(2*den))).
    # A round(double, 6) here is NOT portable: a hypothesis sweep found
    # variance of [0, 0, 104840] rounding .222222 vs .222223 across
    # engines when the quotient lands on a representation boundary.
    # Skewness needs a sqrt, so it stays on the established IEEE tail
    # (identical op order both sides); its intermediates keep the
    # double divisions below.
    mean_exact = m1.cast(_MOM_DEC) / m0
    var_exact = (m0 * m2 - m1 * m1) / (m0 * m0)
    var_num = (m0 * m2 - m1 * m1).cast("double")
    den = (m0 * m0).cast("double")
    var = var_num / den
    skew_num = (
        m0 * m0 * m3 - F.lit(3).cast(_MOM_DEC) * m0 * m1 * m2
        + F.lit(2).cast(_MOM_DEC) * m1 * m1 * m1
    ).cast("double")
    sd = F.sqrt(var)
    skew = F.when(
        var_num > 0,
        skew_num / ((m0 * m0 * m0).cast("double") * sd * sd * sd),
    )
    return sketch.select(
        *keys,
        "m0",
        F.round(mean_exact, 6).cast("double").alias("mean"),
        F.round(var_exact, 6).cast("double").alias("variance"),
        F.round(skew, 6).alias("skewness"),
    )


@persisting
def ks_drift(
    a: DataFrame,
    b: DataFrame,
    col: str,
    n_buckets: int = 256,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the
    distributions of ``col`` in two relations — the one-number drift
    check between corpus snapshots / sources ("did this source's
    length distribution move?"), D = sup_x |F_a(x) − F_b(x)|,
    evaluated at every distinct value (sufficient: empirical CDFs are
    step functions that only move there).

    Plan: both sides tag-union into ONE scan; per-distinct-value
    conditional counts are the only corpus-sized shuffle (map-side
    combinable). The cumulative counts are a DISTRIBUTED PREFIX SUM in
    VALUE order (the take_budget shape, but bucketed by value range,
    not hash): one cheap min/max agg fixes the range, values land in
    ``n_buckets`` equal-width range buckets, per-bucket subtotals (≤
    n_buckets rows) become driver-side offsets broadcast back, and
    each bucket cumsums in parallel (window PARTITIONED by bucket) —
    no single-partition global window ever sees the value relation.
    Caveat: equal-width buckets skew when the value distribution is
    extremely concentrated; raise ``n_buckets`` or pre-transform — the
    window cost is per-bucket, correctness is unaffected.

    Determinism: counts are exact integers; F_a/F_b are one IEEE
    division each from identical integers; |diff| and the (diff DESC,
    value) TakeOrderedAndProject are exact; the reported statistic is
    rounded 6 dp at the end only.

    Output: ONE row (d_stat, at_value, n_a, n_b) — at_value is the
    smallest value attaining the sup."""
    if not 1 <= n_buckets <= 65536:
        raise ValueError(f"n_buckets must be in [1, 65536], got {n_buckets}")
    from pyspark.sql import Window

    c = F.col(col)
    tagged = (
        a.where(c.isNotNull()).select(c.alias("v"), F.lit(0).alias("side"))
    ).unionByName(
        b.where(c.isNotNull()).select(c.alias("v"), F.lit(1).alias("side"))
    )
    # persist: the distinct-value relation (never corpus-sized) feeds
    # THREE consumers — the min/max range agg, the per-bucket subtotal
    # collect and the final cumsum; without it the corpus-sized
    # conditional-count shuffle re-executes for each
    counts = tagged.groupBy("v").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("cb"),
    ).transform(persist)
    lo, hi = counts.agg(F.min("v"), F.max("v")).first()
    if lo is None:
        raise ValueError(f"ks_drift: no non-null values in column {col!r}")
    span = (hi - lo) or 1
    base = counts.withColumn(
        "__b",
        F.least(
            F.floor(
                (F.col("v") - F.lit(lo))
                / F.lit(span)
                * F.lit(n_buckets)
            ).cast("int"),
            F.lit(n_buckets - 1),
        ),
    )
    subs = (
        base.groupBy("__b")
        .agg(F.sum("ca").alias("sa"), F.sum("cb").alias("sb"))
        .collect()
    )
    offs, acc_a, acc_b, tot_a, tot_b = {}, 0, 0, 0, 0
    for r in sorted(subs, key=lambda r: r["__b"]):
        offs[r["__b"]] = (acc_a, acc_b)
        acc_a += r["sa"]
        acc_b += r["sb"]
    tot_a, tot_b = acc_a, acc_b
    if tot_a == 0 or tot_b == 0:
        raise ValueError(
            f"ks_drift: one side has no non-null values in {col!r}"
        )
    spark = a.sparkSession
    off_df = spark.createDataFrame(
        [(b_, oa, ob) for b_, (oa, ob) in offs.items()],
        "__b int, __oa bigint, __ob bigint",
    )
    w = (
        Window.partitionBy("__b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        base.join(F.broadcast(off_df), on="__b")
        .withColumn("__cuma", F.sum("ca").over(w) + F.col("__oa"))
        .withColumn("__cumb", F.sum("cb").over(w) + F.col("__ob"))
        .select(
            "v",
            F.abs(
                F.col("__cuma").cast("double") / F.lit(float(tot_a))
                - F.col("__cumb").cast("double") / F.lit(float(tot_b))
            ).alias("__diff"),
        )
    )
    best = cum.orderBy(F.col("__diff").desc(), "v").limit(1)
    return best.select(
        F.round(F.col("__diff"), 6).alias("d_stat"),
        F.col("v").alias("at_value"),
        F.lit(tot_a).cast("long").alias("n_a"),
        F.lit(tot_b).cast("long").alias("n_b"),
    )


def correlation_matrix(
    df: DataFrame,
    cols: list[str],
    quant: float = 100.0,
    n_buckets: int = 4096,
    max_cols: int = 16,
) -> DataFrame:
    """Pairwise Pearson correlations across numeric columns in one
    corpus scan — the profiler's "which signals move together" view
    (quality scores vs lengths vs token counts) next to a24/a26's
    per-column profiles.

    Each unordered pair accumulates pairwise-complete sums (n, Σx, Σy,
    Σx², Σy², Σxy over rows where BOTH sides are non-null — the
    standard pairwise-deletion convention, so one sparse column does
    not null out the whole matrix).

    Determinism WITHOUT per-row BigDecimal: values quantize to exact
    integer longs q = floor(x·quant + 0.5) (pure double ops + one
    cast; exact for money/ratio columns whose true scale divides
    ``quant``, a deterministic ≤0.5/quant perturbation otherwise —
    both engines compute identical q). Pick quant against the value
    magnitude: a SINGLE q² must stay well under 2^63, so
    quant·max|x| ≲ 10^7 (the default 100 covers money columns up to
    ~10^5; finer scales suit ratio columns in [0, 1]). Integer addition is fully
    associative, so the sums are order-independent BY CONSTRUCTION and
    an oracle can sum the same integers any way it likes. The first
    cut instead summed 12-dp-rounded DECIMAL(38,12) per row — measured
    19.2s vs 0.25s for plain doubles at sf0.1 (Spark round() and
    >18-digit decimals both drop to BigDecimal per row, ×30
    accumulators); this design is ~0.5s for the same guarantee.

    Long-overflow discipline: per-row products |qx·qy| bound 2^63 only
    through the TWO-LEVEL sum — stage 1 groups rows into ``n_buckets``
    arbitrary buckets (pmod of a monotonic id — the bucketing need NOT
    be deterministic, any partition of the rows yields the same exact
    totals) and sums longs per bucket (codegen fast path; ANSI mode
    RAISES on overflow rather than wrap — size n_buckets so
    rows_per_bucket · (quant²·max|x|·max|y|) < 2^63); stage 2 sums the
    ≤n_buckets subtotals as DECIMAL(38,0) — exact, and too few rows to
    cost anything. r = (nΣxy − ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)) is
    evaluated on the exact integer sums (÷quant² cancels), one IEEE
    expression per pair, rounded 6 dp, NULL on zero variance.

    ``max_cols`` bounds the stacked-aggregate width (the house
    threshold rule — C(16,2)·6 = 720 agg expressions is the codegen
    comfort ceiling; wider matrices should run as column batches).

    Output: (col_x, col_y, n, corr) for every pair col_x < col_y (in
    the order given), n = pairwise-complete row count."""
    if len(cols) < 2:
        raise ValueError(f"need at least 2 columns, got {len(cols)}")
    if len(cols) > max_cols:
        raise ValueError(
            f"{len(cols)} columns exceeds max_cols={max_cols}; "
            "run column batches instead"
        )
    if quant <= 0:
        raise ValueError(f"quant must be > 0, got {quant}")
    if not 1 <= n_buckets <= 1 << 20:
        raise ValueError(f"n_buckets must be in [1, 2^20], got {n_buckets}")
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]

    def q(c):
        return F.floor(
            F.col(c).cast("double") * F.lit(float(quant)) + F.lit(0.5)
        )

    stage1, stage2 = [], []
    for x, y in pairs:
        qx, qy = q(x), q(y)
        both = qx.isNotNull() & qy.isNotNull()
        vx, vy = F.when(both, qx), F.when(both, qy)
        tag = f"{x}__{y}"
        stage1 += [
            F.count(F.when(both, F.lit(1))).alias(f"n_{tag}"),
            F.sum(vx).alias(f"sx_{tag}"),
            F.sum(vy).alias(f"sy_{tag}"),
            F.sum(vx * vx).alias(f"sxx_{tag}"),
            F.sum(vy * vy).alias(f"syy_{tag}"),
            F.sum(vx * vy).alias(f"sxy_{tag}"),
        ]
        stage2 += [
            F.sum(F.col(f"{k}_{tag}").cast("decimal(38,0)")).alias(
                f"{k}_{tag}"
            )
            for k in ("n", "sx", "sy", "sxx", "syy", "sxy")
        ]
    bucketed = df.withColumn(
        "__b", F.pmod(F.monotonically_increasing_id(), F.lit(n_buckets))
    )
    wide = bucketed.groupBy("__b").agg(*stage1).agg(*stage2)
    parts = []
    for x, y in pairs:
        tag = f"{x}__{y}"
        n = F.col(f"n_{tag}").cast("double")
        sx = F.col(f"sx_{tag}").cast("double")
        sy = F.col(f"sy_{tag}").cast("double")
        sxx = F.col(f"sxx_{tag}").cast("double")
        syy = F.col(f"syy_{tag}").cast("double")
        sxy = F.col(f"sxy_{tag}").cast("double")
        denom = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        parts.append(
            F.struct(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                F.col(f"n_{tag}").cast("long").alias("n"),
                F.round(
                    (n * sxy - sx * sy) / F.nullif(denom, F.lit(0.0)), 6
                ).alias("corr"),
            )
        )
    return wide.select(
        F.explode(F.array(*parts)).alias("p")
    ).select("p.col_x", "p.col_y", "p.n", "p.corr")


@persisting
def ks_drift_by_group(
    df: DataFrame,
    col: str,
    group_col: str,
    max_groups: int = 64,
    max_distinct_values: int = 1_000_000,
) -> DataFrame:
    """Leave-one-out KS drift per group: for every group g, the
    two-sample KS statistic between ``col`` in g and in ALL OTHER
    groups — the "WHICH source drifted" report on top of a29's
    single-number :func:`ks_drift` (run that for one suspect pair;
    run this to find the suspect).

    The sup of |F_g − F_rest| must be evaluated at every step point of
    EITHER side — i.e. at every global distinct value — so the eval
    relation is groups × distinct-values. That cross is the cost
    model, and it is bounded on BOTH axes (the house rule: the
    threshold IS the contract): ``max_groups`` on the group side and
    ``max_distinct_values`` on the value side — a near-unique numeric
    column (raw floats, timestamps) would otherwise make the grid
    |groups|×|corpus|. When the value guard trips, pre-bin the column
    (e.g. ``F.round(col, k)`` or a29's bucketing) and re-run: KS on a
    binned column is the KS of the binned distributions, which is the
    standard large-sample practice. A high-cardinality GROUP column
    wants a29 per slice instead. Plan: ONE corpus-sized shuffle builds
    per-(group, value) counts; the distinct groups (≤max_groups,
    checked via a limit+1 collect) cross the distinct-value relation;
    cumulative counts ride ONE window partitioned by group in value
    order (per-partition size = |distinct values| — the t33
    stratum-window shape); everything after is per-row arithmetic and
    one per-group argmax aggregation (min(struct(-d, v)), no second
    window). Counts are exact integers; F values are one IEEE division
    each; d_stat rounds 6 dp at the read-off.

    Output: (group, d_stat, at_value, n_group, n_rest) — at_value is
    the smallest value attaining the sup."""
    if not 2 <= max_groups <= 4096:
        raise ValueError(f"max_groups must be in [2, 4096], got {max_groups}")
    if max_distinct_values < 2:
        raise ValueError(
            f"max_distinct_values must be >= 2, got {max_distinct_values}"
        )
    from pyspark.sql import Window

    c, g = F.col(col), F.col(group_col)
    base = df.where(c.isNotNull() & g.isNotNull()).select(
        g.alias("g"), c.alias("v")
    )
    gv = persist(base.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt")))
    groups = gv.select("g").distinct().limit(max_groups + 1).collect()
    if len(groups) > max_groups:
        raise ValueError(
            f"{group_col!r} has more than max_groups={max_groups} groups; "
            "the groups x values eval cross would be unbounded — run "
            "ks_drift per suspect slice instead, or raise max_groups."
        )
    if len(groups) < 2:
        raise ValueError(
            f"{group_col!r} has fewer than 2 distinct groups; leave-one-out "
            "drift is undefined (the rest-CDF denominator is zero)."
        )
    groups_df = gv.sparkSession.createDataFrame(
        [(r["g"],) for r in groups], f"g {df.schema[group_col].dataType.simpleString()}"
    )
    values = gv.select("v").distinct()
    # value-side grid guard: limit+1 count, same shape as the group
    # probe — never a full count of an unbounded relation
    if values.limit(max_distinct_values + 1).count() > max_distinct_values:
        raise ValueError(
            f"{col!r} has more than max_distinct_values="
            f"{max_distinct_values} distinct values; the groups x values "
            "eval grid would be unbounded — pre-bin the column (e.g. "
            "round() or bucketize) and re-run, or raise "
            "max_distinct_values."
        )
    totals = gv.groupBy("g").agg(F.sum("cnt").alias("n_g"))
    # grand total as an in-plan broadcast scalar (one row) instead of a
    # driver-side first(): saves the third sequential build job over gv
    # (r09, guide §2.6/§5); exact integer sum either way, so every
    # downstream value is bit-identical.
    grand_df = gv.agg(F.sum("cnt").alias("n_all"))
    # eval grid: every group x every global step point
    grid = F.broadcast(groups_df).crossJoin(values)
    joined = grid.join(gv, on=["g", "v"], how="left").select(
        "g", "v", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # per-group cumulative counts on the grid (window PARTITIONED by
    # group); the GLOBAL cumulative needs no no-partition window —
    # cum_all(v) = Σ_g cum_g(v), a keyed aggregation of the same
    # relation (the a29 rule: never a single-partition global window)
    cum_g_grid = persist(joined.withColumn("cum_g", F.sum("cnt").over(w)))
    vcum = cum_g_grid.groupBy("v").agg(F.sum("cum_g").alias("cum_all"))
    cum = (
        cum_g_grid.join(vcum, on="v")
        .join(totals, on="g")
        .crossJoin(F.broadcast(grand_df))
    )
    fg = F.col("cum_g").cast("double") / F.col("n_g").cast("double")
    fr = (F.col("cum_all") - F.col("cum_g")).cast("double") / (
        F.col("n_all") - F.col("n_g")
    ).cast("double")
    diffed = cum.select(
        "g",
        "v",
        "n_g",
        "n_all",
        F.abs(fg - fr).alias("d"),
    )
    best = diffed.groupBy("g", "n_g", "n_all").agg(
        F.min(
            F.struct((-F.col("d")).alias("nd"), F.col("v").alias("v"))
        ).alias("b")
    )
    return best.select(
        F.col("g").alias("group"),
        F.round(-F.col("b.nd"), 6).alias("d_stat"),
        F.col("b.v").alias("at_value"),
        F.col("n_g").cast("long").alias("n_group"),
        (F.col("n_all") - F.col("n_g")).cast("long").alias("n_rest"),
    )
