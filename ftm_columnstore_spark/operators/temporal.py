"""Temporal join operators (extension; SURVEY §2.3 lists as-of joins as
absent in the reference — they're table stakes for event/feature
pipelines, so the engine provides them Spark-first).

The classic as-of join ("for each left row, the latest right row at or
before its timestamp, per key") is NOT implemented as a range join — a
range join explodes to |left|·|right| per key before filtering. Instead:
union both sides, one window pass per key carrying the last-seen right
row forward. One shuffle on the key, one ordered scan — the same cost
profile as a groupBy, at any scale, with no pair blow-up even for hot
keys."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_right",
    keep_unmatched: bool = False,
) -> DataFrame:
    """For each left row: the latest right row with
    ``right_ts <= left_ts`` sharing the join key(s).

    Output: all left columns + each requested right column renamed with
    ``suffix`` (always applied — predictable names beat conditional
    ones). ``keep_unmatched=False`` mirrors SQL ``ASOF JOIN`` (inner):
    left rows with no prior right row are dropped; ``True`` keeps them
    with nulls (``ASOF LEFT JOIN``).

    Ties (right_ts == left_ts) match, per ASOF convention; among equal
    right timestamps the row with the largest ordering key wins
    deterministically (the window orders by (ts, side, right cols))."""
    keys = [on] if isinstance(on, str) else list(on)
    rcols = right_cols or [c for c in right.columns if c not in keys]

    r = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in rcols]).alias("__r"),
    )
    l = left.withColumn("__ts", F.col(left_ts)).withColumn(
        "__side", F.lit(1)
    )
    u = l.unionByName(r, allowMissingColumns=True)

    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__side", "__r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("__match", F.last("__r", ignorenulls=True).over(w))

    out = u.filter(F.col("__side") == 1)
    if not keep_unmatched:
        out = out.filter(F.col("__match").isNotNull())
    for c in rcols:
        out = out.withColumn(c + suffix, F.col(f"__match.{c}"))
    return out.drop("__ts", "__side", "__r", "__match")


def band_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    lower: float,
    upper: float,
    right_cols: list[str] | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """Interval/range join: all (left, right) pairs sharing the key(s)
    with ``right_ts`` in ``[left_ts + lower, left_ts + upper]``
    (inclusive both ends; for timestamp columns the bounds are seconds).

    NOT implemented as an equi-join on the key with a post-filter: on a
    hot key that materializes |L_k|·|R_k| pairs before filtering. Instead
    the time axis is bucketed at the band width ``w = upper - lower``:
    each right row lands in one bucket, each left row probes exactly two
    (its band spans at most two bucket boundaries), and the join is a
    plain equi-join on (keys…, bucket) followed by the exact band filter.
    Pair expansion is bucket-local — proportional to data density times
    band width, independent of per-key cardinality — and Catalyst still
    sees an ordinary shuffled hash/sort-merge join it can plan with AQE.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if not upper > lower:
        raise ValueError("band_join requires upper > lower")
    rcols = right_cols or [c for c in right.columns if c not in keys]

    lt_type = dict(left.dtypes)[left_ts]
    rt_type = dict(right.dtypes)[right_ts]
    if lt_type.startswith("timestamp") != rt_type.startswith("timestamp"):
        raise ValueError("left_ts and right_ts must both be timestamps or both numeric")
    if lt_type.startswith("timestamp"):
        lt, rt = F.unix_micros(F.col(left_ts)), F.unix_micros(F.col(right_ts))
        lo, hi = int(lower * 1_000_000), int(upper * 1_000_000)
    else:
        lt = F.col(left_ts).cast("double")
        rt = F.col(right_ts).cast("double")
        lo, hi = lower, upper
    w = hi - lo

    r = right.select(
        *keys,
        rt.alias("__rt"),
        F.struct(*[F.col(c) for c in rcols]).alias("__r"),
    ).withColumn("__b", F.floor(F.col("__rt") / F.lit(w)))
    l = (
        left.withColumn("__lt", lt)
        .withColumn("__b0", F.floor((F.col("__lt") + F.lit(lo)) / F.lit(w)))
        .withColumn("__b", F.explode(F.array(F.col("__b0"), F.col("__b0") + 1)))
        .drop("__b0")
    )
    out = l.join(r, keys + ["__b"]).filter(
        (F.col("__rt") >= F.col("__lt") + F.lit(lo))
        & (F.col("__rt") <= F.col("__lt") + F.lit(hi))
    )
    for c in rcols:
        out = out.withColumn(c + suffix, F.col(f"__r.{c}"))
    return out.drop("__lt", "__rt", "__b", "__r")


def funnel(
    events: DataFrame,
    steps: list[str],
    window_seconds: float | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Earliest-completion event funnel — the ClickHouse
    ``windowFunnel`` analytics staple (the reference's backend), as a
    chain of keyed aggregations: per user, ``t1`` is the first
    ``steps[0]`` event, ``t_k`` the first ``steps[k-1]`` event STRICTLY
    after ``t_{k-1}`` and (when ``window_seconds`` is set) within the
    window of ``t1``. ``depth`` is the number of steps completed.

    First-touch anchoring makes the result deterministic and
    order-independent (pure mins — no scan-order state), which is what
    lets any SQL engine replay it for audits; it is the common product-
    analytics definition ("conversion from first view").

    Scale shape: one aggregation + one join PER STEP, all keyed on the
    user column — the first shuffle establishes the partitioning and
    every later stage reuses it (co-partitioned joins; AQE broadcasts
    the shrinking step frontiers when small). Per-user event counts
    bound the work; no windows, no explode.

    Output: (user, t1..tN nullable, depth).
    """
    if len(steps) < 1:
        raise ValueError("steps must name at least one event type")
    if window_seconds is not None and window_seconds <= 0:
        raise ValueError(
            f"window_seconds must be positive, got {window_seconds}"
        )
    e = events.select(
        F.col(user_col).alias("user"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__type"),
    )
    cur = (
        e.where(F.col("__type") == steps[0])
        .groupBy("user")
        .agg(F.min("__ts").alias("t1"))
    )
    deadline = (
        F.col("t1")
        + F.make_dt_interval(secs=F.lit(float(window_seconds)))
        if window_seconds is not None
        else None
    )
    for i, step in enumerate(steps[1:], start=2):
        prev_t = f"t{i - 1}"
        nxt = e.where(F.col("__type") == step).join(cur, on="user")
        cond = F.col("__ts") > F.col(prev_t)
        if deadline is not None:
            cond = cond & (F.col("__ts") <= deadline)
        keys = ["user"] + [f"t{j}" for j in range(1, i)]
        stepped = (
            nxt.where(cond)
            .groupBy(*keys)
            .agg(F.min("__ts").alias(f"t{i}"))
        )
        cur = cur.join(
            stepped.select("user", f"t{i}"), on="user", how="left"
        )
    depth = F.lit(1)
    for i in range(2, len(steps) + 1):
        depth = depth + F.col(f"t{i}").isNotNull().cast("int")
    return cur.select(
        "user",
        *[f"t{i}" for i in range(1, len(steps) + 1)],
        depth.cast("long").alias("depth"),
    )


def retention(
    events: DataFrame,
    offsets: list[int] = [1, 7],
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention table — the other ClickHouse event-analytics
    staple (``retention``): users are cohorted by their first active
    day; for each cohort day and each offset ``d``, count the cohort
    members active again exactly ``d`` days later.

    Scale shape: one per-user min aggregation (cohort assignment), one
    (user, day) distinct — both map-side-combinable on uniform keys —
    then a co-partitioned join on the user column and ONE conditional
    aggregation per cohort. Because (user, day) rows are distinct and a
    user has one cohort, the per-offset counts are plain conditional
    ``sum`` — no multi-countDistinct Expand (the j13 lesson).

    Output: (cohort, n_users, d<offset>... ) with ``cohort`` as an ISO
    date string (engine-portable dtype).
    """
    if not offsets or any(d < 1 for d in offsets):
        raise ValueError(f"offsets must be positive, got {offsets}")
    day = F.to_date(F.col("__ts"))
    e = events.select(
        F.col(user_col).alias("user"), F.col(ts_col).alias("__ts")
    )
    firsts = e.groupBy("user").agg(F.min(day).alias("cohort"))
    days = e.select("user", day.alias("day")).distinct()
    joined = days.join(firsts, on="user").select(
        "user", "cohort", F.datediff("day", "cohort").alias("off")
    )
    sizes = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    # offset-hit flags projected before the agg (agg-input expressions
    # run interpreted inside the aggregate — see dedup minhash_signature)
    flagged = joined.select(
        "cohort",
        *[(F.col("off") == d).cast("int").alias(f"__h{d}") for d in offsets],
    )
    rets = flagged.groupBy("cohort").agg(
        *[F.sum(f"__h{d}").alias(f"d{d}") for d in offsets]
    )
    return sizes.join(rets, on="cohort", how="left").select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
        "n_users",
        *[F.coalesce(f"d{d}", F.lit(0)).alias(f"d{d}") for d in offsets],
    )


def sessionize(
    events: DataFrame,
    gap_seconds: float = 1800.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Batch sessionization: consecutive events of a user belong to one
    session while the gap between them stays under ``gap_seconds`` —
    the batch analogue of the streaming ``session_window`` aggregation
    (streaming/windows.py), for backfills and replays; both produce the
    same session boundaries for the same data.

    Scale shape: ONE window pass partitioned BY USER ordered by time
    (lag → new-session flag → running sum), then one grouped
    aggregation on (user, session) — two shuffles on the user key, no
    global sort. A user's history must sort in one task; per-user event
    counts bound that (salt a pathological robot user upstream).

    Output: (user, session_no, t_start, t_end, n_events,
    duration_s) with sessions numbered per user in time order from 0.
    """
    if gap_seconds <= 0:
        raise ValueError(f"gap_seconds must be > 0, got {gap_seconds}")
    e = events.select(
        F.col(user_col).alias("user"),
        F.col(ts_col).alias("__ts"),
        # epoch micros for gap arithmetic (ANSI forbids ts→numeric cast)
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__us"),
    )
    w = Window.partitionBy("user").orderBy("__us")
    gap_us = int(gap_seconds * 1_000_000)
    flagged = e.withColumn("__prev", F.lag("__us").over(w)).withColumn(
        "__new",
        F.when(
            F.col("__prev").isNull()
            | (F.col("__us") - F.col("__prev") > gap_us),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_no", F.sum("__new").over(w) - 1
    )
    return sessions.groupBy("user", "session_no").agg(
        F.min("__ts").alias("t_start"),
        F.max("__ts").alias("t_end"),
        F.count(F.lit(1)).alias("n_events"),
        ((F.max("__us") - F.min("__us")) / F.lit(1e6)).alias("duration_s"),
    )


def transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """First-order event-transition matrix — "what do users do next":
    per consecutive event pair of each user (time order, event ties
    broken deterministically by the event payload's own columns being
    equal — ordering uses (ts, type)), count (from_type, to_type) pairs
    corpus-wide and attach each row's share of its from-state (the
    empirical Markov transition probability).

    Scale shape: ONE per-user window pass (lag over (ts, type)) — the
    same single exchange+sort sessionize uses — then one grouped count
    and a from-state total derived by a second SMALL aggregation over
    the |types|² matrix (never the event stream) joined back. No
    global sort, no self-join of the stream.

    Output: (from_type, to_type, n, p) with ``p`` rounded to 6dp.
    """
    e = events.select(
        F.col(user_col).alias("user"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__type"),
    )
    w = Window.partitionBy("user").orderBy("__ts", "__type")
    pairs = (
        e.withColumn("__prev", F.lag("__type").over(w))
        .where(F.col("__prev").isNotNull())
        .groupBy(
            F.col("__prev").alias("from_type"),
            F.col("__type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("__total"))
    return pairs.join(totals, on="from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("__total"), 6).alias("p"),
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "id",
    start_col: str = "start",
    end_col: str = "end",
    key: str | None = None,
    bucket_width: int = 3600,
    max_buckets_per_interval: int = 64,
) -> DataFrame:
    """Interval OVERLAP join: pairs (l, r) whose half-open integer
    spans [start, end) intersect — the span counterpart of
    :func:`band_join` (which pairs POINTS within a distance). The
    classic use: overlapping sessions/visits/claims, span-dedup audit
    joins.

    Scale plan (the standard bucketized range join): every interval
    replicates into the ``bucket_width``-sized buckets it touches
    (``sequence(start DIV W, (end-1) DIV W)`` + explode), the join is
    a plain shuffled equi-join on (key, bucket), and the overlap
    predicate runs as a residual filter — pair expansion is bucket-
    local, never |L|x|R|. Each overlapping pair is emitted EXACTLY
    once, with no distinct pass: only the bucket containing
    ``greatest(l.start, r.start)`` (the overlap's first instant)
    reports the pair — every other shared bucket drops it in the
    residual.

    Replication is bounded by span length / W. One cheap max() job per
    input REFUSES intervals touching more than
    ``max_buckets_per_interval`` buckets (the house bounded-expansion
    rule: a degenerate month-long interval at W=60s would fan out 43k
    rows); pick ``bucket_width`` near the typical span.

    Output: (left_id, right_id[, key], overlap_start, overlap_end) —
    all integers, overlap_end exclusive."""
    if bucket_width < 1:
        raise ValueError(f"bucket_width must be >= 1, got {bucket_width}")
    if max_buckets_per_interval < 1:
        raise ValueError(
            f"max_buckets_per_interval must be >= 1, got "
            f"{max_buckets_per_interval}"
        )
    w = int(bucket_width)

    def prep(df: DataFrame, side: str) -> DataFrame:
        cols = [
            F.col(id_col).alias(f"{side}_id"),
            F.col(start_col).cast("long").alias(f"{side}_start"),
            F.col(end_col).cast("long").alias(f"{side}_end"),
        ]
        if key is not None:
            cols.append(F.col(key).alias("__k"))
        out = df.select(*cols).where(
            F.col(f"{side}_end") > F.col(f"{side}_start")
        )
        worst = out.agg(
            F.max(
                F.expr(f"({side}_end - 1) DIV {w} - {side}_start DIV {w}")
            ).alias("b")
        ).collect()[0]["b"]
        if worst is not None and worst + 1 > max_buckets_per_interval:
            raise ValueError(
                f"{side} side has an interval touching {worst + 1} "
                f"buckets > max_buckets_per_interval="
                f"{max_buckets_per_interval}: raise bucket_width "
                "toward the typical span (or the cap, if the fan-out "
                "is a conscious choice)."
            )
        return out.withColumn(
            "__b",
            F.explode(
                F.sequence(
                    F.expr(f"{side}_start DIV {w}"),
                    F.expr(f"({side}_end - 1) DIV {w}"),
                )
            ),
        )

    lk = prep(left, "left")
    rk = prep(right, "right")
    on = ["__k", "__b"] if key is not None else ["__b"]
    first = F.greatest(F.col("left_start"), F.col("right_start"))
    joined = (
        lk.join(rk, on=on)
        .where(
            (F.col("left_start") < F.col("right_end"))
            & (F.col("right_start") < F.col("left_end"))
            # emit from the overlap's first bucket only (exactly-once);
            # integer DIV, not float floor-divide (epochs are exact longs)
            & (
                F.col("__b")
                == F.expr(f"greatest(left_start, right_start) DIV {w}")
            )
        )
    )
    out_cols = [
        "left_id",
        "right_id",
        first.alias("overlap_start"),
        F.least(F.col("left_end"), F.col("right_end")).alias(
            "overlap_end"
        ),
    ]
    if key is not None:
        out_cols.insert(2, F.col("__k").alias(key))
    return joined.select(*out_cols)


def ohlc_rollup(
    events: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    key_col: str | None = None,
    window_duration: str = "1 hour",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """OHLC (open/high/low/close) bar rollup — the canonical
    time-series downsample ("candlesticks"): per window (and optional
    key), the first, max, min and last value plus the row count.

    Open/close are argmin/argmax BY TIME, expressed as ONE
    map-side-combinable aggregation via min(struct(ts, tiebreak,
    value)) / max(struct(...)) — no window function, no sort, one
    shuffle keyed by (key, window) at any scale. Simultaneous events
    need a total order or open/close would be partition-order lottery:
    ``tiebreak_col`` (e.g. the event id) breaks ts ties; when omitted,
    the VALUE itself is the tiebreak, and the convention is
    ASYMMETRIC by construction of min/max over the same struct:
    open = SMALLEST value among earliest-ts rows, close = LARGEST
    value among latest-ts rows (the max-side struct comparison flips
    the value ordering too). Both sides are deterministic and
    engine-replayable; oracle authors must mirror the asymmetry
    (min_by/max_by with the (ts, value) composite) — or pass
    ``tiebreak_col`` for a single symmetric total order.

    Output: (window_start [, key], open, high, low, close, n)."""
    v = F.col(value_col)
    base = events.where(
        v.isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        *( [F.col(key_col).alias("key")] if key_col else [] ),
        F.date_format(
            F.window(F.col(ts_col), window_duration).start,
            "yyyy-MM-dd HH:mm:ss",
        ).alias("window_start"),
        F.col(ts_col).alias("__ts"),
        v.alias("__v"),
        (
            F.col(tiebreak_col) if tiebreak_col else v
        ).alias("__tb"),
    )
    keys = (["key"] if key_col else []) + ["window_start"]
    edge = F.struct(
        F.col("__ts").alias("t"), F.col("__tb").alias("b"),
        F.col("__v").alias("v"),
    )
    return base.groupBy(*keys).agg(
        F.min(edge).getField("v").alias("open"),
        F.max("__v").alias("high"),
        F.min("__v").alias("low"),
        F.max(edge).getField("v").alias("close"),
        F.count(F.lit(1)).alias("n"),
    )
