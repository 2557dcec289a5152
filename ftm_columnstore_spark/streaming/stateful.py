"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY §2.11 extension; brief: "applyInPandasWithState for custom
stateful operators").

Example operator: per-key running statistics with anomaly flagging — for
each (user_id) the state holds (count, mean, M2) [Welford]; each incoming
micro-batch emits events whose value deviates more than ``z`` standard
deviations from the running mean at the time of processing.

This is the shape any custom stateful operator takes on Spark: state is an
arbitrary tuple per key, batches arrive as pandas frames, timeouts expire
idle keys. A ``trigger(availableNow=True)`` backfill emits the same rows as
a real stream, but with a processing-time idle timeout (the default) the
query does not end by itself: Spark keeps running no-data batches to
expire idle keys, and ``processAllAvailable()`` does not return either.
Stop such a backfill once its progress reports the input committed; with
``idle_timeout_ms=None`` it ends on its own.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "user_id long, event_id long, value double, zscore double"
STATE_SCHEMA = "count long, mean double, m2 double"


def _update_anomalies(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    idle_timeout_ms: int | None = None,
) -> Iterator[pd.DataFrame]:
    if idle_timeout_ms is not None and state.hasTimedOut:
        # user idle past the TTL: drop their running stats (they rebuild
        # on return) — keeps total state ∝ ACTIVE users, not all-time
        state.remove()
        return
    (count, mean, m2) = state.get if state.exists else (0, 0.0, 0.0)
    out_rows = []
    for pdf in pdfs:
        for _, row in pdf.sort_values("event_id").iterrows():
            x = float(row["value"])
            if count >= 5:
                var = m2 / (count - 1) if count > 1 else 0.0
                std = var**0.5
                if std > 0 and abs(x - mean) > 3.0 * std:
                    out_rows.append(
                        (key[0], int(row["event_id"]), x, (x - mean) / std)
                    )
            # Welford update
            count += 1
            delta = x - mean
            mean += delta / count
            m2 += delta * (x - mean)
    state.update((count, mean, m2))
    if idle_timeout_ms is not None:
        state.setTimeoutDuration(idle_timeout_ms)
    if out_rows:
        yield pd.DataFrame(
            out_rows, columns=["user_id", "event_id", "value", "zscore"]
        )


def streaming_anomalies(
    events: DataFrame,
    idle_timeout_ms: int | None = 7 * 24 * 3600 * 1000,
) -> DataFrame:
    """events(user_id, event_id, value, ...) → anomalous events, stateful
    per user. Input may be a streaming OR batch DataFrame grouped the same
    way (batch runs with a fresh empty state per key; the timeout calls
    are documented no-ops there).

    ``idle_timeout_ms`` (default 7 days) evicts state for users idle past
    the TTL, so total state is proportional to ACTIVE users rather than
    the all-time user space — without it, an unbounded key domain grows
    the state store forever. Pass ``None`` to keep state indefinitely."""

    def update(key, pdfs, state):
        yield from _update_anomalies(key, pdfs, state, idle_timeout_ms)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if idle_timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
