"""The one caching contract: lifetime of the DataFrames operators persist.

Operators persist a mid-relation their plan reads more than once (both
sides of a self-join, an aggregate plus its join-back). Unlike
localCheckpoint, persist() lets repeat calls in a session hit the plan
cache (measured: d5 4.0s cold vs 1.5s warm), but the entry stays in
Spark's CacheManager until it is unpersisted. Every such frame goes
through :func:`persist`, and is released by these rules:

- ``with scope():`` releases everything persisted inside the block,
  including by operators that other operators call, when the block
  exits normally or by exception. Consume results inside the block.
- An operator that raises releases what it persisted, scope or not
  (:func:`persisting`).
- Outside any scope, a successful call leaves its persists cached for
  the lazy result; ``spark.catalog.clearCache()`` releases them.
- A stream's reference artifacts live until its query terminates, even
  if it was started inside a scope, and are released if the start fails
  (``streaming/release.py``).

The open registry is a contextvar, so each thread has its own.

One cache lives outside this contract: the ``Store``'s copy of a small
compacted store and of its value index (``store.Store._small_copy``).
It is a local checkpoint, not a persist, so it never enters the
CacheManager and ``clearCache()`` does not release it. The ``Store``
owns it: one copy per directory, read once per compaction and keyed on
the compaction (or index) marker, released by the Store at the first
read after the marker changes and by ``drop()``, and read again from
parquet when its block is lost. An empty CacheManager after a View mix
therefore still holds.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

_open: ContextVar[list[DataFrame] | None] = ContextVar(
    "ftm_columnstore_spark_persisted", default=None
)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, registered with the innermost open scope or
    operator. Lazy: a caller that needs the frame built now counts it."""
    df = df.persist()
    frames = _open.get()
    if frames is not None:
        frames.append(df)
    return df


@contextmanager
def detached() -> Iterator[list[DataFrame]]:
    """Collect the block's persists apart from any open scope: released
    if the block raises, otherwise left to the caller."""
    frames: list[DataFrame] = []
    token = _open.set(frames)
    try:
        yield frames
    except BaseException:
        for df in frames:
            df.unpersist()
        raise
    finally:
        _open.reset(token)


@contextmanager
def scope() -> Iterator[None]:
    """Release every frame persisted inside the block when it exits."""
    with detached() as frames:
        yield
    for df in frames:
        df.unpersist()


def persisting(fn):
    """Mark an operator that persists, directly or through the operators
    it calls: if it raises, its persists are released; if it returns,
    they join the caller's scope (or stay cached when none is open)."""

    @functools.wraps(fn)
    def run(*args, **kwargs):
        outer = _open.get()
        with detached() as frames:
            out = fn(*args, **kwargs)
        if outer is not None:
            outer.extend(frames)
        return out

    return run
