"""Release a stream's persisted reference artifacts when its query
terminates — the streaming rule of :mod:`ftm_columnstore_spark.lifecycle`.
Without it the LM counts, gram indexes and banded signatures of the
corpus-index stream (streaming/clean.py) would stay
cached for the life of the SESSION, leaking executor storage every time
a stream restarts with a refreshed index.
"""

from __future__ import annotations

import functools

from pyspark.sql.streaming.listener import StreamingQueryListener

from ftm_columnstore_spark.lifecycle import detached


def released_on_termination(start):
    """Decorate a stream starter ``start(spark, ...) -> StreamingQuery``:
    its persists live until the query terminates, or are released at
    once if the start raises."""

    @functools.wraps(start)
    def run(spark, *args, **kwargs):
        with detached() as cached:
            query = start(spark, *args, **kwargs)
            if cached:
                spark.streams.addListener(_Release(spark, query.id, cached))
        return query

    return run


class _Release(StreamingQueryListener):
    def __init__(self, spark, query_id, cached) -> None:
        self._session, self._qid, self._cached = spark, str(query_id), cached

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        if str(event.id) != self._qid:
            return
        for df in self._cached:
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — releasing best-effort
                pass
        try:
            self._session.streams.removeListener(self)
        except Exception:  # noqa: BLE001
            pass
