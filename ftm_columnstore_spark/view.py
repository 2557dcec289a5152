"""View facade — the reference's user-facing API surface, name-for-name
(nomenklatura ``SQLView`` / ftmq usage exercised in reference
``tests/test_store.py``), so a reference user can switch with minimal
edits:

    store = get_store("/data/store")          # reference: get_store(...)
    view = store.view()                       # reference: store.view(...)
    view.get_entity("abc123")                 # → dict (FtM shape)
    view.entities(Q().where(schema="Payment", date__gte=2011))
    view.get_inverted("abc123")
    view.get_adjacent("abc123")
    view.stats(dataset="donations")
    view.aggregations(Q().aggregate("sum", "amountEur"))

Python-side the results are plain dicts/iterators (like the reference);
each method also has a ``*_df`` twin returning the DataFrame for users
staying distributed.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame

from ftm_columnstore_spark.plans.query import Query
from ftm_columnstore_spark.store import Store


def _entity_dict(row) -> dict[str, Any]:
    d = row.asDict(recursive=True)
    d["properties"] = dict(d.get("properties") or {})
    return d


class View:
    def __init__(self, store: Store, dataset: str | list[str] | None = None):
        """``dataset`` may be a single name or a catalog (list) — the
        reference opens stores over multi-dataset catalogs (U1)."""
        self.store = store
        self.dataset = dataset

    def _statements(self) -> DataFrame:
        return self.store.statements(dataset=self.dataset)

    # --- entities -----------------------------------------------------------
    def get_entity(self, entity_id: str) -> dict[str, Any] | None:
        from ftm_columnstore_spark.operators.assembly import get_entity

        rows = get_entity(self._statements(), entity_id).collect()
        return _entity_dict(rows[0]) if rows else None

    def entities_df(self, q: Query | None = None) -> DataFrame:
        from ftm_columnstore_spark.operators.assembly import assemble_entities
        from ftm_columnstore_spark.plans.compiler import compile_entities

        if q is None:
            return assemble_entities(self._statements())
        return compile_entities(self._statements(), q)

    def entities(self, q: Query | None = None) -> Iterator[dict[str, Any]]:
        for row in self.entities_df(q).toLocalIterator():
            yield _entity_dict(row)

    # --- graph --------------------------------------------------------------
    def get_inverted(self, entity_id: str) -> Iterator[tuple[str, str]]:
        from ftm_columnstore_spark.operators.graph import inverted

        for row in inverted(self.store.entity_refs(self.dataset), entity_id).collect():
            yield row["prop"], row["entity_id"]

    def get_adjacent(self, entity_id: str) -> Iterator[tuple[str, str, str]]:
        from ftm_columnstore_spark.operators.graph import adjacent

        for row in adjacent(self._statements(), entity_id).collect():
            yield row["direction"], row["prop"], row["neighbour_id"]

    def get_expanded(
        self, entity_id: str, hops: int = 2
    ) -> Iterator[tuple[str, int]]:
        """K-hop neighbourhood (extension beyond the reference's 1-hop
        get_adjacent): yields (entity_id, min_hop_distance)."""
        from ftm_columnstore_spark.operators.graph import expand

        for row in expand(self._statements(), [entity_id], hops).collect():
            yield row["id"], row["dist"]

    # --- reporting ----------------------------------------------------------
    def stats(self, dataset: str | None = None) -> dict[str, Any]:
        from ftm_columnstore_spark.operators.aggregations import stats

        return stats(self._statements(), dataset=dataset or self.dataset)

    def aggregations(self, q: Query) -> dict[str, Any]:
        from ftm_columnstore_spark.plans.compiler import compile_aggregations

        return compile_aggregations(self._statements(), q)

    def profile(self, cols: list[str] | None = None, p: int = 8) -> list[dict]:
        """One-pass sketch profile of the statement table (value/null
        counts + HLL distinct estimate per column) — the approximate,
        single-scan sibling of :meth:`stats` for 100 TB stores where a
        per-column count-distinct would shuffle every keyspace."""
        from ftm_columnstore_spark.operators.sketches import profile_columns

        return [
            r.asDict()
            for r in profile_columns(self._statements(), cols, p=p)
            .orderBy("column")
            .collect()
        ]
