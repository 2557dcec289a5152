"""The Query DSL (SURVEY §2.2, §2.4, §2.7).

Mirrors the user-facing surface of ftmq's ``Query`` as exercised by the
reference golden tests (``tests/test_store.py:118-281``):

    Q().where(dataset="donations", schema="Payment")
       .where(prop="date", value=2011, comparator="gte")
       .where(date__gte=2011)                      # dunder spelling
       .search("agency")
       .order_by("amountEur", ascending=False)[:10]
       .aggregate("sum", "amountEur", groups="beneficiary")

A Query is an immutable builder; it carries no Spark state. Compilation to
a DataFrame program happens in ``plans.compiler`` — the only "IR" between
the DSL and Catalyst (the reference needs three: Query → SQLAlchemy AST →
SQL string, ``engine.py:24-31``).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Any

COMPARATORS = frozenset(
    {
        "eq",
        "not",
        "in",
        "not_in",
        "null",
        "gt",
        "gte",
        "lt",
        "lte",
        "like",
        "ilike",
        "startswith",
        "endswith",
    }
)

#: where() keys addressing statement metadata rather than FtM props.
META_FIELDS = frozenset(
    {"dataset", "schema", "entity_id", "canonical_id", "reverse"}
)


@dataclass(frozen=True)
class Criterion:
    field: str  # meta field name or FtM prop name
    comparator: str  # one of COMPARATORS
    value: Any
    is_prop: bool  # True → filter statements of prop == field on value

    def __post_init__(self) -> None:
        if self.comparator not in COMPARATORS:
            raise ValueError(f"unknown comparator: {self.comparator}")
        # a scalar string would be iterated character by character
        if self.comparator in ("in", "not_in") and not isinstance(
            self.value, (list, tuple, set)
        ):
            raise ValueError(
                f"{self.field}__{self.comparator} needs a list, tuple or set,"
                f" got {type(self.value).__name__}"
            )


@dataclass(frozen=True)
class Aggregation:
    func: str  # min | max | sum | avg | count
    prop: str
    groups: str | None = None  # group prop, or "year"


def _parse_lookup(key: str) -> tuple[str, str]:
    """``entity_id__startswith`` → ("entity_id", "startswith")."""
    if "__" in key:
        fld, _, comp = key.rpartition("__")
        if comp in COMPARATORS:
            return fld, comp
    return key, "eq"


@dataclass(frozen=True)
class Query:
    criteria: tuple[Criterion, ...] = ()
    search_term: str | None = None
    order_by_prop: str | None = None
    ascending: bool = True
    limit: int | None = None
    offset: int = 0
    aggregations: tuple[Aggregation, ...] = ()

    # --- builders -----------------------------------------------------------
    def where(
        self,
        prop: str | None = None,
        value: Any = None,
        comparator: str = "eq",
        **lookups: Any,
    ) -> "Query":
        new: list[Criterion] = list(self.criteria)
        if prop is not None:
            new.append(
                Criterion(prop, comparator, value, prop not in META_FIELDS)
            )
        for key, val in lookups.items():
            fld, comp = _parse_lookup(key)
            new.append(Criterion(fld, comp, val, fld not in META_FIELDS))
        return replace(self, criteria=tuple(new))

    def search(self, term: str) -> "Query":
        return replace(self, search_term=term)

    def order_by(self, prop: str, ascending: bool = True) -> "Query":
        return replace(self, order_by_prop=prop, ascending=ascending)

    def aggregate(
        self, func: str, prop: str, groups: str | None = None
    ) -> "Query":
        if func not in {"min", "max", "sum", "avg", "count"}:
            raise ValueError(f"unknown aggregation: {func}")
        return replace(
            self,
            aggregations=(*self.aggregations, Aggregation(func, prop, groups)),
        )

    def __getitem__(self, item: int | slice) -> "Query":
        if isinstance(item, int):
            if item < 0:
                raise ValueError("negative indexing unsupported")
            return replace(self, offset=item, limit=1)
        if item.step not in (None, 1):
            raise ValueError("slice steps unsupported")
        start = item.start or 0
        if start < 0:
            raise ValueError("negative indexing unsupported")
        if item.stop is not None and item.stop < start:
            raise ValueError(f"slice stop {item.stop} before start {start}")
        limit = None if item.stop is None else item.stop - start
        return replace(self, offset=start, limit=limit)


def Q() -> Query:
    return Query()
