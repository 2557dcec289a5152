"""Query → DataFrame compiler (SURVEY §3 entry 2, §2.2 F1-F11, §2.7 O1-O4).

Entity-query semantics (fixed by the reference goldens,
``tests/test_store.py:118-281``): every criterion must hold for the SAME
entity, but not necessarily the same statement — a date-filtered Payment
query returns *whole* Payment entities with all their props (F10). So:

1. metadata criteria (dataset/schema) filter statements directly — these
   push down to parquet partition pruning / row-group skipping;
2. the entity-level criteria (each prop criterion, the search term) and
   the order keys fold into ONE frontier aggregate: ``groupBy
   (canonical_id)`` over the statements that meet at least one criterion
   or carry the order prop, with one ``max(<criterion>)`` flag per
   criterion and the conditional order keys ``__knum`` / ``__kstr``; an
   entity matches when every flag is set. One shuffle on canonical_id,
   carrying only the matching rows, whatever the number of criteria
   (a reverse filter stays a semi-join: it matches statements outside
   the metadata filter; ``<prop>__null=True`` is an anti-join, since an
   entity that lacks the prop has no statement to flag);
3. surviving entities are re-expanded to all their statements and
   assembled (§2.6), ordered (numeric-coercing, O1), sliced (O2).

No SQL strings, no second in-memory engine: the reference's dual evaluator
(F11 ``apply_iter``) collapses into this one compiler.
"""

from __future__ import annotations

import functools
import operator
from dataclasses import replace
from typing import Any

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ftm_columnstore_spark import settings
from ftm_columnstore_spark.model.ftm import SEARCHABLE_TYPES, schema_descendants
from ftm_columnstore_spark.operators.assembly import assemble_entities
from ftm_columnstore_spark.operators.graph import reverse_ids
from ftm_columnstore_spark.plans.query import Aggregation, Criterion, Query


def _to_str(value: Any) -> Any:
    if isinstance(value, (list, tuple, set)):
        return [str(v) for v in value]
    if value is None or isinstance(value, bool):
        return value
    return str(value)


def _compare(col: F.Column, comparator: str, value: Any) -> F.Column:
    value = _to_str(value)
    if comparator == "eq":
        return col == value
    if comparator == "not":
        return col != value
    if comparator == "in":
        return col.isin(list(value))
    if comparator == "not_in":
        return ~col.isin(list(value))
    if comparator == "null":
        return col.isNull() if value else col.isNotNull()
    if comparator == "gt":
        return col > value
    if comparator == "gte":
        return col >= value
    if comparator == "lt":
        return col < value
    if comparator == "lte":
        return col <= value
    if comparator == "like":
        return col.like(str(value))
    if comparator == "ilike":
        return F.lower(col).like(str(value).lower())
    if comparator == "startswith":
        return col.startswith(str(value))
    if comparator == "endswith":
        return col.endswith(str(value))
    raise ValueError(f"unknown comparator: {comparator}")


@functools.lru_cache(maxsize=256)
def _schema_in(gateway, schema: str) -> F.Column:
    """ftmq-style hierarchy expansion (F2): Payment ∪ descendants. An
    ``isin`` over a few dozen literals, built once per JVM gateway and
    schema (see ``assembly._constants``); the bound only matters for
    names outside the model."""
    return F.col("schema").isin(list(schema_descendants(schema)))


def _meta_predicate(c: Criterion) -> F.Column:
    if c.field == "schema" and c.comparator == "eq":
        return _schema_in(SparkContext._gateway, str(c.value))
    return _compare(F.col(c.field), c.comparator, c.value)


def _lacks_prop(c: Criterion) -> bool:
    """``<prop>__null=True``: the entity has no statement of the prop."""
    return c.is_prop and c.comparator == "null" and bool(c.value)


def _scoped(statements: DataFrame, q: Query) -> DataFrame:
    """Statements under ``q``'s metadata criteria (pushed down to the
    scan), missing-prop criteria (entities with no statement of the prop
    under those criteria) and reverse filters (F7: entities referencing
    a given id, looked up over all statements, so a reference from
    outside the metadata filter still counts)."""
    df = statements
    for c in q.criteria:
        if not c.is_prop and c.field != "reverse":
            df = df.filter(_meta_predicate(c))
    meta = df
    for c in q.criteria:
        if _lacks_prop(c):
            has = meta.filter(F.col("prop") == c.field).select("canonical_id")
            df = df.join(has, on="canonical_id", how="left_anti")
        elif c.field == "reverse":
            ids = reverse_ids(statements, str(c.value))
            df = df.join(ids, on="canonical_id", how="left_semi")
    return df


def _criteria(q: Query) -> list[F.Column]:
    """One statement predicate per entity-level criterion: each prop
    criterion that a statement can meet, then the search (F8:
    case-insensitive containment over searchable values)."""
    preds = [
        (F.col("prop") == c.field) & _compare(F.col("value"), c.comparator, c.value)
        for c in q.criteria
        if c.is_prop and not _lacks_prop(c)
    ]
    if q.search_term:
        preds.append(
            F.col("prop_type").isin(list(SEARCHABLE_TYPES))
            & F.lower(F.col("value")).contains(q.search_term.lower())
        )
    return preds


def _frontier(scoped: DataFrame, q: Query, keyed: bool = False) -> DataFrame:
    """canonical_id of every entity of ``scoped`` that meets all of ``q``'s
    entity-level criteria, as ONE aggregate: ``max(<criterion>)`` flags
    whether any statement of the entity meets it. ``keyed`` adds the
    per-entity order_by(prop) keys: ``__knum`` numeric when castable
    (O1 — '50001' sorts as 50001.0, not lexicographically), ``__kstr``
    the string; null when the entity lacks the prop."""
    preds = _criteria(q)
    flags = [f"__c{i}" for i in range(len(preds))]
    aggs = [F.max(p).alias(f) for p, f in zip(preds, flags)]
    wanted = list(preds)
    if keyed and q.order_by_prop is not None:
        is_key = F.col("prop") == q.order_by_prop
        pick = F.min if q.ascending else F.max
        aggs += [
            pick(F.when(is_key, F.col("value").try_cast("double"))).alias("__knum"),
            pick(F.when(is_key, F.col("value"))).alias("__kstr"),
        ]
        wanted.append(is_key)
    if preds:
        # scale guard: only statements that can set a flag or a key
        # shuffle, so a selective query moves its matches, not the store
        scoped = scoped.filter(functools.reduce(operator.or_, wanted))
    if not aggs:
        return scoped.select("canonical_id").distinct()
    ids = scoped.groupBy("canonical_id").agg(*aggs)
    if flags:
        ids = ids.filter(functools.reduce(operator.and_, map(F.col, flags)))
    return ids.drop(*flags)


def compile_statements(statements: DataFrame, q: Query) -> DataFrame:
    """Statements of the entities matching ``q`` (entity-level semantics)."""
    df = _scoped(statements, q)
    if not _criteria(q):
        return df
    return df.join(_frontier(df, q), on="canonical_id", how="left_semi")


def _ordered_ids(statements: DataFrame, q: Query) -> DataFrame:
    """Ordered, sliced (canonical_id, __knum, __kstr) frontier for ``q``
    (keys retained so callers can re-apply the ordering downstream)."""
    ids = _frontier(_scoped(statements, q), q, keyed=True)
    if q.order_by_prop is None:
        ids = ids.withColumn("__knum", F.lit(None).cast("double")).withColumn(
            "__kstr", F.lit(None).cast("string")
        )
    ids = ids.orderBy(*_order_direction(q))
    if q.offset:
        ids = ids.offset(q.offset)
    if q.limit is not None:
        ids = ids.limit(q.limit)
    return ids


def _order_direction(q: Query, id_col: str = "canonical_id") -> list[F.Column]:
    """Sort spec shared by the id-level and entity-level paths (one
    definition so null ordering / tie-breaking can never drift apart);
    ``id_col`` is the tiebreak column ('canonical_id' pre-assembly,
    'id' post-assembly)."""
    return _order_spec(SparkContext._gateway, q.ascending, id_col)


@functools.cache
def _order_spec(gateway, ascending: bool, id_col: str) -> list[F.Column]:
    """:func:`_order_direction`, built once per JVM gateway (see
    ``assembly._constants``)."""
    if ascending:
        return [
            F.col("__knum").asc_nulls_last(),
            F.col("__kstr").asc_nulls_last(),
            F.col(id_col),
        ]
    return [
        F.col("__knum").desc_nulls_last(),
        F.col("__kstr").desc_nulls_last(),
        F.col(id_col),
    ]


def compile_entity_ids(statements: DataFrame, q: Query) -> DataFrame:
    """Ordered, sliced canonical_id frontier for ``q``."""
    return _ordered_ids(statements, q).select("canonical_id")


def compile_entities(statements: DataFrame, q: Query) -> DataFrame:
    """Full pipeline: filter → order → slice → re-expand → assemble.

    The final result is re-sorted by the order key (reference
    ``tests/test_store.py:144-166``: entities stream back in query
    order): assembly's hash aggregation would otherwise scramble the
    sliced frontier. Spark sorts distributed (range partitioning; a
    limited query takes its top rows per partition instead), so this
    holds at cluster scale, matching ClickHouse ORDER BY semantics."""
    ids = _ordered_ids(statements, q)
    # Re-expand: whole entities, not just matching statements (F10).
    # no broadcast hint: ids is bounded for selective queries (AQE
    # broadcasts those at runtime) but can approach the full id space for
    # match-all queries, where this must stay a shuffle join
    frontier = ids.select("canonical_id")
    full = statements.join(frontier, on="canonical_id", how="left_semi")
    assembled = assemble_entities(full)
    if q.order_by_prop is None and q.limit is None and not q.offset:
        return assembled
    keyed = assembled.join(
        ids.withColumnRenamed("canonical_id", "id"), on="id", how="left"
    ).orderBy(*_order_direction(q, id_col="id"))
    if q.limit is not None:
        # the frontier is already sliced, so this drops nothing: it makes
        # the re-sort a TakeOrderedAndProject, with no range-partition
        # sampling job
        keyed = keyed.limit(q.limit)
    return keyed.drop("__knum", "__kstr")


# --- aggregations (§2.4) -----------------------------------------------------

_AGG_FUNCS = {
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "sum": lambda c: F.sum(c.try_cast("double")),
    "avg": lambda c: F.avg(c.try_cast("double")),
}


def _group_key(statements: DataFrame, groups: str) -> DataFrame:
    """canonical_id → group value(s). ``year`` derives from the date prop
    (A6, partial dates 'YYYY[-MM[-DD]]' → substring year, X9)."""
    if groups == "year":
        return statements.filter(F.col("prop") == "date").select(
            "canonical_id",
            F.substring("value", 1, 4).alias("__group"),
        )
    return statements.filter(F.col("prop") == groups).select(
        "canonical_id", F.col("value").alias("__group")
    )


def compile_aggregation_df(
    statements: DataFrame, q: Query, agg: Aggregation
) -> DataFrame:
    """One aggregation as a DataFrame. Ungrouped → single row; grouped →
    one row per group value, capped at MAX_AGG_GROUPS (A7)."""
    matched = compile_statements(statements, q)

    if agg.func == "count":
        base = matched if agg.prop == "id" else matched.filter(F.col("prop") == agg.prop)
        if agg.groups is None:
            return base.agg(F.countDistinct("canonical_id").alias("value"))
        # group keys come from ``matched`` already: only a prop other
        # than id narrows them to the entities carrying that prop
        pairs = _group_key(matched, agg.groups)
        if agg.prop != "id":
            pairs = pairs.join(
                base.select("canonical_id"), on="canonical_id", how="left_semi"
            )
        out = pairs.distinct().groupBy("__group").agg(
            F.count("canonical_id").alias("value")
        )
    else:
        vals = matched.filter(F.col("prop") == agg.prop).select(
            "canonical_id", "value"
        )
        if agg.groups is None:
            return vals.agg(_AGG_FUNCS[agg.func](F.col("value")).alias("value"))
        joined = vals.join(
            _group_key(matched, agg.groups).distinct(), on="canonical_id"
        )
        out = joined.groupBy("__group").agg(
            _AGG_FUNCS[agg.func](F.col("value")).alias("value")
        )

    # group cap (A7): orderBy+limit, NOT a global row_number Window — the
    # input here is post-aggregation (one row per group), but limit-based
    # capping compiles to TakeOrderedAndProject (per-partition top-N, no
    # single-partition sort) so the plan stays safe even for huge group
    # cardinalities (docs/PLANS.md "group cap").
    return (
        out.orderBy(F.col("__group"))
        .limit(settings.MAX_AGG_GROUPS)
        .withColumnRenamed("__group", "group")
    )


def compile_aggregations(statements: DataFrame, q: Query) -> dict:
    """All of ``q``'s aggregations as the reference's nested dict shape:
    ``{func: {prop: value}, "groups": {group_prop: {func: {prop: {g: v}}}}}``
    (golden: ``tests/test_store.py:169-237``). One action per aggregation."""
    out: dict[str, Any] = {}
    for agg in q.aggregations:
        # a grouped aggregation also reports the ungrouped total
        # (reference tests/test_store.py:174-237: the sum/count key
        # appears alongside "groups" in the same response)
        total = compile_aggregation_df(statements, q, replace(agg, groups=None))
        if agg.groups is None:
            out.setdefault(agg.func, {})[agg.prop] = total.collect()[0]["value"]
            continue
        rows = (
            compile_aggregation_df(statements, q, agg)
            .withColumn("__total", F.lit(False))
            .unionByName(
                total.select(
                    F.lit(None).cast("string").alias("group"),
                    "value",
                    F.lit(True).alias("__total"),
                )
            )
            .collect()
        )
        groups = {r["group"]: r["value"] for r in rows if not r["__total"]}
        (
            out.setdefault("groups", {})
            .setdefault(agg.groups, {})
            .setdefault(agg.func, {})
        )[agg.prop] = groups
        out.setdefault(agg.func, {})[agg.prop] = next(
            r["value"] for r in rows if r["__total"]
        )
    return out
