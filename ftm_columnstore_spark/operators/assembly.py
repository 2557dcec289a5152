"""Entity assembly — the signature pivot operator (SURVEY §2.6).

Reassembles statement rows into FtM entity documents:
``{id, caption, schema, properties: {prop: [values]}, datasets, referents}``
(golden shape: reference ``tests/test_store.py:86-98``). In the reference
this lives in nomenklatura's ``SQLView`` with group_concat SQL shims
(``engine.py:28``); here it is a pure-column two-stage aggregation — no UDF,
fully whole-stage-codegen:

  stage 1: groupBy(canonical_id, prop)  → sorted distinct value arrays
  stage 2: groupBy(canonical_id)        → properties map + schema/caption

Both stages shuffle on (a superset of) ``canonical_id``, which is also the
store's write-sort key, so at scale the exchange is cheap and skew on
mega-entities is split by AQE. Semantics implemented columnar:

- **most specific schema wins**: rank by vendored hierarchy depth
  (``model.ftm.schema_depth``), tie-break lexicographic;
- **caption**: first value of the schema's caption-prop precedence
  (reference golden: caption == name value, ``tests/test_store.py:27-28``);
- **datasets**: distinct contributing datasets; **referents**: contributing
  entity_ids other than the canonical id.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ftm_columnstore_spark.model.ftm import (
    CAPTION_PROPS,
    SCHEMA_PARENTS,
    caption_props,
    schema_depth,
)


def _schema_rank() -> F.Column:
    """Literal map schema → depth for the "most specific" rule."""
    pairs: list[F.Column] = []
    for s in SCHEMA_PARENTS:
        pairs.append(F.lit(s))
        pairs.append(F.lit(schema_depth(s)))
    return F.coalesce(F.create_map(*pairs)[F.col("schema")], F.lit(1))


def _caption_expr() -> F.Column:
    """First value of the winning schema's caption props, columnar."""
    default = F.element_at(F.col("properties")["name"], 1)
    expr = default
    for schema in CAPTION_PROPS:
        chain = F.coalesce(
            *[
                F.element_at(F.col("properties")[p], 1)
                for p in caption_props(schema)
            ]
        )
        expr = F.when(F.col("schema") == schema, chain).otherwise(expr)
    return expr


@functools.cache
def _constants(gateway) -> tuple[list[F.Column], list[F.Column], list[F.Column]]:
    """Assembly's fixed expressions: the aggregate lists of its two
    stages and its final select list. Building them takes about 350
    py4j calls, and the Columns are JVM objects that any plan may share,
    so they are built once per JVM gateway."""
    per_prop = [
        F.sort_array(F.collect_set("value")).alias("values"),
        F.collect_set("dataset").alias("ds"),
        F.collect_set("entity_id").alias("eids"),
        F.max(
            F.struct(_schema_rank().alias("d"), F.col("schema").alias("s"))
        ).alias("schema_rank"),
    ]
    per_entity = [
        F.map_from_entries(
            F.collect_list(
                F.when(
                    F.col("prop") != "id",
                    F.struct(F.col("prop"), F.col("values")),
                )
            )
        ).alias("properties"),
        F.max("schema_rank").getField("s").alias("schema"),
        F.sort_array(F.array_distinct(F.flatten(F.collect_list("ds")))).alias(
            "datasets"
        ),
        F.sort_array(F.array_distinct(F.flatten(F.collect_list("eids")))).alias(
            "all_ids"
        ),
    ]
    select = [
        F.col("canonical_id").alias("id"),
        _caption_expr().alias("caption"),
        F.col("schema"),
        F.col("properties"),
        F.col("datasets"),
        F.array_remove("all_ids", F.col("canonical_id").cast("string")).alias(
            "referents"
        ),
    ]
    return per_prop, per_entity, select


def assemble_entities(statements: DataFrame) -> DataFrame:
    """statements → entity DataFrame (ENTITY_SCHEMA shape)."""
    per_prop, per_entity, select = _constants(SparkContext._gateway)
    return (
        statements.groupBy("canonical_id", "prop")
        .agg(*per_prop)
        .groupBy("canonical_id")
        .agg(*per_entity)
        .select(*select)
    )


def get_entity(statements: DataFrame, entity_id: str) -> DataFrame:
    """Assemble one entity addressed by canonical OR source id
    (reference ``tests/test_store.py:264-269``). The id filter is pushed to
    the parquet scan before the pivot, so this is a point lookup."""
    scoped = statements.filter(
        (F.col("canonical_id") == entity_id) | (F.col("entity_id") == entity_id)
    )
    return assemble_entities(scoped)
