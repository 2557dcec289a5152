"""Entity → statement decomposition (SURVEY §2.1 S2; §2.9 X11).

The reference's writer explodes each FtM entity into one row per
(prop, value) with provenance (``store.py:30-32``; statement columns mirror
``engine.py:129-155``). That per-entity Python loop becomes a single
distributed expression here: explode the properties map, then posexplode the
value arrays — all JVM-side, no UDF.

Statement ``id`` follows the nomenklatura ``Statement.make_key`` recipe
(the reference stores that content hash in ``FixedString(40)``,
engine.py:132; the recipe is public in the nomenklatura repo):
``sha1("{dataset}.{entity_id}.{prop}.{value}")``, with ``.ext`` appended
for external statements — so ids are byte-equal to nomenklatura's and
data round-trips between the two systems with stable identity.
"""

from __future__ import annotations

import functools
from collections.abc import Iterable, Mapping
from typing import Any

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ftm_columnstore_spark.model.ftm import PROP_TYPES
from ftm_columnstore_spark.model.schemas import STATEMENT_COLUMNS, STATEMENT_SCHEMA


@functools.cache
def _prop_type_expr(gateway) -> F.Column:
    """Columnar prop → prop_type lookup via a broadcast literal map. The
    map takes about 860 py4j calls, so it is built once per JVM gateway
    (see ``assembly._constants``)."""
    pairs: list[F.Column] = []
    for prop, ptype in PROP_TYPES.items():
        pairs.append(F.lit(prop))
        pairs.append(F.lit(ptype))
    mapping = F.create_map(*pairs)
    return F.coalesce(mapping[F.col("prop")], F.lit("string"))


def statement_key(
    dataset: str,
    entity_id: str,
    prop: str,
    value: str,
    external: F.Column | bool = False,
) -> F.Column:
    """X11: the nomenklatura ``Statement.make_key`` content hash —
    ``sha1("{dataset}.{entity_id}.{prop}.{value}"[+".ext"])`` (the id the
    reference persists, engine.py:132). Column-native (codegen'd sha1)."""
    key = F.concat_ws(".", F.col(dataset), F.col(entity_id), F.col(prop), F.col(value))
    if isinstance(external, bool):
        ext = F.lit(external)
    else:
        ext = external
    key = F.when(ext, F.concat(key, F.lit(".ext"))).otherwise(key)
    return F.sha1(key)


def entities_to_statements(
    entities: DataFrame,
    default_dataset: str = "default",
    last_seen: str | None = None,
) -> DataFrame:
    """Explode an entity DataFrame into the statement fact table shape.

    One output row per (entity, dataset, prop, value); plus one synthetic
    ``id``-prop statement per entity carrying the schema assertion (so
    entities with no properties still exist — mirrors nomenklatura's
    checksum/id statements).
    """
    last_seen_col = (
        F.to_timestamp(F.lit(last_seen)) if last_seen else F.current_timestamp()
    )
    datasets = F.when(
        F.size("datasets") > 0, F.col("datasets")
    ).otherwise(F.array(F.lit(default_dataset)))

    base = entities.select(
        F.col("id").alias("entity_id"),
        F.col("schema").alias("schema"),
        F.explode(datasets).alias("dataset"),
        "properties",
    )

    prop_rows = base.select(
        "entity_id",
        "schema",
        "dataset",
        F.explode("properties").alias("prop", "values"),
    ).select(
        "entity_id",
        "schema",
        "dataset",
        "prop",
        F.explode("values").alias("value"),
    )

    id_rows = base.select(
        "entity_id",
        "schema",
        "dataset",
        F.lit("id").alias("prop"),
        F.col("entity_id").alias("value"),
    )

    all_rows = prop_rows.unionByName(id_rows)

    return all_rows.select(
        statement_key("dataset", "entity_id", "prop", "value").alias("id"),
        "entity_id",
        F.col("entity_id").alias("canonical_id"),
        "prop",
        F.when(F.col("prop") == "id", F.lit("id"))
        .otherwise(_prop_type_expr(SparkContext._gateway))
        .alias("prop_type"),
        "schema",
        "value",
        F.lit(None).cast("string").alias("original_value"),
        "dataset",
        F.lit(None).cast("string").alias("lang"),
        F.lit(False).alias("target"),
        F.lit(False).alias("external"),
        last_seen_col.alias("first_seen"),
        last_seen_col.alias("last_seen"),
    )


def statements_from_rows(
    spark: SparkSession, rows: Iterable[Mapping[str, Any]]
) -> DataFrame:
    """Build a statement DataFrame from plain dicts (test/CLI helper).

    Missing columns are filled with schema-appropriate defaults.
    """
    from datetime import datetime, timezone

    epoch = datetime(2024, 1, 1, tzinfo=timezone.utc)
    filled = []
    for row in rows:
        r = dict(row)
        if r.get("last_seen") is None:
            r["last_seen"] = epoch
        r.setdefault("canonical_id", r.get("entity_id"))
        r.setdefault("prop_type", PROP_TYPES.get(r.get("prop", ""), "string"))
        r.setdefault("original_value", None)
        r.setdefault("lang", None)
        r.setdefault("target", False)
        r.setdefault("external", False)
        r.setdefault("first_seen", r.get("last_seen"))
        filled.append(tuple(r.get(c) for c in STATEMENT_COLUMNS))
    return spark.createDataFrame(filled, STATEMENT_SCHEMA)
