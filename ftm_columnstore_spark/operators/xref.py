"""Xref pair table + judgement workflow + end-to-end resolution
(SURVEY §2.3 J5, §2.10 D4/D5).

The reference keeps candidate pairs in a ``<stmt>_xref`` ReplacingMergeTree
keyed latest-wins on ``ts`` (engine.py:176-199) — score ``Decimal32(8)``,
judgement, user. Here the xref table is a DataFrame (persist it wherever
you keep tables); judgement resolution is the latest-wins window, and the
accepted edges feed connected components to produce the canonical map the
store's resolver consumes (store.set_resolver)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ftm_columnstore_spark.operators.blocking import (
    blocking_candidates,
    candidate_pairs,
    connected_components,
    derive_fingerprints,
    score_pairs,
)


def build_xref(
    statements: DataFrame,
    min_entities: int = 2,
    max_entities: int | None = 100,
) -> DataFrame:
    """Blocking → pairs → scores, shaped like the reference xref table."""
    fpx = derive_fingerprints(statements)
    pairs = candidate_pairs(blocking_candidates(fpx, min_entities, max_entities))
    scored = score_pairs(pairs, statements)
    return scored.select(
        "left_dataset",
        F.col("left_id"),
        "left_schema",
        "right_dataset",
        F.col("right_id"),
        "right_schema",
        F.lit(None).cast("string").alias("judgement"),
        F.col("score").cast("decimal(9,8)").alias("score"),
        F.current_timestamp().alias("ts"),
        F.lit(None).cast("string").alias("user"),
    )


def latest_judgements(xref: DataFrame) -> DataFrame:
    """Latest-wins judgement per pair (ReplacingMergeTree(ts) semantics,
    engine.py:198)."""
    w = Window.partitionBy("left_id", "right_id").orderBy(F.col("ts").desc())
    return (
        xref.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def accepted_edges(xref: DataFrame, min_score: float = 0.9) -> DataFrame:
    """Edges feeding canonicalization: judgement == positive, or
    unjudged pairs at or above the score threshold."""
    latest = latest_judgements(xref)
    cond = (F.col("judgement") == "positive") | (
        F.col("judgement").isNull() & (F.col("score") >= min_score)
    )
    return latest.filter(cond).select("left_id", "right_id")


def resolve(
    statements: DataFrame,
    min_score: float = 0.9,
    min_entities: int = 2,
    max_entities: int | None = 100,
) -> DataFrame:
    """End-to-end D1→D5: statements → canonical map (entity_id →
    canonical_id). Plug into ``Store.set_resolver``."""
    xref = build_xref(statements, min_entities, max_entities)
    edges = accepted_edges(xref, min_score=min_score)
    return connected_components(edges)
