"""Reporting aggregations (SURVEY §2.4 A8/A10, §2.5 M1).

The reference maintains an AggregatingMergeTree materialized view of
per-(dataset, schema) entity/statement counts (``engine.py:201-217``) and a
``view.stats(q)`` report (``tests/test_store.py:129-142``). Spark's
partial+final hash aggregation already does two-phase counting (P9), so the
"materialized" part reduces to: recompute on demand (cheap — one shuffle),
or keep it incrementally fresh with the Structured Streaming job in
``streaming.ingest`` when statements arrive as a stream.
"""

from __future__ import annotations

import functools
from typing import Any

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dataset_stats(statements: DataFrame) -> DataFrame:
    """Per-(dataset, schema) distinct-entity + statement counts — the
    ``<stmt>_stats`` MV equivalent (engine.py:210-217)."""
    return statements.groupBy("dataset", "schema").agg(
        F.countDistinct("canonical_id").alias("entities"),
        F.count(F.lit(1)).alias("statements"),
    )


@functools.cache
def _stats_tags(gateway) -> F.Column:
    """:func:`stats`' tag array, built once per JVM gateway (see
    ``assembly._constants``)."""

    def tag(report: str, key: F.Column) -> F.Column:
        return F.struct(F.lit(report).alias("report"), key.alias("key"))

    return F.array(
        tag("entity_count", F.lit(None).cast("string")),
        tag("schemata", F.col("schema")),
        F.when(F.col("prop_type") == "country", tag("countries", F.col("value"))),
    )


def stats(
    statements: DataFrame, dataset: str | list[str] | None = None
) -> dict[str, Any]:
    """``view.stats()`` report: entity count, per-schema counts, per-country
    counts (reference golden ``tests/test_store.py:129-142``).

    One aggregation, one action: every statement is tagged with the
    (report, key) rows it counts towards — the entity total, its schema,
    and its value when it is a country — and one distinct count of
    canonical_id per tag serves all three reports."""
    df = statements
    if isinstance(dataset, str):
        df = df.filter(F.col("dataset") == dataset)
    elif dataset is not None:
        df = df.filter(F.col("dataset").isin(list(dataset)))
    tags = _stats_tags(SparkContext._gateway)
    rows = (
        df.select("canonical_id", F.explode(tags).alias("t"))
        .where(F.col("t").isNotNull())
        .groupBy("t.report", "t.key")
        .agg(F.countDistinct("canonical_id").alias("n"))
        .collect()
    )
    out: dict[str, Any] = {"entity_count": 0, "schemata": {}, "countries": {}}
    for r in rows:
        if r["report"] == "entity_count":
            out["entity_count"] = r["n"]
        else:
            out[r["report"]][r["key"]] = r["n"]
    return out


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    content_cols: list[str],
) -> DataFrame:
    """Corpus snapshot diff — the data-ops report for "what changed
    between yesterday's corpus and today's": per-status row counts for
    added (id only in new), removed (id only in old), changed (same id,
    different content digest) and unchanged. The count-level complement
    of u3/u4's row-level INTERSECT/EXCEPT.

    The content digest is md5 over the concatenation of fixed-width
    PER-COLUMN md5 digests (NULL encoded as a 32-char non-hex
    sentinel): because every component has fixed length, no value can
    inject a separator or impersonate the sentinel, so two different
    rows cannot collide by construction (ADVICE r5) — engine-portable,
    any md5-capable system reproduces the verdicts. Plan: each side
    reduces to
    (id, digest) — column-pruned scans — then ONE full-outer hash join
    on id and a 4-row aggregation. Nothing wider than (id, 32-char
    digest) ever shuffles, which at 100 TB is the difference between
    diffing metadata and re-shipping the corpus.

    Output: (status, n) — only statuses that occur."""
    if not content_cols:
        raise ValueError("content_cols must be non-empty")

    def digested(df: DataFrame, tag: str) -> DataFrame:
        # fixed-width components: md5(value) is 32 hex chars; the NULL
        # sentinel is 32 non-hex chars, so it can never equal a digest
        h = F.md5(
            F.concat(
                *[
                    F.coalesce(
                        F.md5(F.col(c).cast("string")), F.lit("-" * 32)
                    )
                    for c in content_cols
                ]
            )
        )
        return df.select(
            F.col(id_col).alias("id"), h.alias(f"h_{tag}")
        )

    j = digested(old, "old").join(
        digested(new, "new"), on="id", how="full_outer"
    )
    status = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") == F.col("h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )
