"""Xref workflow + end-to-end resolution (SURVEY §2.10)."""

from datetime import datetime, timezone

from pyspark.sql import functions as F

from ftm_columnstore_spark.operators.xref import (
    accepted_edges,
    build_xref,
    latest_judgements,
    resolve,
)
from ftm_columnstore_spark.sources.statements import statements_from_rows


def _stmts(spark):
    rows = []
    for eid, name, ds in [
        ("e1", "Tchibo Holding AG", "d1"),
        ("e2", "TCHIBO HOLDING AG", "d2"),
        ("e3", "Zebra Logistics", "d1"),
        ("e4", "Zebra Logistics", "d2"),
        ("e5", "Completely Other", "d1"),
    ]:
        rows.append(
            dict(id=f"s-{eid}", entity_id=eid, prop="name", prop_type="name",
                 schema="Company", value=name, dataset=ds, last_seen=None)
        )
    return statements_from_rows(spark, rows)


def test_build_xref_shapes_and_scores(spark):
    xref = build_xref(_stmts(spark))
    rows = {(r["left_id"], r["right_id"]): r for r in xref.collect()}
    assert ("e3", "e4") in rows
    assert float(rows[("e3", "e4")]["score"]) == 1.0
    assert rows[("e3", "e4")]["judgement"] is None


def test_latest_judgement_wins(spark):
    t = lambda d: datetime(2024, 1, d, tzinfo=timezone.utc)  # noqa: E731
    xref = spark.createDataFrame(
        [
            ("a", "b", "negative", t(1)),
            ("a", "b", "positive", t(5)),
            ("c", "d", "positive", t(1)),
        ],
        ["left_id", "right_id", "judgement", "ts"],
    ).withColumn("score", F.lit(0.5).cast("decimal(9,8)"))
    latest = {
        (r["left_id"], r["right_id"]): r["judgement"]
        for r in latest_judgements(xref).collect()
    }
    assert latest == {("a", "b"): "positive", ("c", "d"): "positive"}
    edges = {
        (r["left_id"], r["right_id"])
        for r in accepted_edges(xref).collect()
    }
    assert edges == {("a", "b"), ("c", "d")}


def test_resolve_end_to_end(spark):
    cmap = {
        r["entity_id"]: r["canonical_id"]
        for r in resolve(_stmts(spark), min_score=0.9).collect()
    }
    assert cmap["e4"] == "e3"
    assert cmap["e2"] == "e1"
    assert "e5" not in cmap  # unmatched entities keep identity implicitly


def test_resolver_feeds_store(spark, tmp_path):
    from ftm_columnstore_spark.operators.assembly import get_entity
    from ftm_columnstore_spark.store import Store

    store = Store(spark, str(tmp_path / "s"))
    store.ensure()
    store.write_statements(_stmts(spark))
    store.set_resolver(resolve(store.statements(), min_score=0.9))
    ent = get_entity(store.statements(), "e4").collect()[0]
    assert ent["id"] == "e3"
    assert "e4" in ent["referents"]
