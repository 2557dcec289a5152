"""Aggregations (SURVEY §2.4 A1-A10; reference tests/test_store.py:169-237)."""

from ftm_columnstore_spark.plans.compiler import compile_aggregations
from ftm_columnstore_spark.plans.query import Q


def test_min_max_date(statements):
    q = Q().where(schema="Payment").aggregate("max", "date").aggregate("min", "date")
    res = compile_aggregations(statements, q)
    assert res["max"]["date"] == "2009-11-02"
    assert res["min"]["date"] == "2008-03-15"


def test_count(statements):
    res = compile_aggregations(statements, Q().where(dataset="grants").aggregate("count", "id"))
    assert res["count"]["id"] == 7


def test_sum_numeric_coercion(statements):
    res = compile_aggregations(
        statements, Q().where(schema="Payment").aggregate("sum", "amountEur")
    )
    assert res["sum"]["amountEur"] == 371201.5


def test_avg(statements):
    res = compile_aggregations(
        statements, Q().where(schema="Payment").aggregate("avg", "amountEur")
    )
    assert abs(res["avg"]["amountEur"] - 371201.5 / 3) < 1e-9


def test_group_by_prop(statements):
    q = Q().where(schema="Payment").aggregate("count", "id", groups="beneficiary")
    res = compile_aggregations(statements, q)
    assert res["groups"]["beneficiary"]["count"]["id"] == {"org-acme": 2, "org-beta": 1}


def test_group_by_year(statements):
    q = Q().where(schema="Payment").aggregate("sum", "amountEur", groups="year")
    res = compile_aggregations(statements, q)
    # partial date "2009" buckets into year 2009 (X9)
    assert res["groups"]["year"]["sum"]["amountEur"] == {
        "2008": 50001.0,
        "2009": 321200.5,
    }


def test_group_cap(statements, monkeypatch):
    from ftm_columnstore_spark import settings

    monkeypatch.setattr(settings, "MAX_AGG_GROUPS", 1)
    q = Q().where(schema="Payment").aggregate("count", "id", groups="beneficiary")
    res = compile_aggregations(statements, q)
    assert len(res["groups"]["beneficiary"]["count"]["id"]) == 1


def test_stats(statements):
    from ftm_columnstore_spark.operators.aggregations import stats

    res = stats(statements, dataset="grants")
    assert res["entity_count"] == 7
    assert res["schemata"]["Payment"] == 3
    assert res["schemata"]["Company"] == 1
    assert res["countries"]["de"] == 3


def test_dataset_stats(statements):
    from collections import Counter, defaultdict

    from ftm_columnstore_spark.operators.aggregations import dataset_stats

    ents, stmts = defaultdict(set), Counter()
    for r in statements.select("dataset", "schema", "canonical_id").collect():
        ents[r["dataset"], r["schema"]].add(r["canonical_id"])
        stmts[r["dataset"], r["schema"]] += 1
    got = {
        (r["dataset"], r["schema"]): (r["entities"], r["statements"])
        for r in dataset_stats(statements).collect()
    }
    assert got == {k: (len(v), stmts[k]) for k, v in ents.items()}


def test_snapshot_diff_hand_computed(spark):
    from ftm_columnstore_spark.operators.aggregations import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)],
        "id long, text string",
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "C"), (4, None), (5, "e")],
        "id long, text string",
    )
    got = {
        r["status"]: r["n"]
        for r in snapshot_diff(old, new, "id", ["text"]).collect()
    }
    assert got == {"added": 1, "removed": 1, "changed": 1, "unchanged": 2}


def test_snapshot_diff_null_vs_literal_differs(spark):
    from ftm_columnstore_spark.operators.aggregations import snapshot_diff

    old = spark.createDataFrame([(1, None, "x")], "id long, a string, b string")
    new = spark.createDataFrame([(1, "x", None)], "id long, a string, b string")
    got = {
        r["status"]: r["n"]
        for r in snapshot_diff(old, new, "id", ["a", "b"]).collect()
    }
    assert got == {"changed": 1}


def test_snapshot_diff_validation(spark):
    import pytest

    from ftm_columnstore_spark.operators.aggregations import snapshot_diff

    df = spark.createDataFrame([(1, "x")], "id long, text string")
    with pytest.raises(ValueError, match="content_cols"):
        snapshot_diff(df, df, "id", [])


def test_snapshot_diff_separator_injection_cannot_collide(spark):
    """ADVICE r5: a value containing the old 0x1f separator (or equal
    to the old NULL sentinel) must not make two different rows hash
    'unchanged' — per-column fixed-width digests forbid injection."""
    from ftm_columnstore_spark.operators.aggregations import snapshot_diff

    old = spark.createDataFrame(
        [(1, "x\x1fy", "z"), (2, "\x00null", "q")],
        "id long, a string, b string",
    )
    new = spark.createDataFrame(
        [(1, "x", "y\x1fz"), (2, None, "q")],
        "id long, a string, b string",
    )
    got = {
        r["status"]: r["n"]
        for r in snapshot_diff(old, new, "id", ["a", "b"]).collect()
    }
    assert got == {"changed": 2}
