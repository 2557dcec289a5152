"""Query DSL semantics (SURVEY §2.2 F1-F11, §2.7 O1-O4;
reference tests/test_store.py:118-281)."""

import pytest

from ftm_columnstore_spark.plans.compiler import compile_entities
from ftm_columnstore_spark.plans.query import Q


def ids(statements, q):
    return sorted(r["id"] for r in compile_entities(statements, q).collect())


def test_dataset_filter(statements):
    assert len(ids(statements, Q().where(dataset="registry"))) == 3
    assert len(ids(statements, Q().where(dataset="grants"))) == 7


def test_schema_filter(statements):
    got = ids(statements, Q().where(schema="Payment"))
    assert got == ["pay-1", "pay-2", "pay-3"]


def test_schema_filter_descendants(statements):
    # LegalEntity expands to Person/Company/Organization/PublicBody (F2)
    got = ids(statements, Q().where(schema="LegalEntity"))
    assert got == ["org-acme", "org-beta", "per-carol", "reg-1", "reg-2", "reg-3"]


def test_prop_comparator_filter(statements):
    got = ids(statements, Q().where(schema="Payment", date__gte=2009))
    assert got == ["pay-2", "pay-3"]


def test_whole_entity_returned_after_prop_filter(statements):
    # F10: date-filtered payments still carry all their props
    ents = compile_entities(
        statements, Q().where(schema="Payment", date__gte=2009)
    ).collect()
    by_id = {e["id"]: e for e in ents}
    assert by_id["pay-2"]["properties"]["amountEur"] == ["320000"]


def test_conjunction_mismatch_empty(statements):
    assert ids(statements, Q().where(entity_id="pay-1", dataset="registry")) == []


def test_id_prefix_filter(statements):
    got = ids(statements, Q().where(entity_id__startswith="pay-"))
    assert got == ["pay-1", "pay-2", "pay-3"]


def test_reverse_filter(statements):
    got = ids(statements, Q().where(reverse="org-acme"))
    assert got == ["pay-1", "pay-2"]


def test_search(statements):
    # ftmq-parity: search matches name-typed values only (reference golden
    # tests/test_store.py:260-263) — reg-3's description mentions "agency"
    # but only reg-1 carries it in a name.
    got = ids(statements, Q().where(dataset="registry").search("agency"))
    assert got == ["reg-1"]


def test_order_by_numeric_asc(statements):
    ents = compile_entities(
        statements, Q().where(schema="Payment").order_by("amountEur")
    ).collect()
    # order preserved? compile_entities assembles after slicing; ordering of
    # the returned DF is not guaranteed post-groupBy, so assert via slice.
    first = compile_entities(
        statements, Q().where(schema="Payment").order_by("amountEur")[0]
    ).collect()[0]
    assert first["properties"]["amountEur"] == ["1200.5"]
    assert len(ents) == 3


def test_order_by_numeric_desc(statements):
    first = compile_entities(
        statements,
        Q().where(schema="Payment").order_by("amountEur", ascending=False)[0],
    ).collect()[0]
    assert first["properties"]["amountEur"] == ["320000"]


def test_order_by_string(statements):
    first = compile_entities(
        statements, Q().where(schema="Person").order_by("name")[0]
    ).collect()[0]
    assert first["caption"] == "Carol Meier"


def test_slice(statements):
    got = compile_entities(statements, Q().where(dataset="grants")[:3]).collect()
    assert len(got) == 3
    one = compile_entities(statements, Q().where(dataset="grants")[2]).collect()
    assert len(one) == 1
    assert compile_entities(statements, Q()[0:10:1]).count() == 10
    assert compile_entities(statements, Q()[3:3]).count() == 0


@pytest.mark.parametrize(
    "bad",
    [slice(5, 3), slice(-3, None), slice(None, -1), slice(0, 10, 2), -1],
)
def test_bad_slice_raises(bad):
    # a negative bound or a stop before the start used to reach Spark as
    # a negative limit or offset; a step was dropped
    with pytest.raises(ValueError):
        Q()[bad]


def test_bad_comparator_raises():
    with pytest.raises(ValueError):
        Q().where(prop="date", value=1, comparator="huh")


def test_in_needs_a_collection(statements):
    # a scalar string would be matched character by character
    with pytest.raises(ValueError):
        Q().where(country__in="de")
    with pytest.raises(ValueError):
        Q().where(prop="country", value="de", comparator="not_in")
    got = ids(statements, Q().where(country__in=["de"]))
    assert got == ["addr-1", "org-acme", "org-beta"]
    got = ids(statements, Q().where(schema="LegalEntity", country__not_in={"de"}))
    assert got == ["per-carol"]


def test_criteria_met_by_different_statements(statements):
    # the country and the name criterion each hold on a different
    # statement of org-acme; org-beta meets only the country one
    got = ids(statements, Q().where(country="de", name__startswith="Acme"))
    assert got == ["org-acme"]
    got = ids(statements, Q().where(country="de").search("stiftung"))
    assert got == ["org-beta"]


def test_reverse_reference_from_another_dataset(spark):
    from ftm_columnstore_spark.sources.statements import statements_from_rows

    rows = [
        # "x" has its name in d2 and its reference to "target" in d1
        dict(id="s1", entity_id="x", prop="name", value="X Ltd", schema="Company", dataset="d2"),
        dict(id="s2", entity_id="x", prop="owner", value="target", schema="Company", dataset="d1"),
        dict(id="s3", entity_id="y", prop="name", value="Y Ltd", schema="Company", dataset="d2"),
        dict(id="s4", entity_id="target", prop="name", value="T", schema="Person", dataset="d1"),
    ]
    df = statements_from_rows(spark, rows)
    ents = compile_entities(df, Q().where(dataset="d2", reverse="target")).collect()
    assert [e["id"] for e in ents] == ["x"]
    # whole entity: the referencing statement from d1 is re-expanded too
    assert ents[0]["properties"]["owner"] == ["target"]
    assert ents[0]["datasets"] == ["d1", "d2"]


def test_grouped_count_of_a_prop(statements):
    from ftm_columnstore_spark.plans.compiler import compile_aggregations

    # pay-3 (2009) has no payer: it counts towards no year
    q = Q().where(schema="Payment").aggregate("count", "payer", groups="year")
    res = compile_aggregations(statements, q)
    assert res["groups"]["year"]["count"]["payer"] == {"2008": 1, "2009": 1}
    assert res["count"]["payer"] == 2
