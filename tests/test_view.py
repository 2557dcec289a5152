"""View facade — reference user-facing API parity
(reference tests/test_store.py usage shapes)."""

import pytest

from ftm_columnstore_spark.plans.query import Q
from ftm_columnstore_spark.store import Store


@pytest.fixture()
def view(spark, tmp_path, entities_df):
    store = Store(spark, str(tmp_path / "s"))
    store.ensure()
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    return store.view()


def test_get_entity(view):
    e = view.get_entity("org-acme")
    assert e["caption"] == "Acme Holding AG"
    assert e["properties"]["country"] == ["de"]
    assert view.get_entity("nope") is None


def test_entities_with_query(view):
    got = sorted(e["id"] for e in view.entities(Q().where(schema="Payment")))
    assert got == ["pay-1", "pay-2", "pay-3"]
    assert len(list(view.entities())) == 10


def test_get_inverted(view):
    got = sorted(view.get_inverted("org-acme"))
    assert got == [("paymentsReceived", "pay-1"), ("paymentsReceived", "pay-2")]


def test_get_adjacent(view):
    got = sorted(view.get_adjacent("per-carol"))
    assert ("out", "addressEntity", "addr-1") in got
    assert ("in", "paymentsMade", "pay-2") in got


def test_stats_and_aggregations(view):
    s = view.stats(dataset="grants")
    assert s["entity_count"] == 7
    agg = view.aggregations(
        Q().where(schema="Payment").aggregate("sum", "amountEur")
    )
    assert agg["sum"]["amountEur"] == 371201.5


def test_catalog_view(spark, tmp_path, entities_df):
    store = Store(spark, str(tmp_path / "cat"))
    store.ensure()
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    both = store.view(dataset=["grants", "registry"])
    assert len(list(both.entities())) == 10
    one = store.view(dataset=["registry"])
    assert len(list(one.entities())) == 3


def test_get_expanded(view):
    got = dict(view.get_expanded("addr-1", hops=2))
    assert got["addr-1"] == 0
    assert got.get("org-acme") == 1
    assert got.get("pay-1") == 2


def test_view_profile(view):
    prof = {r["column"]: r for r in view.profile(["schema", "canonical_id"])}
    assert set(prof) == {"schema", "canonical_id"}
    assert prof["schema"]["n_nulls"] == 0
    assert prof["schema"]["n_distinct_est"] >= 1
    assert prof["canonical_id"]["n_values"] > 0


def test_warm_view_mix_compiles_no_code(spark, view):
    # The mix cycles through about 150 generated classes on this fixture,
    # more than Spark's default 100-entry class cache holds: there, each
    # class is evicted before its next use and a warm run recompiles
    # about 170 of them.
    compilations = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )

    def mix():
        view.get_entity("org-acme")
        list(view.entities(Q().where(country="de")))
        list(view.get_adjacent("per-carol"))
        list(view.entities(Q().search("agency")))
        top = Q().where(schema="Payment").order_by("amountEur", ascending=False)
        list(view.entities(top[:2]))
        list(view.get_inverted("org-acme"))
        view.aggregations(
            Q().where(schema="Payment").aggregate("sum", "amountEur", groups="year")
        )
        view.aggregations(Q().aggregate("count", "id", groups="country"))
        view.stats()

    mix()
    before = compilations.getCount()
    mix()
    assert compilations.getCount() - before == 0


@pytest.fixture()
def compacted(spark, tmp_path, entities_df):
    """A small compacted store with a current value index: the store
    the small-store rule reads as one partition."""
    store = Store(spark, str(tmp_path / "c"))
    store.ensure()
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.optimize()
    store.build_value_index()
    return store


def _sorted_lists(x):
    """``x`` with every list sorted, so results compare as sets where the
    API promises no order."""
    if isinstance(x, dict):
        return {k: _sorted_lists(v) for k, v in x.items()}
    if isinstance(x, list):
        return sorted((_sorted_lists(v) for v in x), key=repr)
    return x


def _serve_mix(view) -> dict:
    """The View calls of the serve mix, their results made comparable."""
    top = Q().where(schema="Payment").order_by("amountEur", ascending=False)
    return {
        "by_country": _sorted_lists(list(view.entities(Q().where(country="de")))),
        "search": _sorted_lists(list(view.entities(Q().search("agency")))),
        "top": [e["id"] for e in view.entities(top[:2])],
        "sum_by_year": view.aggregations(
            Q().where(schema="Payment").aggregate("sum", "amountEur", groups="year")
        ),
        "count_by_country": view.aggregations(
            Q().aggregate("count", "id", groups="country")
        ),
        "stats": view.stats(),
        "entity": _sorted_lists(view.get_entity("org-acme")),
        "adjacent": sorted(view.get_adjacent("per-carol")),
        "inverted": sorted(view.get_inverted("org-acme")),
    }


def test_single_partition_read_matches_partitioned(
    compacted, small_store_rule_off
):
    one = _serve_mix(compacted.view())
    small_store_rule_off()
    assert _serve_mix(compacted.view()) == one
    assert one["top"] == ["pay-2", "pay-1"]
    assert one["stats"]["entity_count"] == 10


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_single_partition_view_plans_shuffle_nothing(
    compacted, small_store_rule_off
):
    """On a small compacted store the View reads the in-memory copy, not
    parquet, and its canonical_id aggregates need no hash or range
    Exchange (broadcasts remain). With the rule off the same plans scan
    parquet, the dataset and canonical_id filters reach the scan, and
    the plans shuffle."""
    from ftm_columnstore_spark.operators.assembly import get_entity
    from ftm_columnstore_spark.operators.graph import adjacent, inverted
    from ftm_columnstore_spark.plans.compiler import (
        compile_aggregation_df,
        compile_entities,
    )
    from ftm_columnstore_spark.plans.query import Aggregation

    def plans(store) -> dict[str, str]:
        stmts = store.statements()
        top = Q().where(schema="Payment").order_by("amountEur", ascending=False)
        return {
            "by_country": _plan(compile_entities(stmts, Q().where(country="de"))),
            "search": _plan(compile_entities(stmts, Q().search("agency"))),
            "top": _plan(compile_entities(stmts, top[:2])),
            "aggregation": _plan(compile_aggregation_df(
                stmts, Q(), Aggregation("count", "id", "country"))),
            "entity": _plan(get_entity(stmts, "org-acme")),
            "adjacent": _plan(adjacent(stmts, "per-carol")),
            "inverted": _plan(inverted(store.entity_refs(), "org-acme")),
        }

    def point(store) -> str:
        return _plan(
            store.statements(dataset="grants").filter("canonical_id = 'org-acme'")
        )

    for name, plan in {**plans(compacted), "point": point(compacted)}.items():
        assert "Scan ExistingRDD" in plan, name
        assert "FileScan" not in plan, name
        assert "Exchange hashpartitioning" not in plan, name
        assert "rangepartitioning" not in plan, name
    small_store_rule_off()
    off = plans(compacted)
    assert not any("ExistingRDD" in plan for plan in off.values())
    assert "Exchange hashpartitioning" in off["by_country"]
    scan = point(compacted)
    assert "dataset" in scan.split("PartitionFilters", 1)[1][:200]
    assert "canonical_id" in scan.split("PushedFilters", 1)[1][:200]


def test_view_mix_leaves_cache_manager_empty(compacted, cache_empty):
    """The small-store copies are local checkpoints: they never enter
    Spark's CacheManager, so no query pays its plan look-ups."""
    _serve_mix(compacted.view())
    assert set(compacted._copies) == {compacted._path, compacted._index_path}
    assert cache_empty()


def test_warm_get_entity_round_trips(compacted, monkeypatch):
    """A warm ``get_entity`` call builds its fixed expressions once per
    JVM gateway: about 120 Py4J round trips, against about 480 when every
    call rebuilt assembly's aggregate and select lists."""
    from py4j.clientserver import ClientServerConnection

    view = compacted.view()
    view.get_entity("org-acme")
    sent = []
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    assert view.get_entity("org-acme")["id"] == "org-acme"
    monkeypatch.undo()
    assert len(sent) <= 200
