"""Shared fixtures: one local SparkSession + a synthetic FtM corpus.

The corpus mirrors the *structure* of the reference fixtures (FIXTURES.md A:
payments with entity refs / numeric-as-string amounts / partial dates,
name-bearing legal entities, addresses, a text-heavy second dataset) without
copying their data, so every reference golden *behavior* can be asserted on
known-by-construction values.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from ftm_columnstore_spark.sources.statements import entities_to_statements


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    from ftm_columnstore_spark.session import get_spark

    import tempfile

    spark = get_spark(
        "ftmcs-tests",
        master="local[4]",
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="ftmcs-wh-"),
            # perfbench's Tracer (tests/test_tools.py) reads every stage of
            # a span's jobs from the status store, which past this many
            # stages drops old ones, skipped stages first; the suite runs
            # about 12k
            "spark.ui.retainedStages": "100000",
        },
    )
    yield spark


@pytest.fixture
def cache_empty(spark):
    """Clear the session-wide cache, then return a probe for whether
    Spark's CacheManager is empty again."""
    spark.catalog.clearCache()
    return spark._jsparkSession.sharedState().cacheManager().isEmpty


@pytest.fixture
def small_store_rule_off(monkeypatch):
    """A call that forces the small-store rule of ``Store.statements()``
    and ``Store.value_index()`` off until the test ends (no store holds
    fewer than zero bytes), so a small compacted store plans as a large
    one would."""
    from ftm_columnstore_spark import store

    return lambda: monkeypatch.setattr(store, "SMALL_STORE_BYTES", -1)


def entity(id, schema, dataset, **props):
    return {
        "id": id,
        "caption": None,
        "schema": schema,
        "properties": {k: [str(x) for x in v] for k, v in props.items()},
        "datasets": [dataset],
        "referents": [],
    }


# dataset "grants": payments between legal entities, with addresses.
GRANTS = [
    entity("org-acme", "Company", "grants", name=["Acme Holding AG"], country=["de"], addressEntity=["addr-1"]),
    entity("org-beta", "Organization", "grants", name=["Beta Stiftung"], country=["de"]),
    entity("per-carol", "Person", "grants", name=["Carol Meier"], country=["at"], addressEntity=["addr-1"]),
    entity("addr-1", "Address", "grants", full=["Hauptstr. 1, Berlin"], city=["Berlin"], country=["de"]),
    entity(
        "pay-1", "Payment", "grants",
        amountEur=["50001"], date=["2008-03-15"], beneficiary=["org-acme"], payer=["org-beta"],
    ),
    entity(
        "pay-2", "Payment", "grants",
        amountEur=["320000"], date=["2009-11-02"], beneficiary=["org-acme"], payer=["per-carol"],
    ),
    entity(
        "pay-3", "Payment", "grants",
        amountEur=["1200.5"], date=["2009"], beneficiary=["org-beta"],
    ),
]

# dataset "registry": text-heavy public bodies.
REGISTRY = [
    entity(
        "reg-1", "PublicBody", "registry",
        name=["Central Data Agency"], jurisdiction=["eu"],
        description=["An agency for data matters and oversight."],
    ),
    entity(
        "reg-2", "PublicBody", "registry",
        name=["Office of Records"], jurisdiction=["eu"],
        description=["Keeps the records."],
    ),
    entity(
        "reg-3", "PublicBody", "registry",
        name=["Statistics Bureau"], jurisdiction=["eu"],
        description=["Produces statistics; also an agency."],
    ),
]


@pytest.fixture(scope="session")
def entities_df(spark):
    from ftm_columnstore_spark.model.schemas import ENTITY_SCHEMA

    rows = [
        tuple(e[f] for f in ["id", "caption", "schema", "properties", "datasets", "referents"])
        for e in GRANTS + REGISTRY
    ]
    return spark.createDataFrame(rows, ENTITY_SCHEMA)


@pytest.fixture(scope="session")
def statements(entities_df):
    df = entities_to_statements(entities_df, last_seen="2024-01-01 00:00:00")
    df.cache().count()
    return df
