"""Store round-trip, upsert dedup, compaction, resolver
(SURVEY §2.1, §2.8 U2, §1.4 P5; reference tests/test_store.py:58-66)."""

import pytest
from pyspark.sql import functions as F

from ftm_columnstore_spark.store import SMALL_STORE_BYTES, Store, dedup_statements


@pytest.fixture()
def store(spark, tmp_path):
    s = Store(spark, str(tmp_path / "store"))
    s.ensure()
    return s


def test_write_read_roundtrip(store, entities_df):
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    assert store.statements().select("entity_id").distinct().count() == 10
    assert store.statements(dataset="grants").select("entity_id").distinct().count() == 7


def test_upsert_no_growth(store, entities_df):
    """Re-adding identical entities must not grow the store (U2)."""
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    n1 = store.statements().count()
    store.write_entities(entities_df, last_seen="2024-02-01 00:00:00")
    n2 = store.statements().count()
    assert n1 == n2
    # raw (non-deduped) store did grow — dedup is on read
    assert store.statements(deduped=False).count() == 2 * n1


def test_upsert_latest_wins(store, spark):
    from ftm_columnstore_spark.sources.statements import statements_from_rows

    for ts, seen in [("v1", "2024-01-01"), ("v1", "2024-03-01")]:
        df = statements_from_rows(
            spark,
            [dict(id="s1", entity_id="e", prop="name", schema="Person",
                  value="A", dataset="d", last_seen=None)],
        ).withColumn("last_seen", F.to_timestamp(F.lit(seen)))
        store.write_statements(df)
    rows = store.statements().collect()
    assert len(rows) == 1
    assert str(rows[0]["last_seen"]).startswith("2024-03-01")


def test_compaction(store, entities_df):
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.write_entities(entities_df, last_seen="2024-02-01 00:00:00")
    before_raw = store.statements(deduped=False).count()
    store.optimize()
    after_raw = store.statements(deduped=False).count()
    assert after_raw == before_raw // 2
    assert store.statements().count() == after_raw


def test_compacted_reads_skip_dedup_shuffle(store, entities_df):
    """After optimize() the on-disk rows are unique on STATEMENT_KEY, so
    reads skip the corpus-wide dedup groupBy entirely (the compaction
    payoff measured in the sf1 spine soak) — and an append re-arms it."""
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.write_entities(entities_df, last_seen="2024-02-01 00:00:00")
    expected = {
        tuple(r)
        for r in store.statements()
        .select("id", "entity_id", "prop", "value")
        .collect()
    }
    assert not store.is_compacted()
    store.optimize()
    assert store.is_compacted()
    deduped = store.statements()
    plan = deduped._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan
    got = {
        tuple(r)
        for r in deduped.select("id", "entity_id", "prop", "value").collect()
    }
    assert got == expected
    # latest version survived compaction
    assert all(
        str(r["last_seen"]).startswith("2024-02-01")
        for r in deduped.select("last_seen").collect()
    )
    # an append invalidates the marker; dedup-on-read resumes
    store.write_entities(entities_df, last_seen="2024-03-01 00:00:00")
    assert not store.is_compacted()
    again = store.statements()
    assert "Aggregate" in again._jdf.queryExecution().optimizedPlan().toString()
    assert again.count() == len(expected)


def test_compacted_read_with_resolver_still_remaps(store, spark, entities_df):
    """With a resolver installed the fast path must NOT apply: the
    remap still runs AND the read takes the dedup path (the content
    hash excludes canonical_id, so a remap can merge on-disk rows)."""
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.optimize()
    cmap = spark.createDataFrame(
        [("org-acme", "canon-1"), ("org-beta", "canon-1")],
        ["entity_id", "canonical_id"],
    )
    store.set_resolver(cmap)
    stmts = store.statements()
    assert "Aggregate" in stmts._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(
        r["entity_id"]
        for r in stmts.filter(F.col("canonical_id") == "canon-1")
        .select("entity_id")
        .distinct()
        .collect()
    ) == ["org-acme", "org-beta"]


def test_compacted_resolver_merge_dedups(store, spark):
    """Round-8 self-review regression: the same statement written under
    two different canonical ids survives compaction as TWO rows
    (distinct 5-tuple keys); a resolver remap unifying the canonical id
    makes them equal on STATEMENT_KEY, and the read must collapse them
    to the max-last_seen winner — the naive compacted fast path
    returned both."""
    from ftm_columnstore_spark.sources.statements import statements_from_rows

    for canon, seen in [("c-old", "2024-01-01"), ("c-new", "2024-02-01")]:
        df = (
            statements_from_rows(
                spark,
                [dict(id="s1", entity_id="e", prop="name", schema="Person",
                      value="A", dataset="d", last_seen=None)],
            )
            .withColumn("canonical_id", F.lit(canon))
            .withColumn("last_seen", F.to_timestamp(F.lit(seen)))
        )
        store.write_statements(df)
    store.optimize()
    assert store.statements(deduped=False).count() == 2
    cmap = spark.createDataFrame([("e", "c-final")], ["entity_id", "canonical_id"])
    store.set_resolver(cmap)
    rows = store.statements().collect()
    assert len(rows) == 1
    assert str(rows[0]["last_seen"]).startswith("2024-02-01")
    assert rows[0]["canonical_id"] == "c-final"


def test_resolver_canonicalization(store, spark, entities_df):
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    cmap = spark.createDataFrame(
        [("org-acme", "canon-1"), ("org-beta", "canon-1")],
        ["entity_id", "canonical_id"],
    )
    store.set_resolver(cmap)
    stmts = store.statements()
    canon = stmts.filter(F.col("canonical_id") == "canon-1")
    assert sorted(
        r["entity_id"] for r in canon.select("entity_id").distinct().collect()
    ) == ["org-acme", "org-beta"]
    # unmapped ids keep identity
    assert stmts.filter(F.col("canonical_id") == "pay-1").count() > 0


def test_dedup_statements_unit(spark):
    from ftm_columnstore_spark.sources.statements import statements_from_rows

    df = statements_from_rows(
        spark,
        [
            dict(id="s1", entity_id="e", prop="p", schema="Thing", value="v",
                 dataset="d", last_seen=None),
            dict(id="s1", entity_id="e", prop="p", schema="Thing", value="v",
                 dataset="d", last_seen=None),
            dict(id="s2", entity_id="e", prop="p", schema="Thing", value="w",
                 dataset="d", last_seen=None),
        ],
    )
    assert dedup_statements(df).count() == 2


def test_pop_removes_entity(store, entities_df):
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    popped = store.pop("pay-1")
    assert len(popped) == 5
    assert store.statements().filter(F.col("entity_id") == "pay-1").count() == 0
    assert store.statements().select("entity_id").distinct().count() == 9
    assert store.pop("no-such-entity") == []


def test_pop_under_resolver_deletes_what_it_returns(store, spark):
    """Under a resolver b→a, pop("a") returns a's and b's statements,
    and deletes exactly those: b's rows carry canonical_id b on disk."""
    from ftm_columnstore_spark.sources.statements import statements_from_rows

    store.write_statements(
        statements_from_rows(
            spark,
            [
                dict(id=f"s-{e}", entity_id=e, prop="name", schema="Person",
                     value=e.upper(), dataset="d", last_seen=None)
                for e in ("a", "b", "c")
            ],
        )
    )
    store.set_resolver(
        spark.createDataFrame([("b", "a")], ["entity_id", "canonical_id"])
    )
    popped = store.pop("a")
    assert sorted((r["entity_id"], r["canonical_id"]) for r in popped) == [
        ("a", "a"), ("b", "a")
    ]
    assert [
        (r["entity_id"], r["canonical_id"])
        for r in store.statements().collect()
    ] == [("c", "c")]


def test_pop_keeps_same_statement_under_other_canonical(store, spark):
    """Without a resolver, the statement s1 written under c-old and
    under c-new is two statements: pop("c-old") returns and deletes only
    the c-old one, although both rows share the id s1."""
    from ftm_columnstore_spark.sources.statements import statements_from_rows

    for canon in ("c-old", "c-new"):
        store.write_statements(
            statements_from_rows(
                spark,
                [dict(id="s1", entity_id="e", prop="name", schema="Person",
                      value="A", dataset="d", last_seen=None)],
            ).withColumn("canonical_id", F.lit(canon))
        )
    popped = store.pop("c-old")
    assert [r["canonical_id"] for r in popped] == ["c-old"]
    assert [
        r["canonical_id"] for r in store.statements().collect()
    ] == ["c-new"]


def test_fingerprint_side_write(store, entities_df):
    store.write_entities(
        entities_df, last_seen="2024-01-01 00:00:00", with_fingerprints=True
    )
    fpx = store.fingerprints()
    assert fpx.count() > 0
    algos = {r["algorithm"] for r in fpx.select("algorithm").distinct().collect()}
    assert algos == {"fingerprint", "metaphone1", "soundex"}
    # only name-bearing LegalEntity descendants produce fingerprints
    assert fpx.filter(F.col("entity_id").startswith("pay-")).count() == 0


def test_fingerprint_write_failure_releases_persist(
    store, entities_df, cache_empty, monkeypatch
):
    """The explode both writes read is released on success and when the
    fingerprint write raises."""
    from ftm_columnstore_spark.operators import blocking

    store.write_entities(
        entities_df, last_seen="2024-01-01 00:00:00", with_fingerprints=True
    )
    assert cache_empty()

    def broken(stmts):
        raise RuntimeError("injected")

    monkeypatch.setattr(blocking, "derive_fingerprints", broken)
    with pytest.raises(RuntimeError, match="injected"):
        store.write_entities(
            entities_df, last_seen="2024-02-01 00:00:00", with_fingerprints=True
        )
    assert cache_empty()


def test_bucketed_table_no_exchange(store, entities_df, spark):
    """Entity assembly over the bucketed table plans with zero shuffles."""
    from ftm_columnstore_spark.operators.assembly import assemble_entities

    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.to_bucketed_table("t_bucketed", buckets=4)
    bucketed = spark.table("t_bucketed")
    entities = assemble_entities(bucketed)
    plan = entities._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert entities.count() == 10


def test_changed_entities_delta(store, entities_df, spark):
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    from ftm_columnstore_spark.sources.statements import statements_from_rows

    update = statements_from_rows(
        spark,
        [dict(id="upd-1", entity_id="org-acme", prop="alias", prop_type="name",
              schema="Company", value="ACME", dataset="grants", last_seen=None)],
    ).withColumn("last_seen", F.to_timestamp(F.lit("2024-06-01")))
    store.write_statements(update)
    changed = store.changed_entities("2024-03-01")
    rows = changed.collect()
    assert [r["id"] for r in rows] == ["org-acme"]
    # whole entity returned, not just the delta statement
    assert rows[0]["properties"]["name"] == ["Acme Holding AG"]
    assert rows[0]["properties"]["alias"] == ["ACME"]


def test_value_index_parity_and_pruning(
    store, entities_df, spark, small_store_rule_off
):
    """The value-clustered reverse-lookup copy returns the same edges as
    the main-table scan, prunes with a pushed value filter (read from
    parquet, as an index above the small-store limit is), and readers
    fall back gracefully when it is absent."""
    from ftm_columnstore_spark.operators.graph import inverted

    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    # absent → fallback to filtered main table
    assert store.value_index() is None
    ref_id = (
        store.statements()
        .filter(F.col("prop_type") == "entity")
        .select("value")
        .first()["value"]
    )
    base = sorted(
        (r["prop"], r["entity_id"])
        for r in inverted(store.entity_refs(), ref_id).collect()
    )
    assert base  # the fixture has entity references

    store.build_value_index()
    idx = store.value_index()
    assert idx is not None
    via_index = sorted(
        (r["prop"], r["entity_id"]) for r in inverted(idx, ref_id).collect()
    )
    assert via_index == base

    # the index is the entity_refs() source once built
    assert store.entity_refs().count() == idx.count()

    # point lookup pushes the value predicate into the parquet scan
    small_store_rule_off()
    plan = (
        store.value_index()
        .filter(F.col("value") == ref_id)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "value" in plan


def test_view_inverted_uses_index(store, entities_df):
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    v = store.view()
    ref_id = (
        store.statements()
        .filter(F.col("prop_type") == "entity")
        .select("value")
        .first()["value"]
    )
    before = sorted(v.get_inverted(ref_id))
    store.build_value_index()
    assert sorted(v.get_inverted(ref_id)) == before


def test_stale_value_index_is_not_read(store, spark, entities_df):
    """The value index answers only while the write epoch it was built
    at is current: after a pop or an append, reverse lookups come from
    the main table until the index is rebuilt."""
    from ftm_columnstore_spark.sources.statements import statements_from_rows

    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.build_value_index()
    v = store.view()
    assert sorted(v.get_inverted("org-beta")) == [
        ("paymentsMade", "pay-1"), ("paymentsReceived", "pay-3")]
    store.pop("pay-1")
    assert store.value_index() is None
    assert sorted(v.get_inverted("org-beta")) == [("paymentsReceived", "pay-3")]
    store.build_value_index()
    assert store.value_index() is not None
    assert sorted(v.get_inverted("org-beta")) == [("paymentsReceived", "pay-3")]
    update = statements_from_rows(
        spark,
        [dict(id="upd-1", entity_id="pay-9", prop="payer", prop_type="entity",
              schema="Payment", value="org-beta", dataset="grants",
              last_seen=None)],
    ).withColumn("last_seen", F.to_timestamp(F.lit("2024-06-01")))
    store.write_statements(update)
    assert sorted(v.get_inverted("org-beta")) == [
        ("paymentsMade", "pay-9"), ("paymentsReceived", "pay-3")]


def test_optimize_keeps_a_current_value_index(store, entities_df):
    """Compaction changes no deduped row: an index current before
    ``optimize()`` is current after it; a stale one stays stale."""
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.write_entities(entities_df, last_seen="2024-02-01 00:00:00")
    store.build_value_index()
    store.optimize(slices=2)
    assert store.value_index() is not None
    assert sorted(store.view().get_inverted("org-beta")) == [
        ("paymentsMade", "pay-1"), ("paymentsReceived", "pay-3")]
    store.pop("pay-1")
    store.optimize()
    assert store.value_index() is None


def test_small_store_rule_needs_a_recorded_size(store, entities_df):
    """A compacted store is served from its in-memory copy only when its
    marker records a size within the limit; a marker written before sizes
    were recorded keeps the parquet scan."""
    import json

    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.optimize()

    def plan():
        return store.statements()._jdf.queryExecution().executedPlan().toString()

    with open(store._marker) as fh:
        marker = json.load(fh)
    assert 0 < marker["bytes"] <= SMALL_STORE_BYTES
    assert "Scan ExistingRDD" in plan() and "FileScan" not in plan()
    del marker["bytes"]
    with open(store._marker, "w") as fh:
        json.dump(marker, fh)
    assert store.is_compacted()
    assert "FileScan parquet" in plan() and "ExistingRDD" not in plan()


# --- the small-store copy's lifetime -----------------------------------------
def _persistent(spark) -> set[int]:
    return set(dict(spark.sparkContext._jsc.getPersistentRDDs()))


def _copy_rdd(store, path=None) -> int:
    """The RDD id of the copy ``store`` holds for ``path`` (the
    statements directory by default)."""
    return store._copies[path or store._path]._rdd.id()


def _ids(store, **kw) -> set[str]:
    return {r["entity_id"] for r in store.statements(**kw).select("entity_id").collect()}


def test_small_copy_sees_a_write(store, spark, entities_df):
    """A write after the copy exists is visible to the next read, and the
    first read after it releases the copy (a cache keyed on the path
    alone would serve the old rows)."""
    from ftm_columnstore_spark.sources.statements import statements_from_rows

    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.optimize()
    assert "pay-9" not in _ids(store)
    old = _copy_rdd(store)
    assert old in _persistent(spark)
    store.write_statements(statements_from_rows(spark, [dict(
        id="w-1", entity_id="pay-9", prop="amountEur", schema="Payment",
        value="5", dataset="grants", last_seen=None)]))
    assert "pay-9" in _ids(store)
    assert old not in _persistent(spark) and not store._copies
    store.optimize()
    assert "pay-9" in _ids(store)


def test_optimize_replaces_the_copy(store, spark, entities_df):
    """A compaction gives the next read a new copy, and the replaced one
    is released: one persistent RDD per path."""
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.optimize()
    n = store.statements().count()
    old = _copy_rdd(store)
    assert store.statements().count() == n
    assert _copy_rdd(store) == old  # served, not read again
    store.write_entities(entities_df, last_seen="2024-02-01 00:00:00")
    store.optimize()
    assert store.statements().count() == n
    new = _copy_rdd(store)
    assert new != old
    assert new in _persistent(spark) and old not in _persistent(spark)


def test_pop_and_drop_release_the_copy(store, spark, entities_df):
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.optimize()
    assert "pay-1" in _ids(store)
    first = _copy_rdd(store)
    assert [r["entity_id"] for r in store.pop("pay-1")] and store.is_compacted()
    assert "pay-1" not in _ids(store)
    second = _copy_rdd(store)
    assert second != first and first not in _persistent(spark)
    store.drop()
    assert not store._copies and second not in _persistent(spark)
    assert store.statements().count() == 0


def test_recreated_store_gets_a_new_copy(store, spark, entities_df):
    """A store deleted and re-created at the same path reaches the same
    epoch with the same byte count; the marker's nonce still tells the
    two apart."""
    import json
    import shutil

    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.optimize()
    with open(store._marker) as fh:
        before = json.load(fh)
    assert _ids(store, as_of="2024-01-15")
    shutil.rmtree(store.uri)
    store.write_entities(entities_df, last_seen="2024-02-01 00:00:00")
    store.optimize()
    with open(store._marker) as fh:
        after = json.load(fh)
    assert (after["epoch"], after["bytes"]) == (before["epoch"], before["bytes"])
    assert not _ids(store, as_of="2024-01-15")


def test_rebuilt_value_index_gets_a_new_copy(store, spark, entities_df):
    from ftm_columnstore_spark.sources.statements import statements_from_rows

    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.optimize()
    store.build_value_index()
    v = store.view()
    assert sorted(v.get_inverted("org-beta")) == [
        ("paymentsMade", "pay-1"), ("paymentsReceived", "pay-3")]
    old = _copy_rdd(store, store._index_path)
    store.write_statements(statements_from_rows(spark, [dict(
        id="w-1", entity_id="pay-9", prop="payer", prop_type="entity",
        schema="Payment", value="org-beta", dataset="grants", last_seen=None)]))
    store.build_value_index()
    assert sorted(v.get_inverted("org-beta")) == [
        ("paymentsMade", "pay-1"), ("paymentsMade", "pay-9"),
        ("paymentsReceived", "pay-3")]
    new = _copy_rdd(store, store._index_path)
    assert new != old and old not in _persistent(spark)


def test_optimize_keeps_the_value_index_copy(store, spark, entities_df):
    """``optimize()`` re-stamps a current value index with the new epoch
    but leaves its files alone, so the index copy is kept, not read
    again: the copy is keyed on the marker's nonce, which only a
    rebuild draws."""
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.optimize()
    store.build_value_index()
    v = store.view()
    assert sorted(v.get_inverted("org-beta")) == [
        ("paymentsMade", "pay-1"), ("paymentsReceived", "pay-3")]
    held = _copy_rdd(store, store._index_path)
    store.optimize()
    assert sorted(v.get_inverted("org-beta")) == [
        ("paymentsMade", "pay-1"), ("paymentsReceived", "pay-3")]
    assert _copy_rdd(store, store._index_path) == held
    assert held in _persistent(spark)


@pytest.mark.parametrize("loss", ["unpersist", "block"])
def test_lost_copy_blocks_are_read_again(store, spark, entities_df, loss):
    """A copy whose block is gone is read again from parquet: serving it
    would fail with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. ``block`` removes
    the block alone and leaves the RDD registered, as losing the
    executor that holds it does."""
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.optimize()
    n = store.statements().count()
    held = store._copies[store._path]
    if loss == "unpersist":
        held._rdd.unpersist(True)
    else:
        spark.sparkContext._jsc.sc().env().blockManager().removeBlock(
            held._block, True)
    assert not held.live()
    assert store.statements().count() == n
    assert _copy_rdd(store) != held._rdd.id()
    assert held._rdd.id() not in _persistent(spark)


def test_concurrent_first_reads_build_one_copy(store, entities_df, monkeypatch):
    import threading

    import ftm_columnstore_spark.store as store_mod

    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.optimize()
    built = []

    class Counted(store_mod._Copy):
        def __init__(self, *args):
            built.append(self)
            super().__init__(*args)

    monkeypatch.setattr(store_mod, "_Copy", Counted)
    start = threading.Barrier(2)
    counts = []

    def read():
        start.wait()
        counts.append(store.statements().count())

    threads = [threading.Thread(target=read) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(counts) == 2 and counts[0] == counts[1] > 0
    assert len(built) == 1


def test_resolved_view_inverted_unchanged_by_value_index(store, spark, entities_df):
    """A resolved store reads the value index through its resolver, as it
    reads the main table; an index built under a resolver holds the raw
    ids, so the plain view of the same store does not see canonical ones."""
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    resolved = Store(spark, store.uri)
    resolved.set_resolver(spark.createDataFrame(
        [("pay-1", "pay-X"), ("pay-2", "pay-X")], ["entity_id", "canonical_id"]))
    merged = [("paymentsReceived", "pay-X")]
    raw = [("paymentsReceived", "pay-1"), ("paymentsReceived", "pay-2")]
    assert sorted(resolved.view().get_inverted("org-acme")) == merged
    resolved.build_value_index()
    assert sorted(resolved.view().get_inverted("org-acme")) == merged
    assert sorted(resolved.view("grants").get_inverted("org-acme")) == merged
    assert list(resolved.view("no-such-dataset").get_inverted("org-acme")) == []
    assert sorted(store.view().get_inverted("org-acme")) == raw


def test_drop_and_exists(store, entities_df):
    # exists() = the statement TABLE exists, not the root dir (S8/S9)
    assert not store.exists()
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    assert store.exists()
    assert store.statements().count() > 0
    store.drop()
    assert not store.exists()
    # reads on a dropped store return an empty, correctly-typed frame
    assert store.statements().count() == 0
    # drop is idempotent; a rewrite after drop starts clean
    store.drop()
    store.write_entities(entities_df, last_seen="2024-03-01 00:00:00")
    assert store.statements().select("entity_id").distinct().count() == 10


def test_statements_as_of_time_travel(store, spark):
    from ftm_columnstore_spark.sources.statements import statements_from_rows

    def batch(rows, seen):
        df = statements_from_rows(spark, rows).withColumn(
            "last_seen", F.to_timestamp(F.lit(seen))
        )
        store.write_statements(df)

    batch([dict(id="s1", entity_id="e1", prop="name", schema="Person",
                value="A", dataset="d", last_seen=None)], "2024-01-01")
    # same statement re-seen later + a brand-new statement
    batch([dict(id="s1", entity_id="e1", prop="name", schema="Person",
                value="A", dataset="d", last_seen=None),
           dict(id="s2", entity_id="e2", prop="name", schema="Person",
                value="B", dataset="d", last_seen=None)], "2024-02-01")

    # snapshot between the writes: only the first batch, at its own version
    old = store.statements(as_of="2024-01-15").collect()
    assert [r.entity_id for r in old] == ["e1"]
    assert str(old[0].last_seen).startswith("2024-01-01")

    # current view: both, s1 at its re-seen version
    cur = {r.entity_id: str(r.last_seen) for r in store.statements().collect()}
    assert set(cur) == {"e1", "e2"} and cur["e1"].startswith("2024-02-01")

    # snapshot before anything existed: empty
    assert store.statements(as_of="2023-12-01").count() == 0


def test_epoch_bump_invalidates_fast_path(store, entities_df):
    """VERDICT r7 item 2 (replaces the r7 mtime-walk test with the same
    invalidation behavior): an append that never touches the MARKER file
    still turns the fast path off, because every in-contract writer
    bumps the write epoch and is_compacted() compares marker epoch to
    current epoch — no directory walk, no mtime assumption."""
    import os

    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.optimize()
    assert store.is_compacted()
    n_clean = store.statements().count()
    marker_before = os.path.getmtime(store._marker)
    # in-contract append: goes through write_statements (bumps epoch),
    # marker file itself untouched
    store.write_entities(entities_df, last_seen="2024-02-01 00:00:00")
    assert os.path.exists(store._marker)  # marker cleared or stale both OK
    assert store.is_compacted() is False
    stmts = store.statements()
    plan = stmts._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" in plan  # dedup-on-read resumed
    # re-written keys collapse back to one row per key
    assert store.statements(deduped=False).count() > n_clean
    assert stmts.count() == n_clean
    del marker_before


def test_out_of_band_writer_contract(store, entities_df):
    """The epoch contract's two halves: a raw file placed under
    statements/ WITHOUT bumping the epoch is out-of-contract and keeps
    the O(1) fast path (documented), and the public bump_epoch() is how
    an external writer stays in contract."""
    import os
    import shutil

    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.optimize()
    assert store.is_compacted()
    n_clean = store.statements().count()
    # out-of-band: copy a data file to a new name (mtime-preserving
    # variants like mv/rsync -a behave identically under this check)
    src = next(
        os.path.join(dp, fn)
        for dp, _, files in os.walk(store._path)
        for fn in files
        if fn.endswith(".parquet")
    )
    shutil.copy2(src, src.replace(".parquet", "-oob.parquet"))
    assert store.is_compacted()  # O(1) check cannot see it — documented
    # the writer declares itself: fast path off, dedup-on-read resumes
    store.bump_epoch()
    assert store.is_compacted() is False
    stmts = store.statements()
    assert "Aggregate" in stmts._jdf.queryExecution().optimizedPlan().toString()
    assert store.statements(deduped=False).count() > n_clean
    assert stmts.count() == n_clean


def test_as_of_after_optimize_pins_history_horizon(store, spark):
    """Pins the documented as_of/optimize contract: before compaction
    as_of=T reconstructs the state at T; after compaction superseded
    versions are physically gone, so as_of=T returns the compacted
    survivors filtered by last_seen <= T (here: nothing)."""
    from ftm_columnstore_spark.sources.statements import statements_from_rows

    # same STATEMENT_KEY written twice (an upsert re-confirmation) —
    # two physical versions differing only in last_seen
    for seen in ["2024-01-01", "2024-03-01"]:
        df = statements_from_rows(
            spark,
            [dict(id="s1", entity_id="e", prop="name", schema="Person",
                  value="A", dataset="d", last_seen=None)],
        ).withColumn("last_seen", F.to_timestamp(F.lit(seen)))
        store.write_statements(df)
    at_t1 = store.statements(as_of="2024-02-01").collect()
    assert len(at_t1) == 1
    assert str(at_t1[0]["last_seen"]).startswith("2024-01-01")
    store.optimize()
    # survivor is the 2024-03-01 version; the 2024-01-01 one is gone —
    # as_of now filters the compacted state, it does NOT reconstruct T
    assert store.statements(as_of="2024-02-01").count() == 0
    after = store.statements(as_of="2024-04-01").collect()
    assert len(after) == 1
    assert str(after[0]["last_seen"]).startswith("2024-03-01")


def test_promote_leaves_no_stale_aside_dir(store, entities_df):
    """optimize()/pop() swap rewrites in via rename-aside; on success
    neither the .compact temp nor the .old aside dir remains."""
    import os

    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.write_entities(entities_df, last_seen="2024-02-01 00:00:00")
    store.optimize()
    assert not os.path.exists(store._path + ".compact")
    assert not os.path.exists(store._path + ".old")
    assert store.statements().count() > 0


def test_promote_leaves_no_stale_incremental_dirs(store, entities_df):
    """The per-dataset compaction's temp (.compact) and aside (.aside)
    roots are gone after a successful optimize()."""
    import os

    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.optimize(slices=2)
    assert not os.path.exists(store._path + ".compact")
    assert not os.path.exists(store._path + ".aside")
    assert store.statements().count() > 0


def test_sliced_optimize_matches_monolithic(store, entities_df):
    """VERDICT r7 item 1: per-dataset, hash-of-canonical_id-sliced
    compaction must produce exactly the rows a whole-store rewrite
    would — dedup groups never span datasets (the content-hash id
    embeds the dataset) nor canonical_id hash slices (STATEMENT_KEY
    starts with canonical_id)."""
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.write_entities(entities_df, last_seen="2024-02-01 00:00:00")
    expected = sorted(
        tuple(r)
        for r in store.statements()
        .select("id", "canonical_id", "last_seen", "dataset")
        .collect()
    )
    store.optimize(slices=3)
    assert store.is_compacted()
    raw = store.statements(deduped=False)
    got = sorted(
        tuple(r)
        for r in raw.select("id", "canonical_id", "last_seen", "dataset").collect()
    )
    assert got == expected  # physically unique AND latest-wins
    # fast path: no dedup aggregate in the plan
    plan = store.statements()._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan


def test_partial_optimize_keeps_reads_correct_without_marker(store, entities_df):
    """optimize(datasets=[...]) compacts only the named partitions: the
    named one is physically deduped, the other keeps its duplicates,
    reads stay correct via dedup-on-read, and the fast-path marker is
    NOT set (only a full compaction may claim the whole store clean)."""
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.write_entities(entities_df, last_seen="2024-02-01 00:00:00")
    datasets = [
        r["dataset"]
        for r in store.statements().select("dataset").distinct().collect()
    ]
    assert len(datasets) >= 2
    target, untouched = sorted(datasets)[0], sorted(datasets)[1]
    n_deduped = store.statements().count()
    raw_before = {
        r["dataset"]: r["n"]
        for r in store.statements(deduped=False)
        .groupBy("dataset").agg(F.count("*").alias("n")).collect()
    }
    store.optimize(datasets=[target])
    assert store.is_compacted() is False
    raw_after = {
        r["dataset"]: r["n"]
        for r in store.statements(deduped=False)
        .groupBy("dataset").agg(F.count("*").alias("n")).collect()
    }
    assert raw_after[target] == raw_before[target] // 2
    assert raw_after[untouched] == raw_before[untouched]
    assert store.statements().count() == n_deduped
    # latest version survived in the compacted partition
    seen = store.statements(dataset=target).select("last_seen").collect()
    assert all(str(r["last_seen"]).startswith("2024-02-01") for r in seen)


def test_use_bucketed_serves_reads_without_exchange(store, entities_df, spark):
    """VERDICT r7 item 6: the measured bucketed fast path is reachable
    through the public API — use_bucketed() makes statements()/view()
    serve from the snapshot, results match the plain store, and a
    canonical_id-keyed aggregation plans with zero Exchange."""
    from ftm_columnstore_spark.operators.assembly import assemble_entities

    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.write_entities(entities_df, last_seen="2024-02-01 00:00:00")
    expected = sorted(
        tuple(r)
        for r in store.statements().select("id", "value", "last_seen").collect()
    )
    table = "stmts_bucketed_test"
    try:
        store.to_bucketed_table(table, buckets=4)
        store.use_bucketed(table)
        got = sorted(
            tuple(r)
            for r in store.statements().select("id", "value", "last_seen").collect()
        )
        assert got == expected
        # dataset filter still applies through the snapshot
        assert (
            store.statements(dataset="grants").select("entity_id").distinct().count()
            == 7
        )
        # the snapshot is pre-deduped: no dedup aggregate on the read
        ents = assemble_entities(store.statements())
        plan = ents._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        # view() reads through the snapshot too
        assert store.view().get_entity("pay-1") is not None
        # staleness contract: a later append is invisible until rebuild
        store.write_entities(entities_df, last_seen="2024-03-01 00:00:00")
        assert not any(
            str(r["last_seen"]).startswith("2024-03-01")
            for r in store.statements().select("last_seen").collect()
        )
        store.use_bucketed(enabled=False)
        assert any(
            str(r["last_seen"]).startswith("2024-03-01")
            for r in store.statements().select("last_seen").collect()
        )
    finally:
        store.use_bucketed(enabled=False)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_pop_is_incremental_and_preserves_marker(store, entities_df, spark):
    """pop() rewrites only the partitions containing the entity: a
    compacted store stays compacted, an uncompacted one keeps its
    duplicate rows in the untouched partitions (pop no longer compacts
    the corpus as a side effect), and popping a dataset's only entity
    retires its partition directory."""
    import os

    from ftm_columnstore_spark.sources.statements import statements_from_rows

    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.write_entities(entities_df, last_seen="2024-02-01 00:00:00")
    # uncompacted store: pop removes the entity, leaves dupes elsewhere
    raw_before = store.statements(deduped=False).count()
    popped = store.pop("pay-1")
    assert len(popped) == 5
    assert store.statements().filter(F.col("entity_id") == "pay-1").count() == 0
    assert store.is_compacted() is False
    # only pay-1's partition was deduped; others keep their raw dupes
    assert store.statements(deduped=False).count() < raw_before
    assert store.statements(deduped=False).count() > store.statements().count()
    # compacted store: pop keeps the fast path
    store.optimize()
    assert store.is_compacted()
    store.pop("pay-2")
    assert store.is_compacted()
    plan = store.statements()._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan
    assert store.statements().filter(F.col("entity_id") == "pay-2").count() == 0
    # sole-entity dataset: partition dir is retired entirely
    solo = statements_from_rows(
        spark,
        [dict(id="z1", entity_id="zz", prop="name", schema="Company",
              value="Solo", dataset="solo_ds", last_seen=None)],
    ).withColumn("last_seen", F.to_timestamp(F.lit("2024-03-01")))
    store.write_statements(solo)
    assert any("solo_ds" in d for d in os.listdir(store._path))
    store.pop("zz")
    assert not any("solo_ds" in d for d in os.listdir(store._path))
    assert store.statements().filter(F.col("dataset") == "solo_ds").count() == 0


def test_bucketed_rebuild_reads_live_store(store, entities_df, spark):
    """Round-10 self-review regression: rebuilding the bucketed snapshot
    while use_bucketed serving is enabled must snapshot the LIVE store
    (picking up appends since the last build), not the stale snapshot."""
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    table = "stmts_rebuild_test"
    try:
        store.to_bucketed_table(table, buckets=2)
        store.use_bucketed(table)
        # append lands in the live store, invisible through the snapshot
        store.write_entities(entities_df, last_seen="2024-05-01 00:00:00")
        assert not any(
            str(r["last_seen"]).startswith("2024-05-01")
            for r in store.statements().select("last_seen").collect()
        )
        # rebuild WHILE serving bucketed: must pick up the append
        store.to_bucketed_table(table, buckets=2)
        assert all(
            str(r["last_seen"]).startswith("2024-05-01")
            for r in store.statements().select("last_seen").collect()
        )
    finally:
        store.use_bucketed(enabled=False)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_grouped_rewrite_matches_per_dataset(store, entities_df, monkeypatch):
    """Catalog-style stores: small datasets share one rewrite job
    (REWRITE_BATCH_BYTES groups them); forcing one-job-per-dataset
    (a threshold of 1 byte: every partition is >= it, so each
    rewrites alone) produces the identical store."""
    import ftm_columnstore_spark.store as store_mod

    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.write_entities(entities_df, last_seen="2024-02-01 00:00:00")
    datasets = [r["dataset"] for r in
                store.statements().select("dataset").distinct().collect()]
    groups = store._group_datasets(datasets)
    assert len(groups) == 1 and len(groups[0]) >= 2  # small ones share
    expected = sorted(
        tuple(r)
        for r in store.statements().select("id", "value", "last_seen").collect()
    )
    monkeypatch.setattr(store_mod, "REWRITE_BATCH_BYTES", 1)
    assert len(store._group_datasets(datasets)) == len(datasets)
    store.optimize()  # every dataset alone
    monkeypatch.undo()
    assert store.is_compacted()
    got_single = sorted(
        tuple(r)
        for r in store.statements(deduped=False)
        .select("id", "value", "last_seen").collect()
    )
    assert got_single == expected
    # append + grouped compaction: same result again
    store.write_entities(entities_df, last_seen="2024-03-01 00:00:00")
    store.optimize()  # default threshold: one shared job
    assert store.is_compacted()
    seen = store.statements(deduped=False).select("last_seen").collect()
    assert all(str(r["last_seen"]).startswith("2024-03-01") for r in seen)
