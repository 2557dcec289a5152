"""Physical-plan regression guards: the scale posture is part of the
contract, so the plan properties README promises are pinned here —
partition pruning on dataset, WindowGroupLimit for the dedup window,
TakeOrderedAndProject for top-k, partial aggregation before exchanges.
A refactor that silently turns one of these into a full scan / global
sort / single-stage agg fails the suite, not just the benchmark.

The store-backed guards pin the plans of a store too large for the
small-store rule, which reads a small compacted store as one partition
(its plans are pinned in tests/test_view.py): the rule is forced off."""

import pytest
from pyspark.sql import functions as F

from ftm_columnstore_spark.store import Store


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def pstore(spark, tmp_path, entities_df, small_store_rule_off):
    small_store_rule_off()
    s = Store(spark, str(tmp_path / "pstore"))
    s.ensure()
    s.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    return s


def test_dataset_filter_prunes_partitions(pstore):
    plan = _plan(pstore.statements(dataset="grants", deduped=False))
    # hive-partitioned store: the dataset predicate must land in
    # PartitionFilters (pruned listing), not a post-scan Filter
    assert "PartitionFilters" in plan
    assert "dataset" in plan.split("PartitionFilters", 1)[1][:200]


def test_dedup_is_partial_aggregate_not_window(pstore):
    plan = _plan(pstore.statements())
    # dedup-on-read is a max-struct hash aggregate: duplicates collapse
    # map-side (partial_max) BEFORE the shuffle; a window would shuffle
    # and sort every raw row
    assert "partial_max" in plan
    assert "Window" not in plan


def test_topk_is_take_ordered(pstore):
    from ftm_columnstore_spark.plans.compiler import compile_entity_ids
    from ftm_columnstore_spark.plans.query import Q

    q = Q().order_by("amount")[:5]
    plan = _plan(compile_entity_ids(pstore.statements(), q))
    assert "TakeOrderedAndProject" in plan


def _subtree(plan: str, marker: str) -> list[str]:
    """Lines of the plan node on the first line containing ``marker``,
    its descendants included."""
    lines = plan.splitlines()
    i = next(n for n, line in enumerate(lines) if marker in line)
    depth = lines[i].index("+-")
    sub = [lines[i]]
    for line in lines[i + 1 :]:
        if "+-" in line and line.index("+-") <= depth:
            break
        sub.append(line)
    return sub


def test_entity_criteria_share_one_frontier_aggregate(pstore):
    """Two prop criteria and a search term fold into one aggregate on
    canonical_id: exactly one shuffle on that key (one per criterion
    would be three), fed only the rows that meet some criterion."""
    import re

    from ftm_columnstore_spark.plans.compiler import compile_statements
    from ftm_columnstore_spark.plans.query import Q

    q = Q().where(country="de", name__startswith="Acme").search("holding")
    plan = _plan(compile_statements(pstore.statements(), q))
    frontier = re.findall(r"Exchange hashpartitioning\(canonical_id#\d+, \d+\)", plan)
    assert len(frontier) == 1
    # scale guard: the exchange's input is filtered by the criteria
    filters = [
        line
        for line in _subtree(plan, frontier[0])
        if "Filter" in line and "Acme" in line
    ]
    assert len(filters) == 1
    assert all(term in filters[0] for term in ("country", "de", "holding", " OR "))


def test_limited_order_by_needs_no_range_partitioning(pstore):
    from ftm_columnstore_spark.plans.compiler import compile_entities
    from ftm_columnstore_spark.plans.query import Q

    plan = _plan(compile_entities(pstore.statements(), Q().order_by("amountEur")[:2]))
    assert "rangepartitioning" not in plan
    assert plan.count("TakeOrderedAndProject") >= 2


def _actions(spark, fn) -> int:
    """SQL executions (actions) that ran the Spark jobs of ``fn``, found
    through a job group as the benchmark tracer does."""
    sc = spark.sparkContext
    group = "test-plans-actions"
    sc.setJobGroup(group, "count actions")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    ran = [executions.apply(i) for i in range(executions.size())]
    return sum(any(e.jobs().contains(j) for j in jobs) for e in ran)


def test_stats_is_one_action(spark, pstore, cache_empty):
    from ftm_columnstore_spark.operators.aggregations import stats

    out = {}
    assert _actions(spark, lambda: out.update(stats(pstore.statements()))) == 1
    assert out["entity_count"] == 10
    # no InMemoryRelation left behind
    assert cache_empty()


def test_adjacent_is_one_distinct(statements):
    import re

    from ftm_columnstore_spark.operators.graph import adjacent

    plan = _plan(adjacent(statements, "org-acme"))
    # one distinct: its partial and its final aggregate
    assert len(re.findall(r"HashAggregate\(keys=\[[^\]]*\], functions=\[\]", plan)) == 2


def test_aggregation_is_two_phase(pstore):
    df = pstore.statements().groupBy("schema").agg(
        F.countDistinct("canonical_id").alias("n")
    )
    plan = _plan(df)
    # partial aggregation must run before the exchange (map-side combine)
    assert "partial_count" in plan or "partial_first" in plan or "Partial" in plan


def test_point_lookup_pushes_filters(pstore):
    df = pstore.statements(deduped=False).filter(F.col("canonical_id") == "x1")
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "canonical_id" in pushed


def test_group_cap_is_take_ordered_not_window(pstore):
    """A7: the MAX_AGG_GROUPS cap compiles to TakeOrderedAndProject
    (per-partition top-N), never a single-partition row_number Window."""
    from ftm_columnstore_spark.plans.compiler import compile_aggregation_df
    from ftm_columnstore_spark.plans.query import Aggregation, Q

    df = compile_aggregation_df(
        pstore.statements(), Q(), Aggregation("sum", "amountEur", "year")
    )
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_global_window_only_after_limit(spark):
    """w2 shape: ranking happens after a TakeOrderedAndProject cut, so
    the unpartitioned Window sees a bounded (≤15 row) input."""
    import __spark_entry__ as entry_mod

    df = entry_mod.w2_rank_spenders(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    # the Window appears above the take-ordered cut in the plan tree
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_funnel(spark):
    """Earliest-completion funnel: strict ordering, window from first
    touch, depth counting."""
    import datetime as dt

    from ftm_columnstore_spark.operators.temporal import funnel

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # u1 completes all three in order
        (1, T(0), "view"), (1, T(5), "click"), (1, T(9), "purchase"),
        # u2: click BEFORE the first view -> depth 1
        (2, T(3), "click"), (2, T(4), "view"),
        # u3: click inside window, purchase outside the 10-min window
        (3, T(0), "view"), (3, T(2), "click"), (3, T(30), "purchase"),
        # u4: never viewed -> not in the funnel at all
        (4, T(1), "purchase"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {
        r["user"]: r
        for r in funnel(
            ev, ["view", "click", "purchase"], window_seconds=600
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["depth"] == 3 and out[1]["t3"] == T(9)
    assert out[2]["depth"] == 1 and out[2]["t2"] is None
    assert out[3]["depth"] == 2 and out[3]["t3"] is None

    # no window: u3 completes
    out2 = {
        r["user"]: r["depth"]
        for r in funnel(ev, ["view", "click", "purchase"]).collect()
    }
    assert out2[3] == 3

    import pytest as _pytest

    with _pytest.raises(ValueError):
        funnel(ev, [])
    # zero/negative windows would silently make every step unreachable
    with _pytest.raises(ValueError):
        funnel(ev, ["view", "click"], window_seconds=0)
    with _pytest.raises(ValueError):
        funnel(ev, ["view", "click"], window_seconds=-5)

    # fractional windows go through interval arithmetic, not SQL-string
    # interpolation: 120.5s admits u3's click at +2min
    out3 = {
        r["user"]: r["depth"]
        for r in funnel(
            ev, ["view", "click", "purchase"], window_seconds=120.5
        ).collect()
    }
    assert out3[3] == 2


def test_retention(spark):
    import datetime as dt

    from ftm_columnstore_spark.operators.temporal import retention

    D = lambda d, h=0: dt.datetime(2024, 1, d, h)
    rows = [
        # cohort Jan-1: users 1,2.  u1 back on day 1 and 7; u2 never back
        (1, D(1)), (1, D(2)), (1, D(8)),
        (2, D(1)), (2, D(1, 5)),          # same-day activity only
        # cohort Jan-2: user 3, back on day 7
        (3, D(2)), (3, D(9)),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {r["cohort"]: r for r in retention(ev, offsets=[1, 7]).collect()}
    assert out["2024-01-01"]["n_users"] == 2
    assert out["2024-01-01"]["d1"] == 1 and out["2024-01-01"]["d7"] == 1
    assert out["2024-01-02"]["n_users"] == 1
    assert out["2024-01-02"]["d1"] == 0 and out["2024-01-02"]["d7"] == 1

    import pytest as _pytest

    with _pytest.raises(ValueError):
        retention(ev, offsets=[])
    with _pytest.raises(ValueError):
        retention(ev, offsets=[0])


def test_sessionize(spark):
    import datetime as dt

    from ftm_columnstore_spark.operators.temporal import sessionize

    T = lambda m, s=0: dt.datetime(2024, 1, 1, 0, m, s)
    rows = [
        (1, T(0)), (1, T(10)),            # session 0
        (1, T(50)),                       # 40-min gap -> session 1
        (2, T(5)),                        # single event
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {
        (r["user"], r["session_no"]): r
        for r in sessionize(ev, gap_seconds=1800).collect()
    }
    assert set(out) == {(1, 0), (1, 1), (2, 0)}
    assert out[(1, 0)]["n_events"] == 2
    assert out[(1, 0)]["duration_s"] == 600.0
    assert out[(1, 1)]["n_events"] == 1 and out[(1, 1)]["duration_s"] == 0.0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        sessionize(ev, gap_seconds=0)


def test_sessionize_matches_builtin_session_window(spark):
    """Batch sessionize and Spark's own session_window agree on real
    data: same session count and start times per user."""
    from pyspark.sql import functions as F

    from ftm_columnstore_spark.operators.temporal import sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ours = sessionize(ev, gap_seconds=1800).select(
        F.col("user").alias("user_id"), "t_start", "n_events"
    )
    builtin = ev.groupBy(
        "user_id", F.session_window(F.col("ts"), "30 minutes").alias("w")
    ).agg(
        F.min("ts").alias("t_start"), F.count(F.lit(1)).alias("n_events")
    ).select("user_id", "t_start", "n_events")
    a = {tuple(r) for r in ours.collect()}
    b = {tuple(r) for r in builtin.collect()}
    assert a == b and len(a) > 0


def test_transitions(spark):
    import datetime as dt

    from ftm_columnstore_spark.operators.temporal import transitions

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        (1, T(0), "a"), (1, T(1), "b"), (1, T(2), "a"),
        (2, T(0), "a"), (2, T(1), "b"),
        # cross-user boundary must NOT create a transition
        (3, T(9), "c"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {(r["from_type"], r["to_type"]): r for r in transitions(ev).collect()}
    assert set(out) == {("a", "b"), ("b", "a")}
    assert out[("a", "b")]["n"] == 2 and out[("a", "b")]["p"] == 1.0
    # from-state b has exactly one outgoing pair -> probability 1
    assert out[("b", "a")]["n"] == 1 and out[("b", "a")]["p"] == 1.0


def test_hll_is_two_cascaded_partial_aggs(spark):
    """Sketch contract: per-register max then register rollup, both
    map-side-combinable, exactly two Exchanges (register key, then
    group key) — never a corpus-wide distinct."""
    from ftm_columnstore_spark.operators.sketches import hll_cardinality

    df = spark.createDataFrame([(i, f"k{i}") for i in range(100)], ["i", "k"])
    plan = _plan(hll_cardinality(df, "k", p=6))
    assert "partial_max" in plan
    assert plan.count("Exchange") == 2
    assert "Window" not in plan and "Sort" not in plan.replace("SortAggregate", "")


def test_cms_build_is_single_partial_agg(spark):
    from ftm_columnstore_spark.operators.sketches import cms_build

    df = spark.createDataFrame([(f"k{i % 9}",) for i in range(100)], ["k"])
    plan = _plan(cms_build(df, "k", d=3, w=32))
    assert "partial_sum" in plan
    assert plan.count("Exchange") == 1


def test_pq_adc_scan_is_shuffle_free(spark):
    """PQ serve contract: encode + ADC + top-k in one codegen scan into
    TakeOrderedAndProject — zero Exchanges (bench latency AND the
    100 TB plan: nothing corpus-wide moves)."""
    from ftm_columnstore_spark.operators.similarity import (
        pq_codebooks_fixed,
        pq_topk,
    )
    import random

    rng = random.Random(3)
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(50)],
        ["vec_id", "embedding"],
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    cbs = pq_codebooks_fixed(df, dim=16, m=4, n_codes=8)
    plan = _plan(pq_topk(df, [0.1] * 16, k=5, m=4, n_codes=8, codebooks=cbs))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
