"""Matching pipeline: fingerprint derivation → blocking → scoring →
connected components (SURVEY §2.10 D1-D5)."""

import pytest

from ftm_columnstore_spark.operators.blocking import (
    blocking_candidates,
    candidate_pairs,
    connected_components,
    derive_fingerprints,
    fingerprint_frequencies,
    score_pairs,
)
from ftm_columnstore_spark.sources.statements import statements_from_rows


@pytest.fixture(scope="module")
def name_statements(spark):
    rows = []
    names = {
        "e1": ("Tchibo Holding AG", "d1"),
        "e2": ("Tchibo Holding", "d2"),      # same fingerprint tokens minus AG
        "e3": ("TCHIBO HOLDING AG", "d2"),   # case-variant of e1
        "e4": ("Raiffeisenbank Kleinwalsertal", "d1"),
        "e5": ("Raiffeisenbank Kleinwalsertal", "d2"),  # exact dup across datasets
        "e6": ("Zebra Logistics", "d1"),
    }
    for eid, (name, ds) in names.items():
        rows.append(
            dict(
                id=f"s-{eid}", entity_id=eid, prop="name", prop_type="name",
                schema="Company", value=name, dataset=ds, last_seen=None,
            )
        )
    return statements_from_rows(spark, rows)


def test_derive_fingerprints(name_statements):
    fpx = derive_fingerprints(name_statements)
    rows = fpx.collect()
    assert {r["algorithm"] for r in rows} == {"fingerprint", "metaphone1", "soundex"}
    fp = {
        (r["entity_id"], r["value"])
        for r in rows
        if r["algorithm"] == "fingerprint"
    }
    # e1 and e3 share the full fingerprint
    assert ("e1", "ag holding tchibo") in fp
    assert ("e3", "ag holding tchibo") in fp


def test_blocking_and_pairs(name_statements):
    fpx = derive_fingerprints(name_statements)
    blocks = blocking_candidates(fpx, min_entities=2)
    pairs = candidate_pairs(blocks)
    got = {(r["left_id"], r["right_id"]) for r in pairs.collect()}
    assert ("e1", "e3") in got
    assert ("e4", "e5") in got
    assert all("e6" not in p for p in got)


def test_fingerprint_frequencies(name_statements):
    fpx = derive_fingerprints(name_statements)
    freqs = {
        r["value"]: r["freq"] for r in fingerprint_frequencies(fpx).collect()
    }
    assert freqs["ag holding tchibo"] == 2


def test_score_pairs(name_statements, spark):
    fpx = derive_fingerprints(name_statements)
    pairs = candidate_pairs(blocking_candidates(fpx, min_entities=2))
    scored = {
        (r["left_id"], r["right_id"]): r["score"]
        for r in score_pairs(pairs, name_statements).collect()
    }
    assert scored[("e4", "e5")] == 1.0
    assert 0 < scored[("e1", "e2")] <= 1.0


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["left_id", "right_id"]
    )
    cmap = {
        r["entity_id"]: r["canonical_id"]
        for r in connected_components(edges).collect()
    }
    assert cmap == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_chain(spark):
    # long chain exercises multi-iteration propagation
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(9)], ["left_id", "right_id"]
    )
    cmap = {
        r["entity_id"]: r["canonical_id"]
        for r in connected_components(edges).collect()
    }
    assert set(cmap.values()) == {"n0"}


def test_connected_components_star_long_chain(spark):
    # 200-node chain: diameter 199. Min-label propagation would need ~200
    # rounds; large-star/small-star must collapse it within its default
    # budget.
    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i+1:04d}") for i in range(199)],
        ["left_id", "right_id"],
    )
    cmap = {
        r["entity_id"]: r["canonical_id"]
        for r in connected_components(edges).collect()
    }
    assert len(cmap) == 200
    assert set(cmap.values()) == {"n0000"}


def test_connected_components_algorithms_agree(spark):
    import random

    rng = random.Random(7)
    nodes = [f"v{i:03d}" for i in range(60)]
    edges_py = [
        tuple(sorted(rng.sample(nodes, 2))) for _ in range(70)
    ]
    edges = spark.createDataFrame(edges_py, ["left_id", "right_id"])

    # union-find oracle
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges_py:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    seen = {n for ab in edges_py for n in ab}
    expected = {n: find(n) for n in seen}
    # find() roots are component-minimum ids because unions keep the min.
    # threshold=0 forces the DISTRIBUTED star rounds; the default
    # exercises the small-graph union-find fast path — both must agree.
    for thr in (0, 100_000):
        cmap = {
            r["entity_id"]: r["canonical_id"]
            for r in connected_components(
                edges, small_graph_threshold=thr
            ).collect()
        }
        assert cmap == expected, thr


def test_connected_components_edges_deduped_flag(spark):
    """r09: edges_deduped=True (callers whose pair relations are
    distinct + self-loop-free by construction) skips the defensive
    dedup shuffle but must yield identical labels on both the
    small-graph union-find path and the distributed star path."""
    edges_py = [(f"m{i}", f"m{i+1}") for i in range(9)] + [("p", "q")]
    edges = spark.createDataFrame(edges_py, ["left_id", "right_id"])
    expected = {
        r["entity_id"]: r["canonical_id"]
        for r in connected_components(edges).collect()
    }
    for thr in (0, 100_000):
        cmap = {
            r["entity_id"]: r["canonical_id"]
            for r in connected_components(
                edges, small_graph_threshold=thr, edges_deduped=True
            ).collect()
        }
        assert cmap == expected, thr


def test_connected_components_small_graph_releases_edges(spark, cache_empty):
    """The small-graph path reads its persisted edge relation only for
    the collect, so it releases it before returning, scope or not; the
    star path's relation goes with the caller's scope. Labels agree."""
    from ftm_columnstore_spark.lifecycle import scope

    edges = spark.createDataFrame(
        [("m1", "m2"), ("m2", "m3"), ("m3", "m1"), ("p", "q"), ("q", "q")],
        ["left_id", "right_id"],
    )
    small = {
        r["entity_id"]: r["canonical_id"]
        for r in connected_components(edges).collect()
    }
    assert cache_empty()
    with scope():
        star = {
            r["entity_id"]: r["canonical_id"]
            for r in connected_components(
                edges, small_graph_threshold=0
            ).collect()
        }
    assert cache_empty()
    assert small == star
    assert small == {"m1": "m1", "m2": "m1", "m3": "m1", "p": "p", "q": "p"}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges_py=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30))
        .filter(lambda t: t[0] != t[1])
        .map(lambda t: (f"n{min(t):02d}", f"n{max(t):02d}")),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_property(spark, edges_py):
    """Star CC equals a union-find oracle on arbitrary edge lists."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges_py:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for ab in edges_py for n in ab}

    edges = spark.createDataFrame(edges_py, ["left_id", "right_id"])
    # threshold=0 pins the DISTRIBUTED star rounds against the oracle
    # (the default fast path IS a union-find — testing it against one
    # would be circular; the agree test covers path equivalence)
    cmap = {
        r["entity_id"]: r["canonical_id"]
        for r in connected_components(
            edges, small_graph_threshold=0
        ).collect()
    }
    assert cmap == expected


def test_edit1_pairs(spark):
    from ftm_columnstore_spark.operators.blocking import edit1_pairs

    df = spark.createDataFrame(
        [
            (1, "zebra"),
            (2, "zebla"),    # substitution
            (3, "zebras"),   # insertion
            (4, "ebra"),     # deletion
            (5, "zerba"),    # transposition = distance 2 -> excluded
            (6, "totally"),  # unrelated
            (7, "zebra"),    # identical string -> excluded (exact dup ground)
        ],
        ["entity_id", "name"],
    )
    pairs = {
        (r["left_id"], r["right_id"]): r["dist"]
        for r in edit1_pairs(df).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1
    assert (1, 3) in pairs and (1, 4) in pairs
    assert (1, 5) not in pairs and (1, 7) not in pairs
    assert all(l != 6 and r != 6 for l, r in pairs)


def test_sorted_neighborhood_hand_computed(spark):
    from ftm_columnstore_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    # sort order: aa(1) < ab(2) < ba(3) < bb(4); window 3 pairs each row
    # with the next 2 ranks — including ACROSS the a/b prefix boundary
    df = spark.createDataFrame(
        [(1, "aa"), (2, "ab"), (3, "ba"), (4, "bb")],
        "entity_id long, k string",
    )
    got = sorted(
        (r["left_id"], r["right_id"], r["rank_distance"])
        for r in sorted_neighborhood_pairs(
            df, "k", window=3, prefix_len=1
        ).collect()
    )
    assert got == [
        (1, 2, 1), (1, 3, 2), (2, 3, 1), (2, 4, 2), (3, 4, 1),
    ]


def test_sorted_neighborhood_matches_single_bucket(spark):
    from ftm_columnstore_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"k{(i * 37) % 100:03d}") for i in range(80)]
    df = spark.createDataFrame(rows, "entity_id long, k string")
    multi = sorted(
        (r["left_id"], r["right_id"])
        for r in sorted_neighborhood_pairs(
            df, "k", window=4, prefix_len=2
        ).collect()
    )
    # pure-python replay of the global sliding window
    order = [i for i, k in sorted(rows, key=lambda t: (t[1], t[0]))]
    expect = sorted(
        (order[i], order[j])
        for i in range(len(order))
        for j in range(i + 1, min(i + 4, len(order)))
    )
    assert multi == expect


def test_sorted_neighborhood_validation(spark):
    import pytest

    from ftm_columnstore_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    df = spark.createDataFrame([(1, "x")], "entity_id long, k string")
    with pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(df, "k", window=1)
    with pytest.raises(ValueError, match="prefix_len"):
        sorted_neighborhood_pairs(df, "k", prefix_len=0)
    with pytest.raises(ValueError, match="prefixes"):
        sorted_neighborhood_pairs(df, "k", max_buckets=0)
