"""Graph operators: inverted lookup, 1-hop adjacency, reverse semi-join
(SURVEY §2.3 J1/J2, §2.2 F7).

All three are fixed-shape equi-self-joins on the statement table; the
reference runs them as ClickHouse SQL with a ``value``-sorted projection
(``engine.py:236-262``). In Spark the frontier side (one entity's ids, or
one id) is tiny, so we broadcast it and no shuffle of the big table occurs.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ftm_columnstore_spark.model.ftm import REVERSE_PROPS


def _reverse_prop_expr() -> F.Column:
    pairs: list[F.Column] = []
    for prop, rev in REVERSE_PROPS.items():
        pairs.append(F.lit(prop))
        pairs.append(F.lit(rev))
    mapping = F.create_map(*pairs)
    return F.coalesce(mapping[F.col("prop")], F.concat(F.col("prop"), F.lit("Reverse")))


@functools.cache
def _constants(gateway) -> tuple[F.Column, list[F.Column]]:
    """(the ``prop_type = 'entity'`` predicate, :func:`_incoming`'s select
    list). The reversed-prop map alone takes about 250 py4j calls, so
    they are built once per JVM gateway (see ``assembly._constants``)."""
    return F.col("prop_type") == "entity", [
        _reverse_prop_expr().alias("prop"),
        F.col("canonical_id").alias("entity_id"),
    ]


def _is_ref() -> F.Column:
    """Statements whose value references an entity."""
    return _constants(SparkContext._gateway)[0]


def _references(statements: DataFrame, value_id: str) -> DataFrame:
    """Statements whose value references ``value_id``."""
    return statements.filter(_is_ref() & (F.col("value") == value_id))


def _incoming(statements: DataFrame, value_id: str) -> DataFrame:
    """:func:`inverted` before its distinct: one row per referencing
    statement."""
    return _references(statements, value_id).select(
        *_constants(SparkContext._gateway)[1]
    )


def inverted(statements: DataFrame, value_id: str) -> DataFrame:
    """Incoming edges of ``value_id``: statements whose ``prop_type='entity'``
    value references it, with the reversed FtM prop name
    (reference ``tests/test_store.py:31-38``).

    Returns (reversed_prop, referencing_canonical_id).
    """
    return _incoming(statements, value_id).distinct()


def reverse_ids(statements: DataFrame, value_id: str) -> DataFrame:
    """Canonical ids of entities referencing ``value_id`` (F7 reverse
    filter): used as a left-semi join against the statement table."""
    return _references(statements, value_id).select("canonical_id").distinct()


def expand(
    statements: DataFrame,
    entity_ids: list[str],
    hops: int = 2,
) -> DataFrame:
    """K-hop entity neighbourhood — the investigative "everything within
    N hops of this company" query the reference stops short of (its
    ``get_adjacent`` is 1-hop, tests/test_store.py:40-41). Frontier BFS
    over the entity-reference edges: per hop, outgoing (frontier's
    entity-typed values) ∪ incoming (statements referencing the
    frontier), minus already-visited — each hop is two broadcast joins
    of the (tiny) frontier against the statement table plus one
    anti-join, so no shuffle of the big side and bounded driver rounds
    (early exit on an empty frontier). Returns (id, dist) with the
    minimum hop distance, dist 0 = the seeds."""
    spark = statements.sparkSession
    visited = spark.createDataFrame(
        [(e, 0) for e in entity_ids], "id string, dist int"
    )
    frontier = visited.select("id")
    edges = statements.filter(_is_ref()).select(
        "canonical_id", "value"
    )
    for h in range(1, hops + 1):
        out_ids = edges.join(
            F.broadcast(frontier), edges.canonical_id == frontier.id
        ).select(F.col("value").alias("id"))
        in_ids = edges.join(
            F.broadcast(frontier), edges.value == frontier.id
        ).select(F.col("canonical_id").alias("id"))
        # eager localCheckpoint (the connected-components pattern): cuts
        # the per-hop lineage growth and leaves no stranded cache entries
        nxt = (
            out_ids.union(in_ids)
            .distinct()
            .join(visited, on="id", how="left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.union(
            nxt.withColumn("dist", F.lit(h))
        ).localCheckpoint(eager=True)
        frontier = nxt.select("id")
    return visited


def adjacent(statements: DataFrame, entity_id: str) -> DataFrame:
    """1-hop neighbourhood (reference ``tests/test_store.py:40-41``):
    outgoing (this entity's entity-typed values) ∪ incoming (inverted).

    Returns (prop, neighbour_id, direction).
    """
    mine = statements.filter(
        (F.col("canonical_id") == entity_id) | (F.col("entity_id") == entity_id)
    )
    out_edges = mine.filter(_is_ref()).select(
        F.col("prop"),
        F.col("value").alias("neighbour_id"),
        F.lit("out").alias("direction"),
    )
    in_edges = _incoming(statements, entity_id).select(
        F.col("prop"),
        F.col("entity_id").alias("neighbour_id"),
        F.lit("in").alias("direction"),
    )
    # one distinct over both directions: one aggregate, one shuffle
    return out_edges.unionByName(in_edges).distinct()


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank (Page et al. 1999) over an edge list —
    the investigative "which entity is most central in this payment
    network" score. Simplified formulation (no dangling-mass
    redistribution; dangling nodes hold the base rank ``1 - damping``),
    which keeps every iteration a pure join+groupBy and makes the result
    reproducible in plain SQL for audits (the unrolled-iteration oracle).

    Scale shape: rank updates are one shuffle per iteration — join ranks
    to edges on src (out-degree pre-joined once), groupBy dst. Per-
    iteration ``localCheckpoint(eager=True)`` cuts lineage growth (the
    same pattern as :func:`expand` / connected components), so 20
    iterations on a billion-edge graph neither re-executes the chain nor
    strands cache. Convergence-based stopping would need a driver-side
    delta per round; fixed iterations keep rounds deterministic.

    Inflow is accumulated in decimal(28,12), not double: decimal
    addition is associative, so Spark's partial-aggregation order (which
    varies with partitioning) cannot wobble ranks in the last ulps —
    ranks are bit-identical run-to-run and engine-to-engine (the share
    is quantized to 12 dp at the cast; a SQL oracle replays it with the
    same ``::DECIMAL(28,12)`` cast). Costs ~2× the plain double sum —
    the price of auditability, same trade the TPC-H money sums make.

    Returns (id, rank) for every node appearing as src or dst."""
    src, dst = F.col(src_col), F.col(dst_col)
    e = edges.select(src.alias("src"), dst.alias("dst"))
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # contribution edges with the sender's out-degree attached, reused
    # every iteration — computed and checkpointed once
    contrib_edges = e.join(outdeg, on="src").localCheckpoint(eager=True)
    base = F.lit(1.0 - damping)
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for _ in range(iterations):
        inflow = (
            contrib_edges.join(ranks, contrib_edges.src == ranks.id)
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("outdeg"))
                .cast("decimal(28,12)")
                .alias("share"),
            )
            .groupBy("id")
            .agg(F.sum("share").cast("double").alias("inflow"))
        )
        ranks = (
            nodes.join(inflow, on="id", how="left")
            .select(
                "id",
                (
                    base + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-round synchronous label propagation (Raghavan et al. 2007)
    over an undirected simple graph — community detection for "which
    entities trade in the same cluster", the frequency-based complement
    of connected components (CC merges everything reachable; LPA splits
    a connected graph into densely-linked communities).

    Semantics: every node starts labeled with its own id; each round,
    every node SIMULTANEOUSLY adopts the most frequent label among its
    neighbors, ties broken by the smallest label (the deterministic
    variant — classic LPA breaks ties randomly, which would be neither
    reproducible nor oracle-checkable). Isolated nodes (none here by
    construction; edges define the node set) and nodes whose neighbor
    votes are empty keep their label. Fixed ``iterations`` rather than
    convergence keeps rounds deterministic and lets a SQL oracle unroll
    them (the pagerank/j16 discipline); synchronous LPA can oscillate
    on bipartite-ish structures, so callers pick small odd/even round
    counts to compare — the operator never hides that behind a hidden
    stopping rule.

    Scale shape: the input is symmetrized and deduplicated once
    (multi-edges would double-count votes), checkpointed, and reused
    every round. A round is ONE shuffle pair: join labels to edges on
    the neighbor side, groupBy(node, label) count (map-side
    combinable), then per-node argmax via min(struct(-cnt, label)) —
    an aggregation, NOT a row_number window, so no per-node sort.
    Per-round ``localCheckpoint(eager=True)`` cuts lineage (the
    pagerank pattern). All arithmetic is integer counts — bit-exact
    everywhere.

    Returns (id, label) for every node appearing as src or dst."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    src, dst = F.col(src_col), F.col(dst_col)
    e = edges.select(src.alias("src"), dst.alias("dst"))
    eu = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        eu.select(F.col("src").alias("id")).distinct().withColumn(
            "label", F.col("id")
        )
    )
    for _ in range(iterations):
        votes = (
            eu.join(labels, eu.dst == labels.id)
            .groupBy(eu.src, F.col("label"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("src")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"),
                        F.col("label").alias("l"),
                    )
                ).alias("best")
            )
            .select(F.col("src").alias("id"), F.col("best.l").alias("new"))
        )
        labels = (
            labels.join(votes, on="id", how="left")
            .select(
                "id", F.coalesce("new", "label").alias("label")
            )
            .localCheckpoint(eager=True)
        )
    return labels


def triangle_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected edge list — the "how clique-ish is this entity's
    neighbourhood" signal (ring detection in payment graphs, community
    density in xref clusters).

    Algorithm: degree-ordered edge orientation (Suri & Vassilvitskii,
    WWW'11 / Cohen '09). Every edge is oriented from its lower-
    ``(degree, id)`` endpoint to the higher one; wedges are enumerated
    only at each triangle's LOWEST-ordered vertex, then closed with one
    join back to the oriented edge list. Each triangle is found exactly
    once, and the wedge relation is bounded by O(m^{3/2}) TOTAL —
    independent of skew — because no node fans out wedges to higher-
    degree neighbours (a star's hub generates zero wedges). The naive
    adjacency self-join explodes quadratically on exactly the hub nodes
    a 100 TB graph is full of; this one cannot.

    Shuffles: one degree agg, two orientation joins, one wedge
    self-join (keyed on the low vertex), one closing join, one explode
    + count. All hash joins on uniform keys; AQE may broadcast the
    oriented edge list when small.

    Input may list each undirected edge once in either direction (or
    both); duplicates and self-loops are dropped. Returns
    (id, degree, triangles, clustering) for every node with >= 1 edge,
    ``clustering = 2T / (deg * (deg - 1))`` (0 when degree < 2).
    """
    src, dst = F.col(src_col), F.col(dst_col)
    # canonical undirected edge set: u < v, no self-loops, no dups
    e = (
        edges.select(
            F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # orient each edge from lower (degree, id) endpoint to higher
    du = deg.select(F.col("id").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("degree").alias("dv"))
    ranked = e.join(du, on="u").join(dv, on="v")
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(lo_first, F.struct("dv", "v")).otherwise(
            F.struct(F.col("du").alias("dv"), F.col("u").alias("v"))
        ).alias("hi_key"),
    )
    # wedges at the lowest-ordered vertex: (b, c) with order(b) < order(c)
    w1 = oriented.select(
        F.col("lo").alias("a"), F.col("hi").alias("b"),
        F.col("hi_key").alias("bk"),
    )
    w2 = oriented.select(
        F.col("lo").alias("a"), F.col("hi").alias("c"),
        F.col("hi_key").alias("ck"),
    )
    wedges = w1.join(w2, on="a").where(
        (F.col("bk.dv") < F.col("ck.dv"))
        | ((F.col("bk.dv") == F.col("ck.dv")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(
        F.col("lo").alias("b"), F.col("hi").alias("c")
    )
    tri = wedges.join(closing, on=["b", "c"]).select("a", "b", "c")
    per_node = (
        tri.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return deg.join(per_node, on="id", how="left").select(
        "id",
        "degree",
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                2.0
                * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - F.lit(1.0))),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """k-core decomposition membership: iteratively peel nodes whose
    (undirected, deduplicated) degree is < ``k`` until none remain —
    the classic cohesive-subgraph filter (Seidman 1983; the dense-core
    extractor for entity graphs before expensive per-community work).

    Distributed shape per round: one symmetric-closure degree agg +
    one semi-join — the same one-shuffle-per-iteration +
    localCheckpoint discipline as :func:`pagerank` (each round's
    survivor set is materialized, cutting the iterative lineage).
    Peeling is confluent: the fixpoint is unique regardless of
    removal order, so the result is deterministic under any
    partitioning, and any SQL replay of the same number of rounds
    matches once converged (the v11 unrolled-iteration oracle
    pattern). Raises if ``max_iter`` rounds don't converge — a bounded
    answer that silently isn't the k-core is worse than an error.

    Output: (id,) — the nodes of the k-core (possibly empty)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # lazy checkpoint + count: ONE job materializes the round's survivor
    # set AND yields its size; carrying the previous round's count
    # forward replaces r08's three sequential driver jobs per round
    # (eager checkpoint, nxt.count, cur.count) with one (guide §2.6/§5).
    cur = sym.localCheckpoint(eager=False)
    cur_n = cur.count()
    for _ in range(max_iter):
        deg = cur.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= k).select("a")
        nxt = (
            cur.join(keep, on="a", how="left_semi")
            .join(
                keep.select(F.col("a").alias("b")), on="b", how="left_semi"
            )
            .localCheckpoint(eager=False)
        )
        nxt_n = nxt.count()
        # peeling only removes rows (nxt ⊆ cur), so equal counts mean
        # an identical edge set — the fixpoint
        if nxt_n == cur_n:
            return cur.select(F.col("a").alias("id")).distinct()
        cur, cur_n = nxt, nxt_n
    raise RuntimeError(
        f"k_core did not converge within {max_iter} rounds"
    )


def neighbor_jaccard(
    edges: DataFrame,
    min_shared: int = 1,
    max_degree: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Link-based node similarity: Jaccard overlap of neighbor SETS
    for every node pair sharing ≥ ``min_shared`` neighbors — the
    co-citation / "customers who bought X also bought Y" measure
    (SimRank's cheap first iteration). Complements j21 (communities)
    and j17 (triangles) with a pairwise score, and is the graph
    analogue of d5's n-gram Jaccard: neighbors play the shingles.

    Plan (the ngram_jaccard shape on the adjacency relation): the
    symmetrized, deduplicated adjacency (node, neighbor) is built
    once; pairs materialize ONLY through a shared neighbor — wedge
    self-join keyed on the neighbor, pair groupBy counts the
    intersection, degrees join back, |A∪B| = dA + dB − inter. Never
    all-pairs. Hub neighbors (a node linked to k others creates k²
    wedge rows) are the expansion hazard; ``max_degree`` drops
    neighbors above it from the WEDGE join only (degrees still count
    them, so reported Jaccard only UNDERCOUNTS through hubs — the d17
    max_df semantics: false negatives on hub-only overlap, never
    false positives).

    Output: (node_a, node_b, shared, degree_a, degree_b, jaccard),
    node_a < node_b, jaccard rounded 6 dp."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    if max_degree is not None and max_degree < 2:
        raise ValueError(f"max_degree must be >= 2, got {max_degree}")
    src, dst = F.col(src_col), F.col(dst_col)
    e = edges.select(src.alias("src"), dst.alias("dst"))
    adj = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    degrees = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    wedge_src = adj
    if max_degree is not None:
        hot = degrees.where(F.col("deg") > max_degree).select(
            F.col("src").alias("dst")
        )
        wedge_src = adj.join(hot, on="dst", how="left_anti")
    a = wedge_src.select(F.col("src").alias("node_a"), "dst")
    b = wedge_src.select(F.col("src").alias("node_b"), "dst")
    inter = (
        a.join(b, on="dst")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= int(min_shared))
    )
    da = degrees.select(
        F.col("src").alias("node_a"), F.col("deg").alias("degree_a")
    )
    db = degrees.select(
        F.col("src").alias("node_b"), F.col("deg").alias("degree_b")
    )
    return (
        inter.join(da, on="node_a")
        .join(db, on="node_b")
        .select(
            "node_a",
            "node_b",
            "shared",
            "degree_a",
            "degree_b",
            F.round(
                F.col("shared").cast("double")
                / (
                    F.col("degree_a") + F.col("degree_b") - F.col("shared")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def adamic_adar(
    edges: DataFrame,
    min_shared: int = 1,
    max_degree: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003): node pairs
    scored by Σ 1/ln(deg(z)) over shared neighbors z — the standard
    "which edge forms next" score, :func:`neighbor_jaccard`'s
    prediction-oriented sibling (Jaccard treats all shared neighbors
    equally; Adamic-Adar discounts hubs, so two nodes sharing a
    10-degree neighbor score far above two sharing a 10k-degree one).

    Same wedge plan as neighbor_jaccard — pairs materialize ONLY
    through a shared neighbor, ``max_degree`` is the hub guard (drops
    hot WEDGE centers; scores undercount through hubs only, which
    Adamic-Adar already discounts to near zero). A shared neighbor has
    degree ≥ 2, so ln(deg) ≥ ln 2 and the division is always defined.
    Determinism: per-neighbor 1/ln(deg) rounded 12 dp and summed as
    DECIMAL(38,12) per pair (the _dsum rule — pair fan-in is the
    neighbor count, decimal volume is wedge-bounded, not corpus-wide);
    final score rounded 6 dp.

    Output: (node_a, node_b, shared, aa_score), node_a < node_b."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    if max_degree is not None and max_degree < 2:
        raise ValueError(f"max_degree must be >= 2, got {max_degree}")
    src, dst = F.col(src_col), F.col(dst_col)
    e = edges.select(src.alias("src"), dst.alias("dst"))
    adj = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    degrees = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    wedge_src = adj
    if max_degree is not None:
        hot = degrees.where(F.col("deg") > max_degree).select(
            F.col("src").alias("dst")
        )
        wedge_src = adj.join(hot, on="dst", how="left_anti")
    # weight each wedge CENTER by its discounted degree once, then
    # expand — the ln runs per neighbor, not per wedge row
    # degree-1 nodes can never be a SHARED neighbor (one edge), but the
    # weight projection runs before the wedge join filters them — guard
    # the ln(1)=0 division out eagerly
    center_w = degrees.where(F.col("deg") >= 2).select(
        F.col("src").alias("dst"),
        F.round(F.lit(1.0) / F.log(F.col("deg").cast("double")), 12)
        .cast("decimal(38,12)")
        .alias("__w"),
    )
    a = wedge_src.select(F.col("src").alias("node_a"), "dst")
    b = wedge_src.select(F.col("src").alias("node_b"), "dst")
    return (
        a.join(b, on="dst")
        .where(F.col("node_a") < F.col("node_b"))
        .join(center_w, on="dst")
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.sum("__w").alias("__s"),
        )
        .where(F.col("shared") >= int(min_shared))
        .select(
            "node_a",
            "node_b",
            "shared",
            F.round(F.col("__s").cast("double"), 6).alias("aa_score"),
        )
    )
