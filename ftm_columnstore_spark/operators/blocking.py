"""Entity-matching pipeline: fingerprint derivation, blocking, pair scoring,
canonicalization (SURVEY §2.10 D1-D5, §2.3 J4/J5, §2.5 M2).

Reference flow: every write derives phonetic fingerprint statements into a
side table (``statements.py:65-81``); blocking fetches entities sharing a
fingerprint value held by > k entities (``tests/test_fingerprints.py:4-14``);
candidate pairs carry scores/judgements in an xref table
(``engine.py:176-199``); a resolver maps entity→canonical id.

Spark shapes: fpx is a derived DataFrame written alongside statements; the
blocking join is groupBy+HAVING+self-join; canonicalization is connected
components by iterative min-id propagation (converges in O(log longest
path) joins; match graphs are near-forests so this beats pulling in a graph
library)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ftm_columnstore_spark.functions.phonetics import (
    dm_array_col,
    soundex_col,
    tokenize_col,
)
from ftm_columnstore_spark.lifecycle import persist, persisting
from ftm_columnstore_spark.model.ftm import NAME_SCHEMAS


def derive_fingerprints(statements: DataFrame) -> DataFrame:
    """D1: name statements → fpx rows, one per (algorithm, token).

    Eligibility (reference ``statements.py:52-58``): name-typed props on
    LegalEntity/Mention descendants. ``distinct()`` before the expensive
    metaphone UDF is the distributed analogue of the reference's 10M-entry
    client caches (phonetic.py:32-56)."""
    names = statements.filter(
        (F.col("prop_type") == "name")
        & F.col("schema").isin(list(NAME_SCHEMAS))
    ).select("value", "dataset", "entity_id", "schema", "prop", "prop_type")

    # Reference pipeline (phonetic.py:55-70): fingerprint → tokenize →
    # encode each token per algorithm (the multi-word fingerprint is one
    # token). Tokens are distinct()-ed before the metaphone UDF so each
    # unique token is encoded once across the cluster.
    uniq = names.select("value").distinct()
    toks = uniq.select(
        "value", F.explode(tokenize_col("value")).alias("token")
    )
    tok_uniq = toks.select("token").distinct()
    enc = tok_uniq.select(
        "token",
        F.array(F.col("token")).alias("fingerprint"),
        dm_array_col(F.array(F.col("token")), 0).alias("metaphone1"),
        F.array(soundex_col("token")).alias("soundex"),
    )
    tall = (
        toks.join(enc, on="token")
        .select(
            "value",
            F.explode(
                F.map_from_arrays(
                    F.array(
                        F.lit("fingerprint"),
                        F.lit("metaphone1"),
                        F.lit("soundex"),
                    ),
                    F.array("fingerprint", "metaphone1", "soundex"),
                )
            ).alias("algorithm", "keys"),
        )
        .select("value", "algorithm", F.explode("keys").alias("key"))
        .filter(F.col("key") != "")
    )

    return (
        names.join(tall, on="value")
        .select(
            "algorithm",
            F.col("key").alias("value"),
            "dataset",
            "entity_id",
            "schema",
            "prop",
            "prop_type",
        )
        .distinct()
    )


def fingerprint_frequencies(fpx: DataFrame) -> DataFrame:
    """M2: fingerprint value → frequency + length (down-weights overly
    common blocking keys; reference ``engine.py:219-234``)."""
    return (
        fpx.filter(F.col("algorithm") == "fingerprint")
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("freq"), F.length(F.first("value")).alias("len"))
    )


def blocking_candidates(
    fpx: DataFrame, min_entities: int = 3, max_entities: int | None = 100
) -> DataFrame:
    """D2/J4: fingerprint values shared by more than ``min_entities - 1``
    entities, with their member entities. ``max_entities`` drops stop-word
    blocks (the M2 frequency weighting) before the pair explosion."""
    freq = fpx.groupBy("algorithm", "value").agg(
        F.countDistinct("entity_id").alias("entities")
    )
    freq = freq.filter(F.col("entities") >= min_entities)
    if max_entities is not None:
        freq = freq.filter(F.col("entities") <= max_entities)
    return fpx.join(freq.select("algorithm", "value"), on=["algorithm", "value"])


def candidate_pairs(blocks: DataFrame) -> DataFrame:
    """J5: within-block pairs, deduped across blocks, left < right."""
    l = blocks.select(
        "algorithm", "value", F.col("entity_id").alias("left_id"),
        F.col("dataset").alias("left_dataset"), F.col("schema").alias("left_schema"),
    )
    r = blocks.select(
        "algorithm", "value", F.col("entity_id").alias("right_id"),
        F.col("dataset").alias("right_dataset"), F.col("schema").alias("right_schema"),
    )
    return (
        l.join(r, on=["algorithm", "value"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select(
            "left_id", "right_id",
            "left_dataset", "right_dataset",
            "left_schema", "right_schema",
        )
        .distinct()
    )


def score_pairs(pairs: DataFrame, statements: DataFrame) -> DataFrame:
    """D4: similarity score per candidate pair from name edit distance
    (Spark builtin levenshtein — JVM-side), normalized to [0,1]."""
    names = (
        statements.filter(F.col("prop_type") == "name")
        .groupBy("entity_id")
        .agg(F.min("value").alias("name"))
    )
    scored = (
        pairs.join(names.withColumnRenamed("entity_id", "left_id"), on="left_id")
        .withColumnRenamed("name", "left_name")
        .join(names.withColumnRenamed("entity_id", "right_id"), on="right_id")
        .withColumnRenamed("name", "right_name")
    )
    maxlen = F.greatest(F.length("left_name"), F.length("right_name"))
    score = F.lit(1.0) - F.levenshtein(
        F.lower("left_name"), F.lower("right_name")
    ) / maxlen
    return scored.withColumn("score", F.round(score, 8))


@persisting
def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    algorithm: str = "star",
    small_graph_threshold: int = 100_000,
    edges_deduped: bool = False,
) -> DataFrame:
    """D5: canonical map from accepted match edges (entity_id →
    canonical_id = min id of its component). Reference cite:
    ``store.py:25-28`` (resolver/linker), queried at
    ``tests/test_store.py:264-269``.

    ``algorithm="star"`` (default): alternating large-star/small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond")
    — converges in O(log² n) rounds regardless of component diameter, so
    an adversarial million-node chain finishes in ~20 rounds instead of a
    million. Each round is two groupBy-min + join passes; no per-node
    neighbour arrays are ever materialized, so a 100M-member component's
    hub never lands in one task.

    ``algorithm="label"``: minimum-label propagation — one groupBy-min +
    join per round, O(component diameter) rounds. Wins on the shallow
    near-forest graphs entity matching actually produces (diameter ≤ 3-4:
    fewer, cheaper rounds), loses badly on long chains.

    Small-graph fast path (``algorithm="star"``, the default): when the
    (distinct, self-loop-free) edge set holds at most
    ``small_graph_threshold`` rows, the edges are collected and labeled
    with driver-side union-find — one bounded collect (the house rule:
    the threshold is the bound, default 100k edges ≈ a few MB) replaces
    5-15 shuffle rounds. This is the COMMON case for near-dup pair
    graphs over mostly-unique corpora (measured: the d16/v15/t23
    entries each spent ~4-5s in star rounds over a few-hundred-edge
    graph). The iterative path is untouched for anything larger;
    labels are identical (component minimum) either way, pinned by a
    both-paths test. Pass ``small_graph_threshold=0`` to force the
    distributed rounds. The label path skips the probe entirely — it
    deliberately keeps its historical output for self-loop-only nodes
    (present under "label", absent under "star"/fast), and building
    the deduped relation just to probe would cost large label-mode
    graphs a full wasted distinct+checkpoint job.

    ``edges_deduped=True`` asserts the input is already self-loop-free
    and distinct (e.g. LSH pair relations, whose ``left_id < right_id``
    distinct contract guarantees both), skipping a redundant
    distinct's full shuffle+aggregate of the edge set (r09, guide
    §2.4). Labels are unchanged for inputs that honour the assertion
    (union-find and the star rounds are duplicate-idempotent; only the
    small-graph row-count guard would see duplicates)."""
    if algorithm == "star":
        deduped = edges.select(
            F.col("left_id").alias("src"), F.col("right_id").alias("dst")
        )
        if not edges_deduped:
            deduped = deduped.filter(F.col("src") != F.col("dst")).distinct()
        # persist + ONE count materializes the relation AND decides the
        # small-graph path — r08 spent two sequential driver jobs here
        # (eager localCheckpoint, then a count over it); folding them
        # saves a job per call (VERDICT r8 item 3, guide §2.6/§5).
        deduped = persist(deduped)
        n_edges = deduped.count()
        if 0 < small_graph_threshold >= n_edges:
            # rows cross to the driver only once the graph is known
            # small; the collect reads the just-populated cache, and
            # nothing reads the relation after it
            rows = deduped.collect()
            deduped.unpersist()
            return _cc_union_find(edges.sparkSession, rows, deduped.schema)
        return _cc_star(deduped, max_iterations, pre_deduped=True)
    labels = (
        edges.select(F.col("left_id").alias("id"))
        .union(edges.select("right_id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    sym = edges.select(
        F.col("left_id").alias("src"), F.col("right_id").alias("dst")
    ).union(
        edges.select(F.col("right_id"), F.col("left_id"))
    )
    for _ in range(max_iterations):
        neighbour_min = (
            sym.join(labels, sym.src == labels.id)
            .groupBy("dst")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbour_min, labels.id == neighbour_min.dst, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nlabel", F.col("label"))
                ).alias("label"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("id").alias("entity_id"), F.col("label").alias("canonical_id")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For every node u: attach each strictly-larger neighbour to
    m = min(N(u) ∪ {u}). Join-based — the per-node min comes from a
    groupBy, never a collected neighbour list."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(F.min("dst").alias("nbr_min"))
    return (
        sym.join(mins, on="src")
        .filter(F.col("dst") > F.col("src"))
        .select(
            F.col("dst").alias("src"),
            F.least("src", "nbr_min").alias("dst"),
        )
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Canonicalize each edge as (u = max, v = min); attach u and all its
    smaller neighbours to m = min of the group."""
    canon = edges.filter(F.col("src") != F.col("dst")).select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    mins = canon.groupBy("u").agg(F.min("v").alias("m"))
    to_nbrs = (
        canon.join(mins, on="u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )
    to_self = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return to_nbrs.union(to_self).distinct()


def _cc_union_find(spark, edge_rows, schema) -> DataFrame:
    """Driver-side union-find over a BOUNDED collected edge list (the
    small-graph fast path of :func:`connected_components`): path-
    compressed find, union by root, then every node labeled with its
    component minimum — exactly the star algorithm's converged output."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edge_rows:
        parent[find(row[0])] = find(row[1])
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        if r not in comp_min or node < comp_min[r]:
            comp_min[r] = node
    out_schema = T.StructType(
        [
            T.StructField("entity_id", schema[0].dataType, True),
            T.StructField("canonical_id", schema[0].dataType, True),
        ]
    )
    data = [(node, comp_min[find(node)]) for node in parent]
    return spark.createDataFrame(data, out_schema)


def _cc_star(
    edges: DataFrame, max_iterations: int, pre_deduped: bool = False
) -> DataFrame:
    if pre_deduped:
        cur = edges
    else:
        cur = (
            edges.select(
                F.col("left_id").alias("src"), F.col("right_id").alias("dst")
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    for _ in range(max_iterations):
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        changed = (
            nxt.exceptAll(cur).union(cur.exceptAll(nxt)).limit(1).count()
        )
        cur = nxt
        if changed == 0:
            break
    # converged: every edge points member → component-min root
    members = cur.select(
        F.col("src").alias("entity_id"), F.col("dst").alias("canonical_id")
    )
    roots = (
        cur.select(F.col("dst").alias("entity_id"))
        .distinct()
        .join(
            members.select(F.col("entity_id")), on="entity_id", how="left_anti"
        )
        .withColumn("canonical_id", F.col("entity_id"))
    )
    return members.union(roots)


def edit1_pairs(
    df: DataFrame,
    col: str = "name",
    id_col: str = "entity_id",
    max_len: int = 64,
) -> DataFrame:
    """Fuzzy-string self-join at edit distance <= 1 via DELETION
    neighborhoods (FastSS, Bocek et al. '07 / SymSpell): two strings
    within one substitution, insertion, or deletion of each other share
    at least one member of their {self} ∪ {one-char deletions} set, so
    the candidate join is an equi-join on those variants — never an
    all-pairs comparison — and the exact ``levenshtein`` check runs
    only on candidates. The distance-1 complement to the phonetic
    blocking keys: catches typos that change the SOUND (Zebra/Zebla)
    which metaphone-style keys miss.

    Scale shape: variant generation is a narrow array derive bounded by
    ``max_len`` (strings longer than this are skipped — deletion
    blocking degrades on very long strings anyway); one shuffle on the
    variant key; hot variants (shared prefixes of sequential ids) pair
    bucket-locally, and the exact filter + distinct run on candidate
    volume, not corpus². Verification stays JVM-side (builtin
    ``levenshtein``). Identical strings are excluded (exact-dup ground
    is :func:`~ftm_columnstore_spark.operators.dedup.exact_duplicates`).

    Output: (left_id, right_id, left_val, right_val, dist) distinct,
    ``left_id < right_id``.
    """
    s = df.select(
        F.col(id_col).alias("id"), F.col(col).alias("s")
    ).where(
        F.col(col).isNotNull() & (F.length(col) <= max_len)
    ).distinct()
    n = F.length("s")
    variants = s.select(
        "id",
        "s",
        F.explode(
            F.array_union(
                F.transform(
                    F.sequence(F.lit(1), n),
                    lambda i: F.concat(
                        F.substring(F.col("s"), F.lit(1), i - 1),
                        F.col("s").substr(i + 1, n),
                    ),
                ),
                F.array(F.col("s")),
            )
        ).alias("v"),
    )
    a = variants.select(
        F.col("id").alias("left_id"),
        F.col("s").alias("left_val"),
        "v",
    )
    b = variants.select(
        F.col("id").alias("right_id"),
        F.col("s").alias("right_val"),
        "v",
    )
    return (
        a.join(b, on="v")
        .where(F.col("left_id") < F.col("right_id"))
        .where(F.col("left_val") != F.col("right_val"))
        .select(
            "left_id",
            "right_id",
            "left_val",
            "right_val",
            F.levenshtein("left_val", "right_val").alias("dist"),
        )
        .where(F.col("dist") <= 1)
        .distinct()
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str = "entity_id",
    window: int = 5,
    prefix_len: int = 2,
    max_buckets: int = 65536,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo SIGMOD'95):
    order records by a sort key and emit every pair within a sliding
    window of ``window`` positions — the classic entity-resolution
    complement of equality blocking (J4/D2: exact fingerprint buckets
    miss near-misses that SORT adjacently, e.g. typos in the last
    token; SNM catches anything the key ordering brings together).
    Candidate count is exactly (n − w/2)·(w−1)ish — linear in n,
    never quadratic.

    Scale shape — the global sort RANK without a global sort: the sort
    key's ``prefix_len``-char prefix partitions the lexicographic
    order into contiguous buckets (string order is prefix-consistent),
    per-bucket counts (≤ ``max_buckets`` rows, the bounded collect)
    become driver-side rank offsets broadcast back, and each bucket
    ranks in parallel (window PARTITIONED by bucket — the take_budget
    prefix-sum shape in rank space). Window pairs are then rank
    arithmetic: each row emits deltas 1..w−1 and joins on the target
    rank — boundary pairs across buckets fall out of GLOBAL rank
    values, no boundary replication. Skewed prefixes concentrate
    ranking work; raise ``prefix_len`` (the knob, documented) — pair
    emission re-distributes on rank either way.

    Output: (left_id, right_id, left_key, right_key, rank_distance),
    left rank < right rank."""
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    if prefix_len < 1:
        raise ValueError(f"prefix_len must be >= 1, got {prefix_len}")
    from pyspark.sql import Window as W

    base = df.where(F.col(key_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(key_col).alias("key")
    )
    bucketed = base.withColumn(
        "__b", F.substring(F.col("key"), 1, prefix_len)
    )
    counts = (
        bucketed.groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__n"))
        .limit(max_buckets + 1)
        .collect()
    )
    if len(counts) > max_buckets:
        raise ValueError(
            f"more than {max_buckets} key prefixes at prefix_len="
            f"{prefix_len}; shorten the prefix or raise max_buckets"
        )
    offs, acc = {}, 0
    for r in sorted(counts, key=lambda r: r["__b"]):
        offs[r["__b"]] = acc
        acc += r["__n"]
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        [(b, o) for b, o in offs.items()], "__b string, __off bigint"
    )
    w = W.partitionBy("__b").orderBy("key", "id")
    ranked = (
        bucketed.join(F.broadcast(off_df), on="__b")
        .withColumn(
            "rank", F.row_number().over(w) + F.col("__off")
        )
        .select("id", "key", "rank")
        .localCheckpoint(eager=True)
    )
    targets = ranked.select(
        F.col("id").alias("left_id"),
        F.col("key").alias("left_key"),
        F.col("rank").alias("__lrank"),
        F.explode(
            F.sequence(F.lit(1), F.lit(window - 1))
        ).alias("__delta"),
    ).withColumn("rank", F.col("__lrank") + F.col("__delta"))
    return (
        targets.join(ranked, on="rank")
        .select(
            "left_id",
            F.col("id").alias("right_id"),
            "left_key",
            F.col("key").alias("right_key"),
            F.col("__delta").alias("rank_distance"),
        )
    )
