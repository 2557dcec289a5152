"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` keys are prefixed with the SURVEY.md §2 operator ids they
exercise (f=filters, j=joins, a=aggregations, o=ordering, u=set ops,
w=windows, x=scalar fns, e=FtM entity engine, m=materialized stats,
d=dedup, t=text analysis, v=vector similarity, st=streaming analogues).
Every entry (149 as of round 4) has a full DuckDB value-hash oracle in
``oracle_sql()`` — the last rows-only entries were restructured in
round 4 (x5 serializes arrays, v5 serves integer-Lloyd centroids, t9
emits SQL-verifiable packing invariants).

Conventions that keep the value-hash comparable:
- every computed column aliased identically on both sides;
- doubles rounded (2 for money sums, 4-6 for ratios/cosines);
- timestamps emitted as formatted strings.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# the engine package lives next to this file; make imports work no matter
# where the driver imports the module from.
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

SF_DEFAULT = "/root/testdata/sf0.001"


def _dsum(expr) -> F.Column:
    """Order-independent money sum: decimal addition is associative, so
    Spark's partial/final aggregation order can't flip a rounding
    boundary against the oracle (doubles summed in different orders
    differ by ~1e-9, which flips round(x, 2) when x sits on a .005)."""
    return F.sum(expr.cast("decimal(18,6)"))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _fmt(col, fmt: str = "yyyy-MM-dd") -> F.Column:
    return F.date_format(col, fmt)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has shipped with either TIMESTAMP(NANOS) (read as raw
    nanos via the legacy conf, then converted with integer arithmetic) or
    plain TIMESTAMP(MICROS); adapt to whichever the file declares."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType.typeName()
    if ts_type == "long":  # raw nanos
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# --------------------------------------------------------------------------
# scans / filters / projections
# --------------------------------------------------------------------------

def s1_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9/P7: pruned scan — projection + pushed filter reach parquet."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") >= "2001-01-01").select(
        "l_orderkey",
        "l_linenumber",
        _fmt("l_shipdate").alias("ship_date"),
    )


def f3_comparator_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F6: typed comparators ANDed."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "F")
        & (F.col("o_totalprice") >= 1000)
        & (F.col("o_totalprice") < 5000)
        & (F.col("o_orderdate") >= "1996-01-01")
    ).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
        _fmt("o_orderdate").alias("order_date"),
    )


def f5_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: id-prefix (startswith) filter."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(F.col("c_name").startswith("Customer#00000001")).select(
        "c_custkey", "c_name"
    )


def f7_semi_join_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: reverse filter as left-semi join — customers referenced by an
    urgent order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return c.join(urgent, on="c_custkey", how="left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def f8_search_ilike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/X8: case-insensitive substring search."""
    p = _t(spark, sf_dir, "part")
    return p.filter(F.lower(F.col("p_name")).contains("widget")).select(
        "p_partkey", "p_name"
    )


# --------------------------------------------------------------------------
# joins
# --------------------------------------------------------------------------

def j1_reverse_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: inverted lookup grouped — per referenced customer, the incoming
    order edges (count + extremes)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        _fmt(F.max("o_orderdate")).alias("last_order"),
    )


def j3_join_revenue_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 + P-broadcast: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region;
    dimensions broadcast, fact never shuffled twice."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(_dsum(rev), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def j4_blocking_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/A9: blocking-key discovery — keys shared by more than 5 entities."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
        .filter(F.col("n_orders") > 5)
    )


# --------------------------------------------------------------------------
# aggregations
# --------------------------------------------------------------------------

def a1_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        _fmt(F.min("o_orderdate")).alias("min_date"),
        _fmt(F.max("o_orderdate")).alias("max_date"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


def a3_sum_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (TPC-H Q6 shape): filtered numeric sum."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(_dsum(F.col("l_extendedprice") * F.col("l_discount")), 2)
        .cast("double")
        .alias("revenue")
    )


def a5_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (TPC-H Q1 shape): grouped multi-aggregate. The decimal-sum
    partial aggregation is the cost (measured r08: 2.2s of single-task
    CPU on the one-row-group local file); fan_out parallelizes it and
    is a no-op on real multi-split scans. All aggregates are exact
    decimal sums + counts — partitioning-invariant."""
    from ftm_columnstore_spark.functions.text import fan_out

    li = fan_out(_t(spark, sf_dir, "lineitem"))
    return (
        li.filter(F.col("l_shipdate") <= "2001-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(_dsum(F.col("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(_dsum(F.col("l_extendedprice")), 2)
            .cast("double")
            .alias("sum_base_price"),
            F.round(
                _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).cast("double").alias("sum_disc_price"),
            F.round(
                _dsum(F.col("l_quantity")).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_qty"),
            F.round(
                _dsum(F.col("l_discount")).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def a6_group_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/X9: derived-year grouping."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.year("o_orderdate").cast("long").alias("order_year")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(_dsum(F.col("o_totalprice")), 2).cast("double").alias("total"),
    )


def a7_group_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: capped group list (MAX_SQL_AGG_GROUPS analogue, cap 3)."""
    o = _t(spark, sf_dir, "orders")
    grouped = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy(F.col("o_orderpriority"))
    return (
        grouped.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .drop("__rn")
    )


def a8_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: per-group distinct-entity counts (the _stats MV shape).

    Single-exchange on purpose: the countDistinct Expand looks alarming
    but Spark's distinct-agg rewrite partial-aggregates on
    (segment, custkey) map-side, so the one exchange carries ~|custkeys|
    rows. A j13-style pre-aggregation to customer grain was measured
    SLOWER here (two exchanges for the same shuffled volume)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# --------------------------------------------------------------------------
# ordering / set ops / windows
# --------------------------------------------------------------------------

def o1_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O3: numeric-ordered top-k (TakeOrderedAndProject)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )


def o2_slice_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: limit+offset slice on a deterministic order."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy("o_orderkey")
        .offset(10)
        .limit(20)
        .select("o_orderkey", "o_orderstatus")
    )


def u1_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: union of two query frontiers, distinct."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    high = o.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    return urgent.unionByName(high).distinct()


def u2_upsert_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2/P5: double-ingest then dedup-on-read — row count equals the
    distinct key count (ReplacingMergeTree contract). Mirrors the
    store's actual mechanism (`store.dedup_statements`): a max-struct
    hash aggregate keyed on the statement key, so duplicates collapse
    map-side BEFORE the shuffle — a window would shuffle and sort every
    raw row (the window shape itself is exercised by w1/st2)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    doubled = li.unionByName(li)
    deduped = doubled.groupBy("l_orderkey", "l_linenumber").agg(
        F.max(F.struct("l_shipdate")).alias("__winner")
    )
    return deduped.agg(F.count(F.lit(1)).alias("n_rows"))


def w1_window_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W/D4: latest-wins per key (judgement resolution shape)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            _fmt("o_orderdate").alias("order_date"),
        )
    )


# --------------------------------------------------------------------------
# scalar functions
# --------------------------------------------------------------------------

def x1_fingerprint_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: name fingerprint (sorted distinct normalized tokens)."""
    from ftm_columnstore_spark.functions.phonetics import fingerprint_col

    p = _t(spark, sf_dir, "part")
    return p.select("p_partkey", fingerprint_col("p_name").alias("fp"))


def x12_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12: JSON field extraction from the events props column."""
    e = _events(spark, sf_dir)
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


# --------------------------------------------------------------------------
# FtM entity engine on testdata (statements built from customer)
# --------------------------------------------------------------------------

def _customer_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    arr = lambda col: F.array(col)  # noqa: E731
    return c.select(
        F.concat(F.lit("c-"), F.col("c_custkey")).alias("id"),
        F.lit(None).cast("string").alias("caption"),
        F.lit("Company").alias("schema"),
        F.create_map(
            F.lit("name"), arr(F.col("c_name")),
            F.lit("segment"), arr(F.col("c_mktsegment")),
            F.lit("acctbal"), arr(F.col("c_acctbal").cast("string")),
            F.lit("nation"), arr(F.concat(F.lit("n-"), F.col("c_nationkey"))),
        ).alias("properties"),
        F.array(F.lit("tpch")).alias("datasets"),
        F.array().cast("array<string>").alias("referents"),
    )


def e1_entity_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6: decompose → statements → reassemble; identity must hold."""
    from ftm_columnstore_spark.operators.assembly import assemble_entities
    from ftm_columnstore_spark.sources.statements import entities_to_statements

    stmts = entities_to_statements(
        _customer_entities(spark, sf_dir), last_seen="2024-01-01 00:00:00"
    )
    return assemble_entities(stmts).select(
        "id", "caption", F.col("schema").alias("entity_schema")
    )


def e2_entity_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 via the Query DSL: grouped count over statements."""
    from ftm_columnstore_spark.plans.compiler import compile_aggregation_df
    from ftm_columnstore_spark.plans.query import Q
    from ftm_columnstore_spark.sources.statements import entities_to_statements

    stmts = entities_to_statements(
        _customer_entities(spark, sf_dir), last_seen="2024-01-01 00:00:00"
    )
    q = Q().aggregate("count", "id", groups="segment")
    df = compile_aggregation_df(stmts, q, q.aggregations[0])
    return df.select(
        F.col("group").alias("segment"), F.col("value").alias("n_entities")
    )


def e3_entity_filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F6 via the Query DSL: conjunctive prop filters → whole entities."""
    from ftm_columnstore_spark.plans.compiler import compile_entities
    from ftm_columnstore_spark.plans.query import Q
    from ftm_columnstore_spark.sources.statements import entities_to_statements

    stmts = entities_to_statements(
        _customer_entities(spark, sf_dir), last_seen="2024-01-01 00:00:00"
    )
    q = Q().where(segment="BUILDING").where(name__startswith="Customer#0000001")
    return compile_entities(stmts, q).select("id", "caption")


def m1_stats_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1/A10: per-(source, lang) stats report over documents."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# dedup / text analysis / similarity (training-data pipeline)
# --------------------------------------------------------------------------

def m3_pivot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-source document counts with one column per language."""
    d = _t(spark, sf_dir, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    out = d.groupBy("source").pivot("lang", langs).count()
    return out.select(
        "source", *[F.coalesce(F.col(l), F.lit(0)).alias(l) for l in langs]
    )


def d2_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groups with representative + count."""
    from ftm_columnstore_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_t(spark, sf_dir, "documents"))


def t1_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token/char counts per document."""
    from ftm_columnstore_spark.functions.text import word_tokens_col

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(word_tokens_col("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


def t2_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency top-20 across the corpus."""
    from ftm_columnstore_spark.functions.text import word_tokens_col

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(word_tokens_col("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


def t3_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


def _ann_exact_topk(e: DataFrame) -> DataFrame:
    """v1's brute-force cosine top-20 (vec_id=0 query) over a given
    embeddings relation — shared verbatim by v1 and v10's exact side,
    so v10 can feed it a persisted relation without duplicating the
    arithmetic (r09, guide §2.1)."""
    from ftm_columnstore_spark.functions.vectors import cosine_similarity_col

    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    scored = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.round(
            cosine_similarity_col(F.col("embedding"), F.col("qv")), 6
        ).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(20)


def v1_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-20 against the vec_id=0 embedding."""
    return _ann_exact_topk(_t(spark, sf_dir, "embeddings"))


def st1_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming analogue: tumbling 1h aggregation over event time (the
    same groupBy runs under readStream+watermark in streaming.windows)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def st2_events_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert/latest-wins on an event stream keyed by user."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def d5_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (inverted-index self-join)."""
    from ftm_columnstore_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), shingle_k=3, min_jaccard=0.5
    )


def v2_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join: 3 query vectors × corpus, top-5 each."""
    from ftm_columnstore_spark.operators.similarity import knn_join

    e = _t(spark, sf_dir, "embeddings")
    return knn_join(e.filter(F.col("vec_id") < 3), e, k=5)


def v7_knn_join_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join, Arrow/numpy BLAS path — same contract (and oracle) as
    v2, one matmul per corpus partition instead of per-pair cosines."""
    from ftm_columnstore_spark.operators.similarity import knn_join_np

    e = _t(spark, sf_dir, "embeddings")
    return knn_join_np(e.filter(F.col("vec_id") < 3), e, k=5)


def x3_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 scoring primitive: supplier-name pairs within edit distance 2."""
    s = _t(spark, sf_dir, "supplier")
    l = s.select(F.col("s_suppkey").alias("left_id"), F.col("s_name").alias("ln"))
    r = s.select(F.col("s_suppkey").alias("right_id"), F.col("s_name").alias("rn"))
    return (
        l.join(r, F.col("left_id") < F.col("right_id"))
        .withColumn("dist", F.levenshtein("ln", "rn").cast("long"))
        .filter(F.col("dist") <= 2)
        .select("left_id", "right_id", "dist")
    )


def e4_entity_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: 1-hop adjacency through the statement engine — orders reference
    customers via an entity-typed prop; expand around customer c-1."""
    from ftm_columnstore_spark.operators.graph import adjacent
    from ftm_columnstore_spark.sources.statements import statements_from_rows  # noqa: F401

    o = _t(spark, sf_dir, "orders")
    stmts = o.select(
        F.sha1(F.concat_ws("|", F.lit("tpch"), F.col("o_orderkey"))).alias("id"),
        F.concat(F.lit("o-"), F.col("o_orderkey")).alias("entity_id"),
        F.concat(F.lit("o-"), F.col("o_orderkey")).alias("canonical_id"),
        F.lit("customer").alias("prop"),
        F.lit("entity").alias("prop_type"),
        F.lit("Payment").alias("schema"),
        F.concat(F.lit("c-"), F.col("o_custkey")).alias("value"),
        F.lit(None).cast("string").alias("original_value"),
        F.lit("tpch").alias("dataset"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(False).alias("target"),
        F.lit(False).alias("external"),
        F.to_timestamp(F.lit("2024-01-01")).alias("first_seen"),
        F.to_timestamp(F.lit("2024-01-01")).alias("last_seen"),
    )
    return adjacent(stmts, "c-1")


def e5_entity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 through the Query DSL: substring search over searchable props."""
    from ftm_columnstore_spark.plans.compiler import compile_entities
    from ftm_columnstore_spark.plans.query import Q
    from ftm_columnstore_spark.sources.statements import entities_to_statements

    sdf = entities_to_statements(
        _customer_entities(spark, sf_dir), last_seen="2024-01-01 00:00:00"
    )
    return compile_entities(sdf, Q().search("00000101")).select("id", "caption")


def a2_count_via_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: entity count through the Query DSL."""
    from ftm_columnstore_spark.plans.compiler import compile_aggregation_df
    from ftm_columnstore_spark.plans.query import Q
    from ftm_columnstore_spark.sources.statements import entities_to_statements

    sdf = entities_to_statements(
        _customer_entities(spark, sf_dir), last_seen="2024-01-01 00:00:00"
    )
    q = Q().aggregate("count", "id")
    return compile_aggregation_df(sdf, q, q.aggregations[0]).select(
        F.col("value").alias("n_entities")
    )


def st3_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user over the event stream."""
    from ftm_columnstore_spark.streaming.windows import session_window_agg

    e = _events(spark, sf_dir)
    return session_window_agg(e, gap="30 minutes", watermark=None).select(
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "user_id",
        "n_events",
    )


def j5_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-correlated count by priority."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_shipdate") > "1999-01-01").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        o.filter(
            (F.col("o_orderdate") >= "1998-01-01")
            & (F.col("o_orderdate") < "1999-01-01")
        )
        .join(late, on="o_orderkey", how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def j6_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue per customer, top 20. The fact side is
    partially aggregated to order grain BEFORE the orders join, so the
    shuffle moves one row per order instead of one per lineitem — at
    100 TB that's the difference between shuffling the fact table and
    shuffling a 4×-smaller pre-aggregate (decimal partials merge
    exactly, so the two-stage sum is lossless)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    per_order = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev"))
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("__rev").alias("__crev"))
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round("__crev", 2).cast("double").alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def j7_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(_dsum(F.col("l_quantity")), 2).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "total_qty",
        )
    )


def st4_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h windows every 30min over event time."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )


def a11_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate revenue share."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    ).join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.agg(
        F.round(
            100.0
            * _dsum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)).cast("double")
            / _dsum(rev).cast("double"),
            4,
        ).alias("promo_share")
    )


def j8_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade volume (supplier nation ≠
    customer nation), by year."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    rev = _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(F.round(rev, 2).cast("double").alias("volume"))
    )


def j9_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped BUILDING-segment orders by
    revenue. Segment filter broadcast-prunes customers before the big
    join; top-k is TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-06-15"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-06-15"
    )
    rev = _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.round(rev, 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def a12_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue effect of a discount change — single scan,
    every predicate pushed to the parquet reader."""
    li = _t(spark, sf_dir, "lineitem")
    rev = _dsum(F.col("l_extendedprice") * F.col("l_discount"))
    return li.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.04)
        & (F.col("l_quantity") < 24)
    ).agg(F.round(rev, 2).cast("double").alias("revenue"))


def a13_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted to available columns): per year of late
    shipments (> 90 days after order), counts of high- vs low-priority
    orders."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90))
        .groupBy(F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            F.sum(high.cast("long")).alias("high_priority"),
            F.sum((~high).cast("long")).alias("low_priority"),
        )
    )


def j10_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (adapted): disjunctive brand/size/quantity
    predicates across the lineitem ⋈ part join — exercises OR-predicate
    pushdown and broadcast of the filtered dimension."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size").between(1, 25))
            & (F.col("l_quantity").between(10, 20))
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & (F.col("p_size").between(1, 35))
            & (F.col("l_quantity").between(20, 30))
        )
    )
    rev = _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return joined.filter(cond).agg(
        F.round(rev, 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def a4_avg_via_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: numeric coercion avg over string-valued statements via the DSL."""
    from ftm_columnstore_spark.plans.compiler import compile_aggregation_df
    from ftm_columnstore_spark.plans.query import Q
    from ftm_columnstore_spark.sources.statements import entities_to_statements

    sdf = entities_to_statements(
        _customer_entities(spark, sf_dir), last_seen="2024-01-01 00:00:00"
    )
    q = Q().aggregate("avg", "acctbal")
    return compile_aggregation_df(sdf, q, q.aggregations[0]).select(
        F.round(F.col("value"), 4).alias("avg_acctbal")
    )


def m2_fingerprint_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2/A9: fingerprint frequency view (value → freq + length)."""
    from ftm_columnstore_spark.functions.phonetics import fingerprint_col

    p = _t(spark, sf_dir, "part")
    return (
        p.select(fingerprint_col("p_name").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("freq"), F.length(F.first("fp")).cast("long").alias("len"))
    )


def u3_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-extension: INTERSECT of two query frontiers."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    high = o.filter(F.col("o_totalprice") > 300000).select("o_orderkey")
    return urgent.intersect(high)


def e6_schema_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: schema filter expands to FtM descendants — customers split into
    Person/Company by key parity; filtering LegalEntity returns both."""
    from ftm_columnstore_spark.plans.compiler import compile_entities
    from ftm_columnstore_spark.plans.query import Q
    from ftm_columnstore_spark.sources.statements import entities_to_statements

    c = _t(spark, sf_dir, "customer")
    ents = c.select(
        F.concat(F.lit("c-"), F.col("c_custkey")).alias("id"),
        F.lit(None).cast("string").alias("caption"),
        F.when(F.col("c_custkey") % 2 == 0, F.lit("Company"))
        .otherwise(F.lit("Person"))
        .alias("schema"),
        F.create_map(F.lit("name"), F.array(F.col("c_name"))).alias("properties"),
        F.array(F.lit("tpch")).alias("datasets"),
        F.array().cast("array<string>").alias("referents"),
    )
    stmts = entities_to_statements(ents, last_seen="2024-01-01 00:00:00")
    return compile_entities(stmts, Q().where(schema="LegalEntity")).select(
        "id", F.col("schema").alias("entity_schema")
    )


def d6_jaccard_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exact near-dedup: ids kept after dropping right-side
    members of every Jaccard≥0.5 pair."""
    from ftm_columnstore_spark.operators.dedup import jaccard_dedup

    return jaccard_dedup(
        _t(spark, sf_dir, "documents"), shingle_k=3, min_jaccard=0.5
    ).select("doc_id")


def d7_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 canonicalization, oracle-checked: run-edges (consecutive doc_ids
    sharing a language) form chains up to length ~7; large-star/small-star
    CC labels each member with its component minimum. Oracle: DuckDB
    recursive-CTE reachability + min over reachable set."""
    from ftm_columnstore_spark.operators.blocking import connected_components

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    a, b = d.alias("a"), d.alias("b")
    edges = a.join(
        b,
        on=[
            F.col("b.doc_id") == F.col("a.doc_id") + 1,
            F.col("a.lang") == F.col("b.lang"),
        ],
    ).select(
        F.col("a.doc_id").alias("left_id"), F.col("b.doc_id").alias("right_id")
    )
    # run-edges are distinct and self-loop-free by construction
    # (right = left + 1, one row per left) — skip CC's dedup shuffle
    cmap = connected_components(edges, edges_deduped=True)
    return cmap.select(
        F.col("entity_id").cast("long").alias("doc_id"),
        F.col("canonical_id").cast("long").alias("canonical_doc"),
    )


def w2_rank_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking beyond row_number: dense_rank over per-customer
    spend deciles... top 15 spenders with their dense rank."""
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.round(_dsum(F.col("o_totalprice")), 2).cast("double").alias("spend")
    )
    # scale posture: cut to the top 15 FIRST (TakeOrderedAndProject —
    # per-partition top-N, no global sort), then rank inside the bounded
    # set. The window's order includes the unique o_custkey, so ranks are
    # identical to ranking the full per-customer aggregate
    # (docs/PLANS.md "global windows").
    top = spend.orderBy(F.col("spend").desc(), F.col("o_custkey")).limit(15)
    w = Window.orderBy(F.col("spend").desc(), F.col("o_custkey"))
    return top.withColumn(
        "rnk", F.dense_rank().over(w).cast("long")
    ).select("o_custkey", "spend", "rnk")


def a10_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (region, nation) — subtotal rows coalesced to '(all)'."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.round(rev, 2).cast("double").alias("revenue"))
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("region"),
            F.coalesce("n_name", F.lit("(all)")).alias("nation"),
            "revenue",
        )
    )


def u4_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-extension: EXCEPT of two query frontiers."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    high = o.filter(F.col("o_totalprice") > 300000).select("o_orderkey")
    return urgent.exceptAll(high).distinct()


def o4_deterministic_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: deterministic iteration order (clustered-PK analogue)."""
    from ftm_columnstore_spark.sources.statements import entities_to_statements

    sdf = entities_to_statements(
        _customer_entities(spark, sf_dir), last_seen="2024-01-01 00:00:00"
    )
    return (
        sdf.filter(F.col("prop") == "name")
        .orderBy("canonical_id", "prop", "value")
        .limit(50)
        .select(F.col("canonical_id").alias("id"), F.col("value").alias("name"))
    )


# --------------------------------------------------------------------------
# NON-SQL (probabilistic / LSH) — rows-only checks
# --------------------------------------------------------------------------


def t11_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-LM quality proxy: per-doc bits/bigram under an
    add-k bigram model trained on the corpus itself."""
    from ftm_columnstore_spark.operators.text import bigram_lm_scores

    d = _t(spark, sf_dir, "documents")
    return bigram_lm_scores(d).withColumnRenamed("id", "doc_id")


def t17_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail partition (operators/text.py:
    perplexity_buckets): fixed bits-per-bigram cutoffs over the t11
    corpus LM — reproducible quality grading with no quantile pass."""
    from ftm_columnstore_spark.operators.text import perplexity_buckets

    d = _t(spark, sf_dir, "documents")
    return perplexity_buckets(d).withColumnRenamed("id", "doc_id")


def t18_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping token-window chunking (operators/text.py:
    chunk_documents): 48-token chunks every 36 tokens, last chunk
    anchored to the document end. Zero-shuffle narrow op; text kept as
    md5 to keep compare payloads small."""
    from ftm_columnstore_spark.operators.text import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, size=48, overlap=12).select(
        F.col("id").alias("doc_id"),
        F.col("chunk_no").cast("long").alias("chunk_no"),
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        F.md5("text").alias("chunk_md5"),
    )


def t20_cross_corpus_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-corpus LM scoring (operators/text.py:train_bigram_lm +
    score_with_bigram_lm — the real CCNet shape): the LM trains on
    documents < 250 and scores documents >= 250; bigrams unseen in the
    reference fall back to the k-smoothed floor, so out-of-domain text
    scores high."""
    from ftm_columnstore_spark.operators.text import (
        score_with_bigram_lm,
        train_bigram_lm,
    )

    d = _t(spark, sf_dir, "documents")
    lm = train_bigram_lm(d.where(F.col("doc_id") < 250))
    return score_with_bigram_lm(
        d.where(F.col("doc_id") >= 250), lm
    ).withColumnRenamed("id", "doc_id")


def t12_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by smoothed TF-IDF."""
    from ftm_columnstore_spark.operators.text import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, top=3).withColumnRenamed("id", "doc_id")


def t5_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring per document (oracle: same arithmetic in
    DuckDB over the same tokenizer regex)."""
    from ftm_columnstore_spark.operators.text import quality_score_col

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score_col("text").alias("quality"))


def t4_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-voting language ID + token count per document (oracle:
    struct-greatest voting replicated in DuckDB; xxhash64 fingerprint and
    quality live in t1/t5)."""
    from ftm_columnstore_spark.operators.text import (
        language_id_col,
        token_count_col,
    )

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_col("text").cast("long").alias("n_tokens"),
        language_id_col("text").alias("lang_pred"),
    )


def v4_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_columnstore_spark.operators.dedup import embedding_dup_pairs_portable

    # the synthetic embeddings have no planted near-dups (max pairwise
    # cosine ≈ 0.51), so the demo threshold sits below that to keep the
    # oracle check non-vacuous
    return embedding_dup_pairs_portable(
        _t(spark, sf_dir, "embeddings"), min_cosine=0.40, num_planes=4
    )


def v5_ivf_trained_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained portable IVF at DIFFERENT hyperparameters from v11
    (8 coarse centroids, THREE integer-Lloyd iterations, 3 probes) —
    exercises multi-iteration convergence and the small-centroid/low-
    probe regime through the same exact-arithmetic machinery, so the
    v11 unrolled-CTE oracle applies verbatim with these params.
    Integer Lloyd keeps training exact, so the oracle can replay it."""
    from ftm_columnstore_spark.operators.similarity import (
        ivf_topk_portable,
        kmeans_centroids_portable,
    )

    e = _t(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") != 0)
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    cents = kmeans_centroids_portable(corpus, n_centroids=8, iterations=3)
    return ivf_topk_portable(corpus, qvec, k=12, n_probe=3, centroids=cents)


def v6_ann_topk_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy BLAS path for wide-vector top-k (same results as v1)."""
    from ftm_columnstore_spark.operators.similarity import brute_force_topk_np

    e = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    return brute_force_topk_np(e.filter(F.col("vec_id") != 0), qvec, k=20)


#: Golden phonetic keys for every distinct part/region name across the
#: three driver SFs (the token vocabulary is fixed: 8 adjectives × 8
#: nouns + 5 regions). soundex values come from an INDEPENDENT pure-
#: Python implementation of the published US-census algorithm (verified
#: against the classic vectors: Robert→R163, Tymczak→T522,
#: Pfister→P236, Ashcraft→A261, Honeyman→H555 — and cross-checked
#: equal to Spark's builtin on all probes); metaphone values come from
#: the repo's Double Metaphone port, whose per-algorithm ground truth
#: is the 78 published golden vectors in tests/test_double_metaphone.py
#: — so the driver compare pins the DISPATCHER plumbing (tokenize →
#: per-element encode → serialization) against fixed expectations.
_X5_GOLDEN: dict[str, tuple[str, str]] = {
    "AFRICA": ("A162", "AFRK"),
    "AMERICA": ("A562", "AMRK"),
    "ASIA": ("A200", "AS"),
    "EUROPE": ("E610", "ARP"),
    "MIDDLE EAST": ("E235|M340", "ASTMTL|MTL"),
    "blue anvil": ("A514", "ANFLPL"),
    "blue bolt": ("B414", "PLPLT"),
    "blue gear": ("B426", "PLJR"),
    "blue gizmo": ("B422", "PLJSM"),
    "blue plate": ("B414", "PLPLT"),
    "blue ring": ("B465", "PLRNK"),
    "blue rod": ("B463", "PLRT"),
    "blue widget": ("B432|W323", "PLJT|AJT"),
    "cold anvil": ("A514", "ANFLKLT"),
    "cold bolt": ("B432", "PLTKLT"),
    "cold gear": ("C432", "KLTJR"),
    "cold gizmo": ("C432", "KLTJSM"),
    "cold plate": ("C431", "KLTPLT"),
    "cold ring": ("C436", "KLTRNK"),
    "cold rod": ("C436", "KLTRT"),
    "cold widget": ("C433|W323", "KLTJT|AJT"),
    "hot anvil": ("A514", "ANFLT"),
    "hot bolt": ("B433", "PLTT"),
    "hot gear": ("G630", "JRT"),
    "hot gizmo": ("G253", "JSMT"),
    "hot plate": ("H314", "HTPLT"),
    "hot ring": ("H365", "HTRNK"),
    "hot rod": ("H363", "HTRT"),
    "hot widget": ("H332|W323", "HTJT|AJT"),
    "large anvil": ("A514", "ANFLLRJ"),
    "large bolt": ("B434", "PLTLRJ"),
    "large gear": ("G646", "JRLRJ"),
    "large gizmo": ("G254", "JSMLRJ"),
    "large plate": ("L621", "LRJPLT"),
    "large ring": ("L626", "LRJRNK"),
    "large rod": ("L626", "LRJRT"),
    "large widget": ("L623|W323", "LRJJT|AJT"),
    "new anvil": ("A514", "ANFLN"),
    "new bolt": ("B435", "PLTN"),
    "new gear": ("G650", "JRN"),
    "new gizmo": ("G255", "JSMN"),
    "new plate": ("N143", "NPLT"),
    "new ring": ("N652", "NRNK"),
    "new rod": ("N630", "NRT"),
    "new widget": ("N323|W323", "NJT|AJT"),
    "old anvil": ("A514", "ANFLLT"),
    "old bolt": ("B434", "PLTLT"),
    "old gear": ("G643", "JRLT"),
    "old gizmo": ("G254", "JSMLT"),
    "old plate": ("O431", "ALTPLT"),
    "old ring": ("O436", "ALTRNK"),
    "old rod": ("O436", "ALTRT"),
    "old widget": ("O433|W323", "ALTJT|AJT"),
    "red anvil": ("A514", "ANFLRT"),
    "red bolt": ("B436", "PLTRT"),
    "red gear": ("G663", "JRRT"),
    "red gizmo": ("G256", "JSMRT"),
    "red plate": ("P436", "PLTRT"),
    "red ring": ("R365", "RTRNK"),
    "red rod": ("R363", "RTRT"),
    "red widget": ("R332|W323", "RTJT|AJT"),
    "small anvil": ("A514", "ANFLSML"),
    "small bolt": ("B432", "PLTSML"),
    "small gear": ("G625", "JRSML"),
    "small gizmo": ("G252", "JSMSML"),
    "small plate": ("P432", "PLTSML"),
    "small ring": ("R522", "RNKSML"),
    "small rod": ("R325", "RTSML"),
    "small widget": ("S543|W323", "SMLJT|AJT"),
}


def x5_phonetic_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X4/X5 phonetic dispatcher end-to-end
    (functions/phonetics.py:phonetics_col): distinct part + region
    names → tokenize ({fingerprint} ∪ {len>5 tokens}) → per-element
    soundex (Spark builtin) and double-metaphone (Arrow UDF), each
    array SERIALIZED via concat_ws('|') so the driver's pandas
    canonicalizer can hash the rows (r03's array<string> output crashed
    its lexsort — unhashable list). Oracle: the same name set derived
    in SQL, LEFT-joined to the independently computed golden map
    (``_X5_GOLDEN``) — a name missing from the map surfaces as a NULL
    hash mismatch, never a silently dropped row."""
    from ftm_columnstore_spark.functions.phonetics import phonetics_col

    names = (
        _t(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .unionByName(
            _t(spark, sf_dir, "region").select(F.col("r_name").alias("name"))
        )
        .distinct()
    )
    return names.select(
        "name",
        F.concat_ws("|", phonetics_col("name", "soundex")).alias("soundex"),
        F.concat_ws("|", phonetics_col("name", "metaphone1")).alias(
            "metaphone"
        ),
    )

def d3_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_columnstore_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signature,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signature(d, num_hashes=32, shingle_k=3)
    return minhash_lsh_pairs(sigs, num_bands=8)


def d16_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster labels for every document: LSH pairs at
    jaccard_est >= 0.5 (same portable md5 family as d3) → large-star/
    small-star connected components → singletons keep their own id.
    Oracle: the d3 signature SQL with a threshold, recursive-CTE
    reachability (d7 pattern), LEFT JOIN back to documents."""
    from ftm_columnstore_spark.operators.dedup import minhash_clusters

    return minhash_clusters(
        _t(spark, sf_dir, "documents"),
        num_hashes=32,
        num_bands=8,
        threshold=0.5,
        shingle_k=3,
    )


def t23_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/test split
    (operators/sampling.py:split_by_cluster): near-dup cluster labels
    (d16's machinery) hashed INSTEAD of document ids, so every member
    of a duplicate cluster lands in one split — the contamination mode
    per-document hashing silently allows. Oracle composes the d16
    cluster replay with the t6 md5-threshold split replay."""
    from ftm_columnstore_spark.operators.dedup import minhash_clusters
    from ftm_columnstore_spark.operators.sampling import split_by_cluster

    d = _t(spark, sf_dir, "documents")
    clusters = minhash_clusters(
        d, num_hashes=32, num_bands=8, threshold=0.5, shingle_k=3
    )
    return split_by_cluster(
        d, clusters, {"train": 0.8, "test": 0.2}, seed="seed"
    ).select("doc_id", "split")


def d4_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_columnstore_spark.operators.dedup import simhash_pairs_portable

    return simhash_pairs_portable(_t(spark, sf_dir, "documents"), max_hamming=3)


def _pq_query_vec() -> list:
    """Deterministic 64-dim query for v12 — shared by the Spark entry
    and the oracle's literal list (no corpus probe job needed)."""
    return [((i * 37) % 19 - 9) / 10.0 for i in range(64)]


def v12_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.py:pq_topk —
    Jégou+ TPAMI'11): 8 subspaces × 16 fixed codes over quantized
    int64 subvectors, ADC lookup-table scan (one codegen pass over the
    m-int code column, zero shuffles), exact integer-L2 refine of the
    top-50. Fully oracle-checked: encode argmin, ADC sums and the
    refine cut are all exact integer arithmetic."""
    from ftm_columnstore_spark.operators.similarity import pq_topk

    e = _t(spark, sf_dir, "embeddings")
    return pq_topk(e, _pq_query_vec(), k=10, m=8, n_codes=16, refine=50)


def a25_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sample-based quantiles
    (operators/sampling.py:sample_quantiles): md5-threshold sample of
    documents.n_chars (the split_by_hash contract — bit-reproducible,
    no RNG), type-1 nearest-rank quantiles over ONE bounded-sample
    sort. The scale path for distribution profiling: the full-column
    global sort never happens. Oracle replays sample and rank math
    verbatim."""
    from ftm_columnstore_spark.operators.sampling import sample_quantiles

    d = _t(spark, sf_dir, "documents")
    return sample_quantiles(
        d, "n_chars", [0.25, 0.5, 0.9, 0.99], rate=0.5, id_col="doc_id"
    )


def j19_skew_hybrid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-aware hybrid join (functions/skew.py:skew_hybrid_join):
    CMS-detected hot order keys route through a broadcast branch, the
    tail through the normal shuffle join — and the union is
    row-identical to the plain join, which is exactly what the oracle
    asserts (the oracle IS the plain SQL join; any routing bug breaks
    the hash match). Revenue per (orderkey bucket) afterwards keeps
    the compare tight."""
    from ftm_columnstore_spark.functions.skew import skew_hybrid_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    # detect_fraction: the CMS detection runs over a 10% row sample
    # (threshold scaled) — routing-only, so the output stays
    # row-identical to the plain join (measured 5.6s -> 2.2s at sf0.1)
    j = skew_hybrid_join(
        li, o, "l_orderkey", threshold=3, w=512, detect_fraction=0.1
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum (house convention): double addition is
            # order-dependent, and partial-agg order vs DuckDB can flip
            # round(x, 2) on a .005 boundary
            F.round(_dsum(F.col("l_extendedprice")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


def t24_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-quality filter (operators/text.py:c4_line_filter —
    Raffel+'20 §2.2): terminal-punctuation + min-words + blocklist line
    rules, per-document ordered reassembly. One narrow explode + pure
    codegen predicates + one reassembly agg. Oracle replays the rules
    as DuckDB list lambdas over the same split."""
    from ftm_columnstore_spark.operators.text import c4_line_filter

    d = _t(spark, sf_dir, "documents")
    return c4_line_filter(d, min_words=3)


def a26_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full one-pass table profile
    (operators/sketches.py:profile_columns): value/null counts + HLL
    distinct estimate per column from a single stacked scan — nulls
    ride a sentinel register (idx −1), costing no extra pass and never
    entering the estimate. Oracle replays the stacked register math
    with the same sentinel."""
    from ftm_columnstore_spark.operators.sketches import profile_columns

    d = _t(spark, sf_dir, "documents")
    return profile_columns(d, ["text", "lang", "n_chars"], p=8)


def t21_nb_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes log-odds quality classifier
    (operators/text.py:train_quality_classifier /
    score_quality_classifier — the closed-form sibling of the fastText
    filters in CCNet/RefinedWeb): train token log-odds between the
    English half (good) and the rest (bad) of the corpus, score every
    document by mean per-token log-odds. Train is two token aggs + one
    vocabulary-bounded full-outer join; scoring is one broadcast join +
    one agg. Oracle replays train AND score end-to-end."""
    from ftm_columnstore_spark.operators.text import (
        score_quality_classifier,
        train_quality_classifier,
    )

    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    w = train_quality_classifier(
        d.where(F.col("lang") == "en"), d.where(F.col("lang") != "en")
    )
    return score_quality_classifier(d, w)


def t22_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted corpus prefix (operators/sampling.py:take_budget —
    "give me N training tokens"): walk documents in md5-hash order and
    keep rows while the running n_chars total stays ≤ 100k. The running
    total is a DISTRIBUTED prefix sum — per-bucket subtotals → driver
    offsets → parallel within-bucket window cumsum; the plan contains
    no single-partition window (asserted in test_sampling). Oracle
    replays the same walk with one plain window cumsum."""
    from ftm_columnstore_spark.operators.sampling import take_budget

    d = _t(spark, sf_dir, "documents")
    return take_budget(d, "n_chars", 100_000, id_col="doc_id").select(
        "doc_id", "n_chars"
    )


def v14_pq_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query PQ kNN join (operators/similarity.py:pq_knn_join):
    3 query vectors against the corpus, ADC over the 8-int code column
    — one codegen scan emitting all (query, row) distances (no join
    against the query side), WindowGroupLimit top-5 per query. Exact
    integer arithmetic end-to-end, oracle-replayed."""
    from ftm_columnstore_spark.operators.similarity import pq_knn_join

    e = _t(spark, sf_dir, "embeddings")
    left = e.filter(F.col("vec_id").isin(1, 2, 3))
    return pq_knn_join(left, e, k=5, m=8, n_codes=16)


def a22_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-part estimate per returnflag
    (operators/sketches.py:hll_cardinality — Flajolet+ 2007): 256
    registers over the md5-60bit hash family, rank via exact integer
    bin()-length arithmetic, ONE IEEE division per group. Two cascaded
    map-side-combinable aggs; register state ≤ 256 rows/group at any
    corpus size. Oracle replays the identical integer register math."""
    from ftm_columnstore_spark.operators.sketches import hll_cardinality

    li = _t(spark, sf_dir, "lineitem")
    return hll_cardinality(li, "l_partkey", p=8, group_by=["l_returnflag"])


def a23_cms_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy-hitter tokens (operators/sketches.py —
    Cormode-Muthukrishnan 2005): 4×512-cell sketch over corpus tokens,
    distinct-key probe, est ≥ true count guaranteed (no false
    negatives). The sketch is one bounded agg + a broadcast probe —
    the hot-key detector you run BEFORE choosing a salting strategy at
    100 TB. Exact integer arithmetic end-to-end, oracle-replayed."""
    from ftm_columnstore_spark.functions.text import word_tokens_col
    from ftm_columnstore_spark.operators.sketches import cms_heavy_hitters

    d = _t(spark, sf_dir, "documents")
    toks = d.where(F.col("text").isNotNull()).select(
        F.explode(word_tokens_col("text")).alias("token")
    )
    return cms_heavy_hitters(toks, "token", threshold=100, d=4, w=512)


def a24_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column-cardinality profile
    (operators/sketches.py:profile_cardinalities): HLL estimate per
    column from ONE stacked scan + one grouped register aggregation —
    the table-profiling question ("which columns are keys?") answered
    without a count-distinct shuffle per column. Oracle replays the
    stacked register math exactly."""
    from ftm_columnstore_spark.operators.sketches import (
        profile_cardinalities,
    )

    li = _t(spark, sf_dir, "lineitem")
    return profile_cardinalities(
        li, ["l_partkey", "l_suppkey", "l_returnflag"], p=8
    )


def v13_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/similarity.py:ivfpq_topk_portable — the
    FAISS ``IVFx,PQy`` composition, Jégou+ TPAMI'11 §V): integer-L2
    routing to 4 of 16 cells, PQ-ADC ranking over the probed rows'
    8-int codes, exact integer-L2 refine of the top-50. One codegen
    scan (route + encode + ADC are all literal expressions) into a
    top-k — zero shuffles. Fully oracle-checked end-to-end."""
    from ftm_columnstore_spark.operators.similarity import ivfpq_topk_portable

    e = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk_portable(
        e, _pq_query_vec(), k=10, m=8, n_codes=16, n_centroids=16,
        n_probe=4, refine=50,
    )


def v8_ivf_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe path with fixed centroids — the serve-path counterpart
    of v5 (trained k-means, rows-only): pinning centroids to the lowest
    corpus ids makes assignment/probe/re-rank exact arithmetic, so this
    one is fully oracle-checked."""
    from ftm_columnstore_spark.operators.similarity import ivf_topk_portable

    e = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    return ivf_topk_portable(
        e.filter(F.col("vec_id") != 0), qvec, k=20, n_centroids=16, n_probe=6
    )


def v11_ivf_trained_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED portable IVF (operators/similarity.py:
    kmeans_centroids_portable + ivf_topk_portable(centroids=...)):
    2 integer-Lloyd iterations distributed over the corpus, then the
    exact-arithmetic serve path — the previously rows-only trained-IVF
    family member, now fully value-checked (the oracle unrolls the
    iterations as chained CTEs)."""
    from ftm_columnstore_spark.operators.similarity import (
        ivf_topk_portable,
        kmeans_centroids_portable,
    )

    e = _t(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") != 0)
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    cents = kmeans_centroids_portable(
        corpus, n_centroids=16, iterations=2
    )
    return ivf_topk_portable(
        corpus, qvec, k=20, n_probe=6, centroids=cents
    )


def v10_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@20 of the portable IVF probe path
    (v8) against exact brute-force cosine top-20 (v1) — the measurement
    every approximate index needs before it replaces the exact path.
    Both sides are deterministic, so the recall itself is
    oracle-checkable.

    r09 (guide §2.1): both sides previously re-read the embeddings
    parquet independently (v1's corpus + query-subquery scans, v8's
    query-vector collect, and the IVF centroid/assignment/candidate
    reads — six scans total); ONE persisted relation now feeds every
    consumer. The expressions are v1's and v8's verbatim (shared
    helpers / identical arguments), so the result is unchanged —
    re-proved against the DuckDB oracle. The persist lives inside the
    query build and follows ``ftm_columnstore_spark.lifecycle``."""
    from ftm_columnstore_spark.lifecycle import persist
    from ftm_columnstore_spark.operators.similarity import ivf_topk_portable

    e = persist(_t(spark, sf_dir, "embeddings"))
    # one job materializes the cache AND fetches the query vector
    # (v8's collect, verbatim)
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    exact = _ann_exact_topk(e).select("vec_id")
    # v8's call, verbatim, over the cached relation
    approx = ivf_topk_portable(
        e.filter(F.col("vec_id") != 0), qvec, k=20, n_centroids=16, n_probe=6
    ).select("vec_id")
    hits = exact.join(approx, on="vec_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return hits.select(
        F.lit(20).cast("long").alias("k"),
        "n_hits",
        F.round(F.col("n_hits") / 20.0, 6).alias("recall"),
    )


def v3_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_columnstore_spark.operators.similarity import lsh_topk_portable

    e = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    return lsh_topk_portable(
        e.filter(F.col("vec_id") != 0), qvec, k=20, num_planes=10, probe_bits=2
    )


# --------------------------------------------------------------------------
# contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: revenue per nation at sf0.001."""
    return j3_join_revenue_nation(spark, SF_DEFAULT)


def j11_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts,
    including zero-order customers — left outer join with the filter in
    the join condition, then two stacked aggregations."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def a14_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small orders — the correlated
    per-part avg-quantity subquery decorrelated into a pre-aggregation
    joined back on the part key. The threshold is derived from a decimal
    sum so the double comparison is bit-identical to the oracle."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    limits = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            0.2
            * F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("qty_limit")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(limits, li.l_partkey == limits.t_partkey)
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            F.round(_dsum(F.col("l_extendedprice")).cast("double") / 7.0, 2).alias(
                "avg_yearly"
            )
        )
    )


def m4_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue view reused twice — per-supplier
    quarter revenue, then an equality join against its own max (scalar
    subquery). Decimal totals make the max comparison exact."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-07-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__total")
    )
    top = rev.agg(F.max("__total").alias("__max"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(top), rev.__total == top.__max)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("__total"), 2).cast("double").alias("total_revenue"),
        )
    )


def j12_supplier_counts_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem as the part↔supplier link — no partsupp
    table at this scale): distinct-supplier counts per (brand, type,
    size), excluding negative-balance suppliers via NOT IN → left-anti
    join."""
    link = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (~F.col("p_type").startswith("MEDIUM"))
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    return (
        link.join(F.broadcast(bad), link.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), link.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def j13_late_sole_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (ship-vs-order date standing in for the missing
    receipt/commit dates): suppliers who were the ONLY late shipper in a
    multi-supplier finalized order — an existential semi-join plus a
    negated-existential anti-join over the same fact table."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    lo = li.join(o, li.l_orderkey == o.o_orderkey)
    is_late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90)

    # Both existentials collapse into per-order conditional aggregation
    # over the joined fact: "another supplier shipped this order" ==
    # >=2 distinct suppliers; "no OTHER supplier was late" == exactly 1
    # distinct late supplier — and when that holds, every late row in
    # the order belongs to that one supplier, so (max late suppkey,
    # count late rows) IS the per-supplier contribution. Distinctness is
    # computed as TWO stacked aggs (pair grain, then order grain), NOT
    # countDistinct: multiple distinct aggregates make Catalyst plan an
    # Expand that triples the fact rows through the shuffle — fine in
    # isolation, but it monopolizes the cores every concurrent query
    # shares. Both agg levels are map-side combinable.
    per_pair = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(is_late, 1).otherwise(0)).alias("__late"),
        F.count(F.when(is_late, F.lit(1))).alias("__lr"),
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("__n_supp"),
        F.sum("__late").alias("__n_late"),
        F.sum("__lr").alias("__late_rows"),
        F.max(F.when(F.col("__late") == 1, F.col("l_suppkey"))).alias(
            "__late_supp"
        ),
    )
    qual = per_order.filter(
        (F.col("__n_supp") >= 2) & (F.col("__n_late") == 1)
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    return (
        qual.join(F.broadcast(s), qual.__late_supp == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.sum("__late_rows").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


def a15_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance and
    no URGENT orders (every synthetic customer has *some* order, so the
    classic no-orders predicate is vacuous here) — global scalar aggregate
    broadcast into the filter, then a left-anti join, grouped by nation."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("__avg")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
    )


def j14_best_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (s_acctbal standing in for the missing
    ps_supplycost): for each BRASS part, the EUROPE supplier(s) with the
    maximum account balance among those who actually shipped it — the
    correlated max decorrelated into a per-part aggregate joined back."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    offers = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            s.select("s_suppkey", "s_name", "s_acctbal"),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "inner",
        )
    )
    best = offers.groupBy(F.col("p_partkey").alias("b_partkey")).agg(
        F.max("s_acctbal").alias("__best")
    )
    return (
        offers.join(
            best,
            (offers.p_partkey == best.b_partkey)
            & (offers.s_acctbal == best.__best),
        )
        .select("p_partkey", "p_name", "s_name", "s_acctbal")
    )


def a16_part_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose revenue exceeds a multiple of the
    mean per-part revenue — HAVING against a broadcast scalar subquery.
    The threshold is relative (1.5× mean) so it stays meaningful at any
    scale factor; decimal sums keep values and threshold exact."""
    li = _t(spark, sf_dir, "lineitem")
    value = _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_part = li.groupBy("l_partkey").agg(value.alias("__value"))
    total = per_part.agg(
        F.sum("__value").alias("__total"), F.count("*").alias("__n")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("__value")
            > 1.5 * F.col("__total").cast("double") / F.col("__n")
        )
        .select(
            "l_partkey",
            F.round(F.col("__value"), 2).cast("double").alias("part_value"),
        )
    )


def t6_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: assignment is a pure function
    of md5(seed || doc_id), reproduced bit-for-bit by the oracle."""
    from ftm_columnstore_spark.operators.sampling import split_by_hash

    docs = _t(spark, sf_dir, "documents")
    return (
        split_by_hash(docs, {"train": 0.8, "val": 0.1, "test": 0.1}, seed="seed")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def t7_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-per-language sample in deterministic hash order
    (WindowGroupLimit: rows beyond k die before the shuffle)."""
    from ftm_columnstore_spark.operators.sampling import stratified_sample_exact

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample_exact(docs, ["lang"], k=10, seed="s").select(
        "doc_id", "lang"
    )


def t8_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle key — the total order every engine
    (and every rerun, on any cluster size) agrees on."""
    from ftm_columnstore_spark.operators.sampling import deterministic_shuffle

    docs = _t(spark, sf_dir, "documents")
    return deterministic_shuffle(docs, num_partitions=8).select(
        "doc_id", F.col("__shuffle_key").alias("shuffle_key")
    )


def d8_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing an 8-word n-gram
    with the held-out set (docs 0-19 standing in for a benchmark)."""
    from ftm_columnstore_spark.operators.sampling import ngram_overlap

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    corpus = docs.filter(F.col("doc_id") >= 20)
    return ngram_overlap(corpus, bench, n=8)


def a17_regional_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: EUROPE suppliers' share of total revenue per
    order year — conditional aggregate over a snowflake join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    sn = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "r_name")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    eu = F.when(F.col("r_name") == "EUROPE", rev).otherwise(0.0)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                _dsum(eu).cast("double") / _dsum(rev).cast("double"), 6
            ).alias("eu_share")
        )
    )


def a18_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (10% of retail price standing in for the missing
    ps_supplycost): profit per supplier nation per order year."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - (
        F.col("p_retailprice") * F.lit(0.1) * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(_dsum(profit), 2).cast("double").alias("profit"))
    )


def j15_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (lineitem as the part↔supplier link): suppliers
    shipping > 20% of some part's total volume (the synthetic data
    spreads parts evenly over ~100 suppliers, so the classic 50% bar is
    never met) — nested aggregate (per-pair vs per-part sums) feeding a
    semi-join on the supplier."""
    li = _t(spark, sf_dir, "lineitem")
    per_pair = li.groupBy("l_partkey", "l_suppkey").agg(
        _dsum(F.col("l_quantity")).alias("__pair_qty")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        _dsum(F.col("l_quantity")).alias("__part_qty")
    )
    dominant = (
        per_pair.join(per_part, per_pair.l_partkey == per_part.t_partkey)
        .filter(
            F.col("__pair_qty").cast("double")
            > 0.2 * F.col("__part_qty").cast("double")
        )
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    return s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


def t10_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture re-weighting: per-source keep rates decided
    by md5 hash alone — reproduced exactly by the oracle."""
    from ftm_columnstore_spark.operators.sampling import sample_mixture

    docs = _t(spark, sf_dir, "documents")
    out = sample_mixture(
        docs,
        {"src0": 0.25, "src1": 0.5, "src2": 0.0},
        stratum_col="source",
        seed="mix",
        default_rate=0.75,
    )
    return out.groupBy("source").agg(F.count(F.lit(1)).alias("n"))


def w3_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each error event matched to the same user's latest
    click at or before it — union + carry-forward window (one shuffle,
    no range-join explosion). Oracle: DuckDB's native ASOF JOIN, an
    entirely independent implementation of the same semantics."""
    from ftm_columnstore_spark.operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        errors, clicks, on="user_id", right_cols=["event_id", "value"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("event_id_right").alias("prior_click_id"),
        F.round("value_right", 2).alias("prior_click_value"),
    )


def w5_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-completion event funnel (operators/temporal.py:funnel —
    the ClickHouse windowFunnel staple): view → click → purchase per
    user, each step strictly after the previous and within 24h of the
    first view; depth = steps completed."""
    from ftm_columnstore_spark.operators.temporal import funnel

    ev = _t(spark, sf_dir, "events")
    out = funnel(ev, ["view", "click", "purchase"], window_seconds=86400)
    # epoch micros: timestamp dtypes differ across engines (ns vs us)
    return out.select(
        F.col("user").alias("user_id"),
        F.unix_micros(F.col("t1").cast("timestamp")).alias("t1_us"),
        F.unix_micros(F.col("t2").cast("timestamp")).alias("t2_us"),
        F.unix_micros(F.col("t3").cast("timestamp")).alias("t3_us"),
        "depth",
    )


def w6_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (operators/temporal.py:retention): users
    cohorted by first active day; members active again exactly 1 and 7
    days later, per cohort. Conditional sums over distinct (user, day)
    rows — no multi-countDistinct Expand."""
    from ftm_columnstore_spark.operators.temporal import retention

    ev = _t(spark, sf_dir, "events")
    return retention(ev, offsets=[1, 7]).select(
        "cohort",
        "n_users",
        F.col("d1").cast("long").alias("d1"),
        F.col("d7").cast("long").alias("d7"),
    )


def w7_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-timeout sessionization (operators/temporal.py:
    sessionize) — the backfill analogue of st3's streaming
    session_window: one per-user window pass + one grouped agg, 30-min
    gap. Timestamps exported as epoch micros (portable dtype)."""
    from ftm_columnstore_spark.operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, gap_seconds=1800)
    return s.select(
        F.col("user").alias("user_id"),
        F.col("session_no").cast("long").alias("session_no"),
        F.unix_micros(F.col("t_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("t_end").cast("timestamp")).alias("end_us"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round("duration_s", 6).alias("duration_s"),
    )


def w8_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix (operators/temporal.py:
    transitions): per-user consecutive event pairs counted corpus-wide
    with the empirical Markov probability per from-state."""
    from ftm_columnstore_spark.operators.temporal import transitions

    ev = _t(spark, sf_dir, "events")
    return transitions(ev)


def w4_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band/interval join: clicks within the 10 minutes before each error
    by the same user, reduced to a (prior_clicks → n_errors) histogram.
    Spark side uses the bucketed band join (pair expansion bucket-local,
    not per-key quadratic); oracle is a plain interval LEFT JOIN."""
    from ftm_columnstore_spark.operators.temporal import band_join

    ev = _events(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    pairs = band_join(
        errors, clicks, on="user_id", left_ts="ts", right_ts="cts",
        lower=-600, upper=0, right_cols=["cid"],
    )
    counts = pairs.groupBy("event_id").agg(
        F.count("cid_right").alias("prior_clicks")
    )
    per_error = errors.join(counts, "event_id", "left").select(
        F.coalesce("prior_clicks", F.lit(0)).alias("prior_clicks")
    )
    return per_error.groupBy("prior_clicks").agg(
        F.count(F.lit(1)).alias("n_errors")
    )


def a19_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (median / p90 order value per priority) —
    Spark's exact `percentile` vs DuckDB `quantile_cont`, both linear
    interpolation. The scale path for sketched quantiles is
    `percentile_approx` (t-digest-style mergeable state, one pass)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("median_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def m5_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time rollup: events per (event_type, day) with
    ROLLUP subtotals per type and a grand total — the multi-granularity
    continuous-aggregate shape, one pass, partial aggs map-side."""
    ev = _events(spark, sf_dir)
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    return (
        ev.withColumn("day", day)
        .rollup("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(_dsum(F.col("value")), 2).cast("double").alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.coalesce("day", F.lit("(all)")).alias("day"),
            "n_events",
            "total_value",
        )
    )


def d9_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition filter: documents whose
    duplicate-trigram fraction exceeds 2% — a zero-shuffle Arrow pass
    computing per-doc n-gram counts, fractions as plain columns."""
    from ftm_columnstore_spark.operators.text import repetition_stats

    d = _t(spark, sf_dir, "documents")
    stats = repetition_stats(d, ngram_n=3)
    dup_frac = F.round(
        1 - F.col("n_distinct") / F.col("n_grams").cast("double"), 6
    )
    return (
        stats.select(
            F.col("id").alias("doc_id"),
            "n_grams",
            dup_frac.alias("dup_frac"),
        )
        .filter(F.col("dup_frac") > 0.02)
    )


def t9_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/sampling.py:pack_sequences,
    best-fit-decreasing per hash partition). The bin ASSIGNMENT is a
    per-partition stateful pass (non-SQL), so the entry emits the
    operator's SQL-checkable INVARIANTS instead of raw labels: every
    document packed exactly once (n_rows = n_docs = |documents|), the
    exact clamped total size (a real cross-engine value), and three
    booleans the oracle asserts as literal TRUE — max bin fill ≤
    budget, bin count ≥ the ceil(total/budget) lower bound, bin count
    ≤ doc count. A packer bug flips a boolean (or a count) and breaks
    the hash match; a correct packer matches bit-for-bit. (VERDICT r3
    item 1c — replaces the permanently rows-only label dump; the
    labels themselves stay pinned by tests/test_sampling.py.)"""
    from ftm_columnstore_spark.operators.sampling import pack_sequences

    budget = 4096
    docs = _t(spark, sf_dir, "documents")
    packed = pack_sequences(docs, budget=budget, size_col="n_chars")
    clamped = F.least(F.col("n_chars"), F.lit(budget)).cast("long")
    bins = packed.groupBy("seq_id").agg(F.sum(clamped).alias("__fill"))
    stats = packed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum(clamped).alias("total_size"),
        F.countDistinct("seq_id").alias("__n_bins"),
    )
    fill = bins.agg(F.max("__fill").alias("__max_fill"))
    lb = F.floor(
        (F.col("total_size") + F.lit(budget - 1)) / F.lit(budget)
    ).cast("long")
    return (
        stats.crossJoin(fill)
        .select(
            "n_rows",
            "n_docs",
            "total_size",
            (F.col("__max_fill") <= budget).alias("fill_le_budget"),
            (F.col("__n_bins") >= lb).alias("n_bins_ge_lb"),
            (F.col("__n_bins") <= F.col("n_docs")).alias("n_bins_le_docs"),
        )
    )


def a20_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status): all four grouping-set combinations
    in ONE pass (Expand + single hash aggregation — the multi-granularity
    report shape; partial aggs stay map-side combinable)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(_dsum(F.col("o_totalprice")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            "n_orders",
            "total_price",
        )
    )


def t13_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data PII scrub: detect + redact emails / IPv4s /
    card-like digit runs (operators/text.py:pii_stats — map-only codegen
    regex pass, RE2-compatible patterns). The synthetic corpus carries no
    natural PII, so deterministic PII derived from doc_id is injected
    identically here and in the oracle, making detection counts and the
    redacted length exact cross-engine."""
    from ftm_columnstore_spark.operators.text import pii_stats

    d = _t(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com node 10.1."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".7"),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit(" card 4111222233334444")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_stats(injected).select(
        F.col("id").alias("doc_id"),
        "n_emails",
        "n_ipv4",
        "n_cards",
        F.length("redacted").cast("long").alias("redacted_len"),
    )


def t14_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (operators/text.py:winnow_fingerprints
    — Schleimer et al. SIGMOD'03): per-document selected k-gram hash set
    via rolling window-min; guarantees detection of any shared token run
    >= window + k - 1. Engine-portable md5-60bit gram hash, all codegen,
    one shuffle on doc id."""
    from ftm_columnstore_spark.operators.text import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(d, k=4, window=4).select(
        F.col("id").alias("doc_id"), "fp"
    )


def d10_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-overlap pairs via shared winnowing fingerprints
    (operators/text.py:winnow_overlap_pairs) — the MOSS match step that
    catches partial/quoted overlap whole-document MinHash misses. Hot
    fingerprints capped at max_df=50 before the self-join (inverted-index
    stopword cap; bounds pair fan-out at corpus scale)."""
    from ftm_columnstore_spark.operators.text import winnow_overlap_pairs

    d = _t(spark, sf_dir, "documents")
    return winnow_overlap_pairs(
        d, k=4, window=4, min_shared=2, max_df=50
    ).select("left_id", "right_id", "n_shared")


def d11_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet line-level corpus dedup (operators/dedup.py:line_dedup):
    drop every occurrence of a line except the globally-first one, then
    reassemble documents. The synthetic corpus has no newlines, so lines
    are synthesized identically here and in the oracle by chunking the
    token stream into 2-token lines — the small vocabulary makes
    cross-document duplicate lines abundant, exercising the dedup path
    hard. Output keeps the cleaned text as an md5 so compare payloads
    stay small."""
    from ftm_columnstore_spark.functions.text import word_tokens_col
    from ftm_columnstore_spark.operators.dedup import line_dedup

    d = _t(spark, sf_dir, "documents")
    toks = word_tokens_col("text")
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0), F.greatest(F.ceil(n / F.lit(2.0)).cast("int") - 1, F.lit(0))
    )
    lined = d.select(
        "doc_id",
        F.array_join(
            F.transform(
                starts, lambda i: F.array_join(F.slice(toks, i * 2 + 1, 2), " ")
            ),
            "\n",
        ).alias("text"),
    )
    return line_dedup(lined).select(
        F.col("id").alias("doc_id"),
        "n_lines",
        "n_kept",
        F.md5("text").alias("clean_md5"),
    )


def d13_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-keep-best pipeline (operators/dedup.py:
    dedup_keep_best): d7's chain components + per-doc quality
    (n_chars) → the richest member of each duplicate cluster wins
    (ties → min id). Oracle: recursive-CTE reachability + two grouped
    argmax passes."""
    from ftm_columnstore_spark.operators.blocking import connected_components
    from ftm_columnstore_spark.operators.dedup import dedup_keep_best

    d = _t(spark, sf_dir, "documents")
    a, b = d.alias("a"), d.alias("b")
    edges = a.join(
        b,
        on=[
            F.col("b.doc_id") == F.col("a.doc_id") + 1,
            F.col("a.lang") == F.col("b.lang"),
        ],
    ).select(
        F.col("a.doc_id").alias("left_id"), F.col("b.doc_id").alias("right_id")
    )
    # same run-edge construction as d7: distinct, self-loop-free
    cmap = connected_components(edges, edges_deduped=True).select(
        F.col("entity_id").cast("long").alias("doc_id"),
        F.col("canonical_id").cast("long").alias("canonical"),
    )
    scores = d.select(
        "doc_id", F.col("n_chars").cast("double").alias("score")
    )
    return dedup_keep_best(
        cmap, scores, id_col="doc_id", canonical_col="canonical"
    ).select(
        F.col("canonical").alias("canonical_doc"),
        "keep_id",
        "n_members",
        "best_score",
    )


def d14_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span-level dedup (operators/dedup.py:
    exact_substring_dedup — Lee et al. 2022): every duplicated run of
    >= 8 tokens is cut from all occurrences except the globally-first
    one, documents reassembled from the surviving tokens. Oracle:
    identical k-gram windows + gaps-and-islands span merge in SQL.
    Output keeps the cleaned text as an md5 so compare payloads stay
    small."""
    from ftm_columnstore_spark.operators.dedup import exact_substring_dedup

    d = _t(spark, sf_dir, "documents")
    return exact_substring_dedup(d, k=8).select(
        F.col("id").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
        F.md5("text").alias("clean_md5"),
    )


def d15_cross_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ExactSubstr (operators/dedup.py:
    exact_substring_dedup_cross): documents >= 250 arrive as a new
    batch and lose every >= 8-token run already present in the indexed
    corpus (doc_id < 250) or duplicated within the batch — the
    ingest-time span cut probing a reusable corpus gram index."""
    from ftm_columnstore_spark.operators.dedup import (
        exact_substring_dedup_cross,
    )

    d = _t(spark, sf_dir, "documents")
    return exact_substring_dedup_cross(
        d.where(F.col("doc_id") >= 250),
        corpus=d.where(F.col("doc_id") < 250),
        k=8,
    ).select(
        F.col("id").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
        F.md5("text").alias("clean_md5"),
    )


def t16_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional deterministic sampling
    (operators/sampling.py:weighted_sample): keep probability scales
    with document length (n_chars/500 clamped to [0,1]), decided by the
    engine-portable md5 uniform — zero shuffles, retry-stable."""
    from ftm_columnstore_spark.operators.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents").withColumn(
        "w", F.col("n_chars") / F.lit(500.0)
    )
    return weighted_sample(d, "w", rate=1.0, seed="t16").select(
        "doc_id", F.round("w", 6).alias("w")
    )


def j16_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (operators/graph.py:pagerank) over the
    undirected customer↔supplier trade graph (orders⋈lineitem edges) —
    network centrality, 3 unrolled iterations so the DuckDB oracle can
    replay the identical arithmetic without recursion."""
    from ftm_columnstore_spark.operators.graph import pagerank

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c-"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s-"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
    )
    und = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank(und, iterations=3, damping=0.85)
    return pr.select("id", F.round("rank", 6).alias("rank"))


def j17_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered triangle counting (operators/graph.py:
    triangle_count — Suri & Vassilvitskii WWW'11) over the part
    co-purchase graph of one order month: parts are linked when they
    appear in the same order; per-part triangle count + local
    clustering coefficient. The oracle replays the naive a<b<c
    three-way join — orientation changes the plan, never the
    triangles."""
    from ftm_columnstore_spark.operators.graph import triangle_count

    return triangle_count(_copurchase_edges(spark, sf_dir))


def j20_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the part co-purchase graph (operators/graph.py:k_core
    — Seidman 1983): iterative degree-< k peel to the unique fixpoint,
    one shuffle + localCheckpoint per round (the pagerank discipline).
    Peeling is confluent, so the oracle's UNROLLED 16-round SQL replay
    (the v11 pattern) matches exactly — measured convergence is ≤ 5
    rounds at both driver SFs, and ``max_iter=16`` makes the engine
    RAISE past the oracle's unroll depth rather than let a correct
    deeper answer hash-mismatch a too-shallow replay."""
    from ftm_columnstore_spark.operators.graph import k_core

    e = _copurchase_edges(spark, sf_dir)
    return k_core(e, k=4, max_iter=16).orderBy("id")


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared part co-purchase edge relation (one order month) —
    used by j17 (triangles) and j20 (k-core)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    items = (
        o.where(
            (F.col("o_orderdate") >= "1995-03-01")
            & (F.col("o_orderdate") <= "1995-03-31")
        )
        .join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_orderkey").alias("ok"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    a = items.select("ok", F.col("p").alias("pa"))
    b = items.select("ok", F.col("p").alias("pb"))
    return (
        a.join(b, on="ok")
        .where(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )


def t15_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gate (operators/text.py:quality_gate):
    token-count / word-length / alnum-ratio / stopword / repetition
    rules composed into one keep verdict per document; thresholds tuned
    so the synthetic corpus yields a genuine keep/drop mix."""
    from ftm_columnstore_spark.operators.text import quality_gate

    d = _t(spark, sf_dir, "documents")
    return quality_gate(
        d, min_tokens=32, min_stopwords=1, max_dup_ngram_frac=0.05
    ).select(
        F.col("id").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_word_len",
        "alnum_ratio",
        F.col("n_stopwords").cast("long").alias("n_stopwords"),
        "dup_frac",
        "keep",
    )


def d12_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a 'new batch' (source src0) against the rest
    of the corpus (operators/dedup.py:minhash_lsh_pairs_cross): banded
    MinHash join between two distinct sets — no within-set pairs."""
    from ftm_columnstore_spark.operators.dedup import (
        minhash_lsh_pairs_cross,
        minhash_signature,
    )

    d = _t(spark, sf_dir, "documents")
    new = d.where(F.col("source") == "src0")
    corpus = d.where(F.col("source") != "src0")
    new_sigs = minhash_signature(new, num_hashes=32, shingle_k=3)
    corpus_sigs = minhash_signature(corpus, num_hashes=32, shingle_k=3)
    return minhash_lsh_pairs_cross(new_sigs, corpus_sigs, num_bands=8)


def v9_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/dedup.py:semantic_dedup_portable): fixed-
    centroid clustering + within-cluster cosine pruning. The synthetic
    embeddings carry no planted semantic dups (max pairwise cosine
    ≈ 0.5), so the demo threshold sits below that to keep the oracle
    check non-vacuous — same convention as v4."""
    from ftm_columnstore_spark.operators.dedup import semantic_dedup_portable

    e = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_portable(e, n_centroids=16, threshold=0.3)


def m6_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline, REAL decode end-to-end — NON-SQL (binary
    codecs), rows-only check: synthesize a deterministic BMP per document
    (pixels derived from doc_id), run the Arrow-batched mapInPandas
    feature extractor (operators/multimodal.py) with ``fake=False`` so
    every payload is actually decoded, and return rounded feature
    components. Decode dispatch is environment-conditional: where
    Pillow is importable, decode_image routes these payloads through
    PIL; otherwise the dependency-free BMP codec decodes them — BMP is
    lossless, so the features (and this entry's rows) are identical
    either way (equivalence pinned by
    tests/test_codecs.py::test_decode_image_pil_path_matches_bmp_codec)."""
    import numpy as np
    import pandas as pd

    from ftm_columnstore_spark.operators.codecs import encode_bmp
    from ftm_columnstore_spark.operators.multimodal import extract_features

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 64)
    )

    def gen(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                s = int(did)
                y, x = np.mgrid[0:8, 0:8]
                img = np.stack(
                    [
                        (x * (s % 17 + 1) + 3) % 256,
                        (y * 7 + s) % 256,
                        (x + y + s * 5) % 256,
                    ],
                    axis=-1,
                ).astype(np.uint8)
                payloads.append(encode_bmp(img))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(gen, "media_id long, payload binary")
    feats = extract_features(media, dim=16, fake=False)
    return feats.select(
        "media_id",
        F.round(F.element_at("features", 1).cast("double"), 6).alias("mean_r"),
        F.round(F.element_at("features", 2).cast("double"), 6).alias("mean_g"),
        F.round(F.element_at("features", 3).cast("double"), 6).alias("mean_b"),
    )


def m7_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio path, REAL decode end-to-end: synthesize a deterministic
    int16-PCM WAV per document (samples = (i*k) % 2048 - 1024 with
    k = doc_id % 13 + 1, N = 64 + doc_id % 5 * 16 samples), run the
    mapInPandas frame sampler (operators/multimodal.py:sample_frames,
    fake=False → stdlib wave decode + re-encode per chunk), then decode
    each frame back and report its sample count and PCM sum. The oracle
    replays the linspace split bounds (exact: i*N/4 divides a power of
    two) and the PCM arithmetic in SQL — a value match checks the whole
    WAV encode→split→re-encode→decode chain."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ftm_columnstore_spark.operators import codecs
    from ftm_columnstore_spark.operators.multimodal import sample_frames

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 48)
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                s = int(did)
                k = s % 13 + 1
                n = 64 + (s % 5) * 16
                pcm = (np.arange(n) * k) % 2048 - 1024
                payloads.append(codecs.encode_wav(pcm, 8000))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(gen, "media_id long, payload binary")
    frames = sample_frames(media, n_frames=4, fake=False)

    def stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ns, sums = [], []
            for fr in pdf["frame"]:
                arr, _rate = codecs.decode_wav(bytes(fr))
                ns.append(len(arr))
                sums.append(int(arr.astype(np.int64).sum()))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_no": pdf["frame_no"],
                    "n_samples": pd.Series(ns, dtype="int64"),
                    "pcm_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return frames.mapInPandas(
        stats,
        "media_id long, frame_no int, n_samples long, pcm_sum long",
    ).withColumn("frame_no", F.col("frame_no").cast("long"))


def m8_resize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE path, real decode end-to-end: m6's deterministic
    8×8 BMPs run resize_images (mapInPandas, nearest-neighbour numpy
    over real BMP bytes) down to 4×4, then the feature extractor
    decodes the RESIZED payload. Nearest-neighbour at 8→4 picks pixels
    (2y, 2x), so the oracle replays the channel means over that exact
    subgrid — a value match checks decode → resize → re-encode →
    decode."""
    import numpy as np
    import pandas as pd

    from ftm_columnstore_spark.operators.codecs import encode_bmp
    from ftm_columnstore_spark.operators.multimodal import (
        attach_meta,
        extract_features,
        resize_images,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 48)
    )

    def gen(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                s = int(did)
                y, x = np.mgrid[0:8, 0:8]
                img = np.stack(
                    [
                        (x * (s % 17 + 1) + 3) % 256,
                        (y * 7 + s) % 256,
                        (x + y + s * 5) % 256,
                    ],
                    axis=-1,
                ).astype(np.uint8)
                payloads.append(encode_bmp(img))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = attach_meta(
        docs.mapInPandas(gen, "media_id long, payload binary"),
        mime="image/bmp",
    )
    # nearest=True: pins the numpy resampler so the oracle's (2y, 2x)
    # subgrid replay holds whether or not Pillow is installed
    resized = resize_images(media, width=4, height=4, fake=False,
                            nearest=True)
    feats = extract_features(resized, dim=16, fake=False)
    return feats.select(
        "media_id",
        F.round(F.element_at("features", 1).cast("double"), 6).alias("mean_r"),
        F.round(F.element_at("features", 2).cast("double"), 6).alias("mean_g"),
        F.round(F.element_at("features", 3).cast("double"), 6).alias("mean_b"),
    )


def m10_image_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup pairs
    (operators/multimodal.py:image_ahash/image_dup_pairs): synthetic
    deterministic 8×8 BMPs (same pixel formulas as m8, seeded by
    doc_id % 24 so ids 24 apart are IDENTICAL images) → exact-integer
    aHash through the REAL BMP codec roundtrip → the SimHash pigeonhole
    pairing. The oracle recomputes the pixel formulas, hash bits and
    all-pairs Hamming in SQL (pigeonhole recall is exact below the
    band count, so all-pairs == banded)."""
    import numpy as np
    import pandas as pd

    from ftm_columnstore_spark.operators.codecs import encode_bmp
    from ftm_columnstore_spark.operators.multimodal import image_dup_pairs

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 48)
    )

    def gen(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                s = int(did) % 24
                y, x = np.mgrid[0:8, 0:8]
                img = np.stack(
                    [
                        (x * (s % 17 + 1) + 3) % 256,
                        (y * 7 + s) % 256,
                        (x + y + s * 5) % 256,
                    ],
                    axis=-1,
                ).astype(np.uint8)
                payloads.append(encode_bmp(img))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(gen, "media_id long, payload binary")
    return image_dup_pairs(media, max_hamming=3)


def m11_audio_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs
    (operators/multimodal.py:audio_ahash/audio_dup_pairs): synthetic
    deterministic 128-sample WAVs (PCM formula seeded by doc_id % 24 →
    ids 24 apart are identical clips) → exact-integer energy-signature
    hash through the REAL WAV codec roundtrip → the shared pigeonhole
    pairing. Oracle replays PCM formulas, frame energies, hash bits
    and all-pairs Hamming in SQL."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ftm_columnstore_spark.operators import codecs
    from ftm_columnstore_spark.operators.multimodal import audio_dup_pairs

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 48)
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                s = int(did) % 24
                k = s % 13 + 1
                pcm = (np.arange(128) * k) % 2048 - 1024
                payloads.append(codecs.encode_wav(pcm, 8000))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(gen, "media_id long, payload binary")
    return audio_dup_pairs(media, max_hamming=3)


def m9_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving average over the daily per-type event
    value — the classic time-series smoothing window, as a RANGE frame
    over the PRE-AGGREGATED daily relation (|types| × |days| rows, so
    the window input is tiny by construction at any event volume; the
    heavy lifting is the map-side-combinable daily rollup)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("total"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("day").cast("timestamp").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "total",
        F.round(F.avg("total").over(w), 6).alias("ma7"),
    )


def j18_edit1_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-neighborhood fuzzy join (operators/blocking.py:
    edit1_pairs — FastSS/SymSpell): customer-name pairs within edit
    distance 1, candidates from an equi-join on {self} ∪ {one-char
    deletions}, never all-pairs; exact levenshtein verify JVM-side."""
    from ftm_columnstore_spark.operators.blocking import edit1_pairs

    c = _t(spark, sf_dir, "customer")
    return edit1_pairs(c, col="c_name", id_col="c_custkey").select(
        "left_id",
        "right_id",
        "left_val",
        "right_val",
        F.col("dist").cast("long").alias("dist"),
    )


def t19_pack_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable sequence packing (operators/sampling.py:
    pack_sequences_portable): md5-bucketed next-fit-decreasing at a
    256-token budget — the previously rows-only packing family member
    in auditable form (the oracle replays the sequential fill with a
    recursive CTE)."""
    from ftm_columnstore_spark.functions.text import word_tokens_col
    from ftm_columnstore_spark.operators.sampling import (
        pack_sequences_portable,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(word_tokens_col("text")).alias("n_tokens")
    )
    return pack_sequences_portable(d, budget=256, n_buckets=8).select(
        F.col("id").alias("doc_id"),
        F.col("size").alias("n_tokens"),
        "bucket",
        "bin_no",
        "bin_fill",
    )


def a21_data_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality gate (operators/validation.py:
    check_report): declarative constraints over the documents table
    compiled into one aggregation pass + a distinct-count for
    uniqueness; output is the audit report relation."""
    from ftm_columnstore_spark.operators.validation import check_report

    d = _t(spark, sf_dir, "documents")
    return check_report(
        d,
        not_null=["text", "lang"],
        unique=["doc_id"],
        # zh deliberately excluded: the report must SHOW a failing
        # check (observed violation rate, passed=false), not hide it
        accepted_values={"lang": ["en", "de", "fr", "es"]},
        ranges={"n_chars": (0, 100_000)},
        min_rows=10,
    )


def t25_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/retrieval.py:bm25_topk): one
    corpus scan — per-doc length and per-query-term tfs ride a single
    groupBy(id); df/N/avgdl reduce that narrow relation and broadcast
    back; top-k is TakeOrderedAndProject. Scores sum per-term
    contributions in fixed literal order, so the doubles are
    bit-stable; order is (rounded score DESC, id) — total."""
    from ftm_columnstore_spark.operators.retrieval import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"),
        ["hash", "join", "scan"],
        top=25,
    ).select(F.col("id").alias("doc_id"), "score")


def t26_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary learning (operators/bpe.py:learn_bpe):
    trains on the (distinct word, count) relation — vocabulary-bounded,
    the corpus is scanned once; each of the 12 rounds is one groupBy
    over the vocab + a ONE-row argmax collect + a literal-replace
    projection. Brace-encoded symbols make merge application a plain
    string replace whose left-to-right non-overlap IS BPE's greedy
    order; the oracle unrolls the identical 12 rounds in SQL."""
    from ftm_columnstore_spark.operators.bpe import learn_bpe

    return learn_bpe(_t(spark, sf_dir, "documents"), n_merges=12)


def t27_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword tokenization under the learned merge table
    (operators/bpe.py:bpe_token_counts): the 12-merge chain from t26
    applied as one codegen replace-chain over the distinct-word
    relation, counts weighted by word frequency — corpus scanned once,
    top-50 via TakeOrderedAndProject (cnt DESC, token ASC)."""
    from ftm_columnstore_spark.operators.bpe import (
        bpe_token_counts,
        learn_bpe,
    )

    d = _t(spark, sf_dir, "documents")
    merges = learn_bpe(d, n_merges=12)
    return bpe_token_counts(d, merges, top=50)


def t28_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed mixture sampling (operators/sampling.py:
    mixture_by_temperature, alpha=0.5 — the XLM-R multilingual
    smoothing): per-source keep rates n_s^0.5-proportional, decided by
    the house md5-threshold contract; stratum counts are ONE bounded
    driver collect. alpha=0.5 rides sqrt (correctly-rounded IEEE), so
    the oracle reproduces the rates bit-for-bit."""
    from ftm_columnstore_spark.operators.sampling import (
        mixture_by_temperature,
    )

    kept = mixture_by_temperature(
        _t(spark, sf_dir, "documents"), alpha=0.5, seed="tmix"
    )
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n"))


def v15_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup cluster labels (operators/dedup.py:
    embedding_clusters): v4's exact-integer LSH pairs at cosine ≥ 0.40
    → large-star/small-star CC → every vector labeled (singletons keep
    their own id). Oracle: the v4 pair SQL + recursive reachability
    (d16 pattern) LEFT JOINed back to embeddings."""
    from ftm_columnstore_spark.operators.dedup import embedding_clusters

    return embedding_clusters(
        _t(spark, sf_dir, "embeddings"), min_cosine=0.40, num_planes=4
    )


def v16_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-50 (t25's query bag) ⊕ brute-cosine
    ANN top-50 (v1's query vector), fused by reciprocal-rank (RRF,
    k0=60 — operators/retrieval.py:rrf_fuse). Rank-based fusion never
    compares the two systems' score scales; both inputs are bounded
    top-k relations, so the fuse is a full-outer join over ≤50-row
    sides. Oracle composes the t25 and v1 SQL with the same fusion."""
    from ftm_columnstore_spark.functions.vectors import (
        cosine_similarity_col,
    )
    from ftm_columnstore_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
        with_rank,
    )

    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    bm = bm25_topk(d, ["hash", "join", "scan"], top=50)
    bmr = with_rank(
        bm, F.col("score").desc(), F.col("id"), expected_max_rows=50
    )
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    ann = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("id"),
            F.round(
                cosine_similarity_col(F.col("embedding"), F.col("qv")), 6
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("id"))
        .limit(50)
    )
    annr = with_rank(
        ann, F.col("cosine").desc(), F.col("id"), expected_max_rows=50
    )
    fused = rrf_fuse(
        [bmr.select("id", "rank"), annr.select("id", "rank")],
        k0=60,
        top=25,
    )
    return fused.select(F.col("id").alias("doc_id"), "rrf")


def t29_bm25_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query BM25 in one corpus pass (operators/retrieval.py:
    bm25_topk_multi — the retrieval counterpart of v14's multi-query
    ADC scan): per-doc stats for the UNION of all query bags ride one
    tokenize+groupBy, each query then scores as a projection over the
    checkpointed relation with its own top-k. The oracle recomputes the
    shared pass per branch — equivalence is on VALUES, the engine pays
    the corpus once."""
    from ftm_columnstore_spark.operators.retrieval import bm25_topk_multi

    return bm25_topk_multi(
        _t(spark, sf_dir, "documents"),
        {"q_exec": ["hash", "join"], "q_scan": ["scan", "table"],
         "q_agg": ["agg", "key", "row"]},
        top=10,
    ).select("query_id", F.col("id").alias("doc_id"), "score")


def t30_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination via a portable Bloom sketch
    (operators/sketches.py:bloom_ngram_decontaminate): every 97th
    document plays the benchmark set; its word 3-grams collapse into an
    8 Kbit broadcast filter and the rest of the corpus probes map-side
    — the scale path next to d8's exact n-gram join when the bench set
    is too large to shuffle. No false negatives (a clean doc is exactly
    clean); hits bounded by the fp rate, which the oracle reproduces
    bit-for-bit (same md5 bit positions)."""
    from ftm_columnstore_spark.operators.sketches import (
        bloom_ngram_decontaminate,
    )

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 97 == 0)
    corpus = d.where(F.col("doc_id") % 97 != 0)
    return bloom_ngram_decontaminate(
        corpus, bench, n=3, m_bits=1 << 13, k=2
    ).select(F.col("id").alias("doc_id"), "n_grams", "n_hits", "hit_rate")


def t31_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility report (operators/bpe.py:bpe_fertility):
    tokens/word and chars/token under the t26 merge table, computed on
    the occurrence-weighted distinct-word relation — one corpus scan,
    all-integer aggregates, two IEEE divisions. Oracle unrolls the same
    12 merge rounds (the _bpe_oracle machinery) and reduces v12."""
    from ftm_columnstore_spark.operators.bpe import bpe_fertility, learn_bpe

    d = _t(spark, sf_dir, "documents")
    return bpe_fertility(d, learn_bpe(d, n_merges=12))


def t32_zipf_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf exponent via Hill's estimator over the top-500
    token frequencies (operators/text.py:zipf_alpha) — the one-number
    natural-language sanity check. Per-term ln rounded to 12 dp and
    summed as DECIMAL so the float sum is partition-order-independent
    (the _dsum rule); the top-500 cut is a TakeOrderedAndProject by
    (cnt DESC, token)."""
    from ftm_columnstore_spark.operators.text import zipf_alpha

    return zipf_alpha(_t(spark, sf_dir, "documents"), top_n=500)


def t33_quality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality pruning (operators/sampling.py:
    top_fraction_by_stratum — the C4/FineWeb-style 'top X% per domain'
    cut): keep the top 20% of each source by (n_chars DESC, doc_id) —
    rank ties impossible, so the kept set is exact. One
    Window.partitionBy(source) shuffle, the w2 shape; oracle replays
    the identical percent_rank window."""
    from ftm_columnstore_spark.operators.sampling import (
        top_fraction_by_stratum,
    )

    d = _t(spark, sf_dir, "documents")
    return top_fraction_by_stratum(
        d, 0.2, score_col="n_chars", stratum_col="source", id_col="doc_id"
    ).select("doc_id", "source", "n_chars")


def v17_kmv_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary overlap between two corpus halves from KMV sketches
    (operators/sketches.py:kmv_sketch/kmv_jaccard — Beyer+ SIGMOD'07):
    each half's token set collapses to its 512 smallest md5-60bit
    hashes (TakeOrderedAndProject over a distinct), the union's
    k-minima estimate Jaccard / union / intersection sizes. Every
    post-sketch relation is ≤ k rows; the oracle replays the identical
    ORDER BY hash LIMIT k cut and estimator arithmetic."""
    from ftm_columnstore_spark.functions.text import word_tokens_col
    from ftm_columnstore_spark.operators.sketches import (
        kmv_jaccard,
        kmv_sketch,
    )

    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = d.select(
        "doc_id", F.explode(word_tokens_col("text")).alias("token")
    )
    a = kmv_sketch(toks.where(F.col("doc_id") % 2 == 0), "token", k=512)
    b = kmv_sketch(toks.where(F.col("doc_id") % 2 == 1), "token", k=512)
    return kmv_jaccard(a, b, k=512)


def a27_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile read-off from the mergeable log2 histogram
    (operators/sketches.py:log2_histogram/log2_histogram_quantile —
    the integer-exact DDSketch-gamma=2 of Masson+ VLDB'19): per-lang
    n_chars histograms (bucket = bit length via length(bin(x)), no
    float log), then p50/p90/p99 buckets with exact power-of-two value
    bounds. The sketch is ≤66 rows per lang, so the cumsum window and
    probs cross-join are trivial; the one real job is the build scan.
    Oracle replays bucket, cumsum and the cum/n >= p pick rule."""
    from ftm_columnstore_spark.operators.sketches import (
        log2_histogram,
        log2_histogram_quantile,
    )

    d = _t(spark, sf_dir, "documents")
    hist = log2_histogram(d, "n_chars", group_by=["lang"])
    return log2_histogram_quantile(
        hist, [0.5, 0.9, 0.99], group_by=["lang"]
    )


def a28_moments_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/variance/skewness per source from the exact power-sum
    moments sketch (operators/sketches.py:moments_sketch/moments_stats
    — the integer spine of Gan+ VLDB'18): one map-side-combinable
    aggregation carries (count, Σx, Σx², Σx³) as DECIMAL(38,0); stats
    are derived with exact decimal products and only final
    correctly-rounded divisions + one sqrt, rounded 6 dp. Oracle
    mirrors with HUGEINT power sums and identical double tail."""
    from ftm_columnstore_spark.operators.sketches import (
        moments_sketch,
        moments_stats,
    )

    d = _t(spark, sf_dir, "documents")
    return moments_stats(
        moments_sketch(d, "n_chars", group_by=["source"])
    ).orderBy("source")


def t34_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact consecutive-phrase search via a positional inverted index
    (operators/retrieval.py:positional_index/phrase_match — Manning+
    IIR §2.4; the indexed sibling of the reference's ILIKE substring
    scan): docs containing "hash value table", matched by chaining
    narrow equi-joins on (id, pos+i) over term-filtered postings.
    Integers end-to-end; oracle replays the zipped-unnest positional
    index and the same join chain."""
    from ftm_columnstore_spark.operators.retrieval import phrase_match

    d = _t(spark, sf_dir, "documents")
    return phrase_match(d, "hash value table")


def t35_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (operators/text.py:rake_keywords —
    Rose+ 2010). Runs the Arrow scale path: RAKE is per-document, so
    one narrow mapInPandas pass computes phrases/scores/top-k with
    ZERO shuffles (measured 254s -> ~15s at the 500k-doc soak vs the
    relational form). The oracle replays the relational SPEC (phrase
    ids = running stopword count, degree/freq keyed aggs, ratios
    rounded 12 dp and decimal-summed, top-2 by (score desc, phrase,
    phrase_id)) — the two paths are arithmetic-identical (same
    shortest-repr decimal rounding tail) and pinned equal by
    test_rake_arrow_matches_relational."""
    from ftm_columnstore_spark.operators.text import rake_keywords

    d = _t(spark, sf_dir, "documents")
    return rake_keywords(d, ["a", "the"], top_k=2)


def d17_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (operators/dedup.py:
    containment_pairs — Broder SEQUENCES'97's other estimator):
    directed pairs where ≥60% of the left doc's 3-word shingles occur
    in the right doc — the quote/boilerplate/subset case resemblance
    misses. Exact integer threshold (overlap ≥ τ·|S(A)| in DECIMAL);
    max_df=64 bounds the shingle-join expansion (boilerplate guard —
    sizes still counted pre-cut so containment stays honest). Oracle
    replays shingling, the df cut, and the decimal threshold."""
    from ftm_columnstore_spark.operators.dedup import containment_pairs

    d = _t(spark, sf_dir, "documents")
    return containment_pairs(
        d, shingle_k=3, min_containment=0.6, max_df=64
    )


def t36_proximity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered proximity (SLOP) search (operators/retrieval.py:
    proximity_match — IIR §2.4.2): docs with hash→value→table in order,
    each gap ≤ 2 intervening tokens. Same one-materialization postings
    plan as t34, but the chain joins carry a range residual per gap and
    matches count DISTINCT start positions (path multiplicity collapsed
    per hop). Oracle replays the chain with per-hop SELECT DISTINCT."""
    from ftm_columnstore_spark.operators.retrieval import proximity_match

    d = _t(spark, sf_dir, "documents")
    return proximity_match(d, "hash value table", max_slop=2)


def v18_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric KL vocabulary divergence between the even/odd corpus
    halves (operators/text.py:vocab_divergence — Jeffreys divergence,
    add-1 smoothing over the union vocabulary): the distributional
    companion to v17's KMV set overlap — names WHICH tokens drift.
    One union groupBy(token) is the only corpus-sized shuffle; totals
    broadcast back as one row; top-20 by the strict (contrib desc,
    token) order. Per-token ln rounded 12 dp (the t32 rule). Oracle
    replays counts, smoothing and the contribution formula."""
    from ftm_columnstore_spark.operators.text import vocab_divergence

    d = _t(spark, sf_dir, "documents")
    return vocab_divergence(
        d.where(F.col("doc_id") % 2 == 0),
        d.where(F.col("doc_id") % 2 == 1),
        top_n=20,
        alpha=1.0,
    )


def st5_windowed_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming analogue: distinct users per hour from per-window
    HyperLogLog register state (streaming/windows.py:
    windowed_hll_registers — ONE streaming-legal aggregation, ≤2^p
    rows of state per window, watermark-evictable; the estimate is the
    batch read-off hll_estimate_from_windowed_registers, since
    Structured Streaming forbids chaining the second agg). The same
    plan runs here as a batch agg (the st1 pattern); the true
    streaming form runs under readStream in test_streaming. Oracle
    replays the a22 integer register math grouped by the hour."""
    from ftm_columnstore_spark.streaming.windows import (
        hll_estimate_from_windowed_registers,
        windowed_hll_registers,
    )

    e = _events(spark, sf_dir)
    regs = windowed_hll_registers(
        e, "user_id", "1 hour", p=8, watermark=None
    )
    return hll_estimate_from_windowed_registers(regs, p=8)


def w9_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (operators/temporal.py:
    interval_overlap_join): per-user overlapping 10-minute activity
    spans between click and purchase events — the SPAN counterpart of
    w4's point band join. Bucketized range join: spans replicate into
    600s buckets, equi-join on (user, bucket), overlap as residual,
    pair emitted only from the overlap's first bucket (exactly-once,
    no distinct pass). Oracle is the naive range-predicate join."""
    from ftm_columnstore_spark.operators.temporal import (
        interval_overlap_join,
    )

    e = _events(spark, sf_dir)
    span = lambda t: (  # noqa: E731
        e.where(F.col("event_type") == t).select(
            F.col("event_id").alias("id"),
            "user_id",
            F.unix_timestamp("ts").alias("start"),
            (F.unix_timestamp("ts") + 600).alias("end"),
        )
    )
    return interval_overlap_join(
        span("click"), span("purchase"), key="user_id", bucket_width=600
    )


def t37_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty against the whole corpus
    (operators/text.py:ngram_novelty): fraction of a doc's distinct
    3-grams with corpus df == 1 — the cheap pre-dedup triage (high
    novelty = original text; near-copies and boilerplate score ~0).
    One persisted Arrow shingle pass; gram df is a map-side-combinable
    groupBy(shingle); novelty is the keyed join-back. Oracle replays
    the d5-style shingle SQL + df counts."""
    from ftm_columnstore_spark.operators.text import ngram_novelty

    d = _t(spark, sf_dir, "documents")
    return ngram_novelty(d, n=3)


def d18_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster size distribution — the dedup observability number
    ("is my corpus 2x-duplicated or 1000x-boilerplate?"): d16's
    near-dup cluster labels → per-cluster sizes → the a27 log2
    histogram (operators/sketches.py:log2_histogram). Composition of
    two oracle-checked operators; everything past the cluster pass is
    a |clusters|-row aggregation. Oracle composes the d16 recursive-CTE
    cluster replay with the bin()-length bucket SQL."""
    from ftm_columnstore_spark.operators.dedup import minhash_clusters
    from ftm_columnstore_spark.operators.sketches import log2_histogram

    clusters = minhash_clusters(
        _t(spark, sf_dir, "documents"),
        num_hashes=32,
        num_bands=8,
        threshold=0.5,
        shingle_k=3,
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("size")
    )
    return log2_histogram(sizes, "size")


def t38_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-ranked adjacent-word collocations (operators/text.py:
    pmi_collocations — Church & Hanks 1990): which bigrams are phrases,
    not chance. One tokenize pass feeds unigram counts (explode) and
    bigram counts (in-array adjacent-pair transform, no self-join);
    the min_count floor runs BEFORE the marginal joins so they see
    only surviving pairs; totals broadcast as one row; top-n is a
    TakeOrderedAndProject by (pmi DESC, w1, w2). Oracle replays the
    identical integer counts + one 12-dp-rounded ln per pair."""
    from ftm_columnstore_spark.operators.text import pmi_collocations

    return pmi_collocations(
        _t(spark, sf_dir, "documents"), min_count=3, top_n=25
    )


def t39_idf_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rare-word density (operators/text.py:idf_rarity):
    occurrence-weighted mean token IDF — jargon-dense docs score high,
    stopword soup scores ~0; the corpus-statistical quality signal
    next to t21 (supervised NB) and t37 (n-gram novelty). Document
    frequency is a distinct+groupBy(token); the vocabulary-sized IDF
    relation joins back hash-keyed on token (NOT broadcast — web-scale
    vocabularies are billions of rows). Per-token ln rounded 12 dp,
    per-doc DECIMAL sum (the _dsum rule), one final 6-dp division."""
    from ftm_columnstore_spark.operators.text import idf_rarity

    return idf_rarity(_t(spark, sf_dir, "documents"))


def j21_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation communities (operators/graph.py:
    label_propagation — Raghavan et al. 2007, min-label tie-break) over
    the part co-purchase graph of one order month: the frequency-based
    community split that CC (d7) can't give on a connected graph. Three
    synchronous rounds, one shuffle pair per round, integer votes
    throughout; the oracle unrolls the identical three rounds as
    chained CTEs with a row_number argmax (the j16 discipline)."""
    from ftm_columnstore_spark.operators.graph import label_propagation

    return label_propagation(
        _copurchase_edges(spark, sf_dir), iterations=3
    )


def st6_windowed_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hot-key tracking: per-hour heavy event types from
    Count-Min cell state (streaming/windows.py:windowed_cms_counts —
    ONE streaming-legal additive aggregation, ≤ d·w rows of state per
    window, watermark-evictable; the frequency counterpart of st5's
    windowed HLL). The heavy-hitter read-off
    (cms_heavy_hitters_from_windowed) is the batch pass Structured
    Streaming's one-aggregation rule forbids chaining — candidates
    probe their window's cells, est = min over d rows, CMS never
    underestimates. Same plan runs here as a batch agg (the st1
    pattern); the true readStream form runs in test_streaming. Oracle
    replays the a23 integer md5 cell math grouped by the hour."""
    from ftm_columnstore_spark.streaming.windows import (
        cms_heavy_hitters_from_windowed,
        windowed_cms_counts,
    )

    e = _events(spark, sf_dir)
    cms = windowed_cms_counts(
        e, "event_type", "1 hour", d=4, w=256, watermark=None
    )
    keys = (
        e.where(F.col("event_type").isNotNull())
        .select(
            F.date_format(
                F.window(F.col("ts"), "1 hour").start,
                "yyyy-MM-dd HH:mm:ss",
            ).alias("window_start"),
            "event_type",
        )
        .distinct()
    )
    return cms_heavy_hitters_from_windowed(
        cms, keys, "event_type", threshold=5, d=4, w=256
    )


def d19_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity join (operators/dedup.py:
    tfidf_cosine_pairs — Salton vector-space over an inverted index):
    weighting-aware near-dup pairs that score shared RARE vocabulary
    above shared boilerplate, next to d5 (set Jaccard) and d17
    (containment). 3-gram shingle terms (the sparser space on this
    adversarial small-vocab corpus), max_df=50 stopterm cut = the
    pair-fanout bound; idf/norm/dot all follow the _dsum rule (12-dp
    rounds + DECIMAL sums), so the oracle replays bit-for-bit."""
    from ftm_columnstore_spark.operators.dedup import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.3, n=3, max_df=50
    )


def a29_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS drift statistic (operators/sketches.py:ks_drift)
    between English and non-English document length distributions —
    the one-number "did this slice's distribution move" check used to
    gate corpus refreshes. Cumulative counts ride a distributed prefix
    sum in VALUE order (the take_budget shape with range buckets — no
    single-partition global window); the sup is a
    TakeOrderedAndProject by (diff DESC, value). Oracle replays the
    step-function CDFs with one SQL window cumsum."""
    from ftm_columnstore_spark.operators.sketches import ks_drift

    d = _t(spark, sf_dir, "documents")
    return ks_drift(
        d.where(F.col("lang") == "en"),
        d.where(F.col("lang") != "en"),
        "n_chars",
    )


def a30_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over lineitem's four price
    columns in ONE map-side aggregation pass (operators/sketches.py:
    correlation_matrix — the a24 stacked-scan discipline applied to
    C(4,2)·6 accumulators). Pairwise-complete sums, 12-dp-rounded
    DECIMAL accumulation (_dsum rule), one final IEEE expression per
    pair. Oracle replays each pair's sums with identical rounding."""
    from ftm_columnstore_spark.operators.sketches import correlation_matrix

    return correlation_matrix(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        quant=100.0,
    )


def t40_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k weighted sampling without replacement (operators/
    sampling.py:weighted_reservoir_sample — Efraimidis-Spirakis A-ES):
    100 documents, inclusion ∝ n_chars, decided by md5-uniform rank
    keys compared in log space — the exact-size counterpart of t16's
    Bernoulli weighted sample. Top-k is a TakeOrderedAndProject; the
    oracle replays the identical hash, ln rounding and (key DESC, id)
    cut."""
    from ftm_columnstore_spark.operators.sampling import (
        weighted_reservoir_sample,
    )

    d = _t(spark, sf_dir, "documents")
    return weighted_reservoir_sample(d, "n_chars", k=100).select(
        "doc_id", "n_chars", "sample_key"
    )


def j22_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (operators/blocking.py:
    sorted_neighborhood_pairs — Hernandez-Stolfo SNM) over part-name
    fingerprints: window-4 candidate pairs in sort-key order, the
    linear-candidate complement of J4's equality blocking. Global rank
    comes from the prefix-bucketed distributed rank (no global sort);
    the oracle replays one row_number() over the full order."""
    from ftm_columnstore_spark.functions.text import word_tokens_col
    from ftm_columnstore_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("entity_id"),
        F.array_join(
            F.array_sort(F.array_distinct(word_tokens_col("p_name"))), " "
        ).alias("fp"),
    )
    return sorted_neighborhood_pairs(
        p, "fp", id_col="entity_id", window=4, prefix_len=2
    )


def t41_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy
    (operators/text.py:char_entropy) — the sub-token gibberish /
    base64-blob / repetition detector next to d9's token-level stats.
    Two keyed aggregations over the (id, char) relation; per-char ln
    through the 12-dp rule, per-doc DECIMAL sum, one read-off
    expression. Oracle replays the identical char split and
    arithmetic."""
    from ftm_columnstore_spark.operators.text import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents"))


def u5_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (operators/aggregations.py:snapshot_diff):
    per-status counts between two deterministic snapshot views of the
    documents table (drop-every-19th as "old", drop-every-17th with
    every-7th text revised as "new") — added/removed/changed/unchanged
    from (id, md5 digest) relations and ONE full-outer join; nothing
    wider than the digest ever shuffles. The oracle compares text with
    null-safe equality — digest equality iff text equality (md5
    collision-free at any real corpus size)."""
    from ftm_columnstore_spark.operators.aggregations import snapshot_diff

    d = _t(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 19 != 18)
    new = d.where(F.col("doc_id") % 17 != 16).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new, "doc_id", ["text"])


def v19_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-compression eval (operators/similarity.py:
    truncated_recall): recall@20 of exact cosine top-k on the first 16
    of 64 dims vs the full-dimension exact top-k — the Matryoshka
    "how many dims can we store" measurement, sibling of v10 (which
    grades a probe path; this grades the representation). Both sides
    ride knn_join's broadcast-query + one-corpus-stream plan; the
    oracle replays both rankings with QUALIFY row_number."""
    from ftm_columnstore_spark.operators.similarity import truncated_recall

    return truncated_recall(
        _t(spark, sf_dir, "embeddings"), [0, 1, 2], dims=16, k=20
    )


def w10_ohlc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick rollup (operators/temporal.py:ohlc_rollup):
    per (event_type, hour) open/high/low/close/count over the events
    stream — open/close are argmin/argmax BY TIME via min/max(struct)
    in ONE map-side-combinable aggregation (no window, no sort; ties
    broken by event_id so simultaneous events can't lottery the open).
    Oracle replays with arg_min/arg_max over the (ts, event_id) pair."""
    from ftm_columnstore_spark.operators.temporal import ohlc_rollup

    return ohlc_rollup(
        _events(spark, sf_dir),
        key_col="event_type",
        tiebreak_col="event_id",
    )


def t42_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade-level readability per document
    (operators/text.py:readability_scores) — the band-pass quality
    gate. ONE narrow projection: zero shuffles, zero Python, regexes
    replayed verbatim by the oracle."""
    from ftm_columnstore_spark.operators.text import readability_scores

    return readability_scores(_t(spark, sf_dir, "documents"))


def t43_stratified_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact-k weighted sampling (operators/sampling.py:
    weighted_reservoir_by_stratum — A-ES rank keys, top-20 per lang,
    inclusion ∝ n_chars): the balanced-corpus builder t28's Bernoulli
    mixture can't pin to exact sizes. ONE stratum-keyed row_number
    window (the t33 shape); oracle replays the identical hash, ln
    rounding and per-stratum (key DESC, id) cut."""
    from ftm_columnstore_spark.operators.sampling import (
        weighted_reservoir_by_stratum,
    )

    d = _t(spark, sf_dir, "documents")
    return weighted_reservoir_by_stratum(
        d, "n_chars", k=20, stratum_col="lang"
    ).select("doc_id", "lang", "n_chars", "sample_key")


def j23_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-based node similarity (operators/graph.py:neighbor_jaccard):
    Jaccard overlap of co-purchase neighbor sets — "parts bought with
    the same parts", the pairwise complement of j21's communities.
    Wedge self-join keyed on the shared neighbor (never all-pairs),
    min_shared=2 floor; oracle replays the identical adjacency,
    intersection and degree arithmetic."""
    from ftm_columnstore_spark.operators.graph import neighbor_jaccard

    return neighbor_jaccard(
        _copurchase_edges(spark, sf_dir), min_shared=2
    )


def a31_ks_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out KS drift per source (operators/sketches.py:
    ks_drift_by_group): which SOURCE's length distribution deviates
    from the rest of the corpus — the slice-finder on top of a29's
    single-pair statistic. The groups x values eval grid is bounded by
    max_groups; per-group cumsums ride ONE group-partitioned window
    and the global cumulative derives as a keyed sum of the same
    relation (no no-partition window). Oracle replays grid, windows
    and argmax."""
    from ftm_columnstore_spark.operators.sketches import ks_drift_by_group

    return ks_drift_by_group(
        _t(spark, sf_dir, "documents"), "n_chars", "source"
    )


def st7_windowed_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-hour mean/variance/skewness from a four-number
    moments sketch (streaming/windows.py:windowed_moments — the a28
    power-sum spine windowed, beside st5 HLL and st6 CMS): event
    values quantize to exact integer cents, (m0..m3) accumulate as
    DECIMAL(38,0) in ONE streaming-legal additive aggregation, and
    moments_stats reads the statistics off the materialized state.
    Same plan runs here as a batch agg; the true readStream form runs
    in test_streaming. Oracle replays the integer power sums grouped
    by the hour."""
    from ftm_columnstore_spark.operators.sketches import moments_stats
    from ftm_columnstore_spark.streaming.windows import windowed_moments

    return moments_stats(
        windowed_moments(
            _events(spark, sf_dir), "value", "1 hour", quant=100.0,
            watermark=None,
        )
    )


def j24_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (operators/graph.py:adamic_adar):
    which part pairs are most likely to be co-purchased NEXT — shared
    co-purchase neighbors weighted 1/ln(degree), so hub-mediated
    evidence is discounted (j23's Jaccard counts it flat). Same
    never-all-pairs wedge plan; per-neighbor ln through the 12-dp rule,
    pair sums in DECIMAL. Oracle replays adjacency, weights and sums."""
    from ftm_columnstore_spark.operators.graph import adamic_adar

    return adamic_adar(_copurchase_edges(spark, sf_dir), min_shared=2)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order matters: the driver's CORRECTNESS run covers the
    # first ~50 entries. Rotation discipline (VERDICT r7 item 4):
    # stalest-first, with this round's TOUCHED paths pinned to the
    # front (VERDICT r8 item 7: d4/d11/d12/d14/d15/v12/v13/a24 carried
    # an oracle lag from r08; v10/v1/d16/d18/t23/v15/j20/d7/d13 were
    # code-touched in r09). r09 window = 17 pinned touched/lag keys,
    # the 28 remaining r05-checked keys, and the 5 oldest r06 keys.
    # NEXT ROUND: the remaining r06 keys lead, then r07; the r08-checked
    # r04/r05 blocks sit last (freshest).
    return {
        # --- pinned: r09-touched paths + the r08 oracle-lag keys ---
        "d4_simhash_pairs": d4_simhash_pairs,
        "d11_line_dedup": d11_line_dedup,
        "d12_cross_dedup": d12_cross_dedup,
        "d14_exact_substring_dedup": d14_exact_substring_dedup,
        "d15_cross_substring_dedup": d15_cross_substring_dedup,
        "v12_pq_topk": v12_pq_topk,
        "v13_ivfpq_topk": v13_ivfpq_topk,
        "a24_column_profile": a24_column_profile,
        "v10_ann_recall": v10_ann_recall,
        "v1_ann_topk": v1_ann_topk,
        "d16_minhash_clusters": d16_minhash_clusters,
        "d18_cluster_size_histogram": d18_cluster_size_histogram,
        "t23_leakage_free_split": t23_leakage_free_split,
        "v15_embedding_clusters": v15_embedding_clusters,
        "j20_k_core": j20_k_core,
        "d7_connected_components": d7_connected_components,
        "d13_dedup_keep_best": d13_dedup_keep_best,
        # --- last driver-green in r05 (stalest unchecked) ---
        "a31_ks_drift_by_source": a31_ks_drift_by_source,
        "st7_windowed_moments": st7_windowed_moments,
        "j24_adamic_adar": j24_adamic_adar,
        "a27_log2_histogram": a27_log2_histogram,
        "a28_moments_profile": a28_moments_profile,
        "t34_phrase_match": t34_phrase_match,
        "t35_rake_keywords": t35_rake_keywords,
        "d17_containment_pairs": d17_containment_pairs,
        "t36_proximity_match": t36_proximity_match,
        "v18_vocab_divergence": v18_vocab_divergence,
        "st5_windowed_hll": st5_windowed_hll,
        "w9_interval_overlap": w9_interval_overlap,
        "t37_ngram_novelty": t37_ngram_novelty,
        "t6_hash_split": t6_hash_split,
        "t8_deterministic_shuffle": t8_deterministic_shuffle,
        "a4_avg_via_dsl": a4_avg_via_dsl,
        "m2_fingerprint_freq": m2_fingerprint_freq,
        "u3_intersect": u3_intersect,
        "u4_except": u4_except,
        "e6_schema_hierarchy": e6_schema_hierarchy,
        "d6_jaccard_dedup_kept": d6_jaccard_dedup_kept,
        "w2_rank_spenders": w2_rank_spenders,
        "j16_pagerank": j16_pagerank,
        "t16_weighted_sample": t16_weighted_sample,
        "j17_triangle_count": j17_triangle_count,
        "t17_perplexity_buckets": t17_perplexity_buckets,
        "t18_chunk_documents": t18_chunk_documents,
        "w5_funnel": w5_funnel,
        # --- oldest r06 keys complete the 50-key window ---
        "t30_bloom_decontaminate": t30_bloom_decontaminate,
        "t31_bpe_fertility": t31_bpe_fertility,
        "t32_zipf_alpha": t32_zipf_alpha,
        "t33_quality_prune": t33_quality_prune,
        "v17_kmv_vocab_overlap": v17_kmv_vocab_overlap,
        # --- past position 50: rest of r06, then r07 ---
        "st2_events_latest": st2_events_latest,
        "j5_order_priority_exists": j5_order_priority_exists,
        "j8_nation_volume": j8_nation_volume,
        "a11_promo_revenue": a11_promo_revenue,
        "j9_shipping_priority": j9_shipping_priority,
        "j10_discounted_revenue": j10_discounted_revenue,
        "a12_forecast_revenue": a12_forecast_revenue,
        "a13_late_shipments": a13_late_shipments,
        "j6_top_customers": j6_top_customers,
        "j7_big_orders": j7_big_orders,
        "a10_rollup": a10_rollup,
        "o4_deterministic_scan": o4_deterministic_scan,
        "t4_language_id": t4_language_id,
        "t5_quality_scores": t5_quality_scores,
        "j11_order_count_distribution": j11_order_count_distribution,
        "a14_small_quantity_revenue": a14_small_quantity_revenue,
        "m4_top_supplier_revenue": m4_top_supplier_revenue,
        "j12_supplier_counts_anti": j12_supplier_counts_anti,
        "j13_late_sole_shippers": j13_late_sole_shippers,
        "a15_idle_rich_customers": a15_idle_rich_customers,
        "j14_best_supplier_per_part": j14_best_supplier_per_part,
        "a16_part_value_share": a16_part_value_share,
        "t7_stratified_sample": t7_stratified_sample,
        "d8_decontamination": d8_decontamination,
        "a17_regional_share": a17_regional_share,
        "a18_product_profit": a18_product_profit,
        "j15_dominant_suppliers": j15_dominant_suppliers,
        "t10_mixture_sample": t10_mixture_sample,
        "d3_minhash_lsh_pairs": d3_minhash_lsh_pairs,
        "v3_lsh_topk": v3_lsh_topk,
        "v4_embedding_dups": v4_embedding_dups,
        "v8_ivf_topk_portable": v8_ivf_topk_portable,
        "t11_bigram_lm": t11_bigram_lm,
        "t12_tfidf_terms": t12_tfidf_terms,
        "t13_pii_scrub": t13_pii_scrub,
        "v6_ann_topk_numpy": v6_ann_topk_numpy,
        "v7_knn_join_numpy": v7_knn_join_numpy,
        "w3_asof_join": w3_asof_join,
        "w4_band_join": w4_band_join,
        "d9_repetition_filter": d9_repetition_filter,
        "a19_percentiles": a19_percentiles,
        "a20_cube": a20_cube,
        "m5_time_rollup": m5_time_rollup,
        "t14_winnow_fingerprints": t14_winnow_fingerprints,
        "d10_winnow_overlap": d10_winnow_overlap,
        "v9_semantic_dedup": v9_semantic_dedup,
        "t15_quality_gate": t15_quality_gate,
        "w6_retention": w6_retention,
        "w7_sessionize": w7_sessionize,
        "w8_transitions": w8_transitions,
        "m7_audio_frames": m7_audio_frames,
        "m8_resize_features": m8_resize_features,
        "m9_moving_average": m9_moving_average,
        "a21_data_checks": a21_data_checks,
        "j18_edit1_name_pairs": j18_edit1_name_pairs,
        "v11_ivf_trained_portable": v11_ivf_trained_portable,
        "t19_pack_portable": t19_pack_portable,
        "t20_cross_corpus_lm": t20_cross_corpus_lm,
        "m6_multimodal_features": m6_multimodal_features,
        "a22_hll_cardinality": a22_hll_cardinality,
        "a23_cms_heavy_tokens": a23_cms_heavy_tokens,
        "t21_nb_quality_scores": t21_nb_quality_scores,
        "a25_sample_quantiles": a25_sample_quantiles,
        "v14_pq_knn_join": v14_pq_knn_join,
        "t22_token_budget": t22_token_budget,
        "a26_table_profile": a26_table_profile,
        "t24_c4_line_filter": t24_c4_line_filter,
        "j19_skew_hybrid_join": j19_skew_hybrid_join,
        "m10_image_dup_pairs": m10_image_dup_pairs,
        "m11_audio_dup_pairs": m11_audio_dup_pairs,
        "x5_phonetic_keys": x5_phonetic_keys,
        "v5_ivf_trained_deep": v5_ivf_trained_deep,
        "t9_pack_sequences": t9_pack_sequences,
        "t25_bm25_topk": t25_bm25_topk,
        "t26_bpe_merges": t26_bpe_merges,
        "t27_bpe_vocab": t27_bpe_vocab,
        "t28_temperature_mixture": t28_temperature_mixture,
        "v16_hybrid_rrf": v16_hybrid_rrf,
        "t29_bm25_multi": t29_bm25_multi,
        "s1_scan_project": s1_scan_project,
        "f3_comparator_filters": f3_comparator_filters,
        "f5_prefix_filter": f5_prefix_filter,
        "f7_semi_join_reverse": f7_semi_join_reverse,
        "f8_search_ilike": f8_search_ilike,
        "j1_reverse_edges": j1_reverse_edges,
        # --- re-checked in r08 (freshest): r04 block, then r05 first-16 ---
        "j3_join_revenue_nation": j3_join_revenue_nation,
        "j4_blocking_having": j4_blocking_having,
        "a1_minmax": a1_minmax,
        "a3_sum_filtered": a3_sum_filtered,
        "a5_pricing_summary": a5_pricing_summary,
        "a6_group_year": a6_group_year,
        "a7_group_cap": a7_group_cap,
        "a8_count_distinct": a8_count_distinct,
        "o1_topk_orders": o1_topk_orders,
        "o2_slice_offset": o2_slice_offset,
        "u1_union": u1_union,
        "u2_upsert_dedup": u2_upsert_dedup,
        "w1_window_latest": w1_window_latest,
        "x1_fingerprint_names": x1_fingerprint_names,
        "x12_json_extract": x12_json_extract,
        "e1_entity_assembly": e1_entity_assembly,
        "e2_entity_agg_group": e2_entity_agg_group,
        "e3_entity_filter_query": e3_entity_filter_query,
        "e4_entity_adjacency": e4_entity_adjacency,
        "e5_entity_search": e5_entity_search,
        "a2_count_via_dsl": a2_count_via_dsl,
        "d5_ngram_jaccard": d5_ngram_jaccard,
        "v2_knn_join": v2_knn_join,
        "x3_levenshtein_pairs": x3_levenshtein_pairs,
        "st3_session_windows": st3_session_windows,
        "st4_sliding_windows": st4_sliding_windows,
        "m1_stats_view": m1_stats_view,
        "m3_pivot_stats": m3_pivot_stats,
        "d2_exact_dup_groups": d2_exact_dup_groups,
        "t1_text_profile": t1_text_profile,
        "t2_token_topk": t2_token_topk,
        "t3_lang_stats": t3_lang_stats,
        "st1_events_tumbling": st1_events_tumbling,
        "t38_pmi_collocations": t38_pmi_collocations,
        "t39_idf_rarity": t39_idf_rarity,
        "j21_label_propagation": j21_label_propagation,
        "st6_windowed_cms": st6_windowed_cms,
        "d19_tfidf_cosine_pairs": d19_tfidf_cosine_pairs,
        "a29_ks_drift": a29_ks_drift,
        "a30_correlation_matrix": a30_correlation_matrix,
        "t40_weighted_reservoir": t40_weighted_reservoir,
        "j22_sorted_neighborhood": j22_sorted_neighborhood,
        "t41_char_entropy": t41_char_entropy,
        "u5_snapshot_diff": u5_snapshot_diff,
        "v19_truncated_recall": v19_truncated_recall,
        "w10_ohlc_rollup": w10_ohlc_rollup,
        "t42_readability": t42_readability,
        "t43_stratified_reservoir": t43_stratified_reservoir,
        "j23_neighbor_jaccard": j23_neighbor_jaccard,
    }


def _d3_oracle(nh: int = 32, k: int = 3, nb: int = 8) -> str:
    """DuckDB oracle for portable MinHash-LSH (must mirror
    operators/dedup.py exactly: md5-60bit shingle hash, (a*hi+b*lo+c) mod
    2^31-1 permutation family, band buckets as comma-joined values)."""
    from ftm_columnstore_spark.operators.dedup import (
        _MERSENNE31,
        _SPLIT,
        _perm_constants,
    )

    r = nh // nb
    mins = ",\n                   ".join(
        f"min(({a}*hi + {b}*lo + {c}) % {_MERSENNE31}) AS m{i}"
        for i, (a, b, c) in enumerate(_perm_constants(nh))
    )
    sig = "[" + ", ".join(f"m{i}" for i in range(nh)) + "]"
    return f"""
        WITH toks AS (
            SELECT doc_id AS id,
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS tk
            FROM documents WHERE text IS NOT NULL
        ), sh AS (
            SELECT id,
                   unnest(CASE WHEN len(tk) <= {k}
                          THEN [array_to_string(tk, ' ')]
                          ELSE list_transform(
                               range(1, len(tk) - {k} + 2),
                               i -> array_to_string(tk[i:i+{k - 1}], ' ')) END
                   ) AS shingle
            FROM toks WHERE len(tk) > 0
        ), h AS (
            SELECT id,
                   ('0x' || substr(md5(shingle), 1, 15))::BIGINT // {_SPLIT} AS hi,
                   ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {_SPLIT} AS lo
            FROM sh
        ), sigs AS (
            SELECT id, {sig} AS sig
            FROM (SELECT id,
                   {mins}
                  FROM h GROUP BY id)
        ), banded AS (
            SELECT id, sig, band,
                   array_to_string(list_slice(sig, band*{r}+1, band*{r}+{r})::VARCHAR[],
                                   ',') AS bucket
            FROM sigs, range(0, {nb}) t(band)
        ), pairs AS (
            SELECT DISTINCT l.id AS left_id, r.id AS right_id,
                            l.sig AS ls, r.sig AS rs
            FROM banded l
            JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
                         AND l.id < r.id
        )
        SELECT left_id, right_id,
               round(len(list_filter(range(1, {nh + 1}), i -> ls[i] = rs[i]))
                     / {nh}.0, 6) AS jaccard_est
        FROM pairs
    """


def _d16_oracle(
    threshold: float = 0.5, nh: int = 32, k: int = 3, nb: int = 8
) -> str:
    """DuckDB oracle for minhash_clusters: the d3 pair SQL thresholded,
    symmetric-closure recursive reachability (d7 pattern), component
    minimum, LEFT JOIN back so singletons (incl. null-text docs) keep
    their own id."""
    pairs_sql = _d3_oracle(nh, k, nb)
    return f"""
        WITH RECURSIVE pr AS ({pairs_sql}),
        sym AS (
            SELECT left_id AS src, right_id AS dst FROM pr
            WHERE jaccard_est >= {threshold}
            UNION
            SELECT right_id, left_id FROM pr
            WHERE jaccard_est >= {threshold}
        ),
        reach AS (
            SELECT src, dst FROM sym
            UNION
            SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src
        ),
        comp AS (
            SELECT src AS id, least(src, min(dst)) AS cid
            FROM reach GROUP BY src
        )
        SELECT d.doc_id AS doc_id,
               CAST(coalesce(c.cid, d.doc_id) AS BIGINT) AS cluster_id
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    """


def _v15_oracle(min_cosine: float = 0.40, num_planes: int = 4) -> str:
    """DuckDB oracle for embedding near-dup cluster labels: the v4 pair
    SQL (already thresholded) + symmetric-closure recursive reachability
    (d16 pattern) + component minimum, LEFT JOIN back so unpaired
    vectors keep their own id."""
    pairs_sql = _v4_oracle(min_cosine=min_cosine, num_planes=num_planes)
    return f"""
        WITH RECURSIVE pr AS ({pairs_sql}),
        sym AS (
            SELECT left_id AS src, right_id AS dst FROM pr
            UNION
            SELECT right_id, left_id FROM pr
        ),
        reach AS (
            SELECT src, dst FROM sym
            UNION
            SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src
        ),
        comp AS (
            SELECT src AS id, least(src, min(dst)) AS cid
            FROM reach GROUP BY src
        )
        SELECT e.vec_id AS vec_id,
               CAST(coalesce(c.cid, e.vec_id) AS BIGINT) AS cluster_id
        FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.id
    """


def _bm25_scored_sql(terms: tuple[str, ...]) -> str:
    """Shared scored-relation SQL for BM25 oracles over an arbitrary
    sorted term bag (mirrors operators/retrieval.py bm25_scores:
    integer tf/dl/df/N from one aggregation, avgdl one IEEE division,
    per-term contributions summed in sorted-term order)."""
    tfs = ",\n                       ".join(
        f"sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS tf{i}"
        for i, t in enumerate(terms)
    )
    dfs = ",\n                       ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms))
    )
    contribs = "\n                       + ".join(
        f"""ln(1.0 + ((n_docs::DOUBLE - df{i}) + 0.5)
                                  / (df{i}::DOUBLE + 0.5))
                           * tf{i}::DOUBLE * 2.2
                           / (tf{i}::DOUBLE + 1.2 * (0.25
                              + 0.75 * dl::DOUBLE
                                / (sum_dl::DOUBLE / n_docs::DOUBLE)))"""
        for i in range(len(terms))
    )
    matched = " OR ".join(f"tf{i} > 0" for i in range(len(terms)))
    return f"""
            WITH tok AS (
                SELECT doc_id AS id,
                       unnest(list_filter(
                           string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '')) AS term
                FROM documents WHERE text IS NOT NULL
            ), per AS (
                SELECT id, count(*) AS dl,
                       {tfs}
                FROM tok GROUP BY id
            ), g AS (
                SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
                       {dfs}
                FROM per
            ), scored AS (
                SELECT id,
                       round(
                         {contribs},
                       6) AS score
                FROM per, g
                WHERE {matched}
            )
    """


def _bm25_oracle(
    top: int = 25, terms: tuple[str, ...] = ("hash", "join", "scan")
) -> str:
    """DuckDB oracle for single-query BM25 top-k over documents."""
    return f"""{_bm25_scored_sql(terms)}
            SELECT id AS doc_id, score FROM scored
            ORDER BY score DESC, id LIMIT {top}
    """


def _bm25_multi_oracle(queries: dict, top: int = 10) -> str:
    """DuckDB oracle for multi-query BM25: one scored-relation instance
    per query bag (SQL recomputes the shared pass per branch; the
    ENGINE pays it once — the equivalence is on VALUES, not cost),
    each branch top-k'd independently, UNION ALL."""
    branches = []
    for qid in sorted(queries):
        terms = tuple(sorted(set(queries[qid])))
        branches.append(
            f"""(
            {_bm25_scored_sql(terms)}
            SELECT '{qid}' AS query_id, id AS doc_id, score FROM scored
            ORDER BY score DESC, id LIMIT {top}
        )"""
        )
    return "\n        UNION ALL ".join(branches)


def _v16_oracle(n: int = 50, k0: int = 60, top: int = 25) -> str:
    """DuckDB oracle for hybrid BM25 ⊕ dense-ANN retrieval fused with
    reciprocal ranks (mirrors operators/retrieval.py rrf_fuse over the
    t25 BM25 top-n and the v1 brute-cosine top-n)."""
    return f"""
        WITH bm AS ({_bm25_oracle(top=n)}),
        bmr AS (
            SELECT doc_id AS id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rank
            FROM bm
        ),
        ann AS (
            SELECT e.vec_id AS id,
                   round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings e,
                 (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE e.vec_id != 0
            ORDER BY cosine DESC, e.vec_id LIMIT {n}
        ),
        annr AS (
            SELECT id,
                   row_number() OVER (ORDER BY cosine DESC, id) AS rank
            FROM ann
        ),
        f AS (
            SELECT coalesce(b.id, a.id) AS doc_id,
                   coalesce(1.0 / ({k0}.0 + b.rank), 0.0)
                   + coalesce(1.0 / ({k0}.0 + a.rank), 0.0) AS rrf
            FROM bmr b FULL OUTER JOIN annr a ON b.id = a.id
        )
        SELECT doc_id, round(rrf, 6) AS rrf FROM f
        ORDER BY round(rrf, 6) DESC, doc_id LIMIT {top}
    """


def _bpe_oracle(n_merges: int = 12, mode: str = "merges", top: int = 50) -> str:
    """DuckDB oracle for distributed BPE (operators/bpe.py): unrolls
    ``n_merges`` rounds — pair extraction over the brace-encoded
    distinct-word relation, (count DESC, l, r) argmax, literal replace —
    exactly the engine's loop. ``mode='merges'`` emits the merge table;
    ``mode='vocab'`` applies the full chain and emits top-``top``
    subword counts."""
    ctes = [
        """tok AS (
            SELECT unnest(list_filter(
                       string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '')) AS term
            FROM documents WHERE text IS NOT NULL
        )""",
        r"""v0 AS (
            SELECT regexp_replace(term, '(.)', '{\1}', 'g') AS w,
                   count(*) AS cnt
            FROM tok GROUP BY term
        )""",
    ]
    for i in range(n_merges):
        ctes.append(
            f"""p{i} AS (
            SELECT syms[i] AS l, syms[i + 1] AS r, sum(cnt) AS c
            FROM (SELECT syms, cnt,
                         unnest(range(1, len(syms))) AS i
                  FROM (SELECT string_split(trim(w, '{{}}'), '}}{{') AS syms,
                               cnt FROM v{i}))
            GROUP BY l, r
        )"""
        )
        ctes.append(
            f"""b{i} AS (
            SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1
        )"""
        )
        # LEFT JOIN ON TRUE, not a cross join: when merges exhaust
        # early, b{i} is EMPTY and a cross join would empty every later
        # vocab CTE — vocab mode would return 0 rows while the engine
        # returns real counts for the shorter merge list
        ctes.append(
            f"""v{i + 1} AS (
            SELECT CASE WHEN b.l IS NULL THEN w
                   ELSE replace(w, '{{' || b.l || '}}{{' || b.r || '}}',
                                   '{{' || b.l || b.r || '}}') END AS w,
                   cnt
            FROM v{i} LEFT JOIN b{i} b ON TRUE
        )"""
        )
    with_clause = "WITH " + ",\n        ".join(ctes)
    if mode == "merges":
        unions = "\n            UNION ALL ".join(
            f"SELECT {i}::BIGINT AS rank, l AS left_sym, r AS right_sym, "
            f"c::BIGINT AS pair_count FROM b{i}"
            for i in range(n_merges)
        )
        return f"{with_clause}\n        {unions}"
    if mode == "fertility":
        return f"""{with_clause}
        SELECT n_words, n_tokens, n_chars,
               round(n_tokens::DOUBLE / n_words::DOUBLE, 6) AS fertility,
               round(n_chars::DOUBLE / n_tokens::DOUBLE, 6)
                   AS chars_per_token
        FROM (
            SELECT sum(cnt)::BIGINT AS n_words,
                   sum(cnt * len(string_split(trim(w, '{{}}'), '}}{{')))::BIGINT
                       AS n_tokens,
                   sum(cnt * len(replace(replace(w, '{{', ''), '}}', '')))::BIGINT
                       AS n_chars
            FROM v{n_merges})
    """
    return f"""{with_clause}
        SELECT token, cnt::BIGINT AS cnt FROM (
            SELECT token, sum(cnt) AS cnt FROM (
                SELECT unnest(string_split(trim(w, '{{}}'), '}}{{')) AS token,
                       cnt
                FROM v{n_merges})
            GROUP BY token)
        ORDER BY cnt DESC, token LIMIT {top}
    """


def _d12_oracle(nh: int = 32, k: int = 3, nb: int = 8) -> str:
    """DuckDB oracle for cross-corpus MinHash-LSH (mirrors
    operators/dedup.py minhash_lsh_pairs_cross over the src0-vs-rest
    split; signature derivation identical to _d3_oracle — per-doc
    signatures are independent of the split, so one derivation over the
    full table then filtering sides is exact)."""
    from ftm_columnstore_spark.operators.dedup import (
        _MERSENNE31,
        _SPLIT,
        _perm_constants,
    )

    r = nh // nb
    mins = ",\n                   ".join(
        f"min(({a}*hi + {b}*lo + {c}) % {_MERSENNE31}) AS m{i}"
        for i, (a, b, c) in enumerate(_perm_constants(nh))
    )
    sig = "[" + ", ".join(f"m{i}" for i in range(nh)) + "]"
    return f"""
        WITH toks AS (
            SELECT doc_id AS id, source,
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS tk
            FROM documents WHERE text IS NOT NULL
        ), sh AS (
            SELECT id, source,
                   unnest(CASE WHEN len(tk) <= {k}
                          THEN [array_to_string(tk, ' ')]
                          ELSE list_transform(
                               range(1, len(tk) - {k} + 2),
                               i -> array_to_string(tk[i:i+{k - 1}], ' ')) END
                   ) AS shingle
            FROM toks WHERE len(tk) > 0
        ), h AS (
            SELECT id, source,
                   ('0x' || substr(md5(shingle), 1, 15))::BIGINT // {_SPLIT} AS hi,
                   ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {_SPLIT} AS lo
            FROM sh
        ), sigs AS (
            SELECT id, source, {sig} AS sig
            FROM (SELECT id, source,
                   {mins}
                  FROM h GROUP BY id, source)
        ), banded AS (
            SELECT id, source, sig, band,
                   array_to_string(list_slice(sig, band*{r}+1, band*{r}+{r})::VARCHAR[],
                                   ',') AS bucket
            FROM sigs, range(0, {nb}) t(band)
        ), pairs AS (
            SELECT DISTINCT l.id AS new_id, r.id AS corpus_id,
                            l.sig AS ls, r.sig AS rs
            FROM banded l
            JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
            WHERE l.source = 'src0' AND r.source <> 'src0'
        )
        SELECT new_id, corpus_id,
               round(len(list_filter(range(1, {nh + 1}), i -> ls[i] = rs[i]))
                     / {nh}.0, 6) AS jaccard_est
        FROM pairs
    """


def _d4_oracle(bands: int = 4, max_hamming: int = 3, max_bucket: int = 1024) -> str:
    """DuckDB oracle for portable SimHash pairs (mirrors
    operators/dedup.py simhash_chunks/simhash_pairs_portable: md5 32-bit
    halves per token occurrence, ±1 votes, chunk packing, pigeonhole
    band join with whole-bucket caps)."""
    width = 64 // bands

    def vote(j: int) -> str:
        src, off = ("lo", j) if j < 32 else ("hi", j - 32)
        return f"sum(2*(({src} >> {off}) & 1) - 1) AS v{j}"

    votes = ",\n                   ".join(vote(j) for j in range(64))
    chunks = ",\n                   ".join(
        "("
        + " + ".join(
            f"(CASE WHEN v{b * width + t} > 0 THEN {1 << t} ELSE 0 END)"
            for t in range(width)
        )
        + f")::BIGINT AS c{b}"
        for b in range(bands)
    )
    chunk_case = (
        "CASE band "
        + " ".join(f"WHEN {b} THEN c{b}" for b in range(bands))
        + " END"
    )
    carry = ", ".join(f"c{b}" for b in range(bands))
    ham = " + ".join(
        f"bit_count(xor(l.c{b}, r.c{b}))" for b in range(bands)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id AS id,
                   unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '')) AS t
            FROM documents WHERE text IS NOT NULL
        ), h AS (
            SELECT id,
                   ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
                   ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
            FROM toks
        ), votes AS (
            SELECT id,
                   {votes}
            FROM h GROUP BY id
        ), chunks AS (
            SELECT id,
                   {chunks}
            FROM votes
        ), banded AS (
            SELECT id, {carry}, band, {chunk_case} AS chunk
            FROM chunks, range(0, {bands}) t(band)
        ), sizes AS (
            SELECT band, chunk FROM banded GROUP BY band, chunk
            HAVING count(*) > 1 AND count(*) <= {max_bucket}
        ), el AS (
            SELECT banded.* FROM banded JOIN sizes USING (band, chunk)
        )
        SELECT DISTINCT l.id AS left_id, r.id AS right_id,
               ({ham})::INT AS hamming
        FROM el l JOIN el r
          ON l.band = r.band AND l.chunk = r.chunk AND l.id < r.id
        WHERE ({ham}) <= {max_hamming}
    """


def _v4_oracle(
    min_cosine: float = 0.9,
    num_planes: int = 8,
    dim: int = 64,
    scale: int = 1_000_000,
) -> str:
    """DuckDB oracle for portable embedding near-dup (mirrors
    operators/dedup.py embedding_dup_pairs_portable: floor-quantized
    int64 components, ±1-plane integer signature, cosine from quantized
    ints — IEEE-exact, so candidate set and values are bit-identical)."""
    from ftm_columnstore_spark.operators.dedup import _plane_signs

    signs = _plane_signs(num_planes, dim)
    plane_rows = ", ".join(
        f"({p}, [{', '.join(str(s) for s in row)}])"
        for p, row in enumerate(signs)
    )
    return f"""
        WITH q AS (
            SELECT vec_id AS id,
                   list_transform(embedding,
                       x -> CAST(floor(x::DOUBLE * {scale} + 0.5) AS BIGINT)) AS q
            FROM embeddings
        ), planes(p, sarr) AS (
            SELECT * FROM (VALUES {plane_rows})
        ), dots AS (
            SELECT id, p,
                   list_sum(list_transform(range(1, {dim + 1}),
                                           i -> q[i] * sarr[i])) AS dot
            FROM q, planes
        ), sigs AS (
            SELECT id, sum(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS sig
            FROM dots GROUP BY id
        ), norms AS (
            SELECT id, list_sum(list_transform(q, x -> x * x)) AS nq FROM q
        ), feats AS (
            SELECT q.id, q.q, sigs.sig, norms.nq
            FROM q JOIN sigs USING (id) JOIN norms ON norms.id = q.id
            WHERE norms.nq > 0
        ), cand AS (
            SELECT l.id AS left_id, r.id AS right_id,
                   CAST(list_sum(list_transform(range(1, {dim + 1}),
                                 i -> l.q[i] * r.q[i])) AS DOUBLE)
                   / sqrt(l.nq::DOUBLE * r.nq::DOUBLE) AS cos
            FROM feats l JOIN feats r ON l.sig = r.sig AND l.id < r.id
        )
        SELECT left_id, right_id, round(cos, 6) AS cosine
        FROM cand WHERE cos >= {min_cosine}
    """


def _v3_oracle(
    k: int = 20,
    num_planes: int = 10,
    probe_bits: int = 2,
    dim: int = 64,
    scale: int = 1_000_000,
) -> str:
    """DuckDB oracle for portable multi-probe LSH top-k (mirrors
    operators/similarity.py lsh_topk_portable on the quantized integer
    features; query = vec_id 0, corpus = the rest)."""
    from ftm_columnstore_spark.operators.dedup import _plane_signs

    signs = _plane_signs(num_planes, dim)
    plane_rows = ", ".join(
        f"({p}, [{', '.join(str(s) for s in row)}])"
        for p, row in enumerate(signs)
    )
    return f"""
        WITH allq AS (
            SELECT vec_id AS id,
                   list_transform(embedding,
                       x -> CAST(floor(x::DOUBLE * {scale} + 0.5) AS BIGINT)) AS q
            FROM embeddings
        ), corpus AS (
            SELECT * FROM allq WHERE id <> 0
        ), qv AS (
            SELECT q FROM allq WHERE id = 0
        ), planes(p, sarr) AS (
            SELECT * FROM (VALUES {plane_rows})
        ), sigs AS (
            SELECT id, sum(CASE WHEN list_sum(list_transform(range(1, {dim + 1}),
                                     i -> c.q[i] * sarr[i])) >= 0
                           THEN 1 << p ELSE 0 END) AS sig
            FROM corpus c, planes GROUP BY id
        ), qsig AS (
            SELECT sum(CASE WHEN list_sum(list_transform(range(1, {dim + 1}),
                                i -> qv.q[i] * sarr[i])) >= 0
                       THEN 1 << p ELSE 0 END) AS sig
            FROM qv, planes
        ), cand AS (
            SELECT c.id, c.q FROM corpus c
            JOIN sigs s ON s.id = c.id, qsig
            WHERE bit_count(xor(s.sig, qsig.sig)) <= {probe_bits}
              AND list_sum(list_transform(c.q, x -> x * x)) > 0
        ), scored AS (
            SELECT c.id,
                   CAST(list_sum(list_transform(range(1, {dim + 1}),
                                 i -> c.q[i] * qv.q[i])) AS DOUBLE)
                   / sqrt(list_sum(list_transform(c.q, x -> x * x))::DOUBLE
                          * list_sum(list_transform(qv.q, x -> x * x))::DOUBLE)
                   AS cos
            FROM cand c, qv
        )
        SELECT id AS vec_id, round(cos, 6) AS cosine
        FROM scored ORDER BY cos DESC, id LIMIT {k}
    """


def _v8_oracle(
    k: int = 20,
    n_centroids: int = 16,
    n_probe: int = 6,
    dim: int = 64,
    scale: int = 1_000_000,
) -> str:
    """DuckDB oracle for the fixed-centroid IVF probe path (mirrors
    operators/similarity.py ivf_topk_portable: centroids = lowest-id
    corpus vectors, assignment by integer-dot/centroid-norm argmax with
    (score DESC, cid) tiebreak, probe top-n centroids for the query,
    exact quantized-cosine re-rank)."""
    return f"""
        WITH allq AS (
            SELECT vec_id AS id,
                   list_transform(embedding,
                       x -> CAST(floor(x::DOUBLE * {scale} + 0.5) AS BIGINT)) AS q
            FROM embeddings
        ), corpus AS (
            SELECT * FROM allq WHERE id <> 0
        ), qv AS (
            SELECT q FROM allq WHERE id = 0
        ), cents AS (
            SELECT * FROM (
                SELECT id AS cid, q AS cq FROM corpus
                ORDER BY id LIMIT {n_centroids}
            ) WHERE list_sum(list_transform(cq, x -> x * x)) > 0
        ), cnorm AS (
            SELECT cid, list_sum(list_transform(cq, x -> x * x)) AS nqc
            FROM cents
        ), scores AS (
            SELECT c.id, ct.cid,
                   CAST(list_sum(list_transform(range(1, {dim + 1}),
                                 i -> c.q[i] * ct.cq[i])) AS DOUBLE)
                   / sqrt(cn.nqc::DOUBLE) AS score
            FROM corpus c, cents ct JOIN cnorm cn USING (cid)
        ), assign AS (
            SELECT id, cid FROM (
                SELECT id, cid,
                       row_number() OVER (PARTITION BY id
                                          ORDER BY score DESC, cid) AS rn
                FROM scores) WHERE rn = 1
        ), qscore AS (
            SELECT ct.cid,
                   CAST(list_sum(list_transform(range(1, {dim + 1}),
                                 i -> qv.q[i] * ct.cq[i])) AS DOUBLE)
                   / sqrt(cn.nqc::DOUBLE) AS score
            FROM qv, cents ct JOIN cnorm cn USING (cid)
        ), probes AS (
            SELECT cid FROM qscore ORDER BY score DESC, cid LIMIT {n_probe}
        ), cand AS (
            SELECT c.id, c.q FROM corpus c
            JOIN assign a ON a.id = c.id
            JOIN probes p ON p.cid = a.cid
            WHERE list_sum(list_transform(c.q, x -> x * x)) > 0
        ), scored AS (
            SELECT c.id,
                   CAST(list_sum(list_transform(range(1, {dim + 1}),
                                 i -> c.q[i] * qv.q[i])) AS DOUBLE)
                   / sqrt(list_sum(list_transform(c.q, x -> x * x))::DOUBLE
                          * list_sum(list_transform(qv.q, x -> x * x))::DOUBLE)
                   AS cos
            FROM cand c, qv
        )
        SELECT id AS vec_id, round(cos, 6) AS cosine
        FROM scored ORDER BY cos DESC, id LIMIT {k}
    """


def _v10_oracle(k: int = 20) -> str:
    """Recall@k of the portable IVF probe path vs exact brute force —
    both sides are the already-oracled v1/v8 computations, composed."""
    v1_sql = """
        SELECT e.vec_id,
               round(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]),
                   CAST(q.embedding AS DOUBLE[])), 6) AS cosine
        FROM embeddings e,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id != 0
        ORDER BY cosine DESC, e.vec_id LIMIT 20
    """
    return f"""
        WITH exact AS ({v1_sql}), approx AS ({_v8_oracle()})
        SELECT {k}::BIGINT AS k, count(*) AS n_hits,
               round(count(*) / {k}.0, 6) AS recall
        FROM exact JOIN approx USING (vec_id)
    """


def _v11_oracle(
    k: int = 20,
    n_centroids: int = 16,
    n_probe: int = 6,
    iterations: int = 2,
    dim: int = 64,
    scale: int = 1_000_000,
) -> str:
    """DuckDB oracle for the TRAINED portable IVF (mirrors
    operators/similarity.py kmeans_centroids_portable +
    ivf_topk_portable(centroids=...)): Lloyd iterations unrolled as
    chained CTEs — integer-dot assignment with (score DESC, cid)
    tiebreak, floor(sum/count) integer-mean update, empty/zero
    clusters keep the previous centroid — then the v8 serve tail
    against the final centroids."""
    dot = (
        "CAST(list_sum(list_transform(range(1, {d} + 1), "
        "j -> {a}.q[j] * {b}.cq[j])) AS DOUBLE)"
    )
    its = []
    prev = "c0"
    for i in range(1, iterations + 1):
        its.append(f"""n{i} AS (
            SELECT cid, list_sum(list_transform(cq, x -> x * x)) AS nqc
            FROM {prev}
        ), s{i} AS (
            SELECT c.id, ct.cid,
                   {dot.format(d=dim, a='c', b='ct')}
                   / sqrt(cn.nqc::DOUBLE) AS score
            FROM corpus c, {prev} ct JOIN n{i} cn USING (cid)
        ), a{i} AS (
            SELECT id, cid FROM (
                SELECT id, cid,
                       row_number() OVER (PARTITION BY id
                                          ORDER BY score DESC, cid) AS rn
                FROM s{i}) WHERE rn = 1
        ), u{i} AS (
            SELECT a.cid, e.pos,
                   CAST(floor(sum(e.qv)::DOUBLE / count(*)::DOUBLE)
                        AS BIGINT) AS cv
            FROM (SELECT id, generate_subscripts(q, 1) AS pos,
                         unnest(q) AS qv FROM corpus) e
            JOIN a{i} a USING (id)
            GROUP BY a.cid, e.pos
        ), ul{i} AS (
            SELECT cid, list(cv ORDER BY pos) AS vec FROM u{i} GROUP BY cid
        ), c{i} AS (
            SELECT p.cid,
                   CASE WHEN u.vec IS NOT NULL
                         AND list_sum(list_transform(u.vec, x -> x * x)) > 0
                        THEN u.vec ELSE p.cq END AS cq
            FROM {prev} p LEFT JOIN ul{i} u USING (cid)
        )""")
        prev = f"c{i}"
    chain = ",\n        ".join(its)
    return f"""
        WITH allq AS (
            SELECT vec_id AS id,
                   list_transform(embedding,
                       x -> CAST(floor(x::DOUBLE * {scale} + 0.5) AS BIGINT)) AS q
            FROM embeddings
        ), corpus AS (
            SELECT * FROM allq WHERE id <> 0
        ), qv AS (
            SELECT q FROM allq WHERE id = 0
        ), c0 AS (
            SELECT * FROM (
                SELECT id AS cid, q AS cq FROM corpus
                ORDER BY id LIMIT {n_centroids}
            ) WHERE list_sum(list_transform(cq, x -> x * x)) > 0
        ),
        {chain},
        fnorm AS (
            SELECT cid, list_sum(list_transform(cq, x -> x * x)) AS nqc
            FROM {prev}
        ), fscores AS (
            SELECT c.id, ct.cid,
                   {dot.format(d=dim, a='c', b='ct')}
                   / sqrt(cn.nqc::DOUBLE) AS score
            FROM corpus c, {prev} ct JOIN fnorm cn USING (cid)
        ), fassign AS (
            SELECT id, cid FROM (
                SELECT id, cid,
                       row_number() OVER (PARTITION BY id
                                          ORDER BY score DESC, cid) AS rn
                FROM fscores) WHERE rn = 1
        ), qscore AS (
            SELECT ct.cid,
                   CAST(list_sum(list_transform(range(1, {dim} + 1),
                                 j -> qv.q[j] * ct.cq[j])) AS DOUBLE)
                   / sqrt(cn.nqc::DOUBLE) AS score
            FROM qv, {prev} ct JOIN fnorm cn USING (cid)
        ), probes AS (
            SELECT cid FROM qscore ORDER BY score DESC, cid LIMIT {n_probe}
        ), cand AS (
            SELECT c.id, c.q FROM corpus c
            JOIN fassign a ON a.id = c.id
            JOIN probes p ON p.cid = a.cid
            WHERE list_sum(list_transform(c.q, x -> x * x)) > 0
        ), scored AS (
            SELECT c.id,
                   CAST(list_sum(list_transform(range(1, {dim} + 1),
                                 j -> c.q[j] * qv.q[j])) AS DOUBLE)
                   / sqrt(list_sum(list_transform(c.q, x -> x * x))::DOUBLE
                          * list_sum(list_transform(qv.q, x -> x * x))::DOUBLE)
                   AS cos
            FROM cand c, qv
        )
        SELECT id AS vec_id, round(cos, 6) AS cosine
        FROM scored ORDER BY cos DESC, id LIMIT {k}
    """


def _j16_oracle(iterations: int = 3, damping: float = 0.85) -> str:
    """DuckDB oracle for fixed-iteration PageRank (mirrors
    operators/graph.py:pagerank over the undirected customer↔supplier
    edges): iterations unrolled as chained CTEs — identical arithmetic,
    no recursion."""
    base = 1.0 - damping
    its = []
    prev = "r0"
    for i in range(1, iterations + 1):
        its.append(f"""r{i} AS (
            SELECT n.id, {base} + {damping} * coalesce(s.inflow, 0) AS rank
            FROM nodes n LEFT JOIN (
                SELECT eu.dst AS id,
                       sum((r.rank / d.outdeg)::DECIMAL(28,12))::DOUBLE
                           AS inflow
                FROM eu JOIN {prev} r ON eu.src = r.id
                        JOIN outdeg d ON eu.src = d.src
                GROUP BY eu.dst) s USING (id)
        )""")
        prev = f"r{i}"
    chain = ",\n        ".join(its)
    return f"""
        WITH e AS (
            SELECT DISTINCT 'c-' || o_custkey AS src, 's-' || l_suppkey AS dst
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        ), eu AS (
            SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e
        ), nodes AS (
            SELECT DISTINCT src AS id FROM eu
        ), outdeg AS (
            SELECT src, count(*) AS outdeg FROM eu GROUP BY src
        ), r0 AS (
            SELECT id, 1.0 AS rank FROM nodes
        ),
        {chain}
        SELECT id, round(rank, 6) AS rank FROM {prev}
    """


def _j21_oracle(iterations: int = 3) -> str:
    """DuckDB oracle for fixed-round deterministic label propagation
    (mirrors operators/graph.py:label_propagation over the j17/j20
    co-purchase edges): rounds unrolled as chained CTEs; the per-node
    argmax replays min(struct(-cnt, label)) as a row_number over
    (cnt DESC, label)."""
    its = []
    prev = "l0"
    for i in range(1, iterations + 1):
        its.append(f"""v{i} AS (
            SELECT eu.src AS id, l.label, count(*) AS cnt
            FROM eu JOIN {prev} l ON eu.dst = l.id GROUP BY 1, 2
        ), b{i} AS (
            SELECT id, label AS new FROM (
                SELECT id, label,
                       row_number() OVER (PARTITION BY id
                                          ORDER BY cnt DESC, label) AS rn
                FROM v{i}) WHERE rn = 1
        ), l{i} AS (
            SELECT p.id, coalesce(b.new, p.label) AS label
            FROM {prev} p LEFT JOIN b{i} b USING (id)
        )""")
        prev = f"l{i}"
    chain = ",\n        ".join(its)
    return f"""
        WITH items AS (
            SELECT DISTINCT o.o_orderkey AS ok, l.l_partkey AS p
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderdate BETWEEN DATE '1995-03-01'
                                    AND DATE '1995-03-31'
        ), e AS (
            SELECT DISTINCT a.p AS src, b.p AS dst
            FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
        ), eu AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM e
                UNION ALL SELECT dst, src FROM e)
            WHERE src <> dst
        ), l0 AS (
            SELECT DISTINCT src AS id, src AS label FROM eu
        ),
        {chain}
        SELECT id, label FROM {prev}
    """


def _st6_oracle(d: int = 4, w: int = 256, threshold: int = 5) -> str:
    """Windowed-CMS replay: the _a23_oracle cell math with the
    hour-truncated event time as an extra group key (F.window 1-hour
    starts = date_trunc('hour'), both epoch-aligned — the st5 rule)."""
    return f"""
        WITH ev AS (
          SELECT strftime(date_trunc('hour', ts),
                          '%Y-%m-%d %H:%M:%S') AS g, event_type
          FROM events WHERE event_type IS NOT NULL
        ), cells AS (
          SELECT g, j.range AS j,
                 ('0x'||substr(md5(CAST(j.range AS VARCHAR)||'|'
                                   ||event_type), 1,15))::BIGINT % {w}
                     AS cell
          FROM ev, range({d}) j
        ), cms AS (
          SELECT g, j, cell, count(*) AS cnt FROM cells GROUP BY g, j, cell
        ), keys AS (
          SELECT DISTINCT g, event_type FROM ev
        ), probes AS (
          SELECT g, event_type, j.range AS j,
                 ('0x'||substr(md5(CAST(j.range AS VARCHAR)||'|'
                                   ||event_type), 1,15))::BIGINT % {w}
                     AS cell
          FROM keys, range({d}) j
        ), est AS (
          SELECT p.g, p.event_type,
                 min(coalesce(cms.cnt, 0)) AS est_count
          FROM probes p LEFT JOIN cms
            ON p.g = cms.g AND p.j = cms.j AND p.cell = cms.cell
          GROUP BY p.g, p.event_type
        )
        SELECT g AS window_start, event_type, est_count
        FROM est WHERE est_count >= {threshold}
    """


def _a30_oracle(cols: list[str] | None = None, quant: float = 100.0) -> str:
    """DuckDB oracle for the one-pass correlation matrix (mirrors
    operators/sketches.py:correlation_matrix over lineitem): identical
    integer quantization q = floor(x·quant + 0.5), pairwise-complete
    sums as HUGEINT (integer addition is associative, so the oracle
    needs no bucket replay — any summation order gives the engine's
    exact totals), identical final Pearson expression — one UNION ALL
    branch per pair (equivalence is on VALUES; the engine pays one
    scan, the oracle C(n,2))."""
    cols = cols or ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    branches = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            x, y = cols[i], cols[j]
            branches.append(f"""
            SELECT '{x}' AS col_x, '{y}' AS col_y, nn::BIGINT AS n,
                   round((nn::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                         / nullif(sqrt((nn::DOUBLE * sxx::DOUBLE
                                        - sx::DOUBLE * sx::DOUBLE)
                                       * (nn::DOUBLE * syy::DOUBLE
                                          - sy::DOUBLE * sy::DOUBLE)),
                                  0), 6) AS corr
            FROM (
              SELECT count(*) AS nn,
                     sum(qx)::HUGEINT AS sx, sum(qy)::HUGEINT AS sy,
                     sum(qx * qx)::HUGEINT AS sxx,
                     sum(qy * qy)::HUGEINT AS syy,
                     sum(qx * qy)::HUGEINT AS sxy
              FROM (SELECT floor({x}::DOUBLE * {quant!r} + 0.5)::HUGEINT
                               AS qx,
                           floor({y}::DOUBLE * {quant!r} + 0.5)::HUGEINT
                               AS qy
                    FROM lineitem
                    WHERE {x} IS NOT NULL AND {y} IS NOT NULL))""")
    return " UNION ALL ".join(branches)


def _v9_oracle(
    n_centroids: int = 16,
    threshold: float = 0.3,
    dim: int = 64,
    scale: int = 1_000_000,
) -> str:
    """DuckDB oracle for SemDeDup (mirrors operators/dedup.py
    semantic_dedup_portable: fixed lowest-id centroids, integer-dot
    assignment with (score DESC, cid) tiebreak, cluster-local pair scan,
    drop iff round(cos,6) >= threshold against a lower id)."""
    return f"""
        WITH q AS (
            SELECT vec_id AS id,
                   list_transform(embedding,
                       x -> CAST(floor(x::DOUBLE * {scale} + 0.5) AS BIGINT)) AS q
            FROM embeddings WHERE embedding IS NOT NULL
        ), nn AS (
            SELECT id, q, list_sum(list_transform(q, x -> x * x)) AS nq FROM q
        ), cents AS (
            SELECT * FROM (
                SELECT id AS cid, q AS cq FROM q ORDER BY id LIMIT {n_centroids}
            ) WHERE list_sum(list_transform(cq, x -> x * x)) > 0
        ), cnorm AS (
            SELECT cid, list_sum(list_transform(cq, x -> x * x)) AS nqc
            FROM cents
        ), scores AS (
            SELECT n.id, ct.cid,
                   CAST(list_sum(list_transform(range(1, {dim + 1}),
                                 i -> n.q[i] * ct.cq[i])) AS DOUBLE)
                   / sqrt(cn.nqc::DOUBLE) AS score
            FROM nn n, cents ct JOIN cnorm cn USING (cid)
        ), assign AS (
            SELECT id, cid FROM (
                SELECT id, cid,
                       row_number() OVER (PARTITION BY id
                                          ORDER BY score DESC, cid) AS rn
                FROM scores) WHERE rn = 1
        ), qa AS (
            SELECT a.id, a.cid, n.q, n.nq
            FROM assign a JOIN nn n USING (id) WHERE n.nq > 0
        ), dups AS (
            SELECT DISTINCT r.id
            FROM qa l JOIN qa r ON l.cid = r.cid AND l.id < r.id
            WHERE round(CAST(list_sum(list_transform(range(1, {dim + 1}),
                             i -> l.q[i] * r.q[i])) AS DOUBLE)
                        / sqrt(l.nq::DOUBLE * r.nq::DOUBLE), 6)
                  >= {threshold}
        )
        SELECT a.id AS vec_id, a.cid, (d.id IS NOT NULL) AS is_dup
        FROM assign a LEFT JOIN dups d ON d.id = a.id
    """


def _v12_oracle() -> str:
    """PQ-ADC replay: fixed codebooks from the 16 lowest-id quantized
    vectors, per-subspace argmin with (dist, code) tiebreak via
    min(struct), ADC table join, top-50 ADC cut then exact integer-L2
    refine — mirrors operators/similarity.py:pq_topk arithmetic
    exactly (same quantization contract as v8's oracle)."""
    import math

    qlist = "[" + ",".join(
        str(math.floor(x * 1_000_000 + 0.5)) for x in _pq_query_vec()
    ) + "]"
    return f"""
        WITH q AS (
          SELECT vec_id AS id,
                 list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                               AS BIGINT)) AS q
          FROM embeddings WHERE len(embedding) = 64
        ), cb AS (
          SELECT row_number() OVER (ORDER BY id) - 1 AS code, q
          FROM (SELECT id, q FROM q ORDER BY id LIMIT 16)
        ), sub AS (SELECT s.range AS s FROM range(8) s),
        dist AS (
          SELECT q.id, sub.s, cb.code,
                 CAST(list_sum(list_transform(range(1, 9),
                     i -> (q.q[CAST(sub.s*8+i AS INT)]
                           - cb.q[CAST(sub.s*8+i AS INT)])
                        * (q.q[CAST(sub.s*8+i AS INT)]
                           - cb.q[CAST(sub.s*8+i AS INT)])))
                      AS BIGINT) AS d
          FROM q, sub, cb
        ), best AS (
          SELECT id, s, min(struct_pack(d := d, code := code)) AS bc
          FROM dist GROUP BY id, s
        ), qv AS (SELECT {qlist}::BIGINT[] AS q),
        qdist AS (
          SELECT cb.code, sub.s,
                 CAST(list_sum(list_transform(range(1, 9),
                     i -> (qv.q[CAST(sub.s*8+i AS INT)]
                           - cb.q[CAST(sub.s*8+i AS INT)])
                        * (qv.q[CAST(sub.s*8+i AS INT)]
                           - cb.q[CAST(sub.s*8+i AS INT)])))
                      AS BIGINT) AS d
          FROM qv, sub, cb
        ), adist AS (
          SELECT b.id, CAST(sum(qd.d) AS BIGINT) AS adist
          FROM best b JOIN qdist qd ON b.s = qd.s AND b.bc.code = qd.code
          GROUP BY b.id
        ), cand AS (
          SELECT id FROM adist ORDER BY adist ASC, id LIMIT 50
        ), exact AS (
          SELECT q.id,
                 CAST(list_sum(list_transform(range(1, 65),
                     i -> (q.q[i] - qv.q[i]) * (q.q[i] - qv.q[i])))
                      AS BIGINT) AS adist
          FROM q JOIN cand USING (id), qv
        )
        SELECT id AS vec_id, adist
        FROM exact ORDER BY adist ASC, id LIMIT 10
    """


def _v13_oracle() -> str:
    """IVF-PQ replay: v12's PQ-ADC arithmetic composed with integer-L2
    cell routing — centroids = 16 lowest-id quantized vectors, corpus
    assignment by min(struct(d, cid)), probe cells = query's 4 nearest
    centroids, then the PQ encode/ADC/refine replay restricted to the
    probed rows. Mirrors operators/similarity.py:ivfpq_topk_portable
    exactly (same quantization contract as v8/v12)."""
    import math

    qlist = "[" + ",".join(
        str(math.floor(x * 1_000_000 + 0.5)) for x in _pq_query_vec()
    ) + "]"
    return f"""
        WITH q AS (
          SELECT vec_id AS id,
                 list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                               AS BIGINT)) AS q
          FROM embeddings WHERE len(embedding) = 64
        ), qv AS (SELECT {qlist}::BIGINT[] AS q),
        cents AS (
          SELECT row_number() OVER (ORDER BY id) - 1 AS cid, q AS cv
          FROM (SELECT id, q FROM q ORDER BY id LIMIT 16)
        ), cdist AS (
          SELECT q.id, c.cid,
                 CAST(list_sum(list_transform(range(1, 65),
                     i -> (q.q[i] - c.cv[i]) * (q.q[i] - c.cv[i])))
                      AS BIGINT) AS d
          FROM q, cents c
        ), assign AS (
          SELECT id, min(struct_pack(d := d, cid := cid)) AS bc
          FROM cdist GROUP BY id
        ), probes AS (
          SELECT c.cid,
                 CAST(list_sum(list_transform(range(1, 65),
                     i -> (qv.q[i] - c.cv[i]) * (qv.q[i] - c.cv[i])))
                      AS BIGINT) AS d
          FROM qv, cents c
          ORDER BY d ASC, c.cid LIMIT 4
        ), cand0 AS (
          SELECT q.id, q.q FROM q
          JOIN assign a ON a.id = q.id
          JOIN probes p ON p.cid = a.bc.cid
        ), cb AS (
          SELECT row_number() OVER (ORDER BY id) - 1 AS code, q
          FROM (SELECT id, q FROM q ORDER BY id LIMIT 16)
        ), sub AS (SELECT s.range AS s FROM range(8) s),
        dist AS (
          SELECT c0.id, sub.s, cb.code,
                 CAST(list_sum(list_transform(range(1, 9),
                     i -> (c0.q[CAST(sub.s*8+i AS INT)]
                           - cb.q[CAST(sub.s*8+i AS INT)])
                        * (c0.q[CAST(sub.s*8+i AS INT)]
                           - cb.q[CAST(sub.s*8+i AS INT)])))
                      AS BIGINT) AS d
          FROM cand0 c0, sub, cb
        ), best AS (
          SELECT id, s, min(struct_pack(d := d, code := code)) AS bc
          FROM dist GROUP BY id, s
        ), qdist AS (
          SELECT cb.code, sub.s,
                 CAST(list_sum(list_transform(range(1, 9),
                     i -> (qv.q[CAST(sub.s*8+i AS INT)]
                           - cb.q[CAST(sub.s*8+i AS INT)])
                        * (qv.q[CAST(sub.s*8+i AS INT)]
                           - cb.q[CAST(sub.s*8+i AS INT)])))
                      AS BIGINT) AS d
          FROM qv, sub, cb
        ), adist AS (
          SELECT b.id, CAST(sum(qd.d) AS BIGINT) AS adist
          FROM best b JOIN qdist qd ON b.s = qd.s AND b.bc.code = qd.code
          GROUP BY b.id
        ), cand AS (
          SELECT id FROM adist ORDER BY adist ASC, id LIMIT 50
        ), exact AS (
          SELECT c0.id,
                 CAST(list_sum(list_transform(range(1, 65),
                     i -> (c0.q[i] - qv.q[i]) * (c0.q[i] - qv.q[i])))
                      AS BIGINT) AS adist
          FROM cand0 c0 JOIN cand USING (id), qv
        )
        SELECT id AS vec_id, adist
        FROM exact ORDER BY adist ASC, id LIMIT 10
    """


def _a22_oracle(p: int = 8) -> str:
    """HLL replay: identical md5-60bit hash, register index/rank integer
    arithmetic, scaled-int indicator sum, one IEEE division, linear
    counting branch — mirrors operators/sketches.py:hll_cardinality."""
    m = 1 << p
    maxbits = 60 - p
    sp = maxbits + 1
    if m == 16:
        alpha = 0.673
    elif m == 32:
        alpha = 0.697
    elif m == 64:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    alpha_num = alpha * m * m * float(1 << sp)
    return f"""
        WITH h AS (
          SELECT l_returnflag AS g,
                 ('0x'||substr(md5(CAST(l_partkey AS VARCHAR)),1,15))::BIGINT AS h
          FROM lineitem WHERE l_partkey IS NOT NULL
        ), reg AS (
          SELECT g, h % {m} AS idx, h // {m} AS w FROM h
        ), rk AS (
          SELECT g, idx,
                 CASE WHEN w > 0 THEN {maxbits} - length(bin(w)) + 1
                      ELSE {maxbits + 1} END AS rho
          FROM reg
        ), regs AS (
          SELECT g, idx, max(rho) AS rho FROM rk GROUP BY g, idx
        ), agg AS (
          SELECT g, sum(1::BIGINT << ({sp} - rho)) AS s, count(*) AS n
          FROM regs GROUP BY g
        ), est AS (
          SELECT g,
                 {alpha_num!r} / CAST(s + ({m} - n) * (1::BIGINT << {sp})
                                      AS DOUBLE) AS raw,
                 CAST({m} - n AS DOUBLE) AS v
          FROM agg
        )
        SELECT g AS l_returnflag,
               CAST(floor(CASE WHEN raw <= {2.5 * m!r} AND v > 0
                               THEN {float(m)!r} * ln({float(m)!r} / v)
                               ELSE raw END + 0.5) AS BIGINT)
               AS n_distinct_est
        FROM est
    """


def _st5_oracle(p: int = 8) -> str:
    """Windowed-HLL replay: the _a22_oracle register math with the
    hour-truncated event time as the group (F.window 1-hour starts =
    date_trunc('hour'), both epoch-aligned)."""
    m = 1 << p
    maxbits = 60 - p
    sp = maxbits + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    alpha_num = alpha * m * m * float(1 << sp)
    return f"""
        WITH h AS (
          SELECT strftime(date_trunc('hour', ts),
                          '%Y-%m-%d %H:%M:%S') AS g,
                 ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT
                     AS h
          FROM events WHERE user_id IS NOT NULL
        ), reg AS (
          SELECT g, h % {m} AS idx, h // {m} AS w FROM h
        ), rk AS (
          SELECT g, idx,
                 CASE WHEN w > 0 THEN {maxbits} - length(bin(w)) + 1
                      ELSE {maxbits + 1} END AS rho
          FROM reg
        ), regs AS (
          SELECT g, idx, max(rho) AS rho FROM rk GROUP BY g, idx
        ), agg AS (
          SELECT g, sum(1::BIGINT << ({sp} - rho)) AS s, count(*) AS n
          FROM regs GROUP BY g
        ), est AS (
          SELECT g,
                 {alpha_num!r} / CAST(s + ({m} - n) * (1::BIGINT << {sp})
                                      AS DOUBLE) AS raw,
                 CAST({m} - n AS DOUBLE) AS v
          FROM agg
        )
        SELECT g AS window_start,
               CAST(floor(CASE WHEN raw <= {2.5 * m!r} AND v > 0
                               THEN {float(m)!r} * ln({float(m)!r} / v)
                               ELSE raw END + 0.5) AS BIGINT)
               AS n_distinct_est
        FROM est
    """


def _v14_oracle() -> str:
    """Multi-query PQ-ADC replay: v12's fixed-codebook encode/ADC math
    with the query SIDE as a relation (vec_id 1-3), per-query
    row_number top-5 with (adist, cid) tiebreak."""
    return """
        WITH q AS (
          SELECT vec_id AS id,
                 list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                               AS BIGINT)) AS q
          FROM embeddings WHERE len(embedding) = 64
        ), cb AS (
          SELECT row_number() OVER (ORDER BY id) - 1 AS code, q
          FROM (SELECT id, q FROM q ORDER BY id LIMIT 16)
        ), sub AS (SELECT s.range AS s FROM range(8) s),
        dist AS (
          SELECT q.id, sub.s, cb.code,
                 CAST(list_sum(list_transform(range(1, 9),
                     i -> (q.q[CAST(sub.s*8+i AS INT)]
                           - cb.q[CAST(sub.s*8+i AS INT)])
                        * (q.q[CAST(sub.s*8+i AS INT)]
                           - cb.q[CAST(sub.s*8+i AS INT)])))
                      AS BIGINT) AS d
          FROM q, sub, cb
        ), best AS (
          SELECT id, s, min(struct_pack(d := d, code := code)) AS bc
          FROM dist GROUP BY id, s
        ), qv AS (
          SELECT id AS qid, q FROM q WHERE id IN (1, 2, 3)
        ), qdist AS (
          SELECT qv.qid, cb.code, sub.s,
                 CAST(list_sum(list_transform(range(1, 9),
                     i -> (qv.q[CAST(sub.s*8+i AS INT)]
                           - cb.q[CAST(sub.s*8+i AS INT)])
                        * (qv.q[CAST(sub.s*8+i AS INT)]
                           - cb.q[CAST(sub.s*8+i AS INT)])))
                      AS BIGINT) AS d
          FROM qv, sub, cb
        ), adist AS (
          SELECT qd.qid, b.id AS cid, CAST(sum(qd.d) AS BIGINT) AS adist
          FROM best b JOIN qdist qd ON b.s = qd.s AND b.bc.code = qd.code
          GROUP BY qd.qid, b.id
        )
        SELECT qid, cid, adist FROM (
          SELECT qid, cid, adist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY adist ASC, cid) AS rn
          FROM adist
        ) WHERE rn <= 5
    """


def _x5_oracle() -> str:
    """Golden-map oracle for the phonetic dispatcher: the NAME SET is
    derived from the data in SQL (so a vocabulary drift in the parquet
    surfaces as a row-count mismatch), the VALUES come from the
    independently computed ``_X5_GOLDEN`` constants (see its comment
    for provenance); LEFT JOIN so an unmapped name yields NULLs — a
    hash mismatch, not a silently dropped row."""
    rows = ",\n            ".join(
        "('{}', '{}', '{}')".format(
            name.replace("'", "''"), sx, mp
        )
        for name, (sx, mp) in sorted(_X5_GOLDEN.items())
    )
    return f"""
        WITH names AS (
            SELECT DISTINCT p_name AS name FROM part
            UNION
            SELECT DISTINCT r_name AS name FROM region
        ), golden(name, soundex, metaphone) AS (
            VALUES {rows}
        )
        SELECT n.name, g.soundex, g.metaphone
        FROM names n LEFT JOIN golden g USING (name)
    """


def _j20_oracle(k: int = 4, rounds: int = 16) -> str:
    """Unrolled k-core peel (confluent → fixpoint-equal once converged;
    measured ≤ 5 rounds at both SFs, 16 unrolled for margin — post-
    convergence rounds are identity, and the extra CTEs peel shrinking
    edge sets, so the margin is nearly free). The j20 entry caps the
    engine at max_iter=16 so a dataset needing MORE rounds raises on
    the engine side instead of silently diverging from this replay."""
    base = """
        WITH items AS (
          SELECT DISTINCT o_orderkey AS ok, l_partkey AS p
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE o_orderdate >= DATE '1995-03-01'
            AND o_orderdate <= DATE '1995-03-31'
        ), e AS (
          SELECT a.p AS a, b.p AS b FROM items a JOIN items b USING (ok)
          WHERE a.p < b.p
        ), e0 AS MATERIALIZED (
          SELECT a, b FROM e UNION SELECT b, a FROM e
        )"""
    parts = [base]
    for i in range(1, rounds + 1):
        parts.append(f""", d{i} AS (
          SELECT a, count(*) AS c FROM e{i - 1} GROUP BY a
        ), k{i} AS MATERIALIZED (
          SELECT a FROM d{i} WHERE c >= {k}
        ), e{i} AS MATERIALIZED (
          SELECT e.a, e.b FROM e{i - 1} e
          JOIN k{i} ka ON e.a = ka.a
          JOIN k{i} kb ON e.b = kb.a
        )""")
    parts.append(
        f"\nSELECT DISTINCT a AS id FROM e{rounds} ORDER BY id"
    )
    return "".join(parts)


def _a26_oracle(p: int = 8) -> str:
    """Stacked register replay with the null-sentinel register —
    mirrors operators/sketches.py:profile_columns. Output counts cast
    to BIGINT (DuckDB SUM of BIGINT yields HUGEINT)."""
    m = 1 << p
    maxbits = 60 - p
    sp = maxbits + 1
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))
    alpha_num = alpha * m * m * float(1 << sp)
    stack = " UNION ALL ".join(
        f"SELECT '{c}' AS c, CAST({c} AS VARCHAR) AS v FROM documents"
        for c in ("text", "lang", "n_chars")
    )
    h = "('0x'||substr(md5(v),1,15))::BIGINT"
    return f"""
        WITH vals AS ({stack}), keyed AS (
          SELECT c, v,
                 CASE WHEN v IS NULL THEN -1 ELSE {h} % {m} END AS idx,
                 CASE WHEN v IS NULL THEN 0
                      WHEN {h} // {m} > 0
                      THEN {maxbits} - length(bin({h} // {m})) + 1
                      ELSE {maxbits + 1} END AS rho
          FROM vals
        ), regs AS (
          SELECT c, idx, max(rho) AS rho, count(*) AS cnt,
                 min(v) AS vmin, max(v) AS vmax
          FROM keyed GROUP BY c, idx
        ), agg AS (
          SELECT c,
                 sum(CASE WHEN idx >= 0
                          THEN 1::BIGINT << ({sp} - rho) END) AS s,
                 count(CASE WHEN idx >= 0 THEN 1 END) AS n,
                 coalesce(sum(CASE WHEN idx < 0 THEN cnt END), 0) AS n_nulls,
                 coalesce(sum(CASE WHEN idx >= 0 THEN cnt END), 0)
                   AS n_values,
                 min(CASE WHEN idx >= 0 THEN vmin END) AS min_value,
                 max(CASE WHEN idx >= 0 THEN vmax END) AS max_value
          FROM regs GROUP BY c
        ), est AS (
          SELECT c, n_values, n_nulls, min_value, max_value,
                 {alpha_num!r} / CAST(coalesce(s, 0)
                     + ({m} - n) * (1::BIGINT << {sp}) AS DOUBLE) AS raw,
                 CAST({m} - n AS DOUBLE) AS vv
          FROM agg
        )
        SELECT c AS "column",
               CAST(n_values AS BIGINT) AS n_values,
               CAST(n_nulls AS BIGINT) AS n_nulls,
               CASE WHEN n_values = 0 THEN 0
                    ELSE CAST(floor(CASE WHEN raw <= {2.5 * m!r} AND vv > 0
                                    THEN {float(m)!r} * ln({float(m)!r} / vv)
                                    ELSE raw END + 0.5) AS BIGINT) END
               AS n_distinct_est,
               min_value, max_value
        FROM est
    """


def _t23_oracle() -> str:
    """d16's cluster replay composed with the t6 split replay: split
    key = coalesce(cluster label, own id), md5-threshold CASE
    (0.8 → 'cccccccc')."""
    return f"""
        WITH clusters AS ({_d16_oracle()}),
        keyed AS (
          SELECT d.doc_id,
                 coalesce(CAST(c.cluster_id AS VARCHAR),
                          CAST(d.doc_id AS VARCHAR)) AS sk
          FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
        )
        SELECT doc_id,
               CASE WHEN substr(md5('seed' || sk), 1, 8) < 'cccccccc'
                    THEN 'train' ELSE 'test' END AS split
        FROM keyed
    """


def _a25_oracle(rate: float = 0.5) -> str:
    """Sample-quantile replay: identical md5-prefix sample threshold,
    (value, key) order, type-1 nearest-rank selection."""
    thr = format(min(int(rate * 2**32), 2**32 - 1), "08x")
    return f"""
        WITH s AS (
          SELECT n_chars AS value,
                 substr(md5('' || CAST(doc_id AS VARCHAR)), 1, 8) AS k
          FROM documents WHERE n_chars IS NOT NULL
        ), f AS (
          SELECT * FROM s WHERE k < '{thr}'
        ), r AS (
          SELECT value, row_number() OVER (ORDER BY value, k) AS r,
                 count(*) OVER () AS n
          FROM f
        ), p AS (
          SELECT unnest([0.25, 0.5, 0.9, 0.99]) AS prob
        )
        SELECT prob, value
        FROM r, p
        WHERE r.r = greatest(1, CAST(ceil(prob * n) AS INT))
        ORDER BY prob
    """


def _t21_oracle() -> str:
    """NB log-odds replay: token counts per corpus half, full-outer
    vocabulary join, Laplace-1 log-odds (bigint totals + double
    arithmetic — identical IEEE steps to the engine; ln variance
    absorbed by the round-6 convention), broadcast-score join, mean."""
    return """
        WITH toks AS (
          SELECT doc_id AS id, lang,
                 unnest(list_filter(
                     string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '')) AS token
          FROM documents WHERE text IS NOT NULL
        ), g AS (
          SELECT token, count(*) AS cg FROM toks WHERE lang = 'en'
          GROUP BY token
        ), b AS (
          SELECT token, count(*) AS cb FROM toks WHERE lang <> 'en'
          GROUP BY token
        ), j AS (
          SELECT coalesce(g.token, b.token) AS token,
                 coalesce(cg, 0) AS cg, coalesce(cb, 0) AS cb
          FROM g FULL OUTER JOIN b ON g.token = b.token
        ), tot AS (
          SELECT greatest(count(*), 1) AS v,
                 coalesce(sum(cg), 0) AS ng,
                 coalesce(sum(cb), 0) AS nb
          FROM j
        ), wts AS (
          SELECT token,
                 ln((cg + 1.0) / (ng + 1.0 * v))
                 - ln((cb + 1.0) / (nb + 1.0 * v)) AS weight
          FROM j, tot
        ), sc AS (
          SELECT t.id, w.weight FROM toks t JOIN wts w USING (token)
        )
        SELECT id, count(*) AS n_scored_tokens,
               round(avg(weight), 6) AS nb_score
        FROM sc GROUP BY id
    """


def _a24_oracle(p: int = 8) -> str:
    """Stacked per-column HLL replay — same register math as
    _a22_oracle over a UNION ALL of the profiled columns cast to
    VARCHAR (the exact stacking profile_cardinalities performs)."""
    m = 1 << p
    maxbits = 60 - p
    sp = maxbits + 1
    alpha = 0.7213 / (1.0 + 1.079 / m) if m > 64 else {16: 0.673, 32: 0.697, 64: 0.709}[m]
    alpha_num = alpha * m * m * float(1 << sp)
    stack = " UNION ALL ".join(
        f"SELECT '{c}' AS g, CAST({c} AS VARCHAR) AS k FROM lineitem "
        f"WHERE {c} IS NOT NULL"
        for c in ("l_partkey", "l_suppkey", "l_returnflag")
    )
    return f"""
        WITH vals AS ({stack}), h AS (
          SELECT g, ('0x'||substr(md5(k),1,15))::BIGINT AS h FROM vals
        ), reg AS (
          SELECT g, h % {m} AS idx, h // {m} AS w FROM h
        ), rk AS (
          SELECT g, idx,
                 CASE WHEN w > 0 THEN {maxbits} - length(bin(w)) + 1
                      ELSE {maxbits + 1} END AS rho
          FROM reg
        ), regs AS (
          SELECT g, idx, max(rho) AS rho FROM rk GROUP BY g, idx
        ), agg AS (
          SELECT g, sum(1::BIGINT << ({sp} - rho)) AS s, count(*) AS n
          FROM regs GROUP BY g
        ), est AS (
          SELECT g,
                 {alpha_num!r} / CAST(s + ({m} - n) * (1::BIGINT << {sp})
                                      AS DOUBLE) AS raw,
                 CAST({m} - n AS DOUBLE) AS v
          FROM agg
        )
        SELECT g AS "column",
               CAST(floor(CASE WHEN raw <= {2.5 * m!r} AND v > 0
                               THEN {float(m)!r} * ln({float(m)!r} / v)
                               ELSE raw END + 0.5) AS BIGINT)
               AS n_distinct_est
        FROM est
    """


def _a23_oracle(d: int = 4, w: int = 512, threshold: int = 100) -> str:
    """CMS replay: md5-60bit of ``j|token`` mod w per hash row, cell
    counts, min-over-rows point estimate, threshold filter — mirrors
    operators/sketches.py:cms_heavy_hitters."""
    return f"""
        WITH toks AS (
          SELECT unnest(list_filter(
              string_split_regex(lower(text), '[^a-z0-9]+'),
              x -> x != '')) AS token
          FROM documents WHERE text IS NOT NULL
        ), cells AS (
          SELECT j.range AS j,
                 ('0x'||substr(md5(CAST(j.range AS VARCHAR)||'|'||token),
                               1,15))::BIGINT % {w} AS cell
          FROM toks, range({d}) j
        ), cms AS (
          SELECT j, cell, count(*) AS cnt FROM cells GROUP BY j, cell
        ), keys AS (
          SELECT DISTINCT token FROM toks
        ), probes AS (
          SELECT token, j.range AS j,
                 ('0x'||substr(md5(CAST(j.range AS VARCHAR)||'|'||token),
                               1,15))::BIGINT % {w} AS cell
          FROM keys, range({d}) j
        ), est AS (
          SELECT token, min(coalesce(cms.cnt, 0)) AS est_count
          FROM probes LEFT JOIN cms USING (j, cell)
          GROUP BY token
        )
        SELECT token, est_count FROM est WHERE est_count >= {threshold}
    """


def _t30_oracle(n: int = 3, m_bits: int = 1 << 13, k: int = 2) -> str:
    """DuckDB oracle for Bloom n-gram decontamination — replays the
    exact md5 bit positions (operators/sketches.py:_bloom_pos), word
    packing (sum of distinct single-bit values = OR), and the k-probe
    AND, so even the filter's false positives match bit-for-bit."""
    sl = n - 1  # inclusive-slice span: tk[i:i+sl] is n elements
    grams = (
        f"list_transform(range(1, len(tk) - {n} + 2), "
        f"i -> array_to_string(tk[i:i+{sl}], ' '))"
    )
    pos = (
        "('0x' || substr(md5(CAST(j.range AS VARCHAR) || '|' || gram), "
        f"1, 15))::BIGINT % {m_bits}"
    )
    return f"""
        WITH toks AS (
          SELECT doc_id AS id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS tk
          FROM documents WHERE text IS NOT NULL
        ), bench_g AS (
          SELECT DISTINCT gram FROM (
            SELECT unnest({grams}) AS gram
            FROM toks WHERE id % 97 = 0 AND len(tk) >= {n})
        ), bench_pos AS (
          SELECT DISTINCT (p // 32) AS word_idx, (p % 32) AS bit FROM (
            SELECT {pos} AS p FROM bench_g, range({k}) j)
        ), bloom AS (
          SELECT word_idx, sum(1::BIGINT << CAST(bit AS INT))::BIGINT AS bits
          FROM bench_pos GROUP BY word_idx
        ), corpus_g AS (
          SELECT DISTINCT id, gram FROM (
            SELECT id, unnest({grams}) AS gram
            FROM toks WHERE id % 97 <> 0 AND len(tk) >= {n})
        ), gflag AS (
          SELECT gram,
                 min(CASE WHEN (coalesce(b.bits, 0)
                                & (1::BIGINT << CAST(p % 32 AS INT))) <> 0
                     THEN 1 ELSE 0 END) AS hit
          FROM (SELECT gram, {pos} AS p
                FROM (SELECT DISTINCT gram FROM corpus_g), range({k}) j) pr
          LEFT JOIN bloom b ON (pr.p // 32) = b.word_idx
          GROUP BY gram
        ), per_doc AS (
          SELECT id, count(*) AS n_grams, sum(g.hit) AS n_hits
          FROM corpus_g c JOIN gflag g USING (gram) GROUP BY id
        )
        SELECT id AS doc_id, n_grams::BIGINT AS n_grams,
               n_hits::BIGINT AS n_hits,
               round(n_hits::DOUBLE / n_grams::DOUBLE, 6) AS hit_rate
        FROM per_doc WHERE n_hits > 0
    """


def _t32_oracle(top_n: int = 500) -> str:
    """DuckDB oracle for the Hill-estimator Zipf exponent — same
    total-order top-n cut, per-term ln rounded to 12 dp and summed as
    DECIMAL (order-independent integer arithmetic, the _dsum rule),
    one final division rounded to 6 dp."""
    return f"""
        WITH tok AS (
          SELECT unnest(list_filter(
                     string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '')) AS token
          FROM documents WHERE text IS NOT NULL
        ), c AS (
          SELECT token, count(*) AS cnt FROM tok GROUP BY token
          ORDER BY cnt DESC, token LIMIT {top_n}
        ), fm AS (SELECT min(cnt) AS f_min FROM c
        ), t AS (
          SELECT f_min,
                 round(ln(cnt::DOUBLE / f_min::DOUBLE), 12)::DECIMAL(28,12)
                     AS lt
          FROM c, fm
        ), a AS (
          SELECT f_min, count(*) AS n_ranked, sum(lt) AS s
          FROM t GROUP BY f_min
        )
        SELECT n_ranked::BIGINT AS n_ranked, f_min::BIGINT AS f_min,
               CASE WHEN s > 0
                    THEN round(1.0 + n_ranked::DOUBLE / s::DOUBLE, 6)
               END AS alpha
        FROM a
    """


def _v17_oracle(k: int = 512) -> str:
    """DuckDB oracle for the KMV vocabulary-overlap report — replays
    the md5-60bit hash, the ORDER BY hv LIMIT k cuts, the union
    k-minima, and the (k−1)·2^60/h_k estimator exactly ((k−1)·2^60 has
    ≤10 significant bits, so the double literal is exact in both
    engines)."""
    scale = float((k - 1) * (1 << 60))
    return f"""
        WITH tok AS (
          SELECT doc_id, unnest(list_filter(
                     string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '')) AS token
          FROM documents WHERE text IS NOT NULL
        ), ha AS (
          SELECT DISTINCT ('0x' || substr(md5(token), 1, 15))::BIGINT AS hv
          FROM tok WHERE doc_id % 2 = 0 ORDER BY hv LIMIT {k}
        ), hb AS (
          SELECT DISTINCT ('0x' || substr(md5(token), 1, 15))::BIGINT AS hv
          FROM tok WHERE doc_id % 2 = 1 ORDER BY hv LIMIT {k}
        ), u AS (
          SELECT hv, max(in_a) AS in_a, max(in_b) AS in_b FROM (
            SELECT hv, 1 AS in_a, 0 AS in_b FROM ha
            UNION ALL SELECT hv, 0, 1 FROM hb)
          GROUP BY hv ORDER BY hv LIMIT {k}
        ), agg AS (
          SELECT count(*) AS n_union_minima,
                 sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                     AS n_shared,
                 max(hv) AS hk
          FROM u
        )
        SELECT n_shared::BIGINT AS n_shared,
               n_union_minima::BIGINT AS n_union_minima,
               round(n_shared::DOUBLE / n_union_minima::DOUBLE, 6)
                   AS jaccard_est,
               floor(CASE WHEN n_union_minima < {k}
                          THEN n_union_minima::DOUBLE
                          ELSE {scale!r} / hk::DOUBLE END + 0.5)::BIGINT
                   AS union_est,
               floor((n_shared::DOUBLE / n_union_minima::DOUBLE)
                     * (CASE WHEN n_union_minima < {k}
                             THEN n_union_minima::DOUBLE
                             ELSE {scale!r} / hk::DOUBLE END)
                     + 0.5)::BIGINT AS intersection_est
        FROM agg
    """


def oracle_sql() -> dict[str, str]:
    return {
        "j21_label_propagation": _j21_oracle(iterations=3),
        "st6_windowed_cms": _st6_oracle(d=4, w=256, threshold=5),
        "a30_correlation_matrix": _a30_oracle(),
        "j24_adamic_adar": """
            WITH items AS (
                SELECT DISTINCT o.o_orderkey AS ok, l.l_partkey AS p
                FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                WHERE o.o_orderdate BETWEEN DATE '1995-03-01'
                                        AND DATE '1995-03-31'
            ), e AS (
                SELECT DISTINCT a.p AS src, b.p AS dst
                FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
            ), adj AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT src, dst FROM e
                    UNION ALL SELECT dst, src FROM e)
                WHERE src <> dst
            ), deg AS (
                SELECT src, count(*) AS deg FROM adj GROUP BY src
            ), cw AS (
                SELECT src AS c,
                       round(1.0 / ln(deg::DOUBLE), 12)::DECIMAL(38,12)
                           AS w
                FROM deg WHERE deg >= 2
            )
            SELECT a.src AS node_a, b.src AS node_b,
                   count(*)::BIGINT AS shared,
                   round(sum(cw.w)::DOUBLE, 6) AS aa_score
            FROM adj a
            JOIN adj b ON a.dst = b.dst AND a.src < b.src
            JOIN cw ON cw.c = a.dst
            GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        "st7_windowed_moments": """
            WITH s AS (
              SELECT strftime(date_trunc('hour', ts),
                              '%Y-%m-%d %H:%M:%S') AS window_start,
                     count(*)::HUGEINT AS m0,
                     sum(q) AS m1, sum(q * q) AS m2,
                     sum(q * q * q) AS m3
              FROM (SELECT ts,
                           floor(value::DOUBLE * 100.0 + 0.5)::HUGEINT
                               AS q
                    FROM events WHERE value IS NOT NULL)
              GROUP BY 1
            )
            SELECT window_start, m0::BIGINT AS m0,
                   (CASE WHEN m1 >= 0
                     THEN ((m1 * 2000000 + m0) // (2 * m0))
                     ELSE -(((-m1) * 2000000 + m0) // (2 * m0))
                    END)::DOUBLE / 1000000.0 AS mean,
                   (((m0 * m2 - m1 * m1) * 2000000 + m0 * m0)
                    // (2 * m0 * m0))::DOUBLE / 1000000.0 AS variance,
                   CASE WHEN (m0 * m2 - m1 * m1) > 0 THEN
                     round((m0 * m0 * m3 - 3 * m0 * m1 * m2
                            + 2 * m1 * m1 * m1)::DOUBLE
                           / ((m0 * m0 * m0)::DOUBLE
                              * sqrt((m0 * m2 - m1 * m1)::DOUBLE
                                     / (m0 * m0)::DOUBLE)
                              * sqrt((m0 * m2 - m1 * m1)::DOUBLE
                                     / (m0 * m0)::DOUBLE)
                              * sqrt((m0 * m2 - m1 * m1)::DOUBLE
                                     / (m0 * m0)::DOUBLE)), 6)
                   END AS skewness
            FROM s
        """,
        "a31_ks_drift_by_source": """
            WITH base AS (
              SELECT source AS g, n_chars AS v FROM documents
              WHERE source IS NOT NULL AND n_chars IS NOT NULL
            ), gv AS (
              SELECT g, v, count(*) AS cnt FROM base GROUP BY g, v
            ), grid AS (
              SELECT gg.g, vv.v
              FROM (SELECT DISTINCT g FROM gv) gg,
                   (SELECT DISTINCT v FROM gv) vv
            ), j AS (
              SELECT grid.g, grid.v, coalesce(gv.cnt, 0) AS cnt
              FROM grid LEFT JOIN gv USING (g, v)
            ), cumg AS (
              SELECT g, v,
                     sum(cnt) OVER (PARTITION BY g ORDER BY v) AS cum_g
              FROM j
            ), vc AS (
              SELECT v, sum(cum_g) AS cum_all FROM cumg GROUP BY v
            ), tot AS (
              SELECT g, sum(cnt) AS n_g FROM gv GROUP BY g
            ), grand AS (
              SELECT sum(cnt) AS n_all FROM gv
            ), d AS (
              SELECT c.g, c.v, t.n_g, grand.n_all,
                     abs(c.cum_g::DOUBLE / t.n_g::DOUBLE
                         - (vc.cum_all - c.cum_g)::DOUBLE
                           / (grand.n_all - t.n_g)::DOUBLE) AS d
              FROM cumg c JOIN vc USING (v) JOIN tot t USING (g), grand
            )
            SELECT g AS "group", round(d, 6) AS d_stat, v AS at_value,
                   n_g::BIGINT AS n_group,
                   (n_all - n_g)::BIGINT AS n_rest
            FROM d
            QUALIFY row_number() OVER (
                PARTITION BY g ORDER BY d DESC, v) = 1
        """,
        "j23_neighbor_jaccard": """
            WITH items AS (
                SELECT DISTINCT o.o_orderkey AS ok, l.l_partkey AS p
                FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                WHERE o.o_orderdate BETWEEN DATE '1995-03-01'
                                        AND DATE '1995-03-31'
            ), e AS (
                SELECT DISTINCT a.p AS src, b.p AS dst
                FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
            ), adj AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT src, dst FROM e
                    UNION ALL SELECT dst, src FROM e)
                WHERE src <> dst
            ), deg AS (
                SELECT src, count(*) AS deg FROM adj GROUP BY src
            ), inter AS (
                SELECT a.src AS node_a, b.src AS node_b,
                       count(*) AS shared
                FROM adj a JOIN adj b
                  ON a.dst = b.dst AND a.src < b.src
                GROUP BY 1, 2 HAVING count(*) >= 2
            )
            SELECT node_a, node_b, shared,
                   da.deg AS degree_a, db.deg AS degree_b,
                   round(shared::DOUBLE
                         / (da.deg + db.deg - shared)::DOUBLE, 6)
                       AS jaccard
            FROM inter
            JOIN deg da ON node_a = da.src
            JOIN deg db ON node_b = db.src
        """,
        "t43_stratified_reservoir": """
            WITH keyed AS (
              SELECT doc_id, lang, n_chars,
                     round(ln((('0x'||substr(md5(doc_id::VARCHAR),1,8))
                               ::BIGINT + 0.5) / 4294967296.0), 12)
                         / n_chars::DOUBLE AS sk
              FROM documents
              WHERE lang IS NOT NULL AND n_chars IS NOT NULL
                AND n_chars > 0
            )
            SELECT doc_id, lang, n_chars, round(sk, 6) AS sample_key
            FROM keyed
            QUALIFY row_number() OVER (
                PARTITION BY lang ORDER BY sk DESC, doc_id) <= 20
        """,
        "t42_readability": """
            WITH base AS (
              SELECT doc_id AS id,
                     len(list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '')) AS n_words,
                     greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                         AS n_sentences,
                     len(regexp_extract_all(lower(text), '[aeiouy]+'))
                         AS n_syllables
              FROM documents WHERE text IS NOT NULL
            )
            SELECT id, n_words::INTEGER AS n_words,
                   n_sentences::INTEGER AS n_sentences,
                   n_syllables::INTEGER AS n_syllables,
                   round(0.39 * (n_words::DOUBLE / n_sentences::DOUBLE)
                         + 11.8 * (n_syllables::DOUBLE / n_words::DOUBLE)
                         - 15.59, 6) AS fk_grade
            FROM base WHERE n_words > 0
        """,
        "w10_ohlc_rollup": """
            WITH base AS (
              SELECT event_type AS key,
                     strftime(date_trunc('hour', ts),
                              '%Y-%m-%d %H:%M:%S') AS window_start,
                     ts, value, event_id
              FROM events
              WHERE value IS NOT NULL AND ts IS NOT NULL
            ), ranked AS (
              SELECT key, window_start, value,
                     row_number() OVER (PARTITION BY key, window_start
                                        ORDER BY ts, event_id) AS rf,
                     row_number() OVER (PARTITION BY key, window_start
                                        ORDER BY ts DESC, event_id DESC)
                         AS rl
              FROM base
            )
            SELECT key, window_start,
                   max(CASE WHEN rf = 1 THEN value END) AS open,
                   max(value) AS high,
                   min(value) AS low,
                   max(CASE WHEN rl = 1 THEN value END) AS close,
                   count(*)::BIGINT AS n
            FROM ranked GROUP BY 1, 2
        """,
        "v19_truncated_recall": """
            WITH q AS (
              SELECT vec_id AS qid, embedding FROM embeddings
              WHERE vec_id IN (0, 1, 2)
            ), c AS (
              SELECT vec_id AS cid, embedding FROM embeddings
              WHERE vec_id NOT IN (0, 1, 2)
            ), full_k AS (
              SELECT qid, cid FROM (
                SELECT q.qid, c.cid,
                       round(list_cosine_similarity(
                           CAST(q.embedding AS DOUBLE[]),
                           CAST(c.embedding AS DOUBLE[])), 6) AS cos
                FROM q, c)
              QUALIFY row_number() OVER (
                  PARTITION BY qid ORDER BY cos DESC, cid) <= 20
            ), trunc_k AS (
              SELECT qid, cid FROM (
                SELECT q.qid, c.cid,
                       round(list_cosine_similarity(
                           CAST(q.embedding[1:16] AS DOUBLE[]),
                           CAST(c.embedding[1:16] AS DOUBLE[])), 6) AS cos
                FROM q, c)
              QUALIFY row_number() OVER (
                  PARTITION BY qid ORDER BY cos DESC, cid) <= 20
            ), hits AS (
              SELECT f.qid, count(*) AS n
              FROM full_k f JOIN trunc_k t USING (qid, cid)
              GROUP BY f.qid
            )
            SELECT qid, 20::BIGINT AS k,
                   coalesce(h.n, 0)::BIGINT AS n_hits,
                   round(coalesce(h.n, 0) / 20.0, 6) AS recall
            FROM (SELECT DISTINCT qid FROM full_k) f
            LEFT JOIN hits h USING (qid)
        """,
        "u5_snapshot_diff": """
            WITH old AS (
              SELECT doc_id AS id, text FROM documents
              WHERE doc_id % 19 <> 18
            ), new AS (
              SELECT doc_id AS id,
                     CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 17 <> 16
            ), j AS (
              SELECT o.id AS oid, n.id AS nid, o.text AS ot, n.text AS nt
              FROM old o FULL OUTER JOIN new n ON o.id = n.id
            )
            SELECT status, count(*)::BIGINT AS n FROM (
              SELECT CASE WHEN oid IS NULL THEN 'added'
                          WHEN nid IS NULL THEN 'removed'
                          WHEN ot IS NOT DISTINCT FROM nt THEN 'unchanged'
                          ELSE 'changed' END AS status
              FROM j) GROUP BY status
        """,
        "t41_char_entropy": """
            WITH tall AS (
              SELECT doc_id AS id, unnest(string_split(text, '')) AS ch
              FROM documents WHERE text IS NOT NULL
            ), c AS (
              SELECT id, ch, count(*) AS c FROM tall GROUP BY id, ch
            ), p AS (
              SELECT id, sum(c) AS n,
                     sum(round(-(c::DOUBLE) * ln(c::DOUBLE), 12)
                         ::DECIMAL(38,12)) AS s
              FROM c GROUP BY id
            )
            SELECT id, n::BIGINT AS n_chars_counted,
                   round(round(ln(n::DOUBLE), 12)
                         + s::DOUBLE / n::DOUBLE, 6) AS entropy
            FROM p
        """,
        "j22_sorted_neighborhood": """
            WITH keyed AS (
              SELECT p_partkey AS id,
                     array_to_string(list_sort(list_distinct(list_filter(
                         string_split_regex(lower(p_name), '[^a-z0-9]+'),
                         x -> x <> ''))), ' ') AS key
              FROM part WHERE p_name IS NOT NULL
            ), ranked AS (
              SELECT id, key,
                     row_number() OVER (ORDER BY key, id) AS rank
              FROM keyed
            )
            SELECT l.id AS left_id, r.id AS right_id,
                   l.key AS left_key, r.key AS right_key,
                   (r.rank - l.rank)::INTEGER AS rank_distance
            FROM ranked l JOIN ranked r
              ON r.rank - l.rank BETWEEN 1 AND 3
        """,
        "t40_weighted_reservoir": """
            WITH keyed AS (
              SELECT doc_id, n_chars,
                     round(ln((('0x'||substr(md5(doc_id::VARCHAR),1,8))
                               ::BIGINT + 0.5) / 4294967296.0), 12)
                         / n_chars::DOUBLE AS sk
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 0
            )
            SELECT doc_id, n_chars, round(sk, 6) AS sample_key
            FROM keyed ORDER BY sk DESC, doc_id LIMIT 100
        """,
        "a29_ks_drift": """
            WITH u AS (
              SELECT n_chars AS v,
                     CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS side
              FROM documents
              WHERE n_chars IS NOT NULL AND lang IS NOT NULL
            ), counts AS (
              SELECT v,
                     sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ca,
                     sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cb
              FROM u GROUP BY v
            ), tot AS (
              SELECT sum(ca) AS na, sum(cb) AS nb FROM counts
            ), cum AS (
              SELECT v,
                     sum(ca) OVER (ORDER BY v) AS cuma,
                     sum(cb) OVER (ORDER BY v) AS cumb
              FROM counts
            ), diffs AS (
              SELECT v, abs(cuma::DOUBLE / na::DOUBLE
                            - cumb::DOUBLE / nb::DOUBLE) AS d
              FROM cum, tot
            )
            SELECT round(d, 6) AS d_stat, v AS at_value,
                   (SELECT na FROM tot)::BIGINT AS n_a,
                   (SELECT nb FROM tot)::BIGINT AS n_b
            FROM diffs ORDER BY d DESC, v LIMIT 1
        """,
        "d19_tfidf_cosine_pairs": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                 '[^a-z0-9]+'), x -> x != '') AS t
              FROM documents WHERE text IS NOT NULL
            ), sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                          ELSE list_distinct(
                              [array_to_string(t[i:i+2], ' ')
                               for i in generate_series(1, len(t) - 2)])
                     END AS s
              FROM toks WHERE len(t) > 0
            ), inv AS (
              SELECT doc_id AS id, unnest(s) AS term FROM sh
            ), nd AS (
              SELECT count(DISTINCT id) AS n_docs FROM inv
            ), idf AS (
              SELECT term,
                     round(ln(n_docs::DOUBLE / count(*)::DOUBLE), 12)
                         AS idf
              FROM inv, nd GROUP BY term, n_docs
              HAVING count(*) <= 50
            ), w AS (
              SELECT id, term, idf AS w FROM inv JOIN idf USING (term)
            ), norms AS (
              SELECT id,
                     sqrt(sum(round(w * w, 12)::DECIMAL(38,12))::DOUBLE)
                         AS nrm
              FROM w GROUP BY id
              HAVING sum(round(w * w, 12)::DECIMAL(38,12)) > 0
            ), u AS (
              SELECT term, id, w / nrm AS u FROM w JOIN norms USING (id)
            ), dots AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     round(sum(round(a.u * b.u, 12)::DECIMAL(38,12))
                           ::DOUBLE, 6) AS cos
              FROM u a JOIN u b ON a.term = b.term AND a.id < b.id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b, cos FROM dots WHERE cos >= 0.3
        """,
        "t38_pmi_collocations": """
            WITH d AS (
              SELECT list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS l
              FROM documents WHERE text IS NOT NULL
            ), uni AS (
              SELECT token, count(*) AS cnt_t
              FROM (SELECT unnest(l) AS token FROM d) GROUP BY token
            ), big_all AS (
              SELECT w1, w2, count(*) AS cnt FROM (
                SELECT l[i] AS w1, l[i + 1] AS w2
                FROM d, unnest(range(1, len(l))) AS t(i)
              ) GROUP BY w1, w2
            ), big AS (
              SELECT * FROM big_all WHERE cnt >= 3
            ), tot AS (
              SELECT (SELECT sum(cnt_t) FROM uni) AS n_uni,
                     (SELECT sum(cnt) FROM big_all) AS n_big
            )
            SELECT w1, w2, cnt,
                   round(ln(cnt::DOUBLE * n_uni::DOUBLE * n_uni::DOUBLE
                            / (n_big::DOUBLE * c1.cnt_t::DOUBLE
                               * c2.cnt_t::DOUBLE)), 12) AS pmi
            FROM big
            JOIN uni c1 ON big.w1 = c1.token
            JOIN uni c2 ON big.w2 = c2.token, tot
            ORDER BY pmi DESC, w1, w2 LIMIT 25
        """,
        "t39_idf_rarity": """
            WITH tall AS (
              SELECT doc_id AS id, unnest(list_filter(
                         string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '')) AS token
              FROM documents WHERE text IS NOT NULL
            ), nd AS (
              SELECT count(DISTINCT doc_id) AS n_docs
              FROM documents WHERE text IS NOT NULL
            ), idf AS (
              SELECT token,
                     round(ln(n_docs::DOUBLE
                              / count(DISTINCT id)::DOUBLE),
                           12)::DECIMAL(28,12) AS i
              FROM tall, nd GROUP BY token, n_docs
            )
            SELECT id, count(*) AS n_tokens,
                   round(sum(i)::DOUBLE / count(*)::DOUBLE, 6)
                       AS idf_rarity
            FROM tall JOIN idf USING (token)
            GROUP BY id
        """,
        "a27_log2_histogram": """
            WITH h AS (
              SELECT lang,
                     CASE WHEN n_chars < 0 THEN -1
                          WHEN n_chars = 0 THEN 0
                          ELSE length(bin(n_chars)) END AS bucket,
                     count(*) AS cnt
              FROM documents WHERE n_chars IS NOT NULL
              GROUP BY 1, 2
            ), c AS (
              SELECT lang, bucket,
                     sum(cnt) OVER (PARTITION BY lang
                                    ORDER BY bucket) AS cum,
                     sum(cnt) OVER (PARTITION BY lang) AS n
              FROM h
            ), p AS (SELECT unnest([0.5, 0.9, 0.99]) AS prob)
            SELECT lang, prob,
                   bucket::INTEGER AS bucket,
                   CASE WHEN bucket <= 0 THEN 0
                        ELSE (1::BIGINT << (bucket - 1)) END::BIGINT AS lo,
                   CASE WHEN bucket <= 0 THEN 0
                        ELSE (1::BIGINT << bucket) - 1 END::BIGINT AS hi
            FROM (
              SELECT lang, prob, min(bucket) AS bucket
              FROM c, p
              WHERE cum::DOUBLE / n::DOUBLE >= prob
              GROUP BY lang, prob)
        """,
        "a28_moments_profile": """
            WITH s AS (
              SELECT source,
                     count(*)::HUGEINT AS m0,
                     sum(n_chars::HUGEINT) AS m1,
                     sum(n_chars::HUGEINT * n_chars) AS m2,
                     sum(n_chars::HUGEINT * n_chars * n_chars) AS m3
              FROM documents WHERE n_chars IS NOT NULL
              GROUP BY source
            )
            SELECT source, m0::BIGINT AS m0,
                   (CASE WHEN m1 >= 0
                     THEN ((m1 * 2000000 + m0) // (2 * m0))
                     ELSE -(((-m1) * 2000000 + m0) // (2 * m0))
                    END)::DOUBLE / 1000000.0 AS mean,
                   (((m0 * m2 - m1 * m1) * 2000000 + m0 * m0)
                    // (2 * m0 * m0))::DOUBLE / 1000000.0 AS variance,
                   CASE WHEN (m0 * m2 - m1 * m1) > 0 THEN
                     round((m0 * m0 * m3 - 3 * m0 * m1 * m2
                            + 2 * m1 * m1 * m1)::DOUBLE
                           / ((m0 * m0 * m0)::DOUBLE
                              * sqrt((m0 * m2 - m1 * m1)::DOUBLE
                                     / (m0 * m0)::DOUBLE)
                              * sqrt((m0 * m2 - m1 * m1)::DOUBLE
                                     / (m0 * m0)::DOUBLE)
                              * sqrt((m0 * m2 - m1 * m1)::DOUBLE
                                     / (m0 * m0)::DOUBLE)), 6)
                   END AS skewness
            FROM s ORDER BY source
        """,
        "t34_phrase_match": """
            WITH lt AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                 '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents WHERE text IS NOT NULL
            ), tok AS (
              SELECT doc_id, unnest(toks) AS term,
                     unnest(range(0, len(toks))) AS pos
              FROM lt
            ),
            m0 AS (SELECT doc_id, pos AS start FROM tok
                   WHERE term = 'hash'),
            m1 AS (SELECT doc_id, pos - 1 AS start FROM tok
                   WHERE term = 'value'),
            m2 AS (SELECT doc_id, pos - 2 AS start FROM tok
                   WHERE term = 'table')
            SELECT m0.doc_id AS id, count(*)::BIGINT AS n_matches,
                   min(m0.start)::INTEGER AS first_pos
            FROM m0
            JOIN m1 ON m0.doc_id = m1.doc_id AND m0.start = m1.start
            JOIN m2 ON m0.doc_id = m2.doc_id AND m0.start = m2.start
            GROUP BY 1
        """,
        "t35_rake_keywords": """
            WITH lt AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                 '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents WHERE text IS NOT NULL
            ), tok AS (
              SELECT doc_id, unnest(toks) AS term,
                     unnest(range(0, len(toks))) AS pos
              FROM lt
            ), mk AS (
              SELECT doc_id, term, pos,
                     CASE WHEN term IN ('a', 'the') THEN 1 ELSE 0 END
                         AS is_stop
              FROM tok
            ), ph AS (
              SELECT doc_id, term, pos, is_stop,
                     sum(is_stop) OVER (PARTITION BY doc_id
                                        ORDER BY pos) AS phrase_id
              FROM mk
            ), words AS (
              SELECT doc_id, phrase_id, pos, term FROM ph
              WHERE is_stop = 0
            ), plen AS (
              SELECT doc_id, phrase_id, count(*) AS plen
              FROM words GROUP BY 1, 2
            ), wstats AS (
              SELECT w.doc_id, w.term,
                     round(sum(p.plen)::DOUBLE / count(*)::DOUBLE,
                           12)::DECIMAL(32,12) AS ratio
              FROM words w
              JOIN plen p ON w.doc_id = p.doc_id
                         AND w.phrase_id = p.phrase_id
              GROUP BY 1, 2
            ), scored AS (
              SELECT w.doc_id, w.phrase_id,
                     round(sum(s.ratio)::DOUBLE, 6) AS score,
                     count(*)::BIGINT AS n_words,
                     string_agg(w.term, ' ' ORDER BY w.pos) AS phrase
              FROM words w
              JOIN wstats s ON w.doc_id = s.doc_id AND w.term = s.term
              GROUP BY 1, 2
            )
            SELECT doc_id AS id, phrase, score, n_words FROM (
              SELECT doc_id, phrase, score, n_words,
                     row_number() OVER (
                         PARTITION BY doc_id
                         ORDER BY score DESC, phrase, phrase_id) AS rn
              FROM scored)
            WHERE rn <= 2
        """,
        "st5_windowed_hll": _st5_oracle(p=8),
        "d18_cluster_size_histogram": f"""
            WITH clusters AS ({{D16}}),
            sizes AS (
              SELECT cluster_id, count(*) AS size
              FROM clusters GROUP BY 1
            )
            SELECT CASE WHEN size < 0 THEN -1 WHEN size = 0 THEN 0
                        ELSE length(bin(size)) END::INTEGER AS bucket,
                   count(*) AS cnt
            FROM sizes GROUP BY 1
        """.replace("{D16}", _d16_oracle()),
        "t37_ngram_novelty": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 x -> x != '') AS t
              FROM documents
            ), sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                          ELSE list_distinct([array_to_string(t[i:i+2], ' ')
                               for i in generate_series(1, len(t) - 2)])
                     END AS s
              FROM toks WHERE len(t) > 0
            ), inv AS (
              SELECT doc_id, unnest(s) AS shingle FROM sh
            ), fr AS (
              SELECT shingle, count(*) AS df FROM inv GROUP BY 1
            )
            SELECT i.doc_id AS id,
                   count(*)::BIGINT AS n_grams,
                   sum(CASE WHEN fr.df = 1 THEN 1 ELSE 0 END)::BIGINT
                       AS n_novel,
                   round(sum(CASE WHEN fr.df = 1 THEN 1 ELSE 0 END)::DOUBLE
                         / count(*)::DOUBLE, 6) AS novelty
            FROM inv i JOIN fr USING (shingle)
            GROUP BY 1
        """,
        "w9_interval_overlap": """
            WITH sp AS (
              SELECT event_id AS id, user_id, event_type,
                     floor(epoch(ts))::BIGINT AS s,
                     floor(epoch(ts))::BIGINT + 600 AS e
              FROM events
            )
            SELECT l.id AS left_id, r.id AS right_id, l.user_id,
                   greatest(l.s, r.s)::BIGINT AS overlap_start,
                   least(l.e, r.e)::BIGINT AS overlap_end
            FROM sp l JOIN sp r
              ON l.user_id = r.user_id
             AND l.s < r.e AND r.s < l.e
            WHERE l.event_type = 'click' AND r.event_type = 'purchase'
        """,
        "v18_vocab_divergence": """
            WITH tok AS (
              SELECT doc_id % 2 AS side,
                     unnest(list_filter(string_split_regex(lower(text),
                            '[^a-z0-9]+'), x -> x <> '')) AS token
              FROM documents WHERE text IS NOT NULL
            ), c AS (
              SELECT token,
                     sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cnt_a,
                     sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cnt_b
              FROM tok GROUP BY 1
            ), t AS (
              SELECT sum(cnt_a) AS n_a, sum(cnt_b) AS n_b,
                     count(*) AS v
              FROM c
            ), pq AS (
              SELECT token, cnt_a, cnt_b,
                     (cnt_a::DOUBLE + 1.0)
                       / (n_a::DOUBLE + 1.0 * v::DOUBLE) AS p,
                     (cnt_b::DOUBLE + 1.0)
                       / (n_b::DOUBLE + 1.0 * v::DOUBLE) AS q
              FROM c, t
            )
            SELECT token, cnt_a::BIGINT AS cnt_a, cnt_b::BIGINT AS cnt_b,
                   round(p * ln(p / q) + q * ln(q / p), 12) AS contrib
            FROM pq
            ORDER BY contrib DESC, token LIMIT 20
        """,
        "t36_proximity_match": """
            WITH lt AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                 '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents WHERE text IS NOT NULL
            ), tok AS (
              SELECT doc_id, unnest(toks) AS term,
                     unnest(range(0, len(toks))) AS pos
              FROM lt
            ), c0 AS (
              SELECT doc_id, pos AS start, pos AS prev FROM tok
              WHERE term = 'hash'
            ), c1 AS (
              SELECT DISTINCT c0.doc_id, c0.start, t.pos AS prev
              FROM c0 JOIN tok t
                ON t.doc_id = c0.doc_id AND t.term = 'value'
               AND t.pos > c0.prev AND t.pos <= c0.prev + 3
            ), c2 AS (
              SELECT DISTINCT c1.doc_id, c1.start, t.pos AS prev
              FROM c1 JOIN tok t
                ON t.doc_id = c1.doc_id AND t.term = 'table'
               AND t.pos > c1.prev AND t.pos <= c1.prev + 3
            )
            SELECT doc_id AS id,
                   count(DISTINCT start)::BIGINT AS n_matches,
                   min(start)::INTEGER AS first_pos
            FROM c2 GROUP BY 1
        """,
        "d17_containment_pairs": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                 '[^a-z0-9]+'), x -> x != '') AS t
              FROM documents
            ), sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                          ELSE list_distinct([array_to_string(t[i:i+2], ' ')
                               for i in generate_series(1, len(t) - 2)])
                     END AS s
              FROM toks WHERE len(t) > 0
            ), inv AS (
              SELECT doc_id, len(s) AS setsize, unnest(s) AS shingle
              FROM sh
            ), fr AS (
              SELECT shingle, count(*) AS df FROM inv GROUP BY 1
            ), cut AS (
              SELECT i.doc_id, i.setsize, i.shingle
              FROM inv i JOIN fr USING (shingle) WHERE fr.df <= 64
            ), pairs AS (
              SELECT l.doc_id AS left_id, r.doc_id AS right_id,
                     l.setsize AS left_size,
                     count(*)::BIGINT AS overlap
              FROM cut l JOIN cut r
                ON l.shingle = r.shingle AND l.doc_id <> r.doc_id
              GROUP BY 1, 2, 3
            )
            SELECT left_id, right_id, overlap,
                   left_size::BIGINT AS left_size,
                   round(overlap::DOUBLE / left_size::DOUBLE, 6)
                       AS containment
            FROM pairs
            WHERE overlap::DECIMAL(20,6)
                  >= left_size::DECIMAL(20,6) * 0.6::DECIMAL(10,6)
        """,
        "t30_bloom_decontaminate": _t30_oracle(n=3, m_bits=1 << 13, k=2),
        "t31_bpe_fertility": _bpe_oracle(n_merges=12, mode="fertility"),
        "t32_zipf_alpha": _t32_oracle(top_n=500),
        "t33_quality_prune": """
            SELECT doc_id, source, n_chars FROM (
                SELECT doc_id, source, n_chars,
                       percent_rank() OVER (
                           PARTITION BY source
                           ORDER BY n_chars DESC, doc_id ASC) AS pr
                FROM documents WHERE n_chars IS NOT NULL)
            WHERE pr <= 0.2
        """,
        "v17_kmv_vocab_overlap": _v17_oracle(k=512),
        "s1_scan_project": """
            SELECT l_orderkey, l_linenumber,
                   strftime(l_shipdate, '%Y-%m-%d') AS ship_date
            FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01'
        """,
        "f3_comparator_filters": """
            SELECT o_orderkey, round(o_totalprice, 2) AS total_price,
                   strftime(o_orderdate, '%Y-%m-%d') AS order_date
            FROM orders
            WHERE o_orderstatus = 'F' AND o_totalprice >= 1000
              AND o_totalprice < 5000 AND o_orderdate >= TIMESTAMP '1996-01-01'
        """,
        "f5_prefix_filter": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_name LIKE 'Customer#00000001%'
        """,
        "f7_semi_join_reverse": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        """,
        "f8_search_ilike": """
            SELECT p_partkey, p_name FROM part
            WHERE lower(p_name) LIKE '%widget%'
        """,
        "j1_reverse_edges": """
            SELECT o_custkey AS c_custkey, count(*) AS n_orders,
                   strftime(max(o_orderdate), '%Y-%m-%d') AS last_order
            FROM orders GROUP BY o_custkey
        """,
        "j3_join_revenue_nation": """
            SELECT r_name, n_name,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        "j4_blocking_having": """
            SELECT l_partkey, count(DISTINCT l_orderkey) AS n_orders
            FROM lineitem GROUP BY l_partkey
            HAVING count(DISTINCT l_orderkey) > 5
        """,
        "a1_minmax": """
            SELECT strftime(min(o_orderdate), '%Y-%m-%d') AS min_date,
                   strftime(max(o_orderdate), '%Y-%m-%d') AS max_date,
                   round(min(o_totalprice), 2) AS min_price,
                   round(max(o_totalprice), 2) AS max_price
            FROM orders
        """,
        "a3_sum_filtered": """
            SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "a5_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_qty,
                   round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2001-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "a6_group_year": """
            SELECT year(o_orderdate) AS order_year, count(*) AS n_orders,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
            FROM orders GROUP BY 1
        """,
        "a7_group_cap": """
            SELECT o_orderpriority, count(*) AS n FROM orders
            GROUP BY o_orderpriority
            QUALIFY row_number() OVER (ORDER BY o_orderpriority) <= 3
        """,
        "a8_count_distinct": """
            SELECT c_mktsegment, count(DISTINCT o_custkey) AS n_customers,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "o1_topk_orders": """
            SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        """,
        "o2_slice_offset": """
            SELECT o_orderkey, o_orderstatus FROM orders
            ORDER BY o_orderkey LIMIT 20 OFFSET 10
        """,
        "u1_union": """
            SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
            UNION
            SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
        """,
        "u2_upsert_dedup": """
            SELECT count(*) AS n_rows FROM
            (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)
        """,
        "w1_window_latest": """
            SELECT o_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS order_date
            FROM orders
            QUALIFY row_number() OVER (
                PARTITION BY o_custkey
                ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
        """,
        "x1_fingerprint_names": """
            SELECT p_partkey,
                   array_to_string(list_sort(list_distinct(
                       list_filter(string_split_regex(lower(p_name), '[^a-z0-9]+'),
                                   x -> x != ''))), ' ') AS fp
            FROM part
        """,
        "x12_json_extract": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        """,
        "e1_entity_assembly": """
            SELECT 'c-' || c_custkey AS id, c_name AS caption,
                   'Company' AS entity_schema
            FROM customer
        """,
        "e2_entity_agg_group": """
            SELECT c_mktsegment AS segment, count(*) AS n_entities
            FROM customer GROUP BY c_mktsegment
        """,
        "e3_entity_filter_query": """
            SELECT 'c-' || c_custkey AS id, c_name AS caption FROM customer
            WHERE c_mktsegment = 'BUILDING' AND c_name LIKE 'Customer#0000001%'
        """,
        "m1_stats_view": """
            SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY source, lang
        """,
        "m3_pivot_stats": """
            SELECT source,
                   count(CASE WHEN lang = 'de' THEN 1 END) AS de,
                   count(CASE WHEN lang = 'en' THEN 1 END) AS en,
                   count(CASE WHEN lang = 'es' THEN 1 END) AS es,
                   count(CASE WHEN lang = 'fr' THEN 1 END) AS fr,
                   count(CASE WHEN lang = 'zh' THEN 1 END) AS zh
            FROM documents GROUP BY source
        """,
        "d2_exact_dup_groups": """
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
                   count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        "t1_text_profile": """
            SELECT doc_id,
                   len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   x -> x != '')) AS n_tokens,
                   length(text) AS n_chars_actual
            FROM documents
        """,
        "t2_token_topk": """
            SELECT token, count(*) AS n FROM (
                SELECT unnest(list_filter(
                    string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x != '')) AS token
                FROM documents)
            GROUP BY token ORDER BY n DESC, token LIMIT 20
        """,
        "t3_lang_stats": """
            SELECT lang, count(*) AS n_docs,
                   round(avg(n_chars), 4) AS avg_chars
            FROM documents GROUP BY lang
        """,
        "v1_ann_topk": """
            SELECT e.vec_id,
                   round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings e,
                 (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE e.vec_id != 0
            ORDER BY cosine DESC, e.vec_id LIMIT 20
        """,
        "e4_entity_adjacency": """
            SELECT 'customerReverse' AS prop, 'o-' || o_orderkey AS neighbour_id,
                   'in' AS direction
            FROM orders WHERE o_custkey = 1
        """,
        "e5_entity_search": """
            SELECT 'c-' || c_custkey AS id, c_name AS caption FROM customer
            WHERE position('00000101' IN lower(c_name)) > 0
        """,
        "a2_count_via_dsl": """
            SELECT count(*) AS n_entities FROM customer
        """,
        "d5_ngram_jaccard": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 x -> x != '') AS t
              FROM documents
            ), sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                          ELSE list_distinct([array_to_string(t[i:i+2], ' ')
                               for i in generate_series(1, len(t) - 2)])
                     END AS s
              FROM toks
            ), inv AS (
              SELECT doc_id, len(s) AS setsize, unnest(s) AS shingle FROM sh
            ), pairs AS (
              SELECT l.doc_id AS left_id, r.doc_id AS right_id,
                     l.setsize AS ls, r.setsize AS rs, count(*) AS inter
              FROM inv l JOIN inv r
                ON l.shingle = r.shingle AND l.doc_id < r.doc_id
              GROUP BY 1, 2, 3, 4
            )
            SELECT left_id, right_id,
                   round(inter / (ls + rs - inter), 6) AS jaccard
            FROM pairs WHERE inter / (ls + rs - inter) >= 0.5
        """,
        "v2_knn_join": """
            SELECT q.vec_id AS qid, c.vec_id AS cid,
                   round(list_cosine_similarity(
                       CAST(q.embedding AS DOUBLE[]),
                       CAST(c.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings q, embeddings c
            WHERE q.vec_id < 3
            QUALIFY row_number() OVER (
                PARTITION BY q.vec_id ORDER BY cosine DESC, c.vec_id) <= 5
        """,
        "v7_knn_join_numpy": """
            SELECT q.vec_id AS qid, c.vec_id AS cid,
                   round(list_cosine_similarity(
                       CAST(q.embedding AS DOUBLE[]),
                       CAST(c.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings q, embeddings c
            WHERE q.vec_id < 3
            QUALIFY row_number() OVER (
                PARTITION BY q.vec_id ORDER BY cosine DESC, c.vec_id) <= 5
        """,
        "x3_levenshtein_pairs": """
            SELECT l.s_suppkey AS left_id, r.s_suppkey AS right_id,
                   levenshtein(l.s_name, r.s_name) AS dist
            FROM supplier l JOIN supplier r ON l.s_suppkey < r.s_suppkey
            WHERE levenshtein(l.s_name, r.s_name) <= 2
        """,
        "st3_session_windows": """
            WITH marked AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), sess AS (
              SELECT user_id, ts,
                     sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sess_no
              FROM marked
            )
            SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   user_id, count(*) AS n_events
            FROM sess GROUP BY user_id, sess_no
        """,
        "j5_order_priority_exists": """
            SELECT o_orderpriority, count(*) AS order_count FROM orders
            WHERE o_orderdate >= TIMESTAMP '1998-01-01'
              AND o_orderdate < TIMESTAMP '1999-01-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > TIMESTAMP '1999-01-01')
            GROUP BY o_orderpriority
        """,
        "j6_top_customers": """
            SELECT c_custkey, c_name, n_name,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "j7_big_orders": """
            SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
                   total_qty
            FROM orders JOIN (
                SELECT l_orderkey,
                       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) > 150) big
              ON o_orderkey = big.l_orderkey
        """,
        "j9_shipping_priority": """
            SELECT l_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_orderpriority,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                                  * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2)
                        AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-06-15'
              AND l_shipdate  > TIMESTAMP '1998-06-15'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "a12_forecast_revenue": """
            SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                                  * CAST(l_discount AS DECIMAL(18,6))), 2)
                        AS DOUBLE) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
              AND l_discount BETWEEN 0.02 AND 0.04
              AND l_quantity < 24
        """,
        "a13_late_shipments": """
            SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_priority
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
            GROUP BY 1
        """,
        "j10_discounted_revenue": """
            SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                                  * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2)
                        AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "a11_promo_revenue": """
            SELECT round(
                100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
                / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) AS promo_share
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
        """,
        "j8_nation_volume": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l_shipdate) AS l_year,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS volume
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE n1.n_name != n2.n_name
            GROUP BY 1, 2, 3
        """,
        "a4_avg_via_dsl": """
            SELECT round(avg(c_acctbal), 4) AS avg_acctbal FROM customer
        """,
        "m2_fingerprint_freq": """
            SELECT fp, count(*) AS freq, length(min(fp)) AS len FROM (
                SELECT array_to_string(list_sort(list_distinct(
                           list_filter(string_split_regex(lower(p_name),
                                       '[^a-z0-9]+'), x -> x != ''))), ' ') AS fp
                FROM part)
            GROUP BY fp
        """,
        "u3_intersect": """
            SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
            INTERSECT
            SELECT o_orderkey FROM orders WHERE o_totalprice > 300000
        """,
        "u4_except": """
            SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
            EXCEPT
            SELECT o_orderkey FROM orders WHERE o_totalprice > 300000
        """,
        "e6_schema_hierarchy": """
            SELECT 'c-' || c_custkey AS id,
                   CASE WHEN c_custkey % 2 = 0 THEN 'Company' ELSE 'Person' END
                       AS entity_schema
            FROM customer
        """,
        "d6_jaccard_dedup_kept": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 x -> x != '') AS t
              FROM documents
            ), sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                          ELSE list_distinct([array_to_string(t[i:i+2], ' ')
                               for i in generate_series(1, len(t) - 2)])
                     END AS s
              FROM toks
            ), inv AS (
              SELECT doc_id, len(s) AS setsize, unnest(s) AS shingle FROM sh
            ), pairs AS (
              SELECT l.doc_id AS left_id, r.doc_id AS right_id,
                     l.setsize AS ls, r.setsize AS rs, count(*) AS inter
              FROM inv l JOIN inv r
                ON l.shingle = r.shingle AND l.doc_id < r.doc_id
              GROUP BY 1, 2, 3, 4
            ), dropped AS (
              SELECT DISTINCT right_id FROM pairs
              WHERE inter / (ls + rs - inter) >= 0.5
            )
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT right_id FROM dropped)
        """,
        "d7_connected_components": """
            WITH RECURSIVE edges AS (
              SELECT a.doc_id AS src, b.doc_id AS dst
              FROM documents a JOIN documents b
                ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
            ),
            sym AS (
              SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
            ),
            reach AS (
              SELECT src, dst FROM sym
              UNION
              SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src
            )
            SELECT CAST(src AS BIGINT) AS doc_id,
                   CAST(least(src, min(dst)) AS BIGINT) AS canonical_doc
            FROM reach GROUP BY src
        """,
        "w2_rank_spenders": """
            SELECT o_custkey,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS spend,
                   dense_rank() OVER (
                       ORDER BY CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
                           DESC, o_custkey) AS rnk
            FROM orders GROUP BY o_custkey
            QUALIFY rnk <= 15
        """,
        "a10_rollup": """
            SELECT coalesce(r_name, '(all)') AS region,
                   coalesce(n_name, '(all)') AS nation,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """,
        "a20_cube": """
            SELECT coalesce(o_orderpriority, '(all)') AS priority,
                   coalesce(o_orderstatus, '(all)') AS status,
                   count(*) AS n_orders,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
            FROM orders
            GROUP BY CUBE (o_orderpriority, o_orderstatus)
        """,
        "o4_deterministic_scan": """
            SELECT id, name FROM (
                SELECT 'c-' || c_custkey AS id, c_name AS name FROM customer)
            ORDER BY id, name LIMIT 50
        """,
        "v6_ann_topk_numpy": """
            SELECT e.vec_id,
                   round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings e,
                 (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE e.vec_id != 0
            ORDER BY cosine DESC, e.vec_id LIMIT 20
        """,
        "st4_sliding_windows": """
            SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, count(*) AS n, round(sum(value), 4) AS sum_value
            FROM (
                SELECT event_type, value,
                       unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                               time_bucket(INTERVAL 30 MINUTE, ts)
                                   - INTERVAL 30 MINUTE]) AS ws
                FROM events)
            GROUP BY 1, 2
        """,
        "st1_events_tumbling": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS window_start,
                   event_type, count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "st2_events_latest": """
            SELECT user_id, event_id, event_type FROM events
            QUALIFY row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        """,
        "t5_quality_scores": """
            SELECT doc_id,
                   round(least(n_tokens / 20.0, 1.0)
                         * (CASE WHEN (alnum / greatest(n_tokens, 1))
                                      BETWEEN 3 AND 10
                                 THEN 1.0 ELSE 0.5 END)
                         * (alnum / greatest(n_chars, 1)), 4) AS quality
            FROM (
                SELECT doc_id,
                       len(list_filter(
                           string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x != '')) AS n_tokens,
                       length(regexp_replace(
                           lower(text), '[^a-z0-9]', '', 'g')) AS alnum,
                       length(text) AS n_chars
                FROM documents)
        """,
        "t4_language_id": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x != '') AS t
                FROM documents),
            voted AS (
                SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                       list_max([
                           {'score': len(list_intersect(list_distinct(t),
                               ['der','die','das','und','ist','nicht','mit','ein','für','von'])),
                            'lang': 'de'},
                           {'score': len(list_intersect(list_distinct(t),
                               ['the','and','of','to','in','is','that','with','for','was'])),
                            'lang': 'en'},
                           {'score': len(list_intersect(list_distinct(t),
                               ['el','la','los','las','es','una','por','que','para','con'])),
                            'lang': 'es'},
                           {'score': len(list_intersect(list_distinct(t),
                               ['le','la','les','et','est','pas','une','pour','que','dans'])),
                            'lang': 'fr'}]) AS best
                FROM toks)
            SELECT doc_id, n_tokens,
                   CASE WHEN best.score > 0 THEN best.lang
                        ELSE 'und' END AS lang_pred
            FROM voted
        """,
        "j11_order_count_distribution": """
            SELECT c_count, count(*) AS custdist
            FROM (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer LEFT OUTER JOIN orders
                  ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
                GROUP BY c_custkey
            )
            GROUP BY c_count
        """,
        "a14_small_quantity_revenue": """
            SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                              AS DOUBLE) / 7.0, 2) AS avg_yearly
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN (
                SELECT l_partkey AS t_partkey,
                       0.2 * CAST(sum(CAST(l_quantity AS DECIMAL(18,6)))
                                  AS DOUBLE) / count(*) AS qty_limit
                FROM lineitem GROUP BY l_partkey
            ) t ON l_partkey = t_partkey
            WHERE p_brand = 'Brand#23' AND l_quantity < qty_limit
        """,
        "m4_top_supplier_revenue": """
            WITH revenue AS (
                SELECT l_suppkey,
                       sum(CAST(l_extendedprice AS DECIMAL(18,6))
                           * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS total
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1997-07-01'
                  AND l_shipdate <  TIMESTAMP '1997-10-01'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name,
                   CAST(round(total, 2) AS DOUBLE) AS total_revenue
            FROM revenue JOIN supplier ON l_suppkey = s_suppkey
            WHERE total = (SELECT max(total) FROM revenue)
        """,
        "j12_supplier_counts_anti": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
            JOIN part ON p_partkey = l_partkey
            WHERE p_brand <> 'Brand#45'
              AND p_type NOT LIKE 'MEDIUM%'
              AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
              AND l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
        """,
        "j13_late_sole_shippers": """
            SELECT s_name, count(*) AS numwait
            FROM lineitem l1
            JOIN orders   ON o_orderkey = l1.l_orderkey
            JOIN supplier ON s_suppkey = l1.l_suppkey
            JOIN nation   ON n_nationkey = s_nationkey
            WHERE o_orderstatus = 'F' AND n_name = 'NATION_7'
              AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_shipdate >
                                    o_orderdate + INTERVAL 90 DAY)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name LIMIT 20
        """,
        "a15_idle_rich_customers": """
            SELECT c_nationkey, count(*) AS numcust,
                   CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2)
                        AS DOUBLE) AS totacctbal
            FROM customer
            WHERE c_acctbal > (
                SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*)
                FROM customer WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderpriority = '1-URGENT')
            GROUP BY c_nationkey
        """,
        "j14_best_supplier_per_part": """
            WITH offers AS (
                SELECT DISTINCT p_partkey, p_name, s_name, s_acctbal
                FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
                JOIN part     ON p_partkey = l_partkey
                JOIN supplier ON s_suppkey = l_suppkey
                JOIN nation   ON n_nationkey = s_nationkey
                JOIN region   ON r_regionkey = n_regionkey
                WHERE r_name = 'EUROPE' AND p_size = 15
                  AND p_type = 'STANDARD'
            )
            SELECT p_partkey, p_name, s_name, s_acctbal
            FROM offers o
            WHERE s_acctbal = (SELECT max(s_acctbal) FROM offers i
                               WHERE i.p_partkey = o.p_partkey)
        """,
        "a16_part_value_share": """
            WITH per_part AS (
                SELECT l_partkey,
                       sum(CAST(l_extendedprice AS DECIMAL(18,6))
                           * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS value
                FROM lineitem GROUP BY l_partkey
            )
            SELECT l_partkey, CAST(round(value, 2) AS DOUBLE) AS part_value
            FROM per_part
            WHERE value > 1.5 * (SELECT CAST(sum(value) AS DOUBLE) / count(*)
                                 FROM per_part)
        """,
        "t6_hash_split": """
            SELECT split, count(*) AS n FROM (
                SELECT CASE
                    WHEN substr(md5('seed' || CAST(doc_id AS VARCHAR)), 1, 8)
                         < 'cccccccc' THEN 'train'
                    WHEN substr(md5('seed' || CAST(doc_id AS VARCHAR)), 1, 8)
                         < 'e6666666' THEN 'val'
                    ELSE 'test' END AS split
                FROM documents)
            GROUP BY split
        """,
        "t7_stratified_sample": """
            SELECT doc_id, lang FROM (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY substr(md5('s' || CAST(doc_id AS VARCHAR)),
                                           1, 8), doc_id) AS rn
                FROM documents)
            WHERE rn <= 10
        """,
        "t8_deterministic_shuffle": """
            SELECT doc_id,
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS shuffle_key
            FROM documents
        """,
        "a17_regional_share": """
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   round(
                     CAST(sum(CASE WHEN r_name = 'EUROPE'
                              THEN CAST(l_extendedprice AS DECIMAL(18,6))
                                   * (1 - CAST(l_discount AS DECIMAL(18,6)))
                              ELSE 0 END) AS DOUBLE)
                     / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                                * (1 - CAST(l_discount AS DECIMAL(18,6))))
                            AS DOUBLE), 6) AS eu_share
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY 1
        """,
        "a18_product_profit": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                                  * (1 - CAST(l_discount AS DECIMAL(18,6)))
                                  - CAST(p_retailprice AS DECIMAL(18,6))
                                    * CAST(0.1 AS DECIMAL(18,6))
                                    * CAST(l_quantity AS DECIMAL(18,6))), 2)
                        AS DOUBLE) AS profit
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
            GROUP BY 1, 2
        """,
        "j15_dominant_suppliers": """
            WITH per_pair AS (
                SELECT l_partkey, l_suppkey,
                       sum(CAST(l_quantity AS DECIMAL(18,6))) AS pair_qty
                FROM lineitem GROUP BY 1, 2
            ), per_part AS (
                SELECT l_partkey,
                       sum(CAST(l_quantity AS DECIMAL(18,6))) AS part_qty
                FROM lineitem GROUP BY 1
            )
            SELECT s_suppkey, s_name FROM supplier
            WHERE s_suppkey IN (
                SELECT DISTINCT p1.l_suppkey
                FROM per_pair p1 JOIN per_part p2 USING (l_partkey)
                WHERE CAST(pair_qty AS DOUBLE) > 0.2 * CAST(part_qty AS DOUBLE))
        """,
        "t10_mixture_sample": """
            SELECT source, count(*) AS n FROM documents
            WHERE substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8) <
                  CASE source
                      WHEN 'src0' THEN '40000000'
                      WHEN 'src1' THEN '80000000'
                      WHEN 'src2' THEN '00000000'
                      ELSE 'c0000000' END
            GROUP BY source
        """,
        "w3_asof_join": """
            SELECT e.event_id, e.user_id,
                   c.event_id AS prior_click_id,
                   round(c.value, 2) AS prior_click_value
            FROM (SELECT * FROM events WHERE event_type = 'error') e
            ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON e.user_id = c.user_id AND e.ts >= c.ts
        """,
        "d9_repetition_filter": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   x -> x <> '') AS t
                FROM documents
            ), grams AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
                FROM toks WHERE len(t) >= 3
            ), counts AS (
                SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
            ), per AS (
                SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
                       count(*) AS n_distinct
                FROM counts GROUP BY doc_id
            )
            SELECT doc_id, n_grams,
                   round(1 - n_distinct / CAST(n_grams AS DOUBLE), 6) AS dup_frac
            FROM per
            WHERE round(1 - n_distinct / CAST(n_grams AS DOUBLE), 6) > 0.02
        """,
        "w4_band_join": """
            WITH per_error AS (
                SELECT e.event_id, count(c.event_id) AS prior_clicks
                FROM (SELECT * FROM events WHERE event_type = 'error') e
                LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
                  ON e.user_id = c.user_id
                 AND c.ts >= e.ts - INTERVAL 10 MINUTE
                 AND c.ts <= e.ts
                GROUP BY e.event_id
            )
            SELECT prior_clicks, count(*) AS n_errors
            FROM per_error GROUP BY prior_clicks
        """,
        "a19_percentiles": """
            SELECT o_orderpriority,
                   round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
                   round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price,
                   count(*) AS n_orders
            FROM orders GROUP BY o_orderpriority
        """,
        "m6_multimodal_features": """
            -- replays the deterministic pixel arithmetic of m6's
            -- synthetic BMPs: the Spark side round-trips real BMP
            -- bytes (encode_bmp -> decode_image -> image_features), so
            -- a value match here checks the whole binary codec path
            WITH ids AS (
                SELECT doc_id FROM documents WHERE doc_id < 64
            ), grid AS (
                SELECT t1.range AS x, t2.range AS y
                FROM range(8) t1, range(8) t2
            ), px AS (
                SELECT i.doc_id,
                       ((x * (i.doc_id % 17 + 1) + 3) % 256) AS r,
                       ((y * 7 + i.doc_id) % 256) AS g,
                       ((x + y + i.doc_id * 5) % 256) AS b
                FROM ids i, grid
            )
            -- ::REAL replays the float32 quantization of the feature
            -- vector (ArrayType(FloatType)) so rounding ties break
            -- identically in both engines
            SELECT doc_id AS media_id,
                   round((avg(r / 255.0)::REAL)::DOUBLE, 6) AS mean_r,
                   round((avg(g / 255.0)::REAL)::DOUBLE, 6) AS mean_g,
                   round((avg(b / 255.0)::REAL)::DOUBLE, 6) AS mean_b
            FROM px GROUP BY doc_id
        """,
        "m7_audio_frames": """
            -- replays m7's deterministic PCM synthesis and the exact
            -- linspace frame bounds (i*N/4: power-of-two division, so
            -- float64 linspace == integer floor); the Spark side
            -- round-trips real WAV bytes, so a value match checks the
            -- whole encode -> split -> re-encode -> decode chain
            WITH ids AS (
                SELECT doc_id,
                       doc_id % 13 + 1 AS k,
                       64 + (doc_id % 5) * 16 AS n
                FROM documents WHERE doc_id < 48
            ), frames AS (
                SELECT doc_id, k, n, f.range AS frame_no,
                       (f.range * n) // 4 AS a,
                       ((f.range + 1) * n) // 4 AS b
                FROM ids, range(4) f
            )
            SELECT doc_id AS media_id, frame_no::BIGINT AS frame_no,
                   (b - a)::BIGINT AS n_samples,
                   list_sum(list_transform(range(a, b),
                            i -> (i * k) % 2048 - 1024))::BIGINT AS pcm_sum
            FROM frames
        """,
        "t19_pack_portable": """
            WITH RECURSIVE sized AS (
                SELECT doc_id AS id,
                       len(list_filter(
                           string_split_regex(lower(coalesce(text, '')),
                                              '[^a-z0-9]+'),
                           x -> x <> ''))::BIGINT AS size,
                       (('0x' || substr(md5('' || doc_id), 1, 8))::BIGINT
                        % 8)::INT AS bucket
                FROM documents
            ), ordered AS (
                SELECT id, size, bucket,
                       row_number() OVER (PARTITION BY bucket
                                          ORDER BY size DESC, id) AS rnk
                FROM sized
            ), r AS (
                SELECT bucket, rnk, id, size,
                       size AS bin_fill, 0::BIGINT AS bin_no
                FROM ordered WHERE rnk = 1
                UNION ALL
                SELECT o.bucket, o.rnk, o.id, o.size,
                       CASE WHEN r.bin_fill + o.size <= 256
                            THEN r.bin_fill + o.size ELSE o.size END,
                       CASE WHEN r.bin_fill + o.size <= 256
                            THEN r.bin_no ELSE r.bin_no + 1 END
                FROM ordered o
                JOIN r ON o.bucket = r.bucket AND o.rnk = r.rnk + 1
            )
            SELECT id AS doc_id, size AS n_tokens, bucket, bin_no, bin_fill
            FROM r
        """,
        "j18_edit1_name_pairs": """
            WITH s AS (
                SELECT DISTINCT c_custkey AS id, c_name AS s
                FROM customer
                WHERE c_name IS NOT NULL AND len(c_name) <= 64
            ), v AS (
                SELECT id, s,
                       unnest(list_distinct(list_append(
                           list_transform(range(1, len(s) + 1),
                               i -> substr(s, 1, i - 1) || substr(s, i + 1)),
                           s))) AS v
                FROM s
            )
            SELECT DISTINCT a.id AS left_id, b.id AS right_id,
                   a.s AS left_val, b.s AS right_val,
                   levenshtein(a.s, b.s)::BIGINT AS dist
            FROM v a JOIN v b USING (v)
            WHERE a.id < b.id AND a.s <> b.s
              AND levenshtein(a.s, b.s) <= 1
        """,
        "a21_data_checks": """
            WITH base AS (
                SELECT count(*) AS n,
                       sum((text IS NULL)::INT) AS null_text,
                       sum((lang IS NULL)::INT) AS null_lang,
                       sum((lang IS NOT NULL AND lang NOT IN
                            ('en','de','fr','es'))::INT) AS bad_lang,
                       sum((n_chars IS NOT NULL AND
                            (n_chars < 0 OR n_chars > 100000))::INT) AS oob
                FROM documents
            ), uniq AS (
                -- uniqueness among PRESENT values: both counts ignore
                -- nulls, mirroring check_report's count_distinct/count
                SELECT count(DISTINCT doc_id) AS dist,
                       count(doc_id) AS total
                FROM documents
            )
            SELECT 'min_rows' AS check, n::DOUBLE AS observed,
                   10.0 AS threshold, n >= 10 AS passed FROM base
            UNION ALL
            SELECT 'not_null:text', round(null_text / greatest(n, 1)::DOUBLE, 6),
                   0.0, null_text = 0 FROM base
            UNION ALL
            SELECT 'not_null:lang', round(null_lang / greatest(n, 1)::DOUBLE, 6),
                   0.0, null_lang = 0 FROM base
            UNION ALL
            SELECT 'accepted:lang', round(bad_lang / greatest(n, 1)::DOUBLE, 6),
                   0.0, bad_lang = 0 FROM base
            UNION ALL
            SELECT 'range:n_chars', round(oob / greatest(n, 1)::DOUBLE, 6),
                   0.0, oob = 0 FROM base
            UNION ALL
            SELECT 'unique:doc_id', dist::DOUBLE, total::DOUBLE,
                   dist = total FROM uniq
        """,
        "m9_moving_average": """
            WITH daily AS (
                SELECT event_type, ts::DATE AS day,
                       round(sum(value), 6) AS total
                FROM events GROUP BY event_type, ts::DATE
            )
            SELECT event_type, strftime(day, '%Y-%m-%d') AS day, total,
                   round(avg(total) OVER (
                       PARTITION BY event_type ORDER BY day
                       RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                                 AND CURRENT ROW), 6) AS ma7
            FROM daily
        """,
        "m8_resize_features": """
            -- nearest-neighbour 8->4 picks source pixels (2y, 2x);
            -- replay the channel means over that subgrid (+ float32
            -- feature quantization, as in m6)
            WITH ids AS (
                SELECT doc_id FROM documents WHERE doc_id < 48
            ), grid AS (
                SELECT t1.range * 2 AS x, t2.range * 2 AS y
                FROM range(4) t1, range(4) t2
            ), px AS (
                SELECT i.doc_id,
                       ((x * (i.doc_id % 17 + 1) + 3) % 256) AS r,
                       ((y * 7 + i.doc_id) % 256) AS g,
                       ((x + y + i.doc_id * 5) % 256) AS b
                FROM ids i, grid
            )
            SELECT doc_id AS media_id,
                   round((avg(r / 255.0)::REAL)::DOUBLE, 6) AS mean_r,
                   round((avg(g / 255.0)::REAL)::DOUBLE, 6) AS mean_g,
                   round((avg(b / 255.0)::REAL)::DOUBLE, 6) AS mean_b
            FROM px GROUP BY doc_id
        """,
        "m5_time_rollup": """
            WITH e AS (
                SELECT event_type,
                       strftime(date_trunc('day', ts), '%Y-%m-%d') AS d,
                       value
                FROM events
            )
            SELECT coalesce(event_type, '(all)') AS event_type,
                   coalesce(d, '(all)') AS day,
                   count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                     AS total_value
            FROM e
            GROUP BY ROLLUP(event_type, d)
        """,
        "d3_minhash_lsh_pairs": _d3_oracle(),
        "d16_minhash_clusters": _d16_oracle(),
        "v15_embedding_clusters": _v15_oracle(min_cosine=0.40, num_planes=4),
        "t26_bpe_merges": _bpe_oracle(n_merges=12, mode="merges"),
        "t27_bpe_vocab": _bpe_oracle(n_merges=12, mode="vocab", top=50),
        "t25_bm25_topk": _bm25_oracle(top=25),
        "v16_hybrid_rrf": _v16_oracle(n=50, k0=60, top=25),
        "t29_bm25_multi": _bm25_multi_oracle(
            {"q_exec": ["hash", "join"], "q_scan": ["scan", "table"],
             "q_agg": ["agg", "key", "row"]},
            top=10,
        ),
        "t28_temperature_mixture": """
            WITH cnts AS (
                SELECT source, count(*) AS n FROM documents GROUP BY source
            ), tot AS (
                SELECT CAST(sum(n) // 2 AS BIGINT) AS total FROM cnts
            ), ws AS (
                SELECT sum(sqrt(n::DOUBLE) ORDER BY source) AS wsum
                FROM cnts
            ), thr AS (
                SELECT c.source,
                       printf('%08x', least(CAST(trunc(
                           least(1.0, greatest(0.0,
                               (t.total::DOUBLE
                                * (sqrt(c.n::DOUBLE) / w.wsum))
                               / c.n::DOUBLE))
                           * 4294967296.0) AS BIGINT), 4294967295)) AS hx
                FROM cnts c, tot t, ws w
            )
            SELECT d.source, count(*)::BIGINT AS n
            FROM documents d JOIN thr ON d.source = thr.source
            WHERE substring(md5('tmix' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                  < thr.hx
            GROUP BY d.source
        """,
        "v12_pq_topk": _v12_oracle(),
        "v13_ivfpq_topk": _v13_oracle(),
        "a22_hll_cardinality": _a22_oracle(),
        "a23_cms_heavy_tokens": _a23_oracle(),
        "a24_column_profile": _a24_oracle(),
        "t21_nb_quality_scores": _t21_oracle(),
        "a25_sample_quantiles": _a25_oracle(),
        "v14_pq_knn_join": _v14_oracle(),
        "t23_leakage_free_split": _t23_oracle(),
        "a26_table_profile": _a26_oracle(),
        "j20_k_core": _j20_oracle(),
        "x5_phonetic_keys": _x5_oracle(),
        "v5_ivf_trained_deep": _v11_oracle(
            k=12, n_centroids=8, n_probe=3, iterations=3
        ),
        # packing-invariant oracle: the booleans are what a CORRECT
        # packer must always produce (see t9_pack_sequences docstring);
        # counts and total are genuine cross-engine values
        "t9_pack_sequences": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(sum(least(n_chars, 4096)) AS BIGINT) AS total_size,
                   true AS fill_le_budget,
                   true AS n_bins_ge_lb,
                   true AS n_bins_le_docs
            FROM documents
        """,
        "m11_audio_dup_pairs": """
            WITH ids AS (
              SELECT doc_id AS id, (doc_id % 24) % 13 + 1 AS k
              FROM documents WHERE doc_id < 48
            ), px AS (
              SELECT id, i.range AS i,
                     abs(((i.range * k) % 2048) - 1024) AS v
              FROM ids, range(128) i
            ), fr AS (
              SELECT id, i // 2 AS f, sum(v) AS e FROM px GROUP BY id, i // 2
            ), tot AS (
              SELECT id, sum(e) AS total FROM fr GROUP BY id
            ), bits AS (
              SELECT fr.id, f AS i,
                     CASE WHEN e * 64 > total THEN 1 ELSE 0 END AS b
              FROM fr JOIN tot USING (id)
            )
            SELECT l.id AS left_id, r.id AS right_id,
                   CAST(sum(CASE WHEN l.b <> r.b THEN 1 ELSE 0 END) AS INT)
                   AS hamming
            FROM bits l JOIN bits r ON l.i = r.i AND l.id < r.id
            GROUP BY l.id, r.id
            HAVING sum(CASE WHEN l.b <> r.b THEN 1 ELSE 0 END) <= 3
        """,
        "m10_image_dup_pairs": """
            WITH ids AS (
              SELECT doc_id AS id, doc_id % 24 AS s FROM documents
              WHERE doc_id < 48
            ), px AS (
              SELECT id, s, y.range AS y, x.range AS x,
                     ((x.range * (s % 17 + 1) + 3) % 256)
                     + ((y.range * 7 + s) % 256)
                     + ((x.range + y.range + s * 5) % 256) AS v
              FROM ids, range(8) y, range(8) x
            ), tot AS (
              SELECT id, sum(v) AS total FROM px GROUP BY id
            ), bits AS (
              SELECT px.id, y * 8 + x AS i,
                     CASE WHEN v * 64 > total THEN 1 ELSE 0 END AS b
              FROM px JOIN tot USING (id)
            )
            SELECT l.id AS left_id, r.id AS right_id,
                   CAST(sum(CASE WHEN l.b <> r.b THEN 1 ELSE 0 END) AS INT)
                   AS hamming
            FROM bits l JOIN bits r ON l.i = r.i AND l.id < r.id
            GROUP BY l.id, r.id
            HAVING sum(CASE WHEN l.b <> r.b THEN 1 ELSE 0 END) <= 3
        """,
        "j19_skew_hybrid_join": """
            SELECT o_orderpriority, count(*) AS n,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2)
                        AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "t24_c4_line_filter": r"""
            WITH base AS (
              SELECT doc_id AS id,
                     list_filter(string_split(text, chr(10)),
                                 x -> trim(x) <> '') AS nb
              FROM documents
            ), kept AS (
              SELECT id, nb,
                     list_filter(nb, x ->
                         regexp_matches(x, '[.!?"]\s*$')
                         AND len(string_split_regex(trim(x), '\s+')) >= 3
                         AND NOT contains(lower(x), 'javascript')) AS kl
              FROM base
            )
            SELECT id, CAST(coalesce(len(nb), 0) AS BIGINT) AS n_lines,
                   CAST(coalesce(len(kl), 0) AS BIGINT) AS n_kept,
                   coalesce(array_to_string(kl, chr(10)), '') AS text
            FROM kept
        """,
        "t22_token_budget": """
            WITH base AS (
              SELECT doc_id, n_chars,
                     substr(md5('' || CAST(doc_id AS VARCHAR)), 1, 8) AS k
              FROM documents
            ), c AS (
              SELECT doc_id, n_chars,
                     sum(n_chars) OVER (ORDER BY k, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum
              FROM base
            )
            SELECT doc_id, n_chars FROM c WHERE cum <= 100000
        """,
        "d4_simhash_pairs": _d4_oracle(),
        "v4_embedding_dups": _v4_oracle(min_cosine=0.40, num_planes=4),
        "v3_lsh_topk": _v3_oracle(),
        "v8_ivf_topk_portable": _v8_oracle(),
        "v10_ann_recall": _v10_oracle(),
        "v11_ivf_trained_portable": _v11_oracle(),
        "w5_funnel": """
            WITH e AS (
                SELECT user_id, ts, event_type FROM events
            ), s1 AS (
                SELECT user_id, min(ts) AS t1 FROM e
                WHERE event_type = 'view' GROUP BY user_id
            ), s2 AS (
                SELECT e.user_id, min(ts) AS t2
                FROM e JOIN s1 USING (user_id)
                WHERE event_type = 'click' AND ts > t1
                  AND ts <= t1 + INTERVAL 1 DAY
                GROUP BY e.user_id
            ), s3 AS (
                SELECT e.user_id, min(ts) AS t3
                FROM e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
                WHERE event_type = 'purchase' AND ts > t2
                  AND ts <= t1 + INTERVAL 1 DAY
                GROUP BY e.user_id
            )
            SELECT s1.user_id,
                   epoch_us(t1)::BIGINT AS t1_us,
                   epoch_us(t2)::BIGINT AS t2_us,
                   epoch_us(t3)::BIGINT AS t3_us,
                   (1 + (t2 IS NOT NULL)::INT + (t3 IS NOT NULL)::INT)::BIGINT
                       AS depth
            FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        """,
        "w6_retention": """
            WITH firsts AS (
                SELECT user_id, min(ts::DATE) AS cohort
                FROM events GROUP BY user_id
            ), days AS (
                SELECT DISTINCT user_id, ts::DATE AS day FROM events
            ), joined AS (
                SELECT d.user_id, f.cohort,
                       (d.day - f.cohort) AS off
                FROM days d JOIN firsts f USING (user_id)
            ), sizes AS (
                SELECT cohort, count(*) AS n_users FROM firsts GROUP BY cohort
            ), rets AS (
                SELECT cohort,
                       sum((off = 1)::INT) AS d1,
                       sum((off = 7)::INT) AS d7
                FROM joined GROUP BY cohort
            )
            SELECT strftime(s.cohort, '%Y-%m-%d') AS cohort, s.n_users,
                   coalesce(r.d1, 0)::BIGINT AS d1,
                   coalesce(r.d7, 0)::BIGINT AS d7
            FROM sizes s LEFT JOIN rets r USING (cohort)
        """,
        "w7_sessionize": """
            WITH e AS (
                SELECT user_id, ts, epoch_us(ts)::BIGINT AS us FROM events
            ), flagged AS (
                SELECT user_id, ts, us,
                       CASE WHEN lag(us) OVER w IS NULL
                              OR us - lag(us) OVER w > 1800000000
                            THEN 1 ELSE 0 END AS new_s
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
            ), numbered AS (
                SELECT user_id, ts, us,
                       sum(new_s) OVER (PARTITION BY user_id
                                        ORDER BY us) - 1 AS session_no
                FROM flagged
            )
            SELECT user_id, session_no::BIGINT AS session_no,
                   min(us) AS start_us, max(us) AS end_us,
                   count(*) AS n_events,
                   round((max(us) - min(us)) / 1000000.0, 6) AS duration_s
            FROM numbered GROUP BY user_id, session_no
        """,
        "w8_transitions": """
            WITH pairs AS (
                SELECT lag(event_type) OVER w AS from_type,
                       event_type AS to_type
                FROM events
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts, event_type)
            ), counts AS (
                SELECT from_type, to_type, count(*) AS n
                FROM pairs WHERE from_type IS NOT NULL
                GROUP BY from_type, to_type
            ), totals AS (
                SELECT from_type, sum(n) AS total FROM counts
                GROUP BY from_type
            )
            SELECT c.from_type, c.to_type, c.n,
                   round(c.n / t.total, 6) AS p
            FROM counts c JOIN totals t USING (from_type)
        """,
        "v9_semantic_dedup": _v9_oracle(),
        "d12_cross_dedup": _d12_oracle(),
        "j16_pagerank": _j16_oracle(),
        "j17_triangle_count": """
            WITH items AS (
                SELECT DISTINCT o.o_orderkey AS ok, l.l_partkey AS p
                FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                WHERE o.o_orderdate BETWEEN DATE '1995-03-01'
                                        AND DATE '1995-03-31'
            ), e AS (
                SELECT DISTINCT a.p AS u, b.p AS v
                FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
            ), tri AS (
                SELECT e1.u AS a, e1.v AS b, e2.v AS c
                FROM e e1
                JOIN e e2 ON e1.v = e2.u
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
            ), pn AS (
                SELECT id, count(*) AS triangles FROM (
                    SELECT unnest([a, b, c]) AS id FROM tri) GROUP BY id
            ), deg AS (
                SELECT id, count(*) AS degree FROM (
                    SELECT u AS id FROM e
                    UNION ALL SELECT v FROM e) GROUP BY id
            )
            SELECT d.id, d.degree, coalesce(p.triangles, 0) AS triangles,
                   CASE WHEN d.degree >= 2
                        THEN round(2.0 * coalesce(p.triangles, 0)
                                   / (d.degree * (d.degree - 1.0)), 6)
                        ELSE 0.0 END AS clustering
            FROM deg d LEFT JOIN pn p USING (id)
        """,
        "d14_exact_substring_dedup": """
            WITH segs AS (
                SELECT doc_id,
                       regexp_extract_all(coalesce(text, ''),
                           '[A-Za-z0-9]+|[^A-Za-z0-9]+') AS sg
                FROM documents
            ), toks AS (
                SELECT doc_id,
                       list_transform(
                           list_filter(sg,
                               s -> regexp_matches(s, '^[A-Za-z0-9]')),
                           s -> lower(s)) AS tk
                FROM segs
            ), grams_l AS (
                SELECT doc_id,
                       list_transform(
                           range(1, len(tk) - 6),
                           i -> md5(array_to_string(tk[i:i+7], ' '))
                       ) AS gs
                FROM toks WHERE len(tk) >= 8
            ), grams AS (
                SELECT doc_id,
                       generate_subscripts(gs, 1) - 1 AS pos,
                       unnest(gs) AS h
                FROM grams_l
            ), occ AS (
                SELECT doc_id, pos, pos + 7 AS e FROM (
                    SELECT doc_id, pos,
                           count(*) OVER (PARTITION BY h) AS cnt,
                           row_number() OVER (PARTITION BY h
                                              ORDER BY doc_id, pos) AS rn
                    FROM grams)
                WHERE cnt >= 2 AND rn >= 2
            ), isl AS (
                SELECT doc_id, pos, e,
                       max(e) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS prev_e
                FROM occ
            ), isl2 AS (
                SELECT doc_id, pos, e,
                       sum(CASE WHEN prev_e IS NULL OR pos > prev_e
                                THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY pos) AS island
                FROM isl
            ), spans AS (
                SELECT doc_id, min(pos) AS s, max(e) AS e
                FROM isl2 GROUP BY doc_id, island
            ), segrows AS (
                SELECT doc_id, generate_subscripts(sg, 1) AS si,
                       unnest(sg) AS seg
                FROM segs
            ), marked AS (
                -- token runs carry their own 0-based index (ntok-1);
                -- separator runs sit between token indices ntok-1 and
                -- ntok — cut only when strictly INSIDE one span
                SELECT doc_id, si, seg,
                       regexp_matches(seg, '^[A-Za-z0-9]') AS is_tok,
                       sum(CASE WHEN regexp_matches(seg, '^[A-Za-z0-9]')
                                THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY si) AS ntok
                FROM segrows
            ), cutflag AS (
                SELECT m.doc_id, m.si, m.seg, m.is_tok,
                       EXISTS (
                           SELECT 1 FROM spans sp
                           WHERE sp.doc_id = m.doc_id
                             AND sp.s <= m.ntok - 1
                             AND (CASE WHEN m.is_tok THEN m.ntok - 1
                                       ELSE m.ntok END) <= sp.e
                       ) AS cut
                FROM marked m
            ), agg AS (
                SELECT doc_id,
                       sum(CASE WHEN is_tok AND cut THEN 1 ELSE 0 END)
                           AS nrm,
                       string_agg(CASE WHEN NOT cut THEN seg END, ''
                                  ORDER BY si) AS txt
                FROM cutflag GROUP BY doc_id
            ), base AS (
                SELECT doc_id, len(tk)::BIGINT AS n_tokens FROM toks
            )
            SELECT b.doc_id, b.n_tokens,
                   coalesce(a.nrm, 0)::BIGINT AS n_removed,
                   md5(coalesce(a.txt, '')) AS clean_md5
            FROM base b LEFT JOIN agg a USING (doc_id)
        """,
        "d15_cross_substring_dedup": """
            WITH segs AS (
                SELECT doc_id,
                       regexp_extract_all(coalesce(text, ''),
                           '[A-Za-z0-9]+|[^A-Za-z0-9]+') AS sg
                FROM documents
            ), toks AS (
                SELECT doc_id,
                       list_transform(
                           list_filter(sg,
                               s -> regexp_matches(s, '^[A-Za-z0-9]')),
                           s -> lower(s)) AS tk
                FROM segs
            ), grams_l AS (
                SELECT doc_id,
                       list_transform(
                           range(1, len(tk) - 6),
                           i -> md5(array_to_string(tk[i:i+7], ' '))
                       ) AS gs
                FROM toks WHERE len(tk) >= 8
            ), grams AS (
                SELECT doc_id,
                       generate_subscripts(gs, 1) - 1 AS pos,
                       unnest(gs) AS h
                FROM grams_l
            ), corpus_h AS (
                SELECT DISTINCT h FROM grams WHERE doc_id < 250
            ), bgrams AS (
                SELECT doc_id, pos, h,
                       count(*) OVER (PARTITION BY h) AS cnt,
                       row_number() OVER (PARTITION BY h
                                          ORDER BY doc_id, pos) AS rn
                FROM grams WHERE doc_id >= 250
            ), occ AS (
                SELECT DISTINCT doc_id, pos, pos + 7 AS e
                FROM bgrams b
                WHERE b.h IN (SELECT h FROM corpus_h)
                   OR (b.cnt >= 2 AND b.rn >= 2)
            ), isl AS (
                SELECT doc_id, pos, e,
                       max(e) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS prev_e
                FROM occ
            ), isl2 AS (
                SELECT doc_id, pos, e,
                       sum(CASE WHEN prev_e IS NULL OR pos > prev_e
                                THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY pos) AS island
                FROM isl
            ), spans AS (
                SELECT doc_id, min(pos) AS s, max(e) AS e
                FROM isl2 GROUP BY doc_id, island
            ), segrows AS (
                SELECT doc_id, generate_subscripts(sg, 1) AS si,
                       unnest(sg) AS seg
                FROM segs WHERE doc_id >= 250
            ), marked AS (
                SELECT doc_id, si, seg,
                       regexp_matches(seg, '^[A-Za-z0-9]') AS is_tok,
                       sum(CASE WHEN regexp_matches(seg, '^[A-Za-z0-9]')
                                THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY si) AS ntok
                FROM segrows
            ), cutflag AS (
                SELECT m.doc_id, m.si, m.seg, m.is_tok,
                       EXISTS (
                           SELECT 1 FROM spans sp
                           WHERE sp.doc_id = m.doc_id
                             AND sp.s <= m.ntok - 1
                             AND (CASE WHEN m.is_tok THEN m.ntok - 1
                                       ELSE m.ntok END) <= sp.e
                       ) AS cut
                FROM marked m
            ), agg AS (
                SELECT doc_id,
                       sum(CASE WHEN is_tok AND cut THEN 1 ELSE 0 END)
                           AS nrm,
                       string_agg(CASE WHEN NOT cut THEN seg END, ''
                                  ORDER BY si) AS txt
                FROM cutflag GROUP BY doc_id
            ), base AS (
                SELECT doc_id, len(tk)::BIGINT AS n_tokens
                FROM toks WHERE doc_id >= 250
            )
            SELECT b.doc_id, b.n_tokens,
                   coalesce(a.nrm, 0)::BIGINT AS n_removed,
                   md5(coalesce(a.txt, '')) AS clean_md5
            FROM base b LEFT JOIN agg a USING (doc_id)
        """,
        "t16_weighted_sample": """
            SELECT doc_id, round(n_chars / 500.0, 6) AS w
            FROM documents
            WHERE ('0x' || substr(md5('t16' || doc_id), 1, 8))::BIGINT
                  < least(greatest(n_chars / 500.0, 0), 1) * 4294967296.0
        """,
        "d13_dedup_keep_best": """
            WITH RECURSIVE edges AS (
              SELECT a.doc_id AS src, b.doc_id AS dst
              FROM documents a JOIN documents b
                ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
            ),
            sym AS (
              SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
            ),
            reach AS (
              SELECT src, dst FROM sym
              UNION
              SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src
            ),
            comp AS (
              SELECT CAST(src AS BIGINT) AS doc_id,
                     CAST(least(src, min(dst)) AS BIGINT) AS canonical
              FROM reach GROUP BY src
            ),
            j AS (
              SELECT c.doc_id, c.canonical, d.n_chars::DOUBLE AS score
              FROM comp c JOIN documents d USING (doc_id)
            ),
            best AS (
              SELECT canonical, max(score) AS best_score,
                     count(*) AS n_members
              FROM j GROUP BY canonical
            )
            SELECT b.canonical AS canonical_doc, min(j.doc_id) AS keep_id,
                   b.n_members, b.best_score
            FROM j JOIN best b
              ON j.canonical = b.canonical AND j.score = b.best_score
            GROUP BY 1, 3, 4
        """,
        "t15_quality_gate": """
            WITH toks AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   x -> x <> '') AS t
                FROM documents WHERE text IS NOT NULL
            ), m AS (
                SELECT doc_id, t, len(t) AS n_tokens,
                       length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                           AS alnum,
                       length(text) AS n_chars,
                       len(list_filter(list_distinct(t),
                           x -> list_contains(['the','and','of','to','in',
                                               'is','that','with','for','was'],
                                              x))) AS n_stop
                FROM toks
            ), grams AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
                FROM toks WHERE len(t) >= 3
            ), counts AS (
                SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
            ), rep AS (
                SELECT doc_id,
                       1 - count(*) / CAST(sum(c) AS DOUBLE) AS dup_frac
                FROM counts GROUP BY doc_id
            )
            SELECT m.doc_id, m.n_tokens,
                   round(m.alnum / greatest(m.n_tokens, 1), 6) AS mean_word_len,
                   round(m.alnum / greatest(m.n_chars, 1), 6) AS alnum_ratio,
                   m.n_stop AS n_stopwords,
                   round(coalesce(r.dup_frac, 0), 6) AS dup_frac,
                   (m.n_tokens >= 32 AND m.n_tokens <= 100000
                    AND m.alnum / greatest(m.n_tokens, 1) >= 3.0
                    AND m.alnum / greatest(m.n_tokens, 1) <= 10.0
                    AND m.alnum / greatest(m.n_chars, 1) >= 0.6
                    AND m.n_stop >= 1
                    AND coalesce(r.dup_frac, 0) <= 0.05) AS keep
            FROM m LEFT JOIN rep r USING (doc_id)
        """,
        "t11_bigram_lm": """
            WITH toks AS (
                SELECT doc_id AS id,
                       list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   x -> x <> '') AS tk
                FROM documents WHERE text IS NOT NULL
            ), v AS (
                SELECT count(DISTINCT w) AS vs
                FROM (SELECT unnest(tk) AS w FROM toks)
            ), big AS (
                SELECT id, bg.w1 AS w1, bg.w2 AS w2
                FROM (SELECT id,
                             unnest(list_transform(range(1, len(tk)),
                                    i -> {'w1': tk[i], 'w2': tk[i+1]})) AS bg
                      FROM toks WHERE len(tk) >= 2)
            ), c2 AS (
                SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2
            ), c1 AS (
                SELECT w1, count(*) AS c1 FROM big GROUP BY w1
            )
            SELECT id AS doc_id, count(*) AS n_bigrams,
                   round(avg((ln(c1.c1 + 0.5 * v.vs) - ln(c2.c2 + 0.5))
                             / ln(2)), 6) AS bits_per_bigram
            FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
            GROUP BY id
        """,
        "t20_cross_corpus_lm": """
            WITH toks AS (
                SELECT doc_id AS id,
                       list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   x -> x <> '') AS tk
                FROM documents WHERE text IS NOT NULL
            ), ref AS (
                SELECT * FROM toks WHERE id < 250
            ), v AS (
                -- empty-LM contract (train_bigram_lm): vocab floored
                -- at 1 so ln() never sees 0 on a token-less ref corpus
                SELECT greatest(count(DISTINCT w), 1) AS vs
                FROM (SELECT unnest(tk) AS w FROM ref)
            ), refbig AS (
                SELECT bg.w1 AS w1, bg.w2 AS w2
                FROM (SELECT unnest(list_transform(range(1, len(tk)),
                             i -> {'w1': tk[i], 'w2': tk[i+1]})) AS bg
                      FROM ref WHERE len(tk) >= 2)
            ), c2 AS (
                SELECT w1, w2, count(*) AS c2 FROM refbig GROUP BY w1, w2
            ), c1 AS (
                SELECT w1, count(*) AS c1 FROM refbig GROUP BY w1
            ), big AS (
                SELECT id, bg.w1 AS w1, bg.w2 AS w2
                FROM (SELECT id,
                             unnest(list_transform(range(1, len(tk)),
                                    i -> {'w1': tk[i], 'w2': tk[i+1]})) AS bg
                      FROM toks WHERE id >= 250 AND len(tk) >= 2)
            )
            SELECT id AS doc_id, count(*) AS n_bigrams,
                   round(avg((ln(coalesce(c1.c1, 0) + 0.5 * v.vs)
                              - ln(coalesce(c2.c2, 0) + 0.5)) / ln(2)),
                         6) AS bits_per_bigram
            FROM big
            LEFT JOIN c2 USING (w1, w2)
            LEFT JOIN c1 USING (w1), v
            GROUP BY id
        """,
        "t17_perplexity_buckets": """
            WITH toks AS (
                SELECT doc_id AS id,
                       list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   x -> x <> '') AS tk
                FROM documents WHERE text IS NOT NULL
            ), v AS (
                SELECT count(DISTINCT w) AS vs
                FROM (SELECT unnest(tk) AS w FROM toks)
            ), big AS (
                SELECT id, bg.w1 AS w1, bg.w2 AS w2
                FROM (SELECT id,
                             unnest(list_transform(range(1, len(tk)),
                                    i -> {'w1': tk[i], 'w2': tk[i+1]})) AS bg
                      FROM toks WHERE len(tk) >= 2)
            ), c2 AS (
                SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2
            ), c1 AS (
                SELECT w1, count(*) AS c1 FROM big GROUP BY w1
            ), scored AS (
                SELECT id AS doc_id, count(*) AS n_bigrams,
                       round(avg((ln(c1.c1 + 0.5 * v.vs) - ln(c2.c2 + 0.5))
                                 / ln(2)), 6) AS bits_per_bigram
                FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
                GROUP BY id
            )
            SELECT doc_id, n_bigrams, bits_per_bigram,
                   CASE WHEN bits_per_bigram < 4.871234 THEN 'head'
                        WHEN bits_per_bigram < 4.912345 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM scored
        """,
        "t18_chunk_documents": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(coalesce(text, '')),
                                                      '[^a-z0-9]+'),
                                   x -> x <> '') AS tk
                FROM documents
            ), nums AS (
                SELECT doc_id, tk,
                       ceil(greatest(len(tk) - 48, 0) / 36.0)::INT AS last
                FROM toks WHERE len(tk) > 0
            ), chunks AS (
                SELECT doc_id, tk,
                       unnest(range(0, last + 1)) AS chunk_no
                FROM nums
            )
            SELECT doc_id,
                   chunk_no::BIGINT AS chunk_no,
                   len(tk[chunk_no*36+1 : chunk_no*36+48])::BIGINT
                       AS n_chunk_tokens,
                   md5(array_to_string(tk[chunk_no*36+1 : chunk_no*36+48],
                                       ' ')) AS chunk_md5
            FROM chunks
        """,
        "t12_tfidf_terms": """
            WITH toks AS (
                SELECT doc_id AS id,
                       list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   x -> x <> '') AS tk
                FROM documents WHERE text IS NOT NULL
            ), nd AS (
                SELECT count(DISTINCT doc_id) AS n FROM documents
            ), tf AS (
                SELECT id, term, count(*) AS tf
                FROM (SELECT id, unnest(tk) AS term FROM toks)
                GROUP BY id, term
            ), dfreq AS (
                SELECT term, count(*) AS df FROM tf GROUP BY term
            ), scored AS (
                SELECT id, term,
                       tf * (ln((nd.n + 1) / (dfreq.df + 1)) + 1) AS tfidf
                FROM tf JOIN dfreq USING (term), nd
            )
            SELECT id AS doc_id, term, round(tfidf, 6) AS tfidf, rank
            FROM (SELECT id, term, tfidf,
                         row_number() OVER (PARTITION BY id
                                            ORDER BY tfidf DESC, term) AS rank
                  FROM scored)
            WHERE rank <= 3
        """,
        "t13_pii_scrub": """
            WITH inj AS (
                SELECT doc_id,
                       text || ' contact u' || doc_id ||
                       '@mail.example.com node 10.1.' || (doc_id % 200) ||
                       '.7' ||
                       (CASE WHEN doc_id % 5 = 0
                             THEN ' card 4111222233334444' ELSE '' END) AS t
                FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT
                       AS n_emails,
                   len(regexp_extract_all(t,
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::BIGINT
                       AS n_ipv4,
                   len(regexp_extract_all(t, '\\b\\d{16}\\b'))::BIGINT AS n_cards,
                   length(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(t,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '[EMAIL]', 'g'),
                         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                         '[IPV4]', 'g'),
                       '\\b\\d{16}\\b', '[CARD]', 'g')
                   )::BIGINT AS redacted_len
            FROM inj
        """,
        "t14_winnow_fingerprints": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   x -> x <> '') AS tk
                FROM documents WHERE text IS NOT NULL
            ), h AS (
                SELECT doc_id,
                       list_transform(
                           list_transform(range(1, len(tk) - 2),
                               i -> array_to_string(tk[i:i+3], ' ')),
                           g -> ('0x' || substr(md5(g), 1, 15))::BIGINT) AS hs
                FROM toks WHERE len(tk) >= 4
            )
            SELECT DISTINCT doc_id, fp FROM (
                SELECT doc_id,
                       unnest(CASE WHEN len(hs) < 4 THEN [list_min(hs)]
                              ELSE list_transform(range(1, len(hs) - 2),
                                   j -> list_min(hs[j:j+3])) END) AS fp
                FROM h)
        """,
        "d10_winnow_overlap": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   x -> x <> '') AS tk
                FROM documents WHERE text IS NOT NULL
            ), h AS (
                SELECT doc_id,
                       list_transform(
                           list_transform(range(1, len(tk) - 2),
                               i -> array_to_string(tk[i:i+3], ' ')),
                           g -> ('0x' || substr(md5(g), 1, 15))::BIGINT) AS hs
                FROM toks WHERE len(tk) >= 4
            ), fps AS (
                SELECT DISTINCT doc_id, fp FROM (
                    SELECT doc_id,
                           unnest(CASE WHEN len(hs) < 4 THEN [list_min(hs)]
                                  ELSE list_transform(range(1, len(hs) - 2),
                                       j -> list_min(hs[j:j+3])) END) AS fp
                    FROM h)
            ), kept AS (
                SELECT doc_id, fp FROM fps
                WHERE fp IN (SELECT fp FROM fps
                             GROUP BY fp HAVING count(*) <= 50)
            )
            SELECT l.doc_id AS left_id, r.doc_id AS right_id,
                   count(*)::BIGINT AS n_shared
            FROM kept l JOIN kept r ON l.fp = r.fp AND l.doc_id < r.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        "d11_line_dedup": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   x -> x <> '') AS tk
                FROM documents
            ), lined AS (
                SELECT doc_id,
                       list_transform(
                           range(1, greatest(ceil(len(tk)/2.0)::INT, 1) + 1),
                           i -> array_to_string(tk[(i-1)*2+1:(i-1)*2+2], ' ')
                       ) AS ls
                FROM toks
            ), lines AS (
                SELECT doc_id, pos, line FROM (
                    SELECT doc_id,
                           generate_subscripts(ls, 1) - 1 AS pos,
                           unnest(ls) AS line
                    FROM lined)
                WHERE trim(line) <> ''
            ), ranked AS (
                SELECT doc_id, pos, line,
                       row_number() OVER (PARTITION BY md5(line)
                                          ORDER BY doc_id, pos) AS rn
                FROM lines
            ), kept AS (
                SELECT doc_id, pos, line FROM ranked WHERE rn = 1
            ), counts AS (
                SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id
            ), agg AS (
                SELECT doc_id, count(*) AS n_kept,
                       md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
                FROM kept GROUP BY doc_id
            )
            SELECT c.doc_id, c.n_lines,
                   coalesce(a.n_kept, 0) AS n_kept,
                   coalesce(a.clean_md5, md5('')) AS clean_md5
            FROM counts c LEFT JOIN agg a USING (doc_id)
        """,
        "d8_decontamination": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   x -> x <> '') AS t
                FROM documents
            ), grams AS (
                SELECT doc_id,
                       unnest(CASE WHEN len(t) <= 8
                              THEN [array_to_string(t, ' ')]
                              ELSE list_distinct(list_transform(
                                   range(1, len(t) - 6),
                                   i -> array_to_string(t[i:i+7], ' '))) END
                       ) AS gram
                FROM toks WHERE len(t) > 0
            )
            SELECT c.doc_id AS corpus_id, b.doc_id AS benchmark_id,
                   count(*) AS n_shared_ngrams
            FROM (SELECT * FROM grams WHERE doc_id >= 20) c
            JOIN (SELECT * FROM grams WHERE doc_id < 20) b USING (gram)
            GROUP BY 1, 2
        """,
    }
