"""Capture .explain("formatted") physical plans of headline queries.

    python tools/capture_plans.py --round N before|after [query ...]
    python tools/capture_plans.py --doc

``--round`` writes plans/r<NN>/<query>_<tag>.txt (N zero-padded to two
digits) for the named queries, by default every headline query in
bench.py, at $SPARK_GRAFT_SF_DIR. ``--doc`` regenerates docs/PLANS.md:
the plans of the ``PICKS`` queries at sf0.01 (the sibling of
$SPARK_GRAFT_SF_DIR) on local[8], each under a note on what to verify in
it (pushdown, broadcast, WindowGroupLimit, TakeOrderedAndProject).
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402

DOC_SF_DIR = os.path.join(os.path.dirname(bench.SF_DIR.rstrip("/")), "sf0.01")

PICKS = {
    "s1_scan_project": "filter + projection reach the parquet scan (PushedFilters, pruned ReadSchema)",
    "j3_join_revenue_nation": "star join: every dimension broadcast, fact scanned once, partial+final agg",
    "o1_topk_orders": "top-k plans as TakeOrderedAndProject (no global sort)",
    "w1_window_latest": "latest-wins window uses WindowGroupLimit partial+final (rank pushdown)",
    "e1_entity_assembly": "entity pivot: two-stage ObjectHashAggregate keyed on (canonical_id[, prop])",
    "e3_entity_filter_query": "entity filter query: both prop criteria fold into ONE frontier HashAggregate on canonical_id (one max(<criterion>) flag each), fed by a Filter that ORs the criteria so only matching statements shuffle; the flags' AND picks the ids, broadcast into the whole-entity semi-join",
    "v1_ann_topk": "ANN brute force: single-row broadcast + one scan + TakeOrderedAndProject",
    "a12_forecast_revenue": "Q6 shape: every predicate in PushedFilters, 4-column ReadSchema, no shuffle before partial agg",
    "j9_shipping_priority": "Q3 shape: filtered dimension broadcast, big-side join, TakeOrderedAndProject top-10",
    "j11_order_count_distribution": "Q13 shape: outer join keeps zero-order customers, two stacked hash aggregates, one shuffle each",
    "a14_small_quantity_revenue": "Q17 shape: correlated avg decorrelated to a pre-agg reusing the fact scan, joined back on the grouping key",
    "j13_late_sole_shippers": "Q21 shape: one fact join + stacked pair/order hash aggregates (both existentials as conditional aggs, no Expand, no anti-join), dims broadcast",
    "u2_upsert_dedup": "dedup-on-read: max-struct HashAggregate with partial_max BEFORE the exchange (duplicates collapse map-side), no Window",
    "w3_asof_join": "as-of join: union + ONE per-key Window carry-forward scan — no range-join pair blow-up, one exchange on the key",
    "w4_band_join": "band join: ordinary shuffled equi-join on (key, band-width time bucket) + residual band filter — pair expansion bucket-local",
    "d9_repetition_filter": "repetition profile: one narrow Arrow mapInPandas pass straight off the scan — ZERO exchanges at any corpus size",
    "d3_minhash_lsh_pairs": "portable MinHash-LSH: one Arrow shingling pass, ONE codegen'd 32-min-agg shuffle on doc id, banded self-join on (band, bucket) — signature+banding computed once (persisted), not inlined per join side",
    "v8_ivf_topk_portable": "IVF serve path: centroid assignment = explode + broadcast component join + two hash aggregates; probe filter on the assigned centroid; TakeOrderedAndProject re-rank",
    "t14_winnow_fingerprints": "winnowing: ONE exchange+sort on doc id reused by BOTH window passes (gram lead chain, then rolling min); final distinct is a partial+final hash agg",
    "d11_line_dedup": "line dedup: partial_min(struct) BEFORE the exchange on the line hash — hot boilerplate lines collapse map-side; reassembly is one per-doc agg",
    "v9_semantic_dedup": "SemDeDup: broadcast centroid assignment, pair join keyed on the CLUSTER id (cost bounded by max cluster size, never corpus x corpus)",
    "d14_exact_substring_dedup": "ExactSubstr: one map-side-combinable gram agg + join back on the md5 gram key; BOTH island-merge windows partition by doc id and reuse one exchange+sort — no global sort anywhere",
    "j17_triangle_count": "triangles: degree-ordered orientation, wedge self-join keyed on the low vertex, closing hash join — every join keyed, no cartesian",
    "w5_funnel": "funnel: one keyed agg + co-partitioned join per step, frontier sides broadcast when small; no windows, no explode",
    "w7_sessionize": "sessionize: ONE per-user window pass (lag + running sum share the exchange+sort) feeding one grouped agg — no global sort",
    "d15_cross_substring_dedup": "incremental ExactSubstr: batch grams probe the corpus hash set (leftsemi); corpus never rescanned when the index is persisted",
    "t18_chunk_documents": "chunking: completely narrow — zero Exchanges at any corpus size (scan -> project/explode -> project)",
    "t20_cross_corpus_lm": "cross-corpus LM: reference counts are vocabulary-bounded relations (broadcast/hash joins), batch pays one per-doc window pass; left joins keep unseen bigrams at the smoothed floor",
    "w6_retention": "retention: two map-side-combinable aggs + one co-partitioned join; per-offset counts are conditional sums over distinct (user, day) rows — no countDistinct Expand",
    "a21_data_checks": "data checks: all column rules fold into ONE conditional aggregation over one scan; uniqueness adds one lazy count_distinct agg",
    "t25_bm25_topk": "BM25: per-doc stats checkpointed from ONE tokenize+groupBy pass (no corpus explode survives downstream); corpus reduction broadcast back as one row; TakeOrderedAndProject top-k",
    "v16_hybrid_rrf": "RRF fusion: both inputs are bounded top-k relations — the full-outer fuse joins <=50-row sides; the corpus-heavy work happened inside the per-system top-k plans",
    "a27_log2_histogram": "log2 histogram: ONE scan -> partial+final hash agg; both quantile windows share one Exchange+Sort on lang; the min-bucket groupBy reuses the lang partitioning (no third exchange) — everything after the build runs on the <=66-row sketch",
    "a28_moments_profile": "moments sketch: one map-side-combinable HashAggregate carrying 4 decimal power sums; stats are a pure projection — 2 exchanges total (agg + output order)",
    "t34_phrase_match": "phrase match: the term-filtered postings are localCheckpointed ONCE (one corpus scan+explode ever); per-term join sides are RDD scans of that checkpoint; chained joins AQE-broadcast the rare-term sides",
    "t35_rake_keywords": "RAKE (Arrow scale path): ONE narrow mapInPandas pass, ZERO exchanges at any corpus size — RAKE is per-document; the relational spec (use_arrow=False) keys every exchange on doc id and is what the oracle replays",
    "d17_containment_pairs": "containment: the Arrow shingle pass is persisted (sizes, df guard and both join sides read cache, not re-shingle); pair groupBy keys on (left,right); the df guard join bounds expansion before the self-join",
    "t36_proximity_match": "proximity: same one-materialization postings as t34; chain joins keyed on id with the slop range as residual filter; per-hop distinct collapses path multiplicity before the next join",
    "v18_vocab_divergence": "vocab divergence: one union groupBy(token) is the only corpus-sized shuffle; totals broadcast back as one row; top-20 is a TakeOrderedAndProject",
    "st5_windowed_hll": "windowed HLL: register build is ONE partial+final agg keyed (window, reg_idx) — streaming-legal, <=2^p state rows per window; the estimate agg runs on the <=256-row-per-window register relation",
    "w9_interval_overlap": "interval overlap: bucketized range join — explode into span buckets, shuffled equi-join on (user, bucket), overlap + first-bucket residual gives exactly-once pairs with NO distinct pass",
    "t37_ngram_novelty": "n-gram novelty: persisted Arrow shingle pass (both consumers read cache); gram df is map-side-combinable; novelty = keyed join-back + per-doc agg — every shuffle keyed by gram or doc id",
    "t38_pmi_collocations": "PMI collocations: one tokenize scan feeds unigram + in-array bigram aggs (no self-join); N_big reduced from the UNFILTERED pair relation, then min_count filters BEFORE the marginal joins; totals broadcast 1-row; top-n is TakeOrderedAndProject",
    "t39_idf_rarity": "IDF rarity: distinct+groupBy(token) df, vocabulary-sized idf relation joins back hash-keyed on token (NOT broadcast), per-doc DECIMAL-sum agg — two keyed shuffles + one keyed join",
    "j21_label_propagation": "label propagation: symmetrized edge list checkpointed once; each round = ONE join on the neighbor side + groupBy(node,label) + per-node min(struct) argmax agg (no row_number window); per-round localCheckpoint cuts lineage",
    "st6_windowed_cms": "windowed CMS: cell build is ONE partial+final agg keyed (window, j, cell) — streaming-legal, <=d*w state rows per window; the probe join is NOT force-broadcast (cells grow with window count) — AQE promotes when the retained range is small",
    "d19_tfidf_cosine_pairs": "TF-IDF cosine join: persisted term pass; df cut BEFORE vectorization bounds posting lists; norm agg + posting self-join on term + ONE pair agg — every shuffle keyed by term or pair; DECIMAL dot sums",
    "a29_ks_drift": "KS drift: per-distinct-value conditional counts (map-side combinable), range-bucketed distributed prefix sum (window PARTITIONED by bucket, offsets broadcast), sup via TakeOrderedAndProject — no global window",
    "a30_correlation_matrix": "correlation matrix: ONE map-side HashAggregate carrying all C(n,2)*6 DECIMAL accumulators over one scan; the matrix is a pure projection + explode of the single wide row",
    "t40_weighted_reservoir": "A-ES weighted sample: one narrow map computes md5-uniform rank keys; exact-k is TakeOrderedAndProject (per-partition heap, k-row driver merge) — no sort, no window",
    "j22_sorted_neighborhood": "sorted neighborhood: prefix-bucketed rank (offsets broadcast, window PARTITIONED by bucket), window-1 delta explode, pair join re-shuffled on rank — linear candidates, no global sort",
    "w10_ohlc_rollup": "OHLC bars: ONE map-side-combinable HashAggregate keyed (key, window) — open/close via min/max(struct), no window function, no sort",
    "t42_readability": "readability: ONE narrow projection — zero exchanges at any corpus size",
    "t43_stratified_reservoir": "stratified A-ES: one stratum-keyed row_number window (WindowGroupLimit rank pushdown expected) — no global sort",
    "t41_char_entropy": "char entropy: explode to (id,char) then TWO stacked hash aggregates — per-doc alphabet collapses map-side",
    "u5_snapshot_diff": "snapshot diff: two digest projections (column-pruned scans) + one full-outer SMJ/hash join on id + 4-row agg — nothing wider than the digest shuffles",
    "j23_neighbor_jaccard": "neighbor Jaccard: wedge self-join keyed on the shared neighbor (never all-pairs), pair groupBy + two degree joins — every exchange keyed",
    "j24_adamic_adar": "Adamic-Adar: same wedge join keyed on the shared neighbor, but the hub guard filters the neighbor relation BEFORE the self-join (degree join on the wedge key) so a hub's deg^2 pair fanout never materializes; score = one pair-keyed sum of 1/ln(deg)",
    "a31_ks_drift_by_source": "grouped KS: bounded groups x values grid (groups broadcast), ONE group-partitioned window cumsum, global CDF as keyed sum of the same relation, per-group min(struct) argmax — no no-partition window",
    "st7_windowed_moments": "windowed moments: ONE partial+final agg keyed by window carrying 4 DECIMAL power sums — streaming-legal, 4 numbers of state per window; stats are a projection",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--round", type=int)
    mode.add_argument("--doc", action="store_true",
                      help="regenerate docs/PLANS.md from PICKS")
    ap.add_argument("tag", nargs="?", choices=("before", "after"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if args.doc and (args.tag or args.names):
        ap.error("--doc takes no tag or queries")
    if args.round is not None and args.tag is None:
        ap.error("--round needs a tag: before or after")

    from ftm_columnstore_spark.lifecycle import scope
    from ftm_columnstore_spark.session import get_spark

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    sf, cpus = (DOC_SF_DIR, 8) if args.doc else (bench.SF_DIR, bench.CPUS)
    spark = get_spark(
        "ftmcs-plans",
        master=f"local[{cpus}]",
        extra_conf={"spark.ui.enabled": "false"},
    )

    formatted = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")

    def plan(name: str) -> str:
        # the scope releases anything the operator persisted during build
        with scope():
            return qs[name](spark, sf)._jdf.queryExecution().explainString(
                formatted).strip()

    if args.doc:
        out = [
            "# Physical-plan evidence (sf0.01, .explain('formatted'))",
            "",
            "Generated by `python tools/capture_plans.py --doc` (local[8]). "
            "What to look for per plan is noted above each snippet.",
            "",
        ]
        for name, note in PICKS.items():
            out.append(f"## {name}\n\n*{note}*\n\n```\n{plan(name)}\n```\n")
        path = os.path.join(ROOT, "docs", "PLANS.md")
        with open(path, "w") as fh:
            fh.write("\n".join(out))
        print(f"wrote {path}")
        return

    out_dir = os.path.join(ROOT, "plans", f"r{args.round:02d}")
    os.makedirs(out_dir, exist_ok=True)
    for name in args.names or bench.HEADLINE:
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan(name) + "\n")
        print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
