"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
The LAST stdout line is one SHORT parseable JSON summary (metric/value/
unit/sf/n_ops/sum_sequential); the full per-query map goes to
BENCH_FULL.json and an earlier stdout line — r03's all-in-one line
outgrew the driver's tail capture and the round lost its wall number.

Two measurements, each in a FRESH SparkSession block (JVM wear from the
~210 solo invocations otherwise inflates the concurrent block):
- per-query steady-state (best of 3 sequential runs — codegen/JIT warm;
  all samples recorded in the sidecar for variance attribution);
- ``value`` = wall-clock for the WHOLE headline suite submitted with
  8-way concurrency (Spark's FAIR-ish overlap of independent jobs). This
  is the engine-throughput number — the quantity a cluster deployment
  cares about — while per-query latencies stay visible in the sidecar.
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: headline set — the heavier representatives of each operator family,
#: widened in round 2 to cover every family's worst case so tail
#: regressions stay visible (VERDICT r1 item 6).
HEADLINE = [
    "j3_join_revenue_nation",
    "j6_top_customers",
    "j7_big_orders",
    "j11_order_count_distribution",
    "j13_late_sole_shippers",
    "a5_pricing_summary",
    "a3_sum_filtered",
    "a8_count_distinct",
    "a19_percentiles",
    "w1_window_latest",
    "w3_asof_join",
    "w4_band_join",
    "u2_upsert_dedup",
    "e1_entity_assembly",
    "t2_token_topk",
    "t11_bigram_lm",
    "t12_tfidf_terms",
    "d2_exact_dup_groups",
    "d3_minhash_lsh_pairs",
    "d4_simhash_pairs",
    "d5_ngram_jaccard",
    "d6_jaccard_dedup_kept",
    "d9_repetition_filter",
    "v1_ann_topk",
    "v2_knn_join",
    "v8_ivf_topk_portable",
    "st1_events_tumbling",
    "st3_session_windows",
    "t8_deterministic_shuffle",
    "d8_decontamination",
    "m5_time_rollup",
    "m6_multimodal_features",
    "d10_winnow_overlap",
    "d11_line_dedup",
    "d12_cross_dedup",
    "v9_semantic_dedup",
    "t15_quality_gate",
    "t14_winnow_fingerprints",
    "d14_exact_substring_dedup",
    "j17_triangle_count",
    "d15_cross_substring_dedup",
    "t17_perplexity_buckets",
    "t18_chunk_documents",
    "v10_ann_recall",
    "w5_funnel",
    "w6_retention",
    "w7_sessionize",
    "w8_transitions",
    "m7_audio_frames",
    "m8_resize_features",
    "m9_moving_average",
    "a21_data_checks",
    "t20_cross_corpus_lm",
    "d16_minhash_clusters",
    "v12_pq_topk",
    "v13_ivfpq_topk",
    "a22_hll_cardinality",
    "a23_cms_heavy_tokens",
    "a24_column_profile",
    "t21_nb_quality_scores",
    "a25_sample_quantiles",
    "v14_pq_knn_join",
    "t22_token_budget",
    "t23_leakage_free_split",
    "a26_table_profile",
    "t24_c4_line_filter",
    "j19_skew_hybrid_join",
    "m10_image_dup_pairs",
    "m11_audio_dup_pairs",
    "j20_k_core",
    "t25_bm25_topk",
    "t26_bpe_merges",
    "t28_temperature_mixture",
    "v15_embedding_clusters",
    "v16_hybrid_rrf",
    "t29_bm25_multi",
    "t30_bloom_decontaminate",
    "t31_bpe_fertility",
    "t32_zipf_alpha",
    "t33_quality_prune",
    "v17_kmv_vocab_overlap",
    "a27_log2_histogram",
    "a28_moments_profile",
    "t34_phrase_match",
    "t35_rake_keywords",
    "d17_containment_pairs",
    "t36_proximity_match",
    "v18_vocab_divergence",
    "st5_windowed_hll",
    "w9_interval_overlap",
    "t37_ngram_novelty",
    "d18_cluster_size_histogram",
    "t38_pmi_collocations",
    "t39_idf_rarity",
    "j21_label_propagation",
    "st6_windowed_cms",
    "d19_tfidf_cosine_pairs",
    "a29_ks_drift",
    "a30_correlation_matrix",
    "t40_weighted_reservoir",
    "j22_sorted_neighborhood",
    "t41_char_entropy",
    "u5_snapshot_diff",
    "v19_truncated_recall",
    "w10_ohlc_rollup",
    "t42_readability",
    "t43_stratified_reservoir",
    "j23_neighbor_jaccard",
    "a31_ks_drift_by_source",
    "st7_windowed_moments",
    "j24_adamic_adar",
]


def _machine_state() -> dict:
    """Box-state preamble (VERDICT r6 item 2): three rounds of
    driver-vs-builder wall deltas were attributed to environment after
    the fact; recording loadavg / memory / page-cache / disk pressure
    WITH the battery makes that attribution part of the artifact."""
    import shutil as _sh

    st: dict = {}
    try:
        st["loadavg"] = [float(x) for x in open("/proc/loadavg").read().split()[:3]]
        # host CPU-steal counter (USER_HZ ticks since boot): r08 traced
        # every 'monotone degradation' in battery samples to steal
        # bursts (816 CPU-seconds during one concurrent pass), so the
        # start/end delta is part of the artifact — a battery with a
        # large delta is contaminated, not a regression. Own guard
        # (ADVICE r8): a short/malformed /proc/stat line must skip the
        # sidecar value, never abort the battery.
        try:
            st["steal_ticks"] = int(open("/proc/stat").readline().split()[8])
        except (OSError, IndexError, ValueError):
            pass
        mem = {}
        for line in open("/proc/meminfo"):
            k, _, v = line.partition(":")
            if k in ("MemTotal", "MemAvailable", "Cached", "Dirty"):
                mem[k.lower() + "_mb"] = int(v.split()[0]) // 1024
        st.update(mem)
        st["tmp_free_gb"] = round(_sh.disk_usage("/tmp").free / 1e9, 1)
        st["cpus"] = os.cpu_count()
    except OSError:
        pass
    return st


def _calibration(spark) -> float:
    """Pinned A/B probe (VERDICT r6 item 2): a FIXED scan+shuffle+agg
    workload over lineitem that touches no package code, run through
    the same row-digest materialization as the measured queries.
    Interleaved through both blocks, it turns 'was that drift the box
    or the code?' into a within-battery comparison: if the calibration
    trace moved with the queries, the drift is environmental."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .filter(F.col("l_quantity") > 10)
        .groupBy("l_suppkey")
        .agg(
            F.sum("l_extendedprice").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    df.select(F.xxhash64(F.struct(*df.columns)).alias("h")).groupBy().agg(
        F.count("h"), F.try_sum("h")
    ).collect()
    return round(time.perf_counter() - t0, 3)


def _new_session():
    """Fresh session per measurement BLOCK (solo vs concurrent), so
    round-over-round solo diffs are not noise-dominated (VERDICT r3
    item 7). What is measured about in-session slowdown:
    - NOTES 'Caveats': one op took 25 s in an isolated session and
      130-230 s late in a long shared local[32] session;
    - OPTIMIZATION_r08.md §7 traced the battery's pass-over-pass
      degradation to host CPU steal; steal-free passes were flat and GC
      was ~1 s per 44 s pass;
    - generated code: the battery's 111 ops at sf0.01 compile 1,737
      classes, so Spark's default 100-entry class cache recompiled
      2,637 of them on a second pass in one session. `get_spark` now
      sizes that cache to 4096 entries (8 recompiles)."""
    from pyspark.sql import SparkSession

    from ftm_columnstore_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = get_spark(
        "ftmcs-bench",
        master=f"local[{CPUS}]",
        # no UI/event bus: its listener queue adds jitter to short queries
        extra_conf={"spark.ui.enabled": "false"},
    )
    # warm-up: touch every table once (OS page cache + codegen warm)
    for t in ["lineitem", "orders", "customer", "documents", "embeddings"]:
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    return spark


def main() -> None:
    import __spark_entry__ as entry_mod

    from ftm_columnstore_spark import lifecycle

    spark = _new_session()
    qs = entry_mod.queries()
    # run() resolves the session through this holder, NOT
    # getActiveSession(): the active-session registration is
    # JVM-thread-local, so pool threads spawned after the block-2
    # session restart see None there (measured: the first fresh-session
    # concurrent pass crashed with 'NoneType' has no attribute 'read').
    sess = {"spark": spark}

    def run(name: str) -> float:
        # Materialize EVERY row's full contents via a row-digest
        # aggregate: a bare .count() lets Catalyst eliminate
        # row-preserving joins (d14's span machinery, d11's reassembly
        # branch collapse to a scan count — measured 10x+ too fast).
        # One summed hash forces the whole plan and returns one row.
        from pyspark.sql import functions as F

        # the scope releases what the op persisted once the timer has
        # stopped, so a sample never reads the previous sample's cache
        s = sess["spark"]
        with lifecycle.scope():
            t0 = time.perf_counter()
            df = qs[name](s, SF_DIR)
            df.select(
                F.xxhash64(F.struct(*df.columns)).alias("h")
            ).groupBy().agg(F.count("h"), F.try_sum("h")).collect()
            elapsed = time.perf_counter() - t0
        return elapsed

    machine_start = _machine_state()

    # BLOCK 1 — sequential steady-state latencies, best of 3 (GC pauses
    # land somewhere every suite pass; three samples isolate them). All
    # samples are kept so the sidecar records per-query spread.
    solo: dict[str, float] = {}
    solo_samples: dict[str, list[float]] = {}
    calib_solo: list[dict] = []
    for i, name in enumerate(HEADLINE):
        if i % 10 == 0:
            calib_solo.append(
                {"pos": i, "sec": _calibration(sess["spark"])}
            )
        samples = [round(run(name), 3) for _ in range(3)]
        # adaptive top-up: residual JVM noise can still hold a query
        # over its steady state across consecutive runs; when the
        # spread says the min hasn't converged, buy up to 2 more
        # samples instead of recording a noise-dominated number.
        extra = 0
        while extra < 2 and max(samples) > 3 * min(samples):
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            time.sleep(1.0)
            samples.append(round(run(name), 3))
            extra += 1
        solo_samples[name] = samples
        solo[name] = min(samples)
        # drop caches persisted inside operators (d3/d5 reuse their
        # mid-relations within a query; stranded entries otherwise pile
        # up across 100+ invocations and surface as GC-pressure spikes
        # on whatever runs next), start from a clean heap, and SETTLE:
        # the gc schedules the ContextCleaner's async unpersist of the
        # previous query's checkpointed blocks, and that cleanup races
        # the next measurement — measured on d6: 14.9s min-of-3 in
        # battery vs 1.5s with a 1s post-gc settle (NOTES round 4).
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        time.sleep(1.0)

    # BLOCK 2 — throughput: whole suite, 8 concurrent submitters, best
    # of 3 (AQE/persist warm-up + GC variance dominate a single run;
    # observed 2x swings between identical passes). FRESH SESSION for
    # the block so 160+ solo invocations' JVM wear doesn't leak into
    # the headline wall number. Per-query latencies UNDER contention
    # come from the best-wall pass, so the sidecar carries
    # {solo, concurrent} and rounds diff like-for-like (solo = plan
    # quality, concurrent = scheduler mix).
    spark = _new_session()
    sess["spark"] = spark
    wall = float("inf")
    concurrent: dict[str, float] = {}
    # best of 5 (was 3): the 8-way wall swings ±30-40% run-to-run from
    # box-level scheduling noise (measured 26.1 / 36.1 / 49.0 for
    # near-identical code); the solo block got ~2x cheaper this round,
    # so two extra passes fit the same budget and tighten the best-of.
    # ALL samples go to the sidecar (wall_samples) so the single
    # headline number carries its error bar (VERDICT r4 item 9).
    wall_samples: list[float] = []
    calib_concurrent: list[float] = []
    for _ in range(5):
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        time.sleep(1.0)
        calib_concurrent.append(_calibration(spark))
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=8) as pool:
            pass_times = dict(zip(HEADLINE, pool.map(run, HEADLINE)))
        elapsed = time.perf_counter() - t0
        wall_samples.append(round(elapsed, 3))
        if elapsed < wall:
            wall = elapsed
            concurrent = {k: round(v, 3) for k, v in pass_times.items()}
    wall = round(wall, 3)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    full = {
        "value": wall,
        "unit": "sec",
        "sf": float(sf),
        "n_ops": len(HEADLINE),
        "sum_sequential": round(sum(solo.values()), 3),
        "queries": {
            name: {"solo": solo[name], "concurrent": concurrent[name]}
            for name in HEADLINE
        },
        "solo_samples": solo_samples,
        "wall_samples": sorted(wall_samples),
        # --- noise-attribution record (VERDICT r6 item 2) -------------
        # machine state at battery start/end + the pinned calibration
        # trace interleaved through both blocks. Reading a regression:
        # if calibration drifted with it, the box moved, not the plan.
        "machine_state_start": machine_start,
        "machine_state_end": _machine_state(),
        "calibration": {
            "probe": "lineitem filter+groupBy(l_suppkey) row-digest",
            "solo_trace": calib_solo,
            "per_concurrent_pass": calib_concurrent,
        },
    }
    # full per-query detail: sidecar file + its own (early) stdout line.
    # The LAST line is a SHORT summary — r03's single giant JSON line
    # outgrew the driver's tail-capture buffer and the round lost its
    # official wall number ("parsed": null); the tail now always holds
    # a complete, parseable record (VERDICT r3 item 2).
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps({"detail": full["queries"]}))
    print(
        json.dumps(
            {
                "metric": (
                    f"wall-clock, all {len(HEADLINE)} headline ops, 8-way "
                    "concurrent, steady state, full row-digest "
                    "materialization (per-query detail: BENCH_FULL.json)"
                ),
                "value": wall,
                "unit": "sec",
                "sf": float(sf),
                "n_ops": len(HEADLINE),
                "sum_sequential": full["sum_sequential"],
                # pinned-probe spread: environmental noise floor for
                # THIS battery (details in BENCH_FULL.json)
                "calib_sec": [
                    min(c["sec"] for c in calib_solo),
                    max(c["sec"] for c in calib_solo),
                ],
            }
        )
    )


if __name__ == "__main__":
    main()
