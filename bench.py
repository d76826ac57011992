"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "runs": N}

Queries execute with a noop sink (full computation, no driver-side
result transfer), after a small warmup to amortize JVM/codegen startup
out of the per-query numbers. Each query runs $SPARK_GRAFT_BENCH_RUNS
times (default 3) and reports the per-query MEDIAN — single-shot
timings on this box vary ±13% run-to-run, so n=1 cannot distinguish a
real regression from noise. The suite total is the sum of medians.

BASELINE POLICY: BENCH_LOCAL.json (and BENCH_FULL_LOCAL.json for
--all) is the only baseline. Every run compares against the archive the
previous run left next to this script, then overwrites it. Each archive
records the scale factor (`sf`) and the core count (`cpus`, Spark's
defaultParallelism) and `master` it ran with. A baseline whose sf or
cpus differs from this run's, or that records no cpus, is refused: the
run reports `"vs_prev": {}` and says why in `vs_prev_reason`.
Sentinel-normalized ratios absorb host speed to first order, but not a
different scale factor (superlinear queries) or core count (parallel
stages), so such a comparison would flag phantom regressions.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from metrocloud_data_pipeline_spark.queries import get_queries
from metrocloud_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline workload: heavy scan/join/agg/window/dedup/vector coverage.
HEADLINE = [
    "h1_pricing_summary",
    "h2_min_cost_supplier",
    "h3_shipping_priority",
    "h4_order_priority",
    "h5_local_supplier_volume",
    "h6_forecast_revenue",
    "h7_volume_shipping",
    "h8_market_share",
    "h9_nation_profit",
    "h10_returned_items",
    "h11_important_parts",
    "h12_ship_delay_priority",
    "h13_customer_distribution",
    "h14_promo_revenue",
    "h15_top_supplier",
    "h16_supplier_part_counts",
    "h17_small_qty_revenue",
    "h18_large_customers",
    "h19_disc_revenue",
    "h20_excess_supply",
    "h21_late_suppliers",
    "h22_dormant_customers",
    "h_brand_revenue",
    "t1_unpivot_measures",
    "a1_device_summary",
    "a2_hourly_aggregates",
    "a9_daily_quality",
    "a9_daily_quality_approx",
    "a10_realtime_monitor",
    "w1_gap_detection",
    "w2_moving_average",
    "f1_recent_readings",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "doc_fingerprint_winnow",
    "decontaminate_ngram",
    "sample_weighted_sources",
    "seq_pack_summary",
    "text_clean_stats",
    "pii_scrub_stats",
    "w4_user_sessions",
    "asof_last_error",
    "a11_type_daily_rollup",
    "t2_pivot_event_values",
    "text_quality_score",
    "knn_brute_force",
    "knn_ivf",
    "knn_join_ivf",
    "media_type_summary",
    "media_audio_features",
    "media_video_features",
    # r13-born media keys promoted per VERDICT r13 #4 (the r12 media
    # precedent): runs=3 drift tracking + plan-gate rows from r14 on
    "media_video_near_dup",
    "ccnet_perplexity_buckets_kn5",
    # r14-born keys promoted per VERDICT r14 #3 (same precedent):
    # the container probe is map-only/0-exchange, the recall report
    # rides the near-dup join, and the bloom pair pins the one plan
    # worth watching — probe side shuffle-free before the per-doc agg
    # (the bitmap build's partition-OR collect is the sanctioned
    # driver touch, timed as part of the query)
    "media_container_probe",
    "media_neardup_recall_report",
    "decontaminate_ngram_bloom",
    "decontaminate_bloom_audit",
    # r15-born audio keys (media_audio_near_dup,
    # media_audio_neardup_recall) deliberately NOT here yet: new keys
    # are timed by `--all` in their birth round and promoted with
    # plan-gate rows the round after (the r13/r14 precedent), once
    # their first driver rows land. Measured at sf0.1 this round:
    # 8.7 s / 303k pairs and 12.7 s / recall 1.0 (PROBE_r15 §e).
    "obs_alert_firing",
    "tfidf_top_terms",
    "vocab_coverage",
    "quality_quantile_filter",
    "dedup_cross_corpus",
    "dedup_embed_semdedup",
    "unigram_surprisal",
    "kmeans_embed_clusters",
    "w5_event_funnel",
    "w6_cohort_retention",
    "scd2_customer_dim",
    "a13_daily_from_hourly",
    "a14_sliding_monitor",
    "w4b_sessions_native",
    "q3_top3_per_device",
    "obs_hot_keys",
    "obs_hot_keys_approx",
    "text_length_histogram",
    "dq_profile_events",
    "embed_quantize_stats",
    "split_leakage_report",
    "f7_devices_gone_quiet",
    "f8_devices_in_both_windows",
    "a15_grouping_sets",
    "w7_locf_fill",
    "a16_mad_outliers",
    "a17_diurnal_profile",
    "a18_seasonal_deviation",
    "w8_gapfill_resample",
    "dq_profile_events_approx",
    "a19_time_weighted_avg",
    "a20_counter_delta",
    "a21_value_histogram",
    "a22_trend_slope",
    "f6b_metadata_lookup_indexed",
    "f6c_tags_lookup_indexed",
    "w8b_gapfill_interpolate",
    "dsir_importance_weights",
    "rag_chunk_documents",
    "seq_pack_ranges",
    "corpus_budget_select",
    "bigram_surprisal",
    "w9_event_transitions",
    "embed_pq_stats",
    "w10_m4_downsample",
    # r9 additions: ExactSubstr excise spans + apply, chunk-digest
    # dedup, hashed DSIR
    "dedup_substring_spans",
    "dedup_substring_excise",
    "dedup_rag_chunks",
    "dsir_hashed_weights",
    "decontaminate_embed",
    "text_repetition_panel",
    "gopher_quality_panel",
    "c4_line_filter",
    "dedup_c4_sentence_spans",
    "boilerplate_line_filter",
    "ccnet_perplexity_buckets_approx",
    "corpus_filter_funnel",
    "embed_diverse_sample",
    # r9 batch 2: fertility/diversity/entropy panels, cross-source
    # overlap matrix, rank fusion
    "text_fertility_by_lang",
    "text_ngram_diversity",
    "text_char_entropy",
    "dedup_source_overlap",
    "quality_rank_fusion",
    "text_zipf_slope",
    "source_js_divergence",
    "embed_label_purity",
    "kn_bigram_surprisal",
    "mixture_epoch_plan",
    "lsh_band_planner",
    "doc_outlier_panel",
    "corpus_datacard",
    "context_length_plan",
    "sample_mix_audit",
    "winnow_similar_topk",
    "text_hot_tokens",
    "text_hot_tokens_approx",
    "quality_signal_correlation",
    "langid_confusion",
    "shard_skew_report",
    "dedup_impact_by_source",
    "text_ngram_diversity_approx",
    "source_filter_funnel",
    "embed_centroid_drift",
    # r10: KN one order up (scale-path: gram-type-bounded joins)
    "kn_trigram_surprisal",
    # r11: the published CCNet order, hashed-bounded state (~4.7 s at
    # sf0.1 after the zip-slice gram rewrite; kept in HEADLINE as the
    # drift sentinel for the hashed-LM family's join shape)
    "kn5_surprisal_hashed",
    # dedup_jaccard_prefix_baskets deliberately NOT here: 19 s at sf0.1
    # (the natural-entropy production config of the prefix join) — timed
    # once per round by `bench.py --all` next to its degenerate twin.
    # langid_trained_report deliberately NOT here: an n_iter x n_langs
    # TRAINING loop like quality_lr_score (fit once per corpus
    # snapshot); it is timed once per round by `bench.py --all`.
    # ivfpq_refine_sweep deliberately NOT here: like ivfpq_recall_report
    # it runs multiple brute-force audit passes — a tuning table, not a
    # drift sentinel (same call as r9's HEADLINE swap).
]

# Drift sentinel: identical code has measured 49.5 s vs 72.3 s suite
# totals within one hour on this host (no in-guest pressure — host-level
# noise), so ABSOLUTE cross-round totals are meaningless. h1 is the
# sentinel (scan-heavy, zero Python, plan untouched since r1): each
# query also reports median/sentinel, and round-over-round comparisons
# should read the normalized number — a query whose normalized ratio
# moved is a real plan change; one whose raw time moved with the
# sentinel is host drift.
SENTINEL = "h1_pricing_summary"
# Deliberately absent: the exact-all-pairs baselines (dedup_ngram_jaccard,
# dedup_embed_cosine) — quadratic verification twins for the oracle gate,
# not scale-path operators; their LSH/MinHash counterparts are benched.
# Also absent: quality_lr_score, bpe_train_merges, and
# a13b_cascade_incremental/knn_join_ivfpq — the first two are n-round
# TRAINING loops (fit once per corpus snapshot, not per query; scoring/
# segmenting alone is cheap), the last two are persisted-store builds
# whose cost is the write, measured by the cascade probe / ANN probes.
# Also absent: ivfpq_recall_report — an index-build-plus-audit (pq_fit
# + coarse fit + encode + brute baseline, ~30 sequential driver-round
# jobs that dominate at bench scale: measured 10.9 s vs 3.4 s for the
# next-worst query, pure fit overhead, not a scale-path signal); its
# operating points are measured by tools/ann_refresh_probe.py
# --ivfpq-only at 1x and 10x (PROBE_r09) instead.
# Also absent: the minhash recall/precision audit pair — their 1000-doc
# truth stage (max_docs^2/2 broadcast shingle compares, adopted so the
# audits are non-empty at sf0.1) measured 11.7 s + 6.8 s, pure audit
# cost like ivfpq_recall_report above; the production banding they
# audit is benched via dedup_minhash and probed in PROBE_r09.
# Also absent (same degeneracy): dedup_cluster_histogram — its pair
# source is the oracle-parity LSH config over the planted near-dup
# cliques (190,925 true >= 0.95-Jaccard pairs at sf0.1: measured
# 22.2 s, 24.4 s of which is the pair/verify stage standalone — the
# histogram on top is 0.3 s); same reasoning as dedup_clusters below,
# which shares the identical pipeline.
# Also absent (same degeneracy): the keep-list family
# (dedup_keep_list / dedup_keep_best), whose detect stage runs the
# oracle-parity LSH config below — measured 17.8 s for dedup_keep_best
# at sf0.1, all of it the degenerate candidate verify; the PRODUCTION
# candidate path is benched via dedup_minhash/dedup_simhash and probed
# at 10x by tools/scale_probe.py (dup_clusters).
# Also absent: dedup_incremental_jaccard in its oracle-parity config
# (10k bucket cap + fail-on-dropped) — on the synthetic 31-token
# vocabulary, unigram band buckets admit ~83% of incoming x corpus as
# candidates (same degeneracy documented for dedup_jaccard_prefix), so
# the exact-verify stage is effectively all-pairs here. The PRODUCTION
# config (default 500 cap, boilerplate buckets dropped) is measured by
# tools/scale_probe.py at 10x instead.


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warmup(spark, qs) -> None:
    """Touch every table family, JIT the common codepaths, and spawn
    the Python worker pool (first Arrow-UDF action pays worker
    startup; spark.python.worker.reuse keeps them for the timed runs).
    knn_join_ivf is warmed explicitly: the scalar-pandas-UDF scoring
    path (cosine_batch/nearest_lists) pays ~3x on its first execution
    (codebook collect + worker JIT) even after the mapInPandas warmup."""
    for name in (
        "a6_table_stats",
        "h1_pricing_summary",
        "media_feature_extract",
        "knn_brute_force",
        "knn_join_ivf",
    ):
        run_noop(qs[name](spark, SF_DIR))


def _sf_value():
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(sf)
    except ValueError:
        return sf


def _ratio_table(normalized: dict[str, float], prev_norm: dict[str, float],
                 baseline_name: str) -> dict:
    """Sentinel-normalized round-over-round comparison shared by the
    HEADLINE and --all benches: per-query norm ratios, the pack median
    (one noisy sentinel shifts every ratio uniformly — a query is a
    real plan regression only if it moved against the PACK), and both
    1.3x regression tables."""
    ratios = {
        name: round(normalized[name] / prev_norm[name], 3)
        for name in normalized
        if prev_norm.get(name, 0) > 0
    }
    med = statistics.median(ratios.values()) if ratios else 1.0
    rel = {n: round(r / med, 3) for n, r in ratios.items()}
    return {
        "baseline": baseline_name,
        "common_queries": len(ratios),
        "median_norm_ratio": round(med, 3),
        "norm_ratio": ratios,
        "norm_regressions_gt_1_3": {
            n: r for n, r in sorted(ratios.items()) if r > 1.3
        },
        "vs_median_regressions_gt_1_3": {
            n: r for n, r in sorted(rel.items()) if r > 1.3
        },
    }


# The three documented exact-all-pairs ORACLE-PARITY configs whose
# production twins carry the actual drift signal (dedup_minhash /
# dedup_jaccard_prefix_baskets / dedup_embed_semdedup + the LSH twin):
# at sf0.1 they cost ~250 s of every `--all` pass re-measuring a
# deliberate quadratic (101 s + 77 s + 73 s, VERDICT r11 #4). They are
# timed at sf0.01 instead — still a per-round timing record (a plan
# regression there moves the small-SF number too), recorded under
# degenerate_sf001 with its own vs_prev ratio table so the basis
# change is explicit, never silently mixed into the sf0.1 norms.
DEGENERATE_SF001 = (
    "dedup_jaccard_prefix",
    "embed_dedup_keep_list",
    "dedup_embed_cosine",
)


def _sf001_dir() -> str:
    return os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")


def main_all() -> None:
    """`bench.py --all`: one timed pass over EVERY registered query
    (runs=1, no medians) archived to BENCH_FULL_LOCAL.json — the
    once-per-round blind-spot closer the r9 verdict asked for: the ~68
    keys excluded from HEADLINE (documented degeneracies: audit
    stages, training loops, oracle-parity configs) get a timing record
    so a plan regression there surfaces in the vs_prev table instead
    of only via a probe re-run. Not the drift gate — single-shot
    numbers on this host swing ±30% with load (SURVEY §6), so read
    the SENTINEL-NORMALIZED vs_prev ratios, never raw seconds. The
    three DEGENERATE_SF001 exact-all-pairs configs are timed at sf0.01
    (separate record section, separate vs_prev)."""
    spark = get_spark("bench-full")
    spark.sparkContext.setLogLevel("ERROR")
    qs = get_queries()
    _warmup(spark, qs)
    import gc

    sf001 = _sf001_dir()
    demote = set(DEGENERATE_SF001) if os.path.isdir(sf001) else set()
    timings: dict[str, float] = {}
    degenerate: dict[str, float] = {}
    for name in qs:
        t0 = time.perf_counter()
        if name in demote:
            run_noop(qs[name](spark, sf001))
            degenerate[name] = round(time.perf_counter() - t0, 3)
        else:
            run_noop(qs[name](spark, SF_DIR))
            timings[name] = round(time.perf_counter() - t0, 3)
        gc.collect()
    sentinel_sec = timings[SENTINEL]
    normalized = {n: round(s / sentinel_sec, 3) for n, s in timings.items()}
    sf_val = _sf_value()
    cpus = spark.sparkContext.defaultParallelism
    prev, reason = _baseline("BENCH_FULL_LOCAL.json", sf_val, cpus)
    vs: dict = {}
    if prev is not None:
        vs = _ratio_table(
            normalized, prev["queries_norm"], "BENCH_FULL_LOCAL.json(prev)"
        )
        del vs["norm_ratio"]  # bulky; the archive keeps queries_norm
        prev_deg = prev.get("degenerate_sf001", {}).get("queries", {})
        vs_deg = {
            n: round(degenerate[n] / prev_deg[n], 3)
            for n in degenerate
            if prev_deg.get(n, 0) > 0
        }
        if vs_deg:
            vs["degenerate_sf001_raw_ratio"] = vs_deg
    out = {
        "queries": timings,
        "queries_norm": normalized,
        "metric": "full_suite_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "cpus": cpus,
        "master": spark.sparkContext.master,
        "runs": 1,
        "n_queries": len(timings),
        "degenerate_sf001": {
            # exact-all-pairs oracle-parity configs, timed at sf0.01 by
            # design (VERDICT r11 #4) — raw seconds, runs=1, compare
            # only via the vs_prev ratio and only as a coarse flag
            "sf": 0.01,
            "queries": degenerate,
        },
        "sentinel": {"name": SENTINEL, "sec": sentinel_sec},
        "worst5_norm": dict(
            sorted(normalized.items(), key=lambda kv: kv[1], reverse=True)[:5]
        ),
        "vs_prev": vs,
        "vs_prev_reason": reason,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_FULL_LOCAL.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "queries_norm"}))


def main() -> None:
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = get_queries()
    _warmup(spark, qs)

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    # full-suite passes (not per-query back-to-back repeats) so repeat
    # runs don't ride one query's just-evicted shuffle files
    # NOTE on caching: the dedup pipelines persist signature frames, and
    # Spark's CacheManager matches by canonicalized plan — so passes 2-3
    # of a query reuse pass 1's materialized signatures and the reported
    # median is the warm cost (cold first-build is ~2x for
    # dedup_minhash/simhash; measured by inserting clearCache between
    # runs). Kept warm DELIBERATELY: it matches how the operators run in
    # production (signatures built once per corpus snapshot, reused by
    # banding/estimation/clustering consumers) and keeps the
    # round-over-round bench comparison on one methodology.
    # Free orphaned localCheckpoint blocks between queries: several
    # builders checkpoint intermediates (tfidf/surprisal tf frames,
    # retention day sets, ...) whose block-manager storage is released
    # only when the Python DataFrame object is GC'd (ContextCleaner).
    # With 60+ queries x 3 passes those dead blocks pile into the
    # storage pool and LRU-EVICT the deliberately-persisted signature
    # caches — measured: dedup_simhash/minhash medians inflate 1.6-1.8x
    # in the full suite while isolated runs match the warm cost. An
    # explicit collect after each query keeps the cache methodology
    # intact without touching live persists.
    import gc

    for _ in range(runs):
        for name in HEADLINE:
            t0 = time.perf_counter()
            run_noop(qs[name](spark, SF_DIR))
            samples[name].append(time.perf_counter() - t0)
            gc.collect()
    timings = {name: round(statistics.median(ts), 3) for name, ts in samples.items()}
    sentinel_sec = timings[SENTINEL]
    normalized = {
        name: round(sec / sentinel_sec, 3) for name, sec in timings.items()
    }

    sf_val = _sf_value()
    # KEY ORDER IS THE ARTIFACT CONTRACT (r7 verdict: the driver keeps
    # only the LAST 2,000 chars of this line, and r7's tail contained
    # only the vs_prev ratio tables — the absolute totals were lost and
    # the judge had to re-run the suite). The big per-query dicts go
    # FIRST; everything a reader needs without re-running — suite
    # total, sentinel seconds, worst-5 normalized, both regression
    # tables — goes LAST so it always survives the truncation window.
    cpus = spark.sparkContext.defaultParallelism
    prev, reason = _baseline("BENCH_LOCAL.json", sf_val, cpus)
    vs_full = (
        _ratio_table(normalized, prev["queries_norm"], "BENCH_LOCAL.json")
        if prev is not None
        else {}
    )
    worst5 = dict(
        sorted(normalized.items(), key=lambda kv: kv[1], reverse=True)[:5]
    )
    out = {
        # --- bulk (may be truncated away in the driver artifact) ---
        "queries": timings,
        "queries_norm": normalized,
        "vs_prev_norm_ratio": vs_full.get("norm_ratio", {}),
        # --- compact summary (must fit the 2,000-char tail) ---
        "metric": "headline_suite_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "cpus": cpus,
        "master": spark.sparkContext.master,
        "runs": runs,
        "n_queries": len(timings),
        "sentinel": {"name": SENTINEL, "sec": sentinel_sec},
        "worst5_norm": worst5,
        "vs_prev": {
            k: v for k, v in vs_full.items() if k != "norm_ratio"
        },
        "vs_prev_reason": reason,
    }
    # self-archive the FULL document next to the script: the driver
    # artifact keeps the summary, this file keeps every per-query
    # number and is the next run's baseline
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as f:
        json.dump(out, f, indent=1)
    # PRINTED line = the driver contract dict ("queries" + the compact
    # summary) WITHOUT the two derived per-query dicts (queries_norm,
    # vs_prev_norm_ratio — both archived in BENCH_LOCAL.json above).
    # VERDICT r15 #7: the r14 driver record kept only a truncated tail
    # fragment of the 15 KB three-dict line and the whole
    # round-over-round PERF table nulled out; a ~3x shorter line keeps
    # the artifact parseable whole while the archive keeps every number.
    print(
        json.dumps(
            {
                k: v
                for k, v in out.items()
                if k not in ("queries_norm", "vs_prev_norm_ratio")
            }
        )
    )


def _baseline(name: str, sf_val, cpus: int):
    """(previous archive, None) when `name` next to this script is a
    comparable baseline for this run — same sf, same cpus, per-query
    norms present — else (None, the reason it is refused). Never
    raises: a malformed archive must not cost the suite's results."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), name)
    try:
        with open(path) as f:
            prev = json.load(f)
    except FileNotFoundError:
        return None, f"no {name}"
    except (OSError, ValueError) as e:
        return None, f"{name} unreadable: {e}"
    if not isinstance(prev, dict):
        return None, f"{name} is not a JSON object"
    if prev.get("sf") != sf_val:
        return None, f"{name} ran at sf {prev.get('sf')}, this run at sf {sf_val}"
    if prev.get("cpus") is None:
        return None, f"{name} records no cpus"
    if prev["cpus"] != cpus:
        return None, f"{name} ran on {prev['cpus']} cpus, this run on {cpus}"
    if not prev.get("queries_norm"):
        return None, f"{name} has no queries_norm"
    return prev, None


if __name__ == "__main__":
    if "--all" in sys.argv[1:]:
        main_all()
    else:
        main()
