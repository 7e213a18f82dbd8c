"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output protocol (r5): the driver keeps only a fixed-size tail of stdout and
json-parses the LAST line, so the LAST line printed is the compact headline
metric {"metric", "value", "unit", "queries", "sf", "noise_floor"} and
nothing else — r4's artifact came back "parsed": null because
spread/runs_per_query made that single line overflow the tail window.
Everything diagnostic (per-query spread, per-query noise floors,
runs_per_query, the non-headline tranche section) is printed on EARLIER
lines and also written whole to BENCH_FULL.latest.json next to this file
(untracked; the committed BENCH_FULL.json baseline is only overwritten when
SPARK_GRAFT_WRITE_FULL=1 — quiet-host baseline runs).

Measurement protocol (r6, noise-aware): two same-day full-bench runs on
identical r5 code measured 23.65 s and 25.79 s — ±10% host noise that a
single median-of-3 cannot see across runs, so any sub-10% round-over-round
claim was unresolvable. The headline set now runs as TWO interleaved passes
(A then B, each a median of N_RUNS round-robin runs after a shared warm-up):

* per-query reported figure = min(median_A, median_B) — the least-noise
  estimate of the query's true cost on this host;
* per-query noise floor      = |median_A - median_B| — the measured
  within-session between-pass disagreement on IDENTICAL code;
* headline "noise_floor"     = |sum(median_A) - sum(median_B)|.

Noise-adaptive passes (r10, r9 verdict ask #5): when the headline floor
exceeds SPARK_GRAFT_BENCH_NOISE_TOL (default 10%) of the reported total —
the r9 driver artifact carried a 6.4 s floor on a 31.6 s headline, which
drowns any round-over-round claim — the harness keeps taking passes (cap
SPARK_GRAFT_BENCH_MAX_PASSES, default 6). With >2 passes the reported
figure stays min-of-pass-medians and the floors become the delta between
the two SMALLEST pass medians/totals (identical to the A/B definition at
exactly 2 passes): extra passes give the estimator more chances to catch
two quiet windows, so the floor converges on quiet-enough hosts, and the
artifact self-reports "passes" so a still-wide floor at the cap reads as
genuine host weather (adjudicate by control_ratio, as always).

REGRESSION RULE (the written-down adjudication, r5 verdict ask #5): a query
q counts as a regression between rounds only if
    new_q - old_q > max(noise_floor_q(new round), noise_floor_q(old round),
                        0.05 s)
i.e. the movement must exceed the larger recorded noise floor of the two
measurements being compared (the 0.05 s floor absorbs timer granularity on
sub-100 ms queries). Anything smaller is host noise by instrument, not
claim. Per-query noise floors live in BENCH_FULL.json["diag"]
["noise_floor"] / ["tranche_noise_floor"]; the round artifact
BENCH_r{N}.json carries the headline-total floor on its parsed last line.

Each query is executed as a full pipeline-to-action (count of the final
DataFrame). Runs are interleaved round-robin (all queries run 1, then run
2, ...) so a transient system-wide stall degrades one run of many queries
(discarded by the median) instead of all runs of one query; the A/B split
is temporal (first N_RUNS rounds = A, next N_RUNS = B) so slow host drift
lands BETWEEN the passes and shows up in the floor.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_mssql_to_postgres_dailysync_spark.session import get_spark, local_cpus

# Headline set: the flagship merge family + representative scan/agg/dedup/
# similarity queries. Keep this stable round-over-round for comparability.
HEADLINE = [
    "daily_partition_extract",
    "backfill_range_counts",
    "merge_upsert",
    "merge_conditional",
    "coercion_casts",
    "fake_orders_generator",
    "merge_composite_key",
    "pricing_summary",
    "revenue_by_nation",
    "shipping_priority",
    "local_supplier_volume",
    "promo_revenue",
    "rollup_revenue",
    "running_total",
    "event_window_agg",
    "sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "text_quality",
    "text_lang_id",
    "similarity_brute_topk",
    "similarity_ann_lsh",
    "similarity_ann_ivf",
    "asof_join",
    "range_join_incidents",
    "hypertable_rollup",
    "kmv_distinct_sketch",
    "quality_filter_pipeline",
    "event_funnel",
    "multimodal_meta",
    # round-1 additions: subquery-shape joins, sketches, trained IVF, ACID table
    "order_priority_count",
    "customer_order_distribution",
    "large_volume_customers",
    "waiting_supplier_orders",
    "cms_frequency_sketch",
    "similarity_ann_ivf_trained",
    "txn_table_snapshot",
]

# Heaviest non-headline registry queries (r4 tranche). Reported as a SEPARATE
# tranche_queries_total section so the headline set stays frozen for
# round-over-round comparability (VERDICT r4 ask #5).
TRANCHE = [
    "dedup_lsh_audit",
    "dedup_lsh_audit_wide",
    "dedup_jaccard_prefix_filter",
    "similarity_ann_lsh_wide",
    "text_zipf_fit",
    "text_unigram_surprisal",
    "text_bigram_lm_score",
    "chunk_dedup_crossdoc",
    "exact_percentiles",
    "dedup_semantic_prune",
    # r5 additions (new operators benched from their first round)
    "kmv_cross_source_jaccard",
    "join_size_estimate_cms",
    "grouped_weighted_median",
    "embedding_covariance_topk",
    "ngram_novelty_curve",
    "dsir_importance_weights",
    "char_entropy_profile",
    "quality_dup_calibration",
    "bloom_semijoin_reduction",
    "hll_distinct_by_source",
    "cms_heavy_hitters_twopass",
    "hll_incremental_daily",
    "sessionize_gap_sensitivity",
    "zorder_pruning_audit",
    # r6 additions
    "scd2_priority_history",
    "scd2_point_in_time",
    "bpe_train_merges",
    "countsketch_unbiased_freq",
    "dedup_winnowing_overlap",
    "hybrid_search_rrf",
    "jl_projection_distortion",
    "theil_sen_trend",
    "mmr_diversified_topk",
    "attribution_multi_touch",
    "text_kneser_ney_bigram",
    "hll_sliding_28d_users",
    "cv_leakage_neardup",
    "hll_intersection_ie",
    "hard_negative_mining",
    "tfidf_cosine_pairs",
    "pca_power_iteration",
    "hdr_quantile_sketch",
    # r6b additions
    "mann_whitney_auc",
    "ks_two_sample",
    "spearman_rank_corr",
    # r6c additions
    "frequent_itemset_pairs",
    "acf_durbin_watson",
    "cramers_v_association",
    "text_readability_ari",
    "ewma_anomaly",
    "temperature_sampling_mix",
    "streaming_sessionize",
    "skipgram_pairs_subsampled",
    "k_anonymity_audit",
    "logistic_regression_irls",
    "loo_source_influence",
    "conversion_ab_ztest",
    "gdpr_erasure_audit",
    "psi_monthly_trend",
    "neyman_allocation_sample",
    "ucb_variant_allocation",
    "streaming_dedup_replay",
    "copurchase_degree_powerlaw",
    "quantile_normalization_map",
    "logistic_calibration_quality",
    "bm25_retrieval_topk",
    "attribution_markov_removal",
    "wasserstein_source_shift",
    "markov_next_event_accuracy",
    "content_defined_chunking",
    "ecdf_dkw_band",
    "seasonal_decompose_daily",
    "markov_order2_gain",
    "cooccurrence_pmi_window",
    "cuped_adjusted_ab",
    "logodds_fightin_words",
    "dp_laplace_counts",
    "good_turing_smoothing",
    "bitmap_exact_distinct",
    "isotonic_calibration",
    "poisson_bootstrap_replicates",
    "adamic_adar_copurchase",
    "l_diversity_audit",
    "retrieval_eval_ndcg",
    "fdr_bh_correction",
    "conformal_interval",
    "page_hinkley_drift",
    "negative_sampling_unigram",
    "kaplan_meier_survival",
    "shapley_attribution",
    "uplift_qini_curve",
    "histogram_split_finding",
    "mutual_information_matrix",
    "ips_policy_evaluation",
    "herfindahl_concentration",
    "knn_shapley_valuation",
    "text_burstiness_fano",
    "simpson_paradox_audit",
    "adaboost_stumps",
    "sprt_sequential_test",
    "naive_bayes_lang_confusion",
    "srm_guardrail_check",
    "ipf_raking_weights",
    "median_polish_revenue",
    "mann_kendall_trend",
    "power_analysis_design",
    "changepoint_single_split",
    "graph_k_core_peel",
    "funnel_strict_windowed",
    "gumbel_return_levels",
    "one_way_anova_f",
    "levene_brown_forsythe",
    "bm25_prf_expansion",
    "permutation_test_diff",
    "geometric_median_embeddings",
    "error_budget_burn_rate",
    # r8 additions
    "conformal_interval_sketch",
]


def median(xs: list[float]) -> float:
    s = sorted(xs)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def control_workload(spark) -> None:
    """Fixed calibration job, FROZEN round-over-round (r7 verdict ask #4):
    a registry-independent range->shuffle->agg->sort pipeline whose cost is
    pure host speed — no repo code in the hot path, so round-over-round
    code changes cannot move it. The committed artifact carries
    control_ratio = headline / control; across rounds the RATIO is
    host-weather-proof while raw seconds are not (same code measured
    22-33 s headline across days on this host — MICROBENCH.md r7)."""
    from pyspark.sql import functions as F

    (
        spark.range(0, 60_000_000, 1, 32)
        .select(
            (F.col("id") % 999_983).alias("k"),  # ~1M groups: a REAL shuffle
            (F.col("id") % 31).cast("double").alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.avg("v").alias("a"), F.count("*").alias("c"))
        .orderBy(F.col("s").desc())
        .count()
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    def run_set(
        names: list[str], passes: int, adaptive: bool = False
    ) -> tuple[dict[str, float], dict[str, float], dict[str, float],
               float | None, int]:
        """Returns (timings, spread, noise_floor, total_floor, passes_run).

        With passes>=2 the timing is min-of-pass-medians, the per-query
        floor is the delta between the two SMALLEST pass medians (the two
        least-noise estimates; identical to max-min at exactly 2 passes),
        and total_floor is the delta between the two smallest pass totals;
        with passes=1 the timing is the single median and the floors are
        {}/None.

        adaptive=True (headline only, r9 verdict ask #5): when the
        total_floor exceeds SPARK_GRAFT_BENCH_NOISE_TOL (default 10%) of
        the reported total — as in the r9 driver-session artifact, whose
        6.4 s floor on a 31.6 s headline drowned the round-over-round
        delta — keep taking passes (up to SPARK_GRAFT_BENCH_MAX_PASSES,
        default 6) until the two best passes agree within tolerance. The
        artifact then self-reports `passes`: a floor that is still wide at
        the cap is genuine host weather, adjudicated by control_ratio."""
        names = [n for n in names if n in qs]
        # Warm-up pass: run every query once so the timed passes measure
        # steady-state execution (JIT-compiled codegen, Python worker pool,
        # OS page cache) rather than single-shot JVM/interpreter warm-up.
        for name in names:
            qs[name](spark, sf_dir).count()
        pass_medians: list[dict[str, float]] = []
        all_samples: dict[str, list[float]] = {name: [] for name in names}

        def one_pass() -> None:
            samples: dict[str, list[float]] = {name: [] for name in names}
            for _ in range(n_runs):
                for name in names:
                    t0 = time.time()
                    qs[name](spark, sf_dir).count()
                    dt = time.time() - t0
                    samples[name].append(dt)
                    all_samples[name].append(dt)
            pass_medians.append({n: median(ts) for n, ts in samples.items()})

        def two_smallest_delta(xs: list[float]) -> float:
            lo = sorted(xs)[:2]
            return lo[1] - lo[0]

        def stats():
            timings = {
                n: round(min(pm[n] for pm in pass_medians), 3) for n in names
            }
            noise = (
                {
                    n: round(two_smallest_delta([pm[n] for pm in pass_medians]), 3)
                    for n in names
                }
                if len(pass_medians) > 1
                else {}
            )
            pass_totals = [sum(pm.values()) for pm in pass_medians]
            total_floor = (
                round(two_smallest_delta(pass_totals), 3)
                if len(pass_medians) > 1
                else None
            )
            return timings, noise, total_floor

        for _ in range(passes):
            one_pass()
        timings, noise, total_floor = stats()
        if adaptive and passes > 1:
            tol = float(os.environ.get("SPARK_GRAFT_BENCH_NOISE_TOL", "0.10"))
            max_passes = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_PASSES", "6"))
            while (
                len(pass_medians) < max_passes
                and total_floor is not None
                and sum(timings.values()) > 0
                and total_floor > tol * sum(timings.values())
            ):
                one_pass()
                timings, noise, total_floor = stats()
        spread = {
            n: round(max(ts) - min(ts), 3) for n, ts in all_samples.items()
        }
        return timings, spread, noise, total_floor, len(pass_medians)

    def sample_control() -> float:
        """Median-of-n of the frozen calibration workload (r7 verdict ask #4)."""
        control_workload(spark)  # warm-up
        samples = []
        for _ in range(n_runs):
            t0 = time.time()
            control_workload(spark)
            samples.append(time.time() - t0)
        return round(median(samples), 3)

    headline_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    timings, spread, noise, total_floor, passes_run = run_set(
        HEADLINE, headline_passes, adaptive=True
    )
    # Same-session control run, measured right after the headline passes so
    # it samples the same host weather the headline saw. `control_sec` keeps
    # its r7 position/methodology so cross-round artifacts stay comparable;
    # r11 (r10 verdict ask #2b) ADDS a second sample after the tranche
    # section because r10's weather table showed the control shifting
    # 1.40→2.69 s WITHIN a run — per-section samples make each section's
    # control_ratio self-consistent.
    control_sec = sample_control()
    # diagnostic knob: SPARK_GRAFT_BENCH_SECTIONS=headline skips the tranche
    # (used to adjudicate host-noise questions with a fast re-measure; the
    # driver always runs both sections)
    skip_tranche = os.environ.get("SPARK_GRAFT_BENCH_SECTIONS", "") == "headline"
    tranche_timings, tranche_spread = ({}, {})
    control_sec_tranche = None
    if not skip_tranche:
        tranche_timings, tranche_spread, _, _, _ = run_set(TRANCHE, 1)
        control_sec_tranche = sample_control()

    headline_line = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "noise_floor": total_floor,
        "passes": passes_run,
        "control_sec": control_sec,
        "control_ratio": round(sum(timings.values()) / control_sec, 3)
        if control_sec
        else None,
        # r11 additions (r10 verdict ask #2a): echo what the session actually
        # ran on so the driver's scaling heuristic stops guessing from
        # overhead-dominated per-query ratios. Additive fields only.
        "cpus": local_cpus(),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        # r10 verdict ask #2b: headline-adjacent control sample (same sample
        # as control_sec — named so per-section ratios are explicit).
        "control_sec_headline": control_sec,
    }
    tranche_line = {
        "metric": "tranche_queries_total",
        "value": round(sum(tranche_timings.values()), 3),
        "unit": "sec",
        "queries": tranche_timings,
        "sf": sf,
        # r8 verdict ask #6: the tranche gets the same host-weather
        # normalization the headline has — cross-round tranche comparisons
        # use tranche_control_ratio, not raw seconds (same control workload,
        # same REGRESSION RULE as the headline).
        "control_sec": control_sec,
        "control_ratio": round(sum(tranche_timings.values()) / control_sec, 3)
        if (control_sec and tranche_timings)
        else None,
        # r11 additions (r10 verdict ask #2b): control sampled right AFTER
        # the tranche section, so a within-run weather shift between the two
        # sections is visible and the tranche gets a self-consistent ratio.
        "control_sec_tranche": control_sec_tranche,
        "control_ratio_tranche": round(
            sum(tranche_timings.values()) / control_sec_tranche, 3
        )
        if (control_sec_tranche and tranche_timings)
        else None,
    }
    diag_line = {
        "runs_per_query": n_runs,
        "headline_passes": passes_run,
        "spread": spread,
        "noise_floor": noise,
        "tranche_spread": tranche_spread,
    }
    full = {"headline": headline_line, "tranche": tranche_line, "diag": diag_line}
    # partial or off-default-scale diagnostic runs must not clobber the
    # canonical sf0.1 artifact (a verify-skill smoke at sf0.01 once did).
    # r7 (r6 verdict ask #6): the COMMITTED artifact BENCH_FULL.json is only
    # written when explicitly asked (SPARK_GRAFT_WRITE_FULL=1, set by the
    # builder for quiet-host baseline runs with a same-commit control) —
    # driver/CI invocations get BENCH_FULL.latest.json (untracked) so a
    # routine bench run can never leave the committed baseline dirty.
    if not skip_tranche and abs(sf - 0.1) < 1e-9:
        fname = (
            "BENCH_FULL.json"
            if os.environ.get("SPARK_GRAFT_WRITE_FULL") == "1"
            else "BENCH_FULL.latest.json"
        )
        try:
            out = os.path.join(os.path.dirname(os.path.abspath(__file__)), fname)
            with open(out, "w") as fh:
                json.dump(full, fh, indent=1)
        except OSError:
            pass  # diagnostics file is best-effort; stdout lines below are canonical
    # Diagnostic lines first; the compact headline metric line MUST be last.
    print(json.dumps(diag_line))
    print(json.dumps(tranche_line))
    print(json.dumps(headline_line))


if __name__ == "__main__":
    main()
