"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR.

Prints the full JSON record line
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``
followed by ONE COMPACT summary line (same metric/value/unit/sf plus
phase-control times and host steal/iowait brackets, no per-key map) —
the compact line is what survives the grading driver's bounded stdout
tail and is the machine-readable record of the run.

Each query is forced end-to-end with the ``noop`` sink (full computation,
no result materialization on the driver — ``count()`` would let Catalyst
prune the very projections being measured).

Measurement protocol (pinned round 3; per-key baseline in BASELINE.md
"Round-3 per-key steady-state table"):

1. One shared SparkSession, local[$SPARK_GRAFT_CPUS] (default 32).
2. EVERY headline key is warmed once at sf0.001 before any measurement —
   figures are steady-state execution, excluding whole-stage-codegen
   compilation (which amortizes to zero at 100 TB and otherwise dominates
   the widest plans at fixture scale: x_dedup_near 6.7 s cold vs 2.7 s
   warm).
3. Keys run once each, in HEADLINE order, at $SPARK_GRAFT_SF_DIR
   (default sf0.1). Wall time covers plan construction + execution.
4. The key list only ever APPENDS (never reorders/removes) so per-set
   subtotals stay comparable round over round; BASELINE.md records which
   keys joined in which round.
5. Host variance is real (~1.5-2× uniform in noisy phases): compare
   per-key RATIOS against the baseline table, not absolute sums, when
   the whole run scaled together.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from googleanalytics_etl_spark import get_spark
from googleanalytics_etl_spark.registry import queries

# Headline set: the flagship pipelines plus the heaviest representative
# of each operator category (scan, agg, joins, windows, pivot, streaming
# twin, dedup family, similarity, text analysis).
HEADLINE = [
    "q_scan_pruned",
    "q_groupby_agg",
    "q_join_inner",
    "q_join_broadcast",
    "q_join_range",
    "q_sessionize",
    "q_flagship",
    "q_flagship2",
    "q_window_rank",
    "q_pivot",
    "s_tumbling",
    "x_dedup_exact",
    "x_dedup_near",
    "x_sim_knn",
    "x_tokenize",
    "x_chunk_docs",
    "x_pii_scrub",
    "x_corpus_shard",
    "x_corpus_prep",
    # round 2: analytics composites from the driver window (the original
    # 19 keys above are unchanged so round-over-round compares hold)
    "q_join_asof",
    "q_retention",
    # round 2 (late): the TPC-H decision-support suite — recognizable
    # OLAP shapes benched end-to-end (BASELINE.md documents the per-set
    # subtotals so earlier-round totals stay comparable)
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q6",
    "q_tpch_q8",
    "q_tpch_q18",
    # round 2 (suite completion): the single-pass summary report and the
    # heaviest self-referencing-fact query of the remaining eleven
    "q_tpch_q1",
    "q_tpch_q21",
    # round 3: runtime-filter join, partition-pruned scan, CDC MERGE loop
    "x_bloom_semi",
    "x_partition_prune",
    "s_cdc_apply",
    # round 4: sketch-space rolling WAU, zone-map file skipping, blocked
    # k-NN join, n-gram counts (BASELINE.md: 31-key subtotal unchanged)
    "x_sketch_hll_wau",
    "x_zonemap_skip",
    "x_knn_join_blocked",
    "x_ngram_counts",
    "q_lateral_topk",
    "x_cooccur_pmi",
    "x_bm25",
    "x_embed_quantize",
    "q_join_full",
    "q_regression",
    "x_repetition_score",
    "x_feature_hash",
    "x_graph_triangles",
    "q_moving_median",
    "x_anomaly_mad",
    "x_kmeans",
    "q_cohort_ltv",
    "x_bloom_index",
    "x_ann_recall",
    "x_span_dup_profile",
    "x_gram_matrix",
    "q_percentile_disc",
    "x_dedup_eval",
    # round 5 pre-work: data-mixing / semantic-dedup additions
    "x_mixture_sample",
    "x_token_entropy",
    "x_semdedup",
    "x_containment",
    "x_approx_topk",
    "x_bigram_logprob",
    "x_diverse_sample",
    "x_dedup_incremental",
    "x_curation_e2e",
    "x_hilbert",
    "x_hard_negatives",
    # round 5: paged-source scan and the approx-distinct accuracy twin
    "q_scan_paged",
    "q_approx_distinct_bound",
    # round 5: survivor-grain dedup outputs + clustering certification
    "x_semdedup_survivors",
    "x_cluster_purity",
    "x_span_dedup",
    # round 5: the sync loop through the paged streaming source
    "s_paged_sync",
    # round 6: corpus-health / curation-planning additions
    "x_class_balance",
    "x_survivor_policy",
    "x_source_kl",
    "x_token_budget",
    "x_split_contamination",
    "x_dup_inflation",
    "s_dedup_near",
    "x_ndcg_eval",
    "x_compaction_plan",
    "x_join_skew_diagnose",
    "s_psi_monitor",
    # round 6 batch 2: corpus-forensics additions
    "x_prefix_dedup",
    "x_tokenizer_fertility",
    "x_freq_prune_vocab",
    "x_embed_outliers",
    "x_cross_source_dups",
    "x_context_truncation",
    "x_exact_stratified",
    "s_late_data_audit",
    "x_lsh_tuning",
    "x_weighted_jaccard",
    "x_boilerplate_score",
    "s_update_counts",
    "x_embed_dim_stats",
    "x_minhash_accuracy",
    "x_dup_trend",
    "x_pq_quantize",
    "x_dataset_card",
    "x_adc_scan",
    "x_did_analysis",
    "x_bootstrap_ci",
    "x_dataset_diff",
    "x_cc_sizes",
    "x_length_bias_audit",
    "x_quality_vs_dup",
    "x_random_projection",
    "x_time_to_convert",
    "x_ppl_filter",
    "x_neg_sampling_table",
    "x_privacy_kanon",
    "x_churn_label",
    "x_chi2_independence",
    "x_ab_srm_check",
    "q_sql_udf",
    "q_sql_params",
    "x_mmr_rerank",
    "x_auc_roc",
    "x_calibration_ece",
    "x_kaplan_meier",
    "x_cusum_changepoint",
    "x_basket_lift",
    "x_mutual_info",
    "x_ks_test",
    "x_welch_ttest",
    "x_spearman_corr",
    "x_gini_concentration",
    "x_kneser_ney",
    "x_benford",
    "x_hits",
    "x_seasonal_profile",
    "x_forecast_eval",
    "x_quantile_normalize",
    "x_collocation_llr",
    "x_session_entropy",
    "x_zipf_fit",
    "x_heaps_law",
    "x_target_encode",
    "x_kfold_stats",
    "x_posting_lists",
    "x_eb_shrinkage",
    "x_sequence_mining",
    "x_graph_2hop",
    "x_growth_accounting",
    "x_outlier_iqr",
    "x_funnel_windowed",
    "x_ts_features",
    "x_ab_cuped",
    "x_burst_detect",
    "x_mix_shift",
    "x_item_cf",
    "x_session_paths",
    "x_peak_concurrency",
    "x_theil_sen",
    "x_autocorr",
    "q_fn_regex",
    "q_session_window_tvf",
    "x_ri_audit",
    "x_scd2_snapshot",
    "x_funnel_window_sweep",
    "x_gap_histogram",
    "x_weighted_percentile",
    "x_active_streaks",
    "x_ratio_metric_delta",
    "x_ship_lag",
    "x_error_budget",
    "x_vocab_overlap",
    "x_seasonal_anomaly",
    "x_burstiness",
    "x_clustering_coef",
    "x_assortativity",
    "x_transition_entropy",
    "x_modularity",
    "x_runs_test",
    "x_abc_class",
    "x_simpsons_slope",
    "x_cohens_d",
    "s_error_budget",
    "x_mixture_weights",
    "x_embed_drift",
    # round 7: the real JDBC sink path (embedded Derby) + sketch-bound
    # and rank-test certifications
    "q_jdbc_roundtrip",
    "s_jdbc_sync",
    "x_countmin_bound",
    "x_anova_oneway",
    "x_mann_whitney",
    # round 7 batch 2: rank/divergence/drift statistics
    "x_kruskal_wallis",
    "x_pr_auc",
    "x_cramers_v",
    "x_js_divergence",
    "x_page_hinkley",
    # round 7 batch 3: relational sketches with derived certifications,
    # closed-form multi-feature OLS
    "x_bloom_fpr",
    "x_hll_relational",
    "x_ols_multi",
    # round 7 batch 4: iterative linear algebra + streaming HLL merge
    "x_power_iteration",
    "s_hll_merge",
    # round 7 batch 5: experiment planning + evaluation analytics
    "x_ab_power_mde",
    "x_wilson_ci",
    "x_seasonal_decompose",
    "x_gains_table",
    # round 7 batch 6: bounded-iteration graph peeling
    "x_kcore_peel",
    # round 8: streaming mergeability certifications for the KLL-twin
    # and theta (bottom-k) sketch families, + sketch-space difference
    "s_kll_merge",
    "s_theta_merge",
    "x_kmv_diff",
    "s_countmin_merge",
    "s_semdedup",
    # round 9: x_semdedup above now measures the banded-LSH scale path;
    # the ⌈√n⌉-IVF variant it replaced stays benched under its own key,
    # plus the banded survivors artifact and the S-curve certification
    "x_semdedup_ivf",
    "x_semdedup_survivors_banded",
    "x_signlsh_tuning",
    "x_semdedup_incremental",
    "x_semdedup_threshold_curve",
    # round-9 data-selection batch (ops/round9b.py)
    "x_dsir_weights",
    "x_dsir_resample",
    "x_mixture_temperature",
    "s_dsir_score",
    "x_winnow_fingerprint",
    "x_winnow_matches",
    "s_winnow_matches",
    "s_reservoir_sample",
    # round-10 exact-substring dedup family (ops/round10.py)
    "x_exact_substring_dedup",
    "x_exact_substring_clean",
    "s_exact_substring_dedup",
    "x_decontaminate_spans",
    # round-11 reporting pair + durable bucketed fold (ops/round11.py)
    "x_dup_rate_by_source",
    "x_decon_report",
    "s_exact_substring_durable",
    "s_decon_gate",
    # round 12: equi-key-free banded range join (ops/round12.py)
    "q_join_range_banded",
]


def run_query(spark, builder, sf_dir: str) -> float:
    t0 = time.perf_counter()
    df = builder(spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


_SCRUBS = 0


def scrub_session(spark) -> None:
    """Between-key session hygiene (outside every measured window).

    A 216-key session accumulates state no single key sees: memory-sink
    temp views pin their row buffers in the driver, eager
    localCheckpoints pin RDD blocks until the driver GC happens to run
    (the ContextCleaner reaps asynchronously, and a 128 GiB heap GCs
    rarely), and per-key persists linger. The buildup degrades LATE
    HEADLINE keys only — measured: s_error_budget 3.6 s early-session
    vs 29.2 s at the tail of a reps=3 run, x_cohens_d 0.5 → 2.8 —
    while early keys are unaffected; with view-drop + clearCache both
    return to their early-session figures. The GC nudge (which lets the
    ContextCleaner actually reap dropped blocks) runs only every 32nd
    scrub: a per-rep System.gc() was measured to leak multi-second
    collector work into NEIGHBORING measured windows (x_minhash_accuracy
    1.8 → 15.2 s), costing more than the pinned blocks it freed.
    """
    global _SCRUBS
    try:
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
        spark.catalog.clearCache()
        _SCRUBS += 1
        if _SCRUBS % 32 == 0:
            spark.sparkContext._jvm.System.gc()
            time.sleep(1.0)  # let concurrent collector work drain
    except Exception:
        pass  # hygiene must never fail a bench


def _host_phase_sample() -> dict | None:
    """One /proc/stat cpu-line sample: absolute jiffy counters.

    The grading host has documented multi-hour "phases" where steal+
    iowait inflate every wall time ~1.5-2× uniformly (BASELINE.md,
    round-10 adjudication).  Two samples bracketing the run let a
    reader classify apparent regressions as phase vs genuine from the
    bench record alone, without paired re-runs.
    """
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        # user nice system idle iowait irq softirq steal guest guest_nice
        # guest/guest_nice are ALREADY included in user/nice on the
        # cpu line — summing them too would double-count VM guest time
        # and deflate the steal/iowait percentages on exactly the
        # shared-virtualized host this instrumentation targets, so the
        # denominator stops at steal (the standard 8 fields).
        vals = [int(x) for x in parts[1:9]]
        return {
            "total": sum(vals),
            "idle": vals[3],
            "iowait": vals[4] if len(vals) > 4 else 0,
            "steal": vals[7] if len(vals) > 7 else 0,
        }
    except (OSError, ValueError, IndexError):
        return None


def _host_phase_delta(a: dict | None, b: dict | None) -> dict | None:
    """Percent-of-total steal/iowait/busy between two samples."""
    if not a or not b:
        return None
    tot = b["total"] - a["total"]
    if tot <= 0:
        return None
    pct = lambda k: round(100.0 * (b[k] - a[k]) / tot, 2)  # noqa: E731
    # busy excludes BOTH idle and iowait so the three reported
    # percentages partition the window (busy + iowait + steal +
    # unreported-idle = 100); counting iowait as busy would misclassify
    # exactly the phase this fingerprint exists to detect.
    return {"steal_pct": pct("steal"), "iowait_pct": pct("iowait"),
            "busy_pct": round(100.0 - pct("idle") - pct("iowait"), 2)}


# Three stable, cheap keys re-run FIRST each bench: their ratios against
# the canonical table (BASELINE.md) are the run's phase fingerprint.
PHASE_CONTROLS = ["q_groupby_agg", "q_sessionize", "q_flagship"]


# Keys measured per SparkSession before the session is stopped and
# rebuilt. Session-lifetime driver state (localCheckpoint RDD blocks
# the ContextCleaner hasn't reaped, streaming memory-sink buffers,
# lingering broadcast pieces) was measured to inflate LATE keys of a
# 226-key single-session run 2-5x (s_error_budget 3.6 s early vs
# 29.2 s at the tail; the round-8 s_*_merge block showed the same
# phantoms in reps=1 driver snapshots) while scrub_session's view-drop
# + clearCache only bounds PART of it. Recycling the session every
# segment caps the buildup window at SEGMENT keys; each segment warms
# its own keys, so total warmup work is unchanged and every measured
# window still sees compiled-code steady state.
SEGMENT = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_SEGMENT", "64")))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    q = queries()
    warm_dir = "/root/testdata/sf0.001"
    warm = Path(warm_dir).exists()

    # $SPARK_GRAFT_BENCH_REPS > 1 → median-of-N per key (attributable
    # regression hunting on a shared host, without changing the default
    # single-shot protocol the committed round tables use)
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "1")))
    phase_start = None
    times: dict[str, float] = {}
    controls: dict[str, float] = {}
    spark = None
    segments = [HEADLINE[i : i + SEGMENT] for i in range(0, len(HEADLINE), SEGMENT)]
    for si, seg in enumerate(segments):
        if spark is not None:
            spark.stop()
        spark = get_spark("gae-spark-bench")
        # JVM/codegen warmup on the smallest fixture so measured times
        # are steady-state execution, not first-call compilation — every
        # key of THIS segment, in this segment's fresh session (round-2
        # benches warmed only two keys and the widest plans paid their
        # whole-stage-codegen compile inside the measured window).
        if warm:
            for key in seg:
                run_query(spark, q[key], warm_dir)
                scrub_session(spark)
        if si == 0:
            phase_start = _host_phase_sample()
            # Phase controls run FIRST (then again in HEADLINE order
            # like every other key): their ratio vs the canonical
            # BASELINE.md table stamps the host phase at run start into
            # the record itself.
            for key in PHASE_CONTROLS:
                if key in q:
                    controls[key] = round(run_query(spark, q[key], sf_dir), 3)
                    scrub_session(spark)
        for key in seg:
            samples = []
            for _ in range(reps):
                samples.append(run_query(spark, q[key], sf_dir))
                scrub_session(spark)
            samples.sort()
            times[key] = round(samples[len(samples) // 2], 3)
    phase_end = _host_phase_sample()
    host = _host_phase_delta(phase_start, phase_end)

    sf = float(Path(sf_dir).name.removeprefix("sf")) if "sf" in Path(sf_dir).name else None
    record = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }
    print(json.dumps(record))
    # Driver-side per-key visibility (round-12 verdict item 2): the full
    # per-key map above outgrows the driver's ~2000-char archived tail,
    # so per-key regression detection was impossible driver-side. Emit
    # the SLOWEST keys as their own compact line, budgeted to fit the
    # tail alongside the final summary line (<= 1200 chars: top-20 keys
    # at ~35 chars each plus framing; trimmed further if a pathological
    # run produces very long entries).
    slow = sorted(times.items(), key=lambda kv: -kv[1])[:20]
    top_line = json.dumps({"metric": "headline_slowest", "top": dict(slow)})
    while len(top_line) > 1200:
        slow = slow[:-1]
        top_line = json.dumps({"metric": "headline_slowest", "top": dict(slow)})
    print(top_line)
    # The grading driver archives only a bounded TAIL of stdout (~2000
    # chars) and parses the last complete JSON line it finds. The full
    # record above outgrew that bound at ~60 headline keys, so rounds
    # 1-10 all archived a mid-line fragment ("parsed": null). This
    # compact line — total, phase controls, host steal/iowait brackets,
    # never the per-key map — is printed LAST so the archived tail
    # always ends with a machine-readable summary.
    compact = {
        "metric": record["metric"],
        "value": record["value"],
        "unit": "sec",
        "sf": sf,
        "n_keys": len(times),
        "reps": reps,
        "segment": SEGMENT,
        "controls": controls,
        "host": host,
    }
    print(json.dumps(compact))
    # Persist the full record locally so every round's complete per-key
    # timings are recoverable from the repo (BENCH_local_latest.json is
    # committed per round; the history file accumulates every run).
    try:
        here = Path(__file__).resolve().parent
        full = dict(record, ts=time.strftime("%Y-%m-%dT%H:%M:%S"), reps=reps,
                    segment=SEGMENT, controls=controls, host=host)
        (here / "BENCH_local_latest.json").write_text(json.dumps(full, indent=1))
        with open(here / "BENCH_local_history.jsonl", "a") as fh:
            fh.write(json.dumps(full) + "\n")
    except OSError:
        pass  # read-only checkout: the printed line is still the contract


if __name__ == "__main__":
    main()
