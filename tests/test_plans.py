"""Plan-shape tests (SURVEY.md §5 layer 3): guard the §4 scale claims.

Correctness says the operator computes the right rows; these say it
computes them with the *plan we want at 100 TB* — filters pushed to the
parquet scan, columns pruned, small dims broadcast, sessionization
shuffling the event log exactly once.
"""

from __future__ import annotations

import contextlib
import io

from conftest import SF_SMALL

from googleanalytics_etl_spark.registry import queries


def fmt_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def simple_plan(df) -> str:
    # simple mode keeps "Exchange hashpartitioning(...)" on one line,
    # which makes shuffle counting reliable (formatted mode splits them)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark):
    df = queries()["q_scan_pruned"](spark, SF_SMALL)
    plan = fmt_plan(df)
    assert "PushedFilters" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1].split("\n")[0], (
        "l_quantity predicate should reach the parquet reader"
    )
    # column pruning: the scan must not read the full 16-column schema
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema, "unused column not pruned"


def test_broadcast_join_plan(spark):
    plan = fmt_plan(queries()["q_join_broadcast"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_star_join_broadcasts(spark):
    plan = fmt_plan(queries()["q_flagship2"](spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 3, (
        "dimension joins should broadcast"
    )


def test_sessionize_single_shuffle(spark):
    plan = simple_plan(queries()["q_sessionize"](spark, SF_SMALL))
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, (
        f"sessionization must shuffle the event log exactly once, "
        f"saw {n_exchange} hash exchanges"
    )


def test_flagship_single_event_shuffle(spark):
    # lag-window, session-id cumsum, first/last-touch windows and the
    # final per-session agg must all reuse the user_id partitioning.
    plan = simple_plan(queries()["q_flagship"](spark, SF_SMALL))
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, (
        f"flagship pipeline should reuse one user_id shuffle, "
        f"saw {n_exchange}"
    )


def test_topk_uses_take_ordered(spark):
    plan = fmt_plan(queries()["q_orderby_limit"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan, (
        "global top-N must not plan a full sort"
    )


def test_knn_broadcasts_query_vector(spark):
    plan = fmt_plan(queries()["x_sim_knn"](spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # top-k must be TakeOrdered (parallel per-partition heaps), never a
    # global-order window funneling all scored rows into one partition
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


# Ops whose plans legitimately contain Python evaluation (the declared
# UDF/UDTF/stateful surface) or a broadcast nested-loop (the broadcast
# query-vector cross joins).
_PYTHON_OK = {
    "q_udf_scalar",
    "q_udf_pandas",
    "q_udaf_pandas",
    "q_udtf_explode",
    "q_udtf_pairs",
    "x_multimodal",
    "x_media_frames",
    "s_stateful_user",
    "x_approx_topk",  # declared: per-partition Misra-Gries mapInPandas
    "q_arrow_map",  # declared: Arrow-native mapInArrow boundary surface
}
# declared-benign nested-loop joins: every build side is a broadcast
# TINY relation — single-row (query vector / corpus-count aggregate /
# scalar threshold subquery — Q11's total-value, Q22's average-balance,
# x_zorder's min-max bounds) or bounded-by-construction (the 5-row band
# table in q_join_band_broadcast — BNL IS the correct non-equi plan, see
# its docstring; q_rolling_wau's |days|-row spine)
_BNLJ_OK = {
    "x_sim_knn",
    # MMR: the corpus stage is x_sim_knn's broadcast-scalar crossJoin;
    # the 10×10 candidate pair-sim construction is bounded metadata
    "x_mmr_rerank",
    "x_sim_knn_ivf",
    "x_sim_knn_lsh",
    "x_tfidf",
    "q_tpch_q11",
    "q_tpch_q22",
    "q_join_band_broadcast",
    "q_rolling_wau",
    "x_zorder",
    # sketch composites: the day-grain sketch↔spine range join (≤#days
    # rows of 4 KiB sketches) and the 1×1 exact-vs-estimate crossJoins
    # are metadata-scale by construction — BNLJ is the right plan there
    "x_sketch_hll_wau",
    "x_sketch_theta_overlap",
    # the 5-row query panel broadcast (exact-vs-IVF audit) and the
    # 1×1×1 stats/edges/triangles crossJoins — bounded build sides
    "x_ann_recall",
    "x_graph_triangles",
    # 1-row total-count crossJoins (mixture rate table, MG threshold)
    # and the ≤8-row seed-centroid broadcast in the SemDeDup assignment
    "x_mixture_sample",
    "x_approx_topk",
    "x_semdedup",  # 256-row hyperplane broadcast (banded path)
    "x_semdedup_ivf",
    # 256-row hyperplane broadcast + (tuning) the fixed 400-row probe
    # panel's non-equi pair join — bounded by construction
    "x_semdedup_survivors_banded",
    "x_signlsh_tuning",
    "x_semdedup_incremental",  # 256-row hyperplane broadcast again
    "x_semdedup_threshold_curve",  # planes bcast + 5-row threshold spine
    # 1-row broadcasts: vocab-size (smoothed LM), elected merge pair
    # (BPE round), global row count (equi-depth bucket arithmetic)
    "x_bigram_heldout",
    "x_bpe_apply",
    "x_equidepth_hist",
    # 1-row min/max-bounds broadcast (Hilbert scaling, like x_zorder)
    # and the 1-row query-vector broadcast in the fusion's cosine leg
    "x_hilbert",
    "x_rrf_fusion",
    # 1-row horizon broadcast (RFM recency) and the 3-row k-threshold
    # spine in the coverage curve
    "x_rfm_features",
    "x_vocab_coverage",
    # 5-row threshold spine over cached pairs; 1-row decay horizon
    "x_dedup_threshold_curve",
    "x_time_decay",
    # round 6: metadata-frame broadcasts — per-label count table + 1-row
    # min-class scalar (class balance), ≤k-row vocabulary grid + 1-row
    # corpus totals (source KL), |sources|-row totals/leftover plan
    # frames (token budget)
    "x_class_balance",
    "x_source_kl",
    "x_token_budget",
    # 5-query panel broadcasts (NDCG audit, same shape as x_ann_recall)
    # and the 1-row totals broadcast in the skew profiler
    "x_ndcg_eval",
    "x_join_skew_diagnose",
    # 1-row totals broadcasts: basket count (lift), grand total +
    # MI/entropy scalars (mutual info), pre/post means (CUSUM), at-risk
    # grand total (Kaplan-Meier)
    "x_basket_lift",
    "x_mutual_info",
    "x_cusum_changepoint",
    "x_kaplan_meier",
    # round-6 statistics batches: 1-row grand-total / χ² / type-count
    # broadcasts (KS rest-side totals, Welch pooled moments, Benford
    # spine total + chi2, KN type count, LLR bigram total, HITS L1
    # normalizers, seasonal-profile total); x_quantile_normalize's
    # domain×domain integer-CDF range join is bounded by the
    # value-domain square by construction (see its docstring)
    "x_ks_test",
    "x_welch_ttest",
    "x_benford",
    "x_kneser_ney",
    "x_collocation_llr",
    "x_hits",
    "x_seasonal_profile",
    "x_quantile_normalize",
    # 1-row grand-total broadcasts: global prior (target encode),
    # fold grand totals (k-fold leave-fold-out identity)
    "x_target_encode",
    "x_kfold_stats",
    # 1-row global-rate broadcast (EB shrinkage prior)
    "x_eb_shrinkage",
    # 1-row max-week broadcast clipping trailing churn
    "x_growth_accounting",
    # 1-row pooled-moments broadcast (CUPED theta/var-ratio)
    "x_ab_cuped",
    # 2-row period-totals broadcast (mix/rate weights)
    "x_mix_shift",
    # 1-row moment broadcasts on calendar-domain frames
    "x_theil_sen",
    "x_autocorr",
    # six 1-row (violations × population) count pairs
    "x_ri_audit",
    # 1-row gap-total broadcast (share denominator)
    "x_gap_histogram",
    # 1-row entropy-margin / edge-total broadcasts
    "x_transition_entropy",
    "x_modularity",
    # 1-row median broadcast (runs-test sign split)
    "x_runs_test",
    # 1-row pooled-moments broadcast (Simpson's comparison)
    "x_simpsons_slope",
    # 1-row totals broadcast (mixture weights / ESS)
    "x_mixture_weights",
    # 1-row event-total broadcast (the εN slack of the CM bound)
    "x_countmin_bound",
    # 1-row totals / k-row group-frame broadcasts (ordered-fold stats)
    "x_anova_oneway",
    "x_kruskal_wallis",
    # 1-row contingency-totals broadcast (χ² denominators)
    "x_cramers_v",
    # |sources|×k vocab grid (the x_source_kl shape)
    "x_js_divergence",
    # ≤m-bit filter broadcast + 1-row totals (derived FPR bound)
    "x_bloom_fpr",
    # m-register frame + 1-row exact-distinct broadcast
    "x_hll_relational",
    # d-row vector / 1-row norm/eigenvalue/trace broadcasts per step
    "x_power_iteration",
    # 1-row distinct-user-total broadcast (Wilson denominators)
    "x_wilson_ci",
    # 1-row (n, p) totals broadcast (decile edges + capture/lift)
    "x_gains_table",
    # 3-row quantile-target frame broadcast vs the event scan (the
    # rank-certification non-equi join of the folded histogram)
    "s_kll_merge",
    # 1-row sketch-stats × 1-row exact-totals cross (certification cols)
    "x_kmv_diff",
    # 1-row event-total broadcast (the εN slack — the x_countmin_bound shape)
    "s_countmin_merge",
    # round-9 data-selection batch: 1-row totals crossJoins only —
    # (tt, tr) feature totals under the 1024-row λ model (DSIR weights,
    # its resampler and streaming-fold twin) and the token-total +
    # √p-normalizer scalars in the temperature mix
    "x_dsir_weights",
    "x_dsir_resample",
    "s_dsir_score",
    "x_mixture_temperature",
}
# real streaming ops execute inside the builder; plan-linting the
# returned memory/parquet table is meaningless
_SKIP = {
    "s_watermark",
    "s_incremental_sync",
    "s_paged_sync",
    "s_stateful_user",
}


def test_plan_lint_no_accidental_python_or_cartesian(spark):
    """Every operator's physical plan is free of accidental slow paths:
    no Python evaluation outside the declared UDF surface, no cartesian
    product or undeclared nested-loop join anywhere."""
    from googleanalytics_etl_spark.registry import REGISTRY

    offenders = []
    for key in sorted(queries()):
        if key in _SKIP:
            continue
        plan = simple_plan(queries()[key](spark, SF_SMALL))
        if key not in _PYTHON_OK and (
            "BatchEvalPython" in plan or "ArrowEvalPython" in plan
        ):
            offenders.append((key, "python-eval"))
        if "CartesianProduct" in plan:
            offenders.append((key, "cartesian"))
        if key not in _BNLJ_OK and "BroadcastNestedLoopJoin" in plan:
            offenders.append((key, "bnlj"))
    assert not offenders, f"slow-path plans: {offenders}"


def test_pipeline_narrow_ops_have_no_shuffle(spark):
    """Sampling, chunking, and scrubbing are per-row — any Exchange in
    their plans would be an at-scale regression (they must run at scan
    speed on 100 TB)."""
    from googleanalytics_etl_spark.ops.pipeline import (
        x_chunk_docs,
        x_pii_scrub,
        x_sample_hash,
    )

    for op in (x_sample_hash, x_chunk_docs, x_pii_scrub):
        plan = simple_plan(op(spark, SF_SMALL))
        assert "Exchange" not in plan, f"{op.__name__} shuffles: {plan}"


def test_corpus_shard_single_shuffle_no_global_sort(spark):
    """Sharding must shuffle once (on shard) and never globally sort —
    a rangepartitioning Exchange would mean a serial bottleneck."""
    from googleanalytics_etl_spark.ops.pipeline import x_corpus_shard

    plan = simple_plan(x_corpus_shard(spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_pack_sequences_single_shuffle(spark):
    """The per-source window partitioning (hashpartitioning(source))
    already satisfies the downstream groupBy(source, pack_id)
    distribution, so packing must plan exactly ONE exchange."""
    from googleanalytics_etl_spark.ops.pipeline import x_pack_sequences

    plan = simple_plan(x_pack_sequences(spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_corpus_prep_two_shuffles(spark):
    """Corpus-prep flagship: digest dedup aggregate + per-source rollup
    are the only data movements; the quality filter and chunk explode
    must stay narrow."""
    from googleanalytics_etl_spark.ops.pipeline import x_corpus_prep

    plan = simple_plan(x_corpus_prep(spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "rangepartitioning" not in plan, plan


def test_attribution_plan_shape(spark):
    # conversion pick must compile to WindowGroupLimit (top-1 per user,
    # no full per-user sort materialization), the small conversion side
    # must broadcast into the touch join, and the whole pipeline must
    # need at most 3 hash exchanges (purchases top-1, touch windows,
    # final channel rollup).
    plan = simple_plan(queries()["q_attribution"](spark, SF_SMALL))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange <= 3, f"attribution plan regressed: {n_exchange} exchanges"


def test_session_reports_reuse_event_shuffle(spark):
    """Bounce-rate / entry-exit reports: the event log moves once (the
    user_id sessionize exchange); every later exchange operates on
    session-level rows. Two hash exchanges total, no range partitioning
    (no global sort) anywhere."""
    for key in ("q_bounce_rate", "q_entry_exit"):
        plan = simple_plan(queries()[key](spark, SF_SMALL))
        n = plan.count("Exchange hashpartitioning")
        assert n <= 2, f"{key}: {n} exchanges\n{plan}"
        assert "rangepartitioning" not in plan, plan


def test_path_transitions_plan(spark):
    """Transition matrix: lag window reuses the sessionize sort (one
    event-log exchange); the aggregate + probability window move only
    |types|^2 rows."""
    plan = simple_plan(queries()["q_path_transitions"](spark, SF_SMALL))
    n = plan.count("Exchange hashpartitioning")
    assert n <= 3, f"{n} exchanges\n{plan}"
    assert "rangepartitioning" not in plan, plan


def test_correlation_single_aggregate(spark):
    """Exact-moment correlation is ONE hash aggregate (map-side partials
    + one exchange on the 3-value group key) and no window/sort."""
    plan = simple_plan(queries()["q_correlation"](spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" not in plan
    assert "rangepartitioning" not in plan, plan


def test_incremental_agg_partial_merge(spark):
    """Incremental maintenance: two pre-aggregated partials union into a
    merge aggregate; nothing here may sort or move raw orders more than
    the partial-aggregate exchanges."""
    plan = simple_plan(queries()["q_incremental_agg"](spark, SF_SMALL))
    assert "rangepartitioning" not in plan, plan
    # partial aggregates happen before the exchanges: the union merge
    # re-aggregates already-reduced (priority, pn, psum) tuples
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_decontaminate_hash_only_join(spark):
    """Decontamination joins 60-bit shingle hashes, never shingle text:
    the join keys must be longs (conv(md5)) and the plan free of
    cartesian products and global sorts."""
    plan = simple_plan(queries()["x_decontaminate"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan, plan


def test_tpch_topk_take_ordered(spark):
    """Q3/Q10 top-k must compile to TakeOrderedAndProject (per-partition
    heaps), never a global sort of the aggregate."""
    for key in ("q_tpch_q3", "q_tpch_q10"):
        plan = fmt_plan(queries()[key](spark, SF_SMALL))
        assert "TakeOrderedAndProject" in plan, key


def test_tpch_q6_pure_pushdown(spark):
    """Q6 is scan + filter + global agg: every predicate pushed to the
    parquet scan, zero hash exchanges (the only exchange is the
    single-partition gather for the global sum)."""
    df = queries()["q_tpch_q6"](spark, SF_SMALL)
    plan = fmt_plan(df)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]
    assert simple_plan(df).count("Exchange hashpartitioning") == 0


def test_tpch_q8_star_broadcasts(spark):
    """The 7-relation Q8 star: every DIM side (part, supplier⋈nation,
    customer⋈nation⋈region) resolves to a broadcast join — ≥5 broadcast
    hash joins. The lineitem⋈orders edge may be a shuffle join in the
    static plan (both relations grow with SF — that IS the at-scale
    plan; AQE converts it to broadcast at fixture sizes): at most 3
    hash exchanges total (two join sides + the year aggregate)."""
    plan = simple_plan(queries()["q_tpch_q8"](spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 5, plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 3, f"Q8 regressed: {n} hash exchanges"


def test_tpch_q18_aggregate_before_join(spark):
    """Q18 must reduce lineitem via the HAVING aggregate before any
    join: exactly one hash exchange (the l_orderkey aggregate), joins
    on the reduced set broadcast at fixture scale."""
    plan = simple_plan(queries()["q_tpch_q18"](spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "BroadcastHashJoin" in plan
    assert "rangepartitioning" not in plan


def test_tpch_q1_single_aggregate_pass(spark):
    """Q1: one scan, one hash aggregate (map-side partials reduce every
    partition to ≤|groups| rows before a single exchange), shipdate
    filter pushed to the scan, no join anywhere."""
    df = queries()["q_tpch_q1"](spark, SF_SMALL)
    plan = simple_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan
    assert "l_shipdate" in fmt_plan(df).split("PushedFilters")[1][:200]


def test_tpch_q19_disjunction_is_hash_join(spark):
    """Q19's OR-of-ANDs spans both join sides, but every branch shares
    the p_partkey = l_partkey equi-key: the plan must be a hash join
    (broadcast at fixture scale), never BroadcastNestedLoop/Cartesian."""
    plan = simple_plan(queries()["q_tpch_q19"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan


def test_tpch_q21_single_fact_aggregate(spark):
    """Q21's EXISTS/NOT-EXISTS pair decorrelates to ONE per-order
    aggregate over lineitem plus one join-back — the fact table must
    appear in exactly two scans (candidate lines + aggregate), not the
    three correlated scans of the textual form."""
    plan = simple_plan(queries()["q_tpch_q21"](spark, SF_SMALL))
    assert plan.count("lineitem.parquet") == 2, plan


def test_tpch_q2_distinct_pairs_before_dims(spark):
    """Q2 (adapted): the supply-pair DISTINCT must run over the bare
    (l_partkey, l_suppkey) projection — ReadSchema on the lineitem scan
    carries exactly those two columns."""
    plan = fmt_plan(queries()["q_tpch_q2"](spark, SF_SMALL))
    scan = [seg for seg in plan.split("ReadSchema: ") if "lineitem" in seg[:400]]
    assert any(
        "l_partkey" in seg[:200] and "l_suppkey" in seg[:200]
        and "l_quantity" not in seg[:200]
        for seg in plan.split("ReadSchema: ")[1:]
    ), plan


def test_dsir_weights_plan_shape(spark):
    """The DSIR scoring plan must broadcast the λ model (1024-row
    bounded metadata), keep the featurization JVM-side (no Python
    nodes), and push only doc_id/lang/text into the scan. Since round
    12 the occurrence stage is eagerly checkpointed, so the parquet
    scan (and its ReadSchema) lives in the _doc_buckets stage below the
    checkpoint — the pruning assertion runs there."""
    from googleanalytics_etl_spark.ops import round9b

    df = queries()["x_dsir_weights"](spark, SF_SMALL)
    plan = fmt_plan(df)
    assert "BroadcastHashJoin" in plan, "λ model join must be broadcast"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    occ_plan = fmt_plan(round9b._doc_buckets(spark, SF_SMALL))
    assert "BatchEvalPython" not in occ_plan
    rs = [ln for ln in occ_plan.splitlines() if "ReadSchema" in ln]
    assert rs and all(
        "n_chars" not in ln and "source" not in ln for ln in rs
    ), "scan must prune to doc_id/lang/text"


def test_dsir_resample_is_take_ordered(spark):
    """Top-k selection must compile to TakeOrderedAndProject (per-
    partition top-k, k-row driver merge) — never a global sort."""
    df = queries()["x_dsir_resample"](spark, SF_SMALL)
    plan = fmt_plan(df)
    assert "TakeOrderedAndProject" in plan
