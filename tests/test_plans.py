"""Physical-plan shape regression tests.

Correctness says the right rows come out; these tests pin the plan
SHAPES that make the queries survive a 100× scale-up: small sides
broadcast (no sort-merge shuffle of the fact table), filters pushed to
the parquet scan, top-k without a global sort, windows partitioned (no
single-partition exchange), and candidate generation without cartesian
products. If a refactor silently degrades one of these, correctness
stays green but these fail.
"""

from __future__ import annotations

import pytest

from etl__project_spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize(
    "name",
    [
        "vs_fact",
        "tpch_q3_shipping",
        "tpch_q5_region_volume",
        "tpch_q7_nation_volume",
        "tpch_q8_market_share",
        "tpch_q9_profit",
        "tpch_q10_returned",
        "tpch_q14_promo",
        "tpch_q18_big_orders",
    ],
)
def test_star_joins_broadcast_not_sort_merge(spark, name):
    plan = plan_of(QUERIES[name](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, name
    assert "SortMergeJoin" not in plan, name


def test_q1_filter_pushed_to_scan(spark):
    plan = plan_of(QUERIES["tpch_q1_pricing"](spark, SF_DIR))
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # group-by agg must be hash-based (codegen), not sort-based
    assert "HashAggregate" in plan


def test_q6_all_predicates_pushed(spark):
    plan = plan_of(QUERIES["tpch_q6_revenue"](spark, SF_DIR))
    pushed = plan.split("PushedFilters")[1][:400]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col


def test_topk_uses_take_ordered_not_global_sort(spark):
    # ORDER BY + LIMIT should plan as TakeOrderedAndProject: each
    # partition keeps k rows, the driver merges k*P — no global sort.
    plan = plan_of(QUERIES["tpch_q3_shipping"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize("name", ["tpch_topn_per_group", "tpch_q15_top_supplier"])
def test_partitioned_window_no_single_partition_exchange(spark, name):
    plan = plan_of(QUERIES[name](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan, name


def test_q15_top1_is_take_ordered_not_window(spark):
    # VERDICT r3 #3: the rank-1 "top supplier" must plan as
    # TakeOrderedAndProject (per-partition top-1), not a global
    # row_number window funneling every supplier through one task.
    plan = plan_of(QUERIES["tpch_q15_top_supplier"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_lsh_pairs_no_cartesian(spark):
    plan = plan_of(QUERIES["doc_lsh_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_blocked_near_dup_no_cartesian(spark):
    plan = plan_of(QUERIES["emb_near_dup_blocked"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_scan_prunes_columns(spark):
    # Q1 touches 7 of lineitem's 11 columns; the parquet ReadSchema must
    # not include the untouched join keys.
    plan = plan_of(QUERIES["tpch_q1_pricing"](spark, SF_DIR))
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_partkey" not in read_schema
    assert "l_suppkey" not in read_schema


def test_anti_join_q22_stays_broadcast(spark):
    # the NOT EXISTS side (filtered orders) must broadcast, and the
    # scalar-avg cross join must not plan as a nested-loop over customer
    plan = plan_of(QUERIES["tpch_q22_idle_balance"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name",
    ["tpch_q2_min_cost_supplier", "tpch_q12_late_lines", "tpch_q16_supplier_cnt"],
)
def test_new_tpch_shapes_no_sort_merge(spark, name):
    plan = plan_of(QUERIES[name](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, name


def test_q2_window_is_partitioned(spark):
    plan = plan_of(QUERIES["tpch_q2_min_cost_supplier"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan


def test_passage_dup_no_cartesian_and_hash_agg(spark):
    plan = plan_of(QUERIES["doc_passage_dup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_pivot_is_single_aggregate_pass(spark):
    # declared pivot values -> one aggregate over the scan, no extra
    # distinct-values subplan (which an undeclared pivot would add)
    plan = plan_of(QUERIES["ev_pivot_type_counts"](spark, SF_DIR))
    assert plan.count("FileScan") == 1


def test_grouping_sets_single_expand(spark):
    plan = plan_of(QUERIES["tpch_grouping_sets"](spark, SF_DIR))
    assert "Expand" in plan and plan.count("FileScan") == 1


def test_unbounded_dims_avoid_single_partition_window(spark):
    """VERDICT r1 #3, revised by the round-11 size-adaptive dense-id
    path: an ABOVE-THRESHOLD dim must take the range-partitioned
    pipeline — a single-partition global row_number window over an
    unbounded dim is a one-task bottleneck at scale. At or below
    ``small_row_limit`` (default 5M) the pinned single-window plan is
    the deliberate choice (same bounded-window judgement call as
    scd1_upsert's r10 SCD1_SMALL_DELTA_ROWS); ids are identical either
    way, pinned by every dim oracle."""
    from etl__project_spark.operators import derive_dim, with_dense_ids
    from etl__project_spark.plans.catalog import _parsed  # re-exported by the package

    parsed = _parsed(spark, SF_DIR)
    for skey, nat in (("datetime_skey", "datetime"), ("title_skey", "video")):
        # checkpoint=False exposes the pre-checkpoint big-path lineage
        # (production pins the input, which truncates the visible plan)
        plan = plan_of(
            with_dense_ids(
                derive_dim(parsed, nat), nat, skey, checkpoint=False
            )
        )
        # scalable path: full rows range-partitioned, row_number windows
        # partitioned by __pid (parallel)
        assert "rangepartitioning" in plan.lower(), skey
        assert "windowspecdefinition(__pid" in plan, skey
        # the ONE allowed single-partition exchange is the per-partition
        # offsets window — ≤ #partitions rows by construction, never data
        assert plan.count("Exchange SinglePartition") <= 1, skey
        # the adaptive default must STILL choose the scalable shape for
        # an above-threshold input (threshold forced to 0 here — the
        # sf0.1 dims are small, the 100 TB ones are not). With the
        # production checkpoint the range partitioning itself is
        # truncated behind the pinned RDD (asserted un-truncated above),
        # so the visible marker is the per-partition offsets merge
        # (__off) vs the small path's direct global window.
        plan_big = plan_of(
            with_dense_ids(
                derive_dim(parsed, nat), nat, skey, small_row_limit=0
            )
        )
        assert "__off" in plan_big, skey
        assert plan_big.count("Exchange SinglePartition") <= 1, skey
        plan_small = plan_of(
            with_dense_ids(derive_dim(parsed, nat), nat, skey)
        )
        assert "__off" not in plan_small, skey


def test_jaccard_pairs_adjacent_buckets_stay_equi_join(spark):
    """Adjacent-bucket union must remain two hash equi-joins on the
    bucket key — no cartesian/nested-loop pair space."""
    plan = plan_of(QUERIES["doc_jaccard_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prefix_jaccard_no_cartesian_hashed_keys(spark):
    """Candidate generation must be an equi-join (on the hashed shingle
    key) — no cartesian/nested-loop stage anywhere in the lossless
    similarity join."""
    plan = plan_of(QUERIES["doc_jaccard_prefix"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_value_banding_broadcasts_tiers(spark):
    """The non-equi band join must replicate the 5-row tier table
    (BroadcastNestedLoopJoin), never shuffle or loop over events as the
    build side."""
    plan = plan_of(QUERIES["ev_value_banding"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin BuildRight" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_session_window_partitioned_by_user(spark):
    plan = plan_of(QUERIES["ev_session_window_native"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan


def test_incremental_rollup_single_pass_per_batch(spark):
    """Each batch contributes one partial HashAggregate; the merge is a
    union + final aggregate — no join, no window, no extra scans."""
    plan = plan_of(QUERIES["ev_rollup_incremental"](spark, SF_DIR))
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_cms_sketch_single_scan_per_shard(spark):
    """Each half-stream's 4 hash rows must come from ONE events scan
    (explode), not a 4-way union of scans: 2 sketch shards + the exact-
    count scan + the probe-key scan = 4 FileScans total (a d-way union
    formulation would show 2d + 2)."""
    plan = plan_of(QUERIES["ev_heavy_hitters_cms"](spark, SF_DIR))
    assert plan.count("FileScan") == 4


def test_hopping_rollup_is_expand_plus_hash_agg(spark):
    # hopping windows must plan as Expand (2 rows/event, map-side) +
    # two-phase hash aggregate — no sort, no single-partition exchange.
    plan = plan_of(QUERIES["ev_hopping_rollup"](spark, SF_DIR))
    assert "Expand" in plan
    assert "HashAggregate" in plan
    assert "Exchange SinglePartition" not in plan


def test_bpe_pair_counts_is_generate_plus_hash_agg(spark):
    # tokenizer pair counting: explode (Generate) fused ahead of a
    # partial hash aggregate; the shuffle carries only pair partials.
    plan = plan_of(QUERIES["doc_bpe_pair_counts"](spark, SF_DIR))
    assert "Generate explode" in plan
    assert "HashAggregate" in plan


def test_common_ngram_filter_linear_shape(spark):
    # boilerplate filter: explode + two hash aggregates + an equi-join on
    # the hashed gram key — nothing cartesian, no single-partition stage.
    plan = plan_of(QUERIES["doc_common_ngram_filter"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan
    assert "Exchange SinglePartition" not in plan


def test_q21_semi_anti_chain_no_cartesian(spark):
    # EXISTS → left-semi, NOT EXISTS → left-anti, both equi-keyed on
    # l_orderkey with the suppkey inequality as a residual — never a
    # cartesian/nested-loop expansion of the late×lineitem space.
    plan = plan_of(QUERIES["tpch_q21_waiting_supplier"](spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q20_nested_semi_chain_no_cartesian(spark):
    plan = plan_of(QUERIES["tpch_q20_potential_promotion"](spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q11_scalar_threshold_no_sort_merge(spark):
    # the global-total comparison must ride a 1-row broadcast (the only
    # nested-loop allowed has exactly one build row); the lineitem side
    # reaches the aggregate through broadcast semi-joins, never a
    # sort-merge shuffle.
    plan = plan_of(QUERIES["tpch_q11_important_stock"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


# VERDICT r4 #5: exact census of Exchange SinglePartition across the
# headline + new-in-r5 plans, so the benign bench warning (the deliberate
# small-dim / offset windows) can never mask a NEW accidental global
# window. Two allowed provenances, each bounded by construction:
#   scalar-agg finalize — df.agg() with no keys: the exchange carries one
#     partial row per upstream partition, never data;
#   bounded windows — dims.py:84 small=True dense-id (enumerated dims,
#     <=5 rows), dims.py:103 per-partition offsets (<= #partitions rows),
#     and the ev_quantile_digest sketch CDF (<=4096 cells).
# Any count drift = a new single-partition stage: justify it here or fix
# the plan.
SINGLE_PARTITION_CENSUS = {
    "vs_fact": 4,  # platform+site small=True windows, datetime+title offset windows
    "ev_scd2_multiversion": 1,  # dense-id offset window (≤ #partitions rows)
    "vs_fact_rollup": 0,
    "tpch_q1_pricing": 0,
    "tpch_q3_shipping": 0,
    "tpch_q5_region_volume": 0,
    "tpch_topn_per_group": 0,
    "ev_minute_rollup": 0,
    "ev_sessionize": 0,
    "doc_lsh_pairs": 0,
    "doc_simhash": 0,
    "doc_tfidf_top_terms": 1,  # scalar corpus-size agg finalize
    "ev_asof_signup": 0,
    "emb_cosine_topk": 0,
    "tpch_q11_important_stock": 1,  # scalar global-total agg finalize
    "tpch_q20_potential_promotion": 0,
    "tpch_q21_waiting_supplier": 0,
    "ev_distinct_hll": 2,  # register-sum agg + exact-count agg finalizes
    "ev_quantile_digest": 2,  # n_total agg finalize + sketch CDF window
    "doc_dup_components": 0,
    "tpch_bloom_prune_join": 1,  # final 1-row audit agg finalize
    "ev_mad_outliers": 0,
    "doc_passage_scrub": 0,
    "doc_quality_pctl_filter": 0,
    "doc_bigram_logprob": 1,  # corpus-total (n_total) agg finalize
    "doc_simhash_pairs": 0,
    # new in r6, all bounded by construction:
    "tpch_column_stats": 1,  # the fused all-columns 1-row agg finalize
    "doc_dsir_weights": 1,  # model-totals (n_r, n_t) 1-row agg finalize
    "ev_join_size_est": 2,  # est-min + exact-size 1-row agg finalizes
    "emb_pq_rerank_topk": 0,  # the stage-1 ADC global top-50 single-
    # partition limit disappeared from the static plan with the r9
    # stats-barriered checkpoints (the planner now routes the limit
    # through TakeOrdered) — strictly fewer single-partition stages
    "ev_peak_concurrency": 1,  # per-day carry prefix sum (<= |days| rows)
    "tpch_corr_matrix": 1,  # the fused sufficient-stats 1-row agg finalize
    "ev_chi2_independence": 4,  # marginal/total/term aggs over the checkpointed <=|types|x7 cell table
    "ev_ab_test_zscore": 1,  # the 2-row arm rollup's 1-row pivot finalize
    "doc_dedup_keep_best": 0,
    "ev_session_copurchase": 1,  # the 1-row session-count agg finalize
    "ev_funnel_latency": 1,  # the 1-row latency-quantile agg finalize
    "doc_weighted_sample_stratified": 0,
    "tpch_equidepth_hist": 1,  # the 9-double percentile-cuts agg finalize
    "vs_dim_calendar_spine": 0,
    "doc_dup_size_histogram": 0,
    "vs_scd2_asof_lookup": 4,  # inherits vs_scd2_upsert's tiny-dim bookkeeping windows (one fewer since the r11 size-adaptive dense-id path: the insert numbering's offsets window collapsed into the pinned small-path window); the as-of adds only a 2-row broadcast
    "doc_hybrid_rrf": 2,  # the two rank windows over limit-50 top-k lists (<= 50 rows each by construction)
    "emb_pipeline_e2e": 4,  # the four 1-row stage-count agg finalizes of the scorecard
    "tpch_spearman_corr": 3,  # two marginal prefix windows (<= 50 / 11 rows) + the 1-row sufficient-stats finalize; row-level ranking never happens
    "doc_cooccur_triangles": 2,  # triangle-count + wedge-count 1-row agg finalizes
    "ev_markov_eval": 3,  # timeline-midpoint 1-row agg (x2 plan reuse) + the 1-row scorecard finalize; train/argmax live on the |types|^2 table
    "ev_pipeline_e2e": 5,  # the five 1-row scorecard finalizes (raw/flagged/kept/sessions/funnel counts)
    "ev_ks_test": 4,  # totals + percentile-cuts 1-row agg finalizes, <=32-row band-carry window, 1-row D-argmax agg finalize
    "ev_benford_audit": 1,  # the 9-row digit rollup's grand-total agg finalize
    "ev_cusum_changepoint": 2,  # totals agg finalize + calendar-bounded daily-series prefix window (<= |days| rows)
    "ev_gini_concentration": 1,  # count-histogram prefix window (<= |distinct counts| rows); the 1-row agg rides its partition
    "doc_source_kl": 1,  # grand-total agg finalize over the vocab-bounded checkpoint
    "ev_autocorr_daily": 1,  # denominator scalar-agg finalize over the calendar-bounded series
    "doc_dup_span_merge": 0,
    "doc_repetition_stats": 0,
    "doc_bm25_topk": 2,  # corpus-stats scalar agg finalize + the 10-row TakeOrdered limit
    "ev_psi_drift": 1,  # totals agg finalize over the checkpointed 10-row band table
    "ev_hot_window_sessions": 2,  # p95-threshold agg finalize + calendar-bounded hot-minute island window
    "ev_ewma_anomaly": 1,  # calendar-bounded daily-series lag window (<= |days| rows)
    "emb_int8_quantize": 0,
    "ev_attribution_last_touch": 0,
    "doc_lang_confusion": 0,
    "emb_coreset_sample": 0,
    "ev_weekday_profile": 1,  # 2-row totals agg finalize over the 7-key weekday rollup
    "emb_int8_recall_audit": 0,
    "ev_pareto_shares": 2,  # count-histogram prefix window + totals agg finalize (both bounded); threshold join is a 4-row broadcast BNL
    "ev_mann_whitney": 2,  # percentile-cuts 1-row agg finalize + <=32-row band-carry window (the ev_ks_test class); rank sums stay banded
    "ev_survival_km": 2,  # day-histogram prefix windows (risk-set desc + log-sum asc, <= |days| rows) + 1-row max-date agg finalize
    "tpch_part_skyline": 1,  # percentile-cuts 1-row agg finalize; the <=32-row band-carry window rides the band rollup's partition
    "ev_jackknife_ci": 2,  # 1-row totals agg finalize + 32-row pseudo-value finalize; the heavy work is the 32-key block aggregate
    "ev_mann_kendall": 3,  # S / n_days / tie-term agg finalizes — all over the <= |days|-row daily series (pairs via bounded broadcast BNL)
    "doc_zipf_fit": 1,  # rank window + regression finalize over the TakeOrdered 1000-row head; the vocab aggregate stays parallel
    "ev_k_anonymity": 1,  # 1-row release-gate finalize over the QI-group aggregate (which stays parallel)
    "ev_l_diversity": 1,  # 1-row release-gate finalize over the QI-group distinct aggregate (which stays parallel)
    "ev_forecast_backtest": 1,  # 1-row scorecard finalize; the lag join and error terms live on the <= |days|-row daily series
    "ev_power_mde": 1,  # 2-row arm-rollup finalize; the heavy work is the per-user conversion aggregate
    # new in r8, the maintenance/refinement wave:
    "ev_quantile_cdc": 0,  # hist windows PARTITION BY event_type
    "ev_heavy_hitters_cdc": 0,  # the 4x256 CMS grid stays a broadcast
    "tpch_semijoin_cdc": 0,
    "ev_median_2pass": 0,  # both passes partition by group
    "ev_retention_cdc": 0,
    "emb_centroid_cdc": 0,  # seeds broadcast; stats stay (k x d)-keyed
    "doc_quality_gate_cdc": 1,  # global bucket-CDF window + 1-row cutoff (O(live buckets), the ev_quantile_digest class)
    "ev_hll_sliding_window": 2,  # 64-register estimator finalize + window exact-count finalize (the ev_distinct_hll class; the 1-row crossJoin rides them)
    "ev_rollup_cdc_grouping_sets": 0,  # cube re-aggregates the O(groups) maintained state, key-partitioned
    "ev_triangles_cdc": 2,  # the final 1-row count agg + 1-row n_edges finalize; the trilinear terms stay vertex-partitioned (per-batch term finalizes land behind checkpoints)
    "ev_clustering_cdc": 3,  # triangle + n_edges finalizes plus the 1-row wedge sum over the O(V) degree state
    "doc_dsir_cdc": 1,  # the model-totals (n_r, n_t) 1-row agg finalize (doc_dsir_weights's class); postings/model/scores stay key-partitioned
    "ev_join_size_cdc": 2,  # est-min + exact-size 1-row agg finalizes (ev_join_size_est's class); the maintained grids stay cell-keyed
    # vs_warehouse_load is excluded: calling it executes the load (side
    # effects); its dim paths are exactly vs_fact's, pinned above.
}


@pytest.mark.parametrize("name", sorted(SINGLE_PARTITION_CENSUS))
def test_single_partition_exchange_census(spark, name):
    plan = plan_of(QUERIES[name](spark, SF_DIR))
    got = plan.count("Exchange SinglePartition")
    assert got == SINGLE_PARTITION_CENSUS[name], (
        f"{name}: {got} Exchange SinglePartition sites, census allows "
        f"{SINGLE_PARTITION_CENSUS[name]} — a new single-partition stage "
        "needs a bounded-size justification in SINGLE_PARTITION_CENSUS"
    )


# VERDICT r5 #5: exchange budget for composed multi-stage pipelines. The
# single-partition census above catches accidental GLOBAL stages; this
# pins the coarse plan size — shuffle-exchange and sort-merge-join counts
# — of the queries whose plans are big BY DESIGN (multi-stage
# compositions over corpus-sized intermediates), so growth from a new
# stage or a lost broadcast fails loudly instead of compounding quietly.
# Shuffle count excludes BroadcastExchange (broadcasts are the cheap
# path we WANT more of; penalizing them here would fight the fix).
# Drift = update the number WITH a justification, same contract as
# SINGLE_PARTITION_CENSUS.
EXCHANGE_BUDGET = {
    # 6-stage composition (gate → exact-collapse → MinHash/LSH →
    # components → decontaminate → mix/pack): 15 SMJs are
    # corpus×corpus joins over shrinking intermediates (adjudicated in
    # PLANS.md); near-flat at 100× because each stage shrinks the next.
    "doc_pipeline_e2e": (25, 15),  # was 50: its 25 fixture round-robin exchanges (one per documents scan) are gone
    # collapse-first canonical dedup: shingle/sign/band on distinct
    # texts only; candidates via band equi-join (BHJ at fixture scale)
    "doc_dedup_canonical": (1, 0),  # was 3: its 2 fixture round-robin exchanges are gone
    "doc_dup_components": (1, 0),  # was 3: its 2 fixture round-robin exchanges are gone
    # PQ train(2 Lloyd rounds)+encode+ADC: codebooks stay broadcast;
    # the shuffles are the bounded codebook-update aggregates + top-k
    "emb_pq_topk": (2, 0),  # was 4: its 2 fixture round-robin exchanges are gone
    # signed-delta IVM fold: B-state and view DELTAS are checkpointed,
    # but the accumulated view is a LAZY union (materializing it per
    # batch OOMed the 100x sweep — SCALE.md 9g), so the final plan
    # carries the initial A-join's own exchanges into the consolidation:
    # 2 shuffles, still zero SMJs (state probes stay broadcast).
    "tpch_join_cdc_incremental": (2, 0),  # was 4: its 2 fixture round-robin exchanges are gone
    # left-outer IVM fold: the inner path's exchanges plus the
    # null-extension machinery (touched-key distinct + old-count probe
    # aggregate per batch) — all keyed on the join key and O(|Δ|)-sized;
    # the initial NE is an anti-join of A against B's broadcast key set
    # (no A-keyed shuffle) and both transition directions share ONE
    # signed A-probe per batch; state probes stay broadcast (zero SMJs).
    "tpch_leftjoin_cdc_incremental": (3, 0),  # was 7: its 4 fixture round-robin exchanges are gone
    # partially-incremental min/max: three base aggregates (existing
    # state, signed delta partial, touched-group re-derivation from
    # post state) + the linear merge + two broadcast-probed rollup
    # joins; every aggregate keys on the bounded event_type space.
    "ev_rollup_cdc_minmax": (4, 0),  # was 11: its 7 fixture round-robin exchanges are gone
    # multi-version SCD2 in one pass: the exchanges are the BATCH's
    # user-keyed window stages re-derived across the four union
    # branches (history/untouched/expired/new) — all delta-sized;
    # every dim probe (noop-first, first-new expiry) is broadcast
    # (zero SMJs). The dense-id numbering runs behind with_dense_ids's
    # pinned checkpoint (r7 AQE-re-evaluation fix), so it never shows in
    # the visible plan; the r11 size-adaptive path dropped its offsets
    # broadcast-join exchange too (10 → 9 — one fewer stage, same rows).
    "ev_scd2_multiversion": (5, 0),  # was 9: its 4 fixture round-robin exchanges are gone
    # retractable distinct count: two (group,value)-keyed hash
    # aggregates (base partial + churn partial), the merge, and the
    # group-keyed finalize; no joins at all.
    "ev_rollup_cdc_distinct": (3, 0),  # was 6: its 3 fixture round-robin exchanges are gone
    # full-outer IVM: the left-join fold's exchanges plus B-side
    # null-extension anti-joins against A's key set, which is derived
    # and checkpointed ONCE (the r7 OOM fix). Since the r9
    # state_checkpoint migration the key set is a stats-barriered
    # DISK_ONLY leaf, so the anti-join no longer auto-broadcasts it and
    # plans as ONE shuffled SMJ (+2 exchanges) — the scale-correct
    # static plan: a_keys is table-sized (distinct keys of base A), and
    # broadcasting it at 100 TB was exactly the executor-memory blind
    # spot; AQE still converts back to broadcast at runtime when the
    # key set is actually small.
    "tpch_fulljoin_cdc_incremental": (5, 1),  # was 10: its 5 fixture round-robin exchanges are gone
    # sign-linear second moments: two bounded-keyspace signed hash
    # aggregates + the merge, exactly the linear path's shape.
    "ev_rollup_cdc_variance": (2, 0),  # was 5: its 3 fixture round-robin exchanges are gone
    # aggregate-over-join IVM: the final read is the checkpointed
    # 5-row aggregate state — ZERO shuffles by construction, the
    # whole point of composing the signed join delta into the rollup
    # algebra instead of materializing the view.
    "tpch_agg_over_join_cdc": (0, 0),
    # top-k under retraction: the distinct path's (group,value)-keyed
    # aggregates + one group-keyed read-time window over live state.
    "ev_rollup_cdc_topk": (3, 0),  # was 6: its 3 fixture round-robin exchanges are gone
    # aggregate over LEFT join, composed: like the inner twin, the
    # final read is the checkpointed bounded aggregate — zero shuffles.
    "tpch_agg_over_leftjoin_cdc": (0, 0),
    # median under retraction: the distinct-grain aggregates + one
    # group-keyed cumulative window over the live value domain.
    "ev_rollup_cdc_median": (3, 0),  # was 6: its 3 fixture round-robin exchanges are gone
    # embedding-intake composition (gate → SemDeDup → coreset →
    # scorecard): gate/kept stages are localCheckpointed so the final
    # plan is the exemplar window + four stage-count aggregates; the
    # cluster pair join stays an equi-join behind the checkpoint.
    "emb_pipeline_e2e": (5, 0),  # was 6: its 1 fixture round-robin exchange is gone
    # incremental sessionization: the counts state is checkpointed per
    # batch, so the final read is ZERO shuffles — all neighborhood
    # probes and lag windows run inside the fold behind checkpoints.
    "ev_session_cdc": (0, 0),
    # both-sides full-outer IVM: the init FULL view's exchanges plus
    # per-batch transition-detection aggregates for BOTH sides (each
    # O(|Δ|)-keyed on the join key); deltas/states are checkpointed,
    # the accumulated view stays a lazy union (SCALE.md §9g), so the
    # final consolidation carries them; zero SMJs — every state probe
    # is a broadcast of a delta-derived frame.
    "tpch_fulljoin_cdc_bothsides": (4, 0),  # was 10: its 6 fixture round-robin exchanges are gone
    # as-of IVM: the maintained view is checkpointed per batch, so the
    # final read is ZERO shuffles — the window computations and
    # key-splices all run inside the fold behind checkpoints.
    "ev_asof_cdc": (0, 0),
    # BM25 read over the maintained index: idf/stats broadcast, tf and
    # dl join doc-keyed behind the checkpointed states; shuffles are the
    # tf⋈dl doc-key join and the per-doc score sum; top-10 is
    # TakeOrdered. Since the r9 state_checkpoint migration the postings/
    # lengths states are stats-barriered DISK_ONLY leaves, so tf (the
    # query-term posting slice — df(term)-sized, unbounded for common
    # terms) no longer auto-broadcasts against dl and plans as one SMJ —
    # scale-correct static shape; AQE broadcast-converts at runtime for
    # selective terms.
    "doc_bm25_cdc": (2, 1),
    # LSH under CDC: band state and pair counts are checkpointed per
    # batch, so the final read is the live-pair filter — zero shuffles;
    # the band probes and count merges all run inside the fold.
    "doc_lsh_cdc": (0, 0),
    # incremental DQ suite: the counters frame is checkpointed per
    # batch (6 rows), so the final read is zero shuffles — the key
    # transition probes run inside the fold.
    "dq_suite_cdc": (0, 0),
    # incremental canonicalization: labels are stats-barriered leaves
    # per batch, so the final read is a bare scan.
    "doc_components_cdc": (0, 0),
    # IVF read over maintained cells: the query-ranking window (5 rows)
    # and the per-query top-k window; centroids and probes broadcast,
    # cells state is a checkpoint leaf.
    "emb_ivf_cdc": (2, 0),  # was 3: its 1 fixture round-robin exchange is gone
    # funnel under CDC: the 1-row counters frame is checkpointed per
    # batch, so the final read is the 4-row stack — zero shuffles.
    "ev_funnel_cdc": (0, 0),
}


@pytest.mark.parametrize("name", sorted(EXCHANGE_BUDGET))
def test_exchange_budget_census(spark, name):
    plan = plan_of(QUERIES[name](spark, SF_DIR))
    # fresh shuffles only: BroadcastExchange is not a shuffle and
    # ReusedExchange is not even a new exchange (census legend contract)
    ex = (
        plan.count("Exchange ")
        - plan.count("BroadcastExchange ")
        - plan.count("ReusedExchange ")
    )
    smj = plan.count("SortMergeJoin")
    want_ex, want_smj = EXCHANGE_BUDGET[name]
    assert (ex, smj) == (want_ex, want_smj), (
        f"{name}: plan has {ex} shuffle exchanges / {smj} sort-merge "
        f"joins, census pins ({want_ex}, {want_smj}) — a new stage or a "
        "lost broadcast needs a justification in EXCHANGE_BUDGET"
    )


def test_bloom_prune_probe_never_shuffles(spark):
    # The whole point of the runtime filter: membership, match flags,
    # and audit counts come from broadcast joins on the streaming probe
    # side — lineitem must not hit a sort-merge join or shuffle before
    # the final global aggregate.
    plan = plan_of(QUERIES["tpch_bloom_prune_join"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 3


def test_simhash_pairs_band_equi_join(spark):
    # Candidates come from the 4-bit band equi-join; any cartesian or
    # nested-loop fallback means the banding key was lost.
    plan = plan_of(QUERIES["doc_simhash_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_passage_scrub_window_partitioned(spark):
    # Keep-first runs per passage-hash partition; reassembly per doc.
    # Neither may collapse to a single partition.
    plan = plan_of(QUERIES["doc_passage_scrub"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan


def test_mad_outliers_group_stats_broadcast(spark):
    # Median/MAD re-attach by broadcast; the events scan must never
    # sort-merge against the tiny per-type statistics.
    plan = plan_of(QUERIES["ev_mad_outliers"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_run_sql_matches_dataframe_twin_and_pushes_down(spark):
    """SQL users get the same results AND the same physical plan
    guarantees as DataFrame users: run_sql's Q6 equals the catalog's
    DataFrame Q6, and its scan shows pushed filters."""
    from etl__project_spark.plans import QUERIES, run_sql

    sf = "/root/testdata/sf0.001"
    sql_df = run_sql(
        spark,
        sf,
        """
        SELECT floor(sum(CAST(floor((l_extendedprice * l_discount) * 10000
                                    + 0.5) AS BIGINT)) / 100.0 + 0.5) / 100.0
                 AS revenue,
               count(*) AS n
        FROM lineitem
        WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
          AND l_discount BETWEEN 0.02 AND 0.09 AND l_quantity < 24
        """,
    )
    plan = sql_df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]
    got = sql_df.collect()[0]["revenue"]
    want = QUERIES["tpch_q6_revenue"](spark, sf).collect()[0]["revenue"]
    assert got == want


def test_register_views_lists_all_tables(spark):
    from etl__project_spark.plans import register_views

    names = register_views(spark, "/root/testdata/sf0.001")
    assert set(names) >= {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert spark.sql("SELECT count(*) AS n FROM region").collect()[0]["n"] > 0


def test_graph_family_no_cartesian(spark):
    """The graph-family queries (TextRank, triangles, k-core, PPR) must
    stay equi-join-only: the wedge self-join and every per-round
    score/degree attach are keyed on words — a cartesian anywhere here
    is the all-pairs blow-up degree-ordering exists to prevent. (The
    one-row stats crossJoin in triangles is a broadcast of a 1-row
    aggregate, which Spark plans as BNL build-right over one row —
    allowed explicitly.)"""
    for name in (
        "doc_textrank_keywords",
        "doc_kcore_histogram",
        "doc_related_terms_ppr",
    ):
        plan = plan_of(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    tri = plan_of(QUERIES["doc_cooccur_triangles"](spark, SF_DIR))
    assert "CartesianProduct" not in tri


def test_stats_barrier_bounds_iterative_size_estimates(spark):
    """Spark 4 localCheckpoint PRESERVES plan statistics on the new leaf
    (LogicalRDD.rewriteStatsAndConstraints), so a loop whose body
    self-joins squares its size-in-bytes estimate every round — digits
    grow exponentially until the driver burns minutes per plan in
    BigInteger multiplication inside the stats visitor (round-8
    incremental-components incident, SCALE.md §9n). stats_barrier must
    reset the leaf to the neutral default so digits stay bounded."""
    from etl__project_spark.session import stats_barrier

    def digits(d):
        return len(
            str(d._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )

    plain = spark.range(10).withColumnRenamed("id", "k")
    barriered = plain
    for _ in range(3):
        b = plain.withColumnRenamed("k", "k2")
        plain = plain.join(b, plain.k == b.k2).select("k").localCheckpoint()
        b2 = barriered.withColumnRenamed("k", "k2")
        barriered = stats_barrier(
            barriered.join(b2, barriered.k == b2.k2).select("k")
        )
    # un-barriered checkpoints compound (squaring per round)...
    assert digits(plain) > 10
    # ...the barrier pins the leaf at the neutral default (19 digits =
    # Long.MaxValue) and values stay correct
    assert digits(barriered) <= 19
    assert barriered.count() == 10


def test_no_bare_localcheckpoint_in_fold_modules():
    """VERDICT r8 #3: three OOMs, one class — a fold that checkpoints a
    table-sized frame at a memory-backed level. `session.state_checkpoint`
    is the only sanctioned checkpoint primitive for fold state (it encodes
    the DISK_ONLY posture for table-sized frames AND the SCALE.md §9n
    planner-stats barrier); this grep-style gate makes the fourth instance
    of the OOM class unwritable. Allowlist: session.py (the primitive's
    own internals), operators/dims.py (one documented AQE-evaluation pin,
    not an iterative fold), plans/catalog.py (documented tiny-frame
    single-shot checkpoints — count pinned so new bare calls get flagged
    and triaged here)."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "etl__project_spark"
    pinned_counts = {
        "session.py": 3,
        # dims.py: (a) the documented AQE-evaluation pin inside
        # with_dense_ids's big path; (b) with_dense_ids's size-adaptive
        # input pin (round 11 — the r10 scd1_upsert new-keys-delta pin
        # generalized into the primitive: one single-shot
        # materialization of the to-be-numbered keys, bounded by dim /
        # batch-churn cardinality, which both stops repartitionByRange's
        # sampling pass re-evaluating the input lineage and makes the
        # small/big plan choice measurable). Neither is an iterative
        # fold.
        "operators/dims.py": 2,
        # documented tiny-frame single-shot checkpoints inside catalog
        # query bodies (catalog.py's 20, redistributed by the r9 family
        # split)
        "plans/catalog/doc.py": 4,
        "plans/catalog/emb.py": 2,
        "plans/catalog/ev.py": 12,
        "plans/catalog/tpch.py": 2,
    }
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        rel = str(py.relative_to(pkg))
        n = len(re.findall(r"\.localCheckpoint\(", py.read_text()))
        if rel in pinned_counts:
            assert n <= pinned_counts[rel], (
                f"{rel} grew a new bare localCheckpoint ({n} > "
                f"{pinned_counts[rel]}) — use session.state_checkpoint "
                "(DISK_ONLY for table-sized frames + stats barrier) or, if "
                "the new site is a documented non-fold checkpoint, bump the "
                "pin here with a justification"
            )
        elif n:
            offenders.append((rel, n))
    assert not offenders, (
        f"bare .localCheckpoint( in fold modules: {offenders} — use "
        "session.state_checkpoint(df, table_sized=...) instead"
    )


def test_state_checkpoint_pins_storage_level_and_strips_stats(spark):
    """session.state_checkpoint's two contracts, asserted directly:
    table_sized=True persists the checkpoint RDD DISK_ONLY (the §9m/§9o
    OOM-class fix), and BOTH modes strip the leaf's planner statistics
    (the §9n exponential-planner fix) — the returned frame reports the
    neutral defaultSizeInBytes instead of inheriting inflated origin
    stats, so iterative folds cannot compound them."""
    from pyspark.sql import functions as F

    from etl__project_spark.session import state_checkpoint

    df = spark.range(1000).select("id", (F.col("id") % 7).alias("k"))
    disk = state_checkpoint(df, table_sized=True)
    mem = state_checkpoint(df, table_sized=False)
    assert disk.count() == mem.count() == 1000

    def leaf_size(frame):
        # py4j auto-converts scala BigInt fitting a long to int
        size = frame._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return size if isinstance(size, int) else int(size.toString())

    default_size = int(spark.conf.get("spark.sql.defaultSizeInBytes", str(2**63 - 1)))
    assert leaf_size(disk) >= default_size
    assert leaf_size(mem) >= default_size
    # the plain checkpoint (what the folds used before r9) KEEPS real
    # stats — the contrast that makes the strip observable
    plain = df.localCheckpoint(eager=True)
    assert leaf_size(plain) < default_size
    # storage level of the checkpointed lineage: DISK_ONLY when table_sized
    lvls = {
        str(rdd_info.toString())
        for rdd_info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    assert any("StorageLevel(disk, 1 replicas)" in s for s in lvls), lvls


def test_stats_barrier_fallback_warns_once_naming_the_error(spark, monkeypatch):
    """The stats barrier's fallback to a plain checkpoint is a degraded
    path (leaf statistics survive and can compound again), so it says
    so: one RuntimeWarning per process naming the failure, and the
    checkpointed frame still comes back with the right rows."""
    import warnings

    from etl__project_spark import session

    class Unbuildable:
        def __getattr__(self, name):
            raise RuntimeError("internalCreateDataFrame moved")

    monkeypatch.setattr(session, "_STATS_BARRIER_DEGRADED", False)
    df = spark.range(5).localCheckpoint()
    monkeypatch.setattr(df, "_jdf", Unbuildable())
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert session._strip_leaf_stats(df) is df
        assert session._strip_leaf_stats(df) is df
    msgs = [str(w.message) for w in caught if w.category is RuntimeWarning]
    assert len(msgs) == 1, msgs
    assert "plain checkpoint" in msgs[0]
    assert "internalCreateDataFrame moved" in msgs[0]


def test_warehouse_reads_bind_a_schema():
    """Every ``spark.read...parquet(`` in the warehouse and streaming
    modules names its schema: a bare read runs a 1-task footer job to
    infer a schema the caller already has, once per read, every micro-
    batch (13 of a steady batch's 47 jobs before they were bound). The
    deliberate exceptions are pinned by count, so a new bare read gets
    flagged and triaged here."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "etl__project_spark"
    read_chain = re.compile(
        r"\.read((?:\s*\.\s*\w+\s*\((?:[^()]|\([^()]*\))*\))*)\s*\.\s*parquet\("
    )
    pinned = {
        # compact_fact (flat + per-directory form): compaction must union
        # every source's shape, including columns no reader knows yet
        ("plans/star_load.py", "mergeSchema"): 2,
        # _compact_sidecars' re-read of the compacted output: once per
        # compaction, and only when some source lacks a bloom sidecar
        ("plans/star_load.py", "bare"): 1,
    }
    found: dict[tuple[str, str], int] = {}
    for rel in ("plans/star_load.py", "streaming/pipeline.py"):
        for m in read_chain.finditer((pkg / rel).read_text()):
            chain = m.group(1)
            if ".schema(" in chain:
                continue
            kind = "mergeSchema" if "mergeSchema" in chain else "bare"
            found[(rel, kind)] = found.get((rel, kind), 0) + 1
    assert found == pinned, (
        f"schema-less parquet reads {found} != pinned {pinned}: pass the "
        "schema the caller holds (spark.read.schema(s).parquet), or, for "
        "a deliberate inference, update the pin here with a justification"
    )


def test_versioned_tables_commit_through_one_protocol():
    """In the style of the bare-localCheckpoint gate: in
    ``plans/star_load.py`` only ``ParquetWarehouse._commit`` claims a
    version or writes ``CURRENT`` (``_current`` only reads it), and
    ``os.replace`` appears only in ``_atomic_write`` and in the one
    directory rename of the fact-rewrite helper. Three hand-copied
    publishes once drifted apart this way: one re-prefixed every
    inherited file on each version until names overflowed."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "etl__project_spark"
    tree = ast.parse((pkg / "plans" / "star_load.py").read_text())
    sites: dict[str, list[str]] = {"claim": [], "CURRENT": [], "os.replace": []}

    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.FunctionDef):
                walk(child, child.name)
                continue
            if isinstance(child, ast.Call):
                callee = ast.unparse(child.func)
                if callee.endswith("._claim_version"):
                    sites["claim"].append(func)
                elif callee == "os.replace":
                    sites["os.replace"].append(func)
            elif isinstance(child, ast.Constant) and child.value == "CURRENT":
                sites["CURRENT"].append(func)
            walk(child, func)

    walk(tree, "<module>")
    assert {k: sorted(v) for k, v in sites.items()} == {
        "claim": ["_commit"],
        "CURRENT": ["_commit", "_current"],
        "os.replace": ["_atomic_write", "_rewrite_fact"],
    }, sites


def test_warehouse_reads_share_one_body():
    """In the style of the commit-protocol gate: in
    ``plans/star_load.py`` only ``_read_paths`` (every table read,
    pruned or not), ``compact_fact`` (mergeSchema), ``_compact_sidecars``
    (the bloom rebuild) and ``index_fact_batch`` (one key column) open a
    Spark reader. The range, rectangle and snapshot-range reads once
    each hand-copied their own list → prune → read → strip body."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "etl__project_spark"
    tree = ast.parse((pkg / "plans" / "star_load.py").read_text())
    sites: list[str] = []

    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.FunctionDef):
                walk(child, child.name)
                continue
            if (
                isinstance(child, ast.Attribute)
                and child.attr == "read"
                and ast.unparse(child.value).split(".")[-1] == "spark"
            ):
                sites.append(func)
            walk(child, func)

    walk(tree, "<module>")
    assert set(sites) == {
        "_read_paths", "compact_fact", "_compact_sidecars", "index_fact_batch"
    }, sites


# Queries that once left a persisted frame in the session cache after
# their result was collected: a later query persisting the same plan
# then logged "Asked to cache already cached data", and the cached
# frames outlived the query that made them.
CACHE_FREE_QUERIES = [
    "doc_dedup_keep_best",
    "doc_dup_size_histogram",
    "vs_fact_late_dims",
    "vs_scd2_asof_lookup",
    "doc_dedup_canonical",
    "doc_minhash_est",
    "doc_split_leakage_audit",
    "vs_fact",
]


@pytest.mark.parametrize("name", CACHE_FREE_QUERIES)
def test_query_leaves_nothing_cached(spark, name):
    spark.catalog.clearCache()
    QUERIES[name](spark, SF_DIR).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name} left a persisted frame in the session cache"
    )


def test_streams_start_through_one_runner():
    """In the style of the commit-protocol gate: in
    ``streaming/pipeline.py`` only ``_fold_stream`` touches the stream
    plumbing (``readStream``, ``writeStream``, ``foreachBatch``,
    ``checkpointLocation``, ``trigger``), and every top-level
    ``stream_*`` returns a ``_fold_stream(...)`` call. Twenty-two folds
    once each hand-copied that plumbing, and five carried their own
    backpressure branch."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "etl__project_spark"
    tree = ast.parse((pkg / "streaming" / "pipeline.py").read_text())
    plumbing = {
        "readStream", "writeStream", "foreachBatch", "checkpointLocation", "trigger"
    }
    sites = []
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            name = (
                node.attr if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name)
                else node.value if isinstance(node, ast.Constant)
                else None
            )
            if name in plumbing:
                sites.append(owner)
    assert set(sites) == {"_fold_stream"}, sites

    def own_returns(fn):
        todo, found = list(fn.body), []
        while todo:
            node = todo.pop()
            if isinstance(node, ast.Return):
                found.append(node)
            elif not isinstance(node, (ast.FunctionDef, ast.Lambda)):
                todo.extend(ast.iter_child_nodes(node))
        return found

    streams = [
        fn for fn in tree.body
        if isinstance(fn, ast.FunctionDef) and fn.name.startswith("stream_")
    ]
    assert len(streams) == 22
    bad = [
        fn.name
        for fn in streams
        if not isinstance(fn.body[-1], ast.Return)
        or any(
            not isinstance(r.value, ast.Call)
            or ast.unparse(r.value.func) != "_fold_stream"
            for r in own_returns(fn)
        )
    ]
    assert not bad, bad


def test_no_duplicate_top_level_definitions():
    """A same-file redefinition silently shadows the earlier function —
    round 10 found TWO stacked instances: a second read_column_stats in
    streaming/pipeline.py shadowed the scalar-stats reader, and the test
    covering the old reader was itself shadowed by a same-name test, so
    nothing failed. AST-walk every source and test file; any duplicate
    top-level def/class fails here before it can hide behavior."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    offenders = []
    for f in [*root.joinpath("etl__project_spark").rglob("*.py"),
              *root.joinpath("tests").rglob("*.py"),
              *root.joinpath("tools").rglob("*.py")]:
        seen: dict[str, int] = {}
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if node.name in seen:
                    offenders.append(
                        f"{f}:{node.lineno} duplicate top-level {node.name} "
                        f"(first at line {seen[node.name]})"
                    )
                seen[node.name] = node.lineno
    assert not offenders, "\n".join(offenders)


def _package_sources():
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    return root, sorted(root.joinpath("etl__project_spark").rglob("*.py"))


def _names_used(node) -> set[str]:
    """Every identifier ``node`` loads, by bare name or as an attribute."""
    import ast

    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def test_no_unused_imports_in_package_modules():
    """Every module-level import in a non-``__init__`` package module is
    used in that module. Five catalog family modules once each carried
    the same ~100-line import block, 414 names of it unused, and the
    repository has no lint step to notice. ``__init__`` modules
    re-export by design."""
    import ast

    root, sources = _package_sources()
    offenders = []
    for f in sources:
        if f.name == "__init__.py":
            continue
        tree = ast.parse(f.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for alias in node.names:
                    bound = (alias.asname or alias.name).split(".")[0]
                    if bound not in used:
                        offenders.append(
                            f"{f.relative_to(root)}:{node.lineno} unused import {bound}"
                        )
    assert not offenders, "\n".join(offenders)


# Top-level package defs that no entry point reaches but that stay. Each
# reason cites the test that uses the def as a reference implementation
# or capability check, or the document row that names it; the cited file
# must mention the name. Defs reached only from an entry here (such as
# ``read_bot_stats`` under ``read_bot_screen``) need no entry of their own.
UNREACHED_ALLOWED = {
    # streaming read views: the query face of a stream_* fold's tables
    "ann_lookup": "tests/test_streaming.py: ANN index served equal to a fresh build",
    "read_bot_screen": "tests/test_streaming.py: bot screen equals the one-shot query",
    "read_cdc_rollup": "tests/test_streaming.py: CDC min/max/distinct rollup",
    "read_cdc_view": "tests/test_streaming.py: CDC view equals a one-shot apply",
    "read_cms_estimates": "tests/test_streaming.py: CMS equals the one-shot sketch",
    "read_column_ndv": "tests/test_streaming.py: column stats equal one-shot",
    "read_column_stats": "tests/test_streaming.py: column stats equal one-shot",
    "read_column_stats_cdc": "tests/test_streaming.py: CDC column stats equal one-shot",
    "read_daily_anomaly": "tests/test_streaming.py: daily anomaly equals one-shot",
    "read_dedup_pairs": "tests/test_streaming.py: dedup index equals one-shot LSH",
    "read_ivf_cells": "tests/test_streaming.py: IVF cells equal one-shot assignment",
    "read_join_view": "tests/test_streaming.py: signed join view equals one-shot",
    "read_k_anonymity": "tests/test_streaming.py: privacy gates equal one-shot",
    "read_l_diversity": "tests/test_streaming.py: privacy gates equal one-shot",
    "read_leftjoin_view": "tests/test_streaming.py: left-join view keeps null extensions",
    "read_positional_postings": "tests/test_streaming.py: phrase index equals one-shot build",
    "read_scd2_dim": "tests/test_streaming.py: streamed SCD2 dim equals one-shot",
    "read_scd2_dim_multi": "tests/test_streaming.py: multi-version SCD2 across batches",
    "read_survival_curve": "tests/test_streaming.py: survival curve equals one-shot",
    "read_t_closeness": "tests/test_streaming.py: privacy gates equal one-shot",
    "read_text_index": "tests/test_streaming.py: text index equals one-shot build",
    "read_value_quantiles": "tests/test_streaming.py: value histogram equals one-shot",
    "read_word_graph": "tests/test_streaming.py: word graph equals one-shot",
    # streaming/windows.py: watermarked windows, stateful and stream-stream ops
    "click_purchase_join": "tests/test_streaming_windows.py: stream-stream interval join",
    "dedup_within_watermark": "tests/test_streaming_windows.py: watermark-bounded dedup",
    "running_user_totals": "tests/test_streaming_windows.py: applyInPandasWithState",
    "sessionized_counts": "tests/test_streaming_windows.py: session windows",
    "windowed_event_counts": "tests/test_streaming_windows.py: tumbling windows vs batch",
    # sources and layouts
    "read_csv_with_rejects": "README.md: quarantine CSV ingest",
    "read_jsonl": "tests/test_io.py: JSON-lines round trip with explicit schema",
    "write_jsonl": "tests/test_io.py: JSON-lines round trip with explicit schema",
    "read_orc": "tests/test_io.py: ORC round trip and filter pushdown",
    "write_orc": "tests/test_io.py: ORC round trip and filter pushdown",
    "read_parquet_evolved": "README.md: schema evolution row",
    "write_partitioned": "tests/test_connectors.py: partition pruning and DPP",
    "write_clustered": "README.md: range-clustered layout row",
    "write_zordered": "README.md: Z-order layout row",
    "write_bucketed": "tests/test_connectors.py: bucketed joins without a shuffle",
    # warehouse maintenance and audit
    "read_range": "README.md: versioned range read",
    "snapshot_diff": "README.md: snapshot diff between table versions",
    "vacuum": "README.md: vacuum of old versions",
    "check_manifest": "README.md: manifest check",
    "files_read_under_range": "SCALE.md: modeled prune audit of a Z-order write",
    "observed": "SCALE.md: single-pass observe() audit metrics",
    "run_sql": "README.md: SQL front end over the fixture views",
    "url_decode_key": "README.md: URL-decoded S3 object key",
    # reference implementations and one-shot helpers
    "hll_estimate": "tests/test_datapipe.py: HLL estimate accuracy bands",
    "funnel_counts_from_users": "tests/test_funnel_cdc.py: funnel replay reference",
    "zorder_key_sql": "tests/test_text_index.py: SQL twin of the Z-order key",
    "pca_top_component": "tests/test_datapipe.py: power iteration vs numpy eigh",
    "pca_top_k": "README.md: PCA row",
    "project_embeddings": "README.md: PCA projection row",
}


def test_every_package_def_is_reachable_or_allowed():
    """A name-based AST call graph from the entry points reaches every
    top-level def and class in the package, or the def is in
    ``UNREACHED_ALLOWED``. Entry points: the registered queries (their
    oracle SQL is module-level code), the 22 ``stream_*`` folds and
    ``load_batch``, package module-level code, ``bench.py``,
    ``__spark_entry__.py``, ``perfbench/`` and ``tools/``. A call by
    name reaches every top-level def of that name, so the graph errs
    toward reachable. An allowlist entry is stale when its def is now
    reachable or gone; its reason must cite a file that names it."""
    import ast

    root, sources = _package_sources()
    defs: dict[str, list] = {}
    entry = {fn.__name__ for fn in QUERIES.values()} | {"load_batch"}
    for f in sources:
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                entry |= _names_used(node)
                continue
            defs.setdefault(node.name, []).append(node)
            if f.name == "pipeline.py" and node.name.startswith("stream_"):
                entry.add(node.name)
            # decorators, defaults and bases run at import
            at_import = [*node.decorator_list]
            if isinstance(node, ast.ClassDef):
                at_import += node.bases
            else:
                at_import += node.args.defaults + node.args.kw_defaults
            for part in at_import:
                if part is not None:
                    entry |= _names_used(part)
    scripts = [
        root / "bench.py",
        root / "__spark_entry__.py",
        *sorted(root.joinpath("tools").glob("*.py")),
        *sorted(root.joinpath("perfbench").glob("*.py")),
    ]
    for f in scripts:
        entry |= _names_used(ast.parse(f.read_text()))
    assert len([n for n in entry if n.startswith("stream_") and n in defs]) == 22

    def closure(start):
        seen, todo = set(), [n for n in start if n in defs]
        while todo:
            name = todo.pop()
            if name not in seen:
                seen.add(name)
                for node in defs[name]:
                    todo += [n for n in _names_used(node) if n in defs and n not in seen]
        return seen

    reached = closure(entry)
    allowed = closure(UNREACHED_ALLOWED)
    unreached = sorted(set(defs) - reached - allowed)
    assert not unreached, f"no entry point reaches: {unreached}"
    stale = sorted(n for n in UNREACHED_ALLOWED if n not in defs or n in reached)
    assert not stale, f"stale UNREACHED_ALLOWED entries: {stale}"
    uncited = []
    for name, reason in UNREACHED_ALLOWED.items():
        cited = root / reason.split(":")[0]
        if not cited.is_file() or name not in cited.read_text():
            uncited.append(name)
    assert not uncited, f"reason cites no file naming: {uncited}"


def test_tpch_broadcast_hint_size_gate_flips_to_smj(spark, monkeypatch):
    """VERDICT r11 #3: the TPC-H explicit broadcast hints are gated on
    the table's on-disk size (orders/customer/part/supplier all scale
    with SF — at 100 TB an unconditional broadcast hint is an OOM). With
    the gate limit forced below the fixture size and Spark's own
    auto-broadcast disabled (simulating a table whose estimates say
    BIG), the plan must flip to SortMergeJoin; the companion fixture-
    scale pin is test_star_joins_broadcast_not_sort_merge above."""
    from etl__project_spark.plans.catalog import _shared

    monkeypatch.setattr(_shared, "BROADCAST_FILE_LIMIT", 1)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(QUERIES["tpch_q3_shipping"](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, "size gate did not release the hint"
    assert "BroadcastHashJoin" not in plan
