"""Physical-plan assertions (SURVEY.md §5.2-5): the plans the 100 TB design
depends on — pushdown reaching the scan, dims broadcasting, codegen in the
hot path — checked via explain output so regressions are caught."""

from __future__ import annotations

from historic_score_etl_pipeline_spark.contract.joins import (
    join_hash_equi,
    join_multi_hop,
    join_theta_contains,
)
from historic_score_etl_pipeline_spark.contract.scans import scan_parquet
from historic_score_etl_pipeline_spark.contract.joins import sort_limit_topn


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def explain_str(df) -> str:
    # public API: captures the formatted explain text
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_pushdown(spark, sf_oracle):
    plan = explain_str(scan_parquet(spark, sf_oracle))
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]" in plan
    # projection pruned to exactly the 3 selected columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_dimension_joins_broadcast(spark, sf_oracle):
    plan = explain_str(join_multi_hop(spark, sf_oracle))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan


def test_fact_join_is_shuffle_join(spark, sf_oracle):
    plan = explain_str(join_hash_equi(spark, sf_oracle))
    # orders fits under the broadcast threshold at sf0.01 (AQE may choose
    # broadcast); the assertion is that SOME hash join strategy is used —
    # never a nested-loop.
    assert "NestedLoop" not in plan
    assert "Join" in plan


def test_theta_join_is_broadcast_nested_loop(spark, sf_oracle):
    plan = explain_str(join_theta_contains(spark, sf_oracle))
    assert "BroadcastNestedLoopJoin" in plan


def test_topn_uses_take_ordered(spark, sf_oracle):
    plan = explain_str(sort_limit_topn(spark, sf_oracle))
    assert "TakeOrderedAndProject" in plan, plan


def test_whole_stage_codegen_in_scalar_path(spark, sf_oracle):
    from historic_score_etl_pipeline_spark.contract.scans import str_classify_case

    plan = explain_str(str_classify_case(spark, sf_oracle))
    # formatted mode marks codegen stages with "[codegen id : N]"
    assert "codegen id" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_cube_plans_one_expand_one_shuffle(spark, sf_oracle):
    """CUBE must be a single Expand + aggregate, not a union of groupBys —
    the difference between 1 and 4 shuffles of the fact table."""
    from historic_score_etl_pipeline_spark.contract.surface import agg_cube

    plan = explain_str(agg_cube(spark, sf_oracle))
    # formatted explain prints each node once in the tree ("Expand (2)")
    # and once in the details ("(2) Expand")
    assert plan.count("Expand (") == 1
    assert plan.count("Union") == 0
    # exactly one exchange for the aggregation
    assert plan.count("Exchange (") == 1, plan


def test_range_join_broadcasts_interval_dim(spark, sf_oracle):
    """The interval dim must broadcast: the fact side streams with no
    shuffle before the final 3-group aggregate."""
    from historic_score_etl_pipeline_spark.contract.surface import (
        join_range_interval,
    )

    plan = explain_str(join_range_interval(spark, sf_oracle))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lag_lead_share_one_window_exec(spark, sf_oracle):
    """lag + lead over the same (partition, order) spec must collapse into
    ONE Window exec — one shuffle, one sort, both functions."""
    from historic_score_etl_pipeline_spark.contract.surface import window_lag_lead

    plan = explain_str(window_lag_lead(spark, sf_oracle))
    assert plan.count("Window (") == 1, plan


def test_flagship_has_no_sort_or_window(spark, sf_oracle):
    """The flagship top-N-per-key is aggregate-side (array slice), so the
    physical plan must contain no Sort and no Window — nothing sorts whole
    partitions at 100 TB."""
    from historic_score_etl_pipeline_spark.plans.flagship import flagship_pipeline

    plan = explain_str(flagship_pipeline(spark, sf_oracle))
    assert "Window" not in plan
    assert "Sort [" not in plan, plan
    # customer dim must broadcast
    assert "BroadcastHashJoin" in plan


def _plan_tree(
    plan: str,
) -> tuple[dict[int, str], dict[int, int | None], dict[int, str]]:
    """(node name, parent id, detail block) per node id of a formatted plan."""
    import re

    tree = plan.split("== Physical Plan ==\n", 1)[1].split("\n\n", 1)[0]
    names: dict[int, str] = {}
    parents: dict[int, int | None] = {}
    stack: list[tuple[int, int]] = []  # (depth, id) of the open ancestors
    for line in tree.splitlines():
        m = re.match(r"^(.*?)([+:]- )?(?:\* )?([A-Za-z].*?) \((\d+)\)$", line)
        depth = len(m.group(1)) + len(m.group(2) or "")
        node = int(m.group(4))
        while stack and stack[-1][0] >= depth:
            stack.pop()
        names[node] = m.group(3)
        parents[node] = stack[-1][1] if stack else None
        stack.append((depth, node))
    details = {
        int(m.group(1)): m.group(2)
        for m in re.finditer(r"^\((\d+)\) .*?\n(.*?)(?=\n\n|\Z)", plan, re.M | re.S)
    }
    return names, parents, details


def test_nightly_history_aggregates_read_reduced_lineitem(spark, sf_oracle):
    """Both nightly plans emit history for a few orders only, so lineitem
    is cut to the needed order keys by a broadcast semi-join sitting right
    on its scan, below the collect_list aggregate — the detail columns of
    every other order never reach the shuffle.  The broadcast is pinned in
    the plan, not left to AQE's runtime demotion, and no sort-merge join
    (which would shuffle all of lineitem to do the cut) may appear."""
    from historic_score_etl_pipeline_spark.plans.flagship import flagship_pipeline
    from historic_score_etl_pipeline_spark.plans.referee import referee_pipeline

    static = spark.newSession()
    static.conf.set("spark.sql.adaptive.enabled", "false")
    for session in (spark, static):
        for pipeline in (flagship_pipeline, referee_pipeline):
            plan = explain_str(pipeline(session, sf_oracle))
            assert "SortMergeJoin" not in plan, plan
            names, parents, details = _plan_tree(plan)
            scans = [n for n, name in names.items()
                     if name.startswith("Scan parquet")
                     and "lineitem.parquet" in details[n]]
            assert len(scans) == 1, plan
            path, node = [], parents[scans[0]]
            while node is not None:
                path.append(node)
                node = parents[node]
            agg = next(i for i, n in enumerate(path)
                       if "collect_list(" in details[n])
            below = [names[n] for n in path[:agg]]
            assert below[-1] == "BroadcastHashJoin LeftSemi BuildRight", (
                pipeline.__name__, below, plan)
            # nothing but row-local operators between the scan and the cut
            assert set(below[:-1]) <= {"Filter", "ColumnarToRow", "Project"}, (
                pipeline.__name__, below, plan)


def test_minhash_fold_compiles_small():
    """The MinHash fold keeps the expression tree constant-size in
    num_hashes: the unrolled form grew ~linearly and took ~45 s of codegen
    at 32 hashes."""
    from historic_score_etl_pipeline_spark.operators.dedup import minhash_mins
    from pyspark.sql import functions as F

    small = repr(minhash_mins(F.col("base"), 8)._jc)
    large = repr(minhash_mins(F.col("base"), 64)._jc)
    # only the literal num_hashes bound changes, not the tree size
    assert len(large) < len(small) + 50


def test_unpivot_is_expand_no_shuffle(spark, sf_oracle):
    """unpivot must plan as a shuffle-free Expand: each input row emits
    one row per measure inside the same stage — linear at 100 TB."""
    from historic_score_etl_pipeline_spark.contract.surface2 import unpivot_long

    plan = explain_str(unpivot_long(spark, sf_oracle))
    assert "Expand" in plan
    assert "Exchange" not in plan, plan


def test_hof_pipeline_single_shuffle(spark, sf_oracle):
    """The higher-order filter→transform→aggregate chain runs inside the
    projection after ONE groupBy shuffle — no explode + second shuffle."""
    from historic_score_etl_pipeline_spark.contract.surface2 import (
        hof_array_pipeline,
    )

    plan = explain_str(hof_array_pipeline(spark, sf_oracle))
    # count tree nodes ("Exchange (n)"), not the detail-section echoes
    assert plan.count("Exchange (") == 1, plan
    assert "Generate" not in plan  # no explode anywhere


def test_intersect_is_aggregate_semi_join(spark, sf_oracle):
    """INTERSECT must not materialize a cross product: distinct-aggregate
    per side + a hash semi-join."""
    from historic_score_etl_pipeline_spark.contract.surface2 import setop_intersect

    plan = explain_str(setop_intersect(spark, sf_oracle))
    assert "NestedLoop" not in plan
    assert "LeftSemi" in plan, plan


def test_asof_lastn_is_single_window_no_join(spark, sf_oracle):
    """The default as-of plan (union-merge) must contain exactly ONE Window
    and NO join operator — the round-1 conditional-join formulation
    materialized every purchase × all-prior-clicks pair before ranking."""
    from historic_score_etl_pipeline_spark.contract.joins import join_asof_lastn

    plan = explain_str(join_asof_lastn(spark, sf_oracle))
    assert plan.count("Window (") == 1, plan
    assert "Join" not in plan, plan


def test_asof_last_n_generic_matches_conditional(spark, sf_oracle):
    """asof_last_n (rank + join-back for n>1) must agree row-for-row with
    the didactic conditional-join variant on real data."""
    from pyspark.sql import functions as F

    from historic_score_etl_pipeline_spark.operators.joins import asof_last_n
    from historic_score_etl_pipeline_spark.sources.catalog import load_table

    ev = load_table(spark, sf_oracle, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("p_ts")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("cid")
    )
    got = asof_last_n(
        purchases, clicks, "user_id", "p_ts", "c_ts",
        n=3, tiebreak="cid", right_cols=["cid"],
    ).select("pid", "cid")
    purchases.createOrReplaceTempView("asof_p")
    clicks.createOrReplaceTempView("asof_c")
    want = spark.sql(
        """
        SELECT pid, cid FROM (
          SELECT p.pid, c.cid,
                 row_number() OVER (PARTITION BY p.pid
                                    ORDER BY c.c_ts DESC, c.cid DESC) AS rn
          FROM asof_p p LEFT JOIN asof_c c
            ON p.user_id = c.user_id AND c.c_ts <= p.p_ts
        ) WHERE rn <= 3 OR cid IS NULL
        """
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_zip_join_guard_fires(spark):
    """zip_index_join must refuse oversized inputs — the global row_number
    is a single-partition sort, parity-only by contract."""
    import pytest

    from historic_score_etl_pipeline_spark.operators.joins import zip_index_join

    df = spark.range(100).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="single-partition global sort"):
        zip_index_join(df, df, ["k"], ["k"], max_rows=10)
    # under the threshold it still works
    out = zip_index_join(df.limit(5), df.limit(5), ["k"], ["k"], max_rows=10)
    assert out.count() == 5


def test_pack_shards_single_shuffle_single_window(spark, sf_oracle):
    """Sequence packing is one hash shuffle on lang + one running-sum
    window — nothing else."""
    from historic_score_etl_pipeline_spark.contract.surface14 import (
        text_pack_shards,
    )

    plan = explain_str(text_pack_shards(spark, sf_oracle))
    assert plan.count("Exchange (") == 1, plan
    assert plan.count("Window (") == 1, plan


def test_stratified_sample_filter_is_scan_side(spark, sf_oracle):
    """The md5-threshold predicate runs in the scan stage; the only
    shuffle is the tiny per-language rollup."""
    from historic_score_etl_pipeline_spark.contract.surface14 import (
        sample_stratified_hash,
    )

    plan = explain_str(sample_stratified_hash(spark, sf_oracle))
    assert plan.count("Exchange (") == 1, plan
    assert "Window" not in plan and "Join" not in plan


def test_funnel_has_no_self_join(spark, sf_oracle):
    """The ordered-funnel constraint folds into the per-user aggregate —
    the event stream is never joined against itself (the naive
    formulation is events ⋈ events on user_id with a time predicate)."""
    from historic_score_etl_pipeline_spark.contract.surface15 import (
        funnel_click_purchase,
    )

    plan = explain_str(funnel_click_purchase(spark, sf_oracle))
    assert "Join" not in plan, plan


def test_contamination_join_is_hash_not_nested_loop(spark, sf_oracle):
    """Contamination is an equi-join on the chunk hash — any nested-loop
    or cartesian here would be the doc×doc comparison the design bans."""
    from historic_score_etl_pipeline_spark.contract.surface14 import (
        dedup_contamination,
    )

    plan = explain_str(dedup_contamination(spark, sf_oracle))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_plan_redflag_budget(spark, sf_oracle):
    """Fleet-wide physical-plan audit: no contract query may introduce a
    cartesian product, nested-loop join, single-partition exchange, or
    row-at-a-time Python eval beyond the documented allowlist (global
    scalar aggregates exchange ONE partial-state row; the allowed BNLJs
    broadcast 1-row scalars or tiny documented dims; zip join is guarded
    parity-only)."""
    import contextlib
    import io

    from historic_score_etl_pipeline_spark import contract

    ALLOWED = {
        # |types|-row (≤ handful) dim theta-joined to build unordered
        # pairs — a tiny broadcast, never data-sized
        "agg_kmv_intersection": {"BNLJ"},
        "date_spine_gapfill": {"BNLJ", "SINGLE_PART"},
        "dedup_embed_cosine": {"BNLJ"},
        "graph_triangle_count": {"BNLJ", "SINGLE_PART"},  # 3 scalar counts
        "join_bloom_prune": {"SINGLE_PART"},
        # three 1-row (pass, n_nodes, n_edges) scalar counts — the
        # graph_triangle_count class
        "graph_kcore_two_pass": {"SINGLE_PART"},
        # pooled row re-aggregates the |years|-row seg table — partial-
        # state rows only, never facts (ARCHITECTURE.md §scalar folding)
        "agg_simpson_rate_audit": {"SINGLE_PART"},
        # five declared rules, each a 1-row scalar aggregate of its own
        # table — the audit_fk_orphans class
        "audit_schema_contract_check": {"SINGLE_PART"},
        # 10-row probe dim broadcast against the corpus for the exact
        # ground-truth pass — the embed_prefix_topk_overlap class
        "embed_octant_recall_eval": {"BNLJ"},
        # 4-cell re-aggregate + 1-row output (scalar-aggregate class)
        "event_did_estimator": {"SINGLE_PART"},
        # per-user booleans fold to ONE 4-cell summary row exploded to
        # 3 channel rows (scalar-aggregate class)
        "event_attribution_shapley": {"SINGLE_PART"},
        # ONE pivoted 2-centroid row broadcast onto the corpus (scalar-
        # folding rule); the pivot itself is a 2-row global aggregate
        "embed_two_centroid_split": {"BNLJ", "SINGLE_PART"},
        # ordered log assembly: the record-id running count is a global
        # window over the line table — inherently sequence-ordered; at
        # scale the embedded seq partitions per source file
        "scan_multiline_log_records": {"SINGLE_PART"},
        # 1-row corpus-size scalar broadcast onto the 20-row top-word
        # stats (ARCHITECTURE.md §scalar folding rule)
        "text_word_burstiness": {"BNLJ", "SINGLE_PART"},
        # 20-row probe dim broadcast against the user-vector table — the
        # embed_prefix_topk_overlap class
        "embed_behavior_user_similarity": {"BNLJ"},
        # the expected spine explodes from a 1-row (min, max) range
        # scalar (scalar-folding rule)
        "date_partition_backfill_plan": {"SINGLE_PART"},
        # 1-row spend-total broadcast onto the |nations|-row base, and
        # the remainder rank is a global window over those ≤25 rows —
        # partial-state rows only (scalar-folding rule)
        "agg_budget_apportionment": {"BNLJ", "SINGLE_PART"},
        # 4-row fold dim broadcast onto the event scan (tiny documented
        # dim — the join_dim_grid_fill class)
        "sample_rolling_origin_folds": {"BNLJ"},
        # the FX dim explodes from a 1-row (min, max) range scalar
        # (scalar-folding rule, the date_partition_backfill_plan class)
        "join_fx_conversion_daily": {"SINGLE_PART"},
        # global lag + rank over the ~90-row filtered daily aggregate —
        # partial-state rows only (the event_new_vs_returning class)
        "sql_nulls_ordering_pinned": {"SINGLE_PART"},
        # five declared columns, each a 1-row scalar aggregate — the
        # audit_fk_orphans / audit_schema_contract_check class
        "audit_column_profile": {"SINGLE_PART"},
        # 1-row date-range scalar folded into the 3-row spec dim
        # (ARCHITECTURE.md §scalar folding rule)
        "date_schedule_expansion": {"BNLJ", "SINGLE_PART"},
        "join_fuzzy_levenshtein": {"BNLJ"},
        "join_range_interval": {"BNLJ"},
        "join_theta_contains": {"BNLJ"},
        "join_zip_index": {"SINGLE_PART"},
        "sim_topk_cosine": {"BNLJ"},
        "subq_global_fraction": {"BNLJ", "SINGLE_PART"},
        # 1-row vocab-size scalar folded in as a broadcast DF (the r5
        # driver-free rewrite that removed the .first() job)
        "text_bigram_surprisal": {"BNLJ", "SINGLE_PART"},
        # 1-row session-total scalar broadcast into the |types|²-bounded
        # pair table (surface34: crossJoin(F.broadcast(sess))) — the
        # approved scalar-broadcast idiom (ARCHITECTURE.md §"scalar
        # folding rule"): the BNLJ side is exactly one row, the
        # SinglePartition stage aggregates partial state, never data
        "event_cooccurrence_pmi": {"BNLJ", "SINGLE_PART"},
        # 1-row corpus-horizon scalar broadcast onto per-customer rows
        # (surface33:122) — same approved idiom
        "event_rfm_scores": {"BNLJ", "SINGLE_PART"},
        # two 1-row scalars (horizon + cohort total) broadcast into the
        # per-lifetime table (surface33:274,298) — same approved idiom
        "event_survival_km": {"BNLJ", "SINGLE_PART"},
        # global scalar subquery max (ANY/ALL rewrite) — one partial-
        # state row through SinglePartition, the same class as
        # subq_scalar_avg_qty / tpch_q6
        "sql_any_all_semijoin": {"SINGLE_PART"},
        # four global count(*) scalar subqueries, each exchanging ONE
        # partial-state row (the whole query RETURNS one row) — the
        # scalar-subquery class per ARCHITECTURE.md §scalar folding rule
        "sql_not_in_null_semantics": {"SINGLE_PART"},
        # the trailing-7d window joins the DISTINCT (user, day) table to
        # a broadcast |days|-row calendar dim on a 0..6 offset — a
        # dim-sized BNLJ build side, ≤7× fan-out of the pre-shrunk table
        "event_stickiness_dau_wau": {"BNLJ"},
        # global running sum over the |days|-row daily aggregate — one
        # partial-state row per day through SinglePartition, never facts
        "event_new_vs_returning": {"SINGLE_PART"},
        # 1-row total scalar broadcast onto the 168-row (dow, hour) grid
        # (ARCHITECTURE.md §scalar folding rule)
        "event_hour_heatmap": {"BNLJ", "SINGLE_PART"},
        # cumulative-vocabulary window over the |buckets|-row (≤ docs/50)
        # aggregate — partial-state rows only, never token rows
        "text_vocab_growth": {"SINGLE_PART"},
        # 1-row (n_docs, avgdl) corpus scalar broadcast into the per-hit
        # scoring table (ARCHITECTURE.md §scalar folding rule)
        "text_bm25_score": {"BNLJ", "SINGLE_PART"},
        # |langs|²-row pair dim broadcast onto the vocab grid — a tiny
        # (≤ 10-row) build side, never data-sized
        "text_js_divergence": {"BNLJ"},
        # 1-row minority-class-size scalar broadcast onto the ranked docs
        # (ARCHITECTURE.md §scalar folding rule)
        "sample_balance_downsample": {"BNLJ", "SINGLE_PART"},
        # 1-row corpus-token-total scalar broadcast into the unigram LM
        # join (ARCHITECTURE.md §scalar folding rule)
        "text_doc_surprisal_unigram": {"BNLJ", "SINGLE_PART"},
        # 1-row corpus-horizon scalar broadcast onto the per-user
        # feature rows (ARCHITECTURE.md §scalar folding rule)
        "event_feature_assembly": {"BNLJ", "SINGLE_PART"},
        # each FK edge crossJoins two 1-row count scalars (child total ×
        # orphan total) — the whole output is 3 rows
        "audit_fk_orphans": {"BNLJ", "SINGLE_PART"},
        # global share-of-total window over the |statuses|-row CTE
        # aggregate — partial-state rows only
        "sql_cte_share_of_total": {"SINGLE_PART"},
        # 1-row bigram-total scalar broadcast into the contingency join
        # (ARCHITECTURE.md §scalar folding rule)
        "text_collocation_llr": {"BNLJ", "SINGLE_PART"},
        # 1-row majority-class-target scalar broadcast onto ranked docs
        # (same rule as sample_balance_downsample)
        "sample_balance_upsample": {"BNLJ", "SINGLE_PART"},
        # 5-region × |priorities| dim cross — both sides tiny broadcast
        # dims, the grid itself IS the output
        "join_dim_grid_fill": {"BNLJ"},
        # 1-row max-day scalar broadcast onto the |days|-row daily
        # aggregate (ARCHITECTURE.md §scalar folding rule)
        "event_forecast_dow_naive": {"BNLJ", "SINGLE_PART"},
        # 1-row broadcast 16x64 hyperplane matrix (scalar-folding rule):
        # the BNLJ build side is exactly one row, never data-sized
        "embed_lsh_hyperplane": {"BNLJ"},
        # the scaled sibling folds corpus-count → band width → 4w×64
        # hyperplane matrix into the SAME 1-row broadcast; the count is
        # one partial-state row per task (scalar-folding rule)
        "embed_lsh_hyperplane_scaled": {"BNLJ", "SINGLE_PART"},
        # corpus-width SimHash: same 1-row count→width broadcast shape
        "dedup_simhash_scaled": {"BNLJ", "SINGLE_PART"},
        # global trailing-7d window over the |days|-row daily aggregate —
        # partial-state rows only (same class as event_new_vs_returning)
        "event_forecast_moving_avg": {"SINGLE_PART"},
        # single-row funnel summary — one partial-state row per task
        # through SinglePartition (scalar-aggregate class)
        "event_funnel_time_bounded": {"SINGLE_PART"},
        # 1-row broadcast distinct-type total (division via count-
        # distinct, scalar-folding rule)
        "sql_relational_division": {"BNLJ", "SINGLE_PART"},
        # 3-tag sketch fold -> one-row inclusion-exclusion output
        # (scalar-aggregate class, 768 register rows of state)
        "agg_hll_intersection": {"SINGLE_PART"},
        # 10-row broadcast query-vector dim onto the corpus scan — a
        # tiny documented dim, never data-sized
        "embed_prefix_topk_overlap": {"BNLJ"},
        # global share-of-total window over the 9-row digit table —
        # partial-state rows only (same class as sql_cte_share_of_total)
        "audit_benford_first_digit": {"SINGLE_PART"},
        # 1-row broadcast 8x4x8 PQ codebook (scalar-folding rule)
        "embed_pq_encode": {"BNLJ"},
        # 1-row codebook + 5-row query-vector broadcasts (ADC LUT path)
        "embed_pq_adc_topk": {"BNLJ"},
        # global trailing-lag window over the |days|-row daily aggregate
        "window_weighted_moving_avg": {"SINGLE_PART"},
        # global lag-12 window over the |months|-row aggregate —
        # partial-state rows only
        "agg_month_yoy_delta": {"SINGLE_PART"},
        # 1-row n_docs scalar broadcast onto the word-df table
        # (scalar-folding rule) + TakeOrdered top-20
        "text_stopword_discovery": {"BNLJ", "SINGLE_PART"},
        # global trailing-20 window over the |days|-row daily aggregate
        "window_bollinger_bands": {"SINGLE_PART"},
        # |years|-row broadcast Easter dim range-joined onto orders
        "date_easter_computus": {"BNLJ"},
        # single-row Pearson sums (scalar-aggregate class)
        "graph_degree_assortativity": {"SINGLE_PART"},
        # UnionLoop steps a 1-row state + |days|-row series; the final
        # fold is a 1-row scalar output
        "window_holt_smoothing_recursive": {"SINGLE_PART"},
        # 1-row totals scalar broadcast onto the 7-row dow table
        "event_seasonal_strength": {"BNLJ", "SINGLE_PART"},
        # 5-row broadcast query-vector dim (rank-agreement probe)
        "embed_metric_rank_correlation": {"BNLJ"},
        # 1-row corpus-total scalar broadcast onto the 3-row coverage
        # tiers; each tier is a k-row TakeOrdered then a scalar
        # aggregate (ARCHITECTURE.md §scalar folding rule)
        "text_vocab_coverage_curve": {"BNLJ", "SINGLE_PART"},
        # ≤21-row broadcast holiday dim range-joined onto orders (the
        # date_easter_computus class)
        "date_business_days_holiday_aware": {"BNLJ"},
        "subq_scalar_avg_qty": {"SINGLE_PART"},
        "tpch_q11_important_stock": {"BNLJ", "SINGLE_PART"},
        # global 1-row scalar output (decorrelated Q17 aggregate) — one
        # partial-state row per task through SinglePartition, the same
        # class as tpch_q6/tpch_q14
        "tpch_q17_small_qty_revenue": {"SINGLE_PART"},
        "tpch_q14_promo_share": {"SINGLE_PART"},
        "tpch_q15_top_supplier": {"SINGLE_PART"},
        "tpch_q19_disjunctive": {"SINGLE_PART"},
        "tpch_q22_idle_customers": {"BNLJ", "SINGLE_PART"},
        "tpch_q6_forecast_revenue": {"SINGLE_PART"},
    }
    # queries that RUN jobs/loops at build time — audited by their own
    # dedicated plan/behavior tests instead
    SKIP = {
        # runs a real AvailableNow streaming job at build time — audited
        # by its own behavior test + hash oracle
        "stream_tumbling_topk",
        "stream_incremental_dedup", "sink_write", "sink_merge_upsert",
        "sink_scd2_history", "stream_stateful_totals", "stream_stream_join",
        "matview_incremental", "dedup_pipeline_e2e",
        "dedup_connected_components", "sim_kmeans_assign",
        "sim_topk_cosine_ivf_trained",
    }
    violations = {}
    for name, spec in contract._merged().items():
        if name in SKIP:
            continue
        df = spec.spark(spark, sf_oracle)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        found = set()
        if "CartesianProduct" in plan:
            found.add("CARTESIAN")
        if "BroadcastNestedLoopJoin" in plan:
            found.add("BNLJ")
        if "SinglePartition" in plan:
            found.add("SINGLE_PART")
        if "BatchEvalPython" in plan:
            found.add("ROW_PY")
        extra = found - ALLOWED.get(name, set())
        if extra:
            violations[name] = sorted(extra)
    assert not violations, violations


def test_asof_forward_is_single_window_no_join(spark, sf_oracle):
    """The forward as-of (reversed-clock union-merge) keeps the backward
    plan's shape: exactly one Window, no join operator."""
    from historic_score_etl_pipeline_spark.contract.surface15 import (
        join_asof_forward,
    )

    plan = explain_str(join_asof_forward(spark, sf_oracle))
    assert plan.count("Window (") == 1, plan
    assert "Join" not in plan, plan


def test_asof_tolerance_is_single_window_no_join(spark, sf_oracle):
    """Tolerance as-of = backward merge + constant-time mask: plan shape
    must stay one Window, zero joins."""
    from historic_score_etl_pipeline_spark.contract.surface15 import (
        join_asof_tolerance,
    )

    plan = explain_str(join_asof_tolerance(spark, sf_oracle))
    assert plan.count("Window (") == 1, plan
    assert "Join" not in plan, plan


def test_interval_overlap_is_equi_join_one_emit(spark, sf_oracle):
    """The interval-overlap join must plan as a hash-keyed EQUI join on
    (key, bin) — never a nested-loop/cartesian — with the overlap
    predicate as a post-filter."""
    from historic_score_etl_pipeline_spark.contract.surface19 import (
        join_interval_overlap,
    )

    plan = explain_str(join_interval_overlap(spark, sf_oracle))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), plan


def test_zscore_is_single_window_single_shuffle(spark, sf_oracle):
    """count/sum/sumsq over one frame = ONE Window exec after ONE hash
    shuffle on the key."""
    from historic_score_etl_pipeline_spark.contract.surface19 import (
        anomaly_zscore_rolling,
    )

    plan = explain_str(anomaly_zscore_rolling(spark, sf_oracle))
    assert plan.count("Window (") == 1, plan
    assert plan.count("Exchange (") == 1, plan


def test_decontaminate_broadcasts_eval_grams(spark, sf_oracle):
    """The eval gram set (benchmark-sized, MBs against a TB corpus) must
    broadcast; the train side never shuffles for the probe join."""
    from historic_score_etl_pipeline_spark.contract.surface18 import (
        dedup_decontaminate_13gram,
    )

    plan = explain_str(dedup_decontaminate_13gram(spark, sf_oracle))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_reservoir_sample_uses_window_group_limit(spark, sf_oracle):
    """Hash-priority reservoir sampling must compile to the partial+final
    WindowGroupLimit top-k pushdown — per-group state is k rows, never
    the group."""
    from historic_score_etl_pipeline_spark.contract.surface18 import (
        sample_reservoir_hash,
    )

    plan = explain_str(sample_reservoir_hash(spark, sf_oracle))
    assert "WindowGroupLimit" in plan, plan


def test_window_distinct_count_one_shuffle_two_sorts(spark, sf_oracle):
    """Running COUNT(DISTINCT) restatement: both windows partition on
    user_id, so the plan is ONE exchange; the two orderings are two Sort
    nodes, never a second shuffle."""
    from historic_score_etl_pipeline_spark.contract.surface20 import (
        window_distinct_count,
    )

    plan = explain_str(window_distinct_count(spark, sf_oracle))
    assert plan.count("Exchange (") == 1, plan


def test_weighted_sample_uses_window_group_limit(spark, sf_oracle):
    from historic_score_etl_pipeline_spark.contract.surface20 import (
        sample_weighted_hash,
    )

    plan = explain_str(sample_weighted_hash(spark, sf_oracle))
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("Exchange (") == 1, plan


def test_dynamic_partition_pruning_fires(spark, sf_oracle, tmp_path):
    """At 100 TB the fact table is date-partitioned and dim filters must
    prune fact PARTITIONS at runtime (DPP) — a selective dim filter
    becomes a dynamicpruning expression in the fact scan's
    PartitionFilters, so unmatched ship_year directories are never
    read."""
    import os

    from pyspark.sql import functions as F

    from historic_score_etl_pipeline_spark.sources.catalog import load_table

    out = os.path.join(str(tmp_path), "li_by_year")
    li = load_table(spark, sf_oracle, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    li.write.mode("overwrite").partitionBy("ship_year").parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        load_table(spark, sf_oracle, "orders")
        .where(F.col("o_orderdate") >= "1997-01-01")
        .select(F.year("o_orderdate").alias("ship_year"))
        .distinct()
    )
    joined = fact.join(dim, ["ship_year"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the pruning is real: only the dim's years survive
    years = {r["ship_year"] for r in joined.select("ship_year").distinct().collect()}
    assert years and all(y >= 1997 for y in years)


def test_contract_collect_allowlist():
    """Fixture-staging rule (ARCHITECTURE.md §"Fixture staging rule",
    VERDICT r6 ask #5): no contract module may ``.collect()`` a
    whole-table DataFrame to the driver.  Every ``.collect()`` under
    contract/ must be on this allowlist of bounded driver folds —
    adding a new one means justifying it here, same discipline as the
    scalar-folding plan budget."""
    import glob
    import os

    import historic_score_etl_pipeline_spark.contract as contract_pkg

    # file -> (max occurrences, why each is bounded)
    allowed = {
        "surface16.py": (1, "per-lang temperature weights: |langs| rows, a plan-shaping scalar fold"),
        "surface19.py": (1, "blob staging bounded by doc_id < _N_BLOB_FILES (constant)"),
        "surface89.py": (1, "manifest summary: one (rows, xor_sig, sum_sig) row per shard, shards is a constant"),
    }
    pkg_dir = os.path.dirname(contract_pkg.__file__)
    offenders: list[str] = []
    for path in sorted(glob.glob(os.path.join(pkg_dir, "*.py"))):
        name = os.path.basename(path)
        import ast

        with open(path) as f:
            tree = ast.parse(f.read())
        # count real call sites (AST), not mentions in docstrings
        n = sum(
            1
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "collect"
        )
        cap = allowed.get(name, (0, ""))[0]
        if n > cap:
            offenders.append(f"{name}: {n} .collect() call(s), allowed {cap}")
    assert not offenders, (
        "unallowlisted driver collect in contract modules (stage via "
        f"df.write per ARCHITECTURE.md): {offenders}"
    )


def test_publish_is_the_only_table_replacement():
    """Replacing a parquet table has one home, ``sinks.merge.publish``
    (one write to a sibling stage, a rename swap, rolled forward on the
    next call).  No sink module and not ``operators/scale.py`` stages a
    table through a driver-local ``tempfile`` or deletes one with
    ``shutil.rmtree``."""
    import ast
    import glob
    import os

    import historic_score_etl_pipeline_spark.operators.scale as scale
    import historic_score_etl_pipeline_spark.sinks as sinks

    paths = sorted(glob.glob(os.path.join(os.path.dirname(sinks.__file__), "*.py")))
    offenders = []
    for path in [*paths, scale.__file__]:
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                used = {a.name for a in node.names}
            elif isinstance(node, ast.ImportFrom):
                used = {node.module, *(f"{node.module}.{a.name}" for a in node.names)}
            elif isinstance(node, ast.Attribute):
                used = {node.attr}
            else:
                continue
            if used & {"tempfile", "shutil.rmtree", "rmtree"}:
                offenders.append(f"{os.path.basename(path)}:{node.lineno}")
    assert not offenders, offenders


def test_contract_int_product_overflow_audit():
    """int64-overflow-product audit (VERDICT r7 ask #3): the sf0.1 sweep
    caught ``event_did_estimator`` and review caught
    ``agg_budget_apportionment`` — both the same class, a ≥3-factor
    integer multiplication chain whose factors grow with data scale, run
    in BIGINT.  This walks every contract module's AST (Python ``*``
    chains AND Spark-side expression strings) and fails any such chain
    that is not (a) compile-time-constant, (b) floating-point, (c) cast
    to DECIMAL(38,0)/HUGEINT inside the chain, or (d) allowlisted below
    WITH its scale bound.  Adding a new chain means proving its bound
    here — the same discipline as the collect allowlist.

    Scope is contract/ (where the engine-level Column/SQL arithmetic
    lives): an r8 sweep of operators/, functions/, streaming/, plans/
    with the same rules found only header-bounded constants (image
    w·h·3, WAV byte rate, minhash band index) and pure-Python ints
    inside Pandas UDFs (arbitrary precision — cannot overflow)."""
    import ast
    import glob
    import os
    import re

    import historic_score_etl_pipeline_spark.contract as contract_pkg

    # file -> [(segment substring, documented scale bound)]
    allowed = {
        "surface9.py": [
            (
                'tenth * _money("p_retailprice") * _money("l_quantity")',
                "all three factors are DECIMAL (_money casts, tenth is "
                "DECIMAL(3,1)) — per-row product stays decimal",
            ),
            (
                '_money("l_extendedprice") * _money("l_discount")',
                "Q6 revenue: both factors DECIMAL(12,2) via _money — "
                "the sum accumulates in Spark/DuckDB decimal",
            ),
        ],
        "surface23.py": [
            (
                "F.sum(q * ",
                "corr-matrix moments: q/p/d are cast decimal(12,2) at "
                "surface23.py:72-74, so every product/sum is decimal",
            ),
            ("F.sum(p * ", "same decimal(12,2) upstream cast"),
            ("F.sum(d * ", "same decimal(12,2) upstream cast"),
        ],
        "surface28.py": [
            (
                "F.sum(diff * diff)",
                "centroid distance: groups are one vector x label = 64 "
                "dims; |diff| <= 2e6 micro -> sum <= 64*4e12 ~ 2.6e14",
            ),
        ],
        "surface31.py": [
            (
                "F.sum(F.col(\"x\") * ",
                "Zipf fit is over rank <= _ZIPF_TOPK only (documented "
                "at surface31.py:226-228): x <= ln(K)*1e6, y <= "
                "ln(freq)*1e6 ~ 4e7 -> Sxy <= K*4e14, K-bounded",
            ),
        ],
        "surface39.py": [
            (
                "F.sum(diff * diff)",
                "k-means d2: per-(vec,label,centroid) group is 64 dims "
                "of micro components — same 2.6e14 bound as surface28",
            ),
        ],
        "surface56.py": [
            (
                "(fr * fr).sum()",
                "audio frame energy: numpy int64 over one _FRAME-sized "
                "frame of byte-derived samples (<= 255^2 per sample)",
            ),
        ],
        "surface59.py": [
            (
                "sum(share_ppm * share_ppm)",
                "HHI: shares sum to 1e6 per nation by construction, so "
                "sum(share^2) <= 1e12 regardless of supplier count",
            ),
        ],
        "surface62.py": [
            (
                'F.sum(F.col("dx") * F.col("dy"))',
                "assortativity on the part co-order graph: degree is "
                "bounded by the FIXED TPC-H lines-per-part x "
                "lines-per-order ratio (~180 at any SF), so "
                "dx*dy <= ~3e4 per edge",
            ),
            (
                'F.sum(F.col("dx") * F.col("dx"))',
                "same fixed-ratio degree bound",
            ),
            (
                'F.sum(F.col("dy") * F.col("dy"))',
                "same fixed-ratio degree bound",
            ),
        ],
        "surface65.py": [
            (
                "F.sum(cents * qty)",
                "VWAP running sum: cents*qty <= 5e8/row and rows per "
                "partkey is the FIXED ~30 lineitem/part TPC-H ratio at "
                "any SF -> cumulative <= ~1.5e10",
            ),
        ],
        "surface80.py": [
            (
                'F.sum(F.col("x") * F.col("x"))',
                "burstiness: x = occurrences of ONE word in ONE doc "
                "(doc-length bounded, typically <= 1e2) -> sum_x2 <= "
                "doc_freq*1e4; the scale-growing d_total*sum_x2 cross "
                "term already runs in DECIMAL(38,0) (surface80.py:199+)",
            ),
        ],
        "surface82.py": [
            (
                'F.sum(F.col("d") * F.col("d"))',
                "pre/post delta per user is bounded by one user's "
                "monthly activity (~1e3) -> sum_d2 <= n_users*1e6",
            ),
        ],
        "surface84.py": [
            (
                'F.sum(F.col("in_train") * F.col("in_test"))',
                "both factors are 0/1 flags — the product is a boolean "
                "AND, sum <= n_users",
            ),
        ],
        "surface34.py": [
            (
                'F.col("x") * F.col("x")',
                "x is cast decimal(38,0) at build (surface34.py:288); "
                "x^4 <= (1e7)^4 = 1e28 < 10^38 at |value| <= 1e5",
            ),
            (
                "mean * mean",
                "mean/s2/s3/s4 are all .cast('double') ratios — the "
                "moment algebra runs in floating point by construction",
            ),
        ],
        "surface49.py": [
            (
                'F.lit(5) * F.col("qty") * F.col("n_lines")',
                "qty <= 50 (TPC-H l_quantity) and n_lines is lines per "
                "partkey, a fixed ~30-row ratio at any SF: product < 1e5",
            ),
        ],
        "surface75.py": [
            (
                'd("',
                "DID estimator: d() casts the first factor to "
                "decimal(38,0), so every chain runs decimal end-to-end "
                "(the r7 overflow fix itself)",
            ),
        ],
        # Spark-side expression strings
        "extensions.py": [
            (
                "2654435769",
                "Knuth multiplicative hash mix: every operand is "
                "mod-reduced below 2^31 before each product, so each "
                "product < 2^62",
            ),
        ],
        "surface30.py": [
            (
                "2654435769",
                "same mod-reduced hash mix as extensions.py (< 2^62 per "
                "step)",
            ),
        ],
        "surface41.py": [
            (
                "idf_fp * 22 * avgdl * tf",
                "BM25 fixpoint: idf_fp <= ln(N)*1e6 (~26e6 at 100 TB), "
                "avgdl/dl/tf are per-doc stats independent of corpus "
                "size (<= ~1e4): product < 6e16",
            ),
        ],
        "surface43.py": [
            (
                "(n*v - s) * (n*v - s)",
                "exact-integer z^2 form, valid for n <= ~3000 rows per "
                "stats group; bound documented in the docstring with "
                "the production alternative (pre-center or doubles)",
            ),
            (
                'F.sum(F.col("v") * F.col("v"))',
                "same query's per-dim sum-of-squares: covered by the "
                "SAME documented n <= ~3000-per-group validity bound "
                "(docstring, surface43.py:211-216)",
            ),
            (
                'F.sum(F.col("tf") * fix)',
                "per-doc surprisal: tf <= doc tokens (~1e4), fix <= "
                "ln(corpus)*1e6 (~4e7) -> per-doc sum <= 4e11, "
                "doc-length-bounded at any corpus size",
            ),
        ],
        "surface85.py": [
            (
                "1000 * ((1000 * w)",
                "the two-stage x1000 apportionment identity (r6 ADVICE "
                "fix): each staged product is 1000*quotient or "
                "1000*remainder with remainder < t, so every term < "
                "1000*sum(w) — one decimal order above the cents sum",
            ),
        ],
    }
    const_name = re.compile(r"_?[A-Z][A-Z0-9_]*$")
    float_marker = re.compile(r'\d\.\d|\de-?\d|"double"')
    # single slash = true division -> double result in pyspark Columns
    true_div = re.compile(r"(?<!/)/(?!/)")
    decimal_marker = re.compile(r"decimal\s*\(\s*38|HUGEINT", re.I)
    # >=3 multiplicative factors inside an expression string
    str_chain = re.compile(r"([\w\]\)\"\']+\s*\*\s*){2,}[\w\(\"\'-]")
    # 2-factor products of two AGGREGATES (sum/count on both sides) —
    # the event_did / Spearman class: each factor alone grows with data
    # scale, so the product is quadratic+ even with only two factors
    agg_call = re.compile(r"\b(F\.sum|F\.count|sum|count)\s*\(")
    # one balanced arg with AT MOST one nesting level — [^)]* alone would
    # let sum(abs(x)) * count(*) hide behind the inner ')'
    _arg = r"(?:[^()]|\([^()]*\))*"
    str_agg_pair = re.compile(
        rf"(sum|count)\s*\({_arg}\)\s*\*\s*(\w+\s*\*\s*)*(sum|count)\s*\(",
        re.I,
    )
    # sums OF products — Σ(a·b) accumulates a quadratic-ish term into the
    # aggregation buffer even when a and b are per-row values (the Σx²
    # class: squared cents ~1e14/row kill an int64 sum at ~90k rows);
    # factors may be bare names OR one-level calls (abs(x), coalesce(x,0))
    _factor = r"(?:[\w.\"\']+(?:\([^()]*\))?)"
    str_sum_prod = re.compile(
        rf"\bsum\s*\(\s*{_factor}\s*\*\s*{_factor}\s*\)", re.I
    )

    def flatten_mult(node):
        if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Mult):
            out = []
            for side in (node.left, node.right):
                sub = flatten_mult(side)
                out.extend(sub if sub else [side])
            return out
        return None

    def is_const_factor(node) -> bool:
        if isinstance(node, ast.Constant):
            return True
        if isinstance(node, ast.UnaryOp) and isinstance(node.operand, ast.Constant):
            return True
        return isinstance(node, ast.Name) and bool(const_name.match(node.id))

    def allowlisted(name: str, seg: str) -> bool:
        return any(sub in seg for sub, _bound in allowed.get(name, []))

    def float_in_head(chain_text: str) -> bool:
        """True iff a float marker / true division appears within the
        FIRST TWO factors of a ``*`` chain.  `*` is left-associative, so
        a float there makes every sub-product double; a float entering
        later (a*b*1e6) does NOT rescue the integer sub-product a*b,
        which Spark evaluates long*long first."""
        head = chain_text.split("*", 2)[:2]
        return any(
            float_marker.search(p) or true_div.search(p) for p in head
        )

    pkg_dir = os.path.dirname(contract_pkg.__file__)
    offenders: list[str] = []
    for path in sorted(glob.glob(os.path.join(pkg_dir, "*.py"))):
        name = os.path.basename(path)
        src = open(path).read()
        tree = ast.parse(src)
        docstrings = set()
        for node in ast.walk(tree):
            if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                body = getattr(node, "body", [])
                if body and isinstance(body[0], ast.Expr) and isinstance(
                    body[0].value, ast.Constant
                ):
                    docstrings.add(id(body[0].value))
        seen = set()
        for node in ast.walk(tree):
            # -- Python-level * chains --
            factors = flatten_mult(node)
            if factors and len(factors) >= 3 and node.lineno not in seen:
                seen.add(node.lineno)
                seg = ast.get_source_segment(src, node) or ""
                flat = " ".join(seg.split())
                if all(is_const_factor(f) for f in factors):
                    continue  # compile-time constant
                # float exemption by PREFIX, not whole-chain: `*` is
                # left-assoc, so a trailing float factor (a*b*1e6) does
                # not rescue the integer sub-product a*b — only a float
                # within the first two factors makes every sub-product
                # double.  An integer prefix of exactly 2 is the plain
                # 2-factor class (not flagged here; the agg·agg rule
                # below sees the sub-BinOp via ast.walk).
                int_prefix = 0
                for f in factors:
                    fs = ast.get_source_segment(src, f) or ""
                    if float_marker.search(fs) or true_div.search(fs):
                        break
                    int_prefix += 1
                if int_prefix < 3:
                    continue
                if decimal_marker.search(flat):
                    continue  # already decimal-typed
                if allowlisted(name, flat):
                    continue
                offenders.append(f"{name}:{node.lineno}: {flat[:90]}")
            # -- 2-factor agg*agg products (Python Column exprs) --
            if (
                isinstance(node, ast.BinOp)
                and isinstance(node.op, ast.Mult)
                and not flatten_mult(node.left)
                and not flatten_mult(node.right)
            ):
                seg = " ".join((ast.get_source_segment(src, node) or "").split())
                lseg = ast.get_source_segment(src, node.left) or ""
                rseg = ast.get_source_segment(src, node.right) or ""
                if (
                    agg_call.search(lseg)
                    and agg_call.search(rseg)
                    and not float_marker.search(seg)
                    and not true_div.search(seg)
                    and not decimal_marker.search(seg)
                    and not allowlisted(name, seg)
                    and (name, "aggpair", node.lineno) not in seen
                ):
                    seen.add((name, "aggpair", node.lineno))
                    offenders.append(f"{name}:{node.lineno}: {seg[:90]}")
            # -- Σ(a·b): F.sum over a product accumulates a quadratic
            #    term into one int64 buffer (squared cents ~1e14/row
            #    kill it at ~90k rows) --
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "sum"
                and node.args
                and isinstance(node.args[0], ast.BinOp)
                and isinstance(node.args[0].op, ast.Mult)
            ):
                seg = " ".join((ast.get_source_segment(src, node) or "").split())
                # NOTE: no whole-function decimal exemption — the sum's
                # own segment must carry the cast (F.sum((a*b).cast(DEC))
                # qualifies; .cast(DEC) applied AFTER the sum is too late
                # and stays flagged)
                if not (
                    float_marker.search(seg)
                    or true_div.search(seg)
                    or decimal_marker.search(seg)
                    or allowlisted(name, seg)
                    or (name, "sumprod", node.lineno) in seen
                ):
                    seen.add((name, "sumprod", node.lineno))
                    offenders.append(f"{name}:{node.lineno}: {seg[:90]}")
            # -- Spark-side expression strings (oracle SQL has FROM; the
            #    DuckDB side raises loudly on int64 overflow, and the
            #    sf0.1 sweep covers it — audit the Spark fragments) --
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
                and "FROM" not in node.value
            ):
                s = " ".join(node.value.split())
                # one shared scan per rule: the float exemption reads the
                # MATCH text itself (for chains, only its first two
                # factors — the left-assoc argument above), never the
                # surrounding ±40-char context, so a nearby unrelated
                # float literal cannot hide an integer product
                str_rules = (
                    ("chain", str_chain, float_in_head),
                    (
                        "sumprod",
                        str_sum_prod,
                        lambda t: bool(
                            float_marker.search(t) or true_div.search(t)
                        ),
                    ),
                    (
                        "aggpair",
                        str_agg_pair,
                        lambda t: bool(
                            float_marker.search(t) or true_div.search(t)
                        ),
                    ),
                )
                for tag, rx, float_exempts in str_rules:
                    for m in rx.finditer(s):
                        frag = s[max(0, m.start() - 40) : m.end() + 40]
                        key = (name, node.lineno, tag, m.start())
                        if key in seen:
                            continue
                        seen.add(key)
                        if decimal_marker.search(s):
                            break
                        if float_exempts(m.group(0)):
                            continue
                        if allowlisted(name, s):
                            break
                        offenders.append(
                            f"{name}:{node.lineno}: ...{frag}..."
                        )
    assert not offenders, (
        "unallowlisted >=3-factor integer product in contract code — "
        "run it in DECIMAL(38,0)/HUGEINT on BOTH engines or allowlist "
        "it with a proven scale bound (ARCHITECTURE.md int64-overflow "
        f"pattern): {offenders}"
    )


# --- LSH band self-join strategy --------------------------------------------
# Every LSH query's band self-join goes through operators.dedup
# .band_self_join, which hints SHUFFLE_HASH: the pinned band table has no
# size statistics (the planner would sort-merge it) and is corpus-sized (a
# broadcast would not survive real corpora).

_BAND_JOIN_KEYS = {
    "dedup_near_minhash": "bucket",
    "dedup_pipeline_e2e": "bucket",
    "dedup_minhash_jaccard_est": "bucket",
    "dedup_simhash_hamming": "band, nib",
    "embed_lsh_hyperplane": "band, nib",
    "embed_lsh_hyperplane_scaled": "band, bk",
    "dedup_simhash_scaled": "band, bk",
}


def _edges_of_e2e(spark, sf_dir, monkeypatch):
    """dedup_pipeline_e2e runs connected components while it is built, so
    its result plan starts after CC's pins; the band self-join lives in
    the verified edge frame handed to CC."""
    from historic_score_etl_pipeline_spark.contract.surface14 import (
        dedup_pipeline_e2e,
    )
    import historic_score_etl_pipeline_spark.operators.graph as graph

    captured = []

    class _Stop(Exception):
        pass

    def grab(edges, *args, **kwargs):
        captured.append(edges)
        raise _Stop

    monkeypatch.setattr(graph, "connected_components", grab)
    try:
        dedup_pipeline_e2e(spark, sf_dir)
    except _Stop:
        pass
    return captured[0]


def _band_join_strategies(plan: str, keys: str) -> list[str]:
    """Physical join node names whose left keys are exactly ``keys``."""
    import re

    plan = re.sub(r"#\d+L?", "", plan)
    return [
        m.group(1)
        for m in re.finditer(
            r"^\(\d+\) (\w+Join)\nLeft keys \[\d+\]: \[([^\]]*)\]", plan, re.M
        )
        if m.group(2) == keys
    ]


def test_lsh_band_self_joins_plan_as_shuffled_hash(spark, sf_oracle, monkeypatch):
    from historic_score_etl_pipeline_spark import contract

    qs = contract.queries()
    strategies = {}
    for name, keys in _BAND_JOIN_KEYS.items():
        if name == "dedup_pipeline_e2e":
            df = _edges_of_e2e(spark, sf_oracle, monkeypatch)
        else:
            df = qs[name](spark, sf_oracle)
        strategies[name] = _band_join_strategies(_plan(df), keys)
    assert strategies == {
        name: ["ShuffledHashJoin"] for name in _BAND_JOIN_KEYS
    }, strategies


def test_lloyd_round_is_a_fixed_plan(spark, sf_oracle):
    """One Lloyd round plans the same nodes at k=4 and k=16, and the
    centroids reach the kernel as an argument, never as an array literal
    of doubles in the plan (1,024 of them at k=16, d=64)."""
    import re

    from historic_score_etl_pipeline_spark.operators.similarity import (
        _features,
        _lloyd_step,
    )
    from historic_score_etl_pipeline_spark.sources.catalog import load_table

    feats = _features(load_table(spark, sf_oracle, "embeddings"), "vec_id", "embedding")
    vecs = [r["vec"] for r in feats.orderBy("vec_id").limit(16).collect()]
    plans = {k: _plan(_lloyd_step(feats, vecs[:k])) for k in (4, 16)}
    nodes = {k: re.findall(r"^\(\d+\) (.+?)$", p, re.M) for k, p in plans.items()}
    assert nodes[4] == nodes[16] and "MapInArrow" in " ".join(nodes[4]), nodes
    for p in plans.values():
        # a folded literal prints as [[-0.0104..., ...]], an unfolded one as array(...)
        assert not re.search(r"(array\(|\[)\[?-?\d+\.\d", p), p


def test_semantic_dedup_job_budget(spark, sf_oracle):
    """semantic_dedup(iters=2) runs at most iters + 5 Spark jobs, counted
    in the status store: the initial centroids, one job per Lloyd round
    and the per-cluster pruning, whatever k is."""
    from historic_score_etl_pipeline_spark.operators import pins
    from historic_score_etl_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )
    from historic_score_etl_pipeline_spark.sources.catalog import load_table

    store = spark.sparkContext._jsc.sc().statusStore()
    emb = load_table(spark, sf_oracle, "embeddings")
    iters = 2
    n0 = store.jobsList(None).size()
    rows = semantic_dedup(emb, "vec_id", k=16, iters=iters, threshold=0.35).collect()
    jobs = store.jobsList(None).size() - n0
    pins.release_pins()
    assert len(rows) == 500
    assert jobs <= iters + 5, jobs
