"""Plan-quality regression tests — the physical plans, not just the answers.

At 100 TB a correct-but-mis-planned query is a failure. These tests pin the
plan properties that matter at scale so a refactor can't silently regress
them: filter/column pushdown into the parquet scan, broadcast joins for
dimensions, single-shuffle aggregations, and TakeOrderedAndProject (not
global sort) for top-k. The registry-wide rules (no cartesian product,
per-query build-action budgets) run in ``test_oracle_parity``'s sweep,
which builds each query once.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from udacitydatawarehouseprj_spark import queries as Q


def plan_of(spark, sf_dir, name: str) -> str:
    df = Q.queries()[name](spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def count_exchanges(plan: str) -> int:
    # shuffle exchanges only; broadcast exchanges are free-ish by design
    return len(re.findall(r"\bExchange hashpartitioning", plan)) + len(
        re.findall(r"\(\d+\) Exchange\b", plan)
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_eq")
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)" in plan
    # column pruning: value/user_id/event_id/event_type only, not props/ts
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "props" not in m.group(1)


def test_projection_prunes_scan_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "projection_rename")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_linenumber", "l_quantity",
                    "l_extendedprice", "l_discount"}


def test_star_join_is_all_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "star_join_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 3  # dims never shuffle the fact
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "topk_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_anti_join_is_native(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_anti")
    assert "LeftAnti" in plan


def test_flagship_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "flagship_hourly_activity")
    assert count_exchanges(plan) <= 1
    assert "HashAggregate" in plan  # partial+final hash agg, no sort-agg


def test_fingerprint_is_pure_projection(spark, sf_dir):
    """The rolling fingerprint is a per-row fold — an explode+groupBy
    formulation would shuffle one row per CHARACTER. The only allowed
    exchange is the session.spread repartition of the small-file input
    (rows, not characters), which exists purely for core utilization."""
    plan = plan_of(spark, sf_dir, "doc_fingerprint_rolling")
    assert count_exchanges(plan) <= 1
    assert "Generate explode" not in plan
    assert "HashAggregate" not in plan  # no per-character aggregation


def test_whole_stage_codegen_on_relational_path(spark, sf_dir):
    # formatted explain marks codegen stages as "[codegen id : N]"; plans
    # wrapped in a not-yet-final AdaptiveSparkPlan don't carry IDs until
    # execution, so AQE-shuffling queries are asserted via test below
    for name in ["filter_eq", "projection_rename", "string_functions_suite"]:
        plan = plan_of(spark, sf_dir, name)
        assert "codegen id" in plan, name


def test_aggregates_have_map_side_combine(spark, sf_dir):
    """Every shuffled aggregation must plan partial aggregation before the
    exchange (the decimal accumulators stay fixed-width, so partials are
    always worth it)."""
    import re as _re

    for name in ["tpch_q1_pricing_summary", "flagship_hourly_activity",
                 "agg_groupby_count", "star_join_region_revenue"]:
        df = Q.queries()[name](spark, sf_dir)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
        plan = df._jdf.queryExecution().explainString(mode)
        assert _re.search(r"partial_(sum|count)", plan), name


def test_star_join_correct_without_broadcast(spark, sf_dir):
    """Plan independence: disabling broadcast (AQE falls back to shuffle
    joins) must not change any value — the determinism rules hold under
    arbitrary physical plans."""
    name = "star_join_region_revenue"
    baseline = {tuple(r) for r in Q.queries()[name](spark, sf_dir).collect()}
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        no_bcast = {tuple(r) for r in Q.queries()[name](spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert no_bcast == baseline


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout (the other half of the Redshift
    distkey story): write partitioned by a column, read with a filter on
    it, and assert the scan prunes partitions instead of reading all."""
    from udacitydatawarehouseprj_spark import session as S

    out = str(tmp_path / "li_parted")
    li = S.load_table(spark, sf_dir, "lineitem")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    df = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "l_returnflag" in m.group(1)
    # pruning is real: only the matching partition's rows are read
    r_rows = li.filter(F.col("l_returnflag") == "R").count()
    assert df.count() == r_rows


def test_tpch_q5_broadcasts_dims_and_pushes_date_filter(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q5_local_supplier_volume")
    # nation + region (and typically supplier/customer via AQE) broadcast;
    # the lineitem<->orders join is the only allowed big shuffle
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # date range pushed to the orders parquet scan
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(o_orderdate", plan)


def test_tpch_q10_topk_and_pushdown(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert re.search(r"PushedFilters:.*EqualTo\(l_returnflag,R\)", plan)


def test_merge_upsert_is_single_key_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "merge_upsert_customers")
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan or "full_outer" in plan.lower()


def test_pivot_is_single_pass(spark, sf_dir):
    """Explicit pivot values -> no distinct-values pre-job and one shuffle."""
    plan = plan_of(spark, sf_dir, "pivot_event_type_daily")
    assert count_exchanges(plan) <= 1


def test_pivot_api_matches_conditional_agg(spark, sf_dir):
    """DataFrame.pivot() returns the same relation as the registered
    conditional-aggregation form (which uses half the shuffles)."""
    from udacitydatawarehouseprj_spark import session as S

    ev = S.load_table(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    via_pivot = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day_b"))
        .pivot("event_type", kinds)
        .count()
        .select("day_b", *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds])
    )
    registered = Q.queries()["pivot_event_type_daily"](spark, sf_dir)
    assert {tuple(r) for r in via_pivot.collect()} == {
        tuple(r) for r in registered.collect()
    }


def test_q6_all_predicates_push_to_scan(spark, sf_dir):
    """TPC-H Q6 is the pushdown probe: every filter (shipdate range,
    discount band, quantity cap) must reach the parquet scan, and the
    scan must read only the four touched columns."""
    plan = plan_of(spark, sf_dir, "tpch_q6_forecast_revenue")
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_q19_disjunction_pushes_to_part_scan(spark, sf_dir):
    """The brand/size OR-of-ANDs must reach the part scan (Catalyst
    extracts the per-table disjunction) — not evaluate post-join."""
    plan = plan_of(spark, sf_dir, "tpch_q19_disjunctive_revenue")
    assert re.search(r"PushedFilters: \[[^\]]*Or\(.*p_brand", plan) or (
        "Brand#1" in plan and plan.index("Brand#1") < plan.index("BroadcastHashJoin")
    )
    assert "CartesianProduct" not in plan


def test_q7_nations_broadcast_fact_shuffles_once_per_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q7_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 2  # both nation copies
    assert "CartesianProduct" not in plan


def test_corpus_clean_single_shuffle(spark, sf_dir):
    """Quality gate + exact dedup must fuse into scan → one window
    shuffle: the filters are map-side, the dedup window is the only
    exchange."""
    plan = plan_of(spark, sf_dir, "corpus_clean_pipeline")
    assert count_exchanges(plan) == 1, plan


def test_zorder_key_is_scan_side(spark, sf_dir):
    """The Z-key is pure projection arithmetic — no exchange at all."""
    plan = plan_of(spark, sf_dir, "zorder_key_orders")
    assert count_exchanges(plan) == 0, plan


def test_q2_min_cost_broadcasts_dims_topk_no_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q2_min_cost_supplier")
    # supplier/nation/region/part never shuffle the part-supplier relation
    assert plan.count("BroadcastHashJoin") >= 4
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_q9_only_big_joins_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q9_product_profit")
    # part/supplier/nation broadcast; lineitem↔partsupp and
    # lineitem↔orders are the only shuffle-joins
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    # the p_name LIKE filter prunes the part scan, not post-join
    assert re.search(r"PushedFilters:.*StringContains\(p_name,bolt\)", plan) or \
        re.search(r"Contains\(p_name, bolt\)", plan)


def test_q11_total_broadcasts_back(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q11_important_stock")
    # the 1-row grand total joins back as a broadcast, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q16_exclusion_is_broadcast_anti(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q16_supplier_part_count")
    assert re.search(r"BroadcastHashJoin.*LeftAnti", plan)
    # part filters push to the part scan
    assert re.search(r"PushedFilters:.*Not\(EqualTo\(p_brand,Brand#17\)\)", plan)


def test_q20_semi_joins_and_exchange_reuse(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q20_promotion_candidates")
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan


def test_chunking_is_shuffle_free(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "chunk_documents_windows")
    assert count_exchanges(plan) == 0
    assert "Generate" in plan and "explode(sequence" in plan


def test_weighted_sample_is_takeordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "weighted_sample_chars")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_quantize_is_pure_projection(spark, sf_dir):
    """Quantization itself is a pure projection: no Python boundary, no
    shuffle beyond the one session.spread repartition added in round 13
    (parallelizes the per-row array folds on a single-file input; a
    no-op when the input already arrives parallel)."""
    plan = plan_of(spark, sf_dir, "embedding_quantize_int8")
    assert count_exchanges(plan) <= 1
    assert "rangepartitioning" not in plan  # no global sort snuck in
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_window_suite_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "window_functions_suite")
    # nine window functions, one spec → exactly one hash exchange + sort
    assert count_exchanges(plan) == 1


def test_unpivot_is_single_scan_expand(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "unpivot_lineitem_measures")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Expand" in plan
    assert "Union" not in plan


def test_partsupp_reads_bucketed_table(spark, sf_dir):
    """Q11 must scan the persisted bucketed partsupp (SelectedBucketsCount
    in the scan) and run its per-part aggregation with NO hash-exchange
    between the bucketed scan and the agg — the pay-the-layout-shuffle-
    once contract of queries._partsupp."""
    Q._partsupp(spark, sf_dir)  # materialize (idempotent per session)
    plan = plan_of(spark, sf_dir, "tpch_q11_important_stock")
    assert "SelectedBucketsCount" in plan
    # the only hash exchange allowed is the 1-row total broadcast's input
    # coalesce; per-part agg must ride the bucket partitioning
    scan_to_agg = plan.split("HashAggregate")[0]
    assert "Exchange hashpartitioning(ps_partkey" not in scan_to_agg


def test_mix_sources_distributed_cumsum(spark, sf_dir):
    """The per-source cumulative sum must be the TWO-PASS distributed
    prefix sum, not a window partitioned on the ~5-value source column
    (which sorts each source's entire corpus in ONE partition at scale).
    """
    plan = plan_of(spark, sf_dir, "mix_sources_weighted")
    # the data-bearing window's exchange partitions on (source, _blk) —
    # sources × 64 ordered hash blocks, each a bounded slice of a source
    assert re.search(r"hashpartitioning\(source#\d+, _blk#\d+L?, \d+\)", plan)
    # exactly two windows: the block-local cumsum over the full relation
    # and the prefix-offset pass over the aggregated sources×blocks
    # relation (tiny — its input is partial-aggregated before it moves)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    # offsets / total / Σw / per-source weights all reach the keep-filter
    # as broadcasts; nothing re-shuffles the base relation after the
    # local-cumsum window
    assert "BroadcastExchange" in plan


def test_span_dedup_map_side_combining_first_occurrence(spark, sf_dir):
    """First-occurrence per span must be a partial-aggregating
    groupBy+min(struct), NOT a row_number window on span_text: a
    boilerplate span repeated in millions of docs would land every copy
    in one window partition, while partial min collapses it to one
    candidate per input partition before the shuffle."""
    plan = plan_of(spark, sf_dir, "span_dedup_global")
    assert "CartesianProduct" not in plan
    assert re.search(r"partial_min\(_first", plan) or "partial_min" in plan
    # no window anywhere — reassembly is array_sort(collect_list), and
    # the hot-key row_number form must not come back
    assert not re.search(r"\(\d+\) Window", plan)


def test_quality_filter_distributed_percent_rank(spark, sf_dir):
    """percent_rank per language must not sort a whole language in one
    partition: the data-bearing window partitions on (lang, score-block);
    the lang-alone window runs over the aggregated langs×64 counts."""
    plan = plan_of(spark, sf_dir, "quality_filter_top_pct")
    assert re.search(r"hashpartitioning\(lang#\d+, _blk#\d+, \d+\)", plan)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    assert "BroadcastExchange" in plan
    assert "percent_rank" not in plan  # closed-form rank arithmetic


def test_length_bucket_no_global_data_window(spark, sf_dir):
    """The global ntile/row_number of the naive form put the whole corpus
    in ONE sort partition; the rewrite's data-bearing window partitions
    on the length block, ntile collapses to closed-form arithmetic, and
    the only partition-less window runs over the aggregated block
    counts."""
    plan = plan_of(spark, sf_dir, "length_bucket_batches")
    assert re.search(r"hashpartitioning\(_blk#\d+L?, \d+\)", plan)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    assert "ntile" not in plan
    assert "BroadcastExchange" in plan


def test_source_cap_distributed_rank(spark, sf_dir):
    """The per-source cap rank must use the two-pass distributed rank —
    data window on (source, length-block), never on source alone."""
    plan = plan_of(spark, sf_dir, "source_cap_topn")
    assert re.search(r"hashpartitioning\(source#\d+, _blk#\d+L?, \d+\)", plan)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    assert "BroadcastExchange" in plan


def test_contamination_probe_is_broadcast(spark, sf_dir):
    """Eval 5-gram set must reach the train-side probe as a broadcast —
    a shuffle join on gram strings defeats the small-eval-set design."""
    plan = plan_of(spark, sf_dir, "contamination_fraction")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_funnel_reuses_user_exchange(spark, sf_dir):
    """Both aggregation/join stages hash on user_id; no cartesian and no
    extra full-relation exchange beyond the user-key shuffles + the
    day rollup of per-user rows."""
    plan = plan_of(spark, sf_dir, "funnel_signup_purchase")
    assert "CartesianProduct" not in plan
    # events scans push the event_type filter down
    assert "event_type" in plan and "PushedFilters" in plan


def test_bloom_decontaminate_broadcasts_filter(spark, sf_dir):
    """The 2048-word bloom relation must reach the probe as a broadcast —
    a shuffle join here would defeat the sketch's purpose."""
    plan = plan_of(spark, sf_dir, "decontaminate_bloom")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_curriculum_distributed_rank(spark, sf_dir):
    """The global curriculum rank must be the two-pass distributed rank —
    the data-bearing window partitions on the n_chars block; the only
    partition-less window runs over the tiny block-counts relation."""
    plan = plan_of(spark, sf_dir, "curriculum_order_shards")
    assert re.search(r"hashpartitioning\(_blk#\d+L?, \d+\)", plan)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    assert "BroadcastExchange" in plan


def test_reservoir_sample_distributed_rank(spark, sf_dir):
    """k-per-lang sampling must never window on the ~5-value lang key
    alone — the data window partitions on (lang, hash-block)."""
    plan = plan_of(spark, sf_dir, "reservoir_sample_per_group")
    assert re.search(r"hashpartitioning\(lang#\d+, _blk#\d+L?, \d+\)", plan)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    assert "BroadcastExchange" in plan


def test_random_projection_pure_map(spark, sf_dir):
    """The JL projection is a per-row map: no exchange (beyond the
    small-file spread), no window, no join, no Python evaluator."""
    plan = plan_of(spark, sf_dir, "random_projection_embeddings")
    assert "Window" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_dsir_weight_table_broadcasts(spark, sf_dir):
    """The DSIR weight table is bounded at B=4096 rows by construction
    and must reach the per-doc join as a broadcast; the corpus-side
    relation shuffles once on the doc key."""
    plan = plan_of(spark, sf_dir, "dsir_importance_weights")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_normalize_nfc_single_python_pass(spark, sf_dir):
    """NFC canonicalization is ONE Arrow-batched Python stage and zero
    shuffles (hash/length run JVM-side on the UDF output)."""
    plan = plan_of(spark, sf_dir, "text_normalize_nfc")
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    assert "Exchange hashpartitioning" not in plan


def test_partitioned_ingest_readback_prunes(spark, sf_dir):
    """partitioned_ingest_pruned's readback must resolve the 3-day
    predicate against the partition COLUMN (directory pruning at
    file-listing time), not as a post-scan data filter."""
    plan = plan_of(spark, sf_dir, "partitioned_ingest_pruned")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_date" in m.group(1)


def test_exact_substring_dup_detection_combines_map_side(spark, sf_dir):
    """dedup_exact_substring's duplicate-tile detection must plan a
    partial count before the shuffle — a boilerplate tile repeated in
    millions of documents combines per-partition instead of landing
    every occurrence on one reducer (the span_dedup_global lesson)."""
    df = Q.queries()["dedup_exact_substring"](spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert re.search(r"partial_count", plan)
    # the island merge windows on doc_id only — never the tile content
    assert not re.search(r"windowspecdefinition\(tile", plan)


def test_char_entropy_zero_shuffle(spark, sf_dir):
    """text_char_entropy is a pure per-row expression chain — the whole
    100 TB entropy pass must plan with NO exchange (the explode+groupBy
    formulation that shuffles one row per character is the oracle, not
    the engine path). The only allowed exchange is the session.spread
    small-file repartition (rows, not characters)."""
    plan = plan_of(spark, sf_dir, "text_char_entropy")
    assert count_exchanges(plan) <= 1
    assert "Generate explode" not in plan
    assert "HashAggregate" not in plan


# --- round-4 wave 5/6 plan shapes -------------------------------------


def test_linreg_single_shuffle(spark, sf_dir):
    """Grouped OLS is one map-side-combining aggregation over lineitem —
    any second data shuffle means the moment math left the agg."""
    plan = plan_of(spark, sf_dir, "linreg_by_group")
    assert count_exchanges(plan) == 1
    assert "HashAggregate" in plan


def test_transition_matrix_single_scan(spark, sf_dir):
    """The probability normalization is a window over the aggregated
    |event_types|² matrix — the events table is scanned exactly once
    (a totals join would re-execute the scan→lag→count pipeline)."""
    plan = plan_of(spark, sf_dir, "event_transition_matrix")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    # two windows: the per-user LAG and the tiny normalization sum
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2


def test_mad_filter_broadcasts_medians(spark, sf_dir):
    """Both per-group median relations come back as broadcast joins —
    the fact stream shuffles only for the grouped aggregations."""
    plan = plan_of(spark, sf_dir, "mad_outlier_filter")
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2
    assert "CartesianProduct" not in plan


def test_grouped_topk_salted_two_windows(spark, sf_dir):
    """The salted top-k is exactly two window passes; the first
    partitions on (group, salt) so no hot group sorts in one task."""
    plan = plan_of(spark, sf_dir, "grouped_topk_salted")
    wins = re.findall(r"\(\d+\) Window\b", plan)
    assert len(wins) == 2
    assert "_salt" in plan
    # both passes get Spark's rank-limit pushdown: each map partition
    # prunes to k rows per (group[, salt]) BEFORE its shuffle
    assert len(re.findall(r"\(\d+\) WindowGroupLimit", plan)) >= 2


def test_bootstrap_no_shuffle_before_agg(spark, sf_dir):
    """The ×16 replicate explode is a generator inside the scan stage;
    the only shuffle is the 16-group aggregation."""
    plan = plan_of(spark, sf_dir, "bootstrap_ci_mean")
    assert "Generate explode" in plan or "Generate" in plan
    assert count_exchanges(plan) == 1


def test_histogram_sketch_windows_on_aggregated_relation(spark, sf_dir):
    """The prefix-sum windows run on the (group × bin) histogram — the
    fact stream sees one aggregation; bounds and quantile probes arrive
    broadcast."""
    plan = plan_of(spark, sf_dir, "histogram_quantile_sketch")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the raw events relation shuffles once (into the histogram agg)
    assert "CartesianProduct" not in plan


def test_variant_shred_single_aggregation(spark, sf_dir):
    # 2 exchanges: the exact COUNT(DISTINCT event_type) expands into the
    # standard two-phase distinct aggregation; the variant decode itself
    # is map-side inside the scan stage
    plan = plan_of(spark, sf_dir, "json_variant_shred")
    assert count_exchanges(plan) == 2
    assert "parse_json" in plan or "variant_get" in plan


def test_cross_source_overlap_broadcasts_dims(spark, sf_dir):
    """Both (doc_id, source) label joins broadcast the slim projection —
    the pair relation is never shuffled for labeling."""
    plan = plan_of(spark, sf_dir, "cross_source_overlap")
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2


def test_dpp_partitioned_join_prunes_dynamically(spark, sf_dir):
    """The fact scan must carry a dynamicpruning partition filter —
    runtime partition pruning driven by the dim side, not a literal."""
    plan = plan_of(spark, sf_dir, "dpp_partitioned_join")
    assert "dynamicpruning" in plan.lower()
    assert "PartitionFilters" in plan


def test_array_hof_suite_zero_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "array_hof_suite")
    assert count_exchanges(plan) == 0


def test_map_suite_two_aggregations(spark, sf_dir):
    # (user, type) counts then per-user map build — two shuffles, no more
    plan = plan_of(spark, sf_dir, "map_functions_suite")
    assert count_exchanges(plan) == 2
    assert "map_from_entries" in plan


def test_lateral_join_decorrelates(spark, sf_dir):
    """The correlated LATERAL subquery must decorrelate into a single
    join + per-key rank — never a per-outer-row re-execution or a
    cartesian product."""
    plan = plan_of(spark, sf_dir, "lateral_join_top_lineitems")
    assert "CartesianProduct" not in plan
    assert re.search(r"\(\d+\) \w*Join", plan)
    assert len(re.findall(r"\(\d+\) Window\b", plan)) >= 1


def test_sketch_profile_has_no_expand(spark, sf_dir):
    """The production sketch profile must stay Expand-free (the 102 s
    lesson at sf1: HLL buffers + DISTINCT columns in one aggregate push
    every expanded row through the sketch merge). The oracled invariant
    form may Expand only in its separate exact pass."""
    df = Q.profile_table_stats_approx_only(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "Expand" not in plan
    # single scan (formatted mode names each scan twice: tree + detail),
    # no shuffle beyond the partial/final aggregate exchange
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_dim_users_build_single_shuffle_distinct(spark, sf_dir):
    """Q3 dim_users is one DISTINCT: exactly one hash-aggregate shuffle,
    map-side combined, no join, no window."""
    plan = plan_of(spark, sf_dir, "dim_users_build")
    assert count_exchanges(plan) == 1
    assert "Join" not in plan and "Window" not in plan


def test_collect_guarded_blas_paths_unchanged(spark, sf_dir):
    """The DRIVER_COLLECT_CAP guard must not alter the BLAS query plans
    (the limit-probe happens driver-side before the mapInPandas plan is
    built)."""
    plan = plan_of(spark, sf_dir, "embedding_near_dup_bcast")
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()
    assert "CartesianProduct" not in plan


def test_bloom_prefilter_probes_are_scan_side(spark, sf_dir):
    """The semi-join reduction must stay map-side: the bitset probe is a
    pure Filter on the fact scan (element_at against the folded constant
    array — NO probe joins, no exchange before the filter), and the only
    join in the plan is the single broadcast dim join."""
    plan = plan_of(spark, sf_dir, "bloom_prefilter_join")
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1
    assert "SortMergeJoin" not in plan
    assert "element_at" in plan  # the literal-bitset probe
    # the selective dim predicate is pushed into the orders scan
    assert re.search(r"PushedFilters:.*GreaterThan\(o_totalprice", plan)


def test_skyline_windows_stay_blocked(spark, sf_dir):
    """The prefix-min sweep must not sort the raw subset globally: the
    only unpartitioned window runs over the per-block relation (bounded
    by the price domain / 10k), and the per-price window partitions by
    block."""
    plan = plan_of(spark, sf_dir, "skyline_orders_pareto")
    assert "CartesianProduct" not in plan
    # both window specs present: block-partitioned and block-relation
    assert len(re.findall(r"\bWindow\b", plan)) >= 2
    assert re.search(r"partitionBy.*_blk|PartitionSpec.*_blk|_blk", plan)


def test_equidepth_uses_distributed_rank(spark, sf_dir):
    """Bucketing must come from the two-pass block rank: broadcast
    offsets join, no single-partition window over the raw fact rows."""
    plan = plan_of(spark, sf_dir, "equidepth_value_buckets")
    assert "BroadcastHashJoin" in plan
    # the raw-row window partitions on the block column
    assert "_blk" in plan


def test_pmi_and_bm25_broadcast_the_stats_side(spark, sf_dir):
    for name in ["ngram_pmi_collocations", "bm25_topk"]:
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name


def test_label_propagation_rounds_are_equi_joins(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "label_propagation_communities")
    assert "CartesianProduct" not in plan
    # argmax via max-struct aggregation, not a per-node window sort
    assert "row_number" not in plan.lower()


def test_resample_windows_partition_by_user(spark, sf_dir):
    """Both interpolation carries must be growing frames over per-user
    partitions — no global window, no shrinking unbounded-following
    frame (which Spark evaluates quadratically per series)."""
    plan = plan_of(spark, sf_dir, "resample_interpolate_hourly")
    assert "user_id" in plan
    assert "unboundedfollowing" not in plan.lower().replace(" ", "")


def test_hopping_window_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "hopping_window_counts")
    assert count_exchanges(plan) <= 1
    assert "CartesianProduct" not in plan


def test_zipf_and_diversity_shapes(spark, sf_dir):
    # zipf: the rank window runs on the aggregated vocab relation only
    plan = plan_of(spark, sf_dir, "zipf_law_fit")
    assert "CartesianProduct" not in plan
    # diversity: per-doc aggregation, no self-joins
    plan2 = plan_of(spark, sf_dir, "distinct_ngram_diversity")
    assert "SortMergeJoin" not in plan2 or "doc_id" in plan2
    assert "CartesianProduct" not in plan2


def test_k_anonymity_two_aggregations_only(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "k_anonymity_audit")
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) <= 4  # 2 aggs x partial/final
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


# --- round-6 wave plan pins ------------------------------------------


def test_skipgram_probe_join_is_equijoin_not_theta(spark, sf_dir):
    """The skip-gram pairing must execute as an equi-join on
    (doc_id, position) — a theta-join on |i-j|<=2 would plan a
    nested-loop over every token pair (quadratic per doc)."""
    plan = plan_of(spark, sf_dir, "skipgram_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_json_malformed_recovery_is_scan_parallel(spark, sf_dir):
    """Pure per-row expressions: ZERO shuffle exchanges."""
    plan = plan_of(spark, sf_dir, "json_malformed_recovery")
    assert count_exchanges(plan) == 0
    assert "from_json" in plan


def test_fuzzy_match_joins_on_block_key(spark, sf_dir):
    """The Levenshtein filter must ride an equi-join on the blocking
    key — never a cartesian pair enumeration."""
    plan = plan_of(spark, sf_dir, "fuzzy_match_blocked_levenshtein")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan.lower()


def test_sparse_tfidf_broadcasts_df_and_norms(spark, sf_dir):
    """df table and per-doc norms are vocabulary/doc-bounded smalls —
    they must broadcast; only the postings self-join shuffles."""
    plan = plan_of(spark, sf_dir, "sparse_tfidf_allpairs")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_anomaly_profiles_broadcast_back_over_scan(spark, sf_dir):
    """The (type, hour) seasonal profile and per-type sigma are tiny
    aggregates: both enrichment joins must be broadcast — the event
    scan itself never shuffles for them."""
    plan = plan_of(spark, sf_dir, "anomaly_seasonal_residuals")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_url_canonicalize_single_aggregation_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "url_canonicalize_dedup")
    assert count_exchanges(plan) <= 1
    assert "HashAggregate" in plan  # map-side partial + final


def test_cdc_apply_single_shuffle_on_key(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "cdc_apply_changes")
    assert count_exchanges(plan) <= 1  # the window partition-by only


def test_hard_negative_pair_stream_never_shuffles(spark, sf_dir):
    """hard_negative_topk's |C|x|A| pair relation must stay map-side:
    both the anchor label AND the corpus label attach via broadcast
    (the corpus label rides along from the scan — round-6 advice: a
    plain join on neighbor_id would shuffle the full pair stream
    beyond the auto-broadcast threshold). The only shuffles allowed
    are the corpus spread (pre-pair) and the final candidate rank
    (post-MapInPandas, bounded at partitions x |A| x k rows)."""
    plan = plan_of(spark, sf_dir, "hard_negative_mining")
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning(neighbor_id" not in plan
    # pair production + label filters: broadcast joins only
    assert "BroadcastNestedLoopJoin" in plan
    assert "BroadcastHashJoin" in plan


def test_sliding_mau_grid_is_broadcast(spark, sf_dir):
    """The 7-day window fan-out joins (user, day) pairs to the
    calendar-sized days grid — that grid must broadcast; a shuffled
    range join here would move the pair relation once per report
    day."""
    plan = plan_of(spark, sf_dir, "sliding_window_distinct_users")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_negative_sampling_cdf_join_broadcast(spark, sf_dir):
    """The inverse-CDF pick joins every draw against the
    vocabulary-sized cumulative table — map-side broadcast, never a
    shuffle of the draw stream."""
    plan = plan_of(spark, sf_dir, "negative_sampling_unigram")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_chi_square_windows_over_aggregate_only(spark, sf_dir):
    """The contingency windows must sit ABOVE the HashAggregate that
    collapses the fact table to 15 cells — a window keyed on the raw
    scan would be the classic aggregate-then-window violation."""
    plan = plan_of(spark, sf_dir, "chi_square_independence")
    assert "HashAggregate" in plan and "Window" in plan
    # the window input is the 15-cell aggregate: the plan tree renders
    # consumers above producers, so the first Window line must come
    # AFTER a HashAggregate line has already appeared among its inputs
    tree = plan.splitlines()
    first_win = next(i for i, ln in enumerate(tree) if "Window" in ln)
    assert any("HashAggregate" in ln for ln in tree[first_win:])
    assert "SortMergeJoin" not in plan


def test_effect_size_join_is_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "effect_size_suite")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hill_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "hill_tail_index")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_lift_gain_rank_is_blocked_not_global(spark, sf_dir):
    # the corpus-sized rank must come from the two-pass blocked
    # machinery; only the 10-row decile relation may single-sort
    plan = plan_of(spark, sf_dir, "lift_gain_deciles")
    assert "Exchange rangepartitioning" not in plan


def test_rd_bandwidth_filter_pushed_to_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "regression_discontinuity_local")
    assert re.search(r"PushedFilters:.*c_acctbal", plan), (
        "bandwidth predicate must reach the customer parquet scan"
    )


def test_doremi_lm_model_join_is_broadcast(spark, sf_dir):
    # the trigram model joins back to doc-grams via broadcast (the
    # model is |V|³-bounded); no global sort anywhere
    plan = plan_of(spark, sf_dir, "doremi_lm_loss_reweight")
    assert "BroadcastHashJoin" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_ann_filtered_semi_join_is_broadcast(spark, sf_dir):
    # pre-filter strategy: the metadata keys broadcast into a LeftSemi
    # join that prunes the corpus BEFORE the fold dot products; no
    # corpus shuffle, no cartesian
    plan = plan_of(spark, sf_dir, "ann_filtered_topk")
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_rerank_candidates_take_ordered_no_cartesian(spark, sf_dir):
    # the rerank cascade: BM25 candidates truncate via
    # TakeOrderedAndProject (the round-10 RRF idiom) and the expensive
    # pair-scorer join is candidate-bounded — broadcast of the ≤100
    # candidate list, never a cartesian or corpus-sized shuffle
    plan = plan_of(spark, sf_dir, "rerank_cross_encoder_eval")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ann_composite_pushes_range_and_semi_joins(spark, sf_dir):
    # composite predicate shape: all three predicate atoms (equality,
    # IN, numeric range) must reach the documents parquet scan, and the
    # surviving key set must broadcast into a LeftSemi corpus prune
    plan = plan_of(spark, sf_dir, "ann_filtered_topk_composite")
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "GreaterThanOrEqual(n_chars" in plan
    assert "LessThanOrEqual(n_chars" in plan
    assert "In(source" in plan


def test_rrf_lexical_arm_is_take_ordered(spark, sf_dir):
    # round-10 truncation: the lexical arm must take its top-N via
    # TakeOrderedAndProject (map-side per-partition top-N, ≤N-row
    # merge) BEFORE any ranking window — the old shape ranked every
    # matching doc through one unpartitioned row_number task, a
    # single-task funnel for common query terms at scale
    plan = plan_of(spark, sf_dir, "rrf_hybrid_fusion")
    assert "TakeOrderedAndProject" in plan


def test_ann_batch_serving_plans(spark, sf_dir):
    # round-11 wave: serving reranks run as MapInPandas over the corpus
    # scan (queries broadcast once) — the |C|×|Q| pair relation must
    # never materialize as a join, and the only shuffle is the ≤
    # (k+1)·|Q|-row partial-candidate window
    plan = plan_of(spark, sf_dir, "ann_batch_serving_brute")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert count_exchanges(plan) <= 1
    plan_ivf = plan_of(spark, sf_dir, "ann_batch_serving_ivf")
    assert "MapInPandas" in plan_ivf
    assert "CartesianProduct" not in plan_ivf


def test_scan_ratchet_logic():
    """tools/scan_audit.py regression rule: an INCREASED per-table scan
    count is a regression (the round-13 learned-weights shape: a branch
    refactor quietly adding another corpus pass); decreases and
    brand-new queries are not."""
    import sys as _sys
    import os as _os
    _sys.path.insert(0, _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "tools"))
    import scan_audit as sa

    base = {"q": {"documents": 2}, "gone": {"events": 1}}
    new = {"q": {"documents": 3, "events": 1},   # doc scans ratcheted up
           "fresh": {"documents": 9}}            # new query: not a reg
    regs = sa.regressions(new, base)
    assert regs == [("q", "documents", 2, 3), ("q", "events", 0, 1)]
    assert sa.regressions({"q": {"documents": 1}}, base) == []

    # cached-subtree stripping: a consumer is charged its OWN FileScans
    # only — the InMemoryRelation build plan (whose print shape flaps
    # with session state) is cut, including nested caches; siblings and
    # parents at or above the relation's indent survive
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- HashAggregate",
        "   +- InMemoryTableScan [doc_id]",
        "         +- InMemoryRelation [doc_id], StorageLevel(...)",
        "               +- FileScan parquet [x] ... documents.parquet",
        "               +- InMemoryRelation [y], StorageLevel(...)",
        "                     +- FileScan parquet ... events.parquet",
        "   +- Project",
        "      +- FileScan parquet [doc_id] ... documents.parquet",
    ])
    kept = sa.strip_cached_subtrees(plan)
    assert "events.parquet" not in kept
    assert kept.count("documents.parquet") == 1
    assert "InMemoryTableScan" in kept  # the consumer-side node stays


def test_production_flagships_hold_scan_baseline(spark, sf_dir):
    """Live ratchet check over the production-path flagships (the full
    409-query sweep lives in tools/scan_audit.py — CLI, ~4 min): each
    source parquet appears in the executed plan no more often than the
    committed SCAN_BASELINE.json row. The single-scan queries here are
    pinned at 1; the BM25 family's term-filtered multi-scans are pinned
    at their deliberate counts, so a branch recompute (the
    learned-weights defect) fails this immediately."""
    import json as _json
    import sys as _sys
    import os as _os
    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    _sys.path.insert(0, _os.path.join(repo, "tools"))
    import scan_audit as sa

    baseline = _json.load(open(_os.path.join(repo, "SCAN_BASELINE.json")))
    flagships = [
        "flagship_hourly_activity", "star_join_region_revenue",
        "tpch_q1_pricing_summary", "tpch_q5_local_supplier_volume",
        "dedup_exact", "dedup_exact_prehashed", "dedup_minhash_lsh",
        "ann_cosine_topk_blas", "ann_filtered_topk", "bm25_topk",
        "rrf_hybrid_fusion", "rerank_neural_scorer_eval",
        "rerank_learned_weights_eval", "text_token_stats",
        "pack_context_windows", "sessionize_events",
    ]
    registry = Q.queries()
    counts = sa.collect_counts(
        spark, {n: registry[n] for n in flagships})
    regs = sa.regressions(counts, baseline)
    assert regs == [], f"scan-count ratchet regressions: {regs}"
    # and the relational flagships stay SINGLE-scan absolutely
    for n in ("flagship_hourly_activity", "star_join_region_revenue",
              "tpch_q1_pricing_summary", "dedup_exact",
              "ann_cosine_topk_blas", "text_token_stats"):
        assert max(counts[n].values()) == 1, (n, counts[n])
