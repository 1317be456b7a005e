"""Physical-plan invariant tests.

Correctness is the oracle harness's job; these pin the SHAPE of the
plans — the properties that decide whether a query survives a 100×
scale-up. A refactor that keeps results but regresses the plan (loses
a pushed filter, turns a broadcast join into a shuffle, doubles a
lineage) fails here, not in production.
"""

from __future__ import annotations

import importlib.util
import re
from pathlib import Path

import pytest

from omicidx_gh_etl_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].builder(spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def count_op(plan: str, op: str) -> int:
    # operator tree lines look like "+- BroadcastHashJoin (12)" etc.
    # \b{op}\b does not match inside longer operator names
    # (e.g. "Exchange" never counts "BroadcastExchange" occurrences).
    return len(re.findall(rf"\b{op}\b", plan.split("\n\n")[0]))


def count_shuffles(plan: str) -> int:
    """Plain shuffle Exchange nodes (BroadcastExchange excluded)."""
    return len(
        re.findall(r"(?<![A-Za-z])Exchange\b", plan.split("\n\n")[0])
    )


def test_scan_filter_project_pushes_down(spark):
    plan = plan_of(spark, "scan_filter_project")
    # the date-range predicate reaches the parquet reader
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters", 1)[1][:400]
    # column pruning: the scan reads only the 4 referenced columns
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    cols = {c.split(":")[0] for c in read_schema.split(",")}
    assert cols == {"l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"}


def test_mart_denormalized_all_dim_joins_broadcast(spark):
    plan = plan_of(spark, "mart_denormalized")
    tree = plan.split("\n\n")[0]
    assert count_op(tree, "BroadcastHashJoin") == 3
    assert count_op(tree, "SortMergeJoin") == 0
    # the fact side never shuffles: broadcasts are the only exchanges
    assert count_op(tree, "BroadcastExchange") == 3
    assert count_shuffles(tree) == 0


def test_join_fact_accession_filters_below_join(spark):
    plan = plan_of(spark, "join_fact_accession")
    tree = plan.split("\n\n")[0]
    # dimension-side filters applied before the join (scan-adjacent
    # Filter nodes), so the shuffled/broadcast side is pre-pruned
    assert count_op(tree, "Filter") >= 1
    assert "o_orderstatus" in plan.split("PushedFilters", 1)[1][:800]


def test_minhash_lsh_single_lineage(spark):
    plan = plan_of(spark, "dedup_minhash_lsh")
    tree = plan.split("\n\n")[0]
    # one scan of documents — the bucket-aggregate formulation; a
    # band self-join would scan (and shingle+hash) twice
    assert count_op(tree, "Scan parquet") == 1
    # signature build is a HashAggregate (BIGINT min buffers), never
    # a SortAggregate over the exploded shingle stream
    assert count_op(tree, "SortAggregate") == 0


def test_simhash_pairs_single_lineage(spark):
    tree = plan_of(spark, "dedup_simhash_pairs").split("\n\n")[0]
    assert count_op(tree, "Scan parquet") == 1


def test_ivf_assign_is_map_only_fold(spark):
    """Round-10 shape: centroids inlined as a plan literal, argmax a
    per-row fold — assignment is physically map-only: no join of any
    kind, no aggregate, no window, ZERO corpus exchanges."""
    tree = plan_of(spark, "similarity_ivf_assign").split("\n\n")[0]
    assert count_op(tree, "BroadcastNestedLoopJoin") == 0
    assert count_op(tree, "Window") == 0
    assert count_op(tree, "SortMergeJoin") == 0
    assert count_shuffles(tree) == 0
    assert count_op(tree, "SortAggregate") == 0


def test_dedup_latest_by_key_is_aggregate_not_window(spark):
    tree = plan_of(spark, "dedup_latest_by_key").split("\n\n")[0]
    assert count_op(tree, "Window") == 0
    # max(struct) buffers are immutable → SortAggregate, but the
    # partial/final split still holds: the exchange carries one row
    # per key per map partition, which is what the window form lacks
    assert count_op(tree, "SortAggregate") + count_op(tree, "HashAggregate") >= 2


@pytest.mark.parametrize(
    "name",
    ["agg_multikey_pricing", "agg_count_topk", "dedup_exact", "text_quality"],
)
def test_single_shuffle_aggregations(spark, name):
    """Group-by queries shuffle once on their grouping key (plus at
    most a TakeOrdered/limit stage) — no accidental extra exchanges."""
    tree = plan_of(spark, name).split("\n\n")[0]
    assert count_shuffles(tree) <= 2
    assert count_op(tree, "SortMergeJoin") == 0


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The whole point of bin bucketing: a point-in-interval join must
    NOT plan as BroadcastNestedLoopJoin/CartesianProduct."""
    tree = plan_of(spark, "range_join_events_windows").split("\n\n")[0]
    assert count_op(tree, "BroadcastNestedLoopJoin") == 0
    assert count_op(tree, "CartesianProduct") == 0
    assert count_op(tree, "BroadcastHashJoin") == 1  # equi-join on the bin


def test_ivf_search_candidate_join_broadcasts_probes(spark):
    tree = plan_of(spark, "similarity_ivf_search").split("\n\n")[0]
    # round-10 shape: assignment is the map-only literal-centroid fold
    # AND the probe ranking is inlined driver-side as a literal
    # cell→queries map (_probe_inline_sql) — the plan carries NO join
    # of any kind: corpus scan → fold-assign →
    # explode(try_element_at(map, cell)) → score → one q_id rank
    # window. The former shape paid a queries×centroids BNLJ, its
    # rank window's exchange, and a probes BroadcastHashJoin.
    assert count_op(tree, "BroadcastHashJoin") == 0
    assert count_op(tree, "SortMergeJoin") == 0
    assert count_op(tree, "BroadcastNestedLoopJoin") == 0
    assert count_op(tree, "SortAggregate") == 0
    # the candidate fan-out is the literal-map explode
    assert count_op(tree, "Generate") >= 1
    # rank-k pushdown active (WindowGroupLimit, Spark 3.5+)
    assert count_op(tree, "WindowGroupLimit") >= 1


def test_tpch_q18_semi_join_broadcasts_heavy_keys(spark):
    """Q18's HAVING subquery result (heavy orders) is small by
    construction — it must broadcast into a semi-join, and lineitem
    must shuffle only for the two aggregates, never for the semi."""
    tree = plan_of(spark, "tpch_q18_large_volume_customer").split("\n\n")[0]
    assert count_op(tree, "LeftSemi") >= 1
    assert count_op(tree, "SortMergeJoin") == 0
    # heavy-keys agg + final agg: exactly two hash shuffles
    assert count_shuffles(tree) == 2
    # top-100 is TakeOrderedAndProject, not a global Sort
    assert count_op(tree, "TakeOrderedAndProject") == 1


@pytest.mark.parametrize(
    "name", ["tpch_q7_volume_shipping", "tpch_q8_market_share"]
)
def test_tpch_multiway_joins_never_sort_merge_at_test_sf(spark, name):
    """Q7/Q8 dimension joins broadcast (nation/supplier/customer/part
    are orders of magnitude under lineitem); the only hash shuffle is
    the final group-by. At bench SF the lineitem⋈orders join may
    legitimately become SMJ under AQE — this pins the small-SF shape
    where everything under the broadcast threshold must broadcast."""
    tree = plan_of(spark, name).split("\n\n")[0]
    assert count_op(tree, "SortMergeJoin") == 0
    assert count_op(tree, "CartesianProduct") == 0
    assert count_shuffles(tree) == 1


def test_tpch_q19_disjunction_propagates_to_both_scans(spark):
    """The OR mixes columns from both join sides, so it evaluates
    post-join — but Catalyst must still push each side's envelope
    (quantity ranges to lineitem, brand/size to part) into the scans."""
    plan = plan_of(spark, "tpch_q19_discounted_revenue")
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any("l_quantity" in p and "Or(" in p for p in pushed)
    assert any("p_brand" in p and "Or(" in p for p in pushed)


def test_tpch_q13_left_outer_preserves_zero_order_customers(spark):
    tree = plan_of(spark, "tpch_q13_customer_distribution").split("\n\n")[0]
    assert count_op(tree, "LeftOuter") == 1
    assert count_op(tree, "CartesianProduct") == 0
    # per-customer count + histogram: two hash shuffles, no more
    assert count_shuffles(tree) == 2


def test_tpch_q22_not_exists_is_anti_join(spark):
    tree = plan_of(spark, "tpch_q22_global_sales_opportunity").split("\n\n")[0]
    assert count_op(tree, "LeftAnti") == 1
    assert count_op(tree, "CartesianProduct") == 0
    assert count_shuffles(tree) <= 2


def test_asof_join_is_window_not_join(spark):
    """The as-of operator's whole point: union + window, never a join
    node — one shuffle on the key, no pairwise row blowup."""
    tree = plan_of(spark, "asof_join_last_click").split("\n\n")[0]
    for join_op in ("SortMergeJoin", "BroadcastHashJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert count_op(tree, join_op) == 0
    assert count_op(tree, "Window") == 1
    # two exchanges total: the click-dedup groupBy owns one; the asof
    # operator itself owns exactly one (key partitioning for the scan)
    assert count_shuffles(tree) == 2
    assert count_op(tree, "Union") == 1


def test_registry_wide_plan_hygiene(spark):
    """Every registered batch query, forever: no CartesianProduct
    (non-broadcast cross joins explode at scale; the intended tiny
    broadcast crosses plan as BroadcastNestedLoopJoin and are
    separately pinned) and no BatchEvalPython (row-at-a-time Python
    UDFs are banned from the hot path — Arrow/pandas surfaces only).
    One test so new queries inherit the gate without registering
    themselves anywhere."""
    offenders = []
    for name, q in sorted(REGISTRY.items()):
        if name.startswith("streaming"):
            continue  # streaming builders start/stop real queries
        tree = (
            q.builder(spark, SF)._jdf.queryExecution().executedPlan().toString()
        )
        for marker in ("CartesianProduct", "BatchEvalPython"):
            if marker in tree:
                offenders.append((name, marker))
    assert offenders == []


def test_unpivot_is_map_side_single_scan(spark):
    """Melt = Expand in the scan stage: one parquet scan, one shuffle
    (the 4-group aggregate), no join or extra lineage."""
    plan = plan_of(spark, "unpivot_measures")
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert count_op(tree, "Expand") == 1
    assert count_shuffles(tree) == 1


def test_percent_of_total_window_over_aggregated_frame(spark):
    """Dim joins broadcast; the ratio window sorts |nations| rows, not
    the fact table — no SortMergeJoin anywhere."""
    plan = plan_of(spark, "percent_of_total_revenue")
    tree = plan.split("\n\n")[0]
    assert count_op(tree, "BroadcastHashJoin") == 3
    assert count_op(tree, "SortMergeJoin") == 0
    assert count_op(tree, "Window") == 1


def test_heavy_hitters_recount_is_broadcast_semi(spark):
    """Whichever engine the adaptive plan-time decision picks (exact
    at this table's bounded key count; MG for unbounded keys), the
    small side — candidates or the grand-total scalar — reaches the
    big scan via broadcast; the key aggregate is the only plain
    shuffle and nothing sort-merges."""
    plan = plan_of(spark, "sketch_heavy_hitters")
    tree = plan.split("\n\n")[0]
    # exact engine: the 1-row grand total broadcasts as a nested-loop
    # build side; MG engine: candidates broadcast into a hash join
    assert (count_op(tree, "BroadcastHashJoin")
            + count_op(tree, "BroadcastNestedLoopJoin")) >= 1
    assert count_op(tree, "SortMergeJoin") == 0

    # and the MG engine's plan keeps its shape when forced explicitly
    from omicidx_gh_etl_spark.operators.sketch import heavy_hitters
    from omicidx_gh_etl_spark.queries.tables import load_events

    mg = heavy_hitters(load_events(spark, SF), "user_id", 120,
                       engine="mg")
    mg_plan = mg._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")
    ).split("\n\n")[0]
    assert count_op(mg_plan, "BroadcastHashJoin") >= 1
    assert count_op(mg_plan, "SortMergeJoin") == 0


def test_timeseries_spine_join_broadcasts(spark):
    """The calendar spine joins the pre-aggregated dailies broadcast —
    the events table itself is never on an outer-join shuffle."""
    plan = plan_of(spark, "timeseries_densify_daily")
    tree = plan.split("\n\n")[0]
    assert count_op(tree, "SortMergeJoin") == 0
    assert count_op(tree, "BroadcastHashJoin") + count_op(
        tree, "BroadcastNestedLoopJoin"
    ) >= 1


def test_sequence_ops_single_key_shuffle(spark):
    """Islands/interval-merge: ONE hash exchange on the key feeds the
    window and every aggregate (Spark reuses child partitioning)."""
    for name in ("gaps_islands_active_days", "interval_coalesce_user_spans"):
        plan = plan_of(spark, name)
        tree = plan.split("\n\n")[0]
        assert count_shuffles(tree) == 1, name


def test_funnel_single_scan_single_key_shuffle(spark):
    """The ordered funnel reads the facts ONCE and shuffles on user_id
    once (in-array stage lookups), then reduces to one row — not the
    3-scan / 8-exchange chained-join formulation."""
    plan = plan_of(spark, "funnel_signup_click_purchase")
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert count_shuffles(tree) <= 2  # user_id shuffle + final 1-row agg


def test_lm_surprisal_no_global_window(spark):
    """Corpus total is a broadcast scalar — a global (unpartitioned)
    Window would collapse every distinct bigram into one partition."""
    plan = plan_of(spark, "lm_bigram_surprisal")
    tree = plan.split("\n\n")[0]
    assert count_op(tree, "Window") == 0


def test_parser_queries_single_scan_no_shuffle(spark):
    """The XML parser queries (S10 oracle surface) are pure map
    pipelines: one parquet scan → codegen'd XML build → Arrow-batched
    parse (MapInPandas, never row-at-a-time BatchEvalPython) →
    projection. Zero exchanges: parsing must never induce a shuffle."""
    for name in ("biosample_xml_parse", "bioproject_xml_parse",
                 "pubmed_medline_parse"):
        plan = plan_of(spark, name)
        tree = plan.split("\n\n")[0]
        assert tree.count("Scan parquet") == 1, name
        assert count_shuffles(tree) == 0, name
        assert count_op(tree, "MapInPandas") == 1, name
        assert count_op(tree, "BatchEvalPython") == 0, name


def test_span_dedup_df_cap_broadcasts_hot_set_only(spark):
    """The hot-shingle df-cap must broadcast the HOT list (df_ > cap —
    tiny by construction) into a LeftAnti join. Broadcasting the
    complement (every shingle AT OR UNDER the cap — corpus-proportional)
    is the 100-TB OOM the round-4 verdict flagged; this pins its
    absence: no '<= cap' comparison survives into the physical plan."""
    for name in ("dedup_exact_substring_spans", "dedup_span_excision"):
        plan = plan_of(spark, name)
        tree = plan.split("\n\n")[0]
        assert count_op(tree, "LeftAnti") >= 1, name
        # the complement-side filter (df_ <= 50) must not exist anywhere
        assert "<= 50)" not in plan, name
        assert "> 50)" in plan, name


def test_tpch_customer_joins_carry_no_forced_broadcast_hint(spark):
    """Customer, supplier and part are all data-proportional
    (150M / 10M / 20M rows at sf100) — the TPC-H queries must not
    hard-wire a broadcast hint on any of them; only the genuinely
    fixed-size dims (nation=25, region=5 rows at every SF) and
    aggregate-derived tiny tables (q15 best, q18 heavy, q22 thr) keep
    explicit hints. At test sf the planner still broadcasts the
    unhinted sides from size stats (physical shape unchanged — the
    SMJ pins above stay green); this pins the exact ResolvedHint
    count so re-adding a hint fails here. Q3/Q14/Q19 have no hinted
    side at all; Q5 hints n/r; Q7 hints n1/n2; Q8 hints n1/r/n2;
    Q15 hints best only; Q17 hints nothing."""
    expected = {
        "tpch_q3_shipping_priority": 0,
        "tpch_q5_local_supplier_volume": 2,
        "tpch_q7_volume_shipping": 2,
        "tpch_q8_market_share": 3,
        "tpch_q14_promo_effect": 0,
        "tpch_q15_top_supplier": 1,
        "tpch_q17_small_quantity_revenue": 0,
        "tpch_q19_discounted_revenue": 0,
    }
    for name, n_hints in expected.items():
        df = REGISTRY[name].builder(spark, SF)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("ResolvedHint") == n_hints, name


def test_bm25_is_scan_plus_scalar_stats_no_per_term_shuffle(spark):
    """bm25_topk's contract: tf/dl are map-only expressions, corpus
    stats one scalar aggregate broadcast back, ranking via
    TakeOrderedAndProject — an explode→groupBy(term,doc) rewrite
    (which shuffles every token occurrence) fails here."""
    plan = plan_of(spark, "text_bm25_topk")
    assert count_op(plan, "TakeOrderedAndProject") == 1
    assert count_op(plan, "SortMergeJoin") == 0
    assert count_op(plan, "Generate") == 0  # no explode anywhere
    # the only plain exchanges allowed are the scalar stats aggregate's
    # (SinglePartition) — never a hash repartition of the corpus
    body = plan.split("\n\n")[0]
    assert "hashpartitioning" not in body.lower().replace(
        "broadcast", ""
    ), "corpus rows are being hash-shuffled"


def test_bloom_semi_join_prunes_before_the_shuffle(spark):
    """The bloom bit-test filter must sit on the lineitem side BELOW
    the semi join's exchange (map-side pruning), and the bitmap must
    arrive as a broadcast of ONE row (BroadcastNestedLoopJoin), never
    a shuffled join."""
    plan = plan_of(spark, "join_bloom_pruned_semi")
    body = plan.split("\n\n")[0]
    assert count_op(plan, "BroadcastNestedLoopJoin") == 1
    # the probe filter (shiftright bit tests) exists and the semi join
    # is on the pruned stream
    detail = plan  # formatted mode puts expressions in the details
    assert "shiftright" in detail
    assert "LeftSemi" in detail


def test_topk_blocks_is_map_only_scan_plus_takeordered(spark):
    """The block-layout brute scan's contract: ingest packing and the
    gemv scan are both mapInArrow (map-only — zero shuffles anywhere),
    and the global top-k is TakeOrderedAndProject over the ≤k rows
    each batch emits. Any Exchange in this plan means the layout's
    whole point (no per-row transfer cost, no data movement) was
    lost."""
    plan = plan_of(spark, "similarity_topk_blocks")
    body = plan.split("\n\n")[0]
    assert count_op(body, "TakeOrderedAndProject") == 1
    assert body.count("MapInArrow") == 2  # pack + scan
    assert count_op(body, "SortMergeJoin") == 0
    assert "hashpartitioning" not in body.lower()


def test_bm25_index_serve_prunes_buckets_no_postings_shuffle(spark):
    """The persisted-index serve contract (operators/bm25_index.py):
    the postings scan — the only corpus-sized input — is bucket-PRUNED
    to the query terms (SelectedBucketsCount < total — the literal IN
    filter hits the term-bucketed layout; dfreq/stats are collected
    driver-side at serve construction, ≤|terms|+1 rows), and the
    postings side reaches the per-query score aggregate without any
    shuffle: every plain hash exchange in the plan partitions on q_id
    (the score agg + rank window), never on term or the corpus."""
    plan = plan_of(spark, "text_bm25_index_serve")
    pruned = re.findall(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert len(pruned) >= 1, "postings scan is not bucket-pruned"
    for sel, tot in pruned:
        assert int(sel) < int(tot)
    # formatted mode puts each Exchange's partitioning in the details
    parts = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert parts, "expected the q_id-keyed score/rank exchanges"
    for keys in parts:
        assert "q_id" in keys, f"non-q_id shuffle in serve plan: {keys}"
    # r11: the score aggregate and the rank window share ONE q_id
    # exchange (explicit repartition below the aggregate —
    # hashpartitioning(q_id) satisfies both operators' clustering)
    assert len(parts) == 1, f"serve tail regressed to {len(parts)} shuffles"
    # and those are the ONLY plain shuffles (no SinglePartition/range,
    # no workload-keyed distinct exchanges — deduped driver-side)
    body = plan.split("\n\n")[0]
    assert count_shuffles(body) == len(parts)


def test_plan_docs_audit_only_registered_queries():
    """tools/gen_plan_docs.py builds PLANS.md from its AUDITED list; a
    name missing from the registry would only fail when the docs are
    regenerated."""
    path = Path(__file__).resolve().parent.parent / "tools" / "gen_plan_docs.py"
    spec = importlib.util.spec_from_file_location("gen_plan_docs", path)
    gen_plan_docs = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_plan_docs)
    assert set(gen_plan_docs.AUDITED) - REGISTRY.keys() == set()
