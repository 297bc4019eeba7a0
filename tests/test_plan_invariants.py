"""Plan-shape regression guards: the physical plans Catalyst produces for
the headline queries must keep the properties the engine is designed
around — pushdown into scans, no accidental nested-loop joins, top-k via
TakeOrderedAndProject. A refactor that silently loses one of these
regresses 100 TB behavior long before it changes local results."""

from __future__ import annotations

import contextlib
import io

import pytest

from ror_etl_spark.registry import QUERIES, load_all
from tests.conftest import SF_SMALL

load_all()


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# every query here must plan without cartesian/nested-loop joins
NO_NESTED_LOOP = [
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q17_small_quantity",
    "q22_global_sales_opportunity",
    "q4_order_priority",
    "events_band_self_join",
    "dedup_ngram_jaccard",
    "join_theta",
    # the LSH-bucketed near-dup path must never fall back to the
    # cartesian shape it replaces (VERDICT r1: all_pairs_above was the
    # one scale-killer plan)
    "embedding_near_dup_pairs",
    # winnowing/fuzzy dedup must stay blocked joins (fingerprint buckets /
    # sorted neighborhood), never a cartesian pair enumeration
    "dedup_winnow_pairs",
    "fuzzy_dedup_sorted_neighborhood",
    # exact set-similarity join: candidates must come from the prefix
    # bucket join, never a quadratic pair enumeration
    "dedup_prefix_filter_jaccard",
    # r7 exact-substring family: pair/span/cut joins must stay keyed on
    # the gram hash (bucket joins), never a cartesian pair enumeration
    "dedup_exact_substring_pairs",
    "dedup_exact_substring_spans",
    "dedup_exact_substring_cut",
]


@pytest.mark.parametrize("name", NO_NESTED_LOOP)
def test_no_nested_loop_join(spark, name):
    p = plan_of(spark, name)
    assert "CartesianProduct" not in p, name
    assert "BroadcastNestedLoop" not in p, name


def test_sorted_neighborhood_sort_is_distributed(spark):
    # the r4 form ran one global Window.orderBy — every row through a
    # single task. The fix must keep the sort range-partitioned (>1
    # partition) and rank rows per-partition, never globally. The
    # checkpoint is disabled so the pre-checkpoint plan is inspectable.
    spark.conf.set("spark.ror.sn.checkpoint", "false")
    spark.conf.set("spark.ror.ordered.checkpoint", "false")
    try:
        p = plan_of(spark, "fuzzy_dedup_sorted_neighborhood")
    finally:
        spark.conf.set("spark.ror.sn.checkpoint", "true")
        spark.conf.unset("spark.ror.ordered.checkpoint")
    assert "rangepartitioning(p_name" in p, "sort must spread over range partitions"
    assert "hashpartitioning(pid" in p, "rank window must partition by pid"


def test_q1_pushdown_and_pruning(spark):
    p = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p
    # column pruning: the scan must not read join keys it doesn't need
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q6_all_filters_pushed(spark):
    p = plan_of(spark, "q6_forecast_revenue")
    pushed = next(l for l in p.splitlines() if "PushedFilters" in l)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed


def test_global_topk_avoids_full_sort(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "topk_global")
    assert "TakeOrderedAndProject" in plan_of(spark, "q3_shipping_priority")


def test_rollup_fixpoint_truncates_lineage(spark):
    # after the fixpoint, the mapping's plan must hang off checkpointed
    # RDD scans, not re-derive the whole iteration chain
    p = plan_of(spark, "ultimate_parent_rollup")
    assert "Scan ExistingRDD" in p


def test_q8_star_join_broadcasts_dims(spark):
    p = plan_of(spark, "q8_market_share")
    # part/supplier/nation/region legs must broadcast; only the fact-side
    # joins (lineitem-orders, orders-customer) may shuffle
    assert p.count("BroadcastHashJoin") >= 4, p.count("BroadcastHashJoin")
    assert "CartesianProduct" not in p


def test_q21_single_fact_exchange(spark):
    # r12: the EXISTS/NOT EXISTS legs are four chained window expressions
    # over one l_orderkey partitioning — lineitem must be exchanged ONCE
    # (the only other exchange is the final tiny groupBy(s_name)), with
    # no self-join legs left in the plan
    p = plan_of(spark, "q21_waiting_supplier")
    assert "LeftSemi" not in p
    assert "LeftAnti" not in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert p.count("Window") >= 3
    import re

    # hashpartitioning exchanges: one for the window (l_orderkey), one for
    # the final aggregate (s_name) — broadcast exchanges excluded
    n_shuffles = len(re.findall(r"Exchange hashpartitioning", p))
    assert n_shuffles <= 2, p


def test_q13_left_join_keeps_zero_order_customers(spark):
    # the defining Q13 trap: filter in the ON clause, not WHERE. sf0.01 is
    # the smallest fixture containing an all-urgent customer (c_count=0).
    from pyspark.sql import functions as F

    df = QUERIES["q13_customer_distribution"](spark, "/root/testdata/sf0.01")
    zero = df.filter(F.col("c_count") == 0).collect()
    assert zero, "customers with no qualifying orders must appear as c_count=0"


def test_chunking_stays_in_codegen(spark):
    # no Python UDF / no shuffle before the final sort: chunking is map-only
    p = plan_of(spark, "text_chunk_documents")
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p


def test_lateral_decorrelates_to_single_shuffle(spark):
    # the correlated LATERAL must not execute per-row (no nested loop on
    # the correlation key path); Catalyst rewrites it to window/aggregate
    p = plan_of(spark, "lateral_top_event_per_user")
    assert "CartesianProduct" not in p


def test_join_strategy_hints_are_honored(spark):
    """Optimizer-control surface: per-join strategy hints override the
    cost-based pick — the knob used when statistics mislead at scale."""
    from pyspark.sql import functions as F

    from ror_etl_spark.tables import Tables

    t = Tables(spark, SF_SMALL)
    o, c = t.orders, t.customer

    merge = o.join(c.hint("merge"), o["o_custkey"] == c["c_custkey"])
    assert "SortMergeJoin" in merge._jdf.queryExecution().executedPlan().toString()

    shj = o.join(c.hint("shuffle_hash"), o["o_custkey"] == c["c_custkey"])
    assert "ShuffledHashJoin" in shj._jdf.queryExecution().executedPlan().toString()

    bc = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
    assert "BroadcastHashJoin" in bc._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name",
    ["pagerank_nation_trade", "triangle_count_nations", "salted_join_segment_revenue"],
)
def test_round4_graph_and_skew_plans_have_no_nested_loop(spark, name):
    p = plan_of(spark, name)
    assert "CartesianProduct" not in p, name
    assert "BroadcastNestedLoop" not in p, name


def test_llmprep_queries_stay_in_codegen(spark):
    """The corpus filters are pure expression pipelines — any Python
    evaluation node in the plan means a UDF snuck into the hot path."""
    for name in (
        "text_boilerplate_ngrams",
        "text_repetition_filter",
        "text_token_entropy",
        "c4_quality_rules",
        "pii_redact_customers",
        "zorder_cluster_key",
    ):
        p = plan_of(spark, name)
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p, name


def test_equidepth_binning_broadcasts_bounds(spark):
    """The decile boundaries join must be a 1-row broadcast, and the big
    side must NOT be globally sorted (the whole point vs ntile)."""
    p = plan_of(spark, "equidepth_bin_assign")
    assert "BroadcastNestedLoopJoin" in p  # 1-row bounds × orders: intended
    # no global Sort over the full orders relation before aggregation —
    # the only sort allowed is the final 10-row orderBy("bin")
    body = p.split("== Physical Plan ==")[1]
    n_sorts = body.count("Sort [")
    assert n_sorts <= 1, f"unexpected global sort in binning plan:\n{p}"


def test_jaccard_verify_computes_one_intersect_per_side(spark):
    """The Jaccard verifies derive the union size by inclusion-exclusion
    (|A|+|B|-|A∩B|) instead of materializing a union array, and the
    two-step projection must keep exactly ONE array_intersect evaluation
    per candidate pair — CollapseProject would re-inline the expression
    at every use site if the aliasing shape regressed, doubling the
    per-pair array work that dominates these plans at the sf1 tier."""
    # dedup_ngram_jaccard: no threshold filter → one intersect site (the
    # output projection). dedup_minhash_lsh: the rearranged threshold
    # predicate ((1+t)·i ≥ t·ab) lands in the join condition with ONE
    # intersect, plus one in the survivors' output projection — the
    # division-form predicate would substitute to two in the condition.
    for name, max_sites in (
        ("dedup_ngram_jaccard", 1),
        ("dedup_minhash_lsh", 2),
        ("dedup_prefix_filter_jaccard", 2),
    ):
        p = plan_of(spark, name)
        body = p.split("== Physical Plan ==")[1]
        n = body.count("array_intersect")
        assert n <= max_sites, f"{name}: expected ≤{max_sites} array_intersect, saw {n}"
        assert "array_union" not in body, name
        # the old shape: distinct over a concat of both shingle arrays
        assert "array_distinct(concat(" not in body, name


def test_jaccard_verify_shingles_once_per_execution(spark):
    """r13: jaccard_verify materializes the candidate-doc shingle frame
    ONCE (lazy DISK_ONLY checkpoint) and both pair sides read it — the
    r12 shape planned the scan → semi-join → interpreted-HOF shingle
    subtree once per side (two document scans, two shingle passes per
    execution). The checkpoint surfaces as RDD scans; the shingle
    zip_with chain and the parquet scans must be GONE from the verify
    plan."""
    p = plan_of(spark, "dedup_minhash_lsh")
    body = p.split("== Physical Plan ==")[1]
    assert "zip_with" not in body, "shingle subtree re-inlined per join side"
    assert "Scan parquet" not in body, "documents scanned inside the verify plan"
    assert body.count("Scan ExistingRDD") >= 2


def test_near_dup_verify_group_exchange_is_pinned(spark):
    """r13: the (tbl, bucket) exchange feeding the applyInPandas verify
    must be the user-pinned repartition (REPARTITION_BY_NUM), not an
    ENSURE_REQUIREMENTS exchange AQE may coalesce to a handful of tasks
    — the per-group pandas+GEMM cost is CPU, not bytes."""
    import re

    p = plan_of(spark, "embedding_near_dup_pairs")
    body = p.split("== Physical Plan ==")[1]
    modes = re.findall(
        r"hashpartitioning\(tbl#\d+, bucket#\d+L?, \d+\)(?:, (\w+))?", p
    )
    assert modes, "no (tbl, bucket) exchange in the plan"
    assert all(m == "REPARTITION_BY_NUM" for m in modes), modes
    assert "FlatMapGroupsInPandas" in body


def test_incremental_dedup_broadcasts_small_index_via_aqe(spark):
    """dedup_incremental_new_batch carries NO broadcast hint (a hard hint
    would OOM once the corpus fingerprint index outgrows memory). Below
    the auto-broadcast threshold AQE must still convert the join to a
    broadcast from the index's measured runtime size; above threshold it
    degrades to a shuffled join instead of dying."""
    # ordered()'s checkpoint hides the join behind an RDD scan — inspect
    # the pre-checkpoint plan
    spark.conf.set("spark.ror.ordered.checkpoint", "false")
    try:
        df = QUERIES["dedup_incremental_new_batch"](spark, SF_SMALL)
        df.collect()  # AQE finalizes the plan only on execution
        final = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.ror.ordered.checkpoint")
    assert "BroadcastHashJoin" in final, final
    assert "broadcast" not in df._jdf.queryExecution().logical().toString().lower()


def test_bm25_topk_plan_shape(spark):
    """BM25: the stats side is a 1-row broadcast, the per-term df table
    broadcasts, and the final top-20 is TakeOrderedAndProject — never a
    global sort of the scored relation."""
    p = plan_of(spark, "text_bm25_topk")
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    body = p.split("== Physical Plan ==")[1]
    assert body.count("Sort [") == 0, f"global sort in BM25 plan:\n{p}"


def test_pq_adc_plan_is_codegen_topk(spark):
    """ADC search must be pure expression work over the codes (literal
    array lookups) ending in TakeOrderedAndProject; the only Arrow nodes
    allowed are the 8 encode UDFs, never a Python row-at-a-time eval."""
    p = plan_of(spark, "embedding_pq_adc_topk")
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p


# (decontaminate_substring_cut's join shape can't be asserted from
# explain() — the _doc_grams lazy checkpoints truncate the visible plan
# to LogicalRDD scans; its broadcast hint is source-pinned and the
# planted-cut semantics are covered in tests/test_dedup.py.)


def test_language_weights_never_explode_tokens(spark):
    """The mixture weights are one lang-keyed aggregate over per-row
    token counts — a Generate (explode) in this plan would mean the
    corpus token stream shuffles for a |languages|-row result."""
    p = plan_of(spark, "corpus_language_sampling_weights")
    assert "Generate" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_zipf_fit_plan_is_topk_then_scalar_agg(spark):
    """Zipf fit must never globally sort the Heaps-law vocabulary: the
    top-100 cut compiles to TakeOrderedAndProject and everything else is
    codegen aggregate work."""
    p = plan_of(spark, "text_zipf_fit")
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_curriculum_sample_broadcasts_bounds_no_window(spark):
    """The curriculum sampler's decile assignment must be the broadcast
    percentile-bounds fold — a Window over the corpus would mean an
    ntile-style single-partition sort — and the md5 gate stays codegen."""
    spark.conf.set("spark.ror.ordered.checkpoint", "false")
    try:
        p = plan_of(spark, "corpus_quality_curriculum_sample")
    finally:
        spark.conf.unset("spark.ror.ordered.checkpoint")
    body = p.split("== Physical Plan ==")[1]
    assert "Window" not in body
    assert "BroadcastExchange" in body or "BroadcastNestedLoopJoin" in body
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_naive_bayes_plan_stays_jvm_side(spark):
    """NB trains and scores entirely in codegen (counts + ln): no Python
    eval anywhere, and the per-document argmax window partitions by
    doc_id (classes-sized groups), never unpartitioned."""
    p = plan_of(spark, "text_naive_bayes_lang")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    body = p.split("== Physical Plan ==")[1]
    assert "partitionspec=[doc_id" in body.lower().replace(" ", "") or (
        "Window" in body and "doc_id" in body
    )


def test_ann_recall_topk_uses_window_group_limit(spark):
    """Both top-10-per-query ranks must push a WindowGroupLimit below the
    qid exchange (no reducer sorts a full corpus replica), and the probe
    list / query vectors arrive as broadcasts."""
    p = plan_of(spark, "embedding_ann_recall")
    body = p.split("== Physical Plan ==")[1]
    assert "WindowGroupLimit" in body
    assert "BroadcastExchange" in body


def test_ahash_window_partitions_by_hash(spark):
    """The aHash dup-grouping windows partition by the fingerprint (hash
    exchange of 16-char rows), and the only Python node is the Arrow
    codec kernel — no row-at-a-time eval."""
    spark.conf.set("spark.ror.ordered.checkpoint", "false")
    try:
        p = plan_of(spark, "multimodal_image_ahash_dupes")
    finally:
        spark.conf.unset("spark.ror.ordered.checkpoint")
    body = p.split("== Physical Plan ==")[1]
    assert "ArrowEvalPython" in body or "MapInPandas" in body
    assert "BatchEvalPython" not in body
    assert "ahash" in body


def test_nprobe_sweep_shares_one_assignment_pass(spark):
    """The sweep must rank candidates per (nprobe, qid) via
    WindowGroupLimit and read broadcast probe/query frames — and contain
    exactly ONE Arrow assignment node (the shared cell pass), not one
    per sweep point."""
    import re

    p = plan_of(spark, "embedding_ivf_nprobe_sweep")
    body = p.split("== Physical Plan ==")[1]
    assert "WindowGroupLimit" in body
    assert "BroadcastExchange" in body
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", body)) == 1


def test_ivf_family_evaluates_assignment_kernel_once(spark):
    """The GEMM assignment/encode kernels must appear EXACTLY once per
    plan (twice for IVF-PQ: coarse + PQ are different kernels). Before
    the asNondeterministic guard, Catalyst pushed inferred join/filter
    predicates below the projection by DUPLICATING the Arrow eval, so
    every one of these queries ran its corpus-wide kernel twice."""
    import re

    expected = {
        "embedding_knn_ivf_trained": 1,
        "embedding_ann_recall": 1,
        "embedding_pq_recall": 1,
        "embedding_near_dup_pairs": 1,
        "embedding_pq_codes": 1,
        "embedding_ivfpq_topk": 2,
    }
    for name, want in expected.items():
        p = plan_of(spark, name)
        body = p.split("== Physical Plan ==")[1]
        got = len(re.findall(r"\(\d+\) ArrowEvalPython", body))
        assert got == want, f"{name}: {got} Arrow evals, want {want}"


def test_psi_and_skew_reports_end_in_topk(spark):
    """Both reports cut with TakeOrderedAndProject — never a global sort
    of the vocabulary / key space."""
    for name in ("corpus_drift_psi", "shuffle_key_skew_report"):
        p = plan_of(spark, name)
        body = p.split("== Physical Plan ==")[1]
        assert "TakeOrderedAndProject" in body, name
        assert "BatchEvalPython" not in body, name


def test_shard_manifest_is_one_aggregate_no_window(spark):
    """The manifest is a map pass + one shard-keyed aggregate: no
    window, no Python, no join."""
    p = plan_of(spark, "corpus_shard_manifest")
    body = p.split("== Physical Plan ==")[1]
    assert "Window" not in body
    assert "Join" not in body
    assert "BatchEvalPython" not in body and "ArrowEvalPython" not in body


def test_topn_per_group_uses_window_group_limit(spark):
    p = plan_of(spark, "sample_topn_per_group_hash")
    body = p.split("== Physical Plan ==")[1]
    assert "WindowGroupLimit" in body
    assert "BatchEvalPython" not in body and "ArrowEvalPython" not in body


def test_symspell_is_equi_join_no_cartesian(spark):
    # the deletion-neighborhood candidate join must be a hash/SMJ equi
    # join on the variant string — never a cartesian vocab^2 shape, and
    # the levenshtein verify must run JVM-side (no Python batch eval)
    p = plan_of(spark, "fuzzy_token_symspell")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pmi_pairs_are_map_side_topk(spark):
    # pair generation is an explode over an array zip (no positional
    # self-join) and the final top-50 compiles to TakeOrderedAndProject
    p = plan_of(spark, "cooccurrence_pmi_topk")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p


def test_correlation_matrix_is_single_scan(spark):
    # six corr() aggregates must collapse into one scan + one aggregate
    # (explain text names each physical scan once in the tree and once in
    # the detail section — count file-index locations instead)
    p = plan_of(spark, "correlation_matrix_lineitem")
    assert p.count("Location: InMemoryFileIndex") == 1
    assert "partial_corr" in p


def test_contrastive_and_systematic_have_no_single_task_window(spark):
    # global ranks must come from global_rank (range partition + pid
    # window); an unpartitioned window would show a SinglePartition
    # exchange feeding a Window node
    import re

    for name in ("contrastive_negatives_sample", "sample_systematic_every_k"):
        p = plan_of(spark, name)
        assert not re.search(r"Exchange SinglePartition[^\n]*\n[^\n]*Window", p), name


def test_join_cardinality_topk_avoids_full_sort(spark):
    p = plan_of(spark, "join_cardinality_estimate")
    assert "TakeOrderedAndProject" in p


# ------------------------------------------------- round-7 session-5 ops


def test_basket_pairs_are_map_side(spark):
    # C(k,2) pair generation must be an explode over the per-order array
    # (one Generate node), never a positional lineitem self-join; the
    # support joins are broadcasts and the top-40 avoids a full sort
    p = plan_of(spark, "market_basket_lift")
    assert "Generate" in p and "explode(" in p
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_rolling_distinct_has_no_band_join(spark):
    # the x7 bounded fan-out + one distinct aggregate — a band join
    # (non-equi) would appear as a nested-loop join
    p = plan_of(spark, "rolling_distinct_users_7d")
    assert "Generate" in p and "explode(" in p
    assert "CartesianProduct" not in p
    # the only BroadcastNestedLoopJoin-free plan: join to the day spine
    # is an equi-join on the exploded window day
    assert "BroadcastNestedLoopJoin" not in p


def test_skyline_frontier_broadcasts_and_no_quadratic_test(spark):
    # the oracle's NOT EXISTS dominance is quadratic; the engine plan
    # must instead broadcast the domain-bounded frontier back onto the
    # scan — no nested-loop anywhere
    spark.conf.set("spark.ror.ordered.checkpoint", "false")
    try:
        p = plan_of(spark, "skyline_pareto_parts")
    finally:
        spark.conf.unset("spark.ror.ordered.checkpoint")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_pit_join_is_asof_not_range_join(spark):
    # interval (vf <= ts < vt) semantics must compile to the union+window
    # as-of shape: no nested-loop/range join over the dimension
    p = plan_of(spark, "scd2_point_in_time_join")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "Window" in p


def test_debounce_is_one_shuffle_then_python(spark):
    # exactly one hash exchange on the key feeds the partition-local
    # sort and the Arrow kernel; no per-group pandas (FlatMapGroupsInPandas)
    p = plan_of(spark, "dedup_events_debounce")
    assert "MapInPandas" in p
    assert "FlatMapGroupsInPandas" not in p
    assert "hashpartitioning(user_id" in p


def test_balance_windows_share_one_partitioning(spark):
    # the reflection identity stays in codegen: no Python eval anywhere,
    # and the per-user windows must not introduce a SinglePartition
    # exchange
    import re

    p = plan_of(spark, "running_balance_floor0")
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert not re.search(r"Exchange SinglePartition[^\n]*\n[^\n]*Window", p)


def test_hll_registers_are_one_aggregate_pair(spark):
    # register build must be map-side combinable: partial_max on the
    # (segment, idx) aggregate; no Python, no join explosion
    p = plan_of(spark, "sketch_hll_portable_rollup")
    assert "partial_max" in p
    assert "BatchEvalPython" not in p


def test_bpe_vocab_collect_is_take_ordered(spark):
    """The BPE trainer's driver transfer is bounded by the r8 vocab cap:
    the word-count frame it collects (_bpe_wordcounts — the SAME frame
    _train_bpe uses, not a copy) must plan its top-N floor as
    TakeOrderedAndProject (each executor ships at most N rows; the
    driver does one capped heap-merge), never a global sort + collect."""
    from ror_etl_spark.queries.corpusops import _bpe_wordcounts

    wc = _bpe_wordcounts(spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        wc.explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan
    # No GLOBAL sort feeding the limit. A bare "Sort not in plan" is
    # brittle — it would trip on an unrelated LOCAL sort (e.g. a future
    # SMJ inside the tokenizer), which is Exchange(hashpartitioning)-fed.
    # A global sort is exactly the pattern Exchange(rangepartitioning) ->
    # Sort, and a sort-based limit adds GlobalLimit; assert both absent.
    assert "rangepartitioning" not in plan
    assert "GlobalLimit" not in plan
