"""Plan-shape regression tests — the 100 TB posture, asserted.

Correct results with a bad plan don't survive a 1000-executor cluster;
these tests pin the physical-plan properties the engine's scale story
depends on: predicate pushdown into the parquet scan, column pruning,
broadcast joins for dimension/id sides, and top-k without a global sort.
"""

from __future__ import annotations

import io
import contextlib

import pytest

from data_engineering_project_spotify_app_spark.operators import registry

registry.load_all_modules()


def plan_of(spark, sf_dir, name: str) -> str:
    # Plan-shape assertions must see the query's OWN plan: a persist()
    # left by an earlier test (e.g. q_item_cf's basket frame, whose
    # subplan exactly matches the co-purchase edge build) would be
    # substituted as InMemoryRelation into unrelated plans.
    spark.catalog.clearCache()
    df = registry.QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(plan: str) -> list[str]:
    return [
        line.strip()
        for line in plan.splitlines()
        if "PushedFilters" in line and ": []" not in line
    ]


def plan_with_pins(spark, sf_dir, name: str) -> tuple[str, list[str]]:
    """The consumer's plan PLUS the pre-checkpoint plan of every frame
    it pins via pinutil.pinned — a pinned lineage is hidden behind
    'Scan ExistingRDD' in the consumer explain, so shape assertions
    (pushed filters, join strategy, window partitioning) must run
    against the captured pre-pin plans (the rankutil.PHASE1_OBSERVERS
    contract, generalized)."""
    from data_engineering_project_spotify_app_spark.operators import (
        pinutil,
    )

    captured: list[str] = []

    def _obs(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        captured.append(buf.getvalue())

    pinutil.PIN_OBSERVERS.append(_obs)
    try:
        plan = plan_of(spark, sf_dir, name)
    finally:
        pinutil.PIN_OBSERVERS.remove(_obs)
    return plan, captured


@pytest.mark.parametrize("name", ["q_tpch_q1", "q_tpch_q6", "q_point_lookup"])
def test_filters_reach_parquet_scan(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert pushed_filters(plan), f"{name}: no PushedFilters in scan\n{plan}"


@pytest.mark.parametrize("name", ["q_tpch_q3", "q_tpch_q5", "q_batch_enrich"])
def test_joins_broadcast_not_shuffle(spark, sf_dir, name):
    """Filtered dims / distinct id-sets must broadcast; a sort-merge join
    here would shuffle the fact table for no reason."""
    plan = plan_of(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join\n{plan}"
    assert "SortMergeJoin" not in plan, f"{name}: unexpected sort-merge\n{plan}"


def test_projection_prunes_scan_columns(spark, sf_dir):
    """P1: a 2-column projection must read 2 columns, not 11."""
    plan = plan_of(spark, sf_dir, "q_project")
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    line = read_schema[0]
    assert "l_orderkey" in line and "l_partkey" in line
    assert "l_extendedprice" not in line and "l_comment" not in line


def test_keyset_page_avoids_global_sort(spark, sf_dir):
    """The scale-path pagination must be TakeOrderedAndProject (per-
    partition top-k + k-merge), not a global Sort + Window."""
    plan = plan_of(spark, sf_dir, "q_keyset_page")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    # and the keyset predicate is pushed into the scan
    assert any("o_orderkey" in f for f in pushed_filters(plan)), plan


def test_orderby_limit_is_topk_not_full_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_orderby")
    assert "TakeOrderedAndProject" in plan, plan


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    """rank<=k should be pushed below the shuffle (WindowGroupLimit,
    Spark 3.5+) so each partition ships at most k rows per group."""
    plan = plan_of(spark, sf_dir, "q_topk_per_group")
    assert "WindowGroupLimit" in plan, plan


def test_aqe_coalesces_shuffle_partitions_at_runtime(spark, sf_dir):
    """AQE evidence: after execution, the final plan shows AQEShuffleRead
    (runtime-coalesced partitions) — the knob that replaces the
    reference's hand-tuned fan-out (SURVEY.md §4 O4/O8)."""
    df = registry.QUERIES["q_group_count"](spark, sf_dir)
    df.collect()  # trigger execution so AQE finalizes the plan
    final_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in final_plan or "AdaptiveSparkPlan" in final_plan


def test_static_planner_keeps_sort_merge_join(spark):
    """The static planner chooses join strategy from ESTIMATED sizes, so
    it must keep Spark's sort-merge default: a shuffled-hash build map
    does not spill, and an under-estimated build side would OOM at
    scale. Only AQE, on measured post-shuffle partition sizes, may turn
    a sort-merge join into a shuffled-hash join. Neither side of this
    pair fits the broadcast threshold, and the smaller one is small
    enough for a static shuffled-hash join if the session preferred
    it. The planner output is read without running a job."""
    df = spark.range(200_000_000).join(spark.range(10_000_000), "id")
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_correlated_subquery_is_decorrelated(spark, sf_dir):
    """The correlated scalar subquery must lower to aggregate+join, not a
    per-row subquery plan."""
    plan = plan_of(spark, sf_dir, "q_correlated_subquery")
    assert "Join" in plan, plan
    assert "HashAggregate" in plan, plan


def test_pq_adc_lut_is_broadcast(spark, sf_dir):
    """ADC search must broadcast the per-query LUT to the codes, never
    shuffle the codes to the LUT: the LUT is Q*M*K rows, codes are the
    corpus."""
    plan = plan_of(spark, sf_dir, "q_pq_adc_topk")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def _n_ops(plan: str, op: str) -> int:
    """Count unique operators in a formatted plan (each operator appears
    twice in explain('formatted'): once in the tree, once in details)."""
    import re

    return len(re.findall(rf"\(\d+\) {op}", plan))


def test_multitable_lsh_single_signature_aggregation(spark, sf_dir):
    """All N_TABLES signatures must come from ONE aggregation over the
    (vector x table x plane) products — a per-table union would rescan
    and reshuffle the corpus once per table."""
    plan = plan_of(spark, sf_dir, "q_ann_multitable")
    # corpus scanned once for signatures + twice for the exact-cosine
    # join-back (vec_a / vec_b sides)
    assert _n_ops(plan, "Scan parquet") <= 3, plan


def test_repetition_ratio_array_metrics_have_no_extra_shuffle(spark, sf_dir):
    """The dup ratios are array expressions (no shuffle); allowed
    exchanges: top-token aggregation pair ((doc_id,t) then doc_id) plus
    the broadcast of the per-doc top counts back onto the array side."""
    plan = plan_of(spark, sf_dir, "q_repetition_ratio")
    assert _n_ops(plan, "Exchange") + _n_ops(plan, "BroadcastExchange") <= 3, plan


@pytest.mark.parametrize(
    "name",
    ["q_tpch_q4", "q_tpch_q14", "q_tpch_q19", "q_decontaminate"],
)
def test_round3_filters_reach_parquet_scan(spark, sf_dir, name):
    """New TPC-H/curation queries: selective predicates must hit the scan
    (Q19's OR-of-ANDs counts via the planner-factored single-side
    implications)."""
    plan = plan_of(spark, sf_dir, name)
    assert pushed_filters(plan), f"{name}: no PushedFilters in scan\n{plan}"


@pytest.mark.parametrize(
    "name",
    ["q_tpch_q9", "q_tpch_q16", "q_tpch_q18", "q_ann_ivf_adc", "q_fuzzy_match"],
)
def test_round3_joins_broadcast_not_shuffle(spark, sf_dir, name):
    """Small/filtered sides (LIKE-filtered part, HAVING key sets, PQ LUT,
    name dictionary) must broadcast — none of these queries should
    shuffle a fact table into a sort-merge join."""
    plan = plan_of(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join\n{plan}"
    assert "SortMergeJoin" not in plan, f"{name}: unexpected sort-merge\n{plan}"


def test_q4_exists_lowers_to_left_semi(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_tpch_q4")
    assert "LeftSemi" in plan, plan


def test_q22_not_exists_lowers_to_left_anti(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_tpch_q22")
    assert "LeftAnti" in plan, plan


def test_q10_topk_has_no_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_tpch_q10")
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize(
    "name", ["q_tpch_q2", "q_tpch_q11", "q_tpch_q20", "q_tpch_q12"]
)
def test_partsupp_family_joins_broadcast_not_shuffle(spark, sf_dir, name):
    """Derived-partsupp queries: every dimension side (filtered part,
    nation-filtered supplier set, red-part keys, orders) must broadcast
    — the only shuffles should be the partsupp distinct and the group
    aggregations. Q11 pins its grouped aggregate (two consumers), so
    its join lineage is asserted on the captured pre-pin plan."""
    plan, pins = plan_with_pins(spark, sf_dir, name)
    full = plan + "".join(pins)
    assert "BroadcastHashJoin" in full, f"{name}: no broadcast join\n{full}"
    assert "SortMergeJoin" not in full, f"{name}: unexpected sort-merge\n{full}"


def test_q21_single_lineitem_scan_and_shuffle(spark, sf_dir):
    """Q21's EXISTS/NOT EXISTS rewrite must touch lineitem ONCE (the
    collect_set windows share the l_orderkey partition) — the textbook
    form scans it three times."""
    plan = plan_of(spark, sf_dir, "q_tpch_q21")
    scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "lineitem.parquet" in line
    ]
    assert len(scans) == 1, f"expected 1 lineitem scan, got {len(scans)}\n{plan}"
    assert "Window" in plan, plan


def test_q2_window_min_after_part_filter(spark, sf_dir):
    """Q2's min-cost decorrelation: the window must run on the frame
    already cut by the broadcast part filter, and the part scan itself
    must carry the pushed size/type predicates."""
    plan = plan_of(spark, sf_dir, "q_tpch_q2")
    assert "Window" in plan, plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "p_size" in l]
    assert pushed, f"part filter not pushed to scan\n{plan}"


def test_scd2_single_shuffle(spark, sf_dir):
    """SCD2's two window passes + run aggregation must all reuse the
    user_id partitioning — one Exchange total (hashpartitioning on
    user_id satisfies the (user_id, island_id) clustering)."""
    plan = plan_of(spark, sf_dir, "q_scd2_intervals")
    tree = plan.split("\n(1)")[0]
    n_exchanges = sum(
        1 for line in tree.splitlines() if "+- Exchange" in line
    )
    assert n_exchanges == 1, f"expected 1 shuffle, got {n_exchanges}\n{plan}"


def test_srp_lsh_gemm_has_no_signature_aggregation(spark, sf_dir):
    """The GEMM rework's claim, asserted: bucket assignment happens in
    the Arrow map stage (MapInPandas / ArrowEvalPython in the plan), so
    there is NO (vector x plane) aggregation before the bucket-collect —
    the only aggregates left are the bucket-collect itself and the
    candidate-pair count."""
    for name in ("q_ann_lsh", "q_ann_multitable"):
        plan = plan_of(spark, sf_dir, name)
        assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan
        # the r01 exploded form carried 2 extra HashAggregates for the
        # per-(vec, plane) partial sums; the GEMM plan must not
        n_aggs = _n_ops(plan, "HashAggregate") + _n_ops(
            plan, "ObjectHashAggregate"
        ) + _n_ops(plan, "SortAggregate")
        assert n_aggs <= 4, f"{name}: unexpected aggregation stages\n{plan}"


def test_dedup_lines_first_occurrence_is_aggregate_not_window(spark, sf_dir):
    """q_dedup_lines' scale claim: first-occurrence detection must be a
    hash AGGREGATE on the line digest (map-side combinable, AQE-skew-
    splittable probe join), never a row_number Window partitioned by the
    digest — a mega-duplicated boilerplate line would serialize a window
    partition into one task."""
    plan = plan_of(spark, sf_dir, "q_dedup_lines")
    tree = plan.split("\n(1)")[0]
    assert "Window" not in tree, f"window over line digest\n{plan}"
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_lcs_overlap_cap_is_broadcast(spark, sf_dir):
    """The posting-list cap enters q_lcs_overlap's plan as a broadcast
    scalar (BroadcastNestedLoopJoin of a 1-row frame), and the island
    windows partition on (doc_a, doc_b, diag) — never a global window."""
    plan = plan_of(spark, sf_dir, "q_lcs_overlap")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "partitionBy=[da#" in plan.replace(" ", "") or "da" in plan


def test_corpus_filter_single_scan_pair_and_pushdown(spark, sf_dir):
    """q_corpus_filter reads documents for signals and for the keeper
    aggregate (the accepted two-consumer pattern) — but nothing else:
    no windows, and the only joins are the keeper join."""
    plan = plan_of(spark, sf_dir, "q_corpus_filter")
    tree = plan.split("\n(1)")[0]
    assert "Window" not in tree, plan
    assert _n_ops(plan, "Scan parquet") <= 2, plan


def test_bigram_logprob_no_forced_broadcast_of_big_sides(spark, sf_dir):
    """Only the vocab-size SCALAR is hint-broadcast in q_bigram_logprob;
    the bigram/context count joins carry no broadcast HINT (AQE may
    still choose broadcast at this SF — that's allowed; a hint would
    force it at 100 TB where both sides are huge)."""
    from data_engineering_project_spotify_app_spark.operators import (
        textops,
    )
    import inspect

    src = inspect.getsource(textops.q_bigram_logprob)
    assert src.count("F.broadcast") == 1  # the 1-row vocab scalar only


def test_remove_overlaps_windows_partition_by_doc_keys(spark, sf_dir):
    """q_remove_overlaps' windows partition on doc-scoped keys (doc_id
    for the interval merge, (da, db, diag) upstream) — never an
    unpartitioned global window, which would serialize the corpus."""
    plan = plan_of(spark, sf_dir, "q_remove_overlaps")
    for line in plan.splitlines():
        if "Window" in line and "partitionBy" in line.replace(" ", ""):
            assert "partitionBy=[]" not in line.replace(" ", ""), line
    # and the per-doc reassembly is an aggregate, not a global sort
    tree = plan.split("\n(1)")[0]
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_kmv_window_is_group_limited(spark, sf_dir):
    """q_kmv_distinct's scale claim: the dense_rank <= k window must be
    optimized into WindowGroupLimit (per-partition top-k prune before
    the shuffle) — otherwise every raw row shuffles to the rank stage."""
    plan = plan_of(spark, sf_dir, "q_kmv_distinct")
    assert "WindowGroupLimit" in plan, plan


def test_triangle_count_intersection_is_array_side(spark, sf_dir):
    """q_triangle_count's scale claim: the per-edge neighborhood
    intersection is a codegen array_intersect over carried adjacency
    arrays, NEVER a join over materialized wedges (Σ C(outdeg,2) rows
    shuffled — measured 2.4× slower). The degree/adjacency joins carry
    no broadcast hint (both sides are graph-sized at 100 TB); AQE must
    convert them to broadcast at runtime while they fit."""
    plan = plan_of(spark, sf_dir, "q_triangle_count")
    assert "array_intersect" in plan, plan
    import inspect

    from data_engineering_project_spotify_app_spark.operators import graphs

    src = inspect.getsource(graphs._triangle_counts_from_pairs)
    assert "F.broadcast" not in src  # no forced broadcast of O(V)/O(E) frames
    # the adjacency spread: AQE coalesces the |V|-row adjacency by
    # shuffle BYTES, but the explode+intersect work amplifies per row —
    # the round-robin repartition before the explode is what keeps the
    # dominant stage at full parallelism (5.1 s -> 0.9 s when added)
    assert "RoundRobinPartitioning" in plan, plan
    df = registry.QUERIES["q_triangle_count"](spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, final  # AQE converted at this SF


def test_pagerank_scalar_broadcast_no_global_window(spark, sf_dir):
    """q_pagerank: the node count rides as a broadcast 1-row frame
    (BroadcastNestedLoopJoin), the contribution join is NOT
    hint-broadcast (both sides are corpus-sized at 100 TB), and no
    iteration introduces a global window or cartesian product."""
    plan = plan_of(spark, sf_dir, "q_pagerank")
    tree = plan.split("\n(1)")[0]
    assert "Window" not in tree, plan
    assert "CartesianProduct" not in plan, plan
    import inspect

    from data_engineering_project_spotify_app_spark.operators import graphs

    src = inspect.getsource(graphs.pagerank)
    # only the 1-row node-count frame is ever hint-broadcast
    assert src.count("F.broadcast(") == src.count("F.broadcast(nc)")


@pytest.mark.parametrize(
    "name",
    [
        "q_ntile",
        "q_rank_functions",
        "q_rfm_segments",
        "q_epoch_shuffle",
        "q_pareto_report",
    ],
)
def test_global_rank_analytics_two_phase(spark, sf_dir, name):
    """q_ntile / q_rank_functions must NOT run a single-partition
    global-order window over the customer table (the 100×-scale
    serialization point). The two-phase form (rankutil.py): a range
    exchange pinned behind a lazy localCheckpoint (visible here as the
    Scan ExistingRDD boundary — the r13 execution-consistency fix),
    local row_number windows partitioned by pid, broadcast offsets.
    The only unpartitioned windows run over the per-range count frame
    (one row per range). The rangepartitioning itself is pinned on
    rankutil.ranged_by directly (test below), since the checkpoint
    hides it from consumer explains. Consumers that additionally pin
    the RANKED frame (q_epoch_shuffle: two downstream branches) show
    the pid windows in the captured pre-pin plan instead of the final
    explain — assert over both."""
    plan, phase1 = _plan_with_phase1(spark, sf_dir, name)
    _, pins = plan_with_pins(spark, sf_dir, name)
    full = plan + "".join(pins)
    assert "Scan ExistingRDD" in plan, plan
    assert "windowspecdefinition(pid#" in full, full
    _assert_phase1_is_single_range_exchange(name, phase1)


def _plan_with_phase1(spark, sf_dir, name):
    """The consumer's plan PLUS the pre-checkpoint plans of every
    phase-1 frame its construction checkpointed (rankutil's observation
    hook, ADVICE r13): 'Scan ExistingRDD' alone is satisfied by ANY
    RDD-backed frame, so without this nothing tied the scanned RDD to
    ranged_by's single range exchange — a hash repartition smuggled
    behind the checkpoint would have passed the consumer pins."""
    from data_engineering_project_spotify_app_spark.operators import (
        rankutil,
    )

    captured: list[str] = []

    def _obs(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        captured.append(buf.getvalue())

    rankutil.PHASE1_OBSERVERS.append(_obs)
    try:
        plan = plan_of(spark, sf_dir, name)
    finally:
        rankutil.PHASE1_OBSERVERS.remove(_obs)
    return plan, captured


def _assert_phase1_is_single_range_exchange(name, phase1):
    """Every observed pre-checkpoint frame must be <projections> over
    ONE rangepartitioning Exchange over the (arbitrary) input
    derivation: the topmost Exchange in tree order is the one the
    checkpoint pins, so a hash repartition swapped in there — or any
    compute smuggled between the range exchange and the checkpoint —
    fails here even though the consumer plan only shows Scan
    ExistingRDD."""
    import re

    assert phase1, f"{name}: no two-phase checkpoint observed"
    for p in phase1:
        tree = p.split("\n\n")[0]
        m = re.search(r"^(.*?)\bExchange \((\d+)\)", tree, re.S)
        assert m, f"{name} phase-1: no Exchange\n{p}"
        above, nid = m.group(1), m.group(2)
        # nothing but plan scaffolding / projections above the exchange
        for line in above.splitlines():
            op = re.sub(r"[+\-:*= ]", "", line).split("(")[0]
            assert op in ("", "PhysicalPlan", "AdaptiveSparkPlan",
                          "Project"), f"{name} phase-1:\n{p}"
        detail = re.search(
            rf"\({nid}\) Exchange\n(.*?)(?:\n\n|\Z)", p, re.S
        )
        assert detail and "rangepartitioning" in detail.group(1), (
            f"{name} phase-1 top exchange not range:\n{p}"
        )
        # exactly one range exchange in the whole frame (the upstream
        # derivation may hash-shuffle freely, but never range-sample)
        assert p.count("rangepartitioning") == 1, f"{name} phase-1:\n{p}"


def test_ccnet_rank_is_two_phase_range_partitioned(spark, sf_dir):
    """q_ccnet_buckets' global ranking must be the two-phase form:
    the checkpointed range exchange (Scan ExistingRDD boundary),
    per-range local row_number windows (partitionBy=[pid…]), broadcast
    offsets — the only unpartitioned windows run over the per-partition
    count frame (one row per range), never over document rows."""
    plan, phase1 = _plan_with_phase1(spark, sf_dir, "q_ccnet_buckets")
    assert "Scan ExistingRDD" in plan, plan
    assert "windowspecdefinition(pid#" in plan, plan
    _assert_phase1_is_single_range_exchange("q_ccnet_buckets", phase1)


def test_ranged_by_is_single_range_exchange(spark, sf_dir):
    """The phase-1 frame both two-phase operators checkpoint
    (rankutil.ranged_by): exactly ONE Exchange, and it is
    rangepartitioning on the sort key — the shape the consumer pins
    above can no longer see through the checkpoint boundary."""
    from pyspark.sql import functions as F

    from data_engineering_project_spotify_app_spark.operators.rankutil import (
        ranged_by,
    )
    from data_engineering_project_spotify_app_spark.tables import table

    c = table(spark, sf_dir, "customer")
    df = ranged_by(c, [F.col("c_acctbal"), F.col("c_custkey")], 8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "rangepartitioning" in plan, plan
    assert _n_ops(plan, "Exchange") == 1, plan


@pytest.mark.parametrize("name", ["q_bm25_search", "q_weighted_sample"])
def test_retrieval_topk_is_take_ordered(spark, sf_dir, name):
    """Final top-k stages (BM25 ranking, the A-ES sampling race) must
    be TakeOrderedAndProject — per-partition top-k + k-merge — not a
    global sort of the corpus."""
    plan = plan_of(spark, sf_dir, name)
    assert "TakeOrderedAndProject" in plan, plan
    tree = plan.split("\n(1)")[0]
    assert "\n+- Sort" not in tree, plan


def test_weighted_sample_has_no_shuffle(spark, sf_dir):
    """The A-ES race is a pure per-row projection + top-k: zero
    hash/range exchanges (the only data movement is the k-row merge
    inside TakeOrderedAndProject)."""
    plan = plan_of(spark, sf_dir, "q_weighted_sample")
    assert _n_ops(plan, "Exchange") == 0, plan


def test_bloom_prune_filter_is_scalar_broadcast(spark, sf_dir):
    """q_bloom_prune ships the whole Bloom filter as ONE broadcast map
    row (BroadcastNestedLoopJoin); the probe side is scalar expressions
    over the orders scan — no explode, no per-order re-aggregation
    join, no shuffle of orders before the verdict fold."""
    plan = plan_of(spark, sf_dir, "q_bloom_prune")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_simhash_hamming_pairs_are_bucket_collected(spark, sf_dir):
    """q_simhash_hamming generates candidate pairs array-side inside
    capped block buckets (collect_list + transform), never via a
    self-join or cartesian product of the signature frame."""
    plan = plan_of(spark, sf_dir, "q_simhash_hamming")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_chunk_documents_is_single_stage(spark, sf_dir):
    """RAG chunking is a pure per-document array pipeline (Generate
    barrier + sequence + posexplode): no hash/range repartitioning —
    the only allowed exchange is table_parallel's round-robin input
    spread (small-file parallelism; a no-op on a real multi-split
    scan)."""
    plan = plan_of(spark, sf_dir, "q_chunk_documents")
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_bucketed_join_query_elides_join_exchange(spark, sf_dir):
    """q_bucketed_join: after the landings, the fact-to-fact join reads
    co-located buckets — NO Exchange on the join key on either side
    (broadcast disabled so AQE can't mask the elision); the only
    shuffle left is the final groupBy on o_orderpriority."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = registry.QUERIES["q_bucketed_join"](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "hashpartitioning(okey" not in plan, plan
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_weighted_sample_per_source_uses_window_group_limit(spark, sf_dir):
    """The per-source race must push rn<=k below the source shuffle
    (WindowGroupLimit): each map task ships at most k rows per source,
    never the corpus."""
    plan = plan_of(spark, sf_dir, "q_weighted_sample_per_source")
    assert "WindowGroupLimit" in plan, plan


def test_kmv_merge_both_levels_group_limited(spark, sf_dir):
    """Both sketch levels (per-shard build + merge) must compile their
    dense_rank<=k filters into WindowGroupLimit map-side prunes."""
    plan = plan_of(spark, sf_dir, "q_kmv_merge")
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_lm_decontaminate_has_no_global_window(spark, sf_dir):
    """Eval-LM scoring is joins + hash aggs only — no WindowExec at all
    (the failure mode for per-doc scoring would be a rank window)."""
    plan = plan_of(spark, sf_dir, "q_lm_decontaminate")
    assert "Window" not in plan, plan


def test_quality_classifier_broadcasts_model_vector(spark, sf_dir):
    """The D-row weight table must broadcast (explicit hint — tokens are
    the 100 TB side and must never shuffle by bucket) and the only
    exchange feeds the per-doc aggregation."""
    plan = plan_of(spark, sf_dir, "q_quality_classifier")
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan


def test_gopher_rules_is_single_projection(spark, sf_dir):
    """All Gopher signals come from one tokenization in one codegen
    map — no join, no window, and the ONLY exchange is table_parallel's
    deliberate round-robin spread of the single-file local scan (which
    a many-file 100 TB layout wouldn't need)."""
    plan = plan_of(spark, sf_dir, "q_gopher_rules")
    for bad in ("Join", "Window"):
        assert bad not in plan, (bad, plan)
    assert _n_ops(plan, "Exchange") <= 1, plan
    if "Exchange" in plan:
        assert "RoundRobinPartitioning" in plan, plan


def test_dsir_ratio_table_is_broadcast(spark, sf_dir):
    """The D=8192-row log-ratio table must broadcast onto the candidate
    features — exploded bigrams must never shuffle by bucket."""
    plan = plan_of(spark, sf_dir, "q_dsir_weights")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_vocab_coverage_topv_and_broadcast(spark, sf_dir):
    """The top-V cut must be TakeOrderedAndProject (per-partition top-V
    + k-merge over the vocabulary) and the vocab join an explicit
    broadcast — the corpus never shuffles by token for the lookup."""
    plan = plan_of(spark, sf_dir, "q_vocab_coverage")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "q_lm_backoff_score",
        "q_lm_kneser_ney",
        "q_lm_kneser_ney_3",
        "q_ngram_novelty",
        "q_token_entropy",
        "q_phrase_search",
        "q_phrase_search_3",
        "q_cms_join_size",
        "q_source_quality_report",
        "q_lm_decontaminate",
        "q_dsir_weights",
    ],
)
def test_round5_scorers_have_no_window(spark, sf_dir, name):
    """Every round-5 scoring/report query is joins + hash aggs only —
    a rank window anywhere would be the 100x scale-killer shape."""
    plan = plan_of(spark, sf_dir, name)
    assert "Window" not in plan, (name, plan)


def test_source_keywords_topk_is_group_limited(spark, sf_dir):
    """Top-k distinctive terms per source must compile to a
    WindowGroupLimit prune, never a full per-source sort."""
    plan = plan_of(spark, sf_dir, "q_source_keywords")
    assert "WindowGroupLimit" in plan, plan


def test_jaccard_prefix_join_rank_is_two_phase(spark, sf_dir):
    """The global shingle-rarity ranking must be the two-phase range
    rank: every windowspec is either pid-partitioned (local row_number)
    or over the per-range count frame — no single-partition window over
    the shingle vocabulary. Pinned on the factored per-doc builder: the
    registered query consumes it through a localCheckpoint boundary
    (ADVICE r9 cache fix) that hides this subplan from its own explain."""
    import contextlib
    import io
    import re

    from data_engineering_project_spotify_app_spark.operators.dedup import (
        _jp_per_doc,
    )

    spark.catalog.clearCache()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _jp_per_doc(spark, sf_dir).explain("formatted")
    plan = buf.getvalue()
    wins = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert wins, plan
    for w in wins:
        assert "pid" in w or "cnt" in w, (w, plan)


def test_ivf_partitioned_index_uses_dynamic_pruning(spark, sf_dir):
    """q_ann_ivf_partitioned's index scan must carry a dynamicpruning
    partition filter — the probe join on the partition column is what
    makes the at-rest inverted lists pay off (only probed cid=
    directories read). Falls back to a full index scan silently if DPP
    ever stops applying, which this pin catches."""
    plan = plan_of(spark, sf_dir, "q_ann_ivf_partitioned")
    assert "dynamicpruning" in plan, plan


@pytest.mark.parametrize(
    "name", ["q_intra_doc_dedup", "q_remove_overlaps_short"]
)
def test_span_removal_windows_are_doc_partitioned(spark, sf_dir, name):
    """Every window in the span-removal family must partition on a
    doc-bounded key (doc_id for the interval merge, (doc_id, diag) /
    (da, db, diag) for the islands) — no single-partition window
    anywhere, so the operators shard by document at any corpus size."""
    import re

    plan = plan_of(spark, sf_dir, name)
    wins = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert wins, plan
    for w in wins:
        assert ("doc_id" in w) or ("da#" in w and "db#" in w), (w, plan)


@pytest.mark.parametrize("name", ["q_page_slice", "q_embedding_outliers"])
def test_global_topk_rank_is_group_limited(spark, sf_dir, name):
    """Global top-k via rank() over a total order must get the
    WindowGroupLimit map-side prune (only rank/dense_rank do on this
    Spark build — row_number() regressing back in would funnel the full
    input through an Exchange SinglePartition before the window)."""
    plan = plan_of(spark, sf_dir, name)
    assert "WindowGroupLimit" in plan, plan


def test_skyline_frontier_has_no_single_partition_window(spark, sf_dir):
    """q_skyline's running max must be the two-phase range-partitioned
    form: every window over price-level rows is partitioned by pid; the
    only unpartitioned window runs over the n_ranges-row carry frame —
    no Exchange SinglePartition feeding a Window over data rows."""
    import re

    plan = plan_of(spark, sf_dir, "q_skyline")
    # the range exchange sits behind two_phase_prefix_max's checkpoint
    # boundary (r13 execution-consistency fix; rangepartitioning itself
    # is pinned on rankutil.ranged_by directly)
    assert "Scan ExistingRDD" in plan, plan
    assert "windowspecdefinition(pid#" in plan, plan
    # the unpartitioned carry window exists but consumes the per-range
    # aggregate (pid, _ptot), never price-level rows: assert no window
    # spec orders by price without a pid partition key
    bad = [
        w
        for w in re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        if "price" in w and "pid#" not in w
    ]
    assert not bad, (bad, plan)


def test_degree_agg_rides_bucketed_edge_landing(spark, sf_dir):
    """The shared edge landing is bucketed on src, so q_degree_histogram's
    degree aggregation (groupBy src) must be co-located — no Exchange
    between the bucketed scan and the degree HashAggregate; the only
    shuffle left is the |distinct degrees|-row histogram re-agg."""
    plan = plan_of(spark, sf_dir, "q_degree_histogram")
    assert "Bucketed: true" in plan, plan
    tree = plan.split("\n(1)")[0]
    assert tree.count("Exchange") == 1, plan


def test_rrf_arm_topn_is_take_ordered(spark, sf_dir):
    """Each fusion arm must reduce to its top-N via
    TakeOrderedAndProject (per-partition heap + driver merge) BEFORE
    any global-order row numbering — a row_number over the corpus-sized
    arm would funnel it through one task (only rank()/dense_rank() get
    WindowGroupLimit on this build). Two arms + the fused top-k."""
    plan = plan_of(spark, sf_dir, "q_rrf_fusion")
    assert plan.count("TakeOrderedAndProject") >= 3, plan


def test_matryoshka_is_one_broadcast_scan(spark, sf_dir):
    """The prefix-dim audit must broadcast the 5 query rows over ONE
    corpus scan (non-equi join → broadcast nested loop); the corpus
    must never cross a single-partition exchange, and the per-
    (prefix, query) ranking must stay hash-partitioned."""
    plan = plan_of(spark, sf_dir, "q_matryoshka_overlap")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_winnowing_no_global_funnel(spark, sf_dir):
    """Winnowing's pair report ends in a TakeOrderedAndProject top-100;
    nothing corpus-sized may pass through a single-partition exchange
    (the fingerprint self-join and both aggregates shuffle on their
    keys only)."""
    plan = plan_of(spark, sf_dir, "q_winnowing_pairs")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_winnowing_word_no_global_funnel(spark, sf_dir):
    """The word-gram winnowing granularity inherits the char form's
    plan contract: TakeOrderedAndProject top-k, nothing corpus-sized
    through a single-partition exchange."""
    plan = plan_of(spark, sf_dir, "q_winnowing_pairs_word")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_cluster_source_balance_marginal_joins(spark, sf_dir):
    """q_cluster_source_balance: the only corpus-sized stage is the
    (bucket, source) aggregate; the source and total marginals join
    back as broadcasts, and no corpus-sized frame crosses a
    single-partition exchange (the 1-row total aggregate is the only
    SinglePartition, and it is marginal-sized by construction)."""
    plan = plan_of(spark, sf_dir, "q_cluster_source_balance")
    assert "BroadcastExchange" in plan, plan
    # exactly the one-row total may be single-partition
    assert plan.count("Exchange SinglePartition") <= 1, plan
