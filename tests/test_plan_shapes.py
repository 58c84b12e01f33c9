"""Plan-shape regression tests: the physical plans the engine depends
on at scale, asserted so a refactor can't silently trade them away.
(`.explain("formatted")` is the review tool; these pin its verdicts.)"""

from __future__ import annotations

import contextlib
import io
import re

from github_miner_spark import registry
from tests.gate_utils import only

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = registry.all_specs()[name].spark(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_graph_topk_broadcasts_and_prunes(spark):
    plan = _plan(spark, "top_dependants_modules")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # name join must not shuffle both sides
    # column pruning reaches the edge scan: no src/version columns read
    scan_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    edge_schema = next(s for s in scan_schemas if "rel_type" in s)
    assert "version" not in edge_schema and "src:" not in edge_schema


def test_selective_filter_pushed_to_parquet(spark):
    plan = _plan(spark, "modules_used_by_repo")
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(src,421\)", plan)


def test_relational_join_order_broadcasts_dims(spark):
    plan = _plan(spark, "shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the BUILDING segment filter reaches the customer scan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(c_mktsegment,BUILDING\)", plan)


def test_dedup_has_no_allpairs_join(spark):
    plan = _plan(spark, "minhash_lsh_dups")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_one_hop_neighborhood_broadcasts_names(spark):
    plan = _plan(spark, "one_hop_neighborhood")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the point filters reach the parquet scans on both union branches
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(src,421\)", plan)
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(dst,72\)", plan)


def test_embedding_cosine_dups_bucket_join_only(spark):
    plan = _plan(spark, "embedding_cosine_dups")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_clusters_no_allpairs(spark):
    plan = _plan(spark, "dedup_clusters")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_one_window_no_join(spark):
    """events_asof_last_purchase must be the union-then-window shape:
    ONE shuffle on user_id feeding a window, and no join operator at
    all — the distributed as-of contract (a per-pair join would re-scan
    each user's purchase history per click)."""
    plan = _plan(spark, "events_asof_last_purchase")
    assert "Window" in plan
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                    "BroadcastNestedLoopJoin"):
        assert join_op not in plan, join_op
    # exactly one exchange hash-partitioned on user_id for the window
    # (formatted explain puts Exchange arguments on their own line)
    exchanges = re.findall(r"hashpartitioning\(user_id", plan)
    assert len(exchanges) == 1, plan


def test_range_join_keyed_not_cartesian(spark):
    """events_purchase_attribution must join on the user key with the
    time range as a join condition — never a time-cross-product."""
    plan = _plan(spark, "events_purchase_attribution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan)


def test_repetition_signals_single_explode_agg(spark):
    """doc_repetition_signals: the gram pipeline is explode -> keyed
    aggregation; no cartesian, no nested-loop, no window."""
    plan = _plan(spark, "doc_repetition_signals")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_bucketed_store_eliminates_exchanges(spark, tmp_path, monkeypatch):
    """Bucketing moves the shuffle to write time: on the bucketed edge
    table, a groupBy(dst) aggregation and a dst self-join must both
    plan with ZERO Exchange operators — and return exactly what the
    unbucketed plans return."""
    import contextlib
    import io as _io

    import github_miner_spark.io.bucketed as bucketed
    from github_miner_spark.graph.store import load_graph
    from pyspark.sql import functions as F

    monkeypatch.setattr(bucketed, "STORE_ROOT", str(tmp_path))

    def plan_of(df):
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    agg = bucketed.bucketed_dependant_counts(spark, SF)
    plan = plan_of(agg)
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan

    # the join contract holds when the planner picks SMJ — the only
    # choice at scale, forced here by disabling the broadcast threshold
    # the tiny fixture would otherwise hit
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        join = bucketed.bucketed_co_dependant_pairs(spark, SF)
        jplan = plan_of(join)
        assert "SortMergeJoin" in jplan, jplan
        assert "Exchange" not in jplan, jplan
        join_rows = sorted(map(tuple, join.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    e = load_graph(spark, SF).edges.filter(F.col("rel_type") == "DEPENDS_ON")
    want_agg = sorted(
        map(tuple, e.groupBy("dst").agg(F.count("*").alias("dependants")).collect())
    )
    assert sorted(map(tuple, agg.collect())) == want_agg and len(want_agg) > 0

    a = e.select(F.col("src").alias("ma"), "dst")
    b = e.select(F.col("src").alias("mb"), "dst")
    want_join = sorted(
        map(
            tuple,
            a.join(b, "dst")
            .filter(F.col("ma") < F.col("mb"))
            .select("dst", "ma", "mb")
            .collect(),
        )
    )
    assert join_rows == want_join and len(want_join) > 0


def test_topology_stats_no_allpairs(spark):
    """Triangle/wedge statistics and assortativity must stay on keyed
    equi-joins: the canonical a<b<c ordering and the degree joins give
    Catalyst hash joins, never a nested-loop blowup (the scalar-summary
    crossJoins in clustering are 1-row x 1-row and show as
    BroadcastNestedLoopJoin over singleton aggregates — acceptable;
    CartesianProduct over the edge tables is not)."""
    for name in ("clustering_coefficient_summary", "degree_assortativity"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_bpe_pairs_stay_vocab_bounded(spark):
    """The pair rollup must be a plain hash aggregate over the exploded
    pairs (map-side partial agg) feeding TakeOrdered — no join at all."""
    plan = _plan(spark, "bpe_merge_candidates")
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_split_assignment_broadcasts_cluster_map(spark):
    """The dup-cluster map is pair-bounded, so the docs-side join must
    broadcast it — a shuffle of the full corpus against a tiny map is
    the 100 TB failure mode."""
    plan = _plan(spark, "leakage_free_split_assignment")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_funnel_reuses_user_partitioning(spark):
    """Four stage aggregates all hash-partition on user_id; the plan
    must not re-exchange between consecutive stages beyond the first
    shuffle per branch (smoke: no cartesian, sort-merge allowed)."""
    plan = _plan(spark, "events_funnel")
    assert "CartesianProduct" not in plan


def test_semantic_dedup_pairs_join_on_list_id(spark):
    # SemDeDup's pair generation must stay an equi-join on list_id —
    # never an all-pairs comparison over the corpus
    plan = _plan(spark, "semantic_dedup_candidates")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_duplicated_spans_no_allpairs(spark):
    # span dedup is explode + window-keyed agg + one left join:
    # O(corpus tokens), no pairwise doc comparison
    plan = _plan(spark, "duplicated_span_stats")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_span_removal_plan_no_joins(spark):
    # the removal plan is explode + two windows (first-occurrence rule
    # on the RAW window text — dedup_queries.py makes text-not-hash a
    # correctness requirement of the cut-list contract, a 64-bit hash
    # collision would cut unique text — then run-merge per doc); no
    # join of any kind, so no pairwise doc work can hide anywhere
    plan = _plan(spark, "duplicated_span_removal_plan")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan


def test_q7_shape_broadcasts_dims(spark):
    # nation/supplier/customer sides broadcast; the only real shuffle
    # join is fact-to-fact on orderkey
    plan = _plan(spark, "nation_volume_shipping")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q18_having_before_joins(spark):
    # the per-order rollup + HAVING runs before orders/customer attach:
    # the aggregate must appear below the joins in the plan
    plan = _plan(spark, "large_order_customers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_embedding_decon_broadcasts_eval_side(spark):
    # the eval probes broadcast into one pass over the training scan;
    # the nested-loop join IS the intended broadcast-cross (bounded by
    # the small eval side), and the per-eval argmax must be an
    # aggregate, not a window over the scored scan
    plan = _plan(spark, "embedding_decontamination")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_chunk_plan_prunes_to_two_columns(spark):
    # the chunk plan needs only (doc_id, text) — pruning must reach
    # the documents scan
    plan = _plan(spark, "doc_chunk_plan")
    import re as _re

    schemas = _re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    doc_schema = next(s for s in schemas if "text" in s)
    assert "lang" not in doc_schema and "source" not in doc_schema


def test_q8_market_share_broadcasts_all_dims(spark):
    """Q8 shape: every dimension broadcasts; the only SortMergeJoin is
    the lineitem-orders fact join; the PROMO filter reaches the part
    scan; lineitem reads only the 5 needed columns."""
    plan = _plan(spark, "market_share_by_year")
    assert "CartesianProduct" not in plan
    # formatted explain lists each node twice (tree + detail); count
    # the detail headers
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) <= 1
    assert "BroadcastHashJoin" in plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(p_type,PROMO\)", plan)
    scan_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    li_schema = next(s for s in scan_schemas if "l_extendedprice" in s)
    assert "l_tax" not in li_schema and "l_shipdate" not in li_schema


def test_q21_semi_anti_join_shapes(spark):
    """Q21 shape: EXISTS compiles to a LeftSemi, NOT EXISTS to a
    LeftAnti — never a correlated re-scan or cartesian."""
    plan = _plan(spark, "suppliers_kept_waiting")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_with_topk_pipeline_takeordered(spark):
    """The Cypher mid-pipeline top-k compiles to TakeOrderedAndProject
    over the degree rollup (no global sort materialization)."""
    plan = _plan(spark, "cypher_with_topk_pipeline")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_scaling_dims_not_hint_forced(spark):
    """Customer/supplier-derived join sides must NOT carry a forced
    broadcast hint: with the size-based threshold disabled they have to
    degrade to a shuffle join (a ResolvedHint would keep them broadcast
    and OOM at 100x SF), while the genuinely bounded frames
    (region/nation/filtered part) stay hint-broadcast."""
    queries = [
        "shipping_priority",        # BUILDING-segment customer
        "regional_revenue",         # supplier dim
        "market_share_by_year",     # ASIA customers + supplier-nation
        "profit_by_nation_year",    # supplier-nation
        "brand_discount_revenue",   # Q19: filtered part, SF-scaling
    ]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in queries:
            plan = _plan(spark, name)
            assert "SortMergeJoin" in plan, (
                f"{name}: no shuffle join under threshold=-1 -> a "
                "scaling dim is still hint-forced to broadcast"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # bounded dims keep their hints: broadcast even with the threshold off
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "market_share_by_year")
        assert "BroadcastHashJoin" in plan  # region/nation/promo hints
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_incremental_dedup_no_allpairs(spark):
    plan = _plan(spark, "incremental_minhash_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round6_queries_no_allpairs(spark):
    """The round-6 additions must all be index/equi-join shaped: the
    source-overlap self-join hashes on shingle (the inequality is a
    post-join filter), the recall grader joins probe-set-sized top-k
    frames, and the KN filter is keyed joins end to end."""
    for name in (
        "source_overlap_matrix",
        "ivf_recall_at_k",
        "kn_perplexity_filter_rates",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_q16_q20_shapes(spark):
    """Q16: the arrears exclusion is a broadcast anti-join and the
    SF-scaling part join is NOT hint-forced; Q20: the bounded nation
    dim broadcasts, no cartesian anywhere."""
    plan = _plan(spark, "parts_supplier_relationship")
    assert "CartesianProduct" not in plan
    assert re.search(r"BroadcastHashJoin.*LeftAnti", plan, re.S)
    plan20 = _plan(spark, "potential_part_promotion")
    assert "CartesianProduct" not in plan20
    assert "BroadcastHashJoin" in plan20


def test_centrality_sample_no_allpairs(spark):
    """Closeness/betweenness sampled-source queries stay equi-join
    shaped (frontier x edges on node=src), never cartesian."""
    for name in ("closeness_centrality_sample", "betweenness_centrality_sample"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_pq_adc_scan_shape(spark, tmp_path, monkeypatch):
    """The PQ query path must scan ONLY the integer code table with
    the LUT broadcast — no float corpus read, no cartesian: the plan
    shows a BroadcastHashJoin into the codes scan whose ReadSchema
    carries no embedding array."""
    import github_miner_spark.functions.pq_store as pq_store

    monkeypatch.setattr(pq_store, "STORE_ROOT", str(tmp_path))
    df = pq_store.pq_topk_from_store(spark, SF, [0, 1, 2], k=5)
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    codes_schemas = [
        s for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan) if "cid" in s
    ]
    assert codes_schemas and all("embedding" not in s for s in codes_schemas)


def test_late_round6_additions_no_allpairs(spark):
    """Q2's decorrelated min, Q11's threshold, PMI's totals, and the
    gap-fill spine all flow scalar/bounded frames through broadcasts;
    the only non-equi joins allowed are those broadcast one-row (or
    wall-clock-bounded) cross joins — never a CartesianProduct."""
    for name in (
        "min_cost_supplier",
        "important_stock_by_nation",
        "bigram_pmi_collocations",
        "events_gap_filled_hourly",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_q2_min_is_decorrelated(spark):
    """min_cost_supplier must compute the per-part minimum as ONE
    aggregate joined back, not a correlated per-row subquery: the plan
    carries BOTH a (l_partkey, l_suppkey[, p_brand])-keyed aggregate
    (the derived relation — p_brand rides the grouping since r12's
    part-filter pushdown joins the dim BELOW the aggregate; it is
    functionally determined by l_partkey, so groups are unchanged)
    and a l_partkey-only-keyed min aggregate (the decorrelated best),
    joined back to the candidates."""
    plan = _plan(spark, "min_cost_supplier")
    assert "Join" in plan
    assert re.search(r"Keys \[[23]\]: \[l_partkey[^\]]*l_suppkey", plan), "derived relation agg missing"
    assert re.search(r"Keys \[1\]: \[l_partkey[^\]]*\]", plan), "decorrelated per-part min missing"


def test_sketch_divergence_additions_no_allpairs(spark):
    """The HLL sketch is two keyed rollups (register max, register
    sum) plus a 20-row source join; the KL model is one keyed rollup
    with two window sums — the only cross join either runs is the
    broadcast one-row corpus total. Never a CartesianProduct."""
    for name in (
        "hll_vocab_estimates",
        "source_unigram_kl",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_drift_walks_additions_no_allpairs(spark):
    """KS drift is one event-scale rollup + per-type windows over the
    grouped value support (its only cross join is the broadcast
    one-row midpoint); the walk generator is four state-x-edges
    equi-joins with map-side struct-argmin. Never a CartesianProduct.
    The walk queries now read the materialized store, so the
    no-cartesian contract is pinned on the BUILDER plan (the plan
    that actually runs the four-step pipeline) as well as the query."""
    import contextlib
    import io

    from github_miner_spark.functions.walk_store import build_det_walks

    for name in (
        "events_ks_drift",
        "deterministic_random_walks",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        build_det_walks(spark, SF).explain("formatted")
    assert "CartesianProduct" not in buf.getvalue()


def test_sketch_family_no_allpairs(spark):
    """CMS builds its 4096-row counter table from the vocabulary
    rollup and probes it with a broadcast top-20 set; the quantile
    sketch is two scans + a histogram window — the only cross joins
    are broadcast bounded frames, never a CartesianProduct."""
    for name in (
        "cms_heavy_hitter_estimates",
        "binned_quantile_estimates",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_bloom_prefilter_broadcasts_bits(spark):
    """The Bloom probe must be a broadcast join against the <=16384-row
    bit table (2 KB at 100 TB), never a shuffle of the corpus side on
    the bit key and never a CartesianProduct."""
    plan = _plan(spark, "bloom_decontamination_prefilter")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_node2vec_walks_no_allpairs(spark):
    import contextlib
    import io

    from github_miner_spark.functions.walk_store import build_node2vec_walks

    plan = _plan(spark, "node2vec_biased_walks")
    assert "CartesianProduct" not in plan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        build_node2vec_walks(spark, SF).explain("formatted")
    assert "CartesianProduct" not in buf.getvalue()


def test_hll_kmv_shingle_sketches_no_allpairs(spark):
    """Both shingle sketches build from the materialized index: the
    HLL is two keyed rollups; KMV's pair universe reuses the bounded
    shingle self-join and its sketch merge runs on 128-row-per-source
    frames. Never a CartesianProduct."""
    for name in (
        "hll_shingle_estimates",
        "kmv_set_operation_estimates",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_negative_sampling_bucket_join_is_hash_not_nested_loop(spark):
    """The inverse-CDF interval lookup must be the BUCKETIZED
    equi-join (broadcast hash on the bucket key + residual range
    filter), never a nested-loop RANGE join — a plain u BETWEEN lo
    AND hi join would plan an Inner BroadcastNestedLoopJoin and cost
    O(draws x vocab) comparisons at scale. The only permitted
    nested-loop joins are the broadcast 1-row scalar crossJoins
    (total, bucket width), which plan as BNLJ *Cross*."""
    plan = _plan(spark, "skipgram_negative_samples")
    import re

    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+)", plan):
        assert m.group(1) == "Cross", plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan


def test_sketch_family_global_stage_budget(spark):
    """VERDICT r7 item 7 — the sketch-family grading contract, pinned
    structurally: every approximate operator is registered WITH its
    exact twin, and the exact side's global sorts / single-partition
    funnels exist ONLY to grade. This test pins the exact number of
    SinglePartition exchanges and rangepartitioning (global-sort)
    exchanges in each sketch query's plan, so a future edit cannot
    silently move exact-side cost into the sketch path (or add a new
    corpus-scale global stage) without re-justifying the budget here.

    Documented budgets (what each nonzero count IS):
    - kll_quantile_merge: 2 SinglePartition = the merged-sketch and
      exact-twin global order statistics (the grading pair); 1 range
      = the 4-row final ORDER BY.
    - priority_sample_summary: 3 SinglePartition = the tau threshold
      scalar, the sample funnel, and the exact-sum grading scalar —
      all sketch-sized or scalar frames.
    - bloom_decontamination_prefilter: 1 SinglePartition = folding
      the <=16384-row bit table into the broadcast bitmap.
    - the per-key rollup families (hll/cms/kmv/binned) have NO
      single-partition stage; their 1 rangepartitioning is the
      result-sized final ORDER BY (cms/bloom end in a top-k or join,
      0). kmv's sorts are per-source 128-row window sorts riding
      hashpartitioning, not global."""
    budgets = {
        "kmv_set_operation_estimates": (0, 1),
        "cms_heavy_hitter_estimates": (0, 0),
        "hll_vocab_estimates": (0, 1),
        "hll_shingle_estimates": (0, 1),
        "binned_quantile_estimates": (0, 1),
        "bloom_decontamination_prefilter": (1, 0),
        "priority_sample_summary": (3, 0),
        "kll_quantile_merge": (2, 1),
    }
    for name, (single, rng) in budgets.items():
        plan = _plan(spark, name)
        got = (plan.count("SinglePartition"), plan.count("rangepartitioning"))
        assert got == (single, rng), (name, got)


def test_kll_compaction_windows_share_one_exchange(spark):
    """The 5 KLL rank-parity compaction passes all partition by
    event_type, so Catalyst plans ONE hash exchange for the whole
    per-group compaction chain (the chained sorts/filters reuse it) —
    the property that makes the sketch build a single-shuffle pass at
    any scale. Also: no cartesian anywhere (the 4-row target-rank
    joins are broadcast)."""
    plan = _plan(spark, "kll_quantile_merge")
    assert plan.count("hashpartitioning(event_type") == 1, plan
    assert "CartesianProduct" not in plan


def test_wordpiece_segmentation_pure_scan(spark):
    """wordpiece_segmentation_stats claims ZERO shuffles beyond the
    final source rollup: the vocabulary is driver constants inlined
    into a transform() jump table and one aggregate() fold, so the
    plan must contain NO joins and exactly two exchanges — the
    hashpartitioning(source) for the rollup and the result-sized
    rangepartitioning for the final ORDER BY."""
    import re

    plan = _plan(spark, "wordpiece_segmentation_stats")
    assert "Join" not in plan, plan
    hashex = re.findall(r"hashpartitioning\(source", plan)
    assert len(hashex) == 1, plan
    assert len(re.findall(r"rangepartitioning\(", plan)) == 1, plan
    assert "SinglePartition" not in plan, plan


def test_bm25_broadcast_stats_and_takeordered(spark):
    """bm25_retrieval_topk: doc-frequency and corpus stats must arrive
    as broadcasts (the 1-row stats frame as a broadcast Cross BNLJ,
    dfreq as a BroadcastHashJoin), the ranking must be bounded by a
    TakeOrderedAndProject before the k-row rank window, and nothing
    may sort-merge or cartesian."""
    import re

    plan = _plan(spark, "bm25_retrieval_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+)", plan):
        assert m.group(1) == "Cross", plan
    assert "BroadcastHashJoin" in plan, plan


def test_ivfpq_scan_reads_codes_not_floats(spark):
    """The IVFADC search scan must read ONLY the integer code table
    (vec_id, list_id, j, cid) — the float embedding column may appear
    solely in the probe/LUT subtrees, whose embeddings scans carry the
    query-id IN filter pushed down. Every join in the search is a
    broadcast; a sort-merge join would mean the code scan got
    shuffled."""
    import re

    plan = _plan(spark, "embedding_ivfpq_topk")
    scan_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    code_scans = [s for s in scan_schemas if "cid" in s]
    assert code_scans, plan
    for s in code_scans:
        assert "embedding" not in s, s
    emb_scans = [s for s in scan_schemas if "embedding" in s]
    assert emb_scans, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_anf_diameter_no_joins_in_readout(spark):
    """anf_effective_diameter under the task threshold: the kernel
    emits per-(h, node) integer sums, so the whole readout is
    aggregations and hops-bounded windows — the plan must contain no
    join operators at all, and the Arrow stage must be the grouped
    kernel (FlatMapGroupsInPandas), not a per-row UDF."""
    plan = _plan(spark, "anf_effective_diameter")
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_clustered_eval_plans_stay_broadcast_shaped(spark):
    """The clustered-corpus recall ladder must keep every rung's
    candidate generation bucketed/broadcast: the only nested-loop
    joins allowed are the documented broadcast-scalar Cross shapes
    (probe rows / centroid sets / the 1-row permutation against the
    corpus scan) — never an inner NLJ, never a cartesian between two
    corpus-sized sides; the ADC group-bys stay hash aggregates."""
    import re

    for name in (
        "clustered_corpus_profile",
        "clustered_lsh_recall_at_k",
        "clustered_pq_recall_at_k",
        "clustered_opq_recall_at_k",
        "clustered_ivf_recall_at_k",
        "clustered_ivfpq_recall_at_k",
        "clustered_pq_rerank_recall_at_k",
        "hybrid_fusion_relevance_at_k",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        for m in re.finditer(r"BroadcastNestedLoopJoin (\w+)", plan):
            assert m.group(1) in ("Cross", "LeftOuter", "FullOuter"), (
                name,
                m.group(1),
            )
        # the one sanctioned sort-merge: the RRF fusion's FULL OUTER
        # equi-join of the two k-row leg frames (full outer cannot
        # broadcast-hash; both sides are <= |probes| x leg_k rows at
        # any corpus scale)
        for m in re.finditer(r"SortMergeJoin(?: \w+)? (\w+)", plan):
            assert (
                name == "hybrid_fusion_relevance_at_k"
                and m.group(1) == "FullOuter"
            ), (name, m.group(1))


def test_hybrid_fusion_legs_planned_once(spark):
    """hybrid_fusion_relevance_at_k derives each retrieval leg exactly
    once: the fusion join carries rank_lex/rank_vec through, and all
    three in-cluster counts fold over the single fused frame (unpinned
    legs with per-consumer grading joins re-ran the corpus-scale
    candidate join + rank window per consumer — 12 embeddings scans in
    one plan). Each leg's rank window must appear exactly once in the
    plan (dl-ordered = lex, score-ordered = vec) alongside the single
    RRF window, and the corpus-side candidate generation stays
    broadcast-shaped."""
    plan = _plan(spark, "hybrid_fusion_relevance_at_k")
    for pat in (
        r"windowspecdefinition\(query_id#\d+L, dl#\d+",
        r"windowspecdefinition\(query_id#\d+L, score#\d+",
        r"windowspecdefinition\(query_id#\d+L, rrf#\d+",
    ):
        assert len(re.findall(pat, plan)) == 1, (pat, plan)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+)", plan):
        assert m.group(1) == "Cross", (plan, m.group(1))


def test_zipf_rank_is_distributed(spark):
    """VERDICT r11 item 4: corpus_zipf_fit's vocabulary rank must not
    straggle one task at scale. Above the gate (here its ladder is
    emptied, as the bench distributed lane empties it) the rank is
    distributed:
    range-partitioned shards pinned once (localCheckpoint — both
    consumers must see identical shard boundaries), the
    vocabulary-sized rank window partitioned by pid, the only
    unpartitioned window the shard-count-bounded offset cumsum,
    joined back via broadcast. Below the gate the single bounded
    window stays (the r12 A/B measured the distributed machinery at
    +0.75s of pure overhead at bench SF), and both paths produce
    identical results."""
    with only(corpus_zipf_fit="distributed"):
        plan = _plan(spark, "corpus_zipf_fit")
        # the vocab-sized rank window is keyed by the shard id
        assert re.search(
            r"windowspecdefinition\(pid#\d+, c#\d+L DESC", plan
        ), plan
        # the shard-offset side joins back via broadcast, never a shuffle
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
        # one pinned RDD feeds both consumers (rank + offsets): the two
        # ExistingRDD scans reference the same checkpointed RDD id
        rdd_ids = set(re.findall(r"(MapPartitionsRDD\[\d+\]) at localCheckpoint", plan))
        assert len(rdd_ids) == 1, rdd_ids
        forced = registry.all_specs()["corpus_zipf_fit"].spark(spark, SF).collect()

    default_plan = _plan(spark, "corpus_zipf_fit")
    # bench-SF default: the bounded single-task rank, no checkpoint
    assert "localCheckpoint" not in default_plan
    # the two dispatch paths agree exactly (shared quantized algebra)
    assert (
        registry.all_specs()["corpus_zipf_fit"].spark(spark, SF).collect()
        == forced
    )


def test_kmv_sketch_topk_is_distributed(spark):
    """r12: kmv_set_operation_estimates' k-minimum-values selection
    must not sort a whole SOURCE's distinct-shingle vocabulary in one
    window task at scale (sources are few, so each window partition is
    vocabulary-sized — the corpus_zipf_fit straggler class). Above the
    gate the selection is two-level: a per-(source, shard) top-K
    bounds every sort, then the per-source window ranks only the
    <= K*shards survivors; top-K of per-shard top-Ks is exactly the
    global top-K. Below the gate the single window stays (the r12 A/B
    measured the extra exchange at ~+0.47s of pure overhead at bench
    SF). Both dispatch paths must produce identical rows."""
    import contextlib
    import io

    from github_miner_spark.functions.text_store import load_source_overlap
    from github_miner_spark.queries.text_queries import _kmv_sketch

    uni, _, _ = load_source_overlap(spark, SF)

    def sketch_plan():
        # drive the pre-checkpoint sketch subtree directly: the
        # registered query pins it behind a lazy localCheckpoint, so
        # its windows never appear in the full query's final plan
        df = _kmv_sketch(spark, uni, n_uni_rows=uni.count())
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    with only(kmv_sketch="distributed"):
        plan = sketch_plan()
        # the vocabulary-scale sort is keyed by (source, shard), never by
        # source alone; the survivor rank runs after the r1 filter
        assert re.search(
            r"windowspecdefinition\(source#\d+, shard#\d+L", plan
        ), plan
        forced = (
            registry.all_specs()["kmv_set_operation_estimates"]
            .spark(spark, SF)
            .collect()
        )

    default_plan = sketch_plan()
    # bench-SF default: the single bounded window, no shard machinery
    assert "shard" not in default_plan
    # the two dispatch paths agree exactly
    assert (
        registry.all_specs()["kmv_set_operation_estimates"]
        .spark(spark, SF)
        .collect()
        == forced
    )


def test_gopher_repetition_no_windows_no_global_sort(spark):
    """gopher_repetition_stats: five explode+keyed-rollup passes with
    a map-side-combinable min(struct) argmax — the plan must contain
    NO Window operator (the r11 span-removal lesson: windows are the
    skew-prone alternative here) and no sort-merge machinery for the
    doc-keyed joins at test SF; the gram text never appears as an
    exchange key (only 60-bit hashes shuffle)."""
    plan = _plan(spark, "gopher_repetition_stats")
    assert "Window" not in plan, plan
    # per-doc frames broadcast at this SF; at scale they shuffle on
    # doc_id — either way no cartesian anywhere
    assert "CartesianProduct" not in plan


def test_dsir_broadcast_model_and_takeordered(spark):
    """dsir_importance_weights: the 64-row feature model and the
    Gumbel top-k membership must BROADCAST onto the corpus side, and
    the top-k itself must be TakeOrderedAndProject (k rows), never a
    global Sort."""
    plan = _plan(spark, "dsir_importance_weights")
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_bitext_margin_list_bounded_and_takeordered(spark):
    """bitext_mining_margin_topk: the pair space is the IVF list join
    (sum of squared list sizes — never a cartesian |X| x |Y|), the
    kNN windows partition by doc id, and the final top-20 is
    TakeOrderedAndProject."""
    plan = _plan(spark, "bitext_mining_margin_topk")
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # both kNN rank windows are partitioned (by x_id / y_id) — no
    # unpartitioned window anywhere in this plan
    assert re.search(r"windowspecdefinition\((?:x|y)_id#\d+L", plan), plan
    assert not re.search(r"windowspecdefinition\(s", plan), plan


def test_ccnet_buckets_window_bounded_to_histogram(spark):
    """ccnet_perplexity_buckets: the only window in the plan is the
    per-language cumulative over the fixed-bin histogram (keyed by
    lang), never a corpus-wide rank; the cutoffs broadcast back; one
    pinned scan feeds both the sample histogram and the full
    bucketing."""
    plan = _plan(spark, "ccnet_perplexity_buckets")
    wins = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert wins and set(wins) == {"lang"}, wins
    assert "BroadcastHashJoin" in plan, plan
    rdd_ids = set(re.findall(r"(MapPartitionsRDD\[\d+\]) at localCheckpoint", plan))
    assert len(rdd_ids) == 1, rdd_ids


def test_distinct_ngram_no_windows(spark):
    """distinct_ngram_diversity: three explode passes + one
    count-distinct rollup — no Window operator, no cartesian."""
    plan = _plan(spark, "distinct_ngram_diversity")
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_mixture_resample_single_pinned_corpus_pass(spark):
    """mixture_temperature_resample: the tokenizing corpus pass runs
    exactly once, into the pinned per-source rollup; every consumer
    (the token total, the tau normalizer, the final projection) reads
    the one checkpointed relation — dropping the pin re-inlines the
    tokenize pass into all of them (4 parquet scans in the r12 audit)."""
    plan = _plan(spark, "mixture_temperature_resample")
    assert "Scan parquet" not in plan, plan
    rdd_ids = set(re.findall(r"(MapPartitionsRDD\[\d+\]) at localCheckpoint", plan))
    assert len(rdd_ids) == 1, rdd_ids


def test_node_similarity_single_pinned_edge_set(spark):
    """node_similarity_jaccard: the distinct module-dep edge set and
    the node-sized degree rollup are each pinned once; the degree legs
    and both co-occurrence join sides read the pins — dropping them
    re-runs the scan + distinct Exchange four times (the r12 audit)."""
    plan = _plan(spark, "node_similarity_jaccard")
    assert "Scan parquet" not in plan, plan
    rdd_ids = set(re.findall(r"(MapPartitionsRDD\[\d+\]) at localCheckpoint", plan))
    assert len(rdd_ids) == 2, rdd_ids  # the edge pin + the degree pin


def test_clustered_graders_grade_against_stored_truth(spark):
    """VERDICT r12 item 6: the six clustered-ladder graders share ONE
    materialized brute-force truth leg (functions/clustered_store.py)
    instead of each re-deriving the corpus + crossJoin + rank window —
    the family's most expensive shared subtree (~1.2 s noop per grader
    at bench SF). Each grader's plan must read clu_truth.parquet and
    must NOT contain the truth leg's probe-broadcast crossJoin rank
    window a second time; the rerank grader additionally pins the
    (vec_id, nv) corpus it consumes twice (ADC encoding + exact
    re-rank join)."""
    for name in (
        "clustered_lsh_recall_at_k",
        "clustered_pq_recall_at_k",
        "clustered_opq_recall_at_k",
        "clustered_ivf_recall_at_k",
        "clustered_ivfpq_recall_at_k",
        "clustered_pq_rerank_recall_at_k",
    ):
        plan = _plan(spark, name)
        assert "clu_truth.parquet" in plan, name
        assert "CartesianProduct" not in plan, name
    # the pinned rerank corpus: exactly one embeddings scan remains
    # (the probe/codebook subsets read the pinned relation too)
    rerank = _plan(spark, "clustered_pq_rerank_recall_at_k")
    assert len(re.findall(r"embeddings\.parquet", rerank)) <= 2, rerank
