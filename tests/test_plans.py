"""Physical-plan regression tests: the scale discipline, enforced.

Correctness parity says a query computes the right rows; these tests pin
the *plan shape* that makes it hold at 100 TB — dimension joins stay
broadcast, filters and projections reach the parquet scan, single-shuffle
constructions stay single-shuffle, and nothing reintroduces a cartesian
product. A regression here is a performance bug even while every oracle
still matches.
"""

from __future__ import annotations

import re

import pytest

from data_preparation_plugin_spark.plans import QUERIES

from conftest import SF_DIR


def plan_of(spark, name: str, mode: str = "simple") -> str:
    """Physical-plan string; 'formatted' keeps scan details untruncated."""
    df = QUERIES[name].builder(spark, SF_DIR)
    explain_mode = (
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )
    return df._jdf.queryExecution().explainString(explain_mode)


def count(pattern: str, plan: str) -> int:
    return len(re.findall(pattern, plan))


def test_q9_star_join_all_broadcast(spark):
    """part/supplier/nation are dims: no sort-merge join, no fact shuffle
    before the final bounded-key aggregation."""
    plan = plan_of(spark, "q9_profit_by_nation_year")
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"BroadcastHashJoin", plan) == 3
    # only the (nation, year) aggregation exchanges
    assert count(r"Exchange hashpartitioning", plan) == 1


def test_q1_scan_prunes_columns(spark):
    """Q1 projects 7 of lineitem's 11 columns; the parquet ReadSchema must
    not contain the unused ones (column pruning reached the scan)."""
    plan = plan_of(spark, "q1_pricing_summary", mode="formatted")
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert read_schemas, plan
    for schema in read_schemas:
        assert "l_partkey" not in schema
        assert "l_suppkey" not in schema


def test_q6_filters_pushed_to_scan(spark):
    """Q6's selective predicates must appear as PushedFilters on the scan."""
    plan = plan_of(spark, "q6_forecast_revenue", mode="formatted")
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "l_discount" in pushed
    assert "l_quantity" in pushed


def test_q21_single_wide_shuffle(spark):
    """The per-order entry-array construction: one exchange keyed on
    l_orderkey plus the bounded final agg on s_name — nothing else."""
    plan = plan_of(spark, "q21_sole_late_supplier")
    assert count(r"Exchange hashpartitioning", plan) == 2
    assert count(r"SortMergeJoin", plan) == 0


def test_lsh_pairs_no_self_join(spark):
    """Candidate pairs come from in-bucket array expansion: the signature
    pipeline must appear once (no self-join re-executing lineage), and no
    join operator at all before the pair explode."""
    plan = plan_of(spark, "dedup_minhash_lsh_pairs")
    assert count(r"Join", plan) == 0
    # shingle agg + band-bucket agg + distinct = bounded exchange count
    assert count(r"Exchange hashpartitioning", plan) <= 3


def test_knn_not_cartesian(spark):
    """Brute-force kNN must not plan a cartesian/nested-loop product of the
    corpus with itself — query vectors are broadcast."""
    plan = plan_of(spark, "knn_bruteforce_cosine")
    assert count(r"CartesianProduct", plan) == 0


def test_split_train_test_no_shuffle(spark):
    """Hash-bucket split is a pure projection: zero exchanges."""
    plan = plan_of(spark, "split_train_test")
    assert count(r"Exchange", plan) == 0


def test_unpivot_no_shuffle(spark):
    """Unpivot is a Generate over the scan: zero exchanges."""
    plan = plan_of(spark, "unpivot_measures")
    assert count(r"Exchange", plan) == 0


@pytest.mark.parametrize(
    "name",
    [
        "q3_shipping_priority",
        "q5_local_supplier",
        "q18_large_volume_customer",
        "events_tumbling_hourly",
    ],
)
def test_benched_queries_whole_stage_codegen(spark, name):
    """Every benched relational query keeps its hot path inside
    whole-stage codegen (the "*(n)" stage markers in the finalized AQE
    plan) with no interpreted row-at-a-time Python operators."""
    df = QUERIES[name].builder(spark, SF_DIR)
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "*(" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontaminate_probe_broadcast(spark):
    """The benchmark probe side must broadcast (it is eval-suite-sized by
    nature); the corpus side must never shuffle into a join."""
    plan = plan_of(spark, "dedup_decontaminate")
    assert count(r"BroadcastHashJoin", plan) == 1
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"CartesianProduct", plan) == 0


def test_sequence_packing_single_shuffle(spark):
    """Per-stream packing: exactly one exchange, keyed on the stream."""
    plan = plan_of(spark, "sample_sequence_packing")
    assert count(r"Exchange", plan) == 1


def test_weighted_mix_single_shuffle(spark):
    """Mixture audit: projection plus one bounded-key aggregation."""
    plan = plan_of(spark, "sample_weighted_mix")
    assert count(r"Exchange", plan) == 1


def test_scrub_pii_no_shuffle(spark):
    """PII scrubbing is a pure per-row projection: zero exchanges."""
    plan = plan_of(spark, "text_scrub_pii")
    assert count(r"Exchange", plan) == 0


def test_ppm_decode_no_shuffle(spark):
    """Synthesize + decode are two chained mapInPandas passes over the
    scan — Arrow-batched, partition-parallel, zero exchanges."""
    plan = plan_of(spark, "multimodal_decode_ppm")
    assert count(r"Exchange", plan) == 0
    assert count(r"MapInPandas", plan) == 2


def test_merge_upsert_anti_join_no_extra_shuffle(spark):
    """The CDC merge plans a key anti join and never a cartesian; the
    union adds no exchange of its own."""
    plan = plan_of(spark, "sink_merge_upsert")
    assert count(r"CartesianProduct", plan) == 0
    assert count(r"LeftAnti", plan) >= 1


def test_segment_dedup_single_scan(spark):
    """Cross-doc segment profile: one corpus scan, digests-only shuffles,
    no join (a chunk↔frequency join would re-execute the chunk lineage
    per side and scan the text twice). r16 allows one extra exchange:
    the guarded ``parallelize_scan`` round-robin that fans a badly-split
    input out before the per-row-heavy chunk fold (a no-op on any input
    bigger than one wave of splits, so at scale the bound is back to 3)."""
    plan = plan_of(spark, "dedup_segments_cross_doc")
    assert count(r"FileScan", plan) == 1
    assert count(r"Join", plan) == 0
    assert count(r"Exchange", plan) <= 4


def test_partition_pruned_scan(spark):
    """The year filter must prune to one Hive partition directory, not
    filter a full scan (source_partition_pruning's 100 TB contract)."""
    plan = plan_of(spark, "source_partition_pruning", mode="formatted")
    assert re.search(r"PartitionFilters: \[[^\]]*o_year[^\]]*1995", plan), (
        "o_year=1995 not applied as a partition filter:\n" + plan
    )


def test_star_cc_equivalent_to_propagation(spark):
    """Both CC implementations must produce identical components on
    adversarial shapes (chain = worst case for propagation; star graphs
    = worst case for naive contraction)."""
    from data_preparation_plugin_spark.plans.dedup import (
        connected_components,
        connected_components_star,
    )

    cases = [
        [(i, i + 1) for i in range(0, 12)],              # one long chain
        [(0, i) for i in range(1, 8)] + [(20, 21)],      # star + pair
        [(1, 2), (2, 1), (3, 3), (2, 4)],                # dupes + self-loop
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "src long, dst long")
        a = sorted(map(tuple, connected_components(df).collect()))
        b = sorted(map(tuple, connected_components_star(df).collect()))
        assert a == b


def test_bloom_decontaminate_join_free(spark):
    """The Bloom prescreen's whole point: no join, no broadcast relation —
    the probe side is a constant-folded bitset literal; the only exchange
    is the final per-doc count."""
    plan = plan_of(spark, "dedup_bloom_decontaminate")
    assert count(r"Join", plan) == 0
    assert count(r"Exchange hashpartitioning", plan) == 1


def test_funnel_single_exchange(spark):
    """Stacked whole-partition window minimums + per-user collapse must
    ride ONE user_id exchange (the join-chain form costs 10)."""
    plan = plan_of(spark, "events_funnel_conversion")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Join", plan) == 0


def test_scd2_single_exchange(spark):
    """lag -> cumsum -> run-agg -> lead all share the custkey exchange."""
    plan = plan_of(spark, "transform_scd2")
    assert count(r"Exchange hashpartitioning", plan) == 1


def test_phash_dedup_no_pixel_shuffle(spark):
    """Decode+hash stay in mapInPandas before the single count exchange:
    the shuffle moves (phash, doc_id) longs, never payload bytes."""
    plan = plan_of(spark, "multimodal_phash_dedup")
    assert count(r"Exchange hashpartitioning", plan) == 1
    exchange_pos = plan.index("Exchange hashpartitioning")
    pandas_pos = plan.index("MapInPandas")
    # Plans print top-down: the exchange node appears above (before) the
    # mapInPandas source feeding it.
    assert pandas_pos > exchange_pos


def test_vocab_encode_join_is_broadcast(spark):
    """The top-V vocab must broadcast onto the token stream — a shuffled
    token join would move the whole corpus token column."""
    plan = plan_of(spark, "text_vocab_ids")
    assert count(r"BroadcastHashJoin", plan) >= 1
    assert count(r"SortMergeJoin", plan) == 0


def test_histogram_pure_map_agg(spark):
    """Closed-form binning: one exchange (the 20-key agg), no sort."""
    plan = plan_of(spark, "agg_histogram_fixed")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"\bSort\b", plan) == 0


def test_fuzzy_match_blocked_equi_join(spark):
    """Record linkage must join on the block key (hash join), never a
    cartesian with a distance filter."""
    plan = plan_of(spark, "dedup_fuzzy_entity_match")
    assert count(r"Cartesian|BroadcastNestedLoop", plan) == 0
    assert count(r"Join", plan) >= 1


def test_embedding_standardize_broadcast_stats(spark):
    """64 per-dimension moment rows broadcast back onto the value stream —
    a shuffled join would move the whole exploded corpus twice."""
    plan = plan_of(spark, "embedding_standardize")
    assert count(r"BroadcastHashJoin", plan) == 1
    assert count(r"SortMergeJoin", plan) == 0


def test_salted_join_replicates_hot_keys_only(spark):
    """The skew-salted join must replicate ONLY the hot dimension key
    across the salt space (a CASE-gated explode); whole-dim replication
    was measured going x6 at x8 input by the scale probe. The join itself
    stays a hash join on (key, salt)."""
    plan = plan_of(spark, "join_salted_skew")
    # Hot-only replication: the explode is CASE-gated, cold keys ship [0].
    assert re.search(r"Generate explode\(CASE WHEN", plan), plan
    assert "ELSE [0] END" in plan
    assert count(r"Cartesian|BroadcastNestedLoop", plan) == 0


def test_hierarchy_flatten_rounds_logarithmic(spark):
    """Pointer doubling must resolve a depth-D chain in ~log2(D) rounds —
    the leash for the probe-caught regression where sparse ancestor sets
    degraded doubling to per-level walking. A 4096-deep chain (every
    node present, so no arithmetic fast-forward help) must converge
    within ceil(log2(4096)) + 2 = 14 rounds."""
    import math

    from pyspark.sql import functions as F

    from data_preparation_plugin_spark.plans.analytics import (
        resolve_hierarchy,
    )

    bound = 2
    # Chain under div-2 parenting: node k's parent is k//2; the chain
    # 2^0=1(root, <bound) .. up. Use nodes 1..depth*? Simpler: nodes
    # {2^0..2^12-ish} is log-short. A *deep* chain needs consecutive
    # halvings: take node ids 2, 4, 8... no — div-2 halves values, so
    # value v sits at depth ~log2(v). Maximal-depth chain = all integers
    # 1..N: depth of N is log2(N). To force D real rounds use a dense
    # range [1, 2^13): depth 12, rounds <= ceil(log2(12))+2 = 6.
    n = 1 << 13
    nodes = spark.range(1, n).select(F.col("id").alias("node"))
    max_depth = int(math.log2(n - 1))
    leash = math.ceil(math.log2(max_depth)) + 2
    out = resolve_hierarchy(nodes, bound, max_rounds=leash)
    got = out.agg(F.max("depth")).collect()[0][0]
    assert got == max_depth


def test_triangle_count_wedges_never_sort(spark):
    """The wedge stream is the quadratic object in triangle counting: it
    must stay pipelined through broadcast hash joins — a sort-merge plan
    would shuffle and sort every wedge (measured 3x slower at sf0.1)."""
    plan = plan_of(spark, "graph_triangle_cooccurrence")
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"BroadcastHashJoin", plan) >= 2
    assert count(r"Cartesian|BroadcastNestedLoop", plan) == 0


def test_triangle_count_correct_under_hub_skew(spark, tmp_path):
    """Degree orientation (r12) must COUNT correctly on a hub graph — the
    skew shape it exists for: a K4 clique (4 triangles, every member in
    3) plus 50 spokes on one clique node (hub degree 53). Spokes close
    nothing, so counts are exactly the clique's; any double/missed
    enumeration in the rank-ordered wedge join shows up here."""
    rows = [(1, p) for p in (1, 2, 3, 4)]  # order 1: K4 over parts 1-4
    rows += [(1 + i, 1) for i in range(1, 51)]  # spoke orders: hub part 1
    rows += [(1 + i, 100 + i) for i in range(1, 51)]
    spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint"
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    got = {
        r.part: r.n_triangles
        for r in QUERIES["graph_triangle_cooccurrence"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_bigram_backoff_scoring_is_map_side(spark):
    """The backoff deployment's claim: model + unigram + scalar joins are
    ALL broadcast — the corpus stream is never shuffled on a bigram key;
    sort-merge never appears."""
    plan = plan_of(spark, "text_bigram_backoff_score")
    assert count(r"SortMergeJoin", plan) == 0
    # head counts, unigram backoff, top-K model, token-total scalar.
    assert count(r"BroadcastHashJoin", plan) >= 3
    assert count(r"BroadcastNestedLoopJoin", plan) <= 1  # the 1-row scalar
    assert count(r"CartesianProduct", plan) == 0


def test_bucketed_join_query_no_join_key_exchange(spark):
    """The registered bucketed join must never shuffle on the join key:
    bucketing baked the partitioning into the files. (The aggregate
    after the join still exchanges on its own group key — only custkey
    exchanges are banned. Broadcast demotion at tiny scale is fine; the
    point is no hashpartitioning on either custkey column.)"""
    plan = plan_of(spark, "layout_bucketed_join")
    assert count(r"Exchange hashpartitioning\(o_custkey", plan) == 0
    assert count(r"Exchange hashpartitioning\(c_custkey", plan) == 0


def test_interleave_has_no_global_sort(spark):
    """The interleave's whole claim: a TOTAL order with no global sort —
    no range partitioning anywhere; the only exchanges are the source
    hash key and the tiny dims."""
    plan = plan_of(spark, "sample_interleave_sources")
    assert count(r"Exchange rangepartitioning", plan) == 0


def test_dense_ids_have_no_global_sort(spark):
    """Dense 0..N-1 ids from bucket prefix-sums: no range partitioning,
    offsets broadcast back."""
    plan = plan_of(spark, "transform_dense_surrogate_ids")
    assert count(r"Exchange rangepartitioning", plan) == 0
    assert count(r"BroadcastHashJoin", plan) >= 1


def test_join_skew_profile_uses_takeordered(spark):
    """Top-N heavy keys via per-partition heaps, never a global sort of
    the key-count table."""
    plan = plan_of(spark, "profile_join_skew")
    assert "TakeOrderedAndProject" in plan
    assert count(r"Exchange rangepartitioning", plan) == 0


def test_trailing_dau_broadcasts_calendar(spark):
    """The report-day dimension is calendar-sized: broadcast, never
    sort-merge; the exploded pair relation is the only big stream."""
    plan = plan_of(spark, "events_trailing_dau")
    assert count(r"BroadcastHashJoin", plan) >= 1
    assert count(r"SortMergeJoin", plan) == 0


def test_variant_extraction_stays_jvm_side(spark):
    """VARIANT parse + variant_get are codegen expressions — no Python
    evaluation node may appear."""
    plan = plan_of(spark, "events_props_variant")
    assert count(r"BatchEvalPython|ArrowEvalPython|MapInPandas", plan) == 0


def test_kmv_intersection_sketch_joins_are_small(spark):
    """Sketch algebra's point: every SKETCH-side join (theta tables,
    common-hash pairs) is broadcast. The single allowed sort-merge join
    is the exact-overlap WITNESS — full-data by definition, documented
    as test-only and dropped in production."""
    plan = plan_of(spark, "agg_kmv_intersection")
    assert count(r"SortMergeJoin", plan) <= 1
    assert count(r"BroadcastHashJoin", plan) >= 3


def test_k_anonymize_qi_histogram_broadcasts(spark):
    """The QI histogram is domain-bounded: it must come back as a
    broadcast hash join, never a shuffle of the released table."""
    plan = plan_of(spark, "transform_k_anonymize")
    assert count(r"BroadcastHashJoin", plan) == 1
    assert count(r"SortMergeJoin", plan) == 0


def test_radius_search_has_no_shuffle(spark):
    """Range search is a broadcast nested loop + map-side filter: zero
    shuffle exchanges anywhere in the plan."""
    plan = plan_of(spark, "knn_radius_search")
    assert count(r"Exchange hashpartitioning|Exchange rangepartitioning", plan) == 0
    assert count(r"SortMergeJoin", plan) == 0


def test_global_shuffle_single_exchange_on_shard(spark):
    """Deterministic shuffle must cost exactly one exchange — keyed on the
    operator-chosen shard, never a global sort."""
    plan = plan_of(spark, "sample_global_shuffle")
    assert count(r"Exchange hashpartitioning\(shard", plan) == 1
    assert count(r"Exchange rangepartitioning", plan) == 0


def test_curriculum_quantiles_never_sort_the_corpus(spark):
    """Phase binning rides the value histogram: the doc stream joins the
    phase map by broadcast and is exchanged only on (phase, shard); no
    global-order window over the corpus."""
    plan = plan_of(spark, "sample_curriculum_order")
    assert count(r"BroadcastHashJoin", plan) >= 1
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"Exchange rangepartitioning", plan) == 0


def test_attribution_single_user_exchange(spark):
    """Last-touch attribution is one window: exactly one hash exchange,
    keyed on user_id."""
    plan = plan_of(spark, "events_attribution_last_touch")
    assert count(r"Exchange hashpartitioning\(user_id", plan) == 1
    assert count(r"Exchange", plan) <= 2  # + AQE output coalesce at most


def test_l_diversity_histogram_broadcasts(spark):
    """Same contract as k-anonymize: distinct-count QI histogram comes
    back broadcast; the released table never sort-merge joins."""
    plan = plan_of(spark, "transform_l_diversity")
    assert count(r"BroadcastHashJoin", plan) == 1
    assert count(r"SortMergeJoin", plan) == 0


def test_threshold_sweep_bounded_explode(spark):
    """The sweep grid joins broadcast-nested-loop (scalar side); the only
    hash exchange is the bounded (lang, threshold) aggregate."""
    plan = plan_of(spark, "curation_threshold_sweep")
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"Exchange hashpartitioning\(lang", plan) == 1


def test_nearest_centroid_argmin_is_map_side(spark):
    """The seat list broadcasts and partial aggregation collapses the
    candidate fan-out before the exchange — no window, no sort."""
    plan = plan_of(spark, "geo_nearest_centroid")
    assert count(r"SortMergeJoin|Window", plan) == 0
    assert count(r"partial_min", plan) >= 1


def test_bm25_tokenizes_twice_not_thrice(spark):
    """One scan for the corpus stats, ONE for the postings (dl carried
    through the explode, df as a postings window) — the join/aggregate
    form re-ran the regex tokenizer on a third full scan."""
    plan = plan_of(spark, "text_bm25_topk")
    assert count(r"FileScan parquet", plan) == 2
    assert count(r"SortMergeJoin", plan) == 0


def test_containment_pruned_no_cartesian_single_index_scan(spark):
    """Prefix filtering must stay candidate-driven: no cartesian/BNLJ
    anywhere. r16 shape: the ordered doc sets are persist()ed (not
    localCheckpointed — real InMemoryRelation stats keep the planner
    honest), so all four consumers (prefix probe, posting index, both
    verify sides) must read InMemoryTableScan, every join must plan
    hash-broadcast off the cache's measured size (a stats-less
    checkpoint degraded them all to sort-merge), and the candidate
    dedup must sit on the AQE-non-coalescable REPARTITION_BY_NUM that
    keeps the verify at full width. FileScans still appear TEXTUALLY
    inside the InMemoryRelation subtree dumps; the executed plan reads
    the corpus once, at cache build."""
    plan = plan_of(spark, "dedup_containment_pruned")
    assert count(r"CartesianProduct|BroadcastNestedLoopJoin", plan) == 0
    assert count(r"InMemoryTableScan", plan) >= 4
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"REPARTITION_BY_NUM", plan) >= 1


def test_posting_family_width_pinned(spark):
    """The jaccard/containment posting family's keyed exchanges (doc-size
    window on doc_id, postings groupBy on shingle) must sit on
    pin_width's AQE-non-coalescable REPARTITION_BY_NUM: AQE's byte-based
    coalescing collapsed the posting-list pair expansion to 4-6 tasks at
    fixture scale (r16 batch 4). Candidate generation stays posting-list
    driven — no cartesian/BNLJ anywhere."""
    for name in (
        "dedup_ngram_jaccard",
        "dedup_ngram_containment",
        "dedup_weighted_jaccard_pairs",
    ):
        plan = plan_of(spark, name)
        # The two pins asserted by KEY (r17, ADVICE r16: a >=3 count of
        # bare REPARTITION_BY_NUM conflated the pins with the
        # fixture-conditional parallelize_scan fan-out — one lost pin
        # could hide behind an extra scan repartition, and a no-op scan
        # guard on a different fixture would fail spuriously).
        assert count(
            r"hashpartitioning\(doc_id[^)]*\), REPARTITION_BY_NUM", plan
        ) >= 1, name
        assert count(
            r"hashpartitioning\(shingle[^)]*\), REPARTITION_BY_NUM", plan
        ) >= 1, name
        assert count(r"CartesianProduct|BroadcastNestedLoopJoin", plan) == 0, name


def test_markov_transitions_one_user_exchange(spark):
    """lead window exchanges once on user_id; the matrix agg and its
    normalizing window run over bounded |types|^2 keys."""
    plan = plan_of(spark, "events_markov_transitions")
    assert count(r"Exchange hashpartitioning", plan) == 3
    assert count(r"SortMergeJoin|CartesianProduct", plan) == 0


def test_path_trigrams_windows_share_one_exchange(spark):
    """Sessionize cumsum and the trigram leads both partition by user_id
    — Spark must plan ONE user exchange plus the bounded path agg."""
    plan = plan_of(spark, "events_path_trigrams")
    assert count(r"Exchange hashpartitioning", plan) == 2


def test_shot_boundaries_single_exchange_no_pixel_shuffle(spark):
    """Frame features flow map-side through Arrow; only the per-video
    islands window exchanges — and it moves feature rows, not pixels."""
    plan = plan_of(spark, "multimodal_shot_boundaries")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"MapInPandas|mapInPandas", plan) >= 1


def test_dynamic_gap_session_one_exchange(spark):
    """Native session_window with a per-event gap keeps the fixed-gap
    plan shape: one exchange keyed for the session merge."""
    plan = plan_of(spark, "events_sessionize_dynamic_gap")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"SortMergeJoin", plan) == 0


def test_kneser_ney_broadcasts_model_joins(spark):
    """Left/right statistics join back by broadcast (vocabulary-sized),
    the type total rides a scalar broadcast, and the checkpointed type
    table means zero re-derivation of the corpus explode."""
    plan = plan_of(spark, "text_kneser_ney_bigram")
    assert count(r"BroadcastHashJoin", plan) == 2
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"FileScan parquet", plan) == 0  # checkpoint absorbed it


def test_recall_audit_joins_stay_broadcast(spark):
    """The audit's own joins (members are queries x k rows) must never
    sort-merge — a SMJ here means a bounded relation got shuffled."""
    plan = plan_of(spark, "knn_ivf_recall_audit")
    assert count(r"SortMergeJoin", plan) == 0


def test_kcore_prune_reuses_checkpointed_edges(spark):
    """Degree counts and the survivor-induced recount all read the ONE
    checkpointed edge list; survivor filters join broadcast."""
    plan = plan_of(spark, "graph_kcore_prune_step")
    assert count(r"FileScan parquet", plan) == 0
    assert count(r"BroadcastHashJoin", plan) >= 3
    assert count(r"CartesianProduct", plan) == 0


def test_golden_record_is_one_aggregate(spark):
    """Survivorship compiles to one hash aggregate on the entity key —
    no window, no sort, no join."""
    plan = plan_of(spark, "transform_golden_record")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Window|SortMergeJoin|BroadcastHashJoin", plan) == 0


def test_cumulative_reach_sorts_only_the_spine(spark):
    """The running total's single-partition exchange must sit above the
    bounded daily spine (post-aggregate), never the event stream."""
    plan = plan_of(spark, "events_cumulative_reach")
    assert count(r"Exchange SinglePartition", plan) == 1
    assert count(r"SortMergeJoin", plan) == 0


def test_bitemporal_correction_stripe_is_live(spark):
    """Some corrections must survive the transaction-time filter so the
    latest-recorded-wins resolution actually runs (ADVICE r8: with the
    knowledge instant before the correction recording date, the stripe
    was dead code and n_from_corrections identically zero)."""
    df = QUERIES["join_bitemporal_asof"].builder(spark, SF_DIR)
    from pyspark.sql import functions as F

    row = df.agg(
        F.sum("n_from_corrections").alias("corr"),
        F.sum(F.when(df.status_believed == "UNKNOWN", df.n_items)).alias(
            "unknown"
        ),
    ).collect()[0]
    assert row["corr"] > 0, "correction stripe dead again"
    assert row["unknown"] > 0, "late-recorded-invisible path not exercised"


def test_geo_radius_pairs_blocked_never_cartesian(spark):
    """The point-set radius join must ride the grid-cell equi-join
    (broadcast here; dimension-sized supplier side), never a cartesian
    or nested-loop product."""
    plan = plan_of(spark, "geo_radius_pairs")
    assert count(r"BroadcastHashJoin", plan) == 1
    assert count(r"CartesianProduct|BroadcastNestedLoop", plan) == 0
    assert count(r"Exchange hashpartitioning", plan) == 1  # final argmin agg


def test_apply_in_arrow_single_shuffle(spark):
    """The Arrow grouped-map shuffles once on the flag key and runs one
    Arrow stage — no pandas conversion, no extra exchange."""
    plan = plan_of(spark, "udf_apply_in_arrow_regression")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"FlatMapGroupsIn", plan) == 1
    assert count(r"SortMergeJoin|BroadcastHashJoin", plan) == 0


def test_column_entropy_windows_only_histograms(spark):
    """Each profiled column collapses to its bounded histogram before the
    whole-frame entropy window: 3 histogram exchanges, 3 tiny
    single-partition windows, no join anywhere."""
    plan = plan_of(spark, "profile_column_entropy")
    assert count(r"Exchange hashpartitioning", plan) == 3
    assert count(r"Exchange SinglePartition", plan) == 3
    assert count(r"Join", plan) == 0


def test_source_overlap_digest_joins_never_cartesian(spark):
    """The source-pair matrix joins move shingles/digests only: equi-joins
    throughout (sizes broadcast), never a cartesian product."""
    plan = plan_of(spark, "curation_source_overlap")
    assert count(r"CartesianProduct|BroadcastNestedLoop", plan) == 0
    assert count(r"BroadcastHashJoin", plan) >= 2


def test_logline_parse_single_exchange_no_join(spark):
    """Log parsing is a narrow map: regex extracts feed one bounded
    (method, status) aggregation exchange, no join anywhere."""
    plan = plan_of(spark, "source_logline_parse")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Join", plan) == 0


def test_intersect_all_never_cartesian(spark):
    """intersectAll plans count-tagged aggregation, and the
    reconciliation joins stay broadcast/equi — no cartesian."""
    plan = plan_of(spark, "setop_intersect_all")
    assert count(r"CartesianProduct|BroadcastNestedLoop", plan) == 0
    assert count(r"SortMergeJoin", plan) == 0


def test_scd6_single_key_exchange(spark):
    """All four window functions (run flag, version cumsum, lead,
    current-value) share the one custkey partitioning: exactly one
    exchange in the whole plan."""
    plan = plan_of(spark, "transform_scd6_hybrid")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Join", plan) == 0


def test_aqe_splits_skewed_join_partitions(spark):
    """The documented skew story is two-layer: explicit salting
    (join_salted_skew) plus AQE's runtime skew-join split. This pins the
    AQE layer actually firing: with thresholds scaled to fixture size, a
    hot-key sort-merge join must show skew=true in the final adaptive
    plan and an AQEShuffleRead skewed reader on the hot side."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1MB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        from pyspark.sql import functions as F

        left = spark.range(0, 2_000_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(1))
            .otherwise(F.col("id"))
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        right = spark.range(0, 2_000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
        )
        joined = left.join(right, "k").select(F.max("payload"))
        [row] = joined.collect()
        assert row[0] is not None
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan and "AQEShuffleRead skewed" in plan, (
            "AQE did not split the skewed partition:\n" + plan[:2000]
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_range_split_points_tiny_broadcast_only(spark):
    """The cut table is 9 rows: it broadcasts through a nested-loop with
    the corpus (9 comparisons per row in codegen), never a sort-merge or
    a materialized global sort of the data."""
    plan = plan_of(spark, "sort_range_split_points")
    assert count(r"BroadcastNestedLoopJoin", plan) == 1
    assert count(r"SortMergeJoin", plan) == 0
    # the only Sort is the 9-row window ordering behind SinglePartition
    assert count(r"Exchange SinglePartition", plan) == 1


def test_minhash_incremental_band_join_never_pairs_index(spark):
    """The new batch meets the index only through the band-bucket
    equi-join; no cartesian, and the signature pipeline feeds both band
    sides without a self-join re-pairing the archive."""
    plan = plan_of(spark, "dedup_minhash_incremental")
    assert count(r"CartesianProduct|BroadcastNestedLoop", plan) == 0


def test_market_basket_materializes_baskets_once(spark):
    """Baskets feed four consumers: the plan must read the checkpointed
    RDD, not re-run the scan+join lineage per consumer; pair expansion
    is in-basket (no baskets self-join), supports broadcast back."""
    plan = plan_of(spark, "agg_market_basket_lift")
    assert count(r"Scan ExistingRDD", plan) >= 3
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"FileScan", plan) == 0


def test_target_encoding_windows_on_bounded_grid(spark):
    """The fact table is touched by ONE (category, fold) aggregate; the
    leave-fold-out windows run on the bounded 25-row grid behind a
    single-partition exchange."""
    plan = plan_of(spark, "transform_target_encoding_oof")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Exchange SinglePartition", plan) == 1
    assert count(r"Join", plan) == 0


def test_scalar_quantize_broadcasts_ranges(spark):
    """The 64-row per-dimension range table joins back by broadcast; the
    quantize/dequantize math never shuffles the vector stream beyond the
    final per-vector regroup (dim agg + regroup = 2 exchanges)."""
    plan = plan_of(spark, "knn_scalar_quantize")
    assert count(r"BroadcastHashJoin", plan) == 1
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"Exchange hashpartitioning", plan) == 2


def test_html_strip_is_pure_map(spark):
    """HTML extraction is one scan and zero exchanges — the whole
    regexp/HOF chain stays inside a single codegen stage."""
    plan = plan_of(spark, "text_html_boilerplate_strip")
    assert count(r"Exchange", plan) == 0
    assert count(r"FileScan parquet", plan) == 1
    assert count(r"Join", plan) == 0


def test_common_neighbors_reuses_checkpointed_edges(spark):
    """All five edge-list consumers (two wedge sides, the edge marker,
    two degree lookups) read the ONE checkpointed RDD — the LSH pipeline
    never re-executes — and the bounded side joins stay broadcast."""
    plan = plan_of(spark, "graph_common_neighbors")
    assert count(r"FileScan parquet", plan) == 0
    assert count(r"Scan ExistingRDD", plan) == 5
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"BroadcastHashJoin", plan) >= 3


def test_neyman_allocation_scans_orders_once(spark):
    """The stratum moments are checkpointed: the scalar normalizer and
    the readout both reuse the 5-row result — the fact table is read
    exactly once, and the only exchanges are the bounded aggregates."""
    plan = plan_of(spark, "sample_neyman_allocation")
    assert count(r"FileScan parquet", plan) == 0  # checkpoint absorbed it
    assert count(r"Exchange hashpartitioning", plan) == 0
    assert count(r"SortMergeJoin|CartesianProduct", plan) == 0


def test_domain_mixture_scans_corpus_once(spark):
    """Same single-scan discipline as the Neyman planner: the per-domain
    aggregate is checkpointed and feeds both the normalizer and the
    readout."""
    plan = plan_of(spark, "curation_domain_mixture")
    assert count(r"FileScan parquet", plan) == 0
    assert count(r"Exchange hashpartitioning", plan) == 0
    assert count(r"SortMergeJoin|CartesianProduct", plan) == 0


def test_manifest_stats_single_key_exchange(spark):
    """The manifest aggregate reads the staged files back with one hash
    exchange on the partition key and no joins."""
    plan = plan_of(spark, "sink_manifest_stats")
    assert count(r"Exchange hashpartitioning", plan) <= 2
    assert count(r"Join", plan) == 0


def test_cuped_one_exchange_then_bounded(spark):
    """The firehose collapses at the per-user exchange inside the
    checkpointed arm aggregate; everything downstream of the checkpoint
    is bounded (2 arm rows + a scalar broadcast)."""
    plan = plan_of(spark, "events_ab_cuped_adjust")
    assert count(r"FileScan parquet", plan) == 0  # checkpoint absorbed it
    assert count(r"Exchange hashpartitioning", plan) == 0
    assert count(r"SortMergeJoin|CartesianProduct", plan) == 0


def test_gram_matrix_shuffles_only_partials(spark):
    """Partial Gram: ONE Arrow stage over the scan, ONE exchange that
    moves d(d+1)/2 scalars per partition — the vector stream itself
    never shuffles."""
    plan = plan_of(spark, "embedding_gram_matrix")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"FileScan parquet", plan) == 1
    assert count(r"Join", plan) == 0


def test_survival_km_collapses_at_user_exchange(spark):
    """The firehose reduces at the checkpointed per-user aggregate; all
    downstream windows/products run on the bounded duration grid."""
    plan = plan_of(spark, "events_survival_km")
    assert count(r"FileScan parquet", plan) == 0  # checkpoint absorbed it
    assert count(r"SortMergeJoin|CartesianProduct", plan) == 0


def test_poisson_bootstrap_one_exchange(spark):
    """Replicate fan-out is a Generate over the scan; the only exchange
    is the REPS-keyed aggregate — the corpus never shuffles."""
    plan = plan_of(spark, "sample_poisson_bootstrap")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"FileScan parquet", plan) == 1
    assert count(r"Generate", plan) == 1
    assert count(r"Join", plan) == 0


def test_cardinality_estimate_bounded_tail(spark):
    """MCV selection is TakeOrdered at source (checkpointed); the rest
    aggregate anti-joins the bounded count table by broadcast."""
    plan = plan_of(spark, "profile_join_cardinality_estimate")
    assert count(r"FileScan parquet", plan) == 0
    assert count(r"BroadcastHashJoin", plan) == 1
    assert count(r"SortMergeJoin", plan) == 0


def test_image_sharpness_zero_shuffle(spark):
    """Synth + parse/convolve are two chained Arrow stages over one scan;
    pixels never shuffle."""
    plan = plan_of(spark, "multimodal_image_sharpness")
    assert count(r"Exchange", plan) == 0
    assert count(r"FileScan parquet", plan) == 1
    assert count(r"MapInPandas", plan) == 2


def test_span_corruption_pure_map(spark):
    """The whole denoising transform (block flags, sentinel numbering,
    both generated sequences) is one shuffle-free HOF projection."""
    plan = plan_of(spark, "text_span_corruption")
    assert count(r"Exchange", plan) == 0
    assert count(r"FileScan parquet", plan) == 1
    assert count(r"Join|Window", plan) == 0


def test_user_cap_one_exchange(spark):
    """Cap = rank window + aggregate sharing the ONE user_id exchange."""
    plan = plan_of(spark, "sample_user_contribution_cap")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Window", plan) == 1
    assert count(r"Join", plan) == 0


def test_whiten_audit_verify_pass_shape(spark):
    """The verify pass is the same partial-Gram shape as the moment
    pass: one Arrow stage, one bounded (i,j) exchange, no joins."""
    plan = plan_of(spark, "embedding_pca_whiten_audit")
    assert count(r"MapInPandas", plan) == 1
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Join", plan) == 0


def test_sequence_pattern_one_user_exchange(spark):
    """Path encoding collapses per user in one exchange; the regex work
    is a narrow map over the collapsed relation — no joins anywhere."""
    plan = plan_of(spark, "events_sequence_pattern")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"SortMergeJoin|BroadcastHashJoin|CartesianProduct", plan) == 0


def test_changepoint_cusum_bounded_windows(spark):
    """The firehose collapses to (type, day) in one agg exchange; every
    window after shares the event_type partitioning — 2 exchanges, no
    joins, one scan of events."""
    plan = plan_of(spark, "events_changepoint_cusum")
    assert count(r"Exchange hashpartitioning", plan) == 2
    assert count(r"Join", plan) == 0
    assert count(r"FileScan parquet", plan) == 1


def test_cramers_v_single_scan(spark):
    """Chi-square runs entirely on the r x c cell relation: orders is
    scanned exactly once and no join appears — the windows/final agg
    exchange only bounded-cardinality rows."""
    plan = plan_of(spark, "profile_cramers_v")
    assert count(r"FileScan parquet", plan) == 1
    assert count(r"Join", plan) == 0


def test_key_gini_single_scan_rank_over_keys(spark):
    """Per-key counts reduce map-side; the only single-partition step
    ranks KEY CARDINALITY (the documented t-digest swap point), never
    raw rows; lineitem is scanned once with only the key column read."""
    plan = plan_of(spark, "profile_key_gini")
    assert count(r"FileScan parquet", plan) == 1
    assert count(r"Join", plan) == 0
    assert count(r"Exchange SinglePartition", plan) == 1


def test_matryoshka_audit_broadcast_everywhere(spark):
    """Both scoring passes stream the corpus behind broadcast nested
    loops (the probe set is the broadcast side) and the final top-1
    vs top-1 join is broadcast — a SortMergeJoin anywhere means a
    10-row relation got shuffled."""
    plan = plan_of(spark, "embedding_matryoshka_audit")
    assert count(r"BroadcastNestedLoopJoin", plan) == 2
    assert count(r"SortMergeJoin", plan) == 0


def test_tokenizer_fertility_no_explode_one_exchange(spark):
    """Fertility counts tokens with narrow regexp expressions — no
    Generate (token explode) appears; one bounded |langs| exchange."""
    plan = plan_of(spark, "text_tokenizer_fertility")
    assert count(r"Generate", plan) == 0
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"FileScan parquet", plan) == 1


def test_zipf_head_is_take_ordered(spark):
    """The top-N head must plan as TakeOrderedAndProject, never a global
    sort of the vocabulary."""
    plan = plan_of(spark, "text_zipf_slope")
    assert count(r"TakeOrderedAndProject", plan) == 1
    assert count(r"Join", plan) == 0


def test_ks_drift_cdf_walk_over_distinct_values(spark):
    """One hash exchange collapses rows to per-distinct-value counts;
    the single-partition step walks DISTINCT VALUE cardinality (the
    documented t-digest swap point), never raw rows; no joins."""
    plan = plan_of(spark, "profile_ks_drift")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Exchange SinglePartition", plan) == 1
    assert count(r"Join", plan) == 0


def test_power_analysis_no_cartesian(spark):
    """The pilot recompute joins exposure back by key (broadcast at
    fixture scale, hash at cluster scale) — never a cartesian; the
    formula itself runs on a single row."""
    plan = plan_of(spark, "events_power_analysis")
    assert count(r"CartesianProduct|BroadcastNestedLoopJoin", plan) == 0


def test_rolling_median_single_exchange(spark):
    """The trailing-frame median is one user exchange; the frame array
    is bounded, so no join/extra shuffle appears."""
    plan = plan_of(spark, "window_rolling_median")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Join", plan) == 0


def test_time_to_convert_rank_over_converted_only(spark):
    """One user-keyed collapse; the single-partition order statistic
    runs over converted users only — no join back to raw events."""
    plan = plan_of(spark, "events_time_to_convert")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Exchange SinglePartition", plan) == 1
    assert count(r"Join", plan) == 0


def test_ivf_cell_balance_codebook_broadcast(spark):
    """Assignment streams the corpus against the broadcast codebook
    (the only nested loop); no sort-merge join anywhere."""
    plan = plan_of(spark, "knn_ivf_cell_balance")
    assert count(r"BroadcastNestedLoopJoin", plan) == 1
    assert count(r"SortMergeJoin", plan) == 0


def test_weighted_jaccard_no_doc_product(spark):
    """Weighted pairs expand inside capped posting lists exactly like
    the unweighted twin: no cartesian, no doc x doc self-join."""
    plan = plan_of(spark, "dedup_weighted_jaccard_pairs")
    assert count(r"CartesianProduct|BroadcastNestedLoopJoin", plan) == 0


def test_mode_exact_shuffles_combinations_only(spark):
    """(group, value) counts reduce map-side; the rank window shares the
    bounded combination relation — no join, one scan."""
    plan = plan_of(spark, "agg_mode_exact")
    assert count(r"Exchange hashpartitioning", plan) == 2
    assert count(r"Join", plan) == 0
    assert count(r"FileScan parquet", plan) == 1


def test_autocorr_bounded_windows_one_scan(spark):
    """Daily collapse + lead + moments all run on (type, day)
    cardinality: 2 exchanges, no joins, one scan."""
    plan = plan_of(spark, "events_autocorr_daily")
    assert count(r"Exchange hashpartitioning", plan) == 2
    assert count(r"Join", plan) == 0
    assert count(r"FileScan parquet", plan) == 1


def test_hits_step_reuses_checkpointed_pairs(spark):
    """All three consumers read the ONE checkpointed LSH pair list (no
    parquet scan survives); the only sort-merge join is the final
    node-sized hub/auth full-outer merge (full outer cannot broadcast)."""
    plan = plan_of(spark, "graph_hits_step")
    assert count(r"FileScan parquet", plan) == 0
    assert count(r"SortMergeJoin.*FullOuter", plan) == 1
    assert count(r"SortMergeJoin", plan) == 1
    assert count(r"CartesianProduct", plan) == 0


def test_geohash_encode_pure_map_one_agg(spark):
    """The encode is a narrow in-codegen expression: no UDF evaluator,
    no join; one bounded cell aggregate over one scan."""
    plan = plan_of(spark, "geo_geohash_encode")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Join", plan) == 0
    assert count(r"BatchEvalPython|ArrowEvalPython|MapInPandas", plan) == 0


def test_format_mask_scalar_broadcast_no_udf(spark):
    """The 10-row permutation folds to ONE broadcast scalar; the mask is
    a narrow translate expression — no UDF, no corpus shuffle."""
    plan = plan_of(spark, "transform_format_preserving_mask")
    assert count(r"Exchange hashpartitioning", plan) == 0
    assert count(r"BroadcastNestedLoopJoin", plan) == 1
    assert count(r"BatchEvalPython|ArrowEvalPython|MapInPandas", plan) == 0


def test_readability_pure_projection(spark):
    """Three regexp counts + the Flesch formula are a pure projection:
    zero exchanges of any kind."""
    plan = plan_of(spark, "text_readability")
    assert count(r"Exchange", plan) == 0
    assert count(r"BatchEvalPython|ArrowEvalPython|MapInPandas", plan) == 0


def test_position_attribution_broadcast_first_purchase(spark):
    """Touches join the user-level first-purchase aggregate by broadcast;
    position ranks stay inside the user window — no cartesian, no SMJ."""
    plan = plan_of(spark, "events_attribution_position")
    assert count(r"BroadcastHashJoin", plan) == 1
    assert count(r"SortMergeJoin|CartesianProduct", plan) == 0


def test_row_checksum_single_scan_bucket_agg(spark):
    """Encode + hash are in-codegen projections; the digest reduces
    map-side onto the bucket domain — one exchange, one scan, no UDF."""
    plan = plan_of(spark, "transform_row_checksum_digest")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"FileScan parquet", plan) == 1
    assert count(r"BatchEvalPython|ArrowEvalPython|MapInPandas", plan) == 0


def test_log2_histogram_bounded_agg_one_scan(spark):
    """The bucket expression is in-codegen (no log(), no UDF); one
    map-side-combinable exchange over ~60 possible buckets."""
    plan = plan_of(spark, "agg_log2_histogram")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Join", plan) == 0
    assert count(r"FileScan parquet", plan) == 1


def test_id_gap_audit_walks_distinct_keys(spark):
    """The islands walk orders DISTINCT keys after a combinable
    distinct — the single-partition step never sees raw rows."""
    plan = plan_of(spark, "profile_id_gap_audit")
    assert count(r"Exchange SinglePartition", plan) >= 1
    assert count(r"SortMergeJoin|CartesianProduct", plan) == 0


def test_dormancy_one_user_exchange(spark):
    """Lag window + per-user aggregate share one exchange and one sort;
    no joins, one scan."""
    plan = plan_of(spark, "events_dormancy_resurrection")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Join", plan) == 0


def test_interval_coalesce_single_sort(spark):
    """Running-max walk, island cumsum, and the interval aggregate all
    share the (key, lo, hi) partitioning: ONE exchange, ONE sort."""
    plan = plan_of(spark, "transform_interval_coalesce")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Sort ", plan) == 1
    assert count(r"Join", plan) == 0


def test_js_divergence_shuffles_vocabulary_only(spark):
    """Token counts reduce map-side; the divergence is one scalar agg
    over the vocabulary — no join, one hash exchange."""
    plan = plan_of(spark, "text_js_divergence")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Join", plan) == 0


def test_cohort_ltv_broadcast_first_seen(spark):
    """Purchases join the user-level first-seen aggregate; the weekly
    rollup and cumsum run on cohort x week cardinality — no cartesian,
    no sort-merge join at fixture scale."""
    plan = plan_of(spark, "events_cohort_ltv")
    assert count(r"CartesianProduct", plan) == 0
    assert count(r"BroadcastHashJoin", plan) == 1


def test_lness_two_bounded_aggs_no_join(spark):
    """(user, week) distinct-days then the histogram — two combinable
    aggregates, no joins, one scan."""
    plan = plan_of(spark, "events_lness_histogram")
    assert count(r"Join", plan) == 0
    assert count(r"FileScan parquet", plan) == 1


def test_bfs_rounds_read_checkpointed_edges(spark):
    """Every BFS round joins the checkpointed edge list — no parquet
    scan survives into the final plan, and no round plans a cartesian."""
    plan = plan_of(spark, "graph_bfs_levels")
    assert count(r"FileScan parquet", plan) == 0
    assert count(r"CartesianProduct", plan) == 0


def test_slo_burn_hourly_collapse_then_hours(spark):
    """The firehose collapses to hourly counts map-side; the rolling
    burn windows run over HOURS in one single-partition ordered frame;
    no joins, one scan."""
    plan = plan_of(spark, "events_slo_burn_rate")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Join", plan) == 0
    assert count(r"FileScan parquet", plan) == 1


def test_max_drawdown_single_sort(spark):
    """Cumsum, running-max-of-cumsum, and the per-key aggregate all
    share the key partitioning: one exchange, one sort, no joins."""
    plan = plan_of(spark, "window_max_drawdown")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Sort ", plan) == 1
    assert count(r"Join", plan) == 0


def test_edit_distance_verify_equi_join_only(spark):
    """Candidate generation is an equi-join on the blocking key — never
    a cartesian or broadcast-nested-loop over the corpus."""
    plan = plan_of(spark, "dedup_edit_distance_verify")
    assert count(r"CartesianProduct", plan) == 0
    assert count(r"BroadcastNestedLoopJoin", plan) == 0
    assert count(r"Join", plan) == 1


def test_license_filter_policy_broadcasts(spark):
    """The distinct-source policy dimension broadcasts onto the corpus
    scan; the gate is one broadcast join plus a bounded-key aggregate."""
    plan = plan_of(spark, "curation_license_filter")
    assert count(r"BroadcastHashJoin", plan) == 1
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"CartesianProduct", plan) == 0


def test_reset_cumsum_one_exchange_one_sort(spark):
    """The anchored form keeps the conditional-reset cumsum in ONE
    (custkey) partitioning: one exchange, one sort, stacked Window
    operators, zero joins — the naive (key, segment) second window
    would cost a second shuffle."""
    plan = plan_of(spark, "window_reset_cumsum")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Sort ", plan) == 1
    assert count(r"Join", plan) == 0


def test_peak_concurrency_single_scan_sweep(spark):
    """Session boundaries explode from ONE sessionize pass (a UNION of
    two selects would scan events twice); the sweep is join-free and
    runs over collapsed boundary rows in one ordered partition."""
    plan = plan_of(spark, "events_peak_concurrency")
    assert count(r"FileScan parquet", plan) == 1
    assert count(r"Join", plan) == 0
    assert count(r"Exchange SinglePartition", plan) == 1


def test_bloom_lookup_blooms_present_and_filter_pushed(spark):
    """Every staged row group carries a bloom filter on o_orderkey
    (parquet-mr footer API), and the IN point-predicate reaches the
    scan as a pushed filter."""
    import glob

    from data_preparation_plugin_spark.plans.ingest import _BLOOM_DIR

    plan = plan_of(spark, "layout_parquet_bloom_lookup")
    assert re.search(r"PushedFilters: \[[^\]]*In\(o_orderkey", plan)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    files = glob.glob(f"{_BLOOM_DIR}/*.parquet")
    assert files, "bloom staging dir empty"
    path = jvm.org.apache.hadoop.fs.Path(files[0])
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        path, conf
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    try:
        blocks = reader.getFooter().getBlocks()
        assert blocks.size() >= 2, "need multiple row groups for skipping"
        for i in range(blocks.size()):
            cols = blocks.get(i).getColumns()
            offs = [
                cols.get(j).getBloomFilterOffset()
                for j in range(cols.size())
                if "o_orderkey" in str(cols.get(j).getPath())
            ]
            assert offs and all(o >= 0 for o in offs), (
                f"row group {i} missing bloom on o_orderkey"
            )
    finally:
        reader.close()


def test_dpp_prunes_fact_partitions_at_runtime(spark):
    """The era predicate lives on the dimension; the fact scan's
    PartitionFilters must carry a dynamicpruningexpression so only the
    qualifying year directories are read."""
    plan = plan_of(spark, "layout_dpp_prune")
    m = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert m and "dynamicpruning" in m.group(0)
    assert count(r"BroadcastHashJoin", plan) == 1


def test_missingness_patterns_one_scan_no_join(spark):
    """Pure projection to the bounded pattern key + one aggregate —
    one scan, zero joins, zero windows."""
    plan = plan_of(spark, "profile_missingness_patterns")
    assert count(r"FileScan parquet", plan) == 1
    assert count(r"Join", plan) == 0
    assert count(r"Window", plan) == 0


def test_not_in_stays_null_aware_hash_anti_join(spark):
    """Both the NOT IN (null-aware) and NOT EXISTS subqueries plan as
    broadcast hash LeftAnti joins — the null-aware variant must not
    fall back to a nested-loop."""
    plan = plan_of(spark, "join_not_in_null_semantics")
    assert count(r"LeftAnti", plan) == 2
    assert count(r"BroadcastNestedLoopJoin", plan) == 0
    assert count(r"CartesianProduct", plan) == 0


def test_null_safe_eq_is_a_hash_join(spark):
    """eqNullSafe is still an equi-predicate: the planner must hash the
    null-normalized key, never degrade to a theta/nested-loop join."""
    plan = plan_of(spark, "join_null_safe_eq")
    assert count(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan) == 1
    assert count(r"BroadcastNestedLoopJoin", plan) == 0


def test_skewness_moments_single_combinable_agg(spark):
    """Raw decimal moments accumulate in ONE map-side-combinable
    aggregate; the closed-form conversion is a projection — one scan,
    one exchange, no joins, no windows."""
    plan = plan_of(spark, "agg_skewness_kurtosis")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Join", plan) == 0
    assert count(r"FileScan parquet", plan) == 1


def test_oov_vocab_broadcasts_to_probe(spark):
    """The top-V vocabulary is TakeOrdered-bounded and broadcast; the
    corpus token stream never shuffles on token for the probe join."""
    plan = plan_of(spark, "text_oov_rate")
    assert count(r"TakeOrdered", plan) == 1
    assert count(r"BroadcastHashJoin", plan) == 1
    assert count(r"SortMergeJoin", plan) == 0


def test_scalar_iter_single_arrow_stage_no_shuffle(spark):
    """The iterator UDF is one ArrowEvalPython over one scan — zero
    shuffle, zero joins; per-task init amortizes over all batches."""
    plan = plan_of(spark, "udf_scalar_iter_score")
    assert count(r"ArrowEvalPython", plan) == 1
    assert count(r"BatchEvalPython", plan) == 0
    assert count(r"Exchange", plan) == 0
    assert count(r"Join", plan) == 0


def test_trailing_dau_hll_one_corpus_scan(spark):
    """The distinct (user, day) pair relation is checkpointed once and
    feeds sketches, calendar, and the exact twin — no consumer rescans
    raw events."""
    plan = plan_of(spark, "events_trailing_dau_hll")
    assert count(r"FileScan parquet", plan) == 0
    assert count(r"CartesianProduct", plan) == 0


def test_bbox_overlap_equi_join_no_distinct(spark):
    """Both box sets explode to covering cells; the pair join is a
    broadcast hash equi-join on the cell key with reference-point
    dedup — no cartesian, and NO post-join distinct/aggregate."""
    plan = plan_of(spark, "geo_bbox_overlap_join")
    assert count(r"BroadcastHashJoin", plan) == 1
    assert count(r"CartesianProduct", plan) == 0
    assert count(r"HashAggregate", plan) == 0


def test_intradoc_dedup_doc_keyed_exchanges_only(spark):
    """One corpus scan; every exchange key starts with doc_id (rows
    move only with their document — skew bounded by the largest doc)."""
    plan = plan_of(spark, "text_intradoc_dedup")
    assert count(r"FileScan parquet", plan) == 1
    assert count(r"Join", plan) == 0
    for m in re.finditer(r"Exchange hashpartitioning\(([^,]*)", plan):
        assert "doc_id" in m.group(1), plan[m.start():m.start() + 120]


def test_identity_stitch_one_key_exchange_no_join(spark):
    """Sessionize + stitch are windows over one (user)-keyed exchange;
    the stitch is coalesce-over-window, never a join; the audit is the
    only single-partition step."""
    plan = plan_of(spark, "events_identity_stitch")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Join", plan) == 0
    assert count(r"FileScan parquet", plan) == 1


def test_scd3_single_key_exchange(spark):
    """Lag, latest-transition rank, and the per-key count all ride one
    (custkey) exchange — no joins, one scan."""
    plan = plan_of(spark, "transform_scd3_prev_value")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Join", plan) == 0
    assert count(r"FileScan parquet", plan) == 1


def test_ols_moments_single_combinable_agg(spark):
    """Nine exact decimal moments in one map-side-combinable aggregate;
    the Cramer solve is a projection — one scan, one exchange, no
    joins, no Python."""
    plan = plan_of(spark, "agg_ols_two_features")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Join", plan) == 0
    assert count(r"ArrowEvalPython|BatchEvalPython", plan) == 0


def test_sorted_stats_prune_disjoint_row_groups(spark):
    """The sort-then-write staging must produce PAIRWISE DISJOINT
    o_orderkey ranges across row groups (the free range index), and
    the BETWEEN predicate must reach the scan."""
    import glob

    from data_preparation_plugin_spark.plans.ingest import _STATS_DIR

    plan = plan_of(spark, "layout_sorted_stats_prune")
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderkey", plan
    )
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    files = glob.glob(f"{_STATS_DIR}/*.parquet")
    assert files, "stats staging dir empty"
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(files[0]), conf
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    try:
        blocks = reader.getFooter().getBlocks()
        assert blocks.size() >= 2, "need multiple row groups to prune"
        ranges = []
        for i in range(blocks.size()):
            cols = blocks.get(i).getColumns()
            for j in range(cols.size()):
                c = cols.get(j)
                if "o_orderkey" in str(c.getPath()):
                    st = c.getStatistics()
                    ranges.append(
                        (st.genericGetMin(), st.genericGetMax())
                    )
        assert all(
            ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1)
        ), f"row-group key ranges overlap: {ranges}"
    finally:
        reader.close()


def test_try_arithmetic_pure_projection_one_agg(spark):
    """Row-level error boundaries are codegen expressions — one scan,
    one bounded-key aggregate, no quarantine shuffle, no Python."""
    plan = plan_of(spark, "transform_try_arithmetic")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Join", plan) == 0
    assert count(r"ArrowEvalPython|BatchEvalPython", plan) == 0


def test_chat_render_zero_shuffle(spark):
    """Template rendering is a pure per-row projection — no exchange,
    no joins, no Python anywhere."""
    plan = plan_of(spark, "text_chat_template_render")
    assert count(r"Exchange", plan) == 0
    assert count(r"Join", plan) == 0
    assert count(r"ArrowEvalPython|BatchEvalPython", plan) == 0


def test_distinct_growth_no_per_point_rescan(spark):
    """The curve comes from bounded explodes of the reduced (key,
    first_bucket) and (row, bucket) relations — one corpus scan total,
    never one pass per curve point."""
    plan = plan_of(spark, "profile_distinct_growth")
    assert count(r"FileScan parquet", plan) <= 2
    assert count(r"CartesianProduct", plan) == 0


def test_training_set_pit_single_exchange_no_join(spark):
    """All point-in-time frames share one (user) exchange + sort; the
    label filter must sit ABOVE the windows (pre-filtering would
    corrupt the features) and there is no feature-table join."""
    plan = plan_of(spark, "events_training_set_pit")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"Join", plan) == 0
    assert count(r"FileScan parquet", plan) == 1


def test_unicode_normalize_arrow_vectorized_no_shuffle(spark):
    """Normalization is one Arrow-batched pandas UDF over one scan —
    never row-at-a-time Python, never a shuffle."""
    plan = plan_of(spark, "text_unicode_normalize")
    assert count(r"ArrowEvalPython", plan) == 1
    assert count(r"BatchEvalPython", plan) == 0
    assert count(r"Exchange", plan) == 0


def test_csv_embedded_newlines_reads_quoted_records(spark):
    """The multiLine read must reassemble 3-line quoted notes: row
    count equals the base table and every note carries its 2
    newlines."""
    import os

    from data_preparation_plugin_spark.plans import QUERIES

    sf = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    rows = (
        QUERIES["source_csv_embedded_newlines"].builder(spark, sf).collect()
    )
    assert sum(r["n_rows"] for r in rows) == 25
    assert all(
        r["embedded_newlines"] == 2 * r["n_rows"] for r in rows
    )


def test_inclusion_deps_join_reduced_sides_only(spark):
    """Every containment join runs on DISTINCT-reduced sides (the
    SINDY/BINDER discipline) — no cartesian beyond the 1-row count
    cross joins, no corpus-row join."""
    plan = plan_of(spark, "profile_inclusion_dependencies")
    assert count(r"SortMergeJoin", plan) == 0
    # 1-row x 1-row count combinations are the only nested loops.
    assert count(r"CartesianProduct", plan) <= 5


def test_audio_resample_zero_shuffle_chained_arrow(spark):
    """Synthesize -> decode -> decimate are chained Arrow stages with
    zero exchange; only 5 scalars per clip leave the pipeline."""
    plan = plan_of(spark, "multimodal_audio_resample")
    assert count(r"Exchange", plan) == 0
    assert count(r"Join", plan) == 0


def test_activity_streaks_islands_single_user_exchange(spark):
    """The date-islands rank and the streak groupBy share the (user)
    keyed partitioning; the last-day scalar broadcasts."""
    plan = plan_of(spark, "events_activity_streaks")
    assert count(r"CartesianProduct|BroadcastNestedLoopJoin", plan) == 1
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"FileScan parquet", plan) == 2


def test_scd2_merge_apply_counts(spark):
    """No-op changes must not spawn versions: at sf0.001 every 4th key
    gets a change, every 8th is a no-op resend — closed+opened rows
    exist only for real changes, and all returned rows re-read from
    the rewritten files."""
    import os as _os

    from data_preparation_plugin_spark.plans import QUERIES

    sf = _os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    rows = QUERIES["sink_scd2_merge_apply"].builder(spark, sf).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["c_custkey"], []).append(r)
    for k, vs in by_key.items():
        if k % 4 == 0 and k % 8 != 0:
            assert len(vs) == 2, (k, vs)
            assert sorted(v["is_current"] for v in vs) == [False, True]
        else:
            assert len(vs) == 1 and vs[0]["is_current"], (k, vs)


def test_jl_projection_sign_matrix_broadcasts(spark):
    """The 64x16 sign matrix broadcasts onto the exploded component
    stream; only the bounded probe set ever pairs up."""
    plan = plan_of(spark, "embedding_random_projection_jl")
    assert count(r"CartesianProduct", plan) <= 1  # the 64x16 matrix build
    assert count(r"BroadcastHashJoin", plan) >= 2


def test_keyframe_argmax_shares_shot_pipeline_shape(spark):
    """The argmax window rides the shot pipeline's doc-keyed
    partitioning — no extra corpus scan, no join, pixels never move."""
    plan = plan_of(spark, "multimodal_keyframe_select")
    assert count(r"FileScan parquet", plan) == 1
    assert count(r"Join", plan) == 0


def test_lsh_recall_audit_composes_registered_oracles():
    """The audit's oracle must embed both member oracle texts so it
    cannot drift from the pipelines it scores."""
    from data_preparation_plugin_spark.plans import QUERIES

    audit = QUERIES["dedup_lsh_recall_audit"].oracle
    assert QUERIES["dedup_minhash_lsh_pairs"].oracle.strip() in audit
    assert QUERIES["dedup_ngram_jaccard"].oracle.strip() in audit


def test_pareto_front_single_sort_no_join(spark):
    """The skyline is one global sort + one O(1)-state running frame —
    never the quadratic dominance self-join."""
    plan = plan_of(spark, "window_pareto_front")
    assert count(r"Join", plan) == 0
    assert count(r"Sort ", plan) == 1


def test_bot_score_minute_collapse_before_user_aggs(spark):
    """The firehose collapses to (user, minute) rows map-side before
    any per-user work; no corpus-row join."""
    plan = plan_of(spark, "events_bot_score")
    assert count(r"CartesianProduct", plan) == 0
    assert count(r"FileScan parquet", plan) <= 2


def test_pmi_pairs_doc_keyed_never_global(spark):
    """Adjacent pairs come from a doc-keyed position self-join; the
    rank is a bounded TakeOrdered, never a global sort of all pairs."""
    plan = plan_of(spark, "text_pmi_collocations")
    assert count(r"TakeOrdered", plan) == 1
    assert count(r"CartesianProduct", plan) == 0


def test_woe_bounded_stats_then_projection(spark):
    """WOE/IV is a bin-count aggregate + broadcast totals projection;
    the only wide step is the ntile sort."""
    plan = plan_of(spark, "transform_woe_encoding")
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"Exchange SinglePartition", plan) >= 1


def test_value_patterns_union_scan_parallel(spark):
    """Shape mapping is pure codegen over a 3-scan union; no joins;
    the aggregate key space is shape-cardinality tiny."""
    plan = plan_of(spark, "profile_value_patterns")
    assert count(r"Join", plan) == 0
    assert count(r"FileScan parquet", plan) == 3


def test_frequency_cap_one_user_exchange(spark):
    """The rolling RANGE frame rides one (user)-keyed exchange (the
    second exchange is the capped-users distinct aggregate); no
    joins."""
    plan = plan_of(spark, "events_frequency_cap")
    assert count(r"Exchange hashpartitioning", plan) == 2
    assert count(r"Join", plan) == 0


def test_json_quarantine_preserves_corrupt_lines(spark):
    """The PERMISSIVE JSONL read must route every 6th (truncated) line
    to the quarantine row byte-intact."""
    import os as _os

    from data_preparation_plugin_spark.plans import QUERIES

    sf = _os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    rows = QUERIES["source_json_quarantine"].builder(spark, sf).collect()
    quarantine = [r for r in rows if r["s_nationkey"] == -1]
    assert len(quarantine) == 1 and quarantine[0]["n_rows"] > 0
    assert sum(r["n_rows"] for r in rows if r["s_nationkey"] >= 0) > 0


def test_hll_ie_single_sketch_pass(spark):
    """Per-class sketches build in one combinable aggregate; pair
    algebra runs on class-cardinality rows."""
    plan = plan_of(spark, "agg_hll_intersection_ie")
    assert count(r"ObjectHashAggregate", plan) >= 1
    assert count(r"CartesianProduct", plan) == 0


def test_downsample_triangle_day_level_after_collapse(spark):
    """One corpus scan collapses to daily points (checkpointed once);
    anchors, scoring, and the argmax all run on day/bucket keys."""
    plan = plan_of(spark, "events_downsample_triangle")
    assert count(r"FileScan parquet", plan) == 0  # checkpoint feeds all
    assert count(r"CartesianProduct|BroadcastNestedLoopJoin", plan) <= 2


def test_split_leakage_composes_registered_oracles():
    """The audit embeds both member oracle texts so it cannot drift
    from the split or pair pipeline it polices."""
    from data_preparation_plugin_spark.plans import QUERIES

    audit = QUERIES["split_leakage_audit"].oracle
    assert QUERIES["split_train_test"].oracle.strip() in audit
    assert QUERIES["dedup_minhash_lsh_pairs"].oracle.strip() in audit


def test_arrow_udtf_is_arrow_transported(spark):
    """The UDTF lateral apply must run over Arrow batches, not the
    row-pickle path."""
    plan = plan_of(spark, "udtf_arrow_ngram_stats")
    assert count(r"ArrowEvalPythonUDTF", plan) == 1
    assert count(r"BatchEvalPythonUDTF", plan) == 0


def test_stickiness_single_pair_checkpoint(spark):
    """DAU and MAU both ride one checkpointed (user, day) relation —
    no consumer rescans raw events."""
    plan = plan_of(spark, "events_stickiness_ratio")
    assert count(r"FileScan parquet", plan) == 0
    assert count(r"CartesianProduct", plan) == 0


def test_review_queue_composes_funnel_oracle():
    """The queue's oracle embeds the registered funnel's oracle text so
    it cannot drift from the filter it audits."""
    from data_preparation_plugin_spark.plans import QUERIES

    audit = QUERIES["curation_review_queue"].oracle
    assert QUERIES["curation_corpus_status"].oracle.strip() in audit


def test_rerank_crossfeatures_candidate_bounded(spark):
    """Retrieve-then-rerank stays candidate-bounded: the recall stage is
    the LSH bucket BroadcastHashJoin (probe set broadcast, never the
    corpus), the shortlist window is rank-limited (WindowGroupLimit),
    both document-side joins broadcast the bounded shortlist/probe side
    so text never rides a shuffle, and nothing is cartesian."""
    plan = plan_of(spark, "knn_rerank_crossfeatures")
    assert count(r"CartesianProduct", plan) == 0
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"BroadcastHashJoin", plan) >= 3
    assert count(r"WindowGroupLimit", plan) >= 1
    # The documents scan prunes to (doc_id, text): reading more columns
    # would ship payload the rerank never uses. In formatted mode the
    # scan's ReadSchema is its own line, so pin the exact struct.
    fmt = plan_of(spark, "knn_rerank_crossfeatures", mode="formatted")
    doc_schemas = [
        line.strip()
        for line in fmt.splitlines()
        if line.strip().startswith("ReadSchema") and "text:string" in line
    ]
    assert doc_schemas and all(
        s == "ReadSchema: struct<doc_id:bigint,text:string>"
        for s in doc_schemas
    )


def test_corpus_assembly_text_never_shuffles(spark):
    """The assembly manifest moves only (doc_id, lang, n_tokens, digest)
    rows: token counts are map-side, the budget table broadcasts back,
    and the single wide exchange is the per-language window. The text
    column must not appear in any Exchange input."""
    plan = plan_of(spark, "sample_corpus_assembly")
    assert count(r"CartesianProduct", plan) == 0  # denom cross-join is broadcast-nested-loop of 1 row
    assert count(r"BroadcastHashJoin", plan) >= 1
    fmt = plan_of(spark, "sample_corpus_assembly", mode="formatted")
    exchange_args = [
        line
        for line in fmt.splitlines()
        if line.strip().startswith("Arguments: hashpartitioning")
    ]
    assert exchange_args and all("text" not in a for a in exchange_args)


def test_profile_columns_expand_agg_stays_hash(spark):
    """The Expand/count-distinct aggregate must stay HashAggregate: one
    immutable-buffer function (min/max over a string) in the same
    operator silently degrades the whole pipeline to Sort+SortAggregate,
    full-sorting the n_cols-times-expanded corpus (the r13 3.79s->1.99s
    fix). String extremes ride their own keyless, sort-free aggregate."""
    plan = plan_of(spark, "profile_table_columns")
    assert count(r"\+- Sort ", plan) == 0
    assert count(r"HashAggregate", plan) >= 4


def test_dsir_single_corpus_count_pass(spark):
    """DSIR's 64-row bucket-count aggregate feeds both the weight table
    and the totals scalar; the checkpoint means the FINAL plan carries
    zero bucket-keyed exchanges (the scoring pass joins the broadcast
    weight table and aggregates straight to doc_id — the r13 1.40s ->
    1.08s fix). Both remaining corpus passes are map-side."""
    plan = plan_of(spark, "sample_dsir_importance")
    assert count(r"hashpartitioning\(bucket", plan) == 0
    assert count(r"CartesianProduct", plan) == 0
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"BroadcastHashJoin", plan) >= 1
    assert count(r"Exchange hashpartitioning\(doc_id", plan) == 1


def test_url_keep_best_single_exchange_no_text(spark):
    """The URL dedup plans ONE shuffle (canonical_url, shared by the
    ranking window and the rollup) and never ships the text column."""
    plan = plan_of(spark, "dedup_url_keep_best")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"SortMergeJoin|BroadcastHashJoin|CartesianProduct", plan) == 0
    fmt = plan_of(spark, "dedup_url_keep_best", mode="formatted")
    exchange_args = [
        line
        for line in fmt.splitlines()
        if line.strip().startswith("Arguments: hashpartitioning")
    ]
    assert exchange_args and all("text" not in a for a in exchange_args)


def test_tile_rollup_single_mapside_agg(spark):
    """Tile assignment is a projection; the only exchange is the final
    (zoom, tile_x, tile_y) aggregate with a map-side partial."""
    plan = plan_of(spark, "geo_tile_rollup")
    assert count(r"Exchange hashpartitioning", plan) == 1
    assert count(r"SortMergeJoin|BroadcastHashJoin|CartesianProduct", plan) == 0
    assert count(r"HashAggregate", plan) >= 2  # partial + final


def test_annotation_agreement_single_row_no_wide_exchange(spark):
    """Both raters are projections over ONE text scan; the confusion
    matrix collapses through a partial aggregate straight to a single
    row — no hash-keyed exchange anywhere."""
    plan = plan_of(spark, "curation_annotation_agreement")
    assert count(r"Exchange hashpartitioning", plan) == 0
    assert count(r"Exchange SinglePartition", plan) == 1


def test_image_entropy_zero_shuffle_arrow(spark):
    """Synthesize -> parse+histogram is two chained Arrow map passes;
    the plan must carry no exchange at all."""
    plan = plan_of(spark, "multimodal_image_entropy")
    assert count(r"Exchange", plan) == 0
    assert count(r"MapInPandas", plan) == 2


def test_filter_funnel_composes_status_oracle():
    """The funnel's oracle embeds the registered per-document verdict's
    oracle text so the attrition report can never disagree with the
    row-level audit it summarizes."""
    from data_preparation_plugin_spark.plans import QUERIES
    from data_preparation_plugin_spark.plans.curation import _CURATION_ORACLE

    assert _CURATION_ORACLE.strip() in QUERIES["curation_filter_funnel"].oracle
    assert _CURATION_ORACLE.strip() in QUERIES["curation_corpus_status"].oracle


def test_bloom_prefilter_sheds_before_exchange(spark):
    """The bloom prefilter must run in the probe scan's map stage: the
    candidate filter (bitset bit tests) sits below the join, the exact
    join consumes candidates only, and nothing is cartesian. The bitset
    rides as a literal, so the filter is visible as shiftright exprs."""
    plan = plan_of(spark, "join_bloom_prefilter")
    assert count(r"CartesianProduct", plan) == 0
    assert count(r"shiftright", plan) >= 4  # all four bit probes map-side
    # Exactly one aggregation exchange (l_linestatus rollup) plus at most
    # the join's own requirement — never a full-fact exchange before the
    # bloom filter.
    assert count(r"Exchange hashpartitioning", plan) <= 3


def test_t_closeness_histograms_broadcast(spark):
    """All histograms are QI-domain-bounded: the grid joins broadcast
    (segment 5 rows, total 1 row) and the released table never rides a
    SortMergeJoin."""
    plan = plan_of(spark, "transform_t_closeness")
    assert count(r"SortMergeJoin", plan) == 0
    assert count(r"BroadcastNestedLoopJoin|BroadcastHashJoin", plan) >= 2


def test_incremental_ingest_composes_registered_probe():
    """The monthly-increment pipeline's fuzzy stage must BE the
    registered incremental LSH probe: builder composition is by call,
    oracle composition by text embedding — neither can drift."""
    from data_preparation_plugin_spark.plans import QUERIES

    ingest = QUERIES["curation_incremental_ingest"].oracle
    assert QUERIES["dedup_minhash_incremental"].oracle.strip() in ingest


def test_indexed_ingest_shares_rebuild_oracle():
    """The persisted-index twin must answer EXACTLY like the rebuild
    shape — an index changes where bytes are read, never the answer —
    so both register the identical oracle text."""
    from data_preparation_plugin_spark.plans import QUERIES

    assert (
        QUERIES["curation_incremental_ingest_indexed"].oracle
        == QUERIES["curation_incremental_ingest"].oracle
    )


def test_indexed_ingest_probe_all_broadcast(spark):
    """Every index join must broadcast the BATCH-derived side: the
    persisted fingerprint/signature/band tables are archive-sized and
    may only be scanned map-side — no sort-merge, no shuffled-hash, no
    cartesian anywhere in the probe plan."""
    plan = plan_of(spark, "curation_incremental_ingest_indexed")
    assert count(r"SortMergeJoin|ShuffledHashJoin|CartesianProduct", plan) == 0
    assert count(r"BroadcastHashJoin", plan) >= 5


def test_archive_index_build_cached_per_fixture(spark):
    """The second build call must be a no-op (the steady state the
    registered probe measures): _SUCCESS markers gate the rebuild, and
    the parquet files' mtimes prove nothing was rewritten."""
    import os

    from data_preparation_plugin_spark.plans.curation import (
        build_archive_indexes,
    )

    base = build_archive_indexes(spark, SF_DIR)
    marker = os.path.join(base, "bands", "_SUCCESS")
    before = os.path.getmtime(marker)
    assert build_archive_indexes(spark, SF_DIR) == base
    assert os.path.getmtime(marker) == before


def test_cdc_gear_mapside_fold_no_text_exchange(spark):
    """Gear boundary detection is an in-row fold: the only exchanges are
    the digest-keyed spread aggregate and its join back — the text
    column must never appear in an exchange's partitioning args, and
    there is no cartesian or sort-merge join anywhere."""
    plan = plan_of(spark, "dedup_cdc_chunks_gear")
    assert count(r"CartesianProduct|SortMergeJoin", plan) == 0
    fmt = plan_of(spark, "dedup_cdc_chunks_gear", mode="formatted")
    exchange_args = [
        line
        for line in fmt.splitlines()
        if line.strip().startswith("Arguments: hashpartitioning")
    ]
    assert all(" s#" not in a and "text" not in a for a in exchange_args)


def test_cdc_gear_boundary_modulus_not_power_of_two():
    """h mod 2^k reads only the register's low k bits, shrinking the
    effective window to k bytes — the boundary modulus must stay
    non-power-of-two so the full 16-bit register decides."""
    from data_preparation_plugin_spark.plans.dedup import CDC_GEAR_MOD

    assert CDC_GEAR_MOD & (CDC_GEAR_MOD - 1) != 0


def test_ivf_persisted_dpp(spark):
    """The probe set must drive dynamic partition pruning on the
    cell-partitioned assignment scan — un-probed inverted lists are
    never read — and the probe/codebook joins broadcast; nothing
    corpus-sized rides a sort-merge join."""
    plan = plan_of(spark, "knn_ivf_persisted")
    m = re.findall(r"PartitionFilters: \[[^\]]*\]", plan)
    assert any("dynamicpruning" in f for f in m), m
    assert count(r"SortMergeJoin", plan) == 0


def test_ivf_persisted_shares_rebuild_oracle():
    """Persisted-index twin answers exactly like the rebuild form."""
    from data_preparation_plugin_spark.plans import QUERIES

    assert (
        QUERIES["knn_ivf_persisted"].oracle
        == QUERIES["knn_ivf_cosine"].oracle
    )


def test_archive_index_force_rebuild(spark):
    """force=True must rewrite the standing index even when the cache
    markers exist — the manual-rebuild escape hatch for a corrupted or
    re-fixtured archive."""
    import os

    from data_preparation_plugin_spark.plans.curation import (
        build_archive_indexes,
    )

    base = build_archive_indexes(spark, SF_DIR)
    marker = os.path.join(base, "fingerprints", "_SUCCESS")
    before = os.path.getmtime(marker)
    build_archive_indexes(spark, SF_DIR, force=True)
    assert os.path.getmtime(marker) > before


def test_int_ratio_round_widens_int32_operands(spark):
    """int_ratio_round_sql must widen operands to BIGINT internally:
    Spark callers pass IntegerType expressions (F.length/F.size), and
    INT*INT stays 32-bit — `num * 20000` silently wraps for texts past
    ~107k chars while DuckDB's len() is BIGINT (r15 ADVICE, medium).
    Pin a value past the 32-bit wrap point in both engines."""
    import duckdb

    from data_preparation_plugin_spark.plans.registry import (
        int_ratio_round_sql,
    )

    num, den = 200_000, 3  # 200_000 * 20_000 > 2**31 - 1
    got = (
        spark.createDataFrame([(num, den)], "num int, den int")
        .selectExpr(
            int_ratio_round_sql("num", "den", 4, "div") + " AS r"
        )
        .collect()[0]["r"]
    )
    want = duckdb.sql(
        "SELECT "
        + int_ratio_round_sql(f"CAST({num} AS INT)", str(den), 4, "//")
        + " AS r"
    ).fetchone()[0]
    assert got == want == 66666.6667, (got, want)


def test_ivf_admitted_dpp(spark):
    """Post-admission serving keeps the inverted-list property: dynamic
    partition pruning on the grown assignment scan, no sort-merge join."""
    plan = plan_of(spark, "knn_ivf_admitted")
    m = re.findall(r"PartitionFilters: \[[^\]]*\]", plan)
    assert any("dynamicpruning" in f for f in m), m
    assert count(r"SortMergeJoin", plan) == 0


def test_ivf_admitted_shares_full_rebuild_oracle():
    """Append ≡ rebuild: the admitted index answers exactly like the
    full-corpus form."""
    from data_preparation_plugin_spark.plans import QUERIES

    assert (
        QUERIES["knn_ivf_admitted"].oracle
        == QUERIES["knn_ivf_cosine"].oracle
    )


def test_ivf_admit_is_idempotent_and_batches_accumulate(spark):
    """Each admission cycle grows the index by exactly its batch, and a
    repeated admit of the same batch is a no-op (the per-residue
    marker): a double append would duplicate candidates and poison
    every top-k."""
    import os

    from data_preparation_plugin_spark.plans.registry import load_table
    from data_preparation_plugin_spark.plans.similarity import (
        IVF_ADMIT_MOD,
        IVF_ADMIT_RESIDUES,
        admit_ivf_batch,
        build_ivf_base_index,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_DIR, "embeddings")
    batch_sizes = {
        r: emb.filter(F.col("vec_id") % IVF_ADMIT_MOD == r).count()
        for r in IVF_ADMIT_RESIDUES
    }
    base = build_ivf_base_index(spark, SF_DIR, force=True)
    n = spark.read.parquet(os.path.join(base, "assignments")).count()
    for r in IVF_ADMIT_RESIDUES:
        admit_ivf_batch(spark, SF_DIR, base, r)
        n2 = spark.read.parquet(os.path.join(base, "assignments")).count()
        assert n2 == n + batch_sizes[r], (r, n, n2)
        admit_ivf_batch(spark, SF_DIR, base, r)  # idempotent re-admit
        assert (
            spark.read.parquet(os.path.join(base, "assignments")).count()
            == n2
        )
        n = n2
    assert n == emb.count()


def test_ivf_cell_skew_drift_guard(spark, tmp_path):
    """The retrain trigger fires on skewed inverted lists and stays quiet
    on balanced ones."""
    from data_preparation_plugin_spark.layout import write_partitioned
    from data_preparation_plugin_spark.plans.similarity import (
        IVF_SKEW_RETRAIN_RATIO,
        ivf_cell_skew,
    )

    balanced = spark.range(80).selectExpr(
        "id AS vec_id", "array(1.0d) AS v", "CAST(id % 8 AS INT) AS cell"
    )
    write_partitioned(
        balanced, str(tmp_path / "bal" / "assignments"), ["cell"]
    )
    ok = ivf_cell_skew(spark, str(tmp_path / "bal"))
    assert not ok["retrain"] and ok["skew"] == 1.0
    skewed = spark.range(80).selectExpr(
        "id AS vec_id",
        "array(1.0d) AS v",
        "CAST(CASE WHEN id < 73 THEN 0 ELSE id % 8 END AS INT) AS cell",
    )
    write_partitioned(
        skewed, str(tmp_path / "skew" / "assignments"), ["cell"]
    )
    bad = ivf_cell_skew(spark, str(tmp_path / "skew"))
    assert bad["retrain"] and bad["skew"] > IVF_SKEW_RETRAIN_RATIO


def test_ivf_index_cache_keys_on_fixture_content(spark, tmp_path):
    """Regenerating fixture bytes at the same path must yield a NEW index
    cache directory (content fingerprint in the key) — the r15 ADVICE
    stale-index hazard — and force=True must rewrite in place."""
    import os
    import shutil
    import time

    from data_preparation_plugin_spark.plans.similarity import (
        build_ivf_index,
        ivf_index_dir,
    )

    sf = str(tmp_path)
    shutil.copy(f"{SF_DIR}/embeddings.parquet", f"{sf}/embeddings.parquet")
    d0 = ivf_index_dir(sf)
    base = build_ivf_index(spark, sf)
    marker = os.path.join(base, "assignments", "_SUCCESS")
    before = os.path.getmtime(marker)
    time.sleep(0.05)
    assert build_ivf_index(spark, sf) == base  # cached
    assert os.path.getmtime(marker) == before
    build_ivf_index(spark, sf, force=True)
    assert os.path.getmtime(marker) > before
    os.utime(f"{sf}/embeddings.parquet")  # "regenerated" fixture
    assert ivf_index_dir(sf) != d0


def test_compacted_index_is_invisible_to_the_probe(spark):
    """A compaction is a pure re-layout: the ingest probe must label the
    batch identically against (standing ∪ delta) and against the
    compacted table set."""
    import os

    from data_preparation_plugin_spark.plans.curation import (
        _probe_batch_against_index,
        build_archive_indexes,
        compact_archive_indexes,
        curation_incremental_ingest_indexed,
        read_archive_indexes,
        write_cycle_delta,
    )
    from data_preparation_plugin_spark.plans.dedup import INCR_MINHASH_MOD
    from data_preparation_plugin_spark.plans.registry import load_table
    from pyspark.sql import functions as F

    base = build_archive_indexes(spark, SF_DIR)
    admitted = (
        curation_incremental_ingest_indexed(spark, SF_DIR)
        .filter(F.col("status") == "admitted")
        .select("doc_id")
    )
    docs = load_table(spark, SF_DIR, "documents")
    adm_docs = docs.join(F.broadcast(admitted), "doc_id")
    fp_idx = spark.read.parquet(os.path.join(base, "fingerprints"))
    cdir = write_cycle_delta(spark, base, adm_docs, "full-batch", fp_idx)
    odir = compact_archive_indexes(
        spark, base, [cdir], "compacted-full-batch"
    )
    batch = docs.filter(F.col("doc_id") % INCR_MINHASH_MOD == 0)
    via_union = _probe_batch_against_index(
        batch, *read_archive_indexes(spark, base, cycles=[cdir])
    )
    via_compacted = _probe_batch_against_index(
        batch,
        spark.read.parquet(os.path.join(odir, "fingerprints")),
        spark.read.parquet(os.path.join(odir, "signatures")),
        spark.read.parquet(os.path.join(odir, "bands")),
    )
    a = sorted(map(tuple, via_union.collect()))
    b = sorted(map(tuple, via_compacted.collect()))
    assert a == b


def test_two_cycle_probe_all_broadcast(spark):
    """Both months' probes must broadcast only batch-derived sides —
    standing AND cycle-delta index tables are scanned map-side in every
    cycle; nothing archive-sized crosses an exchange."""
    plan = plan_of(spark, "curation_two_cycle_ingest")
    assert count(r"SortMergeJoin|ShuffledHashJoin|CartesianProduct", plan) == 0
    assert count(r"BroadcastHashJoin", plan) >= 10


def test_cycle_delta_waiter_and_stale_lock(spark, tmp_path, monkeypatch):
    """The single-writer protocol's two concurrent-caller paths: a
    waiter returns once the writer's _SUCCESS markers land, and a stale
    lock with no markers times out with an actionable error instead of
    hanging forever."""
    import os
    import threading
    import time as _time

    import pytest as _pytest

    from data_preparation_plugin_spark.plans import curation, fixture_cache

    cdir = tmp_path / "cycles" / "c1"
    cdir.mkdir(parents=True)
    lock = cdir / ".writer.lock"
    lock.touch()  # another session "holds" the lock

    def finish_write():
        _time.sleep(0.4)
        for part in ("fingerprints", "signatures", "bands"):
            d = cdir / part
            d.mkdir()
            (d / "_SUCCESS").touch()

    t = threading.Thread(target=finish_write)
    t.start()
    got = curation.write_cycle_delta(
        spark, str(tmp_path), None, "c1", None  # waiter never touches dfs
    )
    t.join()
    assert got == str(cdir)

    # Stale lock, writer dead, markers never appear -> bounded TimeoutError.
    monkeypatch.setattr(fixture_cache, "WRITER_LOCK_TIMEOUT_S", 0.6)
    stale = tmp_path / "cycles" / "c2"
    stale.mkdir(parents=True)
    (stale / ".writer.lock").touch()
    with _pytest.raises(TimeoutError, match="remove the lockfile"):
        curation.write_cycle_delta(spark, str(tmp_path), None, "c2", None)


def test_build_once_single_writer_under_contention(tmp_path):
    """Eight threads race one build: a writer that fails releases the
    lock to a waiter instead of stranding it, exactly one more write
    runs, and every other caller returns only once the marker exists."""
    import os
    import sys
    import threading
    import time as _time

    from data_preparation_plugin_spark.plans.fixture_cache import build_once

    target = str(tmp_path / "cache")
    marker = os.path.join(target, "_SUCCESS")
    writes, returned = [], []

    def write():
        writes.append(1)
        _time.sleep(0.05)
        if len(writes) == 1:
            raise RuntimeError("first writer dies")
        with open(marker, "w"):
            pass

    def caller():
        try:
            build_once(target, [marker], write, label="contention")
        except RuntimeError:
            return
        returned.append(os.path.exists(marker))

    saved = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=caller, daemon=True) for _ in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(saved)
    assert not any(t.is_alive() for t in threads)
    assert len(writes) == 2
    assert returned == [True] * 7


def test_ivf_drift_guard_retrain_end_to_end(spark, tmp_path):
    """The full drift arc at the PRODUCTION threshold: skewed crawl
    batches push the persisted cells past IVF_SKEW_RETRAIN_RATIO, the
    guard inside ivf_admit_with_drift_guard fires, the codebook is
    force-rebuilt, both batches re-admit, and serving over the retrained
    index equals the one-shot full build — retrain is answer-invisible.

    Fixture geometry: 8 near-orthogonal centroid directions in R^4; the
    base corpus sends ~44% of vectors to cell 0 (skew ~3.4, guard
    quiet), while BOTH admission batches (vec_id % 10 in {8, 9}) land
    entirely in cell 0, pushing post-admission skew to ~4.4."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_preparation_plugin_spark.plans.similarity import (
        IVF_ADMIT_MOD,
        IVF_ADMIT_RESIDUES,
        IVF_N_CELLS,
        IVF_SKEW_RETRAIN_RATIO,
        _ivf_serve,
        build_ivf_base_index,
        build_ivf_index,
        ivf_admit_with_drift_guard,
        ivf_cell_skew,
    )

    cents = [
        [1, 0, 0, 0], [0, 1, 0, 0], [0, 0, 1, 0], [0, 0, 0, 1],
        [1, 1, 0, 0], [0, 1, 1, 0], [0, 0, 1, 1], [1, 0, 0, 1],
    ]

    def vec(cell: int, vid: int) -> list:
        eps = 0.01 * ((vid % 7) + 1) / 7.0
        other = cents[(cell + 2) % IVF_N_CELLS]
        return [
            float(b) + eps * float(o) for b, o in zip(cents[cell], other)
        ]

    rows = []
    for vid in range(400):
        if vid < IVF_N_CELLS:
            v = [float(x) for x in cents[vid]]
        elif vid % IVF_ADMIT_MOD in IVF_ADMIT_RESIDUES:
            v = vec(0, vid)  # every admitted vector crowds cell 0
        else:
            v = vec(0 if (vid % 20) < 7 else (vid % 7) + 1, vid)
        rows.append((vid, v))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float64())
                ),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    sf = str(tmp_path)

    pre = ivf_cell_skew(spark, build_ivf_base_index(spark, sf))
    assert not pre["retrain"], pre  # base alone is inside the ratio

    base, retrained, guard = ivf_admit_with_drift_guard(spark, sf)
    assert retrained, (pre, guard)  # admissions pushed it past 4.0
    assert guard["skew"] > IVF_SKEW_RETRAIN_RATIO
    for r in IVF_ADMIT_RESIDUES:  # re-admission completed post-retrain
        assert os.path.exists(os.path.join(base, f"_ADMITTED_r{r}"))

    got = sorted(map(tuple, _ivf_serve(spark, sf, base).collect()))
    full = build_ivf_index(spark, sf)
    want = sorted(map(tuple, _ivf_serve(spark, sf, full).collect()))
    assert got == want


def test_ivf_admit_crash_retry_is_idempotent(spark, tmp_path):
    """Crash-path idempotency (r16 ADVICE): part files job-committed by
    an admission whose writer died before the _ADMITTED marker landed
    must NOT survive the retry as doubled vectors — the retry cleans
    everything not in the pre-append snapshot, then appends exactly
    once."""
    import json
    import os
    import shutil

    from data_preparation_plugin_spark.plans.registry import load_table
    from data_preparation_plugin_spark.plans.similarity import (
        IVF_ADMIT_MOD,
        IVF_ADMIT_RESIDUES,
        admit_ivf_batch,
        build_ivf_base_index,
    )
    from pyspark.sql import functions as F

    shutil.copy(
        f"{SF_DIR}/embeddings.parquet", str(tmp_path / "embeddings.parquet")
    )
    sf = str(tmp_path)
    r = IVF_ADMIT_RESIDUES[0]
    base = build_ivf_base_index(spark, sf)
    adir = os.path.join(base, "assignments")

    def listing() -> list:
        out = []
        for root, _dirs, files in os.walk(adir):
            for fn in files:
                out.append(os.path.relpath(os.path.join(root, fn), adir))
        return sorted(out)

    pre_files = listing()  # exactly what the writer snapshots pre-append
    n_base = spark.read.parquet(adir).count()
    batch_n = (
        load_table(spark, sf, "embeddings")
        .filter(F.col("vec_id") % IVF_ADMIT_MOD == r)
        .count()
    )

    # Simulate the crash: a full append happened (files on disk) but the
    # writer died before _ADMITTED landed — marker gone, its pre-append
    # snapshot manifest still in place.
    admit_ivf_batch(spark, sf, base, r)
    marker = os.path.join(base, f"_ADMITTED_r{r}")
    pre = os.path.join(base, f"_PRE_ADMIT_r{r}.json")
    os.unlink(marker)
    with open(pre, "w") as f:
        json.dump(pre_files, f)
    assert spark.read.parquet(adir).count() == n_base + batch_n

    admit_ivf_batch(spark, sf, base, r)  # the retry
    assert spark.read.parquet(adir).count() == n_base + batch_n
    assert os.path.exists(marker) and not os.path.exists(pre)


def test_post_compaction_probe_all_broadcast(spark):
    """The switch-over probe keeps the probe kernel's scale discipline:
    only batch-derived sides broadcast, the compacted index tables are
    scanned map-side — same guarantee as the standing∪delta path."""
    plan = plan_of(spark, "curation_post_compaction_ingest")
    assert count(r"SortMergeJoin|ShuffledHashJoin|CartesianProduct", plan) == 0
    assert count(r"BroadcastHashJoin", plan) >= 5


def test_stale_cache_epochs_are_removed(spark, tmp_path):
    """cleanup_stale_cache_dirs: regenerating a fixture must not leak the
    previous fingerprint epoch's /tmp tree (r16 ADVICE) — the next build
    removes superseded dirs carrying the same _KEY identity, and orphans
    whose fixture dir no longer exists, and never touches other live
    fixtures' dirs."""
    import os
    import shutil
    import time

    from data_preparation_plugin_spark.plans.curation import (
        _ARCHIVE_IDX_ROOT,
        archive_index_dir,
        build_archive_indexes,
    )

    sf = str(tmp_path)
    shutil.copy(
        f"{SF_DIR}/documents.parquet", f"{sf}/documents.parquet"
    )
    d0 = build_archive_indexes(spark, sf)
    assert os.path.exists(os.path.join(d0, "_KEY"))

    def cache_dir(name: str, key: str) -> str:
        d = os.path.join(_ARCHIVE_IDX_ROOT, name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "_KEY"), "w") as f:
            f.write(key)
        return d

    # Unrelated dir with a DIFFERENT _KEY must survive the cleanup.
    live_sf = tmp_path / "other-sf"
    live_sf.mkdir()
    other = cache_dir("other-fixture-dir", str(live_sf))
    # Dirs keyed to a deleted fixture dir are orphans, variant or not.
    gone_sf = str(tmp_path / "deleted-sf")
    orphans = [
        cache_dir("orphan-fixture-dir", gone_sf),
        cache_dir("orphan-variant-dir", f"{gone_sf}|full"),
    ]

    time.sleep(0.05)
    os.utime(f"{sf}/documents.parquet")  # "regenerated" fixture
    d1 = archive_index_dir(sf)
    assert d1 != d0
    build_archive_indexes(spark, sf)
    assert not os.path.exists(d0), "stale epoch should be removed"
    assert os.path.exists(other), "foreign cache dirs must be untouched"
    for d in orphans:
        assert not os.path.exists(d), "orphaned epoch should be removed"
    shutil.rmtree(other, ignore_errors=True)
    shutil.rmtree(d1, ignore_errors=True)


@pytest.mark.parametrize(
    "stage",
    ["_stage_events", "_stage_events_duplicated", "_stage_events_sorted"],
)
def test_events_stage_keys_on_fixture_content(spark, tmp_path, stage):
    """Each streaming replay stage must invalidate when the events
    fixture is regenerated at the same path (same class as the r15
    index-cache ADVICE), and retire the stale epoch."""
    import os
    import shutil
    import time

    from data_preparation_plugin_spark.plans import events

    stage_events = getattr(events, stage)
    sf = str(tmp_path)
    shutil.copy(f"{SF_DIR}/events.parquet", f"{sf}/events.parquet")
    s0 = stage_events(spark, sf)
    assert os.path.exists(os.path.join(s0, "_SUCCESS"))
    time.sleep(0.05)
    os.utime(f"{sf}/events.parquet")
    s1 = stage_events(spark, sf)
    assert s1 != s0
    assert not os.path.exists(os.path.dirname(s0)), "stale stage retired"
    shutil.rmtree(os.path.dirname(s1), ignore_errors=True)


def test_merge_totals_removes_its_checkpoint(spark):
    """The availableNow MERGE replay deletes its streaming checkpoint dir
    and its table dir once the query terminates: the returned frame is
    eagerly checkpointed, so it reads neither and still has its rows."""
    import glob
    import os
    import tempfile

    patterns = [
        os.path.join(tempfile.gettempdir(), f"dpp-stream-merge-{kind}-*")
        for kind in ("ckpt", "table")
    ]
    before = {p: set(glob.glob(p)) for p in patterns}
    df = QUERIES["events_stream_merge_totals"].builder(spark, SF_DIR)
    for p in patterns:
        assert set(glob.glob(p)) <= before[p], p
    assert df.count() > 0


def test_gear_vec_edge_cases_match_python_reference(spark, tmp_path):
    """The vectorized kernel's chunk structure against a pure-Python
    implementation of the recurrence on adversarial inputs: all 256 byte
    values, 1-byte and exactly-16-byte texts, a long self-similar
    repeat, and a boundary-dense string."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_preparation_plugin_spark import plans
    from data_preparation_plugin_spark.plans.dedup import (
        CDC_GEAR_MOD,
        GEAR_BYTE_TABLE,
        _GEAR_REG,
    )

    texts = [
        "".join(chr(c) for c in range(1, 256)),  # dense byte coverage
        "a",
        "0123456789abcdef",  # exactly one register window
        "ab" * 5000,  # long self-similar repeat
        "é" * 17,  # 2-byte char crossing the window repeatedly
    ] + [
        # Every sub-window length 2..15: the r16 review found the
        # vectorized fold's negative-stop slice crashed exactly here.
        "xyzabcdefghijklm"[:ln]
        for ln in range(2, 16)
    ]

    def ref(t: str):
        bs = t.lower().encode("utf-8")
        if not bs:
            return [(hashlib.md5(b"").hexdigest(), 0)]
        h, starts = 0, [0]
        for i, byte in enumerate(bs, start=1):
            h = (2 * h + GEAR_BYTE_TABLE[byte]) % _GEAR_REG
            if h % CDC_GEAR_MOD == 0 and i < len(bs):
                starts.append(i)
        ends = starts[1:] + [len(bs)]
        hx = bs.hex().upper().encode("ascii")
        return [
            (hashlib.md5(hx[2 * s : 2 * e]).hexdigest(), e - s)
            for s, e in zip(starts, ends)
        ]

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
                "text": texts,
                "lang": ["xx"] * len(texts),
                "source": ["web"] * len(texts),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_dup_chunks"], r["dup_bytes"])
        for r in plans.QUERIES["dedup_cdc_chunks_gear_vec"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    # Recompute the expected rollup from the reference chunker.
    all_chunks = {i + 1: ref(t) for i, t in enumerate(texts)}
    spread = {}
    for doc, chs in all_chunks.items():
        for dig, _ln in chs:
            spread.setdefault(dig, set()).add(doc)
    want = {}
    for doc, chs in all_chunks.items():
        dup = [(d, ln) for d, ln in chs if len(spread[d]) >= 2]
        want[doc] = (len(chs), len(dup), sum(ln for _d, ln in dup))
    assert got == want


def test_ivf_retrain_drill_dpp_and_oracle(spark):
    """Serving after the forced retrain keeps the inverted-list property
    (DPP on the rebuilt assignment scan) and shares the full-rebuild
    oracle verbatim."""
    from data_preparation_plugin_spark.plans import QUERIES

    plan = plan_of(spark, "knn_ivf_retrain_drill")
    m = re.findall(r"PartitionFilters: \[[^\]]*\]", plan)
    assert any("dynamicpruning" in f for f in m), m
    assert count(r"SortMergeJoin", plan) == 0
    assert (
        QUERIES["knn_ivf_retrain_drill"].oracle
        == QUERIES["knn_ivf_cosine"].oracle
    )


def test_ivf_admit_partial_crash_cleanup(spark, tmp_path):
    """The other crash shape: the writer died mid-job-commit, leaving
    SOME committed part files (here simulated by an orphan copy of a
    base file inside a cell dir) plus its manifest. The retry must
    remove the orphan before appending — otherwise serving returns
    duplicated base vectors."""
    import glob
    import json
    import os
    import shutil

    from data_preparation_plugin_spark.plans.registry import load_table
    from data_preparation_plugin_spark.plans.similarity import (
        IVF_ADMIT_MOD,
        IVF_ADMIT_RESIDUES,
        admit_ivf_batch,
        build_ivf_base_index,
    )
    from pyspark.sql import functions as F

    shutil.copy(
        f"{SF_DIR}/embeddings.parquet", str(tmp_path / "embeddings.parquet")
    )
    sf = str(tmp_path)
    r = IVF_ADMIT_RESIDUES[0]
    base = build_ivf_base_index(spark, sf)
    adir = os.path.join(base, "assignments")

    def listing() -> list:
        out = []
        for root, _dirs, files in os.walk(adir):
            for fn in files:
                out.append(os.path.relpath(os.path.join(root, fn), adir))
        return sorted(out)

    n_base = spark.read.parquet(adir).count()
    batch_n = (
        load_table(spark, sf, "embeddings")
        .filter(F.col("vec_id") % IVF_ADMIT_MOD == r)
        .count()
    )
    pre = os.path.join(base, f"_PRE_ADMIT_r{r}.json")
    with open(pre, "w") as f:
        json.dump(listing(), f)
    a_part = glob.glob(os.path.join(adir, "cell=*", "part-*.parquet"))[0]
    orphan = os.path.join(os.path.dirname(a_part), "part-orphan.parquet")
    shutil.copy(a_part, orphan)  # the dead writer's partial commit
    assert spark.read.parquet(adir).count() > n_base

    admit_ivf_batch(spark, sf, base, r)  # the retry
    assert not os.path.exists(orphan)
    assert spark.read.parquet(adir).count() == n_base + batch_n


def test_retire_cycle_dirs(spark, tmp_path):
    """The compaction lifecycle's final step: merged delta dirs are
    removed only after the compaction committed, never standing tables,
    and the post-switch-over probe is unaffected by the retirement."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from data_preparation_plugin_spark import plans
    from data_preparation_plugin_spark.plans.curation import (
        archive_index_dir,
        retire_cycle_dirs,
    )

    t_arch = "the river flows and the mountain stands of old"
    t_new = "a quick brown fox jumps over the lazy dog today"
    rows = [(1, t_arch), (6, t_new), (9, t_new)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": ["web"] * len(rows),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    sf = str(tmp_path)

    # Refusal 1: compaction not committed yet.
    base = archive_index_dir(sf)
    fake_cycle = os.path.join(base, "cycles", "c1")
    with _pytest.raises(ValueError, match="incomplete"):
        retire_cycle_dirs(os.path.join(base, "never-compacted"), [fake_cycle])

    # Run the registered switch-over (builds index, delta, compaction).
    before = {
        r["doc_id"]: r["status"]
        for r in plans.QUERIES["curation_post_compaction_ingest"]
        .builder(spark, sf)
        .collect()
    }
    assert before[9] == "exact_dup_archive"
    compacted = os.path.join(base, "compacted-c1")
    cdir = os.path.join(base, "cycles", "c1")
    assert os.path.exists(cdir)

    # Refusal 2: non-cycle paths are never removable.
    with _pytest.raises(ValueError, match="non-cycle"):
        retire_cycle_dirs(compacted, [os.path.join(base, "fingerprints")])
    assert os.path.exists(os.path.join(base, "fingerprints"))

    # Refusal 3: another index's cycles/ children are never removable
    # on the strength of THIS index's completed compaction (r16 review).
    foreign = os.path.join(
        os.path.dirname(base), "some-other-index", "cycles", "c1"
    )
    os.makedirs(foreign, exist_ok=True)
    with _pytest.raises(ValueError, match="own base"):
        retire_cycle_dirs(compacted, [foreign])
    assert os.path.exists(foreign)
    import shutil as _shutil

    _shutil.rmtree(os.path.dirname(os.path.dirname(foreign)))

    retire_cycle_dirs(compacted, [cdir])
    assert not os.path.exists(cdir)
    # The switch-over probe never reads cycles/, so re-probing the
    # compacted tables still catches the cycle-1 admission. (The
    # registered builder would lazily rebuild the delta; probing the
    # compacted tables directly is the retired steady state.)
    from data_preparation_plugin_spark.plans.curation import (
        _probe_batch_against_index,
        read_archive_indexes,
    )
    from data_preparation_plugin_spark.plans.registry import load_table
    from pyspark.sql import functions as F

    fp1, sig1, band1 = read_archive_indexes(spark, compacted)
    month2 = load_table(spark, sf, "documents").filter(
        F.col("doc_id") == 9
    )
    got = {
        r["doc_id"]: r["status"]
        for r in _probe_batch_against_index(
            month2, fp1, sig1, band1
        ).collect()
    }
    assert got[9] == "exact_dup_archive"
