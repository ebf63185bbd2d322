"""Plan-shape assertions: the properties that matter at 100 TB.

Filters reach the parquet scan, projections prune columns, dim joins
broadcast, shingle candidate generation is an equi-join (never cartesian),
and hot paths stay inside whole-stage codegen.
"""

from __future__ import annotations

import re

from hbase_observer_elasticsearch_spark import plans
from hbase_observer_elasticsearch_spark.registry import queries

QS = queries()


def test_filter_pushdown_and_pruning(spark, sf_dir):
    df = QS["proj_filter_cast"](spark, sf_dir)
    pushed = " ".join(plans.pushed_filters(df))
    assert "l_quantity" in pushed and "l_returnflag" in pushed
    cols = plans.scan_read_columns(df)[0]
    assert "l_comment" not in cols
    assert "l_partkey" not in cols  # projection pruned to used columns


def test_star_join_broadcasts(spark, sf_dir):
    df = QS["q5_region_revenue"](spark, sf_dir)
    assert plans.has_broadcast_join(df)


def test_lsh_candidates_not_cartesian(spark, sf_dir):
    df = QS["dedup_minhash_lsh"](spark, sf_dir)
    assert not plans.has_cartesian_or_bnl(df)


def test_edit_distance_not_all_pairs(spark, sf_dir):
    """Length-banded blocking: the vocab self-match is an equi-join on the
    band key, never a BroadcastNestedLoopJoin over V² pairs."""
    df = QS["text_edit_distance_pairs"](spark, sf_dir)
    assert not plans.has_cartesian_or_bnl(df)


def test_agg_in_codegen(spark, sf_dir):
    df = QS["q1_pricing_summary"](spark, sf_dir)
    assert len(plans.wholestage_codegen_ids(df, execute=True)) >= 1
    # vectorized parquet read feeding the codegen'd agg
    assert "Batched: true" in plans.explain_str(df)


def test_topn_uses_take_ordered(spark, sf_dir):
    df = QS["sort_limit_topn"](spark, sf_dir)
    assert "TakeOrderedAndProject" in plans.explain_str(df)


def test_q6_full_pushdown(spark, sf_dir):
    """Every q6 predicate reaches the parquet scan; only 4 columns read."""
    df = QS["q6_forecast_revenue"](spark, sf_dir)
    pushed = " ".join(plans.pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed
    cols = plans.scan_read_columns(df)[0]
    assert cols.count(":") == 4  # quantity, extendedprice, discount, shipdate


def test_q19_disjunction_pushes_to_both_sides(spark, sf_dir):
    """The OR of per-side arms reaches each scan; part side broadcasts."""
    df = QS["q19_discounted_revenue"](spark, sf_dir)
    pushed = plans.pushed_filters(df)
    assert any("p_brand" in p for p in pushed)  # part scan got its arms
    assert any("l_quantity" in p for p in pushed)  # lineitem got the OR
    assert plans.has_broadcast_join(df)


def test_semi_and_anti_join_shapes(spark, sf_dir):
    assert "LeftSemi" in plans.explain_str(QS["q4_order_priority"](spark, sf_dir))
    assert "LeftAnti" in plans.explain_str(QS["q16_parts_suppliers"](spark, sf_dir))


def test_salted_agg_stages(spark, sf_dir):
    """Two-stage salted agg: the plan has no single-key wide shuffle of raw
    rows — stage 1 groups by (key, salt)."""
    df = QS["agg_salted_heavy_hitters"](spark, sf_dir)
    plan = plans.explain_str(df)
    assert "__salt" in plan
    assert not plans.has_cartesian_or_bnl(df)


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """A date-partitioned fact joined to a filtered dim scans only the
    partitions the dim selects (Catalyst DPP — at 100 TB this is the
    difference between scanning a day and scanning a decade)."""
    from pyspark.sql import functions as F

    from hbase_observer_elasticsearch_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders").withColumn(
        "om", F.date_format("o_orderdate", "yyyy-MM")
    )
    fact_dir = str(tmp_path / "orders_part")
    o.write.partitionBy("om").mode("overwrite").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)

    dim = (
        o.select("om").distinct().withColumn("keep", F.col("om").endswith("-01"))
    )
    j = fact.join(dim.filter("keep"), "om").groupBy("om").count()
    plan = plans.explain_str(j)
    assert "dynamicpruning" in plan.lower()


def test_hash_sampling_is_map_side(spark, sf_dir):
    """Deterministic md5-gate sampling/splitting must add NO exchange —
    pure scan + filter/project (the property that makes it free at
    100 TB)."""
    for name in (
        "sample_hash_bernoulli",
        "split_train_valid_test",
        "sample_mixture_by_source",
    ):
        plan = plans.explain_str(QS[name](spark, sf_dir))
        assert "Exchange" not in plan, name


def test_rarest_terms_broadcasts_df_table(spark, sf_dir):
    """The vocabulary-sized document-frequency table joins back via
    broadcast, not a shuffled join of the exploded term stream."""
    df = QS["text_rarest_terms"](spark, sf_dir)
    assert plans.has_broadcast_join(df)
    assert not plans.has_cartesian_or_bnl(df)


def test_keep_best_no_cartesian(spark, sf_dir):
    """Cluster keep-list: candidate generation stays bucket-joined and the
    per-cluster argmax is an aggregate — no cartesian/BNL anywhere."""
    assert not plans.has_cartesian_or_bnl(QS["dedup_keep_best"](spark, sf_dir))


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """With broadcast off (modeling a dim too big to broadcast at 100 TB),
    Catalyst injects a runtime bloom filter from the filtered dim side
    into the fact scan (`might_contain`), pruning shuffle input rows the
    join would discard — the semi-join pruning that matters when both
    sides shuffle. Thresholds are lowered because fixture tables are far
    below the 10 GB production default."""
    from pyspark.sql import functions as F

    from hbase_observer_elasticsearch_spark.catalog import load_table

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        assert "might_contain" in plans.explain_str(j)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_interval_overlap_is_equi_join(spark, sf_dir):
    """Binned interval-overlap join must be an equi-join on the bin key —
    never a BroadcastNestedLoopJoin over the raw theta predicate."""
    df = QS["join_interval_overlap"](spark, sf_dir)
    assert not plans.has_cartesian_or_bnl(df)


def test_chunking_is_exchange_free(spark, sf_dir):
    """Chunk generation (sequence + explode + substring) is pure map-side
    row generation: no exchange anywhere in the plan."""
    plan = plans.explain_str(QS["text_chunking"](spark, sf_dir))
    assert "Exchange" not in plan


def test_pair_dot_stats_no_self_join(spark, sf_dir):
    """The Σ-vector identity keeps pairwise-dot statistics linear: the plan
    has no join of embeddings against embeddings (only the final
    label-keyed stats join) and no cartesian/BNL."""
    df = QS["similarity_pair_dot_stats"](spark, sf_dir)
    assert not plans.has_cartesian_or_bnl(df)
    # exactly one scan subtree would be ideal; assert at least that the
    # number of embedding scans stays at 2 (sum-vector pass + norm pass),
    # not the 3+ a pair-enumeration would need
    plan = plans.explain_str(df)
    assert plan.count("embeddings.parquet") <= 2


def test_sketch_battery_single_scan_per_pass(spark, sf_dir):
    """HLL sketch build/union: no cartesian, and the union row reuses the
    per-type sketches (no extra raw-events scan for the ALL row beyond the
    exact-count pass)."""
    df = QS["sketch_battery"](spark, sf_dir)
    assert not plans.has_cartesian_or_bnl(df)


def test_funnel_joins_keyed_on_user(spark, sf_dir):
    """Funnel stages join on user_id equi-keys; the final three-count
    combination is the only (1-row) cross join."""
    df = QS["events_funnel"](spark, sf_dir)
    plan = plans.explain_str(df)
    # the 1x1x1 count combination may be a BNL over single-row inputs;
    # what must NOT appear is a nested-loop over the raw events table
    assert "user_id" in plan


def test_salted_join_is_shuffle_join_on_salt(spark, sf_dir):
    """The salted-skew join must be a real shuffle join keyed on
    (join_key, __salt) — not a broadcast (which would hide the pattern)
    and not a BNL."""
    df = QS["join_salted_skew"](spark, sf_dir)
    plan = plans.explain_str(df)
    assert "__salt" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert not plans.has_cartesian_or_bnl(df)


def test_incremental_rollup_partial_merge(spark, sf_dir):
    """Both branches aggregate BEFORE the union: the merge re-aggregates
    O(groups) partial rows, never the raw fact rows twice."""
    df = QS["agg_incremental_rollup"](spark, sf_dir)
    plan = plans.explain_str(df)
    assert plan.count("HashAggregate") >= 4  # partial+final × (base, incr, merge)


def test_ewma_single_window_exchange(spark, sf_dir):
    """The 8-tap EWMA is ONE per-user window pass: a single shuffle
    exchange (the user_id sort), no join, no second window."""
    import re

    df = QS["events_ewma_trailing"](spark, sf_dir)
    plan = plans.explain_str(df)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Join" not in plan


def test_audit_sample_no_global_sort(spark, sf_dir):
    """k-per-group sampling must not materialize a global sort — the
    row_number + filter stays a per-group window after one hash
    exchange (no rangepartitioning over the corpus)."""
    df = QS["sample_topk_per_group"](spark, sf_dir)
    plan = plans.explain_str(df)
    assert "rangepartitioning" not in plan.lower().replace(" ", "")


def test_pagerank_no_cartesian(spark, sf_dir):
    df = QS["graph_pagerank"](spark, sf_dir)
    assert not plans.has_cartesian_or_bnl(df)


def test_source_overlap_join_free(spark, sf_dir):
    """Pair expansion is HOF-based after a groupBy on the shingle and the
    per-source totals attach as a literal map — the final plan must have
    NO join at all (a self-join of the exploded shingle stream would
    recompute the corpus scan and double the shuffle)."""
    import re

    df = QS["corpus_source_overlap"](spark, sf_dir)
    plan = plans.explain_str(df)
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_pq_adc_join_broadcasts_lookup(spark, sf_dir):
    """ADC scoring joins the full code table against the tiny per-query
    lookup table — that join must be broadcast, never a shuffle of the
    codes. (Inspect the builder, not the registered query: the registry
    entry returns the memoized localCheckpoint, whose plan is just the
    cached-RDD scan. The tiny query×centroid crossJoins are deliberate
    BNLs over broadcast 4-row tables, so no no-BNL assertion here.)"""
    from hbase_observer_elasticsearch_spark.operators.similarity import (
        _pq_topk,
    )

    df = _pq_topk(spark, sf_dir)
    assert plans.has_broadcast_join(df)


def test_bucketed_colocated_join_single_exchange(spark, sf_dir):
    """The bucketed fact-fact join consumes bucket layout directly: the
    ONLY exchange in the whole plan is the final small aggregation —
    neither join side re-shuffles."""
    import re

    df = QS["join_bucketed_colocated"](spark, sf_dir)
    plan = plans.explain_str(df)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_gate_report_is_single_scan(spark, sf_dir):
    """The corpus gate crosstab must read documents ONCE (one file scan)
    and aggregate map-side — no join, no per-gate re-scan."""
    plan = plans.explain_str(QS["corpus_gate_report"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan


def test_bloom_membership_broadcasts_bits(spark, sf_dir):
    """Bloom bit-set and member table are broadcast — the probe side
    never shuffles."""
    df = QS["sketch_bloom_membership"](spark, sf_dir)
    assert plans.has_broadcast_join(df)


def test_prefix_filter_join_no_cartesian(spark, sf_dir):
    """Candidate generation is an equi-join on the shingle; verification
    is broadcast — nothing degrades to cartesian/BNL."""
    assert not plans.has_cartesian_or_bnl(
        QS["dedup_prefix_filter_join"](spark, sf_dir)
    )


def test_zorder_locality_single_scan_map_side_code(spark, sf_dir):
    """Morton coding is a map-side expression over ONE scan; the only
    exchange is the bucket-keyed aggregation shuffle."""
    plan = plans.explain_str(QS["layout_zorder_locality"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan


def test_fk_orphans_broadcasts_dims(spark, sf_dir):
    """Dimension parents broadcast; no cartesian anywhere in the
    four-edge audit."""
    df = QS["quality_fk_orphans"](spark, sf_dir)
    assert plans.has_broadcast_join(df)
    assert not plans.has_cartesian_or_bnl(df)


def test_weighted_sample_is_scan_plus_broadcast(spark, sf_dir):
    """The weighted Bernoulli sample adds only the single-row MAX
    broadcast to a map-side filter — no shuffle of data rows (the
    single-row cross join may plan as BNL, which is broadcast-sized by
    construction)."""
    plan = plans.explain_str(QS["sample_weighted_bernoulli"](spark, sf_dir))
    # the only allowed shuffle is the single-row exchange under the
    # scalar MAX aggregate; document rows themselves never shuffle
    shuffles = re.findall(r"^\(\d+\) Exchange$", plan, flags=re.M)
    assert len(shuffles) <= 1
    assert "SinglePartition" in plan


def test_tfidf_pairs_top_k_take_ordered(spark, sf_dir):
    """The TF-IDF top-k compiles to TakeOrderedAndProject (bounded
    per-partition heaps), not a global sort."""
    plan = plans.explain_str(QS["text_tfidf_cosine_pairs"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_partitioned_sink_prunes_directories(spark, sf_dir, tmp_path):
    """The year predicate must reach the partitioned scan as
    PartitionFilters (directory pruning), not a post-scan filter."""
    from pyspark.sql import functions as F

    from hbase_observer_elasticsearch_spark.catalog import load_table

    path = str(tmp_path / "orders_by_year")
    (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .repartition("o_year")
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(F.col("o_year").isin(1996, 1997))
    plan = plans.explain_str(back)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_year" in m.group(1), plan[:800]


def test_obt_flatten_broadcasts_all_dims(spark, sf_dir):
    """The one-big-table build must broadcast every dimension and keep
    a single shuffled join (the fact⋈orders edge) — the only OBT plan
    that survives at scale."""
    plan = plans.explain_str(QS["obt_star_flatten"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 5, plan[:400]
    assert not plans.has_cartesian_or_bnl(QS["obt_star_flatten"](spark, sf_dir))


def test_share_of_group_windows_over_aggregate(spark, sf_dir):
    """The share window must run over the (type, brand) aggregate grain,
    not the fact rows: the Window operator appears ABOVE the aggregate
    in the plan (no window directly over the scan)."""
    plan = plans.explain_str(QS["window_share_of_group"](spark, sf_dir))
    assert "Window" in plan
    # aggregate happens before (deeper than) the window: in formatted
    # explain the deepest nodes get the lowest ids
    import re as _re

    agg_ids = [int(m) for m in _re.findall(r"\((\d+)\) HashAggregate", plan)]
    win_ids = [int(m) for m in _re.findall(r"\((\d+)\) Window", plan)]
    assert agg_ids and win_ids and min(agg_ids) < min(win_ids)


def test_aqe_skew_join_splits_hot_partition(spark, sf_dir):
    """A/B partner of test_salted_join_is_shuffle_join_on_salt: the
    UNSALTED skewed join, run under AQE with the skew
    thresholds scaled down to fixture size, must show runtime skew-join
    splitting in the FINAL adaptive plan (SortMergeJoin(skew=true)).

    Two preconditions discovered while building this test — both are the
    PARITY.md "when manual salting still wins" story:

    1. OptimizeSkewedJoin pattern-matches Sort-over-ShuffleStage on BOTH
       join children. Our dim pipeline ends in a distinct (HashAggregate
       between its shuffle and the join), which breaks the match and
       silently disables skew handling — the dim must be materialized
       (localCheckpoint here; a table in production) first.
    2. AQE splits a skewed partition at MAPPER boundaries. The fixture
       fact is one parquet file = one map task, so its hot partition is
       one indivisible chunk; the fact side needs multiple upstream
       tasks (repartition here; real 100 TB inputs always have them).

    Manual salting (join_salted_skew) has neither precondition.
    """
    from pyspark.sql import functions as F

    from hbase_observer_elasticsearch_spark.operators.skew_agg import (
        skewed_fact_dim,
    )

    confs = {
        # fixture-scale thresholds: the hot partition is ~90 KB at sf0.01
        # and ~9 KB at sf0.001
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
        # keep the split visible: no broadcast demotion of the dim side
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact, dim = skewed_fact_dim(spark, sf_dir)
        dim = dim.localCheckpoint(eager=True)  # precondition 1
        joined = fact.repartition(16).hint("merge").join(dim, "join_key")
        joined.collect()  # collect() finalizes THIS DataFrame's adaptive plan
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:1500]
        # and the AQE answer still matches the salted-join answer
        from hbase_observer_elasticsearch_spark.registry import queries

        ab = joined.groupBy("grp").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        salted = queries()["join_salted_skew"](spark, sf_dir)
        assert sorted(map(tuple, ab.collect())) == sorted(
            map(tuple, salted.collect())
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cep_funnel_single_pass_no_join(spark, sf_dir):
    """events_cep_funnel_3step must stay the windowed single-pass plan:
    one hash exchange on user_id feeding both running-MAX windows and
    the final aggregate — and NO join operator anywhere (the naive CEP
    formulation is a 3-way interval self-join that explodes at scale)."""
    df = QS["events_cep_funnel_3step"](spark, sf_dir)
    plan = plans.explain_str(df)
    assert "Join" not in plan
    # exactly ONE shuffle, on user_id: both windows and the final
    # aggregate reuse the same partitioning
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    parts = re.findall(r"hashpartitioning\(([^,]+)", plan)
    assert parts and all("user_id" in p for p in parts)
    # the event-type filter reaches the parquet scan
    assert "In(event_type" in plan


def test_bm25_topk_take_ordered_and_no_cartesian(spark, sf_dir):
    """BM25: the final top-k compiles to TakeOrderedAndProject (no
    global-sort Exchange), the postings term filter applies before the
    tf aggregation, and nothing nested-loops over the corpus."""
    df = QS["search_bm25_topk"](spark, sf_dir)
    plan = plans.explain_str(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # the one-row corpus-stats side rides a broadcast, never a shuffle
    assert plans.has_broadcast_join(df)


def test_phrase_search_is_postings_equi_join(spark, sf_dir):
    """Positional phrase search joins term postings on (doc_id,
    position) equi-keys — never a cartesian over the positional index."""
    df = QS["search_phrase_positional"](spark, sf_dir)
    plan = plans.explain_str(df)
    assert "CartesianProduct" not in plan
    assert "doc_id" in plan


def test_rrf_fusion_reads_memoized_lists(spark, sf_dir):
    """RRF fusion must be list-merge-sized: its plan reads the two
    checkpointed top-k tables (Scan ExistingRDD), not the RHP/PQ
    index-build subtrees."""
    df = QS["similarity_rank_fusion_rrf"](spark, sf_dir)
    plan = plans.explain_str(df)
    assert "ExistingRDD" in plan
    # neither family's training machinery may appear in the fusion plan
    assert "posexplode" not in plan.lower()
    # hash agg + per-query rank window over the tiny fused list only
    assert plan.count("Exchange") <= 4
    assert "Scan parquet" not in plan  # embeddings never rescanned
