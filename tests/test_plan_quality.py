"""Plan-quality gates: the scale properties SCALE.md documents are
asserted here so a regression in pushdown / join strategy / pruning
fails CI, not just the benchmark."""

from __future__ import annotations

from stream_processing_platform_spark.registry import queries
from stream_processing_platform_spark.session import scoped_conf


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q01_filter_pushdown_and_column_pruning(spark, sf_dir):
    df = queries()["q01_pricing_summary"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 7 of 11 lineitem columns read — projection reaches the scan
    read = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read


def test_star_joins_broadcast_all_dims(spark, sf_dir):
    qs = queries()
    for name, n_bcast in [("q03_shipping_priority", 2), ("q05_local_supplier_volume", 5)]:
        plan = _plan(qs[name](spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= n_bcast, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_exists_rewrites_to_semi_anti_join(spark, sf_dir):
    plan = _optimized(queries()["q_sql_exists"](spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_minhash_has_no_cartesian_product(spark, sf_dir):
    """The near-dup scale invariant: candidates meet only inside LSH
    buckets — never an all-pairs product."""
    plan = _plan(queries()["q_minhash_lsh_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_near_dup_has_no_cartesian_product(spark, sf_dir):
    """The registered embedding near-dup path is hyperplane-LSH banded:
    candidates meet only inside (band, chunk) buckets, then exact-cosine
    verify — the crossJoin brute force exists only as the oracle.

    Shape pin (added after the r5 bench flagged a +23% that turned out
    to be harness variance — the normalized formatted plan was hash-
    identical to r4's): exactly ONE hash-partitioned shuffle (the
    band-bucket grouping; the RoundRobin repartitions are
    ensure_min_parallelism no-ops at scale) and the verify join is a
    BroadcastHashJoin of the bounded candidate set — a second keyed
    shuffle or a sort-merge flip is a real plan change, not noise."""
    plan = _plan(queries()["q_embedding_near_dup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    keyed = plan.count("Exchange hashpartitioning")
    assert keyed == 1, f"expected 1 hash-partitioned Exchange, plan has {keyed}"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_contamination_broadcasts_benchmark_no_product(spark, sf_dir):
    """The decontamination check must stay an inverted-index join with
    the (small) benchmark side broadcast — never corpus × benchmark."""
    plan = _plan(queries()["q_contamination"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_embedding_near_dup_matrix_constant_folds(spark, sf_dir):
    """The SRP hyperplane matrix must reach execution as ONE folded
    Literal — if it survives as a CreateArray of 12k elements (e.g.
    someone wraps it in let()/a lambda variable again) it re-materializes
    per row, a 10x signature regression. The registered query runs the
    Arrow signature path (matrix lives in the numpy closure, not the
    plan); this gate pins the EXPRESSION twin, which the Arrow path is
    pytest-pinned equal to."""
    from pyspark.sql import functions as F

    from stream_processing_platform_spark.operators.dedup import hyperplane_lsh_pairs
    from stream_processing_platform_spark.queries.similarity import _augmented

    df = hyperplane_lsh_pairs(
        _augmented(spark, sf_dir), "vec_id", "embedding",
        threshold=0.95, signature="expr",
    )
    plan = _optimized(df)
    assert plan.count("1.0D") < 100, "hyperplane literals not constant-folded"


def test_new_prep_queries_shapes(spark, sf_dir):
    """Chunking stays narrow (zero exchanges before the collect);
    packing shuffles only on its window/group keys; centroids keep a
    partial aggregate before the exchange (map-side combine)."""
    qs = queries()
    chunk_plan = _plan(qs["q_doc_chunking"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in chunk_plan
    cent_plan = _plan(qs["q_embedding_centroids"](spark, sf_dir))
    assert "partial" in cent_plan.lower()
    assert "CartesianProduct" not in cent_plan


def test_tpch_round2_join_shapes(spark, sf_dir):
    """Q9: all three dims broadcast around the fact. Q18: the HAVING-
    filtered per-order aggregate is the BROADCAST side of the join with
    orders (aggregate-before-join) — no SortMergeJoin anywhere."""
    qs = queries()
    for name, n_bcast in [("q09_product_profit", 3), ("q18_large_volume", 2)]:
        plan = _plan(qs[name](spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= n_bcast, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_partition_pruning_on_partitioned_layout(spark, sf_dir, tmp_path):
    """At 100 TB tables are hive-partitioned (e.g. by date/type); a
    predicate on the partition column must prune directories at planning
    time — PartitionFilters in the scan, only matching files read."""
    out = str(tmp_path / "events_part")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    part = spark.read.parquet(out)
    one = part.where(part.event_type == "purchase").select("event_id")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:200]
    n_purchase = one.count()
    n_all = ev.where(ev.event_type == "purchase").count()
    assert n_purchase == n_all


def test_tpch_round2b_join_shapes(spark, sf_dir):
    """Q8: all five dims broadcast around the fact spine. Q15/Q17: the
    scalar subquery (max / per-part avg) is broadcast back, never a
    cartesian re-join. Q21: EXISTS / NOT-EXISTS become left-semi and
    left-anti self-joins. Q22: the dormancy check is a left-anti join."""
    qs = queries()
    plan8 = _plan(qs["q08_market_share"](spark, sf_dir))
    assert plan8.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan8
    for name in ("q15_top_supplier", "q17_small_quantity_revenue"):
        plan = _plan(qs[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name
    opt21 = _optimized(qs["q21_waiting_suppliers"](spark, sf_dir))
    assert "LeftSemi" in opt21 and "LeftAnti" in opt21
    opt22 = _optimized(qs["q22_dormant_customers"](spark, sf_dir))
    assert "LeftAnti" in opt22


def test_tpch_round3_partsupp_shapes(spark, sf_dir):
    """Q2: the per-part argmin is one hash aggregate (min(struct)), never a
    ranking window over the cost expansion; dims broadcast. Q11: the
    scalar-subquery HAVING broadcasts the 1-row total back (no cartesian).
    Q16: NOT IN plans as a broadcast left-anti join. Q20: both nested INs
    become left-semi joins."""
    qs = queries()
    plan2 = _plan(qs["q02_min_cost_supplier"](spark, sf_dir))
    assert "Window" not in plan2  # argmin via min(struct), not row_number
    assert plan2.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan2
    # part + EUROPE filters pushed below the cost aggregate as
    # broadcast semi-joins (they land on its grouping keys)
    assert plan2.count("LeftSemi") >= 2
    plan11 = _plan(qs["q11_important_stock"](spark, sf_dir))
    assert "CartesianProduct" not in plan11
    assert "BroadcastHashJoin" in plan11
    opt16 = _optimized(qs["q16_supplier_part_types"](spark, sf_dir))
    assert "LeftAnti" in opt16
    opt20 = _optimized(qs["q20_concentrated_suppliers"](spark, sf_dir))
    assert opt20.count("LeftSemi") >= 2


def _window_group_limit_modes(plan: str) -> list[str]:
    """Modes of every WindowGroupLimit node in a toString'd physical plan.

    A node prints as ``WindowGroupLimit [part], [order], row_number(), k,
    Partial`` (or ``Final``) — the mode is the last token of the node line.
    """
    import re

    return re.findall(r"WindowGroupLimit .*?, (Partial|Final)\b", plan)


def test_window_topk_rank_limit_pushdown(spark, sf_dir):
    """Per-group top-k must compile with WindowGroupLimit (Spark 3.5+
    rank-limit pushdown): every rank filter gets a FINAL group-limit, and
    wherever a shuffle feeds the ranking window a PARTIAL group-limit runs
    map-side before the exchange, so only ~k rows per group per partition
    ever move — the property that keeps per-query/per-group top-k
    scale-safe. Without it the full scored set shuffles and sorts (at
    100 TB, the difference between q*k rows and q*corpus rows in flight).

    n_finals = rank filters in the query (each must compile to a group
    limit at all). n_partials = how many of those rankings sit above an
    exchange in the intended plan and therefore need the map-side
    truncation (a ranking whose input is already partitioned on the group
    key legitimately plans Final-only — no shuffle to protect)."""
    qs = queries()
    for name, n_finals, n_partials in [
        ("q_topk_per_group", 1, 1),  # one rank filter over a scan -> shuffle
        ("q_cosine_topk", 1, 1),     # brute-force scored -> top-k shuffle
        ("q_ann_ivf", 2, 2),         # probe + final top-k (assign argmin
                                     # is a min(struct) aggregate)
        ("q_ann_pq", 2, 2),          # ADC candidate cut + exact re-rank
                                     # (encode argmin is a min(struct)
                                     # aggregate, not a rank-limit)
        ("q_ann_ivfpq", 3, 3),       # probes + ADC cut + exact re-rank
        ("q_approx_distinct_kmv", 1, 1),  # KMV bottom-k per group: the
                                     # Partial limit is what bounds
                                     # per-group state by k everywhere
    ]:
        modes = _window_group_limit_modes(_plan(qs[name](spark, sf_dir)))
        finals = modes.count("Final")
        partials = modes.count("Partial")
        assert finals >= n_finals, (
            f"{name}: expected a Final WindowGroupLimit per rank filter "
            f"({n_finals}), plan has {finals} (modes={modes})"
        )
        assert partials >= n_partials, (
            f"{name}: expected {n_partials} map-side Partial "
            f"WindowGroupLimit(s) ahead of the ranking exchange(s), plan "
            f"has {partials} (modes={modes}) — a rank-limit lost its "
            f"pre-shuffle truncation"
        )


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Bucketing is the co-located-join tool for fact-to-fact joins too
    big to broadcast: both sides bucketed on the join key with the same
    bucket count must join with ZERO Exchange (the write pre-shuffled),
    while the same join on plain tables shuffles both sides. Broadcast
    is disabled inside the test so the shuffle-vs-bucket difference is
    what's measured."""
    from stream_processing_platform_spark.sinks import write_bucketed
    from stream_processing_platform_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    write_bucketed(orders, "bq_orders", ["o_orderkey"], num_buckets=8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "bq_lineitem", ["o_orderkey"], 8
    )
    try:
        with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            joined = spark.table("bq_orders").join(spark.table("bq_lineitem"), "o_orderkey")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, "bucketed join should not shuffle"
            assert "SortMergeJoin" in plan
            # sanity: result matches the plain-table join
            plain = orders.join(
                li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
            )
            assert joined.count() == plain.count()
            plain_plan = plain._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" in plain_plan  # the unbucketed baseline shuffles
    finally:
        spark.sql("DROP TABLE IF EXISTS bq_orders")
        spark.sql("DROP TABLE IF EXISTS bq_lineitem")


def test_ann_rerank_candidate_rule_compiles_to_hash_joins(spark, sf_dir):
    """The q_ann_rerank fixed candidate rule (neighbor % 10 == query
    % 10) must reach execution as broadcast HASH joins — Catalyst
    extracts the modular expressions as join keys; a regression to
    BroadcastNestedLoopJoin or CartesianProduct re-introduces the
    all-pairs scan the re-rank stage exists to avoid."""
    plan = _plan(queries()["q_ann_rerank"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # rule + corpus-vec + query-vec
    assert "SortMergeJoin" not in plan


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """With runtime bloom filters enabled (partitioning.
    runtime_bloom_filter_conf), a selective dim filter on a
    non-broadcastable shuffle join must inject might_contain() as a
    pre-shuffle fact-side filter fed by a bloom_filter_agg on the build
    side — the shuffle-bytes reducer for star joins too big to
    broadcast. Thresholds are lowered (and broadcast disabled) to force
    the shape at local scale; the assert is on the optimizer's output,
    which is scale-independent."""
    import pyspark.sql.functions as F

    from stream_processing_platform_spark.partitioning import runtime_bloom_filter_conf
    from stream_processing_platform_spark.tables import load_table

    conf = {
        **runtime_bloom_filter_conf(
            creation_side_threshold="10MB", application_side_threshold="1KB"
        ),
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_conf(spark, conf):
        l = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderstatus") == "F"
        ).select("o_orderkey")
        j = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count()
        opt = _optimized(j)
    assert "might_contain" in opt and "bloom_filter_agg" in opt


def test_heavy_hitters_verify_join_broadcasts_candidates(spark, sf_dir):
    """The sketch-then-verify shape: the (bounded) MG candidate set must
    come back as a BROADCAST left-semi filter on the token stream — a
    sort-merge flip here would shuffle the full token stream by token,
    exactly what the sketch exists to avoid."""
    plan = _plan(queries()["q_heavy_hitters"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_all_joins_broadcast(spark, sf_dir):
    """BM25 scale shape: doc lengths come from size(tokens(text)) in the
    scan task and query terms filter inside the token array BEFORE the
    explode — so the plan has NO doc-length join at all, exactly one
    broadcast join (term df), one 1-row totals broadcast, and only the
    two tf/score aggregate exchanges. A SortMergeJoin or a third
    exchange means the full token explode crept back."""
    plan = _plan(queries()["q_bm25_rank"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the only nested-loop join is the 1-row totals broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    # 4 = lean tf for df + term df + full tf + per-doc score; every one
    # moves only matching-term rows (bounded by n_docs x |terms|) — the
    # thing this gate exists to forbid is a full-token-explode shuffle,
    # which would show up as a 5th exchange keyed on doc_id alone
    assert plan.count("Exchange hashpartitioning") <= 4


def test_ohlc_single_shuffle_no_rank_window(spark, sf_dir):
    """OHLC bars: ONE (series, bucket) exchange; open/close argmin/argmax
    via min(struct)/max(struct) — a Window operator appearing here means
    someone reintroduced the row_number()-over-expansion anti-pattern
    (CLAUDE.md argmin rule)."""
    plan = _plan(queries()["q_ohlc_bars"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan


def test_gap_fill_no_join_single_window(spark, sf_dir):
    """gap_fill's lead+explode formulation: no grid↔observation join of
    any kind, exactly one Window (the lead), and no more than the two
    natural exchanges (bucket aggregate + series-key window)."""
    for q in ("q_gap_fill_locf", "q_gap_fill_linear"):
        plan = _plan(queries()[q](spark, sf_dir))
        for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                  "BroadcastNestedLoopJoin", "ShuffledHashJoin"):
            assert j not in plan, (q, j)
        assert plan.count("Exchange hashpartitioning") <= 2, q
        assert plan.count("Window") == 1, q


def test_kmeans_assignment_is_scan_side_python(spark, sf_dir):
    """The production assignment path (Arrow UDF) must stay shuffle-free:
    one scan, one Python eval, zero exchanges before the projection."""
    from stream_processing_platform_spark.operators.clustering import kmeans_assign
    from stream_processing_platform_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = kmeans_assign(emb, [[0.0] * 64, [1.0] * 64])
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan


def test_cdc_apply_single_shuffle_no_window(spark, sf_dir):
    """CDC compaction: ONE key exchange with the argmax as a combining
    aggregate — a Window here means someone replaced max(struct) with a
    row_number sort over the full change history."""
    plan = _plan(queries()["q_cdc_apply"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert "Join" not in plan


def test_line_dedup_two_shuffles_one_window(spark, sf_dir):
    """Corpus line dedup: sentence-keyed first-occurrence window + doc
    reassembly aggregate — two key exchanges, one Window, no join of
    any kind (the grid-join anti-pattern from gap_fill's first draft)."""
    plan = _plan(queries()["q_line_dedup"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("Window") == 1
    assert "Join" not in plan



def test_distributed_percentiles_single_shuffle(spark, sf_dir):
    """Rank-select percentiles: rank window, count window and the final
    aggregate all share ONE hash partitioning on the group key — a
    single Exchange, external sort, no product. (The r15 histogram
    variant was built and measured: value-identical, but +50% at sf0.1
    because the synthetic prices are ~all distinct — it stays opt-in
    via histogram=True for saturated grids; see
    test_ppl_band_histogram_rank_select.)"""
    plan = _plan(queries()["q_percentiles_distributed"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:800]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ppl_band_histogram_rank_select(spark, sf_dir):
    """q_ppl_band_prune's band group is the whole corpus: the bounds
    pass must use the r15 HISTOGRAM rank-select (cumulative counts over
    distinct 4dp scores, map-side partial_count) — a row_number window
    there would global-sort every document's score in one task, the
    exact shape the query's description forswears."""
    plan = _plan(queries()["q_ppl_band_prune"](spark, sf_dir))
    assert "row_number" not in plan
    assert "partial_count" in plan


def test_substring_spans_never_broadcast_dup_hashes(spark, sf_dir):
    """The duplicated-hash set scales with the corpus (10-50% of grams
    on boilerplate-heavy corpora): AQE's small-SF estimate would
    broadcast it and invert the 100 TB plan (it OOMed the sf0.1 bench).
    The covered-grams join must stay a sort-merge on the hash key, and
    the interval merge's two window functions must ride ONE sort."""
    plan = _plan(queries()["q_substring_dup_spans"](spark, sf_dir))
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_triangle_and_near_pairs_no_product(spark, sf_dir):
    """The banded proximity self-join + degree-oriented triangles must
    be pure equi-joins end to end: bucket probes and vertex keys, never
    a per-nation (or global) product."""
    plan = _plan(queries()["q_triangle_counts"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_posting_list_expanders_count_before_collect(spark, sf_dir):
    """r8 verdict #4: the boilerplate cap must filter hot keys BEFORE
    any posting list materializes. In the physical plan that reads
    (top-down): collect_list aggregate ABOVE the pinned sort-merge
    semi-filter join ABOVE the O(1)-state count filter. The join must
    never broadcast the surviving-key side (it scales with the corpus —
    AQE's small-SF estimate would invert the 100 TB plan)."""
    for name in ("q_winnow_dup_pairs", "q_containment_pairs"):
        plan = _plan(queries()[name](spark, sf_dir))
        i_cl = plan.find("collect_list")
        i_join = plan.find("SortMergeJoin")
        i_cnt = plan.find("_cnt")
        assert 0 <= i_cl < i_join < i_cnt, (name, i_cl, i_join, i_cnt)
        # the keep-keys join is the SMJ; no broadcast of _cnt-derived keys
        assert "BroadcastHashJoin" not in plan.split("SortMergeJoin")[1].split("HashAggregate")[0], name


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """A-ES sampling must plan per-partition top-k (TakeOrderedAndProject)
    with the weight filter pushed to the scan — never a global sort."""
    plan = _plan(queries()["q_weighted_sample"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "GreaterThan(n_chars,0)" in plan.replace(" ", "")


def test_acf_and_cusum_single_scan_single_shuffle(spark, sf_dir):
    """The quantized-mean centering rides the consumer's key sort as a
    whole-partition window — one parquet scan and one Exchange total
    (the aggregate-then-join form re-read the parquet)."""
    qs = queries()
    for name in ("q_acf", "q_cusum_changepoint"):
        plan = _plan(qs[name](spark, sf_dir))
        assert plan.count("FileScan parquet") == 1, name
        assert plan.count("Exchange hashpartitioning") == 1, name
        assert "CartesianProduct" not in plan, name


def test_acf_all_lags_in_one_window_pass(spark, sf_dir):
    """All 5 leads must come from ONE sort — k lags must not k-plicate
    the shuffle or the sort."""
    plan = _plan(queries()["q_acf"](spark, sf_dir))
    assert plan.count("+- Sort ") == 1


def test_seasonal_decompose_single_shuffle_one_window_pass(spark, sf_dir):
    """row_number + MA sum + window count share one sort, and the
    (key, phase) aggregate REUSES the key partitioning (clustering by a
    subset of the group keys satisfies the distribution) — one Exchange
    for the whole decomposition."""
    plan = _plan(queries()["q_seasonal_decompose"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("+- Sort ") == 1


def test_r13_crawl_family_plan_shapes(spark, sf_dir):
    """The r13 crawl-family scale shapes: the parser queries are pure
    scan-speed maps (zero Exchange), the scheduler is exactly one
    domain-keyed window shuffle, the URL filter is zero-shuffle pure
    codegen, and the rules gate stays a broadcast join after the
    wildcard/LIKE upgrade."""
    qs = queries()
    for name in ("q_sitemap_parse", "q_robots_txt_parse", "q_http_headers"):
        plan = _plan(qs[name](spark, sf_dir))
        assert "Exchange" not in plan, name
        assert "ArrowEvalPython" in plan or "MapInPandas" in plan, name
    plan = _plan(qs["q_url_features"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Python" not in plan  # pure JVM codegen, no UDF of any kind
    plan = _plan(qs["q_crawl_schedule"](spark, sf_dir))
    assert plan.count("Exchange") == 1  # ONE domain-keyed window shuffle
    assert "Join" not in plan  # the delay recipe rides as a plan literal
    plan = _plan(qs["q_robots_rules_filter"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_web_funnel_single_scan_shape(spark, sf_dir):
    """q_web_funnel computes all six stage rows from ONE lineage: one
    Arrow map (the per-doc Python stages), one canonical-keyed window,
    and one global aggregate exploded into rows — never a per-stage
    rescan of the documents table."""
    plan = _plan(queries()["q_web_funnel"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1  # the one-scan claim, literally
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_outlink_frontier_shape(spark, sf_dir):
    """q_outlink_frontier (r14): extract+resolve+canonicalize is pure
    JVM regexp codegen (zero Python operators), the seen anti-join is
    a SHUFFLED sort-merge on the canonical key — the seen side is the
    full frontier, which scales with the corpus, so a broadcast there
    (what AQE picks from small-SF sizes) would invert at 100 TB — and
    the per-URL aggregate reuses the join partitioning: exactly one
    keyed Exchange per join side, no third for the aggregate."""
    plan = _plan(queries()["q_outlink_frontier"](spark, sf_dir))
    assert "Python" not in plan  # scan-speed path, no UDFs anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan and "LeftAnti" in plan
    assert "BroadcastHashJoin" not in plan
    keyed = plan.count("Exchange hashpartitioning")
    assert keyed == 2, f"expected 2 keyed Exchanges, plan has {keyed}"
    assert plan.count("Scan parquet") == 2  # links side + seen side


def test_substring_spans_gram_exchange_reused(spark, sf_dir):
    """q_substring_dup_spans (r14 optimization, r15 gate): the
    width-keeper construction in operators/dedup.substring_dup_spans
    (never-true `_pm < 0` disjunct + carried min() aggregates +
    posexplode_outer) exists ONLY so both consumers' repartition("_h")
    exchanges stay canonically identical and AQE materializes the Arrow
    gram scan + shuffle ONCE. That hinges on current Catalyst
    pruning/filter-inference behavior — if a Spark upgrade prunes
    differently, the query silently degrades to scanning the grams
    twice (correct but 2x). Assert the intent BY NAME on the executed
    plan so the regression message says 'gram exchange no longer
    reused', not just a plan-hash mismatch (r14 verdict item 8 /
    advice)."""
    df = queries()["q_substring_dup_spans"](spark, sf_dir)
    # execute THIS DataFrame's queryExecution (a noop .write wraps the
    # plan in a fresh command, leaving df's own AQE plan un-finalized)
    df.collect()
    plan = _plan(df)
    assert "ReusedExchange" in plan, (
        "gram exchange no longer reused: the Arrow gram scan now "
        "evaluates once per consumer (the r14 width-keeper in "
        "operators/dedup.py stopped defeating column pruning?)"
    )
    # the reuse must target the gram exchange itself: its output is the
    # exploded (doc_id, _len, pos, _h) row
    import re

    assert re.search(r"ReusedExchange \[doc_id#\d+L?, _len#\d+", plan), (
        "a ReusedExchange exists but not over the gram exchange"
    )
