"""Physical-plan audits: the 100 TB story is only real if Catalyst
actually produces the plans we designed for — filters reach the parquet
scan, projections prune the read schema, small dims broadcast, top-k
never global-sorts, and the relational hot path stays inside
whole-stage codegen. These tests pin that down at sf0.001 (plan shape
is scale-invariant; AQE may re-plan sizes but not these properties).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ycrawl_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str, mode: str = "formatted") -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_q1_filter_pushdown_and_column_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # read schema is pruned to the 4 referenced columns, not the full table
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_quantity" in read_schema
    assert "l_orderkey" not in read_schema
    assert "l_comment" not in read_schema
    # aggregation runs inside whole-stage codegen ("*(n)" markers in
    # simple mode; with AQE the pre-execution plan hides them, so flip
    # it off for the probe)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert "*(" in plan_of(spark, "q1_pricing_summary", "simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_fx_enrich_uses_broadcast_join(spark):
    plan = plan_of(spark, "fx_enrich_orders")
    assert "BroadcastHashJoin" in plan


def test_fx_enrich_no_forced_broadcast_on_customer(spark):
    """The explicit broadcast() hint must target only the bounded dim
    (nation/fx), never customer — customer scales with the corpus, and
    a forced hint overrides AQE's size check at 100x (VERDICT r04 #2).
    With autoBroadcastJoinThreshold=-1 only HINTED builds broadcast:
    exactly one BroadcastHashJoin (nation) may remain; the customer
    join must fall back to a shuffle join."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for q in ("fx_enrich_orders", "monitor_segment_join"):
            plan = plan_of(spark, q, "simple")  # one line per node
            assert plan.count("BroadcastHashJoin") <= 1, q
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, q
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_geo_status_double_broadcast(spark):
    plan = plan_of(spark, "geo_status_normalize")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_anti_join_seen_set_shape(spark):
    plan = plan_of(spark, "customers_without_orders")
    assert "LeftAnti" in plan


def test_log_tail_is_topk_not_global_sort(spark):
    plan = plan_of(spark, "log_tail_by_worker")
    assert "TakeOrderedAndProject" in plan
    # a plain Sort + CollectLimit would funnel everything to one task
    assert "Exchange rangepartitioning" not in plan


def test_seq_key_data_path_is_range_partitioned(spark):
    """The global ordinal must come from range-partition + local rank +
    offset prefix-sum. The customer table itself is exchanged by range
    (scales out); the only single-partition segment allowed is the
    offsets frame, which holds one row per partition, never data."""
    plan = plan_of(spark, "assign_seq_key_customer", "simple")
    assert "Exchange rangepartitioning" in plan
    # exactly one Window in the whole plan — the prefix-sum over the
    # tiny offsets frame; the data path has none (local index comes
    # from monotonically_increasing_id, not a windowed rank)
    assert plan.count("Window") == 1


def test_weekly_best_partial_aggregation(spark):
    """Group-min must partial-aggregate map-side (HashAggregate appears
    both before and after the exchange)."""
    plan = plan_of(spark, "weekly_best_order")
    pre_exchange = plan.split("Exchange hashpartitioning")[0]
    assert "HashAggregate" in pre_exchange


@pytest.mark.parametrize("name", ["doc_token_stats", "char_quality",
                                  "rolling_fp_poly"])
def test_text_ops_no_python_udf(spark, name):
    """Text analysis stays JVM-side: no BatchEvalPython / ArrowEval in
    the plan (higher-order functions, not Python UDFs)."""
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_incremental_epoch_plan_has_no_join(spark):
    """The steady-state epoch plan (politeness ranking over the carried
    pending set) must contain NO join of any kind — the zero-joins-per-
    epoch claim in pipeline.py, pinned. The only join-ish node allowed
    is the broadcast of the tiny politeness dim, and it appears once:
    the rank computes phase 1 once. With hot hosts the epoch loop pins
    phase 1, and the finish over the pinned rows holds no join."""
    from ycrawl_spark import scheduler, synth
    from ycrawl_spark.config import CrawlConfig

    cfg = CrawlConfig(n_urls=500, n_hosts=8)
    pending = (
        spark.createDataFrame(synth.frontier_pdf(cfg))
        .filter("robots_ok")
        .withColumn("err_count", F.lit(0).cast("long"))
        .withColumn("attempt", F.lit(1).cast("int"))
    )
    pol = spark.createDataFrame(synth.politeness_pdf(cfg))
    ranked = scheduler.rank_per_host(pending, pol, cfg, hot_hosts=[])
    plan = ranked._sc._jvm.PythonSQLUtils.explainString(
        ranked._jdf.queryExecution(), "simple"
    )
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # politeness attaches as a broadcast join — the only join allowed,
    # under the one phase-1 window
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("Window [") == 1, plan

    hot = sorted(
        r["canonical_host"]
        for r in pending.select("canonical_host").distinct().collect()
    )[:1]
    tagged = scheduler.rank_phase1(pending, pol, cfg, hot).localCheckpoint()
    finish = scheduler.rank_finish(tagged, hot)
    plan_hot = finish._sc._jvm.PythonSQLUtils.explainString(
        finish._jdf.queryExecution(), "simple"
    )
    assert "Join" not in plan_hot, plan_hot
    assert plan_hot.count("Window [") == 1, plan_hot


def test_calendar_min_marker_window_not_join(spark):
    """The min-marker annotation (reference pandas self-merge,
    historyplot.py:93-95) must compile to a window over one shuffle,
    not a self-join."""
    plan = plan_of(spark, "calendar_min_marker")
    assert "Join" not in plan
    assert "Window" in plan
    assert plan.count("hashpartitioning(") == 1


def test_trend_selected_partial_aggregation(spark):
    plan = plan_of(spark, "trend_selected_vs_alt")
    pre_exchange = plan.split("Exchange hashpartitioning")[0]
    assert "HashAggregate" in pre_exchange


def test_qr_cross_frontier_broadcasts_dims(spark):
    """Multi-way cross of tiny dims must broadcast, never shuffle."""
    plan = plan_of(spark, "qr_cross_stride_urls")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_training_data_prep_single_pass_no_joins(spark):
    """The prep pipeline must be one pass over documents: per-row
    features fused into the scan projection (no self-joins re-deriving
    tokens), one window shuffle on the dedup fingerprint, one final
    aggregate — at 100 TB any join here would re-shuffle the corpus."""
    plan = plan_of(spark, "training_data_prep")
    assert "Join" not in plan
    # exactly one scan of the documents table
    assert plan.count("documents.parquet") == 1


def test_pack_chunks_data_window_is_partition_local(spark):
    """The packing prefix sum must never window the data globally: the
    data-side Window partitions by the physical partition id; the only
    un-partitioned Window runs over the per-partition offsets frame
    (≤ one row per task). The offsets frame reaches the data by
    broadcast, and the data itself is exchanged by range."""
    plan = plan_of(spark, "pack_sequence_chunks", "simple")
    assert "Exchange rangepartitioning" in plan
    assert "BroadcastExchange" in plan
    import re

    windows = [ln for ln in plan.splitlines() if "Window [" in ln]
    # partition-local data window: windowspecdefinition(_pid, doc_id ...)
    # — a PARTITION BY _pid plus ORDER BY doc_id; the offsets window has
    # only ORDER BY _pid (no partition spec) over the tiny _tot frame
    data_windows = [
        w for w in windows if re.search(r"windowspecdefinition\(_pid#\d+, ", w)
    ]
    global_windows = [w for w in windows if w not in data_windows]
    assert len(data_windows) == 1          # local prefix over _pid
    assert len(global_windows) == 1        # offsets cumsum only
    assert "_tot" in global_windows[0]     # ...and it is the offsets frame


def test_mixture_sampling_rates_join_is_broadcast(spark):
    """Per-language rates (≤ |languages| rows) must broadcast onto the
    corpus scan — a shuffle join here would re-shuffle the whole corpus
    for a three-row dim."""
    plan = plan_of(spark, "mixture_sampling")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_no_python_udf_and_partial_agg(spark):
    """tf-idf stays JVM-side and the tf count partial-aggregates
    map-side before its exchange."""
    plan = plan_of(spark, "tfidf_top_terms")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    pre_exchange = plan.split("Exchange hashpartitioning")[0]
    assert "HashAggregate" in pre_exchange


def test_pii_redaction_single_scan_no_shuffle(spark):
    """Redaction is a pure per-row projection: no exchange at all in
    the plan — one scan, one project."""
    plan = plan_of(spark, "pii_redaction", "simple")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize("name", [
    "minhash_lsh_candidates", "simhash_near_dups",
    "ngram_shared_pairs", "simhash_md5_near_dups",
])
def test_lsh_pair_generation_has_no_self_join(spark, name):
    """LSH candidate pairing is collect_set-per-bucket + in-row suffix
    expansion (textops.bucket_pairs) — NOT a bucket self-join. A
    self-join re-derives the whole sketch subtree once per side
    (measured 1.5-3× slower, VERDICT r02); the pinned shape scans the
    sketch ONCE: zero join nodes anywhere in the pair plan."""
    plan = plan_of(spark, name)
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, f"{name}: unexpected {node}"


def test_minhash_pair_plan_single_sketch_scan(spark):
    """The minhash pair plan reads the documents parquet exactly once
    — the sketch (shingle + 16×array_min) is never recomputed for a
    second join side."""
    plan = plan_of(spark, "minhash_lsh_candidates", "simple")
    assert plan.count("Scan parquet") == 1


def test_incremental_dedup_is_anti_join_no_python(spark):
    """Incremental dedup's corpus check is a real anti-join (the
    scalable membership shape) with zero Python in the plan."""
    plan = plan_of(spark, "incremental_dedup_new_batch")
    assert "LeftAnti" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_export_shard_window_is_partition_local(spark):
    """Export sharding rides the two-phase prefix sum: the data-sized
    window partitions by the physical partition id (_pid), never a
    global single-partition window."""
    plan = plan_of(spark, "export_shard_assignment")
    assert "_pid" in plan
    # broadcast of the tiny per-partition offsets frame, not a shuffle join
    assert "BroadcastHashJoin" in plan


def test_aspect_bucket_single_scan_partial_agg(spark):
    """Aspect bucketing is an in-row projection + map-side-combined
    rollup: one scan, partial aggregate before the exchange, no joins."""
    plan = plan_of(spark, "aspect_bucket_assign", "simple")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    pre_exchange = plan.split("Exchange hashpartitioning")[0]
    assert "HashAggregate" in pre_exchange


def test_range_join_is_bucketed_equi_join(spark):
    """The interval join runs as an equi-join on the day bucket with a
    post-filter — never the nested-loop theta join a bare BETWEEN
    condition produces."""
    plan = plan_of(spark, "range_join_windows")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_oov_vocab_is_broadcast(spark):
    """The top-32 vocabulary must reach the token stream as a broadcast
    (a shuffle join on the token column would reshuffle the whole
    corpus to check 32 words), and the vocab itself must come from a
    TakeOrdered, not a global sort of the token histogram."""
    plan = plan_of(spark, "oov_rate_by_source")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_duplicate_span_stats_no_pair_blowup(spark):
    """The repeated-span audit is linear: one fingerprint aggregate +
    one co-partitioned join back — never a span self-join pair
    expansion or a nested loop."""
    plan = plan_of(spark, "duplicate_span_stats")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one equi-join (spans ⋈ hot fingerprints)
    simple = plan_of(spark, "duplicate_span_stats", "simple")
    n_joins = sum(simple.count(j) for j in (
        "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
    assert n_joins == 1, simple


def test_kmv_kth_min_is_take_ordered(spark):
    """The k-min set must be a distributed TakeOrdered (map-side
    combinable, 64 longs per partition), never a global Sort."""
    plan = plan_of(spark, "kmv_distinct_sketch", "simple")
    assert "TakeOrderedAndProject" in plan


def test_triangle_plan_has_no_cartesian(spark):
    """Degree-ordered triangle counting closes wedges against the
    oriented edge set with equi-joins only."""
    plan = plan_of(spark, "dedup_graph_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_iterative_graph_ops_no_nested_loop(spark):
    """Katz and BFS rounds are equi-join + partial-agg shapes; a theta
    join anywhere would make every iteration quadratic in hosts."""
    for name in ("link_katz_priority", "frontier_bfs_depth"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_inverted_postings_single_tokenize_scan(spark):
    """df/total_tf ride the same token window partitioning as the
    top-k rank — a second groupBy(token) branch would re-scan and
    re-explode the whole corpus (the plan would show two parquet scans
    of documents)."""
    plan = plan_of(spark, "inverted_postings_topk", "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_centroids_broadcast_no_cartesian(spark):
    """Cell routing must reach the exploded components as a broadcast
    (the centroid table is 32×64 rows); the within-cell pair join is an
    equi-join on (cell, dim) — never a nested loop."""
    plan = plan_of(spark, "semantic_dedup_cells")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_removal_no_pair_blowup(spark):
    """Coverage = span⋈hot-fingerprint equi-join exploded to ≤8
    positions per hit; no doc×doc or span self-join term anywhere."""
    plan = plan_of(spark, "boilerplate_span_removal")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_rounds_no_nested_loop(spark):
    """Each PageRank/TrustRank round is an equi-join chain + partial
    agg, same contract as Katz/BFS — a theta join would square every
    iteration. TrustRank shares the loop body; its seed-conditional
    teleport must stay a projection expression, never a join."""
    for name in ("pagerank_host_priority", "trustrank_seed_propagation"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_anchor_text_single_tokenize_scan(spark):
    """total_anchor_tokens rides the same dst window partitioning as
    the top-k rank — a second groupBy(dst) branch would re-explode the
    corpus (two parquet scans in the plan)."""
    plan = plan_of(spark, "anchor_text_topk", "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "CartesianProduct" not in plan


def test_dsir_weights_broadcast_no_rescan(spark):
    """The 16-row bucket-weight table must reach the per-doc counts as
    a broadcast; the token-volume shuffle happens ONCE (the (doc,
    bucket) partial agg) — dist/weights re-aggregate that small frame,
    never the exploded corpus."""
    plan = plan_of(spark, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dispatch_utilization_window_partitioned_by_host(spark):
    """The dispatch ranking window partitions by host — a global
    (unpartitioned) window would serialize 10^10 URLs through one
    task (WindowExec warns + single partition)."""
    plan = plan_of(spark, "dispatch_budget_utilization")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cms_sketch_broadcast_no_rescan(spark):
    """The 1,024-cell sketch reaches the top-10 candidates as a
    broadcast; the 4-row explosion happens on the token-frequency
    frame, never the token stream — and no theta join anywhere."""
    plan = plan_of(spark, "cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnowing_doc_partitioned_windows(spark):
    """Both winnowing windows partition by doc_id — an unpartitioned
    window would serialize the whole corpus gram stream through one
    task."""
    plan = plan_of(spark, "winnowing_fingerprints")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_recrawl_priority_single_agg_scan(spark):
    """Recrawl scheduling is ONE groupBy pass over events — no join,
    no window, one scan."""
    plan = plan_of(spark, "recrawl_priority", "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan


def test_phash_hist_no_self_join(spark):
    """Pair generation rides bucket_pairs (collect_set + in-row suffix
    expansion) — the plan must not contain a sketch self-join or any
    nested loop."""
    plan = plan_of(spark, "phash_hamming_hist")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_is_gram_equi_join(spark):
    """Decontamination joins train grams to eval grams on the gram key
    (never doc×doc), and the verdict rejoin to the train scan is an
    equi-join."""
    plan = plan_of(spark, "decontaminate_train_split")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_url_canonicalize_join_free_single_scan(spark):
    """URL canonicalization is pure in-row string work + ONE hash
    aggregate on the canonical key: no joins of any kind, a single
    parquet scan pruned to doc_id, and no Python stages."""
    plan = plan_of(spark, "url_canonicalize_dedup", "simple")
    for op in ("Join", "CartesianProduct", "ArrowEvalPython",
               "BatchEvalPython", "MapInPandas"):
        assert op not in plan
    assert plan.count("Scan parquet") == 1
    read_schema = plan_of(spark, "url_canonicalize_dedup").split(
        "ReadSchema")[1][:200]
    assert "doc_id" in read_schema
    assert "text" not in read_schema  # 200-char docs never leave the scan


def test_redirect_resolve_no_nested_loop(spark):
    """Pointer doubling is a chain of equi-joins (hash-joinable);
    a nested-loop or cartesian anywhere means the ptr equality was
    lost."""
    plan = plan_of(spark, "redirect_chain_resolve")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_redirect_resolve_no_forced_corpus_broadcast(spark):
    """VERDICT r04 #1: the final terminal-flag rejoin used to carry an
    explicit F.broadcast() on `flags` — one row per document, so at
    10^10 URLs the hint demands a ~100 GB broadcast build (driver OOM,
    not a slow plan). With autoBroadcastJoinThreshold=-1 only HINTED
    builds can broadcast, so ZERO BroadcastHashJoin proves no forced
    broadcast survives anywhere in the query."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(spark, "redirect_chain_resolve")
        assert "BroadcastHashJoin" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.enabled", "true")


@pytest.mark.parametrize("name", ["regex_date_window_min",
                                  "bpe_real_token_stats"])
def test_no_forced_corpus_broadcast(spark, name):
    """VERDICT r05 weak #1–#2: `part` and the learned-BPE word table
    both scale with the corpus, so neither join may carry a broadcast
    hint — the size check decides. With autoBroadcastJoinThreshold=-1
    and AQE off only HINTED builds can broadcast, so the plan must hold
    no BroadcastHashJoin."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert "BroadcastHashJoin" not in plan_of(spark, name)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_rank_unsalted_is_single_shuffle(spark):
    """With an explicitly empty hot-host list the politeness rank must
    compile to exactly ONE shuffle exchange (the phase-1 window) — the
    round-4 restructure deleted phase 2's second full shuffle of the
    candidate set for unsalted hosts, and this pin keeps it deleted.
    With a hot host present, the phase-2 exchange reappears but may
    only move hot-host survivor rows (a filter sits under it)."""
    from ycrawl_spark import scheduler, synth
    from ycrawl_spark.config import CrawlConfig

    cfg = CrawlConfig(n_urls=500, n_hosts=8)
    pending = (
        spark.createDataFrame(synth.frontier_pdf(cfg))
        .filter("robots_ok")
        .withColumn("err_count", F.lit(0).cast("long"))
        .withColumn("attempt", F.lit(1).cast("int"))
    )
    pol = spark.createDataFrame(synth.politeness_pdf(cfg))

    ranked = scheduler.rank_per_host(pending, pol, cfg, hot_hosts=[])
    plan = ranked._sc._jvm.PythonSQLUtils.explainString(
        ranked._jdf.queryExecution(), "simple"
    )
    # Distinct shuffle SHAPES — exchange lines with expression/plan ids
    # stripped: 1 here (phase 1 only; the constant salt 0 is folded out
    # of the partitioning), 2 with a hot host (phase 1 keyed
    # (host, _salt) + phase 2 keyed (host) over the hot filter). The
    # composed hot-host plan reads phase 1 twice, so its shuffle lines
    # repeat; the shapes do not.
    import re

    def shuffle_shapes(p: str) -> set:
        return {
            re.sub(r"#\d+|\[plan_id=\d+\]", "", line.strip().lstrip(":+- "))
            for line in p.splitlines()
            if "Exchange hashpartitioning" in line
        }

    assert len(shuffle_shapes(plan)) == 1, plan

    hot = sorted(
        r["canonical_host"]
        for r in pending.select("canonical_host").distinct().collect()
    )[:1]
    ranked_hot = scheduler.rank_per_host(pending, pol, cfg, hot_hosts=hot)
    plan_hot = ranked_hot._sc._jvm.PythonSQLUtils.explainString(
        ranked_hot._jdf.queryExecution(), "simple"
    )
    assert len(shuffle_shapes(plan_hot)) == 2, plan_hot
    # Selection semantics unchanged by salting: same selected keys.
    sel = scheduler.is_selected()
    a = {r["key"] for r in ranked.filter(sel).select("key").collect()}
    b = {r["key"] for r in ranked_hot.filter(sel).select("key").collect()}
    assert a == b


def test_band_sweep_single_signature_scan(spark):
    """All 28 band keys (three b/r configs) project from ONE documents
    scan — the sweep must not re-scan or re-shingle per config, and
    pair counts come from bucket sizes (no join of any kind)."""
    plan = plan_of(spark, "lsh_band_tuning_sweep", "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan


def test_image_dimension_audit_prunes_to_key(spark):
    """The dimension gate is metadata-only: the parquet read schema
    must carry just the key column the synthetic (w, h, fmt) derive
    from — never a payload column."""
    plan = plan_of(spark, "image_dimension_audit")
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "p_partkey" in read_schema
    assert "p_name" not in read_schema and "p_comment" not in read_schema


def test_sitemap_coverage_is_shuffled_equi_join(spark):
    """Coverage reconciliation is a genuine full-outer equi-join of two
    corpus-sized sides: no broadcast (either side may be 10^10 rows),
    no nested loop."""
    plan = plan_of(spark, "sitemap_crawl_coverage", "simple")
    assert "FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_novelty_decile_no_data_window(spark):
    """The decile rank must come from with_global_pos (range exchange +
    offsets broadcast): the only Window in the plan runs over the
    per-partition offsets frame (count ≤ shuffle partitions), and the
    doc-sized side joins offsets via broadcast."""
    plan = plan_of(spark, "ngram_novelty_decile", "simple")
    assert "ntile" not in plan.lower()
    # offsets rejoin is broadcast; the 1-row corpus count is broadcast
    assert plan.count("BroadcastHashJoin") >= 1 or \
        plan.count("BroadcastNestedLoopJoin") == 1


def test_blocklist_is_broadcast_nested_loop_build_tiny(spark):
    """Pattern matching is the ONE place a nested loop is the right
    plan — but only with the RULE table as the broadcast build side;
    the URL side must stream."""
    plan = plan_of(spark, "blocklist_match_audit", "simple")
    assert "BroadcastNestedLoopJoin BuildLeft" in plan, plan
    assert "CartesianProduct" not in plan


def test_frontier_quota_single_host_window(spark):
    """Frontier scoring + per-host quota is one window shuffle keyed by
    host — no join, no global sort."""
    plan = plan_of(spark, "frontier_score_quota", "simple")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "hashpartitioning(host" in plan, plan


def test_image_caption_prep_no_global_window(spark):
    """The shard ordinal comes from with_global_pos — ntile/global
    row_number over the pair table must not appear (the only windows
    are the per-phash dedup rank and the offsets frame)."""
    plan = plan_of(spark, "image_caption_prep", "simple")
    assert "ntile" not in plan.lower()
    # dedup window partitions by phash, never an empty partition-by
    # over the data (the offsets window runs over ≤ n_partitions rows,
    # recognizable by its _pid key)
    import re
    for m in re.finditer(r"Window \[[^\]]*row_number[^\]]*partitionBy=\[\]", plan):
        raise AssertionError("global data window found: " + m.group(0))


def test_clip_alignment_single_scan_no_join_no_python(spark):
    """The alignment gate is one embeddings scan + in-row HOF dot
    products + one label rollup: no join, no Python eval, exactly one
    aggregation exchange."""
    plan = plan_of(spark, "clip_alignment_filter", "simple")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") == 1, plan


def test_watermark_audit_partitioned_window_no_global_sort(spark):
    """The high-water-mark window is keyed by source partition — the
    plan must shuffle on src_partition and never contain a global
    (empty-key) sort or window."""
    plan = plan_of(spark, "watermark_late_drop_audit", "simple")
    assert "hashpartitioning(src_partition" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "Join" not in plan


def test_pmi_no_cartesian_and_support_prune_before_joins(spark):
    """Collocation scoring joins the SUPPORT-FILTERED bigram table to
    the unigram counts: no CartesianProduct (the two corpus totals ride
    1-row broadcasts), and the c_xy >= 5 prune must sit under the
    vocab-keyed joins, not above them."""
    plan = plan_of(spark, "pmi_collocations", "simple")
    assert "CartesianProduct" not in plan
    # totals are 1-row broadcast nested loops; vocab joins are hash joins
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    # the min-support filter survives into the physical plan
    assert "(c_xy" in plan and ">= 5" in plan, plan


def test_range_partition_plan_no_global_window(spark):
    """The 16-bucket equi-depth plan must not run NTILE over one global
    window: rank comes from with_global_pos (range exchange + broadcast
    offsets) and the bucket from its closed form."""
    plan = plan_of(spark, "range_partition_plan", "simple")
    assert "ntile" not in plan.lower()
    assert "rangepartitioning" in plan, plan


def test_phash_dihedral_canon_join_free_in_row(spark):
    """Dihedral canonicalization must stay join-free: 8 branch-free
    integer expressions in-row (union + two hash aggregations), never
    a pair generator or a transform-table join."""
    plan = plan_of(spark, "phash_dihedral_canon", "simple")
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan
    # one exchange for the canon groupBy, one for the histogram rollup
    assert plan.count("Exchange") <= 3, plan


def test_hll_register_audit_map_side_combine(spark):
    """The sketch side must reduce to 64 longs per partition BEFORE the
    exchange (partial max per register) — the whole point of HLL at
    10^10 keys; only the exact-calibration column pays a distinct."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(spark, "hll_register_audit", "simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "partial_max" in plan, plan
    # register rollup shuffles on the 64-value register key
    assert "hashpartitioning(register" in plan, plan


def test_warc_revisit_single_url_shuffle(spark):
    """Capture sequencing and the lag() revisit flag must ride ONE
    url-keyed exchange — the lag window reuses the row_number window's
    partitioning."""
    plan = plan_of(spark, "warc_revisit_records", "simple")
    assert plan.count("hashpartitioning(url_id") == 1, plan
    assert "Join" not in plan


def test_compaction_plan_single_partition_window(spark):
    """The prefix-sum placement runs over one partition-keyed window;
    no global sort, no join."""
    plan = plan_of(spark, "frontier_compaction_plan", "simple")
    assert "hashpartitioning(partition" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "Join" not in plan
