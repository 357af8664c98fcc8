"""Physical-plan regression guards: the catalog queries must keep the
plan shapes they were tuned for (broadcasts, pushdown, distributed
top-k). These catch silent regressions that correctness tests can't —
a query can stay right while its 100 TB story quietly breaks."""

from __future__ import annotations

import contextlib
import io

import pytest

from news_graph_rag_spark.queries import registry


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def reg():
    return registry()


def test_graph_joins_broadcast_small_sides(spark, sf_dir, reg):
    # dimension-sized sides of the traversal joins must broadcast, not
    # shuffle — at 100 TB only the fact-side scan should move data
    for name in ["graph_2hop_filter_in", "graph_3hop_count_distinct"]:
        plan = plan_of(reg[name].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_filters_reach_parquet_scans(spark, sf_dir, reg):
    plan = plan_of(reg["graph_2hop_filter_in"].fn(spark, sf_dir))
    pushed = [
        line
        for line in plan.splitlines()
        if "PushedFilters: [" in line and "PushedFilters: []" not in line
    ]
    assert pushed, "no pushed filters in scan"


def test_column_pruning_reaches_scans(spark, sf_dir, reg):
    # pricing_summary reads 5 of lineitem's 16 columns; the scan schema
    # must shrink accordingly
    plan = plan_of(reg["pricing_summary"].fn(spark, sf_dir))
    read_schemas = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ]
    assert read_schemas
    assert all("l_comment" not in line for line in read_schemas)


def test_topk_uses_distributed_take_ordered(spark, sf_dir, reg):
    # global top-k must be TakeOrderedAndProject (per-partition heaps),
    # never a full Sort + Limit
    plan = plan_of(reg["topk_orders"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_vector_topk_broadcasts_query_vector(spark, sf_dir, reg):
    plan = plan_of(reg["vector_topk_cosine"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_minhash_signature_is_map_side(spark, sf_dir, reg):
    # signatures must come from the per-row array fold: no shuffle may
    # appear below the (doc_id, seed) aggregation — i.e. the plan has no
    # Exchange at all (result is map-only)
    plan = plan_of(reg["dedup_minhash_signature"].fn(spark, sf_dir), "simple")
    body = plan.split("== Physical Plan ==")[-1]
    # allowed: the round-robin spread of the narrow input and the
    # broadcast of the 8-row seed relation; a groupBy/explode formulation
    # would show a hashpartitioning exchange
    assert "hashpartitioning" not in body
    for line in body.splitlines():
        if "Exchange" in line:
            assert "RoundRobinPartitioning" in line or "Broadcast" in line, line


def test_salted_agg_two_phase(spark, sf_dir, reg):
    # the salted pre-aggregation must actually aggregate on (key, salt)
    # before the final key-only aggregation
    plan = plan_of(reg["salted_event_counts"].fn(spark, sf_dir), "simple")
    assert plan.count("HashAggregate") >= 4  # partial+final × two phases


def _window_specs(plan: str) -> list[str]:
    """First-argument lists of every windowspecdefinition in the plan."""
    specs = []
    for chunk in plan.split("windowspecdefinition(")[1:]:
        specs.append(chunk.split("specifiedwindowframe")[0])
    return specs


def _explode_generators(df) -> int:
    """Physical Generate nodes whose generator is ``explode`` (outer or
    not), counted on the plan tree itself — the plan ``explain`` prints,
    subqueries included — so the count does not depend on how explain
    formats a node."""
    seen = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if node.getClass().getSimpleName() == "GenerateExec":
            seen += node.generator().prettyName() == "explode"
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return seen


def _unpartitioned_window_is_bounded(df) -> None:
    """Assert: every un-partitioned window in the plan sits ABOVE a
    TakeOrderedAndProject/GlobalLimit (so it only ever sees k rows), and
    never directly over an unbounded scan."""
    plan = plan_of(df, "simple")
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "windowspecdefinition(" not in line:
            continue
        spec_head = line.split("windowspecdefinition(")[1].split(",")[0]
        if "ASC" not in spec_head and "DESC" not in spec_head:
            continue  # partitioned window (first arg is a partition col)
        # un-partitioned: a global limit must appear in its subtree
        below = "\n".join(lines[i:])
        assert "TakeOrderedAndProject" in below or "GlobalLimit" in below, (
            "un-partitioned window over unbounded input:\n" + line
        )


def test_retrieval_topk_no_global_window_over_corpus(spark, sf_dir, reg):
    """Regression (round-1 verdict): the retrieval catalog used
    row_number() OVER (ORDER BY ...) with no partition key, dragging
    every scored row into one partition. The rewrite takes top-k via
    TakeOrdered and only ranks the k survivors; full-corpus ranks (RRF)
    use the two-phase range-partition ranker."""
    for name in (
        "vector_topk_cosine",
        "retrieval_expand_topk",
        "hybrid_search_maxnorm",
        "hybrid_search_rrf",
    ):
        df = reg[name].fn(spark, sf_dir)
        plan = plan_of(df, "simple")
        assert "TakeOrderedAndProject" in plan, name
        _unpartitioned_window_is_bounded(df)


def test_global_rank_is_range_partitioned(spark, sf_dir, reg):
    """hybrid_search_rrf's full-corpus ranks must be two-phase: a range
    repartition on the sort key + windows partitioned by _pid — never a
    single-partition global sort."""
    plan = plan_of(reg["hybrid_search_rrf"].fn(spark, sf_dir), "simple")
    # the RangeExchange itself sits behind the rank helper's pinned
    # checkpoint since round 11 (ranks._pin) — its shape is asserted
    # directly in test_plans.py::test_rank_helpers_range_exchange_shape;
    # here we assert the scale property itself: the corpus-rank windows
    # are partitioned by _pid, never a global ORDER BY window
    assert any("_pid" in s.split(",")[0] for s in _window_specs(plan))


def test_salted_skew_join_shape(spark, sf_dir, reg):
    """The skew-hardened join must actually join on (key, salt) with a
    shuffle-hash join (the 100 TB no-broadcast case) and keep the
    two-phase salted aggregation above it."""
    plan = plan_of(reg["salted_skew_join"].fn(spark, sf_dir), "simple")
    join_lines = [l for l in plan.splitlines() if "ShuffledHashJoin" in l]
    assert join_lines, "expected a shuffle-hash join"
    assert "_salt" in join_lines[0], "join keys must carry the salt"
    assert "BroadcastHashJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × two phases


def test_partitioned_scan_prunes_partitions(spark, sf_dir, reg):
    # the event_type filter must become a PartitionFilter on the
    # partitioned staging layout, not a data filter after full IO
    df = reg["partitioned_scan_pruning"].fn(spark, sf_dir)
    plan = plan_of(df)
    part_lines = [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ]
    assert part_lines
    assert any("event_type" in line for line in part_lines)


def test_pack_sequences_cumsum_is_range_partitioned(spark, sf_dir, reg):
    """pack_sequences' global running sum must be the two-phase
    global_cumsum (range repartition + _pid-partitioned window), never a
    single-partition ORDER BY window over the corpus."""
    df = reg["pack_sequences"].fn(spark, sf_dir)
    plan = plan_of(df, "simple")
    # RangeExchange is behind ranks._pin's checkpoint (round 11); shape
    # asserted in test_rank_helpers_range_exchange_shape
    specs = _window_specs(plan)
    assert specs and all(
        "ASC" not in s.split(",")[0] and "DESC" not in s.split(",")[0]
        for s in specs
    ), "found an un-partitioned global window in pack_sequences"


def test_cap_per_source_windows_are_partitioned(spark, sf_dir, reg):
    """Both phases of the per-source cap must rank inside partitioned
    windows (source+salt, then source) — no global sort anywhere."""
    plan = plan_of(reg["cap_per_source"].fn(spark, sf_dir), "simple")
    specs = _window_specs(plan)
    assert len(specs) >= 2
    assert all(
        "ASC" not in s.split(",")[0] and "DESC" not in s.split(",")[0]
        for s in specs
    )
    assert any("_salt" in s for s in specs), "phase-1 window must be salted"


def test_stratified_sample_is_pure_map(spark, sf_dir, reg):
    """The stratified sampler must be a shuffle-free scan+filter."""
    plan = plan_of(reg["stratified_sample"].fn(spark, sf_dir), "simple")
    assert "Exchange" not in plan


def test_decontaminate_broadcasts_test_shingles(spark, sf_dir, reg):
    """The train-side join against held-out shingles must broadcast the
    (small) test-shingle set, not shuffle the exploded train corpus."""
    plan = plan_of(reg["decontaminate_train_test"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan


def test_tfidf_broadcasts_df_and_partitions_window(spark, sf_dir, reg):
    """tfidf_top_terms: the corpus-count (n) join must broadcast, df
    must come from a token-partitioned window over the tf table
    (round-18 — the former token-level broadcast aggregate re-ran
    tokenize inside its build job and would broadcast the full
    vocabulary at scale), and every window must be key-partitioned,
    never global."""
    df = reg["tfidf_top_terms"].fn(spark, sf_dir)
    plan = plan_of(df, "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # tokenize exactly once: one explode generator in the whole plan
    assert _explode_generators(df) == 1
    specs = _window_specs(plan)
    assert specs and all(
        "ASC" not in s.split(",")[0] and "DESC" not in s.split(",")[0]
        for s in specs
    )


def test_pmi_topk_is_take_ordered(spark, sf_dir, reg):
    """pmi_bigrams_topk: unigram counts broadcast; final top-k runs as
    distributed TakeOrdered."""
    plan = plan_of(reg["pmi_bigrams_topk"].fn(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_winnowing_is_map_only(spark, sf_dir, reg):
    """text_winnowing must never shuffle on a data key: the only
    Exchange allowed is spread()'s round-robin repartition."""
    plan = plan_of(reg["text_winnowing"].fn(spark, sf_dir), "simple")
    ex_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert len(ex_lines) <= 1
    for l in ex_lines:
        assert "roundrobin" in l.lower(), l


def test_pii_redact_is_map_only(spark, sf_dir, reg):
    """PII scrub must be a pure map with a pruned scan: the only
    Exchange allowed is spread()'s round-robin; the scan must read
    only (doc_id, text)."""
    plan = plan_of(reg["text_pii_redact"].fn(spark, sf_dir), "simple")
    ex_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert len(ex_lines) <= 1
    for l in ex_lines:
        assert "roundrobin" in l.lower(), l
    fmt = plan_of(reg["text_pii_redact"].fn(spark, sf_dir))
    scan = [l for l in fmt.splitlines() if "ReadSchema" in l]
    assert scan and "lang" not in scan[0] and "source" not in scan[0]


def test_weighted_sample_map_only_pruned(spark, sf_dir, reg):
    """Hash-threshold sampling: no shuffle at all, and the parquet scan
    reads only the three emitted columns."""
    plan = plan_of(reg["importance_weighted_sample"].fn(spark, sf_dir), "simple")
    assert "Exchange" not in plan
    fmt = plan_of(reg["importance_weighted_sample"].fn(spark, sf_dir))
    scan = [l for l in fmt.splitlines() if "ReadSchema" in l]
    assert scan and "text" not in scan[0]


def test_quantize_int8_map_only(spark, sf_dir, reg):
    plan = plan_of(reg["embedding_quantize_int8"].fn(spark, sf_dir), "simple")
    assert "Exchange" not in plan


def test_substring_spans_shuffles_hashes_only(spark, sf_dir, reg):
    """The exploded side that shuffles must carry only (doc_id, h) —
    the text column must not appear past the scan, and the dup-span
    filter side joins as a broadcast or semi join, never a cartesian."""
    plan = plan_of(reg["dedup_substring_spans"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_ann_quantized_topk_take_ordered(spark, sf_dir, reg):
    plan = plan_of(reg["ann_quantized_topk"].fn(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_near_dup_canonicalize_embedding_plan(spark, sf_dir, reg):
    """No cartesian anywhere, and the candidate-bound filter reaches
    the parquet scan. (The all-pairs broadcast join itself is executed
    eagerly inside connected_components' localCheckpoint, so the final
    plan sees it only as an ExistingRDD scan.)"""
    plan = plan_of(reg["near_dup_canonicalize_embedding"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "LessThan(vec_id,300)" in plan


def test_boilerplate_strip_rebuild_plan(spark, sf_dir, reg):
    """Hot-hash side is broadcast (never a data-sized shuffle); exactly
    one text-carrying shuffle (the rebuild groupBy); no cartesian."""
    plan = plan_of(reg["boilerplate_strip_rebuild"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("collect_list") <= 4  # one (partial+final) rebuild agg


def test_incremental_rollup_merge_pushdown(spark, sf_dir, reg):
    """Both partial scans prune to 3 columns with the date split pushed
    to parquet; merge re-aggregates partials (no join)."""
    plan = plan_of(reg["incremental_rollup_merge"].fn(spark, sf_dir), "formatted")
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "Join" not in plan


def test_near_dup_lsh_banded_no_all_pairs(spark, sf_dir, reg):
    """The banded-LSH near-dup is THE scale near-dup path: candidates
    must come from a hash equi-join on (band_idx, band_val), never a
    cross/nested-loop join over the corpus."""
    plan = plan_of(reg["near_dup_lsh_banded"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_idx" in plan and "band_val" in plan


def test_fuzzy_join_ed1_no_nested_loop(spark, sf_dir, reg):
    """Symmetric-delete blocking must stay a hash equi-join on deletion
    keys: no cartesian/nested-loop fallback, and the banded levenshtein
    verify must sit BELOW the pair-dedup aggregate so the distinct only
    shuffles true pairs."""
    plan = plan_of(reg["fuzzy_join_ed1"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    lev = plan.index("levenshtein")
    first_agg = plan.index("HashAggregate")
    # "simple" mode prints operators top-down (output first): the
    # dedup aggregate must appear ABOVE the levenshtein filter
    assert first_agg < lev


def test_heavy_hitter_exact_counts_after_broadcast(spark, sf_dir, reg):
    """The exact-count phase must semi-join the token stream against
    broadcast candidates — a full-vocabulary shuffle would defeat the
    map-side candidate pruning."""
    plan = plan_of(reg["heavy_hitter_tokens"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_purge_cascade_broadcasts_forget_sets(spark, sf_dir, reg):
    """Every cascade level anti-joins against a broadcast forget-set;
    the fact tables must never shuffle."""
    plan = plan_of(reg["purge_user_cascade"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_retention_windows_partition_by_user_or_cohort(spark, sf_dir, reg):
    """Cohort retention must not contain a global sort: the only
    event-scale operations are user-keyed aggregates."""
    plan = plan_of(reg["retention_cohorts"].fn(spark, sf_dir), "simple")
    assert "Sort [" not in plan or "Sort [user_id" in plan


def test_table_checksums_single_agg_per_table(spark, sf_dir, reg):
    """Checksums are one map-side-combinable aggregate per table: the
    only exchanges are the scalar-agg single-partition gathers."""
    plan = plan_of(reg["table_checksums"].fn(spark, sf_dir), "simple")
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_pareto_frontier_prefix_max_is_range_partitioned(spark, sf_dir, reg):
    """The skyline's strict-predecessor max must be the two-phase
    range-partitioned form — never a single-partition global window."""
    plan = plan_of(reg["pareto_frontier_orders"].fn(spark, sf_dir), "simple")
    # RangeExchange is behind ranks._pin's checkpoint (round 11); shape
    # asserted in test_rank_helpers_range_exchange_shape
    assert all("_pid" in s.split(",")[0] for s in _window_specs(plan))


def test_type_token_ratio_is_pure_map(spark, sf_dir, reg):
    """Lexical diversity must never explode the token array or shuffle:
    one projection over the scan."""
    plan = plan_of(reg["type_token_ratio"].fn(spark, sf_dir), "simple")
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode


def test_dataset_card_is_single_agg(spark, sf_dir, reg):
    """Dataset card: one aggregation pipeline, no joins. The
    count(DISTINCT lang) expands to the standard two-exchange distinct
    plan — the first exchange carries one row per (source, lang) after
    partial aggregation, which is dimension-sized at any corpus scale —
    and every HashAggregate must be preceded by its partial (map-side
    combine), so the scan volume never shuffles."""
    plan = plan_of(reg["dataset_card_by_source"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Join" not in plan
    assert "partial_count" in plan  # map-side combine before any exchange


def test_fuzzy_decontaminate_broadcasts_band_keys(spark, sf_dir, reg):
    """The train-bands join against held-out band keys must broadcast
    the (held-out-sized) key set, never shuffle the train side."""
    plan = plan_of(reg["decontaminate_fuzzy_lsh"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mixture_allocation_broadcasts_total(spark, sf_dir, reg):
    """sqrt-temperature allocation: the 1-row total joins via broadcast
    (the per-source weight table never shuffles for it)."""
    plan = plan_of(reg["source_mixture_allocation"].fn(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_shingles_are_arrow_mapside(spark, sf_dir, reg):
    """Both decontamination entries must shingle via the Arrow kernel
    (MapInPandas), not the interpreted Catalyst HOF (BENCH_NOTES r06:
    the HOF form destabilized co-resident queries)."""
    for name in ["decontaminate_train_test", "decontaminate_fuzzy_lsh"]:
        plan = plan_of(reg[name].fn(spark, sf_dir), "simple")
        assert "MapInPandas" in plan, name


def test_temporal_split_is_scalar_agg_plus_map(spark, sf_dir, reg):
    """Temporal split: the min/max bounds join must broadcast (two
    scalars), never sort or rank the corpus globally."""
    plan = plan_of(reg["temporal_split_cutoff"].fn(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Sort " not in plan and "Window" not in plan


def test_scd1_upsert_anti_join_carries_keys_only(spark, sf_dir, reg):
    """SCD1 upsert: the existing-side survivor scan must read only the
    key and payload columns it returns, and the anti-join side must be
    key-only (no document text shuffled twice)."""
    plan = plan_of(reg["scd1_upsert_documents"].fn(spark, sf_dir), "simple")
    assert "LeftAnti" in plan


def test_snapshot_diff_single_key_shuffle(spark, sf_dir, reg):
    """Snapshot diff: one full outer join on the key over content
    hashes; no nested-loop join anywhere."""
    plan = plan_of(reg["snapshot_diff_documents"].fn(spark, sf_dir), "simple")
    assert "FullOuter" in plan
    assert "NestedLoop" not in plan.replace("BroadcastNestedLoopJoin", "")


def test_profile_columns_single_scan(spark, sf_dir, reg):
    """The profiling report must read the table ONCE (multi-distinct
    expands via Expand, not via one scan per column)."""
    plan = plan_of(reg["profile_orders_columns"].fn(spark, sf_dir), "simple")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Scan parquet") <= 1


def test_ann_search_prunes_index_partitions(spark, sf_dir, reg):
    """The search-only ANN entries must hit the materialized index with
    a PARTITION-PRUNED scan (centroid_id is the partition column): at
    100 TB a search reads nprobe/n_centroids of the index files. Also
    the plan must NOT scan the raw embeddings table at all."""
    df = reg["ann_ivf_search_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    part_lines = [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ]
    assert part_lines
    assert any("centroid_id" in line for line in part_lines)
    assert "embeddings.parquet" not in plan  # search-only: index tables only


def test_ann_tombstoned_search_keeps_pruning(spark, sf_dir, reg):
    """The tombstone mask (round 8) is a broadcast LEFT-ANTI join over
    the candidate scan — it must NOT defeat partition pruning: the
    centroid_id IN (probes) predicate still reaches the index scan as
    a PartitionFilter, the anti-join builds on the (bounded) tombstone
    side, and the raw embeddings table stays out of the plan."""
    df = reg["ann_ivf_search_tombstoned"].fn(spark, sf_dir)
    plan = plan_of(df)
    part_lines = [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ]
    assert any(
        "centroid_id" in line and "IN" in line for line in part_lines
    ), "partition pruning lost under the tombstone anti-join"
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "embeddings.parquet" not in plan


def test_hybrid_token_index_scan_is_partition_pruned(spark, sf_dir, reg):
    """The keyword signal's posting lookup (round 8) must prune the
    bucketed token index to the query tokens' crc32 buckets — the
    keyword analog of the vector index's centroid_id pruning — with the
    token IN predicate pushed inside the surviving partitions."""
    plan = plan_of(reg["hybrid_search_indexed"].fn(spark, sf_dir))
    part_lines = [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ]
    assert any(
        "tok_bucket" in line and "IN" in line for line in part_lines
    ), "token-index scan not partition-pruned"
    assert "token#" in plan and "spark,join,stream" in plan  # pushed IN-list


def test_dynamic_partition_pruning_fires(spark, sf_dir, reg):
    """The DPP entry's fact scan must carry a RUNTIME pruning subquery
    (dynamicpruning / SubqueryAdaptiveBroadcast) in its
    PartitionFilters — not a statically-derived predicate: the dim
    filter is on a non-key attribute precisely so constraint
    propagation can't pre-prune."""
    df = reg["dynamic_partition_pruning_join"].fn(spark, sf_dir)
    plan = plan_of(df, "simple")
    assert "dynamicpruning" in plan.lower(), "no DPP subquery in the fact scan"


def test_ann_batch_search_plan_shape(spark, sf_dir, reg):
    """Batch KNN must broadcast the (probe, list) relation, prune the
    index scan to the probed partitions, and rank with a
    probe-partitioned window — no global window, no shuffle join."""
    plan = plan_of(reg["ann_ivf_batch_search_topk"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("centroid_id" in l for l in part_lines)
    specs = _window_specs(plan_of(
        reg["ann_ivf_batch_search_topk"].fn(spark, sf_dir), "simple"
    ))
    assert specs and all("probe_id" in s.split(",")[0] for s in specs)


def _tiny_ppr_store(spark):
    from news_graph_rag_spark.graph_store import GraphStore

    chunk = spark.createDataFrame(
        [(f"Chunk:{i:03d}",) for i in range(8)], "uid: string"
    )
    # one hub entity mentioned by every chunk — the adversarial shape
    # the broadcast guard exists for
    men = spark.createDataFrame(
        [(f"Chunk:{i:03d}", "Entity:hub") for i in range(8)],
        "src_uid: string, dst_uid: string",
    )
    return GraphStore(spark, {"chunk": chunk, "mentions": men})


def test_ppr_hub_fallback(spark):
    """Hub safety (VERDICT r9 #4): ppr_expand's per-round rank join
    must drop the broadcast hint once the measured frontier exceeds
    broadcast_rank_limit — a hub entity makes the frontier
    corpus-sized, and broadcasting it would OOM every executor. With
    auto-broadcast disabled, any BroadcastHashJoin in the plan can only
    come from the explicit hint, so limit=0 must yield a pure shuffle
    join and the default limit must keep the broadcast."""
    from news_graph_rag_spark.retrieval import ppr_expand

    store = _tiny_ppr_store(spark)
    seeds = spark.createDataFrame(
        [("Chunk:000", 2.0), ("Chunk:001", 1.0)], "uid: string, score: double"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        guarded = plan_of(
            ppr_expand(
                store, seeds, k=5, broadcast_rank_limit=0, finalize=False
            ),
            "simple",
        )
        assert "BroadcastHashJoin" not in guarded
        assert "SortMergeJoin" in guarded or "ShuffledHashJoin" in guarded
        hinted = plan_of(
            ppr_expand(store, seeds, k=5, finalize=False), "simple"
        )
        assert "BroadcastHashJoin" in hinted
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ppr_hub_fallback_values_unchanged(spark):
    """The shuffle fallback is a physical-plan change only: ranks are
    decimal-exact sums, so the guarded and hinted paths must return
    identical rows."""
    from news_graph_rag_spark.retrieval import ppr_expand

    store = _tiny_ppr_store(spark)
    seeds = spark.createDataFrame(
        [("Chunk:000", 2.0), ("Chunk:001", 1.0)], "uid: string, score: double"
    )
    a = ppr_expand(store, seeds, k=5, broadcast_rank_limit=0).collect()
    b = ppr_expand(store, seeds, k=5).collect()
    assert a == b and len(a) == 5


def test_ewma_filter_pushed_below_window(spark, sf_dir, reg):
    """The user_id%50 output filter must reach the scan side of the
    window (partition-key predicate pushed through the Window), so the
    shuffle and sort only ever see selected users' rows."""
    import re

    plan = plan_of(reg["ewma_user_value"].fn(spark, sf_dir))
    f = re.search(r"Filter \((\d+)\)", plan)
    w = re.search(r"Window \((\d+)\)", plan)
    assert f and w, plan[:500]
    # lower node number = deeper in the tree = executes first
    assert int(f.group(1)) < int(w.group(1)), "filter ran above the window"
    assert "% 50" in plan
    # both the partition key's and the ts guard's IsNotNull reach the
    # scan (exact list order is Catalyst's business)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters: [" in ln]
    assert pushed and "IsNotNull(user_id)" in pushed[0], pushed


def test_kmeans_assignment_never_shuffles_points(spark, sf_dir, reg):
    """Lloyd assignment must be map-side argmin (array_min over a
    1-row broadcast of the pivoted centroids): no Window, no
    per-point-key exchange — the only shuffles are the k-group /
    bounds aggregations and the 4-row centroid joins."""
    plan = plan_of(reg["kmeans_1d_totalprice"].fn(spark, sf_dir))
    assert "Window" not in plan
    # the point set's only key is k (o_orderkey) — it must never be a
    # partitioning key anywhere in the plan
    assert "hashpartitioning(k#" not in plan


def test_rank_helpers_range_exchange_shape(spark):
    """The two-phase rank helpers' intended physical shape — a
    RangeExchange feeding _pid-partitioned windows — inspected with
    pin=False (the round-11 correctness fix checkpoints the exchange
    output, hiding it from downstream entry plans; see ranks._pin)."""
    from pyspark.sql import functions as F

    from news_graph_rag_spark.ranks import (
        global_cumsum,
        global_row_number,
        global_running_max,
    )

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    for out in (
        global_row_number(df, [F.col("k")], pin=False),
        global_cumsum(df, [F.col("k")], F.col("v"), pin=False),
        global_running_max(df, [F.col("k")], F.col("v"), pin=False),
    ):
        plan = plan_of(out, "simple")
        assert "Exchange rangepartitioning" in plan


def test_tree_level_split_windows_are_kf_partitioned(spark, sf_dir, reg):
    """Round-12 multi-feature split finding: the only windows in the
    plan are the bucketed per-kf cumsum's locals — every window
    partitions on kf (+ a bounded bucket key), never a
    single-partition ORDER BY over the distinct-value tables — and
    the per-feature argmax is a plain aggregation, not a ranked
    window (round-17: ranks.grouped_cumsums replaced the sampled
    range-exchange two-phase cumsum)."""
    plan = plan_of(reg["tree_level_split_orders"].fn(spark, sf_dir), "simple")
    specs = _window_specs(plan)
    assert specs, "expected the cumsum windows in the plan"
    for s in specs:
        head = s.split(",")[0]
        assert "kf" in head and "ASC" not in head, specs


def test_epoch_shuffle_has_no_global_sort(spark, sf_dir, reg):
    """Round-12 epoch shuffle: permutation ranks must come from the
    two-phase global_row_number (windows partitioned by _pid), with no
    single-partition Sort feeding an unpartitioned window — the
    classic shuffle-writer scale cliff this entry exists to avoid."""
    plan = plan_of(reg["epoch_shuffle_shards"].fn(spark, sf_dir), "simple")
    specs = _window_specs(plan)
    assert specs, "expected the rank helper's windows in the plan"
    assert all("_pid" in s.split(",")[0] for s in specs), specs


def test_image_resize_is_map_only_python_stage(spark, sf_dir, reg):
    """Round-12 image resize: decode+resize runs in ONE Arrow python
    stage over the (possibly re-spread) scan — no joins, no windows,
    image bytes never shuffle."""
    plan = plan_of(reg["multimodal_image_resize_stats"].fn(spark, sf_dir), "simple")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("MapInPandas") == 1


def test_tree_depth2_windows_are_kf_partitioned(spark, sf_dir, reg):
    """Round-12 depth-2 tree: BOTH levels' prefix sums ride the shared
    bucketed per-kf cumsum — every window partitions on kf (+ a
    bounded bucket key), no single-partition ORDER BY at either
    level."""
    plan = plan_of(reg["tree_depth2_orders"].fn(spark, sf_dir), "simple")
    specs = _window_specs(plan)
    assert specs, "expected the level cumsum windows in the plan"
    for s in specs:
        head = s.split(",")[0]
        assert "kf" in head and "ASC" not in head, specs


def test_tree_depth3_windows_are_kf_partitioned(spark, sf_dir, reg):
    """Round-13 depth-3 Gini tree: the deepest level's live subtree
    (levels 0-1 are pinned broadcasts) must show exactly ONE melt
    (Generate/explode) for the whole 4-leaf level — the 'one pass per
    level regardless of leaf count' claim — and every window must be
    the bucketed per-kf cumsum's local (partitioned on kf + a bounded
    bucket key), never a single-partition ORDER BY."""
    plan = plan_of(reg["tree_depth3_orders"].fn(spark, sf_dir), "simple")
    specs = _window_specs(plan)
    assert specs, "expected the level cumsum windows in the plan"
    for s in specs:
        head = s.split(",")[0]
        assert "kf" in head and "ASC" not in head, specs
    # the melt itself runs inside _split_counts' pinned histogram (the
    # explode executes at checkpoint time), so the live plan reads ONE
    # (kf, x, np, nn) histogram scan per level — assert the level's
    # cumsum consumes that single materialization, not a re-melt
    assert plan.count("Generate explode") == 0
    assert "kf" in plan and "np" in plan


def test_tokenize_pack_export_plan_shape(spark, sf_dir, reg):
    """Round-13 export chain: every window in the live plan is a
    two-phase helper's _pid-partitioned local — no single-partition
    rank or cumsum anywhere. (The BPE MapInPandas stage and the pack
    cumsum execute at the rank helper's pin, so the live plan reads
    their materialization; apply_bpe's map-only shape is asserted by
    the chunker/BPE pipeline tests.)"""
    plan = plan_of(reg["tokenize_pack_export"].fn(spark, sf_dir), "simple")
    specs = _window_specs(plan)
    assert specs, "expected the rank window in the plan"
    assert all("_pid" in s.split(",")[0] for s in specs), specs


def test_ivfpq_search_prunes_code_partitions(spark, sf_dir, reg):
    """Round-13 IVF-PQ search: the codes scan must be PARTITION-PRUNED
    to the probed lists (centroid_id is the partition column), the ADC
    join must be a broadcast, and neither the raw embeddings nor the
    stored d-dim vectors (assignments' q8) may be read for scoring —
    the memory-budget point of PQ. (The probe row itself is a pruned
    point-lookup into assignments, so that table may appear once.)"""
    df = reg["ann_ivfpq_search_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    code_lines = [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ]
    assert any("centroid_id" in line and "IN" in line for line in code_lines)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "embeddings.parquet" not in plan
    # the memory-budget claim itself: the SCORING plan must read the
    # codes table only — the stored d-dim vectors (assignments' q8)
    # must not appear (the probe's point lookup runs eagerly inside
    # the entry and is not part of the returned plan)
    assert "codes.parquet" in plan
    assert "assignments.parquet" not in plan


def test_tree_leaf_stats_is_broadcast_scoring(spark, sf_dir, reg):
    """Round-13 inference readout: scoring must be broadcast-CASE hops
    + one small aggregation — no sort-merge join, no window at all in
    the live plan (the trained splits are pinned broadcasts)."""
    plan = plan_of(reg["tree_depth3_leaf_stats"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_ivfpq_batch_search_one_codes_scan(spark, sf_dir, reg):
    """Round-14 batch PQ serving: ALL probes must share ONE
    partition-pruned scan of the codes table (the whole point of
    batching — cost independent of batch size), the per-probe ADC
    relation must broadcast, ranking must be a probe-partitioned
    window (no global exchange for the rank), and neither the raw
    embeddings nor the stored d-dim vectors may be read for scoring."""
    df = reg["ann_ivfpq_batch_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "codes.parquet" in line
    ]
    assert len(scans) == 1, f"expected exactly one codes scan: {scans}"
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert any("centroid_id" in line and "IN" in line for line in pf)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "embeddings.parquet" not in plan
    assert "assignments.parquet" not in plan
    # the rank is per-probe: every window partitions on probe_id,
    # never a global (empty-partition) rank
    specs = _window_specs(plan)
    assert specs, "expected the per-probe rank window in the plan"
    assert all("probe_id" in s.split(",")[0] for s in specs), specs


def test_gbt_live_plan_is_broadcast_only(spark, sf_dir, reg):
    """Round-14 boosting round: the live plan reads the pinned
    inter-round prediction cache (the localCheckpoint every
    distributed GBDT keeps between iterations) and applies only
    BROADCAST hops — the 4-row leaf-stats join, the ≤4-row level
    splits — plus the final map-side-combinable readout agg. No
    window, no sort-merge join anywhere (the level-pass cumsum
    windows execute at their pins and are _pid-asserted on the shared
    machinery by the tree_level/depth2/depth3 tests)."""
    plan = plan_of(reg["gbt_2round_orders"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan
    # training inputs never rescanned on the serving side of the pin
    assert "orders.parquet" not in plan


def test_tokenize_readback_is_pruned_shard_scan(spark, sf_dir, reg):
    """Round-14 export readback: the entry reads the WRITTEN shards —
    a plain partitioned parquet scan plus one group-by; no window, no
    sort-merge join, and none of the export chain's inputs (the
    documents table) appear in the serving plan."""
    plan = plan_of(reg["tokenize_export_readback"].fn(spark, sf_dir))
    assert "documents.parquet" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_ivfpq_batch_rerank_two_pruned_scans(spark, sf_dir, reg):
    """Round-14 batched two-tier rerank: the whole plan reads exactly
    ONE codes scan (the batch PQ shortlist) and ONE assignments scan
    (the exact tier's point lookups), both partition-pruned to the
    probed lists; joins are broadcast-only; every window partitions on
    probe_id; the raw embeddings are never read."""
    df = reg["ann_ivfpq_batch_rerank_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    code_scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "codes.parquet" in line
    ]
    assign_scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "assignments.parquet" in line
    ]
    assert len(code_scans) == 1, code_scans
    assert len(assign_scans) == 1, assign_scans
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert sum("centroid_id" in line and "IN" in line for line in pf) >= 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "embeddings.parquet" not in plan
    specs = _window_specs(plan)
    assert specs and all("probe_id" in s.split(",")[0] for s in specs), specs


def test_ivfpq_filtered_search_prefilters_before_rank(spark, sf_dir, reg):
    """Round-14 filtered PQ search: the eligibility set must apply as a
    broadcast semi-join on the PRUNED codes scan BEFORE the rank (the
    pre-filter position the int8 twin pins), with the stored d-dim
    vectors still never read for scoring (the allow-list build's own
    vec_id projection of assignments is permitted)."""
    df = reg["ann_ivfpq_filtered_search_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "LeftSemi" in plan
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert any("centroid_id" in line and "IN" in line for line in pf)
    assert "SortMergeJoin" not in plan
    assert "embeddings.parquet" not in plan
    # the allow-list reads assignments' vec_id column ONLY — q8 must
    # not appear in any assignments ReadSchema
    for line in plan.splitlines():
        if "ReadSchema" in line and "assignments" in line:
            assert "q8" not in line, line


def test_ivfpq_by_vector_reads_codes_only(spark, sf_dir, reg):
    """Round-14 external-query PQ search: the by-vector path has no
    probe row to fetch, so the WHOLE plan reads the codes table only —
    pruned to the probed lists — plus the one-row embeddings lookup
    that happens eagerly in the entry (not in the returned plan). No
    assignments scan, no window below the k-row rank."""
    df = reg["ann_ivfpq_search_by_vector_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert any("centroid_id" in line and "IN" in line for line in pf)
    assert "codes.parquet" in plan
    assert "assignments.parquet" not in plan
    assert "embeddings.parquet" not in plan
    assert "SortMergeJoin" not in plan


def test_ivfpq_incremental_encode_is_broadcast_map_side(spark, sf_dir, reg):
    """Round-14 incremental PQ encode: centroids and codebooks are
    broadcast constants; encoding shuffles only the incoming rows'
    (vec, sub) keys for the argmin aggregation — no sort-merge join
    anywhere, and the stored codes/assignments of the BASE index are
    never scanned (the insert path must not touch the existing
    index's data)."""
    plan = plan_of(reg["ann_ivfpq_incremental_encode"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "codes.parquet" not in plan
    assert "assignments.parquet" not in plan


def test_ivfpq_batch_by_vector_one_codes_scan(spark, sf_dir, reg):
    """Round-15 batch BY-VECTOR PQ serving: the external-query batch
    must inherit the by-id batch plan unchanged (shared core, no
    forked readout) — ONE partition-pruned codes scan for all queries,
    broadcast ADC relation, probe-partitioned rank — with neither the
    assignments (no stored probes to fetch in the plan) nor the raw
    embeddings (the query batch was collected eagerly) read."""
    df = reg["ann_ivfpq_batch_by_vector_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "codes.parquet" in line
    ]
    assert len(scans) == 1, f"expected exactly one codes scan: {scans}"
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert any("centroid_id" in line and "IN" in line for line in pf)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "embeddings.parquet" not in plan
    assert "assignments.parquet" not in plan
    specs = _window_specs(plan)
    assert specs and all("probe_id" in s.split(",")[0] for s in specs), specs


def test_ivfpq_batch_broadcast_budget_fallback_values_equal(
    spark, sf_dir, monkeypatch
):
    """Round-15 (VERDICT r14 #4): the batch core's broadcast-budget
    guard. Under the default budget the small batch BROADCASTS the ADC
    relation (plan-asserted by test_ivfpq_batch_search_one_codes_scan);
    with the budget pinned to 0 the same call hash-partitions both
    sides on centroid_id (shuffle-hash, never sort-merge) and must
    produce IDENTICAL values — the hub-fallback-values-unchanged
    discipline."""
    from news_graph_rag_spark.pipeline import ann_index
    from news_graph_rag_spark.queries.round13 import _PQ_KS, _PQ_M
    from news_graph_rag_spark.queries.round14 import (
        _PQ_BATCH_K,
        _PQ_BATCH_NPROBE,
        _PQ_BATCH_PROBE_IDS,
    )

    path = ann_index.ensure_pq(spark, sf_dir, m=_PQ_M, ks=_PQ_KS)

    def run():
        return sorted(
            tuple(r)
            for r in ann_index.search_pq_batch(
                spark,
                path,
                list(_PQ_BATCH_PROBE_IDS),
                k=_PQ_BATCH_K,
                nprobe=_PQ_BATCH_NPROBE,
                m=_PQ_M,
                ks=_PQ_KS,
            ).collect()
        )

    default = run()
    monkeypatch.setattr(ann_index, "ADC_BROADCAST_MAX_CELLS", 0)
    fb_df = ann_index.search_pq_batch(
        spark,
        path,
        list(_PQ_BATCH_PROBE_IDS),
        k=_PQ_BATCH_K,
        nprobe=_PQ_BATCH_NPROBE,
        m=_PQ_M,
        ks=_PQ_KS,
    )
    plan = plan_of(fb_df)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" in plan  # the over-budget join strategy
    fallback = sorted(tuple(r) for r in fb_df.collect())
    assert fallback == default and len(default) > 0


def test_gbt_leaf_stats_is_broadcast_scoring(spark, sf_dir, reg):
    """Round-15 boosted-model inference: scoring must be 2·depth
    broadcast-CASE hops against the staged model tables plus one
    map-side-combinable aggregation — no sort-merge join, no window
    anywhere in the live plan (the model is a pinned broadcast
    artifact, exactly the tree3 leaf-stats shape)."""
    plan = plan_of(reg["gbt_2round_leaf_stats"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_ivf_batch_by_vector_one_pruned_scan(spark, sf_dir, reg):
    """Round-15 int8 batch by-vector: the external-query batch rides
    the shared int8 batch core — one partition-pruned assignments
    scan, broadcast probe fan-out, probe-partitioned rank; the raw
    embeddings never appear in the serving plan (collected eagerly)."""
    df = reg["ann_ivf_batch_by_vector_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "assignments.parquet" in line
    ]
    assert len(scans) == 1, scans
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert any("centroid_id" in line and "IN" in line for line in pf)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "embeddings.parquet" not in plan
    specs = _window_specs(plan)
    assert specs and all("probe_id" in s.split(",")[0] for s in specs), specs


def test_ivfpq_batch_filtered_prefilters_one_scan(spark, sf_dir, reg):
    """Round-15 filtered batch PQ: the allow-set must apply as a
    broadcast SEMI-join pre-filter on the ONE pruned codes scan shared
    by the whole batch — before ranking, once per batch — with the
    stored d-dim vectors still never read for scoring."""
    df = reg["ann_ivfpq_batch_filtered_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "LeftSemi" in plan
    scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "codes.parquet" in line
    ]
    assert len(scans) == 1, scans
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert any("centroid_id" in line and "IN" in line for line in pf)
    assert "SortMergeJoin" not in plan
    specs = _window_specs(plan)
    assert specs and all("probe_id" in s.split(",")[0] for s in specs), specs


def test_tokenize_doc_offsets_reads_shards_only(spark, sf_dir, reg):
    """Round-15 doc-offsets artifact: served from the WRITTEN shards —
    one partitioned scan + posexplode + a BIN-partitioned running sum;
    the export chain's inputs (documents) never appear, no sort-merge
    join, and the one window partitions on bin_id (budget-bounded
    partitions, never global)."""
    df = reg["tokenize_shard_doc_offsets"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "documents.parquet" not in plan
    assert "SortMergeJoin" not in plan
    specs = _window_specs(plan)
    assert specs and all("bin_id" in s.split(",")[0] for s in specs), specs


def test_ivfpq_code_utilization_reads_codes_only(spark, sf_dir, reg):
    """Round-15 PQ utilization telemetry: one scan of the CODES table
    only — the raw embeddings and the d-dim assignments never read —
    plus an exact-distinct aggregation; no sort-merge join, no
    window."""
    plan = plan_of(reg["ann_ivfpq_code_utilization"].fn(spark, sf_dir))
    assert "codes.parquet" in plan
    assert "assignments.parquet" not in plan
    assert "embeddings.parquet" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_allow_set_budget_fallback_values_equal(spark, sf_dir, monkeypatch):
    """Round-16 (ADVICE r15 #2): the allow-set PRE-filter now carries
    the same size-budget guard as the batch ADC relation. Under the
    default budget the eligible set broadcasts (plan-asserted by the
    filtered entries' tests); with the budget pinned to 0 the same
    call falls back to a shuffle-hash LEFT SEMI on vec_id — never a
    sort-merge — and must produce IDENTICAL values, on BOTH the
    single-probe PQ path and the batch path (the two callers of
    _allowed_semi the advice named)."""
    from pyspark.sql import functions as F

    from news_graph_rag_spark.pipeline import ann_index
    from news_graph_rag_spark.queries.round13 import _PQ_KS, _PQ_M
    from news_graph_rag_spark.queries.round14 import (
        _PQ_ALLOW_PRED,
        _PQ_BATCH_PROBE_IDS,
    )

    path = ann_index.ensure_pq(spark, sf_dir, m=_PQ_M, ks=_PQ_KS)
    allowed = (
        ann_index.load_index(spark, path)[0]
        .filter(F.expr(_PQ_ALLOW_PRED.format(v="vec_id")))
        .select("vec_id")
    )

    def single():
        return sorted(
            tuple(r)
            for r in ann_index.search_pq_by_id(
                spark, path, probe_vec_id=1, k=10, nprobe=4,
                m=_PQ_M, ks=_PQ_KS, allowed=allowed,
            ).collect()
        )

    def batch():
        return sorted(
            tuple(r)
            for r in ann_index.search_pq_batch(
                spark, path, list(_PQ_BATCH_PROBE_IDS), k=5, nprobe=4,
                m=_PQ_M, ks=_PQ_KS, allowed=allowed,
            ).collect()
        )

    default_single, default_batch = single(), batch()
    monkeypatch.setattr(ann_index, "ALLOW_BROADCAST_MAX_ROWS", 0)
    fb_single_df = ann_index.search_pq_by_id(
        spark, path, probe_vec_id=1, k=10, nprobe=4,
        m=_PQ_M, ks=_PQ_KS, allowed=allowed,
    )
    plan = plan_of(fb_single_df)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" in plan  # the over-budget semi-join
    assert sorted(tuple(r) for r in fb_single_df.collect()) == default_single
    assert len(default_single) > 0
    assert batch() == default_batch and len(default_batch) > 0


def test_ivfpq_rerank_by_vector_two_pruned_scans(spark, sf_dir, reg):
    """Round-16 by-vector two-tier rerank: the external-query batch
    must inherit the by-id rerank plan unchanged (shared shortlist +
    shared exact-rerank cores) — exactly ONE pruned codes scan (the PQ
    shortlist) and ONE pruned assignments scan (the exact tier's point
    lookups), broadcast-only joins, probe-partitioned windows, and
    neither the raw embeddings (query batch collected eagerly) nor a
    probe fetch anywhere in the serving plan."""
    df = reg["ann_ivfpq_rerank_by_vector_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    code_scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "codes.parquet" in line
    ]
    assign_scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "assignments.parquet" in line
    ]
    assert len(code_scans) == 1, code_scans
    assert len(assign_scans) == 1, assign_scans
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert sum("centroid_id" in line and "IN" in line for line in pf) >= 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "embeddings.parquet" not in plan
    specs = _window_specs(plan)
    assert specs and all("probe_id" in s.split(",")[0] for s in specs), specs


def test_hybrid_batch_one_token_scan_one_assignments_scan(spark, sf_dir, reg):
    """Round-16 batch hybrid (VERDICT r15 #4's done-criterion): Q
    concurrent queries must cost ONE partition-pruned token-index scan
    and ONE partition-pruned assignments scan regardless of Q —
    keyword candidates ride a single broadcast (probe, token) relation
    and vector candidates the shared int8 batch core; per-query rank
    windows partition on probe_id; no sort-merge join anywhere."""
    df = reg["hybrid_batch_indexed_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    tok_scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "ngr_tokidx2" in line
    ]
    assign_scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "assignments.parquet" in line
    ]
    assert len(tok_scans) == 1, tok_scans
    assert len(assign_scans) == 1, assign_scans
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert any("tok_bucket" in line and "IN" in line for line in pf), pf
    assert any("centroid_id" in line and "IN" in line for line in pf), pf
    assert "SortMergeJoin" not in plan
    specs = _window_specs(plan)
    assert specs and all("probe_id" in s.split(",")[0] for s in specs), specs


def test_gbt3_holdout_is_broadcast_scoring(spark, sf_dir, reg):
    """Round-16 R-round holdout eval: serving must be R·depth
    broadcast-CASE hops against the staged split tables plus one
    map-side-combinable aggregation and a broadcast cell join — no
    sort-merge join, no window, no training in the live plan (the
    gbt_2round_leaf_stats discipline, one more round deep)."""
    plan = plan_of(reg["gbt_3round_holdout_stats"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_nprobe_sweep_one_codes_scan(spark, sf_dir, reg):
    """Round-17 recall sweep (VERDICT r16 #6's done-criterion): all
    three nprobe levels must ride ONE partition-pruned codes scan —
    candidates are ADC-scored once across the widest union and each
    level is a crank filter over the same rows (3-row broadcast levels
    relation), with the per-level rank window partitioned on nprobe;
    no sort-merge join anywhere."""
    df = reg["ann_ivfpq_nprobe_recall_sweep"].fn(spark, sf_dir)
    plan = plan_of(df)
    code_scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "codes.parquet" in line
    ]
    assert len(code_scans) == 1, code_scans
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert any("centroid_id" in line and "IN" in line for line in pf), pf
    assert "SortMergeJoin" not in plan
    specs = _window_specs(plan)
    assert specs and all("nprobe" in s.split(",")[0] for s in specs), specs


def test_hybrid_batch_expand_one_scan_each_plus_broadcast_expansion(
    spark, sf_dir, reg
):
    """Round-17 batched E3 (VERDICT r16 #4's done-criterion): the
    expansion entry must inherit the fused chain's plan — still ONE
    token-index scan and ONE assignments scan regardless of Q — and
    add only a BROADCAST join of the Q·k hit set back to documents;
    windows stay probe_id-partitioned."""
    df = reg["hybrid_batch_expand_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    tok_scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "ngr_tokidx2" in line
    ]
    assign_scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "assignments.parquet" in line
    ]
    assert len(tok_scans) == 1, tok_scans
    assert len(assign_scans) == 1, assign_scans
    assert "documents.parquet" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    specs = _window_specs(plan)
    assert specs and all("probe_id" in s.split(",")[0] for s in specs), specs


def test_keyword_search_is_bucket_pruned(spark, sf_dir):
    """Round-17 lifecycle token index: search_keywords must serve from
    a PARTITION-PRUNED scan (tok_bucket IN-list reaches the scan's
    PartitionFilters, the token IN predicate is pushed within it) —
    and stay pruned AFTER incremental appends, the done-criterion of
    VERDICT r16 #2."""
    from news_graph_rag_spark.retrieval import token_index as ti

    path = ti.ensure_postings(spark, sf_dir, variant="plan-test-v1")
    df = ti.search_keywords(spark, path, ["spark", "join"], k=5)
    plan = plan_of(df)
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert any("tok_bucket" in line and "IN" in line for line in pf), pf
    assert any(
        "PushedFilters" in line and "token" in line
        for line in plan.splitlines()
    ), plan
    assert "SortMergeJoin" not in plan
    # append a batch, then re-check: pruning must survive the appends
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ti.append_postings(
        spark,
        path,
        docs.limit(20).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        ),
    )
    plan2 = plan_of(ti.search_keywords(spark, path, ["spark", "join"], k=5))
    pf2 = [line for line in plan2.splitlines() if "PartitionFilters" in line]
    assert any("tok_bucket" in line and "IN" in line for line in pf2), pf2


def test_hybstream_serving_is_pruned_and_broadcast(spark, sf_dir, reg):
    """Round-17 capstone (streaming → hybrid): the serving plan must
    read BOTH lifecycle indexes pruned — the posting scan carries a
    tok_bucket IN PartitionFilter, the inverted-list scan a
    centroid_id IN PartitionFilter over base ∪ streamed files — and
    fuse via broadcast joins only (candidate set, query vector,
    maxima); no SortMergeJoin anywhere."""
    df = reg["streaming_hybrid_ingest_search"].fn(spark, sf_dir)
    plan = plan_of(df)
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert any("tok_bucket" in line and "IN" in line for line in pf), pf
    assert any("centroid_id" in line and "IN" in line for line in pf), pf
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_post_retrain_sweep_one_codes_scan(spark, sf_dir, reg):
    """The post-retrain sweep inherits the shared helper's plan: ONE
    partition-pruned codes scan of the RETRAINED variant, nprobe-
    partitioned windows, no sort-merge join."""
    df = reg["ann_ivfpq_recall_sweep_post_retrain"].fn(spark, sf_dir)
    plan = plan_of(df)
    code_scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "codes.parquet" in line
    ]
    assert len(code_scans) == 1, code_scans
    assert "SortMergeJoin" not in plan
    specs = _window_specs(plan)
    assert specs and all("nprobe" in s.split(",")[0] for s in specs), specs
