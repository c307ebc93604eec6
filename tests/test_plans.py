"""Physical-plan regression tests — the scale contract.

Correctness says the answer is right; these say the PLAN is the one
that survives 100 TB: filters pushed to the scan, columns pruned,
small dims broadcast, no stray shuffles/cartesian products in the
single-pass aggregations.
"""

from __future__ import annotations

import pytest

from bigdata_imgprocessing_spark.queries import QUERIES


def _formatted(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _n_nodes(plan: str, op: str) -> int:
    """Count physical nodes of type ``op`` structurally: formatted mode
    lists every node exactly once in the detail section as ``(N) Op``,
    which is stable across tree-rendering changes (AQE re-indents,
    version tweaks) that break raw-text counting."""
    import re

    return len(re.findall(rf"^\(\d+\) {re.escape(op)}\b", plan, re.M))


def test_plan_hygiene_every_query(spark, sf_dir):
    """Blanket scale contract over the ENTIRE query surface: no query
    may plan a CartesianProduct (row-explosion at scale) or
    BatchEvalPython (row-at-a-time Python). Queries with build-time side
    effects (streaming drains, sink round trips, bucketed
    materialization) are plan-checked by their own tests instead."""
    skip_prefix = ("streaming_",)
    skip = {"stats_pipeline_e2e", "jsonl_roundtrip_stats", "bucketed_join_revenue"}
    bad = {}
    for name, fn in QUERIES.items():
        if name.startswith(skip_prefix) or name in skip:
            continue
        plan = _formatted(spark, fn(spark, sf_dir))
        hits = [m for m in ("CartesianProduct", "BatchEvalPython") if m in plan]
        if hits:
            bad[name] = hits
    assert not bad, f"scale anti-patterns in plans: {bad}"


def test_pushdown_and_pruning_top_orders(spark, sf_dir):
    plan = _formatted(spark, QUERIES["top_orders"](spark, sf_dir))
    # predicate pushdown into the parquet scans
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "LessThan(o_orderdate" in plan
    # column pruning: lineitem scan reads only the 3 needed columns
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan
    # top-k executes as a bounded take, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_broadcast_dims_region_revenue(spark, sf_dir):
    plan = _formatted(spark, QUERIES["region_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the fact table (lineitem) must never be the broadcast side
    assert "SortMergeJoin" not in plan or "lineitem" not in plan.split("SortMergeJoin")[0]
    # region filter reaches its scan
    assert "In(r_name, [ASIA,EUROPE])" in plan


def test_single_shuffle_pricing_summary(spark, sf_dir):
    df = QUERIES["pricing_summary"](spark, sf_dir)
    plan = _formatted(spark, df)
    # one partial + one final agg, one exchange between them
    assert plan.count("Exchange") <= 2  # shuffle exchange (+ AQE wrapper line)
    assert "HashAggregate" in plan
    # codegen spans only materialize in the executed (final) adaptive plan
    df.collect()
    final = _formatted(spark, df)
    assert "codegen id" in final


def test_no_python_udf_in_relational_queries(spark, sf_dir):
    """The relational/text/dedup surface must stay JVM-side (UDFs are the
    slow path, reserved for the image codec stages)."""
    for name in [
        "pricing_summary",
        "alphabet_stats",
        "doc_token_stats",
        "dedup_exact",
        "minhash_band_stats",
        "knn_bruteforce",
        "lang_id_confusion",
    ]:
        plan = _formatted(spark, QUERIES[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan, f"{name} fell back to row-Python"
        assert "ArrowEvalPython" not in plan, f"{name} uses a pandas UDF needlessly"


def test_semi_and_anti_join_physical(spark, sf_dir):
    semi = _formatted(spark, QUERIES["semi_join_customers"](spark, sf_dir))
    anti = _formatted(spark, QUERIES["anti_join_customers"](spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_range_join_is_hash_not_cartesian(spark, sf_dir):
    """The band join must hash-join on user_id with the time band as a
    residual condition — a nested-loop/cartesian here would explode at
    scale."""
    plan = _formatted(spark, QUERIES["range_join_funnel"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_keyword_theta_join_is_broadcast_nested_loop(spark, sf_dir):
    """Contains()-predicate join against a literal keyword dim SHOULD be
    a broadcast nested-loop join (tiny build side) — never a shuffled
    cartesian."""
    plan = _formatted(spark, QUERIES["keyword_doc_stats"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    """Union-merge as-of join: exactly one exchange for the window (plus
    the final aggregation's, if any) — no join-shaped explosion."""
    plan = _formatted(spark, QUERIES["asof_purchase_click"](spark, sf_dir))
    assert "Join" not in plan  # implemented without any join operator
    assert plan.count("Exchange") <= 2


@pytest.mark.parametrize("name", ["image_avg_color", "image_detection_counts"])
def test_image_stages_use_arrow(spark, sf_dir, name):
    """Python is unavoidable in codec stages — but it must be the Arrow
    pandas path, never row-pickling BatchEvalPython."""
    plan = _formatted(spark, QUERIES[name](spark, sf_dir))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize(
    "name",
    ["image_detection_counts", "detection_class_names", "image_predictions", "bar_chart_data"],
)
def test_detection_queries_run_the_detector_once(spark, sf_dir, name):
    """The per-image class counts are one detector pass: a filter that
    Catalyst infers from exploding them must not push a second copy of
    the Python UDF below the projection."""
    plan = _formatted(spark, QUERIES[name](spark, sf_dir))
    assert _n_nodes(plan, "ArrowEvalPython") == 1


def test_image_predictions_is_row_local(spark, sf_dir):
    """Each image's prediction string comes from its own class counts:
    no shuffle and no join back to the image ids."""
    plan = _formatted(spark, QUERIES["image_predictions"](spark, sf_dir))
    assert "Exchange" not in plan and "Join" not in plan


def test_subqueries_decorrelate(spark, sf_dir):
    """EXISTS → semi join; NOT EXISTS → anti join; correlated scalar
    aggregate → aggregate + join. None may remain as per-row subqueries."""
    e = _formatted(spark, QUERIES["exists_late_orders"](spark, sf_dir))
    assert "LeftSemi" in e
    q22 = _formatted(spark, QUERIES["inactive_rich_customers"](spark, sf_dir))
    assert "LeftAnti" in q22
    q17 = _formatted(spark, QUERIES["small_quantity_revenue"](spark, sf_dir))
    assert "HashAggregate" in q17 and "Join" in q17
    for plan in (e, q22, q17):
        assert "InSubquery" not in plan  # fully decorrelated


def test_model_scores_topk_is_bounded_take(spark, sf_dir):
    """Global top-20 model scores must execute as TakeOrderedAndProject
    (per-partition heaps), not a single-partition window sort of the
    whole corpus — round 1's one real scale-killer."""
    plan = _formatted(spark, QUERIES["embedding_model_scores"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # the Window that assigns rn must sit ABOVE the bounded take (tree
    # prints root-first), i.e. it consumes the 20-row result, not the corpus
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_vocab_topk_is_bounded_take(spark, sf_dir):
    """The global vocabulary head must be a bounded take over the token
    aggregation, never a full sort of the (huge) token tail."""
    plan = _formatted(spark, QUERIES["vocab_top_terms"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_stratified_sample_broadcasts_rates(spark, sf_dir):
    """Per-lang sampling rates join back onto the corpus as broadcasts
    (|langs| rows + 1 scalar) — the corpus itself must not shuffle for
    the membership filter, only for the two count aggregations."""
    plan = _formatted(spark, QUERIES["stratified_sample_stats"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_repetition_stats_single_shuffle(spark, sf_dir):
    """Bigram-diversity deciles: narrow per-row map (zip-of-slices, no
    explode) + ONE grouped-agg shuffle; everything JVM-side."""
    plan = _formatted(spark, QUERIES["repetition_ngram_stats"](spark, sf_dir))
    assert plan.count("Exchange") <= 2  # tree + detail naming of the one shuffle
    assert "EvalPython" not in plan
    assert "Generate" not in plan  # no explode — the array stays per-row


def test_chunk_windows_is_shuffle_free(spark, sf_dir):
    """Overlapping-window chunking is a narrow row expansion (sequence +
    explode) — it must compile to a scan + generate with ZERO exchanges
    and stay out of Python entirely."""
    plan = _formatted(spark, QUERIES["doc_chunk_windows"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode
    assert "EvalPython" not in plan


def test_pack_stats_reuses_shard_partitioning(spark, sf_dir):
    """Sequence packing: the (lang, shard) hash shuffle feeding the
    window must be REUSED by the (lang, shard, pack_id) aggregation
    (HashPartitioning on a subset of the grouping keys satisfies it);
    only the final per-lang agg may add one more exchange."""
    plan = _formatted(spark, QUERIES["doc_pack_stats"](spark, sf_dir))
    # 2 physical exchanges; formatted explain names each twice (tree + detail)
    assert plan.count("Exchange") <= 4
    assert "Window" in plan
    assert "EvalPython" not in plan


def test_lsh_verify_joins_are_hash_on_cached_candidates(spark, sf_dir):
    """minhash_lsh_pairs: candidate generation is a bucketed self-EQUI-join
    and the Jaccard verify stage joins only the candidate frame to the
    CACHED shingle sets — all hash-based joins, no nested-loop/cartesian
    anywhere, and the cached bands/sets show up as InMemoryTableScan so
    the signature lineage runs once, not once per join side."""
    plan = _formatted(spark, QUERIES["minhash_lsh_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan


def test_decontam_is_semi_join_jvm_side(spark, sf_dir):
    """decontam_ngram_overlap: the train-gram probe must be a LeftSemi
    HASH join on the 16-char gram hash (never nested-loop over raw
    grams) and the whole gram build — split/slice/md5 — stays JVM-side
    (no Python eval anywhere)."""
    plan = _formatted(spark, QUERIES["decontam_ngram_overlap"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_quantized_recall_scans_corpus_broadcast_queries(spark, sf_dir):
    """quantized_ann_recall: query side (3 rows) is broadcast — the
    corpus-side scan is never shuffled for scoring; quantization and the
    integer dot are pure JVM expressions (no Python eval)."""
    plan = _formatted(spark, QUERIES["quantized_ann_recall"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_phash_band_join_is_hash_on_cached_hashes(spark, sf_dir):
    """image_phash_neardup: band candidates come from an EQUI-join on
    (band, band_value) with the id inequality as a residual — never a
    cartesian — and the hash frame is cached so the decode+phash UDF
    pass over the corpus runs once, not once per join side."""
    plan = _formatted(spark, QUERIES["image_phash_neardup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan


def test_market_share_join_tree_broadcasts_dims(spark, sf_dir):
    """market_share_by_year: every dimension arm is a BroadcastHashJoin
    (no cartesian/nested-loop anywhere); at test scale even
    lineitem⋈orders broadcasts, leaving exactly ONE shuffle Exchange —
    the final year aggregation. At production scale AQE swaps the
    fact-fact join to sort-merge; the dim arms stay broadcast."""
    plan = _formatted(spark, QUERIES["market_share_by_year"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_heatmap_matrix_single_shuffle(spark, sf_dir):
    """heatmap_chart_data: the 6-row keyword dim joins as a broadcast
    BNLJ (an intentional tiny-literal theta join, never a shuffle) and
    the matrix builds in ONE exchange with map-side partial aggregation
    — no pivot distinct-values job."""
    plan = _formatted(spark, QUERIES["heatmap_chart_data"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert _n_nodes(plan, "Exchange") <= 1  # at most the one agg shuffle
    assert "partial_count" in plan  # map-side combine before the shuffle


def test_pii_scrub_map_only(spark, sf_dir):
    """pii_scrub_stats: redaction is a pure JVM map over the scan — one
    low-cardinality shuffle for the per-lang rollup, no UDF, no join."""
    plan = _formatted(spark, QUERIES["pii_scrub_stats"](spark, sf_dir))
    assert _n_nodes(plan, "Exchange") <= 1  # only the per-lang rollup
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan


def test_ivf_search_served_probe_join(spark, sf_dir):
    """ivf_search_served: the probe side broadcasts into an equi-join on
    cell (never a cross product), cell probing is Arrow-batched, and the
    per-query top-k runs as a rank-limited window (WindowGroupLimit),
    not a global sort."""
    plan = _formatted(spark, QUERIES["ivf_search_served"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    assert "WindowGroupLimit" in plan


def test_embedding_batch_scores_arrow_batched(spark, sf_dir):
    """P6's predict_batch_udf scorer must run as an Arrow-batched python
    eval (the vectorized path a real model needs), never row-at-a-time
    BatchEvalPython, and aggregate with map-side partials."""
    plan = _formatted(spark, QUERIES["embedding_batch_scores"](spark, sf_dir))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "partial_count" in plan or "partial_min" in plan


def test_udtf_sentence_stats_arrow_lateral(spark, sf_dir):
    """The Python UDTF must run Arrow-batched (ArrowEvalPythonUDTF) —
    never the row-pickling BatchEvalPythonUDTF — with an ordinary
    partial-agg shuffle above it."""
    plan = _formatted(spark, QUERIES["udtf_sentence_stats"](spark, sf_dir))
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPythonUDTF" not in plan
    assert "partial_count" in plan


def test_scd2_single_window_shuffle(spark, sf_dir):
    """SCD2 interval build: exactly one exchange for the per-user window
    (plus the rollup's) and no self-join — the lead() formulation."""
    plan = _formatted(spark, QUERIES["scd2_user_history"](spark, sf_dir))
    assert "Join" not in plan
    assert _n_nodes(plan, "Exchange") <= 2
    assert _n_nodes(plan, "Window") == 1


def test_fixed_size_sample_group_limited(spark, sf_dir):
    """Exact-k sampling must run as WindowGroupLimit (per-group bounded
    heaps), never a full per-group sort materializing every rank."""
    plan = _formatted(spark, QUERIES["fixed_size_group_sample"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_erasure_cascade_semi_and_anti(spark, sf_dir):
    """The audit must be a pure LeftSemi FK walk and the apply a
    LeftAnti rewrite — broadcast victim sets, no full joins."""
    audit = _formatted(spark, QUERIES["user_erasure_audit"](spark, sf_dir))
    assert _n_nodes(audit, "BroadcastHashJoin") >= 3
    assert audit.count("Join type: LeftSemi") >= 3
    assert "SortMergeJoin" not in audit
    # apply has a write side effect; plan-check its pre-write frame shape
    # via the registered query's physical plan (read side of the rewrite)
    ap = _formatted(spark, QUERIES["user_erasure_apply"](spark, sf_dir))
    assert "CartesianProduct" not in ap


def test_order_value_position_single_shuffle(spark, sf_dir):
    """Relative-position windows + same-key rollup must share ONE
    exchange (alias applied before the window so the aggregation reuses
    the window's hash partitioning)."""
    plan = _formatted(spark, QUERIES["order_value_position"](spark, sf_dir))
    assert _n_nodes(plan, "Exchange") == 1
    assert _n_nodes(plan, "Window") == 1


def test_join_hints_steer_strategy(spark, sf_dir):
    """Strategy hints must survive planning — at 100 TB the engine's
    users steer joins (broadcast a dim AQE mis-sizes, force shuffle-hash
    to dodge a sort) and a conf regression that silently drops hints
    changes every plan at once."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_suppkey", "l_quantity"
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select("s_suppkey")
    cases = {
        "broadcast": "BroadcastHashJoin",
        "shuffle_hash": "ShuffledHashJoin",
        "merge": "SortMergeJoin",
    }
    for hint, node in cases.items():
        plan = _formatted(
            spark, li.join(sup.hint(hint), li.l_suppkey == sup.s_suppkey)
        )
        assert node in plan, f"hint {hint} did not produce {node}"


def test_cohort_retention_single_scan_no_join(spark, sf_dir):
    """Cohort retention must stay the single-scan window shape: the
    first draft joined distinct pairs back to a first-seen aggregate,
    scanning and shuffling the event stream twice; the window rewrite
    reads events ONCE and plans no join at all (the cohort denominator
    is the offset-0 count, a window over the tiny count matrix)."""
    plan = _formatted(spark, QUERIES["cohort_retention"](spark, sf_dir))
    assert _n_nodes(plan, "Scan parquet") == 1
    for join_op in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                    "BroadcastNestedLoopJoin"):
        assert _n_nodes(plan, join_op) == 0, join_op


def test_cogroup_order_fill_plan(spark, sf_dir):
    """cogroup: both relations co-partition on the key feeding ONE
    FlatMapCoGroupsInPandas (Arrow cogrouped-map, never BatchEvalPython),
    plus the 3-group rollup — at most 3 exchanges total."""
    plan = _formatted(spark, QUERIES["cogroup_order_fill"](spark, sf_dir))
    assert _n_nodes(plan, "FlatMapCoGroupsInPandas") == 1
    assert _n_nodes(plan, "Exchange") <= 3
    assert "BatchEvalPython" not in plan


def test_heavy_hitters_sketch_partial_merge(spark, sf_dir):
    """approx_top_k: the sketch aggregate must show a partial (map-side)
    phase before the single-row final merge — only sketches cross the
    shuffle, never the token stream."""
    plan = _formatted(spark, QUERIES["heavy_hitters_topk"](spark, sf_dir))
    assert "partial_approx_top_k" in plan


def test_pagerank_shuffles_edges_not_corpus(spark, sf_dir):
    """pagerank: the edge frame is localCheckpoint-ed so every
    iteration's plan starts from an ExistingRDD scan of the sparse
    graph (NOT a re-analysis of the whole LSH lineage — the iterative
    planning blowup components.py also cuts); the degree census is the
    cached node frame (InMemoryTableScan)."""
    plan = _formatted(spark, QUERIES["pagerank_neardup"](spark, sf_dir))
    assert "ExistingRDD" in plan  # checkpointed edges, lineage cut
    assert "InMemoryTableScan" in plan  # cached nodes
    assert "CartesianProduct" not in plan


def test_bitmap_distinct_is_mergeable_two_level(spark, sf_dir):
    """bitmap_distinct_users: exact distinct WITHOUT the distinct-expand
    shape — no Expand node, and the shuffle carries (day, bucket)-keyed
    bitmaps through at most two exchanges. This is the contract that
    makes the count mergeable on a real cluster."""
    plan = _formatted(spark, QUERIES["bitmap_distinct_users"](spark, sf_dir))
    assert _n_nodes(plan, "Expand") == 0
    assert _n_nodes(plan, "Exchange") <= 2
    assert "bitmap_construct_agg" in plan


def test_weighted_sample_is_bounded_take(spark, sf_dir):
    """weighted_doc_sample: the A-ES top-k must plan as
    TakeOrderedAndProject over a single scan — no global sort, no
    shuffle at all (per-partition top-20 + driver merge)."""
    plan = _formatted(spark, QUERIES["weighted_doc_sample"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert _n_nodes(plan, "Exchange") == 0
    assert _n_nodes(plan, "Scan parquet") == 1


def test_m4_downsample_single_shuffle(spark, sf_dir):
    """m4_downsample: both rank windows and the final agg share ONE
    bucket shuffle — the M4 reduction is a single-pass operator."""
    plan = _formatted(spark, QUERIES["m4_downsample"](spark, sf_dir))
    assert _n_nodes(plan, "Scan parquet") == 1
    assert _n_nodes(plan, "Exchange") <= 2  # bucket shuffle (+AQE wrapper)


def test_ks_drift_single_fact_scan(spark, sf_dir):
    """ks_score_drift: the documents fact is scanned ONCE into the
    (source, length) contingency frame; totals, top-2 pick, and the
    CDF comparison all derive from the cached domain-sized frame."""
    df = QUERIES["ks_score_drift"](spark, sf_dir)
    df.collect()  # populate the cache so InMemoryTableScan materializes
    plan = _formatted(spark, df)
    assert _n_nodes(plan, "Scan parquet") <= 1
    assert "InMemoryTableScan" in plan


def test_pareto_front_prunes_before_global_window(spark, sf_dir):
    """pareto_front_orders: the skyline caches the candidate frame (one
    fact scan feeding both prune legs) and broadcasts the bucket-max
    frame — never a shuffled join of the fact."""
    df = QUERIES["pareto_front_orders"](spark, sf_dir)
    df.collect()
    plan = _formatted(spark, df)
    assert _n_nodes(plan, "Scan parquet") <= 1
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan
    assert _n_nodes(plan, "SortMergeJoin") == 0


def test_freq_pairs_no_fact_self_join(spark, sf_dir):
    """freq_event_pairs: the pair space is generated map-side from each
    user's collect_set, never a fact self-join — zero SortMergeJoin,
    dims broadcast. Since the r8 scan-dedup fix every Generate explodes
    the CACHED basket frame (pair explode + the singles explode once
    per join side), so the fact scan appears exactly once."""
    plan = _formatted(spark, QUERIES["freq_event_pairs"](spark, sf_dir))
    assert _n_nodes(plan, "SortMergeJoin") == 0
    assert _n_nodes(plan, "Generate") == 3  # pairs + singles x2 (cached src)
    assert _n_nodes(plan, "BroadcastHashJoin") >= 2  # singles both sides
    assert _n_nodes(plan, "Scan parquet") == 1


def test_bpe_apply_is_vocab_bounded(spark, sf_dir):
    """bpe_apply_stats: after the wordcount collapse everything is maps
    and tiny broadcast stat joins — no join of any hash/merge kind, and
    the cached vocab frame is reused (InMemoryTableScan)."""
    df = QUERIES["bpe_apply_stats"](spark, sf_dir)
    df.collect()  # populate the vocab caches
    plan = _formatted(spark, df)
    assert _n_nodes(plan, "SortMergeJoin") == 0
    assert _n_nodes(plan, "ShuffledHashJoin") == 0
    assert "InMemoryTableScan" in plan


def test_mmr_greedy_probes_cached_candidates(spark, sf_dir):
    """mmr_diverse_topk: every greedy step joins the CACHED 10-row
    candidate frame (InMemoryTableScan) with broadcast selection state —
    the corpus is streamed once into the candidate heaps, never again."""
    df = QUERIES["mmr_diverse_topk"](spark, sf_dir)
    df.collect()
    plan = _formatted(spark, df)
    assert "InMemoryTableScan" in plan
    assert _n_nodes(plan, "BroadcastHashJoin") >= 2  # s1 / (s1 x s2) probes


def test_session_funnel_single_shuffle(spark, sf_dir):
    """session_funnel_stats: sessionization, all three chained stage
    windows, and the per-session rollup must share ONE hash shuffle
    (HashPartitioning(user_id) satisfies every (user_id, sid)
    distribution downstream) — plus the final single-row agg exchange.
    A second data shuffle here would mean the window chain broke the
    partitioning reuse the docstring claims."""
    plan = _formatted(spark, QUERIES["session_funnel_stats"](spark, sf_dir))
    assert _n_nodes(plan, "Scan parquet") == 1
    assert _n_nodes(plan, "Exchange") <= 2  # user shuffle + 1-row final agg
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert _n_nodes(plan, join_op) == 0, join_op


def test_sketch_audits_share_lsh_pipeline(spark, sf_dir):
    """minhash_estimate_error rides the shared LSH pipeline's cached
    frames (InMemoryTableScan present once executed — it needs the
    signature frame, which the pair STORE doesn't carry);
    pair_rouge_stats instead reads the materialized pair-graph store
    plus the documents token scan. Neither plans a cartesian."""
    df = QUERIES["minhash_estimate_error"](spark, sf_dir)
    df.collect()
    plan = _formatted(spark, df)
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
    df = QUERIES["pair_rouge_stats"](spark, sf_dir)
    df.collect()
    plan = _formatted(spark, df)
    # pair store + documents twice (ta/tb token aliases — two pruned
    # linear scans, cheaper than caching full token arrays corpus-wide)
    assert _n_nodes(plan, "Scan parquet") == 3
    assert "CartesianProduct" not in plan


def test_kll_drift_single_doc_scan(spark, sf_dir):
    """kll_quantile_drift: one documents scan feeds BOTH the sketch and
    exact percentile aggregates (same groupBy), the unpivot operates on
    the 2-row release frame, and no join of any kind appears — the
    whole query is scan → grouped agg → constant-sized reshape."""
    plan = _formatted(spark, QUERIES["kll_quantile_drift"](spark, sf_dir))
    assert _n_nodes(plan, "Scan parquet") == 1
    for join_op in ("SortMergeJoin", "BroadcastHashJoin",
                    "ShuffledHashJoin", "CartesianProduct"):
        assert _n_nodes(plan, join_op) == 0, join_op


def test_label_prop_rounds_are_graph_sized(spark, sf_dir):
    """label_prop_communities: after the fixed propagation rounds the
    final plan reads the localCheckpointed label RDD (ExistingRDD /
    Scan-free) — the corpus parquet is NOT rescanned per round, and the
    community rollup plans no join (labels are a standalone frame)."""
    df = QUERIES["label_prop_communities"](spark, sf_dir)
    plan = _formatted(spark, df)
    assert _n_nodes(plan, "Scan parquet") == 0  # lineage cut at checkpoint
    for join_op in ("SortMergeJoin", "BroadcastHashJoin",
                    "ShuffledHashJoin", "CartesianProduct"):
        assert _n_nodes(plan, join_op) == 0, join_op


def test_equidepth_buckets_no_sort_no_range_join(spark, sf_dir):
    """equidepth_price_buckets: boundaries come from ONE aggregate pass
    broadcast as a single row; bucket membership is an array HOF — the
    plan must contain no global sort, no window, and no sort-merge/range
    join (the ntile() formulation this replaces was a scale-killer)."""
    plan = _formatted(spark, QUERIES["equidepth_price_buckets"](spark, sf_dir))
    assert _n_nodes(plan, "Scan parquet") == 2  # boundary pass + bucket pass
    assert "BroadcastNestedLoopJoin" in plan  # 1-row boundary frame
    for bad in ("SortMergeJoin", "Window", "ShuffledHashJoin"):
        assert _n_nodes(plan, bad) == 0, bad


def test_equidepth_approx_audit_no_self_join(spark, sf_dir):
    """equidepth_approx_audit: the exact+sketch octile pass runs
    eagerly (bounded 1-row collect), so the RETURNED frame plans only
    the bucketing scan with LITERAL boundaries joined to the broadcast
    8-row bucket spine — one parquet scan, one broadcast join, and
    none of the self-join shapes the naive two-crossJoin form planned
    (which rescanned orders a third time)."""
    from bigdata_imgprocessing_spark.queries import QUERIES

    plan = _formatted(spark, QUERIES["equidepth_approx_audit"](spark, sf_dir))
    assert _n_nodes(plan, "Scan parquet") == 1
    assert _n_nodes(plan, "BroadcastHashJoin") == 1
    for bad in (
        "SortMergeJoin",
        "Window",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert _n_nodes(plan, bad) == 0, bad


def test_quality_panel_and_psi_single_scan(spark, sf_dir):
    """gopher_quality_rules / psi_release_drift: both are
    one-corpus-scan shapes — the rule signals are map-side HOFs into a
    lang groupBy, and the PSI totals come from a window over the 6-row
    binned frame (the naive agg+crossJoin form planned a SECOND full
    corpus scan — caught and removed in round 8)."""
    from bigdata_imgprocessing_spark.queries import QUERIES

    for name in ("gopher_quality_rules", "psi_release_drift"):
        plan = _formatted(spark, QUERIES[name](spark, sf_dir))
        assert _n_nodes(plan, "Scan parquet") == 1, name
        for bad in ("SortMergeJoin", "BroadcastHashJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"):
            assert _n_nodes(plan, bad) == 0, (name, bad)


def test_scan_dedup_audit_fixed_queries(spark, sf_dir):
    """Round-8 scan-dedup audit: these queries re-planned their corpus
    scan once per derived frame (groupBy-then-join-back / uncached
    reuse) — each is now pinned at its INHERENT scan count (window
    totals over the aggregated frame, or a cached small frame feeding
    every consumer)."""
    from bigdata_imgprocessing_spark.queries import QUERIES

    expected = {
        "approx_balance_deciles": 2,  # sketch pass + bucket pass
        "bloom_prefilter_stats": 2,  # member pass (cached) + probe pass
        "chi2_lang_source": 1,       # one contingency pass
        "dq_expectations": 5,        # one per audited table
        "freq_event_pairs": 1,       # one basket build (cached)
        "locf_daily_values": 2,      # sampled pass + global bounds
        "mad_event_outliers": 2,     # median pass + deviation pass
        "pmi_collocations": 2,       # unigram leg + bigram leg
        "stratified_sample_stats": 2,  # count pass + filter pass
        "tfidf_top_terms": 2,        # token pass + zero-column count
        "user_erasure_audit": 4,     # one per audited table
    }
    for name, n in expected.items():
        plan = _formatted(spark, QUERIES[name](spark, sf_dir))
        assert _n_nodes(plan, "Scan parquet") == n, (
            name, _n_nodes(plan, "Scan parquet"))


def test_sorted_neighbor_lcp_blocked_sort(spark, sf_dir):
    """sorted_neighbor_lcp: the neighbor sort is BLOCKED on the first
    word — the window exchange must be hashpartitioning, never the
    all-rows-to-one-task SinglePartition a global ORDER BY window would
    plan; one documents scan, no joins (LCP is a map-side array HOF)."""
    plan = _formatted(spark, QUERIES["sorted_neighbor_lcp"](spark, sf_dir))
    assert _n_nodes(plan, "Scan parquet") == 1
    assert "SinglePartition" not in plan
    assert _n_nodes(plan, "Window") == 1
    for join_op in ("SortMergeJoin", "BroadcastHashJoin",
                    "ShuffledHashJoin", "CartesianProduct"):
        assert _n_nodes(plan, join_op) == 0, join_op


def test_dim_truncation_recall_broadcast_queries(spark, sf_dir):
    """dim_truncation_recall: the 3-row query side is broadcast (the
    corpus is never shuffled for scoring) and all three truncation
    rankings ride ONE scored frame — exactly 2 embeddings scans
    (corpus + query side), no cartesian, no row-Python."""
    plan = _formatted(spark, QUERIES["dim_truncation_recall"](spark, sf_dir))
    assert _n_nodes(plan, "Scan parquet") == 2
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_dpp_partition_join_prunes_dynamically(spark, sf_dir):
    """dpp_partition_join: the day-partitioned fact scan must carry a
    dynamicpruningexpression in its partition filters (the dim side is
    data-dependent, so static pruning is impossible) and the dim join
    must be a broadcast — the at-scale contract that only selected day
    directories are listed."""
    df = QUERIES["dpp_partition_join"](spark, sf_dir)
    plan = _formatted(spark, df)
    assert "dynamicpruning" in plan.lower()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_hamming1_neighbor_join_is_equi_hash(spark, sf_dir):
    """hamming1_neighbor_pairs: candidate generation is an EQUI-join on
    the wildcard key — a hash-family join, never BroadcastNestedLoop /
    Cartesian (the all-pairs bit_count shape the operator exists to
    avoid) and never row-Python; the cached fingerprint-count frame
    serves the index and both count join-backs (4 cache reads), so the
    simhash derivation is planned once."""
    plan = _formatted(spark, QUERIES["hamming1_neighbor_pairs"](spark, sf_dir))
    n_hash_joins = sum(
        _n_nodes(plan, op)
        for op in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    assert n_hash_joins == 3  # wildcard-key join + two count join-backs
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert _n_nodes(plan, "InMemoryTableScan") == 4


def test_simhash64_neardup_banded_join_contract(spark, sf_dir):
    """simhash64_neardup: candidate generation is ONE pinned
    SortMergeJoin on the (block, block_bits) key — merge pinned because
    Catalyst cannot see the explode fan-out of the banded index and
    would broadcast it (the hamming1 OOM lesson, NOTES r9) — never a
    BroadcastNestedLoop/Cartesian bit_count theta join and never
    row-Python; the two count join-backs broadcast the small cached
    fingerprint frame; the cache serves index both sides + na + nb +
    the dist-0 bucket scan (5 reads), so the 64-bit simhash derivation
    is planned once."""
    plan = _formatted(spark, QUERIES["simhash64_neardup"](spark, sf_dir))
    assert _n_nodes(plan, "SortMergeJoin") == 1
    assert _n_nodes(plan, "BroadcastHashJoin") == 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert _n_nodes(plan, "InMemoryTableScan") == 5


def test_welch_single_scan_no_sort(spark, sf_dir):
    """welch_ttest_price: the whole test is ONE map-side-partial
    aggregation over one orders scan — no window, no sort, no join
    (contrast the rank tests' documented total-sort cost); everything
    stays JVM-side."""
    plan = _formatted(spark, QUERIES["welch_ttest_price"](spark, sf_dir))
    assert _n_nodes(plan, "Scan parquet") == 1
    assert "Sort" not in plan or _n_nodes(plan, "Sort") == 0
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert _n_nodes(plan, "HashAggregate") >= 2  # partial + final


def test_kruskal_single_fact_scan(spark, sf_dir):
    """kruskal_wallis_price: the tie term rides the SAME rank pass
    (r12 review — sum_rows(c^2-1) = sum_prices(c^3-c)), so exactly ONE
    orders scan appears in the plan; the rank windows are the
    documented total-sort cost."""
    plan = _formatted(spark, QUERIES["kruskal_wallis_price"](spark, sf_dir))
    assert _n_nodes(plan, "Scan parquet") == 1
    assert "BatchEvalPython" not in plan


def test_poisson_bootstrap_one_scan_one_shuffle(spark, sf_dir):
    """poisson_bootstrap_ci: the 64x replicate fan-out is a broadcast
    nested-loop against a 64-row range (map-side, no shuffle of the
    fact table by replicate); the only wide reduction is the 64-group
    partial-aggregated groupBy — the one-pass claim the docstring
    makes is the plan's actual shape."""
    plan = _formatted(spark, QUERIES["poisson_bootstrap_ci"](spark, sf_dir))
    assert _n_nodes(plan, "Scan parquet") <= 2  # fan branch + point branch
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_capped_lsh_reads_bands_store(spark, sf_dir):
    """minhash_lsh_capped / hot_bucket_rep_dedup: the band index comes
    from the materialized store (no shingle/md5 derivation in the
    plan — the signature explode would show as a Generate over the
    documents scan feeding an md5 projection), and candidate
    generation is an equi join, never a cartesian."""
    from bigdata_imgprocessing_spark.queries.dedup import (
        _minhash_bands_store,
    )

    _minhash_bands_store(spark, sf_dir)  # ensure landed
    for name in ("minhash_lsh_capped", "hot_bucket_rep_dedup"):
        plan = _formatted(spark, QUERIES[name](spark, sf_dir))
        assert "bdip_bands_" in plan  # store scan present
        assert "CartesianProduct" not in plan
        # exactly one BNLJ is allowed: the broadcast cross of the
        # 1-row accounting frame onto every output row — bounded by
        # construction, not a candidate-generation shape
        assert _n_nodes(plan, "BroadcastNestedLoopJoin") <= 1


def test_blocklist_lexicon_plan(spark, sf_dir):
    """blocklist_lexicon_filter (the deployment-size lexicon): the 323
    term->kind entries must ride the plan as ONE constant-folded map
    Literal — no join, no extra scan, no Python — so the scoring stage
    is the same single codegen'd corpus scan as the 3-term fixture
    query, and the only exchanges are the (lang, verdict) rollup and
    the final orderBy."""
    plan = _formatted(spark, QUERIES["blocklist_lexicon_filter"](spark, sf_dir))
    assert _n_nodes(plan, "Scan parquet") == 1
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert _n_nodes(plan, "Exchange") <= 2
    # constant folding proof: a NOT-folded CreateMap would render the
    # raw map(badterm000, 1, ...) call tree in the Project expression;
    # the folded Literal renders as keys:/values: array dumps
    assert "map(badterm" not in plan and "keys:" in plan


def test_paragraph_dedup_plan(spark, sf_dir):
    """paragraph_dedup_stats scale contract: the corpus scans prune to
    exactly the consumed columns (no n_chars/source), the
    first-occurrence election + mark-back is ONE equi-join (broadcast
    at test scale, shuffled-hash/sort-merge at scale — NEVER a nested
    loop, which is what makes a web-scale hot paragraph
    AQE-skew-splittable), and nothing drops to Python."""
    plan = _formatted(spark, QUERIES["paragraph_dedup_stats"](spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    equi = (
        _n_nodes(plan, "BroadcastHashJoin")
        + _n_nodes(plan, "SortMergeJoin")
        + _n_nodes(plan, "ShuffledHashJoin")
    )
    assert equi == 1, f"expected exactly one equi mark-back join: {plan[:500]}"
    assert "n_chars" not in plan and "source" not in plan  # pruned


def test_wasserstein_single_scan_domain_windows(spark, sf_dir):
    """wasserstein_source_drift scale contract: ONE corpus scan
    (collapsed to the (source, n_chars) contingency frame feeding
    every branch through the cache), windows run over the bounded
    distinct-length DOMAIN (their input is the post-aggregate frame,
    never corpus rows), and the only nested-loop join is the
    deliberate 1-row broadcast of the totals frame."""
    plan = _formatted(
        spark, QUERIES["wasserstein_source_drift"](spark, sf_dir)
    )
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert _n_nodes(plan, "Scan parquet") == 1
    assert _n_nodes(plan, "BroadcastNestedLoopJoin") == 1  # 1-row totals
    assert "ReadSchema: struct<source:string,n_chars:bigint>" in plan


def test_ivf_assign_step_plan(spark):
    """streaming_ivf_assign_ingest per-batch scale contract: the
    assignment is ONE deliberate k-row broadcast nested loop (the
    codebook cross) feeding a map-side-combinable hash aggregate on
    vec_id — no window sort (a hot arrival shard must stay
    AQE-splittable), no extra join, and nothing drops to Python."""
    from pyspark.sql import functions as F

    from bigdata_imgprocessing_spark.streaming.ivf_ingest import _assign

    batch = spark.createDataFrame(
        [(0, [0.0, 0.0], 0)], "vec_id bigint, embedding array<float>, label int"
    )
    cb = F.broadcast(
        spark.createDataFrame([(0, [0.0, 0.0])], "cell int, cv array<double>")
    )
    plan = _formatted(spark, _assign(batch, cb, dim=2))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert _n_nodes(plan, "BroadcastNestedLoopJoin") == 1  # k-row codebook
    assert (
        _n_nodes(plan, "SortMergeJoin") + _n_nodes(plan, "ShuffledHashJoin")
        + _n_nodes(plan, "BroadcastHashJoin") == 0
    )
    # struct-min plans as SortAggregate (structs aren't hash-aggregable);
    # what matters for scale is the MAP-SIDE partial before the exchange
    # (every vec_id group is exactly k rows, so there is no skew to
    # split — the sort is local on unique keys)
    assert _n_nodes(plan, "SortAggregate") == 2
    assert "partial_min" in plan


def test_decontam_semantic_plan(spark, sf_dir):
    """decontam_semantic_audit scale contract: the only join is the
    DELIBERATE broadcast cross of the (small, benchmark-suite-sized)
    eval side onto the one linear train-corpus pass — no corpus
    self-join shape, no shuffle join, nothing drops to Python."""
    plan = _formatted(spark, QUERIES["decontam_semantic_audit"](spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert _n_nodes(plan, "BroadcastNestedLoopJoin") == 1
    assert (
        _n_nodes(plan, "SortMergeJoin") + _n_nodes(plan, "ShuffledHashJoin")
        + _n_nodes(plan, "BroadcastHashJoin") == 0
    )


def test_mannwhitney_single_fact_scan(spark, sf_dir):
    """mannwhitney_price_shift (r15): the tie term folds from the SAME
    rank pass via sum_rows(c^2-1) = sum_prices(c^3-c) — the kruskal
    identity — so exactly ONE orders scan appears in the plan (the
    former separate ties frame re-scanned the fact and broadcast-cross
    joined it back); the rank window is the documented total-sort
    cost."""
    plan = _formatted(spark, QUERIES["mannwhitney_price_shift"](spark, sf_dir))
    assert _n_nodes(plan, "Scan parquet") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_spearman_single_pipeline_eval(spark, sf_dir):
    """spearman_rank_corr (r15): both output rows come from ONE
    evaluation of the moment aggregate (explode over a 2-struct array)
    — the former unionAll of two selects duplicated the whole
    rank-window pipeline, so the fact was scanned (and the global sorts
    paid) twice per run. Exactly ONE lineitem scan, no Union."""
    plan = _formatted(spark, QUERIES["spearman_rank_corr"](spark, sf_dir))
    assert _n_nodes(plan, "Scan parquet") == 1
    assert _n_nodes(plan, "Union") == 0
    assert "BatchEvalPython" not in plan


def test_acf_single_fact_scan(spark, sf_dir):
    """acf_daily_revenue (r15): the |days|-row daily spine and the
    centered spine are cached, so the denominator fold and both sides
    of the 7-lag join read the cache — the fact groupBy (and the
    d0/mean broadcasts nested in its lineage) planned TWELVE orders
    scans before; exactly one now."""
    plan = _formatted(spark, QUERIES["acf_daily_revenue"](spark, sf_dir))
    import re

    scans = re.findall(r"^Location: \S+ ?\[file:[^\]]*orders[^\]]*\]", plan, re.M)
    assert len(scans) == 1, f"expected 1 orders scan, got {len(scans)}"


def test_isotonic_bounded_scans(spark, sf_dir):
    """isotonic_calibration (r15): the B-row bin aggregate is cached,
    so the i/j/k spine branches and the final join reuse it — the
    scoring pass planned EIGHT embeddings scans before; two now (the
    min/max boundary pass stays a separate pruned scan rather than
    caching the corpus-sized scored frame)."""
    plan = _formatted(spark, QUERIES["isotonic_calibration"](spark, sf_dir))
    import re

    scans = re.findall(
        r"^Location: \S+ ?\[file:[^\]]*embeddings[^\]]*\]", plan, re.M
    )
    assert len(scans) <= 2, f"expected <=2 embeddings scans, got {len(scans)}"


@pytest.mark.parametrize(
    "name,table,max_scans",
    [
        # r15 duplicated-subtree fixes: a tiny shared frame (daily
        # spine, per-customer lifetime, bin/centroid aggregate, 2-col
        # projection) is cached, so broadcast aggregates nested in its
        # consumers' lineage no longer re-run the fact scan
        ("pinball_quantile_eval", "orders", 1),
        ("kendall_tau_trend", "orders", 1),
        ("theilsen_revenue_trend", "orders", 1),
        ("runs_test_randomness", "orders", 1),
        ("weekday_seasonality_strength", "orders", 1),
        ("seasonal_naive_mase", "orders", 1),
        ("ols_revenue_trend", "orders", 1),
        # r16: the customer/part-sized caches were dropped (their fill
        # barriers cost more than the pruned scan they saved — VERDICT
        # r15 items 1-2); the second scan in each is a column-pruned
        # partial-aggregate scan with no shuffle (observation-end max /
        # span min-max / clean-name vocab), which is the cheaper trade
        # at every scale.
        ("kaplan_meier_churn", "orders", 2),
        ("logrank_survival_test", "orders", 2),
        ("priority_multiset_diff", "orders", 1),
        ("poisson_dispersion_check", "events", 2),
        ("embedding_centroid_drift", "embeddings", 2),
        ("fuzzy_match_stats", "part", 2),
    ],
)
def test_r15_scan_diet(spark, sf_dir, name, table, max_scans):
    """r15 plan-audit scan diet: each fixed query reads its fact table
    at most `max_scans` times (plan audit counted 2-12 before)."""
    import re

    plan = _formatted(spark, QUERIES[name](spark, sf_dir))
    scans = re.findall(
        rf"^Location: \S+ ?\[file:[^\]]*/{table}\.parquet[^\]]*\]", plan, re.M
    )
    assert len(scans) <= max_scans, (
        f"{name}: expected <={max_scans} {table} scans, got {len(scans)}"
    )


def test_rank_switch_sizes_a_file_uri_corpus(spark, sf_dir, monkeypatch):
    """The rank switch sizes the scanned table with Spark's own estimate,
    so a ``file://`` corpus whose table is just above the threshold
    plans the prefix form (a local-path probe saw 0 bytes off-box and
    kept the window form)."""
    import os

    from bigdata_imgprocessing_spark.operators import ranks

    size = os.path.getsize(f"{sf_dir}/orders.parquet")
    monkeypatch.setattr(ranks, "PREFIX_BYTES", size - 1)
    df = QUERIES["mannwhitney_price_shift"](
        spark, "file://" + os.path.abspath(sf_dir)
    )
    assert "rank(" not in _formatted(spark, df)


@pytest.mark.parametrize(
    "name",
    [
        "mannwhitney_price_shift",
        "kruskal_wallis_price",
        "spearman_rank_corr",
        "roc_auc_eval",
    ],
)
def test_rank_prefix_forms_match(spark, sf_dir, name, monkeypatch):
    """The rank size switch (operators/ranks.py): below the
    scanned-bytes crossover the monitors plan the window form (global
    rank — fastest at test SFs); forcing the threshold to 0 switches
    the SAME query to the bucketed-prefix form, whose plan contains NO
    rank() window anywhere (no data-sized single partition), and whose
    output rows are EXACTLY equal — the doubled-rank identity keeps
    every statistic an exact integer expression in both forms."""
    from bigdata_imgprocessing_spark.operators import ranks

    win_df = QUERIES[name](spark, sf_dir)
    win_plan = _formatted(spark, win_df)
    assert "rank(" in win_plan, f"{name}: expected window form below threshold"
    win_rows = sorted(map(tuple, win_df.collect()))

    monkeypatch.setattr(ranks, "PREFIX_BYTES", 0)
    pre_df = QUERIES[name](spark, sf_dir)
    pre_plan = _formatted(spark, pre_df)
    assert "rank(" not in pre_plan, (
        f"{name}: prefix form must not plan a rank() window"
    )
    pre_rows = sorted(map(tuple, pre_df.collect()))
    assert win_rows == pre_rows, f"{name}: forms disagree"
