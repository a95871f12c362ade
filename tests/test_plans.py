"""Plan-shape regression tests: pin the physical-plan properties the
100 TB design depends on (docs/SCALE.md). A change that silently turns a
broadcast join into a shuffle, or un-pushes a filter, fails here long
before it shows up as an sf0.1 bench regression.
"""

from __future__ import annotations

import re

from flinkstreametl_spark.plans import REGISTRY


def _physical(spark, name, sf_dir) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(spark, name, sf_dir) -> str:
    """explain('formatted') text — unlike executedPlan().toString(), it
    prints PushedFilters/ReadSchema untruncated per scan node."""
    df = REGISTRY[name].fn(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_flagship_no_shuffle(spark, sf_dir):
    """flagship_enrich: all dims broadcast — the fact side must reach
    the sink with ZERO shuffle exchanges."""
    plan = _physical(spark, "flagship_enrich", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan, plan


def test_q1_single_exchange(spark, sf_dir):
    """q1: partial agg -> ONE exchange on the group keys -> final agg."""
    plan = _physical(spark, "q1_pricing_summary", sf_dir)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_q6_filters_pushed(spark, sf_dir):
    """q6: shipdate/discount/quantity predicates reach the parquet scan."""
    plan = _formatted(spark, "q6_forecast_revenue", sf_dir)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    pushed = m.group(1)
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in pushed, f"{frag} not pushed: {pushed}"


def test_q19_disjunction_pushed_to_part_scan(spark, sf_dir):
    """q19: Catalyst must derive per-side filters from the OR of
    conjunct groups (p_brand IN (...) on the part scan, the quantity
    envelope on the lineitem scan)."""
    plan = _formatted(spark, "q19_disjunctive_predicate", sf_dir)
    assert re.search(r"PushedFilters: \[[^\]]*p_brand[^\]]*\]", plan), plan
    assert re.search(r"PushedFilters: \[[^\]]*l_quantity[^\]]*\]", plan), plan


def test_topk_is_take_ordered(spark, sf_dir):
    """top-k queries must plan as TakeOrderedAndProject (per-partition
    heaps), never a global Sort."""
    plan = _physical(spark, "topk_orders", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan


def test_window_topk_group_limit_pushdown(spark, sf_dir):
    """ranking-window top-k uses WindowGroupLimit so per-group sorts
    stop at rank k instead of sorting whole groups."""
    plan = _physical(spark, "window_rank_top3", sf_dir)
    assert "WindowGroupLimit" in plan, plan


def test_semi_anti_join_operators(spark, sf_dir):
    """semi/anti queries plan as real LeftSemi/LeftAnti joins (no row
    multiplication), broadcast where the filter side is small."""
    semi = _physical(spark, "semi_join_with_orders", sf_dir)
    anti = _physical(spark, "anti_join_no_orders", sf_dir)
    assert "LeftSemi" in semi, semi
    assert "LeftAnti" in anti, anti


def test_column_pruning_reaches_scan(spark, sf_dir):
    """2-column projection over lineitem must read only those columns
    (+ filter columns) from parquet, not all 11."""
    from pyspark.sql import functions as F

    from flinkstreametl_spark.sources.parquet import load_table

    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_chunk_documents_no_shuffle(spark, sf_dir):
    """Chunking is a scan + generator: any Exchange means the explode
    was planned on the wrong side of a shuffle."""
    plan = _physical(spark, "chunk_documents", sf_dir)
    assert "Generate explode" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_q12_shipdate_pushed(spark, sf_dir):
    """q12: the shipdate year-range must reach the lineitem scan."""
    plan = _formatted(spark, "q12_priority_shipping_counts", sf_dir)
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", plan), plan


def test_histogram_single_exchange(spark, sf_dir):
    """Fixed-width histogram: map-side binning, one exchange on |bins|."""
    plan = _physical(spark, "histogram_totalprice", sf_dir)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_q20_semi_join_planned(spark, sf_dir):
    """q20's nested IN must plan as a semi join (no row duplication)."""
    plan = _physical(spark, "q20_excess_suppliers", sf_dir)
    assert "LeftSemi" in plan, plan


def test_unpivot_is_expand(spark, sf_dir):
    """unpivot must be one Expand over one scan, not a self-union."""
    plan = _physical(spark, "unpivot_part_measures", sf_dir)
    assert "Expand" in plan, plan
    assert len(re.findall(r"Scan parquet", plan)) == 1, plan


def test_range_join_is_equi_join(spark, sf_dir):
    """range_join_error_context: the bucketed decomposition must plan as
    a hash/sort-merge EQUI-join on (user_id, bucket) — never a
    CartesianProduct or BroadcastNestedLoopJoin, which is what the
    naive |Δt| <= 5min inequality join degenerates to."""
    plan = _physical(spark, "range_join_error_context", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_temperature_mix_no_fact_shuffle(spark, sf_dir):
    """temperature_mix_sample: the rates side is a tiny broadcast; the
    documents scan must reach the filter with no Exchange on the fact
    side (the only exchanges belong to the per-language aggregate)."""
    plan = _physical(spark, "temperature_mix_sample", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """weighted_sample_topk: global top-100 by priority must plan as
    TakeOrderedAndProject (per-partition heap + merge), never a full
    sort of the corpus."""
    plan = _physical(spark, "weighted_sample_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan or "global=true" not in plan


def test_quota_sample_group_limit_pushdown(spark, sf_dir):
    """quota_sample_per_lang: the rk <= 20 filter must push into a
    WindowGroupLimit so each partition keeps only its stratum top-20
    before the exchange."""
    plan = _physical(spark, "quota_sample_per_lang", sf_dir)
    assert "WindowGroupLimit" in plan


def test_fuzzy_dup_parts_blocked_equi_join(spark, sf_dir):
    """fuzzy_dup_parts: the candidate join must be an equi-join on the
    blocking keys (brand, last-token), never a cross join; the
    levenshtein metric runs post-join on candidates only."""
    plan = _physical(spark, "fuzzy_dup_parts", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_dup_span_ladder_single_window_pass(spark, sf_dir):
    """dup_span_ladder: all four rung window sets must come from ONE
    documents scan (flattened per-rung transforms), not a per-rung
    union of scans."""
    plan = _physical(spark, "dup_span_ladder", sf_dir)
    assert len(re.findall(r"Scan parquet", plan)) <= 2, plan  # h-side + final doc_id join


def test_ngram_jaccard_id_bucket_in_join_key(spark, sf_dir):
    """ngram_jaccard_pairs: the id-distance band must be part of the
    equi-join key (lang, source, id_bucket), not only a post-join
    filter — candidates per (lang, source) block stay linear in block
    size instead of O(block²)."""
    plan = _physical(spark, "ngram_jaccard_pairs", sf_dir)
    assert "CartesianProduct" not in plan
    assert "id_bucket" in plan, plan
    # the join node itself must key on id_bucket (hashpartitioning or
    # broadcast HashedRelation keys include it)
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln and "id_bucket" in ln]
    assert join_lines, plan


def test_gopher_gate_single_exchange(spark, sf_dir):
    """gopher_quality_gate: the (doc_id, tok) aggregate and the per-doc
    aggregate must share ONE exchange (doc_id is a prefix of the first
    grouping key, so Catalyst reuses the partitioning)."""
    plan = _physical(spark, "gopher_quality_gate", sf_dir)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2, plan
    assert "CartesianProduct" not in plan


def test_mad_single_fact_shuffle(spark, sf_dir):
    """mad_robust_price: stacked windows + final aggregate all share
    the o_orderpriority partitioning — the orders fact must shuffle
    exactly once, with no join in the plan."""
    plan = _physical(spark, "mad_robust_price", sf_dir)
    assert "Join" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning\(o_orderpriority", plan)) == 1, plan


def test_zscore_tail_broadcast_moments(spark, sf_dir):
    """zscore_tail_events: the 5 moment rows broadcast back over the
    events fact — the fact side itself must not shuffle."""
    plan = _physical(spark, "zscore_tail_events", sf_dir)
    assert "BroadcastHashJoin" in plan, plan


def test_asof_tolerance_no_extra_exchange(spark, sf_dir):
    """asof_tolerance_enrich: the staleness bound is a post-window
    predicate — same exchange count as the plain as-of join."""
    base = _physical(spark, "asof_latest_order", sf_dir)
    tol = _physical(spark, "asof_tolerance_enrich", sf_dir)
    n = lambda p: len(re.findall(r"Exchange", p))
    assert n(tol) <= n(base) + 0, (n(base), n(tol))


def test_mixture_weights_single_fact_exchange(spark, sf_dir):
    """mixture_weights_by_lang: the documents fact is scanned once and
    crosses ONE hash exchange (partial agg to the lang grain); the
    1-row total joins back via broadcast, never a second fact pass."""
    plan = _physical(spark, "mixture_weights_by_lang", sf_dir)
    # ONE corpus scan (the tokenize cost), one hash exchange to the
    # lang grain; the normalizing total is a global window whose
    # single-partition exchange carries one row per language
    assert plan.count("Scan parquet") == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "Window" in plan and "SinglePartition" in plan, plan


def test_context_length_curve_single_fact_exchange(spark, sf_dir):
    """context_length_waste_curve: one documents scan (the tokenize is
    evaluated once per doc), the 4-row length table broadcasts, and the
    curve aggregate crosses ONE exchange on ctx_len."""
    plan = _physical(spark, "context_length_waste_curve", sf_dir)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_ivf_kmeans_curve_probe_side_broadcast(spark, sf_dir):
    """ivf_kmeans_recall_curve: after the Lloyd fit, the serving-path
    joins keep the parameter sides broadcast — the (query x centroid)
    probe table and the nprobe slice table must reach the candidate
    stream as BroadcastExchanges, and the scored candidate set is
    localCheckpoint-pinned (scored once, sliced five times)."""
    plan = _physical(spark, "ivf_kmeans_recall_curve", sf_dir)
    assert "BroadcastExchange" in plan, plan
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan


def test_split_leakage_two_scans_window_on_gram_hash(spark, sf_dir):
    """split_leakage_audit: the corpus is scanned exactly twice (the
    gram explode and the cheap per-split totals) — the window-over-gh
    rewrite exists precisely so the exploded grams are NOT scanned a
    second time for a train-set semi-join. Leak marking must be a
    Window over the gram hash, and no join may degenerate to a
    cartesian/BNL product."""
    plan = _physical(spark, "split_leakage_audit", sf_dir)
    assert plan.count("Scan parquet") == 2, plan
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_domain_signature_pinned_grain_and_broadcast_totals(spark, sf_dir):
    """domain_signature_terms: the (source, term) grain is
    localCheckpoint-pinned (its three consumers must NOT replay the
    token explode — zero parquet scans in the final plan), the
    source/global totals reach the grain as broadcasts, and the top-5
    ranking is a group-limit window (rk <= 5 pushed below the sort)."""
    plan = _physical(spark, "domain_signature_terms", sf_dir)
    assert plan.count("Scan parquet") == 0, plan
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "WindowGroupLimit" in plan, plan


def test_textrank_loop_inputs_pinned(spark, sf_dir):
    """textrank_keywords: the edge list and node set feed the 5-round
    iteration loop and must be pinned — unpinned, each iteration
    replayed the document tokenize + pair explode from the scan up (22
    parquet scans of documents in the pre-round-6-wave-3 plan). The
    final plan must read ExistingRDD only and end in TakeOrdered."""
    plan = _physical(spark, "textrank_keywords", sf_dir)
    assert plan.count("Scan parquet") == 0, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_pagerank_topk_is_take_ordered(spark, sf_dir):
    """pagerank_copurchase: the edge-list derivation is pinned behind
    the adjacency checkpoint (no parquet scan in the iteration plan)
    and the final top-20 is a distributed TakeOrdered, never a global
    sort materialization of |V| ranks."""
    plan = _physical(spark, "pagerank_copurchase", sf_dir)
    assert plan.count("Scan parquet") == 0, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_token_balanced_shards_two_phase_prefix_sum(spark, sf_dir):
    """token_balanced_shards: the doc-scale windowed frame is pinned
    (final plan reads ExistingRDD, no parquet re-scan), the bucket
    offset table joins back by BROADCAST, and the only unpartitioned
    window in the plan runs over the parameter-sized offsets frame —
    the doc-scale running sum must stay partitioned by bucket."""
    plan = _physical(spark, "token_balanced_shards", sf_dir)
    assert plan.count("Scan parquet") == 0, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastExchange" in plan, plan
    # Exactly one single-partition exchange: the 64-row offsets frame.
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_pq_adc_recall_single_pinned_scan(spark, sf_dir):
    """pq_adc_recall: the embedding table is pinned once for its four
    consumers — the final plan must read ExistingRDD only, never
    re-scan the embedding parquet per consumer."""
    plan = _physical(spark, "pq_adc_recall", sf_dir)
    assert plan.count("Scan parquet") == 0, plan
    assert "Scan ExistingRDD" in plan, plan


def test_dedup_audits_all_joins_are_equi(spark, sf_dir):
    """The two dedup audit queries run entirely on equi-joins (banded /
    bucketed / key-aligned) — a cartesian or BNL product anywhere means
    a blocking key was silently dropped."""
    for name in ("lsh_precision_recall_audit", "dedup_method_agreement"):
        plan = _physical(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_cluster_safe_split_pins_pairs_and_zero_leak(spark, sf_dir):
    """cluster_safe_split: the LSH pair set is localCheckpoint-pinned
    (it feeds clustering AND the cross-split check — the banded join
    must not run twice, so the final plan reads ExistingRDD, and the
    one-row cross count broadcasts onto the per-split rows). Also the
    semantic guarantee itself: zero cross-split pairs."""
    plan = _physical(spark, "cluster_safe_split", sf_dir)
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastExchange" in plan, plan
    rows = REGISTRY["cluster_safe_split"].fn(spark, sf_dir).collect()
    assert rows and all(r.n_cross_pairs == 0 for r in rows)


def test_fertility_broadcasts_vocab_single_corpus_scan(spark, sf_dir):
    """tokenizer_fertility_by_lang: the trained (word -> n_syms) map is
    checkpoint-backed and BROADCASTS onto exactly one corpus token
    explode (one parquet scan) — encoding never re-scans text."""
    plan = _physical(spark, "tokenizer_fertility_by_lang", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert "BroadcastExchange" in plan, plan


def test_split_representativeness_single_scan_grain_windows(spark, sf_dir):
    """split_representativeness_audit: one scan, one hash exchange to
    the (split, label) grain; the share windows run on that
    parameter-sized grain (the SinglePartition window is 3x|labels|
    rows by construction, not a data-path hazard)."""
    plan = _physical(spark, "split_representativeness_audit", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3, plan


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _broadcast_inputs(plan: str) -> list[list[str]]:
    """Per BroadcastExchange, the plan lines below it that feed rows
    into it: descendants, minus the inputs of any aggregate (an
    aggregate's output is bounded by its keys, not by its input)."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if not line.lstrip(" :+-").startswith("BroadcastExchange"):
            continue
        fed, folded_at = [], None
        for below in lines[i + 1 :]:
            depth = _depth(below)
            if depth <= _depth(line):
                break
            if folded_at is not None and depth > folded_at:
                continue
            folded_at = depth if "Aggregate" in below.lstrip(" :+-").split("(")[0] else None
            fed.append(below)
        out.append(fed)
    return out


def test_ivf_panel_is_broadcast_build_side(spark, sf_dir):
    """ann_ivf_topk (operators/similarity.ivf_topk): the probe panel —
    n_queries x nprobe rows — must be the BROADCAST side of the
    candidate join, with the corpus embedding scan streaming. Catalyst
    estimates the windowed-crossJoin panel as corpus-sized, so without
    the broadcast hint it builds (collects + broadcasts) the corpus.
    Invariant: no BroadcastExchange is fed by an embeddings scan other
    than the query-panel scan (vec_id < n_queries); the centroid scan
    is folded by its aggregate first."""
    plan = _physical(spark, "ann_ivf_topk", sf_dir)
    assert "SortMergeJoin" not in plan, plan
    inputs = _broadcast_inputs(plan)
    assert inputs, plan
    for fed in inputs:
        for line in fed:
            if "embeddings.parquet" in line:
                assert "LessThan(vec_id," in line, ("corpus embeddings scan under a BroadcastExchange", plan)


def test_recall_audit_tails_have_no_smj(spark, sf_dir):
    """The recall-audit tail joins (top-k vs exact truth, counts vs
    hits) move only panel x K rows; after the r15 broadcast hints none
    of these queries may plan a SortMergeJoin anywhere."""
    for name in (
        "ivf_recall_curve",
        "ivf_kmeans_recall_curve",
        "pq_adc_recall",
        "int8_knn_recall",
        "mrl_truncation_recall",
        "ann_index_staleness_audit",
    ):
        plan = _physical(spark, name, sf_dir)
        assert "SortMergeJoin" not in plan, (name, plan)


def test_cdc_ingest_parses_each_envelope_once(spark, tmp_path):
    """ingest_meeting_stream: one from_json per envelope, in a batch
    plan and in a streaming micro-batch. A Filter on the parsed fields
    is pushed under the parse, and each pushed field reference becomes
    its own from_json (six in all)."""
    from flinkstreametl_spark.operators.cdc import ingest_meeting_stream
    from flinkstreametl_spark.sources.cdc import read_cdc_file_batch, read_cdc_file_stream, write_golden_jsonl

    src = tmp_path / "in"
    src.mkdir()
    write_golden_jsonl(str(src / "canal.jsonl"))
    batch = ingest_meeting_stream(read_cdc_file_batch(spark, str(src)))
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert plan.count("from_json(") == 1, plan
    query = (
        ingest_meeting_stream(read_cdc_file_stream(spark, str(src)))
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        plan = query._jsq.explainInternal(False)
    finally:
        query.stop()
    assert plan.count("from_json(") == 1, plan


def test_upsert_merge_reads_each_input_once(spark, tmp_path):
    """KeyedParquetUpsertSink merging a micro-batch into a stored table:
    one scan of the micro-batch (its upstream parse and enrich run
    once), one scan of the stored table, one Exchange."""
    from flinkstreametl_spark.sources.cdc import write_golden_jsonl
    from flinkstreametl_spark.streaming.pipeline import run_cdc_stream
    from flinkstreametl_spark.streaming.sinks import KeyedParquetUpsertSink

    plans = []

    class Recorded(KeyedParquetUpsertSink):
        def _commit(self, merged, batch_id):
            plans.append(merged._jdf.queryExecution().executedPlan().toString())
            super()._commit(merged, batch_id)

    src = tmp_path / "in"
    src.mkdir()
    sink = Recorded(str(tmp_path / "t"), ["meeting_id"], ["_es", "_ts"])
    for name in ("a.jsonl", "b.jsonl"):  # b's micro-batch merges into the table a's made
        write_golden_jsonl(str(src / name))
        query = run_cdc_stream(spark, str(src), sink, str(tmp_path / "ckpt"), available_now=False)
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    assert len(plans) == 2, plans
    plan = plans[-1]
    assert plan.count("Scan ExistingRDD") == 1, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Exchange") == 1, plan


def test_hits_half_steps_broadcast_the_scores(spark, sf_dir, monkeypatch):
    """hits_order_part_scores: every pinned half-step broadcasts the
    node-scale score frame into the edge join, so the edge list is never
    shuffled. Auto-broadcast is off, so the plan shows the hint and not
    the small sf0.001 statistics."""
    from flinkstreametl_spark.plans import graph_ext

    pinned, real_pin = [], graph_ext.pin

    def recording_pin(df, **kw):
        out = real_pin(df, **kw)
        pinned.append(df._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(graph_ext, "pin", recording_pin)
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        REGISTRY["hits_order_part_scores"].fn(spark, sf_dir)
    finally:
        spark.conf.set(key, before)
    half_steps = pinned[1:]  # the first pin is the distinct edge list
    assert len(half_steps) == 2 * graph_ext._HITS_ITERS, pinned
    for plan in half_steps:
        assert "SortMergeJoin" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan


def test_dump_plans_masks_run_to_run_ids():
    """``tools/dump_plans.py`` masks every id that differs between two
    builds of one tree, and nothing else, so a plan diff between two
    trees shows only real plan changes."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "dump_plans.py")
    spec = importlib.util.spec_from_file_location("_dump_plans", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)

    a = (
        "Output [2]: [vec_id#12L, pythonUDF0#47[0] AS cluster#48L], [plan_id=128]\n"
        "Arguments: [doc_id#33L], MapPartitionsRDD[20] at localCheckpoint at <unknown>:0, ExistingRDD\n"
        "lambdafunction(FLOOR(((lambda x_7#91 * lambda y_8#92) * 2^40)), lambda x_7#91, lambda y_8#92)"
    )
    b = (
        "Output [2]: [vec_id#3L, pythonUDF0#9[0] AS cluster#10L], [plan_id=5]\n"
        "Arguments: [doc_id#1L], MapPartitionsRDD[2] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD\n"
        "lambdafunction(FLOOR(((lambda x_1#2 * lambda y_2#3) * 2^40)), lambda x_1#2, lambda y_2#3)"
    )
    assert tool.mask(a) == tool.mask(b)
    assert "AS cluster#NL" in tool.mask(a) and "MapPartitionsRDD[N]" in tool.mask(a)
    assert tool.mask(a.replace("cluster", "code")) != tool.mask(b)
