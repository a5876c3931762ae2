"""Physical-plan assertions: the properties that decide whether a query
survives a 100×/1000× scale-up.  These lock in the plan shapes reviewed
with .explain — a regression that drops a pushdown or a broadcast fails
here long before it shows up as a 100 TB incident."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod

_QUERIES = entrymod.queries()


def _df_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _plan(spark, sf_dir, name) -> str:
    return _df_plan(_QUERIES[name](spark, sf_dir))


def _hash_exchange_keys(plan: str, mode: str = "[A-Z_]+") -> list[str]:
    """Keys of every hashpartitioning exchange whose shuffle origin
    matches ``mode``, expression ids and the partition count stripped."""
    keys = []
    pat = rf"Arguments: hashpartitioning\(([^)]*)\), {mode},"
    for m in re.findall(pat, plan):
        args = re.sub(r"#\d+L?", "", m).split(", ")
        if args[-1].isdigit():  # the partition count, not a key
            args.pop()
        keys.append(", ".join(args))
    return keys


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 7 needed columns, not all 11
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "HashAggregate" in plan  # partial+final map-side combine


def test_q5_dimensions_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_local_supplier_volume")
    # supplier/customer/nation/region all broadcast: ≥4 broadcast joins
    assert plan.count("BroadcastHashJoin") >= 4
    # and the date filter reaches the orders scan
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_q6_single_scan_no_join_no_shuffle_agg_input(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    assert "Join" not in plan
    assert "PushedFilters" in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" in read and "l_returnflag" not in read


def test_unicode_profile_is_one_scan_one_fanout_projection(spark, sf_dir):
    # 7 regexp class counts must stay ONE pruned scan + the deliberate
    # fan_out exchange + ONE codegen projection — a refactor that turns
    # the census into per-class passes or a join fails here
    plan = _plan(spark, sf_dir, "text_unicode_profile")
    # formatted plans print each node twice (tree line + detail section)
    assert plan.count("Scan parquet") == 2, plan[:800]
    assert plan.count("Exchange") == 2  # fan_out only
    assert "Join" not in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in read and "source" not in read  # pruned to 2 cols


def test_sort_limit_is_top_k_not_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sort_limit_top_lineitems")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_semi_anti_join_forms(spark, sf_dir):
    semi = _plan(spark, sf_dir, "semi_join_big_orders")
    anti = _plan(spark, sf_dir, "anti_join_idle_customers")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_knn_broadcasts_query_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "knn_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_minhash_has_no_cartesian_product(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan


def test_whole_stage_codegen_on_scan_heavy_query(spark, sf_dir):
    df = _QUERIES["q1_pricing_summary"](spark, sf_dir)
    df.collect()  # finalize the adaptive plan
    final = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "isFinalPlan=true" in final
    # '*(n)' prefixes mark WholeStageCodegen stages in simple explain mode
    assert "*(1)" in final, "scan/filter/partial-agg stage not codegen'd"


def test_q9_all_dims_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q9_product_profit")
    # part, supplier, nation all broadcast; the name filter reaches the scan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "Exchange hashpartitioning" not in plan.split("HashAggregate")[0]
    assert "StringContains(p_name,widget)" in plan.replace(" ", "")


def test_q21_self_joins_stay_equi_hash(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q21_waiting_suppliers")
    # EXISTS/NOT EXISTS self-joins must plan as equi semi/anti joins on
    # l_orderkey (hashable), never nested-loop over the fact table
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q17_decorrelated_avg_is_single_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q17_small_quantity")
    # the correlated AVG is decorrelated into one grouped subquery joined
    # back broadcast — a bounded number of scans (lineitem ≤3: main +
    # scoped avg + its semi-join; part ≤2), never a per-part rescan
    # (formatted explain prints every scan node twice: tree + detail)
    assert plan.count("Scan parquet") <= 10
    assert "CartesianProduct" not in plan


def test_sampling_predicate_is_scan_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sample_deterministic")
    # hash-sampling must be a pure filter projection: no shuffle at all
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_percentiles_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_percentiles")
    # one hash-partitioning exchange on the group key, nothing else
    assert plan.count("Exchange hashpartitioning") <= 1


def test_interval_join_is_hash_not_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_interval_join_binned")
    # the binned rewrite must produce a keyed equi-join on bucket — never
    # the nested-loop theta join Spark would plan for the raw interval
    # predicate
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_burst_detection_windows_are_day_sharded(spark, sf_dir):
    """No events-scale single-partition stage: the lag and cumulative-count
    windows over the error stream must be PARTITIONED BY day; the only
    unpartitioned window allowed is the day-offset prefix sum, which runs
    over the per-day aggregate (#days rows, not #errors rows).

    The marked subtree sits behind a checkpoint in the full query, so
    its windows are asserted on the subtree's own plan; the full query's
    plan is checked for any further unpartitioned windows."""
    from streaming_amqp_spark.plans.events import _burst_marked

    marked_plan = (
        _burst_marked(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    n_windows = 0
    for line in marked_plan.splitlines():
        s = line.strip().lstrip(":+- ")
        if s.startswith("Window ["):
            n_windows += 1
            assert "windowspecdefinition(day#" in s, f"global window: {s[:200]}"
    assert n_windows >= 2  # the lag and the cumulative count

    df = _QUERIES["events_interval_join_binned"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        s = line.strip().lstrip(":+- ")
        if not s.startswith("Window ["):
            continue
        if "windowspecdefinition(day#" in s:
            continue  # day-partitioned: scales out
        # unpartitioned window — must be the prefix sum over per-day totals
        assert "sum(nb#" in s, f"unpartitioned events-scale window: {s[:200]}"


def test_chunking_is_shuffle_free(spark, sf_dir):
    """Sliding-window chunking must stay a pure scan-stage projection:
    at 100 TB it is a full scan and nothing more — any Exchange here
    means the operator re-materializes the corpus."""
    plan = _plan(spark, sf_dir, "text_chunk_sliding")
    assert "Exchange" not in plan


def test_cdc_chunking_is_shuffle_free(spark, sf_dir):
    """Content-defined chunking is a per-row fold: like the stride
    chunker, any Exchange means the operator re-materializes the corpus."""
    plan = _plan(spark, sf_dir, "text_chunk_cdc")
    assert "Exchange" not in plan


def test_quantization_is_shuffle_free(spark, sf_dir):
    """int8 quantization is a per-row array expression: quantizing 100 TB
    of embeddings must be exactly a scan, never a re-materialization."""
    plan = _plan(spark, sf_dir, "embedding_quantize_int8")
    assert "Exchange" not in plan


def test_zscore_anomaly_broadcasts_stats(spark, sf_dir):
    """The per-type stats table is |event_type| rows; the events corpus
    must stream map-side through a broadcast join for the flagging pass,
    never shuffle on event_type twice."""
    plan = _plan(spark, sf_dir, "events_zscore_anomaly")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_corpus_pass_counts_are_pinned(spark, sf_dir):
    """Multi-stage text operators must not silently grow extra corpus
    scans: unigram-logprob is two-pass by design (counts + scoring),
    tf-idf is two explode passes plus one metadata-only count(*) scan,
    chunk-level dedup is one pass.  An extra scan+explode subtree
    doubles the dominant cost at 100 TB (caught once by review — pinned
    so it can't come back)."""
    for name, max_scans in [
        ("text_tfidf_topk", 3),  # 2 explode passes + count-only scan
        ("text_unigram_logprob", 2),
        ("dedup_chunk_cdc", 1),
    ]:
        plan = _QUERIES[name](spark, sf_dir)._jdf.queryExecution()
        n = plan.executedPlan().toString().count("Scan parquet")
        assert n <= max_scans, f"{name}: {n} scans (max {max_scans})"


def test_stratified_sample_broadcasts_rate_table(spark, sf_dir):
    """The per-stratum rate table is |strata| rows; the corpus must join
    it map-side, never shuffle on the stratum key."""
    plan = _plan(spark, sf_dir, "sample_stratified_balanced")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_contamination_broadcasts_eval_side(spark, sf_dir):
    """The eval/benchmark side is small by construction; the train corpus
    must stream map-side through a broadcast hash join, never shuffle on
    the shingle key."""
    plan = _plan(spark, sf_dir, "contamination_check")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pq_adc_encoding_is_map_side(spark, sf_dir):
    """PQ: codebook and query distance table broadcast; corpus encoding
    is a pure projection over the (conditionally fanned-out) scan.  The
    data-bearing shuffles are bounded by three hashpartitioning
    exchanges: the narrow-input fan-out feeding the encode (fires
    only when scan splits < cores — a no-op at real scale, see
    tables.fan_out), the (query, vector) distance sum (with
    map-side partial agg), and the per-query top-k window — which must
    carry the WindowGroupLimit pushdown so executors emit k rows, not
    all N."""
    plan = _plan(spark, sf_dir, "ann_pq_adc")
    assert "BroadcastHashJoin" in plan
    # ADVICE r15: pin the KEYS of every exchange, not just a count — a
    # regression that swapped the map-side partial-agg shape for a
    # different 3-exchange plan used to pass the <=3 check.
    keys = sorted(_hash_exchange_keys(plan))
    fanned = "REPARTITION_BY_NUM" in plan
    expected = sorted(
        (["vec_id"] if fanned else []) + ["query_id, vec_id", "query_id"]
    )
    assert keys == expected, keys
    assert "partial_sum" in plan
    assert "WindowGroupLimit" in plan


def test_whatif_grid_is_one_scan(spark, sf_dir):
    """All 9 (discount-band, qty-cap) scenarios must come from ONE
    lineitem scan (conditional aggregation), not a scan per cell."""
    plan = _plan(spark, sf_dir, "q6_whatif_grid")
    # formatted explain prints each node twice (tree + detail section):
    # ONE physical scan == exactly 2 string occurrences
    assert plan.count("Scan parquet") == 2
    assert "HashAggregate" in plan


def test_rolling_dau_has_no_nested_loop_join(spark, sf_dir):
    """The 7-day window fan-out must be an exploded sequence + hash
    join, never a range join that plans as BroadcastNestedLoopJoin
    (user-days x |days| comparisons)."""
    plan = _plan(spark, sf_dir, "events_rolling_dau_7d")
    assert "BroadcastNestedLoopJoin" not in plan


def test_tiny_aggregate_reuse_is_cached(spark, sf_dir):
    """Operators whose docstrings promise a bounded number of corpus
    scans must actually materialize the tiny aggregates every branch
    re-references — without that Catalyst re-derives them from the raw
    table per branch (7 scans for MAD, 4 for the mixture — caught in
    review).  MAD and the mixture are one query each, so their
    aggregates are per-query checkpoints read at every reference; the
    scrub chunks are a session cache."""
    # query -> {checkpointed relation's columns: references in the plan}
    checkpointed = {
        "events_mad_anomaly": {
            "event_type,median_value,n_events": 2,
            "event_type,mad_value": 2,
        },
        "mixture_sqrt_temperature": {"source,n_docs,src_tokens": 4},
    }
    for name, relations in checkpointed.items():
        df = _QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = [
            re.sub(r"#\d+L?", "", cols)
            for cols in re.findall(r"Scan ExistingRDD\[([^\]]*)\]", plan)
        ]
        for cols, n in relations.items():
            assert scans.count(cols) == n, f"{name} lost {cols}: {plan[:900]}"
    df = _QUERIES["text_scrub_dup_chunks"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, "text_scrub_dup_chunks lost its cache"


def test_minhash_band_relation_is_cached(spark, sf_dir):
    """dedup_minhash_lsh references the banded+stats relation three times
    (both cold self-join sides + the hot star branch); without the
    `_shared_band_stats` session cache Catalyst re-derives the
    minhash/band projection per reference — a measured 4x regression at
    sf0.1 (r7).  The executed plan must read the STATS-CARRYING cache
    (output includes bsz/hub — a bare InMemoryTableScan count would be
    satisfied by the shingle cache alone, which the pre-fix plan already
    read 4x; review-caught) at all three candidate-phase references, and
    never fall back to a cartesian candidate phase."""
    df = _QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    stats_scans = re.findall(r"InMemoryTableScan \[[^\]]*\bbsz\b", plan)
    assert len(stats_scans) >= 3, plan[:900]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _cached(df):
    """The InMemoryRelation the session's cache manager holds for ``df``."""
    cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    hit = cm.lookupCachedData(df._jdf)
    assert hit.isDefined(), "relation is not cached"
    return hit.get().cachedRepresentation()


def _buffers_id(relation) -> int:
    return relation.cacheBuilder().cachedColumnBuffers().id()


def _cache_reads(plan) -> list[int]:
    """Buffer ids of the cached relations that the InMemoryTableScans of
    the physical ``plan`` read, walking into cached plans and executed
    adaptive query stages too, so a cache read inside another cache's
    build counts."""
    ids, todo = [], [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "InMemoryTableScan":
            ids.append(_buffers_id(node.relation()))
        elif name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        for seq in (node.children(), node.innerChildren()):
            it = seq.iterator()
            while it.hasNext():
                todo.append(it.next())
    return ids


def test_ivf_coarse_quantizer_is_one_cached_relation(
    spark, sf_dir, monkeypatch
):
    """The label centroids are the coarse quantizer at zero Lloyd
    iterations, session-cached once: Lloyd's plan (the trained entry's
    cached plan) reads that entry through InMemoryTableScan instead of
    a second label-mean corpus pass, ann_ivf_topk's plan reads it, and
    ann_ivf_topk and ann_two_stage_recall hand that same relation to
    the cosine probe (the two-stage probe sits inside a per-query
    checkpoint, so its plan cannot show the read)."""
    from streaming_amqp_spark.operators import similarity as S

    zero = S._ivf_centroids(spark, sf_dir)
    zero_id = _buffers_id(_cached(zero))
    trained = S._ivf_centroids(spark, sf_dir, S.IVF_KM_ITERS)
    assert _cache_reads(_cached(trained).cachedPlan()).count(zero_id) == 1

    probed = []
    real_probe = S._ivf_probe

    def probe(q, cent, nprobe=1):
        probed.append((nprobe, cent is zero))
        return real_probe(q, cent, nprobe)

    monkeypatch.setattr(S, "_ivf_probe", probe)
    topk = _QUERIES["ann_ivf_topk"](spark, sf_dir)
    assert zero_id in _cache_reads(topk._jdf.queryExecution().executedPlan())
    _QUERIES["ann_two_stage_recall"](spark, sf_dir)
    assert probed == [(1, True), (S.NPROBE, True)]


def test_simhash_relation_is_cached(spark, sf_dir):
    """dedup_simhash_hamming1 references the per-doc simhash relation four
    times (probe side, bucket stats, cold side + stats join — the two
    hamming lookups were folded into the pair phase in r15) and the
    bucket stats twice; `_shared_simhash` and the stats are materialized
    once per query and must serve every reference, or each one re-runs
    the full documents scan + fingerprint aggregation (review-caught in
    r7).  The stats are aggregated inside their own checkpoint, so the
    plan reads the per-doc relation twice and the stats twice, and never
    scans the corpus."""
    df = _QUERIES["dedup_simhash_hamming1"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    doc_scans = re.findall(r"Scan ExistingRDD\[doc_id#\d+L?,simhash#\d+\]", plan)
    stats_scans = re.findall(
        r"Scan ExistingRDD\[simhash#\d+,bsz#\d+L?,hub#\d+L?\]", plan
    )
    assert len(doc_scans) == 2 and len(stats_scans) == 2, plan[:900]
    assert "FileScan" not in plan, plan[:900]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_fuzzy_broadcasts_eval_bands(spark, sf_dir):
    """The eval-side band table is broadcast into the candidate join, so
    the training corpus's band rows never shuffle on the band key.
    Asserted on the band columns specifically — a bare 'some broadcast
    join exists' check would pass even with the hint removed, since AQE
    broadcasts other small sides at test scale (review-caught)."""
    plan = _plan(spark, sf_dir, "contamination_fuzzy")
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(band_idx" not in plan
    assert "hashpartitioning(band_hash" not in plan


_GLOBAL_WINDOW_ALLOWLIST = (
    # text_encode_tokens vocab ranking: |vocab| rows, bounded by VOCAB_SIZE
    "row_number() windowspecdefinition(df#",
    # burst-detection day-offset prefix sum: one row per day, not per event
    "sum(nb#",
    # unigram-logprob corpus total: |vocab| rows, saves a third corpus scan
    "sum(uni_n#",
    # mixture_token_budget: windows over the per-source aggregate
    # (|sources| rows at any corpus scale, never per-doc)
    "sum(src_tokens#",
    "sum(bud_base#",
    "windowspecdefinition(bud_rem#",
    # cumulative-distinct-users running sum: one row per DAY, not per event
    "sum(n_new_users#",
    # backlog sweep-line running sum: one row per DAY, not per order
    "sum(net_delta#",
    # vocab-growth running sum: 16 md5-slice rows, not per bigram
    "sum(n_new_bigrams#",
)


def _window_nodes(plan: str):
    for line in plan.splitlines():
        s = line.strip().lstrip(":+- ").lstrip("*(0123456789) ")
        if not s.startswith("Window ["):
            continue
        m = re.search(r"windowspecdefinition\((.*)", s)
        first_arg = m.group(1).split(",")[0] if m else ""
        partitioned = not (
            " ASC" in first_arg
            or " DESC" in first_arg
            or first_arg.startswith("specifiedwindowframe")
        )
        yield s, partitioned


def test_every_registered_window_is_partitioned_or_allowlisted(spark, sf_dir):
    """Sweep every registered query's executed plan: each Window node must
    be partitioned (scales out with its key) or match a named tiny-input
    allowlist entry.  A new unpartitioned window anywhere in the registry
    — the classic silent single-partition scale killer — fails here."""
    offenders = []
    for name, fn in _QUERIES.items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        for node, partitioned in _window_nodes(plan):
            if partitioned:
                continue
            if any(pat in node for pat in _GLOBAL_WINDOW_ALLOWLIST):
                continue
            offenders.append(f"{name}: {node[:160]}")
    assert not offenders, "unallowlisted global windows:\n" + "\n".join(offenders)


def test_no_driver_side_collects_in_engine_code():
    """Distributed discipline: no operator/plan module may materialize to
    the driver (.collect/.toPandas/.toLocalIterator) — results stay
    DataFrames for the caller.  Iterative algorithms may use counting
    actions (dedup_clusters' convergence check) but never row transfer."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "streaming_amqp_spark"
    banned = (".collect()", ".toPandas()", ".toLocalIterator()")
    offenders = []
    for py in root.rglob("*.py"):
        text = py.read_text()
        for b in banned:
            if b in text:
                offenders.append(f"{py.name}: {b}")
    assert not offenders, offenders


def test_examples_collect_only_driver_small_results():
    """Examples model cluster-ready code: .toPandas()/.toLocalIterator()
    are banned outright, and every .collect() must carry a '# driver-small'
    marker documenting why the result is bounded (an aggregate/summary) —
    an unmarked collect is a review flag for unbounded row transfer."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "examples"
    offenders = []
    for py in root.glob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if ".toPandas()" in line or ".toLocalIterator()" in line:
                offenders.append(f"{py.name}:{i}: banned driver materialization")
            elif ".collect()" in line and "driver-small" not in line:
                offenders.append(f"{py.name}:{i}: unmarked .collect()")
    assert not offenders, offenders


def test_scan_fused_round4b_operators_have_no_exchange(spark, sf_dir):
    """The zero-shuffle claims of the new per-row operators, pinned:
    gopher rules and L2-normalize must stay pure scan+project."""
    for name in ("text_gopher_rules", "embedding_l2_normalize"):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange" not in plan, f"{name} gained a shuffle:\n{plan[:800]}"


def test_profile_table_plan_shape(spark, sf_dir):
    """The r5 reform's claims, pinned (VERDICT r4 #2), tightened r16:
    - registered (exact-grounded) path: the whole-table profile pass
      must be a codegen HashAggregate — min/max over the two STRING
      columns used to force the entire 21-function pass into the
      interpreted SortAggregate fallback; they now ride the
      distinct-pairs side (r16).  The only SortAggregate allowed is the
      grouping-free string min/max whose input is the filtered
      distinct-ENUM rows (bounded at any scale), and no Sort node and
      no 6-way row Expand may appear anywhere.
    - sketch path (exact=False, the 100 TB plan): exactly ONE scan,
      no Expand, fixed-size HLL state."""
    from streaming_amqp_spark.plans.statistics import profile_table

    df = profile_table(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the one visible scan is the whole-table pass, and it must be a
    # HashAggregate (the pairs explode lives behind the distinct
    # checkpoint and runs once for counts + string min/max)
    assert plan.count("Scan parquet") == 1, plan[:800]
    assert "Expand" not in plan, plan[:800]
    assert "Sort [" not in plan, plan[:800]
    # whole-table pass: codegen HashAggregate, never SortAggregate
    whole_table = [
        ln
        for ln in plan.splitlines()
        if "Aggregate" in ln and "approx_count_distinct" in ln
    ]
    assert whole_table and all(
        "HashAggregate" in ln for ln in whole_table
    ), plan[:1200]
    # any remaining SortAggregate must be the grouping-free string
    # min/max over the distinct-enum rows (key=[]), nothing else
    for ln in plan.splitlines():
        if "SortAggregate" in ln:
            assert "key=[]" in ln and "CASE WHEN" in ln, ln

    sk = profile_table(spark, sf_dir, exact=False)
    skplan = sk._jdf.queryExecution().executedPlan().toString()
    assert skplan.count("Scan parquet") == 1, skplan[:800]
    assert "Expand" not in skplan, skplan[:800]


def test_top_paths_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_top_paths")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_substring_policy_reuses_cached_chunks(spark, sf_dir):
    """curate_substring_policy's 'corpus chunked once' claim: both the
    run-policy branch and the scrub branch must read the session-cached
    chunk relation (InMemoryTableScan in the executed plan), not re-run
    the O(n)-per-doc CDC chunking projection."""
    plan = _plan(spark, sf_dir, "curate_substring_policy")
    assert plan.count("InMemoryTableScan") >= 2, plan[:900]


def test_cms_topk_is_broadcast_take_ordered(spark, sf_dir):
    """streaming_cms_topk_twin's scale claims: the 1024-cell store joins
    as a BROADCAST (never shuffles the probe side on (r, b)), top-K plans
    as TakeOrderedAndProject (no global sort), and the per-key aggregate
    is materialized once per query so the store build and the probe
    both read it and ride ONE events scan."""
    plan = _plan(spark, sf_dir, "streaming_cms_topk_twin")
    assert "BroadcastHashJoin" in plan, plan[:900]
    assert "TakeOrderedAndProject" in plan, plan[:900]
    assert "Exchange rangepartitioning" not in plan
    df = _QUERIES["streaming_cms_topk_twin"](spark, sf_dir)
    executed = df._jdf.queryExecution().executedPlan().toString()
    exact_scans = re.findall(r"Scan ExistingRDD\[k#\d+,true_cnt#\d+L?\]", executed)
    assert len(exact_scans) == 2, executed[:900]
    assert "FileScan" not in executed, executed[:900]


def test_scd_asof_is_one_window_no_range_join(spark, sf_dir):
    """scd_priority_asof must stay the union+window sweep: exactly one
    Window node (custkey-partitioned), no nested-loop/cartesian interval
    join, and the only wide exchanges are the orderkey equi-join and the
    custkey sweep."""
    plan = _plan(spark, sf_dir, "scd_priority_asof")
    # formatted explain prints each node twice (tree + detail section):
    # count the numbered detail entries
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan[:1200]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_apply_is_single_stage_projection(spark, sf_dir):
    """apply_bpe_merges' claim: T merges fuse into ONE projection — the
    apply side of text_bpe_vocab adds no shuffle beyond the final token
    count (the training loop's pair-count aggregates are separate
    branches feeding one-row broadcasts)."""
    from pyspark.sql import functions as F

    from streaming_amqp_spark.operators.textstats import (
        apply_bpe_merges,
        bpe_merge_array,
    )
    from streaming_amqp_spark.tables import load_table

    merges = spark.createDataFrame(
        [(1, "a", "b"), (2, "a+b", "c")], "step int, tok_a string, tok_b string"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    applied = apply_bpe_merges(docs, "text", bpe_merge_array(merges))
    plan = applied._jdf.queryExecution().executedPlan().toString()
    # one corpus scan; the merge table enters as a broadcast, and the only
    # exchange feeds that one-row broadcast (never repartitions the corpus)
    assert plan.count("Scan parquet") == 1, plan[:900]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan[:900]
    assert "Exchange rangepartitioning" not in plan, plan[:900]


def test_clear_shared_cache_unpersists_and_rebuilds(spark):
    """clear_shared_cache (the measurement-harness hook, ADVICE r8) must
    unpersist every live entry, empty the registry, and make the next
    request REBUILD — a cold-timed run that silently reused a warm
    relation would read the fake-flat slope the hook exists to kill."""
    from streaming_amqp_spark.tables import clear_shared_cache, shared_cache

    saved = getattr(spark, "_saq_shared_cache", None)
    spark._saq_shared_cache = None
    try:
        built: list[int] = []

        def mk(i: int):
            def build():
                built.append(i)
                return spark.range(i + 1).toDF("v")

            return build

        a = shared_cache(spark, ("clear_probe", "corpus", 0), mk(0))
        b = shared_cache(spark, ("clear_probe", "corpus", 1), mk(1))
        assert a.is_cached and b.is_cached and built == [0, 1]
        clear_shared_cache(spark)
        assert not spark._saq_shared_cache
        assert not a.is_cached and not b.is_cached
        shared_cache(spark, ("clear_probe", "corpus", 0), mk(0))
        assert built == [0, 1, 0]  # rebuilt, not a stale handle
        # no-op on a session that never built a registry
        spark._saq_shared_cache = None
        clear_shared_cache(spark)
    finally:
        spark._saq_shared_cache = saved


# ---------------------------------------------------------------- fan_out
# tables.fan_out repartitions to the session's parallelism only when the
# scan is narrower than that.  Every shipped parquet file is one row
# group (one split), so the wide side needs a rewritten copy.
_FAN_OUT = "REPARTITION_BY_NUM"  # the exchange a repartition(n, keys) plans


@pytest.fixture(scope="module")
def wide_sf_dir(tmp_path_factory, sf_dir):
    """lineitem and documents of ``sf_dir``, each rewritten as 8 parquet
    files: a scan of 8 splits, at least as wide as the test session."""
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("wide_sf")
    for name in ("lineitem", "documents"):
        t = pq.read_table(f"{sf_dir}/{name}.parquet")
        d = out / f"{name}.parquet"
        d.mkdir()
        step = -(-t.num_rows // 8)
        for i in range(8):
            pq.write_table(t.slice(i * step, step), d / f"part-{i}.parquet")
    return str(out)


def test_fan_out_repartitions_a_narrow_scan_once(spark, sf_dir):
    from streaming_amqp_spark.tables import fan_out, load_table

    li = load_table(spark, sf_dir, "lineitem")
    assert li.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = fan_out(li, "l_orderkey", "l_linenumber")
    keys = _hash_exchange_keys(_df_plan(out), _FAN_OUT)
    assert keys == ["l_orderkey, l_linenumber"]
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_fan_out_leaves_a_wide_scan_alone(spark, wide_sf_dir):
    from streaming_amqp_spark.tables import fan_out, load_table

    li = load_table(spark, wide_sf_dir, "lineitem")
    assert li.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    out = fan_out(li, "l_orderkey")
    assert out is li
    assert "Exchange" not in _df_plan(out)


@pytest.mark.parametrize(
    "name,keys",
    [
        # the corpus side and the n_docs count each scan documents
        ("text_doc_frequency", ["doc_id", "doc_id"]),
        ("agg_percentiles", ["l_returnflag"]),
    ],
)
def test_queries_fan_out_only_narrow_scans(spark, sf_dir, wide_sf_dir, name, keys):
    """The one-split scan keeps its keyed fan-out; the same data in 8
    files plans with no REPARTITION_BY_NUM at all (the scale plan)."""
    assert _hash_exchange_keys(_plan(spark, sf_dir, name), _FAN_OUT) == keys
    assert _hash_exchange_keys(_plan(spark, wide_sf_dir, name), _FAN_OUT) == []
