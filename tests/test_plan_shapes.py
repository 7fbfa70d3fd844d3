"""Plan-shape regression guards: the physical plans that make these
queries scale must not silently regress (PLANS.md documents why each
shape matters at 100 TB)."""

from __future__ import annotations

import re

from openstack_billing_from_db_spark.registry import all_queries

QUERIES = all_queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_sessionize_single_exchange(spark, sf_dir):
    """q02: exactly one shuffle — the window partitioning; the groupBy
    reuses it (no second Exchange)."""
    plan = _plan(QUERIES["q02_instance_runtime"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pricing_summary_pushdown(spark, sf_dir):
    """q10: the shipdate filter reaches the parquet scan."""
    plan = _plan(QUERIES["q10_pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_invoice_has_no_rates_join(spark, sf_dir):
    """q01: the 6-row rate card is folded into literals — no rates
    relation in the plan, so nothing of it to join or shuffle. The one
    join left (the instance dim) broadcasts."""
    plan = _plan(QUERIES["q01_billing_invoice"](spark, sf_dir))
    assert "LocalTableScan" not in plan and "ExistingRDD" not in plan, plan
    assert len(re.findall(r"\w*Join ", plan)) == 1, plan
    assert "BroadcastHashJoin" in plan, plan


_PLAN_NODE = re.compile(r"^(?P<indent>[\s:+\-*]*)(?P<name>[A-Za-z][\w ]*?) \((?P<id>\d+)\)$")


def _final_plan_nodes(description: str) -> list[tuple[int, str, str]]:
    """(indent, node name, node id) per line of the final physical plan
    tree of a formatted (``explain mode=formatted``) plan description."""
    tree = description.split("+- == Initial Plan ==")[0]
    return [
        (len(m["indent"]), m["name"].strip(), m["id"])
        for m in map(_PLAN_NODE.match, tree.splitlines())
        if m
    ]


def _ancestors(nodes: list[tuple[int, str, str]], i: int) -> list[str]:
    """Names of node i's ancestors, nearest first."""
    out, indent = [], nodes[i][0]
    for j in range(i - 1, -1, -1):
        if nodes[j][0] < indent:
            out.append(nodes[j][1])
            indent = nodes[j][0]
    return out


def test_cli_dump_invoice_plan(spark, tmp_path):
    """The daily dump invoice as executed: at most 5 jobs; no RDD scan and
    no rate-card relation (the card is folded into literals); each Nova
    table scanned once; and no Exchange between the sessionizing Window
    and the per-instance aggregate."""
    from test_ingest_sources import _write_dump

    from openstack_billing_from_db_spark.cli import main

    sc = spark.sparkContext
    group = "test_cli_dump_invoice_plan"
    sc.setJobGroup(group, group)
    try:
        main(
            [
                "--sql-dump-file", _write_dump(tmp_path),
                "--start", "2000-01-01",
                "--end", "2000-02-01",
                "--output", str(tmp_path / "inv.csv"),
            ]
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 5, sorted(jobs)

    # executed plans (AQE's final ones) from the SQL status store
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    recent = store.executionsList(max(0, n - 50), 50)
    plans = [
        e.physicalPlanDescription()
        for e in (recent.apply(i) for i in range(recent.size()))
        if e.description() == group
    ]
    assert all("ExistingRDD" not in p for p in plans), plans
    (write,) = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert "LocalTableScan" not in write, write

    nodes = _final_plan_nodes(write)
    scanned = sorted(
        re.search(
            rf"^\({node_id}\) Scan parquet.*?^Location: \w+ \[[^\]]*/([^/\]]+)\]",
            write,
            re.M | re.S,
        )[1]
        for _, name, node_id in nodes
        if name == "Scan parquet"
    )
    assert scanned == [
        "instance_actions.parquet", "instance_extra.parquet", "instances.parquet"
    ], write

    (window,) = [i for i, (_, name, _) in enumerate(nodes) if name == "Window"]
    above = _ancestors(nodes, window)
    below_aggregate = above[: above.index("HashAggregate")]
    assert not any("Exchange" in name for name in below_aggregate), write


def test_dump_invoice_plan_build_py4j_budget(spark, tmp_path, monkeypatch):
    """Building the dump invoice's plans (dimension, invoice, CSV rows)
    takes at most 250 py4j round trips: every expression is SQL text, so
    a DataFrame step costs a few calls instead of several per ``F.*``
    call (about 2,500 in all). Only this thread's calls count: py4j's
    finalizer thread releases Java objects at times of its own choosing."""
    import threading
    from datetime import datetime

    from py4j.clientserver import JavaClient
    from test_ingest_sources import _write_dump

    from openstack_billing_from_db_spark.plans.billing import (
        invoice_csv_rows,
        nova_instance_dim,
        nova_invoice,
    )
    from openstack_billing_from_db_spark.sources.mysqldump import nova_tables_from_dump
    from openstack_billing_from_db_spark.sources.rates import rates_df

    instances, extra, actions = nova_tables_from_dump(
        spark, _write_dump(tmp_path), str(tmp_path / "pq")
    )
    actions = actions.select("instance_uuid", "created_at", "action", "message")
    rates = rates_df(spark)
    start, end = datetime(2000, 1, 1), datetime(2000, 2, 1)

    calls = 0
    send = JavaClient.send_command
    building_thread = threading.get_ident()

    def counting_send(client, *args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == building_thread
        return send(client, *args, **kwargs)

    monkeypatch.setattr(JavaClient, "send_command", counting_send)
    dim = nova_instance_dim(instances, extra, start)
    invoice = nova_invoice(actions, dim, rates, start, end)
    invoice_csv_rows(
        invoice,
        rates,
        invoice_month="2000-01",
        window_start=start,
        window_end=end,
        generated_at="2000-02-01T00:00:00+00:00",
    )
    monkeypatch.undo()
    assert calls <= 250, calls


def test_invoice_pushes_window_end_into_event_scan(spark, tmp_path):
    """The invoice's ``instance_actions`` scan carries the end bound (events
    at or after the latest window or outage end cannot change a billed
    hour); ``instance_runtime``, which emits zero-runtime rows, reads all."""
    from datetime import datetime

    from openstack_billing_from_db_spark.plans.billing import instance_runtime, nova_invoice
    from openstack_billing_from_db_spark.sources.rates import rates_df

    path = str(tmp_path / "instance_actions.parquet")
    spark.createDataFrame(
        [("i1", datetime(2000, 1, 2), "create", ""), ("i1", datetime(2000, 3, 1), "stop", "")],
        "instance_uuid string, created_at timestamp, action string, message string",
    ).write.parquet(path)
    actions = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("i1", "p1", "cpu", 1, None)],
        "uuid string, project_id string, su_type string, service_units int, deleted_at timestamp",
    )
    start, end = datetime(2000, 1, 1), datetime(2000, 2, 1)

    def scan(df):
        (line,) = [ln for ln in _plan(df).splitlines() if "FileScan parquet" in ln]
        return line

    assert "LessThan(created_at" in scan(nova_invoice(actions, dim, rates_df(spark), start, end))
    assert "LessThan(created_at" not in scan(instance_runtime(actions, start, end, instances=dim))


def test_regional_revenue_broadcast_dims(spark, sf_dir):
    """q11: nation/region/supplier dims broadcast."""
    plan = _plan(QUERIES["q11_regional_revenue"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_top_k_uses_take_ordered(spark, sf_dir):
    """q12: global sort+limit compiles to TakeOrderedAndProject, not a
    full sort materialization."""
    plan = _plan(QUERIES["q12_top_unshipped_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_semi_anti_join_strategies(spark, sf_dir):
    plan13 = _plan(QUERIES["q13_late_shipment_priority"](spark, sf_dir))
    plan14 = _plan(QUERIES["q14_customers_without_orders"](spark, sf_dir))
    assert "LeftSemi" in plan13, plan13
    assert "LeftAnti" in plan14, plan14


def test_no_python_udfs_on_relational_paths(spark, sf_dir):
    """Everything except the multimodal mapInPandas path and the
    streaming stateful operator stays JVM-side (whole-stage codegen)."""
    python_ok = {
        "q41_multimodal_meta",
        "q50_streaming_windowed_counts",
        "q51_streaming_state_intervals",
        "q52_streaming_dedup",
        "q60_fingerprint_pandas_udf",  # the sanctioned Arrow slow-path demo
        "q63_image_decode",  # media codecs are genuine Python work (Arrow-batched)
        "q64_audio_features",
        "q88_png_decode",  # media codec (Arrow-batched zlib inflate + defilter)
        "q75_stream_stream_join",  # streaming (memory-sink table scan)
        "q77_video_frame_sample",  # media codec (Arrow-batched container walk)
        "q82_streaming_dedup_watermarked",  # streaming (memory-sink table scan)
        "q86_ngram_udtf",  # the sanctioned UDTF slow-path demo (≡ q74 native)
        "q140_semantic_dedup_scaled",  # Arrow nearest-centroid kernel IS the certified surface (>1024 codes)
        "q141_image_phash_dedup",  # media codec + dHash (Arrow-batched mapInPandas)
        "q142_image_phash72_dedup",  # media codec + two-word dHash (Arrow-batched mapInPandas)
        "q143_corpus_recipe_images",  # composed recipe's image stage (Arrow-batched decode+dHash)
        "q144_audio_phash_dedup",  # media codec + delta-energy hash (Arrow-batched mapInPandas)
        "q145_video_phash_dedup",  # container walk + per-frame dHash (Arrow-batched mapInPandas)
        "q147_semantic_dedup_pq",  # Arrow PQ pair-score kernel IS the certified surface (broadcast code tables; q140's class)
        "q148_greedy_sequence_pack",  # genuinely sequential per-shard packing state (narrow Arrow rows; no closed window form)
        "q150_packing_efficiency",  # composes q148's sequential packing kernel (its greedy side)
        "q151_incremental_greedy_pack",  # two-phase continuation of the same sequential kernel
        "q152_semantic_dedup_pq_scaled",  # Arrow PQ pair-score + hierarchical-assign kernels ARE the certified surface (q140+q147 composition)
        "q153_streaming_video_admission",  # container walk + per-frame dHash (Arrow-batched; q145's decode in the streaming composition)
        "q154_audio_phash72_dedup",  # media codec + wide delta-energy hash (Arrow-batched mapInPandas)
        "q155_video_phash72_dedup",  # container walk + wide per-frame dHash (Arrow-batched mapInPandas)
        "q156_chunked_image_dedup",  # media codec + two-word dHash under the chunked join (Arrow-batched mapInPandas)
        "q157_video_scene_cuts",  # container walk + per-frame pooled mesh (Arrow-batched mapInPandas; deltas/windows JVM-side)
        "q158_streaming_audio_admission",  # WAV decode + delta-energy hash (Arrow-batched; q144's decode in the streaming composition)
        "q160_streaming_image_admission",  # media codec + two-word dHash (Arrow-batched; q142's decode in the streaming composition)
        "q161_image_phash132_dedup",  # media codec + three-word dHash (Arrow-batched mapInPandas)
        "q163_scene_rep_dedup",  # container walk + pooled mesh (Arrow-batched; dHash/windows/join JVM-side)
        "q164_audio_phash132_dedup",  # WAV decode + three-word delta-energy hash (Arrow-batched mapInPandas)
    }
    for name, fn in QUERIES.items():
        if name in python_ok:
            continue
        plan = _plan(fn(spark, sf_dir))
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            assert marker not in plan, f"{name} uses {marker}"


def test_column_pruning_on_events_scan(spark, sf_dir):
    """q02 reads only the 3 columns it needs from the 6-column table."""
    plan = _plan(QUERIES["q02_instance_runtime"](spark, sf_dir))
    # ts dtype varies with how the driver regenerated the parquet
    # (TIMESTAMP(NANOS)→bigint vs naive micros→timestamp_ntz); pruning to
    # exactly 3 of 6 columns is the invariant.
    m = re.search(r"ReadSchema: struct<ts:\w+,user_id:bigint,event_type:string>", plan)
    assert m, plan


def test_scene_cuts_plan_shape(spark, sf_dir):
    """q157: the documents scan is pruned to doc_id only (payload
    synthesis and decode need nothing else), exactly ONE Arrow stage
    carries the video bytes (decode+pool), and the delta/window/scene
    math downstream is JVM-side."""
    plan = _plan(QUERIES["q157_video_scene_cuts"](spark, sf_dir))
    m = re.search(r"ReadSchema: struct<doc_id:bigint>", plan)
    assert m, plan
    assert plan.count("MapInPandas") == 2, plan  # synth payload + decode mesh
    assert "BatchEvalPython" not in plan, plan  # never row-at-a-time
    assert "Window" in plan, plan  # lag/scene-count windows are JVM-side


def test_ivf_plan_shape(spark, sf_dir):
    """q65: centroids picked by per-partition top-k (no global sort),
    broadcast to the corpus; candidate join broadcasts the probed query
    set; the query filter reaches the parquet scan."""
    from openstack_billing_from_db_spark.operators.caching import (
        release_operator_caches,
    )

    # earlier tests leave operator-persisted intermediates cached; an
    # InMemoryTableScan would (correctly) swallow the pushed filter this
    # test pins on the PARQUET scan, so assert from a cold cache
    release_operator_caches()
    spark.catalog.clearCache()
    plan = _plan(QUERIES["q65_ivf_ann"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # centroid sample, not a global sort
    assert "BroadcastHashJoin" in plan  # probed queries broadcast into the index
    assert "LessThan(vec_id,10)" in plan  # query predicate pushed to the scan
    assert "SortMergeJoin" not in plan  # nothing shuffles a fact-fact join


def test_kmeans_assignment_is_map_side(spark, sf_dir):
    """q73's FINAL assignment: centroid literals are in the plan (no
    centroid join) and the only exchange is the documented small-input
    round-robin repartition — never a hash shuffle of the corpus."""
    from openstack_billing_from_db_spark.operators.caching import (
        release_operator_caches,
    )

    release_operator_caches()
    spark.catalog.clearCache()
    plan = _plan(QUERIES["q73_kmeans_clusters"](spark, sf_dir))
    assert "hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan  # centroids are literals, not a join


def test_temperature_mix_broadcasts_rates(spark, sf_dir):
    """q79: derived per-source rates join back via broadcast — the
    corpus never hash-shuffles for the sampling filter."""
    plan = _plan(QUERIES["q79_temperature_mix"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_lm_quality_partial_aggregation(spark, sf_dir):
    """q76: gram counting partial-aggregates map-side before its
    exchange (two HashAggregates per count: partial + final)."""
    plan = _plan(QUERIES["q76_lm_quality"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 4, plan


def test_text_explodes_guard_map_parallelism(spark, sf_dir, monkeypatch):
    """The tokenize/explode map stages of the text-quality operators
    must not run at raw scan parallelism (a 1-file documents table
    scans as ONE partition — the whole gram stream would run on one
    core): each operator rebalances its projected (id, text) source
    (guide §2.1). The rebalance is SIZE-GATED (VERDICT r12 #8): a
    source below _TOKENIZE_REBALANCE_MIN_BYTES tokenizes faster on one
    core than an exchange + 32-task wave costs, so at this sf the plan
    must carry NO guard exchange; with the threshold forced to 0 (the
    at-scale behavior for a 1-split over-threshold input) the
    RoundRobinPartitioning pin must reappear."""
    from openstack_billing_from_db_spark.operators import text as text_ops

    queries = ("q74_repetition_stats", "q76_lm_quality",
               "q118_source_kl", "q119_token_entropy")
    for q in queries:
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert "RoundRobinPartitioning" not in plan, f"{q}: {plan[:2000]}"
    monkeypatch.setattr(text_ops, "_TOKENIZE_REBALANCE_MIN_BYTES", 0)
    for q in queries:
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert "RoundRobinPartitioning" in plan, f"{q}: {plan[:2000]}"


def test_semantic_pair_width_pin_gated(spark, sf_dir, monkeypatch):
    """The SemDeDup pair stage's width pin (VERDICT r12 Next #3) is
    gated on the expected pair count: tiny pair spaces must NOT pay the
    extra REPARTITION_BY_NUM exchange (the unconditional pin cost q130
    +22% at sf0.1), while past _PAIR_PIN_MIN_PAIRS the cluster-keyed
    exchange must be REPARTITION_BY_NUM-origin so AQE cannot coalesce
    the Σ n_c² compute onto one partition. The fixed-k path (no
    target_cluster_size → pair count unknown without an extra job)
    never pins."""
    from openstack_billing_from_db_spark.operators import similarity

    pin_re = re.compile(r"hashpartitioning\(cluster[^\n]*REPARTITION_BY_NUM")
    plan = _plan(QUERIES["q140_semantic_dedup_scaled"](spark, sf_dir))
    assert not pin_re.search(plan), plan[:3000]
    monkeypatch.setattr(similarity, "_PAIR_PIN_MIN_PAIRS", 0)
    plan = _plan(QUERIES["q140_semantic_dedup_scaled"](spark, sf_dir))
    assert pin_re.search(plan), plan[:3000]
    # fixed-k path: no estimate, never pins (even with the floor at 0)
    plan = _plan(QUERIES["q130_semantic_dedup"](spark, sf_dir))
    assert not pin_re.search(plan), plan[:3000]


def test_random_projection_map_side(spark, sf_dir):
    """q104: pure map-side — no hash exchange, no join, no window; the
    scan is pruned to (vec_id, embedding)."""
    plan = _plan(QUERIES["q104_random_projection"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert re.search(r"FileScan parquet \[vec_id[^,]*,embedding[^\]]*\]", plan), plan


def test_group_sample_rank_limit_pushdown(spark, sf_dir):
    """q105: Spark 4's WindowGroupLimit runs a PARTIAL per-group top-k
    map-side before the single stratum exchange — each mapper ships at
    most k rows per group, so the shuffle is bounded by k·groups, not
    by the input."""
    plan = _plan(QUERIES["q105_group_priority_sample"](spark, sf_dir))
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_salted_join_is_shuffled_hash(spark, sf_dir):
    """q107: the salted join must NOT degrade to broadcast (that would
    make the salt demo vacuous) — the hint pins shuffled-hash, keyed on
    (key, salt)."""
    plan = _plan(QUERIES["q107_salted_join_revenue"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan, plan
    assert "__salt" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_histogram_sketch_partial_aggregates(spark, sf_dir):
    """q103: the (group, bin) cell build partial-aggregates map-side —
    the exchange carries cells, not rows."""
    plan = _plan(QUERIES["q103_histogram_quantiles"](spark, sf_dir))
    assert "partial_count" in plan, plan


def test_contamination_join_follows_eval_size(spark, sf_dir):
    """q109: the scoring join is deliberately UNHINTED — AQE picks the
    strategy from the eval side's actual size. Tiny eval side (this sf)
    must broadcast; an eval side too big to broadcast (simulated by
    disabling the thresholds) must fall back to a shuffle join — a
    forced broadcast hint would OOM on a corpus-scale eval slice."""
    q = QUERIES["q109_contamination_fraction"]
    df = q(spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()  # finalize AQE
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    athr = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df2 = q(spark, sf_dir)
        df2.write.mode("overwrite").format("noop").save()
        plan2 = _plan(df2)
        assert "SortMergeJoin" in plan2 or "ShuffledHashJoin" in plan2, plan2
        assert "BroadcastHashJoin" not in plan2, plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        if athr is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", athr)


def test_hll_single_pass_no_join(spark, sf_dir):
    """q117: exact count and estimate come out of one cascaded
    aggregation over one scan — no join, no second Exchange on the raw
    token stream (the state exchange is register-sized)."""
    plan = _plan(QUERIES["q117_hll_distinct"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_edit_distance_blocked_join(spark, sf_dir):
    """q120: the Levenshtein predicate rides the block-keyed join
    condition (pairs outside the distance bound never materialize), and
    the whole-block cap aggregation is present."""
    plan = _plan(QUERIES["q120_edit_distance_dups"](spark, sf_dir))
    joins = [l for l in plan.splitlines() if "Join" in l and "levenshtein" in l]
    assert joins, plan
    assert "partial_count" in plan, plan  # block-size cap aggregation


def test_set_similarity_join_shape(spark, sf_dir):
    """q123: no cartesian product anywhere (every join is keyed — the
    candidate join on prefix tokens, the verify intersection, the
    expansion joins), and the persisted base/reps scans are reused via
    InMemoryTableScan instead of re-reading + re-normalizing parquet."""
    plan = _plan(QUERIES["q123_set_similarity_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_source_cosine_shape(spark, sf_dir):
    """q126: the only joins are keyed (term self-join + broadcast norm
    joins + the tiny source-count cross of one 1-row aggregate); the
    persisted csw/wv intermediates are reused via InMemoryTableScan
    instead of re-tokenizing the corpus for each consumer."""
    plan = _plan(QUERIES["q126_source_cosine"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "InMemoryTableScan" in plan, plan
    # the 1-row source-count side must come in as a broadcast, and the
    # norm joins too
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_dsir_scoring_join_broadcasts(spark, sf_dir):
    """q131: the 4096-row bucket ratio table must broadcast into the
    doc-feature join (the corpus-sized side never shuffles for scoring)
    and the final top-k must be TakeOrderedAndProject, not a global
    sort exchange."""
    plan = _plan(QUERIES["q131_dsir_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_rerank_candidate_fetch_broadcasts(spark, sf_dir):
    """q129: the bounded ADC candidate list is the broadcast side of the
    raw-vector re-fetch — the embedding table is probed by hash, never
    shuffled for the re-rank."""
    plan = _plan(QUERIES["q129_ivf_pq_rerank"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_rrf_retrievers_stay_bounded(spark, sf_dir):
    """q132: both retrievers' top-k stages are TakeOrderedAndProject
    (per-partition heaps) and the BM25 stats / query vector ride
    broadcasts — nothing corpus-sized shuffles."""
    plan = _plan(QUERIES["q132_hybrid_rrf"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_semantic_dedup_pair_join_is_cluster_keyed(spark, sf_dir):
    """q130: the pair stage joins on the cluster key (hash-partitioned
    equi-join) — never a cartesian/nested-loop over the corpus."""
    plan = _plan(QUERIES["q130_semantic_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # within-cluster self-join resolves to an equi-join strategy
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_leakage_free_split_label_join_shape(spark, sf_dir):
    """q133: the cluster-label attach is an equi-join (doc_id-keyed) and
    nothing in the plan degenerates to a cartesian product; the final
    rollup is a partial-aggregated groupBy."""
    plan = _plan(QUERIES["q133_leakage_free_split"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_doremi_total_rides_broadcast(spark, sf_dir):
    """q134: the 1-row normalization total joins the domain table as a
    broadcast (BroadcastNestedLoopJoin over the crossJoin), never a
    shuffle; the corpus is touched only by the q118 KL chain whose
    ratio join is itself broadcast."""
    plan = _plan(QUERIES["q134_doremi_weights"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_quality_survivors_argmax_is_partial_agg(spark, sf_dir):
    """q135: the per-cluster argmax must be a partial-aggregable
    min(struct) — map-side combine, ONE exchange on cluster_id — never
    a per-cluster window sort; and nothing degenerates to a cartesian."""
    plan = _plan(QUERIES["q135_quality_dedup_survivors"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "partial_min(struct(ns" in plan, plan
    # the survivor pick itself runs without a Window operator (the
    # minhash/CC stages don't introduce one either)
    assert "Window" not in plan, plan


def test_mixture_epoch_weights_ride_broadcasts(spark, sf_dir):
    """q136: the tens-of-rows weight/budget/report tables join the
    corpus and each other as broadcasts; exactly one Window (the
    per-source admission cumsum) touches corpus-sized data."""
    plan = _plan(QUERIES["q136_mixture_epoch"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert plan.count("Window") == 1, plan


def test_neyman_is_one_groupby_plus_broadcast_total(spark, sf_dir):
    """q137: the corpus is touched by ONE partial-aggregable groupBy;
    the grand total attaches as a broadcast (nested-loop over 1 row),
    and no Window/cartesian appears anywhere."""
    plan = _plan(QUERIES["q137_neyman_allocation"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan, plan


def test_bootstrap_is_single_scan_no_joins(spark, sf_dir):
    """q138: all 40 replicas ride ONE corpus scan as partial-aggregable
    sums — no join of any kind, no corpus×B Generate before the
    aggregate (the only explode runs on the 1-row aggregate output)."""
    plan = _plan(QUERIES["q138_bootstrap_quality_ci"](spark, sf_dir))
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, (op, plan)
    assert plan.count("Scan parquet") == 1, plan
    assert "partial_sum" in plan, plan


def test_multiword_banded_join_shape(spark, sf_dir):
    """q142: the wide-band hamming join must be an equi-join on
    (band, bucket) — no cartesian/nested-loop fallback — and the
    canonical-band single-emission test must stay a map-side filter
    (no distinct exchange after the join)."""
    plan = _plan(QUERIES["q142_image_phash72_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # no distinct anywhere: pair dedup is the map-side first-band-only
    # filter, so the plan must contain NO aggregate keyed on the pair
    # (plan strings print root-first, so the whole text is checked —
    # a parent distinct would print BEFORE the join node)
    assert "HashAggregate(keys=[doc_a" not in plan, plan
