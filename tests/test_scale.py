"""Plan-shape regression tests — the 100 TB properties (PLANS.md).

Correctness tests prove the numbers; these prove the PLANS: the
physical plan shapes that make each operator viable at scale. If a
refactor silently reintroduces a shuffle, a join, or an unpushed
filter, these fail even though results stay correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_glove_spark import api

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_h3_cooccurrence_has_no_join(spark):
    """§4.3.1: the production co-occurrence path must be expression-only
    — linear work, no self-join (the C6 join form is BNLJ, O(len²))."""
    df = api.REGISTRY["h3_cooccurrence_topk"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Join" not in plan, f"co-occurrence plan contains a join:\n{plan}"
    assert "Generate" in plan  # posexplode + neighbor expression


def test_filter_pushdown_reaches_scan(spark):
    """Filters must reach the parquet reader as PushedFilters, and the
    scan schema must contain only referenced columns."""
    df = api.REGISTRY["b2_filter_comparisons"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan" in plan or "In(" in plan
    read_schema = plan.split("ReadSchema:")[1]
    assert "l_comment" not in read_schema  # untouched wide column stays unread


def test_dimension_join_broadcasts(spark):
    """C1: nation/region dims must broadcast — the fact side never
    shuffles for dimension enrichment."""
    df = api.REGISTRY["c1_broadcast_dim_join"].fn(spark, SF_DIR)
    assert "BroadcastHashJoin" in _plan(df)


def test_topk_per_group_limits_map_side(spark):
    """E2/§4.3.5: Spark 4's WindowGroupLimit must appear below the
    exchange — each partition forwards ≤ k rows per key instead of
    shuffling everything."""
    df = api.REGISTRY["e2_topk_per_group"].fn(spark, SF_DIR)
    assert "WindowGroupLimit" in _plan(df)


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Co-located (bucketed) joins: writing both sides bucketed by the
    join key removes the per-query shuffle entirely — THE pattern for
    repeated large⋈large joins at 100 TB. Asserts zero Exchange nodes
    in the join plan."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    (
        orders.write.bucketBy(4, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(tmp_path / "orders_b"))
        .saveAsTable("orders_b")
    )
    (
        lineitem.write.bucketBy(4, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(tmp_path / "lineitem_b"))
        .saveAsTable("lineitem_b")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the test exercises the co-located path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("orders_b")
            .join(
                spark.table("lineitem_b"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = _plan(joined)
        join_section = plan.split("HashAggregate")[-1]  # below the agg
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_section, (
            f"bucketed join still shuffles:\n{plan}"
        )
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_knn_probe_side_broadcasts(spark):
    """H15: the probe set must broadcast; the corpus never moves."""
    df = api.REGISTRY["h15_knn_bruteforce"].fn(spark, SF_DIR)
    assert "BroadcastNestedLoopJoin" in _plan(df)


def test_partitioned_ann_corpus_prunes_at_scan(spark, tmp_path):
    """H16 scale path: the bucketed corpus written partitionBy(bucket)
    must give probe reads static partition pruning — only the probed
    buckets' files are ever opened."""
    from spark_glove_spark.operators.ann import lsh_bucketed

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = str(tmp_path / "ivf_corpus")
    lsh_bucketed(e, n_planes=3).write.partitionBy("bucket").parquet(out)
    probed = spark.read.parquet(out).where(F.col("bucket").isin(3, 5))
    plan = _plan(probed)
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:120]
    # input_file_name() reports the files ACTUALLY read at execution
    # time, after pruning (inputFiles() lists the unpruned relation).
    files = [
        r[0] for r in probed.select(F.input_file_name()).distinct().collect()
    ]
    assert files, "no files matched the probed buckets"
    assert all(("bucket=3" in f) or ("bucket=5" in f) for f in files), (
        "scan read files outside the probed buckets"
    )


def test_binned_interval_join_matches_naive_and_avoids_bnlj(spark):
    """Keyless range join: the binned equi-key form must return exactly
    the naive BNLJ's pairs while planning as a hash join."""
    from spark_glove_spark.operators.temporal import interval_join_binned
    from spark_glove_spark.sources import table

    e = table(spark, SF_DIR, "events")
    s = e.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("sid"),
        F.col("ts").alias("s_ts"),
        (F.col("ts") + F.expr("INTERVAL 90 MINUTES")).alias("s_end"),
    )
    err = e.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("eid"), F.col("ts").alias("e_ts")
    )
    naive = (
        s.crossJoin(err)
        .where((F.col("e_ts") >= F.col("s_ts")) & (F.col("e_ts") < F.col("s_end")))
        .select("sid", "eid")
    )
    binned = interval_join_binned(
        s, err, F.col("s_ts"), F.col("s_end"), F.col("e_ts")
    ).select("sid", "eid")
    assert {tuple(r) for r in naive.collect()} == {tuple(r) for r in binned.collect()}
    assert "BroadcastNestedLoopJoin" not in _plan(binned)


def test_pushdown_survives_corpus_fanout(spark):
    """documents reads go through a repartition (sources/tables.py) —
    Catalyst must still push filters and pruning through it to the
    scan."""
    df = api.REGISTRY["a2_corpus_source"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [In(lang" in plan or "In(lang" in plan.split("PushedFilters")[1][:200]
    assert "text" not in plan.split("ReadSchema:")[1].split("\n")[0]


def test_bm25_reads_token_aggregate_from_cache(spark):
    """PLANS.md r2: exchange reuse can't fire across the term-filter
    pushdown, so the (doc_id, word) aggregate must be persisted — all
    four consumers read InMemoryTableScan, not fresh corpus scans."""
    df = api.REGISTRY["h10_bm25"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "InMemoryTableScan" in plan


def test_sequence_packing_has_no_global_window(spark):
    """PLANS.md r2: the running-sum window must be partitioned by
    bucket — a global (empty-partition) window would serialize the
    whole table through one task at scale."""
    df = api.REGISTRY["h17_sequence_packing"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Window" in plan
    # hashpartitioning on the bucket key, never SinglePartition, feeds
    # the window sort
    assert "SinglePartition" not in plan


def test_q19_or_predicate_decomposes_to_both_scans(spark):
    """PLANS.md r2: the cross-side OR must contribute PushedFilters to
    BOTH the lineitem scan (quantity ranges) and the part scan
    (brand/size) instead of being evaluated only post-join."""
    df = api.REGISTRY["sql_tpch_q19"].fn(spark, SF_DIR)
    plan = _plan(df)
    scans = [s for s in plan.split("FileScan parquet") if "PushedFilters: [" in s]
    pushed = [s.split("PushedFilters: [")[1][:400] for s in scans]
    assert any("l_quantity" in p for p in pushed)
    assert any("p_size" in p or "p_brand" in p for p in pushed)


def test_pii_redaction_is_map_only(spark):
    """PLANS.md r2: the scrub pass must have no Exchange — pure
    expression map over the scan."""
    df = api.REGISTRY["h17_pii_redaction"].fn(spark, SF_DIR)
    plan = _plan(df)
    # table() fans the single-file corpus out with one round-robin
    # repartition; beyond that no shuffle may appear.
    assert plan.count("Exchange") <= 1


def test_similarity_join_has_no_nested_loop(spark):
    """h14_similarity_join (r3): candidates must come from equi-joins
    on prefix shingles — a cartesian/BNLJ anywhere means the prefix
    filter degenerated to all-pairs."""
    df = api.REGISTRY["h14_similarity_join"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_decontamination_joins_on_gram_only(spark):
    """h17_decontamination (r3): one equi-join keyed on the 8-gram; no
    quadratic doc-pair structure anywhere."""
    df = api.REGISTRY["h17_decontamination"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_kmeans_assignment_is_codegen_no_join(spark):
    """ml_kmeans (r3): the per-iteration assignment must be a pure
    expression over centroid literals — no join, no Python eval, and
    the per-cluster update shuffle carries partial aggregates
    (map-side combine)."""
    from spark_glove_spark.operators.clustering import (
        _assign_expr,
        _seed_centers,
    )
    from spark_glove_spark.sources import table

    e = table(spark, SF_DIR, "embeddings")
    centers = _seed_centers(e, 4, 42, "vec_id", "embedding")
    assigned = e.select(
        _assign_expr(centers, "embedding").alias("cid"), "embedding"
    )
    plan = _plan(assigned)
    assert "Join" not in plan and "Python" not in plan, plan
    agg = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
    aplan = _plan(agg)
    assert "partial_count" in aplan or "HashAggregate" in aplan, aplan


def test_gap_fill_window_stays_per_user(spark):
    """c9_gap_fill (r3): the forward-fill window must be partitioned
    (per user) — an unpartitioned window would serialize the whole
    series through one task."""
    df = api.REGISTRY["c9_gap_fill"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Window" in plan
    # every Window operator in the plan declares a partition spec
    for frag in plan.split("Window ")[1:]:
        head = frag.split("\n")[0]
        assert "user_id" in head, head


def test_weighted_resample_is_map_only(spark):
    """h17_weighted_resample (r3): a deterministic acceptance filter
    must not shuffle — no Exchange in the plan at all."""
    df = api.REGISTRY["h17_weighted_resample"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Exchange" not in plan.replace("ReusedExchange", ""), plan


def test_pq_candidate_scan_carries_codes_not_floats(spark):
    """h16_pq_ann (r3): the candidate-scoring side must carry the int8
    codes column (tinyint array), not re-read float embeddings —
    that's the 32x resident-set claim."""
    df = api.REGISTRY["h16_pq_ann"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_range_search_is_shuffle_free(spark):
    """h15_range_search (r3): probes broadcast, radius predicate
    filters map-side — the whole operator must run without an
    Exchange (no shuffle, no window)."""
    df = api.REGISTRY["h15_range_search"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "ShuffleExchange" not in plan.replace(
        "BroadcastExchange", ""
    ) and "Exchange hashpartitioning" not in plan, plan
    assert "Window" not in plan, plan


def test_semantic_dedup_pairs_join_on_cluster(spark):
    """h13_semantic_dedup (r3): the within-cluster pair search must be
    an equi-join keyed on cluster_id (SortMerge/ShuffledHash), never a
    cartesian/BNLJ over the corpus."""
    df = api.REGISTRY["h13_semantic_dedup"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "cluster_id" in plan or "cluster_b" in plan, plan


def test_inverted_index_two_mapside_aggs(spark):
    """h10_inverted_index (r3): both aggregation levels must be hash
    aggregates with a partial (map-side) phase; no window, no join."""
    df = api.REGISTRY["h10_inverted_index"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Join" not in plan and "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_span_dedup_joins_on_gram_only(spark):
    """h17_span_dedup (r3): the dup-frequency join must key on the
    gram — an equi-join, no quadratic doc-pair structure."""
    df = api.REGISTRY["h17_span_dedup"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_ohlc_resample_single_exchange(spark):
    """c9_ohlc_resample (r3): both windows and the final agg share the
    (bucket, series) partitioning — exactly ONE hash-partitioning
    Exchange in the plan (plus AQE wrappers), and no join."""
    df = api.REGISTRY["c9_ohlc_resample"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Join" not in plan, plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} exchanges:\n{plan}"


def test_bpe_merge_apply_is_codegen_no_python(spark):
    """h17_bpe_train (r3): the merge-application fold must be a pure
    higher-order expression (no Python eval), and the pair count a
    map-side-combined hash aggregate."""
    from spark_glove_spark.operators.bpe import merge_pair_expr
    from spark_glove_spark.functions.text import tokenize
    from spark_glove_spark.sources import table

    d = table(spark, SF_DIR, "documents")
    words = (
        d.select(F.explode(tokenize(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    applied = words.select(
        merge_pair_expr(F.split(F.col("word"), ""), "e", "r", "er").alias("s")
    )
    plan = _plan(applied)
    assert "Python" not in plan and "Join" not in plan, plan


def test_curate_funnel_no_cartesian_single_corpus_scan(spark):
    """pipeline_curate_corpus (r3): the funnel must contain no
    Cartesian/NestedLoop anywhere (the similarity stage is the prefix
    filter over the PRUNED survivor set), and the tokenized projection
    must come from the persisted cache (InMemoryTableScan), not
    repeated corpus scans."""
    df = api.REGISTRY["pipeline_curate_corpus"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_partitioned_sink_prunes_at_directory_level(spark):
    """a7_partitioned_sink_pruning (r3): the event_type filter must
    resolve as a PartitionFilter (directory pruning), not a data
    filter over all files."""
    df = api.REGISTRY["a7_partitioned_sink_pruning"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters"
    )[1][:200], plan


def test_a9_declared_bucketed_join_plan(spark):
    """The DECLARED a9 query (not just the ad-hoc layout test above)
    must hit the co-located path: SortMergeJoin with no Exchange and
    no Sort below it — the bucketBy(8).sortBy layout supplies both."""
    df = api.REGISTRY["a9_bucketed_join"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "SortMergeJoin" in plan, plan
    join_section = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_section, (
        f"bucketed join still shuffles below the SMJ:\n{plan}"
    )
    assert "Sort " not in join_section, (
        f"bucketed sortBy files still re-sorted:\n{plan}"
    )
    assert df.count() > 0


def test_c9_sessionize_single_exchange(spark):
    """Sessionize = lag-window + running-sum window + per-session agg,
    all keyed by user_id: ONE hash Exchange must serve the whole
    pipeline."""
    df = api.REGISTRY["c9_sessionize"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_c9_ewma_is_grouped_pandas_with_one_shuffle(spark):
    """EWMA's sequential recursion must ride applyInPandas over
    per-user groups — one shuffle on user_id, no window, no second
    Exchange."""
    df = api.REGISTRY["c9_ewma"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_h17_dsir_weights_no_nested_loop(spark):
    """DSIR scoring joins bigram occurrences to the vocab-bounded
    stats table by key: hash joins only — the only BNLJ allowed is
    the scalar-totals broadcast."""
    df = api.REGISTRY["h17_dsir_weights"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan


def test_a12_plan_has_dynamic_pruning(spark):
    """The fact scan must carry a runtime dynamicpruning partition
    filter injected from the filtered dim — not a static filter and
    not a full scan."""
    df = api.REGISTRY["a12_dynamic_partition_pruning"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "dynamicpruning" in plan.lower(), plan


def test_a14_compaction_is_shuffle_free_and_compacts(spark, tmp_path):
    """Compaction must use a narrow coalesce (no Exchange between the
    fragmented scan and the write) and actually reduce file count."""
    import os

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    frag = str(tmp_path / "frag")
    li.repartition(64).write.parquet(frag)
    n_frag = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    compacted = spark.read.parquet(frag).coalesce(4)
    plan = _plan(compacted)
    assert "Exchange" not in plan, plan
    out = str(tmp_path / "compact")
    compacted.write.parquet(out)
    n_out = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_frag == 64 and n_out <= 4, (n_frag, n_out)


def test_a9_restores_conf_and_drops_tables(spark):
    """ADVICE r3: a9 sets the legacy bucketedTableScan conf and
    registers catalog tables; both must be cleaned up at the next
    declared query's safe point (deferred cleanup), not leaked into
    the rest of the session."""
    from spark_glove_spark import api

    conf_key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    before = spark.conf.get(conf_key, None)
    sf = "/root/testdata/sf0.001"
    df = api.REGISTRY["a9_bucketed_join"].fn(spark, sf)
    df.collect()  # consume the result while the conf is still set
    assert spark.conf.get(conf_key) == "true"
    n_tables = len(
        [t for t in spark.catalog.listTables() if "sgs_bucketed" in t.name]
    )
    assert n_tables == 2
    # Any next declared query drains the deferred cleanups.
    api.REGISTRY["b1_projection"].fn(spark, sf).collect()
    after = spark.conf.get(conf_key, None)
    assert after == before
    assert not [
        t for t in spark.catalog.listTables() if "sgs_bucketed" in t.name
    ]


def test_registry_owns_the_only_mkdtemp():
    """A query's temp dir comes from registry.deferred_tempdir, which
    removes it when the next declared query starts; a bare mkdtemp is
    never removed. So no module of the package but registry.py calls
    tempfile.mkdtemp."""
    import ast
    import glob
    import os

    import spark_glove_spark

    root = os.path.dirname(spark_glove_spark.__file__)
    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)
        if rel == "registry.py":
            continue
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "mkdtemp":
                offenders.append(f"{rel}:{node.lineno}")
            elif isinstance(node, ast.ImportFrom) and any(
                a.name == "mkdtemp" for a in node.names
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders


def test_global_rank_and_prefix_sum_survive_reexecution(spark):
    """ADVICE r9 (low): the two-pass scale_ops bake partition offsets
    collected from the range-partitioned intermediate into LITERALS —
    if a re-execution of the returned DataFrame could re-run the range
    sampler with new boundaries, the literals would silently produce
    wrong ranks/sums. The eager localCheckpoint pins the partitioning
    for the DataFrame's lifetime; this test re-collects after draining
    every deferred cache (the hazard window) and also checks the exact
    global semantics."""
    from spark_glove_spark.operators.scale_ops import (
        global_prefix_sum,
        global_rank,
    )
    from spark_glove_spark.registry import drain_deferred_unpersist

    df = spark.range(1000).selectExpr("id", "id % 7 AS v")
    ranked, n = global_rank(df, ["v", "id"], rank_col="r", num_partitions=8)
    assert n == 1000
    first = sorted((r["id"], r["r"]) for r in ranked.collect())
    drain_deferred_unpersist()  # release every deferred cache
    second = sorted((r["id"], r["r"]) for r in ranked.collect())
    assert first == second, "re-execution changed ranks"
    want = {
        id_: i + 1
        for i, (_, id_) in enumerate(sorted((i % 7, i) for i in range(1000)))
    }
    assert dict(first) == want

    summed = global_prefix_sum(df, ["v", "id"], ["id"], ["run"], num_partitions=8)
    a = sorted((r["id"], r["run"]) for r in summed.collect())
    drain_deferred_unpersist()
    b = sorted((r["id"], r["run"]) for r in summed.collect())
    assert a == b, "re-execution changed prefix sums"
    # exact running total over the (v, id) order
    acc, want_run = 0, {}
    for _, id_ in sorted((i % 7, i) for i in range(1000)):
        acc += id_
        want_run[id_] = acc
    assert dict(a) == want_run


def test_scalar_bounds_is_one_job(spark):
    """VERDICT r11 item 6: the txlog demos' driver-side split points
    (max/8, max/4) must come from ONE aggregate job, not one job per
    bound — the copy-pasted two-collect form scanned the table twice
    for constants derived from the same max."""
    from spark_glove_spark.sources import scalar_bounds, table

    sc = spark.sparkContext
    df = table(spark, SF_DIR, "orders").select(F.col("o_orderkey").alias("k"))
    df.count()  # materialize any scan-side setup outside the probe groups

    def jobs_in(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    # AQE materializes each query stage as its own job, so "one action"
    # is N jobs for some N >= 1 — compare against the replaced form's
    # TWO actions instead of pinning N.
    (h8, h4), n_new = jobs_in(
        "sb_probe_new", lambda: scalar_bounds(df, "k", 8, 4)
    )
    old_form = lambda: (  # noqa: E731 — the pre-r12 two-collect shape
        int(df.agg(F.floor(F.max("k") / 8.0)).collect()[0][0]),
        int(df.agg(F.floor(F.max("k") / 4.0)).collect()[0][0]),
    )
    (o8, o4), n_old = jobs_in("sb_probe_old", old_form)
    assert (h8, h4) == (o8, o4), "fused bounds must equal the two-job form"
    assert n_new * 2 == n_old, (
        f"expected half the jobs of the two-collect form: {n_new} vs {n_old}"
    )
