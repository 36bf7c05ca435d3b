"""Plan-shape regression tests: pushdown, pruning, broadcast joins, codegen.

A lost pushdown or a dimension join degrading to sort-merge is a silent 10×
at 100 TB — pin the plan properties the engine's performance depends on.
"""

from __future__ import annotations

import __spark_entry__ as E
from keboola_storage_duckdb_spark.plans import plan_facts


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    facts = plan_facts(E.q_pricing_summary(spark, sf_dir))
    # the l_shipdate predicate must reach the parquet scan
    assert any("l_shipdate" in p for p in facts["pushed_filters"]), facts
    # the scan must not read all 16 lineitem columns
    assert facts["read_schemas"], facts
    schema = facts["read_schemas"][0]
    assert "l_comment" not in schema and "l_receiptdate" not in schema
    executed = plan_facts(E.q_pricing_summary(spark, sf_dir), execute=True)
    assert executed["codegen_spans"] >= 1, executed


def test_export_projection_prunes_to_three_columns(spark, sf_dir):
    facts = plan_facts(E.q_export_projection(spark, sf_dir))
    schema = facts["read_schemas"][0]
    for col in ("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"):
        assert col in schema  # 3 projected + 2 filtered (status, totalprice)
    assert "o_orderdate" not in schema and "o_orderpriority" not in schema
    assert any("o_totalprice" in p for p in facts["pushed_filters"])


def test_dim_joins_broadcast(spark, sf_dir):
    # fact × dimension joins must broadcast — no shuffle of the fact side
    facts = plan_facts(E.q_join_lineitem_part(spark, sf_dir))
    assert facts["joins"] and all(
        j == "BroadcastHashJoin" for j in facts["joins"]), facts
    facts = plan_facts(E.q_join_cust_orders_nation(spark, sf_dir))
    assert "BroadcastHashJoin" in facts["joins"], facts


def test_execute_query_broadcasts_dims(spark, sf_dir):
    facts = plan_facts(E.q_execute_query(spark, sf_dir))
    # nation and region are tiny: Catalyst must pick broadcast for them
    assert facts["joins"].count("BroadcastHashJoin") >= 2, facts


def test_typed_where_pushes_equality_filters(spark, sf_dir):
    facts = plan_facts(E.q_typed_where(spark, sf_dir))
    pushed = " ".join(facts["pushed_filters"])
    assert "c_mktsegment" in pushed and "c_nationkey" in pushed, facts


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    facts = plan_facts(E.q_decontaminate(spark, sf_dir))
    # the overlap probe must broadcast the benchmark shingles — the corpus
    # side of the semi-join never shuffles
    assert "BroadcastHashJoin" in facts["joins"], facts
    assert "SortMergeJoin" not in facts["joins"], facts


def test_narrow_text_maps_have_no_exchanges(spark, sf_dir):
    # chunking / quality / redaction are per-row maps: zero joins, and no
    # exchange beyond the scan itself
    for q in (E.q_chunk_docs, E.q_gopher_quality, E.q_pii_redact):
        facts = plan_facts(q(spark, sf_dir))
        assert not facts["joins"], (q.__name__, facts)
        assert facts["exchanges"] == 0, (q.__name__, facts)


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Co-located layout: two tables bucketed on the join key must join
    with NO Exchange on either side (the repeated-join scale strategy) —
    vs the plain parquet join which shuffles both sides."""
    from pyspark.sql import functions as F

    from keboola_storage_duckdb_spark.plans import plan_facts
    from keboola_storage_duckdb_spark.sources.bucketed import (
        bucketed, write_bucketed)
    from keboola_storage_duckdb_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    # plain join shuffles (disable auto-broadcast so size doesn't hide it)
    with_conf = spark.conf
    prev = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
    with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = plan_facts(
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
                    .groupBy("o_orderpriority")
                    .agg(F.count(F.lit(1)).alias("n")))
        assert plain["exchanges"] >= 2  # both sides shuffle

        write_bucketed(orders, "orders_b", "o_orderkey", n_buckets=8)
        write_bucketed(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "lineitem_b", "o_orderkey", n_buckets=8)
        ob, lb = bucketed(spark, "orders_b"), bucketed(spark, "lineitem_b")
        joined = lb.join(ob, "o_orderkey").select("o_orderkey",
                                                  "o_orderpriority",
                                                  "l_quantity")
        facts = plan_facts(joined)
        assert facts["joins"] == ["SortMergeJoin"], facts
        assert facts["exchanges"] == 0, facts  # co-located: no shuffle
        assert joined.count() == lineitem.count()
    finally:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_pack_sequences_never_single_partition(spark, sf_dir,
                                               monkeypatch):
    """The distributed packing exclusive scan (the form past the driver
    bound — the 100 TB path) must stay partition-parallel: no
    SinglePartition exchange (the naive global-window cumsum plans
    `Exchange SinglePartition` — the classic 100 TB scale-killer) and
    the window must be keyed by the partition id. Under the bound the
    gated form is one bounded driver collect, planned as a local table."""
    from keboola_storage_duckdb_spark.functions import util

    gated = E.q_pack_sequences(spark, sf_dir)
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    monkeypatch.setattr(util, "DRIVER_ROUTES", False)
    df = E.q_pack_sequences(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert "windowspecdefinition(pid" in plan.lower().replace(" ", ""), plan


def test_range_join_is_hash_join_not_nested_loop(spark, sf_dir):
    """The bucketed range join must plan as a hash equi-join on the
    bucket id — BroadcastNestedLoopJoin / CartesianProduct would be the
    raw theta join's scale-killer plan."""
    df = E.q_range_join(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan, plan


def test_duplicate_spans_never_pair_joins(spark, sf_dir):
    """Substring dedup must stay linear: the duplicate test is a
    count-per-hash aggregate + semi-join — a pair self-join on the hash
    (the suffix-array shortcut's naive translation) would square with
    duplicate multiplicity. Also pin: no CartesianProduct, and the
    positions re-partition by document for the island merge."""
    df = E.q_duplicate_spans(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftSemi" in plan, plan            # marker join, not an inner pair join
    facts = plan_facts(df)
    assert "SortMergeJoin" not in facts["joins"], facts


def test_pq_plans_broadcast_queries_no_single_partition(spark, sf_dir):
    """The PQ family (VERDICT r9 #4): the query side rides a broadcast
    (BroadcastNestedLoopJoin with broadcast build for the crossJoin —
    never CartesianProduct), no SinglePartition exchange anywhere, and
    the code assignment is the SINGLE-PARSE array_min(transform(...))
    expression (one occurrence; the 2^ksub when-chain and the m·ksub
    separate parses were both measured regressions, similarity.py)."""
    for q in (E.q_ann_pq, E.q_ann_pq_lut):
        df = q(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, plan
        assert "SinglePartition" not in plan, plan
        assert "BroadcastNestedLoopJoin" in plan, plan
        assert plan.count("array_min(transform") == 1, \
            plan.count("array_min(transform")


def test_ivfpq_routes_via_broadcast_hash_join(spark, sf_dir):
    """Composed IVFPQ: the routed (query, label) probes must reach the
    codes scan as a BroadcastHashJoin on label (the corpus never
    shuffles for routing), with the usual no-scale-killer pins."""
    df = E.q_ann_ivfpq(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_rerank_stage2_point_lookup(spark, sf_dir):
    """Two-stage retrieval (ADVICE r10): the exact re-rank must join the
    tiny Q·shortlist candidate set against the raw vectors as a
    BroadcastHashJoin point lookup — never a SortMergeJoin that shuffles
    the whole corpus for Q·20 rows."""
    df = E.q_ivfpq_rerank(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # r13: the persisted path injects a runtime bloom filter whose BUILD
    # side aggregates the tiny query set to one partition — benign O(Q).
    # The pin's intent stands: no CORPUS work on a single partition, so
    # SinglePartition exchanges are allowed only for the bloom build.
    if "Exchange SinglePartition" in plan:
        assert "bloom_filter_agg" in plan, plan
        assert plan.count("Exchange SinglePartition") \
            == plan.count("partial_bloom_filter_agg"), plan


def test_pq_recall_checkpoints_exact_side(spark, sf_dir):
    """The recall frames' exact side is localCheckpointed (multi-
    consumer cut): the executed plan of the comparison must read the
    checkpoint (scan of an ExistingRDD/LocalTableScan side), and never
    re-plan the full Q×N search twice — pinned structurally by the
    checkpoint scan marker."""
    df = E.q_pq_recall(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_dedup_safe_split_no_scale_killers(spark, sf_dir):
    """The split composes detector + components + one join + a narrow
    md5 map: no CartesianProduct / nested loop anywhere."""
    df = E.q_dedup_safe_split(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_indexed_nprobe_search_prunes_codes_partitions(spark, sf_dir):
    """Persisted IVFPQ search (VERDICT r11 #4): the probed label set is
    collected driver-side (at most n_lists values) and pushed as a
    STATIC `label IN` predicate onto the label-partitioned codes scan —
    PartitionFilters in the plan, so nprobe search reads only the
    probed posting lists. Without it the scan reads every code and the
    route set only filters at the join: at 100 TB that is the
    difference between reading nprobe lists and the whole index."""
    df = E.q_ann_ivfpq_indexed(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    scans = [l for l in plan.splitlines()
             if "FileScan" in l and "ann_index" in l]
    assert scans, plan
    assert any(re.search(r"PartitionFilters: \[.*label.* IN \(", s)
               for s in scans), scans
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_sq8_indexed_search_reads_codes_only(spark, sf_dir):
    """Persisted SQ8 serving path: the only file scan is the stored
    codes table (dim uint8 ints per vector) — the raw embeddings
    parquet never appears in the plan (queries are a broadcast
    literal-side input), and ranking stays a broadcast, not a shuffle
    of the corpus."""
    df = E.q_ann_sq8_indexed(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert scans, plan
    corpus_scans = [s for s in scans if "ann_index" not in s]
    # the query side (vec_id < 10) may scan the source; the CORPUS side
    # must come from the stored codes
    assert all("LessThan(vec_id,10)" in s or "vec_id" in s
               for s in corpus_scans), corpus_scans
    assert any("ann_index" in s for s in scans), scans
    assert "CartesianProduct" not in plan, plan


def test_residual_indexed_search_prunes_codes_partitions(spark, sf_dir):
    """Residual encoding must not change the scan shape: the probed
    label set still prunes the label-partitioned codes table statically
    (PartitionFilters), and the per-list query residual stays on the
    broadcast side."""
    df = E.q_ann_residual_indexed(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    scans = [l for l in plan.splitlines()
             if "FileScan" in l and "ann_index" in l]
    assert scans, plan
    assert any(re.search(r"PartitionFilters: \[.*label.* IN \(", s)
               for s in scans), scans
    assert "CartesianProduct" not in plan, plan


def test_cosine_near_dup_unblocked_is_crossjoin_free(spark, sf_dir):
    """VERDICT r13 #1: the unblocked cosine threshold join must never
    plan a corpus×corpus cross join. The exact two-stage shape is
    pinned: candidate generation is an Arrow mapInPandas over the
    vectors scan (the O(N²) dots run as BLAS there), and the exact
    verify joins the candidate stream against the broadcast corpus as
    BroadcastHashJoins — no CartesianProduct / BroadcastNestedLoopJoin
    anywhere, for the pair query and both of its consumers
    (near_dedup_keep, dedup_clusters)."""
    for q in (E.q_cosine_near_dup, E.q_near_dedup_keep,
              E.q_dedup_clusters):
        df = q(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
    # pin the stage shape on the pair query itself
    df = E.q_cosine_near_dup(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_cosine_blocked_adaptive_kernel_routing(spark, sf_dir,
                                                monkeypatch):
    """r14: the blocked cosine join is kernel-adaptive — below the
    broadcast gate the per-block dot products run through the BLAS
    candidate stage (MapInPandas, broadcast-hash verify); past the gate
    it must fall back to the co-partitioned per-block JOIN (a huge
    block's quadratic work must distribute across the cluster, not pin
    one Arrow task). Both ends pinned."""
    from keboola_storage_duckdb_spark.functions import similarity
    from keboola_storage_duckdb_spark.functions.similarity import (
        cosine_near_dup_pairs)
    from keboola_storage_duckdb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    gated = cosine_near_dup_pairs(emb, "vec_id", "embedding", 0.35,
                                  block_col="label")
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    assert "CartesianProduct" not in plan, plan
    monkeypatch.setattr(similarity, "_COSINE_BROADCAST_MAX_ROWS", 1)
    big = cosine_near_dup_pairs(emb, "vec_id", "embedding", 0.35,
                                block_col="label")
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan, plan
