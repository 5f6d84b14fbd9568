"""Physical-plan regression tests: the scale properties we claim must be
visible in the plan, not just asserted in docstrings. If a refactor turns a
broadcast join into a sort-merge or un-pushes a filter, these fail."""

from __future__ import annotations

import contextlib
import io

import pytest

from bookstore_aws_lakehouse_spark.registry import load_all

GOLDEN, _ = load_all()


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_flagship_plan_shape(spark, sf_smoke):
    plan = plan_of(GOLDEN["topk_books"](spark, sf_smoke))
    # dim side broadcasts; the fact table is never shuffled for the join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # top-k fuses into per-partition heaps, not a global sort
    assert "TakeOrderedAndProject" in plan
    # partial + final aggregation around one exchange
    assert plan.count("HashAggregate") >= 2


def test_column_pruning_reaches_scan(spark, sf_smoke):
    plan = plan_of(GOLDEN["topk_books"](spark, sf_smoke))
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    li_scan = next(l for l in scans if "l_partkey" in l)
    # lineitem has 11 columns; the flagship needs exactly 2
    assert "l_partkey" in li_scan and "l_quantity" in li_scan
    assert "l_extendedprice" not in li_scan and "l_shipdate" not in li_scan


def test_predicate_pushdown_reaches_scan(spark, sf_smoke):
    plan = plan_of(GOLDEN["filter_where"](spark, sf_smoke))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("c_mktsegment" in l and "FURNITURE" in l for l in pushed), pushed


def test_q1_single_exchange(spark, sf_smoke):
    # scan → partial agg → one exchange → final agg (formatted explain
    # prints each node twice: tree + detail, so count detail headers)
    import re

    plan = plan_of(GOLDEN["q1_pricing_summary"](spark, sf_smoke))
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) <= 1, plan


def test_semi_join_carries_no_payload(spark, sf_smoke):
    plan = plan_of(GOLDEN["semi_anti_join"](spark, sf_smoke))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_lsh_buckets_no_shuffle(spark, sf_smoke):
    # bucketing is a pure Project: repartition-free, exchange-free
    plan = plan_of(GOLDEN["ann_lsh_buckets"](spark, sf_smoke))
    assert "Exchange" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "dedup_simhash_pairs",
        "embedding_dedup_survivors",
        "fuzzy_part_names",
        "dedup_survivors",
        "q2_min_cost_supplier",
        "q21_waiting_suppliers",
    ],
)
def test_pair_generation_never_cartesian(spark, sf_smoke, name):
    """The three former all-pairs holdouts are banded/blocked equi-joins
    now — a cartesian node reappearing is a 100×-scale regression."""
    plan = plan_of(GOLDEN[name](spark, sf_smoke))
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_candidate_stages_never_cartesian(spark, sf_smoke):
    """The eager pair queries (near_dup, containment, jaccard, winnowed)
    explain as checkpoint scans, so their join shapes are guarded here
    on the LAZY candidate stages the operators filter (the same pattern
    as pagerank's pin=False plan test)."""
    from pyspark.sql import functions as F

    from bookstore_aws_lakehouse_spark.catalog import load_table
    from bookstore_aws_lakehouse_spark.operators.dedup import (
        shingle_candidates,
        winnowed_candidates,
    )
    from bookstore_aws_lakehouse_spark.operators.similarity import (
        lsh_candidate_pairs,
    )

    docs = load_table(spark, sf_smoke, "documents")
    emb = load_table(spark, sf_smoke, "embeddings")
    for name, df in [
        ("shingle", shingle_candidates(docs, "doc_id", "text", 3, 100)),
        ("winnowed", winnowed_candidates(docs, "doc_id", "text", 3, 4, 100)),
        ("lsh", lsh_candidate_pairs(emb)),
    ]:
        plan = plan_of(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "Join" in plan, name  # the guard is non-vacuous


def test_scored_pair_plans_never_cartesian(spark, sf_smoke):
    """ADVICE r11: the candidate-stage guards above stop at the lazy
    index stage — the FINAL scored joins (candidates joined back to
    sizes/vectors) went unguarded once the operators became eager. The
    ``pin=False`` escape returns each operator's OWN lazy scored plan
    (not a test-local reconstruction that could drift), so the full
    shape through the similarity cut is pinned here."""
    from bookstore_aws_lakehouse_spark.catalog import load_table
    from bookstore_aws_lakehouse_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
        winnowed_pairs,
    )
    from bookstore_aws_lakehouse_spark.operators.similarity import cosine_pairs

    docs = load_table(spark, sf_smoke, "documents")
    emb = load_table(spark, sf_smoke, "embeddings")
    for name, df in [
        ("jaccard", jaccard_pairs(docs, "doc_id", "text", pin=False)),
        ("containment", containment_pairs(docs, "doc_id", "text", pin=False)),
        ("winnowed", winnowed_pairs(docs, "doc_id", "text", pin=False)),
        ("cosine_lsh", cosine_pairs(emb, pin=False)),
    ]:
        plan = plan_of(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "Join" in plan, name  # non-vacuous


def test_salted_join_spreads_hot_key(spark):
    """Skew evidence at the task level: with a key holding ~50% of the
    fact, a shuffle join pins that key's whole output on ONE partition (a
    straggler at scale); salted_join must spread it so no partition holds
    more than a third of what the plain join's worst partition holds.
    Measured on actual executed partitions (spark_partition_id), not plan
    text. Broadcast and AQE are disabled so the shuffle path is what's
    measured (broadcast joins don't shuffle and AQE coalescing would
    remix tiny test partitions)."""
    from pyspark.sql import functions as F

    from bookstore_aws_lakehouse_spark.operators.joins import salted_join

    fact = spark.range(0, 40_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 20_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")

        def max_partition_fraction(df):
            counts = [
                r["count"]
                for r in df.select(F.spark_partition_id().alias("pid"))
                .groupBy("pid")
                .count()
                .collect()
            ]
            return max(counts) / sum(counts)

        plain = max_partition_fraction(fact.join(dim, "k"))
        salted = max_partition_fraction(salted_join(fact, dim, on="k", num_salts=16))
        assert plain >= 0.4, plain  # the hot key really does pin one task
        assert salted <= plain / 3, (plain, salted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_session_defaults_enable_aqe(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_q6_filters_push_to_scan(spark, sf_smoke):
    plan = plan_of(GOLDEN["q6_forecast_revenue"](spark, sf_smoke))
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    for col in ["l_shipdate", "l_discount", "l_quantity"]:
        assert col in pushed, (col, pushed)


def test_partitioned_mart_gets_partition_pruning(spark, sf_smoke, tmp_path):
    from bookstore_aws_lakehouse_spark.sources.writers import write_parquet

    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    path = str(tmp_path / "mart")
    write_parquet(li, path, partition_by=["l_returnflag"])
    back = spark.read.parquet(path).filter("l_returnflag = 'A'")
    plan = plan_of(back)
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "l_returnflag" in pf, pf  # pruning: only the A directory is read


def test_q9_star_shape(spark, sf_smoke):
    plan = plan_of(GOLDEN["q9_product_profit"](spark, sf_smoke))
    # filtered part and supplier⋈nation broadcast — the fact side never
    # shuffles for the dimension joins
    assert plan.count("BroadcastHashJoin") >= 3
    # derived partsupp: partial + final aggregate pair, and the p_name
    # pattern filter reaches the part scan
    assert plan.count("HashAggregate") >= 2
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_name" in l for l in pushed), pushed


def test_q8_market_share_shape(spark, sf_smoke):
    """q8 (VERDICT r10 #8): two-year market share over an 8-table star.
    Every dimension join must broadcast — the lineitem fact side never
    shuffles for a dim — and the order-date window must reach the orders
    scan as a pushed range filter."""
    plan = plan_of(GOLDEN["q8_market_share"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5
    # the fact never sort-merges against a dimension
    assert "SortMergeJoin" not in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l and "GreaterThanOrEqual" in l for l in pushed), pushed


def test_q21_waiting_suppliers_shape(spark, sf_smoke):
    """q21 (VERDICT r10 #8): the suite's heaviest join tree — lineitem
    joined against itself twice (other-supplier exists / other-supplier
    late anti). The self-joins are key-equi (sort-merge on l_orderkey is
    the right plan for fact⋈fact), the dim joins broadcast, the final
    top-100 fuses into TakeOrderedAndProject, and the o_orderstatus='F'
    literal reaches the orders scan."""
    plan = plan_of(GOLDEN["q21_waiting_suppliers"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 4
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("EqualTo(o_orderstatus,F)" in l for l in pushed), pushed


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_smoke):
    """At 100 TB the selective-dim → fact runtime Bloom filter is a major
    scan reducer (on by default in Spark 4; the 10 GB application-side
    threshold triggers naturally at scale). Lower the threshold to fixture
    size to assert the engine's session actually injects it: the fact side
    gains a might_contain(bloom_filter_agg(dim keys)) predicate."""
    import io
    from pyspark.sql import functions as F

    saved = {
        c: spark.conf.get(c)
        for c in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1KB",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
        pt = spark.read.parquet(f"{sf_smoke}/part.parquet").filter(
            F.col("p_size") == 10
        )
        j = li.join(pt, li.l_partkey == pt.p_partkey).groupBy("p_brand").count()
        import contextlib

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain(True)
        assert "might_contain" in buf.getvalue()
    finally:
        for c, v in saved.items():
            spark.conf.set(c, v)


def test_dynamic_partition_pruning_on_mart_join(spark, sf_smoke, tmp_path):
    """Dynamic partition pruning: joining a hive-partitioned mart to a
    FILTERED dim must inject a dynamicpruning#N subquery on the fact's
    partition column — at scale the fact reads only the dim-selected
    partition directories instead of the whole mart. (The optimizer's
    benefit heuristic requires a filter on the dim side; an unfiltered
    dim skips DPP by design.)"""
    import contextlib
    import io

    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    li.write.partitionBy("l_returnflag").parquet(str(tmp_path / "mart"))
    spark.createDataFrame(
        [("A", 1), ("N", 2), ("R", 3)], ["flag", "w"]
    ).write.parquet(str(tmp_path / "dim"))
    fact = spark.read.parquet(str(tmp_path / "mart"))
    dim = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("w") == 1)
    j = (
        fact.join(dim, fact.l_returnflag == dim.flag)
        .groupBy("flag")
        .agg(F.sum("l_quantity"))
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        j.explain(True)
    assert "dynamicpruning" in buf.getvalue().lower()


def test_approx_distinct_has_no_expand(spark, sf_smoke):
    """The r7 perf fix: mixing count_distinct with a non-distinct agg in
    one groupBy plans an Expand that doubles the shuffled rows (measured
    8.5 s → 1.9 s at sf0.1 after splitting). Pin the Expand-free shape."""
    plan = plan_of(GOLDEN["approx_distinct_accuracy"](spark, sf_smoke))
    assert "Expand" not in plan
    assert "BroadcastHashJoin" in plan  # 3-row sketch side broadcast back


def test_pagerank_joins_are_keyed_not_cartesian(spark, sf_smoke):
    """PageRank's per-iteration joins must be keyed equi-joins; the only
    nested-loop allowed is the broadcast of the single-row node count.
    Inspected via ``pin=False`` (the lazy unrolled plan): the default
    pinned form materializes at construction and explains as a bare
    checkpointed-RDD scan, hiding the join shapes this test guards."""
    from pyspark.sql import functions as F

    from bookstore_aws_lakehouse_spark.catalog import load_table
    from bookstore_aws_lakehouse_spark.operators.graph import pagerank

    orders = load_table(spark, sf_smoke, "orders")
    li = load_table(spark, sf_smoke, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    plan = plan_of(pagerank(edges, num_iters=2, pin=False))
    assert "CartesianProduct" not in plan
    # contributions join on src / final left join on id: hash joins only
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_hll_merge_is_two_level(spark, sf_smoke):
    """The mergeable-rollup shape: partial sketch agg under one exchange,
    then the sketch-union agg — no row-level recomputation."""
    plan = plan_of(GOLDEN["hll_merge_across_groups"](spark, sf_smoke))
    assert "hll_sketch_agg" in plan
    assert "hll_union_agg" in plan
    assert "Expand" not in plan


def test_pq_encode_is_broadcast_keyed(spark, sf_smoke):
    """PQ encoding must be one corpus scan + a broadcast codebook join —
    never a cartesian, never a shuffle of the corpus for the join."""
    plan = plan_of(GOLDEN["embedding_pq_encode"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivfpq_scoring_joins_are_keyed(spark, sf_smoke):
    """IVFPQ: the scoring path (cell candidates, code lookup, LUT) is
    keyed equi-joins with the small sides broadcast. The only nested
    loops allowed are ivf_assign's deliberate broadcast-centroid scans
    (every vector scores every centroid — that IS the operator)."""
    plan = plan_of(GOLDEN["ann_ivfpq_topk"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    # candidate-cell join, code join, and the (query,subspace,code) LUT
    # lookup must all be hash equi-joins
    assert plan.count("BroadcastHashJoin") >= 3


def test_theta_and_kll_are_two_level_sketch_rollups(spark, sf_smoke):
    """Sketch rollups must aggregate sketches, not re-shuffle rows: the
    sketch agg functions appear in the plan and nothing Expands."""
    plan = plan_of(GOLDEN["kll_quantile_merge"](spark, sf_smoke))
    assert "kll_sketch_agg" in plan and "kll_merge_agg" in plan
    assert "Expand" not in plan
    plan2 = plan_of(GOLDEN["theta_set_ops"](spark, sf_smoke))
    assert "theta_sketch_agg" in plan2
    assert "Expand" not in plan2


def test_cms_heavy_hitters_bounded_shuffle_shape(spark, sf_smoke):
    """CMS: the sketch build partial-aggregates map-side (HashAggregate
    below the exchange on (row, bucket) — the shuffle ceiling is
    depth*width rows per task), the grid joins the probes by broadcast,
    and nothing is cartesian except the 1-row total-count broadcast."""
    plan = plan_of(GOLDEN["token_cms_heavy_hitters"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final for grid & topk


def test_nb_langid_model_join_is_keyed(spark, sf_smoke):
    """NB scoring: the model joins on (label, token) — keyed hash join;
    the only nested-loop allowed is the broadcast label fan-out (|labels|
    rows) and scalar aggregates."""
    plan = plan_of(GOLDEN["text_nb_langid_confusion"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    # broadcast fan-outs: labels onto tokens, scalars into the model
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the argmax is a window row_number, not a self-join
    assert "Window" in plan


def test_ivfpq_residual_joins_are_keyed(spark, sf_smoke):
    """Residual IVFADC keeps ivfpq's scale shape: candidates come from a
    cell-keyed join, scoring is LUT-keyed on (query, subspace, code);
    the only nested loops are the deliberate broadcast-centroid
    assignment scans."""
    plan = plan_of(GOLDEN["ann_ivfpq_residual_topk"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_hot_key_salted_join_spreads_hot_key(spark):
    """Same task-level spread contract as blanket salting, via the
    hot_keys-targeted form: the hot key's output fans out over the salt
    space while the dim side replicates only the hot row (cost contract
    tested in test_bucketing)."""
    from pyspark.sql import functions as F

    from bookstore_aws_lakehouse_spark.operators.joins import salted_join

    fact = spark.range(0, 40_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 20_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")

        def max_partition_fraction(df):
            counts = [
                r["count"]
                for r in df.select(F.spark_partition_id().alias("pid"))
                .groupBy("pid")
                .count()
                .collect()
            ]
            return max(counts) / sum(counts)

        plain = max_partition_fraction(fact.join(dim, "k"))
        salted = max_partition_fraction(
            salted_join(fact, dim, on="k", num_salts=16, hot_keys=[0])
        )
        assert plain >= 0.4, plain
        assert salted <= plain / 3, (plain, salted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_dv_free_snapshot_read_plans_plain_scan(spark, tmp_path):
    """The DV-aware read path must cost NOTHING on clean tables: no join,
    no _metadata projection — one FileSourceScan, same as before DVs
    existed. With vectors present, the plan is scan + broadcast
    left_anti against the (deleted-rows-sized) sidecar — never a
    shuffle of the data side."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_delete_dv,
        snapshot_overwrite,
        snapshot_read,
    )

    table = str(tmp_path / "t")
    snapshot_overwrite(
        spark.range(0, 1000).selectExpr("id as k", "cast(id as double) as v"),
        table,
    )
    clean = snapshot_read(spark, table)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in clean and "_metadata" not in clean, clean
    snapshot_delete_dv(spark, table, "k < 5")
    dirty = snapshot_read(spark, table)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in dirty and "LeftAnti" in dirty, dirty
    assert "SortMergeJoin" not in dirty and "Exchange hashpartitioning" not in dirty, dirty


def test_remove_repeated_passages_single_rebuild_pass(spark, sf_smoke):
    """The boilerplate-removal rebuild is ONE aggregation over all chunks
    (collect_list skips NULLed boilerplate structs) joined once against
    the passage-df table — the old shape paid a third totals aggregation
    plus a second join over the exploded chunks (NOTES_r11 §11)."""
    import re
    from collections import Counter

    from bookstore_aws_lakehouse_spark.operators.text import (
        remove_repeated_passages,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    out = remove_repeated_passages(docs, "doc_id", "text", block=32, max_docs=1)
    p = out._jdf.queryExecution().executedPlan().toString()
    joins = re.findall(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", p)
    assert len(joins) == 1, joins
    aggs = Counter(
        re.findall(r"(HashAggregate|ObjectHashAggregate|SortAggregate)\(", p)
    )
    # rebuild agg = partial+final ObjectHashAggregate (collect_list);
    # the 4 HashAggregates are count_distinct's expansion of the df agg
    assert aggs.get("ObjectHashAggregate", 0) + aggs.get("SortAggregate", 0) == 2, aggs
    assert sum(aggs.values()) <= 6, aggs


def test_semantic_dedup_assignment_runs_once(spark, sf_smoke):
    """SemDeDup feeds the cell assignment to three consumers (both
    pair-join sides + the output spine). The |corpus|×|centroids|
    argmax is the dominant cost, so it must be pinned and reused —
    a LAZY persist scanned three times as an InMemoryRelation (not a
    localCheckpoint: ExistingRDD loses the size stats and forces the
    pair join to sort-merge, measured 3.1×; lazy so the CacheManager's
    plan-keyed dedup keeps same-corpus invocations on one materialized
    assignment) — and the in-cell pair scan must be a keyed equi-join,
    never a cartesian. The ADVICE r9 accumulation leak is bounded by
    evicting the previous cache when the corpus CHANGES."""
    import re

    from bookstore_aws_lakehouse_spark.operators.similarity import (
        _SEMDEDUP_CACHE,
        semantic_dedup,
    )

    plan = plan_of(GOLDEN["semantic_dedup"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 3
    # bounded accumulation: a same-corpus re-invocation keeps the ONE
    # registered cache; a different-corpus invocation evicts and replaces
    GOLDEN["semantic_dedup"](spark, sf_smoke).collect()
    assert len(_SEMDEDUP_CACHE) == 1
    kept = _SEMDEDUP_CACHE[-1]
    from pyspark.sql import functions as F

    emb2 = (
        spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
        .limit(40)
        .select((F.col("vec_id") + 1).alias("vec_id"), "embedding", "label")
    )
    cents2 = emb2.limit(2).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    semantic_dedup(emb2, cents2, threshold=0.4).collect()
    assert len(_SEMDEDUP_CACHE) == 1
    assert _SEMDEDUP_CACHE[-1] is not kept
    # the only nested loop allowed is ivf_assign's deliberate Cross
    # broadcast-centroid scan (inside the cached relation) — the pair
    # join itself is an equi-join on centroid_id, which Spark plans as
    # SortMergeJoin cold and BroadcastHashJoin once cached stats show
    # the pinned cells frame is small; either is keyed, neither loops
    # tree lines carry the join type ("BroadcastNestedLoopJoin Cross
    # BuildRight"); detail headers don't name one and never match
    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+)", plan):
        assert m.group(1) == "Cross", m.group(0)


def test_pii_redact_is_shuffle_free(spark, sf_smoke):
    """redact_pii's 100-TB claim is 'pure scan-bandwidth map pass': the
    per-doc golden row must plan with NO exchange — regex replace and
    counts fuse into the projection over the scan."""
    plan = plan_of(GOLDEN["text_pii_redact"](spark, sf_smoke))
    assert "Exchange" not in plan
    assert "codegen id" in plan  # the projection compiles, no interpreted gap


def test_capped_clusters_cap_stage_shape(spark, sf_smoke):
    """The neighbor cap's plan contract: the ranking is one window over a
    hash-partition on the endpoint id — keyed exchanges only, never a
    cartesian or a global sort of the pair set."""
    from pyspark.sql import functions as F

    from bookstore_aws_lakehouse_spark.catalog import load_table
    from bookstore_aws_lakehouse_spark.operators.dedup import (
        cap_pair_neighbors,
        jaccard_pairs,
    )

    docs = load_table(spark, sf_smoke, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", threshold=0.1, pin=False)
    plan = plan_of(cap_pair_neighbors(pairs, k=10))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    # the window shuffles on the endpoint id, not a global range sort
    assert "rangepartitioning" not in plan.lower().replace(" ", "")


def test_verify_pairs_plan_never_cartesian(spark, sf_smoke):
    """The verify stage's lazy plan must join candidates to the shingle
    sets on endpoint ids — never a nested-loop/cartesian shape, and the
    intersection must stay a projection (array_intersect), not a
    re-exploded postings join."""
    from bookstore_aws_lakehouse_spark.catalog import load_table
    from bookstore_aws_lakehouse_spark.operators.dedup import (
        verify_candidate_pairs,
    )

    docs = load_table(spark, sf_smoke, "documents")
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    plan = plan_of(
        verify_candidate_pairs(docs, pairs, "doc_id", "text", pin=False)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_intersect" in plan


def test_pca_outliers_scoring_plan_is_one_scan_topk(spark, sf_smoke):
    """The outlier row's scoring pass must stay map-side: exactly one
    FileScan, no Exchange, ending in TakeOrderedAndProject — the
    covariance chain runs at build and rides in as literals."""
    df = GOLDEN["embedding_pca_outliers"](spark, sf_smoke)
    plan = plan_of(df)
    # one "Location:" line per FileScan node detail (the tree summary
    # repeats the node name, so counting "Scan parquet" would double)
    assert plan.count("Location:") == 1
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan
