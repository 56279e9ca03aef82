"""Relational-tier semantic tests that the DuckDB oracle can't cover:
approximate-aggregate accuracy, and physical-plan shape (pushdown,
broadcast choice, top-k codepath) — the properties that decide whether
these plans survive a 100x scale-up.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bfs_mapreduce_spark.registry import all_queries
from bfs_mapreduce_spark.sources.readers import load_table

CATALOG = all_queries()


from bfs_mapreduce_spark.plans import executed_plan as _plan  # noqa: E402


def test_approx_count_distinct_accuracy(spark, sf_oracle_dir):
    """HLL++ at rsd=0.02 must land within 5% of the exact count."""
    approx = {
        r["l_returnflag"]: r["approx_parts"]
        for r in CATALOG["q_approx_count_distinct"].build(spark, sf_oracle_dir).collect()
    }
    exact = {
        r["l_returnflag"]: r["n"]
        for r in load_table(spark, sf_oracle_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for k in exact:
        rel_err = abs(approx[k] - exact[k]) / exact[k]
        assert rel_err < 0.05, f"{k}: approx={approx[k]} exact={exact[k]} err={rel_err:.3f}"


def test_filter_and_projection_push_into_scan(spark, sf_oracle_dir):
    plan = _plan(CATALOG["q_filter_project"].build(spark, sf_oracle_dir))
    assert "PushedFilters: [" in plan and "o_orderstatus" in plan.split("PushedFilters")[1][:200]
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the 3 projected columns reach the scan
    assert "o_orderdate" not in read_schema and "o_orderpriority" not in read_schema


def test_q3_broadcasts_the_filtered_dimension(spark, sf_oracle_dir):
    plan = _plan(CATALOG["q3_top_orders"].build(spark, sf_oracle_dir))
    assert "BroadcastHashJoin" in plan


def test_global_topk_avoids_full_sort(spark, sf_oracle_dir):
    plan = _plan(CATALOG["q_global_topk"].build(spark, sf_oracle_dir))
    assert "TakeOrderedAndProject" in plan


def test_sink_roundtrip_read_prunes_partitions(spark, sf_oracle_dir):
    """The sink query's read-back must prune at the directory level:
    the priority filter appears as PartitionFilters on the scan, not a
    post-scan Filter over all partitions."""
    CATALOG["q_sink_roundtrip"].build(spark, sf_oracle_dir)  # materialize the sink dir
    import os
    import tempfile

    from bfs_mapreduce_spark.operators.sink_queries import _PROC

    out = os.path.join(
        tempfile.gettempdir(),
        "bfs_mapreduce_spark_sink",
        _PROC,
        os.path.basename(sf_oracle_dir.rstrip("/")),
    )
    from pyspark.sql import functions as F

    back = spark.read.parquet(out).filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    part_filters = _plan(back).split("PartitionFilters:")[1].splitlines()[0]
    assert "o_orderpriority" in part_filters


def test_bucketed_join_query_is_exchange_free(spark, sf_oracle_dir):
    """q_sink_bucketed_join's scale claim in the plan: with broadcast
    disabled, the bucketed fact-fact join is a SortMergeJoin with ZERO
    exchanges — the bucket layout satisfies the join's distribution."""
    from bfs_mapreduce_spark.operators.sink_queries import bucketed_join_frames

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(bucketed_join_frames(spark, sf_oracle_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan


def test_unpivot_plans_one_scan_one_exchange(spark, sf_oracle_dir):
    """The melt must be an Expand over ONE 4-column scan (not four
    scans unioned), with the aggregate's exchange as the only shuffle."""
    plan = _plan(CATALOG["q_unpivot"].build(spark, sf_oracle_dir))
    assert "Expand" in plan
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Exchange") == 1, plan


def test_pipeline_prepare_plans_single_shuffle(spark, sf_oracle_dir):
    """The composed prep pipeline (quality filter -> dedup keep-first ->
    hash sample) must cost exactly one exchange — the dedup window's
    hash partition; the filters and sample ride the same scan."""
    plan = _plan(CATALOG["q_pipeline_prepare"].build(spark, sf_oracle_dir))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_pack_sequences_plans_per_shard_window(spark, sf_oracle_dir):
    """Sequence packing must partition by the shard key (no global
    sort): one exchange hash-partitioned on source, then an
    in-partition sort for the running-sum window."""
    plan = _plan(CATALOG["q_text_pack_sequences"].build(spark, sf_oracle_dir))
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(source" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_no_cartesian_products_anywhere(spark, sf_oracle_dir):
    """No catalog query may plan a CartesianProduct. (Deliberate small
    broadcast cross joins compile to BroadcastNestedLoopJoin, which is
    fine; an unpartitioned CartesianProduct at 100 TB is never fine.)"""
    # excluded: streaming entries (build() runs the stream) and
    # driver-loop operators whose build() executes jobs (their per-round
    # plans are join+agg, audited in their own tests) — this test is
    # about single-plan catalog queries
    driver_loop = {"q_graph_bfs_smallg", "q_graph_bfs_histogram",
                   "q_graph_sssp_cost", "q_graph_pagerank2", "q_dedup_clusters",
                   "q_graph_kcore", "q_similarity_kmeans_assign"}
    for name, q in CATALOG.items():
        if name.startswith("q_stream_") or name in driver_loop:
            continue
        plan = _plan(q.build(spark, sf_oracle_dir))
        assert "CartesianProduct" not in plan, name


def test_approx_percentile_accuracy(spark, sf_oracle_dir):
    """percentile_approx(accuracy=100) must land within 2% relative of
    the exact interpolated percentile on this data."""
    approx = {
        r["l_returnflag"]: (r["price_p50_approx"], r["price_p99_approx"])
        for r in CATALOG["q_approx_percentile"].build(spark, sf_oracle_dir).collect()
    }
    exact = {
        r["l_returnflag"]: (r["p50"], r["p99"])
        for r in load_table(spark, sf_oracle_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
            F.percentile("l_extendedprice", F.lit(0.99)).alias("p99"),
        )
        .collect()
    }
    for k in exact:
        for a, e in zip(approx[k], exact[k]):
            assert abs(a - e) / e < 0.02, f"{k}: approx={a} exact={e}"


def test_scd2_plans_one_sort_for_both_windows(spark, sf_oracle_dir):
    """q_scd2_intervals' scale claim: the lag change-detection and the
    lead interval-close share one (user_id, ts)-compatible partitioning
    — the plan carries exactly ONE exchange (the window hash partition
    on user_id); the second window reuses the first's sort order."""
    plan = _plan(CATALOG["q_scd2_intervals"].build(spark, sf_oracle_dir))
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    assert len(exchanges) == 1, plan


def test_merge_upsert_is_single_join_no_extra_exchange(spark, sf_oracle_dir):
    """q_merge_upsert's shape: one full-outer SortMergeJoin on the
    merge key; both sides read the same scan with pushed filters —
    no cartesian, no nested loop."""
    plan = _plan(CATALOG["q_merge_upsert"].build(spark, sf_oracle_dir))
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocabulary_topk_is_take_ordered(spark, sf_oracle_dir):
    """q_text_vocabulary's scale claim: the top-K over the vocabulary
    is TakeOrderedAndProject (bounded by K), never a global Sort of
    all terms."""
    plan = _plan(CATALOG["q_text_vocabulary"].build(spark, sf_oracle_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_distribution_scalable_uses_range_partitioning(spark, sf_oracle_dir):
    """The scalable global-rank decomposition must range-partition the
    fact rows (parallel bucket sorts), never move them through a
    single-partition global window; the only single-partition work is
    over the bucket-count table."""
    plan = _plan(CATALOG["q_window_distribution"].build(spark, sf_oracle_dir))
    assert "rangepartitioning" in plan, plan
    # the fact-side window partitions by bucket id, so no
    # Exchange SinglePartition feeds a row_number over fact rows
    assert plan.count("SinglePartition") <= 2, plan


def test_catalog_window_distribution_is_the_scalable_plan(spark, sf_oracle_dir):
    """No catalog entry may plan a single-partition window over an
    unbounded input: q_window_distribution holds the range-bucket
    decomposition, while the naive global-window plan survives only as
    the unregistered anti-pattern twin (whose plan this test documents)."""
    from bfs_mapreduce_spark.operators.relational import _window_distribution_naive

    plan = _plan(CATALOG["q_window_distribution"].build(spark, sf_oracle_dir))
    assert "rangepartitioning" in plan, plan
    assert plan.count("SinglePartition") <= 2, plan
    naive = _plan(_window_distribution_naive(spark, sf_oracle_dir))
    # the anti-pattern: every fact row funnels through one partition
    assert "SinglePartition" in naive and "rangepartitioning" not in naive, naive


def test_q19_pushes_per_arm_filters_to_both_scans(spark, sf_oracle_dir):
    """Catalyst must factor the disjunctive bracket predicate: the
    part-only disjunction (brand/size arms) lands on the part scan and
    the lineitem-only quantity disjunction on the lineitem scan — the
    difference between shipping candidate parts and shipping the whole
    dimension at 100 TB."""
    plan = _plan(CATALOG["q19_bracket_revenue"].build(spark, sf_oracle_dir))
    part_scan = [l for l in plan.splitlines() if "part.parquet" in l or ("FileScan" in l and "p_partkey" in l)]
    assert any("p_brand" in l for l in part_scan), plan
    li_scan = [l for l in plan.splitlines() if "FileScan" in l and "l_quantity" in l]
    assert any("l_quantity" in l.split("DataFilters")[-1] for l in li_scan if "DataFilters" in l), plan


def test_q18_aggregates_before_joining(spark, sf_oracle_dir):
    """The HAVING aggregate must reduce lineitem to the big-order key
    set BEFORE the orders join, and that key set must broadcast — the
    aggregate-then-join order that keeps the wide joins off the fact
    table."""
    plan = _plan(CATALOG["q18_large_orders"].build(spark, sf_oracle_dir))
    assert "BroadcastHashJoin" in plan
    bcast_section = plan.split("BroadcastExchange")[1] if "BroadcastExchange" in plan else ""
    assert "HashAggregate" in bcast_section, plan


def test_gopher_rules_plan_is_projection_only(spark, sf_oracle_dir):
    """Every Gopher rule is array arithmetic over the words column —
    the plan must contain NO shuffle at all."""
    plan = _plan(CATALOG["q_text_gopher_rules"].build(spark, sf_oracle_dir))
    assert "Exchange" not in plan, plan


def test_dedup_semantic_pairs_join_on_cell(spark, sf_oracle_dir):
    """Semantic-dedup candidates must stay bucket-bounded by the
    centroid cell — never a nested loop over the corpus. Round 16:
    the candidate stage is the per-cell blockwise GEMM
    (FlatMapGroupsInPandas keyed on cell — one exchange on cell, all
    pairwise work inside the cell group), replacing the a-join-b
    equi-join whose per-pair interpreted fold the x100 stress
    flagged. The no-cartesian contract is unchanged."""
    plan = _plan(CATALOG["q_dedup_semantic"].build(spark, sf_oracle_dir))
    assert "FlatMapGroupsInPandas" in plan, plan  # per-cell pair GEMM
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the cell grouping is a real key exchange, not a global collect
    assert "hashpartitioning(cell" in plan, plan


def test_q6_pushes_everything_into_the_scan(spark, sf_oracle_dir):
    """TPC-H Q6 is the pushdown poster child: shipdate range and
    quantity cap reach the parquet scan, only the 4 needed columns are
    read, and the single aggregate needs no hash Exchange (partial
    rows feed one final agg)."""
    plan = _plan(CATALOG["q6_forecast_revenue"].build(spark, sf_oracle_dir))
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("l_returnflag", "l_partkey", "l_orderkey", "l_tax"):
        assert col not in read_schema, read_schema


def test_q8_snowflake_broadcasts_every_dimension(spark, sf_oracle_dir):
    """Seven-table snowflake: every dimension side is broadcast —
    the fact table never shuffles for a dim join; the only hash
    Exchange is the final per-year aggregate."""
    plan = _plan(CATALOG["q8_market_share"].build(spark, sf_oracle_dir))
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert "SortMergeJoin" not in plan, plan


def test_q15_reuses_one_revenue_aggregate(spark, sf_oracle_dir):
    """The scalar-subquery max must come from the SAME materialized
    revenue aggregate (localCheckpoint barrier), not a second scan of
    lineitem: the final plan shows no lineitem parquet scan at all."""
    plan = _plan(CATALOG["q15_top_supplier"].build(spark, sf_oracle_dir))
    assert "lineitem" not in plan, plan[:2000]


def test_dpp_join_prunes_fact_partitions_at_runtime(spark, sf_oracle_dir):
    """q_sink_dpp_join's contract: the dimension's data-dependent
    filter prunes the partitioned fact scan AT RUNTIME. Asserted from
    executed scan metrics, not plan text: the fact scan must read
    strictly fewer files and rows than the full table, and the plan
    must carry the dynamicpruningexpression that did it."""
    from bfs_mapreduce_spark.plans.introspect import scan_metrics

    df = CATALOG["q_sink_dpp_join"].build(spark, sf_oracle_dir)
    rows = df.collect()
    assert rows  # the parity-filtered dim keeps at least one priority
    plan = _plan(df)
    assert "dynamicpruning" in plan.lower(), plan[:3000]
    fact_scans = [
        m for m in scan_metrics(df) if "bfs_mapreduce_spark_dpp" in m["location"]
    ]
    assert fact_scans, scan_metrics(df)
    fact = fact_scans[0]
    # 5 o_orderpriority values -> 5 partition dirs; the parity filter
    # keeps a strict subset on this dataset (seeded, stable).
    assert fact["numPartitions"] is not None and fact["numPartitions"] < 5, fact
    assert fact["numFiles"] < 5, fact
    kept = sum(r.n_orders for r in rows)
    assert fact["numOutputRows"] == kept  # scanned ONLY the kept partitions


def test_runtime_bloom_filter_reduces_join_input(spark, sf_oracle_dir):
    """q_join_runtime_bloom's contract: the selective dimension builds
    a runtime bloom filter applied to the fact side BEFORE its
    exchange. Asserted on the executed plan (might_contain over the
    join key) and on executed metrics: the fact-side filter passes
    roughly the dimension's selectivity, not the full table."""
    from bfs_mapreduce_spark.operators.sink_queries import (
        _BLOOM_CONFS,
        runtime_bloom_join,
    )

    saved = {k: spark.conf.get(k) for k in _BLOOM_CONFS}
    try:
        for k, v in _BLOOM_CONFS.items():
            spark.conf.set(k, v)
        df = runtime_bloom_join(spark, sf_oracle_dir)
        rows = {r.l_linestatus: r.n_items for r in df.collect()}
        plan = _plan(df)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert "might_contain" in plan, plan[:3000]
    assert "l_orderkey" in plan.split("might_contain")[1][:200]
    # and the values survive the filter exactly (vs the plain join)
    plain = {
        r.l_linestatus: r.n_items
        for r in runtime_bloom_join(spark, sf_oracle_dir).collect()
    }
    assert rows == plain


def test_zorder_layout_prunes_row_groups_on_both_columns(spark, sf_oracle_dir):
    """q_sink_zorder's layout claim from executed metrics: a band
    filter on EITHER z-order key reads a fraction of the rows from the
    z-clustered layout that the same filter reads from a layout
    linearly sorted on the OTHER key (where every file's min/max spans
    the filtered column and nothing prunes)."""
    import os
    import tempfile

    from bfs_mapreduce_spark.functions.layout import write_zordered
    from bfs_mapreduce_spark.plans.introspect import scan_metrics
    from bfs_mapreduce_spark.sources.readers import load_table

    li = load_table(spark, sf_oracle_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    total = li.count()
    lo, hi = li.agg(F.min("l_partkey"), F.max("l_partkey")).first()
    bound = lo + (hi - lo) // 20

    with tempfile.TemporaryDirectory(prefix="zorder_test_") as d:
        zpath, lpath = os.path.join(d, "z"), os.path.join(d, "linear")
        write_zordered(li, zpath, "l_orderkey", "l_partkey", n_files=32)
        (
            li.repartitionByRange(32, "l_orderkey")
            .sortWithinPartitions("l_orderkey")
            .write.parquet(lpath)
        )

        def rows_read(path, col, val):
            # collect() (not count(), which builds its OWN execution)
            # so the metrics belong to THIS DataFrame's plan
            df = spark.read.parquet(path).filter(F.col(col) <= val).select(col)
            df.collect()
            (m,) = scan_metrics(df)
            return m["numOutputRows"]

        # partkey band: linear-by-orderkey cannot prune it at all
        z_part = rows_read(zpath, "l_partkey", bound)
        lin_part = rows_read(lpath, "l_partkey", bound)
        assert lin_part == total  # every file spans all partkeys
        assert z_part < total * 0.5, (z_part, total)

        # orderkey band: the z layout still prunes (the point of
        # z-order: ONE layout serves BOTH columns)
        klo, khi = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
        kbound = klo + (khi - klo) // 20
        z_key = rows_read(zpath, "l_orderkey", kbound)
        assert z_key < total * 0.5, (z_key, total)


def test_recursive_cte_runs_inside_one_catalyst_plan(spark, sf_oracle_dir):
    """Spark 4's WITH RECURSIVE executes as UnionLoop/UnionLoopRef
    physical nodes — iteration INSIDE one plan, no driver loop. Pin
    that both recursive catalog queries actually take that codepath
    (if a future Spark rewrote them to something else, the catalog
    doc would be lying)."""
    for key in ("q_sql_recursive_hierarchy", "q_sql_recursive_walks"):
        df = CATALOG[key].build(spark, sf_oracle_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "extended"
        )
        assert "UnionLoop" in plan, key


def test_recursive_walks_agree_with_driver_loop_bfs(spark, sf_oracle_dir):
    """min length with a positive walk count == BFS shortest dist:
    the one-plan recursion and the driver-loop engine certify each
    other on the reference's own graph (depth 4 horizon)."""
    from bfs_mapreduce_spark.operators.graph import bfs
    from bfs_mapreduce_spark.sources.readers import read_edge_list, reference_graph

    walks = CATALOG["q_sql_recursive_walks"].build(spark, sf_oracle_dir)
    min_len = {
        r["id"]: r["ml"]
        for r in walks.groupBy("id").agg(F.min("len").alias("ml")).collect()
        # walks revisit the source (any even-length loop); BFS says 0
        if r["id"] != 0
    }
    edges = read_edge_list(spark, reference_graph("smallG"))
    res = bfs(edges, source=0, with_paths=False, max_rounds=4,
              warn_on_truncation=False, reached_only=True)
    dist = {r["id"]: r["dist"] for r in res.collect() if r["dist"] > 0}
    assert min_len == dist


def test_join_hints_control_the_physical_strategy(spark, sf_oracle_dir):
    """Each hint leg of q_join_hint_strategies must actually take its
    strategy's codepath — otherwise the catalog query is silently a
    one-strategy test."""
    from bfs_mapreduce_spark.operators.relational import _JOIN_HINTS, _t

    li = _t(spark, sf_oracle_dir, "lineitem").select("l_partkey", "l_extendedprice")
    part = _t(spark, sf_oracle_dir, "part").select("p_partkey", "p_brand")
    for hint, node in _JOIN_HINTS:
        j = li.join(part.hint(hint), li.l_partkey == part.p_partkey)
        agg = j.groupBy("p_brand").agg(F.count(F.lit(1)))
        plan = agg._sc._jvm.PythonSQLUtils.explainString(
            agg._jdf.queryExecution(), "simple"
        )
        assert node in plan, (hint, plan)
