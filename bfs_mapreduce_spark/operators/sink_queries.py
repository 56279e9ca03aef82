"""Sink operators as catalog queries (SURVEY.md §2.10 "Sinks" —
reference op #3, the CSV append sink at ``BFS_map_reduce.py:155-164``,
re-expressed at engine scale).

The reference's only sink appends result rows to a CSV file. The
engine's scale sink is partitioned parquet with append semantics:
executors write partition-pruned files, a reader scans only the
partitions a filter names. ``q_sink_roundtrip`` exercises the full
write → append → partition-pruned read → aggregate cycle as a
DuckDB-oracle-checked catalog query, so the sink surface gets a
driver-verified correctness row (previously it was tests-only:
tests/test_sources.py, tests/test_bucketing.py).

Scale posture: the write is a plain executor-side
``DataFrameWriter.parquet`` — no driver funnel; ``partitionBy`` lays
files out so the read back prunes at the directory level
(PartitionFilters in the scan, proved in tests/test_relational.py).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bfs_mapreduce_spark.plans.reliable import ckpt as _ckpt
from bfs_mapreduce_spark.registry import register
from bfs_mapreduce_spark.sources.readers import load_table, reference_graph
from bfs_mapreduce_spark.tmputil import PROC as _PROC
from bfs_mapreduce_spark.tmputil import proc_dir

_PRIORITIES = ("1-URGENT", "2-HIGH")


@register(
    "q_sink_roundtrip",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderpriority IN {_PRIORITIES!r}
    GROUP BY o_orderpriority
    """,
    doc="Sink round-trip: write orders as parquet partitioned by "
    "priority (half overwrite, half APPEND — the reference's append "
    "sink semantics, op #3), read back with a partition filter (pruned "
    "at the directory level), aggregate. The oracle aggregates the "
    "source directly, so any write/append/read corruption — lost rows, "
    "double-applied append, partition-value mangling — breaks the "
    "hash match.",
)
def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    out = os.path.join(proc_dir("bfs_mapreduce_spark_sink"), tag)
    shutil.rmtree(out, ignore_errors=True)  # idempotent per invocation
    evens = orders.filter(F.col("o_orderkey") % 2 == 0)
    odds = orders.filter(F.col("o_orderkey") % 2 == 1)
    evens.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    odds.write.mode("append").partitionBy("o_orderpriority").parquet(out)
    back = spark.read.parquet(out).filter(F.col("o_orderpriority").isin(*_PRIORITIES))
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


def dpp_fact_path(spark: SparkSession, sf_dir: str) -> str:
    """Write (idempotently, overwrite) the orders fact partitioned by
    o_orderpriority — the layout dynamic partition pruning needs: the
    join key IS the directory key, so a runtime-computed dimension
    filter can skip whole partitions of the fact scan."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    out = os.path.join(proc_dir("bfs_mapreduce_spark_dpp"), tag)
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    return out


@register(
    "q_sink_dpp_join",
    oracle="""
    WITH dim AS (
      SELECT o_orderpriority AS pri, MIN(o_orderkey) AS min_key
      FROM orders GROUP BY o_orderpriority
      HAVING MIN(o_orderkey) % 2 = 0)
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(d.min_key AS BIGINT) AS min_key
    FROM orders o JOIN dim d ON o.o_orderpriority = d.pri
    GROUP BY o.o_orderpriority, d.min_key
    """,
    doc="RUNTIME-filtering join (round 9 — the round-8 verdict's "
    "missing demo): the fact side is the partitioned-parquet sink "
    "(partitionBy the join key), the dimension side carries a "
    "DATA-DEPENDENT filter (per-priority MIN(o_orderkey) parity) that "
    "no static optimizer pass can fold into a partition predicate — "
    "so the pruning can only happen at runtime, via Spark's dynamic "
    "partition pruning reusing the broadcast dimension as a "
    "dynamicpruningexpression in the fact scan's PartitionFilters. "
    "tests/test_relational.py asserts from EXECUTED scan metrics "
    "(plans/introspect.scan_metrics) that the fact scan actually read "
    "fewer files and rows than the partition count, not merely that "
    "the expression appears in the plan. At 100 TB this is the "
    "difference between scanning the whole fact and scanning the 2-3 "
    "date/priority partitions a dimension predicate selects — the "
    "single biggest I/O lever on star-schema queries after static "
    "pruning. The oracle aggregates the unpartitioned source "
    "directly, so sink layout bugs break the hash too.",
)
def q_sink_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = spark.read.parquet(dpp_fact_path(spark, sf_dir))
    orders = load_table(spark, sf_dir, "orders")
    dim = (
        orders.groupBy("o_orderpriority")
        .agg(F.min("o_orderkey").alias("min_key"))
        .filter(F.col("min_key") % 2 == 0)
        .select(F.col("o_orderpriority").alias("pri"), "min_key")
    )
    return (
        fact.join(F.broadcast(dim), fact["o_orderpriority"] == dim["pri"])
        .groupBy("o_orderpriority", "min_key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .select("o_orderpriority", "n_orders", F.col("min_key").cast("bigint"))
    )


_BLOOM_CONFS = {
    # demo scaling: at 100 TB the DEFAULT thresholds (10 GB application
    # side) inject the filter on their own; at sf0.1 the fact scan is a
    # few MB, so the thresholds are lowered to force the same plan the
    # cluster would pick — the plan shape, not the thresholds, is the
    # thing under test.
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    # a broadcast join needs no runtime filter (the dim rides along
    # anyway) — force the shuffle join the 100 TB fact-fact case hits
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNMATERIALIZED bloom-filtered join (plan inspection needs
    the live plan; q_join_runtime_bloom materializes under the confs).
    Caller is responsible for setting _BLOOM_CONFS around the action."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(F.col("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


@register(
    "q_join_runtime_bloom",
    oracle="""
    SELECT l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_linestatus
    """,
    doc="RUNTIME bloom-filter join (round 9 — the row-group/runtime "
    "companion to q_sink_dpp_join's partition-level pruning): a "
    "selective dimension predicate (1 of 5 priorities) builds a bloom "
    "filter at runtime that is injected as might_contain(xxhash64("
    "l_orderkey)) on the FACT side BEFORE its shuffle — on an "
    "unpartitioned fact where DPP has no directories to skip, this is "
    "what cuts the exchange: ~80% of fact rows are dropped map-side "
    "instead of being shuffled and discarded by the join. The build() "
    "sets the documented demo thresholds (at 100 TB the defaults "
    "trigger unaided), materializes under them via localCheckpoint, "
    "and restores the session confs in a finally — no conf state "
    "leaks to other queries. tests/test_relational.py asserts the "
    "might_contain runtime filter in the executed plan and that the "
    "filtered row count matches the dimension's true selectivity.",
)
def q_join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    conf = spark.conf
    saved = {k: conf.get(k) for k in _BLOOM_CONFS}
    try:
        for k, v in _BLOOM_CONFS.items():
            conf.set(k, v)
        # eager: the optimization (and filter injection) happens NOW,
        # while the confs are active
        return runtime_bloom_join(spark, sf_dir).transform(_ckpt)
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def bucketed_join_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write lineitem and orders as bucketed+sorted tables (8 buckets
    on the join key) and return their join — which planner-provably
    needs NO exchange: both sides' bucket layout satisfies the join's
    required distribution, so the 100 TB fact-fact shuffle disappears
    at write time (tests/test_relational.py asserts the plan).

    Idempotent per sf_dir; external table paths live under /tmp so the
    warehouse metadata is the only session-local state.
    """
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    root = os.path.join(proc_dir("bfs_mapreduce_spark_bucketed"), tag)
    for tbl, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        name = f"bq_{tbl}_{tag}_{_PROC}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            load_table(spark, sf_dir, tbl)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(root, tbl))
            .mode("overwrite")
            .saveAsTable(name)
        )
    li = spark.table(f"bq_lineitem_{tag}_{_PROC}")
    orders = spark.table(f"bq_orders_{tag}_{_PROC}")
    return li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))


@register(
    "q_sink_bucketed_join",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
    doc="Bucketed fact-fact join: lineitem and orders written as "
    "bucketed+sorted tables (8 buckets on orderkey), then joined — the "
    "bucket layout satisfies the join's required distribution, so "
    "NEITHER fact table shuffles (the prescription DEPLOY.md makes for "
    "q3 at 100 TB, here as a runnable oracle-checked query). The only "
    "exchange left is the 3-group aggregate's.",
)
def q_sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = bucketed_join_frames(spark, sf_dir)
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(revenue).cast("double").alias("revenue"),
    )


@register(
    "q_scan_csv_json",
    oracle="""
    SELECT event_type, 2 * COUNT(*) AS n, CAST(2 * SUM(user_id) AS BIGINT) AS user_id_sum
    FROM events
    GROUP BY event_type
    """,
    doc="CSV and JSON scans as first-class citizens: stage the events "
    "table once as headered CSV and as JSON lines, read BOTH back "
    "with explicit schemas (no inference pass at scale), union, "
    "aggregate. The doubled oracle counts prove each format "
    "round-trips every row and type exactly.",
)
def q_scan_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_scan"), tag)
    csv_dir, json_dir = os.path.join(root, "csv"), os.path.join(root, "json")
    ev.write.mode("overwrite").option("header", "true").csv(csv_dir)
    ev.write.mode("overwrite").json(json_dir)
    schema = "event_id bigint, user_id bigint, event_type string"
    from_csv = spark.read.schema(schema).option("header", "true").csv(csv_dir)
    from_json = spark.read.schema(schema).json(json_dir)
    both = from_csv.unionByName(from_json)
    return both.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").alias("user_id_sum"),
    )


@register(
    "q_scan_csv_badrecords",
    oracle="""
    WITH v AS (SELECT lang, doc_id,
                      CAST(n_chars / 100.0 AS DECIMAL(18,2)) AS score
               FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 13 <> 0)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(score) AS DOUBLE) AS total_score,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM v GROUP BY lang
    UNION ALL
    SELECT '__CORRUPT__', CAST(COUNT(*) AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS BIGINT)
    FROM documents WHERE doc_id % 7 = 0 OR doc_id % 13 = 0
    """,
    doc="Malformed-record handling — the dirty-data surface every "
    "100 TB CSV ingest needs: documents staged as CSV with two "
    "injected corruption classes (an unparseable double for "
    "doc_id%7=0, an unparseable bigint id for doc_id%13=0), read "
    "back in PERMISSIVE mode with columnNameOfCorruptRecord, and "
    "quarantined in ONE single-pass aggregation: corrupt rows land "
    "in a '__CORRUPT__' group (their raw line preserved in the "
    "corrupt column for a real pipeline's dead-letter sink), valid "
    "rows aggregate per language with decimal-exact score sums. The "
    "oracle recomputes both populations from the source table, so a "
    "row mis-flagged in either direction breaks the hash. The id_sum "
    "column is load-bearing, not decoration: Spark only corrupt-"
    "flags conversion failures in columns the plan actually PARSES "
    "(column pruning reaches the CSV parser), so a query that never "
    "referenced doc_id would silently accept the bad-id rows — "
    "pinned, with the DROPMALFORMED and FAILFAST mode contracts, in "
    "tests/test_sources.py.",
)
def q_scan_csv_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    out = os.path.join(proc_dir("bfs_mapreduce_spark_scan"), tag, "badcsv")
    score_str = F.concat(
        F.floor(F.col("n_chars") / 100).cast("string"),
        F.lit("."),
        F.lpad((F.col("n_chars") % 100).cast("string"), 2, "0"),
    )
    ok_line = F.concat(
        F.col("doc_id").cast("string"), F.lit(","), F.col("lang"),
        F.lit(","), score_str,
    )
    line = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("doc_id").cast("string"), F.lit(","), F.col("lang"),
                F.lit(",N/A"),
            ),
        )
        .when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit("id-"), F.col("doc_id").cast("string"), F.lit(","),
                F.col("lang"), F.lit(","), score_str,
            ),
        )
        .otherwise(ok_line)
    )
    docs.select(line.alias("value")).write.mode("overwrite").text(out)
    parsed = (
        spark.read.schema("doc_id bigint, lang string, score double, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
    )
    grp = (
        F.when(F.col("_corrupt").isNotNull(), F.lit("__CORRUPT__"))
        .otherwise(F.col("lang"))
    )
    good = F.col("_corrupt").isNull()
    return parsed.groupBy(grp.alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(good, F.col("score").cast("decimal(18,2)")))
        .cast("double")
        .alias("total_score"),
        # referencing doc_id forces the parser to convert it, which is
        # what flags the bad-id class at all (see doc)
        F.sum(F.when(good, F.col("doc_id"))).cast("bigint").alias("id_sum"),
    )


@register(
    "q_scan_agg_pushdown",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders GROUP BY year(o_orderdate)
    """,
    doc="AGGREGATE PUSHDOWN to the parquet footers (DSv2 BatchScan + "
    "spark.sql.parquet.aggregatePushdown): orders staged partitioned "
    "by year, then per-year MIN/MAX/COUNT answered from row-group "
    "STATISTICS — the scan reads zero data pages, and the GROUP BY "
    "on the partition column pushes down with it (PushedAggregation "
    "+ PushedGroupBy in the plan, asserted by test). At 100 TB this "
    "turns 'how many rows per partition, what key range' — the "
    "profiling queries every pipeline runs first — into a "
    "footer-metadata walk instead of a table scan. The configs are "
    "scoped inside build() (DSv2 parquet + pushdown on, restored "
    "after) because the session-wide default keeps the battle-tested "
    "V1 path for every other query; the tiny per-year result is "
    "materialized under that scope and returned as a local frame, "
    "and the oracle recomputes it from the raw table so a stats-vs-"
    "data disagreement (a footer lying about its pages) breaks the "
    "hash.",
)
def q_scan_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    out = os.path.join(proc_dir("bfs_mapreduce_spark_scan"), tag, "aggpush")
    marker = os.path.join(out, "_STAGED")
    if not os.path.exists(marker):
        (
            orders.withColumn("o_year", F.year("o_orderdate").cast("int"))
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(out)
        )
        open(marker, "w").close()
    conf = spark.conf
    old_push = conf.get("spark.sql.parquet.aggregatePushdown")
    old_v1 = conf.get("spark.sql.sources.useV1SourceList")
    try:
        conf.set("spark.sql.parquet.aggregatePushdown", "true")
        conf.set("spark.sql.sources.useV1SourceList", "")
        agg = (
            spark.read.parquet(out)
            .groupBy("o_year")
            .agg(
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
        rows = [tuple(r) for r in agg.collect()]
    finally:
        conf.set("spark.sql.parquet.aggregatePushdown", old_push)
        conf.set("spark.sql.sources.useV1SourceList", old_v1)
    return spark.createDataFrame(
        sorted(rows),
        "o_year int, min_key bigint, max_key bigint, n_rows bigint",
    )


@register(
    "q_scan_orc",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(user_id) AS BIGINT) AS user_id_sum
    FROM events
    GROUP BY event_type
    """,
    doc="ORC round-trip: stage the events table as ORC (Spark's other "
    "built-in columnar format), read it back with an explicit schema, "
    "aggregate. The oracle aggregates the parquet source directly, so "
    "any value or row lost in the ORC write/read cycle breaks the "
    "hash. DuckDB cannot read ORC, which is exactly why the check "
    "goes through the round-trip rather than the files.",
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_scan"), tag)
    orc_dir = os.path.join(root, "orc")
    ev.write.mode("overwrite").orc(orc_dir)
    back = spark.read.schema("event_id bigint, user_id bigint, event_type string").orc(
        orc_dir
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").alias("user_id_sum"),
    )


@register(
    "q_sink_compaction",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(user_id) AS BIGINT) AS user_id_sum,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    """,
    doc="Small-file compaction — the 100 TB maintenance operator: the "
    "events table is first written deliberately fragmented (64-way "
    "round-robin), then compacted with a single repartition to "
    "target-sized files and read back. The oracle aggregates the "
    "source, so compaction must be byte-exact (no lost/duplicated "
    "rows); tests/test_sources.py asserts the file count actually "
    "shrank. At scale the same two writers run with maxRecordsPerFile "
    "sized to the block size.",
)
def q_sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_compact"), tag)
    frag_dir, compact_dir = os.path.join(root, "frag"), os.path.join(root, "compact")
    ev.repartition(64).write.mode("overwrite").parquet(frag_dir)
    frag = spark.read.parquet(frag_dir)
    frag.repartition(2).write.mode("overwrite").parquet(compact_dir)
    back = spark.read.parquet(compact_dir)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("user_id").alias("user_id_sum"),
        F.countDistinct("event_type").alias("n_types"),
    )


@register(
    "q_sink_schema_evolution",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY 1
    """,
    doc="Schema evolution across parquet batches: an early batch is "
    "written WITHOUT the status column, a later batch with it; "
    "``mergeSchema`` reconciles the footers at read time and "
    "NULL-fills the missing column for old files — append-only "
    "ingestion evolving its schema without rewriting history, the "
    "default posture for a long-lived 100 TB table. The oracle "
    "reproduces the NULL-fill with a CASE on the batch predicate, so "
    "a wrong merge (dropped column, misaligned fill) breaks the hash.",
)
def q_sink_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_evolve"), tag)
    shutil.rmtree(root, ignore_errors=True)
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    # Non-partition-style dir names (batch_N, not batch=N) so partition
    # discovery can't materialize an inferred `batch` column; the read
    # depends only on the parquet footers, never on path inference.
    v1.write.mode("overwrite").parquet(os.path.join(root, "batch_1"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "batch_2"))
    back = (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(root, "batch_1"), os.path.join(root, "batch_2"))
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


@register(
    "q_sink_snapshot_bloom",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE event_id - (SELECT MIN(event_id) FROM events)
          IN (0, 11, 23, 37, 53)
    """,
    doc="Bloom-filter file skipping for POINT lookups (round 13): the "
    "events rows are committed to a snapshot table as 8 "
    "hash-distributed files — every file's [min,max] event_id spans "
    "the whole domain, the exact shape where min/max stats skip "
    "NOTHING (uuid/hash keys at 100 TB) — with per-file bloom filters "
    "riding the manifest next to the stats (collect_blooms; Iceberg "
    "keeps these in puffin files). read_point_pruned plans a 5-needle "
    "IN lookup from the manifest alone: files whose blooms say every "
    "probe is absent are never listed. The IN predicate still applies "
    "in-plan, so a false skip would drop a row and break this hash; "
    "skip EFFECTIVENESS (most files pruned, zero false negatives over "
    "a 50-probe sweep) is pinned by tests/test_sources.py, since "
    "bloom bit counts are not SQL-derivable.",
)
def q_sink_snapshot_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_bloom"), tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    files = ts.stage_files(ev.repartition(8, "event_id"), root)
    stats = ts.collect_stats(files, ["event_id"])
    blooms = ts.collect_blooms(files, ["event_id"])
    merged = {f: {**stats.get(f, {}), **blooms.get(f, {})} for f in files}
    ts.commit(root, files, base_version=0, stats=merged)
    mn = ev.agg(F.min("event_id")).first()[0]
    probes = [mn + d for d in (0, 11, 23, 37, 53)]
    df, _kept, _skipped = ts.read_point_pruned(spark, root, "event_id", probes)
    return df.select("event_id", "user_id", "event_type")


@register(
    "q_sink_schema_rename",
    oracle="""
    SELECT CAST(o_orderkey % 3 AS BIGINT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS price_total,
           CAST(COUNT(CASE WHEN o_orderkey % 3 = 2
                           THEN o_orderstatus END) AS BIGINT) AS n_status,
           (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            FROM orders WHERE o_orderkey % 3 = 0) AS v1_price_total
    FROM orders
    GROUP BY 1
    """,
    doc="Field-id schema evolution (round 13, verdict ask #5): a "
    "snapshot table lives through five versions — append (o_orderkey, "
    "o_totalprice); RENAME o_totalprice -> price (metadata-only, zero "
    "files rewritten); append under the new name plus an "
    "o_orderstatus column; DROP o_orderstatus; append with a RE-ADDED "
    "o_orderstatus column. The current read resolves v1's files BY "
    "FIELD ID (their o_totalprice bytes surface as price), the "
    "dropped column's old data can never leak into its re-added "
    "namesake (new field id — n_status counts only the post-re-add "
    "slice), and time travel to v1 still returns the ORIGINAL column "
    "name (v1_price_total is summed from the o_totalprice column of "
    "the v1 read — the name is load-bearing). The oracle reproduces "
    "all of it from the raw orders table, so a wrong id mapping, a "
    "leaked dropped value, or a broken rename breaks the hash.",
)
def q_sink_schema_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    orders = load_table(spark, sf_dir, "orders")
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_rename"), tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    grp = F.col("o_orderkey") % 3
    d1 = orders.filter(grp == 0).select("o_orderkey", "o_totalprice")
    v = ts.commit(
        root, ts.stage_files(d1, root), base_version=0, schema=d1.schema.json()
    )
    v = ts.rename_column(root, "o_totalprice", "price")
    d3 = orders.filter(grp == 1).select(
        "o_orderkey", F.col("o_totalprice").alias("price"), "o_orderstatus"
    )
    v = ts.commit(
        root, ts.stage_files(d3, root), base_version=v, schema=d3.schema.json()
    )
    v = ts.drop_column(root, "o_orderstatus")
    d5 = orders.filter(grp == 2).select(
        "o_orderkey", F.col("o_totalprice").alias("price"), "o_orderstatus"
    )
    v = ts.commit(
        root, ts.stage_files(d5, root), base_version=v, schema=d5.schema.json()
    )
    # time travel to v1 returns the ORIGINAL name — o_totalprice is
    # load-bearing here (an id-mapping bug shows as a missing column)
    v1_total = ts.read(spark, root, 1).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("v1_price_total")
    )
    cur = ts.read(spark, root)
    return (
        cur.groupBy((F.col("o_orderkey") % 3).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("price").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_total"),
            F.count("o_orderstatus").alias("n_status"),
        )
        .crossJoin(F.broadcast(v1_total))
    )


@register(
    "q_scan_xml",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(user_id) AS BIGINT) AS user_id_sum
    FROM events
    GROUP BY event_type
    """,
    doc="XML round-trip (Spark 4's built-in XML source): stage events "
    "as row-tagged XML, read back with an explicit schema (no "
    "inference pass), aggregate against the parquet-source oracle — "
    "the semi-structured-feed ingestion shape, value-exact or the "
    "hash breaks.",
)
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_scan"), tag)
    xml_dir = os.path.join(root, "xml")
    (
        ev.write.mode("overwrite")
        .option("rootTag", "events")
        .option("rowTag", "event")
        .format("xml")
        .save(xml_dir)
    )
    back = (
        spark.read.schema("event_id bigint, user_id bigint, event_type string")
        .option("rowTag", "event")
        .format("xml")
        .load(xml_dir)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").alias("user_id_sum"),
    )


_SMALLG_PATH = reference_graph("smallG")


@register(
    "q_scan_edgelist_source",
    oracle=f"""
    WITH e AS (SELECT src, dst FROM read_csv('{_SMALLG_PATH}', delim=' ',
                 header=false, columns={{'src': 'BIGINT', 'dst': 'BIGINT'}})),
    sym AS (SELECT src, dst FROM e WHERE src <> dst
            UNION SELECT dst, src FROM e WHERE src <> dst),
    deg AS (SELECT src, COUNT(*) AS degree FROM sym GROUP BY src)
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_vertices
    FROM deg GROUP BY degree
    """,
    doc="Custom Python DataSource end-to-end (Spark 4 "
    "pyspark.sql.datasource API): the reference's whitespace edge-list "
    "format becomes a first-class spark.read.format('edgelist') "
    "source (sources/edgelist_source.py — schema, per-file input "
    "partitions, strict line grammar), then the ordinary DataFrame "
    "plan composes on top: symmetrize, dedup, degree histogram on "
    "smallG. The oracle re-reads the same file with DuckDB's CSV "
    "reader — so the custom source's parsing itself is what the value "
    "hash certifies.",
)
def q_scan_edgelist_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources.edgelist_source import register_edgelist_source

    register_edgelist_source(spark)
    e = spark.read.format("edgelist").load(_SMALLG_PATH)
    sym = (
        e.filter(F.col("src") != F.col("dst"))
        .unionByName(
            e.filter(F.col("src") != F.col("dst")).select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy(F.col("degree").cast("bigint").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_vertices")
    )


@register(
    "q_scan_avro",
    oracle="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang, source
    """,
    doc="Avro ingestion end-to-end WITHOUT spark-avro (the external "
    "module this environment genuinely lacks): the documents table is "
    "staged as deflate-compressed Avro object-container files — one "
    "file per source value, written by the engine's pure-Python "
    "spec-conformant writer (sources/avro_py.py) — then read back "
    "through spark.read.format('avro_py'), a custom Python DataSource "
    "that parses the container header for the schema at planning time "
    "and decodes blocks per file partition. The oracle recomputes the "
    "aggregate from the original table, so the binary encoder AND "
    "decoder (zigzag varints, unions, deflate blocks, sync markers) "
    "sit inside the value hash. Round 15 (verdict ask #4): staging "
    "goes through the EXECUTOR-side AvroPyWriter "
    "(df.write.format('avro_py'), one container per task, deflate) — "
    "the previous toPandas fixture funnel staged sf-scaled bytes "
    "through the driver for per-source file naming the oracle never "
    "observed; a repartition on source keeps the multi-file layout "
    "without any driver bytes.",
)
def q_scan_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources.avro_py import register_avro_source

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_avro"), tag)
    shutil.rmtree(root, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    register_avro_source(spark)
    (
        docs.repartition("source")
        .write.format("avro_py")
        .option("codec", "deflate")
        .mode("overwrite")
        .save(root)
    )
    df = spark.read.format("avro_py").load(root)
    return df.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "q_scan_avro_complex",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(n_chars + n_chars % 10) AS BIGINT) AS sum_chunks,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
    FROM documents
    GROUP BY lang
    """,
    doc="Avro COMPLEX types end-to-end through the pure-Python source "
    "(sources/avro_py.py — round-8 extension: array/map/enum/fixed "
    "per the public spec's 'Complex Types'): documents are staged "
    "with lang as a nullable ENUM (symbols collected at staging "
    "time), an ARRAY<long> of derived chunks, a MAP<string,long> of "
    "counters, and a FIXED(4) big-endian doc_id digest, then read "
    "back and re-derived with JVM expressions (aggregate() over the "
    "array, element_at on the map, hex→conv on the fixed bytes). The "
    "oracle recomputes every reconstructed value from the original "
    "table, so array block framing, map key decode, enum index "
    "resolution, and fixed-width byte passthrough all sit inside the "
    "value hash.",
)
def q_scan_avro_complex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources.avro_py import register_avro_source
    from bfs_mapreduce_spark.tmputil import stage_rows_executor

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_avro_cx"), tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    # enum symbols are a bounded scalar set (a handful of language
    # codes), not corpus bytes — the one legitimate driver collect here
    symbols = sorted(
        r["lang"]
        for r in docs.select("lang").where(F.col("lang").isNotNull())
        .distinct().collect()
    ) or ["und"]
    schema = {
        "type": "record",
        "name": "document_cx",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "lang", "type": ["null", {
                "type": "enum", "name": "Lang", "symbols": symbols}]},
            {"name": "chunks", "type": {"type": "array", "items": "long"}},
            {"name": "counters", "type": {"type": "map", "values": "long"}},
            {"name": "digest", "type": {"type": "fixed", "name": "d4", "size": 4}},
        ],
    }

    def write_rows(pdf, token) -> None:  # executor tasks (round 15);
        # token = partition/batch id (round 16, ADVICE): a task retry
        # overwrites its own file instead of duplicating staged rows
        import struct as _struct

        from bfs_mapreduce_spark.sources.avro_py import write_avro

        rows = [
            {
                "doc_id": int(r.doc_id),
                "lang": None if r.lang is None else str(r.lang),
                "chunks": [int(r.n_chars), int(r.n_chars) % 10],
                "counters": {"chars": int(r.n_chars)},
                "digest": _struct.pack(">I", int(r.doc_id) & 0xFFFFFFFF),
            }
            for r in pdf.itertuples()
        ]
        if rows:
            write_avro(
                os.path.join(root, f"docs_{token}.avro"),
                schema, rows, codec="deflate",
            )

    stage_rows_executor(docs.repartition("source"), write_rows)
    register_avro_source(spark)
    df = spark.read.format("avro_py").load(root)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.element_at("counters", F.lit("chars"))).alias("sum_chars"),
        F.sum(F.expr("aggregate(chunks, 0L, (a, x) -> a + x)")).alias("sum_chunks"),
        F.sum(F.conv(F.hex("digest"), 16, 10).cast("bigint")).alias("sum_doc_id"),
    )


@register(
    "q_scan_avro_logical",
    oracle="""
    WITH u AS (
      SELECT o_orderkey, o_orderdate,
             CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)) AS price,
             md5(CAST(o_orderkey AS VARCHAR)) AS h
      FROM orders)
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(o_orderdate) AS DATE) AS min_day,
           MAX(o_orderdate) AS max_ts,
           CAST(SUM(price) AS DOUBLE) AS total_price,
           MIN(substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4)
               || '-' || substr(h,17,4) || '-' || substr(h,21,12)) AS min_uuid
    FROM u GROUP BY yr
    """,
    doc="Avro LOGICAL types end-to-end through the pure-Python source "
    "(sources/avro_py.py — round-8 extension per the public spec's "
    "'Logical Types': date as int-days, timestamp-micros as "
    "long-epoch-us, decimal as big-endian two's-complement unscaled "
    "bytes, uuid as annotated string): orders are staged with "
    "o_orderdate as BOTH a timestamp-micros and a derived date "
    "column, the price as decimal(18,2), and a deterministic "
    "md5-derived uuid string, then read back and aggregated by year. "
    "The oracle recomputes every value from the original table — the "
    "epoch arithmetic, the two's-complement decode, and the exact "
    "decimal sum all sit inside the value hash (the decimal column "
    "surfaces as a true Spark DecimalType, so the sum is "
    "order-independent and exact before the final double cast).",
)
def q_scan_avro_logical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources.avro_py import register_avro_source

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_avro_lt"), tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    schema = {
        "type": "record",
        "name": "order_lt",
        "fields": [
            {"name": "o_orderkey", "type": "long"},
            {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "day", "type": {"type": "int", "logicalType": "date"}},
            {"name": "price", "type": {"type": "bytes", "logicalType": "decimal",
                                       "precision": 18, "scale": 2}},
            {"name": "uid", "type": {"type": "string", "logicalType": "uuid"}},
        ],
    }
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )

    def write_rows(pdf, token) -> None:  # executor tasks (round 15);
        # deterministic token: retry-idempotent staging (round 16)
        import hashlib as _hl2
        from decimal import ROUND_HALF_UP as _RHU
        from decimal import Decimal as _D

        from bfs_mapreduce_spark.sources.avro_py import write_avro

        cents = _D("0.01")
        rows = []
        for r in pdf.itertuples():
            ts = r.o_orderdate.to_pydatetime()
            h = _hl2.md5(str(int(r.o_orderkey)).encode()).hexdigest()
            rows.append(
                {
                    "o_orderkey": int(r.o_orderkey),
                    "ts": ts,
                    "day": ts.date(),
                    "price": _D(repr(float(r.o_totalprice))).quantize(
                        cents, _RHU
                    ),
                    "uid": f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}",
                }
            )
        if rows:
            write_avro(
                os.path.join(root, f"orders_{token}.avro"),
                schema, rows, codec="deflate",
            )

    # year-clustered partitions keep the multi-file layout without a
    # driver funnel (round 15, verdict ask #4)
    from bfs_mapreduce_spark.tmputil import stage_rows_executor

    stage_rows_executor(
        orders.repartition(F.year("o_orderdate")), write_rows
    )
    register_avro_source(spark)
    df = spark.read.format("avro_py").load(root)
    return df.groupBy(F.year("ts").cast("int").alias("yr")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("day").alias("min_day"),
        F.max("ts").alias("max_ts"),
        F.sum("price").cast("double").alias("total_price"),
        F.min("uid").alias("min_uuid"),
    )


@register(
    "q_sink_zorder",
    oracle="""
    WITH b AS (SELECT MIN(l_partkey) + (MAX(l_partkey) - MIN(l_partkey)) // 20
               AS hi FROM lineitem)
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem, b WHERE l_partkey <= b.hi
    GROUP BY l_returnflag
    """,
    doc="Z-ORDER clustered sink (round 9 — the lakehouse layout "
    "technique behind Delta OPTIMIZE ZORDER): lineitem is written "
    "range-partitioned + sorted on the Morton interleave of "
    "(l_orderkey, l_partkey) — JVM bit arithmetic, functions/"
    "layout.py — so every output file owns a small rectangle of the "
    "two-key space and parquet min/max stats prune row groups for "
    "range filters on EITHER column; a linear sort can only serve "
    "one. The read-back filters a 5% l_partkey band (plan-time "
    "literal bound, computed from a one-row aggregate — the same "
    "pushdown-enabling choice q_graph_sssp_cost argues) and "
    "aggregates; the oracle recomputes from the original table, so "
    "the rewrite is row-exact. tests/test_relational.py proves the "
    "pruning from EXECUTED scan metrics: the z-ordered scan reads a "
    "fraction of the rows a single-column-sorted layout reads for "
    "the same filter, on BOTH filter columns.",
)
def q_sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.functions.layout import write_zordered

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    out = os.path.join(proc_dir("bfs_mapreduce_spark_zorder"), tag)
    marker = os.path.join(out, "_STAGED")
    if not os.path.exists(marker):
        write_zordered(li, out, "l_orderkey", "l_partkey")
        open(marker, "w").close()
    lo, hi = li.agg(F.min("l_partkey"), F.max("l_partkey")).first()
    bound = lo + (hi - lo) // 20
    back = spark.read.parquet(out).filter(F.col("l_partkey") <= bound)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
    )


@register(
    "q_sink_sql_time_travel",
    oracle="""
    WITH v1 AS (SELECT COUNT(*) AS n, SUM(o_orderkey) AS ks
                FROM orders WHERE o_orderkey % 3 = 0),
    v2 AS (SELECT COUNT(*) AS n, SUM(o_orderkey) AS ks
           FROM orders WHERE o_orderkey % 3 IN (0, 1)),
    vc AS (SELECT COUNT(*) AS n, SUM(o_orderkey) AS ks FROM orders)
    SELECT 'a_v1' AS stage, CAST(n AS BIGINT) AS n_rows,
           CAST(ks AS BIGINT) AS key_sum FROM v1
    UNION ALL
    SELECT 'b_ts2', CAST(n AS BIGINT), CAST(ks AS BIGINT) FROM v2
    UNION ALL
    SELECT 'c_cur', CAST(n AS BIGINT), CAST(ks AS BIGINT) FROM vc
    ORDER BY stage
    """,
    doc="SQL-side time travel (round 16, verdict ask #7 — "
    "table_snapshots.register_sql_view): three APPEND commits land "
    "thirds of orders; the query registers one view pinned to "
    "VERSION AS OF 1, one resolved via TIMESTAMP AS OF the v2 "
    "commit's PERSISTED manifest stamp (not mtime — round 16's "
    "backup-proof clock), and one live head view — then a single "
    "identical-ANSI spark.sql UNION aggregates all three. The oracle "
    "recomputes each epoch from raw orders, so a view that resolves "
    "the wrong version, a timestamp that drifts, or a head that "
    "misses the last commit breaks the hash. This is Delta's `VERSION"
    " AS OF` / `TIMESTAMP AS OF` surface expressed through views — "
    "the one SQL verb the jar-less format cannot put in the parser "
    "itself.",
)
def q_sink_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_snap_sqltt"), tag)
    if ts.current_version(root) < 3:  # idempotent per process
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k")
        )
        v = 0
        for i in (0, 1, 2):
            batch = orders.filter(F.col("k") % 3 == i).coalesce(1)
            v = ts.commit(root, ts.stage_files(batch, root), base_version=v)
    t2 = ts.commit_timestamp(root, 2)
    ts.register_sql_view(spark, "snap_tt_v1", root, 1)
    ts.register_sql_view(spark, "snap_tt_ts2", root, timestamp_as_of=t2)
    ts.register_sql_view(spark, "snap_tt_cur", root)
    return spark.sql(
        """
        SELECT 'a_v1' AS stage, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(k) AS BIGINT) AS key_sum FROM snap_tt_v1
        UNION ALL
        SELECT 'b_ts2', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(k) AS BIGINT) FROM snap_tt_ts2
        UNION ALL
        SELECT 'c_cur', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(k) AS BIGINT) FROM snap_tt_cur
        ORDER BY stage
        """
    )


@register(
    "q_sink_sql_merge",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    t1 AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 500.0
                  ELSE o_totalprice END AS p,
             o_orderpriority AS pr
      FROM orders WHERE o_orderkey % 10 <> 5
      UNION ALL
      SELECT o_orderkey + m, o_totalprice + 500.0, o_orderpriority
      FROM orders, mx WHERE o_orderkey % 11 = 4
      UNION ALL
      SELECT o_orderkey + 2 * m, o_totalprice, o_orderpriority
      FROM orders, mx WHERE o_orderkey % 13 = 2
    ),
    t2 AS (SELECT k, CASE WHEN pr = '1-URGENT' THEN p + 1.0 ELSE p END AS p,
                  pr
           FROM t1),
    fin AS (SELECT * FROM t2 WHERE k % 100 <> 9),
    chg AS (
      SELECT
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 0)
          + (SELECT COUNT(*) FROM t1 WHERE pr = '1-URGENT') AS n_upd,
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 5)
          + (SELECT COUNT(*) FROM t2 WHERE k % 100 = 9) AS n_del,
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 11 = 4)
          + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 13 = 2) AS n_ins
    )
    SELECT pr AS o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(n_upd AS BIGINT) AS n_upd,
           CAST(n_del AS BIGINT) AS n_del,
           CAST(n_ins AS BIGINT) AS n_ins
    FROM fin, chg GROUP BY pr, n_upd, n_del, n_ins
    """,
    doc="SQL DML entry for the snapshot format (round 17, verdict ask "
    "#2 — sources/snapshot_sql.sql_dml): FOUR statements run as "
    "ANSI SQL TEXT against the table — a MERGE INTO with three "
    "clauses (conditional matched-UPDATE taking the source price for "
    "keys ending in 0, first-match-wins DELETE for the remaining "
    "matched keys ending in 5, INSERT * of unmatched source rows), "
    "an INSERT INTO (cols) SELECT (a third key band appended through "
    "the column-list alignment path, committed as a plain APPEND), "
    "an UPDATE ... SET ... WHERE (urgent rows +1, compiled onto the "
    "merge clause engine via an empty source + NOT MATCHED BY SOURCE "
    "UPDATE — no second DML implementation), and a DELETE FROM ... "
    "WHERE (keys ending in 09, routed to merge-on-read position "
    "deletes — O(matching rows), no rewrite amplification). The "
    "changeFeed property is on, so the statements produce CDF row "
    "images (the append's rows surface as inserts); the oracle "
    "recomputes the final table AND the per-kind change counts "
    "across all four commits from raw orders in plain SQL — a "
    "mis-parsed clause, a wrong alias rewrite, or a verb that fires "
    "on the wrong rows fails the hash. Spark's parser only accepts "
    "DML for catalog v2 tables, which a jar-less format cannot "
    "register; the shim parses the same grammar Delta documents and "
    "drives merge_into/delete_where/commit, where the cardinality "
    "check, file narrowing, and CAS rebase already live.",
)
def q_sink_sql_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_sql import sql_dml

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_snap_sqldml"), tag)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    if ts.current_version(root) < 6:  # idempotent per process
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        bounds = [mx // 4, mx // 2, (3 * mx) // 4]
        files: list[str] = []
        lo = None
        for hi in bounds + [None]:
            part = orders
            if lo is not None:
                part = part.filter(F.col("o_orderkey") > lo)
            if hi is not None:
                part = part.filter(F.col("o_orderkey") <= hi)
            files += ts.stage_files(part.coalesce(1), root)
            lo = hi
        ts.commit(
            root,
            files,
            base_version=0,
            stats=ts.collect_stats(files, ["o_orderkey"]),
        )
        v_prop = ts.set_property(root, "changeFeed", True)
        matched_src = orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(500.0)
        )
        insert_src = (
            orders.filter(F.col("o_orderkey") % 11 == 4)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(mx))
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(500.0))
        )
        matched_src.unionByName(insert_src).createOrReplaceTempView(
            "sqldml_src"
        )
        cat = {"ord": root}
        sql_dml(
            spark,
            """
            MERGE INTO ord AS t USING sqldml_src AS s
            ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED AND s.o_orderkey % 10 = 0
              THEN UPDATE SET o_totalprice = s.o_totalprice
            WHEN MATCHED THEN DELETE
            WHEN NOT MATCHED THEN INSERT *
            """,
            cat,
            target_files=4,
        )
        orders.filter(F.col("o_orderkey") % 13 == 2).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(2 * mx)
        ).createOrReplaceTempView("sqldml_ins")
        sql_dml(
            spark,
            "INSERT INTO ord (o_orderkey, o_totalprice, o_orderpriority) "
            "SELECT o_orderkey, o_totalprice, o_orderpriority "
            "FROM sqldml_ins",
            cat,
        )
        sql_dml(
            spark,
            "UPDATE ord SET o_totalprice = o_totalprice + 1.0 "
            "WHERE o_orderpriority = '1-URGENT'",
            cat,
            target_files=2,
        )
        r3 = sql_dml(spark, "DELETE FROM ord WHERE o_orderkey % 100 = 9", cat)
        kinds = {
            r["_change_type"]: r["n"]
            for r in ts.read_row_changes(spark, root, v_prop, r3["version"])
            .groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert kinds.get("update_preimage", 0) == kinds.get(
            "update_postimage", 0
        ), "CDF pre/post image counts must pair up"
        with open(os.path.join(root, "_sqldml_cdf"), "w") as f:
            f.write(
                f"{kinds.get('update_preimage', 0)} "
                f"{kinds.get('delete', 0)} {kinds.get('insert', 0)}"
            )
    with open(os.path.join(root, "_sqldml_cdf")) as f:
        n_upd, n_del, n_ins = (int(x) for x in f.read().split())
    return ts.read(spark, root).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
        F.lit(n_upd).cast("bigint").alias("n_upd"),
        F.lit(n_del).cast("bigint").alias("n_del"),
        F.lit(n_ins).cast("bigint").alias("n_ins"),
    )


@register(
    "q_sink_sql_ddl",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    cor AS (SELECT o_orderkey AS k, o_orderpriority AS pr,
                   o_orderkey % 7 AS band
            FROM orders WHERE o_orderkey % 2 = 0),
    fin AS (
      SELECT k, pr,
             CASE WHEN k % 10 = 0 THEN 999 ELSE band END AS band,
             CASE WHEN k % 10 = 0 THEN 'm' END AS note
      FROM cor
      UNION ALL
      SELECT o_orderkey + m, o_orderpriority, o_orderkey % 7, 'i'
      FROM orders, mx WHERE o_orderkey % 9 = 4
    ),
    counts AS (
      SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0) AS n_v1,
             (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 1) AS n_v2
    )
    SELECT pr AS o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(band) AS BIGINT) AS sum_band,
           CAST(COUNT(note) AS BIGINT) AS n_note,
           CAST(n_v1 AS BIGINT) AS n_v1,
           CAST(n_v2 AS BIGINT) AS n_v2
    FROM fin, counts GROUP BY pr, n_v1, n_v2
    """,
    doc="SQL DDL/DML completions (round 18, verdict ask #4 — "
    "sources/snapshot_sql.sql_dml): FOUR statements as ANSI SQL "
    "text. CREATE TABLE AS SELECT materializes a third of orders as "
    "a new snapshot table (v1); INSERT OVERWRITE replaces the whole "
    "file list with a different key band in one REPLACE manifest "
    "(v2 — atomic truncate-and-load, v1 still time-travels and its "
    "row count rides the result as n_v1); CREATE OR REPLACE TABLE "
    "AS SELECT pins a NEW schema wholesale (p dropped, band added) "
    "with field-id continuity by name (commit(schema_replace=True), "
    "Iceberg's REPLACE TABLE rule — v3, and v2's count rides as "
    "n_v2); finally a MERGE with evolve_schema=True (Delta's "
    "schema.autoMerge) widens the table with the source's new note "
    "column — matched keys take the whole source row via UPDATE SET "
    "*, unmatched source rows INSERT *, and rows from UNTOUCHED "
    "files NULL-fill note on read through the schema-era machinery. "
    "The oracle recomputes the final table, both time-travel "
    "counts, and the evolved column's fill pattern from raw orders "
    "in plain SQL — a wrong overwrite scope, a schema replacement "
    "that leaks the dropped column, or an evolution that loses "
    "untouched rows fails the hash.",
)
def q_sink_sql_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_sql import sql_dml

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_snap_sqlddl"), tag)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    if ts.current_version(root) < 4:  # idempotent per process
        shutil.rmtree(root, ignore_errors=True)
        orders.createOrReplaceTempView("ddl_orders")
        cat = {"dd": root}
        sql_dml(
            spark,
            "CREATE TABLE dd AS SELECT o_orderkey AS k, o_totalprice AS p, "
            "o_orderpriority AS pr FROM ddl_orders WHERE o_orderkey % 3 = 0",
            cat,
        )
        sql_dml(
            spark,
            "INSERT OVERWRITE dd SELECT o_orderkey AS k, o_totalprice AS p, "
            "o_orderpriority AS pr FROM ddl_orders WHERE o_orderkey % 3 = 1",
            cat,
        )
        sql_dml(
            spark,
            "CREATE OR REPLACE TABLE dd AS SELECT o_orderkey AS k, "
            "o_orderpriority AS pr, CAST(o_orderkey % 7 AS BIGINT) AS band "
            "FROM ddl_orders WHERE o_orderkey % 2 = 0",
            cat,
        )
        matched_src = (
            orders.filter(F.col("o_orderkey") % 10 == 0)
            .select(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderpriority").alias("pr"),
                F.lit(999).cast("bigint").alias("band"),
                F.lit("m").alias("note"),
            )
        )
        insert_src = (
            orders.filter(F.col("o_orderkey") % 9 == 4)
            .select(
                (F.col("o_orderkey") + F.lit(mx)).alias("k"),
                F.col("o_orderpriority").alias("pr"),
                (F.col("o_orderkey") % 7).cast("bigint").alias("band"),
                F.lit("i").alias("note"),
            )
        )
        matched_src.unionByName(insert_src).createOrReplaceTempView(
            "ddl_msrc"
        )
        sql_dml(
            spark,
            "MERGE INTO dd USING ddl_msrc s ON dd.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
            cat,
            evolve_schema=True,
        )
    n_v1 = ts.read(spark, root, version=1).count()
    n_v2 = ts.read(spark, root, version=2).count()
    return ts.read(spark, root).groupBy(F.col("pr").alias("o_orderpriority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("band").cast("bigint").alias("sum_band"),
        F.count("note").cast("bigint").alias("n_note"),
        F.lit(n_v1).cast("bigint").alias("n_v1"),
        F.lit(n_v2).cast("bigint").alias("n_v2"),
    )


@register(
    "q_sink_sql_alter",
    oracle="""
    WITH evens AS (SELECT o_orderkey AS k, o_totalprice AS price,
                          o_orderpriority AS pr
                   FROM orders WHERE o_orderkey % 2 = 0),
    odds AS (SELECT o_orderkey AS k, o_totalprice AS price,
                    o_orderpriority AS pr, o_orderkey % 5 AS band
             FROM orders WHERE o_orderkey % 2 = 1),
    fin AS (
      SELECT k, pr,
             CASE WHEN pr = '1-URGENT' THEN price + 1.0 ELSE price END
               AS amount,
             CAST(NULL AS BIGINT) AS band
      FROM evens
      UNION ALL
      SELECT k, pr,
             CASE WHEN pr = '1-URGENT' THEN price + 1.0 ELSE price END,
             band
      FROM odds
    )
    SELECT pr AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE)
             AS amount_total,
           CAST(SUM(band) AS BIGINT) AS band_total,
           CAST((SELECT COUNT(*) FROM evens) AS BIGINT) AS n_v1,
           CAST(3 AS BIGINT) AS n_evolve
    FROM fin GROUP BY pr
    """,
    doc="SQL maintenance verbs end to end (round 18 — "
    "sources/snapshot_sql.sql_dml): a table lives through SEVEN "
    "versions driven entirely by ANSI SQL text — CREATE TABLE AS "
    "SELECT (half of orders), ALTER TABLE ADD COLUMNS (band bigint, "
    "note string) (metadata-only: v1 rows NULL-fill), INSERT INTO "
    "the other half WITH the new columns, ALTER TABLE RENAME COLUMN "
    "price TO amount (v1 files' bytes surface under the new name by "
    "field id), ALTER TABLE DROP COLUMN note, UPDATE ... WHERE (the "
    "empty-source merge path under the renamed schema), and OPTIMIZE "
    "ZORDER BY (k, band) (row-preserving rewrite reading through "
    "every era). The result pins the per-priority row counts, the "
    "post-update amount total, the NULL-fill pattern of the evolved "
    "band column (summed only where the INSERT supplied it), the v1 "
    "time-travel count ACROSS the zorder rewrite, and the count of "
    "evolve_schema commits from DESCRIBE HISTORY. The oracle "
    "reproduces all of it from raw orders — a rename that loses "
    "bytes, an ADD that backfills instead of NULL-filling, or an "
    "UPDATE that fires on the wrong era breaks the hash.",
)
def q_sink_sql_alter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_sql import sql_dml

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_snap_sqlalter"), tag)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    orders.createOrReplaceTempView("alter_orders")
    cat = {"al": root}
    if ts.current_version(root) < 7:  # idempotent per process
        shutil.rmtree(root, ignore_errors=True)
        sql_dml(
            spark,
            "CREATE TABLE al AS SELECT o_orderkey AS k, o_totalprice AS "
            "price, o_orderpriority AS pr FROM alter_orders "
            "WHERE o_orderkey % 2 = 0",
            cat,
        )
        sql_dml(
            spark,
            "ALTER TABLE al ADD COLUMNS (band bigint, note string)",
            cat,
        )
        sql_dml(
            spark,
            "INSERT INTO al (k, price, pr, band, note) "
            "SELECT o_orderkey, o_totalprice, o_orderpriority, "
            "o_orderkey % 5, 'b' FROM alter_orders WHERE o_orderkey % 2 = 1",
            cat,
        )
        sql_dml(spark, "ALTER TABLE al RENAME COLUMN price TO amount", cat)
        sql_dml(spark, "ALTER TABLE al DROP COLUMN note", cat)
        sql_dml(
            spark,
            "UPDATE al SET amount = amount + 1.0 WHERE pr = '1-URGENT'",
            cat,
        )
        sql_dml(spark, "OPTIMIZE al ZORDER BY (k, band)", cat)
    n_v1 = ts.read(spark, root, 1).count()
    hist = sql_dml(spark, "DESCRIBE HISTORY al", cat)["history"]
    n_evolve = sum(1 for h in hist if h["operation"] == "evolve_schema")
    return ts.read(spark, root).groupBy(F.col("pr").alias("o_orderpriority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("amount").cast("decimal(18,2)"))
        .cast("double")
        .alias("amount_total"),
        F.sum("band").cast("bigint").alias("band_total"),
        F.lit(n_v1).cast("bigint").alias("n_v1"),
        F.lit(n_evolve).cast("bigint").alias("n_evolve"),
    )


@register(
    "q_sink_snapshot_timetravel",
    oracle="""
    WITH v1 AS (SELECT COUNT(*) AS n,
                       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp
                FROM orders WHERE o_orderkey % 3 <> 0),
    vall AS (SELECT COUNT(*) AS n,
                    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp
             FROM orders)
    SELECT 1 AS version, CAST(n AS BIGINT) AS n_rows,
           CAST(tp AS DOUBLE) AS total_price, CAST(2 AS BIGINT) AS n_files
    FROM v1
    UNION ALL
    SELECT 2, CAST(n AS BIGINT), CAST(tp AS DOUBLE), CAST(3 AS BIGINT) FROM vall
    UNION ALL
    SELECT 3, CAST(n AS BIGINT), CAST(tp AS DOUBLE), CAST(1 AS BIGINT) FROM vall
    """,
    doc="Snapshot time travel over the mini manifest table format "
    "(round 10, sources/table_snapshots.py — the Iceberg/Delta core "
    "mechanic on plain parquet + atomic renames): v1 commits 2/3 of "
    "orders as two data files, v2 APPENDS the rest as a third, v3 "
    "COMPACTS the table to one file with a replace manifest. All "
    "three versions are then read BACK through their manifests and "
    "aggregated — v1 must still see only its original rows after two "
    "later commits, and v3 (one file) must be row-identical to v2 "
    "(three files): compaction changes layout, never history. "
    "Decimal-exact money sums; file counts come from the manifests, "
    "so a wrong file list breaks the hash. Commit protocol "
    "(atomic manifest + pointer swap, compare-and-swap conflict "
    "detection, vacuum safety) is pinned by tests/test_sources.py. "
    "Scale: manifests are file-granular metadata — commit cost is "
    "O(files touched), reads plan pushdown on the listed files "
    "exactly as on a raw directory.",
)
def q_sink_snapshot_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_snapshots"), tag)
    if ts.current_version(root) < 3:  # idempotent per process
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        first = orders.filter(F.col("o_orderkey") % 3 != 0)
        rest = orders.filter(F.col("o_orderkey") % 3 == 0)
        v1 = ts.commit(
            root, ts.stage_files(first.repartition(2), root), base_version=0
        )
        v2 = ts.commit(
            root, ts.stage_files(rest.coalesce(1), root), base_version=v1
        )
        assert ts.compact(spark, root, n_files=1) == v2 + 1
    rows = []
    price = F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    for v in (1, 2, 3):
        agg = ts.read(spark, root, v).agg(
            F.count(F.lit(1)).alias("n"), price.alias("tp")
        )
        n_files = len(ts.read_manifest(root, v)["files"])
        rows.append(
            agg.select(
                F.lit(v).alias("version"),
                F.col("n").cast("bigint").alias("n_rows"),
                F.col("tp").cast("double").alias("total_price"),
                F.lit(n_files).cast("bigint").alias("n_files"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "q_sink_snapshot_skipping",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(2 AS BIGINT) AS files_kept, CAST(5 AS BIGINT) AS files_skipped
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    GROUP BY o_orderpriority
    """,
    doc="Manifest-time DATA SKIPPING over the snapshot table format "
    "(round 10, sources/table_snapshots.py collect_stats/read_pruned "
    "— Iceberg's manifest-entry column stats): orders staged as one "
    "file per o_orderdate year (7 files), committed WITH per-file "
    "min/max read off the parquet footers at commit time. A two-year "
    "range predicate is then planned against the MANIFEST: exactly 2 "
    "of 7 files are handed to Spark, the other 5 are never listed — "
    "a strictly earlier prune than parquet row-group stats, which "
    "reopen every footer on every query. The kept/skipped counts are "
    "IN the oracle hash, so a wrong skip (or a failure to skip) "
    "breaks the row values or the literals; the in-plan filter makes "
    "pruning a pure I/O optimization, and "
    "tests/test_sources.py proves from EXECUTED scan metrics that "
    "only 2 files were read. At 100 TB this is the driver skipping "
    "thousands of files per query from one footer read each at write "
    "time.",
)
def q_sink_snapshot_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_snap_skip"), tag)
    if ts.current_version(root) < 1:  # idempotent per process
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderdate"
        )
        files: list[str] = []
        for y in sorted(
            r[0] for r in orders.select(F.year("o_orderdate")).distinct().collect()
        ):
            files += ts.stage_files(
                orders.filter(F.year("o_orderdate") == y).coalesce(1), root
            )
        ts.commit(
            root,
            files,
            base_version=0,
            stats=ts.collect_stats(files, ["o_orderdate"]),
        )
    df, kept, skipped = ts.read_pruned(
        spark, root, "o_orderdate", "1996-01-01 00:00:00", "1997-12-31 00:00:00"
    )
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
        F.lit(len(kept)).cast("bigint").alias("files_kept"),
        F.lit(len(skipped)).cast("bigint").alias("files_skipped"),
    )


@register(
    "q_sink_snapshot_merge",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    fin AS (
      SELECT CASE WHEN o_orderkey > (3 * (SELECT m FROM mx)) // 4
                       AND o_orderkey % 10 = 0
                  THEN o_totalprice + 1000.0 ELSE o_totalprice END AS p,
             o_orderpriority
      FROM orders
      UNION ALL
      SELECT o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 7 = 3
    )
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(1 AS BIGINT) AS files_rewritten,
           CAST(3 AS BIGINT) AS files_untouched
    FROM fin GROUP BY o_orderpriority
    """,
    doc="Copy-on-write MERGE on the snapshot table (round 10, "
    "sources/table_snapshots.merge_into — Delta's upsert mechanic): "
    "orders staged as 4 key-range files; the source updates keys in "
    "the TOP quartile only (price + 1000 where key%10=0) and inserts "
    "brand-new keys beyond the current max. merge_into narrows the "
    "rewrite in three stages — manifest key-range stats shortlist the "
    "top-quartile file without opening any other, an input_file_name "
    "semi-join confirms the exact touch set, and only that ONE file "
    "is rewritten (survivors anti-join + source union); the other 3 "
    "are carried by reference into the REPLACE manifest, zero bytes "
    "rewritten. The rewritten/untouched counts sit in the oracle "
    "hash, so a merge that rewrites too much (or misses a matched "
    "file) fails even if row values happen to survive; the oracle "
    "recomputes the post-merge table from the raw source with plain "
    "SQL. Commit runs under the same compare-and-swap as every "
    "writer. At 100 TB this is the difference between rewriting the "
    "table and rewriting the handful of files a day's upserts touch.",
)
def q_sink_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_snap_merge"), tag)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    bounds = [mx // 4, mx // 2, (3 * mx) // 4]
    if ts.current_version(root) < 2:  # idempotent per process
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        files: list[str] = []
        lo = None
        for hi in bounds + [None]:
            part = orders
            if lo is not None:
                part = part.filter(F.col("o_orderkey") > lo)
            if hi is not None:
                part = part.filter(F.col("o_orderkey") <= hi)
            files += ts.stage_files(part.coalesce(1), root)
            lo = hi
        ts.commit(
            root,
            files,
            base_version=0,
            stats=ts.collect_stats(files, ["o_orderkey"]),
        )
        updates = orders.filter(
            (F.col("o_orderkey") > bounds[2]) & (F.col("o_orderkey") % 10 == 0)
        ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        inserts = orders.filter(F.col("o_orderkey") % 7 == 3).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(mx)
        )
        _v, staged, untouched = ts.merge_into(
            spark,
            root,
            updates.unionByName(inserts),
            ["o_orderkey"],
            stats_cols=["o_orderkey"],
            target_files=1,
        )
        # Persist the narrowing outcome for re-reads within the process.
        with open(os.path.join(root, "_merge_scope"), "w") as f:
            f.write(f"{len(staged)} {len(untouched)}")
    with open(os.path.join(root, "_merge_scope")) as f:
        n_staged, n_untouched = (int(x) for x in f.read().split())
    return ts.read(spark, root).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
        F.lit(n_staged).cast("bigint").alias("files_rewritten"),
        F.lit(n_untouched).cast("bigint").alias("files_untouched"),
    )


@register(
    "q_sink_snapshot_merge_clauses",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    fin AS (
      SELECT CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END AS p,
             o_orderpriority
      FROM orders
      WHERE o_orderkey % 10 <> 5
        AND NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 100 = 7)
      UNION ALL
      SELECT o_totalprice + 1000.0, o_orderpriority
      FROM orders, mx
      WHERE o_orderkey % 7 = 3 AND (o_orderkey + m) % 2 = 1
    ),
    chg AS (
      SELECT
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 0) AS n_upd,
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 5)
          + (SELECT COUNT(*) FROM orders
             WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 100 = 7)
          AS n_del,
        (SELECT COUNT(*) FROM orders, mx
         WHERE o_orderkey % 7 = 3 AND (o_orderkey + m) % 2 = 1) AS n_ins
    )
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(n_upd AS BIGINT) AS n_upd,
           CAST(n_del AS BIGINT) AS n_del,
           CAST(n_ins AS BIGINT) AS n_ins
    FROM fin, chg
    GROUP BY o_orderpriority, n_upd, n_del, n_ins
    """,
    doc="Full MERGE clause surface (round 16, verdict ask #1 — "
    "table_snapshots.merge_into with Delta's complete grammar): one "
    "merge runs WHEN MATCHED AND <cond> THEN UPDATE SET (keys "
    "ending in 0 take the source price), WHEN MATCHED THEN DELETE "
    "(first-match-wins: the remaining matched keys, ending in 5), "
    "WHEN NOT MATCHED AND <cond> THEN INSERT (odd new keys only), "
    "and WHEN NOT MATCHED BY SOURCE THEN DELETE (urgent keys ending "
    "in 07 leave the table without ever appearing in the source) — "
    "with the changeFeed table property on, so the merge writes "
    "Delta-CDF row images. The oracle recomputes the post-merge "
    "table AND the per-kind change counts (update_preimage / delete "
    "/ insert rows read back via read_row_changes) from raw orders "
    "in plain SQL — a merge that mis-applies a clause, double-fires "
    "first-match-wins, or emits wrong CDC images fails the hash. "
    "At 100 TB the clause surface is what CDC-apply and SCD "
    "maintenance pipelines run daily; file narrowing carries over "
    "(only files where a clause FIRES are rewritten).",
)
def q_sink_snapshot_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_snap_mergecl"), tag)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    if ts.current_version(root) < 3:  # idempotent per process
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        bounds = [mx // 4, mx // 2, (3 * mx) // 4]
        files: list[str] = []
        lo = None
        for hi in bounds + [None]:
            part = orders
            if lo is not None:
                part = part.filter(F.col("o_orderkey") > lo)
            if hi is not None:
                part = part.filter(F.col("o_orderkey") <= hi)
            files += ts.stage_files(part.coalesce(1), root)
            lo = hi
        ts.commit(
            root,
            files,
            base_version=0,
            stats=ts.collect_stats(files, ["o_orderkey"]),
        )
        v_prop = ts.set_property(root, "changeFeed", True)
        matched_src = orders.filter(
            (F.col("o_orderkey") % 10).isin(0, 5)
        ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        insert_src = orders.filter(F.col("o_orderkey") % 7 == 3).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(mx)
        ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        v_merge, _staged, _untouched = ts.merge_into(
            spark,
            root,
            matched_src.unionByName(insert_src),
            ["o_orderkey"],
            when_matched=[
                {
                    "action": "update",
                    "condition": "s.o_orderkey % 10 = 0",
                    "set": {"o_totalprice": "s.o_totalprice"},
                },
                {"action": "delete"},
            ],
            when_not_matched=[
                {"action": "insert", "condition": "s.o_orderkey % 2 = 1"},
            ],
            when_not_matched_by_source=[
                {
                    "action": "delete",
                    "condition": "t.o_orderpriority = '1-URGENT' "
                    "AND t.o_orderkey % 100 = 7",
                },
            ],
            target_files=4,
        )
        # CDC images the merge wrote: count per kind (bounded driver
        # collect — at most 4 scalar rows)
        kinds = {
            r["_change_type"]: r["n"]
            for r in ts.read_row_changes(spark, root, v_prop, v_merge)
            .groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert kinds.get("update_preimage", 0) == kinds.get(
            "update_postimage", 0
        ), "CDF pre/post image counts must pair up"
        with open(os.path.join(root, "_merge_cdf"), "w") as f:
            f.write(
                f"{kinds.get('update_preimage', 0)} "
                f"{kinds.get('delete', 0)} {kinds.get('insert', 0)}"
            )
    with open(os.path.join(root, "_merge_cdf")) as f:
        n_upd, n_del, n_ins = (int(x) for x in f.read().split())
    return ts.read(spark, root).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
        F.lit(n_upd).cast("bigint").alias("n_upd"),
        F.lit(n_del).cast("bigint").alias("n_del"),
        F.lit(n_ins).cast("bigint").alias("n_ins"),
    )


@register(
    "q_sink_snapshot_changes",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(2 AS BIGINT) AS n_change_files
    FROM orders WHERE o_orderkey % 3 IN (1, 2)
    GROUP BY o_orderpriority
    """,
    doc="Incremental (CDC) read over the snapshot table (round 10, "
    "sources/table_snapshots.read_changes — Iceberg's incremental "
    "scan): three APPEND commits land thirds of orders; the consumer "
    "asks for changes (v1, v3] and gets EXACTLY the two appended "
    "files — the file-set difference of append-only manifests IS the "
    "change set, no data read to compute it. The change-file count "
    "is in the oracle hash; a consumer that re-reads v1 rows (or "
    "drops a batch) fails the row values. Ranges crossing a REPLACE "
    "(compaction/merge) raise instead of double-counting rewritten "
    "rows — pinned in tests/test_sources.py. At 100 TB this is what "
    "feeds downstream pipelines per-commit deltas without ever "
    "rescanning the table.",
)
def q_sink_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_snap_cdc"), tag)
    if ts.current_version(root) < 3:  # idempotent per process
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        v = 0
        for i in (0, 1, 2):
            batch = orders.filter(F.col("o_orderkey") % 3 == i).coalesce(1)
            v = ts.commit(root, ts.stage_files(batch, root), base_version=v)
    changed = ts.read_changes(spark, root, 1, 3)
    n_files = len(
        set(ts.read_manifest(root, 3)["files"])
        - set(ts.read_manifest(root, 1)["files"])
    )
    return changed.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
        F.lit(n_files).cast("bigint").alias("n_change_files"),
    )


@register(
    "q_sink_snapshot_evolution",
    oracle="""
    WITH e AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
         o AS (SELECT * FROM orders WHERE o_orderkey % 2 = 1)
    SELECT 1 AS version,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_rows,
           CAST(3 AS BIGINT) AS n_cols,
           CAST(NULL AS BIGINT) AS n_price2x_nulls,
           CAST(NULL AS DOUBLE) AS total_price2x
    UNION ALL
    SELECT 2,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST(4 AS BIGINT),
           CAST((SELECT COUNT(*) FROM e) AS BIGINT),
           (SELECT CAST(SUM(CAST(o_totalprice * 2 AS DECIMAL(18,2))) AS DOUBLE)
            FROM o)
    """,
    doc="SCHEMA EVOLUTION with schema time travel on the snapshot "
    "table (round 10, table_snapshots.commit(schema=...) — Iceberg's "
    "schema tracking): v1 commits half of orders under the 3-column "
    "schema; v2 appends the other half WITH a new o_price2x column, "
    "and the commit merges the schema union-by-name INTO the "
    "manifest. Reading v1 must still show exactly 3 columns (columns "
    "added later are invisible to old versions — schema is versioned "
    "WITH the data), while reading v2 shows 4 columns with the "
    "pre-evolution files NULL-filled by parquet schema projection. "
    "Column counts, the NULL-fill count, and the decimal-exact sum "
    "over only the post-evolution rows all sit in the oracle hash; "
    "a type-conflicting redefinition raises SchemaConflict instead "
    "of silently casting (tests/test_sources.py). At 100 TB this is "
    "how a table gains a column with zero rewrites — old files are "
    "never touched, the manifest's schema does the work.",
)
def q_sink_snapshot_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_snap_evo"), tag)
    if ts.current_version(root) < 2:  # idempotent per process
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        first = orders.filter(F.col("o_orderkey") % 2 == 0)
        second = orders.filter(F.col("o_orderkey") % 2 == 1).withColumn(
            "o_price2x", F.col("o_totalprice") * F.lit(2.0)
        )
        v1 = ts.commit(
            root,
            ts.stage_files(first.coalesce(1), root),
            base_version=0,
            schema=first.schema.json(),
        )
        ts.commit(
            root,
            ts.stage_files(second.coalesce(1), root),
            base_version=v1,
            schema=second.schema.json(),
        )
    v1_df = ts.read(spark, root, 1)
    v2_df = ts.read(spark, root, 2)
    r1 = v1_df.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows")).select(
        F.lit(1).alias("version"),
        "n_rows",
        F.lit(len(v1_df.columns)).cast("bigint").alias("n_cols"),
        F.lit(None).cast("bigint").alias("n_price2x_nulls"),
        F.lit(None).cast("double").alias("total_price2x"),
    )
    r2 = v2_df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("o_price2x").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_price2x_nulls"),
        F.sum(F.col("o_price2x").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price2x"),
    ).select(
        F.lit(2).alias("version"),
        "n_rows",
        F.lit(len(v2_df.columns)).cast("bigint").alias("n_cols"),
        "n_price2x_nulls",
        "total_price2x",
    )
    return r1.unionByName(r2)


@register(
    "q_sink_snapshot_delete",
    oracle="""
    WITH base AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
    d1 AS (SELECT * FROM base WHERE o_orderstatus <> 'F'),
    d2 AS (SELECT * FROM d1 WHERE o_orderkey % 2 = 1)
    SELECT 1 AS stage, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(0 AS BIGINT) AS n_delete_files
    FROM base
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
           CAST(1 AS BIGINT)
    FROM d1
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
           CAST(2 AS BIGINT)
    FROM d2
    UNION ALL
    SELECT 4, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
           CAST(0 AS BIGINT)
    FROM d2
    """,
    doc="Merge-on-read DELETE over the snapshot table (round 10, "
    "table_snapshots.delete_where — Iceberg format-v2 position "
    "deletes): orders staged as 3 files; DELETE WHERE status='F' "
    "writes ONE (file_path, row_index) delete file instead of "
    "rewriting any of them, a second stacked DELETE (even keys) adds "
    "another, and compaction finally MATERIALIZES both (reads "
    "through the vectors, commits rewritten files with zero delete "
    "entries). Stages 1-4 read: the pre-delete version (time travel "
    "— delete vectors version like everything else), each "
    "merge-on-read state, and the post-compact table; stage 3 and 4 "
    "must agree on rows and decimal-exact sums while their "
    "delete-file counts differ (2 vs 0) — all inside the oracle "
    "hash. The second delete's victim scan reads THROUGH the first "
    "delete's vectors, so already-deleted rows are never masked or "
    "counted twice. At 100 TB this is the write-amplification "
    "trade: O(deleted rows) bytes per DELETE, readers pay one "
    "broadcast anti-join on masked files only, and compaction "
    "restores the clean fast path.",
)
def q_sink_snapshot_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_snap_del"), tag)
    if ts.current_version(root) < 4:  # idempotent per process
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        )
        v1 = ts.commit(
            root, ts.stage_files(orders.repartition(3), root), base_version=0
        )
        v2, _n, _aff = ts.delete_where(spark, root, "o_orderstatus = 'F'")
        v3, _n2, _a2 = ts.delete_where(spark, root, "o_orderkey % 2 = 0")
        assert (v2, v3) == (v1 + 1, v1 + 2)
        assert ts.compact(spark, root, n_files=1) == v3 + 1
    rows = []
    price = F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    for stage, v in ((1, 1), (2, 2), (3, 3), (4, 4)):
        m = ts.read_manifest(root, v)
        n_dv = len({d for lst in (m.get("deletes") or {}).values() for d in lst})
        rows.append(
            ts.read(spark, root, v)
            .agg(F.count(F.lit(1)).alias("n"), price.alias("tp"))
            .select(
                F.lit(stage).alias("stage"),
                F.col("n").cast("bigint").alias("n_rows"),
                F.col("tp").cast("double").alias("total_price"),
                F.lit(n_dv).cast("bigint").alias("n_delete_files"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "q_sink_snapshot_eqdelete",
    oracle="""
    -- Equality-delete lifecycle re-derived relationally: v1 = base,
    -- v2 = base minus key-matched rows, v3 = v2 plus LATE rows whose
    -- keys match the earlier delete (applies scoping: they survive),
    -- v4 = v3 minus a stacked position delete, v5 = v4 compacted.
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
    live2 AS (SELECT * FROM base WHERE o_custkey % 7 <> 0),
    late AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_totalprice
      FROM base WHERE o_custkey % 7 = 0 AND o_orderkey % 100 < 5),
    live3 AS (SELECT * FROM live2 UNION ALL SELECT * FROM late),
    live4 AS (SELECT * FROM live3 WHERE o_orderkey % 3 <> 0),
    agg AS (
      SELECT 1 AS stage, 0 AS n_eq, 0 AS n_dv, COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp FROM base
      UNION ALL
      SELECT 2, 1, 0, COUNT(*), SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM live2
      UNION ALL
      SELECT 3, 1, 0, COUNT(*), SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM live3
      UNION ALL
      SELECT 4, 1, 1, COUNT(*), SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM live4
      UNION ALL
      SELECT 5, 0, 0, COUNT(*), SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM live4)
    SELECT stage, CAST(n AS BIGINT) AS n_rows, CAST(tp AS DOUBLE) AS total_price,
           CAST(n_eq AS BIGINT) AS n_eq_entries, CAST(n_dv AS BIGINT) AS n_delete_files
    FROM agg
    """,
    doc="EQUALITY deletes over the snapshot table (round 11, "
    "table_snapshots.delete_eq — Iceberg format-v2's second delete "
    "kind, the primitive streaming upsert needs): DELETE by key "
    "writes only the key rows (zero data files read or rewritten — "
    "O(|keys|) bytes, vs the position delete's victim scan), and the "
    "manifest entry's commit-time 'applies' list carries Iceberg's "
    "sequence-number rule file-granularly: rows APPENDED AFTER the "
    "delete survive even with matching keys (stage 3 re-appends "
    "key-matched late rows and the oracle counts them alive). A "
    "stacked position delete then masks through the equality mask "
    "(stage 4: both kinds applied, metadata columns pin one eq entry "
    "+ one delete vector), and compaction materializes BOTH kinds "
    "(stage 5: same rows, zero delete metadata). Counts, "
    "decimal-exact sums, and the delete-metadata shape of all five "
    "versions sit inside one oracle hash.",
)
def q_sink_snapshot_eqdelete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_snap_eqdel"), tag)
    if ts.current_version(root) < 5:  # idempotent per process
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        v1 = ts.commit(
            root, ts.stage_files(orders.repartition(3), root), base_version=0
        )
        keys = (
            orders.filter(F.col("o_custkey") % 7 == 0)
            .select("o_custkey")
            .dropDuplicates()
        )
        v2, _dv = ts.delete_eq(spark, root, keys)
        late = (
            orders.filter(
                (F.col("o_custkey") % 7 == 0) & (F.col("o_orderkey") % 100 < 5)
            )
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
        )
        v3 = ts.commit(root, ts.stage_files(late, root), base_version=v2)
        v4, _n, _aff = ts.delete_where(spark, root, "o_orderkey % 3 = 0")
        assert (v2, v3, v4) == (v1 + 1, v1 + 2, v1 + 3)
        assert ts.compact(spark, root, n_files=1) == v4 + 1
    rows = []
    price = F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    for stage in (1, 2, 3, 4, 5):
        m = ts.read_manifest(root, stage)
        n_eq = len(m.get("eq_deletes") or [])
        n_dv = len({d for lst in (m.get("deletes") or {}).values() for d in lst})
        rows.append(
            ts.read(spark, root, stage)
            .agg(F.count(F.lit(1)).alias("n"), price.alias("tp"))
            .select(
                F.lit(stage).alias("stage"),
                F.col("n").cast("bigint").alias("n_rows"),
                F.col("tp").cast("double").alias("total_price"),
                F.lit(n_eq).cast("bigint").alias("n_eq_entries"),
                F.lit(n_dv).cast("bigint").alias("n_delete_files"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "q_sink_snapshot_optimize",
    oracle="""
    -- bands = bottom 5% of each key's range; the file-level skipping
    -- outcomes are booleans (range-partitioner boundaries are
    -- sampled, so exact kept/skipped counts are layout noise), the
    -- row values and band populations are exact
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price,
           CAST(COUNT(*) FILTER (WHERE l_partkey <=
                (SELECT MAX(l_partkey) // 20 FROM lineitem)) AS BIGINT)
             AS band_a_rows,
           CAST(COUNT(*) FILTER (WHERE l_suppkey <=
                (SELECT MAX(l_suppkey) // 20 FROM lineitem)) AS BIGINT)
             AS band_b_rows,
           TRUE AS skip_a_improved,
           TRUE AS skip_b_improved,
           TRUE AS rewrite_identical
    FROM lineitem
    """,
    doc="OPTIMIZE ZORDER BY for the snapshot table format (round 11, "
    "table_snapshots.optimize_zorder — Delta's table-maintenance "
    "verb, composing the engine's Morton-layout expressions "
    "(functions/layout.py, q_sink_zorder) with the manifest commit "
    "path): lineitem lands as three arrival-ordered appends with "
    "footer stats on (l_partkey, l_suppkey), where manifest skipping "
    "(prune_files) is provably useless — every file spans both key "
    "ranges, zero skipped on either band. One optimize_zorder rewrite "
    "(in-plan z-value, one range exchange + in-partition sort, "
    "REPLACE manifest with fresh stats) makes a 5%-band read on "
    "EITHER column skip files from the manifest alone. The oracle "
    "hash pins the exact row count, decimal-exact total, both band "
    "populations (read through the PRUNED scan, so a wrong skip "
    "changes values, not just counts), and three booleans: skipping "
    "improved on a, on b, and the rewrite changed no values (old "
    "version still readable by time travel — compaction changes "
    "layout, never history). At 100 TB this is the nightly OPTIMIZE "
    "job: one sort amortized across every subsequent multi-dim range "
    "query.",
)
def q_sink_snapshot_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_snap_opt"), tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    stats_cols = ["l_partkey", "l_suppkey"]
    v = 0
    for i in (0, 1, 2):  # arrival-ordered appends: no key clustering
        files = ts.stage_files(
            li.filter(F.col("l_orderkey") % 3 == i).coalesce(4), root
        )
        v = ts.commit(
            root,
            files,
            base_version=v,
            stats=ts.collect_stats(files, stats_cols),
        )
    mx = li.agg(F.max("l_partkey"), F.max("l_suppkey")).first()
    a_hi, b_hi = mx[0] // 20, mx[1] // 20
    m_pre = ts.read_manifest(root)
    skip_a_pre = len(ts.prune_files(m_pre, "l_partkey", 0, a_hi)[1])
    skip_b_pre = len(ts.prune_files(m_pre, "l_suppkey", 0, b_hi)[1])

    v_opt = ts.optimize_zorder(
        spark, root, "l_partkey", "l_suppkey", n_files=12
    )
    m_post = ts.read_manifest(root, v_opt)
    skip_a_post = len(ts.prune_files(m_post, "l_partkey", 0, a_hi)[1])
    skip_b_post = len(ts.prune_files(m_post, "l_suppkey", 0, b_hi)[1])

    price = F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
    after = ts.read(spark, root).agg(
        F.count(F.lit(1)).alias("n"), price.alias("tp")
    )
    before = ts.read(spark, root, v).agg(
        F.count(F.lit(1)).alias("n0"), price.alias("tp0")
    )
    # band populations THROUGH the pruned read: a wrong skip loses rows
    dfa, _, _ = ts.read_pruned(spark, root, "l_partkey", 0, a_hi)
    band_a = dfa.filter(F.col("l_partkey") <= a_hi).agg(
        F.count(F.lit(1)).alias("ba")
    )
    dfb, _, _ = ts.read_pruned(spark, root, "l_suppkey", 0, b_hi)
    band_b = dfb.filter(F.col("l_suppkey") <= b_hi).agg(
        F.count(F.lit(1)).alias("bb")
    )
    return (
        after.crossJoin(before)
        .crossJoin(band_a)
        .crossJoin(band_b)
        .select(
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("tp").cast("double").alias("total_price"),
            F.col("ba").cast("bigint").alias("band_a_rows"),
            F.col("bb").cast("bigint").alias("band_b_rows"),
            F.lit(skip_a_post > skip_a_pre).alias("skip_a_improved"),
            F.lit(skip_b_post > skip_b_pre).alias("skip_b_improved"),
            ((F.col("n") == F.col("n0")) & (F.col("tp") == F.col("tp0"))).alias(
                "rewrite_identical"
            ),
        )
    )


@register(
    "q_scan_snapshot_source",
    oracle="""
    WITH live AS (
      SELECT * FROM orders
      WHERE o_orderkey % 4 <> 1 AND o_orderpriority <> '5-LOW')
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows_before
    FROM live GROUP BY o_orderpriority
    """,
    doc="Batch DataSource over the snapshot table format (round 11, "
    "sources/snapshot_source.py — the spark.read half of the "
    "lakehouse API, twin of the streaming CDC source): "
    "format('snapshot').option('path').option('versionAsOf') plans "
    "one partition per live data file from the manifest alone, and "
    "each EXECUTOR task streams its parquet file as Arrow batches, "
    "applying the file's position-delete vectors (row-index mask) "
    "and applicable equality-delete entries (key anti-filter) before "
    "a row leaves the task — row bytes never pass the driver, clean "
    "files pay neither join. Certified: a table built by appends + a "
    "position DELETE + an equality DELETE is read through the "
    "source; per-priority counts and decimal-exact totals of the "
    "LIVE rows, plus a versionAsOf time-travel read of the "
    "pre-delete table folded in as a column, all sit in the oracle "
    "hash (and the unit test pins row identity with "
    "table_snapshots.read, the Catalyst-visible path).",
)
def q_scan_snapshot_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_source import (
        register_snapshot_source,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_snap_src"), tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v = 0
    for i in (0, 1):
        v = ts.commit(
            root,
            ts.stage_files(
                orders.filter(F.col("o_orderkey") % 2 == i).coalesce(2), root
            ),
            base_version=v,
        )
    ts.delete_where(spark, root, "o_orderkey % 4 = 1")
    ts.delete_eq(
        spark,
        root,
        orders.select("o_orderpriority").filter(
            F.col("o_orderpriority") == "5-LOW"
        ).distinct(),
    )
    register_snapshot_source(spark)
    # scan-time projection (round 18): the Python DataSource API has no
    # pruning pushdown, so without the columns option both scans read
    # and ship ALL THREE columns across the Arrow boundary; the agg
    # needs two, the time-travel count needs only row counts (one
    # narrow column keeps the scan honest — every file still streams
    # through the delete-vector mask)
    cur = (
        spark.read.format("snapshot")
        .option("path", root)
        .option("columns", '["o_totalprice", "o_orderpriority"]')
        .load()
    )
    pre = (
        spark.read.format("snapshot")
        .option("path", root)
        .option("versionAsOf", v)
        .option("columns", '["o_orderkey"]')
        .load()
        .agg(F.count(F.lit(1)).alias("_n0"))
    )
    return (
        cur.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .crossJoin(F.broadcast(pre))
        .withColumn("n_rows_before", F.col("_n0").cast("bigint"))
        .drop("_n0")
    )


@register(
    "q_sink_snapshot_partitioned",
    oracle="""
    -- the physical layout is deterministic: each append writes exactly
    -- one file per present (priority, bucket) combo (repartition by
    -- the partition tuple routes a combo to one task; partitionBy
    -- splits by directory), so file counts == distinct combos per
    -- append and the pruning split is exactly reproducible in SQL
    WITH c AS (
      SELECT DISTINCT o_orderkey % 2 AS half, o_orderpriority AS pr,
             o_custkey % 8 AS bk
      FROM orders),
    hit AS (
      SELECT * FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_custkey % 8 = 3)
    SELECT CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_files,
           CAST((SELECT COUNT(*) FROM c
                 WHERE pr = '1-URGENT' AND bk = 3) AS BIGINT) AS n_kept,
           CAST((SELECT COUNT(*) FROM c
                 WHERE NOT (pr = '1-URGENT' AND bk = 3)) AS BIGINT)
             AS n_skipped,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM hit
    """,
    doc="Partition specs for the snapshot table format (round 12, "
    "verdict ask #3 — Iceberg's partition-spec layer): orders lands "
    "as two appends staged through stage_files_partitioned with spec "
    "[identity(o_orderpriority), bucket(o_custkey, 8)] (bucket = "
    "pmod, recorded in the spec, so the oracle reproduces bucket ids "
    "with plain arithmetic); the manifest records the spec plus a "
    "per-file partition tuple, carried through the O(new files) "
    "append SEGMENTS. A read for one (priority, bucket) cell then "
    "prunes whole partitions from the MANIFEST — before, and much "
    "cheaper than, footer-stats skipping; at 100 TB the skipped "
    "files are never even listed. The oracle hash pins the total "
    "file count, the exact kept/pruned file split (the layout is "
    "deterministic: one file per partition combo per append), and "
    "the row count + decimal-exact revenue read THROUGH the pruned "
    "scan — a wrong skip loses rows and breaks the hash, not just a "
    "counter. The executed-scan-metric proof (only kept files "
    "touched) is pinned by tests/test_sources.py::"
    "test_snapshot_partition_spec, the q_sink_dpp_join pattern.",
)
def q_sink_snapshot_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_snap_part"), tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    spec = [("identity", "o_orderpriority"), ("bucket", "o_custkey", 8)]
    v = 0
    for half in (0, 1):  # two appends: tuples must survive SEGMENTS
        files, parts = ts.stage_files_partitioned(
            orders.filter(F.col("o_orderkey") % 2 == half), root, spec
        )
        v = ts.commit(
            root,
            files,
            base_version=v,
            partition_spec=spec,
            partitions=parts,
        )
    m = ts.read_manifest(root, v)
    eq = {
        "o_orderpriority": "1-URGENT",
        "o_custkey_bucket_8": 3,
    }
    pruned, kept, skipped = ts.read_partition_pruned(spark, root, eq)
    hit = pruned.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_custkey") % 8 == 3)
    )
    return hit.agg(
        F.lit(len(m["files"])).cast("bigint").alias("n_files"),
        F.lit(len(kept)).cast("bigint").alias("n_kept"),
        F.lit(len(skipped)).cast("bigint").alias("n_skipped"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


@register(
    "q_sink_snapshot_restore",
    oracle="""
    WITH a AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0)
    SELECT CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows_v2,
           CAST(COUNT(*) AS BIGINT) AS n_rows_head,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price_head,
           TRUE AS history_intact,
           CAST(1 AS BIGINT) AS restored_version,
           CAST(3 AS BIGINT) AS head_version
    FROM a
    """,
    doc="RESTORE TABLE ... TO VERSION AS OF for the snapshot format "
    "(round 12, table_snapshots.restore — Delta's rollback verb): two "
    "appends land (even then odd orderkeys), then the table is "
    "restored to v1 — a METADATA-ONLY new commit republishing v1's "
    "complete state (files, both delete kinds, schema, partition "
    "metadata); no data file read or written, the undone append stays "
    "readable at v2 (audit trail, not a rewind), and CDC refuses to "
    "file-diff across the restore. The oracle hash pins the pre-"
    "restore row count, the restored head's row count and decimal-"
    "exact revenue (read through the restored manifest), a boolean "
    "that v2 history is intact, and both version numbers — a wrong "
    "file list or version chain changes values, not just counters. "
    "At 100 TB restore is O(manifest): the rollback every incident "
    "runbook wants, at metadata cost.",
)
def q_sink_snapshot_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_snap_restore"), tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    v1 = ts.commit(
        root,
        ts.stage_files(orders.filter(F.col("o_orderkey") % 2 == 0), root),
        base_version=0,
    )
    v2 = ts.commit(
        root,
        ts.stage_files(orders.filter(F.col("o_orderkey") % 2 == 1), root),
        base_version=v1,
    )
    n_v2 = ts.read(spark, root, v2).count()
    head = ts.restore(root, v1)
    hist_ok = ts.read(spark, root, v2).count() == n_v2
    return ts.read(spark, root).agg(
        F.lit(n_v2).cast("bigint").alias("n_rows_v2"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows_head"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price_head"),
        F.lit(hist_ok).alias("history_intact"),
        F.lit(v1).cast("bigint").alias("restored_version"),
        F.lit(head).cast("bigint").alias("head_version"),
    )


@register(
    "q_sink_partition_evolution",
    oracle="""
    WITH old_half AS (SELECT * FROM events WHERE event_id % 2 = 0),
    new_half AS (SELECT * FROM events WHERE event_id % 2 = 1),
    et AS (SELECT event_type AS v FROM old_half ORDER BY event_id LIMIT 1),
    uid AS (SELECT user_id AS v FROM new_half ORDER BY event_id LIMIT 1),
    d AS (SELECT COUNT(DISTINCT event_type) AS d FROM old_half),
    b AS (SELECT COUNT(DISTINCT user_id % 8) AS b FROM new_half)
    SELECT 'event_type' AS probe,
           CAST((SELECT COUNT(*) FROM events
                 WHERE event_type = (SELECT v FROM et)) AS BIGINT) AS n_rows,
           CAST((SELECT SUM(event_id) FROM events
                 WHERE event_type = (SELECT v FROM et)) AS BIGINT) AS id_sum,
           CAST(1 + (SELECT b FROM b) AS BIGINT) AS n_kept,
           CAST((SELECT d FROM d) - 1 AS BIGINT) AS n_skipped
    UNION ALL
    SELECT 'user_id',
           CAST((SELECT COUNT(*) FROM events
                 WHERE user_id = (SELECT v FROM uid)) AS BIGINT),
           CAST((SELECT SUM(event_id) FROM events
                 WHERE user_id = (SELECT v FROM uid)) AS BIGINT),
           CAST((SELECT d FROM d) + 1 AS BIGINT),
           CAST((SELECT b FROM b) - 1 AS BIGINT)
    ORDER BY probe
    """,
    doc="Partition-spec EVOLUTION (round 14, verdict ask #2 — "
    "Iceberg tables change specs mid-life): the even-event_id half of "
    "events is committed partitioned identity(event_type), the spec "
    "then evolves to bucket(8, user_id), and the odd half lands under "
    "the new spec — nothing rewritten, each file's tuple stamped with "
    "its write-era spec (table_snapshots.evolve_partition_spec, "
    "spec_log). Two source-column pruned reads follow: an event_type "
    "probe prunes the OLD files to exactly 1 of 5 (new files keep — "
    "their spec does not transform event_type), a user_id probe "
    "prunes the NEW files to exactly 1 of 8 buckets (old files "
    "keep). The kept/skipped counts are IN the hash — derivable "
    "because stage_files_partitioned writes exactly one file per "
    "distinct partition tuple — and the row aggregates certify no "
    "false skip ever drops a row. The executed scan lists only kept "
    "files (inputFiles-proved in tests/test_sources.py).",
)
def q_sink_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_specevo"), tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    old_half = ev.filter(F.col("event_id") % 2 == 0)
    new_half = ev.filter(F.col("event_id") % 2 == 1)
    spec1 = [("identity", "event_type")]
    f1, p1 = ts.stage_files_partitioned(old_half, root, spec1)
    v = ts.commit(
        root,
        f1,
        base_version=0,
        schema=old_half.schema.json(),
        partition_spec=spec1,
        partitions=p1,
    )
    v = ts.evolve_partition_spec(root, [("bucket", "user_id", 8)])
    spec2 = [tuple(t) for t in ts.read_manifest(root)["partition_spec"]]
    f2, p2 = ts.stage_files_partitioned(new_half, root, spec2)
    ts.commit(root, f2, base_version=v, partitions=p2)

    et = old_half.select(F.min_by("event_type", "event_id")).first()[0]
    uid = new_half.select(F.min_by("user_id", "event_id")).first()[0]

    def probe(name: str, col: str, value) -> DataFrame:
        df, kept, skipped = ts.read_partition_pruned_src(
            spark, root, {col: value}
        )
        return df.filter(F.col(col) == F.lit(value)).agg(
            F.lit(name).alias("probe"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
            F.lit(len(kept)).cast("bigint").alias("n_kept"),
            F.lit(len(skipped)).cast("bigint").alias("n_skipped"),
        )

    return (
        probe("event_type", "event_type", et)
        .unionByName(probe("user_id", "user_id", uid))
        .orderBy("probe")
    )


@register(
    "q_sink_iceberg_roundtrip",
    oracle="""
    WITH v1 AS (SELECT COUNT(*) AS n,
                       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp
                FROM orders WHERE o_orderkey % 3 <> 0),
    vall AS (SELECT COUNT(*) AS n,
                    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tp
             FROM orders)
    SELECT 'current' AS snap, CAST(n AS BIGINT) AS n_rows,
           CAST(tp AS DOUBLE) AS price_sum,
           CAST(3 AS BIGINT) AS n_files, CAST(3 AS BIGINT) AS n_snapshots
    FROM vall
    UNION ALL
    SELECT 'v1', CAST(n AS BIGINT), CAST(tp AS DOUBLE),
           CAST(2 AS BIGINT), CAST(3 AS BIGINT)
    FROM v1
    ORDER BY snap
    """,
    doc="Iceberg-spec metadata interop (round 14, verdict ask #3): a "
    "snapshot table lives through append (2 files) -> RENAME "
    "o_totalprice->price -> append (1 file), then "
    "export_iceberg_metadata writes format-version-2 metadata for it "
    "— metadata.json, per-snapshot manifest lists and manifests as "
    "from-spec Avro (sources/avro_py.py, nested manifest_entry/"
    "data_file records), field ids mapped 1:1 from the table's "
    "field_id stamps, and the spec's schema.name-mapping.default "
    "property carrying every name each id ever had. The table is then "
    "read BACK through the generic Iceberg path (read_iceberg_table): "
    "the current snapshot resolves pre-rename files to 'price' via "
    "the name mapping, snapshot 1 time-travels to the original "
    "schema, and the per-snapshot file counts come from the Avro "
    "manifests — so a broken manifest encoding, id mapping, or "
    "name-mapping lookup breaks this hash. Values decimal-exact.",
)
def q_sink_iceberg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import iceberg_meta as im
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    orders = load_table(spark, sf_dir, "orders")
    tag = os.path.basename(sf_dir.rstrip("/"))
    base = os.path.join(proc_dir("bfs_mapreduce_spark_iceberg"), tag)
    shutil.rmtree(base, ignore_errors=True)
    root = os.path.join(base, "tbl")
    out = os.path.join(base, "ice")
    os.makedirs(root)
    d1 = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_totalprice"
    )
    v = ts.commit(
        root,
        ts.stage_files(d1.repartition(2), root),
        base_version=0,
        schema=d1.schema.json(),
    )
    v = ts.rename_column(root, "o_totalprice", "price")
    d3 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    ts.commit(
        root,
        ts.stage_files(d3.coalesce(1), root),
        base_version=v,
        schema=d3.schema.json(),
    )
    summary = im.export_iceberg_metadata(root, out)
    n_snapshots = len(summary["exported"])

    def snap_agg(label: str, snapshot_id, price_col: str) -> DataFrame:
        files, _info = im.iceberg_snapshot_files(out, snapshot_id)
        df = im.read_iceberg_table(spark, out, snapshot_id)
        return df.agg(
            F.lit(label).alias("snap"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col(price_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("price_sum"),
            F.lit(len(files)).cast("bigint").alias("n_files"),
            F.lit(n_snapshots).cast("bigint").alias("n_snapshots"),
        )

    return (
        snap_agg("current", None, "price")
        .unionByName(snap_agg("v1", 1, "o_totalprice"))
        .orderBy("snap")
    )


@register(
    "q_sink_snapshot_row_changes",
    oracle="""
    WITH base AS (SELECT o_orderkey AS k,
                         CAST(o_totalprice AS DECIMAL(18,2)) AS p
                  FROM orders),
    ins1 AS (SELECT k, p FROM base WHERE k % 3 = 0),
    del2 AS (SELECT k, p FROM ins1 WHERE k % 6 = 0),
    src AS (SELECT k, p + 1 AS p FROM base WHERE k % 5 = 0),
    pre3 AS (SELECT k, p FROM ins1 WHERE k % 15 = 0 AND k % 6 <> 0),
    post3 AS (SELECT s.k, s.p FROM src s JOIN pre3 ON s.k = pre3.k),
    ins3 AS (SELECT s.k, s.p FROM src s
             WHERE s.k NOT IN (SELECT k FROM pre3)),
    live4_old AS (SELECT k, p FROM ins1
                  WHERE k % 6 <> 0 AND k % 5 <> 0),
    del4 AS (SELECT k, p FROM live4_old WHERE k % 9 = 0
             UNION ALL
             SELECT k, p FROM src WHERE k % 9 = 0),
    g AS (
      SELECT 1 AS _commit_version, 'insert' AS _change_type,
             COUNT(*) AS n, SUM(p) AS s FROM ins1
      UNION ALL SELECT 2, 'delete', COUNT(*), SUM(p) FROM del2
      UNION ALL SELECT 3, 'update_preimage', COUNT(*), SUM(p) FROM pre3
      UNION ALL SELECT 3, 'update_postimage', COUNT(*), SUM(p) FROM post3
      UNION ALL SELECT 3, 'insert', COUNT(*), SUM(p) FROM ins3
      UNION ALL SELECT 4, 'delete', COUNT(*), SUM(p) FROM del4)
    SELECT CAST(_commit_version AS BIGINT) AS _commit_version,
           _change_type,
           CAST(n AS BIGINT) AS n_rows,
           CAST(s AS DOUBLE) AS price_sum
    FROM g WHERE n > 0
    ORDER BY _commit_version, _change_type
    """,
    doc="ROW-LEVEL change feed (round 14 — Delta CDF semantics derived "
    "Iceberg-style, read_row_changes): a snapshot table lives through "
    "append (orders with o_orderkey%3=0) -> merge-on-read DELETE "
    "(%6=0, position vectors) -> UPSERT (source %5=0 at price+1: "
    "matched live keys emit update_preimage/update_postimage, keys "
    "that were already deleted or never existed emit insert) -> "
    "equality DELETE (%9=0 keys, victims read through the PRIOR "
    "delete state so dead rows never re-emit) -> compaction (row-"
    "preserving: contributes NOTHING by proof, via the round-14 "
    "operation tags). The feed is derived LAZILY from metadata the "
    "format already retains — position vectors and key files are "
    "immutable — with zero commit-time cost, where Delta writes CDF "
    "files per commit. One row per (version, change_type) with "
    "decimal-exact price sums; the oracle reproduces every image "
    "from modular arithmetic on raw orders, so a wrong victim set, "
    "a re-emitted dead row, or a mis-split pre/post image breaks "
    "the hash.",
)
def q_sink_snapshot_row_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    orders = load_table(spark, sf_dir, "orders")
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_rowcdc"), tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    k = F.col("o_orderkey")
    d1 = orders.filter(k % 3 == 0).select("o_orderkey", "o_totalprice")
    ts.commit(
        root, ts.stage_files(d1, root), base_version=0, schema=d1.schema.json()
    )
    ts.delete_where(spark, root, "o_orderkey % 6 = 0")
    src = orders.filter(k % 5 == 0).select(
        "o_orderkey", (F.col("o_totalprice") + 1).alias("o_totalprice")
    )
    ts.upsert_eq(spark, root, src, ["o_orderkey"])
    keys = orders.filter(k % 9 == 0).select("o_orderkey").distinct()
    ts.delete_eq(spark, root, keys)
    v = ts.compact(spark, root)
    ch = ts.read_row_changes(spark, root, 0, v)
    return (
        ch.groupBy("_commit_version", "_change_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_sum"),
        )
        .orderBy("_commit_version", "_change_type")
    )


@register(
    "q_sink_iceberg_import_deletes",
    oracle="""
    WITH a AS (SELECT o_orderkey AS k,
                      CAST(o_totalprice AS DECIMAL(18,2)) AS p
               FROM orders WHERE o_orderkey % 3 = 0),
    b AS (SELECT o_orderkey AS k,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS p
          FROM orders WHERE o_orderkey % 3 = 1),
    live AS (
      SELECT k, p FROM a WHERE k % 12 <> 0 AND k % 5 <> 0
      UNION ALL
      SELECT k, p FROM b)
    SELECT s.stage AS stage,
           CAST((SELECT COUNT(*) FROM live) AS BIGINT) AS n_rows,
           CAST((SELECT SUM(k) FROM live) AS BIGINT) AS key_sum,
           CAST((SELECT SUM(p) FROM live) AS DOUBLE) AS price_sum,
           CAST(s.nf AS BIGINT) AS n_files
    FROM (VALUES ('adopted', 2), ('compacted', 1)) AS s(stage, nf)
    ORDER BY stage
    """,
    doc="Iceberg v2 DELETE-MANIFEST import (round 15, verdict ask #2): "
    "a foreign delete-carrying Iceberg table is forged from the public "
    "spec alone — data file A (sequence 1: o_orderkey%3=0), data file "
    "B (sequence 3: %3=1), a position-delete file (sequence 2) naming "
    "A's %12=0 rows by (file_path, pos), and an equality-delete file "
    "(sequence 2, equality_ids=[k's field id]) keying every %5=0 "
    "order — then import_iceberg_table adopts it by reference: the "
    "position deletes map onto delete vectors, the equality delete "
    "onto a delete_eq entry whose applies-scope translates the spec's "
    "strictly-older sequence-number rule file-granularly (A only — "
    "B's %5=0 rows MUST survive, being newer than the delete). The "
    "adopted merge-on-read state aggregates decimal-exact before and "
    "after a compaction materializes both delete kinds, so a wrong "
    "victim set, a mis-scoped equality delete, or a resurrection "
    "through the rewrite breaks the hash.",
)
def q_sink_iceberg_import_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import json

    from pyspark.sql import Window

    from bfs_mapreduce_spark.sources import iceberg_meta as im
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.avro_py import write_avro

    orders = load_table(spark, sf_dir, "orders")
    tag = os.path.basename(sf_dir.rstrip("/"))
    base = os.path.join(proc_dir("bfs_mapreduce_spark_ice_imp"), tag)
    shutil.rmtree(base, ignore_errors=True)
    loc = os.path.join(base, "foreign")
    data_dir = os.path.join(loc, "data")
    meta_dir = os.path.join(loc, "metadata")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)
    keyed = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )

    def write_one(df, name: str) -> str:
        # executor-side parquet write; the driver renames ONE path
        tmp = os.path.join(base, f"_w_{name}")
        df.coalesce(1).sortWithinPartitions("k").write.parquet(tmp)
        part = next(
            f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")
        )
        dst = os.path.join(data_dir, f"{name}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        return dst

    fa = write_one(keyed.filter(F.col("k") % 3 == 0), "a")
    fb = write_one(keyed.filter(F.col("k") % 3 == 1), "b")
    # position-delete rows: (file_path=A, pos) of A's %12=0 rows in its
    # k-sorted file order — spec column names, computed in one job
    w = Window.orderBy("k")
    pos_df = (
        keyed.filter(F.col("k") % 3 == 0)
        .select("k", (F.row_number().over(w) - 1).alias("rn"))
        .filter(F.col("k") % 12 == 0)
        .select(
            F.lit(fa).alias("file_path"), F.col("rn").cast("long").alias("pos")
        )
    )
    fpos = write_one(
        pos_df.withColumn("k", F.col("pos")), "pos-del"
    )  # sort key alias; columns file_path/pos/k — extras are spec-legal
    feq = write_one(
        keyed.filter(F.col("k") % 5 == 0).select("k").distinct(), "eq-del"
    )

    entry_schema = im._manifest_entry_schema()
    entry_schema["fields"][-1]["type"]["fields"].append(
        {
            "name": "equality_ids",
            "type": ["null", {"type": "array", "items": "int"}],
            "default": None,
            "field-id": 135,
        }
    )

    def entry(path: str, content: int, seq: int, eq_ids=None) -> dict:
        return {
            "status": 1,
            "snapshot_id": 3,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": content,
                "file_path": path,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": 0,
                "file_size_in_bytes": os.path.getsize(path),
                "equality_ids": eq_ids,
            },
        }

    m_data = os.path.join(meta_dir, "manifest-data.avro")
    write_avro(m_data, entry_schema, [entry(fa, 0, 1), entry(fb, 0, 3)])
    m_del = os.path.join(meta_dir, "manifest-del.avro")
    write_avro(
        m_del,
        entry_schema,
        [entry(fpos, 1, 2), entry(feq, 2, 2, eq_ids=[1])],
    )

    def list_row(path: str, content: int, seq: int) -> dict:
        return {
            "manifest_path": path,
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": 1,
            "added_snapshot_id": 3,
            "added_files_count": 2,
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": 0,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }

    lp = os.path.join(meta_dir, "snap-3.avro")
    write_avro(
        lp,
        im._MANIFEST_LIST_SCHEMA,
        [list_row(m_data, 0, 3), list_row(m_del, 1, 2)],
    )
    md = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-00000000000f",
        "location": loc,
        "last-sequence-number": 3,
        "last-updated-ms": 0,
        "last-column-id": 2,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "k", "required": False, "type": "long"},
                    {
                        "id": 2,
                        "name": "p",
                        "required": False,
                        "type": "decimal(18, 2)",
                    },
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {},
        "current-snapshot-id": 3,
        "snapshots": [
            {
                "snapshot-id": 3,
                "sequence-number": 3,
                "timestamp-ms": 0,
                "summary": {"operation": "overwrite"},
                "manifest-list": lp,
                "schema-id": 0,
            }
        ],
        "snapshot-log": [],
        "metadata-log": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as f:
        json.dump(md, f)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write("1")

    root = os.path.join(base, "adopted")
    os.makedirs(root)
    im.import_iceberg_table(spark, loc, root)

    def agg(stage: str) -> DataFrame:
        nf = len(ts.read_manifest(root)["files"])
        return ts.read(spark, root).agg(
            F.lit(stage).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("k").cast("bigint").alias("key_sum"),
            F.sum("p").cast("double").alias("price_sum"),
            F.lit(nf).cast("bigint").alias("n_files"),
        )

    adopted = agg("adopted")
    ts.compact(spark, root)
    return adopted.unionByName(agg("compacted")).orderBy("stage")


@register(
    "q_sink_iceberg_import_dv",
    oracle="""
    WITH a AS (SELECT o_orderkey AS k,
                      CAST(o_totalprice AS DECIMAL(18,2)) AS p
               FROM orders WHERE o_orderkey % 3 = 0),
    b AS (SELECT o_orderkey AS k,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS p
          FROM orders WHERE o_orderkey % 3 = 1),
    live AS (
      SELECT k, p FROM a WHERE k % 12 <> 0
      UNION ALL
      SELECT k, p FROM b)
    SELECT s.stage AS stage,
           CAST((SELECT COUNT(*) FROM live) AS BIGINT) AS n_rows,
           CAST((SELECT SUM(k) FROM live) AS BIGINT) AS key_sum,
           CAST((SELECT SUM(p) FROM live) AS DOUBLE) AS price_sum,
           CAST(s.nf AS BIGINT) AS n_files
    FROM (VALUES ('adopted', 2), ('compacted', 1)) AS s(stage, nf)
    ORDER BY stage
    """,
    doc="Iceberg v3 PUFFIN DELETION-VECTOR import (round 16, verdict "
    "ask #2): a v3 table is forged from the public specs alone — data "
    "file A (sequence 1: o_orderkey%3=0, k-sorted), data file B "
    "(sequence 3: %3=1), and a .puffin file (sequence 2) whose "
    "deletion-vector-v1 blob (big-endian framing + magic D1D33964 + "
    "portable 64-bit RoaringBitmap + CRC-32, sources/puffin_py.py) "
    "masks A's %12=0 rows by position, referenced via the manifest "
    "entry's referenced_data_file/content_offset fields so the import "
    "never opens the puffin footer. import_iceberg_table maps the DV "
    "onto a position vector for exactly file A (B is newer than the "
    "DV and unreferenced — its rows MUST survive). The adopted "
    "merge-on-read state aggregates decimal-exact before and after a "
    "compaction materializes the DV, so a mis-parsed bitmap, a "
    "mis-scoped DV, or a resurrection through the rewrite breaks the "
    "hash.",
)
def q_sink_iceberg_import_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    from pyspark.sql import Window

    from bfs_mapreduce_spark.sources import iceberg_meta as im
    from bfs_mapreduce_spark.sources import puffin_py as pf
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.avro_py import write_avro

    orders = load_table(spark, sf_dir, "orders")
    tag = os.path.basename(sf_dir.rstrip("/"))
    base = os.path.join(proc_dir("bfs_mapreduce_spark_ice_dv"), tag)
    shutil.rmtree(base, ignore_errors=True)
    loc = os.path.join(base, "foreign")
    data_dir = os.path.join(loc, "data")
    meta_dir = os.path.join(loc, "metadata")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)
    keyed = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )

    def write_one(df, name: str) -> str:
        tmp = os.path.join(base, f"_w_{name}")
        df.coalesce(1).sortWithinPartitions("k").write.parquet(tmp)
        part = next(
            f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")
        )
        dst = os.path.join(data_dir, f"{name}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        return dst

    fa = write_one(keyed.filter(F.col("k") % 3 == 0), "a")
    fb = write_one(keyed.filter(F.col("k") % 3 == 1), "b")
    # DV positions: A's %12=0 rows in its k-sorted file order (one
    # bounded collect of the masked positions — the fixture forge,
    # not the query path)
    w = Window.orderBy("k")
    positions = [
        r["rn"]
        for r in keyed.filter(F.col("k") % 3 == 0)
        .select("k", (F.row_number().over(w) - 1).alias("rn"))
        .filter(F.col("k") % 12 == 0)
        .select("rn")
        .collect()
    ]
    fdv = os.path.join(data_dir, "deletes.puffin")
    dv_meta = pf.write_puffin_dvs(
        fdv, {fa: positions}, snapshot_id=3, sequence_number=2
    )[0]

    entry_schema = im._manifest_entry_schema()
    entry_schema["fields"][-1]["type"]["fields"] += [
        {"name": "referenced_data_file", "type": ["null", "string"],
         "default": None, "field-id": 143},
        {"name": "content_offset", "type": ["null", "long"],
         "default": None, "field-id": 144},
        {"name": "content_size_in_bytes", "type": ["null", "long"],
         "default": None, "field-id": 145},
    ]

    def entry(path, content, seq, fmt="PARQUET", ref=None, off=None, ln=None):
        return {
            "status": 1,
            "snapshot_id": 3,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": content,
                "file_path": path,
                "file_format": fmt,
                "partition": {},
                "record_count": 0,
                "file_size_in_bytes": os.path.getsize(path),
                "referenced_data_file": ref,
                "content_offset": off,
                "content_size_in_bytes": ln,
            },
        }

    m_data = os.path.join(meta_dir, "manifest-data.avro")
    write_avro(m_data, entry_schema, [entry(fa, 0, 1), entry(fb, 0, 3)])
    m_del = os.path.join(meta_dir, "manifest-del.avro")
    write_avro(
        m_del,
        entry_schema,
        [entry(fdv, 1, 2, fmt="PUFFIN", ref=fa,
               off=dv_meta["offset"], ln=dv_meta["length"])],
    )

    def list_row(path: str, content: int, seq: int) -> dict:
        return {
            "manifest_path": path,
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": 1,
            "added_snapshot_id": 3,
            "added_files_count": 2,
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": 0,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }

    lp = os.path.join(meta_dir, "snap-3.avro")
    write_avro(
        lp,
        im._MANIFEST_LIST_SCHEMA,
        [list_row(m_data, 0, 3), list_row(m_del, 1, 2)],
    )
    md = {
        "format-version": 3,
        "table-uuid": "00000000-0000-0000-0000-0000000000d7",
        "location": loc,
        "last-sequence-number": 3,
        "last-updated-ms": 0,
        "last-column-id": 2,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "k", "required": False, "type": "long"},
                    {
                        "id": 2,
                        "name": "p",
                        "required": False,
                        "type": "decimal(18, 2)",
                    },
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {},
        "current-snapshot-id": 3,
        "snapshots": [
            {
                "snapshot-id": 3,
                "sequence-number": 3,
                "timestamp-ms": 0,
                "summary": {"operation": "overwrite"},
                "manifest-list": lp,
                "schema-id": 0,
            }
        ],
        "snapshot-log": [],
        "metadata-log": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as f:
        json.dump(md, f)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write("1")

    root = os.path.join(base, "adopted")
    os.makedirs(root)
    im.import_iceberg_table(spark, loc, root)

    def agg(stage: str) -> DataFrame:
        nf = len(ts.read_manifest(root)["files"])
        return ts.read(spark, root).agg(
            F.lit(stage).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("k").cast("bigint").alias("key_sum"),
            F.sum("p").cast("double").alias("price_sum"),
            F.lit(nf).cast("bigint").alias("n_files"),
        )

    adopted = agg("adopted")
    ts.compact(spark, root)
    return adopted.unionByName(agg("compacted")).orderBy("stage")


@register(
    "q_sink_partial_compaction",
    oracle="""
    WITH src AS (SELECT o_orderkey AS k,
                        CAST(o_totalprice AS DECIMAL(18,2)) AS p
                 FROM orders),
    live AS (SELECT k, p FROM src WHERE k % 11 <> 0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(p) AS DOUBLE) AS price_sum,
           CAST(1 AS BIGINT) AS big_carried,
           CAST(2 AS BIGINT) AS n_files_after
    FROM live
    """,
    doc="PARTIAL compaction over the snapshot format (round 15 — "
    "Iceberg's rewrite_data_files with a size threshold): orders land "
    "as one BIG file plus a fragmented 8-file small tail, a "
    "merge-on-read DELETE masks k%11=0 rows across all of them, and "
    "compact(small_below_bytes=...) rewrites ONLY the tail into one "
    "file — the big file is carried by reference (its delete vectors "
    "ride forward and keep masking), zero of its bytes rewritten, "
    "which is the property that makes compaction affordable at 100 TB "
    "(the settled bulk is never touched). The aggregate runs through "
    "the post-compact merge-on-read state, and the big_carried / "
    "n_files_after booleans sit inside the certified hash — a "
    "compaction that rewrote the big file, dropped its vectors, or "
    "lost tail rows breaks the match.",
)
def q_sink_partial_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    orders = load_table(spark, sf_dir, "orders")
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_pcompact"), tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    src = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    f_big = ts.stage_files(src.filter(F.col("k") % 3 != 0).coalesce(1), root)
    f_small = ts.stage_files(
        src.filter(F.col("k") % 3 == 0).repartition(8), root
    )
    ts.commit(
        root,
        f_big + f_small,
        base_version=0,
        schema=src.schema.json(),
        stats=ts.collect_stats(f_big + f_small, ["k"]),
    )
    ts.delete_where(spark, root, "k % 11 = 0")
    thr = os.path.getsize(f_big[0])  # the big file sits above the cut
    v = ts.compact(spark, root, n_files=1, small_below_bytes=thr)
    m = ts.read_manifest(root, v)
    big_carried = int(set(f_big) <= set(m["files"]))
    return ts.read(spark, root).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("k").cast("bigint").alias("key_sum"),
        F.sum("p").cast("double").alias("price_sum"),
        F.lit(big_carried).cast("bigint").alias("big_carried"),
        F.lit(len(m["files"])).cast("bigint").alias("n_files_after"),
    )
