"""Event-time streaming operators over the ``events`` table
(SURVEY.md §2.10 "Streaming" — NEW surface, BUILTIN machinery).

The reference has no streaming; the engine adds the standard
Structured Streaming repertoire:

- tumbling windows + watermark (``tumbling_counts``)
- session windows with a 30-minute gap (``session_counts``)
- custom stateful aggregation via ``applyInPandasWithState``
  (``running_user_counts``)

Batch parity is the correctness contract: each streaming operator,
run over the staged events with ``Trigger.AvailableNow``, must produce
exactly what the equivalent batch query produces on the same data
(tests/test_streaming.py; the catalog entries in this module run the
stream to completion and hand the driver a comparable DataFrame, so
streaming gets real DuckDB-oracle rows too).

Scale posture: watermarks bound state (late rows beyond the watermark
are dropped, window state is evicted); session windows keep one
merged-interval state per active (user, session); the stateful op
keeps O(distinct users) counters partitioned by the groupBy key. All
state lives in the executor state store, partitioned by key — nothing
accumulates on the driver.

API-generation note: Spark 4's next-generation arbitrary-state API
(``transformWithStateInPandas`` / ``StatefulProcessor`` with typed
state variables, timers, and TTL) is the successor to
``applyInPandasWithState``. Its Python worker speaks protobuf to the
JVM state server, and this container ships no ``google.protobuf``
(verified: the processor initializes then the streaming runner dies
with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE / ImportError),
so the engine keeps ``applyInPandasWithState`` — identical semantics
for the running-counts operator here — and a transformWithState
variant is a mechanical swap (groupBy().transformWithStateInPandas
with a 3-method StatefulProcessor) once the dependency exists.
Round 15: the refusal is pinned by a canary
(tests/test_streaming.py::test_transform_with_state_refusal_is_still_genuine)
that FAILS the moment google.protobuf becomes importable, so the
boundary cannot silently outlive its cause; a live probe on this
build still dies in the streaming runner with ``ImportError: cannot
import name 'descriptor' from 'google.protobuf'``.
"""

from __future__ import annotations

import contextvars
import glob
import os
import shutil
import tempfile
from collections.abc import Iterator
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from bfs_mapreduce_spark.plans.reliable import ckpt_lazy as _ckpt_lazy
from bfs_mapreduce_spark.sources.readers import load_table, reference_graph

# Per-process staging root (tmputil): two concurrent sessions staging
# the same sf_dir must not interleave writes behind each other's
# done-markers (the overwrite+append+marker sequence in
# stage_documents_with_duplicates is torn if shared); atexit removal +
# dead-pid sweep keep /tmp bounded across repeated runs.
from bfs_mapreduce_spark.tmputil import proc_dir

_STAGE_ROOT = proc_dir("bfs_mapreduce_spark_stream")
_mem_counter = 0


def stage_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage events.parquet (nanos ts already normalized to NTZ by
    load_table) into a directory the file-stream source can list.
    Idempotent per sf_dir."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    out = os.path.join(_STAGE_ROOT, tag, "events")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(out)
    return out


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source stream (event-time column
    ``ts`` cast to LTZ — watermarks/windows require an instant; the
    session is pinned UTC so values are unchanged)."""
    staged = stage_events(spark, sf_dir)
    schema = spark.read.parquet(staged).schema
    return (
        spark.readStream.schema(schema)
        .parquet(staged)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def tumbling_counts(stream: DataFrame, width: str = "1 hour", watermark: str = "1 hour") -> DataFrame:
    """Per-(window, event_type) counts and value sums with a watermark
    bounding window state."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Per-user session windows (30-min inactivity gap): session start
    and event count. State = one merged interval per active session."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
        )
    )


def _running_counts_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState body: accumulate a per-user event count
    across micro-batches (the minimal custom stateful operator)."""
    (user_id,) = key
    total = state.get[0] if state.exists else 0
    for pdf in batches:
        total += len(pdf)
    state.update((total,))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [total]})


def running_user_counts(stream: DataFrame) -> DataFrame:
    """Custom stateful op: running per-user event count via
    applyInPandasWithState (state store partitioned by user_id)."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _running_counts_fn,
        outputStructType="user_id bigint, n_events bigint",
        stateStructType="n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream(df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow) into a
    parquet FILE sink and read the result back as a batch frame.

    The result never funnels through the driver: append mode uses the
    native parquet sink; complete and update modes (the file sink can't
    express them) go through ``foreachBatch`` with a distributed write —
    complete overwrites with each trigger's full result (the directory
    ends holding the final answer), update appends each trigger's
    changed rows (the union of updates, exactly what the memory sink
    records in update mode). Executors write, executors later scan; the
    driver only coordinates.
    """
    global _mem_counter
    _mem_counter += 1
    spark = df.sparkSession
    out = os.path.join(_STAGE_ROOT, "results", f"q{os.getpid()}_{_mem_counter}")
    # Idempotence: after a crash + PID reuse the (pid, counter) name can
    # collide with a stale run's directory and the append-mode sinks
    # would merge old rows into this run's read-back. Start clean.
    shutil.rmtree(out, ignore_errors=True)
    with tempfile.TemporaryDirectory(prefix="bfs_mr_ckpt_") as ckpt:
        if output_mode in ("complete", "update"):
            write_mode = "overwrite" if output_mode == "complete" else "append"
            writer = df.writeStream.foreachBatch(
                lambda batch, _id: batch.write.mode(write_mode).parquet(out)
            ).outputMode(output_mode)
        else:
            writer = df.writeStream.format("parquet").option("path", out).outputMode(
                output_mode
            )
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # Zero micro-batches (e.g. an empty staged input) never invokes a
    # write, so the sink directory may not exist: that is an empty
    # result, not a PATH_NOT_FOUND error.
    if not any(f.endswith(".parquet") for f in glob.glob(os.path.join(out, "*"))):
        return spark.createDataFrame([], df.schema)
    return spark.read.parquet(out)


# ---------------------------------------------------------------- catalog entries

from bfs_mapreduce_spark.registry import register  # noqa: E402


@register(
    "q_stream_tumbling",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1h window + watermark, run as a real stream "
    "(file source → AvailableNow → parquet sink) and compared against "
    "the batch SQL oracle — streaming/batch parity as a MATCH row.",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream(tumbling_counts(events_stream(spark, sf_dir)))


@register(
    "q_stream_session",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps)
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="Session windows (30-min gap) as a real stream, oracle = batch "
    "gaps-and-islands. Boundary semantics: a gap of exactly 30min "
    "starts a new session (session_window's half-open interval), hence "
    ">= in the oracle.",
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream(session_counts(events_stream(spark, sf_dir)))


def sliding_counts(stream: DataFrame, width: str = "1 hour", slide: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Sliding windows: each event lands in width/slide overlapping
    windows (2 here). State per open window, bounded by the watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
        )
    )


@register(
    "q_stream_sliding",
    oracle="""
    WITH ex AS (
      SELECT event_type,
             unnest([time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
                     time_bucket(INTERVAL '30 minutes', ts)]) AS window_start
      FROM events)
    SELECT window_start, event_type, COUNT(*) AS n
    FROM ex GROUP BY window_start, event_type
    """,
    doc="Sliding 1h/30min windows as a real stream; every event lands "
    "in exactly two windows, which the batch oracle reproduces by "
    "exploding each event into its two bucket starts.",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream(sliding_counts(events_stream(spark, sf_dir)))


def purchase_view_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases matched to the same user's
    views in the preceding hour. Watermarks on BOTH sides plus the
    time-range join condition let Spark bound join state (views older
    than purchase-watermark - 1h are evicted) — the state-safe shape
    for stream-stream joins at scale."""
    p = events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase").select(
        F.col("event_id"), F.col("user_id"), F.col("ts")
    ).withWatermark("ts", "1 hour")
    v = events_stream(spark, sf_dir).filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_event_id"),
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
    ).withWatermark("v_ts", "1 hour")
    return p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") < F.col("ts")),
    ).select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "v_event_id",
        F.col("v_ts").cast("timestamp_ntz").alias("v_ts"),
    )


@register(
    "q_stream_stream_join",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    v AS (SELECT event_id AS v_event_id, user_id AS v_user_id, ts AS v_ts
          FROM events WHERE event_type = 'view')
    SELECT p.event_id, p.user_id, p.ts, v.v_event_id, v.v_ts
    FROM p JOIN v ON p.user_id = v.v_user_id
       AND v.v_ts >= p.ts - INTERVAL 1 HOUR AND v.v_ts < p.ts
    """,
    doc="Stream-stream inner join (purchase x same-user views in the "
    "preceding hour) with watermarks bounding both sides' join state, "
    "run to completion and compared against the batch range-join SQL.",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream(purchase_view_join(spark, sf_dir), output_mode="append")


# Static emission horizon for the OUTER stream-stream join: NULL-
# extended rows only emit once the watermark proves no match can
# arrive, and rows still inside the final watermark horizon when an
# AvailableNow run ends stay in state, unemitted. The testdata
# generator spans 2024-01-01..30 at every sf, so a cutoff one day
# before the end sits >= 20h below any final watermark (max ts - 1h)
# — everything at or before it is provably emitted.
_OUTER_JOIN_CUTOFF = "2024-01-30 00:00:00"


@register(
    "q_stream_outer_join",
    oracle=f"""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    v AS (SELECT event_id AS v_event_id, user_id AS v_user_id, ts AS v_ts
          FROM events WHERE event_type = 'view')
    SELECT p.event_id, p.user_id, p.ts, v.v_event_id, v.v_ts
    FROM p LEFT JOIN v ON p.user_id = v.v_user_id
       AND v.v_ts >= p.ts - INTERVAL 1 HOUR AND v.v_ts < p.ts
    WHERE p.ts <= TIMESTAMP '{_OUTER_JOIN_CUTOFF}'
    """,
    doc="Stream-stream LEFT OUTER join — the semantics trap the inner "
    "variant can't exercise: a purchase with no preceding same-user "
    "view must surface NULL-extended, but only after the watermark "
    "proves no matching view can still arrive (emitting earlier would "
    "be wrong-then-retracted; append mode never retracts). Both sides "
    "watermarked, time-range condition bounding state exactly as the "
    "inner join; the static cutoff keeps the comparison to rows whose "
    "emission the final watermark provably forced, which is the honest "
    "contract of an outer join over a stream that ends.",
)
def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", "1 hour")
    )
    v = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("v_event_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    j = (
        p.join(
            v,
            (F.col("user_id") == F.col("v_user_id"))
            & (F.col("v_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("v_ts") < F.col("ts")),
            "left_outer",
        )
        .filter(F.col("ts") <= F.lit(_OUTER_JOIN_CUTOFF).cast("timestamp"))
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            "v_event_id",
            F.col("v_ts").cast("timestamp_ntz").alias("v_ts"),
        )
    )
    return run_stream(j, output_mode="append")


@register(
    "q_stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
    doc="Stream-static enrichment: the static dimension is re-read per "
    "micro-batch and broadcast under the join — no state, the standard "
    "streaming lookup-join shape.",
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    customers = load_table(spark, sf_dir, "customer")
    enriched = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .join(F.broadcast(customers), F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "user_id", F.col("c_mktsegment").alias("segment"))
    )
    return run_stream(enriched, output_mode="append")


@register(
    "q_stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type, DATE_TRUNC('hour', ts) AS hour
    FROM events
    """,
    doc="Streaming exact dedup at ingestion: "
    "dropDuplicatesWithinWatermark on the key — state for a key is "
    "EVICTED once the watermark passes its event time + delay, so "
    "state is bounded by the watermark horizon (plain dropDuplicates "
    "on a no-event-time key subset would grow state forever). Exact "
    "global dedup whenever duplicate arrival skew <= the 2h horizon — "
    "true here (a key's duplicates share its event hour) and the "
    "operator's documented contract at scale. Output is the distinct "
    "key set: deterministic and oracle-comparable.",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        events_stream(spark, sf_dir)
        .select(
            "user_id",
            "event_type",
            F.date_trunc("hour", "ts").alias("hour"),
            "ts",
        )
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "hour"])
        .select("user_id", "event_type", F.col("hour").cast("timestamp_ntz").alias("hour"))
    )
    return run_stream(s, output_mode="append")


@register(
    "q_stream_stateful_counts",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
    doc="The custom stateful operator (applyInPandasWithState) as an "
    "oracle-checked row: per-user running event counts accumulate in "
    "the executor state store across micro-batches; update mode emits "
    "each user's count every time it changes, and the final state is "
    "extracted as max-per-user (counts only grow). The batch oracle is "
    "the plain per-user COUNT — any lost batch, dropped state row, or "
    "double-count breaks the hash.",
)
def q_stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    updates = run_stream(
        running_user_counts(events_stream(spark, sf_dir)), output_mode="update"
    )
    return updates.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


def stage_documents_with_duplicates(
    spark: SparkSession, sf_dir: str, copies: int = 2
) -> str:
    """Stage the documents table ``copies`` times into one directory —
    the file-stream source then delivers every doc_id more than once,
    so dedup-at-ingestion has real duplicates to remove. Idempotent
    per (sf_dir, copies)."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    out = os.path.join(_STAGE_ROOT, tag, f"documents_x{copies}")
    marker = os.path.join(out, "_ALL_COPIES_STAGED")
    if not os.path.exists(marker):
        docs = load_table(spark, sf_dir, "documents")
        docs.write.mode("overwrite").parquet(out)
        for _ in range(copies - 1):
            docs.write.mode("append").parquet(out)
        with open(marker, "w"):
            pass
    return out


from bfs_mapreduce_spark.operators.text_queries import PII_MASK_ORACLE  # noqa: E402


@register(
    "q_stream_pii_mask",
    oracle=PII_MASK_ORACLE,
    doc="Training-data ingest, composed: documents arrive as a stream "
    "WITH duplicates (staged twice), are exact-deduped at ingestion "
    "(dropDuplicatesWithinWatermark on doc_id — state evicted past the "
    "watermark horizon, the q_stream_dedup contract), then PII-masked "
    "with the same stateless projection as q_text_pii_mask. The oracle "
    "IS q_text_pii_mask's masked-sha SQL over the single-copy table: "
    "a lost row, a surviving duplicate, or one unmasked byte all break "
    "the hash. Ingest time is synthetic (doc_id-derived) — the "
    "deterministic stand-in for arrival time, identical across copies "
    "so duplicates always collide inside the horizon.",
)
def q_stream_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.text_queries import pii_mask_frame

    staged = stage_documents_with_duplicates(spark, sf_dir)
    schema = spark.read.parquet(staged).schema
    s = (
        spark.readStream.schema(schema)
        .parquet(staged)
        # synthetic ingest timestamp: epoch 2024-01-01 + (doc_id mod 1h),
        # spread across an hour so the watermark story is real, and a
        # pure function of the key so a duplicate can never be
        # misclassified as late relative to its first copy
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1_704_067_200) + F.col("doc_id") % 3600),
        )
        .withWatermark("ingest_ts", "2 hours")
        .dropDuplicatesWithinWatermark(["doc_id"])
    )
    return run_stream(pii_mask_frame(s), output_mode="append")


_SMALLG_FILE = reference_graph("smallG")
_EDGE_CHUNKS = 5


def stage_edge_chunks(n_chunks: int = _EDGE_CHUNKS) -> str:
    """Split the reference's smallG edge list into ``n_chunks`` files —
    the arriving-files shape the streaming edgelist source consumes.
    Idempotent per process."""
    out = os.path.join(_STAGE_ROOT, f"edge_chunks_{n_chunks}")
    marker = os.path.join(out, "_STAGED")
    if not os.path.exists(marker):
        os.makedirs(out, exist_ok=True)
        lines = [
            ln for ln in open(_SMALLG_FILE, encoding="utf-8").read().splitlines() if ln.strip()
        ]
        per = (len(lines) + n_chunks - 1) // n_chunks
        for i in range(n_chunks):
            chunk = lines[i * per : (i + 1) * per]
            with open(os.path.join(out, f"chunk_{i}.txt"), "w", encoding="utf-8") as f:
                f.write("\n".join(chunk) + "\n")
        open(marker, "w").close()
    return out


@register(
    "q_stream_edgelist_degree",
    oracle=f"""
    WITH e AS (SELECT src, dst FROM read_csv('{_SMALLG_FILE}', delim=' ',
                 header=false, columns={{'src': 'BIGINT', 'dst': 'BIGINT'}})),
    sym AS (SELECT src, dst FROM e WHERE src <> dst
            UNION SELECT dst, src FROM e WHERE src <> dst),
    deg AS (SELECT src, COUNT(*) AS degree FROM sym GROUP BY src)
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_vertices
    FROM deg GROUP BY degree
    """,
    doc="The STREAMING half of the custom Python DataSource API "
    "(SimpleDataSourceStreamReader): smallG staged as arriving chunk "
    "files, read with spark.readStream.format('edgelist') — offsets "
    "are a bounded (watermark, recent-files, batch) triple, so "
    "restart recovery and offset-range replay are exact at O(batch) "
    "offset size — then symmetrize → dedup → degree histogram in "
    "complete mode. Shares q_scan_edgelist_source's oracle: the batch "
    "and streaming reader of the same source must land on identical "
    "results over the same file bytes.",
)
def q_stream_edgelist_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources.edgelist_source import register_edgelist_source

    register_edgelist_source(spark)
    chunks = stage_edge_chunks()
    e = spark.readStream.format("edgelist").load(chunks)
    fwd = e.filter(F.col("src") != F.col("dst"))
    sym = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # ONE stateful operator: parallel-edge dedup folds into the
    # collect_set aggregate (a dropDuplicates + two aggregates would
    # chain stateful ops, which streaming without watermarks rejects);
    # the tiny degree→count histogram runs on the batch result.
    deg = sym.groupBy("src").agg(F.size(F.collect_set("dst")).alias("degree"))
    got = run_stream(deg, output_mode="complete")
    return got.groupBy(F.col("degree").cast("bigint").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_vertices")
    )


from bfs_mapreduce_spark.operators.dedup_queries import _SQL_SHINGLES


@register(
    "q_stream_dedup_ingest",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents)
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_store_docs,
           TRUE AS matches_batch_star
    FROM sh WHERE len(shingles) > 0
    """,
    doc="Streaming ingestion INTO the incremental dedup store — the "
    "continuous form a 100 TB pipeline actually runs: documents "
    "staged as arriving parquet files, readStream with "
    "maxFilesPerTrigger=1, and each micro-batch folds into the "
    "replay-safe LSH signature store via foreachBatch(ingest_batch). "
    "The stream deliberately REPLAYS the init corpus (the store is "
    "seeded with file 0, then the stream delivers files 0..2) to "
    "prove at-least-once delivery dedupes instead of double-counting. "
    "Certification: the store holds exactly the shingleable corpus "
    "(SQL-recomputed), and the compacted hot-bucket star set of the "
    "STREAMED store equals, pair for pair, what a single-shot batch "
    "LSH over the full corpus emits (engine-checked anti-joins — the "
    "same independent-code-path equivalence q_dedup_lsh_compaction "
    "certifies for the batch-ingested store).",
)
def q_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.dedup_incremental import (
        compact_store,
        ingest_batch,
        init_store,
    )
    from bfs_mapreduce_spark.operators.dedup_queries import minhash_lsh_pairs
    from bfs_mapreduce_spark.tmputil import proc_dir

    mb = 2  # hotness threshold, matching q_dedup_lsh_compaction's rationale
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_streamdedup"), tag)
    shutil.rmtree(root, ignore_errors=True)
    chunks, store = os.path.join(root, "chunks"), os.path.join(root, "store")
    os.makedirs(chunks, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    b1, b2 = hi // 3, (2 * hi) // 3
    splits = [
        docs.filter(F.col("doc_id") <= b1),
        docs.filter((F.col("doc_id") > b1) & (F.col("doc_id") <= b2)),
        docs.filter(F.col("doc_id") > b2),
    ]
    for i, part in enumerate(splits):
        part.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(chunks, f"chunk_{i}.parquet")
        )
    init_store(spark, splits[0], store)

    # foreachBatch runs _fold on a py4j callback thread, which does not
    # see this thread's contextvars: run it under a copy taken here so
    # an ambient reliable_checkpoints(...) reaches ingest_batch's cuts
    ctx = contextvars.copy_context()

    def _fold(batch: DataFrame, _bid: int) -> None:
        ctx.run(ingest_batch, spark, batch, store, max_bucket_rows=mb)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(chunks, "*"))
    )
    with tempfile.TemporaryDirectory(prefix="bfs_mr_ingest_ckpt_") as ckpt:
        q = (
            stream.writeStream.foreachBatch(_fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    links = compact_store(spark, store, max_bucket_rows=mb)
    batch_star = (
        minhash_lsh_pairs(docs, max_bucket_rows=mb)
        .filter(F.col("star"))
        .select("doc_a", "doc_b")
        .transform(_ckpt_lazy)
    )
    extra = links.join(batch_star, ["doc_a", "doc_b"], "left_anti")
    missing = batch_star.join(links, ["doc_a", "doc_b"], "left_anti")
    n_store = spark.read.parquet(f"{store}/shingles").count()
    n_docs = docs.count()
    return (
        extra.agg(F.count(F.lit(1)).alias("_extra"))
        .crossJoin(missing.agg(F.count(F.lit(1)).alias("_missing")))
        .select(
            F.lit(n_docs).cast("bigint").alias("n_docs"),
            F.lit(n_store).cast("bigint").alias("n_store_docs"),
            ((F.col("_extra") == 0) & (F.col("_missing") == 0)).alias(
                "matches_batch_star"
            ),
        )
    )


@register(
    "q_stream_avro_stats",
    oracle="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang, source
    """,
    doc="The custom Avro source's STREAMING half (round 9 — with this, "
    "format('avro_py') has all three surfaces: distributed batch read, "
    "executor-side write, streaming read): documents are written as "
    "arriving .avro container files BY THE EXECUTOR-SIDE WRITER "
    "(df.write.format('avro_py'), one container per task), then "
    "readStream.format('avro_py') consumes them through the shared "
    "bounded-offset machinery (watermark + lateness window, "
    "sources/stream_files.py — the same offsets the edgelist stream "
    "certifies) and aggregates per (lang, source) in complete mode. "
    "Shares q_scan_avro's oracle: the batch reader, the streaming "
    "reader, and the writer must all land on identical results over "
    "the same container bytes.",
)
def q_stream_avro_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources.avro_py import register_avro_source

    register_avro_source(spark)
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(_STAGE_ROOT, f"avro_stream_{tag}")
    marker = os.path.join(root, "_STAGED")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    if not os.path.exists(marker):
        shutil.rmtree(root, ignore_errors=True)
        # the executor-side writer stages the arriving files: 3 tasks
        # -> 3 container files, exactly the multi-file arrival shape
        docs.repartition(3).write.format("avro_py").mode("overwrite").option(
            "codec", "deflate"
        ).save(root)
        open(marker, "w").close()
    stream = spark.readStream.format("avro_py").load(root)
    agg = stream.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    return run_stream(agg, output_mode="complete")


@register(
    "q_stream_avro_sink",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(user_id) AS BIGINT) AS user_id_sum
    FROM events
    GROUP BY event_type
    """,
    doc="The custom Avro source's STREAMING WRITE half (round 10 — "
    "format('avro_py') now covers the full batch/stream x read/write "
    "matrix): the events table streams in as parquet file arrivals "
    "and writeStream.format('avro_py') lands each micro-batch as "
    "real Avro container files through the DataSourceStreamWriter "
    "API — per-task attempt-uniquified tmp files renamed by "
    "driver-side commit(batchId) to deterministic (batch, partition) "
    "names, so checkpoint-replayed batches overwrite themselves "
    "instead of duplicating rows. The sink directory is then read "
    "back by the avro_py BATCH reader and aggregated; the oracle "
    "recomputes from the source table, so a lost batch, a duplicated "
    "replay, or any byte mangled by the container encode/decode "
    "breaks the hash.",
)
def q_stream_avro_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bfs_mapreduce_spark.sources.avro_py import register_avro_source

    register_avro_source(spark)
    tag = os.path.basename(sf_dir.rstrip("/"))
    out = os.path.join(_STAGE_ROOT, f"avro_sink_{tag}")
    marker = os.path.join(out, "_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        stream = events_stream(spark, sf_dir).select(
            "event_id", "user_id", "event_type"
        )
        with tempfile.TemporaryDirectory(prefix="avro_sink_ckpt_") as ckpt:
            q = (
                stream.writeStream.format("avro_py")
                .option("path", out)
                .option("codec", "deflate")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        open(marker, "w").close()
    back = spark.read.format("avro_py").load(os.path.join(out, "*.avro"))
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("user_id").cast("bigint").alias("user_id_sum"),
    )


@register(
    "q_stream_snapshot_ingest",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(3 AS BIGINT) AS final_version,
           CAST(3 AS BIGINT) AS version_after_replay
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Streaming ingestion INTO the snapshot-manifest table format "
    "(round 10 — the lakehouse write path a 100 TB pipeline actually "
    "runs): orders staged as arriving parquet files, readStream with "
    "maxFilesPerTrigger=1, and each micro-batch committed as an "
    "APPEND manifest from foreachBatch under the format's "
    "compare-and-swap, carrying Delta's txn action — (app_id, "
    "batch_id) is published by the SAME pointer swap as the data, so "
    "data and progress watermark can never disagree. Exactly-once is "
    "then PROVEN the hard way: the whole stream is re-run from a "
    "FRESH checkpoint (at-least-once redelivery of every batch) and "
    "the txn guard must swallow all of it — the oracle hash pins "
    "both the final version (3 commits) and the version AFTER replay "
    "(still 3), plus decimal-exact totals that double-ingestion "
    "would break. Downstream, read_changes serves each commit as an "
    "incremental scan (q_sink_snapshot_changes).",
)
def q_stream_snapshot_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.tmputil import proc_dir

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_streamsnap"), tag)
    shutil.rmtree(root, ignore_errors=True)
    chunks, table = os.path.join(root, "chunks"), os.path.join(root, "table")
    os.makedirs(table, exist_ok=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    for i in (0, 1, 2):
        orders.filter(F.col("o_orderkey") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(chunks, f"chunk_{i}.parquet"))
    app = "snap_ingest"

    def _commit_batch(batch: DataFrame, bid: int) -> None:
        base = ts.current_version(table)
        if ts.last_txn(table, app) >= bid:
            return  # replayed batch: already published, skip
        ts.commit(
            table,
            ts.stage_files(batch.coalesce(1), table),
            base_version=base,
            txn=(app, bid),
        )

    def _run_once() -> None:
        stream = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(chunks, "*"))
        )
        with tempfile.TemporaryDirectory(prefix="bfs_mr_snap_ckpt_") as ckpt:
            q = (
                stream.writeStream.foreachBatch(_commit_batch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    _run_once()
    final_version = ts.current_version(table)
    _run_once()  # fresh checkpoint = full redelivery; txn guard absorbs it
    replay_version = ts.current_version(table)
    return ts.read(spark, table).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
        F.lit(final_version).cast("bigint").alias("final_version"),
        F.lit(replay_version).cast("bigint").alias("version_after_replay"),
    )


@register(
    "q_stream_snapshot_upsert",
    oracle="""
    -- last-writer-wins per key: %3==0 keys are inserted by batch 0
    -- (price x1) then UPDATED by batch 1 (x20); %3==1 inserted by
    -- batch 1 (x2) then updated by batch 2 (x30); %3==2 inserted by
    -- batch 2 (x3), never updated. Each key must appear EXACTLY once
    -- (a failed equality-delete doubles n_rows; a double-applied
    -- replay breaks both counts and totals).
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
                CASE o_orderkey % 3 WHEN 0 THEN 20 WHEN 1 THEN 30 ELSE 3 END)
                AS DOUBLE) AS total_price,
           CAST(3 AS BIGINT) AS final_version,
           CAST(3 AS BIGINT) AS version_after_replay
    FROM orders GROUP BY o_orderpriority
    """,
    doc="STREAMING UPSERT into the snapshot table via equality deletes "
    "(round 11 — the write path table_snapshots.delete_eq exists "
    "for, and the lakehouse loop's last missing verb): each "
    "micro-batch is applied by upsert_eq as ONE atomic commit — an "
    "equality delete on the batch's keys against the files present "
    "at commit time, plus the batch's rows as appended files, "
    "published by the same manifest CAS, carrying Delta's txn "
    "action. No data file is read or rewritten per batch (O(batch) "
    "bytes — why a stream can afford an upsert per trigger); readers "
    "merge the delete at scan time, compaction retires it. "
    "Certified the hard way, like q_stream_snapshot_ingest: batches "
    "arrive in mtime order (inserts for key-third i, UPDATES for "
    "key-third i-1 at new prices), so the final state is "
    "last-writer-wins per key — then the whole stream replays from a "
    "FRESH checkpoint and the txn guard must swallow every batch: "
    "the oracle hash pins per-key exactly-once (n_rows doubles if a "
    "delete missed), the updated decimal-exact totals, and the "
    "version before AND after replay.",
)
def q_stream_snapshot_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.tmputil import proc_dir

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(proc_dir("bfs_mapreduce_spark_streamupsert"), tag)
    shutil.rmtree(root, ignore_errors=True)
    chunks, table = os.path.join(root, "chunks"), os.path.join(root, "table")
    os.makedirs(table, exist_ok=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    key3 = F.col("o_orderkey") % 3

    def _priced(rows: DataFrame, mult: int) -> DataFrame:
        return rows.withColumn(
            "o_totalprice",
            (F.col("o_totalprice").cast("decimal(18,2)") * F.lit(mult)).cast(
                "decimal(18,2)"
            ),
        )

    schema = None
    for i in (0, 1, 2):
        batch = _priced(orders.filter(key3 == i), i + 1)
        if i > 0:  # updates for the previous third at a new price
            batch = batch.unionByName(
                _priced(orders.filter(key3 == i - 1), 10 * (i + 1))
            )
        path = os.path.join(chunks, f"chunk_{i}.parquet")
        batch.coalesce(1).write.mode("overwrite").parquet(path)
        schema = batch.schema
        # micro-batch ORDER is the upsert semantic (update-after-
        # insert): pin it via mtime, which the file stream source
        # orders by
        mt = 1_000_000_000 + i * 600
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (mt, mt))
    app = "snap_upsert"

    def _apply_batch(batch: DataFrame, bid: int) -> None:
        if ts.last_txn(table, app) >= bid:
            return  # replayed batch: already published, skip
        ts.upsert_eq(spark, table, batch, ["o_orderkey"], txn=(app, bid))

    def _run_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(chunks, "*"))
        )
        with tempfile.TemporaryDirectory(prefix="bfs_mr_upsert_ckpt_") as ckpt:
            q = (
                stream.writeStream.foreachBatch(_apply_batch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    _run_once()
    final_version = ts.current_version(table)
    _run_once()  # fresh checkpoint = full redelivery; txn guard absorbs
    replay_version = ts.current_version(table)
    return ts.read(spark, table).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("o_totalprice").cast("double").alias("total_price"),
        F.lit(final_version).cast("bigint").alias("final_version"),
        F.lit(replay_version).cast("bigint").alias("version_after_replay"),
    )


@register(
    "q_stream_snapshot_changes",
    oracle="""
    -- Phase 1: the stream (startingVersion=2, inclusive per the
    -- Delta contract) must deliver exactly
    -- the rows of the v2+v3 append commits; phase 2: after a FOURTH
    -- commit lands, resuming from the SAME checkpoint must deliver
    -- only the new commit's rows (shifted keys mark them).
    WITH tail AS (
      SELECT o_orderpriority, o_totalprice FROM orders
      WHERE o_orderkey % 3 IN (1, 2)),
    late AS (
      SELECT o_orderpriority, o_totalprice FROM orders
      WHERE o_orderkey % 3 = 0)
    SELECT 1 AS phase, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM tail GROUP BY o_orderpriority
    UNION ALL
    SELECT 2, o_orderpriority, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
    FROM late GROUP BY o_orderpriority
    """,
    doc="Streaming CDC source over the snapshot table (round 11, "
    "sources/snapshot_changes_source.py — the streaming twin of "
    "q_sink_snapshot_changes, closing the lakehouse loop: commits in, "
    "commits OUT as a stream). Offsets are table versions; "
    "partitions() plans one executor-side Arrow read per appended "
    "file (driver touches manifests only); a REPLACE/DELETE commit "
    "in range fails the stream with the same refusal as the batch "
    "read_changes. Certified the hard way: phase 1 streams commits "
    "v2..v3 with startingVersion=2 (INCLUSIVE, the Delta contract "
    "round 12 aligned) and must match the batch-CDC "
    "row set exactly; then a FOURTH commit lands and the stream "
    "RESUMES from its checkpoint — phase 2 must contain only the new "
    "commit's rows (key-shifted so any re-delivery of old versions "
    "lands in the wrong phase and breaks the hash). At 100 TB each "
    "trigger moves O(appended files), never O(table).",
)
def q_stream_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_changes_source import (
        register_snapshot_changes_source,
    )
    from bfs_mapreduce_spark.tmputil import proc_dir

    tag = os.path.basename(sf_dir.rstrip("/"))
    base = os.path.join(proc_dir("bfs_mapreduce_spark_streamcdc"), tag)
    table = os.path.join(base, "table")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    marker = os.path.join(base, "_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(table, exist_ok=True)
        register_snapshot_changes_source(spark)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        v = 0
        for i in (0, 1, 2):
            batch = orders.filter(F.col("o_orderkey") % 3 == i).coalesce(1)
            v = ts.commit(root=table, files=ts.stage_files(batch, table), base_version=v)

        def _run_tail() -> None:
            stream = (
                spark.readStream.format("snapshot_changes")
                .option("path", table)
                .option("startingVersion", 2)
                .load()
            )
            q = (
                stream.writeStream.foreachBatch(
                    lambda b, _bid: b.write.mode("append").parquet(sink)
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _run_tail()  # phase 1: delivers (v1, v3]
        late = (
            orders.filter(F.col("o_orderkey") % 3 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(30_000_000))
            .coalesce(1)
        )
        ts.commit(root=table, files=ts.stage_files(late, table), base_version=v)
        _run_tail()  # phase 2: resume from checkpoint, ONLY the new commit
        open(marker, "w").close()
    streamed = spark.read.parquet(sink)
    return (
        streamed.withColumn(
            "phase",
            F.when(F.col("o_orderkey") >= 30_000_000, F.lit(2)).otherwise(
                F.lit(1)
            ),
        )
        .groupBy("phase", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


@register(
    "q_stream_snapshot_row_changes",
    oracle="""
    WITH base AS (SELECT o_orderkey AS k,
                         CAST(o_totalprice AS DECIMAL(18,2)) AS p
                  FROM orders),
    ins1 AS (SELECT k, p FROM base WHERE k % 3 = 0),
    del2 AS (SELECT k, p FROM ins1 WHERE k % 6 = 0),
    src AS (SELECT k, p + 1 AS p FROM base WHERE k % 5 = 0),
    pre3 AS (SELECT k, p FROM ins1 WHERE k % 15 = 0 AND k % 6 <> 0),
    live4_old AS (SELECT k, p FROM ins1
                  WHERE k % 6 <> 0 AND k % 5 <> 0),
    del4 AS (SELECT k, p FROM live4_old WHERE k % 9 = 0
             UNION ALL
             SELECT k, p FROM src WHERE k % 9 = 0),
    g AS (
      SELECT 1 AS _commit_version, 'insert' AS _change_type,
             COUNT(*) AS n, SUM(p) AS s FROM ins1
      UNION ALL SELECT 2, 'delete', COUNT(*), SUM(p) FROM del2
      UNION ALL SELECT 3, 'delete', COUNT(*), SUM(p) FROM pre3
      UNION ALL SELECT 3, 'insert', COUNT(*), SUM(p) FROM src
      UNION ALL SELECT 4, 'delete', COUNT(*), SUM(p) FROM del4)
    SELECT CAST(_commit_version AS BIGINT) AS _commit_version,
           _change_type,
           CAST(n AS BIGINT) AS n_rows,
           CAST(s AS DOUBLE) AS price_sum
    FROM g WHERE n > 0
    ORDER BY _commit_version, _change_type
    """,
    doc="STREAMING row-level change feed (round 14 — the readStream "
    "twin of read_row_changes, Delta readChangeFeed's shape): the "
    "same append -> MoR position-delete -> upsert -> equality-delete "
    "lifecycle as q_sink_snapshot_row_changes, TAILED by "
    "format('snapshot_row_changes') in TWO availableNow phases from "
    "one checkpoint (versions 1-3 stream first; the eq-delete and a "
    "row-preserving compaction land; the resumed stream delivers "
    "exactly the delete victims and nothing for the compaction). "
    "Executor tasks read one data file + the vector/key files that "
    "concern it and apply the masks in Arrow — victims replay the "
    "commit's NEW keys against the PRIOR delete state, so dead rows "
    "never re-emit. The stream encodes an upsert as delete+insert "
    "(the classic changelog encoding — the pre/post split needs the "
    "global matched-key set, which a per-file task cannot know); the "
    "oracle reproduces that encoding from modular arithmetic on raw "
    "orders.",
)
def q_stream_snapshot_row_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_row_changes_source import (
        register_snapshot_row_changes_source,
    )
    from bfs_mapreduce_spark.tmputil import proc_dir

    tag = os.path.basename(sf_dir.rstrip("/"))
    base = os.path.join(proc_dir("bfs_mapreduce_spark_rowcdcstream"), tag)
    table = os.path.join(base, "table")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    marker = os.path.join(base, "_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(table, exist_ok=True)
        register_snapshot_row_changes_source(spark)
        orders = load_table(spark, sf_dir, "orders")
        k = F.col("o_orderkey")
        d1 = orders.filter(k % 3 == 0).select("o_orderkey", "o_totalprice")
        ts.commit(
            root=table,
            files=ts.stage_files(d1, table),
            base_version=0,
            schema=d1.schema.json(),
        )
        ts.delete_where(spark, table, "o_orderkey % 6 = 0")
        src = orders.filter(k % 5 == 0).select(
            "o_orderkey", (F.col("o_totalprice") + 1).alias("o_totalprice")
        )
        ts.upsert_eq(spark, table, src, ["o_orderkey"])

        def _run_tail() -> None:
            q = (
                spark.readStream.format("snapshot_row_changes")
                .option("path", table)
                .option("startingVersion", 0)
                .load()
                .writeStream.foreachBatch(
                    lambda b, _bid: b.write.mode("append").parquet(sink)
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _run_tail()  # phase 1: versions 1..3
        keys = orders.filter(k % 9 == 0).select("o_orderkey").distinct()
        ts.delete_eq(spark, table, keys)
        ts.compact(spark, table)  # row-preserving: must stream NOTHING
        _run_tail()  # phase 2: resume — exactly the v4 victims
        open(marker, "w").close()
    ch = spark.read.parquet(sink)
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
