"""Fault-tolerant checkpointing for the iterative driver loops
(plans/reliable.py, round 11).

The scale claim under test: with ``localCheckpoint``-only lineage
truncation, losing an executor's blocks after round k kills an
iterative job (lineage was truncated, blocks lived only on the lost
executor). Reliable mode spills each round's state to durable storage
and re-reads it, so the same loss recomputes from the last spill.

Block loss is SIMULATED exactly as the round-10 verdict asked: every
persisted RDD (including the blocks backing each round's
localCheckpoint) is unpersisted mid-loop — the local-mode equivalent
of losing every executor at once.
"""

import pytest
from pyspark.sql import functions as F

from bfs_mapreduce_spark.operators.graph import bfs, kcore
from bfs_mapreduce_spark.plans import reliable
from bfs_mapreduce_spark.sources.readers import read_edge_list, reference_graph

from tests.graph_oracle import bfs_oracle, load_edge_list

TINY = reference_graph("tinyG")


def blow_all_blocks(spark):
    """Unpersist every persisted RDD (blocking) — simulates losing all
    executors' block stores at once, the worst case of the preemption
    failure mode."""
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = jmap.valuesIterator()
    n = 0
    while it.hasNext():
        it.next().unpersist(True)
        n += 1
    return n


def test_local_truncation_dies_on_block_loss(spark):
    """The failure mode is REAL: a localCheckpoint-truncated chain
    cannot survive losing its blocks (there is no lineage left to
    recompute from)."""
    df = spark.range(100).localCheckpoint()
    df2 = df.selectExpr("id * 2 AS id").localCheckpoint()
    assert blow_all_blocks(spark) >= 2
    with pytest.raises(Exception, match="(?i)checkpoint.*block|block.*not found"):
        df2.count()


def test_reliable_truncation_survives_block_loss(spark, tmp_path):
    """The same chain under reliable_checkpoints: every truncation is
    a durable parquet spill, so blowing every block mid-chain changes
    nothing about the result."""
    with reliable.reliable_checkpoints(str(tmp_path / "ckpt")):
        df = reliable.truncate(spark.range(100))
        blow_all_blocks(spark)
        df2 = reliable.truncate(df.selectExpr("id * 2 AS id"))
        blow_all_blocks(spark)
        total = df2.agg(F.sum("id")).first()[0]
    assert total == sum(2 * i for i in range(100))
    # outside the context the default is bit-identical localCheckpoint
    assert reliable.checkpoint_dir() is None


def test_bfs_reliable_mode_survives_midloop_block_loss(
    spark, tmp_path, monkeypatch
):
    """End-to-end: bfs under reliable_checkpoints completes with EXACT
    results while every round's truncation is followed by total block
    loss — the real loop, the real operator, the verdict's simulated
    executor-preemption scenario."""
    orig = reliable.truncate

    def chaos_truncate(df, eager=True, name="state"):
        out = orig(df, eager=eager, name=name)
        blow_all_blocks(spark)
        return out

    monkeypatch.setattr(reliable, "truncate", chaos_truncate)
    edges_df = read_edge_list(spark, TINY)
    with reliable.reliable_checkpoints(str(tmp_path / "bfs_ckpt")):
        res = bfs(edges_df)
    got = {r["id"]: (r["dist"], r["path"]) for r in res.collect()}
    assert got == bfs_oracle(load_edge_list(TINY))
    # the spill files actually landed in the caller's directory
    spills = list((tmp_path / "bfs_ckpt").iterdir())
    assert len(spills) >= 3  # >= one per BFS round


def test_bfs_default_mode_fails_under_same_loss(spark, monkeypatch):
    """Negative control: the DEFAULT (localCheckpoint) path under the
    identical mid-loop block loss fails — proving the reliable mode is
    load-bearing, not a tautology."""
    orig = reliable.truncate

    def chaos_truncate(df, eager=True, name="state"):
        out = orig(df, eager=eager, name=name)
        blow_all_blocks(spark)
        return out

    monkeypatch.setattr(reliable, "truncate", chaos_truncate)
    edges_df = read_edge_list(spark, TINY)
    # the exact symptom varies with timing (lost checkpoint block, or
    # a pending lazy checkpoint whose storage level the unpersist
    # reset) — either way the job dies at/through a checkpoint
    with pytest.raises(Exception, match="(?i)checkpoint"):
        bfs(edges_df).collect()


def test_ambient_context_covers_peer_loops(spark, tmp_path):
    """The other driver loops (k-core here as the representative —
    same _ckpt discipline as SCC/label-prop/k-center/BPE) pick the
    reliable mode up from the ambient context without signature
    changes, and produce results identical to the default path."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5)],
        "src bigint, dst bigint",
    )
    want = sorted(tuple(r) for r in kcore(edges, k=2).collect())
    with reliable.reliable_checkpoints(str(tmp_path / "kc")):
        got = sorted(tuple(r) for r in kcore(edges, k=2).collect())
    assert got == want == [(0, 2), (1, 2), (2, 2)]


def test_connected_components_honours_reliable_context(spark, tmp_path):
    """The near-dup min-label loop truncates through the shared
    helper, so reliable mode reaches it: same labels as the default
    path, and its rounds land in the durable directory."""
    import os

    from bfs_mapreduce_spark.operators.dedup_queries import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "s bigint, d bigint"
    )
    want = sorted(tuple(r) for r in connected_components(edges).collect())
    durable = tmp_path / "cc"
    with reliable.reliable_checkpoints(str(durable)):
        got = sorted(tuple(r) for r in connected_components(edges).collect())
    assert got == want
    assert os.listdir(durable)


def test_spill_truncate_resets_optimizer_stats(spark, tmp_path):
    """The round-11 forensic claim as a regression test: a per-round
    state self-join SQUARES the localCheckpoint-carried sizeInBytes
    statistic (exponential BigInteger growth in the optimizer), while
    spill_truncate roots each round at a parquet scan with real file
    stats, keeping the statistic flat."""
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.plans.reliable import spill_truncate

    def bits(df):
        sz = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j hands back a Python int while it fits (and the full
        # pathology would overflow its string conversion entirely)
        return sz.bit_length() if isinstance(sz, int) else sz.bitLength()

    def round_once(b, truncate):
        jump = (
            b.select("v", F.col("b").alias("x"))
            .join(b.select(F.col("v").alias("x"), F.col("b").alias("b")), "x")
            .select("v", "b")
        )
        nxt = b.unionByName(jump).groupBy("v").agg(F.min("b").alias("b"))
        return truncate(nxt)

    b0 = spark.range(50).select(
        F.col("id").alias("v"), F.col("id").alias("b")
    )

    b = b0.localCheckpoint()
    local_bits = []
    for _ in range(4):
        b = round_once(b, lambda d: d.localCheckpoint())
        local_bits.append(bits(b))
    # squaring: each round roughly doubles the statistic's bit length
    assert local_bits[-1] > 2 * local_bits[0]

    b = spill_truncate(b0, name="t0")
    spill_bits = []
    for _ in range(4):
        b = round_once(b, lambda d: spill_truncate(d, name="t"))
        spill_bits.append(bits(b))
    # flat: every round re-roots at real file statistics
    assert max(spill_bits) < 2 * min(spill_bits)
    assert max(spill_bits) < local_bits[-1]


def test_threaded_sweeps_conf_and_context(spark, tmp_path, sf_smoke_dir):
    """Round-12 ADVICE regression: the landmark-closeness sweeps run
    bfs() driver loops on concurrent threads. (a) bfs's session-conf
    tuning is refcounted, so the USER's AQE/shuffle-partition values
    are restored exactly once at the end — no thread can snapshot a
    peer's mid-loop value (partitions=2, AQE off) and leak it; (b)
    each sweep task runs under a copy of the caller's contextvars
    context, so an ambient reliable_checkpoints scope reaches the
    worker threads and the sweeps actually spill durably."""
    import glob
    import os

    from bfs_mapreduce_spark.operators.graph_queries import (
        q_graph_closeness_landmarks,
    )

    conf = spark.conf
    saved = (
        conf.get("spark.sql.adaptive.enabled"),
        conf.get("spark.sql.shuffle.partitions"),
    )
    try:
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.shuffle.partitions", "17")
        d = str(tmp_path / "spill")
        with reliable.reliable_checkpoints(d):
            rows = q_graph_closeness_landmarks(spark, sf_smoke_dir).collect()
        assert len(rows) == 3 and all(r["n_reached"] > 0 for r in rows)
        # (a) conf restored to the user's values, not a mid-loop snapshot
        assert conf.get("spark.sql.adaptive.enabled") == "true"
        assert conf.get("spark.sql.shuffle.partitions") == "17"
        # (b) the threaded loops spilled durably (context propagated)
        spills = glob.glob(os.path.join(d, "*"))
        assert spills, "worker threads fell back to localCheckpoint"
    finally:
        conf.set("spark.sql.adaptive.enabled", saved[0])
        conf.set("spark.sql.shuffle.partitions", saved[1])


def test_every_lineage_cut_goes_through_reliable():
    """No package module, nor bench.py or a tools/ script, calls
    ``localCheckpoint`` itself: every cut goes through
    ``plans/reliable.truncate`` (``ckpt``/``ckpt_lazy``), so
    ``reliable_checkpoints(...)`` reaches all of them. Parsed, not
    grepped, so comments and docstrings that name the call do not
    count."""
    import ast
    import pathlib

    import bfs_mapreduce_spark

    pkg = pathlib.Path(bfs_mapreduce_spark.__file__).parent
    root = pkg.parent
    paths = [*pkg.rglob("*.py"), root / "bench.py", *(root / "tools").glob("*.py")]
    raw = []
    for path in sorted(paths):
        rel = path.relative_to(root).as_posix()
        if rel == "bfs_mapreduce_spark/plans/reliable.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
            ):
                raw.append(f"{rel}:{node.func.end_lineno}")
    assert not raw, "raw localCheckpoint calls:\n" + "\n".join(raw)


def _chaos_reliable(spark, monkeypatch, durable):
    """Reliable mode under ``durable`` with every block lost after
    every cut: ``reliable.truncate`` is wrapped to blow all blocks
    once it returns."""
    orig = reliable.truncate

    def chaos_truncate(df, eager=True, name="state"):
        out = orig(df, eager=eager, name=name)
        blow_all_blocks(spark)
        return out

    monkeypatch.setattr(reliable, "truncate", chaos_truncate)
    return reliable.reliable_checkpoints(str(durable))


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


# Catalog queries that reach a cut outside graph.py's loops;
# q_stream_dedup_ingest also covers the incremental LSH store
# (ingest_batch, compact_store) through its foreachBatch fold.
BLOCK_LOSS_SWEEP = [
    "q15_top_supplier",
    "q_sketch_distinct_rollup",
    "q_join_runtime_bloom",
    "q_dedup_ngram_jaccard",
    "q_dedup_minhash_lsh",
    "q_dedup_containment",
    "q_dedup_substring",
    "q_dedup_substring_remove",
    "q_stream_dedup_ingest",
]


@pytest.mark.parametrize("name", BLOCK_LOSS_SWEEP)
def test_catalog_query_survives_block_loss(spark, sf_smoke_dir, tmp_path, monkeypatch, name):
    """The query returns the default-mode rows under reliable mode
    although every block is lost after every cut and once more between
    build and collect, and its cuts land in the durable directory."""
    from bfs_mapreduce_spark.registry import all_queries

    build = all_queries()[name].build
    want = _sorted_rows(build(spark, sf_smoke_dir))
    durable = tmp_path / "spill"
    with _chaos_reliable(spark, monkeypatch, durable):
        df = build(spark, sf_smoke_dir)
        blow_all_blocks(spark)
        got = _sorted_rows(df)
    assert got == want
    assert list(durable.iterdir())


def test_semantic_store_survives_block_loss(spark, tmp_path, monkeypatch):
    """The semantic store's cuts (ingest_semantic_batch's batch rows
    and pair set, compact_semantic_store's vector snapshot and keep
    set) under reliable mode with block loss after every cut, on three
    well-separated clusters whose answer is known: every in-cluster
    pair with a new member is a near-dup, and each cluster keeps only
    its smallest id."""
    import math

    from bfs_mapreduce_spark.operators.dedup_incremental import (
        compact_semantic_store,
        ingest_semantic_batch,
        init_semantic_store,
    )

    def vec(i):  # cluster i % 3 at 120-degree spacing: cosine 0.99+ within, < 0 across
        a = 2 * math.pi * (i % 3) / 3 + (i % 4) * 0.001
        return [math.cos(a), math.sin(a), 0.5 + 0.1 * (i % 2)]

    emb = spark.createDataFrame(
        [(i, vec(i), i % 3) for i in range(24)],
        "vec_id bigint, embedding array<float>, label int",
    )
    store, durable = str(tmp_path / "store"), tmp_path / "spill"
    with _chaos_reliable(spark, monkeypatch, durable):
        init_semantic_store(spark, emb.filter("vec_id < 12"), store)
        pairs = ingest_semantic_batch(spark, emb.filter("vec_id >= 12"), store).collect()
        keep = sorted(tuple(r) for r in compact_semantic_store(spark, store).collect())
    assert sorted((r.vec_a, r.vec_b) for r in pairs) == sorted(
        (a, b) for b in range(12, 24) for a in range(b) if a % 3 == b % 3
    )
    assert keep == [(i, i % 3, int(i < 3)) for i in range(24)]
    assert list(durable.iterdir())
