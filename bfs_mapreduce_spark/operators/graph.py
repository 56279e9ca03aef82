"""Graph traversal: single-source BFS shortest paths (the reference's query).

Reference semantics (SURVEY.md §2.6, from ``BFS_map_reduce.py``):
given an undirected, unweighted edge list and a source vertex, compute
for every vertex its shortest-path distance and one shortest path in
forward order ``[source, ..., vertex]`` (``BFS_map_reduce.py:31-35``).
Spec deviations, deliberate (SURVEY.md §2.9):

- unreachable vertices get ``dist = NULL`` instead of hanging the loop
  (reference wart W2: termination test ``BFS_map_reduce.py:149``);
- equal-distance path ties break to the lexicographically smallest
  path instead of first-seen argmin (wart W3, ``BFS_map_reduce.py:52``),
  so results are deterministic under any parallelism.

Spark-first design — the reference's per-round structure maps as:

==========================================  =================================
reference (Ray MapReduce)                    this engine (DataFrame loop)
==========================================  =================================
map_task frontier expansion (:25-42)         frontier ⋈ adjacency + explode
"in-worker shuffle" partial group (:8-23)    automatic partial HashAggregate
driver-funnel global shuffle (:122-136)      executor-side Exchange
reduce_task min-dist/argmin-path (:44-60)    groupBy(id).agg(min(struct(...)))
all-BLACK termination scan (:149)            empty-frontier check (metadata)
==========================================  =================================

Scale posture (what changes at 100 TB / 1000 executors):

- Per-round state shipped through the shuffle is O(frontier × avg
  degree), never O(V): settled vertices live in ``visited`` and are
  excluded with a join, not re-emitted (the reference re-serializes
  every vertex every round, ``BFS_map_reduce.py:40-41``).
- The graph is one adjacency table ``(src, nbrs ARRAY<BIGINT>)`` per
  call, built in one scan of the edges and one exchange
  (sized from the input bytes, hash-partitioned on ``src``) and persisted;
  its ``src`` column is the whole vertex universe. Small frontiers are
  broadcast (the table never moves); a frontier over the broadcast
  threshold is shuffled onto the table's own partitioning, so a
  shuffle-join round moves only the frontier side.
- Hub trade-off: a hub's whole neighbour list is one row, so one task
  explodes it and one cached row holds O(degree) ids. A flat edge table
  hash-partitioned on ``src`` puts all of a hub's edges in one partition
  too, so the skew is the same; only the row width is new.
- ``localCheckpoint`` every round truncates lineage — without it the
  plan doubles per iteration and the DAG scheduler dies long before
  data size matters.
- Path columns grow O(diameter); for diameter-heavy graphs pass
  ``with_paths=False`` to carry only (id, dist) — the common SSSP use.
"""

from __future__ import annotations

import contextlib
import logging
import threading
import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from bfs_mapreduce_spark.plans import reliable as _reliable
from bfs_mapreduce_spark.plans.reliable import (
    ckpt as _ckpt,  # lineage truncation: localCheckpoint, or a durable
    ckpt_lazy as _ckpt_lazy,  # parquet spill inside reliable_checkpoints()
)
from bfs_mapreduce_spark.plans.introspect import source_bytes

logger = logging.getLogger(__name__)

# Reentrant save/restore of the loop-tuned session conf. Independent
# traversals may legally run on CONCURRENT THREADS of one session (the
# landmark-closeness sweeps do); a naive per-loop save/restore races —
# thread B snapshots thread A's mid-loop value (partitions=2, AQE off)
# and restores it last, polluting the session for every later query.
# Refcount instead: the FIRST entrant per session snapshots the user's
# values, the LAST exitor restores them; everyone in between only
# drives the per-round shuffle width.
_LOOP_CONF_LOCK = threading.Lock()
_LOOP_CONF_STATE: dict[int, tuple[int, tuple[str, str]]] = {}


@contextlib.contextmanager
def _loop_conf(spark):
    """Disable AQE and yield the session's shuffle-partition default for
    a driver loop; conf restore is refcounted per session so concurrent
    loops on shared threads cannot leak a mid-loop snapshot."""
    key = id(getattr(spark, "_jsparkSession", spark))
    conf = spark.conf
    with _LOOP_CONF_LOCK:
        depth, saved = _LOOP_CONF_STATE.get(key, (0, ("", "")))
        if depth == 0:
            saved = (
                conf.get("spark.sql.adaptive.enabled"),
                conf.get("spark.sql.shuffle.partitions"),
            )
            conf.set("spark.sql.adaptive.enabled", "false")
        _LOOP_CONF_STATE[key] = (depth + 1, saved)
    try:
        yield int(saved[1])
    finally:
        with _LOOP_CONF_LOCK:
            depth, saved = _LOOP_CONF_STATE[key]
            if depth == 1:
                conf.set("spark.sql.adaptive.enabled", saved[0])
                conf.set("spark.sql.shuffle.partitions", saved[1])
                del _LOOP_CONF_STATE[key]
            else:
                _LOOP_CONF_STATE[key] = (depth - 1, saved)


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Symmetrize + dedup an edge list (reference inserts both
    directions and keeps duplicates/self-loops — ``Graph.py:9-16``;
    duplicates are harmless for BFS but waste shuffle, so we drop them)."""
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


def adjacency(edges: DataFrame) -> DataFrame:
    """Adjacency list ``(src, neighbours array)`` — the reference's
    ``dict[int, list[int]]`` (``Graph.py:9-16``) as a DataFrame:
    undirected, deduped, sorted, self-loops dropped. The standalone
    operator equivalent of ``Graph.get_graph()``, built by the same
    code as the table :func:`bfs` traverses.
    """
    adj = _adjacency_table(edges, directed=False, dedup=True)
    return adj.filter(F.size("nbrs") > 0).select(
        "src", F.sort_array("nbrs").alias("neighbours")
    )


def _adjacency_table(edges: DataFrame, directed: bool, dedup: bool) -> DataFrame:
    """``(src BIGINT, nbrs ARRAY<BIGINT>)`` in one scan of ``edges`` and
    one exchange on ``src``, as wide as the shuffle-partition setting
    when the plan is made.

    One ``inline`` orients every edge — undirected ``[(src, dst),
    (dst, src)]``, directed ``[(src, dst), (dst, NULL)]`` — and one
    aggregate groups the oriented rows, combining map-side so each task
    ships one list per vertex. Self-loop ends collect as NULL, which
    ``collect_*`` skips, so a vertex whose only edges are loops, and a
    directed sink, keep a row with an empty list: ``src`` is the whole
    vertex universe, already distinct. ``dedup`` collects a set instead
    of a list, inside the same aggregate."""
    s, d = F.col("src").cast("bigint"), F.col("dst").cast("bigint")
    back = F.lit(None).cast("bigint") if directed else s
    oriented = edges.select(
        F.inline(
            F.array(
                F.struct(s.alias("src"), d.alias("nbr")),
                F.struct(d.alias("src"), back.alias("nbr")),
            )
        )
    )
    collect = F.collect_set if dedup else F.collect_list
    nbr = F.when(F.col("src") != F.col("nbr"), F.col("nbr"))
    return oriented.groupBy("src").agg(collect(nbr).alias("nbrs"))


def _auto_edge_partitions(edges: DataFrame, directed: bool) -> int:
    """Size the adjacency table's exchange by INPUT VOLUME, capped at
    the session's shuffle-partition default.

    Every BFS round scans all cached adjacency partitions, so on a small
    graph a cluster-sized partition count just multiplies per-task
    scheduling into the per-round floor (measured round-8: the sf0.1
    bipartite graph's 6 small rounds cost 2.4 s at 32 partitions and
    1.7 s at 8 — same plans, same answers). The heuristic targets
    ~16 MB of source bytes per partition (x2 for the symmetric
    doubling), floors at 8 so the one-time adjacency build keeps
    real build parallelism and local runs still exercise
    parallel shuffles, and CAPS AT THE SESSION DEFAULT so a 100 TB edge scan on
    a real cluster keeps its cluster-wide layout — the cap, not the
    floor, is what scales. Falls back to the session default whenever
    input bytes are unknowable (in-memory frames, non-file sources)."""
    default_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    total = source_bytes(edges)
    if total is None:
        return default_parts
    if not directed:
        total *= 2
    # Session default is the HARD cap (outermost min): if the session is
    # configured narrower than the floor of 8, the session wins — a user
    # who pinned shuffle.partitions=4 should never see an 8-way exchange.
    return min(default_parts, max(8, total // (16 << 20) + 1))


def bfs(
    edges: DataFrame,
    source: int = 0,
    max_rounds: int = 10_000,
    with_paths: bool = True,
    directed: bool = False,
    warn_on_truncation: bool = True,
    broadcast_frontier_rows: int = 200_000,
    reached_only: bool = False,
    sources: list[int] | None = None,
    source_df: DataFrame | None = None,
    source_df_rows: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Single-source shortest paths via level-synchronous BFS.

    Inside ``plans.reliable.reliable_checkpoints(dir)`` every round's
    truncation is a durable parquet spill; the spill files back the
    RETURNED plan too, so keep the directory until results are
    materialized.
    Pass ``sources=[...]`` for the multi-source form — dist becomes
    distance to the NEAREST seed and path starts at that seed (the
    distance-to-seed primitive behind label propagation / partition
    growing); the per-round machinery is identical, the min-aggregate
    already resolves seed collisions.

    ``source_df`` is the DataFrame form of ``source``/``sources``: a
    single-column DataFrame (e.g. a ``min()`` aggregate, or a
    ``distinct().limit(k)`` seed set) whose rows seed the traversal —
    multi-row seed frames run multi-source BFS without ever collecting
    the seeds to the driver. The seed plan is folded into round 1's
    job via a lazy checkpoint instead of costing a separate driver
    ``collect()`` job before the loop starts. Seed-count contract:
    pass ``source_df_rows`` when the caller knows the row count (a
    scalar aggregate is 1, a ``limit(k)`` is at most k) and the seed
    plan stays entirely lazy; when omitted, bfs counts the seed
    checkpoint itself (one extra cheap job) and raises on an empty
    seed frame. A declared count is trusted for the broadcast/shuffle
    sizing hints — declaring 1 for a million-row frame mis-sizes
    round 1's join strategy. More than one column raises.

    Pass a dict as ``stats`` to receive per-round instrumentation:
    ``stats["rounds"]`` = list of ``(round_no, frontier_size,
    seconds)`` — per-round cost vs graph size, as
    ``tools/bench_graph_scale.py`` reports it.

    Returns ``(id BIGINT, dist BIGINT, path ARRAY<BIGINT>)`` for every
    vertex that appears in ``edges`` (plus the source), ``dist``/``path``
    NULL when unreachable. One shuffle stage per BFS level, all
    executor-side; the driver only runs the (cheap) empty-frontier test,
    exactly the Pregel/GraphX iteration shape.

    ``reached_only=True`` skips the vertex-universe checkpoint and final
    join entirely and returns just the reached rows — callers that
    drop NULL-dist rows anyway (histograms, reachability sets) save that
    job and the join.

    Join-strategy note: every round joins the frontier with one
    persisted adjacency table ``(src, nbrs)``, built per call in one
    scan of ``edges`` and one exchange that hash-partitions it on
    ``src`` (as many partitions as :func:`_auto_edge_partitions` sizes
    from the input bytes), then explodes the matched neighbour lists. The
    frontier comes out of ``localCheckpoint`` as an RDD scan with NO
    stats, so the planner can't see it is tiny and would broadcast the
    (stats-bearing, persisted) table every round. The driver loop knows
    the exact frontier count from the emptiness check, so it hints
    ``broadcast(frontier)`` while the frontier is under
    ``broadcast_frontier_rows`` — the table then never moves at all —
    and falls back to a shuffle join for huge frontiers (dense-graph
    middle rounds at scale), which shuffles only the frontier onto the
    table's partitioning. A hub's whole neighbour list is one row of the
    table, so one task explodes it; an edge table partitioned on
    ``src`` would put all of a hub's edges in one partition as well.
    Duplicate edges stay in the lists: both expansions (distinct /
    min-aggregate) absorb them.
    """
    spark = edges.sparkSession
    edge_parts = _auto_edge_partitions(edges, directed)
    if source_df is not None:
        if sources is not None:
            raise ValueError("pass either source_df or sources, not both")
        if len(source_df.columns) != 1:
            raise ValueError(
                f"source_df must have exactly one column, got {source_df.columns}"
            )
        seeds_df = (
            source_df.toDF("id")
            .select(F.col("id").cast("bigint").alias("id"))
            .dropDuplicates()
        )
        n_seeds = source_df_rows  # None → counted after the checkpoint below
    else:
        seeds = sorted(set(sources)) if sources else [source]
        seeds_df = spark.createDataFrame([(s,) for s in seeds], "id bigint")
        n_seeds = len(seeds)
    init_cols = ["id", F.lit(0).cast("bigint").alias("dist")]
    if with_paths:
        init_cols.append(F.array(F.col("id")).alias("path"))  # path starts at its seed
    # Lazy checkpoint: round 1's count() materializes the seed plan
    # inside round 1's job — for a source_df seed the min()-aggregate
    # scan runs as part of that job instead of as its own, and later
    # consumers (prev_ids, visited) read the cached rows.
    frontier = seeds_df.select(*init_cols).transform(_ckpt_lazy)
    if n_seeds is None:
        # undeclared seed count: materialize the seed checkpoint now
        # (its rows are cached for round 1, so this job costs only the
        # seed plan itself) and guard the empty-seed silent-NULL case
        n_seeds = frontier.count()
        if n_seeds == 0:
            raise ValueError("source_df produced no seed rows")

    visited = frontier
    prev_ids = None  # frontier of the round before last (undirected pruning)
    n_front = n_seeds
    n_prev = 0
    n_visited = n_seeds

    # Per-round plans are tiny and identical in shape; AQE's per-stage
    # re-planning adds a fixed latency to every one of them (measured
    # ~70 ms/round at sf0.1) and buys nothing the loop doesn't already
    # know — the driver holds exact frontier counts and sizes the
    # shuffle itself. Disable AQE and drive the shuffle width off the
    # frontier, capped at the session default so a cluster-sized
    # default still yields cluster-wide shuffles for huge frontiers.
    conf = spark.conf

    truncated = True
    if stats is not None:
        stats["rounds"] = []
    with _loop_conf(spark) as default_parts:
        # persist() plans the table now, sized from the input, with AQE
        # off so the cached plan keeps its hash(src) partitioning and a
        # shuffle-join round exchanges only the frontier. (A concurrent
        # loop on this session can race the width, as it can every
        # per-round width; only speed depends on it.) Columnar persist:
        # rounds scan it on the vectorized cache path; round 1's job
        # materializes it.
        conf.set("spark.sql.shuffle.partitions", str(edge_parts))
        adj = _adjacency_table(edges, directed, dedup=False).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        for round_no in range(1, max_rounds + 1):
            _t_round = time.perf_counter()
            conf.set(
                "spark.sql.shuffle.partitions",
                str(min(default_parts, max(2, n_front // 8_000))),
            )
            fr = F.broadcast(frontier) if n_front <= broadcast_frontier_rows else frontier
            if not directed:
                # Undirected level-synchronous invariant: a neighbour of
                # a dist-(k-1) vertex has dist in {k-2, k-1, k}, so the
                # only already-visited candidates live in the LAST TWO
                # frontiers. Anti-joining against them instead of the
                # full visited set keeps the anti-join side O(frontier),
                # not O(V) — at scale the per-round broadcast stops
                # growing with the graph.
                vis_ids = frontier.select("id")
                if prev_ids is not None:
                    vis_ids = vis_ids.union(prev_ids)
                n_vis_side = n_front + n_prev
            else:
                # Directed graphs get no such locality (a back edge may
                # hit an arbitrarily old vertex): anti-join full visited.
                vis_ids = visited.select("id")
                n_vis_side = n_visited
            if n_vis_side <= broadcast_frontier_rows * 10:
                vis_ids = F.broadcast(vis_ids)

            if with_paths:
                # Expand: frontier ⋈ adj + explode emits (nbr, dist+1,
                # path+[nbr]); per vertex keep the lexicographically
                # smallest path (all of a round's candidates share one
                # dist, so min(path) IS the deterministic argmin — sound
                # replacement for the reference's index-aligned argmin,
                # wart W3). Partial aggregation before the exchange is
                # Catalyst's map-side combine (= the reference's
                # apply_map grouping, BFS_map_reduce.py:8-23). Aggregate
                # BEFORE the visited anti-join: the candidate multiset is
                # O(frontier x degree), the aggregate is O(distinct dst).
                new = (
                    fr.join(adj, frontier["id"] == adj["src"])
                    .select(
                        F.explode(adj["nbrs"]).alias("id"),
                        (frontier["dist"] + 1).alias("dist"),
                        frontier["path"],
                    )
                    .groupBy("id")
                    .agg(
                        F.min("dist").alias("dist"),
                        F.min(F.concat("path", F.array("id"))).alias("path"),
                    )
                    .join(vis_ids, "id", "left_anti")
                    # Lazy checkpoint: the count() below materializes it —
                    # one job per round where eager checkpoint + count
                    # cost two.
                    .transform(_ckpt_lazy)
                )
            else:
                # dist-only BFS needs no aggregate at all: every vertex
                # first discovered in round k has dist == k by level
                # synchrony, so expansion is a semi-join + explode +
                # distinct, and dist is attached as a literal.
                new = (
                    adj.join(fr, adj["src"] == frontier["id"], "left_semi")
                    .select(F.explode("nbrs").alias("id"))
                    .distinct()
                    .join(vis_ids, "id", "left_anti")
                    .select(
                        "id", F.lit(round_no).cast("bigint").alias("dist")
                    )
                    .transform(_ckpt_lazy)
                )
            prev_ids, n_prev = frontier.select("id"), n_front
            n_front = new.count()  # materializes the checkpoint; drives the hints
            if stats is not None:
                stats["rounds"].append(
                    (round_no, n_front, round(time.perf_counter() - _t_round, 4))
                )
            if n_front == 0:
                truncated = False
                break
            n_visited += n_front
            # The visited set is only consumed at the end now (the
            # anti-join reads the recent frontiers), so its union chain
            # is metadata until the final join. Collapse lineage
            # occasionally anyway: a multi-thousand-round traversal
            # would otherwise hand the planner an equally deep Union tree.
            visited = visited.union(new)
            if round_no % 16 == 0:
                visited = visited.transform(_ckpt)
            frontier = new

    if truncated and warn_on_truncation:
        # Exhausted max_rounds with a non-empty frontier: vertices beyond
        # the horizon would silently read as unreachable (dist NULL).
        # Callers doing bounded exploration pass max_rounds on purpose;
        # everyone else should hear about it (SURVEY §2.9 W2's dual).
        logger.warning(
            "bfs: max_rounds=%d exhausted with a non-empty frontier; "
            "dist is only valid up to %d — unreached vertices report NULL",
            max_rounds,
            max_rounds,
        )

    out_cols = ["id", "dist", *(["path"] if with_paths else [])]
    if reached_only:
        adj.unpersist()
        return visited.select(*out_cols)
    # adj.src is the vertex universe, already distinct; pin it before
    # the table is released (an unpersisted table would silently
    # recompute from source when the caller materializes the result).
    # The full join adds the seeds that have no edge at all.
    all_vertices = adj.select(F.col("src").alias("id")).transform(_ckpt)
    adj.unpersist()
    return all_vertices.join(visited, "id", "full").select(*out_cols)


def sssp(
    edges: DataFrame,
    source: int,
    max_hops: int = 8,
    warn_on_truncation: bool = True,
) -> DataFrame:
    """Weighted single-source shortest paths, hop-bounded Bellman-Ford:
    ``dist_k(v) = min cost over walks of <= k hops`` — k synchronous
    relaxation rounds, each one join + min-aggregate (the weighted
    generalization of the BFS rounds above; SURVEY §2.10 "BFS, SSSP").

    ``edges`` must be ``(src, dst, w)`` with the orientation the caller
    wants (symmetrize first for undirected). Hop-bounding makes the
    operator total on cyclic graphs without negative-cycle detection;
    for full convergence pass max_hops >= |V|.

    Scale: per round the relax join re-shuffles only the dist table
    (O(reached vertices)); the edge side stays partitioned/persisted.
    Cost accumulation is per-path left-to-right, so results are exact
    and reproducible (min over identical walk-cost sets).

    Each round is one driver action (:func:`_fixpoint`): the relaxed
    costs are compared with the old ones inside the round's lazy
    checkpoint, and counting the improved rows both materializes the
    round and decides the fixed point. A truncated run with
    ``warn_on_truncation`` pays one more relax round, whose result is
    dropped, to decide whether to warn.
    """
    spark = edges.sparkSession
    e = edges.select(
        F.col("src").cast("bigint").alias("src"),
        F.col("dst").cast("bigint").alias("dst"),
        F.col("w").cast("double").alias("w"),
    ).repartition("src").persist(StorageLevel.MEMORY_AND_DISK)

    def relax(dist: DataFrame, _r: int) -> DataFrame:
        old = dist.select("id", F.col("cost").alias("old"), F.lit(True).alias("seen"))
        cand = e.join(old.withColumnRenamed("id", "src"), "src").select(
            F.col("dst").alias("id"), (F.col("old") + F.col("w")).alias("cost")
        )
        new = dist.select("id", "cost").unionByName(cand)
        new = new.groupBy("id").agg(F.min("cost").alias("cost"))
        chg = F.col("seen").isNull() | (F.col("cost") < F.col("old"))  # new or improved
        return (
            new.join(old, "id", "left")
            .select("id", "cost", chg.alias("chg"))
            .transform(_ckpt_lazy)
        )

    dist0 = spark.createDataFrame([(source, 0.0)], "id bigint, cost double")
    dist, _used, converged = _fixpoint(dist0, relax, max_hops)
    # Same loud-truncation contract as bfs above: max_hops exhausted
    # without a proven relaxation fixed point means the costs are only
    # "min over walks of <= max_hops hops"; callers doing bounded
    # exploration on purpose pass warn_on_truncation=False.
    if not converged and warn_on_truncation and relax(dist, max_hops + 1).filter("chg").count():
        logger.warning(
            "sssp: max_hops=%d exhausted before the relaxation fixed "
            "point; costs are only valid as min over <=%d-hop walks — "
            "deeper shortest paths are unreported",
            max_hops,
            max_hops,
        )
    e.unpersist()
    return dist.select("id", "cost")


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank by synchronous power iteration over a directed edge
    list: ``pr_{k+1}(v) = (1-d)/N + d * sum over in-edges (u,v) of
    pr_k(u) / outdeg(u)``. Dangling vertices (no out-edges) keep their
    rank out of circulation (the simple variant).

    Per iteration: one join of the (static, persisted, src-partitioned)
    contribution table against the rank table + one aggregate — the
    same shuffle budget as a BFS round, and the same driver-loop +
    localCheckpoint discipline. Returns ``(id, pr)``.
    """
    spark = edges.sparkSession
    e = edges.select(
        F.col("src").cast("bigint").alias("src"), F.col("dst").cast("bigint").alias("dst")
    ).distinct()
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    links = (
        e.join(out_deg, "src")
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vertices = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .transform(_ckpt)
    )
    n = vertices.count()
    ranks = vertices.withColumn("pr", F.lit(1.0 / n)).transform(_ckpt)
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contribs = (
            ranks.join(links, ranks["id"] == links["src"])
            .select(links["dst"].alias("id"), (ranks["pr"] / links["outdeg"]).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = (
            vertices.join(contribs, "id", "left")
            .select(
                "id",
                (F.lit(base) + F.lit(damping) * F.coalesce("csum", F.lit(0.0))).alias("pr"),
            )
            .transform(_ckpt)
        )
    links.unpersist()
    return ranks


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """Synchronous label propagation (community detection, Raghavan et
    al. 2007): every vertex starts labelled with its own id; each round
    every vertex adopts the most frequent label among its neighbours
    (ties broken toward the SMALLEST label, so the synchronous sweep is
    fully deterministic and oracle-checkable). Returns ``(id, label)``
    after exactly ``rounds`` sweeps — a fixed round count rather than a
    convergence test, because synchronous LPA can oscillate on
    near-bipartite structures; callers pick rounds ≈ expected community
    diameter.

    Per round: one edge⋈label join (shuffle keyed on the label side's
    id) and one two-level aggregate — the (src, label) count collapses
    map-side before the argmax, so the exchange carries at most
    |V|·distinct-neighbour-labels rows, never the raw edge fanout.
    Same localCheckpoint lineage discipline as bfs/kcore.
    """
    sym = undirected_edges(edges).transform(_ckpt)
    labels = sym.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    best = F.max_by(
        F.col("label"), F.struct(F.col("c"), (-F.col("label")).alias("nl"))
    )
    for _ in range(rounds):
        votes = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.groupBy("src")
            .agg(best.alias("label"))
            .select(F.col("src").alias("id"), "label")
            .transform(_ckpt)
        )
    return labels


def hyperball_round(state: DataFrame, edges: DataFrame) -> DataFrame:
    """One HyperBall round (Boldi & Vigna 2013): each vertex's HLL sketch
    of its r-ball, ``(v, sk)``, becomes its (r+1)-ball by a union with
    the sketches of its ``src -> dst`` neighbours; lineage cut."""
    nb = edges.join(state.withColumnRenamed("v", "dst"), "dst")
    return (
        state.select("v", "sk")
        .unionByName(nb.select(F.col("src").alias("v"), "sk"))
        .groupBy("v")
        .agg(F.hll_union_agg("sk").alias("sk"))
        .transform(_ckpt)
    )


def kcore(edges: DataFrame, k: int, max_iters: int = 100) -> DataFrame:
    """The k-core: iteratively peel vertices of degree < k until none
    remain (Matula-Beck). Returns ``(id, degree)`` — each surviving
    vertex with its degree inside the core.

    Per round: one degree aggregate joined back onto both endpoints of
    the symmetric edge set, flagging ``chg`` on every edge with an
    endpoint below degree k; the next round drops the flagged edges
    first. The edge set only shrinks, so per-round cost is bounded by
    the current core size; rounds = peeling depth (the longest
    cascade) plus the round that peels nothing, typically far below
    |V|. Each round is one driver action (:func:`_fixpoint`): counting
    the flagged edges materializes the round's lazy checkpoint. A run
    cut short by ``max_iters`` still applies its last round's peel.
    """
    cur = (
        undirected_edges(
            edges.select(
                F.col("src").cast("bigint").alias("src"),
                F.col("dst").cast("bigint").alias("dst"),
            )
        )
        .withColumn("chg", F.lit(False))
        .transform(_ckpt_lazy)
    )

    def peel(cur: DataFrame, _r: int) -> DataFrame:
        live = cur.filter(~F.col("chg")).select("src", "dst")
        deg = live.groupBy("src").agg(F.count(F.lit(1)).alias("d_src"))
        low = (F.col("d_src") < k) | (F.col("d_dst") < k)
        return (
            live.join(deg, "src")
            .join(deg.select(F.col("src").alias("dst"), F.col("d_src").alias("d_dst")), "dst")
            .select("src", "dst", low.alias("chg"))
            .transform(_ckpt_lazy)
        )

    cur, _used, converged = _fixpoint(cur, peel, max_iters)
    if not converged:
        logger.warning(
            "kcore: max_iters=%d exhausted before the peeling fixed point; "
            "result may retain vertices below core degree %d",
            max_iters,
            k,
        )
    core = cur.filter(~F.col("chg")).select("src", "dst")
    return core.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("degree"))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts via the degree-ordered node-iterator
    join (compact-forward): orient every undirected edge from the
    lower-(degree, id) endpoint to the higher, then a triangle a→b→c
    with a→c closes exactly once. Ordering by degree instead of raw id
    is the scale move — each vertex's out-neighborhood is bounded by
    O(sqrt(E)) on skewed graphs (a hub's edges point INTO it), so the
    wedge join's fanout never explodes on celebrity vertices. The
    triangle SET is orientation-independent, which lets a plain
    least/greatest SQL oracle verify the degree-ordered plan.

    Returns ``(id, n_triangles)`` for vertices in >= 1 triangle.
    """
    raw = edges.select(
        F.col("src").cast("bigint").alias("src"), F.col("dst").cast("bigint").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    und = (
        raw.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    sym = und.unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ranked = (
        sym.join(deg.select(F.col("u").alias("u"), F.col("deg").alias("du")), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("deg").alias("dv")),
            "v",
        )
        # orient low-(degree, id) -> high-(degree, id)
        .filter(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select(F.col("u").alias("a"), F.col("v").alias("b"))
        .transform(_ckpt)
    )
    e1 = ranked.select(F.col("a"), F.col("b"))
    e2 = ranked.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = ranked.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = (
        e1.join(e2, "b")
        .join(e3, (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")), "left_semi")
        .select("a", "b", "c")
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def _fixpoint(state: DataFrame, step, rounds: int) -> tuple[DataFrame, int, bool]:
    """The round loop of min-label propagation, sssp, kcore and the SCC
    trim: at most ``rounds`` rounds of ``state = step(state, r)``.

    ``step`` returns the next state with a boolean ``chg`` column,
    already truncated (``_ckpt_lazy``, or ``spill_truncate`` where the
    round self-joins its state). Counting the ``chg`` rows is the
    round's only driver action: it materializes the truncation and
    decides the fixed point, and a round with none ends the loop.
    Returns ``(state, rounds_used, converged)``; the state keeps its
    ``chg`` column, except after zero rounds."""
    for r in range(1, rounds + 1):
        state = step(state, r)
        if state.filter("chg").count() == 0:
            return state, r, True
    return state, rounds, False


_AUTO_JUMP_AFTER = 8  # one-hop rounds 1..8, jump rounds after


def _min_label_fixpoint(
    edges: DataFrame, state: DataFrame, changed: Column, rounds: int, tag: str
) -> tuple[DataFrame, int, bool]:
    """Min-label propagation to a fixpoint — the one loop behind SCC
    color, SCC backward and ``dedup_queries.connected_components``.

    ``state`` is ``(v, k, p)``: a label key ``k`` and a pointer ``p``
    to a vertex whose own key is at most ``k``. Each round every
    vertex takes the smallest ``k`` over itself and its in-neighbours
    along ``edges`` ``(src, dst)``, with the ``p`` that came with it.
    ``min`` + ``min_by`` keep that a HashAggregate; ``min(struct(k,
    p))`` plans a SortAggregate every round.

    Rounds 1..``_AUTO_JUMP_AFTER`` stop there, so a shallow fixpoint
    never pays a spill. From round ``_AUTO_JUMP_AFTER + 1`` a round
    also jumps through the pointer — ``(k, p)`` takes ``p``'s pair
    when its key is smaller — which collapses O(diameter) rounds to
    O(log diameter). The jump self-joins the state, and a self-join
    SQUARES localCheckpoint-carried statistics every round
    (plans/reliable.spill_truncate), so a jump round truncates with
    ``spill_truncate`` instead: two parquet spills.

    ``changed`` is a boolean Column over ``k`` and ``k_old``, the
    round's ``chg`` for :func:`_fixpoint`. ``rounds`` is the round
    budget. Returns ``(state, rounds_used, converged)``.
    """

    def step(state: DataFrame, r: int) -> DataFrame:
        state = state.select("v", "k", "p")
        msgs = edges.join(state.withColumnRenamed("v", "src"), "src").select(
            F.col("dst").alias("v"), "k", "p"
        )
        new = (
            state.unionByName(msgs)
            .groupBy("v")
            .agg(F.min("k").alias("k"), F.min_by("p", "k").alias("p"))
        )
        jump = r > _AUTO_JUMP_AFTER
        if jump:
            new = _reliable.spill_truncate(new, f"{tag}-base")
            jt = new.select(
                F.col("v").alias("jv"), F.col("k").alias("jk"), F.col("p").alias("jp")
            )
            take = F.col("jk") < F.col("k")  # NULL (no jump) when p has no row
            new = new.join(jt, F.col("p") == F.col("jv"), "left").select(
                "v",
                F.when(take, F.col("jk")).otherwise(F.col("k")).alias("k"),
                F.when(take, F.col("jp")).otherwise(F.col("p")).alias("p"),
            )
        nxt = new.join(state.select("v", F.col("k").alias("k_old")), "v").select(
            "v", "k", "p", changed.alias("chg")
        )
        return _reliable.spill_truncate(nxt, tag) if jump else nxt.transform(_ckpt_lazy)

    state, used, converged = _fixpoint(state, step, rounds)
    return state.select("v", "k", "p"), used, converged


def strongly_connected_components(
    edges: DataFrame,
    max_rounds: int = 200,
    stats: dict | None = None,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph by the
    forward-backward coloring algorithm with trimming (Orzan 2004 /
    the FW-BW-Trim family — the standard distributed SCC method;
    Tarjan's stack walk is inherently sequential and never an option
    on a cluster).

    Per pass over the remaining subgraph:

    1. **Trim**: vertices with no in-edges or no out-edges inside the
       remaining subgraph are singleton SCCs — peel them repeatedly
       (removes the DAG fringe without any propagation).
    2. **Color**: forward min-label propagation to fixpoint —
       ``c(v)`` = smallest vertex that reaches v. Roots are vertices
       with ``c(r) = r``; a root is the minimum of its own SCC (any
       smaller SCC member would reach it).
    3. **Backward mark**: from every root simultaneously, walk the
       REVERSED edges restricted to the root's color; marked vertices
       are mutually reachable with their root — exactly SCC(r) for
       every root r, all extracted in one sweep.

    Extracted vertices leave the subgraph; the loop repeats on the
    rest (vertices colored by a root outside their own SCC). Output:
    ``(v, scc_id)`` with scc_id = min member, matching a recursive-
    closure oracle's canonical labels. ``max_rounds`` bounds TOTAL
    propagation rounds across all phases (an adversarial long path
    needs O(path) trim rounds; real condensations are shallow) — on
    exhaustion the remainder is labeled NULL and a warning logged,
    the same loud-truncation contract as ``bfs``.

    Scale notes: every phase is frontier-style (messages flow along
    edges, min/any aggregates, anti-joins against small marked sets);
    per-round state is O(remaining vertices) and the edge table is
    filtered once per pass, so cost tracks the surviving subgraph,
    which shrinks by at least every root's SCC per pass.

    Pass a dict as ``stats`` for per-pass instrumentation:
    ``stats["phases"]`` = list of ``(pass_no, phase, rounds, seconds)``
    with phase in {trim, color, backward} — at the sf0.01/0.1 profile
    the color fixpoint dominates (its round count tracks the internal
    diameter of the largest surviving SCC), which is why each color
    round fuses the fixpoint test into the checkpoint job.

    Both propagation phases run :func:`_min_label_fixpoint`. Color
    propagates vertex ids forward (``k = p = v``); its jump
    ``c(v) ← c(c(v))`` is sound by transitivity. Backward runs the
    same loop over the class-internal edges REVERSED with SALTED
    keys: roots seed the sentinel key -1, every other vertex a 63-bit
    hash of its id, and v joins its root's SCC iff the sentinel
    reaches it. Hashing decorrelates key order from edge direction,
    so the jump compounds where raw ids increasing along the edges
    leave a one-hop wavefront (64/64 rounds on a 64-cycle); and
    backward stops once no vertex NEWLY reaches the sentinel, so the
    other keys' mixing time never costs rounds. Shallow fixpoints
    converge inside the helper's one-hop prefix with no spill; deep
    ones escalate to O(log diameter) jump rounds (BASELINE.md
    round-13 table).
    """
    e_raw = edges.select(
        F.col("src").cast("bigint").alias("src"),
        F.col("dst").cast("bigint").alias("dst"),
    )
    e0 = (
        e_raw.filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(_ckpt)
    )
    # Vertex set from the UNFILTERED input: a vertex whose only edges are
    # self-loops is a valid singleton SCC and must still get an output row.
    remaining = (
        e_raw.select(F.col("src").alias("v"))
        .union(e_raw.select(F.col("dst").alias("v")))
        .distinct()
        .transform(_ckpt)
    )
    done: DataFrame | None = None
    rounds_left = max_rounds
    if stats is not None:
        stats["phases"] = []  # (pass_no, phase, rounds_used, seconds)

    def _note(pass_no: int, phase: str, used: int, t0: float) -> None:
        if stats is not None:
            stats["phases"].append(
                (pass_no, phase, used, round(time.perf_counter() - t0, 3))
            )

    pass_no = 0

    def add(res: DataFrame, part: DataFrame) -> DataFrame:
        return part if res is None else res.unionByName(part).transform(_ckpt)

    def within(edges: DataFrame, vs: DataFrame) -> DataFrame:
        return edges.join(vs.withColumnRenamed("v", "src"), "src", "left_semi").join(
            vs.withColumnRenamed("v", "dst"), "dst", "left_semi"
        )

    def trim(rem: DataFrame, _r: int) -> DataFrame:
        # flag every survivor with no in-edge or no out-edge among the
        # survivors; the next round drops the flagged rows first
        live = rem.filter(~F.col("chg")).select("v")
        e_live = within(e0, live)
        keep = (
            e_live.select(F.col("src").alias("v"))
            .join(e_live.select(F.col("dst").alias("v")), "v", "left_semi")
            .distinct()
            .select("v", F.lit(False).alias("chg"))
        )
        return (
            live.join(keep, "v", "left")
            .select("v", F.coalesce("chg", F.lit(True)).alias("chg"))
            .transform(_ckpt_lazy)
        )

    while rounds_left > 0:
        pass_no += 1
        if remaining.count() == 0:
            break
        # --- trim the DAG fringe
        _t0 = time.perf_counter()
        rem, used, trim_converged = _fixpoint(
            remaining.withColumn("chg", F.lit(False)), trim, rounds_left
        )
        rounds_left -= used
        trimmed_any = used > int(trim_converged)  # some round flagged a vertex
        if trimmed_any:
            survivors = rem.filter(~F.col("chg")).select("v")
            fringe = remaining.join(survivors, "v", "left_anti")
            done = add(done, fringe.select("v", F.col("v").alias("scc_id")))
            remaining = survivors
        _note(pass_no, "trim", used, _t0)
        # an untrimmed pass keeps the frame counted at the loop head
        if rounds_left <= 0 or (trimmed_any and remaining.count() == 0):
            break
        e = within(e0, remaining).transform(_ckpt)
        # --- forward min-label propagation to fixpoint
        _t0 = time.perf_counter()
        c0 = remaining.select("v", F.col("v").alias("k"), F.col("v").alias("p"))
        cs, used, colors_converged = _min_label_fixpoint(
            e, c0, F.col("k") < F.col("k_old"), rounds_left, "scc-color"
        )
        rounds_left -= used
        _note(pass_no, "color", used, _t0)
        if not colors_converged:
            # A cut-short coloring would surface FALSE roots (vertices
            # the true min label has not yet reached) and emit wrong
            # scc_ids — bail to the NULL-label truncation branch below
            # instead of extracting from it. (The backward phase has no
            # such hazard: a partial mark only ever contains vertices
            # already proven mutually reachable with their root.)
            rounds_left = 0
            break
        c = cs.select("v", F.col("k").alias("c"))
        # --- backward mark within colors, from every root at once.
        # Restricting edges to c(src) == c(dst) is complete, not just
        # sound: if c(v) = r then r reaches v along a path whose every
        # intermediate u has c(u) = r (anything reaching u reaches v,
        # so c(u) >= c(v) = r; and r reaches u, so c(u) <= r — the
        # Orzan lemma). Edges never cross classes, so one class's
        # sentinel cannot leak into another.
        _t0 = time.perf_counter()
        cc_src = c.select(F.col("v").alias("src"), F.col("c").alias("c_src"))
        cc_dst = c.select(F.col("v").alias("dst"), F.col("c").alias("c_dst"))
        e_back = (
            e.join(cc_src, "src")
            .join(cc_dst, "dst")
            .filter(F.col("c_src") == F.col("c_dst"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            .transform(_ckpt)
        )
        d0 = c.select(
            "v",
            F.when(F.col("v") == F.col("c"), F.lit(-1).cast("bigint"))
            .otherwise(F.shiftrightunsigned(F.xxhash64(F.col("v")), 1))
            .alias("k"),
            F.col("v").alias("p"),
        )
        # Sentinel-closure convergence: a round in which no vertex
        # NEWLY reaches -1 proves the marked set is one-hop closed.
        # A budget-truncated run only marks vertices with a proven
        # witness path to their root.
        d, used, _ = _min_label_fixpoint(
            e_back,
            d0,
            (F.col("k") == -1) & (F.col("k_old") != -1),
            rounds_left,
            "scc-back",
        )
        rounds_left -= used
        # lazy: the eager done/remaining cut below materializes it
        mark = d.filter(F.col("k") == -1).join(c, "v").select("v", "c").transform(_ckpt_lazy)
        _note(pass_no, "backward", used, _t0)
        done = add(done, mark.select("v", F.col("c").alias("scc_id")))
        remaining = remaining.join(mark.select("v"), "v", "left_anti").transform(_ckpt)
        if not trimmed_any and mark.count() == 0:  # defensive: no progress
            break
    if rounds_left <= 0:
        n_left = remaining.count()
        if n_left:
            logger.warning(
                "strongly_connected_components: max_rounds=%d exhausted with "
                "%d vertices unresolved; emitting NULL scc_id for them",
                max_rounds,
                n_left,
            )
            done = add(
                done, remaining.select("v", F.lit(None).cast("bigint").alias("scc_id"))
            )
    return done
