"""Catalog entries for the graph operator (the reference's entire
query surface, ``BFS_map_reduce.py`` — see operators/graph.py for the
engine's Pregel-shaped implementation).

Two graphs are exercised:

- a bipartite order↔part graph derived from ``lineitem`` (scales with
  sf, so the driver's correctness AND bench runs cover BFS). The BFS
  distance histogram has an exact DuckDB oracle: a bounded recursive
  CTE (walk length <= 6, UNION-deduped on (id, dist), MIN per id) —
  shortest walk == shortest path, so the histogram is exact.
- the reference's own ``smallG`` dataset (250 vertices, ecc(0)=13),
  reproducing the reference's query end-to-end
  (``BFS_map_reduce.py:115-150`` semantics with W1-W5 fixed) against a
  level-unrolled DuckDB BFS oracle over the same edge-list file. The
  file comes from ``sources.readers.reference_graph``: the reference's
  own copy where present, else the committed stand-in of the same
  documented shape (FIXTURES.md §1). Figures below marked "real
  smallG" describe the reference's own file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bfs_mapreduce_spark.plans.reliable import (
    ckpt as _ckpt,  # lineage truncation: localCheckpoint, or a durable
    ckpt_lazy as _ckpt_lazy,  # parquet spill inside reliable_checkpoints()
)

from bfs_mapreduce_spark.operators.graph import bfs
from bfs_mapreduce_spark.registry import register
from bfs_mapreduce_spark.sources.readers import (
    load_table,
    read_edge_list,
    reference_graph,
)

_PART_OFFSET = 10_000_000  # lift partkeys into their own vertex-id space
_MAX_DIST = 6
_SMALLG = reference_graph("smallG")


def _order_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("src"),
        (F.col("l_partkey") + _PART_OFFSET).alias("dst"),
    )


@register(
    "q_graph_bfs_histogram",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT l_orderkey AS src, l_partkey + {_PART_OFFSET} AS dst FROM lineitem),
    sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    s0 AS (SELECT MIN(l_orderkey) AS s FROM lineitem),
    walk(id, dist) AS (
      SELECT s, 0 FROM s0
      UNION
      SELECT sym.dst, walk.dist + 1
      FROM walk JOIN sym ON sym.src = walk.id
      WHERE walk.dist < {_MAX_DIST})
    SELECT CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_vertices
    FROM (SELECT id, MIN(dist) AS dist FROM walk GROUP BY id)
    GROUP BY dist
    """,
    doc="BFS distance histogram (depth-bounded at 6) on the bipartite "
    "order↔part graph, source = min orderkey. Exercises the full "
    "iterative frontier-join/min-agg/anti-join machinery against an "
    "exact SQL oracle.",
)
def q_graph_bfs_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _order_part_edges(spark, sf_dir)
    # bounded exploration BY DESIGN (depth-6 histogram) — no truncation
    # warning; reached_only skips the vertex-universe join the NOT NULL
    # filter would discard anyway. The min-src seed rides into round 1's
    # job as a broadcast scalar subquery — no separate collect() job.
    #
    # The histogram itself is a FREE BYPRODUCT of level-synchronous
    # BFS: every round's frontier is already deduped, disjoint from
    # all earlier rounds, and counted by the driver loop (the
    # emptiness test), so (dist -> frontier size) IS the histogram —
    # no final union-of-frontiers aggregate job at all (round-8: that
    # job was ~0.5 s of the bench query, pure re-counting of counts
    # the loop had already paid for).
    stats: dict = {}
    bfs(
        edges, source_df=edges.agg(F.min("src")), source_df_rows=1,
        max_rounds=_MAX_DIST,
        with_paths=False, warn_on_truncation=False, reached_only=True,
        stats=stats,
    )
    hist = [(0, 1)] + [
        (round_no, n) for round_no, n, _sec in stats["rounds"] if n > 0
    ]
    return spark.createDataFrame(hist, "dist bigint, n_vertices bigint")


@register(
    "q_graph_degree_hist",
    oracle=f"""
    WITH e AS (
      SELECT l_orderkey AS src, l_partkey + {_PART_OFFSET} AS dst FROM lineitem),
    sym AS (SELECT DISTINCT src, dst FROM (
      SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)
      WHERE src <> dst),
    deg AS (SELECT src, COUNT(*) AS degree FROM sym GROUP BY src)
    SELECT degree, COUNT(*) AS n_vertices FROM deg GROUP BY degree
    """,
    doc="Degree distribution of the undirected (deduped) graph — the "
    "adjacency-build operator (Graph.py:9-16) as an aggregate query.",
)
def q_graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.graph import undirected_edges

    sym = undirected_edges(_order_part_edges(spark, sf_dir))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_vertices"))


_SMALLG_ECC = 13  # ecc(0) on smallG — verified by executing the reference
_SMALLG_DIAM = 14  # diameter of smallG: all-pairs queries must iterate to
# THIS bound (ecc(0) only bounds BFS rooted at vertex 0 — on the real
# smallG 15 vertices have dist-14 partners that an ecc-bounded all-pairs
# walk would drop; the stand-in's diameter is at most ecc(0) + 1).


def _smallg_oracle(max_dist: int = _SMALLG_ECC) -> str:
    """Exact DuckDB oracle for BFS-with-paths on the reference's own
    smallG dataset: level-synchronous BFS unrolled as one CTE per level
    (a recursive CTE carrying paths would enumerate every walk —
    combinatorial; per-level lexmin keeps one row per vertex).

    Tie-break parity with the engine (graph.py: ``F.min("path")`` over
    ``array<bigint>``): among equal-length shortest paths, the lexmin
    int-sequence path equals the lexmin of zero-padded path strings
    (ids < 1000 → 3-digit pad), and because all candidate parent paths
    at a level share a length, ``min(parent_path) || child`` IS the
    lexmin child path. ``pk`` is the padded comparison key; ``p`` the
    plain rendering the engine emits (``MIN_BY(p, pk)`` keeps them
    aligned).
    """
    parts = [
        f"""
    WITH e AS (SELECT src, dst FROM read_csv('{_SMALLG}', delim=' ',
                 header=false, columns={{'src': 'BIGINT', 'dst': 'BIGINT'}})),
    sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    l0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist,
                  '0' AS p, '000' AS pk),
    r0 AS MATERIALIZED (SELECT * FROM l0)"""
    ]
    for k in range(1, max_dist + 1):
        parts.append(
            f""",
    l{k} AS MATERIALIZED (SELECT sym.dst AS id, CAST({k} AS BIGINT) AS dist,
             MIN_BY(prev.p, prev.pk) || '->' || CAST(sym.dst AS VARCHAR) AS p,
             MIN(prev.pk) || '->' || LPAD(CAST(sym.dst AS VARCHAR), 3, '0') AS pk
      FROM l{k - 1} prev JOIN sym ON sym.src = prev.id
      WHERE sym.dst NOT IN (SELECT id FROM r{k - 1})
      GROUP BY sym.dst),
    r{k} AS MATERIALIZED (SELECT * FROM r{k - 1} UNION ALL SELECT * FROM l{k})"""
        )
    parts.append(f"\n    SELECT id, dist, p AS path_str FROM r{max_dist}")
    return "".join(parts)


@register(
    "q_graph_bfs_smallg",
    oracle=_smallg_oracle(),
    doc="The reference's own query end-to-end: single-source shortest "
    "paths with path recovery on smallG (250 vertices, ecc(0)=13), "
    "source 0, deterministic lexicographic tie-break. Path emitted as "
    "a '->'-joined string. Oracle: level-unrolled BFS in DuckDB over "
    "the same edge-list file (see _smallg_oracle).",
)
def q_graph_bfs_smallg(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = read_edge_list(spark, _SMALLG)
    res = bfs(edges, source=0, with_paths=True)
    return res.select(
        "id",
        "dist",
        F.array_join(F.col("path"), "->").alias("path_str"),
    )


@register(
    "q_graph_multi_source_bfs",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT l_orderkey AS src, l_partkey + {_PART_OFFSET} AS dst FROM lineitem),
    sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    s0 AS (SELECT DISTINCT l_orderkey AS s FROM lineitem
           ORDER BY l_orderkey LIMIT 3),
    walk(id, dist) AS (
      SELECT s, 0 FROM s0
      UNION
      SELECT sym.dst, walk.dist + 1
      FROM walk JOIN sym ON sym.src = walk.id
      WHERE walk.dist < {_MAX_DIST})
    SELECT CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_vertices
    FROM (SELECT id, MIN(dist) AS dist FROM walk GROUP BY id)
    GROUP BY dist
    """,
    doc="Multi-source BFS histogram (3 seed orders, depth-bounded at "
    "6): dist = distance to the NEAREST seed — the distance-to-seed "
    "primitive behind label propagation and partition growing. Same "
    "per-round machinery as single-source; the min-aggregate resolves "
    "seed collisions for free.",
)
def q_graph_multi_source_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _order_part_edges(spark, sf_dir)
    # N-row seed frame — the 3 smallest order vertices ride into
    # round 1 as a DataFrame plan (no driver collect(); the declared
    # row count keeps the seed plan fully lazy, see bfs docstring)
    seeds = edges.select("src").distinct().orderBy("src").limit(3)
    res = bfs(
        edges, source_df=seeds, source_df_rows=3, max_rounds=_MAX_DIST,
        with_paths=False, warn_on_truncation=False, reached_only=True,
    )
    return res.groupBy(F.col("dist").cast("bigint").alias("dist")).agg(
        F.count(F.lit(1)).alias("n_vertices")
    )


@register(
    "q_graph_kcore",
    oracle=None,  # peeling depth is data-dependent, so the iteration
    # count can't be unrolled in SQL; per-vertex parity vs a pure-Python
    # Matula-Beck peeling oracle is asserted in tests/test_properties.py
    doc="3-core of the order↔part graph: iterative degree peeling "
    "(Matula-Beck) as a driver loop — one degree aggregate + two "
    "semi-joins per round over an edge set that only shrinks. The "
    "density screen a graph pipeline runs before expensive per-vertex "
    "work (vertices outside the core can't be in any >=3-dense "
    "structure).",
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.graph import kcore

    return kcore(_order_part_edges(spark, sf_dir), k=3)


@register(
    "q_graph_ecc_smallg",
    oracle=f"""
    WITH RECURSIVE e AS (SELECT src, dst FROM read_csv('{_SMALLG}', delim=' ',
                 header=false, columns={{'src': 'BIGINT', 'dst': 'BIGINT'}})),
    sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    w1(id, dist) AS (
      SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      UNION
      SELECT sym.dst, w1.dist + 1 FROM w1 JOIN sym ON sym.src = w1.id
      WHERE w1.dist < 20),
    d1 AS (SELECT id, MIN(dist) AS dist FROM w1 GROUP BY id),
    ecc0 AS (SELECT MAX(dist) AS ecc FROM d1),
    far AS (SELECT MIN(id) AS id FROM d1 WHERE dist = (SELECT ecc FROM ecc0)),
    w2(id, dist) AS (
      SELECT (SELECT id FROM far), CAST(0 AS BIGINT)
      UNION
      SELECT sym.dst, w2.dist + 1 FROM w2 JOIN sym ON sym.src = w2.id
      WHERE w2.dist < 20),
    d2 AS (SELECT id, MIN(dist) AS dist FROM w2 GROUP BY id)
    SELECT (SELECT ecc FROM ecc0) AS ecc_source,
           (SELECT id FROM far) AS far_id,
           (SELECT MAX(dist) FROM d2) AS diameter_lb
    """,
    doc="Double-sweep eccentricity / diameter lower bound on the "
    "reference's smallG — the reference's own headline metric "
    "(ecc(0)=13, Presentazione slide 9) plus the classic second sweep "
    "from the farthest vertex (min-id tie-break), whose eccentricity "
    "lower-bounds the diameter (14 on the real smallG). The second "
    "sweep seeds through bfs(source_df=...), so the argmax vertex "
    "never round-trips through the driver; oracle = both sweeps as recursive CTEs "
    "over the same edge-list file.",
)
def q_graph_ecc_smallg(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = read_edge_list(spark, _SMALLG)
    b1 = bfs(edges, source=0, with_paths=False, reached_only=True).transform(_ckpt)
    ecc0 = b1.agg(F.max("dist").alias("ecc_source"))
    far = (
        b1.orderBy(F.desc("dist"), F.asc("id")).limit(1).select("id")
    )
    b2 = bfs(edges, source_df=far, source_df_rows=1, with_paths=False, reached_only=True)
    return (
        ecc0.crossJoin(F.broadcast(far.select(F.col("id").alias("far_id"))))
        .crossJoin(F.broadcast(b2.agg(F.max("dist").alias("diameter_lb"))))
    )


_CLOSENESS_LANDMARKS = (0, 50, 100)


@register(
    "q_graph_closeness_landmarks",
    oracle=f"""
    WITH RECURSIVE e AS (SELECT src, dst FROM read_csv('{_SMALLG}', delim=' ',
                 header=false, columns={{'src': 'BIGINT', 'dst': 'BIGINT'}})),
    sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    """
    + ",\n    ".join(
        f"""w{i}(id, dist) AS (
      SELECT CAST({lm} AS BIGINT), CAST(0 AS BIGINT)
      UNION
      SELECT sym.dst, w{i}.dist + 1 FROM w{i} JOIN sym ON sym.src = w{i}.id
      WHERE w{i}.dist < 20),
    d{i} AS (SELECT id, MIN(dist) AS dist FROM w{i} GROUP BY id)"""
        for i, lm in enumerate(_CLOSENESS_LANDMARKS)
    )
    + "\n    "
    + "UNION ALL\n    ".join(
        f"""SELECT CAST({lm} AS BIGINT) AS landmark,
           CAST(COUNT(*) AS BIGINT) AS n_reached,
           CAST(SUM(dist) AS BIGINT) AS sum_dist,
           ROUND((COUNT(*) - 1) * 1.0 / SUM(dist), 6) AS closeness
    FROM d{i}
    """
        for i, lm in enumerate(_CLOSENESS_LANDMARKS)
    ),
    doc="Landmark closeness centrality on the reference's smallG: one "
    "BFS sweep per landmark (the standard landmark/pivot approximation "
    "of all-pairs closeness — exact per landmark, sampled over "
    "landmarks at scale), closeness = (reached-1)/sum(dist). Each "
    "sweep is the same O(frontier)-per-round machinery as the ecc "
    "query; sweeps over different landmarks are independent jobs a "
    "cluster runs concurrently. Oracle = one recursive-CTE walk per "
    "landmark over the same edge-list file.",
)
def q_graph_closeness_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    import contextvars
    from concurrent.futures import ThreadPoolExecutor

    edges = read_edge_list(spark, _SMALLG).transform(_ckpt)

    def sweep(lm: int) -> DataFrame:
        b = bfs(edges, source=lm, with_paths=False, reached_only=True)
        return b.agg(
            F.lit(lm).cast("bigint").alias("landmark"),
            F.count(F.lit(1)).alias("n_reached"),
            F.sum("dist").alias("sum_dist"),
            F.round((F.count(F.lit(1)) - 1) / F.sum("dist"), 6).alias(
                "closeness"
            ),
        )

    # the sweeps are INDEPENDENT traversals — run their driver loops on
    # concurrent threads so Spark's scheduler interleaves the per-round
    # jobs (the docstring's "a cluster runs them concurrently", made
    # true locally too: wall-clock ~max(sweep) instead of sum; job
    # submission is thread-safe, each loop truncates its own lineage).
    # The shared edge frame is checkpointed EAGERLY first so the racing
    # loops reuse one materialization instead of racing to build it.
    # bfs()'s session-conf tuning is refcounted (graph._loop_conf), so
    # concurrent sweeps restore the USER's conf exactly once at the
    # end; and each task runs under a COPY of the caller's contextvars
    # context so an ambient reliable_checkpoints(...) scope reaches the
    # worker threads (ThreadPoolExecutor does not propagate context —
    # without the copy the sweeps would silently fall back to
    # localCheckpoint and drop the durability guarantee).
    with ThreadPoolExecutor(max_workers=len(_CLOSENESS_LANDMARKS)) as ex:
        futs = [
            ex.submit(contextvars.copy_context().run, sweep, lm)
            for lm in _CLOSENESS_LANDMARKS
        ]
        parts = [f.result() for f in futs]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_SCC_ORDER_BOUND = 300  # keeps the oracle's reachability closure small


@register(
    "q_graph_scc",
    oracle=f"""
    WITH RECURSIVE li AS (
      SELECT l_orderkey AS o, l_partkey + {_PART_OFFSET} AS p,
             l_suppkey + {2 * _PART_OFFSET} AS s, l_linenumber AS ln
      FROM lineitem WHERE l_orderkey < {_SCC_ORDER_BOUND}),
    e AS (
      SELECT o AS src, p AS dst FROM li UNION
      SELECT p, s FROM li UNION
      SELECT s, o FROM li WHERE ln = 1),
    verts AS (SELECT DISTINCT src AS v FROM e UNION SELECT DISTINCT dst FROM e),
    reach(src, id) AS (
      SELECT v, v FROM verts
      UNION
      SELECT reach.src, e.dst FROM reach JOIN e ON e.src = reach.id),
    scc AS (
      SELECT a.src AS v, MIN(a.id) AS scc_id
      FROM reach a JOIN reach b ON a.id = b.src AND b.id = a.src
      GROUP BY a.src)
    SELECT v, scc_id FROM scc
    """,
    doc="Strongly connected components of a DIRECTED graph "
    "(forward-backward coloring with trimming, Orzan 2004 — the "
    "distributed SCC method; Tarjan is inherently sequential). The "
    "graph: each lineitem row under the orderkey bound contributes "
    "order→part and part→supplier edges, and its first line closes "
    "the cycle supplier→order — yielding the web-graph-like shape of "
    "one giant SCC (~572 members), a few 3-cycles, and a trimmed DAG "
    "fringe of singletons. Per-vertex canonical labels (scc_id = min "
    "member) are hash-compared against a recursive-closure oracle — "
    "mutual-reachability pairs grouped per vertex. Property-tested "
    "against a Python Tarjan on random digraphs in tests/test_bfs.py.",
)
def q_graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.graph import strongly_connected_components

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < _SCC_ORDER_BOUND)
        .select(
            F.col("l_orderkey").alias("o"),
            (F.col("l_partkey") + _PART_OFFSET).alias("p"),
            (F.col("l_suppkey") + 2 * _PART_OFFSET).alias("s"),
            F.col("l_linenumber").alias("ln"),
        )
    )
    edges = (
        li.select(F.col("o").alias("src"), F.col("p").alias("dst"))
        .unionByName(li.select(F.col("p").alias("src"), F.col("s").alias("dst")))
        .unionByName(
            li.filter(F.col("ln") == 1).select(
                F.col("s").alias("src"), F.col("o").alias("dst")
            )
        )
    )
    return strongly_connected_components(edges)


_HB_ROUNDS = 15  # covers smallG's diameter (_SMALLG_DIAM, see q_graph_ecc_smallg)


@register(
    "q_graph_hyperball_smallg",
    oracle=f"""
    WITH RECURSIVE e AS (SELECT src, dst FROM read_csv('{_SMALLG}', delim=' ',
                 header=false, columns={{'src': 'BIGINT', 'dst': 'BIGINT'}})),
    sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    verts AS (SELECT DISTINCT src AS v FROM sym),
    w(src, id, dist) AS (
      SELECT v, v, CAST(0 AS BIGINT) FROM verts
      UNION
      SELECT w.src, sym.dst, w.dist + 1 FROM w JOIN sym ON sym.src = w.id
      WHERE w.dist < {_HB_ROUNDS}),
    d AS (SELECT src, id, MIN(dist) AS dist FROM w GROUP BY src, id)
    SELECT CAST(t.r AS BIGINT) AS r,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           TRUE AS within_bounds
    FROM range({_HB_ROUNDS + 1}) t(r) JOIN d ON d.dist <= t.r
    GROUP BY t.r
    """,
    doc="Neighborhood function N(r) = #(u,v) pairs within distance r "
    "on the reference's smallG, computed BOTH ways in one plan: "
    "exactly (iterative all-pairs frontier expansion — tractable at "
    "this scale) and by HyperBall (Boldi & Vigna 2013, public "
    "method: per-vertex HLL sketches of the r-ball, advanced one "
    "round by unioning each vertex's neighbours' sketches with "
    "hll_union_agg — THE scale method behind effective-diameter "
    "numbers on billion-edge graphs, constant state per vertex where "
    "the exact table is O(n^2)). Emits the derived-twin shape: exact "
    "pair counts (oracle = recursive-CTE closure) plus a BOOLEAN "
    "that the sketch estimate stays within 5% (sums of ~250 "
    "rse-1.6% estimates concentrate well inside it).",
)
def q_graph_hyperball_smallg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.graph import hyperball_round, undirected_edges

    edges = undirected_edges(read_edge_list(spark, _SMALLG)).transform(_ckpt)
    verts = edges.select(F.col("src").alias("v")).distinct()

    # exact side: reach table of (a, b) pairs within <= r hops
    reach = verts.select(F.col("v").alias("a"), F.col("v").alias("b")).transform(_ckpt)
    # sketch side: per-vertex HLL of the r-ball
    state = verts.groupBy("v").agg(F.hll_sketch_agg("v").alias("sk")).transform(_ckpt)

    rows = [
        reach.agg(F.count(F.lit(1)).alias("n_pairs")).select(
            F.lit(0).cast("bigint").alias("r"),
            "n_pairs",
            F.lit(True).alias("within_bounds"),
        )
    ]
    for _ in range(_HB_ROUNDS):
        grown = (
            reach.join(edges, reach["b"] == edges["src"])
            .select("a", F.col("dst").alias("b"))
            .unionByName(reach)
            .distinct()
            .transform(_ckpt)
        )
        state = hyperball_round(state, edges)
        reach = grown
        exact = grown.agg(F.count(F.lit(1)).alias("n_pairs"))
        est = state.agg(F.sum(F.hll_sketch_estimate("sk")).alias("est"))
        rows.append(
            exact.crossJoin(F.broadcast(est)).select(
                F.lit(len(rows)).cast("bigint").alias("r"),
                "n_pairs",
                (
                    F.abs(F.col("est") - F.col("n_pairs")) / F.col("n_pairs")
                    <= F.lit(0.05)
                ).alias("within_bounds"),
            )
        )
    out = rows[0]
    for part in rows[1:]:
        out = out.unionByName(part)
    return out


_KCORE_SMALLG_K = 8
# Peeling depth for k=8 on the real smallG is 8 rounds (measured by a
# Python Matula-Beck peel of the static file; tests/test_reference_graphs.py
# checks the resolved file against this bound); unroll a couple extra — once
# the core is stable each further round is an exact no-op.
_KCORE_SMALLG_ROUNDS = 10


def _kcore_smallg_oracle(
    k: int = _KCORE_SMALLG_K, rounds: int = _KCORE_SMALLG_ROUNDS
) -> str:
    """Exact DuckDB oracle for the k-core on smallG: the peeling loop
    unrolled as one (keep, restrict) CTE pair per round. Legal only
    because the input file is static, so the data-dependent iteration
    count is a measurable constant — the general operator keeps its
    rows-only entry (q_graph_kcore) plus the Python-peeling property
    test in tests/test_properties.py."""
    parts = [
        f"""
    WITH raw AS (SELECT src, dst FROM read_csv('{_SMALLG}', delim=' ',
                 header=false, columns={{'src': 'BIGINT', 'dst': 'BIGINT'}})),
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM raw WHERE src <> dst),
    e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
           UNION ALL SELECT b AS src, a AS dst FROM und)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
    k{i - 1} AS MATERIALIZED (SELECT src AS id FROM e{i - 1} GROUP BY src
                 HAVING COUNT(*) >= {k}),
    e{i} AS MATERIALIZED (SELECT e.src, e.dst FROM e{i - 1} e
             JOIN k{i - 1} s ON e.src = s.id
             JOIN k{i - 1} d ON e.dst = d.id)"""
        )
    parts.append(
        f"""
    SELECT src AS id, COUNT(*) AS degree FROM e{rounds} GROUP BY src"""
    )
    return "".join(parts)


@register(
    "q_graph_kcore_smallg",
    oracle=_kcore_smallg_oracle(),
    doc="8-core of the reference's smallG graph (on the real smallG 67 "
    "vertices survive an 8-round peeling cascade), hash-checked "
    "against the peeling loop unrolled in SQL — the static file makes the data-dependent "
    "round count a constant, giving the iterative kcore operator an "
    "exact external oracle that the sf-scaled q_graph_kcore (rows-"
    "only) can't have.",
)
def q_graph_kcore_smallg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.graph import kcore

    return kcore(read_edge_list(spark, _SMALLG), k=_KCORE_SMALLG_K)


_LABELPROP_ROUNDS = 5


def _labelprop_smallg_oracle(rounds: int = _LABELPROP_ROUNDS) -> str:
    """Synchronous LPA unrolled in SQL, one CTE per sweep: the argmax
    (most frequent neighbour label, tie -> smallest) is a ROW_NUMBER
    over the per-(vertex,label) counts. Legal as an exact oracle
    because the round count is a fixed parameter, not data-dependent."""
    parts = [
        f"""
    WITH raw AS (SELECT src, dst FROM read_csv('{_SMALLG}', delim=' ',
                 header=false, columns={{'src': 'BIGINT', 'dst': 'BIGINT'}})),
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM raw WHERE src <> dst),
    e AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
         UNION ALL SELECT b AS src, a AS dst FROM und),
    l0 AS (SELECT DISTINCT src AS id, src AS label FROM e)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
    l{i} AS MATERIALIZED (
      SELECT src AS id, label FROM (
        SELECT src, label, ROW_NUMBER() OVER (
                 PARTITION BY src ORDER BY c DESC, label) AS rn
        FROM (SELECT e.src, l.label, COUNT(*) AS c
              FROM e JOIN l{i - 1} l ON e.dst = l.id
              GROUP BY e.src, l.label))
      WHERE rn = 1)"""
        )
    parts.append(f"""
    SELECT id, label FROM l{rounds}""")
    return "".join(parts)


@register(
    "q_graph_labelprop_smallg",
    oracle=_labelprop_smallg_oracle(),
    doc="Community detection by synchronous label propagation on the "
    "reference's smallG graph, 5 deterministic sweeps (most-frequent "
    "neighbour label, ties to the smallest), hash-checked against the "
    "sweep loop unrolled in SQL — per-vertex labels verified exactly, "
    "like q_graph_kcore_smallg. The general operator "
    "(graph.label_propagation) takes rounds as a parameter; its "
    "two-level partial-agg vote never shuffles the raw edge fanout.",
)
def q_graph_labelprop_smallg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.graph import label_propagation

    return label_propagation(read_edge_list(spark, _SMALLG), rounds=_LABELPROP_ROUNDS)


@register(
    "q_graph_assortativity_smallg",
    oracle=f"""
    WITH raw AS (SELECT src, dst FROM read_csv('{_SMALLG}', delim=' ',
                 header=false, columns={{'src': 'BIGINT', 'dst': 'BIGINT'}})),
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM raw WHERE src <> dst),
    e AS (SELECT a AS src, b AS dst FROM und
          UNION ALL SELECT b AS src, a AS dst FROM und),
    deg AS (SELECT src AS id, COUNT(*) AS d FROM e GROUP BY src)
    SELECT COUNT(*) AS n_directed_edges,
           ROUND(CORR(da.d, db.d), 6) AS assortativity
    FROM e JOIN deg da ON da.id = e.src JOIN deg db ON db.id = e.dst
    """,
    doc="Degree assortativity (Newman 2002) on smallG: Pearson "
    "correlation of endpoint degrees over the symmetric edge list — "
    "positive means hubs link hubs. Degrees broadcast back onto the "
    "edges, one single-pass moment aggregate (the q_stats_corr "
    "machinery applied to graph structure).",
)
def q_graph_assortativity_smallg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.graph import undirected_edges

    sym = undirected_edges(read_edge_list(spark, _SMALLG))
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("id").alias("src"), F.col("d").alias("da"))
    db = deg.select(F.col("id").alias("dst"), F.col("d").alias("db"))
    return (
        sym.join(F.broadcast(da), "src")
        .join(F.broadcast(db), "dst")
        .agg(
            F.count(F.lit(1)).alias("n_directed_edges"),
            F.round(F.corr("da", "db"), 6).alias("assortativity"),
        )
    )


@register(
    "q_graph_clustering_smallg",
    oracle=f"""
    WITH e AS (SELECT src, dst FROM read_csv('{_SMALLG}', delim=' ',
                 header=false, columns={{'src': 'BIGINT', 'dst': 'BIGINT'}})),
    canon AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
              FROM e WHERE src <> dst),
    sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM canon
         UNION ALL SELECT v AS src, u AS dst FROM canon),
    deg AS (SELECT src AS id, COUNT(*) AS degree FROM sym GROUP BY src),
    tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM canon e1
            JOIN canon e2 ON e2.u = e1.v
            JOIN canon e3 ON e3.u = e1.u AND e3.v = e2.v),
    x AS (SELECT unnest([a, b, c]) AS id FROM tri),
    t AS (SELECT id, COUNT(*) AS n_tri FROM x GROUP BY id)
    SELECT deg.id, deg.degree, COALESCE(t.n_tri, 0) AS n_triangles,
           CASE WHEN deg.degree >= 2
                THEN ROUND(COALESCE(t.n_tri, 0) * 2.0
                           / (deg.degree * (deg.degree - 1)), 6)
                ELSE 0.0 END AS clustering_coeff
    FROM deg LEFT JOIN t ON t.id = deg.id
    """,
    doc="Per-vertex local clustering coefficient on smallG: "
    "2*triangles / (deg*(deg-1)), triangles from the degree-ordered "
    "compact-forward join (shared with q_graph_triangles_smallg), "
    "degrees one exchange-free aggregate over the symmetric edge "
    "table. The transitivity profile behind community-structure "
    "screening.",
)
def q_graph_clustering_smallg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.graph import triangle_counts, undirected_edges

    edges = read_edge_list(spark, _SMALLG)
    sym = undirected_edges(edges)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("degree"))
    tri = triangle_counts(edges)
    coeff = F.when(
        F.col("degree") >= 2,
        F.round(
            F.coalesce(F.col("n_triangles"), F.lit(0)) * 2.0
            / (F.col("degree") * (F.col("degree") - 1)),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(tri, "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            coeff.alias("clustering_coeff"),
        )
    )


_LINKPRED_TOP = 50


@register(
    "q_graph_linkpred_smallg",
    oracle=f"""
    WITH raw AS (SELECT src, dst FROM read_csv('{_SMALLG}', delim=' ',
                 header=false, columns={{'src': 'BIGINT', 'dst': 'BIGINT'}})),
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM raw WHERE src <> dst),
    e AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
         UNION ALL SELECT b AS src, a AS dst FROM und),
    deg AS (SELECT src AS id, COUNT(*) AS d FROM e GROUP BY src),
    wedge AS (
      SELECT e1.dst AS a, e2.dst AS b, COUNT(*) AS cn
      FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
      GROUP BY a, b),
    nonedge AS (
      SELECT w.a, w.b, w.cn FROM wedge w
      LEFT JOIN und ON und.a = w.a AND und.b = w.b
      WHERE und.a IS NULL)
    SELECT a, b, cn,
           ROUND(cn * 1.0 / (da.d + db.d - cn), 6) AS jaccard
    FROM nonedge JOIN deg da ON da.id = a JOIN deg db ON db.id = b
    ORDER BY cn DESC, a, b LIMIT {_LINKPRED_TOP}
    """,
    doc="Link prediction on smallG: common-neighbour counts via the "
    "wedge self-join (bounded by sum of degree² — the triangle-count "
    "shape), existing edges anti-joined out, neighbourhood-Jaccard "
    "from broadcast degrees, top-50 candidate pairs by "
    "TakeOrderedAndProject. The classic cheap recommender / graph-"
    "completion primitive.",
)
def q_graph_linkpred_smallg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.graph import undirected_edges

    sym = undirected_edges(read_edge_list(spark, _SMALLG))
    canon = sym.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("ca"), F.col("dst").alias("cb")
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    e1 = sym.select(F.col("src").alias("mid"), F.col("dst").alias("a"))
    e2 = sym.select(F.col("src").alias("mid"), F.col("dst").alias("b"))
    wedges = (
        e1.join(e2, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    nonedge = wedges.join(
        canon, (wedges["a"] == canon["ca"]) & (wedges["b"] == canon["cb"]), "left_anti"
    )
    da = deg.select(F.col("id").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("d").alias("db"))
    return (
        nonedge.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            "cn",
            F.round(F.col("cn") / (F.col("da") + F.col("db") - F.col("cn")), 6).alias(
                "jaccard"
            ),
        )
        .orderBy(F.desc("cn"), F.asc("a"), F.asc("b"))
        .limit(_LINKPRED_TOP)
    )


@register(
    "q_graph_triangles_smallg",
    oracle=f"""
    WITH e AS (SELECT src, dst FROM read_csv('{_SMALLG}', delim=' ',
                 header=false, columns={{'src': 'BIGINT', 'dst': 'BIGINT'}})),
    canon AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
              FROM e WHERE src <> dst),
    tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM canon e1
            JOIN canon e2 ON e2.u = e1.v
            JOIN canon e3 ON e3.u = e1.u AND e3.v = e2.v),
    x AS (SELECT unnest([a, b, c]) AS id FROM tri)
    SELECT id, COUNT(*) AS n_triangles FROM x GROUP BY id
    """,
    doc="Per-vertex triangle counts on the reference's smallG via the "
    "degree-ordered compact-forward join (hub edges point INTO the "
    "hub, so wedge fanout stays bounded on skewed graphs). The oracle "
    "counts the same orientation-independent triangle set with a plain "
    "least/greatest id orientation — agreement proves the degree-"
    "ordered plan finds exactly the true triangles.",
)
def q_graph_triangles_smallg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.graph import triangle_counts

    return triangle_counts(read_edge_list(spark, _SMALLG))


_SSSP_ORDERS = 2000  # subgraph window: bounded oracle recursion at any sf
_SSSP_HOPS = 8


@register(
    "q_graph_sssp_cost",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT l_orderkey AS src, l_partkey + {_PART_OFFSET} AS dst,
             MIN(l_quantity) AS w
      FROM lineitem
      WHERE l_orderkey < (SELECT MIN(l_orderkey) + {_SSSP_ORDERS} FROM lineitem)
      GROUP BY 1, 2),
    e AS (SELECT src, dst, w FROM base UNION ALL SELECT dst, src, w FROM base),
    s0 AS (SELECT MIN(l_orderkey) AS s FROM lineitem),
    walk(id, cost, hops) AS (
      SELECT s, CAST(0 AS DOUBLE), 0 FROM s0
      UNION
      SELECT e.dst, walk.cost + e.w, walk.hops + 1
      FROM walk JOIN e ON e.src = walk.id WHERE walk.hops < {_SSSP_HOPS})
    SELECT id, ROUND(MIN(cost), 6) AS cost
    FROM walk GROUP BY id
    """,
    doc="Weighted SSSP (hop-bounded Bellman-Ford, 8 relax rounds) on a "
    "2000-order window of the bipartite graph, weight = min l_quantity "
    "per edge. The oracle enumerates all <=8-hop walks in a recursive "
    "CTE and takes the per-vertex min — exact parity because both "
    "engines accumulate each walk's cost in path order.",
)
def q_graph_sssp_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.graph import sssp

    li = load_table(spark, sf_dir, "lineitem")
    # Deliberate driver-side scalar (NOT a folded scalar subquery): the
    # collected value becomes a PLAN-TIME literal in the window filter
    # below, which Spark pushes into the parquet scan (row-group
    # pruning on l_orderkey). A broadcast-scalar-subquery bound would
    # save this one cheap single-column min job but un-push the
    # predicate and read the whole fact table — the wrong trade at
    # 100 TB. The same value then seeds sssp for free.
    lo = li.agg(F.min("l_orderkey")).collect()[0][0]
    base = (
        li.filter(F.col("l_orderkey") < lo + _SSSP_ORDERS)
        .groupBy(
            F.col("l_orderkey").alias("src"),
            (F.col("l_partkey") + _PART_OFFSET).alias("dst"),
        )
        .agg(F.min("l_quantity").alias("w"))
    )
    sym = base.unionByName(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    # bounded relaxation BY DESIGN (the oracle enumerates <=8-hop
    # walks) — not a truncation to warn about
    res = sssp(sym, source=int(lo), max_hops=_SSSP_HOPS, warn_on_truncation=False)
    return res.select("id", F.round("cost", 6).alias("cost"))


@register(
    "q_graph_pagerank2",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT l_orderkey AS src, l_partkey + {_PART_OFFSET} AS dst
      FROM lineitem),
    verts AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
    n AS (SELECT COUNT(*) AS n FROM verts),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
    pr0 AS (SELECT id, 1.0 / n.n AS pr FROM verts, n),
    c1 AS (SELECT e.dst AS id, SUM(pr0.pr / deg.outdeg) AS csum
           FROM e JOIN deg USING (src) JOIN pr0 ON pr0.id = e.src
           GROUP BY e.dst),
    pr1 AS (SELECT verts.id, 0.15 / n.n + 0.85 * COALESCE(c1.csum, 0) AS pr
            FROM verts CROSS JOIN n LEFT JOIN c1 ON verts.id = c1.id),
    c2 AS (SELECT e.dst AS id, SUM(pr1.pr / deg.outdeg) AS csum
           FROM e JOIN deg USING (src) JOIN pr1 ON pr1.id = e.src
           GROUP BY e.dst),
    pr2 AS (SELECT verts.id, 0.15 / n.n + 0.85 * COALESCE(c2.csum, 0) AS pr
            FROM verts CROSS JOIN n LEFT JOIN c2 ON verts.id = c2.id)
    SELECT id, ROUND(pr * 1000000, 6) AS pr_ppm FROM pr2
    """,
    doc="Two PageRank power iterations on the directed order->part "
    "graph (damping 0.85), oracle = the iterations unrolled as plain "
    "SQL (recursive CTEs cannot aggregate, so bounded unrolling is the "
    "exact-oracle formulation). Scaled to parts-per-million before "
    "rounding so the compare has meaningful precision.",
)
def q_graph_pagerank2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_orderkey").alias("src"), (F.col("l_partkey") + _PART_OFFSET).alias("dst")
    )
    res = pagerank(edges, iterations=2)
    return res.select("id", F.round(F.col("pr") * 1_000_000, 6).alias("pr_ppm"))


_HARMONIC_LCM = 360360  # lcm(1..13), and ALSO divisible by 14
# (360360 = 14 * 25740): every 1/dist term up to the diameter scales to
# an exact integer, so both engines sum integers and divide ONCE —
# no float-summation-order drift inside the value hash.


@register(
    "q_graph_harmonic_smallg",
    oracle=f"""
    WITH RECURSIVE e AS (SELECT src, dst FROM read_csv('{_SMALLG}', delim=' ',
                 header=false, columns={{'src': 'BIGINT', 'dst': 'BIGINT'}})),
    sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    verts AS (SELECT DISTINCT src AS v FROM sym),
    w(a, b, dist) AS (
      SELECT v, v, CAST(0 AS BIGINT) FROM verts
      UNION
      SELECT w.a, sym.dst, w.dist + 1 FROM w JOIN sym ON sym.src = w.b
      WHERE w.dist < {_SMALLG_DIAM}),
    d AS (SELECT a, b, MIN(dist) AS dist FROM w GROUP BY a, b)
    SELECT a AS id,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
           ROUND(SUM(CASE WHEN dist > 0 THEN {_HARMONIC_LCM} // dist
                          ELSE 0 END) / {_HARMONIC_LCM}.0, 6) AS harmonic
    FROM d GROUP BY a
    """,
    doc="Exact harmonic centrality (sum of 1/dist over reachable "
    "vertices — the centrality that, unlike closeness, stays "
    "well-defined on disconnected graphs) for EVERY vertex of the "
    "reference's smallG, via iterative all-pairs frontier expansion "
    "with per-round anti-joins against the accumulated distance "
    "table. Deliberately O(n^2) and smallG-scoped like the HyperBall "
    "exact twin — at scale the same number comes from the HLL sketch "
    "path (q_graph_hyperball_smallg) or landmark sampling "
    "(q_graph_closeness_landmarks); this query is the family's exact "
    "ground truth. Iterates to _SMALLG_DIAM=14 (the graph diameter — "
    "NOT ecc(0)=13, which on the real smallG would drop the 56 "
    "dist-14 pairs) with an "
    "empty-frontier break. Numeric contract: 1/dist terms are scaled "
    "by 360360 = lcm(1..13), also divisible by 14, so BOTH engines sum "
    "exact integers and divide once — float summation order never "
    "enters the hash.",
)
def q_graph_harmonic_smallg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bfs_mapreduce_spark.operators.graph import undirected_edges

    edges = undirected_edges(read_edge_list(spark, _SMALLG)).transform(_ckpt)
    verts = edges.select(F.col("src").alias("v")).distinct()
    d = verts.select(
        F.col("v").alias("a"), F.col("v").alias("b"),
        F.lit(0).cast("bigint").alias("dist"),
    ).transform(_ckpt)
    frontier = d
    for r in range(1, _SMALLG_DIAM + 1):
        nxt = (
            frontier.join(edges, frontier["b"] == edges["src"])
            .select("a", F.col("dst").alias("b"))
            .distinct()
            .join(d.select("a", "b"), ["a", "b"], "left_anti")
            .select("a", "b", F.lit(r).cast("bigint").alias("dist"))
            .transform(_ckpt_lazy)
        )
        if nxt.count() == 0:
            break
        d = d.unionByName(nxt).transform(_ckpt_lazy)
        frontier = nxt
    scaled = F.when(
        F.col("dist") > 0, F.floor(F.lit(_HARMONIC_LCM) / F.col("dist"))
    ).otherwise(F.lit(0))
    return d.groupBy(F.col("a").alias("id")).agg(
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_reached"),
        F.round(F.sum(scaled) / F.lit(float(_HARMONIC_LCM)), 6).alias("harmonic"),
    )
