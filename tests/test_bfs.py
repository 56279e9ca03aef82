"""Golden tests for the BFS operator (SURVEY.md §5.2 item 1).

Goldens come from an independent serial BFS with the spec semantics —
forward path, lexicographic tie-break, NULL dist when unreachable —
run on the reference's shipped datasets plus synthesized fixtures the
reference cannot handle (disconnected graphs hang it, SURVEY §2.9 W2).
"""

import itertools
import random

import pytest
from pyspark.sql import functions as F

from bfs_mapreduce_spark.operators.graph import adjacency, bfs, undirected_edges
from bfs_mapreduce_spark.sources.readers import read_edge_list, reference_graph

from tests.graph_oracle import bfs_oracle, load_edge_list

TINY = reference_graph("tinyG")
SMALL = reference_graph("smallG")

DISCONNECTED = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (6, 7), (8, 8)]
MULTI_EDGE = [(0, 1), (0, 1), (1, 0), (1, 2), (2, 2), (0, 2), (2, 3), (3, 0), (4, 3)]


def run_and_compare(spark, edges, source=0, directed=False):
    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r["id"]: (r["dist"], r["path"])
        for r in bfs(edges_df, source=source, directed=directed).collect()
    }
    want = bfs_oracle(edges, source=source, directed=directed)
    assert got == want


@pytest.mark.parametrize("path", [TINY, SMALL], ids=["tinyG", "smallG"])
def test_reference_datasets_golden(spark, path):
    edges_df = read_edge_list(spark, path)
    got = {r["id"]: (r["dist"], r["path"]) for r in bfs(edges_df).collect()}
    want = bfs_oracle(load_edge_list(path))
    assert got == want


def test_disconnected_graph_null_dist(spark):
    run_and_compare(spark, DISCONNECTED)
    edges_df = spark.createDataFrame(DISCONNECTED, "src bigint, dst bigint")
    rows = {r["id"]: r["dist"] for r in bfs(edges_df).collect()}
    assert rows[1] == 1 and rows[2] == 1
    assert rows[3] is None and rows[6] is None and rows[8] is None


def test_trivial_graphs(spark):
    run_and_compare(spark, [(0, 1)])
    # source-only graph: a single self-loop edge at the source
    run_and_compare(spark, [(0, 0)])


def test_multi_edge_and_self_loops(spark):
    run_and_compare(spark, MULTI_EDGE)


def test_nonzero_source(spark):
    run_and_compare(spark, load_edge_list(TINY), source=5)


def test_directed_bfs(spark):
    edges = [(0, 1), (1, 2), (2, 3), (3, 1), (4, 0)]
    run_and_compare(spark, edges, directed=True)  # 4 unreachable


def test_deterministic_tie_break(spark):
    # two shortest paths to 3: [0,1,3] and [0,2,3] — spec picks [0,1,3]
    edges = [(0, 1), (0, 2), (1, 3), (2, 3)]
    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint")
    rows = {r["id"]: r["path"] for r in bfs(edges_df).collect()}
    assert rows[3] == [0, 1, 3]


def test_adjacency_operator(spark):
    edges_df = spark.createDataFrame([(0, 1), (1, 2), (0, 2), (2, 0)], "src bigint, dst bigint")
    adj = {r["src"]: r["neighbours"] for r in adjacency(edges_df).collect()}
    assert adj == {0: [1, 2], 1: [0, 2], 2: [0, 1]}


def test_undirected_edges_dedup(spark):
    edges_df = spark.createDataFrame([(0, 1), (1, 0), (0, 1), (2, 2)], "src bigint, dst bigint")
    assert undirected_edges(edges_df).count() == 2


# ---------------------------------------------------------------- PageRank


def test_pagerank_matches_python_reference(spark):
    from bfs_mapreduce_spark.operators.graph import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]
    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["id"]: r["pr"] for r in pagerank(edges_df, iterations=20).collect()}

    # independent dense power iteration
    verts = sorted({v for e in edges for v in e})
    out = {v: [d for s, d in edges if s == v] for v in verts}
    pr = {v: 1 / len(verts) for v in verts}
    for _ in range(20):
        nxt = {v: 0.15 / len(verts) for v in verts}
        for u in verts:
            for d in out[u]:
                nxt[d] += 0.85 * pr[u] / len(out[u])
        pr = nxt
    assert got.keys() == pr.keys()
    for v in verts:
        assert abs(got[v] - pr[v]) < 1e-9, (v, got[v], pr[v])


def test_bfs_source_df_and_sources_are_exclusive(spark):
    from bfs_mapreduce_spark.operators.graph import bfs

    edges = spark.createDataFrame([(0, 1)], "src bigint, dst bigint")
    with pytest.raises(ValueError, match="not both"):
        bfs(edges, source_df=edges.agg(F.min("src")), sources=[0, 1])


def test_bfs_source_df_contract(spark):
    """source_df seed contract: >1 column raises; an empty seed frame
    raises (instead of silently returning all-NULL dists) when the row
    count is undeclared."""
    from bfs_mapreduce_spark.operators.graph import bfs

    edges = spark.createDataFrame([(0, 1)], "src bigint, dst bigint")
    with pytest.raises(ValueError, match="exactly one column"):
        bfs(edges, source_df=edges)
    with pytest.raises(ValueError, match="no seed rows"):
        bfs(edges, source_df=edges.filter(F.col("src") < 0).select("src"))


def test_bfs_multi_row_source_df_matches_sources(spark):
    """An N-row seed DataFrame runs multi-source BFS identical to the
    driver-side sources=[...] form — dist to the NEAREST seed — both
    with a declared row count (lazy seed plan) and counted."""
    from bfs_mapreduce_spark.operators.graph import bfs

    # path 0-1-2-3-4-5 plus isolated-ish branch 5-6
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src bigint, dst bigint"
    )
    want = {
        (r["id"], r["dist"])
        for r in bfs(edges, sources=[0, 5], with_paths=False).collect()
    }
    seeds = spark.createDataFrame([(0,), (5,)], "id bigint")
    got_declared = {
        (r["id"], r["dist"])
        for r in bfs(edges, source_df=seeds, source_df_rows=2, with_paths=False).collect()
    }
    got_counted = {
        (r["id"], r["dist"])
        for r in bfs(edges, source_df=seeds, with_paths=False).collect()
    }
    assert want == got_declared == got_counted
    assert (2, 2) in want and (3, 2) in want  # nearest-seed distances


def test_bfs_stats_round_instrumentation(spark):
    from bfs_mapreduce_spark.operators.graph import bfs

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src bigint, dst bigint"
    )
    stats = {}
    bfs(edges, with_paths=False, stats=stats).count()
    rounds = stats["rounds"]
    # 3 discovery rounds + 1 empty terminating round, frontiers 1,1,1,0
    assert [f for _, f, _ in rounds] == [1, 1, 1, 0]
    assert all(sec >= 0 for _, _, sec in rounds)


def _tarjan_scc(edges):
    """Reference SCC labels (iterative Tarjan) — min member per SCC."""
    verts = sorted({v for e in edges for v in e})
    adj = {v: [] for v in verts}
    for a, b in edges:
        adj[a].append(b)
    index, low, on, stack, out = {}, {}, set(), [], {}
    counter = [0]
    for start in verts:
        if start in index:
            continue
        work = [(start, iter(adj[start]))]
        index[start] = low[start] = counter[0]; counter[0] += 1
        stack.append(start); on.add(start)
        while work:
            x, nbrs = work[-1]
            advanced = False
            for w in nbrs:
                if w not in index:
                    index[w] = low[w] = counter[0]; counter[0] += 1
                    stack.append(w); on.add(w)
                    work.append((w, iter(adj[w]))); advanced = True
                    break
                elif w in on:
                    low[x] = min(low[x], index[w])
            if not advanced:
                work.pop()
                if work:
                    low[work[-1][0]] = min(low[work[-1][0]], low[x])
                if low[x] == index[x]:
                    comp = []
                    while True:
                        w = stack.pop(); on.discard(w); comp.append(w)
                        if w == x:
                            break
                    m = min(comp)
                    for w in comp:
                        out[w] = m
    return out


def test_scc_matches_tarjan_on_random_digraphs(spark):
    """strongly_connected_components (FW-BW coloring + trim) must
    produce identical canonical labels (scc_id = min member) to an
    independent sequential Tarjan on seeded random digraphs covering
    cycles, DAG fringes, and disconnected pieces."""
    import random

    from bfs_mapreduce_spark.operators.graph import strongly_connected_components

    rng = random.Random(1234)
    for n, m in ((12, 18), (25, 50), (40, 60)):
        edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})
        # self-loops deliberately KEPT: a vertex whose only edge is a
        # self-loop is a valid singleton SCC and must get an output row
        want = _tarjan_scc(edges)
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        got = {r.v: r.scc_id for r in strongly_connected_components(df).collect()}
        assert got == want, (n, m)


def test_scc_self_loop_only_vertex_is_singleton(spark):
    """A vertex whose ONLY edges are self-loops must still be emitted
    as a singleton SCC (regression: the self-loop filter used to drop
    it from the vertex set entirely)."""
    from bfs_mapreduce_spark.operators.graph import strongly_connected_components

    edges = [(0, 1), (1, 0), (7, 7), (3, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.v: r.scc_id for r in strongly_connected_components(df).collect()}
    assert got == {0: 0, 1: 0, 3: 3, 4: 4, 7: 7}


def test_scc_pure_cycle_and_dag(spark):
    from bfs_mapreduce_spark.operators.graph import strongly_connected_components

    # 5-cycle plus a tail: cycle is one SCC rooted at its min, tail
    # vertices trim away as singletons
    edges = [(i, (i + 1) % 5) for i in range(5)] + [(5, 6), (6, 7), (4, 5)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.v: r.scc_id for r in strongly_connected_components(df).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 6, 7: 7}


def test_scc_truncation_yields_null_not_wrong(spark, caplog):
    """Exhausting max_rounds mid-color-propagation must NEVER extract
    from the non-converged coloring (false roots would get concrete
    WRONG scc_ids): the remainder is labeled NULL with a warning."""
    import logging

    from bfs_mapreduce_spark.operators.graph import strongly_connected_components

    n = 40
    edges = [(i, (i + 1) % n) for i in range(n)]  # one n-cycle: one SCC, min 0
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    with caplog.at_level(logging.WARNING, logger="bfs_mapreduce_spark.operators.graph"):
        out = {
            r.v: r.scc_id
            for r in strongly_connected_components(df, max_rounds=10).collect()
        }
    assert any("max_rounds" in r.message for r in caplog.records)
    assert set(out) == set(range(n))
    assert all(s is None for s in out.values())  # NULL, never a wrong id


def test_auto_edge_partitions_sizing(spark, tmp_path):
    """Edge partitions are sized by input bytes: small file inputs get
    the floor (8) UNLESS the session default is narrower — the session
    default is the hard cap (round-9 contract fix: a user who pinned
    shuffle.partitions below 8 never sees a wider exchange) — and
    in-memory frames (no input files) fall back to the session
    default."""
    from bfs_mapreduce_spark.operators.graph import _auto_edge_partitions

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    small = spark.createDataFrame([(0, 1)], "src bigint, dst bigint")
    assert _auto_edge_partitions(small, directed=False) == default  # no files

    p = str(tmp_path / "edges.parquet")
    spark.range(1000).selectExpr("id AS src", "id + 1 AS dst").write.parquet(p)
    got = _auto_edge_partitions(spark.read.parquet(p), directed=False)
    # tiny file -> floor of 8, hard-capped by the session default (4
    # in this test session, so the cap is what we observe)
    assert got == min(default, 8)

    # the cap: a synthetic huge byte count would exceed the default —
    # verified arithmetically against the same formula constants
    total = 100 * (1 << 40)  # 100 TB
    assert min(default, total // (16 << 20) + 1) == default


def test_scc_deep_cycle_rounds_are_logarithmic(spark, driver_actions):
    """Both SCC propagation phases jump through their pointers after
    the one-hop prefix: a 64-cycle (one SCC, diameter 63) resolves to
    label 0 everywhere with color and backward each well under the
    ~64 rounds a one-hop-per-round walk needs. Outside those rounds a
    pass counts the remaining set once (not again after a trim that
    flagged nothing), seeds color without a cut and leaves the root
    marks' cut to the next eager one: at most 37 driver actions."""
    from bfs_mapreduce_spark.operators.graph import strongly_connected_components

    n = 64
    cyc = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src bigint, dst bigint"
    )
    stats = {}
    res, actions = driver_actions(lambda: strongly_connected_components(cyc, stats=stats))
    got = {r.v: r.scc_id for r in res.collect()}
    assert got == {v: 0 for v in range(n)}
    for phase in ("color", "backward"):
        used = sum(r for _p, ph, r, _s in stats["phases"] if ph == phase)
        assert used < n // 2, (phase, used)
    assert actions <= 37, actions


@pytest.fixture
def driver_actions(spark, monkeypatch):
    """A callable that runs ``fn`` and returns ``(result, actions)``:
    the driver actions counted are ``DataFrame.count``,
    ``DataFrame.isEmpty`` and every EAGER lineage truncation (a lazy
    one is materialized inside the next action)."""
    from bfs_mapreduce_spark.plans import reliable

    n = [0]

    def counting(f, is_action=lambda *a, **k: True):
        def wrapped(*a, **k):
            n[0] += bool(is_action(*a, **k))
            return f(*a, **k)

        return wrapped

    cls = type(spark.range(1))  # the concrete DataFrame class
    monkeypatch.setattr(cls, "count", counting(cls.count))
    monkeypatch.setattr(cls, "isEmpty", counting(cls.isEmpty))
    monkeypatch.setattr(
        reliable,
        "truncate",
        counting(reliable.truncate, lambda df, eager=True, **k: eager),
    )

    def run(fn):
        n[0] = 0
        out = fn()
        return out, n[0]

    return run


def test_convergent_loops_make_one_driver_action_per_round(spark, driver_actions, caplog):
    """sssp, kcore and the SCC trim each run :func:`_fixpoint`, so a
    round costs exactly one driver action: the count of its changed
    rows, which also materializes the round's lazy checkpoint."""
    import logging

    from bfs_mapreduce_spark.operators.graph import (
        kcore,
        sssp,
        strongly_connected_components,
    )

    # sssp on a weighted 12-vertex path: 11 rounds reach vertex 11,
    # round 12 changes nothing
    path = [(i, i + 1, 1.0 + i % 3) for i in range(11)]
    pdf = spark.createDataFrame(path, "src bigint, dst bigint, w double")
    cost = list(itertools.accumulate([0.0] + [w for _s, _d, w in path]))
    got, actions = driver_actions(lambda: sssp(pdf, source=0, max_hops=20))
    assert {r["id"]: r["cost"] for r in got.collect()} == dict(enumerate(cost))
    assert actions == 12

    # truncated with the warning on: 5 rounds plus one probe round
    with caplog.at_level(logging.WARNING, logger="bfs_mapreduce_spark.operators.graph"):
        got, actions = driver_actions(lambda: sssp(pdf, source=0, max_hops=5))
    assert {r["id"]: r["cost"] for r in got.collect()} == dict(enumerate(cost[:6]))
    assert any("sssp: max_hops=5" in r.message for r in caplog.records)
    assert actions == 6

    # kcore on a 20-edge path at k=2: ten rounds peel both ends, the
    # eleventh finds nothing left
    kdf = spark.createDataFrame([(i, i + 1) for i in range(20)], "src bigint, dst bigint")
    got, actions = driver_actions(lambda: kcore(kdf, 2))
    assert got.collect() == []
    assert actions == 11

    # SCC on two directed paths (all DAG fringe): the trim rounds
    # differ, everything outside them is the same fixed per-pass cost
    def scc_path(n):
        stats = {}
        dag = spark.createDataFrame([(i, i + 1) for i in range(n)], "src bigint, dst bigint")
        got, actions = driver_actions(lambda: strongly_connected_components(dag, stats=stats))
        assert {r.v: r.scc_id for r in got.collect()} == {v: v for v in range(n + 1)}
        assert [(p, ph) for p, ph, _r, _s in stats["phases"]] == [(1, "trim")]
        return stats["phases"][0][2], actions

    (short_rounds, short_actions), (long_rounds, long_actions) = scc_path(9), scc_path(15)
    assert (short_rounds, long_rounds) == (6, 9)  # ceil((n + 1) / 2) peels + 1
    assert long_actions - short_actions == long_rounds - short_rounds


def test_source_bytes(spark, tmp_path):
    """``source_bytes`` sums the files behind a parquet frame and is
    None for an in-memory frame."""
    import os

    from bfs_mapreduce_spark.plans.introspect import source_bytes

    assert source_bytes(spark.createDataFrame([(0, 1)], "src bigint, dst bigint")) is None
    p = tmp_path / "edges.parquet"
    spark.range(1000).selectExpr("id AS src", "id + 1 AS dst").write.parquet(str(p))
    files = [f for f in os.listdir(p) if f.endswith(".parquet")]
    want = sum(os.path.getsize(p / f) for f in files)
    assert want > 0
    assert source_bytes(spark.read.parquet(str(p))) == want


@pytest.mark.parametrize("with_paths", [False, True], ids=["dist", "paths"])
def test_bfs_deferred_repartition_swap(spark, with_paths):
    """Shuffle-join rounds: a frontier over broadcast_frontier_rows is
    not broadcast but shuffled onto the adjacency table's hash(src)
    partitioning (the table itself never moves). Force that path with a
    tiny threshold on smallG (its frontiers are larger than
    broadcast_frontier_rows=2) and on a synthetic fixture covering the
    non-reached_only output path, and demand results identical to the
    broadcast-only default."""
    edges_df = read_edge_list(spark, SMALL)
    want = {r["id"]: (r["dist"], r["path"]) for r in bfs(edges_df).collect()}
    got = {
        r["id"]: (r["dist"], r["path"])
        for r in bfs(edges_df, broadcast_frontier_rows=2).collect()
    }
    assert got == want

    dis = spark.createDataFrame(DISCONNECTED, "src bigint, dst bigint")

    def key(r):
        out = [r["id"], r["dist"]]
        if with_paths:
            out.append(tuple(r["path"]) if r["path"] is not None else None)
        return tuple(out)

    base = {key(r) for r in bfs(dis, with_paths=with_paths).collect()}
    swapped = {
        key(r)
        for r in bfs(
            dis, with_paths=with_paths, broadcast_frontier_rows=1
        ).collect()
    }
    assert swapped == base


def _random_multigraph(seed):
    """A seeded random graph on 0..29 plus what bfs must survive:
    repeated edges in both orientations, self-loops, a vertex (40) whose
    only edge is a loop, and a component (50..53) unreachable from 0."""
    rng = random.Random(seed)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(45)]
    edges += rng.sample(edges, 8) + [(b, a) for a, b in rng.sample(edges, 8)]
    edges += [(0, rng.randrange(1, 30)), (7, 7), (40, 40), (50, 51), (51, 52), (53, 52)]
    rng.shuffle(edges)
    return edges


def _nearest_seed_oracle(edges, seeds, directed):
    """bfs_oracle from the nearest of several seeds: a virtual source -1
    with an edge to every seed (paths [-1, seed, ...] order exactly as
    [seed, ...] do), then the virtual hop stripped."""
    out = bfs_oracle(edges + [(-1, s) for s in seeds], source=-1, directed=directed)
    del out[-1]
    return {
        v: (None, None) if d is None else (d - 1, p[1:]) for v, (d, p) in out.items()
    }


# Each case's seed is pinned: it is the case's index from when the
# product also crossed a dedup axis, so every case keeps its graph.
_ORACLE_CASES = [
    (
        8 * d + 4 * p + b,
        f"{'directed' if d else 'undirected'}-{'paths' if p else 'dist'}"
        f"-dup-{'shuffle' if b else 'bcast'}",
        dict(directed=d, with_paths=p)
        | ({"broadcast_frontier_rows": 1} if b else {}),
    )
    for d, p, b in itertools.product([False, True], repeat=3)
] + [
    (16, "reached_only", dict(reached_only=True, broadcast_frontier_rows=1)),
    (17, "sources", dict(sources=[0, 51, 99], broadcast_frontier_rows=1)),
]


@pytest.mark.parametrize(
    "seed,kwargs",
    [(seed, kw) for seed, _, kw in _ORACLE_CASES],
    ids=[name for _, name, _ in _ORACLE_CASES],
)
def test_bfs_matches_oracle_on_random_multigraphs(spark, seed, kwargs):
    """Differential check of bfs against the serial oracle on seeded
    random multigraphs that need no fixture files, across directed x
    with_paths x broadcast-vs-shuffle-join rounds, plus
    reached_only and a multi-source call whose seeds include one in the
    unreachable component and one (99) absent from the edge list."""
    edges = _random_multigraph(seed)
    directed = kwargs.get("directed", False)
    with_paths = kwargs.get("with_paths", True)
    want = _nearest_seed_oracle(edges, kwargs.get("sources", [0]), directed)
    if not with_paths:
        want = {v: (d, None) for v, (d, _) in want.items()}
    if kwargs.get("reached_only"):
        want = {v: dp for v, dp in want.items() if dp[0] is not None}

    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint")
    res = bfs(edges_df, **kwargs)
    assert res.columns == ["id", "dist", *(["path"] if with_paths else [])]
    got = {
        r["id"]: (r["dist"], r["path"] if with_paths else None) for r in res.collect()
    }
    assert got == want


def test_bench_graph_scale_custom_shape(spark, capsys, tmp_path):
    """tools/bench_graph_scale.py emits one JSON line per graph with
    per-round frontier instrumentation (the BASELINE.md scale-table
    repro)."""
    import json

    from tools.bench_graph_scale import main

    rc = main(["--graph", "t:500:2000", "--out-dir", str(tmp_path)])
    assert rc == 0
    recs = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert len(recs) == 1 and recs[0]["graph"] == "t"
    assert recs[0]["reached"] == 500  # backbone keeps it connected
    assert recs[0]["round_detail"][0]["frontier"] >= 1
