"""Property-based tests (SURVEY §5.2 item 3): random graphs against the
serial oracle; random documents against a pure-Python Jaccard."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bfs_mapreduce_spark.operators.graph import bfs
from tests.graph_oracle import bfs_oracle

edge = st.tuples(st.integers(0, 12), st.integers(0, 12))
edge_lists = st.lists(edge, min_size=1, max_size=25)

_prop_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(edges=edge_lists)
@_prop_settings
def test_bfs_matches_serial_oracle_on_random_graphs(spark, edges):
    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["id"]: (r["dist"], r["path"]) for r in bfs(edges_df).collect()}
    assert got == bfs_oracle(edges)


@given(edges=edge_lists)
@_prop_settings
def test_triangle_counts_match_python_oracle(spark, edges):
    """Degree-ordered compact-forward triangle counting must agree with
    a brute-force Python enumeration on every random graph."""
    from itertools import combinations

    from bfs_mapreduce_spark.operators.graph import triangle_counts

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    expected: dict[int, int] = {}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for v in (a, b, c):
                expected[v] = expected.get(v, 0) + 1
    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["id"]: r["n_triangles"] for r in triangle_counts(edges_df).collect()}
    assert got == expected


weighted_edge = st.tuples(
    st.integers(0, 12), st.integers(0, 12), st.integers(1, 9)
)
weighted_edge_lists = st.lists(weighted_edge, min_size=1, max_size=25)


def _dijkstra_oracle(edges: list[tuple[int, int, int]], source: int) -> dict[int, float]:
    """Serial Dijkstra over the undirected weighted multigraph (min
    weight per parallel edge wins implicitly via relaxation)."""
    import heapq

    adj: dict[int, list[tuple[int, float]]] = {}
    for a, b, w in edges:
        adj.setdefault(a, []).append((b, float(w)))
        adj.setdefault(b, []).append((a, float(w)))
    dist: dict[int, float] = {source: 0.0}
    heap = [(0.0, source)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return dist


@given(edges=weighted_edge_lists)
@_prop_settings
def test_sssp_converges_to_dijkstra_on_random_weighted_graphs(spark, edges):
    """With hops >= |V| (>= any diameter), hop-bounded Bellman-Ford
    must have converged to true shortest-path costs — Dijkstra parity
    on every random weighted graph, not just the hop-bounded prefix
    the catalog query's unrolled-walk oracle checks."""
    from bfs_mapreduce_spark.operators.graph import sssp

    source = edges[0][0]
    n_vertices = len({v for e in edges for v in e[:2]})
    sym = [(a, b, float(w)) for a, b, w in edges] + [
        (b, a, float(w)) for a, b, w in edges
    ]
    edges_df = spark.createDataFrame(sym, "src bigint, dst bigint, w double")
    got = {
        r["id"]: r["cost"]
        for r in sssp(edges_df, source=source, max_hops=n_vertices).collect()
    }
    assert got == _dijkstra_oracle(edges, source)


def test_sssp_warns_loudly_on_truncation(spark, caplog):
    """A hop budget below the graph's depth must produce the loud
    truncation warning (mirroring bfs's contract) — and stay silent
    when the budget covers the graph."""
    import logging

    from bfs_mapreduce_spark.operators.graph import sssp

    # a 6-vertex path: depth 5, so max_hops=2 truncates
    path = [(i, i + 1, 1.0) for i in range(5)]
    sym = path + [(b, a, w) for a, b, w in path]
    edges_df = spark.createDataFrame(sym, "src bigint, dst bigint, w double")
    with caplog.at_level(logging.WARNING, logger="bfs_mapreduce_spark.operators.graph"):
        sssp(edges_df, source=0, max_hops=2).collect()
    assert any("sssp: max_hops=" in r.message for r in caplog.records)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="bfs_mapreduce_spark.operators.graph"):
        got = {r["id"]: r["cost"] for r in sssp(edges_df, source=0, max_hops=8).collect()}
    assert not any("sssp" in r.message for r in caplog.records)
    assert got == {i: float(i) for i in range(6)}


@given(edges=edge_lists, k=st.integers(2, 4))
@_prop_settings
def test_kcore_matches_python_peeling(spark, edges, k):
    """Distributed k-core must equal pure-Python Matula-Beck peeling
    (surviving vertex set AND in-core degrees) on every random graph."""
    from bfs_mapreduce_spark.operators.graph import kcore

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in [v for v, ns in adj.items() if len(ns) < k]:
            for n in adj[v]:
                adj[n].discard(v)
            del adj[v]
            changed = True
    expected = {v: len(ns) for v, ns in adj.items()}
    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["id"]: r["degree"] for r in kcore(edges_df, k).collect()}
    assert got == expected


def _peel_rounds(edges: list[tuple[int, int]], k: int, rounds: int) -> dict[int, int]:
    """Synchronous Python peeling for exactly ``rounds`` rounds: each
    round removes every vertex below degree k at once."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    for _ in range(rounds):
        low = [v for v, ns in adj.items() if len(ns) < k]
        for v in low:
            for n in adj.pop(v):
                if n in adj:
                    adj[n].discard(v)
    return {v: len(ns) for v, ns in adj.items() if ns}


def test_kcore_truncated_budget_applies_last_peel(spark, caplog):
    """A run cut short by max_iters returns exactly max_iters
    synchronous peels, the last one included, and warns: a 20-edge
    path at k=2 keeps vertices 2..18 after two rounds, 3..17 after
    three; a budget past the peeling depth returns the true (empty)
    core without a warning."""
    import logging

    from bfs_mapreduce_spark.operators.graph import kcore

    path = [(i, i + 1) for i in range(20)]
    df = spark.createDataFrame(path, "src bigint, dst bigint")
    for rounds, kept in ((2, range(2, 19)), (3, range(3, 18))):
        caplog.clear()
        with caplog.at_level(logging.WARNING, logger="bfs_mapreduce_spark.operators.graph"):
            got = {r["id"]: r["degree"] for r in kcore(df, 2, max_iters=rounds).collect()}
        assert got == _peel_rounds(path, 2, rounds)
        assert set(got) == set(kept)
        assert any("kcore: max_iters=" in r.message for r in caplog.records)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="bfs_mapreduce_spark.operators.graph"):
        assert kcore(df, 2, max_iters=20).collect() == []
    assert not any("kcore" in r.message for r in caplog.records)


def test_pack_sequences_is_contiguous_per_shard(spark, sf_oracle_dir):
    """Packing invariants per shard: offsets start at 0, every doc
    begins exactly where its predecessor ended (no gaps, no overlaps),
    and bin spans are consistent with the fixed capacity."""
    from bfs_mapreduce_spark.operators.text_queries import (
        _PACK_CAPACITY,
        q_text_pack_sequences,
    )

    rows = q_text_pack_sequences(spark, sf_oracle_dir).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    assert by_source
    for docs in by_source.values():
        docs.sort(key=lambda r: r["doc_id"])
        expect = 0
        for r in docs:
            assert r["start_offset"] == expect, (r["doc_id"], r["start_offset"], expect)
            assert r["bin_first"] == r["start_offset"] // _PACK_CAPACITY
            last_token = max(r["start_offset"], r["start_offset"] + r["n_tokens"] - 1)
            assert r["bin_last"] == last_token // _PACK_CAPACITY
            expect += r["n_tokens"]


word = st.sampled_from(["spark", "table", "row", "agg", "scan", "key", "value"])
texts = st.lists(word, min_size=3, max_size=12).map(" ".join)


@given(a=texts, b=texts)
@_prop_settings
def test_shingle_jaccard_matches_python_reference(spark, a, b):
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.operators.dedup_queries import shingle_rows

    docs = spark.createDataFrame([(0, a), (1, b)], "doc_id bigint, text string")
    rows = shingle_rows(docs).collect()
    got = {0: set(), 1: set()}
    for r in rows:
        got[r["doc_id"]].add(r["s"])

    def ref_shingles(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    assert got[0] == ref_shingles(a)
    assert got[1] == ref_shingles(b)


weighted_edge = st.tuples(
    st.integers(0, 8), st.integers(0, 8), st.integers(1, 9)
)
weighted_lists = st.lists(weighted_edge, min_size=1, max_size=15)


@given(edges=weighted_lists)
@_prop_settings
def test_sssp_matches_hop_bounded_reference(spark, edges):
    from bfs_mapreduce_spark.operators.graph import sssp

    max_hops = 4
    edges = [(s, d, float(w)) for s, d, w in edges]
    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint, w double")
    got = {r["id"]: r["cost"] for r in sssp(edges_df, source=0, max_hops=max_hops).collect()}

    # reference: min cost over walks of <= max_hops hops (dense DP)
    best = {0: 0.0}
    for _ in range(max_hops):
        nxt = dict(best)
        for s, d, w in edges:
            if s in best and best[s] + w < nxt.get(d, float("inf")):
                nxt[d] = best[s] + w
        best = nxt
    assert set(got) == set(best)
    for v, c in best.items():
        assert abs(got[v] - c) < 1e-9, (v, got[v], c)


@given(edges=edge_lists)
@_prop_settings
def test_cc_matches_union_find(spark, edges):
    """Min-label connected components must equal a pure-Python
    union-find on every random graph: one (v, cluster_id) row per
    vertex, cluster_id = component min."""
    from bfs_mapreduce_spark.operators.dedup_queries import connected_components

    e = [(a, b) for a, b in edges if a != b]
    if not e:
        return
    parent: dict[int, int] = {}

    def find(v: int) -> int:
        while parent.setdefault(v, v) != v:
            v = parent[v]
        return v

    for a, b in e:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # the root is the component min
    df = spark.createDataFrame(e, "s bigint, d bigint")
    got = {(r["v"], r["cluster_id"]) for r in connected_components(df).collect()}
    assert got == {(v, find(v)) for v in parent}


def test_cc_loops_warn_on_truncation(spark, caplog):
    """Min-label CC must be LOUD when max_iters exhausts before the
    fixed point (the bfs truncation contract): a silently unconverged
    labeling splits true components."""
    import logging

    from bfs_mapreduce_spark.operators.dedup_queries import connected_components

    path = spark.createDataFrame([(i, i + 1) for i in range(15)], "s bigint, d bigint")
    with caplog.at_level(logging.WARNING):
        connected_components(path, max_iters=1).collect()
    assert any("connected_components:" in r.message for r in caplog.records)


def _lpa_python(edges: list[tuple[int, int]], rounds: int) -> dict[int, int]:
    """Independent synchronous LPA sweep: most frequent neighbour
    label, ties to the smallest label."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    labels = {v: v for v in adj}
    for _ in range(rounds):
        nxt = {}
        for v in adj:
            counts = Counter(labels[u] for u in adj[v])
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[v] = best[0]
        labels = nxt
    return labels


@given(edges=edge_lists, rounds=st.integers(min_value=1, max_value=4))
@_prop_settings
def test_label_propagation_matches_python_sweep(spark, edges, rounds):
    """The distributed synchronous LPA must agree per-vertex with an
    independent single-machine sweep on every random graph — including
    oscillating near-bipartite cases, since both run the identical
    fixed round count."""
    from bfs_mapreduce_spark.operators.graph import label_propagation

    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["id"]: r["label"] for r in label_propagation(edges_df, rounds).collect()}
    assert got == _lpa_python(edges, rounds)


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_jpeg_decoder_rejects_garbage_contractually(blob):
    """Fuzz the JPEG decoder's failure contract: arbitrary bytes (and
    arbitrary bytes behind a valid SOI) must raise ValueError or
    NotImplementedError — never IndexError/struct.error/KeyError or a
    silent wrong image."""
    from bfs_mapreduce_spark.sources.jpeg_py import decode_jpeg

    for candidate in (blob, b"\xff\xd8" + blob):
        try:
            decode_jpeg(candidate)
        except (ValueError, NotImplementedError):
            pass


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_jpeg_roundtrip_bounded_error_on_random_images(w, h, seed):
    """Any image size (including non-multiple-of-8/16) encodes and
    decodes with bounded error under unit quant tables, both gray and
    4:2:0 color."""
    import numpy as np

    from bfs_mapreduce_spark.sources.jpeg_py import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    ones = np.ones((8, 8), dtype=np.int64)
    g = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    _, _, ch, pix = decode_jpeg(
        encode_jpeg(w, h, g.tobytes(), channels=1, quant_luma=ones)
    )
    assert ch == 1
    err = np.abs(np.frombuffer(pix, dtype=np.uint8).astype(int) - g.reshape(-1))
    assert err.max() <= 2, err.max()

    rgb = np.repeat(g[:, :, None], 3, axis=2)  # gray RGB: 4:2:0-safe
    _, _, ch3, pix3 = decode_jpeg(
        encode_jpeg(w, h, rgb.tobytes(), subsample="420", quant_luma=ones,
                    quant_chroma=ones)
    )
    assert ch3 == 3
    err3 = np.abs(
        np.frombuffer(pix3, dtype=np.uint8).astype(int) - rgb.reshape(-1)
    )
    assert err3.max() <= 2, err3.max()


@given(
    data=st.binary(min_size=0, max_size=4000),
    mcs=st.integers(min_value=2, max_value=8),
)
@_prop_settings
def test_gif_lzw_roundtrip_property(data, mcs):
    """Property fuzz of the GIF LZW pair: any byte stream whose
    symbols fit the root-code space must roundtrip exactly — this
    hammers the variable-width schedule (the one subtle part: encoder
    simulates the decoder's table growth), the 4096-entry
    clear-and-reset, and the kwkwk self-reference case."""
    from bfs_mapreduce_spark.sources.gif_py import _lzw_decode, _lzw_encode

    clipped = bytes(b % (1 << mcs) for b in data)
    enc = _lzw_encode(clipped, mcs)
    assert _lzw_decode(enc, mcs, len(clipped)) == clipped
