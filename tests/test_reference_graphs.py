"""Shape of the reference graphs that ``reference_graph`` resolves to.

The catalog's smallG queries hard-code round counts and encodings that
hold only for a graph of the shape FIXTURES.md §1 documents. These
checks read whichever file the resolver returns, so they run on the
committed stand-ins and, where it is present, on the reference's own
data. Pure Python, no Spark session.
"""

from __future__ import annotations

import os

import pytest

from bfs_mapreduce_spark.operators.graph_queries import (
    _CLOSENESS_LANDMARKS,
    _KCORE_SMALLG_K,
    _KCORE_SMALLG_ROUNDS,
    _SMALLG_DIAM,
    _SMALLG_ECC,
)
from bfs_mapreduce_spark.sources.readers import (
    REFERENCE_DIR_ENV,
    STANDIN_DIR,
    reference_graph,
)

from tests.graph_oracle import bfs_oracle, load_edge_list
from tests.test_properties import _peel_rounds

# FIXTURES.md §1: vertices, edges, ecc(0)
SHAPE = {"tinyG": (13, 15, 2), "smallG": (250, 1_273, _SMALLG_ECC)}


def _dists(edges, source=0):
    return [d for d, _path in bfs_oracle(edges, source=source).values()]


@pytest.mark.parametrize("name", sorted(SHAPE))
def test_reference_graph_shape(name):
    edges = load_edge_list(reference_graph(name))
    n_vertices, n_edges, ecc = SHAPE[name]
    assert all(a != b for a, b in edges), "self-loop"
    assert len({frozenset(e) for e in edges}) == len(edges) == n_edges
    vertices = {v for e in edges for v in e}
    assert len(vertices) == n_vertices
    dist = _dists(edges)
    assert None not in dist, "not connected from 0"
    assert max(dist) == ecc
    # _smallg_oracle pads ids to 3 digits for its lexmin path key
    assert max(vertices) < 1000


def test_smallg_meets_catalog_constants():
    edges = load_edge_list(reference_graph("smallG"))
    vertices = {v for e in edges for v in e}
    # _HB_ROUNDS and the all-pairs harmonic query iterate to the diameter
    assert max(max(_dists(edges, v)) for v in vertices) <= _SMALLG_DIAM
    # the k-core oracle unrolls _KCORE_SMALLG_ROUNDS synchronous peels,
    # which must already reach the (non-empty) fixpoint
    core = _peel_rounds(edges, _KCORE_SMALLG_K, _KCORE_SMALLG_ROUNDS)
    assert core and core == _peel_rounds(edges, _KCORE_SMALLG_K, len(vertices))
    assert set(_CLOSENESS_LANDMARKS) <= vertices


@pytest.mark.parametrize("name", sorted(SHAPE))
def test_standin_matches_generator(name):
    from tools.make_reference_graphs import standin_texts

    path = reference_graph(name)
    if os.path.dirname(path) != STANDIN_DIR:
        pytest.skip(f"{path} is the reference's own file, not a stand-in")
    with open(path, encoding="utf-8", newline="") as f:
        assert f.read() == standin_texts()[f"{name}.txt"]


def test_resolver_prefers_the_reference_dir(tmp_path, monkeypatch, caplog):
    monkeypatch.setenv(REFERENCE_DIR_ENV, str(tmp_path))
    real = str(tmp_path / "tinyG.txt")
    assert reference_graph("tinyG") == os.path.join(STANDIN_DIR, "tinyG.txt")
    assert real in caplog.text
    (tmp_path / "tinyG.txt").write_text("0 1\n")
    assert reference_graph("tinyG") == real
