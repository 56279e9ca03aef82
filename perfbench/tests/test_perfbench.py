"""Self-tests of the benchmark: input determinism, the BFS oracle
against the engine on hand-checked graphs, the statistics rules, and
the metric list against BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.oracle import bfs_oracle, level_sizes  # noqa: E402
from perfbench.stats import percentile, spread, tail_percentile  # noqa: E402
from perfbench.tracer import covered  # noqa: E402


def _edges(pairs):
    a = np.array(pairs, dtype=np.int64)
    return a[:, 0], a[:, 1]


PATH = [(0, 1), (1, 2), (2, 3), (3, 4)]
# 3x3 grid, cells numbered row by row; 4 is the centre
GRID = [(0, 1), (1, 2), (3, 4), (4, 5), (6, 7), (7, 8),
        (0, 3), (3, 6), (1, 4), (4, 7), (2, 5), (5, 8)]
# 5 appears only in a self-loop; 7-8 is a component without the source
ISOLATED = [(0, 1), (1, 2), (5, 5), (7, 8)]


# ------------------------------------------------------------- generator

def test_wide_graph_same_seed_same_bytes(tmp_path):
    for name in ("a", "b"):
        gen.write_edge_list(str(tmp_path / name), *gen.wide_graph(7, 500, 2_000))
    gen.write_edge_list(str(tmp_path / "c"), *gen.wide_graph(8, 500, 2_000))
    assert filecmp.cmp(tmp_path / "a", tmp_path / "b", shallow=False)
    assert not filecmp.cmp(tmp_path / "a", tmp_path / "c", shallow=False)


def test_wide_graph_is_connected_edge_list(tmp_path):
    src, dst = gen.wide_graph(3, 1_000, 4_000)
    assert src.size == dst.size == 4_000
    result = bfs_oracle(src, dst)
    assert len(result) == 1_000
    assert all(d is not None for d, _ in result.values())
    gen.write_edge_list(str(tmp_path / "e"), src, dst)
    lines = (tmp_path / "e").read_text().splitlines()
    assert lines[0] == f"{src[0]} {dst[0]}" and len(lines) == 4_000


def test_wide_graph_seed_keeps_level_sizes():
    sizes = [level_sizes(bfs_oracle(*gen.wide_graph(seed, 1_000, 4_000))) for seed in (1, 2, 3)]
    assert sizes[0] == sizes[1] == sizes[2]
    assert len(sizes[0]) > 3


def test_catalog_same_seed_same_bytes(tmp_path):
    for name in ("a", "b"):
        gen.write_catalog(str(tmp_path / name), gen.catalog_tables(42, 300, 20, 20))
    files = sorted(os.listdir(tmp_path / "a"))
    assert len(files) == 8
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", files, shallow=False)
    assert match == files and not mismatch and not errors


# ---------------------------------------------------------------- oracle

def test_oracle_path():
    got = bfs_oracle(*_edges(PATH))
    assert got[4] == (4, [0, 1, 2, 3, 4])
    assert level_sizes(got) == [1, 1, 1, 1, 1]


def test_oracle_grid_takes_smallest_path():
    got = bfs_oracle(*_edges(GRID))
    assert got[8] == (4, [0, 1, 2, 5, 8])
    assert got[4] == (2, [0, 1, 4])
    assert level_sizes(got) == [1, 2, 3, 2, 1]


def test_oracle_unreachable_is_null():
    got = bfs_oracle(*_edges(ISOLATED))
    assert got[5] == (None, None)
    assert got[7] == got[8] == (None, None)
    assert got[2] == (2, [0, 1, 2])


@pytest.fixture(scope="module")
def spark():
    from bfs_mapreduce_spark.session import get_session

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    session = get_session(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield session
    session.stop()


@pytest.mark.parametrize("pairs", [PATH, GRID, ISOLATED], ids=["path", "grid3x3", "isolated"])
def test_oracle_agrees_with_engine(spark, tmp_path, pairs):
    from bfs_mapreduce_spark.operators.graph import bfs
    from bfs_mapreduce_spark.sources.readers import read_edge_list
    from perfbench.workloads import matches_oracle

    src, dst = _edges(pairs)
    path = str(tmp_path / "edges.txt")
    gen.write_edge_list(path, src, dst)
    result = bfs(read_edge_list(spark, path), source=0, with_paths=True)
    assert matches_oracle(result.toPandas(), bfs_oracle(src, dst))


def test_matches_oracle_rejects_a_wrong_path():
    import pandas as pd

    from perfbench.workloads import matches_oracle

    oracle = bfs_oracle(*_edges(GRID))
    rows = [(v, d, [0, 3, 6, 7, 8] if v == 8 else p) for v, (d, p) in oracle.items()]
    good = pd.DataFrame([(v, d, p) for v, (d, p) in oracle.items()], columns=["id", "dist", "path"])
    assert matches_oracle(good, oracle)
    assert not matches_oracle(pd.DataFrame(rows, columns=["id", "dist", "path"]), oracle)


# ------------------------------------------------------------ statistics

def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(99) == 50
    assert tail_percentile(100) == 90
    assert tail_percentile(1_000) == 99


def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile([3.0], 90) == 3.0


def test_spread_is_iqr_over_median():
    assert spread([10.0] * 10) == 0
    assert spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5
    )


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert covered([], 0, 1) == 0


# --------------------------------------------------------------- metrics

def test_metric_names_match_benchmark_json():
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_with_units_rejects_a_missing_metric():
    from perfbench.metrics import END_TO_END, with_units

    values = dict.fromkeys(END_TO_END, 1.0)
    assert list(with_units(values, "end_to_end")) == list(END_TO_END)
    del values["cpu_s"]
    with pytest.raises(RuntimeError):
        with_units(values, "end_to_end")
