"""The benchmark's workloads. Each one generates its inputs at set-up,
checks them against an oracle, and then runs one operation per call
of ``op``, timing each call into a layer of the engine under a span
when a tracer is given."""

from __future__ import annotations

import math
import os
import random
import time
from contextlib import nullcontext
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from bfs_mapreduce_spark.operators.graph import bfs
from bfs_mapreduce_spark.registry import all_queries
from bfs_mapreduce_spark.sources.readers import read_edge_list

from perfbench import gen
from perfbench.oracle import bfs_oracle, level_sizes

# A level whose input frontier is at most this many vertices costs the
# per-round floor, not communication.
FLOOR_FRONTIER = 1_000


def digest(df) -> tuple[int, int]:
    """Row count and order-independent sum of per-row xxhash64 over every
    column: one action that reads the whole result."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def matches_oracle(rows: pd.DataFrame, oracle: dict) -> bool:
    """Every ``(id, dist, path)`` row equals the oracle's, NULLs included."""
    if len(rows) != len(oracle):
        return False
    for v, d, p in rows.itertuples(index=False):
        want = oracle.get(int(v))
        got = (None, None) if pd.isna(d) else (int(d), [int(x) for x in p])
        if want is None or got != tuple(want):
            return False
    return True


def _span(tracer, name: str, op: int):
    return tracer.span(name, op) if tracer is not None else nullcontext()


class BfsWorkload:
    """The paper's query: ``read_edge_list`` → ``bfs(source=0,
    with_paths=True)`` → one action over every output column."""

    min_ops = 2  # measured operations per run, at least

    def __init__(self, n: int, m: int, broadcast_frontier_rows: int):
        self.size = (n, m)
        self.broadcast_frontier_rows = broadcast_frontier_rows

    def setup(self, spark, seed: int, work: str) -> dict:
        src, dst = gen.wide_graph(seed, *self.size)
        self.path = os.path.join(work, "edges.txt")
        gen.write_edge_list(self.path, src, dst)
        self.oracle = bfs_oracle(src, dst, source=0)
        self.expected = None  # digest of the first result that matches the oracle
        self.n_edges = int(src.size)
        sizes = level_sizes(self.oracle)
        return {
            "vertices": len(self.oracle),
            "edges": self.n_edges,
            "levels": len(sizes) - 1,
            "peak_frontier": max(sizes),
            "broadcast_frontier_rows": self.broadcast_frontier_rows,
        }

    def input_rows(self) -> int:
        return self.n_edges

    def op(self, spark, tracer=None, op_id: int = 0) -> tuple[bool, dict]:
        stats: dict = {}
        with _span(tracer, "readers.read_edge_list", op_id):
            edges = read_edge_list(spark, self.path)
        with _span(tracer, "graph.bfs", op_id):
            result = bfs(
                edges,
                source=0,
                with_paths=True,
                broadcast_frontier_rows=self.broadcast_frontier_rows,
                stats=stats,
            )
        with _span(tracer, "graph.result", op_id):
            got = digest(result)
        if self.expected is None:
            if not matches_oracle(result.toPandas(), self.oracle):
                return False, stats
            self.expected = got
        return got == self.expected, stats

    def edge_scan(self, spark) -> float:
        """Seconds to scan and count the edge list alone."""
        t0 = time.perf_counter()
        read_edge_list(spark, self.path).count()
        return time.perf_counter() - t0


# ------------------------------------------------------------------ catalog

QUERIES = (
    "q1_pricing_summary",
    "q5_region_revenue",
    "q_dedup_minhash_lsh",
    "q_similarity_ivfpq_spill",
    "q_text_tfidf",
    "q_scan_snapshot_source",
)

# The catalog tables do not depend on the run's seed, which only
# orders the queries: every seed measures the same data.
CATALOG_SEED = 42


class CatalogWorkload:
    """One pass over six registered queries: each query's ``build``,
    then ``toPandas()`` on the returned DataFrame, checked against the
    query's DuckDB oracle result."""

    # One pass takes longer than a run's measuring time. Over ten runs the
    # spread of a single pass (5%) was no wider than that of a two-pass
    # median (5%), which costs every run another 12 s.
    min_ops = 1

    def __init__(self, n_orders: int, n_docs: int, n_vecs: int):
        self.sizes = (n_orders, n_docs, n_vecs)

    def setup(self, spark, seed: int, work: str) -> dict:
        self.dir = os.path.join(work, "catalog")
        tables = gen.catalog_tables(CATALOG_SEED, *self.sizes)
        gen.write_catalog(self.dir, tables)
        self.rows = sum(t.num_rows for t in tables.values())
        catalog = all_queries()
        self.queries = [catalog[q] for q in QUERIES]
        random.Random(seed).shuffle(self.queries)
        con = duckdb.connect()
        for name in tables:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{self.dir}/{name}.parquet'"
            )
        # q_dedup_minhash_lsh has no oracle: its first result (which must
        # find pairs) is the expected one for every later operation
        self.expected = {
            q.name: con.execute(q.oracle).df() if q.oracle else None for q in self.queries
        }
        con.close()
        return {"order": [q.name for q in self.queries], "rows": self.rows}

    def input_rows(self) -> int:
        return self.rows

    def op(self, spark, tracer=None, op_id: int = 0) -> tuple[bool, dict]:
        ok, seconds = True, {}
        for q in self.queries:
            t0 = time.perf_counter()
            with _span(tracer, q.name + ".build", op_id):
                df = q.build(spark, self.dir)
            with _span(tracer, q.name + ".execute", op_id):
                got = df.toPandas()
            seconds[q.name] = time.perf_counter() - t0
            if self.expected[q.name] is None and len(got):
                self.expected[q.name] = got
            ok &= self.expected[q.name] is not None and frames_equal(got, self.expected[q.name])
        return ok, seconds


def _canon(v):
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (Decimal, np.floating)):
        return float(v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    return v


def _sort_key(row: tuple) -> tuple:
    # floats sort on 9 significant digits so last-ulp differences
    # between engines cannot reorder rows
    return tuple((x is None, format(x, ".9g") if isinstance(x, float) else str(x)) for x in row)


def _cells_equal(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_cells_equal, a, b))
    if isinstance(a, float) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Order-insensitive compare: same column names, same rows, floats
    to a relative tolerance of 1e-9."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = sorted(got.columns)
    a = sorted((tuple(map(_canon, r)) for r in got[cols].itertuples(index=False)), key=_sort_key)
    b = sorted((tuple(map(_canon, r)) for r in want[cols].itertuples(index=False)), key=_sort_key)
    return all(_cells_equal(x, y) for x, y in zip(a, b))


WORKLOADS = {
    # Every seed gives 5 levels with a peak frontier of 15,213 vertices,
    # so one round per operation takes the shuffle join and the deferred
    # edge repartition and the others the broadcast join.
    "bfs_wide": lambda: BfsWorkload(n=20_000, m=160_000, broadcast_frontier_rows=10_000),
    "catalog_sf001": lambda: CatalogWorkload(n_orders=15_000, n_docs=500, n_vecs=500),
}
