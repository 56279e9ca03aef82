"""Graph-scale benchmark: does per-round BFS cost stay flat as the
graph grows?

Synthesizes the reference's declared graph shapes (Presentazione.pdf
slide 23: mediumG / largeG-class random graphs, absent from its repo)
plus a 10x point, and runs the DataFrame BFS with per-round
instrumentation. Claim under test: per-round cost is fixed overhead +
O(frontier), NOT O(V) or O(E) — the rounds x (floor + communication)
model. ``--directed`` instead runs SCC (FW-BW-Trim, per-phase) and
HyperBall on layered directed graphs of controlled SCC structure.

Usage (from the repo root)::

    python tools/bench_graph_scale.py [--quick] [--directed]
        [--graph NAME:N:M ...] [--reliable] [--with-scc] [--out-dir DIR]

Writes one JSON line per graph to stdout (the BASELINE.md scale-table
and SCALE_graph_x100_r17.json record shape). Staging parquet goes
under ``--out-dir`` (default /tmp/bfs_mapreduce_spark_scale); synthesis
is deterministic per shape.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (name, n_vertices, n_edges) — reference-declared shapes + a 10x point
GRAPHS = [
    ("mediumG-class", 77_000, 905_000),
    ("largeG-class", 325_000, 1_500_000),
    ("largeG-10x", 3_250_000, 15_000_000),
]

# the x100 stress shape (round 17, verdict ask #5): 100x the
# reference's declared largeG — run explicitly via
#   python tools/bench_graph_scale.py --graph largeG-100x:32500000:150000000 --reliable --with-scc
# (not in the default list: it needs SPARK_GRAFT_DRIVER_MEM=48g and
# ~tens of minutes; the driver's per-round bench must stay fast)
GRAPH_100X = ("largeG-100x", 32_500_000, 150_000_000)


def synthesize_graph(name: str, n: int, m: int, out_dir: str) -> str:
    """G(n, m)-style random multigraph with a Hamiltonian backbone so
    BFS reaches every vertex (the reference's graphs are connected).
    Deterministic per (name, n, m); written as parquet in row-group
    sized chunks so the Spark scan parallelizes."""
    if m < n - 1:
        raise ValueError(
            f"graph {name!r}: need m >= n-1 edges for the connectivity "
            f"backbone (got n={n}, m={m})"
        )
    path = os.path.join(out_dir, f"{name}.parquet")
    if os.path.exists(path):
        return path
    # zlib.crc32, not hash(): str hashing is salted per process, and
    # the synthesized graph must be identical across runs
    import zlib

    rng = np.random.default_rng((zlib.crc32(name.encode()) ^ n ^ m) % (2**32))
    if m <= 20_000_000:
        # the original single-shot path, kept bit-identical so the
        # graphs behind every recorded BASELINE.md table re-synthesize
        # unchanged on a clean /tmp
        backbone_src = np.arange(n - 1, dtype=np.int64)
        backbone_dst = backbone_src + 1
        extra = m - (n - 1)
        src = np.concatenate(
            [backbone_src, rng.integers(0, n, size=extra, dtype=np.int64)]
        )
        dst = np.concatenate(
            [backbone_dst, rng.integers(0, n, size=extra, dtype=np.int64)]
        )
        pq.write_table(
            pa.table({"src": src, "dst": dst}), path, row_group_size=1_000_000
        )
        return path
    # chunked writer (round 17): the x100 graph is 150M edge rows —
    # materializing both int64 columns at once costs ~2.4 GB plus the
    # arrow copy; streaming 10M-row chunks bounds synthesis memory at
    # any m, and the backbone rides in the first chunks
    tmp = f"{path}.tmp-{os.getpid()}"
    writer = None
    try:
        emitted_extra = 0
        backbone_done = 0
        chunk_rows = 10_000_000
        while backbone_done < n - 1 or emitted_extra < m - (n - 1):
            bb = min(chunk_rows, (n - 1) - backbone_done)
            src_parts, dst_parts = [], []
            if bb > 0:
                bsrc = np.arange(
                    backbone_done, backbone_done + bb, dtype=np.int64
                )
                src_parts.append(bsrc)
                dst_parts.append(bsrc + 1)
                backbone_done += bb
            ex = min(chunk_rows - bb, (m - (n - 1)) - emitted_extra)
            if ex > 0:
                src_parts.append(rng.integers(0, n, size=ex, dtype=np.int64))
                dst_parts.append(rng.integers(0, n, size=ex, dtype=np.int64))
                emitted_extra += ex
            table = pa.table(
                {
                    "src": np.concatenate(src_parts),
                    "dst": np.concatenate(dst_parts),
                }
            )
            if writer is None:
                writer = pq.ParquetWriter(tmp, table.schema)
            writer.write_table(table, row_group_size=1_000_000)
    finally:
        if writer is not None:
            writer.close()
    os.replace(tmp, path)
    return path


def run_graph_scale(
    spark,
    graphs=None,
    out_dir: str = "/tmp/bfs_mapreduce_spark_scale",
    reliable: bool = False,
    with_scc: bool = False,
) -> Iterator[dict]:
    """Yield one result dict per graph (see module docstring).

    ``reliable=True`` reruns each BFS with a durable checkpoint
    directory (plans/reliable.py): every round's frontier spills to
    parquet instead of executor-memory localCheckpoint blocks, the
    price of surviving executor loss mid-traversal at cluster scale.
    The emitted rows carry ``mode: "reliable"`` so BASELINE.md can
    table the overhead side by side with the default."""
    import contextlib
    import shutil
    import tempfile

    from bfs_mapreduce_spark.operators.graph import bfs
    from bfs_mapreduce_spark.plans.reliable import reliable_checkpoints

    os.makedirs(out_dir, exist_ok=True)
    # warm the BFS machinery so graph #1 doesn't pay codegen/JIT
    toy = spark.createDataFrame([(0, 1), (1, 2)], "src bigint, dst bigint")
    bfs(toy, with_paths=False, reached_only=True).count()

    for name, n, m in graphs or GRAPHS:
        path = synthesize_graph(name, n, m, out_dir)
        edges = spark.read.parquet(path)
        stats: dict = {}
        ckpt_dir = tempfile.mkdtemp(prefix="bfs_reliable_") if reliable else None
        t0 = time.perf_counter()
        with reliable_checkpoints(ckpt_dir) if reliable else contextlib.nullcontext():
            res = bfs(edges, source=0, with_paths=False, reached_only=True, stats=stats)
        n_reached = res.count()
        total = round(time.perf_counter() - t0, 3)
        if ckpt_dir:
            shutil.rmtree(ckpt_dir, ignore_errors=True)
        rounds = stats["rounds"]
        rec = {
            "graph": name,
            "vertices": n,
            "edges": m,
            "mode": "reliable" if reliable else "local",
            "reached": n_reached,
            "rounds": len(rounds),
            "total_sec": total,
            "sec_per_round": round(total / max(len(rounds), 1), 4),
            "round_detail": [
                {"round": r, "frontier": f, "sec": s} for r, f, s in rounds
            ],
        }
        if with_scc:
            # x100 ask (round 17, verdict ask #5): SCC on the SAME
            # edge list (treated as directed: backbone path + random
            # arcs — a G(n, m) digraph at m/n ~ 4.6 has a giant SCC,
            # so trim, color, and backward all do real work),
            # per-phase instrumented
            from pyspark.sql import functions as F

            from bfs_mapreduce_spark.operators.graph import (
                strongly_connected_components,
            )

            sstats = {}
            t1 = time.perf_counter()
            comp = strongly_connected_components(edges, stats=sstats)
            agg = comp.groupBy().agg(
                F.countDistinct("scc_id").alias("n_scc"),
                F.count(F.lit(1)).alias("n_v"),
            ).collect()[0]
            rec["scc_total_sec"] = round(time.perf_counter() - t1, 3)
            rec["scc_count"] = int(agg["n_scc"])
            rec["scc_vertices"] = int(agg["n_v"])
            rec["scc_phases"] = [
                {"pass": p, "phase": ph, "rounds": r, "sec": s}
                for p, ph, r, s in sstats.get("phases", [])
            ]
        yield rec


# (name, width_sccs_per_layer, scc_cycle_size, n_layers, fringe) —
# layered directed graphs with CONTROLLED SCC structure: every SCC is
# a directed cycle (internal diameter = size-1), the condensation is a
# `n_layers`-deep DAG of `width` SCCs per layer, and `fringe` is a
# trailing directed path (pure trim fodder). Expected instrumentation
# signature: trim rounds eat the fringe, the number of FW-BW passes
# tracks condensation depth, and color rounds per pass track (layers
# remaining) x (cycle size) — the min label must walk each cycle.
DIRECTED_GRAPHS = [
    ("dscc-base", 50, 20, 2, 2_000),
    ("dscc-10x-width", 500, 20, 2, 20_000),  # 10x SCCs, same diameter
    ("dscc-2x-diam", 50, 40, 2, 2_000),  # same SCC count, 2x diameter
]


def synthesize_directed_graph(
    name: str, width: int, scc_size: int, layers: int, fringe: int, out_dir: str
) -> str:
    """Layered SCC graph, deterministic per shape; parquet out.

    Layout: layer l occupies blocks [l*width, (l+1)*width); block b is
    the vertex range [b*scc_size, (b+1)*scc_size) forming one directed
    cycle. Each block links forward to two blocks of the next layer
    (condensation stays a layered DAG — no back edges, so no
    accidental SCC merging). The fringe is a directed path hanging off
    the last layer, plus a handful of self-loop-only vertices
    (singleton SCCs, the round-8 regression case)."""
    path = os.path.join(out_dir, f"{name}.parquet")
    if os.path.exists(path):
        return path
    import zlib

    rng = np.random.default_rng(
        (zlib.crc32(name.encode()) ^ width ^ scc_size ^ layers) % (2**32)
    )
    n_blocks = width * layers
    core = n_blocks * scc_size
    srcs, dsts = [], []
    # cycles
    v = np.arange(core, dtype=np.int64)
    block = v // scc_size
    nxt = np.where((v + 1) % scc_size == 0, block * scc_size, v + 1)
    srcs.append(v)
    dsts.append(nxt)
    # inter-layer block links (last cycle vertex -> target block head)
    for l in range(layers - 1):
        for b in range(width):
            src_block = l * width + b
            out_v = src_block * scc_size + scc_size - 1
            for tgt in rng.integers(0, width, size=2):
                tgt_block = (l + 1) * width + int(tgt)
                srcs.append(np.array([out_v], dtype=np.int64))
                dsts.append(np.array([tgt_block * scc_size], dtype=np.int64))
    # shallow DAG fringe: each fringe vertex dangles directly off a
    # random core vertex (depth <= 2), so trim clears it in a couple
    # of rounds — a deliberate contrast with a deep path, which would
    # need O(depth) trim rounds (the docstring's adversarial case, not
    # the object-storage-corpus shape this bench models)
    if fringe:
        fv = core + np.arange(fringe, dtype=np.int64)
        srcs.append(rng.integers(0, core, size=fringe).astype(np.int64))
        dsts.append(fv)
        half = fringe // 2
        srcs.append(fv[:half])
        dsts.append(fv[half : half + half])
    # a few self-loop-only singleton SCCs
    loops = core + fringe + np.arange(5, dtype=np.int64)
    srcs.append(loops)
    dsts.append(loops)
    table = pa.table(
        {"src": np.concatenate(srcs), "dst": np.concatenate(dsts)}
    )
    pq.write_table(table, path, row_group_size=1_000_000)
    return path


def run_directed_scale(
    spark,
    graphs=None,
    hb_rounds: int = 6,
    out_dir: str = "/tmp/bfs_mapreduce_spark_scale",
) -> Iterator[dict]:
    """SCC (FW-BW-Trim, per-phase stats) + HyperBall (sketch-only,
    per-round seconds) on layered directed graphs — the round-7 ask:
    show color rounds track SCC diameter, passes track condensation
    depth, and no phase is super-linear in graph size."""
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.operators.graph import hyperball_round
    from bfs_mapreduce_spark.operators.graph import strongly_connected_components
    from bfs_mapreduce_spark.plans.reliable import ckpt

    os.makedirs(out_dir, exist_ok=True)
    toy = spark.createDataFrame([(0, 1), (1, 0), (1, 2)], "src bigint, dst bigint")
    strongly_connected_components(toy).count()  # warm codegen/JIT

    for name, width, scc_size, layers, fringe in graphs or DIRECTED_GRAPHS:
        path = synthesize_directed_graph(name, width, scc_size, layers, fringe, out_dir)
        edges = spark.read.parquet(path)
        stats: dict = {}
        t0 = time.perf_counter()
        res = strongly_connected_components(edges, max_rounds=100_000, stats=stats)
        sizes = res.groupBy("scc_id").count()
        n_sccs, largest = sizes.agg(
            F.count(F.lit(1)), F.max("count")
        ).first()
        scc_total = round(time.perf_counter() - t0, 3)
        phases = stats["phases"]

        # HyperBall, sketch-only (the scale path; the O(n^2) exact twin
        # is deliberately absent here — that is the whole point)
        verts = (
            edges.select(F.col("src").alias("v"))
            .union(edges.select(F.col("dst").alias("v")))
            .distinct()
        )
        state = verts.groupBy("v").agg(F.hll_sketch_agg("v").alias("sk")).transform(ckpt)
        e = edges.select("src", "dst").transform(ckpt)
        hb_round_secs = []
        for _ in range(hb_rounds):
            t1 = time.perf_counter()
            state = hyperball_round(state, e)
            hb_round_secs.append(round(time.perf_counter() - t1, 3))
        est_pairs = int(
            state.agg(F.sum(F.hll_sketch_estimate("sk"))).first()[0]
        )
        yield {
            "graph": name,
            "width": width,
            "scc_size": scc_size,
            "layers": layers,
            "fringe": fringe,
            "vertices": width * layers * scc_size + fringe + 5,
            "scc_total_sec": scc_total,
            "n_sccs": int(n_sccs),
            "largest_scc": int(largest),
            "passes": max(p for p, _ph, _r, _s in phases),
            "trim_rounds": sum(r for _p, ph, r, _s in phases if ph == "trim"),
            "color_rounds": sum(r for _p, ph, r, _s in phases if ph == "color"),
            "phase_detail": [
                {"pass": p, "phase": ph, "rounds": r, "sec": s}
                for p, ph, r, s in phases
            ],
            "hyperball_rounds": hb_rounds,
            "hyperball_round_secs": hb_round_secs,
            "hyperball_est_pairs_at_r": est_pairs,
        }


def _parse_graph_spec(spec: str) -> tuple[str, int, int]:
    try:
        name, n, m = spec.split(":")
        return name, int(n), int(m)
    except ValueError:
        raise SystemExit(
            f"--graph expects NAME:N_VERTICES:M_EDGES, got {spec!r}"
        ) from None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="bench_graph_scale",
        description="per-round BFS cost vs graph size (JSON line per graph)",
    )
    ap.add_argument("--quick", action="store_true", help="skip the 10x graph")
    ap.add_argument(
        "--directed",
        action="store_true",
        help="bench SCC (FW-BW-Trim per-phase) + HyperBall on layered directed graphs",
    )
    ap.add_argument(
        "--graph",
        action="append",
        metavar="NAME:N:M",
        help="synthesize NAME with N vertices / M edges instead of the defaults (repeatable)",
    )
    ap.add_argument(
        "--reliable",
        action="store_true",
        help="run BFS with durable per-round checkpoints (fault-tolerant "
        "mode) to measure the overhead vs default localCheckpoint",
    )
    ap.add_argument(
        "--with-scc",
        action="store_true",
        help="also run SCC (per-phase instrumented) on "
        "each undirected-bench graph treated as a digraph — the x100 "
        "stress pairing (round 17)",
    )
    ap.add_argument("--out-dir", default="/tmp/bfs_mapreduce_spark_scale")
    args = ap.parse_args(argv)

    from bfs_mapreduce_spark.session import get_session

    spark = get_session(app_name="bench_graph_scale")
    if args.directed:
        graphs = DIRECTED_GRAPHS[:2] if args.quick else DIRECTED_GRAPHS
        runs = run_directed_scale(spark, graphs, out_dir=args.out_dir)
    else:
        if args.graph:
            graphs = [_parse_graph_spec(s) for s in args.graph]
        else:
            graphs = GRAPHS[:2] if args.quick else GRAPHS
        runs = run_graph_scale(
            spark,
            graphs,
            out_dir=args.out_dir,
            reliable=args.reliable,
            with_scc=args.with_scc,
        )
    for rec in runs:
        print(json.dumps(rec))
        sys.stdout.flush()
    return 0


if __name__ == "__main__":
    # the package sits at the repo root, one level above this script
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    raise SystemExit(main())
