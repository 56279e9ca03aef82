"""Scale benchmarks: does per-unit cost stay flat as the data grows?

Two harnesses, both exposed as CLI subcommands (``bench-graph``,
``bench-dedup``) and recorded in BASELINE.md:

- **graph**: synthesizes the reference's declared graph shapes
  (Presentazione.pdf slide 23: mediumG / largeG-class random graphs,
  absent from its repo) plus a 10x point, and runs the DataFrame BFS
  with per-round instrumentation. Claim under test: per-round cost is
  fixed overhead + O(frontier), NOT O(V) or O(E).

- **dedup/similarity**: synthesizes a ``factor``-times documents +
  embeddings corpus (replica tokens keep replicas from being
  near-dups of each other, so the true pair structure grows linearly;
  a planted 500-copy boilerplate cluster keeps the hot-bucket star
  guard exercised; replica-suffixed labels grow the semantic-dedup
  cell count with the corpus, mirroring k ~ corpus/cell_target) and
  times each MinHash-LSH phase (shingle → signature/banding →
  candidates → verify) plus the SemDeDup assign/total. Claim under
  test: no phase's rows or seconds grow super-linearly in the corpus
  factor — candidate generation stays bucket-bounded.

Staging parquet goes under /tmp (never the read-only /root/testdata);
synthesis is deterministic per (shape, factor).
"""

from __future__ import annotations

import os
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
#   bench-graph --graph largeG-100x:32500000:150000000 --reliable --with-scc
# (not in the default list: it needs SPARK_GRAFT_DRIVER_MEM=48g and
# ~tens of minutes; the driver's per-round bench must stay fast)
GRAPH_100X = ("largeG-100x", 32_500_000, 150_000_000)

_HOT_COPIES = 500  # planted boilerplate cluster (every band bucket hot)
_HOT_TEXT = " ".join(
    ["terms of service privacy policy all rights reserved contact us"] * 5
)


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
    import shutil
    import tempfile

    from bfs_mapreduce_spark.operators.graph import bfs

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
        res = bfs(
            edges,
            source=0,
            with_paths=False,
            reached_only=True,
            stats=stats,
            checkpoint_dir=ckpt_dir,
        )
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

    from bfs_mapreduce_spark.operators.graph import strongly_connected_components

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
        state = verts.groupBy("v").agg(F.hll_sketch_agg("v").alias("sk")).localCheckpoint()
        e = edges.select("src", "dst").localCheckpoint()
        hb_round_secs = []
        for _ in range(hb_rounds):
            t1 = time.perf_counter()
            nb = e.join(state.withColumnRenamed("v", "dst"), "dst").select(
                F.col("src").alias("v"), "sk"
            )
            state = (
                state.select("v", "sk")
                .unionByName(nb)
                .groupBy("v")
                .agg(F.hll_union_agg("sk").alias("sk"))
                .localCheckpoint()
            )
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


def synthesize_corpus(sf_dir: str, factor: int, out_dir: str) -> str:
    """Stage a ``factor``-times documents + embeddings corpus under
    ``out_dir`` in the sf-dir layout (so ``load_table``-based queries
    run against it unchanged). Replica k of a document suffixes every
    word with ``_k`` — replicas share no shingles, so the exact
    near-dup pair set is exactly ``factor`` copies of the original's
    (linear growth by construction, the right yardstick for candidate
    linearity). A planted ``_HOT_COPIES``-copy boilerplate cluster
    exercises the hot-bucket star guard at every factor, and the
    source column is skewed (90% one source). Embeddings replicate
    with replica-suffixed labels: cell count grows with the corpus,
    cell sizes stay constant — the k ~ corpus/cell_target posture of
    production SemDeDup."""
    import duckdb

    tag = f"{os.path.basename(sf_dir.rstrip('/'))}_x{factor}"
    root = os.path.join(out_dir, tag)
    if os.path.exists(os.path.join(root, "documents.parquet")) and os.path.exists(
        os.path.join(root, "embeddings.parquet")
    ):
        return root
    os.makedirs(root, exist_ok=True)
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT * FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).df()
    emb = con.execute(
        f"SELECT * FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).df()

    stride = int(docs["doc_id"].max()) + 1
    out = []
    for k in range(factor):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + k * stride
        if k:
            d["text"] = d["text"].map(
                lambda t, _k=k: " ".join(w + f"_{_k}" for w in t.split(" "))
            )
        # skewed source distribution: 90% of rows land on one source
        d.loc[d["doc_id"] % 10 != 0, "source"] = "web"
        out.append(d)
    import pandas as pd

    hot = pd.DataFrame(
        {
            "doc_id": np.arange(_HOT_COPIES, dtype=np.int64) + factor * stride,
            "text": _HOT_TEXT,
            "lang": "en",
            "source": "web",
            "n_chars": len(_HOT_TEXT),
        }
    )
    all_docs = pd.concat(out + [hot], ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(all_docs, preserve_index=False),
        os.path.join(root, "documents.parquet"),
        row_group_size=100_000,
    )

    vstride = int(emb["vec_id"].max()) + 1
    eout = []
    for k in range(factor):
        e = emb.copy()
        e["vec_id"] = e["vec_id"] + k * vstride
        e["label"] = e["label"] + k * 1000  # replica-local cells
        if k:
            # Rotate replica k by a seeded random orthogonal matrix:
            # orthogonality preserves within-replica cosines (and so
            # the replica's dedup structure) EXACTLY, while cross-
            # replica cosines drop to ~N(0, 1/dim) — far below tau.
            # Without a transform, identical replica vectors make all
            # replicas' centroids coincide and every vector collapses
            # into the replica-0 cells; a cyclic np.roll is not enough
            # either (these embeddings are autocorrelated, so small
            # rolls keep cross-replica cosine above tau — measured
            # super-linear dropped counts both ways).
            dim = len(emb["embedding"].iloc[0])
            q, _ = np.linalg.qr(
                np.random.default_rng(1000 + k).standard_normal((dim, dim))
            )
            e["embedding"] = e["embedding"].map(
                lambda v, _q=q: (_q @ np.asarray(v, dtype=np.float64)).astype(
                    np.float32
                )
            )
        eout.append(e)
    all_emb = pd.concat(eout, ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(all_emb, preserve_index=False),
        os.path.join(root, "embeddings.parquet"),
        row_group_size=100_000,
    )
    return root


def _timed(df, label: str) -> dict:
    t0 = time.perf_counter()
    rows = df.count()
    return {"phase": label, "rows": rows, "sec": round(time.perf_counter() - t0, 3)}


def run_dedup_scale(
    spark,
    sf_dir: str = "/root/testdata/sf0.1",
    factors=(1, 10),
    out_dir: str = "/tmp/bfs_mapreduce_spark_scale",
) -> Iterator[dict]:
    """Yield one result dict per corpus factor: MinHash-LSH phase
    timings/row counts (shingle, band table, candidates incl. star
    split, verified pairs, fused end-to-end) and SemDeDup assign /
    end-to-end — the data behind BASELINE.md's linearity table."""
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.operators.dedup_queries import (
        lsh_candidates,
        minhash_band_table,
        minhash_lsh_pairs,
        q_dedup_semantic,
        shingle_arrays,
    )
    from bfs_mapreduce_spark.sources.readers import load_table

    os.makedirs(out_dir, exist_ok=True)
    for factor in factors:
        root = synthesize_corpus(sf_dir, factor, out_dir)
        docs = load_table(spark, root, "documents")
        phases = []
        t0 = time.perf_counter()
        sh = shingle_arrays(docs).localCheckpoint(eager=False)
        phases.append(_timed(sh, "lsh_shingle"))
        bt = minhash_band_table(sh).localCheckpoint(eager=False)
        phases.append(_timed(bt, "lsh_band_table"))
        cand = lsh_candidates(bt).localCheckpoint(eager=False)
        phases.append(_timed(cand, "lsh_candidates"))
        n_star = cand.filter("star").count()
        phases.append(
            _timed(
                minhash_lsh_pairs(docs).filter(F.col("jaccard") >= 0.5),
                "lsh_verified_pairs_fused",
            )
        )
        phased_total = round(time.perf_counter() - t0, 3)

        sem_phases = []
        emb_t0 = time.perf_counter()
        sem = q_dedup_semantic(spark, root).localCheckpoint(eager=False)
        sem_phases.append(_timed(sem, "semantic_total"))
        # The COST phase is the in-cell candidate-pair volume
        # sum(cell_size choose 2) — with cell count scaling with the
        # corpus (constant cell sizes), this is the line that must stay
        # linear. Dropped counts are an OUTPUT property: this corpus's
        # labels don't correlate with vector direction (label-centroid
        # norms ~0.07 vs unit vectors), so cells are near-random
        # buckets and the ~5e-4 random-pair tail at tau=0.4 times
        # ~200-member cells drops a further ~9% of vectors by genuine
        # coincidental near-dups the synthesis itself creates.
        n_cand = (
            sem.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("m"))
            .agg(F.sum(F.expr("m * (m - 1) / 2")).alias("p"))
            .collect()[0]["p"]
        )
        sem_phases.append(
            {"phase": "semantic_candidate_pairs", "rows": int(n_cand), "sec": None}
        )
        sem_phases.append(_timed(sem.filter("keep = 0"), "semantic_dropped"))
        sem_total = round(time.perf_counter() - emb_t0, 3)

        # Exact-substring path (round 10): the heaviest shuffle-per-
        # byte operator in the repo — every char offset's 40-gram
        # fingerprinted, one 16-byte-key shuffle. Candidate volume
        # (gram rows) and every phase must grow linearly with the
        # corpus; a super-linear repeated-fingerprint join would show
        # here first.
        from bfs_mapreduce_spark.operators.dedup_queries import (
            _SUB_L,
            repeated_fingerprints,
            substring_fingerprints,
        )

        sub_phases = []
        sub_t0 = time.perf_counter()
        sdocs = docs.filter(F.length("text") >= _SUB_L)
        g = substring_fingerprints(sdocs).localCheckpoint(eager=False)
        sub_phases.append(_timed(g, "substring_gram_fingerprints"))
        rep = repeated_fingerprints(g).localCheckpoint(eager=False)
        sub_phases.append(_timed(rep, "substring_repeated"))
        hits = g.join(rep, ["h1", "h2"]).groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_dup")
        )
        sub_phases.append(_timed(hits, "substring_doc_hits"))
        sub_total = round(time.perf_counter() - sub_t0, 3)

        yield {
            "sf_dir": sf_dir,
            "factor": factor,
            "corpus": root,
            "lsh_phases": phases,
            "lsh_star_candidates": n_star,
            "lsh_phased_total_sec": phased_total,
            "semantic_phases": sem_phases,
            "semantic_total_sec": sem_total,
            "substring_phases": sub_phases,
            "substring_total_sec": sub_total,
        }


def run_llm_scale(
    spark,
    sf_dir: str = "/root/testdata/sf0.1",
    factors=(1, 10),
    out_dir: str = "/tmp/bfs_mapreduce_spark_scale",
    queries=("q_similarity_ivfpq_spill", "q_text_pack_token_ids", "q_text_unigram_prune"),
) -> Iterator[dict]:
    """10x scale-latent stress pass for the LLM-tier headliners NOT
    already covered by :func:`run_dedup_scale` (round 13, verdict ask
    #6): run each catalog query against the factor-staged corpus
    (:func:`synthesize_corpus` — same replica construction, skewed
    sources, planted hot cluster, orthogonally-rotated embedding
    replicas) and report build seconds (driver-side plan construction
    + any in-plan training actions), execute seconds (the single
    materializing count), and result rows per factor. The linearity
    read: build is corpus-INVARIANT driver cost (per-round argmax
    actions scale with corpus but stay one job per round), execute
    must grow ~linearly in the factor — a super-linear execute names
    its query, and the per-query decomposition localizes it to plan
    time vs data time. local[32] caveat: at factor 10 some constant
    per-stage costs amortize, so mildly SUB-linear execute is the
    expected healthy reading."""
    from bfs_mapreduce_spark.registry import all_queries

    catalog = all_queries()
    os.makedirs(out_dir, exist_ok=True)
    for factor in factors:
        root = synthesize_corpus(sf_dir, factor, out_dir)
        rec = {"sf_dir": sf_dir, "factor": factor, "corpus": root, "queries": {}}
        for name in queries:
            q = catalog[name]
            t0 = time.perf_counter()
            df = q.build(spark, root)
            t1 = time.perf_counter()
            rows = df.count()
            t2 = time.perf_counter()
            spark.catalog.clearCache()  # factor isolation: no cross-run reuse
            rec["queries"][name] = {
                "build_sec": round(t1 - t0, 3),
                "execute_sec": round(t2 - t1, 3),
                "total_sec": round(t2 - t0, 3),
                "rows": rows,
            }
        yield rec


def run_media_corpus_scale(
    spark,
    sf_dir: str = "/root/testdata/sf0.1",
    factors=(1, 10),
    out_dir: str = "/tmp/bfs_mapreduce_spark_scale",
    queries=(
        "q_multimodal_audio_spectrum",
        "q_multimodal_audio_g711",
        "q_multimodal_dedup",
        "q_multimodal_gif_frames",
        "q_multimodal_video_frames",
    ),
) -> Iterator[dict]:
    """Decade-scale stress for the multimodal/codec tier (round 18,
    verdict ask #5 — the one tier with no x10/x100 artifact): run the
    r17-green multimodal catalog queries against the factor-staged
    corpus (:func:`synthesize_corpus` — blobs derive from documents.
    text, so the same staging serves) and report, per query: build /
    execute seconds, result rows, and the EXCHANGE COUNT parsed from
    the executed plan — the ``_fan`` claim under test is "at most one
    exchange, round-robin, blobs move once"; a second exchange
    appearing at factor 10/100 names a replan hazard no sf0.1 plan
    pin can see.

    Each factor record also carries the Arrow-batch envelope measured
    from the WAV blob frame (the widest blob family the audio queries
    ship through mapInPandas): blob count, mean/max blob bytes, post-
    ``_fan`` partition count and max rows per partition, and the
    implied peak in-flight Arrow batch bytes
    ``min(max_rows_per_partition, arrow maxRecordsPerBatch) x
    mean_blob_bytes`` — the number that decides whether a codec task
    OOMs when the corpus grows 100x but the partition count doesn't."""
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.operators.multimodal_queries import (
        _fan,
        _with_wav_blob,
    )
    from bfs_mapreduce_spark.registry import all_queries

    catalog = all_queries()
    os.makedirs(out_dir, exist_ok=True)
    for factor in factors:
        root = synthesize_corpus(sf_dir, factor, out_dir)
        blobs = _fan(_with_wav_blob(spark, root).select("doc_id", "blob"))
        env = (
            blobs.select(
                F.spark_partition_id().alias("pid"),
                F.length("blob").alias("nb"),
            )
            .groupBy("pid")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("nb").alias("bytes"),
                F.max("nb").alias("max_blob"),
            )
            .agg(
                F.count(F.lit(1)).alias("partitions"),
                F.sum("rows").alias("blob_rows"),
                F.max("rows").alias("max_rows_per_part"),
                F.sum("bytes").alias("blob_bytes"),
                F.max("max_blob").alias("max_blob_bytes"),
            )
            .first()
        )
        arrow_cap = int(
            spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        )
        mean_blob = env["blob_bytes"] / max(1, env["blob_rows"])
        rec = {
            "sf_dir": sf_dir,
            "factor": factor,
            "corpus": root,
            "blob_rows": env["blob_rows"],
            "blob_bytes": int(env["blob_bytes"]),
            "max_blob_bytes": int(env["max_blob_bytes"]),
            "fan_partitions": env["partitions"],
            "max_rows_per_part": env["max_rows_per_part"],
            "arrow_max_records_per_batch": arrow_cap,
            "est_peak_arrow_batch_bytes": int(
                min(env["max_rows_per_part"], arrow_cap) * mean_blob
            ),
            "queries": {},
        }
        for name in queries:
            q = catalog[name]
            t0 = time.perf_counter()
            df = q.build(spark, root)
            n_exchange = df._jdf.queryExecution().executedPlan().toString().count(
                "Exchange"
            )
            t1 = time.perf_counter()
            rows = df.count()
            t2 = time.perf_counter()
            spark.catalog.clearCache()  # factor isolation: no cross-run reuse
            rec["queries"][name] = {
                "build_sec": round(t1 - t0, 3),
                "execute_sec": round(t2 - t1, 3),
                "total_sec": round(t2 - t0, 3),
                "rows": rows,
                "plan_exchanges": n_exchange,
            }
        yield rec


# ---------------------------------------------------------------- streaming state pressure

# (events, distinct keys) per micro-batch. Cardinality ramps 1k -> 8k
# while event volume stays constant, then the FINAL batch repeats the
# 8k key set: events keep flowing but no new keys arrive, so a state
# store that is linear in KEYS must not grow on that batch — the
# claim under test (state ~ keys, never ~ events).
STREAM_RAMP = [
    (50_000, 1_000),
    (50_000, 2_000),
    (50_000, 4_000),
    (50_000, 8_000),
    (50_000, 8_000),
]


def synthesize_stream_batches(spark, ramp, out_dir: str) -> str:
    """Stage one parquet file per micro-batch (the file source with
    maxFilesPerTrigger=1 turns each into its own trigger). Batch b's
    events: user_id = i % U_b + 1 (key sets are nested along the ramp,
    so cumulative distinct keys == max U seen), event times packed into
    a 10-minute burst that jumps 4 hours per batch — far past the
    session watermark, so the session leg's eviction is exercised."""
    from pyspark.sql import functions as F

    tag = "-".join(f"{e}x{u}" for e, u in ramp)
    root = os.path.join(out_dir, f"stream_ramp_{tag}")
    done = os.path.join(root, "_STAGED")
    if os.path.exists(done):
        return root
    for b, (events, users) in enumerate(ramp):
        (
            spark.range(events)
            .select(
                (F.col("id") % users + 1).alias("user_id"),
                F.timestamp_seconds(
                    F.lit(1_700_000_000 + b * 14_400) + F.col("id") % 600
                ).alias("ts"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(root, f"batch_{b:03d}.parquet"))
        )
    with open(done, "w") as f:
        f.write("ok")
    return root


def _progress_records(query) -> list[dict]:
    """Per-micro-batch throughput + state-store metrics from the
    query's progress events (the numbers BASELINE.md tables)."""
    import json as _json

    out = []
    for p in query.recentProgress:
        d = p if isinstance(p, dict) else _json.loads(str(p))
        ops = d.get("stateOperators") or [{}]
        so = ops[0]
        ms = (d.get("durationMs") or {}).get("triggerExecution")
        rows_in = d.get("numInputRows") or 0
        out.append(
            {
                "batch": d.get("batchId"),
                "rows_in": rows_in,
                "trigger_ms": ms,
                "rows_per_sec": round(rows_in * 1000.0 / ms, 1) if ms else None,
                "state_rows": so.get("numRowsTotal"),
                "state_rows_updated": so.get("numRowsUpdated"),
                "state_bytes": so.get("memoryUsedBytes"),
            }
        )
    return out


def run_cdc_scale(
    spark,
    sf_dir: str = "/root/testdata/sf0.1",
    factors=(1, 10),
    out_dir: str = "/tmp/bfs_mapreduce_spark_scale",
    cap_mb: float = 0.5,
    n_commits: int = 4,
    files_per_commit: int = 8,
    timeout_s: float = 300.0,
) -> Iterator[dict]:
    """Rate-limited CDC over a factor-staged MULTI-FILE commit history
    (round 14, verdict ask #6 — the streaming half of the 10x stress):
    the factor-N documents corpus lands in a snapshot table as
    ``n_commits`` commits x ``files_per_commit`` files (with manifest
    byte stats, so admission budgets without stat() calls), then two
    measurements:

    1. **Admission walk** — drive the stream reader's offset protocol
       directly (latestOffset/partitions/commit) under
       ``maxBytesPerTrigger = cap_mb`` and record every batch's file
       count and manifest bytes. The per-batch invariant: bytes <=
       cap + one file's overshoot (the reader always admits at least
       one file); batch COUNT must scale ~linearly with corpus bytes
       at a fixed cap — a super-linear batch count would mean the
       planner re-reads history per trigger.
    2. **Stateful consumption** — a real rate-limited stream with a
       ``groupBy(source).count()`` aggregate: per-batch input rows and
       state-store rows from query progress. State rows must stay
       bounded by |sources| (constant across factors), never grow
       with corpus rows or batch count — the state ~ keys claim under
       admission control.
    """
    import tempfile as _tempfile
    import time as _time

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.readers import load_table
    from bfs_mapreduce_spark.sources.snapshot_changes_source import (
        SnapshotChangesStreamReader,
        register_snapshot_changes_source,
    )

    register_snapshot_changes_source(spark)
    cap = int(cap_mb * 1024 * 1024)
    for factor in factors:
        corpus = synthesize_corpus(sf_dir, factor, out_dir)
        # the FULL text rides in the commits: admitted bytes must be
        # real data volume, not a 3-column skeleton
        docs = load_table(spark, corpus, "documents").select(
            "doc_id", "source", "text"
        )
        total_rows = docs.count()
        n_sources = docs.select("source").distinct().count()
        root = _tempfile.mkdtemp(prefix="bfs_mr_cdc_scale_")
        t0 = _time.perf_counter()
        v = 0
        for i in range(n_commits):
            part = docs.filter(
                F.col("doc_id") % n_commits == i
            ).repartition(files_per_commit)
            files = ts.stage_files(part, root)
            v = ts.commit(
                root,
                files,
                base_version=v,
                stats=ts.collect_stats(files, []),
                schema=part.schema.json(),
            )
        commit_wall = round(_time.perf_counter() - t0, 3)

        # 1) admission walk: per-batch files/bytes straight off the
        # reader protocol — deterministic, no Spark query machinery
        m = ts.read_manifest(root)
        bytes_of = {
            p: int((s or {}).get("bytes") or 0)
            for p, s in (m.get("stats") or {}).items()
        }
        rdr = SnapshotChangesStreamReader(
            {
                "path": root,
                "startingVersion": "0",
                "maxBytesPerTrigger": str(cap),
            }
        )
        t1 = _time.perf_counter()
        off = rdr.initialOffset()
        batches = []
        while True:
            nxt = rdr.latestOffset()
            if nxt == off:
                break
            parts = rdr.partitions(off, nxt)
            batches.append(
                {
                    "files": len(parts),
                    "bytes": sum(bytes_of.get(p.path, 0) for p in parts),
                }
            )
            rdr.commit(nxt)
            off = nxt
        walk_wall = round(_time.perf_counter() - t1, 3)
        max_file = max(bytes_of.values()) if bytes_of else 0
        over_cap = [
            i
            for i, b in enumerate(batches)
            if b["bytes"] > cap + max_file
        ]

        # 2) real stream: capped source -> stateful count by source
        ck = _tempfile.mkdtemp(prefix="bfs_mr_cdc_ck_")
        agg = (
            spark.readStream.format("snapshot_changes")
            .option("path", root)
            .option("startingVersion", 0)
            .option("maxBytesPerTrigger", cap)
            .load()
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        qname = f"cdc_scale_{factor}"
        t2 = _time.perf_counter()
        q = (
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ck)
            .trigger(processingTime="0 seconds")
            .start()
        )
        consumed = 0
        state_rows = 0
        per_batch_rows: list[int] = []
        deadline = _time.time() + timeout_s
        seen_batch = set()
        while consumed < total_rows and _time.time() < deadline:
            _time.sleep(0.3)
            for pr in q.recentProgress:
                bid = pr["batchId"]
                if bid in seen_batch:
                    continue
                seen_batch.add(bid)
                rows = int(pr["numInputRows"])
                if rows:
                    per_batch_rows.append(rows)
                consumed += rows
                for so in pr.get("stateOperators") or []:
                    state_rows = max(state_rows, int(so["numRowsTotal"]))
        q.stop()
        stream_wall = round(_time.perf_counter() - t2, 3)
        final = {
            r["source"]: r["n"]
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }
        yield {
            "factor": factor,
            "corpus": corpus,
            "cap_bytes": cap,
            "n_commits": n_commits,
            "files_per_commit": files_per_commit,
            "total_rows": total_rows,
            "total_bytes": sum(bytes_of.values()),
            "commit_wall_sec": commit_wall,
            "walk": {
                "n_batches": len(batches),
                "max_batch_bytes": max(b["bytes"] for b in batches),
                "min_batch_bytes": min(b["bytes"] for b in batches),
                "over_cap_batches": over_cap,
                "wall_sec": walk_wall,
            },
            "stream": {
                "rows_consumed": consumed,
                "n_batches": len(per_batch_rows),
                "max_batch_rows": max(per_batch_rows, default=0),
                "state_rows": state_rows,
                "n_sources": n_sources,
                "sum_final_counts": sum(final.values()),
                "wall_sec": stream_wall,
            },
        }


STATE_STORE_PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider",
}


def run_stream_scale(
    spark,
    ramp=STREAM_RAMP,
    out_dir: str = "/tmp/bfs_mapreduce_spark_scale",
    state_store: str = "hdfs",
) -> Iterator[dict]:
    """Streaming state-store pressure under a key-cardinality ramp
    (the bench-dedup pattern applied to streaming): two stateful
    operators over the same staged micro-batches, per-batch
    rows/s + state rows + state bytes from query progress.

    - ``running_user_counts`` (applyInPandasWithState): state is one
      row per EVER-SEEN key — must track cumulative distinct keys
      exactly and stay flat on the repeated-keys batch.
    - ``session_counts`` (session_window + watermark): state is one
      row per ACTIVE session — the 4-hour inter-batch jump drives the
      watermark past each batch's sessions, so eviction keeps state
      bounded by the CURRENT batch's key count, not history.

    ``state_store`` selects the provider: ``hdfs`` (Spark's default
    in-JVM-heap map, snapshot per checkpoint) or ``rocksdb`` (native
    off-heap store with incremental changelog upload). The semantics
    — and therefore every state-rows assertion — are identical by
    contract; what changes is the SCALE envelope: HDFSBacked caps
    state at executor heap, RocksDB spills to local disk, which is
    what a 100 TB stream with hundreds of millions of keys needs.
    The per-batch metrics let BASELINE.md compare both backends on
    the same ramp instead of asserting the folklore.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.streaming.windows import (
        running_user_counts,
        session_counts,
    )

    os.makedirs(out_dir, exist_ok=True)
    root = synthesize_stream_batches(spark, ramp, out_dir)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, STATE_STORE_PROVIDERS[state_store])

    def read_stream():
        return (
            spark.readStream.schema("user_id bigint, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(root, "batch_*.parquet"))
        )

    legs = [
        ("running_user_counts", lambda s: running_user_counts(s), "update"),
        ("session_counts", lambda s: session_counts(s), "append"),
    ]
    cum = []
    seen = 0
    for _e, u in ramp:
        seen = max(seen, u)  # nested key sets: cumulative distinct == max U
        cum.append(seen)
    try:
        for name, build, mode in legs:
            sink = os.path.join(out_dir, f"stream_sink_{name}")
            _shutil.rmtree(sink, ignore_errors=True)
            with _tempfile.TemporaryDirectory(prefix="bfs_mr_ramp_ckpt_") as ckpt:
                q = (
                    build(read_stream())
                    .writeStream.foreachBatch(
                        lambda batch, _i, s=sink: batch.write.mode("append").parquet(s)
                    )
                    .outputMode(mode)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                yield {
                    "op": name,
                    "state_store": state_store,
                    "ramp": [{"events": e, "keys": u} for e, u in ramp],
                    "cumulative_distinct_keys": cum,
                    "batches": _progress_records(q),
                }
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)


def run_snapshot_scale(
    spark,
    sf_dir: str = "/root/testdata/sf0.1",
    n_files: int = 8,
    reps: int = 3,
) -> Iterator[dict]:
    """Merge-on-read DELETE cost profile over the snapshot table
    format (the BASELINE.md round-10 mask-vs-rewrite table, as a
    reproducible harness): stage orders as ``n_files`` data files,
    then measure — clean read, position-delete write (DELETE WHERE
    status='F', masks every file: the read path's worst case),
    merge-on-read read, compaction (materializes the vectors), and
    the restored clean read. Reads are min-of-``reps``; writes are
    the one-shot costs they are. Emits one JSON-able record per step
    so BASELINE.md rows regenerate instead of being hand-measured."""
    import tempfile as _tempfile
    import time as _time

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.readers import load_table

    root = _tempfile.mkdtemp(prefix="bfs_mr_snap_bench_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    total = orders.count()
    ts.commit(
        root, ts.stage_files(orders.repartition(n_files), root), base_version=0
    )

    def read_once():
        ts.read(spark, root).agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        ).collect()

    def best(fn):
        b = None
        for _ in range(reps):
            t0 = _time.monotonic()
            fn()
            dt = _time.monotonic() - t0
            b = dt if b is None or dt < b else b
        return round(b, 3)

    read_once()  # warm the staged files once before any timing
    yield {"step": "clean_read", "sec": best(read_once), "rows": total}
    t0 = _time.monotonic()
    _v, n_del, masked = ts.delete_where(spark, root, "o_orderstatus = 'F'")
    yield {
        "step": "delete_write",
        "sec": round(_time.monotonic() - t0, 3),
        "rows_masked": n_del,
        "files_masked": len(masked),
    }
    yield {"step": "mor_read", "sec": best(read_once), "rows": total - n_del}
    t0 = _time.monotonic()
    ts.compact(spark, root, n_files=n_files)
    yield {"step": "compact", "sec": round(_time.monotonic() - t0, 3)}
    yield {
        "step": "post_compact_read",
        "sec": best(read_once),
        "rows": total - n_del,
    }
    # ---- round 11: the UPSERT verbs' write-cost contrast on the same
    # table — merge-on-read upsert_eq (O(batch) bytes, one equality
    # delete + append, readers pay a key join) vs copy-on-write
    # merge_into (rewrites every touched file; scattered keys touch
    # ALL files, the realistic worst case)
    live = ts.read(spark, root)
    batch = (
        live.filter(F.col("o_orderkey") % 10 == 3)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .localCheckpoint()
    )
    n_batch = batch.count()
    t0 = _time.monotonic()
    ts.upsert_eq(spark, root, batch, ["o_orderkey"])
    yield {
        "step": "upsert_eq_write",
        "sec": round(_time.monotonic() - t0, 3),
        "rows_upserted": n_batch,
    }
    yield {
        "step": "post_upsert_read",
        "sec": best(read_once),
        "rows": total - n_del,
    }
    batch2 = (
        ts.read(spark, root)
        .filter(F.col("o_orderkey") % 10 == 7)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .localCheckpoint()
    )
    n_batch2 = batch2.count()
    t0 = _time.monotonic()
    ts.merge_into(spark, root, batch2, ["o_orderkey"], target_files=n_files)
    yield {
        "step": "merge_cow_write",
        "sec": round(_time.monotonic() - t0, 3),
        "rows_upserted": n_batch2,
    }
    yield {
        "step": "post_merge_read",
        "sec": best(read_once),
        "rows": total - n_del,
    }


def run_media_scale(sf_dir: str = "/root/testdata/sf0.1") -> Iterator[dict]:
    """Codec-tier throughput (round 11, verdict ask #7): MB/s/core for
    every from-spec codec in the configurations the multimodal catalog
    queries actually run, plus a realistic 320x240 photographic frame.
    Single-core by construction — the queries run these codecs inside
    Arrow-batched mapInPandas where per-file parallelism multiplies
    the per-core number; the mapInPandas envelope itself is measured
    by the parity lines, so the per-core codec rate is the honest
    denominator.

    Also splits q_multimodal_video_frames' per-document pipeline into
    encode / container / decode phases — the round-10 verdict assumed
    the DECODE bit-reader dominated that 37 s parity line; measuring
    is the point.
    """
    import time

    import numpy as np

    from bfs_mapreduce_spark.sources.avi_py import (
        decode_avi_mjpeg_frames,
        encode_avi_mjpeg,
    )
    from bfs_mapreduce_spark.sources.gif_py import (
        decode_gif_frames,
        encode_gif_frames,
    )
    from bfs_mapreduce_spark.sources.jpeg_py import (
        QUANT_LUMA,
        decode_jpeg,
        encode_jpeg,
    )
    from bfs_mapreduce_spark.sources.png_py import decode_png, encode_png

    def best(fn, n=5):
        ts = []
        for _ in range(n):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return min(ts)

    rng = np.random.default_rng(7)
    w, h = 320, 240
    grad = np.linspace(0, 255, w, dtype=np.float64)
    img = (
        np.tile(grad, (h, 1))[:, :, None] + rng.integers(0, 40, (h, w, 3))
    ).clip(0, 255).astype(np.uint8)
    raw = img.tobytes()
    px_mb = w * h * 3 / 1e6

    for name, enc, dec in (
        (
            "jpeg_baseline_320x240",
            lambda: encode_jpeg(w, h, raw, subsample="420"),
            lambda b: decode_jpeg(b),
        ),
        (
            "jpeg_progressive_320x240",
            lambda: encode_jpeg(w, h, raw, subsample="420", progressive=True),
            lambda b: decode_jpeg(b),
        ),
        (
            "png_320x240",
            lambda: encode_png(w, h, raw),
            lambda b: decode_png(b),
        ),
    ):
        blob = enc()
        e = best(enc)
        d = best(lambda: dec(blob))
        yield {
            "codec": name,
            "blob_bytes": len(blob),
            "encode_sec": round(e, 4),
            "decode_sec": round(d, 4),
            "encode_px_mb_s": round(px_mb / e, 2),
            "decode_px_mb_s": round(px_mb / d, 2),
        }

    # GIF in the animation-query shape: 64-color 48x32, 4 frames
    gw, gh, frames = 48, 32, 4
    base = (rng.integers(0, 4, (gh, gw, 3)) * 64).astype(np.uint8)
    gframes = [np.roll(base, f, axis=1).tobytes() for f in range(frames)]
    gblob = encode_gif_frames(gw, gh, gframes)
    ge = best(lambda: encode_gif_frames(gw, gh, gframes))
    gd = best(lambda: decode_gif_frames(gblob))
    gpx = gw * gh * 3 * frames / 1e6
    yield {
        "codec": "gif_anim_48x32x4",
        "blob_bytes": len(gblob),
        "encode_sec": round(ge, 4),
        "decode_sec": round(gd, 4),
        "encode_px_mb_s": round(gpx / ge, 2),
        "decode_px_mb_s": round(gpx / gd, 2),
    }

    # The video query's EXACT per-document pipeline, phase-split
    ql = QUANT_LUMA.copy()
    ql[0, 0] = 8
    g8 = bytes(range(100, 108))
    jpegs = []
    for f in range(4):
        rot = g8[f:] + g8[:f]
        blk = np.frombuffer(rot, dtype=np.uint8).reshape(2, 4)
        plane = np.repeat(np.repeat(blk, 8, axis=0), 8, axis=1)
        rgb = np.repeat(plane[:, :, None], 3, axis=2)
        jpegs.append(
            encode_jpeg(
                32, 16, rgb.tobytes(), subsample="420",
                quant_luma=ql, restart_interval=1,
            )
        )

    def enc_phase():
        for f in range(4):
            rot = g8[f:] + g8[:f]
            blk = np.frombuffer(rot, dtype=np.uint8).reshape(2, 4)
            plane = np.repeat(np.repeat(blk, 8, axis=0), 8, axis=1)
            rgb = np.repeat(plane[:, :, None], 3, axis=2)
            encode_jpeg(
                32, 16, rgb.tobytes(), subsample="420",
                quant_luma=ql, restart_interval=1,
            )

    avi = encode_avi_mjpeg(32, 16, jpegs)
    e = best(enc_phase, n=20)
    c = best(lambda: encode_avi_mjpeg(32, 16, jpegs), n=20)
    d = best(lambda: decode_avi_mjpeg_frames(avi), n=20)
    yield {
        "codec": "video_doc_pipeline_32x16x4",
        "blob_bytes": len(avi),
        "jpeg_encode_sec": round(e, 5),
        "container_sec": round(c, 5),
        "decode_sec": round(d, 5),
        "docs_per_sec_per_core": round(1.0 / (e + c + d), 1),
    }


def run_meta_scale(
    n_commits: int = 400,
    files_per_commit: int = 16,
    rows_per_file: int = 64,
    sample: int = 10,
    cadence: int | None = None,
) -> Iterator[dict]:
    """Lakehouse METADATA stress (round 15, verdict ask #3 — the tier
    bench-llm/bench-cdc don't cover): drive the snapshot format to
    ``n_commits`` commits x ``files_per_commit`` tiny files (thousands
    of live files; data bytes are irrelevant, the manifest machinery
    is the thing under test) and measure every driver-side metadata
    phase:

    - **commit latency head vs tail** — the O(new files) append
      contract: a tail commit into a table with thousands of
      accumulated files/segments must not cost more than a head
      commit into an empty one (ratio ~1; superlinear growth here is
      the classic manifest-rewrite trap).
    - **read_manifest full resolution** — the O(table files) driver
      JSON parse every reader pays once per plan.
    - **CDC planning** — SnapshotChangesStreamReader init +
      per-commit additions (must stay O(appended files): raw
      manifests + fresh segments, never a full resolution).
    - **CAS rebase walk** — _check_rebase_safe over K intervening
      appends (op-class: O(K) raw reads) and the file-granular
      _touched_files path (O(K) full resolutions — retry-path only).
    - **rewrite_manifests** — segment collapse, and the resolution
      cost after it.
    - **vacuum** — reference-set sweep expiring the first half.

    Pure driver-side: no SparkSession (files are staged with pyarrow
    directly — commit() is the unit under test, not the writer)."""
    import tempfile as _tempfile
    import time as _time
    import uuid as _uuid

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_changes_source import (
        SnapshotChangesStreamReader,
    )

    root = _tempfile.mkdtemp(prefix="bfs_mr_meta_scale_")
    data = os.path.join(root, "data")
    os.makedirs(data)

    def stage(ci: int) -> list[str]:
        d = os.path.join(data, f"c{ci:05d}_{_uuid.uuid4().hex[:8]}")
        os.makedirs(d)
        out = []
        for fi in range(files_per_commit):
            p = os.path.join(d, f"part-{fi:04d}.parquet")
            base_k = (ci * files_per_commit + fi) * rows_per_file
            _pq.write_table(
                _pa.table({"k": list(range(base_k, base_k + rows_per_file))}),
                p,
            )
            out.append(p)
        return out

    commit_secs: list[float] = []
    v = 0
    t_all = _time.monotonic()
    for ci in range(n_commits):
        files = stage(ci)
        t0 = _time.monotonic()
        v = ts.commit(root, files, base_version=v)
        commit_secs.append(_time.monotonic() - t0)
        if cadence and ci == 0:
            # round 16 (verdict ask #3): the auto manifest-merge
            # cadence under test — every K-th append self-collapses
            # its segment list, so the O(n_segments) path-list growth
            # (the measured 1.57x residual at 1,000 commits) stays
            # bounded. The property commit itself is excluded from
            # the latency samples.
            v = ts.set_property(root, "commit.rewrite-segments-every", cadence)
    def _median(xs: list[float]) -> float:
        ys = sorted(xs)
        return ys[len(ys) // 2]

    # medians, not means: a single GC pause in a 10-commit window must
    # not fake a superlinear tail (the broken-path signal was 10x)
    head = _median(commit_secs[:sample])
    tail = _median(commit_secs[-sample:])
    yield {
        "step": "commits",
        "n_commits": n_commits,
        "files_per_commit": files_per_commit,
        "total_files": n_commits * files_per_commit,
        "sec_total": round(_time.monotonic() - t_all, 3),
        "commit_head_ms": round(head * 1000, 2),
        "commit_tail_ms": round(tail * 1000, 2),
        "tail_over_head": round(tail / head, 2) if head else None,
    }

    t0 = _time.monotonic()
    m = ts.read_manifest(root)
    yield {
        "step": "read_manifest_full",
        "sec": round(_time.monotonic() - t0, 4),
        "n_files": len(m["files"]),
        "n_segments": len(m.get("_segments") or []),
    }

    t0 = _time.monotonic()
    r = SnapshotChangesStreamReader({"path": root, "startingVersion": str(v)})
    t_init = _time.monotonic() - t0
    t0 = _time.monotonic()
    adds = r._additions(v)
    yield {
        "step": "cdc_plan_one_commit",
        "reader_init_sec": round(t_init, 4),
        "additions_sec": round(_time.monotonic() - t0, 5),
        "n_added": len(adds),
    }

    k_back = min(50, n_commits - 1)
    t0 = _time.monotonic()
    ts._check_rebase_safe(root, v - k_back, v, "append_bench", set())
    t_class = _time.monotonic() - t0
    t0 = _time.monotonic()
    touched = set()
    for vv in range(v - k_back + 1, v + 1):
        touched |= ts._touched_files(root, vv)
    yield {
        "step": "cas_rebase_walk",
        "k_intervening": k_back,
        "op_class_sec": round(t_class, 4),
        "file_granular_sec": round(_time.monotonic() - t0, 3),
        "n_touched": len(touched),
    }

    t0 = _time.monotonic()
    v = ts.rewrite_manifests(root)
    t_rw = _time.monotonic() - t0
    t0 = _time.monotonic()
    m2 = ts.read_manifest(root)
    yield {
        "step": "rewrite_manifests",
        "sec": round(t_rw, 3),
        "read_manifest_after_sec": round(_time.monotonic() - t0, 4),
        "n_segments_after": len(m2.get("_segments") or []),
    }

    # one replace so the first half's files become exclusive garbage
    half_files = [
        f for f in m2["files"]
        if int(os.path.basename(os.path.dirname(f))[1:6]) >= n_commits // 2
    ]
    v = ts.commit(root, half_files, base_version=v, replace=True)
    t0 = _time.monotonic()
    deleted = ts.vacuum(root, retain_from=v)
    yield {
        "step": "vacuum",
        "sec": round(_time.monotonic() - t0, 3),
        "n_deleted": len(deleted),
        "n_live": len(ts.read_manifest(root)["files"]),
    }


def run_rowcdc_scale(
    spark,
    sf_dir: str = "/root/testdata/sf0.1",
    factors=(1, 10),
    out_dir: str = "/tmp/bfs_mapreduce_spark_scale",
    n_files: int = 8,
) -> Iterator[dict]:
    """ROW-LEVEL change feed x10 stress (round 15, verdict ask #6 —
    bench-cdc measures file-level CDC only): a factor-staged corpus
    lives through append -> position delete -> upsert -> equality
    delete -> a LATE one-file append + one-file delete, then the
    snapshot_row_changes reader derives each commit's changed rows
    (partitions() planning + the Arrow victim derivation in read(),
    driven in-process — the executor work without sink noise).

    The scale claims measured: per-commit derivation cost tracks the
    COMMIT's touched files/rows (insert ~ new files; position-delete ~
    masked files; eq-delete/upsert ~ their applies-scope — the
    semantic cost of 'mask anywhere', exactly Iceberg's), and the
    LATE one-file delete stays ~constant across factors even though
    the table is 10x bigger — the prior-delete-state replay is scoped
    to the commit's files, never the table."""
    import tempfile as _tempfile
    import time as _time

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.readers import load_table
    from bfs_mapreduce_spark.sources.snapshot_row_changes_source import (
        SnapshotRowChangesStreamReader,
    )

    for factor in factors:
        corpus = synthesize_corpus(sf_dir, factor, out_dir)
        docs = load_table(spark, corpus, "documents").select(
            "doc_id", "source", "text"
        )
        root = _tempfile.mkdtemp(prefix="bfs_mr_rowcdc_scale_")
        v = ts.commit(
            root,
            ts.stage_files(docs.repartition(n_files), root),
            base_version=0,
            schema=docs.schema.json(),
        )
        ts.delete_where(spark, root, "doc_id % 7 = 0")
        src = docs.filter(F.col("doc_id") % 11 == 0).withColumn(
            "source", F.lit("upserted")
        )
        ts.upsert_eq(spark, root, src, ["doc_id"])
        ts.delete_eq(
            spark, root,
            docs.filter(F.col("doc_id") % 13 == 0).select("doc_id").distinct(),
        )
        late = spark.range(10**9, 10**9 + 200).select(
            F.col("id").alias("doc_id"),
            F.lit("late").alias("source"),
            F.lit("late-doc").alias("text"),
        )
        ts.commit(
            root,
            ts.stage_files(late.coalesce(1), root),
            base_version=ts.current_version(root),
        )
        v_last, n_late_del, _ = ts.delete_where(
            spark, root, "doc_id >= 1000000000 AND doc_id % 2 = 0"
        )
        # stream half (capped drain): the whole history through
        # drain_snapshot_row_changes under a small cap — wall clock +
        # number of capped runs at each factor
        from bfs_mapreduce_spark.sources.snapshot_row_changes_source import (
            drain_snapshot_row_changes,
            register_snapshot_row_changes_source,
        )

        register_snapshot_row_changes_source(spark)
        ck = _tempfile.mkdtemp(prefix="bfs_mr_rowcdc_ck_")
        seen = {"rows": 0}
        t0 = _time.monotonic()
        runs = drain_snapshot_row_changes(
            spark, root, ck,
            lambda df, bid: seen.__setitem__(
                "rows", seen["rows"] + df.count()
            ),
            max_files_per_trigger=4,
        )
        yield {
            "factor": factor,
            "step": "capped_drain",
            "max_files_per_trigger": 4,
            "runs": runs,
            "rows_delivered": seen["rows"],
            "wall_sec": round(_time.monotonic() - t0, 2),
        }
        r = SnapshotRowChangesStreamReader(
            {"path": root, "startingVersion": "0"}
        )
        for vv in range(1, v_last + 1):
            op = ts._op_of(root, vv)
            t0 = _time.monotonic()
            parts = r.partitions({"v": vv - 1}, {"v": vv})
            t_plan = _time.monotonic() - t0
            t0 = _time.monotonic()
            rows = 0
            for p in parts:
                for b in r.read(p):
                    rows += b.num_rows
            yield {
                "factor": factor,
                "version": vv,
                "op": op,
                "n_partitions": len(parts),
                "rows_emitted": rows,
                "plan_sec": round(t_plan, 4),
                "derive_sec": round(_time.monotonic() - t0, 3),
            }
