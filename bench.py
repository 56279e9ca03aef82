"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced to full materialization with a count-collect (no
driver-side row transfer beyond the count), timed wall-clock. Each
query runs $SPARK_GRAFT_BENCH_REPS times (default 3) and reports its
MIN across reps: this host is shared and load-noisy (BASELINE.md
documents a 15.5-22.1 s spread for one commit), and the min is the run
least polluted by foreign load. The headline metric "value" is the sum
of per-query mins (raw seconds, comparable to BENCH_r02..r08).

Host-noise normalization (round 9): the shared host's throughput
swings 1.2-1.4x round-to-round, which twice buried real code-level
wins under slow-host rounds. The CANARY is q1_pricing_summary —
untouched since round 2, so any change in its time is the HOST, not
the code. Reps are interleaved canary/query (the paired A/B
methodology of ``bench.py --ab``: alternate the two workloads
back-to-back so both sample the same load), giving every query group a
canary measured under ITS load window. The JSON additionally carries:

  q1_norm_total  — sum over queries of min_time * (Q1_REF / group
                   canary min): the suite total re-expressed on the
                   reference host where q1 = Q1_REF seconds.
  norm_queries   — the per-query normalized mins.
  canary         — ref value, global min, and per-group mins.

Q1_REF = 0.335 s: q1's min in BENCH_r07.json, the best-documented
idle-host measurement of the unchanged-since-r02 canary (the same
constant the round-8 verdict normalized with). Round-over-round perf
comparisons should read q1_norm_total; "value" stays raw for
continuity.

Round-10 canary fixes (the round-9 verdict's blind spots): one UNTIMED
canary run precedes the timed loop so the first group doesn't absorb
the cold parquet-page read, and q1's own group is normalized by the
canary mins measured in the OTHER groups — q1-as-its-own-canary made
any real q1 regression self-normalize to exactly Q1_REF. The JSON also
carries ``minhash_phases``: per-phase mins (shingle / signature_band /
bucket_candidates / verify) for the suite's biggest line, so a moved
number names its phase.

IVF-PQ training keeps no memo between builds, so every timed rep of
the IVF-PQ queries computes its quantizer and codebook from source.

Round-13 changes (verdict asks #7/#8): q_similarity_ivfpq_spill joins
the headline suite (the ANN tier gets canary-tracked), and the
normalization divisor is now each group's canary MEDIAN (min-of-3 is
itself a noisy order statistic; r12's 0.25-0.43 s per-group spread put
+-15% noise on per-query norms). The JSON's ``canary`` block reports
``basis``, ``spread`` (max/min over the GROUP MEDIANS — the actual
normalization divisors, so one outlier sample cannot dominate it),
``sample_spread`` (raw max/min over every sample, diagnostic), and
``norm_err_pct`` — a round-over-round per-query delta inside that
bar is host noise, not code.
"""

from __future__ import annotations

import json
import os
import sys
import time

# Headline suite: the expensive end of the catalog — every family that
# matters at scale (scan+agg, multi-join, window, dedup, similarity,
# text, as-of, graph), not the trivial projections.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "q_window_topk",
    "q_events_sessionize",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_similarity_topk",
    "q_text_tfidf",
    "q_asof_join",
    "q_graph_bfs_histogram",
    # ANN tier headliner (round 13, verdict ask #7): learned-quantizer
    # IVF-PQ with spill indexing — canary-tracked so the similarity
    # tier's perf moves round-over-round instead of only in parity
    "q_similarity_ivfpq_spill",
    # end-to-end LLM-training-data prep (quality -> dedup -> sample in
    # one shuffle) — the composite number a 100 TB pipeline cares about
    "q_pipeline_prepare",
    # lakehouse headliner (round 14, verdict ask #7): the snapshot
    # format's full write->delete(MoR both kinds)->Arrow-read lifecycle
    # — manifest planning + executor-side delete application get
    # canary-tracked instead of moving only in parity artifacts
    "q_scan_snapshot_source",
]


def _bfs_phase_rep(spark, sf_dir: str) -> list[dict]:
    """One phase-decomposed BFS rep (diagnostic, NOT part of the
    metric): per-round frontier size + wall-clock from the driver
    loop's own stats — the histogram query's cost is the sum of its
    rounds, so a regression localizes to the round (= depth) that
    moved instead of hiding in one number. Mirrors
    q_graph_bfs_histogram's exact configuration."""
    from pyspark.sql import functions as Fn

    from bfs_mapreduce_spark.operators.graph import bfs
    from bfs_mapreduce_spark.operators.graph_queries import _order_part_edges

    edges = _order_part_edges(spark, sf_dir)
    stats: dict = {}
    bfs(
        edges, source_df=edges.agg(Fn.min("src")), source_df_rows=1,
        max_rounds=6, with_paths=False, warn_on_truncation=False,
        reached_only=True, stats=stats,
    )
    return [
        {"round": r, "frontier": n, "sec": round(sec, 4)}
        for r, n, sec in stats.get("rounds", [])
    ]


def _minhash_phase_rep(spark, sf_dir: str) -> list[dict]:
    """One phase-decomposed MinHash-LSH rep (diagnostic, NOT part of
    the metric): shingle → signature/band table → bucket candidates →
    exact-Jaccard verify, each stage materialized behind a lazy
    lineage cut so the next stage's wall-clock is incremental.
    Mirrors q_dedup_minhash_lsh's defaults (64 hashes, r=2, 0.5
    threshold). Exists because BENCH_r09's driver artifact and the
    in-round best-ever for this query sat 40% apart — the per-phase
    mins in the JSON localize which stage moved."""
    from pyspark.sql import functions as Fn

    from bfs_mapreduce_spark.operators.dedup_queries import (
        lsh_candidates,
        minhash_band_table,
        shingle_arrays,
    )
    from bfs_mapreduce_spark.plans.reliable import ckpt_lazy
    from bfs_mapreduce_spark.sources.readers import load_table

    out: list[dict] = []

    def timed(df, label: str):
        t0 = time.perf_counter()
        n = df.count()
        out.append(
            {"phase": label, "rows": n, "sec": round(time.perf_counter() - t0, 4)}
        )
        return df

    docs = load_table(spark, sf_dir, "documents")
    sh = timed(ckpt_lazy(shingle_arrays(docs)), "shingle")
    bt = timed(ckpt_lazy(minhash_band_table(sh)), "signature_band")
    cand = timed(ckpt_lazy(lsh_candidates(bt)), "bucket_candidates")
    sa = sh.select(Fn.col("doc_id").alias("doc_a"), Fn.col("shingles").alias("sh_a"))
    sb = sh.select(Fn.col("doc_id").alias("doc_b"), Fn.col("shingles").alias("sh_b"))
    inter = Fn.size(Fn.array_intersect("sh_a", "sh_b"))
    jac = inter / (Fn.size("sh_a") + Fn.size("sh_b") - inter)
    timed(
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter((jac >= 0.5) | Fn.col("star")),
        "verify",
    )
    return out


def _sign_test_p(wins: int, n: int) -> float:
    """Two-sided exact sign test: P(|X - n/2| >= |wins - n/2|) for
    X ~ Binomial(n, 0.5). Ties are dropped by the caller."""
    from math import comb

    if n == 0:
        return 1.0
    k = max(wins, n - wins)
    p = sum(comb(n, i) for i in range(k, n + 1)) / 2**n * 2
    return min(1.0, round(p, 6))


def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def _paired_summary(pairs: list[dict], old: str = "old", new: str = "new") -> dict:
    """Paired A/B summary over ``pairs`` (each with ``old``/``new``
    samples and their ``delta`` = new - old): median delta, median
    new/old ratio, wins (NEW faster), non-tied pairs and the sign-test
    p over the non-tied pairs."""
    deltas = [p["delta"] for p in pairs]
    wins = sum(1 for d in deltas if d < 0)
    n_eff = sum(1 for d in deltas if d != 0)
    return {
        "median_delta": _median(deltas),
        "median_ratio": _median([p[new] / p[old] for p in pairs]),
        "wins": wins,
        "n_eff": n_eff,
        "sign_test_p": _sign_test_p(wins, n_eff),
    }


def ab_main(old_name: str, new_name: str) -> None:
    """Interleaved in-process A/B (round 14, verdict ask #4 — the
    standard instrument for perf claims under the ~16% canary error
    bar): run OLD and NEW back-to-back ``reps`` times in ONE session,
    alternating the order each pair so neither side systematically
    inherits a warmer cache, and report PAIRED deltas with an exact
    sign test. Same-pair samples share the host's load window, so the
    pairing cancels the drift that makes round-over-round normalized
    deltas unreadable below ~1.5x. Claims in BENCH notes should cite
    this JSON (pairs + p-value), not normalized deltas, for anything
    under 1.5x.

        SPARK_GRAFT_AB_REPS=9 python bench.py --ab q_old q_new
    """
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(3, int(os.environ.get("SPARK_GRAFT_AB_REPS", "7")))

    from bfs_mapreduce_spark.registry import all_queries
    from bfs_mapreduce_spark.session import get_session

    spark = get_session(app_name="bench_ab")
    catalog = all_queries()
    missing = [n for n in (old_name, new_name) if n not in catalog]
    if missing:
        raise SystemExit(f"unknown quer{'y' if len(missing)==1 else 'ies'}: {missing}")

    def run(name: str) -> float:
        t0 = time.perf_counter()
        catalog[name].build(spark, sf_dir).count()
        return round(time.perf_counter() - t0, 4)

    # untimed warmup of both plans (codegen, page cache)
    for n in (old_name, new_name):
        print(f"# warmup {n}", file=sys.stderr)
        run(n)
    pairs: list[dict] = []
    for i in range(reps):
        order = (old_name, new_name) if i % 2 == 0 else (new_name, old_name)
        sample = {}
        for n in order:
            sample[n] = run(n)
        pairs.append(
            {
                "old": sample[old_name],
                "new": sample[new_name],
                "delta": round(sample[new_name] - sample[old_name], 4),
            }
        )
        print(
            f"# pair {i + 1}/{reps}: old={sample[old_name]:.3f}s "
            f"new={sample[new_name]:.3f}s",
            file=sys.stderr,
        )
    s = _paired_summary(pairs)
    print(
        json.dumps(
            {
                "metric": "ab_paired",
                "old": old_name,
                "new": new_name,
                "pairs": pairs,
                "median_delta_sec": round(s["median_delta"], 4),
                "median_ratio_new_over_old": round(s["median_ratio"], 4),
                "new_wins": s["wins"],
                "n_pairs": len(pairs),
                "sign_test_p": s["sign_test_p"],
                "sf_dir": sf_dir,
            }
        )
    )
    spark.stop()


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--ab":
        if len(sys.argv) != 4:
            raise SystemExit("usage: bench.py --ab OLD_QUERY NEW_QUERY")
        ab_main(sys.argv[2], sys.argv[3])
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    from bfs_mapreduce_spark.registry import all_queries
    from bfs_mapreduce_spark.session import get_session

    spark = get_session(app_name="bench")
    catalog = all_queries()

    # Warmup: JVM/JIT, codegen, parquet footers, OS page cache, and the
    # shuffle/window/checkpoint machinery — so measured times are query
    # cost, not first-touch session cost. Not counted in the metric.
    from pyspark.sql import Window
    from pyspark.sql import functions as Fn

    from bfs_mapreduce_spark.plans.reliable import ckpt
    from bfs_mapreduce_spark.sources.readers import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    li = load_table(spark, sf_dir, "lineitem")
    li.groupBy("l_returnflag").count().collect()
    li.select(
        Fn.row_number()
        .over(Window.partitionBy("l_orderkey").orderBy("l_linenumber"))
        .alias("rn")
    ).filter("rn < 0").count()
    ckpt(spark.range(10)).count()
    # warm the iterative machinery (broadcast join / anti-join /
    # checkpoint codegen) on a toy graph
    from bfs_mapreduce_spark.operators.graph import bfs

    toy = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src bigint, dst bigint"
    )
    bfs(toy, with_paths=False).count()
    # Compile every headline plan shape at sf0.001: whole-stage codegen
    # caches on the generated source, which is identical across scale
    # factors — so the sf0.1 timed runs measure execution, not javac.
    # (The LSH 64-MIN-agg plan and the BFS round shapes are the big
    # compiles; a cold first run pays ~1 s of codegen.)
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    # Never warm on the timed dataset itself (when SPARK_GRAFT_SF_DIR IS
    # sf0.001 the "warmup" would quietly pre-run every timed query).
    if os.path.isdir(warm_dir) and os.path.realpath(warm_dir) != os.path.realpath(
        sf_dir.rstrip("/")
    ):
        for name in HEADLINE:
            q = catalog.get(name)
            if q is None:
                continue
            try:
                q.build(spark, warm_dir).count()
            except Exception as ex:  # warmup must never sink the bench
                print(f"# warmup {name}: {type(ex).__name__}: {ex}", file=sys.stderr)

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    CANARY = "q1_pricing_summary"
    Q1_REF = 0.335  # BENCH_r07.json q1 min — idle-host reference (see module doc)

    def run_once(name: str) -> float | None:
        q = catalog.get(name)
        if q is None:
            return None
        # IVF-PQ training has no memo: every rep computes from source
        t0 = time.perf_counter()
        try:
            n = q.build(spark, sf_dir).count()
        except Exception as ex:  # one broken query must not sink the suite's JSON
            print(f"# {name}: FAILED {type(ex).__name__}: {ex}", file=sys.stderr)
            return None
        t = round(time.perf_counter() - t0, 4)
        print(f"# {name}: {t:.3f}s rows={n}", file=sys.stderr)
        return t

    # One UNTIMED canary run before the loop: the first timed group
    # otherwise pays the cold parquet-page read (the table-warmup
    # count()s can be satisfied from footer stats alone), which put q1
    # at 1.92 s raw in BENCH_r09 while it ran 0.30-0.34 s as every
    # later group's canary.
    print("# --- untimed canary warmup", file=sys.stderr)
    run_once(CANARY)

    # Round-17 (verdict ask #4): RANDOMIZE group order per run. Two
    # rounds of same-direction driver-artifact drift on
    # q_scan_snapshot_source — which ran LAST in every round's fixed
    # order — against p=0.51 paired A/Bs is the signature of a POSITION
    # artifact (page-cache/GC/JIT state drifts over the ~15-minute
    # suite), which a 9-pair sign test cannot exclude. A per-run random
    # order turns any position effect into zero-mean noise across
    # rounds instead of a bias pinned to whatever query sits last. The
    # seed and the realized order ship in the JSON so any round's run
    # is reproducible exactly (SPARK_GRAFT_BENCH_SEED pins it).
    import random

    order_seed = int(
        os.environ.get("SPARK_GRAFT_BENCH_SEED", time.time_ns() % (2**31))
    )
    run_order = list(HEADLINE)
    random.Random(order_seed).shuffle(run_order)
    print(f"# group order (seed {order_seed}): {run_order}", file=sys.stderr)

    timings: dict[str, float] = {}
    canary_samples: dict[str, list[float]] = {}  # per-group canary reps
    minhash_phases: dict[str, dict] = {}
    bfs_rounds: list[dict] = []
    for name in run_order:
        for rep in range(1, reps + 1):
            print(f"# --- {name} rep{rep}", file=sys.stderr)
            if name != CANARY:  # canary group is billed below, from the others
                c = run_once(CANARY)
                if c is not None:
                    canary_samples.setdefault(name, []).append(c)
            t = run_once(name)
            if t is not None:
                timings[name] = min(timings.get(name, float("inf")), t)
            if name == "q_dedup_minhash_lsh":
                for ph in _minhash_phase_rep(spark, sf_dir):
                    cur = minhash_phases.get(ph["phase"])
                    if cur is None or ph["sec"] < cur["sec"]:
                        minhash_phases[ph["phase"]] = {
                            "sec": ph["sec"], "rows": ph["rows"],
                        }
            if name == "q_graph_bfs_histogram" and rep == reps:
                rounds = _bfs_phase_rep(spark, sf_dir)
                if not bfs_rounds or sum(r["sec"] for r in rounds) < sum(
                    r["sec"] for r in bfs_rounds
                ):
                    bfs_rounds = rounds

    # q1's group canary is billed from the ADJACENT group's canary
    # runs (the group right after q1 — same load window): if q1's own
    # timed min were its canary (round 9), a real q1 regression would
    # self-normalize to exactly Q1_REF and be invisible; but billing
    # from the GLOBAL canary min compares q1's min-of-3 against a
    # min-of-30+ sampled across the whole run, which showed as a fake
    # 1.6x "regression" the first time the host was slow early
    # (BENCH_r10 first cut). Adjacent-window billing keeps both
    # properties: independent of q1's own timed reps, sampled under
    # q1's load.
    if CANARY in timings:
        # "adjacent" follows the RUN order (randomized since round 17):
        # the group right after q1's slot shares its load window
        idx = run_order.index(CANARY)
        ring = run_order[idx + 1 :] + run_order[:idx]
        neighbors = [n for n in ring if n != CANARY and n in canary_samples]
        if neighbors:
            canary_samples[CANARY] = list(canary_samples[neighbors[0]])

    # Round-13 canary tightening (verdict ask #8): normalize by the
    # GROUP MEDIAN of the interleaved canary reps instead of the group
    # min — the min of 3 is itself a noisy order statistic, and the
    # r12 per-group spread (0.25-0.43 s) put +-15% noise on per-query
    # norms. The JSON also reports the spread (max/min over every
    # canary sample of the run) and the derived error bar, so a
    # round-over-round delta inside the bar is host, not code.
    canary_group = {n: _median(cs) for n, cs in canary_samples.items()}
    total = round(sum(timings.values()), 4)
    all_samples = [c for cs in canary_samples.values() for c in cs]
    canary_min = min(canary_group.values()) if canary_group else None
    # spread = max/min over the GROUP MEDIANS — the actual divisors —
    # so it measures the between-group host drift the normalization is
    # exposed to; a single outlier sample (GC pause, foreign burst)
    # cannot dominate it the way a raw max/min over all samples would.
    # The raw-sample spread still ships as a diagnostic.
    gm = list(canary_group.values())
    spread = round(max(gm) / min(gm), 4) if gm else None
    sample_spread = (
        round(max(all_samples) / min(all_samples), 4) if all_samples else None
    )
    norm_queries = {
        n: round(t * Q1_REF / canary_group.get(n, canary_min or Q1_REF), 4)
        for n, t in timings.items()
    }
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "q1_norm_total": round(sum(norm_queries.values()), 4),
                "norm_queries": norm_queries,
                "canary": {
                    "query": CANARY,
                    "ref": Q1_REF,
                    "min": canary_min,
                    "per_group": canary_group,
                    "basis": "group_median",
                    "spread": spread,
                    "sample_spread": sample_spread,
                    "norm_err_pct": (
                        round((spread - 1) * 100 / 2, 1) if spread else None
                    ),
                },
                "minhash_phases": minhash_phases,
                "bfs_rounds": bfs_rounds,
                "order_seed": order_seed,
                "group_order": run_order,
                "sf": sf,
                "reps": reps,
                "agg": "min_per_query_canary_interleaved",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
