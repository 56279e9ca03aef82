"""Metric names, units and their computation from a run's samples.

``BENCHMARK.json`` lists the same names; ``tests/test_perfbench.py``
keeps the two in step. Per-layer metrics of a layer the workload does
not call read 0.
"""

from __future__ import annotations

from perfbench.stats import median, percentile
from perfbench.tracer import self_seconds
from perfbench.workloads import FLOOR_FRONTIER, QUERIES, BfsWorkload

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

_QUERY_METRICS = {
    "build_s": "s",
    "execute_s": "s",
    "jobs": "count",
    "tasks": "count",
    "shuffle_bytes": "bytes",
    "executor_cpu_s": "s",
    "driver_share": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "readers.call_s": "s",
    "readers.edge_scan_s": "s",
    "readers.edge_rows_per_s": "1/s",
    "graph.loop_s": "s",
    "graph.result_s": "s",
    "graph.round1_s": "s",
    "graph.floor_s": "s",
    "graph.round_s_p50": "s",
    "graph.round_s_p90": "s",
    "graph.levels": "count",
    "graph.jobs": "count",
    "graph.jobs_per_level": "count",
    "graph.tasks": "count",
    "graph.shuffle_bytes": "bytes",
    "graph.spill_bytes": "bytes",
    "graph.executor_cpu_s": "s",
    "graph.driver_share": "ratio",
    **{f"{q}.{m}": u for q in QUERIES for m, u in _QUERY_METRICS.items()},
    "op.warmup_s": "s",
    "op.wall_s": "s",
    "op.untraced_wall_s": "s",
    "op.rows_per_s": "1/s",
    "op.gap_s": "s",
    "trace.overhead_s": "s",
}


def with_units(values: dict[str, float], kind: str) -> dict:
    units = END_TO_END if kind == "end_to_end" else PER_LAYER
    if set(values) != set(units):
        raise RuntimeError(f"metric names differ from the {kind} list")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def end_to_end(setups: list[float], cpus: list[float], peak_rss_mb: float) -> dict:
    return {
        "setup_s": median(setups),
        "cpu_s": median(cpus),
        "peak_rss_mb": peak_rss_mb,
    }


def _share_idle(spans) -> float:
    total = sum(s.seconds for s in spans)
    return 1 - sum(s.busy_s for s in spans) / total if total else 0.0


def _sum(spans, attr: str):
    return sum(getattr(s, attr) for s in spans)


def per_layer(wl, spark, traced, walls, session_s, warmup_s: float) -> dict:
    """``traced`` holds ``(op_id, detail, spans)`` per traced operation."""
    out = dict.fromkeys(PER_LAYER, 0)
    out["session.start_s"] = median(session_s)
    out["op.warmup_s"] = warmup_s
    if not traced:
        return out
    ops = [next(s for s in spans if s.name == "op") for _, _, spans in traced]
    out["op.wall_s"] = median([s.seconds for s in ops])
    out["op.untraced_wall_s"] = median(walls)
    out["op.rows_per_s"] = wl.input_rows() / median(walls)
    out["op.gap_s"] = median([self_seconds(op, spans) for op, (_, _, spans) in zip(ops, traced)])
    out["trace.overhead_s"] = out["op.wall_s"] - out["op.untraced_wall_s"]

    def by_name(spans, name):
        return [s for s in spans if s.name == name]

    def med(name, fn):
        return median([fn(by_name(spans, name)) for _, _, spans in traced])

    if isinstance(wl, BfsWorkload):
        scans = [wl.edge_scan(spark) for _ in range(3)]
        out["readers.edge_scan_s"] = median(scans)
        out["readers.edge_rows_per_s"] = wl.input_rows() / median(scans)
        out["readers.call_s"] = med("readers.read_edge_list", lambda s: s[0].seconds)
        out["graph.loop_s"] = med("graph.bfs", lambda s: s[0].seconds)
        out["graph.result_s"] = med("graph.result", lambda s: s[0].seconds)
        rounds = [detail["rounds"] for _, detail, _ in traced]
        # (input frontier, seconds) of every round after the first
        later = [
            (prev[1], cur[2]) for r in rounds for prev, cur in zip(r, r[1:])
        ]
        round_s = [x[2] for r in rounds for x in r]
        out["graph.round1_s"] = median([r[0][2] for r in rounds])
        out["graph.floor_s"] = median([s for f, s in later if f <= FLOOR_FRONTIER])
        out["graph.round_s_p50"] = percentile(round_s, 50)
        out["graph.round_s_p90"] = percentile(round_s, 90)
        out["graph.levels"] = len(rounds[-1]) - 1
        graph = [by_name(spans, "graph.bfs") + by_name(spans, "graph.result") for _, _, spans in traced]
        for key in ("jobs", "tasks", "shuffle_bytes", "spill_bytes", "executor_cpu_s"):
            out[f"graph.{key}"] = median([_sum(g, key) for g in graph])
        out["graph.jobs_per_level"] = median(
            [by_name(spans, "graph.bfs")[0].jobs / len(r) for (_, _, spans), r in zip(traced, rounds)]
        )
        out["graph.driver_share"] = median([_share_idle(g) for g in graph])
    else:
        for q in QUERIES:
            out[f"{q}.build_s"] = med(q + ".build", lambda s: s[0].seconds)
            out[f"{q}.execute_s"] = med(q + ".execute", lambda s: s[0].seconds)
            spans_q = [by_name(sp, q + ".build") + by_name(sp, q + ".execute") for _, _, sp in traced]
            for key in ("jobs", "tasks", "shuffle_bytes", "executor_cpu_s"):
                out[f"{q}.{key}"] = median([_sum(g, key) for g in spans_q])
            out[f"{q}.driver_share"] = median([_share_idle(g) for g in spans_q])
    return out
