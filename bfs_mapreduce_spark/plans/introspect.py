"""Physical-plan introspection helpers.

The engine's scale discipline is enforced through the PLAN, not just
results: filters must reach the parquet scan, small sides must
broadcast, melt must be an Expand, iterative rounds must not leak
exchanges. These helpers give tests (and users auditing a query at
100 TB) one place to read those facts off the executed plan instead of
scraping strings ad hoc.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def source_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of the files ``df`` scans, or None when they
    are unknowable: in-memory frames, non-file sources, remote file
    systems, unreadable paths. The one input-volume probe the
    partition-sizing heuristics share; each keeps its own budget."""
    try:
        files = df.inputFiles()
        if not files:
            return None
        total = 0
        for uri in files:
            total += os.path.getsize(uri[5:] if uri.startswith("file:") else uri)
    except Exception:  # remote FS / permissions / exotic source
        return None
    return total


def executed_plan(df: DataFrame) -> str:
    """The physical plan as Spark prints it (post-AQE top level)."""
    return df._jdf.queryExecution().executedPlan().toString()


def exchange_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle/broadcast-exchange) nodes in the
    plan — the first number to check against a query's scale story."""
    return executed_plan(df).count("Exchange")


def scan_count(df: DataFrame, fmt: str = "parquet") -> int:
    """Number of file scans of ``fmt`` — catches accidental multi-scan
    shapes (e.g. a melt written as N unioned scans)."""
    return executed_plan(df).count(f"FileScan {fmt}")


def pushed_filters(df: DataFrame) -> list[str]:
    """The PushedFilters lists as raw strings, one per scan."""
    plan = executed_plan(df)
    out = []
    for part in plan.split("PushedFilters: ")[1:]:
        out.append(part.split("]", 1)[0] + "]")
    return out


def read_schema(df: DataFrame) -> list[str]:
    """ReadSchema strings, one per scan — column pruning made visible."""
    plan = executed_plan(df)
    return [part.splitlines()[0].strip() for part in plan.split("ReadSchema:")[1:]]


def scan_metrics(df: DataFrame) -> list[dict]:
    """Per-file-scan EXECUTED metrics (call AFTER an action): a list of
    ``{"location": ..., "numFiles": ..., "numPartitions": ...,
    "numOutputRows": ...}`` — the ground truth for runtime-pruning
    claims (dynamic partition pruning / runtime filters), where the
    static plan text can only show the pruning EXPRESSION, not whether
    it actually cut the files read. Walks through AQE's
    AdaptiveSparkPlan/QueryStage wrappers to the final physical scan
    nodes."""
    out: list[dict] = []

    def walk(node) -> None:
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan") or "QueryStage" in name:
            for meth in ("executedPlan", "plan"):
                try:
                    walk(getattr(node, meth)())
                    break
                except Exception:  # not this wrapper type
                    continue
        if "Scan" in name:
            metrics = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                metrics[kv._1()] = kv._2().value()
            text = node.toString()
            loc = ""
            if "Location:" in text:
                loc = text.split("Location:")[1].split("]", 1)[0] + "]"
            out.append(
                {
                    "location": loc,
                    "numFiles": metrics.get("numFiles"),
                    "numPartitions": metrics.get("numPartitions"),
                    "numOutputRows": metrics.get("numOutputRows"),
                }
            )
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out
