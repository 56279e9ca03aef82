"""Synthetic big-k IVF-PQ stress (round 18, verdict ask #2).

Runs the derived-k quantizer at a synthetic N of 64-dim vectors — the
default N = 17M gives k = ceil(sqrt(N)) = 4,124, past the old 4,096-cell
ceiling — by training the sample-bounded quantizer at that k (one
sample collect, then Lloyd in numpy on the driver) and running the full
IVF-PQ spill pipeline (encode, spill assignment, probes, fused tiled
ADC scan, exact rerank) end to end. SCALE_bigk_r18.json is a 17M run of
the round-18 code, whose Spark-side trainer has since been replaced;
the driver-side trainer has been run with this tool only at N = 20,000
and N = 1,000,000 (see CHANGES.md), so the 17M default is not verified
for it.

The corpus is synthesized in-plan (no staging parquet): vector
components are a per-(id, dim) integer hash scaled to (0, 1], giving
~1e6 distinct vectors — enough spread that Lloyd keeps thousands of
cells alive. Queries are vec_id % QMOD == 0 with QMOD a multiple of
the module's _QUERY_MOD so the rerank's query filter keeps them.

Usage:  SPARK_GRAFT_DRIVER_MEM=48g SPARK_GRAFT_SHUFFLE_PARTITIONS=256 \
            python tools/scale_bigk.py [N] > SCALE_bigk_r18.json
Writes one JSON line: n, derived k, sample size, live cells, phase
wall-clocks, query/result counts.
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from bfs_mapreduce_spark import get_session  # noqa: E402
from bfs_mapreduce_spark.operators.similarity_queries import (  # noqa: E402
    _Q_SAMPLE,
    _QUERY_MOD,
    _SPILL_ASSIGN,
    _SPILL_NPROBE,
    _SPILL_SHORTLIST,
    _adc_rerank,
    _cell_scores_np,
    _derived_k,
    _norm,
    _perm_sample,
    _pq_book,
    _pq_encode,
    _q_sample_for,
    _train_quantizer,
)

QMOD = 20_000  # multiple of _QUERY_MOD; 17M / 20k = 850 queries


def main(n: int) -> None:
    assert QMOD % _QUERY_MOD == 0
    spark = get_session(app_name="scale_bigk")
    k = _derived_k(n)
    sample = _q_sample_for(k)
    # deterministic synthetic corpus: per-(id, dim) integer hash in
    # (0, 1]; distinct multiplier per dim so vectors don't collapse
    # onto a short cycle
    vexpr = (
        "transform(sequence(0, 63), d -> "
        "CAST(((id + 1) * (2654435761 + d * 97)) % 1000003 + 1 AS DOUBLE)"
        " / 1000003.0)"
    )
    base = (
        spark.range(n)
        .select(F.col("id").alias("vec_id"), F.expr(vexpr).alias("v"))
        .withColumn("n", _norm("v"))
    )

    t0 = time.time()
    V, vn = _perm_sample(base, sample)
    cent = _train_quantizer(V, vn, k)
    cells_alive = len(cent[0])
    t_train = time.time() - t0

    t0 = time.time()
    codes, book = _pq_encode(base, _pq_book(V[:_Q_SAMPLE]))
    bsel = base.select("vec_id", "v", "n")
    member = _cell_scores_np(
        bsel, cent, argmax=False, topn=_SPILL_ASSIGN
    ).select("vec_id", "cell")
    probes = _cell_scores_np(
        bsel.filter(F.col("vec_id") % QMOD == 0),
        cent,
        argmax=False,
        topn=_SPILL_NPROBE,
    ).select(F.col("vec_id").alias("query_id"), "cell")
    result = _adc_rerank(base, probes, member, codes, book, _SPILL_SHORTLIST)
    rows = result.count()
    t_execute = time.time() - t0

    print(
        json.dumps(
            {
                "metric": "scale_bigk",
                "n": n,
                "k": k,
                "k_cap_old": 4096,
                "sample": sample,
                "cells_alive": cells_alive,
                "n_queries": n // QMOD,
                "rows_out": rows,
                "t_train_sec": round(t_train, 1),
                "t_execute_sec": round(t_execute, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 17_000_000)
