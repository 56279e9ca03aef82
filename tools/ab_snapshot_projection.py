"""Wide-table A/B for the snapshot source's ``columns`` projection
(round 19, r18 verdict ask #6): the round-18 change was honestly
neutral on the 3-column headline table — the §6 claim is about WIDE
tables, where scan-time projection stops the Python DataSource from
decoding + Arrow-shipping dead columns. This synthesizes a ~50-column
snapshot table (orders keys + 46 synthetic float columns + one string
filler), applies a position-delete so the scan exercises the full
delete-mask path, and pairs a 2-column aggregate over the projected
scan (``columns`` option) against the same aggregate over the full
scan. Interleaved pairs, exact sign test — the standard instrument.

    python tools/ab_snapshot_projection.py [PAIRS]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench import _paired_summary  # noqa: E402  (bench.py sits at the repo root)


def main() -> None:
    pairs_n = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.session import get_session
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.readers import load_table
    from bfs_mapreduce_spark.sources.snapshot_source import (
        register_snapshot_source,
    )
    from bfs_mapreduce_spark.tmputil import proc_dir

    spark = get_session(app_name="ab_snapshot_projection")
    register_snapshot_source(spark)

    root = os.path.join(proc_dir("bfs_mapreduce_spark_snap_wide"), "wide")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    wide = orders
    for i in range(46):  # 3 + 46 + 1 = 50 columns
        wide = wide.withColumn(
            f"pad_f{i:02d}", (F.col("o_totalprice") * (i + 1)).cast("double")
        )
    wide = wide.withColumn(
        "pad_s", F.concat(F.col("o_orderpriority"), F.lit("-abcdefghij"))
    )
    v = ts.commit(root, ts.stage_files(wide.coalesce(4), root), base_version=0)
    # a position delete so the masked read path is the one measured
    ts.delete_where(spark, root, "o_orderkey % 7 = 3")

    def scan(projected: bool):
        r = spark.read.format("snapshot").option("path", root)
        if projected:
            r = r.option("columns", '["o_totalprice", "o_orderpriority"]')
        df = r.load()
        return df.groupBy("o_orderpriority").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("t"),
            F.count(F.lit(1)).alias("n"),
        )

    # answers must be identical; check once up front
    a = sorted(map(str, scan(True).collect()))
    b = sorted(map(str, scan(False).collect()))
    if a != b:
        raise SystemExit("projected and full scans disagree — bug, not a bench")

    def run(projected: bool) -> float:
        t0 = time.perf_counter()
        scan(projected).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 4)

    for p in (True, False):  # warmup both plans
        run(p)
    pairs = []
    for i in range(pairs_n):
        order = [True, False] if i % 2 == 0 else [False, True]
        s = {}
        for proj in order:
            s[proj] = run(proj)
        pairs.append(
            {
                "full": s[False],
                "projected": s[True],
                "delta": round(s[True] - s[False], 4),
            }
        )
        print(
            f"# pair {i + 1}/{pairs_n}: full={s[False]:.3f}s "
            f"projected={s[True]:.3f}s",
            file=sys.stderr,
        )
    s = _paired_summary(pairs, old="full", new="projected")
    print(
        json.dumps(
            {
                "metric": "ab_snapshot_wide_projection",
                "what": "50-col snapshot table, 2-col aggregate, noop sink; "
                "projected (columns option) vs full scan",
                "n_columns": len(wide.columns),
                "pairs": pairs,
                "median_delta_sec": s["median_delta"],
                "median_ratio_projected_over_full": round(s["median_ratio"], 4),
                "projected_wins": s["wins"],
                "n_pairs": len(pairs),
                "sign_test_p": s["sign_test_p"],
                "sf_dir": sf_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
