"""Paired A/B of ONE catalog query across TWO repo checkouts (round
16, verdict ask #5): bench.py --ab compares two queries inside one
process; THIS compares the same query under two code versions (e.g.
an old git worktree vs HEAD), which is the instrument for "did round
N regress query Q" questions that normalized round-over-round deltas
cannot answer under the ~16% canary error bar.

Each sample is its own subprocess (PYTHONPATH pinned to the checkout):
one untimed warmup build (staging fixtures + codegen), then the
median of 3 timed executions of the read path. Pairs alternate order
so neither side systematically inherits a warmer page cache. Output:
paired deltas + exact two-sided sign test.

    python tools/ab_heads.py QUERY OLD_CHECKOUT NEW_CHECKOUT [PAIRS]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1  (default)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench import _paired_summary  # noqa: E402  (bench.py sits at the repo root)

_CHILD = r"""
import sys, time, json
sys.path.insert(0, sys.argv[1])
from bfs_mapreduce_spark.registry import all_queries
from bfs_mapreduce_spark.session import get_session
spark = get_session(app_name="ab_heads")
q = all_queries()[sys.argv[2]]
sf = sys.argv[3]
q.build(spark, sf).count()  # warmup: staging + codegen
ts = []
for _ in range(3):
    t0 = time.perf_counter()
    q.build(spark, sf).count()
    ts.append(time.perf_counter() - t0)
print("AB_SAMPLE", json.dumps(sorted(ts)[1]))
spark.stop()
"""


def sample(checkout: str, query: str, sf_dir: str) -> float:
    env = dict(os.environ, PYTHONPATH=checkout)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, checkout, query, sf_dir],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    for line in out.stdout.splitlines():
        if line.startswith("AB_SAMPLE"):
            return float(json.loads(line.split(None, 1)[1]))
    raise RuntimeError(
        f"no sample from {checkout}: {out.stdout[-500:]} {out.stderr[-800:]}"
    )


def main() -> None:
    if len(sys.argv) < 4:
        raise SystemExit(__doc__)
    query, old, new = sys.argv[1:4]
    pairs_n = int(sys.argv[4]) if len(sys.argv) > 4 else 7
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    pairs = []
    for i in range(pairs_n):
        order = [(old, "old"), (new, "new")] if i % 2 == 0 else [
            (new, "new"), (old, "old")
        ]
        s = {}
        for path, tag in order:
            s[tag] = sample(path, query, sf_dir)
        pairs.append({**s, "delta": round(s["new"] - s["old"], 4)})
        print(
            f"# pair {i+1}/{pairs_n}: old={s['old']:.3f}s new={s['new']:.3f}s",
            file=sys.stderr,
        )
    s = _paired_summary(pairs)
    print(
        json.dumps(
            {
                "metric": "ab_heads_paired",
                "query": query,
                "old_checkout": old,
                "new_checkout": new,
                "pairs": pairs,
                "median_delta_sec": round(s["median_delta"], 4),
                "median_ratio_new_over_old": round(s["median_ratio"], 4),
                "new_wins": s["wins"],
                "n_pairs": pairs_n,
                "sign_test_p": s["sign_test_p"],
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
