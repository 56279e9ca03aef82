"""Paired build-time A/B across two checkouts for q_dedup_minhash_lsh.
Execute side is plan-identical (explain dumps byte-equal in shape), so
this times ONLY what changed: catalog build() incl. eager-checkpoint jobs.
"""
import json, os, subprocess, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench import _paired_summary  # bench.py sits at the repo root
CHILD = r"""
import sys, time, json
sys.path.insert(0, sys.argv[1])
import os
os.environ.setdefault("SPARK_GRAFT_UI", "false")
from bfs_mapreduce_spark.registry import all_queries
from bfs_mapreduce_spark.session import get_session
spark = get_session(app_name="ab_build")
q = all_queries()[sys.argv[2]]
sf = sys.argv[3]
q.build(spark, sf).count()  # warmup: codegen + page cache + py4j
ts = []
for _ in range(7):
    t0 = time.perf_counter()
    df = q.build(spark, sf)
    _ = df.schema  # force analysis
    ts.append(time.perf_counter() - t0)
print("AB_SAMPLE", json.dumps(sorted(ts)[3]))
spark.stop()
"""
def sample(checkout, query, sf):
    out = subprocess.run([sys.executable, "-c", CHILD, checkout, query, sf],
                         capture_output=True, text=True)
    for line in out.stdout.splitlines():
        if line.startswith("AB_SAMPLE"):
            return float(line.split()[1])
    raise RuntimeError(out.stderr[-2000:])
old, new, query, sf, n = "/tmp/repo_r18", "/root/repo", "q_dedup_minhash_lsh", "/root/testdata/sf0.1", 13
pairs = []
for i in range(n):
    order = [("old", old), ("new", new)] if i % 2 == 0 else [("new", new), ("old", old)]
    s = {}
    for lab, c in order:
        s[lab] = sample(c, query, sf)
    pairs.append({"old": s["old"], "new": s["new"], "delta": round(s["new"]-s["old"], 4)})
    print(f"# pair {i+1}: old={s['old']:.3f} new={s['new']:.3f}", file=sys.stderr)
s = _paired_summary(pairs)
print(json.dumps({"metric": "ab_build_paired", "query": query,
  "what": "build()+analysis only; execute plan-identical (plans/r19 minhash before/after same shape)",
  "old_checkout": old, "new_checkout": new, "pairs": pairs,
  "median_delta_sec": s["median_delta"],
  "median_ratio_new_over_old": round(s["median_ratio"], 4),
  "new_wins": s["wins"], "n_pairs": len(pairs), "sign_test_p": s["sign_test_p"], "sf_dir": sf}))
