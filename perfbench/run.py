"""Repository benchmark: the paper's BFS and a catalog mix, closed loop.

One client process runs Spark in ``local[N]`` (N = min(2, nproc)) and
issues one operation at a time, each after the previous one completes.

    python3 perfbench/run.py --workload bfs_wide --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It writes only under
``.perfbench_work/`` there. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``;
with ``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics. The line before it holds the
environment, input sizes and sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(os.getcwd(), ".perfbench_work")
CORES = min(2, os.cpu_count() or 1)
DRIVER_MEM = "2g"
SETUP_REPS = 3   # setup_s is the median of this many set-ups
DEADLINE_S = 140  # no new operation starts after this many seconds


def _prepare_environment() -> None:
    """Confine every temporary file to the work directory and make the
    package importable by this process and by Spark's Python workers;
    must run before pyspark is imported."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse", "data"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ.update(
        TMPDIR=os.path.join(WORK, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    sys.path.insert(0, ROOT)


def _start_session():
    from bfs_mapreduce_spark.session import get_session

    return get_session(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            # A fixed heap and young generation make the resident peak
            # follow the data the engine retains, not G1's adaptive
            # sizing: with the defaults peak_rss_mb spread 21% between
            # runs, with these 1-4%.
            # C1 only: with the default tiered JIT, C2 compiles for the
            # first ten operations (bfs_wide 6.3, 5.4, 4.5 ... 3.6 s, with
            # 30-50 CPU-seconds of compiling in the first), so a run's
            # median followed how fast the host let the compiler threads
            # run. With C1 alone the second operation is already as fast
            # as the tenth.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
                f" -Xms{DRIVER_MEM} -Xmn256m -XX:TieredStopAtLevel=1"
            ),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )


def _stop_jvm(spark) -> int:
    """Stop Spark and its gateway JVM, wait for the JVM to exit, and
    return its peak resident memory in kB."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    peak_kb = _vm_hwm_kb(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    return peak_kb


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by this process, by the
    process ``pid`` and by every live descendant of ``pid`` (Spark's
    Python workers), including what their reaped children used."""
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while we looked
                continue
            parent[int(entry)] = int(fields[1])
            cpu[int(entry)] = sum(map(int, fields[11:15]))

    def in_tree(p: int) -> bool:
        while p > 1:
            if p == pid:
                return True
            p = parent.get(p, 0)
        return False

    own = os.times()
    ticks = sum(c for p, c in cpu.items() if in_tree(p))
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def _versions(spark) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "master": f"local[{CORES}]",
        "driver_memory": DRIVER_MEM,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.runtime.version"),
        "python": platform.python_version(),
    }


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """Set up, measure, and return ``(result, info)``."""
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[workload]()
    state: dict = {}
    try:
        return _measure(wl, state, workload, seed, seconds, trace)
    except BaseException:
        if "spark" in state:
            _stop_jvm(state["spark"])
        raise


def _measure(wl, state, workload, seed, seconds, trace):
    from perfbench import metrics
    from perfbench.stats import tail_percentile
    from perfbench.tracer import Tracer

    t_start = time.perf_counter()
    data = os.path.join(WORK, "data")
    setups, session_s, spark = [], [], None
    info: dict = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace}
    for _ in range(SETUP_REPS):
        if spark is not None:
            # tearing down the previous session is not set-up, and it took
            # 0.2-0.8 s at random
            spark.stop()
        t0 = time.perf_counter()
        spark = state["spark"] = _start_session()
        session_s.append(time.perf_counter() - t0)
        info["input"] = wl.setup(spark, seed, data)
        setups.append(time.perf_counter() - t0)
        _log(f"set-up {len(setups)}: {setups[-1]:.2f} s (session {session_s[-1]:.2f} s)")
    # The first operation in a JVM runs 3-4x slower than later ones.
    t0 = time.perf_counter()
    ok, _ = wl.op(spark)
    warmup_s = time.perf_counter() - t0
    _log(f"warm-up: {warmup_s:.2f} s")
    if not ok:
        raise RuntimeError(f"{workload}: warm-up result differs from the oracle")

    tracer = Tracer(spark.sparkContext) if trace else None
    walls, cpus, traced, failed, n = [], [], [], 0, 0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    t_end = time.perf_counter() + seconds
    wall = 0.0
    # After the workload's minimum, an operation starts only if it would
    # end inside the measuring window at the previous operation's pace.
    # Otherwise how many operations a run makes, and so which ones its
    # median covers, would follow the host's speed: a second catalog pass
    # costs 40-50% more CPU than the first. A traced run alternates
    # untraced and traced operations.
    while n < wl.min_ops * (2 if trace else 1) or time.perf_counter() + wall <= t_end:
        if time.perf_counter() - t_start > DEADLINE_S:
            break
        use_trace = trace and n % 2 == 1
        c0, t0 = _tree_cpu_s(jvm_pid), time.perf_counter()
        try:
            if use_trace:
                with tracer.span("op", n):
                    ok, detail = wl.op(spark, tracer, n)
            else:
                ok, detail = wl.op(spark)
        except Exception as e:  # a failed operation is counted, not fatal
            print(f"operation {n} failed: {e!r}", file=sys.stderr)
            ok, detail = False, {}
        wall = time.perf_counter() - t0
        cpu = _tree_cpu_s(jvm_pid) - c0
        if use_trace:
            spans = tracer.finish_op()
            if ok:  # a failed operation's spans and rounds are incomplete
                traced.append((n, detail, spans))
        else:
            walls.append(wall)
            cpus.append(cpu)
        failed += not ok
        n += 1
        _log(f"operation {n}: {wall:.3f} s, cpu {cpu:.2f} s{' traced' if use_trace else ''}{'' if ok else ' FAILED'}")

    layer = metrics.per_layer(wl, spark, traced, walls, session_s, warmup_s) if trace else None
    info.update(_versions(spark))
    peak_kb = _stop_jvm(state.pop("spark")) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if trace:
        values = layer
    else:
        values = metrics.end_to_end(setups, cpus, peak_kb / 1024)
    if trace:
        info["spans"] = [s.record() for _, _, spans in traced for s in spans]
    info["samples"] = {
        "setups": len(setups),
        "untraced_ops": len(walls),
        "traced_ops": len(traced),
        "walls": [round(w, 4) for w in walls],
        "cpus": [round(c, 4) for c in cpus],
        # cpu_s is a median; no higher percentile has ten samples beyond it
        "tail_percentile": tail_percentile(len(cpus)),
    }
    result = {
        "correct": failed == 0,
        "attempted": n,
        "failed": failed,
        "metrics": metrics.with_units(values, "per_layer" if trace else "end_to_end"),
    }
    return result, info


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _prepare_environment()
    try:
        result, info = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
