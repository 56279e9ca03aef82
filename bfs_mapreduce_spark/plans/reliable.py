"""Fault-tolerant lineage truncation for the iterative driver loops.

Every driver loop in this package (BFS and its graph peers, k-center
seeding, the tokenizer training rounds) truncates its per-round
lineage so the planner never sees a thousand-round plan tree. The
DEFAULT truncation is ``localCheckpoint``: blocks live only on
executors, which is exactly right on a healthy cluster (zero extra
I/O) — and exactly wrong on a 1000-executor cluster with preemptible
nodes, where losing one executor after round k discards blocks whose
lineage was just truncated, failing the whole job. (Spark's own docs
make the same warning for ``RDD.localCheckpoint``.)

RELIABLE mode replaces the truncation with a parquet spill + re-read
under a caller-supplied directory (HDFS/object store on a real
cluster): each round's state is written once and re-read from durable
storage, so an executor loss in round k recomputes at most from the
round-k spill — never from round 0. Parquet spill is chosen over
``Dataset.checkpoint(reliable)`` deliberately: Spark's reliable RDD
checkpoint recomputes the RDD a second time in a separate job to
write it (the classic "persist before checkpoint" footgun), while a
parquet write computes the round once, and the re-read hands Catalyst
real file statistics instead of an opaque ``ExistingRDD``.

Activation is ambient (a context variable), so the dozens of loop
call sites stay signature-stable::

    from bfs_mapreduce_spark.plans.reliable import reliable_checkpoints
    with reliable_checkpoints("/durable/fs/job-42"):
        result = bfs(edges, source=0)          # every round spills
        histogram = result.groupBy("dist").count().collect()

Every lineage cut in the package goes through this module: through
:func:`truncate` (directly or as ``df.transform(ckpt)`` /
``df.transform(ckpt_lazy)``), or through :func:`spill_truncate` and
:func:`cache_point`, whose semantics differ. Every loop is a DataFrame
loop, so the module has no RDD form of the cut (a reliable
``RDD.checkpoint`` would also need the SparkContext's checkpoint
directory, which is set once for the whole process).
tests/test_reliable.py fails on any ``localCheckpoint`` call outside
this module, and call sites look ``truncate`` up here at call time, so wrapping
``reliable.truncate`` wraps every cut. Spill files are left on disk, the
same contract as Spark's reliable checkpoints (cleanup is a separate
concern — the caller owns the directory lifetime and must keep it
until results are materialized, since the returned plan reads from
it). Cost: one durable write + re-read per round, measured by
tools/bench_graph_scale.py --reliable in BASELINE.md — the price of
surviving executor loss.

Reference parity note: the reference engine (BFS_map_reduce.py) holds
ALL state in driver memory between rounds, so a single process loss
kills the job unconditionally; this module is the scale-out answer to
that gap, not a translation of anything the reference has.
"""

from __future__ import annotations

import contextlib
import contextvars
import itertools
import os
import uuid

from pyspark.sql import DataFrame

_ckpt_dir: contextvars.ContextVar[str | None] = contextvars.ContextVar(
    "reliable_checkpoint_dir", default=None
)
_seq = itertools.count()


def checkpoint_dir() -> str | None:
    """The active reliable-checkpoint directory, or None (= default
    localCheckpoint mode)."""
    return _ckpt_dir.get()


@contextlib.contextmanager
def reliable_checkpoints(path: str):
    """Activate reliable (durable) lineage truncation for every
    :func:`truncate` call made while the context is open. Nesting
    replaces the directory; ``path`` is created if missing."""
    path = os.path.abspath(path)
    os.makedirs(path, exist_ok=True)
    token = _ckpt_dir.set(path)
    try:
        yield path
    finally:
        _ckpt_dir.reset(token)


def truncate(df: DataFrame, eager: bool = True, name: str = "state") -> DataFrame:
    """Truncate ``df``'s lineage: ``localCheckpoint(eager)`` by
    default; inside :func:`reliable_checkpoints`, a parquet spill to
    the durable directory + re-read (always eager — a durable write
    cannot be deferred, so ``eager=False`` fusion is a local-mode-only
    optimization; the loops' follow-up ``count()`` then reads footer
    metadata instead of running a job).

    The re-read DataFrame is plan-rooted at a parquet scan: an
    executor lost mid-loop recomputes from THIS round's files, not
    from the start of the traversal."""
    d = _ckpt_dir.get()
    if d is None:
        return df.localCheckpoint(eager=eager)
    out = os.path.join(d, f"{name}-{next(_seq):05d}-{uuid.uuid4().hex[:8]}")
    df.write.mode("error").parquet(out)
    return df.sparkSession.read.parquet(out)


def ckpt(df: DataFrame) -> DataFrame:
    """Chain-position form of :func:`truncate` for
    ``df.transform(ckpt)`` call sites (keeps long builder chains
    intact at the dozens of loop truncation points)."""
    return truncate(df)


def ckpt_lazy(df: DataFrame) -> DataFrame:
    """Lazy twin of :func:`ckpt`: deferred localCheckpoint in default
    mode (the caller's next action materializes it in the same job);
    reliable mode is inherently eager — the durable write IS the
    materialization."""
    return truncate(df, eager=False)


def cache_point(df: DataFrame, name: str = "state") -> DataFrame:
    """Build-time-free sharing point for SHALLOW (bounded-round)
    builders: ``persist()`` in default mode — registers the cache
    against the ANALYZED plan and defers every byte of physical
    planning and execution to the caller's first action, where even a
    LAZY ``localCheckpoint`` still physically plans the whole subtree
    on the JVM at build time (the round-12 ann_recall cold-cost root
    cause — BASELINE.md reconciliation). Inside
    :func:`reliable_checkpoints` the durable spill stands in unchanged
    (a durable write cannot be deferred, and fault tolerance wins).

    NOT a lineage truncation: the logical plan keeps growing with
    rounds (the cache manager substitutes InMemoryRelation at
    planning, so re-planning stays cheap, but optimizer statistics
    are not reset) — deep or self-joining fixpoints keep
    :func:`truncate` / :func:`spill_truncate`."""
    d = _ckpt_dir.get()
    if d is None:
        return df.persist()
    return truncate(df, name=name)


def spill_truncate(df: DataFrame, name: str = "state") -> DataFrame:
    """Stats-RESETTING lineage truncation: parquet spill + re-read,
    ALWAYS — even in default local mode (into a process-local tmp dir
    swept at exit; inside :func:`reliable_checkpoints` it spills to
    the durable directory like :func:`truncate`, gaining fault
    tolerance for free).

    Why it exists when ``localCheckpoint`` is cheaper: localCheckpoint
    PRESERVES the origin plan's optimizer statistics, and Catalyst's
    join size estimation MULTIPLIES operand sizes. In a driver loop
    whose per-round plan SELF-JOINS its own state (the pointer-jumping
    pattern: ``state JOIN state ON label``), the carried sizeInBytes
    therefore SQUARES every round — after k rounds it is a BigInteger
    with 2^k digits, and the driver burns exponentially-growing CPU in
    BigInteger.multiply during planning (measured: a 1.2k-row loop hit
    a 188,635-digit statistic and 90 s rounds by round 8; jstack
    pinned Thread-3 inside Toom-Cook multiplication — the forensic
    trail is in BASELINE.md's round-11 SCC note). A parquet re-read
    roots the next round's plan at a scan with REAL file statistics,
    so the estimate resets to bytes-on-disk every round and the loop
    stays flat. Loops WITHOUT state self-joins (BFS, label
    propagation) only grow the statistic linearly per round and keep
    the cheaper ``truncate``."""
    d = _ckpt_dir.get()
    if d is None:
        from bfs_mapreduce_spark.tmputil import proc_dir

        d = proc_dir("bfs_mapreduce_spark_spill")
    out = os.path.join(d, f"{name}-{next(_seq):05d}-{uuid.uuid4().hex[:8]}")
    df.write.mode("error").parquet(out)
    return df.sparkSession.read.parquet(out)
