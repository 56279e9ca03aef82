"""Round 16 (verdict ask #1): full MERGE clause surface on the
snapshot format — conditional WHEN MATCHED UPDATE/DELETE, WHEN NOT
MATCHED INSERT, WHEN NOT MATCHED BY SOURCE UPDATE/DELETE — plus the
row-level change feed a clause merge writes for CDC."""

import os

import pytest
from pyspark.sql import functions as F


def _mk(tmp_path, name):
    root = str(tmp_path / name)
    os.makedirs(root)
    return root


def _table(spark, root, rows):
    """Commit rows [(k, v, flag)] as one file; return version."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    df = spark.createDataFrame(rows, "k int, v double, flag string")
    return ts.commit(
        root,
        ts.stage_files(df.coalesce(1), root),
        base_version=0,
        schema=df.schema.json(),
    )


def test_merge_all_clause_kinds(spark, tmp_path):
    """One merge exercising Delta's complete grammar, first-match-wins:
    WHEN MATCHED AND <c> UPDATE SET, WHEN MATCHED DELETE, WHEN NOT
    MATCHED AND <c> INSERT, WHEN NOT MATCHED BY SOURCE DELETE."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = _mk(tmp_path, "clauses")
    _table(
        spark,
        root,
        [(1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "b"), (4, 40.0, "old"),
         (5, 50.0, "keepme")],
    )
    src = spark.createDataFrame(
        [(1, 100.0, "upd"),   # matched, v<15 -> clause 1 update
         (2, 200.0, "del"),   # matched, v>=15 -> clause 2 delete
         (3, 300.0, "del"),   # matched, v>=15 -> clause 2 delete
         (9, 900.0, "new"),   # unmatched, flag='new' -> insert
         (8, 800.0, "skip")], # unmatched, flag!='new' -> no clause: dropped
        "k int, v double, flag string",
    )
    v, staged, untouched = ts.merge_into(
        spark,
        root,
        src,
        ["k"],
        when_matched=[
            {"action": "update", "condition": "t.v < 15",
             "set": {"v": "t.v + s.v", "flag": "s.flag"}},
            {"action": "delete", "condition": "t.v >= 15 AND t.v < 35"},
        ],
        when_not_matched=[
            {"action": "insert", "condition": "s.flag = 'new'"},
        ],
        when_not_matched_by_source=[
            {"action": "delete", "condition": "t.flag = 'old'"},
        ],
        target_files=1,
    )
    got = sorted(
        (r["k"], r["v"], r["flag"]) for r in ts.read(spark, root).collect()
    )
    # k=1: 10+100 upd; k=2,3: deleted; k=4: NMBS-deleted; k=5: kept
    # (no NMBS clause fires); k=9 inserted; k=8 not inserted
    assert got == [(1, 110.0, "upd"), (5, 50.0, "keepme"), (9, 900.0, "new")]


def test_merge_nmbs_update_and_whole_row(spark, tmp_path):
    """NMBS UPDATE (SCD-style flagging) + whole-row UPDATE SET * /
    INSERT * defaults; unassigned insert columns NULL-fill."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = _mk(tmp_path, "nmbs")
    _table(spark, root, [(1, 10.0, "x"), (2, 20.0, "x"), (3, 30.0, "x")])
    src = spark.createDataFrame(
        [(2, 222.0, "y"), (7, 700.0, "y")], "k int, v double, flag string"
    )
    ts.merge_into(
        spark,
        root,
        src,
        ["k"],
        when_matched=[{"action": "update"}],  # SET * (whole source row)
        when_not_matched=[
            {"action": "insert", "values": {"k": "s.k", "v": "s.v * 2"}},
        ],
        when_not_matched_by_source=[
            {"action": "update", "condition": "t.k = 1",
             "set": {"flag": "'stale'"}},
        ],
        target_files=1,
    )
    got = sorted(
        (r["k"], r["v"], r["flag"]) for r in ts.read(spark, root).collect()
    )
    assert got == [
        (1, 10.0, "stale"),      # NMBS conditional update
        (2, 222.0, "y"),         # whole-row update
        (3, 30.0, "x"),          # untouched (no NMBS clause fired)
        (7, 1400.0, None),       # insert with values map, flag NULL-fills
    ]


def test_merge_change_feed_images(spark, tmp_path):
    """change_feed=True writes exact row images for every clause kind
    and read_row_changes serves them across the merge commit; without
    the feed the merge commit refuses loudly."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = _mk(tmp_path, "cdf")
    v1 = _table(spark, root, [(1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "a")])
    src = spark.createDataFrame(
        [(1, 100.0, "u"), (9, 900.0, "n")], "k int, v double, flag string"
    )
    v2, _, _ = ts.merge_into(
        spark,
        root,
        src,
        ["k"],
        when_matched=[{"action": "update", "set": {"v": "s.v"}}],
        when_not_matched=[{"action": "insert"}],
        when_not_matched_by_source=[
            {"action": "delete", "condition": "t.k = 3"},
        ],
        change_feed=True,
        target_files=1,
    )
    ch = ts.read_row_changes(spark, root, v1, v2)
    got = sorted(
        (r["_change_type"], r["k"], r["v"]) for r in ch.collect()
    )
    assert got == [
        ("delete", 3, 30.0),
        ("insert", 9, 900.0),
        ("update_postimage", 1, 100.0),
        ("update_preimage", 1, 10.0),
    ]
    assert all(r["_commit_version"] == v2 for r in ch.collect())

    # a merge WITHOUT the feed refuses row-level CDC across it
    root2 = _mk(tmp_path, "nofeed")
    w1 = _table(spark, root2, [(1, 10.0, "a")])
    w2, _, _ = ts.merge_into(
        spark, root2,
        spark.createDataFrame([(1, 11.0, "b")], "k int, v double, flag string"),
        ["k"],
        when_matched=[{"action": "update"}],
        change_feed=False,
        target_files=1,
    )
    with pytest.raises(ValueError, match="change feed"):
        ts.read_row_changes(spark, root2, w1, w2).collect()


def test_merge_change_feed_table_property(spark, tmp_path):
    """The changeFeed TABLE PROPERTY turns the feed on for plain
    (legacy-signature) merges too — Delta's enableChangeDataFeed."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = _mk(tmp_path, "cdfprop")
    _table(spark, root, [(1, 10.0, "a"), (2, 20.0, "a")])
    v1 = ts.set_property(root, "changeFeed", True)
    src = spark.createDataFrame(
        [(2, 200.0, "u"), (5, 500.0, "n")], "k int, v double, flag string"
    )
    v2, _, _ = ts.merge_into(spark, root, src, ["k"], target_files=1)
    got = sorted(
        (r["_change_type"], r["k"]) for r in
        ts.read_row_changes(spark, root, v1, v2).collect()
    )
    assert got == [
        ("insert", 5), ("update_postimage", 2), ("update_preimage", 2),
    ]


@pytest.mark.parametrize(
    "clauses",
    [{"when_matched": [{"action": "update"}]}, {}],
    ids=["clauses", "default"],
)
def test_merge_duplicate_source_keys_refuse(spark, tmp_path, clauses):
    """Delta's cardinality check holds for every merge, the default
    upsert included, and a refused merge commits nothing."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = _mk(tmp_path, "dups")
    v0 = _table(spark, root, [(1, 10.0, "a")])
    src = spark.createDataFrame(
        [(1, 1.0, "x"), (1, 2.0, "y")], "k int, v double, flag string"
    )
    with pytest.raises(ValueError, match="duplicate key"):
        ts.merge_into(spark, root, src, ["k"], **clauses)
    assert ts.current_version(root) == v0


def test_merge_default_upsert_job_budget(spark, tmp_path):
    """A merge with no clause arguments is the clause engine on WHEN
    MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *, committed as
    'merge'. Its jobs, counted by job group: one aggregate for the key
    bounds and the cardinality check (3 jobs), then the touch-set
    collect and the write. A separate duplicate-check action goes over
    the bound."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = _mk(tmp_path, "budget")
    _table(spark, root, [(i, float(i), "a") for i in range(2000)])
    src = spark.createDataFrame(
        [(i * 50, -1.0 * i, "u") for i in range(40)]
        + [(5000 + i, 1.0 * i, "n") for i in range(20)],
        "k int, v double, flag string",
    )
    sc = spark.sparkContext
    group = "test-merge-default-upsert"
    sc.setJobGroup(group, group)
    try:
        v, staged, untouched = ts.merge_into(
            spark, root, src, ["k"], target_files=1
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 12, f"default upsert ran {len(jobs)} jobs"
    assert ts._op_of(root, v) == "merge"
    assert (len(staged), len(untouched)) == (1, 0)
    got = {r["k"]: (r["v"], r["flag"]) for r in ts.read(spark, root).collect()}
    assert len(got) == 2020
    assert got[50] == (-1.0, "u") and got[51] == (51.0, "a")
    assert got[5019] == (19.0, "n")


def test_merge_clause_narrowing_rewrites_only_firing_files(spark, tmp_path):
    """Without NMBS clauses the stats shortlist carries over; a file
    whose matched rows satisfy NO clause condition is NOT rewritten."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = _mk(tmp_path, "narrow")
    # two files: keys 1-4 and keys 11-14
    df1 = spark.createDataFrame(
        [(k, float(k), "a") for k in (1, 2, 3, 4)], "k int, v double, flag string"
    )
    df2 = spark.createDataFrame(
        [(k, float(k), "a") for k in (11, 12, 13, 14)],
        "k int, v double, flag string",
    )
    f1 = ts.stage_files(df1.coalesce(1), root)
    f2 = ts.stage_files(df2.coalesce(1), root)
    ts.commit(root, f1 + f2, base_version=0, schema=df1.schema.json(),
              stats=ts.collect_stats(f1 + f2, ["k"]))
    # source matches keys in BOTH files, but the clause condition only
    # fires for the low-key file
    src = spark.createDataFrame(
        [(2, 0.0, "s"), (12, 0.0, "s")], "k int, v double, flag string"
    )
    v, staged, untouched = ts.merge_into(
        spark, root, src, ["k"],
        when_matched=[
            {"action": "update", "condition": "t.k < 10",
             "set": {"flag": "'hit'"}},
        ],
        target_files=1,
    )
    assert set(untouched) == set(f2), "non-firing file must be untouched"
    got = sorted((r["k"], r["flag"]) for r in ts.read(spark, root).collect())
    assert got == [(1, "a"), (2, "hit"), (3, "a"), (4, "a"),
                   (11, "a"), (12, "a"), (13, "a"), (14, "a")]


def test_merge_delete_races_append_rebase(spark, tmp_path):
    """Raced matrix extension (verdict ask #1): a clause merge whose
    staged rewrite loses the CAS to a concurrent APPEND rebases —
    appended files are carried by reference, merge semantics stay
    serialized-before-append."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = _mk(tmp_path, "race")
    v0 = _table(spark, root, [(1, 10.0, "a"), (2, 20.0, "a")])

    real_commit = ts.commit
    raced = {"done": False}

    def racing_commit(root_, files, **kw):
        if not raced["done"] and kw.get("operation") == "merge":
            raced["done"] = True
            # concurrent append sneaks in before the merge's commit
            extra = spark.createDataFrame(
                [(50, 500.0, "late")], "k int, v double, flag string"
            )
            real_commit(
                root_, ts.stage_files(extra.coalesce(1), root_),
                base_version=kw["base_version"],
            )
        return real_commit(root_, files, **kw)

    ts.commit = racing_commit
    try:
        src = spark.createDataFrame(
            [(2, 0.0, "x")], "k int, v double, flag string"
        )
        v, staged, untouched = ts.merge_into(
            spark, root, src, ["k"],
            when_matched=[{"action": "delete"}],
            target_files=1,
        )
    finally:
        ts.commit = real_commit
    got = sorted((r["k"], r["flag"]) for r in ts.read(spark, root).collect())
    # the merge-deleted row is gone AND the raced append's row survives
    assert got == [(1, "a"), (50, "late")]


def test_merge_delete_races_overlapping_delete_refuses(spark, tmp_path):
    """A concurrent delete_where that touched the merge's read set
    must REFUSE the rebase (the staged rewrite is stale)."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = _mk(tmp_path, "race2")
    _table(spark, root, [(1, 10.0, "a"), (2, 20.0, "a")])

    real_commit = ts.commit
    raced = {"done": False}

    def racing_commit(root_, files, **kw):
        if not raced["done"] and kw.get("operation") == "merge":
            raced["done"] = True
            ts.commit = real_commit  # the inner delete commits normally
            try:
                ts.delete_where(spark, root_, "k = 1")
            finally:
                ts.commit = racing_commit
        return real_commit(root_, files, **kw)

    ts.commit = racing_commit
    try:
        src = spark.createDataFrame(
            [(2, 0.0, "x")], "k int, v double, flag string"
        )
        with pytest.raises(ts.ConcurrentWriteConflict):
            ts.merge_into(
                spark, root, src, ["k"],
                when_matched=[{"action": "delete"}],
                target_files=1,
            )
    finally:
        ts.commit = real_commit


def test_merge_clause_validation(spark, tmp_path):
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = _mk(tmp_path, "valid")
    _table(spark, root, [(1, 10.0, "a")])
    src = spark.createDataFrame([(1, 1.0, "x")], "k int, v double, flag string")
    with pytest.raises(ValueError, match="action"):
        ts.merge_into(spark, root, src, ["k"],
                      when_matched=[{"action": "insert"}])
    with pytest.raises(ValueError, match="unknown column"):
        ts.merge_into(spark, root, src, ["k"],
                      when_matched=[{"action": "update",
                                     "set": {"nope": "1"}}])
    # whole-row update with a short source refuses loudly
    short = spark.createDataFrame([(1, 1.0)], "k int, v double")
    with pytest.raises(ValueError, match="every table column"):
        ts.merge_into(spark, root, short, ["k"],
                      when_matched=[{"action": "update"}])


def test_merge_change_files_vacuum_lifecycle(spark, tmp_path):
    """Change files are protected while their version is retained and
    swept when it expires."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = _mk(tmp_path, "cdfvac")
    v1 = _table(spark, root, [(1, 10.0, "a")])
    src = spark.createDataFrame([(1, 11.0, "b")], "k int, v double, flag string")
    v2, _, _ = ts.merge_into(
        spark, root, src, ["k"],
        when_matched=[{"action": "update"}], change_feed=True, target_files=1,
    )
    cfiles = ts.read_manifest(root, v2)["change_files"]
    assert cfiles and all(os.path.exists(p) for p in cfiles)
    v3 = ts.commit(
        root,
        ts.stage_files(
            spark.createDataFrame([(2, 2.0, "c")],
                                  "k int, v double, flag string"), root),
        base_version=v2,
    )
    ts.vacuum(root, retain_from=v2)  # v2 retained: change files survive
    assert all(os.path.exists(p) for p in cfiles)
    ts.vacuum(root, retain_from=v3)  # v2 expired: swept
    assert not any(os.path.exists(p) for p in cfiles)


def test_merge_change_feed_streams(spark, tmp_path):
    """Round 16: the snapshot_row_changes STREAM serves a clause
    merge's change files under its changelog encoding (preimage ->
    delete, postimage -> insert); a merge without the feed still
    fails the stream loudly."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_row_changes_source import (
        register_snapshot_row_changes_source,
    )

    register_snapshot_row_changes_source(spark)
    root = _mk(tmp_path, "cdfstream")
    ck = os.path.join(str(tmp_path), "ck")
    _table(spark, root, [(1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "a")])
    src = spark.createDataFrame(
        [(1, 100.0, "u"), (9, 900.0, "n")], "k int, v double, flag string"
    )
    ts.merge_into(
        spark, root, src, ["k"],
        when_matched=[{"action": "update", "set": {"v": "s.v"}}],
        when_not_matched=[{"action": "insert"}],
        when_not_matched_by_source=[
            {"action": "delete", "condition": "t.k = 3"}],
        change_feed=True, target_files=1,
    )

    got = []
    q = (
        spark.readStream.format("snapshot_row_changes")
        .option("path", root)
        .option("startingVersion", 0)
        .load()
        .writeStream.foreachBatch(
            lambda b, _i: got.extend(
                (r["_commit_version"], r["_change_type"], r["k"], r["v"])
                for r in b.collect()
            )
        )
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(got) == [
        (1, "insert", 1, 10.0), (1, "insert", 2, 20.0), (1, "insert", 3, 30.0),
        # merge v2 under the changelog encoding: update -> delete+insert,
        # NMBS delete -> delete, insert -> insert
        (2, "delete", 1, 10.0), (2, "delete", 3, 30.0),
        (2, "insert", 1, 100.0), (2, "insert", 9, 900.0),
    ]


def test_merge_insert_only_with_pruned_candidates(spark, tmp_path):
    """A clause merge whose source keys fall entirely OUTSIDE every
    file's stats range prunes all candidates — inserts must still
    stage with the pinned schema's types (a NULL-fill column was
    VOID-typed before round 16's fix) and untouched files carry by
    reference."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = _mk(tmp_path, "pruneall")
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "a")], "k int, v double, flag string"
    )
    files = ts.stage_files(df.coalesce(1), root)
    ts.commit(root, files, base_version=0, schema=df.schema.json(),
              stats=ts.collect_stats(files, ["k"]))
    src = spark.createDataFrame(
        [(100, 1.0, "n"), (101, 2.0, "n")], "k int, v double, flag string"
    )
    v, staged, untouched = ts.merge_into(
        spark, root, src, ["k"],
        when_matched=[{"action": "delete"}],
        when_not_matched=[
            {"action": "insert", "values": {"k": "s.k", "v": "s.v"}},
        ],
        target_files=1,
    )
    assert untouched == files  # nothing scanned, nothing rewritten
    got = sorted(
        (r["k"], r["v"], r["flag"]) for r in ts.read(spark, root).collect()
    )
    assert got == [(1, 10.0, "a"), (2, 20.0, "a"),
                   (100, 1.0, None), (101, 2.0, None)]


def test_merge_change_feed_survives_append_rebase(spark, tmp_path):
    """A clause merge with the change feed on loses the CAS to a
    concurrent APPEND, rebases — and its change files still describe
    exactly the merge's own effect set (the raced append's rows are
    the append's own insert derivation, never the merge's)."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = _mk(tmp_path, "cdfrace")
    v0 = _table(spark, root, [(1, 10.0, "a"), (2, 20.0, "a")])

    real_commit = ts.commit
    raced = {"done": False}

    def racing_commit(root_, files, **kw):
        if not raced["done"] and kw.get("operation") == "merge":
            raced["done"] = True
            extra = spark.createDataFrame(
                [(50, 500.0, "late")], "k int, v double, flag string"
            )
            real_commit(
                root_, ts.stage_files(extra.coalesce(1), root_),
                base_version=kw["base_version"],
            )
        return real_commit(root_, files, **kw)

    ts.commit = racing_commit
    try:
        src = spark.createDataFrame(
            [(2, 200.0, "u"), (9, 900.0, "n")], "k int, v double, flag string"
        )
        v_merge, _, _ = ts.merge_into(
            spark, root, src, ["k"],
            when_matched=[{"action": "update", "set": {"v": "s.v"}}],
            when_not_matched=[{"action": "insert"}],
            change_feed=True, target_files=1,
        )
    finally:
        ts.commit = real_commit

    # table state: merge applied AND the raced append's row present
    got = sorted((r["k"], r["v"]) for r in ts.read(spark, root).collect())
    assert got == [(1, 10.0), (2, 200.0), (9, 900.0), (50, 500.0)]
    # the full range: the append commit contributes its insert, the
    # merge commit contributes exactly its own images
    ch = sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in ts.read_row_changes(
            spark, root, v0, ts.current_version(root)
        ).collect()
    )
    v_app = v_merge - 1
    assert ch == [
        (v_app, "insert", 50),
        (v_merge, "insert", 9),
        (v_merge, "update_postimage", 2),
        (v_merge, "update_preimage", 2),
    ]


def test_snapshot_source_reads_through_merge_commit(spark, tmp_path):
    """The batch snapshot DataSource plans a clause-merge commit like
    any REPLACE — the per-version change_files key and the 'merge'
    operation tag are metadata it must ignore; rows match ts.read
    exactly, and time travel to the pre-merge version still works."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_source import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    root = _mk(tmp_path, "dsmerge")
    v1 = _table(spark, root, [(1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "a")])
    src = spark.createDataFrame(
        [(2, 200.0, "u"), (9, 900.0, "n")], "k int, v double, flag string"
    )
    ts.merge_into(
        spark, root, src, ["k"],
        when_matched=[{"action": "update", "set": {"v": "s.v"}}],
        when_not_matched=[{"action": "insert"}],
        when_not_matched_by_source=[
            {"action": "delete", "condition": "t.k = 3"}],
        change_feed=True, target_files=1,
    )
    via_ds = sorted(
        (r["k"], r["v"]) for r in
        spark.read.format("snapshot").option("path", root).load().collect()
    )
    via_api = sorted(
        (r["k"], r["v"]) for r in ts.read(spark, root).collect()
    )
    assert via_ds == via_api == [(1, 10.0), (2, 200.0), (9, 900.0)]
    old = sorted(
        r["k"] for r in
        spark.read.format("snapshot").option("path", root)
        .option("versionAsOf", str(v1)).load().collect()
    )
    assert old == [1, 2, 3]


def test_merge_delete_only_with_keys_only_source(spark, tmp_path):
    """A delete-only merge driven by a keys-only source (the CDC
    tombstone shape) is legal — DELETE clauses need no source columns
    beyond the keys; with the change feed on, exact delete images
    still emit."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = _mk(tmp_path, "tombstones")
    v1 = _table(spark, root, [(1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "a")])
    tombstones = spark.createDataFrame([(1,), (3,)], "k int")
    v2, _, _ = ts.merge_into(
        spark, root, tombstones, ["k"],
        when_matched=[{"action": "delete"}],
        change_feed=True, target_files=1,
    )
    got = sorted(r["k"] for r in ts.read(spark, root).collect())
    assert got == [2]
    ch = sorted(
        (r["_change_type"], r["k"], r["v"])
        for r in ts.read_row_changes(spark, root, v1, v2).collect()
    )
    assert ch == [("delete", 1, 10.0), ("delete", 3, 30.0)]
