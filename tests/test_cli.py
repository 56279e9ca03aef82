"""CLI surface (reference parity, SURVEY §2.8): bfs subcommand output
and the results CSV append sink; catalog query runner."""

from __future__ import annotations

import os

import pytest

from bfs_mapreduce_spark.sources.readers import (
    REFERENCE_DIR_ENV,
    reference_dir,
    reference_graph,
)

# the reference's own tinyG: the 0->5->3 golden holds for this file only
REAL_TINY = os.path.join(reference_dir(), "tinyG.txt")


@pytest.fixture(autouse=True)
def _reuse_session(spark):
    # cli.get_session -> getOrCreate reuses the test session, so these
    # run in-process without spawning a second JVM
    yield


@pytest.mark.skipif(
    not os.path.exists(REAL_TINY),
    reason=f"needs the reference's own {REAL_TINY} (set {REFERENCE_DIR_ENV})",
)
def test_cli_bfs_tiny(capsys, tmp_path):
    from bfs_mapreduce_spark.cli import main

    results = str(tmp_path / "results_csv")
    rc = main(
        [
            "bfs",
            "-p",
            REAL_TINY,
            "-w",
            "4",
            "--limit",
            "13",
            "--results",
            results,
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    rows = {int(line.split("\t")[0]): line.split("\t") for line in out}
    assert rows[0][1] == "0" and rows[0][2] == "0"
    assert rows[3][1] == "2" and rows[3][2] == "0->5->3"  # verified reference golden
    # results sink wrote the reference's Dataset,n_Workers,Tempo row
    import glob

    files = glob.glob(results + "/*.csv")
    assert files
    content = "".join(open(f).read() for f in files)
    assert "tinyG.txt" in content


def test_cli_bfs_display_respects_limit(capsys):
    """The display path must pull at most --limit rows through the
    driver (a .limit() BEFORE .collect()), while the vertex total in
    the footer still reports the whole graph — the round-9 advice's
    driver-funnel fix."""
    from bfs_mapreduce_spark.cli import main

    rc = main(
        ["bfs", "-p", reference_graph("tinyG"), "--limit", "3"]
    )
    assert rc == 0
    cap = capsys.readouterr()
    out = cap.out.strip().splitlines()
    assert len(out) == 3  # 13-vertex graph, only 3 rows printed
    assert "# 13 vertices" in cap.err


def test_cli_query_runner(capsys):
    from bfs_mapreduce_spark.cli import main

    rc = main(["query", "q_filter_project", "--sf-dir", "/root/testdata/sf0.001", "--limit", "3"])
    assert rc == 0


def test_cli_unknown_query(capsys):
    from bfs_mapreduce_spark.cli import main

    rc = main(["query", "no_such_query"])
    assert rc == 2
    assert "available" in capsys.readouterr().err


def test_cli_explain(capsys):
    from bfs_mapreduce_spark.cli import main

    assert main(["explain", "q_filter_project"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "PushedFilters" in out


def test_cli_explain_unknown(capsys):
    from bfs_mapreduce_spark.cli import main

    assert main(["explain", "nope"]) == 2


def test_cli_help_lists_no_bench_verbs(capsys):
    """The scale-bench harness is not part of the CLI: the graph-scale
    runner lives in tools/bench_graph_scale.py, and --help lists no
    bench-* verb."""
    from bfs_mapreduce_spark.cli import main

    with pytest.raises(SystemExit) as exc:
        main(["--help"])
    assert exc.value.code == 0
    out = capsys.readouterr().out
    assert "snapshot-vacuum" in out and "bench-" not in out


def test_cli_snapshot_vacuum_retention(spark, tmp_path, capsys):
    """Round-12 (verdict ask #7): the snapshot-vacuum CLI verb applies
    an age/count retention policy. --retain-last keeps the N newest
    versions; expired versions refuse time travel afterwards while
    retained versions (and CDC ranges inside retention) stay exact;
    policies union with --retain-hours (a generous age keeps all)."""
    import json
    import os

    import pytest

    from bfs_mapreduce_spark.cli import main
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    v = 0
    for i in range(4):
        # replace each time so old versions have exclusive files
        files = ts.stage_files(spark.range(i * 10, i * 10 + 10).toDF("k"), root)
        v = ts.commit(root, files, base_version=v, replace=i > 0)

    # a generous age policy keeps everything (union with count absent)
    rc = main(["snapshot-vacuum", root, "--retain-hours", "24"])
    assert rc == 0
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["n_deleted"] == 0
    assert ts.read(spark, root, 1).count() == 10  # full history intact

    # keep only the last 2 versions: without --force the round-15
    # min-retention reader guard refuses (just-superseded versions)
    with pytest.raises(ValueError, match="superseded only"):
        main(["snapshot-vacuum", root, "--retain-last", "2"])
    capsys.readouterr()
    rc = main(["snapshot-vacuum", root, "--retain-last", "2", "--force"])
    assert rc == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["retain_from"] == 3 and out2["n_deleted"] > 0
    # retained versions exact; expired ones refuse time travel
    assert sorted(r.k for r in ts.read(spark, root, 4).collect()) == list(
        range(30, 40)
    )
    assert sorted(r.k for r in ts.read(spark, root, 3).collect()) == list(
        range(20, 30)
    )
    with pytest.raises(Exception):
        ts.read(spark, root, 1).count()

    # CDC range inside retention stays exact after vacuum
    ts.commit(
        root,
        ts.stage_files(spark.range(100, 105).toDF("k"), root),
        base_version=4,
    )
    changed = ts.read_changes(spark, root, 4, 5)
    assert sorted(r.k for r in changed.collect()) == list(range(100, 105))


def test_retention_keep_last_zero_cannot_destroy_table(spark, tmp_path, capsys):
    """Round-13 ADVICE regression: keep_last=0 (or negative) used to
    compute retain_from=latest+1, an EMPTY keep-set — vacuum would
    then delete every data file and manifest segment including the
    current version's. The cutoff must clamp to the current version:
    the most aggressive count policy degrades to "keep only the
    latest", never "keep nothing"."""
    import json
    import os

    from bfs_mapreduce_spark.cli import main
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    v = ts.commit(
        root, ts.stage_files(spark.range(10).toDF("k"), root), base_version=0
    )
    v = ts.commit(
        root,
        ts.stage_files(spark.range(10, 20).toDF("k"), root),
        base_version=v,
    )
    assert ts.retention_cutoff(root, keep_last=0) == v
    assert ts.retention_cutoff(root, keep_last=-3) == v
    rc = main(["snapshot-vacuum", root, "--retain-last", "0", "--force"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["retain_from"] == v
    # the docstring's contract holds: the current version still reads
    assert sorted(r.k for r in ts.read(spark, root).collect()) == list(
        range(20)
    )


def test_cli_snapshot_export_iceberg(spark, tmp_path, capsys):
    """snapshot-export-iceberg writes v2 metadata and prints the
    summary + history; the exported layout reads back."""
    import json
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.cli import main
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.iceberg_meta import read_iceberg_table

    root = str(tmp_path / "tbl")
    out = str(tmp_path / "ice")
    os.makedirs(root)
    d = spark.range(8).select(F.col("id").alias("k"))
    ts.commit(
        root, ts.stage_files(d, root), base_version=0, schema=d.schema.json()
    )
    rc = main(["snapshot-export-iceberg", root, out])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip())
    assert summary["exported"] == {"1": 1} or summary["exported"] == {1: 1}
    assert summary["history"][0]["is_current"]
    assert sorted(
        r["k"] for r in read_iceberg_table(spark, out).collect()
    ) == list(range(8))


def test_cli_snapshot_vacuum_dry_run(spark, tmp_path, capsys):
    """Round-15: --dry-run lists exactly what the real vacuum would
    delete, deletes nothing, and the real call then deletes exactly
    that list."""
    import json
    import os

    from bfs_mapreduce_spark.cli import main
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    v = ts.commit(
        root, ts.stage_files(spark.range(6).toDF("k"), root), base_version=0
    )
    ts.commit(
        root,
        ts.stage_files(spark.range(6, 9).toDF("k"), root),
        base_version=v,
        replace=True,
    )
    rc = main(["snapshot-vacuum", root, "--retain-last", "1",
               "--force", "--dry-run"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    would = ts.vacuum(root, retain_from=2, dry_run=True)
    assert out["n_deleted"] == len(would) > 0
    assert all(os.path.exists(p) for p in would)  # nothing deleted
    real = ts.vacuum(root, retain_from=2)
    assert real == would
    assert not any(os.path.exists(p) for p in real)


def test_cli_snapshot_property(spark, tmp_path, capsys):
    """Round-16: the snapshot-property verb sets/lists/unsets table
    properties (JSON-typed values) and the cadence property it drives
    actually bounds segments on later appends."""
    import json
    import os

    from bfs_mapreduce_spark.cli import main
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d = spark.range(4).toDF("k")
    v = ts.commit(root, ts.stage_files(d, root), base_version=0,
                  schema=d.schema.json())
    rc = main(["snapshot-property", root, "--set",
               "commit.rewrite-segments-every", "3"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out["value"] == 3 and isinstance(out["value"], int)
    rc = main(["snapshot-property", root, "--set", "changeFeed", "true"])
    assert rc == 0
    assert json.loads(capsys.readouterr().out.strip())["value"] is True
    rc = main(["snapshot-property", root, "--list"])
    assert rc == 0
    props = json.loads(capsys.readouterr().out.strip())
    assert props == {"commit.rewrite-segments-every": 3, "changeFeed": True}
    # the cadence property is live: appends stay segment-bounded
    v = ts.current_version(root)
    for i in range(1, 7):
        v = ts.commit(
            root,
            ts.stage_files(spark.range(4 * i, 4 * i + 4).toDF("k"), root),
            base_version=v,
        )
        assert len(ts.read_manifest(root)["_segments"] or []) <= 3
    rc = main(["snapshot-property", root, "--unset", "changeFeed"])
    assert rc == 0
    capsys.readouterr()
    rc = main(["snapshot-property", root, "--list"])
    props = json.loads(capsys.readouterr().out.strip())
    assert props == {"commit.rewrite-segments-every": 3}


def test_cli_sql_end_to_end(spark, tmp_path, capsys):
    """Round 18: the `sql` verb — CTAS, UPDATE, and SELECT over a
    --table view run as shell statements; DESCRIBE HISTORY takes the
    manifest-only path (no session required)."""
    import json

    from bfs_mapreduce_spark.cli import main

    root = str(tmp_path / "tbl")
    t = f"--table=t={root}"
    rc = main(
        ["sql", "CREATE TABLE t AS SELECT id AS k, CAST(id * 2.0 AS DOUBLE)"
         " AS v FROM range(5)", t]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["operation"] == "create" and out["version"] == 1

    rc = main(["sql", "UPDATE t SET v = v + 0.5 WHERE k >= 3", t])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["operation"] == "update"

    rc = main(["sql", "SELECT k, v FROM t ORDER BY k", t])
    assert rc == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert rows[3] == {"k": 3, "v": 6.5} and rows[4] == {"k": 4, "v": 8.5}
    assert rows[0] == {"k": 0, "v": 0.0}

    rc = main(["sql", "DESCRIBE HISTORY t", t])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    ops = [h["operation"] for h in out["history"]]
    assert ops[-1] == "create" and "merge" in ops
