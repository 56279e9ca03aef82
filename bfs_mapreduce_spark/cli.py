"""CLI, mirroring the reference's entry points (SURVEY §2.8):

reference                                  this engine
-----------------------------------------  -------------------------------
BFS_map_reduce.py -p FILE -w N             python -m bfs_mapreduce_spark.cli bfs -p FILE [-w N] [-s SRC]
BFS_serial.py FILE                         (same command — one engine, parallelism is a config)
results.csv append sink (:155-164)         --results PATH appends Dataset,n_Workers,Tempo

Extra subcommand ``query`` runs any named catalog query against a
testdata dir — the engine's general surface from the same front door.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def _owned_session(**kwargs):
    """getOrCreate may hand back a pre-existing session (tests, REPLs);
    only stop it on exit if this invocation created it."""
    from pyspark.sql import SparkSession

    from bfs_mapreduce_spark.session import get_session

    pre_existing = SparkSession.getActiveSession() is not None
    return get_session(**kwargs), not pre_existing


def _bfs(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.operators.graph import bfs
    from bfs_mapreduce_spark.sources.readers import read_edge_list, write_csv_append

    spark, owned = _owned_session(
        app_name="bfs_cli",
        master=f"local[{args.workers}]" if args.workers else None,
        shuffle_partitions=args.workers or None,
    )
    try:
        t0 = time.perf_counter()
        edges = read_edge_list(spark, args.path)
        res = bfs(edges, source=args.source, with_paths=not args.no_paths)
        out_cols = ["id", "dist"] + ([] if args.no_paths else ["path_str"])
        shown = res
        if not args.no_paths:
            shown = res.withColumn("path_str", F.array_join("path", "->"))
        # Display pulls at most --limit rows through the driver; the
        # vertex total is a count() on the (checkpointed) result. On a
        # largeG-10x-class graph the old full collect() funnelled
        # millions of path rows through the driver to print 20.
        n_vertices = res.count()
        rows = shown.select(*out_cols).orderBy("id").limit(args.limit).collect()
        elapsed = time.perf_counter() - t0
        for r in rows:
            print("\t".join("" if r[c] is None else str(r[c]) for c in out_cols))
        print(f"# {n_vertices} vertices in {elapsed:.3f}s", file=sys.stderr)
        if args.results:
            row = spark.createDataFrame(
                [(os.path.basename(args.path), args.workers or (os.cpu_count() or 0), elapsed)],
                "Dataset string, n_Workers int, Tempo double",
            )
            write_csv_append(row, args.results)
    finally:
        if owned:
            spark.stop()
    return 0


def _query(args: argparse.Namespace) -> int:
    from bfs_mapreduce_spark.registry import all_queries

    catalog = all_queries()
    if args.name not in catalog:
        print(f"unknown query {args.name!r}; available: {', '.join(sorted(catalog))}", file=sys.stderr)
        return 2
    spark, owned = _owned_session(app_name=f"query_{args.name}")
    try:
        t0 = time.perf_counter()
        df = catalog[args.name].build(spark, args.sf_dir)
        df.show(args.limit, truncate=False)
        print(f"# {df.count()} rows in {time.perf_counter() - t0:.3f}s", file=sys.stderr)
    finally:
        if owned:
            spark.stop()
    return 0


def _explain(args: argparse.Namespace) -> int:
    """Print the formatted physical plan of a catalog query — the
    first thing to read when a query misbehaves at scale (is the
    filter pushed? which side broadcasts? where are the exchanges?)."""
    from bfs_mapreduce_spark.registry import all_queries

    catalog = all_queries()
    if args.name not in catalog:
        print(f"unknown query {args.name!r}; available: {', '.join(sorted(catalog))}", file=sys.stderr)
        return 2
    spark, owned = _owned_session(app_name=f"explain_{args.name}")
    try:
        df = catalog[args.name].build(spark, args.sf_dir)
        df.explain(args.mode)
    finally:
        if owned:
            spark.stop()
    return 0


def _sql(args: argparse.Namespace) -> int:
    """One SQL statement against snapshot tables from the shell
    (round 18): DML/DDL/maintenance verbs route through
    snapshot_sql.sql_dml (the result dict prints as one JSON line);
    SELECT/WITH register every --table as a live temp view
    (register_sql_view) and print rows as JSON lines. VACUUM and
    DESCRIBE HISTORY are manifest-only and never start a JVM (ALTER
    still does: its type strings parse through Spark's parser)."""
    import json

    tables: dict[str, str] = {}
    for kv in args.table or []:
        if "=" not in kv:
            raise SystemExit(f"--table expects NAME=ROOT, got {kv!r}")
        name, root = kv.split("=", 1)
        tables[name] = root
    stmt = args.statement.strip().rstrip(";").strip()
    verb = stmt.split(None, 1)[0].upper() if stmt else ""
    if verb in ("VACUUM", "DESCRIBE"):
        from bfs_mapreduce_spark.sources.snapshot_sql import sql_dml

        print(json.dumps(sql_dml(None, stmt, tables)))
        return 0
    spark, owned = _owned_session(app_name="sql")
    try:
        if verb in ("SELECT", "WITH"):
            from bfs_mapreduce_spark.sources.table_snapshots import (
                register_sql_view,
            )

            for name, root in tables.items():
                register_sql_view(spark, name, root)
            rows = spark.sql(stmt).limit(args.limit).toJSON().collect()
            for r in rows:
                print(r)
            if len(rows) == args.limit:
                print(
                    f"# output capped at --limit {args.limit}",
                    file=sys.stderr,
                )
            return 0
        from bfs_mapreduce_spark.sources.snapshot_sql import sql_dml

        print(
            json.dumps(
                sql_dml(
                    spark,
                    stmt,
                    tables,
                    target_files=args.target_files,
                    evolve_schema=args.evolve_schema,
                )
            )
        )
        return 0
    finally:
        if owned:
            spark.stop()


def _snapshot_history(args: argparse.Namespace) -> int:
    """DESCRIBE HISTORY for a snapshot table root: one JSON line per
    version, newest first — manifests only, no Spark session."""
    import json

    from bfs_mapreduce_spark.sources.table_snapshots import history

    for rec in history(args.root):
        print(json.dumps(rec))
    return 0


def _snapshot_ref(args: argparse.Namespace) -> int:
    """Named refs (tags) for a snapshot table root: --set NAME
    [--version V], --delete NAME, or --list. A tagged version is
    pinned against vacuum until its tag is deleted."""
    import json

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    if args.list:
        print(json.dumps(ts.read_refs(args.root), sort_keys=True))
        return 0
    if args.set:
        v = ts.set_ref(args.root, args.set, args.version)
        print(json.dumps({"op": "set", "ref": args.set, "version": v}))
        return 0
    if args.delete:
        v = ts.delete_ref(args.root, args.delete)
        print(json.dumps({"op": "delete", "ref": args.delete, "version": v}))
        return 0
    print("snapshot-ref: pass one of --set/--delete/--list", file=sys.stderr)
    return 2


def _snapshot_property(args: argparse.Namespace) -> int:
    """SET/UNSET/SHOW TBLPROPERTIES for a snapshot table root (round
    16): properties drive opt-in behaviors — commit.rewrite-segments-
    every (auto manifest-merge cadence) and changeFeed (merges write
    Delta-CDF change files). Values parse as JSON when possible
    (``--set changeFeed true`` stores a boolean) and fall back to the
    raw string."""
    import json

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    if args.list:
        m = ts.read_manifest(args.root)
        print(json.dumps(m.get("properties") or {}, sort_keys=True))
        return 0
    if args.set:
        key, raw = args.set
        try:
            value = json.loads(raw)
        except json.JSONDecodeError:
            value = raw
        v = ts.set_property(args.root, key, value)
        print(json.dumps({"op": "set", "key": key, "value": value, "version": v}))
        return 0
    if args.unset:
        v = ts.set_property(args.root, args.unset, None)
        print(json.dumps({"op": "unset", "key": args.unset, "version": v}))
        return 0
    print("snapshot-property: pass one of --set/--unset/--list", file=sys.stderr)
    return 2


def _snapshot_alter(args: argparse.Namespace) -> int:
    """ALTER TABLE verbs for a snapshot table root — metadata-only
    schema evolution (round 13): --rename OLD NEW, --drop COL,
    --widen COL TYPE. Manifests only, no Spark session, no data file
    touched."""
    import json

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    chosen = [
        bool(args.rename), bool(args.drop), bool(args.widen)
    ].count(True)
    if chosen != 1:
        print(
            "snapshot-alter: pass exactly one of --rename OLD NEW / "
            "--drop COL / --widen COL TYPE",
            file=sys.stderr,
        )
        return 2
    if args.rename:
        v = ts.rename_column(args.root, args.rename[0], args.rename[1])
        op = {"op": "rename", "from": args.rename[0], "to": args.rename[1]}
    elif args.drop:
        v = ts.drop_column(args.root, args.drop)
        op = {"op": "drop", "column": args.drop}
    else:
        v = ts.alter_column_type(args.root, args.widen[0], args.widen[1])
        op = {"op": "widen", "column": args.widen[0], "type": args.widen[1]}
    print(json.dumps({**op, "version": v}))
    return 0


def _snapshot_optimize(args: argparse.Namespace) -> int:
    """OPTIMIZE ZORDER BY / rewrite_manifests / compact for a snapshot
    table root — the table-format maintenance verbs, actionable from
    the shell."""
    import json

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    spark, owned = _owned_session(app_name="snapshot_optimize")
    try:
        if args.zorder:
            a, b = args.zorder
            v = ts.optimize_zorder(spark, args.root, a, b, n_files=args.n_files)
            op = f"optimize_zorder({a}, {b})"
        elif args.rewrite_manifests:
            v = ts.rewrite_manifests(args.root)
            op = "rewrite_manifests"
        elif args.repartition:
            v = ts.rewrite_partitioned(spark, args.root)
            op = "rewrite_partitioned"
        else:
            v = ts.compact(
                spark,
                args.root,
                n_files=args.n_files,
                small_below_bytes=args.small_below_bytes,
            )
            op = "compact"
        print(json.dumps({"op": op, "version": v, "n_files": args.n_files}))
    finally:
        if owned:
            spark.stop()
    return 0


def _snapshot_export_iceberg(args: argparse.Namespace) -> int:
    """Export a snapshot table as Iceberg v2 metadata (round 14) and
    print the summary + the exported table's snapshot history."""
    import json

    from bfs_mapreduce_spark.sources.iceberg_meta import (
        export_iceberg_metadata,
        iceberg_history,
    )

    summary = export_iceberg_metadata(
        args.root, args.out, format_version=args.format_version
    )
    summary["history"] = iceberg_history(args.out)
    print(json.dumps(summary))
    return 0


def _snapshot_import_iceberg(args: argparse.Namespace) -> int:
    """Adopt an Iceberg table into the snapshot format by reference
    (round 15): data files stay in place; v2 position/equality delete
    files map onto the format's merge-on-read state."""
    import json

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.iceberg_meta import import_iceberg_table

    spark, owned = _owned_session(app_name="snapshot_import_iceberg")
    try:
        v = import_iceberg_table(
            spark, args.location, args.root, snapshot_id=args.snapshot_id
        )
        m = ts.read_manifest(args.root, v)
        print(
            json.dumps(
                {
                    "version": v,
                    "operation": m.get("operation"),
                    "n_files": len(m["files"]),
                    "n_pos_delete_files": sum(
                        len(d) for d in (m.get("deletes") or {}).values()
                    ),
                    "n_eq_entries": len(m.get("eq_deletes") or []),
                }
            )
        )
    finally:
        if owned:
            spark.stop()
    return 0


def _snapshot_restore(args: argparse.Namespace) -> int:
    """RESTORE TABLE ... TO VERSION AS OF: republish an old version's
    state as a new commit (audit-preserving rollback). Manifests only."""
    import json

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    v = ts.restore(args.root, args.version)
    print(json.dumps({"op": "restore", "restored_version": args.version, "version": v}))
    return 0


def _snapshot_vacuum(args: argparse.Namespace) -> int:
    """VACUUM with a retention policy: --retain-last N keeps the N
    newest versions, --retain-hours H keeps versions younger than H
    hours (union when both given; --retain-from pins the cutoff
    version directly and overrides the policy flags). Expired versions
    refuse time travel afterwards; CDC/reads inside retention stay
    exact. Manifests only — no Spark session."""
    import json

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    if args.retain_from is not None:
        cutoff = args.retain_from
    else:
        cutoff = ts.retention_cutoff(
            args.root,
            keep_last=args.retain_last,
            max_age_s=(
                args.retain_hours * 3600.0
                if args.retain_hours is not None
                else None
            ),
        )
    deleted = ts.vacuum(
        args.root,
        retain_from=cutoff,
        # Delta's retentionDurationCheck shape: refuse when the newest
        # expired version was superseded less than the window ago (an
        # in-flight reader may still hold plans to its files)
        min_retention_s=(
            None if args.force else args.min_retention_hours * 3600.0
        ),
        dry_run=args.dry_run,
        orphans=args.orphans,
        orphan_grace_s=args.orphan_grace_hours * 3600.0,
    )
    print(
        json.dumps(
            {
                "retain_from": cutoff,
                "current_version": ts.current_version(args.root),
                "n_deleted": len(deleted),
                "deleted_sample": deleted[:5],
            }
        )
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="bfs_mapreduce_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("bfs", help="single-source shortest paths over an edge-list file")
    b.add_argument("-p", "--path", required=True, help="whitespace edge-list file")
    b.add_argument("-w", "--workers", type=int, default=0, help="local parallelism (0 = all cores)")
    b.add_argument("-s", "--source", type=int, default=0, help="source vertex (reference pins 0)")
    b.add_argument("--no-paths", action="store_true", help="distances only")
    b.add_argument("--limit", type=int, default=50, help="rows to print")
    b.add_argument("--results", help="CSV append sink (Dataset,n_Workers,Tempo)")
    b.set_defaults(fn=_bfs)

    q = sub.add_parser("query", help="run a named catalog query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20)
    q.set_defaults(fn=_query)

    e = sub.add_parser("explain", help="print a catalog query's physical plan")
    e.add_argument("name")
    e.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    e.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "codegen", "cost", "formatted"],
    )
    e.set_defaults(fn=_explain)

    so = sub.add_parser(
        "snapshot-optimize",
        help="run a snapshot table's maintenance verbs: compact "
        "(default), --zorder COLA COLB (OPTIMIZE ZORDER BY), or "
        "--rewrite-manifests (metadata-only segment collapse)",
    )
    so.add_argument("root")
    so.add_argument("--zorder", nargs=2, metavar=("COLA", "COLB"))
    so.add_argument("--rewrite-manifests", action="store_true")
    so.add_argument(
        "--repartition",
        action="store_true",
        help="rewrite live rows clustered under the CURRENT partition "
        "spec (the OPTIMIZE half of spec evolution, round 14)",
    )
    so.add_argument("--n-files", type=int, default=8)
    so.add_argument(
        "--small-below-bytes",
        type=int,
        help="PARTIAL compaction (round 15): rewrite only files whose "
        "manifest-recorded size is below this threshold, carrying the "
        "rest by reference",
    )
    so.set_defaults(fn=_snapshot_optimize)

    sr = sub.add_parser(
        "snapshot-restore",
        help="RESTORE TABLE ... TO VERSION AS OF: roll the current "
        "state back to VERSION as a new commit (history preserved)",
    )
    sr.add_argument("root")
    sr.add_argument("version", type=int)
    sr.set_defaults(fn=_snapshot_restore)

    sv = sub.add_parser(
        "snapshot-vacuum",
        help="vacuum a snapshot table under a retention policy: "
        "--retain-last N and/or --retain-hours H (union), or an "
        "explicit --retain-from VERSION",
    )
    sv.add_argument("root")
    sv.add_argument("--retain-last", type=int)
    sv.add_argument("--retain-hours", type=float)
    sv.add_argument("--retain-from", type=int)
    sv.add_argument(
        "--min-retention-hours",
        type=float,
        default=168.0,
        help="refuse to expire a version superseded less than this "
        "long ago (in-flight reader guard, Delta's "
        "retentionDurationCheck; default 168h)",
    )
    sv.add_argument(
        "--force",
        action="store_true",
        help="skip the min-retention reader guard",
    )
    sv.add_argument(
        "--dry-run",
        action="store_true",
        help="list what would be deleted without deleting (round 15)",
    )
    sv.add_argument(
        "--orphans",
        action="store_true",
        help="also delete files NO version ever referenced (a writer "
        "killed before its commit), when older than the grace window "
        "(round 16, Delta's VACUUM semantics)",
    )
    sv.add_argument(
        "--orphan-grace-hours",
        type=float,
        default=168.0,
        help="minimum age before an untracked file counts as an "
        "orphan rather than an in-flight writer's staging (default "
        "168h)",
    )
    sv.set_defaults(fn=_snapshot_vacuum)

    se = sub.add_parser(
        "snapshot-export-iceberg",
        help="export a snapshot table as Iceberg v2 metadata "
        "(metadata.json + Avro manifest lists/manifests, data files "
        "referenced in place); prints the export summary + history",
    )
    se.add_argument("root")
    se.add_argument("out", help="Iceberg table directory to write metadata/ under")
    se.add_argument(
        "--format-version",
        type=int,
        default=2,
        choices=(2, 3),
        help="2 = position-delete parquet manifests; 3 = puffin "
        "deletion vectors (one DV blob per masked data file)",
    )
    se.set_defaults(fn=_snapshot_export_iceberg)

    si = sub.add_parser(
        "snapshot-import-iceberg",
        help="adopt an Iceberg table layout into a fresh snapshot "
        "root by reference (v2 delete manifests map onto merge-on-"
        "read state; round 15)",
    )
    si.add_argument("location", help="Iceberg table directory (metadata/ inside)")
    si.add_argument("root", help="empty snapshot table root to create")
    si.add_argument("--snapshot-id", type=int)
    si.set_defaults(fn=_snapshot_import_iceberg)

    sf_ = sub.add_parser(
        "snapshot-ref",
        help="named refs (tags) for a snapshot table root: --set NAME "
        "[--version V] / --delete NAME / --list; tagged versions are "
        "pinned against vacuum",
    )
    sf_.add_argument("root")
    sf_.add_argument("--set", metavar="NAME")
    sf_.add_argument("--version", type=int)
    sf_.add_argument("--delete", metavar="NAME")
    sf_.add_argument("--list", action="store_true")
    sf_.set_defaults(fn=_snapshot_ref)

    sp_ = sub.add_parser(
        "snapshot-property",
        help="table properties for a snapshot root: --set KEY VALUE "
        "(JSON-parsed when possible) / --unset KEY / --list; drives "
        "commit.rewrite-segments-every (manifest-merge cadence) and "
        "changeFeed (merge CDC images) — round 16",
    )
    sp_.add_argument("root")
    sp_.add_argument("--set", nargs=2, metavar=("KEY", "VALUE"))
    sp_.add_argument("--unset", metavar="KEY")
    sp_.add_argument("--list", action="store_true")
    sp_.set_defaults(fn=_snapshot_property)

    sa = sub.add_parser(
        "snapshot-alter",
        help="metadata-only schema evolution for a snapshot table "
        "root: --rename OLD NEW, --drop COL, or --widen COL TYPE "
        "(safe promotions only)",
    )
    sa.add_argument("root")
    sa.add_argument("--rename", nargs=2, metavar=("OLD", "NEW"))
    sa.add_argument("--drop", metavar="COL")
    sa.add_argument("--widen", nargs=2, metavar=("COL", "TYPE"))
    sa.set_defaults(fn=_snapshot_alter)

    sh = sub.add_parser(
        "snapshot-history",
        help="DESCRIBE HISTORY for a snapshot table root (one JSON "
        "line per version, newest first; manifests only, no Spark)",
    )
    sh.add_argument("root")
    sh.set_defaults(fn=_snapshot_history)

    sq = sub.add_parser(
        "sql",
        help="run one SQL statement against snapshot tables: DML/DDL/"
        "maintenance verbs via the snapshot_sql shim (JSON result "
        "line), SELECT/WITH over live --table views (JSON rows)",
    )
    sq.add_argument("statement")
    sq.add_argument(
        "--table",
        action="append",
        metavar="NAME=ROOT",
        help="statement table name -> snapshot root (repeatable)",
    )
    sq.add_argument(
        "--evolve-schema",
        action="store_true",
        help="let a MERGE widen the target with new source columns",
    )
    sq.add_argument("--target-files", type=int)
    sq.add_argument("--limit", type=int, default=1000)
    sq.set_defaults(fn=_sql)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
