"""Source/sink coverage (SURVEY §2.1): edge-list text scan, CSV append
sink (the reference's only sink, BFS_map_reduce.py:155-164), JSON and
parquet round-trips."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bfs_mapreduce_spark.sources.readers import (
    load_table,
    read_edge_list,
    write_csv_append,
)


def test_edge_list_tolerates_messy_whitespace(spark, tmp_path):
    p = tmp_path / "edges.txt"
    p.write_text("0 1\n  1\t2 \n\n2   3\n")
    rows = sorted(
        (r["src"], r["dst"]) for r in read_edge_list(spark, str(p)).collect()
    )
    assert rows == [(0, 1), (1, 2), (2, 3)]


def test_csv_append_sink_accumulates(spark, tmp_path):
    out = str(tmp_path / "results")
    df1 = spark.createDataFrame([("tinyG", 4, 0.12)], "Dataset string, n_Workers int, Tempo double")
    df2 = spark.createDataFrame([("smallG", 8, 0.98)], "Dataset string, n_Workers int, Tempo double")
    write_csv_append(df1, out)
    write_csv_append(df2, out)
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == 2
    assert set(back.columns) == {"Dataset", "n_Workers", "Tempo"}


def test_json_round_trip(spark, tmp_path):
    out = str(tmp_path / "events_json")
    ev = load_table(spark, os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001"), "events")
    ev.limit(100).write.mode("overwrite").json(out)
    back = spark.read.json(out)
    assert back.count() == 100
    assert "event_id" in back.columns and "props" in back.columns


def test_parquet_round_trip_preserves_schema(spark, tmp_path, sf_smoke_dir):
    out = str(tmp_path / "docs_parquet")
    docs = load_table(spark, sf_smoke_dir, "documents")
    docs.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert back.schema == docs.schema
    assert back.count() == docs.count()


def test_events_ts_normalized_to_ntz(spark, sf_smoke_dir):
    ev = load_table(spark, sf_smoke_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    # sanity: values are 2024 wall-clock
    years = ev.select(F.year("ts").alias("y")).distinct().collect()
    assert {r["y"] for r in years} == {2024}


def test_compaction_reduces_file_count(spark, sf_oracle_dir):
    """q_sink_compaction's operational claim: the compacted directory
    holds far fewer parquet files than the fragmented one, with row
    parity guaranteed by the oracle row."""
    import glob
    import os
    import tempfile

    from bfs_mapreduce_spark.operators.sink_queries import _PROC
    from bfs_mapreduce_spark.registry import all_queries

    all_queries()["q_sink_compaction"].build(spark, sf_oracle_dir).collect()
    root = os.path.join(
        tempfile.gettempdir(),
        "bfs_mapreduce_spark_compact",
        _PROC,
        os.path.basename(sf_oracle_dir.rstrip("/")),
    )
    n_frag = len(glob.glob(os.path.join(root, "frag", "*.parquet")))
    n_compact = len(glob.glob(os.path.join(root, "compact", "*.parquet")))
    assert n_frag == 64
    assert n_compact == 2


def test_edgelist_datasource_grammar(spark, tmp_path):
    """Custom Python DataSource: blank lines and # comments skip;
    malformed lines raise (never silently drop edges); one input
    partition per file so parallelism follows the file layout."""
    from pyspark.errors.exceptions.captured import PythonException

    from bfs_mapreduce_spark.sources.edgelist_source import register_edgelist_source

    register_edgelist_source(spark)
    register_edgelist_source(spark)  # idempotent
    d = tmp_path / "edges"
    d.mkdir()
    (d / "a.txt").write_text("# comment\n0 1\n\n1 2\n")
    (d / "b.txt").write_text("2 3\n")
    df = spark.read.format("edgelist").load(str(d))
    assert df.rdd.getNumPartitions() == 2
    assert sorted((r.src, r.dst) for r in df.collect()) == [(0, 1), (1, 2), (2, 3)]

    bad = tmp_path / "bad.txt"
    bad.write_text("0 1 2\n")
    import pytest as _pytest

    with _pytest.raises(PythonException, match="expected 2 fields"):
        spark.read.format("edgelist").load(str(bad)).collect()


def test_avro_py_roundtrip_and_goldens(tmp_path):
    """Pure-Python Avro container: spec varint goldens, round-trip of
    every supported primitive + nullable unions under both codecs, and
    honest failures on unsupported constructs / corrupt files."""
    import pytest as _pytest

    from bfs_mapreduce_spark.sources.avro_py import (
        _write_long,
        read_avro,
        spark_ddl,
        write_avro,
    )

    # spec binary-encoding examples (Avro specification, 'Primitive Types')
    assert _write_long(0) == b"\x00"
    assert _write_long(-1) == b"\x01"
    assert _write_long(1) == b"\x02"
    assert _write_long(-64) == b"\x7f"
    assert _write_long(64) == b"\x80\x01"

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"]},
            {"name": "c", "type": "double"},
            {"name": "d", "type": "boolean"},
            {"name": "e", "type": "bytes"},
        ],
    }
    rows = [
        {"a": -(2**40), "b": "héllo", "c": 2.5, "d": True, "e": b"\x00\xff"},
        {"a": 7, "b": None, "c": -1e300, "d": False, "e": b""},
    ]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t_{codec}.avro")
        write_avro(p, schema, rows, codec=codec)
        got_schema, got = read_avro(p)
        assert got_schema == schema and got == rows
    assert spark_ddl(schema) == "a bigint, b string, c double, d boolean, e binary"

    # nested records are SUPPORTED since round 14 (Iceberg manifests);
    # a non-null 3-branch union is still an honest refusal
    with _pytest.raises(NotImplementedError, match="union"):
        write_avro(
            str(tmp_path / "x.avro"),
            {"type": "record", "name": "x",
             "fields": [{"name": "m", "type": ["null", "long", "string"]}]},
            [],
        )
    # union branch indices address the union AS DECLARED: a reversed
    # [prim, "null"] union from an external writer must round-trip,
    # not silently misparse
    rev = {
        "type": "record",
        "name": "rev",
        "fields": [{"name": "a", "type": ["long", "null"]}],
    }
    pr = str(tmp_path / "rev.avro")
    write_avro(pr, rev, [{"a": 5}, {"a": None}])
    assert read_avro(pr)[1] == [{"a": 5}, {"a": None}]

    # truncated fixed-width values raise, never default (booleans
    # previously decoded b"" as False)
    import io as _io

    from bfs_mapreduce_spark.sources.avro_py import _decode_value

    for prim, width in (("boolean", 1), ("float", 4), ("double", 8)):
        with _pytest.raises(ValueError, match="truncated value"):
            _decode_value(_io.BytesIO(b""), ("prim", prim))

    bad = tmp_path / "bad.avro"
    bad.write_bytes(b"NOPE" + b"\x00" * 32)
    with _pytest.raises(ValueError, match="bad magic"):
        read_avro(str(bad))
    # corrupt a sync marker → loud failure, not silent rows
    p = tmp_path / "sync.avro"
    write_avro(str(p), schema, rows)
    data = bytearray(p.read_bytes())
    data[-1] ^= 0xFF
    p.write_bytes(bytes(data))
    with _pytest.raises(ValueError, match="sync marker mismatch"):
        read_avro(str(p))


def test_avro_py_datasource(spark, tmp_path):
    """The avro_py DataSource reads a directory of container files with
    one partition per file and the header-derived schema."""
    from bfs_mapreduce_spark.sources.avro_py import register_avro_source, write_avro

    register_avro_source(spark)
    register_avro_source(spark)  # idempotent
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
        ],
    }
    write_avro(str(tmp_path / "a.avro"), schema, [{"id": 1, "s": "x"}, {"id": 2, "s": None}])
    write_avro(str(tmp_path / "b.avro"), schema, [{"id": 3, "s": "y"}], codec="deflate")
    df = spark.read.format("avro_py").load(str(tmp_path))
    assert df.schema.simpleString() == "struct<id:bigint,s:string>"
    assert df.rdd.getNumPartitions() == 2
    assert sorted((r.id, r.s) for r in df.collect()) == [(1, "x"), (2, None), (3, "y")]


def test_avro_py_complex_types_roundtrip(tmp_path):
    """Arrays, maps, enums, fixed — including nullable and nested
    (array-of-array, map-of-nullable) forms — round-trip under both
    codecs and map to the right Spark DDL (array<>/map<string,>/
    string/binary per the public spec's type mapping)."""
    import pytest as _pytest

    from bfs_mapreduce_spark.sources.avro_py import read_avro, spark_ddl, write_avro

    schema = {
        "type": "record",
        "name": "c",
        "fields": [
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "scores", "type": {"type": "map", "values": "double"}},
            {"name": "color", "type": {"type": "enum", "name": "Color",
                                       "symbols": ["RED", "GREEN", "BLUE"]}},
            {"name": "digest", "type": {"type": "fixed", "name": "md5", "size": 4}},
            {"name": "maybe_arr", "type": ["null", {"type": "array", "items": "long"}]},
            {"name": "grid", "type": {"type": "array",
                                      "items": {"type": "array", "items": "int"}}},
            {"name": "opt_map", "type": {"type": "map",
                                         "values": ["null", "string"]}},
        ],
    }
    rows = [
        {"tags": ["a", "b"], "scores": {"x": 1.5, "y": -2.0}, "color": "GREEN",
         "digest": b"\x01\x02\x03\x04", "maybe_arr": [1, 2, 3],
         "grid": [[1, 2], [], [3]], "opt_map": {"k": "v", "n": None}},
        {"tags": [], "scores": {}, "color": "RED",
         "digest": b"\xff\xff\xff\xff", "maybe_arr": None,
         "grid": [], "opt_map": {}},
    ]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"c_{codec}.avro")
        write_avro(p, schema, rows, codec=codec)
        got_schema, got = read_avro(p)
        assert got_schema == schema and got == rows
    assert spark_ddl(schema) == (
        "tags array<string>, scores map<string,double>, color string, "
        "digest binary, maybe_arr array<bigint>, grid array<array<int>>, "
        "opt_map map<string,string>"
    )
    # honest failures: bad enum symbol, fixed size mismatch
    with _pytest.raises(ValueError, match="not in symbols"):
        write_avro(str(tmp_path / "bad1.avro"), schema,
                   [dict(rows[0], color="MAUVE")])
    with _pytest.raises(ValueError, match="fixed size mismatch"):
        write_avro(str(tmp_path / "bad2.avro"), schema,
                   [dict(rows[0], digest=b"\x01")])


def test_avro_py_logical_types_roundtrip(tmp_path):
    """Logical types (spec 'Logical Types'): date = int days since
    epoch, timestamp-micros/millis = long since epoch, decimal =
    big-endian two's-complement unscaled bytes at the declared scale,
    uuid = annotated string; unknown annotations fall back to the
    underlying type per spec."""
    import datetime as dt
    from decimal import Decimal

    import pytest as _pytest

    from bfs_mapreduce_spark.sources.avro_py import read_avro, spark_ddl, write_avro

    schema = {"type": "record", "name": "t", "fields": [
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "tm", "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {"name": "p", "type": {"type": "bytes", "logicalType": "decimal",
                               "precision": 18, "scale": 2}},
        {"name": "u", "type": {"type": "string", "logicalType": "uuid"}},
        {"name": "maybe_d", "type": ["null", {"type": "int", "logicalType": "date"}]},
        {"name": "wat", "type": {"type": "long", "logicalType": "no-such-type"}},
    ]}
    rows = [
        {"d": dt.date(1998, 10, 3),
         "ts": dt.datetime(1997, 5, 28, 13, 45, 12, 123456),
         "tm": dt.datetime(1997, 5, 28, 13, 45, 12, 123000),
         "p": Decimal("-112946.26"),
         "u": "0f8fad5b-d9cb-469f-a165-70867728950e",
         "maybe_d": None, "wat": 7},
        {"d": dt.date(1969, 12, 25),  # negative epoch days
         "ts": dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
         "tm": dt.datetime(1970, 1, 1),
         "p": Decimal("0.00"), "u": "x",
         "maybe_d": dt.date(2026, 8, 14), "wat": -1},
    ]
    for codec in ("null", "deflate"):
        path = str(tmp_path / f"lt_{codec}.avro")
        write_avro(path, schema, rows, codec=codec)
        got_schema, got = read_avro(path)
        assert got_schema == schema and got == rows
    assert spark_ddl(schema) == (
        "d date, ts timestamp, tm timestamp, p decimal(18,2), u string, "
        "maybe_d date, wat bigint"
    )
    # sub-precision timestamps are a loud error, not silent truncation
    with _pytest.raises(ValueError, match="not representable"):
        write_avro(str(tmp_path / "bad.avro"),
                   {"type": "record", "name": "b", "fields": [
                       {"name": "tm", "type": {"type": "long",
                                               "logicalType": "timestamp-millis"}}]},
                   [{"tm": dt.datetime(1970, 1, 1, 0, 0, 0, 123456)}])
    # likewise decimals with more fractional digits than the declared
    # scale (int() would floor 1.005@scale2 to 1.00 — silent misparse)
    with _pytest.raises(ValueError, match="not representable"):
        write_avro(str(tmp_path / "bad_dec.avro"),
                   {"type": "record", "name": "b", "fields": [
                       {"name": "p", "type": {"type": "bytes",
                                              "logicalType": "decimal",
                                              "precision": 18, "scale": 2}}]},
                   [{"p": Decimal("1.005")}])


def test_avro_py_datasource_complex_and_field_order(spark, tmp_path):
    """The DataSource surfaces array/map/enum/fixed columns as Spark
    array/map/string/binary, and a directory mixing files whose fields
    are PERMUTED (same names/types, different order) stays
    column-aligned to the planned (first file's) order instead of
    silently misaligning values."""
    from bfs_mapreduce_spark.sources.avro_py import register_avro_source, write_avro

    register_avro_source(spark)
    fields = [
        {"name": "id", "type": "long"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
    ]
    schema_fwd = {"type": "record", "name": "r", "fields": fields}
    schema_rev = {"type": "record", "name": "r", "fields": fields[::-1]}
    write_avro(str(tmp_path / "a.avro"), schema_fwd, [{"id": 1, "tags": ["x", "y"]}])
    write_avro(str(tmp_path / "b.avro"), schema_rev, [{"id": 2, "tags": ["z"]}])
    df = spark.read.format("avro_py").load(str(tmp_path))
    assert df.schema.simpleString() == "struct<id:bigint,tags:array<string>>"
    assert sorted((r.id, list(r.tags)) for r in df.collect()) == [
        (1, ["x", "y"]), (2, ["z"])]

    # a file MISSING a planned field fails loudly, not misaligned
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import PythonException

    d2 = tmp_path / "mix"
    d2.mkdir()
    write_avro(str(d2 / "a.avro"), schema_fwd, [{"id": 1, "tags": []}])
    write_avro(
        str(d2 / "b.avro"),
        {"type": "record", "name": "r",
         "fields": [{"name": "id", "type": "long"}]},
        [{"id": 9}],
    )
    with _pytest.raises(PythonException, match="missing planned"):
        spark.read.format("avro_py").load(str(d2)).collect()


def test_edgelist_stream_offset_protocol(tmp_path):
    """Unit-level exercise of the streaming offset protocol the class
    docstring promises: incremental arrival delivers only new files,
    readBetweenOffsets replays exactly what the live read emitted, a
    transiently-vanished file stays in the offset (never re-ingested),
    and a misconfigured path fails loudly at stream start."""
    import os

    import pytest as _pytest

    from bfs_mapreduce_spark.sources.edgelist_source import EdgeListStreamReader

    d = tmp_path / "watch"
    d.mkdir()
    r = EdgeListStreamReader({"path": str(d)})
    o0 = r.initialOffset()  # empty existing dir: legitimate start
    (d / "a.txt").write_text("0 1\n1 2\n")
    rows1, o1 = r.read(o0)
    assert sorted(rows1) == [(0, 1), (1, 2)]
    (d / "b.txt").write_text("2 3\n")
    rows2, o2 = r.read(o1)
    assert sorted(rows2) == [(2, 3)]  # only the new file
    # replay parity with the live batches
    assert sorted(r.readBetweenOffsets(o0, o1)) == [(0, 1), (1, 2)]
    assert sorted(r.readBetweenOffsets(o1, o2)) == [(2, 3)]
    # transient listing blip: a committed file vanishing then
    # reappearing must NOT be re-ingested
    os.rename(d / "a.txt", tmp_path / "a.hidden")
    rows3, o3 = r.read(o2)
    assert list(rows3) == []
    os.rename(tmp_path / "a.hidden", d / "a.txt")
    rows4, _o4 = r.read(o3)
    assert list(rows4) == []  # a.txt still in the carried-forward offset

    with _pytest.raises(FileNotFoundError, match="no such path"):
        EdgeListStreamReader({"path": str(tmp_path / "typo")}).initialOffset()


def test_edgelist_stream_offset_stays_bounded(tmp_path):
    """Round-8 scale fix: the offset must be O(files per lateness
    window), not O(files ever seen). Stream 1,000 files in batches
    with mtimes spaced beyond a tiny lateness window — every offset's
    recent-set stays at the per-batch count and total serialized size
    is flat, while no file is lost or double-ingested."""
    import json
    import os

    from bfs_mapreduce_spark.sources.edgelist_source import EdgeListStreamReader

    d = tmp_path / "watch"
    d.mkdir()
    r = EdgeListStreamReader({"path": str(d), "lateness": "0.05"})
    off = r.initialOffset()
    got, max_recent, max_bytes = [], 0, 0
    base = 1_000_000_000_000  # deterministic synthetic mtimes (1s apart)
    for batch in range(100):
        for i in range(10):
            k = batch * 10 + i
            f = d / f"f{k:04d}.txt"
            f.write_text(f"{k} {k + 1}\n")
            os.utime(f, ns=(base + k * 10**9, base + k * 10**9))
        rows, off = r.read(off)
        got.extend(rows)
        max_recent = max(max_recent, len(off["recent"]))
        max_bytes = max(max_bytes, len(json.dumps(off)))
    assert sorted(got) == [(k, k + 1) for k in range(1000)]
    assert max_recent <= 10  # bounded by the lateness window, not history
    assert max_bytes < 2000  # flat, vs ~60 KB for a seen-file-list offset

    # a file APPEARING with an mtime older than the window is dropped
    # as too-late (documented trade), never double-counted
    late = d / "late.txt"
    late.write_text("7777 8888\n")
    os.utime(late, ns=(base, base))
    rows, off = r.read(off)
    assert list(rows) == []


def test_edgelist_stream_restart_recovery(spark, tmp_path):
    """Engine-level restart: run an availableNow pass, add a file, run
    again against the SAME checkpoint — the second pass must deliver
    only the new file's edges (no re-ingestion, no loss)."""
    from bfs_mapreduce_spark.sources.edgelist_source import register_edgelist_source

    register_edgelist_source(spark)
    d = tmp_path / "watch"
    d.mkdir()
    (d / "a.txt").write_text("0 1\n1 2\n")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("edgelist")
            .load(str(d))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert sorted(
        (r.src, r.dst) for r in spark.read.parquet(out).collect()
    ) == [(0, 1), (1, 2)]
    (d / "b.txt").write_text("2 3\n")
    run_once()
    assert sorted(
        (r.src, r.dst) for r in spark.read.parquet(out).collect()
    ) == [(0, 1), (1, 2), (2, 3)]


from hypothesis import given, settings
from hypothesis import strategies as st

# "float" is exercised in the unit tests with f32-representable values;
# arbitrary doubles would legitimately lose precision through the
# 4-byte encoding, which is Avro semantics, not a round-trip bug.
_AVRO_PRIMS = {
    "boolean": st.booleans(),
    "int": st.integers(min_value=-(2**31), max_value=2**31 - 1),
    "long": st.integers(min_value=-(2**63), max_value=2**63 - 1),
    "double": st.floats(allow_nan=False, width=64),
    "bytes": st.binary(max_size=40),
    "string": st.text(max_size=40),
}


@st.composite
def _avro_schema_and_rows(draw):
    n_fields = draw(st.integers(min_value=1, max_value=5))
    fields, row_strats = [], {}
    for i in range(n_fields):
        prim = draw(st.sampled_from(sorted(_AVRO_PRIMS)))
        nullable = draw(st.booleans())
        reversed_union = draw(st.booleans())
        if nullable:
            t = [prim, "null"] if reversed_union else ["null", prim]
            strat = st.none() | _AVRO_PRIMS[prim]
        else:
            t, strat = prim, _AVRO_PRIMS[prim]
        fields.append({"name": f"f{i}", "type": t})
        row_strats[f"f{i}"] = strat
    rows = draw(st.lists(st.fixed_dictionaries(row_strats), max_size=8))
    return {"type": "record", "name": "t", "fields": fields}, rows


@settings(max_examples=60, deadline=None)
@given(data=_avro_schema_and_rows(), codec=st.sampled_from(["null", "deflate"]))
def test_avro_py_roundtrip_property(tmp_path_factory, data, codec):
    """Property: ANY record schema in the supported subset (all
    primitives, nullable unions in either declaration order) round-trips
    exactly under both codecs — floats bit-for-bit, bytes/strings
    verbatim, None through the right union branch."""
    from bfs_mapreduce_spark.sources.avro_py import read_avro, write_avro

    schema, rows = data
    p = str(tmp_path_factory.mktemp("avroprop") / "t.avro")
    write_avro(p, schema, rows, codec=codec)
    got_schema, got = read_avro(p)
    assert got_schema == schema
    assert got == rows


def test_avro_py_executor_side_writer_roundtrip(spark, tmp_path, sf_smoke_dir):
    """round 9: the EXECUTOR-SIDE write path — each task writes its own
    container file (no driver toPandas funnel), files are
    byte-compatible with the pure-Python read_avro decoder, the
    DataSource reads them back value-exact (including date /
    timestamp_ntz / nullable columns), and append mode uniquifies
    names instead of clobbering."""
    import glob as _glob

    from bfs_mapreduce_spark.sources.avro_py import read_avro, register_avro_source

    register_avro_source(spark)
    orders = spark.read.parquet(os.path.join(sf_smoke_dir, "orders.parquet"))
    out = str(tmp_path / "orders_avro")
    orders.repartition(3).write.format("avro_py").mode("overwrite").option(
        "codec", "deflate"
    ).save(out)
    files = sorted(_glob.glob(out + "/*.avro"))
    assert len(files) == 3  # one container per executor task
    schema, rows = read_avro(files[0])  # byte-compat with the raw decoder
    assert rows and set(rows[0]) == set(orders.columns)
    back = spark.read.format("avro_py").load(out)
    assert back.orderBy("o_orderkey").collect() == orders.orderBy(
        "o_orderkey"
    ).collect()
    # append never clobbers: uniquified part names, row count grows
    n = orders.count()
    orders.limit(7).repartition(1).write.format("avro_py").mode("append").save(out)
    assert len(_glob.glob(out + "/*.avro")) == 4
    assert spark.read.format("avro_py").load(out).count() == n + 7
    # overwrite clears stale layouts (the 4-file append run) first
    orders.repartition(2).write.format("avro_py").mode("overwrite").save(out)
    assert len(_glob.glob(out + "/*.avro")) == 2
    assert spark.read.format("avro_py").load(out).count() == n


def test_snapshot_table_protocol(spark, tmp_path):
    """The mini manifest format's commit protocol: compare-and-swap
    conflict detection, append vs replace manifests, time travel
    stability across compaction, and vacuum deleting exactly the
    files no retained manifest references."""
    import os

    import pytest

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df1 = spark.range(0, 100).withColumnRenamed("id", "k")
    df2 = spark.range(100, 150).withColumnRenamed("id", "k")

    v1 = ts.commit(root, ts.stage_files(df1.repartition(2), root), base_version=0)
    assert v1 == 1 and ts.current_version(root) == 1
    # stale-base commit must CAS-fail, and fail WITHOUT moving the table
    staged = ts.stage_files(df2, root)
    with pytest.raises(ts.SnapshotConflict):
        ts.commit(root, staged, base_version=0)
    assert ts.current_version(root) == 1
    v2 = ts.commit(root, staged, base_version=1)
    assert ts.read(spark, root, 1).count() == 100
    assert ts.read(spark, root, 2).count() == 150

    v3 = ts.compact(spark, root, n_files=1)
    assert v3 == 3
    assert len(ts.read_manifest(root, 3)["files"]) == 1
    # time travel survives compaction: old manifests, old files
    assert ts.read(spark, root, 1).count() == 100
    assert ts.read(spark, root, 2).count() == 150
    assert sorted(r.k for r in ts.read(spark, root, 3).collect()) == list(range(150))

    # vacuum retaining only v3 drops v1/v2-only files; v3 still reads.
    # v3 is a REPLACE (inline manifest, no segments), so the v1/v2
    # append segments are expired metadata and are swept too (r12).
    deleted = ts.vacuum(root, retain_from=3)
    data_gone = [p for p in deleted if p.endswith(".parquet")]
    segs_gone = [p for p in deleted if p.endswith(".json")]
    assert data_gone and len(data_gone) + len(segs_gone) == len(deleted)
    assert all("_manifests" in p for p in segs_gone)
    assert ts.read(spark, root, 3).count() == 150
    with pytest.raises(Exception):
        ts.read(spark, root, 1).count()  # expired history is gone

    # staged-but-uncommitted files are invisible to every version
    ts.stage_files(spark.range(5).withColumnRenamed("id", "k"), root)
    assert ts.read(spark, root).count() == 150


def test_snapshot_stats_skipping_and_cdc(spark, tmp_path):
    """Round-10 lakehouse half: manifest column stats prune files
    without opening them (EXECUTED scan metrics prove only the kept
    files were read), and append-only file-diff CDC refuses ranges
    that cross a REPLACE commit."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.plans.introspect import scan_metrics
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    files = []
    for lo in (0, 100, 200, 300):  # four disjoint key-range files
        files += ts.stage_files(
            spark.range(lo, lo + 100).withColumnRenamed("id", "k").coalesce(1),
            root,
        )
    v1 = ts.commit(
        root, files, base_version=0, stats=ts.collect_stats(files, ["k"])
    )
    m = ts.read_manifest(root, v1)
    assert m["stats"][files[0]]["rows"] == 100
    assert m["stats"][files[0]]["cols"]["k"] == [0, 99]

    # manifest-time pruning: [150, 250] overlaps exactly two files
    kept, skipped = ts.prune_files(m, "k", 150, 250)
    assert len(kept) == 2 and len(skipped) == 2
    df, kept2, _ = ts.read_pruned(spark, root, "k", 150, 250)
    rows = sorted(r.k for r in df.collect())
    assert rows == list(range(150, 251))
    sm = scan_metrics(df)  # executed: only the 2 kept files were read
    assert sum(s["numFiles"] or 0 for s in sm) == 2

    # a predicate pruning everything raises instead of scanning nothing
    with pytest.raises(ValueError):
        ts.read_pruned(spark, root, "k", 5000, 6000)

    # CDC: append v2, changes (1,2] are exactly the appended rows
    v2 = ts.commit(
        root,
        ts.stage_files(
            spark.range(400, 420).withColumnRenamed("id", "k").coalesce(1), root
        ),
        base_version=v1,
    )
    assert sorted(r.k for r in ts.read_changes(spark, root, v1, v2).collect()) == list(
        range(400, 420)
    )
    # ... but a range crossing a compaction (REPLACE) refuses
    v3 = ts.compact(spark, root, n_files=1)
    with pytest.raises(ValueError):
        ts.read_changes(spark, root, v1, v3)

    # stats survive appends for carried-over files (skipping still works)
    m2 = ts.read_manifest(root, v2)
    assert m2["stats"][files[0]]["cols"]["k"] == [0, 99]


def test_snapshot_merge_rewrites_only_touched_files(spark, tmp_path):
    """Copy-on-write MERGE: only files containing a matched key are
    rewritten; untouched files are carried into the new manifest BY
    REFERENCE (same paths); matched rows are replaced, new keys
    inserted; stats shortlist narrows the candidate set before any
    file is opened."""
    import os

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    files = []
    for lo in (0, 100, 200):
        files += ts.stage_files(
            spark.createDataFrame(
                [(k, float(k)) for k in range(lo, lo + 100)], "k long, v double"
            ).coalesce(1),
            root,
        )
    v1 = ts.commit(
        root, files, base_version=0, stats=ts.collect_stats(files, ["k"])
    )
    # source touches only the middle file's range, plus brand-new keys
    source = spark.createDataFrame(
        [(150, -1.0), (160, -2.0), (999, 9.0)], "k long, v double"
    )
    # stats shortlist: candidate set is exactly the middle + none other
    cand, _ = ts.prune_files(ts.read_manifest(root, v1), "k", 150, 999)
    assert files[1] in cand and files[0] not in cand

    v2, staged, untouched = ts.merge_into(
        spark, root, source, ["k"], stats_cols=["k"], target_files=1
    )
    assert v2 == 2 and len(staged) == 1
    assert sorted(untouched) == sorted([files[0], files[2]])  # by reference
    m2 = ts.read_manifest(root, v2)
    assert set(untouched) <= set(m2["files"]) and files[1] not in m2["files"]
    got = {r.k: r.v for r in ts.read(spark, root).collect()}
    assert len(got) == 301  # 300 originals + 1 insert
    assert got[150] == -1.0 and got[160] == -2.0 and got[999] == 9.0
    assert got[151] == 151.0  # survivor in the rewritten file
    assert got[0] == 0.0  # untouched file intact
    # v1 time travel unaffected by the merge
    assert ts.read(spark, root, v1).count() == 300


def test_snapshot_schema_evolution_and_conflict(spark, tmp_path):
    """Schema tracking: commits merge schemas union-by-name into the
    manifest, old versions read under the schema they were committed
    with (schema time travel), pre-evolution files NULL-fill added
    columns, and a type-conflicting redefinition refuses."""
    import os

    import pytest

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    v1 = ts.commit(
        root, ts.stage_files(d1, root), base_version=0, schema=d1.schema.json()
    )
    d2 = spark.createDataFrame(
        [(3, "c", 1.5)], "k long, v string, extra double"
    )
    v2 = ts.commit(
        root, ts.stage_files(d2, root), base_version=v1, schema=d2.schema.json()
    )
    # v1 never sees the later column; v2 NULL-fills it for v1's files
    assert ts.read(spark, root, v1).columns == ["k", "v"]
    got = {r.k: r.extra for r in ts.read(spark, root, v2).collect()}
    assert got == {1: None, 2: None, 3: 1.5}
    # redefining v as a different type refuses
    bad = spark.createDataFrame([(4, 9)], "k long, v long")
    with pytest.raises(ts.SchemaConflict):
        ts.commit(
            root,
            ts.stage_files(bad, root),
            base_version=v2,
            schema=bad.schema.json(),
        )


def test_snapshot_mor_delete_protocol(spark, tmp_path):
    """Round-10 merge-on-read DELETE: position-delete files mask rows
    without rewriting data; stacked deletes scan through earlier
    vectors; time travel sees pre-delete rows; compaction
    materializes; vacuum protects referenced delete files; file-diff
    CDC refuses to cross a delete commit; merge over live deletes
    neither resurrects nor duplicates rows."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    v1 = ts.commit(root, ts.stage_files(df.repartition(3), root), base_version=0)

    # delete ~1/7 of rows; no data file is rewritten
    files_before = set(ts.read_manifest(root, v1)["files"])
    v2, n_del, affected = ts.delete_where(spark, root, "grp = 0")
    assert n_del == 143 and len(affected) >= 1
    m2 = ts.read_manifest(root, v2)
    assert set(m2["files"]) == files_before  # zero rewrites
    assert m2["operation"] == "delete"
    assert ts.read(spark, root).count() == 1000 - n_del
    assert ts.read(spark, root, v1).count() == 1000  # time travel

    # stacked delete reads THROUGH the first vectors: overlapping
    # predicate (k % 2 = 0 includes already-deleted grp-0 rows) must
    # count only newly masked rows
    v3, n2, _ = ts.delete_where(spark, root, "k % 2 = 0")
    expect2 = df.filter("grp <> 0 and k % 2 = 0").count()
    assert n2 == expect2
    assert ts.read(spark, root).count() == 1000 - n_del - n2

    # empty delete is a no-op, not a commit
    assert ts.delete_where(spark, root, "k < 0") == (v3, 0, [])
    assert ts.current_version(root) == v3

    # CDC refuses to file-diff across a delete commit
    with pytest.raises(ValueError, match="delete"):
        ts.read_changes(spark, root, v1, v3)

    # merge over live deletes: updates must not resurrect masked rows
    src = df.filter("k % 10 = 1").withColumn("grp", F.lit(99))
    _v, _staged, _unt = ts.merge_into(spark, root, src, ["k"], target_files=1)
    got = ts.read(spark, root)
    exp = (
        df.filter("grp <> 0 and k % 2 = 1 and k % 10 <> 1").count()
        + src.count()
    )
    assert got.count() == exp
    assert got.groupBy("k").count().filter("count > 1").count() == 0

    # compaction materializes the remaining vectors
    rows_before = got.count()
    v_c = ts.compact(spark, root, n_files=1)
    m_c = ts.read_manifest(root, v_c)
    assert m_c.get("deletes") == {}
    assert ts.read(spark, root).count() == rows_before

    # vacuum retaining v2 must keep v2's delete files (its read still
    # applies them correctly afterwards)
    ts.vacuum(root, retain_from=v2)
    assert ts.read(spark, root, v2).count() == 1000 - n_del


def test_csv_malformed_mode_contracts(spark, tmp_path):
    """The three CSV parse modes, pinned per malformation class — and
    the column-pruning caveat that makes q_scan_csv_badrecords carry
    its id_sum column: Spark corrupt-flags ONLY conversion failures
    in columns the plan parses."""
    import pytest
    from pyspark.sql import functions as F

    d = str(tmp_path / "csv")
    import os

    os.makedirs(d)
    with open(os.path.join(d, "x.csv"), "w") as f:
        f.write(
            "1,en,2.50\n"        # clean
            "xx,en,2.50\n"       # bad bigint
            "2,en,N/A\n"         # bad double
            "3,en\n"             # too few tokens
            "4,en,2.50,EXTRA\n"  # too many tokens
        )
    schema = "doc_id bigint, lang string, score double"

    # PERMISSIVE: all four dirty classes flagged, raw line preserved
    p = (
        spark.read.schema(schema + ", _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(d)
    )
    rows = {r._corrupt: r for r in p.collect()}
    assert rows[None].doc_id == 1
    assert set(rows) == {
        None, "xx,en,2.50", "2,en,N/A", "3,en", "4,en,2.50,EXTRA"
    }
    # partially-parsed fields survive on corrupt rows (dead-letter
    # sinks rely on this)
    assert rows["xx,en,2.50"].doc_id is None
    assert rows["xx,en,2.50"].score == 2.5

    # DROPMALFORMED with every column parsed keeps only the clean row
    kept = (
        spark.read.schema(schema)
        .option("mode", "DROPMALFORMED")
        .csv(d)
        .select("doc_id", "lang", "score")
        .collect()
    )
    assert [tuple(r) for r in kept] == [(1, "en", 2.5)]

    # the pruning caveat: parse only lang and NOTHING is malformed
    lang_only = (
        spark.read.schema(schema)
        .option("mode", "DROPMALFORMED")
        .csv(d)
        .select("lang")
        .collect()
    )
    assert len(lang_only) == 5

    # FAILFAST raises as soon as a parsed column fails conversion
    with pytest.raises(Exception, match="FAILFAST|Malformed"):
        (
            spark.read.schema(schema)
            .option("mode", "FAILFAST")
            .csv(d)
            .agg(F.max("score"))
            .collect()
        )


def test_parquet_aggregate_pushdown_plan_and_parity(spark, tmp_path, sf_smoke_dir):
    """q_scan_agg_pushdown's claim, proven from the plan: with DSv2
    parquet + aggregatePushdown the per-partition MIN/MAX/COUNT is
    answered by the BatchScan itself (PushedAggregation and
    PushedGroupBy nodes), and the values equal the ordinary
    aggregation's."""
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources.readers import load_table

    out = str(tmp_path / "p")
    orders = load_table(spark, sf_smoke_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    (
        orders.withColumn("o_year", F.year("o_orderdate").cast("int"))
        .write.partitionBy("o_year")
        .parquet(out)
    )
    expected = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .groupBy("o_year")
        .agg(F.min("o_orderkey"), F.max("o_orderkey"), F.count(F.lit(1)))
        .collect()
    )
    conf = spark.conf
    old_push = conf.get("spark.sql.parquet.aggregatePushdown")
    old_v1 = conf.get("spark.sql.sources.useV1SourceList")
    try:
        conf.set("spark.sql.parquet.aggregatePushdown", "true")
        conf.set("spark.sql.sources.useV1SourceList", "")
        agg = (
            spark.read.parquet(out)
            .groupBy("o_year")
            .agg(F.min("o_orderkey"), F.max("o_orderkey"), F.count(F.lit(1)))
        )
        plan = agg._sc._jvm.PythonSQLUtils.explainString(
            agg._jdf.queryExecution(), "formatted"
        )
        assert "PushedAggregation: [MIN(o_orderkey), MAX(o_orderkey), COUNT(*)]" in plan
        assert "PushedGroupBy: [o_year]" in plan
        got = sorted(tuple(r) for r in agg.collect())
    finally:
        conf.set("spark.sql.parquet.aggregatePushdown", old_push)
        conf.set("spark.sql.sources.useV1SourceList", old_v1)
    assert got == expected


def test_snapshot_check_constraints(spark, tmp_path):
    """Round-10 CHECK constraints (Delta's ADD CONSTRAINT mechanic):
    registered as a metadata-only version, validated against existing
    data at registration, enforced on append_checked and merge_into
    new rows, carried forward by later commits, NULL counts as a
    violation, and file-diff CDC still works across the metadata-only
    commit."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.range(1, 101).select(F.col("id").alias("k"))
    v1 = ts.commit(root, ts.stage_files(df, root), base_version=0)

    # registering a constraint current data violates is refused
    with pytest.raises(ts.ConstraintViolation, match="k_big"):
        ts.add_check(spark, root, "k_big", "k > 50")
    assert ts.current_version(root) == v1

    v2 = ts.add_check(spark, root, "k_positive", "k > 0")
    assert ts.read_manifest(root, v2)["operation"] == "set_check"
    assert ts.read(spark, root).count() == 100  # files untouched

    # violating append refused BEFORE staging (no orphan data files)
    data_dirs = set(os.listdir(os.path.join(root, "data")))
    bad = spark.range(-5, 5).select(F.col("id").alias("k"))
    with pytest.raises(ts.ConstraintViolation, match="k_positive"):
        ts.append_checked(spark, root, bad)
    assert set(os.listdir(os.path.join(root, "data"))) == data_dirs
    assert ts.current_version(root) == v2

    # NULL fails the check (no silent pass-through)
    nullish = spark.range(1, 3).select(
        F.when(F.col("id") == 1, F.col("id")).alias("k")
    )
    with pytest.raises(ts.ConstraintViolation):
        ts.append_checked(spark, root, nullish)

    # clean append passes and the constraint carries forward
    v3 = ts.append_checked(
        spark, root, spark.range(101, 111).select(F.col("id").alias("k"))
    )
    assert ts.read_manifest(root, v3)["checks"] == {"k_positive": "k > 0"}
    assert ts.read(spark, root).count() == 110

    # CDC crosses the metadata-only commit fine
    assert ts.read_changes(spark, root, v1, v3).count() == 10

    # merge_into validates its source against the checks
    with pytest.raises(ts.ConstraintViolation):
        ts.merge_into(
            spark, root,
            spark.range(-3, 0).select(F.col("id").alias("k")),
            ["k"],
        )


def test_snapshot_delete_user_filepath_column_survives(spark, tmp_path):
    """Round-11 ADVICE regression: the delete-aware scans inject
    internal working columns — a user table that itself has
    `file_path` / `pos` columns must keep them (values intact) through
    delete_where and masked reads, and the anti-join must key on the
    injected physical positions, not the user's data."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.concat(F.lit("user-"), F.col("id")).alias("file_path"),
        (F.col("id") * 10).alias("pos"),
    )
    ts.commit(root, ts.stage_files(df.repartition(2), root), base_version=0)
    _v, n_del, _aff = ts.delete_where(spark, root, "k % 4 = 0")
    assert n_del == 25
    got = ts.read(spark, root)
    # user columns present, values untouched, survivors exact
    assert {"k", "file_path", "pos"} <= set(got.columns)
    rows = got.orderBy("k").collect()
    assert len(rows) == 75
    assert all(r["file_path"] == f"user-{r['k']}" for r in rows)
    assert all(r["pos"] == r["k"] * 10 for r in rows)
    # merge over a file_path-bearing table keys on physical files too
    src = df.filter("k = 1").withColumn("pos", F.lit(-1).cast("long"))
    ts.merge_into(spark, root, src, ["k"], target_files=1)
    got2 = ts.read(spark, root)
    assert got2.count() == 75
    assert got2.filter("k = 1").first()["pos"] == -1


def test_snapshot_relative_root_delete_masks(spark, tmp_path):
    """Round-11 ADVICE regression: a RELATIVE table root used to
    record relative manifest paths while delete vectors held absolute
    input_file_name() paths — the delete 'succeeded' but masked
    nothing. stage_files now normalizes to abspath, and commit raises
    on delete keys that match no committed file."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    rel = os.path.relpath(str(tmp_path / "reltbl"), os.getcwd())
    os.makedirs(rel)
    df = spark.range(0, 50).select(F.col("id").alias("k"))
    v1 = ts.commit(root=rel, files=ts.stage_files(df, rel), base_version=0)
    assert all(os.path.isabs(f) for f in ts.read_manifest(rel, v1)["files"])
    _v, n_del, _aff = ts.delete_where(spark, rel, "k < 10")
    assert n_del == 10
    assert ts.read(spark, rel).count() == 40  # actually masked

    # a dangling delete key is an error, never a silent no-op commit
    with pytest.raises(ValueError, match="absent"):
        ts.commit(
            rel,
            [],
            base_version=ts.current_version(rel),
            deletes={"/nonexistent/data.parquet": ["/dv.parquet"]},
            operation="delete",
        )


def test_snapshot_delete_mapping_is_per_file(spark, tmp_path):
    """Round-11 ADVICE regression: with n_delete_files > 1, each
    masked data file's manifest entry lists ONLY the delete files that
    actually contain rows for it — not every staged vector."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.range(0, 600).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("grp")
    )
    ts.commit(
        root,
        ts.stage_files(df.repartition(4, "k"), root),
        base_version=0,
    )
    v2, n_del, affected = ts.delete_where(
        spark, root, "grp = 1", n_delete_files=3
    )
    assert n_del == 200
    deletes = ts.read_manifest(root, v2)["deletes"]
    assert set(deletes) == set(affected)
    for data_file, dvs in deletes.items():
        for dv in dvs:  # every listed vector holds rows for THIS file
            held = (
                spark.read.parquet(dv)
                .filter(F.col("file_path") == data_file)
                .count()
            )
            assert held > 0, f"{dv} mapped to {data_file} but holds no rows"
    # and masking is still exact
    assert ts.read(spark, root).count() == 400


def test_avro_stream_commit_sweeps_stale_replay_files(tmp_path):
    """Round-11 ADVICE regression: a replayed micro-batch that lands
    with FEWER partitions than the first attempt must not leave the
    first attempt's higher-index part files behind (duplicate rows).
    commit() sweeps part-b<batch>-* before publishing."""
    import glob
    import os

    from bfs_mapreduce_spark.sources.avro_py import (
        AvroPyStreamWriter,
        _AvroCommit,
        read_avro,
        write_avro,
    )

    out = str(tmp_path / "sink")
    os.makedirs(out)
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "k", "type": "long"}],
    }
    w = AvroPyStreamWriter({"path": out}, schema)

    def attempt(rows_per_part):
        msgs = []
        for rows in rows_per_part:
            tmp = os.path.join(out, f".inflight-{len(msgs)}-{rows[0]['k']}.avro.tmp")
            write_avro(tmp, schema, rows)
            msgs.append(_AvroCommit(tmp, "", len(rows)))
        w.commit(msgs, batchId=7)

    # first attempt: 3 partitions
    attempt([[{"k": 1}], [{"k": 2}], [{"k": 3}]])
    assert len(glob.glob(out + "/part-b000007-*.avro")) == 3
    # replay with 1 partition (changed parallelism after restart)
    attempt([[{"k": 1}, {"k": 2}, {"k": 3}]])
    files = sorted(glob.glob(out + "/part-b000007-*.avro"))
    assert len(files) == 1  # stale higher-index files swept
    _s, rows = read_avro(files[0])
    assert sorted(r["k"] for r in rows) == [1, 2, 3]


def test_snapshot_concurrent_writers_cas_race(spark, tmp_path):
    """Round-11 ask #3: TWO writers racing commits against the same
    table. The manifest's exclusive creation (os.link fail-if-exists)
    is the commit point, so exactly one writer wins each version; the
    loser sees SnapshotConflict, re-reads, and retries. Afterward the
    version chain is linear, every committed batch's rows are present
    exactly once, and file-diff CDC over the whole range is exact —
    the serializability claim the format's docstring makes, now
    actually raced."""
    import os
    import threading

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    ts.commit(
        root,
        ts.stage_files(spark.range(0, 10).toDF("k"), root),
        base_version=0,
    )
    per_thread, n_threads, rows_each = 5, 3, 10
    conflicts = [0] * n_threads
    errors = []
    barrier = threading.Barrier(n_threads)

    def writer(tid):
        try:
            barrier.wait()
            for i in range(per_thread):
                lo = 1_000_000 * (tid + 1) + 1000 * i
                files = ts.stage_files(
                    spark.range(lo, lo + rows_each).toDF("k"), root
                )
                while True:
                    try:
                        ts.commit(
                            root,
                            files,
                            base_version=ts.current_version(root),
                        )
                        break
                    except ts.SnapshotConflict:
                        conflicts[tid] += 1
        except Exception as ex:  # pragma: no cover - surfaced below
            errors.append((tid, repr(ex)))

    threads = [
        threading.Thread(target=writer, args=(t,)) for t in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    total_commits = n_threads * per_thread
    final = ts.current_version(root)
    assert final == 1 + total_commits  # one version per commit, no gaps
    # linear parent chain, strictly growing append-only file lists
    prev_files = None
    for v in range(1, final + 1):
        mv = ts.read_manifest(root, v)
        assert mv["parent"] == v - 1
        if prev_files is not None:
            assert set(prev_files) < set(mv["files"])
        prev_files = mv["files"]
    # all rows present exactly once
    got = ts.read(spark, root)
    assert got.count() == 10 + total_commits * rows_each
    assert got.groupBy("k").count().filter("count > 1").count() == 0
    # CDC across the raced range is the exact appended set
    assert (
        ts.read_changes(spark, root, 1, final).count()
        == total_commits * rows_each
    )
    # the race actually happened (the barrier makes this overwhelmingly
    # likely; if the scheduler serialized everything, conflicts may be
    # 0 — so assert on the invariant above, merely REPORT contention)
    print("CAS conflicts per thread:", conflicts)


def test_snapshot_stale_pointer_heals(spark, tmp_path):
    """A writer that created its manifest but died before bumping
    ``_latest`` must not wedge the table: current_version rolls
    forward past the stale pointer and the next commit proceeds."""
    import os

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    v1 = ts.commit(
        root, ts.stage_files(spark.range(5).toDF("k"), root), base_version=0
    )
    v2 = ts.commit(
        root, ts.stage_files(spark.range(5, 9).toDF("k"), root), base_version=v1
    )
    # simulate the crash window: rewind the pointer behind the manifest
    with open(os.path.join(root, "_latest"), "w") as f:
        f.write(str(v1))
    assert ts.current_version(root) == v2  # healed by roll-forward
    v3 = ts.commit(
        root, ts.stage_files(spark.range(9, 12).toDF("k"), root), base_version=v2
    )
    assert v3 == v2 + 1
    assert ts.read(spark, root).count() == 12


def test_snapshot_equality_deletes(spark, tmp_path):
    """Round-11 ask #4: Iceberg-v2-style equality deletes — delete by
    key WITHOUT scanning victims; later appends with the same key
    survive (commit-time applies scope); stacks with position deletes;
    compact materializes; merge reads through; time travel exact."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
    )
    v1 = ts.commit(
        root, ts.stage_files(df.repartition(3), root), base_version=0
    )

    # equality delete of grp=2: zero data files read or rewritten
    keys = spark.createDataFrame([(2,)], "grp bigint")
    v2, dv_files = ts.delete_eq(spark, root, keys)
    assert len(dv_files) == 1
    m2 = ts.read_manifest(root, v2)
    assert set(m2["files"]) == set(ts.read_manifest(root, v1)["files"])
    assert m2["operation"] == "delete"
    assert ts.read(spark, root).count() == 240
    assert ts.read(spark, root).filter("grp = 2").count() == 0
    assert ts.read(spark, root, v1).count() == 300  # time travel

    # rows appended AFTER the delete keep grp=2 (applies scoping)
    late = spark.createDataFrame([(1000, 2), (1001, 3)], "k bigint, grp bigint")
    v3 = ts.commit(root, ts.stage_files(late, root), base_version=v2)
    got3 = ts.read(spark, root, v3)
    assert got3.count() == 242
    assert got3.filter("grp = 2").count() == 1  # only the late row

    # stacked position delete on top of the equality delete:
    # overlapping predicate counts only still-live rows
    v4, n_pos, _aff = ts.delete_where(spark, root, "k % 2 = 0 AND k < 300")
    assert n_pos == df.filter("grp <> 2 AND k % 2 = 0").count()
    expect_live = 242 - n_pos
    assert ts.read(spark, root).count() == expect_live

    # equality delete whose keys also hit already-masked rows: the
    # victim-less path writes the key file regardless (cheap), and the
    # read masks the union — no double-count possible by construction
    v5, _ = ts.delete_eq(spark, root, spark.createDataFrame([(4,)], "grp bigint"))
    live_after = ts.read(spark, root)
    assert live_after.filter("grp = 4 AND k < 300").count() == 0
    # NULL keys refuse loudly
    with pytest.raises(ValueError, match="NULL"):
        ts.delete_eq(
            spark, root,
            spark.createDataFrame([(None,)], "grp bigint"),
        )

    # CDC refuses to cross the eq-delete commit
    with pytest.raises(ValueError, match="delete"):
        ts.read_changes(spark, root, v1, v5)

    # compact materializes BOTH delete kinds: the replace manifest
    # carries no delete entries and reads identically
    before = sorted(tuple(r) for r in ts.read(spark, root).collect())
    v6 = ts.compact(spark, root, n_files=2)
    m6 = ts.read_manifest(root, v6)
    assert m6.get("deletes") in (None, {}) and m6.get("eq_deletes") in (None, [])
    assert sorted(tuple(r) for r in ts.read(spark, root).collect()) == before

    # vacuum keeps history: the eq-delete key file of retained v5 survives
    kept_before = os.path.exists(dv_files[0])
    assert kept_before
    ts.vacuum(root, retain_from=1)
    assert os.path.exists(dv_files[0])


def test_snapshot_merge_reads_through_equality_deletes(spark, tmp_path):
    """merge_into over live equality deletes: masked rows neither mark
    files as touched nor survive the rewrite, and the merge commit
    materializes the entries for rewritten files."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("grp")
    )
    ts.commit(root, ts.stage_files(df.repartition(2), root), base_version=0)
    ts.delete_eq(spark, root, spark.createDataFrame([(1,)], "grp bigint"))
    assert ts.read(spark, root).count() == 75

    # upsert rows 0..9 with grp=9; masked grp-1 rows must NOT resurrect
    src = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(9).cast("bigint").alias("grp")
    )
    ts.merge_into(spark, root, src, ["k"], target_files=1)
    got = ts.read(spark, root)
    # live before merge: 75; merge replaces the 7 live rows of k<10
    # (k=1,5,9 were grp-1-masked) and inserts the 3 masked keys anew
    assert got.count() == 78
    assert got.filter("k < 10").count() == 10
    assert got.filter("k < 10 AND grp <> 9").count() == 0
    assert got.filter("grp = 1").count() == 0
    assert got.groupBy("k").count().filter("count > 1").count() == 0


def test_snapshot_upsert_eq(spark, tmp_path):
    """upsert_eq (round 11): merge-on-read upsert as ONE atomic commit
    — equality delete on the source's keys scoped to pre-commit files,
    plus the source rows appended, same manifest CAS. Covers: pure
    append into an empty table, last-writer-wins on overlap, no
    self-masking of same-commit rows, txn idempotence, NULL/missing
    key refusal, CDC refusal, and compaction materializing the mask."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)

    a = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(1).cast("bigint").alias("val")
    )
    v1 = ts.upsert_eq(spark, root, a, ["k"], txn=("app", 0))
    m1 = ts.read_manifest(root, v1)
    assert m1["operation"] == "upsert"
    assert m1.get("eq_deletes") in (None, [])  # empty table: pure append
    assert ts.read(spark, root).count() == 10
    assert ts.last_txn(root, "app") == 0

    # overlap: k 5..14 at val=2 — last writer wins per key, exactly once
    b = spark.range(5, 15).select(
        F.col("id").alias("k"),
        F.lit(2).cast("bigint").alias("val"),
    )
    v2 = ts.upsert_eq(spark, root, b, ["k"], txn=("app", 1))
    got = ts.read(spark, root)
    assert got.count() == 15
    assert got.groupBy("k").count().filter("count > 1").count() == 0
    assert got.filter("k >= 5").filter("val <> 2").count() == 0
    assert got.filter("k < 5").filter("val <> 1").count() == 0
    assert ts.read(spark, root, v1).count() == 10  # time travel intact

    # same-commit rows are NOT self-masked: duplicate source keys both
    # land (the applies scope is the PRE-commit file set)
    dup = spark.createDataFrame([(100, 7), (100, 8)], "k bigint, val bigint")
    ts.upsert_eq(spark, root, dup, ["k"])
    assert ts.read(spark, root).filter("k = 100").count() == 2

    # refusals: NULL key values, missing key column
    with pytest.raises(ValueError, match="NULL"):
        ts.upsert_eq(
            spark, root,
            spark.createDataFrame([(None, 1)], "k bigint, val bigint"),
            ["k"],
        )
    with pytest.raises(ValueError, match="not in source"):
        ts.upsert_eq(spark, root, a, ["nope"])

    # file-diff CDC refuses to cross an upsert commit
    with pytest.raises(ValueError, match="upsert"):
        ts.read_changes(spark, root, v1, v2)

    # compaction materializes the equality masks; values identical
    before = sorted(tuple(r) for r in ts.read(spark, root).collect())
    v5 = ts.compact(spark, root, n_files=1)
    m5 = ts.read_manifest(root, v5)
    assert m5.get("eq_deletes") in (None, [])
    assert sorted(tuple(r) for r in ts.read(spark, root).collect()) == before


def test_snapshot_concurrent_upserts_race(spark, tmp_path):
    """Two writers racing upsert_eq on DISJOINT key ranges: the CAS
    loser retries the WHOLE upsert (its equality delete must re-scope
    `applies` to the new base's files), and afterward every key holds
    its writer's LAST value exactly once — the serializability story
    of the streaming-upsert commit, actually raced."""
    import os
    import threading

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    base = spark.range(0, 40).select(
        F.col("id").alias("k"), F.lit(0).cast("bigint").alias("val")
    )
    ts.commit(root, ts.stage_files(base, root), base_version=0)

    per_thread, n_threads = 4, 2
    errors: list = []
    barrier = threading.Barrier(n_threads)

    def writer(tid):
        try:
            barrier.wait()
            for i in range(1, per_thread + 1):
                # thread 0 owns keys 0..19, thread 1 owns 20..39;
                # round i rewrites the whole range at val = tid*100+i
                src = spark.range(20 * tid, 20 * (tid + 1)).select(
                    F.col("id").alias("k"),
                    F.lit(tid * 100 + i).cast("bigint").alias("val"),
                )
                while True:
                    try:
                        ts.upsert_eq(spark, root, src, ["k"])
                        break
                    except ts.SnapshotConflict:
                        continue  # re-stage against the moved base
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    # linear version chain: 1 seed + 8 upserts
    assert ts.current_version(root) == 1 + per_thread * n_threads
    got = ts.read(spark, root)
    assert got.count() == 40
    assert got.groupBy("k").count().filter("count > 1").count() == 0
    # last writer wins per key range, regardless of interleaving
    assert got.filter("k < 20").filter(f"val <> {per_thread}").count() == 0
    assert got.filter("k >= 20").filter(f"val <> {100 + per_thread}").count() == 0


def test_snapshot_optimize_zorder(spark, tmp_path):
    """optimize_zorder: REPLACE rewrite Morton-clustered on two keys —
    values identical, old layout readable by time travel, both delete
    kinds materialized by the rewrite, fresh stats make single-column
    bands skip files where the arrival layout skipped none."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.range(0, 4096).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id") * 2654435761, F.lit(4096)).alias("a"),
        F.pmod(F.col("id") * 40503, F.lit(4096)).alias("b"),
    )
    files = ts.stage_files(df.repartition(8), root)
    v1 = ts.commit(
        root, files, base_version=0, stats=ts.collect_stats(files, ["a", "b"])
    )
    # arrival layout: every file spans both ranges -> nothing skips
    m1 = ts.read_manifest(root, v1)
    assert len(ts.prune_files(m1, "a", 0, 200)[1]) == 0
    assert len(ts.prune_files(m1, "b", 0, 200)[1]) == 0

    # stack both delete kinds, then optimize: the rewrite reads through
    ts.delete_where(spark, root, "k % 5 = 0")
    v3, _ = ts.delete_eq(spark, root, spark.createDataFrame([(7,)], "k bigint"))
    live = sorted(tuple(r) for r in ts.read(spark, root).collect())

    v4 = ts.optimize_zorder(spark, root, "a", "b", n_files=16)
    m4 = ts.read_manifest(root, v4)
    assert m4["operation"] == "optimize"
    assert m4.get("deletes") in (None, {}) and m4.get("eq_deletes") in (None, [])
    assert sorted(tuple(r) for r in ts.read(spark, root).collect()) == live
    assert ts.read(spark, root, v1).count() == 4096  # history intact

    # z-clustering: a thin band on EITHER key now skips files
    assert len(ts.prune_files(m4, "a", 0, 200)[1]) > 0
    assert len(ts.prune_files(m4, "b", 0, 200)[1]) > 0
    # pruned read returns exactly the band rows
    dfa, kept, skipped = ts.read_pruned(spark, root, "a", 0, 200)
    assert len(kept) + len(skipped) == 16
    want = len([r for r in live if r[1] <= 200])
    assert dfa.filter("a <= 200").count() == want

    with pytest.raises(ValueError, match="not in table schema"):
        ts.optimize_zorder(spark, root, "a", "nope")


def test_snapshot_manifest_segments_append_cost(spark, tmp_path):
    """Manifest segments (round 11): APPEND commits write O(new files)
    metadata — the version manifest references immutable segment files
    and adds one for its own batch, so per-append manifest size stays
    flat while the table's file count grows; a REPLACE flattens back
    to an inline list. Reads, stats skipping, time travel, and the
    delete kinds are unchanged through the flattened view."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    v = 0
    for i in range(6):  # 6 appends x 4 files
        df = spark.range(100 * i, 100 * (i + 1)).select(
            F.col("id").alias("k")
        )
        files = ts.stage_files(df.repartition(4), root)
        v = ts.commit(
            root, files, base_version=v, stats=ts.collect_stats(files, ["k"])
        )

    # flattened view: all 24 files, all stats, right rows
    m = ts.read_manifest(root, v)
    assert len(m["files"]) == 24 and len(m["stats"]) == 24
    assert ts.read(spark, root).count() == 600
    assert ts.read(spark, root, 2).count() == 200  # time travel flattens too

    # the RAW manifest on disk is O(new files): its inline file list is
    # empty and its byte size stays flat as appends accumulate
    raw3 = _json.load(open(os.path.join(root, "_manifests", "v3.json")))
    raw6 = _json.load(open(os.path.join(root, "_manifests", "v6.json")))
    assert raw3["files"] == [] and raw6["files"] == []
    assert len(raw6["segments"]) == len(raw3["segments"]) + 3
    sz3 = os.path.getsize(os.path.join(root, "_manifests", "v3.json"))
    sz6 = os.path.getsize(os.path.join(root, "_manifests", "v6.json"))
    # growth per append is ONE segment path (~O(1) bytes), not the
    # 4 file paths + their stats an inline manifest would re-list
    per_append = (sz6 - sz3) / 3
    seg_sz = os.path.getsize(raw6["segments"][-1])
    assert per_append < seg_sz / 2, (per_append, seg_sz)

    # stats skipping works off the flattened stats
    kept, skipped = ts.prune_files(m, "k", 0, 99)
    assert len(kept) == 4 and len(skipped) == 20

    # deletes + vacuum interact with segments correctly
    ts.delete_where(spark, root, "k % 2 = 0")
    assert ts.read(spark, root).count() == 300
    ts.vacuum(root, retain_from=1)
    assert ts.read(spark, root, 1).count() == 100  # nothing GC'd wrongly

    # REPLACE flattens: inline list, no segments, same values
    vr = ts.compact(spark, root, n_files=2)
    raw_r = _json.load(open(os.path.join(root, "_manifests", f"v{vr}.json")))
    assert "segments" not in raw_r or not raw_r["segments"]
    assert len(raw_r["files"]) == 2
    assert ts.read(spark, root).count() == 300


def test_snapshot_rewrite_manifests(spark, tmp_path):
    """rewrite_manifests: metadata-only segment compaction — collapses
    N per-append segments to one, touches no data file, stays CDC-
    transparent (file set provably unchanged), and is a no-op when
    there is nothing to collapse."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    v = 0
    for i in range(5):
        files = ts.stage_files(
            spark.range(100 * i, 100 * (i + 1)).toDF("k").coalesce(2), root
        )
        v = ts.commit(
            root, files, base_version=v, stats=ts.collect_stats(files, ["k"])
        )
    before = sorted(r[0] for r in ts.read(spark, root).collect())

    vr = ts.rewrite_manifests(root)
    assert vr == v + 1
    raw = _json.load(open(os.path.join(root, "_manifests", f"v{vr}.json")))
    assert raw["operation"] == "rewrite_manifests"
    assert len(raw["segments"]) == 1 and raw["files"] == []
    m = ts.read_manifest(root, vr)
    assert len(m["files"]) == 10 and len(m["stats"]) == 10
    assert sorted(r[0] for r in ts.read(spark, root).collect()) == before
    assert ts.read(spark, root, 2).count() == 200  # history intact

    # CDC crosses the metadata-only commit: appends either side diff
    files = ts.stage_files(spark.range(500, 600).toDF("k").coalesce(1), root)
    v_after = ts.commit(root, files, base_version=vr)
    got = sorted(
        r[0] for r in ts.read_changes(spark, root, v - 1, v_after).collect()
    )
    assert got == list(range(400, 600))

    # idempotent: a fresh collapse right after one is a no-op
    v_again = ts.rewrite_manifests(root)  # collapses (old seg + new seg)
    assert v_again == v_after + 1
    assert ts.rewrite_manifests(root) == v_again  # now a true no-op
    assert ts.read(spark, root).count() == 600


def test_snapshot_batch_source_matches_read(spark, tmp_path):
    """format('snapshot') row-identity with table_snapshots.read across
    appends, position + equality deletes (incl. composite keys),
    schema evolution NULL-fill, and versionAsOf time travel."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_source import (
        register_snapshot_source,
    )

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
    )
    v1 = ts.commit(root, ts.stage_files(df.repartition(3), root), base_version=0)
    ts.delete_where(spark, root, "k % 2 = 0")
    ts.delete_eq(spark, root, spark.createDataFrame([(3,)], "grp bigint"))
    late = spark.createDataFrame(
        [(1000, 1, "x")], "k bigint, grp bigint, tag string"
    )
    ts.commit(
        root,
        ts.stage_files(late, root),
        base_version=ts.current_version(root),
        schema=late.schema.json(),
    )
    ts.delete_eq(
        spark, root, spark.createDataFrame([(1, 1)], "k bigint, grp bigint")
    )
    register_snapshot_source(spark)
    got = spark.read.format("snapshot").option("path", root).load()
    want = ts.read(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # time travel through the source
    tt = (
        spark.read.format("snapshot")
        .option("path", root)
        .option("versionAsOf", v1)
        .load()
    )
    assert tt.count() == 300 and tt.columns == ["k", "grp"]


def test_snapshot_source_columns_option(spark, tmp_path):
    """The round-18 scan-time projection: option('columns', ...) must
    narrow the schema AND preserve row identity with the full scan's
    projection — including when an equality-delete KEY column is
    pruned out (the anti-filter still applies in-task via the
    extra-fields path) and when a requested column is a schema-
    evolution NULL-fill absent from old files."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_source import (
        register_snapshot_source,
    )

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
    )
    ts.commit(root, ts.stage_files(df.repartition(3), root), base_version=0)
    ts.delete_where(spark, root, "k % 2 = 0")
    # eq delete keyed on grp — NOT requested below, so the reader must
    # still fetch it for the anti-filter and strip it afterwards
    ts.delete_eq(spark, root, spark.createDataFrame([(3,)], "grp bigint"))
    late = spark.createDataFrame(
        [(1000, 1, "x")], "k bigint, grp bigint, tag string"
    )
    ts.commit(
        root,
        ts.stage_files(late, root),
        base_version=ts.current_version(root),
        schema=late.schema.json(),
    )
    register_snapshot_source(spark)
    full = spark.read.format("snapshot").option("path", root).load()
    pruned = (
        spark.read.format("snapshot")
        .option("path", root)
        .option("columns", '["k", "tag"]')  # tag NULL-fills old files
        .load()
    )
    assert pruned.columns == ["k", "tag"]
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.select("k", "tag").collect())
    )
    # narrow single-column count (the q_scan_snapshot_source shape)
    narrow = (
        spark.read.format("snapshot")
        .option("path", root)
        .option("columns", '["k"]')
        .load()
    )
    assert narrow.count() == full.count()
    # unknown column refuses loudly
    try:
        (
            spark.read.format("snapshot")
            .option("path", root)
            .option("columns", '["nope"]')
            .load()
            .collect()
        )
        raise AssertionError("expected unknown-column refusal")
    except Exception as ex:
        assert "nope" in str(ex)


def test_snapshot_history(spark, tmp_path):
    """history(): newest-first operational view of the version chain —
    operations, file/segment/delete counts, txn watermarks."""
    import os

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    v = ts.commit(
        root, ts.stage_files(spark.range(10).toDF("k"), root), base_version=0
    )
    ts.commit(
        root,
        ts.stage_files(spark.range(10, 20).toDF("k"), root),
        base_version=v,
        txn=("app", 4),
    )
    ts.delete_where(spark, root, "k < 3")
    ts.compact(spark, root, n_files=1)
    h = ts.history(root)
    assert [r["version"] for r in h] == [4, 3, 2, 1]
    assert [r["operation"] for r in h] == [
        "compact", "delete", "append", "append",
    ]
    assert h[1]["n_pos_delete_files"] == 1 and h[0]["n_pos_delete_files"] == 0
    assert h[1]["txn"] == {"app": 4}
    assert h[0]["n_segments"] == 0 and h[1]["n_segments"] >= 1


def test_upsert_eq_enforces_checks(spark, tmp_path):
    """upsert_eq validates CHECK constraints on the offered rows before
    staging anything — the same contract as append_checked/merge_into
    (an upsert is an add plus a mask; only the add needs guarding)."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    ok = spark.range(1, 10).select(F.col("id").alias("k"))
    ts.commit(root, ts.stage_files(ok, root), base_version=0)
    ts.add_check(spark, root, "k_positive", "k > 0")

    bad = spark.createDataFrame([(5,), (-1,)], "k bigint")
    with pytest.raises(ts.ConstraintViolation, match="k_positive"):
        ts.upsert_eq(spark, root, bad, ["k"])
    assert ts.read(spark, root).count() == 9  # nothing staged or masked

    good = spark.createDataFrame([(5,), (100,)], "k bigint")
    ts.upsert_eq(spark, root, good, ["k"])
    assert ts.read(spark, root).count() == 10


def test_snapshot_verb_algebra_model(spark, tmp_path):
    """Model-based check of the snapshot format's verb algebra: a
    seeded pseudo-random program of appends / MoR upserts / equality
    deletes / predicate deletes interleaved with layout maintenance
    (compact, rewrite_manifests, optimize_zorder) is applied both to
    the table and to a driver-side dict model; the live read must
    equal the model after EVERY mutation, and a time-travel read must
    reproduce a recorded historical snapshot at the end. Maintenance
    ops must never change the model."""
    import os
    import random

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    rng = random.Random(7)
    model: dict[int, tuple[int, int]] = {}
    snapshots: dict[int, dict] = {}
    next_key = 0

    def df_of(rows):
        return spark.createDataFrame(
            [(k, a, b) for k, (a, b) in rows.items()],
            "k bigint, a bigint, b bigint",
        )

    def verify():
        got = {
            r["k"]: (r["a"], r["b"])
            for r in ts.read(spark, root).collect()
        }
        assert got == model

    # seed
    for _ in range(20):
        model[next_key] = (rng.randrange(1000), rng.randrange(1000))
        next_key += 1
    v = ts.commit(root, ts.stage_files(df_of(model), root), base_version=0)
    snapshots[v] = dict(model)

    for _step in range(10):
        op = rng.choice(
            ["append", "upsert", "del_eq", "del_where",
             "compact", "rewrite_manifests", "optimize"]
        )
        if op == "append":
            batch = {}
            for _ in range(rng.randrange(1, 6)):
                batch[next_key] = (rng.randrange(1000), rng.randrange(1000))
                next_key += 1
            v = ts.commit(
                root, ts.stage_files(df_of(batch), root),
                base_version=ts.current_version(root),
            )
            model.update(batch)
        elif op == "upsert":
            keys = rng.sample(sorted(model), min(4, len(model)))
            batch = {k: (rng.randrange(1000), rng.randrange(1000)) for k in keys}
            for _ in range(2):  # plus some inserts
                batch[next_key] = (rng.randrange(1000), rng.randrange(1000))
                next_key += 1
            v = ts.upsert_eq(spark, root, df_of(batch), ["k"])
            model.update(batch)
        elif op == "del_eq" and model:
            keys = rng.sample(sorted(model), min(3, len(model)))
            v, _ = ts.delete_eq(
                spark, root, spark.createDataFrame([(k,) for k in keys], "k bigint")
            )
            for k in keys:
                model.pop(k, None)
        elif op == "del_where" and model:
            r = rng.randrange(5)
            v, _n, _aff = ts.delete_where(spark, root, f"a % 5 = {r}")
            model = {k: ab for k, ab in model.items() if ab[0] % 5 != r}
        elif op == "compact":
            v = ts.compact(spark, root, n_files=2)
        elif op == "rewrite_manifests":
            v = ts.rewrite_manifests(root)
        elif op == "optimize":
            v = ts.optimize_zorder(spark, root, "a", "b", n_files=4)
        snapshots[ts.current_version(root)] = dict(model)
        verify()

    # time travel reproduces a mid-history snapshot exactly
    mid = sorted(snapshots)[len(snapshots) // 2]
    got_mid = {
        r["k"]: (r["a"], r["b"])
        for r in ts.read(spark, root, mid).collect()
    }
    assert got_mid == snapshots[mid]


def test_snapshot_segment_gc(spark, tmp_path, monkeypatch):
    """Round-12 metadata hygiene: (a) a commit that loses the CAS race
    deletes the segments it just wrote (nothing references them — a
    retrying streaming writer must not leak one per attempt); (b)
    vacuum sweeps _manifests/segments files referenced by no retained
    manifest, while every referenced segment survives."""
    import json as _json
    import os

    import pytest

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    v = ts.commit(root, ts.stage_files(spark.range(10).toDF("k"), root), base_version=0)
    v = ts.commit(
        root, ts.stage_files(spark.range(10, 20).toDF("k"), root), base_version=v
    )
    seg_dir = os.path.join(root, "_manifests", "segments")
    n_before = len(os.listdir(seg_dir))

    # (a) deterministic CAS loss: a racing writer publishes the same
    # version number in the window between commit()'s fast-fail check
    # and its own publish. The loser must clean up its fresh segments.
    real_pub = ts._publish_manifest
    raw_base = _json.load(open(os.path.join(root, "_manifests", f"v{v}.json")))

    def racing_pub(root_, version, payload):
        winner = dict(raw_base, version=version, parent=v, txn={})
        real_pub(root_, version, _json.dumps(winner))
        real_pub(root_, version, payload)  # -> SnapshotConflict

    monkeypatch.setattr(ts, "_publish_manifest", racing_pub)
    staged = ts.stage_files(spark.range(20, 30).toDF("k"), root)
    with pytest.raises(ts.SnapshotConflict):
        ts.commit(root, staged, base_version=v)
    monkeypatch.setattr(ts, "_publish_manifest", real_pub)
    assert len(os.listdir(seg_dir)) == n_before  # loser's segments gone
    # the retry against the new base succeeds and reads clean
    v2 = ts.commit(root, staged, base_version=ts.current_version(root))
    assert ts.read(spark, root).count() == 30

    # (b) orphan a segment by hand (pre-r12 loser debris). Round 16:
    # the DEFAULT vacuum no longer touches untracked paths (an
    # in-flight writer's fresh segment looks identical) — orphan
    # sweeping is the explicit flag + age window.
    orphan = ts._write_segment(root, ["/nonexistent.parquet"], {})
    assert os.path.exists(orphan)
    deleted = ts.vacuum(root, retain_from=1)
    assert orphan not in deleted and os.path.exists(orphan)
    deleted = ts.vacuum(root, retain_from=1, orphans=True, orphan_grace_s=0)
    assert orphan in deleted
    assert ts.read(spark, root).count() == 30
    assert ts.read(spark, root, v).count() == 20  # time travel intact


def test_snapshot_partition_spec(spark, tmp_path):
    """Round-12 partition specs (verdict ask #3): identity/truncate/
    bucket transforms recorded in the manifest at commit time, per-file
    partition tuples carried through append segments, manifest-planned
    partition pruning BEFORE footer stats, EXECUTED scan metrics
    proving only kept files were read, conservative behavior for files
    without tuples (compaction rewrites), and delete interaction."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.plans.introspect import scan_metrics
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    spec = [("identity", "cat"), ("bucket", "k", 4), ("truncate", "v", 10)]
    df = spark.range(80).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("cat"),
        (F.col("id") * 3 % 40).alias("v"),
    )
    files, parts = ts.stage_files_partitioned(df, root, spec)
    assert files and set(parts) == set(files)
    # every tuple carries all three fields with the right transforms
    for f, tup in parts.items():
        assert set(tup) == {"cat", "k_bucket_4", "v_trunc_10"}
        assert tup["k_bucket_4"] in (0, 1, 2, 3)
        assert tup["v_trunc_10"] % 10 == 0
    v1 = ts.commit(
        root, files, base_version=0, partition_spec=spec, partitions=parts
    )
    m = ts.read_manifest(root, v1)
    assert m["partition_spec"] == [list(t) for t in spec]

    # identity + bucket pruning: exact for equality
    eq = {"cat": "1", "k_bucket_4": ts.transform_literal(("bucket", "k", 4), 5)}
    kept, skipped = ts.prune_partitions(m, eq)
    assert kept and skipped
    pruned, kept2, _ = ts.read_partition_pruned(spark, root, eq)
    got = pruned.filter((F.col("cat") == "1") & (F.col("k") % 4 == 1))
    want = df.filter((F.col("cat") == "1") & (F.col("k") % 4 == 1))
    assert sorted(r.k for r in got.collect()) == sorted(
        r.k for r in want.collect()
    )
    # EXECUTED metric: the pruned scan read only the kept files
    n_rows_kept = got.count()
    mets = scan_metrics(got)
    assert sum(mt["numFiles"] for mt in mets) == len(kept2)

    # appends carry tuples through SEGMENTS
    df2 = spark.range(100, 140).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("cat"),
        (F.col("id") * 3 % 40).alias("v"),
    )
    f2, p2 = ts.stage_files_partitioned(df2, root, spec)
    v2 = ts.commit(root, f2, base_version=v1, partitions=p2)
    m2 = ts.read_manifest(root, v2)
    assert set(m2.get("partitions", {})) == set(files) | set(f2)
    kept_b, _ = ts.prune_partitions(m2, eq)
    assert any(f in kept_b for f in f2)  # new files participate

    # rewrite_manifests keeps tuples (collapsed segment carries them)
    v3 = ts.rewrite_manifests(root)
    m3 = ts.read_manifest(root, v3)
    assert set(m3.get("partitions", {})) == set(files) | set(f2)

    # truncate-range pruning composes with footer stats conservatively:
    # compaction rewrites lose tuples -> everything conservatively kept
    v4 = ts.compact(spark, root, n_files=2)
    m4 = ts.read_manifest(root, v4)
    kept_c, skipped_c = ts.prune_partitions(m4, eq)
    assert skipped_c == [] and len(kept_c) == len(m4["files"])
    # spec survives the rewrite (table property)
    assert m4["partition_spec"] == [list(t) for t in spec]

    # delete interaction: partition-pruned read applies delete vectors
    v5, n_del, _ = ts.delete_where(spark, root, "k % 10 = 1")
    assert n_del > 0
    full = ts.read(spark, root).filter(
        (F.col("cat") == "1") & (F.col("k") % 4 == 1)
    )
    pr5, _, _ = ts.read_partition_pruned(spark, root, eq)
    got5 = pr5.filter((F.col("cat") == "1") & (F.col("k") % 4 == 1))
    assert sorted(r.k for r in got5.collect()) == sorted(
        r.k for r in full.collect()
    )

    # DataSource option partitionEq plans the same pruned scan
    from bfs_mapreduce_spark.sources.snapshot_source import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    import json as _json

    via_src = (
        spark.read.format("snapshot")
        .option("path", root)
        .option("versionAsOf", v2)
        .option("partitionEq", _json.dumps(eq))
        .load()
        .filter((F.col("cat") == "1") & (F.col("k") % 4 == 1))
    )
    want2 = df.unionByName(df2).filter(
        (F.col("cat") == "1") & (F.col("k") % 4 == 1)
    )
    assert sorted(r.k for r in via_src.collect()) == sorted(
        r.k for r in want2.collect()
    )
    assert n_rows_kept == want.count()


def test_snapshot_restore(spark, tmp_path, capsys):
    """Round-12 RESTORE (Delta's rollback verb): republishes an old
    version's complete state — files, position + equality deletes,
    schema, partition metadata — as a NEW commit, so history keeps the
    mistake; CDC refuses to cross it; restoring a vacuumed version
    refuses; txn watermarks keep the CURRENT monotone progress."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.cli import main
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    v1 = ts.commit(
        root,
        ts.stage_files(spark.range(20).toDF("k"), root),
        base_version=0,
        txn=("app", 3),
    )
    # v2: delete some rows (position deletes live in the manifest)
    v2, n_del, _ = ts.delete_where(spark, root, "k >= 15")
    assert n_del == 5
    # v3: a "bad" append we want to undo
    v3 = ts.commit(
        root,
        ts.stage_files(spark.range(100, 110).toDF("k"), root),
        base_version=v2,
        txn=("app", 7),
    )
    assert ts.read(spark, root).count() == 25

    # restore to v2: the bad append's rows vanish, deletes still apply
    v4 = ts.restore(root, v2)
    assert v4 == 4
    assert sorted(r.k for r in ts.read(spark, root).collect()) == list(range(15))
    # history keeps everything; the restore commit is labeled
    h = ts.history(root)
    assert h[0]["operation"] == "restore"
    assert ts.read(spark, root, v3).count() == 25  # mistake still visible
    # txn watermark is the CURRENT one (monotone), not v2's
    assert ts.last_txn(root, "app") == 7

    # CDC refuses to cross the restore
    with pytest.raises(Exception):
        ts.read_changes(spark, root, v3, v4).count()

    # CLI verb round-trips
    rc = main(["snapshot-restore", root, "3"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 5
    assert ts.read(spark, root).count() == 25

    # a vacuumed target refuses: expire everything below the current
    ts.vacuum(root, retain_from=5)
    with pytest.raises(ValueError, match="vacuumed"):
        ts.restore(root, v1)


def test_field_id_schema_evolution(spark, tmp_path):
    """Round-13 (verdict ask #5): RENAME and DROP survive across
    versions without rewriting a single data file — columns are
    identified by manifest FIELD IDS and every read resolves each file
    through the schema active when it was written (its era). Pinned:
    rename surfaces old files' data under the new name; drop hides the
    column; a RE-ADDED name is a new field (old data never leaks);
    time travel returns the old names; compaction materializes the
    current schema; the snapshot DataSource agrees with the DataFrame
    read; CDC streaming replays through the rename with per-file name
    resolution."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_source import (
        register_snapshot_source,
    )
    from bfs_mapreduce_spark.sources.snapshot_changes_source import (
        register_snapshot_changes_source,
    )

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d1 = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("b")
    )
    v = ts.commit(
        root, ts.stage_files(d1, root), base_version=0, schema=d1.schema.json()
    )
    n_files_v1 = len(ts.read_manifest(root)["files"])
    v = ts.rename_column(root, "b", "c")
    # metadata-only: zero new data files
    assert len(ts.read_manifest(root)["files"]) == n_files_v1
    got = {r["k"]: r["c"] for r in ts.read(spark, root).collect()}
    assert got == {0: 0, 1: 10, 2: 20}

    d3 = spark.range(3, 5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("c"), F.lit("x").alias("d")
    )
    v = ts.commit(
        root, ts.stage_files(d3, root), base_version=v, schema=d3.schema.json()
    )
    v = ts.drop_column(root, "k")
    # re-added name: NEW field id — the dropped column's data must not leak
    d5 = spark.range(1).select(
        F.lit(105).cast("bigint").alias("c"),
        F.lit("y").alias("d"),
        F.lit(999).cast("bigint").alias("k"),
    )
    v = ts.commit(
        root, ts.stage_files(d5, root), base_version=v, schema=d5.schema.json()
    )
    cur = sorted(
        (r["c"], r["d"], r["k"]) for r in ts.read(spark, root).collect()
    )
    assert cur == [
        (0, None, None), (10, None, None), (20, None, None),
        (30, "x", None), (40, "x", None), (105, "y", 999),
    ]
    # time travel: old names, old visibility
    assert sorted(ts.read(spark, root, 1).columns) == ["b", "k"]
    assert sorted(ts.read(spark, root, 3).columns) == ["c", "d", "k"]
    # the snapshot DataSource resolves identically (per-file col maps)
    register_snapshot_source(spark)
    ds = (
        spark.read.format("snapshot").option("path", root).load()
    )
    assert sorted((r["c"], r["d"], r["k"]) for r in ds.collect()) == cur
    # ... including time travel to the pre-rename version
    ds1 = (
        spark.read.format("snapshot")
        .option("path", root)
        .option("versionAsOf", 1)
        .load()
    )
    assert sorted(ds1.columns) == ["b", "k"]
    # CDC: full-history replay crosses the rename — v1's files deliver
    # under the CURRENT names (per-file era resolution in the stream)
    register_snapshot_changes_source(spark)
    rows = []
    q = (
        spark.readStream.format("snapshot_changes")
        .option("path", root)
        .option("startingVersion", 0)
        .load()
        .writeStream.foreachBatch(
            lambda b, _i: rows.extend((r["c"], r["d"], r["k"]) for r in b.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(rows) == cur
    # compaction materializes the current schema; results unchanged
    ts.compact(spark, root, n_files=1)
    assert sorted(
        (r["c"], r["d"], r["k"]) for r in ts.read(spark, root).collect()
    ) == cur
    # MERGE through the renamed history: update one pre-rename row by key
    src = spark.createDataFrame([(0, "m", 7)], "c bigint, d string, k bigint")
    # (compacted table: single era now, but exercise the path pre-compact
    # on a fresh table below is covered by the delete test)
    ts.merge_into(spark, root, src, key_cols=["c"])
    merged = {r["c"]: (r["d"], r["k"]) for r in ts.read(spark, root).collect()}
    assert merged[0] == ("m", 7)


def test_delete_through_renamed_history(spark, tmp_path):
    """delete_where with a predicate on the CURRENT name must hit rows
    in files written under the OLD name (the victim scan is era-aware)."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d1 = spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("b")
    )
    ts.commit(
        root, ts.stage_files(d1, root), base_version=0, schema=d1.schema.json()
    )
    ts.rename_column(root, "b", "c")
    _v, n_deleted, _dv = ts.delete_where(spark, root, "c >= 20")
    assert n_deleted == 2
    assert sorted(r["c"] for r in ts.read(spark, root).collect()) == [0, 10]


def test_type_widening_and_cli_alter(spark, tmp_path, capsys):
    """Round-13: safe type WIDENING (Iceberg's promotion rules) — a
    commit offering a wider type adopts it (old narrow files upcast on
    read), a NARROWER append under a wide schema is accepted as-is
    (reads upcast), unsafe changes still refuse; plus the
    snapshot-alter CLI verb covering rename/drop/widen, and widening
    composing with rename (both resolve through the same field id)."""
    import json
    import os

    import pytest

    from bfs_mapreduce_spark.cli import main
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d1 = spark.range(3).selectExpr(
        "cast(id as int) as k", "cast(id * 2 as float) as x"
    )
    v = ts.commit(
        root, ts.stage_files(d1, root), base_version=0, schema=d1.schema.json()
    )
    # widening via commit: long k, double x
    d2 = spark.range(3, 5).selectExpr(
        "cast(id as long) as k", "cast(id * 2 as double) as x"
    )
    v = ts.commit(
        root, ts.stage_files(d2, root), base_version=v, schema=d2.schema.json()
    )
    cur = ts.read(spark, root)
    assert dict(cur.dtypes) == {"k": "bigint", "x": "double"}
    assert sorted((r["k"], r["x"]) for r in cur.collect()) == [
        (i, float(i * 2)) for i in range(5)
    ]
    # narrower append under the wide schema: accepted, upcast on read
    d3 = spark.range(5, 6).selectExpr(
        "cast(id as int) as k", "cast(id * 2 as float) as x"
    )
    v = ts.commit(
        root, ts.stage_files(d3, root), base_version=v, schema=d3.schema.json()
    )
    assert ts.read(spark, root).count() == 6
    # unsafe change still refuses
    bad = spark.range(1).selectExpr("cast(id as string) as k", "cast(id as double) as x")
    with pytest.raises(ts.SchemaConflict):
        ts.commit(
            root,
            ts.stage_files(bad, root),
            base_version=v,
            schema=bad.schema.json(),
        )

    # CLI: widen (no-op here, k already long), rename, drop
    rc = main(["snapshot-alter", root, "--rename", "x", "value"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["op"] == "rename"
    got = ts.read(spark, root)
    assert "value" in got.columns and "x" not in got.columns
    assert sorted(r["value"] for r in got.collect()) == [
        float(i * 2) for i in range(6)
    ]
    # explicit widen verb on a fresh narrow column via the API
    d4 = spark.range(6, 7).selectExpr(
        "cast(id as long) as k",
        "cast(id * 2 as double) as value",
        "cast(7 as int) as extra",
    )
    v = ts.commit(
        root, ts.stage_files(d4, root), base_version=ts.current_version(root),
        schema=d4.schema.json(),
    )
    rc = main(["snapshot-alter", root, "--widen", "extra", "long"])
    assert rc == 0
    assert dict(ts.read(spark, root).dtypes)["extra"] == "bigint"
    # unsafe widen refuses from the API
    with pytest.raises(ts.SchemaConflict):
        ts.alter_column_type(root, "extra", "integer")  # narrowing
    rc = main(["snapshot-alter", root, "--drop", "extra"])
    assert rc == 0
    assert "extra" not in ts.read(spark, root).columns


def test_bloom_point_skipping(spark, tmp_path):
    """Round-13 bloom file skipping: on hash-distributed keys where
    every file's [min,max] spans the domain (min/max skips nothing),
    per-file blooms prune most files for point lookups; ZERO false
    negatives over a 50-probe sweep (a false skip would lose rows);
    deterministic kept-sets; absent probes prune everything (loud)."""
    import os

    import pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.range(4000).select(
        (F.col("id") * 7919 + 13).alias("k"), (F.col("id") % 97).alias("v")
    )
    files = ts.stage_files(df.repartition(8, "k"), root)
    assert len(files) == 8
    stats = ts.collect_stats(files, ["k"])
    blooms = ts.collect_blooms(files, ["k"])
    merged = {f: {**stats.get(f, {}), **blooms.get(f, {})} for f in files}
    ts.commit(root, files, base_version=0, stats=merged)
    m = ts.read_manifest(root)

    keys = [13 + 7919 * i for i in (5, 777, 2222, 3999)]
    for k in keys:
        # min/max is near-useless on hash-distributed keys (files span
        # the domain; only domain-edge probes catch a file or two)...
        _kept_rng, skipped_rng = ts.prune_files(m, "k", k, k)
        # ...while blooms prune almost everything: 1-2 files read, not 8
        got, kept, skipped = ts.read_point_pruned(spark, root, "k", [k])
        rows = got.collect()
        assert [r["k"] for r in rows] == [k]  # found, exactly once
        assert len(kept) <= 2 and len(skipped) >= 6
        assert len(skipped) >= len(skipped_rng)  # never worse than range
    # mid-domain probe: range stats are useless (files span the domain),
    # blooms still cut the lookup to <=2 files — the 100 TB needle case
    _kept_rng_mid, skipped_rng_mid = ts.prune_files(m, "k", keys[1], keys[1])
    assert len(skipped_rng_mid) <= 1
    _got_mid, kept_mid, _ = ts.read_point_pruned(spark, root, "k", [keys[1]])
    assert len(kept_mid) <= 2
    # determinism: same probe, same kept set
    _, kept1, _ = ts.read_point_pruned(spark, root, "k", [keys[0]])
    _, kept2, _ = ts.read_point_pruned(spark, root, "k", [keys[0]])
    assert kept1 == kept2

    # zero false negatives across a 50-probe sweep
    for i in range(0, 4000, 80):
        k = 13 + 7919 * i
        got, kept, _ = ts.read_point_pruned(spark, root, "k", [k])
        assert got.count() == 1, f"false negative for {k}"

    # a probe that exists nowhere prunes every file (loud refusal)
    with pytest.raises(ValueError, match="prunes every file"):
        ts.read_point_pruned(spark, root, "k", [12])


def test_named_refs_pin_versions(spark, tmp_path, capsys):
    """Round-13 named refs (Iceberg's tags): reads resolve a ref name
    wherever they accept a version; a tagged version SURVIVES a vacuum
    whose retention policy would expire it, and becomes vacuumable
    again once the tag is deleted; restore accepts the name; history
    annotates tagged versions; the snapshot-ref CLI covers
    set/list/delete."""
    import json
    import os

    import pytest

    from bfs_mapreduce_spark.cli import main
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    v = 0
    for i in range(3):  # replace each time: old versions hold exclusive files
        files = ts.stage_files(spark.range(i * 10, i * 10 + 10).toDF("k"), root)
        v = ts.commit(root, files, base_version=v, replace=i > 0)

    rc = main(["snapshot-ref", root, "--set", "audit", "--version", "1"])
    assert rc == 0
    assert json.loads(capsys.readouterr().out.strip())["version"] == 1
    # reads accept the name
    assert sorted(r.k for r in ts.read(spark, root, "audit").collect()) == list(
        range(10)
    )
    # the tag pins v1 against a keep-only-latest vacuum
    ts.vacuum(root, retain_from=3)
    assert sorted(r.k for r in ts.read(spark, root, "audit").collect()) == list(
        range(10)
    )
    # v2 had no tag: expired
    with pytest.raises(Exception):
        ts.read(spark, root, 2).count()
    # restore by name works (v1's files survived)
    ts.restore(root, "audit")
    assert sorted(r.k for r in ts.read(spark, root).collect()) == list(range(10))
    # history shows the tag on v1
    h = {rec["version"]: rec["refs"] for rec in ts.history(root)}
    assert h[1] == ["audit"]
    # CLI list + delete; untagged v1 then expires under the same policy
    rc = main(["snapshot-ref", root, "--list"])
    assert json.loads(capsys.readouterr().out.strip()) == {"audit": 1}
    rc = main(["snapshot-ref", root, "--delete", "audit"])
    assert rc == 0
    capsys.readouterr()
    ts.vacuum(root, retain_from=4)
    with pytest.raises(Exception):
        ts.read(spark, root, 1).count()
    # current (the restore commit) still reads
    assert ts.read(spark, root).count() == 10


# ---------------------------------------------------------------- round 14
# ADVICE fixes: era-aware batch CDC, rename/drop dependent-metadata
# remapping/guards, bloom type restriction, CDC cursor clamp.


def test_read_changes_era_aware_across_rename(spark, tmp_path):
    """Batch read_changes spanning an evolve_schema (rename) commit
    must resolve pre-rename files under their write-era names — the
    round-13 code NULL-filled the renamed column for them (ADVICE)."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d1 = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("b")
    )
    v1 = ts.commit(
        root, ts.stage_files(d1, root), base_version=0, schema=d1.schema.json()
    )
    v2 = ts.rename_column(root, "b", "c")
    d3 = spark.range(3, 5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("c")
    )
    v3 = ts.commit(
        root, ts.stage_files(d3, root), base_version=v2, schema=d3.schema.json()
    )
    got = sorted(
        (r["k"], r["c"]) for r in ts.read_changes(spark, root, 0, v3).collect()
    )
    # old-era rows carry their values under the NEW name — no NULLs
    assert got == [(0, 0), (1, 10), (2, 20), (3, 30), (4, 40)]
    # a range that starts after the rename still works (new era only)
    assert sorted(
        r["k"] for r in ts.read_changes(spark, root, v2, v3).collect()
    ) == [3, 4]


def test_rename_remaps_eq_delete_keys(spark, tmp_path):
    """Renaming an equality-delete KEY column remaps the entry's cols
    and records file_cols (the physical names in the immutable delete
    files) — reads keep masking; pre-fix every read raised (ADVICE)."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_source import (
        register_snapshot_source,
    )

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d1 = spark.range(6).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("b")
    )
    v = ts.commit(
        root, ts.stage_files(d1, root), base_version=0, schema=d1.schema.json()
    )
    keys = spark.createDataFrame([(20,), (40,)], "b bigint")
    v, _files = ts.delete_eq(spark, root, keys)
    v = ts.rename_column(root, "b", "c")
    m = ts.read_manifest(root)
    e = m["eq_deletes"][0]
    assert e["cols"] == ["c"] and e["file_cols"] == ["b"]
    got = sorted(r["c"] for r in ts.read(spark, root).collect())
    assert got == [0, 10, 30, 50]  # 20 and 40 still masked
    # the Arrow DataSource path resolves identically
    register_snapshot_source(spark)
    ds = spark.read.format("snapshot").option("path", root).load()
    assert sorted(r["c"] for r in ds.collect()) == got
    # carry-forward across a later append preserves file_cols
    d2 = spark.range(6, 8).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("c")
    )
    v = ts.commit(root, ts.stage_files(d2, root), base_version=v)
    e2 = ts.read_manifest(root)["eq_deletes"][0]
    assert e2["file_cols"] == ["b"] and e2["cols"] == ["c"]
    assert sorted(r["c"] for r in ts.read(spark, root).collect()) == [
        0, 10, 30, 50, 60, 70,
    ]
    # a SECOND rename keeps the original physical names
    ts.rename_column(root, "c", "cc")
    e3 = ts.read_manifest(root)["eq_deletes"][0]
    assert e3["file_cols"] == ["b"] and e3["cols"] == ["cc"]
    assert sorted(r["cc"] for r in ts.read(spark, root).collect()) == [
        0, 10, 30, 50, 60, 70,
    ]


def test_rename_remaps_partition_spec(spark, tmp_path):
    """Renaming a partition-spec source column rewrites the spec so
    later partitioned stages use the new name (ADVICE)."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d1 = spark.range(8).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    spec = [("identity", "g")]
    files, parts = ts.stage_files_partitioned(d1, root, spec)
    v = ts.commit(
        root,
        files,
        base_version=0,
        schema=d1.schema.json(),
        partition_spec=spec,
        partitions=parts,
    )
    ts.rename_column(root, "g", "grp")
    m = ts.read_manifest(root)
    assert [list(t) for t in m["partition_spec"]] == [["identity", "grp"]]
    # staging under the remapped spec works with new-name data
    d2 = spark.range(8, 12).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("grp")
    )
    new_spec = [tuple(t) for t in m["partition_spec"]]
    files2, parts2 = ts.stage_files_partitioned(d2, root, new_spec)
    ts.commit(
        root,
        files2,
        base_version=ts.current_version(root),
        partitions=parts2,
    )
    assert ts.read(spark, root).count() == 12


def test_rename_refuses_on_check_reference(spark, tmp_path):
    """A CHECK constraint referencing the column refuses the rename —
    its SQL string would silently stop matching (ADVICE)."""
    import os

    import pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d1 = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("b")
    )
    ts.commit(
        root, ts.stage_files(d1, root), base_version=0, schema=d1.schema.json()
    )
    ts.add_check(spark, root, "b_nonneg", "b >= 0")
    with pytest.raises(ValueError, match="b_nonneg"):
        ts.rename_column(root, "b", "c")
    # unrelated rename still fine
    ts.rename_column(root, "k", "kk")
    assert sorted(ts.read(spark, root).columns) == ["b", "kk"]


def test_drop_refuses_dependent_metadata(spark, tmp_path):
    """drop_column refuses when an active eq-delete keys on the column,
    a CHECK references it, or the partition spec transforms it."""
    import os

    import pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d1 = spark.range(6).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("b"),
        (F.col("id") % 2).alias("g"),
    )
    spec = [("identity", "g")]
    files, parts = ts.stage_files_partitioned(d1, root, spec)
    ts.commit(
        root,
        files,
        base_version=0,
        schema=d1.schema.json(),
        partition_spec=spec,
        partitions=parts,
    )
    ts.add_check(spark, root, "b_nonneg", "b >= 0")
    ts.delete_eq(spark, root, spark.createDataFrame([(2,)], "k bigint"))
    with pytest.raises(ValueError, match="equality-delete"):
        ts.drop_column(root, "k")
    with pytest.raises(ValueError, match="CHECK"):
        ts.drop_column(root, "b")
    with pytest.raises(ValueError, match="partition spec"):
        ts.drop_column(root, "g")
    # after compaction materializes the eq-delete, k drops fine
    ts.compact(spark, root, n_files=1)
    ts.drop_column(root, "k")
    assert "k" not in ts.read(spark, root).columns


def test_bloom_type_restriction(spark, tmp_path):
    """Blooms accept int/str only (ADVICE): a float column refuses at
    build, a float probe refuses at prune — a type-mismatched probe
    would hash differently and silently skip a file that has the row."""
    import os

    import pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d1 = spark.range(10).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("x"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
    )
    files = ts.stage_files(d1, root)
    # build side: float column refused, int + string fine
    with pytest.raises(TypeError, match="float"):
        ts.collect_blooms(files, ["x"])
    blooms = ts.collect_blooms(files, ["k", "s"])
    stats = ts.collect_stats(files, ["k"])
    merged = {f: {**stats.get(f, {}), **blooms.get(f, {})} for f in files}
    ts.commit(root, files, base_version=0, stats=merged)
    m = ts.read_manifest(root)
    # probe side: float probe refused (even though 5.0 == 5)
    with pytest.raises(TypeError, match="float"):
        ts.prune_files_point(m, "k", [5.0])
    with pytest.raises(TypeError, match="bool"):
        ts.prune_files_point(m, "k", [True])
    # int and string probes work
    kept, _ = ts.prune_files_point(m, "k", [5])
    assert kept
    got, _k, _s = ts.read_point_pruned(spark, root, "s", ["s7"])
    assert [r["s"] for r in got.collect()] == ["s7"]


def test_cdc_commit_clamps_admission_cursor(tmp_path, spark):
    """commit(end) advances the rate-limit cursor (ADVICE): a restart
    where latestOffset() fires before any partitions() replay must not
    re-admit versions the checkpoint already committed."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_changes_source import (
        SnapshotChangesStreamReader,
    )

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    v = 0
    for i in range(3):
        d = spark.range(i * 4, (i + 1) * 4).select(
            F.col("id").alias("k")
        )
        v = ts.commit(
            root,
            ts.stage_files(d.repartition(2), root),
            base_version=v,
            schema=d.schema.json(),
        )
    # fresh reader as a restart would build it: cursor at startingVersion
    r = SnapshotChangesStreamReader(
        {"path": root, "startingVersion": "1", "maxFilesPerTrigger": "2"}
    )
    assert r._last_end == {"v": 0}
    # Spark replays commit(end) for the restored batch; cursor must move
    committed_end = {"v": 2}
    r.commit(committed_end)
    assert r._last_end == {"v": 2}
    # latestOffset (called with NO partitions() replay) admits past the
    # committed end, never behind it
    off = r.latestOffset()
    assert (off["v"], off.get("i", 1 << 60)) > (2, 0)
    # a stale commit (lower than the cursor) never moves it backwards
    r.commit({"v": 1})
    assert r._last_end["v"] >= 2


# ---------------------------------------------------------------- round 14
# Multi-writer conflict classes (verdict ask #1): rebase vs refuse.


def _interpose_once(monkeypatch, once_fn):
    """Arm _publish_manifest so the NEXT publish first lets ``once_fn``
    commit concurrently (deterministic CAS race: the interposed writer
    loses version N to the concurrent one, then retries)."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    real = ts._publish_manifest
    state = {"armed": True}

    def pub(root_, version, payload):
        if state["armed"]:
            state["armed"] = False
            once_fn()
        return real(root_, version, payload)

    monkeypatch.setattr(ts, "_publish_manifest", pub)


def test_conflict_append_append_race(spark, tmp_path):
    """append∥append: three writers, NO caller retry loops —
    append_checked rebases internally. Linear history, every batch's
    rows present exactly once, file-diff CDC exact across the race."""
    import os
    import threading

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    ts.commit(root, ts.stage_files(spark.range(0, 10).toDF("k"), root), base_version=0)
    n_threads, per_thread = 3, 3
    errors = []
    barrier = threading.Barrier(n_threads)

    def writer(tid):
        try:
            barrier.wait()
            for i in range(per_thread):
                lo = 1_000_000 * (tid + 1) + 1000 * i
                ts.append_checked(
                    spark, root, spark.range(lo, lo + 10).toDF("k")
                )
        except Exception as ex:  # pragma: no cover - surfaced below
            errors.append((tid, repr(ex)))

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    final = ts.current_version(root)
    assert final == 1 + n_threads * per_thread  # linear: one version per commit
    rows = [r["k"] for r in ts.read(spark, root).collect()]
    assert len(rows) == len(set(rows)) == 10 + n_threads * per_thread * 10
    # CDC over the raced range is exact
    cdc = [r["k"] for r in ts.read_changes(spark, root, 1, final).collect()]
    assert sorted(cdc) == sorted(set(rows) - set(range(10)))


def test_conflict_upsert_upsert_disjoint_keys(spark, tmp_path):
    """upsert∥upsert on disjoint keys: internal rebase only (no caller
    loop), linear history, last round's values win per thread, no lost
    rows."""
    import os
    import threading

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    seed = spark.range(0, 40).select(
        F.col("id").alias("k"), F.lit(0).cast("bigint").alias("val")
    )
    ts.commit(root, ts.stage_files(seed, root), base_version=0)
    n_threads, per_thread = 2, 3
    errors = []
    barrier = threading.Barrier(n_threads)

    def writer(tid):
        try:
            barrier.wait()
            for i in range(1, per_thread + 1):
                src = spark.range(20 * tid, 20 * (tid + 1)).select(
                    F.col("id").alias("k"),
                    F.lit(tid * 100 + i).cast("bigint").alias("val"),
                )
                ts.upsert_eq(spark, root, src, ["k"])
        except Exception as ex:  # pragma: no cover - surfaced below
            errors.append((tid, repr(ex)))

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert ts.current_version(root) == 1 + n_threads * per_thread
    got = {r["k"]: r["val"] for r in ts.read(spark, root).collect()}
    assert len(got) == 40
    assert all(got[k] == per_thread for k in range(0, 20))
    assert all(got[k] == 100 + per_thread for k in range(20, 40))


def test_conflict_merge_vs_compact_refuses(spark, tmp_path, monkeypatch):
    """merge∥compact: the loser's read set was rewritten — it must
    REFUSE (ConcurrentWriteConflict), leaving the winner's state; a
    redo from the new state then succeeds."""
    import os

    import pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).cast("bigint").alias("val")
    )
    ts.commit(root, ts.stage_files(d.repartition(2), root), base_version=0)
    src = spark.createDataFrame([(3, 99), (11, 99)], "k bigint, val bigint")

    _interpose_once(monkeypatch, lambda: ts.compact(spark, root, n_files=1))
    with pytest.raises(ts.ConcurrentWriteConflict, match="merge_into"):
        ts.merge_into(spark, root, src, ["k"])
    # winner's state intact: compacted, un-merged
    m = ts.read_manifest(root)
    assert m["operation"] == "compact" and len(m["files"]) == 1
    got = {r["k"]: r["val"] for r in ts.read(spark, root).collect()}
    assert got[3] == 1 and 11 not in got
    # redo from the new state succeeds
    ts.merge_into(spark, root, src, ["k"])
    got = {r["k"]: r["val"] for r in ts.read(spark, root).collect()}
    assert got[3] == 99 and got[11] == 99 and len(got) == 11


def test_conflict_merge_rebases_over_append(spark, tmp_path, monkeypatch):
    """merge∥append: the append's files are outside the merge's read
    set — the merge rebases, carrying them by reference (serialized
    merge-before-append). Both effects land, one retry, no rescan."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).cast("bigint").alias("val")
    )
    ts.commit(root, ts.stage_files(d.repartition(2), root), base_version=0)
    appended = spark.createDataFrame([(100, 7)], "k bigint, val bigint")

    _interpose_once(
        monkeypatch,
        lambda: ts.commit(
            root,
            ts.stage_files(appended, root),
            base_version=ts.current_version(root),
        ),
    )
    src = spark.createDataFrame([(3, 99)], "k bigint, val bigint")
    v, staged, untouched = ts.merge_into(spark, root, src, ["k"])
    got = {r["k"]: r["val"] for r in ts.read(spark, root).collect()}
    assert got[3] == 99      # merge applied
    assert got[100] == 7     # concurrent append survived the REPLACE
    assert len(got) == 11
    # the appended file was carried by REFERENCE (in untouched)
    append_files = set(ts.read_manifest(root, v - 1)["files"]) - set(
        ts.read_manifest(root, v - 2)["files"]
    )
    assert append_files <= set(untouched)


def test_conflict_delete_rebases_over_append(spark, tmp_path, monkeypatch):
    """delete_where∥append rebases: the delete vectors re-commit
    against the moved base; appended rows survive even when they match
    the predicate (WriteSerializable: delete serialized first)."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d = spark.range(10).select(F.col("id").alias("k"))
    ts.commit(root, ts.stage_files(d.repartition(2), root), base_version=0)
    appended = spark.createDataFrame([(8,), (20,)], "k bigint")

    _interpose_once(
        monkeypatch,
        lambda: ts.commit(
            root,
            ts.stage_files(appended, root),
            base_version=ts.current_version(root),
        ),
    )
    v, n_deleted, _files = ts.delete_where(spark, root, "k >= 8")
    assert n_deleted == 2  # k=8,9 from the scanned base only
    got = sorted(r["k"] for r in ts.read(spark, root).collect())
    # base 8,9 masked; appended 8 and 20 survive (arrived after)
    assert got == [0, 1, 2, 3, 4, 5, 6, 7, 8, 20]


def test_conflict_compact_rebases_over_append(spark, tmp_path, monkeypatch):
    """compact∥append rebases: appended files carried by reference."""
    import os

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    ts.commit(
        root,
        ts.stage_files(spark.range(10).toDF("k").repartition(4), root),
        base_version=0,
    )
    _interpose_once(
        monkeypatch,
        lambda: ts.commit(
            root,
            ts.stage_files(spark.range(100, 105).toDF("k"), root),
            base_version=ts.current_version(root),
        ),
    )
    v = ts.compact(spark, root, n_files=1)
    rows = sorted(r["k"] for r in ts.read(spark, root).collect())
    assert rows == list(range(10)) + list(range(100, 105))
    # layout: 1 rewritten file + the appended files by reference
    m = ts.read_manifest(root, v)
    assert len(m["files"]) >= 2


def test_conflict_append_refuses_evolve_and_revalidates_checks(
    spark, tmp_path, monkeypatch
):
    """append∥evolve_schema refuses (staged files would carry the wrong
    era); append∥set_check re-validates the staged rows against the
    NEW constraint before rebasing."""
    import os

    import pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d = spark.range(5).select(F.col("id").alias("k"), (F.col("id") * 10).alias("b"))
    ts.commit(
        root, ts.stage_files(d, root), base_version=0, schema=d.schema.json()
    )

    def data_files():
        out = set()
        for dirpath, _dirs, names in os.walk(os.path.join(root, "data")):
            out |= {
                os.path.join(dirpath, f)
                for f in names
                if f.endswith(".parquet")
            }
        return out

    # race 1: rename lands mid-append -> refuse
    pre_files = data_files()
    _interpose_once(monkeypatch, lambda: ts.rename_column(root, "b", "c"))
    more = spark.range(5, 8).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("b")
    )
    with pytest.raises(ts.ConcurrentWriteConflict, match="evolve_schema"):
        ts.append_checked(spark, root, more)
    # the refusal sweeps its staged files: no orphans (round 15 ADVICE)
    assert data_files() == pre_files
    # race 2: a set_check lands mid-append; offered rows violate it
    monkeypatch.undo()
    _interpose_once(
        monkeypatch,
        lambda: ts.add_check(spark, root, "small_k", "k < 6"),
    )
    bad = spark.range(6, 9).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("c")
    )
    with pytest.raises(ts.ConstraintViolation, match="small_k"):
        ts.append_checked(spark, root, bad)
    # the post-staging re-validation refusal sweeps its staged files too
    assert data_files() == pre_files
    # ...and rows satisfying the new check rebase fine
    monkeypatch.undo()
    _interpose_once(
        monkeypatch,
        lambda: ts.commit(
            root,
            ts.stage_files(
                spark.createDataFrame([(5, 50)], "k bigint, c bigint"), root
            ),
            base_version=ts.current_version(root),
        ),
    )
    ok = spark.createDataFrame([(4, 40)], "k bigint, c bigint")
    ts.append_checked(spark, root, ok)
    ks = sorted(r["k"] for r in ts.read(spark, root).collect())
    assert ks == [0, 1, 2, 3, 4, 4, 5]


_RACE_ROW = "k bigint, a bigint, b bigint"


def _race_table(spark, root):
    """k = 0..11 in three identity(a) partition files — a table every
    CAS-rebasing write verb (partition rewrite included) accepts."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    os.makedirs(root)
    d = spark.range(12).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("a"),
        (F.col("id") * 7).alias("b"),
    )
    spec = [("identity", "a")]
    files, parts = ts.stage_files_partitioned(d, root, spec)
    ts.commit(
        root,
        files,
        base_version=0,
        schema=d.schema.json(),
        partition_spec=spec,
        partitions=parts,
    )


def _concurrent_append(spark, root, ks):
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    rows = spark.createDataFrame([(k, 1, 7 * k) for k in ks], _RACE_ROW)
    ts.commit(
        root, ts.stage_files(rows, root), base_version=ts.current_version(root)
    )


def _write_verb(spark, root, verb, max_retries=5):
    """Run one of the nine CAS-rebasing write verbs on a _race_table."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    def src():
        return spark.createDataFrame([(3, 1, 99), (50, 2, 99)], _RACE_ROW)

    n = max_retries
    return {
        "append_checked": lambda: ts.append_checked(
            spark, root, src(), max_retries=n
        ),
        "rewrite_partitioned": lambda: ts.rewrite_partitioned(
            spark, root, max_retries=n
        ),
        "compact": lambda: ts.compact(spark, root, n_files=1, max_retries=n),
        "optimize_zorder": lambda: ts.optimize_zorder(
            spark, root, "a", "b", n_files=2, max_retries=n
        ),
        "delete_where": lambda: ts.delete_where(
            spark, root, "k = 3", max_retries=n
        ),
        "delete_eq": lambda: ts.delete_eq(
            spark, root, spark.createDataFrame([(3,)], "k bigint"),
            max_retries=n,
        ),
        "upsert_eq": lambda: ts.upsert_eq(
            spark, root, src(), ["k"], max_retries=n
        ),
        "merge_into": lambda: ts.merge_into(
            spark, root, src(), ["k"], max_retries=n
        ),
        # the change feed routes merge_into through its clause path
        "merge_with_clauses": lambda: ts.merge_into(
            spark, root, src(), ["k"], change_feed=True, max_retries=n
        ),
    }[verb]()


_WRITE_VERBS = [
    "append_checked",
    "rewrite_partitioned",
    "compact",
    "optimize_zorder",
    "delete_where",
    "delete_eq",
    "upsert_eq",
    "merge_into",
    "merge_with_clauses",
]


@pytest.mark.parametrize(
    "verb, op",
    [
        ("delete_eq", "delete"),
        ("optimize_zorder", "optimize"),
        ("rewrite_partitioned", "repartition"),
    ],
)
def test_conflict_rebases_over_append_eq_zorder_repartition(
    spark, tmp_path, monkeypatch, verb, op
):
    """delete_eq / optimize_zorder / rewrite_partitioned ∥ append: the
    verb loses the CAS to the append and rebases. Both effects land —
    the appended k=3 row survives the delete (serialized
    delete-before-append) and the rewrites carry the appended file by
    reference — and history stays linear: append, then the verb."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    _race_table(spark, root)
    _interpose_once(monkeypatch, lambda: _concurrent_append(spark, root, [3, 100]))
    out = _write_verb(spark, root, verb)
    v = out[0] if isinstance(out, tuple) else out
    assert v == ts.current_version(root) == 3
    assert ts._op_of(root, v - 1) == "append"
    assert ts._op_of(root, v) == op
    base_ks = [k for k in range(12) if verb != "delete_eq" or k != 3]
    ks = sorted(r["k"] for r in ts.read(spark, root).collect())
    assert ks == sorted(base_ks + [3, 100])
    appended = set(ts.read_manifest(root, v - 1)["files"]) - set(
        ts.read_manifest(root, v - 2)["files"]
    )
    assert appended and appended <= set(ts.read_manifest(root, v)["files"])


@pytest.mark.parametrize("verb", _WRITE_VERBS)
def test_conflict_max_retries_zero_raises_on_first_loss(
    spark, tmp_path, monkeypatch, verb
):
    """max_retries=0 is the Serializable recipe: the first CAS loss
    re-raises SnapshotConflict itself (no rebase, no
    ConcurrentWriteConflict), and the winner's version stays
    current."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    _race_table(spark, root)
    _interpose_once(monkeypatch, lambda: _concurrent_append(spark, root, [100]))
    with pytest.raises(ts.SnapshotConflict) as ei:
        _write_verb(spark, root, verb, max_retries=0)
    assert type(ei.value) is ts.SnapshotConflict
    assert ts.current_version(root) == 2
    assert ts._op_of(root, 2) == "append"
    ks = sorted(r["k"] for r in ts.read(spark, root).collect())
    assert ks == list(range(12)) + [100]


@pytest.mark.parametrize("verb", _WRITE_VERBS)
def test_conflict_retries_exhausted_reraises(spark, tmp_path, monkeypatch, verb):
    """A writer that loses every CAS race re-raises SnapshotConflict
    after max_retries rebases: max_retries + 1 attempts, each lost to a
    concurrent append, and none of the loser's commits lands."""
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    _race_table(spark, root)
    real = ts._publish_manifest
    state = {"inside": False, "appends": 0}

    def pub(root_, version, payload):
        # every publish by the writer first lets an append win its
        # version; the append's own publish goes straight through
        if not state["inside"]:
            state["inside"] = True
            try:
                _concurrent_append(spark, root, [100 + state["appends"]])
            finally:
                state["inside"] = False
            state["appends"] += 1
        return real(root_, version, payload)

    monkeypatch.setattr(ts, "_publish_manifest", pub)
    max_retries = 2
    with pytest.raises(ts.SnapshotConflict) as ei:
        _write_verb(spark, root, verb, max_retries=max_retries)
    assert type(ei.value) is ts.SnapshotConflict
    assert state["appends"] == max_retries + 1
    final = ts.current_version(root)
    assert final == 1 + max_retries + 1
    assert all(ts._op_of(root, v) == "append" for v in range(2, final + 1))


def test_partition_spec_evolution_prunes_per_era(spark, tmp_path):
    """Round-14 verdict ask #2: identity(day) -> bucket(4,key) spec
    evolution. Old files prune under their write-era spec, new files
    under the new one; the executed scan lists ONLY kept files; the
    OPTIMIZE rewrite re-clusters history under the current spec."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d1 = spark.range(24).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("day"),
        (F.col("id") * 7).alias("key"),
    )
    spec1 = [("identity", "day")]
    files1, parts1 = ts.stage_files_partitioned(d1, root, spec1)
    v1 = ts.commit(
        root,
        files1,
        base_version=0,
        schema=d1.schema.json(),
        partition_spec=spec1,
        partitions=parts1,
    )
    assert len(files1) == 3  # one file per day value
    v2 = ts.evolve_partition_spec(root, [("bucket", "key", 4)])
    d2 = spark.range(24, 48).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("day"),
        (F.col("id") * 7).alias("key"),
    )
    spec2 = [tuple(t) for t in ts.read_manifest(root)["partition_spec"]]
    files2, parts2 = ts.stage_files_partitioned(d2, root, spec2)
    v3 = ts.commit(root, files2, base_version=v2, partitions=parts2)
    m = ts.read_manifest(root)
    # new files are stamped with the new spec era, old ones are not
    assert all(m["partitions"][f].get("__spec") == v2 for f in files2)
    assert all("__spec" not in m["partitions"][f] for f in files1)

    # day predicate: prunes OLD files exactly, keeps all new (their
    # write spec does not transform day)
    kept, skipped = ts.prune_partitions_source(m, {"day": 1})
    assert set(skipped) == {f for f in files1 if parts1[f]["day"] != 1}
    assert set(kept) >= set(files2)
    # key predicate: prunes NEW files to one bucket, keeps all old
    probe_key = 24 * 7  # bucket 24*7 % 4 = 0
    kept_k, skipped_k = ts.prune_partitions_source(m, {"key": probe_key})
    assert set(kept_k) >= set(files1)
    assert set(skipped_k) == {
        f for f in files2 if parts2[f]["key_bucket_4"] != probe_key % 4
    }
    # conjunction prunes both eras at once
    kept_b, _ = ts.prune_partitions_source(m, {"day": 1, "key": probe_key})
    assert len(kept_b) < len(kept) and len(kept_b) < len(kept_k)

    # executed-scan proof: the pruned read lists ONLY kept files
    df, kept_r, _ = ts.read_partition_pruned_src(spark, root, {"day": 1})
    scanned = {p.replace("file:", "").replace("///", "/") for p in df.inputFiles()}
    assert scanned == set(kept_r)
    got = sorted(
        r["k"] for r in df.filter(F.col("day") == 1).collect()
    )
    assert got == [k for k in range(48) if k % 3 == 1]

    # CDC crosses the evolve_spec commit (metadata-only)
    assert ts.read_changes(spark, root, v1, v3).count() == 24

    # OPTIMIZE: rewrite everything under the current (bucket) spec
    v4 = ts.rewrite_partitioned(spark, root)
    m4 = ts.read_manifest(root)
    kept4, skipped4 = ts.prune_partitions_source(m4, {"key": probe_key})
    assert skipped4  # bucket pruning now bites on the whole table
    assert all(
        m4["partitions"][f].get("__spec") == v2 for f in m4["files"]
    )
    df4, kept_r4, _ = ts.read_partition_pruned_src(
        spark, root, {"key": probe_key}
    )
    got4 = sorted(
        r["k"] for r in df4.filter(F.col("key") == probe_key).collect()
    )
    assert got4 == [24]
    # values survived the rewrite
    assert sorted(r["k"] for r in ts.read(spark, root).collect()) == list(
        range(48)
    )


def test_restore_preserves_schema_eras(spark, tmp_path):
    """Round-14 fix: RESTORE re-publishes the file list inline — it
    must carry the schema log and per-file eras, or a restored
    post-rename version reads pre-rename files by name (NULL-fill)."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d1 = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("b")
    )
    ts.commit(
        root, ts.stage_files(d1, root), base_version=0, schema=d1.schema.json()
    )
    ts.rename_column(root, "b", "c")
    d3 = spark.range(3, 5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("c")
    )
    v3 = ts.commit(
        root,
        ts.stage_files(d3, root),
        base_version=ts.current_version(root),
        schema=d3.schema.json(),
    )
    expect = {0: 0, 1: 10, 2: 20, 3: 30, 4: 40}
    # a later delete, then restore back to v3 (post-rename, pre-delete)
    ts.delete_where(spark, root, "c >= 30")
    ts.restore(root, v3)
    got = {r["k"]: r["c"] for r in ts.read(spark, root).collect()}
    assert got == expect  # pre-rename files resolve by field id, not name
    # a restore to the PRE-rename version returns the old column name
    ts.restore(root, 1)
    assert sorted(ts.read(spark, root).columns) == ["b", "k"]
    assert {r["k"]: r["b"] for r in ts.read(spark, root).collect()} == {
        0: 0, 1: 10, 2: 20,
    }


# ---------------------------------------------------------------- round 14
# Iceberg metadata interop (verdict ask #3) + nested Avro records.


def test_avro_nested_record_roundtrip(tmp_path):
    """Round-14 avro_py extension: nested record types (Iceberg
    manifests are records of records) encode/decode exactly."""
    from bfs_mapreduce_spark.sources.avro_py import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "outer",
        "fields": [
            {"name": "k", "type": "long"},
            {
                "name": "inner",
                "type": {
                    "type": "record",
                    "name": "mid",
                    "fields": [
                        {"name": "s", "type": "string"},
                        {"name": "opt", "type": ["null", "long"]},
                        {
                            "name": "leaf",
                            "type": {
                                "type": "record",
                                "name": "empty_rec",
                                "fields": [],
                            },
                        },
                        {"name": "arr", "type": {"type": "array", "items": "int"}},
                    ],
                },
            },
        ],
    }
    rows = [
        {"k": 1, "inner": {"s": "a", "opt": None, "leaf": {}, "arr": [1, 2]}},
        {"k": 2, "inner": {"s": "b", "opt": 7, "leaf": {}, "arr": []}},
    ]
    p = str(tmp_path / "nested.avro")
    write_avro(p, schema, rows, codec="deflate")
    got_schema, got = read_avro(p)
    assert got == rows
    assert got_schema["fields"][1]["type"]["name"] == "mid"


def test_iceberg_export_read_roundtrip(spark, tmp_path):
    """Export a renamed-history snapshot table as Iceberg v2 metadata;
    read back current + time travel; delete-carrying versions export
    real delete manifests (round 15) that the files-only reader
    refuses."""
    import os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import iceberg_meta as im
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    out = str(tmp_path / "ice")
    os.makedirs(root)
    d1 = spark.range(6).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("b")
    )
    v = ts.commit(
        root,
        ts.stage_files(d1.repartition(2), root),
        base_version=0,
        schema=d1.schema.json(),
    )
    v = ts.rename_column(root, "b", "price")
    d3 = spark.range(6, 9).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("price")
    )
    v = ts.commit(
        root,
        ts.stage_files(d3.coalesce(1), root),
        base_version=v,
        schema=d3.schema.json(),
    )
    # round 15: a version with live deletes exports a real v2 DELETE
    # manifest (the files-only reader refuses it; import applies it)
    ts.delete_where(spark, root, "k = 0")
    summary = im.export_iceberg_metadata(root, out)
    assert sorted(summary["exported"]) == [1, 2, 3, 4]
    assert summary["exported_with_deletes"] == [4]
    with _pytest.raises(NotImplementedError, match="delete manifest"):
        im.read_iceberg_table(spark, out)  # current snapshot carries deletes
    # snapshot 3 (delete-free): old files surface under 'price'
    cur = im.read_iceberg_table(spark, out, snapshot_id=3)
    assert sorted(cur.columns) == ["k", "price"]
    assert sorted((r["k"], r["price"]) for r in cur.collect()) == [
        (i, i * 10) for i in range(9)
    ]
    # time travel to snapshot 1: the ORIGINAL schema and rows
    old = im.read_iceberg_table(spark, out, snapshot_id=1)
    assert sorted(old.columns) == ["b", "k"]
    assert old.count() == 6
    # history: newest first, current flagged
    h = im.iceberg_history(out)
    assert [x["snapshot_id"] for x in h] == [4, 3, 2, 1]
    assert h[0]["is_current"] and h[0]["schema_id"] == 1
    assert h[3]["schema_id"] == 0
    # every metadata layer parses with the from-spec Avro reader and
    # carries the spec's field-id / header-metadata shape
    import json

    from bfs_mapreduce_spark.sources.avro_py import (
        read_avro,
        read_avro_header,
    )

    md = json.load(open(summary["metadata_file"]))
    assert md["format-version"] == 2
    assert md["current-schema-id"] == 1
    nm = json.loads(md["properties"]["schema.name-mapping.default"])
    by_id = {e["field-id"]: e["names"] for e in nm}
    price_id = next(
        f["id"] for f in md["schemas"][1]["fields"] if f["name"] == "price"
    )
    assert set(by_id[price_id]) == {"price", "b"}
    snap = next(x for x in md["snapshots"] if x["snapshot-id"] == 3)
    _s, mrows = read_avro(snap["manifest-list"])
    assert mrows[0]["added_files_count"] == 1
    assert mrows[0]["existing_files_count"] == 2
    hdr, _codec, _sync, _off = read_avro_header(mrows[0]["manifest_path"])
    assert hdr["name"] == "manifest_entry"
    fid_of = {f["name"]: f.get("field-id") for f in hdr["fields"]}
    assert fid_of["status"] == 0 and fid_of["data_file"] == 2
    # round 15: the delete-carrying snapshot's list adds a content=1
    # delete manifest naming the position-delete file with its seq
    snap4 = next(x for x in md["snapshots"] if x["snapshot-id"] == 4)
    _s4, mrows4 = read_avro(snap4["manifest-list"])
    dels = [r for r in mrows4 if r["content"] == 1]
    assert len(dels) == 1 and dels[0]["added_files_count"] == 1
    _es, dentries = read_avro(dels[0]["manifest_path"])
    assert [e["data_file"]["content"] for e in dentries] == [1]
    assert dentries[0]["sequence_number"] == 4


def test_snapshot_source_partition_src_eq(spark, tmp_path, capsys):
    """The snapshot DataSource's partitionSrcEq option prunes by
    SOURCE column across spec evolution (DataFrame-path parity), and
    the CLI's snapshot-optimize --repartition rewrites under the
    current spec."""
    import json
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.cli import main
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_source import (
        register_snapshot_source,
    )

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d1 = spark.range(12).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("day")
    )
    spec1 = [("identity", "day")]
    f1, p1 = ts.stage_files_partitioned(d1, root, spec1)
    v = ts.commit(
        root, f1, base_version=0, schema=d1.schema.json(),
        partition_spec=spec1, partitions=p1,
    )
    v = ts.evolve_partition_spec(root, [("bucket", "k", 4)])
    d2 = spark.range(12, 24).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("day")
    )
    f2, p2 = ts.stage_files_partitioned(d2, root, [("bucket", "k", 4)])
    ts.commit(root, f2, base_version=v, partitions=p2)
    register_snapshot_source(spark)
    ds = (
        spark.read.format("snapshot")
        .option("path", root)
        .option("partitionSrcEq", json.dumps({"day": 1}))
        .load()
    )
    kept, skipped = ts.prune_partitions_source(
        ts.read_manifest(root), {"day": 1}
    )
    # the pruned scan plans exactly the kept files (python DataSources
    # expose no inputFiles; row-count identity is the executed proof)
    assert skipped
    assert ds.count() == spark.read.parquet(*kept).count()
    got = sorted(r["k"] for r in ds.filter("day = 1").collect())
    assert got == [k for k in range(24) if k % 3 == 1]
    # OPTIMIZE --repartition from the shell: whole table under bucket(4,k)
    rc = main(["snapshot-optimize", root, "--repartition"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out["op"] == "rewrite_partitioned"
    m = ts.read_manifest(root)
    kept_k, skipped_k = ts.prune_partitions_source(m, {"k": 5})
    assert skipped_k and len(kept_k) < len(m["files"])
    assert sorted(r["k"] for r in ts.read(spark, root).collect()) == list(
        range(24)
    )


def test_iceberg_export_partition_specs(spark, tmp_path):
    """Round-14 boundary closed: identity/truncate spec eras export as
    real Iceberg partition specs (one manifest per (snapshot, spec),
    per-file tuples in data_file.partition); bucket eras fall back to
    spec 0 with a recorded reason (pmod != murmur3 — never a lie)."""
    import json
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import iceberg_meta as im
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.avro_py import read_avro, read_avro_header

    root = str(tmp_path / "tbl")
    out = str(tmp_path / "ice")
    os.makedirs(root)
    d1 = spark.range(9).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("day")
    )
    spec1 = [("identity", "day")]
    f1, p1 = ts.stage_files_partitioned(d1, root, spec1)
    v = ts.commit(
        root, f1, base_version=0, schema=d1.schema.json(),
        partition_spec=spec1, partitions=p1,
    )
    v = ts.evolve_partition_spec(root, [("truncate", "k", 4)])
    d2 = spark.range(9, 17).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("day")
    )
    f2, p2 = ts.stage_files_partitioned(d2, root, [("truncate", "k", 4)])
    v = ts.commit(root, f2, base_version=v, partitions=p2)
    v_bucket = ts.evolve_partition_spec(root, [("bucket", "k", 4)])
    d3 = spark.range(17, 20).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("day")
    )
    f3, p3 = ts.stage_files_partitioned(d3, root, [("bucket", "k", 4)])
    ts.commit(root, f3, base_version=v_bucket, partitions=p3)

    summary = im.export_iceberg_metadata(root, out)
    assert v_bucket in summary["spec_skipped"]
    assert "murmur3" in summary["spec_skipped"][v_bucket]
    md = json.load(open(summary["metadata_file"]))
    specs = {s["spec-id"]: s for s in md["partition-specs"]}
    assert specs[0]["fields"] == []
    by_tf = {
        f["transform"]: f
        for s in md["partition-specs"]
        for f in s["fields"]
    }
    assert "identity" in by_tf and "truncate[4]" in by_tf
    assert by_tf["identity"]["field-id"] >= 1000
    assert md["last-partition-id"] == max(
        f["field-id"] for s in md["partition-specs"] for f in s["fields"]
    )
    # the current snapshot's manifest list: one manifest per spec
    snap = md["snapshots"][-1]
    _s, mrows = read_avro(snap["manifest-list"])
    spec_ids = sorted(r["partition_spec_id"] for r in mrows)
    assert 0 in spec_ids and len(spec_ids) == len(set(spec_ids)) >= 3
    # a partitioned manifest carries typed per-file tuples + header spec
    for r in mrows:
        hdr, _c, _sy, _o = read_avro_header(r["manifest_path"])
        assert hdr["name"] == "manifest_entry"
        psid = r["partition_spec_id"]
        _schema, entries = read_avro(r["manifest_path"])
        for e in entries:
            pv = e["data_file"]["partition"]
            if psid == 0:
                assert pv == {}
            else:
                want = {f["name"] for f in specs[psid]["fields"]}
                assert set(pv) == want and all(
                    pv[k] is not None for k in pv
                )
    # identity-era file tuples hold the actual day values
    ident_manifest = next(
        r for r in mrows
        if specs[r["partition_spec_id"]]["fields"]
        and specs[r["partition_spec_id"]]["fields"][0]["transform"] == "identity"
    )
    _s2, ident_entries = read_avro(ident_manifest["manifest_path"])
    assert sorted(e["data_file"]["partition"]["day"] for e in ident_entries) == [0, 1, 2]
    # values still round-trip through the generic read
    cur = im.read_iceberg_table(spark, out)
    assert sorted(r["k"] for r in cur.collect()) == list(range(20))


def test_iceberg_reader_refuses_delete_manifests(spark, tmp_path):
    """A foreign Iceberg table with v2 delete manifests must REFUSE,
    not silently return resurrected rows (round 14)."""
    import json
    import os

    import pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import iceberg_meta as im
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.avro_py import read_avro, write_avro

    root = str(tmp_path / "tbl")
    out = str(tmp_path / "ice")
    os.makedirs(root)
    d = spark.range(4).select(F.col("id").alias("k"))
    ts.commit(
        root, ts.stage_files(d, root), base_version=0, schema=d.schema.json()
    )
    summary = im.export_iceberg_metadata(root, out)
    md = json.load(open(summary["metadata_file"]))
    # forge a delete manifest into the current snapshot's manifest list
    lp = md["snapshots"][-1]["manifest-list"]
    sch, rows = read_avro(lp)
    fake = dict(rows[0])
    fake["content"] = 1  # DELETES manifest
    write_avro(lp, sch, rows + [fake])
    with pytest.raises(NotImplementedError, match="delete manifest"):
        im.read_iceberg_table(spark, out)


def test_iceberg_import_roundtrip(spark, tmp_path):
    """import_iceberg_table adopts an Iceberg layout by reference
    (zero copies): snapshot-table export -> import into a fresh root
    -> identical rows, field ids preserved 1:1, stats-based skipping
    live from the first read, and the adopted table keeps evolving
    (rename resolves the ORIGINAL parquet by id)."""
    import json
    import os

    import pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import iceberg_meta as im
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    src_root = str(tmp_path / "src")
    out = str(tmp_path / "ice")
    dst_root = str(tmp_path / "dst")
    os.makedirs(src_root)
    os.makedirs(dst_root)
    d = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    ts.commit(
        src_root,
        ts.stage_files(d.repartitionByRange(4, "k"), src_root),
        base_version=0,
        schema=d.schema.json(),
    )
    im.export_iceberg_metadata(src_root, out)
    v = im.import_iceberg_table(spark, out, dst_root)
    assert v == 1
    got = sorted((r["k"], r["v"]) for r in ts.read(spark, dst_root).collect())
    assert got == [(i, 2 * i) for i in range(100)]
    # zero copies: the adopted manifest references the SOURCE files
    m = ts.read_manifest(dst_root)
    assert all(p.startswith(os.path.abspath(src_root)) for p in m["files"])
    # field ids preserved 1:1
    ids = {
        f["name"]: f["metadata"][ts._FID]
        for f in json.loads(m["schema"])["fields"]
    }
    src_ids = {
        f["name"]: f["metadata"][ts._FID]
        for f in json.loads(ts.read_manifest(src_root)["schema"])["fields"]
    }
    assert ids == src_ids
    # stats live from the first read: a tight k-range skips files
    # (source staged range-partitioned, so per-file [min,max] are tight)
    prdf, kept, skipped = ts.read_pruned(spark, dst_root, "k", 0, 10)
    assert skipped and len(kept) < len(m["files"])
    assert sorted(r["k"] for r in prdf.collect()) == list(range(11))
    # evolution on the ADOPTED table resolves original parquet by id
    ts.rename_column(dst_root, "v", "value")
    got2 = {r["k"]: r["value"] for r in ts.read(spark, dst_root).collect()}
    assert got2[7] == 14 and len(got2) == 100
    # adoption is a create: non-empty target refuses
    with pytest.raises(ValueError, match="empty root"):
        im.import_iceberg_table(spark, out, dst_root)


def test_read_row_changes_lifecycle(spark, tmp_path):
    """Round-14 row-level change feed (Delta CDF semantics derived
    lazily from retained delete metadata): inserts / deletes (both
    MoR kinds) / update pre+post images, version-stamped; already-dead
    rows never re-emit; row-preserving rewrites contribute nothing;
    rename-crossing ranges emit ONE column set; merge refuses."""
    import os

    import pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d1 = spark.range(6).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    v1 = ts.commit(
        root, ts.stage_files(d1, root), base_version=0, schema=d1.schema.json()
    )
    v2, _n, _ = ts.delete_where(spark, root, "k >= 4")
    src = spark.createDataFrame([(1, 111), (9, 999)], "k bigint, v bigint")
    v3 = ts.upsert_eq(spark, root, src, ["k"])
    v4, _ = ts.delete_eq(spark, root, spark.createDataFrame([(2,)], "k bigint"))
    v5 = ts.compact(spark, root)
    n_cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    ch = ts.read_row_changes(spark, root, 0, v5)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in ch.collect()
    )
    # the upsert preimage is spilled, not session-persist()ed: a call
    # crossing an upsert must not leak cached partitions (round 15)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_cached
    assert got == [
        (1, "insert", 0, 0), (1, "insert", 1, 10), (1, "insert", 2, 20),
        (1, "insert", 3, 30), (1, "insert", 4, 40), (1, "insert", 5, 50),
        (2, "delete", 4, 40), (2, "delete", 5, 50),
        (3, "insert", 9, 999),
        (3, "update_postimage", 1, 111), (3, "update_preimage", 1, 10),
        (4, "delete", 2, 20),
    ]
    # already-dead rows never re-emit: delete the same key range again
    # via eq-delete targeting ALL rows; only live ones (0, 3) emit
    v6, _ = ts.delete_eq(
        spark, root, spark.createDataFrame([(0,), (3,), (4,)], "k bigint")
    )
    tail = sorted(
        (r["_change_type"], r["k"])
        for r in ts.read_row_changes(spark, root, v5, v6).collect()
    )
    assert tail == [("delete", 0), ("delete", 3)]  # 4 died at v2
    # sub-ranges work (mid-history cursor)
    mid = sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in ts.read_row_changes(spark, root, v2, v4).collect()
    )
    assert mid == [
        (3, "insert", 9), (3, "update_postimage", 1),
        (3, "update_preimage", 1), (4, "delete", 2),
    ]
    # a RENAME inside the range: one column set, old rows under the
    # new name
    ts.rename_column(root, "v", "val")
    d7 = spark.range(20, 22).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")
    )
    v7 = ts.commit(
        root,
        ts.stage_files(d7, root),
        base_version=ts.current_version(root),
        schema=d7.schema.json(),
    )
    all_ch = ts.read_row_changes(spark, root, 0, v7)
    assert sorted(all_ch.columns) == [
        "_change_type", "_commit_version", "k", "val",
    ]
    ins1 = {
        (r["k"], r["val"])
        for r in all_ch.filter("_commit_version = 1").collect()
    }
    assert ins1 == {(i, i * 10) for i in range(6)}
    # merge refuses: its effect set needs change files
    ts.merge_into(
        spark, root, spark.createDataFrame([(9, 1)], "k bigint, val bigint"), ["k"]
    )
    with pytest.raises(ValueError, match="merge commit"):
        ts.read_row_changes(spark, root, v7, ts.current_version(root))


def test_conflict_file_granular_disjoint_commutes(spark, tmp_path, monkeypatch):
    """Round-15 (verdict ask #1): Delta-style read-set/write-set
    conflict granularity. A retrying merge/delete intersects the files
    it scanned (merge: pruned candidates) or masks (delete: affected
    files) with each concurrent commit's touched set — DISJOINT
    operations commute (both commit, linear history), overlapping ones
    still refuse, and the row-level CDC over a raced disjoint
    delete∥delete range is exact."""
    import os

    import pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    lo = spark.range(5).select(
        F.col("id").alias("k"), F.lit(1).cast("bigint").alias("val")
    )
    hi = spark.range(100, 105).select(
        F.col("id").alias("k"), F.lit(1).cast("bigint").alias("val")
    )
    f_lo = ts.stage_files(lo.coalesce(1), root)
    f_hi = ts.stage_files(hi.coalesce(1), root)
    ts.commit(
        root,
        f_lo + f_hi,
        base_version=0,
        schema=lo.schema.json(),
        stats=ts.collect_stats(f_lo + f_hi, ["k"]),
    )

    # 1) merge ∥ delete on DISJOINT files: the merge's candidates (k=3
    # prunes to the low file) never saw the deleted file — REBASE, both
    # effects land, linear history
    _interpose_once(
        monkeypatch, lambda: ts.delete_where(spark, root, "k = 101")
    )
    src = spark.createDataFrame([(3, 99)], "k bigint, val bigint")
    v_merge, _staged, untouched = ts.merge_into(
        spark, root, src, ["k"], target_files=1
    )
    got = {r["k"]: r["val"] for r in ts.read(spark, root).collect()}
    assert got[3] == 99 and 101 not in got and len(got) == 9
    assert ts._op_of(root, v_merge - 1) == "delete"
    assert ts._op_of(root, v_merge) == "merge"
    assert set(f_hi) <= set(untouched)  # masked file carried by ref

    # 2) delete ∥ merge on DISJOINT files: the delete's affected file
    # holds k=2 (the round-1 rewrite output); the concurrent merge
    # rewrote only the high file — the delete REBASES
    monkeypatch.undo()
    _interpose_once(
        monkeypatch,
        lambda: ts.merge_into(
            spark,
            root,
            spark.createDataFrame([(102, 77)], "k bigint, val bigint"),
            ["k"],
            target_files=1,
        ),
    )
    v_del, n_deleted, affected = ts.delete_where(spark, root, "k = 2")
    assert n_deleted == 1
    got = {r["k"]: r["val"] for r in ts.read(spark, root).collect()}
    assert 2 not in got and got[102] == 77 and len(got) == 8
    assert ts._op_of(root, v_del - 1) == "merge"
    assert ts._op_of(root, v_del) == "delete"

    # 3) merge ∥ delete on the SAME file: overlap -> refuse
    monkeypatch.undo()
    _interpose_once(
        monkeypatch, lambda: ts.delete_where(spark, root, "k = 0")
    )
    with pytest.raises(ts.ConcurrentWriteConflict, match="read set"):
        ts.merge_into(
            spark,
            root,
            spark.createDataFrame([(4, 55)], "k bigint, val bigint"),
            ["k"],
            target_files=1,
        )
    got = {r["k"]: r["val"] for r in ts.read(spark, root).collect()}
    assert 0 not in got and got[4] == 1  # winner intact, loser refused

    # 4) delete ∥ delete on DISJOINT files: both commit; row-level CDC
    # across the raced range emits each victim exactly once
    monkeypatch.undo()
    v_before = ts.current_version(root)
    _interpose_once(
        monkeypatch, lambda: ts.delete_where(spark, root, "k = 103")
    )
    v_last, n2, _ = ts.delete_where(spark, root, "k = 4")
    assert n2 == 1
    got = sorted(r["k"] for r in ts.read(spark, root).collect())
    assert 4 not in got and 103 not in got
    ch = sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in ts.read_row_changes(spark, root, v_before, v_last).collect()
    )
    assert ch == [(v_last - 1, "delete", 103), (v_last, "delete", 4)]

    # 5) delete ∥ delete on the SAME file: refuse (double-masking the
    # same file would double-emit its victims in the change feed)
    monkeypatch.undo()
    _interpose_once(
        monkeypatch, lambda: ts.delete_where(spark, root, "k = 1")
    )
    with pytest.raises(ts.ConcurrentWriteConflict, match="read set"):
        ts.delete_where(spark, root, "k = 3")
    got = sorted(r["k"] for r in ts.read(spark, root).collect())
    assert 1 not in got and 3 in got


def test_ibucket_murmur3_transform_and_export(spark, tmp_path):
    """Round-15 (verdict ask #2, bucket half): the 'ibucket' transform
    IS Iceberg's bucket[N] — murmur3_x86_32 seed 0 over the spec's
    single-value binary form, pinned against the PUBLIC spec's own
    test vectors — so ibucket spec eras export as REAL bucket[N]
    Iceberg partition specs with their recorded per-file tuples,
    instead of the pmod era's spec-0 fallback."""
    import json
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import iceberg_meta as im
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.avro_py import read_avro

    # the Iceberg spec's published murmur3 test vectors (Appendix B)
    assert ts._murmur3_x86_32((34).to_bytes(8, "little")) == 2017239379
    assert ts._murmur3_x86_32("iceberg".encode()) == 1210000089
    assert ts.iceberg_bucket(34, 16) == 2017239379 % 16
    assert ts.iceberg_bucket("iceberg", 16) == 1210000089 % 16
    assert 0 <= ts.iceberg_bucket(-7, 8) < 8  # negatives: two's complement

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d = spark.range(64).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    spec = [("ibucket", "k", 8)]
    files, parts = ts.stage_files_partitioned(d, root, spec)
    v1 = ts.commit(
        root,
        files,
        base_version=0,
        schema=d.schema.json(),
        partition_spec=spec,
        partitions=parts,
    )
    # every recorded tuple is the real murmur3 bucket of its file's rows
    got = {r["k"]: r for r in ts.read(spark, root).collect()}
    assert len(got) == 64
    for f, tup in ts.read_manifest(root)["partitions"].items():
        want = {ts.iceberg_bucket(r["k"], 8) for r in
                spark.read.parquet(f).collect()}
        assert want == {tup["k_ibucket_8"]}
    # pruning by source value keeps only the matching bucket's files
    m = ts.read_manifest(root)
    kept, skipped = ts.prune_partitions_source(m, {"k": 13})
    assert skipped and len(kept) < len(m["files"])
    assert 13 in {r["k"] for r in ts._scan(
        spark, kept, {}, m.get("schema"), None,
        m.get("_added_era"), m.get("schema_log")).collect()}
    # export: the era becomes a REAL bucket[8] spec, nothing skipped
    out = str(tmp_path / "ice")
    summary = im.export_iceberg_metadata(root, out)
    assert summary["spec_skipped"] == {}
    md = json.load(open(summary["metadata_file"]))
    specs = {s["spec-id"]: s for s in md["partition-specs"]}
    bucket_specs = [
        s for s in specs.values()
        if any(f["transform"] == "bucket[8]" for f in s["fields"])
    ]
    assert len(bucket_specs) == 1
    assert md["default-spec-id"] == bucket_specs[0]["spec-id"]
    # per-file partition tuples in the manifest avro carry the buckets
    lp = md["snapshots"][-1]["manifest-list"]
    _s, mrows = read_avro(lp)
    entries = []
    for mr in mrows:
        if mr["partition_spec_id"] == bucket_specs[0]["spec-id"]:
            _es, es = read_avro(mr["manifest_path"])
            entries.extend(es)
    assert entries
    for e in entries:
        f = e["data_file"]["file_path"]
        assert (
            e["data_file"]["partition"]["k_ibucket_8"]
            == ts.read_manifest(root)["partitions"][f]["k_ibucket_8"]
        )
    # round-trip: the exported layout reads back with identical rows
    back = {r["k"]: r["v"] for r in im.read_iceberg_table(spark, out).collect()}
    assert back == {k: k * 3 for k in range(64)}
    # round 15: ADOPTING the exported layout maps bucket[8] back onto
    # ibucket with per-file tuples — manifest pruning works from the
    # first read of the imported table
    dst = str(tmp_path / "adopted")
    os.makedirs(dst)
    im.import_iceberg_table(spark, out, dst)
    m2 = ts.read_manifest(dst)
    assert [tuple(t) for t in m2["partition_spec"]] == [("ibucket", "k", 8)]
    kept2, skipped2 = ts.prune_partitions_source(m2, {"k": 13})
    assert skipped2 and len(kept2) < len(m2["files"])
    got2 = {r["k"]: r["v"] for r in ts.read(spark, dst).collect()}
    assert got2 == {k: k * 3 for k in range(64)}


def _forge_iceberg_delete_table(spark, base_dir):
    """A 'foreign' Iceberg v2 table with delete manifests, built from
    the public spec alone: data file A (seq 1: k 0-4), data file B
    (seq 3: k 5-9), a position-delete file (seq 2) masking A's row 1,
    and an equality-delete file (seq 2, equality_ids=[1] = column k,
    keys {0, 5}) — which by the spec's strictly-older rule applies to
    A only, so k=5 in the NEWER file B must survive."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bfs_mapreduce_spark.sources import iceberg_meta as im
    from bfs_mapreduce_spark.sources.avro_py import write_avro

    loc = os.path.join(base_dir, "foreign")
    data_dir = os.path.join(loc, "data")
    meta_dir = os.path.join(loc, "metadata")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)
    fa = os.path.join(data_dir, "a.parquet")
    fb = os.path.join(data_dir, "b.parquet")
    pq.write_table(
        pa.table({"k": list(range(5)), "val": [i * 10 for i in range(5)]}),
        fa,
    )
    pq.write_table(
        pa.table({"k": list(range(5, 10)), "val": [i * 10 for i in range(5, 10)]}),
        fb,
    )
    fpos = os.path.join(data_dir, "pos-del.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([fa], type=pa.string()),
                "pos": pa.array([1], type=pa.int64()),
            }
        ),
        fpos,
    )
    feq = os.path.join(data_dir, "eq-del.parquet")
    pq.write_table(pa.table({"k": pa.array([0, 5], type=pa.int64())}), feq)

    entry_schema = im._manifest_entry_schema()
    entry_schema["fields"][-1]["type"]["fields"].append(
        {
            "name": "equality_ids",
            "type": ["null", {"type": "array", "items": "int"}],
            "default": None,
            "field-id": 135,
        }
    )

    def entry(path, content, seq, eq_ids=None):
        return {
            "status": 1,
            "snapshot_id": 3,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": content,
                "file_path": path,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": 5,
                "file_size_in_bytes": os.path.getsize(path),
                "equality_ids": eq_ids,
            },
        }

    m_data = os.path.join(meta_dir, "manifest-data.avro")
    write_avro(
        m_data, entry_schema, [entry(fa, 0, 1), entry(fb, 0, 3)]
    )
    m_del = os.path.join(meta_dir, "manifest-del.avro")
    write_avro(
        m_del,
        entry_schema,
        [entry(fpos, 1, 2), entry(feq, 2, 2, eq_ids=[1])],
    )

    def list_row(path, content, seq):
        return {
            "manifest_path": path,
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": 1,
            "added_snapshot_id": 3,
            "added_files_count": 2,
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": 10,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }

    lp = os.path.join(meta_dir, "snap-3.avro")
    write_avro(
        lp,
        im._MANIFEST_LIST_SCHEMA,
        [list_row(m_data, 0, 3), list_row(m_del, 1, 2)],
    )
    md = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000001",
        "location": loc,
        "last-sequence-number": 3,
        "last-updated-ms": 0,
        "last-column-id": 2,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "k", "required": False, "type": "long"},
                    {"id": 2, "name": "val", "required": False, "type": "long"},
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {},
        "current-snapshot-id": 3,
        "snapshots": [
            {
                "snapshot-id": 3,
                "sequence-number": 3,
                "timestamp-ms": 0,
                "summary": {"operation": "overwrite"},
                "manifest-list": lp,
                "schema-id": 0,
            }
        ],
        "snapshot-log": [],
        "metadata-log": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as f:
        json.dump(md, f)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write("1")
    return loc, fa, fb, feq


def test_iceberg_import_delete_manifests(spark, tmp_path):
    """Round-15 (verdict ask #2): a delete-carrying Iceberg v2 table
    IMPORTS — position-delete files map onto delete vectors, equality
    deletes onto delete_eq entries with the sequence-number rule
    translated to file-granular applies-scopes. The files-only reader
    keeps refusing; unmappable delete kinds refuse at import."""
    import os

    import pytest

    from bfs_mapreduce_spark.sources import iceberg_meta as im
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.avro_py import read_avro, write_avro

    loc, fa, fb, feq = _forge_iceberg_delete_table(spark, str(tmp_path))
    # the files-only reader still refuses (it cannot apply deletes)
    with pytest.raises(NotImplementedError, match="delete manifest"):
        im.read_iceberg_table(spark, loc)
    # import: MoR state preserved — k=1 dead (position), k=0 dead
    # (equality, A is seq 1 < 2), k=5 ALIVE (B is seq 3, not older)
    dst = str(tmp_path / "adopted")
    os.makedirs(dst)
    v = im.import_iceberg_table(spark, loc, dst)
    got = {r["k"]: r["val"] for r in ts.read(spark, dst).collect()}
    assert got == {k: k * 10 for k in (2, 3, 4, 5, 6, 7, 8, 9)}
    m = ts.read_manifest(dst)
    assert m["operation"] == "upsert"
    assert sorted(m["files"]) == sorted([fa, fb])  # data by reference
    assert list(m["deletes"].keys()) == [fa]
    assert len(m["eq_deletes"]) == 1
    e = m["eq_deletes"][0]
    assert e["applies"] == [fa] and e["cols"] == ["k"] and e["files"] == [feq]
    # the adopted table lives on: compact materializes both kinds
    ts.compact(spark, dst)
    got2 = {r["k"]: r["val"] for r in ts.read(spark, dst).collect()}
    assert got2 == got
    mm = ts.read_manifest(dst)
    assert not mm.get("deletes") and not mm.get("eq_deletes")
    # time travel to the adoption version still reads the MoR state
    got1 = {r["k"]: r["val"] for r in ts.read(spark, dst, v).collect()}
    assert got1 == got
    # unmappable kind refuses: strip the equality_ids
    loc2, _fa, _fb, _feq = _forge_iceberg_delete_table(
        spark, str(tmp_path / "second")
    )
    mdel = os.path.join(loc2, "metadata", "manifest-del.avro")
    sch, rows = read_avro(mdel)
    for r in rows:
        r["data_file"]["equality_ids"] = None
    write_avro(mdel, sch, rows)
    dst2 = str(tmp_path / "adopted2")
    os.makedirs(dst2)
    with pytest.raises(NotImplementedError, match="equality_ids"):
        im.import_iceberg_table(spark, loc2, dst2)


def test_vacuum_reader_race_contract(spark, tmp_path):
    """Round-15 (verdict ask #7): vacuum vs in-flight readers. The
    contract: an expired version's read fails LOUDLY (the manifest
    survives, the planned file is gone, the scan raises) — never wrong
    rows; a mid-catch-up CDC partition whose file was vacuumed fails
    the task the same way; and the min-retention guard (Delta's
    retentionDurationCheck translated to versions) refuses a vacuum
    whose newest expired version was superseded inside the window."""
    import os
    import time

    import pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import snapshot_changes_source as scs
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d = spark.range(10).toDF("k")
    ts.commit(root, ts.stage_files(d, root), base_version=0, schema=d.schema.json())
    v1_files = list(ts.read_manifest(root)["files"])
    # an in-flight CDC reader plans v1's files BEFORE the vacuum
    r = scs.SnapshotChangesStreamReader({"path": root, "startingVersion": "0"})
    parts = r.partitions({"v": 0}, {"v": 1})
    ts.compact(spark, root)  # v2 rewrites; v1's files now expirable

    # guard: v1 was superseded moments ago -> refuse inside the window
    with pytest.raises(ValueError, match="superseded only"):
        ts.vacuum(root, 2, min_retention_s=3600.0)
    assert all(os.path.exists(f) for f in v1_files)  # nothing deleted
    # outside the window (simulated clock) the same call proceeds
    deleted = ts.vacuum(
        root, 2, min_retention_s=3600.0, now=time.time() + 7200.0
    )
    assert set(v1_files) <= set(deleted)

    # expired batch read fails loudly AT PLANNING with the reason (the
    # version's manifest segment is gone) — never silently-empty or
    # wrong rows
    with pytest.raises(ValueError, match="expired"):
        ts.read(spark, root, 1)
    # the in-flight CDC partitions fail their tasks the same way
    with pytest.raises((FileNotFoundError, OSError)):
        for p in parts:
            list(r.read(p))
    # retained reads stay exact
    assert sorted(x["k"] for x in ts.read(spark, root).collect()) == list(range(10))


def test_iceberg_mor_roundtrip_with_delete_manifests(spark, tmp_path, capsys):
    """Round-15: export a DELETE-CARRYING snapshot table as real
    Iceberg v2 delete manifests, adopt it back through
    import_iceberg_table, and the merge-on-read state round-trips
    exactly — position vectors, equality entries, and the sequence-
    number scoping (rows appended AFTER the eq-delete survive even
    with matching keys). Renamed-after-delete histories still refuse
    at export."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.cli import main
    from bfs_mapreduce_spark.sources import iceberg_meta as im
    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    out = str(tmp_path / "ice")
    os.makedirs(root)
    d = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")
    )
    v = ts.commit(
        root, ts.stage_files(d.repartition(2), root),
        base_version=0, schema=d.schema.json(),
    )
    ts.delete_where(spark, root, "k = 1")               # position delete
    ts.delete_eq(spark, root, spark.createDataFrame([(4,), (20,)], "k bigint"))
    late = spark.createDataFrame([(20, 777)], "k bigint, val bigint")
    ts.commit(
        root, ts.stage_files(late, root),
        base_version=ts.current_version(root),
    )  # k=20 arrives AFTER the eq-delete: must survive adoption
    expect = {r["k"]: r["val"] for r in ts.read(spark, root).collect()}
    assert 1 not in expect and 4 not in expect and expect[20] == 777

    summary = im.export_iceberg_metadata(root, out)
    assert summary["skipped"] == {}  # delete versions now export
    assert summary["exported_with_deletes"]  # and carry delete manifests
    assert "field ids" in summary["delete_files_note"]
    # the files-only reader still refuses the delete-carrying snapshot
    import pytest

    with pytest.raises(NotImplementedError, match="delete manifest"):
        im.read_iceberg_table(spark, out)
    # adoption reproduces the MoR state exactly (CLI verb, round 15)
    dst = str(tmp_path / "adopted")
    os.makedirs(dst)
    rc = main(["snapshot-import-iceberg", out, dst])
    assert rc == 0
    got = {r["k"]: r["val"] for r in ts.read(spark, dst).collect()}
    assert got == expect
    m = ts.read_manifest(dst)
    assert m["operation"] == "upsert"
    assert m.get("deletes") and m.get("eq_deletes")
    # time travel to a PRE-delete snapshot of the export also works
    got1 = {
        r["k"]: r["val"]
        for r in im.read_iceberg_table(spark, out, snapshot_id=v).collect()
    }
    assert got1 == {k: k * 10 for k in range(10)}
    # rename-after-delete refuses at export with the recorded reason
    ts.rename_column(root, "k", "kk")
    out2 = str(tmp_path / "ice2")
    s2 = im.export_iceberg_metadata(root, out2)
    assert any("renamed after the delete" in r for r in s2["skipped"].values())


def test_conflict_upsert_rebases_over_delete_and_rewrite(
    spark, tmp_path, monkeypatch
):
    """Round-15: an upsert's read set is EMPTY (it masks keys and
    appends — scans nothing), so it rebases past concurrent
    delete_where AND a concurrent rewrite, serialized LAST: the
    concurrent delete's masks stay, the rewrite's output is
    re-targeted, and the upsert's keys win. set_check still refuses
    (plan-time validation went stale)."""
    import os

    import pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).cast("bigint").alias("val")
    )
    ts.commit(
        root, ts.stage_files(d.repartition(2), root),
        base_version=0, schema=d.schema.json(),
    )
    # upsert ∥ delete: both land; delete's victims stay dead, the
    # upsert's key (already dead or not) carries the NEW value
    _interpose_once(
        monkeypatch, lambda: ts.delete_where(spark, root, "k >= 8")
    )
    ts.upsert_eq(
        spark, root,
        spark.createDataFrame([(8, 99), (3, 33)], "k bigint, val bigint"),
        ["k"],
    )
    got = {r["k"]: r["val"] for r in ts.read(spark, root).collect()}
    assert 9 not in got            # the delete held
    assert got[8] == 99            # the upsert re-introduced k=8 (last)
    assert got[3] == 33 and len(got) == 9
    # upsert ∥ compact: the rewrite wins the race, the upsert rebases
    # onto its output
    monkeypatch.undo()
    _interpose_once(monkeypatch, lambda: ts.compact(spark, root, n_files=1))
    ts.upsert_eq(
        spark, root,
        spark.createDataFrame([(5, 55)], "k bigint, val bigint"),
        ["k"],
    )
    got = {r["k"]: r["val"] for r in ts.read(spark, root).collect()}
    assert got[5] == 55 and got[8] == 99 and len(got) == 9
    # upsert ∥ set_check still refuses: the constraint moved under the
    # plan-time validation
    monkeypatch.undo()
    _interpose_once(
        monkeypatch, lambda: ts.add_check(spark, root, "pos_val", "val > 0")
    )
    with pytest.raises(ts.ConcurrentWriteConflict, match="set_check"):
        ts.upsert_eq(
            spark, root,
            spark.createDataFrame([(6, -1)], "k bigint, val bigint"),
            ["k"],
        )


def test_partial_compaction_small_files(spark, tmp_path, monkeypatch):
    """Round-15 partial compaction (Iceberg's rewrite_data_files with
    a size threshold): only the small-file tail is rewritten — big
    files are carried by reference with their stats and delete
    entries intact — deletes on SELECTED files materialize, a
    selection that compacts nothing is a no-op (no commit), and a
    raced concurrent delete on a CARRIED file commutes (the rebase
    recomputes the carried list) while one on a SELECTED file
    refuses."""
    import os

    import pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    big = spark.range(5000).select(
        F.col("id").alias("k"), F.lit(1).cast("bigint").alias("val")
    )
    f_big = ts.stage_files(big.coalesce(1), root)
    smalls = spark.range(5000, 5012).select(
        F.col("id").alias("k"), F.lit(1).cast("bigint").alias("val")
    )
    f_small = ts.stage_files(smalls.repartition(6), root)
    ts.commit(
        root,
        f_big + f_small,
        base_version=0,
        schema=big.schema.json(),
        stats=ts.collect_stats(f_big + f_small, ["k"]),
    )
    thr = os.path.getsize(f_big[0])  # big file sits above the cutoff
    # a delete on a SMALL file materializes through the rewrite
    ts.delete_where(spark, root, "k = 5001")
    v = ts.compact(spark, root, n_files=2, small_below_bytes=thr)
    m = ts.read_manifest(root, v)
    assert set(f_big) <= set(m["files"])            # carried by reference
    assert not (set(f_small) & set(m["files"]))     # tail rewritten
    assert len(m["files"]) == 1 + 2
    assert not m.get("deletes")                     # materialized
    assert m["stats"].get(f_big[0], {}).get("cols")  # stats carried
    got = sorted(r["k"] for r in ts.read(spark, root).collect())
    assert got == [k for k in range(5012) if k != 5001]
    # nothing small left: the same call is a NO-OP (no commit)
    assert ts.compact(spark, root, small_below_bytes=100) == v
    # raced: a concurrent delete on the CARRIED big file commutes
    ts.commit(
        root,
        ts.stage_files(
            spark.range(9000, 9012).select(
                F.col("id").alias("k"),
                F.lit(1).cast("bigint").alias("val"),
            ).repartition(6),
            root,
        ),
        base_version=v,
    )
    _interpose_once(
        monkeypatch, lambda: ts.delete_where(spark, root, "k = 2")
    )
    v2 = ts.compact(spark, root, n_files=1, small_below_bytes=thr)
    got = sorted(r["k"] for r in ts.read(spark, root).collect())
    assert 2 not in got and 9000 in got and len(got) == 5010 + 12
    m2 = ts.read_manifest(root, v2)
    assert f_big[0] in m2["deletes"]  # the racing delete's vector rides
    # raced: a concurrent delete on a SELECTED small file refuses
    monkeypatch.undo()
    ts.commit(
        root,
        ts.stage_files(
            spark.range(9500, 9506).select(
                F.col("id").alias("k"), F.lit(1).cast("bigint").alias("val")
            ).repartition(3),
            root,
        ),
        base_version=ts.current_version(root),
    )
    _interpose_once(
        monkeypatch, lambda: ts.delete_where(spark, root, "k = 9502")
    )
    with pytest.raises(ts.ConcurrentWriteConflict, match="read set"):
        ts.compact(spark, root, n_files=1, small_below_bytes=thr)


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """Round-15 Delta parity: timestampAsOf resolves to the version
    CURRENT at that wall clock — the library read(), and the snapshot
    DataSource option; pre-first-commit timestamps raise; mutual
    exclusion with versionAsOf holds."""
    import os
    import time

    import pytest

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_source import (
        register_snapshot_source,
    )

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    t_pre = time.time() - 1
    v = ts.commit(
        root, ts.stage_files(spark.range(3).toDF("k"), root), base_version=0
    )
    time.sleep(0.05)
    t_mid = time.time()
    time.sleep(0.05)
    ts.commit(
        root,
        ts.stage_files(spark.range(3, 7).toDF("k"), root),
        base_version=v,
    )
    assert ts.version_as_of(root, t_mid) == 1
    assert ts.version_as_of(root, time.time() + 60) == 2
    with pytest.raises(ValueError, match="predates the first commit"):
        ts.version_as_of(root, t_pre)
    got = sorted(
        r["k"] for r in ts.read(spark, root, timestamp_as_of=t_mid).collect()
    )
    assert got == [0, 1, 2]
    with pytest.raises(ValueError, match="mutually exclusive"):
        ts.read(spark, root, 2, timestamp_as_of=t_mid)
    register_snapshot_source(spark)
    df = (
        spark.read.format("snapshot")
        .option("path", root)
        .option("timestampAsOf", str(t_mid))
        .load()
    )
    assert sorted(r["k"] for r in df.collect()) == [0, 1, 2]
    cur = spark.read.format("snapshot").option("path", root).load()
    assert cur.count() == 7


def test_append_commit_never_resolves_base_segments(spark, tmp_path, monkeypatch):
    """Round-15 structural pin for the append fast path (bench-meta's
    latency test is the canary; this is the deterministic proof): a
    pure append must not call read_manifest at all — O(new files +
    n_segments) from the raw base manifest — and _touched_files for
    delete/upsert concurrents must diff raw manifests only. Anything
    that can drop or re-scope files (replace, offered delete entries)
    keeps the resolved path."""
    import os

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d = spark.range(4).toDF("k")
    v = ts.commit(root, ts.stage_files(d, root), base_version=0, schema=d.schema.json())
    v = ts.commit(root, ts.stage_files(spark.range(4, 8).toDF("k"), root), base_version=v)
    v_del, _n, _ = ts.delete_where(spark, root, "k = 1")
    files = ts.stage_files(spark.range(8, 10).toDF("k"), root)
    calls = {"n": 0}
    real = ts.read_manifest

    def counting(root_, version=None):
        calls["n"] += 1
        return real(root_, version)

    monkeypatch.setattr(ts, "read_manifest", counting)
    v = ts.commit(root, files, base_version=v_del)  # pure append
    assert calls["n"] == 0  # raw base only: no segment resolution
    # the raw-diff conflict path: delete/upsert touched sets need no
    # resolution either
    touched = ts._touched_files(root, v_del)
    assert calls["n"] == 0
    monkeypatch.undo()
    assert touched  # the delete's masked file is reported
    # correctness didn't change: the append landed with carried deletes
    got = sorted(r["k"] for r in ts.read(spark, root).collect())
    assert got == [0, 2, 3, 4, 5, 6, 7, 8, 9]


def test_iceberg_export_snapshot_id_never_dangles(spark, tmp_path):
    """Round 16 (ADVICE): a file FIRST SEEN by a version that the
    export SKIPS (here: rename-after-eq-delete refusals) must not
    stamp that skipped version as its entry's snapshot_id — strict
    readers resolving entry snapshot ids against metadata.json's
    snapshots list would hit a dangling reference. The id clamps
    forward to the oldest EXPORTED snapshot; the sequence number
    keeps the true first-seen version."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import iceberg_meta as im
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.avro_py import read_avro

    root = str(tmp_path / "tbl")
    out = str(tmp_path / "ice")
    os.makedirs(root)
    d1 = spark.range(4).select(F.col("id").alias("k"),
                               (F.col("id") * 10).alias("v"))
    w = ts.commit(root, ts.stage_files(d1.coalesce(1), root),
                  base_version=0, schema=d1.schema.json())
    # v2: an equality delete; v3: RENAME the eq key — v3 and later
    # versions carrying the entry refuse export (file_cols != cols);
    # v4: append file B under one of those skipped versions; v5: a
    # partial compaction rewrites ONLY the v1 file, materializing the
    # eq entry (its applies-scope was A alone) — v5 exports, carrying
    # B whose first_seen = 4 is a SKIPPED version.
    ts.delete_eq(spark, root, spark.createDataFrame([(1,)], "k bigint"))
    ts.rename_column(root, "k", "kk")
    d3 = spark.range(10, 13).select(F.col("id").alias("kk"),
                                    (F.col("id") * 10).alias("v"))
    f_b = ts.stage_files(d3.coalesce(1), root)
    w = ts.commit(root, f_b, base_version=ts.current_version(root))
    m4 = ts.read_manifest(root)
    only = [f for f in m4["files"] if f not in set(f_b)]
    ts.compact(spark, root, only_files=only)

    summary = im.export_iceberg_metadata(root, out)
    assert 5 in summary["exported"]
    skipped = set(summary["skipped"])
    assert {3, 4} <= skipped
    md = _json.load(open(os.path.join(out, "metadata", "v1.metadata.json")))
    snap_ids = {s["snapshot-id"] for s in md["snapshots"]}
    # every manifest entry's snapshot_id resolves in the snapshot list
    for s in md["snapshots"]:
        _sch, mrows = read_avro(s["manifest-list"])
        for mrow in mrows:
            _es, entries = read_avro(mrow["manifest_path"])
            for e in entries:
                assert e["snapshot_id"] in snap_ids, (
                    f"dangling snapshot_id {e['snapshot_id']} "
                    f"(snapshots: {sorted(snap_ids)})"
                )
                # B's entry keeps its true data sequence number
                if e["data_file"]["file_path"] in set(f_b):
                    assert e["sequence_number"] == 4


def test_iceberg_export_dv_roundtrip(spark, tmp_path):
    """Round 17 (verdict ask #3): format_version=3 exports position
    deletes as puffin DELETION VECTORS — one cumulative DV blob per
    masked data file per snapshot, unchanged DVs re-referenced from
    the earlier snapshot's puffin — and an export → import round trip
    through the engine's own puffin file reproduces the MoR state
    exactly. A v2-pinned export of the same table is unchanged
    (PARQUET position-delete entries)."""
    import json
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import iceberg_meta as im
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.avro_py import read_avro

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("x")
    )
    ts.commit(
        root,
        ts.stage_files(d.repartition(2, "k"), root),
        base_version=0,
        schema=d.schema.json(),
    )
    # two delete commits: v2 masks k<3 (rows in BOTH files), v3 masks
    # the single row k=5 (exactly ONE file) — the other file's v2 DV
    # is unchanged at v3 and must RE-REFERENCE the v2 puffin blob
    ts.delete_where(spark, root, "k < 3")
    ts.delete_where(spark, root, "k = 5")

    out3 = str(tmp_path / "ice_v3")
    summary = im.export_iceberg_metadata(root, out3, format_version=3)
    assert summary["exported_with_deletes"] == [2, 3]
    md = json.load(open(summary["metadata_file"]))
    assert md["format-version"] == 3

    # snapshot 3's delete manifest: PUFFIN entries only, each scoped to
    # one referenced data file with blob offsets
    def dv_entries(snap_id):
        snap = next(x for x in md["snapshots"] if x["snapshot-id"] == snap_id)
        _s, mrows = read_avro(snap["manifest-list"])
        dm = [r for r in mrows if r["content"] == 1]
        assert len(dm) == 1
        _es, entries = read_avro(dm[0]["manifest_path"])
        return entries

    e2 = dv_entries(2)
    e3 = dv_entries(3)
    assert all(e["data_file"]["file_format"] == "PUFFIN" for e in e2 + e3)
    assert all(e["data_file"]["referenced_data_file"] for e in e2 + e3)
    assert all(
        e["data_file"]["content_offset"] is not None
        and e["data_file"]["content_size_in_bytes"] is not None
        for e in e2 + e3
    )
    # v3: every file masked at v2 whose delete set did NOT change at v3
    # re-references the v2 puffin blob as an EXISTING entry (seq 2);
    # files whose DV grew get ADDED entries in the v3 puffin
    by_ref2 = {e["data_file"]["referenced_data_file"]: e for e in e2}
    by_ref3 = {e["data_file"]["referenced_data_file"]: e for e in e3}
    assert set(by_ref2) <= set(by_ref3)  # cumulative masking
    grew = {
        r
        for r in by_ref3
        if r not in by_ref2
        or by_ref3[r]["data_file"]["record_count"]
        > by_ref2[r]["data_file"]["record_count"]
    }
    assert len(grew) == 1, "k=5 lives in exactly one file"
    assert any(
        r in by_ref2 and r not in grew for r in by_ref3
    ), "an unchanged DV must be present to exercise re-referencing"
    for r, e in by_ref3.items():
        if r in by_ref2 and r not in grew:
            assert e["status"] == 0 and e["sequence_number"] == 2
            assert e["data_file"]["file_path"].endswith("dvs-2.puffin")
        else:
            assert e["status"] == 1 and e["sequence_number"] == 3
            assert e["data_file"]["file_path"].endswith("dvs-3.puffin")

    # round trip: adopt the v3 export into a fresh root; MoR state is
    # row-identical to the source table
    back = str(tmp_path / "adopted")
    os.makedirs(back)
    im.import_iceberg_table(spark, out3, back)
    want = sorted((r["k"], r["x"]) for r in ts.read(spark, root).collect())
    got = sorted((r["k"], r["x"]) for r in ts.read(spark, back).collect())
    assert got == want
    assert want and all(k not in (0, 1, 2, 5) for k, _ in want)
    assert len(want) == 16

    # v2-pinned export unchanged: PARQUET position-delete entries, no
    # DV fields in the entry schema
    out2 = str(tmp_path / "ice_v2")
    s2 = im.export_iceberg_metadata(root, out2, format_version=2)
    md2 = json.load(open(s2["metadata_file"]))
    assert md2["format-version"] == 2
    snap = next(x for x in md2["snapshots"] if x["snapshot-id"] == 3)
    _s, mrows = read_avro(snap["manifest-list"])
    dm = [r for r in mrows if r["content"] == 1]
    _es, entries = read_avro(dm[0]["manifest_path"])
    assert all(e["data_file"]["file_format"] == "PARQUET" for e in entries)
    assert all("referenced_data_file" not in e["data_file"] for e in entries)


def test_sql_dml_merge_update_delete(spark, tmp_path):
    """Round 17 (verdict ask #2): the SQL DML shim routes MERGE INTO /
    UPDATE / DELETE statements onto merge_into / delete_where — alias
    normalization, string-literal safety, and loud refusals included."""
    import os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_sql import sql_dml

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d = spark.range(10).select(
        F.col("id").alias("k"),
        (F.col("id") * 10.0).alias("amount"),
        F.when(F.col("id") % 2 == 0, "open").otherwise("closed").alias(
            "status"
        ),
    )
    ts.commit(
        root,
        ts.stage_files(d.coalesce(2), root),
        base_version=0,
        schema=d.schema.json(),
    )
    cat = {"acct": root}

    # MERGE with custom aliases, a subquery source, conditional
    # update, delete, and INSERT (cols) VALUES (exprs)
    spark.range(8, 14).select(
        F.col("id").alias("k"), F.lit(500.0).alias("amt")
    ).createOrReplaceTempView("dml_src")
    r = sql_dml(
        spark,
        """
        MERGE INTO acct AS tgt
        USING (SELECT k, amt FROM dml_src) AS src
        ON tgt.k = src.k
        WHEN MATCHED AND tgt.status = 'open' THEN
          UPDATE SET amount = src.amt + tgt.amount
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN
          INSERT (k, amount, status) VALUES (src.k, src.amt, 'open')
        """,
        cat,
    )
    assert r["operation"] == "merge"
    rows = {
        r2["k"]: (r2["amount"], r2["status"])
        for r2 in ts.read(spark, root).collect()
    }
    assert rows[8] == (580.0, "open")  # matched + open: updated
    assert 9 not in rows  # matched + closed: deleted
    assert rows[10] == (500.0, "open") and rows[12] == (500.0, "open")
    assert rows[13] == (500.0, "open")  # inserted

    # UPDATE: bare columns prefix onto the t-side; string literal with
    # a column name inside stays untouched
    r = sql_dml(
        spark,
        "UPDATE acct SET status = 'amount up', amount = amount + 1.0 "
        "WHERE status = 'open' AND k < 5",
        cat,
    )
    assert r["operation"] == "update"
    rows = {
        r2["k"]: (r2["amount"], r2["status"])
        for r2 in ts.read(spark, root).collect()
    }
    assert rows[0] == (1.0, "amount up") and rows[4] == (41.0, "amount up")
    assert rows[6] == (60.0, "open")  # k >= 5: untouched

    # DELETE with an alias: MoR position deletes
    r = sql_dml(spark, "DELETE FROM acct a WHERE a.k % 2 = 1", cat)
    assert r["operation"] == "delete" and r["n_deleted"] > 0
    assert all(r2["k"] % 2 == 0 for r2 in ts.read(spark, root).collect())

    # INSERT INTO ... SELECT through the column-list path: appended
    # rows land, NULL-fill/casting handled, plain APPEND commit
    r = sql_dml(
        spark,
        "INSERT INTO acct (k, amount, status) "
        "SELECT id + 100, CAST(id AS DOUBLE), 'new' FROM range(3)",
        cat,
    )
    assert r["operation"] == "insert"
    got = {
        r2["k"]: (r2["amount"], r2["status"])
        for r2 in ts.read(spark, root).collect()
        if r2["k"] >= 100
    }
    assert got == {100: (0.0, "new"), 101: (1.0, "new"), 102: (2.0, "new")}
    with _pytest.raises(ValueError, match="cannot parse INSERT"):
        sql_dml(spark, "INSERT INTO acct VALUES (1, 2.0, 'x')", cat)

    # refusals: non-equi ON, unknown table, unknown verb
    with _pytest.raises(ValueError, match="equi-joins"):
        sql_dml(
            spark,
            "MERGE INTO acct t USING dml_src s ON t.k > s.k "
            "WHEN MATCHED THEN DELETE",
            cat,
        )
    with _pytest.raises(ValueError, match="unknown target table"):
        sql_dml(
            spark,
            "MERGE INTO nope t USING dml_src s ON t.k = s.k "
            "WHEN MATCHED THEN DELETE",
            cat,
        )
    with _pytest.raises(ValueError, match="unsupported DML verb"):
        sql_dml(spark, "SELECT 1", cat)


def test_sql_dml_case_then_and_array_first_column(spark, tmp_path):
    """Round 18 (ADVICE): the merge-clause split is CASE-aware — a
    ``CASE WHEN ... THEN ... END`` inside a ``WHEN MATCHED AND``
    condition (and in the UPDATE action) nests instead of mis-
    splitting at its inner THEN — and UPDATE's empty-source merge
    joins on the first ATOMIC column, so a table whose first column
    is an array still takes bare UPDATEs."""
    import os

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_sql import sql_dml

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    # array FIRST: the old cols[0] key choice would feed an
    # unjoinable array column into the empty-source merge
    d = spark.range(6).select(
        F.array(F.col("id"), F.col("id") * 2).alias("tags"),
        F.col("id").alias("k"),
        (F.col("id") * 10.0).alias("amount"),
    )
    ts.commit(
        root,
        ts.stage_files(d.coalesce(1), root),
        base_version=0,
        schema=d.schema.json(),
    )
    cat = {"t2": root}

    r = sql_dml(spark, "UPDATE t2 SET amount = amount + 0.5 WHERE k >= 4", cat)
    assert r["operation"] == "update"
    rows = {r2["k"]: r2["amount"] for r2 in ts.read(spark, root).collect()}
    assert rows[4] == 40.5 and rows[5] == 50.5 and rows[3] == 30.0

    # CASE ... THEN inside the clause CONDITION and inside the action
    spark.range(6).select(F.col("id").alias("k")).createOrReplaceTempView(
        "dml_case_src"
    )
    r = sql_dml(
        spark,
        """
        MERGE INTO t2 USING dml_case_src s ON t2.k = s.k
        WHEN MATCHED AND CASE WHEN t2.k < 2 THEN true ELSE false END THEN
          UPDATE SET amount = CASE WHEN t2.k = 0 THEN -1.0 ELSE -2.0 END
        WHEN MATCHED THEN UPDATE SET amount = t2.amount + 100.0
        """,
        cat,
    )
    assert r["operation"] == "merge"
    rows = {r2["k"]: r2["amount"] for r2 in ts.read(spark, root).collect()}
    assert rows[0] == -1.0 and rows[1] == -2.0
    assert rows[2] == 120.0 and rows[5] == 150.5


def test_sql_ddl_overwrite_ctas_evolving_merge(spark, tmp_path):
    """Round 18 (verdict ask #4): INSERT OVERWRITE commits a REPLACE
    manifest (atomic truncate-and-load, history intact), CREATE TABLE
    AS SELECT creates (and refuses to re-create), CREATE OR REPLACE
    replaces the schema wholesale with field-id continuity by name,
    and a MERGE with evolve_schema=True widens the target with new
    source columns — untouched files NULL-fill on read."""
    import os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_sql import sql_dml

    root = str(tmp_path / "ct")
    cat = {"ct": root}

    # ---- CTAS creates; plain CREATE refuses a second time ---------
    r = sql_dml(
        spark,
        "CREATE TABLE ct AS SELECT id AS k, CAST(id * 10 AS DOUBLE) AS v "
        "FROM range(4)",
        cat,
    )
    assert r["operation"] == "create" and r["version"] == 1
    assert sorted(
        (x["k"], x["v"]) for x in ts.read(spark, root).collect()
    ) == [(0, 0.0), (1, 10.0), (2, 20.0), (3, 30.0)]
    with _pytest.raises(ValueError, match="already exists"):
        sql_dml(spark, "CREATE TABLE ct AS SELECT 1 AS x", cat)

    # ---- INSERT OVERWRITE: whole file list replaced, v1 still reads
    r = sql_dml(
        spark,
        "INSERT OVERWRITE ct (k, v) "
        "SELECT id + 100, CAST(id AS DOUBLE) FROM range(2)",
        cat,
    )
    assert r["operation"] == "overwrite"
    assert sorted(
        (x["k"], x["v"]) for x in ts.read(spark, root).collect()
    ) == [(100, 0.0), (101, 1.0)]
    assert ts.read(spark, root, version=1).count() == 4  # time travel

    # ---- CREATE OR REPLACE: new schema pinned wholesale -----------
    r = sql_dml(
        spark,
        "CREATE OR REPLACE TABLE ct AS "
        "SELECT id AS k, CONCAT('s', id) AS label FROM range(3)",
        cat,
    )
    assert r["operation"] == "create_replace"
    cur = ts.read(spark, root)
    assert sorted(cur.columns) == ["k", "label"]  # v is GONE, not NULL
    assert cur.count() == 3
    assert ts.read(spark, root, version=2).count() == 2  # history intact

    # ---- evolving MERGE: new source column widens the table -------
    root2 = str(tmp_path / "ev")
    os.makedirs(root2)
    d = spark.range(6).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("amount")
    )
    # two files so the merge leaves one UNTOUCHED (its rows must
    # NULL-fill the evolved column on read)
    ts.commit(
        root2,
        ts.stage_files(d.repartition(2, "k"), root2),
        base_version=0,
        schema=d.schema.json(),
    )
    cat2 = {"ev": root2}
    spark.createDataFrame(
        [(5, 50.0, "gold"), (6, 60.0, "new")], "k long, amount double, tier string"
    ).createOrReplaceTempView("ev_src")
    with _pytest.raises(ValueError, match="unknown column"):
        # strict mode still refuses an assignment to the unknown col
        sql_dml(
            spark,
            "MERGE INTO ev USING ev_src s ON ev.k = s.k "
            "WHEN MATCHED THEN UPDATE SET tier = s.tier",
            cat2,
        )
    r = sql_dml(
        spark,
        "MERGE INTO ev USING ev_src s ON ev.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        cat2,
        evolve_schema=True,
    )
    assert r["operation"] == "merge"
    got = {
        x["k"]: (x["amount"], x["tier"])
        for x in ts.read(spark, root2).collect()
    }
    assert got[5] == (50.0, "gold") and got[6] == (60.0, "new")
    # untouched rows NULL-fill the evolved column
    assert got[0] == (0.0, None) and len(got) == 7
    assert r["untouched"]  # at least one file rode by reference


def test_sql_ddl_alter_optimize_vacuum_history(spark, tmp_path):
    """Round 18: the maintenance verbs as SQL text — ALTER TABLE
    ADD/RENAME/DROP/ALTER COLUMN + TBLPROPERTIES (metadata-only, the
    field-id era machinery underneath), OPTIMIZE [ZORDER BY], VACUUM
    RETAIN/DRY RUN, DESCRIBE HISTORY — each routed onto its existing
    Python verb."""
    import os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_sql import sql_dml

    root = str(tmp_path / "mt")
    os.makedirs(root)
    cat = {"mt": root}
    d = spark.range(8).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    ts.commit(
        root,
        ts.stage_files(d.coalesce(2), root),
        base_version=0,
        schema=d.schema.json(),
    )

    # ADD COLUMNS (multi, generic types) — old rows NULL-fill
    r = sql_dml(
        spark,
        "ALTER TABLE mt ADD COLUMNS (tag string, score decimal(18,2))",
        cat,
    )
    assert r["operation"] == "add_column"
    cur = ts.read(spark, root)
    assert cur.columns == ["k", "v", "tag", "score"]
    assert cur.filter(F.col("tag").isNotNull()).count() == 0

    # RENAME + widen + DROP, then properties
    sql_dml(spark, "ALTER TABLE mt RENAME COLUMN v TO amount", cat)
    assert "amount" in ts.read(spark, root).columns
    sql_dml(spark, "ALTER TABLE mt ALTER COLUMN k TYPE bigint", cat)  # no-op widen
    sql_dml(spark, "ALTER TABLE mt DROP COLUMN score", cat)
    assert "score" not in ts.read(spark, root).columns
    sql_dml(
        spark,
        "ALTER TABLE mt SET TBLPROPERTIES ('changeFeed' = 'true', "
        "'owner' = 'me')",
        cat,
    )
    assert ts.table_property(root, "changeFeed") is True
    assert ts.table_property(root, "owner") == "me"
    sql_dml(spark, "ALTER TABLE mt UNSET TBLPROPERTIES ('changeFeed')", cat)
    assert ts.table_property(root, "changeFeed") is None

    # data survives the whole metadata lifecycle
    got = {x["k"]: x["amount"] for x in ts.read(spark, root).collect()}
    assert got == {i: float(i) for i in range(8)}

    # OPTIMIZE: compact to one file
    r = sql_dml(spark, "OPTIMIZE mt", cat, target_files=1)
    assert r["operation"] == "optimize_compact"
    m = ts.read_manifest(root, r["version"])
    assert len(m["files"]) == 1

    # OPTIMIZE ZORDER BY
    r = sql_dml(spark, "OPTIMIZE mt ZORDER BY (k, amount)", cat)
    assert r["operation"] == "optimize_zorder"

    # DESCRIBE HISTORY (before vacuum: expired segments stop time
    # travel by design): newest first, operations recorded
    r = sql_dml(spark, "DESCRIBE HISTORY mt", cat)
    ops = [h["operation"] for h in r["history"]]
    assert ops[0] == "replace" or "zorder" in ops[0] or "optimize" in ops[0]
    assert "evolve_schema" in ops and "set_property" in ops

    # VACUUM DRY RUN lists expired files without deleting; RETAIN 0
    # HOURS expires everything not live
    r = sql_dml(spark, "VACUUM mt RETAIN 0 HOURS DRY RUN", cat)
    assert r["dry_run"] and r["deleted"]
    for p in r["deleted"]:
        assert os.path.exists(p)
    r2 = sql_dml(spark, "VACUUM mt RETAIN 0 HOURS", cat)
    assert sorted(r2["deleted"]) == sorted(r["deleted"])
    assert not any(os.path.exists(p) for p in r2["deleted"])
    assert ts.read(spark, root).count() == 8  # live head intact

    # loud refusal on unknown ALTER shapes
    with _pytest.raises(ValueError, match="cannot parse ALTER"):
        sql_dml(spark, "ALTER TABLE mt CLUSTER BY (k)", cat)


def test_sql_ctas_partitioned_by(spark, tmp_path):
    """Round 18: CREATE TABLE ... PARTITIONED BY (col, bucket(N, c))
    AS SELECT — staged files cluster under the declared spec, the
    spec + per-file tuples pin in the manifest, and source-column
    equality reads prune whole partitions from the manifest alone."""
    import pytest as _pytest

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_sql import sql_dml

    root = str(tmp_path / "pt")
    cat = {"pt": root}
    r = sql_dml(
        spark,
        "CREATE TABLE pt PARTITIONED BY (parity, bucket(4, k)) AS "
        "SELECT id AS k, CAST(id % 2 AS BIGINT) AS parity, "
        "CAST(id * 1.5 AS DOUBLE) AS v FROM range(64)",
        cat,
    )
    assert r["operation"] == "create"
    m = ts.read_manifest(root, r["version"])
    assert [t[:2] for t in m["partition_spec"]] == [
        ["identity", "parity"],
        ["bucket", "k"],
    ]
    # every staged file carries its partition tuple
    assert set(m["partitions"]) == set(m["files"])
    # manifest-only pruning on the identity column: about half the
    # files skip, and the kept rows are exactly the parity-0 slice
    df, kept, skipped = ts.read_partition_pruned_src(
        spark, root, {"parity": 0}
    )
    assert skipped and kept
    got = sorted(x["k"] for x in df.filter("parity = 0").collect())
    assert got == [i for i in range(64) if i % 2 == 0]
    # table round-trips in full
    assert ts.read(spark, root).count() == 64

    # TBLPROPERTIES lands atomically IN the create commit (one
    # version, property live from v1)
    root2 = str(tmp_path / "pp")
    cat2 = {"pp": root2}
    r2 = sql_dml(
        spark,
        "CREATE TABLE pp TBLPROPERTIES ('changeFeed' = 'true', "
        "'owner' = 'me') AS SELECT id AS k FROM range(3)",
        cat2,
    )
    assert r2["version"] == 1
    assert ts.table_property(root2, "changeFeed") is True
    assert ts.table_property(root2, "owner") == "me"

    with _pytest.raises(ValueError, match="PARTITIONED BY item"):
        sql_dml(
            spark,
            "CREATE OR REPLACE TABLE pt PARTITIONED BY (years(ts)) AS "
            "SELECT 1 AS ts",
            cat,
        )


def test_sql_dml_raced_merge_delete(spark, tmp_path, monkeypatch):
    """Round 18 (verdict ask #7): the file-granular rebase matrix
    holds UNDER THE SQL ENTRY — a sql_dml MERGE whose CAS loses to a
    concurrent sql_dml DELETE commutes when the delete's files are
    disjoint from the merge's stats-pruned read set (both commit),
    and refuses with ConcurrentWriteConflict when they overlap."""
    import os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_sql import sql_dml

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    cat = {"rt": root}
    lo = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1.0).alias("val")
    )
    hi = spark.range(100, 110).select(
        F.col("id").alias("k"), F.lit(1.0).alias("val")
    )
    files = ts.stage_files(lo.coalesce(1), root) + ts.stage_files(
        hi.coalesce(1), root
    )
    ts.commit(
        root,
        files,
        base_version=0,
        schema=lo.schema.json(),
        stats=ts.collect_stats(files, ["k"]),  # enables range pruning
    )
    spark.createDataFrame(
        [(3, 30.0), (50, 55.0)], "k long, val double"
    ).createOrReplaceTempView("race_src")
    merge_stmt = (
        "MERGE INTO rt USING race_src s ON rt.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )

    # disjoint: the merge's read set is the LOW file only (source keys
    # 3/50 prune the 100-109 file); the concurrent DELETE masks rows
    # of the HIGH file — the loser rebases and BOTH land
    _interpose_once(
        monkeypatch,
        lambda: sql_dml(spark, "DELETE FROM rt WHERE k = 105", cat),
    )
    r = sql_dml(spark, merge_stmt, cat)
    assert r["operation"] == "merge"
    got = {x["k"]: x["val"] for x in ts.read(spark, root).collect()}
    assert got[3] == 30.0 and got[50] == 55.0  # merge landed
    assert 105 not in got and got[104] == 1.0  # delete held
    monkeypatch.undo()

    # overlapping: the concurrent DELETE masks a row of the file the
    # merge scanned — the rebase refuses, the merge does NOT commit
    spark.createDataFrame(
        [(4, 44.0)], "k long, val double"
    ).createOrReplaceTempView("race_src2")
    _interpose_once(
        monkeypatch,
        lambda: sql_dml(spark, "DELETE FROM rt WHERE k = 7", cat),
    )
    with _pytest.raises(ts.ConcurrentWriteConflict, match="read set"):
        sql_dml(
            spark,
            "MERGE INTO rt USING race_src2 s ON rt.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
            cat,
        )
    got = {x["k"]: x["val"] for x in ts.read(spark, root).collect()}
    assert 7 not in got  # the delete (winner) is live
    assert got[4] == 1.0  # the refused merge left no trace


def test_vacuum_orphans_raced_with_live_stager(spark, tmp_path):
    """Round 17 (verdict ask #7): vacuum(orphans=True) under
    concurrency — a writer STAGING DURING the sweep keeps every fresh
    file (the grace window is the guard, not luck), a killed writer's
    stale files go, and committed files are never touched. The live
    writer then commits its survivors and reads them back."""
    import os
    import threading
    import time as _time

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.sources import table_snapshots as ts

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    d = spark.range(10).select(F.col("id").alias("k"))
    v1_files = ts.stage_files(d.coalesce(1), root)
    ts.commit(root, v1_files, base_version=0, schema=d.schema.json())

    # killed writer: staged 8 days ago, never committed
    stale = ts.stage_files(spark.range(5).select(F.col("id").alias("k")).coalesce(1), root)
    old = _time.time() - 8 * 24 * 3600
    for p in stale:
        os.utime(p, (old, old))

    # live writer: stages batches continuously while the sweep runs
    staged_live: list[str] = []
    stop = threading.Event()
    err: list[BaseException] = []

    def stager():
        try:
            while not stop.is_set():
                staged_live.extend(
                    ts.stage_files(
                        spark.range(3).select(F.col("id").alias("k")).coalesce(1),
                        root,
                    )
                )
        except BaseException as e:  # surface thread failures in the test
            err.append(e)

    t = threading.Thread(target=stager)
    t.start()
    try:
        while len(staged_live) < 2:  # the race is real: staging overlaps
            _time.sleep(0.05)
        deleted = ts.vacuum(root, orphans=True, orphan_grace_s=7 * 24 * 3600)
    finally:
        stop.set()
        t.join()
    assert not err, err
    # the killed writer's stale files went...
    assert set(stale) <= set(deleted)
    for p in stale:
        assert not os.path.exists(p)
    # ...every file the live stager wrote survives (younger than the
    # window), whether staged before or during the walk...
    for p in staged_live:
        assert os.path.exists(p), f"vacuum ate an in-flight file {p}"
    # ...and committed files are untouched
    for p in v1_files:
        assert os.path.exists(p)
    # the live writer commits its last batch (APPEND: the new files
    # join the parent's list): the table reads through
    v2 = ts.commit(root, staged_live[-1:], base_version=1)
    assert v2 == 2
    assert ts.read(spark, root).count() == 13


def test_append_commit_json_reads_stay_o_new_files(tmp_path, monkeypatch):
    """An append commit reads O(new files + segments) of metadata,
    never O(table files): a tail append into a 60-commit, 240-file
    table opens no more manifest/segment JSON than the second append
    into a fresh one (counted by wrapping the module's ``open``). The
    accumulated table's own counts hold too: 240 files resolve, CDC
    planning of the last commit sees its 4 files, rewrite_manifests
    collapses to one segment, and vacuum after a half-replace expires
    exactly the first half."""
    import builtins

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_changes_source import (
        SnapshotChangesStreamReader,
    )

    root = str(tmp_path / "tbl")
    n_commits, per_commit = 60, 4

    def stage(ci):
        d = os.path.join(root, "data", f"c{ci:05d}")
        os.makedirs(d)
        out = []
        for fi in range(per_commit):
            p = os.path.join(d, f"part-{fi}.parquet")
            pq.write_table(pa.table({"k": [ci * per_commit + fi]}), p)
            out.append(p)
        return out

    json_reads = []

    def counting_open(path, mode="r", *args, **kwargs):
        if "r" in mode and str(path).endswith(".json"):
            json_reads.append(path)
        return builtins.open(path, mode, *args, **kwargs)

    reads_per_commit = []
    v = 0
    for ci in range(n_commits):
        files = stage(ci)
        json_reads.clear()
        monkeypatch.setattr(ts, "open", counting_open, raising=False)
        v = ts.commit(root, files, base_version=v)
        monkeypatch.delattr(ts, "open")
        reads_per_commit.append(len(json_reads))
    head, tail = reads_per_commit[1], reads_per_commit[-1]
    assert 1 <= tail <= head, reads_per_commit

    assert len(ts.read_manifest(root)["files"]) == n_commits * per_commit
    reader = SnapshotChangesStreamReader({"path": root, "startingVersion": str(v)})
    assert len(reader._additions(v)) == per_commit
    v = ts.rewrite_manifests(root)
    m = ts.read_manifest(root)
    assert len(m.get("_segments") or []) == 1

    # one replace keeps the second half: the first half's files expire
    keep = [
        f for f in m["files"]
        if int(os.path.basename(os.path.dirname(f))[1:]) >= n_commits // 2
    ]
    v = ts.commit(root, keep, base_version=v, replace=True)
    deleted = ts.vacuum(root, retain_from=v)
    assert len(ts.read_manifest(root)["files"]) == 120
    assert len(deleted) >= 120


def test_iceberg_export_operation_per_commit_kind(spark, tmp_path):
    """Each exported snapshot's summary operation follows the Iceberg
    spec: commits that remove or mask data rows are 'overwrite' (merge,
    upsert, compaction, INSERT OVERWRITE, restore) or 'delete' (a
    merge-on-read delete); only a plain append exports as 'append', so
    an incremental append reader never takes rewritten or deleted rows
    for new ones."""
    import os

    from bfs_mapreduce_spark.sources import iceberg_meta as im
    from bfs_mapreduce_spark.sources import table_snapshots as ts
    from bfs_mapreduce_spark.sources.snapshot_sql import sql_dml

    root = str(tmp_path / "tbl")
    out = str(tmp_path / "ice")
    os.makedirs(root)
    schema = "k bigint, val bigint"
    d = spark.createDataFrame([(k, k * 10) for k in range(6)], schema)
    ts.commit(
        root, ts.stage_files(d.coalesce(1), root),
        base_version=0, schema=d.schema.json(),
    )
    ts.delete_where(spark, root, "k = 1")
    ts.upsert_eq(spark, root, spark.createDataFrame([(2, 222)], schema), ["k"])
    ts.merge_into(
        spark, root, spark.createDataFrame([(3, 333), (9, 90)], schema), ["k"]
    )
    ts.compact(spark, root)
    sql_dml(
        spark,
        "INSERT OVERWRITE t (k, val) SELECT id + 100, id FROM range(2)",
        {"t": root},
    )
    ts.restore(root, 5)
    summary = im.export_iceberg_metadata(root, out)
    assert sorted(summary["exported"]) == [1, 2, 3, 4, 5, 6, 7]
    got = {h["sequence_number"]: h["operation"] for h in im.iceberg_history(out)}
    assert got == {
        1: "append", 2: "delete", 3: "overwrite", 4: "overwrite",
        5: "overwrite", 6: "overwrite", 7: "overwrite",
    }
    assert [ts._op_of(root, v) for v in range(1, 8)] == [
        "append", "delete", "upsert", "merge", "compact", "overwrite",
        "restore",
    ]
