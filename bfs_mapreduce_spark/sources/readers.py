"""Sources: parquet test tables, whitespace edge lists, CSV/JSON/text.

The reference's entire scan layer is a whitespace edge-list reader
(``Graph.py:2-16``) and a CSV append sink (``BFS_map_reduce.py:155-164``).
Here every format goes through ``spark.read`` so parquet scans get
predicate pushdown / column pruning / partition pruning from Catalyst,
and the edge-list reader becomes a schema'd CSV scan instead of a
driver-side line loop.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Tables the driver materializes at /root/testdata/sf*/ (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one test table. Parquet → pushdown/pruning are automatic.

    ``events.parquet`` stores ``ts`` as parquet ``TIMESTAMP(NANOS)``,
    which Spark cannot read natively ([PARQUET_TYPE_ILLEGAL]). We read
    nanos as raw int64 (legacy conf, runtime-settable) and convert to
    TIMESTAMP_NTZ via integer-µs math: ``ts div 1000`` truncates
    exactly like DuckDB's nanos→micros conversion, so oracle parity is
    bit-exact (sub-µs parts are zero in the testdata anyway). NTZ (not
    LTZ) so the values are naive wall-clock — the same convention the
    other tables' TIMESTAMP_NTZ columns and the DuckDB oracle use.
    The NTZ value is built as epoch + exact-decimal interval — no LTZ
    hop — so it is correct under ANY session timezone, not just UTC.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(raw.dtypes).get("ts") == "bigint":
            return raw.withColumn(
                "ts",
                F.expr(
                    "make_timestamp_ntz(1970, 1, 1, 0, 0, 0) + "
                    "make_dt_interval(0, 0, 0, cast(ts div 1000 as decimal(26,6)) / 1000000)"
                ),
            )
        return raw
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Scan all test tables and register each as a temp view, so both
    the DataFrame API and ``spark.sql`` can reach them by name."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_edge_list(spark: SparkSession, path: str) -> DataFrame:
    """Read a whitespace-separated edge list into ``edges(src, dst)``.

    Reference behavior (``Graph.py:4-8``): one edge per line, two
    whitespace-separated integer ids. ``str.split()`` there tolerates
    runs of whitespace and leading/trailing blanks, so we normalize
    with a regex split rather than a single-char CSV delimiter; blank
    lines are dropped. Distributed text scan — no driver loop.
    """
    lines = spark.read.text(path)
    parts = F.split(F.trim(F.col("value")), r"\s+")
    return (
        lines.filter(F.trim(F.col("value")) != "")
        .select(
            parts.getItem(0).cast("bigint").alias("src"),
            parts.getItem(1).cast("bigint").alias("dst"),
        )
    )


REFERENCE_DIR_ENV = "SPARK_GRAFT_REFERENCE_DIR"
# committed stand-ins, written by tools/make_reference_graphs.py
STANDIN_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "reference_graphs"
)
_warned_missing: set[str] = set()


def reference_dir() -> str:
    """Directory holding the reference's own datasets:
    ``$SPARK_GRAFT_REFERENCE_DIR``, else the reference checkout's
    ``datasets`` directory."""
    return os.environ.get(REFERENCE_DIR_ENV, "/root/reference/datasets")


def reference_graph(name: str) -> str:
    """Path of the reference's edge list ``name`` (``tinyG``/``smallG``).

    ``<reference_dir()>/<name>.txt`` when that file exists, so a
    machine with the real datasets checks the paper's own data;
    otherwise the committed stand-in of the same documented shape
    (FIXTURES.md §1), with one warning per process naming the missing
    file.
    """
    real = os.path.join(reference_dir(), f"{name}.txt")
    if os.path.exists(real):
        return real
    standin = os.path.join(STANDIN_DIR, f"{name}.txt")
    if not os.path.exists(standin):
        raise FileNotFoundError(
            f"no reference graph {name!r}: neither {real} nor {standin}"
        )
    if real not in _warned_missing:
        _warned_missing.add(real)
        logging.getLogger(__name__).warning(
            "%s not found (set %s); using the stand-in %s",
            real, REFERENCE_DIR_ENV, standin,
        )
    return standin


def write_csv_append(df: DataFrame, path: str, header: bool = True) -> None:
    """CSV append sink (reference: ``BFS_map_reduce.py:155-164``)."""
    df.write.mode("append").option("header", str(header).lower()).csv(path)
