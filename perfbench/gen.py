"""Seeded input generators.

Graphs are written in the paper's edge-list text format, one
``FromNodeID ToNodeID`` pair per line. The catalog tables are small
TPC-H-style parquet files with the same column names and types as the
engine's test tables. The same seed always gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def wide_graph(seed: int, n: int, m: int, shape_seed: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Connected random graph: a Hamiltonian path over a random
    relabelling of ``0..n-1`` plus ``m - (n-1)`` uniform G(n, m) edges.

    ``shape_seed`` draws the graph and ``seed`` its vertex labels and
    line order. Vertex 0 keeps its label, so every ``seed`` gives the
    same BFS level sizes from source 0 and costs the engine the same
    work: with the shape drawn from ``seed`` too, the last level held
    90-1,953 vertices and the source 11-28 neighbours over ten seeds.
    Returns ``(src, dst)`` in a random line order."""
    shape = np.random.default_rng(shape_seed)
    perm = shape.permutation(n)
    src = np.concatenate([perm[:-1], shape.integers(0, n, m - (n - 1))])
    dst = np.concatenate([perm[1:], shape.integers(0, n, m - (n - 1))])
    rng = np.random.default_rng(seed)
    label = np.concatenate([[0], 1 + rng.permutation(n - 1)])
    order = rng.permutation(m)
    return label[src[order]], label[dst[order]]


def write_edge_list(path: str, src: np.ndarray, dst: np.ndarray) -> None:
    with open(path, "w") as f:
        f.writelines(map("{} {}\n".format, src.tolist(), dst.tolist()))


# ------------------------------------------------------------------ catalog

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_VOCAB = {
    "en": "a the row scan table value part hash key agg join merge batch "
    "spark fast slow big small line sort window order group filter query "
    "column data stream vector customer".split(),
    "de": "der die das und ist nicht zeile tabelle wert schnell langsam "
    "gross klein daten spalte".split(),
    "es": "el la los las y es no fila tabla valor rapido lento grande "
    "pequeno datos columna".split(),
    "fr": "le la les et est pas ligne table valeur rapide lent grand "
    "petit donnees colonne".split(),
    "zh": "的 是 不 表 行 值 快 慢 大 小 数据 列 查询 连接".split(),
}
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _ts(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    days = rng.integers(0, (np.datetime64(hi) - np.datetime64(lo)).astype(int), n)
    return (np.datetime64(lo, "D") + days).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(seed: int, n_orders: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """The eight tables the catalog workload's queries read, sized off
    the order count like the TPC-H scale factor (four lines per order,
    one customer per ten orders, one supplier per 150 orders)."""
    rng = np.random.default_rng(seed)
    n_cust = max(n_orders // 10, 25)
    n_supp = max(n_orders // 150, 25)
    n_lines = 4 * n_orders
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(_REGIONS, s),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(rng, n_cust, -999, 9999), f64),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), s),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(rng, n_supp, -999, 9999), f64),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders), s),
            "o_totalprice": pa.array(_money(rng, n_orders, 1000, 500000), f64),
            "o_orderdate": pa.array(_ts(rng, n_orders, "1995-01-01", "2001-08-01")),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_orders), s),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), i64),
            "l_partkey": pa.array(rng.integers(0, 20 * n_supp, n_lines), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lines), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(float), f64),
            "l_extendedprice": pa.array(_money(rng, n_lines, 900, 105000), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lines), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_lines), s),
            "l_shipdate": pa.array(_ts(rng, n_lines, "1995-01-02", "2001-11-04")),
        }),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    return tables


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word documents; every fifth one is a light edit of an
    earlier document, so the near-duplicate queries find pairs."""
    texts, langs = [], []
    for i in range(n):
        if i % 5 == 4:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 10)):
                words[j] = str(rng.choice(_VOCAB[langs[-1]]))
            lang = langs[-1]
        else:
            lang = str(rng.choice(_LANGS))
            words = rng.choice(_VOCAB[lang], int(rng.integers(8, 80))).tolist()
        texts.append(" ".join(words))
        langs.append(lang)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Unit-norm vectors around ``k`` random centres."""
    centres = rng.normal(size=(k, dim))
    label = rng.integers(0, k, n)
    x = centres[label] + 0.6 * rng.normal(size=(n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_catalog(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
