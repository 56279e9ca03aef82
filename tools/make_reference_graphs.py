"""Write the committed stand-ins for the reference's two edge lists.

The paper's query is BFS from vertex 0 over the reference's shipped
``tinyG`` and ``smallG``. Where those files are absent,
``sources.readers.reference_graph`` falls back to the stand-ins this
script writes. Each stand-in is built to the shape FIXTURES.md §1
documents, by construction rather than by search:

- vertex 0 is level 0; vertices ``1..n-1`` fill levels ``1..ecc`` in id
  order, as evenly as the count allows;
- every vertex is joined to the first vertex of the level above, so
  ``dist(0, v)`` equals its level and ``ecc(0)`` equals ``ecc``;
- every other edge joins two vertices of the same or adjacent levels,
  so no shortcut appears and the diameter is at most ``ecc + 1``;
- in smallG the middle level is a clique, so its 8-core is non-empty;
- the remaining edges are a seeded sample of the allowed pairs.

Output is one ``a b`` line per undirected edge (``a < b``), sorted:
no self-loops, no duplicates. Usage (from the repo root)::

    python tools/make_reference_graphs.py

It writes into the package's stand-in directory
(``sources.readers.STANDIN_DIR``); re-running it reproduces the
committed files byte for byte.
"""

from __future__ import annotations

import itertools
import os
import random
import sys

SEED = 0
# name -> (vertices, edges, ecc(0), clique a middle level)
SHAPES = {
    "tinyG": (13, 15, 2, False),
    "smallG": (250, 1_273, 13, True),
}


def layered_graph(
    n_vertices: int, n_edges: int, ecc: int, clique: bool
) -> list[tuple[int, int]]:
    """Sorted undirected edges ``(a, b)``, ``a < b``, of the layered
    shape described in the module docstring."""
    rest, extra = divmod(n_vertices - 1, ecc)
    levels, nxt = [[0]], 1
    for i in range(ecc):
        size = rest + (1 if i < extra else 0)
        levels.append(list(range(nxt, nxt + size)))
        nxt += size
    level_of = {v: lvl for lvl, vs in enumerate(levels) for v in vs}

    edges = {(levels[lvl - 1][0], v) for lvl in range(1, ecc + 1) for v in levels[lvl]}
    if clique:
        edges |= set(itertools.combinations(levels[(ecc + 1) // 2], 2))
    allowed = sorted(
        (a, b)
        for a, b in itertools.combinations(range(n_vertices), 2)
        if level_of[b] - level_of[a] <= 1 and (a, b) not in edges
    )
    edges |= set(random.Random(SEED).sample(allowed, n_edges - len(edges)))
    return sorted(edges)


def standin_texts() -> dict[str, str]:
    """File name -> contents of every stand-in."""
    return {
        f"{name}.txt": "".join(f"{a} {b}\n" for a, b in layered_graph(*shape))
        for name, shape in SHAPES.items()
    }


def main() -> int:
    from bfs_mapreduce_spark.sources.readers import STANDIN_DIR

    os.makedirs(STANDIN_DIR, exist_ok=True)
    for fname, text in standin_texts().items():
        path = os.path.join(STANDIN_DIR, fname)
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write(text)
        print(f"wrote {path} ({len(text.splitlines())} edges)")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    raise SystemExit(main())
