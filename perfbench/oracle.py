"""Serial BFS oracle: the reference's queue algorithm (``BFS_serial.py``)
with the engine's documented deviations.

- The graph is undirected and self-loops never expand, but a vertex
  seen only in a self-loop still belongs to the vertex set.
- Unreachable vertices get ``dist``/``path`` of ``None`` (NULL).
- Among equal-length paths the lexicographically smallest wins. A FIFO
  queue that visits each vertex's neighbours in ascending id order
  yields exactly that path: within a level the queue stays sorted by
  path, so the first parent to reach a vertex has the smallest path.
"""

from __future__ import annotations

from collections import deque

import numpy as np


def bfs_oracle(
    src: np.ndarray, dst: np.ndarray, source: int = 0
) -> dict[int, tuple[int | None, list[int] | None]]:
    """``{id: (dist, path)}`` for every vertex of the edge list plus the
    source."""
    keep = src != dst
    a = np.concatenate([src[keep], dst[keep]])
    b = np.concatenate([dst[keep], src[keep]])
    order = np.lexsort((b, a))
    a, b = a[order], b[order]
    starts = np.searchsorted(a, np.unique(a))
    nbrs = {int(v): b[s:e] for v, s, e in zip(a[starts], starts, np.append(starts[1:], a.size))}

    parent = {source: None}
    dist = {source: 0}
    queue = deque([source])
    while queue:
        u = queue.popleft()
        for v in nbrs.get(u, ()):
            v = int(v)
            if v not in dist:
                dist[v] = dist[u] + 1
                parent[v] = u
                queue.append(v)

    out: dict[int, tuple[int | None, list[int] | None]] = {}
    for v in set(np.unique(np.concatenate([src, dst])).tolist()) | {source}:
        if v not in dist:
            out[v] = (None, None)
            continue
        path, u = [], v
        while u is not None:
            path.append(u)
            u = parent[u]
        out[v] = (dist[v], path[::-1])
    return out


def level_sizes(result: dict[int, tuple[int | None, list[int] | None]]) -> list[int]:
    """Vertices per BFS level, level 0 (the source) first."""
    dists = [d for d, _ in result.values() if d is not None]
    return np.bincount(dists).tolist()
