"""Output references for the benchmark: order-insensitive result digests
checked against the DuckDB oracles, and plain-Python graph algorithms that
re-derive what the engine's graph operators must return.

Nothing here imports pyspark.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import deque

# ---------------------------------------------------------------------------
# Result digests
# ---------------------------------------------------------------------------


def digest(pdf) -> dict:
    """Row count plus an order-insensitive hash of a pandas DataFrame, over
    the rows as the repo's oracle comparison (``tests.parity``)
    canonicalizes them: columns in name order, values type-tagged, rows
    sorted."""
    from tests.parity import canon_rows

    h = hashlib.sha256("\x1e".join(sorted(pdf.columns)).encode())
    rows = canon_rows(pdf)
    for r in rows:
        h.update(b"\x1e" + "\x1f".join(r).encode())
    return {"rows": len(rows), "hash": h.hexdigest()}


def fixture_fingerprint(sf_dir: str) -> str:
    """Identity of a fixture directory: names, sizes and mtimes of its
    parquet files (each may itself be a directory of part files)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(sf_dir):
        dirs.sort()
        for f in sorted(files):
            st = os.stat(os.path.join(root, f))
            rel = os.path.relpath(os.path.join(root, f), sf_dir)
            h.update(f"{rel}:{st.st_size}:{int(st.st_mtime)}\n".encode())
    return h.hexdigest()[:16]


class OracleCache:
    """Digests of oracle results, computed with DuckDB once per fixture and
    query text and kept on disk under ``cache_dir``."""

    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir = sf_dir
        self.cache_dir = os.path.join(cache_dir, fixture_fingerprint(sf_dir))
        self._con = None

    def _conn(self):
        if self._con is None:
            import duckdb

            from distributed_graph_database_system_spark.sources.catalog import TABLES
            from tests.parity import duckdb_conn

            paths = {t: os.path.join(self.sf_dir, f"{t}.parquet") for t in TABLES}
            if not any(os.path.isdir(p) for p in paths.values()):
                self._con = duckdb_conn(self.sf_dir)
            else:
                # a Spark-written copy, as the sf1 input is, holds each
                # table as a directory of part files
                self._con = duckdb.connect()
                for t, p in paths.items():
                    self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        return self._con

    def expected(self, name: str, sql: str) -> dict:
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        d = digest(self._conn().execute(sql).fetchdf())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(d, fh)
        os.replace(tmp, path)
        return d

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


# ---------------------------------------------------------------------------
# Graph references
# ---------------------------------------------------------------------------


def adjacency(edges) -> dict[int, list[int]]:
    """Sorted, de-duplicated out-neighbour lists of ``(src, dst)`` pairs."""
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(int(s), set()).add(int(d))
    return {v: sorted(ns) for v, ns in adj.items()}


def matrix_edges(matrix) -> list[tuple[int, int]]:
    """Edges of a 0/1 adjacency matrix, 1-indexed like the engine's."""
    return [
        (i + 1, j + 1)
        for i, row in enumerate(matrix)
        for j, cell in enumerate(row)
        if cell
    ]


def bfs_levels(adj: dict[int, list[int]], start: int) -> dict[int, int]:
    level = {start: 0}
    q = deque([start])
    while q:
        v = q.popleft()
        for w in adj.get(v, ()):
            if w not in level:
                level[w] = level[v] + 1
                q.append(w)
    return level


def dfs_leaves(adj: dict[int, list[int]], start: int) -> list[int]:
    """DFS from ``start`` visiting neighbours in ascending order; a leaf is a
    vertex that made no recursive visit. The start is never a leaf."""
    visited = {start}
    leaves = []

    stack = [(start, iter(adj.get(start, ())), False)]
    while stack:
        v, it, spawned = stack.pop()
        for w in it:
            if w not in visited:
                visited.add(w)
                stack.append((v, it, True))
                stack.append((w, iter(adj.get(w, ())), False))
                break
        else:
            if not spawned and v != start:
                leaves.append(v)
    return sorted(leaves)


def components(edges) -> dict[int, int]:
    """Weakly connected components: vertex -> smallest vertex id of its
    component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for s, d in edges:
        s, d = int(s), int(d)
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        a, b = find(s), find(d)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {v: find(v) for v in parent}


def pagerank(edges, iterations: int, damping: float = 0.85) -> dict[int, float]:
    """Fixed-iteration PageRank with dangling mass spread uniformly, the
    same recurrence as the engine's."""
    import numpy as np

    src = np.fromiter((int(s) for s, _ in edges), dtype=np.int64)
    dst = np.fromiter((int(d) for _, d in edges), dtype=np.int64)
    vids = np.unique(np.concatenate([src, dst]))
    si, di = np.searchsorted(vids, src), np.searchsorted(vids, dst)
    n = len(vids)
    out_deg = np.bincount(si, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        share = np.divide(rank, out_deg, out=np.zeros(n), where=~dangling)
        contrib = np.bincount(di, weights=share[si], minlength=n)
        rank = (1.0 - damping) / n + damping * (contrib + rank[dangling].sum() / n)
    return dict(zip(vids.tolist(), rank.tolist()))
