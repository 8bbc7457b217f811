"""Independent reference results the benchmark checks the engine against.

Pure Python and numpy over the benchmark's own generated inputs; nothing
here imports the engine. Each ``check_*`` returns a list of mismatch
descriptions, empty when the engine's result is right.
"""

from __future__ import annotations

from collections import deque

import numpy as np

# PageRank: the engine and numpy sum the same terms in different orders.
PAGERANK_RTOL = 1e-9
PAGERANK_ATOL = 1e-12
JACCARD_T = 0.5
SHINGLE_N = 3


def _adjacency(edges) -> dict[int, list[int]]:
    adj: dict[int, list[int]] = {}
    for s, d in edges:
        adj.setdefault(int(s), []).append(int(d))
    for v in adj.values():
        v.sort()
    return adj


def bfs_levels(edges, start: int) -> dict[int, int]:
    adj = _adjacency(edges)
    level = {start: 0}
    queue = deque([start])
    while queue:
        u = queue.popleft()
        for v in adj.get(u, ()):
            if v not in level:
                level[v] = level[u] + 1
                queue.append(v)
    return level


def dfs_leaves(edges, start: int) -> set[int]:
    """Recursive-order DFS (ascending neighbours); a leaf expanded no
    unvisited child. Same contract as the reference's op=3."""
    adj = _adjacency(edges)
    visited, children = {start}, {start: 0}
    stack = [(start, iter(adj.get(start, ())))]
    while stack:
        u, it = stack[-1]
        for v in it:
            if v not in visited:
                visited.add(v)
                children[u] += 1
                children[v] = 0
                stack.append((v, iter(adj.get(v, ()))))
                break
        else:
            stack.pop()
    return {u for u, c in children.items() if c == 0}


class UnionFind:
    def __init__(self):
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        parent = self.parent
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # Keep the smaller id as root: the root is the component min.
            lo, hi = min(ra, rb), max(ra, rb)
            self.parent[hi] = lo

    def labels(self) -> dict[int, int]:
        return {x: self.find(x) for x in list(self.parent)}


def components(n: int, edges: np.ndarray) -> np.ndarray:
    """Component label (= min vertex id) per vertex 0..n-1, undirected."""
    uf = UnionFind()
    for v in range(n):
        uf.find(v)
    for s, d in edges.tolist():
        uf.union(s, d)
    lab = uf.labels()
    return np.array([lab[v] for v in range(n)], dtype=np.int64)


def pagerank(n: int, edges: np.ndarray, iterations: int, damping: float = 0.85) -> np.ndarray:
    """Power iteration; the rank of vertices without out-edges is spread
    uniformly over all n vertices every step."""
    src, dst = edges[:, 0], edges[:, 1]
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        received = np.bincount(dst, weights=rank[src] / out_deg[src], minlength=n)
        rank = (1.0 - damping) / n + damping * (received + rank[dangling].sum() / n)
    return rank


def shingles(text: str) -> frozenset[str]:
    w = text.split()
    return frozenset(" ".join(w[i:i + SHINGLE_N]) for i in range(len(w) - SHINGLE_N + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def cluster_labels(pairs) -> dict[int, int]:
    uf = UnionFind()
    for a, b in pairs:
        uf.union(int(a), int(b))
    return uf.labels()


def latest_wins(rows) -> dict[int, tuple]:
    """Keyed-store model: per key the row with the highest (version, rest)."""
    out: dict[int, tuple] = {}
    for row in rows:
        key = row[0]
        if key not in out or row[1:] > out[key][1:]:
            out[key] = tuple(row)
    return out


# -- checks ------------------------------------------------------------------

def check_levels(got: dict[int, int], want: dict[int, int]) -> list[str]:
    if got == want:
        return []
    diff = [v for v in set(got) | set(want) if got.get(v) != want.get(v)]
    return [f"bfs: {len(diff)} vertex levels differ, e.g. vertex {diff[0]}"]


def check_bfs(got: dict[int, int], edges, start: int) -> list[str]:
    return check_levels(got, bfs_levels(edges, start))


def check_dfs(got: set[int], edges, start: int) -> list[str]:
    want = dfs_leaves(edges, start)
    return [] if got == want else [f"dfs leaves from {start}: {sorted(got)[:5]}, want {sorted(want)[:5]}"]


def check_labels(got: np.ndarray, want: np.ndarray) -> list[str]:
    bad = np.flatnonzero(got != want)
    return [f"components: {len(bad)} labels differ, first at vertex {bad[0]}"] if len(bad) else []


def check_pagerank(got: np.ndarray, want: np.ndarray) -> list[str]:
    if got.shape == want.shape and np.allclose(got, want, rtol=PAGERANK_RTOL, atol=PAGERANK_ATOL):
        return []
    err = float(np.max(np.abs(got - want))) if got.shape == want.shape else float("nan")
    return [f"pagerank: max abs error {err:.3e}"]


def check_pairs(got: list[tuple[int, int, float]], sh: dict[int, frozenset],
                planted: set[tuple[int, int]]) -> list[str]:
    """Every emitted pair is a real near-duplicate with the right Jaccard,
    no pair is emitted twice, and every planted pair at or above the
    threshold is found."""
    errs = []
    keys = [(min(a, b), max(a, b)) for a, b, _ in got]
    if len(set(keys)) != len(keys):
        errs.append(f"pairs: {len(keys) - len(set(keys))} duplicates")
    for (a, b), (_, _, j) in zip(keys, got):
        exact = jaccard(sh[a], sh[b])
        if exact < JACCARD_T or abs(exact - j) > 1e-12:
            errs.append(f"pair ({a},{b}): jaccard {j}, exact {exact}")
            break
    found = set(keys)
    missing = [p for p in planted if p not in found and jaccard(sh[p[0]], sh[p[1]]) >= JACCARD_T]
    if missing:
        errs.append(f"pairs: {len(missing)} planted pairs missing, e.g. {missing[0]}")
    return errs


def check_clusters(got: dict[int, int], pairs) -> list[str]:
    want = cluster_labels(pairs)
    if got == want:
        return []
    diff = [r for r in set(got) | set(want) if got.get(r) != want.get(r)]
    return [f"clusters: {len(diff)} records differ, e.g. {diff[0]}"]


def check_graphs(got: dict[int, tuple[int, set]], want: dict[int, tuple[int, set]]) -> list[str]:
    """Every stored graph (n, edge set) equals its last write."""
    bad = sorted(g for g in set(got) | set(want) if got.get(g) != want.get(g))
    return [f"graph store: graphs {bad} differ from their last write"] if bad else []


def check_store(got: dict[int, tuple], want: dict[int, tuple]) -> list[str]:
    if got == want:
        return []
    diff = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
    return [f"keyed store: {len(diff)} keys differ, e.g. {diff[0]}"]
