"""NumPy reference results for the graph operators, computed from the
workspace's edge files. Each follows the operator's documented
semantics (see ``operators/graph.py``): ids are the 64-bit node ids,
components and SCCs are named by their smallest member id."""

from __future__ import annotations

import numpy as np


def _index(src: np.ndarray, dst: np.ndarray):
    nodes = np.unique(np.concatenate([src, dst]))
    return nodes, np.searchsorted(nodes, src), np.searchsorted(nodes, dst)


def degrees(src, dst) -> set:
    nodes, s, d = _index(src, dst)
    out_d = np.bincount(s, minlength=len(nodes))
    in_d = np.bincount(d, minlength=len(nodes))
    return {
        (int(n), int(i), int(o), int(i + o)) for n, i, o in zip(nodes, in_d, out_d)
    }


def connected_components(src, dst) -> set:
    """Union-find over the undirected edges; roots are the smallest
    index, and indices are in id order, so the root is the min id."""
    nodes, s, d = _index(src, dst)
    parent = np.arange(len(nodes))

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(s.tolist(), d.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(int(nodes[i]), int(nodes[find(i)])) for i in range(len(nodes))}


def pagerank(src, dst, iterations: int = 10, damping: float = 0.85) -> dict:
    """Power iteration with uniform teleport; the mass of nodes without
    out-edges is spread uniformly. Parallel edges count separately."""
    nodes, s, d = _index(src, dst)
    n = len(nodes)
    odeg = np.bincount(s, minlength=n).astype(float)
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.bincount(d, weights=rank[s] / odeg[s], minlength=n)
        dangling = 1.0 - contrib.sum()
        rank = (1.0 - damping) / n + damping * (contrib + dangling / n)
    return dict(zip(nodes.tolist(), rank.tolist()))


def k_core(src, dst, k: int) -> set:
    """(node, degree inside the k-core) by iterative peeling of the
    simple undirected graph."""
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    keep = a != b
    pairs = np.unique(np.stack([a[keep], b[keep]], axis=1), axis=0)
    while len(pairs):
        ids, deg = np.unique(pairs.ravel(), return_counts=True)
        ok = ids[deg >= k]
        live = np.isin(pairs[:, 0], ok) & np.isin(pairs[:, 1], ok)
        if live.all():
            break
        pairs = pairs[live]
    if not len(pairs):
        return set()
    ids, deg = np.unique(pairs.ravel(), return_counts=True)
    return {(int(i), int(c)) for i, c in zip(ids, deg) if c >= k}


def bfs(src, dst, roots: list[int], max_depth: int) -> set:
    """(node, min hop count) over the directed edges."""
    nodes, s, d = _index(src, dst)
    order = np.argsort(s, kind="stable")
    s_sorted, d_sorted = s[order], d[order]
    starts = np.searchsorted(s_sorted, np.arange(len(nodes) + 1))
    pos = {int(v): i for i, v in enumerate(nodes.tolist())}
    depth = {int(r): 0 for r in roots}
    frontier = [pos[r] for r in depth if r in pos]
    seen = set(frontier)
    for level in range(1, max_depth + 1):
        nxt = []
        for u in frontier:
            for v in d_sorted[starts[u]:starts[u + 1]].tolist():
                if v not in seen:
                    seen.add(v)
                    nxt.append(v)
                    depth[int(nodes[v])] = level
        if not nxt:
            break
        frontier = nxt
    return set(depth.items())


def strongly_connected_components(src, dst) -> set:
    """Iterative Tarjan; each SCC is named by its smallest node id."""
    nodes, s, d = _index(src, dst)
    n = len(nodes)
    order = np.argsort(s, kind="stable")
    adj_to = d[order].tolist()
    starts = np.searchsorted(s[order], np.arange(n + 1)).tolist()
    index = [-1] * n
    low = [0] * n
    on_stack = [False] * n
    stack: list[int] = []
    comp = [0] * n
    counter = 0
    for root in range(n):
        if index[root] != -1:
            continue
        work = [(root, starts[root])]
        index[root] = low[root] = counter
        counter += 1
        stack.append(root)
        on_stack[root] = True
        while work:
            v, i = work[-1]
            if i < starts[v + 1]:
                work[-1] = (v, i + 1)
                w = adj_to[i]
                if index[w] == -1:
                    index[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    on_stack[w] = True
                    work.append((w, starts[w]))
                elif on_stack[w]:
                    low[v] = min(low[v], index[w])
                continue
            work.pop()
            if work:
                u = work[-1][0]
                low[u] = min(low[u], low[v])
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack[w] = False
                    members.append(w)
                    if w == v:
                        break
                name = int(nodes[min(members)])
                for w in members:
                    comp[w] = name
    return {(int(nodes[i]), comp[i]) for i in range(n)}
