"""Numpy reference implementations of GA1–GA4 (networkx is not installed
in this container; these match networkx semantics and are simple enough
to be obviously correct)."""

from __future__ import annotations

import numpy as np


def pagerank_oracle(edges, damping=0.85, tol=1e-6, max_iter=100):
    """edges: iterable of (src, dst). Returns dict vertex -> rank.
    Matches networkx.pagerank: uniform init/personalization, dangling
    mass redistributed uniformly, stop when L1 <= n*tol."""
    verts = sorted({u for u, v in edges} | {v for u, v in edges})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    if n == 0:
        return {}
    out = np.zeros(n)
    for u, v in edges:
        out[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        new = np.full(n, (1.0 - damping) / n)
        dangling = r[out == 0].sum()
        new += damping * dangling / n
        contrib = np.zeros(n)
        for u, v in edges:
            contrib[idx[v]] += r[idx[u]] / out[idx[u]]
        new += damping * contrib
        if np.abs(new - r).sum() <= n * tol:
            r = new
            break
        r = new
    return {v: r[idx[v]] for v in verts}


def cc_oracle(edges, vertices=None):
    """Union-find. Returns dict vertex -> min-vertex-of-component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for u, v in edges:
        union(u, v)
    verts = set(vertices or []) | {u for u, v in edges} | {v for u, v in edges}
    return {v: find(v) for v in verts}


def lpa_oracle(edges, max_iter=20):
    """Synchronous LPA, most-frequent neighbor label, tie -> min label.
    Matches osm2ch_spark.graph.label_propagation semantics exactly."""
    nbrs = {}
    for u, v in edges:
        if u == v:
            continue
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    labels = {v: v for v in nbrs}
    for _ in range(max_iter):
        new = {}
        for v in nbrs:
            counts = {}
            for w in nbrs[v]:
                lb = labels[w]
                counts[lb] = counts.get(lb, 0) + 1
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))[0]
            new[v] = best
        if new == labels:
            break
        labels = new
    return labels


def triangles_oracle(edges):
    """Total triangle count (undirected, dedup, no self-loops)."""
    und = set()
    for u, v in edges:
        if u != v:
            und.add((min(u, v), max(u, v)))
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    count = 0
    for a, b in und:
        count += len([c for c in adj[a] & adj[b] if c > b])
    return count


def triangles_per_vertex_oracle(edges):
    """Vertex -> number of triangles through it, for every endpoint of
    ``edges`` (0 for a vertex on no triangle or on self-loops only)."""
    und = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    per_v = {x: 0 for e in edges for x in e}
    for a, b in und:
        for c in adj[a] & adj[b]:
            if c > b:
                for x in (a, b, c):
                    per_v[x] += 1
    return per_v


def seeded_graph(kind: str, seed: int = 42):
    """Deterministic synthetic edge lists for stress tests."""
    rng = np.random.RandomState(seed)
    if kind == "power_law":
        # hub-skewed: preferential-attachment-ish over 200 vertices
        edges = []
        for v in range(1, 200):
            targets = rng.zipf(1.6, size=3) % v
            for t in targets:
                if t != v:
                    edges.append((v, int(t)))
        return sorted(set(edges))
    if kind == "multi_component":
        edges = []
        for c in range(5):
            base = c * 100
            n = 20 + c * 5
            perm = rng.permutation(n)
            for i in range(n - 1):
                edges.append((base + int(perm[i]), base + int(perm[i + 1])))
            extra = rng.randint(0, n, size=10)
            for i in range(0, 10, 2):
                if extra[i] != extra[i + 1]:
                    edges.append((base + int(extra[i]), base + int(extra[i + 1])))
        return sorted(set(edges))
    if kind == "self_loops":
        # a triangle with a self-loop on one corner, a pendant vertex on no
        # triangle, a path, and an isolated self-loop vertex
        return [(1, 2), (2, 3), (3, 1), (3, 3), (3, 4), (7, 5), (5, 6), (50, 50)]
    raise ValueError(kind)
