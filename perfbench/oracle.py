"""Reference answers, computed in numpy without Spark or ccl_spark.

Each function takes plain numpy arrays and returns what the matching
ccl_spark job must produce: union-find components, numpy power
iteration PageRank (run to 1e-12), synchronous label propagation with
the (count desc, label asc) tie-break, an exact triangle count, and
the storm stack's per-slice labels and track ages.
"""

from __future__ import annotations

import numpy as np

DAMPING = 0.85


def union_find(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Root of every index 0..n-1 after joining ``a[i]`` with ``b[i]``;
    the root of a set is its smallest member."""
    parent = list(range(n))
    for x, y in zip(a.tolist(), b.tolist()):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        while parent[y] != y:
            parent[y] = parent[parent[y]]
            y = parent[y]
        if x < y:
            parent[y] = x
        elif y < x:
            parent[x] = y
    for i in range(n):  # parents point to smaller ids, so one pass resolves
        parent[i] = parent[parent[i]]
    return np.asarray(parent, dtype=np.int64)


def components(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(vertex, component)`` with component = smallest vertex id."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    root = union_find(len(ids), inv[: len(src)], inv[len(src) :])
    return ids, ids[root]  # ids sorted, so the smallest index is the smallest id


def pagerank(src: np.ndarray, dst: np.ndarray, tol: float = 1e-12):
    """``(vertex, rank)``: uniform teleport, dangling mass spread
    uniformly, iterated until the max per-vertex change is below tol."""
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    ids, inv = np.unique(pairs.ravel(), return_inverse=True)
    s, d = inv[0::2], inv[1::2]
    n = len(ids)
    deg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(10_000):
        contrib = np.bincount(d, weights=rank[s] / deg[s], minlength=n)
        new = (1.0 - DAMPING) / n + DAMPING * (contrib + rank[dangling].sum() / n)
        delta = np.abs(new - rank).max()
        rank = new
        if delta < tol:
            return ids, rank
    raise RuntimeError("oracle pagerank did not converge")


def label_propagation(src: np.ndarray, dst: np.ndarray, max_iter: int = 10):
    """``(vertex, label)`` after synchronous rounds over the undirected
    simple graph; each vertex takes its neighbours' most frequent label,
    smallest label on ties; stops early when no label changes."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u, v = inv[: len(src)], inv[len(src) :]
    keep = u != v
    nb = np.unique(
        np.concatenate([np.stack([u[keep], v[keep]], 1), np.stack([v[keep], u[keep]], 1)]),
        axis=0,
    )
    a, b = nb[:, 0], nb[:, 1]  # a hears b's label
    label = ids.copy()
    has_nb = np.zeros(len(ids), bool)
    has_nb[a] = True
    for _ in range(max_iter):
        msg = np.stack([a, label[b]], axis=1)
        key, cnt = np.unique(msg, axis=0, return_counts=True)
        # per vertex: max count, then smallest label
        order = np.lexsort((key[:, 1], -cnt, key[:, 0]))
        first = np.ones(len(order), bool)
        first[1:] = key[order[1:], 0] != key[order[:-1], 0]
        win = order[first]
        new = label.copy()
        new[key[win, 0]] = key[win, 1]
        changed = np.any(new[has_nb] != label[has_nb])
        label = new
        if not changed:
            break
    return ids, label


def triangle_count(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the undirected simple graph: each edge oriented from
    its lower-(degree, id) end, wedges closed by a sorted-key lookup."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    keep = lo != hi
    e = np.unique(np.stack([lo[keep], hi[keep]], 1), axis=0)
    ids, inv = np.unique(e.ravel(), return_inverse=True)
    a, b = inv[0::2], inv[1::2]
    n = len(ids)
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    rank = np.lexsort((np.arange(n), deg))  # rank[i]-th smallest (deg, id)
    pos = np.empty(n, np.int64)
    pos[rank] = np.arange(n)
    x = np.where(pos[a] < pos[b], a, b)
    y = np.where(pos[a] < pos[b], b, a)
    order = np.argsort(x, kind="stable")
    x, y = x[order], y[order]
    starts = np.searchsorted(x, np.arange(n + 1))
    keys = np.sort(x * n + y)
    total = 0
    for v in np.flatnonzero(np.diff(starts) >= 2):
        out = y[starts[v] : starts[v + 1]]
        p, q = np.triu_indices(len(out), 1)
        wedge = np.concatenate([out[p] * n + out[q], out[q] * n + out[p]])
        hit = np.searchsorted(keys, wedge)
        hit[hit == len(keys)] = 0
        total += int(np.count_nonzero(keys[hit] == wedge))
    return total


def storm_links(grid: np.ndarray, lo: float):
    """``(foreground, a, b)`` of a ``(slices, rows, cols)`` field:
    foreground by the uint8-quantized threshold, and the flat cell
    indices ``a[i]``-``b[i]`` that belong to one component: 8-connected
    neighbours, the polar rows (one component each) and the dateline
    (col 0 with col -1 at row offsets -1..1)."""
    n_s, n_r, n_c = grid.shape
    mx = grid.reshape(n_s, -1).max(axis=1)
    mx = np.where(mx == 0, 1.0, mx)[:, None, None]
    fg = np.floor(255.0 * grid / mx).astype(np.int64) > np.floor(255.0 * lo / mx).astype(
        np.int64
    )
    vid = np.arange(fg.size).reshape(fg.shape)
    a, b = [], []

    def link(m1, i1, i2):
        a.append(i1[m1])
        b.append(i2[m1])

    for dr, dc in ((0, 1), (1, -1), (1, 0), (1, 1)):
        r0, r1 = 0, n_r - dr
        c0, c1 = max(0, -dc), n_c - max(0, dc)
        src = (slice(None), slice(r0, r1), slice(c0, c1))
        dst = (slice(None), slice(r0 + dr, r1 + dr), slice(c0 + dc, c1 + dc))
        link(fg[src] & fg[dst], vid[src], vid[dst])
    for r in (0, n_r - 1):  # polar rows: chain every foreground cell
        ring = fg[:, r, :]
        for s in range(n_s):
            cells = vid[s, r, ring[s]]
            a.append(cells[:-1])
            b.append(cells[1:])
    for dr in (-1, 0, 1):  # dateline
        rows = np.arange(max(0, -dr), n_r - max(0, dr))
        w = fg[:, rows, 0] & fg[:, rows + dr, n_c - 1]
        link(w, vid[:, rows, 0], vid[:, rows + dr, n_c - 1])
    return fg, np.concatenate(a), np.concatenate(b)


def storm_labels(grid: np.ndarray, lo: float) -> np.ndarray:
    """Per-slice reference labels (0 = background): the components of
    ``storm_links``, each numbered by the dense rank of its smallest
    2x2-block raster index."""
    n_s, n_r, n_c = grid.shape
    fg, a, b = storm_links(grid, lo)
    vid = np.arange(fg.size).reshape(fg.shape)
    root = union_find(fg.size, a, b)
    labels = np.zeros(fg.shape, np.int64)
    bk = (np.arange(n_r)[:, None] // 2) * ((n_c + 1) // 2) + np.arange(n_c)[None, :] // 2
    for s in range(n_s):
        m = fg[s]
        roots = root[vid[s][m]]
        comp, cinv = np.unique(roots, return_inverse=True)
        min_bk = np.full(len(comp), np.iinfo(np.int64).max)
        np.minimum.at(min_bk, cinv, bk[m])
        labels[s][m] = np.unique(min_bk, return_inverse=True)[1][cinv] + 1
    return labels


def storm_ages(labels: np.ndarray, node_base: int) -> tuple[np.ndarray, np.ndarray]:
    """``(component, age)`` of the tracks: (slice, label) nodes joined
    where consecutive slices overlap, node id ``slice * node_base +
    label``, component = smallest node id, age = slices spanned."""
    n_s = labels.shape[0]
    node = np.arange(n_s)[:, None, None] * node_base + labels
    both = (labels[1:] > 0) & (labels[:-1] > 0)
    pairs = np.unique(np.stack([node[:-1][both], node[1:][both]], 1), axis=0)
    nodes = np.unique(node[labels > 0])
    idx = np.searchsorted(nodes, pairs)
    root = union_find(len(nodes), idx[:, 0], idx[:, 1])
    comp = nodes[root]
    track_slices = np.unique(np.stack([comp, nodes // node_base], 1), axis=0)
    ids, age = np.unique(track_slices[:, 0], return_counts=True)
    return ids, age
