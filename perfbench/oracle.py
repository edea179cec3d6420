"""Reference answers computed in numpy, without the library under test."""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6371008.8


def planar(x, y, cx, cy):
    return np.hypot(cx - x, cy - y)


def haversine_m(lon, lat, clon, clat):
    p1, p2 = np.radians(lat), np.radians(clat)
    h = (np.sin((p2 - p1) / 2) ** 2
         + np.cos(p1) * np.cos(p2) * np.sin(np.radians(clon - lon) / 2) ** 2)
    return 2 * EARTH_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(h)))


def knn_matches(probes: dict, cands: dict, k: int, got, dist=planar,
                rel: float = 1e-9) -> bool:
    """Brute-force kNN check. ``probes``/``cands`` hold ``id``, ``x``,
    ``y`` arrays; ``got`` is (probe id, neighbour id, distance, rank) rows.
    Every probe must have ranks 1..k with the exact k smallest distances;
    a neighbour id may differ from the reference only on a distance tie."""
    by_probe: dict[int, list] = {}
    for p, n, d, rank in got:
        by_probe.setdefault(int(p), []).append((int(rank), int(n), float(d)))
    if sorted(by_probe) != sorted(int(i) for i in probes["id"]):
        return False
    pos = {int(i): j for j, i in enumerate(cands["id"])}
    for j, p in enumerate(probes["id"]):
        d = dist(probes["x"][j], probes["y"][j], cands["x"], cands["y"])
        order = np.lexsort((cands["id"], d))[:k]
        rows = sorted(by_probe[int(p)])
        if [r[0] for r in rows] != list(range(1, len(order) + 1)):
            return False
        if not np.allclose([r[2] for r in rows], d[order], rtol=rel, atol=1e-6):
            return False
        for (_, n, _), want in zip(rows, order):
            if n != cands["id"][want] and (
                n not in pos or not np.isclose(d[pos[n]], d[want], rtol=rel)
            ):
                return False
    return True


def neighbor_pairs(x: np.ndarray, y: np.ndarray, eps: float):
    """All unordered index pairs (i < j) with planar distance <= eps,
    via an eps-grid (each pair is found from exactly one cell offset)."""
    cx = np.floor(x / eps).astype(np.int64)
    cy = np.floor(y / eps).astype(np.int64)
    span = int(cy.max() - cy.min() + 3)
    key = (cx - cx.min() + 1) * span + (cy - cy.min() + 1)
    order = np.argsort(key, kind="stable")
    skey = key[order]
    out_i, out_j = [], []
    for dx, dy in ((0, 0), (1, -1), (1, 0), (1, 1), (0, 1)):
        nkey = key + dx * span + dy
        lo = np.searchsorted(skey, nkey, "left")
        hi = np.searchsorted(skey, nkey, "right")
        cnt = hi - lo
        src = np.repeat(np.arange(len(x)), cnt)
        starts = np.repeat(lo, cnt)
        offs = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        dst = order[starts + offs]
        keep = np.hypot(x[src] - x[dst], y[src] - y[dst]) <= eps
        if dx == 0 and dy == 0:
            keep &= src < dst
        out_i.append(src[keep])
        out_j.append(dst[keep])
    return np.concatenate(out_i), np.concatenate(out_j)


def _components(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Smallest node index per connected component of edges (a, b):
    min-label propagation with pointer jumping."""
    label = np.arange(n)
    while True:
        low = np.minimum(label[a], label[b])
        new = label.copy()
        np.minimum.at(new, a, low)
        np.minimum.at(new, b, low)
        new = new[new]
        if np.array_equal(new, label):
            return label
        label = new


def dbscan(ids: np.ndarray, x: np.ndarray, y: np.ndarray, eps: float, min_points: int):
    """PostGIS ST_ClusterDBSCAN labels, as {row id: cluster id}: cores
    have >= min_points rows within eps (self included); a cluster is a
    connected component of core-core edges labelled by its minimum id; a
    border row takes the smallest label among its core neighbours; noise
    rows are absent."""
    order = np.argsort(ids, kind="stable")
    ids, x, y = ids[order], x[order], y[order]
    n = len(ids)
    i, j = neighbor_pairs(x, y, eps)
    deg = np.bincount(i, minlength=n) + np.bincount(j, minlength=n)
    core = deg + 1 >= min_points
    cc = core[i] & core[j]
    label = np.full(n, -1, dtype=np.int64)
    label[core] = ids[_components(i[cc], j[cc], n)][core]
    big = np.iinfo(np.int64).max
    border = np.full(n, big, dtype=np.int64)
    for s, d in ((i, j), (j, i)):
        m = core[d] & ~core[s]
        np.minimum.at(border, s[m], label[d[m]])
    has = (~core) & (border != big)
    label[has] = border[has]
    keep = label >= 0
    return dict(zip(ids[keep].tolist(), label[keep].tolist()))


def cluster_sizes_match(rows, labels: dict, n: int) -> bool:
    """(cluster_id, n) rows against :func:`dbscan` labels of ``n`` points;
    noise is absent from ``labels`` and a NULL cluster_id in the rows."""
    sizes = {None: n - len(labels)}
    for label in labels.values():
        sizes[label] = sizes.get(label, 0) + 1
    return {r.cluster_id: r.n for r in rows} == {k: v for k, v in sizes.items() if v}


def recall_at(got_ids, want_ids) -> float:
    return len(set(got_ids) & set(want_ids)) / max(1, len(want_ids))


def cosine_scores(vecs: np.ndarray, q: np.ndarray) -> np.ndarray:
    v = vecs.astype(np.float64)
    q = np.asarray(q, np.float64)
    return (v @ q) / (np.linalg.norm(v, axis=1) * (np.linalg.norm(q) or 1.0))


def topk_ids(scores: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    return ids[np.lexsort((ids, -scores))[:k]]
