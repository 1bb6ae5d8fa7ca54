"""Independent numpy oracles for every engine result the benchmark times.

Nothing here imports the engine. Each oracle repeats the reference
semantics with the engine's arithmetic order, so exact decisions
(argmin, farthest point, convergence) match bit for bit and only
summation order can move the low bits of a mean:

- 3-D assignment: sqrt(dx*dx + dy*dy + dz*dz) per centroid, centroids
  scanned in id order with a strict ``<``, so a tie goes to the lowest
  id; clusters that receive no point drop out (K shrinks);
- the reference silhouette formulas (ordered-pair intra mean, the
  reference's |C|*(k-1) inter divisor);
- n-dim assignment ``||c||^2 - 2 a.c`` with first-minimum argmin, and
  farthest-point seeding with a left-to-right squared-distance fold.
"""

from __future__ import annotations

import math

import numpy as np

TOL = 1e-9
_CHUNK = 1 << 20


def close(a: float, b: float, tol: float = TOL) -> bool:
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def assign_3d(pts: np.ndarray, cents) -> np.ndarray:
    """Nearest-centroid id per point: strict ``<`` over id-sorted centroids."""
    cents = sorted(cents)
    out = np.empty(len(pts), dtype=np.int64)
    for lo in range(0, len(pts), _CHUNK):
        x, y, z = (np.ascontiguousarray(pts[lo : lo + _CHUNK, j]) for j in range(3))
        best = np.full(len(x), np.inf)
        lab = out[lo : lo + _CHUNK]
        d, t = np.empty_like(x), np.empty_like(x)
        win = np.empty(len(x), dtype=bool)
        for cid, cx, cy, cz in cents:
            # ((dx*dx + dy*dy) + dz*dz), the engine's evaluation order
            np.subtract(x, cx, out=d)
            np.multiply(d, d, out=d)
            np.subtract(y, cy, out=t)
            np.multiply(t, t, out=t)
            np.add(d, t, out=d)
            np.subtract(z, cz, out=t)
            np.multiply(t, t, out=t)
            np.add(d, t, out=d)
            np.sqrt(d, out=d)
            np.less(d, best, out=win)
            np.copyto(best, d, where=win)
            np.copyto(lab, cid, where=win)
    return out


def lloyd_step_3d(pts: np.ndarray, cents) -> list[tuple]:
    """One reference Lloyd step: (id, mean x, mean y, mean z) per
    non-empty cluster, id-sorted."""
    lab = assign_3d(pts, cents)
    n = np.bincount(lab)
    sums = [np.bincount(lab, weights=pts[:, j]) for j in range(3)]
    return [
        (int(c), sums[0][c] / n[c], sums[1][c] / n[c], sums[2][c] / n[c])
        for c in np.flatnonzero(n)
    ]


def displacement_3d(prev, curr) -> float:
    """Summed Euclidean displacement over id-sorted centroid lists."""
    return sum(
        math.sqrt((a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 + (a[3] - b[3]) ** 2)
        for a, b in zip(sorted(prev), sorted(curr))
    )


def lloyd_fit_3d(pts: np.ndarray, seeds, max_iter: int, threshold: float | None) -> dict:
    """Whole reference fit; ``shrunk`` marks a fit whose K dropped."""
    curr = [tuple(s) for s in seeds]
    for it in range(1, max_iter + 1):
        prev, curr = curr, lloyd_step_3d(pts, curr)
        if len(curr) != len(prev):
            return {"centroids": curr, "iterations": it, "shrunk": True}
        if threshold is not None and displacement_3d(prev, curr) < threshold:
            return {"centroids": curr, "iterations": it, "shrunk": False}
    return {"centroids": curr, "iterations": max_iter, "shrunk": False}


def same_centroids(got, want) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got), sorted(want)):
        if g[0] != w[0] or not all(close(a, b) for a, b in zip(g[1:], w[1:])):
            return False
    return True


def check_fit_3d(pts, seeds, steps, iterations: int, max_iter: int, threshold) -> str | None:
    """Replay a fit step by step from the engine's own step inputs.

    ``steps`` is the engine's [(input centroids, output centroids)] per
    Lloyd step. Returns None when every step and the stopping point
    match, else a one-line reason."""
    if not steps or [tuple(c) for c in steps[0][0]] != [tuple(s) for s in seeds]:
        return "first step did not start from the seed set"
    stop = max_iter
    for i, (inp, out) in enumerate(steps):
        if i and [tuple(c) for c in inp] != [tuple(c) for c in steps[i - 1][1]]:
            return f"step {i} did not start from step {i - 1}'s output"
        want = lloyd_step_3d(pts, inp)
        if not same_centroids(out, want):
            return f"step {i} centroids differ from the oracle"
        if threshold is not None and displacement_3d(inp, want) < threshold:
            stop = i + 1
            break
    if iterations != stop or len(steps) != stop:
        return f"stopped after {iterations} steps, oracle stops after {stop}"
    return None


def silhouette_3d(pts: np.ndarray, lab: np.ndarray) -> dict[int, tuple]:
    """Reference silhouette per cluster: (avg_intra, avg_inter, score)."""
    ids, inv = np.unique(lab, return_inverse=True)
    k = len(ids)
    intra = np.zeros(k)
    inter = np.zeros(k)
    x, y, z = pts[:, 0], pts[:, 1], pts[:, 2]
    for lo in range(0, len(pts), 512):
        a = pts[lo : lo + 512]
        dx = a[:, 0:1] - x[None, :]
        dy = a[:, 1:2] - y[None, :]
        dz = a[:, 2:3] - z[None, :]
        d = np.sqrt(dx * dx + dy * dy + dz * dz)
        same = inv[lo : lo + 512, None] == inv[None, :]
        np.add.at(intra, inv[lo : lo + 512], np.where(same, d, 0.0).sum(axis=1))
        np.add.at(inter, inv[lo : lo + 512], np.where(same, 0.0, d).sum(axis=1))
    n = np.bincount(inv).astype(np.float64)
    out = {}
    for i, c in enumerate(ids):
        ai = intra[i] / (n[i] * (n[i] - 1)) if n[i] > 1 else float("nan")
        ae = inter[i] / (n[i] * (k - 1))
        out[int(c)] = (ai, ae, (ae - ai) / max(ai, ae))
    return out


def farthest_nd(ids: np.ndarray, vecs: np.ndarray, k: int) -> list[list[float]]:
    """Farthest-point seeding: lowest id first, then the vector farthest
    from its nearest chosen seed, ties to the lowest id. ``ids`` must be
    ascending."""
    chosen = [0]
    d2min = None
    for _ in range(1, k):
        c = vecs[chosen[-1]]
        d2 = np.zeros(len(vecs))
        for j in range(vecs.shape[1]):
            t = vecs[:, j] - c[j]
            d2 = d2 + t * t
        d2min = d2 if d2min is None else np.minimum(d2min, d2)
        chosen.append(int(np.argmax(d2min)))
    return [vecs[i].tolist() for i in chosen]


def assign_nd(vecs: np.ndarray, cents) -> np.ndarray:
    c = np.asarray(cents, dtype=np.float64)
    d = (c * c).sum(axis=1)[None, :] - 2.0 * (vecs @ c.T)
    return d.argmin(axis=1)


def lloyd_step_nd(vecs: np.ndarray, cents) -> list[tuple[int, list[float]]]:
    lab = assign_nd(vecs, cents)
    out = []
    for c in np.unique(lab):
        m = lab == c
        out.append((int(c), (vecs[m].sum(axis=0) / m.sum()).tolist()))
    return out


def check_fit_nd(vecs, seeds, steps, iterations: int, max_iter: int) -> str | None:
    """Step-by-step replay of a fixed-iteration n-dim fit."""
    if len(steps) != max_iter or iterations != max_iter:
        return f"ran {len(steps)} steps, expected {max_iter}"
    prev = seeds
    for i, (inp, out) in enumerate(steps):
        if not np.array_equal(np.asarray(inp), np.asarray(prev)):
            return f"step {i} did not start from the previous centroids"
        want = lloyd_step_nd(vecs, inp)
        if [c for c, _ in out] != [c for c, _ in want] or not all(
            close(a, b) for (_, g), (_, w) in zip(out, want) for a, b in zip(g, w)
        ):
            return f"step {i} centroids differ from the oracle"
        prev = [v for _, v in out]
    return None


def counts(lab: np.ndarray) -> dict[int, int]:
    n = np.bincount(lab)
    return {int(c): int(n[c]) for c in np.flatnonzero(n)}
