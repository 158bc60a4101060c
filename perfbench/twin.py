"""NumPy twin of the engine's K-Means: the six seeding strategies and
Lloyd's loop, written from their documented semantics, for checking
the Spark fit outside the timer.

Seeding draws use the engine's cross-engine hash: hash01(id, seed) is
the first 8 hex digits of md5("<seed>|<id>") plus one, over 2**32.
"""

from __future__ import annotations

import hashlib

import numpy as np

TWO32 = 4294967296.0


def hash01(ids: np.ndarray, seed) -> np.ndarray:
    return np.array(
        [(int(hashlib.md5(f"{seed}|{int(i)}".encode()).hexdigest()[:8], 16) + 1) / TWO32
         for i in ids]
    )


def _sq_dists(x: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """(n, k) squared L2 distances."""
    return ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)


def _first_by(ids: np.ndarray, key: np.ndarray, desc: bool) -> int:
    """Row index of the best key, ties broken by the lowest id."""
    order = np.lexsort((ids, -key if desc else key))
    return int(order[0])


def _random(x, ids, k, seed):
    order = np.lexsort((ids, hash01(ids, seed)))
    rows = [x[i] for i in order[:k]]
    while len(rows) < k:
        rows.append(rows[len(rows) % len(order)])
    return rows


def _roulette(x, ids, centers, seed, rnd):
    w = _sq_dists(x, np.array(centers)).min(axis=1)
    u = hash01(ids, f"{seed}-{rnd}")
    with np.errstate(divide="ignore"):
        t = np.where(w > 0, -np.log(u) / np.where(w > 0, w, 1.0), np.inf)
    return x[_first_by(ids, t, desc=False)]


def _farthest(x, ids, centers):
    d = _sq_dists(x, np.array(centers)).min(axis=1)
    return x[_first_by(ids, d, desc=True)]


def initial_centers(x: np.ndarray, ids: np.ndarray, k: int, init: str,
                    seed: int) -> np.ndarray:
    """Initial centers for p=2 and the classic D^2 roulette weight."""
    if init == "random":
        return np.array(_random(x, ids, k, seed))
    if init == "plusplus":
        centers = _random(x, ids, 1, seed)
    elif init in ("init_max", "max_farthest"):
        centers = [x[_first_by(ids, np.sqrt((x * x).sum(axis=1)), desc=True)]]
    elif init == "init_min":
        centers = [x[_first_by(ids, np.sqrt((x * x).sum(axis=1)), desc=False)]]
    elif init == "max_farthest_manhattan":
        centers = [x[_first_by(ids, np.abs(x).sum(axis=1), desc=True)]]
    else:
        raise ValueError(f"unknown init strategy: {init}")
    for i in range(1, k):
        if init in ("max_farthest", "max_farthest_manhattan"):
            centers.append(_farthest(x, ids, centers))
        else:
            centers.append(_roulette(x, ids, centers, seed, i))
    return np.array(centers)


def lloyd(x: np.ndarray, ids: np.ndarray, centers: np.ndarray,
          threshold: float = 1e-4, max_iter: int = 20) -> tuple[np.ndarray, int]:
    """Lloyd's loop with matched-center convergence and farthest-point
    reseeding of empty clusters, as the engine's fit loop runs it."""
    k = len(centers)
    n_iter = 0
    for _ in range(max_iter):
        n_iter += 1
        assign = _sq_dists(x, centers).argmin(axis=1)
        new: list[np.ndarray | None] = [
            x[assign == c].mean(axis=0) if (assign == c).any() else None for c in range(k)
        ]
        for c in range(k):
            if new[c] is None:
                new[c] = _farthest(x, ids, [v for v in new if v is not None] or list(centers))
        new_arr = np.array(new)
        delta = np.sqrt(((centers - new_arr) ** 2).sum(axis=1)).max()
        centers = new_arr
        if delta <= threshold:
            break
    return centers, n_iter


def sse(x: np.ndarray, centers: np.ndarray) -> float:
    return float(_sq_dists(x, np.asarray(centers)).min(axis=1).sum())
