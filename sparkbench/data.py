"""Seeded inputs and the exact answers the benchmark checks against.

Everything here is numpy on the driver and runs before any timing: the
program under test only ever sees the generated vectors.
"""

from __future__ import annotations

import numpy as np


def topic_mixture(seed: int, n: int, nq: int, dim: int, n_topics: int,
                  latent: int, spread: float, noise: float):
    """Corpus ``(n, dim)`` and queries ``(nq, dim)``, float32.

    Points are drawn from a mixture of ``n_topics`` Gaussian topics in a
    ``latent``-dimensional space (Dirichlet topic sizes, so cells are
    mildly imbalanced), mapped into ``dim`` coordinates by a seeded
    orthonormal frame, plus isotropic ``noise``.  Real embedding corpora
    are clustered in a low-dimensional subspace like this; ``spread``
    (within-topic std, relative to unit-variance topic centres) sets how
    hard nearest-neighbour search is at a given nprobe.  Queries come
    from the same mixture, drawn after the corpus from the same stream.
    """
    rng = np.random.default_rng(seed)
    frame, _ = np.linalg.qr(rng.standard_normal((dim, latent)))
    centres = rng.standard_normal((n_topics, latent))
    weights = rng.dirichlet(np.full(n_topics, 10.0))

    def draw(m: int) -> np.ndarray:
        topic = rng.choice(n_topics, size=m, p=weights)
        z = centres[topic] + spread * rng.standard_normal((m, latent))
        x = z @ frame.T + noise * rng.standard_normal((m, dim))
        return x.astype(np.float32)

    return draw(n), draw(nq)


def exact_knn(base: np.ndarray, queries: np.ndarray, k: int,
              chunk: int = 1024) -> tuple[np.ndarray, np.ndarray]:
    """Exact L2 top-k → ``(ids (nq, k) int64, sq_dists (nq, k) float64)``.

    Candidates come from a float32 matmul, widened to ``k + 32`` so that
    float32 rounding cannot push a true neighbour out; the survivors are
    re-scored in float64 and ordered by (distance, id), the tie order
    the search itself uses.
    """
    b64 = base.astype(np.float64)
    b_sq = np.einsum("ij,ij->i", base, base)
    wide = min(k + 32, len(base))
    ids = np.empty((len(queries), k), dtype=np.int64)
    dists = np.empty((len(queries), k), dtype=np.float64)
    for s in range(0, len(queries), chunk):
        q = queries[s:s + chunk]
        approx = b_sq[None, :] - 2.0 * (q @ base.T)
        cand = np.argpartition(approx, wide - 1, axis=1)[:, :wide]
        diff = b64[cand] - q.astype(np.float64)[:, None, :]
        d2 = np.einsum("ijk,ijk->ij", diff, diff)
        order = np.lexsort((cand, d2), axis=1)[:, :k]
        ids[s:s + chunk] = np.take_along_axis(cand, order, axis=1)
        dists[s:s + chunk] = np.take_along_axis(d2, order, axis=1)
    return ids, dists


def exact_top_pairs(emb: np.ndarray, top_n: int) -> list[tuple[int, int]]:
    """Exact global top-``top_n`` most-cosine-similar pairs ``(a, b)``,
    ``a < b``, ordered by (cosine desc, a, b)."""
    unit = emb.astype(np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    sims = unit @ unit.T
    iu = np.triu_indices(len(emb), k=1)
    flat = sims[iu]
    pick = np.argpartition(-flat, top_n - 1)[:top_n]
    a, b, s = iu[0][pick], iu[1][pick], flat[pick]
    order = np.lexsort((b, a, -s))
    return [(int(a[i]), int(b[i])) for i in order]


def recall_at_k(found: np.ndarray, truth: np.ndarray) -> float:
    """Mean over queries of |found ∩ truth| / k (rows are queries)."""
    hits = sum(len(set(f) & set(t)) for f, t in zip(found.tolist(), truth.tolist()))
    return hits / truth.size


def distance_ratio(base: np.ndarray, queries: np.ndarray, found: np.ndarray,
                   truth_sq: np.ndarray) -> float:
    """Mean over queries and ranks of ‖q − found_i‖ / ‖q − true_i‖, the
    paper's average distance ratio (1.0 is exact; ranks are compared
    position by position after sorting each row's found distances)."""
    diff = base[found].astype(np.float64) - queries.astype(np.float64)[:, None, :]
    got = np.sort(np.sqrt(np.einsum("ijk,ijk->ij", diff, diff)), axis=1)
    want = np.sqrt(truth_sq)
    ok = want > 0
    return float(np.mean(got[ok] / want[ok]))


def pair_recall(found: list[tuple[int, int]], truth: list[tuple[int, int]]) -> float:
    """Share of the exact top pairs that the search returned."""
    return len(set(found) & set(truth)) / len(truth)


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it →
    ``(percentile, value, n_samples)``.

    That is the ``n − 10``-th smallest sample (nearest rank), at
    percentile ``100·(n − 10)/n``.  Below 20 samples that percentile
    would not reach the median, which is returned instead, at 50.
    """
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return 50.0, float(np.median(xs)), n
    return 100.0 * (n - 10) / n, xs[n - 11], n
