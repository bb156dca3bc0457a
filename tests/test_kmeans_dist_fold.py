"""The exact-ANN distance fold: the in-place accumulator of
``_dists_to_all`` must stay BIT-identical to the cumsum reference
(same sequential dim-order rounding sequence), across the shapes the engine actually uses — the coarse
(n, 64) × 16-cell assignment, the (n, 4) × 32-code subspace encode,
and degenerate n/C edges."""

from __future__ import annotations

import numpy as np

from time_series_prediction_spark.operators.kmeans_exact import _dists_to_all


def _ref_dists_to(V: np.ndarray, s: np.ndarray, m: int) -> np.ndarray:
    """The cumsum formulation — the fold-order reference."""
    t = (V * int(m) - s[None, :]).astype(np.float64)
    sq = t * t
    return np.cumsum(sq, axis=1)[:, -1] / float(int(m) * int(m))


def _mk(rng, n, d, n_cells):
    V = rng.integers(-(1 << 20), 1 << 20, size=(n, d), dtype=np.int64)
    cents = []
    for c in range(n_cells):
        m = int(rng.integers(1, 4097))
        s = rng.integers(-(1 << 20), 1 << 20, size=d, dtype=np.int64) * m
        cents.append((c, s, m))
    return V, cents


def test_dists_to_all_matches_stacked_reference_bitwise():
    rng = np.random.default_rng(13)
    for n, d, C in ((4096, 64, 16), (2048, 4, 32), (1, 64, 16), (5, 1, 3)):
        V, cents = _mk(rng, n, d, C)
        got = _dists_to_all(V, cents)
        ref = np.stack(
            [_ref_dists_to(V, s, m) for _c, s, m in cents], axis=1
        )
        assert got.shape == (n, C)
        assert np.array_equal(got, ref)  # bitwise, not allclose


def test_dists_to_all_empty_cents():
    rng = np.random.default_rng(17)
    V, _ = _mk(rng, 7, 8, 1)
    got = _dists_to_all(V, [])
    assert got.shape == (7, 0)
