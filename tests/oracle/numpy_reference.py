"""Vendored NumPy oracles replicating the reference's operator bodies.

These re-derive, from public statsmodels/numpy semantics, exactly what
the reference computes (reference ``notebooks/utils.py:239-405,
1048-1067``), so golden tests can pin the engine's Spark-native
operators against them. statsmodels itself is not installed in this
image; ``ref_trend`` reimplements ``seasonal_decompose(...,
model='additive', freq=f, extrapolate_trend=1).trend``:

* trend filter: even f → convolution filter ``[0.5, 1...1, 0.5]/f``
  (length f+1); odd f → ``ones(f)/f``; computed with
  ``np.convolve(mode='valid')`` then NaN-padded at the edges.
* ``extrapolate_trend=1``: statsmodels' ``_extrapolate_trend`` with
  npoints=1 — ``np.linalg.lstsq`` on a single point, which (rcond=-1,
  underdetermined) yields the minimum-norm solution, not a constant.
"""

from __future__ import annotations

import numpy as np


def _convolution_trend(x: np.ndarray, freq: int) -> np.ndarray:
    if freq % 2 == 0:
        filt = np.array([0.5] + [1.0] * (freq - 1) + [0.5]) / freq
    else:
        filt = np.ones(freq) / freq
    trim_head = int(np.ceil(len(filt) / 2.0) - 1)
    trim_tail = len(filt) - 1 - trim_head
    valid = np.convolve(x, filt, mode="valid")
    out = np.full(len(x), np.nan)
    out[trim_head : len(x) - trim_tail] = valid
    return out


def _extrapolate_trend_sm(trend: np.ndarray, npoints: int) -> np.ndarray:
    """statsmodels.tsa.seasonal._extrapolate_trend, 1-D case."""
    trend = trend.copy()
    front = next(i for i, v in enumerate(trend) if not np.isnan(v))
    back = (
        len(trend)
        - 1
        - next(i for i, v in enumerate(trend[::-1]) if not np.isnan(v))
    )
    front_last = min(front + npoints, back)
    back_first = max(front, back - npoints)

    k, n = np.linalg.lstsq(
        np.c_[np.arange(front, front_last), np.ones(front_last - front)],
        trend[front:front_last],
        rcond=-1,
    )[0]
    trend[:front] = np.arange(0, front) * k + n

    k, n = np.linalg.lstsq(
        np.c_[np.arange(back_first, back), np.ones(back - back_first)],
        trend[back_first:back],
        rcond=-1,
    )[0]
    trend[back + 1 :] = np.arange(back + 1, len(trend)) * k + n
    return trend


def ref_trend(x, freq: int = 30) -> np.ndarray:
    """reference trend (notebooks/utils.py:239-248): float32 of
    np.around(seasonal_decompose(...).trend, 3)."""
    t = _convolution_trend(np.asarray(x, dtype=float), freq)
    t = _extrapolate_trend_sm(t, 1)
    return np.around(t, 3).astype(np.float32)


def ref_detrend(x, trend) -> np.ndarray:
    """as-shipped no-op (notebooks/utils.py:258)."""
    return np.asarray(x, dtype=np.float32)


def ref_retrend(x, trend) -> np.ndarray:
    """as-shipped no-op (notebooks/utils.py:270)."""
    return np.asarray(x, dtype=np.float32)


def ref_mean(x) -> np.float32:
    return np.float32(np.around(np.mean(np.asarray(x, dtype=float)), 3))


def ref_std(x) -> np.float32:
    return np.float32(np.around(np.std(np.asarray(x, dtype=float)), 3))


def ref_scaling(x, mean: float, std: float) -> np.ndarray:
    return np.around((np.asarray(x, dtype=float) - mean) / std, 3).astype(
        np.float32
    )


def ref_rescaling(x, mean: float, std: float) -> np.ndarray:
    return np.around(np.asarray(x, dtype=float) * std + mean, 3).astype(
        np.float32
    )


def ref_get_x(x, x_days: int = 365, y_days: int = 92) -> np.ndarray:
    arr = np.asarray(x, dtype=float)[-x_days - y_days : -y_days]
    return np.around(arr, 3).astype(np.float32)


def ref_get_y(x, y_days: int = 92) -> np.ndarray:
    arr = np.asarray(x, dtype=float)[-y_days:]
    return np.around(arr, 3).astype(np.float32)


def ref_gradient(x) -> np.ndarray:
    return np.gradient(np.asarray(x, dtype=float))


def ref_extrapolate_trend(
    x,
    window_days: int = 183,
    horizon_days: int = 92,
    serving: bool = False,
) -> np.ndarray:
    """notebooks/utils.py:347-382, exact day-by-day loop."""
    x = np.asarray(x, dtype=float)
    slope = np.gradient(x)
    if not serving:
        window = slope[-window_days - horizon_days :]
    else:
        window = slope[-window_days:]
    agg = np.nanmedian(window)

    out = np.zeros(horizon_days)
    out[0] = agg + (x[-1 - horizon_days] if not serving else x[-1])
    for day in range(1, horizon_days):
        out[day] = agg + out[day - 1]
    return np.around(out, 3).astype(np.float32)


def ref_trajectory(x, window_months: int = 6) -> np.float32:
    """notebooks/utils.py:385-405."""
    x = np.asarray(x, dtype=float)
    slope = np.gradient(x)
    n_days = int(30.5 * window_months)
    window = slope[-n_days:]
    agg = np.nanmedian(window)
    return np.float32(np.around(agg * 30.5, 3))


def ref_keep_ts(x, threshold_count: int) -> int:
    """notebooks/utils.py:1048-1067."""
    x = np.asarray(x, dtype=float)
    if np.all(x == x[0]):
        return 0
    if np.diff(x).astype(bool).sum(axis=0) < threshold_count:
        return 0
    return 1
