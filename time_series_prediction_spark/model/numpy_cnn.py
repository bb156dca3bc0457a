"""Pure-NumPy 1-D CNN — the reference lifecycle's training stage (T.3)
without TensorFlow (r13 VERDICT Next #3).

Exact reference topology (``notebooks/utils.py:435-460``, trained at
``notebooks/training_new_petastorm.py:282-303``):

    Conv1D(filters=64, kernel_size=2, relu) → MaxPooling1D(2) →
    Flatten → Dense(50, relu) → Dense(N_days_y), MAE loss, Adam.

Forward pass + analytic backprop, Glorot-uniform init from a fixed
seed (fully deterministic given seed + data order), Adam with the
keras defaults (lr=1e-3, β1=.9, β2=.999, ε=1e-7). This is the engine's
one model backend: it trains on ``train.training_batches`` and scores
through ``scoring.numpy_cnn_factory``'s iterator pandas_udf, so the
full train → score → R² lifecycle runs without TensorFlow.

Two forward passes, one set of doubles. ``train_batch`` runs
``_forward``, which keeps the sliding windows, conv output and pool
argmax for backprop. ``predict`` (what scoring calls) runs ``_infer``
in blocks of 64 rows: the same double operations in the same order,
with no cache, so each block equals ``_forward`` on that block bit for
bit, and its temporaries stay about 6 MB each whatever the Arrow batch
size (the training pass holds about 640 KB per series). Across block
sizes only the dense layers' BLAS calls can differ: OpenBLAS may round
a row differently when the row count changes, below float32's
resolution on every batch tested.

Scale note: the reference trains ONE global model on the driver
(single-node Keras); this matches that shape — training data streams
through ``training_batches`` (bounded memory), weights are a few MB.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np

_ADAM_LR = 1e-3
_ADAM_B1 = 0.9
_ADAM_B2 = 0.999
_ADAM_EPS = 1e-7
# predict's rows per block: (64, 182, 64) float64 is ~6 MB per temporary
_BLOCK = 64


class NumpyCNN1D:
    """The reference 1-D CNN as explicit NumPy forward/backprop."""

    _PARAMS = ("Wc", "bc", "W1", "b1", "W2", "b2")

    def __init__(
        self,
        x_days: int,
        y_days: int,
        filters: int = 64,
        kernel_size: int = 2,
        pool_size: int = 2,
        dense_units: int = 50,
        seed: int = 0,
    ) -> None:
        if x_days < kernel_size:
            raise ValueError("x_days shorter than the conv kernel")
        self.x_days = int(x_days)
        self.y_days = int(y_days)
        self.filters = int(filters)
        self.kernel_size = int(kernel_size)
        self.pool_size = int(pool_size)
        self.dense_units = int(dense_units)
        self.conv_len = self.x_days - self.kernel_size + 1
        self.pool_len = self.conv_len // self.pool_size
        if self.pool_len < 1:
            raise ValueError("pooled length is zero — x_days too short")
        flat = self.pool_len * self.filters
        rng = np.random.default_rng(seed)

        def glorot(shape, fan_in, fan_out):
            lim = np.sqrt(6.0 / (fan_in + fan_out))
            return rng.uniform(-lim, lim, size=shape)

        # (k, F): one input channel, exactly keras Conv1D's kernel
        self.Wc = glorot(
            (self.kernel_size, self.filters),
            self.kernel_size, self.filters,
        )
        self.bc = np.zeros(self.filters)
        self.W1 = glorot((flat, self.dense_units), flat, self.dense_units)
        self.b1 = np.zeros(self.dense_units)
        self.W2 = glorot(
            (self.dense_units, self.y_days), self.dense_units, self.y_days
        )
        self.b2 = np.zeros(self.y_days)
        self._adam_t = 0
        self._adam_m = {
            p: np.zeros_like(getattr(self, p)) for p in self._PARAMS
        }
        self._adam_v = {
            p: np.zeros_like(getattr(self, p)) for p in self._PARAMS
        }

    # -- forward ---------------------------------------------------------
    def _forward(self, x: np.ndarray):
        """x (B, x_days) float64 → (yhat, cache for backprop)."""
        from numpy.lib.stride_tricks import sliding_window_view

        b = x.shape[0]
        win = sliding_window_view(x, self.kernel_size, axis=1)
        z = win @ self.Wc + self.bc  # (B, conv_len, F)
        a = np.maximum(z, 0.0)
        usable = self.pool_len * self.pool_size
        ap = a[:, :usable, :].reshape(
            b, self.pool_len, self.pool_size, self.filters
        )
        arg = ap.argmax(axis=2)  # (B, P, F) — for the pool backprop
        pooled = np.take_along_axis(
            ap, arg[:, :, None, :], axis=2
        )[:, :, 0, :]
        flat = pooled.reshape(b, -1)
        h_pre = flat @ self.W1 + self.b1
        h = np.maximum(h_pre, 0.0)
        yhat = h @ self.W2 + self.b2
        return yhat, (win, z, arg, flat, h_pre, h)

    def _infer(self, x: np.ndarray) -> np.ndarray:
        """``_forward(x)[0]`` without the backprop cache, for one block.

        The conv of each pool tap j is the left fold over kernel taps
        that ``win @ Wc`` runs (numpy's non-BLAS matmul loop, which
        strided windows take), then ``+ bc``; max-pool of ReLU is ReLU
        of the max over pool taps. Same doubles, same order (the
        matmul starts its sum at 0.0, which can only flip a zero's
        sign)."""
        p, stop = self.pool_size, self.pool_size * self.pool_len
        pooled = None
        for j in range(p):
            z = x[:, j:j + stop:p, None] * self.Wc[0]
            for t in range(1, self.kernel_size):
                z += x[:, j + t:j + t + stop:p, None] * self.Wc[t]
            z += self.bc
            if pooled is None:
                pooled = z
            else:
                np.maximum(pooled, z, out=pooled)
        np.maximum(pooled, 0.0, out=pooled)
        flat = pooled.reshape(len(x), -1)
        h = np.maximum(flat @ self.W1 + self.b1, 0.0)
        return h @ self.W2 + self.b2

    def predict(self, x: np.ndarray) -> np.ndarray:
        """(B, x_days) → (B, y_days) float32: ``_forward(x)[0]`` cast
        to float32, computed in blocks of ``_BLOCK`` rows so that
        temporaries stay a few MB whatever B."""
        x = np.asarray(x, dtype=np.float64)
        out = np.empty((len(x), self.y_days), dtype=np.float32)
        for i in range(0, len(x), _BLOCK):
            out[i:i + _BLOCK] = self._infer(x[i:i + _BLOCK])
        return out

    # -- training --------------------------------------------------------
    def train_batch(self, x: np.ndarray, y: np.ndarray) -> float:
        """One Adam step on one batch; returns the batch's PRE-step
        MAE (keras's reported running loss uses pre-step values)."""
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        b = x.shape[0]
        yhat, (win, z, arg, flat, h_pre, h) = self._forward(x)
        resid = yhat - y
        loss = float(np.abs(resid).mean())
        # MAE gradient: mean over batch AND outputs
        gy = np.sign(resid) / (b * self.y_days)  # (B, H)
        gW2 = h.T @ gy
        gb2 = gy.sum(axis=0)
        gh = (gy @ self.W2.T) * (h_pre > 0)
        gW1 = flat.T @ gh
        gb1 = gh.sum(axis=0)
        gflat = gh @ self.W1.T
        gpool = gflat.reshape(b, self.pool_len, self.filters)
        # scatter through the max locations
        ga = np.zeros(
            (b, self.pool_len, self.pool_size, self.filters)
        )
        np.put_along_axis(
            ga, arg[:, :, None, :], gpool[:, :, None, :], axis=2
        )
        usable = self.pool_len * self.pool_size
        gz = np.zeros_like(z)
        gz[:, :usable, :] = ga.reshape(b, usable, self.filters)
        gz *= z > 0
        gWc = np.einsum("blk,blf->kf", win, gz)
        gbc = gz.sum(axis=(0, 1))
        self._adam_step(
            {"Wc": gWc, "bc": gbc, "W1": gW1, "b1": gb1,
             "W2": gW2, "b2": gb2}
        )
        return loss

    def _adam_step(self, grads: dict[str, np.ndarray]) -> None:
        self._adam_t += 1
        t = self._adam_t
        for p in self._PARAMS:
            g = grads[p]
            m = self._adam_m[p] = _ADAM_B1 * self._adam_m[p] + (
                1 - _ADAM_B1
            ) * g
            v = self._adam_v[p] = _ADAM_B2 * self._adam_v[p] + (
                1 - _ADAM_B2
            ) * (g * g)
            mhat = m / (1 - _ADAM_B1**t)
            vhat = v / (1 - _ADAM_B2**t)
            getattr(self, p)[...] -= (
                _ADAM_LR * mhat / (np.sqrt(vhat) + _ADAM_EPS)
            )

    def fit(
        self,
        batches: Iterable[tuple[np.ndarray, np.ndarray]] | callable,
        epochs: int = 1,
    ) -> list[float]:
        """``batches``: a zero-arg callable returning a fresh
        (X, y) batch iterator per epoch (a list works too). Returns
        the per-epoch mean batch loss."""
        history: list[float] = []
        for _ in range(int(epochs)):
            it: Iterator = batches() if callable(batches) else iter(
                list(batches)
            )
            losses = [self.train_batch(bx, by) for bx, by in it]
            if not losses:
                raise ValueError("empty training iterator")
            history.append(float(np.mean(losses)))
        return history

    # -- persistence (numpy_cnn_factory loads this file) -----------------
    def save(self, path: str) -> None:
        np.savez(
            path if path.endswith(".npz") else path + ".npz",
            dims=np.array(
                [
                    self.x_days, self.y_days, self.filters,
                    self.kernel_size, self.pool_size, self.dense_units,
                ]
            ),
            **{p: getattr(self, p) for p in self._PARAMS},
        )

    @classmethod
    def load(cls, path: str) -> "NumpyCNN1D":
        with np.load(
            path if path.endswith(".npz") else path + ".npz"
        ) as d:
            dims = d["dims"]
            model = cls(*[int(v) for v in dims])
            for p in cls._PARAMS:
                getattr(model, p)[...] = d[p]
        return model

