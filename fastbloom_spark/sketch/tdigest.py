"""Merging t-digest — quantile sketch with k1 scale-function clustering.

Dunning & Ertl, "Computing extremely accurate quantiles using t-digests"
(2019). Centroids are clustered by integer bins of the k1 scale function
``k(q) = (delta / 2pi) * asin(2q - 1)``, which concentrates resolution at the
tails; published accuracy is O(1/delta) mid-range rank error and much tighter
near q=0/1. Merge = concatenate centroids + recluster (deterministic given
the merged multiset ordering: clustering is a pure function of the sorted
centroid sequence, so merge results are partition-order independent up to
float-sum associativity).

State layout: b"T", uint16 delta LE, uint32 n LE, means float64[n] LE,
weights float64[n] LE.
"""

from __future__ import annotations

import math
import struct

import numpy as np

_MAGIC = 0x54  # 'T'
_BUFFER_LIMIT = 8192


class TDigestState:
    __slots__ = ("means", "weights", "buffer")

    def __init__(self, means: np.ndarray, weights: np.ndarray):
        self.means = means
        self.weights = weights
        self.buffer: list[np.ndarray] = []


class TDigestSketch:
    name = "tdigest"
    input_kind = "double"

    def __init__(self, delta: int = 200, seed: int = 0):
        if delta < 10:
            raise ValueError("delta must be >= 10")
        self.delta = delta
        self.seed = seed  # unused (deterministic algorithm); kept for API parity

    @property
    def params(self) -> tuple:
        """What two states must share to merge (the seed is unused)."""
        return (self.delta,)

    # -- scale function --------------------------------------------------------

    def _kscale(self, q: np.ndarray) -> np.ndarray:
        return self.delta / (2.0 * math.pi) * np.arcsin(2.0 * q - 1.0)

    def _cluster(self, means: np.ndarray, weights: np.ndarray
                 ) -> tuple[np.ndarray, np.ndarray]:
        """Recluster sorted centroids into k1-scale integer bins (vectorized:
        argsort + cumsum + reduceat, no per-centroid Python loop)."""
        if means.size == 0:
            return means, weights
        order = np.argsort(means, kind="stable")
        m = means[order]
        w = weights[order]
        total = w.sum()
        qmid = (np.cumsum(w) - w / 2.0) / total
        bins = np.floor(self._kscale(np.clip(qmid, 0.0, 1.0)))
        starts = np.flatnonzero(np.r_[True, bins[1:] != bins[:-1]])
        w_out = np.add.reduceat(w, starts)
        mw_out = np.add.reduceat(m * w, starts)
        return mw_out / w_out, w_out

    # -- state -----------------------------------------------------------------

    def empty(self) -> TDigestState:
        return TDigestState(np.empty(0), np.empty(0))

    def update(self, state: TDigestState, values: np.ndarray) -> TDigestState:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size:
            state.buffer.append(v)
        if sum(b.size for b in state.buffer) >= _BUFFER_LIMIT:
            self._flush(state)
        return state

    def _flush(self, state: TDigestState) -> None:
        if not state.buffer:
            return
        new = np.concatenate(state.buffer)
        state.buffer = []
        means = np.concatenate([state.means, new])
        weights = np.concatenate([state.weights, np.ones(new.size)])
        state.means, state.weights = self._cluster(means, weights)

    def merge(self, a: TDigestState, b: TDigestState) -> TDigestState:
        self._flush(a)
        self._flush(b)
        means, weights = self._cluster(
            np.concatenate([a.means, b.means]),
            np.concatenate([a.weights, b.weights]))
        return TDigestState(means, weights)

    # -- quantiles -------------------------------------------------------------

    def quantile(self, state: TDigestState, q: float) -> float:
        return float(self.quantile_many(state, np.array([q]))[0])

    def quantile_many(self, state: TDigestState, qs: np.ndarray) -> np.ndarray:
        """Vectorized quantiles: one cumsum + one np.interp for the whole
        q-vector (np.interp clamps to the endpoint centroids, matching the
        scalar edge branches). The SQL-UDF batch path."""
        self._flush(state)
        m, w = state.means, state.weights
        qs = np.asarray(qs, dtype=np.float64)
        if m.size == 0:
            return np.full(qs.shape, np.nan)
        if m.size == 1:
            return np.full(qs.shape, float(m[0]))
        total = w.sum()
        cum = np.cumsum(w) - w / 2.0  # centroid midpoints in rank space
        return np.interp(qs * total, cum, m)

    def rank(self, state: TDigestState, value: float) -> float:
        """Estimated normalized rank (CDF) of ``value`` in [0, 1]."""
        return float(self.rank_many(state, np.array([value]))[0])

    def rank_many(self, state: TDigestState,
                  values: np.ndarray) -> np.ndarray:
        """Vectorized CDF — the exact inverse of :meth:`quantile_many`:
        interpolate rank-space centroid midpoints at the probe values
        (np.interp clamps to the endpoint midpoints, mirroring the
        quantile path's endpoint-centroid clamp)."""
        self._flush(state)
        m, w = state.means, state.weights
        values = np.asarray(values, dtype=np.float64)
        if m.size == 0:
            return np.full(values.shape, np.nan)
        total = w.sum()
        if m.size == 1:
            return np.where(values < m[0], 0.0,
                            np.where(values > m[0], 1.0, 0.5))
        cum = np.cumsum(w) - w / 2.0
        return np.interp(values, m, cum) / total

    def total_weight(self, state: TDigestState) -> float:
        self._flush(state)
        return float(state.weights.sum())

    # -- serde -----------------------------------------------------------------

    def serialize(self, state: TDigestState) -> bytes:
        self._flush(state)
        n = state.means.size
        return (struct.pack("<BHI", _MAGIC, self.delta, n)
                + state.means.astype("<f8").tobytes()
                + state.weights.astype("<f8").tobytes())

    def deserialize(self, buf: bytes) -> TDigestState:
        b = bytes(buf)
        magic, delta, n = struct.unpack_from("<BHI", b, 0)
        if magic != _MAGIC or delta != self.delta:
            raise ValueError("not a compatible t-digest buffer")
        off = struct.calcsize("<BHI")
        means = np.frombuffer(b, dtype="<f8", count=n, offset=off).astype(np.float64)
        weights = np.frombuffer(b, dtype="<f8", count=n,
                                offset=off + 8 * n).astype(np.float64)
        return TDigestState(means, weights)

    @classmethod
    def from_buffer(cls, buf: bytes) -> tuple["TDigestSketch", TDigestState]:
        """(impl, state) reconstructed from a self-describing buffer — the
        consumer-side entry (SQL UDFs) that needs no prior config."""
        b = bytes(buf)
        impl = cls(delta=struct.unpack_from("<H", b, 1)[0])
        return impl, impl.deserialize(b)
