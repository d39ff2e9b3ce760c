"""KLL quantile sketch — compactor hierarchy with deterministic seeded coins.

Karnin, Lang, Liberty, "Optimal quantile approximation in streams" (FOCS
2016). Items live in levels; level h items carry weight 2^h. When a level
overflows its capacity ``c_h = max(k * (2/3)^(H-h), 8)`` it is sorted and
every other item (offset = coin flip) is promoted to level h+1. Published
normalized rank error is ~ 1.77 / k (single-sided, constant per the paper's
analysis); we test against a conservative multiple.

Determinism: the coin is ``mix64(seed ^ level ^ n_compactions)`` parity — a
pure function of sketch lineage, so reruns of the same partition produce
identical states (needed for Spark task retries), while remaining unbiased
across levels/compactions.

State layout: b"k", uint16 k LE, uint64 seed LE, uint32 n_compactions LE,
uint8 n_levels, then per level uint32 len + float64 items. The seed
travels in the header so a config-free load (the SQL merge aggregates)
compacts with the builder's coins. Buffers of the seedless layout (magic
b"K", no seed field) still load, with seed 0.
"""

from __future__ import annotations

import struct

import numpy as np

from ..kernel import mix64

_MAGIC = 0x6B  # 'k'
_HEADER = "<BHQIB"
#: the seedless layout: magic, k, n_compactions, n_levels
_LEGACY_MAGIC = 0x4B  # 'K'
_LEGACY_HEADER = "<BHIB"
_U64 = (1 << 64) - 1


class KllState:
    __slots__ = ("levels", "n_compactions")

    def __init__(self, levels: list[np.ndarray], n_compactions: int = 0):
        self.levels = levels
        self.n_compactions = n_compactions


class KllSketch:
    name = "kll"
    input_kind = "double"

    def __init__(self, k: int = 200, seed: int = 0):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = k
        self.seed = seed

    @property
    def params(self) -> tuple:
        """What two states must share to merge: the seed drives the
        compaction coins, so mixed seeds would give order-dependent
        bytes."""
        return (self.k, self.seed & _U64)

    # -- capacities ------------------------------------------------------------

    def _capacity(self, level: int, num_levels: int) -> int:
        depth = num_levels - 1 - level
        return max(int(self.k * (2.0 / 3.0) ** depth), 8)

    # -- state -----------------------------------------------------------------

    def empty(self) -> KllState:
        return KllState([np.empty(0)])

    def _coin(self, level: int, n_compactions: int) -> int:
        """Two deterministic coin bits: bit0 = odd-item side, bit1 = offset."""
        return int(mix64((self.seed ^ (level * 0x9E3779B9)
                          ^ n_compactions) & ((1 << 64) - 1))) & 3

    def _compact(self, state: KllState) -> None:
        """Compact the lowest overflowing level, repeating until all fit."""
        while True:
            num_levels = len(state.levels)
            for h in range(num_levels):
                cap = self._capacity(h, num_levels)
                if state.levels[h].size > cap:
                    items = np.sort(state.levels[h], kind="stable")
                    coin = self._coin(h, state.n_compactions)
                    state.n_compactions += 1
                    # weight conservation: an odd item stays at this level
                    # (L items of weight 2^h -> L/2 items of weight 2^(h+1))
                    if items.size % 2 == 1:
                        if coin & 1:
                            keep, items = items[-1:], items[:-1]
                        else:
                            keep, items = items[:1], items[1:]
                    else:
                        keep = np.empty(0)
                    off = (coin >> 1) & 1
                    promoted = items[off::2]
                    state.levels[h] = keep
                    if h + 1 == num_levels:
                        state.levels.append(np.empty(0))
                    state.levels[h + 1] = np.concatenate(
                        [state.levels[h + 1], promoted])
                    break
            else:
                return

    def update(self, state: KllState, values: np.ndarray) -> KllState:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return state
        state.levels[0] = np.concatenate([state.levels[0], v])
        self._compact(state)
        return state

    def merge(self, a: KllState, b: KllState) -> KllState:
        levels = []
        for h in range(max(len(a.levels), len(b.levels))):
            parts = []
            if h < len(a.levels):
                parts.append(a.levels[h])
            if h < len(b.levels):
                parts.append(b.levels[h])
            levels.append(np.concatenate(parts) if parts else np.empty(0))
        out = KllState(levels, a.n_compactions + b.n_compactions)
        self._compact(out)
        return out

    # -- quantiles -------------------------------------------------------------

    def _weighted_items(self, state: KllState) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for h, lvl in enumerate(state.levels):
            if lvl.size:
                vals.append(lvl)
                wts.append(np.full(lvl.size, float(1 << h)))
        if not vals:
            return np.empty(0), np.empty(0)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, state: KllState, q: float) -> float:
        return float(self.quantile_many(state, np.array([q]))[0])

    def quantile_many(self, state: KllState, qs: np.ndarray) -> np.ndarray:
        """Vectorized quantiles: one sorted-merge + one searchsorted for the
        whole q-vector. The SQL-UDF batch path."""
        v, w = self._weighted_items(state)
        qs = np.asarray(qs, dtype=np.float64)
        if v.size == 0:
            return np.full(qs.shape, np.nan)
        cum = np.cumsum(w)
        idx = np.searchsorted(cum, qs * cum[-1], side="left")
        return v[np.minimum(idx, v.size - 1)]

    def rank(self, state: KllState, value: float) -> float:
        """Estimated normalized rank of `value` in [0, 1]."""
        return float(self.rank_many(state, np.array([value]))[0])

    def rank_many(self, state: KllState, values: np.ndarray) -> np.ndarray:
        """Vectorized normalized ranks (fraction of weight <= value): one
        sorted-merge + one searchsorted for the whole value vector — the
        SQL-UDF batch path (mirror of quantile_many)."""
        v, w = self._weighted_items(state)
        values = np.asarray(values, dtype=np.float64)
        if v.size == 0:
            return np.full(values.shape, np.nan)
        cum = np.cumsum(w)
        idx = np.searchsorted(v, values, side="right")
        out = np.where(idx > 0, cum[np.maximum(idx - 1, 0)], 0.0)
        return out / cum[-1]

    def total_weight(self, state: KllState) -> float:
        _, w = self._weighted_items(state)
        return float(w.sum()) if w.size else 0.0

    def relative_error(self) -> float:
        """Conservative published normalized rank error bound ~1.77/k."""
        return 1.77 / self.k

    # -- serde -----------------------------------------------------------------

    def serialize(self, state: KllState) -> bytes:
        head = struct.pack(_HEADER, _MAGIC, self.k, self.seed & _U64,
                           state.n_compactions, len(state.levels))
        parts = [head]
        for lvl in state.levels:
            parts.append(struct.pack("<I", lvl.size))
            parts.append(lvl.astype("<f8").tobytes())
        return b"".join(parts)

    @staticmethod
    def _header(b: bytes) -> tuple[int, int, int, int, int]:
        """(k, seed, n_compactions, n_levels, items offset) of a buffer in
        either layout; the seedless one reads as seed 0."""
        if b[:1] == bytes([_MAGIC]):
            _, k, seed, n_comp, n_levels = struct.unpack_from(_HEADER, b, 0)
            return k, seed, n_comp, n_levels, struct.calcsize(_HEADER)
        if b[:1] == bytes([_LEGACY_MAGIC]):
            _, k, n_comp, n_levels = struct.unpack_from(_LEGACY_HEADER, b, 0)
            return k, 0, n_comp, n_levels, struct.calcsize(_LEGACY_HEADER)
        raise ValueError("not a compatible KLL buffer")

    def deserialize(self, buf: bytes) -> KllState:
        b = bytes(buf)
        k, _, n_comp, n_levels, off = self._header(b)
        if k != self.k:
            raise ValueError("not a compatible KLL buffer")
        levels = []
        for _ in range(n_levels):
            (n,) = struct.unpack_from("<I", b, off)
            off += 4
            levels.append(np.frombuffer(b, dtype="<f8", count=n,
                                        offset=off).astype(np.float64))
            off += 8 * n
        return KllState(levels, n_comp)

    @classmethod
    def from_buffer(cls, buf: bytes) -> tuple["KllSketch", KllState]:
        """(impl, state) reconstructed from a self-describing buffer — the
        consumer-side entry (SQL UDFs) that needs no prior config."""
        b = bytes(buf)
        k, seed, _, _, _ = cls._header(b)
        impl = cls(k=k, seed=seed)
        return impl, impl.deserialize(b)
