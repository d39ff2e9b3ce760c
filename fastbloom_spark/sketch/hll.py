"""HyperLogLog sketch — dense uint8 registers, vectorized numpy updates.

Standard Flajolet-Fuser-Gandouet-Meunier HLL (2007) with linear-counting
small-range correction; published relative error ~= 1.04 / sqrt(2^p). Merge
is element-wise register max — associative, commutative, idempotent, so (like
the Bloom union, fastbloom src/bit_vector.rs:98-104) the merged state is
bitwise-identical for every partition order/merge tree.

State layout (self-describing buffer): b"H", uint8 p, uint64 seed LE,
2^p register bytes — the seed travels in the header so merge surfaces can
REFUSE mixing sketches built over different hash spaces (register max of
differently-seeded states "succeeds" numerically but counts every item
once per seed — silent inflation).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from ..kernel import source_hash

_MAGIC = 0x48  # 'H'


def _clz64(v: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (6-step binary search)."""
    n = np.zeros(v.shape, dtype=np.uint8)
    v = v.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        s = np.uint64(shift)
        mask = v < (np.uint64(1) << np.uint64(64 - shift))
        n[mask] += np.uint8(shift)
        v[mask] <<= s
    n[v == 0] = 64
    return n


class HllSketch:
    """Mergeable HLL aggregator over digest64 columns."""

    name = "hll"
    input_kind = "digest"
    #: register MAX is exact: bitwise-identical for any partition layout
    order_invariant = True

    def __init__(self, precision: int = 12, seed: int = 0):
        if not 4 <= precision <= 18:
            raise ValueError("precision must be in [4, 18]")
        self.p = precision
        self.m = 1 << precision
        self.seed = seed

    @property
    def params(self) -> tuple:
        """What two states must share to merge."""
        return (self.p, self.seed)

    # -- state ----------------------------------------------------------------

    def empty(self) -> np.ndarray:
        return np.zeros(self.m, dtype=np.uint8)

    def update(self, regs: np.ndarray, digests: np.ndarray) -> np.ndarray:
        h = source_hash(digests, self.seed)
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        # rank = leading zeros of the remaining 64-p bits, + 1 (capped there
        # by construction: h << p leaves at most 64-p meaningful bits)
        with np.errstate(over="ignore"):
            rest = h << np.uint64(self.p)
        rank = np.minimum(_clz64(rest), 64 - self.p).astype(np.uint8) + np.uint8(1)
        # max.at is correct under duplicate indexes; sort+reduceat is faster
        if idx.size > 2048:
            order = np.argsort(idx, kind="stable")
            idx_s, rank_s = idx[order], rank[order]
            starts = np.flatnonzero(np.r_[True, idx_s[1:] != idx_s[:-1]])
            red = np.maximum.reduceat(rank_s, starts)
            sel = idx_s[starts]
            np.maximum.at(regs, sel, red)
        else:
            np.maximum.at(regs, idx, rank)
        return regs

    def merge(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
        return np.maximum(a, b)

    # -- estimate -------------------------------------------------------------

    def _alpha(self) -> float:
        m = self.m
        if m == 16:
            return 0.673
        if m == 32:
            return 0.697
        if m == 64:
            return 0.709
        return 0.7213 / (1.0 + 1.079 / m)

    def estimate(self, regs: np.ndarray) -> float:
        m = float(self.m)
        inv = np.ldexp(1.0, -regs.astype(np.int32))  # 2^-reg
        raw = self._alpha() * m * m / float(inv.sum())
        if raw <= 2.5 * m:
            zeros = int((regs == 0).sum())
            if zeros > 0:
                return m * math.log(m / zeros)  # linear counting
        return raw

    def relative_error(self) -> float:
        """Published standard error ~ 1.04 / sqrt(m)."""
        return 1.04 / math.sqrt(self.m)

    # -- serde ----------------------------------------------------------------

    _HEADER = "<BBQ"

    def serialize(self, regs: np.ndarray) -> bytes:
        return struct.pack(self._HEADER, _MAGIC, self.p,
                           self.seed & ((1 << 64) - 1)) + regs.tobytes()

    @staticmethod
    def _check_legacy(b: bytes) -> None:
        """Raise a naming diagnostic for pre-seed-header buffers.

        The original layout was (magic, p, regs) = 2 + 2^p bytes; the current
        layout inserted a u64 seed after p (same magic, no version byte).
        A legacy buffer would otherwise fail with a generic message or a
        misleading seed-mismatch — detect its exact length and say so.
        """
        if len(b) >= 2 and b[0] == _MAGIC:
            p = b[1]
            if 4 <= p <= 18 and len(b) == 2 + (1 << p):
                raise ValueError(
                    "legacy HLL buffer (layout: magic, p, registers — no seed "
                    "header): the format changed to (magic, p, u64 seed LE, "
                    "registers) so merges can refuse cross-seed mixing. "
                    "Re-build the sketch, or migrate by inserting 8 bytes of "
                    "the build seed (LE) after the first 2 header bytes.")

    def deserialize(self, buf: bytes) -> np.ndarray:
        b = bytes(buf)
        off = struct.calcsize(self._HEADER)
        self._check_legacy(b)
        if len(b) < off:
            raise ValueError("not a compatible HLL buffer")
        magic, p, seed = struct.unpack_from(self._HEADER, b, 0)
        if magic != _MAGIC or p != self.p or len(b) != off + self.m:
            raise ValueError("not a compatible HLL buffer")
        if seed != self.seed & ((1 << 64) - 1):
            raise ValueError(
                f"HLL seed mismatch: buffer was built with seed {seed}, "
                f"this sketch uses {self.seed} — merging or updating "
                "across seeds would silently inflate estimates")
        return np.frombuffer(b, dtype=np.uint8, offset=off).copy()

    @classmethod
    def from_buffer(cls, buf: bytes) -> tuple["HllSketch", np.ndarray]:
        """(impl, registers) reconstructed from a self-describing buffer —
        the consumer-side entry (SQL UDFs) that needs no prior config."""
        b = bytes(buf)
        cls._check_legacy(b)
        if len(b) < struct.calcsize(cls._HEADER):
            raise ValueError("not a compatible HLL buffer")
        magic, p, seed = struct.unpack_from(cls._HEADER, b, 0)
        if magic != _MAGIC:
            raise ValueError("not a compatible HLL buffer")
        impl = cls(precision=p, seed=seed)
        return impl, impl.deserialize(b)
