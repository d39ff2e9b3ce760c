"""Count-min sketch — depth x width int64 counter matrix, vectorized updates.

Cormode-Muthukrishnan (2005): point-query overestimate bound
``err <= e/width * N`` with probability ``1 - e^-depth``; never underestimates.
Merge is element-wise addition — associative and commutative, so merged
counters are identical across partition orders (integer addition is exact).

Row hash family: ``h_j = mix64(source_hash ^ row_seed_j) & (width-1)`` with
width a power of two — pairwise-independent-enough splitmix64 derivations of
the one source hash (same single-hash philosophy as the reference's K-M
derivation, fastbloom src/hasher.rs:185-212).

State layout: b"C", uint8 depth, uint8 log2(width), counters int64 LE.
"""

from __future__ import annotations

import math

import numpy as np

from ..kernel import U64, mix64, source_hash

_MAGIC = 0x43  # 'C'


class CountMinSketch:
    name = "cms"
    input_kind = "digest"
    #: counter ADD is exact: merged counters are bitwise-identical for any
    #: partition layout/merge order, so inputs may be safely widened
    order_invariant = True

    def __init__(self, depth: int = 5, log2_width: int = 14, seed: int = 0):
        if not 1 <= depth <= 16:
            raise ValueError("depth must be in [1, 16]")
        if not 4 <= log2_width <= 26:
            raise ValueError("log2_width must be in [4, 26]")
        self.depth = depth
        self.log2_width = log2_width
        self.width = 1 << log2_width
        self.seed = seed
        self._row_seeds = [
            int(mix64((seed ^ (0xC1A0 + 0x9E37 * j)) & ((1 << 64) - 1)))
            for j in range(depth)
        ]

    @property
    def params(self) -> tuple:
        """What two states must share to merge."""
        return (self.depth, self.log2_width, self.seed)

    def empty(self) -> np.ndarray:
        return np.zeros(self.depth * self.width, dtype=np.int64)

    def _row_idx(self, h: np.ndarray, j: int) -> np.ndarray:
        with np.errstate(over="ignore"):
            mixed = mix64(h ^ U64(self._row_seeds[j]))
        return (mixed & U64(self.width - 1)).astype(np.int64)

    def update(self, counters: np.ndarray, digests: np.ndarray) -> np.ndarray:
        h = source_hash(digests, self.seed)
        for j in range(self.depth):
            idx = j * self.width + self._row_idx(h, j)
            # exact under duplicates; bincount is the vectorized scatter-add
            counts = np.bincount(idx - j * self.width, minlength=self.width)
            counters[j * self.width:(j + 1) * self.width] += counts
        return counters

    def merge(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
        return a + b

    def query(self, counters: np.ndarray, digests: np.ndarray) -> np.ndarray:
        """Estimated counts (int64 vector) for each digest — min over rows."""
        h = source_hash(np.asarray(digests), self.seed)
        est = None
        mat = counters.reshape(self.depth, self.width)
        for j in range(self.depth):
            vals = mat[j, self._row_idx(h, j)]
            est = vals if est is None else np.minimum(est, vals)
        return est

    def error_bound(self, total_count: int) -> float:
        """Additive overestimate bound e/width * N (holds with prob
        1 - e^-depth)."""
        return math.e / self.width * total_count

    def serialize(self, counters: np.ndarray) -> bytes:
        head = bytes([_MAGIC, self.depth, self.log2_width]) + \
            int(self.seed & ((1 << 64) - 1)).to_bytes(8, "little")
        return head + counters.astype("<i8", copy=False).tobytes()

    def deserialize(self, buf: bytes) -> np.ndarray:
        b = bytes(buf)
        if b[0] != _MAGIC or b[1] != self.depth or b[2] != self.log2_width:
            raise ValueError("not a compatible CMS buffer")
        seed = int.from_bytes(b[3:11], "little")
        if seed != (self.seed & ((1 << 64) - 1)):
            raise ValueError("CMS seed mismatch")
        return np.frombuffer(b, dtype="<i8", offset=11).astype(np.int64)

    @classmethod
    def from_buffer(cls, buf: bytes) -> tuple["CountMinSketch", np.ndarray]:
        """Self-describing hydrate: (impl, counters) from a serialized
        buffer (the SQL-function path)."""
        b = bytes(buf)
        if b[0] != _MAGIC:
            raise ValueError("not a CMS buffer")
        impl = cls(depth=b[1], log2_width=b[2],
                   seed=int.from_bytes(b[3:11], "little"))
        return impl, impl.deserialize(b)
