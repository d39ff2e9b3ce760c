"""Theta (bottom-k / KMV) distinct-count sketch with full set algebra.

The one capability the HLL family fundamentally lacks: *set operations
between sketches*. A theta sketch retains the ``k`` smallest distinct
63-bit hash values of its input stream plus a threshold ``theta``; because
the retained set below ``theta`` is a uniform random SAMPLE of the distinct
items, union / intersection / difference of two sketches are themselves
theta sketches, each with an unbiased cardinality estimate
``|retained| / (theta / 2^63)`` (Dasgupta, Lang, Rhodes, Thaler —
"A Framework for Estimating Stream Expression Cardinalities", and the
Apache DataSketches theta family; public literature, not reference code).

Two properties this implementation pins down hard:

* **Deterministic state.** The final state is a pure function of the SET of
  inserted hash values: ``theta`` = the (k+1)-th smallest when more than
  ``k`` survive (else 2^63), retained = every value strictly below
  ``theta``. Hash values are distinct, so the cut is tie-free — merge is
  associative, commutative, and idempotent, and the merged state is
  **bitwise identical** for every partition count and merge tree (same law
  as the Bloom union, reference src/bit_vector.rs:98-104).
* **Exact below capacity.** While fewer than ``k`` distinct values have
  been seen, ``theta`` stays at full range and the estimate IS the exact
  distinct count (an integer) — so small-scale driver oracles can pin the
  sketch against ``COUNT(DISTINCT ...)`` hash-exactly, while the same code
  path degrades gracefully to the +/- 1/sqrt(k-1) estimate at 100 TB.

Plugs into the generic mergeable topology (``operators/sketch_agg.py``)
via the standard impl protocol; ``input_kind = "digest"`` (same digest64
column convention as Bloom/HLL/CMS, reference src/lib.rs:221-225 analogue).

State layout (self-describing buffer): ``b"S"``, u32 k, u64 seed LE,
u64 theta LE, u32 n, then n sorted u64 LE hash values. The seed travels in
the header so merge/set-op surfaces REFUSE mixing sketches built over
different hash spaces (a cross-seed intersection is meaningless — near-zero
overlap by construction). Magic ``S`` (0x53) cannot collide with the
transport-envelope tags R/Z (kernel.encode_state) or the other sketch
magics H/C/K/T.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from ..kernel import source_hash

_MAGIC = 0x53  # 'S'

#: hashes are mapped into [0, 2^63) so ``theta`` (exclusive upper bound)
#: fits a u64 at full range
_FULL_RANGE = 1 << 63

State = tuple[int, np.ndarray]  # (theta, sorted unique uint64 values < theta)


class ThetaSketch:
    """Mergeable bottom-k distinct-count sketch over digest64 columns."""

    name = "theta"
    input_kind = "digest"
    #: bottom-k retained SET is a pure function of the value set —
    #: bitwise-identical for any partition layout
    order_invariant = True

    def __init__(self, k: int = 4096, seed: int = 0):
        if k < 16:
            raise ValueError("k must be >= 16")
        self.k = int(k)
        self.seed = int(seed)

    @property
    def state_bytes(self) -> int:
        """Largest serialized state (k retained hashes): what the cost
        models budget for, where an empty state would undercount."""
        return struct.calcsize(self._HEADER) + 8 * self.k

    # -- state ----------------------------------------------------------------

    def empty(self) -> State:
        return (_FULL_RANGE, np.empty(0, dtype=np.uint64))

    def _cut(self, theta: int, vals: np.ndarray) -> State:
        """Deterministic bottom-k cut: keep the k smallest, move theta to
        the first EXCLUDED value. Values are distinct, so retained ones are
        all strictly below the new theta (tie-free)."""
        if vals.size > self.k:
            theta = int(vals[self.k])
            vals = vals[:self.k].copy()
        return (theta, vals)

    def update(self, state: State, digests: np.ndarray) -> State:
        theta, vals = state
        h = source_hash(digests, self.seed) >> np.uint64(1)
        h = h[h < np.uint64(theta)]
        if h.size == 0:
            return state
        # union1d = unique + sorted — exactly the canonical retained form
        merged = np.union1d(vals, h)
        return self._cut(theta, merged)

    def merge(self, a: State, b: State) -> State:
        theta = min(a[0], b[0])
        t = np.uint64(theta)
        va = a[1][a[1] < t]
        vb = b[1][b[1] < t]
        return self._cut(theta, np.union1d(va, vb))

    # -- estimate -------------------------------------------------------------

    @staticmethod
    def is_exact(state: State) -> bool:
        """True while the sketch never overflowed: the retained set is the
        complete distinct-hash set and the estimate is exact."""
        return state[0] == _FULL_RANGE

    @staticmethod
    def estimate(state: State) -> float:
        theta, vals = state
        if theta == _FULL_RANGE:
            return float(vals.size)
        return vals.size * (_FULL_RANGE / theta)

    def relative_error(self) -> float:
        """Published KMV standard error ~ 1 / sqrt(k - 1)."""
        return 1.0 / math.sqrt(self.k - 1)

    # -- set algebra ----------------------------------------------------------
    #
    # All three return states in the SAME layout (estimate/serialize work
    # unchanged). Inputs must share the hash space (enforced at the serde
    # boundary via the seed header). Below min(theta_a, theta_b) each input
    # retains its complete distinct-hash set, so the set operation on the
    # retained samples is exact over the sampled region.

    def intersect(self, a: State, b: State) -> State:
        theta = min(a[0], b[0])
        t = np.uint64(theta)
        vals = np.intersect1d(a[1][a[1] < t], b[1][b[1] < t])
        # _cut restores the n <= k invariant when an input came from a
        # LARGER-k sketch (the SQL mixed-k path keeps the smaller-k impl):
        # keeping the k smallest and moving theta to the first excluded
        # value is the standard KMV bottom-k cut over the result set, so
        # the estimate stays the unbiased n/theta form. Note the cut
        # DOWNGRADES exactness: an exact (uncut) input pair whose result
        # exceeds this k comes back as an estimate — is_exact(result)
        # is the truth witness, not is_exact of the inputs (pinned by
        # the property suite)
        return self._cut(theta, vals.astype(np.uint64, copy=False))

    def a_not_b(self, a: State, b: State) -> State:
        theta = min(a[0], b[0])
        t = np.uint64(theta)
        vals = np.setdiff1d(a[1][a[1] < t], b[1][b[1] < t])
        return self._cut(theta, vals.astype(np.uint64, copy=False))

    # union IS merge; alias for symmetry with intersect/a_not_b
    def union(self, a: State, b: State) -> State:
        return self.merge(a, b)

    # -- serde ----------------------------------------------------------------

    _HEADER = "<BIQQI"

    def serialize(self, state: State) -> bytes:
        theta, vals = state
        return struct.pack(self._HEADER, _MAGIC, self.k,
                           self.seed & ((1 << 64) - 1), theta,
                           vals.size) + vals.astype("<u8").tobytes()

    def deserialize(self, buf: bytes) -> State:
        b = bytes(buf)
        off = struct.calcsize(self._HEADER)
        if len(b) < off:
            raise ValueError("not a compatible theta buffer")
        magic, k, seed, theta, n = struct.unpack_from(self._HEADER, b, 0)
        if magic != _MAGIC or len(b) != off + 8 * n:
            raise ValueError("not a compatible theta buffer")
        if k != self.k:
            raise ValueError(
                f"theta k mismatch: buffer was built with k={k}, this "
                f"sketch uses k={self.k}")
        if seed != self.seed & ((1 << 64) - 1):
            raise ValueError(
                f"theta seed mismatch: buffer was built with seed {seed}, "
                f"this sketch uses {self.seed} — set operations across "
                "hash spaces would report near-zero overlap")
        if theta > _FULL_RANGE:
            raise ValueError("not a compatible theta buffer")
        vals = np.frombuffer(b, dtype="<u8", offset=off).astype(
            np.uint64, copy=True)
        return (int(theta), vals)

    @classmethod
    def from_buffer(cls, buf: bytes) -> tuple["ThetaSketch", State]:
        """(impl, state) reconstructed from a self-describing buffer — the
        consumer-side entry (SQL UDFs) that needs no prior config."""
        b = bytes(buf)
        if len(b) < struct.calcsize(cls._HEADER) or b[0] != _MAGIC:
            raise ValueError("not a compatible theta buffer")
        _, k, seed, _, _ = struct.unpack_from(cls._HEADER, b, 0)
        impl = cls(k=k, seed=seed)
        return impl, impl.deserialize(b)
