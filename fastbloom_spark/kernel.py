"""Vectorized numpy Bloom kernel — bit-exact replica of the reference hot path.

Everything here operates on ``np.uint64`` arrays (one element per row of an
Arrow batch) and a flat ``np.uint64`` word array (the bit vector). There is no
per-row Python anywhere: hashing, index derivation, bit set/probe, and merge
are all whole-array numpy expressions.

Bit-exact parity targets (reference = tomtomwombat/fastbloom):

* index derivation: ``index(m, h) = (h as u128 * m) >> 64`` — Lemire
  multiply-shift range reduction, NOT ``h % m`` (``src/lib.rs:396-399``).
  numpy has no u128, so the high 64 bits of the product are computed with
  32-bit limbs.
* double hashing: ``h2 = h1.wrapping_mul(0x517cc1b727220a95)``;
  ``next(): h1 = rotl(h1, 5).wrapping_add(h2)`` — Kirsch-Mitzenmacher
  composition (``src/hasher.rs:185-212``). The SOURCE hash itself addresses
  the first bit; the double hasher supplies only the k-1 subsequent probes
  (``src/lib.rs:261-270``, ``src/lib.rs:180-191``).
* word layout: bit ``i`` lives in word ``i >> 6`` under mask
  ``1 << (i & 63)`` (``src/bit_vector.rs:164-167``).
* merge: union = word-wise OR, intersect = word-wise AND
  (``src/bit_vector.rs:98-112``) — associative and commutative, so any merge
  tree over the same inserts yields identical bits.

The hasher layer is deliberately NOT SipHash (the north rule requires
hasher-agnostic K-M index derivation, not SipHash identity): the 64-bit source
hash is ``mix64(digest64 ^ mix64(seed))`` where ``digest64`` is the first 8
bytes (big-endian) of ``sha256(content)`` — the per-row invariant column — and
``mix64`` is the public-domain splitmix64 finalizer (Vigna, 2015).
"""

from __future__ import annotations

import hashlib
import zlib

import numpy as np

U64 = np.uint64
_MASK32 = U64(0xFFFFFFFF)
_SHIFT32 = U64(32)
_KM_MULT = U64(0x517CC1B727220A95)
_ROT = U64(5)
_ROT_INV = U64(64 - 5)
_ONE = U64(1)
_WORD_SHIFT = U64(6)
_BIT_MASK = U64(63)

# splitmix64 finalizer constants (public domain, S. Vigna)
_SM1 = U64(0xBF58476D1E4943B3)
_SM2 = U64(0x94D049BB133111EB)


def mix64(x: np.ndarray | int) -> np.ndarray | np.uint64:
    """splitmix64 finalizer: invertible uniform mixer on u64."""
    with np.errstate(over="ignore"):
        z = U64(x) if isinstance(x, int) else x.astype(U64, copy=True)
        z = (z ^ (z >> U64(30))) * _SM1
        z = (z ^ (z >> U64(27))) * _SM2
        return z ^ (z >> U64(31))


def source_hash(digest64: np.ndarray, seed: int = 0) -> np.ndarray:
    """Seeded source hash from pre-computed digests (analogue of the
    reference's keyed ``source_hash``, ``src/lib.rs:221-225``).

    ``digest64`` may be int64 (two's complement view, as Spark ships longs) or
    uint64; the result is uint64.
    """
    d = np.asarray(digest64)
    if d.dtype != U64:
        d = d.astype(np.int64, copy=False).view(U64)
    with np.errstate(over="ignore"):
        return mix64(d ^ mix64(int(seed) & 0xFFFFFFFFFFFFFFFF))


def digest64_bytes(data: bytes, strategy: str = "sha256") -> int:
    """Per-item digest as SIGNED int64 — matches what the Spark-side
    ``digest64(col, strategy)`` column expression produces JVM-side.
    Local/test path only (the Spark path never calls per-row Python).

    * ``"sha256"`` (default): first 8 bytes of sha256(data), big-endian —
      the content-invariant digest.
    * ``"xxh64"``: XXH64(data, seed=42) — parity with Spark's built-in
      ``xxhash64`` (the reference's pluggable ``Builder::hasher`` surface,
      fastbloom src/builder.rs:60-65; cheap for short/numeric keys).
    """
    if strategy == "xxh64":
        return xxh64_bytes(data)
    if strategy != "sha256":
        # "custom:<name>" digests are Spark Column expressions (JVM-side
        # only) — locally, feed precomputed digests via insert_digests /
        # contains_digests instead of raw values.
        raise ValueError(f"no local implementation for digest {strategy!r}")
    u = int.from_bytes(hashlib.sha256(data).digest()[:8], "big")
    return u - (1 << 64) if u >= (1 << 63) else u


_XXP1 = 0x9E3779B185EBCA87
# Canonical xxHash PRIME64_2 (Cyan4973 spec; also what Spark's catalyst
# XXH64 ships — verified by bytecode disassembly and direct JVM
# invocation, and asserted against F.xxhash64 in tests/test_kernel).
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64_bytes(data: bytes, seed: int = 42) -> int:
    """Pure-int XXH64 (Cyan4973 spec, canonical constants) over raw bytes,
    signed-int64 result.

    Seed defaults to 42 = Spark's ``xxhash64`` default, so
    ``xxh64_bytes(s.encode())`` equals ``F.xxhash64(lit(s))`` bit-for-bit
    (parity asserted in tests/test_kernel.py). Local/oracle path only."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _M64
        v2 = (seed + _XXP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XXP1) & _M64

        def rnd(acc: int, lane: int) -> int:
            return (_rotl64((acc + lane * _XXP2) & _M64, 31) * _XXP1) & _M64

        while i <= n - 32:
            v1 = rnd(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = rnd(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = rnd(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = rnd(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7)
             + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ rnd(0, v)) * _XXP1 + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        k1 = (_rotl64((int.from_bytes(data[i:i + 8], "little")
                       * _XXP2) & _M64, 31) * _XXP1) & _M64
        h = ((_rotl64(h ^ k1, 27) * _XXP1) + _XXP4) & _M64
        i += 8
    if i <= n - 4:
        h = ((_rotl64(h ^ ((int.from_bytes(data[i:i + 4], "little")
                            * _XXP1) & _M64), 23) * _XXP2) + _XXP3) & _M64
        i += 4
    while i < n:
        h = (_rotl64(h ^ ((data[i] * _XXP5) & _M64), 11) * _XXP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def mulhi64(h: np.ndarray, m: int) -> np.ndarray:
    """High 64 bits of the 128-bit product ``h * m`` via 32-bit limbs.

    Bit-exact replica of ``index(num_bits, hash)`` (``src/lib.rs:396-399``)
    when ``m`` = num_bits. For ``m < 2^32`` (filters up to 512 MiB) a 2-limb
    fast path halves the arithmetic; the general 4-limb path covers the rest.
    """
    with np.errstate(over="ignore"):
        mm = U64(m)
        a_lo = h & _MASK32
        a_hi = h >> _SHIFT32
        if m < (1 << 32):
            # (a_hi*m + (a_lo*m >> 32)) >> 32 — carry-safe:
            # a_hi*m <= (2^32-1)^2 and the shifted term < 2^32, sum < 2^64
            t = a_lo * mm
            t >>= _SHIFT32
            t += a_hi * mm
            t >>= _SHIFT32
            return t
        m_lo = mm & _MASK32
        m_hi = mm >> _SHIFT32
        lo_lo = a_lo * m_lo
        hi_lo = a_hi * m_lo
        lo_hi = a_lo * m_hi
        # carry-safe: each term < 2^32 or < 2^64 - 2^33, sum < 2^64
        cross = (lo_lo >> _SHIFT32) + (hi_lo & _MASK32) + lo_hi
        return a_hi * m_hi + (hi_lo >> _SHIFT32) + (cross >> _SHIFT32)


def _next_hash(h: np.ndarray, h2: np.ndarray) -> np.ndarray:
    """One step of the K-M recurrence: h = rotl(h, 5) + h2
    (``src/hasher.rs:207-211``)."""
    with np.errstate(over="ignore"):
        return ((h << _ROT) | (h >> _ROT_INV)) + h2


def _set_bits(words: np.ndarray, bit_idx: np.ndarray) -> None:
    """OR the given bit indexes into ``words`` (correct under duplicates).

    ``np.bitwise_or.at`` benchmarks ~6x faster than sort+reduceat at the
    batch sizes the executors see (10^5-10^7 indexes)."""
    if bit_idx.size == 0:
        return
    w = (bit_idx >> _WORD_SHIFT).astype(np.int64)
    masks = _ONE << (bit_idx & _BIT_MASK)
    np.bitwise_or.at(words, w, masks)


def _check_bits(words: np.ndarray, bit_idx: np.ndarray) -> np.ndarray:
    """Boolean vector: is each bit set? (``src/bit_vector.rs:42-46``)."""
    w = (bit_idx >> _WORD_SHIFT).astype(np.int64)
    masks = _ONE << (bit_idx & _BIT_MASK)
    return (words[w] & masks) != U64(0)


def _block64_word_mask(hashes: np.ndarray, num_hashes: int, num_words: int
                       ) -> tuple[np.ndarray, np.ndarray]:
    """Register-blocked addressing: the source hash Lemire-selects ONE word;
    k bit picks come from the top-6 bits of k K-M stream values (the source
    hash's top bits are spent on word selection, so picks start at next()).
    Returns (word_idx int64, 64-bit mask uint64) per row — pure vector ops,
    no scatter."""
    h = hashes.astype(U64, copy=False)
    word_idx = mulhi64(h, num_words).astype(np.int64)
    with np.errstate(over="ignore"):
        h2 = h * _KM_MULT
        hj = h.copy()
        tmp = np.empty_like(hj)
        mask = np.zeros(h.shape, dtype=U64)
        for _ in range(num_hashes):
            np.right_shift(hj, _ROT_INV, out=tmp)
            np.left_shift(hj, _ROT, out=hj)
            np.bitwise_or(hj, tmp, out=hj)
            np.add(hj, h2, out=hj)
            mask |= _ONE << (hj >> U64(58))
    return word_idx, mask


def insert_hashes_block64(words: np.ndarray, hashes: np.ndarray,
                          num_hashes: int) -> None:
    """Blocked-layout batch insert: ONE scatter per row (vs k for flat)."""
    word_idx, mask = _block64_word_mask(hashes, num_hashes, words.size)
    np.bitwise_or.at(words, word_idx, mask)


def contains_hashes_block64(words: np.ndarray, hashes: np.ndarray,
                            num_hashes: int) -> np.ndarray:
    """Blocked-layout batch probe: ONE gather per row."""
    word_idx, mask = _block64_word_mask(hashes, num_hashes, words.size)
    return (words[word_idx] & mask) == mask


def insert_hashes(words: np.ndarray, hashes: np.ndarray, num_hashes: int,
                  layout: str = "flat") -> None:
    """Batch insert of pre-computed source hashes.

    Vectorized replica of ``insert_hash`` (``src/lib.rs:261-270``): the source
    hash addresses bit ``index(m, h)``; the remaining k-1 probes come from the
    double-hash stream. ``words`` is mutated in place; ``m`` is derived from
    ``words.size * 64``. ``layout="block64"`` dispatches to the
    register-blocked kernel (beyond-reference ingest layout).
    """
    if layout == "block64":
        insert_hashes_block64(words, hashes, num_hashes)
        return
    m = words.size * 64
    h = hashes.astype(U64, copy=False)
    _set_bits(words, mulhi64(h, m))
    if num_hashes > 1:
        with np.errstate(over="ignore"):
            h2 = h * _KM_MULT
            hj = h.copy()
            tmp = np.empty_like(hj)
            for _ in range(num_hashes - 1):
                # in-place rotl(hj, 5) + h2 (one scratch buffer, no temporaries)
                np.right_shift(hj, _ROT_INV, out=tmp)
                np.left_shift(hj, _ROT, out=hj)
                np.bitwise_or(hj, tmp, out=hj)
                np.add(hj, h2, out=hj)
                _set_bits(words, mulhi64(hj, m))


def contains_hashes(words: np.ndarray, hashes: np.ndarray, num_hashes: int,
                    layout: str = "flat") -> np.ndarray:
    """Batch membership probe of pre-computed source hashes.

    Vectorized replica of ``contains_hash`` (``src/lib.rs:180-191``) including
    the short-circuit: the first probe (the source hash's own bit) is checked
    for the whole batch, and the k-1 derived probes are evaluated only for
    surviving rows (numpy boolean compression reproduces the reference's
    early-exit batch-wise). ``layout="block64"`` dispatches to the
    register-blocked kernel.
    """
    if layout == "block64":
        return contains_hashes_block64(words, hashes, num_hashes)
    m = words.size * 64
    h = hashes.astype(U64, copy=False)
    result = _check_bits(words, mulhi64(h, m))
    if num_hashes > 1 and result.any():
        alive = np.flatnonzero(result)
        hj = h[alive]
        with np.errstate(over="ignore"):
            h2 = hj * _KM_MULT
            ok = np.ones(alive.size, dtype=bool)
            for _ in range(num_hashes - 1):
                hj = _next_hash(hj, h2)
                ok &= _check_bits(words, mulhi64(hj, m))
                if not ok.any():
                    break
        result[alive] = ok
    return result


def union_words(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Word-wise OR merge (``src/bit_vector.rs:98-104``). Asserts equal length."""
    if a.size != b.size:
        raise ValueError(f"word length mismatch: {a.size} != {b.size}")
    return np.bitwise_or(a, b)


def intersect_words(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Word-wise AND (``src/bit_vector.rs:106-112``). Asserts equal length."""
    if a.size != b.size:
        raise ValueError(f"word length mismatch: {a.size} != {b.size}")
    return np.bitwise_and(a, b)


# -- (de)serialization: the `from_vec` / `iter` surface --------------------------


def words_to_bytes(words: np.ndarray) -> bytes:
    """Serialize the bit vector as little-endian u64 words (the reference's
    ``iter()``/``as_slice()`` surface, ``src/lib.rs:206-214``)."""
    return words.astype("<u8", copy=False).tobytes()


def words_from_bytes(buf: bytes, copy: bool = True) -> np.ndarray:
    """Rehydrate a bit vector (the reference's ``from_vec``,
    ``src/lib.rs:148-150``). ``copy=False`` returns a READ-ONLY view over
    the buffer — the probe hot paths only read, and copying a multi-MB
    broadcast filter once per Arrow batch is pure waste."""
    if len(buf) == 0 or len(buf) % 8 != 0:
        raise ValueError("sketch byte buffer must be a non-empty multiple of 8")
    arr = np.frombuffer(buf, dtype="<u8")
    return arr.astype(U64, copy=True) if copy else arr.view(U64)


def signed64(x: int) -> int:
    """Two's-complement rendering of a u64 for a Spark LONG column."""
    return x - (1 << 64) if x >= (1 << 63) else x


def exact_int64(series, what: str) -> "np.ndarray":
    """int64 values of a semantically-long pandas column, refusing silent
    precision loss: Spark ships a NULLABLE long column to Arrow/pandas as
    float64, which destroys the low bits of any value >= 2^53 BEFORE user
    code runs (full-range digests/seeds would probe or insert wrong bits
    -> silent false negatives). int64 batches pass through; float batches
    are accepted only when every value survives the float round-trip
    exactly; NaN (a NULL row) in a float batch is unrecoverable for its
    NEIGHBORS too, so the caller must filter NULLs upstream."""
    dt = str(series.dtype)
    if dt == "int64":
        return series.to_numpy(np.int64, copy=False)
    if dt == "Int64":
        if series.isna().any():
            raise ValueError(
                f"{what} reached the kernel with NULLs in a nullable Int64 "
                "batch: 64-bit digests cannot carry a missing value. Filter "
                "NULL values/digests out upstream so the column stays "
                "non-null int64.")
        return series.astype(np.int64).to_numpy(np.int64, copy=False)
    f = series.to_numpy(np.float64, copy=False)
    if np.any(np.isnan(f)) or np.any(np.abs(f) >= 2.0 ** 53):
        raise ValueError(
            f"{what} reached the kernel as float64 (NULLs present or "
            "values beyond 2^53): Spark converts nullable LONG columns "
            "to float64 for pandas, corrupting 64-bit digests before any "
            "code runs. Filter NULL values/digests out upstream so the "
            "column stays int64.")
    return f.astype(np.int64)


_TAG_RAW = b"R"
_TAG_ZLIB = b"Z"


def _envelope(raw: bytes, min_len: int, min_ratio: int, level: int) -> bytes:
    """Tag ``raw`` as ``R`` + raw, or as ``Z`` + zlib when it is at least
    ``min_len`` bytes and zlib shrinks it at least ``min_ratio`` times:
    below that ratio the merge-side decompress costs more than the
    transport it saves."""
    if len(raw) >= min_len:
        z = zlib.compress(raw, level)
        if len(z) * min_ratio < len(raw):
            return _TAG_ZLIB + z
    return _TAG_RAW + raw


def encode_words(words: np.ndarray, level: int = 1) -> bytes:
    """Shuffle/checkpoint payload codec for bit-vector state.

    Partial sketches are sparse (per-partition density ~ n*k / (P*m)), so a
    cheap zlib pass typically shrinks them 5-20x — the merge stages are
    transport-bound, not CPU-bound, so this is a straight win. Dense (final)
    sketches stay raw (zlib is tried from 64 KiB and kept at >=5x). One tag
    byte distinguishes; :func:`decode_words` inverts either form.
    """
    return _envelope(words.astype("<u8", copy=False).tobytes(), 65536, 5,
                     level)


def decode_words(buf: bytes, copy: bool = True) -> np.ndarray:
    """Inverse of :func:`encode_words`. With ``copy=False`` returns a
    read-only view over the buffer (merge paths only read)."""
    b = bytes(buf)
    if b[:1] not in (_TAG_RAW, _TAG_ZLIB):
        raise ValueError(f"unknown sketch payload tag {b[:1]!r}")
    arr = np.frombuffer(decode_state(b), dtype="<u8")
    return arr.astype(U64) if copy else arr.view(U64)


def encode_state(raw: bytes, level: int = 1) -> bytes:
    """Transport envelope for ANY serialized sketch state (the generic
    sibling of :func:`encode_words`, VERDICT r04 #6): near-empty partial
    states (HLL registers, CMS counters of a group seen on one partition)
    are overwhelmingly zero bytes, so a cheap zlib pass (from 1 KiB, kept
    at >=3x) shrinks the map-side shuffle from 2^p bytes per (group,
    partition) to KBs at high group counts. Tags: ``R`` = raw payload
    follows, ``Z`` = zlib. The sketch impls' own magic bytes (H/C/K/T/S)
    never collide with the tags, so :func:`decode_state` can pass bare impl
    buffers through untouched — final outputs stay in each sketch's
    canonical self-describing format. The mirror case: a buffer that
    already carries a tag (an :func:`encode_words` payload, Bloom's
    canonical format) passes through unchanged, never enveloped or
    zlib-tried twice.
    """
    if raw[:1] in (_TAG_RAW, _TAG_ZLIB):
        return raw
    return _envelope(raw, 1024, 3, level)


def decode_state(buf: bytes) -> bytes | memoryview:
    """Inverse of :func:`encode_state`; bare (un-enveloped) impl buffers
    pass through unchanged, so merge surfaces accept both partial rows
    (enveloped) and final sketch rows (canonical format). A raw payload
    comes back as a zero-copy read-only view (a multi-MB Bloom partial is
    not copied just to drop its tag byte)."""
    b = bytes(buf)
    tag = b[:1]
    if tag == _TAG_ZLIB:
        return zlib.decompress(memoryview(b)[1:])
    if tag == _TAG_RAW:
        return memoryview(b)[1:]
    return b


def words_to_longs(words: np.ndarray) -> list[int]:
    """Words as signed int64 list (checkpoint column ``words: array<long>``)."""
    return words.view(np.int64).tolist()


def words_from_longs(longs) -> np.ndarray:
    """Inverse of :func:`words_to_longs`."""
    return np.asarray(longs, dtype=np.int64).view(U64).copy()
