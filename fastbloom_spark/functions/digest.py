"""Digest column expressions — the per-row invariant, computed JVM-side.

``digest64(col)`` is the Spark analogue of the reference's pre-hash surface
(``insert_hash`` / ``contains_hash``, fastbloom ``src/lib.rs:174``,
``src/lib.rs:217-219``): one real hash per item, computed once, with every
probe index derived from it downstream. It is the first 8 bytes (big-endian)
of ``sha256(value)`` reinterpreted as a signed int64 — sha256 because the
north rule's per-row invariant is content-sha256 equality against the source
table.

Everything here is built-in Catalyst expressions (``sha2``/``conv``/
``substring``): whole-stage-codegen'd, zero Python. Parity with the local
kernel's :func:`fastbloom_spark.kernel.digest64_bytes` is tested.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

#: user-registered digest strategies: name -> (Column -> LongType Column)
_CUSTOM_DIGESTS: dict[str, Callable[[Column], Column]] = {}


def register_digest(name: str, fn: Callable[[Column], Column]) -> str:
    """Register a user-supplied digest strategy — the fully general
    ``Builder::hasher`` surface (reference accepts any ``BuildHasher``,
    fastbloom src/builder.rs:60-65). ``fn`` maps a value Column to a
    64-bit-digest Column using any JVM expression (``F.crc32``,
    ``F.hash``, a composed sha512 slice, ...).

    Returns the strategy string ``"custom:<name>"`` to pass as
    ``BloomConfig(digest=...)`` / ``digest64(col, ...)``. The string rides
    through sketch rows, checkpoints, and SQL metadata, and the digest-
    equality checks compare it like the built-ins — BUT the string is only
    as trustworthy as the caller's discipline: the registry is per-driver
    and mutable, so the NAME is the contract. Re-registering the same name
    with a DIFFERENT expression (e.g. after a driver restart, before a
    checkpoint resume) silently mixes incompatible hash spaces — merged
    filters would return false negatives. Bind a name to one expression,
    forever; version the name (``"crc32_v2"``) when the expression
    changes. Driver-side registry: register before building the plan
    (Column expressions are composed on the driver; executors never
    resolve the name). No local ``digest64_bytes`` path exists for custom
    strategies — local filters take precomputed digests."""
    if not name or ":" in name:
        raise ValueError("digest name must be non-empty and ':'-free")
    _CUSTOM_DIGESTS[name] = fn
    return f"custom:{name}"


def sha256_hex(col: Column | str) -> Column:
    """Full sha256 hex digest of a (string-castable) column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c.cast("string"), 256)


def digest64(col: Column | str, strategy: str = "sha256") -> Column:
    """Per-row digest as a signed int64 — the filter's pluggable hasher
    surface (reference ``Builder::hasher``, fastbloom src/builder.rs:60-65).

    * ``"sha256"`` (default): first 8 bytes of sha256(col), big-endian,
      read as a signed int64 (see :func:`_hex16_to_long`) so executors
      can reinterpret it with ``ndarray.view(uint64)`` losslessly. Keeps
      the content-sha256 invariant; the right default for
      content-addressed dedup.
    * ``"xxh64"``: Spark's built-in ``xxhash64`` (one JVM intrinsic, no
      hex round-trip) — ~an order of magnitude cheaper per row; the right
      choice for short/numeric keys where the digest scan dominates.

    Both are whole-stage-codegen'd Catalyst expressions; local parity via
    :func:`fastbloom_spark.kernel.digest64_bytes(data, strategy)`.
    """
    c = F.col(col) if isinstance(col, str) else col
    if strategy == "xxh64":
        return F.xxhash64(c.cast("string"))
    if strategy.startswith("custom:"):
        name = strategy[len("custom:"):]
        if name not in _CUSTOM_DIGESTS:
            raise ValueError(
                f"digest strategy {strategy!r} not registered on this "
                "driver — call register_digest(name, fn) first")
        return _CUSTOM_DIGESTS[name](c).cast("long")
    if strategy != "sha256":
        raise ValueError(f"unknown digest strategy {strategy!r}")
    return _hex16_to_long(sha256_hex(c))


def _hex16_to_long(hex_col: Column) -> Column:
    """First 16 hex chars reinterpreted as a SIGNED int64: one ``conv``
    to a negative base, which reads the 64-bit value as two's complement
    (``conv('ffffffffffffffff', 16, -10)`` is ``'-1'``), cast to long.
    Same value for every input as the former decimal(20,0) chain and the
    two-halves ``shiftleft(hi, 32) | lo`` form (property-tested against
    the decimal path), with one substring and one conv per row instead
    of two of each: about 0.35 CPU-us less per row, a fifth of the
    sha256 digest's cost on short keys (4-core x86 host, 2M keys)."""
    return F.conv(F.substring(hex_col, 1, 16), 16, -10).cast("long")


def digest64_from_hex(hex_col: Column | str) -> Column:
    """digest64 from an existing sha256 hex column (skips re-hashing)."""
    c = F.col(hex_col) if isinstance(hex_col, str) else hex_col
    return _hex16_to_long(c)
