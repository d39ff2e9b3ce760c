"""SQL surface: sketch tables queryable from pure Spark SQL.

``register_sketch_sql(spark)`` registers vectorized pandas UDFs over the
self-describing sketch buffers produced by ``bloom_agg`` / ``sketch_agg`` /
checkpoints, so a persisted sketch table answers estimates without any
Python driver code::

    SELECT lang, hll_estimate(sketch) FROM hll_by_lang
    SELECT bloom_probe(sketch, k, seed, layout, digest64(key))
        FROM blooms, probes
    SELECT kll_quantile(sketch, 0.5) FROM kll_by_segment

plus GROUPED AGGREGATES that re-aggregate persisted state from pure SQL
(every family merges associatively, so coarser rollups never rescan rows;
all six are one factory, :func:`_merge_agg`, over the impl protocol)::

    SELECT bloom_union_agg(sketch) FROM blooms            -- word-wise OR
    SELECT hll_estimate(hll_union_agg(sketch)) FROM hlls  -- register max
    -- cms_union_agg (counter add), tdigest_merge_agg, kll_merge_agg
    -- (note: pandas grouped-agg UDFs cannot mix with built-in aggregates
    --  in one SELECT — Spark limitation; sum(rows_seen) goes in its own)

and theta set algebra (distinct-count union/intersect/difference BETWEEN
sketches — sampling-exact over the retained region, unlike HLL
inclusion-exclusion whose error grows with the disjoint mass)::

    SELECT theta_estimate(theta_intersect(a.sketch, b.sketch)) FROM ...
    SELECT theta_estimate(theta_union_agg(sketch)) FROM thetas
    -- theta_union, theta_a_not_b compose: est(A ∩ B \\ C) is one SELECT

All functions are Arrow-batched; per-row work is numpy over the deserialized
state (states are KB-to-MB; deserialize cost is amortized per distinct
buffer via a tiny cache). Every probe-style function is one shape,
:func:`_by_state`: factorize each batch by distinct sketch state and run
the kernel ONCE per group over that group's whole probe vector — a probe
table joined against one sketch row costs one vectorized call per Arrow
batch, never a per-row Python loop.

NULL convention (SQL semantics): any NULL argument yields a NULL result —
probe rows from outer joins with no matching sketch come back NULL, never a
fabricated value. The grouped merge aggregates skip NULL sketch rows and
raise a clear error when a group mixes sketch parameters (the header fields
each impl's ``params`` names). Bloom payloads carry no k, seed or layout,
so ``bloom_union_agg`` checks only that the word counts agree.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, BooleanType, DoubleType, LongType

from .kernel import (decode_words, encode_words, exact_int64,
                     intersect_words, union_words, words_from_bytes)
from .operators.bloom import BloomSketch, bloom_probe_digests


def _cached(fn):
    cache: dict[bytes, object] = {}

    def get(buf: bytes):
        if buf not in cache:
            if len(cache) > 64:
                cache.clear()
            cache[buf] = fn(buf)
        return cache[buf]

    return get


def _valid_mask(*series: pd.Series) -> np.ndarray:
    """Rows where EVERY argument is non-null (NULL in -> NULL out)."""
    m = ~series[0].isna().to_numpy()
    for s in series[1:]:
        m &= ~s.isna().to_numpy()
    return m


#: SQL type, numpy dtype and filler of each result kind; boolean and Int64
#: carry their NULLs in a separate mask, double in NaN and binary in None
_KINDS = {"boolean": (BooleanType(), bool, False),
          "Int64": (LongType(), np.int64, 0),
          "double": (DoubleType(), np.float64, np.nan),
          "binary": (BinaryType(), object, None)}


def _by_state(states, args, fn, kind: str) -> pd.Series:
    """The one batch shape of every probe-style function. A row with a
    NULL in any ``states`` or ``args`` column is NULL. The other rows are
    grouped by their distinct ``states`` tuple (one ``pd.factorize`` per
    Arrow batch), and ``fn(*state, *arg_slices)`` runs ONCE per group,
    returning one value for the group or one per row. Results land in a
    typed array of ``kind`` (see :data:`_KINDS`); a batch with no NULL
    row skips every ``[valid]`` copy."""
    valid = _valid_mask(*states, *args)
    _, dtype, fill = _KINDS[kind]
    vals = np.full(valid.size, fill, dtype=dtype)
    if valid.any():
        all_valid = bool(valid.all())
        if not all_valid:
            states = [s[valid] for s in states]
            args = [a[valid] for a in args]
        one = len(states) == 1
        codes, uniques = pd.factorize(
            states[0] if one else pd.Series(list(zip(*states)), dtype=object))
        groups = [(u,) for u in uniques] if one else list(uniques)
        sub = vals if all_valid else vals[valid]
        if len(groups) == 1:
            sub[:] = fn(*groups[0], *args)
        else:
            for gi, state in enumerate(groups):
                mask = codes == gi
                sub[mask] = fn(*state, *(a[mask] for a in args))
        if not all_valid:
            vals[valid] = sub
    if kind == "boolean":
        return pd.Series(pd.arrays.BooleanArray(vals, ~valid))
    if kind == "Int64":
        return pd.Series(pd.arrays.IntegerArray(vals, ~valid))
    return pd.Series(vals)


def _probe_udf(kind: str, n_states: int, fn):
    """A scalar SQL function that is :func:`_by_state` with its first
    ``n_states`` arguments as the state and the rest as arguments."""

    @F.pandas_udf(_KINDS[kind][0])
    def probe_fn(*cols: pd.Series) -> pd.Series:
        return _by_state(cols[:n_states], cols[n_states:], fn, kind)

    return probe_fn


def _exact_scalar_int(v, what: str) -> int:
    if isinstance(v, (float, np.floating)):
        if abs(v) >= 2.0 ** 53:
            raise ValueError(
                f"{what} reached this UDF as float64 >= 2^53 (nullable "
                "long corruption) — filter NULL rows before probing.")
    return int(v)


def _check_same_params(family: str, first, current) -> None:
    if current != first:
        raise ValueError(
            f"mixed sketch parameters in {family} group: {current} vs "
            f"{first} — merge only groups built with one configuration")


def _merge_agg(cls, family: str):
    """SQL AGGREGATE over one sketch family: ``cls.from_buffer`` each
    non-NULL row, require equal ``params`` (named by ``family`` in the
    error), fold with ``merge`` in row order, ``serialize`` the result.

    A pandas GROUPED_AGG call (like Spark 4.1's ``arrow_udf`` GROUPED_AGG)
    receives its ENTIRE group as one Series, and a query without GROUP BY
    is one group: aggregate sketch rows (one per partition or sub-key),
    never data rows. A group of only NULL sketches returns NULL; over zero
    input rows a call without GROUP BY returns no row at all."""

    @F.pandas_udf("binary")
    def merge_agg(sketch: pd.Series) -> bytes:
        impl = acc = None
        for b in sketch:
            if b is None:  # outer-join miss: skip like sum() skips NULLs
                continue
            impl_b, state = cls.from_buffer(bytes(b))
            if impl is None:
                impl, acc = impl_b, state
            else:
                _check_same_params(family, impl.params, impl_b.params)
                acc = impl.merge(acc, state)
        return None if impl is None else impl.serialize(acc)

    return merge_agg


#: driver-side registry behind ``bloom_probe_bc``: name -> (Broadcast of
#: the filter bytes, num_hashes, seed, layout). publish_bloom_sql snapshots
#: this dict into the UDF closure at each (re)registration, so workers
#: resolve names against broadcast HANDLES — the m/8-byte buffer moves once
#: per executor through the broadcast machinery, never through the rows.
_BLOOM_BC_REGISTRY: dict[str, tuple] = {}


def _make_bloom_probe_bc(registry: dict):
    def probe(name, digests):
        entry = registry.get(str(name))
        if entry is None:
            raise ValueError(
                f"bloom_probe_bc: no published filter named {name!r} "
                f"(published: {sorted(registry)}) — call "
                "publish_bloom_sql(spark, name, filter) on the driver first")
        bc, k, seed, layout = entry
        return bloom_probe_digests(words_from_bytes(bc.value, copy=False),
                                   k, seed, layout, digests,
                                   "bloom_probe_bc digest")

    return _probe_udf("boolean", 1, probe)


def publish_bloom_sql(spark: SparkSession, name: str, bloom) -> str:
    """Publish a :class:`~fastbloom_spark.local.BloomFilter` for pure-SQL
    probing WITHOUT shipping its buffer through the rows::

        publish_bloom_sql(spark, "orders", big_filter)
        spark.sql("SELECT * FROM probes "
                  "WHERE bloom_probe_bc('orders', digest)")

    ``bloom_probe(sketch, ...)`` joins the sketch BUFFER column onto every
    probe row — right for KB-to-MB sketch TABLES (one buffer per group
    row), pathological for one large flat filter: a 57-Mbit filter would
    ship ~7 MB per Arrow batch through the join and re-factorize by full
    buffer bytes. This path broadcasts the words ONCE per executor (the
    same mechanism :func:`~fastbloom_spark.operators.bloom
    .bloom_contains_col` uses) and binds them to ``name``; the probe plan
    is a bare filter, no sketch join (plan-asserted in tests).

    Re-publishing a name replaces it (the old broadcast is unpersisted) and
    re-registers ``bloom_probe_bc`` with the updated snapshot — queries
    planned AFTER the call see the new filter. Returns the SQL function
    name (``"bloom_probe_bc"``)."""
    bc = spark.sparkContext.broadcast(bloom.to_bytes())
    old = _BLOOM_BC_REGISTRY.get(name)
    _BLOOM_BC_REGISTRY[name] = (bc, bloom.num_hashes, bloom.seed,
                                bloom.config.layout)
    spark.udf.register("bloom_probe_bc",
                       _make_bloom_probe_bc(dict(_BLOOM_BC_REGISTRY)))
    if old is not None:
        old[0].unpersist()
    return "bloom_probe_bc"


def unpublish_bloom_sql(spark: SparkSession, name: str) -> None:
    """Drop a published filter and release its executor-side broadcast."""
    entry = _BLOOM_BC_REGISTRY.pop(name, None)
    spark.udf.register("bloom_probe_bc",
                       _make_bloom_probe_bc(dict(_BLOOM_BC_REGISTRY)))
    if entry is not None:
        entry[0].unpersist()


def register_sketch_sql(spark: SparkSession) -> list[str]:
    """Register all sketch SQL functions; returns their names."""
    from .sketch import (CountMinSketch, HllSketch, KllSketch,
                         TDigestSketch, ThetaSketch)

    # hoisted: a cache defined inside a UDF body would be rebuilt every
    # Arrow batch, re-deserializing the same buffer per batch
    _load_hll = _cached(HllSketch.from_buffer)
    _load_cms = _cached(CountMinSketch.from_buffer)
    _load_tdigest = _cached(TDigestSketch.from_buffer)
    _load_kll = _cached(KllSketch.from_buffer)
    _load_theta = _cached(ThetaSketch.from_buffer)
    _words_of = _cached(decode_words)

    def hll_estimate(buf) -> float:
        impl, regs = _load_hll(bytes(buf))
        return float(impl.estimate(regs))

    def theta_estimate(buf) -> float:
        return float(ThetaSketch.estimate(_load_theta(bytes(buf))[1]))

    def cms_estimate(buf, digests):
        impl, counters = _load_cms(bytes(buf))
        return impl.query(counters,
                          exact_int64(digests, "cms_estimate digest"))

    def quantile_probe(load, method: str):
        """``quantile_many`` / ``rank_many`` of one deserialized buffer
        over its group's whole argument vector. Ranks (the CDF, the
        inverse of quantiles) give ``WHERE kll_rank(sketch, x) < 0.99``
        style tail predicates."""
        def probe(buf, x):
            impl, state = load(bytes(buf))
            return getattr(impl, method)(state, x.to_numpy(np.float64))
        return probe

    def bloom_probe(buf, k, seed, layout, digests):
        return bloom_probe_digests(
            _words_of(bytes(buf)), int(k),
            _exact_scalar_int(seed, "bloom_probe seed"), str(layout),
            digests, "bloom_probe digest")

    def hll_intersect_estimate(ba, bb) -> float:
        """Inclusion-exclusion: |A ∩ B| ≈ est(A) + est(B) - est(A ∪ B).
        Error grows with the disjoint mass (each term carries
        ~1.04/sqrt(2^p) relative error), so it is a coarse overlap signal,
        not a precise count — clamped at zero."""
        impl, a = _load_hll(bytes(ba))
        impl_b, b = _load_hll(bytes(bb))
        _check_same_params("hll_intersect (precision, seed)",
                           impl.params, impl_b.params)
        est = (impl.estimate(a) + impl.estimate(b)
               - impl.estimate(impl.merge(a, b)))
        return max(est, 0.0)

    def theta_setop(method: str):
        """Pairwise theta set operation -> serialized theta state. Unlike
        hll_intersect_estimate (error grows with the DISJOINT mass), these
        are sampling-exact over the retained region: relative error stays
        ~1/sqrt(k-1) of the RESULT set. Mixed-k inputs allowed (result cut
        at the smaller k); mixed seeds refused."""
        def setop(ba, bb) -> bytes:
            impl_a, a = _load_theta(bytes(ba))
            impl_b, b = _load_theta(bytes(bb))
            if impl_a.seed != impl_b.seed:
                raise ValueError(
                    "theta set op across seeds: near-zero overlap by "
                    f"construction ({impl_a.seed} vs {impl_b.seed})")
            impl = impl_a if impl_a.k <= impl_b.k else impl_b
            return impl.serialize(getattr(impl, method)(a, b))
        return setop

    def bloom_words_op(words_op):
        """Word-wise OR (FP-preserving union, fastbloom src/lib.rs:310-317)
        or AND (upper-bound intersection, src/lib.rs:343-350) of two
        compatible bloom payloads."""
        def op(ba, bb) -> bytes:
            return encode_words(words_op(decode_words(bytes(ba)),
                                         decode_words(bytes(bb))))
        return op

    @F.pandas_udf(BooleanType())
    def bloom_probe_udf(sketch: pd.Series, k: pd.Series, seed: pd.Series,
                        layout: pd.Series, digest: pd.Series) -> pd.Series:
        # a NULL layout is "flat" (pre-layout sketch tables). Sizing: right
        # for KB-to-MB sketch TABLES; probing ONE large flat filter from
        # SQL should go through publish_bloom_sql / bloom_probe_bc instead
        # (broadcast handle — the buffer never rides the rows and
        # factorize never hashes multi-MB payloads).
        return _by_state([sketch, k, seed, layout.fillna("flat")], [digest],
                         bloom_probe, "boolean")

    fns = {
        name: _merge_agg(cls, family) for name, cls, family in (
            ("bloom_union_agg", BloomSketch, "bloom"),
            ("hll_union_agg", HllSketch, "hll (precision, seed)"),
            ("cms_union_agg", CountMinSketch,
             "cms (depth, log2_width, seed)"),
            ("tdigest_merge_agg", TDigestSketch, "tdigest (delta)"),
            ("kll_merge_agg", KllSketch, "kll (k, seed)"),
            ("theta_union_agg", ThetaSketch, "theta (k, seed)"))}
    # kind, number of leading sketch-state arguments, per-state function
    fns.update({name: _probe_udf(kind, n_states, fn)
                for name, kind, n_states, fn in (
        ("hll_estimate", "double", 1, hll_estimate),
        ("theta_estimate", "double", 1, theta_estimate),
        ("cms_estimate", "Int64", 1, cms_estimate),
        ("tdigest_quantile", "double", 1,
         quantile_probe(_load_tdigest, "quantile_many")),
        ("kll_quantile", "double", 1,
         quantile_probe(_load_kll, "quantile_many")),
        ("tdigest_rank", "double", 1,
         quantile_probe(_load_tdigest, "rank_many")),
        ("kll_rank", "double", 1, quantile_probe(_load_kll, "rank_many")),
        ("hll_intersect_estimate", "double", 2, hll_intersect_estimate),
        ("theta_union", "binary", 2, theta_setop("merge")),
        ("theta_intersect", "binary", 2, theta_setop("intersect")),
        ("theta_a_not_b", "binary", 2, theta_setop("a_not_b")),
        ("bloom_union", "binary", 2, bloom_words_op(union_words)),
        ("bloom_intersect", "binary", 2, bloom_words_op(intersect_words)))})
    fns["bloom_probe"] = bloom_probe_udf
    fns["bloom_probe_bc"] = _make_bloom_probe_bc(dict(_BLOOM_BC_REGISTRY))
    for name, fn in fns.items():
        spark.udf.register(name, fn)
    return sorted(fns)
