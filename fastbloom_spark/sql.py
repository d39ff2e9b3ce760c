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
buffer via a tiny cache). Probe-style functions factorize each batch by
distinct buffer and run the kernel ONCE per group over that group's whole
probe vector — a probe table joined against one sketch row costs one
vectorized call per Arrow batch, never a per-row Python loop.

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
from pyspark.sql.types import BooleanType, DoubleType, LongType

from .kernel import (contains_hashes, decode_words, exact_int64,
                     source_hash, words_from_bytes)


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
    @F.pandas_udf(BooleanType())
    def bloom_probe_bc(name: pd.Series, digest: pd.Series) -> pd.Series:
        out = pd.array(np.zeros(len(name), dtype=bool), dtype="boolean")
        valid = _valid_mask(name, digest)
        out[~valid] = pd.NA
        if valid.any():
            sub = np.zeros(int(valid.sum()), dtype=bool)
            codes, uniques = pd.factorize(name[valid])
            digs = exact_int64(digest[valid], "bloom_probe_bc digest")
            for gi, nm in enumerate(uniques):
                entry = registry.get(str(nm))
                if entry is None:
                    raise ValueError(
                        f"bloom_probe_bc: no published filter named "
                        f"{nm!r} (published: {sorted(registry)}) — call "
                        "publish_bloom_sql(spark, name, filter) on the "
                        "driver first")
                bc, k, seed, layout = entry
                words = words_from_bytes(bc.value, copy=False)
                mask = codes == gi
                h = source_hash(digs[mask], seed)
                sub[mask] = contains_hashes(words, h, k, layout)
            out[valid] = sub
        return pd.Series(out)

    return bloom_probe_bc


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
    from .operators.bloom import BloomSketch
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

    @_cached
    def _hll_est(buf: bytes) -> float:
        impl, regs = _load_hll(buf)
        return float(impl.estimate(regs))

    @F.pandas_udf(DoubleType())
    def hll_estimate(sketch: pd.Series) -> pd.Series:
        return sketch.map(
            lambda b: np.nan if b is None else _hll_est(bytes(b)))

    @F.pandas_udf(LongType())
    def cms_estimate(sketch: pd.Series, digest: pd.Series) -> pd.Series:
        # Batch-vectorized: a probe table typically joins ONE sketch row
        # against many keys, so each Arrow batch holds few distinct buffers.
        # Group by buffer identity and query each group's digests as one
        # numpy vector (one kernel call per distinct sketch, not per row).
        # NULL sketch/digest rows (outer-join misses) come back NULL.
        valid = _valid_mask(sketch, digest)
        out = pd.array(np.zeros(len(sketch), dtype=np.int64), dtype="Int64")
        out[~valid] = pd.NA
        if valid.any():
            sub = np.zeros(int(valid.sum()), dtype=np.int64)
            codes, uniques = pd.factorize(sketch[valid])
            digs = exact_int64(digest[valid], "cms_estimate digest")
            for gi, buf in enumerate(uniques):
                impl, counters = _load_cms(bytes(buf))
                mask = codes == gi
                sub[mask] = impl.query(counters, digs[mask])
            out[valid] = sub
        return pd.Series(out)

    def _quantile_udf(load_impl_state, method: str):
        """Factorize-by-buffer quantile or rank probe (same pattern as
        bloom_probe / cms_estimate): deserialize each DISTINCT buffer once
        per batch (cached), evaluate its whole argument vector in one
        vectorized ``quantile_many`` / ``rank_many`` call — never a per-row
        deserialize+build loop. Ranks (the CDF, the inverse of quantiles)
        give `WHERE kll_rank(sketch, x) < 0.99` style tail predicates."""

        @F.pandas_udf(DoubleType())
        def probe_fn(sketch: pd.Series, x: pd.Series) -> pd.Series:
            out = np.full(len(sketch), np.nan)
            valid = _valid_mask(sketch, x)
            if valid.any():
                sub = np.full(int(valid.sum()), np.nan)
                codes, uniques = pd.factorize(sketch[valid])
                xs = x[valid].to_numpy(np.float64)
                for gi, buf in enumerate(uniques):
                    impl, state = load_impl_state(bytes(buf))
                    mask = codes == gi
                    sub[mask] = getattr(impl, method)(state, xs[mask])
                out[valid] = sub
            return pd.Series(out)

        return probe_fn

    tdigest_quantile = _quantile_udf(_load_tdigest, "quantile_many")
    kll_quantile = _quantile_udf(_load_kll, "quantile_many")
    tdigest_rank = _quantile_udf(_load_tdigest, "rank_many")
    kll_rank = _quantile_udf(_load_kll, "rank_many")

    @F.pandas_udf(BooleanType())
    def bloom_probe(sketch: pd.Series, k: pd.Series, seed: pd.Series,
                    layout: pd.Series, digest: pd.Series) -> pd.Series:
        # Batch-vectorized: group rows by distinct (sketch, k, seed, layout)
        # and run the kernel ONCE per group over all that group's digests —
        # a probe table joined against one sketch row costs one vectorized
        # contains_hashes per Arrow batch instead of a per-row Python loop.
        # NULL sketch/k/seed/digest rows come back NULL (a NULL layout
        # defaults to "flat" for pre-layout sketch tables).
        # Sizing: right for KB-to-MB sketch TABLES; probing ONE large flat
        # filter from SQL should go through publish_bloom_sql /
        # bloom_probe_bc instead (broadcast handle — the buffer never rides
        # the rows and factorize never hashes multi-MB payloads).
        valid = _valid_mask(sketch, k, seed, digest)
        out = pd.array(np.zeros(len(sketch), dtype=bool), dtype="boolean")
        out[~valid] = pd.NA
        if valid.any():
            sub = np.zeros(int(valid.sum()), dtype=bool)
            key = pd.Series(
                list(zip(sketch[valid], k[valid], seed[valid],
                         layout[valid])), dtype=object)
            codes, uniques = pd.factorize(key)
            digs = exact_int64(digest[valid], "bloom_probe digest")
            for gi, (buf, kk, ss, lay) in enumerate(uniques):
                words = _words_of(bytes(buf))
                mask = codes == gi
                seed_i = _exact_scalar_int(ss, "bloom_probe seed")
                h = source_hash(digs[mask], seed_i & ((1 << 64) - 1))
                sub[mask] = contains_hashes(
                    words, h, int(kk), "flat" if lay is None else str(lay))
            out[valid] = sub
        return pd.Series(out)

    @F.pandas_udf("binary")
    def bloom_intersect(sketch_a: pd.Series, sketch_b: pd.Series) -> pd.Series:
        """Word-wise AND of two compatible bloom payloads (upper-bound
        intersection semantics, fastbloom src/lib.rs:343-350)."""
        from .kernel import encode_words, intersect_words

        out = []
        for a, b in zip(sketch_a, sketch_b):
            out.append(None if a is None or b is None else
                       encode_words(intersect_words(
                           decode_words(bytes(a)), decode_words(bytes(b)))))
        return pd.Series(out)

    @F.pandas_udf("binary")
    def bloom_union(sketch_a: pd.Series, sketch_b: pd.Series) -> pd.Series:
        """Word-wise OR of two compatible bloom payloads (FP-preserving
        union, fastbloom src/lib.rs:310-317)."""
        from .kernel import encode_words, union_words

        out = []
        for a, b in zip(sketch_a, sketch_b):
            out.append(None if a is None or b is None else
                       encode_words(union_words(
                           decode_words(bytes(a)), decode_words(bytes(b)))))
        return pd.Series(out)

    @F.pandas_udf(DoubleType())
    def hll_intersect_estimate(sketch_a: pd.Series,
                               sketch_b: pd.Series) -> pd.Series:
        """Inclusion-exclusion intersection estimate from two HLL states:
        |A ∩ B| ≈ est(A) + est(B) - est(A ∪ B). Error grows with the
        disjoint mass (each term carries ~1.04/sqrt(2^p) relative error),
        so it is a coarse overlap signal, not a precise count — clamped at
        zero. Factorized by distinct (a, b) pair: a sketch table cross-joined
        against one reference sketch evaluates each DISTINCT pair once per
        batch, with per-buffer deserialization cached ACROSS batches
        (_load_hll lives at registration scope)."""

        def inter(ba: bytes, bb: bytes) -> float:
            impl, a = _load_hll(ba)
            impl_b, b = _load_hll(bb)
            _check_same_params("hll_intersect (precision, seed)",
                               impl.params, impl_b.params)
            est = (impl.estimate(a) + impl.estimate(b)
                   - impl.estimate(impl.merge(a, b)))
            return max(est, 0.0)

        out = np.full(len(sketch_a), np.nan)
        valid = _valid_mask(sketch_a, sketch_b)
        if valid.any():
            sub = np.full(int(valid.sum()), np.nan)
            key = pd.Series(list(zip(sketch_a[valid], sketch_b[valid])),
                            dtype=object)
            codes, uniques = pd.factorize(key)
            for gi, (ba, bb) in enumerate(uniques):
                sub[codes == gi] = inter(bytes(ba), bytes(bb))
            out[valid] = sub
        return pd.Series(out)

    @F.pandas_udf(DoubleType())
    def theta_estimate(sketch: pd.Series) -> pd.Series:
        return sketch.map(
            lambda b: np.nan if b is None else
            float(ThetaSketch.estimate(_load_theta(bytes(b))[1])))

    def _theta_setop_udf(op_name: str):
        """Pairwise theta set operation → serialized theta state. Unlike
        hll_intersect_estimate's inclusion-exclusion (error grows with the
        DISJOINT mass), these are sampling-exact over the retained region:
        relative error stays ~1/sqrt(k-1) of the RESULT set. Mixed-k inputs
        allowed (result cut at the smaller k); mixed seeds refused. Same
        factorize-by-distinct-pair batch shape as hll_intersect_estimate."""

        def one(ba: bytes, bb: bytes) -> bytes:
            impl_a, a = _load_theta(ba)
            impl_b, b = _load_theta(bb)
            if impl_a.seed != impl_b.seed:
                raise ValueError(
                    "theta set op across seeds: near-zero overlap by "
                    f"construction ({impl_a.seed} vs {impl_b.seed})")
            impl = impl_a if impl_a.k <= impl_b.k else impl_b
            if op_name == "union":
                out = impl.merge(a, b)
            elif op_name == "intersect":
                out = impl.intersect(a, b)
            else:
                out = impl.a_not_b(a, b)
            return impl.serialize(out)

        @F.pandas_udf("binary")
        def setop_fn(sketch_a: pd.Series, sketch_b: pd.Series) -> pd.Series:
            out = [None] * len(sketch_a)
            valid = _valid_mask(sketch_a, sketch_b)
            if valid.any():
                key = pd.Series(list(zip(sketch_a[valid], sketch_b[valid])),
                                dtype=object)
                codes, uniques = pd.factorize(key)
                done = [one(bytes(ba), bytes(bb)) for ba, bb in uniques]
                for pos, gi in zip(np.flatnonzero(valid), codes):
                    out[pos] = done[gi]
            return pd.Series(out, dtype=object)

        return setop_fn

    theta_union = _theta_setop_udf("union")
    theta_intersect = _theta_setop_udf("intersect")
    theta_a_not_b = _theta_setop_udf("a_not_b")

    fns = {
        name: _merge_agg(cls, family) for name, cls, family in (
            ("bloom_union_agg", BloomSketch, "bloom"),
            ("hll_union_agg", HllSketch, "hll (precision, seed)"),
            ("cms_union_agg", CountMinSketch,
             "cms (depth, log2_width, seed)"),
            ("tdigest_merge_agg", TDigestSketch, "tdigest (delta)"),
            ("kll_merge_agg", KllSketch, "kll (k, seed)"),
            ("theta_union_agg", ThetaSketch, "theta (k, seed)"))}
    fns.update({
        "bloom_probe_bc": _make_bloom_probe_bc(dict(_BLOOM_BC_REGISTRY)),
        "bloom_union": bloom_union,
        "bloom_intersect": bloom_intersect,
        "hll_estimate": hll_estimate,
        "cms_estimate": cms_estimate,
        "tdigest_quantile": tdigest_quantile,
        "kll_quantile": kll_quantile,
        "kll_rank": kll_rank,
        "bloom_probe": bloom_probe,
        "hll_intersect_estimate": hll_intersect_estimate,
        "tdigest_rank": tdigest_rank,
        "theta_estimate": theta_estimate,
        "theta_union": theta_union,
        "theta_intersect": theta_intersect,
        "theta_a_not_b": theta_a_not_b,
    })
    for name, fn in fns.items():
        spark.udf.register(name, fn)
    return sorted(fns)
