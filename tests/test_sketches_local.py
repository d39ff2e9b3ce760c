"""Local (single-node) correctness of HLL / CMS / t-digest / KLL:
estimates within published error bounds, merge = whole-build, serde
round-trips. Mirrors the reference's property-test style (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest

from fastbloom_spark.sketch import (
    CountMinSketch,
    HllSketch,
    KllSketch,
    TDigestSketch,
    ThetaSketch,
)

RNG = np.random.default_rng(1234)


def digests_of(n: int, offset: int = 0) -> np.ndarray:
    return (np.arange(offset, offset + n, dtype=np.uint64)
            * np.uint64(0x9E3779B97F4A7C15)).view(np.int64)


# ----------------------------------------------------------------------- HLL


@pytest.mark.parametrize("n", [100, 5_000, 200_000])
def test_hll_estimate_within_bound(n):
    sk = HllSketch(precision=12, seed=3)
    regs = sk.update(sk.empty(), digests_of(n))
    est = sk.estimate(regs)
    assert abs(est - n) / n < 4 * sk.relative_error(), (n, est)


def test_hll_duplicates_dont_inflate():
    sk = HllSketch(precision=12)
    d = digests_of(1000)
    regs = sk.update(sk.empty(), np.tile(d, 50))
    est = sk.estimate(regs)
    assert abs(est - 1000) / 1000 < 4 * sk.relative_error()


def test_hll_merge_equals_whole_and_order_invariant():
    sk = HllSketch(precision=11, seed=9)
    parts = [digests_of(3000, i * 3000) for i in range(8)]
    whole = sk.update(sk.empty(), np.concatenate(parts))
    import functools
    merged_fwd = functools.reduce(
        sk.merge, [sk.update(sk.empty(), p) for p in parts])
    merged_rev = functools.reduce(
        sk.merge, [sk.update(sk.empty(), p) for p in reversed(parts)])
    assert np.array_equal(whole, merged_fwd)
    assert np.array_equal(merged_fwd, merged_rev)


def test_hll_serde_roundtrip():
    sk = HllSketch(precision=10)
    regs = sk.update(sk.empty(), digests_of(10_000))
    assert np.array_equal(sk.deserialize(sk.serialize(regs)), regs)
    with pytest.raises(ValueError):
        HllSketch(precision=11).deserialize(sk.serialize(regs))


def test_hll_seeded_determinism():
    a = HllSketch(12, seed=5)
    b = HllSketch(12, seed=5)
    c = HllSketch(12, seed=6)
    d = digests_of(5000)
    assert np.array_equal(a.update(a.empty(), d), b.update(b.empty(), d))
    assert not np.array_equal(a.update(a.empty(), d), c.update(c.empty(), d))


# ----------------------------------------------------------------------- CMS


def test_cms_never_underestimates_and_bound():
    sk = CountMinSketch(depth=5, log2_width=14, seed=1)
    # skewed multiset: item i appears (i % 100) + 1 times
    reps = (np.arange(2000) % 100) + 1
    digests = np.repeat(digests_of(2000), reps)
    counters = sk.update(sk.empty(), digests)
    est = sk.query(counters, digests_of(2000))
    true = reps.astype(np.int64)
    assert (est >= true).all(), "CMS must never underestimate"
    n_total = int(reps.sum())
    assert (est - true).max() <= max(sk.error_bound(n_total), 1), \
        (est - true).max()


def test_cms_merge_equals_whole():
    sk = CountMinSketch(depth=4, log2_width=12, seed=2)
    parts = [np.repeat(digests_of(500, 500 * i), 3) for i in range(6)]
    whole = sk.update(sk.empty(), np.concatenate(parts))
    import functools
    merged = functools.reduce(
        sk.merge, [sk.update(sk.empty(), p) for p in parts])
    assert np.array_equal(whole, merged)


def test_cms_serde_roundtrip():
    sk = CountMinSketch(depth=3, log2_width=10)
    c = sk.update(sk.empty(), digests_of(5000))
    assert np.array_equal(sk.deserialize(sk.serialize(c)), c)


# ------------------------------------------------------------------ t-digest


@pytest.mark.parametrize("dist", ["uniform", "normal", "lognormal"])
def test_tdigest_quantiles_rank_error(dist):
    n = 100_000
    x = {"uniform": RNG.uniform(0, 1, n),
         "normal": RNG.normal(0, 1, n),
         "lognormal": RNG.lognormal(0, 1, n)}[dist]
    sk = TDigestSketch(delta=200)
    st = sk.update(sk.empty(), x)
    xs = np.sort(x)
    for q in [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]:
        est = sk.quantile(st, q)
        # rank error: where does the estimate land in the true CDF?
        rank = np.searchsorted(xs, est) / n
        assert abs(rank - q) < 0.02, (dist, q, rank)


def test_tdigest_merge_matches_whole_within_error():
    n = 50_000
    x = RNG.normal(0, 1, n)
    sk = TDigestSketch(delta=200)
    whole = sk.update(sk.empty(), x)
    parts = np.array_split(x, 7)
    import functools
    merged = functools.reduce(
        sk.merge, [sk.update(sk.empty(), p) for p in parts])
    assert sk.total_weight(merged) == n
    xs = np.sort(x)
    for q in [0.05, 0.5, 0.95]:
        rank_w = np.searchsorted(xs, sk.quantile(whole, q)) / n
        rank_m = np.searchsorted(xs, sk.quantile(merged, q)) / n
        assert abs(rank_m - q) < 0.02 and abs(rank_w - rank_m) < 0.02


def test_tdigest_serde_roundtrip():
    sk = TDigestSketch(delta=100)
    st = sk.update(sk.empty(), RNG.uniform(0, 100, 10_000))
    back = sk.deserialize(sk.serialize(st))
    for q in [0.1, 0.5, 0.9]:
        assert sk.quantile(back, q) == sk.quantile(st, q)


def test_tdigest_small_inputs():
    sk = TDigestSketch()
    st = sk.empty()
    assert np.isnan(sk.quantile(st, 0.5))
    st = sk.update(st, np.array([42.0]))
    assert sk.quantile(st, 0.5) == 42.0
    st = sk.update(st, np.array([np.nan, 58.0]))
    assert sk.total_weight(st) == 2  # NaNs dropped


# ----------------------------------------------------------------------- KLL


@pytest.mark.parametrize("dist", ["uniform", "normal"])
def test_kll_quantiles_rank_error(dist):
    n = 100_000
    x = {"uniform": RNG.uniform(0, 1, n),
         "normal": RNG.normal(0, 1, n)}[dist]
    sk = KllSketch(k=200, seed=4)
    st = sk.update(sk.empty(), x)
    assert sk.total_weight(st) == n
    xs = np.sort(x)
    for q in [0.01, 0.25, 0.5, 0.75, 0.99]:
        est = sk.quantile(st, q)
        rank = np.searchsorted(xs, est) / n
        assert abs(rank - q) < 3 * sk.relative_error(), (dist, q, rank)


def test_kll_merge_weight_conservation_and_error():
    n = 60_000
    x = RNG.normal(10, 3, n)
    sk = KllSketch(k=200, seed=8)
    parts = np.array_split(x, 9)
    import functools
    merged = functools.reduce(
        sk.merge, [sk.update(sk.empty(), p) for p in parts])
    assert sk.total_weight(merged) == n
    xs = np.sort(x)
    for q in [0.1, 0.5, 0.9]:
        rank = np.searchsorted(xs, sk.quantile(merged, q)) / n
        assert abs(rank - q) < 4 * sk.relative_error(), (q, rank)


def test_kll_serde_roundtrip_and_determinism():
    sk = KllSketch(k=150, seed=11)
    x = RNG.uniform(0, 1, 20_000)
    a = sk.update(sk.empty(), x.copy())
    b = sk.update(sk.empty(), x.copy())
    # deterministic coins: identical states for identical input order
    assert sk.serialize(a) == sk.serialize(b)
    back = sk.deserialize(sk.serialize(a))
    for q in [0.2, 0.5, 0.8]:
        assert sk.quantile(back, q) == sk.quantile(a, q)


def test_kll_rank_query():
    sk = KllSketch(k=200)
    x = np.arange(10_000, dtype=np.float64)
    st = sk.update(sk.empty(), x)
    assert abs(sk.rank(st, 5000.0) - 0.5) < 0.03


def test_tdigest_rank_inverse_of_quantile():
    """rank_many is the CDF inverse of quantile_many: rank(quantile(q))
    ~= q across the range, and ranks of true data quantiles land within
    the published O(1/delta) error."""
    import numpy as np

    from fastbloom_spark.sketch import TDigestSketch

    rng = np.random.default_rng(7)
    xs = np.sort(rng.lognormal(0.0, 1.0, 50_000))
    sk = TDigestSketch(delta=200)
    st = sk.update(sk.empty(), xs)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est_v = sk.quantile(st, q)
        assert abs(sk.rank(st, est_v) - q) < 0.02, q
        true_v = float(np.quantile(xs, q))
        assert abs(sk.rank(st, true_v) - q) < 0.02, q
    # endpoints clamp
    assert sk.rank(st, xs[0] - 1.0) <= 0.001
    assert sk.rank(st, xs[-1] + 1.0) >= 0.999


# ------------------------------------------------------------ impl protocol


@pytest.mark.parametrize("impl", [
    HllSketch(precision=10, seed=7), CountMinSketch(depth=3, seed=7),
    TDigestSketch(delta=50), KllSketch(k=32, seed=42),
    ThetaSketch(k=64, seed=7)],
    ids=lambda i: i.name)
def test_from_buffer_restores_params_and_state(impl):
    """The config-free load the SQL merge aggregates use gives back an impl
    with the builder's params and a state that re-serializes unchanged,
    and that impl merges (KLL: compacts with the seed's coins) to the
    builder's bytes."""
    vals = (digests_of(3_000) if impl.input_kind == "digest"
            else RNG.normal(size=3_000))
    buf = impl.serialize(impl.update(impl.empty(), vals))
    back, state = type(impl).from_buffer(buf)
    assert back.params == impl.params
    assert back.serialize(state) == buf
    other = impl.serialize(impl.update(impl.empty(), vals * 2 + 1))
    assert back.serialize(back.merge(state, back.deserialize(other))) \
        == impl.serialize(impl.merge(impl.deserialize(buf),
                                     impl.deserialize(other)))


def test_kll_seedless_buffer_loads_with_seed_zero():
    """Buffers of the seedless KLL layout (magic b"K") still load, as
    seed 0, and re-serialize in the seeded layout."""
    import struct

    impl = KllSketch(k=32)
    state = impl.update(impl.empty(), RNG.normal(size=3_000))
    levels = b"".join(struct.pack("<I", lvl.size) + lvl.astype("<f8").tobytes()
                      for lvl in state.levels)
    legacy = struct.pack("<BHIB", 0x4B, 32, state.n_compactions,
                         len(state.levels)) + levels
    back, got = KllSketch.from_buffer(legacy)
    assert back.params == (32, 0)
    assert back.serialize(got) == impl.serialize(state)


@pytest.mark.parametrize("small_first", [True, False],
                         ids=["small_first", "big_first"])
def test_bloom_merge_rejects_word_count_mismatch(small_first):
    """A 1-word payload ORed after a 64-word filter used to broadcast over
    all 64 words; the other order raised numpy's broadcast error. Both
    orders now raise the same ValueError."""
    from fastbloom_spark.operators.bloom import BloomSketch

    small = np.ones(1, dtype=np.uint64)
    big = np.zeros(64, dtype=np.uint64)
    a, b = (small, big) if small_first else (big, small)
    with pytest.raises(ValueError, match="word length mismatch"):
        BloomSketch.merge(a, b)
