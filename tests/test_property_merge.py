"""Hypothesis property tests: merge associativity over random partitionings
and merge trees (the reference's loom-model guarantee, fastbloom
src/lib.rs:775-809, generalized: ANY split of the input into ANY merge tree
yields bitwise-identical words)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from fastbloom_spark import BloomConfig, BloomFilter
from fastbloom_spark.sketch import CountMinSketch, HllSketch

CFG = BloomConfig.with_num_bits(1 << 12, num_hashes=4, seed=13)


def _random_tree_merge(filters, rng):
    """Merge a list of filters in a random binary-tree order."""
    nodes = list(filters)
    while len(nodes) > 1:
        i = rng.integers(0, len(nodes) - 1)
        a = nodes.pop(int(i))
        b = nodes.pop(int(i) if int(i) < len(nodes) else 0)
        nodes.append(a.copy().union(b))
    return nodes[0]


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=4000),
    n_parts=st.integers(min_value=1, max_value=12),
    tree_seed=st.integers(min_value=0, max_value=2**31 - 1),
    perm_seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bloom_merge_tree_invariance(n, n_parts, tree_seed, perm_seed):
    data = np.random.default_rng(99).integers(
        0, 1 << 63, size=n, dtype=np.uint64).view(np.int64)
    whole = BloomFilter(CFG)
    whole.insert_digests(data)

    rng = np.random.default_rng(perm_seed)
    shuffled = data[rng.permutation(n)]
    cuts = np.sort(rng.integers(0, n + 1, size=min(n_parts, n) - 1)) \
        if min(n_parts, n) > 1 else np.array([], dtype=int)
    parts = np.split(shuffled, cuts)

    filters = []
    for p in parts:
        f = BloomFilter(CFG)
        f.insert_digests(p)
        filters.append(f)
    merged = _random_tree_merge(filters, np.random.default_rng(tree_seed))
    assert np.array_equal(merged.words, whole.words)
    assert merged.rows_seen == n


@settings(max_examples=15, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=3000),
    n_parts=st.integers(min_value=1, max_value=8),
    perm_seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_hll_cms_merge_invariance(n, n_parts, perm_seed):
    data = np.random.default_rng(7).integers(
        0, 1 << 63, size=n, dtype=np.uint64).view(np.int64)
    rng = np.random.default_rng(perm_seed)
    shuffled = data[rng.permutation(n)]
    cuts = np.sort(rng.integers(0, n + 1, size=min(n_parts, n) - 1)) \
        if min(n_parts, n) > 1 else np.array([], dtype=int)
    parts = np.split(shuffled, cuts)

    hll = HllSketch(precision=10, seed=5)
    cms = CountMinSketch(depth=3, log2_width=10, seed=5)

    import functools
    hll_whole = hll.update(hll.empty(), data)
    hll_merged = functools.reduce(
        hll.merge, [hll.update(hll.empty(), p) for p in parts])
    assert np.array_equal(hll_whole, hll_merged)

    cms_whole = cms.update(cms.empty(), data)
    cms_merged = functools.reduce(
        cms.merge, [cms.update(cms.empty(), p) for p in parts])
    assert np.array_equal(cms_whole, cms_merged)


# ------------------------------------------------- skip-index prune laws --

def _index_frame(bucket_values: dict[int, list[str]], cfg):
    """Driver-shape index rows (sources/index.py) from in-memory data."""
    import pandas as pd

    from fastbloom_spark.kernel import digest64_bytes, encode_words

    rows = []
    for b, vals in bucket_values.items():
        f = BloomFilter(cfg)
        f.insert_digests([digest64_bytes(v.encode()) for v in vals])
        rows.append({"bucket_id": b, "index_col": "v", "m": cfg.num_bits,
                     "k": cfg.num_hashes, "seed": cfg.seed,
                     "layout": cfg.layout, "digest": cfg.digest,
                     "rows_seen": len(vals), "sketch": encode_words(f.words)})
    return pd.DataFrame(rows)


@settings(max_examples=30, deadline=None)
@given(data=st.dictionaries(
    st.integers(min_value=0, max_value=7),
    st.lists(st.text(min_size=1, max_size=12), min_size=1, max_size=30),
    min_size=1, max_size=8),
    extra=st.lists(st.text(min_size=1, max_size=12), max_size=5))
def test_prune_zero_fn_and_monotone(data, extra):
    """Two laws for ANY bucket layout and probe set: (1) zero-FN — a
    probe that IS in some bucket always keeps that bucket in the
    survivors; (2) monotonicity — adding probes never shrinks the
    survivor set (more lookups can only open more units)."""
    from fastbloom_spark.kernel import digest64_bytes
    from fastbloom_spark.sources.index import _UnitFilters

    cfg = BloomConfig.with_num_bits(1 << 10, num_hashes=4, seed=3)
    pdf = _index_frame(data, cfg)
    members = sorted({v for vals in data.values() for v in vals})
    probes = members[:3]
    digs = [digest64_bytes(v.encode()) for v in probes]
    units = _UnitFilters(pdf)
    stats = units.survive(None, digs)[1]
    for v in probes:  # zero-FN: every home bucket survives
        for b, vals in data.items():
            if v in vals:
                assert str(b) in stats.survivors
    digs2 = digs + [digest64_bytes(v.encode()) for v in extra]
    stats2 = units.survive(None, digs2)[1]
    assert set(stats.survivors) <= set(stats2.survivors)
    assert stats2.units_total == stats.units_total == len(data)


# -- round-6 kernels: next-fit packing + theta cut ---------------------------


@settings(max_examples=60, deadline=None)
@given(
    toks=st.lists(st.integers(min_value=0, max_value=300), min_size=0,
                  max_size=400),
    capacity=st.integers(min_value=1, max_value=120),
)
def test_pack_next_fit_laws(toks, capacity):
    """Next-fit invariants for ANY token sequence: equality with the
    obvious per-item reference walk, capacity respected except oversize
    solos, block ids dense non-decreasing from 0."""
    from fastbloom_spark.operators.pack import _pack_next_fit

    tok = np.array(toks, dtype=np.int64)
    got = _pack_next_fit(tok, capacity).tolist()

    # reference: one item at a time, O(n) state machine
    want, block, fill = [], 0, 0
    for t in toks:
        if want and fill + t > capacity:
            block += 1
            fill = 0
        want.append(block)
        fill += t
    assert got == want

    if toks:
        assert got[0] == 0
        assert all(b2 - b1 in (0, 1) for b1, b2 in zip(got, got[1:]))
        per_block: dict[int, list[int]] = {}
        for t, b in zip(toks, got):
            per_block.setdefault(b, []).append(t)
        for vals in per_block.values():
            assert sum(vals) <= capacity or len(vals) == 1


@settings(max_examples=40, deadline=None)
@given(
    n_a=st.integers(min_value=0, max_value=5000),
    n_b=st.integers(min_value=0, max_value=5000),
    k_small=st.sampled_from([16, 64, 256]),
    k_big=st.sampled_from([256, 1024, 4096]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_theta_setop_invariants_any_k_mix(n_a, n_b, k_small, k_big, seed):
    """For ANY k mix and input sizes: set-op results keep n <= impl.k,
    retained values strictly below theta, serde roundtrip, and exactness
    whenever nothing overflowed."""
    from fastbloom_spark.sketch import ThetaSketch

    rng = np.random.default_rng(seed)
    big = ThetaSketch(k=k_big, seed=7)
    small = ThetaSketch(k=k_small, seed=7)
    items_a = np.unique(rng.integers(0, 1 << 62, n_a, dtype=np.int64))
    items_b = np.unique(rng.integers(0, 1 << 62, n_b, dtype=np.int64))
    a = big.update(big.empty(), items_a)
    b = small.update(small.empty(), items_b)
    for st_out in (small.intersect(a, b), small.a_not_b(a, b),
                   small.union(small.intersect(a, b),
                               small.a_not_b(a, b))):
        assert st_out[1].size <= small.k
        assert np.all(st_out[1] < np.uint64(st_out[0]))
        impl2, rt = ThetaSketch.from_buffer(small.serialize(st_out))
        assert impl2.k == small.k
        assert small.serialize(rt) == small.serialize(st_out)
    # exactness holds iff the RESULT is uncut (is_exact of the output):
    # a mixed-k cut of an exact input is a deliberate downgrade to the
    # k_small estimator (found by this very property test)
    A = set(items_a.tolist())
    B = set(items_b.tolist())
    for st_out, truth in ((small.intersect(a, b), len(A & B)),
                          (small.a_not_b(a, b), len(A - B))):
        if small.is_exact(a) and small.is_exact(b) \
                and small.is_exact(st_out):
            assert small.estimate(st_out) == truth
        if truth == 0 and small.is_exact(a) and small.is_exact(b):
            assert small.estimate(st_out) == 0.0
