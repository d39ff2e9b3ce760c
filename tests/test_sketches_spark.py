"""Distributed sketch aggregation: HLL / CMS / t-digest / KLL on Spark,
checked against exact Spark/DataFrame oracles and error bounds."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastbloom_spark.operators.sketch_agg import (
    sketch_agg,
    sketch_build,
    sketch_partials,
    sketch_merge,
)
from fastbloom_spark.sketch import (
    CountMinSketch,
    HllSketch,
    KllSketch,
    TDigestSketch,
    ThetaSketch,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


@pytest.fixture(scope="module")
def customer(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/customer.parquet")


def test_hll_global_vs_exact(spark, events):
    impl = HllSketch(precision=12, seed=42)
    state, rows = sketch_build(
        events, F.col("user_id").cast("string"), impl)
    exact = events.select("user_id").distinct().count()
    assert rows == events.count()
    est = impl.estimate(state)
    assert abs(est - exact) / exact < 4 * impl.relative_error(), (est, exact)


def test_hll_grouped_vs_exact(spark, events):
    impl = HllSketch(precision=12, seed=42)
    got = sketch_agg(events, ["event_type"],
                     F.col("user_id").cast("string"), impl).collect()
    exact = {r.event_type: r.n for r in events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n")).collect()}
    assert {r.event_type for r in got} == set(exact)
    for r in got:
        est = impl.estimate(impl.deserialize(bytes(r.sketch)))
        e = exact[r.event_type]
        assert abs(est - e) / e < 5 * impl.relative_error(), (r.event_type,)


def test_hll_state_partition_invariant(spark, events):
    """HLL register-max merge is bitwise order-invariant (like Bloom OR)."""
    impl = HllSketch(precision=11, seed=7)
    col = F.col("user_id").cast("string")
    s1, _ = sketch_build(events.repartition(2), col, impl)
    s2, _ = sketch_build(events.repartition(13), col, impl)
    assert np.array_equal(s1, s2)


def test_cms_grouped_counts_vs_exact(spark, events):
    """CMS point queries per event_type: never under, within bound over."""
    impl = CountMinSketch(depth=5, log2_width=14, seed=42)
    state, total = sketch_build(events, "event_type", impl)
    exact = {r.event_type: r.n for r in events.groupBy("event_type").agg(
        F.count("*").alias("n")).collect()}
    types = sorted(exact)
    from fastbloom_spark.kernel import digest64_bytes
    digests = np.array([digest64_bytes(t.encode()) for t in types],
                       dtype=np.int64)
    est = impl.query(state, digests)
    for t, e in zip(types, est.tolist()):
        assert e >= exact[t]
        assert e - exact[t] <= max(impl.error_bound(total), 1)


def test_cms_state_partition_invariant(spark, events):
    impl = CountMinSketch(depth=4, log2_width=12, seed=3)
    s1, _ = sketch_build(events.repartition(3), "event_type", impl)
    s2, _ = sketch_build(events.repartition(11), "event_type", impl)
    assert np.array_equal(s1, s2)  # integer addition: exact, order-free


@pytest.mark.parametrize("impl_factory", [
    lambda: TDigestSketch(delta=200),
    lambda: KllSketch(k=200, seed=42),
], ids=["tdigest", "kll"])
def test_quantile_sketches_vs_exact(spark, customer, impl_factory):
    impl = impl_factory()
    state, rows = sketch_build(customer, "c_acctbal", impl)
    n = customer.count()
    assert rows == n
    vals = np.sort(np.array(
        [r.c_acctbal for r in customer.select("c_acctbal").collect()]))
    for q in [0.1, 0.25, 0.5, 0.75, 0.9]:
        est = impl.quantile(state, q)
        rank = np.searchsorted(vals, est) / n
        assert abs(rank - q) < 0.025, (impl.name, q, rank)


def test_quantile_sketch_grouped(spark, customer):
    impl = TDigestSketch(delta=200)
    got = sketch_agg(customer, ["c_mktsegment"], "c_acctbal", impl).collect()
    by_seg = {}
    for r in customer.select("c_mktsegment", "c_acctbal").collect():
        by_seg.setdefault(r.c_mktsegment, []).append(r.c_acctbal)
    for r in got:
        st = impl.deserialize(bytes(r.sketch))
        vals = np.sort(np.array(by_seg[r.c_mktsegment]))
        est = impl.quantile(st, 0.5)
        rank = np.searchsorted(vals, est) / len(vals)
        assert abs(rank - 0.5) < 0.05, r.c_mktsegment


def test_partials_then_merge_explicit(spark, events):
    """The two stages compose: partial rows per partition, merge reduces to
    one row with all input accounted."""
    impl = HllSketch(precision=10, seed=1)
    parts = sketch_partials(events.repartition(5),
                            F.col("user_id").cast("string"), impl)
    assert parts.count() == 5
    merged = sketch_merge(parts, impl).collect()
    assert len(merged) == 1
    assert merged[0].rows_seen == events.count()


def _pandas_merges(df) -> int:
    """Grouped Python merge stages in ``df``'s physical plan."""
    return df._jdf.queryExecution().executedPlan().toString() \
        .count("FlatMapGroupsInPandas")


def test_few_partitions_merge_in_one_phase_for_exact_impls(
        spark, events, customer):
    """With no more partial partitions than ``fanin``, phase 1 of the merge
    tree only re-encodes one row per bucket: order-invariant impls merge
    per key in one phase and give exactly the tree's rows; more partitions
    than ``fanin`` keep the tree, and rank sketches always keep it."""
    from fastbloom_spark import BloomConfig
    from fastbloom_spark.operators.bloom import BloomSketch

    col = F.col("user_id").cast("string")
    df = events.repartition(6)
    for impl in (HllSketch(precision=10, seed=7),
                 CountMinSketch(depth=4, log2_width=8, seed=7),
                 BloomSketch(BloomConfig.with_num_bits(1 << 14, num_hashes=5,
                                                       seed=7))):
        one = sketch_agg(df, ["event_type"], col, impl, strategy="partial")
        tree = sketch_merge(sketch_partials(df, col, impl, ["event_type"]),
                            impl, ["event_type"])
        assert (_pandas_merges(one), _pandas_merges(tree)) == (1, 2), \
            impl.name
        assert sorted(one.collect()) == sorted(tree.collect()), impl.name
        assert _pandas_merges(sketch_agg(df, ["event_type"], col, impl,
                                         strategy="partial", fanin=4)) == 2
    td = sketch_agg(customer.repartition(6), ["c_mktsegment"], "c_acctbal",
                    TDigestSketch(delta=200), strategy="partial")
    assert _pandas_merges(td) == 2


def test_sparse_partials_shrink_shuffle_bytes(spark):
    """VERDICT r04 #6: high-group-count map-side aggs shuffle zlib-sparse
    partial states (KBs), not 2^p dense bytes per (group, partition) — and
    the merged results are bitwise-identical to the dense single-partition
    fold, with final rows still in the canonical self-describing format."""
    from fastbloom_spark.sketch import CountMinSketch, HllSketch

    df = spark.range(20000).select(
        (F.col("id") % 500).cast("string").alias("k"),
        F.col("id").cast("string").alias("v"))
    for impl in (HllSketch(precision=12, seed=7),
                 CountMinSketch(depth=5, log2_width=12, seed=7)):
        dense_bytes = len(impl.serialize(impl.empty())) + 1  # + tag byte
        parts = sketch_partials(df.repartition(8), "v", impl, ["k"])
        sizes = [len(bytes(r.sketch)) for r in
                 parts.select("sketch").collect()]
        assert sizes and max(sizes) < dense_bytes // 3, (
            impl.name, max(sizes), dense_bytes)
        merged = {r.k: (r.rows_seen, bytes(r.sketch))
                  for r in sketch_merge(parts, impl, ["k"]).collect()}
        single = {r.k: (r.rows_seen, bytes(r.sketch))
                  for r in sketch_agg(df.coalesce(1), ["k"], "v", impl,
                                      strategy="partial").collect()}
        assert merged == single, impl.name
        # final rows stay canonical: the consumer-side from_buffer entry
        # (SQL UDFs, persisted sketch tables) reads them with no envelope
        some = next(iter(merged.values()))[1]
        impl2, state = type(impl).from_buffer(some)
        assert impl.estimate(state) >= 0 if hasattr(impl, "estimate") \
            else state is not None


def test_sketch_agg_shuffle_strategy_matches_partial(spark, events):
    """Shuffle and partial strategies produce identical HLL/CMS states."""
    for impl in (HllSketch(precision=11, seed=4),
                 CountMinSketch(depth=4, log2_width=12, seed=4)):
        a = {r.event_type: (r.rows_seen, bytes(r.sketch))
             for r in sketch_agg(events, ["event_type"],
                                 F.col("user_id").cast("string"), impl,
                                 strategy="partial").collect()}
        b = {r.event_type: (r.rows_seen, bytes(r.sketch))
             for r in sketch_agg(events, ["event_type"],
                                 F.col("user_id").cast("string"), impl,
                                 strategy="shuffle").collect()}
        assert a.keys() == b.keys()
        for key in a:
            assert a[key][0] == b[key][0]
            assert np.array_equal(impl.deserialize(a[key][1]),
                                  impl.deserialize(b[key][1])), (impl.name, key)


def test_sketch_rollup_hll(spark, events):
    """HLL rollup: per-(type, bucket) sketches union exactly to per-type and
    global registers (register max is associative)."""
    from fastbloom_spark.operators.sketch_agg import sketch_rollup

    impl = HllSketch(precision=11, seed=6)
    ev = events.withColumn("bucket", (F.col("user_id") % 3).cast("string"))
    out = sketch_rollup(ev, ["event_type", "bucket"],
                        F.col("user_id").cast("string"), impl).collect()
    levels = {}
    for r in out:
        levels.setdefault(r.rollup_level, []).append(r)
    assert set(levels) == {0, 1, 2}
    assert len(levels[0]) == 1 and levels[0][0].event_type is None

    # level-0 state == direct global build, bitwise
    global_state, _ = sketch_build(ev, F.col("user_id").cast("string"), impl)
    assert np.array_equal(
        impl.deserialize(bytes(levels[0][0].sketch)), global_state)
    # rows_seen conserved at every level
    n = ev.count()
    for lv, rows in levels.items():
        assert sum(r.rows_seen for r in rows) == n, lv
    # per-type estimates at level 1 track exact distincts
    exact = {r.event_type: r.c for r in ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("c")).collect()}
    for r in levels[1]:
        est = impl.estimate(impl.deserialize(bytes(r.sketch)))
        assert abs(est - exact[r.event_type]) / exact[r.event_type] \
            < 5 * impl.relative_error()


def test_quantile_merge_tree_estimates_stable(spark, customer):
    """t-digest/KLL are not bitwise order-invariant (randomized/clustered
    compaction) — but estimates from ANY merge tree stay within bounds."""
    import functools

    vals = np.sort(np.array(
        [r.c_acctbal for r in customer.select("c_acctbal").collect()]))
    n = len(vals)
    rng = np.random.default_rng(13)
    for impl in (TDigestSketch(delta=200), KllSketch(k=200, seed=3)):
        data = np.array(vals)
        for trial in range(3):
            shuffled = data[rng.permutation(n)]
            parts = np.array_split(shuffled, int(rng.integers(2, 9)))
            order = rng.permutation(len(parts))
            states = [impl.update(impl.empty(), parts[i]) for i in order]
            merged = functools.reduce(impl.merge, states)
            for q in (0.1, 0.5, 0.9):
                est = impl.quantile(merged, q)
                rank = np.searchsorted(vals, est) / n
                assert abs(rank - q) < 0.03, (impl.name, trial, q, rank)


def test_salted_sketch_agg_exact_families_bitwise(spark):
    """salt>1 shuffle builds for the exactly-mergeable families (HLL
    register-max, CMS counter-add) byte-equal the unsalted build on a
    skewed corpus; quantile sketches stay within their rank bound."""
    n = 20_000
    skewed = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold"), F.col("id") % 23)).alias("key"),
        F.col("id").cast("string").alias("v"),
        (F.col("id") % 1000).cast("double").alias("x")).repartition(8)

    for impl in (HllSketch(precision=12, seed=42),
                 CountMinSketch(depth=5, log2_width=12, seed=42)):
        base = {r.key: (r.rows_seen, bytes(r.sketch)) for r in sketch_agg(
            skewed, ["key"], "v", impl, strategy="shuffle").collect()}
        salted = {r.key: (r.rows_seen, bytes(r.sketch)) for r in sketch_agg(
            skewed, ["key"], "v", impl, strategy="shuffle",
            salt=8).collect()}
        assert base == salted, type(impl).__name__

    # t-digest: merge-order-dependent state, but the estimate contract holds
    td = TDigestSketch(delta=200)
    rows = sketch_agg(skewed, ["key"], "x", td, strategy="shuffle",
                      salt=8).collect()
    got = {r.key: td.quantile(td.deserialize(bytes(r.sketch)), 0.5)
           for r in rows}
    # hot key sees ids 0..n with id%10<9 -> x = (id % 1000) roughly uniform
    assert abs(got["hot"] - 500.0) < 50.0, got["hot"]


def test_global_build_above_driver_budget_takes_merge_tree(spark, events,
                                                          monkeypatch):
    """sketch_build's driver fold is planned (plans.planner
    .plan_global_merge): with DRIVER_MERGE_BUDGET below the partials' total
    HLL/CMS builds take the two-phase merge tree instead, and their state
    stays bitwise-identical to the driver fold."""
    import importlib

    from fastbloom_spark.plans import planner

    sketch_agg_mod = importlib.import_module(
        "fastbloom_spark.operators.sketch_agg")

    col = F.col("user_id").cast("string")
    for impl in (HllSketch(precision=10, seed=7),
                 CountMinSketch(depth=4, log2_width=8, seed=7)):
        folded, n_folded = sketch_build(events, col, impl)
        trees = []
        real_merge = sketch_agg_mod.sketch_merge
        monkeypatch.setattr(sketch_agg_mod, "sketch_merge",
                            lambda *a, **kw: trees.append(1) or
                            real_merge(*a, **kw))
        monkeypatch.setattr(planner, "DRIVER_MERGE_BUDGET", 1)
        tree, n_tree = sketch_build(events, col, impl)
        monkeypatch.undo()
        assert trees, "above-budget build still folded on the driver"
        assert n_tree == n_folded
        assert impl.serialize(tree) == impl.serialize(folded)


# -- one Spark job per global build ----------------------------------------

def _bloom_build(df, col, _impl):
    from fastbloom_spark import BloomConfig
    from fastbloom_spark.operators import bloom_build

    cfg = BloomConfig.from_false_pos(0.01, expected_items=4000, seed=3)
    bf = bloom_build(df, col, cfg)
    return bf.to_bytes(), bf.rows_seen


GLOBAL_BUILDS = [
    ("hll", lambda: HllSketch(precision=10, seed=7), "v"),
    ("cms", lambda: CountMinSketch(depth=4, log2_width=8, seed=7), "v"),
    ("theta", lambda: ThetaSketch(k=256, seed=7), "v"),
    ("tdigest", lambda: TDigestSketch(delta=100), "x"),
    ("kll", lambda: KllSketch(k=64, seed=7), "x"),
    ("bloom", lambda: None, "v"),
]


def _narrow_input(spark, n: int, partitions: int):
    """``n`` rows in ``partitions`` partitions and no shuffle: string
    ``v`` and double ``x``, each NULL on a few rows, checkpointed so that
    they are plain columns to the optimizer."""
    return spark.range(0, n, 1, partitions).select(
        F.when(F.col("id") % 37 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("v"), (F.col("id") * 7919 % 10007)
                            .cast("string"))).alias("v"),
        F.when(F.col("id") % 41 == 0, F.lit(None))
        .otherwise(((F.col("id") * 13) % 4001).cast("double")).alias("x")) \
        .localCheckpoint()


def _jobs_and_plans(spark, monkeypatch, group: str, fn):
    """``fn()``, the Spark jobs it ran (job group ``group``) and the
    executed plans of the frames it collected."""
    frame = type(spark.range(1))  # the classic DataFrame implementation
    plans = []
    for name in ("toPandas", "collect"):
        def recording(self, *a, _real=getattr(frame, name), **kw):
            out = _real(self, *a, **kw)
            plans.append(self._jdf.queryExecution().executedPlan()
                         .toString())
            return out
        monkeypatch.setattr(frame, name, recording)
    sc = spark.sparkContext
    sc.setJobGroup(group, "count global build jobs", False)
    try:
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        monkeypatch.undo()
    return out, jobs, plans


@pytest.mark.parametrize("name,make,col", GLOBAL_BUILDS,
                         ids=[b[0] for b in GLOBAL_BUILDS])
def test_global_build_runs_one_job(spark, monkeypatch, name, make, col):
    """Under the driver budget at P <= fanin every global build is one
    Spark job: the partials' Arrow collect, folded on the driver. No
    merge tree (FlatMapGroupsInPandas) is planned, rank sketches
    included."""
    slots = spark.sparkContext.defaultParallelism
    df = _narrow_input(spark, 4000, slots)  # not widened: P = slots
    impl = make()
    build = _bloom_build if impl is None else sketch_build
    df.rdd.getNumPartitions()  # the caller's frame, as on repeat calls
    (_, seen), jobs, plans = _jobs_and_plans(
        spark, monkeypatch, f"one_job_{name}",
        lambda: build(df, col, impl))
    assert seen == df.filter(F.col(col).isNotNull()).count()
    assert len(jobs) == 1, (name, jobs)
    assert plans and not any("FlatMapGroupsInPandas" in p for p in plans), \
        plans


@pytest.mark.parametrize("make", [lambda: TDigestSketch(delta=100),
                                  lambda: KllSketch(k=64, seed=7)],
                         ids=["tdigest", "kll"])
def test_rank_sketch_build_folds_in_partition_order(spark, make):
    """A t-digest/KLL global build equals ``reduce(merge)`` over its
    per-partition partial states in ``partition_id`` order, bitwise, and
    does not move with ``spark.sql.shuffle.partitions``."""
    import functools

    from fastbloom_spark.kernel import decode_state

    impl = make()
    df = _narrow_input(spark, 6000, 5)
    parts = sketch_partials(df, "x", impl).toPandas() \
        .sort_values("partition_id")
    assert list(parts["partition_id"]) == list(range(5))
    want = impl.serialize(functools.reduce(impl.merge, (
        impl.deserialize(decode_state(b)) for b in parts["sketch"])))
    conf = spark.conf.get("spark.sql.shuffle.partitions")
    got = []
    try:
        for n_shuffle in (3, 11):
            spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
            state, seen = sketch_build(df, "x", impl)
            assert seen == int(parts["rows_seen"].sum())
            got.append(impl.serialize(state))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", conf)
    assert got == [want, want]


@pytest.mark.parametrize("force", ["over_fanin", "over_budget"])
def test_rank_sketch_build_keeps_tree_past_one_fold(spark, monkeypatch,
                                                    force):
    """Above ``fanin`` partitions, or above the driver budget, t-digest
    and KLL builds take the two-phase merge tree, and their quantiles
    stay within their rank bounds."""
    import importlib

    from fastbloom_spark.plans import planner

    mod = importlib.import_module("fastbloom_spark.operators.sketch_agg")
    n = 8000
    df = spark.range(0, n, 1, 4).select(F.col("id").cast("double")
                                        .alias("x"))
    fanin = 2 if force == "over_fanin" else 16
    if force == "over_budget":
        monkeypatch.setattr(planner, "DRIVER_MERGE_BUDGET", 1)
    trees = []
    real_merge = mod.sketch_merge
    monkeypatch.setattr(mod, "sketch_merge", lambda *a, **kw: trees.append(
        kw["fanin"]) or real_merge(*a, **kw))
    for impl in (TDigestSketch(delta=200), KllSketch(k=200, seed=3)):
        state, seen = sketch_build(df, "x", impl, fanin=fanin)
        assert seen == n
        for q in (0.1, 0.5, 0.9):
            rank = impl.quantile(state, q) / n
            assert abs(rank - q) < 0.03, (impl.name, force, q, rank)
    assert trees == [fanin, fanin]


# -- the _prepare funnel -----------------------------------------------------

@pytest.mark.parametrize("kind,keyed,widened", [
    ("digest", False, False), ("digest", True, False),
    ("digest", False, True), ("digest", True, True),
    ("double", False, False), ("double", True, False)])
def test_prepare_filters_raw_column_below_one_digest(spark, kind, keyed,
                                                     widened):
    """In the optimized plan of :func:`_prepare` the ``isnotnull`` filter
    sits on the raw column below the value projection, ``sha2`` is
    evaluated exactly once, and a widened input repartitions between the
    two, so the digest runs on the wide side."""
    from fastbloom_spark.operators.sketch_agg import _prepare

    slots = spark.sparkContext.defaultParallelism
    partitions = 1 if widened else slots
    df = _narrow_input(spark, 1000, partitions).withColumn(
        "g", F.col("x") % 3)
    impl = (HllSketch(precision=10, seed=7) if kind == "digest"
            else TDigestSketch(delta=100))
    col = "v" if kind == "digest" else "x"
    keys = ["g"] if keyed else []
    prepared = _prepare(df, col, impl, keys, False, partitions=partitions)
    assert prepared.columns == [*keys, "__value"]
    lines = prepared._jdf.queryExecution().optimizedPlan().toString() \
        .splitlines()
    plan = "\n".join(lines)
    value = [i for i, l in enumerate(lines) if "AS __value" in l]
    guard = [i for i, l in enumerate(lines)
             if f"isnotnull({col}#" in l and "Filter" in l]
    assert len(value) == 1 and len(guard) == 1 and value[0] < guard[0], plan
    assert plan.count("sha2(") == (1 if kind == "digest" else 0), plan
    wide = [i for i, l in enumerate(lines) if "Repartition" in l]
    if widened:
        assert len(wide) == 1 and value[0] < wide[0] < guard[0], plan
        assert "sha2(" not in "\n".join(lines[wide[0]:]), plan
    else:
        assert not wide, plan
