"""Pure-SQL queries over persisted sketch tables."""

from __future__ import annotations

import functools

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastbloom_spark import BloomConfig
from fastbloom_spark.operators import bloom_agg
from fastbloom_spark.operators.bloom import BloomSketch
from fastbloom_spark.operators.sketch_agg import sketch_agg
from fastbloom_spark.sketch import (CountMinSketch, HllSketch, KllSketch,
                                    TDigestSketch, ThetaSketch)
from fastbloom_spark.sql import register_sketch_sql


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    names = register_sketch_sql(spark)
    assert names == ["bloom_intersect", "bloom_probe", "bloom_probe_bc",
                     "bloom_union",
                     "bloom_union_agg", "cms_estimate", "cms_union_agg",
                     "hll_estimate", "hll_intersect_estimate",
                     "hll_union_agg", "kll_merge_agg", "kll_quantile",
                     "kll_rank",
                     "tdigest_merge_agg", "tdigest_quantile",
                     "tdigest_rank", "theta_a_not_b", "theta_estimate",
                     "theta_intersect", "theta_union", "theta_union_agg"]


def test_sql_hll_estimate(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    impl = HllSketch(precision=12, seed=42)
    sketch_agg(events, ["event_type"], F.col("user_id").cast("string"),
               impl).createOrReplaceTempView("hll_by_type")
    got = {r.event_type: r.est for r in spark.sql(
        "SELECT event_type, hll_estimate(sketch) AS est FROM hll_by_type"
    ).collect()}
    exact = {r.event_type: r.n for r in events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n")).collect()}
    for t, e in exact.items():
        assert abs(got[t] - e) / e < 5 * impl.relative_error(), t


def test_sql_bloom_probe(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cfg = BloomConfig.with_num_bits(1 << 15, num_hashes=5, seed=42)
    bloom_agg(docs, ["lang"], "text", cfg) \
        .createOrReplaceTempView("bloom_by_lang")
    from fastbloom_spark.functions import digest64

    docs.select("doc_id", "lang", digest64("text").alias("d")) \
        .createOrReplaceTempView("doc_digests")
    # every doc probes true in ITS OWN lang's filter (zero FN via pure SQL)
    n = spark.sql("""
        SELECT count(*) AS c
        FROM doc_digests d JOIN bloom_by_lang b ON d.lang = b.lang
        WHERE bloom_probe(b.sketch, b.k, b.seed, b.layout, d.d)
    """).collect()[0].c
    assert n == docs.count()


def test_sql_quantiles(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    vals = np.sort(np.array(
        [r.c_acctbal for r in cust.select("c_acctbal").collect()]))
    for impl, fn in [(TDigestSketch(delta=200), "tdigest_quantile"),
                     (KllSketch(k=200, seed=42), "kll_quantile")]:
        sketch_agg(cust, [], "c_acctbal", impl) \
            .createOrReplaceTempView("qsketch")
        got = spark.sql(
            f"SELECT {fn}(sketch, 0.5) AS med FROM qsketch").collect()[0].med
        rank = np.searchsorted(vals, got) / len(vals)
        assert abs(rank - 0.5) < 0.03, (fn, rank)


def test_sql_cms_estimate(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    impl = CountMinSketch(depth=5, log2_width=14, seed=42)
    sketch_agg(events, [], "event_type", impl) \
        .createOrReplaceTempView("cms_events")
    from fastbloom_spark.functions import digest64

    events.select("event_type").distinct() \
        .select("event_type", digest64("event_type").alias("d")) \
        .createOrReplaceTempView("type_digests")
    got = {r.event_type: r.est for r in spark.sql("""
        SELECT t.event_type, cms_estimate(c.sketch, t.d) AS est
        FROM type_digests t CROSS JOIN cms_events c
    """).collect()}
    exact = {r.event_type: r.n for r in events.groupBy("event_type").agg(
        F.count("*").alias("n")).collect()}
    total = sum(exact.values())
    for t, e in exact.items():
        assert got[t] >= e
        assert got[t] - e <= max(impl.error_bound(total), 1)


def test_sql_union_intersect(spark, sf_dir):
    """bloom_union / bloom_intersect as SQL expressions over sketch rows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cfg = BloomConfig.with_num_bits(1 << 14, num_hashes=5, seed=42)
    bloom_agg(docs, ["lang"], "text", cfg).createOrReplaceTempView("bl")
    # union of all per-lang sketches == global sketch, probed via SQL
    from fastbloom_spark.functions import digest64
    from fastbloom_spark.operators import bloom_build
    import numpy as np
    from fastbloom_spark.kernel import decode_words

    row = spark.sql("""
        SELECT bloom_union(a.sketch, b.sketch) AS u,
               bloom_intersect(a.sketch, b.sketch) AS i,
               a.sketch AS sa, b.sketch AS sb
        FROM bl a CROSS JOIN bl b
        WHERE a.lang = 'en' AND b.lang = 'de'
    """).collect()[0]
    wa, wb = decode_words(bytes(row.sa)), decode_words(bytes(row.sb))
    assert np.array_equal(decode_words(bytes(row.u)), wa | wb)
    assert np.array_equal(decode_words(bytes(row.i)), wa & wb)


def test_sql_bloom_probe_vectorized_parity_and_speed(spark, sf_dir):
    """SQL probe surface at >=100k rows, two forms:

    * broadcast form (``publish_bloom_sql`` + ``bloom_probe_bc``) — state
      crosses the wire ONCE per executor; must match ``bloom_contains_col``
      and land within ~2x of its wall time (they share the same kernel
      path).
    * sketch-column form (``bloom_probe``) — state rides as a column
      (needed when each row group has its OWN sketch); batch-vectorized by
      distinct buffer, must match row-for-row. Its wall time is dominated
      by shipping the duplicated buffer through the join, so the bound is
      transport-honest, not kernel-bound.
    """
    import time

    from fastbloom_spark.functions import digest64
    from fastbloom_spark.kernel import encode_words
    from fastbloom_spark.operators import bloom_build, bloom_contains_col
    from fastbloom_spark.sql import publish_bloom_sql, unpublish_bloom_sql

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bloom = bloom_build(orders.limit(5000),
                        F.col("o_orderkey").cast("string"),
                        BloomConfig.with_num_bits(1 << 16, num_hashes=5,
                                                  seed=42))
    n_probe = 150_000
    probes = spark.range(n_probe).select(
        digest64(F.concat(F.lit("key:"), F.col("id"))).alias("d"))
    probes.cache().count()
    probes.createOrReplaceTempView("probe_digests")

    def best_of(fn, n=3):
        times, vals = [], []
        for _ in range(n):
            t0 = time.time()
            vals.append(fn())
            times.append(time.time() - t0)
        assert len(set(vals)) == 1
        return min(times), vals[0]

    t_api, api_hits = best_of(lambda: probes.filter(
        bloom_contains_col(spark, bloom, "d")).count())

    fn_name = publish_bloom_sql(spark, "speedtest", bloom)
    try:
        t_bcast, bcast_hits = best_of(lambda: spark.sql(f"""
            SELECT count(*) AS c FROM probe_digests
            WHERE {fn_name}('speedtest', d)
        """).collect()[0].c)
    finally:
        unpublish_bloom_sql(spark, "speedtest")

    seed_signed = (bloom.seed - (1 << 64) if bloom.seed >= (1 << 63)
                   else bloom.seed)
    spark.createDataFrame(
        [(encode_words(bloom.words), bloom.num_hashes, seed_signed,
          bloom.config.layout)],
        "sketch binary, k int, seed long, layout string"
    ).createOrReplaceTempView("one_bloom")
    t_col, col_hits = best_of(lambda: spark.sql("""
        SELECT count(*) AS c FROM probe_digests p CROSS JOIN one_bloom b
        WHERE bloom_probe(b.sketch, b.k, b.seed, b.layout, p.d)
    """).collect()[0].c)

    assert bcast_hits == api_hits == col_hits
    # broadcast SQL form == same kernel, state shipped once: ~2x of the API
    # (absolute floor absorbs this host's 2-3x contention windows — the
    # bound still rules out the old ~100x per-row loop by a wide margin)
    assert t_bcast <= max(3.0 * t_api, 3.0), (t_bcast, t_api)
    # column form: vectorized grouping keeps it within transport cost
    # (~10x of API here because the 8 KiB buffer is duplicated per row by
    # the join; the old per-row Python loop was ~100x)
    assert t_col <= max(15.0 * t_api, 15.0), (t_col, t_api)
    probes.unpersist()


def test_sql_bloom_probe_mixed_buffers(spark, sf_dir):
    """Batches containing MANY distinct sketch buffers (per-lang join) still
    probe correctly through the group-by-buffer path, including zero-FN."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cfg = BloomConfig.with_num_bits(1 << 14, num_hashes=5, seed=7)
    from fastbloom_spark.functions import digest64

    bloom_agg(docs, ["lang"], "text", cfg) \
        .createOrReplaceTempView("mix_blooms")
    docs.select("lang", digest64("text").alias("d")) \
        .repartition(1).createOrReplaceTempView("mix_digests")
    # one partition => every lang's sketch appears in the same Arrow batch
    n = spark.sql("""
        SELECT count(*) AS c
        FROM mix_digests d JOIN mix_blooms b USING (lang)
        WHERE bloom_probe(b.sketch, b.k, b.seed, b.layout, d.d)
    """).collect()[0].c
    assert n == docs.count()


def test_sql_bloom_probe_block64(spark, sf_dir):
    """SQL probe honors the layout column for block64 sketch tables."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cfg = BloomConfig(num_bits=1 << 15, num_hashes=6, seed=42,
                      layout="block64")
    bloom_agg(docs, ["lang"], "text", cfg) \
        .createOrReplaceTempView("blk_by_lang")
    from fastbloom_spark.functions import digest64

    docs.select("lang", digest64("text").alias("d")) \
        .createOrReplaceTempView("dd2")
    n = spark.sql("""
        SELECT count(*) AS c
        FROM dd2 d JOIN blk_by_lang b USING (lang)
        WHERE bloom_probe(b.sketch, b.k, b.seed, b.layout, d.d)
    """).collect()[0].c
    assert n == docs.count()


def test_sql_bloom_union_agg(spark, sf_dir):
    """Pure-SQL re-aggregation: bloom_union_agg over per-lang sketch rows
    equals the direct global build, bitwise."""
    import numpy as np

    from fastbloom_spark.kernel import decode_words
    from fastbloom_spark.operators import bloom_build

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cfg = BloomConfig.with_num_bits(1 << 14, num_hashes=5, seed=42)
    bloom_agg(docs, ["lang"], "text", cfg).createOrReplaceTempView("bl_agg")
    # pandas grouped-agg UDFs cannot mix with built-in aggregates in one
    # SELECT (Spark limitation) — rows_seen sums in its own query
    row = spark.sql(
        "SELECT bloom_union_agg(sketch) AS s FROM bl_agg").collect()[0]
    n = spark.sql("SELECT sum(rows_seen) AS n FROM bl_agg").collect()[0].n
    direct = bloom_build(docs, "text", cfg)
    assert np.array_equal(decode_words(bytes(row.s)), direct.words)
    assert n == direct.rows_seen


def test_sql_hll_union_agg(spark, sf_dir):
    """hll_union_agg over per-type HLL states == estimate of one global
    state (register-wise max is exact-associative)."""
    from fastbloom_spark.operators.sketch_agg import sketch_agg
    from fastbloom_spark.sketch import HllSketch

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    impl = HllSketch(precision=12, seed=42)
    sketch_agg(events, ["event_type"], F.col("user_id").cast("string"),
               impl).createOrReplaceTempView("hll_t")
    merged_est = spark.sql("""
        SELECT hll_estimate(hll_union_agg(sketch)) AS est FROM hll_t
    """).collect()[0].est
    global_rows = sketch_agg(events, [], F.col("user_id").cast("string"),
                             impl).collect()
    global_est = impl.estimate(impl.deserialize(bytes(global_rows[0].sketch)))
    assert abs(merged_est - global_est) < 1e-9


def test_sql_cms_tdigest_kll_merge_aggs(spark, sf_dir):
    """SQL merge aggregates across the remaining sketch families: merging
    per-key states from SQL equals the single global state (CMS counters
    exactly; quantile sketches within their rank tolerance)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")

    # CMS: counter-wise add is exact
    cms = CountMinSketch(depth=5, log2_width=12, seed=42)
    sketch_agg(events, ["event_type"], "event_type", cms) \
        .createOrReplaceTempView("cms_by_type")
    merged = spark.sql(
        "SELECT cms_union_agg(sketch) AS s FROM cms_by_type").collect()[0].s
    global_row = sketch_agg(events, [], "event_type", cms).collect()[0]
    assert bytes(merged) == bytes(global_row.sketch)

    # t-digest / KLL: merged-state median within rank tolerance of exact
    vals = np.sort(np.array(
        [r.c_acctbal for r in cust.select("c_acctbal").collect()]))
    for impl, agg_fn, q_fn in [
            (TDigestSketch(delta=200), "tdigest_merge_agg",
             "tdigest_quantile"),
            (KllSketch(k=200, seed=42), "kll_merge_agg", "kll_quantile")]:
        sketch_agg(cust, ["c_mktsegment"], "c_acctbal", impl) \
            .createOrReplaceTempView("q_by_seg")
        med = spark.sql(f"""
            SELECT {q_fn}(s, 0.5) AS med FROM (
              SELECT {agg_fn}(sketch) AS s FROM q_by_seg)
        """).collect()[0].med
        rank = np.searchsorted(vals, med) / len(vals)
        assert abs(rank - 0.5) < 0.05, (agg_fn, rank)


def test_sql_hll_intersect_estimate(spark):
    """Inclusion-exclusion overlap: two user sets with a planted 50%
    overlap estimate within HLL tolerance of the true intersection."""
    a = spark.range(0, 10_000).select(
        F.concat(F.lit("u"), F.col("id")).alias("v"))
    b = spark.range(5_000, 15_000).select(
        F.concat(F.lit("u"), F.col("id")).alias("v"))
    impl = HllSketch(precision=14, seed=42)
    sketch_agg(a, [], "v", impl).createOrReplaceTempView("ha")
    sketch_agg(b, [], "v", impl).createOrReplaceTempView("hb")
    est = spark.sql("""
        SELECT hll_intersect_estimate(ha.sketch, hb.sketch) AS i
        FROM ha CROSS JOIN hb
    """).collect()[0].i
    # truth 5000; three estimate terms at p=14 (~0.8% each) compound
    assert abs(est - 5000) / 5000 < 0.15, est


def test_sql_null_arguments_yield_null(spark, sf_dir):
    """NULL-in -> NULL-out across the probe-style SQL functions: outer-join
    probe rows with no matching sketch must surface as NULL, never a
    fabricated False/0/garbage value (the old np.empty bug class)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    from fastbloom_spark.functions import digest64
    from fastbloom_spark.operators import bloom_agg

    cfg = BloomConfig.with_num_bits(1 << 13, num_hashes=4, seed=42)
    bloom_agg(cust, [], "c_name", cfg).createOrReplaceTempView("one_b")
    sketch_agg(events, [], "event_type",
               CountMinSketch(depth=5, log2_width=12, seed=42)) \
        .createOrReplaceTempView("one_c")
    sketch_agg(cust, [], "c_acctbal", TDigestSketch(delta=100)) \
        .createOrReplaceTempView("one_t")
    sketch_agg(cust, [], "c_name", HllSketch(precision=12, seed=42)) \
        .createOrReplaceTempView("one_h")
    sketch_agg(cust, [], "c_acctbal", KllSketch(k=100)) \
        .createOrReplaceTempView("one_k")
    sketch_agg(cust, [], "c_name", ThetaSketch(k=64, seed=42)) \
        .createOrReplaceTempView("one_th")

    rows = spark.sql("""
        WITH probes AS (
          SELECT 1 AS ok, sketch, k, seed, layout FROM one_b
          UNION ALL SELECT 0, NULL, NULL, NULL, NULL
        )
        SELECT ok,
               bloom_probe(sketch, k, seed, layout, 12345) AS bp
        FROM probes
    """).collect()
    got = {r.ok: r.bp for r in rows}
    assert got[0] is None and got[1] is not None

    for view, expr in [
            ("one_c", "cms_estimate(sketch, 77)"),
            ("one_t", "tdigest_quantile(sketch, 0.5)"),
            ("one_t", "tdigest_quantile(sketch, CAST(NULL AS DOUBLE))"),
            ("one_h", "hll_estimate(sketch)"),
            ("one_th", "theta_estimate(sketch)"),
            ("one_k", "kll_quantile(sketch, 0.5)"),
            ("one_k", "kll_rank(sketch, 100.0)"),
            ("one_k", "kll_rank(sketch, CAST(NULL AS DOUBLE))"),
            ("one_t", "tdigest_rank(sketch, 100.0)"),
            ("one_t", "tdigest_rank(sketch, CAST(NULL AS DOUBLE))")]:
        vals = spark.sql(f"""
            WITH s AS (SELECT sketch FROM {view}
                       UNION ALL SELECT NULL)
            SELECT {expr} AS v FROM s
        """).collect()
        assert any(r.v is None for r in vals), (view, expr, vals)
        if "NULL AS DOUBLE" not in expr:
            assert any(r.v is not None for r in vals), (view, expr)

    # two-sketch functions: NULL on EITHER side -> NULL, both present -> value
    for view, fn in [("one_th", "theta_union"), ("one_th", "theta_intersect"),
                     ("one_th", "theta_a_not_b"),
                     ("one_h", "hll_intersect_estimate"),
                     ("one_b", "bloom_union"), ("one_b", "bloom_intersect")]:
        vals = spark.sql(f"""
            WITH s AS (SELECT sketch FROM {view}
                       UNION ALL SELECT NULL)
            SELECT a.sketch IS NULL OR b.sketch IS NULL AS any_null,
                   {fn}(a.sketch, b.sketch) AS v
            FROM s a CROSS JOIN s b
        """).collect()
        assert len(vals) == 4, (fn, vals)
        for r in vals:
            assert (r.v is None) == r.any_null, (fn, vals)

    # the broadcast probe: a NULL name or a NULL digest -> NULL
    from fastbloom_spark.local import BloomFilter
    from fastbloom_spark.sql import publish_bloom_sql, unpublish_bloom_sql

    filt = BloomFilter(cfg)
    filt.insert("member")
    publish_bloom_sql(spark, "null_args", filt)
    try:
        rows = spark.sql("""
            SELECT tag, bloom_probe_bc(nm, d) AS hit FROM VALUES
              ('both', 'null_args', CAST(12345 AS BIGINT)),
              ('no_name', CAST(NULL AS STRING), CAST(12345 AS BIGINT)),
              ('no_digest', 'null_args', CAST(NULL AS BIGINT))
              AS t(tag, nm, d)
        """).collect()
        got = {r.tag: r.hit for r in rows}
        assert got == {"both": False, "no_name": None, "no_digest": None}
    finally:
        unpublish_bloom_sql(spark, "null_args")


@pytest.mark.parametrize("agg, col, a, b", [
    pytest.param("hll_union_agg", "c_name", HllSketch(precision=12, seed=42),
                 HllSketch(precision=11, seed=42), id="hll"),
    pytest.param("tdigest_merge_agg", "c_acctbal", TDigestSketch(delta=100),
                 TDigestSketch(delta=200), id="tdigest"),
    pytest.param("cms_union_agg", "c_name",
                 CountMinSketch(depth=4, log2_width=10),
                 CountMinSketch(depth=4, log2_width=11), id="cms"),
    pytest.param("kll_merge_agg", "c_acctbal", KllSketch(k=100),
                 KllSketch(k=200), id="kll"),
    pytest.param("kll_merge_agg", "c_acctbal", KllSketch(k=100, seed=1),
                 KllSketch(k=100, seed=2), id="kll_seed"),
    pytest.param("theta_union_agg", "c_name", ThetaSketch(k=64, seed=42),
                 ThetaSketch(k=128, seed=42), id="theta"),
])
def test_sql_merge_agg_rejects_mixed_params(spark, sf_dir, agg, col, a, b):
    """Grouped merge aggregates refuse groups mixing differently-
    parameterized states with a clear error (never a silent wrong merge)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    sketch_agg(cust, [], col, a).unionByName(sketch_agg(cust, [], col, b)) \
        .createOrReplaceTempView("mixed_params")
    with pytest.raises(Exception, match="mixed sketch parameters"):
        spark.sql(f"SELECT {agg}(sketch) AS s FROM mixed_params").collect()


@pytest.mark.parametrize("small_first", [True, False],
                         ids=["small_first", "big_first"])
def test_sql_bloom_union_agg_rejects_mixed_sizes(spark, sf_dir,
                                                 small_first):
    """Bloom payloads carry only their words: a group mixing a 64-bit and a
    4096-bit filter fails on the word count in either row order (the
    big-first order used to OR the 1-word payload into every word)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    small, big = (bloom_agg(cust, [], "c_name",
                            BloomConfig.with_num_bits(bits, num_hashes=3,
                                                      seed=42))
                  for bits in (64, 4096))
    first, second = (small, big) if small_first else (big, small)
    first.unionByName(second).coalesce(1) \
        .createOrReplaceTempView("mixed_bloom_sizes")
    with pytest.raises(Exception, match="word length mismatch"):
        spark.sql("SELECT bloom_union_agg(sketch) AS s "
                  "FROM mixed_bloom_sizes").collect()


#: SQL name -> a seeded impl whose locally built states feed it; KLL keeps
#: seed 0 because its buffers carry no seed (from_buffer compacts with 0)
_MERGE_AGGS = {
    "bloom_union_agg": lambda: BloomSketch(
        BloomConfig.with_num_bits(1 << 12, num_hashes=4, seed=7)),
    "hll_union_agg": lambda: HllSketch(precision=10, seed=7),
    "cms_union_agg": lambda: CountMinSketch(depth=4, log2_width=10, seed=7),
    "tdigest_merge_agg": lambda: TDigestSketch(delta=50),
    "kll_merge_agg": lambda: KllSketch(k=32, seed=42),
    "theta_union_agg": lambda: ThetaSketch(k=64, seed=7),
}


def _seeded_payloads(impl, n: int) -> list[bytes]:
    out = []
    for i in range(n):
        rng = np.random.default_rng(1000 + i)
        vals = (rng.integers(-2 ** 63, 2 ** 63 - 1, 400, dtype=np.int64)
                if impl.input_kind == "digest" else rng.normal(size=400))
        out.append(impl.serialize(impl.update(impl.empty(), vals)))
    return out


@pytest.mark.parametrize("name", sorted(_MERGE_AGGS))
def test_sql_merge_aggs_equal_local_fold_bytes(spark, name):
    """Each merge aggregate's payload is byte for byte the local
    ``serialize(reduce(merge, states))`` over its non-NULL rows: without
    GROUP BY over one partition (row order is the fold order), and per
    group for the order-invariant families."""
    impl = _MERGE_AGGS[name]()
    cls = type(impl)
    bufs = _seeded_payloads(impl, 15)

    def local(group: list[bytes]) -> bytes:
        return impl.serialize(functools.reduce(
            impl.merge, (cls.from_buffer(b)[1] for b in group)))

    rows = [(i % 3, b) for i, b in enumerate(bufs)]
    rows.insert(7, (1, None))
    spark.createDataFrame(rows, "g int, sketch binary").coalesce(1) \
        .createOrReplaceTempView("merge_agg_in")
    got = spark.sql(f"SELECT {name}(sketch) AS s FROM merge_agg_in") \
        .collect()
    assert [bytes(r.s) for r in got] == [local(bufs)]
    if getattr(impl, "order_invariant", False):
        got = {r.g: bytes(r.s) for r in spark.sql(
            f"SELECT g, {name}(sketch) AS s FROM merge_agg_in GROUP BY g")
            .collect()}
        assert got == {g: local(bufs[g::3]) for g in range(3)}


def test_sql_merge_aggs_register_as_grouped_aggregates():
    """The factory registers a GROUPED_AGG pandas UDF under each of the six
    aggregate names, never a scalar UDF under an aggregate's name."""
    from types import SimpleNamespace

    from pyspark.util import PythonEvalType

    registered = {}
    fake = SimpleNamespace(udf=SimpleNamespace(
        register=lambda name, fn: registered.setdefault(name, fn)))
    register_sketch_sql(fake)
    assert {n: registered[n].evalType for n in _MERGE_AGGS} == dict.fromkeys(
        _MERGE_AGGS, PythonEvalType.SQL_GROUPED_AGG_PANDAS_UDF)


def test_sql_quantile_vectorized_parity_and_speed(spark, sf_dir):
    """150k-row SQL quantile probes run through the factorize-by-buffer
    path: values equal the Python-API quantile() bit-for-bit, and the wall
    time rules out the old per-row deserialize+rebuild loop (~100x)."""
    import time

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n_probe = 150_000
    probes = spark.range(n_probe).select(
        ((F.col("id") % 1000) / 1000.0).alias("q"))
    probes.cache().count()
    probes.createOrReplaceTempView("q_probes")

    for impl, fn in [(TDigestSketch(delta=200), "tdigest_quantile"),
                     (KllSketch(k=200, seed=42), "kll_quantile")]:
        sketch_agg(cust, [], "c_acctbal", impl) \
            .createOrReplaceTempView("one_q")
        state_row = spark.sql("SELECT sketch FROM one_q").collect()[0]
        state = impl.deserialize(bytes(state_row.sketch))

        def run():
            return spark.sql(f"""
                SELECT sum({fn}(s.sketch, p.q)) AS t
                FROM q_probes p CROSS JOIN one_q s
            """).collect()[0].t

        t0 = time.time()
        total = run()
        dt1 = time.time() - t0
        t0 = time.time()
        total2 = run()
        dt = min(dt1, time.time() - t0)
        # parity: same sum as the local vectorized API over the same qs
        # (1e-9 rel: double-add ORDER differs between Spark's partial sums
        # and np.sum pairwise reduction; the per-row values are identical)
        qs = (np.arange(n_probe) % 1000) / 1000.0
        want = float(np.sum(impl.quantile_many(state, qs)))
        assert abs(total - want) <= abs(want) * 1e-9, (fn, total, want)
        assert total == total2
        # the old per-row loop paid ~150k deserializes (>60s); vectorized
        # runs in a couple seconds even under this host's 3x noise windows
        assert dt < 12.0, (fn, dt)
    probes.unpersist()


def test_sql_probe_refuses_float64_corrupted_digests(spark, sf_dir):
    """Spark ships nullable LONG columns to pandas UDFs as float64, which
    corrupts full-range 64-bit digests BEFORE the UDF runs. Small digests
    (< 2^53, provably intact) keep working through the NULL-out path;
    full-range digests mixed with NULLs must raise loudly instead of
    probing wrong bits (silent false negatives)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    from fastbloom_spark.operators import bloom_agg

    cfg = BloomConfig.with_num_bits(1 << 13, num_hashes=4, seed=42)
    bloom_agg(cust, [], "c_name", cfg).createOrReplaceTempView("fb_b")

    # full-range digest column containing a NULL -> loud refusal
    spark.sql("""
        SELECT CAST(4611686018427400249 AS BIGINT) AS d
        UNION ALL SELECT CAST(NULL AS BIGINT)
    """).createOrReplaceTempView("bad_probes")
    with pytest.raises(Exception, match="float64|2\\^53"):
        spark.sql("""
            SELECT bloom_probe(b.sketch, b.k, b.seed, b.layout, p.d)
            FROM bad_probes p CROSS JOIN fb_b b
        """).collect()

    # small digests with NULLs: exact through float64, NULL-out works
    rows = spark.sql("""
        WITH p AS (SELECT CAST(12345 AS BIGINT) AS d
                   UNION ALL SELECT CAST(NULL AS BIGINT))
        SELECT p.d, bloom_probe(b.sketch, b.k, b.seed, b.layout, p.d) AS r
        FROM p CROSS JOIN fb_b b
    """).collect()
    by_d = {r.d: r.r for r in rows}
    assert by_d[None] is None          # NULL digest -> NULL result
    assert by_d[12345] is False        # non-member small digest probes ok


def test_sql_bloom_probe_bc_large_filter(spark):
    """Pure-SQL probe of a bench-size (57.5 Mbit / ~7 MB) FLAT filter via
    the broadcast handle: no sketch-buffer join in the plan, zero false
    negatives, identical verdicts to the Python-API probe, and wall time
    in the same band as bloom_contains_col (the buffer moves once per
    executor, never through the rows)."""
    import time

    from fastbloom_spark.functions import digest64
    from fastbloom_spark.local import BloomFilter
    from fastbloom_spark.operators import bloom_contains_col
    from fastbloom_spark.sql import publish_bloom_sql, unpublish_bloom_sql

    cfg = BloomConfig.from_false_pos(0.001, expected_items=4_000_000,
                                     seed=42)
    assert cfg.num_bits > 50_000_000  # genuinely bench-size
    filt = BloomFilter(cfg)
    n_members = 50_000
    filt.insert_all(f"key-{i}" for i in range(n_members))
    publish_bloom_sql(spark, "bench57", filt)
    try:
        probes = spark.range(2 * n_members).select(
            F.col("id"),
            digest64(F.concat(F.lit("key-"), F.col("id"))).alias("d"))
        probes.persist().count()  # pin digests: time the PROBE, not sha2
        probes.createOrReplaceTempView("probe_keys_bc")

        sql_q = ("SELECT count(*) AS c FROM probe_keys_bc "
                 "WHERE bloom_probe_bc('bench57', d)")
        # plan: a bare filter over the probe table — no join, no exchange
        # shipping a sketch buffer
        plan = spark.sql(sql_q)._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan

        def best_of(fn, n=3):
            times, val = [], None
            for _ in range(n):
                t0 = time.perf_counter()
                val = fn()
                times.append(time.perf_counter() - t0)
            return min(times), val

        t_sql, n_sql = best_of(
            lambda: spark.sql(sql_q).collect()[0].c)
        t_api, n_api = best_of(
            lambda: probes.filter(
                bloom_contains_col(spark, filt, "d")).count())
        assert n_sql == n_api
        # zero FN: every member probes true through SQL
        n_mem = spark.sql(
            "SELECT count(*) AS c FROM probe_keys_bc "
            f"WHERE id < {n_members} AND bloom_probe_bc('bench57', d)"
        ).collect()[0].c
        assert n_mem == n_members
        # FPR sanity on the non-member half (target 1e-3 at 4M items;
        # at 50k items the filter is nearly empty -> ~0 false positives)
        assert n_sql - n_members < 100
        # same band as the Python-API broadcast probe (generous slack for
        # the documented ~3x host swing; the failure mode guarded against
        # is the JOIN path's per-row 7 MB buffer, which is >10x slower)
        assert t_sql <= 1.5 * t_api + 0.75, (t_sql, t_api)
    finally:
        unpublish_bloom_sql(spark, "bench57")
        spark.catalog.dropTempView("probe_keys_bc")


def test_sql_bloom_probe_bc_semantics(spark):
    """Registry semantics: unknown names raise with the published list,
    re-publishing a name swaps the filter for later queries, NULL digests
    come back NULL (the SQL-surface convention)."""
    from fastbloom_spark.functions import digest64
    from fastbloom_spark.local import BloomFilter
    from fastbloom_spark.sql import publish_bloom_sql, unpublish_bloom_sql

    cfg = BloomConfig.with_num_bits(1 << 12, num_hashes=5, seed=7)
    a, b = BloomFilter(cfg), BloomFilter(cfg)
    a.insert("only-in-a")
    b.insert("only-in-b")
    publish_bloom_sql(spark, "swap", a)
    try:
        probe = spark.createDataFrame(
            [("only-in-a",), ("only-in-b",), (None,)], ["key"]) \
            .select("key", digest64("key").alias("d"))
        probe.createOrReplaceTempView("probe_swap")
        q = ("SELECT key, bloom_probe_bc('swap', d) AS hit "
             "FROM probe_swap")
        got = {r.key: r.hit for r in spark.sql(q).collect()}
        assert got["only-in-a"] is True
        assert got[None] is None  # NULL in -> NULL out
        publish_bloom_sql(spark, "swap", b)  # swap the published filter
        got2 = {r.key: r.hit for r in spark.sql(q).collect()}
        assert got2["only-in-b"] is True and got2["only-in-a"] is False
        with pytest.raises(Exception, match="no published filter"):
            spark.sql("SELECT bloom_probe_bc('nope', d) FROM probe_swap "
                      "WHERE d IS NOT NULL").collect()
    finally:
        unpublish_bloom_sql(spark, "swap")
        spark.catalog.dropTempView("probe_swap")


def test_sql_index_filter_published(spark, sf_dir, tmp_path):
    """publish_index_filter_sql: the table's skip index becomes a pure-SQL
    membership predicate (bloom_probe_bc) — zero FN for every indexed row,
    FPR-bounded extras, no data touched by the probe plan."""
    from fastbloom_spark.functions import digest64
    from fastbloom_spark.sources import (publish_index_filter_sql,
                                         write_indexed_table)
    from fastbloom_spark.sql import unpublish_bloom_sql

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "sqlidx")
    # size the per-bucket filters for the TABLE so the union stays sharp
    cfg = BloomConfig.from_false_pos(0.001, expected_items=600, seed=42)
    write_indexed_table(docs, path, index_col="text", cfg=cfg,
                        bucket_source="doc_id", num_buckets=8)
    fn = publish_index_filter_sql(spark, path, "docs_text")
    try:
        assert fn == "bloom_probe_bc"
        docs.select("doc_id", digest64("text").alias("d")) \
            .createOrReplaceTempView("docs_digests")
        n_member = spark.sql(
            "SELECT count(*) AS c FROM docs_digests "
            "WHERE bloom_probe_bc('docs_text', d)").collect()[0].c
        assert n_member == docs.count()  # zero FN through index -> SQL
        absent = spark.range(2000).select(
            digest64(F.concat(F.lit("absent:"), F.col("id"))).alias("d"))
        absent.createOrReplaceTempView("absent_digests")
        n_fp = spark.sql(
            "SELECT count(*) AS c FROM absent_digests "
            "WHERE bloom_probe_bc('docs_text', d)").collect()[0].c
        assert n_fp <= 30  # fp=1e-3 target, generous slack
    finally:
        unpublish_bloom_sql(spark, "docs_text")
        spark.catalog.dropTempView("docs_digests")
        spark.catalog.dropTempView("absent_digests")


def test_sql_pruned_view_reads_only_surviving_buckets(spark, sf_dir,
                                                      tmp_path, monkeypatch):
    """register_pruned_view (VERDICT r04 #5): index-driven FILE skipping
    from pure SQL — SQL over the view returns every matching row (zero
    FN). Under the driver-read budget the survivors are read at
    registration (``stats.read == "driver"``); with the budget at 0 the
    view's plan resolves the survivors as a PARTITION predicate (skipped
    bucket dirs never opened) and the files actually read are exactly the
    surviving bucket directories."""
    from fastbloom_spark.plans import planner
    from fastbloom_spark.sources import (IndexHandle, register_pruned_view,
                                         write_indexed_table)
    from fastbloom_spark.sources.index import BUCKET_COL
    from tests.test_plan_shapes import formatted

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "sqlprune")
    cfg = BloomConfig.from_false_pos(0.01, expected_items=80, seed=42)
    write_indexed_table(docs, path, index_col="text", cfg=cfg,
                        bucket_source="doc_id", num_buckets=8)
    probe = [docs.filter("doc_id = 7").first().text]
    want = sorted(r.doc_id for r in
                  docs.filter(F.col("text") == probe[0]).collect())
    try:
        stats = register_pruned_view(spark, path, probe, "docs_probe_hit")
        assert stats.read == "driver"
        assert stats.units_total == 8 and stats.units_survived < 8
        # zero FN: the pure-SQL result equals the full-scan answer
        out = spark.sql("SELECT doc_id FROM docs_probe_hit")
        assert sorted(r.doc_id for r in out.collect()) == want
        # rowgroup granularity registers through the same helper (reuse
        # the loaded handle) when the rgbloom sidecar exists
        h = IndexHandle(spark, path)
        try:
            rg_stats = register_pruned_view(
                spark, path, probe, "docs_probe_rg", granularity="rowgroup",
                handle=h)
            assert rg_stats.units_survived <= rg_stats.units_total
            got_rg = sorted(r.doc_id for r in spark.sql(
                "SELECT doc_id FROM docs_probe_rg").collect())
            assert got_rg == want
            spark.catalog.dropTempView("docs_probe_rg")
        except ValueError as e:
            assert "rgbloom" in str(e) or "row" in str(e).lower()
        with pytest.raises(ValueError, match="granularity"):
            register_pruned_view(spark, path, probe, "bad",
                                 granularity="page")
        # the distributed read (budget 0): plan-asserted file skipping
        monkeypatch.setattr(planner, "DRIVER_READ_BUDGET", 0)
        scan_stats = register_pruned_view(spark, path, probe,
                                          "docs_probe_scan", handle=h)
        assert scan_stats.read == "spark"
        out = spark.sql("SELECT doc_id FROM docs_probe_scan")
        assert sorted(r.doc_id for r in out.collect()) == want
        plan = formatted(out)
        scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert scan and BUCKET_COL in scan[0], plan
        files = {r.f for r in spark.sql(
            "SELECT input_file_name() AS f FROM docs_probe_scan")
            .distinct().collect()}
        dirs = {f.rsplit("/", 2)[-2] for f in files}
        assert dirs <= {f"{BUCKET_COL}={s}" for s in scan_stats.survivors}
    finally:
        spark.catalog.dropTempView("docs_probe_hit")
        spark.catalog.dropTempView("docs_probe_scan")


def test_sql_rank_functions(spark, sf_dir):
    """kll_rank / tdigest_rank are the inverses of the quantile probes
    from pure SQL: ranks of exact quantile values land near their
    quantile, and NULL in -> NULL out."""
    import numpy as np

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    vals = np.sort(np.array(
        [r.c_acctbal for r in cust.select("c_acctbal").collect()]))
    for impl, fn in [(KllSketch(k=200, seed=42), "kll_rank"),
                     (TDigestSketch(delta=200), "tdigest_rank")]:
        sketch_agg(cust, [], "c_acctbal", impl) \
            .createOrReplaceTempView("rank_sketch")
        eps = (3 * impl.relative_error() if hasattr(impl, "relative_error")
               else 0.02)
        for q in (0.25, 0.5, 0.9):
            exact_q = float(np.quantile(vals, q))
            got = spark.sql(
                f"SELECT {fn}(sketch, {exact_q}) AS r "
                "FROM rank_sketch").collect()[0].r
            assert abs(got - q) < eps + 2 / len(vals), (fn, q, got)
        row = spark.sql(
            f"SELECT {fn}(sketch, CAST(NULL AS DOUBLE)) AS r "
            "FROM rank_sketch").collect()[0]
        assert row.r is None


def test_sql_null_rows_in_merge_and_union(spark, sf_dir):
    """NULL sketch rows (outer-join misses) are SKIPPED by the merge
    aggregates (like sum()) and yield NULL from the row-wise
    union/intersect — the documented NULL convention, previously a
    TypeError."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cfg = BloomConfig.with_num_bits(1 << 13, num_hashes=5, seed=42)
    bloom_agg(docs, ["lang"], "text", cfg).createOrReplaceTempView("bl_n")
    spark.sql("""
        SELECT l.lang, b.sketch FROM
          (SELECT 'en' AS lang UNION ALL SELECT 'xx') l
          LEFT JOIN bl_n b ON l.lang = b.lang
    """).createOrReplaceTempView("bl_outer")
    # aggregate over a group containing a NULL sketch row
    row = spark.sql(
        "SELECT bloom_union_agg(sketch) AS u FROM bl_outer").collect()[0]
    from fastbloom_spark.kernel import decode_words
    en = spark.sql("SELECT sketch FROM bl_n WHERE lang='en'").collect()[0]
    import numpy as np
    assert np.array_equal(decode_words(bytes(row.u)),
                          decode_words(bytes(en.sketch)))
    # row-wise union/intersect with a NULL side -> NULL
    out = spark.sql("""
        SELECT bloom_union(a.sketch, b.sketch) AS u,
               bloom_intersect(a.sketch, b.sketch) AS i
        FROM (SELECT sketch FROM bl_n WHERE lang='en') a
        CROSS JOIN (SELECT CAST(NULL AS BINARY) AS sketch) b
    """).collect()[0]
    assert out.u is None and out.i is None


def test_sql_hll_seed_mismatch_refused(spark, sf_dir):
    """HLL buffers now carry their seed: merging differently-seeded
    sketches (each item counted once PER SEED -> silent inflation) raises
    instead of 'succeeding'."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = sketch_agg(events, [], F.col("user_id").cast("string"),
                   HllSketch(precision=12, seed=1))
    b = sketch_agg(events, [], F.col("user_id").cast("string"),
                   HllSketch(precision=12, seed=2))
    a.unionByName(b).createOrReplaceTempView("hll_mixed_seeds")
    with pytest.raises(Exception, match="precision, seed"):
        spark.sql("SELECT hll_union_agg(sketch) FROM hll_mixed_seeds") \
            .collect()


# -- corpus-pipeline SQL surface (sql_pipeline.py) ----------------------------


def test_sql_split_function_matches_python_api(spark, sf_dir):
    """register_split_sql: a pure-SQL scalar function (zero Python)
    assigning the IDENTICAL split as split_assign — same hash, same
    thresholds, same NULL law — for single- and multi-column keys."""
    from fastbloom_spark.operators.sample import split_assign
    from fastbloom_spark.sql_pipeline import register_split_sql

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("docs_for_split")
    splits = [("train", 0.9), ("val", 0.05), ("test", 0.05)]

    register_split_sql(spark, splits, name="corpus_split", seed=7)
    got = {r.doc_id: r.split for r in spark.sql(
        "SELECT doc_id, corpus_split(doc_id) AS split FROM docs_for_split"
    ).collect()}
    want = {r.doc_id: r.split for r in
            split_assign(docs, ["doc_id"], splits, seed=7)
            .select("doc_id", "split").collect()}
    assert got == want
    assert spark.sql(
        "SELECT corpus_split(CAST(NULL AS STRING)) AS s").collect()[0].s \
        is None

    register_split_sql(spark, splits, name="corpus_split2",
                       num_key_cols=2, seed=7)
    got2 = {r.doc_id: r.split for r in spark.sql(
        "SELECT doc_id, corpus_split2(lang, doc_id) AS split "
        "FROM docs_for_split").collect()}
    want2 = {r.doc_id: r.split for r in
             split_assign(docs, ["lang", "doc_id"], splits, seed=7)
             .select("doc_id", "split").collect()}
    assert got2 == want2


def test_sql_decontam_view_matches_python(spark, sf_dir):
    """register_decontam_view == contamination_report row-for-row, and the
    LEFT ANTI join over it is the full decontaminate() in pure SQL."""
    from fastbloom_spark.operators.decontam import (contamination_report,
                                                    decontaminate)
    from fastbloom_spark.sql_pipeline import register_decontam_view

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    register_decontam_view(spark, docs, bench, "contam_v", ngram_n=5,
                           fp=1e-2)
    got = {r.doc_id: r.n_matched_grams for r in
           spark.sql("SELECT * FROM contam_v").collect()}
    want = {r.doc_id: r.n_matched_grams for r in
            contamination_report(docs, bench, ngram_n=5, fp=1e-2).collect()}
    assert got == want

    docs.createOrReplaceTempView("docs_for_decontam")
    n_clean_sql = spark.sql("""
        SELECT count(*) AS c FROM docs_for_decontam d
        LEFT ANTI JOIN contam_v f ON d.doc_id = f.doc_id
    """).collect()[0].c
    assert n_clean_sql == decontaminate(docs, bench, ngram_n=5,
                                        fp=1e-2).count()


def test_sql_split_plus_decontam_one_statement(spark, sf_dir):
    """The SQL-only user's pipeline: ONE statement assigning splits and
    contamination flags, equal to the Python-API chain."""
    from fastbloom_spark.operators.decontam import contamination_report
    from fastbloom_spark.operators.sample import split_assign
    from fastbloom_spark.sql_pipeline import (register_decontam_view,
                                              register_split_sql)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    docs.createOrReplaceTempView("docs_pipe")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    register_split_sql(spark, splits, name="pipe_split", seed=11)
    register_decontam_view(spark, docs, bench, "pipe_contam", ngram_n=5,
                           fp=1e-2)
    got = {(r.doc_id, r.split, r.contaminated) for r in spark.sql("""
        SELECT d.doc_id, pipe_split(d.doc_id) AS split,
               f.doc_id IS NOT NULL AS contaminated
        FROM docs_pipe d LEFT JOIN pipe_contam f ON d.doc_id = f.doc_id
    """).collect()}
    flagged = {r.doc_id for r in
               contamination_report(docs, bench, ngram_n=5,
                                    fp=1e-2).collect()}
    want = {(r.doc_id, r.split, r.doc_id in flagged) for r in
            split_assign(docs, ["doc_id"], splits, seed=11).collect()}
    assert got == want


def test_sql_sample_and_packed_views(spark, sf_dir):
    from fastbloom_spark.operators.pack import pack_documents
    from fastbloom_spark.operators.sample import sample_distinct
    from fastbloom_spark.sql_pipeline import (register_packed_view,
                                              register_sample_view)

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    register_sample_view(spark, events, "sample_v", ["user_id"], 10,
                         seed=5)
    got = {r.user_id for r in spark.sql(
        "SELECT user_id FROM sample_v").collect()}
    want = {r.user_id for r in
            sample_distinct(events, ["user_id"], 10, seed=5).collect()}
    assert got == want and len(got) == 10

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    register_packed_view(spark, docs, "packed_v", capacity=64,
                         num_shards=4, seed=7)
    got_p = {(r.doc_id, r.shard, r.block_id) for r in spark.sql(
        "SELECT doc_id, shard, block_id FROM packed_v").collect()}
    want_p = {(r.doc_id, r.shard, r.block_id) for r in
              pack_documents(docs, capacity=64, num_shards=4,
                             seed=7).collect()}
    assert got_p == want_p
