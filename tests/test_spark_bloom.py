"""Distributed Bloom operators: end-to-end correctness on Spark.

The keystone properties (SURVEY.md §5):
* distributed build ≡ local single-node build, bitwise ("variant parity",
  reference analogue src/lib.rs:744-773);
* merge result invariant across partition counts/orderings ("concurrency
  linearizes to set union", reference loom test src/lib.rs:775-809);
* zero false negatives through the full Spark path;
* bloom_semi_join ≡ exact semi-join.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastbloom_spark import BloomConfig, BloomFilter
from fastbloom_spark.functions import digest64
from fastbloom_spark.kernel import digest64_bytes, words_from_bytes
from fastbloom_spark.operators import (
    bloom_agg,
    bloom_build,
    bloom_contains_col,
    bloom_semi_join,
    sketch_row_to_filter,
)
from fastbloom_spark.sql import publish_bloom_sql, unpublish_bloom_sql

CFG = BloomConfig.with_num_bits(1 << 14, num_hashes=5, seed=42)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def local_build_from_texts(texts, cfg) -> BloomFilter:
    f = BloomFilter(cfg)
    digests = np.array([digest64_bytes(t.encode("utf-8")) for t in texts],
                       dtype=np.int64)
    f.insert_digests(digests)
    return f


def test_distributed_equals_local_bitwise(spark, docs):
    """The whole distributed pipeline (JVM sha2 digest → mapInPandas build →
    two-phase merge) must produce the exact words of a local sequential
    build."""
    texts = [r.text for r in docs.select("text").collect()]
    expected = local_build_from_texts(texts, CFG)
    got = bloom_build(docs, "text", CFG)
    assert got.rows_seen == len(texts)
    assert np.array_equal(got.words, expected.words)


@pytest.mark.parametrize("num_partitions", [1, 3, 7, 16])
def test_merge_invariant_across_partitionings(spark, docs, num_partitions):
    """Bitwise-identical merge for every partition count / row placement."""
    texts = [r.text for r in docs.select("text").collect()]
    expected = local_build_from_texts(texts, CFG)
    got = bloom_build(docs.repartition(num_partitions), "text", CFG, fanin=3)
    assert np.array_equal(got.words, expected.words)


def test_zero_false_negatives_spark_probe(spark, docs):
    """Every inserted row probes true through the SQL-registered UDF."""
    bloom = bloom_build(docs, "text", CFG)
    with_digest = docs.select("doc_id", digest64("text").alias("d"))
    n_true = with_digest.filter(
        bloom_contains_col(spark, bloom, "d")).count()
    assert n_true == docs.count()


def test_sql_registration(spark, docs):
    bloom = bloom_build(docs, "text", CFG)
    fn = publish_bloom_sql(spark, "docs", bloom)
    try:
        docs.select("doc_id", digest64("text").alias("d")) \
            .createOrReplaceTempView("docs_digests")
        n = spark.sql(
            f"select count(*) as c from docs_digests where {fn}('docs', d)"
        ).collect()[0].c
        assert n == docs.count()
    finally:
        unpublish_bloom_sql(spark, "docs")


def test_fpr_on_non_members_via_spark(spark, docs):
    """Non-member FPR through the Spark probe stays within 2x of the bound."""
    n = docs.count()
    bloom = bloom_build(docs, "text", fp=0.02, seed=7)
    probes = spark.range(50_000).select(
        digest64(F.concat(F.lit("non-member-"), F.col("id"))).alias("d"))
    fp = probes.filter(bloom_contains_col(spark, bloom, "d")).count() / 50_000
    bound = bloom.expected_false_pos(n)
    assert fp <= max(2 * bound, 2 * 0.02)


def test_grouped_bloom_agg_rollup(spark, docs):
    """Per-lang sketches are correct and roll up to the global sketch by
    further union (re-aggregability, reference union src/lib.rs:286-317)."""
    per_lang = bloom_agg(docs, ["lang"], "text", CFG).collect()
    langs = {r.lang for r in per_lang}
    assert langs == {r.lang for r in docs.select("lang").distinct().collect()}

    texts_by_lang = {}
    for r in docs.select("lang", "text").collect():
        texts_by_lang.setdefault(r.lang, []).append(r.text)

    rolled = None
    for row in per_lang:
        f = sketch_row_to_filter(row)
        local = local_build_from_texts(texts_by_lang[row.lang], CFG)
        assert np.array_equal(f.words, local.words), f"lang={row.lang}"
        rolled = f if rolled is None else rolled.union(f)

    global_f = bloom_build(docs, "text", CFG)
    assert np.array_equal(rolled.words, global_f.words)
    assert rolled.rows_seen == global_f.rows_seen


def test_bloom_semi_join_exact(spark, sf_dir):
    """bloom_semi_join == plain semi-join, row for row."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big = orders.filter(F.col("o_totalprice") > 150000)
    got = bloom_semi_join(lineitem, big, "l_orderkey", "o_orderkey")
    want = lineitem.join(big.select(F.col("o_orderkey").alias("l_orderkey")),
                         "l_orderkey", "left_semi")
    assert got.count() == want.count()
    assert got.select(F.sum("l_extendedprice").alias("s")).collect()[0].s == \
        pytest.approx(want.select(F.sum("l_extendedprice").alias("s"))
                      .collect()[0].s)


def test_bloom_prefilter_only_has_no_false_negatives(spark, sf_dir):
    """exact=False keeps every true match (may keep a few extra)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big = orders.filter(F.col("o_totalprice") > 150000)
    pre = bloom_semi_join(lineitem, big, "l_orderkey", "o_orderkey",
                          exact=False, fp=0.01)
    exact = lineitem.join(big.select(F.col("o_orderkey").alias("l_orderkey")),
                          "l_orderkey", "left_semi")
    assert pre.count() >= exact.count()
    # prefilter ⊇ exact: anti-joining exact against pre leaves nothing
    missing = exact.select("l_orderkey", "l_linenumber").exceptAll(
        pre.select("l_orderkey", "l_linenumber"))
    assert missing.count() == 0


def test_empty_input_build(spark):
    empty = spark.range(0).select(F.col("id").cast("string").alias("v"))
    f = bloom_build(empty, "v", CFG)
    assert f.rows_seen == 0 and not f.words.any()


def test_sharded_merge_bitwise_equals_driver_merge(spark, docs):
    """The range-sharded merge (cluster path for large m) produces exactly
    the same words as the driver-collect path."""
    from fastbloom_spark.operators import (bloom_merge_sharded,
                                           bloom_partials_sharded)

    prepared = docs.repartition(5).select(digest64("text").alias("d"))
    sharded = bloom_partials_sharded(prepared, "d", CFG, num_shards=9)
    got = bloom_merge_sharded(sharded, CFG)
    want = bloom_build(docs, "text", CFG)
    assert np.array_equal(got.words, want.words)
    assert got.rows_seen == want.rows_seen


def test_grouped_agg_shuffle_strategy_bitwise_equals_partial(spark, docs):
    """The high-cardinality 'shuffle' strategy and the map-side 'partial'
    strategy produce identical sketch rows, key for key."""
    a = {r.lang: (r.rows_seen, bytes(r.sketch))
         for r in bloom_agg(docs, ["lang"], "text", CFG,
                            strategy="partial").collect()}
    b = {r.lang: (r.rows_seen, bytes(r.sketch))
         for r in bloom_agg(docs, ["lang"], "text", CFG,
                            strategy="shuffle").collect()}
    from fastbloom_spark.kernel import decode_words
    assert a.keys() == b.keys()
    for lang in a:
        assert a[lang][0] == b[lang][0]
        assert np.array_equal(decode_words(a[lang][1]),
                              decode_words(b[lang][1])), lang


def test_grouped_agg_auto_picks_shuffle_for_high_cardinality(spark):
    """Auto strategy: many distinct keys with a large m -> shuffle."""
    from fastbloom_spark.sources import synth_code_table

    code = synth_code_table(spark, 20_000, num_repos=500, num_partitions=8)
    big_cfg = BloomConfig.with_num_bits(1 << 23, num_hashes=4, seed=1)
    # inflation = min(500, 8) * 8 * 1MB = 64MB < 1GB -> partial; force check
    # with a bigger m: 1<<28 bits = 32MB/partial -> 8*8*32MB = 2GB -> shuffle
    huge_cfg = BloomConfig.with_num_bits(1 << 28, num_hashes=4, seed=1)
    out = bloom_agg(code, ["repo"], "content", huge_cfg,
                    distinct_keys_hint=500)
    # row per distinct repo, rows_seen adds up
    rows = out.select(F.sum("rows_seen").alias("s"),
                      F.count("*").alias("c")).collect()[0]
    assert rows.s == 20_000
    assert rows.c == code.select("repo").distinct().count()


def test_bloom_rollup_levels_bitwise(spark, docs):
    """Rollup levels are pure unions of the finest level: every level's
    sketch is bitwise-identical to a direct build over its slice."""
    from fastbloom_spark.operators import bloom_rollup
    from fastbloom_spark.kernel import decode_words

    with_src = docs.withColumn("src_bucket",
                               (F.col("doc_id") % 2).cast("string"))
    out = bloom_rollup(with_src, ["lang", "src_bucket"], "text", CFG).collect()
    levels = {r.rollup_level for r in out}
    assert levels == {0, 1, 2}

    rows = with_src.select("lang", "src_bucket", "text").collect()
    by_pair, by_lang, everything = {}, {}, []
    for r in rows:
        by_pair.setdefault((r.lang, r.src_bucket), []).append(r.text)
        by_lang.setdefault(r.lang, []).append(r.text)
        everything.append(r.text)

    for r in out:
        w = decode_words(bytes(r.sketch))
        if r.rollup_level == 2:
            expect = local_build_from_texts(by_pair[(r.lang, r.src_bucket)], CFG)
        elif r.rollup_level == 1:
            expect = local_build_from_texts(by_lang[r.lang], CFG)
        else:
            expect = local_build_from_texts(everything, CFG)
            assert r.lang is None and r.src_bucket is None
        assert np.array_equal(w, expect.words), (r.rollup_level, r.lang)
        assert r.rows_seen == expect.rows_seen


def test_bloom_rollup_block64_layout_rides_through(spark, docs):
    """Rollup rows carry the layout column end to end: a block64 rollup row
    hydrated via sketch_row_to_filter probes with block64 indexing (zero FN
    at every level) and the schema matches bloom_agg's."""
    from fastbloom_spark.operators import bloom_agg, bloom_rollup

    blk = BloomConfig(num_bits=1 << 14, num_hashes=6, seed=42,
                      layout="block64")
    with_src = docs.withColumn("src_bucket",
                               (F.col("doc_id") % 2).cast("string"))
    out = bloom_rollup(with_src, ["lang", "src_bucket"], "text", blk)
    agg_cols = set(bloom_agg(with_src, ["lang", "src_bucket"], "text",
                             blk).columns)
    assert set(out.columns) - {"rollup_level"} == agg_cols
    rows = out.collect()
    assert all(r.layout == "block64" for r in rows)

    texts = [r.text for r in docs.select("text").collect()]
    digests = np.array([digest64_bytes(t.encode("utf-8")) for t in texts],
                       dtype=np.int64)
    for r in rows:
        if r.rollup_level != 0:
            continue
        f = sketch_row_to_filter(r)
        assert f.config.layout == "block64"
        assert f.contains_digests(digests).all()  # zero FN global level


def test_sha256_digest64_long_arith_equals_decimal_path(spark):
    """Round 7 rewrote digest64's sha256 path from conv(16 hex) ->
    decimal(20,0) -> wrap to two 8-char conv halves + shiftleft|or (pure
    long arithmetic). The two formulations must agree for EVERY hex16,
    including the sign boundary (hi >= 2^31) and all-FF wraparound —
    checked on adversarial literals plus kernel parity on real digests."""
    from decimal import Decimal

    from fastbloom_spark.functions.digest import _hex16_to_long
    from fastbloom_spark.kernel import digest64_bytes

    hexes = ["0000000000000000", "7fffffffffffffff", "8000000000000000",
             "ffffffffffffffff", "80000000" + "00000001",
             "7fffffff" + "ffffffff", "deadbeefcafebabe",
             "0123456789abcdef"]
    df = spark.createDataFrame([(h,) for h in hexes], ["h"]) \
        .select("h", _hex16_to_long(F.col("h")).alias("d"))
    for r in df.collect():
        u = int(r.h, 16)
        expect = u - (1 << 64) if u >= (1 << 63) else u
        assert r.d == expect, r.h
        # the old decimal formulation, replayed in Python
        dec = Decimal(u)
        wrapped = dec - Decimal(1 << 64) if dec >= Decimal(1 << 63) else dec
        assert r.d == int(wrapped), r.h
    # and end-to-end: JVM digest64 == pure-int kernel digest on real text
    texts = [f"row-{i}-{'x' * (i % 7)}" for i in range(64)]
    got = spark.createDataFrame([(t,) for t in texts], ["v"]) \
        .select("v", digest64("v").alias("d")).collect()
    for r in got:
        assert r.d == digest64_bytes(r.v.encode("utf-8")), r.v


def test_xxh64_digest_engine_parity(spark):
    """kernel.xxh64_bytes == F.xxhash64 bit-for-bit on the deployed engine,
    across lengths spanning every code path (empty/tail/4-byte/8-byte/
    32-byte-lane)."""
    from fastbloom_spark.kernel import xxh64_bytes

    vals = [("x" * n) for n in range(0, 70)] + \
        ["hello world", "üñïçødé テスト", "long string " * 25]
    df = spark.createDataFrame([(v,) for v in vals], ["v"]) \
        .select("v", F.xxhash64("v").alias("h"))
    for r in df.collect():
        assert xxh64_bytes(r.v.encode("utf-8")) == r.h, repr(r.v)


def test_xxh64_strategy_distributed_equals_local(spark, docs):
    """The full keystone property at digest='xxh64': distributed build is
    bitwise-identical to the local build, zero FN through the Spark path."""
    from fastbloom_spark.kernel import digest64_bytes
    from fastbloom_spark.operators import bloom_build

    cfg = BloomConfig.with_num_bits(1 << 14, num_hashes=5, seed=42,
                                    digest="xxh64")
    dist = bloom_build(docs.repartition(5), "text", cfg)

    local = BloomFilter(cfg)
    texts = [r.text for r in docs.select("text").collect()]
    digests = np.array([digest64_bytes(t.encode("utf-8"), "xxh64")
                        for t in texts], dtype=np.int64)
    local.insert_digests(digests)
    assert np.array_equal(dist.words, local.words)
    assert dist.rows_seen == local.rows_seen
    # zero FN probing via the distributed column path
    from fastbloom_spark.functions import digest64
    from fastbloom_spark.operators import bloom_contains_col

    n = docs.count()
    hits = docs.select(digest64("text", "xxh64").alias("d")) \
        .filter(bloom_contains_col(spark, dist, "d")).count()
    assert hits == n


def test_xxh64_sketch_rows_hydrate_with_digest(spark, docs):
    """bloom_agg rows carry digest; hydration restores it; probing an
    xxh64-built sketch with xxh64 digests has zero FN."""
    cfg = BloomConfig.with_num_bits(1 << 14, num_hashes=5, seed=7,
                                    digest="xxh64")
    rows = bloom_agg(docs, ["lang"], "text", cfg).collect()
    assert all(r.digest == "xxh64" for r in rows)
    from fastbloom_spark.kernel import digest64_bytes

    texts_by_lang = {}
    for r in docs.select("lang", "text").collect():
        texts_by_lang.setdefault(r.lang, []).append(r.text)
    for row in rows:
        f = sketch_row_to_filter(row)
        assert f.config.digest == "xxh64"
        ds = np.array([digest64_bytes(t.encode(), "xxh64")
                       for t in texts_by_lang[row.lang]], dtype=np.int64)
        assert f.contains_digests(ds).all()


def test_unseeded_builds_differ_and_seeded_reproduce(spark, docs):
    """Reference DefaultHasher parity (src/hasher.rs:50-75): seed=None draws
    a fresh random key per filter — two unseeded builds differ; the same
    explicit seed reproduces bitwise."""
    from fastbloom_spark.operators import bloom_build

    cfg_a = BloomConfig.with_num_bits(1 << 13, num_hashes=4)
    cfg_b = BloomConfig.with_num_bits(1 << 13, num_hashes=4)
    assert cfg_a.seed != cfg_b.seed  # 2^-64 collision odds
    a = bloom_build(docs, "text", cfg_a)
    b = bloom_build(docs, "text", cfg_b)
    assert not np.array_equal(a.words, b.words)
    # explicit seed reproduces
    c1 = bloom_build(docs, "text",
                     BloomConfig.with_num_bits(1 << 13, num_hashes=4, seed=5))
    c2 = bloom_build(docs, "text",
                     BloomConfig.with_num_bits(1 << 13, num_hashes=4, seed=5))
    assert np.array_equal(c1.words, c2.words)


def test_salted_shuffle_bitwise_equals_unsalted(spark):
    """salt>1 on the shuffle strategy: a 90%-hot-key corpus builds the SAME
    sketch rows bitwise (OR associativity), while the hot key's rows split
    across multiple tasks (no single-task straggler)."""
    from fastbloom_spark.kernel import decode_words
    from fastbloom_spark.operators import bloom_agg, bloom_partials

    n = 20_000
    skewed = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold"), F.col("id") % 37)).alias("key"),
        F.col("id").cast("string").alias("v")).repartition(8)
    cfg = BloomConfig.with_num_bits(1 << 15, num_hashes=5, seed=42)

    base = {r.key: (r.rows_seen, bytes(r.sketch))
            for r in bloom_agg(skewed, ["key"], "v", cfg,
                               strategy="shuffle").collect()}
    salted = {r.key: (r.rows_seen, bytes(r.sketch))
              for r in bloom_agg(skewed, ["key"], "v", cfg,
                                 strategy="shuffle", salt=8).collect()}
    assert base.keys() == salted.keys()
    for key in base:
        assert base[key][0] == salted[key][0], key
        assert np.array_equal(decode_words(base[key][1]),
                              decode_words(salted[key][1])), key

    # straggler bound: replicate the salted repartition and inspect the
    # per-task partials — the hot key's 18k rows must NOT land in one task;
    # every task's share is bounded by ~hot/salt (+ generous slack)
    salt = 8
    prepared = skewed.select("key", digest64("v").alias("__digest64"))
    salted_layout = prepared.repartition(
        8, F.col("key"),
        F.pmod(F.xxhash64(F.col("__digest64")), F.lit(salt)).cast("int"))
    hot_rows = [r.rows_seen for r in bloom_partials(
        salted_layout, "__digest64", cfg, ["key"]).collect()
        if r.key == "hot"]
    hot_total = n * 9 // 10
    assert len(hot_rows) > 1, "hot key still built by a single task"
    # balls-into-bins: salt buckets can collide in a partition (8 buckets
    # over 8 partitions -> up to ~3 in one), so the hard guarantee is that
    # NO task owns the majority of the hot key — vs 100% unsalted
    assert max(hot_rows) <= hot_total // 2, hot_rows
    assert sum(hot_rows) == hot_total


def test_auto_salt_picks_spread_for_skew_only(spark):
    """salt='auto' (VERDICT r04 #7): a hash-sampled top-key share drives
    the salt — >1 on a 90%-hot-key corpus (hot key split over multiple
    tasks), 1 on a balanced corpus (no pointless sub-sketch merges) — and
    the auto-salted result stays bitwise-equal to salt=1."""
    from fastbloom_spark.kernel import decode_words
    from fastbloom_spark.operators import bloom_agg
    from fastbloom_spark.operators.sketch_agg import _auto_salt

    n = 20_000
    cfg = BloomConfig.with_num_bits(1 << 15, num_hashes=5, seed=42)
    skewed = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold"), F.col("id") % 37)).alias("key"),
        F.col("id").cast("string").alias("v")).repartition(8)
    prepared = skewed.select("key", digest64("v").alias("__digest64"))
    picked = _auto_salt(prepared, ["key"], "__digest64")
    assert picked > 1, picked  # 90% share * shuffle width >> 1.5

    balanced = spark.range(n).select(
        F.concat(F.lit("k"), F.col("id") % 64).alias("key"),
        F.col("id").cast("string").alias("v")).repartition(8)
    bal_prep = balanced.select("key", digest64("v").alias("__digest64"))
    assert _auto_salt(bal_prep, ["key"], "__digest64") == 1

    base = {r.key: (r.rows_seen, bytes(r.sketch))
            for r in bloom_agg(skewed, ["key"], "v", cfg,
                               strategy="shuffle", salt=1).collect()}
    auto = {r.key: (r.rows_seen, bytes(r.sketch))
            for r in bloom_agg(skewed, ["key"], "v", cfg,
                               strategy="shuffle", salt="auto").collect()}
    assert base.keys() == auto.keys()
    for key in base:
        assert base[key][0] == auto[key][0], key
        assert np.array_equal(decode_words(base[key][1]),
                              decode_words(auto[key][1])), key
    # auto on the partial strategy is an accepted no-op
    parts = bloom_agg(skewed, ["key"], "v", cfg, strategy="partial",
                      salt="auto").collect()
    assert {r.key for r in parts} == base.keys()


def test_custom_digest_strategy_end_to_end(spark, docs):
    """register_digest: a user-supplied JVM Column digest (crc32-based)
    rides through config -> build -> probe with zero false negatives, and
    the strategy string lands in sketch rows for merge compatibility."""
    from fastbloom_spark.functions import register_digest

    strategy = register_digest(
        "crc32x", lambda c: F.crc32(c.cast("string")).cast("long"))
    assert strategy == "custom:crc32x"
    cfg = BloomConfig.with_num_bits(1 << 15, num_hashes=4, seed=7,
                                    digest=strategy)
    bloom = bloom_build(docs, "text", cfg)
    assert bloom.rows_seen == docs.count()
    probed = docs.filter(bloom_contains_col(
        spark, bloom, digest64(F.col("text"), strategy))).count()
    assert probed == docs.count()  # zero FN through the custom digest

    rows = bloom_agg(docs, ["lang"], "text", cfg).collect()
    assert all(r.digest == "custom:crc32x" for r in rows)

    # unregistered name fails loudly at plan time
    with pytest.raises(ValueError, match="not registered"):
        digest64(F.col("text"), "custom:never_registered")
    # no local per-row path for custom digests
    with pytest.raises(ValueError, match="no local implementation"):
        digest64_bytes(b"abc", "custom:crc32x")


def test_bloom_semi_join_block64_layout(spark, sf_dir):
    """layout="block64" prefilter: identical exact semi-join results, zero
    FN through the blocked probe."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sel = orders.filter(F.col("o_totalprice") > 100000)
    want = lineitem.join(
        sel.select(F.col("o_orderkey").alias("l_orderkey")),
        "l_orderkey", "left_semi").count()
    got = bloom_semi_join(lineitem, sel, "l_orderkey", "o_orderkey",
                          fp=0.01, seed=7, layout="block64").count()
    assert got == want
    # prefilter-only mode keeps every true match (zero FN contract)
    pre = bloom_semi_join(lineitem, sel, "l_orderkey", "o_orderkey",
                          fp=0.01, seed=7, layout="block64",
                          exact=False).count()
    assert pre >= want


def test_null_values_and_keys_survive_arrow_float64(spark):
    """NULL values are filtered BEFORE the Arrow transfer (one NULL used to
    turn the whole long batch float64, silently corrupting digests above
    2^53 -> false negatives), NULL probes come back NULL, and a NULL KEY
    spanning many Arrow batches aggregates into exactly ONE sketch row
    (NaN != NaN used to fragment the accumulator per batch)."""
    import pandas as pd

    from fastbloom_spark import BloomConfig
    from fastbloom_spark.operators import (bloom_agg, bloom_build,
                                           bloom_contains_col)
    from fastbloom_spark.functions import digest64

    rows = [(i, f"v{i}") for i in range(500)] + [(9999, None)]
    df = spark.createDataFrame(rows, "id long, val string")
    cfg = BloomConfig.with_num_bits(1 << 14, num_hashes=5, seed=42)
    bloom = bloom_build(df, "val", cfg)
    assert bloom.rows_seen == 500  # values folded, NULL skipped
    probes = spark.createDataFrame(
        [(f"v{i}",) for i in range(500)] + [(None,)], "val string") \
        .select("val", digest64("val").alias("d"))
    # a NULL digest in the probe batch float64-corrupts its NEIGHBORS too
    # (unrecoverable) -> the kernel refuses LOUDLY instead of probing
    # wrong bits; filtering NULLs upstream restores zero FN
    with pytest.raises(Exception, match="float64"):
        probes.select(bloom_contains_col(spark, bloom, "d")).collect()
    clean = probes.filter(F.col("d").isNotNull())
    got = {r.val: r.hit for r in clean.select(
        "val", bloom_contains_col(spark, bloom, "d").alias("hit")).collect()}
    assert all(got[f"v{i}"] for i in range(500))  # zero FN

    # NULL numeric key across MANY small batches -> one row, full count
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        keyed = spark.createDataFrame(
            [(None, f"a{i}") for i in range(300)]
            + [(7, f"b{i}") for i in range(100)],
            "grp long, val string")
        out = bloom_agg(keyed, ["grp"], "val", cfg,
                        strategy="shuffle").collect()
        by_key = {r.grp: r for r in out}
        assert set(by_key) == {None, 7}, sorted(by_key)
        assert by_key[None].rows_seen == 300
        assert by_key[7].rows_seen == 100
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
