"""Checkpoint round-trip + resume parity (reference serde/from_vec analogue,
fastbloom src/lib.rs:444-460, 698-734)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastbloom_spark import BloomConfig
from fastbloom_spark.functions import digest64
from fastbloom_spark.kernel import decode_words
from fastbloom_spark.operators import bloom_build, bloom_partials
from fastbloom_spark.sources import (
    read_checkpoint,
    resume_bloom_build,
    write_checkpoint,
)

CFG = BloomConfig.with_num_bits(1 << 13, num_hashes=4, seed=99)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(6)


def test_checkpoint_roundtrip(spark, docs, tmp_path):
    """write → read preserves every partial bitwise (words array<long>)."""
    prepared = docs.select(digest64("text").alias("__digest64"))
    partials = bloom_partials(prepared, "__digest64", CFG)
    path = str(tmp_path / "ckpt")
    write_checkpoint(partials, path)
    back = read_checkpoint(spark, path)
    orig = {r.partition_id: (r.rows_seen, r.sketch)
            for r in partials.collect()}
    got = {r.partition_id: (r.rows_seen, r.sketch) for r in back.collect()}
    assert orig.keys() == got.keys()
    for pid in orig:
        assert orig[pid][0] == got[pid][0]
        assert np.array_equal(decode_words(bytes(orig[pid][1])),
                              decode_words(bytes(got[pid][1])))
    # lineage columns present
    row = spark.read.parquet(path).first()
    assert row.sketch_kind == "bloom" and row.group_key == "__global__"
    assert row.m == CFG.num_bits and row.k == CFG.num_hashes


def test_resume_full_checkpoint_is_pure_merge(spark, docs, tmp_path):
    """Resuming with a complete checkpoint rebuilds nothing and matches the
    direct build bitwise."""
    prepared = docs.select(digest64("text").alias("__digest64"))
    partials = bloom_partials(prepared, "__digest64", CFG)
    path = str(tmp_path / "full")
    write_checkpoint(partials, path)

    direct = bloom_build(docs, "text", CFG)
    resumed, metrics = resume_bloom_build(spark, path, docs, "text", CFG)
    assert metrics["partitions_rebuilt"] == 0
    assert metrics["partitions_resumed"] == 6
    assert np.array_equal(resumed.words, direct.words)
    assert resumed.rows_seen == direct.rows_seen


def test_resume_partial_checkpoint(spark, docs, tmp_path):
    """Dropping some checkpointed partitions: resume rebuilds only those and
    still matches the direct build bitwise."""
    prepared = docs.select(digest64("text").alias("__digest64"))
    partials = bloom_partials(prepared, "__digest64", CFG)
    path = str(tmp_path / "partial")
    # simulate a crash after 3 of 6 partitions
    write_checkpoint(partials.filter(F.col("partition_id") < 3), path)

    direct = bloom_build(docs, "text", CFG)
    resumed, metrics = resume_bloom_build(spark, path, docs, "text", CFG)
    assert metrics["partitions_resumed"] == 3
    assert metrics["partitions_rebuilt"] == 3
    assert np.array_equal(resumed.words, direct.words)
    assert resumed.rows_seen == direct.rows_seen


def test_resume_rejects_mismatched_geometry(spark, docs, tmp_path):
    """A checkpoint with different (m, k) must not contaminate the build."""
    other_cfg = BloomConfig.with_num_bits(1 << 12, num_hashes=2, seed=99)
    prepared = docs.select(digest64("text").alias("__digest64"))
    path = str(tmp_path / "wrong")
    write_checkpoint(bloom_partials(prepared, "__digest64", other_cfg), path)
    direct = bloom_build(docs, "text", CFG)
    resumed, metrics = resume_bloom_build(spark, path, docs, "text", CFG)
    assert metrics["partitions_resumed"] == 0  # geometry filter excluded all
    assert np.array_equal(resumed.words, direct.words)


def test_resume_rejects_layout_mismatch(spark, docs, tmp_path):
    """A block64 checkpoint with identical (m, k) must NOT contaminate a
    flat resume (bit layouts are incompatible even at equal geometry)."""
    blk_cfg = BloomConfig(num_bits=CFG.num_bits, num_hashes=CFG.num_hashes,
                          seed=CFG.seed, layout="block64")
    prepared = docs.select(digest64("text").alias("__digest64"))
    path = str(tmp_path / "blk")
    write_checkpoint(bloom_partials(prepared, "__digest64", blk_cfg), path,
                     layout="block64")
    direct = bloom_build(docs, "text", CFG)  # flat
    resumed, metrics = resume_bloom_build(spark, path, docs, "text", CFG)
    assert metrics["partitions_resumed"] == 0  # layout filter excluded all
    assert np.array_equal(resumed.words, direct.words)


def test_resume_rejects_seed_mismatch(spark, docs, tmp_path):
    """A checkpoint with the same (m, k, layout) but a DIFFERENT seed must
    not be resumed: its partials were hashed under the old seed and would
    probe false under the new cfg (silent false negatives). Mirrors the
    local union() seed check."""
    other_seed = BloomConfig.with_num_bits(CFG.num_bits,
                                           num_hashes=CFG.num_hashes,
                                           seed=12345)
    prepared = docs.select(digest64("text").alias("__digest64"))
    path = str(tmp_path / "seed_mismatch")
    write_checkpoint(bloom_partials(prepared, "__digest64", other_seed), path)
    direct = bloom_build(docs, "text", CFG)
    resumed, metrics = resume_bloom_build(spark, path, docs, "text", CFG)
    assert metrics["partitions_resumed"] == 0  # seed filter excluded all
    assert np.array_equal(resumed.words, direct.words)
    assert resumed.rows_seen == direct.rows_seen


def test_resume_stale_partition_ids_full_rebuild(spark, docs, tmp_path):
    """Checkpoint partition ids beyond the current partition count mean the
    input layout changed: the ENTIRE checkpoint must be discarded (full
    rebuild), contributing no stale bits and no double-counted rows_seen."""
    wide = docs.repartition(12)
    prepared = wide.select(digest64("text").alias("__digest64"))
    partials = bloom_partials(prepared, "__digest64", CFG)
    path = str(tmp_path / "stale")
    # persist partials for partitions 0..11; the resume input has only 6
    write_checkpoint(partials, path)

    direct = bloom_build(docs, "text", CFG)  # 6 partitions
    resumed, metrics = resume_bloom_build(spark, path, docs, "text", CFG)
    assert metrics["partitions_resumed"] == 0
    assert metrics["partitions_rebuilt"] == 6
    assert resumed.rows_seen == direct.rows_seen  # no double count
    assert np.array_equal(resumed.words, direct.words)  # no stale bits


def test_resume_grouped_agg_bitwise(spark, docs, tmp_path):
    """Grouped resume: a checkpoint holding 3 of 6 partitions' per-lang
    partials resumes into sketch rows bitwise-identical to a cold
    bloom_agg, key for key."""
    from fastbloom_spark.operators import bloom_agg
    from fastbloom_spark.sources import resume_bloom_agg

    prepared = docs.select("lang", digest64("text").alias("__digest64"))
    partials = bloom_partials(prepared, "__digest64", CFG, ["lang"])
    path = str(tmp_path / "grp")
    write_checkpoint(partials.filter(F.col("partition_id") < 3), path,
                     group_cols=["lang"])

    direct = {r.lang: r for r in
              bloom_agg(docs, ["lang"], "text", CFG).collect()}
    resumed_df, metrics = resume_bloom_agg(
        spark, path, docs, ["lang"], "text", CFG)
    assert metrics["partitions_resumed"] == 3
    assert metrics["partitions_rebuilt"] == 3
    resumed = {r.lang: r for r in resumed_df.collect()}
    assert set(resumed) == set(direct)
    for lang, d in direct.items():
        r = resumed[lang]
        assert bytes_equal_words(r.sketch, d.sketch), lang
        assert r.rows_seen == d.rows_seen, lang


def bytes_equal_words(a, b) -> bool:
    return np.array_equal(decode_words(bytes(a)), decode_words(bytes(b)))


def test_resume_grouped_agg_null_keys_and_sentinel(spark, tmp_path):
    """The group_key packing is lossless: NULL key values and a key that
    literally equals '__global__' round-trip into the right groups."""
    from fastbloom_spark.operators import bloom_agg
    from fastbloom_spark.sources import resume_bloom_agg

    df = spark.createDataFrame(
        [(None, "a1"), (None, "a2"), ("__global__", "b1"), ("en", "c1"),
         (None, "a3"), ("en", "c2"), ("__global__", "b2"), ("de", "d1")],
        ["lang", "text"]).repartition(4)
    prepared = df.select("lang", digest64("text").alias("__digest64"))
    partials = bloom_partials(prepared, "__digest64", CFG, ["lang"])
    path = str(tmp_path / "nullgrp")
    write_checkpoint(partials.filter(F.col("partition_id") < 2), path,
                     group_cols=["lang"])

    direct = {r.lang: r for r in bloom_agg(df, ["lang"], "text",
                                           CFG).collect()}
    resumed_df, _ = resume_bloom_agg(spark, path, df, ["lang"], "text", CFG)
    resumed = {r.lang: r for r in resumed_df.collect()}
    assert set(resumed) == set(direct) == {None, "__global__", "en", "de"}
    for lang, d in direct.items():
        assert np.array_equal(decode_words(bytes(resumed[lang].sketch)),
                              decode_words(bytes(d.sketch))), lang
        assert resumed[lang].rows_seen == d.rows_seen, lang


def test_resume_grouped_block64_xxh64_combo(spark, docs, tmp_path):
    """Grouped resume composes with both variant axes at once: block64
    layout x xxh64 digest checkpoints resume bitwise."""
    from fastbloom_spark.operators import bloom_agg
    from fastbloom_spark.sources import resume_bloom_agg

    cfg = BloomConfig(num_bits=1 << 13, num_hashes=6, seed=5,
                      layout="block64", digest="xxh64")
    prepared = docs.select(
        "lang", digest64("text", "xxh64").alias("__digest64"))
    partials = bloom_partials(prepared, "__digest64", cfg, ["lang"])
    path = str(tmp_path / "combo")
    write_checkpoint(partials.filter(F.col("partition_id") < 3), path,
                     group_cols=["lang"], layout="block64")

    direct = {r.lang: r for r in
              bloom_agg(docs, ["lang"], "text", cfg).collect()}
    resumed_df, metrics = resume_bloom_agg(
        spark, path, docs, ["lang"], "text", cfg)
    assert metrics["partitions_resumed"] == 3
    resumed = {r.lang: r for r in resumed_df.collect()}
    for lang, d in direct.items():
        assert np.array_equal(decode_words(bytes(resumed[lang].sketch)),
                              decode_words(bytes(d.sketch))), lang
        assert resumed[lang].layout == "block64"
        assert resumed[lang].digest == "xxh64"


def test_resume_rejects_randomly_drawn_seed(spark, docs, tmp_path):
    """A seed=None config cannot be re-derived after a driver restart, so
    resume refuses it loudly instead of silently full-rebuilding (the same
    guard streaming_bloom_dedup has)."""
    import pytest

    drawn = BloomConfig.with_num_bits(1 << 12, num_hashes=4)  # seed=None
    assert drawn.seed_drawn
    with pytest.raises(ValueError, match="explicit seed"):
        resume_bloom_build(spark, str(tmp_path / "never"), docs, "text",
                           drawn)
    from fastbloom_spark.sources.checkpoint import resume_bloom_agg

    with pytest.raises(ValueError, match="explicit seed"):
        resume_bloom_agg(spark, str(tmp_path / "never"), docs, ["lang"],
                         "text", drawn)


def test_resume_detects_partition_split(spark, tmp_path):
    """The checkpoint records the writer's partition COUNT: resuming after
    the input splits into MORE partitions triggers a full rebuild (the old
    subset-of-range check passed silently and skipped rows -> false
    negatives), and the result stays bitwise-equal to a cold build."""
    from fastbloom_spark import BloomConfig
    from fastbloom_spark.operators import bloom_build, bloom_partials
    from fastbloom_spark.sources import resume_bloom_build, write_checkpoint

    cfg = BloomConfig.with_num_bits(1 << 14, num_hashes=5, seed=42)
    rows = [(f"v{i}",) for i in range(3000)]
    df4 = spark.createDataFrame(rows, "val string").repartition(4)
    from fastbloom_spark.functions import digest64
    prepared4 = df4.select(digest64("val").alias("__digest64"))
    ckpt = str(tmp_path / "ckpt_split")
    write_checkpoint(bloom_partials(prepared4, "__digest64", cfg), ckpt)

    # same rows re-laid-out over MORE partitions: ids 0..3 now hold
    # different row sets — the checkpoint must be discarded wholesale
    df8 = spark.createDataFrame(rows, "val string").repartition(8)
    resumed, metrics = resume_bloom_build(spark, ckpt, df8, "val", cfg)
    assert metrics["partitions_resumed"] == 0
    assert metrics["partitions_rebuilt"] == metrics["partitions_total"]
    direct = bloom_build(spark.createDataFrame(rows, "val string"),
                         "val", cfg)
    assert resumed == direct  # bitwise

    # same count resumes normally (sanity that the witness isn't too eager)
    df4b = spark.createDataFrame(rows, "val string").repartition(4)
    resumed2, metrics2 = resume_bloom_build(spark, ckpt, df4b, "val", cfg)
    assert metrics2["partitions_resumed"] == 4


@pytest.mark.parametrize("digest", ["sha256", "xxh64"])
def test_resume_drops_null_values_like_cold_build(spark, tmp_path, digest):
    """Both resumes send the input through the cold builds' funnel: NULL
    values are dropped before digesting. Without it sha256 NULL digests
    reached the kernel (ValueError) and xxh64 inserted and counted its
    constant NULL hash (rows_seen and bits diverged from a cold build)."""
    from fastbloom_spark.operators import bloom_agg
    from fastbloom_spark.sources import resume_bloom_agg

    cfg = BloomConfig.with_num_bits(1 << 13, num_hashes=4, seed=7,
                                    digest=digest)
    df = spark.range(0, 2000, 1, 4).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.when(F.col("id") % 7 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("v"), F.col("id").cast("string")))
        .alias("v"))
    # checkpoint partition 0 the way a cold build would have built it
    kept = df.filter(F.col("v").isNotNull())
    glob = bloom_partials(kept.select(digest64("v", digest).alias("d")),
                          "d", cfg)
    write_checkpoint(glob.filter(F.col("partition_id") == 0),
                     str(tmp_path / "g"))
    grouped = bloom_partials(
        kept.select("g", digest64("v", digest).alias("d")), "d", cfg, ["g"])
    write_checkpoint(grouped.filter(F.col("partition_id") == 0),
                     str(tmp_path / "k"), group_cols=["g"])

    cold = bloom_build(df, "v", cfg)
    resumed, metrics = resume_bloom_build(spark, str(tmp_path / "g"), df,
                                          "v", cfg)
    assert metrics["partitions_resumed"] == 1
    assert resumed.rows_seen == cold.rows_seen == kept.count()
    assert resumed == cold  # bitwise

    cold_rows = {r.g: r for r in bloom_agg(df, ["g"], "v", cfg).collect()}
    got, metrics = resume_bloom_agg(spark, str(tmp_path / "k"), df, ["g"],
                                    "v", cfg)
    assert metrics["partitions_resumed"] == 1
    got_rows = {r.g: r for r in got.collect()}
    assert got_rows.keys() == cold_rows.keys()
    for g, r in got_rows.items():
        assert r.rows_seen == cold_rows[g].rows_seen, g
        assert bytes_equal_words(r.sketch, cold_rows[g].sketch), g
