"""Exactly-once streaming ingest into indexed tables: token replay skip,
crash rollback (heal), bootstrap idempotence, and manifest refusals.

The protocol handler (indexed_ingest_batch_fn) is driven DIRECTLY with
static frames — foreachBatch replay is just calling it twice with the same
batch id, and a crash between the data write and the index publish is
emulated by making the publish raise. The real-stream end-to-end path runs
in the driver contract (q_streaming_indexed_ingest, oracle-checked)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fastbloom_spark import BloomConfig
from fastbloom_spark.sources import index as index_mod
from fastbloom_spark.sources import (IndexHandle, committed_commit_tokens,
                                     heal_indexed_table, pruned_read,
                                     write_indexed_table)
from fastbloom_spark.streaming import indexed_ingest_batch_fn

CFG = BloomConfig.from_false_pos(0.01, expected_items=500, seed=42)


@pytest.fixture()
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_id", "user_id", "event_type", "value")


def _ingest_fn(path):
    return indexed_ingest_batch_fn(path, index_col="event_type", cfg=CFG,
                                   bucket_source="event_id", num_buckets=4)


def _index_words(spark, path):
    from fastbloom_spark.kernel import decode_words

    pdf = IndexHandle(spark, path, verify_files=False).index_pdf
    return {(int(r["bucket_id"]), r["index_col"]):
            decode_words(bytes(r["sketch"])).tolist()
            for _, r in pdf.iterrows()}


def test_replay_skipped_by_token(spark, events, tmp_path):
    path = str(tmp_path / "tbl")
    b0 = events.filter(F.col("event_id") % 3 == 0)
    b1 = events.filter(F.col("event_id") % 3 == 1)
    ingest = _ingest_fn(path)
    ingest(b0, 0)   # bootstrap
    ingest(b1, 1)   # append
    want_rows = spark.read.parquet(f"{path}/data").count()
    want_words = _index_words(spark, path)
    tokens = committed_commit_tokens(spark, path)
    assert "stream-batch-" + "0" * 19 + "1" in tokens.values()

    # replay of batch 1 (same id, content irrelevant): exactly-once skip
    ingest(b1, 1)
    assert spark.read.parquet(f"{path}/data").count() == want_rows
    assert _index_words(spark, path) == want_words

    # replayed BOOTSTRAP after its commit is also a token skip, not an
    # overwrite of the appended table
    ingest(b0, 0)
    assert spark.read.parquet(f"{path}/data").count() == want_rows


def test_crash_between_data_and_publish_heals_on_replay(
        spark, events, tmp_path, monkeypatch):
    path = str(tmp_path / "tbl")
    b0 = events.filter(F.col("event_id") % 3 == 0)
    b1 = events.filter(F.col("event_id") % 3 == 1)
    ingest = _ingest_fn(path)
    ingest(b0, 0)

    real_publish = index_mod._publish_index_version

    def crash_publish(*a, **k):
        raise RuntimeError("simulated crash before index publish")

    monkeypatch.setattr(index_mod, "_publish_index_version", crash_publish)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ingest(b1, 1)
    monkeypatch.setattr(index_mod, "_publish_index_version", real_publish)

    # post-crash state: orphan data files, committed index stale — a
    # pruned read refuses loudly rather than silently missing rows
    with pytest.raises(ValueError, match="STALE"):
        pruned_read(spark, path, ["click"], on="event_type")

    # replay of batch 1 heals (rolls back the orphans), then appends once
    ingest(b1, 1)
    got = spark.read.parquet(f"{path}/data").count()
    assert got == b0.count() + b1.count()

    # final index bitwise == a one-shot build over the same rows
    full = str(tmp_path / "full")
    write_indexed_table(b0.unionByName(b1), full, index_col="event_type",
                        cfg=CFG, bucket_source="event_id", num_buckets=4)
    assert _index_words(spark, path) == _index_words(spark, full)

    # and the pruned read works again, exactly
    df, _ = pruned_read(spark, path, ["click"], on="event_type")
    want = b0.unionByName(b1).filter(F.col("event_type") == "click").count()
    assert df.count() == want


def test_heal_deletes_orphans_of_a_table_under_a_data_dir(
        spark, events, tmp_path):
    """A table root inside a directory named ``data`` (``.../data/tbl``):
    a file's manifest name starts after the URI's FIRST ``/data/``, so a
    path rebuilt from the name does not exist. Heal deletes each orphan
    by its listed URI, and the table opens fresh again."""
    from fastbloom_spark.sources.index import BUCKET_COL, bucket_col

    path = str(tmp_path / "data" / "tbl")
    b0 = events.filter(F.col("event_id") % 3 == 0)
    write_indexed_table(b0, path, index_col="event_type", cfg=CFG,
                        bucket_source="event_id", num_buckets=4)
    # a crashed append: data files written, no index publish
    events.filter(F.col("event_id") % 3 == 1) \
        .withColumn(BUCKET_COL, bucket_col("event_id", 4)) \
        .write.mode("append").partitionBy(BUCKET_COL) \
        .parquet(f"{path}/data")
    with pytest.raises(ValueError, match="STALE"):
        IndexHandle(spark, path)
    assert heal_indexed_table(spark, path, force=True)
    assert spark.read.parquet(f"{path}/data").count() == b0.count()
    df, _ = IndexHandle(spark, path).pruned_read(["click"], on="event_type")
    assert df.count() == b0.filter(F.col("event_type") == "click").count()


def test_heal_noop_when_consistent_and_refuses_missing(
        spark, events, tmp_path):
    path = str(tmp_path / "tbl")
    ingest = _ingest_fn(path)
    ingest(events.filter(F.col("event_id") % 3 == 0), 0)
    ingest(events.filter(F.col("event_id") % 3 == 1), 1)
    assert heal_indexed_table(spark, path) == []  # consistent: no-op

    # delete a RECORDED data file: that is data loss, not a crashed
    # append — heal must refuse to touch anything
    a_file = next(iter(index_mod._data_rel_files(spark, f"{path}/data")))
    index_mod._delete_dir(spark, f"{path}/data/{a_file}")
    with pytest.raises(ValueError, match="MISSING"):
        heal_indexed_table(spark, path)


def test_heal_refuses_young_claim_without_force(spark, events, tmp_path):
    """A young uncommitted claim marks a possibly in-flight append
    (appends claim BEFORE writing data): heal must not delete that
    writer's not-yet-indexed files as orphans. force=True overrides for
    callers that KNOW they are the single writer (the streaming sink
    healing its own crashed batch)."""
    from fastbloom_spark.sources import ConcurrentIndexWriteError
    from fastbloom_spark.sources.index import BUCKET_COL, bucket_col

    path = str(tmp_path / "tbl")
    ingest = _ingest_fn(path)
    ingest(events.filter(F.col("event_id") % 3 == 0), 0)

    # emulate an in-flight append: claim the next version, then write its
    # data files — exactly the state between an append's claim and its
    # index publish
    index_mod._claim_index_version(spark, path)
    b1 = events.filter(F.col("event_id") % 3 == 1)
    (b1.withColumn(BUCKET_COL, bucket_col("event_id", 4))
       .write.mode("append").partitionBy(BUCKET_COL)
       .parquet(f"{path}/data"))

    with pytest.raises(ConcurrentIndexWriteError, match="in-flight"):
        heal_indexed_table(spark, path)

    # single-writer caller overrides: the "in-flight" files roll back
    assert heal_indexed_table(spark, path, force=True) != []
    assert heal_indexed_table(spark, path, force=True) == []  # consistent


def test_listing_error_raises_and_keeps_table(spark, events, tmp_path,
                                              monkeypatch):
    """A transient listing error fails the batch instead of treating the
    table as unindexed and overwriting it with the batch."""
    path = str(tmp_path / "tbl")
    ingest = _ingest_fn(path)
    b0 = events.filter(F.col("event_id") % 3 == 0)
    ingest(b0, 0)
    real, calls = index_mod._list_versions, []

    def flaky(spark_, p):
        calls.append(p)
        if len(calls) == 1:
            raise OSError("transient listing failure")
        return real(spark_, p)

    monkeypatch.setattr(index_mod, "_list_versions", flaky)
    b1 = events.filter(F.col("event_id") % 3 == 1)
    with pytest.raises(OSError, match="transient"):
        ingest(b1, 1)
    assert spark.read.parquet(f"{path}/data").count() == b0.count()
    ingest(b1, 1)  # the retry appends
    assert spark.read.parquet(f"{path}/data").count() \
        == b0.count() + b1.count()


def test_sink_appends_to_legacy_layout_table(spark, events, tmp_path):
    """A table whose index is in the legacy in-place layout ({path}/index,
    no index_versions) has committed state: the sink appends to it, and
    the published version indexes both batches."""
    import shutil

    path = str(tmp_path / "tbl")
    b0 = events.filter(F.col("event_id") % 3 == 0)
    b1 = events.filter(F.col("event_id") % 3 == 1)
    write_indexed_table(b0, path, index_col="event_type", cfg=CFG,
                        bucket_source="event_id", num_buckets=4)
    bloom_dir, _ = index_mod._resolve_index_root(spark, path)
    shutil.move(bloom_dir, f"{path}/index")
    shutil.rmtree(f"{path}/{index_mod.VERSIONS_DIR}")
    assert index_mod._resolve_index_root(spark, path)[0] == f"{path}/index"

    _ingest_fn(path)(b1, 1)
    assert spark.read.parquet(f"{path}/data").count() \
        == b0.count() + b1.count()
    full = str(tmp_path / "full")
    write_indexed_table(b0.unionByName(b1), full, index_col="event_type",
                        cfg=CFG, bucket_source="event_id", num_buckets=4)
    assert _index_words(spark, path) == _index_words(spark, full)
