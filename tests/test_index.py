"""Bloom data-skipping index: zero-FN pruned reads, real partition pruning
(PartitionFilters in the scan node), per-file granularity, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fastbloom_spark import BloomConfig
from fastbloom_spark.sources import (
    IndexHandle,
    index_parquet_files,
    pruned_read,
    write_indexed_table,
)
from fastbloom_spark.sources.index import (
    BUCKET_COL,
    FILE_COL,
    probe_digests,
)
from tests.test_plan_shapes import formatted

CFG = BloomConfig.from_false_pos(0.01, expected_items=80, seed=42)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def indexed_path(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bloom_index") / "docs")
    write_indexed_table(docs, path, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=8)
    return path


def index_rows(spark, path, data=None):
    """The index rows as stored: a handle's load, freshness unchecked."""
    return IndexHandle(spark, path, data=data, verify_files=False).index_pdf


def member_texts(docs, n=5):
    rows = docs.filter(F.col("doc_id") % 100 == 3).orderBy("doc_id") \
        .limit(n).collect()
    return [r.text for r in rows]


def test_pruned_read_zero_false_negatives(spark, docs, indexed_path):
    """Every row matching a probe value is returned — pruning never loses
    data (the reference contains() contract, fastbloom src/lib.rs:217-233,
    lifted to scan pruning)."""
    probes = member_texts(docs)
    got, stats = pruned_read(spark, indexed_path, probes)
    want = docs.filter(F.col("text").isin(probes))
    assert sorted(r.doc_id for r in got.collect()) \
        == sorted(r.doc_id for r in want.collect())
    assert stats.units_total == 8
    assert 1 <= stats.units_survived <= 8


def test_prune_is_partition_pruning_not_post_filter(spark, docs,
                                                    indexed_path,
                                                    monkeypatch):
    """The survivors reach the scan as a PARTITION predicate (resolved at
    file listing), and the files actually read are exactly the surviving
    bucket directories. Budget 0 keeps the read distributed (a driver
    read is a LocalTableScan with no input files)."""
    from fastbloom_spark.plans import planner

    monkeypatch.setattr(planner, "DRIVER_READ_BUDGET", 0)
    probes = member_texts(docs, n=1)
    got, stats = pruned_read(spark, indexed_path, probes, exact=False)
    plan = formatted(got)
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan and BUCKET_COL in scan[0], plan
    files = {r.f for r in
             got.select(F.input_file_name().alias("f")).distinct().collect()}
    dirs = {f.rsplit("/", 2)[-2] for f in files}
    assert dirs == {f"{BUCKET_COL}={s}" for s in stats.survivors}


def test_selective_probe_skips_buckets(spark, docs, indexed_path):
    """One member probe survives its own bucket plus FPR-bounded extras:
    with fp=0.01 and 8 buckets the expected extra is 0.07 buckets, so
    requiring <= 2 survivors leaves ~4 sigma of slack."""
    probes = member_texts(docs, n=1)
    _, stats = pruned_read(spark, indexed_path, probes)
    assert stats.units_survived <= 2
    assert stats.skipped_fraction >= 0.75


def test_absent_probe_returns_nothing(spark, indexed_path):
    got, stats = pruned_read(spark, indexed_path,
                             ["no-such-document-xyzzy"])
    assert got.count() == 0
    assert stats.units_survived <= 1  # FPR-bounded over-read, never rows


def test_prune_index_empty_probe_list(spark, indexed_path):
    stats = IndexHandle(spark, indexed_path).prune([])
    assert stats.units_survived == 0 and stats.survivors == ()


def test_index_is_deterministic(spark, docs, tmp_path):
    """Same input -> bitwise-identical index sketches (the distributed ==
    local invariant carried through the index writer)."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for p in (a, b):
        write_indexed_table(docs, p, index_col="text", cfg=CFG,
                            bucket_source="doc_id", num_buckets=8)
    rows_a = {r[BUCKET_COL]: bytes(r["sketch"])
              for _, r in index_rows(spark, a).iterrows()}
    rows_b = {r[BUCKET_COL]: bytes(r["sketch"])
              for _, r in index_rows(spark, b).iterrows()}
    assert rows_a == rows_b and len(rows_a) == 8


def test_file_granularity_roundtrip(spark, docs, tmp_path):
    data = str(tmp_path / "data")
    idx = str(tmp_path / "idx")
    docs.repartition(4).write.parquet(data)
    index_parquet_files(spark, data, idx, index_col="text", cfg=CFG)
    index_pdf = index_rows(spark, idx, data)
    assert len(index_pdf) == 4  # one sketch row per physical file

    probes = member_texts(docs)
    got, stats = IndexHandle(spark, idx, data=data).pruned_read(probes)
    want = docs.filter(F.col("text").isin(probes))
    assert sorted(r.doc_id for r in got.collect()) \
        == sorted(r.doc_id for r in want.collect())
    assert stats.granularity == "file"
    assert set(stats.survivors) <= {str(r[FILE_COL])
                                    for _, r in index_pdf.iterrows()}


def test_file_granularity_no_survivors_empty_frame(spark, docs, tmp_path):
    data = str(tmp_path / "data2")
    idx = str(tmp_path / "idx2")
    docs.repartition(3).write.parquet(data)
    index_parquet_files(spark, data, idx, index_col="text", cfg=CFG)
    got, stats = IndexHandle(spark, idx, data=data) \
        .pruned_read(["absent-abcdef"])
    if stats.units_survived == 0:  # FPR makes a stray survivor possible
        assert got.count() == 0
        assert got.schema == spark.read.parquet(data).schema
    else:
        assert got.count() == 0  # exact filter still yields nothing


def test_probe_digest_parity_with_column(spark, docs):
    """Driver-side probe digests equal the Spark digest64 column — the
    prune decision and the data scan agree on the hash space."""
    from fastbloom_spark.functions import digest64

    vals = member_texts(docs, n=3)
    spark_side = {r.d for r in
                  docs.filter(F.col("text").isin(vals))
                      .select(digest64("text").alias("d")).collect()}
    assert set(probe_digests(vals)) == spark_side


def test_multi_column_index_one_pass(spark, docs, tmp_path):
    """A list of index columns builds (bucket x column) sketch rows in one
    scan; probes must name the column and prune independently."""
    path = str(tmp_path / "multi")
    write_indexed_table(docs, path, index_col=["text", "source"], cfg=CFG,
                        bucket_source="doc_id", num_buckets=8)
    index_pdf = index_rows(spark, path)
    assert sorted(index_pdf["index_col"].unique()) == ["source", "text"]
    assert len(index_pdf) == 16  # 8 buckets x 2 columns

    probes = member_texts(docs, n=2)
    got, stats = pruned_read(spark, path, probes, on="text")
    want = docs.filter(F.col("text").isin(probes))
    assert sorted(r.doc_id for r in got.collect()) \
        == sorted(r.doc_id for r in want.collect())

    # a source-column probe goes through its own sketch family
    src = docs.select("source").first().source
    got_s, stats_s = pruned_read(spark, path, [src], on="source")
    assert got_s.count() == docs.filter(F.col("source") == src).count()

    with pytest.raises(ValueError, match="pass on="):
        pruned_read(spark, path, probes)
    with pytest.raises(ValueError, match="not indexed"):
        pruned_read(spark, path, probes, on="lang")


def test_append_equals_full_rebuild_bitwise(spark, docs, tmp_path):
    """Incremental append ORs new sketches into the index: the merged
    filter WORDS are bitwise-identical to indexing the full table in one
    shot (OR associativity, reference union semantics), and rows_seen
    totals match."""
    from fastbloom_spark.kernel import decode_words
    from fastbloom_spark.sources import append_to_indexed_table

    first = docs.filter(F.col("doc_id") % 3 != 0)
    rest = docs.filter(F.col("doc_id") % 3 == 0)
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    write_indexed_table(first, inc, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=8)
    append_to_indexed_table(rest, inc)
    write_indexed_table(docs, full, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=8)

    def words_by_bucket(p):
        pdf = index_rows(spark, p)
        return {int(r[BUCKET_COL]):
                (decode_words(bytes(r["sketch"])).tolist(),
                 int(r["rows_seen"]))
                for _, r in pdf.iterrows()}
    assert words_by_bucket(inc) == words_by_bucket(full)

    # pruned reads see appended rows (zero-FN across the append history)
    probe = [rest.orderBy("doc_id").first().text]
    got, _ = pruned_read(spark, inc, probe)
    assert got.count() == docs.filter(F.col("text") == probe[0]).count()


def test_append_empty_frame_is_noop(spark, docs, tmp_path):
    from fastbloom_spark.sources import append_to_indexed_table

    path = str(tmp_path / "noop")
    write_indexed_table(docs, path, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=8)
    before = index_rows(spark, path)
    append_to_indexed_table(docs.filter(F.lit(False)), path)
    after = index_rows(spark, path)
    assert sorted(bytes(b) for b in before["sketch"]) \
        == sorted(bytes(b) for b in after["sketch"])


def test_streaming_ingest_maintains_index(spark, docs, tmp_path):
    """Structured Streaming ingest keeps the skip index fresh: each
    micro-batch lands through append_to_indexed_table inside foreachBatch
    (batches are serialized by the engine), and the final index is
    bitwise-equal to a one-shot build over everything ingested."""
    from fastbloom_spark.kernel import decode_words
    from fastbloom_spark.sources import append_to_indexed_table

    seed_rows = docs.filter(F.col("doc_id") % 2 == 0)
    late_rows = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "stream_idx")
    src = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "stream_ckpt")
    write_indexed_table(seed_rows, path, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=8)
    late_rows.repartition(4).write.parquet(src)  # 4 files -> >1 batch

    stream = spark.readStream.schema(docs.schema) \
        .option("maxFilesPerTrigger", 2).parquet(src)
    q = (stream.writeStream
         .foreachBatch(lambda bdf, _bid: append_to_indexed_table(bdf, path))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    full = str(tmp_path / "full_idx")
    write_indexed_table(docs, full, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=8)

    def words_of(p):
        pdf = index_rows(spark, p)
        return {int(r[BUCKET_COL]): decode_words(bytes(r["sketch"])).tolist()
                for _, r in pdf.iterrows()}
    assert words_of(path) == words_of(full)

    probe = [late_rows.orderBy("doc_id").first().text]
    got, _ = pruned_read(spark, path, probe)
    assert got.count() == docs.filter(F.col("text") == probe[0]).count()


def test_pruned_semi_join_matches_exact(spark, docs, indexed_path):
    """Index-driven dynamic pruning for a semi-join: result equals the
    plain left_semi join, the scan is partition-pruned to surviving
    buckets, and an oversized build side is refused."""
    keys = docs.filter(F.col("doc_id") % 50 == 1).select(
        F.col("text").alias("k"))
    from fastbloom_spark.sources import pruned_semi_join

    got, stats = pruned_semi_join(spark, indexed_path, keys, "k")
    want = docs.join(keys.withColumnRenamed("k", "text"),
                     on="text", how="left_semi")
    assert sorted(r.doc_id for r in got.collect()) \
        == sorted(r.doc_id for r in want.collect())
    assert 1 <= stats.units_survived <= stats.units_total
    plan = formatted(got)
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan and BUCKET_COL in scan[0], plan

    with pytest.raises(ValueError, match="max_keys"):
        pruned_semi_join(spark, indexed_path, keys, "k", max_keys=2)


def test_block64_layout_index(spark, docs, tmp_path):
    """The register-blocked layout rides through the index: sketch rows
    carry layout='block64' and pruned reads stay zero-FN."""
    path = str(tmp_path / "b64")
    cfg = BloomConfig.block64_from_false_pos(0.01, expected_items=80,
                                             seed=42)
    write_indexed_table(docs, path, index_col="text", cfg=cfg,
                        bucket_source="doc_id", num_buckets=8)
    index_pdf = index_rows(spark, path)
    assert set(index_pdf["layout"]) == {"block64"}
    probes = member_texts(docs)
    got, stats = pruned_read(spark, path, probes)
    want = docs.filter(F.col("text").isin(probes))
    assert sorted(r.doc_id for r in got.collect()) \
        == sorted(r.doc_id for r in want.collect())


def test_null_values_do_not_corrupt_index(spark, docs, tmp_path):
    """A NULL in an indexed column must not poison the batch (Arrow ships
    nullable longs as float64 — digests above 2^53 would silently change
    value): NULL digests are dropped pre-aggregation, and every real
    value stays zero-FN findable."""
    with_nulls = docs.withColumn(
        "source", F.when(F.col("doc_id") % 7 == 0, F.lit(None))
                   .otherwise(F.col("source")))
    path = str(tmp_path / "nulls")
    write_indexed_table(with_nulls, path, index_col=["text", "source"],
                        cfg=CFG, bucket_source="doc_id", num_buckets=8)
    probes = member_texts(docs)
    got, _ = pruned_read(spark, path, probes, on="text")
    want = with_nulls.filter(F.col("text").isin(probes))
    assert sorted(r.doc_id for r in got.collect()) \
        == sorted(r.doc_id for r in want.collect())


def test_semi_join_with_null_keys(spark, docs, indexed_path):
    """NULL build-side keys are dropped (they can never match a semi-join)
    instead of float64-corrupting the collected digest column."""
    from fastbloom_spark.sources import pruned_semi_join

    keys = docs.filter(F.col("doc_id") % 50 == 1) \
        .select(F.col("text").alias("k")) \
        .unionByName(spark.createDataFrame([(None,)], "k string"))
    got, _ = pruned_semi_join(spark, indexed_path, keys, "k")
    want = docs.join(keys.filter(F.col("k").isNotNull())
                     .withColumnRenamed("k", "text"),
                     on="text", how="left_semi")
    assert sorted(r.doc_id for r in got.collect()) \
        == sorted(r.doc_id for r in want.collect())


def test_write_indexed_table_rejects_append_mode(spark, docs, tmp_path):
    with pytest.raises(ValueError, match="append_to_indexed_table"):
        write_indexed_table(docs, str(tmp_path / "x"), index_col="text",
                            cfg=CFG, bucket_source="doc_id", mode="append")


def test_zone_map_range_pruning(spark, docs, tmp_path):
    """Zone maps (per-bucket min/max) prune range predicates with zero
    false negatives: results equal the plain BETWEEN filter and only
    overlapping buckets are scanned; appends merge zones exactly."""
    from fastbloom_spark.sources import (append_to_indexed_table,
                                         pruned_range_read)

    path = str(tmp_path / "zones")
    first = docs.filter(F.col("doc_id") % 4 != 0)
    rest = docs.filter(F.col("doc_id") % 4 == 0)
    write_indexed_table(first, path, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=8,
                        zone_cols=["n_chars", "doc_id"])
    append_to_indexed_table(rest, path)

    lo, hi = 120, 180
    got, stats = pruned_range_read(spark, path, "n_chars", lo, hi)
    want = docs.filter(F.col("n_chars").between(lo, hi))
    assert sorted(r.doc_id for r in got.collect()) \
        == sorted(r.doc_id for r in want.collect())
    assert stats.units_total == 8

    # a narrow doc_id range: hash-bucketing spreads ids, so zones are wide
    # — but an out-of-domain range must prune EVERYTHING
    got2, stats2 = pruned_range_read(spark, path, "doc_id", 10_000, 20_000)
    assert got2.count() == 0 and stats2.units_survived == 0
    assert stats2.skipped_fraction == 1.0

    # zones after append == zones of a one-shot build (min/max assoc.)
    full = str(tmp_path / "zfull")
    write_indexed_table(docs, full, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=8,
                        zone_cols=["n_chars", "doc_id"])
    from fastbloom_spark.sources.index import _resolve_index_root
    zp = _resolve_index_root(spark, path)[1]
    zf = _resolve_index_root(spark, full)[1]
    for c in ("n_chars", "doc_id"):
        a = spark.read.parquet(f"{zp}/{c}").toPandas() \
            .sort_values(BUCKET_COL).reset_index(drop=True)
        b = spark.read.parquet(f"{zf}/{c}").toPandas() \
            .sort_values(BUCKET_COL).reset_index(drop=True)
        assert a.equals(b), c


def test_zone_map_missing_column_raises(spark, docs, tmp_path):
    from fastbloom_spark.sources import pruned_range_read

    path = str(tmp_path / "nozone")
    write_indexed_table(docs, path, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=8)
    with pytest.raises(ValueError, match="no zone map"):
        pruned_range_read(spark, path, "n_chars", 0, 10)


def test_sorted_buckets_and_describe(spark, docs, tmp_path):
    """sort_within_buckets_by clusters rows inside each bucket file (rows
    arrive ordered per file), and describe_index reports sane geometry,
    density, and implied FPR."""
    from fastbloom_spark.sources import describe_index

    path = str(tmp_path / "sorted")
    write_indexed_table(docs, path, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=4,
                        zone_cols=["n_chars"],
                        sort_within_buckets_by=["n_chars"])
    pdf = spark.read.parquet(f"{path}/data") \
        .withColumn("f", F.input_file_name()) \
        .select("f", "n_chars").toPandas()
    for _, grp in pdf.groupby("f"):
        vals = grp["n_chars"].tolist()
        assert vals == sorted(vals)  # task-local sort reached the file

    desc = describe_index(spark, path)
    assert len(desc) == 4 and set(desc["index_col"]) == {"text"}
    assert (desc["rows_seen"] > 0).all()
    assert ((desc["density"] > 0) & (desc["density"] < 1)).all()
    # 4 buckets x ~125 rows against expected_items=80: the report must
    # SHOW the saturation (implied fpr above the 1% target) — that drift
    # signal is what describe_index exists for
    assert (desc["implied_fpr"] > 0.01).all()
    assert (desc["implied_fpr"] < 0.9).all()


def test_compaction_physical_only(spark, docs, tmp_path):
    """After an append-heavy history, compaction rewrites each bucket to
    one file; contents (and therefore the rebuilt Bloom words and zones)
    are unchanged — compaction is purely physical."""
    from fastbloom_spark.kernel import decode_words
    from fastbloom_spark.sources import (append_to_indexed_table,
                                         compact_indexed_table,
                                         pruned_range_read)

    path = str(tmp_path / "compact")
    parts = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    write_indexed_table(parts[0], path, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=8,
                        zone_cols=["n_chars"])
    for p in parts[1:]:
        append_to_indexed_table(p, path)

    def index_words(p):
        pdf = index_rows(spark, p)
        return {(int(r[BUCKET_COL]), r["index_col"]):
                decode_words(bytes(r["sketch"])).tolist()
                for _, r in pdf.iterrows()}

    before_words = index_words(path)
    stats = compact_indexed_table(spark, path,
                                  sort_within_buckets_by=["n_chars"])
    assert stats["files_before"] > 8  # three write generations
    assert stats["files_after"] == 8  # one file per bucket
    assert index_words(path) == before_words  # purely physical

    probes = member_texts(docs, n=3)
    got, _ = pruned_read(spark, path, probes)
    want = docs.filter(F.col("text").isin(probes))
    assert sorted(r.doc_id for r in got.collect()) \
        == sorted(r.doc_id for r in want.collect())
    got2, _ = pruned_range_read(spark, path, "n_chars", 100, 200)
    assert got2.count() == docs.filter(
        F.col("n_chars").between(100, 200)).count()


def test_zone_values_survive_null_buckets_exactly(spark, tmp_path):
    """Int64 zone values above 2^53 stay EXACT even when some bucket is
    all-NULL in the zone column (the pandas float64 coercion trap): range
    pruning loses no rows, and appends merge such zones exactly."""
    from fastbloom_spark.sources import (append_to_indexed_table,
                                         pruned_range_read)
    from fastbloom_spark.sources.index import bucket_col

    big = (1 << 60) + 12345
    ids = list(range(40))
    base = spark.createDataFrame([(i,) for i in ids], "id long")
    by_bucket = {r.id: r.b for r in
                 base.withColumn("b", bucket_col("id", 8)).collect()}
    null_bucket = by_bucket[ids[0]]
    rows = [(i, f"t{i}",
             None if by_bucket[i] == null_bucket else big + i)
            for i in ids]
    df = spark.createDataFrame(rows, "id long, text string, v long")
    path = str(tmp_path / "bigzones")
    write_indexed_table(df, path, index_col="text", cfg=CFG,
                        bucket_source="id", num_buckets=8,
                        zone_cols=["v"])

    lo, hi = big + 10, big + 20
    got, stats = pruned_range_read(spark, path, "v", lo, hi)
    want = df.filter(F.col("v").between(lo, hi))
    assert sorted(r.id for r in got.collect()) \
        == sorted(r.id for r in want.collect())
    assert stats.units_survived < stats.units_total  # pruning happened

    # append through the same NULL-bucket shape: still exact
    extra = spark.createDataFrame(
        [(100 + i, f"x{i}", big + 100 + i) for i in range(10)],
        "id long, text string, v long")
    append_to_indexed_table(extra, path)
    got2, _ = pruned_range_read(spark, path, "v", big + 100, big + 105)
    assert sorted(r.id for r in got2.collect()) == list(range(100, 106))


def test_stale_zone_maps_rejected_after_rewrite(spark, docs, tmp_path):
    """Overwriting a table WITHOUT zone_cols must invalidate the previous
    write's zones — pruning fresh data with obsolete min/max would lose
    rows silently."""
    from fastbloom_spark.sources import pruned_range_read

    path = str(tmp_path / "stale")
    write_indexed_table(docs, path, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=8,
                        zone_cols=["n_chars"])
    write_indexed_table(docs, path, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=8)
    with pytest.raises(ValueError, match="no zone map"):
        pruned_range_read(spark, path, "n_chars", 0, 10)


def test_index_filter_union_and_sql(spark, docs, tmp_path):
    """The union of bucket sketches is a whole-table membership filter:
    zero FN over every indexed value, FPR-bounded on absents when the cfg
    is sized for the TABLE (per-bucket sizing saturates the union — the
    documented tradeoff), and publishable for SQL probes."""
    from fastbloom_spark.kernel import digest64_bytes
    from fastbloom_spark.sources import index_filter
    from fastbloom_spark.sql import publish_bloom_sql, unpublish_bloom_sql

    path = str(tmp_path / "unionidx")
    cfg = BloomConfig.from_false_pos(0.01, expected_items=600, seed=42)
    write_indexed_table(docs, path, index_col="text", cfg=cfg,
                        bucket_source="doc_id", num_buckets=8)
    filt = index_filter(spark, path)
    texts = [r.text for r in docs.select("text").collect()]
    digs = [digest64_bytes(t.encode()) for t in texts]
    assert filt.contains_digests(digs).all()  # zero FN
    assert filt.rows_seen == len(texts)
    absent = [digest64_bytes(f"absent:{i}".encode()) for i in range(2000)]
    # 500 rows in a 600-item filter: union fpr stays near the 1% target
    assert filt.contains_digests(absent).mean() < 0.05

    from fastbloom_spark.functions import digest64

    fn = publish_bloom_sql(spark, "docidx", filt)
    try:
        docs.select("text", digest64("text").alias("d")) \
            .createOrReplaceTempView("docs_v")
        n = spark.sql(
            f"SELECT count(*) AS n FROM docs_v WHERE {fn}('docidx', d)") \
            .first().n
        assert n == docs.count()  # every row probes true from SQL
    finally:
        unpublish_bloom_sql(spark, "docidx")


def test_write_mode_ignore_rejected(spark, docs, tmp_path):
    with pytest.raises(ValueError, match="ambiguous"):
        write_indexed_table(docs, str(tmp_path / "ig"), index_col="text",
                            cfg=CFG, bucket_source="doc_id", mode="ignore")


def test_append_after_compaction_stays_bitwise(spark, docs, tmp_path):
    """Maintenance ops compose: append -> compact -> append still equals
    the one-shot index bitwise, and zones stay exact."""
    from fastbloom_spark.kernel import decode_words
    from fastbloom_spark.sources import (append_to_indexed_table,
                                         compact_indexed_table,
                                         pruned_range_read)

    parts = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    path = str(tmp_path / "cycle")
    write_indexed_table(parts[0], path, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=8,
                        zone_cols=["n_chars"])
    append_to_indexed_table(parts[1], path)
    compact_indexed_table(spark, path)
    append_to_indexed_table(parts[2], path)

    full = str(tmp_path / "cyclefull")
    write_indexed_table(docs, full, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=8,
                        zone_cols=["n_chars"])

    def words_of(p):
        pdf = index_rows(spark, p)
        return {int(r[BUCKET_COL]): decode_words(bytes(r["sketch"])).tolist()
                for _, r in pdf.iterrows()}
    assert words_of(path) == words_of(full)
    got, _ = pruned_range_read(spark, path, "n_chars", 100, 200)
    assert got.count() == docs.filter(
        F.col("n_chars").between(100, 200)).count()


# -------------------------------------------------- versioned publish (r4) --


def test_publish_is_atomic_for_readers(spark, docs, tmp_path):
    """A reader that resolves the index while a publish is in flight sees
    a COMPLETE committed version: an uncommitted (crashed / in-progress)
    higher version dir is invisible until its _COMMITTED marker lands."""
    from fastbloom_spark.sources import append_to_indexed_table
    from fastbloom_spark.sources.index import (COMMIT_MARKER, VERSIONS_DIR,
                                               _resolve_index_root)

    path = str(tmp_path / "atomic")
    write_indexed_table(docs.filter("doc_id < 300"), path, index_col="text",
                        cfg=CFG, bucket_source="doc_id", num_buckets=8)
    bloom_v1, _ = _resolve_index_root(spark, path)
    before = index_rows(spark, path)

    # simulate the in-flight window: a higher version dir WITHOUT a marker
    import os
    import shutil
    v1_dir = os.path.dirname(bloom_v1)
    v_bad = f"{os.path.dirname(v1_dir)}/v0000099999"
    shutil.copytree(v1_dir, v_bad)
    os.remove(f"{v_bad}/{COMMIT_MARKER}")
    assert _resolve_index_root(spark, path)[0] == bloom_v1
    assert index_rows(spark, path).equals(before)
    shutil.rmtree(v_bad)

    # a real append publishes a NEW committed version; the pre-append one
    # remains on disk (GC keeps one back-version for in-flight readers)
    append_to_indexed_table(docs.filter("doc_id >= 300"), path)
    bloom_v2, _ = _resolve_index_root(spark, path)
    assert bloom_v2 != bloom_v1
    assert os.path.isdir(v1_dir)  # previous committed version retained
    vroot = f"{path}/{VERSIONS_DIR}"
    assert sorted(os.listdir(vroot))[-1] in bloom_v2


def test_gc_bounds_retained_versions(spark, docs, tmp_path):
    """Repeated appends keep at most 2 committed versions (current +
    previous for in-flight readers) — unbounded version dirs would leak
    an index copy per append."""
    from fastbloom_spark.sources import append_to_indexed_table
    from fastbloom_spark.sources.index import VERSIONS_DIR

    import os
    path = str(tmp_path / "gc")
    write_indexed_table(docs.filter("doc_id < 200"), path, index_col="text",
                        cfg=CFG, bucket_source="doc_id", num_buckets=8)
    for lo, hi in ((200, 300), (300, 400), (400, 500)):
        append_to_indexed_table(
            docs.filter(f"doc_id >= {lo} and doc_id < {hi}"), path)
    versions = sorted(os.listdir(f"{path}/{VERSIONS_DIR}"))
    assert len(versions) == 2, versions


def test_concurrent_publish_single_writer_loses_loudly(spark, docs,
                                                       tmp_path,
                                                       monkeypatch):
    """Two concurrent appenders racing for the same index version: the
    create-exclusive _CLAIM file makes exactly one lose with
    ConcurrentIndexWriteError BEFORE writing anything, and the committed
    table + index stay consistent (VERDICT r04 #4). The race window —
    both writers LIST versions before either's claim is visible — is
    emulated by pinning writer B's listing to the pre-claim state (a
    sequential second claimer would instead allocate past A's visible
    claim dir and proceed at v3, which the tail of this test verifies)."""
    import os

    import fastbloom_spark.sources.index as idx
    from fastbloom_spark.sources import (ConcurrentIndexWriteError,
                                         append_to_indexed_table)
    from fastbloom_spark.sources.index import (CLAIM_MARKER, VERSIONS_DIR,
                                               _resolve_index_root)

    path = str(tmp_path / "race")
    write_indexed_table(docs.filter("doc_id < 300"), path, index_col="text",
                        cfg=CFG, bucket_source="doc_id", num_buckets=8)
    bloom_v1, _ = _resolve_index_root(spark, path)

    # writer A has listed versions and claimed v2 but not yet committed —
    # emulate its footprint: the claim file exists, nothing else does
    v2_dir = f"{path}/{VERSIONS_DIR}/v{2:010d}"
    os.makedirs(v2_dir)
    open(f"{v2_dir}/{CLAIM_MARKER}", "x").close()

    # writer B raced: its version listing predates A's claim, so it also
    # allocates v2 -> must lose loudly at the create-exclusive claim
    real_list = idx._list_versions
    monkeypatch.setattr(
        idx, "_list_versions",
        lambda sp, p: [(v, ok) for v, ok in real_list(sp, p) if v < 2])
    with pytest.raises(ConcurrentIndexWriteError, match="already claimed"):
        append_to_indexed_table(docs.filter("doc_id >= 300"), path)
    monkeypatch.setattr(idx, "_list_versions", real_list)

    # the loser claimed BEFORE touching the data dir, so it wrote NOTHING:
    # data row count unchanged, committed index untouched and serving,
    # writer A's in-flight (young) claim dir intact
    assert _resolve_index_root(spark, path)[0] == bloom_v1
    assert os.path.exists(f"{v2_dir}/{CLAIM_MARKER}")
    assert spark.read.parquet(f"{path}/data").count() \
        == docs.filter("doc_id < 300").count()
    probes = member_texts(docs)
    got, _ = pruned_read(spark, path, probes)
    got.count()  # index still fresh — pruning serves normally

    # a writer with a FRESH listing sees A's uncommitted v2 and allocates
    # past it: a dangling claim never blocks successors (crashed claimers
    # are GC'd by age, not waited on)
    append_to_indexed_table(docs.filter("doc_id >= 300"), path)
    bloom_v3, _ = _resolve_index_root(spark, path)
    assert "v0000000003" in bloom_v3
    assert os.path.exists(f"{v2_dir}/{CLAIM_MARKER}")  # young: not GC'd
    got, _ = pruned_read(spark, path, probes)
    assert got.count() >= 1


def test_crashed_overwrite_fails_loudly(spark, docs, tmp_path):
    """A crash between overwrite's index delete and the new publish leaves
    NO resolvable index — readers get a loud 'no committed bloom index'
    error, never silent pruning with stale filters (the ADVICE hazard)."""
    import shutil

    from fastbloom_spark.sources.index import VERSIONS_DIR

    path = str(tmp_path / "crash")
    write_indexed_table(docs, path, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=8)
    # simulate the crash window: versions deleted (as overwrite does
    # FIRST), data already rewritten, no new index published yet
    shutil.rmtree(f"{path}/{VERSIONS_DIR}")
    with pytest.raises(ValueError, match="no committed bloom index"):
        pruned_read(spark, path, ["anything"])


def test_stale_index_refused_after_untracked_append(spark, docs, tmp_path):
    """Data files the index never saw (crashed append: data written, index
    publish lost — or a concurrent writer) flip the data-file fingerprint;
    pruned reads REFUSE to prune instead of silently skipping those rows."""
    path = str(tmp_path / "stale")
    write_indexed_table(docs.filter("doc_id < 400"), path, index_col="text",
                        cfg=CFG, bucket_source="doc_id", num_buckets=8)
    probes = member_texts(docs)
    pruned_read(spark, path, probes)  # fresh: fine

    # bypass append_to_indexed_table: raw data append, no index update
    from fastbloom_spark.sources.index import bucket_col
    extra = docs.filter("doc_id >= 400") \
        .withColumn(BUCKET_COL, bucket_col("doc_id", 8))
    extra.write.mode("append").partitionBy(BUCKET_COL) \
        .parquet(f"{path}/data")
    with pytest.raises(ValueError, match="STALE"):
        pruned_read(spark, path, probes)
    # escape hatch for forensics: verify_files=False still reads
    IndexHandle(spark, path, verify_files=False).pruned_read(probes)


def test_custom_digest_rejected_at_write_time(spark, docs, tmp_path):
    """An index built with a custom Column digest could never be probed
    (probe_digests has no local implementation) — fail at WRITE time, not
    at first query."""
    from fastbloom_spark.functions.digest import register_digest

    try:
        register_digest("idxrej", lambda c: F.xxhash64(c))
    except Exception:
        pass  # already registered in this session
    cfg = BloomConfig(num_bits=1 << 12, num_hashes=4, seed=1,
                      digest="custom:idxrej")
    with pytest.raises(ValueError, match="cannot back a skip index"):
        write_indexed_table(docs, str(tmp_path / "rej"), index_col="text",
                            cfg=cfg, bucket_source="doc_id")


# ------------------------------------------------------- IndexHandle (r4) --


def test_index_handle_matches_one_shot_reads(spark, docs, indexed_path,
                                             tmp_path):
    """Each handle read equals its one-shot counterpart (same stats, same
    rows) with the index loaded ONCE across many lookups: bucket reads vs
    module pruned_read, range reads vs module pruned_range_read, and
    sidecar row-group reads vs a standalone row-group index built over
    the same data files with the sidecar's geometry."""
    from fastbloom_spark.sources import (index_parquet_row_groups,
                                         pruned_range_read)

    def same(h, m):
        (got_h, st_h), (got_m, st_m) = h, m
        assert st_h == st_m
        assert sorted(r.doc_id for r in got_h.collect()) \
            == sorted(r.doc_id for r in got_m.collect())

    probe_sets = ([member_texts(docs, 1)[0]], member_texts(docs, 3),
                  ["absent-xyzzy"])
    handle = IndexHandle(spark, indexed_path)
    for probes in probe_sets:
        same(handle.pruned_read(probes),
             pruned_read(spark, indexed_path, probes))

    path = str(tmp_path / "handle_rg")
    write_indexed_table(docs, path, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=4,
                        zone_cols=["doc_id"], row_group_index=True)
    handle = IndexHandle(spark, path)
    for lo, hi in ((100, 160), (0, 10**9), (-5, -1)):
        same(handle.pruned_range_read("doc_id", lo, hi),
             pruned_range_read(spark, path, "doc_id", lo, hi))
    rgidx = str(tmp_path / "handle_rg_standalone")
    # the sidecar's geometry: row_group_cfg defaults to the table's cfg
    index_parquet_row_groups(spark, f"{path}/data", rgidx,
                             index_col="text", cfg=CFG)
    for probes in probe_sets:
        same(handle.pruned_read_row_groups(probes),
             IndexHandle(spark, rgidx, data=f"{path}/data")
             .pruned_read(probes))


def test_index_handle_union_filter_and_zones(spark, docs, tmp_path):
    """union_filter == module index_filter bitwise (and cached); zone
    range reads through the handle match the one-shot path."""
    from fastbloom_spark.sources import index_filter, pruned_range_read

    path = str(tmp_path / "handle2")
    write_indexed_table(
        docs.withColumn("n_chars", F.length("text")), path,
        index_col="text", cfg=CFG, bucket_source="doc_id", num_buckets=8,
        zone_cols=["doc_id"])
    handle = IndexHandle(spark, path)
    assert handle.union_filter() == index_filter(spark, path)
    # cached but NOT aliased: mutating a returned filter must not corrupt
    # later results (BloomFilter.union/intersect mutate in place)
    u = handle.union_filter()
    assert u is not handle.union_filter()
    u.clear()
    assert handle.union_filter() == index_filter(spark, path)
    got_h, st_h = handle.pruned_range_read("doc_id", 100, 160)
    got_m, st_m = pruned_range_read(spark, path, "doc_id", 100, 160)
    assert st_h == st_m
    assert sorted(r.doc_id for r in got_h.collect()) \
        == sorted(r.doc_id for r in got_m.collect())


def test_index_handle_pins_version_across_append(spark, docs, tmp_path):
    """A handle keeps serving the version it resolved even after an append
    publishes a newer one (GC retains the previous version for exactly
    this); a FRESH handle sees the appended rows."""
    from fastbloom_spark.sources import append_to_indexed_table

    path = str(tmp_path / "pin")
    write_indexed_table(docs.filter("doc_id < 300"), path, index_col="text",
                        cfg=CFG, bucket_source="doc_id", num_buckets=8)
    old_handle = IndexHandle(spark, path)
    n_old = int(old_handle.index_pdf["rows_seen"].sum())
    append_to_indexed_table(docs.filter("doc_id >= 300"), path)
    # pinned: same totals as at load time
    assert int(old_handle.index_pdf["rows_seen"].sum()) == n_old
    fresh = IndexHandle(spark, path)
    assert int(fresh.index_pdf["rows_seen"].sum()) == docs.count()


# ------------------------------------------- row-group granularity (r4) --


@pytest.fixture(scope="module")
def clustered_table(tmp_path_factory):
    """One parquet file, 1000 rows SORTED by key, 10 row groups of 100 —
    each row group holds a disjoint key range (the clustered-write layout
    sort_within_buckets_by produces inside buckets)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path_factory.mktemp("rgidx") / "data")
    import os
    os.makedirs(d)
    tbl = pa.table({
        "key": pa.array([f"k{i:05d}" for i in range(1000)]),
        "payload": pa.array(list(range(1000)), type=pa.int64()),
    })
    pq.write_table(tbl, f"{d}/part-0.parquet", row_group_size=100)
    return d


def test_rowgroup_index_opens_strict_subset(spark, clustered_table,
                                            tmp_path):
    """On a clustered table a point probe opens a STRICT subset of row
    groups (1 + FPR-bounded extras out of 10) and still returns exactly
    the matching rows — zero-FN extended to granule level."""
    from fastbloom_spark.sources import index_parquet_row_groups

    idx = str(tmp_path / "rgidx")
    cfg = BloomConfig.from_false_pos(0.01, expected_items=128, seed=42)
    index_parquet_row_groups(spark, clustered_table, idx,
                             index_col="key", cfg=cfg)
    index_pdf = index_rows(spark, idx, clustered_table)
    assert len(index_pdf) == 10  # one sketch per row group

    got, stats = IndexHandle(spark, idx, data=clustered_table) \
        .pruned_read(["k00342"])
    assert stats.granularity == "row_group"
    assert stats.units_total == 10
    assert stats.units_survived <= 2            # 1 true + FPR slack
    assert stats.units_survived < stats.units_total  # strict subset
    rows = got.collect()
    assert [r.payload for r in rows] == [342]
    # the surviving granule is the one that actually holds row 342
    assert any(s.endswith("#3") for s in stats.survivors), stats.survivors


def test_rowgroup_index_zero_fn_and_parity(spark, clustered_table,
                                           tmp_path):
    """Every probe's rows equal the full-scan filter (zero FN), including
    multi-granule probes; absent probes return an empty frame with the
    table schema."""
    from fastbloom_spark.sources import index_parquet_row_groups

    idx = str(tmp_path / "rgidx2")
    cfg = BloomConfig.from_false_pos(0.01, expected_items=128, seed=42)
    index_parquet_row_groups(spark, clustered_table, idx,
                             index_col="key", cfg=cfg)
    full = spark.read.parquet(clustered_table)
    probes = ["k00000", "k00099", "k00100", "k00555", "k00999"]
    got, stats = IndexHandle(spark, idx, data=clustered_table) \
        .pruned_read(probes)
    want = full.filter(F.col("key").isin(probes))
    assert sorted(r.payload for r in got.collect()) \
        == sorted(r.payload for r in want.collect())
    assert stats.units_survived < stats.units_total

    empty, st0 = IndexHandle(spark, idx, data=clustered_table) \
        .pruned_read(["absent-zzz"])
    if st0.units_survived == 0:
        assert empty.count() == 0
        assert empty.schema == full.schema
    else:  # FPR survivor: exact filter still yields nothing
        assert empty.count() == 0


def test_rowgroup_index_multifile(spark, docs, tmp_path):
    """Spark-written multi-file table: the row-group index covers every
    (file, row group) and pruned reads match the full filter."""
    from fastbloom_spark.sources import index_parquet_row_groups

    data = str(tmp_path / "mfdata")
    docs.repartition(4).write.parquet(data)
    idx = str(tmp_path / "mfidx")
    index_parquet_row_groups(spark, data, idx, index_col="text", cfg=CFG)
    index_pdf = index_rows(spark, idx, data)
    assert index_pdf[FILE_COL].nunique() == 4
    assert int(index_pdf["rows_seen"].sum()) == docs.count()

    probes = member_texts(docs, 3)
    got, stats = IndexHandle(spark, idx, data=data).pruned_read(probes)
    want = docs.filter(F.col("text").isin(probes))
    assert sorted(r.doc_id for r in got.collect()) \
        == sorted(r.doc_id for r in want.collect())
    assert stats.units_survived <= stats.units_total


def test_rowgroup_index_on_bucketed_table(spark, docs, tmp_path):
    """Row-group skipping composes with write_indexed_table's hive layout:
    partition columns (bucket_id) are reconstructed from file paths by the
    granule reader, and results match the full scan column-for-column."""
    from fastbloom_spark.sources import index_parquet_row_groups

    path = str(tmp_path / "rgbucketed")
    write_indexed_table(docs, path, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=4)
    idx = str(tmp_path / "rgbidx")
    index_parquet_row_groups(spark, f"{path}/data", idx,
                             index_col="text", cfg=CFG)
    full = spark.read.parquet(f"{path}/data")
    probes = member_texts(docs, 3)
    got, stats = IndexHandle(spark, idx, data=f"{path}/data") \
        .pruned_read(probes)
    assert got.schema == full.schema  # incl. the bucket_id partition col
    want = full.filter(F.col("text").isin(probes))
    key = lambda r: (r["doc_id"], r["bucket_id"])
    assert sorted(map(key, got.collect())) \
        == sorted(map(key, want.collect()))
    assert stats.units_survived < stats.units_total


def test_rowgroup_sidecar_integrated(spark, docs, tmp_path):
    """write_indexed_table(row_group_index=True) publishes an rgbloom
    sidecar inside the committed version; IndexHandle.pruned_read_row_
    groups decodes only surviving granules and matches the full scan;
    appends extend the sidecar with the new files' granule rows (pure
    union — new files are new keys); results stay exact across the
    append."""
    from fastbloom_spark.sources import append_to_indexed_table

    path = str(tmp_path / "rgsidecar")
    write_indexed_table(docs.filter("doc_id < 400"), path,
                        index_col="text", cfg=CFG, bucket_source="doc_id",
                        num_buckets=4, sort_within_buckets_by=["doc_id"],
                        row_group_index=True)
    handle = IndexHandle(spark, path)
    probes = member_texts(docs, 3)
    got, stats = handle.pruned_read_row_groups(probes)
    full = spark.read.parquet(f"{path}/data")
    want = full.filter(F.col("text").isin(probes))
    assert sorted(r.doc_id for r in got.collect()) \
        == sorted(r.doc_id for r in want.collect())
    assert stats.granularity == "row_group"
    assert stats.units_survived <= stats.units_total

    append_to_indexed_table(docs.filter("doc_id >= 400"), path)
    fresh = IndexHandle(spark, path)
    got2, stats2 = fresh.pruned_read_row_groups(probes)
    full2 = spark.read.parquet(f"{path}/data")
    want2 = full2.filter(F.col("text").isin(probes))
    assert sorted(r.doc_id for r in got2.collect()) \
        == sorted(r.doc_id for r in want2.collect())
    assert stats2.units_total > stats.units_total  # new files' granules
    # rows_seen across the sidecar covers the whole table exactly
    assert int(fresh._rg_index().pdf["rows_seen"].sum()) == docs.count()


def test_rowgroup_sidecar_absent_raises(spark, docs, indexed_path):

    handle = IndexHandle(spark, indexed_path)
    with pytest.raises(ValueError, match="row_group_index=True"):
        handle.pruned_read_row_groups(["x"])


def test_rowgroup_range_read_from_footer_stats(spark, clustered_table):
    """Granule-level RANGE pruning straight from parquet footer min/max —
    no sidecar: on the clustered table a narrow range decodes only its
    granules, and results equal the full BETWEEN filter (zero FN); both
    string and numeric range columns work, values kept in their own type."""
    from fastbloom_spark.sources import pruned_range_read_row_groups

    full = spark.read.parquet(clustered_table)
    # string range: rows k00200..k00299 live in exactly one 100-row granule
    got, stats = pruned_range_read_row_groups(
        spark, clustered_table, "key", "k00200", "k00299")
    assert stats.units_total == 10 and stats.units_survived == 1
    want = full.filter(F.col("key").between("k00200", "k00299"))
    assert sorted(r.payload for r in got.collect()) \
        == sorted(r.payload for r in want.collect())

    # numeric range spanning a granule boundary -> exactly two survive
    got2, st2 = pruned_range_read_row_groups(
        spark, clustered_table, "payload", 390, 410)
    assert st2.units_survived == 2
    assert sorted(r.payload for r in got2.collect()) == list(range(390, 411))

    # empty range (no overlap) -> nothing decoded, empty typed frame
    got3, st3 = pruned_range_read_row_groups(
        spark, clustered_table, "payload", 5000, 6000)
    assert st3.units_survived == 0 and got3.count() == 0
    assert got3.schema == full.schema


def test_block64_layout_index_end_to_end(spark, docs, tmp_path):
    """A block64-layout config rides through the whole index lifecycle:
    write, pruned read (zero FN), handle probe, append OR-merge."""
    from fastbloom_spark.sources import append_to_indexed_table

    cfg = BloomConfig.block64_from_false_pos(0.01, expected_items=80,
                                             seed=42)
    path = str(tmp_path / "blk64idx")
    write_indexed_table(docs.filter("doc_id < 400"), path,
                        index_col="text", cfg=cfg, bucket_source="doc_id",
                        num_buckets=8)
    probes = member_texts(docs)
    got, stats = pruned_read(spark, path, probes)
    want = docs.filter("doc_id < 400").filter(F.col("text").isin(probes))
    assert sorted(r.doc_id for r in got.collect()) \
        == sorted(r.doc_id for r in want.collect())
    append_to_indexed_table(docs.filter("doc_id >= 400"), path)
    handle = IndexHandle(spark, path)
    got2, _ = handle.pruned_read(probes)
    want2 = docs.filter(F.col("text").isin(probes))
    assert sorted(r.doc_id for r in got2.collect()) \
        == sorted(r.doc_id for r in want2.collect())
    assert handle.meta.cfg.layout == "block64"


def test_file_index_multi_column(spark, docs, tmp_path):
    """index_parquet_files with a column LIST: one scan builds per-(file,
    column) sketches; probes select their column with on= and prune
    independently."""
    data = str(tmp_path / "mfc_data")
    idx = str(tmp_path / "mfc_idx")
    docs.repartition(4).write.parquet(data)
    index_parquet_files(spark, data, idx, index_col=["text", "source"],
                        cfg=CFG)
    index_pdf = index_rows(spark, idx, data)
    assert sorted(index_pdf["index_col"].unique()) == ["source", "text"]
    assert len(index_pdf) == 8  # 4 files x 2 columns

    probes = member_texts(docs, 3)
    got, _ = IndexHandle(spark, idx, data=data).pruned_read(probes, on="text")
    want = docs.filter(F.col("text").isin(probes))
    assert sorted(r.doc_id for r in got.collect()) \
        == sorted(r.doc_id for r in want.collect())
    src = docs.select("source").first().source
    got_s, _ = IndexHandle(spark, idx, data=data).pruned_read([src],
                                                               on="source")
    assert got_s.count() == docs.filter(F.col("source") == src).count()
    with pytest.raises(ValueError, match="pass on="):
        IndexHandle(spark, idx, data=data).pruned_read(probes)


def test_standalone_file_and_rg_index_refuse_stale(spark, docs, tmp_path):
    """Files appended AFTER a standalone per-file / per-row-group index
    was built are caught by the file-set witness: pruned reads refuse
    loudly instead of silently skipping the new files' rows."""
    from fastbloom_spark.sources import index_parquet_row_groups

    data = str(tmp_path / "stale_rg_data")
    docs.filter("doc_id < 400").repartition(2).write.parquet(data)
    fidx = str(tmp_path / "stale_fidx")
    rgidx = str(tmp_path / "stale_rgidx")
    index_parquet_files(spark, data, fidx, index_col="text", cfg=CFG)
    index_parquet_row_groups(spark, data, rgidx, index_col="text", cfg=CFG)
    probes = member_texts(docs, 2)
    IndexHandle(spark, fidx, data=data).pruned_read(probes)   # fresh: fine
    IndexHandle(spark, rgidx, data=data).pruned_read(probes)  # fresh: fine

    docs.filter("doc_id >= 400").repartition(1) \
        .write.mode("append").parquet(data)
    with pytest.raises(ValueError, match="STALE"):
        IndexHandle(spark, fidx, data=data).pruned_read(probes)
    with pytest.raises(ValueError, match="STALE"):
        IndexHandle(spark, rgidx, data=data).pruned_read(probes)
    # forensics escape hatch still reads (over the indexed files only)
    IndexHandle(spark, fidx, data=data, verify_files=False) \
        .pruned_read(probes)
    IndexHandle(spark, rgidx, data=data, verify_files=False) \
        .pruned_read(probes)


def test_rowgroup_zone_stats_exact_above_2p53(spark, tmp_path):
    """Footer min/max of an int64 column survive EXACTLY even when a
    stats-less (all-NULL) granule shares the batch — the pandas float64
    coercion would round values above 2^53 and break zero-FN range
    pruning."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fastbloom_spark.sources import (pruned_range_read_row_groups,
                                         rowgroup_zone_stats)

    d = str(tmp_path / "bigrg")
    os.makedirs(d)
    big = (1 << 53) + 1
    tbl = pa.table({"big": pa.array(
        [big + i for i in range(100)] + [None] * 100, type=pa.int64())})
    pq.write_table(tbl, f"{d}/part-0.parquet", row_group_size=100)
    rows = {int(r["row_group"]): r
            for r in rowgroup_zone_stats(spark, d, "big").collect()}
    assert rows[0]["has_stats"] and int(rows[0]["vmin"]) == big
    assert int(rows[0]["vmax"]) == big + 99
    assert not rows[1]["has_stats"]  # all-NULL granule

    # zero-FN: a range just above the boundary keeps the exact rows; the
    # stats-less granule survives unconditionally
    got, stats = pruned_range_read_row_groups(spark, d, "big",
                                              big, big + 4)
    assert sorted(r.big for r in got.collect()) == [big + i
                                                    for i in range(5)]
    assert stats.units_survived == 2  # its granule + the stats-less one


def test_append_refuses_stale_index(spark, docs, tmp_path):
    """Appending onto a STALE index (a prior crashed append left data
    files the filters never saw) is refused: proceeding would refresh the
    fingerprint over the orphaned files while they stay un-indexed —
    laundering the staleness witness into silent false negatives."""
    from fastbloom_spark.sources import append_to_indexed_table
    from fastbloom_spark.sources.index import bucket_col

    path = str(tmp_path / "appendstale")
    write_indexed_table(docs.filter("doc_id < 300"), path,
                        index_col="text", cfg=CFG, bucket_source="doc_id",
                        num_buckets=4)
    # simulate the crash: raw data append without an index publish
    docs.filter("doc_id >= 300 and doc_id < 400") \
        .withColumn(BUCKET_COL, bucket_col("doc_id", 4)) \
        .write.mode("append").partitionBy(BUCKET_COL) \
        .parquet(f"{path}/data")
    with pytest.raises(ValueError, match="STALE"):
        append_to_indexed_table(docs.filter("doc_id >= 400"), path)


def test_probe_digests_refuse_divergent_renderings(spark):
    """bool/float probes are refused: Python str() diverges from Spark's
    cast-to-string (True vs true, 1e-07 vs 1.0E-7) and a mismatched
    digest silently prunes the rows that actually match."""
    with pytest.raises(TypeError, match="bool/float"):
        probe_digests([True])
    with pytest.raises(TypeError, match="bool/float"):
        probe_digests([1e-7])
    assert probe_digests(["x", 7, b"y"])  # str/int/bytes stay fine


def test_standalone_index_rejects_append_mode(spark, docs, tmp_path):
    from fastbloom_spark.sources import index_parquet_row_groups

    data = str(tmp_path / "modedata")
    docs.repartition(2).write.parquet(data)
    with pytest.raises(ValueError, match="mode='append'"):
        index_parquet_files(spark, data, str(tmp_path / "i1"),
                            index_col="text", cfg=CFG, mode="append")
    with pytest.raises(ValueError, match="mode='ignore'"):
        index_parquet_row_groups(spark, data, str(tmp_path / "i2"),
                                 index_col="text", cfg=CFG, mode="ignore")


def test_standalone_index_fresh_when_a_file_has_no_sketch_row(spark,
                                                              tmp_path):
    """A file whose indexed column is all NULL, or that has no rows,
    contributes no sketch row. The manifest still lists it, so a fresh
    standalone file or row-group index opens (no STALE) and reads every
    matching row."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fastbloom_spark.sources import index_parquet_row_groups

    data = str(tmp_path / "nullfile_data")
    os.makedirs(data)
    for i, (ns, texts) in enumerate((([1, 2], ["a", "b"]), ([3], [None]),
                                     ([], []))):
        pq.write_table(pa.table({"n": pa.array(ns, pa.int64()),
                                 "text": pa.array(texts, pa.string())}),
                       f"{data}/part-{i}.parquet")
    for build in (index_parquet_files, index_parquet_row_groups):
        idx = str(tmp_path / f"nullfile_{build.__name__}")
        build(spark, data, idx, index_col="text", cfg=CFG)
        handle = IndexHandle(spark, idx, data=data)
        assert len(handle.index_pdf) == 1  # only part-0 has a sketch row
        for probes, want in ((["a"], [(1, "a")]), (["c"], [])):
            got, _ = handle.pruned_read(probes)
            assert [tuple(r) for r in got.collect()] == want
        # the bucket-only route refuses loudly, not with a bad int() cast
        with pytest.raises(ValueError, match="bucket index"):
            handle.verify_route(spark.createDataFrame([("a",)], "k string"),
                                "k", max_keys=10)


@pytest.fixture()
def legacy_standalone(spark, docs, tmp_path):
    """Standalone file and row-group indexes in the legacy in-place
    layout: sidecar rows written with a plain ``.write.parquet`` straight
    at the index path, no version dir, no fingerprint, no manifest."""
    from fastbloom_spark.sources.index import (_build_rg_index_rows,
                                               _meta_cols, _unit_sketches)

    data = str(tmp_path / "legacy_data")
    docs.repartition(3).write.parquet(data)
    src = spark.read.parquet(data)
    rows = {
        "file": _unit_sketches(
            src.withColumn(FILE_COL, F.input_file_name()), ["text"], CFG,
            [FILE_COL], strategy="partial"),
        "row_group": _build_rg_index_rows(spark, data, ["text"], CFG),
    }
    paths = {}
    for kind, sketches in rows.items():
        paths[kind] = str(tmp_path / f"legacy_{kind}")
        _meta_cols(sketches, num_buckets=0, bucket_source=FILE_COL) \
            .write.parquet(paths[kind])
    return data, paths


def test_legacy_standalone_index_reads_and_refuses_stale(
        spark, docs, tmp_path, legacy_standalone):
    """The handle opens a legacy in-place standalone index and returns
    the rows and stats of the same index published today; after an
    untracked append its file-set witness still refuses it with STALE.
    Rebuilding over it with mode="overwrite" clears the in-place files
    and publishes a version."""
    import os

    from fastbloom_spark.sources import index_parquet_row_groups

    data, paths = legacy_standalone
    build_index = {"file": index_parquet_files,
                "row_group": index_parquet_row_groups}
    probes = member_texts(docs, 3)
    for kind, idx in paths.items():
        current = str(tmp_path / f"current_{kind}")
        build_index[kind](spark, data, current, index_col="text", cfg=CFG)
        got, stats = IndexHandle(spark, idx, data=data).pruned_read(probes)
        want, want_stats = IndexHandle(spark, current, data=data) \
            .pruned_read(probes)
        assert stats == want_stats and stats.granularity == kind
        assert sorted(map(tuple, got.collect())) \
            == sorted(map(tuple, want.collect()))
        assert sorted(r.doc_id for r in got.collect()) == sorted(
            r.doc_id for r in docs.filter(F.col("text").isin(probes))
            .collect())

    extra = docs.orderBy("doc_id").limit(3)
    extra.write.mode("append").parquet(data)
    n_want = docs.filter(F.col("text").isin(probes)).count() + sum(
        r.text in probes for r in extra.collect())
    for kind, idx in paths.items():
        with pytest.raises(ValueError, match="STALE"):
            IndexHandle(spark, idx, data=data)
        build_index[kind](spark, data, idx, index_col="text", cfg=CFG)
        assert not [f for f in os.listdir(idx) if f.endswith(".parquet")]
        got, _ = IndexHandle(spark, idx, data=data).pruned_read(probes)
        assert got.count() == n_want


# ------------------------------------- driver read vs distributed read --


def _driver_and_spark(read):
    """One lookup under the default budget, then with the distributed
    read forced (budget 0)."""
    from fastbloom_spark.plans import planner

    got = read()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(planner, "DRIVER_READ_BUDGET", 0)
        want = read()
    return got, want


def _assert_same_read(got, want):
    """Same rows and schema on both paths; the stats differ only in the
    path they report."""
    import dataclasses

    (gdf, gst), (wdf, wst) = got, want
    assert (gst.read, wst.read) == ("driver", "spark")
    assert dataclasses.replace(gst, read="spark") == wst
    assert gdf.schema.simpleString() == wdf.schema.simpleString()
    rows = lambda df: sorted(map(tuple, df.collect()), key=repr)
    assert rows(gdf) == rows(wdf)
    return rows(gdf)


@pytest.fixture(scope="module")
def seeded_table(spark, tmp_path_factory):
    """48 seeded rows in 4 buckets: ``key`` (24 distinct strings, every
    6th row NULL), ``code`` (numeric strings) and ``n`` all indexed."""
    import random

    rng = random.Random(7)
    rows = [(i, None if i % 6 == 0 else f"key-{rng.randrange(24):02d}",
             str(i % 13), rng.random()) for i in range(48)]
    df = spark.createDataFrame(
        rows, "n bigint, key string, code string, x double")
    path = str(tmp_path_factory.mktemp("seeded") / "tbl")
    write_indexed_table(df, path, index_col=["key", "code", "n"], cfg=CFG,
                        bucket_source="n", num_buckets=4)
    keys = sorted({r[1] for r in rows if r[1] is not None})
    return path, keys


@pytest.mark.parametrize("exact", [True, False], ids=["exact", "candidates"])
def test_driver_read_equals_spark_read_every_key(spark, seeded_table,
                                                 exact):
    """For every key of a seeded table (NULLs in the indexed column), a
    multi-value probe and an absent key, the driver read returns the
    distributed read's rows and schema; an absent key reads 0 rows with
    the full schema."""

    path, keys = seeded_table
    handle = IndexHandle(spark, path)
    for probes in [[k] for k in keys] + [keys[:3], ["absent-key"]]:
        rows = _assert_same_read(*_driver_and_spark(
            lambda: handle.pruned_read(probes, on="key", exact=exact)))
        if exact and probes != ["absent-key"]:
            assert rows and {r[1] for r in rows} <= set(probes)
    got, _ = handle.pruned_read(["absent-key"], on="key")
    assert got.count() == 0
    assert got.schema == spark.read.parquet(f"{path}/data").schema


def test_driver_read_int_probes(spark, seeded_table):
    """An int probe on a string column is not pushed into pyarrow (no
    cast there); Spark's IN casts on both paths, so rows are equal. Int
    probes on a bigint column are pushed down, with the same rows."""

    path, _ = seeded_table
    handle = IndexHandle(spark, path)
    rows = _assert_same_read(*_driver_and_spark(
        lambda: handle.pruned_read([7], on="code")))
    assert rows and {r[2] for r in rows} == {"7"}
    rows = _assert_same_read(*_driver_and_spark(
        lambda: handle.pruned_read([5, 17], on="n")))
    assert sorted(r[0] for r in rows) == [5, 17]


def test_driver_read_plans_spark_in_only_where_pyarrow_did_not_filter(
        spark, seeded_table):
    """A driver lookup whose probes pyarrow matched exactly (same types,
    no NULL) plans no Spark Filter over its LocalTableScan; an int probe
    on a string column, which pyarrow cannot match, still plans Spark's
    IN. Both return the distributed read's rows. (The analyzed plan:
    the optimizer folds a Filter over a LocalRelation into the relation.)
    """

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    path, keys = seeded_table
    handle = IndexHandle(spark, path)
    for probes, on, filtered in (([keys[0]], "key", False),
                                 ([5, 17], "n", False),
                                 ([7], "code", True)):
        got, want = _driver_and_spark(
            lambda: handle.pruned_read(probes, on=on))
        assert _assert_same_read(got, want), (probes, on)
        plan = analyzed(got[0])
        assert plan.startswith("Filter" if filtered else "LocalRelation"), \
            plan
        assert ("Filter" in plan) == filtered, plan


def test_driver_read_files_and_row_groups_equal_spark(spark, docs,
                                                      tmp_path):
    """Standalone file and row-group indexes and the rgbloom sidecar
    over a hive-partitioned table (bucket_id dirs): driver and
    distributed reads agree on rows and schema, partition column
    included."""
    from fastbloom_spark.sources import index_parquet_row_groups

    path = str(tmp_path / "hive")
    write_indexed_table(docs, path, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=4,
                        row_group_index=True)
    data = f"{path}/data"
    fidx, rgidx = str(tmp_path / "fidx"), str(tmp_path / "rgidx")
    index_parquet_files(spark, data, fidx, index_col="text", cfg=CFG)
    index_parquet_row_groups(spark, data, rgidx, index_col="text", cfg=CFG)
    handle = IndexHandle(spark, path)
    fhandle = IndexHandle(spark, fidx, data=data)
    rghandle = IndexHandle(spark, rgidx, data=data)
    texts = member_texts(docs, 3)
    for probes in ([texts[0]], texts, ["absent-abcdef"]):
        for exact in (True, False):
            for read in (
                    lambda: fhandle.pruned_read(probes, exact=exact),
                    lambda: rghandle.pruned_read(probes, exact=exact),
                    lambda: handle.pruned_read_row_groups(probes,
                                                          exact=exact)):
                got, want = _driver_and_spark(read)
                _assert_same_read(got, want)
                assert BUCKET_COL in got[0].columns



def test_driver_read_merges_appended_file_schemas(spark, tmp_path):
    """An append whose frame has NOT NULL columns writes bucket files
    whose parquet fields are required where the first write's are
    optional; the driver read casts each file to the table's schema, as
    Spark's read does, and returns the distributed read's rows."""
    from fastbloom_spark.sources import append_to_indexed_table

    path = str(tmp_path / "appended")
    first = spark.createDataFrame(
        [(i, f"key-{i:02d}") for i in range(24)], "n bigint, key string")
    write_indexed_table(first, path, index_col="key", cfg=CFG,
                        bucket_source="n", num_buckets=2)
    more = spark.range(30, 42).select(
        F.col("id").alias("n"),
        F.concat(F.lit("key-"), F.col("id").cast("string")).alias("key"))
    assert not more.schema["key"].nullable
    append_to_indexed_table(more, path)
    handle = IndexHandle(spark, path)
    keys = ["key-03", "key-30", "key-41"]
    for probes in [[k] for k in keys] + [keys]:
        rows = _assert_same_read(*_driver_and_spark(
            lambda: handle.pruned_read(probes, on="key")))
        assert sorted(r[1] for r in rows) == sorted(probes)


def test_append_casts_to_table_schema(spark, tmp_path):
    """An append whose ``n`` column is int where the table's is bigint is
    written in the table's types, so every bucket keeps one physical
    type and the distributed read of the original keys still works; an
    append lacking a table column is refused before anything is
    written."""
    from fastbloom_spark.plans import planner
    from fastbloom_spark.sources import append_to_indexed_table

    path = str(tmp_path / "append_types")
    write_indexed_table(
        spark.createDataFrame([(i, f"p{i}") for i in range(24)],
                              "n bigint, key string"),
        path, index_col="key", cfg=CFG, bucket_source="n", num_buckets=4)
    append_to_indexed_table(
        spark.createDataFrame([(i, f"q{i}") for i in range(12)],
                              "n int, key string"), path)
    assert spark.read.parquet(f"{path}/data").schema["n"] \
        .dataType.simpleString() == "bigint"
    handle = IndexHandle(spark, path)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(planner, "DRIVER_READ_BUDGET", 0)
        for key, n in (("p1", 1), ("p5", 5), ("p20", 20), ("q3", 3),
                       ("q7", 7)):
            got, stats = handle.pruned_read([key], on="key")
            assert stats.read == "spark"
            assert [(r.n, r.key) for r in got.collect()] == [(n, key)]
    with pytest.raises(ValueError, match=r"\['n'\]"):
        append_to_indexed_table(
            spark.createDataFrame([("z1",)], "key string"), path)
    assert spark.read.parquet(f"{path}/data").count() == 36


def test_file_index_over_timestamp_partitions(spark, tmp_path):
    """A per-file index over a table partitioned by timestamps (whose
    directory names Spark escapes) reads its survivors on both paths with
    zero false negatives, in a non-UTC session zone; so do a row-group
    index and the footer-statistics range read, whose footer scans open
    the escaped files; the file-set witness still refuses the index once
    a file is appended."""
    import datetime

    from fastbloom_spark.sources import (index_parquet_row_groups,
                                         pruned_range_read_row_groups,
                                         rowgroup_zone_stats)

    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        rows = [(f"k{i}", i, datetime.datetime(2024, 1, 1 + i % 2, 0, 30))
                for i in range(20)]
        data, idx = str(tmp_path / "ts_data"), str(tmp_path / "ts_idx")
        spark.createDataFrame(rows, "key string, n int, ts timestamp") \
            .write.partitionBy("ts").parquet(data)
        index_parquet_files(spark, data, idx, index_col="key", cfg=CFG)
        handle = IndexHandle(spark, idx, data=data)
        for probes in (["k3"], ["k0", "k7", "k19"], ["absent"]):
            got = _assert_same_read(*_driver_and_spark(
                lambda: handle.pruned_read(probes)))
            assert got == sorted((r for r in rows if r[0] in probes),
                                 key=repr)
        rg = str(tmp_path / "ts_rg")
        index_parquet_row_groups(spark, data, rg, index_col="key", cfg=CFG)
        for probes in (["k3"], ["k0", "k7", "k19"], ["absent"]):
            got = _assert_same_read(*_driver_and_spark(
                lambda: IndexHandle(spark, rg, data=data).pruned_read(probes)))
            assert got == sorted((r for r in rows if r[0] in probes),
                                 key=repr)
        zones = rowgroup_zone_stats(spark, data, "n").collect()
        assert sum(z.n_rows for z in zones) == len(rows)
        assert all(z.has_stats for z in zones)
        got, _ = pruned_range_read_row_groups(spark, data, "n", 3, 5)
        assert sorted(map(tuple, got.collect()), key=repr) == sorted(
            (r for r in rows if 3 <= r[1] <= 5), key=repr)
        spark.createDataFrame(rows[:1], "key string, n int, ts timestamp") \
            .write.mode("append").partitionBy("ts").parquet(data)
        with pytest.raises(ValueError, match="STALE"):
            IndexHandle(spark, idx, data=data).pruned_read(["k3"])
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_one_shot_range_read_loads_no_filters(spark, docs, tmp_path,
                                              monkeypatch):
    """Module pruned_range_read (a handle's range read) needs zone rows
    and meta only: with filter hydration made to fail it still returns
    the exact rows."""
    from fastbloom_spark.operators import bloom
    from fastbloom_spark.sources import index, pruned_range_read

    path = str(tmp_path / "light_range")
    write_indexed_table(docs, path, index_col="text", cfg=CFG,
                        bucket_source="doc_id", num_buckets=4,
                        zone_cols=["doc_id"])

    def boom(row):
        raise AssertionError("range read hydrated a Bloom filter")

    monkeypatch.setattr(bloom, "sketch_row_to_filter", boom)
    monkeypatch.setattr(index, "sketch_row_to_filter", boom)
    got, stats = pruned_range_read(spark, path, "doc_id", 100, 160)
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in docs.filter("doc_id between 100 and 160")
        .collect())
    assert 1 <= stats.units_survived <= stats.units_total == 4
