"""Physical-plan shape assertions — the 100 TB questions, checked in CI.

Each test renders `.explain("formatted")` (or the queryExecution string)
and asserts the property that matters at scale: filters reach the parquet
scan, projections prune columns, small sides broadcast, and no operator
degenerates into a cartesian product.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from fastbloom_spark import BloomConfig


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir):
    """Predicate pushdown + column pruning through the operator funnel:
    a lang-filtered bloom_agg must push the lang filter into the parquet
    scan and read only the columns it needs."""
    from fastbloom_spark.operators import bloom_agg

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(F.col("lang") == "en")
    cfg = BloomConfig.with_num_bits(1 << 12, num_hashes=4, seed=1)
    out = bloom_agg(docs, ["lang"], "text", cfg, distinct_keys_hint=4)
    plan = formatted(out)
    # IsNotNull(text): the operator's own NULL-value filter also reaches
    # the scan (free at the format layer, not a post-read filter)
    assert ("PushedFilters: [IsNotNull(lang), EqualTo(lang,en), "
            "IsNotNull(text)]") in plan, plan
    # projection pruned to the two referenced columns
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "lang" in scan_schema and "text" in scan_schema
    assert "doc_id" not in scan_schema and "source" not in scan_schema


def test_ann_probe_join_broadcasts(spark, sf_dir):
    """IVF candidate selection joins corpus cells against the tiny probe
    table via BroadcastHashJoin — corpus rows never shuffle."""
    from fastbloom_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = np.array([r.embedding for r in emb.limit(2).collect()],
                 dtype=np.float64)
    out = ivf_topk(emb, "vec_id", "embedding", q, k=3, n_centroids=4,
                   nprobe=2, seed=1)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # corpus must not shuffle for probes


def test_minhash_banding_no_cartesian(spark, sf_dir):
    """LSH candidate generation is a bucket equi-join on (band_idx,
    band_hash) — never a cartesian/nested-loop product."""
    from fastbloom_spark.operators.dedup import minhash_candidate_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text",
                                    num_perm=32, bands=8)
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_semi_join_prefilter_before_join(spark, sf_dir):
    """The runtime-filter pattern: the Bloom probe must sit UNDER the exact
    join (rows are dropped map-side before any join shuffle), and the join
    itself must be an equi-join, not a product."""
    from fastbloom_spark.operators import bloom_semi_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .filter(F.col("o_totalprice") > 150000)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = bloom_semi_join(li, orders, "l_orderkey", "o_orderkey", fp=0.01,
                          seed=1, expected_items=2000)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    # probe UDF evaluated below the join: in the string rendering the
    # semi-join node prints before (above) the python-UDF filter stage
    assert plan.index("LeftSemi") < plan.index("pythonUDF"), plan


def test_bloom_semi_join_partials_on_planned_build_partition(
        spark, monkeypatch):
    """A small build side: bloom_build's planner picks ONE build partition,
    and the partial mapInPandas runs right on the planner's reshape (a
    coalesce, or — as here, where the cost model prefers it — a shuffle of
    the 8-byte digests to one partition). No second Exchange re-widens
    the input between that reshape and the partials."""
    from fastbloom_spark.operators import bloom as bloom_mod
    from fastbloom_spark.operators import bloom_semi_join

    seen = []
    real_fold = bloom_mod._collect_fold
    monkeypatch.setattr(bloom_mod, "_collect_fold", lambda partials, impl: (
        seen.append(partials) or real_fold(partials, impl)))
    orders = spark.range(0, 3000, 1, 4).select(
        (F.col("id") * 2 + 1).alias("o_orderkey"))
    li = spark.range(0, 6000, 1, 4).select(
        (F.col("id") % 4000).alias("l_orderkey"))
    out = bloom_semi_join(li, orders, "l_orderkey", "o_orderkey", fp=0.01,
                          seed=1, expected_items=3000)
    assert out.count() == 3000  # odd keys < 4000, keys < 2000 twice
    assert len(seen) == 1, "build did not take the driver fold"
    partials = seen[0]
    assert partials.rdd.getNumPartitions() == 1
    # the physical plan before AQE wraps the exchanges in query stages
    lines = partials._jdf.queryExecution().sparkPlan().toString() \
        .splitlines()
    i_map = next(i for i, l in enumerate(lines) if "MapInPandas" in l)
    reshapes = [i for i, l in enumerate(lines)
                if "Exchange" in l or "Coalesce" in l]
    assert reshapes == [i_map + 1], lines
    assert ("Exchange SinglePartition" in lines[i_map + 1]
            or "Coalesce 1" in lines[i_map + 1]), lines


def test_partials_keep_input_partition_ids(spark):
    """Checkpoint lineage: on a 2-partition input under local[4] (narrower
    than the task slots, so any widening would reshape it), every partial
    row's partition_id is the spark_partition_id() of its input rows, and
    bloom_agg builds its partials on that layout too."""
    from fastbloom_spark.functions import digest64
    from fastbloom_spark.operators import bloom_agg, bloom_partials

    cfg = BloomConfig.with_num_bits(1 << 12, num_hashes=3, seed=1)
    df = spark.range(0, 1000, 1, 2).select(
        (F.col("id") % 4).alias("g"),
        digest64(F.col("id").cast("string")).alias("d"))
    assert spark.sparkContext.defaultParallelism > 2
    expected = {(r.g, r.pid): r.n for r in df.groupBy(
        "g", F.spark_partition_id().alias("pid")).count()
        .withColumnRenamed("count", "n").collect()}
    partials = bloom_partials(df, "d", cfg, ["g"])
    assert partials.rdd.getNumPartitions() == 2
    got = {(r.g, r.partition_id): r.rows_seen for r in partials.collect()}
    assert got == expected
    # bloom_agg's partials stay on the input layout too: Bloom never widens
    agg = bloom_agg(df, ["g"], "d", cfg, digest_precomputed=True,
                    strategy="partial")
    assert "RoundRobinPartitioning" not in plan_of(agg), plan_of(agg)


def test_grouped_agg_partial_before_shuffle(spark, sf_dir):
    """Catalyst partial aggregation (map-side combine) on the exact-dedup
    hash shuffle: HashAggregate appears both before and after the
    Exchange."""
    from fastbloom_spark.operators.text import dedup_exact

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup_exact(docs, "doc_id", "text")
    plan = plan_of(out)
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[first_exchange:], plan
    assert "HashAggregate" in plan[:first_exchange] or \
        "partial_" in plan, plan


def test_salted_shuffle_partitions_by_key_and_salt(spark, sf_dir):
    """The salt>1 shuffle strategy must materialize as ONE hash exchange on
    (keys..., pmod(xxhash64(digest), salt)) — the physical property that
    splits a hot key across tasks at any scale."""
    from fastbloom_spark.operators import bloom_agg

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cfg = BloomConfig.with_num_bits(1 << 12, num_hashes=4, seed=1)
    out = bloom_agg(docs, ["lang"], "text", cfg, strategy="shuffle", salt=8)
    plan = plan_of(out)
    import re

    exch = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert exch, plan
    salted_exch = [l for l in exch if "lang" in l and "pmod" in l
                   and "xxhash64" in l]
    assert salted_exch, exch
    # explicit partition count (AQE must not coalesce the spread away):
    # REPARTITION_BY_NUM marks a user-pinned exchange
    assert re.search(r"REPARTITION_BY_NUM", plan), plan


def test_dedup_widens_narrow_inputs_only(spark, sf_dir):
    """Hash-heavy dedup map stages parallelize single-partition inputs
    (repartition to defaultParallelism) but leave wide inputs alone — the
    widen must be a no-op at real scale."""
    from fastbloom_spark.operators.dedup import _widen

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    narrow = docs.coalesce(1)
    wide = docs.repartition(spark.sparkContext.defaultParallelism + 4)
    assert _widen(narrow).rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism
    # already-wide input: untouched (no extra exchange)
    assert _widen(wide) is wide


def test_index_build_prunes_columns(spark, sf_dir, tmp_path):
    """The multi-column index build reads ONLY the indexed columns from
    parquet (bucket ids come from partition directories; digests are
    computed pre-explode) — at 100 TB the index pass must not drag the
    full row width through the scan."""
    from fastbloom_spark import BloomConfig
    from fastbloom_spark.sources.index import (BUCKET_COL,
                                               _build_index_rows,
                                               bucket_col)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cfg = BloomConfig.from_false_pos(0.01, expected_items=80, seed=42)
    path = str(tmp_path / "idxplan")
    docs.withColumn(BUCKET_COL, bucket_col("doc_id", 8)) \
        .repartition(8, F.col(BUCKET_COL)) \
        .write.partitionBy(BUCKET_COL).parquet(f"{path}/data")
    written = spark.read.parquet(f"{path}/data")
    idx = _build_index_rows(written, ["text", "source"], cfg, 8, "doc_id")
    plan = formatted(idx)
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in scan_schema and "source" in scan_schema
    for unneeded in ("doc_id", "lang", "n_chars"):
        assert unneeded not in scan_schema, scan_schema


def test_pipeline_no_join_back_and_no_lineage_recompute(spark, sf_dir):
    """corpus_pipeline's scale claim: text rides the pack shuffle as
    payload, so the plan has NO second full-document join-back — the only
    sort-merge joins are dedup's survivor semi-join pair, the flagged-id
    anti join and gram verify are broadcasts, and nothing degenerates
    into a product. (Before the payload restructure this plan carried 15
    hash exchanges and 5 SMJs from the duplicated kept lineage; now 9/2.)"""
    from fastbloom_spark.operators.pipeline import (CorpusPipelineConfig,
                                                    corpus_pipeline)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    out = corpus_pipeline(docs, bench=bench,
                          cfg=CorpusPipelineConfig(min_quality=0.35))
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # dedup's semi-join is the ONLY sort-merge join family in the plan;
    # a join-back-by-id regression would add SMJs over full rows
    assert plan.count("SortMergeJoin") <= 2, plan.count("SortMergeJoin")
    # flagged ids + verify grams arrive as broadcasts
    assert plan.count("BroadcastHashJoin") >= 1


def test_global_block_ids_broadcasts_offsets_no_global_sort(spark, sf_dir):
    """The global renumber must stay a broadcast join + projection over
    the packed rows: per-(group, shard) offsets are driver-sized metadata,
    so the data may NOT pay a global sort or an extra shuffle exchange."""
    from fastbloom_spark.operators.pack import (global_block_ids,
                                                pack_documents)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    packed = pack_documents(docs, capacity=64, num_shards=4, seed=7)
    out = global_block_ids(packed)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the only exchange below the join is the pack shuffle itself (plus
    # the broadcast exchange for the offsets); a global ordering would
    # show a rangepartitioning exchange
    assert "rangepartitioning" not in plan.lower(), plan
