"""spark-submit job: global Bloom build over a corpus parquet table.

Usage:
    spark-submit --py-files fastbloom_spark.zip jobs/build_bloom.py \
        <input_parquet> <value_col> <fp> <seed> <checkpoint_out> \
        [layout=flat|block64] [digest=sha256|xxh64]

One scan: digests -> per-partition partials -> checkpoint (resumable
lineage) -> associative merge. Prints one JSON line with the built
filter's geometry and stats — the cluster-deployment entry point the
north rule's --py-files contract names.
"""

import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    inp, value_col, fp, seed, ckpt_out = sys.argv[1:6]
    layout = sys.argv[6] if len(sys.argv) > 6 else "flat"
    digest = sys.argv[7] if len(sys.argv) > 7 else "sha256"
    spark = SparkSession.builder.appName("fastbloom-build").getOrCreate()

    from fastbloom_spark import BloomConfig, BloomFilter
    from fastbloom_spark.functions import digest64
    from fastbloom_spark.operators import (bloom_merge, bloom_partials,
                                           sketch_row_to_filter)
    from fastbloom_spark.sources import write_checkpoint

    df = spark.read.parquet(inp)
    n = df.count()
    if layout == "block64":
        cfg = BloomConfig.block64_from_false_pos(
            float(fp), expected_items=max(n, 1), seed=int(seed),
            digest=digest)
    else:
        cfg = BloomConfig.from_false_pos(
            float(fp), expected_items=max(n, 1), seed=int(seed),
            digest=digest)
    # ONE content scan: partials persist, feed both checkpoint and merge.
    # NULL values never enter a filter: drop them before digesting (xxh64
    # would hash NULL to a non-null constant)
    prepared = df.filter(F.col(value_col).isNotNull()).select(
        digest64(value_col, cfg.digest).alias("__digest64"))
    partials = bloom_partials(prepared, "__digest64", cfg).persist()
    write_checkpoint(partials, ckpt_out, layout=cfg.layout)
    merged = bloom_merge(partials, []).collect()
    partials.unpersist()
    # empty input -> empty filter of the configured geometry
    bloom = sketch_row_to_filter(merged[0]) if merged else BloomFilter(cfg)
    print(json.dumps({
        "rows": bloom.rows_seen, "m": bloom.num_bits, "k": bloom.num_hashes,
        "seed": bloom.seed, "layout": cfg.layout, "digest": cfg.digest,
        "expected_fpp": bloom.expected_false_pos(n),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
