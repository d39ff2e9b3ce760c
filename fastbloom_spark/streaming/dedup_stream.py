"""Structured Streaming operators: stateful Bloom dedup + windowed sketches.

The reference's ``AtomicBloomFilter`` is its concurrent-ingest story
(fastbloom ``src/lib.rs:383-390``); the Structured Streaming rendering is a
sharded keyed state: each state shard owns a private bit array updated by
``applyInPandasWithState`` — same share-nothing replacement of atomics as the
batch build, plus exactly-once state via checkpointing.

Dedup semantics (documented contract): a row is emitted iff its digest did
NOT probe true in the shard's filter at processing time. False positives
(rate bounded by the configured fp) DROP a first-occurrence row — acceptable
for corpus dedup where a small loss is the price of O(m) state; use the
exact ``dropDuplicates`` + watermark for loss-free small-window dedup.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (BinaryType, LongType, StructField, StructType)

from ..config import BloomConfig
from ..functions.digest import digest64
from ..kernel import (U64, contains_hashes, exact_int64,
                      insert_hashes, source_hash)


def streaming_bloom_dedup(
    stream: DataFrame,
    value_col: str,
    cfg: BloomConfig,
    *,
    num_shards: int = 32,
    id_cols: Iterable[str] = (),
) -> DataFrame:
    """First-occurrence pass-through filter over an unbounded stream.

    Rows shard by ``pmod(digest64, num_shards)`` (uniform by construction —
    sha256 digests), each shard holding one m-bit filter in streaming state:
    state size is EXACTLY num_shards * m/8 bytes forever (the reference's
    "memory never grows" invariant, fastbloom src/lib.rs:42, carried into
    streaming). Emits the original id columns + digest64 of first-seen rows.
    Rows whose ``value_col`` is NULL are EXCLUDED from the output (NULL
    carries no identity), matching the batch paths.
    """
    if cfg.seed_drawn:
        raise ValueError(
            "streaming state must survive driver restarts, but this config's "
            "seed was randomly drawn (seed=None) and cannot be re-derived — "
            "pass an explicit seed")
    ids = list(id_cols)
    out_schema = StructType(
        [f for f in stream.schema.fields if f.name in ids]
        + [StructField("digest64", LongType())])
    state_schema = StructType([
        StructField("rows_seen", LongType()),
        StructField("words", BinaryType()),
    ])
    num_words, k, seed = cfg.num_words, cfg.num_hashes, cfg.seed
    layout = cfg.layout

    def dedup_fn(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            rows_seen, words_bytes = state.get
            words = np.frombuffer(words_bytes, dtype="<u8").astype(U64)
        else:
            rows_seen = 0
            words = np.zeros(num_words, dtype=U64)
        for pdf in pdfs:
            digests = exact_int64(pdf["digest64"], "stream digest")
            hashes = source_hash(digests, seed)
            # first occurrence within the batch AND not already in state:
            # probe-then-insert per batch; intra-batch dups resolved by
            # keeping the first index of each digest
            seen_before = contains_hashes(words, hashes, k, layout)
            first_idx = pdf.index[~pdf["digest64"].duplicated()]
            fresh_mask = ~seen_before & pdf.index.isin(first_idx)
            insert_hashes(words, hashes, k, layout)
            rows_seen += len(pdf)
            out = pdf.loc[fresh_mask, ids + ["digest64"]]
            if len(out):
                yield out
        state.update((rows_seen, words.astype("<u8").tobytes()))

    # NULL-in -> excluded: filter the RAW value column BEFORE the digest.
    # F.xxhash64(NULL) is a non-null constant, so a digest-null filter would
    # let every NULL row share one digest — the first would be emitted with a
    # bogus digest and the rest silently dropped as "duplicates" (and sha256
    # NULLs would vanish). Matches operators/sketch_agg._prepare: NULL
    # values carry no identity and are excluded from the deduped output.
    prepared = stream.filter(F.col(value_col).isNotNull()) \
        .withColumn("digest64", digest64(F.col(value_col), cfg.digest)) \
        .filter(F.col("digest64").isNotNull()) \
        .withColumn("__shard",
                    F.pmod(F.col("digest64"), F.lit(num_shards)).cast("int"))
    return prepared.groupBy("__shard").applyInPandasWithState(
        dedup_fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)


def windowed_distinct_estimate(
    stream: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    rsd: float = 0.05,
) -> DataFrame:
    """Distinct-count estimates per event-time tumbling window with late-data
    handling — built-in HLL++ (``approx_count_distinct``) under a watermark;
    the declarative path Catalyst already optimizes (incremental partial
    aggregation in the state store)."""
    return stream.withWatermark(ts_col, watermark) \
        .groupBy(F.window(F.col(ts_col), window).alias("win")) \
        .agg(F.approx_count_distinct(value_col, rsd).alias("approx_distinct")) \
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "approx_distinct")
