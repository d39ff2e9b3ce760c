"""Sketch checkpointing with per-partition lineage — the `from_vec` surface.

Persisted schema (FIXTURES.md §F3): one Parquet row per partial sketch —
``(sketch_kind, group_key, partition_id, rows_seen, m, k, seed,
words: array<long>, written_at)``. Words-as-longs is the reference's
serialization unit (``iter()``/``from_vec``, fastbloom ``src/lib.rs:148-150``,
``src/lib.rs:206-214``): a checkpoint row round-trips losslessly into a
filter, and — because merge is associative — a resumed run that rebuilds only
the missing partitions and unions them with checkpointed partials produces
bitwise-identical final words.

Resume contract: partition ids are stable for the same input layout (same
files, same partitioning); resuming after a repartition of the input is a
full rebuild. Detection: every checkpoint row records the input's
partition COUNT at write time and resume requires an exact match — a
count change in EITHER direction (split or coalesce) invalidates the
lineage (ids would address different row sets -> silent false negatives).
A same-count re-layout (same files reordered) is NOT detectable from
counts alone and remains the caller's contract, as documented.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, BinaryType

from ..config import BloomConfig
from ..kernel import U64, decode_words, signed64
from ..local import BloomFilter


@F.pandas_udf(ArrayType(LongType()))
def _bytes_to_longs(sketch: pd.Series) -> pd.Series:
    from ..kernel import decode_words

    return sketch.map(
        lambda b: decode_words(bytes(b)).view(np.int64).tolist())


@F.pandas_udf(BinaryType())
def _longs_to_bytes(words: pd.Series) -> pd.Series:
    from ..kernel import encode_words

    return words.map(
        lambda ws: encode_words(np.asarray(ws, dtype=np.int64).view(U64)))


def _require_explicit_seed(cfg: BloomConfig, op: str) -> None:
    """Resume exists to survive driver restarts, but a randomly-drawn seed
    (cfg.seed_drawn, from seed=None) cannot be re-derived after a restart —
    a fresh config would silently match zero checkpoint rows and degrade to
    a full rebuild with only a metrics hint. Same guard as
    streaming_bloom_dedup: refuse loudly, require an explicit seed."""
    if cfg.seed_drawn:
        raise ValueError(
            f"{op} requires an explicit seed: this config's seed was "
            "randomly drawn (seed=None) and cannot be reconstructed after "
            "a driver restart, so the checkpoint would never match. Pass "
            "seed=<int> when building the config.")


def write_checkpoint(
    partials: DataFrame,
    path: str,
    *,
    sketch_kind: str = "bloom",
    group_cols: Sequence[str] = (),
    mode: str = "overwrite",
    layout: str = "flat",
) -> None:
    """Persist partial sketch rows (output of ``bloom_partials``) as a
    resumable Parquet checkpoint with lineage.

    Grouped rows pack their key tuple as ``to_json(struct(keys...))`` —
    LOSSLESS under NULL key values, separator characters inside keys, and
    never colliding with the ``__global__`` sentinel (JSON starts with
    '{'). ``resume_bloom_agg`` inverts it with ``from_json``."""
    keys = list(group_cols)
    group_key = (F.to_json(F.struct(*[F.col(k) for k in keys]))
                 if keys else F.lit("__global__"))
    layout_col = (F.col("layout") if "layout" in partials.columns
                  else F.lit(layout))
    digest_col = (F.col("digest") if "digest" in partials.columns
                  else F.lit("sha256"))
    out = partials.select(
        F.lit(sketch_kind).alias("sketch_kind"),
        group_key.alias("group_key"),
        F.col("partition_id"),
        # the layout witness resume compares against (see module docstring)
        F.lit(int(partials.rdd.getNumPartitions())).cast("long")
        .alias("n_parts"),
        F.col("rows_seen"),
        # partial rows no longer carry build wall time; the column stays
        # so the file schema (and older checkpoints) read unchanged
        F.lit(None).cast("double").alias("build_ms"),
        F.col("m"), F.col("k"), F.col("seed"),
        layout_col.alias("layout"),
        digest_col.alias("digest"),
        _bytes_to_longs(F.col("sketch")).alias("words"),
        F.current_timestamp().alias("written_at"),
    )
    out.write.mode(mode).parquet(path)


def read_checkpoint(spark: SparkSession, path: str) -> DataFrame:
    """Load a checkpoint back into partial-sketch shape (binary words)."""
    df = spark.read.parquet(path)
    layout = (F.col("layout") if "layout" in df.columns
              else F.lit("flat"))
    digest = (F.col("digest") if "digest" in df.columns
              else F.lit("sha256"))
    n_parts = (F.col("n_parts") if "n_parts" in df.columns
               else F.lit(None).cast("long"))  # pre-witness checkpoints
    return df.select(
        "sketch_kind", "group_key", "partition_id",
        n_parts.alias("n_parts"), "rows_seen", "build_ms",
        "m", "k", "seed", layout.alias("layout"), digest.alias("digest"),
        _longs_to_bytes(F.col("words")).alias("sketch"),
        "written_at",
    )


def _layout_matches(ckpt, done_ids: set, n_parts: int) -> bool:
    """True iff the checkpointed lineage addresses THIS input layout.

    New checkpoints carry the writer's partition count — require an exact
    match (a split into MORE partitions re-maps which rows live in ids
    0..n-1, so subset-of-range acceptance would silently skip rows ->
    Bloom false negatives). Legacy checkpoints without the witness fall
    back to the old subset check (which only catches coalesces)."""
    witness = ckpt.agg(F.max("n_parts")).first()[0]
    if witness is not None:
        return int(witness) == int(n_parts)
    return not (done_ids - set(range(n_parts)))


def _resume_partials(spark: SparkSession, checkpoint_path: str,
                     df: DataFrame, keys: list[str], value_col: str,
                     cfg: BloomConfig, digest_precomputed: bool, op: str):
    """``(checkpointed partials still valid for this input, fresh partials
    of every other partition, metrics)``. The input takes a cold build's
    funnel (NULL values dropped before digesting) and keeps its partition
    ids — the lineage checkpoint rows are keyed on."""
    from ..operators.bloom import BloomSketch
    from ..operators.sketch_agg import _partials, _prepare

    _require_explicit_seed(cfg, op)
    # Seed is part of the filter geometry: partials hashed under a different
    # seed probe false under this cfg, so a seed-mismatched checkpoint must
    # NOT be resumed (the local union() rejects seed mismatch for the same
    # reason). Parquet stores seed as signed int64 — convert cfg.seed.
    seed_signed = signed64(cfg.seed)
    is_global = F.col("group_key") == "__global__"
    ckpt = read_checkpoint(spark, checkpoint_path) \
        .filter(F.col("sketch_kind") == "bloom") \
        .filter(~is_global if keys else is_global) \
        .filter((F.col("m") == cfg.num_bits) & (F.col("k") == cfg.num_hashes)
                & (F.col("layout") == cfg.layout)
                & (F.col("digest") == cfg.digest)
                & (F.col("seed") == F.lit(seed_signed).cast("long")))
    done_rows = ckpt.select("partition_id", "rows_seen").collect()
    done_ids = {r.partition_id for r in done_rows}

    impl = BloomSketch(cfg)
    prepared = _prepare(df, value_col, impl, keys, digest_precomputed)
    n_parts = prepared.rdd.getNumPartitions()
    if done_ids and not _layout_matches(ckpt, done_ids, n_parts):
        done_ids = set()  # input layout changed: full rebuild

    todo = prepared
    if done_ids:
        # JVM-side partition pruning: spark_partition_id() is evaluated in
        # the scan stage (narrow, pre-shuffle), so skipped partitions never
        # reach the hash kernel; no Python RDD round-trip.
        todo = (prepared
                .withColumn("__pid", F.spark_partition_id())
                .filter(~F.col("__pid").isin([int(i) for i in done_ids]))
                .drop("__pid"))
    # Only partials whose partitions were actually SKIPPED contribute; when
    # done_ids was cleared (partition layout changed → full rebuild) the
    # checkpoint contributes nothing — otherwise stale bits would inflate
    # FPR and rows_seen would double-count.
    ckpt_used = ckpt.filter(
        F.col("partition_id").isin([int(i) for i in done_ids])
        if done_ids else F.lit(False))
    metrics = {
        "partitions_total": n_parts,
        "partitions_resumed": len(done_ids),
        "partitions_rebuilt": n_parts - len(done_ids),
        "rows_from_checkpoint": sum(r.rows_seen for r in done_rows
                                    if r.partition_id in done_ids),
    }
    return ckpt_used, _partials(todo, impl, keys), metrics


_PARTIAL_COLS = ["partition_id", "m", "k", "seed", "layout", "digest",
                 "rows_seen", "sketch"]


def resume_bloom_agg(
    spark: SparkSession,
    checkpoint_path: str,
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    cfg: BloomConfig,
    *,
    digest_precomputed: bool = False,
    fanin: int = 16,
) -> tuple[DataFrame, dict]:
    """Resume a GROUPED sketch build (``bloom_agg``) from a per-(group,
    partition) checkpoint written with ``write_checkpoint(partials,
    group_cols=keys)``.

    Lineage contract: a partition is DONE iff any of its rows appear in
    the checkpoint (``bloom_partials`` emits one row per group present in
    the partition; a processed partition emits rows for every group it
    contained, so presence of the partition id == the whole partition's
    groups are covered). Done partitions' rows are never re-hashed; the
    merge unions checkpointed partials with freshly built ones per key —
    associativity makes the result bitwise-identical to a cold
    ``bloom_agg``. Returns ``(sketch_rows_df, metrics)``; the rebuilt
    DataFrame carries the original key columns restored from the packed
    group_key.
    """
    from pyspark.sql.types import StructType

    from ..operators.bloom import bloom_merge

    keys = list(key_cols)
    ckpt_used, new_partials, metrics = _resume_partials(
        spark, checkpoint_path, df, keys, value_col, cfg,
        digest_precomputed, "resume_bloom_agg")
    # unpack group_key (to_json(struct(keys)) — lossless under NULLs,
    # separators, and the __global__ sentinel) back into typed key columns
    key_schema = StructType(
        [f for f in df.schema.fields if f.name in keys])
    parsed = F.from_json(F.col("group_key"), key_schema).alias("__keys")
    ckpt_keys = ckpt_used.select(parsed, *_PARTIAL_COLS) \
        .select(*[F.col(f"__keys.{k}").alias(k) for k in keys],
                *_PARTIAL_COLS)
    all_partials = new_partials.unionByName(ckpt_keys)
    return bloom_merge(all_partials, keys, fanin=fanin), metrics


def resume_bloom_build(
    spark: SparkSession,
    checkpoint_path: str,
    df: DataFrame,
    value_col: str,
    cfg: BloomConfig,
    *,
    digest_precomputed: bool = False,
    fanin: int = 16,
) -> tuple[BloomFilter, dict]:
    """Resume a global Bloom build from a partial checkpoint.

    Rebuilds ONLY partitions absent from the checkpoint (the map work for
    checkpointed partitions is skipped entirely — their rows are never
    hashed), unions new partials with checkpointed ones, and merges. Returns
    ``(filter, metrics)`` where metrics records skipped/rebuilt partition
    counts and rows.
    """
    from ..operators.bloom import bloom_merge

    ckpt_used, new_partials, metrics = _resume_partials(
        spark, checkpoint_path, df, [], value_col, cfg, digest_precomputed,
        "resume_bloom_build")
    all_partials = new_partials.unionByName(ckpt_used.select(*_PARTIAL_COLS))
    merged = bloom_merge(all_partials, [], fanin=fanin).collect()
    if not merged:
        return BloomFilter(cfg), metrics
    row = merged[0]
    return (BloomFilter(cfg, decode_words(bytes(row.sketch)),
                        rows_seen=row.rows_seen), metrics)
