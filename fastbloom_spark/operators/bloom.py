"""Distributed Bloom operators — the Bloom impl of the sketch protocol, its
planned global build, probe, SQL registration and semi-join.

* **build / merge / agg / rollup** run on the one mergeable-aggregator
  topology of ``operators/sketch_agg.py``: :class:`BloomSketch` plugs the
  filter in. Each input partition folds its Arrow batches into a private
  numpy bit array inside ``mapInPandas`` — the share-nothing analogue of
  the reference's ``AtomicBloomFilter`` concurrent build (fastbloom
  ``src/lib.rs:383-390``); merges shuffle only m/8-byte sketch rows, never
  rows. OR is associative + commutative word-wise (``src/
  bit_vector.rs:98-104``), so the result is bitwise-identical for every
  partition count, ordering, and merge tree. The filter geometry (m, k,
  seed, layout, digest) rides as group-constant columns in every row.
* **global build** (:func:`bloom_build`) adds the planner's choices
  (``plans/planner.py``): build parallelism P*, coalesce vs digest shuffle,
  and the driver fold vs the range-sharded merge for above-budget filters.
* **probe** broadcasts the finished filter (tiny) and runs the vectorized
  short-circuit kernel inside a scalar pandas UDF; registered for SQL.
"""

from __future__ import annotations

import functools
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..config import BloomConfig
from ..functions.digest import digest64
from ..kernel import (
    U64,
    contains_hashes,
    decode_words,
    encode_words,
    exact_int64,
    insert_hashes,
    signed64,
    source_hash,
    words_from_bytes,
)
from ..local import BloomFilter
from .sketch_agg import (_collect_fold, _fold, _partials, _prepare,
                         _rollup, sketch_agg, sketch_merge)


class BloomSketch:
    """A Bloom filter as a :mod:`~fastbloom_spark.operators.sketch_agg`
    impl. State is the u64 word array; payloads use the
    :func:`~fastbloom_spark.kernel.encode_words` codec, whose R/Z tag is
    already the transport envelope. ``cfg`` may be omitted for merge-only
    use: merges read the geometry from the rows' header columns."""

    name = "bloom"
    input_kind = "digest"
    #: word-wise OR is exact: bitwise-identical for any partition layout
    order_invariant = True
    #: partials are m/8 bytes each, so how many there are is the planner's
    #: call (plans/planner.py), never a blanket widen of narrow inputs
    widen = False
    header = (("m", "long"), ("k", "int"), ("seed", "long"),
              ("layout", "string"), ("digest", "string"))

    def __init__(self, cfg: BloomConfig | None = None):
        self.cfg = cfg
        self.digest = cfg.digest if cfg is not None else "sha256"

    @property
    def state_bytes(self) -> int:
        return self.cfg.num_words * 8

    def header_values(self) -> tuple:
        c = self.cfg
        return (c.num_bits, c.num_hashes, signed64(c.seed), c.layout,
                c.digest)

    def empty(self) -> np.ndarray:
        return np.zeros(self.cfg.num_words, dtype=U64)

    def update(self, words: np.ndarray, digests: np.ndarray) -> np.ndarray:
        insert_hashes(words, source_hash(digests.view(U64), self.cfg.seed),
                      self.cfg.num_hashes, self.cfg.layout)
        return words

    @staticmethod
    def merge(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        # decoded states are read-only views over their payloads: merging
        # onto one copies it first, and later merges OR into that one
        # writable accumulator in place
        if not a.flags.writeable:
            a = a.copy()
        return np.bitwise_or(a, b, out=a)

    serialize = staticmethod(encode_words)

    @staticmethod
    def deserialize(buf) -> np.ndarray:
        return words_from_bytes(buf, copy=False)


def bloom_partials(
    df: DataFrame,
    digest_col: str,
    cfg: BloomConfig,
    key_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-partition partial sketches: one row per (keys..., partition).

    Map-side only — the output is a DataFrame of
    ``(key_cols..., partition_id, m, k, seed, layout, digest, rows_seen,
    sketch)`` with at most ``num_partitions * distinct_keys_in_partition``
    rows, each m/8 bytes. ``digest_col`` holds precomputed digest64
    values; NULL digests are dropped, and the input keeps its partitioning.
    """
    keys = list(key_cols)
    impl = BloomSketch(cfg)
    return _partials(_prepare(df, digest_col, impl, keys, True), impl, keys)


def bloom_partials_sharded(
    df: DataFrame,
    digest_col: str,
    cfg: BloomConfig,
    *,
    num_shards: int | None = None,
) -> DataFrame:
    """Per-partition build that emits the bit vector in word-range shards.

    For large filters the P partial bit-arrays (P * m/8 bytes) dwarf both the
    input digests and the final sketch; collecting them on one node (driver or
    a single merge task) caps scaling. Sharding by word range makes the merge
    embarrassingly parallel: shard ``r`` of every partition shuffles to one
    reducer, is OR-reduced there, and the driver only ever sees the m/8 bytes
    of the final filter. OR per shard is still associative/commutative, so the
    result stays bitwise-identical to every other merge topology.

    Output: ``(partition_id int, shard int, rows_seen long, chunk binary)``;
    rows_seen is recorded on shard 0 only (so sums stay correct).
    """
    impl = BloomSketch(cfg)
    shards = num_shards or min(64, max(8, cfg.num_words // 131072))
    bounds = np.linspace(0, cfg.num_words, shards + 1).astype(np.int64)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        words, seen = _fold(batches, impl, []).get((), (None, 0))
        if seen == 0:
            return
        rows = []
        for s in range(shards):
            chunk = words[bounds[s]:bounds[s + 1]]
            rows.append((pid, s, seen if s == 0 else 0,
                         chunk.astype("<u8", copy=False).tobytes()))
        yield pd.DataFrame(
            rows, columns=["partition_id", "shard", "rows_seen", "chunk"])

    return _prepare(df, digest_col, impl, [], True).mapInPandas(
        build, "partition_id int, shard int, rows_seen long, chunk binary")


def bloom_merge_sharded(partials: DataFrame, cfg: BloomConfig) -> BloomFilter:
    """Reduce sharded partials to one filter: OR per shard in parallel
    reducers, then assemble the m/8-byte result on the driver."""

    def merge_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = functools.reduce(BloomSketch.merge, (
            np.frombuffer(bytes(b), dtype="<u8").view(U64)
            for b in pdf["chunk"]))
        return pd.DataFrame({
            "shard": [int(pdf["shard"].iloc[0])],
            "rows_seen": [int(pdf["rows_seen"].sum())],
            "chunk": [acc.astype("<u8", copy=False).tobytes()],
        })

    merged = partials.groupBy("shard").applyInPandas(
        merge_shard, "shard int, rows_seen long, chunk binary").toPandas()
    if merged.empty:
        return BloomFilter(cfg)
    merged = merged.sort_values("shard")
    words = np.frombuffer(
        b"".join(bytes(b) for b in merged["chunk"]), dtype="<u8").astype(U64)
    return BloomFilter(cfg, words, rows_seen=int(merged["rows_seen"].sum()))


def bloom_merge(
    partials: DataFrame,
    key_cols: Sequence[str] = (),
    *,
    fanin: int = 16,
) -> DataFrame:
    """Two-phase associative OR-merge of partial sketch rows
    (:func:`~fastbloom_spark.operators.sketch_agg.sketch_merge`)."""
    return sketch_merge(partials, BloomSketch(), key_cols, fanin=fanin)


def bloom_agg(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str | Column,
    cfg: BloomConfig,
    *,
    digest_precomputed: bool = False,
    fanin: int = 16,
    strategy: str = "auto",
    distinct_keys_hint: int | None = None,
    salt: int | str = 1,
) -> DataFrame:
    """Grouped Bloom aggregation: one sketch row per distinct key tuple.

    ``SELECT keys..., bloom_union_agg(digest64(value)) GROUP BY keys`` in
    spirit. Sketches are re-aggregable: per-repo outputs roll up to
    per-lang/global by further union (the reference's ``union``,
    ``src/lib.rs:286-317``). ``strategy``, ``distinct_keys_hint`` and
    ``salt`` are :func:`~fastbloom_spark.operators.sketch_agg.sketch_agg`'s
    (SURVEY.md §2 #14 note): the shuffle strategy moves 16 B (key, digest)
    rows, and salting is bitwise-identical to unsalted (OR is associative).
    """
    return sketch_agg(df, key_cols, value_col, BloomSketch(cfg),
                      digest_precomputed=digest_precomputed, fanin=fanin,
                      strategy=strategy,
                      distinct_keys_hint=distinct_keys_hint, salt=salt)


def bloom_rollup(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str | Column,
    cfg: BloomConfig,
    *,
    digest_precomputed: bool = False,
    fanin: int = 16,
    distinct_keys_hint: int | None = None,
) -> DataFrame:
    """Hierarchical rollup of sketches: one sketch per prefix level of
    ``key_cols`` — (k1, k2, ..., kn), (k1, ..., k_{n-1}), ..., (), with
    nulls marking rolled-up columns (the ``rollup`` shape).

    Rows are read ONCE (the finest level); every coarser level is a pure
    sketch union of the level below — the re-aggregability the reference's
    ``union`` provides (fastbloom src/lib.rs:286-317). At 10^12-file scale
    this is the difference between n-row scans per level and KB-sized merges.
    """
    keys = list(key_cols)
    finest = bloom_agg(df, keys, value_col, cfg,
                       digest_precomputed=digest_precomputed, fanin=fanin,
                       distinct_keys_hint=distinct_keys_hint)
    return _rollup(finest, keys, BloomSketch(cfg))


def bloom_build(
    df: DataFrame,
    value_col: str | Column,
    cfg: BloomConfig | None = None,
    *,
    fp: float | None = None,
    expected_items: int | None = None,
    seed: int = 0,
    digest: str = "sha256",
    digest_precomputed: bool = False,
    fanin: int = 16,
) -> BloomFilter:
    """Global build: DataFrame column → one :class:`BloomFilter` on the driver.

    The FPR-driven path without ``expected_items`` runs ``df.count()`` first —
    the distributed mirror of the reference's ``.items(iter)`` builder needing
    ``iter.len()`` (``src/builder.rs:120-128``). Only partial sketches
    (m/8 bytes each, P* of them) or, above the driver budget, the final
    m/8 bytes are collected.

    Seed convention: operator entry points default to a FIXED seed
    (deterministic-by-default — distributed jobs are rerun, diffed, and
    resumed, so cross-run bit-reproducibility is the safe default);
    reference-style random seeding (``src/hasher.rs:50-75``) is opt-in by
    constructing ``BloomConfig(seed=None)`` explicitly.
    """
    n_hint = expected_items
    if cfg is None:
        if fp is None:
            raise ValueError("provide cfg or fp")
        n_hint = expected_items if expected_items is not None else df.count()
        cfg = BloomConfig.from_false_pos(fp, expected_items=max(n_hint, 1),
                                         seed=seed, digest=digest)

    impl = BloomSketch(cfg)
    prepared = _prepare(df, value_col, impl, [], digest_precomputed)

    # plan parallelism + merge topology (see plans/planner.py for the model)
    from ..plans import plan_bloom_build

    sc = df.sparkSession.sparkContext
    plan = plan_bloom_build(
        cfg,
        input_partitions=prepared.rdd.getNumPartitions(),
        default_parallelism=sc.defaultParallelism,
        expected_items=n_hint,
    )
    if plan.build_partitions < prepared.rdd.getNumPartitions():
        if plan.scan_strategy == "shuffle":
            # digest column is 8 B/row: repartition keeps the sha2 scan at
            # full parallelism and ships only digests to the build tasks
            prepared = prepared.repartition(plan.build_partitions)
        else:
            prepared = prepared.coalesce(plan.build_partitions)

    if plan.merge_strategy == "range_sharded":
        sharded = bloom_partials_sharded(prepared, "__value", cfg)
        return bloom_merge_sharded(sharded, cfg)

    # partial payloads travel raw or zlib (encode_words) and the Arrow
    # collect moves them at memory speed, so the driver fold beats a
    # shuffle round; grouped aggregations keep the two-phase merge
    words, rows_seen = _collect_fold(_partials(prepared, impl, []), impl)
    return BloomFilter(cfg, words, rows_seen=rows_seen)


def sketch_row_to_filter(row) -> BloomFilter:
    """Hydrate a sketch row (from bloom_agg / checkpoint) into a filter."""
    seed = int(row.seed) & ((1 << 64) - 1)
    layout = getattr(row, "layout", None) or "flat"
    digest = getattr(row, "digest", None) or "sha256"
    cfg = BloomConfig(num_bits=int(row.m), num_hashes=int(row.k), seed=seed,
                      layout=layout, digest=digest)
    return BloomFilter(cfg, decode_words(bytes(row.sketch)),
                       rows_seen=int(row.rows_seen))


def _broadcast_probe_udf(spark: SparkSession, bloom: BloomFilter):
    """The ONE broadcast-probe closure behind bloom_contains_col AND
    register_bloom_sql: words ship once per executor and are viewed
    zero-copy per batch (copying a multi-MB filter per batch is pure
    waste). NULL digests must be filtered UPSTREAM: one NULL converts the
    whole Arrow batch to float64, corrupting every digest >= 2^53 before
    any code runs — the guard refuses such batches loudly instead of
    probing wrong bits (bloom_semi_join pre-filters its probe keys)."""
    words_bc = spark.sparkContext.broadcast(bloom.to_bytes())
    k, seed, layout = bloom.num_hashes, bloom.seed, bloom.config.layout

    @F.pandas_udf(BooleanType())
    def probe(digests: pd.Series) -> pd.Series:
        words = words_from_bytes(words_bc.value, copy=False)
        hashes = source_hash(
            exact_int64(digests, "bloom digest column").view(U64), seed)
        return pd.Series(contains_hashes(words, hashes, k, layout))

    # asNondeterministic (guide §4.4): the probe is pure, but declaring it
    # non-deterministic stops the optimizer duplicating the evaluation and
    # — the measured win — stops InferFiltersFromConstraints copying the
    # probe onto the BUILD side of the exact semi-join through the join
    # key (both sides were paying the Python probe; sf1.0 semijoin
    # 4.6 s -> 3.6 s, plain probe rows unchanged).
    return probe.asNondeterministic()


def bloom_contains_col(
    spark: SparkSession,
    bloom: BloomFilter,
    digest_col: Column | str,
) -> Column:
    """Boolean probe column: vectorized membership test against a broadcast
    filter. ``digest_col`` must be a digest64 (long) column — compose with
    :func:`digest64` for raw values. Filter NULL digests upstream (one
    NULL float64-corrupts the whole Arrow batch; the kernel refuses
    loudly)."""
    probe = _broadcast_probe_udf(spark, bloom)
    c = F.col(digest_col) if isinstance(digest_col, str) else digest_col
    return probe(c)


def register_bloom_sql(spark: SparkSession, name: str, bloom: BloomFilter) -> str:
    """Register ``bloom_contains_<name>(digest64_col)`` for use from SQL."""
    fn_name = f"bloom_contains_{name}"
    spark.udf.register(fn_name, _broadcast_probe_udf(spark, bloom))
    return fn_name


def bloom_semi_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str | None = None,
    *,
    fp: float = 0.001,
    seed: int = 42,
    digest: str = "xxh64",
    exact: bool = True,
    expected_items: int | None = None,
    layout: str = "flat",
) -> DataFrame:
    """Sketch-accelerated semi-join: Bloom-prefilter the probe side with the
    build side's key filter, then (optionally) finish with an exact
    ``left_semi`` join for zero false positives.

    ``digest`` defaults to ``"xxh64"`` (round 7): join KEYS carry no
    content-sha256 invariant, the digest scan runs over the BIG probe
    side, and the xxh64 intrinsic halves the whole operator's wall time
    (sf1.0: 4.6 s -> 2.1 s). The exact finish makes the result identical
    under any digest; pass ``digest="sha256"`` to restore the old
    prefilter bits (only the ``exact=False`` triage mode can observe the
    difference, as a different ~fp false-positive set).

    The classic runtime-filter pattern (Spark's own
    ``spark.sql.optimizer.runtimeFilter.bloomFilter.enabled`` is the built-in
    analogue): at 100 TB the prefilter runs map-side against a broadcast
    m/8-byte bit array and drops non-matching rows before they reach the join
    shuffle. Zero false negatives (the Bloom contract) make it semantically
    transparent.

    Seed defaults to a fixed value (deterministic-by-default, like every
    operator entry point); build with ``BloomConfig(seed=None)`` +
    ``bloom_contains_col`` directly if random seeding is required.

    ``layout="block64"`` builds the prefilter in the register-blocked
    layout: ONE memory touch per probed row instead of k — the probe side
    is the big side of a semi-join, so this is where the blocked layout's
    ingest/probe advantage pays; costs ~1.3-2x bits for the same FPR
    (still KBs-to-MBs broadcast once per executor).
    """
    right_on = right_on or left_on
    spark = left.sparkSession
    # expected_items skips the sizing df.count() scan over the build side —
    # callers that know (even roughly) the build-side cardinality save a
    # full pass; over-estimates just waste bits, under-estimates raise FPR
    # but never break correctness (exact=True re-verifies)
    if layout not in ("flat", "block64"):
        raise ValueError(f"unknown layout {layout!r}")
    if layout == "block64":
        n_hint = expected_items
        if n_hint is None:
            n_hint = right.count()
        cfg = BloomConfig.block64_from_false_pos(
            fp, expected_items=max(n_hint, 1), seed=seed, digest=digest)
        # forward the cardinality so the planner keeps its cost-model P*
        # and scan-strategy choice (block64's faster kernel pushes P* down)
        bloom = bloom_build(
            right.select(F.col(right_on).alias("__key")), "__key", cfg,
            expected_items=n_hint)
    else:
        bloom = bloom_build(
            right.select(F.col(right_on).alias("__key")), "__key",
            fp=fp, seed=seed, digest=digest, expected_items=expected_items)
    # NULL keys never match a semi-join (NULL = NULL is not true) and a
    # NULL digest would float64-corrupt whole probe batches — drop first
    pre = left.filter(F.col(left_on).isNotNull()).filter(
        bloom_contains_col(spark, bloom,
                           digest64(F.col(left_on), bloom.config.digest)))
    if not exact:
        return pre
    # left_semi already deduplicates the build side — no .distinct() (it
    # would add a useless aggregate + exchange); AQE picks broadcast-hash
    # when the filtered build side is small at runtime
    return pre.join(right.select(F.col(right_on).alias(left_on)),
                    on=left_on, how="left_semi")
