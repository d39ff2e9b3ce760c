"""Generic mergeable-sketch aggregation — one topology for every sketch.

Every sketch (Bloom, HLL, CMS, theta, t-digest, KLL) is a *mergeable
aggregator*: per-partition state built map-side in ``mapInPandas`` (zero
row shuffle), then a two-phase bucketed merge shuffling only serialized
sketch state. An implementation exposes::

    empty() -> state
    update(state, values: np.ndarray) -> state     # vectorized
    merge(a, b) -> state
    serialize(state) -> bytes
    deserialize(decode_state(bytes)) -> state
    input_kind: "digest" (int64 digest64 column) | "double"

and optionally ``order_invariant`` (merge is exact under any partition
layout, so narrow inputs may be widened — unless ``widen`` is False),
``digest`` (the digest64 strategy, default sha256),
``state_bytes`` (the serialized size the cost models use), ``params`` and
``from_buffer(bytes) -> (impl, state)`` (what two states must share to
merge, and the config-free load the SQL merge aggregates use) and
``header`` / ``header_values()``: group-constant ``(name, type)``
columns carried between the partition id and ``rows_seen`` in every row
(Bloom's m/k/seed/layout/digest geometry; other sketches are
self-describing).

Entry points prepare their input ONCE (:func:`_prepare`: NULL values out,
widening, digest, in one projection) from the partition count of the
caller's frame, asked once per call, and may reshape it there;
:func:`_partials` never reshapes, so each partial row's ``partition_id``
is its input partition — the lineage checkpoints resume on.

Scale notes: phase-1 buckets bound any single task's merge fan-in at
ceil(P / fanin) states (at P <= fanin, ``sketch_agg`` merges
order-invariant sketches in one phase); per-(key, partition) partials
absorb row-count skew map-side (a hot key's rows never shuffle — only its
per-partition states do). A global build (:func:`sketch_build`) folds its
partials on the driver, in ``partition_id`` order, wherever the tree
would be one fold anyway or the merge is exact, so it is one Spark job
within the driver budget; only rank sketches over more than ``fanin``
partitions and builds above the budget take the tree.
"""

from __future__ import annotations

import functools
import math
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.digest import digest64
from ..kernel import decode_state, encode_state, exact_int64
from ..plans import planner


def _key_schema(df: DataFrame, key_cols: Sequence[str]) -> str:
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return ", ".join(f"`{k}` {by_name[k]}" for k in key_cols)


def _row_schema(df: DataFrame, keys: Sequence[str], impl, *lead: str) -> str:
    """``keys..., lead..., header..., rows_seen long, sketch binary``."""
    header = [f"{n} {t}" for n, t in getattr(impl, "header", ())]
    parts = [_key_schema(df, keys)] if keys else []
    return ", ".join([*parts, *lead, *header, "rows_seen long, sketch binary"])


def _header_names(impl) -> list[str]:
    return [n for n, _ in getattr(impl, "header", ())]


def _norm_key_vals(key_vals: tuple) -> tuple:
    """Canonicalize pandas group keys: a NULL numeric key arrives as a
    FRESH float NaN object per batch, and NaN != NaN, so an accumulator
    keyed on the raw tuple would fragment one logical key into one entry
    per batch (partial sketches emitted twice for the same key). Map NaN
    -> None so the dict key is stable and the emitted row is a real
    SQL NULL."""
    return tuple(None if (isinstance(v, float) and v != v) else v
                 for v in key_vals)


def _state_bytes(impl) -> int:
    # empty() serializes tiny for the compactor sketches while populated
    # partials reach O(k) floats — floor the estimate at 4 KiB so the cost
    # models reflect the states actually moved
    declared = getattr(impl, "state_bytes", None)
    return declared or max(len(impl.serialize(impl.empty())), 4096)


def _load(impl, buf) -> object:
    return impl.deserialize(decode_state(buf))


def _widens(impl) -> bool:
    """May the impl's narrow inputs be repartitioned up to the task slots?
    Only order-invariant sketches whose ``widen`` allows it."""
    return (getattr(impl, "order_invariant", False)
            and getattr(impl, "widen", True))


def _partial_count(df: DataFrame, impl, partitions: int) -> int:
    """How many partitions the partials of ``df`` (``partitions`` of them)
    come from: its own, lifted to the task slots when the impl widens
    narrow inputs (:func:`_prepare`)."""
    if _widens(impl):
        return max(partitions,
                   df.sparkSession.sparkContext.defaultParallelism)
    return partitions


def _prepare(df: DataFrame, value_col: str | Column, impl,
             key_cols: Sequence[str], digest_precomputed: bool,
             *, partitions: int | None = None) -> DataFrame:
    """``(keys..., __value)`` rows: the one input funnel of every build.
    ``partitions`` is the caller's count of ``df``'s partitions; given,
    an input narrower than the task slots is widened for impls that may
    widen (:func:`_widens`). The count is taken from the caller's frame
    because a frame built here has no cached ``.rdd``: asking it costs
    about 20 ms of driver CPU per call, and under AQE it would run the
    frame's shuffles."""
    col = F.col(value_col) if isinstance(value_col, str) else value_col
    # NULL values leave BEFORE the Arrow transfer: for digest sketches one
    # NULL would turn the whole long batch float64 and corrupt digests
    # above 2^53 (kernel.exact_int64); for double sketches the impls strip
    # NaN anyway — filtering keeps rows_seen = values folded on both
    # paths. Filter the RAW column, never the computed digest (Catalyst
    # would evaluate the digest twice — Filter + Project — a measured ~2x
    # on sha256 scans; and xxh64 hashes NULL to a non-null constant)
    base = df.filter(col.isNotNull())
    if partitions is not None:
        wide = _partial_count(df, impl, partitions)
        if wide > partitions:
            # widen BELOW the digest projection so the hash scan
            # parallelizes (a single-row-group input would serialize it
            # through one task); only order-invariant sketches may
            base = base.select(*key_cols, col.alias("__raw__")) \
                .repartition(wide)
            col = F.col("__raw__")
    if impl.input_kind == "digest":
        val = col if digest_precomputed else digest64(
            col, getattr(impl, "digest", "sha256"))
        val = val.cast("long")
    else:
        val = col.cast("double")
    return base.select(*key_cols, val.alias("__value"))


def _values_np(series: pd.Series, impl) -> np.ndarray:
    if impl.input_kind == "digest":
        # defensive: the _prepare funnel filters NULLs, so a float batch
        # here means a funnel bypass — refuse loudly instead of silently
        # truncating >2^53 digests
        return exact_int64(series, "sketch digest column")
    return series.to_numpy(dtype=np.float64, copy=False)


def _fold(batches: Iterator[pd.DataFrame], impl,
          keys: list[str]) -> dict[tuple, tuple[object, int]]:
    """Fold prepared batches into one (state, rows_seen) per key tuple."""
    acc: dict[tuple, tuple[object, int]] = {}
    for pdf in batches:
        vals_all = _values_np(pdf["__value"], impl)
        groups = (pdf.groupby(keys, sort=False, dropna=False).indices.items()
                  if keys else [((), None)])
        for key_vals, idx in groups:
            if not isinstance(key_vals, tuple):
                key_vals = (key_vals,)
            key_vals = _norm_key_vals(key_vals)
            vals = vals_all if idx is None else vals_all[idx]
            prev = acc.get(key_vals)
            state, seen = prev if prev is not None else (impl.empty(), 0)
            acc[key_vals] = (impl.update(state, vals), seen + len(vals))
    return acc


def _partials(prepared: DataFrame, impl, keys: list[str],
              *, final: bool = False) -> DataFrame:
    """Per-(key, partition) partial rows over a :func:`_prepare` output.
    Map-side only and never reshapes its input. ``final=True`` (input
    already partitioned by the keys) emits finished rows instead: no
    partition id, canonical payloads."""
    header = tuple(impl.header_values()) if hasattr(impl, "header") else ()
    pid_cols = [] if final else ["partition_id"]
    columns = [*keys, *pid_cols, *_header_names(impl), "rows_seen", "sketch"]
    # partial rows travel ENVELOPED (kernel.encode_state): a group's
    # one-partition state is near-empty, so high-cardinality keys shuffle
    # KBs instead of 2^p bytes per (group, partition); final outputs stay
    # canonical impl format
    encode = impl.serialize if final else (
        lambda state: encode_state(impl.serialize(state)))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = [] if final else [ctx.partitionId() if ctx else -1]
        acc = _fold(batches, impl, keys)
        if not acc:
            return
        yield pd.DataFrame(
            [(*k, *pid, *header, seen, encode(state))
             for k, (state, seen) in acc.items()], columns=columns)

    return prepared.mapInPandas(build, _row_schema(
        prepared, keys, impl, *(f"{c} int" for c in pid_cols)))


def sketch_partials(
    df: DataFrame,
    value_col: str | Column,
    impl,
    key_cols: Sequence[str] = (),
    *,
    digest_precomputed: bool = False,
) -> DataFrame:
    """Per-(key, partition) partial sketch rows: map-side only.

    Inputs narrower than the cluster's task slots are widened (round-robin
    repartition) ONLY for order-invariant sketches (HLL register-max, CMS
    counter-add, theta bottom-k — bitwise identical under any partition
    layout); t-digest/KLL merge within error bounds but not bit-identically
    across layouts, so their partitioning is never touched, and Bloom
    (``widen = False``) leaves its partial count to the planner."""
    keys = list(key_cols)
    partitions = df.rdd.getNumPartitions() if _widens(impl) else None
    return _partials(_prepare(df, value_col, impl, keys, digest_precomputed,
                              partitions=partitions), impl, keys)


def _merge_fn(impl, group_cols: Sequence[str], *, encode_out: bool = False):
    """Grouped state merge. ``decode_state`` accepts both enveloped partial
    rows and bare canonical buffers (rollup re-merges final outputs);
    ``encode_out=True`` keeps INTERNAL stages (phase-1 fan-in buckets)
    enveloped while the final stage emits the canonical impl format.
    Header columns are group-constant: the first row's values carry."""
    cols = [*group_cols, *_header_names(impl)]

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = functools.reduce(
            impl.merge, (_load(impl, b) for b in pdf["sketch"]))
        out = {c: [pdf[c].iloc[0]] for c in cols}
        out["rows_seen"] = [int(pdf["rows_seen"].sum())]
        raw = impl.serialize(merged)
        out["sketch"] = [encode_state(raw) if encode_out else raw]
        return pd.DataFrame(out)

    return merge


def sketch_merge(
    partials: DataFrame,
    impl,
    key_cols: Sequence[str] = (),
    *,
    fanin: int = 16,
) -> DataFrame:
    """Two-phase associative merge of partial rows: within
    ``pmod(partition_id, fanin)`` buckets, then per key — a depth-2
    ``treeAggregate`` kept in the DataFrame API so AQE can coalesce."""
    keys = list(key_cols)
    with_bucket = partials.withColumn(
        "__fanin_bucket",
        F.pmod(F.col("partition_id"), F.lit(fanin)).cast("int"))
    phase1 = with_bucket.groupBy(*keys, "__fanin_bucket").applyInPandas(
        _merge_fn(impl, [*keys, "__fanin_bucket"], encode_out=True),
        _row_schema(partials, keys, impl, "__fanin_bucket int"))
    return _merge_by_key(phase1, impl, keys)


def _merge_by_key(rows: DataFrame, impl, keys: list[str]) -> DataFrame:
    """The last merge phase: one canonical row per key tuple."""
    return rows.groupBy(*keys).applyInPandas(
        _merge_fn(impl, keys), _row_schema(rows, keys, impl))


def _merge_partials(partials: DataFrame, impl, keys: list[str], *,
                    fanin: int, partitions: int) -> DataFrame:
    """:func:`sketch_merge` of partials from ``partitions`` input
    partitions. With no more partitions than ``fanin``, every phase-1
    bucket holds one partition's row per key, so phase 1 would only
    re-encode rows through a shuffle and a Python stage: order-invariant
    impls merge per key in one phase (same bytes, their merge being exact
    in any order; about half the CPU of a 100k-row, 16-key
    ``bloom_agg``), rank sketches keep both phases so their merge order
    is unchanged."""
    if getattr(impl, "order_invariant", False) and partitions <= fanin:
        return _merge_by_key(partials, impl, keys)
    return sketch_merge(partials, impl, keys, fanin=fanin)


def sketch_agg(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str | Column,
    impl,
    *,
    digest_precomputed: bool = False,
    fanin: int = 16,
    strategy: str = "auto",
    distinct_keys_hint: int | None = None,
    salt: int | str = 1,
) -> DataFrame:
    """Grouped sketch aggregation → (keys..., [header...], rows_seen,
    sketch binary). Strategies:

    * ``"partial"`` — per-(key, partition) map-side states, then the
      two-phase merge (one phase for order-invariant impls over at most
      ``fanin`` partitions, :func:`_merge_partials`). Zero row shuffle;
      row-count skew is absorbed map-side. Right for LOW-cardinality
      keys: partial volume = P * distinct_keys * state_bytes.
    * ``"shuffle"`` — hash-repartition the prepared (key, value) rows by
      key and fold exactly ONE state per key in place. Right for
      HIGH-cardinality keys: the shuffled rows are digests/doubles.
    * ``"auto"`` — shuffle when the estimated partial volume exceeds
      :data:`~fastbloom_spark.plans.planner.PARTIAL_STATE_BUDGET`, else
      partial. Pass ``distinct_keys_hint`` to avoid a countDistinct job.

    ``salt > 1`` (shuffle strategy only) splits each hot key's rows across
    up to ``salt`` tasks (repartition on (keys..., pmod(xxhash64(value),
    salt))) and merges the sub-states per key — no single-task straggler
    under key skew. Identical output for exactly-mergeable families (Bloom
    OR, HLL register-max, CMS counter-add); t-digest/KLL merge within
    their published rank-error bounds but not bit-identically to a
    single-task fold (merge order differs — the same caveat as any
    distributed build of those sketches). ``salt="auto"`` derives the
    value from a hash-sampled top-key share (one thin map-combined job,
    :func:`_auto_salt`).
    """
    keys = list(key_cols)
    # the caller's partition count, asked once (a keyed shuffle needs none)
    partitions = (None if strategy == "shuffle" and keys
                  else df.rdd.getNumPartitions())
    if strategy == "auto":
        strategy = "partial"
        if keys:
            n_keys = distinct_keys_hint
            if n_keys is None:
                n_keys = df.select(*keys).distinct().count()
            # UPPER bound: every partition can hold up to n_keys distinct
            # keys (min(n_keys, P) undercounted by n_keys/P and could never
            # pick shuffle for high-cardinality keys); overestimating only
            # flips to "shuffle", a safe thin-row shuffle
            inflation = n_keys * partitions * _state_bytes(impl)
            if inflation > planner.PARTIAL_STATE_BUDGET:
                strategy = "shuffle"
    if strategy not in ("partial", "shuffle"):
        raise ValueError(f"unknown strategy {strategy!r}")

    if strategy == "shuffle" and keys:
        prepared = _prepare(df, value_col, impl, keys, digest_precomputed)
        if salt == "auto":
            salt = _auto_salt(prepared, keys, "__value")
        return _sketch_agg_shuffled(prepared, keys, impl, fanin=fanin,
                                    salt=salt)
    partials = _partials(_prepare(df, value_col, impl, keys,
                                  digest_precomputed, partitions=partitions),
                         impl, keys)
    return _merge_partials(partials, impl, keys, fanin=fanin,
                           partitions=_partial_count(df, impl, partitions))


def _auto_salt(prepared: DataFrame, keys: list[str], value_col: str,
               *, sample_mod: int = 16, max_salt: int | None = None) -> int:
    """Derive the skew salt from a hash-sampled top-key share (VERDICT r04
    #7) instead of a manual knob.

    One thin job: rows are hash-subsampled (~1/sample_mod via
    ``pmod(xxhash64(value), sample_mod) == 0`` — deterministic, no RNG;
    uniform when values are digests, and per-key representative whenever a
    key's values are diverse — a key of ONE repeated value samples all-or-
    nothing, an accepted bias for a spread heuristic), the sampled
    key histogram is map-side combined, and only (max, sum) come back.
    The hot key's share decides how many tasks its rows NEED to match a
    balanced layout: ``want = share * n_shuffle``; salt 1 when the top key
    already fits in ~one task's fair share (want <= 1.5), else
    ceil(want) capped at the shuffle width. Sampling error on a share
    large enough to matter (>= a few % of rows) is negligible; a share
    too small to sample reliably also cannot straggle a task."""
    from ..session import shuffle_partition_count

    n_shuffle = shuffle_partition_count(prepared.sparkSession)
    sampled = prepared.filter(
        F.pmod(F.xxhash64(F.col(value_col)), F.lit(sample_mod)) == 0)
    row = sampled.groupBy(*keys).agg(F.count("*").alias("__c")) \
        .agg(F.max("__c").alias("top"), F.sum("__c").alias("tot")).first()
    if row is None or not row.tot:
        return 1
    want = (row.top / row.tot) * n_shuffle
    if want <= 1.5:
        return 1
    return int(min(math.ceil(want), max_salt or n_shuffle))


def _sketch_agg_shuffled(prepared: DataFrame, keys: list[str], impl,
                         *, fanin: int = 16, salt: int = 1) -> DataFrame:
    """One-shuffle grouped build: co-locate each key's rows, fold to exactly
    one state per key. ``salt > 1`` splits hot keys over up to ``salt``
    tasks and merges sub-states per key (see :func:`sketch_agg`)."""
    if salt > 1:
        salt_col = F.pmod(F.xxhash64(F.col("__value")),
                          F.lit(salt)).cast("int")
        # explicit numPartitions: AQE would coalesce a small column-only
        # repartition back into few tasks, undoing the salt ("auto"-managed
        # confs fall back to defaultParallelism)
        from ..session import shuffle_partition_count

        n_shuffle = shuffle_partition_count(prepared.sparkSession)
        salted = prepared.repartition(n_shuffle,
                                      *[F.col(c) for c in keys], salt_col)
        # per-(key, partition) states on the salted layout == sub-sketches
        return _merge_partials(_partials(salted, impl, keys), impl, keys,
                               fanin=fanin, partitions=n_shuffle)
    return _partials(prepared.repartition(*[F.col(c) for c in keys]), impl,
                     keys, final=True)


def _rollup(finest: DataFrame, keys: list[str], impl) -> DataFrame:
    """Rollup levels above a finest-level agg output: every coarser level
    re-merges the sketch rows of the level below."""
    # eager localCheckpoint per level (sketch-row-sized frames): each
    # coarser level reads the MATERIALIZED level below instead of
    # re-executing every intermediate merge through lineage (O(n^2)
    # stages), and nothing stays persisted past the call (a bare persist
    # here leaked cached partitions for the session lifetime)
    finest = finest.localCheckpoint(eager=True)
    dtype_of = dict(finest.dtypes)
    # header columns ride through every level: dropping Bloom's layout
    # would hydrate block64 rollup rows as flat (wrong membership)
    cols = [*keys, *_header_names(impl), "rows_seen", "sketch"]
    levels = [finest.select(*cols)
              .withColumn("rollup_level", F.lit(len(keys)))]
    current = finest
    for level in range(len(keys) - 1, -1, -1):
        coarser = keys[:level]
        merged = current.groupBy(*coarser).applyInPandas(
            _merge_fn(impl, coarser),
            _row_schema(finest, coarser, impl)).localCheckpoint(eager=True)
        current = merged
        padded = merged
        for k_name in keys[level:]:
            padded = padded.withColumn(
                k_name, F.lit(None).cast(dtype_of[k_name]))
        levels.append(padded.select(*cols)
                      .withColumn("rollup_level", F.lit(level)))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def sketch_rollup(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str | Column,
    impl,
    *,
    digest_precomputed: bool = False,
    fanin: int = 16,
) -> DataFrame:
    """Hierarchical rollup for any mergeable sketch: one sketch per prefix
    level of ``key_cols`` (nulls mark rolled-up columns). Rows are scanned
    once at the finest level; coarser levels re-aggregate sketch state only
    — valid for every impl because merge is the aggregator's own associative
    combine (bit OR, register max, counter add, centroid/compactor
    merge)."""
    keys = list(key_cols)
    return _rollup(sketch_agg(df, keys, value_col, impl,
                              digest_precomputed=digest_precomputed,
                              fanin=fanin), keys, impl)


def _collect_fold(partials: DataFrame, impl) -> tuple[object, int]:
    """The driver fold of a global build: Arrow-collect the partial rows,
    then merge their decoded states in ``partition_id`` order, so the
    result does not depend on the order the rows arrive in.
    Order-invariant impls merge into an ``empty()`` accumulator (their
    merge identity; it gives Bloom a writable accumulator its read-only
    payload views OR into). Rank sketches reduce the states themselves,
    as the merge tree's last phase does: ``merge(empty(), s)`` would
    re-cluster or re-compact ``s``."""
    pdf = partials.select("partition_id", "rows_seen", "sketch") \
        .toPandas().sort_values("partition_id")
    rows_seen = int(pdf["rows_seen"].sum())
    states = (_load(impl, b) for b in pdf["sketch"])
    if getattr(impl, "order_invariant", False) or pdf.empty:
        return functools.reduce(impl.merge, states, impl.empty()), rows_seen
    return functools.reduce(impl.merge, states), rows_seen


def _global_merge(partials: DataFrame, impl, partitions: int, *,
                  fanin: int) -> tuple[object, int]:
    """(state, rows_seen) of a global build whose partials come from
    ``partitions`` partitions. The partials are folded on the driver
    (:func:`_collect_fold`) while
    :func:`~fastbloom_spark.plans.planner.plan_global_merge` says they fit
    the driver budget and the merge tree would be one fold anyway: at most
    ``fanin`` partitions (phase 1 only re-encodes one state per bucket and
    phase 2 is a single sequential fold, in shuffle-arrival order), or any
    count for an exact-merge impl. Otherwise, rank sketches above
    ``fanin`` partitions and every impl above the budget, the two-phase
    merge tree (:func:`sketch_merge`)."""
    one_fold = partitions <= fanin or getattr(impl, "order_invariant", False)
    if one_fold and planner.plan_global_merge(
            partitions, _state_bytes(impl)) == "driver_collect":
        return _collect_fold(partials, impl)
    rows = sketch_merge(partials, impl, fanin=fanin).collect()
    if not rows:
        return impl.empty(), 0
    return _load(impl, rows[0].sketch), int(rows[0].rows_seen)


def sketch_build(
    df: DataFrame,
    value_col: str | Column,
    impl,
    *,
    digest_precomputed: bool = False,
    fanin: int = 16,
):
    """Global build → (local sketch state, rows_seen) on the driver.

    One Spark job while :func:`_global_merge` folds on the driver: the
    partials of every partition are Arrow-collected and merged in
    ``partition_id`` order. That covers every sketch over at most
    ``fanin`` partitions and the order-invariant ones (HLL/CMS/theta:
    same bits by merge commutativity) at any count, both within
    :func:`~fastbloom_spark.plans.planner.plan_global_merge`'s driver
    budget. Rank sketches (t-digest/KLL) over more partitions, and every
    sketch above the budget, take the two-phase merge tree.

    The input's partition count is asked once, of ``df`` itself: it
    decides the widening of narrow inputs for order-invariant sketches
    and the merge above."""
    partitions = df.rdd.getNumPartitions()
    prepared = _prepare(df, value_col, impl, [], digest_precomputed,
                        partitions=partitions)
    return _global_merge(_partials(prepared, impl, []), impl,
                         _partial_count(df, impl, partitions), fanin=fanin)
