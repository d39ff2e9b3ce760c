"""Streaming keyed sketch aggregation — custom mergeable state per key.

``windowed_distinct_estimate`` covers the declarative built-in path; this
module is the CUSTOM-sketch rendering: each key holds one serialized sketch
state (HLL / CMS / t-digest / KLL — anything with the ``sketch_agg``
implementation contract) in the state store, folded incrementally by
``applyInPandasWithState``. State per key is the sketch's fixed size
forever — the "memory never grows" invariant (fastbloom src/lib.rs:42)
carried into unbounded streams.

Output rows are ``(keys..., rows_seen, sketch binary)`` in update mode:
estimates are computed downstream with the registered SQL functions
(``hll_estimate(sketch)`` etc., fastbloom_spark.sql) or the sketch impls —
emitting raw state keeps this operator generic across sketch families and
lets sinks persist re-aggregable state instead of lossy numbers.
"""

from __future__ import annotations

from typing import Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (BinaryType, LongType, StructField, StructType)

from ..operators.sketch_agg import _prepare, _values_np

#: what each group keeps in the state store: rows folded so far and the
#: serialized sketch
_STATE_SCHEMA = StructType([
    StructField("rows_seen", LongType()),
    StructField("state", BinaryType()),
])


def _fold_state(impl, state: GroupState,
                pdfs: Iterator[pd.DataFrame]) -> Tuple[int, bytes]:
    """Fold a group's new batches into its stored sketch: load the state
    (or start empty), ``impl.update`` each batch's ``__value`` column,
    count the rows, then store and return ``(rows_seen, serialized)``."""
    if state.exists:
        rows_seen, buf = state.get
        acc = impl.deserialize(bytes(buf))
    else:
        rows_seen, acc = 0, impl.empty()
    for pdf in pdfs:
        acc = impl.update(acc, _values_np(pdf["__value"], impl))
        rows_seen += len(pdf)
    buf = impl.serialize(acc)
    state.update((rows_seen, buf))
    return rows_seen, buf


def streaming_sketch_agg(
    stream: DataFrame,
    key_cols: Sequence[str],
    value_col: str | Column,
    impl,
    *,
    digest_precomputed: bool = False,
    output_mode: str = "append",
) -> DataFrame:
    """Incrementally maintained per-key sketches over an unbounded stream.

    Each trigger folds the key's new Arrow batches into its single stored
    state (``impl.update`` — the same vectorized kernel the batch
    ``sketch_agg`` runs) and emits the refreshed ``(keys..., rows_seen,
    sketch)`` row. Restarting from a checkpoint resumes the exact state —
    sketches serialize losslessly, and update/merge associativity makes the
    result independent of batch boundaries (asserted in
    tests/test_streaming.py against the batch topology).
    """
    keys = list(key_cols)
    if not keys:
        raise ValueError("streaming_sketch_agg needs at least one key "
                         "(shard a global sketch by a synthetic key)")
    prepared = _prepare(stream, value_col, impl, keys, digest_precomputed)
    out_schema = StructType(
        [f for f in prepared.schema.fields if f.name in keys]
        + [StructField("rows_seen", LongType()),
           StructField("sketch", BinaryType())])

    def fold(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows_seen, buf = _fold_state(impl, state, pdfs)
        yield pd.DataFrame({**{k: [v] for k, v in zip(keys, key)},
                            "rows_seen": [rows_seen], "sketch": [buf]})

    # output_mode must match the sink's (file sinks require "append");
    # each trigger appends the key's REFRESHED state row — downstream
    # readers take the max-rows_seen row per key as current
    return prepared.groupBy(*keys).applyInPandasWithState(
        fold, out_schema, _STATE_SCHEMA, output_mode,
        GroupStateTimeout.NoTimeout)
