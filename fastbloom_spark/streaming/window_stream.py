"""Event-time windowed CUSTOM-sketch aggregation with watermark finalization.

``windowed_distinct_estimate`` (dedup_stream.py) covers the declarative
built-in path; this operator is its custom-sketch counterpart with an
explicit state-lifecycle contract: one serialized sketch per (window,
keys...) group held in ``applyInPandasWithState`` state, folded
incrementally per trigger, and EMITTED EXACTLY ONCE — when the event-time
watermark passes the window end, the group's EventTimeTimeout fires, the
final ``(window_start, window_end, keys..., rows_seen, sketch)`` row is
appended, and the state is REMOVED.

That timeout-driven eviction is the unbounded-stream memory story: live
state is ``(windows inside the watermark horizon) x keys`` sketches — a
constant for a fixed horizon — while the output stays append-only (file-
sink compatible) and carries re-aggregable sketch state, not lossy
numbers (roll finalized windows up to days/weeks by further ``impl.merge``).

Late rows beyond the watermark are dropped by the upstream watermark
operator (standard Structured Streaming semantics); rows later than the
window's finalization but inside the watermark cannot exist (finalization
IS the watermark passing). Update/merge associativity makes the finalized
sketch independent of batch boundaries; for order-independent sketches
(HLL register maxima, CMS counter sums, Bloom bit ORs) it is byte-equal to
the batch ``sketch_agg`` over the same rows (asserted in
tests/test_streaming.py).
"""

from __future__ import annotations

from typing import Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (BinaryType, LongType, StructField, StructType,
                               TimestampType)

from ..operators.sketch_agg import _prepare
from .sketch_stream import _STATE_SCHEMA, _fold_state


def streaming_windowed_sketch_agg(
    stream: DataFrame,
    ts_col: str,
    value_col: str | Column,
    impl,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    key_cols: Sequence[str] = (),
    digest_precomputed: bool = False,
) -> DataFrame:
    """Tumbling event-time windows of custom sketch state, finalized by
    watermark: each ``(window, keys...)`` group folds its rows into one
    sketch and appends exactly one row when the watermark passes the
    window end (then frees the state).

    Timestamps follow Spark's epoch-aligned tumbling ``F.window``; the
    timeout is ``max(window_end, watermark + 1ms)`` so a window whose end
    the watermark already passed mid-batch finalizes on the next trigger
    instead of erroring on a stale timestamp.
    """
    keys = list(key_cols)
    # Arrow delivers the struct key's timestamps as tz-NAIVE wall-clock in
    # the session timezone, while getCurrentWatermarkMs() is true epoch ms
    # — localize with the resolved session tz or the timeout would be
    # offset by the tz (firing early == double emission). DST-ambiguous
    # window ends resolve to the first occurrence (worst case: one window
    # per year finalizes an hour off at the fall-back transition).
    session_tz = stream.sparkSession.conf.get(
        "spark.sql.session.timeZone", "UTC") or "UTC"
    # group by the window STRUCT itself: extracting .start/.end would strip
    # the event-time watermark tag and the analyzer would reject the
    # EventTimeTimeout ("watermark must be specified")
    prepared = _prepare(
        stream.withWatermark(ts_col, watermark)
              .withColumn("__win", F.window(F.col(ts_col), window)),
        value_col, impl, ["__win"] + keys, digest_precomputed)

    group_keys = ["__win"] + keys
    out_schema = StructType(
        [StructField("window_start", TimestampType()),
         StructField("window_end", TimestampType())]
        + [f for f in prepared.schema.fields if f.name in keys]
        + [StructField("rows_seen", LongType()),
           StructField("sketch", BinaryType())])

    def fold(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # the struct group key arrives as {'start': ..., 'end': ...}
        win = key[0]
        if isinstance(win, dict):
            win_start, win_end = win["start"], win["end"]
        else:  # Row / tuple-like fallback
            win_start, win_end = win[0], win[1]

        def row(rows_seen: int, buf: bytes) -> pd.DataFrame:
            return pd.DataFrame(
                {"window_start": [win_start], "window_end": [win_end],
                 **{k: [v] for k, v in zip(keys, key[1:])},
                 "rows_seen": [rows_seen], "sketch": [buf]})

        if state.hasTimedOut:  # watermark passed window_end: finalize
            rows_seen, buf = state.get
            state.remove()
            yield row(rows_seen, bytes(buf))
            return
        _fold_state(impl, state, pdfs)
        end_ms = int(pd.Timestamp(win_end)
                     .tz_localize(session_tz, ambiguous=True,
                                  nonexistent="shift_forward")
                     .timestamp() * 1000)
        state.setTimeoutTimestamp(
            max(end_ms, state.getCurrentWatermarkMs() + 1))

    return prepared.groupBy(*group_keys).applyInPandasWithState(
        fold, out_schema, _STATE_SCHEMA, "append",
        GroupStateTimeout.EventTimeTimeout)
