"""Exactly-once streaming ingest into a skip-indexed table.

Structured Streaming's ``foreachBatch`` is at-least-once: after a crash the
last possibly-uncommitted micro-batch is REPLAYED with the same batch id.
Appending replayed rows twice would both duplicate data and double-count
the index's ``rows_seen``. This sink makes ingest exactly-once over bare
parquet by treating each micro-batch as a transaction against the table's
versioned index publish (sources/index.py):

* **commit** — ``append_to_indexed_table(..., commit_token=batch-id)``
  stamps the batch id inside the committed version dir (the token lands
  before the ``_COMMITTED`` marker, so a version is committed WITH its
  token or not at all).
* **replay detection** — a replayed batch whose token already appears on a
  committed version is skipped outright (publish GC keeps the latest two
  committed versions; Spark only ever replays the LAST uncommitted batch,
  so the token horizon always suffices).
* **rollback** — a crash BETWEEN the data write and the index publish
  leaves orphan data files (no token recorded). The replay first runs
  :func:`~fastbloom_spark.sources.index.heal_indexed_table`, which diffs
  the live listing against the committed version's ``_FILES`` manifest and
  deletes the orphans (their rows were never committed), then re-appends
  the batch once.

The first micro-batch with rows BOOTSTRAPS the table
(``write_indexed_table``) when no committed index exists, versioned or
legacy (``sources.index._StateStore``); a replayed bootstrap is an
idempotent overwrite.

Scale shape: each micro-batch costs one scan of the batch's rows (the
bucketed append) plus a driver-side OR over the KB-scale index — identical
to the batch append path, so the 100 TB design carries over unchanged; the
stream's state is the table itself (no executor state to grow).
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame

from ..config import BloomConfig
from ..sources.index import (_StateStore, heal_indexed_table,
                             write_indexed_table)


def indexed_ingest_batch_fn(
    path: str,
    *,
    index_col: str | Sequence[str],
    cfg: BloomConfig,
    bucket_source: str,
    num_buckets: int = 16,
    zone_cols: Sequence[str] = (),
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` handler, exposed for direct use/testing: call
    it with (static DataFrame, batch_id) to drive the exactly-once ingest
    protocol without a running stream (replay = call it twice with the
    same batch id)."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        token = f"stream-batch-{int(batch_id):020d}"

        def bootstrap(rows: DataFrame) -> None:
            write_indexed_table(
                rows, path, index_col=index_col, cfg=cfg,
                bucket_source=bucket_source, num_buckets=num_buckets,
                zone_cols=zone_cols, commit_token=token)

        state = _StateStore(batch_df.sparkSession, path, token)
        if state.replayed:
            return  # already committed: exactly-once skip
        try:
            state.commit(batch_df, bootstrap)
        except ValueError as e:
            if "STALE" not in str(e):
                raise
            # crashed prior attempt of THIS batch (data written, publish
            # lost): roll back its orphan files, then append once.
            # force=True: the streaming sink is the table's single writer
            # by contract, so the young uncommitted claim heal would
            # otherwise refuse on is this batch's OWN crashed publish —
            # there is no other in-flight append to protect
            heal_indexed_table(batch_df.sparkSession, path, force=True)
            state.commit(batch_df, bootstrap)

    return ingest


def write_stream_indexed(
    stream_df: DataFrame,
    path: str,
    *,
    checkpoint_dir: str,
    index_col: str | Sequence[str],
    cfg: BloomConfig,
    bucket_source: str,
    num_buckets: int = 16,
    zone_cols: Sequence[str] = (),
    query_name: str = "indexed_ingest",
    available_now: bool = False,
):
    """Start the exactly-once indexed-ingest sink; returns the
    StreamingQuery. ``available_now=True`` drains the source and stops
    (backfill / test mode); otherwise the query runs continuously."""
    writer = stream_df.writeStream \
        .foreachBatch(indexed_ingest_batch_fn(
            path, index_col=index_col, cfg=cfg,
            bucket_source=bucket_source, num_buckets=num_buckets,
            zone_cols=zone_cols)) \
        .option("checkpointLocation", checkpoint_dir) \
        .queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
