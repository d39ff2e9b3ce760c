"""Bloom data-skipping index: per-bucket / per-file filters that prune scans.

Partition pruning on the *partition* key is free (directory listing), but a
point lookup on any OTHER column scans the whole table. A skip index stores
one fixed-size Bloom sketch per storage unit — bucket directory, parquet
file, or parquet ROW GROUP — over that non-partition column: the pattern
Iceberg bloom stats, ClickHouse skip indexes, and parquet row-group bloom
filters implement at the format layer, built here from the engine's own
mergeable sketch rows so it works over any column expression and any
digest strategy. The three granularities nest: buckets prune at directory
listing, files at the read-path list, row groups at the granule decode
(index_parquet_row_groups, or write_indexed_table's rgbloom sidecar).
Every index, over an indexed table or standalone over existing parquet,
opens one way: :class:`IndexHandle`.

Why this is the 100 TB shape:

* index size is ``units * m/8`` bytes — governed by the bucket/file count
  and the target FPR, NOT the table size; it stays driver-loadable (a
  10^5-file table at 4 KiB/filter is 400 MiB worst-case, and per-bucket
  indexes are KBs) and the probe is microseconds of numpy per unit;
* pruning happens at the FILE-LISTING step: surviving buckets become an
  ``IN`` predicate over the partition column (Catalyst partition pruning —
  ``PartitionFilters`` in the scan node), surviving files become the
  explicit read path list; skipped data is never opened, not merely
  filtered after read. A point lookup whose survivors are small and local
  skips the Spark job too: the driver reads them (``_read_survivors``);
* zero false negatives (the reference ``contains`` contract, fastbloom
  src/lib.rs:217-233) make pruning semantically transparent: a matching row
  can never live in a skipped unit. False positives only cost reading one
  extra unit — the index FPR bounds expected over-read.

One survival rule serves every granularity: a unit survives iff its filter
may contain ANY probe digest. :class:`_UnitFilters` is the one place that
rule runs — buckets, files and row groups are each a set of per-unit
filters keyed by their unit columns, probed the same way.

Index construction is one :func:`~fastbloom_spark.operators.bloom.bloom_agg`
pass (map-side partials, sketch-row-only shuffle), so building the index
costs one scan and shuffles ``units * m/8`` bytes regardless of row count.
"""

from __future__ import annotations

import dataclasses
import functools
import itertools
import os
import urllib.parse
from dataclasses import dataclass
from typing import Callable, Iterable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BloomConfig
from ..functions.digest import digest64
from ..kernel import digest64_bytes
from ..operators.bloom import (BloomSketch, bloom_agg, bloom_contains_col,
                               sketch_row_config, sketch_row_to_filter)
from ..plans import planner

#: partition column added by write_indexed_table
BUCKET_COL = "bucket_id"
#: grouping column used by the per-file index
FILE_COL = "file_path"
#: row-group index columns
RG_COL = "row_group"
#: an index's granularity, from the key columns of its sidecar rows (the
#: first match: row-group sidecars also carry FILE_COL; see _UnitFilters)
_UNIT_KEYS = {(FILE_COL, RG_COL): "row_group", (FILE_COL,): "file",
              (BUCKET_COL,): "partition"}
#: versioned index layout: {path}/index_versions/v<N>/{bloom,zones/<col>}
#: with a _COMMITTED marker written LAST — readers resolve the highest
#: committed version, so an index rewrite never mutates what a concurrent
#: reader already resolved (publish is write-aside + marker, not
#: overwrite-in-place). Pre-versioning tables fall back to {path}/index +
#: {path}/zones.
VERSIONS_DIR = "index_versions"
COMMIT_MARKER = "_COMMITTED"
#: create-exclusive writer claim, created FIRST inside a fresh version dir:
#: two concurrent publishers that both allocate v<N+1> race on this one
#: file-create and exactly one loses — loudly (ConcurrentIndexWriteError)
CLAIM_MARKER = "_CLAIM"
#: optional idempotence token recorded inside a committed version dir —
#: streaming ingest (streaming/index_stream.py) stamps each publish with
#: its micro-batch id so a REPLAYED foreachBatch (Spark restarts re-run the
#: last possibly-uncommitted batch) is detected and skipped instead of
#: double-appending its rows
COMMIT_TOKEN_FILE = "_TOKEN"
#: newline-joined sorted data-relative file list the published index covers
#: (the LIST behind the data_files_sha fingerprint): heal_indexed_table
#: diffs it against the live listing to delete a crashed append's orphan
#: files — the rollback half of exactly-once streaming ingest
FILES_MANIFEST = "_FILES"
#: digest64 column of the rows IndexHandle.verify_route routes
_DIGEST_COL = "__d"


class ConcurrentIndexWriteError(RuntimeError):
    """A second writer tried to publish the same index version. Index
    publishes are single-writer: the loser must retry (re-list, re-build
    over current data) or the deployment should move to a table format
    with a real multi-writer commit protocol."""


#: uncommitted version dirs younger than this are presumed in-flight and
#: never GC'd (a slower concurrent claimer may still be writing); older
#: ones are crashed publishes and are collected at the next commit
STALE_UNCOMMITTED_TTL_MS = 24 * 3600 * 1000


@dataclass(frozen=True)
class PruneStats:
    """What the index did to the scan: units = bucket dirs or files."""

    granularity: str  # "partition" | "file" | "row_group"
    units_total: int
    units_survived: int
    survivors: tuple[str, ...]
    #: where the survivors were read: "spark" (a distributed scan) or
    #: "driver" (pyarrow on the driver, returned as a LocalTableScan)
    read: str = "spark"

    @property
    def skipped_fraction(self) -> float:
        if self.units_total == 0:
            return 0.0
        return 1.0 - self.units_survived / self.units_total


def bucket_col(source: str, num_buckets: int) -> Column:
    """Stable bucket id: ``pmod(xxhash64(cast(source as string)), B)``.

    The string cast pins one byte representation per value (UTF-8), so the
    bucket function is engine-replayable (the DuckDB oracle recomputes it
    bit-for-bit) and layout-stable across writes.
    """
    return F.pmod(F.xxhash64(F.col(source).cast("string")),
                  F.lit(num_buckets)).cast("int")


def _meta_cols(df: DataFrame, *, num_buckets: int,
               bucket_source: str) -> DataFrame:
    # self-describing index: pruned_read needs no caller-side config
    return (df.withColumn("num_buckets", F.lit(num_buckets))
              .withColumn("bucket_source", F.lit(bucket_source)))


@dataclass(frozen=True)
class _IndexMeta:
    num_buckets: int
    bucket_source: str
    cols: tuple[str, ...]
    zone_cols: tuple[str, ...]
    cfg: BloomConfig


def _read_index_meta(index_pdf: pd.DataFrame) -> _IndexMeta:
    """Reconstruct the build config from self-describing index rows — the
    ONE place meta fields are parsed (append + compact + range reads must
    agree or the bitwise-rebuild guarantee silently breaks)."""
    meta = index_pdf.iloc[0]
    return _IndexMeta(
        num_buckets=int(meta["num_buckets"]),
        bucket_source=str(meta["bucket_source"]),
        cols=tuple(sorted(index_pdf["index_col"].unique())),
        zone_cols=tuple(
            c for c in str(meta.get("zone_cols", "") or "").split(",")
            if c),
        cfg=sketch_row_config(meta))


def _hadoop_fs(spark: SparkSession, p: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(p)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def _delete_dir(spark: SparkSession, p: str) -> None:
    fs, hpath = _hadoop_fs(spark, p)
    if fs.exists(hpath) and not fs.delete(hpath, True):
        raise IOError(f"hadoop fs delete failed for {p}")


def _list_versions(spark: SparkSession, path: str) -> list[tuple[int, bool]]:
    """All (version, committed) pairs under {path}/index_versions."""
    fs, hroot = _hadoop_fs(spark, f"{path}/{VERSIONS_DIR}")
    if not fs.exists(hroot):
        return []
    jvm = spark.sparkContext._jvm
    out = []
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("v")
                and name[1:].isdigit()):
            continue
        marker = jvm.org.apache.hadoop.fs.Path(
            f"{path}/{VERSIONS_DIR}/{name}/{COMMIT_MARKER}")
        out.append((int(name[1:]), bool(fs.exists(marker))))
    return sorted(out)


def _version_dir(path: str, v: int) -> str:
    return f"{path}/{VERSIONS_DIR}/v{v:010d}"


def _write_small_file(spark: SparkSession, p: str, data: bytes) -> None:
    """Create-exclusive write of a small control file (markers, tokens)."""
    fs, hpath = _hadoop_fs(spark, p)
    out = fs.create(hpath, False)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def _read_small_file(spark: SparkSession, p: str) -> bytes | None:
    fs, hpath = _hadoop_fs(spark, p)
    if not fs.exists(hpath):
        return None
    jvm = spark.sparkContext._jvm
    stream = fs.open(hpath)
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def committed_commit_tokens(spark: SparkSession, path: str) -> dict[int, str]:
    """{version: token} for every COMMITTED index version that carries a
    commit token (see COMMIT_TOKEN_FILE). Publish GC keeps the latest two
    committed versions, which covers the only replay Spark's foreachBatch
    contract produces — the last possibly-uncommitted micro-batch."""
    out: dict[int, str] = {}
    for v, ok in _list_versions(spark, path):
        if not ok:
            continue
        raw = _read_small_file(
            spark, f"{_version_dir(path, v)}/{COMMIT_TOKEN_FILE}")
        if raw is not None:
            out[v] = raw.decode("utf-8")
    return out


def _committed_root(spark: SparkSession,
                    path: str) -> tuple[str, str] | None:
    """(bloom_dir, zones_dir) of the CURRENT index: the highest COMMITTED
    version, else a legacy in-place layout — a table's ``{path}/index``,
    or a standalone index's parquet written directly at ``path`` (then
    ``bloom_dir == path``); None when there is none of these (uncommitted
    version dirs are invisible). Listing errors propagate: an unlistable
    index is not a missing one."""
    versions = _list_versions(spark, path)
    committed = [v for v, ok in versions if ok]
    if committed:
        vdir = _version_dir(path, committed[-1])
        return f"{vdir}/bloom", f"{vdir}/zones"
    fs, legacy = _hadoop_fs(spark, f"{path}/index")
    if fs.exists(legacy):
        return f"{path}/index", f"{path}/zones"
    fs, root = _hadoop_fs(spark, path)
    if fs.exists(root) and any(
            st.isFile() and st.getPath().getName().endswith(".parquet")
            for st in fs.listStatus(root)):
        return path, f"{path}/zones"
    return None


def _resolve_index_root(spark: SparkSession, path: str) -> tuple[str, str]:
    """:func:`_committed_root`, required: a table whose index was deleted
    mid-overwrite resolves to nothing and fails LOUDLY here instead of
    pruning fresh data with stale filters."""
    root = _committed_root(spark, path)
    if root is not None:
        return root
    raise ValueError(
        f"no committed bloom index under {path} (no "
        f"{VERSIONS_DIR}/v*/{COMMIT_MARKER} and no legacy {path}/index) — "
        "the table was never indexed, or a crashed overwrite removed the "
        "index: re-run write_indexed_table/compact_indexed_table")


def _claim_index_version(spark: SparkSession, path: str) -> tuple[int, str]:
    """Allocate the next index version and take its create-exclusive
    writer claim; returns (version, vdir). Writers that stage expensive
    or externally-visible work (append's data write) claim FIRST so a
    losing racer exits before writing anything."""
    versions = _list_versions(spark, path)
    next_v = (versions[-1][0] + 1) if versions else 1
    vdir = _version_dir(path, next_v)
    try:  # create-exclusive: exactly one racer creates the claim
        _write_small_file(spark, f"{vdir}/{CLAIM_MARKER}", b"")
    except Exception as e:
        raise ConcurrentIndexWriteError(
            f"index version v{next_v} at {path} is already claimed by "
            "another writer (or the filesystem refused the claim create) — "
            "concurrent index publishes are single-winner; retry after the "
            "other publish commits (or crashes and is GC'd)") from e
    return next_v, vdir


def _publish_index_version(spark: SparkSession, path: str,
                           write_fn, *,
                           claimed: tuple[int, str] | None = None,
                           commit_token: str | None = None,
                           data_files: list[str] | None = None) -> str:
    """Atomic-for-readers publish: write the full sidecar set into a fresh
    version dir via ``write_fn(vdir)``, create the commit marker LAST, then
    garbage-collect. Readers resolving during the publish see the previous
    committed version; a crash leaves an uncommitted dir that readers
    ignore and the next publish GCs.

    Single-writer is ENFORCED, not just documented: the first write into a
    fresh version dir is a create-exclusive ``_CLAIM`` file. Two
    simultaneous publishers that both allocate v<N+1> race on that one
    create and exactly one loses with :class:`ConcurrentIndexWriteError` —
    the committed table + index stay consistent (the loser wrote nothing).
    A publisher that lists AFTER the claim exists allocates v<N+2> and
    proceeds — sequential versions, each internally consistent, with the
    data-fingerprint witness still refusing index/data mismatches at read
    time. A crashed claimer leaves an uncommitted dir that never blocks
    (successors allocate past it) and is GC'd by the next commit."""
    if claimed is None:
        claimed = _claim_index_version(spark, path)
    next_v, vdir = claimed
    write_fn(vdir)
    if commit_token is not None:
        # token lands BEFORE the commit marker: a version is either
        # committed WITH its token or not committed at all — replay
        # detection never sees a committed-but-untagged publish
        _write_small_file(spark, f"{vdir}/{COMMIT_TOKEN_FILE}",
                          commit_token.encode("utf-8"))
    if data_files is not None:
        _write_small_file(spark, f"{vdir}/{FILES_MANIFEST}",
                          "\n".join(data_files).encode("utf-8"))
    _write_small_file(spark, f"{vdir}/{COMMIT_MARKER}", b"")
    # a committed version supersedes the legacy in-place layout (if any):
    # drop it so resolution can never fall back to it
    for legacy in ("index", "zones"):
        _delete_dir(spark, f"{path}/{legacy}")
    # GC: keep the new version plus the previous committed one (readers
    # that resolved just before the flip may still be scanning it); drop
    # older committed versions. UNCOMMITTED dirs are GC'd only past a
    # generous age TTL: with sequential-version interleave a faster
    # publisher can commit while a slower claimer is still writing its
    # own dir — deleting every uncommitted dir here would yank that
    # in-flight publish out from under its writer. Crashed claims linger
    # for the TTL (readers ignore them; version allocation skips past).
    # One listing serves both decisions (each listing is a listStatus +
    # per-dir marker RPC — doubled publish-tail latency on object stores)
    after = _list_versions(spark, path)
    keep = set([v for v, ok in after if ok][-2:])
    for v, ok in after:
        if v not in keep and (ok or _in_flight(spark, path, v) is False):
            _delete_dir(spark, _version_dir(path, v))
    return vdir


def _in_flight(spark: SparkSession, path: str, v: int) -> bool | None:
    """Whether uncommitted version ``v`` may still have a live writer:
    True when it is younger than ``STALE_UNCOMMITTED_TTL_MS`` or its age
    cannot be read (fail closed), False when it is older, None when it is
    verifiably gone (raced with its own writer or GC)."""
    import time

    try:
        fs, vpath = _hadoop_fs(spark, _version_dir(path, v))
        try:
            mtime = fs.getFileStatus(vpath).getModificationTime()
        except Exception:
            return None if not fs.exists(vpath) else True
    except Exception:
        return True
    return int(time.time() * 1000) - mtime <= STALE_UNCOMMITTED_TTL_MS


def _data_rel_files(spark: SparkSession, data: str) -> dict[str, str]:
    """``{name: listed URI}`` of every live file under the data root
    ``data``, sorted by name. A name (what ``_FILES`` records) is the URI
    after its FIRST ``/data/``, or the whole URI: committed manifests
    hold that rule, so a root under a ``/data/`` dir keeps it too — act
    on a file through its URI, never a path rebuilt from its name."""
    files = spark.read.parquet(data).inputFiles()
    return dict(sorted((f.split("/data/", 1)[1] if "/data/" in f else f, f)
                       for f in files))


def _fingerprint_of(rel: list[str]) -> tuple[int, str]:
    """(file_count, sha256) of the data root's sorted file names — a
    LISTING-only staleness witness: pruned reads compare it against the
    value the index recorded at publish time and refuse to prune when they
    differ (e.g. a crash between a data append and its index publish, or
    a concurrent writer), because a filter that never saw those files
    could silently skip their rows — the zero-FN contract."""
    import hashlib

    return len(rel), hashlib.sha256("\n".join(rel).encode()).hexdigest()


def _check_index_fresh(index_pdf: pd.DataFrame, spark: SparkSession,
                       data: str) -> None:
    """The one freshness rule: the data root's live fingerprint equals
    the one the index recorded at publish (pre-fingerprint legacy
    indexes carry none)."""
    if "data_files_sha" not in index_pdf.columns:
        return
    n, sha = _fingerprint_of(list(_data_rel_files(spark, data)))
    want_n = int(index_pdf["data_file_count"].iloc[0])
    want_sha = str(index_pdf["data_files_sha"].iloc[0])
    if (n, sha) != (want_n, want_sha):
        raise ValueError(
            f"bloom index over {data} is STALE: it was built over "
            f"{want_n} data files but the table now has {n} — a crashed "
            "append (data written, index publish lost) or a concurrent "
            "writer. Pruning would silently skip rows the filters never "
            "saw; rebuild the index (compact_indexed_table for an indexed "
            "table, index_parquet_files/index_parquet_row_groups for a "
            f"standalone index), or read {data} directly.")


def _unit_sketches(df: DataFrame, cols: Sequence[str], cfg: BloomConfig,
                   keys: Sequence[str], **agg_kw) -> DataFrame:
    """One sketch row per (unit, indexed column) — the build side of
    :class:`_UnitFilters`; ``keys`` name the unit. Every indexed column is
    digested in ONE scan: digests are computed JVM-side before a
    struct-array explode, so k indexed columns cost one pass + a k-way row
    expansion of 16-byte rows, never k scans of the source. ``agg_kw``
    goes to :func:`~fastbloom_spark.operators.bloom.bloom_agg`."""
    stack = F.explode(F.array(*[
        F.struct(F.lit(c).alias("index_col"),
                 digest64(F.col(c), cfg.digest).alias("__digest64"))
        for c in cols])).alias("x")
    # NULL values digest to NULL and MUST be dropped here: one NULL in an
    # Arrow batch turns the whole long column float64 in pandas, silently
    # corrupting every digest above 2^53 (CLAUDE.md: mask nulls BEFORE).
    # NULL-in -> NULL-out: a NULL is never a probe value, so zero-FN for
    # real values is unaffected.
    stacked = df.select(*keys, stack) \
        .select(*keys, "x.index_col", "x.__digest64") \
        .filter(F.col("__digest64").isNotNull())
    return bloom_agg(stacked, [*keys, "index_col"], "__digest64", cfg,
                     digest_precomputed=True, **agg_kw)


def _build_index_rows(written: DataFrame, cols: Sequence[str],
                      cfg: BloomConfig, num_buckets: int,
                      bucket_source: str) -> DataFrame:
    index = _unit_sketches(written, cols, cfg, [BUCKET_COL],
                           distinct_keys_hint=num_buckets * len(cols))
    return _meta_cols(index, num_buckets=num_buckets,
                      bucket_source=bucket_source)


def _zone_agg_rows(written: DataFrame,
                   zone_cols: Sequence[str]) -> dict[str, list]:
    """``{column: [(bucket, vmin, vmax, rows_seen)]}`` from ONE combined
    aggregation for every zone column (single scan), rows collected via
    py4j — Python ints are arbitrary-precision, so native values survive
    exactly. NEVER route zone values through pandas: one all-NULL bucket
    turns an int64 min/max column float64 and values above 2^53 round —
    the silent zero-FN break the own-type design exists to prevent."""
    aggs = []
    for c in zone_cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}"),
                 F.count(c).alias(f"__cnt_{c}")]
    rows = written.groupBy(BUCKET_COL).agg(*aggs).collect()
    return {c: [(r[BUCKET_COL], r[f"__min_{c}"], r[f"__max_{c}"],
                 r[f"__cnt_{c}"]) for r in rows] for c in zone_cols}


def _write_zone_maps(written: DataFrame, zones: dict[str, list],
                     zones_dir: str) -> None:
    """Per-(bucket, column) min/max zone maps — the range-predicate
    counterpart of the Bloom rows (ClickHouse minmax skip index / parquet
    column statistics, lifted to bucket granularity). Each column's zones
    live in their own parquet dir so values keep the COLUMN'S OWN TYPE and
    pruning comparisons are exact — no silent narrowing from a cast (a
    long just above 2^53 cast to double can round INTO the range and lose
    rows). One scan for all columns; NULLs are ignored by min/max (a NULL
    never matches a range predicate). Always writes into a FRESH version
    dir (see _publish_index_version), so mode is plain overwrite-of-empty.
    ``zones`` holds :func:`_zone_agg_rows`' rows; ``written`` types them.
    """
    for c, data in zones.items():
        dt = written.schema[c].dataType.simpleString()
        written.sparkSession.createDataFrame(
            data, f"{BUCKET_COL} int, vmin {dt}, vmax {dt}, rows_seen long") \
            .write.mode("overwrite").parquet(f"{zones_dir}/{c}")


def write_indexed_table(
    df: DataFrame,
    path: str,
    *,
    index_col: str | Sequence[str],
    cfg: BloomConfig,
    bucket_source: str,
    num_buckets: int = 16,
    zone_cols: Sequence[str] = (),
    sort_within_buckets_by: Sequence[str] = (),
    row_group_index: bool = False,
    row_group_cfg: BloomConfig | None = None,
    mode: str = "overwrite",
    commit_token: str | None = None,
) -> None:
    """Write ``{path}/data`` partitioned by a hash bucket of
    ``bucket_source`` plus ``{path}/index``: one Bloom sketch row per
    (bucket, indexed column) over ``digest64(col)`` — pass a list to index
    several columns in one scan. ``zone_cols`` additionally writes
    ``{path}/zones``: per-bucket min/max zone maps enabling RANGE-predicate
    pruning (:func:`pruned_range_read`) — Bloom rows answer equality,
    zones answer ranges; together they are the two halves of a real skip
    index.

    ``cfg.expected_items`` should be sized for rows *per bucket* (rows /
    num_buckets); over-sizing wastes ``m/8`` bytes per bucket, under-sizing
    raises the index FPR (weaker pruning) but can never lose rows.

    The explicit ``repartition(num_buckets, bucket)`` pins one task — and
    so one output file — per bucket directory; AQE would otherwise coalesce
    the small column-only shuffle into a handful of multi-bucket tasks.

    ``sort_within_buckets_by`` clusters each bucket's rows before the
    write: parquet row-group min/max statistics then become tight on those
    columns, so the exact BETWEEN/IN filter a pruned read pushes down ALSO
    skips row groups INSIDE surviving files — zone maps prune buckets,
    sorted row groups prune within them. No extra shuffle (the sort is
    task-local).

    ``row_group_index=True`` additionally publishes an ``rgbloom`` sidecar
    — one sketch per (file, row group, indexed column) — giving
    :meth:`IndexHandle.pruned_read_row_groups` granule-level pruning
    inside surviving buckets (non-surviving row groups are never
    decoded); costs one extra data scan at write time. ``row_group_cfg``
    sizes the per-granule filters (defaults to ``cfg`` — over-sized per
    granule, i.e. lower FPR for a few extra KB).
    """
    cols = _index_build_cols(index_col, cfg, mode)
    # overwrite: drop the ENTIRE old index (versions + legacy layout + any
    # legacy zones) BEFORE the data rewrite, so every crash state
    # mid-rewrite fails LOUDLY at read time ("no committed bloom index")
    # instead of letting the previous write's filters/min-max silently
    # prune fresh data. For 'error' mode the path is fresh-or-raise, so
    # nothing pre-exists to delete.
    if mode == "overwrite":
        for sub in (VERSIONS_DIR, "index", "zones"):
            _delete_dir(df.sparkSession, f"{path}/{sub}")
    _write_buckets(df.withColumn(BUCKET_COL, bucket_col(bucket_source,
                                                        num_buckets)),
                   f"{path}/data", num_buckets, mode, sort_within_buckets_by)
    _rebuild_index(df.sparkSession, path, _IndexMeta(
        num_buckets, bucket_source, tuple(cols), tuple(zone_cols), cfg),
        (row_group_cfg or cfg) if row_group_index else None,
        commit_token=commit_token)


def _write_buckets(bucketed: DataFrame, dest: str, num_buckets: int,
                   mode: str, sort_by: Sequence[str] = ()) -> None:
    """Write ``bucketed`` (carrying :data:`BUCKET_COL`) under ``dest`` with
    one task — and so one file — per bucket directory."""
    writer = bucketed.repartition(num_buckets, F.col(BUCKET_COL))
    if sort_by:
        # lead with the bucket column: the parquet writer requires rows
        # ordered by the partition columns and would otherwise re-sort
        # (unstably) by bucket alone, destroying the clustering
        writer = writer.sortWithinPartitions(BUCKET_COL, *sort_by)
    writer.write.mode(mode).partitionBy(BUCKET_COL).parquet(dest)


def _rebuild_index(spark: SparkSession, path: str, meta: _IndexMeta,
                   rg_cfg: BloomConfig | None, *,
                   commit_token: str | None = None) -> DataFrame:
    """Index every file under ``{path}/data`` from scratch — Bloom rows
    with their meta and fingerprint columns, zone maps, and the rgbloom
    sidecar when ``rg_cfg`` is given — and publish them as a new version.
    Returns the data relation it indexed.

    The index is built from the WRITTEN data, not a second evaluation of
    the writer's lineage: a nondeterministic input (sample, concurrent
    append) would otherwise produce an index missing rows that ARE in the
    data files, silently breaking the zero-FN pruning contract."""
    written = spark.read.parquet(f"{path}/data")
    rel_files = list(_data_rel_files(spark, f"{path}/data"))
    n_files, files_sha = _fingerprint_of(rel_files)
    index_rows = _build_index_rows(written, meta.cols, meta.cfg,
                                   meta.num_buckets, meta.bucket_source) \
        .withColumn("zone_cols", F.lit(",".join(meta.zone_cols))) \
        .withColumn("data_file_count", F.lit(n_files).cast("long")) \
        .withColumn("data_files_sha", F.lit(files_sha))
    rg_rows = None if rg_cfg is None else _build_rg_index_rows(
        spark, f"{path}/data", meta.cols, rg_cfg)

    def publish(vdir: str) -> None:
        index_rows.write.mode("overwrite").parquet(f"{vdir}/bloom")
        if meta.zone_cols:
            _write_zone_maps(written, _zone_agg_rows(written, meta.zone_cols),
                             f"{vdir}/zones")
        if rg_rows is not None:
            rg_rows.write.mode("overwrite").parquet(f"{vdir}/rgbloom")

    _publish_index_version(spark, path, publish, data_files=rel_files,
                           commit_token=commit_token)
    return written


def _index_build_cols(index_col: str | Sequence[str], cfg: BloomConfig,
                      mode: str) -> list[str]:
    """The columns an index build covers, after the rejections every
    index builder shares."""
    if mode in ("append", "ignore"):
        raise ValueError(
            f"mode={mode!r} would leave duplicate or stale index rows next "
            "to the new ones (duplicated survivors -> duplicated result "
            "rows), and a no-op 'ignore' data write is ambiguous for the "
            "sidecars — use 'overwrite' or 'error' (append_to_indexed_table "
            "for incremental ingest)")
    if cfg.digest.startswith("custom:"):
        raise ValueError(
            f"digest {cfg.digest!r} cannot back a skip index: pruned reads "
            "must recompute probe digests on the DRIVER (probe_digests), "
            "and custom Column strategies have no local implementation — "
            "index with 'sha256'/'xxh64', or probe with bloom_contains_col "
            "over a bloom_agg sketch table instead")
    return [index_col] if isinstance(index_col, str) else list(index_col)


def index_parquet_files(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    *,
    index_col: str | Sequence[str],
    cfg: BloomConfig,
    mode: str = "overwrite",
) -> None:
    """Per-FILE skip index over an EXISTING parquet table — no rewrite.

    Finer granularity than bucket dirs (the row-group-bloom analogue): one
    sketch per physical file per indexed column, keyed by
    ``input_file_name()`` — pass a list to index several columns in the
    same single scan (the one-pass digest stack write_indexed_table
    uses); probe with ``IndexHandle(spark, index_path,
    data=data_path).pruned_read(..., on=<column>)``. Strategy is pinned
    to ``"partial"`` because a task only ever reads a handful of files,
    so the per-(file, partition) partial count collapses to ~one sketch
    per file with zero row shuffle — the auto cost model's
    ``min(keys, P) * P`` worst case cannot happen for this key.
    Published like every index (:func:`_publish_standalone`).
    """
    _publish_standalone(
        spark, data_path, index_path, index_col, cfg, mode,
        lambda cols: _unit_sketches(
            spark.read.parquet(data_path).withColumn(
                FILE_COL, F.input_file_name()), cols, cfg, [FILE_COL],
            strategy="partial"))


def index_parquet_row_groups(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    *,
    index_col: str | Sequence[str],
    cfg: BloomConfig,
    mode: str = "overwrite",
) -> None:
    """Row-group-granularity skip index over an EXISTING parquet table —
    one Bloom sketch per (file, row group, indexed column), the
    ClickHouse-granule / native-parquet-bloom analogue one level below
    :func:`index_parquet_files`; pass a column list to index several in
    the same scan.

    Build is one data scan, all JVM/Arrow-side: row groups are recovered
    by joining the scan's ``_metadata.row_index`` against a broadcast of
    per-file row-group boundaries (a distributed FOOTER-only pyarrow pass
    — data pages are read exactly once, by the digest scan itself), then
    one ``bloom_agg`` keyed by (file, row group). Index size is
    ``row_groups * m/8`` bytes, governed by granule count and FPR, not
    table size.

    Hive-partitioned layouts (including write_indexed_table's
    ``bucket_id=N`` dirs) work: the build scan reads partition values
    from directory names as usual, and the probe-side granule reader
    reconstructs them from file paths. The indexed column itself must be
    a physical (non-partition) column. Probe with ``IndexHandle(spark,
    index_path, data=data_path).pruned_read``.
    """
    _publish_standalone(
        spark, data_path, index_path, index_col, cfg, mode,
        lambda cols: _build_rg_index_rows(spark, data_path, cols, cfg))


def _publish_standalone(spark: SparkSession, data_path: str,
                        index_path: str, index_col: str | Sequence[str],
                        cfg: BloomConfig, mode: str,
                        build: Callable[[list[str]], DataFrame],
                        ) -> None:
    """Publish ``build(cols)``'s sketch rows over ``data_path``
    as a new version under ``index_path`` with the fingerprint columns
    and ``_FILES`` manifest an indexed table's index carries, so
    :class:`IndexHandle` checks a standalone index with the same
    freshness rule — complete at file and row-group granularity too,
    since parquet files are immutable (appends create files, never new
    row groups inside existing ones). ``mode="overwrite"`` first clears a
    legacy in-place index at ``index_path``; any other accepted mode
    refuses an existing ``index_path``."""
    cols = _index_build_cols(index_col, cfg, mode)
    fs, hpath = _hadoop_fs(spark, index_path)
    if mode != "overwrite" and fs.exists(hpath):
        raise ValueError(f"index path {index_path} already exists "
                         f"(mode={mode!r}); pass mode='overwrite'")
    if (_committed_root(spark, index_path) or (None,))[0] == index_path:
        _delete_dir(spark, index_path)  # a legacy in-place index
    # list BEFORE the build's scan lists: a file landing in between is
    # then indexed but unrecorded (STALE at read), never recorded but
    # unindexed (silently pruned away)
    rel_files = list(_data_rel_files(spark, data_path))
    n_files, files_sha = _fingerprint_of(rel_files)
    rows = _meta_cols(build(cols), num_buckets=0, bucket_source=FILE_COL) \
        .withColumn("data_file_count", F.lit(n_files).cast("long")) \
        .withColumn("data_files_sha", F.lit(files_sha))
    _publish_index_version(
        spark, index_path,
        lambda vdir: rows.write.mode("overwrite").parquet(f"{vdir}/bloom"),
        data_files=rel_files)


def _norm_file(f: str) -> str:
    """Canonical local form of a parquet file URI: Spark's
    ``_metadata.file_path`` says ``file:/x``, ``inputFiles()`` says
    ``file:///x`` — strip the scheme so listings, footers, and metadata
    columns key identically."""
    import re

    return re.sub(r"^file:/+", "/", f)


def _file_of(uri: str) -> str:
    """The path a file key names: keys are URIs as Spark lists them, with
    partition directories Spark already escaped (``ts=2024-01-02
    00%3A00%3A00`` is keyed as ``...%2000%253A00%253A00``). Every opener
    (pyarrow, ``os.stat``, a Spark read of explicit paths) decodes its key
    here exactly once, or it escapes it again and misses the file."""
    return urllib.parse.unquote(uri)


def _footer_scan(spark: SparkSession, files: Sequence[str],
                 per_file: Callable, schema: str) -> DataFrame:
    """A DISTRIBUTED footer-only scan (pyarrow reads metadata, never data
    pages), so a 10^5-file table costs 10^5 footer reads spread across the
    cluster: ``per_file(path, ParquetFile)`` lists each file's rows of
    ``schema``, by position; ``path`` stays the listed key
    (:func:`_file_of`). Values ride as Python objects: one NULL in a
    float64-inferred pandas column would round int64 values above 2^53
    (Arrow converts object ints exactly)."""
    files = [_norm_file(f) for f in files]
    fdf = spark.createDataFrame(pd.DataFrame({"file_path": files})) \
        .repartition(min(max(len(files), 1),
                         spark.sparkContext.defaultParallelism))

    def scan(batches):
        import pyarrow.parquet as pq

        for b in batches:
            rows = [r for f in b["file_path"]
                    for r in per_file(f, pq.ParquetFile(_file_of(f)))]
            if rows:
                yield pd.DataFrame(rows, dtype=object)

    return fdf.mapInPandas(scan, schema)


def _build_rg_index_rows(spark: SparkSession, data_path: str,
                         cols: Sequence[str], cfg: BloomConfig,
                         files: list[str] | None = None,
                         base_path: str | None = None) -> DataFrame:
    """(file, row_group, index_col) sketch rows for every indexed column
    in ONE data scan (:func:`_unit_sketches`, keyed by granule via the
    _metadata.row_index x footer-boundaries join). ``files``
    restricts to a subset (appends index only the NEW files — new files
    are new keys, so no merge is ever needed at this granularity)."""
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    src = reader.parquet(*(files or [data_path]))

    def starts(f, pf):  # bounds[i]: the row index row group i starts at
        n = [pf.metadata.row_group(i).num_rows
             for i in range(pf.metadata.num_row_groups)]
        return [(f, list(itertools.accumulate(n, initial=0))[:-1])]

    bounds = _footer_scan(spark, files or src.inputFiles(), starts,
                          "__bfile string, bounds array<long>")
    data = src.select(
        F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")
        .alias(FILE_COL),
        F.col("_metadata.row_index").alias("__ri"),
        *[F.col(c) for c in cols])
    rg = (F.size(F.filter(
        "bounds", lambda b: b <= F.col("__ri"))) - 1).cast("int")
    granules = data.join(F.broadcast(bounds),
                         data[FILE_COL] == bounds["__bfile"]) \
        .select(FILE_COL, rg.alias(RG_COL), *cols)
    return _unit_sketches(granules, cols, cfg, [FILE_COL, RG_COL],
                          strategy="partial")


def _check_file_set(index_files, current_files, what: str) -> None:
    """Staleness witness for LEGACY in-place standalone file/row-group
    indexes, which carry no fingerprint: the sidecar lists the files it
    covers, so a listing-only compare catches appends the index never saw
    (silent false negatives otherwise) and indexed files that vanished.
    A file with no sketch row (zero rows, or only NULLs in the indexed
    column) reads as unseen here: rebuild such an index to publish it
    with a manifest."""
    idx = {_norm_file(str(f)) for f in index_files}
    cur = {_norm_file(str(f)) for f in current_files}
    if idx != cur:
        extra = sorted(cur - idx)
        gone = sorted(idx - cur)
        raise ValueError(
            f"{what} index is STALE: {len(extra)} data file(s) the index "
            f"never saw (e.g. {extra[:2]}) and {len(gone)} indexed "
            f"file(s) no longer present (e.g. {gone[:2]}) — pruning would "
            "silently lose rows; rebuild the index over the current "
            "files, or pass verify_files=False for forensics")


def _partition_fields(spark: SparkSession, schema, first_file: str) -> list:
    """Arrow fields of the hive partition columns: the ``schema`` fields
    (Spark's) that ``first_file``'s own columns lack — they live in
    directory names, not data pages. A timestamp field carries the session
    time zone, the zone Spark reads a timestamp directory name in."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    physical = set(pq.read_schema(_file_of(first_file)).names)
    tz = spark.conf.get("spark.sql.session.timeZone")
    out = []
    for f in schema.fields:
        if f.name not in physical:
            atype = to_arrow_type(f.dataType)
            if pa.types.is_timestamp(atype) and atype.tz is not None:
                atype = pa.timestamp(atype.unit, tz=tz)
            out.append((f.name, atype))
    return out


def _part_val(raw: str, atype):
    import datetime

    import pyarrow as pa

    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if pa.types.is_integer(atype):
        return int(raw)
    if pa.types.is_floating(atype):
        return float(raw)
    if pa.types.is_boolean(atype):
        return raw.lower() == "true"
    if pa.types.is_date(atype):
        return datetime.date.fromisoformat(raw)
    if pa.types.is_timestamp(atype):
        # as naive UTC: pyarrow would store an aware value's wall time
        ts = pd.Timestamp(raw, tz=atype.tz)
        return ts.tz_convert(None) if ts.tz else ts
    if pa.types.is_string(atype) or pa.types.is_large_string(atype):
        return raw
    raise ValueError(
        f"unsupported hive partition column type {atype} for row-group "
        "slice reads — supported: integer, floating, boolean, date, "
        "timestamp, string")


def _read_unit(f: str, rg: int | None, part_fields: list, arrow_schema):
    """One row group of ``f`` (the whole file when ``rg`` is None) as an
    Arrow table of ``arrow_schema``, with the hive partition columns
    recovered from ``f``'s ``<col>=<val>`` path segments and attached as
    constants. The cast matters: appends may write a bucket's files with
    other nullability or narrower types, which Spark's read merges."""
    import urllib.parse

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _file_of(f)
    pf = pq.ParquetFile(path)
    tbl = (pf.read(use_threads=False) if rg is None
           else pf.read_row_group(int(rg), use_threads=False))
    if part_fields:
        seg_vals = dict(seg.split("=", 1) for seg in path.split("/")
                        if "=" in seg)
        for name, atype in part_fields:
            val = _part_val(urllib.parse.unquote(seg_vals[name]), atype)
            tbl = tbl.append_column(
                pa.field(name, atype),
                pa.array([val] * tbl.num_rows, type=atype))
    return tbl.select(arrow_schema.names).cast(arrow_schema)


def _read_row_group_slices(spark: SparkSession, schema,
                           survivors: list[tuple[str, int]]) -> DataFrame:
    """Distributed pyarrow granule reads of (file, row_group) slices,
    yielding the table schema exactly (:func:`_read_unit`)."""
    if not survivors:
        return spark.createDataFrame([], schema)
    from pyspark.sql.pandas.types import to_arrow_schema

    part_fields = _partition_fields(spark, schema, survivors[0][0])
    arrow_schema = to_arrow_schema(schema)

    slices = spark.createDataFrame(
        pd.DataFrame(survivors, columns=["f", "rg"]))
    slices = slices.repartition(
        min(len(survivors), spark.sparkContext.defaultParallelism))

    def read_slices(batches):
        for b in batches:
            for f, rg in zip(b.column("f").to_pylist(),
                             b.column("rg").to_pylist()):
                yield from _read_unit(
                    f, rg, part_fields, arrow_schema).to_batches()

    return slices.mapInArrow(read_slices, schema)


def _local_sizes(files: Sequence[str]) -> int | None:
    """Total on-disk bytes of local ``files`` (listed keys, see
    :func:`_file_of`); None when one is not a plain local path the driver
    can stat, such as a remote URI (``hdfs:``, ``s3a:``, ...)."""
    try:
        return sum(os.stat(_file_of(f)).st_size for f in files)
    except OSError:
        return None


def _pushable(atype, values: Sequence) -> bool:
    """True when every probe value's Python type matches the column's
    Arrow type, so pyarrow's ``isin`` keeps every row Spark's ``IN``
    keeps (no cast, no NULL); otherwise the driver read hands every row
    of the survivors to Spark's filter."""
    import numpy as np
    import pyarrow as pa

    if not values or any(v is None for v in values):
        return False
    if pa.types.is_string(atype) or pa.types.is_large_string(atype):
        return all(isinstance(v, str) for v in values)
    if pa.types.is_integer(atype):
        info = np.iinfo(atype.to_pandas_dtype())
        return all(isinstance(v, int) and not isinstance(v, bool)
                   and info.min <= v <= info.max for v in values)
    return False


def _driver_table(spark: SparkSession, schema, files: list[str],
                  row_groups: list[tuple[str, int]] | None,
                  isin: tuple[str, Sequence] | None):
    """``(table, filtered)``: the survivors as one Arrow table in
    ``schema``'s columns (whole files, or single granules when
    ``row_groups`` is given, read with :func:`_read_unit` on this
    thread), and whether ``isin = (col, values)`` already filtered its
    rows as ``col IN values``, which happens when :func:`_pushable`.

    Plain ``ParquetFile`` reads, not ``pyarrow.dataset``: the dataset
    module and its scanner add ~6 MB to the driver's peak RSS (measured
    with the system allocator: ~19 MB vs ~13 MB for the first reads of
    0.7 MB bucket files, imports included)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    if not files:
        return arrow_schema.empty_table(), False
    part_fields = _partition_fields(spark, schema, files[0])
    tbl = pa.concat_tables(
        _read_unit(f, rg, part_fields, arrow_schema)
        for f, rg in (row_groups or [(f, None) for f in files]))
    if isin is not None and _pushable(arrow_schema.field(isin[0]).type,
                                      isin[1]):
        return tbl.filter(pc.field(isin[0]).isin(isin[1])), True
    return tbl, False


def _read_survivors(spark: SparkSession, schema, files: Sequence[str],
                    spark_read: Callable[[], DataFrame], stats: PruneStats,
                    pred: Callable[[], Column] | None, *,
                    isin: tuple[str, Sequence] | None = None,
                    row_groups: list[tuple[str, int]] | None = None,
                    ) -> tuple[DataFrame, PruneStats]:
    """The one read behind every index lookup and range read: the
    surviving ``files`` (or their ``row_groups``) of a table, then the
    exact predicate ``pred()`` (an ``IN`` or ``BETWEEN`` Column, built
    only when Spark must filter: each costs py4j round trips; None reads
    every candidate row).

    :func:`~fastbloom_spark.plans.planner.plan_survivor_read` picks the
    path from the files' local sizes (:func:`_local_sizes`; a file the
    driver cannot stat keeps the read distributed). ``"driver"`` decodes
    the survivors with pyarrow at call time and wraps them with
    ``createDataFrame`` — a ``LocalTableScan`` that runs no Spark job and
    has no ``input_file_name()``. ``"spark"`` returns ``spark_read()``,
    the lazy distributed scan. Both return ``schema``. Spark's ``pred``
    decides the rows unless the driver read already kept exactly them:
    ``isin = (col, values)`` is ``pred``'s IN list, which pyarrow's
    ``isin`` applies under :func:`_pushable` (same types, no NULL), so
    casts and NULLs behave alike on both paths. Over a LocalTableScan
    the optimizer folds ``pred`` into the relation, so a driver read
    stays job-free. Returns ``df`` and ``stats`` with the path it took
    as ``read``."""
    files = [_norm_file(f) for f in files]
    path = planner.plan_survivor_read(_local_sizes(files))
    filtered = False
    if path == "driver":
        tbl, filtered = _driver_table(spark, schema, files, row_groups, isin)
        # one chunk: createDataFrame drops rows of a table whose chunks
        # include empty ones (a filtered multi-file read yields them)
        df = spark.createDataFrame(tbl.combine_chunks(), schema)
    else:
        df = spark_read()
    if pred is not None and not filtered:
        df = df.filter(pred())
    return df, dataclasses.replace(stats, read=path)


def _read_granules(spark: SparkSession, schema, names: Sequence[str],
                   stats: PruneStats, pred: Callable[[], Column] | None,
                   isin: tuple[str, Sequence] | None = None,
                   ) -> tuple[DataFrame, PruneStats]:
    """:func:`_read_survivors` of the (file, row group) granules
    ``names`` (``"<file>#<row_group>"``), in their order; the distributed
    read is :func:`_read_row_group_slices`."""
    rgs = [(f, int(rg)) for f, rg in (n.rsplit("#", 1) for n in names)]
    return _read_survivors(
        spark, schema, list(dict.fromkeys(f for f, _ in rgs)),
        lambda: _read_row_group_slices(spark, schema, rgs), stats, pred,
        isin=isin, row_groups=rgs)


def rowgroup_zone_stats(spark: SparkSession, data_path: str,
                        col: str) -> DataFrame:
    """Per-(file, row group) min/max of ``col`` read from the parquet
    FOOTERS — parquet already stores granule statistics, so range pruning
    at granule level needs no sidecar at all. Distributed metadata-only
    scan (pyarrow never touches data pages); values ride back in the
    column's OWN Spark type through typed Arrow batches (the zone-map
    discipline — pandas float64 would corrupt int64 > 2^53). Granules
    whose footer lacks statistics come back ``has_stats=false`` and MUST
    be kept by any pruner (zero-FN)."""
    src = spark.read.parquet(data_path)
    dt = src.schema[col].dataType.simpleString()

    def stats(f, pf):
        j = pf.schema_arrow.names.index(col)
        for i in range(pf.metadata.num_row_groups):
            rg = pf.metadata.row_group(i)
            st = rg.column(j).statistics
            ok = bool(st is not None and st.has_min_max)
            yield (f, i, st.min if ok else None, st.max if ok else None,
                   rg.num_rows, ok)

    return _footer_scan(
        spark, src.inputFiles(), stats,
        f"file_path string, row_group int, vmin {dt}, vmax {dt}, "
        "n_rows long, has_stats boolean")


def pruned_range_read_row_groups(
    spark: SparkSession,
    data_path: str,
    col: str,
    lo,
    hi,
    *,
    exact: bool = True,
) -> tuple[DataFrame, PruneStats]:
    """Range scan DECODING only row groups whose footer [min, max]
    overlaps [lo, hi] (inclusive) — the granule counterpart of
    :func:`pruned_range_read`, driven by parquet's own statistics instead
    of engine zone maps (write with ``sort_within_buckets_by`` /
    clustered layout to make them tight). Granules without statistics
    always survive, so pruning keeps zero false negatives; string stats
    may be writer-truncated, which only ever WIDENS bounds (extra
    survivors, never lost rows). ``exact=True`` finishes with BETWEEN.
    The survivors are read like an index lookup's
    (:func:`_read_survivors`: on the driver within the budget)."""
    stats_rows = rowgroup_zone_stats(spark, data_path, col).collect()
    surv = [f"{r['file_path']}#{int(r['row_group'])}" for r in stats_rows
            if (not r["has_stats"]) or (r["vmin"] is not None
                                        and r["vmax"] >= lo
                                        and r["vmin"] <= hi)]
    stats = PruneStats(granularity="row_group",
                       units_total=len(stats_rows),
                       units_survived=len(surv),
                       survivors=tuple(sorted(surv)))
    return _read_granules(
        spark, spark.read.parquet(data_path).schema, surv, stats,
        (lambda: F.col(col).between(F.lit(lo), F.lit(hi))) if exact else None)


def probe_digests(values: Iterable, digest: str = "sha256") -> list[int]:
    """Driver-side digest64 of probe values — bit-equal to the Spark-side
    ``digest64(col, digest)`` column for string/int/bytes values (both
    hash the UTF-8 bytes of the string rendering; parity tested in
    test_kernel). Probe types whose Python ``str()`` DIVERGES from
    Spark's ``cast(x AS STRING)`` are REFUSED: str(True)="True" vs
    Spark "true", str(1e-7)="1e-07" vs "1.0E-7" — a mismatched digest
    would prune the unit holding the real rows (silent false negatives,
    unrecoverable by the exact filter). Pass such probes pre-rendered as
    the exact strings Spark would produce."""
    out = []
    for v in values:
        if isinstance(v, bool) or isinstance(v, float):
            raise TypeError(
                f"probe value {v!r} ({type(v).__name__}): Python str() "
                "renders bool/float differently from Spark's cast-to-"
                "string, so the driver-side digest would mismatch the "
                "indexed digests and PRUNE the matching rows — render "
                "the probe to Spark's exact string form yourself "
                "(e.g. 'true'/'false', Spark's float formatting)")
        data = bytes(v) if isinstance(v, (bytes, bytearray)) \
            else str(v).encode("utf-8")
        out.append(digest64_bytes(data, digest))
    return out


class _UnitFilters:
    """The per-unit filters of one index sidecar — bucket, file or row
    group rows, each keyed by its key columns (the first of
    :data:`_UNIT_KEYS` the rows carry, which also names the granularity)
    — and the one survival rule: a unit survives iff its filter may
    contain ANY probe digest.
    Microseconds per unit (vectorized kernel over the whole digest
    vector); no Spark job. Filters hydrate per indexed column on first
    probe and are cached, so a single-column workload over a wide
    multi-column index never pays hydration for the others."""

    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf
        self._keys = next(k for k in _UNIT_KEYS if set(k) <= set(pdf))
        self.granularity = _UNIT_KEYS[self._keys]
        self._digest = {str(c): str(d) for c, d in pdf.groupby(
            "index_col", sort=True)["digest"].first().items()}
        self._filters: dict[str | None, list] = {}

    def column(self, on: str | None) -> str:
        """The indexed column a probe targets: ``on``, or the only one."""
        cols = list(self._digest)
        if on is None:
            if len(cols) > 1:
                raise ValueError(
                    f"index covers several columns {cols}; pass on=<column>")
            return cols[0]
        if on not in self._digest:
            raise ValueError(f"column {on!r} is not indexed (have {cols})")
        return on

    def digest(self, on: str | None = None) -> str:
        return self._digest[self.column(on)]

    def filters(self, icol: str | None) -> list:
        """``(unit name, filter)`` per row of ``icol`` (every row when
        None), in sidecar order; a name joins the key values with ``#``."""
        if icol not in self._filters:
            rows = (self.pdf if icol is None
                    else self.pdf[self.pdf["index_col"] == icol])
            self._filters[icol] = [
                ("#".join(str(r[k]) for k in self._keys),
                 sketch_row_to_filter(r)) for _, r in rows.iterrows()]
        return self._filters[icol]

    def survive(self, icol: str | None, digests: Sequence[int],
                ) -> tuple[list[str], PruneStats]:
        """Surviving unit names in sidecar order, and the prune stats."""
        digs = list(digests)
        units = self.filters(icol)
        hits = [name for name, filt in units
                if digs and bool(filt.contains_digests(digs).any())]
        return hits, PruneStats(granularity=self.granularity,
                                units_total=len(units),
                                units_survived=len(hits),
                                survivors=tuple(sorted(hits)))

    def probe(self, probe_values: Sequence, *, on: str | None = None,
              digests: Sequence[int] | None = None,
              ) -> tuple[str, list[str], PruneStats]:
        """The probed column and :meth:`survive` over it; ``digests``
        overrides the driver-side digest64 of ``probe_values``."""
        icol = self.column(on)
        if digests is None:
            digests = probe_digests(probe_values, self._digest[icol])
        return (icol, *self.survive(icol, digests))


def _bucket_scan(data: DataFrame, survivors: Sequence[str]) -> DataFrame:
    """``data`` cut to the surviving bucket directories: a partition
    predicate Catalyst resolves at file listing (``PartitionFilters``), so
    skipped directories are never opened; no survivors reads nothing."""
    return data.filter(F.col(BUCKET_COL).isin(
        [int(s) for s in survivors] or [-1]))


class IndexHandle:
    """Load-once / probe-many driver handle over one index, and the one
    way to open any: ``IndexHandle(spark, path)`` for a
    :func:`write_indexed_table` table (data under ``{path}/data``),
    ``IndexHandle(spark, index_path, data=data_path)`` for a standalone
    :func:`index_parquet_files` / :func:`index_parquet_row_groups` index.
    Its granularity (buckets, files or row groups) comes from the
    sidecar's key columns.

    The one-shot entry points (:func:`pruned_read` & co.) re-read and
    re-hydrate the KB-scale index parquet on EVERY call — at bench scale
    the index load IS the lookup cost (~0.2 s vs microseconds of numpy for
    the probe). A handle pays that load exactly once: construction
    resolves the current committed version, collects the index rows, and
    verifies the data-file fingerprint (a legacy in-place standalone
    index, which has none, its file set); per-column filters hydrate on
    first probe and are cached, so each subsequent lookup is numpy over
    the filters plus the survivors' read: a driver-side pyarrow read
    returned as a ``LocalTableScan`` (no Spark job) while they fit
    ``planner.DRIVER_READ_BUDGET`` on a local root, else the pruned Spark
    scan (see :func:`_read_survivors`).

    Consistency: the handle PINS the version it resolved — lookups keep
    using one coherent (bloom, zones, rgbloom) set even while appends
    publish new versions (the GC keeps the previous committed version
    alive for exactly this reason — a pin therefore survives exactly ONE
    subsequent publish; after two, lazily-loaded sidecars of the pinned
    version may be gone). Call :meth:`refresh` (or construct a fresh
    handle) to see new data.
    """

    def __init__(self, spark: SparkSession, path: str, *,
                 data: str | None = None, verify_files: bool = True):
        self.spark, self.path = spark, path
        self.data_path = f"{path}/data" if data is None else data
        self._verify_files = verify_files
        self._bloom_dir, self._zones_dir = _resolve_index_root(spark, path)
        self._units = self._units_at(self._bloom_dir)
        #: the index rows as loaded (sketch payloads included)
        self.index_pdf = self._units.pdf
        self._data_df: DataFrame | None = None
        if verify_files:
            if self._bloom_dir == path:  # legacy in-place standalone
                _check_file_set(self.index_pdf[FILE_COL].unique(),
                                self._data().inputFiles(),
                                self._units.granularity)
            else:
                _check_index_fresh(self.index_pdf, spark, self.data_path)
        self.meta = _read_index_meta(self.index_pdf)
        self._zones_cache: dict[str, list] = {}
        self._union_cache: dict[str, object] = {}
        self._files_by_bucket: dict[str, list[str]] | None = None
        self._rg_units: _UnitFilters | None = None

    def _units_at(self, index_dir: str) -> _UnitFilters:
        """The sidecar rows under ``index_dir``."""
        pdf = self.spark.read.parquet(index_dir).toPandas()
        if not len(pdf):
            raise ValueError(f"empty bloom index at {index_dir}")
        return _UnitFilters(pdf)

    def _data(self) -> DataFrame:
        """The data relation, created once: repeated lookups reuse the
        resolved file listing instead of re-listing per call (at bench
        scale the listing is a visible slice of a point lookup)."""
        if self._data_df is None:
            self._data_df = self.spark.read.parquet(self.data_path)
        return self._data_df

    def _bucket_files(self) -> dict[str, list[str]]:
        """``{bucket id: files}`` of :meth:`_data`'s listing, grouped once
        per handle, so the driver read and the Spark scan see one pinned
        file set."""
        if self._files_by_bucket is None:
            files: dict[str, list[str]] = {}
            for f in self._data().inputFiles():
                b = f.split(f"/{BUCKET_COL}=", 1)[1].split("/", 1)[0]
                files.setdefault(b, []).append(f)
            self._files_by_bucket = files
        return self._files_by_bucket

    def _read(self, hits: list[str], stats: PruneStats,
              pred: Callable[[], Column] | None,
              isin: tuple[str, Sequence] | None = None,
              ) -> tuple[DataFrame, PruneStats]:
        """:func:`_read_survivors` of the units ``stats`` kept: bucket
        directories and files in name order, row-group granules in
        sidecar order (``hits``)."""
        spark, schema = self.spark, self._data().schema
        if stats.granularity == "row_group":
            return _read_granules(spark, schema, hits, stats, pred, isin)
        if stats.granularity == "partition":
            by_bucket = self._bucket_files()
            return _read_survivors(
                spark, schema,
                [f for s in stats.survivors for f in by_bucket.get(s, ())],
                lambda: _bucket_scan(self._data(), stats.survivors), stats,
                pred, isin=isin)
        files = list(stats.survivors)
        if files:
            # basePath keeps hive partition columns when the data root is
            # a partitioned table (leaf-file reads drop them otherwise);
            # only the survivors are listed
            scan = spark.read.option("basePath", self.data_path) \
                .parquet(*map(_file_of, files))
            schema = scan.schema
        return _read_survivors(
            spark, schema, files,
            lambda: scan if files else spark.createDataFrame([], schema),
            stats, pred, isin=isin)

    def _lookup(self, units: _UnitFilters, probe_values: Sequence,
                on: str | None, exact: bool) -> tuple[DataFrame, PruneStats]:
        icol, hits, stats = units.probe(probe_values, on=on)
        if not exact:
            return self._read(hits, stats, None)
        return self._read(hits, stats,
                          lambda: F.col(icol).isin(list(probe_values)),
                          (icol, probe_values))

    # -- probing ---------------------------------------------------------

    def prune(self, probe_values: Sequence, *, on: str | None = None,
              digests: Sequence[int] | None = None) -> PruneStats:
        """Driver-side prune decision: pure numpy over the hydrated
        filters, zero Spark jobs. ``digests`` overrides the driver-side
        digest64 for callers probing pre-digested values."""
        return self._units.probe(probe_values, on=on, digests=digests)[2]

    def pruned_read(self, probe_values: Sequence, *,
                    on: str | None = None, exact: bool = True,
                    ) -> tuple[DataFrame, PruneStats]:
        """Point lookup reading only the surviving units: on the driver
        while they fit the budget (:func:`_read_survivors`), else bucket
        directories as ``bucket_id IN (...)`` (Catalyst PartitionFilters
        prune at file listing), files as the explicit read-path list, row
        groups as distributed granule reads. Semantics of ``on`` and
        ``exact`` as in module-level :func:`pruned_read`; the index load
        is already paid."""
        return self._lookup(self._units, probe_values, on, exact)

    def zones(self, col: str) -> list:
        """Zone-map rows of one column, loaded once and cached — collected,
        not toPandas: zone values must stay py4j-native (an all-NULL
        bucket would float64-corrupt an int64 zone column)."""
        if col not in self.meta.zone_cols:
            raise ValueError(
                f"no zone map for column {col!r} (indexed zone_cols: "
                f"{list(self.meta.zone_cols)}) — pass zone_cols=[...] to "
                "write_indexed_table")
        if col not in self._zones_cache:
            self._zones_cache[col] = self.spark.read.parquet(
                f"{self._zones_dir}/{col}").collect()
        return self._zones_cache[col]

    def pruned_range_read(self, col: str, lo, hi, *, exact: bool = True,
                          ) -> tuple[DataFrame, PruneStats]:
        """Range scan through the cached zone maps: reads only buckets
        whose [vmin, vmax] overlaps [lo, hi] (inclusive), like
        :meth:`pruned_read` (see module-level :func:`pruned_range_read`);
        ``exact`` adds the BETWEEN filter."""
        zones = self.zones(col)
        hits = [str(int(r[BUCKET_COL])) for r in zones
                if r["vmin"] is not None and r["vmax"] >= lo
                and r["vmin"] <= hi]
        stats = PruneStats(granularity="partition", units_total=len(zones),
                           units_survived=len(hits),
                           survivors=tuple(sorted(hits)))
        return self._read(hits, stats, (lambda: F.col(col).between(
            F.lit(lo), F.lit(hi))) if exact else None)

    def _rg_dir(self) -> str | None:
        """The rgbloom sidecar dir of the pinned version, or None when it
        has none (legacy layouts and standalone indexes never have one)."""
        if not self._bloom_dir.endswith("/bloom"):
            return None
        rgdir = self._bloom_dir[:-len("/bloom")] + "/rgbloom"
        fs, rgp = _hadoop_fs(self.spark, rgdir)
        return rgdir if fs.exists(rgp) else None

    def _rg_index(self) -> _UnitFilters:
        """Row-group filters: this index's own when it is a row-group
        index, else the rgbloom sidecar, loaded once."""
        if self._units.granularity == "row_group":
            return self._units
        if self._rg_units is None:
            rgdir = self._rg_dir()
            if rgdir is None:
                raise ValueError(
                    f"no rgbloom sidecar next to {self._bloom_dir} — write "
                    "the table with write_indexed_table(row_group_index="
                    "True) for granule-level pruning")
            self._rg_units = self._units_at(rgdir)
        return self._rg_units

    def pruned_read_row_groups(self, probe_values: Sequence, *,
                               on: str | None = None, exact: bool = True,
                               ) -> tuple[DataFrame, PruneStats]:
        """Granule-level point lookup through the ``rgbloom`` sidecar:
        prunes (file, row group) pairs driver-side and DECODES only
        survivors (finer than the bucket-level :meth:`pruned_read`, which
        stops at directory pruning). Zero FN per granule; sidecar loaded
        + hydrated once per handle."""
        return self._lookup(self._rg_index(), probe_values, on, exact)

    def refresh(self) -> "IndexHandle":
        """A fresh handle over the CURRENT committed version (this handle
        stays pinned and usable); keeps this handle's data root and
        verify_files setting (a forensics handle must stay openable on
        refresh)."""
        return IndexHandle(self.spark, self.path, data=self.data_path,
                           verify_files=self._verify_files)

    def verify_route(self, rows: DataFrame, col: str, *,
                     on: str | None = None, max_keys: int,
                     cache: bool = False,
                     ) -> tuple[DataFrame, DataFrame, DataFrame,
                                PruneStats | None]:
        """Route ``rows`` to an exact verify against this table by the
        digest of their NULL-free ``col``; returns ``(maybe, negatives,
        data, stats)``. ``negatives`` are the rows :meth:`union_filter`
        rules out (absent, zero FN); ``maybe`` the rest, digest in
        :data:`_DIGEST_COL` (``cache``: persisted before the collect, the
        caller unpersists). ``data`` is the table cut to the buckets that
        may hold a ``maybe`` digest (:meth:`prune`, ``stats``); over
        ``max_keys`` distinct digests it is the whole table and ``stats``
        None. Joining ``maybe`` to ``data`` equals joining it to the whole
        table. Bucketed indexed tables only."""
        if self._units.granularity != "partition":
            raise ValueError(
                f"verify_route needs an indexed table's bucket index; "
                f"{self.path} is a {self._units.granularity} index")
        icol = self._units.column(on)
        probed = rows.withColumn(_DIGEST_COL, digest64(
            F.col(col), self._units.digest(icol)))
        probed = probed.withColumn("__maybe", bloom_contains_col(
            self.spark, self.union_filter(icol), _DIGEST_COL))
        negatives = probed.filter(~F.col("__maybe")) \
            .drop(_DIGEST_COL, "__maybe")
        maybe = probed.filter(F.col("__maybe")).drop("__maybe")
        if cache:
            maybe = maybe.persist()
        digs = maybe.select(_DIGEST_COL).distinct().limit(max_keys + 1) \
            .toPandas()[_DIGEST_COL].tolist()
        if len(digs) > max_keys:
            return maybe, negatives, self._data(), None
        stats = self.prune([], on=icol, digests=digs)
        return (maybe, negatives, _bucket_scan(self._data(), stats.survivors),
                stats)

    def union_filter(self, on: str | None = None):
        """Whole-table membership filter: OR-union of every bucket's
        sketch for one indexed column, computed once and cached (see
        module-level :func:`index_filter` for semantics + sizing caveat).
        """
        icol = self._units.column(on)
        if icol not in self._union_cache:
            filters = [f for _, f in self._units.filters(icol)]
            self._union_cache[icol] = functools.reduce(
                lambda acc, f: acc.union(f), filters[1:], filters[0].copy())
        # COPY out: BloomFilter.union/intersect/insert mutate in place —
        # handing back the cached object would let a caller silently
        # corrupt every later union_filter() result (false negatives)
        return self._union_cache[icol].copy()


def pruned_read(
    spark: SparkSession,
    path: str,
    probe_values: Sequence,
    *,
    on: str | None = None,
    exact: bool = True,
) -> tuple[DataFrame, PruneStats]:
    """Scan a :func:`write_indexed_table` table for the probe values,
    reading only surviving bucket directories.

    While the surviving buckets' files fit ``planner.DRIVER_READ_BUDGET``
    and the table root is local, the driver reads them with pyarrow at
    call time and returns a ``LocalTableScan`` (no Spark job, no
    ``input_file_name()``; ``stats.read == "driver"``). Otherwise the
    returned plan filters ``bucket_id IN (survivors)`` — a partition
    predicate Catalyst resolves at file listing (``PartitionFilters``), so
    skipped directories are never opened. ``on`` names the indexed column
    to probe (required when several are indexed). ``exact=True``
    additionally applies ``col IN (probe_values)``, turning maybe-contains
    into exact membership (the Bloom zero-FN contract guarantees no row is
    lost). ``exact=False`` returns all candidate rows of surviving buckets
    (the caller owns verification — e.g. probing on digests of a column
    that was transformed after indexing).

    One-shot convenience: loads + hydrates the index per call. Repeated
    lookups should construct an :class:`IndexHandle` once and call
    ``handle.pruned_read`` — the index load dominates a point lookup."""
    return IndexHandle(spark, path).pruned_read(probe_values, on=on,
                                                exact=exact)


def append_to_indexed_table(df_new: DataFrame, path: str, *,
                            commit_token: str | None = None) -> None:
    """Incremental ingest: append rows to ``{path}/data`` and OR the new
    per-bucket sketches into the existing index — NO rebuild.

    Bloom OR is associative and commutative (reference ``union``, fastbloom
    src/bit_vector.rs:98-104), so append-then-merge equals indexing the
    full table in one shot: the merged filter WORDS are bitwise-identical
    (tested), and the zero-FN pruning contract holds across any append
    history. Cost per append: one scan of the NEW rows only, plus a
    driver-side OR over the KB-scale index. The new sketch rows are built
    from the files the append actually WROTE (snapshot diff + basePath
    read), never from a re-evaluation of ``df_new``'s lineage.

    Crash/concurrency window: the data append and the index publish are
    two steps with no cross-store transaction (bare parquet has none). A
    crash between them leaves data files the index never saw — readers
    are PROTECTED because pruned reads compare the index's recorded
    data-file fingerprint against the live listing and refuse to prune a
    stale index (loud error, never silent false negatives); recover via
    compact_indexed_table or a fresh write_indexed_table. The index
    publish itself is atomic for readers (versioned dir + commit marker;
    the previous version stays resolvable until the new marker lands).
    Concurrent APPENDERS remain single-writer — the inputFiles() snapshot
    diff would mis-attribute a second writer's files; use a table format's
    commit protocol when multiple writers are real.

    ``df_new`` is cast to the table's columns by name before the write
    (a missing column raises): a bucket holding files of two physical
    types for one column fails every later Spark read of that bucket."""
    spark = df_new.sparkSession
    # refuse to append onto a STALE index (the handle's freshness check):
    # a prior crashed append left data files the filters never digested,
    # and appending now would refresh the fingerprint over them —
    # laundering the staleness witness while the orphaned files stay
    # un-indexed (silent zero-FN break). Recovery for that state is
    # compact_indexed_table / a fresh write_indexed_table, as the stale
    # error says.
    handle = IndexHandle(spark, path)
    bloom_dir, zones_dir = handle._bloom_dir, handle._zones_dir
    index_pdf, meta = handle.index_pdf, handle.meta
    index_schema = spark.read.parquet(bloom_dir).schema
    num_buckets, bucket_source = meta.num_buckets, meta.bucket_source
    rgdir = handle._rg_dir()
    table = handle._data()
    fields = [f for f in table.schema.fields if f.name != BUCKET_COL]
    missing = [f.name for f in fields if f.name not in df_new.columns]
    if missing:
        raise ValueError(
            f"append to {path} lacks the table's column(s) {missing}")
    df_new = df_new.select(*[F.col(f.name).cast(f.dataType).alias(f.name)
                             for f in fields])

    # claim the index version BEFORE touching the data dir: a concurrent
    # appender loses here loudly having written NOTHING — the committed
    # table + index stay exactly as they were
    claimed = _claim_index_version(spark, path)

    before = set(table.inputFiles())
    _write_buckets(df_new.withColumn(BUCKET_COL, bucket_col(bucket_source,
                                                            num_buckets)),
                   f"{path}/data", num_buckets, "append")
    new_files = [f for f in spark.read.parquet(f"{path}/data").inputFiles()
                 if f not in before]
    if not new_files and commit_token is None:
        _delete_dir(spark, claimed[1])  # release the unused claim
        return
    # A zero-row append WITH a commit token still publishes: the caller's
    # exactly-once contract needs THIS batch's token committed even though
    # no data changed — releasing the claim here made a replay of an
    # all-duplicate batch recompute and re-emit (ADVICE r06). That
    # version carries the sidecars over unchanged, the manifest
    # re-recording the (unchanged) live file set.
    merged, new_zones = index_pdf, dict.fromkeys(meta.zone_cols, [])
    rg_union = None if rgdir is None else spark.read.parquet(rgdir)
    if new_files:
        written_new = spark.read.option("basePath", f"{path}/data") \
            .parquet(*new_files)
        new_pdf = _build_index_rows(written_new, list(meta.cols), meta.cfg,
                                    num_buckets, bucket_source).toPandas()
        for c in index_pdf.columns:  # carry meta-only columns (zone_cols, ...)
            if c not in new_pdf.columns:
                new_pdf[c] = index_pdf.iloc[0][c]

        from ..kernel import decode_words, encode_words

        combined = pd.concat([index_pdf, new_pdf], ignore_index=True)
        out = []
        for (bucket, icol), grp in combined.groupby([BUCKET_COL, "index_col"],
                                                    sort=True):
            words = functools.reduce(BloomSketch.merge, (
                decode_words(bytes(b), copy=False) for b in grp["sketch"]))
            row = grp.iloc[0].to_dict()
            row.update({BUCKET_COL: bucket, "index_col": icol,
                        "rows_seen": int(grp["rows_seen"].sum()),
                        "sketch": encode_words(words)})
            out.append(row)
        merged = pd.DataFrame(out, columns=list(index_pdf.columns))
        if meta.zone_cols:
            new_zones = _zone_agg_rows(written_new, meta.zone_cols)
        # rg sidecar (if present): new files are NEW (file, row_group)
        # keys, so the append is a pure union of old rows + the new files'
        # rows — no sketch merge at this granularity, ever
        if rg_union is not None:
            rg_union = rg_union.unionByName(_build_rg_index_rows(
                spark, f"{path}/data", list(meta.cols),
                sketch_row_config(rg_union.first()), files=new_files,
                base_path=f"{path}/data"))
    # refresh the staleness witness to cover the appended files
    rel_files = None
    if "data_files_sha" in merged.columns:
        rel_files = list(_data_rel_files(spark, f"{path}/data"))
        n_files, files_sha = _fingerprint_of(rel_files)
        merged["data_file_count"] = n_files
        merged["data_files_sha"] = files_sha

    # zone maps merge the same way: min/max are associative, so
    # append-then-merge equals a full rebuild exactly. Values stay in
    # py4j-native Python objects end-to-end (see _zone_agg_rows: pandas
    # would float64-corrupt nullable int64 zones above 2^53).
    merged_zones = {}
    for c, new in new_zones.items():
        by: dict = {}
        for b, vmin, vmax, n in spark.read.parquet(
                f"{zones_dir}/{c}").collect() + new:
            lo, hi, seen = by.get(b, (None, None, 0))
            by[b] = (min((v for v in (lo, vmin) if v is not None),
                         default=None),
                     max((v for v in (hi, vmax) if v is not None),
                         default=None), seen + n)
        merged_zones[c] = [(b, *v) for b, v in sorted(by.items())]

    def publish(vdir: str) -> None:
        spark.createDataFrame(merged, schema=index_schema) \
            .write.mode("overwrite").parquet(f"{vdir}/bloom")
        _write_zone_maps(table, merged_zones, f"{vdir}/zones")
        if rg_union is not None:
            rg_union.write.mode("overwrite").parquet(f"{vdir}/rgbloom")

    _publish_index_version(spark, path, publish, claimed=claimed,
                           commit_token=commit_token, data_files=rel_files)


def heal_indexed_table(spark: SparkSession, path: str, *,
                       force: bool = False) -> list[str]:
    """Roll back a crashed append: delete the data files the committed
    index never saw, restoring index/data consistency WITHOUT a rebuild.

    A crash between ``append_to_indexed_table``'s data write and its index
    publish leaves orphan files that make every pruned read refuse (the
    fingerprint staleness witness). The committed version's ``_FILES``
    manifest records exactly which files the index covers, so recovery is
    a listing diff + delete of the orphans — the rows they held were never
    committed (their index version never got its marker), so deleting them
    is a transaction ROLLBACK, not data loss. This is what makes
    exactly-once streaming ingest (streaming/index_stream.py) total: a
    replayed micro-batch first heals, then re-appends its rows once.

    Refuses when recorded files are MISSING from the live listing (that is
    corruption/manual deletion, not a crashed append) and when the
    committed index predates the manifest (recover via
    compact_indexed_table instead). Returns the deleted relative paths
    (empty = table was already consistent).

    An uncommitted version dir younger than
    ``STALE_UNCOMMITTED_TTL_MS`` marks a POSSIBLY IN-FLIGHT append
    (appends claim before writing data): its data files look like
    orphans to the listing diff, but deleting them would destroy that
    writer's work mid-publish. Healing therefore REFUSES while such a
    claim exists unless ``force=True`` — pass it only when the caller
    KNOWS no append is running (e.g. the streaming ingest sink, which is
    the table's single writer by contract, healing its own crashed
    batch on replay)."""
    bloom_dir, _ = _resolve_index_root(spark, path)
    if bloom_dir == f"{path}/index":
        raise ValueError(
            f"{path} resolves to a legacy in-place index with no _FILES "
            "manifest — cannot heal; rebuild via compact_indexed_table or "
            "write_indexed_table")
    vdir = bloom_dir.rsplit("/bloom", 1)[0]
    raw = _read_small_file(spark, f"{vdir}/{FILES_MANIFEST}")
    if raw is None:
        raise ValueError(
            f"committed index version at {vdir} carries no "
            f"{FILES_MANIFEST} manifest (published before manifests "
            "existed) — cannot heal; rebuild via compact_indexed_table")
    recorded = {x for x in raw.decode("utf-8").split("\n") if x}
    live = _data_rel_files(spark, f"{path}/data")
    missing = sorted(recorded - live.keys())
    if missing:
        raise ValueError(
            f"{len(missing)} data files recorded by the committed index "
            f"are MISSING from {path}/data (first: {missing[0]}) — that "
            "is data loss or manual deletion, not a crashed append; "
            "refusing to delete anything")
    orphans = sorted(live.keys() - recorded)
    if orphans and not force:
        # the in-flight guard runs AFTER the (slow) listing work and
        # immediately BEFORE the destructive step, minimizing the
        # check-then-act window for a writer that claims mid-heal. It
        # FAILS CLOSED (see _in_flight) — the hazard is deleting a live
        # appender's not-yet-indexed data files.
        for v, committed in _list_versions(spark, path):
            if not committed and _in_flight(spark, path, v):
                raise ConcurrentIndexWriteError(
                    f"uncommitted index version v{v} at {path} is "
                    "younger than the in-flight TTL (or its age could "
                    "not be read) — an append may be running, and its "
                    "not-yet-indexed data files would be deleted as "
                    "orphans; ensure no writer is active, then retry "
                    "with force=True (or wait out the TTL)")
    for rel in orphans:  # by the listed URI (see _data_rel_files)
        _delete_dir(spark, _file_of(live[rel]))
    return orphans


class _StateStore:
    """An indexed table as a batch's state (incremental dedup, streaming
    ingest), opened once per batch: ``has_state`` whether it has a
    committed index (:func:`_committed_root`; listing errors propagate, so
    an unreadable state is never overwritten as an empty one),
    ``replayed`` whether ``commit_token`` is already committed (emit and
    write nothing)."""

    def __init__(self, spark: SparkSession, path: str,
                 commit_token: str | None = None):
        self.path, self.commit_token = path, commit_token
        self.has_state = _committed_root(spark, path) is not None
        self.replayed = (
            self.has_state and commit_token is not None
            and commit_token in committed_commit_tokens(spark, path).values())

    def commit(self, rows: DataFrame,
               bootstrap: Callable[[DataFrame], None]) -> None:
        """Append ``rows`` with the token (recorded even for zero rows), or
        with no state yet ``bootstrap(rows)``: the caller's
        :func:`write_indexed_table`, passing the token. A first batch
        without rows publishes nothing, so its token is not recorded."""
        if self.has_state:
            append_to_indexed_table(rows, self.path,
                                    commit_token=self.commit_token)
        elif rows.limit(1).count():
            bootstrap(rows)


def pruned_semi_join(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    key_col: str,
    *,
    on: str | None = None,
    max_keys: int = 1_000_000,
) -> tuple[DataFrame, PruneStats]:
    """Dynamic file pruning for a semi-join: keep the indexed table's rows
    whose ``on`` column appears in ``keys_df.key_col``, scanning only
    bucket directories whose filter says maybe-contains for ANY key.

    The index-level analogue of Spark's dynamic partition pruning, driven
    by the Bloom index instead of the partition key
    (:meth:`IndexHandle.verify_route`): the digests of the build side's
    keys that the table's union filter may contain are collected (Arrow;
    they must be driver-sized — more than ``max_keys`` raises, use
    ``bloom_semi_join`` for data-scale sides), the KB-scale index is
    probed driver-side, and the probe side's scan starts from a file
    listing that already excludes every non-surviving bucket. The final
    exact ``left_semi`` join keeps semantics identical to an unpruned join
    (zero-FN pruning: no matching row can live in a skipped bucket)."""
    handle = IndexHandle(spark, path)
    index_col = handle._units.column(on)
    # NULL keys never match a semi-join (NULL = NULL is not true), and a
    # NULL digest fails the probe — drop them first
    keys = keys_df.select(F.col(key_col).alias("__key")) \
        .filter(F.col("__key").isNotNull()).distinct()
    _, _, data, stats = handle.verify_route(keys, "__key", on=index_col,
                                            max_keys=max_keys)
    if stats is None:
        raise ValueError(
            f"build side exceeds max_keys={max_keys}; use bloom_semi_join "
            "for data-scale build sides")
    joined = data.join(keys.withColumnRenamed("__key", index_col),
                       on=index_col, how="left_semi")
    return joined, stats


def pruned_range_read(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    *,
    exact: bool = True,
) -> tuple[DataFrame, PruneStats]:
    """Range-predicate scan through the zone maps: read only buckets whose
    [vmin, vmax] overlaps [lo, hi] (inclusive). min/max are EXACT
    aggregates in the column's own type, so range pruning has zero false
    negatives by construction — a matching row cannot live in a
    non-overlapping bucket. ``exact=True`` finishes with the BETWEEN
    filter (pushed into the parquet scan of the surviving buckets).

    Bloom meta and zones resolve from ONE committed index version, so a
    concurrent append can never pair fresh zones with stale filters or
    vice versa. A range read hydrates no Bloom filter. One-shot: repeated
    reads should hold an :class:`IndexHandle`
    (``handle.pruned_range_read``)."""
    return IndexHandle(spark, path).pruned_range_read(col, lo, hi,
                                                      exact=exact)


def describe_index(spark: SparkSession, path: str) -> pd.DataFrame:
    """Operator-facing summary: one row per (bucket, indexed column) with
    geometry, rows_seen, measured bit density, and the density-implied
    point-query FPR (density^k — what a probe actually pays, which drifts
    above the configured target once a bucket exceeds expected_items).
    Driver-side over the KB-scale index; use it to decide when appends
    have saturated the filters and a rebuild with larger m is due."""
    import numpy as np

    from ..kernel import decode_words

    index_pdf = IndexHandle(spark, path, verify_files=False).index_pdf
    out = []
    for _, r in index_pdf.iterrows():
        words = decode_words(bytes(r["sketch"]))
        bits_set = int(np.unpackbits(words.view(np.uint8)).sum())
        m, k = int(r["m"]), int(r["k"])
        density = bits_set / m
        out.append({BUCKET_COL: int(r[BUCKET_COL]),
                    "index_col": str(r["index_col"]),
                    "m": m, "k": k, "rows_seen": int(r["rows_seen"]),
                    "density": density,
                    "implied_fpr": density ** k})
    return pd.DataFrame(out).sort_values(
        [BUCKET_COL, "index_col"]).reset_index(drop=True)


def compact_indexed_table(
    spark: SparkSession,
    path: str,
    *,
    sort_within_buckets_by: Sequence[str] = (),
) -> dict:
    """Small-files remedy after an append-heavy history: rewrite each
    bucket directory to one file and rebuild index + zones from the
    rewritten data. Contents are unchanged, so the rebuilt Bloom words are
    bitwise-identical to the pre-compaction index (tested) — compaction
    is purely physical.

    The swap (write aside -> delete old -> rename) goes through the
    Hadoop FileSystem API, so it works on any supported store, but it is
    NOT transactional: a crash between delete and rename leaves only the
    ``data_compacting`` directory to recover from. Production tables
    under a table format (Iceberg/Delta) should compact via that format's
    commit protocol instead; this is the bare-parquet rendering.

    Returns ``{"buckets", "files_before", "files_after"}``.
    """
    handle = IndexHandle(spark, path, verify_files=False)
    meta = handle.meta
    # the rg sidecar (if the pre-compaction index carried one) is rebuilt
    # over the rewritten files with its own geometry
    rgdir = handle._rg_dir()
    rg_cfg = (None if rgdir is None
              else sketch_row_config(spark.read.parquet(rgdir).first()))

    data = spark.read.parquet(f"{path}/data")
    files_before = len(data.inputFiles())
    _write_buckets(data, f"{path}/data_compacting", meta.num_buckets,
                   "overwrite", sort_within_buckets_by)

    # Hadoop FS signals failure via RETURN VALUE, not exceptions — an
    # unchecked rename would rebuild the index over wrong/partial data
    _delete_dir(spark, f"{path}/data")
    fs, hpath = _hadoop_fs(spark, f"{path}/data")
    jvm = spark.sparkContext._jvm
    if not fs.rename(
            jvm.org.apache.hadoop.fs.Path(f"{path}/data_compacting"),
            hpath):
        raise IOError(
            f"compaction swap failed: rename {path}/data_compacting -> "
            f"{path}/data returned false; recover from data_compacting")

    written = _rebuild_index(spark, path, meta, rg_cfg)
    return {"buckets": meta.num_buckets, "files_before": files_before,
            "files_after": len(written.inputFiles())}


def index_filter(spark: SparkSession, path: str, *, on: str | None = None):
    """OR-union of every bucket's sketch for one indexed column — a single
    whole-table membership filter (the reference ``union``, fastbloom
    src/lib.rs:286-317, over the index rows). Useful as a broadcastable
    pre-filter: compose with ``bloom_contains_col`` (or publish it with
    :func:`publish_index_filter_sql`) so join prefilters and SQL WHERE
    clauses can consult the index without touching the data — the
    per-bucket rows answer "WHERE might it be", the union answers "is it
    anywhere at all". Sizing caveat: the union holds the TABLE'S rows in
    one m-bit array, so its FPR follows total rows against m — when the
    union matters, size ``cfg.expected_items`` for the table (per-bucket
    filters then carry ~B× headroom); per-bucket-sized indexes yield a
    saturated (zero-FN but high-FPR) union.

    Hydration + union go through the library surface (BloomFilter.union
    verifies geometry/seed compatibility row by row, so a corrupted or
    mixed-config index fails loudly instead of ORing incompatible
    words). One-shot; repeated use should hold an :class:`IndexHandle`
    (``handle.union_filter()`` caches the union)."""
    return IndexHandle(spark, path).union_filter(on)


def publish_index_filter_sql(spark: SparkSession, path: str, name: str,
                             *, on: str | None = None) -> str:
    """One call from index to SQL: union the table's per-bucket sketches
    into the whole-table membership filter (:func:`index_filter`) and
    publish it under ``name`` for pure-SQL probing::

        publish_index_filter_sql(spark, "/tbl/docs", "docs_text")
        spark.sql("SELECT * FROM queries "
                  "WHERE bloom_probe_bc('docs_text', digest)")

    WHERE clauses consult the index without touching the data OR any
    driver Python — the broadcast ships once per executor (see
    :func:`~fastbloom_spark.sql.publish_bloom_sql`; sizing caveat of
    :func:`index_filter` applies). Returns ``"bloom_probe_bc"``."""
    from ..sql import publish_bloom_sql

    return publish_bloom_sql(spark, name, index_filter(spark, path, on=on))


def register_pruned_view(spark: SparkSession, path: str,
                         probe_values: Sequence, view_name: str, *,
                         on: str | None = None, exact: bool = True,
                         granularity: str = "bucket",
                         handle: "IndexHandle | None" = None) -> PruneStats:
    """SQL access to FILE/ROW-GROUP skipping (not just membership): resolve
    the index probe driver-side and register the pruned scan as a temp
    view, so pure SQL reads ONLY surviving buckets / row groups::

        register_pruned_view(spark, "/tbl/docs", [text], "docs_hit")
        spark.sql("SELECT doc_id FROM docs_hit WHERE lang = 'en'")

    ``bloom_probe_bc`` (:func:`publish_index_filter_sql`) answers pure-SQL
    MEMBERSHIP without touching data; this is the complementary path that
    carries the index's data-skipping into SQL — the view's plan lists
    only surviving bucket directories (``PartitionFilters``, granularity
    ``"bucket"``) or decodes only surviving granules (``"rowgroup"``,
    via the rgbloom sidecar); survivors within the driver-read budget are
    read at registration and the view is their ``LocalTableScan``.
    Zero-FN law unchanged: every row matching a probe value is in the
    view. Pass a loaded :class:`IndexHandle` to amortize the index load
    across registrations. Returns the :class:`PruneStats` so callers can
    log the skipped fraction."""
    h = handle if handle is not None else IndexHandle(spark, path)
    if granularity == "bucket":
        df, stats = h.pruned_read(probe_values, on=on, exact=exact)
    elif granularity == "rowgroup":
        df, stats = h.pruned_read_row_groups(probe_values, on=on,
                                             exact=exact)
    else:
        raise ValueError(
            f"granularity must be 'bucket' or 'rowgroup', got "
            f"{granularity!r}")
    df.createOrReplaceTempView(view_name)
    return stats
