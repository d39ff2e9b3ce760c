"""Cross-run incremental dedup — new batches vs an on-disk state.

A crawl pipeline re-runs daily; dedup must hold ACROSS runs, not just
within one DataFrame. Two operators share the pattern:
:func:`incremental_dedup` (EXACT, normalized-fingerprint state) and
:func:`incremental_minhash_dedup` (NEAR-dup, banded-MinHash state). The state is the engine's own indexed table
(``sources/index.py``) of previously-committed content fingerprints:
per-bucket Bloom sidecars give a broadcastable prefilter, appends are
atomic versioned publishes with single-writer enforcement, and the
optional commit token makes the whole operator replay-safe inside a
``foreachBatch`` sink — all existing, separately-tested machinery; this
module is pure composition.

Scale shape per batch (the 100 TB story):

1. fingerprint the new rows (normalized sha256 — one narrow projection);
2. within-batch dedup (one hash shuffle on the fingerprint);
3. probe the batch against the state's UNION Bloom filter, broadcast
   (KBs–MBs): probe-NEGATIVE rows are definitively new — the reference
   zero-FN contract (src/lib.rs:169-183) means no true duplicate can
   probe false, so only ~fp of the genuinely-new rows plus the true
   duplicates survive to the verify step. The state data is NOT scanned
   for the negatives.
4. exact verify of the (small) positive set: anti-join against the
   state's fingerprint column — bucket-PRUNED via the index when the
   positive set is driver-sized (any true match lives in a surviving
   bucket, so the pruned anti-join equals the full one), full
   one-column scan above the cap. Exactness: the Bloom only ever
   ROUTES rows to verification; membership decisions are all exact.
5. append the kept fingerprints to the state (bootstrap on first run) —
   Bloom OR is associative (src/bit_vector.rs:98-104), so the appended
   index is bitwise what a one-shot build over all runs would produce.

NULL-text rows always survive and are never recorded in the state
(NULL-in -> NULL-out; unknown content is not "duplicated").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import BloomConfig

__all__ = ["incremental_dedup", "incremental_minhash_dedup"]

_FP_COL = "__fp"
_PARAMS_FILE = "_MINHASH_PARAMS"


def incremental_dedup(
    df_new: DataFrame,
    state_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp: float = 1e-3,
    num_buckets: int = 16,
    seed: int = 42,
    expected_items_per_bucket: int | None = None,
    update_state: bool = True,
    commit_token: str | None = None,
    max_pruned_keys: int = 1_000_000,
) -> DataFrame:
    """Rows of ``df_new`` that are new against ``state_path`` AND unique
    within the batch (min-``id_col`` survivor per normalized
    fingerprint, the :func:`~fastbloom_spark.operators.text.dedup_exact`
    law). With ``update_state`` the survivors' fingerprints are
    appended to the state, so consecutive calls see each other.

    The returned frame is MATERIALIZED (cached + counted) before the
    state append — otherwise its lazy plan would re-probe the updated
    state and drop every row as a duplicate of itself.

    ``commit_token`` makes the call replay-safe for exactly-once sinks:
    a token already committed to the state means this batch's survivors
    were emitted AND recorded by a previous attempt — the replay
    returns an EMPTY frame (streaming-sink semantics: a replayed batch
    emits nothing new). A crash between the emit and the state append
    is healed by the indexed table's own protocol
    (``heal_indexed_table`` + re-run).

    ``fp`` bounds the fraction of genuinely-new rows that pay the exact
    verify join (never correctness); sizing uses
    ``expected_items_per_bucket`` (default: batch size — appends OR
    into the same geometry, and a saturating filter raises the verify
    fraction, never false drops)."""
    from ..sources.index import (IndexHandle, append_to_indexed_table,
                                 committed_commit_tokens,
                                 write_indexed_table)
    from .bloom import bloom_contains_col
    from .text import doc_fingerprint_col

    spark = df_new.sparkSession
    has_state = _has_committed_state(spark, state_path)
    if (commit_token is not None and has_state
            and commit_token in
            committed_commit_tokens(spark, state_path).values()):
        return df_new.limit(0)  # replayed batch: exactly-once skip

    with_fp = df_new.withColumn(_FP_COL, doc_fingerprint_col(text_col))
    null_rows = with_fp.filter(F.col(_FP_COL).isNull()).drop(_FP_COL)
    batch_keep = (with_fp.filter(F.col(_FP_COL).isNotNull())
                  .groupBy(_FP_COL).agg(F.min(id_col).alias(id_col)))
    rows_by_id = with_fp.filter(F.col(_FP_COL).isNotNull()) \
        .join(batch_keep.select(id_col), on=id_col, how="left_semi")

    if has_state:
        handle = IndexHandle(spark, state_path)
        icol = "fingerprint"
        digest = handle._units.digest(icol)
        bloom = handle.union_filter(icol)
        from ..functions.digest import digest64

        d = digest64(F.col(_FP_COL), digest).alias("__d")
        probed = rows_by_id.withColumn("__d", d).withColumn(
            "__maybe", bloom_contains_col(spark, bloom, "__d"))
        negatives = probed.filter(~F.col("__maybe")) \
            .drop("__d", "__maybe")
        positives = probed.filter(F.col("__maybe"))
        # verify the positives exactly; bucket-prune the state side when
        # the positive key set is driver-sized (zero-FN: a true match
        # can only live in a surviving bucket)
        pos_digs = positives.select("__d").distinct() \
            .limit(max_pruned_keys + 1).toPandas()["__d"].tolist()
        state_fp = handle._data().select(icol)
        if len(pos_digs) <= max_pruned_keys:
            stats = handle.prune([], on=icol, digests=pos_digs)
            from ..sources.index import _bucket_scan

            state_fp = _bucket_scan(handle._data(),
                                    stats.survivors).select(icol)
        verified_new = positives.join(
            state_fp.withColumnRenamed(icol, _FP_COL),
            on=_FP_COL, how="left_anti").drop("__d", "__maybe")
        kept = negatives.unionByName(verified_new)
    else:
        kept = rows_by_id

    kept = kept.unionByName(null_rows.withColumn(
        _FP_COL, F.lit(None).cast("string")))
    kept = kept.persist()
    kept.count()  # materialize BEFORE the state sees the new fingerprints

    if update_state:
        new_fps = kept.filter(F.col(_FP_COL).isNotNull()) \
            .select(F.col(_FP_COL).alias("fingerprint"))
        if has_state:
            append_to_indexed_table(new_fps, state_path,
                                    commit_token=commit_token)
        else:
            if expected_items_per_bucket is None:
                expected_items_per_bucket = max(
                    kept.count() // num_buckets, 1024)
            cfg = BloomConfig.from_false_pos(
                fp, expected_items=expected_items_per_bucket, seed=seed)
            write_indexed_table(new_fps, state_path,
                                index_col="fingerprint", cfg=cfg,
                                bucket_source="fingerprint",
                                num_buckets=num_buckets,
                                commit_token=commit_token)
    return kept.drop(_FP_COL)


def _has_committed_state(spark, path: str) -> bool:
    from ..sources.index import _resolve_index_root

    try:
        _resolve_index_root(spark, path)
        return True
    except Exception:
        return False


def incremental_minhash_dedup(
    df_new: DataFrame,
    state_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    seed: int = 42,
    num_buckets: int = 16,
    fp: float = 1e-3,
    update_state: bool = True,
    commit_token: str | None = None,
    max_pruned_keys: int = 1_000_000,
) -> DataFrame:
    """Cross-run NEAR-dup dedup: rows of ``df_new`` that survive
    within-batch MinHash dedup (exact-Jaccard verified — the existing
    :func:`~fastbloom_spark.operators.dedup.minhash_dedup` law) AND are
    not near-duplicates of any previously-committed document.

    The state stores each committed document's banded MinHash rows
    ``(band_hash, band_idx, id, sig)`` in an indexed table keyed by
    ``band_hash`` — no text is retained, so the cross-run decision uses
    the SIGNATURE Jaccard estimate (error ~1/sqrt(num_perm)); the
    within-batch decision stays exact. Per batch:

    1. within-batch ``minhash_dedup`` (exact verify);
    2. band the survivors and probe the state's union Bloom over
       band hashes, broadcast — rows whose band hash cannot be in the
       state skip the join entirely (zero-FN routing);
    3. join the surviving band rows against the bucket-PRUNED state on
       (band_idx, band_hash); a new doc whose estimated Jaccard vs any
       state doc reaches ``threshold`` is dropped;
    4. append the kept docs' band rows (bootstrap on first run; atomic
       versioned publish; ``commit_token`` replays emit nothing).

    Sig duplication note: the signature rides on every band row
    (bands x sig bytes per doc) so verification is ONE join with no
    second sig lookup; a sig-per-doc side table halves state size at
    the cost of an extra doc-keyed fetch — the documented refinement if
    state storage dominates. Blank documents (no shingles) are never
    banded: they survive every run and never enter the state.

    Geometry (shingle_n, num_perm, bands, seed) is pinned in the state
    (``_MINHASH_PARAMS``) at bootstrap and later calls must match —
    mixed geometries would join garbage."""
    import json

    from ..sources.index import (IndexHandle, _read_small_file,
                                 _write_small_file,
                                 append_to_indexed_table,
                                 committed_commit_tokens,
                                 write_indexed_table)
    from .bloom import bloom_contains_col
    from .dedup import (band_hashes_col, minhash_dedup,
                        minhash_jaccard_est_col, minhash_signature_col,
                        shingles_col)

    spark = df_new.sparkSession
    rows = num_perm // bands
    if bands * rows != num_perm:
        raise ValueError("bands must divide num_perm")
    params = {"shingle_n": shingle_n, "num_perm": num_perm,
              "bands": bands, "seed": seed}
    has_state = _has_committed_state(spark, state_path)
    if has_state:
        raw = _read_small_file(spark, f"{state_path}/{_PARAMS_FILE}")
        if raw is None:
            # a committed state without its geometry pin cannot be safely
            # joined against — silently skipping the check would mix
            # incomparable signatures on a later geometry change
            # (ADVICE r06); the params file is written before the
            # bootstrap publish, so this only happens on manual deletion
            raise ValueError(
                f"minhash state at {state_path} is committed but has no "
                f"{_PARAMS_FILE} geometry pin — refusing to join "
                "signatures of unknown geometry; re-bootstrap the state")
        stored = json.loads(raw.decode("utf-8"))
        if stored != params:
            raise ValueError(
                f"minhash state at {state_path} was built with "
                f"{stored}, this call passed {params} — signatures "
                "across geometries are incomparable; re-bootstrap "
                "or match the stored parameters")
        if (commit_token is not None and commit_token in
                committed_commit_tokens(spark, state_path).values()):
            return df_new.limit(0)  # replayed batch: exactly-once skip

    survivors = minhash_dedup(df_new, id_col, text_col,
                              shingle_n=shingle_n, num_perm=num_perm,
                              bands=bands, threshold=threshold, seed=seed)
    # persisted: feeds the probe join AND the state append (without it
    # the signature UDF would run twice over the surviving docs).
    # Blank/NULL docs are dropped on the RAW text (shingles empty <=>
    # NULL or all-whitespace text) — a size(__sh) filter on the computed
    # column would evaluate the shingle expression twice
    banded = survivors \
        .filter(F.col(text_col).isNotNull()
                & (F.trim(F.col(text_col)) != "")) \
        .select(
        F.col(id_col),
        shingles_col(text_col, shingle_n).alias("__sh")) \
        .select(id_col, minhash_signature_col("__sh", num_perm,
                                              seed).alias("sig")) \
        .select(id_col,
                F.posexplode(band_hashes_col("sig", bands, rows))
                .alias("band_idx", "band_hash"),
                "sig").persist()

    if has_state:
        handle = IndexHandle(spark, state_path)
        digest = handle._units.digest("band_hash")
        bloom = handle.union_filter("band_hash")
        from ..functions.digest import digest64
        from ..sources.index import _bucket_scan

        probed = banded.withColumn(
            "__d", digest64(F.col("band_hash"), digest))
        maybe = probed.filter(
            bloom_contains_col(spark, bloom, "__d")).persist()
        pos_digs = maybe.select("__d").distinct() \
            .limit(max_pruned_keys + 1).toPandas()["__d"].tolist()
        state_bands = handle._data()
        if len(pos_digs) <= max_pruned_keys:
            stats = handle.prune([], on="band_hash", digests=pos_digs)
            state_bands = _bucket_scan(state_bands, stats.survivors)
        state_side = state_bands.select(
            F.col("band_idx"), F.col("band_hash"),
            F.col("sig").alias("__state_sig"))
        flagged = (maybe.join(state_side, ["band_idx", "band_hash"])
                   .filter(minhash_jaccard_est_col("sig", "__state_sig")
                           >= F.lit(float(threshold)))
                   .select(id_col).distinct())
        kept = survivors.join(F.broadcast(flagged), on=id_col,
                              how="left_anti")
    else:
        maybe = None
        kept = survivors

    kept = kept.persist()
    kept.count()  # materialize BEFORE the state sees the new band rows
    if maybe is not None:
        maybe.unpersist()

    if update_state:
        new_bands = banded.join(kept.select(id_col), on=id_col,
                                how="left_semi") \
            .select("band_hash", "band_idx", F.col(id_col), "sig")
        if has_state:
            append_to_indexed_table(new_bands, state_path,
                                    commit_token=commit_token)
        elif new_bands.limit(1).count():
            cfg = BloomConfig.from_false_pos(
                fp, expected_items=max(
                    kept.count() * bands // num_buckets, 1024),
                seed=seed)
            # params BEFORE the publish: a crash between the two leaves a
            # params file with no committed state (harmless — the next
            # call bootstraps again and overwrites it), while the old
            # order left a committed state whose geometry check silently
            # vanished (ADVICE r06)
            _write_small_file(spark, f"{state_path}/{_PARAMS_FILE}",
                              json.dumps(params).encode("utf-8"))
            write_indexed_table(new_bands, state_path,
                                index_col="band_hash", cfg=cfg,
                                bucket_source="band_hash",
                                num_buckets=num_buckets,
                                commit_token=commit_token)
    banded.unpersist()
    return kept
