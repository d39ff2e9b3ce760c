"""Cross-run incremental dedup — new batches vs an on-disk state.

A crawl pipeline re-runs daily; dedup must hold ACROSS runs, not just
within one DataFrame. Two operators share the pattern:
:func:`incremental_dedup` (EXACT, normalized-fingerprint state) and
:func:`incremental_minhash_dedup` (NEAR-dup, banded-MinHash state). The
state is the engine's own indexed table (``sources/index.py``), which
also owns the state-store protocol: ``IndexHandle.verify_route`` (steps
3-4 below) and ``_StateStore`` (the commit-token replay check and step 5,
shared with the streaming ingest sink). This module is pure composition.

Scale shape per batch (the 100 TB story):

1. fingerprint the new rows (normalized sha256 — one narrow projection);
2. within-batch dedup (one hash shuffle on the fingerprint);
3. probe the batch against the state's UNION Bloom filter, broadcast
   (KBs–MBs): probe-NEGATIVE rows are definitively new (zero FN,
   src/lib.rs:169-183) and never touch the state data;
4. exact verify of the positives: anti-join against the state's
   fingerprints, bucket-PRUNED while the positive set is driver-sized,
   a full scan above the cap. The Bloom only ROUTES rows; membership
   decisions are all exact.
5. append the kept fingerprints to the state (bootstrap on first run) —
   Bloom OR is associative (src/bit_vector.rs:98-104), so the appended
   index is bitwise what a one-shot build over all runs would produce.

NULL-text rows always survive and are never recorded in the state
(NULL-in -> NULL-out; unknown content is not "duplicated"). A first batch
with nothing to record (only NULL or blank text) therefore creates no
state, so its commit token cannot be recorded either: a replay of it
re-emits its rows.
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
    (``heal_indexed_table`` + re-run). A first batch of only NULL text
    creates no state, so its token is not recorded and a replay of it
    re-emits its NULL-text rows.

    ``fp`` bounds the fraction of genuinely-new rows that pay the exact
    verify join (never correctness); sizing uses
    ``expected_items_per_bucket`` (default: batch size — appends OR
    into the same geometry, and a saturating filter raises the verify
    fraction, never false drops)."""
    from ..sources.index import (_DIGEST_COL, IndexHandle, _StateStore,
                                 write_indexed_table)
    from .text import doc_fingerprint_col

    spark = df_new.sparkSession
    state = _StateStore(spark, state_path, commit_token)
    if state.replayed:
        return df_new.limit(0)  # replayed batch: exactly-once skip

    with_fp = df_new.withColumn(_FP_COL, doc_fingerprint_col(text_col))
    null_rows = with_fp.filter(F.col(_FP_COL).isNull()).drop(_FP_COL)
    batch_keep = (with_fp.filter(F.col(_FP_COL).isNotNull())
                  .groupBy(_FP_COL).agg(F.min(id_col).alias(id_col)))
    rows_by_id = with_fp.filter(F.col(_FP_COL).isNotNull()) \
        .join(batch_keep.select(id_col), on=id_col, how="left_semi")

    kept = rows_by_id
    if state.has_state:
        maybe, negatives, state_rows, _ = IndexHandle(
            spark, state_path).verify_route(
            rows_by_id, _FP_COL, on="fingerprint",
            max_keys=max_pruned_keys)
        kept = negatives.unionByName(maybe.join(
            state_rows.select(F.col("fingerprint").alias(_FP_COL)),
            on=_FP_COL, how="left_anti").drop(_DIGEST_COL))

    kept = kept.unionByName(null_rows.withColumn(
        _FP_COL, F.lit(None).cast("string")))
    kept = kept.persist()
    kept.count()  # materialize BEFORE the state sees the new fingerprints

    def bootstrap(new_fps: DataFrame) -> None:
        n = expected_items_per_bucket
        cfg = BloomConfig.from_false_pos(fp, seed=seed, expected_items=(
            max(kept.count() // num_buckets, 1024) if n is None else n))
        write_indexed_table(new_fps, state_path, index_col="fingerprint",
                            cfg=cfg, bucket_source="fingerprint",
                            num_buckets=num_buckets,
                            commit_token=commit_token)

    if update_state:
        state.commit(kept.filter(F.col(_FP_COL).isNotNull())
                     .select(F.col(_FP_COL).alias("fingerprint")), bootstrap)
    return kept.drop(_FP_COL)


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
    banded: they survive every run and never enter the state. A first
    batch of only blank documents therefore creates no state, so its
    ``commit_token`` is not recorded and a replay of it re-emits its rows.

    Geometry (shingle_n, num_perm, bands, seed) is pinned in the state
    (``_MINHASH_PARAMS``) at bootstrap and later calls must match —
    mixed geometries would join garbage."""
    import json

    from ..sources.index import (IndexHandle, _delete_dir, _read_small_file,
                                 _StateStore, _write_small_file,
                                 write_indexed_table)
    from .dedup import (_nonblank, band_hashes_col, minhash_dedup,
                        minhash_jaccard_est_col, minhash_signature_col,
                        shingles_col)

    spark = df_new.sparkSession
    rows = num_perm // bands
    if bands * rows != num_perm:
        raise ValueError("bands must divide num_perm")
    params = {"shingle_n": shingle_n, "num_perm": num_perm,
              "bands": bands, "seed": seed}
    state = _StateStore(spark, state_path, commit_token)
    if state.has_state:
        raw = _read_small_file(spark, f"{state_path}/{_PARAMS_FILE}")
        if raw is None:
            # the pin is written before the bootstrap publish, so only a
            # manual deletion gets here; skipping the check would mix
            # incomparable signatures on a later geometry change
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
    if state.replayed:
        return df_new.limit(0)  # replayed batch: exactly-once skip

    survivors = minhash_dedup(df_new, id_col, text_col,
                              shingle_n=shingle_n, num_perm=num_perm,
                              bands=bands, threshold=threshold, seed=seed)
    # persisted: feeds the probe join AND the state append (without it
    # the signature UDF would run twice over the surviving docs).
    # Blank/NULL docs are dropped on the RAW text (see _nonblank)
    banded = survivors.filter(_nonblank(text_col)) \
        .select(F.col(id_col),
                shingles_col(text_col, shingle_n).alias("__sh")) \
        .select(id_col, minhash_signature_col("__sh", num_perm,
                                              seed).alias("sig")) \
        .select(id_col,
                F.posexplode(band_hashes_col("sig", bands, rows))
                .alias("band_idx", "band_hash"),
                "sig").persist()

    maybe, kept = None, survivors
    if state.has_state:
        # cached: the union-filter positives feed the digest collect AND
        # the verify join
        maybe, _, state_bands, _ = IndexHandle(
            spark, state_path).verify_route(
            banded, "band_hash", on="band_hash", max_keys=max_pruned_keys,
            cache=True)
        state_side = state_bands.select(
            F.col("band_idx"), F.col("band_hash"),
            F.col("sig").alias("__state_sig"))
        flagged = (maybe.join(state_side, ["band_idx", "band_hash"])
                   .filter(minhash_jaccard_est_col("sig", "__state_sig")
                           >= F.lit(float(threshold)))
                   .select(id_col).distinct())
        kept = survivors.join(F.broadcast(flagged), on=id_col,
                              how="left_anti")

    kept = kept.persist()
    kept.count()  # materialize BEFORE the state sees the new band rows
    if maybe is not None:
        maybe.unpersist()

    def bootstrap(new_bands: DataFrame) -> None:
        cfg = BloomConfig.from_false_pos(
            fp, expected_items=max(
                kept.count() * bands // num_buckets, 1024),
            seed=seed)
        # params BEFORE the publish: a crash between the two leaves a
        # params file with no committed state, never a committed state
        # without its geometry check. That orphan pins nothing (there is
        # no state), and the create below is exclusive: delete it first
        pin = f"{state_path}/{_PARAMS_FILE}"
        _delete_dir(spark, pin)
        _write_small_file(spark, pin, json.dumps(params).encode("utf-8"))
        write_indexed_table(new_bands, state_path,
                            index_col="band_hash", cfg=cfg,
                            bucket_source="band_hash",
                            num_buckets=num_buckets,
                            commit_token=commit_token)

    if update_state:
        state.commit(banded.join(kept.select(id_col), on=id_col,
                                 how="left_semi")
                     .select("band_hash", "band_idx", F.col(id_col), "sig"),
                     bootstrap)
    banded.unpersist()
    return kept
