"""Near-duplicate detection: MinHash+LSH, SimHash, winnowing, n-gram Jaccard.

Pipeline shape (the scalable LSH layout, not all-pairs):

1. shingle (JVM: split → sliding n-gram → xxhash64 per shingle — all
   Catalyst, codegen'd);
2. MinHash signatures (Arrow-vectorized: one ``np.minimum.reduceat`` pass
   per permutation over the flattened shingle-hash values — zero per-row
   Python);
3. band the signature, explode (band_idx, band_hash), and pair the ids
   that share a band bucket (:func:`_bucket_pairs`, one shuffle) →
   candidate pairs only (never the full cross product);
4. verify candidates with EXACT n-gram Jaccard (JVM ``array_intersect`` /
   ``array_union`` on the shingle sets).

At 100 TB: stage 2 is map-side; stage 3 shuffles (doc_id, band_hash) pairs —
b rows of 16 bytes per doc, not text; the per-bucket pairing is the only
quadratic risk and is capped by ``max_bucket_size`` (buckets over the cap
are dropped before any id list is built, the standard guardrail against
degenerate shingles). SimHash, winnowing and the embedding near-dup path
(``operators.similarity``) pair their buckets through the same helper.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType
from pyspark.sql.window import Window

from ..kernel import U64, mix64
from .text import _sliding_grams, _widen, tokens_col


class ConvergenceError(RuntimeError):
    """Raised when min-label propagation hits ``max_rounds`` before the
    fixpoint: returning partially-propagated labels would silently merge or
    split dedup clusters, so the loop refuses instead. ``max_rounds=25``
    with pointer jumping covers component diameters up to ~2^25; seeing
    this error on real data means the edge set is pathological (check the
    bucket caps upstream) or max_rounds was lowered."""


def _bucket_pairs(banded: DataFrame, bucket_cols: list[str], id_col: str,
                  max_bucket_size: int,
                  payload: tuple[str, ...] = ()) -> DataFrame:
    """Every pair of distinct ids sharing a bucket, once per bucket, as
    ``(id_a, id_b)`` with ``id_a < id_b`` — no ``(x, x)`` pair even when an
    id repeats with different payloads, and no NULL id — plus, when
    ``payload`` names columns, structs ``a`` and ``b`` of
    ``(id, *payload)``. The pair generator of every dedup path, in one
    shuffle:

    1. a window count over ``bucket_cols`` drops the rows of buckets over
       ``max_bucket_size`` rows (and singletons) BEFORE any list is built
       — window buffers spill, so no list holds more than the cap — and
       the list aggregate runs on the window's exchange;
    2. one sorted, distinct list per bucket: of plain ids without a
       payload (hash-based distinct; one-field structs cost MinHash and
       winnowing ~6% more CPU on 20k docs, local[4]), else of
       ``(id, *payload)`` structs, which let callers verify pairs
       without a join back;
    3. its (i < j) pairs via ``posexplode`` + ``explode(slice)``, not
       interpreted higher-order lambdas (``transform``/``flatten``)."""
    if payload:
        item, id_a, id_b = F.struct(F.col(id_col).alias("id"), *payload), \
            F.col("a.id"), F.col("b.id")
    else:
        item, id_a, id_b = F.col(id_col), F.col("a"), F.col("b")
    counted = banded.withColumn(
        "__n", F.count("*").over(Window.partitionBy(*bucket_cols)))
    lists = counted.filter(F.col("__n").between(2, max_bucket_size)) \
        .groupBy(*bucket_cols).agg(
            F.array_sort(F.array_distinct(F.collect_list(item))).alias("__l"))
    pairs = lists.select("__l", F.posexplode("__l").alias("__i", "a")) \
        .select("a", F.explode(F.slice(
            "__l", F.col("__i") + 2, F.size("__l"))).alias("b"))
    return pairs.filter(id_a < id_b).select(
        id_a.alias("id_a"), id_b.alias("id_b"),
        *(["a", "b"] if payload else []))


def _nonblank(text_col: Column | str) -> Column:
    """Raw-text prefilter equivalent to a non-empty token/shingle set
    (``tokens_col`` empties on the same ``F.trim``). Filter on this, never
    on the computed set: a filter on a computed column re-evaluates its
    expression and sinks below ``_widen``'s exchange into the narrow
    input's few tasks."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return c.isNotNull() & (F.trim(c) != "")


def shingles_col(text_col: Column | str, n: int = 3) -> Column:
    """Sliding word n-gram shingle hashes as ``array<long>`` (JVM-only:
    split → sequence/transform/slice → xxhash64). Documents shorter than
    ``n`` tokens hash their whole token string as one shingle."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens_col(text_col)
    joined = F.concat_ws(" ", toks)
    n_sh = F.size(toks) - F.lit(n - 1)
    # zip_with-over-shifted-slices gram construction (text._sliding_grams):
    # same gram strings, ~5x cheaper than transform(sequence, slice,
    # concat_ws) — higher-order lambdas are interpreted, so per-gram array
    # allocation dominated the shingle scan
    grams = F.transform(_sliding_grams(toks, n, n_sh),
                        lambda g: F.xxhash64(g))
    # NULL text -> empty set like blank text (concat_ws renders a NULL
    # token array as "" — without the guard every NULL-text doc would
    # shingle to [xxhash64("")] and count as a PERFECT dup of the others)
    return F.when(c.isNull() | (F.size(toks) == 0),
                  F.array().cast("array<bigint>")) \
        .otherwise(F.when(n_sh >= 1, grams)
                   .otherwise(F.array(F.xxhash64(joined))))


def _perm_seeds(num_perm: int, seed: int) -> np.ndarray:
    return mix64((np.arange(1, num_perm + 1, dtype=np.uint64)
                  * np.uint64(0x9E3779B97F4A7C15))
                 ^ np.uint64(seed & 0xFFFFFFFFFFFFFFFF))


def _minhash_matrix(shingles: pd.Series, seeds: np.ndarray) -> np.ndarray:
    """``(docs, len(seeds))`` int64 MinHash signatures of a batch of
    shingle-hash lists: the list column is flattened once (values +
    offsets); each permutation is one ``mix64`` + one
    ``np.minimum.reduceat`` over the flat values. Empty docs sign as
    int64.max (matches nothing)."""
    import pyarrow as pa

    arr = pa.array(shingles, type=pa.list_(pa.int64()))
    offsets = arr.offsets.to_numpy()
    flat = arr.values.to_numpy(zero_copy_only=False).view(U64)
    nonempty = np.diff(offsets) > 0
    starts = offsets[:-1][nonempty]
    out = np.full((len(arr), len(seeds)), np.iinfo(np.int64).max,
                  dtype=np.int64)
    if flat.size:
        with np.errstate(over="ignore"):
            for j, s in enumerate(seeds):
                mins = np.minimum.reduceat(mix64(flat ^ s), starts)
                out[nonempty, j] = mins.view(np.int64)
    return out


def _band_fold(sigs: np.ndarray, bands: int, rows: int,
               seed: int) -> np.ndarray:
    """``(docs, bands)`` int64 band hashes of a ``(docs, bands * rows)``
    int64 signature matrix: band j = mix64-fold of its ``rows`` slots."""
    mat = sigs.view(U64).reshape(len(sigs), bands, rows)
    with np.errstate(over="ignore"):
        acc = np.full((len(sigs), bands), mix64(int(seed)), dtype=U64)
        for r in range(rows):
            acc = mix64(acc ^ mat[:, :, r])
    return acc.view(np.int64)


def minhash_signature_col(shingle_col: str, num_perm: int = 128,
                          seed: int = 42) -> Column:
    """MinHash signature ``array<long>`` of length ``num_perm`` from a
    shingle-hash array column (Arrow-vectorized, :func:`_minhash_matrix`).
    Empty docs sign as int64.max (matches nothing)."""
    seeds = _perm_seeds(num_perm, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def sign(shingles: pd.Series) -> pd.Series:
        return pd.Series(list(_minhash_matrix(shingles, seeds)))

    return sign(F.col(shingle_col))


def minhash_jaccard_est_col(sig_a: Column | str, sig_b: Column | str) -> Column:
    """Jaccard ESTIMATE from two MinHash signatures: the fraction of
    agreeing slots (E[match] = J for min-wise independent permutations;
    stderr ~ sqrt(J(1-J)/num_perm)). Pure Catalyst — ``zip_with`` +
    ``aggregate`` — so signature tables compare entirely JVM-side with no
    shingle data in sight (the sketch-only dedup path when raw text is
    gone or too big to rescan)."""
    a = F.col(sig_a) if isinstance(sig_a, str) else sig_a
    b = F.col(sig_b) if isinstance(sig_b, str) else sig_b
    matches = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v)
    return matches.cast("double") / F.size(a).cast("double")


def band_hashes_col(sig_col: str, bands: int, rows: int,
                    seed: int = 7) -> Column:
    """Fold each signature into ``bands`` band-hashes (``array<long>``):
    band j = mix64-fold of its ``rows`` signature slots."""

    @F.pandas_udf(ArrayType(LongType()))
    def band(sigs: pd.Series) -> pd.Series:
        import pyarrow as pa

        arr = pa.array(sigs, type=pa.list_(pa.int64()))
        mat = arr.values.to_numpy(zero_copy_only=False) \
            .reshape(len(arr), bands * rows)
        return pd.Series(list(_band_fold(mat, bands, rows, seed)))

    return band(F.col(sig_col))


def _band_hashes_from_shingles_col(shingle_col: str, num_perm: int,
                                   bands: int, rows: int, seed: int,
                                   band_seed: int = 7) -> Column:
    """Fused sign+band: MinHash signature and band-hash fold in ONE pandas
    UDF — bit-identical to ``minhash_signature_col`` →
    ``band_hashes_col`` (all three call :func:`_minhash_matrix` /
    :func:`_band_fold`), but the 128-slot signature array never crosses
    the JVM↔Python boundary (one Arrow round trip instead of two).
    Candidate-generation internal; callers that need the signature itself
    (incremental state) keep the two-step path."""
    seeds = _perm_seeds(num_perm, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def sign_band(shingles: pd.Series) -> pd.Series:
        return pd.Series(list(_band_fold(_minhash_matrix(shingles, seeds),
                                         bands, rows, band_seed)))

    return sign_band(F.col(shingle_col))


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    seed: int = 42,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """LSH candidate pairs ``(id_a, id_b)`` — documents sharing at least one
    band bucket. Threshold ≈ (1/bands)^(rows/num_perm... the usual s-curve
    with r = num_perm // bands rows per band."""
    rows = num_perm // bands
    if bands * rows != num_perm:
        raise ValueError("bands must divide num_perm")
    # blank documents (empty shingle sets) would all share one degenerate
    # bucket — a quadratic blowup at corpus scale; they can never pass
    # Jaccard verification anyway, so drop them (on the raw text) before
    # banding
    prepared = _widen(df.filter(_nonblank(text_col))).select(
        F.col(id_col),
        shingles_col(text_col, shingle_n).alias("__sh"))
    banded = prepared.select(
        id_col,
        F.posexplode(_band_hashes_from_shingles_col(
            "__sh", num_perm, bands, rows, seed)).alias(
            "band_idx", "band_hash"))
    # a pair sharing several bands is one candidate
    return _bucket_pairs(banded, ["band_idx", "band_hash"], id_col,
                         max_bucket_size).distinct()


def ngram_jaccard_pairs(
    candidates: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard verification of candidate pairs (JVM set ops).

    Returns ``(id_a, id_b, jaccard)`` with jaccard >= threshold.

    Shingles are recomputed ONLY for documents that appear in a candidate
    pair (a semi-join prunes the corpus before the shingle expression
    runs): candidates are a vanishing fraction of the corpus at scale, so
    the verification pass costs O(candidate docs), not a second full-corpus
    shingle scan."""
    # persist: `candidates` feeds three plan branches (id_a ids, id_b ids,
    # the verification join) — without an explicit materialization the LSH
    # candidate subtree (the most expensive stage) could re-execute per
    # branch when exchange reuse doesn't apply. persist() marks the
    # CALLER'S frame in place, so the caller owns the cache: unpersist the
    # candidates frame once the returned pairs have been materialized
    # (minhash_dedup does; long-lived sessions calling this directly would
    # otherwise accumulate cached partitions in executor storage)
    candidates = candidates.persist()
    cand_ids = candidates.select(F.col("id_a").alias(id_col)).union(
        candidates.select(F.col("id_b").alias(id_col))).distinct()
    # prune FIRST (cheap id semi-join on the input as-is), widen the small
    # surviving frame — widening before the prune would shuffle the whole
    # corpus' text only to discard every non-candidate row
    pruned = _widen(df.join(cand_ids, on=id_col, how="left_semi"))
    sh = pruned.select(F.col(id_col),
                       F.array_distinct(shingles_col(text_col, shingle_n))
                       .alias("__sh"))
    ja = candidates \
        .join(sh.select(F.col(id_col).alias("id_a"),
                        F.col("__sh").alias("__sh_a")), "id_a") \
        .join(sh.select(F.col(id_col).alias("id_b"),
                        F.col("__sh").alias("__sh_b")), "id_b")
    inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
    union = F.size(F.array_union("__sh_a", "__sh_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    # (A _no_pushdown barrier on this filter was tried and REVERTED: the
    # double set-op evaluation it avoids is cheaper than what the
    # non-deterministic predicate costs the optimizer here — measured
    # 4.7 s vs 6.4 s at sf1.0.)
    return ja.select("id_a", "id_b", F.round(jac, 6).alias("jaccard")) \
        .filter(F.col("jaccard") >= threshold)


def connected_min_ids(
    pairs: DataFrame,
    *,
    max_rounds: int = 25,
) -> DataFrame:
    """Resolve similarity edges ``(id_a, id_b)`` into connected components:
    returns ``(id, label)`` where ``label`` is the MINIMUM id reachable in
    the component — computed to FIXPOINT, so transitive chains A~B~C~D all
    label A even when no direct (A, D) edge exists.

    Min-label propagation with pointer jumping (each round a vertex adopts
    the smallest of: its label, its neighbors' labels, its label's label),
    so convergence takes O(log diameter) rounds — ``max_rounds=25`` covers
    components of diameter ~2^25. Rounds run over the EDGE set only (dup
    pairs, a tiny fraction of the corpus at any scale); each is one
    edge⋈label shuffle + one label⋈label pointer jump, early-exiting on a
    converged round — and costs exactly ONE Spark action: the round's
    frame carries a ``__changed`` flag, is marked for local checkpointing
    lazily, and a single sum-aggregate job both materializes the
    checkpoint (lineage truncation) and returns the convergence count (no
    separate join+count job; job count asserted in tests). On a cluster
    where executor loss during the loop must be survivable, set a reliable
    checkpoint dir and swap ``localCheckpoint`` for ``checkpoint()``; the
    frames are edge-sized either way.

    Raises :class:`ConvergenceError` if the fixpoint is not reached within
    ``max_rounds`` — partially-propagated labels are never returned."""
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = edges.union(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst"))).persist()
    labels = edges.select(F.col("src").alias("id")).distinct() \
        .withColumn("label", F.col("id")).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_rounds):
        lab_src = labels.select(F.col("id").alias("src"),
                                F.col("label").alias("src_label"))
        neigh_min = edges.join(lab_src, "src") \
            .groupBy(F.col("dst").alias("id")) \
            .agg(F.min("src_label").alias("neigh_min"))
        # pointer jump: label(label) — collapses long chains logarithmically
        lab_jump = labels.select(F.col("id").alias("label"),
                                 F.col("label").alias("jump_min"))
        new_labels = (labels
                      .join(neigh_min, "id", "left")
                      .join(lab_jump, "label", "left")
                      .select("id",
                              F.col("label").alias("__old"),
                              F.least(
                                  F.col("label"),
                                  F.coalesce("neigh_min", F.col("label")),
                                  F.coalesce("jump_min", F.col("label")))
                              .alias("label"))
                      .select("id", "label",
                              (F.col("label") != F.col("__old"))
                              .cast("long").alias("__changed"))
                      # lazy mark: the aggregate below is the ONE action of
                      # the round — it computes the joins, materializes the
                      # local checkpoint (truncating lineage), and returns
                      # the changed-count from that same pass
                      .localCheckpoint(eager=False))
        changed = new_labels.agg(F.sum("__changed")).first()[0] or 0
        labels = new_labels.drop("__changed")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise ConvergenceError(
            f"min-label propagation did not converge within max_rounds="
            f"{max_rounds} pointer-jumped rounds — refusing to return "
            "partially-propagated labels")
    return labels


def _cluster_survivors(df: DataFrame, pairs: DataFrame, id_col: str,
                       max_rounds: int) -> DataFrame:
    """The rows of ``df`` that survive single-link clustering of the
    verified ``(id_a, id_b)`` ``pairs``: each cluster keeps its minimum
    id (:func:`connected_min_ids`, to fixpoint); rows in no pair all
    survive. The shared tail of every near-dup ``*_dedup``."""
    comp = connected_min_ids(pairs.select("id_a", "id_b"),
                             max_rounds=max_rounds)
    losers = comp.filter(F.col("label") != F.col("id")) \
        .select(F.col("id").alias(id_col))
    return df.join(losers, on=id_col, how="left_anti")


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    threshold: float = 0.7,
    shingle_n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    seed: int = 42,
    max_rounds: int = 25,
) -> DataFrame:
    """Full near-dup dedup: LSH candidates → exact Jaccard >= threshold →
    single-link clusters via :func:`connected_min_ids` (min-id propagation
    to FIXPOINT) → exactly ONE survivor per cluster (the minimum id).

    Transitive chains resolve correctly: A~B~C~D with only adjacent pairs
    verified keeps A alone, even though (A, C)/(A, D) never shared a band
    bucket (tested in tests/test_dedup.py)."""
    candidates = minhash_candidate_pairs(df, id_col, text_col,
                                         shingle_n=shingle_n,
                                         num_perm=num_perm, bands=bands,
                                         seed=seed)
    try:
        return _cluster_survivors(
            df, ngram_jaccard_pairs(candidates, df, id_col, text_col,
                                    shingle_n=shingle_n,
                                    threshold=threshold),
            id_col, max_rounds)
    finally:
        # connected_min_ids materialized the verified pairs into
        # checkpointed label frames, so the LSH candidate cache (persisted
        # inside ngram_jaccard_pairs) is no longer referenced — release it
        # even when the fixpoint raises (a retrying session must not
        # accumulate cached partitions)
        candidates.unpersist()


def winnow_fingerprints_col(
    text_col: Column | str = "text",
    *,
    k: int = 5,
    window: int = 4,
    seed: int = 42,
) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS scheme): character k-gram ROLLING hashes, then the minimum
    hash of every ``window`` consecutive k-grams (rightmost-min
    tie-break), distinct — returned as ``array<long>``.

    Guarantee: any substring match of length >= window + k - 1 between two
    documents shares at least one fingerprint — the local, position-robust
    dedup/provenance primitive (vs MinHash's global bag-of-shingles view).

    Arrow-vectorized per batch: one polynomial-hash matrix multiply per
    document (Rabin-Karp base mixed from ``seed``, wrapping uint64), one
    ``sliding_window_view`` min for the winnow; no per-character Python.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col

    @F.pandas_udf(ArrayType(LongType()))
    def winnow(texts: pd.Series) -> pd.Series:
        # seeded base, forced ODD: an even base makes powers[i] divisible
        # by 2^(k-1-i), erasing older chars from the low hash bits
        base = (np.uint64(0x100000001B3) ^ mix64(int(seed))) | np.uint64(1)
        powers = np.empty(k, dtype=U64)
        powers[k - 1] = np.uint64(1)
        with np.errstate(over="ignore"):
            for i in range(k - 2, -1, -1):
                powers[i] = powers[i + 1] * base
        out = []
        for t in texts:
            if t is None:  # NULL text -> no fingerprints (str(None)
                out.append([])  # would hash the literal "None")
                continue
            b = np.frombuffer(str(t).encode("utf-8"), dtype=np.uint8)
            if b.size < k:
                out.append([])
                continue
            grams = np.lib.stride_tricks.sliding_window_view(b, k)
            with np.errstate(over="ignore"):
                hashes = mix64(grams.astype(U64) @ powers)
            if hashes.size < window:
                sel = np.array([hashes.min()], dtype=U64)
            else:
                wins = np.lib.stride_tricks.sliding_window_view(
                    hashes, window)
                sel = wins.min(axis=1)
            out.append(np.unique(sel).view(np.int64).tolist())
        return pd.Series(out)

    return winnow(c)


def winnow_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    k: int = 5,
    window: int = 4,
    min_shared: int = 3,
    seed: int = 42,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Fingerprint-overlap candidate pairs: documents sharing >=
    ``min_shared`` winnowing fingerprints (local substring evidence —
    catches copied PASSAGES that bag-of-shingles similarity dilutes).

    Same scale shape as the other pair generators: explode fingerprints,
    pair the ids of each fingerprint bucket (:func:`_bucket_pairs`:
    buckets over ``max_bucket_size`` rows are dropped), count shared
    prints per pair. ``shared_fingerprints`` counts DISTINCT fingerprints:
    an id that repeats (several rows, one id) shares each of its
    fingerprints once, not once per copy."""
    # explode of an empty fingerprint array (blank/short/NULL text) emits
    # no row, so no size filter on the computed UDF column is needed
    fps = _widen(df).select(
        F.col(id_col),
        F.explode(winnow_fingerprints_col(
            text_col, k=k, window=window, seed=seed)).alias("fp"))
    return _bucket_pairs(fps, ["fp"], id_col, max_bucket_size) \
        .groupBy("id_a", "id_b") \
        .agg(F.count("*").alias("shared_fingerprints")) \
        .filter(F.col("shared_fingerprints") >= min_shared)


def simhash64_col(text_col: Column | str = "text") -> Column:
    """64-bit SimHash over whitespace tokens (Charikar 2002): per-document
    sign of the per-bit sum of token-hash bits.

    Arrow-vectorized: flatten token hashes, ``np.unpackbits`` to a bit
    matrix, segment-sum with one ``np.add.reduceat`` per batch, re-pack.
    Near-dup distance = popcount(simhash_a XOR simhash_b).
    """
    toks = tokens_col(text_col)
    tok_hashes = F.transform(toks, lambda t: F.xxhash64(t))

    @F.pandas_udf(LongType())
    def simhash(hashes: pd.Series) -> pd.Series:
        import pyarrow as pa

        arr = pa.array(hashes, type=pa.list_(pa.int64()))
        offsets = arr.offsets.to_numpy()
        flat = arr.values.to_numpy(zero_copy_only=False)
        n_docs = len(arr)
        lens = np.diff(offsets)
        nonempty = lens > 0
        starts = offsets[:-1][nonempty]
        out = np.zeros(n_docs, dtype=np.int64)
        if flat.size:
            # (n_tokens, 64) bit matrix, column i = bit i of the hash
            bytes_le = flat.astype("<i8").view(np.uint8).reshape(-1, 8)
            bits = np.unpackbits(bytes_le, axis=1, bitorder="little")
            sums = np.add.reduceat(bits.astype(np.int32), starts, axis=0)
            lens_ne = lens[nonempty].astype(np.int32)[:, None]
            majority = (2 * sums) > lens_ne  # bit set iff more 1s than 0s
            packed = np.packbits(majority.astype(np.uint8), axis=1,
                                 bitorder="little")
            out[nonempty] = packed.view("<u8").ravel().view(np.int64)
        return pd.Series(out)

    return simhash(tok_hashes)


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit simhash into ``bands``
    16-bit chunks (pigeonhole: hamming <= bands-1 guarantees a shared exact
    chunk; default max_hamming=3 with 4 bands), pair the ids of each band
    bucket (:func:`_bucket_pairs`, carrying the simhash so no join back is
    needed), verify with exact popcount(xor) <= max_hamming.

    Degeneracy guardrails (same as ``minhash_candidate_pairs``): empty
    documents all simhash to 0 — every band collides and the pairing goes
    quadratic on boilerplate-heavy corpora — so token-less docs are
    dropped (on the raw text) before banding, and buckets larger than
    ``max_bucket_size`` are skipped (identical boilerplate clusters; the
    surviving bands still catch genuinely-near pairs through their other
    chunks)."""
    sh = _widen(df.filter(_nonblank(text_col))) \
        .select(F.col(id_col), simhash64_col(text_col).alias("__sim"))
    width = 64 // bands
    chunks = F.array(*[
        F.struct(F.lit(i).alias("band_idx"),
                 F.shiftrightunsigned(F.col("__sim"), i * width)
                 .bitwiseAND(F.lit((1 << width) - 1)).alias("band_val"))
        for i in range(bands)])
    banded = sh.select(id_col, "__sim", F.explode(chunks).alias("c")) \
        .select(id_col, "__sim", "c.band_idx", "c.band_val")
    pairs = _bucket_pairs(banded, ["band_idx", "band_val"], id_col,
                          max_bucket_size, payload=("__sim",))
    hamming = F.bit_count(F.col("a.__sim").bitwiseXOR(F.col("b.__sim")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")) \
        .filter(F.col("hamming") <= max_hamming).distinct()


def simhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int = 1000,
    max_rounds: int = 25,
) -> DataFrame:
    """Full SimHash dedup: pigeonhole-banded candidate pairs (hamming <=
    ``max_hamming``) → single-link clusters via :func:`connected_min_ids`
    (fixpoint) → one survivor per cluster (the minimum id). Same contract
    as :func:`minhash_dedup` with SimHash's local-token-change robustness."""
    pairs = simhash_near_dup_pairs(df, id_col, text_col,
                                   max_hamming=max_hamming, bands=bands,
                                   max_bucket_size=max_bucket_size)
    return _cluster_survivors(df, pairs, id_col, max_rounds)
