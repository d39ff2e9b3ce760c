"""Similarity search over embedding columns: exact top-k + LSH-bucketed ANN.

Two paths, one contract:

* ``cosine_topk`` — exact brute force, the correctness baseline. Scans are
  map-side matrix multiplies (numpy GEMM against the broadcast query block);
  each partition emits only its local top-k, so the final merge sees
  P * q * k tiny rows, never scores for the full corpus.
* ``ann_topk_rhp`` — random-hyperplane LSH (Charikar): bucket vectors by the
  sign pattern of `planes @ v`, probe only the query's bucket (plus
  multi-probe neighbors), exact-rerank the candidates. The scale path: the
  bucket join replaces the all-pairs scan.
* ``embedding_near_dup_pairs`` — corpus self-dedup at a cosine threshold via
  the same bucketing.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _bucket_pairs, _cluster_survivors


def _normalize_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def _vectors_from_series(series: pd.Series, dim: int) -> np.ndarray:
    import pyarrow as pa

    arr = pa.array(series)
    flat = arr.values.to_numpy(zero_copy_only=False).astype(np.float64)
    return flat.reshape(len(arr), dim)


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: np.ndarray,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: for each query row (index = query_id), the k
    nearest corpus vectors. Returns (query_id, {id_col}, score, rank).

    Distributed shape: broadcast the (q, d) query block; every partition
    computes one GEMM + partial top-k; the global merge handles P*q*k rows.
    """
    spark = df.sparkSession
    q_norm = _normalize_rows(np.asarray(queries, dtype=np.float64))
    q_bc = spark.sparkContext.broadcast(q_norm)
    dim = q_norm.shape[1]
    n_q = q_norm.shape[0]

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernel import exact_int64

        q = q_bc.value
        # validity tracked by score > -inf, NOT an id sentinel (negative
        # ids are legal); scores are rounded to 6 decimals BEFORE the
        # partial selection and ties break by ASCENDING id, so the
        # per-partition top-k agrees exactly with the final rounded
        # (score desc, id asc) window — an unrounded argpartition could
        # drop the row the oracle keeps at the rank-k boundary
        best_scores = np.full((n_q, k), -np.inf)
        best_ids = np.zeros((n_q, k), dtype=np.int64)
        for pdf in batches:
            mat = _normalize_rows(_vectors_from_series(pdf[vec_col], dim))
            ids = exact_int64(pdf[id_col], "cosine_topk id")
            scores = np.round(q @ mat.T, 6)  # (n_q, batch)
            joined_s = np.concatenate([best_scores, scores], axis=1)
            joined_i = np.concatenate(
                [best_ids, np.broadcast_to(ids, (n_q, ids.size))], axis=1)
            for qi in range(n_q):
                order = np.lexsort((joined_i[qi], -joined_s[qi]))[:k]
                best_scores[qi] = joined_s[qi][order]
                best_ids[qi] = joined_i[qi][order]
        out = []
        for qi in range(n_q):
            mask = best_scores[qi] > -np.inf
            out.append(pd.DataFrame({
                "query_id": qi,
                id_col: best_ids[qi][mask],
                "score": best_scores[qi][mask],
            }))
        if out:
            yield pd.concat(out, ignore_index=True)

    partials = df.select(id_col, vec_col).mapInPandas(
        partial_topk, f"query_id int, {id_col} long, score double")
    return _rank_topk(partials.withColumn("score", F.round("score", 6)),
                      id_col, k)


def _rank_topk(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """Keep each query's k best rows by ``(score desc, id asc)``. Scores
    must be rounded to 6 decimals BEFORE ranking so the tie-break domain
    matches oracles that rank on the rounded score (candidates differing
    only past 6 decimals would otherwise rank differently across
    engines)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)) \
        .filter(F.col("rank") <= k) \
        .select("query_id", id_col, "score", "rank")


def _rerank_topk(candidates: DataFrame, id_col: str, vec_col: str,
                 q: np.ndarray, k: int) -> DataFrame:
    """The ANN tail: exact cosine of each ``(query_id, id, vector)``
    candidate (tiny) against its normalized query row, broadcast once,
    then :func:`_rank_topk`."""
    q_bc = candidates.sparkSession.sparkContext.broadcast(q)
    dim = q.shape[1]

    @F.pandas_udf("double")
    def score_udf(qid: pd.Series, vecs: pd.Series) -> pd.Series:
        qq = q_bc.value
        mat = _normalize_rows(_vectors_from_series(vecs, dim))
        return pd.Series(np.einsum(
            "ij,ij->i", qq[qid.to_numpy(np.int64)], mat))

    scored = candidates.withColumn(
        "score", F.round(score_udf(F.col("query_id"), F.col(vec_col)), 6))
    return _rank_topk(scored, id_col, k)


def rademacher_planes(num_planes: int, dim: int, seed: int = 42
                      ) -> np.ndarray:
    """Deterministic ±1 hyperplanes from splitmix64 bits: entry (p, i) is
    +1 iff ``mix64(mix64(seed) ^ (p * 2^32 + i)) & 1``. Sign projections
    with Rademacher entries (Achlioptas-style) carry the same
    angular-LSH guarantee family as Gaussian planes, and — unlike a PRNG
    stream — are ENGINE-REPLAYABLE: the DuckDB oracle recomputes the
    exact matrix from the same mix64 chain."""
    from ..kernel import U64, mix64

    base = mix64(np.uint64(seed & ((1 << 64) - 1)))
    p = np.arange(num_planes, dtype=U64)[:, None]
    i = np.arange(dim, dtype=U64)[None, :]
    bits = mix64(base ^ (p * np.uint64(1 << 32) + i)) & np.uint64(1)
    return np.where(bits == 1, 1.0, -1.0)


def _quantize(mat: np.ndarray, quant: int) -> np.ndarray:
    """floor(v * quant + 0.5): exact for power-of-two quant (the multiply
    is an exponent shift), so both engines compute identical integers and
    the ±1-plane dot products are integer-exact in ANY summation order —
    no float tie can flip a signature bit across engines."""
    return np.floor(mat * quant + 0.5)


def _planes_for(kind: str, num_planes: int, dim: int, seed: int
                ) -> np.ndarray:
    if kind == "gaussian":
        return np.random.default_rng(seed).standard_normal((num_planes,
                                                            dim))
    if kind == "rademacher":
        return rademacher_planes(num_planes, dim, seed)
    raise ValueError(f"unknown planes kind {kind!r}")


def _signature_vals(planes: np.ndarray, mat: np.ndarray,
                    quant: int | None) -> np.ndarray:
    if quant:
        mat = _quantize(mat, quant)
    bits = (planes @ mat.T) > 0  # (planes, n)
    weights = (1 << np.arange(planes.shape[0], dtype=np.uint64))
    return (bits.T.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)


def rhp_signature_col(vec_col: str, num_planes: int, dim: int,
                      seed: int = 42, *, kind: str = "gaussian",
                      quant: int | None = None):
    """Random-hyperplane LSH signature (long): bit i = sign(plane_i · v).
    Planes are a deterministic seeded block, identical on every executor
    (regenerated from the seed — nothing shipped). ``kind="rademacher"``
    with a power-of-two ``quant`` makes the signature integer-exact and
    oracle-replayable (see :func:`rademacher_planes`)."""
    if num_planes > 63:
        raise ValueError("num_planes must be <= 63 to fit a long")
    _planes_for(kind, 1, 1, seed)  # validate kind on the driver

    @F.pandas_udf("long")
    def sig(vecs: pd.Series) -> pd.Series:
        planes = _planes_for(kind, num_planes, dim, seed)
        mat = _vectors_from_series(vecs, dim)
        return pd.Series(_signature_vals(planes, mat, quant))

    return sig(F.col(vec_col))


def ann_topk_rhp(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: np.ndarray,
    k: int = 10,
    *,
    num_planes: int = 16,
    multiprobe_bits: int = 1,
    seed: int = 42,
    planes_kind: str = "gaussian",
    quant: int | None = None,
) -> DataFrame:
    """Approximate top-k: probe only corpus vectors whose RHP bucket is
    within ``multiprobe_bits`` bit-flips of the query's bucket, then
    exact-rerank. Recall rises with multiprobe_bits at linear candidate
    cost; recall vs the exact baseline is asserted in tests.

    ``planes_kind="rademacher"`` + power-of-two ``quant`` buckets by
    integer-exact sign projections (engine-replayable; the driver oracle
    replays the whole candidate pipeline in SQL). NOTE: signatures are
    computed on the RAW (un-normalized) vectors — sign(p·v) is scale
    invariant for positive scales, so bucketing matches normalized-space
    angular locality either way; quantization requires the raw scale."""
    spark = df.sparkSession
    raw_q = np.asarray(queries, dtype=np.float64)
    q = _normalize_rows(raw_q)
    dim = q.shape[1]
    planes = _planes_for(planes_kind, num_planes, dim, seed)
    qsigs = _signature_vals(planes, raw_q, quant).view(np.uint64)

    # multiprobe: each query probes its bucket and all buckets within
    # `multiprobe_bits` Hamming flips (C(num_planes, j) per level — the
    # caller owns keeping the probe set sane for large levels)
    from itertools import combinations

    probe_rows = []
    for qi, s in enumerate(qsigs.tolist()):
        sigs = {s}
        for j in range(1, multiprobe_bits + 1):
            for flips in combinations(range(num_planes), j):
                x = s
                for b in flips:
                    x ^= 1 << b
                sigs.add(x)
        # num_planes <= 63 keeps signatures inside the signed-long range
        probe_rows += [(qi, int(x)) for x in sigs]
    probes = spark.createDataFrame(
        pd.DataFrame(probe_rows, columns=["query_id", "bucket"]))

    corpus = df.select(
        id_col, vec_col,
        rhp_signature_col(vec_col, num_planes, dim, seed,
                          kind=planes_kind, quant=quant).alias("bucket"))
    candidates = corpus.join(F.broadcast(probes), "bucket") \
        .select("query_id", id_col, vec_col).distinct()
    return _rerank_topk(candidates, id_col, vec_col, q, k)


def kmeans_centroids(
    df: DataFrame,
    vec_col: str,
    n_centroids: int,
    *,
    sample_rows: int = 20_000,
    iters: int = 12,
    seed: int = 42,
) -> np.ndarray:
    """Coarse quantizer training: sample to the driver, Lloyd iterations in
    numpy. At 100 TB the sample (not the corpus) bounds driver work — a
    20k-row sample trains a 64-256-way quantizer fine; assignment runs
    distributed."""
    # Per-partition head sample: every partition contributes up to
    # ceil(sample_rows / P) rows, so the sample covers ALL shards of the
    # corpus (a bare .sample().limit() executes as CollectLimit and trains
    # the quantizer on whichever partitions finish first — single-shard
    # bias on partition-ordered corpora). No up-front count job, and each
    # task stops reading after its quota (Arrow batches stream lazily).
    # Residual bias: the head rows WITHIN each partition; acceptable for a
    # coarse quantizer because every shard is represented.
    import math

    n_parts = max(df.rdd.getNumPartitions(), 1)
    per_part = max(1, math.ceil(sample_rows / n_parts))

    def take_head(batches):
        taken = 0
        for pdf in batches:
            if taken >= per_part:
                return
            head = pdf.iloc[:per_part - taken]
            taken += len(head)
            yield head

    schema = df.select(vec_col).schema
    sample = df.select(vec_col).filter(F.col(vec_col).isNotNull()) \
        .mapInPandas(take_head, schema).toPandas()
    if len(sample) > sample_rows:
        sample = sample.sample(n=sample_rows,
                               random_state=seed & 0x7FFFFFFF)
    elif len(sample) < sample_rows:
        # short sample: either the corpus is genuinely small, or the
        # partition layout is skewed (rows concentrated in few partitions,
        # so per-partition quotas undersample). Disambiguate with a count
        # — the slow path only fires when the cheap one came back short.
        n_total = df.count()
        if n_total > len(sample):
            frac = min(1.0, (sample_rows * 1.2) / n_total)
            sample = df.select(vec_col) \
                .sample(fraction=frac, seed=seed).toPandas()
            if len(sample) > sample_rows:
                sample = sample.sample(n=sample_rows,
                                       random_state=seed & 0x7FFFFFFF)
    if not len(sample):
        raise ValueError(
            "kmeans_centroids: empty corpus (no non-NULL vectors) — "
            "nothing to train the quantizer on")
    dim = len(sample[vec_col].iloc[0])
    mat = _normalize_rows(_vectors_from_series(sample[vec_col], dim))
    rng = np.random.default_rng(seed)
    cents = mat[rng.choice(mat.shape[0], size=min(n_centroids, mat.shape[0]),
                           replace=False)]
    for _ in range(iters):
        assign = np.argmax(mat @ cents.T, axis=1)
        for c in range(cents.shape[0]):
            members = mat[assign == c]
            if members.size:
                cents[c] = members.mean(axis=0)
        cents = _normalize_rows(cents)
    return cents


def ivf_assign_col(vec_col: str, centroids: np.ndarray):
    """Nearest-centroid assignment column (int) — one GEMM per Arrow batch."""
    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    dim = cents.shape[1]

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        mat = _normalize_rows(_vectors_from_series(vecs, dim))
        return pd.Series(np.argmax(mat @ cents.T, axis=1).astype(np.int32))

    return assign(F.col(vec_col))


def _cell_probes(spark, q: np.ndarray, centroids: np.ndarray, nprobe: int):
    """Each normalized query's ``nprobe`` nearest centroid cells, as the
    ``(q, nprobe)`` cell array and a ``(query_id, cell)`` probe table."""
    qcells = np.argsort(-(q @ centroids.T), axis=1)[:, :nprobe]
    probes = spark.createDataFrame(pd.DataFrame(
        [(qi, int(c)) for qi in range(q.shape[0]) for c in qcells[qi]],
        columns=["query_id", "cell"]))
    return qcells, probes


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: np.ndarray,
    k: int = 10,
    *,
    n_centroids: int = 64,
    nprobe: int = 8,
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe only the ``nprobe`` nearest centroid
    cells per query, exact-rerank within them.

    The geometric-partition ANN — unlike RHP-LSH it degrades gracefully on
    weak-similarity corpora; recall vs the exact baseline is asserted in
    tests. Corpus assignment is one broadcast-GEMM scan; the probe is a
    broadcast join on cell id, so corpus rows never shuffle."""
    spark = df.sparkSession
    if centroids is None:
        centroids = kmeans_centroids(df, vec_col, n_centroids, seed=seed)
    q = _normalize_rows(np.asarray(queries, dtype=np.float64))
    _, probes = _cell_probes(spark, q, centroids, nprobe)

    corpus = df.select(id_col, vec_col,
                       ivf_assign_col(vec_col, centroids).alias("cell"))
    candidates = corpus.join(F.broadcast(probes), "cell") \
        .select("query_id", id_col, vec_col)
    return _rerank_topk(candidates, id_col, vec_col, q, k)


def write_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    *,
    n_centroids: int = 64,
    seed: int = 42,
    mode: str = "overwrite",
) -> np.ndarray:
    """Persist an IVF index: centroids (tiny parquet) + the corpus
    PARTITIONED BY cell id.

    The partitioning is the scale story: a probe that touches ``nprobe``
    cells reads exactly those directories (Spark partition pruning — the
    scan never opens the other ``n_centroids - nprobe`` cells' files).
    Assignment is computed ONCE here instead of per query batch. Returns
    the centroid block."""
    spark = df.sparkSession
    centroids = kmeans_centroids(df, vec_col, n_centroids, seed=seed)
    spark.createDataFrame(pd.DataFrame({
        "cell": np.arange(centroids.shape[0], dtype=np.int32),
        "centroid": [c.tolist() for c in centroids],
    })).coalesce(1).write.mode(mode).parquet(f"{path}/centroids")
    df.select(id_col, vec_col,
              ivf_assign_col(vec_col, centroids).alias("cell")) \
        .write.mode(mode).partitionBy("cell").parquet(f"{path}/corpus")
    return centroids


def ivf_topk_from_index(
    spark,
    path: str,
    id_col: str,
    vec_col: str,
    queries: np.ndarray,
    k: int = 10,
    *,
    nprobe: int = 8,
) -> DataFrame:
    """ANN top-k over a persisted IVF index: load the (tiny) centroid
    block on the driver, pick each query's ``nprobe`` nearest cells, and
    scan ONLY those cell partitions (``cell IN (...)`` prunes at the
    parquet-directory level — asserted in tests/test_plan_shapes.py)."""
    cent_rows = sorted((r.cell, r.centroid) for r in
                       spark.read.parquet(f"{path}/centroids").collect())
    centroids = np.array([c for _, c in cent_rows], dtype=np.float64)
    q = _normalize_rows(np.asarray(queries, dtype=np.float64))
    qcells, probes = _cell_probes(spark, q, centroids, nprobe)
    touched = sorted({int(c) for row in qcells for c in row})

    corpus = spark.read.parquet(f"{path}/corpus") \
        .filter(F.col("cell").isin(touched))
    candidates = corpus.join(F.broadcast(probes), "cell") \
        .select("query_id", id_col, vec_col)
    return _rerank_topk(candidates, id_col, vec_col, q, k)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    num_planes: int = 12,
    seed: int = 42,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Corpus self near-dup pairs at a cosine threshold: pair the ids of
    each RHP bucket (``operators.dedup._bucket_pairs``, carrying the
    vectors so no join back is needed) → exact cosine verify. Vectors this
    similar collide in the same bucket with probability
    (1 - theta/pi)^planes; tests assert recall against the exact all-pairs
    baseline at sf scale.

    Guardrail (same as the MinHash/SimHash paths): a degenerate corpus —
    zero vectors, constant embeddings — collapses into one bucket and the
    pairing goes quadratic; buckets larger than ``max_bucket_size`` rows
    are skipped so candidate count stays O(corpus * bucket_cap). An empty
    (or all-NULL-vector) corpus returns an empty pairs frame instead of a
    driver crash."""
    first = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if first is None:
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double")
    dim = len(first[0])
    corpus = df.select(
        id_col, vec_col,
        rhp_signature_col(vec_col, num_planes, dim, seed).alias("bucket"))
    pairs = _bucket_pairs(corpus, ["bucket"], id_col, max_bucket_size,
                          payload=(vec_col,))

    @F.pandas_udf("double")
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        ma = _normalize_rows(_vectors_from_series(va, dim))
        mb = _normalize_rows(_vectors_from_series(vb, dim))
        return pd.Series(np.einsum("ij,ij->i", ma, mb))

    # nondeterministic only so the threshold filter stays above the
    # projection: pushed into it, the filter would run the UDF a second
    # time (Filter + Project, no CSE)
    cosine = cos.asNondeterministic()(F.col("a")[vec_col],
                                      F.col("b")[vec_col])
    return pairs.select("id_a", "id_b", F.round(cosine, 6).alias("cosine")) \
        .filter(F.col("cosine") >= threshold).distinct()


def embedding_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    num_planes: int = 12,
    seed: int = 42,
    max_bucket_size: int = 1000,
    max_rounds: int = 25,
) -> DataFrame:
    """Full embedding near-dup dedup: RHP-bucketed cosine pairs at
    ``threshold`` → single-link clusters resolved to FIXPOINT (min-id
    propagation, `operators.dedup.connected_min_ids`) → one survivor per
    cluster. The embedding-space counterpart of ``minhash_dedup`` /
    ``simhash_dedup`` — same cluster contract, same O(edges) resolution."""
    pairs = embedding_near_dup_pairs(
        df, id_col, vec_col, threshold=threshold, num_planes=num_planes,
        seed=seed, max_bucket_size=max_bucket_size)
    return _cluster_survivors(df, pairs, id_col, max_rounds)
