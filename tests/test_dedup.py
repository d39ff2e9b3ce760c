"""Dedup operators: exact, MinHash+LSH, SimHash — correctness on Spark."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastbloom_spark.operators.dedup import (
    minhash_candidate_pairs,
    minhash_dedup,
    minhash_signature_col,
    ngram_jaccard_pairs,
    shingles_col,
    simhash64_col,
    simhash_near_dup_pairs,
)
from fastbloom_spark.operators.text import dedup_exact


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """Synthetic corpus with planted near-dups: pairs (100+i, 200+i) share
    ~90% of tokens; everything else is random-vocab noise."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    for i in range(40):
        base = [rng.choice(vocab) for _ in range(60)]
        edited = list(base)
        for j in range(6):  # ~10% token edits
            edited[rng.randrange(len(edited))] = rng.choice(vocab)
        rows.append((100 + i, " ".join(base)))
        rows.append((200 + i, " ".join(edited)))
    for i in range(80):
        rows.append((300 + i, " ".join(rng.choice(vocab) for _ in range(60))))
    # one exact duplicate pair and one blank
    rows.append((998, rows[0][1]))
    rows.append((999, "   "))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_shingles_deterministic_and_shapes(spark, near_dup_docs):
    out = near_dup_docs.select(
        "doc_id", F.size(shingles_col("text", 3)).alias("n")).collect()
    by_id = {r.doc_id: r.n for r in out}
    assert by_id[100] == 58  # 60 tokens -> 58 3-gram shingles
    assert by_id[999] == 0   # blank doc -> empty shingles


def test_minhash_signature_properties(spark, near_dup_docs):
    sig = near_dup_docs.select(
        "doc_id", shingles_col("text", 3).alias("__sh")
    ).select("doc_id", minhash_signature_col("__sh", 64, seed=1).alias("sig"))
    rows = {r.doc_id: r.sig for r in sig.collect()}
    assert all(len(s) == 64 for s in rows.values())
    # identical docs => identical signatures
    assert rows[100] == rows[998]
    # blank doc signs as int64.max
    assert set(rows[999]) == {np.iinfo(np.int64).max}
    # near-dups agree on most slots; random docs on few
    near = np.mean(np.array(rows[100]) == np.array(rows[200]))
    far = np.mean(np.array(rows[300]) == np.array(rows[301]))
    assert near > 0.5 and far < 0.2, (near, far)


def test_lsh_finds_planted_near_dups(spark, near_dup_docs):
    pairs = minhash_candidate_pairs(
        near_dup_docs, "doc_id", "text", num_perm=128, bands=32, seed=42)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(100 + i, 200 + i) for i in range(40)}
    found = planted & got
    assert len(found) >= 38, f"recall too low: {len(found)}/40"
    assert (100, 998) in got  # exact dup always collides


def test_jaccard_verification_filters_false_candidates(spark, near_dup_docs):
    cands = minhash_candidate_pairs(
        near_dup_docs, "doc_id", "text", num_perm=128, bands=32, seed=42)
    verified = ngram_jaccard_pairs(cands, near_dup_docs, "doc_id", "text",
                                   threshold=0.5)
    rows = verified.collect()
    planted = {(100 + i, 200 + i) for i in range(40)}
    got = {(r.id_a, r.id_b) for r in rows}
    # every surviving pair is a planted near-dup or the exact dup
    assert got <= planted | {(100, 998), (200, 998)} | \
        {(100 + i, 998) for i in range(40)}
    assert len(got & planted) >= 35
    jac = {(r.id_a, r.id_b): r.jaccard for r in rows}
    assert jac.get((100, 998)) == 1.0  # exact dup


def test_minhash_dedup_removes_only_dups(spark, near_dup_docs):
    total = near_dup_docs.count()
    survivors = minhash_dedup(near_dup_docs, "doc_id", "text",
                              threshold=0.5, num_perm=128, bands=32)
    n = survivors.count()
    # drops ~40 planted near-dups (id_b side) + exact dup 998
    assert total - n >= 36
    # noise docs survive
    noise_kept = survivors.filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 380)).count()
    assert noise_kept == 80


def test_dedup_exact_normalized(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")],
        ["doc_id", "text"])
    out = dedup_exact(df, "doc_id", "text", normalized=True)
    assert {r.doc_id for r in out.collect()} == {1, 3}


def test_simhash_near_dups(spark, near_dup_docs):
    sims = {r.doc_id: r.s for r in near_dup_docs.select(
        "doc_id", simhash64_col("text").alias("s")).collect()}
    assert sims[100] == sims[998]  # identical text, identical simhash

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    near = [ham(sims[100 + i], sims[200 + i]) for i in range(40)]
    far = [ham(sims[300 + i], sims[300 + i + 1]) for i in range(0, 40, 2)]
    assert np.median(near) < np.median(far)

    pairs = simhash_near_dup_pairs(near_dup_docs, "doc_id", "text",
                                   max_hamming=10, bands=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (100, 998) in got
    # pigeonhole guarantee: every pair with hamming <= 3 is found
    exhaustive = {(a, b) for a in sims for b in sims
                  if a < b and ham(sims[a], sims[b]) <= 3}
    assert exhaustive <= got | set()


def test_simhash_degenerate_corpus_bounded(spark):
    """500 empty/boilerplate docs must NOT go quadratic: empty docs are
    dropped before banding, and oversized identical-boilerplate buckets are
    capped — the candidate count stays bounded and the job completes."""
    rows = [(i, "") for i in range(250)]
    rows += [(1000 + i, "   \t  ") for i in range(250)]
    # identical boilerplate cluster larger than the cap
    rows += [(2000 + i, "lorem ipsum dolor sit amet") for i in range(50)]
    # a real duplicate pair that must still be found (hamming 0 —
    # guaranteed under any banding; its bucket of 2 is under the cap)
    rows += [(9001, "alpha beta gamma delta epsilon zeta"),
             (9002, "alpha beta gamma delta epsilon zeta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    pairs = simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=8,
                                   bands=4, max_bucket_size=20)
    got = pairs.collect()
    # no empty-doc pair can appear, and the boilerplate cluster was capped
    ids = {r.id_a for r in got} | {r.id_b for r in got}
    assert all(i >= 2000 for i in ids)
    assert not any(2000 <= i < 2050 for i in ids)  # capped out
    assert (9001, 9002) in {(r.id_a, r.id_b) for r in got}
    # bounded: nowhere near the ~125k pairs of a quadratic empty-doc join
    assert len(got) < 100


def test_minhash_degenerate_corpus_bounded(spark):
    """Same guardrail on the MinHash path (regression for the cap)."""
    rows = [(i, "") for i in range(300)]
    rows += [(5000 + i, "the same exact boilerplate text here") for i in range(60)]
    rows += [(9001, "alpha beta gamma delta epsilon zeta eta theta"),
             (9002, "alpha beta gamma delta epsilon zeta eta iota")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = minhash_candidate_pairs(df, "doc_id", "text", shingle_n=3,
                                    num_perm=64, bands=16,
                                    max_bucket_size=20)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (9001, 9002) in got
    assert len(got) < 100


def test_minhash_duplicate_ids_emit_no_self_pairs(spark):
    """An id that repeats within a bucket yields no (x, x) pair, as the old
    self-join's strict id_a < id_b did not; the size cap still counts
    rows, not distinct ids."""
    text = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame([(1, text), (1, text), (2, text)],
                               ["doc_id", "text"])
    pairs = minhash_candidate_pairs(df, "doc_id", "text", num_perm=64,
                                    bands=16)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 2)}
    capped = minhash_candidate_pairs(df, "doc_id", "text", num_perm=64,
                                     bands=16, max_bucket_size=2)
    assert capped.count() == 0


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: a shared substring of length >= window + k - 1
    yields at least one shared fingerprint; embedding a passage in a larger
    document preserves (a subset of) its fingerprints."""
    from fastbloom_spark.operators.dedup import winnow_fingerprints_col

    passage = "the quick brown fox jumps over the lazy dog near the river"
    docs = spark.createDataFrame([
        (1, passage),
        (2, "INTRO TEXT " + passage + " AND A LONG TAIL OF OTHER WORDS"),
        (3, "completely different content with no overlap whatsoever here"),
        (4, ""),
    ], ["doc_id", "text"])
    rows = {r.doc_id: set(r.fp) for r in docs.select(
        "doc_id", winnow_fingerprints_col("text", k=5, window=4)
        .alias("fp")).collect()}
    assert rows[1] & rows[2], "embedded passage lost all fingerprints"
    assert not (rows[1] & rows[3]) or len(rows[1] & rows[3]) <= 1
    assert rows[4] == set()
    # determinism
    again = {r.doc_id: set(r.fp) for r in docs.select(
        "doc_id", winnow_fingerprints_col("text", k=5, window=4)
        .alias("fp")).collect()}
    assert again == rows


def test_winnow_near_dup_pairs_finds_copied_passage(spark):
    """Passage-level copying (diluted below MinHash thresholds by long
    unrelated tails) is caught by fingerprint overlap."""
    import random

    from fastbloom_spark.operators.dedup import winnow_near_dup_pairs

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(400)]
    passage = " ".join(rng.choice(vocab) for _ in range(25))
    rows = []
    # two docs sharing the passage inside long distinct tails
    for did in (1, 2):
        tail = " ".join(rng.choice(vocab) for _ in range(400))
        rows.append((did, tail[: len(tail) // 2] + " " + passage + " "
                     + tail[len(tail) // 2:]))
    for i in range(50):
        rows.append((100 + i,
                     " ".join(rng.choice(vocab) for _ in range(200))))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r.id_a, r.id_b): r.shared_fingerprints
             for r in winnow_near_dup_pairs(df, "doc_id", "text",
                                            min_shared=3).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)] >= 3


def test_minhash_jaccard_estimate_tracks_exact(spark, near_dup_docs):
    """Signature-level Jaccard estimate (fraction of agreeing MinHash
    slots, pure Catalyst) tracks exact shingle Jaccard within the
    sqrt(J(1-J)/num_perm) band for planted near-dups."""
    from fastbloom_spark.operators.dedup import (minhash_jaccard_est_col,
                                                 minhash_signature_col)

    sigs = near_dup_docs.select(
        "doc_id", shingles_col("text", 3).alias("__sh")) \
        .select("doc_id",
                minhash_signature_col("__sh", 128, seed=1).alias("sig"))
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sb"))
    planted = [(100 + i, 200 + i) for i in range(40)]
    pairs = spark.createDataFrame(planted, ["id_a", "id_b"]) \
        .join(a, "id_a").join(b, "id_b") \
        .select("id_a", "id_b",
                minhash_jaccard_est_col("sa", "sb").alias("est"))
    exact = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(
        spark.createDataFrame(planted, ["id_a", "id_b"]),
        near_dup_docs, "doc_id", "text", threshold=0.0).collect()}
    errs = []
    for r in pairs.collect():
        true_j = exact[(r.id_a, r.id_b)]
        errs.append(abs(r.est - true_j))
    import numpy as np
    # 128 perms: sigma <= 0.5/sqrt(128) ~ 0.044; mean error well inside
    assert np.mean(errs) < 0.06, np.mean(errs)
    assert np.max(errs) < 0.20, np.max(errs)


def test_connected_min_ids_chain_and_islands(spark):
    """Min-id propagation resolves transitive chains and keeps components
    separate: chain 1-2-3-4 (+ pair 7-8) labels every chain member 1."""
    from fastbloom_spark.operators.dedup import connected_min_ids

    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (3, 4), (7, 8)], ["id_a", "id_b"])
    got = {r.id: r.label for r in connected_min_ids(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_connected_min_ids_long_chain_pointer_jump(spark):
    """A 40-link chain converges within the pointer-jumping round budget
    (log2(40) ~ 6 doubling rounds, far under max_rounds)."""
    from fastbloom_spark.operators.dedup import connected_min_ids

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"])
    got = {r.id: r.label for r in connected_min_ids(pairs).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 41


def test_minhash_dedup_transitive_chain_single_survivor(spark):
    """A~B~C~D built from sliding windows: only ADJACENT pairs pass the
    Jaccard threshold (A-C/A-D never share enough shingles), yet the whole
    chain is one cluster -> exactly one survivor (the min id)."""
    toks = [f"t{i}" for i in range(70)]
    chain = [(i + 1, " ".join(toks[i * 10:i * 10 + 40])) for i in range(4)]
    chain.append((9, " ".join(f"z{i}" for i in range(40))))  # isolated doc
    docs = spark.createDataFrame(chain, ["doc_id", "text"])

    # sanity: verified pairs are EXACTLY the adjacent links (plus nothing
    # skipping a hop), so one-round removal could not know D duplicates A
    from fastbloom_spark.operators.dedup import (minhash_candidate_pairs,
                                                 ngram_jaccard_pairs)
    verified = ngram_jaccard_pairs(
        minhash_candidate_pairs(docs, "doc_id", "text", num_perm=128,
                                bands=64, seed=42),
        docs, "doc_id", "text", threshold=0.5)
    links = {(r.id_a, r.id_b) for r in verified.collect()}
    assert links == {(1, 2), (2, 3), (3, 4)}, links

    kept = sorted(r.doc_id for r in minhash_dedup(
        docs, "doc_id", threshold=0.5, num_perm=128, bands=64,
        seed=42).collect())
    assert kept == [1, 9], kept


def test_simhash_dedup_single_survivor_per_cluster(spark, near_dup_docs):
    """simhash_dedup keeps exactly the min id of every hamming-linked
    cluster and leaves singletons (and blank docs) untouched."""
    from fastbloom_spark.operators.dedup import (simhash_dedup,
                                                 simhash_near_dup_pairs)

    pairs = simhash_near_dup_pairs(near_dup_docs, "doc_id", "text",
                                   max_hamming=3, bands=4)
    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    kept = {r.doc_id for r in simhash_dedup(
        near_dup_docs, "doc_id", "text", max_hamming=3,
        bands=4).collect()}
    # min-id-per-component contract, computed independently
    import itertools
    parent = {}
    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    all_ids = {r.doc_id for r in near_dup_docs.collect()}
    losers = {x for x in all_ids if find(x) != x}
    assert kept == all_ids - losers


def test_connected_min_ids_random_graphs_match_union_find(spark):
    """Property check: on random edge sets, distributed min-id propagation
    equals a plain union-find ground truth (components, min labels)."""
    import random

    rng = random.Random(99)
    for trial in range(3):
        n = 40
        edges = sorted({tuple(sorted(rng.sample(range(n), 2)))
                        for _ in range(rng.randrange(5, 50))})
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in
                {x for e in edges for x in e}}

        from fastbloom_spark.operators.dedup import connected_min_ids

        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {r.id: r.label for r in connected_min_ids(pairs).collect()}
        assert got == want, (trial, edges)


def test_connected_min_ids_refuses_partial_labels(spark):
    """Hitting max_rounds before the fixpoint raises ConvergenceError —
    silently-partial labels would corrupt a dedup (merge/split clusters)."""
    from fastbloom_spark.operators.dedup import (ConvergenceError,
                                                 connected_min_ids)

    # an 8-link chain cannot converge in one round even with pointer jumps
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["id_a", "id_b"])
    with pytest.raises(ConvergenceError, match="max_rounds=1"):
        connected_min_ids(pairs, max_rounds=1)


def test_connected_min_ids_one_action_per_round(spark):
    """Each fixpoint round costs exactly ONE Spark action: the sum
    aggregate that materializes the round's local checkpoint also returns
    the convergence count (no separate join+count job). With AQE off the
    job budget is deterministic: 1 init checkpoint + 1 job per round."""
    from fastbloom_spark.operators.dedup import connected_min_ids

    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # pair graph: round 1 relabels (changed=1), round 2 confirms
        # (changed=0) -> 2 rounds
        pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
        sc.setJobGroup("ccfix-jobcount", "connected_min_ids job audit")
        try:
            labels = connected_min_ids(pairs)
            jobs_loop = len(sc.statusTracker().getJobIdsForGroup(
                "ccfix-jobcount"))
            got = {r.id: r.label for r in labels.collect()}
        finally:
            sc.setJobGroup("", "")
        assert got == {1: 1, 2: 1}
        # 9 = 1 init checkpoint + 2 rounds x (3 broadcast-exchange builds
        # for the round's joins + exactly ONE action job). The OLD per-round
        # convergence join+count added its own action AND broadcast builds
        # on top — a regression there pushes this count up.
        assert jobs_loop == 9, jobs_loop
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_null_text_rows_survive_dedup(spark):
    """NULL-text documents are UNKNOWN content, not duplicates of each
    other: exact dedup, minhash dedup, and winnowing all keep every
    NULL-text row (previously NULL shingled to [xxhash64('')] / winnowed
    the literal 'None' and all NULL docs collapsed to one survivor)."""
    from fastbloom_spark.operators.dedup import (winnow_near_dup_pairs,
                                                 shingles_col)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, None), (4, None),
         (5, "epsilon zeta eta theta")], ["doc_id", "text"])
    # shingles of NULL text are EMPTY, like blank text
    sh = {r.doc_id: r.s for r in docs.select(
        "doc_id", shingles_col("text", 3).alias("s")).collect()}
    assert sh[2] == [] and sh[3] == []

    kept = sorted(r.doc_id for r in minhash_dedup(
        docs, "doc_id", threshold=0.5).collect())
    assert kept == [1, 2, 3, 4, 5]
    kept_exact = sorted(r.doc_id for r in dedup_exact(
        docs, "doc_id").collect())
    assert kept_exact == [1, 2, 3, 4, 5]
    pairs = winnow_near_dup_pairs(docs, "doc_id", k=4, window=2,
                                  min_shared=1).collect()
    assert not any({p.id_a, p.id_b} <= {2, 3, 4} for p in pairs)
