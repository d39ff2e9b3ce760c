"""Cross-run incremental exact dedup (operators/incremental.py):
first-seen-wins across runs, min-id within a run, Bloom prefilter
exactness (routing only, never membership), exactly-once replay, and
state-append composition with the indexed-table protocol."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fastbloom_spark.operators import incremental_dedup


@pytest.fixture()
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")


def _fps(spark, df):
    from fastbloom_spark.operators.text import doc_fingerprint_col

    return {r.f for r in
            df.select(doc_fingerprint_col("text").alias("f"))
            .filter(F.col("f").isNotNull()).distinct().collect()}


#: the verify's two branches: the bucket-pruned state scan (default cap)
#: and the full state scan past ``max_pruned_keys`` (cap 0) — both must
#: emit the same ids
CAPS = [pytest.param({}, id="pruned"),
        pytest.param({"max_pruned_keys": 0}, id="full_scan")]


@pytest.mark.parametrize("cap", CAPS)
def test_two_batches_first_seen_wins_and_state_appends(spark, docs,
                                                       tmp_path, cap):
    state = str(tmp_path / "state")
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 != 0)

    k0 = incremental_dedup(b0, state, commit_token="b0", **cap)
    # bootstrap: within-batch dedup only (min id per fingerprint)
    assert k0.count() == b0.select(
        F.sha2(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")),
               256)).distinct().count()

    k1 = incremental_dedup(b1, state, commit_token="b1", **cap)
    got1 = {r.doc_id for r in k1.collect()}
    # oracle: b1's min-id keeper per fingerprint, minus b0's fingerprints
    fp0 = _fps(spark, b0)
    from fastbloom_spark.operators.text import doc_fingerprint_col

    keep1 = {r.doc_id for r in
             b1.select("doc_id",
                       doc_fingerprint_col("text").alias("f"))
             .filter(F.col("f").isNotNull())
             .groupBy("f").agg(F.min("doc_id").alias("doc_id"))
             .filter(~F.col("f").isin(list(fp0)))
             .select("doc_id").collect()}
    assert got1 == keep1

    # cross-run union law: survivor FINGERPRINT set over both runs ==
    # one-shot exact dedup's fingerprint set over the union
    assert _fps(spark, k0) | _fps(spark, k1) == _fps(spark, docs)

    # third batch of pure duplicates: everything dropped
    k2 = incremental_dedup(docs.limit(50), state, commit_token="b2", **cap)
    assert k2.count() == 0


def test_exactly_once_replay_emits_nothing(spark, docs, tmp_path):
    state = str(tmp_path / "state")
    b0 = docs.filter(F.col("doc_id") < 100)
    incremental_dedup(b0, state, commit_token="t0")
    # replayed batch (same token): empty, state untouched
    assert incremental_dedup(b0, state, commit_token="t0").count() == 0
    # a NEW batch still works after the replay
    b1 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    assert incremental_dedup(b1, state, commit_token="t1").count() > 0


def test_update_state_false_leaves_state_unchanged(spark, docs, tmp_path):
    state = str(tmp_path / "state")
    b0 = docs.filter(F.col("doc_id") < 100)
    incremental_dedup(b0, state)
    b1 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    once = {r.doc_id for r in
            incremental_dedup(b1, state, update_state=False).collect()}
    again = {r.doc_id for r in
             incremental_dedup(b1, state, update_state=False).collect()}
    assert once == again and once  # read-only probe is repeatable


def test_null_text_rows_always_survive(spark, tmp_path):
    state = str(tmp_path / "state")
    a = spark.createDataFrame([(1, "same text"), (2, None)],
                              "doc_id long, text string")
    b = spark.createDataFrame([(3, "same text"), (4, None)],
                              "doc_id long, text string")
    k0 = incremental_dedup(a, state)
    assert {r.doc_id for r in k0.collect()} == {1, 2}
    k1 = incremental_dedup(b, state)
    # 3 is a cross-run dup; NULL-text 4 survives (never stateful)
    assert {r.doc_id for r in k1.collect()} == {4}


# -- cross-run NEAR-dup (incremental_minhash_dedup) ---------------------------


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _text(i, mutate=None):
    toks = [f"tok{i}_{j}" for j in range(40)]
    if mutate is not None:
        toks[mutate] = "MUTATED"
    return " ".join(toks)


@pytest.mark.parametrize("cap", CAPS)
def test_incremental_minhash_cross_run_near_dups(spark, tmp_path, cap):
    state = str(tmp_path / "mh_state")
    from fastbloom_spark.operators import incremental_minhash_dedup

    b0 = _mk(spark, [(i, _text(i)) for i in range(8)])
    k0 = incremental_minhash_dedup(b0, state, threshold=0.5,
                                   commit_token="b0", **cap)
    assert {r.doc_id for r in k0.collect()} == set(range(8))

    b1 = _mk(spark, [
        (100, _text(0, mutate=3)),   # near-copy of state doc 0 -> drop
        (101, _text(50)),            # fresh -> keep
        (102, _text(1)),             # exact copy of state doc 1 -> drop
        (103, _text(50, mutate=7)),  # within-batch near-dup of 101
        (104, ""),                   # blank: never banded, survives
    ])
    k1 = incremental_minhash_dedup(b1, state, threshold=0.5,
                                   commit_token="b1", **cap)
    assert {r.doc_id for r in k1.collect()} == {101, 104}

    # replayed batch (same token) emits nothing
    assert incremental_minhash_dedup(b1, state, threshold=0.5,
                                     commit_token="b1", **cap).count() == 0

    # batch 2: near-copy of the batch-1 SURVIVOR is now a state dup too
    b2 = _mk(spark, [(200, _text(50, mutate=11)), (201, _text(77))])
    k2 = incremental_minhash_dedup(b2, state, threshold=0.5,
                                   commit_token="b2", **cap)
    assert {r.doc_id for r in k2.collect()} == {201}


def test_incremental_minhash_geometry_pinned(spark, tmp_path):
    state = str(tmp_path / "mh_state")
    from fastbloom_spark.operators import incremental_minhash_dedup

    incremental_minhash_dedup(_mk(spark, [(1, _text(1))]), state)
    with pytest.raises(ValueError, match="geometr|incomparable"):
        incremental_minhash_dedup(_mk(spark, [(2, _text(2))]), state,
                                  seed=99)


def test_zero_row_append_with_token_still_exactly_once(spark, tmp_path):
    """ADVICE r06 (medium): a batch whose survivors have NO non-null
    fingerprints (all cross-run dups + NULL-text rows) appends zero rows —
    the commit token must be recorded anyway, or a replay of that batch
    re-emits its NULL-text rows (violating 'a replayed batch emits an
    EMPTY frame')."""
    state = str(tmp_path / "state")
    a = spark.createDataFrame([(1, "same text"), (2, None)],
                              "doc_id long, text string")
    incremental_dedup(a, state, commit_token="a")
    # batch b: one cross-run dup + one NULL-text row -> zero new
    # fingerprints, but doc 4 is emitted
    b = spark.createDataFrame([(3, "same text"), (4, None)],
                              "doc_id long, text string")
    k1 = incremental_dedup(b, state, commit_token="b")
    assert {r.doc_id for r in k1.collect()} == {4}
    # the replay MUST see the token and emit nothing
    assert incremental_dedup(b, state, commit_token="b").count() == 0


def test_minhash_missing_params_on_committed_state_errors(spark, tmp_path):
    """ADVICE r06 (low): a committed state whose _MINHASH_PARAMS pin is
    gone must refuse loudly, not silently skip the geometry check."""
    from fastbloom_spark.operators import incremental_minhash_dedup
    from fastbloom_spark.operators.incremental import _PARAMS_FILE

    state = str(tmp_path / "mh_state")
    incremental_minhash_dedup(_mk(spark, [(1, _text(1))]), state)
    import os
    os.remove(f"{state}/{_PARAMS_FILE}")
    with pytest.raises(ValueError, match="geometry pin"):
        incremental_minhash_dedup(_mk(spark, [(2, _text(2))]), state)


def test_listing_error_raises_and_keeps_state(spark, tmp_path, monkeypatch):
    """A transient error listing the state's index versions is not an
    empty state: the call raises and the committed state keeps every row
    (bootstrapping over it would overwrite it and re-emit duplicates)."""
    from fastbloom_spark.sources import index as index_mod

    state = str(tmp_path / "state")
    a = spark.createDataFrame([(i, f"doc {i}") for i in range(20)],
                              "doc_id long, text string")
    incremental_dedup(a, state, commit_token="a")
    rows = spark.read.parquet(f"{state}/data").count()
    assert rows == 20

    real, calls = index_mod._list_versions, []

    def flaky(spark_, path):
        calls.append(path)
        if len(calls) == 1:
            raise OSError("transient listing failure")
        return real(spark_, path)

    monkeypatch.setattr(index_mod, "_list_versions", flaky)
    b = spark.createDataFrame([(100, "doc 3"), (101, "doc new")],
                              "doc_id long, text string")
    with pytest.raises(OSError, match="transient"):
        incremental_dedup(b, state, commit_token="b")
    assert spark.read.parquet(f"{state}/data").count() == rows
    # the retry sees the state: the duplicate of doc 3 is dropped
    assert {r.doc_id for r in
            incremental_dedup(b, state, commit_token="b").collect()} == {101}


def test_null_only_first_batch_creates_no_state(spark, tmp_path):
    """A first batch with nothing to record (only NULL text) returns its
    rows and publishes no state, so its commit token cannot be recorded:
    a replay re-emits the NULL-text rows. Pinned as the documented
    limitation — a fix that records such tokens changes this test."""
    import os

    state = str(tmp_path / "state")
    a = spark.createDataFrame([(1, None), (2, None)],
                              "doc_id long, text string")
    for _ in range(2):  # the replay re-emits
        k = incremental_dedup(a, state, commit_token="a")
        assert sorted(r.doc_id for r in k.collect()) == [1, 2]
        assert not os.path.exists(state)
    # the next batch with text bootstraps the state as a first batch
    b = spark.createDataFrame([(3, "x"), (4, "x"), (5, None)],
                              "doc_id long, text string")
    assert {r.doc_id for r in
            incremental_dedup(b, state, commit_token="b").collect()} \
        == {3, 5}
    assert spark.read.parquet(f"{state}/data").count() == 1


def test_minhash_blank_only_first_batch_creates_no_state(spark, tmp_path):
    """The MinHash operator's counterpart: a first batch of only blank or
    NULL docs is never banded, creates no state, and its replay re-emits
    its rows (pinned limitation, see the NULL-only exact-dedup case)."""
    import os

    from fastbloom_spark.operators import incremental_minhash_dedup

    state = str(tmp_path / "mh_state")
    a = _mk(spark, [(1, "   "), (2, None)])
    for _ in range(2):  # the replay re-emits
        k = incremental_minhash_dedup(a, state, commit_token="a")
        assert sorted(r.doc_id for r in k.collect()) == [1, 2]
        assert not os.path.exists(state)


def test_minhash_bootstrap_after_crash_before_publish(spark, tmp_path):
    """A crash between the bootstrap's geometry-pin write and its publish
    leaves a pin with no committed state; the next call bootstraps over
    it instead of failing on the pin's exclusive create."""
    import json

    from fastbloom_spark.operators import incremental_minhash_dedup
    from fastbloom_spark.operators.incremental import _PARAMS_FILE

    state = tmp_path / "mh_state"
    state.mkdir()
    (state / _PARAMS_FILE).write_text(json.dumps(
        {"shingle_n": 3, "num_perm": 128, "bands": 32, "seed": 99}))
    k = incremental_minhash_dedup(_mk(spark, [(1, _text(1))]), str(state))
    assert [r.doc_id for r in k.collect()] == [1]
    assert json.loads((state / _PARAMS_FILE).read_text())["seed"] == 42
    # the state is committed and pinned: a near-copy is a cross-run dup
    assert incremental_minhash_dedup(
        _mk(spark, [(2, _text(1, mutate=3))]), str(state)).count() == 0
