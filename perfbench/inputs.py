"""Seeded benchmark inputs. The library sees only these generated frames.

Every generator is a pure function of its arguments: the same seed gives
the same rows. Tables are built JVM-side from ``spark.range`` expressions,
except the document corpus, whose base documents (with planted
near-duplicates) come from numpy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

#: document vocabulary: a small technical lexicon, like a log/code corpus
VOCAB = ("batch part spark line column order small sort value scan hash "
         "slow fast group agg filter query big key window row table stream "
         "merge data join vector customer the a index bloom sketch shuffle "
         "task stage driver worker partition digest probe build count "
         "sum min max plan cache").split()


def _unit(seed: int, salt: int):
    """Deterministic uniform [0, 1) column from (seed, salt, id)."""
    h = F.xxhash64(F.lit(seed), F.lit(salt), F.col("id"))
    return F.pmod(h, F.lit(1 << 31)).cast("double") / float(1 << 31)


def code_table(spark, rows: int, seed: int, repos: int,
               partitions: int = 8):
    """The library's synthesized source-code table (Zipf-skewed repos)."""
    from fastbloom_spark.sources import synth_code_table

    return synth_code_table(spark, rows, num_repos=repos, seed=seed,
                            num_partitions=partitions)


def keys(spark, rows: int, seed: int, partitions: int = 8):
    """``(id, content)``: ``rows`` distinct short strings ``k{seed}-{id}``,
    the keys that fill a global filter to its design load."""
    return spark.range(0, rows, 1, partitions).select("id", F.concat(
        F.lit(f"k{seed}-"), F.col("id").cast("string")).alias("content"))


def members(keys_df, seed: int, share: int):
    """About one in ``share`` of ``keys_df``'s rows, picked by a seeded
    hash of ``id``: the member probes."""
    pick = F.pmod(F.xxhash64(F.lit(seed), F.col("id")), F.lit(share)) == 0
    return keys_df.filter(pick).select("content")


def absent_contents(spark, rows: int, seed: int, partitions: int = 8):
    """Strings that no code-table row holds (non-member probes)."""
    return spark.range(0, rows, 1, partitions).select(F.concat(
        F.lit(f"absent-{seed}-"), F.col("id").cast("string"))
        .alias("content"))


def orders(spark, rows: int, seed: int, partitions: int = 4):
    """``(o_orderkey, o_totalprice)``: odd keys 1, 3, 5, ..."""
    return spark.range(0, rows, 1, partitions).select(
        (F.col("id") * 2 + 1).alias("o_orderkey"),
        (F.lit(1000.0) + _unit(seed, 1) * 500000.0).alias("o_totalprice"))


def lineitem(spark, rows: int, num_orders: int, seed: int,
             partitions: int = 8):
    """``(l_orderkey, l_extendedprice)``: keys uniform over
    ``[1, 2 * num_orders]``, so about half name no order (even keys)."""
    return spark.range(0, rows, 1, partitions).select(
        (F.floor(_unit(seed, 2) * (2 * num_orders)).cast("long") + 1)
        .alias("l_orderkey"),
        F.round(F.lit(900.0) + _unit(seed, 3) * 100000.0, 2)
        .alias("l_extendedprice"))


def base_documents(num_docs: int, seed: int, *, near_dup: float = 0.10,
                   exact_dup: float = 0.02, edit: float = 0.05
                   ) -> pd.DataFrame:
    """Base corpus ``(doc_id, text)`` with planted duplicates.

    A ``near_dup`` share of documents copies an earlier document and
    replaces an ``edit`` share of its tokens; an ``exact_dup`` share copies
    one verbatim."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
    weights /= weights.sum()
    docs: list[list[str]] = []
    for i in range(num_docs):
        r = rng.random()
        if i > 0 and r < exact_dup:
            src = int(rng.integers(0, i))
            docs.append(list(docs[src]))
        elif i > 0 and r < exact_dup + near_dup:
            src = int(rng.integers(0, i))
            toks = list(docs[src])
            for j in np.flatnonzero(rng.random(len(toks)) < edit):
                toks[j] = VOCAB[int(rng.choice(len(VOCAB), p=weights))]
            docs.append(toks)
        else:
            n = int(rng.integers(10, 100))
            docs.append([VOCAB[j] for j in
                         rng.choice(len(VOCAB), size=n, p=weights)])
    pdf = pd.DataFrame({"doc_id": np.arange(num_docs, dtype=np.int64),
                        "text": [" ".join(t) for t in docs]})
    return pdf


def replicate_documents(spark, base: pd.DataFrame, replicas: int,
                        stride: int):
    """``replicas`` token-tagged copies of ``base``: replica ``i`` prefixes
    every token with ``r{i}_`` and offsets ids by ``i * stride``. Each
    replica is shingle-isomorphic to the base corpus (same duplicate
    structure and Jaccard values) and shares no token with another."""
    df = spark.createDataFrame(base)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    out = None
    for i in range(replicas):
        tagged = F.transform(toks, lambda t, i=i: F.concat(F.lit(f"r{i}_"), t))
        rep = df.select((F.col("doc_id") + i * stride).alias("doc_id"),
                        F.concat_ws(" ", tagged).alias("text"))
        out = rep if out is None else out.unionByName(rep)
    return out
