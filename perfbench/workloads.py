"""The workloads: ingest (write side) and query (read side).

A workload makes its inputs in :meth:`Workload.setup` (repeatable: run
once per set-up repetition), builds its filters and indexes once in
:meth:`Workload.prepare`, and computes the references its checks compare
against in :meth:`Workload.references` (untimed: that is the benchmark's
work, not the library's). It then exposes a fixed list of operations.
Each :class:`Op` calls one public library entry point and returns its
output; ``Op.check`` verifies that output against a reference computed
independently of the library's distributed path (exact Spark SQL counts,
a local single-node build). The run loop times ``call`` only.

The global filters are sized for the keys they receive: ``key_rows``
distinct keys at fp 1e-4 give 4.8 MB of bits, more than twice the 2 MiB
L2 of each core (lscpu's 8 MiB is the four cores' L2 together), filled
to the design load (about half the bits set). Each of the build's four
partials then holds a quarter of the keys, about 16% of bits set, too
dense for the partial codec's zlib branch, so partials travel raw as they
do for any filter built at its design load.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyspark.sql.functions as F

from . import inputs

FILTER_FP = 1e-4


class CheckFailed(AssertionError):
    """An operation returned a wrong result."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Op:
    name: str
    #: library module the call enters (the span's layer)
    module: str
    #: rows the call consumes, for rows/s
    rows: int
    call: Callable[[], Any]
    check: Callable[[Any], None] = lambda out: None


def binomial_fpr_bound(p: float, trials: int, z: float = 5.0) -> float:
    """Highest false-positive share consistent with per-key rate ``p``
    over ``trials`` non-members: the mean plus ``z`` standard deviations,
    plus three keys so a tiny ``p`` does not demand an exact zero."""
    return p + z * math.sqrt(p * (1 - p) / trials) + 3.0 / trials


class Workload:
    name = ""
    #: distinct keys of the global filter, which is sized for exactly these
    key_rows = 2_000_000
    #: one in ``member_share`` keys is probed as a member
    member_share = 10
    #: rows of the seeded code table (grouped agg, sketches, index)
    code_rows = 100_000
    line_rows = 100_000
    #: lineitem keys name orders 1 .. 2 * order_keys
    order_keys = 25_000
    #: distinct Zipf-skewed repo keys of the grouped bloom_agg (the
    #: hottest holds a quarter of the rows)
    repos = 16
    #: buckets of the indexed table, one filter each
    index_buckets = 16
    #: published per-operation rates: stem -> (unit word, op names); the
    #: run reports ``{stem}_{unit}_per_s`` and ``{stem}_{unit}_per_cpu_s``
    published: dict[str, tuple[str, tuple[str, ...]]] = {}
    #: operations whose latency percentiles are reported
    latency_ops: tuple[str, ...] = ()

    def __init__(self, spark, seed: int, work_dir: str):
        from fastbloom_spark import BloomConfig

        self.spark, self.seed, self.work = spark, seed, work_dir
        self._cached: list = []
        self.cfg = BloomConfig.from_false_pos(
            FILTER_FP, expected_items=self.key_rows, seed=seed)
        # one filter per repo in bloom_agg, sized for the hottest repo
        self.agg_cfg = BloomConfig.from_false_pos(
            1e-3, expected_items=self.code_rows // 4, seed=seed)
        # one filter per bucket of the indexed table
        self.bucket_cfg = BloomConfig.from_false_pos(
            1e-3, expected_items=self.code_rows // self.index_buckets,
            seed=seed)

    def persist(self, df):
        df = df.persist()
        df.count()
        self._cached.append(df)
        return df

    def setup(self) -> None:
        """Make and persist the seeded inputs."""
        sp, seed = self.spark, self.seed
        self.keys = self.persist(inputs.keys(sp, self.key_rows, seed))
        self.code = self.persist(inputs.code_table(
            sp, self.code_rows, seed, self.repos))
        self.line = self.persist(inputs.lineitem(
            sp, self.line_rows, self.order_keys, seed))

    def prepare(self) -> None:
        """One-time library work after the inputs exist (timed)."""

    def references(self) -> None:
        """The checks' reference values (untimed)."""

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def once_ops(self) -> list[Op]:
        """Checked operations run once per run, after the timed passes."""
        return []

    def sizes(self) -> dict:
        return {}

    def lookup_keys(self) -> list[str]:
        """About 64 seeded paths, each naming exactly one code row."""
        if not hasattr(self, "_keys"):
            pick = F.pmod(F.xxhash64(F.lit(self.seed), "path"),
                          F.lit(self.code_rows // 64)) == 0
            self._keys = sorted(r.path for r in self.code.filter(pick)
                                .select("path").collect())
        return self._keys

    def teardown(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()


# -- ingest -------------------------------------------------------------------

class Ingest(Workload):
    name = "ingest"

    def references(self) -> None:
        from fastbloom_spark import BloomFilter
        from fastbloom_spark.functions import digest64

        row = self.code.agg(F.countDistinct("path").alias("paths"),
                            F.countDistinct("repo").alias("repos")).first()
        self.exact_paths, self.n_repos = row.paths, row.repos
        self.lang_counts = {r.lang: r["count"] for r in
                            self.code.groupBy("lang").count().collect()}
        # a local single-node build over the same digests
        digs = self.keys.select(digest64("content").alias("d")).toPandas()
        ref = BloomFilter(self.cfg)
        ref.insert_digests(digs["d"].to_numpy())
        self.reference = ref.to_bytes()

    def sizes(self) -> dict:
        return {"key_rows": self.key_rows, "code_rows": self.code_rows,
                "lineitem_rows": self.line_rows,
                "filter_bytes": self.cfg.num_words * 8,
                "filter_hashes": self.cfg.num_hashes,
                "agg_keys": self.n_repos,
                "agg_filter_bytes": self.agg_cfg.num_words * 8}

    published = {"build": ("rows", ("bloom_build",)),
                 "agg": ("rows", ("bloom_agg",)),
                 "sketch": ("rows", ("sketch_hll", "sketch_cms",
                                     "sketch_tdigest"))}

    def _check_build(self, bloom) -> None:
        expect(bloom.to_bytes() == self.reference,
               "distributed bloom_build differs from the local build")

    def ops(self) -> list[Op]:
        from fastbloom_spark.kernel import digest64_bytes
        from fastbloom_spark.operators import bloom_agg, bloom_build
        from fastbloom_spark.operators.sketch_agg import sketch_build
        from fastbloom_spark.sketch import (CountMinSketch, HllSketch,
                                            TDigestSketch)

        code, n, seed = self.code, self.code_rows, self.seed
        hll = HllSketch(precision=12, seed=seed)
        cms = CountMinSketch(depth=5, log2_width=14, seed=seed)
        td = TDigestSketch(delta=200)

        def check_agg(rows):
            expect(rows == self.n_repos,
                   f"bloom_agg rows {rows} != distinct repos {self.n_repos}")

        def check_hll(out):
            state, seen = out
            err = abs(hll.estimate(state) - self.exact_paths) \
                / self.exact_paths
            expect(seen == n, f"hll rows_seen {seen} != {n}")
            expect(err <= 3 * hll.relative_error(),
                   f"hll error {err:.4f} > 3 x {hll.relative_error():.4f}")

        def check_cms(out):
            state, seen = out
            langs = sorted(self.lang_counts)
            digs = np.array([digest64_bytes(x.encode()) for x in langs],
                            dtype=np.int64).view(np.uint64)
            est = cms.query(state, digs)
            exact = np.array([self.lang_counts[x] for x in langs])
            expect(seen == n and bool((est >= exact).all()) and
                   bool((est - exact <= cms.error_bound(n)).all()),
                   "count-min estimate outside [exact, exact + eps*N]")

        def check_td(out):
            state, seen = out
            expect(seen == self.line_rows and
                   abs(td.total_weight(state) - seen) < 1e-6,
                   "t-digest weight != rows")
            # prices are uniform on [900, 100900]
            med = td.quantile(state, 0.5)
            expect(abs((med - 900.0) / 100000.0 - 0.5) <= 0.02,
                   f"t-digest median {med} far from the uniform median")

        return [
            Op("bloom_build", "operators.bloom", self.key_rows,
               lambda: bloom_build(self.keys, "content", self.cfg),
               self._check_build),
            Op("bloom_agg", "operators.bloom", n,
               lambda: bloom_agg(code, ["repo"], "content", self.agg_cfg,
                                 distinct_keys_hint=self.repos).count(),
               check_agg),
            Op("sketch_hll", "operators.sketch_agg", n,
               lambda: sketch_build(code, "path", hll), check_hll),
            Op("sketch_cms", "operators.sketch_agg", n,
               lambda: sketch_build(code, "lang", cms), check_cms),
            Op("sketch_tdigest", "operators.sketch_agg", self.line_rows,
               lambda: sketch_build(self.line, "l_extendedprice", td),
               check_td),
        ]

    def once_ops(self) -> list[Op]:
        from fastbloom_spark.operators import bloom_build

        # the same keys in 3 input partitions instead of 8, so 3 partials
        # instead of 4: identical bytes
        return [Op("bloom_rebuild_repartitioned", "operators.bloom",
                   self.key_rows,
                   lambda: bloom_build(self.keys.coalesce(3), "content",
                                       self.cfg),
                   self._check_build)]


# -- query --------------------------------------------------------------------

class Query(Workload):
    name = "query"
    line_rows = 200_000
    orders_rows = 50_000
    order_keys = orders_rows
    #: 50 lookups put ten samples beyond the p80; the p90 needs 92, which
    #: a run gets from two passes (on a slow host one pass fills the run)
    lookups_per_pass = 50

    def setup(self) -> None:
        from fastbloom_spark.functions import digest64

        super().setup()
        sp, seed = self.spark, self.seed
        # 50/50 member / non-member digest mix
        members = inputs.members(self.keys, seed, self.member_share)
        self.n_members = members.count()
        probes = members.select(
            digest64("content").alias("d"),
            F.lit(True).alias("member")).unionByName(
            inputs.absent_contents(sp, self.n_members, seed).select(
                digest64("content").alias("d"),
                F.lit(False).alias("member")))
        self.probes = self.persist(probes.coalesce(8))
        self.orders = self.persist(inputs.orders(
            sp, self.orders_rows, seed).filter(
            F.col("o_totalprice") > 450000.0))

    def prepare(self) -> None:
        from fastbloom_spark.operators import bloom_build
        from fastbloom_spark.sources import IndexHandle, write_indexed_table
        from fastbloom_spark.sql import publish_bloom_sql

        sp = self.spark
        self.bloom = bloom_build(self.keys, "content", self.cfg)
        self.probes.createOrReplaceTempView("perfbench_probes")
        publish_bloom_sql(sp, "perfbench_content", self.bloom)
        self.idx_path = os.path.join(self.work, "query_index")
        write_indexed_table(self.code, self.idx_path, index_col="path",
                            cfg=self.bucket_cfg, bucket_source="path",
                            num_buckets=self.index_buckets)
        self.handle = IndexHandle(sp, self.idx_path)
        self._next_key = 0

    def references(self) -> None:
        self.n_right = self.orders.count()
        self.exact_semi = self.line.join(
            self.orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey", "left_semi").count()
        self.lookup_keys()

    def sizes(self) -> dict:
        return {"key_rows": self.key_rows, "probe_rows": 2 * self.n_members,
                "filter_bytes": self.cfg.num_words * 8,
                "filter_hashes": self.cfg.num_hashes,
                "lineitem_rows": self.line_rows,
                "semijoin_build_keys": self.n_right,
                "lookup_keys": len(self.lookup_keys())}

    published = {"probe": ("rows", ("probe_df",)),
                 "sql_probe": ("rows", ("probe_sql",)),
                 "semijoin": ("rows", ("semijoin",))}
    latency_ops = ("lookup",)

    def _check_probe(self, counts: dict) -> None:
        from fastbloom_spark import expected_density, expected_false_pos

        n = self.n_members
        tp, fp = counts.get(True, 0), counts.get(False, 0)
        expect(tp == n, f"false negatives: {n - tp} members missed")
        dens = expected_density(self.cfg.num_hashes, self.cfg.num_bits,
                                self.key_rows)
        bound = binomial_fpr_bound(
            expected_false_pos(self.cfg.num_hashes, dens), n)
        expect(fp / n <= bound,
               f"FPR {fp / n:.2e} above bound {bound:.2e}")

    def ops(self) -> list[Op]:
        from fastbloom_spark.operators import (bloom_contains_col,
                                               bloom_semi_join)

        sp, n = self.spark, 2 * self.n_members

        def probe_df():
            hit = bloom_contains_col(sp, self.bloom, "d")
            rows = self.probes.filter(hit).groupBy("member").agg(
                F.count("*").alias("hits")).collect()
            return {r.member: int(r.hits) for r in rows}

        def probe_sql():
            rows = sp.sql(
                "SELECT member, count(*) AS hits FROM perfbench_probes "
                "WHERE bloom_probe_bc('perfbench_content', d) "
                "GROUP BY member").collect()
            return {r.member: int(r.hits) for r in rows}

        def semi():
            return bloom_semi_join(
                self.line, self.orders, "l_orderkey", "o_orderkey", fp=0.01,
                seed=self.seed, expected_items=self.n_right).count()

        def check_semi(c):
            expect(c == self.exact_semi,
                   f"bloom_semi_join {c} != exact left_semi {self.exact_semi}")

        ops = [Op("probe_df", "operators.bloom", n, probe_df,
                  self._check_probe),
               Op("probe_sql", "sql", n, probe_sql, self._check_probe),
               Op("semijoin", "operators.bloom", self.line_rows, semi,
                  check_semi)]
        return ops + [self._lookup_op() for _ in range(self.lookups_per_pass)]

    def _lookup_op(self) -> Op:
        keys = self.lookup_keys()
        key = keys[self._next_key % len(keys)]
        self._next_key += 1

        def check(rows):
            expect(len(rows) == 1 and rows[0].path == key,
                   f"lookup of {key!r} returned {len(rows)} rows")
        return Op("lookup", "sources.index", 1,
                  lambda: self.handle.pruned_read([key])[0].collect(), check)

    def teardown(self) -> None:
        from fastbloom_spark.sql import unpublish_bloom_sql

        if hasattr(self, "bloom"):
            unpublish_bloom_sql(self.spark, "perfbench_content")
        super().teardown()
        if hasattr(self, "idx_path"):
            shutil.rmtree(self.idx_path, ignore_errors=True)


WORKLOADS = {w.name: w for w in (Ingest, Query)}
