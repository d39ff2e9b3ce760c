#!/usr/bin/env python
"""Round-7 optimization harness — per-query isolation + stage decomposition.

NOT the driver contract (bench.py is frozen for measurement); this file
exists so optimization work can (a) time each heavy query in isolation with
the noop sink (guide §1.4), (b) decompose the heavy pipelines into stages to
localize cost, and (c) dump .explain("formatted") plans into plans/r07/.

Usage:
  python bench_extra.py all            # isolate every headline query
  python bench_extra.py minhash decontam pipeline   # a subset
  BENCH_EXTRA_RUNS=3 python bench_extra.py minhash  # more warm runs
  BENCH_EXTRA_EXPLAIN=1 python bench_extra.py all   # also dump plans

Env contract mirrors bench.py: $SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
RUNS = int(os.environ.get("BENCH_EXTRA_RUNS", "2"))
EXPLAIN = os.environ.get("BENCH_EXTRA_EXPLAIN", "0") == "1"
PLAN_DIR = os.environ.get("BENCH_EXTRA_PLAN_DIR", "plans/r07")
SEED = 42


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name, fn, runs=RUNS):
    best = None
    for _ in range(runs):
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
        spark.sparkContext.setJobDescription(None)
    print(f"  {name}: {best:.3f}s", flush=True)
    return round(best, 3)


def dump_plan(df, name, suffix) -> None:
    os.makedirs(PLAN_DIR, exist_ok=True)
    path = os.path.join(PLAN_DIR, f"{name}_{suffix}.txt")
    with open(path, "w") as f:
        f.write(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))
    print(f"  plan -> {path}", flush=True)


def main() -> None:
    targets = set(sys.argv[1:]) or {"all"}

    from bench import make_spark
    spark = make_spark(CPUS)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM

    import pyspark.sql.functions as F

    read = lambda t: spark.read.parquet(f"{SF_DIR}/{t}.parquet")
    docs = read("documents")
    out: dict[str, float] = {}

    def want(k):
        return "all" in targets or k in targets

    if want("minhash"):
        from fastbloom_spark.operators.dedup import (
            _bucket_pairs, band_hashes_col, minhash_candidate_pairs,
            minhash_signature_col, ngram_jaccard_pairs, shingles_col, _widen)

        prepared = _widen(
            docs.filter(F.col("text").isNotNull()
                        & (F.trim("text") != ""))).select(
            F.col("doc_id"), shingles_col("text", 3).alias("__sh"))
        out["mh_shingle"] = timed(spark, "mh: shingle only",
                                  lambda: noop(prepared))
        signed = prepared.select(
            "doc_id",
            minhash_signature_col("__sh", 128, SEED).alias("__sig"))
        out["mh_sign"] = timed(spark, "mh: shingle+sign",
                               lambda: noop(signed))
        banded = signed.select(
            "doc_id",
            F.posexplode(band_hashes_col("__sig", 32, 4)).alias(
                "band_idx", "band_hash"))
        out["mh_band"] = timed(spark, "mh: +band+explode",
                               lambda: noop(banded))
        grouped = _bucket_pairs(banded, ["band_idx", "band_hash"], "doc_id",
                                1000)
        out["mh_cap"] = timed(spark, "mh: +bucket pairs",
                              lambda: noop(grouped))

        def cands():
            c = minhash_candidate_pairs(docs, "doc_id", "text",
                                        num_perm=128, bands=32, seed=SEED)
            n = c.count()
            return n
        out["mh_candidates"] = timed(spark, "mh: candidates full", cands)

        def full():
            c = minhash_candidate_pairs(docs, "doc_id", "text",
                                        num_perm=128, bands=32, seed=SEED)
            try:
                return ngram_jaccard_pairs(c, docs, "doc_id", "text",
                                           threshold=0.5).count()
            finally:
                c.unpersist()
        out["mh_full"] = timed(spark, "mh: full verify", full)
        if EXPLAIN:
            c = minhash_candidate_pairs(docs, "doc_id", "text",
                                        num_perm=128, bands=32, seed=SEED)
            pairs = ngram_jaccard_pairs(c, docs, "doc_id", "text",
                                        threshold=0.5)
            dump_plan(pairs, "minhash_dedup", "now")
            c.unpersist()

    if want("decontam"):
        from fastbloom_spark.operators.decontam import (benchmark_grams,
                                                        contamination_report)
        from fastbloom_spark.operators.text import word_ngrams_col

        bench_docs = docs.filter(F.col("doc_id") % 37 == 0)
        grams = benchmark_grams(bench_docs, "text", ngram_n=5)
        out["dc_benchgrams"] = timed(spark, "dc: bench grams distinct",
                                     lambda: grams.count())
        from fastbloom_spark.operators.text import _widen as widen_t
        exploded = widen_t(docs).select(
            F.col("doc_id"),
            F.explode(word_ngrams_col("text", 5)).alias("gram"))
        out["dc_explode"] = timed(spark, "dc: corpus explode",
                                  lambda: noop(exploded))
        from fastbloom_spark.functions import digest64
        from fastbloom_spark.operators.bloom import (bloom_build,
                                                     bloom_contains_col)
        grams_bloom = bloom_build(grams, "gram", fp=1e-3, digest="xxh64")
        probed = exploded.filter(
            bloom_contains_col(spark, grams_bloom,
                               digest64("gram", "xxh64")))
        out["dc_probe"] = timed(spark, "dc: explode+probe",
                                lambda: noop(probed))
        out["dc_full"] = timed(spark, "dc: full report", lambda:
                               contamination_report(docs, bench_docs,
                                                    ngram_n=5,
                                                    fp=1e-3).count())
        if EXPLAIN:
            dump_plan(contamination_report(docs, bench_docs, ngram_n=5,
                                           fp=1e-3), "decontam_exact", "now")

    if want("pipeline"):
        from fastbloom_spark.operators.pipeline import (CorpusPipelineConfig,
                                                        corpus_pipeline)
        from fastbloom_spark.operators.text import (dedup_exact,
                                                    quality_features,
                                                    redact_pii_col)

        bench_docs = docs.filter(F.col("doc_id") % 37 == 0)
        cfg = CorpusPipelineConfig(min_quality=0.35, decontam_ngram=5,
                                   pack_capacity=2048, pack_shards=32)
        from fastbloom_spark.operators.decontam import contamination_report
        from fastbloom_spark.operators.text import _widen as widen_t
        scored = quality_features(widen_t(docs.select("doc_id", "text")),
                                  "text")
        kept = scored.filter(F.col("text").isNotNull()
                             & (F.col("quality_score") >= 0.35))
        out["pl_quality"] = timed(spark, "pl: quality gate",
                                  lambda: noop(kept))
        red = kept.withColumn("text", redact_pii_col("text"))
        out["pl_redact"] = timed(spark, "pl: +redact", lambda: noop(red))
        dd = dedup_exact(red, "doc_id", "text")
        out["pl_dedup"] = timed(spark, "pl: +dedup_exact",
                                lambda: noop(dd))
        flagged = contamination_report(
            dd, bench_docs, id_col="doc_id", text_col="text",
            ngram_n=5, fp=1e-3).select("doc_id")
        dcd = dd.join(F.broadcast(flagged), on="doc_id", how="left_anti")
        out["pl_decontam"] = timed(spark, "pl: +decontam",
                                   lambda: noop(dcd))
        out["pl_full"] = timed(spark, "pl: full pipeline", lambda:
                               corpus_pipeline(docs, bench=bench_docs,
                                               cfg=cfg).count())
        if EXPLAIN:
            dump_plan(corpus_pipeline(docs, bench=bench_docs, cfg=cfg),
                      "corpus_pipeline", "now")

    if want("sketches"):
        from fastbloom_spark.operators.sketch_agg import sketch_build
        from fastbloom_spark.sketch import (CountMinSketch, HllSketch,
                                            TDigestSketch)
        from fastbloom_spark.sources import synth_code_table

        code = synth_code_table(spark, int(os.environ.get(
            "BENCH_ROWS", "4000000")), num_repos=200, seed=SEED,
            num_partitions=CPUS * 2).persist()
        code.count()
        events = read("events")
        lineitem = read("lineitem")
        out["sk_hll"] = timed(spark, "sk: hll(path)", lambda: sketch_build(
            code, "path", HllSketch(precision=12, seed=SEED)))
        out["sk_cms"] = timed(spark, "sk: cms(event_type)",
                              lambda: sketch_build(
                                  events, "event_type",
                                  CountMinSketch(depth=5, log2_width=14,
                                                 seed=SEED)))
        out["sk_tdigest"] = timed(spark, "sk: tdigest(price)",
                                  lambda: sketch_build(
                                      lineitem, "l_extendedprice",
                                      TDigestSketch(delta=200)))
        code.unpersist()

    if want("semijoin"):
        from fastbloom_spark.operators import bloom_semi_join

        orders = read("orders").filter(F.col("o_totalprice") > 150000)
        lineitem = read("lineitem")
        n_orders = orders.count()
        out["sj_full"] = timed(spark, "sj: bloom_semi_join",
                               lambda: bloom_semi_join(
                                   lineitem, orders, "l_orderkey",
                                   "o_orderkey", fp=0.01, seed=SEED,
                                   expected_items=n_orders).count())
        if EXPLAIN:
            dump_plan(bloom_semi_join(lineitem, orders, "l_orderkey",
                                      "o_orderkey", fp=0.01, seed=SEED,
                                      expected_items=n_orders),
                      "bloom_semijoin", "now")

    print(json.dumps({"sf": SF_DIR, "cpus": CPUS, "stages": out}))
    spark.stop()


if __name__ == "__main__":
    main()
