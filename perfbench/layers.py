"""Per-layer measurements of a traced run, named after the library modules.

:func:`probe` times calls into each module's public functions on the
workload's own inputs (kernel arrays sized by the workload's filter and
its build partials, the workload's keys, code table and lineitem, its
index), each call inside a span.
:func:`per_layer` folds those results, the spans and the parsed Spark
event log into the flat per-layer metric set that ``BENCHMARK.json``
lists.
"""

from __future__ import annotations

import functools
import os
import time

import numpy as np
import pyspark.sql.functions as F

from . import inputs
from .stats import median, self_times
from .tracing import SPARK_KEYS, UDF_KEYS, reconcile, subtree_ids, sum_groups

#: kernel arrays: one Arrow batch, the size the library's UDFs receive
BATCH = 65536
#: timed repetitions per direct measurement (median reported)
REPS = 5


def _timed(fn, reps: int = REPS) -> tuple[float, object]:
    """Median seconds of ``reps`` calls, and the last call's result."""
    ts, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        ts.append(time.perf_counter() - t0)
    return median(ts), out


def _traced(tracer, name: str, fn) -> tuple[float, object]:
    """One timed call of ``fn`` inside a layer span: (seconds, result)."""
    with tracer.span(name, kind="layer"):
        return _timed(fn, reps=1)


def kernel_layer(cfg, partial_rows: int, seed: int) -> dict:
    """Direct numpy calls on batch-sized arrays with the workload's m, k:
    rows/s of source hashing, insert and contains, and MB/s (of raw
    words) of encoding / decoding one build partial."""
    from fastbloom_spark.kernel import (U64, contains_hashes, decode_words,
                                        encode_words, insert_hashes,
                                        source_hash)

    rng = np.random.default_rng(seed)
    digs = rng.integers(0, 1 << 63, BATCH, dtype=np.int64).view(U64)
    k, layout = cfg.num_hashes, cfg.layout
    words = np.zeros(cfg.num_words, dtype=U64)
    t_hash, hashes = _timed(lambda: source_hash(digs, cfg.seed))
    t_ins, _ = _timed(lambda: insert_hashes(words, hashes, k, layout))
    t_has, _ = _timed(lambda: contains_hashes(words, hashes, k, layout))
    # one build partial: a task's share of the workload's rows
    fill = rng.integers(0, 1 << 63, partial_rows, dtype=np.int64).view(U64)
    for i in range(0, partial_rows, BATCH):
        insert_hashes(words, source_hash(fill[i:i + BATCH], cfg.seed), k,
                      layout)
    t_enc, buf = _timed(lambda: encode_words(words))
    t_dec, _ = _timed(lambda: decode_words(buf))
    mb = words.nbytes / 1e6
    return {"kernel.source_hash_rows_per_s": BATCH / t_hash,
            "kernel.insert_rows_per_s": BATCH / t_ins,
            "kernel.contains_rows_per_s": BATCH / t_has,
            "kernel.encode_words_mb_per_s": mb / t_enc,
            "kernel.decode_words_mb_per_s": mb / t_dec}


def probe(wl, tracer) -> dict:
    """Time each module's public calls on the workload's inputs, one span
    per call."""
    from fastbloom_spark import BloomFilter
    from fastbloom_spark.functions import digest64
    from fastbloom_spark.kernel import (U64, decode_state, decode_words,
                                        union_words)
    from fastbloom_spark.operators import (bloom_contains_col, bloom_merge,
                                           bloom_partials)
    from fastbloom_spark.operators.sketch_agg import (sketch_merge,
                                                      sketch_partials)
    from fastbloom_spark.plans import plan_bloom_build
    from fastbloom_spark.sketch import (CountMinSketch, HllSketch,
                                        TDigestSketch)
    from fastbloom_spark.sources import IndexHandle, write_indexed_table
    from fastbloom_spark.sql import publish_bloom_sql, unpublish_bloom_sql

    sp, seed, cfg, code = wl.spark, wl.seed, wl.cfg, wl.code
    n = wl.code_rows
    out: dict = {}
    report: dict = {}
    timed = functools.partial(_traced, tracer)

    # plans.planner: the plan bloom_build makes for the global build (a cfg
    # and no expected_items), and the digest input reshaped as it reshapes
    digs = wl.keys.select(digest64("content").alias("d"))
    parts_in = digs.rdd.getNumPartitions()
    plan = plan_bloom_build(cfg, input_partitions=parts_in,
                            default_parallelism=sp.sparkContext
                            .defaultParallelism)
    out["planner.build_partitions"] = plan.build_partitions
    out["planner.partial_state_bytes"] = plan.partial_state_bytes
    report["plan"] = {"input_partitions": parts_in,
                      "merge_strategy": plan.merge_strategy,
                      "scan_strategy": plan.scan_strategy}
    if plan.build_partitions < parts_in:
        digs = (digs.repartition(plan.build_partitions)
                if plan.scan_strategy == "shuffle"
                else digs.coalesce(plan.build_partitions))

    with tracer.span("kernel", kind="layer"):
        out.update(kernel_layer(cfg, wl.key_rows // plan.build_partitions,
                                seed))

    for kind in ("sha256", "xxh64"):
        t, _ = timed(f"digest.{kind}", lambda: code.select(
            digest64("content", kind).alias("d")).agg(F.count("d")).collect())
        out[f"digest.{kind}_rows_per_s"] = n / t

    # operators.bloom: partials, driver OR-merge, grouped merge, probe
    out["bloom.partials_s"], pdf = timed("bloom.partials", lambda: (
        bloom_partials(digs, "d", cfg).select("sketch").toPandas()))
    payloads = [bytes(b) for b in pdf["sketch"]]
    out["bloom.partials_bytes"] = sum(map(len, payloads))
    # which branch of the partial codec the build takes (R raw, Z zlib)
    report["partials_codec"] = "".join(sorted(b[:1].decode()
                                              for b in payloads))

    def driver_merge():
        acc = np.zeros(cfg.num_words, dtype=U64)
        for b in payloads:
            acc = union_words(acc, decode_words(b, copy=False))
        return acc
    out["bloom.driver_merge_s"], acc = timed("bloom.driver_merge",
                                             driver_merge)
    bloom = BloomFilter(cfg, acc)
    report["filter_density"] = float(
        np.unpackbits(acc.view(np.uint8)).mean())
    grouped = bloom_partials(code.select("repo", digest64("content").alias(
        "d")), "d", wl.agg_cfg, ["repo"]).persist()
    try:
        grouped.count()
        out["bloom.agg_merge_s"], _ = timed(
            "bloom.agg_merge", lambda: bloom_merge(grouped, ["repo"]).count())
    finally:
        grouped.unpersist()
    members = inputs.members(wl.keys, seed, wl.member_share).select(
        digest64("content").alias("d")).persist()
    try:
        n_members = members.count()
        out["bloom.probe_s"], hits = timed(
            "bloom.probe", lambda: members.filter(
                bloom_contains_col(sp, bloom, "d")).count())

        # sql: publish, then the pure-SQL probe of the same digests
        members.createOrReplaceTempView("perfbench_layer_probes")
        out["sql.publish_s"], _ = timed(
            "sql.publish", lambda: publish_bloom_sql(sp, "perfbench_layer",
                                                     bloom))
        try:
            out["sql.probe_s"], sql_hits = timed("sql.probe", lambda: sp.sql(
                "SELECT count(*) AS c FROM perfbench_layer_probes WHERE "
                "bloom_probe_bc('perfbench_layer', d)").first().c)
        finally:
            unpublish_bloom_sql(sp, "perfbench_layer")
    finally:
        members.unpersist()
    # every probed digest is a member: zero false negatives on both paths
    report["layer_checks"] = {
        "probe_hits_equal_members": hits == n_members == sql_hits}

    # operators.sketch_agg: partials, merge, state bytes per family
    for name, impl, df, col in (
            ("hll", HllSketch(precision=12, seed=seed), code, "path"),
            ("cms", CountMinSketch(depth=5, log2_width=14, seed=seed),
             code, "lang"),
            ("tdigest", TDigestSketch(delta=200), wl.line,
             "l_extendedprice")):
        parts = sketch_partials(df, col, impl).persist()
        try:
            out[f"sketch_agg.partials_s.{name}"], spdf = timed(
                f"sketch_agg.partials.{name}",
                lambda: parts.select("sketch").toPandas())
            states = [bytes(b) for b in spdf["sketch"]]
            out[f"sketch_agg.state_bytes.{name}"] = sum(map(len, states))
            if getattr(impl, "order_invariant", False):
                # what sketch_build does: fold the partials on the driver
                merge = lambda: functools.reduce(impl.merge, (
                    impl.deserialize(decode_state(b)) for b in states))
            else:
                merge = lambda: sketch_merge(parts, impl).collect()
            out[f"sketch_agg.merge_s.{name}"], _ = timed(
                f"sketch_agg.merge.{name}", merge)
        finally:
            parts.unpersist()

    # sources.index: write, handle load, driver prune, pruned read
    path = os.path.join(wl.work, "layer_index")
    out["index.write_s"], _ = timed("index.write", lambda: (
        write_indexed_table(code, path, index_col="path", cfg=wl.bucket_cfg,
                            bucket_source="path",
                            num_buckets=wl.index_buckets)))
    out["index.handle_load_s"], handle = timed(
        "index.handle_load", lambda: IndexHandle(sp, path))
    prune_t, read_t = [], []
    total = survived = 0
    for key in wl.lookup_keys()[:5]:
        t, stats = timed("index.prune", lambda: handle.prune([key]))
        prune_t.append(t)
        df, _ = handle.pruned_read([key])
        read_t.append(timed("index.read", df.collect)[0])
        total += stats.units_total
        survived += stats.units_survived
    out.update({"index.prune_s": median(prune_t),
                "index.read_s": median(read_t),
                "index.units_total": total,
                "index.units_survived": survived})

    out.update(dedup_layer(wl, tracer))
    return {"metrics": out, "report": report}


#: dedup layer corpus: base documents, token-tagged replicas, the id
#: stride between replicas, the verify's Jaccard threshold and the
#: decontamination n-gram length
DEDUP_DOCS = 300
DEDUP_REPLICAS = 2
DEDUP_STRIDE = 10_000_000
DEDUP_JACCARD = 0.5
DEDUP_NGRAM = 5


def dedup_layer(wl, tracer) -> dict:
    """operators.dedup / operators.decontam on a small seeded corpus:
    candidate generation and verify times, and the pair and gram counts
    (verified / candidates is the useful share of LSH's work)."""
    from fastbloom_spark.operators.decontam import (benchmark_grams,
                                                    contamination_report)
    from fastbloom_spark.operators.dedup import (minhash_candidate_pairs,
                                                 ngram_jaccard_pairs,
                                                 simhash_near_dup_pairs)

    base = inputs.base_documents(DEDUP_DOCS, wl.seed)
    docs = inputs.replicate_documents(
        wl.spark, base, DEDUP_REPLICAS, DEDUP_STRIDE).repartition(4).persist()
    out: dict = {}
    try:
        docs.count()
        bench = docs.filter(F.col("doc_id") % 37 == 0)
        cand = minhash_candidate_pairs(docs, "doc_id", "text", num_perm=128,
                                       bands=32, seed=wl.seed).persist()
        try:
            out["dedup.candidates_s"], out["dedup.candidate_pairs"] = \
                _traced(tracer, "dedup.candidates", cand.count)
            out["dedup.verify_s"], out["dedup.verified_pairs"] = _traced(
                tracer, "dedup.verify", lambda: ngram_jaccard_pairs(
                    cand, docs, "doc_id", "text",
                    threshold=DEDUP_JACCARD).count())
        finally:
            cand.unpersist()
        _, out["dedup.simhash_pairs"] = _traced(
            tracer, "dedup.simhash",
            lambda: simhash_near_dup_pairs(docs, "doc_id", "text").count())
        _, out["decontam.bench_grams"] = _traced(
            tracer, "decontam.grams",
            lambda: benchmark_grams(bench, ngram_n=DEDUP_NGRAM).count())
        _, out["decontam.flagged_docs"] = _traced(
            tracer, "decontam.report", lambda: contamination_report(
                docs, bench, ngram_n=DEDUP_NGRAM, fp=1e-3).count())
    finally:
        docs.unpersist()
    return out


def _unit(name: str) -> str:
    """Unit of a per-layer metric, from its name's suffix."""
    if name.endswith("_mb_per_s"):
        return "MB/s"
    if name.endswith("_per_s"):
        return "rows/s"
    if name.endswith("_s") or "_s." in name:
        return "s"
    return "bytes" if "bytes" in name else "count"


def per_layer(spans: list[dict], log: dict, probes: dict, *,
              n_passes: int, tolerance: float, plain: dict,
              traced: dict) -> tuple[dict, dict]:
    """Flat per-layer metrics ``{name: (value, unit)}`` and a report with
    the per-operation reconciliation. ``plain`` and ``traced`` are the
    :func:`run.throughput` figures of the untraced and the traced pass."""
    passes = [s for s in spans if s.get("kind") == "pass"]
    ops = [s for s in spans if s.get("kind") == "op"]
    in_passes: set[str] = set()
    for p in passes:
        in_passes |= subtree_ids(spans, p["span_id"])
    per_pass = sum_groups(log, in_passes)
    everything = sum_groups(log, {s["span_id"] for s in spans} | {""})
    recs = [reconcile(op, spans, log, tolerance) for op in ops]

    # counters are per traced pass; peak memory is a maximum, and worker
    # boot is charged to the whole session (workers start in set-up)
    values = dict(probes["metrics"])
    for k in SPARK_KEYS + UDF_KEYS:
        group = "udf" if k in UDF_KEYS else "spark"
        if k == "python_boot_s":
            values[f"{group}.{k}"] = everything[k]
        elif k == "peak_exec_mem_bytes":
            values[f"{group}.{k}"] = per_pass[k]
        else:
            values[f"{group}.{k}"] = per_pass[k] / n_passes
    metrics = {k: (v, _unit(k)) for k, v in values.items()}
    metrics.update({
        "pass.wall_s": (plain["pass_wall_s"], "s"),
        "pass.cpu_s": (plain["pass_cpu_s"], "s"),
        "pass.rows_per_cpu_s": (plain["rows_per_cpu_s"], "rows/s"),
        "trace.overhead_s": (traced["pass_wall_s"] - plain["pass_wall_s"],
                             "s"),
        "trace.overhead_cpu_s": (traced["pass_cpu_s"] - plain["pass_cpu_s"],
                                 "s"),
        "trace.ops": (len(recs), "count"),
        "trace.reconciled_ops": (sum(r["reconciled"] for r in recs),
                                 "count"),
        "trace.residual_driver_s": (
            sum(r["driver_s"] for r in recs) / n_passes, "s"),
        "trace.residual_scheduler_s": (
            sum(r["scheduler_s"] for r in recs) / n_passes, "s"),
    })
    selfs = self_times(spans)
    report = {"reconcile": recs, "layers": probes["report"],
              "per_span": {s["span_id"]: {
                  "name": s["name"], "wall_s": s["end"] - s["start"],
                  "self_s": selfs[s["span_id"]],
                  **sum_groups(log, {s["span_id"]})} for s in spans}}
    return metrics, report
